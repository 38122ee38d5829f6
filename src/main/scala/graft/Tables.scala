package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Source layer: parquet readers + temp-view registry.
  *
  * Mirrors the reference's published table set (hangarbay
  * pipelines/publish.py:36 loads each parquet as a named table) over the
  * driver's TPC-H-ish testdata. Reads are plain `spark.read.parquet` so
  * Catalyst keeps full pushdown/pruning freedom; no caching here — at
  * 100 TB the scan must stream, and hot dims get broadcast at join
  * sites instead.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized logical frames per (session, dir, name): a DataFrame
    * is only a plan (never data — caching data here would break the
    * 100 TB streaming posture), but `spark.read.parquet` pays a
    * footer-based schema inference on EVERY call, a ~50-150 ms tax
    * each of the 182 `queries` entries paid per invocation (r13).
    * The fixture tables are immutable for a session's lifetime, so
    * the resolved plan is reusable; mutable sources (LSM fold state,
    * registry dirs) do NOT go through this path. */
  private val loaded =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loaded.computeIfAbsent((spark, dir, name), { _ =>
      if (name == "events") loadEvents(spark, s"$dir/$name.parquet")
      else spark.read.parquet(s"$dir/$name.parquet")
    })

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Schema-adaptive events reader. Generated data has shipped `ts` both
    * as parquet TIMESTAMP(NANOS) (which Spark can only surface as raw
    * int64 via `nanosAsLong`) and as plain TIMESTAMP(MICROS); accept
    * either so a data regeneration can't invalidate every events query.
    *   - timestamp[us/ms] → use as-is (NTZ cast to session-UTC timestamp
    *     so DuckDB-oracle comparisons see the same instant).
    *   - TIMESTAMP(NANOS) → plain read fails schema conversion; retry
    *     with nanosAsLong, then truncate int64 nanos → micros. `div`
    *     keeps the arithmetic in 64-bit integers — a double roundtrip
    *     would lose precision at epoch-nanos magnitudes. The conf stays
    *     set on this path only: the lazy scan re-converts the file
    *     footer at execution, so restoring it would break the read.
    */
  private def loadEvents(spark: SparkSession, path: String): DataFrame = {
    val raw =
      try spark.read.parquet(path)
      catch {
        case e: Exception if e.getMessage != null &&
            (e.getMessage.contains("NANOS") || e.getMessage.contains("Illegal Parquet type")) =>
          spark.conf.set(NanosKey, "true")
          spark.read.parquet(path)
      }
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Register every table as a temp view (analog of the reference's
    * DuckDB catalog, hangarbay/api.py:379 list_tables). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** (path, length, modification time) of every file under `path`,
    * recursively (`path` itself when it is a file), sorted; None when
    * `path` does not exist. The one driver-side fingerprint of a
    * table's files — a Hadoop FileSystem listing, no Spark job, kept
    * verbatim (no lossy digest): a rewrite changes part-file names
    * and lengths and an append adds names, so any content change
    * moves it. */
  def fileListing(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[Seq[(String, Long, Long)]] =
    try {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(files.result().sorted)
    } catch { case _: java.io.FileNotFoundException => None }
}
