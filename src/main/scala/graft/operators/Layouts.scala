package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-once / probe-many layout publishing — the ONE door every
  * persisted physical layout goes through (banded LSH, span index,
  * IVF cells, FTS inverted index). The write itself is the shared
  * bucket+sort+saveAsTable shape those layouts all use; the helper
  * additionally records a lineage manifest row per publish, so "what
  * layouts exist, over how many rows, bucketed how" is answerable
  * from a table instead of tribal knowledge — the publish-side
  * bookkeeping the reference keeps in its manifest files
  * (pipelines/normalize.py:407-426), applied to index layouts.
  *
  * At 100 TB the layout write is the expensive, paid-once step (the
  * full explode/assign + one bucketed shuffle); every later probe is
  * a bucket-pruned scan or an exchange-free join. The manifest keeps
  * that contract auditable: a probe can check the layout it is about
  * to trust was published with the bucketing it assumes.
  *
  * SESSION REQUIREMENT — `spark.sql.sources.bucketing.autoBucketedScan
  * .enabled=false` (set at builder time by every engine entry point:
  * Verify/Bench/Cli/Explain and the test suite). Spark's
  * DisableUnnecessaryBucketedScan rule only credits bucketing it can
  * use for exchange elimination; a point probe (`token = 'X'`,
  * `cell IN (...)`) would be silently un-bucketed and lose bucket
  * pruning — the exact read these layouts exist to serve. Every
  * consumer of a published layout in this engine wants the bucketed
  * scan, so the engine disables the rule session-wide instead of
  * having probes mutate shared session conf mid-query (which would
  * leak planner state into unrelated queries). */
object Layouts {

  /** Single shared manifest table; one row per published layout
    * (latest publish wins). */
  val ManifestTable = "graft_layout_manifest"

  /** Publish `df` as a bucketed+sorted table and upsert its manifest
    * row. `sortCols` defaults to `bucketCols` (every current layout
    * sorts by its bucket key). `props` carries layout-specific
    * lineage (e.g. IVF numCells/seed, span window w). `propsOf` runs
    * against the WRITTEN table and its result is merged into the
    * manifest props — the hook for write-derived lineage (e.g. the
    * IVF-PQ quantization-error baseline) that would otherwise need a
    * second manifest rewrite, which is a full collect+overwrite of
    * the manifest table per call. */
  def publish(
      df: DataFrame,
      table: String,
      kind: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Nil,
      props: Map[String, String] = Map.empty,
      propsOf: DataFrame => Map[String, String] = _ => Map.empty): Unit = {
    require(bucketCols.nonEmpty, "a layout needs at least one bucket column")
    val spark = df.sparkSession
    ensureWritable(spark, table)
    val sorts = if (sortCols.nonEmpty) sortCols else bucketCols
    df.write.bucketBy(numBuckets, bucketCols.head, bucketCols.drop(1): _*)
      .sortBy(sorts.head, sorts.drop(1): _*)
      .mode("overwrite").saveAsTable(table)
    val written = spark.table(table)
    // manifest n_rows from the written files' parquet footers — a
    // driver-side metadata read (the count is exact either way), not
    // a per-publish Spark job; layouts publish often enough (spans,
    // bands, IVF cells, FTS) that the count job was a measurable
    // fixed cost on every one of them
    val nRows = ExactDistinct.parquetRowCount(
      spark, tableLocation(spark, table))
    recordManifest(spark, table, kind, bucketCols, numBuckets,
      nRows, props ++ propsOf(written))
  }

  /** Filesystem location of a managed table (the warehouse dir path
    * saveAsTable wrote). */
  private def tableLocation(spark: SparkSession, table: String): String = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sessionState.catalog.getTableMetadata(ident).location.toString
  }

  /** Upsert the manifest row for `table`. Public so layouts with a
    * bespoke write step (e.g. IVF's sibling centroids table) can
    * still manifest through the same door. */
  def recordManifest(
      spark: SparkSession,
      table: String,
      kind: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      nRows: Long,
      props: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    val propStr = props.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString(";")
    val row = Seq((table, kind, bucketCols.mkString(","), numBuckets,
      nRows, propStr))
      .toDF("layout", "kind", "bucket_cols", "num_buckets", "n_rows", "props")
      .withColumn("published_at", current_timestamp())
    // the manifest is O(#layouts) — driver-bounded by construction, so
    // collect-merge-rewrite is the honest implementation (an append-only
    // log would need compaction; a merge join is overkill for tens of rows)
    ensureWritable(spark, ManifestTable)
    val merged =
      if (spark.catalog.tableExists(ManifestTable)) {
        val prior = spark.table(ManifestTable)
          .filter(col("layout") =!= table).collect()
        val schema = spark.table(ManifestTable).schema
        spark.createDataFrame(
          spark.sparkContext.parallelize(prior.toSeq, 1), schema)
          .unionByName(row)
      } else row
    merged.coalesce(1).write.mode("overwrite").saveAsTable(ManifestTable)
  }

  /** Make `table` safely writable by saveAsTable: a fresh session's
    * catalog won't know a table even when a prior session left its
    * warehouse directory behind, and saveAsTable then refuses with
    * LOCATION_ALREADY_EXISTS — clear the orphaned dir. A table the
    * CURRENT catalog knows is left alone (mode("overwrite") handles
    * it). Layout writers with bespoke sibling tables (IVF centroids,
    * PQ books) go through this too. */
  def ensureWritable(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val warehouse = spark.conf.get(
        "spark.sql.warehouse.dir").stripPrefix("file:")
      val stale = java.nio.file.Paths.get(warehouse, table)
      if (java.nio.file.Files.isDirectory(stale)) {
        val files = java.nio.file.Files.walk(stale)
        try files.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
        finally files.close()
      }
    }

  /** The manifest as a DataFrame (empty with the right schema when no
    * layout has been published yet). */
  def manifest(spark: SparkSession): DataFrame =
    if (spark.catalog.tableExists(ManifestTable)) spark.table(ManifestTable)
    else {
      import spark.implicits._
      Seq.empty[(String, String, String, Int, Long, String)]
        .toDF("layout", "kind", "bucket_cols", "num_buckets", "n_rows", "props")
        .withColumn("published_at",
          lit(null).cast(org.apache.spark.sql.types.TimestampType))
    }
}
