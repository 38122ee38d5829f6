package graft

import org.apache.spark.sql.functions._

/** True incremental streaming: the source is split into multiple
  * files and consumed one file per trigger, so the windowed state
  * genuinely carries across micro-batches (not a single-batch
  * replay). */
class IncrementalStreamSpec extends SparkSuite with SuiteTempDirs {
  protected val rootName = "graft_incremental_stream_spec"

  test("windowed counts accumulate correctly across micro-batches") {
    val dir = tmpDir("stream")
    val events = Tables.load(spark, sfDir, "events")
    // 4 files -> 4 micro-batches with maxFilesPerTrigger=1
    events.repartition(4).write.mode("overwrite").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val name = "graft_incr_test"
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    q.processAllAvailable()
    val batches = q.lastProgress.batchId
    q.stop()
    assert(batches >= 3, s"expected >=4 micro-batches, saw ${batches + 1}")

    val streamed = spark.table(name)
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val batch = events
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(streamed == batch,
      "incremental streaming result diverges from batch")
  }
}
