package graft

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.streaming.{Fold, Streams}

/** The failure paths of the [[graft.streaming.Fold]] harness every
  * streaming query runs through. */
class FoldSpec extends SparkSuite with SuiteTempDirs {

  protected val rootName = "graft_fold_spec"

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  test("a trigger that throws reaches the caller and leaves no active query") {
    import spark.implicits._
    val src = tmpDir("graft_fold_src")
    Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(src)
    val before = spark.streams.active.map(_.id).toSet
    val err = intercept[Exception] {
      Fold.run(spark.readStream.schema(docSchema).parquet(src),
          tmpDir("graft_fold_throw"), "spec") { (_, _) =>
        throw new IllegalStateException("trigger failed on purpose")
      }
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.exists(c => Option(c.getMessage)
        .exists(_.contains("trigger failed on purpose"))),
      s"trigger failure not passed on: $err")
    val left = spark.streams.active.filterNot(q => before(q.id))
    assert(left.isEmpty, s"queries left active: ${left.map(_.name).toSeq}")
  }

  test("a model fold over an empty source raises the no-state error") {
    val empty = spark.readStream.schema(docSchema)
      .parquet(tmpDir("graft_fold_empty_src"))
    val err = intercept[RuntimeException] {
      Streams.incrementalLmModel(empty, tmpDir("graft_fold_empty"))
    }
    assert(err.getMessage.startsWith("no state at"), err.getMessage)
  }
}
