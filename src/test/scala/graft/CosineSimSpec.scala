package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.plans.GraftExtensions

class CosineSimSpec extends SparkSuite {

  test("native expression is bit-identical to the HOF composition") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    val pairs = a.join(b, col("a_id") < col("b_id")).limit(5000)
    val diff = pairs.select(
        Similarity.cosine(col("va"), col("vb")).as("native"),
        Oracles.cosineHof(col("va"), col("vb")).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diff == 0, s"$diff pairs differ between native and HOF cosine")
  }

  test("expression participates in whole-stage codegen") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val plan = emb.select(
        Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen span
    assert(plan.contains("*(1) Project [cosinesim"),
      s"cosinesim not inside a codegen span:\n$plan")
  }

  test("null array elements null the result (HOF parity)") {
    import spark.implicits._
    val df = Seq((Seq[Option[Double]](Some(1.0), None),
      Seq[Option[Double]](Some(1.0), Some(2.0)))).toDF("a", "b")
    val native = df.select(Similarity.cosine(col("a"), col("b"))).head
    val hof = df.select(Oracles.cosineHof(col("a"), col("b"))).head
    assert(native.isNullAt(0) && hof.isNullAt(0))
  }

  test("unequal array lengths return NULL (HOF parity)") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val native = df.select(Similarity.cosine(col("a"), col("b"))).head
    val hof = df.select(Oracles.cosineHof(col("a"), col("b"))).head
    assert(hof.isNullAt(0), "zip_with pads with nulls, so HOF must be NULL")
    assert(native.isNullAt(0), "native must match: NULL on length mismatch")
  }

  test("native dot product is bit-identical to the HOF composition") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    val pairs = a.join(b, col("a_id") < col("b_id")).limit(2000)
    val asD = (c: org.apache.spark.sql.Column) =>
      transform(c, _.cast("double"))
    val diff = pairs.select(
        Similarity.dotNative(col("va"), col("vb")).as("native"),
        Oracles.dot(asD(col("va")), asD(col("vb"))).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diff == 0, s"$diff pairs differ between native and HOF dot")
  }

  test("native self dot norm is bit-identical to the HOF norm") {
    // the banded tables' and MIPS's `__n`: sqrt of the native self
    // dot over the raw float vector vs the aggregate over its doubles
    import spark.implicits._
    val emb = Tables.load(spark, sfDir, "embeddings").select(col("embedding"))
    val odd = Seq(Seq(Option(1.0f), None), Seq.empty[Option[Float]])
      .toDF("embedding")
    val diff = emb.union(odd).union(Seq(None: Option[Seq[Float]])
        .toDF("embedding")).select(
        sqrt(Similarity.dotNative(col("embedding"), col("embedding")))
          .as("native"),
        Oracles.l2norm(transform(col("embedding"), _.cast("double")))
          .as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .count()
    assert(diff == 0, s"$diff norms differ between native and HOF")
  }

  test("cosine_sim is SQL-callable once registered") {
    GraftExtensions.register(spark)
    val v = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .head.getDouble(0)
    assert(math.abs(v - 1.0) < 1e-12)
  }
}
