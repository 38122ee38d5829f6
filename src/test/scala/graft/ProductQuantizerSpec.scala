package graft

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayTransform, ZipWith}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.plans.{PqAdcTable, PqCodebook, PqEncode}

import scala.util.Random

/** The native product-quantization kernel against the
  * higher-order-function composition it replaced (`Oracles`), bit for
  * bit, and the IVF-PQ / PQ plans free of that composition. */
class ProductQuantizerSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def encodeCol(vec: Column, cell: Column, pq: PqCodebook): Column =
    GraftBridge.column(PqEncode(GraftBridge.expression(vec),
      GraftBridge.expression(cell), pq))

  private def tableCol(vec: Column, cell: Column, pq: PqCodebook): Column =
    GraftBridge.column(PqAdcTable(GraftBridge.expression(vec),
      GraftBridge.expression(cell), pq))

  /** Quarter multiples: exact in float, so residuals and ties are too. */
  private def q(rnd: Random): Double = (rnd.nextInt(17) - 8) * 0.25

  /** `numSub` sub-codebooks of `k` entries; entry 2 duplicates entry 1
    * in every subspace (a tie the first index must win). */
  private def books(rnd: Random, numSub: Int, k: Int,
      subDim: Int): Array[Array[Array[Double]]] =
    Array.fill(numSub) {
      val b = Array.fill(k)(Array.fill(subDim)(q(rnd)))
      b(2) = b(1).clone()
      b
    }

  private def code(r: Row, i: Int): Option[Int] =
    if (r.isNullAt(i)) None else Some(r.getInt(i))

  /** (id, cell, vector) rows: normal ones plus every degenerate shape
    * the kernel documents, and a tie row sitting on the duplicated
    * entry of cell 0's first book set. */
  private def fixture(dim: Int, subDim: Int, cents: Seq[Array[Double]],
      tieBook: Array[Array[Array[Double]]], residual: Boolean,
      asFloat: Boolean): DataFrame = {
    val session = spark
    import session.implicits._
    val rnd = new Random(dim * 31 + subDim)
    def vec(n: Int): Option[Seq[Option[Double]]] =
      Some(Seq.fill(n)(Some(if (rnd.nextBoolean()) q(rnd)
        else (rnd.nextFloat() * 4 - 2).toDouble)))
    val normal = (0 until 24).map(i => (i.toLong, i % cents.length, vec(dim)))
    val tie = (0 until dim).map { i =>
      val c = if (residual) cents.head(i) else 0.0
      Some(tieBook(i / subDim)(1)(i % subDim) + c)
    }
    val withNullElem = vec(dim).map(_.updated(subDim + 1, None))
    val withNaN = vec(dim).map(_.updated(0, Some(Double.NaN)))
    val degenerate = Seq(
      (100L, 0, Option.empty[Seq[Option[Double]]]),
      (101L, 1, withNullElem),
      (102L, 0, vec(dim - 1)),
      (103L, 1, vec(dim + 1)),
      (104L, 0, vec(dim + subDim)),
      (105L, 1, vec(2)),
      (106L, 0, withNaN),
      (107L, 0, Some(tie)),
      (108L, 1, Some(Seq.empty[Option[Double]])))
    val df = (normal ++ degenerate).toDF("id", "cell", "v")
      .withColumn("centroid",
        element_at(typedLit(cents.map(_.toSeq)), col("cell") + 1))
      .repartition(3)
    if (asFloat) df.withColumn("v", col("v").cast("array<float>")) else df
  }

  private def assertParity(dim: Int, numSub: Int, k: Int): Unit = {
    val subDim = dim / numSub
    val rnd = new Random(dim * 7 + k)
    val sets = Seq(books(rnd, numSub, k, subDim), books(rnd, numSub, k, subDim))
    // cell 1's centroid is one position longer than dim: a cell mean
    // spans every populated position, and zip_with pads the residual
    val cents = Seq(Array.fill(dim)(q(rnd)), Array.fill(dim + 1)(q(rnd)))
    for (asFloat <- Seq(false, true); residual <- Seq(false, true);
         perCell <- Seq(false, true)) {
      val pq = PqCodebook(if (perCell) sets else sets.take(1), perCell,
        if (residual) cents else null)
      val df = fixture(dim, subDim, cents, sets.head, residual, asFloat)
      val got = df.select(col("id"), encodeCol(col("v"), col("cell"), pq).as("e"),
          tableCol(col("v"), col("cell"), pq).as("t"))
        .collect().map { r =>
          val e = r.getStruct(1)
          val codes = e.getSeq[Any](0).map(c => Option(c).map(_.asInstanceOf[Int]))
          val qerr = java.lang.Double.doubleToLongBits(e.getDouble(1))
          val t = r.getSeq[Any](2).map(x => Option(x).map(d =>
            java.lang.Double.doubleToLongBits(d.asInstanceOf[Double])))
          r.getLong(0) -> ((codes, qerr), t)
        }.toMap
      // the oracle takes one book set: run it per cell and union
      val oracle = (if (perCell) sets.indices else Seq(0)).flatMap { set =>
        val part = if (perCell) df.filter(col("cell") === set) else df
        val enc = Oracles.pqEncodeHof(part.select("id", "v", "centroid"), "v",
          if (residual) Some("centroid") else None, sets(set))
        val tab = Oracles.pqAdcTablesHof(part.select("id", "v"), "v", sets(set))
        val codes = enc.collect().map { r =>
          r.getLong(0) -> ((1 to numSub).map(i => code(r, 2 + i)),
            java.lang.Double.doubleToLongBits(r.getDouble(3 + numSub)))
        }.toMap
        tab.collect().map { r =>
          val t = (0 until numSub).flatMap(s =>
            r.getSeq[Any](2 + s).map(x => Option(x).map(d =>
              java.lang.Double.doubleToLongBits(d.asInstanceOf[Double]))))
          r.getLong(0) -> (codes(r.getLong(0)), t)
        }
      }.toMap
      val what = s"dim=$dim numSub=$numSub k=$k float=$asFloat " +
        s"residual=$residual perCell=$perCell"
      assert(got.keySet == oracle.keySet, what)
      for (id <- got.keys.toSeq.sorted)
        assert(got(id) == oracle(id), s"$what id=$id")
      // the fixture really exercises the documented cases
      assert(got(107L)._1._1.forall(_.contains(1)), s"$what: tie → first index")
      assert(got(100L)._1._1.forall(_.isEmpty), s"$what: NULL vector → NULL codes")
      assert(got(106L)._1._1.head.contains(0), s"$what: NaN → code 0")
      assert(got(101L)._1._1.count(_.isEmpty) == 1, s"$what: NULL element")
    }
  }

  test("PQ kernel: codes, __qerr and ADC tables bit-equal the HOF " +
      "composition (float/double, residual or not, degenerate rows)") {
    assertParity(dim = 8, numSub = 2, k = 4)
    assertParity(dim = 12, numSub = 3, k = 5)
  }

  /** Every node of an executed plan, through AQE stages, subqueries
    * and cached relations. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) { case n => n }.flatMap {
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }

  /** The executed plan of `df` holds no HOF vector math and no
    * `__books` column. */
  private def assertNoHofMath(name: String, df: DataFrame): Unit = {
    assert(df.collect().nonEmpty, name)
    val all = nodes(df.queryExecution.executedPlan)
    val hof = all.flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: ArrayTransform | _: ZipWith | _: ArrayAggregate) => e.prettyName
    }))
    assert(hof.isEmpty, s"$name still plans ${hof.distinct}")
    assert(!all.exists(_.output.exists(_.name == "__books")),
      s"$name still carries a __books column")
  }

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
  private lazy val queries = emb.filter(col("vec_id") < 10)

  test("ivfPqKnn and pqKnn plans hold no HOF vector math and no __books column") {
    assertNoHofMath("ivfPqKnn", Similarity.ivfPqKnn(emb, queries, "vec_id",
      "embedding", 5, sampleN = 512, trainIters = 2, coarseIters = 2))
    assertNoHofMath("pqKnn", Similarity.pqKnn(emb, queries, "vec_id",
      "embedding", 5, sampleN = 512, trainIters = 2))
  }

  test("ivfPqAnnFromLayout plan holds no HOF vector math and no __books column") {
    val table = "graft_pq_hof_spec"
    Similarity.writeIvfPqLayout(emb, "vec_id", "embedding", table,
      numCells = 10, numBuckets = 8, codebookK = 16, sampleN = 512,
      trainIters = 2, coarseIters = 2)
    try assertNoHofMath("ivfPqAnnFromLayout", Similarity.ivfPqAnnFromLayout(
      spark, table, queries, "vec_id", "embedding", 5, nprobe = 6))
    finally Seq("", "_centroids", "_books").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $table$t"))
  }
}
