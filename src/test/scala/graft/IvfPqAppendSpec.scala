package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Layouts, Similarity}

/** The incremental IVF-PQ append path (p20_incremental_ann_layout):
  * frozen-quantizer encode makes incremental == batch under any
  * chunking, appends keep the bucketed probe plan, and the staleness
  * audit fires on distribution drift — the three contracts that make
  * a published ANN index maintainable at 100 TB without re-training
  * per batch. */
class IvfPqAppendSpec extends SparkSuite {

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
  private lazy val base = emb.filter(col("vec_id") % 5 =!= 0)
  private lazy val rest = emb.filter(col("vec_id") % 5 === 0)

  private def publish(table: String): Unit =
    Similarity.writeIvfPqLayout(base, "vec_id", "embedding", table,
      numCells = 16, numBuckets = 8, numSub = 8, codebookK = 32,
      sampleN = 1024, trainIters = 6, coarseIters = 3)

  private def drop(table: String): Unit =
    Seq(table, s"${table}_centroids", s"${table}_books")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  /** Full coded rows as a comparable set: (vec_id, cell, c0..c7). */
  private def codeSet(table: String): Set[Seq[Long]] =
    spark.table(table)
      .select((col("vec_id") +: col("cell").cast("long") +:
        (0 until 8).map(s => col(s"__c$s").cast("long"))).map(_.cast("long")): _*)
      .collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSet

  test("chunked appends equal the one-shot append exactly (frozen books)") {
    publish("graft_ivfpq_app_a")
    publish("graft_ivfpq_app_b")
    try {
      // a: three chunks in arbitrary order; b: one shot
      Seq(2, 0, 1).foreach { r =>
        val audit = Similarity.appendIvfPqLayout(
          rest.filter(col("vec_id") % 3 === r),
          "vec_id", "embedding", "graft_ivfpq_app_a")
        assert(audit.columns.toSeq == Seq("batch_vecs", "batch_codes",
          "total_codes", "err_ratio", "cell_skew", "retrain_recommended"))
      }
      Similarity.appendIvfPqLayout(
        rest, "vec_id", "embedding", "graft_ivfpq_app_b")
      val a = codeSet("graft_ivfpq_app_a")
      val b = codeSet("graft_ivfpq_app_b")
      assert(a == b,
        s"chunked vs one-shot code tables differ: ${(a diff b).take(3)} / ${(b diff a).take(3)}")
      // the appended table holds every corpus vector at least once
      val ids = spark.table("graft_ivfpq_app_a")
        .select("vec_id").distinct().count()
      assert(ids == emb.count(), s"missing vectors: $ids != ${emb.count()}")
      // additive manifest bookkeeping is exact — no re-count needed
      val m = Layouts.manifest(spark)
        .filter(col("layout") === "graft_ivfpq_app_a").head()
      assert(m.getAs[Long]("n_rows") ==
        spark.table("graft_ivfpq_app_a").count())
      assert(m.getAs[String]("props").contains("appended_rows="))
    } finally { drop("graft_ivfpq_app_a"); drop("graft_ivfpq_app_b") }
  }

  test("probe after appends: bucketed plan survives, appended vectors searchable") {
    publish("graft_ivfpq_app_p")
    try {
      Similarity.appendIvfPqLayout(
        rest, "vec_id", "embedding", "graft_ivfpq_app_p")
      val queries = rest.filter(col("vec_id") < 60) // appended rows only
      val df = Similarity.ivfPqAnnFromLayout(spark, "graft_ivfpq_app_p",
        queries, "vec_id", "embedding", 5, nprobe = 12)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"append must not break bucket pruning:\n$plan")
      val got = df.collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
      val nq = queries.count()
      assert(got.size == 5 * nq && !got.exists(p => p._1 == p._2))
      val brute = Oracles.knnBrute(emb, queries, "vec_id", "embedding", 5)
        .collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
      val recall = (got intersect brute).size.toDouble / brute.size
      info(s"post-append IVF-PQ layout recall@5 (nprobe=12/16) = $recall")
      assert(recall >= 0.5, s"post-append recall too low: $recall")
    } finally drop("graft_ivfpq_app_p")
  }

  test("staleness audit: in-distribution quiet, drifted batch fires retrain") {
    publish("graft_ivfpq_app_d")
    try {
      val quiet = Similarity.appendIvfPqLayout(
        rest, "vec_id", "embedding", "graft_ivfpq_app_d").head()
      assert(!quiet.getAs[Boolean]("retrain_recommended"),
        s"in-distribution batch must not fire retrain: $quiet")
      assert(quiet.getAs[Double]("err_ratio") < 1.5, quiet.toString)
      // drift: a constant offset moves every residual out of the
      // frozen books' span — the audit must notice without any
      // ground-truth labels
      val drifted = rest.select(col("vec_id") + 100000,
        transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
        .toDF("vec_id", "embedding")
      val loud = Similarity.appendIvfPqLayout(
        drifted, "vec_id", "embedding", "graft_ivfpq_app_d").head()
      assert(loud.getAs[Double]("err_ratio") > 1.5, loud.toString)
      assert(loud.getAs[Boolean]("retrain_recommended"), loud.toString)
    } finally drop("graft_ivfpq_app_d")
  }

  test("compaction shrinks file geometry, changes nothing else") {
    publish("graft_ivfpq_app_c")
    try {
      Seq(2, 0, 1).foreach { r =>
        Similarity.appendIvfPqLayout(
          rest.filter(col("vec_id") % 3 === r),
          "vec_id", "embedding", "graft_ivfpq_app_c")
      }
      val codesBefore = codeSet("graft_ivfpq_app_c")
      val queries = rest.filter(col("vec_id") < 60)
      def probe(): Set[(Long, Long)] =
        Similarity.ivfPqAnnFromLayout(spark, "graft_ivfpq_app_c",
          queries, "vec_id", "embedding", 5, nprobe = 12).collect()
          .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
      val probeBefore = probe()
      val manBefore = Layouts.manifest(spark)
        .filter(col("layout") === "graft_ivfpq_app_c").head()
      val (before, after) =
        Similarity.compactIvfPqLayout(spark, "graft_ivfpq_app_c")
      info(s"compaction: $before files -> $after")
      assert(after < before,
        s"compaction must reduce file generations: $before -> $after")
      assert(codeSet("graft_ivfpq_app_c") == codesBefore,
        "compaction must not change a single code")
      assert(probe() == probeBefore,
        "compaction must not change probe results")
      val manAfter = Layouts.manifest(spark)
        .filter(col("layout") === "graft_ivfpq_app_c").head()
      assert(manAfter.getAs[Long]("n_rows") ==
        manBefore.getAs[Long]("n_rows"))
      assert(manAfter.getAs[String]("props")
        .contains("mean_code_err="), "audit baseline must survive")
    } finally drop("graft_ivfpq_app_c")
  }

  test("p20 snapshot: per-cell profile covers the full corpus") {
    val df = SparkEntry.queries("p20_incremental_ann_layout")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("n_codes") > 0))
    val total = rows.map(_.getAs[Long]("n_codes")).sum
    assert(total >= emb.count(), // replication can only add codes
      s"profile covers $total codes < ${emb.count()} vectors")
    assert(rows.map(_.getAs[Long]("cell")).distinct.length == rows.length)
  }
}
