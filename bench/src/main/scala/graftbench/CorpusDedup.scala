package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size}

import graft.functions.{Normalize, TextFns}
import graft.operators.{Dedup, Similarity}

/** corpus_dedup: one batch pass over a seeded document + embedding
  * corpus, every step materialized in order. Sized between sf0.1 and
  * sf1.0 so operator work, not jobs × floor, dominates: the pass puts
  * graft's operator and plan kernels (MinHash signatures, hyperplane
  * buckets, the band-cell scorer, top-k pairs, IVF-PQ) on the critical
  * path, along with shuffle and spill. */
object CorpusDedup {
  val Docs: Int = 5000
  val Vecs: Int = 2000
  val Queries: Int = 16
  val K: Int = 10
  val VerifyJaccard: Double = 0.8
  val EmbThreshold: Double = 0.9
  // Committed floors: an answer below one counts as a wrong answer.
  val NearTwinRecallFloor: Double = 0.95
  val EmbRecallFloor: Double = 0.9
  val TwinRank1Floor: Double = 0.9
  val IvfRecallFloor: Double = 0.8

  final case class Inputs(docs: DataFrame, bench: DataFrame, vecs: DataFrame,
      queries: DataFrame)

  def write(spark: SparkSession, c: Gen.Corpus, dir: File, parts: Int): Inputs = {
    import spark.implicits._
    val sc = spark.sparkContext
    def path(n: String) = new File(dir, n).getAbsolutePath
    sc.parallelize(c.docs.toSeq.map(d => (d.id, d.text, d.source)), parts)
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(path("docs"))
    sc.parallelize(c.bench.toSeq.map(d => (d.id, d.text, d.source)), 1)
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(path("bench"))
    sc.parallelize(c.vecs.toSeq.map(v => (v.id, v.v)), parts)
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(path("vecs"))
    sc.parallelize(c.queries.toSeq.map(v => (v.id, v.v)), 1)
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(path("queries"))
    Inputs(spark.read.parquet(path("docs")), spark.read.parquet(path("bench")),
      spark.read.parquet(path("vecs")), spark.read.parquet(path("queries")))
  }

  final case class PassOut(
      clean: Seq[(Long, String, Int)], exact: Set[(Long, Long)], candidates: Long,
      jaccard: Seq[(Long, Long, Double)], contaminated: Set[Long],
      embPairs: Seq[(Long, Long, Double)], graph: Seq[(Long, Long, Long, Double)],
      ann: Seq[(Long, Long, Long)], stepS: Map[String, Double], wallS: Double)

  /** One pass; every step runs in its own probe window `<prefix>/step/<name>`. */
  def pass(ctx: Ctx, in: Inputs, prefix: String): PassOut = {
    val probe = ctx.probe
    val stepS = mutable.LinkedHashMap.empty[String, Double]
    def step[A](name: String, call: String)(build: => DataFrame)(run: DataFrame => A): A =
      probe.window(s"$prefix/step/$name") {
        probe.span(s"step:$name") {
          val t = System.nanoTime()
          val df = probe.span(call)(build)
          val a = probe.span(s"action:$name")(run(df))
          stepS(name) = (System.nanoTime() - t) / 1e9
          a
        }
      }
    val t0 = System.nanoTime()
    probe.span("pass:corpus_dedup") {
      val clean = step("clean", "functions.Normalize.cleanText")(
        in.docs.select(col("doc_id"),
          Normalize.cleanText(Normalize.nfc(col("text"))).as("clean"),
          size(TextFns.tokensLower(col("text"))).as("n_tokens"))
      )(_.collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getInt(2))))
      val exact = step("exact", "operators.Dedup.exactDedup")(
        Dedup.exactDedup(in.docs, col("doc_id"), col("text"))
      )(_.filter(col("n_copies") > 1).select("keep_id", "n_copies").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
      var pairs: DataFrame = null
      val candidates = step("minhash", "operators.Dedup.minHashCandidatePairs")(
        Dedup.minHashCandidatePairs(in.docs, col("doc_id"), col("text"))
      ) { df => pairs = df.cache(); pairs.count() }
      val jaccard = step("verify", "operators.Dedup.jaccardOnPairs")(
        Dedup.jaccardOnPairs(pairs, in.docs, col("doc_id"), col("text"))
      )(_.select("a_id", "b_id", "jaccard").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
      val contaminated = step("decontam", "operators.Dedup.decontaminate")(
        Dedup.decontaminate(in.docs, in.bench, col("doc_id"), col("text"), 8)
      )(_.filter(col("contaminated")).select("doc_id").collect().map(_.getLong(0)).toSet)
      val embPairs = step("emb_lsh", "operators.Dedup.embeddingNearDupPairsBucketed")(
        Dedup.embeddingNearDupPairsBucketed(in.vecs, col("vec_id"), col("embedding"),
          EmbThreshold)
      )(_.select("a_id", "b_id", "cos_sim").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
      val graph = step("knn_graph", "operators.Similarity.knnGraphBucketed")(
        Similarity.knnGraphBucketed(in.vecs, "vec_id", "embedding", 5)
      )(_.select("vec_id", "rank", "nbr_id", "sim").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
      // a 1024-vector training sample and fewer Lloyd iterations keep the
      // quantizer's training (size-independent above the sample) from
      // dominating a pass at this corpus size
      val ann = step("ivfpq", "operators.Similarity.ivfPqKnn")(
        Similarity.ivfPqKnn(in.vecs, in.queries, "vec_id", "embedding", K,
          sampleN = 1024, trainIters = 4, coarseIters = 2)
      )(_.select("q_id", "rank", "cand_id").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
      // the operators cache lazily and leave it to long-lived callers
      // to release between corpora
      pairs.unpersist()
      ctx.spark.catalog.clearCache()
      PassOut(clean, exact, candidates, jaccard, contaminated, embPairs, graph, ann,
        stepS.toMap, (System.nanoTime() - t0) / 1e9)
    }
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    val probe = ctx.probe
    var corpus: Gen.Corpus = null
    var in: Inputs = null
    res.setup("generate") = ctx.medianSeconds(3) {
      corpus = Gen.corpus(ctx.seed, Docs, Vecs, Queries)
      in = write(spark, corpus, ctx.dir("corpus"), ctx.cores)
    }
    res.setup("warm_up") = ctx.medianSeconds(1) {
      val w = Gen.corpus(ctx.seed + 1, 300, 200, 8)
      pass(ctx, write(spark, w, ctx.dir("warm_corpus"), ctx.cores), "warm")
    }
    var floor = 0.0
    res.setup("floor") = ctx.medianSeconds(1) { floor = ctx.floorMs() }
    val before = ctx.graftLeftovers

    res.mark("set_up")
    Sys.resetPeakHeap()
    probe.recording = true
    val tStart = probe.nowMs
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[PassOut]
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
      passes += pass(ctx, in, "timed")
    val tEnd = probe.nowMs
    val peak = Sys.peakHeapMb
    probe.recording = false
    res.mark("timed")
    probe.drain()
    val leaked = ctx.graftLeftovers -- before

    // ---- checks: every step of every pass is one attempted operation
    val exact = Check.exactGroups(corpus.docs.toSeq)
    val cont = Check.contaminated(corpus)
    val texts = corpus.docs.map(d => d.id -> d.text).toMap
    val vecs = corpus.vecs.map(v => v.id -> v.v).toMap
    val brute = Similarity.knnBruteAgg(in.vecs, in.queries, "vec_id", "embedding", K)
      .select("q_id", "cand_id").collect()
      .groupMap(_.getLong(0))(_.getLong(1)).map { case (q, c) => q -> c.toSet }
    val twins = corpus.nearTwins.toSeq
    val vTwins = corpus.vecTwins.toSeq
    var recalls = (0.0, 0.0, 0.0) // first pass: emb pairs, twin rank-1, ann
    passes.zipWithIndex.foreach { case (p, i) =>
      val t = res.tally
      t.record(p.clean.size == Docs && p.clean.forall { case (id, c, n) =>
        c == Check.cleanKey(texts(id)) && n == Check.tokens(texts(id)).length
      }, s"pass $i clean")
      t.record(p.exact == exact, s"pass $i exact: ${(p.exact diff exact).take(3)} / " +
        s"${(exact diff p.exact).take(3)}")
      t.record(p.candidates > 0, s"pass $i minhash: no candidates")
      val verified = p.jaccard.filter(_._3 >= VerifyJaccard).map(x => (x._1, x._2)).toSet
      val twinRecall = Check.recall(twins, verified)
      t.record(p.jaccard.forall { case (a, b, j) =>
        math.abs(Check.round4(Check.jaccard(texts(a), texts(b))) - j) < 1e-9
      } && twinRecall >= NearTwinRecallFloor, s"pass $i verify: twin recall $twinRecall")
      t.record(p.contaminated == cont, s"pass $i decontam: " +
        s"${(p.contaminated diff cont).take(3)} / ${(cont diff p.contaminated).take(3)}")
      val embRecall = Check.recall(vTwins, p.embPairs.map(x => (x._1, x._2)).toSet)
      t.record(Check.simsTrue(vecs, p.embPairs) &&
        p.embPairs.forall(_._3 > EmbThreshold - 1e-4) && embRecall >= EmbRecallFloor,
        s"pass $i emb_lsh: recall $embRecall")
      val rank1 = p.graph.filter(_._2 == 1).map(e => (e._1, e._3)).toSet
      val rank1Ok = vTwins.count { case (a, b) => rank1((b, a)) }.toDouble /
        math.max(1, vTwins.size)
      t.record(Check.simsTrue(vecs, p.graph.map(e => (e._1, e._3, e._4))) &&
        rank1Ok >= TwinRank1Floor, s"pass $i knn_graph: twin rank-1 $rank1Ok")
      val approx = p.ann.groupMap(_._1)(_._3).map { case (q, c) => q -> c.toSet }
      val annRecall = Check.recallAtK(brute, approx)
      t.record(annRecall >= IvfRecallFloor, s"pass $i ivfpq: recall@$K $annRecall")
      if (i == 0) recalls = (embRecall, rank1Ok, annRecall)
    }

    // ---- metrics
    val n = passes.size
    val wallMs = passes.map(_.wallS * 1e3).toSeq
    val (tailPct, tailMs) = Check.tail(wallMs)
    val w = probe.workOf("timed/")
    res.named("task_cpu_s") = (w.cpuS / n, "s")
    res.named("peak_heap_mb") = (peak, "MB")
    res.named("dedup_docs_per_s") = (Docs / (Check.median(wallMs) / 1e3), "docs/s")
    res.notes += f"$n passes of $Docs docs + $Vecs vectors + $Queries queries; " +
      f"pass tail = p$tailPct%.0f over n=$n"
    res.e2e("work_per_s") = (res.named("dedup_docs_per_s")._1, "1/s")
    res.e2e("p50_ms") = (Check.median(wallMs), "ms")
    res.e2e("task_cpu_s") = res.named("task_cpu_s")

    Fill.sparkLayer(res, w, floor, (tEnd - tStart) / 1e3)
    Fill.catalyst(res, probe.phaseMs(tStart, tEnd), n * Layers.steps.size)
    Layers.steps.foreach { s =>
      val sw = probe.workOf(s"timed/step/$s")
      res.layer(s"operators.$s.wall_s", Check.median(passes.map(_.stepS(s)).toSeq))
      res.layer(s"operators.$s.cpu_s", sw.cpuS / n)
      res.layer(s"operators.$s.jobs", sw.jobs.toDouble / n)
      res.layer(s"operators.$s.shuffle_write_mb", sw.shuffleWrite / Work.Mb / n)
      res.layer(s"operators.$s.spill_mb", sw.spill / Work.Mb / n)
    }
    val first = passes.head
    res.layer("operators.verify.useful_ratio",
      first.jaccard.count(_._3 >= VerifyJaccard).toDouble / math.max(1L, first.candidates))
    res.layer("operators.emb_lsh.planted_recall", recalls._1)
    res.layer("operators.knn_graph.twin_rank1_rate", recalls._2)
    res.layer("operators.ivfpq.recall_at_k", recalls._3)
    res.layer("streaming.leaked_paths", leaked.size.toDouble)
    if (leaked.nonEmpty) res.notes += s"left behind by graft: ${leaked.toSeq.sorted.mkString(" ")}"
  }
}
