package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.Similarity
import graft.streaming.Streams

/** corpus_ingest: a smaller corpus of the same family, written as many
  * small chunk files in ascending id order and fed one file per trigger
  * through graft's incremental clean and k-NN graph folds. It uses the
  * same band-cell scorer as corpus_dedup in small batches and adds the
  * per-trigger state writes, manifests and compaction, so a batch-only
  * tuning that costs the per-trigger path shows here. */
object CorpusIngest {
  val Docs: Int = 1200
  val Vecs: Int = 600
  val Chunks: Int = 6
  // compaction every 3 triggers: two full cycles per fold in a pass that
  // fits the run (graft's default of 8 would need 16 triggers per fold)
  val CompactEvery: Int = 3
  val K: Int = 5

  final case class Inputs(docsIn: File, vecsIn: File, bench: DataFrame, inBytes: Long)

  /** Write `df` as `chunks` flat parquet files `chunk-NNNNN.parquet`,
    * chunk i holding the i-th id range, with ascending modification
    * times so the file source replays them in id order. */
  def writeChunks(df: DataFrame, id: String, n: Int, chunks: Int, dir: File,
      staging: File): Unit = {
    Sys.delete(staging)
    df.withColumn("chunk", (col(id) * chunks / n).cast("int"))
      .repartition(chunks, col("chunk"))
      .write.partitionBy("chunk").parquet(staging.getAbsolutePath)
    dir.mkdirs()
    val t0 = 1600000000000L
    (0 until chunks).foreach { i =>
      val part = Option(new File(staging, s"chunk=$i").listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.size == 1, s"chunk $i: ${part.size} files")
      val dst = new File(dir, f"chunk-$i%05d.parquet")
      java.nio.file.Files.move(part.head.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    Sys.delete(staging)
  }

  def write(spark: SparkSession, c: Gen.Corpus, dir: File, chunks: Int): Inputs = {
    import spark.implicits._
    val sc = spark.sparkContext
    Sys.delete(dir)
    val docsIn = new File(dir, "docs_in")
    val vecsIn = new File(dir, "vecs_in")
    val staging = new File(dir, "staging")
    writeChunks(sc.parallelize(c.docs.toSeq.map(d => (d.id, d.text, d.source)))
      .toDF("doc_id", "text", "source"), "doc_id", c.docs.length, chunks, docsIn, staging)
    writeChunks(sc.parallelize(c.vecs.toSeq.map(v => (v.id, v.v))).toDF("vec_id", "embedding"),
      "vec_id", c.vecs.length, chunks, vecsIn, staging)
    val benchDir = new File(dir, "bench").getAbsolutePath
    sc.parallelize(c.bench.toSeq.map(d => (d.id, d.text, d.source)), 1)
      .toDF("doc_id", "text", "source").write.parquet(benchDir)
    Inputs(docsIn, vecsIn, spark.read.parquet(benchDir),
      Sys.bytes(docsIn) + Sys.bytes(vecsIn))
  }

  final case class FoldOut(clean: Set[(Long, String, String)], graph: Check.Graph,
      cleanSnap: DataFrame, graphSnap: DataFrame, wallS: Double, base: File)

  private def floor4(x: Double): Double = math.floor(x * 10000) / 10000

  /** Both folds over the chunked input, under fresh base dirs. */
  def pass(ctx: Ctx, in: Inputs, prefix: String, base: File,
      callSpan: mutable.Map[String, Long]): FoldOut = {
    val spark = ctx.spark
    val probe = ctx.probe
    val t0 = System.nanoTime()
    def stream(dir: File) = spark.readStream
      .schema(spark.read.parquet(dir.getAbsolutePath).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.getAbsolutePath)
    val ended = probe.terminatedCount
    val (clean, cleanSnap) = probe.window(s"$prefix/fold/clean") {
      probe.span("fold:clean") {
        val snap = probe.span("streaming.Streams.incrementalClean") {
          callSpan("clean") = probe.current
          Streams.incrementalClean(stream(in.docsIn), in.bench,
            new File(base, "clean").getAbsolutePath, compactEvery = CompactEvery)
        }
        probe.span("action:collect") {
          (snap.select("doc_id", "source", "fp").collect()
            .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet, snap)
        }
      }
    }
    val (graph, graphSnap) = probe.window(s"$prefix/fold/knn") {
      probe.span("fold:knn") {
        val g = probe.span("streaming.Streams.incrementalKnnGraph") {
          callSpan("knn") = probe.current
          Streams.incrementalKnnGraph(stream(in.vecsIn),
            new File(base, "knn").getAbsolutePath, k = K, compactEvery = CompactEvery)
        }
        probe.span("action:collect") {
          (g.select("vec_id", "rank", "nbr_id", "sim").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), floor4(r.getDouble(3))))
            .toSet, g)
        }
      }
    }
    probe.awaitTerminated(ended + 2)
    FoldOut(clean, graph, cleanSnap, graphSnap, (System.nanoTime() - t0) / 1e9, base)
  }

  /** Ground truth of the clean fold, computed without graft: drop
    * documents sharing a word 8-gram with the benchmark set, then keep
    * the first-arriving (lowest id) document per fingerprint
    * md5(lower(trim(text))). */
  def cleanTruth(c: Gen.Corpus): Set[(Long, String, String)] = {
    val bad = Check.contaminated(c)
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString
    c.docs.iterator.filterNot(d => bad(d.id))
      .map(d => (d.id, d.source, md5(d.text.trim.toLowerCase))).toSeq
      .groupBy(_._3).valuesIterator.map(_.minBy(_._1)).toSet
  }

  private val Version = "v\\d+c?".r

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    val probe = ctx.probe
    var corpus: Gen.Corpus = null
    var in: Inputs = null
    res.setup("generate") = ctx.medianSeconds(3) {
      corpus = Gen.corpus(ctx.seed, Docs, Vecs, 0)
      in = write(spark, corpus, new File(ctx.runDir, "ingest"), Chunks)
    }
    val callSpan = mutable.Map.empty[String, Long]
    res.setup("warm_up") = ctx.medianSeconds(1) {
      // one compaction cycle, so the compaction path is warm too
      val w = Gen.corpus(ctx.seed + 1, 120, 90, 0)
      pass(ctx, write(spark, w, new File(ctx.runDir, "warm_ingest"), CompactEvery), "warm",
        ctx.dir("warm_folds"), callSpan)
    }
    var floor = 0.0
    res.setup("floor") = ctx.medianSeconds(1) { floor = ctx.floorMs() }
    val before = ctx.graftLeftovers

    // fold-state generations seen while triggers run (traced runs)
    val versions = mutable.Map.empty[String, mutable.Set[String]]
    @volatile var liveBase: File = null
    probe.onTrigger = { t =>
      val fold = if (t.query.startsWith("graft_p15")) "knn" else "clean"
      callSpan.get(fold).foreach(p => probe.addExternal(s"trigger:$fold:${t.batch}", p,
        t.startMs, t.startMs + t.durations.getOrElse("triggerExecution", 0L)))
      if (ctx.traced && liveBase != null) {
        val root = new File(liveBase, fold)
        val seen = Sys.dirs(root).filter(d => Version.matches(d.getName))
          .map(d => d.getAbsolutePath)
        versions.synchronized(versions.getOrElseUpdate(fold, mutable.Set.empty) ++= seen)
      }
    }

    res.mark("set_up")
    Sys.resetPeakHeap()
    probe.recording = true
    val tStart = probe.nowMs
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[FoldOut]
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      liveBase = ctx.dir(s"folds/${passes.size}")
      passes += pass(ctx, in, "timed", liveBase, callSpan)
    }
    val tEnd = probe.nowMs
    val peak = Sys.peakHeapMb
    probe.recording = false
    res.mark("timed")
    probe.drain()
    val leaked = ctx.graftLeftovers -- before

    // ---- checks: graft's replay contract, after timing
    val vecsAll = spark.read.parquet(in.vecsIn.getAbsolutePath)
    val graphTruth: Check.Graph =
      Similarity.knnGraphBucketed(vecsAll, "vec_id", "embedding", K)
        .select("vec_id", "rank", "nbr_id", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), floor4(r.getDouble(3)))).toSet
    val cleanT = cleanTruth(corpus)
    passes.zipWithIndex.foreach { case (p, i) =>
      res.tally.record(p.clean == cleanT, s"pass $i clean snapshot: " +
        s"${(p.clean diff cleanT).take(2)} / ${(cleanT diff p.clean).take(2)}")
      res.tally.record(Check.sameGraph(graphTruth, p.graph), s"pass $i knn graph: " +
        s"${(p.graph diff graphTruth).take(2)} / ${(graphTruth diff p.graph).take(2)}")
    }

    // ---- metrics
    val n = passes.size
    val trig = Map("clean" -> probe.triggersOf("graft_p03", tStart, tEnd),
      "knn" -> probe.triggersOf("graft_p15", tStart, tEnd))
    def ms(ts: Seq[Trigger]) = ts.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val trigMs = trig.values.toSeq.flatMap(ms)
    // one chunk through both folds: the two folds' trigger latencies sit
    // in separate modes, so a median over their union lands between them
    val chunkP50 = Check.median(ms(trig("clean"))) + Check.median(ms(trig("knn")))
    val wallMs = passes.map(_.wallS * 1e3).toSeq
    val (tailPct, tailMs) = Check.tail(trigMs)
    val w = probe.workOf("timed/")
    val rowsPerS = (Docs + Vecs) / (Check.median(wallMs) / 1e3)
    res.named("task_cpu_s") = (w.cpuS / n, "s")
    res.named("peak_heap_mb") = (peak, "MB")
    res.named("ingest_rows_per_s") = (rowsPerS, "rows/s")
    res.named("trigger_p50_ms") = (Check.median(trigMs), "ms")
    res.named("trigger_tail_ms") = (tailMs, "ms")
    res.notes += f"$n passes x ${Chunks * 2} triggers; trigger tail = p$tailPct%.1f " +
      s"over n=${trigMs.size}"
    res.e2e("work_per_s") = (rowsPerS, "1/s")
    res.e2e("p50_ms") = (chunkP50, "ms")
    res.e2e("task_cpu_s") = res.named("task_cpu_s")

    Fill.sparkLayer(res, w, floor, (tEnd - tStart) / 1e3)
    Fill.catalyst(res, probe.phaseMs(tStart, tEnd), trigMs.size)
    val last = passes.last
    Layers.folds.foreach { f =>
      val ts = trig(f)
      // means, so the phases add up to the trigger (Spark reports whole ms)
      def mean(k: String) =
        ts.map(_.durations.getOrElse(k, 0L).toDouble).sum / math.max(1, ts.size)
      val fw = probe.workOf(s"timed/fold/$f")
      res.layer(s"streaming.$f.trigger_ms", mean("triggerExecution"))
      res.layer(s"streaming.$f.add_batch_ms", mean("addBatch"))
      res.layer(s"streaming.$f.planning_ms", mean("queryPlanning"))
      res.layer(s"streaming.$f.wal_commit_ms", mean("walCommit"))
      res.layer(s"streaming.$f.jobs_per_trigger", fw.jobs.toDouble / math.max(1, ts.size))
      res.layer(s"streaming.$f.cpu_s_per_trigger", fw.cpuS / math.max(1, ts.size))
      res.layer(s"streaming.$f.write_amp", fw.bytesOut.toDouble / (in.inBytes * n))
      if (ctx.traced) {
        val root = new File(last.base, f)
        val snap = new File(ctx.runDir, s"snapshot_$f")
        (if (f == "clean") last.cleanSnap else last.graphSnap)
          .write.mode("overwrite").parquet(snap.getAbsolutePath)
        val onDisk = Sys.files(root).filter(_.getName.endsWith(".parquet"))
        res.layer(s"streaming.$f.space_amp", Sys.bytes(root).toDouble / Sys.bytes(snap))
        res.layer(s"streaming.$f.parts_live", onDisk.size.toDouble)
        val seen = versions.synchronized(versions.get(f).map(_.count(_.startsWith(
          last.base.getAbsolutePath))).getOrElse(0))
        res.layer(s"streaming.$f.compactions", seen.toDouble)
        Sys.delete(snap)
      }
    }
    res.layer("streaming.leaked_paths", leaked.size.toDouble / n)
    if (leaked.nonEmpty) res.notes += s"left behind by graft over $n passes: " +
      leaked.toSeq.sorted.mkString(" ")
  }
}
