package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run needs: the session graft runs in, the probe
  * that watches it from outside, and the run's own directories. */
final case class Ctx(spark: SparkSession, probe: Probe, seed: Long,
    seconds: Double, runDir: File, cores: Int) {
  def traced: Boolean = probe.traced
  def dir(name: String): File = { val d = new File(runDir, name); d.mkdirs(); d }
  def tmpDir: File = new File(System.getProperty("java.io.tmpdir"))

  /** graft_* temp dirs and warehouse tables present now (temporary views
    * live only as long as the session and hold no files). */
  def graftLeftovers: Set[String] = {
    val tmp = Option(tmpDir.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_")).map(f => s"tmp:${f.getName}")
    val tables = spark.catalog.listTables().collect().filterNot(_.isTemporary)
      .map(t => s"table:${t.name}")
    (tmp ++ tables).toSet
  }

  /** Wall-clock median of `n` runs of `body`, in seconds. */
  def medianSeconds(n: Int)(body: => Unit): Double =
    Check.median((0 until n).map { _ =>
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    })

  /** One empty Spark job's wall time (ms), median of 9: the fixed
    * per-job floor every action pays. */
  def floorMs(): Double = {
    val sc = spark.sparkContext
    (0 until 3).foreach(_ => sc.parallelize(Seq(1), 1).count())
    Check.median((0 until 9).map { _ =>
      val t = System.nanoTime(); sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t) / 1e6
    })
  }
}

/** A run's outcome: the correctness tally, the contract's end-to-end
  * metrics, the workload's own named metrics, and every per-layer
  * metric (zero where the workload bypasses the layer). */
final class Result(val workload: String) {
  val tally = new Check.Tally
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers: mutable.LinkedHashMap[String, (Double, String)] =
    mutable.LinkedHashMap.from(Layers.all.map { case (n, u) => n -> (0.0, u) })
  val setup = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]
  /** Wall-clock marks (s since the JVM started) of the run's phases. */
  val marks = mutable.LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit =
    marks(phase) = (System.currentTimeMillis() - Sys.jvmStartMs) / 1e3

  def layer(name: String, v: Double): Unit = {
    require(layers.contains(name), s"unknown per-layer metric $name")
    layers(name) = (v, layers(name)._2)
  }
}

/** The per-layer metrics, by layer, with units. Every run reports all of
  * them; a layer the workload bypasses reads 0. */
object Layers {
  val registryOps: Seq[String] = Seq("search", "fleet", "sql", "status")
  val steps: Seq[String] = Seq("clean", "exact", "minhash", "verify",
    "decontam", "emb_lsh", "knn_graph", "ivfpq")
  val folds: Seq[String] = Seq("clean", "knn")

  val all: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.floor_ms" -> "ms",
      "spark.floor_share" -> "ratio",
      "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
      "catalyst.planning_ms" -> "ms") ++
    registryOps.flatMap(o => Seq(s"registry.$o.build_ms" -> "ms",
      s"registry.$o.exec_ms" -> "ms", s"registry.$o.jobs" -> "count")) ++
    Seq("registry.search.scan_rows_per_result" -> "ratio",
      "registry.fleet.scan_rows_per_result" -> "ratio",
      "registry.normalize.cpu_s" -> "s", "registry.normalize.write_amp" -> "ratio",
      "registry.normalize.jobs" -> "count") ++
    steps.flatMap(s => Seq(s"operators.$s.wall_s" -> "s", s"operators.$s.cpu_s" -> "s",
      s"operators.$s.jobs" -> "count", s"operators.$s.shuffle_write_mb" -> "MB",
      s"operators.$s.spill_mb" -> "MB")) ++
    Seq("operators.verify.useful_ratio" -> "ratio",
      "operators.emb_lsh.planted_recall" -> "ratio",
      "operators.knn_graph.twin_rank1_rate" -> "ratio",
      "operators.ivfpq.recall_at_k" -> "ratio") ++
    folds.flatMap(f => Seq(s"streaming.$f.trigger_ms" -> "ms",
      s"streaming.$f.add_batch_ms" -> "ms", s"streaming.$f.planning_ms" -> "ms",
      s"streaming.$f.wal_commit_ms" -> "ms", s"streaming.$f.jobs_per_trigger" -> "count",
      s"streaming.$f.cpu_s_per_trigger" -> "s", s"streaming.$f.write_amp" -> "ratio",
      s"streaming.$f.space_amp" -> "ratio", s"streaming.$f.parts_live" -> "count",
      s"streaming.$f.compactions" -> "count")) ++
    Seq("streaming.leaked_paths" -> "count")
}

/** Entry point: `graftbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --run-dir DIR --out-dir DIR`. Prints the human tables to
  * stderr and, as the last line of stdout, the result object. */
object Main {
  val Workloads: Seq[String] = Seq("registry_serve", "corpus_dedup", "corpus_ingest")

  def main(args: Array[String]): Unit = {
    val mainStartMs = System.currentTimeMillis()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val runDir = new File(opts("run-dir"))
    val outDir = new File(opts("out-dir"))
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = graft.Sessions.tuneLocal(SparkSession.builder())
      .master(s"local[$cores]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(runDir, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val probe = new Probe(spark, traced)
    val ctx = Ctx(spark, probe, seed, seconds, runDir, cores)
    val res = new Result(workload)
    res.setup("jvm_to_main") = (mainStartMs - Sys.jvmStartMs) / 1e3
    res.setup("session") = sessionS
    res.mark("session")
    val ok =
      try {
        workload match {
          case "registry_serve" => RegistryServe.run(ctx, res)
          case "corpus_dedup" => CorpusDedup.run(ctx, res)
          case "corpus_ingest" => CorpusIngest.run(ctx, res)
        }
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          false
      }
    if (!ok) {
      probe.close(); spark.stop()
      sys.exit(3)
    }
    res.mark("checked")
    res.e2e("setup_s") = (res.setup.values.sum, "s")
    res.named("setup_s") = res.e2e("setup_s")
    res.named("error_rate") = (res.tally.errorRate, "failed/attempted")
    val spans = probe.allSpans
    probe.close()
    spark.stop()
    res.mark("stopped")
    Report.write(res, spans, outDir, seed, traced)
  }
}

/** Per-layer metrics every workload fills the same way. */
object Fill {
  /** The runtime underneath, over a timed region of `wallS` seconds. */
  def sparkLayer(res: Result, w: Work, floorMs: Double, wallS: Double): Unit = {
    res.layer("spark.jobs", w.jobs.toDouble)
    res.layer("spark.stages", w.stages.toDouble)
    res.layer("spark.tasks", w.tasks.toDouble)
    res.layer("spark.task_cpu_s", w.cpuS)
    res.layer("spark.gc_s", w.gcS)
    res.layer("spark.shuffle_write_mb", w.shuffleWrite / Work.Mb)
    res.layer("spark.shuffle_read_mb", w.shuffleRead / Work.Mb)
    res.layer("spark.spill_mb", w.spill / Work.Mb)
    res.layer("spark.floor_ms", floorMs)
    res.layer("spark.floor_share", w.jobs * floorMs / 1e3 / wallS)
  }

  /** Catalyst phase time per unit of work (op, step or trigger). */
  def catalyst(res: Result, phases: Map[String, Double], units: Int): Unit = {
    val n = math.max(1, units).toDouble
    res.layer("catalyst.analysis_ms", phases.getOrElse("analysis", 0.0) / n)
    res.layer("catalyst.optimization_ms", phases.getOrElse("optimization", 0.0) / n)
    res.layer("catalyst.planning_ms", phases.getOrElse("planning", 0.0) / n)
  }
}
