package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.registry.{Registry, RegistryNormalize}

/** registry_serve: hangarbay's own use. Normalize one FAA-shaped raw
  * snapshot, then serve a seeded closed-loop request mix (one client,
  * no think time) against the published tables. The requests are
  * floor- and plan-bound: view building, parquet footer reads and
  * jobs × per-job cost dominate, with almost no operator compute. */
object RegistryServe {
  val Planes: Int = 50000

  private def cell(v: Any): String = if (v == null) "null" else v.toString

  def rows(df: DataFrame, cols: Seq[String]): (Check.Rows, DataFrame) = {
    val sel = if (cols.isEmpty) df else df.select(cols.map(df.col): _*)
    (sel.collect().toSeq.map((r: Row) => r.toSeq.map(cell)), sel)
  }

  /** Rows the executed plan's file scans produced. */
  def scanRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case s: QueryStageExec => scanRows(s.plan)
    case r: ReusedExchangeExec => scanRows(r.child)
    case s: DataSourceScanExec =>
      s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case p => p.children.map(scanRows).sum
  }

  def writeRaw(snap: Gen.Snapshot, dir: File): Unit = {
    dir.mkdirs()
    Files.write(new File(dir, "MASTER.txt").toPath, snap.master)
    Files.write(new File(dir, "ACFTREF.txt").toPath, snap.acftref)
    Files.write(new File(dir, "ENGINE.txt").toPath, snap.engine)
  }

  final case class Served(op: Check.Op, rows: Check.Rows, buildMs: Double,
      execMs: Double, scanned: Long)

  /** One request through the public registry API: the call that returns
    * the answer's DataFrame (build), then its execution (exec). */
  def serve(ctx: Ctx, reg: Registry, op: Check.Op): Served = {
    val p = ctx.probe
    val t0 = System.nanoTime()
    val df: Option[(DataFrame, Seq[String])] = p.span(s"registry.${op.kind}") {
      op match {
        case Check.Search(k) => Some(reg.search(k) -> Check.SearchCols)
        case Check.Fleet(t, st, lim) => Some(reg.fleet(t, st, lim) -> Check.FleetCols)
        case s: Check.Sql => Some(reg.query(s.text) -> Nil)
        case Check.Meta("status", _) => Some(reg.status -> Nil)
        case Check.Meta("schema", v) => Some(reg.schemaOf(v) -> Seq("column_name"))
        case Check.Meta(_, _) => None
      }
    }
    val t1 = System.nanoTime()
    val (answer, scanned) = df match {
      case Some((d, cols)) =>
        val (r, sel) = p.span("action:collect")(rows(d, cols))
        (r, if (ctx.traced) scanRows(sel.queryExecution.executedPlan) else 0L)
      case None => (reg.listTables.map(Seq(_)), 0L)
    }
    val t2 = System.nanoTime()
    Served(op, answer, (t1 - t0) / 1e6, (t2 - t1) / 1e6, scanned)
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    val probe = ctx.probe
    val raw = ctx.dir("registry_raw")
    val out = new File(ctx.runDir, "registry_out")

    // ---- set-up: generate (median of three), measure the floor
    var snap: Gen.Snapshot = null
    res.setup("generate") = ctx.medianSeconds(3) {
      snap = Gen.registry(ctx.seed, Planes)
      writeRaw(snap, raw)
    }
    var floor = 0.0
    res.setup("floor") = ctx.medianSeconds(1) { floor = ctx.floorMs() }
    val csvBytes = snap.master.length + snap.acftref.length + snap.engine.length
    val truth = new Check.RegistryTruth(snap)
    val before = ctx.graftLeftovers

    // ---- timed: one normalize
    res.mark("set_up")
    Sys.resetPeakHeap()
    probe.recording = true
    val normS = probe.window("timed/normalize") {
      probe.span("op:normalize") {
        val t = System.nanoTime()
        probe.span("registry.normalize") {
          RegistryNormalize.normalize(spark, raw.getAbsolutePath, out.getAbsolutePath)
        }
        (System.nanoTime() - t) / 1e9
      }
    }
    probe.recording = false
    val reg = new Registry(spark, out.getAbsolutePath, _ => ())

    // ---- set-up, continued: one untimed request of each kind warms the
    // serving path (code generation, JIT) before the timed mix
    res.setup("warm_up") = ctx.medianSeconds(1) {
      val warm = new Check.Mix(ctx.seed + 1, snap)
      val kinds = mutable.Set.empty[String]
      Iterator.continually(warm.next()).take(100)
        .filter(op => kinds.add(op.kind)).take(Layers.registryOps.size)
        .foreach(op => serve(ctx, reg, op))
    }

    // ---- timed: the request mix
    probe.recording = true
    val mix = new Check.Mix(ctx.seed, snap)
    val served = mutable.ArrayBuffer.empty[Served]
    val tServe = System.nanoTime()
    val serveStartMs = probe.nowMs
    while ((System.nanoTime() - tServe) / 1e9 < ctx.seconds) {
      val op = mix.next()
      served += probe.window(s"timed/op/${op.kind}") {
        probe.span(s"op:${op.kind}")(serve(ctx, reg, op))
      }
    }
    val serveS = (System.nanoTime() - tServe) / 1e9
    val tEnd = probe.nowMs
    val peak = Sys.peakHeapMb
    probe.recording = false
    res.mark("timed")
    probe.drain()
    val leaked = ctx.graftLeftovers -- before

    // ---- checks
    served.foreach { s =>
      res.tally.record(truth.check(s.op, s.rows),
        s"${s.op}: got ${s.rows.take(3)} expected ${truth.expected(s.op).take(3)}")
    }

    // ---- metrics
    val lat = served.map(s => s.buildMs + s.execMs).toSeq
    def p50(kind: String) = served.filter(_.op.kind == kind)
      .map(s => s.buildMs + s.execMs).toSeq match {
        case Seq() => 0.0 // no request of this kind in a short run
        case xs => Check.median(xs)
      }
    val (tailPct, tailMs) = Check.tail(lat)
    val ops = served.size
    val opsWork = probe.workOf("timed/op/")
    res.named("task_cpu_s") = (opsWork.cpuS / ops, "s")
    res.named("peak_heap_mb") = (peak, "MB")
    res.named("serve_ops_per_s") = (ops / serveS, "ops/s")
    res.named("search_p50_ms") = (p50("search"), "ms")
    res.named("fleet_p50_ms") = (p50("fleet"), "ms")
    res.named("sql_p50_ms") = (p50("sql"), "ms")
    res.named("serve_tail_ms") = (tailMs, "ms")
    res.named("normalize_s") = (normS, "s")
    res.notes += f"serve tail = p$tailPct%.1f over n=$ops ops; " +
      s"mix ${served.groupBy(_.op.kind).map { case (k, v) => s"$k=${v.size}" }.mkString(" ")}"
    res.e2e("work_per_s") = (ops / serveS, "1/s")
    res.e2e("p50_ms") = (p50("search"), "ms")
    res.e2e("task_cpu_s") = res.named("task_cpu_s")

    val all = probe.workOf("timed/")
    Fill.sparkLayer(res, all, floor, normS + serveS)
    Fill.catalyst(res, probe.phaseMs(serveStartMs, tEnd), ops)
    Layers.registryOps.foreach { k =>
      val ss = served.filter(_.op.kind == k)
      if (ss.nonEmpty) {
        res.layer(s"registry.$k.build_ms", Check.median(ss.map(_.buildMs).toSeq))
        res.layer(s"registry.$k.exec_ms", Check.median(ss.map(_.execMs).toSeq))
        res.layer(s"registry.$k.jobs", probe.workOf(s"timed/op/$k").jobs.toDouble / ss.size)
      }
    }
    Seq("search", "fleet").foreach { k =>
      val ss = served.filter(_.op.kind == k)
      res.layer(s"registry.$k.scan_rows_per_result",
        ss.map(_.scanned).sum.toDouble / math.max(1, ss.map(_.rows.size).sum))
    }
    val norm = probe.workOf("timed/normalize")
    res.layer("registry.normalize.cpu_s", norm.cpuS)
    res.layer("registry.normalize.jobs", norm.jobs.toDouble)
    res.layer("registry.normalize.write_amp", Sys.bytes(out).toDouble / csvBytes)
    res.layer("streaming.leaked_paths", leaked.size.toDouble)
    if (leaked.nonEmpty) res.notes += s"left behind by graft: ${leaked.toSeq.sorted.mkString(" ")}"
  }
}
