package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Renders a run: human tables on stderr, the full record and (traced)
  * the span file under the output dir, and the result object as the
  * last line of stdout. */
object Report {
  /** The named end-to-end metrics, in print order; a workload
    * prints "n/a" for the ones it does not measure. */
  val NamedE2e: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "error_rate" -> "failed/attempted", "task_cpu_s" -> "s",
    "peak_heap_mb" -> "MB", "serve_ops_per_s" -> "ops/s",
    "search_p50_ms" -> "ms", "fleet_p50_ms" -> "ms", "sql_p50_ms" -> "ms",
    "serve_tail_ms" -> "ms", "normalize_s" -> "s", "dedup_docs_per_s" -> "docs/s",
    "ingest_rows_per_s" -> "rows/s", "trigger_p50_ms" -> "ms",
    "trigger_tail_ms" -> "ms")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def metrics(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")

  private def fmt(v: Double): String =
    if (v == 0.0) "0" else if (math.abs(v) >= 100) f"$v%.1f" else f"$v%.4g"

  def layerTable(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val self = Probe.selfTimes(spans)
    spans.groupBy(s => Probe.layer(s.name)).toSeq.map { case (l, ss) =>
      (l, ss.size, ss.map(s => s.endMs - s.startMs).sum, ss.map(s => self(s.id)).sum)
    }.sortBy(-_._4)
  }

  def write(res: Result, spans: Seq[Span], outDir: File, seed: Long,
      traced: Boolean): Unit = {
    val err = System.err
    err.println(s"== ${res.workload} seed=$seed traced=$traced " +
      s"attempted=${res.tally.attempted} failed=${res.tally.failed}")
    res.tally.failures.foreach(f => err.println(s"   WRONG: $f"))
    err.println(f"${"end-to-end metric"}%-22s ${"value"}%14s  unit")
    NamedE2e.foreach { case (n, u) =>
      val v = res.named.get(n).map(x => fmt(x._1)).getOrElse("n/a")
      err.println(f"$n%-22s $v%14s  $u")
    }
    err.println("gated metrics: " + res.e2e.map { case (k, (v, u)) =>
      s"$k=${fmt(v)} $u" }.mkString(", "))
    res.notes.foreach(n => err.println(s"   $n"))
    err.println("setup parts (s): " + res.setup.map { case (k, v) => s"$k=${fmt(v)}" }
      .mkString(", "))
    err.println("phase ends (s since JVM start): " + res.marks.map { case (k, v) =>
      s"$k=${fmt(v)}" }.mkString(", "))
    if (traced) {
      err.println(f"${"layer"}%-12s ${"spans"}%7s ${"total_ms"}%12s ${"self_ms"}%12s")
      layerTable(spans).foreach { case (l, n, tot, self) =>
        err.println(f"$l%-12s $n%7d ${fmt(tot)}%12s ${fmt(self)}%12s")
      }
      res.layers.foreach { case (n, (v, u)) => err.println(f"$n%-40s ${fmt(v)}%14s  $u") }
    }

    outDir.mkdirs()
    val tag = s"${res.workload}-seed$seed-trace${if (traced) 1 else 0}"
    val record = Seq(
      s"\"workload\": ${str(res.workload)}", s"\"seed\": $seed", s"\"traced\": $traced",
      s"\"attempted\": ${res.tally.attempted}", s"\"failed\": ${res.tally.failed}",
      s"\"failures\": ${res.tally.failures.map(str).mkString("[", ", ", "]")}",
      s"\"metrics\": ${metrics(res.e2e)}",
      // every named metric, in print order; value null where not measured
      s"\"named\": ${NamedE2e.map { case (n, u) =>
        s"${str(n)}: {\"value\": ${res.named.get(n).map(x => num(x._1)).getOrElse("null")}, " +
          s"\"unit\": ${str(u)}}" }.mkString("{", ", ", "}")}",
      s"\"per_layer\": ${metrics(res.layers)}",
      s"\"setup\": ${res.setup.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")}",
      s"\"notes\": ${res.notes.map(str).mkString("[", ", ", "]")}",
      s"\"layer_self_ms\": ${layerTable(spans).map { case (l, n, t, s) =>
        s"${str(l)}: {\"spans\": $n, \"total_ms\": ${num(t)}, \"self_ms\": ${num(s)}}" }
        .mkString("{", ", ", "}")}").mkString("{", ", ", "}")
    Files.write(new File(outDir, s"$tag.json").toPath, record.getBytes(UTF_8))
    if (traced) {
      val lines = spans.map(s => s"{\"id\": ${s.id}, \"parent\": ${s.parent}, " +
        s"\"op\": ${s.op}, \"name\": ${str(s.name)}, \"start_ms\": ${num(s.startMs)}, " +
        s"\"end_ms\": ${num(s.endMs)}}")
      Files.write(new File(outDir, s"spans-$tag.jsonl").toPath,
        lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    val m = if (traced) res.layers else res.e2e
    println(s"{\"correct\": ${res.tally.failed == 0 && res.tally.attempted > 0}, " +
      s"\"attempted\": ${math.max(1L, res.tally.attempted)}, \"failed\": ${res.tally.failed}, " +
      s"\"metrics\": ${metrics(m)}}")
  }
}
