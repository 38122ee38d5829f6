package graftbench

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Tests of the benchmark itself: its inputs are a pure function of the
  * seed, and its checkers reject corrupted answers. Corruption is
  * injected into the answers here, never into graft. */
class BenchSpec extends AnyFunSuite {
  private val snap = Gen.registry(7, 4000)
  private val truth = new Check.RegistryTruth(snap)

  test("the same seed gives byte-identical inputs, another seed different ones") {
    val again = Gen.registry(7, 4000)
    assert(snap.master.sameElements(again.master))
    assert(snap.acftref.sameElements(again.acftref))
    assert(snap.engine.sameElements(again.engine))
    assert(snap.digest == again.digest)
    assert(Gen.registry(8, 4000).digest != snap.digest)
    val c = Gen.corpus(3, 500, 300, 8)
    assert(c.digest == Gen.corpus(3, 500, 300, 8).digest)
    assert(c.digest != Gen.corpus(4, 500, 300, 8).digest)
  }

  test("the request mix is a pure function of the seed") {
    def ops(seed: Long) = { val m = new Check.Mix(seed, snap); Seq.fill(200)(m.next()) }
    assert(ops(1) == ops(1))
    assert(ops(1) != ops(2))
    val kinds = ops(1).groupBy(_.kind).map { case (k, v) => k -> v.size }
    assert(kinds.keySet == Set("search", "fleet", "sql", "status"))
  }

  test("generated corpora carry their planted structure") {
    val c = Gen.corpus(5, 3000, 2000, 8)
    assert(c.nearTwins.nonEmpty && c.vecTwins.nonEmpty)
    assert(Check.exactGroups(c.docs.toSeq).nonEmpty)
    assert(Check.contaminated(c).nonEmpty)
    val v = c.vecs.map(x => x.id -> x.v).toMap
    assert(c.vecTwins.forall { case (a, b) => Check.cosine(v(a), v(b)) > 0.9 })
  }

  private def firstHit(): Check.Search =
    Iterator.from(0).map(i => Check.Search(" n" + snap.planes(i).n.toLowerCase))
      .find(op => truth.expected(op).nonEmpty).get

  test("the search checker rejects a dropped row") {
    val op = firstHit()
    val right = truth.expected(op)
    assert(right.size == 1)
    assert(truth.check(op, right))
    assert(!truth.check(op, Nil))
  }

  test("a miss expects no rows") {
    assert(truth.expected(Check.Search("N100Z")).isEmpty)
  }

  test("the fleet checker rejects a wrong order") {
    val op = Iterator.from(0).map(i =>
        Check.Fleet(snap.surnames(i % 5).toLowerCase, None, 25))
      .find(op => truth.expected(op).size >= 2).get
    val right = truth.expected(op)
    assert(truth.check(op, right))
    assert(!truth.check(op, right.reverse))
    assert(!truth.check(op, right.tail :+ right.head))
  }

  test("the graph checker rejects one changed edge") {
    val g: Check.Graph = Set((1L, 1L, 2L, 0.9), (1L, 2L, 3L, 0.5), (2L, 1L, 1L, 0.9))
    assert(Check.sameGraph(g, g))
    val changed = g - ((1L, 2L, 3L, 0.5)) + ((1L, 2L, 4L, 0.5))
    assert(!Check.sameGraph(g, changed))
  }

  test("a wrong answer raises error_rate") {
    val ops = { val m = new Check.Mix(3, snap); Seq.fill(40)(m.next()) }
    def rate(corrupt: Boolean): Double = {
      val t = new Check.Tally
      ops.zipWithIndex.foreach { case (op, i) =>
        val rows = truth.expected(op)
        val answer = if (corrupt && i == 0) rows :+ Seq("bogus") else rows
        t.record(truth.check(op, answer), op.toString)
      }
      t.errorRate
    }
    assert(rate(corrupt = false) == 0.0)
    assert(rate(corrupt = true) == 1.0 / 40)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 30).map(_.toDouble)
    assert(Check.tail(xs) == ((100.0 * 20 / 30), 20.0))
    assert(Check.tail(Seq(3.0, 1.0, 2.0)) == ((100.0, 3.0)))
    assert(Check.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("BENCHMARK.json names exactly the metrics the benchmark reports") {
    val spec = new String(java.nio.file.Files.readAllBytes(
      new File("../BENCHMARK.json").toPath), "UTF-8")
    def names(section: String): Seq[String] = {
      val body = spec.split("\"" + section + "\"")(1).split("]")(0)
      "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    assert(names("per_layer") == Layers.all.map(_._1))
    assert(names("end_to_end").toSet ==
      Set("setup_s", "work_per_s", "p50_ms", "task_cpu_s"))
    assert(names("workloads") == Main.Workloads)
  }
}
