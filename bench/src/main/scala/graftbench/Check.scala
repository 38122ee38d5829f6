package graftbench

import Gen.{Corpus, Plane, Snapshot}

/** Ground truth computed from the generated rows without graft, the
  * comparison rules, and the summary statistics the benchmark reports.
  * Everything here is pure, so the benchmark's own tests can corrupt an
  * answer and watch the checker reject it. */
object Check {
  type Rows = Seq[Seq[String]]

  /** Attempted and failed operations; a wrong answer is a failure. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def record(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) {
        failed += 1
        if (failures.size < 20) failures += what
      }
    }
    def errorRate: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  }

  def sameRows(expected: Rows, actual: Rows, ordered: Boolean): Boolean =
    if (ordered) expected == actual
    else expected.map(_.mkString("\u0001")).sorted ==
      actual.map(_.mkString("\u0001")).sorted

  // ---- statistics ----

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail the benchmark reports: the highest percentile with at
    * least ten samples beyond it, as (percentile, value). With fewer
    * than eleven samples no such percentile exists and the maximum is
    * reported as p100. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n < 11) (100.0, s.last)
    else (100.0 * (n - 10) / n, s(n - 11))
  }

  // ---- registry ----

  sealed trait Op { def kind: String }
  final case class Search(key: String) extends Op { def kind = "search" }
  final case class Fleet(terms: String, state: Option[String], limit: Int)
      extends Op { def kind = "fleet" }
  final case class Sql(template: Int, args: Seq[String]) extends Op {
    def kind = "sql"
    def text: String = template match {
      case 0 => s"SELECT state, COUNT(*) AS n FROM owners_clean " +
        s"WHERE state IN ('${args(0)}', '${args(1)}') GROUP BY state ORDER BY state"
      case 1 => s"SELECT COUNT(*) AS n FROM aircraft_decoded " +
        s"WHERE year_mfr BETWEEN ${args(0)} AND ${args(1)}"
      case 2 => s"SELECT n_number, owner_name FROM owners_clean " +
        s"WHERE zip = '${args(0)}' ORDER BY n_number"
      case _ => s"SELECT a.maker, COUNT(*) AS n FROM aircraft_decoded a " +
        s"JOIN owners_clean o ON a.n_number = o.n_number " +
        s"WHERE o.state = '${args(0)}' GROUP BY a.maker " +
        s"ORDER BY n DESC, a.maker LIMIT 5"
    }
  }
  /** status / listTables / schemaOf, counted together as "status". */
  final case class Meta(what: String, arg: String = "") extends Op {
    def kind = "status"
  }

  val SearchCols: Seq[String] = Seq("n_number", "serial_no", "maker", "model",
    "year_mfr", "status_code", "reg_status", "status_date", "cert_issue_date",
    "owner_name", "address", "city", "state", "zip")
  val FleetCols: Seq[String] = Seq("n_number", "maker", "model", "year_mfr",
    "reg_status", "owner_name", "city", "state")

  /** The published views' column contracts (hangarbay publish.py). */
  val ViewColumns: Map[String, Seq[String]] = Map(
    "owners_clean" -> Seq("n_number", "owner_type_code", "owner_type",
      "owner_name", "address", "city", "state", "zip"),
    "owners_summary" -> Seq("n_number", "owner_count", "owner_names_concat",
      "any_trust_flag"))

  val TableNames: Seq[String] = Seq("aircraft", "registrations", "owners",
    "aircraft_make_model", "engines")

  /** Whether an op's answer is order-sensitive. */
  def ordered(op: Op): Boolean = op match {
    case Meta("status", _) | Search(_) => false
    case _ => true
  }

  final class RegistryTruth(snap: Snapshot) {
    private val byN: Map[String, Plane] = snap.planes.iterator.map(p => p.n -> p).toMap
    private val sorted: Array[Plane] = snap.planes.sortBy(_.n)
    private val descr = Gen.StatusCodes.toMap
    private def opt[A](o: Option[A]): String = o.map(_.toString).getOrElse("null")

    def expected(op: Op): Rows = op match {
      case Search(key) =>
        val k = key.trim.toUpperCase.stripPrefix("N")
        byN.get(k).toSeq.map { p =>
          val r = snap.refs(p.ref)
          Seq(p.n, p.serial, r.maker, r.model, opt(p.year), p.status,
            descr(p.status), opt(p.lastAction), opt(p.certIssue), p.name,
            p.address, p.city, p.state, p.zip)
        }
      case Fleet(terms, state, limit) =>
        val ts = terms.split('|').map(_.trim.toLowerCase)
        val st = state.map(_.toUpperCase)
        sorted.iterator
          .filter(p => ts.exists(t => p.name.toLowerCase.contains(t)) &&
            st.forall(_ == p.state))
          .take(limit)
          .map { p =>
            val r = snap.refs(p.ref)
            Seq(p.n, r.maker, r.model, opt(p.year), descr(p.status), p.name,
              p.city, p.state)
          }.toSeq
      case Sql(0, args) =>
        args.distinct.sorted.flatMap { s =>
          val n = snap.planes.count(_.state == s)
          if (n > 0) Some(Seq(s, n.toString)) else None
        }
      case Sql(1, args) =>
        val (lo, hi) = (args(0).toInt, args(1).toInt)
        Seq(Seq(snap.planes.count(_.year.exists(y => y >= lo && y <= hi)).toString))
      case Sql(2, args) =>
        sorted.iterator.filter(_.zip == args(0)).map(p => Seq(p.n, p.name)).toSeq
      case Sql(_, args) =>
        snap.planes.iterator.filter(_.state == args(0))
          .map(p => snap.refs(p.ref).maker).toSeq
          .groupBy(identity).map { case (m, xs) => (m, xs.size) }.toSeq
          .sortBy { case (m, n) => (-n, m) }.take(5)
          .map { case (m, n) => Seq(m, n.toString) }
      case Meta("status", _) =>
        Seq(Seq("aircraft", snap.planes.length.toString),
          Seq("registrations", snap.planes.length.toString),
          Seq("owners", snap.planes.length.toString),
          Seq("aircraft_make_model", snap.refs.length.toString),
          Seq("engines", snap.engines.toString))
      case Meta("list", _) =>
        (TableNames ++ Seq("aircraft_decoded", "owners_clean", "owners_summary"))
          .map(Seq(_))
      case Meta(_, view) => ViewColumns(view).map(Seq(_))
    }

    def check(op: Op, actual: Rows): Boolean =
      sameRows(expected(op), actual, ordered(op))
  }

  /** A seeded closed-loop request mix: 60% search (Zipf-skewed keys,
    * ~10% misses, "N"/case/space variants), 25% fleet, 10% SQL, 5%
    * status/listTables/schemaOf. The kinds follow one fixed cycle of
    * twenty and the SQL requests take the four templates in turn; the
    * seed draws each request's keys, terms and parameters. A run serves
    * only a few dozen requests, so a fixed order keeps the mix's
    * proportions in every run and runs with different seeds comparable. */
  final class Mix(seed: Long, snap: Snapshot) {
    private val rng = new java.util.SplittableRandom(seed * 31L + 7L)
    private val perm = Gen.permutation(rng, snap.planes.length)
    private val keyZipf = new Gen.Zipf(snap.planes.length, 0.9)
    private val surZipf = new Gen.Zipf(snap.surnames.length, 1.0)
    // S = search, F = fleet, Q = SQL, M = status/listTables/schemaOf
    private val cycle = "SFSSQSFSSMSFSSQSFSFS"
    private var turn = 0
    private var sqlTurn = 0
    private var metaTurn = 0

    private def variant(k: String): String = {
      val a = if (rng.nextInt(10) < 3) "N" + k else k
      val b = if (rng.nextInt(10) < 3) a.toLowerCase else a
      if (rng.nextInt(10) < 3) s"  $b " else b
    }
    private def anyCase(s: String): String = rng.nextInt(3) match {
      case 0 => s.toLowerCase
      case 1 => s.head + s.tail.toLowerCase
      case _ => s
    }
    private def state(): String = Gen.States(rng.nextInt(Gen.States.length))._1

    def next(): Op = {
      turn += 1
      cycle((turn - 1) % cycle.length) match {
        case 'S' =>
          val key =
            if (rng.nextInt(10) == 0) s"${100 + rng.nextInt(snap.planes.length / 2 + 1)}Z"
            else snap.planes(perm(keyZipf.sample(rng))).n
          Search(variant(key))
        case 'F' =>
          val terms = (0 until 1 + rng.nextInt(3))
            .map(_ => anyCase(snap.surnames(surZipf.sample(rng))))
          Fleet(terms.mkString(" | "),
            if (rng.nextBoolean()) Some(anyCase(state())) else None,
            Seq(10, 25, 50)(rng.nextInt(3)))
        case 'Q' =>
          sqlTurn += 1
          (sqlTurn - 1) % 4 match {
            case 0 => Sql(0, Seq(state(), state()))
            case 1 =>
              val lo = 1950 + rng.nextInt(60)
              Sql(1, Seq(lo.toString, (lo + rng.nextInt(15)).toString))
            case 2 => Sql(2, Seq(snap.zips(rng.nextInt(snap.zips.length))))
            case _ => Sql(3, Seq(state()))
          }
        case _ =>
          metaTurn += 1
          metaTurn % 4 match {
            case 1 => Meta("status")
            case 2 => Meta("schema", "owners_clean")
            case 3 => Meta("list")
            case _ => Meta("schema", "owners_summary")
          }
      }
    }
  }

  // ---- corpus ----

  /** Spark's clean-text rule: trim, collapse whitespace, upper-case. */
  def cleanKey(t: String): String =
    t.trim.replaceAll("\\s+", " ").toUpperCase

  def tokens(t: String): Array[String] =
    t.trim.toLowerCase.split("\\s+")

  /** Exact-duplicate groups as (min id, copies), copies > 1. */
  def exactGroups(docs: Seq[Gen.Doc]): Set[(Long, Long)] =
    docs.groupBy(d => cleanKey(d.text)).valuesIterator
      .filter(_.size > 1).map(g => (g.map(_.id).min, g.size.toLong)).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (tokens(a).toSet, tokens(b).toSet)
    (x & y).size.toDouble / (x | y).size
  }

  def round4(x: Double): Double = BigDecimal(x).setScale(4,
    BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Documents sharing a word 8-gram with any benchmark document. */
  def contaminated(c: Corpus, n: Int = 8): Set[Long] = {
    def grams(t: String): Iterator[String] = {
      val tk = tokens(t)
      if (tk.length < n) Iterator.empty else tk.sliding(n).map(_.mkString(" "))
    }
    val bench = c.bench.iterator.flatMap(d => grams(d.text)).toSet
    c.docs.iterator.filter(d => grams(d.text).exists(bench)).map(_.id).toSet
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Every reported similarity must be the true cosine (to the 4 dp
    * graft rounds to). */
  def simsTrue(vecs: Map[Long, Array[Float]],
      edges: Seq[(Long, Long, Double)]): Boolean =
    edges.forall { case (a, b, s) =>
      math.abs(cosine(vecs(a), vecs(b)) - s) <= 2e-4
    }

  /** Fraction of planted pairs present in a found pair set (either
    * orientation). */
  def recall(planted: Seq[(Long, Long)], found: Set[(Long, Long)]): Double =
    if (planted.isEmpty) 1.0
    else planted.count { case (a, b) => found((a, b)) || found((b, a)) }
      .toDouble / planted.size

  /** A k-NN graph as (vec_id, rank, nbr_id, sim floored to 4 dp). */
  type Graph = Set[(Long, Long, Long, Double)]

  def sameGraph(expected: Graph, actual: Graph): Boolean = expected == actual

  /** Share of query neighbours the approximate answer shares with the
    * exact one, over all queries. */
  def recallAtK(exact: Map[Long, Set[Long]], approx: Map[Long, Set[Long]]): Double = {
    val total = exact.valuesIterator.map(_.size).sum
    if (total == 0) 1.0
    else exact.iterator.map { case (q, ns) =>
      (ns & approx.getOrElse(q, Set.empty)).size }.sum.toDouble / total
  }
}
