package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded input generators. Every input the benchmark hands graft is a
  * pure function of (seed, size): the same seed gives byte-identical
  * inputs in any JVM, and the canonical values each dirty input was
  * rendered from are kept next to it, so every answer graft returns
  * can be checked against ground truth computed without graft. */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def pick[A](rng: SplittableRandom, xs: IndexedSeq[A]): A =
    xs(rng.nextInt(xs.length))

  /** Fisher-Yates permutation of 0 until n. */
  def permutation(rng: SplittableRandom, n: Int): Array[Int] = {
    val p = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  def sha256(parts: Array[Byte]*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  // ------------------------------------------------------------------
  // FAA-shaped registry snapshot (MASTER / ACFTREF / ENGINE CSV)
  // ------------------------------------------------------------------

  /** USPS codes and names (the standard table, not graft's copy). */
  val States: IndexedSeq[(String, String)] = IndexedSeq(
    "TX" -> "Texas", "CA" -> "California", "FL" -> "Florida",
    "NY" -> "New York", "WA" -> "Washington", "AK" -> "Alaska",
    "AZ" -> "Arizona", "CO" -> "Colorado", "GA" -> "Georgia",
    "IL" -> "Illinois", "MI" -> "Michigan", "NC" -> "North Carolina",
    "OH" -> "Ohio", "OR" -> "Oregon", "PA" -> "Pennsylvania",
    "VA" -> "Virginia", "MN" -> "Minnesota", "WI" -> "Wisconsin",
    "NV" -> "Nevada", "NM" -> "New Mexico")

  /** FAA registration status codes and their codebook descriptions. */
  val StatusCodes: IndexedSeq[(String, String)] = IndexedSeq(
    "V" -> "Valid", "M" -> "Valid - Manufacturer/Dealer",
    "T" -> "Valid - Trainee", "R" -> "Registration Pending",
    "D" -> "Expired Dealer")

  private val Makers = IndexedSeq("CESSNA", "PIPER", "BEECH", "CIRRUS",
    "MOONEY", "DIAMOND", "BOEING", "AIRBUS", "EMBRAER", "BELL",
    "ROBINSON", "GRUMMAN", "LUSCOMBE", "AERONCA", "MAULE", "VANS")
  private val Cities = IndexedSeq("SPRINGFIELD", "RIVERSIDE", "FAIRVIEW",
    "MADISON", "GEORGETOWN", "CLINTON", "SALEM", "FRANKLIN", "GREENVILLE",
    "BRISTOL", "DOVER", "ASHLAND", "BURLINGTON", "MANCHESTER", "OXFORD",
    "MILTON", "NEWPORT", "CLAYTON", "MARION", "AUBURN")
  private val Streets = IndexedSeq("MAIN", "OAK", "AIRPORT", "HANGAR",
    "LINDBERGH", "RUNWAY", "CEDAR", "PARK", "LAKE", "HILL")
  private val Suffixes = IndexedSeq("ST", "RD", "AVE", "BLVD", "DR", "LN")
  private val Kinds = IndexedSeq("AVIATION LLC", "AIR INC", "FLYING CLUB",
    "LEASING CORP", "AERO HOLDINGS", "FLIGHT SCHOOL", "JAMES", "MARY",
    "ROBERT", "LINDA", "MICHAEL", "SUSAN", "TRUST")
  private val Syllables = IndexedSeq("AL", "BER", "CAR", "DEN", "EL",
    "FOR", "GAR", "HOL", "IN", "JOR", "KEL", "LAN", "MOR", "NOR", "OL",
    "PER", "QUIN", "ROS", "STER", "TON", "VAN", "WIL", "YAR", "ZEL")

  final case class MakeModel(code: String, maker: String, model: String)

  /** One aircraft with its owner, in CANONICAL form: what graft's
    * normalization must produce from the dirty MASTER row. */
  final case class Plane(
      n: String, serial: String, ref: Int, engine: Int,
      year: Option[Int], status: String,
      lastAction: Option[LocalDate], certIssue: Option[LocalDate],
      ownerType: String, name: String, street: String, street2: String,
      city: String, state: String, zip: String) {
    def address: String = if (street2.isEmpty) street else s"$street $street2"
  }

  final case class Snapshot(
      planes: Array[Plane], refs: Array[MakeModel], engines: Int,
      surnames: Array[String], zips: Array[String],
      master: Array[Byte], acftref: Array[Byte], engine: Array[Byte]) {
    def digest: String = sha256(master, acftref, engine)
  }

  /** N-numbers are digit-first and unique; no generated one ends in Z,
    * which is how the serving mix builds guaranteed misses. */
  def nNumber(i: Int): String =
    s"${100 + i / 2}${if (i % 2 == 1) "A" else ""}"

  private def messyCase(rng: SplittableRandom, s: String): String =
    s.split(' ').map { w =>
      rng.nextInt(4) match {
        case 0 => w.toLowerCase
        case 1 => w.head + w.tail.toLowerCase
        case _ => w
      }
    }.mkString(" ")

  /** Case noise plus doubled inner and padded outer spaces: what
    * clean-text normalization (trim, collapse, upper) undoes. */
  private def messyText(rng: SplittableRandom, s: String): String = {
    val inner = messyCase(rng, s).split(' ')
      .map(w => if (rng.nextInt(5) == 0) w + " " else w).mkString(" ")
    (if (rng.nextInt(5) == 0) " " else "") + inner +
      (if (rng.nextInt(5) == 0) " " else "")
  }

  private def pad(rng: SplittableRandom, s: String): String =
    if (rng.nextInt(4) == 0) s" $s " else s

  /** Zero-padded decimal, without the cost of a format string. */
  private def pad0(n: Int, width: Int): String = {
    val s = n.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  private def rawDate(rng: SplittableRandom, d: Option[LocalDate]): String =
    d match {
      case Some(x) => (x.getYear * 10000 + x.getMonthValue * 100 + x.getDayOfMonth).toString
      // invalid month renders as a well-formed but unparseable yyyyMMdd
      case None => if (rng.nextBoolean()) "" else s"${1990 + rng.nextInt(30)}13${10 + rng.nextInt(18)}"
    }

  private def someDate(rng: SplittableRandom): Option[LocalDate] =
    if (rng.nextInt(10) == 0) None
    else Some(LocalDate.of(1980, 1, 1).plusDays(rng.nextInt(16000).toLong))

  def registry(seed: Long, nPlanes: Int): Snapshot = {
    val rng = new SplittableRandom(seed * 1000003L + 17L)
    val refs = Array.tabulate(800) { i =>
      MakeModel((1000000 + i).toString, pick(rng, Makers),
        s"${('A' + rng.nextInt(26)).toChar}${100 + rng.nextInt(900)}")
    }
    val nEngines = 200
    val surnames = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 3000)
        seen += (0 until 2 + rng.nextInt(2)).map(_ => pick(rng, Syllables)).mkString
      seen.toArray
    }
    val zips = Array.fill(20000)(pad0(1000 + rng.nextInt(99000), 5))
    val surnameZipf = new Zipf(surnames.length, 1.0)
    val planes = Array.tabulate(nPlanes) { i =>
      val sur = surnames(surnameZipf.sample(rng))
      Plane(
        n = nNumber(i),
        serial = s"${('A' + rng.nextInt(26)).toChar}${rng.nextInt(1000000)}",
        ref = rng.nextInt(refs.length),
        engine = rng.nextInt(nEngines),
        year = if (rng.nextInt(12) == 0) None else Some(1950 + rng.nextInt(74)),
        status = pick(rng, StatusCodes)._1,
        lastAction = someDate(rng),
        certIssue = someDate(rng),
        ownerType = (1 + rng.nextInt(5)).toString,
        name = s"$sur ${pick(rng, Kinds)}",
        street = s"${1 + rng.nextInt(9999)} ${pick(rng, Streets)} ${pick(rng, Suffixes)}",
        street2 = if (rng.nextInt(5) == 0) s"STE ${1 + rng.nextInt(400)}" else "",
        city = pick(rng, Cities),
        state = pick(rng, States)._1,
        zip = pick(rng, zips))
    }
    val stateName = States.toMap

    // ---- dirty renderings ----
    val m = new java.lang.StringBuilder(nPlanes * 200)
    // real FAA dumps carry stray whitespace in header names
    m.append("N-NUMBER,SERIAL NUMBER,MFR MDL CODE,ENG MFR MDL,YEAR MFR,")
      .append("TYPE REGISTRANT,NAME ,STREET,STREET2,CITY,STATE,ZIP CODE,")
      .append("LAST ACTION DATE,CERT ISSUE DATE,CERTIFICATION,TYPE AIRCRAFT,")
      .append("STATUS CODE,MODE S CODE,EXPIRATION DATE, MODE S CODE HEX\n")
    planes.foreach { p =>
      val year = p.year.map(_.toString).getOrElse(
        IndexedSeq("", "UNK", "19X8")(rng.nextInt(3)))
      val state = rng.nextInt(10) match {
        case k if k < 4 => p.state
        case k if k < 7 => messyCase(rng, stateName(p.state))
        case _ => s" ${p.state.toLowerCase}"
      }
      val zip = rng.nextInt(10) match {
        case k if k < 4 => p.zip
        case k if k < 7 => s"${p.zip}-${1000 + rng.nextInt(9000)}"
        case _ => p.zip.dropWhile(_ == '0')
      }
      val modeS = rng.nextInt(1 << 24)
      val fields = Seq(
        pad(rng, p.n), pad(rng, p.serial), refs(p.ref).code,
        pad0(p.engine, 5), year, p.ownerType, messyText(rng, p.name),
        messyText(rng, p.street), if (p.street2.isEmpty) "" else messyText(rng, p.street2),
        messyText(rng, p.city), state, zip,
        rawDate(rng, p.lastAction), rawDate(rng, p.certIssue),
        "1T", (4 + rng.nextInt(3)).toString, pad(rng, p.status),
        Integer.toOctalString(modeS), rawDate(rng, someDate(rng)),
        Integer.toHexString(modeS).toUpperCase)
      m.append(fields.mkString(",")).append('\n')
    }
    val a = new java.lang.StringBuilder
    a.append("CODE,MFR,MODEL,TYPE-ACFT,TYPE-ENG,AC-CAT,NO-SEATS\n")
    refs.foreach { r =>
      a.append(Seq(r.code, pad(rng, r.maker), pad(rng, r.model),
        (4 + rng.nextInt(3)).toString, (1 + rng.nextInt(5)).toString, "1",
        (1 + rng.nextInt(400)).toString).mkString(",")).append('\n')
    }
    val e = new java.lang.StringBuilder
    e.append("CODE,MFR,MODEL,TYPE,HORSEPOWER\n")
    (0 until nEngines).foreach { i =>
      e.append(Seq(pad0(i, 5), pick(rng, Makers), s"E-${rng.nextInt(900)}",
        (1 + rng.nextInt(5)).toString, (80 + rng.nextInt(900)).toString)
        .mkString(",")).append('\n')
    }
    Snapshot(planes, refs, nEngines, surnames, zips,
      m.toString.getBytes(UTF_8), a.toString.getBytes(UTF_8),
      e.toString.getBytes(UTF_8))
  }

  // ------------------------------------------------------------------
  // Document + embedding corpus (ScaleGen's "fresh" family)
  // ------------------------------------------------------------------

  /** The fresh family's 30-word uniform vocabulary. */
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge",
    "table", "column", "vector", "stream", "value", "data", "small",
    "join", "filter", "big", "group", "hash", "customer", "sort", "order",
    "slow", "line", "part", "fast", "the", "row", "agg", "key", "query",
    "a", "scan", "batch")

  final case class Doc(id: Long, text: String, source: String)
  final case class Vec(id: Long, v: Array[Float])

  final case class Corpus(
      docs: Array[Doc], bench: Array[Doc], vecs: Array[Vec],
      queries: Array[Vec], nearTwins: Array[(Long, Long)],
      vecTwins: Array[(Long, Long)]) {
    def digest: String = sha256(
      docs.map(d => s"${d.id}\t${d.text}\t${d.source}\n").mkString.getBytes(UTF_8),
      bench.map(d => s"${d.id}\t${d.text}\n").mkString.getBytes(UTF_8),
      (vecs ++ queries).map(v => s"${v.id}:${v.v.mkString(",")}\n").mkString
        .getBytes(UTF_8))
  }

  /** Query ids sit far above every corpus id. */
  val QueryIdBase: Long = 10000000L

  private def words(rng: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(pick(rng, Vocab))

  private def unit(x: Array[Double]): Array[Float] = {
    val norm = math.sqrt(x.map(v => v * v).sum)
    x.map(v => (v / norm).toFloat)
  }

  private def gauss(rng: SplittableRandom, dim: Int): Array[Double] =
    Array.fill(dim) {
      val u1 = math.max(rng.nextDouble(), 1e-12)
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * rng.nextDouble())
    }

  /** `nDocs` documents (5% near-twins of their predecessor, 1% exact
    * copies of an earlier document under case/space noise, 1% carrying
    * a 12-token span of a benchmark document), 200 benchmark
    * documents, `nVecs` unit 64-dim gaussians (2% noisy twins of their
    * predecessor, cos ≈ 0.95) and `nQueries` query vectors near
    * random corpus vectors. */
  def corpus(seed: Long, nDocs: Int, nVecs: Int, nQueries: Int): Corpus = {
    val rng = new SplittableRandom(seed * 7919L + 3L)
    val bench = Array.tabulate(200)(i =>
      Doc(i.toLong, words(rng, 20 + rng.nextInt(21)).mkString(" "), "eval"))
    val texts = new Array[String](nDocs)
    val isBase = new Array[Boolean](nDocs)
    val twins = Array.newBuilder[(Long, Long)]
    (0 until nDocs).foreach { i =>
      val r = rng.nextInt(100)
      texts(i) =
        if (r < 5 && i > 0 && isBase(i - 1)) {
          twins += ((i - 1).toLong -> i.toLong)
          texts(i - 1) + " dup"
        } else if (r < 6 && i > 10) {
          val src = texts(rng.nextInt(i)).split(' ')
          src.map(w => if (rng.nextBoolean()) w.toUpperCase else w)
            .mkString(if (rng.nextBoolean()) "  " else " ")
        } else if (r < 7) {
          val b = bench(rng.nextInt(bench.length)).text.split(' ')
          val from = rng.nextInt(b.length - 12 + 1)
          val body = words(rng, 10 + rng.nextInt(60))
          val at = rng.nextInt(body.length + 1)
          (body.take(at) ++ b.slice(from, from + 12) ++ body.drop(at)).mkString(" ")
        } else {
          isBase(i) = true
          words(rng, 10 + rng.nextInt(91)).mkString(" ")
        }
    }
    val docs = Array.tabulate(nDocs)(i =>
      Doc(i.toLong, texts(i), s"src${rng.nextInt(20)}"))
    val raw = new Array[Array[Float]](nVecs)
    val vTwins = Array.newBuilder[(Long, Long)]
    var prevBase = false
    (0 until nVecs).foreach { i =>
      val g = gauss(rng, 64)
      raw(i) =
        if (prevBase && rng.nextInt(50) == 0) {
          vTwins += ((i - 1).toLong -> i.toLong)
          prevBase = false
          unit(Array.tabulate(64)(d => 0.95 * raw(i - 1)(d) + 0.312 * g(d) / 8.0))
        } else { prevBase = true; unit(g) }
    }
    val vecs = Array.tabulate(nVecs)(i => Vec(i.toLong, raw(i)))
    val queries = Array.tabulate(nQueries) { q =>
      val src = raw(rng.nextInt(nVecs))
      val g = gauss(rng, 64)
      Vec(QueryIdBase + q,
        unit(Array.tabulate(64)(d => 0.8 * src(d) + 0.6 * g(d) / 8.0)))
    }
    Corpus(docs, bench, vecs, queries, twins.result(), vTwins.result())
  }
}
