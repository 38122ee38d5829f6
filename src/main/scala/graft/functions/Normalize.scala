package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level normalization functions.
  *
  * Re-expresses the reference's row-at-a-time Python cleaning
  * (hangarbay/address.py: clean_text, standardize_state,
  * standardize_zip, combine_address; pipelines/normalize.py:34
  * generate_owner_id, :123 date parsing) as pure Catalyst column
  * expressions — every function here compiles to built-in codegen'd
  * expressions (no UDFs), so they stay inside whole-stage codegen and
  * scale linearly with input splits.
  */
object Normalize {

  /** trim + collapse internal whitespace + uppercase
    * (address.py:27 clean_text). */
  /** Unicode NFC canonical composition ([[graft.plans.NfcNormalize]]
    * codegen expression): visually identical strings become
    * byte-identical before hashing/dedup/joins. */
  def nfc(c: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.NfcNormalize(GraftBridge.expression(c)))
  }

  def cleanText(c: Column): Column =
    upper(regexp_replace(trim(c), "\\s+", " "))

  /** USPS state-name → 2-letter code map (address.py:8). */
  val UsStateMap: Map[String, String] = Map(
    "ALABAMA" -> "AL", "ALASKA" -> "AK", "ARIZONA" -> "AZ",
    "ARKANSAS" -> "AR", "CALIFORNIA" -> "CA", "COLORADO" -> "CO",
    "CONNECTICUT" -> "CT", "DELAWARE" -> "DE", "FLORIDA" -> "FL",
    "GEORGIA" -> "GA", "HAWAII" -> "HI", "IDAHO" -> "ID",
    "ILLINOIS" -> "IL", "INDIANA" -> "IN", "IOWA" -> "IA",
    "KANSAS" -> "KS", "KENTUCKY" -> "KY", "LOUISIANA" -> "LA",
    "MAINE" -> "ME", "MARYLAND" -> "MD", "MASSACHUSETTS" -> "MA",
    "MICHIGAN" -> "MI", "MINNESOTA" -> "MN", "MISSISSIPPI" -> "MS",
    "MISSOURI" -> "MO", "MONTANA" -> "MT", "NEBRASKA" -> "NE",
    "NEVADA" -> "NV", "NEW HAMPSHIRE" -> "NH", "NEW JERSEY" -> "NJ",
    "NEW MEXICO" -> "NM", "NEW YORK" -> "NY", "NORTH CAROLINA" -> "NC",
    "NORTH DAKOTA" -> "ND", "OHIO" -> "OH", "OKLAHOMA" -> "OK",
    "OREGON" -> "OR", "PENNSYLVANIA" -> "PA", "RHODE ISLAND" -> "RI",
    "SOUTH CAROLINA" -> "SC", "SOUTH DAKOTA" -> "SD",
    "TENNESSEE" -> "TN", "TEXAS" -> "TX", "UTAH" -> "UT",
    "VERMONT" -> "VT", "VIRGINIA" -> "VA", "WASHINGTON" -> "WA",
    "WEST VIRGINIA" -> "WV", "WISCONSIN" -> "WI", "WYOMING" -> "WY",
    "DISTRICT OF COLUMBIA" -> "DC", "PUERTO RICO" -> "PR",
    "GUAM" -> "GU", "VIRGIN ISLANDS" -> "VI", "AMERICAN SAMOA" -> "AS",
    "NORTHERN MARIANA ISLANDS" -> "MP")

  /** Generic code normalization: already-2-letter codes pass through,
    * known long forms map via a broadcast literal map, unknowns fall
    * back to the first two characters (address.py:52
    * standardize_state generalized to any mapping). */
  def codeNormalize(c: Column, mapping: Map[String, String]): Column = {
    val cl = upper(trim(c))
    val m = typedLit(mapping)
    when(cl.rlike("^[A-Z]{2}$"), cl)
      .otherwise(coalesce(element_at(m, cl), substring(cl, 1, 2)))
  }

  /** State → USPS 2-letter abbreviation. */
  def usState(c: Column): Column = codeNormalize(c, UsStateMap)

  /** ZIP → 5 digits: strip non-digits, take first 5, left-pad zeros
    * (address.py:75 standardize_zip). */
  def zip5(c: Column): Column = {
    val digits = regexp_replace(c.cast("string"), "\\D", "")
    when(length(digits) > 0, lpad(substring(digits, 1, 5), 5, "0"))
      .otherwise(lit(""))
  }

  /** Null/empty-safe combination of address lines with a single space
    * (address.py:98 combine_address). concat_ws skips NULLs, so empty
    * strings are first turned into NULLs. */
  def combineFields(cols: Column*): Column =
    concat_ws(" ", cols.map(c => nullif(cleanText(c), lit(""))): _*)

  /** Deterministic 64-bit surrogate key over key fields, pipe-joined —
    * same shape as the reference's xxhash64 owner_id
    * (normalize.py:34-55) but computed by Spark's native, codegen'd
    * XxHash64 expression. NULL fields become empty slots (coalesce)
    * so field boundaries survive — concat_ws alone would silently
    * drop NULLs and merge distinct owners ("a|NULL|b" vs "a|b|NULL"
    * must not collide). Scale note: pure map-side, no shuffle. */
  def stableId64(cols: Column*): Column =
    xxhash64(concat_ws("|",
      cols.map(c => coalesce(c.cast("string"), lit(""))): _*))

  /** yyyyMMdd integer/string → DateType, invalid → NULL (ANSI off),
    * matching pandas to_datetime(errors="coerce") at
    * normalize.py:123. The formatter is the MEASURED winner: an
    * arithmetic rewrite (8-digit range guard + make_date) was
    * prototyped and rejected — interleaved A/B on sf1.0 orders
    * had the formatter at 1.7 s vs 2.4 s for
    * make_date, because MakeDate constructs a validity-checked
    * java.time.LocalDate per row while Spark 4's digit-pattern parse
    * is cheaper than it looks (identical output, 0 divergent rows).
    * PropertySpec pins this against java.time.LocalDate on mixed
    * valid/invalid/junk input. */
  def parseYyyymmdd(c: Column): Column =
    to_date(c.cast("string"), "yyyyMMdd")

  /** Registration-key normalization: uppercase, trim, strip a leading
    * "N" (api.py:171-174 search()'s n-number handling). */
  def normalizeKey(c: Column): Column =
    regexp_replace(upper(trim(c)), "^N", "")

  private def wrap(e: org.apache.spark.sql.catalyst.expressions.Expression) = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(e)
  }
  private def expr(c: Column) = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.expression(c)
  }

  /** DateType → yyyyMMdd int via pure integer civil-date arithmetic
    * ([[graft.plans.DateToYyyymmdd]]) — replaces
    * `date_format(d, "yyyyMMdd").cast("int")`'s per-row java.time
    * formatter on int-coded-date hot paths (normalize.py:123's FAA
    * int dates). PlansSpec pins bit-equality against date_format. */
  def dateToYyyymmdd(c: Column): Column =
    wrap(graft.plans.DateToYyyymmdd(expr(c)))

  /** yyyyMMdd int → ISO "yyyy-MM-dd" string, invalid → NULL
    * ([[graft.plans.YyyymmddToIso]]) — the fused form of
    * `date_format(parseYyyymmdd(v), "yyyy-MM-dd")` for int input,
    * all-integer validation + direct byte rendering (no java.time).
    * PlansSpec pins equality against the formatter composition over
    * random and adversarial ints. */
  def yyyymmddToIso(c: Column): Column =
    wrap(graft.plans.YyyymmddToIso(expr(c)))

  /** yyyyMMdd int → DateType, invalid → NULL
    * ([[graft.plans.YyyymmddToDate]]): the int-typed fast path of
    * [[parseYyyymmdd]] (which stays on the string surface — casts,
    * junk coercion — where the measured formatter wins). */
  def yyyymmddToDate(c: Column): Column =
    wrap(graft.plans.YyyymmddToDate(expr(c)))

  /** Top-level JSON long-field extraction with full-document
    * validation, malformed/absent/non-integral → NULL
    * ([[graft.plans.JsonLongField]]) — the fixed-shape fast path of
    * `from_json(s, struct<f: long>).f` (no Jackson parser object,
    * no row materialization per input). */
  def jsonLongField(c: Column, field: String): Column =
    wrap(graft.plans.JsonLongField(expr(c), field))

  /** URL canonicalization for URL-level dedup (t32): lowercase the
    * scheme+authority (per RFC 3986 only those are case-insensitive
    * — path and query keep their case), strip the scheme's OWN
    * default port only (https:443 / http:80 — an http://h:443 is a
    * different origin per RFC 6454 and must survive), drop the
    * fragment and the tracking parameters (utm_*, ref), and tidy
    * dangling separators. Tracking removal is separator-anchored so
    * `href=`/`pref=` params and path segments like `/ref=sr_1` are
    * untouched; it runs in two passes (`&`-prefixed params, then the
    * one possible `?`-prefixed leader) because both Java regex and
    * the RE2 oracle resume scanning after a consumed separator —
    * lookbehind is not RE2-expressible. A pure regexp/substr
    * composition (codegen, zero shuffle); the grouping a URL-dedup
    * pass then does on the canonical form is the one shuffle of that
    * pipeline stage. */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val prefix =
      regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", 0)
    val rest = noFrag.substr(length(prefix) + lit(1), length(noFrag))
    val canonPrefix = regexp_replace(
      regexp_replace(lower(prefix), "^(https://[^/:]+):443$", "$1"),
      "^(http://[^/:]+):80$", "$1")
    // pass 1 strips every &-prefixed tracking param (separator
    // consumed WITH the param, so runs never break); pass 2 strips
    // the at-most-one ?-prefixed leader, keeping the '?'
    val noAmp = regexp_replace(rest, "&(utm_[a-z]+|ref)=[^&]*", "")
    val noTrack =
      regexp_replace(noAmp, "\\?(utm_[a-z]+|ref)=[^&]*&?", "?")
    concat(canonPrefix, regexp_replace(noTrack, "[?&]+$", ""))
  }
}
