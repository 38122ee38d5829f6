package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Normalize, TextFns}
import graft.operators.{Dedup, Multimodal, Packing, Quality, Relational, Similarity, Temporal}
import graft.streaming.Streams

/** Driver contract — queries keyed by SURVEY.md §2, each with a DuckDB
  * oracle twin in [[oracleSql]] (same column names/aliases, same
  * deterministic ORDER BY, floats rounded identically on both sides).
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. Decoded-view star join (reference's aircraft_decoded). */
  def entry(spark: SparkSession): DataFrame =
    q03(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------
  // Relational / query core
  // ---------------------------------------------------------------

  /** q01: multi-agg groupBy with map-side partial agg (TPC-H Q1
    * shape — the reference's `hangar sql` analytics path). */
  private def q01(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q02: filter + projection — both pushed to the parquet scan. */
  private def q02(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber").cast("long")
        .as("l_linenumber"), col("l_extendedprice"))
      .orderBy("l_orderkey", "l_linenumber")

  /** q03: decoded view — fact LEFT JOIN four broadcast dims
    * (reference's aircraft_decoded, publish.py:156-183). */
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    val part = T(s, dir, "part")
    val supp = T(s, dir, "supplier")
    val nation = T(s, dir, "nation")
    val region = T(s, dir, "region")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"), "left")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"), "left")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"), "left")
      .select(col("l_orderkey"), col("l_linenumber").cast("long")
        .as("l_linenumber"), col("p_name"), col("s_name"), col("n_name"),
        col("r_name"), col("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** q04: normalized exact-key lookup + dim enrichment — hb.search. */
  private def q04(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
    val nation = T(s, dir, "nation")
    val region = T(s, dir, "region")
    Relational.keyLookup(cust, col("c_name"), "customer#000000042",
        Seq(
          nation -> (col("c_nationkey") === col("n_nationkey")),
          region -> (col("n_regionkey") === col("r_regionkey"))))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("n_name"), col("r_name"))
      .orderBy("c_custkey")
  }

  /** q05: multi-term LIKE OR + equality filter + order + limit —
    * hb.fleet. */
  private def q05(s: SparkSession, dir: String): DataFrame =
    Relational.fleetSearch(
        T(s, dir, "customer"),
        searchCol = col("c_name"),
        terms = Seq("00001", "00002"),
        filters = Seq(col("c_mktsegment") === "MACHINERY"),
        orderBy = Seq(col("c_custkey")),
        limit = 50)
      .select("c_custkey", "c_name", "c_mktsegment")

  /** q06: per-key count + deterministic string_agg + bool_or —
    * reference's owners_summary. */
  private def q06(s: SparkSession, dir: String): DataFrame =
    Relational.groupSummary(T(s, dir, "orders"), "o_custkey",
        col("o_orderstatus"), col("o_totalprice") > 100000)
      .orderBy("o_custkey")

  /** q07: inline code-book decode (literal map lookup, unknown codes
    * to a default) — status_codes decode. */
  private def q07(s: SparkSession, dir: String): DataFrame =
    Relational.decode(T(s, dir, "orders"), "o_orderstatus",
        Seq("O" -> "Open", "F" -> "Finished", "P" -> "Pending"),
        "status_descr", default = Some("Unknown"))
      .groupBy("status_descr").agg(count(lit(1)).as("n"))
      .orderBy("status_descr")

  /** q08: group-count top-N (TakeOrderedAndProject, no global sort). */
  private def q08(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part").groupBy("p_brand")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("p_brand")).limit(10)

  /** q09: latest-record-per-key via window row_number. */
  private def q09(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    T(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .orderBy("o_custkey")
  }

  /** q10: distinct counts — [[operators.ExactDistinct]]'s one-scan
    * form when the footer row count fits its gate (every scan task
    * pre-distincts into primitive sets, driver merges packed keys —
    * one job, no shuffle, no Expand; sf1.0: 0.60 s → 0.26 s); above
    * the gate or on any overflow, the distributed form — one
    * two-phase distinct per key column, crossJoined (column-pruned
    * scans, only per-column distinct values shuffled, the three
    * branches parallel stages of one job) — which is the 100 TB
    * route. */
  private def q10(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_partkey", "l_suppkey", "l_orderkey")
    val names = Seq("n_parts", "n_supps", "n_orders")
    val li = T(s, dir, "lineitem")
    val fast =
      try operators.ExactDistinct.longCounts(li, cols,
        operators.ExactDistinct.parquetRowCount(s, s"$dir/lineitem.parquet"))
      catch { case scala.util.control.NonFatal(_) => None }
    fast match {
      case Some(cnts) =>
        import org.apache.spark.sql.types.{StructField, StructType}
        s.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(cnts: _*)),
          StructType(names.map(n =>
            StructField(n, org.apache.spark.sql.types.LongType,
              nullable = false))))
      case None =>
        def dc(c: String, as: String): DataFrame =
          li.select(col(c)).distinct().agg(count(col(c)).as(as))
        dc(cols(0), names(0))
          .crossJoin(dc(cols(1), names(1)))
          .crossJoin(dc(cols(2), names(2)))
    }
  }

  /** q11: EXISTS / NOT EXISTS as left_semi / left_anti joins. */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
    val orders = T(s, dir, "orders")
    val cond = col("c_custkey") === col("o_custkey")
    val withO = cust.join(orders, cond, "left_semi")
      .agg(count(lit(1)).as("n")).select(lit("with_orders").as("grp"), col("n"))
    val withoutO = cust.join(orders, cond, "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("without_orders").as("grp"), col("n"))
    withO.unionAll(withoutO).orderBy("grp")
  }

  /** q12: CASE WHEN inside aggregates (pivot-style conditional agg). */
  private def q12(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem").groupBy("l_returnflag").agg(
      sum(when(col("l_discount") > 0.05, 1).otherwise(0)).cast("long")
        .as("n_high_disc"),
      round(sum(when(col("l_tax") > 0.04, col("l_extendedprice"))
        .otherwise(0.0)), 2).as("taxed_revenue"),
      count(lit(1)).as("n"))
    .orderBy("l_returnflag")

  /** q13: time-bucketed aggregation (month roll-up). */
  private def q13(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("month")

  /** q14: UNION ALL of normalized branches. */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
      .select(col("c_custkey").as("key"), lit("customer").as("kind"))
    val su = T(s, dir, "supplier")
      .select(col("s_suppkey").as("key"), lit("supplier").as("kind"))
    c.unionAll(su).orderBy("kind", "key")
  }

  /** Shared SQL for q15 — runs verbatim on Spark SQL and DuckDB
    * (hb.query raw-SQL passthrough, api.py:274). */
  // The revenue sum accumulates in DECIMAL, not DOUBLE: at sf1.0 the
  // ~2.7e9 sums from Spark's partial-agg tree and DuckDB's
  // sequential fold differ by ~5e-3 — enough to flip round(x, 2).
  // Per-row products are IEEE-identical in both engines; casting
  // each to DECIMAL(30,6) makes the sum exact and order-independent,
  // so the oracle equality holds at any scale.
  private val q15Sql: String =
    """SELECT n_name,
      |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
      |                      AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
      |FROM orders, lineitem, supplier, nation, region
      |WHERE l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey
      |  AND s_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** q15: raw SQL passthrough over registered temp views. */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(q15Sql)
  }

  /** q16: catalog metadata / row-count introspection — hb.status +
    * list_tables. Row counts come from parquet FOOTER statistics,
    * not scans: a child session (shared context, own SQLConf — the
    * p19 cloned-session pattern, so the flags touch nothing else)
    * takes the DSv2 read path with
    * `spark.sql.parquet.aggregatePushdown`, and the plan shows
    * `PushedAggregation: [COUNT(*)]` — the whole key is a
    * metadata read, exactly how the single-node baseline answers it
    * (measured at sf1.0: 4.0 s scan-count → 0.7 s footer-count,
    * and the gap grows with data; at 100 TB counting by scan is a
    * full-corpus read). Events intentionally bypasses Tables.load's
    * ts normalization here — a count needs no cast, and a projection
    * above the scan would block the pushdown. */
  /** One footer-count child session per parent: q16 used to call
    * `s.newSession()` per invocation, so bench iterations accumulated
    * sessions (each with live SQLConf/listener state) and re-paid the
    * ~1.3 s v2 planning constant SCALE.md records. The map is keyed
    * weakly-enough for this app (one parent session per JVM). */
  private val metaSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]

  private[graft] def metaSession(s: SparkSession): SparkSession =
    metaSessions.computeIfAbsent(s, { parent =>
      val m = parent.newSession()
      m.conf.set("spark.sql.sources.useV1SourceList", "")
      m.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      // NANOS-typed events columns need the legacy long surface on
      // the v2 path too (count ignores the value, but the schema
      // must map)
      m.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      m
    })

  /** The one-table footer count — a DSv2 BatchScan whose COUNT(*) is
    * answered from parquet footer statistics (PushedAggregation),
    * never a data scan. Plan-pinned in PushdownSpec. */
  private[graft] def footerCountFrame(
      meta: SparkSession, path: String): DataFrame =
    meta.read.parquet(path).agg(count(lit(1)).as("n_rows"))

  // path → (file listing, row count). Status calls re-pay only the
  // LIST; the footer-count query (and its per-table DSv2 planning
  // constant, ~80 ms at every scale) runs once per snapshot version.
  private val footerCountCache = new java.util.concurrent
    .ConcurrentHashMap[String, (Option[Seq[(String, Long, Long)]], Long)]

  /** Footer row count of `path`, cached against its file listing
    * ([[Tables.fileListing]], the verbatim (path, length, mtime) list
    * — collision-free, unlike a hash of it) — a changed file set
    * recounts, an unchanged one is a pure metadata read. */
  private[graft] def cachedFooterCount(
      s: SparkSession, path: String): Long = {
    val fp = Tables.fileListing(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sessionState.newHadoopConf()), path)
    val hit = footerCountCache.get(path)
    if (hit != null && hit._1 == fp) hit._2
    else {
      val c = footerCountFrame(metaSession(s), path).head().getLong(0)
      footerCountCache.put(path, (fp, c))
      c
    }
  }

  private def q16(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.names.map { n =>
      (n, cachedFooterCount(s, s"$dir/$n.parquet"))
    }
    import s.implicits._
    counts.toDF("table_name", "n_rows").orderBy("table_name")
  }

  // ---------------------------------------------------------------
  // Normalization functions (reference's normalize layer)
  // ---------------------------------------------------------------

  /** n01: clean_text — trim/collapse-whitespace/upper. */
  private def n01(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .select(col("c_custkey"),
        Normalize.cleanText(
          concat(col("c_name"), lit("  "), col("c_mktsegment")))
          .as("name_std"))
      .orderBy("c_custkey")

  /** n02: code-map + zip5 normalization. */
  private def n02(s: SparkSession, dir: String): DataFrame = {
    val segMap = Map(
      "HOUSEHOLD" -> "HH", "MACHINERY" -> "MC", "AUTOMOBILE" -> "AU")
    T(s, dir, "customer")
      .select(col("c_custkey"),
        Normalize.codeNormalize(col("c_mktsegment"), segMap).as("seg_code"),
        Normalize.zip5(col("c_custkey")).as("zip5"))
      .orderBy("c_custkey")
  }

  /** n10: normalization path audit — the telemetry a normalization
    * stage emits about its INPUT: for n02's code normalization, how
    * many rows took each path (already-normal passthrough / the code
    * map / the first-2-chars fallback) and how many distinct raw
    * values fed each — rising fallback share means the code map is
    * stale, the signal to extend it before silent garbage
    * accumulates. One scan, 3-row agg. */
  private def n10(s: SparkSession, dir: String): DataFrame = {
    val up = upper(trim(col("c_mktsegment")))
    T(s, dir, "customer")
      .select(when(up.rlike("^[A-Z]{2}$"), "1_exact")
        .when(up.isin("HOUSEHOLD", "MACHINERY", "AUTOMOBILE"), "2_mapped")
        .otherwise("3_fallback").as("path"),
        up.as("__v"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("__v")).as("n_distinct_inputs"))
      .orderBy("path")
  }

  /** n03: null-safe field combination (combine_address). */
  private def n03(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part")
      .select(col("p_partkey"),
        Normalize.combineFields(
          nullif(col("p_brand"), lit("Brand#13")), col("p_type"))
          .as("brand_type"))
      .orderBy("p_partkey")

  /** n04: deterministic 64-bit surrogate key (xxhash64) — rows-only
    * oracle (DuckDB lacks xxhash64); determinism asserted in specs. */
  private def n04(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .select(col("c_custkey"),
        Normalize.stableId64(col("c_name"), col("c_mktsegment"))
          .as("stable_id"))
      .orderBy("c_custkey")

  /** n05: yyyyMMdd-int → date with invalid → NULL coercion, on the
    * all-integer native path ([[graft.plans.DateToYyyymmdd]] /
    * [[graft.plans.YyyymmddToIso]]): Hinnant civil-date arithmetic +
    * direct byte rendering, no java.time object per row. Measured:
    * 0 divergent rows vs the formatter composition over sf1.0,
    * 5.6 s → 1.1 s (beats DuckDB's 1.3 s). [[Normalize.parseYyyymmdd]]
    * keeps the string surface (junk coercion) where the formatter
    * measured faster. */
  private def n05(s: SparkSession, dir: String): DataFrame = {
    val ival = Normalize.dateToYyyymmdd(col("o_orderdate"))
    val mixed = when(col("o_orderkey") % 100 === 0, lit(99999999))
      .otherwise(ival)
    T(s, dir, "orders")
      .select(col("o_orderkey"),
        Normalize.yyyymmddToIso(mixed).as("parsed_date"))
      .orderBy("o_orderkey")
  }

  /** n06: schema-enforcing safe cast, invalid → NULL. */
  private def n06(s: SparkSession, dir: String): DataFrame = {
    val raw = when(col("c_custkey") % 7 === 0,
      concat(substring(col("c_name"), 10, 9), lit("X")))
      .otherwise(substring(col("c_name"), 10, 9))
    T(s, dir, "customer")
      .select(col("c_custkey"), raw.cast("long").as("parsed_int"))
      .orderBy("c_custkey")
  }

  /** q17: semi-structured JSON extraction from the events props
    * column (the reference's typed-coercion capability applied to
    * nested payloads). */
  private def q17(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        trunc4(avg(col("k"))).as("avg_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** q18: exact percentiles (median/p90, linear interpolation) via
    * the sort-based scalable form (see
    * [[graft.operators.Percentiles]]; Spark's map-buffered
    * `percentile` aggregate was 10× slower at sf0.1). */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val pct = operators.Percentiles.exactByGroup(
      T(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
      Seq(0.5, 0.9),
      // return flags are a tiny enum — the fused few-group path
      // sizes and places boundaries in one job (a wrong hint only
      // falls back to the general path)
      maxGroupsHint = 64,
      // footer row bound (driver-side metadata, no job): under the
      // single-scan gate this makes q18 ONE aggregation pass
      totalRowsHint =
        operators.ExactDistinct.parquetRowCount(s, s"$dir/lineitem.parquet"))
    pct.select(col("l_returnflag"),
        trunc4(col("p50")).as("p50"), trunc4(col("p90")).as("p90"))
      .orderBy("l_returnflag")
  }

  /** q19: ROLLUP hierarchy totals (flag → flag+status → grand). */
  private def q19(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy("flag", "status")

  /** q20: FULL OUTER join with null-side handling (suppliers without
    * lineitems and vice versa). */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    val perSupp = T(s, dir, "lineitem").groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_items"))
    val supp = T(s, dir, "supplier")
    perSupp.join(supp, col("l_suppkey") === col("s_suppkey"), "full_outer")
      .select(
        coalesce(col("s_suppkey"), col("l_suppkey")).as("suppkey"),
        coalesce(col("s_name"), lit("<no-supplier>")).as("s_name"),
        coalesce(col("n_items"), lit(0L)).as("n_items"))
      .orderBy("suppkey")
  }

  /** q21: pivot (statuses to columns) — dynamic column generation
    * from data values, fixed here for schema stability. */
  private def q21(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnRenamed("O", "n_open")
      .withColumnRenamed("F", "n_finished")
      .withColumnRenamed("P", "n_pending")
      .orderBy("o_orderpriority")

  /** q22: typed JSON struct parsing with corrupt-record coercion
    * (from_json PERMISSIVE semantics → null on malformed input) via
    * the native single-pass extractor [[graft.plans.JsonLongField]] —
    * the schema is one static long field, so the Jackson
    * parser-object-per-row path (measured 15× DuckDB at sf1.0) is
    * replaced by a validating byte walk; measured 0
    * divergent rows vs from_json over sf1.0 and 6.8 s → 0.76 s. */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val maybeCorrupt = when(col("event_id") % 50 === 0,
      concat(lit("x"), col("props"))).otherwise(col("props"))
    T(s, dir, "events")
      .select(col("event_id"),
        Normalize.jsonLongField(maybeCorrupt, "k").as("k_parsed"))
      .orderBy("event_id")
  }

  /** q23: rolling-window analytics — running totals, moving averages,
    * lead/lag navigation. */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val last3 = w.rowsBetween(-2, Window.currentRow)
    T(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum("o_totalprice").over(cum), 2).as("running_total"),
        trunc4(avg("o_totalprice").over(last3)).as("moving_avg3"),
        lag("o_orderkey", 1).over(w).as("prev_order"),
        lead("o_orderkey", 1).over(w).as("next_order"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q24: skew-salted join — the explicit hot-key recipe
    * ([[operators.Scale.saltedJoin]]: deterministic salt on the big
    * side, small side replicated numSalts×, join on (key, salt)),
    * with the salt factor DERIVED from the measured key-skew profile
    * ([[operators.Scale.autoSaltedJoin]] — q43's measurement wired to
    * its remedy; balanced keys degrade to the plain join). Results
    * are provably identical to the plain inner join, which IS the
    * oracle — the salting must be invisible in the output. */
  private def q24(s: SparkSession, dir: String): DataFrame =
    operators.Scale.autoSaltedJoin(
        T(s, dir, "orders"),
        T(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_name"), col("c_mktsegment")),
        key = "o_custkey", saltSource = col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("c_mktsegment"))
      .orderBy("o_orderkey")

  /** Shared by Spark and DuckDB verbatim — q25 exercises correlated
    * scalar subquery DECORRELATION (Catalyst rewrites the per-row
    * subquery into an aggregate + join; a naive engine re-executes it
    * per row). */
  private val q25Sql: String =
    """SELECT o.o_orderkey FROM orders o
      |WHERE o.o_totalprice > (SELECT avg(o2.o_totalprice)
      |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** q25: correlated scalar subquery via SQL passthrough. */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(q25Sql)
  }

  /** q26: CUBE with grouping_id — all four grouping combinations in
    * one pass, the bitmask distinguishing which NULLs mean "ALL". */
  private def q26(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .cube("o_orderpriority", "o_orderstatus")
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"))
      .select(coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("gid"), col("n"), col("total"))
      .orderBy("gid", "prio", "status")

  /** q27: RANGE interval window — per-customer rolling 30-day revenue
    * keyed on event time (a range frame over epoch micros), the
    * time-decay aggregation rows-frames can't express. */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    // o_orderdate is TIMESTAMP_NTZ; the session TZ is pinned UTC, so
    // the cast is an identity relabel and epoch micros match DuckDB's
    // epoch_us on the naive timestamp
    val w = Window.partitionBy("o_custkey")
      .orderBy(unix_micros(col("o_orderdate").cast("timestamp")))
      .rangeBetween(-2592000000000L, 0)
    T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        round(sum("o_totalprice").over(w), 2).as("sum_30d"))
      .orderBy("o_orderkey")
  }

  /** q28: snapshot-to-snapshot diff — which customers were added,
    * removed or changed between two publishes ([[Relational.snapshotDiff]]:
    * one shuffle per side into a sort-merge FULL OUTER join, null-safe
    * column compares). Snapshot B is derived deterministically from
    * the base table (drops, balance updates, synthetic adds) so the
    * oracle re-derives the identical pair. */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
    val cols = Seq("c_custkey", "c_acctbal", "c_mktsegment")
    val a = cust.select(cols.map(col): _*)
    val b = cust.filter(col("c_custkey") % 97 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        col("c_mktsegment"))
      .unionAll(cust.filter(col("c_custkey") % 101 === 0)
        .select((col("c_custkey") + 10000000L).as("c_custkey"),
          col("c_acctbal"), col("c_mktsegment")))
    Relational.snapshotDiff(a, b, Seq("c_custkey"),
      Seq("c_acctbal", "c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** q29: bloom-pruned join ([[operators.Scale.bloomPrunedJoin]]):
    * urgent orders' key set becomes a bloom filter probed map-side on
    * the lineitem scan, so non-matching fact rows never reach the
    * shuffle — the semi-join reduction for a small side too big to
    * broadcast. False positives are removed by the exact join, so the
    * plain join IS the oracle. */
  private def q29(s: SparkSession, dir: String): DataFrame =
    operators.Scale.bloomPrunedJoin(
        T(s, dir, "lineitem"),
        T(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        bigKey = "l_orderkey", smallKey = "o_orderkey")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_items"),
        // decimal accumulation (the q15 float-portability pattern):
        // at sf1.0 the double sum's partition-order drift (~5e-3)
        // flips round(x, 2) vs the oracle's sequential fold; per-row
        // products are IEEE-identical, DECIMAL(30,6) makes the SUM
        // exact and order-independent at any scale
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(30,6)")), 2)
          .cast("double").as("revenue"))
      .orderBy("month")

  /** q30: SCD2 history across three dated snapshots
    * ([[Relational.scdHistory]]): per-customer market-segment
    * intervals with valid_from/valid_to, one key shuffle serving both
    * the change-lag and the interval-lead windows. Snapshots are
    * derived deterministically (key%7 moves in Feb, key%5 in Mar) so
    * the oracle re-derives the identical stack. */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
    def snap(date: String, seg: Column) =
      cust.select(col("c_custkey"), seg.as("c_mktsegment"),
        lit(date).as("snap_date"))
    val s1 = snap("2026-01-01", col("c_mktsegment"))
    val s2 = snap("2026-02-01",
      when(col("c_custkey") % 7 === 0, lit("MOVED7"))
        .otherwise(col("c_mktsegment")))
    val s3 = snap("2026-03-01",
      when(col("c_custkey") % 5 === 0, lit("MOVED5"))
        .when(col("c_custkey") % 7 === 0, lit("MOVED7"))
        .otherwise(col("c_mktsegment")))
    Relational.scdHistory(s1.unionAll(s2).unionAll(s3),
      Seq("c_custkey"), Seq("c_mktsegment"), "snap_date")
      .orderBy("c_custkey", "valid_from")
  }

  /** q31: data-quality audit ([[operators.Quality]]): row-predicate
    * expectations fused into one scan per table, key uniqueness as a
    * hash-agg, referential integrity as anti-joins — the publish-time
    * validation a snapshot passes before going live. */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    import operators.Quality
    val cust = T(s, dir, "customer")
    val checks = Seq(
      Quality.expectAll(cust, Seq(
        "customer_nationkey_not_null" -> col("c_nationkey").isNull,
        "customer_acctbal_in_range" ->
          (col("c_acctbal") < -1000 || col("c_acctbal") > 10000))),
      Quality.expectAll(T(s, dir, "documents"), Seq(
        "documents_text_min_20_chars" -> (length(col("text")) < 20))),
      Quality.expectUnique(cust, "customer_key_unique", Seq("c_custkey")),
      Quality.expectReferential(T(s, dir, "orders"), cust,
        "orders_custkey_referential", "o_custkey", "c_custkey"),
      Quality.expectReferential(T(s, dir, "events"), cust,
        "events_user_referential", "user_id", "c_custkey"))
    Quality.audit(checks).orderBy("check_name")
  }

  /** q32: CDC changeset application ([[Relational.applyChangeset]]):
    * updates + deletes + inserts merge into the next snapshot in one
    * FULL OUTER sort-merge join. The oracle derives the target
    * snapshot DIRECTLY (no merge) — the merge path must be
    * indistinguishable from rebuilding the snapshot. */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
    val cs = Seq(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val updates = cust
      .filter(col("c_custkey") % 5 === 0 && col("c_custkey") % 97 =!= 0)
      .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal"),
        col("c_mktsegment"), lit(false).as("is_delete"))
    val deletes = cust.filter(col("c_custkey") % 97 === 0)
      .select(cs :+ lit(true).as("is_delete"): _*)
    val inserts = cust.filter(col("c_custkey") % 101 === 0)
      .select((col("c_custkey") + 10000000L).as("c_custkey"),
        col("c_acctbal"), col("c_mktsegment"), lit(false).as("is_delete"))
    Relational.applyChangeset(cust,
        updates.unionAll(deletes).unionAll(inserts),
        Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"))
      .select(col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"),
        col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** q33: set operators — INTERSECT / EXCEPT are distinct physical
    * operators from the semi/anti joins (set semantics deduplicate);
    * both cohorts in one result. */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer").select(col("c_custkey"))
    val o = T(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
    c.intersect(o).withColumn("cohort", lit("with_orders"))
      .unionAll(c.except(o).withColumn("cohort", lit("no_orders")))
      .select(col("cohort"), col("c_custkey"))
      .orderBy("cohort", "c_custkey")
  }

  /** q37: schema-evolution union — an old snapshot generation
    * (missing the later `c_acctbal` column) appended to the current
    * one via unionByName(allowMissingColumns): absent columns
    * null-fill, no rewrite of the old files, column PRESENCE not
    * position decides alignment (plain UNION ALL would silently
    * misalign). The multi-generation ingest shape of a long-lived
    * lake table. */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    val cur = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        lit("v2").as("gen"))
    // the legacy generation: same table before the c_acctbal column
    // existed (simulated by dropping it — the files on disk would
    // simply lack the column)
    val legacy = T(s, dir, "customer")
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_name"), lit("v1").as("gen"))
    cur.unionByName(legacy, allowMissingColumns = true)
      .select(col("gen"), col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("c_acctbal"))
      .orderBy("gen", "c_custkey")
  }

  /** q39: grouped top-k on relational data through the bounded-heap
    * aggregate ([[Similarity.topKAgg]] / plans.TopKPairs) — top-3
    * orders by price per customer as a hash aggregate with k-row
    * state and map-side partials, NOT a window sort of every
    * customer's full order history (the plan difference that matters
    * when a hot key has millions of rows). Oracle: the window form. */
  private def q39(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(Similarity.topKAgg(col("o_totalprice"), col("o_orderkey"), 3)
        .as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("o_orderkey"),
        round(col("col.score"), 2).as("o_totalprice"))
      .orderBy("o_custkey", "rank")

  /** q38: explicit GROUPING SETS — the two marginal rollups
    * (by flag, by status) in ONE pass over the scan, completing the
    * rollup (q19) / cube (q26) family: arbitrary group combinations
    * without scanning once per marginal. */
  private def q38(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy("flag", "status")

  /** q40: per-group z-score outlier audit — event values beyond 3σ
    * of their event-type group: two aggregate passes (per-group
    * moments broadcast → map-side flag), no window over the fact
    * table. The synthetic columns are uniform (max |z| = √3), so
    * corrupted readings are INJECTED deterministically (the n07/n08
    * pattern) and the audit must recover exactly those rows.
    * Population σ (stddev_pop) for cross-engine parity. */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        when(col("event_id") % 97 === 0, col("value") * 50 + 1000)
          .otherwise(col("value")).as("v"))
    val stats = ev.groupBy("event_type")
      .agg(avg(col("v")).as("__mu"), stddev_pop(col("v")).as("__sigma"))
    ev.join(broadcast(stats), Seq("event_type"))
      .filter(abs(col("v") - col("__mu")) > lit(3) * col("__sigma"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_outliers"),
        round(min(col("v")), 2).as("min_outlier"),
        round(max(col("v")), 2).as("max_outlier"))
      .orderBy("event_type")
  }

  /** q41: time-horizon dedup — keep each (user, event_type)'s FIRST
    * event per calendar hour (the at-most-once-per-window ETL rule;
    * the batch twin of e10's streaming dedup-within-watermark). One
    * keyed window shuffle. */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")))
      .orderBy(unix_micros(col("ts")), col("event_id"))
    T(s, dir, "events")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00")
          .as("hour"))
      .orderBy("event_id")
  }

  /** q42: canonical-record selection (survivorship): per customer
    * the best order by (highest total, latest date, max key) via ONE
    * struct-max hash aggregate — O(1) state per group with map-side
    * partials, where the window row_number form sorts every group's
    * rows. The MDM "pick the surviving record" rule; oracle is the
    * window form (lexicographic struct max = the same DESC order). */
  private def q42(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(struct(col("o_totalprice"), col("o_orderdate"),
        col("o_orderkey"))).as("b"))
      .select(col("o_custkey"), col("b.o_orderkey").as("o_orderkey"),
        round(col("b.o_totalprice"), 2).as("best_price"),
        date_format(col("b.o_orderdate"), "yyyy-MM-dd").as("best_date"))
      .orderBy("o_custkey")

  /** q44: functional-dependency consistency audit
    * ([[Quality.fdConsistency]]) on the source → lang candidate over
    * documents: per source, the dominant language, rows agreeing
    * with it, and the agreement ratio — the profiling step before
    * enforcing a dependency or majority-repairing a column. Election
    * is deterministic (max count, ties → min value). */
  private def q44(s: SparkSession, dir: String): DataFrame =
    Quality.fdConsistency(T(s, dir, "documents"),
        col("source"), col("lang"))
      .orderBy("key")

  /** q43: key-skew profile — the measurement that decides when
    * [[graft.operators.Scale.saltedJoin]] (and AQE skew-join tuning)
    * is worth it: the top-20 hottest join keys with their absolute
    * and cumulative share of the fact table. One hash-agg + top-N
    * (TakeOrderedAndProject) + a one-row total broadcast; the
    * cumulative window runs over the 20 surviving rows only — global
    * by construction, never over the fact table. */
  /** q46: join fan-out audit — the explosion predictor: per join key
    * the multiplicity on EACH side and the exact output rows that
    * key alone will produce (ca × cb), top-10 by contribution — the
    * companion to q43's single-side skew profile when the blow-up
    * risk is multiplicative (many-to-many), read before running the
    * join it predicts. Two key-only aggregates meeting in one
    * bounded equi-join; the fact tables never move. */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val lc = T(s, dir, "lineitem").groupBy(col("l_orderkey").as("k"))
      .agg(count(lit(1)).as("left_rows"))
    val oc = T(s, dir, "orders").groupBy(col("o_orderkey").as("k"))
      .agg(count(lit(1)).as("right_rows"))
    lc.join(oc, Seq("k"))
      .select(col("k").as("join_key"), col("left_rows"),
        col("right_rows"),
        (col("left_rows") * col("right_rows")).as("rows_out"))
      .orderBy(desc("rows_out"), col("join_key"))
      .limit(10)
  }

  /** q45: corpus drift audit — two snapshot halves (t14's md5 bucket
    * arithmetic, portable to the oracle) compared as a per-source
    * mixture-shift decision table: counts, shares, and the absolute
    * share delta whose sum is 2× the total-variation distance. TVD
    * instead of PSI/KL on purpose: no transcendentals, so Spark and
    * DuckDB agree bit-for-bit (ln differs by 1 ulp between libm
    * implementations and a drift verdict shouldn't hinge on that).
    * Two tiny aggregates + a one-row total broadcast. */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    val agg = T(s, dir, "documents")
      .select(col("source"), (bucket < 50).cast("long").as("__old"))
      .groupBy("source")
      .agg(sum(col("__old")).as("n_old"),
        sum(lit(1L) - col("__old")).as("n_new"))
    val tot = agg.agg(sum("n_old").as("__to"), sum("n_new").as("__tn"))
    agg.crossJoin(broadcast(tot))
      .select(col("source"), col("n_old"), col("n_new"),
        trunc4(col("n_old") / col("__to")).as("share_old"),
        trunc4(col("n_new") / col("__tn")).as("share_new"),
        trunc4(abs(col("n_old") / col("__to") -
          col("n_new") / col("__tn"))).as("share_delta"))
      .orderBy("source")
  }

  private def q43(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val tot = ev.agg(count(lit(1)).as("t"))
    val top = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id"))
      .limit(20)
    val w = Window.orderBy(col("n").desc, col("user_id"))
    top.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("pct", trunc4(col("n") / col("t")))
      .withColumn("cum_pct", trunc4(
        sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) / col("t")))
      .select("rank", "user_id", "n", "pct", "cum_pct")
      .orderBy("rank")
  }

  /** q34: the ranking-window family in one pass. Tie-sensitive
    * functions (rank / dense_rank / percent_rank / cume_dist) rank on
    * the date alone — ties are real and both engines must agree on
    * them; positional ones (row_number / ntile) need the total order
    * or they are nondeterministic. Both windows share one partition
    * key, so Catalyst plans ONE exchange (two sorts). */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val tied = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"))
    val total = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        row_number().over(total).as("rn"),
        rank().over(tied).as("rk"),
        dense_rank().over(tied).as("drk"),
        trunc4(percent_rank().over(tied)).as("prk"),
        trunc4(cume_dist().over(tied)).as("cd"),
        ntile(4).over(total).as("quartile"))
      .orderBy("o_orderkey")
  }

  /** q35: one-pass column profiler ([[Quality.profile]]) over
    * lineitem — per-column counts/nulls/distinct/min/max from a
    * single aggregate scan (the registry "describe" primitive). */
  private def q35(s: SparkSession, dir: String): DataFrame =
    Quality.profile(T(s, dir, "lineitem"),
        numericCols = Seq("l_quantity", "l_extendedprice", "l_discount",
          "l_tax"),
        stringCols = Seq("l_returnflag", "l_linestatus"))
      .orderBy("column_name")

  /** q36: equi-width histogram ([[Quality.histogram]]) of
    * l_extendedprice — two aggregate passes (min/max broadcast →
    * bucket hash-agg), no sort/collect. */
  private def q36(s: SparkSession, dir: String): DataFrame =
    Quality.histogram(T(s, dir, "lineitem"), col("l_extendedprice"), 10)
      .select(col("bucket"), trunc4(col("lo")).as("lo"),
        trunc4(col("hi")).as("hi"), col("n"))
      .orderBy("bucket")

  /** t10: per-(source, lang) corpus mixture report — doc counts,
    * token sums, corpus share: the mixture-weights table a training
    * run samples from. One scan + tiny broadcast of the total. */
  private def t10(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val g = docs
      .select(col("source"), col("lang"),
        size(TextFns.tokensLower(col("text"))).cast("long").as("__ntok"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("total_tokens"))
    val total = docs.agg(count(lit(1)).cast("double").as("__total"))
    g.join(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"),
        col("total_tokens"),
        trunc4(col("n_docs") / col("__total")).as("share"))
      .orderBy("source", "lang")
  }

  /** t11: hashing-trick document features
    * ([[TextFns.featureBucket]]) — vocabulary-free 32-dim token-count
    * vectors in sparse (doc, bucket, n) form: one map-side hash per
    * token, one (doc, bucket) hash-agg; no vocab table to build,
    * broadcast, or keep consistent across a 100 TB corpus. */
  private def t11(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"),
        explode(TextFns.tokensLower(col("text"))).as("w"))
      .select(col("doc_id"), TextFns.featureBucket(col("w"), 32).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("doc_id", "bucket")

  /** a02: mergeable HLL sketch rollup — per-day sketches unioned to
    * per-type totals WITHOUT rescanning raw data: the pre-aggregation
    * pattern that makes distinct-count rollups feasible at 100 TB
    * (sketches are tiny, union is associative, estimates come from
    * the merged state). Rows-only oracle; accuracy + union-vs-direct
    * consistency in SketchSpec. */
  private def a02(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
        .as("approx_users"))
      .orderBy("event_type")

  /** a05: STORED quantile-sketch rollup ([[graft.plans.GkSketch]] /
    * GkMerge / GkQuery over Spark's Greenwald-Khanna summary): one
    * tiny sketch per (event_type, day), merged per type — p50/p90/p99
    * over any date range with NO raw rescan, the quantile analog of
    * a02's HLL rollup. Rows-only oracle (sketch estimates); accuracy
    * + mergeability bounds in SketchSpec. */
  private def a05(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    T(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(Sketches.gkSketch(col("value").cast("double")).as("sk"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        Sketches.gkMerge(col("sk")).as("msk"))
      .select(col("event_type"), col("n_days"),
        Sketches.gkQuantiles(col("msk"), Seq(0.5, 0.9, 0.99)).as("__q"))
      .select(col("event_type"), col("n_days"),
        round(element_at(col("__q"), 1), 2).as("p50"),
        round(element_at(col("__q"), 2), 2).as("p90"),
        round(element_at(col("__q"), 3), 2).as("p99"))
      .orderBy("event_type")
  }

  /** a06: STORED bloom rollup ([[graft.plans.BloomSketchAgg]] /
    * BloomMergeAgg): one membership filter per day of events, merged
    * (bitwise OR — byte-identical to a one-shot build, spec-pinned),
    * then probed map-side against the customer dimension via the
    * codegen [[graft.plans.BloomMightContain]] — "which customers
    * MIGHT have been active, without rescanning events". Rows-only
    * oracle (bloom bit layout is engine-internal); no-false-negative
    * + FPR + merge-equality specs in SketchSpec. */
  private def a06(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val items = 4096L
    val merged = T(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(graft.operators.Sketches
        .bloomSketch(col("user_id").cast("long"), items).as("bf"))
      .agg(graft.operators.Sketches.bloomMerge(col("bf"), items).as("mbf"))
    val bf = org.apache.spark.util.sketch.BloomFilter
      .readFrom(merged.head.getAs[Array[Byte]](0))
    T(s, dir, "customer").select(col("c_custkey"))
      .withColumn("might_be_active",
        GraftBridge.column(graft.plans.BloomMightContain(
          GraftBridge.expression(col("c_custkey").cast("long")), bf))
          .cast("long"))
      .orderBy("c_custkey")
  }

  /** a07: STORED count-min frequency rollup — the frequency member of
    * the stored-sketch family: per-day CMS of user activity
    * ([[graft.operators.Sketches.cmsSketch]]), merged across the full
    * range by counter linearity ([[Sketches.cmsMerge]] — byte-
    * identical to a one-shot build, spec-pinned), probed map-side via
    * the codegen [[graft.plans.CmsEstimate]]. Answers "how often did
    * key X appear over any day range" without rescanning a single
    * day. Rows-only oracle; never-undercount + error-bound +
    * split-merge specs in SketchSpec. */
  private def a07(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val merged = T(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(graft.operators.Sketches
        .cmsSketch(col("user_id").cast("long")).as("cms"))
      .agg(graft.operators.Sketches.cmsMerge(col("cms")).as("m"))
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(merged.head.getAs[Array[Byte]](0))
    T(s, dir, "customer").select(col("c_custkey"))
      .filter(col("c_custkey") < 50)
      .withColumn("est_events",
        GraftBridge.column(graft.plans.CmsEstimate(
          GraftBridge.expression(col("c_custkey").cast("long")), cms)))
      .orderBy("c_custkey")
  }

  /** m03: overlapping payload chunking ([[Multimodal.chunkPayload]],
    * window 256 / stride 128) — the audio-segmentation shape with
    * VARIABLE per-row expansion (vs m02's fixed k), streamed through
    * the partition-wise flatMap. Oracle re-derives the offset
    * arithmetic with generate_series and per-chunk byte means via
    * ascii() (the synthetic corpus is pure ASCII, so char i = byte
    * i). */
  private def m03(s: SparkSession, dir: String): DataFrame =
    Multimodal.chunkPayload(T(s, dir, "documents"), "doc_id", "text",
        window = 256, stride = 128)
      .select(col("doc_id"), col("chunk_idx"), col("byte_start"),
        col("n_chunk_bytes"),
        (floor(col("mean_byte") * 10000) / 10000).as("mean_byte"))
      .orderBy("doc_id", "chunk_idx")

  /** m07: chunk-size decision table — t27's trade-off analysis for
    * BINARY payloads (m03's tuning twin): per candidate chunk size,
    * total chunks and tail slack (the last chunk's padding) if every
    * payload is cut into fixed non-overlapping chunks — the table
    * read before fixing a storage/transfer block size. The synthetic
    * corpus is pure ASCII so char length = byte length (m03/m05's
    * documented equivalence). One scan, ×3 literal fan-out,
    * all-integer `div` arithmetic. */
  private def m07(s: SparkSession, dir: String): DataFrame = {
    val lens = array(Seq(64L, 256L, 1024L).map(lit): _*)
    T(s, dir, "documents")
      .select(length(col("text")).cast("long").as("b"))
      .select(col("b"), explode(lens).as("chunk_bytes"))
      .select(col("b"), col("chunk_bytes"),
        expr("(b + chunk_bytes - 1) div chunk_bytes").as("nc"))
      .groupBy("chunk_bytes")
      .agg(count(lit(1)).as("n_payloads"),
        sum(col("nc")).as("total_chunks"),
        sum(col("nc") * col("chunk_bytes") - col("b")).as("waste_bytes"),
        sum(col("b")).as("payload_bytes"))
      .select(col("chunk_bytes"), col("n_payloads"), col("total_chunks"),
        col("waste_bytes"),
        trunc4(col("waste_bytes") /
          (col("waste_bytes") + col("payload_bytes"))).as("waste_frac"))
      .orderBy("chunk_bytes")
  }

  /** m08: content-defined chunking ([[Multimodal.cdcChunks]],
    * gear-hash rolling cut, min 64 / max 1024 / expected 256 bytes)
    * — m03's insertion-robust twin: boundaries follow CONTENT, so a
    * payload that reappears shifted inside another still shares its
    * chunk signatures (the property PlansSpec/MultimodalSpec pin;
    * fixed-grid chunking shares none). No SQL oracle — DuckDB cannot
    * express the per-byte rolling hash — so the driver records the
    * rows-only check and the boundary semantics are spec-gated. */
  private def m08(s: SparkSession, dir: String): DataFrame =
    Multimodal.cdcChunks(T(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id", "chunk_idx")

  /** s06: KNN over int8-quantized embeddings with exact re-scoring
    * ([[Similarity.quantizedKnn]]): integer byte-dot first pass over
    * a 4×-smaller representation, exact cosine on the surviving
    * candidates — same result as s01, memory-bound-scale plan. */
  private def s06(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.quantizedKnn(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .orderBy("q_id", "rank")
  }

  /** s07: product-quantization ANN ([[Similarity.pqKnn]]) — 8-byte
    * PQ codes (32× smaller than float vectors), classic ADC table
    * scoring, exact re-rank. Rows-only oracle (codes are
    * sample/codebook-dependent); recall floor in SimilaritySpec. */
  private def s07(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.pqKnn(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .orderBy("q_id", "rank")
  }

  /** s08: IVF-PQ — coarse k-means cells composed with residual
    * product quantization, per-probe ADC scoring, exact re-rank
    * ([[Similarity.ivfPqKnn]]). Rows-only oracle (trained index);
    * recall floor + determinism asserted in SimilaritySpec. */
  private def s08(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    // library defaults = the round-13 tuned config (nprobe 10/10,
    // 64-code residual books, recall@5 0.928 measured)
    Similarity.ivfPqKnn(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, numCells = 10)
      .orderBy("q_id", "rank")
  }

  /** s09: exact maximum-inner-product top-5 (MIPS —
    * [[Similarity.mipsBruteAgg]]): dot-product scoring where
    * magnitude matters, bounded-heap top-k, codegen dot loop.
    * Oracle: DuckDB list_inner_product window form. */
  private def s09(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.mipsBruteAgg(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .orderBy("q_id", "rank")
  }

  /** s10: approximate MIPS via the norm-augmentation reduction
    * ([[Similarity.mipsAnn]]): every corpus vector padded to norm M
    * so cosine LSH order equals inner-product order — the existing
    * hyperplane index machinery reused unchanged in dim+1. Rows-only
    * oracle; recall vs s09 asserted in SimilaritySpec. */
  private def s10(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.mipsAnn(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .orderBy("q_id", "rank")
  }

  /** s11: exact Euclidean (L2) top-5 ([[Similarity.l2Knn]]) —
    * completes the metric family (cosine s01, inner product s09);
    * heap on negative squared distance, sqrt-free. Oracle: DuckDB
    * squared-distance window form (sqrt-free on both sides). */
  private def s11(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.l2Knn(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .orderBy("q_id", "rank")
  }

  /** a03: EXACT top-10 words via the Misra–Gries heavy-hitter
    * sketch + exact verify ([[graft.operators.Sketches]]): pass 1 is
    * a bounded-state aggregate (m counters, map-side partials — the
    * shuffle is m rows, not |vocab|); pass 2 re-counts only the ≤m
    * candidates. The full DuckDB groupBy oracle hash-matches because
    * the verify pass makes the result exact. */
  private def a03(s: SparkSession, dir: String): DataFrame = {
    val toks = T(s, dir, "documents")
      .select(explode(TextFns.tokensLower(col("text"))).as("word"))
    graft.operators.Sketches.heavyHitters(toks, col("word"), m = 256, k = 10)
      .orderBy(col("n").desc, col("key"))
  }

  /** a04: KMV sketch set algebra ([[graft.operators.Sketches]]) —
    * per-event-type sketches of the (user, day) activity set, then
    * pairwise Jaccard and distinct-INTERSECTION estimates between
    * types, entirely from the tiny sketches (the operation a02's HLL
    * cannot do: HLL only unions). Rows-only oracle (sketch internals
    * are hash-dependent); accuracy bounds in SketchSpec. */
  private def a04(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val sk = T(s, dir, "events")
      .select(col("event_type"),
        xxhash64(col("user_id"), date_trunc("day", col("ts"))).as("h"))
      .groupBy("event_type")
      .agg(graft.operators.Sketches.kmvSketch(col("h"), k).as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
    // staged selects materialize the union sketch and jaccard ONCE —
    // array expressions get no CSE, so composing kmvJaccard +
    // kmvIntersect inline would re-sort the merged arrays per column
    import graft.operators.Sketches
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("ska"), col("skb"),
        Sketches.kmvUnion(col("ska"), col("skb"), k).as("__u"))
      .select(col("type_a"), col("type_b"), col("ska"), col("skb"),
        col("__u"),
        (size(array_intersect(col("__u"),
          array_intersect(col("ska"), col("skb")))).cast("double") /
          size(col("__u"))).as("__j"))
      .select(col("type_a"), col("type_b"),
        round(Sketches.kmvEstimate(col("ska"), k), 1).as("est_a"),
        round(Sketches.kmvEstimate(col("skb"), k), 1).as("est_b"),
        trunc4(col("__j")).as("jaccard"),
        round(col("__j") * Sketches.kmvEstimate(col("__u"), k), 1)
          .as("est_common"))
      .orderBy("type_a", "type_b")
  }

  /** a01: approximate sketches — HLL distinct + quantile sketch.
    * Rows-only oracle (sketch internals are engine-specific);
    * accuracy vs exact asserted in specs. */
  private def a01(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("approx_p50"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------
  // Text analysis (documents)
  // ---------------------------------------------------------------

  /** t12: statistical fluency score from a corpus-trained character
    * bigram LM — the cheap "perplexity-ish" quality filter: estimate
    * P(c2|c1) from the corpus itself (one bigram hash-agg; the model
    * is ≤ alphabet² rows, broadcastable at any corpus size), then
    * score each doc as its mean bigram probability. Probabilities
    * stay RATIONAL (count/count, no ln) so the arithmetic is
    * engine-identical (the t08 rational-ranking trick). */
  private def t12(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
    // cache (lazy): both the model aggregate and the scoring join
    // consume this frame — uncached, every doc pays the per-char
    // lambda-dispatched bigram explode twice. The length guard
    // matters: Spark's sequence(1, 0) counts DOWN ([1, 0]), so a
    // 0/1-char doc would emit phantom bigrams where DuckDB's
    // generate_series(1, 0) is empty — guarded, both engines drop
    // the doc (explode of an empty array).
    val big = docs.select(col("doc_id"),
      explode(expr(
        """CASE WHEN length(t) >= 2
          |  THEN transform(sequence(1, length(t) - 1),
          |    i -> substr(t, i, 2))
          |  ELSE array() END""".stripMargin))
        .as("bg"))
      .cache()
    val bc = big.groupBy("bg").agg(count(lit(1)).as("nb"))
    val pc = bc.groupBy(substring(col("bg"), 1, 1).as("p"))
      .agg(sum(col("nb")).as("np"))
    val probs = bc.join(pc, substring(col("bg"), 1, 1) === col("p"))
      .select(col("bg"), (col("nb") / col("np")).as("prob"))
    big.join(broadcast(probs), Seq("bg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        trunc4(avg(col("prob"))).as("fluency"))
      .orderBy("doc_id")
  }

  /** t21: WORD-level bigram LM fluency score with add-1 smoothing —
    * t12's char-level filter at token granularity, the perplexity-
    * filter fidelity step: P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V),
    * V = corpus vocabulary size; score = mean bigram probability.
    * Two deliberate contrasts with t12: the word-bigram model is
    * VOCABULARY-sized, not alphabet²-bounded, so it is never
    * broadcast — scoring joins model to doc bigrams on the bigram
    * key (t08's no-broadcast regime); and the model is SMOOTHED —
    * an unsmoothed MLE assigns probability 0 to any unseen
    * continuation, which scoring the training corpus itself hides
    * but a held-out doc would not. Probabilities stay RATIONAL
    * (integer counts, integer V, one division) so the arithmetic is
    * engine-identical. */
  private def t21(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), TextFns.tokensLower(col("text")).as("__tk"))
    // cache (lazy): the model aggregate and the scoring join both
    // read the exploded bigram frame — uncached, every doc pays the
    // per-position lambda-dispatched ngram transform twice
    val big = docs.select(col("doc_id"),
        explode(TextFns.wordNgrams(col("__tk"), 2)).as("bg"))
      .cache()
    val bc = big.groupBy("bg").agg(count(lit(1)).as("nb"))
    val pc = bc.groupBy(substring_index(col("bg"), " ", 1).as("p"))
      .agg(sum(col("nb")).as("np"))
    val vocab = docs.select(explode(col("__tk")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val probs = bc
      .join(pc, substring_index(col("bg"), " ", 1) === col("p"))
      .crossJoin(broadcast(vocab))
      .select(col("bg"),
        ((col("nb") + 1) / (col("np") + col("v"))).as("prob"))
    big.join(probs, Seq("bg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (floor(avg(col("prob")) * 1000000) / 1000000).as("fluency"))
      .orderBy("doc_id")
  }

  /** t22: DSIR-shaped importance weights for data selection (Xie et
    * al. 2023 "Data Selection for Language Models via Importance
    * Resampling", re-expressed in the engine's rational-arithmetic
    * regime): hashed word-bigram features (the paper's hashed n-gram
    * generative model, [[TextFns.featureBucket]] into B=64 buckets),
    * target distribution = the `src0` docs, raw = the rest; per-doc
    * weight = mean over the doc's feature occurrences of the add-1-
    * smoothed likelihood ratio
    * ((c_tgt+1)(tot_raw+B)) / ((c_raw+1)(tot_tgt+B)).
    * The ratio form keeps every operand an exact integer (one
    * division, no logs), so the arithmetic is engine-identical —
    * t21's trick applied to importance weighting. The feature-count
    * model is B rows (hash-agg, map-side partials, auto-broadcast at
    * join); totals are a one-row broadcast. At 100 TB: one explode +
    * one B-row aggregate + one map-side join — the t11 regime; a
    * resampler then consumes `dsir_weight` exactly as t09 consumes
    * its weight column. */
  private def t22(s: SparkSession, dir: String): DataFrame = {
    val B = 64
    // cache (lazy): the B-bucket count aggregate and the per-doc
    // probe join both read this exploded frame — uncached, every doc
    // pays the tokenize + ngram + bucket transform twice (t21's
    // cached-bigram lesson applied here)
    val bg = T(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(TextFns.wordNgrams(
          TextFns.tokensLower(col("text")), 2)).as("bgr"))
      .select(col("doc_id"), col("source"),
        TextFns.featureBucket(col("bgr"), B).as("b"))
      .cache()
    val isTgt = col("source") === "src0"
    val counts = bg.groupBy("b").agg(
      sum(when(isTgt, 1L).otherwise(0L)).as("ct"),
      sum(when(isTgt, 0L).otherwise(1L)).as("cr"))
    val tots = counts.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    bg.join(counts, Seq("b"))
      .crossJoin(broadcast(tots))
      .select(col("doc_id"),
        (((col("ct") + 1) * (col("tr") + B)).cast("double") /
          ((col("cr") + 1) * (col("tt") + B))).as("ratio"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        (floor(avg(col("ratio")) * 1000000) / 1000000).as("dsir_weight"))
      .orderBy("doc_id")
  }

  /** t23: cross-split leakage audit
    * ([[Dedup.crossSplitLeakage]]) — d10's decontamination question
    * asked of t14's OWN split: per test doc, the share of its
    * 8-token windows present anywhere in the train split (val
    * excluded from both sides). The audit run before trusting any
    * held-out metric. */
  private def t23(s: SparkSession, dir: String): DataFrame = {
    val withSplit = graft.operators.Sampling.hashSplit(
      T(s, dir, "documents").select(col("doc_id"), col("text")),
      col("doc_id"))
    Dedup.crossSplitLeakage(
        withSplit.filter(col("split") =!= "val"),
        col("doc_id"), col("text"), col("split") === "train", w = 8)
      .orderBy("doc_id")
  }

  /** t25: split REGENERATION ([[Dedup.regenerateSplit]]) — the
    * action twin of t23's audit: test docs with any train-window
    * leakage are reassigned into train (a leaked doc can't serve as
    * held-out; its windows already live in train), train/val keep
    * their assignment, and the re-audited test leak rate is zero by
    * construction. The full corpus-wide old→new decision table. */
  private def t25(s: SparkSession, dir: String): DataFrame = {
    val withSplit = graft.operators.Sampling.hashSplit(
      T(s, dir, "documents").select(col("doc_id"), col("text")),
      col("doc_id"))
    Dedup.regenerateSplit(withSplit, col("doc_id"), col("text"),
        col("split"), w = 8)
      .orderBy("doc_id")
  }

  /** t24: percentile-gated quality filter report — t02's quality
    * score gated at the corpus p25 ([[operators.Percentiles.exact]]
    * — the q18 type-7 machinery, NOT percentile_approx: a gate moves
    * real data, so its threshold must be reproducible), reported per
    * source: the "filter the bottom quartile" pipeline step as a
    * decision table. The one-row threshold broadcasts; the scoring
    * pass is t02's map-side expression. */
  private def t24(s: SparkSession, dir: String): DataFrame = {
    val q = T(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        length(col("text")).as("__len"),
        TextFns.wordSetHits(TextFns.tokensLower(col("text")),
          Seq("the", "a", "and", "of", "to", "in")).as("__hits"),
        size(TextFns.tokensLower(col("text"))).as("__ntok"))
      .select(col("source"),
        trunc4(least(lit(1.0), col("__len") / 500.0) *
          (lit(0.7) + lit(0.3) * (col("__hits") / col("__ntok"))))
          .as("quality"))
      // cache (lazy): the threshold pass and the gate both read the
      // scored frame — uncached, the tokenize+score runs twice
      .cache()
    val thr = operators.Percentiles.exact(q, "quality", Seq(0.25),
      totalRowsHint = operators.ExactDistinct
        .parquetRowCount(s, s"$dir/documents.parquet"))
    q.crossJoin(broadcast(thr))
      .groupBy(col("source"), col("p25"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality") >= col("p25"), 1L).otherwise(0L))
          .as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        trunc4(col("n_kept") / col("n_docs")).as("kept_frac"),
        trunc4(col("p25")).as("p25_threshold"))
      .orderBy("source")
  }

  /** t26: curriculum pacing plan — the corpus bucketed into quality
    * QUINTILES (t02's score; thresholds via
    * [[operators.Percentiles.exact]], the q18 type-7 machinery — a
    * curriculum reorders real training data, so its cut points must
    * be reproducible) and reported as the easy→hard schedule a
    * curriculum loader consumes: per bucket, doc count, token budget,
    * mean quality. The one-row threshold frame broadcasts; the mean
    * is computed from the exact integer sum of the 4-decimal scores
    * (doubles summed in partition order would drift vs the oracle). */
  private def t26(s: SparkSession, dir: String): DataFrame = {
    val q = T(s, dir, "documents")
      .select(col("doc_id"),
        length(col("text")).as("__len"),
        TextFns.wordSetHits(TextFns.tokensLower(col("text")),
          Seq("the", "a", "and", "of", "to", "in")).as("__hits"),
        size(TextFns.tokensLower(col("text"))).as("__ntok"))
      .select(col("__ntok"),
        trunc4(least(lit(1.0), col("__len") / 500.0) *
          (lit(0.7) + lit(0.3) * (col("__hits") / col("__ntok"))))
          .as("quality"))
      // cache (lazy): quintile thresholds + bucket assignment both
      // read the scored frame (same double-tokenize as t24)
      .cache()
    val thr = operators.Percentiles.exact(q, "quality",
      Seq(0.2, 0.4, 0.6, 0.8),
      totalRowsHint = operators.ExactDistinct
        .parquetRowCount(s, s"$dir/documents.parquet"))
    q.crossJoin(broadcast(thr))
      .select(col("__ntok"), col("quality"),
        ((col("quality") >= col("p20")).cast("long") +
          (col("quality") >= col("p40")).cast("long") +
          (col("quality") >= col("p60")).cast("long") +
          (col("quality") >= col("p80")).cast("long")).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ntok").cast("long")).as("total_tokens"),
        sum(round(col("quality") * 10000).cast("long")).as("__q10k"))
      .select(col("bucket"), col("n_docs"), col("total_tokens"),
        trunc4(col("__q10k") / 10000.0 / col("n_docs")).as("avg_quality"))
      .orderBy("bucket")
  }

  /** t27: context-length decision table — for each candidate
    * max_seq_len, what the corpus pays in truncation (docs clipped,
    * tokens lost) vs padding (slot waste if each doc fills one
    * fixed-length row): the table read before choosing a training
    * context length, and the motivation for t16's packing (which
    * recovers the padding column). One scan: the per-doc token count
    * fans out ×|candidates| map-side (explode of a 4-element literal
    * array), then one hash-agg; all-integer operands, two double
    * divisions at the end. */
  private def t27(s: SparkSession, dir: String): DataFrame = {
    val lens = array(Seq(512L, 1024L, 2048L, 4096L).map(lit): _*)
    T(s, dir, "documents")
      .select(size(TextFns.tokensLower(col("text"))).cast("long").as("n"))
      .select(col("n"), explode(lens).as("max_seq_len"))
      .groupBy("max_seq_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n") > col("max_seq_len"), 1L).otherwise(0L))
          .as("n_truncated"),
        sum(least(col("n"), col("max_seq_len"))).as("tokens_kept"),
        sum(when(col("n") > col("max_seq_len"),
          col("n") - col("max_seq_len")).otherwise(0L)).as("tokens_lost"),
        sum(col("max_seq_len") - least(col("n"), col("max_seq_len")))
          .as("__pad"))
      .select(col("max_seq_len"), col("n_docs"), col("n_truncated"),
        col("tokens_kept"), col("tokens_lost"),
        trunc4(col("__pad") / (col("max_seq_len") * col("n_docs")))
          .as("pad_frac"),
        trunc4(col("n_truncated") / col("n_docs")).as("trunc_frac"))
      .orderBy("max_seq_len")
  }

  /** t28: token frequency-spectrum report — the "frequency of
    * frequencies" (Good–Turing's input, and the table that says how
    * much of the vocabulary is hapax noise vs productive tail):
    * tokens bucketed by occurrence count into hapax / rare / mid /
    * common bands, with token and occurrence totals per band. Two
    * hash-aggs (vocabulary-sized then 4-row), all-integer — the
    * vocab never broadcasts (t08's shuffle regime). */
  private def t28(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(explode(TextFns.tokensLower(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .select(
        when(col("c") === 1, "1_hapax")
          .when(col("c") <= 10, "2_rare")
          .when(col("c") <= 100, "3_mid")
          .otherwise("4_common").as("band"),
        col("c"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("c")).as("n_occurrences"))
      .orderBy("band")

  /** t13: corpus-derived stopword/boilerplate detection — tokens
    * whose document frequency exceeds half the corpus: the
    * data-driven stopword list a filtering pipeline derives per
    * corpus/language instead of shipping a fixed list. One distinct
    * (doc, token) hash-agg → one token hash-agg; the corpus count is
    * a one-row broadcast. */
  private def t13(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val df = docs
      .select(col("doc_id"),
        explode(array_distinct(TextFns.tokensLower(col("text"))))
          .as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).cast("double").as("__n"))
    df.join(broadcast(total))
      .filter(col("df") / col("__n") > 0.5)
      .select(col("token"), col("df"),
        trunc4(col("df") / col("__n")).as("doc_frac"))
      .orderBy("token")
  }

  /** t14: deterministic train/val/test split
    * ([[graft.operators.Sampling.hashSplit]]) — md5-bucketed 80/10/10
    * assignment, stable under retries and corpus growth; the md5
    * derivation makes the full assignment oracle-checkable. */
  private def t14(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.hashSplit(
        T(s, dir, "documents").select(col("doc_id")), col("doc_id"))
      .orderBy("doc_id")

  /** t15: grouped weighted sampling — k quality-weighted docs PER
    * SOURCE via the bounded-heap aggregate
    * ([[graft.operators.Sampling.groupedWeightedSample]]): no
    * per-group window sort, no shuffle of the unsampled mass.
    * Rows-only oracle (float pow keys); window-form parity spec in
    * SamplingSpec. */
  private def t15(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.groupedWeightedSample(
        T(s, dir, "documents"), "source", "doc_id",
        length(col("text")), 10)
      .orderBy("source", "rank")

  /** t16: training-sequence packing ([[Packing.packSequences]]) —
    * greedy sequential fill of 512-token sequences per source. The
    * data-dependent fill reset is inexpressible as a window function:
    * one hash shuffle on source, an ordered O(1)-state scan per
    * group. Oracle re-derives the fill chain with a recursive CTE. */
  private def t16(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
    Packing.packSequences(docs, "source", "doc_id", "n_tok", 512L)
      .orderBy("doc_id")
  }

  /** t17: corpus-trained language-affinity classifier (naive-Bayes-
    * shaped): add-one-smoothed token|class probabilities over the
    * corpus's own (token, lang) counts, each doc scored by the mean
    * smoothed likelihood per class, argmax with deterministic ties
    * (score DESC, lang ASC). The class-token matrix is
    * |vocab|×|classes| — broadcast here; at open-vocabulary scale the
    * model feeds through the hashing trick (t11) to stay bounded.
    * Scores truncated at 1e-6 on both engines before the argmax. */
  private def t17(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextFns.tokensLower(col("text")).as("__toks"))
    val tok = docs
      .select(col("doc_id"), col("lang"), explode(col("__toks")).as("t"))
      .cache()
    val cl = tok.groupBy("lang", "t").agg(count(lit(1)).as("c"))
    val lc = cl.groupBy("lang").agg(sum("c").as("n"))
    val vocab = tok.select("t").distinct()
    val v = vocab.agg(count(lit(1)).as("v"))
    // Exact-integer scoring (the t21/t26 trick): within one
    // (doc_id, m_lang) group every add-1 likelihood shares the SAME
    // denominator n+v, so avg(p) = sum(c+1) / ((n+v)·cnt) — carried
    // as integers to ONE double division. Averaging doubles instead
    // puts engine-specific summation order under the 1e-6 floor, and
    // at sf0.1 one row landed exactly on the truncation knife-edge
    // (Spark 0.0335 vs DuckDB 0.033499).
    val mat = docs.select("lang").distinct()
      .join(lc, "lang")
      .crossJoin(vocab).crossJoin(broadcast(v))
      .join(cl, Seq("lang", "t"), "left")
      .select(col("lang").as("m_lang"), col("t"),
        (coalesce(col("c"), lit(0L)) + 1).as("c1"),
        (col("n") + col("v")).as("den"))
    // the numerator widens to decimal BEFORE the ×10⁶ (a LongType
    // product wraps silently past ~9.2e12 summed counts with ANSI
    // off, while the oracle sums in HUGEINT) and is cast to double
    // exactly where the oracle casts, so both engines divide the
    // same IEEE value
    val sc = tok.join(broadcast(mat), Seq("t"))
      .groupBy(col("doc_id"), col("m_lang"))
      .agg((floor((sum(col("c1")).cast("decimal(38,0)") * 1000000)
        .cast("double") /
        (max(col("den")) * count(lit(1)))) / 1000000).as("score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("m_lang").asc)
    sc.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("m_lang").as("pred_lang"), col("score"))
      .orderBy("doc_id")
  }

  /** t18: n-gram NOVELTY score — per doc, the fraction of its
    * distinct bigrams whose FIRST corpus occurrence (by doc_id) is in
    * this doc: the contribution/diversity signal curation pipelines
    * weigh against quality (a perfect-quality doc repeating known
    * text adds nothing). First-seen is one min-agg over the bigram
    * table (vocabulary-sized shuffle with map-side partials, never
    * broadcast — t08's regime); scoring is one shuffle join back on
    * the bigram key. Docs under 2 tokens have no bigrams and drop. */
  private def t18(s: SparkSession, dir: String): DataFrame = {
    val bg = T(s, dir, "documents")
      .select(col("doc_id"), TextFns.tokensLower(col("text")).as("__tk"))
      .select(col("doc_id"),
        explode(array_distinct(TextFns.wordNgrams(col("__tk"), 2))).as("bg"))
      .cache() // both the first-seen agg and the scoring join consume it
    val first = bg.groupBy("bg").agg(min("doc_id").as("first_doc"))
    bg.join(first, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty", trunc4(col("n_novel") / col("n_bigrams")))
      .orderBy("doc_id")
  }

  /** t19: shard-export plan ([[Sampling.hashShard]], 16 shards) —
    * per-shard doc and token budgets for the training-export layout:
    * the report a writer checks for balance before
    * `partitionBy("shard")` lays the corpus out. Assignment is
    * md5-derived (stable under retries/appends), so the whole plan is
    * oracle-checkable; one map-side hash + one tiny hash-agg. */
  private def t19(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.hashShard(
        T(s, dir, "documents"), col("doc_id"), 16)
      .select(col("shard"),
        size(TextFns.tokensLower(col("text"))).cast("long").as("__ntok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("__ntok")).as("total_tokens"))
      .orderBy("shard")

  /** t20: mixture rebalance plan — given a half-corpus token budget
    * split UNIFORMLY across sources, the per-source sampling rate
    * (capped at 1.0) and the tokens it yields. All derived quantities
    * use integer arithmetic (rate carried as basis-points-of-basis-
    * points, r10k ∈ [0, 10000]) so floor-division parity holds
    * across engines — no float-boundary hazards in the plan a
    * sampler would execute. One scan + a one-row broadcast. */
  private def t20(s: SparkSession, dir: String): DataFrame = {
    val g = T(s, dir, "documents")
      .select(col("source"),
        size(TextFns.tokensLower(col("text"))).cast("long").as("__ntok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("__ntok")).as("source_tokens"))
    val tot = g.agg(sum(col("source_tokens")).as("__total"),
      count(lit(1)).as("__k"))
    g.join(broadcast(tot))
      .withColumn("target_tokens",
        floor(floor(col("__total") / 2) / col("__k")))
      .withColumn("__r10k",
        least(lit(10000L),
          floor(col("target_tokens") * 10000 / col("source_tokens"))))
      .select(col("source"), col("n_docs"), col("source_tokens"),
        col("target_tokens"),
        (col("__r10k") / 10000.0).as("rate"),
        floor(col("source_tokens") * col("__r10k") / 10000)
          .as("planned_tokens"))
      .orderBy("source")
  }

  /** n08: Unicode NFC normalization ([[Normalize.nfc]], native
    * codegen expression) — a decomposed accent sequence (e +
    * combining acute) is injected into a deterministic subset (the
    * synthetic corpus is pure ASCII), then composed: lengths shrink
    * and fingerprints equal DuckDB's nfc_normalize byte for byte. */
  private def n08(s: SparkSession, dir: String): DataFrame = {
    val injected = when(col("doc_id") % 5 === 0,
      concat(lit("Cafe"), lit("\u0301"), lit(" "), col("text")))
      .otherwise(col("text"))
    T(s, dir, "documents")
      .select(col("doc_id"), injected.as("__t"))
      .select(col("doc_id"),
        length(col("__t")).cast("long").as("pre_len"),
        length(Normalize.nfc(col("__t"))).cast("long").as("post_len"),
        md5(Normalize.nfc(col("__t"))).as("fp"))
      .orderBy("doc_id")
  }

  /** t01: token statistics — whitespace + BPE-ish tokenization;
    * token array materialized once per row. */
  private def t01(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), TextFns.tokens(col("text")).as("__toks"),
        length(regexp_replace(col("text"), "\\s", "")).as("__chars"))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("__toks"))).cast("long").as("n_uniq"),
        trunc4(col("__chars") / size(col("__toks"))).as("avg_tok_len"))
      .orderBy("doc_id")

  /** Truncate to 4 decimals via floor — unlike round(), floor is
    * deterministic across engines on identical doubles (no half-way
    * tie behavior), which matters for ratio formulas that land on
    * exact decimal boundaries systematically. */
  private def trunc4(c: Column): Column = floor(c * 10000) / 10000

  /** t02: quality features + score (length/punct/stopword ratios).
    * Tokens/hits materialized once per row — the expression tree
    * would otherwise re-run split() per reference. */
  private def t02(s: SparkSession, dir: String): DataFrame = {
    val stage = T(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        TextFns.tokensLower(col("text")).as("__toks"))
      .select(col("doc_id"),
        length(col("text")).as("__len"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,!?;:]", ""))).as("__punct"),
        TextFns.wordSetHits(col("__toks"),
          Seq("the", "a", "and", "of", "to", "in")).as("__hits"),
        size(col("__toks")).as("__ntok"))
    stage.select(col("doc_id"),
        col("__len").cast("long").as("char_len"),
        trunc4(col("__punct") / col("__len")).as("punct_ratio"),
        trunc4(col("__hits") / col("__ntok")).as("stop_ratio"),
        trunc4(least(lit(1.0), col("__len") / 500.0) *
          (lit(0.7) + lit(0.3) * (col("__hits") / col("__ntok"))))
          .as("quality"))
      .orderBy("doc_id")
  }

  /** t03: heuristic language ID (stopword-hit argmax); token array
    * materialized once (langId references it 4×). */
  private def t03(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextFns.tokensLower(col("text")).as("__toks"))
      .select(col("doc_id"), col("lang"),
        TextFns.langId(col("__toks")).as("pred_lang"))
      .orderBy("doc_id")

  /** t29: per-language corpus value report — t03's detected language
    * joined with t02's quality score and token budget: per predicted
    * language, doc count, token budget, mean quality from the exact
    * integer sum of 4-decimal scores (t26's trick) — the "which
    * languages are worth keeping, and how good is what we have"
    * table a multilingual mixture decision reads. One scan, one tiny
    * hash-agg. */
  private def t29(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("text"), TextFns.tokensLower(col("text")).as("__toks"))
      .select(TextFns.langId(col("__toks")).as("pred_lang"),
        size(col("__toks")).cast("long").as("__ntok"),
        trunc4(least(lit(1.0), length(col("text")) / 500.0) *
          (lit(0.7) + lit(0.3) * (TextFns.wordSetHits(col("__toks"),
            Seq("the", "a", "and", "of", "to", "in")) /
            size(col("__toks"))))).as("__q"))
      .groupBy("pred_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("total_tokens"),
        sum(round(col("__q") * 10000).cast("long")).as("__q10k"))
      .select(col("pred_lang"), col("n_docs"), col("total_tokens"),
        trunc4(col("__q10k") / 10000.0 / col("n_docs")).as("avg_quality"))
      .orderBy("pred_lang")

  /** t30: tokenizer fertility audit ([[operators.Subword]]) — derive
    * a bounded top-512-word vocabulary (one aggregate, driver state
    * = the tokenizer artifact), then greedy longest-match encode
    * every document map-side ([[graft.plans.SubwordEncode]], vocab
    * rides the expression, zero shuffle) and report per-source
    * tokens/doc, fertility (chars per token) and OOV share — the
    * audit a pipeline runs before committing to a tokenizer. No SQL
    * oracle (greedy maximal munch is an iterative recurrence DuckDB
    * cannot express declaratively) — rows-only + SubwordSpec's
    * hand-segmented cases, maximal-munch pins, and audit-arithmetic
    * checks. */
  private def t30(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    // vocab size 16 < the synthetic corpus's 31 distinct words, so
    // the OOV char-fallback and in-word prefix munch paths are
    // EXERCISED here (a corpus-covering vocab would report all-zero
    // unk and reduce the encode to word segmentation); production
    // passes a real trained-vocab size.
    // ROUND 14: the vocab is MERGE-trained ([[operators.Subword
    // .trainBpeVocab]], 32 BPE merges over the corpus word-frequency
    // table, piece inventory capped at 24) — the audit now measures
    // subword fragmentation under a real merge inventory (in-word
    // multi-piece splits), not just whole-word coverage, while the
    // small cap keeps the prefix-munch and OOV paths live
    operators.Subword.fertilityAudit(
      docs, operators.Subword.trainBpeVocab(docs, merges = 32, size = 24))
  }

  /** t31: markup strip — the boilerplate-removal pass of web-corpus
    * curation. The synthetic corpus carries no markup, so every 5th
    * doc is deterministically wrapped in an HTML shell (tags plus
    * the named entities the decoder handles) and then cleaned with
    * [[TextFns.stripMarkup]]: a map-side regexp/replace chain, zero
    * shuffle, cost = the scan. Emits the cleaned text plus how many
    * chars the strip removed — the audit signal a curation stage
    * monitors (a jump in removed share means the upstream extractor
    * regressed). */
  private def t31(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("<html><body><p>"), col("text"),
            lit("</p><div id=ad>Click &amp; win &lt;a deal&gt; " +
              "now&nbsp;!</div></body></html>")))
          .otherwise(col("text")).as("__raw"))
      .select(col("doc_id"), col("__raw"),
        TextFns.stripMarkup(col("__raw")).as("text_clean"))
      .select(col("doc_id"), col("text_clean"),
        (length(col("__raw")) - length(col("text_clean")))
          .cast("long").as("removed_chars"))
      .orderBy("doc_id")

  /** t32: URL-level dedup via canonicalization — the cheapest dedup
    * pass a crawl pipeline runs (before any content hashing): per-doc
    * URLs are synthesized deterministically (mixed-case host, default
    * :443 port, utm_ and ref tracking params, fragment — the noise real
    * crawl URLs carry), canonicalized map-side with
    * [[Normalize.canonicalUrl]], and grouped: one shuffle on the
    * canonical form, electing min-doc_id as keeper. At 100 TB the
    * canonical-url groupBy is the stage's only exchange and carries
    * (url, id) pairs, never document bytes. */
  private def t32(s: SparkSession, dir: String): DataFrame = {
    // host mod 5 / path mod 50: doc_id%5 is determined by doc_id%50,
    // so the canonical URL collapses to doc_id%50 — every canonical
    // group holds ~n/50 docs, a real dedup population (the tracking
    // params vary WITHIN each group, so only canonicalization, not
    // string equality, finds these dups)
    val url = concat(
      lit("HTTPS://WWW.Host"), (col("doc_id") % 5).cast("string"),
      lit(".COM:443/p/"), (col("doc_id") % 50).cast("string"),
      lit("?utm_source=feed&utm_campaign=w"),
      (col("doc_id") % 4).cast("string"),
      lit("&ref=r"), (col("doc_id") % 3).cast("string"),
      lit("&q=keep#sec"))
    T(s, dir, "documents")
      .select(col("doc_id"), Normalize.canonicalUrl(url).as("url"))
      .groupBy("url")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper_doc"))
      .orderBy("url")
  }

  /** t04: document fingerprint (md5 of normalized text). */
  private def t04(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** t05: corpus 3-gram frequency, top 20. Tokens are materialized
    * before the ngram lambda so split() runs once per row, not once
    * per element_at inside the transform(). */
  private def t05(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(TextFns.tokensLower(col("text")).as("toks"))
      .select(explode(TextFns.wordNgrams(col("toks"), 3)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram")).limit(20)

  /** t07: repetition quality signals (Gopher/C4-style filters):
    * duplicate-token fraction and the fraction of tokens covered by
    * the most frequent bigram — both within-row HOF expressions, zero
    * shuffle. */
  private def t07(s: SparkSession, dir: String): DataFrame = {
    val stage = T(s, dir, "documents")
      .select(col("doc_id"), TextFns.tokensLower(col("text")).as("__toks"))
      .select(col("doc_id"),
        size(col("__toks")).as("__n"),
        size(array_distinct(col("__toks"))).as("__uniq"),
        TextFns.topElementCount(TextFns.wordNgrams(col("__toks"), 2))
          .as("__top2"))
    stage.select(col("doc_id"),
        col("__n").cast("long").as("n_tokens"),
        trunc4(lit(1.0) - col("__uniq") / col("__n")).as("dup_tok_ratio"),
        trunc4(col("__top2") * 2.0 / col("__n")).as("top_bigram_ratio"))
      .orderBy("doc_id")
  }

  /** t08: TF-IDF top-3 keywords per document — the classic corpus
    * keyword extraction: per-(doc, term) counts, document frequency
    * over the corpus, top-k by weight per doc.
    *
    * Scale shape: explode → hash-agg tf on (doc_id, term) → df by
    * term re-aggregated FROM tf (never a second corpus scan) → SHUFFLE
    * join tf⋈df on term (the vocabulary is corpus-sized at 100 TB —
    * deliberately not broadcast) → per-doc top-k window over bounded
    * per-doc term lists. Ranking uses the exact rational weight
    * tf·N/df (IEEE-deterministic cross-engine; exact-math ties like
    * 2·ln4 = 4·ln2 would flip order under float ln); the displayed
    * tfidf is the conventional tf·ln(N/df). */
  private def t08(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val tf = docs
      .select(col("doc_id"),
        explode(TextFns.tokensLower(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    // top-3 per doc via the rank window. A collect_list +
    // array_sort + slice form (per-doc local sorts, no corpus-wide
    // window sort) was built and MEASURED at sf1.0: 4.3 s vs 3.7 —
    // the tokenize/explode aggregates dominate this key, not the
    // window, and the object-agg machinery costs more than the
    // hash-partitioned local sort it removes. Kept the simpler plan.
    val w = Window.partitionBy("doc_id")
      .orderBy((col("tf") * col("__n") / col("df")).desc, col("term"))
    tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        trunc4(col("tf") * log(col("__n").cast("double") / col("df")))
          .as("tfidf"))
      .orderBy("doc_id", "term")
  }

  /** n07: PII redaction — synthetic emails/phones injected into every
    * 10th doc (the corpus has none), then counted AND scrubbed in a
    * single fused byte pass ([[graft.plans.PiiScan]]; the regex
    * composition paid four pattern traversals per row, measured 15×
    * DuckDB at sf1.0 — measured: 0 divergent rows, 3.6 s → 0.41 s).
    * The patterns stay the shared cross-engine [[TextFns.EmailRe]] /
    * [[TextFns.PhoneRe]], which the DuckDB oracle runs verbatim. */
  private def n07(s: SparkSession, dir: String): DataFrame = {
    val injected = when(col("doc_id") % 10 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or 555-123-4567")))
      .otherwise(col("text"))
    T(s, dir, "documents")
      .select(col("doc_id"), TextFns.piiScan(injected).as("__s"))
      .select(col("doc_id"),
        col("__s.n_emails").as("n_emails"),
        col("__s.n_phones").as("n_phones"),
        col("__s.redacted").as("redacted"))
      .orderBy("doc_id")
  }

  /** n09: PII exposure audit — the compliance REPORT over n07's
    * detection machinery (same injected fixture, same cross-engine
    * patterns): per source, how many docs carry PII, match counts
    * per class, and the exposure fraction — the table a privacy
    * review reads before a corpus ships. n07 is the per-doc action;
    * this is the corpus-level decision view. One map-side regex pass
    * + one hash-agg. */
  private def n09(s: SparkSession, dir: String): DataFrame = {
    val injected = when(col("doc_id") % 10 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or 555-123-4567")))
      .otherwise(col("text"))
    T(s, dir, "documents")
      .select(col("source"), TextFns.piiScan(injected).as("__s"))
      .select(col("source"),
        col("__s.n_emails").as("__e"), col("__s.n_phones").as("__p"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__e") + col("__p") > 0, 1L).otherwise(0L))
          .as("n_docs_with_pii"),
        sum(col("__e")).as("n_emails"),
        sum(col("__p")).as("n_phones"))
      .withColumn("pii_frac",
        trunc4(col("n_docs_with_pii") / col("n_docs")))
      .orderBy("source")
  }

  /** t06: stratified deterministic sampling (cap dominant strata) —
    * rows-only oracle (xxhash64); proportions asserted in specs. */
  private def t06(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.stratifiedHashSample(
        T(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "zh" -> 0.8), defaultFraction = 1.0)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** t09: quality-weighted corpus draw without replacement
    * ([[operators.Sampling.weightedSample]], A-ES over hash-derived
    * uniforms, text length as the weight). Rows-only oracle (xxhash
    * keys); determinism + weight-monotonicity in SamplingSpec. */
  private def t09(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.weightedSample(
        T(s, dir, "documents"), "doc_id", length(col("text")), 100)
      .select(col("doc_id"), length(col("text")).cast("long").as("w"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------
  // Deduplication (documents)
  // ---------------------------------------------------------------

  /** d01: exact dedup on normalized-text hash, keep smallest id. */
  private def d01(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(T(s, dir, "documents"), col("doc_id"), col("text"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy("keep_id")

  /** d18: dedup savings report — what exact dedup (d01's
    * canonicalized hash, keep-min-id election) actually BUYS, per
    * source: duplicate docs, bytes reclaimed, reclaimed fraction —
    * the before/after table that justifies (or kills) a dedup stage
    * in a pipeline review. One hash-shuffle for the election + one
    * hash-keyed join back + one tiny per-source agg. */
  private def d18(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("__b"),
        Dedup.contentHash(col("text")).as("__h"))
    val keep = docs.groupBy("__h").agg(min(col("doc_id")).as("__keep"))
    docs.join(keep, Seq("__h"))
      .select(col("source"), col("__b"),
        (col("doc_id") === col("__keep")).cast("long").as("__k"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1L) - col("__k")).as("n_dupes"),
        sum(col("__b")).as("total_bytes"),
        sum(when(col("__k") === 0L, col("__b")).otherwise(0L))
          .as("bytes_saved"))
      .select(col("source"), col("n_docs"), col("n_dupes"),
        col("total_bytes"), col("bytes_saved"),
        trunc4(col("bytes_saved") / col("total_bytes")).as("saved_frac"))
      .orderBy("source")
  }

  /** d02: MinHash+LSH near-dup candidate pairs — rows-only oracle
    * (xxhash64 signatures are Spark-specific); recall covered by
    * specs + d03 verification. */
  private def d02(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashCandidatePairs(T(s, dir, "documents"),
        col("doc_id"), col("text"))
      .orderBy("a_id", "b_id")

  /** d03: n-gram Jaccard verification on a deterministic pair set
    * (consecutive ids — SQL-expressible, exercises the same
    * verification operator the LSH pipeline uses). */
  private def d03(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = docs.select(col("doc_id").as("a_id"))
      .withColumn("b_id", col("a_id") + 1)
      .join(docs.select(col("doc_id").as("b_id")), "b_id")
    Dedup.jaccardOnPairs(pairs, docs, col("doc_id"), col("text"))
      .select("a_id", "b_id", "n_inter", "n_union", "jaccard")
      .orderBy("a_id")
  }

  /** d19: LSH banding precision audit — the complement of the
    * recall specs: of d02's candidate pairs, how many survive d03's
    * exact Jaccard verification at the 0.5 dup threshold — measured
    * candidate precision, the number that says whether the banding
    * config wastes verification work (too loose) or can be relaxed
    * (too tight). Pair-bounded verify over the banding's own
    * candidates; rows-only (minhash candidates are Spark-specific),
    * counts exact. */
  private def d19(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val cand = Dedup.minHashCandidatePairs(docs, col("doc_id"),
      col("text"))
    Dedup.jaccardOnPairs(cand, docs, col("doc_id"), col("text"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_true"))
      .select(col("n_candidates"), col("n_true"),
        trunc4(col("n_true") / col("n_candidates")).as("precision"))
  }

  /** d20: quality-aware dedup keeper — d01's exact-dup groups with
    * the KEEPER elected by t02's quality score (ties broken by min
    * doc_id) instead of first/min-id: the production refinement where
    * a duplicate set keeps its best-written copy, not its
    * lowest-numbered one (the same fingerprint + score machinery,
    * recombined — one scan, one window over the fingerprint groups).
    * Per doc: quality, its group's keeper, and the keep verdict —
    * the drop set differs from d01 exactly on groups whose best copy
    * is not the oldest. At 100 TB: one hash shuffle on the
    * fingerprint (same as d01); the score is map-side. */
  private def d20(s: SparkSession, dir: String): DataFrame = {
    val q = T(s, dir, "documents")
      .select(col("doc_id"),
        TextFns.textFingerprint(col("text")).as("fp"),
        TextFns.qualityScore(col("text")).as("quality"))
    val w = Window.partitionBy("fp")
      .orderBy(col("quality").desc, col("doc_id"))
    q.select(col("doc_id"), col("quality"),
        first(col("doc_id")).over(w).as("keeper_id"))
      .select(col("doc_id"), col("quality"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("keep"))
      .orderBy("doc_id")
  }

  /** d21: LSH banding-parameter plan ([[Dedup.bandingPlan]]) — the
    * analytic S-curve table over every bands×rows factorization of
    * the 64-hash signature budget: curve threshold and candidate
    * probability below/at/above the 0.5 dup threshold per config,
    * `in_use` marking d02's 16×4. The decision table d19's measured
    * precision is judged against; arithmetic-only, no scan. */
  private def d21(s: SparkSession, dir: String): DataFrame =
    Dedup.bandingPlan(s)

  /** d12: duplicate-cluster resolution, ORACLE-CHECKED connected
    * components: consecutive-id pairs with token Jaccard >= 0.5 form
    * multi-hop chains (the adversarial diameter case for label
    * propagation); [[Dedup.clusterLeaders]]'s distributed min-label
    * fixpoint assigns every chained doc its component's min id. The
    * DuckDB oracle re-derives components via recursive-CTE
    * reachability — the one query where the iterative CC result is
    * hash-verified exactly, not just property-specced. */
  private def d12(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val cand = docs.select(col("doc_id").as("a_id"))
      .withColumn("b_id", col("a_id") + 1)
      .join(docs.select(col("doc_id").as("b_id")), "b_id")
    val pairs = Dedup
      .jaccardOnPairs(cand, docs, col("doc_id"), col("text"))
      // threshold on the exact rational — identical IEEE division in
      // both engines; the rounded display column would drift
      .filter(col("n_inter") / col("n_union") >= 0.5)
      .select("a_id", "b_id")
    Dedup.clusterLeaders(pairs)
      .select(col("doc_id"), col("leader_id").as("canonical_id"))
      .orderBy("doc_id")
  }

  /** d13: asymmetric containment verify
    * ([[Dedup.containmentOnPairs]], bigram shingles) — the
    * quote-expansion/boilerplate-wrap dedup class Jaccard misses;
    * consecutive-id pairs keep the verification oracle-exact. */
  private def d13(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = docs.select(col("doc_id").as("a_id"))
      .withColumn("b_id", col("a_id") + 1)
      .join(docs.select(col("doc_id").as("b_id")), "b_id")
    Dedup.containmentOnPairs(pairs, docs, col("doc_id"), col("text"))
      .select("a_id", "b_id", "n_a", "n_inter", "containment")
      .orderBy("a_id")
  }

  /** d14: embedding-space decontamination
    * ([[Dedup.semanticDecontaminate]]) — max cosine of every corpus
    * vector against the held-out eval slice (vec_id % 97 == 0), flag
    * above 0.35 on the rounded value. The semantic complement of
    * d10's n-gram screen: eval is the broadcast side, the corpus is
    * scanned once. */
  private def d14(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Dedup.semanticDecontaminate(
        emb.filter(col("vec_id") % 97 =!= 0),
        emb.filter(col("vec_id") % 97 === 0),
        col("vec_id"), col("embedding"), 0.35)
      .orderBy("vec_id")
  }

  /** d15: pairwise source-corpus overlap ([[Dedup.sourceOverlap]]) —
    * distinct 5-gram Jaccard between source pairs that share at least
    * one shingle: which upstream snapshots duplicate each other
    * before any doc-level dedup runs. Output bounded by |sources|². */
  private def d15(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(T(s, dir, "documents"),
        col("source"), col("text"), n = 5)
      .orderBy("source_a", "source_b")

  /** d16: per-doc duplicated-span profile
    * ([[Dedup.duplicatedSpanProfile]], 8-token windows) — the
    * exact-substring-dedup signal: the share of each doc covered by
    * window text occurring at ≥2 positions corpus-wide. The
    * position-level complement of t18's first-seen novelty. */
  private def d16(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpanProfile(T(s, dir, "documents"),
        col("doc_id"), col("text"), w = 8)
      .orderBy("doc_id")

  /** d17: exact-substring dedup rewrite
    * ([[Dedup.exactSubstringDedup]], 8-token windows) — the action
    * half of d16's signal: drop every token covered by a non-first
    * occurrence of a corpus-duplicated window, keeping the globally
    * first (min (doc_id, pos)) copy. */
  private def d17(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstringDedup(T(s, dir, "documents"),
        col("doc_id"), col("text"), w = 8)
      .orderBy("doc_id")

  /** d04: 64-bit SimHash signatures + banding chunks — rows-only
    * oracle (xxhash64-based). */
  private def d04(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashSignatures(T(s, dir, "documents"),
        col("doc_id"), col("text"))
      .orderBy("doc_id")

  /** d06: end-to-end near-dedup pipeline — LSH candidates → Jaccard
    * verification → cluster resolution → keep/drop verdict. Rows-only
    * oracle (xxhash64 candidates); semantics covered by specs. */
  private def d06(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDedupPipeline(T(s, dir, "documents"),
        col("doc_id"), col("text"), jaccardThreshold = 0.5)
      .orderBy("doc_id")

  /** d05: embedding-cosine near-dup pairs (id-bounded block,
    * threshold 0.3). */
  private def d05(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairs(
        T(s, dir, "embeddings").filter(col("vec_id") < 200),
        col("vec_id"), col("embedding"), 0.3)
      .orderBy("a_id", "b_id")

  /** d08: SimHash banded candidate pairs with exact hamming verify —
    * the 4-table-banding near-dup path over the full documents table.
    * Rows-only oracle (xxhash64-based signatures); banding recall and
    * hamming guarantees covered in DedupSpec. */
  private def d08(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashCandidatePairs(T(s, dir, "documents"),
        col("doc_id"), col("text"))
      .orderBy("a_id", "b_id")

  /** d09: blocked fuzzy match ([[Dedup.fuzzyMatchPairs]]): customers
    * whose names are within edit distance 1, blocked on
    * (mktsegment, 16-char name prefix) so the quadratic verify stays
    * within-block — the record-linkage shape of the reference's
    * owner-name normalization problem. */
  private def d09(s: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyMatchPairs(T(s, dir, "customer"),
        col("c_custkey"), col("c_name"),
        Seq(col("c_mktsegment"), substring(col("c_name"), 1, 16)),
        maxDistance = 1)
      .orderBy("a_id", "b_id")

  /** d10: benchmark decontamination ([[Dedup.decontaminate]]) —
    * token 8-gram overlap between the corpus (doc_id % 20 != 0) and
    * a held-out benchmark slice (doc_id % 20 == 0); planted near-dups
    * straddling the split produce real contamination hits. Flag cast
    * to 0/1 for cross-engine dtype stability. */
  private def d10(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    Dedup.decontaminate(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        col("doc_id"), col("text"), n = 8)
      .select(col("doc_id"), col("n_overlap"),
        col("contaminated").cast("long").as("contaminated"))
      .orderBy("doc_id")
  }

  /** d11: SemDeDup-shape embedding cluster dedup
    * ([[Dedup.embeddingClusterDedup]]) — bucketed near-dup pairs →
    * connected components → one keeper per cluster. Rows-only oracle
    * (bucket recall is hyperplane-dependent); cluster-consistency
    * specs in DedupSpec. */
  private def d11(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingClusterDedup(
        T(s, dir, "embeddings"), col("vec_id"), col("embedding"), 0.3)
      .orderBy("vec_id")

  /** d07: corpus-scale embedding near-dup — hyperplane LSH buckets →
    * within-bucket pairs → exact cosine verify, over the FULL
    * embeddings table (no id block). Rows-only oracle (bucket
    * membership is hyperplane-dependent); recall vs the exact d05
    * block asserted in DedupSpec. */
  private def d07(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairsBucketed(
        T(s, dir, "embeddings"), col("vec_id"), col("embedding"), 0.3)
      .orderBy("a_id", "b_id")

  // ---------------------------------------------------------------
  // Similarity search (embeddings)
  // ---------------------------------------------------------------

  /** s01: brute-force cosine top-5 for queries vec_id < 10, through
    * the bounded-heap aggregate ([[Similarity.knnBruteAgg]]) — the
    * window-sort form (`Oracles.knnBrute`) buffers the whole corpus
    * per query in one task and survives only as the test-side oracle
    * (SimilaritySpec asserts exact equality of the two). */
  private def s01(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.knnBruteAgg(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .orderBy("q_id", "rank")
  }

  /** s02: random-hyperplane LSH ANN (multi-probe) — rows-only oracle;
    * recall vs s01 asserted in specs. */
  private def s02(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.lshAnn(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .orderBy("q_id", "rank")
  }

  /** s03: IVF-style partitioned ANN (label cells, nprobe=3) —
    * rows-only oracle; recall vs s01 asserted in specs. */
  private def s03(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.ivfAnn(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", 5, nprobe = 3)
      .orderBy("q_id", "rank")
  }

  /** s14: ANN recall self-audit — the production "is my index still
    * good?" probe: a seeded hash-sampled query set (retry-stable, as
    * every sampling op), EXACT brute-force top-k on that sample only
    * (|sample| × corpus — a fraction of a full brute pass), joined
    * against each ANN method's answers on the same sample; one
    * measured-recall row per method (s02's tuned LSH config, s03's
    * label-cell IVF config). Rows-only oracle (ANN internals aren't
    * SQL-expressible); bounds + determinism + brute-is-perfect specs
    * in SimilaritySpec. At 100 TB the audit scales with the sample,
    * never corpus². */
  private def s14(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val qs = graft.operators.Sampling.hashSample(emb, "vec_id", 0.02,
      seed = 7L)
    val truth = Similarity.knnBruteAgg(emb, qs, "vec_id", "embedding", 5)
      .select(col("q_id"), col("cand_id"))
    def measured(ann: DataFrame, method: String): DataFrame =
      truth.join(
          ann.select(col("q_id"), col("cand_id"), lit(1L).as("__hit")),
          Seq("q_id", "cand_id"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_found"))
        .select(lit(method).as("method"), col("n_truth"), col("n_found"),
          trunc4(col("n_found") / col("n_truth")).as("recall"))
    measured(Similarity.lshAnn(emb, qs, "vec_id", "embedding", 5), "lsh")
      .unionByName(measured(
        Similarity.ivfAnn(emb, qs, "vec_id", "embedding", "label", 5,
          nprobe = 3), "ivf"))
      .orderBy("method")
  }

  /** s05: IVF ANN over a TRAINED coarse quantizer — k-means cells
    * (broadcast-centroid Lloyd iterations, [[Similarity.kmeansCells]])
    * instead of the pre-existing label column s03 uses. Rows-only
    * oracle (cells are quantizer-dependent); determinism + recall in
    * SimilaritySpec. */
  private def s05(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    // assignment rides the corpus row (map-side) — the r13 form
    // joined the bare (id, cell) table back onto the corpus by id
    // just to re-attach the vector it had dropped
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
      k = 10, maxIter = 5)
    Similarity.ivfAnn(Similarity.withNearestCell(emb, "embedding", cents),
        emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "cell", 5, nprobe = 3)
      .orderBy("q_id", "rank")
  }

  /** s12: cross-modal cluster profile
    * ([[Similarity.clusterProfile]]) — embeddings coarse-quantized by
    * the s05 seeded k-means, cells joined back to the DOCUMENTS table
    * (doc_id = vec_id) and profiled: doc count, token budget, mean
    * quality (the t02 score), language spread, corpus share — the
    * "what IS this cluster" report a SemDeDup-style prune decision
    * reads before dropping or downsampling a region of embedding
    * space. Rows-only oracle (Lloyd cells aren't SQL-expressible);
    * determinism + coverage specs in SimilaritySpec. */
  private def s12(s: SparkSession, dir: String): DataFrame = {
    val cells = Similarity.kmeansCells(T(s, dir, "embeddings"),
      "vec_id", "embedding", k = 8, maxIter = 5)
    val feats = T(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        TextFns.tokensLower(col("text")).as("__toks"))
      .select(col("doc_id").as("vec_id"), col("lang"),
        size(col("__toks")).cast("long").as("__ntok"),
        (least(lit(1.0), length(col("text")) / 500.0) *
          (lit(0.7) + lit(0.3) *
            (TextFns.wordSetHits(col("__toks"),
              Seq("the", "a", "and", "of", "to", "in")) /
              size(col("__toks"))))).as("__q"))
    Similarity.clusterProfile(cells, feats, "vec_id", Seq(
        sum(col("__ntok")).as("total_tokens"),
        trunc4(avg(col("__q"))).as("avg_quality"),
        countDistinct(col("lang")).as("n_langs")))
      .orderBy("cell")
  }

  /** s13: embedding-space outlier report
    * ([[Similarity.centroidNovelty]]) — the top 20 vectors by
    * cell-relative novelty (1 − cosine to the assigned s05-seeded
    * centroid, divided by the cell's mean novelty): the complement
    * of the near-dup screens — what is too FAR from every cluster is
    * either precious long-tail data or garbage, and both deserve a
    * human look before a prune decision. Rows-only oracle (Lloyd
    * cells aren't SQL-expressible); planted-outlier + determinism
    * specs in SimilaritySpec. */
  private def s13(s: SparkSession, dir: String): DataFrame = {
    Similarity.centroidNovelty(T(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, maxIter = 5)
      .orderBy(desc("novelty_ratio"), col("vec_id"))
      .limit(20)
      .select(col("vec_id"), col("cell"),
        trunc4(col("novelty")).as("novelty"),
        trunc4(col("novelty_ratio")).as("novelty_ratio"))
  }

  /** s15: near-dup threshold calibration — the histogram of pairwise
    * cosine over a seeded 10% sample (t14's portable md5 bucket), in
    * 0.05 bins: the table that picks d05/d07's similarity threshold
    * FROM the data (where does the true-dup mode separate from the
    * random-pair bulk?) instead of folklore. The all-pairs block is
    * intentional and bounded to the sample (|s|²/2 ≈ 1% of corpus²
    * work — the same audit-sized trade as s14). */
  private def s15(s: SparkSession, dir: String): DataFrame = {
    val bucket =
      conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    val sample = T(s, dir, "embeddings").filter(bucket < 10)
    val a = sample.select(col("vec_id").as("a_id"),
      col("embedding").as("va"))
    val b = sample.select(col("vec_id").as("b_id"),
      col("embedding").as("vb"))
    a.join(b, col("a_id") < col("b_id"))
      .select((floor(Similarity.cosine(col("va"), col("vb")) * 20) / 20)
        .as("cos_bin"))
      .groupBy("cos_bin")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("cos_bin")
  }

  /** s16: corpus-wide k-NN GRAPH ([[Similarity.knnGraphBucketed]]) —
    * every vector's top-5 neighbors among its LSH bucket candidates,
    * the all-nodes neighbor structure SemDeDup-shape cluster dedup
    * and graph clustering consume. Rows-only oracle (LSH buckets are
    * Spark-specific); neighbor-correctness and recall properties in
    * SimilaritySpec. */
  private def s16(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphBucketed(T(s, dir, "embeddings"),
        "vec_id", "embedding", k = 5)
      .select(col("vec_id"), col("rank"), col("nbr_id"),
        trunc4(col("sim")).as("sim"))
      .orderBy("vec_id", "rank")

  /** s04: brute-force top-k via the bounded-heap TypedImperative
    * aggregate — same results as s01 (shares its oracle), but the
    * plan is a partial-aggregating hash agg instead of a window
    * sort. */
  private def s04(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.knnBruteAgg(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .orderBy("q_id", "rank")
  }

  // ---------------------------------------------------------------
  // Events / temporal
  // ---------------------------------------------------------------

  /** e01: gap sessionization (30-minute gap). */
  private def e01(s: SparkSession, dir: String): DataFrame =
    Temporal.sessionize(T(s, dir, "events"),
        "user_id", "ts", "event_id", 1800L)
      .orderBy("user_id", "session_id")

  /** e21: session-shape profile — e01's sessions summarized as the
    * one-row capacity table state-store sizing reads: session count,
    * mean events per session (exact integer sum), p50/p90 of both
    * session size and duration via the exact type-7 machinery
    * (state-store memory is provisioned off the tail, so the tail
    * must be reproducible). Three one-row frames broadcast into one
    * decision row. */
  private def e21(s: SparkSession, dir: String): DataFrame = {
    // cache (lazy): the count/mean aggregate and BOTH exact-percentile
    // passes read this session frame — uncached, the sessionize window
    // over the full events table runs three times (t22's cached-frame
    // lesson; the frame is one small row per session)
    val sess = Temporal.sessionize(T(s, dir, "events"),
        "user_id", "ts", "event_id", 1800L)
      .select(col("n_events").cast("long").as("n_events"),
        (col("end_us") - col("start_us")).as("dur_us"))
      .cache()
    // sessions ≤ events rows: the footer bound enables the one-scan
    // percentile path over the cached session frame
    val evRows = operators.ExactDistinct
      .parquetRowCount(s, s"$dir/events.parquet")
    val pe = operators.Percentiles.exact(sess, "n_events", Seq(0.5, 0.9),
        totalRowsHint = evRows)
      .select(floor(col("p50")).cast("long").as("p50_events"),
        floor(col("p90")).cast("long").as("p90_events"))
    val pd = operators.Percentiles.exact(sess, "dur_us", Seq(0.5, 0.9),
        totalRowsHint = evRows)
      .select(floor(col("p50")).cast("long").as("p50_dur_us"),
        floor(col("p90")).cast("long").as("p90_dur_us"))
    sess.agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("__te"))
      .select(col("n_sessions"),
        trunc4(col("__te") / col("n_sessions")).as("mean_events"))
      .crossJoin(broadcast(pe)).crossJoin(broadcast(pd))
  }

  /** e02: tumbling hourly aggregation. */
  private def e02(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy("hour", "event_type")

  /** e17: SLIDING-window aggregation (7-day window, 1-day slide) —
    * overlapping windows, distinct from e02's tumbling buckets: each
    * event lands in 7 windows via Spark's native `window()` fan-out
    * (bounded ×size/slide row expansion map-side, then one hash-agg —
    * never a self-join). Day-aligned slide makes the window starts
    * engine-derivable: the oracle fans each event out with
    * generate_series(0,6). */
  private def e17(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(window(col("ts"), "7 days", "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("win_start"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("win_start", "event_type")

  /** e18: event-time DISORDER audit — the measurement that tunes
    * every watermark in the e-family: per event type, how far behind
    * the running event-time maximum (in ingest order = event_id) do
    * late events arrive? `withWatermark("ts", X)` silently drops
    * anything later than X, so X is chosen FROM this profile, not
    * guessed. One keyed window shuffle, all-integer micros arithmetic
    * (exact hash vs the oracle). */
  private def e18(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    T(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("late_us",
        when(max(col("us")).over(w) > col("us"),
          max(col("us")).over(w) - col("us")).otherwise(lit(0L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late_us")).as("max_disorder_us"),
        sum(col("late_us")).as("total_disorder_us"))
      .orderBy("event_type")
  }

  /** e19: watermark-from-measurement — e18's disorder profile turned
    * into the remedy (the q43→saltedJoin signal→action pattern
    * applied to streaming): per event type, the p99 arrival lateness
    * (exact type-7 order statistics,
    * [[operators.Percentiles.exactByGroup]] — a watermark silently
    * DROPS data, so its threshold must be reproducible, never
    * approximated) becomes the recommended `withWatermark` delay, and
    * the audit reports exactly what that bound admits: drop_frac ≈
    * 0.01 by construction, known BEFORE any stream runs with it. The
    * |types|-row threshold frame auto-broadcasts onto the audit
    * join. */
  private def e19(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = T(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("late_us",
        when(max(col("us")).over(w) > col("us"),
          max(col("us")).over(w) - col("us")).otherwise(lit(0L)))
      // cache (lazy): the p99 threshold pass and the drop-count join
      // both read the windowed lateness frame (t22's cached-frame
      // lesson — uncached, the event-time window runs twice)
      .cache()
    val thr = operators.Percentiles.exactByGroup(
        late, "event_type", "late_us", Seq(0.99),
        maxGroupsHint = 256,
        totalRowsHint = operators.ExactDistinct
          .parquetRowCount(s, s"$dir/events.parquet"))
      .select(col("event_type"),
        floor(col("p99")).cast("long").as("wm_delay_us"))
    late.join(thr, Seq("event_type"))
      .groupBy(col("event_type"), col("wm_delay_us"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > col("wm_delay_us"), 1L).otherwise(0L))
          .as("n_dropped"))
      .select(col("event_type"), col("n_events"), col("wm_delay_us"),
        col("n_dropped"),
        trunc4(col("n_dropped") / col("n_events")).as("drop_frac"))
      .orderBy("event_type")
  }

  /** e20: event-time inter-arrival profile — the capacity-planning
    * twin of e18's disorder audit: per event type, the gap between
    * consecutive events in event-time order (p50/p99 via the exact
    * type-7 machinery, mean from the exact integer span) — the table
    * that sizes micro-batch triggers and state-store throughput
    * before a stream ships. One keyed window shuffle shared with the
    * percentile pass's group key; all-integer operands, floored to
    * whole micros. */
  private def e20(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("us", "event_id")
    val gaps = T(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      // cache (lazy): percentile pass + mean aggregate share the
      // windowed gap frame (same shape as e19)
      .cache()
    val quant = operators.Percentiles.exactByGroup(
        gaps, "event_type", "gap_us", Seq(0.5, 0.99),
        maxGroupsHint = 256,
        totalRowsHint = operators.ExactDistinct
          .parquetRowCount(s, s"$dir/events.parquet"))
      .select(col("event_type"),
        floor(col("p50")).cast("long").as("p50_gap_us"),
        floor(col("p99")).cast("long").as("p99_gap_us"))
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        floor(sum(col("gap_us")) / count(lit(1))).cast("long")
          .as("mean_gap_us"))
      .join(quant, Seq("event_type"))
      .orderBy("event_type")
  }

  /** e03: as-of join — latest order at-or-before each event for the
    * same user (union-and-carry, one shuffle). */
  private def e03(s: SparkSession, dir: String): DataFrame = {
    val events = T(s, dir, "events")
      .select(col("user_id").as("k"), col("ts"), col("event_id"))
    val orders = T(s, dir, "orders")
      .select(col("o_custkey").as("k"), col("o_orderdate").as("ts"),
        col("o_orderkey"))
    Temporal.asofBackward(events, orders, "k", "ts", "o_orderkey")
      .select(col("event_id"), col("matched_o_orderkey"))
      .orderBy("event_id")
  }

  /** e04: Structured Streaming tumbling counts w/ watermark, run to
    * completion on a memory sink — oracle is the batch group-by. */
  private def e04(s: SparkSession, dir: String): DataFrame =
    Streams.tumblingCounts(s, dir)

  /** e05: stateful sessionization (flatMapGroupsWithState) — oracle
    * is the window-function session count. */
  private def e05(s: SparkSession, dir: String): DataFrame =
    Streams.statefulSessionCounts(s, dir)

  /** e07: as-of join through the custom LogicalPlan/Strategy/
    * SparkPlan operator (AsOfJoinExec) — same semantics and oracle
    * shape as e03, natively planned sort-merge. */
  private def e07(s: SparkSession, dir: String): DataFrame = {
    val events = T(s, dir, "events")
      .select(col("user_id").as("k"), col("ts"), col("event_id"))
    val orders = T(s, dir, "orders")
      .select(col("o_custkey").as("k"), col("o_orderdate").as("ts"),
        col("o_orderkey"))
    Temporal.asofBackwardExec(events, orders, "k", "ts", "o_orderkey")
      .select(col("event_id"), col("matched_o_orderkey"))
      .orderBy("event_id")
  }

  /** e08: production streaming sink — Append mode + watermark to a
    * parquet file sink with checkpoint (exactly-once), read back from
    * the committed files. Oracle applies Append's watermark cutoff:
    * only windows whose end precedes max(ts) − 1h are emitted. */
  private def e08(s: SparkSession, dir: String): DataFrame =
    Streams.tumblingCountsToFiles(s, dir)

  /** e09: stream-stream inner join with time-range condition and
    * watermarked state on both sides — purchase→click attribution.
    * Oracle is the equivalent batch interval join. */
  private def e09(s: SparkSession, dir: String): DataFrame =
    Streams.purchaseAttribution(s, dir)

  /** e10: streaming deduplication — dropDuplicatesWithinWatermark
    * per-key state, key-only output; oracle is batch DISTINCT. */
  private def e10(s: SparkSession, dir: String): DataFrame =
    Streams.streamingDedup(s, dir)

  /** e06: native session_window sessionization (gap merge). Spark's
    * session semantics: a new session starts when the gap is >= the
    * timeout (vs strictly > in e01's manual form) — the oracle
    * mirrors that. */
  private def e06(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        col("n_events"))
      .orderBy("user_id", "start_us")

  /** e11: conversion funnel — per-user first signup, first purchase
    * at-or-after it, staged joins + one aggregate (the multi-step
    * event-sequence pattern sessionization alone can't express). */
  private def e11(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t0"))
    val converted = ev.filter(col("event_type") === "purchase")
      .join(signup, Seq("user_id"))
      .filter(col("ts") >= col("t0"))
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    signup.join(converted, Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_signup"),
        count(col("t1")).as("n_converted"),
        trunc4(count(col("t1")) / count(lit(1))).as("conversion"))
  }

  /** e22: time-to-convert profile — e11's funnel with the clock on:
    * among converted users, signup→first-purchase latency summarized
    * as count, mean (exact integer micros) and p50/p90 via the exact
    * type-7 machinery — SLA and campaign-attribution windows are set
    * off this tail, so it must be reproducible. e11 says how many
    * convert; e22 says how long conversion takes. */
  private def e22(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t0"))
    // cache (lazy): the count/mean aggregate and the exact-percentile
    // machinery's probe + window passes all read this latency frame —
    // uncached, the two event scans + join run three times (e21's
    // cached-frame lesson; the frame is one small row per converted
    // user)
    val lat = ev.filter(col("event_type") === "purchase")
      .join(signup, Seq("user_id"))
      .filter(col("ts") >= col("t0"))
      .groupBy("user_id")
      .agg(min(col("ts")).as("t1"), min(col("t0")).as("t00"))
      .select((unix_micros(col("t1")) - unix_micros(col("t00")))
        .as("lat_us"))
      .cache()
    val pq = operators.Percentiles.exact(lat, "lat_us", Seq(0.5, 0.9),
      // converted users ≤ event rows: footer bound for the
      // one-scan path over the cached latency frame
      totalRowsHint = operators.ExactDistinct
        .parquetRowCount(s, s"$dir/events.parquet"))
      .select(floor(col("p50")).cast("long").as("p50_lat_us"),
        floor(col("p90")).cast("long").as("p90_lat_us"))
    lat.agg(count(lit(1)).as("n_converted"),
        floor(sum(col("lat_us")) / count(lit(1))).cast("long")
          .as("mean_lat_us"))
      .crossJoin(broadcast(pq))
  }

  /** e23: top session opening paths ([[Temporal.sessionPaths]]) —
    * the funnel-EXPLORATION report: each session's first 3 event
    * types joined with '>' as its path, counted across e01's
    * sessions, top 20 by frequency (total order, so the limit is
    * engine-portable). One shuffle: the ranking window's
    * (user, session) partition is a superset of the session
    * window's user partition. */
  private def e23(s: SparkSession, dir: String): DataFrame =
    Temporal.sessionPaths(T(s, dir, "events"),
      "user_id", "ts", "event_id", "event_type", 1800L, depth = 3,
      topK = 20)

  /** e12: incremental rollup merge ([[Temporal.mergeRollup]]): the
    * stored per-day rollup of history (ts < cutoff) merges with the
    * delta's partial aggregates (ts >= cutoff) by re-summing the
    * additive measures — no history rescan. The oracle is the FULL
    * single-pass recompute: partial-merge must be indistinguishable
    * from it, for any cutoff. */
  private def e12(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-16 12:00:00").cast("timestamp")
    val ev = T(s, dir, "events")
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .as("day"), col("event_type"), col("value"), col("ts"))
    def roll(df: DataFrame) = df.groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
    val base = roll(ev.filter(col("ts") < cutoff))
    val delta = roll(ev.filter(col("ts") >= cutoff))
    Temporal
      .mergeRollup(base, delta, Seq("day", "event_type"), Seq("n", "sv"))
      .select(col("day"), col("event_type"), col("n"),
        round(col("sv"), 2).as("total_value"))
      .orderBy("day", "event_type")
  }

  /** e13: batch range (interval) join via [[Temporal.rangeJoin]] —
    * purchases within 30 minutes AFTER each click, no equi-key. A
    * naive inequality join plans as BroadcastNestedLoop (quadratic);
    * the binned form hash-joins on a time-bucket id (RangeJoinSpec
    * asserts no BNL/cartesian in the physical plan). */
  private def e13(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("ts").as("r_ts"), col("value").as("r_value"))
    Temporal.rangeJoin(clicks, "ts", purchases, "r_ts",
        0L, 30L * 60L * 1000000L)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_after"),
        round(sum(col("r_value")), 2).as("sum_value"))
      .orderBy("event_id")
  }

  /** e15: time-series resample + forward fill
    * ([[Temporal.resampleDailyFill]]) — every user's event values
    * regularized onto the corpus's daily grid, last observation
    * carried forward across gap days. */
  private def e15(s: SparkSession, dir: String): DataFrame =
    Temporal.resampleDailyFill(
        T(s, dir, "events"), "user_id", "ts", "event_id", "value")
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        round(col("value"), 2).as("value"))
      .orderBy("user_id", "day")

  /** e14: streaming CDC upsert ([[Streams.streamingUpsertLatest]]) —
    * a foreachBatch merge maintains the latest-event-per-user parquet
    * snapshot (versioned dirs + pointer swap, exactly-once readers).
    * Oracle: the batch latest-per-key query; equality must hold for
    * ANY micro-batch chunking (multi-batch replay in StreamsSpec). */
  private def e14(s: SparkSession, dir: String): DataFrame =
    Streams.streamingUpsertLatest(s, dir)

  /** e16: weekly cohort retention matrix — users grouped by their
    * first-signup week, distinct active users per (cohort, week
    * offset): the standard retention triangle. Two hash-aggs (cohort
    * pick, weekly activity dedup) + one join shuffled on user; ISO
    * Monday weeks in both engines. */
  private def e16(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min(date_trunc("week", col("ts"))).as("cw"))
    val activity = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
      .distinct()
    cohort.join(activity, Seq("user_id"))
      .filter(col("aw") >= col("cw"))
      .groupBy(col("cw"), (datediff(col("aw"), col("cw")) / 7)
        .cast("long").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  /** p01: the corpus pipeline COMPOSED end to end — exact dedup
    * keep-list → quality scoring → threshold filter → per-language
    * rollup. Every stage is an operator with its own oracle-checked
    * entry (d01, t02, t03); this entry proves they compose, with a
    * full DuckDB oracle re-deriving the whole chain. */
  private def p01(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val keep = Dedup.exactDedup(docs, col("doc_id"), col("text"))
      .select(col("keep_id").as("doc_id"))
    val scored = docs.join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"),
        TextFns.tokensLower(col("text")).as("__toks"),
        length(col("text")).as("__len"))
      .select(col("doc_id"), col("lang"), col("__len"),
        size(col("__toks")).as("__ntok"),
        TextFns.wordSetHits(col("__toks"),
          Seq("the", "a", "and", "of", "to", "in")).as("__hits"))
      .select(col("doc_id"), col("lang"), col("__ntok"),
        (least(lit(1.0), col("__len") / 500.0) *
          (lit(0.7) + lit(0.3) * (col("__hits") / col("__ntok"))))
          .as("__q"))
    scored.filter(col("__q") >= 0.5)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ntok")).cast("long").as("total_tokens"),
        trunc4(avg(col("__q"))).as("avg_quality"))
      .orderBy("lang")
  }

  /** p02: the ROUND-5 preprocessing chain composed end to end —
    * benchmark decontamination (d10) → exact dedup (d01) →
    * char-bigram LM fluency filter (t12, model trained on the
    * SURVIVORS — chain order matters and the oracle re-derives it in
    * that order) → per-source report. Every stage is an independently
    * oracle-checked operator; this proves the composition. */
  private def p02(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val clean = Dedup
      .decontaminate(corpus, bench, col("doc_id"), col("text"), n = 8)
      .filter(col("n_overlap") === 0).select("doc_id")
    val cleanDocs = corpus.join(clean, Seq("doc_id"), "left_semi")
    val keep = Dedup.exactDedup(cleanDocs, col("doc_id"), col("text"))
      .select(col("keep_id").as("doc_id"))
    val surv = cleanDocs.join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), lower(trim(col("text"))).as("t"))
    // cache (lazy): consumed by both the model aggregate and the
    // scoring join, and everything upstream (decontaminate + dedup
    // semi-joins) would otherwise rerun twice too. Same short-doc
    // guard as t12 (sequence(1, 0) counts down).
    val big = surv.select(col("doc_id"), col("source"),
      explode(expr(
        """CASE WHEN length(t) >= 2
          |  THEN transform(sequence(1, length(t) - 1),
          |    i -> substr(t, i, 2))
          |  ELSE array() END""".stripMargin))
        .as("bg"))
      .cache()
    val bc = big.groupBy("bg").agg(count(lit(1)).as("nb"))
    val pc = bc.groupBy(substring(col("bg"), 1, 1).as("p"))
      .agg(sum(col("nb")).as("np"))
    val probs = bc.join(pc, substring(col("bg"), 1, 1) === col("p"))
      .select(col("bg"), (col("nb") / col("np")).as("prob"))
    big.join(broadcast(probs), Seq("bg"))
      .groupBy("doc_id", "source")
      .agg(trunc4(avg(col("prob"))).as("fluency"))
      .filter(col("fluency") >= 0.25)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        trunc4(avg(col("fluency"))).as("avg_fluency"))
      .orderBy("source")
  }

  /** p03: INCREMENTAL corpus clean — p02's decontaminate →
    * exact-dedup front maintained over a document stream via
    * foreachBatch with a durable accepted-fingerprint snapshot
    * ([[graft.streaming.Streams.incrementalClean]]); equals the
    * one-shot batch clean regardless of micro-batch chunking
    * (multi-file replay spec in StreamsSpec; oracle re-derives the
    * batch form). */
  private def p03(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingCleanCorpus(s, dir)

  /** p04: INCREMENTAL LM model maintenance — t12's char-bigram
    * counts folded over a document stream as a mergeable monoid
    * ([[graft.streaming.Streams.incrementalLmModel]]): the final
    * model equals batch training with no corpus rescan, chunking-
    * invariant (replay spec in StreamsSpec). State: one LsmState,
    * each batch's bigram delta appended as a part. */
  private def p04(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingLmModel(s, dir)

  /** p06: the FULL incremental preprocess chain — p03's decontaminate
    * → exact-dedup front extended with per-doc quality scoring (t02)
    * and PII redaction (n07) computed on each micro-batch's accepted
    * survivors only
    * ([[graft.streaming.Streams.incrementalCleanScore]]): per-row
    * finishing commutes with first-arrival dedup, so the snapshot
    * equals the one-shot batch chain under any chunking (replay spec
    * in StreamsSpec; whole-chain DuckDB oracle). */
  private def p06(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingScoredCorpus(s, dir)

  /** p07: INCREMENTAL document-frequency model — (token, df) + corpus
    * doc count folded per micro-batch as commutative monoids
    * ([[graft.streaming.Streams.incrementalDfModel]]): the state
    * behind both t13's stopword list and t08's idf, maintained at
    * ingest with no corpus rescan. Finished as the t13 stopword
    * report, which must reproduce the batch-derived list exactly
    * (replay spec; t13's DuckDB oracle form). State: two LsmStates
    * (df rows, doc count), each batch's deltas appended as parts. */
  private def p07(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingStopwords(s, dir)

  /** p14: INCREMENTAL MinHash-LSH candidate discovery — d02's band
    * index maintained at ingest
    * ([[graft.streaming.Streams.incrementalMinhashPairs]]): each
    * batch banded once, probed against the accumulated index, pairs
    * discovered when their later member arrives — the accumulated
    * set equals batch d02 under any chunking (replay spec). Rows-only
    * oracle, as d02 (xxhash64 signatures are Spark-specific). */
  private def p14(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingMinhashPairs(s, dir)

  /** p15: INCREMENTAL k-NN graph — s16's corpus-wide neighbor graph
    * maintained at ingest
    * ([[graft.streaming.Streams.incrementalKnnGraph]]): per batch,
    * band + probe the accumulated bands, score only the NEW candidate
    * pairs, merge into the stored per-node top-k (a commutative
    * monoid, so the maintained graph equals the batch s16 under any
    * chunking — the replay spec). Rows-only (LSH buckets are
    * Spark-specific). */
  private def p15(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingKnnGraph(s, dir)

  /** p16: INCREMENTAL quality-aware keeper — d20's best-copy
    * election maintained at ingest
    * ([[graft.streaming.Streams.incrementalQualityKeeper]]): per-
    * fingerprint champions fold via a max-by monoid, so the
    * maintained verdicts equal the batch election under any chunking
    * and share d20's DuckDB oracle. */
  private def p16(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingQualityKeeper(s, dir)

  /** p17: INCREMENTAL embedding-cluster dedup — d11's SemDeDup
    * verdict with pair discovery maintained at ingest
    * ([[graft.streaming.Streams.incrementalEmbPairs]]); the CC
    * fixpoint runs at read time over the accumulated LSH-pruned pair
    * set (clustering is global — one new edge can merge clusters —
    * so labels can't fold; the corpus-sized hashing + scoring never
    * re-runs). Rows-only (as d11). */
  private def p17(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingClusterDedup(s, dir)

  /** p18: INCREMENTAL graph-cluster dedup — d11's SemDeDup verdict
    * derived from p15's MAINTAINED k-NN graph
    * ([[graft.streaming.Streams.streamingGraphClusterDedup]]): the
    * graph fold runs with threshold retention (every above-threshold
    * edge survives the per-node prune alongside the top-k), so at
    * read time the retained edges above the threshold ARE d11's exact
    * pair set and CC leaders over them reproduce the batch verdict —
    * ONE maintained structure serving both ANN browsing (rank ≤ k)
    * and dedup (sim > threshold), vs p17's dedicated pair-set state.
    * Exact-equality-vs-batch replay spec in StreamsSpec; rows-only
    * (as d11 — LSH buckets are Spark-specific). */
  private def p18(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingGraphClusterDedup(s, dir)

  /** p19: the ONE-PASS model suite — five ingest models (p04 LM,
    * p07 DF, p11 DSIR, p12 signatures, p16 keeper) maintained from a
    * SINGLE drain of the document stream
    * ([[graft.streaming.Streams.incrementalModelSuite]]): each
    * micro-batch is cached once and every model's O(batch) delta is
    * appended from it — at 100 TB the corpus read is the dominant
    * cost and this is the shape that pays it once, not five times.
    * Output is the maintenance manifest (model, state row count),
    * each count independently re-derived by the DuckDB oracle from
    * the raw corpus; per-model exact equality with the standalone
    * folds is the replay spec. */
  private def p19(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingModelSuite(s, dir)

  /** p20: INCREMENTAL ANN-index maintenance over the PUBLISHED
    * write-once IVF-PQ layout — p05's assignment fold completed to
    * the full index: the layout publishes once over the base corpus
    * (frozen coarse quantizer + global residual books), each
    * micro-batch of new vectors is assigned + residual-encoded
    * MAP-SIDE against the frozen quantizers and appended into the
    * same bucketed code table
    * ([[graft.operators.Similarity.appendIvfPqLayout]] via
    * [[graft.streaming.Streams.streamingIvfPqCodes]]), and every
    * append returns the staleness audit (quantization-error drift vs
    * the publish baseline, batch cell skew) that tells the owner when
    * to re-train. O(batch) per trigger, no k-means after publish, no
    * re-shuffle of history — the 100 TB ingestion path for a served
    * ANN index. Output is the maintained index's per-cell profile;
    * frozen books make the encode per-row deterministic, so the code
    * table equals the batch encode under any chunking (IvfPqAppendSpec
    * pins replay, drift trigger, and probe-recall preservation).
    * Rows-only oracle (k-means cells + PQ codes aren't
    * SQL-expressible). */
  private def p20(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingIvfPqCodes(s, dir)

  /** p13: INCREMENTAL disorder profile — e18's watermark-tuning
    * measurement maintained per micro-batch
    * ([[graft.streaming.Streams.incrementalDisorderProfile]]): each
    * batch's lateness computed against the stored per-type running
    * max, then monoid-folded; snapshot equals the batch audit under
    * ingest-ordered chunking (ordered-replay spec). Shares e18's
    * DuckDB oracle. State: one LsmState of per-batch per-type deltas. */
  private def p13(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingDisorderProfile(s, dir)

  /** p12: INCREMENTAL media-signature dedup — m05's perceptual-stub
    * signature table maintained per micro-batch
    * ([[graft.streaming.Streams.incrementalPayloadSig]]): per-fp
    * copy count (sum) and keeper (min id) are commutative monoids,
    * so the snapshot equals the batch group table under any chunking
    * (replay spec); payload bytes hashed once at ingest, never
    * rescanned, never shuffled. Finished as m05's verdict table
    * (shares its DuckDB oracle). State: one LsmState of per-batch
    * signature deltas. */
  private def p12(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingPayloadDedup(s, dir)

  /** p11: INCREMENTAL DSIR feature model — t22's hashed-bigram
    * (bucket → target/raw count) pair folded per micro-batch as
    * commutative monoids
    * ([[graft.streaming.Streams.incrementalDsirModel]]): the data-
    * selection model maintained at ingest, bounded at B=64 rows by
    * the hashing trick — so unlike t21's vocabulary LM it broadcasts
    * for map-side scoring of new docs. Finished as the deployable
    * smoothed-ratio model (t22's arithmetic at read time; replay
    * spec). State: one LsmState of per-batch bucket deltas. */
  private def p11(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingDsirModel(s, dir)

  /** p08: INCREMENTAL semantic decontamination
    * ([[graft.streaming.Streams.incrementalSemanticScreen]]) — d14's
    * embedding screen folded per micro-batch against the static eval
    * set: a pure per-row verdict, so the snapshot equals the batch
    * report under any chunking (replay spec; d14's DuckDB oracle
    * verbatim). New vectors are screened at ingest, the corpus never
    * rescanned. */
  private def p08(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingSemanticScreen(s, dir)

  /** p09: incremental span screening
    * ([[graft.streaming.Streams.incrementalSpanScreen]]) — d16's
    * exact-substring-dedup signal at INGEST time: external docs
    * (doc_id % 7 = 0) probed per micro-batch against the span index
    * published over the rest of the corpus, minCount = 1. Pure
    * per-row verdict against the frozen index → snapshot equals the
    * batch screen under any chunking (replay spec); the corpus is
    * never recounted. */
  private def p09(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingSpanScreen(s, dir)

  /** p10: incremental span rewrite
    * ([[graft.streaming.Streams.incrementalSpanRewrite]]) — d17's
    * exact-substring CUT at INGEST time: external docs
    * (doc_id % 7 = 0) rewritten per micro-batch against the span
    * index published over the rest of the corpus (minCount = 1; the
    * canonical copy lives in the corpus, so every hit is removable —
    * no first-occurrence election at ingest). Pure per-row rewrite
    * against the frozen index → snapshot equals the batch rewrite
    * under any chunking (replay spec). */
  private def p10(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingSpanRewrite(s, dir)

  /** m05: payload dedup on the perceptual-signature stub
    * ([[Multimodal.payloadDedup]], first-32-byte md5 standing in for
    * pHash/chromaprint): near-identical media collapse on the
    * signature, keeper = min doc id; only 16-byte signatures
    * shuffle, never payload bytes. */
  private def m05(s: SparkSession, dir: String): DataFrame =
    Multimodal.payloadDedup(T(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** m06: per-payload duplicated-frame profile
    * ([[Multimodal.frameDupProfile]], 8 even slices, md5 signature
    * stub): d16's duplicated-span shape at frame granularity —
    * shared intros/outros/watermark segments surface even when the
    * payloads as wholes differ. Only 16-byte signatures shuffle. */
  private def m06(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameDupProfile(T(s, dir, "documents"), "doc_id", "text", 8)
      .orderBy("doc_id")

  /** m04: modality-mixture report — the multimodal twin of t10's
    * source mixture: per stub-decoded modality (first payload byte
    * stands in for the container magic a real decoder reads), item
    * counts and byte budgets. One scan + one tiny hash-agg; the
    * report drives modality sampling weights exactly as t10 drives
    * source weights. */
  private def m04(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFeatures(T(s, dir, "documents"), "doc_id", "text")
      .withColumn("modality",
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (((col("width") - 256) % 3) + 1).cast("int")))
      .groupBy("modality")
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("total_bytes"),
        trunc4(avg(col("n_bytes"))).as("avg_bytes"))
      .orderBy("modality")

  /** p05: incremental ANN-index maintenance — frozen coarse
    * quantizer, map-side cell assignment folded over an embedding
    * stream ([[graft.streaming.Streams.incrementalIvfIndex]]); the
    * maintained (vec_id, cell) index equals the batch kmeansCells
    * build under any chunking (replay spec). Rows-only oracle
    * (k-means cells aren't SQL-expressible). */
  private def p05(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingIvfIndex(s, dir)

  // ---------------------------------------------------------------
  // Multimodal
  // ---------------------------------------------------------------

  /** m01: binary media plumbing with stubbed decode — byte lengths
    * and fake dimensions derived from payload bytes. */
  private def m01(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFeatures(T(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** m02: frame sampling — each payload explodes into 4 evenly spaced
    * frame records through the partition-wise batch transform (the
    * video keyframe-sampling pipeline shape); per-frame mean byte
    * stands in for a decoded feature. */
  private def m02(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(T(s, dir, "documents"), "doc_id", "text", 4)
      .select(col("doc_id"), col("frame_idx"), col("n_frame_bytes"),
        trunc4(col("mean_byte")).as("mean_byte"))
      .orderBy("doc_id", "frame_idx")

  // ---------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01 _),
    "q02_filter_project" -> (q02 _),
    "q03_decoded_view" -> (q03 _),
    "q04_key_lookup" -> (q04 _),
    "q05_fleet_search" -> (q05 _),
    "q06_owner_summary" -> (q06 _),
    "q07_code_decode" -> (q07 _),
    "q08_top_makers" -> (q08 _),
    "q09_dup_rank" -> (q09 _),
    "q10_distinct_count" -> (q10 _),
    "q11_semi_anti" -> (q11 _),
    "q12_conditional_agg" -> (q12 _),
    "q13_monthly_volume" -> (q13 _),
    "q14_union_all" -> (q14 _),
    "q15_sql_passthrough" -> (q15 _),
    "q16_status_metadata" -> (q16 _),
    "q17_json_extract" -> (q17 _),
    "q18_percentiles" -> (q18 _),
    "q19_rollup" -> (q19 _),
    "q20_full_outer" -> (q20 _),
    "q21_pivot" -> (q21 _),
    "q22_json_struct" -> (q22 _),
    "q23_rolling_window" -> (q23 _),
    "q24_salted_join" -> (q24 _),
    "q25_correlated_subquery" -> (q25 _),
    "q26_cube_grouping" -> (q26 _),
    "q27_range_window" -> (q27 _),
    "q28_snapshot_diff" -> (q28 _),
    "q29_bloom_join" -> (q29 _),
    "q30_scd2_history" -> (q30 _),
    "q31_quality_audit" -> (q31 _),
    "q32_upsert_merge" -> (q32 _),
    "q33_set_ops" -> (q33 _),
    "q34_rank_family" -> (q34 _),
    "q35_column_profile" -> (q35 _),
    "q36_histogram" -> (q36 _),
    "q37_schema_evolution" -> (q37 _),
    "q38_grouping_sets" -> (q38 _),
    "q39_grouped_topk" -> (q39 _),
    "q40_outlier_audit" -> (q40 _),
    "q41_hourly_dedup" -> (q41 _),
    "q42_canonical_record" -> (q42 _),
    "q43_skew_profile" -> (q43 _),
    "q44_fd_audit" -> (q44 _),
    "q45_drift_audit" -> (q45 _),
    "q46_join_audit" -> (q46 _),
    "t13_stopword_detect" -> (t13 _),
    "t14_train_split" -> (t14 _),
    "t15_grouped_sample" -> (t15 _),
    "t16_sequence_pack" -> (t16 _),
    "t17_lang_affinity" -> (t17 _),
    "t18_ngram_novelty" -> (t18 _),
    "t19_shard_plan" -> (t19 _),
    "t20_mixture_plan" -> (t20 _),
    "t10_source_mixture" -> (t10 _),
    "t11_hashed_features" -> (t11 _),
    "t12_char_lm_score" -> (t12 _),
    "t21_word_lm_score" -> (t21 _),
    "t22_dsir_weights" -> (t22 _),
    "t23_split_leakage" -> (t23 _),
    "t24_quality_gate" -> (t24 _),
    "t25_split_regen" -> (t25 _),
    "t26_curriculum_plan" -> (t26 _),
    "t27_context_plan" -> (t27 _),
    "t28_freq_spectrum" -> (t28 _),
    "t29_lang_value" -> (t29 _),
    "t30_tokenizer_fertility" -> (t30 _),
    "t31_markup_strip" -> (t31 _),
    "t32_url_canonical" -> (t32 _),
    "a02_sketch_rollup" -> (a02 _),
    "a03_heavy_hitters" -> (a03 _),
    "a04_kmv_set_algebra" -> (a04 _),
    "a05_quantile_rollup" -> (a05 _),
    "a06_bloom_rollup" -> (a06 _),
    "a07_cms_rollup" -> (a07 _),
    "a01_approx_sketch" -> (a01 _),
    "n01_clean_text" -> (n01 _),
    "n02_state_zip" -> (n02 _),
    "n03_combine_address" -> (n03 _),
    "n04_stable_id" -> (n04 _),
    "n05_date_parse" -> (n05 _),
    "n06_typed_cast" -> (n06 _),
    "t01_token_stats" -> (t01 _),
    "t02_quality_score" -> (t02 _),
    "t03_lang_id" -> (t03 _),
    "t04_fingerprint" -> (t04 _),
    "t05_ngram_freq" -> (t05 _),
    "t06_sample_stratified" -> (t06 _),
    "t07_repetition_signals" -> (t07 _),
    "t08_tfidf_keywords" -> (t08 _),
    "t09_weighted_sample" -> (t09 _),
    "n07_pii_redact" -> (n07 _),
    "n08_nfc_normalize" -> (n08 _),
    "n09_pii_audit" -> (n09 _),
    "n10_normalize_audit" -> (n10 _),
    "d01_exact_dedup" -> (d01 _),
    "d02_minhash_pairs" -> (d02 _),
    "d03_jaccard_verify" -> (d03 _),
    "d04_simhash" -> (d04 _),
    "d05_embedding_neardup" -> (d05 _),
    "d06_neardup_pipeline" -> (d06 _),
    "d07_embedding_neardup_lsh" -> (d07 _),
    "d08_simhash_pairs" -> (d08 _),
    "d09_fuzzy_match" -> (d09 _),
    "d10_decontaminate" -> (d10 _),
    "d11_embedding_cluster_dedup" -> (d11 _),
    "d12_dup_clusters" -> (d12 _),
    "d13_containment" -> (d13 _),
    "d14_semantic_decontam" -> (d14 _),
    "d15_source_overlap" -> (d15 _),
    "d16_dup_spans" -> (d16 _),
    "d17_substring_rewrite" -> (d17 _),
    "d18_dedup_savings" -> (d18 _),
    "d19_banding_precision" -> (d19 _),
    "d20_quality_keeper" -> (d20 _),
    "d21_banding_plan" -> (d21 _),
    "s01_knn_brute" -> (s01 _),
    "s02_lsh_ann" -> (s02 _),
    "s03_ivf_ann" -> (s03 _),
    "s04_knn_topk_agg" -> (s04 _),
    "s05_ivf_kmeans" -> (s05 _),
    "s06_quantized_knn" -> (s06 _),
    "s07_pq_ann" -> (s07 _),
    "s08_ivfpq_ann" -> (s08 _),
    "s09_mips_brute" -> (s09 _),
    "s10_mips_ann" -> (s10 _),
    "s11_l2_knn" -> (s11 _),
    "s12_cluster_profile" -> (s12 _),
    "s13_outlier_score" -> (s13 _),
    "s14_recall_audit" -> (s14 _),
    "s15_threshold_calib" -> (s15 _),
    "s16_knn_graph" -> (s16 _),
    "e01_sessionize" -> (e01 _),
    "e02_tumbling_counts" -> (e02 _),
    "e03_asof_join" -> (e03 _),
    "e04_streaming_counts" -> (e04 _),
    "e05_stateful_sessions" -> (e05 _),
    "e06_session_window" -> (e06 _),
    "e07_asof_native" -> (e07 _),
    "e08_streaming_file_sink" -> (e08 _),
    "e09_stream_stream_join" -> (e09 _),
    "e10_streaming_dedup" -> (e10 _),
    "e11_conversion_funnel" -> (e11 _),
    "e12_incremental_rollup" -> (e12 _),
    "e13_range_join" -> (e13 _),
    "e14_streaming_upsert" -> (e14 _),
    "e15_gap_fill" -> (e15 _),
    "e16_cohort_retention" -> (e16 _),
    "e17_sliding_window" -> (e17 _),
    "e18_disorder_audit" -> (e18 _),
    "e19_watermark_plan" -> (e19 _),
    "e20_arrival_profile" -> (e20 _),
    "e21_session_profile" -> (e21 _),
    "e22_conversion_latency" -> (e22 _),
    "e23_event_paths" -> (e23 _),
    "p01_corpus_pipeline" -> (p01 _),
    "p02_preprocess_chain" -> (p02 _),
    "p03_incremental_clean" -> (p03 _),
    "p04_incremental_lm" -> (p04 _),
    "p05_incremental_ann" -> (p05 _),
    "p06_incremental_quality" -> (p06 _),
    "p07_incremental_df" -> (p07 _),
    "p08_incremental_screen" -> (p08 _),
    "p09_incremental_span_screen" -> (p09 _),
    "p10_incremental_span_rewrite" -> (p10 _),
    "p11_incremental_dsir" -> (p11 _),
    "p12_incremental_media" -> (p12 _),
    "p13_incremental_disorder" -> (p13 _),
    "p14_incremental_minhash" -> (p14 _),
    "p15_incremental_knn" -> (p15 _),
    "p16_incremental_keeper" -> (p16 _),
    "p17_incremental_cluster_dedup" -> (p17 _),
    "p18_incremental_graph_dedup" -> (p18 _),
    "p19_incremental_model_suite" -> (p19 _),
    "p20_incremental_ann_layout" -> (p20 _),
    "m01_binary_meta" -> (m01 _),
    "m03_chunk_payload" -> (m03 _),
    "m04_modality_mixture" -> (m04 _),
    "m05_payload_dedup" -> (m05 _),
    "m06_frame_dedup" -> (m06 _),
    "m07_chunk_plan" -> (m07 _),
    "m08_cdc_chunks" -> (m08 _),
    "m02_frame_sample" -> (m02 _)
  )

  /** Shared by s01 (brute force) and s06 (quantized + exact
    * re-score): both must produce the exact cosine top-5. */
  private val knnOracleSql: String =
    """SELECT q_id, rank, cand_id FROM (
      |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id)
      |      AS rank
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |    WHERE vec_id < 10) q
      |  JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) c
      |    ON c.vec_id != q.vec_id)
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Shared by e03 (composed) and e07 (custom operator): both must
    * match the same per-event latest-order semantics. */
  private val asofOracleSql: String =
    """SELECT e.event_id,
      |  (SELECT o.o_orderkey FROM orders o
      |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1)
      |    AS matched_o_orderkey
      |FROM events e ORDER BY event_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
        |  l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_decoded_view" ->
      """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber, p_name,
        |  s_name, n_name, r_name, l_quantity
        |FROM lineitem
        |LEFT JOIN part ON l_partkey = p_partkey
        |LEFT JOIN supplier ON l_suppkey = s_suppkey
        |LEFT JOIN nation ON s_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q04_key_lookup" ->
      """SELECT c_custkey, c_name, c_mktsegment, n_name, r_name
        |FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |WHERE upper(trim(c_name)) = upper(trim('customer#000000042'))
        |ORDER BY c_custkey""".stripMargin,
    "q05_fleet_search" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE (lower(c_name) LIKE '%00001%' OR lower(c_name) LIKE '%00002%')
        |  AND c_mktsegment = 'MACHINERY'
        |ORDER BY c_custkey
        |LIMIT 50""".stripMargin,
    "q06_owner_summary" ->
      """SELECT o_custkey,
        |  count(*) AS member_count,
        |  string_agg(o_orderstatus, '; ' ORDER BY o_orderstatus)
        |    AS members_concat,
        |  bool_or(o_totalprice > 100000) AS any_flag
        |FROM orders
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "q07_code_decode" ->
      """SELECT coalesce(descr, 'Unknown') AS status_descr,
        |  count(*) AS n
        |FROM orders
        |LEFT JOIN (VALUES ('O', 'Open'), ('F', 'Finished'),
        |  ('P', 'Pending')) t(code, descr)
        |  ON o_orderstatus = code
        |GROUP BY coalesce(descr, 'Unknown')
        |ORDER BY status_descr""".stripMargin,
    "q08_top_makers" ->
      """SELECT p_brand, count(*) AS n
        |FROM part GROUP BY p_brand
        |ORDER BY n DESC, p_brand LIMIT 10""".stripMargin,
    "q09_dup_rank" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "q10_distinct_count" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,
    "q11_semi_anti" ->
      """SELECT 'with_orders' AS grp, count(*) AS n FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |UNION ALL
        |SELECT 'without_orders' AS grp, count(*) AS n FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY grp""".stripMargin,
    "q12_conditional_agg" ->
      """SELECT l_returnflag,
        |  sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_high_disc,
        |  round(sum(CASE WHEN l_tax > 0.04 THEN l_extendedprice
        |    ELSE 0.0 END), 2) AS taxed_revenue,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q13_monthly_volume" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |GROUP BY strftime(o_orderdate, '%Y-%m')
        |ORDER BY month""".stripMargin,
    "q14_union_all" ->
      """SELECT c_custkey AS key, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_suppkey AS key, 'supplier' AS kind FROM supplier
        |ORDER BY kind, key""".stripMargin,
    "q15_sql_passthrough" -> q15Sql,
    "q17_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  floor(avg(json_extract_string(props, '$.k')::BIGINT) * 10000)
        |    / 10000 AS avg_k,
        |  max(json_extract_string(props, '$.k')::BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q18_percentiles" ->
      // explicit lo/hi/frac interpolation (type-7, same arithmetic as
      // Percentiles.exactByGroup) rather than quantile_cont: DuckDB's
      // internal interpolation differs by 1 ulp, which flips
      // floor-truncation when a percentile lands exactly on a
      // 4-decimal boundary. The 0.5/0.9 literals are CAST to DOUBLE:
      // DuckDB parses bare 0.9 as DECIMAL(1,1) and computes
      // (n-1)*0.9 exactly, while Spark computes it in binary double
      // ((n-1)*0.9 carries a ~1e-10 frac error) — with 2-decimal
      // prices a percentile often lands exactly on a 4-decimal
      // boundary, and the two fracs then floor to different sides
      // (sf1.0 rehearsal: p90 94532.5359 vs .536). Forcing DOUBLE
      // makes both engines run the same IEEE arithmetic.
      """WITH r AS (SELECT l_returnflag, l_extendedprice AS v,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |p AS (SELECT CAST(0.5 AS DOUBLE) AS p50f,
        |             CAST(0.9 AS DOUBLE) AS p90f),
        |a AS (SELECT l_returnflag,
        |    max(CASE WHEN rn = floor((n-1)*p50f)+1 THEN v END) AS lo50,
        |    max(CASE WHEN rn = ceil((n-1)*p50f)+1 THEN v END) AS hi50,
        |    max((n-1)*p50f - floor((n-1)*p50f)) AS f50,
        |    max(CASE WHEN rn = floor((n-1)*p90f)+1 THEN v END) AS lo90,
        |    max(CASE WHEN rn = ceil((n-1)*p90f)+1 THEN v END) AS hi90,
        |    max((n-1)*p90f - floor((n-1)*p90f)) AS f90
        |  FROM r, p GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  floor((lo50 + (hi50 - lo50) * f50) * 10000) / 10000 AS p50,
        |  floor((lo90 + (hi90 - lo90) * f90) * 10000) / 10000 AS p90
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "q19_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "q16_status_metadata" ->
      """SELECT 'region' AS table_name, count(*) AS n_rows FROM region
        |UNION ALL SELECT 'nation', count(*) FROM nation
        |UNION ALL SELECT 'customer', count(*) FROM customer
        |UNION ALL SELECT 'supplier', count(*) FROM supplier
        |UNION ALL SELECT 'part', count(*) FROM part
        |UNION ALL SELECT 'orders', count(*) FROM orders
        |UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        |UNION ALL SELECT 'events', count(*) FROM events
        |UNION ALL SELECT 'documents', count(*) FROM documents
        |UNION ALL SELECT 'embeddings', count(*) FROM embeddings
        |ORDER BY table_name""".stripMargin,
    "n01_clean_text" ->
      """SELECT c_custkey,
        |  upper(regexp_replace(trim(c_name || '  ' || c_mktsegment),
        |    '\s+', ' ', 'g')) AS name_std
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "n10_normalize_audit" ->
      """WITH v AS (SELECT upper(trim(c_mktsegment)) AS u FROM customer),
        |p AS (SELECT u,
        |    CASE WHEN regexp_matches(u, '^[A-Z]{2}$') THEN '1_exact'
        |         WHEN u IN ('HOUSEHOLD','MACHINERY','AUTOMOBILE')
        |           THEN '2_mapped'
        |         ELSE '3_fallback' END AS path
        |  FROM v)
        |SELECT path, count(*)::BIGINT AS n_rows,
        |  count(DISTINCT u)::BIGINT AS n_distinct_inputs
        |FROM p GROUP BY path ORDER BY path""".stripMargin,
    "n02_state_zip" ->
      """SELECT c_custkey,
        |  CASE WHEN regexp_matches(upper(trim(c_mktsegment)), '^[A-Z]{2}$')
        |         THEN upper(trim(c_mktsegment))
        |       WHEN upper(trim(c_mktsegment)) = 'HOUSEHOLD' THEN 'HH'
        |       WHEN upper(trim(c_mktsegment)) = 'MACHINERY' THEN 'MC'
        |       WHEN upper(trim(c_mktsegment)) = 'AUTOMOBILE' THEN 'AU'
        |       ELSE substr(upper(trim(c_mktsegment)), 1, 2) END AS seg_code,
        |  CASE WHEN length(regexp_replace(c_custkey::VARCHAR, '\D', '', 'g')) > 0
        |       THEN lpad(substr(regexp_replace(c_custkey::VARCHAR, '\D', '', 'g'),
        |         1, 5), 5, '0')
        |       ELSE '' END AS zip5
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "n03_combine_address" ->
      """SELECT p_partkey,
        |  concat_ws(' ',
        |    nullif(upper(regexp_replace(trim(nullif(p_brand, 'Brand#13')),
        |      '\s+', ' ', 'g')), ''),
        |    nullif(upper(regexp_replace(trim(p_type), '\s+', ' ', 'g')), ''))
        |    AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,
    "n05_date_parse" ->
      """SELECT o_orderkey,
        |  strftime(try_strptime(
        |    (CASE WHEN o_orderkey % 100 = 0 THEN 99999999
        |          ELSE strftime(o_orderdate, '%Y%m%d')::INT END)::VARCHAR,
        |    '%Y%m%d'), '%Y-%m-%d') AS parsed_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "n06_typed_cast" ->
      """SELECT c_custkey,
        |  try_cast((CASE WHEN c_custkey % 7 = 0
        |    THEN substr(c_name, 10, 9) || 'X'
        |    ELSE substr(c_name, 10, 9) END) AS BIGINT) AS parsed_int
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q20_full_outer" ->
      """SELECT coalesce(s_suppkey, l_suppkey) AS suppkey,
        |  coalesce(s_name, '<no-supplier>') AS s_name,
        |  coalesce(n_items, 0) AS n_items
        |FROM (SELECT l_suppkey, count(*) AS n_items FROM lineitem
        |      GROUP BY l_suppkey) li
        |FULL OUTER JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY suppkey""".stripMargin,
    "q21_pivot" ->
      """SELECT o_orderpriority,
        |  sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_open,
        |  sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_finished,
        |  sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_pending
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q22_json_struct" ->
      """SELECT event_id,
        |  CASE WHEN json_valid(CASE WHEN event_id % 50 = 0
        |      THEN 'x' || props ELSE props END)
        |    THEN TRY_CAST(json_extract_string(CASE WHEN event_id % 50 = 0
        |      THEN 'x' || props ELSE props END, '$.k') AS BIGINT)
        |    END AS k_parsed
        |FROM events ORDER BY event_id""".stripMargin,
    "q23_rolling_window" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING), 2) AS running_total,
        |  floor(avg(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 10000) / 10000
        |    AS moving_avg3,
        |  lag(o_orderkey, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev_order,
        |  lead(o_orderkey, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS next_order
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q24_salted_join" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q25_correlated_subquery" -> q25Sql,
    "q26_cube_grouping" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS prio,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  grouping_id(o_orderpriority, o_orderstatus)::BIGINT AS gid,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY gid, prio, status""".stripMargin,
    "q27_range_window" ->
      """SELECT o_orderkey, o_custkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY epoch_us(o_orderdate)
        |    RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW), 2)
        |    AS sum_30d
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q28_snapshot_diff" ->
      """WITH a AS (SELECT c_custkey, c_acctbal, c_mktsegment
        |    FROM customer),
        |  b AS (SELECT c_custkey,
        |      CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
        |        ELSE c_acctbal END AS c_acctbal, c_mktsegment
        |    FROM customer WHERE c_custkey % 97 <> 0
        |    UNION ALL
        |    SELECT c_custkey + 10000000, c_acctbal, c_mktsegment
        |    FROM customer WHERE c_custkey % 101 = 0),
        |  j AS (SELECT a.c_custkey AS ak, b.c_custkey AS bk,
        |      a.c_acctbal AS ab, b.c_acctbal AS bb,
        |      a.c_mktsegment AS am, b.c_mktsegment AS bm
        |    FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey)
        |SELECT coalesce(ak, bk) AS c_custkey,
        |  CASE WHEN ak IS NULL THEN 'added'
        |       WHEN bk IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change_type,
        |  CASE WHEN ak IS NOT NULL AND bk IS NOT NULL THEN concat_ws(',',
        |      CASE WHEN ab IS DISTINCT FROM bb THEN 'c_acctbal' END,
        |      CASE WHEN am IS DISTINCT FROM bm THEN 'c_mktsegment' END)
        |    ELSE '' END AS changed_cols
        |FROM j
        |WHERE ak IS NULL OR bk IS NULL
        |  OR ab IS DISTINCT FROM bb OR am IS DISTINCT FROM bm
        |ORDER BY c_custkey""".stripMargin,
    "q29_bloom_join" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |                 AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY strftime(o_orderdate, '%Y-%m')
        |ORDER BY month""".stripMargin,
    "q30_scd2_history" ->
      """WITH snaps AS (
        |  SELECT c_custkey, c_mktsegment, '2026-01-01' AS snap_date
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN 'MOVED7'
        |      ELSE c_mktsegment END, '2026-02-01'
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'MOVED5'
        |      WHEN c_custkey % 7 = 0 THEN 'MOVED7'
        |      ELSE c_mktsegment END, '2026-03-01'
        |  FROM customer),
        |  c AS (SELECT *, CASE WHEN lag(c_mktsegment) OVER w
        |        IS DISTINCT FROM c_mktsegment
        |      OR lag(snap_date) OVER w IS NULL THEN 1 ELSE 0 END AS chg
        |    FROM snaps WINDOW w AS (PARTITION BY c_custkey
        |      ORDER BY snap_date)),
        |  f AS (SELECT c_custkey, c_mktsegment,
        |      snap_date AS valid_from FROM c WHERE chg = 1)
        |SELECT c_custkey, c_mktsegment, valid_from,
        |  lead(valid_from) OVER (PARTITION BY c_custkey
        |    ORDER BY valid_from) AS valid_to
        |FROM f ORDER BY c_custkey, valid_from""".stripMargin,
    "q31_quality_audit" ->
      """WITH v AS (
        |  SELECT 'customer_nationkey_not_null' AS check_name,
        |    sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS n_violations FROM customer
        |  UNION ALL
        |  SELECT 'customer_acctbal_in_range',
        |    sum(CASE WHEN c_acctbal < -1000 OR c_acctbal > 10000
        |      THEN 1 ELSE 0 END)::BIGINT FROM customer
        |  UNION ALL
        |  SELECT 'documents_text_min_20_chars',
        |    sum(CASE WHEN length(text) < 20 THEN 1 ELSE 0 END)::BIGINT
        |    FROM documents
        |  UNION ALL
        |  SELECT 'customer_key_unique',
        |    (count(*) - count(DISTINCT c_custkey))::BIGINT FROM customer
        |  UNION ALL
        |  SELECT 'orders_custkey_referential', count(*)::BIGINT
        |  FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |  UNION ALL
        |  SELECT 'events_user_referential', count(*)::BIGINT
        |  FROM events e WHERE e.user_id IS NOT NULL AND NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
        |SELECT check_name, n_violations,
        |  CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM v ORDER BY check_name""".stripMargin,
    "q32_upsert_merge" ->
      """SELECT c_custkey,
        |  round(CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
        |    ELSE c_acctbal END, 2) AS acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 97 <> 0
        |UNION ALL
        |SELECT c_custkey + 10000000, round(c_acctbal, 2), c_mktsegment
        |FROM customer WHERE c_custkey % 101 = 0
        |ORDER BY c_custkey""".stripMargin,
    "q33_set_ops" ->
      """SELECT 'with_orders' AS cohort, c_custkey FROM
        |  (SELECT c_custkey FROM customer
        |   INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'no_orders', c_custkey FROM
        |  (SELECT c_custkey FROM customer
        |   EXCEPT SELECT o_custkey FROM orders)
        |ORDER BY cohort, c_custkey""".stripMargin,
    "q34_rank_family" ->
      """SELECT o_orderkey, o_custkey,
        |  row_number() OVER total AS rn,
        |  rank() OVER tied AS rk,
        |  dense_rank() OVER tied AS drk,
        |  floor(percent_rank() OVER tied * 10000) / 10000 AS prk,
        |  floor(cume_dist() OVER tied * 10000) / 10000 AS cd,
        |  ntile(4) OVER total AS quartile
        |FROM orders
        |WINDOW tied AS (PARTITION BY o_custkey ORDER BY o_orderdate),
        |  total AS (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q35_column_profile" -> {
      val numeric = Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax")
      val strings = Seq("l_returnflag", "l_linestatus")
      val branches = (numeric.map { c =>
        s"""SELECT '$c' AS column_name, count($c)::BIGINT AS n,
           |  (count(*) - count($c))::BIGINT AS n_nulls,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  min($c)::DOUBLE AS min_num, max($c)::DOUBLE AS max_num,
           |  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
           |FROM lineitem""".stripMargin
      } ++ strings.map { c =>
        s"""SELECT '$c' AS column_name, count($c)::BIGINT AS n,
           |  (count(*) - count($c))::BIGINT AS n_nulls,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num,
           |  min($c) AS min_str, max($c) AS max_str
           |FROM lineitem""".stripMargin
      }).mkString("\nUNION ALL\n")
      s"SELECT * FROM (\n$branches\n) ORDER BY column_name"
    },
    "a03_heavy_hitters" ->
      // the sketch's exact-verify pass makes a full-groupBy oracle
      // legitimate: candidates ⊇ true top-10, re-counted exactly
      """WITH t AS (SELECT unnest(string_split_regex(lower(trim(text)),
        |    '\s+')) AS key FROM documents)
        |SELECT key, count(*)::BIGINT AS n FROM t GROUP BY key
        |ORDER BY n DESC, key LIMIT 10""".stripMargin,
    "q36_histogram" ->
      // formula shape matches Quality.histogram term for term —
      // identical IEEE double ops ⇒ identical buckets and edges
      """WITH mm AS (SELECT min(l_extendedprice)::DOUBLE AS mn,
        |    max(l_extendedprice)::DOUBLE AS mx FROM lineitem),
        |  b AS (SELECT least(floor((l_extendedprice::DOUBLE - mn) /
        |      ((mx - mn) / 10)), 9)::BIGINT AS bucket, mn, mx
        |    FROM lineitem CROSS JOIN mm
        |    WHERE l_extendedprice IS NOT NULL)
        |SELECT bucket,
        |  floor((mn + bucket * ((mx - mn) / 10)) * 10000) / 10000 AS lo,
        |  floor((mn + (bucket + 1) * ((mx - mn) / 10)) * 10000) / 10000
        |    AS hi,
        |  count(*)::BIGINT AS n
        |FROM b GROUP BY bucket, mn, mx ORDER BY bucket""".stripMargin,
    "q40_outlier_audit" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CASE WHEN event_id % 97 = 0 THEN value * 50 + 1000
        |      ELSE value END AS v FROM events),
        |  s AS (SELECT event_type, avg(v) AS mu, stddev_pop(v) AS sigma
        |    FROM e GROUP BY 1)
        |SELECT e.event_type, count(*)::BIGINT AS n_outliers,
        |  round(min(e.v), 2) AS min_outlier,
        |  round(max(e.v), 2) AS max_outlier
        |FROM e JOIN s ON e.event_type = s.event_type
        |WHERE abs(e.v - s.mu) > 3 * s.sigma
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q41_hourly_dedup" ->
      """SELECT event_id, user_id, event_type,
        |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour
        |FROM (SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type, date_trunc('hour', ts)
        |    ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q39_grouped_topk" ->
      """SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey,
        |    round(o_totalprice, 2) AS o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders)
        |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,
    "q38_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY flag, status""".stripMargin,
    "t13_stopword_detect" ->
      """WITH t AS (SELECT doc_id, unnest(list_distinct(
        |    string_split_regex(lower(trim(text)), '\s+'))) AS token
        |  FROM documents),
        |  d AS (SELECT token, count(*)::BIGINT AS df FROM t GROUP BY 1),
        |  n AS (SELECT count(*)::DOUBLE AS total FROM documents)
        |SELECT token, df,
        |  floor((df / total) * 10000) / 10000 AS doc_frac
        |FROM d CROSS JOIN n WHERE df / total > 0.5
        |ORDER BY token""".stripMargin,
    "q37_schema_evolution" ->
      """SELECT 'v2' AS gen, c_custkey, c_name,
        |  round(c_acctbal, 2) AS c_acctbal FROM customer
        |UNION ALL
        |SELECT 'v1', c_custkey, c_name, NULL FROM customer
        |  WHERE c_custkey % 3 = 0
        |ORDER BY gen, c_custkey""".stripMargin,
    "t10_source_mixture" ->
      """WITH g AS (SELECT source, lang, count(*)::BIGINT AS n_docs,
        |    sum(len(string_split_regex(lower(trim(text)), '\s+')))::BIGINT
        |      AS total_tokens
        |  FROM documents GROUP BY 1, 2),
        |  t AS (SELECT count(*)::DOUBLE AS total FROM documents)
        |SELECT source, lang, n_docs, total_tokens,
        |  floor((n_docs / total) * 10000) / 10000 AS share
        |FROM g CROSS JOIN t ORDER BY source, lang""".stripMargin,
    "t12_char_lm_score" ->
      """WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
        |  b AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, length(t) - 1),
        |    i -> substr(t, i, 2))) AS bg FROM d),
        |  bc AS (SELECT bg, count(*)::BIGINT AS nb FROM b GROUP BY 1),
        |  pc AS (SELECT substr(bg, 1, 1) AS p, sum(nb)::BIGINT AS np
        |    FROM bc GROUP BY 1),
        |  pr AS (SELECT bg, nb / np AS prob FROM bc
        |    JOIN pc ON substr(bc.bg, 1, 1) = pc.p)
        |SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
        |  floor(avg(prob) * 10000) / 10000 AS fluency
        |FROM b JOIN pr USING (bg)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "t21_word_lm_score" ->
      // add-1-smoothed word bigrams: (nb+1)/(np+V), V = vocab size;
      // integer counts + one division keeps the arithmetic
      // engine-identical (the t12/t08 rational trick)
      """WITH d AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(tk) - 1, 0)),
        |    i -> array_to_string(tk[i:i+1], ' '))) AS bg FROM d),
        |bc AS (SELECT bg, count(*)::BIGINT AS nb FROM b GROUP BY 1),
        |pc AS (SELECT split_part(bg, ' ', 1) AS p, sum(nb)::BIGINT AS np
        |  FROM bc GROUP BY 1),
        |vs AS (SELECT count(DISTINCT t)::BIGINT AS v
        |  FROM (SELECT unnest(tk) AS t FROM d)),
        |pr AS (SELECT bg, (nb + 1) / (np + v) AS prob FROM bc
        |  JOIN pc ON split_part(bc.bg, ' ', 1) = pc.p CROSS JOIN vs)
        |SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
        |  floor(avg(prob) * 1000000) / 1000000 AS fluency
        |FROM b JOIN pr USING (bg)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "t22_dsir_weights" ->
      // hashed-bigram likelihood ratios, add-1 smoothed; every
      // operand an exact integer, one double division (t21's trick)
      """WITH bgm AS (SELECT doc_id, source,
        |    ('0x' || substr(md5(bg), 1, 8))::BIGINT % 64 AS b
        |  FROM (SELECT doc_id, source, unnest(list_transform(
        |      generate_series(1, greatest(len(tk) - 1, 0)),
        |      i -> array_to_string(tk[i:i+1], ' '))) AS bg
        |    FROM (SELECT doc_id, source,
        |      string_split_regex(lower(trim(text)), '\s+') AS tk
        |      FROM documents))),
        |c AS (SELECT b,
        |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS ct,
        |    sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)::BIGINT AS cr
        |  FROM bgm GROUP BY 1),
        |t AS (SELECT sum(ct)::BIGINT AS tt, sum(cr)::BIGINT AS tr FROM c)
        |SELECT bgm.doc_id, count(*)::BIGINT AS n_feats,
        |  floor(avg(((c.ct + 1) * (t.tr + 64))::DOUBLE /
        |    ((c.cr + 1) * (t.tt + 64))) * 1000000) / 1000000
        |    AS dsir_weight
        |FROM bgm JOIN c USING (b) CROSS JOIN t
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "t23_split_leakage" ->
      // t14's md5 split arithmetic + d16's window machinery: per
      // test doc, windows present anywhere in train (DISTINCT train
      // set bounds join multiplicity)
      """WITH s AS (SELECT doc_id, text,
        |    (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100)
        |      AS bk FROM documents),
        |tr AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(list_transform(
        |      generate_series(1, greatest(len(tk) - 7, 0)),
        |      i -> array_to_string(tk[i:i+7], ' '))) AS g
        |  FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS tk
        |    FROM s WHERE bk < 80))),
        |w AS (SELECT doc_id, unnest(list_transform(
        |      generate_series(1, greatest(len(tk) - 7, 0)),
        |      i -> array_to_string(tk[i:i+7], ' '))) AS g
        |  FROM (SELECT doc_id,
        |      string_split_regex(lower(trim(text)), '\s+') AS tk
        |    FROM s WHERE bk >= 90))
        |SELECT w.doc_id, count(*)::BIGINT AS n_windows,
        |  sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_leaked,
        |  floor(sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)
        |    / count(*) * 10000) / 10000 AS leak_frac
        |FROM w LEFT JOIN tr USING (g) GROUP BY 1
        |ORDER BY doc_id""".stripMargin,
    "t24_quality_gate" ->
      // threshold via explicit type-7 interpolation (q18's trick —
      // quantile_cont can sit 1 ulp off and flip the >= gate on docs
      // whose score equals the threshold exactly)
      """WITH q AS (SELECT source,
        |    floor((least(1.0, length(text) / 500.0) *
        |      (0.7 + 0.3 * (len(list_filter(
        |        string_split_regex(lower(trim(text)), '\s+'),
        |        t -> t IN ('the','a','and','of','to','in')) ) /
        |        len(string_split_regex(lower(trim(text)), '\s+')))))
        |      * 10000) / 10000 AS quality
        |  FROM documents),
        |r AS (SELECT quality AS v,
        |    row_number() OVER (ORDER BY quality) AS rn,
        |    count(*) OVER () AS n FROM q),
        |a AS (SELECT
        |    max(CASE WHEN rn = floor((n-1)*0.25)+1 THEN v END) AS lo,
        |    max(CASE WHEN rn = ceil((n-1)*0.25)+1 THEN v END) AS hi,
        |    max((n-1)*0.25 - floor((n-1)*0.25)) AS f FROM r),
        |t AS (SELECT lo + (hi - lo) * f AS thr FROM a)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN quality >= thr THEN 1 ELSE 0 END)::BIGINT
        |    AS n_kept,
        |  floor(sum(CASE WHEN quality >= thr THEN 1 ELSE 0 END)
        |    / count(*) * 10000) / 10000 AS kept_frac,
        |  floor(thr * 10000) / 10000 AS p25_threshold
        |FROM q CROSS JOIN t GROUP BY source, thr
        |ORDER BY source""".stripMargin,
    "t28_freq_spectrum" ->
      """WITH c AS (SELECT t AS token, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(string_split_regex(lower(trim(text)),
        |      '\s+')) AS t FROM documents)
        |  GROUP BY t)
        |SELECT CASE WHEN c = 1 THEN '1_hapax'
        |            WHEN c <= 10 THEN '2_rare'
        |            WHEN c <= 100 THEN '3_mid'
        |            ELSE '4_common' END AS band,
        |  count(*)::BIGINT AS n_tokens,
        |  sum(c)::BIGINT AS n_occurrences
        |FROM c GROUP BY 1 ORDER BY band""".stripMargin,
    "t27_context_plan" ->
      // all-integer truncation/padding accounting; unnest fans each
      // doc's token count across the candidate lengths as explode does
      """WITH n AS (SELECT
        |    len(string_split_regex(lower(trim(text)), '\s+'))::BIGINT
        |      AS n FROM documents),
        |x AS (SELECT n,
        |    unnest([512, 1024, 2048, 4096]::BIGINT[]) AS L FROM n)
        |SELECT L AS max_seq_len, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN n > L THEN 1 ELSE 0 END)::BIGINT AS n_truncated,
        |  sum(least(n, L))::BIGINT AS tokens_kept,
        |  sum(CASE WHEN n > L THEN n - L ELSE 0 END)::BIGINT
        |    AS tokens_lost,
        |  floor(sum(L - least(n, L))::DOUBLE / (L * count(*)) * 10000)
        |    / 10000 AS pad_frac,
        |  floor(sum(CASE WHEN n > L THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*) * 10000) / 10000 AS trunc_frac
        |FROM x GROUP BY L ORDER BY max_seq_len""".stripMargin,
    "t26_curriculum_plan" ->
      // t24's scoring CTE + q18's explicit type-7 interpolation at 4
      // cut points; the mean is rebuilt from the exact integer sum of
      // 4-decimal scores (float sums in arbitrary order would drift)
      """WITH q AS (SELECT
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS ntok,
        |    floor((least(1.0, length(text) / 500.0) *
        |      (0.7 + 0.3 * (len(list_filter(
        |        string_split_regex(lower(trim(text)), '\s+'),
        |        t -> t IN ('the','a','and','of','to','in')) ) /
        |        len(string_split_regex(lower(trim(text)), '\s+')))))
        |      * 10000) / 10000 AS quality
        |  FROM documents),
        |r AS (SELECT quality AS v,
        |    row_number() OVER (ORDER BY quality) AS rn,
        |    count(*) OVER () AS n FROM q),
        |a AS (SELECT
        |    max(CASE WHEN rn = floor((n-1)*0.2)+1 THEN v END) AS lo20,
        |    max(CASE WHEN rn = ceil((n-1)*0.2)+1 THEN v END) AS hi20,
        |    max((n-1)*0.2 - floor((n-1)*0.2)) AS f20,
        |    max(CASE WHEN rn = floor((n-1)*0.4)+1 THEN v END) AS lo40,
        |    max(CASE WHEN rn = ceil((n-1)*0.4)+1 THEN v END) AS hi40,
        |    max((n-1)*0.4 - floor((n-1)*0.4)) AS f40,
        |    max(CASE WHEN rn = floor((n-1)*0.6)+1 THEN v END) AS lo60,
        |    max(CASE WHEN rn = ceil((n-1)*0.6)+1 THEN v END) AS hi60,
        |    max((n-1)*0.6 - floor((n-1)*0.6)) AS f60,
        |    max(CASE WHEN rn = floor((n-1)*0.8)+1 THEN v END) AS lo80,
        |    max(CASE WHEN rn = ceil((n-1)*0.8)+1 THEN v END) AS hi80,
        |    max((n-1)*0.8 - floor((n-1)*0.8)) AS f80
        |  FROM r),
        |t AS (SELECT lo20 + (hi20 - lo20) * f20 AS p20,
        |    lo40 + (hi40 - lo40) * f40 AS p40,
        |    lo60 + (hi60 - lo60) * f60 AS p60,
        |    lo80 + (hi80 - lo80) * f80 AS p80 FROM a),
        |b AS (SELECT ntok, quality,
        |    (CASE WHEN quality >= p20 THEN 1 ELSE 0 END +
        |     CASE WHEN quality >= p40 THEN 1 ELSE 0 END +
        |     CASE WHEN quality >= p60 THEN 1 ELSE 0 END +
        |     CASE WHEN quality >= p80 THEN 1 ELSE 0 END)::BIGINT AS bucket
        |  FROM q CROSS JOIN t)
        |SELECT bucket, count(*)::BIGINT AS n_docs,
        |  sum(ntok)::BIGINT AS total_tokens,
        |  floor(sum(CAST(round(quality * 10000, 0) AS BIGINT))
        |    / 10000.0 / count(*) * 10000) / 10000 AS avg_quality
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "t25_split_regen" ->
      // t23's leakage CTEs reduced to the leaked-doc set, then a CASE
      // reassignment over t14's split arithmetic
      """WITH s AS (SELECT doc_id, text,
        |    (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100)
        |      AS bk FROM documents),
        |tr AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(list_transform(
        |      generate_series(1, greatest(len(tk) - 7, 0)),
        |      i -> array_to_string(tk[i:i+7], ' '))) AS g
        |  FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS tk
        |    FROM s WHERE bk < 80))),
        |w AS (SELECT doc_id, unnest(list_transform(
        |      generate_series(1, greatest(len(tk) - 7, 0)),
        |      i -> array_to_string(tk[i:i+7], ' '))) AS g
        |  FROM (SELECT doc_id,
        |      string_split_regex(lower(trim(text)), '\s+') AS tk
        |    FROM s WHERE bk >= 90)),
        |lk AS (SELECT DISTINCT w.doc_id FROM w JOIN tr USING (g))
        |SELECT s.doc_id,
        |  CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
        |       ELSE 'test' END AS old_split,
        |  CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
        |       WHEN lk.doc_id IS NOT NULL THEN 'train'
        |       ELSE 'test' END AS new_split
        |FROM s LEFT JOIN lk ON s.doc_id = lk.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    "t14_train_split" ->
      """WITH b AS (SELECT doc_id,
        |    (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100)
        |      AS bk FROM documents)
        |SELECT doc_id,
        |  CASE WHEN bk < 80 THEN 'train'
        |       WHEN bk < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "t16_sequence_pack" ->
      // the greedy fill chain is a data-dependent running reset —
      // re-derived row by row via a recursive CTE walking each
      // source's docs in doc_id order
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, source,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tok,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |rec AS (
        |  SELECT source, rn, doc_id, n_tok, 0::BIGINT AS seq_id,
        |    n_tok AS seq_fill
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.source, t.rn, t.doc_id, t.n_tok,
        |    CASE WHEN rec.seq_fill + t.n_tok > 512
        |      THEN rec.seq_id + 1 ELSE rec.seq_id END,
        |    CASE WHEN rec.seq_fill + t.n_tok > 512
        |      THEN t.n_tok ELSE rec.seq_fill + t.n_tok END
        |  FROM rec JOIN t ON t.source = rec.source AND t.rn = rec.rn + 1)
        |SELECT doc_id, source, n_tok, seq_id, seq_fill FROM rec
        |ORDER BY doc_id""".stripMargin,
    "t17_lang_affinity" ->
      """WITH tok AS (SELECT doc_id, lang,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        |  FROM documents),
        |cl AS (SELECT lang, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |lc AS (SELECT lang, sum(c) AS n FROM cl GROUP BY 1),
        |vocab AS (SELECT DISTINCT t FROM tok),
        |vs AS (SELECT count(*) AS v FROM vocab),
        |mat AS (SELECT l.lang AS m_lang, vo.t,
        |    (coalesce(cl.c, 0) + 1)::BIGINT AS c1,
        |    (lc.n + vs.v)::BIGINT AS den
        |  FROM (SELECT DISTINCT lang FROM documents) l
        |  JOIN lc ON lc.lang = l.lang
        |  CROSS JOIN vocab vo CROSS JOIN vs
        |  LEFT JOIN cl ON cl.lang = l.lang AND cl.t = vo.t),
        |sc AS (SELECT tok.doc_id, mat.m_lang,
        |    floor((sum(mat.c1) * 1000000)::DOUBLE
        |      / (max(mat.den) * count(*))) / 1000000 AS score
        |  FROM tok JOIN mat ON mat.t = tok.t GROUP BY 1, 2),
        |r AS (SELECT doc_id, m_lang, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, m_lang) AS rn
        |  FROM sc)
        |SELECT doc_id, m_lang AS pred_lang, score FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "t18_ngram_novelty" ->
      """WITH b AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 1, 0)),
        |    i -> array_to_string(tk[i:i+1], ' ')))) AS bg
        |  FROM (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |    FROM documents)),
        |f AS (SELECT bg, min(doc_id) AS first_doc FROM b GROUP BY 1)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |  sum(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END)::BIGINT
        |    AS n_novel,
        |  floor(sum(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END)
        |    / count(*) * 10000) / 10000 AS novelty
        |FROM b JOIN f USING (bg) GROUP BY b.doc_id
        |ORDER BY doc_id""".stripMargin,
    "t19_shard_plan" ->
      // same md5-bucket derivation as t14's split oracle, mod 16
      """WITH s AS (SELECT
        |    (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16)
        |      AS shard,
        |    len(string_split_regex(lower(trim(text)), '\s+'))::BIGINT
        |      AS ntok
        |  FROM documents)
        |SELECT shard, count(*)::BIGINT AS n_docs,
        |  sum(ntok)::BIGINT AS total_tokens
        |FROM s GROUP BY 1 ORDER BY shard""".stripMargin,
    "t20_mixture_plan" ->
      // integer-arithmetic plan: rate carried as r10k in [0, 10000];
      // the only doubles are IEEE-exact divisions shared by both
      // engines
      """WITH g AS (SELECT source, count(*)::BIGINT AS n_docs,
        |    sum(len(string_split_regex(lower(trim(text)), '\s+')))::BIGINT
        |      AS source_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(source_tokens)::BIGINT AS total,
        |    count(*)::BIGINT AS k FROM g),
        |p AS (SELECT g.*,
        |    floor(floor(total / 2) / k)::BIGINT AS target_tokens
        |  FROM g CROSS JOIN t),
        |r AS (SELECT p.*,
        |    least(10000, floor(target_tokens * 10000 / source_tokens))::BIGINT
        |      AS r10k
        |  FROM p)
        |SELECT source, n_docs, source_tokens, target_tokens,
        |  r10k / 10000.0 AS rate,
        |  floor(source_tokens * r10k / 10000)::BIGINT AS planned_tokens
        |FROM r ORDER BY source""".stripMargin,
    "n08_nfc_normalize" ->
      // chr(769) = the combining acute the Spark side injects as
      // "́"; nfc_normalize and the JDK normalizer share the
      // Unicode tables, so fingerprints match byte for byte
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN 'Cafe' || chr(769) || ' ' || text
        |    ELSE text END AS t FROM documents)
        |SELECT doc_id, length(t)::BIGINT AS pre_len,
        |  length(nfc_normalize(t))::BIGINT AS post_len,
        |  md5(nfc_normalize(t)) AS fp
        |FROM t ORDER BY doc_id""".stripMargin,
    "t11_hashed_features" ->
      // md5 is byte-identical across engines; '0x'||hex ::BIGINT in
      // DuckDB == conv(hex, 16, 10) in Spark for the 8-digit prefix
      """WITH t AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents)
        |SELECT doc_id,
        |  (('0x' || substr(md5(w), 1, 8))::BIGINT % 32) AS bucket,
        |  count(*)::BIGINT AS n
        |FROM t GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,
    "t01_token_stats" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens,
        |  len(list_distinct(string_split_regex(trim(text), '\s+')))::BIGINT
        |    AS n_uniq,
        |  floor((length(regexp_replace(text, '\s', '', 'g')) /
        |    len(string_split_regex(trim(text), '\s+'))) * 10000) / 10000
        |    AS avg_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t02_quality_score" ->
      """WITH x AS (SELECT doc_id, length(text) AS char_len,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |      AS punct,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','and','of','to','in'))) AS stop_hits,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_toks
        |  FROM documents)
        |SELECT doc_id, char_len::BIGINT AS char_len,
        |  floor((punct / char_len) * 10000) / 10000 AS punct_ratio,
        |  floor((stop_hits / n_toks) * 10000) / 10000 AS stop_ratio,
        |  floor((least(1.0, char_len / 500.0) *
        |    (0.7 + 0.3 * (stop_hits / n_toks))) * 10000) / 10000 AS quality
        |FROM x ORDER BY doc_id""".stripMargin,
    "t29_lang_value" ->
      // t03's argmax CASE + t24/t26's exact-integer quality mean
      """WITH h AS (SELECT text,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |c AS (SELECT text, tk,
        |    len(list_filter(tk, t -> t IN ('the','a','and','of'))) AS h_en,
        |    len(list_filter(tk, t -> t IN ('el','la','de','y'))) AS h_es,
        |    len(list_filter(tk, t -> t IN ('der','und','die','das'))) AS h_de,
        |    len(list_filter(tk, t -> t IN ('le','la','et','les'))) AS h_fr
        |  FROM h),
        |q AS (SELECT
        |    CASE WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_de
        |           AND h_en >= h_fr THEN 'en'
        |         WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_fr THEN 'es'
        |         WHEN h_de > 0 AND h_de >= h_fr THEN 'de'
        |         WHEN h_fr > 0 THEN 'fr'
        |         ELSE 'und' END AS pred_lang,
        |    len(tk)::BIGINT AS ntok,
        |    floor((least(1.0, length(text) / 500.0) *
        |      (0.7 + 0.3 * (len(list_filter(tk,
        |        t -> t IN ('the','a','and','of','to','in'))) / len(tk))))
        |      * 10000) / 10000 AS quality
        |  FROM c)
        |SELECT pred_lang, count(*)::BIGINT AS n_docs,
        |  sum(ntok)::BIGINT AS total_tokens,
        |  floor(sum(CAST(round(quality * 10000, 0) AS BIGINT))
        |    / 10000.0 / count(*) * 10000) / 10000 AS avg_quality
        |FROM q GROUP BY pred_lang ORDER BY pred_lang""".stripMargin,
    "t31_markup_strip" ->
      // the replace chain must decode entities in the SAME order as
      // TextFns.stripMarkup (amp LAST — see its scaladoc)
      """WITH r AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN '<html><body><p>' || text ||
        |        '</p><div id=ad>Click &amp; win &lt;a deal&gt; ' ||
        |        'now&nbsp;!</div></body></html>'
        |      ELSE text END AS raw
        |  FROM documents),
        |c AS (SELECT doc_id, raw,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(raw, '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |        '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS text_clean
        |  FROM r)
        |SELECT doc_id, text_clean,
        |  (length(raw) - length(text_clean))::BIGINT AS removed_chars
        |FROM c ORDER BY doc_id""".stripMargin,
    "t32_url_canonical" ->
      """WITH u AS (SELECT doc_id,
        |    'HTTPS://WWW.Host' || (doc_id % 5)::VARCHAR ||
        |    '.COM:443/p/' || (doc_id % 50)::VARCHAR ||
        |    '?utm_source=feed&utm_campaign=w' || (doc_id % 4)::VARCHAR ||
        |    '&ref=r' || (doc_id % 3)::VARCHAR || '&q=keep#sec' AS raw
        |  FROM documents),
        |f AS (SELECT doc_id, regexp_replace(raw, '#.*$', '') AS nf
        |  FROM u),
        |p AS (SELECT doc_id, nf,
        |    regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*') AS pre
        |  FROM f),
        |c AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(lower(pre),
        |        '^(https://[^/:]+):443$', '\1'),
        |      '^(http://[^/:]+):80$', '\1')
        |    || regexp_replace(
        |         regexp_replace(
        |           regexp_replace(substring(nf, length(pre) + 1),
        |             '&(utm_[a-z]+|ref)=[^&]*', '', 'g'),
        |           '\?(utm_[a-z]+|ref)=[^&]*&?', '?'),
        |         '[?&]+$', '') AS url
        |  FROM p)
        |SELECT url, count(*)::BIGINT AS n_docs,
        |  min(doc_id) AS keeper_doc
        |FROM c GROUP BY url ORDER BY url""".stripMargin,
    "t03_lang_id" ->
      """WITH h AS (SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','and','of'))) AS h_en,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t IN ('el','la','de','y'))) AS h_es,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t IN ('der','und','die','das'))) AS h_de,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t IN ('le','la','et','les'))) AS h_fr
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_de
        |         AND h_en >= h_fr THEN 'en'
        |       WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_fr THEN 'es'
        |       WHEN h_de > 0 AND h_de >= h_fr THEN 'de'
        |       WHEN h_fr > 0 THEN 'fr'
        |       ELSE 'und' END AS pred_lang
        |FROM h ORDER BY doc_id""".stripMargin,
    "t04_fingerprint" ->
      """SELECT doc_id,
        |  md5(upper(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t05_ngram_freq" ->
      """WITH toks AS (SELECT string_split_regex(lower(trim(text)), '\s+')
        |    AS tk FROM documents),
        |  ng AS (SELECT unnest(list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 0)),
        |    i -> array_to_string(tk[i:i+2], ' '))) AS ngram FROM toks)
        |SELECT ngram, count(*) AS n FROM ng GROUP BY ngram
        |ORDER BY n DESC, ngram LIMIT 20""".stripMargin,
    "t07_repetition_signals" ->
      """WITH x AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |  y AS (SELECT doc_id, len(tk) AS n, len(list_distinct(tk)) AS uniq,
        |    list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
        |      i -> array_to_string(tk[i:i+1], ' ')) AS ng
        |  FROM x)
        |SELECT doc_id, n::BIGINT AS n_tokens,
        |  floor((1.0 - uniq / n) * 10000) / 10000 AS dup_tok_ratio,
        |  floor((coalesce(list_max(list_transform(list_distinct(ng),
        |      g -> len(list_filter(ng, e -> e = g)))), 0) * 2.0 / n)
        |    * 10000) / 10000 AS top_bigram_ratio
        |FROM y ORDER BY doc_id""".stripMargin,
    "t08_tfidf_keywords" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |  tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |    FROM t GROUP BY doc_id, term),
        |  dfreq AS (SELECT term, count(*)::BIGINT AS df
        |    FROM tf GROUP BY term),
        |  n AS (SELECT count(*)::BIGINT AS n FROM documents),
        |  r AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, n.n,
        |      row_number() OVER (PARTITION BY tf.doc_id
        |        ORDER BY tf.tf * n.n / dfreq.df DESC, tf.term) AS rn
        |    FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df,
        |  floor(tf * ln(n * 1.0 / df) * 10000) / 10000 AS tfidf
        |FROM r WHERE rn <= 3 ORDER BY doc_id, term""".stripMargin,
    "n09_pii_audit" ->
      // n07's injected fixture + patterns, aggregated to the
      // per-source compliance view
      """WITH t AS (SELECT source,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' contact user' ||
        |      doc_id || '@example.com or 555-123-4567'
        |    ELSE text END AS tt
        |  FROM documents),
        |c AS (SELECT source,
        |    len(regexp_extract_all(tt,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
        |      AS e,
        |    len(regexp_extract_all(tt, '\d{3}-\d{3}-\d{4}'))::BIGINT AS p
        |  FROM t)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN e + p > 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_docs_with_pii,
        |  sum(e)::BIGINT AS n_emails, sum(p)::BIGINT AS n_phones,
        |  floor(sum(CASE WHEN e + p > 0 THEN 1 ELSE 0 END)
        |    / count(*) * 10000) / 10000 AS pii_frac
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "n07_pii_redact" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' contact user' ||
        |      doc_id || '@example.com or 555-123-4567'
        |    ELSE text END AS tt
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(tt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
        |    AS n_emails,
        |  len(regexp_extract_all(tt, '\d{3}-\d{3}-\d{4}'))::BIGINT
        |    AS n_phones,
        |  regexp_replace(regexp_replace(tt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
        |    'g'), '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted
        |FROM t ORDER BY doc_id""".stripMargin,
    "d18_dedup_savings" ->
      // d01's canonicalization + election, rolled up to the
      // per-source savings view (pure-ASCII corpus: length = bytes)
      """WITH h AS (SELECT doc_id, source, length(text)::BIGINT AS b,
        |    md5(upper(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS hh
        |  FROM documents),
        |k AS (SELECT hh, min(doc_id) AS keep FROM h GROUP BY 1)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN doc_id = keep THEN 0 ELSE 1 END)::BIGINT
        |    AS n_dupes,
        |  sum(b)::BIGINT AS total_bytes,
        |  sum(CASE WHEN doc_id = keep THEN 0 ELSE b END)::BIGINT
        |    AS bytes_saved,
        |  floor(sum(CASE WHEN doc_id = keep THEN 0 ELSE b END)::DOUBLE
        |    / sum(b) * 10000) / 10000 AS saved_frac
        |FROM h JOIN k USING (hh) GROUP BY source
        |ORDER BY source""".stripMargin,
    // p16 maintains d20's election incrementally; the snapshot must
    // equal the batch query, so it shares the same oracle SQL
    "p19_incremental_model_suite" ->
      // each maintained model's state row count, independently
      // re-derived from the raw corpus: distinct char bigrams (p04's
      // extraction), distinct tokens (p07/t13's), distinct hashed
      // bigram buckets (p11/t22's md5 trick), distinct payload
      // signatures (p12/m05's), the doc count (p16's docs side),
      // distinct event types (p13's disorder profile state), and the
      // embeddings count (p15's graph-fold vector-state coverage)
      """WITH lm AS (SELECT count(DISTINCT bg)::BIGINT AS n FROM (
        |    SELECT unnest(list_transform(
        |      generate_series(1, length(t) - 1),
        |      i -> substr(t, i, 2))) AS bg
        |    FROM (SELECT lower(trim(text)) AS t FROM documents))),
        |  df AS (SELECT count(DISTINCT token)::BIGINT AS n FROM (
        |    SELECT unnest(list_distinct(
        |      string_split_regex(lower(trim(text)), '\s+'))) AS token
        |    FROM documents)),
        |  ds AS (SELECT count(DISTINCT b)::BIGINT AS n FROM (
        |    SELECT ('0x' || substr(md5(bg), 1, 8))::BIGINT % 64 AS b
        |    FROM (SELECT unnest(list_transform(
        |        generate_series(1, greatest(len(tk) - 1, 0)),
        |        i -> array_to_string(tk[i:i+1], ' '))) AS bg
        |      FROM (SELECT
        |        string_split_regex(lower(trim(text)), '\s+') AS tk
        |        FROM documents)))),
        |  sg AS (SELECT count(DISTINCT md5(substr(text, 1, 32)))::BIGINT
        |    AS n FROM documents),
        |  kp AS (SELECT count(*)::BIGINT AS n FROM documents),
        |  dis AS (SELECT count(DISTINCT event_type)::BIGINT AS n
        |    FROM events),
        |  kv AS (SELECT count(*)::BIGINT AS n FROM embeddings)
        |SELECT model, n_rows FROM (
        |  SELECT 'char_lm' AS model, n AS n_rows FROM lm
        |  UNION ALL SELECT 'doc_freq', n FROM df
        |  UNION ALL SELECT 'dsir', n FROM ds
        |  UNION ALL SELECT 'payload_sig', n FROM sg
        |  UNION ALL SELECT 'quality_keeper', n FROM kp
        |  UNION ALL SELECT 'disorder', n FROM dis
        |  UNION ALL SELECT 'knn_graph_vecs', n FROM kv)
        |ORDER BY model""".stripMargin,
    "p16_incremental_keeper" ->
      """WITH q AS (SELECT doc_id,
        |    md5(upper(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
        |    floor((least(1.0, length(text) / 500.0) *
        |      (0.7 + 0.3 *
        |        (len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |          t -> t IN ('the','a','and','of','to','in')) ) /
        |         len(string_split_regex(lower(trim(text)), '\s+'))))) * 10000)
        |      / 10000 AS quality
        |  FROM documents)
        |SELECT doc_id, quality,
        |  first_value(doc_id) OVER
        |    (PARTITION BY fp ORDER BY quality DESC, doc_id) AS keeper_id,
        |  (doc_id = first_value(doc_id) OVER
        |    (PARTITION BY fp ORDER BY quality DESC, doc_id))::BIGINT AS keep
        |FROM q ORDER BY doc_id""".stripMargin,
    "d20_quality_keeper" ->
      // d01's fingerprint + t02's quality formula; keeper = best
      // quality, ties to min doc_id (both engines floor the score to
      // 4 decimals first, so the ordering keys are identical)
      """WITH q AS (SELECT doc_id,
        |    md5(upper(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
        |    floor((least(1.0, length(text) / 500.0) *
        |      (0.7 + 0.3 *
        |        (len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |          t -> t IN ('the','a','and','of','to','in')) ) /
        |         len(string_split_regex(lower(trim(text)), '\s+'))))) * 10000)
        |      / 10000 AS quality
        |  FROM documents)
        |SELECT doc_id, quality,
        |  first_value(doc_id) OVER
        |    (PARTITION BY fp ORDER BY quality DESC, doc_id) AS keeper_id,
        |  (doc_id = first_value(doc_id) OVER
        |    (PARTITION BY fp ORDER BY quality DESC, doc_id))::BIGINT AS keep
        |FROM q ORDER BY doc_id""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(upper(regexp_replace(trim(text), '\s+', ' ', 'g')))
        |ORDER BY keep_id""".stripMargin,
    "d21_banding_plan" ->
      // the analytic S-curve over every b·r = 64 factorization; both
      // engines truncate the probabilities at 4 dp
      """WITH g AS (SELECT b::BIGINT AS bands, (64 // b)::BIGINT
        |      AS rows_per_band
        |    FROM generate_series(1, 64) AS t(b) WHERE 64 % b = 0)
        |SELECT bands, rows_per_band,
        |  floor(power(1.0 / bands, 1.0 / rows_per_band) * 10000)
        |    / 10000 AS curve_t,
        |  floor((1 - power(1 - power(0.3, rows_per_band), bands))
        |    * 10000) / 10000 AS p_below,
        |  floor((1 - power(1 - power(0.5, rows_per_band), bands))
        |    * 10000) / 10000 AS p_at,
        |  floor((1 - power(1 - power(0.7, rows_per_band), bands))
        |    * 10000) / 10000 AS p_above,
        |  (bands = 16)::BIGINT AS in_use
        |FROM g ORDER BY bands""".stripMargin,
    "d03_jaccard_verify" ->
      """WITH t AS (SELECT doc_id,
        |    list_distinct(string_split_regex(lower(trim(text)), '\s+'))
        |      AS toks FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(list_intersect(a.toks, b.toks))::BIGINT AS n_inter,
        |  len(list_distinct(list_concat(a.toks, b.toks)))::BIGINT AS n_union,
        |  round(len(list_intersect(a.toks, b.toks)) /
        |    len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
        |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        |ORDER BY a_id""".stripMargin,
    "d13_containment" ->
      // bigram shingles: tk[i:i+1] is DuckDB's INCLUSIVE 1-based
      // slice = elements i, i+1 — same pair wordNgrams(toks, 2) joins
      """WITH t AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 1, 0)),
        |    i -> array_to_string(tk[i:i+1], ' '))) AS bg
        |  FROM (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |    FROM documents))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(a.bg)::BIGINT AS n_a,
        |  len(list_intersect(a.bg, b.bg))::BIGINT AS n_inter,
        |  CASE WHEN len(a.bg) > 0 THEN
        |    round(len(list_intersect(a.bg, b.bg)) / len(a.bg), 4)
        |  END AS containment
        |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        |ORDER BY a_id""".stripMargin,
    "d14_semantic_decontam" ->
      // flag compares the ROUNDED max (as the Spark side does) so the
      // verdict never hinges on a last-ulp cosine difference
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |    FROM embeddings),
        |ev AS (SELECT v FROM e WHERE vec_id % 97 = 0),
        |mx AS (SELECT c.vec_id,
        |    max(list_cosine_similarity(c.v, ev.v)) AS m
        |  FROM e c CROSS JOIN ev WHERE c.vec_id % 97 <> 0 GROUP BY 1)
        |SELECT vec_id, round(m, 4) AS max_eval_sim,
        |  (round(m, 4) > 0.35)::BIGINT AS contaminated
        |FROM mx ORDER BY vec_id""".stripMargin,
    "d15_source_overlap" ->
      // 5-gram shingles: tk[i:i+4] is DuckDB's INCLUSIVE 1-based
      // slice = 5 elements, the same window wordNgrams(toks, 5) joins
      """WITH tok AS (SELECT source,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |sh AS (SELECT DISTINCT source AS src, unnest(list_transform(
        |    generate_series(1, greatest(len(tk) - 4, 0)),
        |    i -> array_to_string(tk[i:i+4], ' '))) AS g FROM tok),
        |c AS (SELECT src, count(*)::BIGINT AS n_grams FROM sh GROUP BY 1),
        |i AS (SELECT a.src AS source_a, b.src AS source_b,
        |    count(*)::BIGINT AS n_common
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.src < b.src
        |  GROUP BY 1, 2)
        |SELECT i.source_a, i.source_b, ca.n_grams AS n_a,
        |  cb.n_grams AS n_b, i.n_common,
        |  floor(i.n_common / (ca.n_grams + cb.n_grams - i.n_common)
        |    * 10000) / 10000 AS jaccard
        |FROM i JOIN c ca ON ca.src = i.source_a
        |  JOIN c cb ON cb.src = i.source_b
        |ORDER BY source_a, source_b""".stripMargin,
    "d16_dup_spans" ->
      // 8-token windows: tk[i:i+7] is DuckDB's INCLUSIVE 1-based
      // slice = 8 elements; count POSITIONS per window (not distinct
      // docs) — a within-doc repeat is duplicated text too
      """WITH w AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(tk) - 7, 0)),
        |    i -> array_to_string(tk[i:i+7], ' '))) AS g
        |  FROM (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |    FROM documents)),
        |c AS (SELECT g, count(*)::BIGINT AS cnt FROM w GROUP BY 1)
        |SELECT w.doc_id, count(*)::BIGINT AS n_windows,
        |  sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
        |  floor(sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END)
        |    / count(*) * 10000) / 10000 AS dup_frac
        |FROM w JOIN c USING (g) GROUP BY w.doc_id
        |ORDER BY doc_id""".stripMargin,
    "d17_substring_rewrite" ->
      // first occurrence = min (doc_id, pos), packed into ONE BIGINT
      // (doc_id·2³² + pos: pos ≤ ~100 « 2³², doc_id ≤ ~9·10⁸, so the
      // pack fits 2⁶³ and its numeric order IS the lexicographic
      // struct order). A min(struct) grouped by millions of distinct
      // grams — the organic cardinality of a NON-replicated corpus —
      // blows DuckDB's per-group aggregate state past the box (70 GB+
      // observed at sf1.0f); the packed-key min is a plain BIGINT
      // aggregate. Kept token indices are the ones covered by NO
      // removable window (p <= i < p+8).
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(list_transform(
        |      generate_series(1, greatest(len(tk) - 7, 0)),
        |      i -> {'pos': i, 'g': array_to_string(tk[i:i+7], ' ')}),
        |      recursive := true)
        |  FROM tok),
        |c AS (SELECT g, count(*)::BIGINT AS cnt,
        |    min(doc_id * 4294967296 + pos) AS first FROM w GROUP BY 1),
        |rem AS (SELECT doc_id, list(pos) AS rps
        |  FROM w JOIN c USING (g)
        |  WHERE cnt >= 2 AND doc_id * 4294967296 + pos <> first
        |  GROUP BY 1),
        |k AS (SELECT t.doc_id, tk,
        |    list_filter(generate_series(1, len(tk)),
        |      i -> len(list_filter(coalesce(rps, []),
        |        p -> p <= i AND i < p + 8)) = 0) AS kept
        |  FROM tok t LEFT JOIN rem USING (doc_id))
        |SELECT doc_id, len(tk)::BIGINT AS n_tokens,
        |  (len(tk) - len(kept))::BIGINT AS n_removed,
        |  coalesce(array_to_string(list_transform(kept, i -> tk[i]), ' '),
        |    '') AS clean_text
        |FROM k ORDER BY doc_id""".stripMargin,
    "p09_incremental_span_screen" ->
      // the batch equivalent of the maintained snapshot: window
      // counts over the PUBLISHED corpus (doc_id % 7 != 0), external
      // docs (doc_id % 7 = 0) probed at minCount = 1
      """WITH corp AS (SELECT
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents WHERE doc_id % 7 <> 0),
        |ci AS (SELECT unnest(list_transform(
        |    generate_series(1, greatest(len(tk) - 7, 0)),
        |    i -> array_to_string(tk[i:i+7], ' '))) AS g FROM corp),
        |c AS (SELECT g, count(*)::BIGINT AS n_pos FROM ci GROUP BY 1),
        |w AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(tk) - 7, 0)),
        |    i -> array_to_string(tk[i:i+7], ' '))) AS g
        |  FROM (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |    FROM documents WHERE doc_id % 7 = 0))
        |SELECT w.doc_id, count(*)::BIGINT AS n_windows,
        |  sum(CASE WHEN coalesce(c.n_pos, 0) >= 1 THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_dup,
        |  floor(sum(CASE WHEN coalesce(c.n_pos, 0) >= 1 THEN 1 ELSE 0 END)
        |    / count(*) * 10000) / 10000 AS dup_frac
        |FROM w LEFT JOIN c USING (g) GROUP BY w.doc_id
        |ORDER BY doc_id""".stripMargin,
    "p10_incremental_span_rewrite" ->
      // the batch equivalent of the maintained snapshot: external
      // docs (doc_id % 7 = 0) rewritten against window counts over
      // the PUBLISHED corpus (doc_id % 7 != 0) at minCount = 1 —
      // d17's rewrite tail, no first-occurrence election
      """WITH corp AS (SELECT
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents WHERE doc_id % 7 <> 0),
        |c AS (SELECT g, count(*)::BIGINT AS n_pos FROM (
        |    SELECT unnest(list_transform(
        |      generate_series(1, greatest(len(tk) - 7, 0)),
        |      i -> array_to_string(tk[i:i+7], ' '))) AS g FROM corp)
        |  GROUP BY 1),
        |tok AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents WHERE doc_id % 7 = 0),
        |w AS (SELECT doc_id, unnest(list_transform(
        |      generate_series(1, greatest(len(tk) - 7, 0)),
        |      i -> {'pos': i, 'g': array_to_string(tk[i:i+7], ' ')}),
        |      recursive := true)
        |  FROM tok),
        |rem AS (SELECT doc_id, list(pos) AS rps
        |  FROM w JOIN c USING (g) WHERE n_pos >= 1 GROUP BY 1),
        |k AS (SELECT t.doc_id, tk,
        |    list_filter(generate_series(1, len(tk)),
        |      i -> len(list_filter(coalesce(rps, []),
        |        p -> p <= i AND i < p + 8)) = 0) AS kept
        |  FROM tok t LEFT JOIN rem USING (doc_id))
        |SELECT doc_id, len(tk)::BIGINT AS n_tokens,
        |  (len(tk) - len(kept))::BIGINT AS n_removed,
        |  coalesce(array_to_string(list_transform(kept, i -> tk[i]), ' '),
        |    '') AS clean_text
        |FROM k ORDER BY doc_id""".stripMargin,
    "m04_modality_mixture" ->
      // ascii(first char) = first payload byte on the pure-ASCII
      // corpus (same trick as m03); modality = byte % 3
      """WITH m AS (SELECT doc_id, length(text)::BIGINT AS n_bytes,
        |    ascii(substr(text, 1, 1)) % 3 AS mi FROM documents)
        |SELECT CASE mi WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS modality,
        |  count(*) AS n_items, sum(n_bytes)::BIGINT AS total_bytes,
        |  floor(avg(n_bytes) * 10000) / 10000 AS avg_bytes
        |FROM m GROUP BY 1 ORDER BY modality""".stripMargin,
    "m07_chunk_plan" ->
      // pure-ASCII corpus: length = bytes; // is integer division
      """WITH b AS (SELECT length(text)::BIGINT AS b FROM documents),
        |x AS (SELECT b, unnest([64, 256, 1024]::BIGINT[]) AS L FROM b),
        |y AS (SELECT b, L, (b + L - 1) // L AS nc FROM x)
        |SELECT L AS chunk_bytes, count(*)::BIGINT AS n_payloads,
        |  sum(nc)::BIGINT AS total_chunks,
        |  sum(nc * L - b)::BIGINT AS waste_bytes,
        |  floor(sum(nc * L - b)::DOUBLE /
        |    (sum(nc * L - b) + sum(b)) * 10000) / 10000 AS waste_frac
        |FROM y GROUP BY L ORDER BY chunk_bytes""".stripMargin,
    "m05_payload_dedup" ->
      // pure-ASCII corpus: substr by chars = slice by bytes, so
      // DuckDB's md5(substr) equals Spark's md5 over the blob prefix
      """WITH f AS (SELECT doc_id, md5(substr(text, 1, 32)) AS fp
        |    FROM documents),
        |g AS (SELECT fp, count(*)::BIGINT AS n_copies,
        |    min(doc_id) AS keeper FROM f GROUP BY 1)
        |SELECT f.doc_id, f.fp, g.n_copies,
        |  (f.doc_id = g.keeper)::BIGINT AS keep
        |FROM f JOIN g USING (fp) ORDER BY doc_id""".stripMargin,
    "m06_frame_dedup" ->
      // pure-ASCII corpus: substr by chars = slice by bytes; same
      // even-slice offset arithmetic as sampleFrames
      """WITH f AS (SELECT doc_id, text, length(text)::BIGINT AS n,
        |    unnest(generate_series(0, 7)) AS fr FROM documents),
        |s AS (SELECT doc_id, fr,
        |    md5(substr(text, (floor(fr * n / 8))::INT + 1,
        |      (floor((fr + 1) * n / 8) - floor(fr * n / 8))::INT)) AS sig
        |  FROM f),
        |c AS (SELECT sig, count(*)::BIGINT AS cnt FROM s GROUP BY 1)
        |SELECT s.doc_id, count(*)::BIGINT AS n_frames,
        |  sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
        |  floor(sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END)
        |    / count(*) * 10000) / 10000 AS dup_frac
        |FROM s JOIN c USING (sig) GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "m03_chunk_payload" ->
      // same offset arithmetic as chunkPayload; pure-ASCII corpus
      // makes char i = byte i, so ascii() reads the byte values
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |  c AS (SELECT doc_id, text, n,
        |      unnest(generate_series(0, CASE WHEN n <= 256 THEN 0
        |        ELSE (n - 256 + 127) // 128 END)) AS chunk_idx FROM d),
        |  b AS (SELECT doc_id, text, chunk_idx,
        |      chunk_idx * 128 AS byte_start,
        |      least(chunk_idx * 128 + 256, n) - chunk_idx * 128 AS len
        |    FROM c),
        |  p AS (SELECT doc_id, chunk_idx, byte_start, len,
        |      unnest(generate_series(1, len)) AS gi, text FROM b),
        |  m AS (SELECT doc_id, chunk_idx, byte_start, len,
        |      avg(ascii(substr(text, byte_start + gi, 1))) AS mb
        |    FROM p GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, chunk_idx, byte_start, len::BIGINT AS n_chunk_bytes,
        |  floor(mb * 10000) / 10000 AS mean_byte
        |FROM m ORDER BY doc_id, chunk_idx""".stripMargin,
    "d12_dup_clusters" ->
      // recursive-CTE reachability with min labels: the exact
      // ground truth for the distributed min-label fixpoint
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    list_distinct(string_split_regex(lower(trim(text)), '\s+'))
        |      AS toks FROM documents),
        |  p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |    FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        |    WHERE len(list_intersect(a.toks, b.toks)) /
        |      len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5),
        |  e AS (SELECT a_id AS s, b_id AS d FROM p
        |    UNION SELECT b_id, a_id FROM p),
        |  reach AS (
        |    SELECT s AS node, s AS r FROM e
        |    UNION
        |    SELECT r.node, e.d FROM reach r JOIN e ON e.s = r.r)
        |SELECT node AS doc_id, min(r)::BIGINT AS canonical_id
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    "d09_fuzzy_match" ->
      """SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        |  levenshtein(a.c_name, b.c_name)::BIGINT AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_mktsegment = b.c_mktsegment
        |  AND substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
        |  AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY a_id, b_id""".stripMargin,
    "d10_decontaminate" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |  ng AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 7, 0)),
        |    i -> array_to_string(tk[i:i+7], ' ')))) AS g FROM tok),
        |  bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % 20 = 0),
        |  hits AS (SELECT n.doc_id, count(*)::BIGINT AS n_overlap
        |    FROM ng n JOIN bench USING (g)
        |    WHERE n.doc_id % 20 <> 0 GROUP BY 1)
        |SELECT d.doc_id, coalesce(h.n_overlap, 0)::BIGINT AS n_overlap,
        |  (coalesce(h.n_overlap, 0) > 0)::BIGINT AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 20 <> 0 ORDER BY d.doc_id""".stripMargin,
    "s15_threshold_calib" ->
      // d05's DOUBLE[] cosine parity; 0.05 bins are 800× coarser than
      // the 4-decimal rounding d05 already hash-matches at
      """WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |    FROM embeddings
        |    WHERE (('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT
        |      % 100) < 10)
        |SELECT floor(list_cosine_similarity(a.v, b.v) * 20) / 20
        |    AS cos_bin,
        |  count(*)::BIGINT AS n_pairs
        |FROM s a JOIN s b ON a.vec_id < b.vec_id
        |GROUP BY 1 ORDER BY cos_bin""".stripMargin,
    "d05_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |    FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) > 0.3
        |ORDER BY a_id, b_id""".stripMargin,
    "s04_knn_topk_agg" ->
      """SELECT q_id, rank, cand_id FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id)
        |      AS rank
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |    WHERE vec_id < 10) q
        |  JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) c
        |    ON c.vec_id != q.vec_id)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "s01_knn_brute" -> knnOracleSql,
    // the quantized path re-scores its candidate cut with the same
    // exact cosine, and the cut keeps the true top-5 on this corpus
    // (SimilaritySpec asserts parity with knnBruteAgg) — so the
    // exact-KNN oracle applies verbatim
    "s06_quantized_knn" -> knnOracleSql,
    "s09_mips_brute" ->
      """SELECT q_id, rank, cand_id FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_inner_product(q.v, c.v) DESC, c.vec_id)
        |      AS rank
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |    WHERE vec_id < 10) q
        |  JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) c
        |    ON c.vec_id != q.vec_id)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "s11_l2_knn" ->
      // rank on the SQUARED distance (sum of squared element diffs),
      // not list_distance: IEEE sqrt can round two distinct squared
      // distances to the same double, creating ties the oracle would
      // break by cand_id that Spark (which never computes the sqrt)
      // does not see
      """SELECT q_id, rank, cand_id FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_sum(list_transform(list_zip(q.v, c.v),
        |        x -> (x[1]-x[2])*(x[1]-x[2]))) ASC, c.vec_id) AS rank
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |    WHERE vec_id < 10) q
        |  JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) c
        |    ON c.vec_id != q.vec_id)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "p13_incremental_disorder" ->
      // the maintained profile must equal the batch audit: e18's
      // oracle verbatim
      """WITH x AS (SELECT event_type, epoch_us(ts) AS us,
        |    max(epoch_us(ts)) OVER (PARTITION BY event_type
        |      ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
        |  FROM events),
        |y AS (SELECT event_type,
        |    CASE WHEN runmax > us THEN runmax - us ELSE 0 END AS late_us
        |  FROM x)
        |SELECT event_type, count(*) AS n_events,
        |  sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)::BIGINT AS n_late,
        |  max(late_us) AS max_disorder_us,
        |  sum(late_us)::BIGINT AS total_disorder_us
        |FROM y GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e18_disorder_audit" ->
      """WITH x AS (SELECT event_type, epoch_us(ts) AS us,
        |    max(epoch_us(ts)) OVER (PARTITION BY event_type
        |      ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
        |  FROM events),
        |y AS (SELECT event_type,
        |    CASE WHEN runmax > us THEN runmax - us ELSE 0 END AS late_us
        |  FROM x)
        |SELECT event_type, count(*) AS n_events,
        |  sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)::BIGINT AS n_late,
        |  max(late_us) AS max_disorder_us,
        |  sum(late_us)::BIGINT AS total_disorder_us
        |FROM y GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e20_arrival_profile" ->
      // lag over the same event-time order + q18's per-group type-7
      // interpolation; mean from the exact integer gap sum
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events),
        |y AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL),
        |r AS (SELECT event_type, gap_us AS v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY gap_us)
        |      AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM y),
        |a AS (SELECT event_type,
        |    max(CASE WHEN rn = floor((n-1)*0.5)+1 THEN v END) AS lo50,
        |    max(CASE WHEN rn = ceil((n-1)*0.5)+1 THEN v END) AS hi50,
        |    max((n-1)*0.5 - floor((n-1)*0.5)) AS f50,
        |    max(CASE WHEN rn = floor((n-1)*0.99)+1 THEN v END) AS lo99,
        |    max(CASE WHEN rn = ceil((n-1)*0.99)+1 THEN v END) AS hi99,
        |    max((n-1)*0.99 - floor((n-1)*0.99)) AS f99
        |  FROM r GROUP BY event_type),
        |t AS (SELECT event_type,
        |    CAST(floor(lo50 + (hi50 - lo50) * f50) AS BIGINT) AS p50_gap_us,
        |    CAST(floor(lo99 + (hi99 - lo99) * f99) AS BIGINT) AS p99_gap_us
        |  FROM a),
        |m AS (SELECT event_type, count(*)::BIGINT AS n_gaps,
        |    CAST(floor(sum(gap_us)::DOUBLE / count(*)) AS BIGINT)
        |      AS mean_gap_us
        |  FROM y GROUP BY event_type)
        |SELECT m.event_type, m.n_gaps, m.mean_gap_us,
        |  t.p50_gap_us, t.p99_gap_us
        |FROM m JOIN t USING (event_type)
        |ORDER BY m.event_type""".stripMargin,
    "e19_watermark_plan" ->
      // e18's lateness CTE + q18's explicit type-7 interpolation per
      // group (a watermark drops data: quantile_cont's 1-ulp drift
      // could flip the floor and admit/drop a boundary event)
      """WITH x AS (SELECT event_type, epoch_us(ts) AS us,
        |    max(epoch_us(ts)) OVER (PARTITION BY event_type
        |      ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
        |  FROM events),
        |y AS (SELECT event_type,
        |    CASE WHEN runmax > us THEN runmax - us ELSE 0 END AS late_us
        |  FROM x),
        |r AS (SELECT event_type, late_us AS v,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY late_us) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM y),
        |a AS (SELECT event_type,
        |    max(CASE WHEN rn = floor((n-1)*0.99)+1 THEN v END) AS lo,
        |    max(CASE WHEN rn = ceil((n-1)*0.99)+1 THEN v END) AS hi,
        |    max((n-1)*0.99 - floor((n-1)*0.99)) AS f
        |  FROM r GROUP BY event_type),
        |t AS (SELECT event_type,
        |    CAST(floor(lo + (hi - lo) * f) AS BIGINT) AS wm_delay_us
        |  FROM a)
        |SELECT y.event_type, count(*)::BIGINT AS n_events,
        |  t.wm_delay_us,
        |  sum(CASE WHEN late_us > wm_delay_us THEN 1 ELSE 0 END)::BIGINT
        |    AS n_dropped,
        |  floor(sum(CASE WHEN late_us > wm_delay_us THEN 1 ELSE 0 END)
        |    / count(*) * 10000) / 10000 AS drop_frac
        |FROM y JOIN t USING (event_type)
        |GROUP BY y.event_type, t.wm_delay_us
        |ORDER BY y.event_type""".stripMargin,
    "e22_conversion_latency" ->
      // e11's funnel CTEs + q18's global type-7 interpolation over
      // the conversion latency
      """WITH s AS (SELECT user_id, min(ts) AS t0 FROM events
        |    WHERE event_type = 'signup' GROUP BY user_id),
        |  l AS (SELECT epoch_us(min(e.ts)) - epoch_us(min(s.t0))
        |      AS lat_us
        |    FROM events e JOIN s ON e.user_id = s.user_id
        |    WHERE e.event_type = 'purchase' AND e.ts >= s.t0
        |    GROUP BY e.user_id),
        |  r AS (SELECT lat_us AS v,
        |    row_number() OVER (ORDER BY lat_us) AS rn,
        |    count(*) OVER () AS n FROM l),
        |  a AS (SELECT
        |    max(CASE WHEN rn = floor((n-1)*0.5)+1 THEN v END) AS lo50,
        |    max(CASE WHEN rn = ceil((n-1)*0.5)+1 THEN v END) AS hi50,
        |    max((n-1)*0.5 - floor((n-1)*0.5)) AS f50,
        |    max(CASE WHEN rn = floor((n-1)*0.9)+1 THEN v END) AS lo90,
        |    max(CASE WHEN rn = ceil((n-1)*0.9)+1 THEN v END) AS hi90,
        |    max((n-1)*0.9 - floor((n-1)*0.9)) AS f90 FROM r),
        |  m AS (SELECT count(*)::BIGINT AS n_converted,
        |    CAST(floor(sum(lat_us)::DOUBLE / count(*)) AS BIGINT)
        |      AS mean_lat_us FROM l)
        |SELECT m.n_converted, m.mean_lat_us,
        |  CAST(floor(a.lo50 + (a.hi50 - a.lo50) * a.f50) AS BIGINT)
        |    AS p50_lat_us,
        |  CAST(floor(a.lo90 + (a.hi90 - a.lo90) * a.f90) AS BIGINT)
        |    AS p90_lat_us
        |FROM m CROSS JOIN a""".stripMargin,
    "e21_session_profile" ->
      // e01's session CTE + q18's global type-7 interpolation over
      // the two per-session measures
      """WITH x AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev FROM events),
        |  y AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL OR
        |      epoch_us(ts) - epoch_us(prev) > 1800000000
        |      THEN 1 ELSE 0 END AS newf FROM x),
        |  z AS (SELECT user_id, ts,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id FROM y),
        |  s AS (SELECT count(*)::BIGINT AS n_events,
        |    max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
        |  FROM z GROUP BY user_id, session_id),
        |  re AS (SELECT n_events AS v,
        |    row_number() OVER (ORDER BY n_events) AS rn,
        |    count(*) OVER () AS n FROM s),
        |  ae AS (SELECT
        |    max(CASE WHEN rn = floor((n-1)*0.5)+1 THEN v END) AS lo50,
        |    max(CASE WHEN rn = ceil((n-1)*0.5)+1 THEN v END) AS hi50,
        |    max((n-1)*0.5 - floor((n-1)*0.5)) AS f50,
        |    max(CASE WHEN rn = floor((n-1)*0.9)+1 THEN v END) AS lo90,
        |    max(CASE WHEN rn = ceil((n-1)*0.9)+1 THEN v END) AS hi90,
        |    max((n-1)*0.9 - floor((n-1)*0.9)) AS f90 FROM re),
        |  rd AS (SELECT dur_us AS v,
        |    row_number() OVER (ORDER BY dur_us) AS rn,
        |    count(*) OVER () AS n FROM s),
        |  ad AS (SELECT
        |    max(CASE WHEN rn = floor((n-1)*0.5)+1 THEN v END) AS lo50,
        |    max(CASE WHEN rn = ceil((n-1)*0.5)+1 THEN v END) AS hi50,
        |    max((n-1)*0.5 - floor((n-1)*0.5)) AS f50,
        |    max(CASE WHEN rn = floor((n-1)*0.9)+1 THEN v END) AS lo90,
        |    max(CASE WHEN rn = ceil((n-1)*0.9)+1 THEN v END) AS hi90,
        |    max((n-1)*0.9 - floor((n-1)*0.9)) AS f90 FROM rd),
        |  m AS (SELECT count(*)::BIGINT AS n_sessions,
        |    floor(sum(n_events)::DOUBLE / count(*) * 10000) / 10000
        |      AS mean_events FROM s)
        |SELECT m.n_sessions, m.mean_events,
        |  CAST(floor(ae.lo50 + (ae.hi50 - ae.lo50) * ae.f50) AS BIGINT)
        |    AS p50_events,
        |  CAST(floor(ae.lo90 + (ae.hi90 - ae.lo90) * ae.f90) AS BIGINT)
        |    AS p90_events,
        |  CAST(floor(ad.lo50 + (ad.hi50 - ad.lo50) * ad.f50) AS BIGINT)
        |    AS p50_dur_us,
        |  CAST(floor(ad.lo90 + (ad.hi90 - ad.lo90) * ad.f90) AS BIGINT)
        |    AS p90_dur_us
        |FROM m CROSS JOIN ae CROSS JOIN ad""".stripMargin,
    "e01_sessionize" ->
      """WITH x AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev FROM events),
        |  y AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL OR
        |      epoch_us(ts) - epoch_us(prev) > 1800000000
        |      THEN 1 ELSE 0 END AS newf FROM x),
        |  z AS (SELECT user_id, ts,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id FROM y)
        |SELECT user_id, session_id::BIGINT AS session_id,
        |  count(*) AS n_events,
        |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
        |FROM z GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "e23_event_paths" ->
      // e01's sessionization CTEs + per-session first-3 path
      """WITH x AS (SELECT user_id, ts, event_id, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev FROM events),
        |  y AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN prev IS NULL OR
        |      epoch_us(ts) - epoch_us(prev) > 1800000000
        |      THEN 1 ELSE 0 END AS newf FROM x),
        |  z AS (SELECT user_id, ts, event_id, event_type,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id FROM y),
        |  r AS (SELECT user_id, session_id, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts, event_id) AS rn FROM z),
        |  p AS (SELECT user_id, session_id,
        |      string_agg(event_type, '>' ORDER BY rn) AS path
        |    FROM r WHERE rn <= 3 GROUP BY user_id, session_id)
        |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "e02_tumbling_counts" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "e03_asof_join" -> asofOracleSql,
    "e07_asof_native" -> asofOracleSql, // same semantics as e03
    "e17_sliding_window" ->
      // sliding = each event fans out to size/slide day-aligned
      // windows; Spark's window() aligns to the epoch, which for a
      // 1-day slide is exactly date_trunc('day') - k days
      """SELECT strftime(date_trunc('day', ts) - INTERVAL (k) DAY,
        |    '%Y-%m-%d') AS win_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events CROSS JOIN generate_series(0, 6) AS g(k)
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "e04_streaming_counts" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "e05_stateful_sessions" ->
      """WITH x AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev FROM events)
        |SELECT user_id,
        |  sum(CASE WHEN prev IS NULL OR
        |    epoch_us(ts) - epoch_us(prev) > 1800000000
        |    THEN 1 ELSE 0 END)::BIGINT AS n_sessions
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin,
    "e08_streaming_file_sink" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |WHERE date_trunc('day', ts) + INTERVAL 1 DAY
        |      <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
        |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "e09_stream_stream_join" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 60 MINUTE AND c.ts <= p.ts
        |ORDER BY p_id, c_id""".stripMargin,
    "e10_streaming_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "e06_session_window" ->
      """WITH x AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev FROM events),
        |  y AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL OR
        |      epoch_us(ts) - epoch_us(prev) >= 1800000000
        |      THEN 1 ELSE 0 END AS newf FROM x),
        |  z AS (SELECT user_id, ts,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid FROM y)
        |SELECT user_id, min(epoch_us(ts)) AS start_us,
        |  count(*) AS n_events
        |FROM z GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,
    "e11_conversion_funnel" ->
      """WITH s AS (SELECT user_id, min(ts) AS t0 FROM events
        |    WHERE event_type = 'signup' GROUP BY user_id),
        |  p AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
        |    JOIN s ON e.user_id = s.user_id
        |    WHERE e.event_type = 'purchase' AND e.ts >= s.t0
        |    GROUP BY e.user_id)
        |SELECT count(*) AS n_signup, count(p.t1) AS n_converted,
        |  floor((count(p.t1) / count(*)) * 10000) / 10000 AS conversion
        |FROM s LEFT JOIN p ON s.user_id = p.user_id""".stripMargin,
    "e12_incremental_rollup" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "e13_range_join" ->
      // epoch_us on both sides mirrors the Spark reader's ns→us
      // truncation, so the boundary comparisons are integer-exact
      """SELECT l.event_id, count(*) AS n_after,
        |  round(sum(r.value), 2) AS sum_value
        |FROM events l JOIN events r ON r.event_type = 'purchase'
        |  AND epoch_us(r.ts) >= epoch_us(l.ts)
        |  AND epoch_us(r.ts) <= epoch_us(l.ts) + 1800000000
        |WHERE l.event_type = 'click'
        |GROUP BY l.event_id ORDER BY l.event_id""".stripMargin,
    "e15_gap_fill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu, event_id, value,
        |    date_trunc('day', ts)::DATE AS d FROM events),
        |  bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
        |  days AS (SELECT unnest(generate_series(d0, d1,
        |    INTERVAL 1 DAY))::DATE AS d FROM bounds),
        |  users AS (SELECT DISTINCT user_id FROM e),
        |  grid AS (SELECT user_id, d FROM users CROSS JOIN days),
        |  lastd AS (SELECT user_id, d, value FROM (
        |    SELECT user_id, d, value, row_number() OVER (
        |      PARTITION BY user_id, d ORDER BY tu DESC, event_id DESC)
        |      AS rn FROM e) WHERE rn = 1),
        |  f AS (SELECT g.user_id, g.d,
        |    last_value(l.value IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.d
        |      ROWS UNBOUNDED PRECEDING) AS v
        |    FROM grid g LEFT JOIN lastd l
        |      ON g.user_id = l.user_id AND g.d = l.d)
        |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
        |  round(v, 2) AS value
        |FROM f ORDER BY user_id, day""".stripMargin,
    "e16_cohort_retention" ->
      """WITH c AS (SELECT user_id, min(date_trunc('week', ts)) AS cw
        |    FROM events WHERE event_type = 'signup' GROUP BY 1),
        |  a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw
        |    FROM events)
        |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
        |  (date_diff('day', cw, aw) // 7)::BIGINT AS week_offset,
        |  count(DISTINCT c.user_id)::BIGINT AS n_active
        |FROM c JOIN a USING (user_id)
        |WHERE aw >= cw
        |GROUP BY cw, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "e14_streaming_upsert" ->
      // epoch_us ordering mirrors the Spark reader's ns→us truncation
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |  round(value, 2) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q42_canonical_record" ->
      """SELECT o_custkey, o_orderkey,
        |  round(o_totalprice, 2) AS best_price,
        |  strftime(o_orderdate, '%Y-%m-%d') AS best_date
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderdate DESC,
        |      o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q43_skew_profile" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |tot AS (SELECT count(*) AS t FROM events),
        |top AS (SELECT user_id, n FROM c
        |  ORDER BY n DESC, user_id LIMIT 20),
        |r AS (SELECT row_number() OVER (ORDER BY n DESC, user_id)
        |    AS rank, user_id, n FROM top)
        |SELECT r.rank, r.user_id, r.n,
        |  floor(r.n / tot.t * 10000) / 10000 AS pct,
        |  floor(sum(r.n) OVER (ORDER BY r.rank ROWS UNBOUNDED PRECEDING)
        |    / tot.t * 10000) / 10000 AS cum_pct
        |FROM r CROSS JOIN tot ORDER BY rank""".stripMargin,
    "q46_join_audit" ->
      """WITH l AS (SELECT l_orderkey AS k, count(*)::BIGINT AS left_rows
        |    FROM lineitem GROUP BY 1),
        |r AS (SELECT o_orderkey AS k, count(*)::BIGINT AS right_rows
        |    FROM orders GROUP BY 1)
        |SELECT l.k AS join_key, l.left_rows, r.right_rows,
        |  (l.left_rows * r.right_rows)::BIGINT AS rows_out
        |FROM l JOIN r USING (k)
        |ORDER BY rows_out DESC, join_key LIMIT 10""".stripMargin,
    "q45_drift_audit" ->
      // t14's md5 bucket splits the two halves; TVD-style deltas keep
      // the arithmetic transcendental-free (bit-stable both engines)
      """WITH b AS (SELECT source,
        |    CASE WHEN (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
        |      % 100) < 50 THEN 1 ELSE 0 END AS is_old FROM documents),
        |a AS (SELECT source, sum(is_old)::BIGINT AS n_old,
        |    sum(1 - is_old)::BIGINT AS n_new FROM b GROUP BY source),
        |t AS (SELECT sum(n_old)::BIGINT AS tot_o,
        |    sum(n_new)::BIGINT AS tot_n FROM a)
        |SELECT source, n_old, n_new,
        |  floor(n_old::DOUBLE / tot_o * 10000) / 10000 AS share_old,
        |  floor(n_new::DOUBLE / tot_n * 10000) / 10000 AS share_new,
        |  floor(abs(n_old::DOUBLE / tot_o - n_new::DOUBLE / tot_n)
        |    * 10000) / 10000 AS share_delta
        |FROM a CROSS JOIN t ORDER BY source""".stripMargin,
    "q44_fd_audit" ->
      // dominant value = max count with ties to MIN value, encoded as
      // min({-n, val}) — struct comparison is lexicographic in both
      // engines, so the election is deterministic and portable
      """WITH c AS (SELECT source AS key, lang AS val,
        |    count(*)::BIGINT AS n FROM documents GROUP BY 1, 2),
        |d AS (SELECT key, sum(n)::BIGINT AS n_rows,
        |    count(*)::BIGINT AS n_vals,
        |    min({'negn': -n, 'v': val}) AS dom FROM c GROUP BY 1)
        |SELECT key, n_rows, n_vals, dom.v AS dominant_val,
        |  (-dom.negn)::BIGINT AS n_consistent,
        |  floor((-dom.negn) / n_rows * 10000) / 10000 AS consistency
        |FROM d ORDER BY key""".stripMargin,
    "p04_incremental_lm" ->
      // the batch-trained model: the incremental fold must reproduce
      // it exactly (bigram counts are a commutative monoid)
      """WITH d AS (SELECT lower(trim(text)) AS t FROM documents),
        |  b AS (SELECT unnest(list_transform(
        |    generate_series(1, length(t) - 1),
        |    i -> substr(t, i, 2))) AS bg FROM d),
        |  bc AS (SELECT bg, count(*)::BIGINT AS nb FROM b GROUP BY 1),
        |  pc AS (SELECT substr(bg, 1, 1) AS p, sum(nb)::BIGINT AS np
        |    FROM bc GROUP BY 1)
        |SELECT bg, nb, np, floor(nb / np * 10000) / 10000 AS prob
        |FROM bc JOIN pc ON substr(bc.bg, 1, 1) = pc.p
        |ORDER BY bg""".stripMargin,
    "p03_incremental_clean" ->
      // the batch form of the incremental clean: decontaminate
      // (d10's n-gram shape) then keep-min-doc_id per fingerprint —
      // the streaming first-arrival rule under in-order replay
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |  ng AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 7, 0)),
        |    i -> array_to_string(tk[i:i+7], ' ')))) AS g FROM tok),
        |  bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % 20 = 0),
        |  hits AS (SELECT n.doc_id, count(*)::BIGINT AS n_overlap
        |    FROM ng n JOIN bench USING (g)
        |    WHERE n.doc_id % 20 <> 0 GROUP BY 1),
        |  clean AS (SELECT d.doc_id, d.source,
        |      md5(lower(trim(d.text))) AS fp
        |    FROM documents d LEFT JOIN hits h USING (doc_id)
        |    WHERE d.doc_id % 20 <> 0 AND coalesce(h.n_overlap, 0) = 0)
        |SELECT doc_id, source, fp FROM (
        |  SELECT clean.*, row_number() OVER (PARTITION BY fp
        |    ORDER BY doc_id) AS rn FROM clean)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "p07_incremental_df" ->
      // the batch form of the incrementally-maintained df model,
      // finished as the t13 stopword report
      """WITH t AS (SELECT doc_id, unnest(list_distinct(
        |    string_split_regex(lower(trim(text)), '\s+'))) AS token
        |  FROM documents),
        |  d AS (SELECT token, count(*)::BIGINT AS df FROM t GROUP BY 1),
        |  n AS (SELECT count(*)::DOUBLE AS total FROM documents)
        |SELECT token, df,
        |  floor((df / total) * 10000) / 10000 AS doc_frac
        |FROM d CROSS JOIN n WHERE df / total > 0.5
        |ORDER BY token""".stripMargin,
    "p12_incremental_media" ->
      // the maintained signature state must reproduce m05's batch
      // dedup exactly — shared oracle (pure-ASCII corpus: substr by
      // chars = slice by bytes)
      """WITH f AS (SELECT doc_id, md5(substr(text, 1, 32)) AS fp
        |    FROM documents),
        |g AS (SELECT fp, count(*)::BIGINT AS n_copies,
        |    min(doc_id) AS keeper FROM f GROUP BY 1)
        |SELECT f.doc_id, f.fp, g.n_copies,
        |  (f.doc_id = g.keeper)::BIGINT AS keep
        |FROM f JOIN g USING (fp) ORDER BY doc_id""".stripMargin,
    "p11_incremental_dsir" ->
      // the batch form of the maintained model: t22's bucket counts
      // + the smoothed ratio derived from the final state
      """WITH bgm AS (SELECT source,
        |    ('0x' || substr(md5(bg), 1, 8))::BIGINT % 64 AS b
        |  FROM (SELECT source, unnest(list_transform(
        |      generate_series(1, greatest(len(tk) - 1, 0)),
        |      i -> array_to_string(tk[i:i+1], ' '))) AS bg
        |    FROM (SELECT source,
        |      string_split_regex(lower(trim(text)), '\s+') AS tk
        |      FROM documents))),
        |c AS (SELECT b,
        |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS ct,
        |    sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)::BIGINT AS cr
        |  FROM bgm GROUP BY 1),
        |t AS (SELECT sum(ct)::BIGINT AS tt, sum(cr)::BIGINT AS tr FROM c)
        |SELECT b, ct, cr,
        |  floor(((ct + 1) * (tr + 64))::DOUBLE /
        |    ((cr + 1) * (tt + 64)) * 1000000) / 1000000 AS ratio
        |FROM c CROSS JOIN t ORDER BY b""".stripMargin,
    "p08_incremental_screen" ->
      // the incremental screen must reproduce d14's batch report
      // verbatim — same oracle
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |    FROM embeddings),
        |ev AS (SELECT v FROM e WHERE vec_id % 97 = 0),
        |mx AS (SELECT c.vec_id,
        |    max(list_cosine_similarity(c.v, ev.v)) AS m
        |  FROM e c CROSS JOIN ev WHERE c.vec_id % 97 <> 0 GROUP BY 1)
        |SELECT vec_id, round(m, 4) AS max_eval_sim,
        |  (round(m, 4) > 0.35)::BIGINT AS contaminated
        |FROM mx ORDER BY vec_id""".stripMargin,
    "p06_incremental_quality" ->
      // the batch form of the full incremental chain: p03's
      // decontaminate → keep-min-per-fingerprint front, finished with
      // t02's quality score and n07's inject-then-redact per survivor
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |  ng AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 7, 0)),
        |    i -> array_to_string(tk[i:i+7], ' ')))) AS g FROM tok),
        |  bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % 20 = 0),
        |  hits AS (SELECT n.doc_id, count(*)::BIGINT AS n_overlap
        |    FROM ng n JOIN bench USING (g)
        |    WHERE n.doc_id % 20 <> 0 GROUP BY 1),
        |  clean AS (SELECT d.doc_id, d.source, d.text,
        |      md5(lower(trim(d.text))) AS fp
        |    FROM documents d LEFT JOIN hits h USING (doc_id)
        |    WHERE d.doc_id % 20 <> 0 AND coalesce(h.n_overlap, 0) = 0),
        |  keep AS (SELECT doc_id, source, text FROM (
        |    SELECT clean.*, row_number() OVER (PARTITION BY fp
        |      ORDER BY doc_id) AS rn FROM clean) WHERE rn = 1),
        |  x AS (SELECT doc_id, source, length(text) AS char_len,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','and','of','to','in'))) AS stop_hits,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_toks,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' contact user' ||
        |      doc_id || '@example.com or 555-123-4567'
        |    ELSE text END AS tt
        |  FROM keep)
        |SELECT doc_id, source,
        |  floor((least(1.0, char_len / 500.0) *
        |    (0.7 + 0.3 * (stop_hits / n_toks))) * 10000) / 10000 AS quality,
        |  len(regexp_extract_all(tt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
        |    AS n_emails,
        |  len(regexp_extract_all(tt, '\d{3}-\d{3}-\d{4}'))::BIGINT
        |    AS n_phones,
        |  regexp_replace(regexp_replace(tt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
        |    'g'), '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted
        |FROM x ORDER BY doc_id""".stripMargin,
    "p02_preprocess_chain" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |  ng AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 7, 0)),
        |    i -> array_to_string(tk[i:i+7], ' ')))) AS g FROM tok),
        |  bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % 20 = 0),
        |  hits AS (SELECT n.doc_id, count(*)::BIGINT AS n_overlap
        |    FROM ng n JOIN bench USING (g)
        |    WHERE n.doc_id % 20 <> 0 GROUP BY 1),
        |  clean AS (SELECT d.doc_id FROM documents d
        |    LEFT JOIN hits h USING (doc_id)
        |    WHERE d.doc_id % 20 <> 0 AND coalesce(h.n_overlap, 0) = 0),
        |  keep AS (SELECT min(d.doc_id) AS doc_id FROM documents d
        |    JOIN clean c ON d.doc_id = c.doc_id
        |    GROUP BY md5(upper(regexp_replace(trim(d.text), '\s+', ' ',
        |      'g')))),
        |  surv AS (SELECT d.doc_id, d.source, lower(trim(d.text)) AS t
        |    FROM documents d JOIN keep k ON d.doc_id = k.doc_id),
        |  b AS (SELECT doc_id, source, unnest(list_transform(
        |    generate_series(1, length(t) - 1),
        |    i -> substr(t, i, 2))) AS bg FROM surv),
        |  bc AS (SELECT bg, count(*)::BIGINT AS nb FROM b GROUP BY 1),
        |  pc AS (SELECT substr(bg, 1, 1) AS p, sum(nb)::BIGINT AS np
        |    FROM bc GROUP BY 1),
        |  pr AS (SELECT bg, nb / np AS prob FROM bc
        |    JOIN pc ON substr(bc.bg, 1, 1) = pc.p),
        |  fl AS (SELECT b.doc_id, b.source,
        |    floor(avg(prob) * 10000) / 10000 AS fluency
        |    FROM b JOIN pr USING (bg) GROUP BY 1, 2)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  floor(avg(fluency) * 10000) / 10000 AS avg_fluency
        |FROM fl WHERE fluency >= 0.25
        |GROUP BY source ORDER BY source""".stripMargin,
    "p01_corpus_pipeline" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
        |    GROUP BY md5(upper(regexp_replace(trim(text), '\s+', ' ', 'g')))),
        |  q AS (SELECT d.doc_id, d.lang,
        |    len(string_split_regex(lower(trim(d.text)), '\s+')) AS ntok,
        |    least(1.0, length(d.text) / 500.0) * (0.7 + 0.3 *
        |      (len(list_filter(string_split_regex(lower(trim(d.text)), '\s+'),
        |        t -> t IN ('the','a','and','of','to','in'))) /
        |       len(string_split_regex(lower(trim(d.text)), '\s+')))) AS qv
        |  FROM documents d JOIN keep k ON d.doc_id = k.doc_id)
        |SELECT lang, count(*) AS n_docs, sum(ntok)::BIGINT AS total_tokens,
        |  floor(avg(qv) * 10000) / 10000 AS avg_quality
        |FROM q WHERE qv >= 0.5
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "m01_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
        |  (256 + ascii(substr(text, 1, 1)))::BIGINT AS width,
        |  (256 + ascii(substr(text, 2, 1)))::BIGINT AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the synthetic documents are pure ASCII (verified octet_length ==
    // length), so per-byte access via substr matches the Spark side's
    // UTF-8 payload bytes exactly
    "m02_frame_sample" ->
      """WITH f AS (SELECT doc_id, text, length(text) AS n,
        |    unnest(generate_series(0, 3)) AS frame_idx FROM documents),
        |  s AS (SELECT doc_id, frame_idx,
        |    (frame_idx * n) // 4 AS st, ((frame_idx + 1) * n) // 4 AS en,
        |    text FROM f)
        |SELECT doc_id, frame_idx::BIGINT AS frame_idx,
        |  (en - st)::BIGINT AS n_frame_bytes,
        |  CASE WHEN en - st = 0 THEN 0.0
        |    ELSE floor((list_sum(list_transform(generate_series(st + 1, en),
        |      i -> ascii(substr(text, i, 1)))) / (en - st)) * 10000) / 10000
        |    END AS mean_byte
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin
  )
}
