package graft.registry

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** The user-facing registry API — Spark re-expression of the
  * reference's publish stage (pipelines/publish.py) and Python API
  * (hangarbay/api.py). A hangarbay user maps 1:1:
  *
  *   hb.load_data()      -> RegistryNormalize.normalize + new Registry
  *   aircraft_decoded    -> registry.aircraftDecoded
  *   owners_clean        -> registry.ownersClean
  *   owners_summary      -> registry.ownersSummary
  *   hb.search(n)        -> registry.search(n)
  *   hb.fleet(o, st, n)  -> registry.fleet(o, st, n)
  *   hb.query(sql)       -> registry.query(sql)
  *   FTS owner search    -> registry.searchOwnersFts(terms)
  *   hb.status()         -> registry.status
  *   hb.list_tables()    -> registry.listTables
  *   hb.schema(t)        -> registry.schemaOf(t)
  *
  * Where the reference builds DuckDB/SQLite indexes, the published
  * files are the index: normalize writes `aircraft`, `registrations`
  * and `owners` with a lookup key column, each file sorted by it in
  * small pages, so [[search]]'s key equality is pushed to the Parquet
  * scan and reads about one page per file. Views are lazy DataFrames:
  * the code books decode through literal map expressions, the FTS
  * analog is a token inverted index (explode + hash shuffle) — both
  * forms that scale out, where the reference's single-file databases
  * cannot.
  *
  * Like the reference's one `load_data()` then many calls, an
  * instance resolves each published table and derived view once per
  * snapshot: the lazy frame is kept and reused while a driver-side
  * listing of the table's files ([[graft.Tables.fileListing]]: path,
  * length, modification time; no Spark job) is unchanged, and re-resolved on the next call after a
  * rewrite (e.g. [[RegistryNormalize.normalizeIncremental]]). Only
  * plans are kept — no cached data, files or threads — and only for
  * the instance's lifetime.
  */
class Registry(
    spark: SparkSession,
    dataDir: String,
    warningSink: String => Unit = Console.err.println(_),
    readOnly: Boolean = true) {

  val tableNames: Seq[String] = Registry.tableNames

  /** Snapshot age in days from the `_meta/manifest.json` snapshot
    * date (api.py:66-78 `_get_data_age_days`); None when no manifest
    * has been written for this data dir. */
  def dataAgeDays: Option[Long] = {
    val p = java.nio.file.Paths.get(s"$dataDir/_meta/manifest.json")
    if (!java.nio.file.Files.exists(p)) None
    else
      "\"snapshot_date\":\\s*\"(\\d{4}-\\d{2}-\\d{2})\"".r
        .findFirstMatchIn(java.nio.file.Files.readString(p))
        .map(m => Lineage.ageDays(m.group(1), java.time.LocalDate.now))
  }

  /** Staleness check wired into every query entry point, the
    * api.py:81-94 `_warn_if_stale` parity (threshold 30 days); the
    * sink is injectable so callers (and specs) can route the warning
    * instead of losing it to stderr. */
  private def warnIfStale(): Unit =
    dataAgeDays.filter(_ >= 30).foreach { d =>
      warningSink(s"${Registry.StaleWarningPrefix} $d days old. " +
        "Run the update pipeline (Ingest.fromZip / normalize) to refresh.")
    }

  /** Resolved tables and views, by name: the stamp each was resolved
    * under and its lazy frame. A table's stamp is its file listing; a
    * view's is its input frames, which compare by identity (Dataset
    * keeps Object.equals). Concurrent callers share it; a race
    * resolves twice and keeps either answer. */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Any], DataFrame)]()

  private def memo(name: String, stamp: Seq[Any])(
      resolve: => DataFrame): DataFrame = {
    val hit = resolved.get(name)
    if (hit != null && hit._1 == stamp) hit._2
    else {
      val df = resolve
      resolved.put(name, (stamp, df))
      df
    }
  }

  private lazy val fs = new Path(dataDir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** A published table as stored, re-read only when its files changed
    * since the last call; a missing table raises what
    * `spark.read.parquet` raises. */
  private def stored(name: String): DataFrame = {
    val dir = s"$dataDir/$name.parquet"
    graft.Tables.fileListing(fs, dir) match {
      case Some(files) => memo(s"$name.parquet", files)(spark.read.parquet(dir))
      case None => spark.read.parquet(dir)
    }
  }

  /** A published table: its [[Schemas]] columns, without the lookup
    * key [[RegistryNormalize.KeyColumn]] that normalize stores. */
  def table(name: String): DataFrame = {
    val s = stored(name)
    memo(name, Seq(s))(s.drop(RegistryNormalize.KeyColumn))
  }

  /** One of [[RegistryNormalize.keyedTables]] with its lookup key. */
  private def keyed(name: String): DataFrame = {
    val s = stored(name)
    memo(s"$name.keyed", Seq(s))(RegistryNormalize.withLookupKey(s))
  }

  /** Freshness + integrity report — `status --watch`'s one decision
    * table, folding [[Lineage]]'s manifest into the live registry:
    * per table, the live row count vs the manifest's recorded count
    * (a mismatch means published files changed outside the
    * pipeline), the snapshot age, and the same 30-day staleness
    * verdict [[warnIfStale]] applies at query time (api.py:81-94).
    * The manifest is one small driver-side JSON read; live counts
    * are parquet metadata passes. Missing manifest → manifest_rows
    * -1 / age -1, so the report itself flags an unpublished dir
    * instead of throwing. */
  def freshnessReport(
      asOf: java.time.LocalDate = java.time.LocalDate.now): DataFrame = {
    import spark.implicits._
    val p = java.nio.file.Paths.get(s"$dataDir/_meta/manifest.json")
    val (age, counts) =
      if (!java.nio.file.Files.exists(p))
        (None: Option[Long], Map.empty[String, Long])
      else {
        val txt = java.nio.file.Files.readString(p)
        val a = "\"snapshot_date\":\\s*\"(\\d{4}-\\d{2}-\\d{2})\"".r
          .findFirstMatchIn(txt)
          .map(m => Lineage.ageDays(m.group(1), asOf))
        val rc = "\"row_counts\":\\s*\\{([^}]*)\\}".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        val c = "\"([A-Za-z_]+)\":\\s*(\\d+)".r.findAllMatchIn(rc)
          .map(m => m.group(1) -> m.group(2).toLong).toMap
        (a, c)
      }
    tableNames.map { t =>
      val live = table(t).count()
      val man = counts.getOrElse(t, -1L)
      (t, live, man, if (man == live) 1L else 0L,
        age.getOrElse(-1L), if (age.exists(_ >= 30)) 1L else 0L)
    }.toDF("table_name", "n_rows", "manifest_rows", "rows_match",
      "age_days", "stale")
  }

  /** aircraft_decoded view (publish.py:156-183): fact LEFT JOIN
    * broadcast make/model and registration dims, code books decoded
    * in place. */
  def aircraftDecoded: DataFrame = {
    val a = table("aircraft")
    val m = table("aircraft_make_model")
    val r = table("registrations")
    memo("aircraft_decoded", Seq(a, m, r))(decodedView(a, m, r))
  }

  /** [[aircraftDecoded]] plus the lookup key column, for [[search]]. */
  private def keyedDecoded: DataFrame = {
    val a = keyed("aircraft")
    val m = table("aircraft_make_model")
    val r = keyed("registrations")
    memo("aircraft_decoded.keyed", Seq(a, m, r))(
      decodedView(a, m, r, Seq(RegistryNormalize.KeyColumn)))
  }

  /** The view's columns, then `keys`: the registration side joins on
    * `n_number` and `keys`, so a filter on a key also constrains (and
    * is pushed to) the registrations scan. */
  private def decodedView(a: DataFrame, m: DataFrame, r: DataFrame,
      keys: Seq[String] = Nil): DataFrame = {
    val on = "n_number" +: keys
    val withDims = a
      .join(broadcast(m.select(col("mfr_mdl_code"), col("maker"), col("model"))),
        Seq("mfr_mdl_code"), "left")
      .join(broadcast(r.select((on :+ "cert_issue_date").map(col): _*)),
        on, "left")
    val decoded = Relational.decode(
      Relational.decode(withDims,
        "reg_status", Schemas.statusCodes, "reg_status_descr"),
      "airworthiness_class", Schemas.airworthinessClasses,
      "airworthiness_descr")
    // column names/order match publish.py's view exactly: the decoded
    // descriptions surface as reg_status / airworthiness_class (raw
    // codes keep *_code names), unknown codes decode to NULL — so
    // reference-style SQL via query() runs unchanged
    decoded.select(Seq(
      col("n_number"), col("serial_no"), col("mfr_mdl_code"), col("maker"),
      col("model"), col("engine_code"), col("year_mfr"),
      col("airworthiness_class").as("airworthiness_code"),
      col("airworthiness_descr").as("airworthiness_class"),
      col("seats"), col("engines"),
      col("reg_status").as("status_code"),
      col("reg_status_descr").as("reg_status"),
      col("status_date"), col("reg_expiration"), col("cert_issue_date"),
      col("mode_s_code"), col("mode_s_code_hex"), col("is_deregistered"))
      ++ keys.map(col): _*)
  }

  /** owners_clean view (publish.py:185-198). */
  def ownersClean: DataFrame = {
    val o = table("owners")
    memo("owners_clean", Seq(o))(ownersCleanView(o))
  }

  /** [[ownersClean]] plus the lookup key column, for [[search]]. */
  private def keyedOwners: DataFrame = {
    val o = keyed("owners")
    memo("owners_clean.keyed", Seq(o))(
      ownersCleanView(o, Seq(RegistryNormalize.KeyColumn)))
  }

  private def ownersCleanView(o: DataFrame, keys: Seq[String] = Nil): DataFrame =
    Relational.decode(o, "owner_type", Schemas.ownerTypes, "owner_type_descr")
      .select(Seq(col("n_number"),
        col("owner_type").as("owner_type_code"),
        col("owner_type_descr").as("owner_type"),
        col("owner_name_std").as("owner_name"),
        col("address_all_std").as("address"),
        col("city_std").as("city"),
        col("state_std").as("state"),
        col("zip5").as("zip")) ++ keys.map(col): _*)

  /** owners_summary roll-up (publish.py:58-67). */
  def ownersSummary: DataFrame = {
    val o = table("owners")
    memo("owners_summary", Seq(o))(Relational.groupSummary(o, "n_number",
        col("owner_name_std"),
        col("owner_type").isin("2", "4", "5"))
      .withColumnRenamed("member_count", "owner_count")
      .withColumnRenamed("members_concat", "owner_names_concat")
      .withColumnRenamed("any_flag", "any_trust_flag"))
  }

  /** N-number lookup with owner enrichment (api.py:153-197): the rows
    * of [[aircraftDecoded]] and [[ownersClean]] whose lookup key equals
    * the request's. The filter is a plain equality on the stored key
    * column, which the optimizer moves below the joins onto all three
    * keyed tables (onto registrations through its join on the key) and
    * each Parquet scan pushes down: a lookup reads the key's row group
    * and page of each file, about [[RegistryNormalize]]'s
    * `KeyedPageRows` rows per file, not the whole table. The views it
    * filters are resolved once per snapshot, like [[aircraftDecoded]],
    * so a request plans one filter and one join. A table published
    * without the key column derives it on read and answers the same
    * rows from a full scan. */
  def search(nNumber: String): DataFrame = {
    warnIfStale()
    // api.py:171-174 strips the request before anything else; the key
    // derivation then folds to one literal at planning time
    val byKey = col(RegistryNormalize.KeyColumn) ===
      RegistryNormalize.lookupKey(lit(nNumber.trim))
    // the owners side gets the key filter explicitly (not left to
    // constraint inference) and is broadcast: a one-stage plan instead
    // of a sort-merge join AQE only converts after two shuffle stages
    val o = keyedOwners.filter(byKey).drop(RegistryNormalize.KeyColumn)
    keyedDecoded.filter(byKey).drop(RegistryNormalize.KeyColumn)
      .join(broadcast(o), Seq("n_number"), "left")
  }

  /** Fleet search: pipe-separated OR terms over owner names, optional
    * state filter, ordered, limited (api.py:200-271). */
  def fleet(owner: String, state: Option[String] = None,
      limit: Int = 0): DataFrame = {
    warnIfStale()
    val filters = state.map(st =>
      upper(col("state")) === st.toUpperCase).toSeq
    val joined = aircraftDecoded
      .select(col("n_number"), col("maker"), col("model"),
        col("year_mfr"), col("reg_status"))
      .join(ownersClean.select(col("n_number"), col("owner_name"),
        col("city"), col("state")), Seq("n_number"))
    Relational.fleetSearch(joined, col("owner_name"),
      owner.split('|').toSeq.map(_.trim), filters,
      Seq(col("n_number")), limit)
  }

  /** Ad-hoc SQL over the registered registry views (api.py:274).
    *
    * Default is READ-ONLY — the api.py:308-336 `get_connection(
    * read_only=True)` contract: command statements (CREATE/DROP/
    * INSERT/...) are rejected BEFORE execution by inspecting the
    * parsed plan, so a passthrough query can never mutate the
    * session catalog or write data. `new Registry(..., readOnly =
    * false)` is the explicit escape hatch. */
  def query(sql: String): DataFrame = {
    warnIfStale()
    if (readOnly) {
      val parsed = spark.sessionState.sqlParser.parsePlan(sql)
      val isCommand = parsed.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.Command] ||
        parsed.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement] ||
        parsed.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.ParsedStatement]
      if (isCommand)
        throw new IllegalArgumentException(
          s"read-only registry: refusing non-query statement " +
            s"'${sql.take(60)}'. Open with readOnly=false for DDL/DML.")
    }
    registerAll()
    spark.sql(sql)
  }

  /** Register tables + decoded views as temp views. */
  def registerAll(): Unit = {
    tableNames.foreach(n => table(n).createOrReplaceTempView(n))
    aircraftDecoded.createOrReplaceTempView("aircraft_decoded")
    ownersClean.createOrReplaceTempView("owners_clean")
    ownersSummary.createOrReplaceTempView("owners_summary")
  }

  /** Token inverted index over owner names/addresses — the scalable
    * stand-in for the reference's SQLite FTS5 file
    * (publish.py:235-313): explode tokens, hash-shuffle on token.
    * Carries the within-record term frequency (`tf`) so the ranked
    * search can score bm25-style, the way FTS5's MATCH results come
    * with bm25 for free; membership queries just ignore the column.
    * At 100 TB this bucket-joins instead of probing one local file. */
  def ownersFtsIndex: DataFrame =
    table("owners")
      .select(col("owner_id"), col("n_number"),
        explode(split(concat_ws(" ", col("owner_name_std"),
          col("address_all_std"), col("city_std"), col("state_std")),
          "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("owner_id"), col("n_number"), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** Materialize [[ownersFtsIndex]] once, bucketed AND sorted on
    * token (the [[graft.operators.Dedup.writeBandedLayout]] pattern):
    * repeated searches then probe the written layout — bucket pruning
    * reads 1/numBuckets of the index per term, no re-explode of the
    * owners table per call. At 100 TB the explode+shuffle is paid
    * once per snapshot publish instead of once per search. */
  def writeFtsIndex(
      tableName: String = Registry.FtsTable, numBuckets: Int = 32): Unit =
    graft.operators.Layouts.publish(
      ownersFtsIndex, tableName, "fts_index", Seq("token"), numBuckets,
      // the ranked probe's idf needs the corpus doc count N; carrying
      // it on the layout's lineage row saves one owners-count job per
      // ranked search (it is a property of the INDEXED snapshot, so
      // the manifest — not the live table — is its correct home)
      props = Map("doc_count" -> table("owners").count().toString))

  /** All-terms FTS match (AND semantics like FTS5 default): one
    * semi-join per term against the inverted index — the written
    * bucketed layout when present (or named explicitly), else the
    * lazy explode form. */
  def searchOwnersFts(
      terms: Seq[String], indexTable: Option[String] = None): DataFrame = {
    require(terms.nonEmpty, "searchOwnersFts needs at least one term")
    val written = indexTable.orElse(
      Some(Registry.FtsTable).filter(spark.catalog.tableExists))
    // Point probes need the bucketed scan kept: the planner's
    // DisableUnnecessaryBucketedScan rule only credits exchange
    // elimination (joins/aggs on the bucket key), not bucket PRUNING,
    // so it would fall back to scanning all buckets for a token = 'X'
    // lookup. The engine's sessions therefore run with
    // autoBucketedScan off from the start (see
    // [[graft.operators.Layouts]]) — the probe never mutates shared
    // session conf.
    val idx = written.map(spark.table).getOrElse(ownersFtsIndex)
    val hits = terms.map(t =>
        idx.filter(col("token") === t.toUpperCase)
          .select(col("owner_id")))
      .reduce(_ intersect _)
    table("owners").join(hits, Seq("owner_id"), "left_semi")
  }

  /** [[searchOwnersFts]] with RELEVANCE RANKING — beyond the
    * reference's used surface (its FTS5 index ships bm25 but no
    * hangarbay query ever ranks): same AND semantics, results ordered
    * by a bm25-shaped score Σ_t tf(t, owner) · idf(t) with the
    * standard idf = ln(1 + (N − df + ½)/(df + ½)). Term document
    * frequencies come from ONE bucket-pruned aggregate over the
    * probed tokens (broadcast back — |terms| rows), never a corpus
    * pass; N comes from the written index's lineage manifest row
    * (`doc_count`, recorded at index-fts time — a property of the
    * indexed snapshot) and only falls back to a live owners count
    * for the lazy/unmanifested path. Score floored to 4 dp for
    * engine-stable ordering; ties break on owner_id. */
  def searchOwnersFtsRanked(
      terms: Seq[String], indexTable: Option[String] = None): DataFrame = {
    require(terms.nonEmpty, "searchOwnersFtsRanked needs at least one term")
    val up = terms.map(_.toUpperCase).distinct
    val written = indexTable.orElse(
      Some(Registry.FtsTable).filter(spark.catalog.tableExists))
    // A persisted index written by a pre-`tf` index-fts run lacks the
    // term-frequency column the ranking needs; falling back to the
    // lazy index keeps ranked search working (at recompute cost)
    // instead of failing with an opaque unresolved-column error.
    val usable = written.filter(t => spark.table(t).columns.contains("tf"))
    val idx = usable.map(spark.table).getOrElse(ownersFtsIndex)
    val hits = idx.filter(col("token").isin(up: _*))
    // N from the index's manifest row when probing a written index
    // (no extra job); live count only on the lazy path
    val n = usable.flatMap { t =>
      graft.operators.Layouts.manifest(spark)
        .filter(col("layout") === t)
        .select(col("props")).collect().headOption
        .flatMap(r => r.getString(0).split(';')
          .collectFirst { case s if s.startsWith("doc_count=") =>
            s.stripPrefix("doc_count=").toLong })
    }.getOrElse(table("owners").count())
    val idf = hits.groupBy(col("token"))
      .agg(countDistinct(col("owner_id")).as("df"))
      .withColumn("idf", log(
        lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) /
          (col("df") + 0.5)))
    val scored = hits.join(broadcast(idf), "token")
      .groupBy(col("owner_id"))
      .agg(countDistinct(col("token")).as("__nt"),
        sum(col("tf") * col("idf")).as("__s"))
      .filter(col("__nt") === up.length) // AND semantics, like FTS5
      .select(col("owner_id"),
        (floor(col("__s") * 10000) / 10000).as("score"))
    table("owners").join(scored, Seq("owner_id"))
      .orderBy(col("score").desc, col("owner_id"))
  }

  /** Data status / metadata (api.py:338-376). */
  def status: DataFrame =
    tableNames.map(n =>
      table(n).agg(count(lit(1)).as("n_rows"))
        .select(lit(n).as("table_name"), col("n_rows")))
      .reduce(_ unionAll _)

  def listTables: Seq[String] =
    tableNames ++ Seq("aircraft_decoded", "owners_clean", "owners_summary")

  def schemaOf(name: String): DataFrame = {
    import spark.implicits._
    val df = name match {
      case "aircraft_decoded" => aircraftDecoded
      case "owners_clean" => ownersClean
      case "owners_summary" => ownersSummary
      case t => table(t)
    }
    df.schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString))
      .toDF("column_name", "column_type")
  }
}

object Registry {
  /** The registry's base tables — single source of truth shared by
    * the query layer, [[Ingest.fromZip]] manifesting and the Cli
    * normalize path (a second literal list silently diverges the
    * moment a table is added). */
  val tableNames: Seq[String] = Seq("aircraft", "registrations", "owners",
    "aircraft_make_model", "engines")

  /** Default saved-table name for the materialized FTS index. */
  val FtsTable: String = "graft_owners_fts"

  /** Prefix of the staleness warning emitted by `warnIfStale` —
    * shared with Cli's `--skip-age-check` filter so rewording the
    * warning can't silently decouple the flag (the old string-literal
    * coupling broke with no test failure at the call site). */
  val StaleWarningPrefix: String = "WARNING: registry data is"
}
