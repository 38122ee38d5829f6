package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Normalize

/** CSV → typed-table normalization, the Spark re-expression of the
  * reference's normalize stage (pipelines/normalize.py).
  *
  * Where the reference iterates pandas rows in Python
  * (normalize.py:186 `df.iterrows()` for owners), every
  * transformation here is a column expression over a distributed
  * scan — the whole stage is map-side (zero shuffles), so it scales
  * to an arbitrarily large registry dump by adding splits.
  */
object RegistryNormalize {

  /** Read a raw FAA-style CSV (header row, comma-delimited, empty
    * strings as null — normalize.py:72-91). */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("nullValue", "")
      .csv(path)

  private def c(df: DataFrame, name: String): Column = {
    // FAA headers carry stray whitespace; match trimmed names
    val actual = df.columns.find(_.trim == name).getOrElse(name)
    df.col(actual)
  }

  private def cleanStr(x: Column): Column = coalesce(trim(x), lit(""))

  /** Enforce a target schema: select columns in order with permissive
    * casts (invalid → NULL) — the Arrow `cast(schema, safe=False)` +
    * pandas coerce parity (normalize.py:152-153). */
  def castTo(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f =>
      (if (df.columns.contains(f.name)) col(f.name)
       else lit(null)).cast(f.dataType).as(f.name)).toSeq: _*)

  /** MASTER.txt → aircraft table (normalize.py:101-155). */
  def aircraft(master: DataFrame): DataFrame = {
    val df = master
    castTo(df.select(
      cleanStr(c(df, "N-NUMBER")).as("n_number"),
      cleanStr(c(df, "SERIAL NUMBER")).as("serial_no"),
      cleanStr(c(df, "MFR MDL CODE")).as("mfr_mdl_code"),
      cleanStr(c(df, "ENG MFR MDL")).as("engine_code"),
      c(df, "YEAR MFR").cast("int").as("year_mfr"),
      cleanStr(c(df, "TYPE AIRCRAFT")).as("airworthiness_class"),
      lit(null).cast("int").as("seats"),
      lit(null).cast("int").as("engines"),
      cleanStr(c(df, "STATUS CODE")).as("reg_status"),
      Normalize.parseYyyymmdd(c(df, "LAST ACTION DATE")).as("status_date"),
      Normalize.parseYyyymmdd(c(df, "EXPIRATION DATE")).as("reg_expiration"),
      cleanStr(c(df, "MODE S CODE")).as("mode_s_code"),
      cleanStr(c(df, "MODE S CODE HEX")).as("mode_s_code_hex"),
      lit(false).as("is_deregistered")), Schemas.aircraft)
  }

  /** MASTER.txt → registrations table (normalize.py:157-180). */
  def registrations(master: DataFrame): DataFrame = {
    val df = master
    castTo(df.select(
      cleanStr(c(df, "N-NUMBER")).as("n_number"),
      cleanStr(c(df, "CERTIFICATION")).as("reg_type"),
      cleanStr(c(df, "STATUS CODE")).as("reg_status"),
      Normalize.parseYyyymmdd(c(df, "LAST ACTION DATE")).as("status_date"),
      Normalize.parseYyyymmdd(c(df, "EXPIRATION DATE")).as("reg_expiration"),
      Normalize.parseYyyymmdd(c(df, "CERT ISSUE DATE")).as("cert_issue_date")),
      Schemas.registrations)
  }

  /** MASTER.txt → owners table with address standardization and the
    * deterministic xxhash64 owner_id (normalize.py:182-240; id scheme
    * at :34-55 — same pipe-joined key fields, computed by the native
    * codegen'd XxHash64 expression instead of per-row Python). */
  def owners(master: DataFrame): DataFrame = {
    val df = master
    val nameStd = Normalize.cleanText(c(df, "NAME"))
    val addrStd = Normalize.combineFields(c(df, "STREET"), c(df, "STREET2"))
    val cityStd = Normalize.cleanText(c(df, "CITY"))
    val stateStd = Normalize.usState(c(df, "STATE"))
    val zip5 = Normalize.zip5(c(df, "ZIP CODE"))
    val nn = cleanStr(c(df, "N-NUMBER"))
    castTo(df.select(
      Normalize.stableId64(nn, nameStd, addrStd, cityStd, stateStd, zip5)
        .as("owner_id"),
      nn.as("n_number"),
      cleanStr(c(df, "TYPE REGISTRANT")).as("owner_type"),
      cleanStr(c(df, "NAME")).as("owner_name_raw"),
      cleanStr(c(df, "STREET")).as("address1_raw"),
      cleanStr(c(df, "STREET2")).as("address2_raw"),
      cleanStr(c(df, "CITY")).as("city_raw"),
      cleanStr(c(df, "STATE")).as("state_raw"),
      cleanStr(c(df, "ZIP CODE")).as("zip_raw"),
      nameStd.as("owner_name_std"),
      addrStd.as("address_all_std"),
      cityStd.as("city_std"),
      stateStd.as("state_std"),
      zip5.as("zip5")), Schemas.owners)
  }

  /** ACFTREF.txt → aircraft_make_model (normalize.py:243-286). */
  def aircraftMakeModel(acftref: DataFrame): DataFrame = {
    val df = acftref
    castTo(df.select(
      cleanStr(c(df, "CODE")).as("mfr_mdl_code"),
      cleanStr(c(df, "MFR")).as("maker"),
      cleanStr(c(df, "MODEL")).as("model"),
      cleanStr(c(df, "AC-CAT")).as("category"),
      cleanStr(c(df, "TYPE-ACFT")).as("type"),
      cleanStr(c(df, "TYPE-ENG")).as("engine_type"),
      c(df, "NO-SEATS").cast("int").as("seats_default")),
      Schemas.aircraftMakeModel)
  }

  /** ENGINE.txt → engines (normalize.py:289-332). */
  def engines(engine: DataFrame): DataFrame = {
    val df = engine
    castTo(df.select(
      cleanStr(c(df, "CODE")).as("engine_code"),
      cleanStr(c(df, "MFR")).as("manufacturer"),
      cleanStr(c(df, "MODEL")).as("model"),
      cleanStr(c(df, "TYPE")).as("type"),
      c(df, "HORSEPOWER").cast("int").as("horsepower"),
      lit(null).cast("int").as("cylinders")), Schemas.engines)
  }

  /** Full normalize stage: raw snapshot dir (MASTER.txt, ACFTREF.txt,
    * ENGINE.txt) → typed parquet tables (normalize.py:335-431). */
  def normalize(spark: SparkSession, rawDir: String, outDir: String): Unit = {
    val build = builders(spark, rawDir)
    Registry.tableNames.foreach(t => publish(build(t)(), t, outDir))
  }

  /** Each published table, built from its raw dump; a dump is read at
    * most once per map, on the first table that needs it. */
  private def builders(
      spark: SparkSession, rawDir: String): Map[String, () => DataFrame] = {
    lazy val master = readRaw(spark, s"$rawDir/MASTER.txt")
    lazy val acftref = readRaw(spark, s"$rawDir/ACFTREF.txt")
    lazy val engine = readRaw(spark, s"$rawDir/ENGINE.txt")
    Map(
      "aircraft" -> (() => aircraft(master)),
      "registrations" -> (() => registrations(master)),
      "owners" -> (() => owners(master)),
      "aircraft_make_model" -> (() => aircraftMakeModel(acftref)),
      "engines" -> (() => engines(engine)))
  }

  /** The tables [[Registry.search]] probes by registration number. */
  val keyedTables: Set[String] = Set("aircraft", "registrations", "owners")

  /** The stored lookup key column of the [[keyedTables]]. Readers drop
    * it: [[Registry.table]] returns the [[Schemas]] columns only. */
  val KeyColumn: String = "lookup_key"

  /** The lookup key of a registration number: [[Normalize.normalizeKey]]
    * of the stored `n_number` when publishing, of the request when
    * searching, and of the stored `n_number` on read when a table was
    * published without the key column. */
  def lookupKey(nNumber: Column): Column = Normalize.normalizeKey(nNumber)

  /** `df` with its lookup key: the stored column, else derived from
    * `n_number` (a table published before the key existed), which
    * answers the same rows but cannot be pushed to the Parquet scan. */
  def withLookupKey(df: DataFrame): DataFrame =
    if (df.columns.contains(KeyColumn)) df
    else df.withColumn(KeyColumn, lookupKey(col("n_number")))

  /** Rows per Parquet page of a keyed table. A key equality reads the
    * pages whose min/max (the page column index) can hold the key: with
    * each file sorted by key that is about one page per file. Parquet's
    * default caps pages at 20,000 rows, so a lookup in a 50,000-row
    * owners file read 20,000 rows; at 500 rows it read 500, and the
    * file grew from 3.12 to 3.59 MB (50k-plane snapshot, measured). */
  private[graft] val KeyedPageRows = 500

  /** The one write path of [[normalize]] and [[normalizeIncremental]]:
    * a keyed table gets its lookup key column and each output file is
    * sorted by it (`sortWithinPartitions`: no shuffle) in pages of
    * [[KeyedPageRows]] rows. */
  private def publish(df: DataFrame, table: String, outDir: String): Unit = {
    val w =
      if (!keyedTables(table)) df.write
      else withLookupKey(df).sortWithinPartitions(KeyColumn).write
        .option("parquet.page.row.count.limit", KeyedPageRows.toLong)
    w.mode("overwrite").parquet(s"$outDir/$table.parquet")
  }

  /** Which raw file feeds each published table (normalize.py's
    * source layout: one MASTER dump fans out to three tables). */
  val tableSources: Map[String, String] = Map(
    "aircraft" -> "MASTER.txt",
    "registrations" -> "MASTER.txt",
    "owners" -> "MASTER.txt",
    "aircraft_make_model" -> "ACFTREF.txt",
    "engines" -> "ENGINE.txt")

  /** INCREMENTAL normalize: re-derive only the tables whose raw
    * source file actually changed since the last run, by comparing
    * distributed SHA256 checksums ([[Lineage.checksums]]) against the
    * recorded ones. A daily registry refresh usually touches one dump
    * out of three — recomputing all five tables rescans everything;
    * this recomputes exactly the stale subset and leaves the other
    * published parquet untouched (readers keep serving them). The new
    * checksum record is written only after the refreshed tables
    * commit, so a crash mid-run re-refreshes rather than skips.
    *
    * Returns the refreshed table names (empty = everything current).
    */
  def normalizeIncremental(
      spark: SparkSession, rawDir: String, outDir: String): Seq[String] = {
    val recordPath =
      java.nio.file.Paths.get(s"$outDir/_meta/raw_checksums.txt")
    val current = Lineage.checksums(spark, rawDir, "*.txt")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val previous: Map[String, String] =
      if (java.nio.file.Files.exists(recordPath))
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(recordPath)).asScala
          .map(_.split(" ", 2)).collect { case Array(f, h) => f -> h }
          .toMap
      else Map.empty
    // a raw dump that vanished since the last run is a broken
    // snapshot, not a no-op: its tables would keep serving stale
    // parquet and a rewritten record would mask the deletion forever.
    // Fail fast naming the affected tables (the file can't be
    // re-derived from nothing).
    val deleted = previous.keySet -- current.keySet
    if (deleted.nonEmpty) {
      val affected = tableSources.collect {
        case (t, src) if deleted(src) => t
      }.toSeq.sorted
      throw new IllegalStateException(
        s"raw dump(s) ${deleted.toSeq.sorted.mkString(", ")} disappeared " +
          s"from $rawDir since the last normalize; tables " +
          s"${affected.mkString(", ")} would serve stale data. Restore " +
          "the dump or run a full normalize() to a fresh outDir.")
    }
    val changed = current.collect {
      case (f, h) if !previous.get(f).contains(h) => f
    }.toSet
    val stale = tableSources.collect {
      case (t, src) if changed(src) => t
    }.toSeq.sorted
    if (stale.nonEmpty) {
      val build = builders(spark, rawDir)
      stale.foreach(t => publish(build(t)(), t, outDir))
    }
    java.nio.file.Files.createDirectories(recordPath.getParent)
    java.nio.file.Files.writeString(recordPath,
      current.toSeq.sorted.map { case (f, h) => s"$f $h" }
        .mkString("", "\n", "\n"))
    stale
  }
}
