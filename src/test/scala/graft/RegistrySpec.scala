package graft

import java.nio.file.Files
import graft.registry.{Lineage, Registry, RegistryNormalize}

/** End-to-end registry pipeline: FAA-shaped CSV → typed parquet →
  * decoded views → search/fleet/FTS — the reference's whole
  * fetch-normalize-publish-query loop minus the network fetch. */
class RegistrySpec extends SparkSuite with SuiteTempDirs {

  protected val rootName = "graft_registry_spec"

  private lazy val dirs = {
    val raw = tmpDir("graft_raw")
    val pub = tmpDir("graft_pub")
    Files.writeString(java.nio.file.Paths.get(s"$raw/MASTER.txt"),
      """N-NUMBER ,SERIAL NUMBER,MFR MDL CODE,ENG MFR MDL,YEAR MFR,TYPE AIRCRAFT,STATUS CODE,LAST ACTION DATE,EXPIRATION DATE,CERT ISSUE DATE,CERTIFICATION,MODE S CODE,MODE S CODE HEX,NAME,STREET,STREET2,CITY,STATE,ZIP CODE,TYPE REGISTRANT
        |221LA,SN001,C172,ENG1,2015,4,V,20240101,20270101,20150601,1,50000001,A00001,LOS ANGELES POLICE DEPT , 100 W 1ST ST ,SUITE 2,LOS ANGELES,California,90012-1234,5
        |757AF,SN002,B757,ENG2,1995,1,V,20230315,20260315,19950815,1,50000002,A00002,UNITED AIRLINES INC,233 S WACKER DR,,CHICAGO,IL,60606,3
        |100XY,SN003,C172,ENG1,bad_year,4,E,20220230,20250101,20100101,1,50000003,A00003,JOHN  DOE,1 MAIN ST,,AUSTIN,TX,787,1
        |""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$raw/ACFTREF.txt"),
      """CODE,MFR,MODEL,TYPE-ACFT,TYPE-ENG,AC-CAT,BUILD-CERT-IND,NO-ENG,NO-SEATS,AC-WEIGHT,SPEED
        |C172,CESSNA,172S,4,1,1,0,1,4,CLASS 1,120
        |B757,BOEING,757-200,5,5,1,0,2,200,CLASS 3,500
        |""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$raw/ENGINE.txt"),
      """CODE,MFR,MODEL,TYPE,HORSEPOWER,THRUST
        |ENG1,LYCOMING,IO-360,1,180,0
        |ENG2,PRATT & WHITNEY,PW2037,5,0,38250
        |""".stripMargin)
    RegistryNormalize.normalize(spark, raw, pub)
    (raw, pub)
  }

  private lazy val registry = new Registry(spark, dirs._2)

  test("normalize produces typed tables with coerced invalids") {
    val a = registry.table("aircraft").orderBy("n_number").collect()
    assert(a.length == 3)
    val bad = a.find(_.getString(0) == "100XY").get
    assert(bad.isNullAt(bad.fieldIndex("year_mfr"))) // bad_year -> null
    assert(bad.isNullAt(bad.fieldIndex("status_date"))) // 20220230 invalid
  }

  test("owners get standardized fields and stable ids") {
    val o = registry.table("owners").orderBy("n_number").collect()
    val lapd = o.find(_.getAs[String]("n_number") == "221LA").get
    assert(lapd.getAs[String]("owner_name_std") == "LOS ANGELES POLICE DEPT")
    assert(lapd.getAs[String]("address_all_std") == "100 W 1ST ST SUITE 2")
    assert(lapd.getAs[String]("state_std") == "CA") // California -> CA
    assert(lapd.getAs[String]("zip5") == "90012")
    val doe = o.find(_.getAs[String]("n_number") == "100XY").get
    assert(doe.getAs[String]("owner_name_std") == "JOHN DOE") // collapsed ws
    assert(doe.getAs[String]("zip5") == "00787") // padded
  }

  test("aircraftDecoded joins make/model and decodes codes") {
    val d = registry.aircraftDecoded.collect()
    val b757 = d.find(_.getAs[String]("n_number") == "757AF").get
    assert(b757.getAs[String]("maker") == "BOEING")
    // decoded descriptions carry the reference view's column names
    // (publish.py:166-171): reg_status / airworthiness_class
    assert(b757.getAs[String]("reg_status") == "Valid")
    assert(b757.getAs[String]("airworthiness_class") == "Standard")
    assert(b757.getAs[String]("status_code") == "V")
    val bad = d.find(_.getAs[String]("n_number") == "100XY").get
    assert(bad.getAs[String]("reg_status") == "Revoked by Enforcement")
  }

  test("unknown codes decode to NULL like the reference LEFT JOIN") {
    import org.apache.spark.sql.functions.col
    val d = operators.Relational.decode(
      registry.table("aircraft"), "reg_status",
      Seq("V" -> "Valid"), "reg_status_descr")
    assert(d.filter(col("reg_status") === "E")
      .collect().forall(_.isNullAt(d.columns.indexOf("reg_status_descr"))))
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.get(key)
    spark.conf.set(key, value)
    try body finally spark.conf.set(key, prior)
  }

  /** The join-form decode the literal map lookup replaced, kept as the
    * oracle for its NULL/default semantics. */
  private def decodeByJoin(df: org.apache.spark.sql.DataFrame,
      codeCol: String, mapping: Seq[(String, String)], outCol: String,
      default: Option[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val lookup = mapping.toDF("__code", "__descr")
    df.join(broadcast(lookup), df(codeCol) === col("__code"), "left")
      .withColumn(outCol,
        default.fold(col("__descr"))(d => coalesce(col("__descr"), lit(d))))
      .drop("__code", "__descr")
  }

  for (ansi <- Seq(false, true))
    test(s"decode: unknown/NULL codes, default, duplicates (ANSI $ansi)") {
      import spark.implicits._
      withConf("spark.sql.ansi.enabled", ansi.toString) {
        val codes = Seq(Some("V"), Some("X"), None).toDF("code")
          .withColumn("id", org.apache.spark.sql.functions
            .monotonically_increasing_id())
        val book = Seq("V" -> "Valid", "E" -> "Revoked")
        val plain = operators.Relational.decode(codes, "code", book, "descr")
        assert(plain.columns.toSeq == Seq("code", "id", "descr"))
        assert(plain.orderBy("id").collect().map(r =>
            Option(r.getAs[String]("descr"))).toSeq ==
          Seq(Some("Valid"), None, None))
        val dflt = operators.Relational.decode(codes, "code", book, "descr",
          default = Some("Unknown"))
        assert(dflt.orderBy("id").collect().map(_.getAs[String]("descr"))
          .toSeq == Seq("Valid", "Unknown", "Unknown"))
        // q07's shape over the orders table, with its full code book and
        // with one code left to the default: same groups as the join form
        val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        def q07(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("status_descr").count().orderBy("status_descr")
            .collect().toSeq
        for (q07Book <- Seq("O" -> "Open", "F" -> "Finished", "P" -> "Pending")
            .inits.take(2))
          assert(q07(operators.Relational.decode(orders, "o_orderstatus",
              q07Book, "status_descr", Some("Unknown"))) ==
            q07(decodeByJoin(orders, "o_orderstatus", q07Book, "status_descr",
              Some("Unknown"))))
        // a duplicated code multiplied rows as a join; it is refused now
        val dup = intercept[IllegalArgumentException] {
          operators.Relational.decode(codes, "code",
            book :+ ("V" -> "Valid again"), "descr")
        }
        assert(dup.getMessage.contains("duplicate codes V"))
      }
    }

  test("decoded views keep the reference column names and order") {
    assert(registry.aircraftDecoded.columns.toSeq == Seq("n_number",
      "serial_no", "mfr_mdl_code", "maker", "model", "engine_code",
      "year_mfr", "airworthiness_code", "airworthiness_class", "seats",
      "engines", "status_code", "reg_status", "status_date",
      "reg_expiration", "cert_issue_date", "mode_s_code", "mode_s_code_hex",
      "is_deregistered"))
    assert(registry.ownersClean.columns.toSeq == Seq("n_number",
      "owner_type_code", "owner_type", "owner_name", "address", "city",
      "state", "zip"))
  }

  test("search normalizes the N prefix and enriches with owner") {
    val hit = registry.search("N221LA").collect()
    assert(hit.length == 1)
    assert(hit.head.getAs[String]("owner_name") == "LOS ANGELES POLICE DEPT")
    for (k <- Seq("221la", " n221la ", "221LA"))
      assert(registry.search(k).collect().map(_.getAs[String]("owner_name")).toSeq ==
        Seq("LOS ANGELES POLICE DEPT"), k)
  }

  test("fleet does multi-term OR search with state filter") {
    val lapd = registry.fleet("LAPD|LOS ANGELES POLICE", Some("CA")).collect()
    assert(lapd.length == 1 && lapd.head.getAs[String]("n_number") == "221LA")
    assert(registry.fleet("UNITED").count() == 1)
    assert(registry.fleet("UNITED", Some("CA")).count() == 0)
  }

  test("FTS inverted index finds owners by all-terms match") {
    val hits = registry.searchOwnersFts(Seq("POLICE", "ANGELES")).collect()
    assert(hits.length == 1)
    assert(hits.head.getAs[String]("n_number") == "221LA")
    assert(registry.searchOwnersFts(Seq("POLICE", "CHICAGO")).count() == 0)
  }

  test("materialized FTS index: probe matches lazy form, prunes buckets") {
    registry.writeFtsIndex(numBuckets = 8)
    try {
      // written-index probe returns the same owners as the lazy form
      val written = registry
        .searchOwnersFts(Seq("POLICE", "ANGELES"),
          indexTable = Some(graft.registry.Registry.FtsTable))
        .collect().map(_.getAs[String]("n_number")).toSet
      assert(written == Set("221LA"))
      // with the table present, the default path auto-probes it: the
      // plan scans the bucketed table (no explode/Generate of owners)
      val df = registry.searchOwnersFts(Seq("POLICE"))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Generate"),
        s"expected the written index (no explode) in:\n$plan")
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"expected bucket pruning for the single-term probe in:\n$plan")
      assert(df.collect().map(_.getAs[String]("n_number")).toSet ==
        Set("221LA"))
    } finally
      spark.sql(s"DROP TABLE IF EXISTS ${graft.registry.Registry.FtsTable}")
  }

  test("layout probes never mutate session conf (autoBucketedScan)") {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prior = spark.conf.get(key)
    try {
      // sentinel differing from the engine default: a probe that still
      // carried the old conf.set would flip it back to false
      spark.conf.set(key, "true")
      registry.writeFtsIndex(numBuckets = 4)
      registry.searchOwnersFts(Seq("POLICE")).collect()
      assert(spark.conf.get(key) == "true",
        "FTS probe mutated shared session conf")
    } finally {
      spark.conf.set(key, prior)
      spark.sql(s"DROP TABLE IF EXISTS ${graft.registry.Registry.FtsTable}")
      ()
    }
  }

  test("schema hashes: deterministic, distinct per table, drift-sensitive") {
    import org.apache.spark.sql.types._
    val h = graft.registry.Schemas.allSchemaHashes
    assert(h.keySet == Set("aircraft", "registrations", "owners",
      "aircraft_make_model", "engines"))
    assert(h.values.forall(_.matches("[0-9a-f]{32}")))
    assert(h.values.toSet.size == h.size, "hash collision across tables")
    // deterministic across invocations
    assert(graft.registry.Schemas.allSchemaHashes == h)
    // sensitive to any field change (type, name, order)
    val base = graft.registry.Schemas.engines
    val retyped = StructType(base.fields.map(f =>
      if (f.name == "horsepower") f.copy(dataType = LongType) else f))
    val reordered = StructType(base.fields.reverse)
    assert(graft.registry.Schemas.schemaHash(retyped) !=
      graft.registry.Schemas.schemaHash(base))
    assert(graft.registry.Schemas.schemaHash(reordered) !=
      graft.registry.Schemas.schemaHash(base))
  }

  test("query runs ad-hoc SQL over registered views") {
    val df = registry.query(
      "SELECT maker, count(*) AS n FROM aircraft_decoded GROUP BY maker ORDER BY maker")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("BOEING", 1L), ("CESSNA", 2L)))
  }

  test("ownersSummary rolls up with trust flag") {
    val s = registry.ownersSummary.collect()
    assert(s.length == 3)
    val lapd = s.find(_.getAs[String]("n_number") == "221LA").get
    assert(lapd.getAs[Boolean]("any_trust_flag")) // type 5 = Government
  }

  test("status and schema introspection") {
    assert(registry.status.collect().map(_.getLong(1)).sum == 3 + 3 + 3 + 2 + 2)
    assert(registry.listTables.contains("aircraft_decoded"))
    assert(registry.schemaOf("engines").count() == 6)
  }

  test("freshnessReport folds manifest counts, age and staleness into one table") {
    // isolated publish dir: the shared fixture must stay manifest-free
    // (warnIfStale tests depend on the absent-manifest path)
    val pub = tmpDir("graft_fresh_pub")
    RegistryNormalize.normalize(spark, dirs._1, pub)
    val reg = new Registry(spark, pub)
    // no manifest yet: the report flags it instead of throwing
    val bare = reg.freshnessReport().collect()
    assert(bare.forall(r => r.getAs[Long]("manifest_rows") == -1L &&
      r.getAs[Long]("age_days") == -1L && r.getAs[Long]("stale") == 0L))
    Lineage.writeManifest(spark, pub, Registry.tableNames,
      "2026-08-01")
    val fresh = reg
      .freshnessReport(java.time.LocalDate.parse("2026-08-13"))
      .collect()
      .map(r => r.getAs[String]("table_name") ->
        (r.getAs[Long]("rows_match"), r.getAs[Long]("age_days"),
          r.getAs[Long]("stale"))).toMap
    assert(fresh.keySet == Registry.tableNames.toSet)
    assert(fresh.values.forall(_ == (1L, 12L, 0L)),
      s"expected all matched/12-days/fresh: $fresh")
    val stale = reg
      .freshnessReport(java.time.LocalDate.parse("2026-09-13"))
      .collect()
    assert(stale.forall(r => r.getAs[Long]("stale") == 1L),
      "43-day-old snapshot must flag stale")
  }

  test("a warm search runs no job to build and at most 4 to answer") {
    registry.search("N221LA").collect() // warm-up: resolves the snapshot
    val (df, buildJobs) = jobsIn(registry.search("N221LA"))
    val (rows, execJobs) = jobsIn(df.collect())
    assert(rows.length == 1 &&
      rows.head.getAs[String]("owner_name") == "LOS ANGELES POLICE DEPT")
    assert(buildJobs == 0, s"search built with $buildJobs jobs")
    assert(buildJobs + execJobs <= 4,
      s"search ran $buildJobs + $execJobs jobs")
    registry.status.collect()
    val (_, statusJobs) = jobsIn(registry.status)
    assert(statusJobs == 0, s"status built with $statusJobs jobs")
  }

  test("search broadcasts the key-filtered owners side, never shuffles") {
    // size-based broadcast off: only the explicit hint can avoid a
    // sort-merge join of the owners side
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val df = registry.search("N221LA")
      assert(df.collect().length == 1)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin") && !plan.contains("hashpartitioning"),
        s"expected broadcast joins only in:\n$plan")
    }
  }

  // ---- the keyed layout: a generated MASTER big enough to have pages

  /** A raw snapshot of `Planes` aircraft in a seeded shuffled order,
    * with one stored n_number in lowercase and one with its N prefix,
    * and the small fixture's ACFTREF/ENGINE. */
  private val Planes = 6000
  private def writeGenerated(raw: String): Unit = {
    val header = Files.readString(java.nio.file.Paths.get(s"${dirs._1}/MASTER.txt"))
      .linesIterator.next()
    val ids = new scala.util.Random(7).shuffle(
      Seq("n7001x", "N7002Y") ++ (0 until Planes - 2).map(i => s"${10000 + i}K"))
    val rows = ids.zipWithIndex.map { case (n, i) =>
      s"$n,SN$i,C172,ENG1,${1960 + i % 60},4,V,20240101,20270101,20150601,1," +
        s"5$i,A$i,OWNER $i,${i % 900} MAIN ST,,AUSTIN,TX,78701,${1 + i % 5}"
    }
    Files.writeString(java.nio.file.Paths.get(s"$raw/MASTER.txt"),
      (header +: rows).mkString("", "\n", "\n"))
    for (f <- Seq("ACFTREF.txt", "ENGINE.txt"))
      Files.copy(java.nio.file.Paths.get(s"${dirs._1}/$f"),
        java.nio.file.Paths.get(s"$raw/$f"))
  }

  private lazy val generated = {
    val raw = tmpDir("graft_raw_gen")
    writeGenerated(raw)
    val pub = tmpDir("graft_pub_gen")
    RegistryNormalize.normalize(spark, raw, pub)
    (raw, pub, new Registry(spark, pub))
  }

  /** The file scans of an executed plan, by table directory name. */
  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[(String, org.apache.spark.sql.execution.FileSourceScanExec)] = {
    import org.apache.spark.sql.execution._
    p match {
      case a: adaptive.AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case s: adaptive.QueryStageExec => fileScans(s.plan)
      case r: exchange.ReusedExchangeExec => fileScans(r.child)
      case s: FileSourceScanExec =>
        Seq(s.relation.location.rootPaths.head.getName.stripSuffix(".parquet") -> s)
      case o => o.children.flatMap(fileScans)
    }
  }

  private def partFiles(dir: String): Int =
    new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))

  test("search pushes the lookup key equality into each keyed table's scan") {
    val (_, _, reg) = generated
    val df = reg.search(" n10042k ")
    assert(df.collect().map(_.getAs[String]("n_number")).toSeq == Seq("10042K"))
    val scans = fileScans(df.queryExecution.executedPlan).toMap
    RegistryNormalize.keyedTables.foreach { t =>
      val pushed = scans(t).metadata("PushedFilters")
      assert(pushed.contains(s"EqualTo(${RegistryNormalize.KeyColumn},10042K)"),
        s"$t scan pushed $pushed")
    }
    val plans = Seq(df.queryExecution.optimizedPlan.toString,
      df.queryExecution.executedPlan.toString)
    assert(plans.forall(!_.contains("regexp_replace")),
      s"a key derivation left in the search plan:\n${plans.mkString("\n")}")
  }

  test("a key lookup reads at most one page of each keyed file") {
    val (_, pub, reg) = generated
    for (key <- Seq("N10042K", "15997K", "N9K")) {
      val df = reg.search(key)
      val hit = df.collect().nonEmpty
      val scans = fileScans(df.queryExecution.executedPlan)
        .filter(s => RegistryNormalize.keyedTables(s._1))
      // a miss's empty aircraft side lets AQE drop the join sides' scans
      assert(hit == (key != "N9K"), key)
      assert(scans.map(_._1).sorted == (if (hit) Seq("aircraft", "owners",
        "registrations") else Seq("aircraft")), key)
      scans.foreach { case (t, s) =>
        val read = s.metrics("numOutputRows").value
        val bound = RegistryNormalize.KeyedPageRows.toLong *
          partFiles(s"$pub/$t.parquet")
        assert(read <= bound && read < Planes,
          s"$key: the $t scan read $read rows (bound $bound of $Planes)")
      }
    }
  }

  test("a stored n_number in lowercase or with its N prefix is found by any spelling") {
    val (_, _, reg) = generated
    for ((stored, spellings) <- Seq(
        "n7001x" -> Seq("7001X", "N7001X", " n7001x ", "7001x"),
        "N7002Y" -> Seq("7002Y", "N7002Y", " n7002y "))) {
      spellings.foreach { k =>
        assert(reg.search(k).collect().map(_.getAs[String]("n_number")).toSeq ==
          Seq(stored), k)
      }
    }
  }

  test("a snapshot published without the key column answers the same rows") {
    val (raw, _, reg) = generated
    val legacy = tmpDir("graft_pub_legacy")
    // the pre-key writer: typed tables in arrival order, no key column
    val master = RegistryNormalize.readRaw(spark, s"$raw/MASTER.txt")
    Seq("aircraft" -> RegistryNormalize.aircraft(master),
        "registrations" -> RegistryNormalize.registrations(master),
        "owners" -> RegistryNormalize.owners(master),
        "aircraft_make_model" -> reg.table("aircraft_make_model"),
        "engines" -> reg.table("engines"))
      .foreach { case (t, df) => df.write.parquet(s"$legacy/$t.parquet") }
    val old = new Registry(spark, legacy)
    assert(!spark.read.parquet(s"$legacy/aircraft.parquet").columns
      .contains(RegistryNormalize.KeyColumn))
    def rows(r: Registry, k: String) =
      r.search(k).collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    for (k <- Seq("N10042K", " n7001x ", "7002Y", "N9K")) {
      val want = rows(reg, k)
      assert(rows(old, k) == want, k)
      assert(want.nonEmpty || k == "N9K", k)
    }
    Registry.tableNames.foreach(t =>
      assert(old.table(t).columns.toSeq == reg.table(t).columns.toSeq, t))
  }

  test("normalizeIncremental publishes the keyed, sorted layout") {
    import org.apache.spark.sql.functions.col
    val raw = tmpDir("graft_raw_gen_inc")
    writeGenerated(raw)
    val pub = tmpDir("graft_pub_gen_inc")
    RegistryNormalize.normalizeIncremental(spark, raw, pub)
    val master = java.nio.file.Paths.get(s"$raw/MASTER.txt")
    Files.writeString(master, Files.readString(master) +
      "N8000Q,SN8,C172,ENG1,2001,4,V,20240101,20270101,20150601,1,58,A8,NEW OWNER,1 ELM ST,,AUSTIN,TX,78701,1\n")
    assert(RegistryNormalize.normalizeIncremental(spark, raw, pub) ==
      RegistryNormalize.keyedTables.toSeq.sorted)
    RegistryNormalize.keyedTables.foreach { t =>
      val dir = s"$pub/$t.parquet"
      val df = spark.read.parquet(dir)
      assert(df.count() == Planes + 1, t)
      assert(df.filter(!(col(RegistryNormalize.KeyColumn) <=>
        graft.functions.Normalize.normalizeKey(col("n_number")))).isEmpty,
        s"$t: a stored key differs from the n_number's")
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          val keys = spark.read.parquet(f.getPath)
            .select(RegistryNormalize.KeyColumn).collect().map(_.getString(0)).toSeq
          assert(keys == keys.sorted, s"$t: ${f.getName} is not sorted by key")
        }
    }
    val reg = new Registry(spark, pub)
    assert(reg.search("8000q").collect().map(_.getAs[String]("n_number")).toSeq ==
      Seq("N8000Q"))
  }

  test("published tables and their schemas show the Schemas columns only") {
    import graft.registry.Schemas
    val want = Map("aircraft" -> Schemas.aircraft,
      "registrations" -> Schemas.registrations, "owners" -> Schemas.owners,
      "aircraft_make_model" -> Schemas.aircraftMakeModel,
      "engines" -> Schemas.engines)
    assert(want.keySet == Registry.tableNames.toSet)
    for (reg <- Seq(registry, generated._3); (t, schema) <- want) {
      assert(reg.table(t).columns.toSeq == schema.fieldNames.toSeq, t)
      assert(reg.schemaOf(t).collect().map(_.getString(0)).toSeq ==
        schema.fieldNames.toSeq, t)
    }
    assert(spark.read.parquet(s"${generated._2}/owners.parquet").columns
      .contains(RegistryNormalize.KeyColumn))
  }

  test("a live Registry sees a table rewritten under it, reuses the rest") {
    val (raw0, _) = dirs
    val raw = tmpDir("graft_raw_fresh")
    for (f <- Seq("MASTER.txt", "ACFTREF.txt", "ENGINE.txt"))
      Files.copy(java.nio.file.Paths.get(s"$raw0/$f"),
        java.nio.file.Paths.get(s"$raw/$f"))
    val pub = tmpDir("graft_pub_fresh")
    RegistryNormalize.normalizeIncremental(spark, raw, pub)
    val reg = new Registry(spark, pub)
    def counts = reg.status.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val engines0 = counts("engines")
    assert(reg.search("N221LA").count() == 1)
    val (aircraft, engines, decoded) =
      (reg.table("aircraft"), reg.table("engines"), reg.aircraftDecoded)
    // no rewrite: the same resolved frames come back
    assert(reg.table("aircraft") eq aircraft)
    assert(reg.table("engines") eq engines)
    assert(reg.aircraftDecoded eq decoded)
    val enginePath = java.nio.file.Paths.get(s"$raw/ENGINE.txt")
    Files.writeString(enginePath,
      Files.readString(enginePath) + "ENG9,GE,CF6,5,0,50000\n")
    assert(RegistryNormalize.normalizeIncremental(spark, raw, pub) ==
      Seq("engines"))
    // same instance: the rewritten table is re-read, the others reused
    assert(counts("engines") == engines0 + 1)
    assert(reg.schemaOf("engines").count() == 6)
    assert(reg.table("engines") ne engines)
    assert(reg.table("aircraft") eq aircraft)
    assert(reg.aircraftDecoded eq decoded)
    assert(reg.search("N221LA").count() == 1)
  }

  test("normalizeIncremental refreshes only tables whose raw source changed") {
    val (raw, _) = dirs
    val pub2 = tmpDir("graft_pub_inc")
    // cold start: no checksum record — everything refreshes
    val first = RegistryNormalize.normalizeIncremental(spark, raw, pub2)
    assert(first.toSet == RegistryNormalize.tableSources.keySet)
    // unchanged inputs: nothing refreshes
    assert(RegistryNormalize.normalizeIncremental(spark, raw, pub2).isEmpty)
    // touch only the engine dump → exactly the engines table refreshes
    val enginePath = java.nio.file.Paths.get(s"$raw/ENGINE.txt")
    Files.writeString(enginePath,
      Files.readString(enginePath) + "ENG3,GE,CF6,5,0,50000\n")
    val marker = new java.io.File(s"$pub2/aircraft.parquet").lastModified()
    assert(RegistryNormalize.normalizeIncremental(spark, raw, pub2) ==
      Seq("engines"))
    assert(new java.io.File(s"$pub2/aircraft.parquet").lastModified() ==
      marker, "untouched table was rewritten")
    assert(spark.read.parquet(s"$pub2/engines.parquet").count() == 3)
    // and the record advanced: a repeat run is again a no-op
    assert(RegistryNormalize.normalizeIncremental(spark, raw, pub2).isEmpty)
  }

  test("normalizeIncremental fails fast when a raw dump disappears") {
    val (raw, _) = dirs
    // copy the raw snapshot so we can delete from it safely
    val raw2 = tmpDir("graft_raw_del")
    for (f <- Seq("MASTER.txt", "ACFTREF.txt", "ENGINE.txt"))
      Files.copy(java.nio.file.Paths.get(s"$raw/$f"),
        java.nio.file.Paths.get(s"$raw2/$f"))
    val pub3 = tmpDir("graft_pub_del")
    assert(RegistryNormalize.normalizeIncremental(spark, raw2, pub3).nonEmpty)
    Files.delete(java.nio.file.Paths.get(s"$raw2/ENGINE.txt"))
    val ex = intercept[IllegalStateException] {
      RegistryNormalize.normalizeIncremental(spark, raw2, pub3)
    }
    // names both the missing dump and the table that would go stale
    assert(ex.getMessage.contains("ENGINE.txt"))
    assert(ex.getMessage.contains("engines"))
    // the checksum record was NOT rewritten: restoring the dump and
    // re-running refreshes nothing (content unchanged) but succeeds
    Files.copy(java.nio.file.Paths.get(s"$raw/ENGINE.txt"),
      java.nio.file.Paths.get(s"$raw2/ENGINE.txt"))
    assert(RegistryNormalize.normalizeIncremental(spark, raw2, pub3).isEmpty)
  }
}
