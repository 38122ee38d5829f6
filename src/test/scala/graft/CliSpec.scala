package graft

import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** End-to-end CLI + ingest: a zipped FAA-shaped snapshot goes through
  * `update` (unzip → normalize → manifest), then every query
  * subcommand runs against the published tables, with the staleness
  * warning surfacing through the injectable sink. */
class CliSpec extends SparkSuite with SuiteTempDirs {

  protected val rootName = "graft_cli_spec"

  private def writeZip(dest: String, files: Map[String, String]): Unit = {
    val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(dest)))
    try files.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }

  private val master =
    """N-NUMBER ,SERIAL NUMBER,MFR MDL CODE,ENG MFR MDL,YEAR MFR,TYPE AIRCRAFT,STATUS CODE,LAST ACTION DATE,EXPIRATION DATE,CERT ISSUE DATE,CERTIFICATION,MODE S CODE,MODE S CODE HEX,NAME,STREET,STREET2,CITY,STATE,ZIP CODE,TYPE REGISTRANT
      |221LA,SN001,C172,ENG1,2015,4,V,20240101,20270101,20150601,1,50000001,A00001,LOS ANGELES POLICE DEPT ,100 W 1ST ST,,LOS ANGELES,CA,90012,5
      |757AF,SN002,B757,ENG2,1995,1,V,20230315,20260315,19950815,1,50000002,A00002,UNITED AIRLINES INC,233 S WACKER DR,,CHICAGO,IL,60606,3
      |""".stripMargin
  private val acftref =
    """CODE,MFR,MODEL,TYPE-ACFT,TYPE-ENG,AC-CAT,BUILD-CERT-IND,NO-ENG,NO-SEATS,AC-WEIGHT,SPEED
      |C172,CESSNA,172S,4,1,1,0,1,4,CLASS 1,120
      |B757,BOEING,757-200,5,5,1,0,2,200,CLASS 3,500
      |""".stripMargin
  private val engine =
    """CODE,MFR,MODEL,TYPE,HORSEPOWER,THRUST
      |ENG1,LYCOMING,IO-360,1,180,0
      |""".stripMargin

  private lazy val dataRoot = {
    val root = tmpDir("graft_cli")
    val zip = s"$root/snapshot.zip"
    writeZip(zip, Map(
      "MASTER.txt" -> master, "ACFTREF.txt" -> acftref,
      "ENGINE.txt" -> engine))
    // old snapshot date on purpose: staleness must trip
    val out = Cli.run(spark, root, Seq("update", zip, "2020-01-01"),
      _ => ())
    assert(out.isEmpty)
    root
  }

  test("update unpacks the zip, normalizes, and writes the manifest") {
    val pub = s"$dataRoot/publish"
    assert(Files.exists(Paths.get(s"$dataRoot/raw/2020-01-01/MASTER.txt")))
    assert(Files.exists(Paths.get(s"$pub/aircraft.parquet")))
    val manifest = Files.readString(Paths.get(s"$pub/_meta/manifest.json"))
    assert(manifest.contains("\"snapshot_date\": \"2020-01-01\""))
    assert(manifest.contains("\"tables\": {\"aircraft\": {\"sha256\""))
    assert(manifest.contains("\"aircraft\": 2"))
  }

  test("zip-slip entries are rejected") {
    val zip = s"${tmpDir("graft_slip")}/evil.zip"
    writeZip(zip, Map("../escape.txt" -> "nope"))
    val err = intercept[IllegalArgumentException] {
      graft.registry.Ingest.unzip(zip,
        tmpDir("graft_slip_out"))
    }
    assert(err.getMessage.contains("escapes"))
  }

  test("search finds the aircraft through the CLI") {
    val rows = Cli.run(spark, dataRoot, Seq("search", "N221LA"), _ => ())
      .get.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("owner_name") == "LOS ANGELES POLICE DEPT")
  }

  test("fetch verifies the checksum then ingests like update") {
    val root = tmpDir("graft_cli_fetch")
    val zip = s"$root/snapshot.zip"
    writeZip(zip, Map(
      "MASTER.txt" -> master, "ACFTREF.txt" -> acftref,
      "ENGINE.txt" -> engine))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(Files.readAllBytes(java.nio.file.Paths.get(zip)))
      .map("%02x".format(_)).mkString
    var msgs = List.empty[String]
    Cli.run(spark, root,
      Seq("fetch", zip, "2026-01-01", "--sha256", hex), msgs ::= _)
    assert(msgs.exists(_.contains("fetch complete")))
    assert(Cli.run(spark, root, Seq("search", "N221LA"), _ => ())
      .get.count() == 1)
    // wrong checksum refuses before touching anything
    val bad = intercept[IllegalArgumentException] {
      Cli.run(spark, root,
        Seq("fetch", zip, "--sha256", "00" * 32), _ => ())
    }
    assert(bad.getMessage.contains("checksum mismatch"))
  }

  test("fetch downloads a file:// URL end-to-end (retry path wired)") {
    val root = tmpDir("graft_cli_url")
    val zip = s"$root/src/snapshot.zip"
    new java.io.File(s"$root/src").mkdirs()
    writeZip(zip, Map(
      "MASTER.txt" -> master, "ACFTREF.txt" -> acftref,
      "ENGINE.txt" -> engine))
    var msgs = List.empty[String]
    Cli.run(spark, root,
      Seq("fetch", s"file://$zip", "2026-02-02"), msgs ::= _)
    assert(msgs.exists(_.contains("downloaded")), msgs.toString)
    assert(msgs.exists(_.contains("fetch complete")), msgs.toString)
    // the artifact landed under dataRoot/downloads
    assert(new java.io.File(s"$root/downloads/snapshot.zip").exists())
  }

  test("HttpIngest retries with backoff, checksum mismatch is retryable") {
    val dir = tmpDir("graft_httpingest")
    val payload = "payload-bytes".getBytes("UTF-8")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val goodHex = md.digest(payload).map("%02x".format(_)).mkString
    // transport fails twice, then succeeds; sleeper records backoffs
    var calls = 0
    var sleeps = List.empty[Long]
    val flaky: String => java.io.InputStream = { _ =>
      calls += 1
      if (calls <= 2) throw new java.io.IOException(s"boom $calls")
      new java.io.ByteArrayInputStream(payload)
    }
    val got = graft.registry.HttpIngest.download(
      "https://example.invalid/a.zip", s"$dir/a.zip",
      maxAttempts = 3, expectedSha256 = Some(goodHex),
      sleeper = sleeps ::= _, transport = flaky)
    assert(got.attempts == 3)
    assert(got.bytes == payload.length.toLong)
    assert(got.sha256 == goodHex)
    assert(sleeps.reverse == List(500L, 1000L), s"backoffs: $sleeps")
    // a wrong checksum exhausts the retries (each attempt re-downloads
    // — a corrupt artifact is retryable per the reference's contract)
    // and deletes the partial artifact
    var n2 = 0
    val always: String => java.io.InputStream = { _ =>
      n2 += 1; new java.io.ByteArrayInputStream(payload)
    }
    val err = intercept[java.io.IOException] {
      graft.registry.HttpIngest.download(
        "https://example.invalid/b.zip", s"$dir/b.zip",
        maxAttempts = 3, expectedSha256 = Some("00" * 32),
        sleeper = _ => (), transport = always)
    }
    assert(err.getMessage.contains("failed after 3 attempts"))
    assert(err.getCause.getMessage.contains("checksum mismatch"))
    assert(n2 == 3)
    assert(!new java.io.File(s"$dir/b.zip").exists(),
      "partial artifact must be deleted on failure")
    // an unreachable host surfaces the out-of-band fallback via Cli
    val url = intercept[IllegalArgumentException] {
      Cli.run(spark, dir,
        Seq("fetch", "https://example.invalid/x.zip"), _ => ())
    }
    assert(url.getMessage.contains("out of band"))
  }

  test("sql passthrough is read-only: commands refused, selects fine") {
    val err = intercept[IllegalArgumentException] {
      Cli.run(spark, dataRoot,
        Seq("sql", "DROP TABLE aircraft"), _ => ())
    }
    assert(err.getMessage.contains("read-only"))
    intercept[IllegalArgumentException] {
      Cli.run(spark, dataRoot,
        Seq("sql", "CREATE TABLE t AS SELECT 1 AS x"), _ => ())
    }
    assert(Cli.run(spark, dataRoot,
      Seq("sql", "SELECT count(*) AS n FROM aircraft"), _ => ())
      .get.head.getLong(0) == 2)
  }

  test("formatTable renders nulls empty, dates human, and caps rows") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("x"), Option(java.sql.Date.valueOf("2020-03-05"))),
      (2L, None, None))
      .toDF("id", "s", "d")
    val out = Cli.formatTable(df.orderBy("id"))
    val lines = out.linesIterator.toSeq
    assert(lines.head.matches("id\\s+s\\s+d"))
    assert(lines.exists(_.contains("Mar 05, 2020")))
    // the null row renders as just the id (empty cells, no 'null')
    assert(lines.exists(l => l.trim == "2"), out)
    assert(lines.last == "2 rows")
    val many = (1 to 150).map(i => (i, s"v$i")).toDF("a", "b")
    assert(Cli.formatTable(many).linesIterator.toSeq.last ==
      "showing first 100 rows (more exist)")
  }

  test("formatTable executes the query once (single take, no count)") {
    import spark.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // a shuffle-bearing query: a second execution (the old df.count()
    // prelude) would show up as extra jobs here
    val df = (1 to 50).map(i => (i % 5, i)).toDF("k", "v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
    df.collect() // warm: file listing / codegen out of the way
    spark.sparkContext.addSparkListener(listener)
    try {
      Cli.formatTable(df)
      Thread.sleep(1000) // listener bus is async; let events drain
      // take(n) may launch 1..few jobs as it scales partitions, but a
      // count()+take() pair doubles it; pin to the observed single pass
      assert(jobs.get() <= 2, s"formatTable launched ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("index-fts materializes the index and fts probes it") {
    var msgs = List.empty[String]
    assert(Cli.run(spark, dataRoot, Seq("index-fts"), msgs ::= _).isEmpty)
    assert(msgs.exists(_.contains(graft.registry.Registry.FtsTable)))
    try {
      val df = Cli.run(spark, dataRoot,
        Seq("fts", "POLICE", "ANGELES"), _ => ()).get
      // the search really reads the written layout, not a re-explode
      assert(!df.queryExecution.executedPlan.toString.contains("Generate"))
      val rows = df.collect()
      assert(rows.length == 1 &&
        rows.head.getAs[String]("owner_name_std") == "LOS ANGELES POLICE DEPT")
      assert(Cli.run(spark, dataRoot,
        Seq("fts", "POLICE", "CHICAGO"), _ => ()).get.count() == 0)
    } finally
      spark.sql(s"DROP TABLE IF EXISTS ${graft.registry.Registry.FtsTable}")
  }

  test("publish materializes the derived views and the FTS index") {
    var msgs = List.empty[String]
    try {
      val rows = Cli.run(spark, dataRoot, Seq("publish"), msgs ::= _)
        .get.collect()
      assert(msgs.exists(_.startsWith("publish complete")))
      val counts = rows.map(r =>
        r.getAs[String]("artifact") -> r.getAs[Long]("n_rows")).toMap
      // every artifact of the reference's publish stage is reported
      assert(counts.keySet == Set("aircraft_decoded", "owners_clean",
        "owners_summary", graft.registry.Registry.FtsTable))
      // the written views hold the lazy views' exact row counts, and
      // the parquet really landed beside the base tables
      val reg = new graft.registry.Registry(
        spark, s"$dataRoot/publish", _ => ())
      for ((n, df) <- Seq("aircraft_decoded" -> reg.aircraftDecoded,
          "owners_clean" -> reg.ownersClean,
          "owners_summary" -> reg.ownersSummary)) {
        assert(Files.exists(
          Paths.get(s"$dataRoot/publish/views/$n.parquet")), n)
        val written = spark.read
          .parquet(s"$dataRoot/publish/views/$n.parquet")
        assert(counts(n) == df.count(), n)
        assert(written.columns.toSeq == df.columns.toSeq, n)
      }
      // the FTS layout is live: the probe answers from the table
      assert(Cli.run(spark, dataRoot,
        Seq("fts", "POLICE", "ANGELES"), _ => ()).get.count() == 1)
    } finally
      spark.sql(s"DROP TABLE IF EXISTS ${graft.registry.Registry.FtsTable}")
  }

  test("fts --ranked orders by tf-idf relevance, keeps AND semantics") {
    val root = tmpDir("graft_cli_rank")
    val zip = s"$root/snapshot.zip"
    val rankMaster =
      """N-NUMBER ,SERIAL NUMBER,MFR MDL CODE,ENG MFR MDL,YEAR MFR,TYPE AIRCRAFT,STATUS CODE,LAST ACTION DATE,EXPIRATION DATE,CERT ISSUE DATE,CERTIFICATION,MODE S CODE,MODE S CODE HEX,NAME,STREET,STREET2,CITY,STATE,ZIP CODE,TYPE REGISTRANT
        |111AA,SN101,C172,ENG1,2010,4,V,20240101,20270101,20100601,1,50000003,A00003,ACME ACME HOLDINGS,1 MAIN ST,,SPRINGFIELD,IL,62701,3
        |222BB,SN102,C172,ENG1,2012,4,V,20240101,20270101,20120601,1,50000004,A00004,ACME SUPPLY,2 OAK AVE,,PORTLAND,OR,97201,3
        |333CC,SN103,B757,ENG1,2001,1,V,20240101,20270101,20010601,1,50000005,A00005,ZENITH CORP,3 ELM RD,,DENVER,CO,80201,3
        |""".stripMargin
    writeZip(zip, Map(
      "MASTER.txt" -> rankMaster, "ACFTREF.txt" -> acftref,
      "ENGINE.txt" -> engine))
    Cli.run(spark, root, Seq("update", zip, "2026-01-01"), _ => ())
    val ranked = Cli.run(spark, root,
      Seq("fts", "--ranked", "ACME"), _ => ()).get.collect()
    // both ACME owners match; the double-ACME name outranks on tf
    assert(ranked.length == 2, ranked.mkString("; "))
    assert(ranked.head.getAs[String]("owner_name_std")
      == "ACME ACME HOLDINGS")
    val scores = ranked.map(_.getAs[Double]("score"))
    assert(scores(0) > scores(1) && scores(1) > 0.0,
      s"scores not strictly ranked: ${scores.toSeq}")
    // AND semantics retained: both terms must match
    val and = Cli.run(spark, root,
      Seq("fts", "--ranked", "ACME", "SUPPLY"), _ => ()).get.collect()
    assert(and.length == 1 &&
      and.head.getAs[String]("owner_name_std") == "ACME SUPPLY")
  }

  test("fleet honors --state and --limit flags") {
    val ca = Cli.run(spark, dataRoot,
      Seq("fleet", "POLICE|UNITED", "--state", "CA"), _ => ()).get.collect()
    assert(ca.length == 1 && ca.head.getAs[String]("n_number") == "221LA")
    val lim = Cli.run(spark, dataRoot,
      Seq("fleet", "POLICE|UNITED", "--limit", "1"), _ => ()).get
    assert(lim.count() == 1)
  }

  test("diff reports added/removed/changed vs another snapshot root") {
    val root2 = tmpDir("graft_cli2")
    val zip2 = s"$root2/snapshot.zip"
    // vs dataRoot: 221LA's year changes (an aircraft-table column),
    // 757AF is missing, 999ZZ is new
    val master2 = master
      .replace("221LA,SN001,C172,ENG1,2015", "221LA,SN001,C172,ENG1,2016")
      .linesIterator.filterNot(_.startsWith("757AF")).mkString("\n") +
      "\n999ZZ,SN003,C172,ENG1,2020,4,V,20240601,20270601,20200601,1," +
      "50000003,A00003,SKY LEASING LLC,1 MAIN ST,,RENO,NV,89501,3\n"
    writeZip(zip2, Map("MASTER.txt" -> master2, "ACFTREF.txt" -> acftref,
      "ENGINE.txt" -> engine))
    Cli.run(spark, root2, Seq("update", zip2, "2021-01-01"), _ => ())
    val d = Cli.run(spark, dataRoot, Seq("diff", root2), _ => ())
      .get.collect()
      .map(r => r.getAs[String]("n_number") ->
        (r.getAs[String]("change_type"), r.getAs[String]("changed_cols")))
      .toMap
    assert(d.keySet == Set("221LA", "757AF", "999ZZ"), s"got $d")
    assert(d("757AF")._1 == "added", s"757AF exists only in ours: $d")
    assert(d("999ZZ")._1 == "removed", s"999ZZ exists only in theirs: $d")
    assert(d("221LA")._1 == "changed" && d("221LA")._2.nonEmpty,
      s"221LA moved city, changed_cols must say which: $d")
  }

  test("audit runs the registry quality gate and flags the broken ref") {
    val rows = Cli.run(spark, dataRoot, Seq("audit"), _ => ())
      .get.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    // fixture: 757AF references ENG2, which ENGINE.txt doesn't carry
    assert(rows("aircraft_engine_referential") == (1L, "fail"), s"$rows")
    assert(rows("aircraft_n_number_unique") == (0L, "pass"))
    assert(rows("owners_n_number_referential") == (0L, "pass"))
    assert(rows("aircraft_make_model_referential") == (0L, "pass"))
  }

  test("malformed fleet flags are usage errors, not silent drops") {
    for (bad <- Seq(
        Seq("fleet", "POLICE", "--limit", "abc"),   // non-numeric
        Seq("fleet", "POLICE", "--state"),          // value missing
        Seq("fleet", "POLICE", "--state", "--limit", "5"), // flag as value
        Seq("fleet", "POLICE", "--bogus", "x")))    // unknown flag
      assert(intercept[IllegalArgumentException] {
        Cli.run(spark, dataRoot, bad, _ => ())
      }.getMessage.contains("usage"), s"expected usage error for $bad")
  }

  test("sql runs over registered views") {
    val df = Cli.run(spark, dataRoot, Seq("sql",
      "SELECT count(*) AS n FROM aircraft_decoded"), _ => ()).get
    assert(df.head.getLong(0) == 2)
  }

  test("status reports age, staleness and row counts") {
    val rows = Cli.run(spark, dataRoot, Seq("status"), _ => ())
      .get.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("staleness").startsWith("STALE"))
    assert(rows("snapshot_age_days").toLong > 30)
    assert(rows("rows.aircraft") == "2")
  }

  test("query commands surface the staleness warning (api parity)") {
    var warned = List.empty[String]
    Cli.run(spark, dataRoot, Seq("search", "N221LA"), w => warned ::= w)
      .get.collect()
    assert(warned.exists(_.contains("days old")), s"warnings: $warned")
    // tables/schema are metadata, not data queries: no warning
    warned = Nil
    Cli.run(spark, dataRoot, Seq("tables"), w => warned ::= w).get.collect()
    assert(warned.isEmpty)
  }

  test("normalize works on an already-unpacked raw dir") {
    val root = tmpDir("graft_cli_norm")
    val raw = s"$root/rawdir"
    Files.createDirectories(Paths.get(raw))
    Files.writeString(Paths.get(s"$raw/MASTER.txt"), master)
    Files.writeString(Paths.get(s"$raw/ACFTREF.txt"), acftref)
    Files.writeString(Paths.get(s"$raw/ENGINE.txt"), engine)
    Cli.run(spark, root, Seq("normalize", raw, "2026-08-01"), _ => ())
    val manifest = Files.readString(
      Paths.get(s"$root/publish/_meta/manifest.json"))
    assert(manifest.contains("\"snapshot_date\": \"2026-08-01\""))
    assert(Cli.run(spark, root, Seq("sql",
      "SELECT count(*) FROM aircraft"), _ => ()).get.head.getLong(0) == 2)
  }

  test("refresh re-normalizes only changed dumps through the CLI") {
    val root = tmpDir("graft_cli_refresh")
    val raw = s"$root/rawdir"
    Files.createDirectories(Paths.get(raw))
    Files.writeString(Paths.get(s"$raw/MASTER.txt"), master)
    Files.writeString(Paths.get(s"$raw/ACFTREF.txt"), acftref)
    Files.writeString(Paths.get(s"$raw/ENGINE.txt"), engine)
    val first = Cli.run(spark, root, Seq("refresh", raw), _ => ())
      .get.collect().map(_.getString(0)).toSet
    assert(first == graft.registry.RegistryNormalize.tableSources.keySet)
    val second = Cli.run(spark, root, Seq("refresh", raw), _ => ())
      .get.collect().map(r => (r.getString(0), r.getString(1)))
    assert(second.toSeq == Seq("(none)" -> "current"))
    Files.writeString(Paths.get(s"$raw/ENGINE.txt"),
      engine + "ENG9,GE,CF6,5,0,50000\n")
    val third = Cli.run(spark, root, Seq("refresh", raw), _ => ())
      .get.collect().map(_.getString(0)).toSet
    assert(third == Set("engines"))
  }

  test("version reports components") {
    val rows = Cli.run(spark, dataRoot, Seq("version"), _ => ())
      .get.collect().map(_.getString(0)).toSet
    assert(rows == Set("graft", "spark"))
  }

  test("unknown commands fail with usage") {
    val e = intercept[IllegalArgumentException] {
      Cli.run(spark, dataRoot, Seq("frobnicate"), _ => ())
    }
    assert(e.getMessage.contains("usage"))
  }

  test("sql -i rewrites LIKE to ILIKE (cli.py:185-210 parity)") {
    // lower-case pattern against upper-cased stored names: only the
    // case-insensitive run matches
    val strict = Cli.run(spark, dataRoot, Seq("sql",
      "SELECT count(*) AS n FROM owners WHERE owner_name_std LIKE '%united%'"),
      _ => ()).get.head.getLong(0)
    assert(strict == 0L)
    var messages = List.empty[String]
    val loose = Cli.run(spark, dataRoot, Seq("sql",
      "SELECT count(*) AS n FROM owners WHERE owner_name_std LIKE '%united%'",
      "-i"), messages ::= _).get.head.getLong(0)
    assert(loose == 1L)
    assert(messages.exists(_.contains("ILIKE")))
    // NOT LIKE inherits the rewrite; identifiers containing "like"
    // as a substring are untouched (word boundary)
    val notLike = Cli.run(spark, dataRoot, Seq("sql",
      "SELECT count(*) AS n FROM owners WHERE owner_name_std NOT like '%united%'",
      "--case-insensitive"), _ => ()).get.head.getLong(0)
    assert(notLike == Cli.run(spark, dataRoot, Seq("sql",
      "SELECT count(*) AS n FROM owners", "-i"), _ => ())
      .get.head.getLong(0) - 1)
  }

  test("--skip-age-check strips the flag and filters only staleness warnings") {
    val (skip, rest) = Cli.parseSkipAgeCheck(
      Seq("sql", "SELECT 1", "--skip-age-check"))
    assert(skip && rest == Seq("sql", "SELECT 1"))
    val (noSkip, same) = Cli.parseSkipAgeCheck(Seq("status"))
    assert(!noSkip && same == Seq("status"))
    // the dataRoot fixture is stale by construction (2020 snapshot):
    // a query command with the default sink surfaces the warning
    var messages = List.empty[String]
    Cli.run(spark, dataRoot,
      Seq("sql", "SELECT count(*) AS n FROM aircraft"), messages ::= _)
    assert(messages.exists(_.startsWith("WARNING: registry data is")),
      s"fixture no longer stale? $messages")
  }

  test("--format json renders records; csv renders RFC-4180 rows (cli.py parity)") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("plain"), Option(2.5)),
      (2L, Option("with,comma \"quoted\""), None),
      (3L, None: Option[String], Option(0.0)))
      .toDF("id", "s", "v")
    // csv: header + minimal quoting + empty nulls
    val csv = Cli.formatCsv(df)
    val lines = csv.split("\n").toSeq
    assert(lines.head == "id,s,v")
    assert(lines(1) == "1,plain,2.5")
    assert(lines(2) == "2,\"with,comma \"\"quoted\"\"\",")
    assert(lines(3) == "3,,0.0")
    // json: records array, numbers unquoted, null literal, escaping
    val json = Cli.formatJson(df)
    assert(json.startsWith("[") && json.endsWith("]"))
    assert(json.contains("\"id\": 1"))
    assert(json.contains("\"s\": \"with,comma \\\"quoted\\\"\""))
    assert(json.contains("\"s\": null"))
    assert(json.contains("\"v\": 2.5"))
    // the --format flag reaches the renderer from anywhere in argv
    val (fmt, rest) = Cli.parseFormat(
      Seq("sql", "SELECT 1 AS x", "--format", "json"))
    assert(fmt == "json" && rest == Seq("sql", "SELECT 1 AS x"))
    val e = intercept[IllegalArgumentException] {
      Cli.render(df, "xml")
    }
    assert(e.getMessage.contains("unknown format"))
    // empty frame still renders valid json/csv
    assert(Cli.formatJson(df.filter($"id" < 0)) == "[]")
    assert(Cli.formatCsv(df.filter($"id" < 0)) == "id,s,v\n")
  }

  test("fleet --export writes the result CSV with the N prefix (cli.py:655-660)") {
    val out = Paths.get(tmpDir("graft_cli_export"))
      .resolve("fleet.csv").toString
    var messages = List.empty[String]
    val df = Cli.run(spark, dataRoot,
      Seq("fleet", "POLICE|UNITED", "--export", out),
      messages ::= _).get
    assert(messages.exists(_.contains("exported")), s"messages: $messages")
    val content = new String(Files.readAllBytes(Paths.get(out)), "UTF-8")
    val lines = content.split("\n").toSeq
    // header carries the fleet columns; every data row re-prefixes
    // the registration N the normalizer strips
    assert(lines.head.startsWith("n_number,"))
    assert(lines.tail.forall(_.startsWith("N")), s"rows: ${lines.tail}")
    assert(lines.length - 1 == df.count(),
      "export row count diverges from the result frame")
    assert(lines.exists(_.startsWith("N221LA,")))
    // the returned frame itself is unprefixed (display parity with
    // the non-export path)
    assert(df.collect().map(_.getAs[String]("n_number")).toSet
      .contains("221LA"))
  }

  test("dataRoot falls back to GRAFT_DATA_DIR / ~/.graft/data " +
      "(config.py:10-25 parity)") {
    // main recognizes a leading known command as an omitted dataRoot
    assert(Cli.Commands("status") && Cli.Commands("fts") &&
      !Cli.Commands("/some/path"))
    assert(Cli.defaultDataRoot(Map("GRAFT_DATA_DIR" -> "/tmp/x")) ==
      "/tmp/x")
    assert(Cli.defaultDataRoot(Map.empty) ==
      s"${sys.props("user.home")}/.graft/data")
  }

  test("fetch sanitizes URL-derived download names") {
    // a URL whose last segment is empty/dot/traversal must not
    // resolve outside downloads/ or produce an empty dest — the
    // download itself fails fast here (zero egress), but the failure
    // must be the download, not a path error; exercise the pure
    // sanitizer via a file:// URL with a traversal-looking name
    val weird = tmpDir("graft_cli_fetch")
    val msg = intercept[IllegalArgumentException] {
      Cli.run(spark, weird,
        Seq("fetch", "http://host.invalid/a/..?q=1"), _ => ())
    }.getMessage
    assert(msg.contains("download failed"),
      s"expected a download failure, not a path error: $msg")
  }
}
