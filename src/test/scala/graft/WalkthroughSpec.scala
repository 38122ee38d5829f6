package graft

import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Executes docs/WALKTHROUGH.md's command sequence end-to-end — the
  * worked example the reference ships as
  * examples/lapd_fleet_analysis.ipynb, pinned so the document cannot
  * rot: every step the walkthrough tells a new user to run is run
  * here, in the documented order, against a fresh data root and the
  * sf0.001 testdata. */
class WalkthroughSpec extends SparkSuite with SuiteTempDirs {
  protected val rootName = "graft_walkthrough_spec"

  private def writeZip(dest: String, files: Map[String, String]): Unit = {
    val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(dest)))
    try files.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }

  // the notebook's cast: an LAPD helicopter and a comparison airline
  private val master =
    """N-NUMBER ,SERIAL NUMBER,MFR MDL CODE,ENG MFR MDL,YEAR MFR,TYPE AIRCRAFT,STATUS CODE,LAST ACTION DATE,EXPIRATION DATE,CERT ISSUE DATE,CERTIFICATION,MODE S CODE,MODE S CODE HEX,NAME,STREET,STREET2,CITY,STATE,ZIP CODE,TYPE REGISTRANT
      |221LA,SN001,C172,ENG1,2015,4,V,20240101,20270101,20150601,1,50000001,A00001,LOS ANGELES POLICE DEPT ,100 W 1ST ST,,LOS ANGELES,CA,90012,5
      |757AF,SN002,B757,ENG1,1995,1,V,20230315,20260315,19950815,1,50000002,A00002,UNITED AIRLINES INC,233 S WACKER DR,,CHICAGO,IL,60606,3
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

  test("the walkthrough runs end to end as documented") {
    val root = tmpDir("walk")
    val zip = s"$root/snapshot.zip"
    writeZip(zip, Map("MASTER.txt" -> master, "ACFTREF.txt" -> acftref,
      "ENGINE.txt" -> engine))
    def cli(args: String*): Option[org.apache.spark.sql.DataFrame] =
      Cli.run(spark, root, args, _ => ())

    // §1 ingest: update <zip> <date>
    val today = java.time.LocalDate.now.toString
    assert(cli("update", zip, today).isEmpty)
    assert(Files.exists(Paths.get(s"$root/publish/aircraft.parquet")))

    // §2 publish the derived surface
    try {
      val pub = cli("publish").get.collect()
      assert(pub.length == 4 && pub.forall(_.getAs[Long]("n_rows") > 0))
      assert(Files.exists(Paths.get(
        s"$root/publish/views/owners_summary.parquet")))

      // §3 status, search, fleet (+ export), sql, fts
      val status = cli("status").get.collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(status("staleness") == "current")
      assert(status("rows.aircraft") == "2")

      val found = cli("search", "N221LA").get.collect()
      assert(found.length == 1 &&
        found.head.getAs[String]("maker") == "CESSNA")

      val fleet = cli("fleet", "LAPD|Los Angeles Police",
        "--state", "CA", "--limit", "50").get.collect()
      assert(fleet.length == 1 &&
        fleet.head.getAs[String]("owner_name") ==
          "LOS ANGELES POLICE DEPT")
      val csv = s"$root/lapd.csv"
      cli("fleet", "LAPD|Los Angeles Police", "--export", csv)
      val csvText = Files.readString(Paths.get(csv))
      assert(csvText.contains("N221LA")) // N-prefixed like the notebook

      val makers = cli("sql",
        "SELECT maker, count(*) AS n FROM aircraft_decoded " +
          "GROUP BY maker ORDER BY n DESC LIMIT 5").get.collect()
      assert(makers.map(_.getString(0)).toSet == Set("CESSNA", "BOEING"))

      assert(cli("fts", "POLICE", "ANGELES").get.count() == 1)
      assert(cli("fts", "--ranked", "POLICE").get.columns
        .contains("score"))

      // §4 audit
      val audit = cli("audit").get.collect()
      assert(audit.nonEmpty && audit.forall(_.schema.fieldNames
        .contains("check_name")))
    } finally
      spark.sql(s"DROP TABLE IF EXISTS ${registry.Registry.FtsTable}")

    // §5 corpus analytics over the testdata tables
    for (key <- Seq("d01_exact_dedup", "d02_minhash_pairs",
        "t02_quality_score", "s01_knn_brute"))
      assert(SparkEntry.queries(key)(spark, sfDir).limit(1).count() >= 0,
        key)
    // ... and the write-once layouts with one probe each
    val layoutTables = Seq("emb_ivfpq", "emb_ivfpq_centroids",
      "emb_ivfpq_books", "doc_bands")
    try {
      import org.apache.spark.sql.functions.col
      import graft.operators.{Dedup, Similarity}
      val emb = Tables.load(spark, sfDir, "embeddings")
      Similarity.writeIvfPqLayout(emb, "vec_id", "embedding", "emb_ivfpq")
      val near = Similarity.ivfPqAnnFromLayout(spark, "emb_ivfpq",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
      assert(near.count() == 50)
      val docs = Tables.load(spark, sfDir, "documents")
      Dedup.writeBandedLayout(docs, col("doc_id"), col("text"), "doc_bands")
      assert(Dedup.candidatePairsFromLayout(spark, "doc_bands").count() >= 0)
    } finally
      layoutTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    // §6 fold-state inspection: run one tiny incremental fold, then
    // `state` renders its control surface
    val foldBase = s"$root/fold"
    val docsSchema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val docs = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
    graft.streaming.Streams.incrementalLmModel(docs, foldBase)
    val state = cli("state", foldBase).get.collect()
    assert(state.nonEmpty)
  }
}
