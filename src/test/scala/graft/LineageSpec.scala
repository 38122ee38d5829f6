package graft

import java.nio.file.Files
import graft.registry.Lineage

class LineageSpec extends SparkSuite with SuiteTempDirs {

  protected val rootName = "graft_lineage_spec"

  test("checksums manifest is deterministic and complete") {
    val a = Lineage.checksums(spark, sfDir, "*.parquet").collect()
    val b = Lineage.checksums(spark, sfDir, "*.parquet").collect()
    assert(a.length == 10)
    assert(a.map(_.getString(1)).sameElements(b.map(_.getString(1))))
    assert(a.forall(_.getString(1).length == 64))
  }

  test("writeManifest records counts, hashes and snapshot date") {
    val out = tmpDir("graft_lineage")
    Tables.load(spark, sfDir, "region").write.mode("overwrite")
      .parquet(s"$out/region.parquet")
    Lineage.writeManifest(spark, out, Seq("region"), "2026-08-12")
    val json = Files.readString(
      java.nio.file.Paths.get(s"$out/_meta/manifest.json"))
    assert(json.contains("\"snapshot_date\": \"2026-08-12\""))
    assert(json.contains("\"region\": 5"))
    assert(json.contains("sha256"))
  }

  test("per-table checksum aggregates part files deterministically") {
    val out = tmpDir("graft_lineage_tbl")
    Tables.load(spark, sfDir, "region").repartition(3).write
      .mode("overwrite").parquet(s"$out/region.parquet")
    val a = Lineage.tableChecksums(spark, out, Seq("region")).collect()
    val b = Lineage.tableChecksums(spark, out, Seq("region")).collect()
    assert(a.length == 1 && a.head.getString(0) == "region")
    assert(a.head.getString(1).length == 64)
    assert(a.head.getLong(2) == 3, s"expected 3 part files: ${a.head}")
    // deterministic across listings
    assert(a.head.getString(1) == b.head.getString(1))
  }

  test("manifest carries the per-table aggregated checksum section") {
    val out = tmpDir("graft_lineage_m2")
    Tables.load(spark, sfDir, "region").write.mode("overwrite")
      .parquet(s"$out/region.parquet")
    Lineage.writeManifest(spark, out, Seq("region"), "2026-08-12")
    val json = Files.readString(
      java.nio.file.Paths.get(s"$out/_meta/manifest.json"))
    assert(json.contains("\"tables\": {\"region\": {\"sha256\": \""),
      s"missing per-table checksum section in $json")
  }

  test("manifest per-table checksum is byte-identical to tableChecksums") {
    // writeManifest derives the rollup from its single hash pass on
    // the driver; it must agree with the distributed tableChecksums
    val out = tmpDir("graft_lineage_m3")
    Tables.load(spark, sfDir, "region").repartition(3).write
      .mode("overwrite").parquet(s"$out/region.parquet")
    Lineage.writeManifest(spark, out, Seq("region"), "2026-08-12")
    val json = Files.readString(
      java.nio.file.Paths.get(s"$out/_meta/manifest.json"))
    val want = Lineage.tableChecksums(spark, out, Seq("region"))
      .head().getString(1)
    assert(json.contains(s""""region": {"sha256": "$want""""),
      s"manifest rollup diverged from tableChecksums ($want) in $json")
  }

  test("ageDays computes staleness") {
    assert(Lineage.ageDays("2026-08-01",
      java.time.LocalDate.parse("2026-08-12")) == 11)
  }

  test("layout publish manifests the layout and the probe still answers") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sfDir, "documents")
    graft.operators.Dedup.writeBandedLayout(
      docs, col("doc_id"), col("text"), "bands_lineage", numBuckets = 8)
    try {
      val m = graft.operators.Layouts.manifest(spark)
        .filter(col("layout") === "bands_lineage").collect()
      assert(m.length == 1, "expected exactly one manifest row per layout")
      val row = m.head
      assert(row.getAs[String]("kind") == "lsh_bands")
      assert(row.getAs[String]("bucket_cols") == "band,band_hash")
      assert(row.getAs[Int]("num_buckets") == 8)
      assert(row.getAs[Long]("n_rows") > 0)
      assert(row.getAs[String]("props").contains("numHashes=64"))
      // probe-many side still answers off the published layout
      val pairs = graft.operators.Dedup
        .candidatePairsFromLayout(spark, "bands_lineage")
      assert(pairs.count() ==
        graft.operators.Dedup
          .minHashCandidatePairs(docs, col("doc_id"), col("text")).count())
      // re-publish upserts (no duplicate manifest rows)
      graft.operators.Dedup.writeBandedLayout(
        docs, col("doc_id"), col("text"), "bands_lineage", numBuckets = 8)
      assert(graft.operators.Layouts.manifest(spark)
        .filter(col("layout") === "bands_lineage").count() == 1)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bands_lineage")
      ()
    }
  }
}
