package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-drift smoke spec: the round-8 driver data regeneration flipped
  * events.ts from TIMESTAMP(NANOS)-as-int64 to timestamp[us] and silently
  * zeroed 37 queries. This suite pins the contract: every table at every
  * SF loads with the expected column names, and `Tables.load` must accept
  * events.ts as EITHER int64-nanos or a native parquet timestamp, always
  * surfacing it as a session-zoned TimestampType.
  */
class TablesSpec extends SparkSuite with SuiteTempDirs {
  protected val rootName = "graft_tables_spec"

  private val expectedCols: Map[String, Seq[String]] = Map(
    "region"     -> Seq("r_regionkey", "r_name"),
    "nation"     -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer"   -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier"   -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part"       -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders"     -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                        "o_orderdate", "o_orderpriority"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                        "l_linestatus", "l_shipdate"),
    "events"     -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents"  -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  test("every table loads at every SF with the expected columns") {
    for (dir <- sfDirs; name <- Tables.names) {
      val df = Tables.load(spark, dir, name)
      assert(df.columns.toSeq == expectedCols(name),
        s"$dir/$name columns drifted: ${df.columns.mkString(",")}")
    }
  }

  test("events.ts always surfaces as TimestampType (never NTZ, never raw long)") {
    for (dir <- sfDirs) {
      val ts = Tables.load(spark, dir, "events").schema("ts").dataType
      assert(ts == TimestampType, s"$dir events.ts loaded as $ts")
    }
  }

  test("timestamp-sensitive columns keep accepted dtypes") {
    for (dir <- sfDirs) {
      val accepted = Set[DataType](TimestampType, TimestampNTZType, DateType)
      assert(accepted(Tables.load(spark, dir, "orders").schema("o_orderdate").dataType))
      assert(accepted(Tables.load(spark, dir, "lineitem").schema("l_shipdate").dataType))
      val emb = Tables.load(spark, dir, "embeddings").schema("embedding").dataType
      assert(emb == ArrayType(FloatType, containsNull = true) ||
             emb == ArrayType(FloatType, containsNull = false),
        s"$dir embeddings.embedding drifted: $emb")
    }
  }

  test("legacy TIMESTAMP(NANOS) events data loads via the int64 fallback") {
    // Fixture: first 200 rows of sf0.001 events re-encoded with ts as
    // parquet TIMESTAMP(NANOS) — the dtype every pre-round-8 testdata drop
    // carried. Staged into a temp dir so Tables.load sees events.parquet.
    val fixture = Paths.get("src/test/resources/events_nanos.parquet")
    assume(Files.exists(fixture), "nanos fixture missing")
    val dir = Paths.get(tmpDir("nanos"))
    Files.copy(fixture, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    try {
      val legacy = Tables.load(spark, dir.toString, "events")
      assert(legacy.schema("ts").dataType == TimestampType)
      val modern = Tables.load(spark, "/root/testdata/sf0.001", "events")
        .orderBy("event_id").limit(200)
      val a = legacy.orderBy("event_id")
        .select("event_id", "ts").collect().map(r => (r.getLong(0), r.getTimestamp(1)))
      val b = modern.select("event_id", "ts").collect().map(r => (r.getLong(0), r.getTimestamp(1)))
      assert(a.sameElements(b),
        "nanos-fixture rows diverge from the micros read of the same data")
    } finally {
      dir.resolve("events.parquet").toFile.delete()
      dir.toFile.delete()
    }
  }
}
