package graft

import org.apache.spark.sql.functions._
import graft.tools.ScaleGen

/** The sf1.0 rehearsal data generator must actually preserve the
  * properties its exponent analysis leans on: exact per-copy
  * distribution replication, internally consistent FK graphs per
  * copy, fixed dimensions, and the embedding nudge that breaks
  * exact top-k ties without moving vectors materially. */
class ScaleGenSpec extends SparkSuite with SuiteTempDirs {
  protected val rootName = "graft_scalegen_spec"

  private lazy val outDir: String = {
    val d = tmpDir("scalegen")
    ScaleGen.run(spark, sfDir, d, copies = 2)
    d
  }

  private def src(name: String) = Tables.load(spark, sfDir, name)
  private def gen(name: String) = Tables.load(spark, outDir, name)

  test("facts replicate copies x, dimensions stay fixed") {
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings"))
      assert(gen(t).count() == 2 * src(t).count(), s"table $t")
    for (t <- Seq("region", "nation"))
      assert(gen(t).count() == src(t).count(), s"dimension $t")
  }

  test("copy 0 is the source verbatim (literal key lookups keep hitting)") {
    val a = src("orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val b = gen("orders").filter(col("o_orderkey") < 100000000L)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    assert(b.exceptAll(a).isEmpty && a.exceptAll(b).isEmpty)
  }

  test("each replica's FK graph is internally consistent") {
    // every generated order resolves to a generated customer — the
    // per-copy key shift must move both ends of every FK edge
    val dangling = gen("orders").join(
      gen("customer").select(col("c_custkey").as("o_custkey")),
      Seq("o_custkey"), "left_anti").count()
    assert(dangling == 0, s"$dangling orders with no customer")
    val danglingLi = gen("lineitem").join(
      gen("orders").select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), "left_anti").count()
    assert(danglingLi == 0, s"$danglingLi lineitems with no order")
  }

  test("per-key distributions are preserved exactly") {
    // group-size histogram of orders-per-customer is identical ×2:
    // the property that makes measured exponents attributable to the
    // operator rather than to drifting data shape
    val h = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .groupBy("n").agg(count(lit(1)).as("freq"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hs = h(src("orders"))
    val hg = h(gen("orders"))
    assert(hg == hs.map { case (n, f) => n -> 2 * f })
  }

  test("embedding replicas are nudged, not tied") {
    val e = gen("embeddings").select(col("vec_id"),
      element_at(col("embedding"), 1).as("x0"))
    val base = e.filter(col("vec_id") < 100000000L)
      .select(col("vec_id"), col("x0").as("b0"))
    val rep = e.filter(col("vec_id") >= 100000000L)
      .select((col("vec_id") - 100000000L).as("vec_id"), col("x0"))
    val joined = rep.join(base, "vec_id")
      .select(abs(col("x0") - col("b0")).as("d")).agg(
        min("d").as("mn"), max("d").as("mx")).head()
    val (mn, mx) = (joined.getAs[Float]("mn"), joined.getAs[Float]("mx"))
    assert(mn > 0f, "replica vectors must not tie exactly")
    assert(mx < 2e-3f, s"nudge must stay tiny, got $mx")
  }

  // ---- FRESH mode (round 13): non-replicated synthesis pins --------

  test("fresh documents reproduce the source's generative family") {
    val docs = ScaleGen.freshDocuments(spark, 5000).cache()
    try {
      assert(docs.count() == 5000)
      // 5% near-twins: text = predecessor's text + " dup", exactly
      val twins = docs.filter(col("text").endsWith(" dup")).count()
      assert(twins == 250, s"twin count $twins")
      val d = docs.select(col("doc_id"), col("text"))
      val matched = d.alias("a").join(d.alias("b"),
          col("a.doc_id") === col("b.doc_id") + 1 &&
            col("a.text") === concat(col("b.text"), lit(" dup")))
        .count()
      assert(matched == 250, s"twin-base matches $matched")
      // 1/625 exact dups of a nearby NORMAL doc
      val distinctTexts = docs.select(col("text")).distinct().count()
      assert(5000 - distinctTexts == 8, s"exact dups ${5000 - distinctTexts}")
      // token counts uniform [10, 100] (twins +1 for the marker)
      val tk = docs.select(size(split(col("text"), " ")).as("n"))
        .agg(min("n"), max("n"), avg("n")).head()
      assert(tk.getInt(0) >= 10 && tk.getInt(1) <= 101)
      assert(math.abs(tk.getDouble(2) - 55.0) < 3.0)
      // lang multinomial: en ≈ 0.41
      val en = docs.filter(col("lang") === "en").count()
      assert(en > 1800 && en < 2300, s"en count $en")
      assert(docs.select(col("source")).distinct().count() == 20)
      // deterministic: same ids → same rows
      val again = ScaleGen.freshDocuments(spark, 5000)
      assert(docs.exceptAll(again).isEmpty && again.exceptAll(docs).isEmpty)
    } finally docs.unpersist()
  }

  test("fresh embeddings: unit norm, twin structure, organic tail") {
    val emb = ScaleGen.freshEmbeddings(spark, 1000).cache()
    try {
      val norm = emb.select(sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x * x)).as("n"))
        .agg(min("n"), max("n")).head()
      assert(math.abs(norm.getDouble(0) - 1.0) < 1e-4 &&
        math.abs(norm.getDouble(1) - 1.0) < 1e-4, s"norms $norm")
      // every 50th vector is a cos ≈ 0.95 twin of its predecessor
      val e = emb.select(col("vec_id"), col("embedding"))
      val twinCos = e.alias("a").join(e.alias("b"),
          col("a.vec_id") === col("b.vec_id") + 1 &&
            pmod(col("a.vec_id"), lit(50)) === 49)
        .select(graft.operators.Similarity.cosine(
          col("a.embedding"), col("b.embedding")).as("c"))
        .agg(min("c"), max("c")).head()
      assert(twinCos.getDouble(0) > 0.90 && twinCos.getDouble(1) < 0.99,
        s"twin cosine band $twinCos")
      // non-twin pairs stay low-sim (the source family's organic tail)
      val nt = e.filter(pmod(col("vec_id"), lit(50)) =!= 49)
        .limit(300)
      val maxCos = nt.alias("a").join(nt.alias("b"),
          col("a.vec_id") < col("b.vec_id"))
        .select(graft.operators.Similarity.cosine(
          col("a.embedding"), col("b.embedding")).as("c"))
        .agg(max("c")).head().getDouble(0)
      assert(maxCos < 0.8, s"organic tail too hot: $maxCos")
    } finally emb.unpersist()
  }
}
