package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Normalize, TextFns}

/** Deduplication operators for large-scale corpus pipelines.
  *
  * Four families, in increasing fuzziness: exact (hash groupBy),
  * MinHash+LSH banding (near-dup candidates), SimHash (bitwise
  * near-dup), n-gram Jaccard (verification), embedding-cosine
  * (semantic near-dup).
  *
  * Scale posture: every path is explode → hash-shuffle on a bounded
  * composite key (hash / (band, band-signature) / 16-bit chunk / block
  * key) — never an all-pairs cross join. Pair enumeration only happens
  * inside LSH/SimHash buckets and fuzzy-match blocks, scored by the
  * band-cell scorer ([[Similarity.survivorPairs]]), which splits a
  * hot bucket into sub-blocks of maxBucketRows rows on average (spread
  * by an id hash) and scores each pair of sub-blocks as one cell: a
  * bucket of 10⁶ identical documents becomes many tasks of about
  * maxBucketRows² pairs each, not one quadratic one.
  */
object Dedup {

  /** Single source of truth for the engine's own MinHash-LSH banding
    * configuration: d02's candidate generator, d21's analytic plan
    * (`in_use` row), and d19's precision audit all read THESE values,
    * so changing the banding here moves all three together —
    * previously each site carried its own literal defaults and a
    * generator change would silently leave d21 marking the wrong
    * row as in use (the audit would then grade a config nobody
    * runs). Spec-pinned in DedupSpec. */
  object BandingConfig {
    val numHashes: Int = 64
    val shingleSize: Int = 2
    val rowsPerBand: Int = 4
    def numBands: Int = numHashes / rowsPerBand
  }

  /** Normalized content hash (exact-dup key). */
  def contentHash(text: Column): Column = md5(Normalize.cleanText(text))

  /** Exact dedup: group by normalized hash, keep the smallest id —
    * one hash-shuffle with map-side partial aggregation. */
  def exactDedup(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(contentHash(textCol).as("text_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-doc MinHash signature as ONE `array<bigint>` column `sig`
    * (element i = min over shingles of xxhash64(i, shingle)).
    *
    * Shingle → explode → a single array-buffered
    * [[graft.plans.MinHashSig]] aggregate (ObjectHashAggregate with
    * map-side partials): one buffer object and one traversal of the
    * shingle bytes per row instead of `numHashes` separate
    * min(xxhash64(i, s)) expressions, and still one shuffle on the
    * doc id. Values are byte-identical to the expression form
    * (spec-asserted in DedupSpec).
    */
  def minHashSignatures(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      numHashes: Int = BandingConfig.numHashes,
      shingleSize: Int = BandingConfig.shingleSize): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    // materialize the token array before the ngram lambda: element_at
    // inside transform() would otherwise re-run split() per shingle
    // (no common-subexpression elimination across lambda scopes)
    val shingled = df
      .select(idCol.as("doc_id"), TextFns.tokensLower(textCol).as("__toks"))
      .select(col("doc_id"),
        explode(array_distinct(TextFns.wordNgrams(col("__toks"), shingleSize)))
          .as("shingle"))
    val sigAgg = GraftBridge.column(
      graft.plans.MinHashSig(GraftBridge.expression(col("shingle")), numHashes)
        .toAggregateExpression())
    shingled.groupBy(col("doc_id")).agg(sigAgg.as("sig"))
  }

  /** LSH banding over MinHash signatures → candidate near-dup pairs
    * (a_id < b_id, distinct).
    *
    * Signatures are split into `bands` bands of `rowsPerBand`; docs
    * colliding on any band's hashed sub-signature become candidates.
    * The band table is exploded (numBands rows per doc) and its
    * (band, band_hash) buckets are scored by [[bandTablePairs]] — no
    * cross join and no cached band table: the bucket-size count and
    * the cell shuffle share the signature aggregate's exchange (AQE
    * reuses it), and each re-runs only the signature merge and the
    * banding above it.
    */
  def minHashCandidatePairs(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      numHashes: Int = BandingConfig.numHashes,
      shingleSize: Int = BandingConfig.shingleSize,
      rowsPerBand: Int = BandingConfig.rowsPerBand): DataFrame =
    bandTablePairs(minHashBandTable(df, idCol, textCol, numHashes,
      shingleSize, rowsPerBand)).distinct()

  /** Candidate pairs of a (doc_id, band, band_hash) band table through
    * the band-cell scorer: every pair of distinct non-NULL ids sharing
    * a band bucket, as (a_id, b_id) with a_id < b_id — one row per
    * shared band, deduped by the caller. `maxBucketRows` caps a
    * bucket's sub-blocks; `tableRows` bounds one band's rows when the
    * caller knows it (see [[Similarity.cellSorted]]). */
  private[graft] def bandTablePairs(bands: DataFrame,
      maxBucketRows: Int = 2048,
      tableRows: Long = Long.MaxValue): DataFrame =
    Similarity.survivorPairs[Similarity.BandRow](
        bands.select(col("doc_id").as("vec_id"), col("band").as("tbl"),
          col("band_hash").as("bkt")),
        maxBucketRows, Seq("vec_id"), r => new Similarity.BandRow(r.get(0)),
        tableRows = tableRows) { (x, y) =>
      if (Similarity.distinctIds(x, y)) Row(x.id, y.id) else null
    }

  /** The exploded (doc_id, band, band_hash) band table — the LSH
    * shuffle key, factored out so it can either feed the scorer
    * directly ([[minHashCandidatePairs]]) or be written once as a
    * bucketed layout ([[writeBandedLayout]]). */
  def minHashBandTable(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      numHashes: Int = BandingConfig.numHashes,
      shingleSize: Int = BandingConfig.shingleSize,
      rowsPerBand: Int = BandingConfig.rowsPerBand): DataFrame = {
    val sigs = minHashSignatures(df, idCol, textCol, numHashes, shingleSize)
    val numBands = numHashes / rowsPerBand
    val bandStructs = (0 until numBands).map { b =>
      // element_at is 1-based; sig elements are LongType like the old
      // s_i columns, so band hashes are unchanged
      val cols = (0 until rowsPerBand).map(r =>
        element_at(col("sig"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(lit(b) +: cols: _*).as("band_hash"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.band_hash").as("band_hash"))
  }

  /** The band self-join: pairs of a (doc_id, band, band_hash) table
    * sharing a bucket, distinct. It serves the stored layout
    * ([[candidatePairsFromLayout]]) and is the specs' equality oracle
    * for [[bandTablePairs]]. */
  private[graft] def pairsFromBandTable(banded: DataFrame): DataFrame = {
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** Amortize the LSH shuffle into the ingest: write the band table
    * bucketed (and sorted) on (band, band_hash), published through
    * [[Layouts.publish]] so the layout is manifested. Every
    * subsequent candidate generation against the saved layout
    * ([[candidatePairsFromLayout]]) plans its self-join with ZERO
    * exchanges — at 100 TB the banding explode+shuffle is paid once
    * per corpus snapshot instead of once per dedup run. This is why
    * the stored form keeps a join rather than the band-cell scorer:
    * the scorer's cell shuffle would re-pay exactly the exchange the
    * bucketed table exists to avoid (BucketingSpec pins the
    * exchange-free join). */
  def writeBandedLayout(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      table: String,
      numBuckets: Int = 32,
      numHashes: Int = BandingConfig.numHashes,
      shingleSize: Int = BandingConfig.shingleSize,
      rowsPerBand: Int = BandingConfig.rowsPerBand): Unit =
    Layouts.publish(
      minHashBandTable(df, idCol, textCol, numHashes, shingleSize, rowsPerBand),
      table, "lsh_bands", Seq("band", "band_hash"), numBuckets,
      props = Map("numHashes" -> numHashes.toString,
        "shingleSize" -> shingleSize.toString,
        "rowsPerBand" -> rowsPerBand.toString))

  /** Candidate pairs from a [[writeBandedLayout]] table — identical
    * output to [[minHashCandidatePairs]], through the band self-join,
    * which reads the table's buckets in place (see
    * [[writeBandedLayout]] for why it is not the scorer). */
  def candidatePairsFromLayout(
      spark: SparkSession, table: String): DataFrame =
    pairsFromBandTable(spark.table(table))

  /** Analytic LSH banding plan — the S-curve table that decides how
    * a MinHash signature budget splits into bands × rows BEFORE any
    * data is scanned (the standard construction, e.g. Mining of
    * Massive Datasets §3.4): for each factorization b·r = numHashes,
    * the curve threshold (1/b)^(1/r) (the similarity where the
    * collision probability rises steepest) and the candidate
    * probability 1−(1−s^r)^b at the dup threshold and ±0.2 around
    * it — reading a row gives the false-negative risk below the
    * threshold (`p_below` should be small) and the recall at/above
    * it (`p_at`/`p_above` should be large). `in_use` marks the
    * engine's own d02 configuration; d19 then MEASURES what this
    * table predicts (predicted precision vs measured survival).
    *
    * Pure arithmetic over a ≤numHashes-row frame — no data scan at
    * any scale; probabilities truncated at 4 dp so the row set is
    * engine-portable. */
  def bandingPlan(
      spark: SparkSession,
      numHashes: Int = BandingConfig.numHashes,
      threshold: Double = 0.5,
      inUseBands: Int = BandingConfig.numBands): DataFrame = {
    require(numHashes > 0, s"numHashes must be positive: $numHashes")
    require(threshold - 0.2 >= 0.0 && threshold + 0.2 <= 1.0,
      s"threshold must be in [0.2, 0.8] so the ±0.2 probes stay in [0,1]: $threshold")
    def trunc4(c: Column): Column = floor(c * 10000) / 10000
    def pCand(s: Double): Column =
      lit(1.0) - pow(
        lit(1.0) - pow(lit(s), col("rows_per_band").cast("double")),
        col("bands").cast("double"))
    // snap the ±0.2 probe similarities back to one decimal ONLY when
    // they already sit within float-noise of one: double arithmetic
    // gives 0.5 - 0.2 = 0.30000000000000004, while the DuckDB oracle
    // (and any reader of the report) uses the exact literal 0.3 — the
    // 4-dp floor truncation downstream can flip on the discrepancy.
    // A genuine two-decimal threshold (0.55 → probes 0.35/0.75) is
    // NOT near a one-decimal value and must pass through unmoved;
    // unconditional rounding would shift those probes by up to 0.05.
    def probe(s: Double): Double = {
      val r = math.rint(s * 10) / 10
      if (math.abs(r - s) < 1e-9) r else s
    }
    spark.range(1, numHashes + 1L).toDF("bands")
      .filter((lit(numHashes) % col("bands")) === 0)
      .withColumn("rows_per_band",
        (lit(numHashes.toLong) / col("bands")).cast("long"))
      .select(col("bands"), col("rows_per_band"),
        trunc4(pow(lit(1.0) / col("bands").cast("double"),
          lit(1.0) / col("rows_per_band").cast("double"))).as("curve_t"),
        trunc4(pCand(probe(threshold - 0.2))).as("p_below"),
        trunc4(pCand(probe(threshold))).as("p_at"),
        trunc4(pCand(probe(threshold + 0.2))).as("p_above"),
        (col("bands") === inUseBands).cast("long").as("in_use"))
      .orderBy("bands")
  }

  /** Blocked fuzzy string matching (record linkage): pairs share a
    * cheap deterministic block key — bounding the quadratic verify to
    * within-block — then exact edit-distance verification. The
    * registry analog of owner-name matching: the reference normalizes
    * owner names (hangarbay/address.py) precisely because
    * near-identical spellings abound; this finds the survivors.
    *
    * Same scale shape as the LSH paths: the blocks are the band-cell
    * scorer's buckets ([[Similarity.survivorPairs]]), keyed by the
    * block keys as ONE struct (struct equality matches null fields to
    * each other, so null block keys block together), so pair volume is
    * bounded by block size (pick block keys the way you'd pick LSH
    * bands — tight enough that a block fits a task) and never
    * all-pairs. A HOT block — a common surname/city in real linkage
    * data — above `maxBlockRows` splits into sub-blocks of
    * `maxBlockRows` rows on average, spread by an id hash, scored cell
    * by cell, result-invisibly (equality-spec'd in DedupSpec against
    * an adversarial hot-block fixture).
    *
    * Per pair, in the cell loop: NULL names and ids never pair; the
    * length gap rejects first (levenshtein(x, y) ≥ |len(x) − len(y)|,
    * so a gap above maxDistance can never survive — two int compares
    * before the DP); then the THRESHOLD-BOUNDED distance
    * `UTF8String.levenshteinDistance(other, maxDistance)`, the call
    * Spark's 3-argument `levenshtein` makes: the DP walks only the
    * 2·maxDistance+1 diagonal band, O(len·d) per pair, −1 above the
    * bound, and the exact distance for survivors — so `dist` is
    * bit-identical to the unbounded form's. Output (a_id, b_id, dist
    * bigint), a_id < b_id, one row per pair. */
  def fuzzyMatchPairs(
      df: DataFrame,
      idCol: Column,
      nameCol: Column,
      blockKeys: Seq[Column],
      maxDistance: Int = 1,
      maxBlockRows: Int = 2048): DataFrame = {
    val blocked = df.select(idCol.as("vec_id"),
      nameCol.cast("string").as("name"),
      lit(0).as("tbl"),
      struct(blockKeys.zipWithIndex.map { case (c, i) => c.as(s"__blk$i") }: _*)
        .as("bkt"))
    Similarity.survivorPairs[NameRow](blocked, maxBlockRows,
        Seq("vec_id", "name"),
        r => new NameRow(r.get(0),
          if (r.isNullAt(1)) null else UTF8String.fromString(r.getString(1))),
        Some(StructField("dist", LongType))) { (x, y) =>
      if (x.name == null || y.name == null ||
          math.abs(x.len - y.len) > maxDistance || !Similarity.distinctIds(x, y))
        null
      else {
        val d = x.name.levenshteinDistance(y.name, maxDistance)
        if (d >= 0) Row(x.id, y.id, d.toLong) else null
      }
    }
  }

  /** A fuzzy-match band row: the name and its length in characters
    * (what Spark's `length` counts). */
  private final class NameRow(id: Any, val name: UTF8String)
      extends Similarity.BandRow(id) {
    val len: Int = if (name == null) 0 else name.numChars()
  }

  /** Per-doc 64-bit SimHash: each token votes ±1 on every bit of its
    * xxhash64; the signature takes the sign. One explode + one
    * 64-expression hash-aggregate (same single-shuffle shape as
    * MinHash). Also emits the four 16-bit chunks used for banded
    * candidate generation. */
  def simHashSignatures(
      df: DataFrame,
      idCol: Column,
      textCol: Column): DataFrame = {
    val tokened = df.select(idCol.as("doc_id"),
      explode(TextFns.tokensLower(textCol)).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val voteExprs = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"v_$i"))
    val votes = tokened.groupBy(col("doc_id"))
      .agg(voteExprs.head, voteExprs.tail: _*)
    val sig = (0 until 64).map(i =>
      when(col(s"v_$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    votes.select(col("doc_id"), sig.as("simhash"))
      .withColumn("chunk0", col("simhash").bitwiseAND(lit(0xffffL)))
      .withColumn("chunk1", shiftright(col("simhash"), 16).bitwiseAND(lit(0xffffL)))
      .withColumn("chunk2", shiftright(col("simhash"), 32).bitwiseAND(lit(0xffffL)))
      .withColumn("chunk3", shiftright(col("simhash"), 48).bitwiseAND(lit(0xffffL)))
  }

  /** SimHash near-dup candidates: pairs sharing any 16-bit chunk
    * (classic 4-table banding ⇒ guaranteed recall for hamming ≤ 3),
    * verified by exact hamming distance ≤ maxHamming. Output
    * (a_id, b_id, hamming int), a_id < b_id, distinct. */
  def simHashCandidatePairs(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      maxHamming: Int = 16): DataFrame =
    simHashPairs(simHashSignatures(df, idCol, textCol), maxHamming)

  /** [[simHashCandidatePairs]] over [[simHashSignatures]] rows: the
    * (chunk, value) buckets go through the band-cell scorer, which
    * scores `bit_count(a ^ b) ≤ maxHamming` in its cell loop, so only
    * survivors reach the distinct (a pair sharing several chunks
    * survives once per shared chunk). */
  private[graft] def simHashPairs(sigs: DataFrame, maxHamming: Int,
      maxBucketRows: Int = 2048): DataFrame = {
    val chunked = sigs.select(col("doc_id").as("vec_id"), col("simhash"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("ci"), col(s"chunk$i").as("cv"))): _*)).as("c"))
      .select(col("vec_id"), col("simhash"), col("c.ci").as("tbl"),
        col("c.cv").as("bkt"))
    Similarity.survivorPairs[SimRow](chunked, maxBucketRows,
        Seq("vec_id", "simhash"), r => new SimRow(r.get(0), r.getLong(1)),
        Some(StructField("hamming", IntegerType))) { (x, y) =>
      val h = java.lang.Long.bitCount(x.h ^ y.h)
      if (h <= maxHamming && Similarity.distinctIds(x, y)) Row(x.id, y.id, h)
      else null
    }.distinct()
  }

  /** A SimHash band row: the 64-bit signature. */
  private final class SimRow(id: Any, val h: Long)
    extends Similarity.BandRow(id)

  /** n-gram Jaccard similarity between candidate pairs: pairs carry
    * (a_id, b_id); token sets are joined in from the corpus. Used to
    * verify MinHash/SimHash candidates. */
  def jaccardOnPairs(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      ngram: Int = 1): DataFrame = {
    // tokens MUST be materialized in their own projection before
    // wordNgrams: passing the split expression straight in would
    // inline it inside the transform lambda, re-splitting the whole
    // text per n-gram position — O(tokens²) regex splits per doc
    val t = docs.select(idCol.as("doc_id"),
        TextFns.tokensLower(textCol).as("__tk"))
      .select(col("doc_id"),
        (if (ngram <= 1) array_distinct(col("__tk"))
         else array_distinct(TextFns.wordNgrams(col("__tk"), ngram)))
          .as("toks"))
    pairs
      .join(t.select(col("doc_id").as("a_id"), col("toks").as("ta")), "a_id")
      .join(t.select(col("doc_id").as("b_id"), col("toks").as("tb")), "b_id")
      .withColumn("n_inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("n_union", size(array_union(col("ta"), col("tb"))).cast("long"))
      .withColumn("jaccard", round(col("n_inter") / col("n_union"), 4))
      .drop("ta", "tb")
  }

  /** ASYMMETRIC containment verify on candidate pairs:
    * |ngrams(A) ∩ ngrams(B)| / |ngrams(A)| — how much of A sits inside
    * B. Catches the dedup class symmetric Jaccard structurally misses:
    * a short doc fully quoted inside a long one (boilerplate wrap,
    * quote expansion, header/footer framing) has Jaccard ≈ |A|/|B| → 0
    * but containment 1.0. Same join shape as [[jaccardOnPairs]]
    * (verification is pair-bounded, never all-pairs); docs with fewer
    * than `ngram` tokens have no shingles → containment NULL. */
  def containmentOnPairs(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      ngram: Int = 2): DataFrame = {
    // same two-step projection as jaccardOnPairs: a raw split
    // expression inside wordNgrams' lambda re-splits the text per
    // n-gram position (O(tokens²) — measured 8× on this operator)
    val t = docs.select(idCol.as("doc_id"),
        TextFns.tokensLower(textCol).as("__tk"))
      .select(col("doc_id"),
        (if (ngram <= 1) array_distinct(col("__tk"))
         else array_distinct(TextFns.wordNgrams(col("__tk"), ngram)))
          .as("toks"))
    pairs
      .join(t.select(col("doc_id").as("a_id"), col("toks").as("ta")), "a_id")
      .join(t.select(col("doc_id").as("b_id"), col("toks").as("tb")), "b_id")
      .withColumn("n_a", size(col("ta")).cast("long"))
      .withColumn("n_inter",
        size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("containment",
        when(col("n_a") > 0, round(col("n_inter") / col("n_a"), 4)))
      .drop("ta", "tb")
  }

  /** Resolve near-dup candidate pairs into clusters: every doc maps
    * to the smallest id reachable through the pair graph (connected
    * components). Min-label message passing with pointer doubling,
    * iterated TO FIXPOINT — the standard driver-side loop for
    * iterative graph algorithms; `maxIter` is a safety valve only.
    *
    * Per round, each node's next label is the min of
    *  (a) its own label (self message — labels are monotone
    *      non-increasing, the correctness invariant below),
    *  (b) every graph neighbor's label (one join against the edge
    *      list), and
    *  (c) its label's label, applied THREE times per round (pointer
    *      doubling — labels ⋈ labels — which collapses already-labeled
    *      regions in one hop; chaining extra doubling steps inside the
    *      round multiplies the path-compression exponent, so
    *      adversarial consecutive-id chains converge in ~⅓ the rounds
    *      for two extra label-sized shuffle stages — stages inside an
    *      existing job are far cheaper than extra rounds, each of
    *      which pays job scheduling plus a full edge join).
    *
    * Scale posture: the symmetric edge list — the one table that is
    * large — is hash-partitioned by sender and cached ONCE; the
    * per-round join re-uses that partitioning, so each round shuffles
    * only label-sized data, never the edges. Each round runs exactly
    * ONE Spark job: the round-start label rides through the round's
    * aggregate (tagged self message), so the single action that
    * materializes the round's cache also answers convergence — labels
    * only ever decrease, so "no row decreased" ⟺ fixpoint; there is
    * no separate convergence pass (at local scale the per-JOB fixed
    * cost of scheduling + materialization is what dominates this
    * loop, so the knobs are rounds and jobs-per-round, not stages).
    * The pointer chain joins only ever touch the PREVIOUS round's
    * materialized label map — cheap in-memory scans, never a
    * recompute of the edge join — and lineage is truncated each round
    * by re-wrapping the cached RDD in a fresh one-node LogicalRDD
    * plan (labels appear ~4× in the next round's tree; without
    * truncation the logical plan grows exponentially in rounds).
    *
    * MEASURED GATE (the [[graft.operators.Scale.adaptiveJoin]]
    * pattern): the edge list is the LSH-/threshold-PRUNED pair set —
    * at any scale it is orders of magnitude smaller than the corpus,
    * and in the common case it fits the driver with room to spare.
    * After the one cached materialization, the edge count decides:
    * ≤ `smallCutoff` symmetric edges (default 2²¹ ≈ 2M, tens of MB
    * of longs — the same bounded-driver-state class as centroids and
    * probe-cell sets) resolve by an in-memory union-find whose
    * min-root representative reproduces the fixpoint's labels
    * EXACTLY (equality spec), skipping 3-5 rounds of job-scheduling
    * latency; above the cutoff, or for non-integral id types, the
    * distributed fixpoint runs unchanged. The verdict is recorded in
    * the result metadata (`cc_mode`).
    *
    * Output: (doc_id, leader_id) for every doc appearing in pairs;
    * keep rows where doc_id == leader_id, drop the rest. */
  def clusterLeaders(
      pairs: DataFrame,
      maxIter: Int = 50,
      maxChainHops: Int = 8,
      smallCutoff: Long = 2L << 20): DataFrame = {
    // symmetric (receiver, sender) edges: recv adopts labels[send].
    // ONE-PASS symmetrization: each pair explodes
    // into both directions in the same projection — the r13 two-branch
    // union evaluated the whole upstream PAIR PIPELINE once per
    // branch (no CSE across union arms), which for the LSH callers
    // meant the banded scoring join + cosine + threshold ran twice
    // before the first CC round.
    val edges = pairs
      .select(explode(array(
        struct(col("a_id").as("recv"), col("b_id").as("send")),
        struct(col("b_id").as("recv"), col("a_id").as("send")))).as("e"))
      .select(col("e.recv").as("recv"), col("e.send").as("send"))
      .repartition(col("send"))
      .cache()
    val idType = pairs.schema("a_id").dataType
    val integralIds = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    // ONE bounded measurement on the cached edges decides the path
    val nEdges = edges.count()
    if (integralIds && nEdges <= smallCutoff)
      return unionFindLeaders(pairs.sparkSession, edges, idType)
    // truncate lineage: a one-node LogicalRDD plan over the cached rows
    def rewrap(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftBridge.rewrapInternal(
        df.select(col("doc_id"), col("leader_id")))
    // round 0: min(self, neighbors), materialized with its own job
    val init = edges
      .groupBy(col("recv").as("doc_id"))
      .agg(min(col("send")).as("__mn"))
      .select(col("doc_id"),
        least(col("__mn"), col("doc_id")).as("leader_id"))
      .cache()
    init.count()
    var labels = rewrap(init)
    var prevCache: DataFrame = init
    var i = 0
    var converged = false
    val roundMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (i < maxIter && !converged) {
      val roundT0 = System.nanoTime()
      val bySender = labels
        .select(col("doc_id").as("send"), col("leader_id").as("lbl"))
      // (b) neighbor labels — the only join that touches the edges,
      // and it reuses their cached sender-partitioning
      val nbr = edges.join(bySender, Seq("send"))
        .select(col("recv").as("doc_id"), col("lbl"),
          lit(null).cast(idType).as("own"))
      // (c) pointer chain: doc adopts labels^(hops+1)[doc] — each hop
      // is one label-sized join against the PREVIOUS round's
      // materialized map (left + coalesce: every label value is a
      // member doc id, but stay total under any caller-supplied
      // graph). Hops grow geometrically with the round index: typical
      // shallow near-dup graphs converge in 2-3 rounds paying only
      // 1-2 extra label-sized joins, while adversarial
      // consecutive-id chains (which are what force many rounds) get
      // a compounding path-compression exponent — and rounds, not
      // stages, are the dominant cost of this loop.
      val hops = math.min(2 << i, maxChainHops)
      // (a) the chase starts from the node's own round-start label and
      // only ever decreases, so it doubles as the self message (keeps
      // monotonicity and isolated rows alive) and carries the
      // round-start label (exactly one `own` row per doc) so
      // convergence falls out of the same aggregate
      var chase = labels.select(col("doc_id"), col("leader_id").as("lbl"),
        col("leader_id").as("own"))
      (0 until hops).foreach { _ =>
        val m = labels
          .select(col("doc_id").as("__s"), col("leader_id").as("__l2"))
        chase = chase.join(m, chase("lbl") === m("__s"), "left")
          .select(chase("doc_id"),
            least(chase("lbl"), coalesce(col("__l2"), chase("lbl")))
              .as("lbl"),
            chase("own"))
      }
      val cand = nbr.union(chase)
        .groupBy(col("doc_id"))
        .agg(min(col("lbl")).as("leader_id"), min(col("own")).as("old_label"))
        .cache()
      // the ONE action of the round: populates cand's cache AND returns
      // whether any label decreased (false ⟺ fixpoint)
      val row = cand
        .agg(max(col("leader_id") < col("old_label")).as("changed")).head()
      converged = row.isNullAt(0) || !row.getBoolean(0)
      roundMs += (System.nanoTime() - roundT0) / 1000000
      labels = rewrap(cand)
      prevCache.unpersist(blocking = false)
      prevCache = cand
      i += 1
    }
    edges.unpersist(blocking = false)
    // Per-round wall-clock recorded as column metadata on the result:
    // the fixpoint's dominant cost is ROUNDS (each multiplies the
    // cluster's per-job scheduling overhead), so any run can be
    // audited after the fact — labels.schema("leader_id").metadata.
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("cc_mode", "distributed-fixpoint")
      .putLong("cc_rounds", i.toLong)
      .putBoolean("cc_converged", converged)
      .putLongArray("cc_round_ms", roundMs.toArray)
      .build()
    labels.withColumn("leader_id", col("leader_id").as("leader_id", meta))
  }

  /** The small-graph path of [[clusterLeaders]]: collect the cached
    * symmetric edges (bounded by the measured cutoff), run classic
    * union-find with path compression, roots pointed at the SMALLER
    * id on every union — so each component's representative is its
    * minimum id, exactly the fixpoint's label. Returns the same
    * (doc_id, leader_id) schema with `cc_mode = driver-union-find`
    * metadata; the label map is small, so downstream joins broadcast
    * it. */
  private def unionFindLeaders(
      spark: SparkSession,
      edges: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    def asLong(v: Any): Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case other => sys.error(s"non-integral id: $other")
    }
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        // path halving: point x at its grandparent, step up
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    val rows = edges.collect()
    edges.unpersist(blocking = false)
    rows.foreach { r =>
      val ra = find(asLong(r.get(0)))
      val rb = find(asLong(r.get(1)))
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        ()
      }
    }
    val nodes = new java.util.HashSet[Long]()
    rows.foreach { r =>
      nodes.add(asLong(r.get(0))); nodes.add(asLong(r.get(1))); ()
    }
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("cc_mode", "driver-union-find")
      .putLong("cc_rounds", 0L)
      .putBoolean("cc_converged", true)
      .putLongArray("cc_round_ms", Array.empty[Long])
      .build()
    nodes.asScala.toSeq.map(n => (n, find(n)))
      .toDF("doc_id", "leader_id")
      .select(col("doc_id").cast(idType),
        col("leader_id").cast(idType).as("leader_id", meta))
  }

  /** End-to-end near-dedup pipeline: MinHash LSH candidates →
    * n-gram Jaccard verification ≥ threshold → cluster resolution →
    * per-doc keep/drop verdict.
    *
    * `exactFirst = true` runs the EXACT-DEDUP CASCADE: collapse
    * groups of bit-identical texts to their min-id representative
    * (one narrow md5-shuffle), run the pair pipeline on
    * representatives only, expand membership back. Result-invisible
    * by construction: identical texts get identical MinHash
    * signatures, hence identical band buckets — so (a) every exact
    * group would merge in the plain path anyway (shared bucket +
    * jaccard 1 ≥ threshold), and (b) a cross-group candidate arises
    * for a copy pair iff it arises for the representatives (bucket
    * assignment is a pure function of content). Leaders are
    * preserved exactly too: each rep is its group's min id, and the
    * cluster leader is the min rep. What changes is only the work:
    * per-bucket candidates drop from Σ(m·g)² to Σm² where g is the
    * exact-dup multiplicity — at crawl-like corpora where exact dups
    * dominate dup mass, this is THE 100 TB lever (the sf1.0
    * rehearsal measured candidate mass, not rows, as the pair
    * family's cost driver — BENCH_FULL.md r11). Equality is
    * spec-asserted in DedupSpec on both real and dup-heavy data.
    * One documented edge: docs that produce NO shingles (text
    * shorter than the shingle width) are singletons in the plain
    * path (they never reach a bucket, and 0/0 Jaccard is NULL) but
    * identical such docs collapse under the cascade — the cascade's
    * answer is the semantically better one; bit-equality holds
    * whenever every doc yields ≥ 1 shingle. */
  def nearDedupPipeline(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      jaccardThreshold: Double = 0.7,
      exactFirst: Boolean = false): DataFrame = {
    if (exactFirst) {
      val base = docs.select(idCol.as("doc_id"), textCol.as("__text"))
      // raw sha2-256, NOT contentHash/cleanText: invisibility needs
      // bit-identity (clean-equal texts still merge downstream via
      // jaccard 1, so grouping conservatively loses nothing). sha2
      // rather than md5 because md5 is collision-BROKEN — crafted
      // distinct documents with colliding digests (plausible in an
      // adversarial web crawl) would silently collapse to one
      // representative under a broken hash, violating the documented
      // result-invisibility; the embedding twin avoids the issue by
      // grouping on the raw vector.
      val sigged = base.withColumn("__sig", sha2(col("__text"), 256))
      val repOf = sigged.groupBy("__sig")
        .agg(min(col("doc_id")).as("__rep"))
      val mapped = sigged.join(repOf, "__sig")
        .select(col("doc_id"), col("__rep"), col("__text"))
      val reps = mapped.filter(col("doc_id") === col("__rep"))
        .select(col("doc_id"), col("__text"))
      val inner = nearDedupPipeline(reps, col("doc_id"), col("__text"),
          jaccardThreshold, exactFirst = false)
        .select(col("doc_id").as("__rep"), col("leader_id").as("__rl"))
      return mapped.select(col("doc_id"), col("__rep"))
        .join(inner, Seq("__rep"))
        .select(col("doc_id"), col("__rl").as("leader_id"))
        .withColumn("keep", col("doc_id") === col("leader_id"))
    }
    val candidates = minHashCandidatePairs(docs, idCol, textCol)
    // cache (lazy, recomputable) so the cluster loop's symmetric-edge
    // union reads the MinHash+Jaccard subtree once instead of twice —
    // unlike localCheckpoint this neither executes at plan-construction
    // time nor gives up lineage-based fault tolerance
    val verified = jaccardOnPairs(candidates, docs, idCol, textCol)
      .filter(col("jaccard") >= jaccardThreshold)
      .select("a_id", "b_id")
      .cache()
    val leaders = clusterLeaders(verified)
    docs.select(idCol.as("doc_id"))
      .join(leaders, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("leader_id"), col("doc_id")).as("leader_id"))
      .withColumn("keep", col("doc_id") === col("leader_id"))
  }

  /** Corpus-scale embedding near-duplicate pairs: random-hyperplane
    * LSH buckets → within-bucket candidate pairs → exact cosine
    * verification above the threshold. The scale path that replaces
    * [[embeddingNearDupPairs]]'s all-pairs block form.
    *
    * Plan shape: candidates are scored IN PLACE inside each
    * (table, bucket) group by the band-cell scorer
    * ([[Similarity.bucketLocalThresholdPairs]]) — quantized codes ride
    * on the band rows, a rigorous cosine upper bound prunes inside the
    * cell loop, and only the SURVIVORS (the output pair set plus a
    * bound-width margin) reach an exchange, are deduped and re-scored
    * exactly. A candidate-join shape (bare id pairs through a
    * candidate-sized distinct, vectors re-joined afterwards) showed
    * that distinct growing 100× (Θ(Σ m²) rows) on the 10× replica
    * corpus, while the banded-corpus shuffle is linear; the hot-bucket
    * triangle sub-blocking caps per-task work at maxBucketRows² pairs,
    * result-invisibly. The candidate-join form is kept under src/test
    * as the equality oracle.
    *
    * Recall is tunable: a pair at angle θ collides in one table with
    * p₁ = (1 − θ/π)^planesPerTable and overall 1 − (1 − p₁)^numTables.
    * The defaults (4 planes × 12 tables) give ≈ 0.9 recall at
    * cos ≥ 0.3 and ≈ 1 at cos ≥ 0.7; for a true near-dup threshold
    * (≥ 0.9) raise planesPerTable to 8–16 for much smaller buckets at
    * the same recall. False positives are impossible — every emitted
    * pair passed the exact verification. */
  def embeddingNearDupPairsBucketed(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      threshold: Double,
      numTables: Int = 12,
      planesPerTable: Int = 4,
      dim: Int = 64,
      seed: Long = 42L,
      maxBucketRows: Int = 2048): DataFrame =
    // r15: the THRESHOLD engine — band rows carry an int8-quantized
    // payload (~3× fewer banded-shuffle bytes), buckets prune with a
    // rigorous cosine upper bound, and only the survivors are scored
    // exactly — the emitted pair set and sims are IDENTICAL to float
    // scoring's (see bucketLocalThresholdPairs; equality + the
    // boundary-adversarial spec in DedupSpec). The engine returns one
    // row per DISTINCT candidate pair, sim exact, so no cross-table
    // dedup aggregate is needed anymore — one less exchange.
    Similarity.bucketLocalThresholdPairs(
        df.select(idCol.as("__id"), vecCol.as("__v")), "__id", "__v",
        threshold, numTables, planesPerTable, dim, seed, maxBucketRows)
      .filter(col("sim") > threshold)
      .select(col("a_id"), col("b_id"), round(col("sim"), 4).as("cos_sim"))

  /** SemDeDup-shape embedding cluster dedup, end to end: hyperplane-
    * bucketed near-dup pairs ([[embeddingNearDupPairsBucketed]]) →
    * iterative min-label connected components ([[clusterLeaders]]) →
    * one keeper per cluster (the min id). The embedding twin of the
    * text-side [[nearDedupPipeline]]: same verdict schema, same
    * O(diameter)-round CC, candidate generation bounded by LSH
    * buckets instead of MinHash bands. Singletons keep themselves.
    *
    * Output: (vec_id, cluster_id, keep) — keep as 0/1 long for
    * cross-engine dtype stability. */
  def embeddingClusterDedup(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      threshold: Double,
      exactFirst: Boolean = false): DataFrame = {
    if (exactFirst) {
      // The embedding twin of nearDedupPipeline's exact-first
      // cascade (see its scaladoc for the invisibility argument —
      // identical vectors get identical hyperplane buckets and
      // cosine 1 ≥ threshold, so collapsing them to the min-id rep
      // changes candidate WORK, not results). Grouping is on the
      // vector itself (collision-free; one narrow shuffle carrying
      // dim floats per distinct vector — still a fraction of the
      // pair pipeline's exchange). Documented edge as in the text
      // cascade: identical all-zero vectors collapse here but are
      // singletons in the plain path (cosine with a zero vector is
      // NULL, never ≥ threshold).
      val base = df.select(idCol.as("vec_id"), vecCol.as("__v"))
      val repOf = base.groupBy("__v").agg(min(col("vec_id")).as("__rep"))
      val mapped = base.join(repOf, Seq("__v"))
        .select(col("vec_id"), col("__rep"), col("__v"))
      val reps = mapped.filter(col("vec_id") === col("__rep"))
        .select(col("vec_id"), col("__v"))
      val inner = embeddingClusterDedup(reps, col("vec_id"), col("__v"),
          threshold, exactFirst = false)
        .select(col("vec_id").as("__rep"), col("cluster_id").as("__cl"))
      return mapped.select(col("vec_id"), col("__rep"))
        .join(inner, Seq("__rep"))
        .select(col("vec_id"), col("__cl").as("cluster_id"),
          (col("vec_id") === col("__cl")).cast("long").as("keep"))
    }
    val pairs = embeddingNearDupPairsBucketed(df, idCol, vecCol, threshold)
      .select(col("a_id"), col("b_id"))
    val leaders = clusterLeaders(pairs)
      .select(col("doc_id").as("vec_id"), col("leader_id"))
    df.select(idCol.as("vec_id"))
      .join(leaders, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("leader_id"), col("vec_id")).as("cluster_id"),
        (coalesce(col("leader_id"), col("vec_id")) === col("vec_id"))
          .cast("long").as("keep"))
  }

  /** Benchmark decontamination: for every corpus doc, count the
    * distinct token `n`-grams it shares with a benchmark/eval set —
    * the standard train-set contamination check (GPT-3 App. C /
    * Gopher-style n-gram overlap).
    *
    * Shape at 100 TB: per-doc distinct n-grams (map-side, zero
    * shuffle), one hash shuffle to join corpus n-grams against the
    * benchmark's distinct n-grams (the benchmark side is the small
    * one — Catalyst broadcasts it under the threshold; with AQE the
    * runtime size decides), then a per-doc count. The corpus is never
    * self-joined and the join fan-out is bounded by benchmark n-gram
    * multiplicity. Join key is the n-gram string so the result is
    * engine-portable (hash the key upstream if shuffle width ever
    * dominates — same output, modulo 64-bit collisions).
    *
    * Output: one row per corpus doc — (id, n_overlap, contaminated),
    * zero-overlap docs included.
    *
    * `idCol`/`textCol` are resolved against BOTH frames, so corpus
    * and benchmark must carry those columns under the same names
    * (select/rename the benchmark side first if it differs). */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int): DataFrame = {
    val hits = docNgrams(corpus, idCol, textCol, n)
      .join(benchNgrams(benchmark, idCol, textCol, n), Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
    corpus.select(idCol.as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
  }

  /** The benchmark side of [[decontaminate]]: the distinct word
    * `n`-grams of `benchmark`'s texts, one column `g`. */
  def benchNgrams(
      benchmark: DataFrame, idCol: Column, textCol: Column,
      n: Int): DataFrame =
    docNgrams(benchmark, idCol, textCol, n).select("g").distinct()

  /** The rows of `corpus` sharing no word `n`-gram with `benchGrams`
    * (a [[benchNgrams]] set, built once by a caller that cleans many
    * batches against one benchmark: the incremental clean folds p03
    * and p06). A row is dropped when ANY row of its id has a hit, and
    * a row without an id is dropped — the semantics of
    * [[decontaminate]]'s flag table filtered to zero overlap and
    * semi-joined back on the id, which stays the batch form and the
    * oracle. The hits are a semi-join, so the planner sizes them from
    * the corpus side alone: one anti-join against them, broadcast
    * while the batch is small. */
  def withoutNgramHits(
      corpus: DataFrame, benchGrams: DataFrame, idCol: Column,
      textCol: Column, n: Int): DataFrame = {
    val hits = docNgrams(corpus, idCol, textCol, n)
      .join(benchGrams, Seq("g"), "left_semi")
      .select(col("doc_id").as("__hit_id"))
    corpus.filter(idCol.isNotNull)
      .join(hits, idCol === col("__hit_id"), "left_anti")
  }

  /** One row per (doc, distinct word `n`-gram of its lower-cased
    * tokens): `(doc_id, g)`, the n-gram side of [[decontaminate]] and
    * [[withoutNgramHits]]. The token column is computed
    * BEFORE `wordNgrams` reads it: inlined, the tokenizer would re-run
    * inside the n-gram lambda once per gram element (lambda bodies get
    * no common-subexpression elimination). */
  private def docNgrams(
      df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame =
    df.select(idCol.as("doc_id"), TextFns.tokensLower(textCol).as("__tk"))
      .select(col("doc_id"),
        explode(array_distinct(TextFns.wordNgrams(col("__tk"), n))).as("g"))

  /** Embedding-space decontamination: for every corpus vector, the
    * max cosine against a (small) eval/benchmark embedding set, plus
    * a contamination flag — the semantic complement of the n-gram
    * [[decontaminate]] (paraphrased eval leakage that shares no
    * 8-gram still lands near the eval point in embedding space).
    *
    * Shape at 100 TB: the eval set is the tiny side by construction
    * (benchmarks are thousands of rows, the corpus is billions), so
    * it is broadcast and the corpus is scanned ONCE map-side — a
    * broadcast nested loop whose inner side is |eval|, then a per-id
    * max partial-aggregated before the one hash shuffle. No corpus
    * self-join, no index needed; for repeated screening against many
    * benchmarks, concat the eval sets and tag rows.
    *
    * The flag compares the ROUNDED max (4 dp, the same rounding the
    * output carries) against the threshold so the verdict is
    * reproducible across engines whose last-ulp cosines differ. */
  def semanticDecontaminate(
      corpus: DataFrame,
      eval: DataFrame,
      idCol: Column,
      vecCol: Column,
      threshold: Double): DataFrame = {
    val ev = eval.select(vecCol.as("__ev"))
    corpus.select(idCol.as("vec_id"), vecCol.as("__v"))
      .crossJoin(broadcast(ev))
      .groupBy("vec_id")
      .agg(max(Similarity.cosine(col("__v"), col("__ev"))).as("__mx"))
      .select(col("vec_id"),
        round(col("__mx"), 4).as("max_eval_sim"),
        (round(col("__mx"), 4) > threshold).cast("long").as("contaminated"))
  }

  /** Pairwise corpus overlap between sources: distinct token
    * `n`-grams per source, then Jaccard over each source pair that
    * shares at least one shingle — the provenance-level mirror of
    * doc-level near-dup (which upstream crawl snapshots duplicate
    * each other, and how much, before any doc-level pass runs).
    *
    * Shape at 100 TB: explode → per-source distinct (one hash
    * shuffle on (source, gram)), then a self-equi-join ON THE GRAM
    * (never all-pairs across rows) whose output is bounded by
    * |sources|² — a handful of rows however large the corpus. The
    * distinct shingle frame is computed once and cached lazily for
    * its two readers (join sides + per-source counts); blocks are
    * recomputable and LRU-evicted under pressure. */
  def sourceOverlap(
      docs: DataFrame,
      sourceCol: Column,
      textCol: Column,
      n: Int = 5): DataFrame = {
    val sh = docs
      .select(sourceCol.as("src"), TextFns.tokensLower(textCol).as("__tk"))
      .select(col("src"),
        explode(array_distinct(TextFns.wordNgrams(col("__tk"), n))).as("g"))
      .distinct()
      .cache()
    val counts = sh.groupBy("src").agg(count(lit(1)).as("n_grams"))
    val inter = sh.select(col("src").as("source_a"), col("g"))
      .join(sh.select(col("src").as("source_b"), col("g")), Seq("g"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(counts.select(col("src").as("source_a"), col("n_grams").as("n_a")),
        Seq("source_a"))
      .join(counts.select(col("src").as("source_b"), col("n_grams").as("n_b")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"),
        (floor(col("n_common") / (col("n_a") + col("n_b") - col("n_common"))
          * 10000) / 10000).as("jaccard"))
  }

  /** Per-doc duplicated-span profile — the exact-substring-dedup
    * signal (the "remove any substring occurring more than once in
    * the corpus" family): for each doc, the fraction of its `w`-token
    * windows whose exact window text occurs at ≥2 POSITIONS
    * corpus-wide — in another doc or repeated within this one (a
    * boilerplate header pasted twice is duplicated text either way).
    * Every window position counts once, so `dup_frac` reads as "the
    * share of this doc covered by text that exists elsewhere".
    *
    * Shape at 100 TB: one hash shuffle on the window string for the
    * position count, one more to score docs — the t05/t18 n-gram
    * regime (vocabulary-sized aggregate, nothing broadcast, nothing
    * all-pairs). `hashWindows = true` is the shuffle-width knob: an
    * 8-token window string averages ~50 bytes, so hashing each window
    * to 64 bits upstream of the shuffle moves ~6× less data through
    * the count exchange and the scoring join — same verdicts modulo
    * xxhash64 collisions (~N²/2⁶⁵ expected false "duplicated"
    * windows; parity spec in DedupSpec), the shape unchanged. The
    * window frame is cached lazily for its two readers (count +
    * scoring join); blocks are recomputable and LRU-evicted.
    * Docs shorter than `w` tokens have no windows and no row. */
  def duplicatedSpanProfile(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      w: Int = 8,
      hashWindows: Boolean = false): DataFrame = {
    val wins = docs
      .select(idCol.as("doc_id"), TextFns.tokensLower(textCol).as("__tk"))
      .select(col("doc_id"),
        explode(TextFns.wordNgrams(col("__tk"), w)).as("__g0"))
      // hashing happens in the same map stage, before the exchange
      .select(col("doc_id"),
        (if (hashWindows) xxhash64(col("__g0")) else col("__g0")).as("g"))
      .cache()
    val counts = wins.groupBy("g").agg(count(lit(1)).as("__c"))
    wins.join(counts, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__c") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        (floor(col("n_dup") / col("n_windows") * 10000) / 10000)
          .as("dup_frac"))
  }

  /** Persist the corpus-wide window-position counts behind
    * [[duplicatedSpanProfile]] as a window-bucketed, window-sorted
    * table — the dedup-signal member of the write-once/probe-many
    * layout family ([[writeBandedLayout]], the FTS and IVF layouts):
    * the explode + count shuffle over the corpus is paid once per
    * publish, and every later scoring pass probes the layout with a
    * bucketed equi-join instead of recounting the corpus. */
  def writeSpanIndex(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      table: String,
      w: Int = 8,
      numBuckets: Int = 32): Unit =
    Layouts.publish(
      docs.select(TextFns.tokensLower(textCol).as("__tk"))
        .select(explode(TextFns.wordNgrams(col("__tk"), w)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("n_pos")),
      table, "span_index", Seq("g"), numBuckets,
      props = Map("w" -> w.toString))

  /** Score docs against a published [[writeSpanIndex]] layout.
    * `minCount = 2` (default) scores MEMBERS of the indexed corpus
    * and reproduces [[duplicatedSpanProfile]] exactly (a member's
    * own window contributes one position, so duplication needs a
    * second). `minCount = 1` screens EXTERNAL docs: any window
    * present in the published corpus at all is duplicated text —
    * incremental span screening without an index rebuild (rebuild
    * cadence is a publish decision, exactly as for the IVF layout's
    * quantizer). Only the probe side shuffles; the index side is a
    * bucketed scan with no exchange. */
  def dupSpansFromIndex(
      spark: SparkSession,
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      table: String,
      w: Int = 8,
      minCount: Long = 2L): DataFrame = {
    val wins = docs
      .select(idCol.as("doc_id"), TextFns.tokensLower(textCol).as("__tk"))
      .select(col("doc_id"),
        explode(TextFns.wordNgrams(col("__tk"), w)).as("g"))
    // the index side scans bucketed (exchange-free) — the engine's
    // sessions run with autoBucketedScan off (see [[Layouts]]) so the
    // probe never has to mutate shared session conf
    wins.join(spark.table(table), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(coalesce(col("n_pos"), lit(0L)) >= minCount, 1L)
          .otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        (floor(col("n_dup") / col("n_windows") * 10000) / 10000)
          .as("dup_frac"))
  }

  /** Exact-substring dedup REWRITE — the action half of the
    * [[duplicatedSpanProfile]] signal (the "remove any substring
    * occurring more than once in the corpus" family, Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better",
    * adapted from byte-level suffix arrays to the engine's w-token
    * window regime): every `w`-token window occurring at ≥2 positions
    * corpus-wide keeps its globally-FIRST occurrence (min
    * `(doc_id, pos)` — deterministic, retry-stable) and every token
    * covered by a later occurrence is dropped from its doc. Output
    * per doc: token count, removed-token count, and the rewritten
    * token stream (lowercased, space-joined — the same normalized
    * stream every downstream t-family op consumes).
    *
    * Shape at 100 TB: the d16 regime plus one doc-keyed shuffle —
    * window count+argmin is a vocabulary-sized aggregate (map-side
    * partials; `min(struct(doc_id, pos))` rides the same exchange as
    * the count), removable positions regroup on doc_id, and the
    * rewrite is a per-doc lambda. Per-doc cost is
    * O(tokens × removed_spans) worst-case — bounded by doc length²,
    * fine for web-doc sizes; a suffix-automaton rewrite would be the
    * escape hatch for degenerate book-length repeats. Removing a span
    * can create a NEW duplicated window across the seam (noted by Lee
    * et al. too); one pass is the standard fixpoint approximation. */
  def exactSubstringDedup(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      w: Int = 8): DataFrame = {
    val tok = docs.select(idCol.as("doc_id"),
      TextFns.tokensLower(textCol).as("tk"))
    // pos is 1-based so it indexes tk directly (element_at semantics)
    // NOT cached despite two readers (count + first-position join):
    // measured 2.5 s uncached vs 3.0 s cached at sf0.1 — recomputing
    // the codegen'd scan+split+concat beats materializing the full
    // window strings (unlike d16, whose second reader re-reads the
    // whole frame rather than joining through a g-keyed exchange)
    val wins = tok
      .select(col("doc_id"),
        posexplode(TextFns.wordNgrams(col("tk"), w)).as(Seq("__p0", "g")))
      .select(col("doc_id"), (col("__p0") + 1).as("pos"), col("g"))
    val counts = wins.groupBy("g")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id").as("d"), col("pos").as("p"))).as("first"))
    val rem = wins.join(counts, Seq("g"))
      .filter(col("cnt") >= 2 &&
        !(col("doc_id") === col("first.d") && col("pos") === col("first.p")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("rps"))
    rewriteDroppingSpans(tok, rem, w)
  }

  /** Shared rewrite tail: drop every token of `tok` covered by a
    * removable window start in `rem` (doc_id → sorted `rps` array).
    * Docs absent from `rem` pass through untouched. */
  private def rewriteDroppingSpans(
      tok: DataFrame, rem: DataFrame, w: Int): DataFrame =
    tok.join(rem, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tk"),
        filter(sequence(lit(1), size(col("tk"))),
          i => !exists(coalesce(col("rps"), array().cast("array<int>")),
            p => p <= i && i < p + w)).as("kept"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(transform(col("kept"),
          i => element_at(col("tk"), i)), " ").as("clean_text"))

  /** Cross-split leakage audit — d10's decontamination question asked
    * of the pipeline's OWN split (t14) instead of an external
    * benchmark: for each held-out doc, the share of its `w`-token
    * windows that appear anywhere in the training split. A retrieval-
    * quality eval is meaningless if its answers sit verbatim in
    * train; this is the audit run before trusting any held-out
    * metric. `inTrain` marks the training rows; every other row of
    * `docs` is audited (pre-filter val out if only test matters).
    *
    * Shape at 100 TB: the train n-gram set is DISTINCT windows (one
    * hash-agg — vocabulary-sized, NOT broadcast), probe is a hash
    * equi-join on the window, exactly d16's n-gram regime; the
    * distinct also bounds join multiplicity (each probe window hits
    * at most one train row). */
  def crossSplitLeakage(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      inTrain: Column,
      w: Int = 8): DataFrame = {
    val base = docs.select(idCol.as("doc_id"), inTrain.as("__tr"),
      TextFns.tokensLower(textCol).as("__tk"))
    val wins = base.select(col("doc_id"), col("__tr"),
      explode(TextFns.wordNgrams(col("__tk"), w)).as("g"))
    val trainGrams = wins.filter(col("__tr")).select("g").distinct()
    wins.filter(!col("__tr"))
      .join(trainGrams.select(col("g"), lit(1L).as("__hit")),
        Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_leaked"),
        (floor(sum(coalesce(col("__hit"), lit(0L))) /
          count(lit(1)) * 10000) / 10000).as("leak_frac"))
  }

  /** The ACTION twin of [[crossSplitLeakage]] — the d16→d17
    * signal→action pattern applied to splits. Test docs with ANY
    * train-window leakage are reassigned into train: a leaked doc
    * cannot serve as held-out, and its windows already live in
    * train, so train is where it belongs (dropping it instead would
    * silently shrink the eval set — reassignment keeps the corpus
    * intact and the decision auditable in the old/new columns).
    * Train and val assignments are untouched; by construction the
    * re-audited leak rate of the regenerated test split is zero
    * (spec-asserted). `splitCol` must carry 'train'/'val'/'test'.
    *
    * Shape at 100 TB: the audit's cost plus one doc-id equi-join of
    * the full corpus against the (small) leaked-doc set — Spark
    * broadcasts the leaked side when it fits. */
  def regenerateSplit(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      splitCol: Column,
      w: Int = 8): DataFrame = {
    val base = docs.select(idCol.as("doc_id"), textCol.as("__tx"),
      splitCol.as("old_split"))
    val leaked = crossSplitLeakage(
        base.filter(col("old_split") =!= "val"),
        col("doc_id"), col("__tx"), col("old_split") === "train", w)
      .filter(col("n_leaked") > 0)
      .select(col("doc_id"), lit(1).as("__lk"))
    base.join(leaked, Seq("doc_id"), "left")
      .select(col("doc_id"), col("old_split"),
        when(col("old_split") === "test" && col("__lk").isNotNull,
          "train").otherwise(col("old_split")).as("new_split"))
  }

  /** [[exactSubstringDedup]]'s rewrite against a PUBLISHED
    * [[writeSpanIndex]] layout instead of a self-count: every window
    * of the probe docs present in the index at ≥ `minCount` positions
    * is duplicated text and its tokens are cut. With the default
    * `minCount = 1` this rewrites EXTERNAL docs against the published
    * corpus — the canonical copy lives in the corpus, so there is no
    * first-occurrence election to run and every hit is removable
    * (the action twin of [[dupSpansFromIndex]]'s screen, and the
    * batch body of the incremental p10 stage). Only the probe side
    * shuffles; the index side is a bucketed scan with no exchange. */
  def rewriteFromIndex(
      spark: SparkSession,
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      table: String,
      w: Int = 8,
      minCount: Long = 1L): DataFrame = {
    val tok = docs.select(idCol.as("doc_id"),
      TextFns.tokensLower(textCol).as("tk"))
    val wins = tok
      .select(col("doc_id"),
        posexplode(TextFns.wordNgrams(col("tk"), w)).as(Seq("__p0", "g")))
      .select(col("doc_id"), (col("__p0") + 1).as("pos"), col("g"))
    // bucketed index scan, no session-conf mutation (see [[Layouts]])
    val rem = wins.join(spark.table(table), Seq("g"))
      .filter(col("n_pos") >= minCount)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("rps"))
    rewriteDroppingSpans(tok, rem, w)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold over an
    * id-bounded block. The full-corpus scale path is
    * [[embeddingNearDupPairsBucketed]]; this operator does exact
    * verification on a candidate block and serves as its recall
    * oracle. */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      threshold: Double): DataFrame = {
    val v = df.select(idCol.as("vec_id"), vecCol.as("v"))
    val a = v.select(col("vec_id").as("a_id"), col("v").as("va"))
    val b = v.select(col("vec_id").as("b_id"), col("v").as("vb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .filter(col("sim") > threshold)
      .select(col("a_id"), col("b_id"), round(col("sim"), 4).as("cos_sim"))
  }
}
