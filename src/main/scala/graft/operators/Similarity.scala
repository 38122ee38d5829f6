package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Three paths:
  *  - [[knnBrute]]: exact cosine top-k. O(N·Q): the query set is
  *    broadcast, the corpus streams — correct baseline and the
  *    recall oracle for the approximate paths.
  *  - [[lshAnn]]: random-hyperplane LSH. Buckets cut the candidate
  *    set before any join; multi-probe (1-bit flips) recovers recall.
  *  - [[ivfAnn]]: IVF-style coarse quantization — centroids from the
  *    data, queries probe the nearest `nprobe` cells only.
  *
  * All vector math is built-in higher-order functions
  * (zip_with/aggregate) evaluated in double precision — no UDFs, no
  * collect. A native Catalyst Expression with doGenCode is the
  * planned round-2 upgrade for the dot-product inner loop.
  */
object Similarity {

  /** Elementwise double cast (float parquet vectors → stable math). */
  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** HOF dot product (zip_with/aggregate) — portability fallback;
    * [[dotNative]] is the codegen path used in hot loops. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  /** Fused-codegen dot product ([[graft.plans.DotProduct]]): one JIT
    * loop instead of an interpreted lambda per element. */
  def dotNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.DotProduct(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity via the native codegen'd
    * [[graft.plans.CosineSim]] expression: one fused loop, stays in
    * whole-stage codegen. Double-precision left-to-right
    * accumulation — numerically identical to [[cosineHof]] and to
    * DuckDB's list_cosine_similarity on DOUBLE[]. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.CosineSim(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** The same computation composed from built-in higher-order
    * functions (zip_with + aggregate): three array traversals through
    * lambda dispatch. Kept as the portability fallback and the
    * benchmark baseline for the native expression. */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = asDouble(a)
    val bd = asDouble(b)
    dot(ad, bd) / (l2norm(ad) * l2norm(bd))
  }

  /** Exact cosine top-k: for each row of `queries`, the k nearest
    * rows of `corpus` (self excluded by id). Queries are broadcast;
    * the per-query top-k is a window over (query, sim) — which sorts
    * the WHOLE corpus per query in a single task. Test-oracle only:
    * [[knnBruteAgg]] is the identical-output scale path (map-side
    * k-row heaps, no per-query sort) and is what SparkEntry wires. */
  def knnBrute(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    c.join(q, col("cand_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("cand_id"))
  }

  /** Top-k per group via the bounded-heap aggregate
    * ([[graft.plans.TopKPairs]]): identical output to the window
    * row_number form, but the plan is a hash aggregate with k-row
    * state and map-side partials — no per-group sort of the full
    * candidate set. */
  def topKAgg(score: Column, id: Column, k: Int,
      dedupIds: Boolean = false): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(
      graft.plans.TopKPairs(
        GraftBridge.expression(score.cast("double")),
        GraftBridge.expression(id.cast("long")), k, dedupIds)
        .toAggregateExpression())
  }

  /** Re-rank candidate budget for the quantized ANN paths: k·candMult
    * with a corpus-proportional floor of n/16 (capped at 2¹⁶). The
    * FRESH-corpus sweep (round 13, non-replicated 20k vectors) showed
    * a fixed budget starving recall as the corpus grows — quantization
    * "confusers" that outscore a true neighbor accumulate ∝ n at
    * fixed codebook bits, so the re-rank set must grow with n: pq
    * cb=64 measured cm=64 → 0.809 but n/16 (≈ cm=256 here) → 0.958
    * at FLAT wall (the ADC scan dominates; re-ranking 6% of the
    * corpus exactly is cheap). The cap keeps the floor from eating
    * the probe at 10⁸⁺ rows — past it, raise codebook bits instead
    * (cb=128/cm=256 measured 0.986): error per candidate, not
    * candidate count, is the scalable lever. */
  private def rerankBudget(k: Int, candMult: Int, n: Long): Int =
    math.max(k * candMult, math.min(n / 16, 1L << 16).toInt)

  /** Retention prune (rank ≤ k OR score > threshold) as ONE
    * bounded-state aggregate ([[graft.plans.ThresholdTopKPairs]]) —
    * the single-pass replacement for filter ∪ degree-join ∪ top-k
    * over a persisted candidate stream (see graphFold's threshold
    * path). With `dedupIds = true` the output is id-unique across
    * BOTH sides of the threshold, best score wins — same semantics
    * as [[topKAgg]]'s dedup, so general callers whose candidate
    * streams carry an id at differing scores (not just the LSH
    * folds' bit-equal duplicates) get top-k-over-distinct-ids. */
  def thresholdTopKAgg(score: Column, id: Column, k: Int,
      threshold: Double, dedupIds: Boolean = false): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(
      graft.plans.ThresholdTopKPairs(
        GraftBridge.expression(score.cast("double")),
        GraftBridge.expression(id.cast("long")), k, threshold, dedupIds)
        .toAggregateExpression())
  }

  /** knnBrute with the aggregate-based top-k (same results, scalable
    * plan: no window sort). */
  def knnBruteAgg(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    c.join(q, col("cand_id") =!= col("q_id"))
      .groupBy(col("q_id"))
      .agg(topKAgg(cosine(col("qv"), col("cv")), col("cand_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("cand_id"))
  }

  /** Bucket-bounded k-NN GRAPH over the whole corpus: every vector's
    * top-k nearest neighbors among its LSH bucket co-occupants — the
    * all-nodes neighbor graph SemDeDup-style cluster dedup and graph
    * clustering consume (vs [[knnBruteAgg]], which answers a BOUNDED
    * query set exactly; an all-pairs brute graph is O(n²) and never
    * viable at corpus scale). Candidates come from the same
    * multi-table hyperplane buckets as the embedding near-dup path:
    * a bucket equi-join bounds pair generation, each undirected
    * candidate pair is scored once (one codegen cosine), and the
    * per-node top-k is the bounded-heap aggregate — map-side
    * partials, k-row state, no per-node sort. At 100 TB: one banded
    * shuffle + one pair shuffle, both LSH-bounded; recall is tuned by
    * numTables/planesPerTable exactly as d07.
    * Output: (vec_id, rank, nbr_id, sim), rank 1..≤k (a node in no
    * shared bucket yields no rows — isolated under this banding). */
  /** The exploded (vec_id, tbl, bkt) multi-table hyperplane band
    * table — the ANN candidate-generation shuffle key, factored out
    * so it can feed the one-shot graph ([[knnGraphBucketed]]) or be
    * accumulated incrementally
    * ([[graft.streaming.Streams.incrementalKnnGraph]]). */
  def embBandTable(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numTables: Int = 12,
      planesPerTable: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val v = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    v.select(col("vec_id"), posexplode(
        hyperplaneBuckets(col("v"), numTables, planesPerTable, dim, seed)))
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("bkt"))
  }

  def knnGraphBucketed(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numTables: Int = 12,
      planesPerTable: Int = 4,
      dim: Int = 64,
      seed: Long = 42L,
      maxBucketRows: Int = 2048): DataFrame =
    // bigint ids: the FUSED top-k partition scorer — per-node k-heaps
    // maintained inside the Σm² cell loop, so the pair stream is
    // never materialized at all (the pair-emitting forms push every
    // candidate through a row encoder or SMJ row plumbing just for
    // the aggregate to throw it away — see symTopKFromBanded).
    if (corpus.schema(idCol).dataType ==
        org.apache.spark.sql.types.LongType) {
      val banded = bandedWithVecs(corpus, idCol, vecCol, numTables,
        planesPerTable, dim, seed).cache()
      banded.count()
      retireBandedCaches(Seq(banded))
      symTopKFromBanded(banded, k, dedupIds = true, maxBucketRows)
    } else symTopK(
      bucketLocalScoredPairs(corpus, idCol, vecCol, numTables,
        planesPerTable, dim, seed, maxBucketRows),
      k, dedupIds = true)

  /** The candidate-JOIN form knnGraphBucketed used through round 10:
    * bare-id pairs → global distinct → two vector-fetch joins →
    * cosine → top-k. Output-identical to the bucket-local form (the
    * equality is spec'd in SimilaritySpec), but every within-bucket
    * candidate OCCURRENCE becomes a shuffled row and the distinct is
    * a candidate-sized exchange — at sf1.0 that exchange (~10⁸ rows)
    * was 90+ % of s16's wall. Kept as the test-side oracle. */
  private[graft] def knnGraphCandidateJoin(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numTables: Int = 12,
      planesPerTable: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val v = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    // cache (lazy): the bucket self-join reads this frame for both
    // sides — same rationale as the near-dup pair generator
    val banded = embBandTable(corpus, idCol, vecCol, numTables,
      planesPerTable, dim, seed).cache()
    val pairs = banded.alias("a").join(banded.alias("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    val scored = pairs
      .join(v.select(col("vec_id").as("a_id"), col("v").as("va")), "a_id")
      .join(v.select(col("vec_id").as("b_id"), col("v").as("vb")), "b_id")
      .select(col("a_id"), col("b_id"),
        cosine(col("va"), col("vb")).as("sim"))
    symTopK(scored, k)
  }

  /** Bucket-LOCAL LSH pair scoring — the shared candidate engine of
    * the embedding near-dup pairs ([[graft.operators.Dedup
    * .embeddingNearDupPairsBucketed]]) and the k-NN graph
    * ([[knnGraphBucketed]]). Same multi-table hyperplane banding as
    * [[embBandTable]] (identical buckets for identical params/seed),
    * but vectors RIDE ON the band rows and each (tbl, bkt) bucket is
    * scored in place: the pair join's output flows straight into the
    * codegen cosine inside the same stage — no exchange ever carries
    * a candidate pair. What shuffles is the banded corpus itself
    * (n·numTables rows × dim floats — linear in corpus size and
    * independent of dup mass), vs the candidate-join form's Θ(Σ m²)
    * bare-id pair exchange + distinct, which the 10× replica corpus
    * showed growing 100× (BENCH_FULL.md round 11: the sf1.0 pair
    * monsters). The crossover favors id-pairs only when candidates
    * are SPARSER than n·dim/4 — never true for near-dup banding,
    * whose buckets are sized to catch pairs.
    *
    * Hot-bucket guard (result-invisible): same triangle sub-blocking
    * as [[graft.operators.Dedup.fuzzyMatchPairs]] — bucket sizes are
    * measured (one narrow count, broadcast back: O(tables·2^planes)
    * rows), buckets above `maxBucketRows` split into g deterministic
    * sub-blocks by id hash, and each unordered sub-block CELL (i ≤ j)
    * scores once, so per-task work is capped at maxBucketRows² dots
    * and per-task memory at the join's bounded key group — a hot
    * bucket becomes more tasks, not a bigger one. Cold buckets take
    * g = 1 (exactly the plain within-bucket join), so the emitted
    * pair set is IDENTICAL for any cap.
    *
    * Output: (a_id, b_id, sim) with a_id < b_id, self-pairs excluded,
    * one row per SHARED table (duplicates across tables carry
    * bit-equal sims — CosineSim is exactly symmetric and the pair's
    * vectors are the same in every occurrence); consumers dedup at
    * output granularity (near-dup: filter-then-distinct; graph:
    * the id-deduping top-k heap). The banded frame is cached and
    * materialized EAGERLY (one count): the scoring plan reads it
    * from four places (count frame, both tile sides, and AQE's
    * concurrent exchange materialization), and a lazy cache lets
    * those race — each stage recomputes the full projection pass
    * before any one of them commits the cache (measured: 4 parallel
    * 4.3 s stages doing identical work at sf1.0). One eager pass
    * pays the projections once; downstream stages read the cache.
    *
    * Cache lifecycle: the cached banded frame must outlive THIS
    * call (the returned pair plan is lazy and reads it at the
    * consumer's action), so it cannot unpersist here — instead each
    * call RETIRES the previous call's banded cache (generation
    * slot), capping residency at one n·numTables-row vector frame
    * per session instead of one per batch call; [[releaseBandedCache]]
    * drops the last one deterministically once its consumer has
    * acted. */
  private val liveBanded =
    new java.util.concurrent.atomic.AtomicReference[Seq[DataFrame]](Nil)

  /** Unpersist the most recent [[bucketLocalScoredPairs]] /
    * [[bucketLocalThresholdPairs]] banded caches. Safe to call after
    * the consuming action; a later call that still needs one would
    * transparently recompute. */
  def releaseBandedCache(): Unit = {
    val prev = liveBanded.getAndSet(Nil)
    prev.foreach(_.unpersist(false))
  }

  /** Install this call's cached frames as the live banded generation,
    * retiring the previous call's (capping cache residency at one
    * generation per session — see [[bucketLocalScoredPairs]]'s
    * lifecycle note). */
  private def retireBandedCaches(dfs: Seq[DataFrame]): Unit = {
    val prev = liveBanded.getAndSet(dfs)
    prev.filterNot(p => dfs.exists(_ eq p)).foreach(_.unpersist(false))
  }

  private[graft] def bucketLocalScoredPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numTables: Int,
      planesPerTable: Int,
      dim: Int,
      seed: Long,
      maxBucketRows: Int): DataFrame = {
    val banded = bandedWithVecs(corpus, idCol, vecCol, numTables,
      planesPerTable, dim, seed).cache()
    banded.count()
    retireBandedCaches(Seq(banded))
    scoredPairsFromBandedJoin(banded, maxBucketRows)
  }

  /** The vector-carrying band table (vec_id, v, tbl, bkt) —
    * [[embBandTable]] plus the vector riding each row, identical
    * bucket assignment for identical params/seed. Factored out so a
    * streaming fold can band its batch ONCE, derive the id-only band
    * rows for the stored probe layout (`.drop("v")` flows from the
    * same cache), and feed the vector-carrying rows to
    * [[scoredPairsFromBandedJoin]]. Caller caches.
    *
    * `spread = false` skips the pre-projection repartition for
    * callers whose input is already spread to the session's
    * parallelism (the streaming folds repartition each micro-batch
    * before banding — a second shuffle of the same rows buys
    * nothing). */
  private[graft] def bandedWithVecs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numTables: Int,
      planesPerTable: Int,
      dim: Int,
      seed: Long,
      spread: Boolean = true): DataFrame = {
    // Spread the corpus to the session's parallelism BEFORE the
    // projections: the numTables × planesPerTable hyperplane dots are
    // the compute-heavy step, and a single-file corpus would run them
    // on its 1-2 input splits (measured 11 s at 2 tasks vs <1 s
    // spread, sf1.0 — paid up to 4× while the lazy cache
    // materializes under concurrent downstream stages). The shuffle
    // moves the narrow (id, vector) rows once, linear in the corpus.
    val nParts = corpus.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val v0 = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val v = if (spread) v0.repartition(nParts) else v0
    // __n = the vector's exact L2 norm, computed ONCE per corpus row
    // (pre-explode, so numTables band rows share it) with the same
    // cast-then-accumulate order as [[graft.plans.CosineSim]]'s norm
    // loop: sqrt is exactly rounded, so dot/(a.__n · b.__n) downstream
    // is BIT-identical to CosineSim(a.v, b.v) while the Σm² pair pass
    // stops re-deriving both norms per candidate (r15, guide §1.2 —
    // the norms were 2/3 of every pair's fused-loop arithmetic).
    v.select(col("vec_id"), col("v"),
        l2norm(transform(col("v"), _.cast("double"))).as("__n"),
        posexplode(
          hyperplaneBuckets(col("v"), numTables, planesPerTable, dim, seed)))
      .select(col("vec_id"), col("v"), col("__n"), col("pos").as("tbl"),
        col("col").as("bkt"))
  }

  /** The scoring half of [[bucketLocalScoredPairs]]: triangle-tiled
    * within-bucket pair JOIN over a [[bandedWithVecs]] frame, cosine
    * inline. NOTE (r15): when the consumer immediately prunes or
    * filters the pair stream, the fused partition-scorer forms beat
    * this join ([[symRetainedPartialsFromBanded]] for the per-node
    * retention folds, [[thresholdSurvivorsFromBanded]] for
    * threshold-filter callers) — a pair-EMITTING mapPartitions form
    * was measured and REJECTED: pushing the Σm² stream through a row
    * encoder costs more than SMJ feeding codegen straight into the
    * downstream aggregate (s16 at sf1.0: 438 vs 151 CPU-s). This join
    * form remains the general pair source and the test-side equality
    * oracle. See [[bucketLocalScoredPairs]] for the contract. */
  private[graft] def scoredPairsFromBandedJoin(
      banded: DataFrame,
      maxBucketRows: Int): DataFrame = {
    require(maxBucketRows > 0, s"maxBucketRows must be positive: $maxBucketRows")
    // measure: bucket sizes (narrow keys, map-side-combined count),
    // broadcast back — the count frame is O(numTables · 2^planes)
    // rows regardless of corpus size. Fresh aliases on the count side
    // (counts derives from banded — self-join ambiguity otherwise).
    val counts = banded.groupBy(col("tbl"), col("bkt"))
      .agg(count(lit(1)).as("__m"))
      .select(col("tbl").as("__ctbl"), col("bkt").as("__cbkt"),
        col("__m"))
    val withSub = banded
      .join(broadcast(counts),
        col("tbl") === col("__ctbl") && col("bkt") === col("__cbkt"))
      .select(col("vec_id"), col("v"), col("__n"), col("tbl"), col("bkt"),
        when(col("__m") > maxBucketRows,
          ceil(col("__m") / lit(maxBucketRows.toDouble)).cast("long"))
          .otherwise(lit(1L)).as("__g"))
      .withColumn("__u", pmod(xxhash64(col("vec_id")), col("__g")))
    // triangle cells exactly as fuzzyMatchPairs: left owns the row
    // coordinate (i = u, j explodes up), right owns the column
    // (j = u, i explodes down) — every within-bucket pair lands in
    // exactly one (i, j) cell per shared table
    val left = withSub
      .withColumn("__j", explode(sequence(col("__u"), col("__g") - 1)))
      .withColumnRenamed("__u", "__i").drop("__g")
    val right = withSub
      .withColumn("__i", explode(sequence(lit(0L), col("__u"))))
      .withColumnRenamed("__u", "__j").drop("__g")
    // The quadratic scoring's parallelism must come from the
    // (table, bucket, cell) HASH, never from whatever partitioning
    // the banded frame happens to carry: left to the planner, the
    // byte-small band table gets broadcast (or its exchange
    // AQE-coalesced on input-byte stats that are blind to the join's
    // quadratic OUTPUT) and the whole Σm² cosine pass lands on the
    // input's file splits — measured on s16 at sf1.0: 259 s at 2
    // tasks on a cold cache vs 11 s at 32 tasks when a prior run's
    // materialized cache stats happened to force the shuffle.
    // Explicit repartition(n, keys) on BOTH sides
    // makes the plan deterministic: keys match the join's equi-keys
    // verbatim (all non-null, plain ===), so no ENSURE_REQUIREMENTS
    // re-shuffle lands for AQE to coalesce, and the explicit n is
    // never coalesced. Shuffled rows are the banded inputs
    // (linear + O(m²/maxBucketRows) hot-tile replication), not pairs.
    val nParts = banded.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val cellCols = Seq(col("tbl"), col("bkt"), col("__i"), col("__j"))
    val a = left.repartition(nParts, cellCols: _*).alias("a")
    val b = right.repartition(nParts, cellCols: _*).alias("b")
    // diagonal cells hold both orderings of each pair — keep one by
    // id (also excludes self-pairs); off-diagonal cells hold each
    // pair once (a vector's sub-block is a function of its id)
    val onceOnly = (col("a.__i") =!= col("a.__j")) ||
      (col("a.vec_id") < col("b.vec_id"))
    // dot / (a.__n · b.__n): the dot is the only per-pair loop — the
    // norms ride the band rows (computed once per corpus row in
    // [[bandedWithVecs]]), and the expression reproduces CosineSim's
    // dot / (sqrt(na) · sqrt(nb)) BIT-identically (same element casts,
    // same left-to-right double accumulation, sqrt exactly rounded;
    // equality spec'd against the candidate-join oracle, which still
    // scores with CosineSim). NULL parity holds too: unequal lengths
    // or a null element NULL the dot, and a null element NULLs __n.
    a.join(b,
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.__i") === col("b.__i") && col("a.__j") === col("b.__j") &&
          onceOnly)
      .select(least(col("a.vec_id"), col("b.vec_id")).as("a_id"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("b_id"),
        (dotNative(col("a.v"), col("b.v")) / (col("a.__n") * col("b.__n")))
          .as("sim"))
  }

  // ---- r15 PARTITION SCORER ---------------------------------------
  //
  // The triangle-cell pair loop as a mapPartitions over cell-sorted
  // band rows instead of a self-join: the join form pushed every
  // candidate PAIR through SMJ row materialization (~1 µs/pair —
  // 170 CPU-s of plumbing per 1.6e8 candidates at sf1.0 for ~10 CPU-s
  // of dot products). Here each (tbl, bkt, i, j) cell is buffered once
  // (≤ 2·maxBucketRows rows) and its pairs are scored in a tight
  // primitive loop; what shuffles is unchanged (the tagged band rows,
  // linear + hot-tile replication), so the 100 TB posture is the same.
  //
  // Cell tagging mirrors the join form's tiling EXACTLY: a row with
  // sub-block u owns the ROW coordinate of cells (u, j), j ∈ [u, g)
  // (side 0) and the COLUMN coordinate of cells (i, u), i ∈ [0, u)
  // (side 1). The diagonal cell appears ONCE on side 0 — the join
  // form carried it on both sides and kept `a.vec_id < b.vec_id`,
  // which is exactly "each unordered pair of the sub-block once".

  /** Triangle-cell tags for one band row: array of (i, j, side). */
  private def cellTags(u: Column, g: Column): Column = concat(
    transform(sequence(u, g - 1), j =>
      struct(u.cast("int").as("i"), j.cast("int").as("j"),
        lit(0).as("s"))),
    transform(slice(sequence(lit(0L), u), lit(1), u.cast("int")), i =>
      struct(i.cast("int").as("i"), u.cast("int").as("j"),
        lit(1).as("s"))))

  /** (__m per bucket broadcast back, __g sub-block count, __u this
    * row's sub-block) — identical derivation in the join and
    * partition forms. */
  private def withSubBlocks(banded: DataFrame, maxBucketRows: Int,
      payload: Seq[String]): DataFrame = {
    val counts = banded.groupBy(col("tbl"), col("bkt"))
      .agg(count(lit(1)).as("__m"))
      .select(col("tbl").as("__ctbl"), col("bkt").as("__cbkt"),
        col("__m"))
    banded
      .join(broadcast(counts),
        col("tbl") === col("__ctbl") && col("bkt") === col("__cbkt"))
      .select((payload.map(col) ++ Seq(col("tbl"), col("bkt"),
        when(col("__m") > maxBucketRows,
          ceil(col("__m") / lit(maxBucketRows.toDouble)).cast("long"))
          .otherwise(lit(1L)).as("__g"))): _*)
      .withColumn("__u", pmod(xxhash64(col("vec_id")), col("__g")))
  }

  /** Numeric vector → primitive doubles + null-element flag (the
    * float/double element cast the column form applied per pair is
    * done once per band row here). */
  private def vecToDoubles(a: Any): (Array[Double], Boolean) = a match {
    case null => (null, false)
    case s: scala.collection.Seq[_] =>
      val out = new Array[Double](s.length)
      var nullElem = false
      var i = 0
      val it = s.iterator
      while (it.hasNext) {
        it.next() match {
          case null => nullElem = true
          case f: java.lang.Float => out(i) = f.toDouble
          case d: java.lang.Double => out(i) = d
          case x: java.lang.Number => out(i) = x.doubleValue()
        }
        i += 1
      }
      (out, nullElem)
    case other => throw new IllegalArgumentException(
      s"unexpected vector value: ${other.getClass}")
  }

  private def vecToBytes(a: Any): (Array[Byte], Boolean) = a match {
    case null => (null, false)
    case s: scala.collection.Seq[_] =>
      val out = new Array[Byte](s.length)
      var nullElem = false
      var i = 0
      val it = s.iterator
      while (it.hasNext) {
        it.next() match {
          case null => nullElem = true
          case b: java.lang.Byte => out(i) = b.byteValue()
        }
        i += 1
      }
      (out, nullElem)
    case other => throw new IllegalArgumentException(
      s"unexpected code value: ${other.getClass}")
  }

  /** Stream cell-sorted rows, buffer one cell at a time (side 0 → A,
    * side 1 → B; ≤ 2·maxBucketRows rows live), and emit each cell's
    * pairs lazily. `parse` reads a row; `pairs` scores one cell
    * (diag = i == j: unordered pairs of A; off-diagonal: A × B). */
  private def cellStream[R, O](
      rows: Iterator[org.apache.spark.sql.Row],
      tblIdx: Int, parse: org.apache.spark.sql.Row => R,
      pairs: (scala.collection.mutable.ArrayBuffer[R],
        scala.collection.mutable.ArrayBuffer[R], Boolean) => Iterator[O])
      : Iterator[O] = new scala.collection.AbstractIterator[O] {
    private val buf = rows.buffered
    private var inner: Iterator[O] = Iterator.empty
    private val a = new scala.collection.mutable.ArrayBuffer[R]
    private val b = new scala.collection.mutable.ArrayBuffer[R]
    private def sameCell(r: org.apache.spark.sql.Row,
        t: Int, k: Int, i: Int, j: Int): Boolean =
      r.getInt(tblIdx) == t && r.getInt(tblIdx + 1) == k &&
        r.getInt(tblIdx + 2) == i && r.getInt(tblIdx + 3) == j
    private def loadCell(): Unit = {
      val h = buf.head
      val (t, k, i, j) = (h.getInt(tblIdx), h.getInt(tblIdx + 1),
        h.getInt(tblIdx + 2), h.getInt(tblIdx + 3))
      a.clear(); b.clear()
      while (buf.hasNext && sameCell(buf.head, t, k, i, j)) {
        val r = buf.next()
        if (r.getInt(tblIdx + 4) == 0) a += parse(r) else b += parse(r)
      }
      inner = pairs(a, b, i == j)
    }
    override def hasNext: Boolean = {
      while (!inner.hasNext && buf.hasNext) loadCell()
      inner.hasNext
    }
    override def next(): O = { hasNext; inner.next() }
  }

  /** Lazy pair iterator over one cell: diagonal = unordered index
    * pairs of A; off-diagonal = A × B. `score` returns the output
    * tuple or null to skip the pair. */
  private def cellPairs[R, O >: Null](
      a: scala.collection.mutable.ArrayBuffer[R],
      b: scala.collection.mutable.ArrayBuffer[R],
      diag: Boolean, score: (R, R) => O): Iterator[O] =
    new scala.collection.AbstractIterator[O] {
      private val bb = if (diag) a else b
      private var i = 0
      private var j = if (diag) 1 else 0
      private var out: O = null
      private def advance(): Boolean = {
        while (i < a.length) {
          while (j < bb.length) {
            val o = score(a(i), bb(j))
            j += 1
            if (o != null) { out = o; return true }
          }
          i += 1
          j = if (diag) i + 1 else 0
        }
        false
      }
      override def hasNext: Boolean = out != null || advance()
      override def next(): O = {
        if (!hasNext) Iterator.empty.next()
        val o = out; out = null; o
      }
    }

  private final class FRow(val id: Long, val v: Array[Double],
    val nullElem: Boolean, val nNull: Boolean, val n: Double)

  /** FUSED symmetrize + per-node retention over a [[bandedWithVecs]]
    * frame (bigint ids): the triangle-cell loop, but each scored pair
    * updates BOTH endpoints' bounded retention buffers in place
    * instead of being emitted — only the per-partition partials leave
    * the scorer (vs the Σm² pair stream, which the pair-emitting
    * forms pushed through a row encoder or SMJ row plumbing just for
    * the downstream aggregate to throw away). `keepThreshold = None`
    * retains per-node top-k ([[graft.plans.TopKBuffer]]); `Some(t)`
    * retains rank ≤ k OR sim > t ([[graft.plans.ThresholdTopKBuffer]])
    * — the two [[graft.streaming.Streams]] graph-fold prunes. The
    * emitted (vec_id, sim, nbr_id) partials feed the SAME downstream
    * aggregate as before: retention-of-partition-retentions equals
    * global retention (both buffers are merge-and-truncate monoids
    * under the (score, id) total order — graphFold's scaladoc), null
    * sims are skipped exactly as the aggregates' update skips null
    * scores, and NaN behaves identically (top-k: ranks above all;
    * threshold: joins neither side). Per-partition state is bounded:
    * past `FlushHeapNodes` live nodes the partials flush into the
    * output stream and the map restarts — monoid-safe, so a 100 TB
    * partition degrades to more partial rows, not more memory. */
  private[graft] var FlushHeapNodes: Int = 1 << 20

  private[graft] def symRetainedPartialsFromBanded(
      banded: DataFrame, k: Int, keepThreshold: Option[Double],
      dedupIds: Boolean, maxBucketRows: Int): DataFrame = {
    require(maxBucketRows > 0, s"maxBucketRows must be positive: $maxBucketRows")
    val spark = banded.sparkSession
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val flushAt = FlushHeapNodes
    val tagged = withSubBlocks(banded, maxBucketRows,
        Seq("vec_id", "v", "__n"))
      .select(col("vec_id"), col("v"), col("__n"), col("tbl"), col("bkt"),
        explode(cellTags(col("__u"), col("__g"))).as("c"))
      .select(col("vec_id"), col("v"), col("__n"), col("tbl"), col("bkt"),
        col("c.i").as("__i"), col("c.j").as("__j"), col("c.s").as("__sd"))
      .repartition(nParts, col("tbl"), col("bkt"), col("__i"), col("__j"))
      .sortWithinPartitions("tbl", "bkt", "__i", "__j")
    val parse = (r: org.apache.spark.sql.Row) => {
      val (v, nullElem) = vecToDoubles(r.get(1))
      val nNull = r.isNullAt(2)
      new FRow(r.getLong(0), v, nullElem, nNull,
        if (nNull) 0.0 else r.getDouble(2))
    }
    // buffer strategy, closed over serializably
    val thresholdOpt = keepThreshold
    implicit val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaDouble,
      org.apache.spark.sql.Encoders.scalaLong)
    val triples = tagged.mapPartitions { rows =>
      val mkBuf: () => AnyRef = thresholdOpt match {
        case Some(t) => () => new graft.plans.ThresholdTopKBuffer(k, t, dedupIds)
        case None => () => new graft.plans.TopKBuffer(k, dedupIds)
      }
      val addTo: (AnyRef, Double, Long) => Unit = thresholdOpt match {
        case Some(_) => (b, s, i) =>
          b.asInstanceOf[graft.plans.ThresholdTopKBuffer].add(s, i)
        case None => (b, s, i) =>
          b.asInstanceOf[graft.plans.TopKBuffer].add(s, i)
      }
      val drainBuf: AnyRef => Array[(Double, Long)] = thresholdOpt match {
        case Some(_) => b =>
          b.asInstanceOf[graft.plans.ThresholdTopKBuffer].held
        case None => b =>
          b.asInstanceOf[graft.plans.TopKBuffer].sortedDesc
      }
      var heaps = new java.util.HashMap[Long, AnyRef]()
      var flushed: List[Array[(Long, Double, Long)]] = Nil
      def drain(): Array[(Long, Double, Long)] = {
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Double, Long)](
          heaps.size * math.min(k, 8))
        val it = heaps.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          drainBuf(e.getValue).foreach(p => out += ((e.getKey, p._1, p._2)))
        }
        heaps = new java.util.HashMap[Long, AnyRef]()
        out.toArray
      }
      def heap(id: Long): AnyRef = {
        var h = heaps.get(id)
        if (h == null) { h = mkBuf(); heaps.put(id, h) }
        h
      }
      def addPair(x: FRow, y: FRow): Unit = {
        // null sims are SKIPPED exactly as the aggregates' update
        // skips null scores; NaN flows to the buffers (top-k: ranks
        // above all; threshold: joins neither side)
        if (x.v == null || y.v == null || x.v.length != y.v.length ||
            x.nullElem || y.nullElem || x.nNull || y.nNull) return
        var dot = 0.0
        var i = 0
        val n = x.v.length
        while (i < n) { dot += x.v(i) * y.v(i); i += 1 }
        val sim = dot / (x.n * y.n)
        addTo(heap(x.id), sim, y.id)
        addTo(heap(y.id), sim, x.id)
      }
      val buf = rows.buffered
      val a = new scala.collection.mutable.ArrayBuffer[FRow]
      val b = new scala.collection.mutable.ArrayBuffer[FRow]
      while (buf.hasNext) {
        val h = buf.head
        val (t, kk, ci, cj) = (h.getInt(3), h.getInt(4), h.getInt(5),
          h.getInt(6))
        a.clear(); b.clear()
        while (buf.hasNext && {
          val r = buf.head
          r.getInt(3) == t && r.getInt(4) == kk && r.getInt(5) == ci &&
            r.getInt(6) == cj
        }) {
          val r = buf.next()
          if (r.getInt(7) == 0) a += parse(r) else b += parse(r)
        }
        if (ci == cj) {
          var i = 0
          while (i < a.length) {
            var j = i + 1
            while (j < a.length) { addPair(a(i), a(j)); j += 1 }
            i += 1
          }
        } else {
          var i = 0
          while (i < a.length) {
            var j = 0
            while (j < b.length) { addPair(a(i), b(j)); j += 1 }
            i += 1
          }
        }
        if (heaps.size > flushAt) flushed ::= drain()
      }
      val last = drain()
      flushed.iterator.flatMap(_.iterator) ++ last.iterator
    }.toDF("vec_id", "sim", "nbr_id")
    triples
  }

  private def symTopKFromBanded(banded: DataFrame, k: Int,
      dedupIds: Boolean, maxBucketRows: Int): DataFrame =
    symRetainedPartialsFromBanded(banded, k, None, dedupIds, maxBucketRows)
      .groupBy(col("vec_id"))
      .agg(topKAgg(col("sim"), col("nbr_id"), k, dedupIds).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("nbr_id"), col("col.score").as("sim"))

  /** Symmetrized, per-batch-PRE-PRUNED edges for the streaming graph
    * folds ([[graft.streaming.Streams.incrementalKnnGraph]]): bigint
    * ids take the fused partial scorer above; other id types fall
    * back to the pair join + two-direction explode (the pre-r15
    * shape, output-identical by the fold monoid). Output columns:
    * (vec_id, nbr_id, sim). */
  private[graft] def symEdgesFromBanded(
      banded: DataFrame, k: Int, keepThreshold: Option[Double],
      maxBucketRows: Int): DataFrame =
    if (banded.schema("vec_id").dataType ==
        org.apache.spark.sql.types.LongType)
      symRetainedPartialsFromBanded(banded, k, keepThreshold,
        dedupIds = true, maxBucketRows)
        .select(col("vec_id"), col("nbr_id"), col("sim"))
    else
      scoredPairsFromBandedJoin(banded, maxBucketRows)
        .select(explode(array(
          struct(col("a_id").as("vec_id"), col("b_id").as("nbr_id"),
            col("sim")),
          struct(col("b_id").as("vec_id"), col("a_id").as("nbr_id"),
            col("sim")))).as("e"))
        .select(col("e.vec_id"), col("e.nbr_id"), col("e.sim"))

  /** WITHIN-batch survivors for the incremental pair fold
    * ([[graft.streaming.Streams.incrementalEmbPairs]]): the float
    * cell loop with the caller's `sim > threshold` filter fused in —
    * only surviving (a_id, b_id) leave the scorer (NaN sims survive,
    * Spark's NaN-above-all `>`; null sims drop), one row per shared
    * bucket, deduped by the caller. Non-bigint ids fall back to the
    * pair join + filter. */
  private[graft] def thresholdSurvivorsFromBanded(
      banded: DataFrame, threshold: Double,
      maxBucketRows: Int): DataFrame = {
    if (banded.schema("vec_id").dataType !=
        org.apache.spark.sql.types.LongType)
      return scoredPairsFromBandedJoin(banded, maxBucketRows)
        .filter(col("sim") > threshold)
        .select(col("a_id"), col("b_id"))
    val spark = banded.sparkSession
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val tagged = withSubBlocks(banded, maxBucketRows,
        Seq("vec_id", "v", "__n"))
      .select(col("vec_id"), col("v"), col("__n"), col("tbl"), col("bkt"),
        explode(cellTags(col("__u"), col("__g"))).as("c"))
      .select(col("vec_id"), col("v"), col("__n"), col("tbl"), col("bkt"),
        col("c.i").as("__i"), col("c.j").as("__j"), col("c.s").as("__sd"))
      .repartition(nParts, col("tbl"), col("bkt"), col("__i"), col("__j"))
      .sortWithinPartitions("tbl", "bkt", "__i", "__j")
    val parse = (r: org.apache.spark.sql.Row) => {
      val (v, nullElem) = vecToDoubles(r.get(1))
      val nNull = r.isNullAt(2)
      new FRow(r.getLong(0), v, nullElem, nNull,
        if (nNull) 0.0 else r.getDouble(2))
    }
    val score = (x: FRow, y: FRow) => {
      if (x.v == null || y.v == null || x.v.length != y.v.length ||
          x.nullElem || y.nullElem || x.nNull || y.nNull) null
      else {
        var dot = 0.0
        var i = 0
        val n = x.v.length
        while (i < n) { dot += x.v(i) * y.v(i); i += 1 }
        val sim = dot / (x.n * y.n)
        // Spark's `>` is NaN-safe: NaN orders above any threshold
        if (sim > threshold || java.lang.Double.isNaN(sim))
          (if (x.id < y.id) (x.id, y.id) else (y.id, x.id))
        else null
      }
    }
    implicit val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    tagged.mapPartitions { rows =>
      cellStream(rows, 3, parse,
        (a: scala.collection.mutable.ArrayBuffer[FRow],
         b: scala.collection.mutable.ArrayBuffer[FRow], diag: Boolean) =>
          cellPairs[FRow, (Long, Long)](a, b, diag, (x, y) => score(x, y)))
    }.toDF("a_id", "b_id")
  }

  private final class QRow(val id: Long, val q: Array[Byte],
    val nullElem: Boolean, val anyNull: Boolean, val s: Double,
    val n: Double, val sa: Long)

  /** The quantized prune of [[bucketLocalThresholdPairs]] as a
    * partition scorer (bigint ids): same rigorous upper bound, same
    * survivor rule (`ub > threshold` with Spark's NaN-above-everything
    * comparison; NULL bound → pair dropped), emitting only surviving
    * (a_id, b_id) — one row per shared bucket, deduped downstream. */
  private def prunedPairsPartition(
      qbanded: DataFrame,
      threshold: Double,
      maxBucketRows: Int): DataFrame = {
    val spark = qbanded.sparkSession
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val tagged = withSubBlocks(qbanded, maxBucketRows,
        Seq("vec_id", "qv", "__s", "__n", "__sa"))
      .select(col("vec_id"), col("qv"), col("__s"), col("__n"), col("__sa"),
        col("tbl"), col("bkt"),
        explode(cellTags(col("__u"), col("__g"))).as("c"))
      .select(col("vec_id"), col("qv"), col("__s"), col("__n"), col("__sa"),
        col("tbl"), col("bkt"),
        col("c.i").as("__i"), col("c.j").as("__j"), col("c.s").as("__sd"))
      .repartition(nParts, col("tbl"), col("bkt"), col("__i"), col("__j"))
      .sortWithinPartitions("tbl", "bkt", "__i", "__j")
    val parse = (r: org.apache.spark.sql.Row) => {
      val (q, nullElem) = vecToBytes(r.get(1))
      val sNull = r.isNullAt(2)
      val nNull = r.isNullAt(3)
      val saNull = r.isNullAt(4)
      new QRow(r.getLong(0), q, nullElem,
        q == null || nullElem || sNull || nNull || saNull,
        if (sNull) 0.0 else r.getDouble(2),
        if (nNull) 0.0 else r.getDouble(3),
        if (saNull) 0L else r.getLong(4))
    }
    val score = (x: QRow, y: QRow) => {
      if (x.anyNull || y.anyNull || x.q.length != y.q.length) null
      else {
        // EXACTLY the column form's arithmetic shape (see the ub
        // Column in bucketLocalThresholdPairs): ((Q + 0.5·(sa_a+sa_b))
        // + 0.25·d), scaled by s_a·s_b, over n_a·n_b, plus 1e-6
        var q = 0L
        var i = 0
        val d = x.q.length
        while (i < d) { q += x.q(i).toLong * y.q(i).toLong; i += 1 }
        val ub = x.s * y.s *
          (q.toDouble + 0.5 * (x.sa + y.sa).toDouble + 0.25 * d.toDouble) /
          (x.n * y.n) + 1e-6
        // Spark's `>` on doubles is NaN-safe: NaN orders above all
        if (ub > threshold || java.lang.Double.isNaN(ub))
          (if (x.id < y.id) (x.id, y.id) else (y.id, x.id))
        else null
      }
    }
    implicit val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    tagged.mapPartitions { rows =>
      cellStream(rows, 5, parse,
        (a: scala.collection.mutable.ArrayBuffer[QRow],
         b: scala.collection.mutable.ArrayBuffer[QRow], diag: Boolean) =>
          cellPairs[QRow, (Long, Long)](a, b, diag, (x, y) => score(x, y)))
    }.toDF("a_id", "b_id")
  }

  /** The pair-JOIN form of the quantized prune — kept for non-bigint
    * ids and as the test-side equality oracle for
    * [[prunedPairsPartition]]. Emits surviving (a_id, b_id), one row
    * per shared bucket occurrence (NOT distinct — the caller dedups,
    * same as the partition form). */
  private[graft] def prunedPairsJoin(
      qbanded: DataFrame,
      threshold: Double,
      maxBucketRows: Int,
      nParts: Int): DataFrame = {
    val withSub = withSubBlocks(qbanded, maxBucketRows,
      Seq("vec_id", "qv", "__s", "__n", "__sa"))
    val left = withSub
      .withColumn("__j", explode(sequence(col("__u"), col("__g") - 1)))
      .withColumnRenamed("__u", "__i").drop("__g")
    val right = withSub
      .withColumn("__i", explode(sequence(lit(0L), col("__u"))))
      .withColumnRenamed("__u", "__j").drop("__g")
    val cellCols = Seq(col("tbl"), col("bkt"), col("__i"), col("__j"))
    val a = left.repartition(nParts, cellCols: _*).alias("a")
    val b = right.repartition(nParts, cellCols: _*).alias("b")
    val onceOnly = (col("a.__i") =!= col("a.__j")) ||
      (col("a.vec_id") < col("b.vec_id"))
    // rigorous upper bound on CosineSim(a.v, b.v) — see scaladoc
    val ub = (col("a.__s") * col("b.__s") *
        (byteDot(col("a.qv"), col("b.qv")).cast("double") +
          lit(0.5) * (col("a.__sa") + col("b.__sa")).cast("double") +
          lit(0.25) * size(col("a.qv")).cast("double"))) /
      (col("a.__n") * col("b.__n")) + lit(1e-6)
    a.join(b,
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.__i") === col("b.__i") && col("a.__j") === col("b.__j") &&
          onceOnly)
      .filter(ub > threshold)
      .select(least(col("a.vec_id"), col("b.vec_id")).as("a_id"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("b_id"))
  }

  /** THRESHOLD-mode banded pair engine (r15 — guide §2.3 "shuffle
    * keys and metadata instead of payloads", §8): same multi-table
    * hyperplane buckets, triangle tiling and hot-bucket guard as
    * [[bucketLocalScoredPairs]], but the band rows carry an
    * int8-QUANTIZED payload instead of the float vector — per row,
    * `qv` (one byte per dim), the per-row symmetric scale
    * `__s = max|x|/127`, the exact L2 norm `__n` and the code mass
    * `__sa = Σ|q|` (~dim+24 bytes vs 4·dim+norm) — so the banded
    * exchanges that dominate this engine's shuffle move ~3× fewer
    * bytes at identical bucket assignment (buckets hash the ORIGINAL
    * vector before it is dropped).
    *
    * Within a bucket, each candidate pair is scored with the integer
    * [[byteDot]] and a RIGOROUS upper bound on its true cosine:
    * x_i = s_x·(q_i − δ_i) with |δ_i| ≤ 0.5 (round-half-up, clamp
    * only at ±127 where the error is still ≤ 0.5), so
    *   |dot(a,b)/(s_a·s_b) − Q| ≤ 0.5·(Σ|q_a| + Σ|q_b|) + 0.25·d
    * where Q is the integer dot — every term rides the row. The
    * bound, divided by the exact norms, brackets the true cosine to
    * within ~0.01 on typical embeddings; 1e-6 of explicit slack
    * swallows every floating-point rounding in both the bound's own
    * evaluation and CosineSim's (≲1e-12 at cosine scale). Only pairs
    * whose UPPER bound clears the threshold survive the bucket stage
    * (an output-plus-margin-sized set: true survivors plus pairs
    * within the bound's width of the threshold), are deduped, and are
    * re-scored EXACTLY (CosineSim on the original vectors, fetched by
    * id from the cached corpus projection — the re-attach join is
    * affordable precisely because it runs on survivors, not
    * candidates). A caller filtering `sim > threshold` therefore gets
    * EXACTLY the pair set and sims of the float engine — no false
    * negatives by the bound, no false positives by the exact re-score
    * (boundary-adversarial equality spec in DedupSpec).
    *
    * Returns (a_id, b_id, sim): one row per DISTINCT candidate pair
    * with bound > threshold, sim exact. Degenerate rows flow as in
    * the float engine: a zero-norm side makes the bound ±Inf/NaN
    * (kept — Spark orders NaN above every value) and the exact
    * re-score reproduces CosineSim's NaN/NULL verbatim. */
  private[graft] def bucketLocalThresholdPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numTables: Int = 12,
      planesPerTable: Int = 4,
      dim: Int = 64,
      seed: Long = 42L,
      maxBucketRows: Int = 2048): DataFrame = {
    require(maxBucketRows > 0, s"maxBucketRows must be positive: $maxBucketRows")
    val nParts = corpus.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    // the (id, vector) projection, spread to the session's parallelism
    // (the hyperplane dots are the compute-heavy map step — see
    // bandedWithVecs) and cached: read by the quantized band build and
    // again by the survivors' exact re-rank
    val vc = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .repartition(nParts)
      .cache()
    val vd = transform(col("v"), _.cast("double"))
    // per-ROW symmetric scale — map-side, no corpus-wide aggregate
    // (a global max would add a barrier job and couple rows at 100 TB)
    val maxAbs = aggregate(vd, lit(0.0), (acc, x) => greatest(acc, abs(x)))
    val qbanded = vc
      .select(col("vec_id"), col("v"), maxAbs.as("__ma"))
      .select(col("vec_id"),
        // all-zero rows quantize to zero codes at scale 0 (the
        // division would be 0/0); their bound degenerates to NaN and
        // the exact re-score decides, as documented above
        transform(col("v"), x =>
          when(col("__ma") > 0.0,
            greatest(lit(-127.0), least(lit(127.0),
              round(x.cast("double") * 127.0 / col("__ma")))))
            .otherwise(lit(0.0)).cast("byte")).as("qv"),
        (col("__ma") / 127.0).as("__s"),
        l2norm(transform(col("v"), _.cast("double"))).as("__n"),
        posexplode(
          hyperplaneBuckets(col("v"), numTables, planesPerTable, dim, seed)))
      .select(col("vec_id"), col("qv"), col("__s"), col("__n"),
        aggregate(col("qv"), lit(0L),
          (acc, x) => acc + abs(x.cast("long"))).as("__sa"),
        col("pos").as("tbl"), col("col").as("bkt"))
      .cache()
    // eager materialization (one count): same concurrent-stage race as
    // bucketLocalScoredPairs — and this one pass also populates vc,
    // which the re-rank joins then read from cache
    qbanded.count()
    retireBandedCaches(Seq(vc, qbanded))
    // the quantized prune: partition scorer for bigint ids (every
    // production caller), pair-join form otherwise + as the test-side
    // equality oracle (see the r15 PARTITION SCORER block)
    val pruned =
      (if (qbanded.schema("vec_id").dataType ==
          org.apache.spark.sql.types.LongType)
        prunedPairsPartition(qbanded, threshold, maxBucketRows)
      else prunedPairsJoin(qbanded, threshold, maxBucketRows, nParts))
      .distinct()
    // ---- exact re-rank on the survivors only: fetch the original
    // vectors by id and score with CosineSim — the sims (and the final
    // thresholding the caller applies) are bit-identical to the float
    // engine's. Survivor-sized side; AQE picks the join strategy from
    // its RUNTIME size, so locally this broadcasts and at scale it
    // degrades to one linear corpus shuffle.
    pruned
      .join(vc.select(col("vec_id").as("a_id"), col("v").as("__va")), "a_id")
      .join(vc.select(col("vec_id").as("b_id"), col("v").as("__vb")), "b_id")
      .select(col("a_id"), col("b_id"),
        cosine(col("__va"), col("__vb")).as("sim"))
  }

  /** Symmetrize scored undirected pairs and take the per-node top-k:
    * each pair's cosine is computed ONCE and exploded into both
    * directions in the same pass (a two-branch union would evaluate
    * the whole scoring subtree — joins + cosine — twice), then the
    * bounded-heap aggregate keeps k rows per node with map-side
    * partials. Shared by the in-memory, layout-probe, and
    * incremental graph paths. */
  private[graft] def symTopK(scored: DataFrame, k: Int,
      dedupIds: Boolean = false): DataFrame =
    scored
      .select(explode(array(
        struct(col("a_id").as("vec_id"), col("b_id").as("nbr_id"),
          col("sim")),
        struct(col("b_id").as("vec_id"), col("a_id").as("nbr_id"),
          col("sim")))).as("e"))
      .select(col("e.vec_id"), col("e.nbr_id"), col("e.sim"))
      .groupBy(col("vec_id"))
      .agg(topKAgg(col("sim"), col("nbr_id"), k, dedupIds).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("nbr_id"), col("col.score").as("sim"))

  /** Publish the ANN band table as a bucketed+sorted layout (the
    * embedding analog of the MinHash banded layout): bands + vectors
    * written once per corpus snapshot through [[Layouts.publish]];
    * every subsequent graph build / candidate generation self-joins
    * the stored bands with ZERO exchanges. `<table>_vecs` carries the
    * vectors for the scoring join. */
  def writeEmbBandedLayout(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      table: String,
      numBuckets: Int = 16,
      numTables: Int = 12,
      planesPerTable: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): Unit = {
    Layouts.publish(
      embBandTable(corpus, idCol, vecCol, numTables, planesPerTable,
        dim, seed),
      table, "emb_bands", Seq("tbl", "bkt"), numBuckets,
      props = Map("numTables" -> numTables.toString,
        "planesPerTable" -> planesPerTable.toString,
        "dim" -> dim.toString, "seed" -> seed.toString,
        "vecs_table" -> s"${table}_vecs"))
    Layouts.ensureWritable(corpus.sparkSession, s"${table}_vecs")
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .write.mode("overwrite").saveAsTable(s"${table}_vecs")
  }

  /** [[knnGraphBucketed]] served from a published
    * [[writeEmbBandedLayout]] table — identical output, and the
    * candidate self-join on the stored bands plans with no shuffle
    * (both sides read the same bucketed layout). */
  def knnGraphFromLayout(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      k: Int): DataFrame = {
    val banded = spark.table(table)
    val v = spark.table(s"${table}_vecs")
    val pairs = banded.alias("a").join(banded.alias("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    val scored = pairs
      .join(v.select(col("vec_id").as("a_id"), col("v").as("va")), "a_id")
      .join(v.select(col("vec_id").as("b_id"), col("v").as("vb")), "b_id")
      .select(col("a_id"), col("b_id"),
        cosine(col("va"), col("vb")).as("sim"))
    symTopK(scored, k)
  }

  /** Exact maximum-inner-product top-k (MIPS): retrieval/recommender
    * scoring where vector MAGNITUDE carries signal — cosine's
    * normalization deliberately NOT applied (a long high-engagement
    * item vector should outscore a short one at the same angle).
    * Identical plan shape to [[knnBruteAgg]]: queries broadcast,
    * bounded-heap top-k aggregate, map-side partials, no window
    * sort; the score is the fused-codegen [[dotNative]] loop. */
  def mipsBruteAgg(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    c.join(q, col("cand_id") =!= col("q_id"))
      .groupBy(col("q_id"))
      .agg(topKAgg(dotNative(col("qv"), col("cv")), col("cand_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("cand_id"))
  }

  /** Exact Euclidean (L2) top-k — completes the metric family (cosine
    * [[knnBruteAgg]], inner product [[mipsBruteAgg]]): the bounded
    * heap ranks on NEGATIVE squared distance (monotone with distance;
    * sqrt never computed). The oracle ranks on the same sum of
    * squared element diffs — NOT list_distance, whose IEEE sqrt can
    * round two distinct squared distances to the same double and
    * manufacture ties Spark never sees. Same
    * scalable plan shape: queries broadcast, map-side k-row heaps. */
  def l2Knn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("q_id"), asDouble(col(vecCol)).as("qv")))
    val c = corpus.select(col(idCol).as("cand_id"),
      asDouble(col(vecCol)).as("cv"))
    val negD2 = -aggregate(
      zip_with(col("qv"), col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0), _ + _)
    c.join(q, col("cand_id") =!= col("q_id"))
      .groupBy(col("q_id"))
      .agg(topKAgg(negD2, col("cand_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("cand_id"))
  }

  /** Approximate MIPS via the norm-augmentation reduction to cosine
    * ANN (Bachrach et al., RecSys'14 / Shrivastava & Li, NIPS'14):
    * append sqrt(M² − ‖x‖²) to each corpus vector (M = max corpus
    * norm, one scalar agg broadcast) and 0 to each query — every
    * augmented corpus vector then has norm exactly M, so
    * cos(q', x') = q·x / (‖q‖·M) and cosine order IS inner-product
    * order. The whole existing LSH machinery ([[lshAnn]]: seeded
    * hyperplanes, multi-probe, exact re-rank) applies unchanged in
    * dim+1. Corpus-side cost is one extra map pass — no new shuffle
    * beyond the index build it reuses. */
  def mipsAnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 5,
      dim: Int = 64,
      seed: Long = 42L,
      probeBits: Int = 2): DataFrame = {
    val c0 = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val mRow = broadcast(c0.agg(max(l2norm(col("v"))).as("__m")))
    val caug = c0.crossJoin(mRow).select(col("id"),
      concat(col("v"), array(sqrt(greatest(lit(0.0),
        col("__m") * col("__m") - dot(col("v"), col("v")))))).as("va"))
    val qaug = queries
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .select(col("id"), concat(col("v"), array(lit(0.0))).as("va"))
    lshAnn(caug, qaug, "id", "va", k, numPlanes, dim + 1, seed, probeBits)
  }

  /** Deterministic ±1 random hyperplanes (seeded). */
  private def planes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Sign-bit bucket id from `numPlanes` seeded random hyperplanes —
    * shared by the ANN index ([[lshAnn]]) and the corpus-scale
    * embedding near-dup path ([[Dedup.embeddingNearDupPairsBucketed]]).
    * Two vectors collide with probability (1 − θ/π)^numPlanes for
    * angle θ, so fewer planes = bigger buckets = higher recall. */
  private[graft] def hyperplaneBucket(
      vec: Column, numPlanes: Int, dim: Int, seed: Long): Column =
    bucketCol(vec, planes(numPlanes, dim, seed))

  /** ALL `numTables` bucket ids of a vector as one array<int>, through
    * the single fused-loop native expression
    * ([[graft.plans.HyperplaneBuckets]]) — bit-identical bucket ids to
    * `numTables` separate [[hyperplaneBucket]] columns at seeds
    * `seed + 7919·t`, but the multi-table band builders stop inlining
    * 48 dot-product sub-trees into one giant projection method that
    * the JIT refuses to compile (measured: ~120 CPU-s → ~0.3 CPU-s
    * per band build at sf1.0). */
  private[graft] def hyperplaneBuckets(vec: Column, numTables: Int,
      planesPerTable: Int, dim: Int, seed: Long): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.HyperplaneBuckets(
      GraftBridge.expression(vec), numTables, planesPerTable, dim, seed))
  }

  /** Sign-bit bucket id from hyperplane projections — planes × dims
    * fused multiply-adds per row through the codegen dot product (the
    * HOF form made bucketing the dominant cost of the LSH paths). */
  private def bucketCol(vec: Column, ps: Seq[Seq[Double]]): Column =
    ps.zipWithIndex.map { case (p, j) =>
      when(dotNative(vec, typedLit(p)) >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Random-hyperplane LSH ANN: bucket the corpus once, probe each
    * query's bucket plus all neighbors within `probeBits` bit flips,
    * exact-rerank the candidates. The corpus-side join key is the
    * bucket id — the candidate set per query is
    * |corpus| / 2^planes × (1 + planes + [planes·(planes−1)/2]).
    * Multi-probe trades candidate volume for recall without
    * rebuilding the index; deeper probes visit buckets in increasing
    * hamming distance, which tracks increasing angle. */
  def lshAnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      // defaults = the TUNED config (recall@5 ≥ 0.6 on the test
      // corpus, asserted in SimilaritySpec): 5 planes keep buckets
      // populated at 2^5 cells and 2-bit multi-probe recovers
      // boundary neighbors; the cheaper 1-bit probe drops recall to
      // ~0.2 — callers chasing throughput opt DOWN explicitly
      numPlanes: Int = 5,
      dim: Int = 64,
      seed: Long = 42L,
      probeBits: Int = 2): DataFrame = {
    require(probeBits >= 0 && probeBits <= 2, s"probeBits 0..2: $probeBits")
    val ps = planes(numPlanes, dim, seed)
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      bucketCol(col(vecCol), ps).as("bucket"))
    val oneBit =
      if (probeBits < 1) Seq.empty
      else (0 until numPlanes).map(j => col("qb").bitwiseXOR(lit(1 << j)))
    val twoBit =
      if (probeBits < 2) Seq.empty
      else for {
        i <- 0 until numPlanes; j <- (i + 1) until numPlanes
      } yield col("qb").bitwiseXOR(lit((1 << i) | (1 << j)))
    val q = broadcast(queries
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"),
        bucketCol(col(vecCol), ps).as("qb"))
      .withColumn("probe",
        explode(array((col("qb") +: oneBit) ++ twoBit: _*))))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    c.join(q, col("bucket") === col("probe") && col("cand_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("cand_id"))
  }

  /** Nearest-centroid column against FROZEN centroids (embedded as
    * literals — pure map-side): argmax cosine via struct max, ties
    * toward the smaller cell id. */
  private def nearestCellCol(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosine(vec, typedLit(c)).as("sim"), lit(-i).as("negCell"))
    }
    (-array_max(array(scored: _*)).getField("negCell")).as("cell")
  }

  /** Embedding-space outlier/novelty score — the complement of the
    * SemDeDup-shape screens: instead of flagging what sits too CLOSE
    * to a neighbor ([[graft.operators.Dedup]]'s near-dup family),
    * flag what sits too FAR from every cluster. Each vector is
    * assigned to its nearest coarse centroid (the same frozen seeded
    * k-means [[trainCentroids]] the IVF family uses; cosine metric
    * throughout, matching cell assignment) and scored
    * `novelty = 1 − cosine(v, centroid)`; the per-cell mean novelty
    * is broadcast back to form `novelty_ratio`, so a naturally
    * diffuse cell doesn't drown a genuinely anomalous vector that
    * lives in a tight cell.
    *
    * Shape at 100 TB: centroids are k·dim driver literals (bounded
    * model state), scoring is one map-side codegen pass over the
    * corpus — the only exchanges are the k-row cell-mean aggregate
    * and its broadcast back. */
  def centroidNovelty(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxIter: Int = 10,
      seed: Long = 42L): DataFrame = {
    val cents = trainCentroids(df, idCol, vecCol, k, maxIter, seed)
    val scored = cents.zipWithIndex.map { case (c, i) =>
      struct(cosine(col(vecCol), typedLit(c)).as("sim"),
        lit(-i).as("negCell"))
    }
    val best = array_max(array(scored: _*))
    val assigned = df.select(col(idCol),
      (-best.getField("negCell")).as("cell"),
      (lit(1.0) - best.getField("sim")).as("novelty"))
    val mu = assigned.groupBy("cell")
      .agg(avg(col("novelty")).as("cell_mean"))
    assigned.join(broadcast(mu), Seq("cell"))
      .select(col(idCol), col("cell"), col("novelty"), col("cell_mean"),
        when(col("cell_mean") > 0,
          col("novelty") / col("cell_mean")).otherwise(lit(0.0))
          .as("novelty_ratio"))
  }

  /** Assign every row to its nearest frozen centroid — the maintenance
    * half of an IVF index: assignment is a per-row map (no shuffle, no
    * corpus rescan), so new vectors fold into a stored index batch by
    * batch ([[graft.streaming.Streams.incrementalIvfIndex]]). */
  def assignCells(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty, "assignCells needs at least one centroid")
    df.select(col(idCol), nearestCellCol(col(vecCol), centroids))
  }

  /** [[assignCells]] keeping EVERY input column — the vector (and any
    * payload) rides the assigned row, so a consumer that needs
    * (vector, cell) together never re-attaches the assignment with a
    * corpus-by-id join (the guide-§8 anti-pattern: at scale that join
    * shuffles the whole corpus on a key unrelated to where rows are
    * going; the assignment itself is a per-row map). */
  def withNearestCell(
      df: DataFrame,
      vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty, "withNearestCell needs at least one centroid")
    df.withColumn("cell", nearestCellCol(col(vecCol), centroids))
  }

  /** The trained coarse centroids themselves (the same deterministic
    * seeded Lloyd loop [[kmeansCells]] runs), exposed so a quantizer
    * can be FROZEN and reused across incremental index maintenance —
    * retraining is a separate offline decision, as in production ANN
    * services. Driver state is k·dim doubles; per-iteration work is
    * one distributed assignment + mean pass. */
  def trainCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxIter: Int = 10,
      seed: Long = 42L): Seq[Seq[Double]] = {
    require(k > 0, s"k must be positive: $k")
    // persisted for the whole Lloyd run WHEN RE-SCANNING IS THE COST:
    // the init sample plus every iteration re-reads these rows
    // (iterations re-SCORE against new centroids, but the (id, vec)
    // projection itself never changes — uncached, each of the
    // 1+maxIter jobs re-scans the source). MEMORY_AND_DISK: a
    // corpus-sized training set spills, never evicts-and-rescans.
    // GUARDED (VERDICT r14 "What's wrong" #2): for a tiny source or a
    // single-iteration run the materialization + block bookkeeping
    // costs more than the rescans it saves — gate on the optimizer's
    // size estimate (file bytes for scans; no job, no collect) and on
    // maxIter > 1. Unknown sizes estimate large, so the 100 TB path
    // always persists; the threshold is bytes-based, not
    // core-count-based, so local[8] and local[32] take the same path.
    val proj = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val estBytes = proj.queryExecution.optimizedPlan.stats.sizeInBytes
    val doPersist = maxIter > 1 && estBytes >= MinTrainPersistBytes
    val v =
      if (doPersist)
        proj.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else proj
    try {
    // seeded deterministic init: k hash-ordered rows
    var centroids: Array[Seq[Double]] = v
      .orderBy(xxhash64(col("__id"), lit(seed)), col("__id")).limit(k)
      .select(transform(col("__v"), _.cast("double")).as("c"))
      .collect().map(_.getSeq[Double](0))
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val means = lloydMeans(v, centroids.toSeq)
      val next = centroids.zipWithIndex.map { case (old, i) =>
        means.getOrElse(i, old) // empty cell keeps its centroid
      }
      moved = centroids.zip(next).exists { case (a, b) =>
        a.zip(b).exists { case (x, y) => math.abs(x - y) > 1e-12 }
      }
      centroids = next
      iter += 1
    }
    centroids.toSeq
    } finally { if (doPersist) { v.unpersist(blocking = false); () } }
  }

  /** One Lloyd round's per-cell means as per-PARTITION partial
    * (cell, pos) sums combined on the driver — ONE job and ZERO
    * exchanges per iteration. The aggregate form it replaces
    * ([[lloydMeansAgg]], kept as the test-side equality oracle)
    * planned two exchanges, which AQE executes as ~3 stage-jobs per
    * iteration: of s08's 36 Spark jobs, 18 were the coarse trainer's
    * scheduling overhead, ~130 ms each at bench scale (guide §1.2 —
    * remove passes; §5 — bounded driver state: partials are
    * k·dim·nParts (sum, count) pairs, ~160 KB at the defaults, and
    * production k·dim caps them regardless of corpus size).
    *
    * BIT-PARITY with the aggregate form: the in-loop assignment
    * reproduces nearestCellCol's struct-max EXACTLY (CosineSim's
    * left-to-right double dot per cell; null sim loses to any
    * non-null, NaN wins over all, ties → smaller cell id — Spark's
    * nan-safe double order); per-(cell, pos) sums accumulate in row
    * order within each partition and combine in partition order on
    * the driver, which is precisely HashAggregate's partial-per-task
    * + mapId-ordered final merge; null elements are skipped per
    * position (avg semantics) and a cell's mean vector is its
    * populated positions in ascending order (the
    * collect_list+array_sort shape). Spec'd against [[lloydMeansAgg]]
    * in SimilaritySpec on degenerate fixtures. */
  private[graft] def lloydMeans(v: DataFrame,
      centroids: Seq[Seq[Double]]): Map[Int, Seq[Double]] = {
    val cents: Array[Array[Double]] = centroids.map(_.toArray).toArray
    val k = cents.length
    implicit val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.scalaDouble,
      org.apache.spark.sql.Encoders.scalaLong)
    val partials = v.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val sums = Array.fill(k)(new Array[Double](0))
      val cnts = Array.fill(k)(new Array[Long](0))
      def grow(c: Int, n: Int): Unit = if (sums(c).length < n) {
        sums(c) = java.util.Arrays.copyOf(sums(c), n)
        cnts(c) = java.util.Arrays.copyOf(cnts(c), n)
      }
      rows.foreach { r =>
        if (!r.isNullAt(1)) {
          val s = r.get(1).asInstanceOf[scala.collection.Seq[_]]
          val n = s.length
          val vd = new Array[Double](n)
          val isNull = new Array[Boolean](n)
          var anyNull = false
          var i = 0
          val it = s.iterator
          while (it.hasNext) {
            it.next() match {
              case null => isNull(i) = true; anyNull = true
              case f: java.lang.Float => vd(i) = f.toDouble
              case d: java.lang.Double => vd(i) = d
              case x: java.lang.Number => vd(i) = x.doubleValue()
            }
            i += 1
          }
          // argmax cosine, nearestCellCol's struct-max order
          var best = 0
          var bestSim = 0.0
          var bestNull = true
          var c = 0
          while (c < k) {
            val ct = cents(c)
            var simNull = anyNull || ct.length != n
            var sim = 0.0
            if (!simNull) {
              var dot = 0.0; var na = 0.0; var nb = 0.0
              var j = 0
              while (j < n) {
                val x = vd(j); val y = ct(j)
                dot += x * y; na += x * x; nb += y * y
                j += 1
              }
              sim = dot / (math.sqrt(na) * math.sqrt(nb))
            }
            // strictly better only (ascending c → ties keep smaller)
            val better =
              if (simNull) false
              else if (bestNull) true
              else if (java.lang.Double.isNaN(sim)) !java.lang.Double.isNaN(bestSim)
              else if (java.lang.Double.isNaN(bestSim)) false
              else sim > bestSim
            if (better) { best = c; bestSim = sim; bestNull = false }
            c += 1
          }
          grow(best, n)
          var p = 0
          while (p < n) {
            if (!isNull(p)) { sums(best)(p) += vd(p); cnts(best)(p) += 1L }
            p += 1
          }
        }
      }
      (0 until k).iterator.flatMap { c =>
        (0 until sums(c).length).iterator
          .filter(p => cnts(c)(p) > 0L)
          .map(p => (pid, c, p, sums(c)(p), cnts(c)(p)))
      }
    }.collect()
    // combine in partition order — HashAggregate's mapId-ordered merge
    val bySum = new scala.collection.mutable.HashMap[(Int, Int), Double]()
    val byCnt = new scala.collection.mutable.HashMap[(Int, Int), Long]()
    partials.sortBy(t => (t._1, t._2, t._3)).foreach {
      case (_, c, p, s, n) =>
        bySum((c, p)) = bySum.getOrElse((c, p), 0.0) + s
        byCnt((c, p)) = byCnt.getOrElse((c, p), 0L) + n
    }
    bySum.keys.groupBy(_._1).map { case (c, keys) =>
      c -> keys.map(_._2).toSeq.sorted
        .map(p => bySum((c, p)) / byCnt((c, p)))
    }
  }

  /** The two-exchange aggregate form of one Lloyd round — the
    * test-side equality oracle for [[lloydMeans]]. */
  private[graft] def lloydMeansAgg(v: DataFrame,
      centroids: Seq[Seq[Double]]): Map[Int, Seq[Double]] =
    v.select(col("__v"), nearestCellCol(col("__v"), centroids))
      .select(col("cell"), posexplode(col("__v")))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("col")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap

  /** Size gate for [[trainCentroids]]'s Lloyd-run persist: below this
    * optimizer-estimated input size, 1+maxIter rescans of the source
    * are cheaper than materializing a cache (measured at sf0.1: the
    * unconditional r14 persist cost p05/s05 more than it saved on
    * their ≤5 MB corpora). 64 MB ≈ half a default scan split — past
    * it the rescans dominate. Mutable only so the spec can exercise
    * both paths on small fixtures; production never writes it. */
  private[graft] var MinTrainPersistBytes: BigInt = BigInt(64L << 20)

  /** K-means cell assignment — trains the IVF coarse codebook when no
    * natural partition column exists (a real IVF index quantizes; it
    * doesn't assume labels).
    *
    * Lloyd's iterations in the shape that scales: centroids are TINY
    * (k·dim doubles) and live on the driver between iterations; each
    * round is one map-side argmax-cosine assignment over broadcast
    * literal centroids (k fused-codegen [[cosine]] evaluations per
    * row — no join, no shuffle) plus one posexplode/avg aggregation to
    * re-estimate means (two bounded shuffles). The data is never
    * cached or re-partitioned; iteration state never grows lineage
    * (each round's plan is built fresh from the driver-held
    * centroids).
    *
    * Deterministic: initial centroids are the k rows with the
    * smallest xxhash64(id, seed) (a seeded hash-ordered sample —
    * stable across runs and partitionings), ties in assignment break
    * toward the lower cell id. Stops early when no assignment can
    * change (max centroid movement < 1e-12).
    *
    * @return (id, cell) — feed as `cellCol` to [[ivfAnn]]. */
  def kmeansCells(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxIter: Int = 10,
      seed: Long = 42L): DataFrame =
    assignCells(df, idCol, vecCol,
      trainCentroids(df, idCol, vecCol, k, maxIter, seed))

  /** Integer dot product over int8-quantized vectors
    * ([[graft.plans.ByteDot]]): all-integer multiply-accumulate in
    * one codegen loop. */
  def byteDot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.ByteDot(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** KNN over int8-quantized embeddings with exact re-scoring — the
    * memory-bound scale path: a 100 TB float corpus is 25 TB at int8,
    * and the first-pass scoring moves/multiplies bytes, not floats.
    *
    * Pass 0 (two tiny aggregates): corpus-wide symmetric scale
    * `127 / max|x|`, broadcast. Pass 1: quantize both sides to
    * array<tinyint> (norms precomputed ONCE per row), score every
    * (query, candidate) with the integer [[byteDot]], keep the top
    * `k × candMult` per query via the bounded-heap aggregate — no
    * window sort, map-side partials. Pass 2: exact float cosine
    * ([[cosine]]) on the surviving candidates only (|Q| × k×candMult
    * rows), top k. Output matches [[knnBruteAgg]] whenever the true
    * top-k survives the quantized cut (recall asserted ≥ in
    * SimilaritySpec; exact equality holds on the test corpus). */
  def quantizedKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      candMult: Int = 4): DataFrame = {
    val scaleDf = corpus.select(
      max(aggregate(col(vecCol), lit(0.0),
        (acc, x) => greatest(acc, abs(x.cast("double"))))).as("__mx"))
    def quant(df: DataFrame, id: String, v: String, qv: String, qn: String) =
      df.crossJoin(broadcast(scaleDf))
        .select(col(idCol).as(id), col(vecCol).as(v),
          transform(col(vecCol),
            x => greatest(lit(-127.0), least(lit(127.0),
              round(x.cast("double") / col("__mx") * 127))).cast("byte"))
            .as(qv))
        .select(col(id), col(v), col(qv),
          sqrt(aggregate(col(qv), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))).as(qn))
    val c = quant(corpus, "cand_id", "cv", "cqv", "cqn")
    val q = broadcast(quant(queries, "q_id", "qv", "qqv", "qqn"))
    val cands = c.join(q, col("cand_id") =!= col("q_id"))
      .select(col("q_id"),
        (byteDot(col("cqv"), col("qqv")).cast("double") /
          (col("cqn") * col("qqn"))).as("asim"),
        col("cand_id"))
      .groupBy("q_id")
      .agg(topKAgg(col("asim"), col("cand_id"), k * candMult).as("top"))
      .select(col("q_id"), explode(col("top")).as("c"))
      .select(col("q_id"), col("c.id").as("cand_id"))
    cands
      .join(corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
        Seq("cand_id"))
      .join(broadcast(
        queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))),
        Seq("q_id"))
      .groupBy("q_id")
      .agg(topKAgg(cosine(col("qv"), col("cv")), col("cand_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("cand_id"))
  }

  /** Plain-Scala Lloyd iterations on a driver-held sample — PQ
    * sub-codebook training. Deterministic: init = first k sample
    * points (the sample itself is hash-ordered), empty cells keep
    * their centroid. */
  private[graft] def lloydEuclid(
      points: Array[Array[Double]],
      k: Int,
      iters: Int): Array[Array[Double]] = {
    var cents = points.take(k)
    var it = 0
    while (it < iters) {
      val d = points.head.length
      val sums = Array.fill(cents.length)(new Array[Double](d))
      val cnt = new Array[Int](cents.length)
      points.foreach { p =>
        var best = 0
        var bd = Double.MaxValue
        var j = 0
        while (j < cents.length) {
          var dist = 0.0
          var i = 0
          while (i < d) {
            val t = p(i) - cents(j)(i); dist += t * t; i += 1
          }
          if (dist < bd) { bd = dist; best = j }
          j += 1
        }
        cnt(best) += 1
        val s = sums(best)
        var i = 0
        while (i < d) { s(i) += p(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, j) =>
        if (cnt(j) == 0) old else sums(j).map(_ / cnt(j))
      }
      it += 1
    }
    cents
  }

  /** Product-quantization ANN with asymmetric distance (ADC) scoring
    * and exact re-ranking — the aggressive end of the compression
    * spectrum: each vector stores `numSub` byte codes (+1 float
    * norm), 8 bytes for a 64-dim embedding vs 256 raw — 32× less
    * than float, 8× less than the int8 path (s06).
    *
    * Train: per-subspace codebooks (`codebookK` centroids over
    * `dim/numSub`-dim slices) via Lloyd on a bounded hash-ordered
    * sample held on the driver — the standard PQ regime (codebooks
    * train on ~10⁴–10⁵ samples regardless of corpus size; encoding
    * is the distributed part). Encode: per subspace, argmin-L2 code
    * via `x·c − ‖c‖²/2` codegen dots against literal centroids
    * (subvector materialized ONCE per subspace — no lambda-scope
    * re-evaluation). Score: classic ADC — each query precomputes its
    * codebookK-entry dot table per subspace (in its broadcast row), a
    * (query, candidate) pair then costs `numSub` array lookups, not a
    * dim-length loop; approximate cosine divides by the codebook-
    * derived norm. Top `k × candMult` per query via the bounded heap,
    * exact float cosine re-rank of the survivors. Recall floor
    * asserted in SimilaritySpec. */
  def pqKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numSub: Int = 8,
      // cb=64/candMult=64 is the round-13 MEASURED production
      // default — the round-12 sweep's own frontier (recall@5 0.961
      // at LOWER cost than the 0.861 cb=32/cm=32 pick: finer books
      // shrink the re-rank's wasted candidates, and the ADC table is
      // still only numSub×64 doubles per broadcast query row) —
      // recall sweep table in BENCH_FULL.md; the >= 0.9 floor is
      // spec-pinned. Memory: codebooks are numSub×codebookK×subDim
      // doubles (4 KB here) broadcast once — no scale concern.
      codebookK: Int = 64,
      sampleN: Int = 4096,
      trainIters: Int = 10,
      candMult: Int = 64,
      seed: Long = 42L): DataFrame = {
    // one sizing job answers dim AND n (dim is uniform per corpus)
    val sizing = corpus
      .agg(count(lit(1)), first(size(col(vecCol)))).head()
    val corpusN = sizing.getLong(0) // sizes the re-rank
    val dim = sizing.getInt(1)
    require(dim % numSub == 0, s"dim $dim not divisible by $numSub")
    val subDim = dim / numSub
    val sample = corpus
      .select(col(idCol).as("__id"),
        transform(col(vecCol), _.cast("double")).as("__v"))
      .orderBy(xxhash64(col("__id"), lit(seed)), col("__id"))
      .limit(sampleN)
      .collect().map(_.getSeq[Double](1).toArray)
    require(sample.length >= codebookK, s"sample ${sample.length} < k")
    val books: Array[Array[Array[Double]]] = (0 until numSub).map { s =>
      lloydEuclid(
        sample.map(_.slice(s * subDim, (s + 1) * subDim)),
        codebookK, trainIters)
    }.toArray
    val bookNormSq: Array[Array[Double]] =
      books.map(_.map(c => c.map(x => x * x).sum))

    def subCol(v: Column, s: Int): Column =
      slice(transform(v, _.cast("double")), s * subDim + 1, subDim)

    // ---- encode: codes + codebook-derived norm. Scoring loops over
    // a LITERAL packed codebook via transform (a codegen loop) rather
    // than codebookK unrolled struct exprs — the unrolled form blows
    // janino's method limits at 8 × 32 inline dot loops and drops the
    // whole stage to interpreted mode. Scores materialize in their
    // own select so the argmax's two references don't re-evaluate
    // the transform (no CSE), then argmin-L2 code =
    // first position of the max of `x·c − ‖c‖²/2`.
    //
    // Spread the corpus first: encode + ADC scoring + heap partials
    // all run map-side on the corpus's partitioning, and the
    // broadcast query join preserves it — a single-file corpus would
    // run the whole per-row-heavy pipeline on its 1-2 input splits
    // (measured: the one >1 s stage of s07 at sf1.0 ran 11.5 s at 2
    // tasks). One narrow (id, vector) shuffle, linear in the corpus.
    val corpusSpread = corpus.repartition(corpus.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt)
    val withSubs = corpusSpread.select(
      (col(idCol).as("cand_id") +: col(vecCol).as("cv") +:
        (0 until numSub).map(s => subCol(col(vecCol), s).as(s"__s$s"))): _*)
    val withScores = withSubs.select(
      (col("cand_id") +: col("cv") +:
        (0 until numSub).map { s =>
          val packed = typedLit(books(s).zipWithIndex.map { case (c, j) =>
            (c.toSeq, bookNormSq(s)(j))
          }.toSeq)
          transform(packed, e =>
            dotNative(col(s"__s$s"), e.getField("_1")) -
              e.getField("_2") / 2).as(s"__sc$s")
        }): _*)
    val encoded = withScores
      .select((col("cand_id") +: col("cv") +:
        (0 until numSub).map { s =>
          (array_position(col(s"__sc$s"), array_max(col(s"__sc$s"))) - 1)
            .cast("int").as(s"__c$s")
        }): _*)
      .withColumn("__anorm", sqrt((0 until numSub).map(s =>
        element_at(typedLit(bookNormSq(s).toSeq), col(s"__c$s") + 1))
        .reduce(_ + _)))

    // ---- queries: per-subspace ADC tables + exact norm, broadcast
    val qsubs = queries.select(
      (col(idCol).as("q_id") +: col(vecCol).as("qv") +:
        (0 until numSub).map(s => subCol(col(vecCol), s).as(s"__qs$s"))): _*)
    val qtabs = qsubs.select(
      (col("q_id") +: col("qv") +:
        l2norm(transform(col("qv"), _.cast("double"))).as("__qnorm") +:
        (0 until numSub).map { s =>
          transform(typedLit(books(s).map(_.toSeq).toSeq),
            c => dotNative(col(s"__qs$s"), c)).as(s"__t$s")
        }): _*)

    val approx = (0 until numSub).map(s =>
      element_at(col(s"__t$s"), col(s"__c$s") + 1)).reduce(_ + _) /
      (col("__anorm") * col("__qnorm"))
    val cands = encoded.join(broadcast(qtabs), col("cand_id") =!= col("q_id"))
      .select(col("q_id"), approx.as("asim"), col("cand_id"))
      .groupBy("q_id")
      .agg(topKAgg(col("asim"), col("cand_id"),
        rerankBudget(k, candMult, corpusN)).as("top"))
      .select(col("q_id"), explode(col("top")).as("c"))
      .select(col("q_id"), col("c.id").as("cand_id"))

    cands
      .join(corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
        Seq("cand_id"))
      .join(broadcast(
        queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))),
        Seq("q_id"))
      .groupBy("q_id")
      .agg(topKAgg(cosine(col("qv"), col("cv")), col("cand_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("cand_id"))
  }

  /** IVF-PQ: the coarse quantizer (k-means cells, [[kmeansCells]])
    * composed with product quantization over RESIDUALS — the
    * composition used by billion-scale ANN indexes (Jégou et al.,
    * "Product quantization for nearest neighbor search", §IV):
    * residuals concentrate around 0 once the cell mean is removed,
    * so the same codebook budget quantizes them far more finely
    * than raw vectors.
    *
    * Index: assign each corpus vector to its cell; store cell id +
    * `numSub` byte codes over the residual (against the cell's OWN
    * codebooks — trained per cell, falling back to global books for
    * undersampled cells) + one exact float norm.
    * Query: rank cells by centroid cosine, probe the top `nprobe`;
    * per (query, probed cell) one set of ADC tables against that
    * cell's books and one scalar `q·centroid`. Approx dot =
    * q·centroid + Σ_s table_s[code_s]; approx cosine divides by the
    * stored exact norm. The probe join is a hash equi-join on cell —
    * a probe touches nprobe/numCells of the index, and the ADC state
    * broadcast is |Q|·nprobe rows. Exact cosine re-rank of the top
    * `k × candMult` survivors, as in [[pqKnn]]. */
  def ivfPqKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCells: Int = 10,
      // nprobe=10 of 10 cells with 64-code residual books is the
      // round-13 MEASURED production default — the round-12 sweep's
      // own frontier (recall@5 0.928 at LOWER cost than nprobe=8's
      // 0.867: fewer re-rank misses outweigh the extra cell scans at
      // this cell count) — recall sweep table in BENCH_FULL.md;
      // >= 0.9 spec-pinned. At this DEFAULT cell count a full probe
      // degenerates IVF's coarse prune into per-cell-codebook PQ,
      // which is exactly what the measurement says to do at 10
      // cells; production tuning at real scale grows numCells with
      // the corpus (~sqrt(n)) and keeps nprobe a FRACTION of it —
      // the prune starts paying once cells outnumber probes.
      nprobe: Int = 10,
      numSub: Int = 8,
      codebookK: Int = 64,
      sampleN: Int = 4096,
      trainIters: Int = 10,
      candMult: Int = 16,
      seed: Long = 42L,
      coarseIters: Int = 5): DataFrame = {
    // one sizing job answers dim AND n (dim is uniform per corpus)
    val sizing = corpus
      .agg(count(lit(1)), first(size(col(vecCol)))).head()
    val corpusN = sizing.getLong(0) // sizes the re-rank
    val dim = sizing.getInt(1)
    require(dim % numSub == 0, s"dim $dim not divisible by $numSub")
    val subDim = dim / numSub
    // (No up-front corpus spread here, unlike pqKnn: kmeansCells
    // re-executes its input per Lloyd iteration, so a repartition
    // would be re-paid coarseIters times — measured NET-NEGATIVE,
    // 7.8 → 10.9 s at sf1.0. The encode/ADC stages inherit the
    // assignment join's shuffled partitioning instead.)
    // ---- coarse quantizer: cell assignment + per-cell centroids.
    // The assignment is a per-row map against the driver-held trained
    // centroids, and the VECTOR RIDES THE ASSIGNED ROW — the r13 form
    // dropped it (kmeansCells returns bare (id, cell)) and then paid
    // TWO corpus×assignment joins BY ID to re-attach it (once for the
    // per-cell means, once for the residuals): at scale that is the
    // whole corpus shuffled on a key that has nothing to do with
    // where rows are going (the guide's §8 anti-pattern), and locally
    // it was two exchanges + two joins of pure re-attachment.
    // Residuals materialize in their OWN select (zip_with output
    // referenced by later lambdas would re-evaluate per element).
    val centroidSeqs = trainCentroids(corpus, idCol, vecCol, numCells,
      maxIter = coarseIters, seed = seed)
    val assigned = corpus
      .select(col(idCol), col(vecCol), nearestCellCol(col(vecCol),
        centroidSeqs))
    val cents = broadcast(centroids(assigned, "cell", vecCol))
    // cached: consumed by BOTH the driver-side residual sample and
    // the distributed encode pass (no CSE across jobs — uncached, the
    // assignment map would run twice)
    val withRes = assigned
      .join(cents, Seq("cell"))
      .select(col("cell"), col(idCol).as("cand_id"), col(vecCol).as("cv"),
        zip_with(transform(col(vecCol), _.cast("double")), col("centroid"),
          (a, b) => a - b).as("__res"))
      .cache()
    // ---- PQ codebooks Lloyd-trained PER CELL on bounded residual
    // samples (Jégou et al. §IV: "local" codebooks per Voronoi cell):
    // residual distributions differ across cells, so per-cell books
    // quantize finer at the same budget than one global set. Cells
    // whose sample cannot support codebookK centers fall back to
    // global books trained on the pooled sample (also what keeps tiny
    // corpora working). The books travel as a broadcast-JOINED table
    // keyed by cell — bounded driver/broadcast state
    // (numCells × numSub × codebookK × subDim doubles), and unlike a
    // plan literal it scales to large cell counts without bloating
    // the plan. The per-row books array in the encode projection is
    // map-side-transient: dropped before any shuffle.
    val perCellN = math.max(codebookK * 2, sampleN / numCells)
    val ws = Window.partitionBy(col("cell"))
      .orderBy(xxhash64(col("cand_id"), lit(seed + 1)), col("cand_id"))
    val sampleRows = withRes
      .withColumn("__rn", row_number().over(ws))
      .filter(col("__rn") <= perCellN)
      .select(col("cell"), col("__res"))
      .collect()
    val pooled = sampleRows.map(_.getSeq[Double](1).toArray)
    require(pooled.length >= codebookK,
      s"residual sample ${pooled.length} < codebookK $codebookK")
    def trainBooks(rs: Array[Array[Double]]): Array[Array[Array[Double]]] =
      (0 until numSub).map { s =>
        lloydEuclid(rs.map(_.slice(s * subDim, (s + 1) * subDim)),
          codebookK, trainIters)
      }.toArray
    val globalBooks = trainBooks(pooled)
    // per-cell Lloyd runs are independent — train them concurrently on
    // the driver (numCells × numSub small k-means fits; serial, this
    // dominates index build time)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val booksRows: Seq[(Int, Seq[Seq[(Seq[Double], Double)]])] =
      Await.result(
        Future.traverse(sampleRows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)) {
          case (c, rows) => Future {
            val rs = rows.map(_.getSeq[Double](1).toArray)
            val bks =
              if (rs.length >= codebookK) trainBooks(rs) else globalBooks
            (c, bks.toSeq.map(_.toSeq.map(cent =>
              (cent.toSeq, cent.map(x => x * x).sum))))
          }
        }, Duration.Inf)
    val session = corpus.sparkSession
    import session.implicits._
    val booksDf = broadcast(booksRows.toDF("cell", "__books"))
    // ---- encode: argmin-L2 residual codes against the OWN cell's
    // books (codegen transform loop, as in pqKnn — unrolled struct
    // argmax blows janino limits) + the exact vector norm (one float;
    // IP/cosine IVF-PQ keeps it)
    // subvectors projected BEFORE the books join: the wide per-cell
    // books column then flows through exactly one projection (the
    // scoring select drops it) instead of being row-copied twice
    val withSubs = withRes.select(
      (col("cell") +: col("cand_id") +: col("cv") +:
        l2norm(transform(col("cv"), _.cast("double"))).as("__cnorm") +:
        (0 until numSub).map(s =>
          slice(col("__res"), s * subDim + 1, subDim).as(s"__s$s"))): _*)
      .join(booksDf, Seq("cell"))
    val withScores = withSubs.select(
      (col("cell") +: col("cand_id") +: col("cv") +: col("__cnorm") +:
        (0 until numSub).map { s =>
          transform(element_at(col("__books"), s + 1), e =>
            dotNative(col(s"__s$s"), e.getField("_1")) -
              e.getField("_2") / 2).as(s"__sc$s")
        }): _*)
    val encoded = withScores.select(
      (col("cell") +: col("cand_id") +: col("cv") +: col("__cnorm") +:
        (0 until numSub).map { s =>
          (array_position(col(s"__sc$s"), array_max(col(s"__sc$s"))) - 1)
            .cast("int").as(s"__c$s")
        }): _*)
    // ---- probe: top-nprobe cells per query + per-query ADC tables
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("csim").desc, col("cell"))
    val probed = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .crossJoin(cents)
      .withColumn("csim", cosine(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select(col("q_id"), col("qv"), col("cell"),
        dotNative(transform(col("qv"), _.cast("double")), col("centroid"))
          .as("__qdotc"))
    val qd = probed.join(booksDf, Seq("cell"))
      .select((col("q_id") +: col("qv") +: col("cell") +: col("__qdotc") +:
        col("__books") +:
        l2norm(transform(col("qv"), _.cast("double"))).as("__qnorm") +:
        (0 until numSub).map(s =>
          slice(transform(col("qv"), _.cast("double")),
            s * subDim + 1, subDim).as(s"__qs$s"))): _*)
      // per-(query, probed-cell) ADC tables against THAT cell's books
      // — dot(q_s, c_j) no longer decomposes cell-independently once
      // books are local, so tables live on the (q, cell) probe row
      .select((col("q_id") +: col("cell") +: col("__qdotc") +:
        col("__qnorm") +:
        (0 until numSub).map { s =>
          transform(element_at(col("__books"), s + 1),
            e => dotNative(col(s"__qs$s"), e.getField("_1"))).as(s"__t$s")
        }): _*)
    val approx = (col("__qdotc") +
      (0 until numSub).map(s =>
        element_at(col(s"__t$s"), col(s"__c$s") + 1)).reduce(_ + _)) /
      (col("__cnorm") * col("__qnorm"))
    val cands = encoded.join(broadcast(qd), Seq("cell"))
      .filter(col("cand_id") =!= col("q_id"))
      .select(col("q_id"), approx.as("asim"), col("cand_id"))
      .groupBy("q_id")
      .agg(topKAgg(col("asim"), col("cand_id"),
        rerankBudget(k, candMult, corpusN)).as("top"))
      .select(col("q_id"), explode(col("top")).as("c"))
      .select(col("q_id"), col("c.id").as("cand_id"))
    cands
      .join(corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
        Seq("cand_id"))
      .join(broadcast(
        queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))),
        Seq("q_id"))
      .groupBy("q_id")
      .agg(topKAgg(cosine(col("qv"), col("cv")), col("cand_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("cand_id"))
  }

  /** Per-cell mean centroids (the IVF coarse codebook), computed from
    * a cell-assignment column: posexplode → per-(cell,dim) avg →
    * re-assembled arrays. Two small shuffles, output is tiny and
    * broadcastable. */
  def centroids(df: DataFrame, cellCol: String, vecCol: String): DataFrame =
    df.select(col(cellCol).as("cell"), posexplode(col(vecCol)))
      .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))

  /** Write the IVF inverted file as a CELL-BUCKETED, cell-sorted
    * table plus its frozen centroids (`<table>_centroids`) — the ANN
    * analog of the LSH banded layout and the FTS token layout: train
    * + assign + shuffle are paid ONCE per corpus snapshot, and every
    * subsequent probe scans only the probed cells' buckets (bucket
    * pruning; the index side never shuffles — the bounded query set
    * broadcasts). At 100 TB the quantizer train/assign pass is the
    * cost being amortized across every search that follows. */
  def writeIvfLayout(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      table: String,
      numCells: Int = 16,
      numBuckets: Int = 16,
      maxIter: Int = 10,
      seed: Long = 42L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = trainCentroids(corpus, idCol, vecCol, numCells, maxIter, seed)
    Layouts.publish(
      corpus
        .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
        .withColumn("cell", nearestCellCol(col("embedding"), cents)),
      table, "ivf_cells", Seq("cell"), numBuckets,
      props = Map("numCells" -> numCells.toString,
        "maxIter" -> maxIter.toString, "seed" -> seed.toString,
        "centroids_table" -> s"${table}_centroids"))
    Layouts.ensureWritable(spark, s"${table}_centroids")
    cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .write.mode("overwrite").saveAsTable(s"${table}_centroids")
  }

  /** Write-once IVF-PQ index layout — the publish-time home for the
    * √n-cells geometry that is unaffordable per query (the round-13
    * measurement: training 141 cells inline cost 90 s at 20k rows;
    * a layout pays it once). Three tables through the [[Layouts]]
    * door:
    *
    *   - `table` — the code table: (cell, vec_id, embedding,
    *     __cnorm, __c0..__c{numSub-1}), bucketed+sorted by cell so a
    *     probe's `cell IN (probed)` scan is bucket-pruned and the
    *     ADC pass runs with ZERO index-side exchange;
    *   - `table_centroids` — the frozen coarse quantizer;
    *   - `table_books` — the GLOBAL residual codebooks, one row per
    *     subspace. Global (not per-cell) books are the deliberate
    *     scale choice, matching FAISS's IndexIVFPQ default: per-cell
    *     books at √n cells mean O(√n · numSub) driver Lloyd fits and
    *     a 128·√n-vector driver sample — the exact cost the layout
    *     exists to remove — while global books train on ONE bounded
    *     pooled sample regardless of corpus size, make the per-query
    *     ADC table cell-independent (numSub·codebookK dots per query,
    *     not per (query, cell)), and the corpus-proportional re-rank
    *     floor absorbs the residual-coarseness recall cost.
    *
    * `numCells = 0` sizes the coarse quantizer at ~√n (floor 16) —
    * the geometry where the coarse prune starts paying (cells must
    * outnumber probes). `replicateMargin` (default 0.1 cosine)
    * controls boundary replication — see the assignment comment
    * below; on the 20k fresh corpus it measured
    * nprobe/numCells = 0.25 → recall 0.747 unreplicated vs 0.935 at
    * margin 0.1 (storage ×2.84 on that worst-case near-uniform
    * fixture; clusterable corpora replicate less because fewer cells
    * tie within the margin), probe wall 7.3 s vs the per-query s08
    * path's 47.9 s — BENCH_FULL.md round-14. At 100 TB: the publish
    * is one count, one bounded driver k-means, one map-side
    * assign/encode pass, and one bucketed shuffle; probes thereafter
    * touch nprobe/numCells of the buckets. */
  def writeIvfPqLayout(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      table: String,
      numCells: Int = 0,
      numBuckets: Int = 16,
      nprobeDefault: Int = 0,
      numSub: Int = 8,
      codebookK: Int = 64,
      sampleN: Int = 4096,
      trainIters: Int = 10,
      coarseIters: Int = 5,
      replicateMargin: Double = 0.1,
      maxAssign: Int = 4,
      seed: Long = 42L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // one sizing job answers dim AND n (dim is uniform per corpus —
    // the require below rejects a bad one either way)
    val sizing = corpus
      .agg(count(lit(1)), first(size(col(vecCol)))).head()
    val n = sizing.getLong(0)
    val dim = sizing.getInt(1)
    require(dim % numSub == 0, s"dim $dim not divisible by $numSub")
    val subDim = dim / numSub
    val cellsN =
      if (numCells > 0) numCells
      else math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    // frozen coarse quantizer (distributed Lloyd; driver state is
    // cellsN·dim doubles)
    val cents = trainCentroids(
      corpus, idCol, vecCol, cellsN, coarseIters, seed)
    val centsDf = cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
    // persisted across its two consumers (the residual-sample collect
    // and the encode+write): un-persisted, the cell assignment — a
    // full corpus scan scoring numCells cosines per row — runs twice.
    // Publish-time only, never query-time; MEMORY_AND_DISK so a
    // corpus-sized publish spills instead of evicting.
    val assigned = assignIvfCells(
      corpus, idCol, vecCol, cents, replicateMargin, maxAssign)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // global residual books on ONE pooled hash-ordered sample:
    // residual = v − centroid(cell(v)), computed map-side against the
    // broadcast centroid table
    val sample = assigned
      .join(broadcast(centsDf), Seq("cell"))
      .select(col("vec_id"),
        zip_with(transform(col("embedding"), _.cast("double")),
          col("centroid"), (a, b) => a - b).as("__res"))
      .orderBy(xxhash64(col("vec_id"), lit(seed + 1)), col("vec_id"))
      .limit(sampleN)
      .select(col("__res")).collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= codebookK,
      s"residual sample ${sample.length} < codebookK $codebookK")
    val books: Array[Array[Array[Double]]] = (0 until numSub).map { s =>
      lloydEuclid(sample.map(_.slice(s * subDim, (s + 1) * subDim)),
        codebookK, trainIters)
    }.toArray
    val encoded = encodeIvfPqCodes(assigned, centsDf, books, numSub, subDim)
    val baseProps = Map(
      "numCells" -> cellsN.toString, "numSub" -> numSub.toString,
      "codebookK" -> codebookK.toString, "seed" -> seed.toString,
      "nprobe_default" -> (if (nprobeDefault > 0) nprobeDefault
        else math.max(1, cellsN / 4)).toString,
      "base_rows" -> n.toString,
      "replicateMargin" -> replicateMargin.toString,
      "maxAssign" -> maxAssign.toString,
      "centroids_table" -> s"${table}_centroids",
      "books_table" -> s"${table}_books")
    // the publish-time quantization-error baseline for the append
    // path's staleness audit rides the SAME manifest record (propsOf
    // reads it back from the written table — one cheap single-column
    // columnar scan; re-evaluating `encoded` would re-run the whole
    // encode, and a second recordManifest would rewrite the manifest
    // table twice)
    // the tiny centroids/books sibling writes ride a helper thread
    // UNDER the big codes publish (independent tables, independent
    // directories — same overlap discipline as the model-suite part
    // appends): the two catalog round-trips stop costing wall
    val sideWrites = new java.util.concurrent.FutureTask[Unit](() => {
      Layouts.ensureWritable(spark, s"${table}_centroids")
      Layouts.ensureWritable(spark, s"${table}_books")
      centsDf.write.mode("overwrite").saveAsTable(s"${table}_centroids")
      books.zipWithIndex
        .map { case (b, s) => (s, b.map(_.toSeq).toSeq) }.toSeq
        .toDF("sub", "book")
        .write.mode("overwrite").saveAsTable(s"${table}_books")
    })
    val sideThread = new Thread(sideWrites)
    sideThread.setDaemon(true)
    sideThread.start()
    try {
      Layouts.publish(encoded, table, "ivfpq_codes", Seq("cell"), numBuckets,
        props = baseProps,
        propsOf = w => Map("mean_code_err" ->
          f"${w.agg(avg(col("__qerr"))).head.getDouble(0)}%.8f"))
      sideWrites.get() // rethrows a sibling-write failure
    } finally {
      // if publish threw, the daemon side thread may still be running
      // saveAsTable DDL — AWAIT it here (suppressing its own failure;
      // the publish error is the one propagating) so no background
      // catalog write outlives the call for a retry/cleanup to race.
      // FutureTask.get is idempotent, so the success path pays nothing.
      try { sideWrites.get(); () }
      catch { case _: Throwable => () }
      assigned.unpersist()
      ()
    }
  }

  /** Cell assignment against FROZEN coarse centroids, optionally with
    * BOUNDARY REPLICATION (the SPANN closure idea — Chen et al.,
    * "SPANN: Highly-efficient Billion-scale Approximate Nearest
    * Neighbor Search", NeurIPS'21 §3.2): a vector whose 2nd..Mth
    * cells score within `replicateMargin` cosine of its best cell is
    * stored in THOSE cells too (≤ maxAssign copies). A boundary
    * vector is exactly the one a pruned probe misses — its true cell
    * ranks just past nprobe — so bounded replication buys coarse
    * recall at weakly-clusterable corpora for a measured storage
    * factor, where growing nprobe would pay on every query forever.
    * Probes dedup candidate ids (best score wins), so replication is
    * output-invisible. Scored structs materialize in their own
    * select; the filter/slice lambdas otherwise re-evaluate the
    * cells-cosine array per element. Shared by the publish
    * ([[writeIvfPqLayout]]) and append ([[appendIvfPqLayout]]) paths
    * so an appended vector lands in exactly the cells a publish
    * would have put it in. Returns (vec_id, embedding, cell). */
  private[graft] def assignIvfCells(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Seq[Seq[Double]],
      replicateMargin: Double,
      maxAssign: Int): DataFrame =
    if (replicateMargin <= 0.0) {
      corpus.select(col(idCol).as("vec_id"),
        col(vecCol).as("embedding"), nearestCellCol(col(vecCol), cents))
    } else {
      val scoredArr = array(cents.zipWithIndex.map { case (c, i) =>
        struct(cosine(col(vecCol), typedLit(c)).as("sim"),
          lit(i).as("cell"))
      }: _*)
      corpus
        .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
          scoredArr.as("__scored"))
        .select(col("vec_id"), col("embedding"),
          array_max(col("__scored")).getField("sim").as("__best"),
          col("__scored"))
        .select(col("vec_id"), col("embedding"),
          slice(reverse(array_sort(filter(col("__scored"), s =>
            s.getField("sim") >= col("__best") - lit(replicateMargin)))),
            1, maxAssign).as("__kept"))
        .select(col("vec_id"), col("embedding"),
          explode(col("__kept")).as("__sc"))
        .select(col("vec_id"), col("embedding"),
          col("__sc.cell").as("cell"))
    }

  /** Residual-PQ encode against FROZEN global books — argmin-L2 code
    * per subspace via the LITERAL-book codegen transform loop (as in
    * pqKnn) + the exact vector norm for the approx-cosine
    * denominator. Per-row deterministic (literal books, first-max
    * argmax), which is the whole batch/incremental equivalence the
    * append path's replay spec rests on. The extra `__qerr` column is
    * the ADC reconstruction error Σ_s ‖r_s − book_s[c_s]‖², read off
    * the argmax pass for free (max score_s = (‖r_s‖² −
    * min_j‖r_s − c_j‖²)/2), so staleness audits never need a decode
    * pass. Returns (cell, vec_id, embedding, __cnorm, __c0..,
    * __qerr). */
  private[graft] def encodeIvfPqCodes(
      assigned: DataFrame,
      centsDf: DataFrame,
      books: Array[Array[Array[Double]]],
      numSub: Int,
      subDim: Int): DataFrame = {
    val bookNormSq: Array[Array[Double]] =
      books.map(_.map(c => c.map(x => x * x).sum))
    val withRes = assigned
      .join(broadcast(centsDf), Seq("cell"))
      .select(col("cell"), col("vec_id"), col("embedding"),
        zip_with(transform(col("embedding"), _.cast("double")),
          col("centroid"), (a, b) => a - b).as("__res"))
    val withSubs = withRes.select(
      (col("cell") +: col("vec_id") +: col("embedding") +:
        l2norm(transform(col("embedding"), _.cast("double")))
          .as("__cnorm") +:
        dotNative(col("__res"), col("__res")).as("__resn2") +:
        (0 until numSub).map(s =>
          slice(col("__res"), s * subDim + 1, subDim).as(s"__s$s"))): _*)
    val withScores = withSubs.select(
      (col("cell") +: col("vec_id") +: col("embedding") +:
        col("__cnorm") +: col("__resn2") +:
        (0 until numSub).map { s =>
          val packed = typedLit(books(s).zipWithIndex.map { case (c, j) =>
            (c.toSeq, bookNormSq(s)(j))
          }.toSeq)
          transform(packed, e =>
            dotNative(col(s"__s$s"), e.getField("_1")) -
              e.getField("_2") / 2).as(s"__sc$s")
        }): _*)
    withScores.select(
      ((col("cell") +: col("vec_id") +: col("embedding") +:
        col("__cnorm") +:
        (0 until numSub).map { s =>
          (array_position(col(s"__sc$s"), array_max(col(s"__sc$s"))) - 1)
            .cast("int").as(s"__c$s")
        }) :+
        greatest(lit(0.0), col("__resn2") -
          (0 until numSub).map(s => array_max(col(s"__sc$s")) * 2)
            .reduce(_ + _)).as("__qerr")): _*)
  }

  /** Incrementally append a batch into a [[writeIvfPqLayout]] index —
    * the 100 TB ingestion path. A published ANN index must absorb new
    * corpus batches WITHOUT the publish-time k-means: retraining per
    * batch would pay the layout's one-off cost on every arrival, and
    * a mutated quantizer would silently re-key every stored code. The
    * frozen-quantizer design makes the append O(batch) and
    * embarrassingly parallel: read the stored centroids/books
    * (driver-tiny), assign + encode the batch map-side (the SAME
    * [[assignIvfCells]]/[[encodeIvfPqCodes]] the publish used —
    * per-row deterministic, so incremental == batch under any
    * chunking), and append the coded rows into the SAME bucketed
    * table. Bucket pruning and the exchange-free probe join survive:
    * an append adds files per bucket, never re-shuffles history
    * (compaction = re-publish, the LSM discipline).
    *
    * Freezing trades adaptivity for that O(batch) cost, so every
    * append returns the STALENESS AUDIT that says when the trade has
    * expired: `err_ratio` — the batch's mean ADC reconstruction error
    * over the publish-time baseline (drifted data encodes worse: the
    * frozen books no longer span the residual space) — and
    * `cell_skew` — the batch's max cell share × numCells (a skewed
    * batch concentrates new mass into few cells, eroding the coarse
    * prune). `retrain_recommended` fires on err_ratio > 1.5, or on
    * cell_skew > 8 once the batch is big enough for shares to mean
    * anything (≥ 16·numCells codes). Returns the one-row audit;
    * manifest n_rows updates additively — no table re-count, because
    * at scale the running count IS the manifest's job. The audit
    * itself is ONE bounded aggregate (the ≤ numCells per-cell
    * histogram; every global derives from it driver-side). `batch`
    * must carry unique vector ids — each arrival is one new vector —
    * which is what lets `batch_vecs` be a cheap source-row count
    * rather than a distinct aggregate over the replicated codes. */
  def appendIvfPqLayout(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      table: String): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val man = Layouts.manifest(spark)
      .filter(col("layout") === table)
      .select(col("n_rows"), col("num_buckets"), col("props")).head()
    val priorRows = man.getLong(0)
    val numBuckets = man.getInt(1)
    val props = man.getString(2).split(";").map(_.split("=", 2))
      .collect { case Array(k0, v) => k0 -> v }.toMap
    val numSub = props("numSub").toInt
    val numCells = props("numCells").toInt
    val replicateMargin =
      props.getOrElse("replicateMargin", "0.0").toDouble
    val maxAssign = props.getOrElse("maxAssign", "4").toInt
    val baseErr = props.getOrElse("mean_code_err", "0").toDouble
    // Row.getSeq yields mutable ArraySeq at runtime — materialize to
    // immutable Vectors before anything re-encodes them (toDF/typedLit)
    val cents: Seq[Seq[Double]] = spark.table(s"${table}_centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toVector).toVector
    val books: Array[Array[Array[Double]]] =
      spark.table(s"${table}_books").collect()
        .map(r => r.getInt(0) ->
          r.getSeq[scala.collection.Seq[Double]](1)
            .map(_.toArray).toArray)
        .sortBy(_._1).map(_._2)
    val subDim = cents.head.length / numSub
    val centsDf = cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
    val encoded = encodeIvfPqCodes(
      assignIvfCells(batch, idCol, vecCol, cents, replicateMargin,
        maxAssign),
      centsDf, books, numSub, subDim)
      .persist() // batch-bounded: the write + the audit share one encode
    // batch_vecs counts the SOURCE batch (ids are unique per batch by
    // contract — each arrival is one new vector): independent of the
    // write, so it rides a helper thread under it instead of costing
    // one more serial job per trigger
    val nVecsTask = new java.util.concurrent.FutureTask[Long](() =>
      batch.select(col(idCol)).count())
    val nVecsThread = new Thread(nVecsTask)
    nVecsThread.setDaemon(true)
    nVecsThread.start()
    try {
      encoded.write.bucketBy(numBuckets, "cell").sortBy("cell")
        .mode("append").saveAsTable(table)
      // ONE bounded audit pass: the per-cell histogram (≤ numCells
      // rows) carries every global the audit needs — count, error
      // mass, max share — so no second/third aggregate job runs per
      // batch.
      val cellsHist = encoded.groupBy("cell")
        .agg(count(lit(1)).as("n"), sum(col("__qerr")).as("se"))
        .collect()
      val nCodes = cellsHist.map(_.getAs[Long]("n")).sum
      val batchErr =
        cellsHist.map(_.getAs[Double]("se")).sum / math.max(1L, nCodes)
      val maxCell =
        if (cellsHist.isEmpty) 0L else cellsHist.map(_.getAs[Long]("n")).max
      val nVecs = nVecsTask.get()
      val errRatio = if (baseErr > 0) batchErr / baseErr else 1.0
      val cellSkew = maxCell.toDouble * numCells / math.max(1L, nCodes)
      val retrain = errRatio > 1.5 ||
        (nCodes >= 16L * numCells && cellSkew > 8.0)
      Layouts.recordManifest(spark, table, "ivfpq_codes", Seq("cell"),
        numBuckets, priorRows + nCodes,
        props + ("appended_rows" ->
          (props.getOrElse("appended_rows", "0").toLong + nCodes).toString))
      Seq((nVecs, nCodes, priorRows + nCodes,
        math.rint(errRatio * 10000) / 10000,
        math.rint(cellSkew * 10000) / 10000, retrain))
        .toDF("batch_vecs", "batch_codes", "total_codes",
          "err_ratio", "cell_skew", "retrain_recommended")
    } finally {
      // a failed write/audit must not leave the helper count job
      // running (one leaked Spark job per failed trigger in a
      // long-lived stream): cancel if still pending, then await the
      // (possibly already-finished) task, suppressing its own error —
      // the primary failure is the one propagating
      nVecsTask.cancel(false)
      try { nVecsTask.get(); () }
      catch { case _: Throwable => () }
      encoded.unpersist(); ()
    }
  }

  /** Compact a [[writeIvfPqLayout]] index after a run of
    * [[appendIvfPqLayout]]s — the LSM discipline's other half: every
    * append adds one file generation per touched bucket, and a probe
    * pays the open/footer cost of every generation it prunes TO, so
    * periodically the code table is rewritten as ONE bucketed pass.
    * No k-means, no re-encode, no audit change: the codes are already
    * final (frozen quantizers), so compaction is pure file-geometry
    * maintenance — read the table, spill it once (Spark refuses to
    * overwrite a table from its own live scan), republish through the
    * same bucketed door with the manifest props carried over
    * verbatim. At 100 TB this is one shuffle-free-per-bucket write
    * pass, schedulable off-peak, amortized across the appends it
    * absorbs. Returns (files_before, files_after). */
  def compactIvfPqLayout(
      spark: org.apache.spark.sql.SparkSession,
      table: String): (Long, Long) = {
    val man = Layouts.manifest(spark)
      .filter(col("layout") === table)
      .select(col("num_buckets"), col("props")).head()
    val numBuckets = man.getInt(0)
    val props = man.getString(1).split(";").map(_.split("=", 2))
      .collect { case Array(k0, v) => k0 -> v }.toMap
    def dataFiles(): Long = spark.table(table).inputFiles.length.toLong
    val before = dataFiles()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_compact").toString
    try {
      spark.table(table).write.parquet(s"$tmp/codes")
      val back = spark.read.parquet(s"$tmp/codes")
        .repartition(numBuckets, col("cell"))
      Layouts.publish(back, table, "ivfpq_codes", Seq("cell"),
        numBuckets, props = props)
      (before, dataFiles())
    } finally {
      val root = java.nio.file.Paths.get(tmp)
      val files = java.nio.file.Files.walk(root)
      try files.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally files.close()
    }
  }

  /** Probe a [[writeIvfPqLayout]] index: rank the STORED frozen
    * centroids per query, `cell IN (top-nprobe)` bucket-prunes the
    * code-table scan, ADC-score the probed cells' codes against the
    * query's (cell-independent) dot tables, exact-rerank the
    * corpus-proportional survivor set from the SAME pruned scan.
    * No training, no corpus aggregate, no index-side exchange at
    * query time — the ADC pass joins broadcast query state into the
    * bucketed scan. `nprobe = 0` uses the published default
    * (numCells/4). */
  def ivfPqAnnFromLayout(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 0,
      candMult: Int = 16): DataFrame = {
    val man = Layouts.manifest(spark)
      .filter(col("layout") === table)
      .select(col("n_rows"), col("props")).head()
    val corpusN = man.getLong(0)
    val props = man.getString(1).split(";").map(_.split("=", 2))
      .collect { case Array(k0, v) => k0 -> v }.toMap
    val numSub = props("numSub").toInt
    val np =
      if (nprobe > 0) nprobe
      else props.getOrElse("nprobe_default",
        math.max(1, props("numCells").toInt / 4).toString).toInt
    // tiny driver reads: the global books (numSub·codebookK·subDim
    // doubles) become plan literals for the query-side dot tables
    val books: Map[Int, Seq[Seq[Double]]] =
      spark.table(s"${table}_books").collect()
        .map(r => r.getInt(0) -> r.getSeq[Seq[Double]](1)).toMap
    val dim = queries.select(size(col(vecCol))).head.getInt(0)
    require(dim % numSub == 0, s"query dim $dim not divisible by $numSub")
    val subDim = dim / numSub
    val cents = broadcast(spark.table(s"${table}_centroids"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("csim").desc, col("cell"))
    // probe rows carry q·centroid (the cell-dependent ADC term) and
    // the per-subspace dot tables (cell-INdependent — global books)
    val probed = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .crossJoin(cents)
      .withColumn("csim", cosine(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= np)
      .select(col("q_id"), col("qv"), col("cell"),
        dotNative(transform(col("qv"), _.cast("double")), col("centroid"))
          .as("__qdotc"))
    val qd = probed.select(
      (col("q_id") +: col("cell") +: col("__qdotc") +:
        l2norm(transform(col("qv"), _.cast("double"))).as("__qnorm") +:
        (0 until numSub).map { s =>
          transform(typedLit(books(s)), c =>
            dotNative(slice(transform(col("qv"), _.cast("double")),
              s * subDim + 1, subDim), c)).as(s"__t$s")
        }): _*)
    // literal probe-cell set (bounded by |queries|·nprobe) so the
    // bucketed scan prunes to the probed buckets; relies on the
    // session-wide autoBucketedScan=false default (see [[Layouts]])
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val pruned = spark.table(table).filter(col("cell").isin(cells: _*))
    val approx = (col("__qdotc") +
      (0 until numSub).map(s =>
        element_at(col(s"__t$s"), col(s"__c$s") + 1)).reduce(_ + _)) /
      (col("__cnorm") * col("__qnorm"))
    val cands = pruned.join(broadcast(qd), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), approx.as("asim"), col("vec_id").as("cand_id"))
      .groupBy("q_id")
      .agg(topKAgg(col("asim"), col("cand_id"),
        rerankBudget(k, candMult, corpusN)).as("top"))
      .select(col("q_id"), explode(col("top")).as("c"))
      .select(col("q_id"), col("c.id").as("cand_id"))
    // exact rerank reads vectors from the SAME pruned bucketed scan —
    // candidates only exist inside probed cells
    cands
      .join(pruned.select(col("vec_id").as("cand_id"),
        col("embedding").as("cv")), Seq("cand_id"))
      .join(broadcast(
        queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))),
        Seq("q_id"))
      .groupBy("q_id")
      // dedupIds: a replicated layout (replicateMargin > 0) can
      // surface the same candidate from several probed cells — the
      // best-wins id-unique heap makes replication output-invisible
      .agg(topKAgg(cosine(col("qv"), col("cv")), col("cand_id"), k,
        dedupIds = true).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("cand_id"))
  }

  /** Probe a [[writeIvfLayout]] table: queries rank the STORED frozen
    * centroids (no corpus aggregate at query time), the probed cell
    * set — bounded by |queries|·nprobe — prunes the bucketed scan,
    * and the exact rerank runs only inside the probed cells. Same
    * candidate semantics as [[ivfAnn]] over the stored assignment. */
  def ivfAnnFromLayout(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 2): DataFrame = {
    val cents = broadcast(spark.table(s"${table}_centroids"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("csim").desc, col("cell"))
    val probed = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .crossJoin(cents)
      .withColumn("csim", cosine(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select(col("q_id"), col("qv"), col("cell"))
    // literal probe-cell set (bounded by |queries|*nprobe) so the
    // bucketed scan prunes to the probed buckets
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // the cell-pruned bucketed scan relies on the session-wide
    // autoBucketedScan=false default (see [[Layouts]]) — the probe
    // itself never mutates shared session conf
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    spark.table(table)
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
        col("cell"))
      .join(broadcast(probed), Seq("cell"))
      .filter(col("cand_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("cand_id"))
  }

  /** IVF-style ANN: assign each query to its `nprobe` nearest
    * centroids, search only those cells, exact-rerank. The corpus is
    * pre-partitioned by cell (the inverted file); a probe touches
    * nprobe/|cells| of the data. */
  def ivfAnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cellCol: String,
      k: Int,
      nprobe: Int = 2): DataFrame = {
    val cents = broadcast(centroids(corpus, cellCol, vecCol))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("csim").desc, col("cell"))
    val probed = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .crossJoin(cents)
      .withColumn("csim", cosine(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select(col("q_id"), col("qv"), col("cell"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      col(cellCol).as("cell"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    c.join(broadcast(probed),
        Seq("cell")).filter(col("cand_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("cand_id"))
  }

  /** Cross-modal cluster profile — the "what IS this cluster" report
    * behind SemDeDup-style curation: cluster membership comes from
    * the EMBEDDING space (`cells` = (id, cell) from [[kmeansCells]] /
    * [[assignCells]]), every profiled metric comes from the TEXT side
    * (`features`, joined on the shared id). Prune/keep decisions are
    * made per cluster but executed per doc — this is the table those
    * decisions read: doc count, token budget, mean quality, and
    * corpus share per cell.
    *
    * Shape at 100 TB: cell assignment is map-side against driver-held
    * centroids (no shuffle); the profile is ONE hash equi-join on the
    * id between two id-partitioned fact tables, a |k|-row hash-agg,
    * and a one-row total broadcast for the share — nothing all-pairs,
    * nothing corpus-sized on the driver.
    *
    * @param cells    (idCol, "cell") — embedding-side assignment
    * @param features per-id metric frame (text side)
    * @param metrics  aggregate expressions evaluated per cell */
  def clusterProfile(
      cells: DataFrame,
      features: DataFrame,
      idCol: String,
      metrics: Seq[Column]): DataFrame = {
    val joined = cells.join(features, Seq(idCol))
    val total = joined.agg(count(lit(1)).cast("double").as("__total"))
    joined.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_docs"), metrics: _*)
      .crossJoin(broadcast(total))
      .withColumn("share",
        floor(col("n_docs") / col("__total") * 10000) / 10000)
      .drop("__total")
  }
}
