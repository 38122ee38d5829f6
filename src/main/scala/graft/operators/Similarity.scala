package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}

import scala.collection.mutable.ArrayBuffer

import graft.plans.PqCodebook

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Three paths:
  *  - [[knnBruteAgg]]: exact cosine top-k. O(N·Q): the query set is
  *    broadcast, the corpus streams — correct baseline and the
  *    recall oracle for the approximate paths.
  *  - [[lshAnn]]: random-hyperplane LSH. Buckets cut the candidate
  *    set before any join; multi-probe (1-bit flips) recovers recall.
  *  - [[ivfAnn]]: IVF-style coarse quantization — centroids from the
  *    data, queries probe the nearest `nprobe` cells only.
  *
  * The per-row and per-pair vector math is native codegen'd Catalyst
  * expressions in double precision: [[graft.plans.CosineSim]]
  * ([[cosine]]), [[graft.plans.DotProduct]] ([[dotNative]]),
  * [[graft.plans.ByteDot]] ([[byteDot]], int8 codes),
  * [[graft.plans.HyperplaneBuckets]] (every LSH bucket id) and the
  * product-quantization kernel [[graft.plans.PqEncode]] /
  * [[graft.plans.PqAdcTable]] (every PQ and IVF-PQ encode and ADC
  * table; their norms are native self dots). Per-query and per-node
  * top-k retention is the bounded-heap aggregates
  * [[graft.plans.TopKPairs]] / [[graft.plans.ThresholdTopKPairs]];
  * the banded engines score within-bucket pairs in one partition
  * scorer over primitive arrays (the band-cell scorer below).
  * Float-vector norms are the native self dot (`l2normNative`).
  * Higher-order functions remain, each an interpreted lambda per
  * element (Spark evaluates them as CodegenFallback), in: the banded
  * tables' int8 quantization, the cell-tiling sequences,
  * [[quantizedKnn]], the MIPS augmentation and [[centroids]].
  */
object Similarity {

  /** Elementwise double cast (float parquet vectors → stable math). */
  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Fused-codegen dot product ([[graft.plans.DotProduct]]): one JIT
    * loop instead of an interpreted lambda per element. */
  def dotNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.DotProduct(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** L2 norm as the native self dot product: the same left-to-right
    * double accumulation (float elements widened first) and NULL rules
    * as the `aggregate` form, in one codegen loop. */
  private def l2normNative(v: Column): Column = sqrt(dotNative(v, v))

  /** Cosine similarity via the native codegen'd
    * [[graft.plans.CosineSim]] expression: one fused loop, stays in
    * whole-stage codegen. Double-precision left-to-right
    * accumulation — numerically identical to the zip_with/aggregate
    * composition (the test-side oracle) and to DuckDB's
    * list_cosine_similarity on DOUBLE[]. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.CosineSim(
      GraftBridge.expression(a), GraftBridge.expression(b)))
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

  /** One sizing job for the PQ paths that need the corpus size before
    * any pass runs: (row count, vector dimension). The dimension is
    * the first row's (it is uniform per corpus) and must split into
    * `numSub` subspaces. */
  private def corpusSize(corpus: DataFrame, vecCol: String,
      numSub: Int): (Long, Int) = {
    val sizing = corpus.agg(count(lit(1)), first(size(col(vecCol)))).head()
    val dim = sizing.getInt(1)
    require(dim % numSub == 0, s"dim $dim not divisible by $numSub")
    (sizing.getLong(0), dim)
  }

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

  // ---- THE RANKING TAIL ---------------------------------------------
  //
  // Every vector-search engine ends in the same per-query top-k over
  // (q_id, cand_id) rows: the bounded-heap aggregate, map-side k-row
  // partials, no per-query sort. The exact engines rank every pair;
  // the LSH/IVF engines rank their probed candidates by exact cosine;
  // the quantized engines cut an approximate candidate set first
  // ([[approxCandidates]]) and re-rank it exactly ([[exactRerank]]).

  /** Per query, the top `k` of `scored` by (score desc, cand_id) as
    * one `top` array of (score, id) structs. */
  private def topPerQuery(scored: DataFrame, score: Column, k: Int,
      dedupIds: Boolean): DataFrame =
    scored.groupBy(col("q_id"))
      .agg(topKAgg(score, col("cand_id"), k, dedupIds).as("top"))

  /** The ranking tail: (q_id, rank, cand_id), rank 1..≤k per query.
    * A NULL score (a ragged vector, or one with a null element) is
    * dropped; a window `row_number` form would rank it last instead
    * (SimilaritySpec pins the difference). */
  private def rankTail(scored: DataFrame, score: Column, k: Int,
      dedupIds: Boolean = false): DataFrame =
    topPerQuery(scored, score, k, dedupIds)
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("cand_id"))

  /** Exact cosine top-k of (q_id, qv, cand_id, cv) pairs. */
  private def cosineTail(pairs: DataFrame, k: Int,
      dedupIds: Boolean = false): DataFrame =
    rankTail(pairs, cosine(col("qv"), col("cv")), k, dedupIds)

  /** Every (query, corpus row) pair but a query with itself, queries
    * broadcast: (cand_id, cv, q_id, qv), each vector through `prep`. */
  private def allPairs(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      prep: Column => Column = identity): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("q_id"), prep(col(vecCol)).as("qv")))
    corpus.select(col(idCol).as("cand_id"), prep(col(vecCol)).as("cv"))
      .join(q, col("cand_id") =!= col("q_id"))
  }

  /** The approximate candidate step of the quantized engines: per
    * query the `budget` best (q_id, cand_id) of `pairs` by the
    * `approx` score (an int8 byte dot or an ADC lookup sum). */
  private def approxCandidates(pairs: DataFrame, approx: Column,
      budget: Int): DataFrame =
    topPerQuery(pairs.select(col("q_id"), approx.as("asim"), col("cand_id")),
        col("asim"), budget, dedupIds = false)
      .select(col("q_id"), explode(col("top")).as("c"))
      .select(col("q_id"), col("c.id").as("cand_id"))

  /** Exact re-rank of approximate (q_id, cand_id) candidates: join the
    * candidates' (cand_id, cv) `vectors`, broadcast the queries, rank
    * by cosine. `dedupIds` collapses a candidate surfaced more than
    * once (a replicated layout) to its one best entry. */
  private def exactRerank(cands: DataFrame, vectors: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      dedupIds: Boolean = false): DataFrame =
    cosineTail(cands.join(vectors, Seq("cand_id"))
      .join(broadcast(
        queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))),
        Seq("q_id")), k, dedupIds)

  /** Exact cosine top-k: for each row of `queries`, the k nearest
    * rows of `corpus` (self excluded by id), ranked by (sim desc,
    * cand_id), through the ranking tail. The window-sort form it
    * replaced is `Oracles.knnBrute`, its test-side equality oracle. */
  def knnBruteAgg(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame =
    cosineTail(allPairs(corpus, queries, idCol, vecCol), k)

  /** Bucket-bounded k-NN GRAPH over the whole corpus: every vector's
    * top-k nearest neighbors among its LSH bucket co-occupants — the
    * all-nodes neighbor graph SemDeDup-style cluster dedup and graph
    * clustering consume (vs [[knnBruteAgg]], which answers a BOUNDED
    * query set exactly; an all-pairs brute graph is O(n²) and never
    * viable at corpus scale). Candidates come from the same
    * multi-table hyperplane buckets as the embedding near-dup path;
    * the band-cell scorer (retention mode) scores each within-bucket
    * pair once and keeps per-node top-k buffers inside its cell loop,
    * and the per-node top-k of their partials is the bounded-heap
    * aggregate — k-row state, no per-node sort. At 100 TB: one banded
    * shuffle + one partials shuffle, both LSH-bounded; recall is
    * tuned by numTables/planesPerTable exactly as d07.
    * Ids must be integral (tinyint/smallint/int/bigint) and come back
    * as bigint. Output: (vec_id, rank, nbr_id, sim), rank 1..≤k (a
    * node in no shared bucket yields no rows — isolated under this
    * banding). */
  def knnGraphBucketed(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numTables: Int = 12,
      planesPerTable: Int = 4,
      dim: Int = 64,
      seed: Long = 42L,
      maxBucketRows: Int = 2048): DataFrame = {
    val banded = longIds(bandedWithVecs(corpus, idCol, vecCol, numTables,
      planesPerTable, dim, seed)).cache()
    banded.count()
    retireBandedCaches(Seq(banded))
    symTopKFromBanded(banded, k, maxBucketRows)
  }

  /** Banded-cache lifecycle. [[knnGraphBucketed]] and
    * [[bucketLocalThresholdPairs]] cache their band frames and
    * materialize them EAGERLY (one count): the scoring plan reads the
    * frame from several places (the bucket-size count, the cell
    * shuffle, AQE's concurrent exchange materialization), and a lazy
    * cache lets those race — each stage recomputes the full projection
    * pass before any one of them commits the cache (measured: 4
    * parallel 4.3 s stages doing identical work at sf1.0). One eager
    * pass pays the projections once; downstream stages read the cache.
    *
    * The cached frame must outlive the call (the returned plan is lazy
    * and reads it at the consumer's action), so it cannot unpersist
    * there — instead each call RETIRES the previous call's banded
    * cache (generation slot), capping residency at one generation per
    * session instead of one per batch call; [[releaseBandedCache]]
    * drops the last one deterministically once its consumer has
    * acted. */
  private val liveBanded =
    new java.util.concurrent.atomic.AtomicReference[Seq[DataFrame]](Nil)

  /** Unpersist the most recent [[knnGraphBucketed]] /
    * [[bucketLocalThresholdPairs]] banded caches. Safe to call after
    * the consuming action; a later call that still needs one would
    * transparently recompute. */
  def releaseBandedCache(): Unit = {
    val prev = liveBanded.getAndSet(Nil)
    prev.foreach(_.unpersist(false))
  }

  /** Install this call's cached frames as the live banded generation,
    * retiring the previous call's (see [[liveBanded]]). */
  private def retireBandedCaches(dfs: Seq[DataFrame]): Unit = {
    val prev = liveBanded.getAndSet(dfs)
    prev.filterNot(p => dfs.exists(_ eq p)).foreach(_.unpersist(false))
  }

  /** The vector-carrying band table (vec_id, v, __n, tbl, bkt): the
    * multi-table hyperplane bands with the vector and its norm riding
    * each row. Vectors
    * ride the band rows so the band-cell scorer scores each bucket in
    * place: what shuffles is the banded corpus itself (n·numTables
    * rows × dim floats — linear in corpus size and independent of dup
    * mass), vs a candidate-join form's Θ(Σ m²) bare-id pair exchange +
    * distinct, which the 10× replica corpus showed growing 100×
    * (BENCH_FULL.md round 11: the sf1.0 pair monsters). Factored out so
    * a streaming fold can band its batch ONCE, derive the id-only band
    * rows for the stored probe layout (`.drop("v")` flows from the
    * same cache), and feed the vector-carrying rows to the scorer.
    * Caller caches.
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
    // __n = the vector's exact L2 norm, computed ONCE per corpus row in
    // its own projection below the explode (an expression in the
    // explode's own select runs in a Project above the Generate, once
    // per band row), so the numTables band rows share it. Same
    // cast-then-accumulate order as [[graft.plans.CosineSim]]'s norm
    // loop: sqrt is exactly rounded, so dot/(a.__n · b.__n) downstream
    // is BIT-identical to CosineSim(a.v, b.v) while the Σm² pair pass
    // stops re-deriving both norms per candidate (r15, guide §1.2 —
    // the norms were 2/3 of every pair's fused-loop arithmetic).
    v.select(col("vec_id"), col("v"), l2normNative(col("v")).as("__n"))
      .select(col("vec_id"), col("v"), col("__n"),
        posexplode(
          hyperplaneBuckets(col("v"), numTables, planesPerTable, dim, seed)))
      .select(col("vec_id"), col("v"), col("__n"), col("pos").as("tbl"),
        col("col").as("bkt"))
  }

  // ---- THE BAND-CELL SCORER ---------------------------------------
  //
  // The one in-memory pair engine behind every banded or blocked
  // caller: the k-NN graph ([[knnGraphBucketed]]), the streaming graph
  // and pair folds ([[graft.streaming.Streams.incrementalKnnGraph]],
  // [[graft.streaming.Streams.incrementalEmbPairs]],
  // [[graft.streaming.Streams.incrementalMinhashPairs]]), the quantized
  // near-dup prune ([[bucketLocalThresholdPairs]]), MinHash and SimHash
  // candidates ([[graft.operators.Dedup.minHashCandidatePairs]],
  // [[graft.operators.Dedup.simHashCandidatePairs]]) and blocked fuzzy
  // matching ([[graft.operators.Dedup.fuzzyMatchPairs]]). A band row is
  // keyed by the caller's (tbl, bkt) pair, of any orderable type: a
  // hyperplane table and bucket, a MinHash band and its hash, a SimHash
  // chunk and its value, or a constant and a block-key struct (whose
  // null fields match each other). Band rows are tagged with their
  // triangle cells, shuffled on (tbl, bkt, i, j) and sorted by cell
  // ([[cellSorted]]); one cell loop ([[cellLoop]]) buffers a cell at a
  // time and scores its pairs in a tight primitive loop. What shuffles
  // is the band rows (linear in the corpus + hot-tile replication),
  // never a candidate pair: a self-join form pushed every candidate
  // through SMJ row materialization (~1 µs/pair — 170 CPU-s of plumbing
  // per 1.6e8 candidates at sf1.0 for ~10 CPU-s of dot products), and
  // its bucket was one task however hot.
  //
  // Hot-bucket guard (result-invisible): bucket sizes are measured (one
  // narrow count; only the buckets above maxBucketRows are broadcast
  // back), a hot bucket splits into g = ⌈m/maxBucketRows⌉ deterministic
  // sub-blocks by id hash, and each unordered sub-block CELL (i ≤ j)
  // scores once — a hot bucket becomes more tasks, not a bigger one. A
  // sub-block holds m/g ≤ maxBucketRows rows on average; the id hash
  // spreads them binomially around that. A row with sub-block u owns
  // the ROW coordinate of cells (u, j), j ∈ [u, g) (side 0) and the
  // COLUMN coordinate of cells (i, u), i ∈ [0, u) (side 1); a diagonal
  // cell scores the unordered pairs of its side-0 rows, an off-diagonal
  // cell side 0 × side 1. Every within-bucket pair lands in exactly one
  // cell per shared table, and cold buckets take g = 1, so the pair set
  // is IDENTICAL for any cap.
  //
  // Two modes. Retention ([[symRetainedPartialsFromBanded]]) updates
  // per-node top-k / threshold buffers in place and emits only their
  // partials. Threshold ([[survivorPairs]]) emits the pairs the
  // caller's scorer keeps, each with at most one value. Either way the
  // Σm² candidate stream never leaves the loop: a pair-EMITTING form was
  // measured and rejected (pushing every candidate through a row
  // encoder: s16 at sf1.0, 438 vs 151 CPU-s).

  /** The `payload` columns of every band row (one of them `vec_id`),
    * once per triangle cell the row belongs to, followed by tbl, bkt,
    * __i, __j and __sd (the side), hash-partitioned on the cell and
    * sorted by it — the layout [[cellLoop]] streams.
    *
    * The shuffle is explicit: left to the planner, the byte-small band
    * table gets its exchange AQE-coalesced on input-byte stats that are
    * blind to the quadratic scoring, and the whole Σm² pass lands on a
    * few tasks (s16 at sf1.0: 259 s at 2 tasks vs 11 s at 32).
    *
    * `tableRows` is an upper bound on the rows of one table the caller
    * already knows (a streaming batch's count): at most maxBucketRows
    * means no bucket can be hot, so every bucket takes g = 1 without
    * the bucket-size measurement and its two jobs — the same g the
    * measurement would give. The measurement broadcasts only the hot
    * buckets, so its size is bounded by rows/maxBucketRows per table
    * however many buckets a banding has (a MinHash band table has
    * about one per row). */
  private[graft] def cellSorted(banded: DataFrame, maxBucketRows: Int,
      payload: Seq[String], tableRows: Long = Long.MaxValue): DataFrame = {
    require(maxBucketRows > 0, s"maxBucketRows must be positive: $maxBucketRows")
    val nParts = banded.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val p = payload.map(col)
    val sized =
      if (tableRows <= maxBucketRows)
        banded.select(p ++ Seq(col("tbl"), col("bkt"), lit(1L).as("__g")): _*)
      else {
        // fresh names on the count side (counts derives from banded —
        // self-join ambiguity otherwise); a cold bucket finds no hot
        // row and keeps g = 1
        val hot = banded.groupBy(col("tbl"), col("bkt"))
          .agg(count(lit(1)).as("__m"))
          .filter(col("__m") > maxBucketRows)
          .select(col("tbl").as("__ctbl"), col("bkt").as("__cbkt"),
            col("__m"))
        banded
          .join(broadcast(hot),
            col("tbl") === col("__ctbl") && col("bkt") === col("__cbkt"),
            "left")
          .select(p ++ Seq(col("tbl"), col("bkt"),
            when(col("__m") > maxBucketRows,
              ceil(col("__m") / lit(maxBucketRows.toDouble)).cast("long"))
              .otherwise(lit(1L)).as("__g")): _*)
      }
    // a row of sub-block u meets each sub-block t of its bucket in cell
    // (min(t, u), max(t, u)): on side 0 when t ≥ u, side 1 when t < u
    sized
      .select(p ++ Seq(col("tbl"), col("bkt"),
        pmod(xxhash64(col("vec_id")), col("__g")).as("__u"),
        explode(sequence(lit(0L), col("__g") - 1)).as("__t")): _*)
      .select(p ++ Seq(col("tbl"), col("bkt"),
        least(col("__t"), col("__u")).cast("int").as("__i"),
        greatest(col("__t"), col("__u")).cast("int").as("__j"),
        (col("__t") < col("__u")).cast("int").as("__sd")): _*)
      .repartition(nParts, col("tbl"), col("bkt"), col("__i"), col("__j"))
      .sortWithinPartitions("tbl", "bkt", "__i", "__j")
  }

  /** The one cell loop: streams [[cellSorted]] rows (whose cell columns
    * start at `tblIdx`: tbl and bkt compared as values, then the int
    * __i, __j and __sd), buffers one cell at a time (side 0 → A, side
    * 1 → B) and scores its pairs lazily — a diagonal cell the unordered
    * pairs of A, an off-diagonal cell A × B. `score` returns an output
    * or null; `afterCell` and `atEnd` emit what a stateful scorer
    * drains after each cell and once the input is exhausted. */
  private def cellLoop[R, O >: Null](
      rows: Iterator[Row], tblIdx: Int, parse: Row => R,
      score: (R, R) => O,
      afterCell: () => Iterator[O] = () => Iterator.empty,
      atEnd: () => Iterator[O] = () => Iterator.empty): Iterator[O] =
    new scala.collection.AbstractIterator[O] {
      private val buf = rows.buffered
      private val a = new ArrayBuffer[R]
      private val b = new ArrayBuffer[R]
      private var bb = a
      private var diag = true
      private var i, j = 0
      private var open = false // the loaded cell has pairs left to score
      private var ended = false
      private var drained: Iterator[O] = Iterator.empty
      private var out: O = null
      private def cell(r: Row, c: Int): Int = r.getInt(tblIdx + c)
      private def sameCell(r: Row, h: Row): Boolean =
        cell(r, 2) == cell(h, 2) && cell(r, 3) == cell(h, 3) &&
          r.get(tblIdx) == h.get(tblIdx) &&
          r.get(tblIdx + 1) == h.get(tblIdx + 1)
      private def loadCell(): Unit = {
        val h = buf.head
        a.clear(); b.clear()
        while (buf.hasNext && sameCell(buf.head, h)) {
          val r = buf.next()
          if (cell(r, 4) == 0) a += parse(r) else b += parse(r)
        }
        diag = cell(h, 2) == cell(h, 3)
        bb = if (diag) a else b
        i = 0
        j = if (diag) 1 else 0
        open = true
      }
      private def advance(): Boolean = {
        while (true) {
          if (drained.hasNext) { out = drained.next(); return true }
          if (open) {
            while (i < a.length) {
              while (j < bb.length) {
                val o = score(a(i), bb(j))
                j += 1
                if (o != null) { out = o; return true }
              }
              i += 1
              j = if (diag) i + 1 else 0
            }
            open = false
            drained = afterCell()
          } else if (buf.hasNext) loadCell()
          else if (!ended) { ended = true; drained = atEnd() }
          else return false
        }
        false
      }
      override def hasNext: Boolean = out != null || advance()
      override def next(): O = {
        if (!hasNext) Iterator.empty.next()
        val o = out; out = null; o
      }
    }

  /** A parsed band row; `id` is `vec_id` as its Spark value. The
    * MinHash scorer needs nothing else. */
  private[graft] class BandRow(val id: Any)

  /** Whether two band rows may pair at all: both ids non-NULL and
    * unequal — the `a.id < b.id` of the join forms the dedup scorers
    * replaced. */
  private[graft] def distinctIds(x: BandRow, y: BandRow): Boolean =
    x.id != null && y.id != null && x.id != y.id

  /** Float payload (vec_id, v, __n). `v` is null when every pair of the
    * row scores NULL under CosineSim: a null vector, element or norm. */
  private final class FRow(id: Any, val v: Array[Double], val n: Double)
    extends BandRow(id)

  private def parseFloat(r: Row): FRow = {
    val v = vecToDoubles(r.get(1))
    if (v == null || r.isNullAt(2)) new FRow(r.get(0), null, 0.0)
    else new FRow(r.get(0), v, r.getDouble(2))
  }

  /** Whether CosineSim(x.v, y.v) is non-NULL: both rows score and the
    * lengths agree. */
  private def scorable(x: FRow, y: FRow): Boolean =
    x.v != null && y.v != null && x.v.length == y.v.length

  /** dot / (x.n · y.n) for a [[scorable]] pair — BIT-identical to
    * CosineSim(x.v, y.v): same element casts, same left-to-right double
    * accumulation, and the norms ride the band rows (computed once per
    * corpus row in [[bandedWithVecs]] with CosineSim's norm loop, sqrt
    * exactly rounded). A zero norm gives NaN, as CosineSim does. */
  private def pairCosine(x: FRow, y: FRow): Double = {
    var dot = 0.0
    var i = 0
    val n = x.v.length
    while (i < n) { dot += x.v(i) * y.v(i); i += 1 }
    dot / (x.n * y.n)
  }

  /** Quantized payload (vec_id, qv, __s, __n, __sa) — see
    * [[bucketLocalThresholdPairs]]. `q` is null when the bound is NULL
    * for every pair of the row: a null code vector, element or scalar. */
  private final class QRow(id: Any, val q: Array[Byte], val s: Double,
      val n: Double, val sa: Long) extends BandRow(id)

  private def parseQuantized(r: Row): QRow = {
    val q = vecToBytes(r.get(1))
    if (q == null || r.isNullAt(2) || r.isNullAt(3) || r.isNullAt(4))
      new QRow(r.get(0), null, 0.0, 0.0, 0L)
    else new QRow(r.get(0), q, r.getDouble(2), r.getDouble(3), r.getLong(4))
  }

  /** Numeric vector → primitive doubles, or null for a null vector or a
    * null element (the element cast CosineSim applies per pair is done
    * once per band row here). */
  private def vecToDoubles(a: Any): Array[Double] = a match {
    case null => null
    case s: scala.collection.Seq[_] =>
      val out = new Array[Double](s.length)
      var i = 0
      val it = s.iterator
      while (it.hasNext) {
        it.next() match {
          case null => return null
          case f: java.lang.Float => out(i) = f.toDouble
          case d: java.lang.Double => out(i) = d
          case x: java.lang.Number => out(i) = x.doubleValue()
        }
        i += 1
      }
      out
    case other => throw new IllegalArgumentException(
      s"unexpected vector value: ${other.getClass}")
  }

  private def vecToBytes(a: Any): Array[Byte] = a match {
    case null => null
    case s: scala.collection.Seq[_] =>
      val out = new Array[Byte](s.length)
      var i = 0
      val it = s.iterator
      while (it.hasNext) {
        it.next() match {
          case null => return null
          case b: java.lang.Byte => out(i) = b.byteValue()
        }
        i += 1
      }
      out
    case other => throw new IllegalArgumentException(
      s"unexpected code value: ${other.getClass}")
  }

  /** Retention mode keys its buffers on bigint ids, as
    * [[graft.plans.TopKPairs]] and the graph folds downstream do:
    * integral ids widen to bigint before the shuffle, and any other id
    * type is refused here instead of reaching the aggregate's cast. */
  private def longIds(banded: DataFrame): DataFrame = {
    val t = banded.schema("vec_id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      "k-NN graph ids must be tinyint, smallint, int or bigint, got " +
        t.simpleString)
    banded.withColumn("vec_id", col("vec_id").cast("long"))
  }

  /** Retention mode over a [[bandedWithVecs]] frame: symmetrize +
    * per-node retention FUSED into the cell loop. Each scored pair
    * updates BOTH endpoints' bounded buffers in place instead of being
    * emitted, and only the per-partition partials leave the scorer.
    * `keepThreshold = None` retains per-node top-k
    * ([[graft.plans.TopKBuffer]]); `Some(t)` retains rank ≤ k OR
    * sim > t ([[graft.plans.ThresholdTopKBuffer]]) — the two
    * [[graft.streaming.Streams]] graph-fold prunes. The emitted
    * (vec_id, nbr_id, sim) partials feed the SAME downstream aggregate
    * as a scored pair stream would: retention-of-partition-retentions
    * equals global retention (both buffers are merge-and-truncate
    * monoids under the (score, id) total order — graphFold's scaladoc),
    * null sims are skipped exactly as the aggregates' update skips null
    * scores, and NaN behaves identically (top-k: ranks above all;
    * threshold: joins neither side). */
  private[graft] def symRetainedPartialsFromBanded(
      banded: DataFrame, k: Int, keepThreshold: Option[Double],
      dedupIds: Boolean, maxBucketRows: Int,
      flushHeapNodes: Int = 1 << 20,
      tableRows: Long = Long.MaxValue): DataFrame = {
    implicit val enc = Encoders.tuple(Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaDouble)
    cellSorted(longIds(banded), maxBucketRows, Seq("vec_id", "v", "__n"),
      tableRows)
      .mapPartitions(
        retainedPartials(_, k, keepThreshold, dedupIds, flushHeapNodes))
      .toDF("vec_id", "nbr_id", "sim")
  }

  /** Retention mode's per-partition function over [[cellSorted]] rows
    * (vec_id, v, __n, tbl, bkt, __i, __j, __sd) with bigint ids.
    * Per-partition state is bounded: once a cell leaves more than
    * `flushHeapNodes` live buffers, their partials are emitted and the
    * map restarts — monoid-safe, so a 100 TB partition degrades to more
    * partial rows, not more memory. */
  private[graft] def retainedPartials(rows: Iterator[Row], k: Int,
      keepThreshold: Option[Double], dedupIds: Boolean,
      flushHeapNodes: Int): Iterator[(Long, Long, Double)] = {
    val newBuf: () => AnyRef = keepThreshold match {
      case Some(t) => () => new graft.plans.ThresholdTopKBuffer(k, t, dedupIds)
      case None => () => new graft.plans.TopKBuffer(k, dedupIds)
    }
    var heaps = new java.util.HashMap[Any, AnyRef]()
    def add(id: Any, sim: Double, nbr: Any): Unit = {
      var h = heaps.get(id)
      if (h == null) { h = newBuf(); heaps.put(id, h) }
      h match {
        case b: graft.plans.TopKBuffer => b.add(sim, nbr.asInstanceOf[Long])
        case b: graft.plans.ThresholdTopKBuffer =>
          b.add(sim, nbr.asInstanceOf[Long])
      }
    }
    def drain(): Iterator[(Long, Long, Double)] = {
      val out = new ArrayBuffer[(Long, Long, Double)](
        heaps.size * math.min(k, 8))
      heaps.forEach { (id, h) =>
        val held = h match {
          case b: graft.plans.TopKBuffer => b.sortedDesc
          case b: graft.plans.ThresholdTopKBuffer => b.held
        }
        held.foreach(p => out += ((id.asInstanceOf[Long], p._2, p._1)))
      }
      heaps = new java.util.HashMap[Any, AnyRef]()
      out.iterator
    }
    cellLoop[FRow, (Long, Long, Double)](rows, 3, parseFloat,
      (x, y) => {
        // a NULL sim is skipped (scorable); NaN flows to the buffers
        if (scorable(x, y)) {
          val sim = pairCosine(x, y)
          add(x.id, sim, y.id)
          add(y.id, sim, x.id)
        }
        null
      },
      afterCell = () =>
        if (heaps.size > flushHeapNodes) drain() else Iterator.empty,
      atEnd = () => drain())
  }

  private[graft] def symTopKFromBanded(banded: DataFrame, k: Int,
      maxBucketRows: Int, flushHeapNodes: Int = 1 << 20): DataFrame =
    symRetainedPartialsFromBanded(banded, k, None, dedupIds = true,
        maxBucketRows, flushHeapNodes)
      .groupBy(col("vec_id"))
      .agg(topKAgg(col("sim"), col("nbr_id"), k, dedupIds = true).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("nbr_id"), col("col.score").as("sim"))

  /** Threshold mode: every pair `pair` emits, as (a_id, b_id) with
    * a_id < b_id plus the `value` column when there is one — one row
    * per shared bucket, deduped by the caller. `pair` returns
    * Row(x.id, y.id[, value]) or null to drop the pair. Ids of any type
    * ride the cell loop as their Spark values and leave it unordered
    * through a Row encoder of the banded id type; the least/greatest
    * projection orders them as Spark orders that type. */
  private[graft] def survivorPairs[R <: BandRow](banded: DataFrame,
      maxBucketRows: Int, payload: Seq[String], parse: Row => R,
      value: Option[StructField] = None, tableRows: Long = Long.MaxValue)(
      pair: (R, R) => Row): DataFrame = {
    val id = banded.schema("vec_id")
    val enc = Encoders.row(StructType(
      Seq(id.copy(name = "__x"), id.copy(name = "__y")) ++ value))
    val tblIdx = payload.length
    cellSorted(banded, maxBucketRows, payload, tableRows)
      .mapPartitions((rows: Iterator[Row]) =>
        cellLoop[R, Row](rows, tblIdx, parse, pair))(enc)
      .select(Seq(least(col("__x"), col("__y")).as("a_id"),
        greatest(col("__x"), col("__y")).as("b_id")) ++
        value.map(f => col(f.name)): _*)
  }

  /** WITHIN-batch survivors for the incremental pair fold
    * ([[graft.streaming.Streams.incrementalEmbPairs]]): the float cell
    * loop with the caller's `sim > threshold` filter fused in — only
    * surviving (a_id, b_id) leave the scorer (NaN sims survive, Spark's
    * NaN-above-all `>`; null sims drop), one row per shared bucket,
    * deduped by the caller. */
  private[graft] def thresholdSurvivorsFromBanded(
      banded: DataFrame, threshold: Double,
      maxBucketRows: Int, tableRows: Long = Long.MaxValue): DataFrame =
    survivorPairs[FRow](banded, maxBucketRows, Seq("vec_id", "v", "__n"),
        parseFloat, tableRows = tableRows) { (x, y) =>
      if (scorable(x, y) && {
        val sim = pairCosine(x, y)
        sim > threshold || java.lang.Double.isNaN(sim)
      }) Row(x.id, y.id) else null
    }

  /** The quantized prune of [[bucketLocalThresholdPairs]]: pairs whose
    * rigorous upper bound clears the threshold (`ub > threshold` with
    * Spark's NaN-above-everything comparison; a NULL bound drops the
    * pair), one row per shared bucket, deduped by the caller. */
  private def prunedPairs(qbanded: DataFrame, threshold: Double,
      maxBucketRows: Int): DataFrame =
    survivorPairs[QRow](qbanded, maxBucketRows,
        Seq("vec_id", "qv", "__s", "__n", "__sa"), parseQuantized) { (x, y) =>
      if (x.q != null && y.q != null && x.q.length == y.q.length && {
        // ((Q + 0.5·(sa_a+sa_b)) + 0.25·d), scaled by s_a·s_b, over
        // n_a·n_b, plus 1e-6 — see bucketLocalThresholdPairs
        var q = 0L
        var i = 0
        val d = x.q.length
        while (i < d) { q += x.q(i).toLong * y.q(i).toLong; i += 1 }
        val ub = x.s * y.s *
          (q.toDouble + 0.5 * (x.sa + y.sa).toDouble + 0.25 * d.toDouble) /
          (x.n * y.n) + 1e-6
        ub > threshold || java.lang.Double.isNaN(ub)
      }) Row(x.id, y.id) else null
    }

  /** THRESHOLD-mode banded pair engine (r15 — guide §2.3 "shuffle
    * keys and metadata instead of payloads", §8): same multi-table
    * hyperplane buckets and band-cell scorer as [[knnGraphBucketed]]
    * (threshold mode), but the band rows carry an
    * int8-QUANTIZED payload instead of the float vector — per row,
    * `qv` (one byte per dim), the per-row symmetric scale
    * `__s = max|x|/127`, the exact L2 norm `__n` and the code mass
    * `__sa = Σ|q|` (~dim+24 bytes vs 4·dim+norm) — so the banded
    * exchanges that dominate this engine's shuffle move ~3× fewer
    * bytes at identical bucket assignment (buckets hash the ORIGINAL
    * vector before it is dropped).
    *
    * Within a cell, each candidate pair is scored with the integer
    * dot ([[byteDot]]'s arithmetic) and a RIGOROUS upper bound on its
    * true cosine:
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
    * EXACTLY the pair set and sims of float scoring — no false
    * negatives by the bound, no false positives by the exact re-score
    * (boundary-adversarial equality spec in DedupSpec).
    *
    * Returns (a_id, b_id, sim): one row per DISTINCT candidate pair
    * with bound > threshold, sim exact. Degenerate rows flow as in
    * float scoring: a zero-norm side makes the bound ±Inf/NaN
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
    // every per-vector value is computed below the explode, once per
    // vector: the explode's own select evaluates its other items above
    // the Generate, once per band row (numTables times)
    val qbanded = vc
      .select(col("vec_id"), col("v"), maxAbs.as("__ma"))
      .select(col("vec_id"), col("v"),
        // all-zero rows quantize to zero codes at scale 0 (the
        // division would be 0/0); their bound degenerates to NaN and
        // the exact re-score decides, as documented above
        transform(col("v"), x =>
          when(col("__ma") > 0.0,
            greatest(lit(-127.0), least(lit(127.0),
              round(x.cast("double") * 127.0 / col("__ma")))))
            .otherwise(lit(0.0)).cast("byte")).as("qv"),
        (col("__ma") / 127.0).as("__s"),
        l2normNative(col("v")).as("__n"))
      .select(col("vec_id"), col("v"), col("qv"), col("__s"), col("__n"),
        aggregate(col("qv"), lit(0L),
          (acc, x) => acc + abs(x.cast("long"))).as("__sa"))
      .select(col("vec_id"), col("qv"), col("__s"), col("__n"), col("__sa"),
        posexplode(
          hyperplaneBuckets(col("v"), numTables, planesPerTable, dim, seed)))
      .select(col("vec_id"), col("qv"), col("__s"), col("__n"), col("__sa"),
        col("pos").as("tbl"), col("col").as("bkt"))
      .cache()
    // eager materialization (one count, see liveBanded) — this one
    // pass also populates vc, which the re-rank joins then read from
    // cache
    qbanded.count()
    retireBandedCaches(Seq(vc, qbanded))
    val pruned = prunedPairs(qbanded, threshold, maxBucketRows).distinct()
    // ---- exact re-rank on the survivors only: fetch the original
    // vectors by id and score with CosineSim — the sims (and the final
    // thresholding the caller applies) are bit-identical to float
    // scoring's. Survivor-sized side; AQE picks the join strategy from
    // its RUNTIME size, so locally this broadcasts and at scale it
    // degrades to one linear corpus shuffle.
    pruned
      .join(vc.select(col("vec_id").as("a_id"), col("v").as("__va")), "a_id")
      .join(vc.select(col("vec_id").as("b_id"), col("v").as("__vb")), "b_id")
      .select(col("a_id"), col("b_id"),
        cosine(col("__va"), col("__vb")).as("sim"))
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
      k: Int): DataFrame =
    rankTail(allPairs(corpus, queries, idCol, vecCol),
      dotNative(col("qv"), col("cv")), k)

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
    val negD2 = -aggregate(
      zip_with(col("qv"), col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0), _ + _)
    rankTail(allPairs(corpus, queries, idCol, vecCol, asDouble), negD2, k)
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
    val mRow = broadcast(c0.agg(max(l2normNative(col("v"))).as("__m")))
    val caug = c0.crossJoin(mRow).select(col("id"),
      concat(col("v"), array(sqrt(greatest(lit(0.0),
        col("__m") * col("__m") - dotNative(col("v"), col("v")))))).as("va"))
    val qaug = queries
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .select(col("id"), concat(col("v"), array(lit(0.0))).as("va"))
    lshAnn(caug, qaug, "id", "va", k, numPlanes, dim + 1, seed, probeBits)
  }

  /** ALL `numTables` sign-bit bucket ids of a vector as one
    * array<int>, through the single fused-loop native expression
    * ([[graft.plans.HyperplaneBuckets]]) — bit-identical bucket ids to
    * `numTables` separate per-plane `when(dot >= 0)` compositions at
    * seeds `seed + 7919·t` (the test-side oracle), but the multi-table
    * band builders stop inlining 48 dot-product sub-trees into one
    * giant projection method that the JIT refuses to compile
    * (measured: ~120 CPU-s → ~0.3 CPU-s per band build at sf1.0).
    * Two vectors collide in a table with probability
    * (1 − θ/π)^planesPerTable for angle θ, so fewer planes = bigger
    * buckets = higher recall. */
  private[graft] def hyperplaneBuckets(vec: Column, numTables: Int,
      planesPerTable: Int, dim: Int, seed: Long): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.HyperplaneBuckets(
      GraftBridge.expression(vec), numTables, planesPerTable, dim, seed))
  }

  /** Random-hyperplane LSH ANN: bucket the corpus once, probe each
    * query's bucket plus all neighbors within `probeBits` bit flips,
    * exact-rerank the candidates. The corpus-side join key is the
    * bucket id — the candidate set per query is
    * |corpus| / 2^planes × (1 + planes + [planes·(planes−1)/2]).
    * Multi-probe trades candidate volume for recall without
    * rebuilding the index; deeper probes visit buckets in increasing
    * hamming distance, which tracks increasing angle. The window-sort
    * form it replaced is `Oracles.lshAnnWindow`. */
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
    // table 0 of the fused bucketing at `seed`: the planes drawn from
    // Random(seed), the sign bits summed exactly as a per-plane
    // when(dot >= 0) composition would
    def bucket(v: Column): Column =
      element_at(hyperplaneBuckets(v, 1, numPlanes, dim, seed), 1)
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      bucket(col(vecCol)).as("bucket"))
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
        bucket(col(vecCol)).as("qb"))
      .withColumn("probe",
        explode(array((col("qb") +: oneBit) ++ twoBit: _*))))
    // the probes are distinct buckets, so a candidate joins once
    cosineTail(c.join(q,
      col("bucket") === col("probe") && col("cand_id") =!= col("q_id")), k)
  }

  /** Nearest-centroid column against FROZEN centroids (embedded as
    * literals — pure map-side): argmax cosine via struct max, ties
    * toward the smaller cell id. The max of a non-empty array of
    * non-null structs is never NULL; the coalesce declares the column
    * non-nullable, so a join on `cell` infers no `isnotnull(cell)`
    * filter, which would run the k cosines a second time per row
    * below the projection that computes them. */
  private[graft] def nearestCellCol(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosine(vec, typedLit(c)).as("sim"), lit(-i).as("negCell"))
    }
    coalesce(-array_max(array(scored: _*)).getField("negCell"), lit(0))
      .as("cell")
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
      seed: Long = 42L): Seq[Seq[Double]] =
    trainCentroids(df, idCol, vecCol, k, maxIter, seed,
      minPersistBytes = BigInt(64L << 20))

  /** [[trainCentroids]] with the Lloyd-run persist gate as an argument
    * (specs exercise both paths on small fixtures).
    *
    * @param minPersistBytes below this optimizer-estimated input size,
    *   1+maxIter rescans of the source are cheaper than materializing a
    *   cache (measured at sf0.1: the unconditional r14 persist cost
    *   p05/s05 more than it saved on their ≤5 MB corpora). The public
    *   form passes 64 MB ≈ half a default scan split — past it the
    *   rescans dominate. */
  private[graft] def trainCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxIter: Int,
      seed: Long,
      minPersistBytes: BigInt): Seq[Seq[Double]] = {
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
    val doPersist = maxIter > 1 && estBytes >= minPersistBytes
    val v =
      if (doPersist)
        proj.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else proj
    try {
    // seeded deterministic init: k hash-ordered rows
    var centroids: Array[Seq[Double]] = v
      .orderBy(xxhash64(col("__id"), lit(seed)), col("__id")).limit(k)
      .select(col("__v").cast("array<double>").as("c"))
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
    * exchanges per iteration. The aggregate form it replaces (kept as
    * the test-side equality oracle in `Oracles`) planned two
    * exchanges, which AQE executes as ~3 stage-jobs per
    * iteration: of s08's 36 Spark jobs, 18 were the coarse trainer's
    * scheduling overhead, ~130 ms each at bench scale.
    *
    * DRIVER BOUND: each partition emits one row per non-empty cell,
    * carrying that cell's per-position `sums[]` and `counts[]`, so the
    * collect is at most nParts × k rows of 2·dim numbers (dim = the
    * longest vector in the cell) — independent of the row count;
    * ~160 KB at k = 10, dim = 64 and 16 partitions.
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
    * collect_list+array_sort shape). Spec'd against the oracle in
    * SimilaritySpec on degenerate fixtures. */
  private[graft] def lloydMeans(v: DataFrame,
      centroids: Seq[Seq[Double]]): Map[Int, Seq[Double]] =
    lloydRound(v, centroids)._1

  /** [[lloydMeans]] plus the number of rows the round read, NULL
    * vectors included — `count(*)` of `v` from the same job. Each
    * partition reports its row count as one extra partial under cell
    * `RowsCell`. */
  private[graft] def lloydRound(v: DataFrame,
      centroids: Seq[Seq[Double]]): (Map[Int, Seq[Double]], Long) = {
    val RowsCell = -1
    val cents: Array[Array[Double]] = centroids.map(_.toArray).toArray
    val k = cents.length
    implicit val enc = Encoders.product[(Int, Int, Array[Double], Array[Long])]
    val partials = v.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val sums = Array.fill(k)(new Array[Double](0))
      val cnts = Array.fill(k)(new Array[Long](0))
      def grow(c: Int, n: Int): Unit = if (sums(c).length < n) {
        sums(c) = java.util.Arrays.copyOf(sums(c), n)
        cnts(c) = java.util.Arrays.copyOf(cnts(c), n)
      }
      var seen = 0L
      rows.foreach { r =>
        seen += 1
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
      Iterator.single((pid, RowsCell, Array.emptyDoubleArray, Array(seen))) ++
        (0 until k).iterator.filter(c => cnts(c).exists(_ > 0L))
          .map(c => (pid, c, sums(c), cnts(c)))
    }.collect()
    val (rowCounts, cellPartials) = partials.partition(_._2 == RowsCell)
    // combine per (cell, pos) in partition order — HashAggregate's
    // mapId-ordered merge; a partition that saw no value at a position
    // contributes nothing there
    val tot = scala.collection.mutable.HashMap.empty[Int, (Array[Double], Array[Long])]
    cellPartials.sortBy(t => (t._1, t._2)).foreach { case (_, c, s, n) =>
      val (ts0, tn0) =
        tot.getOrElse(c, (Array.emptyDoubleArray, Array.emptyLongArray))
      val len = math.max(ts0.length, s.length)
      val (ts, tn) =
        (java.util.Arrays.copyOf(ts0, len), java.util.Arrays.copyOf(tn0, len))
      for (p <- s.indices if n(p) > 0L) { ts(p) += s(p); tn(p) += n(p) }
      tot(c) = (ts, tn)
    }
    (tot.map { case (c, (ts, tn)) =>
      c -> ts.indices.filter(tn(_) > 0L).map(p => ts(p) / tn(p))
    }.toMap, rowCounts.map(_._4(0)).sum)
  }

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

  /** Product-quantization encode ([[graft.plans.PqEncode]]):
    * struct<codes: array<int>, qerr: double> of `vec` against `pq`,
    * `cell` selecting the centroid and book set when `pq` has them. */
  private def pqEncode(vec: Column, cell: Column, pq: PqCodebook): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.PqEncode(
      GraftBridge.expression(vec), GraftBridge.expression(cell), pq))
  }

  /** The flat `numSub × codebookK` ADC table of `vec` against `pq`'s
    * books ([[graft.plans.PqAdcTable]]). */
  private def pqAdcTable(vec: Column, cell: Column, pq: PqCodebook): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.PqAdcTable(
      GraftBridge.expression(vec), GraftBridge.expression(cell), pq))
  }

  /** `__c0..__c{numSub-1}` out of a [[pqEncode]] column `enc`. */
  private def pqCodes(enc: String, numSub: Int): Seq[Column] =
    (0 until numSub).map(s => col(s"$enc.codes").getItem(s).as(s"__c$s"))

  /** Approximate dot of a candidate's codes through a flat ADC table
    * column: `Σ_s table[s·codebookK + c_s]`, summed in subspace order. */
  private def adcSum(table: Column, numSub: Int, codebookK: Int): Column =
    (0 until numSub).map(s =>
      element_at(table, col(s"__c$s") + (s * codebookK + 1))).reduce(_ + _)

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
    val cands = approxCandidates(c.join(q, col("cand_id") =!= col("q_id")),
      byteDot(col("cqv"), col("qqv")).cast("double") /
        (col("cqn") * col("qqn")), k * candMult)
    exactRerank(cands,
      corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
      queries, idCol, vecCol, k)
  }

  /** The residual `x − c` of a collected vector (column `i` of `r`)
    * against centroid `c`, exactly as the `zip_with` residual column
    * read back through `getSeq[Double].toArray`: in double over
    * `max(len x, len c)` positions, a padded or NULL position as 0.0.
    * Residual samples are driver-sized, so they are formed here
    * instead of in a per-row column. */
  private def residualOf(r: Row, i: Int, c: Array[Double]): Array[Double] = {
    val x = r.getSeq[Any](i)
    Array.tabulate(math.max(x.length, c.length)) { p =>
      if (p < x.length && p < c.length && x(p) != null)
        x(p).asInstanceOf[Number].doubleValue - c(p)
      else 0.0
    }
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
    * is the distributed part). Encode: per subspace, the argmin-L2
    * code via `x·c − ‖c‖²/2`, one native [[graft.plans.PqEncode]]
    * call per row. Score: classic ADC — each query precomputes its
    * `numSub × codebookK` dot table ([[graft.plans.PqAdcTable]], in
    * its broadcast row), a (query, candidate) pair then costs
    * `numSub` array lookups, not a dim-length loop; approximate
    * cosine divides by the codebook-
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
    val (corpusN, dim) = corpusSize(corpus, vecCol, numSub)
    val subDim = dim / numSub
    val sample = corpus
      .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
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
    val pq = PqCodebook(Seq(books), perCellBooks = false, centroids = null)

    // ---- encode: per subspace the argmin-L2 code (first maximum of
    // `x·c − ‖c‖²/2`), one native call per row against the codebook in
    // the plan reference; + the codebook-derived norm.
    //
    // Spread the corpus first: encode + ADC scoring + heap partials
    // all run map-side on the corpus's partitioning, and the
    // broadcast query join preserves it — a single-file corpus would
    // run the whole per-row-heavy pipeline on its 1-2 input splits
    // (measured: the one >1 s stage of s07 at sf1.0 ran 11.5 s at 2
    // tasks). One narrow (id, vector) shuffle, linear in the corpus.
    val corpusSpread = corpus.repartition(corpus.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt)
    val encoded = corpusSpread
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
        pqEncode(col(vecCol), lit(0), pq).as("__enc"))
      .select((col("cand_id") +: col("cv") +: pqCodes("__enc", numSub)): _*)
      .withColumn("__anorm", sqrt((0 until numSub).map(s =>
        element_at(typedLit(bookNormSq(s).toSeq), col(s"__c$s") + 1))
        .reduce(_ + _)))

    // ---- queries: the flat ADC table + exact norm, broadcast
    val qtabs = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"),
      l2normNative(col(vecCol)).as("__qnorm"),
      pqAdcTable(col(vecCol), lit(0), pq).as("__t"))

    val cands = approxCandidates(
      encoded.join(broadcast(qtabs), col("cand_id") =!= col("q_id")),
      adcSum(col("__t"), numSub, codebookK) /
        (col("__anorm") * col("__qnorm")),
      rerankBudget(k, candMult, corpusN))
    exactRerank(cands,
      corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
      queries, idCol, vecCol, k)
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
    // (No up-front corpus spread here, unlike pqKnn: kmeansCells
    // re-executes its input per Lloyd iteration, so a repartition
    // would be re-paid coarseIters times — measured NET-NEGATIVE,
    // 7.8 → 10.9 s at sf1.0. The encode/ADC stages run on the
    // corpus's own partitioning instead.)
    // ---- coarse quantizer: trained centroids, then the per-cell
    // means of the final assignment as ONE driver-combined Lloyd round
    // ([[lloydMeans]], bit-equal to the per-(cell, pos) avg aggregate)
    // — a k·dim driver table, so the probe side below crosses a local
    // relation instead of re-running a two-exchange aggregate. No
    // sizing job: the trained centroids (corpus rows, then their
    // means) carry the dimension, uniform per corpus, and the same
    // Lloyd round counts the corpus rows that size the re-rank.
    val centroidSeqs = trainCentroids(corpus, idCol, vecCol, numCells,
      maxIter = coarseIters, seed = seed)
    val dim = centroidSeqs.head.length
    require(dim % numSub == 0, s"dim $dim not divisible by $numSub")
    val subDim = dim / numSub
    val (meanSeqs, corpusN) =
      lloydRound(corpus.select(col(idCol), col(vecCol)), centroidSeqs)
    val means: Map[Int, Array[Double]] =
      meanSeqs.map { case (c, m) => c -> m.toArray }
    val cellIds = means.keys.toSeq.sorted
    val session = corpus.sparkSession
    import session.implicits._
    val cents = cellIds.map(c => (c, means(c))).toDF("cell", "centroid")
    // The assignment is a per-row map against the driver-held trained
    // centroids, and the VECTOR RIDES THE ASSIGNED ROW (re-attaching
    // it by id would shuffle the whole corpus on a key unrelated to
    // where rows go — the guide's §8 anti-pattern). A cell with no
    // mean (only NULL or empty vectors) is dropped, as the inner join
    // against the mean table used to. Not cached: the driver-side
    // residual sample and the lazy encode pass each run the k·dim
    // assignment map, and nothing of this call outlives it.
    val assignedAll = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).as("cv"), nearestCellCol(col(vecCol), centroidSeqs))
    val assigned =
      if (centroidSeqs.indices.forall(means.contains)) assignedAll
      else assignedAll.filter(col("cell").isin(cellIds: _*))
    // ---- PQ codebooks Lloyd-trained PER CELL on bounded residual
    // samples (Jégou et al. §IV: "local" codebooks per Voronoi cell):
    // residual distributions differ across cells, so per-cell books
    // quantize finer at the same budget than one global set. Cells
    // whose sample cannot support codebookK centers fall back to
    // global books trained on the pooled sample (also what keeps tiny
    // corpora working). The books ride the plan as one flat codebook
    // reference — bounded driver state (numCells × numSub × codebookK
    // × subDim doubles), never a per-row column.
    val perCellN = math.max(codebookK * 2, sampleN / numCells)
    val ws = Window.partitionBy(col("cell"))
      .orderBy(xxhash64(col("cand_id"), lit(seed + 1)), col("cand_id"))
    val sampleRows = assigned
      .withColumn("__rn", row_number().over(ws))
      .filter(col("__rn") <= perCellN)
      .select(col("cell"), col("cv"))
      .collect()
      .map(r => (r.getInt(0), residualOf(r, 1, means(r.getInt(0)))))
    val pooled = sampleRows.map(_._2)
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
    val booksByCell: Map[Int, Array[Array[Array[Double]]]] =
      Await.result(
        Future.traverse(sampleRows.groupBy(_._1).toSeq.sortBy(_._1)) {
          case (c, rows) => Future {
            val rs = rows.map(_._2)
            c -> (if (rs.length >= codebookK) trainBooks(rs) else globalBooks)
          }
        }, Duration.Inf).toMap
    // every cell with rows has sampled rows, hence books; the codebook
    // is indexed by cell id
    val slots = 0 to cellIds.max
    val pq = PqCodebook(slots.map(c => booksByCell.getOrElse(c, globalBooks)),
      perCellBooks = true,
      centroids = slots.map(c => means.getOrElse(c, Array.empty[Double])))
    // ---- encode: argmin-L2 residual codes against the OWN cell's
    // books + the exact vector norm (one float; IP/cosine IVF-PQ
    // keeps it)
    val encoded = assigned
      .select(col("cell"), col("cand_id"), l2normNative(col("cv")).as("__cnorm"),
        pqEncode(col("cv"), col("cell"), pq).as("__enc"))
      .select((col("cell") +: col("cand_id") +: col("__cnorm") +:
        pqCodes("__enc", numSub)): _*)
    // ---- probe: top-nprobe cells per query + per-(query, probed-cell)
    // ADC tables against THAT cell's books — dot(q_s, c_j) no longer
    // decomposes cell-independently once books are local, so tables
    // live on the (q, cell) probe row
    val qd = probeCells(queries, idCol, vecCol, cents, nprobe)
      .select(col("q_id"), col("cell"),
        dotNative(col("qv"), col("centroid")).as("__qdotc"),
        l2normNative(col("qv")).as("__qnorm"),
        pqAdcTable(col("qv"), col("cell"), pq).as("__t"))
    val cands = approxCandidates(
      encoded.join(broadcast(qd), Seq("cell"))
        .filter(col("cand_id") =!= col("q_id")),
      (col("__qdotc") + adcSum(col("__t"), numSub, codebookK)) /
        (col("__cnorm") * col("__qnorm")),
      rerankBudget(k, candMult, corpusN))
    exactRerank(cands,
      corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
      queries, idCol, vecCol, k)
  }

  /** THE centroid probe: each query's top-`nprobe` cells of `cents`
    * (cell, centroid), ranked by (cosine desc, cell), as (q_id, qv,
    * cell, centroid, …). The centroid table is broadcast (it is
    * k·dim numbers); the window sorts only |queries|·k rows. */
  private def probeCells(queries: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, nprobe: Int): DataFrame = {
    val byCsim = Window.partitionBy(col("q_id"))
      .orderBy(col("csim").desc, col("cell"))
    queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", cosine(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(byCsim))
      .filter(col("crank") <= nprobe)
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
    val (n, dim) = corpusSize(corpus, vecCol, numSub)
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
    // residual = v − centroid(cell(v)), formed on the driver for the
    // sampleN collected rows
    val centArr = cents.map(_.toArray).toArray
    val sample = assigned
      .orderBy(xxhash64(col("vec_id"), lit(seed + 1)), col("vec_id"))
      .limit(sampleN)
      .select(col("cell"), col("embedding")).collect()
      .map(r => residualOf(r, 1, centArr(r.getInt(0))))
    require(sample.length >= codebookK,
      s"residual sample ${sample.length} < codebookK $codebookK")
    val books: Array[Array[Array[Double]]] = (0 until numSub).map { s =>
      lloydEuclid(sample.map(_.slice(s * subDim, (s + 1) * subDim)),
        codebookK, trainIters)
    }.toArray
    val encoded = encodeIvfPqCodes(assigned, cents, books)
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

  /** Residual-PQ encode against FROZEN global books — one native
    * [[graft.plans.PqEncode]] call per row (residual against the
    * row's cell centroid, argmin-L2 code per subspace, first maximum
    * on a tie) + the exact vector norm for the approx-cosine
    * denominator. Per-row deterministic (books and centroids are plan
    * constants), which is the whole batch/incremental equivalence the
    * append path's replay spec rests on. `__qerr` is the ADC
    * reconstruction error Σ_s ‖r_s − book_s[c_s]‖², read off the
    * argmax pass for free (max score_s = (‖r_s‖² − min_j‖r_s −
    * c_j‖²)/2), so staleness audits never need a decode pass. Returns
    * (cell, vec_id, embedding, __cnorm, __c0.., __qerr). */
  private[graft] def encodeIvfPqCodes(
      assigned: DataFrame,
      cents: Seq[Seq[Double]],
      books: Array[Array[Array[Double]]]): DataFrame = {
    val pq = PqCodebook(Seq(books), perCellBooks = false,
      centroids = cents.map(_.toArray))
    assigned
      .select(col("cell"), col("vec_id"), col("embedding"),
        l2normNative(col("embedding")).as("__cnorm"),
        pqEncode(col("embedding"), col("cell"), pq).as("__enc"))
      .select(((col("cell") +: col("vec_id") +: col("embedding") +:
        col("__cnorm") +: pqCodes("__enc", books.length)) :+
        col("__enc.qerr").as("__qerr")): _*)
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
    val index = new IvfPqIndex(spark, table)
    val priorRows = index.nRows
    val numBuckets = index.numBuckets
    val props = index.props
    val numCells = props("numCells").toInt
    val replicateMargin =
      props.getOrElse("replicateMargin", "0.0").toDouble
    val maxAssign = props.getOrElse("maxAssign", "4").toInt
    val baseErr = props.getOrElse("mean_code_err", "0").toDouble
    val cents = index.centroids
    val books = index.books
    val encoded = encodeIvfPqCodes(
      assignIvfCells(batch, idCol, vecCol, cents, replicateMargin,
        maxAssign),
      cents, books)
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
    * verbatim. The spill is staged beside the table, on the table's
    * own Hadoop `FileSystem` (HDFS, S3 or local alike), and deleted
    * there. At 100 TB this is one shuffle-free-per-bucket write
    * pass, schedulable off-peak, amortized across the appends it
    * absorbs. Returns (files_before, files_after). */
  def compactIvfPqLayout(
      spark: org.apache.spark.sql.SparkSession,
      table: String): (Long, Long) = {
    val index = new IvfPqIndex(spark, table)
    def dataFiles(): Long = spark.table(table).inputFiles.length.toLong
    val before = dataFiles()
    val loc = new Path(Layouts.tableLocation(spark, table))
    val stage = new Path(loc.getParent,
      s"_${loc.getName}_compact_${java.util.UUID.randomUUID()}")
    val fs = stage.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      spark.table(table).write.parquet(stage.toString)
      val back = spark.read.parquet(stage.toString)
        .repartition(index.numBuckets, col("cell"))
      Layouts.publish(back, table, "ivfpq_codes", Seq("cell"),
        index.numBuckets, props = index.props)
      (before, dataFiles())
    } finally { fs.delete(stage, true); () }
  }

  /** A published [[writeIvfPqLayout]] index as the append, compact and
    * probe paths read it: the manifest row (one small read) and, on
    * request, the frozen centroids and global books (driver-tiny, one
    * collect each). */
  private final class IvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, table: String) {
    private val man = Layouts.manifest(spark)
      .filter(col("layout") === table)
      .select(col("n_rows"), col("num_buckets"), col("props")).head()
    val nRows: Long = man.getLong(0)
    val numBuckets: Int = man.getInt(1)
    val props: Map[String, String] = man.getString(2).split(";")
      .map(_.split("=", 2)).collect { case Array(k0, v) => k0 -> v }.toMap

    def centroidTable: DataFrame = spark.table(s"${table}_centroids")

    /** Row.getSeq yields mutable ArraySeq at runtime — materialized to
      * immutable Vectors before anything re-encodes them
      * (toDF/typedLit). */
    def centroids: Seq[Seq[Double]] = centroidTable
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toVector).toVector

    def books: Array[Array[Array[Double]]] =
      spark.table(s"${table}_books").collect()
        .map(r => r.getInt(0) ->
          r.getSeq[scala.collection.Seq[Double]](1).map(_.toArray).toArray)
        .sortBy(_._1).map(_._2)
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
    val index = new IvfPqIndex(spark, table)
    val numSub = index.props("numSub").toInt
    val np =
      if (nprobe > 0) nprobe
      else index.props.getOrElse("nprobe_default",
        math.max(1, index.props("numCells").toInt / 4).toString).toInt
    // tiny driver read: the global books (numSub·codebookK·subDim
    // doubles) become the query-side ADC kernel's codebook
    val pq = PqCodebook(Seq(index.books), perCellBooks = false,
      centroids = null)
    val dim = queries.select(size(col(vecCol))).head.getInt(0)
    require(dim == numSub * pq.subDim,
      s"query dim $dim != index dim ${numSub * pq.subDim}")
    // probe rows carry q·centroid (the cell-dependent ADC term) and
    // the flat dot table (cell-INdependent — global books)
    val probed = probeCells(queries, idCol, vecCol, index.centroidTable, np)
      .select(col("q_id"), col("qv"), col("cell"),
        dotNative(col("qv"), col("centroid")).as("__qdotc"))
    val qd = probed.select(col("q_id"), col("cell"), col("__qdotc"),
      l2normNative(col("qv")).as("__qnorm"),
      pqAdcTable(col("qv"), lit(0), pq).as("__t"))
    // literal probe-cell set (bounded by |queries|·nprobe) so the
    // bucketed scan prunes to the probed buckets; relies on the
    // session-wide autoBucketedScan=false default (see [[Layouts]])
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val pruned = spark.table(table).filter(col("cell").isin(cells: _*))
      .withColumnRenamed("vec_id", "cand_id")
    val cands = approxCandidates(
      pruned.join(broadcast(qd), Seq("cell"))
        .filter(col("cand_id") =!= col("q_id")),
      (col("__qdotc") + adcSum(col("__t"), numSub, pq.codebookK)) /
        (col("__cnorm") * col("__qnorm")),
      rerankBudget(k, candMult, index.nRows))
    // exact rerank reads vectors from the SAME pruned bucketed scan —
    // candidates only exist inside probed cells. dedupIds: a
    // replicated layout (replicateMargin > 0) can surface the same
    // candidate from several probed cells — the best-wins id-unique
    // heap makes replication output-invisible
    exactRerank(cands, pruned.select(col("cand_id"), col("embedding").as("cv")),
      queries, idCol, vecCol, k, dedupIds = true)
  }

  /** IVF-style ANN: assign each query to its `nprobe` nearest
    * centroids (the per-cell means of `cellCol`), search only those
    * cells, exact-rerank. The corpus is pre-partitioned by cell (the
    * inverted file); a probe touches nprobe/|cells| of the data. The
    * window-sort form it replaced is `Oracles.ivfAnnWindow`. */
  def ivfAnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cellCol: String,
      k: Int,
      nprobe: Int = 2): DataFrame = {
    val probed = probeCells(queries, idCol, vecCol,
        centroids(corpus, cellCol, vecCol), nprobe)
      .select(col("q_id"), col("qv"), col("cell"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      col(cellCol).as("cell"))
    // a candidate lives in one cell, so it joins once
    cosineTail(c.join(broadcast(probed), Seq("cell"))
      .filter(col("cand_id") =!= col("q_id")), k)
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
