package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Similarity

import scala.util.Random

/** Equality oracles for the vector math, exact k-NN, the LSH and IVF
  * window rankings, the banded embedding engines, the SimHash band
  * join, the Lloyd driver combine and the product-quantization kernel:
  * the forms the production paths replaced, kept only so specs can pin
  * the replacements to them bit for bit. (The MinHash band join stays
  * in `Dedup.pairsFromBandTable`, which the stored layout reads
  * through.) */
object Oracles {

  /** HOF dot product (zip_with/aggregate): the oracle
    * [[Similarity.dotNative]] is pinned to. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  /** HOF L2 norm: the `aggregate` form of the native self dot. */
  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Cosine composed from built-in higher-order functions (zip_with +
    * aggregate): three array traversals through lambda dispatch. The
    * oracle [[Similarity.cosine]] is pinned to bit for bit. */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = transform(a, _.cast("double"))
    val bd = transform(b, _.cast("double"))
    dot(ad, bd) / (l2norm(ad) * l2norm(bd))
  }

  /** Exact cosine top-k through a window over (query, sim) — which
    * sorts the WHOLE corpus per query in a single task. The equality
    * oracle for [[Similarity.knnBruteAgg]] (identical output) and the
    * exact baseline of the recall specs. */
  def knnBrute(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    windowTopK(c.join(q, col("cand_id") =!= col("q_id")), k)
  }

  /** The `row_number` window over (sim desc, cand_id) per query that
    * the engines ranked (q_id, qv, cand_id, cv) pairs with before the
    * shared ranking tail. Unlike the tail, it keeps a NULL-cosine
    * candidate and ranks it last. */
  private def windowTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    pairs.withColumn("sim", Similarity.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("cand_id"))
  }

  /** [[Similarity.lshAnn]] in its window form: the same seeded bucket
    * and multi-probe candidates, ranked by [[windowTopK]]. */
  def lshAnnWindow(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 5,
      dim: Int = 64,
      seed: Long = 42L,
      probeBits: Int = 2): DataFrame = {
    def bucket(v: Column): Column = element_at(
      Similarity.hyperplaneBuckets(v, 1, numPlanes, dim, seed), 1)
    val flips =
      (if (probeBits >= 1) (0 until numPlanes).map(1 << _) else Nil) ++
        (if (probeBits >= 2) for {
          i <- 0 until numPlanes; j <- (i + 1) until numPlanes
        } yield (1 << i) | (1 << j) else Nil)
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      bucket(col(vecCol)).as("bucket"))
    val q = broadcast(queries
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"),
        bucket(col(vecCol)).as("qb"))
      .withColumn("probe", explode(array(
        col("qb") +: flips.map(m => col("qb").bitwiseXOR(lit(m))): _*))))
    windowTopK(c.join(q,
      col("bucket") === col("probe") && col("cand_id") =!= col("q_id")), k)
  }

  /** [[Similarity.ivfAnn]] in its window form: each query's top
    * `nprobe` cell means by a `row_number` window over (csim desc,
    * cell), then the probed cells' rows ranked by [[windowTopK]]. */
  def ivfAnnWindow(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cellCol: String,
      k: Int,
      nprobe: Int = 2): DataFrame = {
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("csim").desc, col("cell"))
    val probed = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(Similarity.centroids(corpus, cellCol, vecCol)))
      .withColumn("csim", Similarity.cosine(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select(col("q_id"), col("qv"), col("cell"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      col(cellCol).as("cell"))
    windowTopK(c.join(broadcast(probed), Seq("cell"))
      .filter(col("cand_id") =!= col("q_id")), k)
  }

  /** Deterministic ±1 random hyperplanes (seeded). */
  private def planes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Sign-bit bucket id from `numPlanes` seeded random hyperplanes, as
    * one `when(dot >= 0)` sub-tree per plane — the per-table
    * composition [[graft.plans.HyperplaneBuckets]] fuses. */
  def hyperplaneBucket(
      vec: Column, numPlanes: Int, dim: Int, seed: Long): Column =
    bucketCol(vec, planes(numPlanes, dim, seed))

  /** Sign-bit bucket id from hyperplane projections — planes × dims
    * fused multiply-adds per row through the codegen dot product. */
  private def bucketCol(vec: Column, ps: Seq[Seq[Double]]): Column =
    ps.zipWithIndex.map { case (p, j) =>
      when(Similarity.dotNative(vec, typedLit(p)) >= 0, lit(1 << j))
        .otherwise(lit(0))
    }.reduce(_ + _)

  /** The exploded (vec_id, tbl, bkt) multi-table hyperplane band
    * table — the bucket assignment of `Similarity.bandedWithVecs`
    * without the vector, for the join oracles and the band-state
    * probes of the streaming specs. */
  def embBandTable(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numTables: Int = 12,
      planesPerTable: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val v = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    v.select(col("vec_id"), posexplode(Similarity.hyperplaneBuckets(
        col("v"), numTables, planesPerTable, dim, seed)))
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("bkt"))
  }

  /** Symmetrize scored undirected pairs (a_id, b_id, sim) and take the
    * per-node top-k through the bounded-heap aggregate, as
    * (vec_id, rank, nbr_id, sim). */
  def symTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .select(explode(array(
        struct(col("a_id").as("vec_id"), col("b_id").as("nbr_id"),
          col("sim")),
        struct(col("b_id").as("vec_id"), col("a_id").as("nbr_id"),
          col("sim")))).as("e"))
      .select(col("e.vec_id"), col("e.nbr_id"), col("e.sim"))
      .groupBy(col("vec_id"))
      .agg(Similarity.topKAgg(col("sim"), col("nbr_id"), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("nbr_id"), col("col.score").as("sim"))

  /** The SimHash chunk self-join `Dedup.simHashCandidatePairs` used
    * before the band-cell scorer: pairs sharing a (chunk, value)
    * bucket, hamming-filtered, distinct — (a_id, b_id, hamming). */
  def simHashJoinPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val chunked = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("ci"), col(s"chunk$i").as("cv"))): _*)).as("c"))
      .select(col("doc_id"), col("simhash"),
        col("c.ci").as("ci"), col("c.cv").as("cv"))
    val a = chunked.alias("a")
    val b = chunked.alias("b")
    a.join(b, col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The candidate-JOIN form knnGraphBucketed used through round 10:
    * bare-id pairs → global distinct → two vector-fetch joins →
    * cosine → top-k. Output-identical to the band-cell scorer (the
    * equality is spec'd in SimilaritySpec), but every within-bucket
    * candidate OCCURRENCE becomes a shuffled row and the distinct is
    * a candidate-sized exchange — at sf1.0 that exchange (~10⁸ rows)
    * was 90+ % of s16's wall. */
  def knnGraphCandidateJoin(
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
        Similarity.cosine(col("va"), col("vb")).as("sim"))
    symTopK(scored, k)
  }

  /** The candidate-JOIN form embeddingNearDupPairsBucketed used
    * through round 10 — bare-id pairs → candidate-sized distinct →
    * two vector-fetch joins → cosine → threshold. Output-identical
    * to the quantized band-cell engine (equality spec'd in DedupSpec). */
  def embeddingNearDupPairsCandidateJoin(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      threshold: Double,
      numTables: Int = 12,
      planesPerTable: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val v = df.select(idCol.as("vec_id"), vecCol.as("v"))
    val tableBuckets = (0 until numTables).map { t =>
      struct(lit(t).as("tbl"),
        hyperplaneBucket(col("v"), planesPerTable, dim,
          seed + 7919L * t).as("bkt"))
    }
    // cache (lazy): the self-join below evaluates this frame for BOTH
    // sides — uncached, every row pays its numTables × planesPerTable
    // hyperplane dot products twice. Not unpersisted: the returned
    // frame is lazy; Spark evicts the blocks LRU under memory pressure
    val banded = v
      .select(col("vec_id"), explode(array(tableBuckets: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
      .cache()
    val a = banded.alias("a")
    val b = banded.alias("b")
    val pairs = a.join(b,
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    pairs
      .join(v.select(col("vec_id").as("a_id"), col("v").as("va")), "a_id")
      .join(v.select(col("vec_id").as("b_id"), col("v").as("vb")), "b_id")
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .filter(col("sim") > threshold)
      .select(col("a_id"), col("b_id"), round(col("sim"), 4).as("cos_sim"))
  }

  /** The two-exchange aggregate form of one Lloyd round — the
    * equality oracle for `Similarity.lloydMeans`. */
  def lloydMeansAgg(v: DataFrame,
      centroids: Seq[Seq[Double]]): Map[Int, Seq[Double]] =
    v.select(col("__v"), Similarity.nearestCellCol(col("__v"), centroids))
      .select(col("cell"), posexplode(col("__v")))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("col")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap

  /** The higher-order-function product-quantization encode that
    * [[graft.plans.PqEncode]] replaced: the residual via `zip_with`
    * against `centroidCol` (or the vector itself), per subspace the
    * `transform` of a literal packed codebook into `x·c − ‖c‖²/2`
    * scores, code = `array_position(array_max)` − 1, and `__qerr` =
    * `greatest(0, ‖r‖² − Σ_s 2·max_s)`. Scores materialize in their
    * own select, as the production form did. Adds `__c0..` and
    * `__qerr` to `df`'s columns. */
  def pqEncodeHof(df: DataFrame, vecCol: String, centroidCol: Option[String],
      books: Array[Array[Array[Double]]]): DataFrame = {
    val numSub = books.length
    val subDim = books.head.head.length
    val bookNormSq = books.map(_.map(c => c.map(x => x * x).sum))
    val vd = transform(col(vecCol), _.cast("double"))
    val res = centroidCol.fold(vd)(c => zip_with(vd, col(c), (a, b) => a - b))
    val base = df.columns.toSeq.map(col)
    val withSubs = df.select((base :+ res.as("__res")): _*)
      .select((base :+ Similarity.dotNative(col("__res"), col("__res"))
        .as("__resn2")) ++
        (0 until numSub).map(s =>
          slice(col("__res"), s * subDim + 1, subDim).as(s"__s$s")): _*)
    val withScores = withSubs.select((base :+ col("__resn2")) ++
      (0 until numSub).map { s =>
        val packed = typedLit(books(s).zipWithIndex.map { case (c, j) =>
          (c.toSeq, bookNormSq(s)(j))
        }.toSeq)
        transform(packed, e =>
          Similarity.dotNative(col(s"__s$s"), e.getField("_1")) -
            e.getField("_2") / 2).as(s"__sc$s")
      }: _*)
    withScores.select(((base ++ (0 until numSub).map { s =>
      (array_position(col(s"__sc$s"), array_max(col(s"__sc$s"))) - 1)
        .cast("int").as(s"__c$s")
    }) :+ greatest(lit(0.0), col("__resn2") -
      (0 until numSub).map(s => array_max(col(s"__sc$s")) * 2)
        .reduce(_ + _)).as("__qerr")): _*)
  }

  /** The `transform(books_s, c => dot(slice_s(x), c))` ADC-table
    * columns that [[graft.plans.PqAdcTable]] replaced, one `__t<s>`
    * array per subspace, added to `df`'s columns. */
  def pqAdcTablesHof(df: DataFrame, vecCol: String,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val subDim = books.head.head.length
    df.select((df.columns.toSeq.map(col) ++ books.indices.map { s =>
      transform(typedLit(books(s).map(_.toSeq).toSeq), c =>
        Similarity.dotNative(slice(transform(col(vecCol), _.cast("double")),
          s * subDim + 1, subDim), c)).as(s"__t$s")
    }): _*)
  }
}
