package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

import scala.util.Random

/** Equality oracles for the banded embedding engines: the forms the
  * production paths replaced, kept only so specs can pin the
  * replacements to them bit for bit. */
object Oracles {

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
    val banded = Similarity.embBandTable(corpus, idCol, vecCol, numTables,
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
    Similarity.symTopK(scored, k)
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
}
