package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkSuite {
  import spark.implicits._

  // Planted corpus: 1↔2 near-identical, 3 identical to 1, 4 unrelated.
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (4L, "completely different content about spark catalyst optimizer internals and shuffles")
  ).toDF("doc_id", "text")

  test("exactDedup groups identical normalized text") {
    val res = Dedup.exactDedup(docs, col("doc_id"), col("text"))
      .filter(col("n_copies") > 1).collect()
    assert(res.length == 1)
    assert(res.head.getAs[Long]("keep_id") == 1L)
    assert(res.head.getAs[Long]("n_copies") == 2L)
  }

  test("minHash LSH finds planted near-dup pair, skips unrelated") {
    val pairs = Dedup.minHashCandidatePairs(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"missing planted pair in $pairs")
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated doc 4 paired: $pairs")
  }

  test("simHash: identical docs collide, near-dups within hamming 16") {
    val pairs = Dedup.simHashCandidatePairs(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
    val h13 = pairs.find(p => p._1 == 1L && p._2 == 3L)
    assert(h13.isDefined && h13.get._3 == 0, s"identical docs hamming != 0: $pairs")
    val h12 = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(h12.isDefined, s"near-dup 1-2 not a candidate: $pairs")
  }

  test("jaccard values: near-dup high, unrelated low") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("a_id", "b_id")
    val rows = Dedup.jaccardOnPairs(pairs, docs, col("doc_id"), col("text"))
      .collect().map(r => ((r.getAs[Long]("a_id"), r.getAs[Long]("b_id")),
        r.getAs[Double]("jaccard"))).toMap
    assert(rows((1L, 2L)) > 0.8)
    assert(rows((1L, 4L)) < 0.1)
  }

  test("clusterLeaders resolves transitive chains to the smallest id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 4L))
      .toDF("a_id", "b_id")
    val leaders = Dedup.clusterLeaders(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(leaders(1L) == 1L && leaders(2L) == 1L && leaders(3L) == 1L)
    assert(leaders(5L) == 5L && leaders(6L) == 5L)
    assert(leaders(9L) == 4L && leaders(4L) == 4L)
  }

  test("clusterLeaders converges on long chains (pointer doubling)") {
    // path of diameter 20 with the minimum id in the middle: plain
    // neighbor propagation would need ~20 rounds, default maxIter=5
    // must still converge via doubling (smallCutoff=0 forces the
    // distributed fixpoint — this spec exists to test it)
    val ids = (100L to 109L) ++ Seq(1L) ++ (110L to 119L)
    val pairs = ids.zip(ids.tail).toSeq.toDF("a_id", "b_id")
    val leaders = Dedup.clusterLeaders(pairs, smallCutoff = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(leaders.values.toSet == Set(1L),
      s"chain not fully resolved: ${leaders.filter(_._2 != 1L)}")
  }

  test("clusterLeaders records per-round wall-clock in result metadata") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val out = Dedup.clusterLeaders(pairs, smallCutoff = 0L)
    val meta = out.schema("leader_id").metadata
    assert(meta.getString("cc_mode") == "distributed-fixpoint")
    assert(meta.contains("cc_rounds") && meta.getLong("cc_rounds") >= 1)
    assert(meta.contains("cc_converged") && meta.getBoolean("cc_converged"))
    val ms = meta.getLongArray("cc_round_ms")
    assert(ms.length == meta.getLong("cc_rounds"),
      "one timing entry per executed round")
  }

  test("clusterLeaders small-graph gate: union-find equals the fixpoint exactly") {
    // adversarial shapes: long chain (min in the middle), star,
    // triangle + isolated pair, duplicate and self-referencing edges
    val ids = (100L to 109L) ++ Seq(1L) ++ (110L to 119L)
    val chain = ids.zip(ids.tail).toSeq
    val extras = Seq((200L, 201L), (201L, 202L), (202L, 200L),
      (300L, 301L), (300L, 301L), (400L, 400L))
    val pairs = (chain ++ extras).toDF("a_id", "b_id")
    val small = Dedup.clusterLeaders(pairs)
    assert(small.schema("leader_id").metadata.getString("cc_mode") ==
      "driver-union-find", "small pair set must take the gated path")
    val gotSmall = small.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotBig = Dedup.clusterLeaders(pairs, smallCutoff = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotSmall == gotBig,
      s"paths diverge: ${gotSmall.toSet -- gotBig.toSet} vs " +
        s"${gotBig.toSet -- gotSmall.toSet}")
  }

  test("clusterLeaders gate boundary: one edge over the cutoff " +
      "engages the distributed fixpoint, at-or-under stays on the " +
      "driver") {
    // 60 disjoint pairs -> 120 symmetric edges. Same data, cutoff on
    // either side of 120: the MEASURED edge count (not pair count,
    // not heuristics) must decide the path.
    val pairs = (1L to 60L).map(i => (i * 10, i * 10 + 1))
      .toDF("a_id", "b_id")
    def mode(cutoff: Long): String =
      Dedup.clusterLeaders(pairs, smallCutoff = cutoff)
        .schema("leader_id").metadata.getString("cc_mode")
    assert(mode(120L) == "driver-union-find",
      "<= cutoff must stay on the driver path")
    assert(mode(119L) == "distributed-fixpoint",
      "> cutoff must engage the distributed fixpoint")
    // and the two paths agree at the boundary, per-label
    val a = Dedup.clusterLeaders(pairs, smallCutoff = 120L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.clusterLeaders(pairs, smallCutoff = 119L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("clusterLeaders: non-integral ids always take the fixpoint " +
      "(union-find is gated to integral id types)") {
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("a_id", "b_id")
    val out = Dedup.clusterLeaders(pairs)
    assert(out.schema("leader_id").metadata.getString("cc_mode") ==
      "distributed-fixpoint")
    val got = out.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("nearDedupPipeline keeps one doc per near-dup cluster") {
    val res = Dedup.nearDedupPipeline(docs, col("doc_id"), col("text"),
        jaccardThreshold = 0.7)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(res(1L) == (1L, true))   // cluster leader
    assert(res(2L) == (1L, false))  // near-dup of 1
    assert(res(3L) == (1L, false))  // exact dup of 1
    assert(res(4L) == (4L, true))   // unrelated survives
  }

  test("embedding near-dup finds only above-threshold pairs") {
    val emb = Tables.load(spark, sfDir, "embeddings").filter(col("vec_id") < 100)
    val res = Dedup.embeddingNearDupPairs(emb, col("vec_id"),
      col("embedding"), 0.3)
    val sims = res.collect()
    assert(sims.nonEmpty)
    assert(sims.forall(_.getAs[Double]("cos_sim") > 0.3))
  }

  test("array-aggregate MinHash signature is byte-identical to the expression form") {
    import graft.functions.TextFns
    val docs = Tables.load(spark, sfDir, "documents").limit(100)
    val sigs = Dedup.minHashSignatures(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the old form: 64 independent min(xxhash64(i, shingle)) aggregates
    val shingled = docs
      .select(col("doc_id"), TextFns.tokensLower(col("text")).as("__toks"))
      .select(col("doc_id"),
        explode(array_distinct(TextFns.wordNgrams(col("__toks"), 2)))
          .as("shingle"))
    val minExprs = (0 until 64).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"s_$i"))
    val old = shingled.groupBy(col("doc_id"))
      .agg(minExprs.head, minExprs.tail: _*)
      .collect()
      .map(r => r.getLong(0) -> (1 to 64).map(r.getLong(_)))
      .toMap
    assert(sigs.keySet == old.keySet)
    sigs.foreach { case (id, sig) =>
      assert(sig == old(id), s"signature mismatch for doc $id")
    }
  }

  test("bucketed embedding near-dup: no false positives, recall vs exact") {
    val emb = Tables.load(spark, sfDir, "embeddings").filter(col("vec_id") < 100)
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val exact = pairSet(Dedup.embeddingNearDupPairs(
      emb, col("vec_id"), col("embedding"), 0.3))
    val bucketed = pairSet(Dedup.embeddingNearDupPairsBucketed(
      emb, col("vec_id"), col("embedding"), 0.3))
    assert((bucketed -- exact).isEmpty,
      "exact verification must rule out every false positive")
    val recall = (bucketed intersect exact).size.toDouble / exact.size
    info(s"bucketed embedding near-dup recall = $recall (|exact|=${exact.size})")
    assert(recall >= 0.6, s"recall too low: $recall")
  }

  test("bucket-local near-dup pairs equal the candidate-join oracle at any cap") {
    val emb = Tables.load(spark, sfDir, "embeddings").filter(col("vec_id") < 300)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("cos_sim"))).toSet
    val oracle = rows(Oracles.embeddingNearDupPairsCandidateJoin(
      emb, col("vec_id"), col("embedding"), 0.3))
    assert(oracle.nonEmpty)
    assert(rows(Dedup.embeddingNearDupPairsBucketed(
      emb, col("vec_id"), col("embedding"), 0.3)) == oracle,
      "bucket-local pairs must equal the candidate-join form, sims included")
    // a tiny cap forces multi-cell tiling in every bucket — the
    // triangle partition must be output-invisible
    assert(rows(Dedup.embeddingNearDupPairsBucketed(
      emb, col("vec_id"), col("embedding"), 0.3, maxBucketRows = 7)) == oracle,
      "triangle tiling must not change the pair set")
  }

  test("threshold engine: quantized prune equals the float oracle at the boundary") {
    // r15: embeddingNearDupPairsBucketed prunes candidates with an
    // int8 cosine UPPER BOUND and re-scores survivors exactly. The
    // adversarial case for the bound is a corpus whose pairwise
    // cosines crowd the threshold: vectors v_t = (1, t)/|(1, t)| in an
    // 8-dim space, t in [0, 4] — pair (i, j) has cosine
    // (1 + t_i·t_j)/√((1+t_i²)(1+t_j²)), densely straddling 0.3.
    import spark.implicits._
    val n = 80
    val raws = (0 until n).map { i =>
      val t = i * 4.0 / n
      val nm = math.sqrt(1.0 + t * t)
      (i.toLong, Seq((1.0 / nm).toFloat, (t / nm).toFloat,
        0f, 0f, 0f, 0f, 0f, 0f))
    }
    // sanity: the fixture really exercises the boundary
    val boundary = (for {
      i <- 0 until n; j <- (i + 1) until n
      ti = i * 4.0 / n; tj = j * 4.0 / n
      c = (1 + ti * tj) / math.sqrt((1 + ti * ti) * (1 + tj * tj))
      if math.abs(c - 0.3) < 0.02
    } yield 1).size
    assert(boundary >= 10, s"fixture has only $boundary boundary pairs")
    val df = raws.toDF("vec_id", "embedding")
    def rows(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      d.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("cos_sim"))).toSet
    val oracle = rows(Oracles.embeddingNearDupPairsCandidateJoin(
      df, col("vec_id"), col("embedding"), 0.3, dim = 8))
    assert(oracle.nonEmpty)
    assert(rows(Dedup.embeddingNearDupPairsBucketed(
      df, col("vec_id"), col("embedding"), 0.3, dim = 8)) == oracle,
      "quantized prune + exact re-rank must equal the float oracle, " +
        "sims included, on a threshold-crowding corpus")
  }

  test("embeddingClusterDedup: one keeper per cluster, pairs co-clustered") {
    val emb = Tables.load(spark, sfDir, "embeddings").filter(col("vec_id") < 200)
    val res = Dedup.embeddingClusterDedup(
        emb, col("vec_id"), col("embedding"), 0.3)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(res.size == emb.count())
    // exactly one keeper per cluster, and it is the min id
    res.values.groupBy(_._1).foreach { case (cid, members) =>
      assert(members.count(_._2 == 1L) == 1, s"cluster $cid keepers != 1")
    }
    res.foreach { case (id, (cid, keep)) =>
      assert(cid <= id, s"leader above member: $id -> $cid")
      assert((keep == 1L) == (cid == id))
    }
    // every bucketed near-dup pair must land in one cluster
    Dedup.embeddingNearDupPairsBucketed(
        emb, col("vec_id"), col("embedding"), 0.3)
      .collect().foreach { r =>
        val (a, b) = (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))
        assert(res(a)._1 == res(b)._1, s"pair ($a,$b) split across clusters")
      }
  }

  test("decontaminate counts shared distinct n-grams, keeps clean docs") {
    import spark.implicits._
    val bench = Seq((100L, "a b c d e f g h i j"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // shares two 8-gram windows with the benchmark doc (a..h, b..i)
      (1L, "a b c d e f g h i x"),
      // repeated span must count ONCE (distinct n-grams per doc)
      (2L, "a b c d e f g h a b c d e f g h"),
      (3L, "z y x w v u t s r q"), // disjoint
      (4L, "too short")
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(
        corpus, bench, col("doc_id"), col("text"), n = 8)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L) == (2L, true))
    assert(got(2L) == (1L, true))
    assert(got(3L) == (0L, false))
    assert(got(4L) == (0L, false))
  }

  test("decontaminate on testdata: planted near-dups produce hits") {
    val docs = Tables.load(spark, sfDir, "documents")
    val res = Dedup.decontaminate(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      col("doc_id"), col("text"), n = 8)
    val total = res.count()
    val hits = res.filter(col("contaminated")).count()
    info(s"decontaminate: $hits/$total corpus docs contaminated")
    assert(total == docs.filter(col("doc_id") % 20 =!= 0).count())
  }

  test("containment finds a doc quoted inside a longer one where Jaccard fails") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "intro words then alpha beta gamma delta and then " +
        "much more unrelated framing text around the quoted core"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    val c = Dedup.containmentOnPairs(pairs, docs, col("doc_id"), col("text"))
      .head.getAs[Double]("containment")
    assert(c == 1.0, s"full quote not detected: containment=$c")
    val j = Dedup.jaccardOnPairs(pairs, docs, col("doc_id"), col("text"),
        ngram = 2).head.getAs[Double]("jaccard")
    assert(j < 0.5, s"Jaccard unexpectedly high ($j) — test not discriminating")
  }

  test("containment is NULL when the left doc has no shingles") {
    import spark.implicits._
    val docs = Seq((1L, "single"), (2L, "two tokens here"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    val r = Dedup.containmentOnPairs(pairs, docs, col("doc_id"), col("text")).head
    assert(r.isNullAt(r.fieldIndex("containment")))
  }

  test("duplicatedSpanProfile: cross-doc and within-doc repeats both count") {
    import spark.implicits._
    val docs = Seq(
      // 10 tokens -> 3 windows; shares exactly [a..h] with doc 2
      (1L, "a b c d e f g h u1 u2"),
      (2L, "p0 a b c d e f g h u3"),
      // disjoint vocabulary: zero duplicated windows
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"),
      // the same 8-token window at positions 1 and 9 (within-doc
      // repeat): 16 tokens -> 9 windows, 2 of them duplicated
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8 x1 x2 x3 x4 x5 x6 x7 x8")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanProfile(docs, col("doc_id"), col("text"), 8)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (3L, 1L), s"doc1: ${got(1L)}")
    assert(got(2L) == (3L, 1L), s"doc2: ${got(2L)}")
    assert(got(3L) == (3L, 0L), s"doc3: ${got(3L)}")
    assert(got(4L) == (9L, 2L), s"doc4: ${got(4L)}")
  }

  test("exactSubstringDedup: first occurrence kept, later spans cut, seams intact") {
    import spark.implicits._
    val docs = Seq(
      // holds the globally-first copy of [a..h] -> survives intact
      (1L, "a b c d e f g h x1 y z"),
      // non-first copy at pos 3 -> tokens 3..10 drop, seam 'p q r' stays
      (2L, "p q a b c d e f g h r"),
      // unique vocabulary -> untouched
      (3L, "u v w x y z1 z2 z3"),
      // within-doc repeat: first copy (pos 1) kept, second (pos 9) cut
      (4L, "m1 m2 m3 m4 m5 m6 m7 m8 m1 m2 m3 m4 m5 m6 m7 m8"),
      // shorter than the window -> no windows, untouched
      (5L, "short doc")
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstringDedup(docs, col("doc_id"), col("text"), 8)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == (11L, 0L, "a b c d e f g h x1 y z"), s"doc1: ${got(1L)}")
    assert(got(2L) == (11L, 8L, "p q r"), s"doc2: ${got(2L)}")
    assert(got(3L) == (8L, 0L, "u v w x y z1 z2 z3"), s"doc3: ${got(3L)}")
    assert(got(4L) == (16L, 8L, "m1 m2 m3 m4 m5 m6 m7 m8"), s"doc4: ${got(4L)}")
    assert(got(5L) == (2L, 0L, "short doc"), s"doc5: ${got(5L)}")
  }

  test("crossSplitLeakage: train windows flag held-out docs, train rows silent") {
    import spark.implicits._
    val docs = Seq(
      // train doc holding the canonical window
      (1L, "a b c d e f g h padding1 padding2", true),
      // test doc containing that window verbatim at position 1 ->
      // 1 of its 4 windows is present in train
      (2L, "a b c d e f g h i j k", false),
      // disjoint test doc -> zero leakage
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8 q9", false),
      // train doc duplicated in train: must not appear in output
      (4L, "a b c d e f g h padding1 padding2", true)
    ).toDF("doc_id", "text", "tr")
    val got = Dedup.crossSplitLeakage(
        docs, col("doc_id"), col("text"), col("tr"), 8)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!got.contains(1L) && !got.contains(4L), s"train rows audited: $got")
    assert(got(2L) == (4L, 1L), s"doc2: ${got(2L)}")
    assert(got(3L) == (2L, 0L), s"doc3: ${got(3L)}")
  }

  test("regenerateSplit: leaked test docs move to train, re-audit is clean") {
    import spark.implicits._
    val docs = Seq(
      // train doc holding the canonical window
      (1L, "a b c d e f g h padding1 padding2", "train"),
      // test doc containing that window verbatim -> moves to train
      (2L, "a b c d e f g h i j k", "test"),
      // disjoint test doc -> keeps its assignment
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8 q9", "test"),
      // val doc sharing the window: val is untouched by design
      (4L, "a b c d e f g h x y", "val")
    ).toDF("doc_id", "text", "split")
    val out = Dedup.regenerateSplit(
      docs, col("doc_id"), col("text"), col("split"))
    val got = out.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got(1L) == ("train", "train"), s"doc1: ${got(1L)}")
    assert(got(2L) == ("test", "train"), s"doc2 not moved: ${got(2L)}")
    assert(got(3L) == ("test", "test"), s"doc3: ${got(3L)}")
    assert(got(4L) == ("val", "val"), s"doc4: ${got(4L)}")
    // the regenerated split re-audits clean: zero leaked test windows
    val re = Dedup.crossSplitLeakage(
      docs.select(col("doc_id"), col("text"))
        .join(out.select(col("doc_id"), col("new_split")), Seq("doc_id"))
        .filter(col("new_split") =!= "val"),
      col("doc_id"), col("text"), col("new_split") === "train", 8)
    assert(re.filter(col("n_leaked") > 0).count() == 0L,
      "regenerated test split still leaks")
  }

  test("exactSubstringDedup: removal is consistent with the d16 signal") {
    // any doc the rewrite touched must show dup_frac > 0 in the
    // profile, and a doc with zero duplicated windows is untouched
    val docs = Tables.load(spark, sfDir, "documents")
    val prof = Dedup.duplicatedSpanProfile(docs, col("doc_id"), col("text"), 8)
      .select(col("doc_id"), col("n_dup"))
    val rewr = Dedup.exactSubstringDedup(docs, col("doc_id"), col("text"), 8)
      .select(col("doc_id"), col("n_removed"))
    val joined = rewr.join(prof, Seq("doc_id")).cache()
    try {
      val bad = joined.filter(col("n_removed") > 0 && col("n_dup") === 0).count()
      assert(bad == 0L, s"$bad docs rewritten despite zero duplicated windows")
      val touched = joined.filter(col("n_removed") > 0).count()
      assert(touched > 0L, "fixture corpus has dups but nothing was rewritten")
    } finally { joined.unpersist(); () }
  }

  test("duplicatedSpanProfile: 64-bit hashed windows match the string path") {
    // the shuffle-width knob: xxhash64 the window upstream of the
    // exchange — same verdicts on the real corpus (collisions are
    // ~N²/2⁶⁵; any would surface here as a dup-count mismatch)
    val docs = Tables.load(spark, sfDir, "documents")
    def profile(hashed: Boolean) =
      Dedup.duplicatedSpanProfile(docs, col("doc_id"), col("text"), 8,
          hashWindows = hashed)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val str = profile(false)
    val hsh = profile(true)
    assert(hsh == str,
      s"hashed path diverged: ${(str.toSet -- hsh.toSet).take(3)}")
  }

  test("span index layout: probe reproduces the profile, screens external docs") {
    import spark.implicits._
    val corpus = Tables.load(spark, sfDir, "documents")
    // a previous JVM's run may have left the managed location behind
    // (its in-JVM catalog entry died with it): clear both
    spark.sql("DROP TABLE IF EXISTS graft_span_idx_spec")
    val orphan = new java.io.File("spark-warehouse/graft_span_idx_spec")
    if (orphan.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(orphan)
    }
    try {
    Dedup.writeSpanIndex(corpus, col("doc_id"), col("text"),
      "graft_span_idx_spec", w = 8, numBuckets = 8)
    // members of the indexed corpus: probe == direct profile, exactly
    val direct = Dedup.duplicatedSpanProfile(
        corpus, col("doc_id"), col("text"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val probe = Dedup.dupSpansFromIndex(spark, corpus,
        col("doc_id"), col("text"), "graft_span_idx_spec", 8)
    val probed = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probed == direct,
      s"missing=${(direct -- probed).take(3)} extra=${(probed -- direct).take(3)}")
    // index side is a bucketed scan — no exchange feeds the join from
    // the layout
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"expected a bucketed index scan in:\n$plan")
    // external screening (minCount = 1): a doc sharing one 8-token
    // window with the corpus is flagged even though the corpus holds
    // that window only once
    val firstText = corpus.orderBy("doc_id").select("text")
      .head.getString(0)
    val span8 = firstText.trim.split("\\s+").take(8).mkString(" ")
    val external = Seq((9001L, span8 + " zz1 zz2 zz3")).toDF("doc_id", "text")
    val screened = Dedup.dupSpansFromIndex(spark, external,
        col("doc_id"), col("text"), "graft_span_idx_spec", 8, minCount = 1L)
      .head
    assert(screened.getLong(2) >= 1L,
      s"external doc sharing a corpus window not flagged: $screened")
    } finally spark.sql("DROP TABLE IF EXISTS graft_span_idx_spec")
  }

  test("semanticDecontaminate: max over the eval set, flag on rounded sim") {
    import spark.implicits._
    val eval = Seq((100L, Seq(1f, 0f)), (101L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(1f, 0f)),     // exact eval copy: sim 1.0
      (2L, Seq(0.6f, 0.8f)), // max(0.6, 0.8) = 0.8 vs the two evals
      (3L, Seq(1f, -1f))     // max(0.7071, -0.7071) -> contaminated
    ).toDF("vec_id", "embedding")
    val got = Dedup.semanticDecontaminate(
        corpus, eval, col("vec_id"), col("embedding"), 0.75)
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got(1L) == (1.0, 1L))
    assert(got(2L) == (0.8, 1L))
    // 0.7071 < 0.75: near but below the threshold stays clean
    assert(got(3L) == (0.7071, 0L), s"got ${got(3L)}")
  }

  test("sourceOverlap: shared shingles counted once, disjoint pairs absent") {
    import spark.implicits._
    val docs = Seq(
      ("a", "one two three four five tail_a"),
      // same 5-gram "one two three four five" appears in BOTH a-docs:
      // per-source distinct must count it once
      ("a", "one two three four five other_a"),
      ("b", "one two three four five tail_b"),
      ("c", "six seven eight nine ten eleven")
    ).toDF("source", "text")
    val rows = Dedup.sourceOverlap(docs, col("source"), col("text"), n = 5)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // a: {one..five, two..tail_a, two..other_a} = 3 distinct shingles
    // b: {one..five, two..tail_b} = 2; intersection = 1
    assert(rows.keySet == Set(("a", "b")), s"pairs: ${rows.keySet}")
    val (nA, nB, nCommon, jac) = rows(("a", "b"))
    assert((nA, nB, nCommon) == (3L, 2L, 1L))
    assert(jac == 0.25) // 1 / (3 + 2 - 1)
  }

  test("bandingPlan: closed-form S-curve rows, in_use marks the d02 config") {
    val rows = Dedup.bandingPlan(spark).collect()
      .map(r => r.getLong(0) -> r).toMap
    // every factorization of 64, each bands*rows == 64
    assert(rows.keySet == Set(1L, 2L, 4L, 8L, 16L, 32L, 64L))
    rows.values.foreach { r =>
      assert(r.getLong(0) * r.getLong(1) == 64L)
    }
    // closed forms: b=64,r=1 → curve (1/64)^1 = 0.0156…;
    // p_at = 1-(1-0.5)^64 ≈ 1 (to 4dp)
    val b64 = rows(64L)
    assert(b64.getAs[Double]("curve_t") == math.floor(1.0 / 64 * 10000) / 10000)
    assert(b64.getAs[Double]("p_at") == 0.9999 ||
      b64.getAs[Double]("p_at") == 1.0)
    // the d02 config (16 bands × 4 rows) is flagged, nothing else
    assert(rows.values.count(_.getAs[Long]("in_use") == 1L) == 1)
    assert(rows(16L).getAs[Long]("in_use") == 1L)
    // monotonicity: more bands (fewer rows) = more permissive at the
    // threshold — p_at strictly nondecreasing in bands
    val pAts = rows.toSeq.sortBy(_._1).map(_._2.getAs[Double]("p_at"))
    assert(pAts == pAts.sorted, s"p_at not monotone: $pAts")
    // b=16,r=4 closed form: 1-(1-0.5^4)^16
    val expected = math.floor(
      (1.0 - math.pow(1.0 - math.pow(0.5, 4), 16)) * 10000) / 10000
    assert(rows(16L).getAs[Double]("p_at") == expected)
  }

  test("BandingConfig is the single source of truth for d02/d21/d19") {
    // the plan's in_use row must mark exactly the generator's actual
    // configuration — both read BandingConfig, so a config change
    // moves the generator, the plan's flag, and the audit together
    val inUse = Dedup.bandingPlan(spark)
      .filter(col("in_use") === 1).collect()
    assert(inUse.length == 1)
    assert(inUse.head.getAs[Long]("bands") ==
      Dedup.BandingConfig.numBands.toLong)
    assert(inUse.head.getAs[Long]("rows_per_band") ==
      Dedup.BandingConfig.rowsPerBand.toLong)
    // and the generator's band table really is shaped by that config:
    // numBands rows per doc, band ids 0..numBands-1
    import spark.implicits._
    val bands = Dedup.minHashBandTable(
      Seq((1L, "one two three four five")).toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    assert(bands.count() == Dedup.BandingConfig.numBands.toLong)
    assert(bands.agg(max(col("band"))).head.getAs[Number](0).longValue ==
      Dedup.BandingConfig.numBands - 1L)
  }

  test("bandingPlan: probe similarities snap to one decimal (engine parity)") {
    // 0.5 - 0.2 = 0.30000000000000004 in doubles; the oracle uses the
    // literal 0.3 — the probes must be rounded before the 4-dp floor
    // or boundary values flip for non-default thresholds
    val got = Dedup.bandingPlan(spark, threshold = 0.5)
      .filter(col("bands") === 16).head
    val pBelow = math.floor(
      (1.0 - math.pow(1.0 - math.pow(0.3, 4), 16)) * 10000) / 10000
    val pAbove = math.floor(
      (1.0 - math.pow(1.0 - math.pow(0.7, 4), 16)) * 10000) / 10000
    assert(got.getAs[Double]("p_below") == pBelow)
    assert(got.getAs[Double]("p_above") == pAbove)
    // a threshold whose ±0.2 probes are representable only after
    // snapping: 0.3 → probes 0.1/0.5 exactly
    val t03 = Dedup.bandingPlan(spark, threshold = 0.3)
      .filter(col("bands") === 16).head
    val pAt03 = math.floor(
      (1.0 - math.pow(1.0 - math.pow(0.3, 4), 16)) * 10000) / 10000
    val pBelow03 = math.floor(
      (1.0 - math.pow(1.0 - math.pow(0.1, 4), 16)) * 10000) / 10000
    assert(t03.getAs[Double]("p_at") == pAt03)
    assert(t03.getAs[Double]("p_below") == pBelow03)
  }

  test("bandingPlan: non-grid thresholds pass through unsnapped") {
    // 0.55 is legal ([0.2, 0.8]) but NOT on the one-decimal grid —
    // its probes must be computed at exactly 0.35/0.55/0.75, not
    // snapped to 0.4/0.6/0.8 (which would shift them by 0.05)
    val got = Dedup.bandingPlan(spark, threshold = 0.55)
      .filter(col("bands") === 16).head
    def p(s: Double): Double = math.floor(
      (1.0 - math.pow(1.0 - math.pow(s, 4), 16)) * 10000) / 10000
    assert(got.getAs[Double]("p_at") == p(0.55))
    assert(got.getAs[Double]("p_below") == p(0.35))
    assert(got.getAs[Double]("p_above") == p(0.75))
  }

  // Adversarial hot block: every row shares ONE block key, so the
  // unguarded join would put the whole O(m²) verify in a single
  // shuffle key. The guard (maxBlockRows) must split it across
  // triangle cells WITHOUT changing the output pair set.
  test("fuzzyMatchPairs: hot-block sub-blocking is result-invisible") {
    // 240 rows in one block; names come in runs of 3 sharing a stem,
    // with single-char variants — each run yields 3 distance-1 pairs
    val hot = (0 until 240).map { i =>
      (i.toLong, s"record${"%03d".format(i / 3)}${('a' + i % 3).toChar}",
        "SEG")
    }.toDF("id", "name", "seg")
    def run(cap: Int) = Dedup.fuzzyMatchPairs(
        hot, col("id"), col("name"), Seq(col("seg")),
        maxDistance = 1, maxBlockRows = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val unguarded = run(Int.MaxValue) // g = 1: the pre-guard join shape
    val guarded = run(32)             // g = ceil(240/32) = 8 sub-blocks
    assert(guarded == unguarded,
      s"sub-blocking changed the pair set: ${guarded.diff(unguarded)} / " +
        s"${unguarded.diff(guarded)}")
    // the fixture really exercises the guard: every 3-row run's 3
    // within-run pairs must be present (cross-run digit variants like
    // record001a/record002a are ALSO distance 1 — fine, both paths
    // must agree on those too, which the equality above checks)
    val withinRun = (0 until 240 by 3).flatMap(i => Seq(
      (i.toLong, i + 1L, 1L), (i.toLong, i + 2L, 1L),
      (i + 1L, i + 2L, 1L))).toSet
    assert(withinRun.subsetOf(unguarded))
    assert(unguarded.forall { case (a, b, _) => a < b })
  }

  // The length-gap prefilter (levenshtein >= |len diff|) must be
  // result-invisible on variable-length names: compare against a
  // brute-force in-block cross join + levenshtein computed here.
  test("fuzzyMatchPairs: length-gap prune matches brute force on variable lengths") {
    val rows = Seq(
      (1L, "smith", "A"), (2L, "smyth", "A"), (3L, "smithers", "A"),
      (4L, "smit", "A"), (5L, "s", "A"), (6L, "smithsonian", "A"),
      (7L, "jones", "B"), (8L, "jone", "B"), (9L, "jonesboro", "B"),
      (10L, "jon", "B"), (11L, "", "B"), (12L, "jones", "B"),
      (13L, "zzzzz", "A"))
      .toDF("id", "name", "seg")
    val got = Dedup.fuzzyMatchPairs(
        rows, col("id"), col("name"), Seq(col("seg")), maxDistance = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = rows.select(col("id").as("ia"), col("name").as("na"),
      col("seg").as("sa"))
    val b = rows.select(col("id").as("ib"), col("name").as("nb"),
      col("seg").as("sb"))
    val brute = a.join(b, col("sa") === col("sb") && col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        levenshtein(col("na"), col("nb")).cast("long").as("d"))
      .filter(col("d") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute,
      s"prefilter changed pairs: ${got.diff(brute)} / ${brute.diff(got)}")
    // the fixture exercises every regime of the bound: pairs the gap
    // alone prunes (smith/smithsonian gap 6, jone/jonesboro gap 5,
    // ""/anything), a pair the gap ADMITS but distance rejects
    // (smith/zzzzz gap 0, d=5 — the prefilter must not be the only
    // filter), and survivors at the boundary (smith/smit d=1,
    // smit/smyth d=2, identical jones/jones d=0)
    assert(brute.contains((1L, 4L, 1L)) && brute.contains((7L, 12L, 0L)))
    assert(!brute.exists { case (x, y, _) => (x, y) == (1L, 13L) })
    assert(!brute.exists { case (x, y, _) => (x, y) == (1L, 6L) })
  }

  test("fuzzyMatchPairs: an int or binary name is matched as its string form") {
    val rows = Seq((1L, 1234), (2L, 1235), (3L, 1299), (4L, 12345), (5L, 1234))
      .toDF("id", "num")
    val brute = Set((1L, 2L, 1L), (1L, 4L, 1L), (1L, 5L, 0L), (2L, 4L, 1L),
      (2L, 5L, 1L), (4L, 5L, 1L))
    for (name <- Seq(col("num"), col("num").cast("string").cast("binary"))) {
      val got = Dedup.fuzzyMatchPairs(rows, col("id"), name, Seq(lit("S")),
          maxDistance = 1, maxBlockRows = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == brute, s"name ${name}: ${got.diff(brute)} / ${brute.diff(got)}")
    }
  }

  test("exact-first cascade is result-invisible on real documents") {
    val real = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    def run(exactFirst: Boolean) =
      Dedup.nearDedupPipeline(real, col("doc_id"), col("text"),
          jaccardThreshold = 0.7, exactFirst = exactFirst)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    assert(run(exactFirst = true) == run(exactFirst = false))
  }

  test("exact-first cascade: dup-heavy corpus, identical clusters, cross-copy merge") {
    // 10x key-shifted replication of the planted corpus: every text
    // is now bit-identical across copies — the shape where the
    // cascade collapses per-bucket candidates from (m*10)^2 to m^2
    val heavy = (0 until 10).map(k =>
        docs.select((col("doc_id") + lit(k * 1000L)).as("doc_id"),
          col("text")))
      .reduce(_ unionByName _)
    def run(exactFirst: Boolean) =
      Dedup.nearDedupPipeline(heavy, col("doc_id"), col("text"),
          jaccardThreshold = 0.7, exactFirst = exactFirst)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    val cascaded = run(exactFirst = true)
    assert(cascaded == run(exactFirst = false))
    // the 1/2/3 near-dup cluster must merge ACROSS copies down to
    // doc 1, proving the rep expansion reaches every replica
    val leaders = cascaded.map { case (id, l, _) => id -> l }.toMap
    for (k <- 0 until 10; base <- Seq(1L, 2L, 3L))
      assert(leaders(base + k * 1000L) == 1L,
        s"doc ${base + k * 1000L} leader ${leaders(base + k * 1000L)}")
  }

  test("exact-first cascade is result-invisible for embedding cluster dedup") {
    // exact vector copies under shifted ids (the embedding twin of
    // the dup-heavy corpus)
    val emb = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 150)
      .select(col("vec_id"), col("embedding"))
    val heavy = (0 until 4).map(k =>
        emb.select((col("vec_id") + lit(k * 1000L)).as("vec_id"),
          col("embedding")))
      .reduce(_ unionByName _)
    def run(exactFirst: Boolean) =
      Dedup.embeddingClusterDedup(heavy, col("vec_id"),
          col("embedding"), 0.3, exactFirst = exactFirst)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val cascaded = run(exactFirst = true)
    assert(cascaded == run(exactFirst = false))
    // every exact copy group must share its base vector's cluster
    val cl = cascaded.map { case (id, c, _) => id -> c }.toMap
    for (k <- 1 until 4)
      assert(cl(0L + k * 1000L) == cl(0L), "copy not merged with base")
  }

  test("fuzzyMatchPairs: null block keys match each other under the guard") {
    val df = Seq(
      (1L, "alpha", Option.empty[String]),
      (2L, "alphb", Option.empty[String]),
      (3L, "alpha", Option("X"))
    ).toDF("id", "name", "seg")
    val pairs = Dedup.fuzzyMatchPairs(
        df, col("id"), col("name"), Seq(col("seg")),
        maxDistance = 1, maxBlockRows = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // nulls block together (null <=> null); the non-null row is alone
    assert(pairs == Set((1L, 2L)))
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def hammingSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("MinHash and SimHash pairs equal their band-join oracles") {
    val real = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    for (d <- Seq(docs, real)) {
      val bands = Dedup.minHashBandTable(d, col("doc_id"), col("text"))
      val minhash = Dedup.minHashCandidatePairs(d, col("doc_id"), col("text"))
      assert(minhash.count() == minhash.distinct().count())
      assert(pairSet(minhash) == pairSet(Dedup.pairsFromBandTable(bands)))
      val sigs = Dedup.simHashSignatures(d, col("doc_id"), col("text"))
      val simhash = Dedup.simHashCandidatePairs(d, col("doc_id"), col("text"))
      assert(simhash.schema.map(_.name) == Seq("a_id", "b_id", "hamming"))
      assert(hammingSet(simhash) == hammingSet(Oracles.simHashJoinPairs(sigs, 16)))
      assert(simhash.count() == hammingSet(simhash).size.toLong)
      // a tight hamming bound and a small cap keep the same answer
      assert(hammingSet(Dedup.simHashPairs(sigs, 3, maxBucketRows = 2)) ==
        hammingSet(Oracles.simHashJoinPairs(sigs, 3)))
    }
  }

  test("MinHash: a planted hot band splits into id-hash sub-block cells, pairs unchanged") {
    val cap = 16
    // 4·cap identical documents share every band bucket, beside the
    // planted fixture's near-dups and an unrelated document
    val hot = (0 until 4 * cap).map(i =>
        (100L + i, "boilerplate footer copied onto every page of the site"))
      .toDF("doc_id", "text").unionByName(docs)
    val bands = Dedup.minHashBandTable(hot, col("doc_id"), col("text"))
    val cells = Similarity.cellSorted(
        bands.select(col("doc_id").as("vec_id"), col("band").as("tbl"),
          col("band_hash").as("bkt")), cap, Seq("vec_id"))
      .groupBy("tbl", "bkt", "__i", "__j", "__sd").count()
      .collect()
      .groupBy(r => (r.get(0), r.get(1)))
      .filter(_._2.exists(_.getAs[Int]("__j") > 0))
    // each band has one hot bucket, the 64 copies: it splits into
    // g = ⌈64/16⌉ = 4 sub-blocks scored as 4·5/2 = 10 triangle cells
    assert(cells.size == Dedup.BandingConfig.numBands)
    cells.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("__j")).max == 3)
      assert(rows.map(r => (r.getAs[Int]("__i"), r.getAs[Int]("__j")))
        .distinct.length == 10)
      // a side is one id-hash sub-block: m/g = cap rows on average,
      // spread binomially around it (an exact split would need each
      // row's rank in its bucket)
      val sizes = rows.filter(r => r.getAs[Int]("__i") == r.getAs[Int]("__j"))
        .map(_.getAs[Long]("count"))
      assert(sizes.length == 4 && sizes.sum == 4L * cap)
      assert(sizes.max < 2L * cap, s"sub-block sizes ${sizes.sorted.toSeq}")
    }
    info(s"sub-block sizes at cap $cap: " +
      cells.values.head.filter(r => r.getAs[Int]("__i") == r.getAs[Int]("__j"))
        .sortBy(_.getAs[Int]("__i")).map(_.getAs[Long]("count")).mkString(", "))
    val oracle = pairSet(Dedup.pairsFromBandTable(bands))
    val hotPairs = (100L until 100L + 4 * cap).combinations(2)
      .map(p => (p(0), p(1))).toSet
    assert(hotPairs.subsetOf(oracle))
    assert(pairSet(Dedup.bandTablePairs(bands, maxBucketRows = cap)) == oracle)
    assert(pairSet(Dedup.bandTablePairs(bands)) == oracle)
  }

  test("duplicate and NULL ids never pair in the MinHash, SimHash and fuzzy scorers") {
    val text = "the quick brown fox jumps over the lazy dog near the river bank"
    val d = Seq((Option(1L), text), (Option(1L), text),
        (Option.empty[Long], text), (Option(2L), text))
      .toDF("doc_id", "text")
    val bands = Dedup.minHashBandTable(d, col("doc_id"), col("text"))
    for (cap <- Seq(1, 2048)) {
      assert(pairSet(Dedup.bandTablePairs(bands, maxBucketRows = cap)) ==
        Set((1L, 2L)))
      assert(hammingSet(Dedup.simHashPairs(
          Dedup.simHashSignatures(d, col("doc_id"), col("text")), 16,
          maxBucketRows = cap)) == Set((1L, 2L, 0)))
      val names = Seq((Option(1L), "alpha"), (Option(1L), "alpha"),
          (Option.empty[Long], "alpha"), (Option(2L), "alphb"))
        .toDF("id", "name")
      val fuzzy = Dedup.fuzzyMatchPairs(names, col("id"), col("name"),
          Seq(lit("S")), maxDistance = 1, maxBlockRows = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(fuzzy == Set((1L, 2L, 1L)))
    }
  }

  test("MinHash, SimHash and fuzzy pairs leave no cached relation behind") {
    Similarity.releaseBandedCache()
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Dedup.minHashCandidatePairs(docs, col("doc_id"), col("text")).collect()
    Dedup.simHashCandidatePairs(docs, col("doc_id"), col("text")).collect()
    Dedup.fuzzyMatchPairs(docs, col("doc_id"), col("text"), Seq(lit(1)))
      .collect()
    assert(spark.sharedState.cacheManager.isEmpty, "a pair engine left a cache")
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before)
  }
}
