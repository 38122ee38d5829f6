package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Temporal
import graft.streaming.Streams

class StreamsSpec extends SparkSuite with SuiteTempDirs {

  // every source and state dir the specs write lives under this root
  protected val rootName = "graft_streams_spec"

  test("stateful session counts equal the window-function form") {
    val stateful = Streams.statefulSessionCounts(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val windowed = Temporal.sessionize(
        Tables.load(spark, sfDir, "events"), "user_id", "ts", "event_id", 1800L)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Number]("user_id").longValue ->
        r.getAs[Long]("n")).toMap
    assert(stateful == windowed)
  }

  test("stateful sessions: planner keeps the secondary sort (no key-only re-sort)") {
    val plan = Streams.statefulSessionCounts(spark, sfDir)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val mapGroups = plan.collect {
      case p if p.getClass.getSimpleName.contains("MapGroups") => p
    }
    assert(mapGroups.nonEmpty, s"expected a MapGroups-style exec in:\n$plan")
    // the first sort below the stateful operator must be the
    // (user_id, ts_us) secondary sort; a planner-inserted key-only
    // sort would destroy the streamed-iterator ordering contract
    val firstSort = mapGroups.head.collectFirst {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(firstSort.isDefined, "expected the secondary SortExec")
    assert(firstSort.get.sortOrder.exists(_.child.toString.contains("ts_us")),
      s"first sort under MapGroups lost the ts_us secondary key: " +
        s"${firstSort.get.sortOrder.mkString(", ")}")
  }

  test("stateful sessions handle a skewed hot key with streamed O(1) state") {
    import spark.implicits._
    // one hot user with 200k events (gaps every 1000th), two cold users
    val hot = (0 until 200000).map { i =>
      (7L, i.toLong * 1000000L + (i / 1000).toLong * 3600L * 1000000L)
    }
    val cold = Seq((1L, 0L), (1L, 10L * 1000000L), (2L, 0L))
    val df = (hot ++ cold).toDF("user_id", "ts_us")
    val got = Streams.sessionCountsOf(df, gapSeconds = 1800L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hot user: a >30min gap opens every 1000 events (3600s jumps)
    assert(got(7L) == 200L, s"hot key sessions: ${got(7L)}")
    assert(got(1L) == 1L && got(2L) == 1L)
  }

  test("streaming tumbling counts equal batch group-by") {
    val streamed = Streams.tumblingCounts(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("n")).toMap
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("n")).toMap
    assert(streamed == batch)
  }

  test("streaming upsert: multi-batch replay equals batch latest-per-key") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
    // split the input into 3 files and force one file per micro-batch,
    // so the merge path (snapshot ⊕ delta) actually runs across batches
    val srcDir = tmpDir("graft_e14_src")
    ev.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_e14_spec")
    val snap = Streams.upsertLatestOf(stream, base)
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id"))).toMap
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val expect = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id"))).toMap
    assert(snap == expect)
    // the merge really ran over >1 batch (otherwise this spec proves
    // nothing): one LSM part dir per micro-batch beyond the first
    val parts = new java.io.File(s"$base/parts").listFiles()
      .map(_.getName).filter(_.startsWith("b"))
    assert(parts.length > 1, s"expected multiple batch parts: ${parts.toSeq}")
  }

  test("incremental clean: multi-batch replay equals batch decontaminate+dedup") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    // id-range splits written as separate files, replayed one file per
    // micro-batch IN doc_id ORDER (file source replays in input order) —
    // the cross-batch anti-join dedup path must actually run
    val srcDir = tmpDir("graft_p03_src")
    val ids = corpus.select(max(col("doc_id"))).head.getLong(0)
    val cut1 = ids / 3; val cut2 = 2 * ids / 3
    Seq(
      corpus.filter(col("doc_id") <= cut1),
      corpus.filter(col("doc_id") > cut1 && col("doc_id") <= cut2),
      corpus.filter(col("doc_id") > cut2)
    ).zipWithIndex.foreach { case (part, i) =>
      part.coalesce(1).write.mode("overwrite").parquet(f"$srcDir/part$i%02d")
    }
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part*")
    val base = tmpDir("graft_p03_spec")
    val got = graft.streaming.Streams.incrementalClean(stream, bench, base)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("source"), r.getAs[String]("fp"))).toSet
    // batch oracle: decontaminate, drop contaminated, keep min doc_id
    // per fingerprint over the WHOLE corpus at once
    val flags = graft.operators.Dedup.decontaminate(
      corpus, bench, col("doc_id"), col("text"), 8)
    val clean = corpus.join(
      flags.filter(col("n_overlap") === 0).select("doc_id"),
      Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"),
        md5(lower(trim(col("text")))).as("fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    val expect = clean.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("source"), r.getAs[String]("fp"))).toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
    val parts = new java.io.File(s"$base/parts").listFiles()
      .map(_.getName).filter(_.startsWith("b"))
    assert(parts.length > 1, s"expected multiple batch parts: ${parts.toSeq}")
  }

  test("incremental clean+score chain: replay equals batch chain") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    // same forced id-ordered 3-file replay as the p03 spec: the
    // cross-batch anti-join AND the batch-local finishing must compose
    val srcDir = tmpDir("graft_p06_src")
    val ids = corpus.select(max(col("doc_id"))).head.getLong(0)
    val cut1 = ids / 3; val cut2 = 2 * ids / 3
    Seq(
      corpus.filter(col("doc_id") <= cut1),
      corpus.filter(col("doc_id") > cut1 && col("doc_id") <= cut2),
      corpus.filter(col("doc_id") > cut2)
    ).zipWithIndex.foreach { case (part, i) =>
      part.coalesce(1).write.mode("overwrite").parquet(f"$srcDir/part$i%02d")
    }
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part*")
    val base = tmpDir("graft_p06_spec")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Double]("quality"), r.getAs[Long]("n_emails"),
        r.getAs[Long]("n_phones"), r.getAs[String]("redacted"))
    val got = graft.streaming.Streams
      .incrementalCleanScore(stream, bench, base)
      .collect().map(key).toSet
    // batch form: the one-shot clean front, then the same per-row
    // finishing over ALL survivors at once
    val flags = graft.operators.Dedup.decontaminate(
      corpus, bench, col("doc_id"), col("text"), 8)
    val clean = corpus.join(
      flags.filter(col("n_overlap") === 0).select("doc_id"),
      Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), col("text"),
        md5(lower(trim(col("text")))).as("fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    val keep = clean.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val injected = when(col("doc_id") % 10 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or 555-123-4567")))
      .otherwise(col("text"))
    val expect = keep
      .select(col("doc_id"), col("source"),
        graft.functions.TextFns.tokensLower(col("text")).as("__toks"),
        length(col("text")).as("__len"), injected.as("__t"))
      .select(col("doc_id"), col("source"),
        (floor(least(lit(1.0), col("__len") / 500.0) *
          (lit(0.7) + lit(0.3) *
            (graft.functions.TextFns.wordSetHits(col("__toks"),
              Seq("the", "a", "and", "of", "to", "in")) /
              size(col("__toks")))) * 10000) / 10000).as("quality"),
        size(regexp_extract_all(col("__t"),
          lit(graft.functions.TextFns.EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("__t"),
          lit(graft.functions.TextFns.PhoneRe), lit(0)))
          .cast("long").as("n_phones"),
        graft.functions.TextFns.redactPii(col("__t")).as("redacted"))
      .collect().map(key).toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(2)} extra=${(got -- expect).take(2)}")
    // every 10th surviving doc got PII injected and scrubbed
    assert(got.exists(t => t._1 % 10 == 0 && t._6.contains("<EMAIL>")))
  }

  test("incremental LM model: multi-batch fold equals batch training") {
    val docs = Tables.load(spark, sfDir, "documents")
    // arbitrary 3-way chunking — counts merge is a commutative
    // monoid, so ANY chunking must reproduce batch training exactly
    val srcDir = tmpDir("graft_p04_src")
    docs.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p04_spec")
    val got = graft.streaming.Streams.incrementalLmModel(stream, base)
      .collect()
      .map(r => r.getAs[String]("bg") -> r.getAs[Long]("nb")).toMap
    val expect = docs.select(lower(trim(col("text"))).as("t"))
      .select(explode(expr(
        """CASE WHEN length(t) >= 2
          |  THEN transform(sequence(1, length(t) - 1),
          |    i -> substr(t, i, 2))
          |  ELSE array() END""".stripMargin)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("nb"))
      .collect()
      .map(r => r.getAs[String]("bg") -> r.getAs[Long]("nb")).toMap
    assert(got == expect)
    assertMultiBatchRetired(base)
  }

  test("incremental LM model: replay after pointer move does not double-count") {
    // The count-fold version of the p14 replay test: seed the state a
    // committed batch 0 left behind (its counts published, pointer at
    // v0) with NO checkpoint, so batch 0 replays. A fold that re-ran
    // would ADD batch 0's counts to a snapshot that already includes
    // them — a silently-wrong model, worse than the read-overwrite
    // wedge. publishSnapshot must skip the replayed batch instead.
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    val chunks = Seq(
      docs.filter(col("doc_id") <= n / 2),
      docs.filter(col("doc_id") > n / 2))
    val srcDir = tmpDir("graft_p04_replay_src")
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      chunk.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/c$i")
      val f = new java.io.File(s"$srcDir/c$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, s"chunk$i.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      assert(dst.setLastModified(1000000L * (i + 1)))
    }
    def bigrams(df: org.apache.spark.sql.DataFrame) = df
      .select(lower(trim(col("text"))).as("t"))
      .select(explode(expr(
        """CASE WHEN length(t) >= 2
          |  THEN transform(sequence(1, length(t) - 1),
          |    i -> substr(t, i, 2))
          |  ELSE array() END""".stripMargin)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("nb"))
    val base = tmpDir("graft_p04_replay")
    // what a committed batch 0 published, pointer included
    bigrams(chunks(0)).coalesce(1).write
      .mode("overwrite").parquet(s"$base/v0")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(base, "_latest"), s"$base/v0")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "chunk*.parquet").parquet(srcDir)
    val got = graft.streaming.Streams.incrementalLmModel(stream, base)
      .collect()
      .map(r => r.getAs[String]("bg") -> r.getAs[Long]("nb")).toMap
    val expect = bigrams(docs).collect()
      .map(r => r.getAs[String]("bg") -> r.getAs[Long]("nb")).toMap
    assert(got == expect,
      s"replayed fold diverged from batch training: " +
        s"${(got.toSet -- expect.toSet).take(3)} vs ${(expect.toSet -- got.toSet).take(3)}")
  }

  test("incremental df model: multi-batch fold equals batch derivation") {
    val docs = Tables.load(spark, sfDir, "documents")
    val srcDir = tmpDir("graft_p07_src")
    docs.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p07_spec")
    val model = graft.streaming.Streams.incrementalDfModel(stream, base)
    val got = model.collect()
      .map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("df"), r.getAs[Long]("n"))).toMap
    val expectN = docs.count()
    val expect = docs
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.TextFns.tokensLower(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (tok, (df, n)) =>
      assert(df == expect(tok), s"df mismatch for '$tok'")
      assert(n == expectN)
    }
    assertMultiBatchRetired(base)
  }

  test("incremental minhash pairs: multi-batch discovery equals batch d02") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val srcDir = tmpDir("graft_p14_src")
    docs.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p14_spec")
    val got = graft.streaming.Streams
      .incrementalMinhashPairs(stream, base)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    val expect = graft.operators.Dedup
      .minHashCandidatePairs(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    assert(got == expect,
      s"maintained pairs diverge from batch: extra=${got -- expect}, missing=${expect -- got}")
    val parts = new java.io.File(s"$base/pairs/parts").listFiles()
      .map(_.getName).filter(_.startsWith("b"))
    assert(parts.length > 1, s"expected multiple batch parts: ${parts.toSeq}")
  }

  test("incremental knn graph: multi-batch fold equals batch s16 graph") {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val srcDir = tmpDir("graft_p15_src")
    emb.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p15_spec")
    val got = graft.streaming.Streams
      .incrementalKnnGraph(stream, base, k = 5)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("nbr_id")))
      .toSet
    val expect = graft.operators.Similarity
      .knnGraphBucketed(emb, "vec_id", "embedding", k = 5)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("nbr_id")))
      .toSet
    assert(got == expect,
      s"maintained graph diverges from batch: extra=${(got -- expect).take(3)}, " +
        s"missing=${(expect -- got).take(3)}")
    // O(batch) evidence: one edge part and one vec part per
    // micro-batch (no compaction at the default cadence for 3
    // batches — and so no O(corpus) snapshot rewrite either)
    val parts = new java.io.File(s"$base/graph/parts").listFiles()
      .map(_.getName).filter(_.startsWith("b"))
    assert(parts.length > 1, s"expected multiple batch parts: ${parts.toSeq}")
    // the maintained band state is ONE bucketed table on the probe
    // key, appended per batch: a cross-batch probe against it
    // exchanges ONLY the new side (broadcast off to force the
    // sort-merge regime — the 100 TB shape, where the batch outgrows
    // the broadcast threshold)
    val stored = new graft.streaming.BandState(spark, base, Seq("tbl", "bkt"))
      .scan().get
    val probe = graft.operators.Similarity
      .embBandTable(emb.limit(20), "vec_id", "embedding")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val join = probe.alias("n").join(stored.alias("o"),
        col("n.tbl") === col("o.tbl") && col("n.bkt") === col("o.bkt") &&
          col("n.vec_id") =!= col("o.vec_id"))
      join.collect()
      val exec = (join.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }).toString
      assert(exec.contains("SortMergeJoin"),
        s"expected a sort-merge probe in:\n$exec")
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(exec).length
      assert(exchanges == 1,
        s"expected exactly one exchange (the batch side), got $exchanges in:\n$exec")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("incremental cluster dedup: multi-batch pair fold equals batch d11") {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val srcDir = tmpDir("graft_p17_src")
    emb.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p17_spec")
    val pairs = graft.streaming.Streams
      .incrementalEmbPairs(stream, base, threshold = 0.3)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    val expectPairs = graft.operators.Dedup
      .embeddingNearDupPairsBucketed(emb, col("vec_id"), col("embedding"),
        threshold = 0.3)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    assert(pairs == expectPairs,
      s"maintained pairs diverge: extra=${(pairs -- expectPairs).take(3)}, " +
        s"missing=${(expectPairs -- pairs).take(3)}")
    // and the finished verdict equals batch d11 end-to-end (state
    // read back through the same LSM folds the fold maintains)
    val corpus = new graft.streaming.LsmState(
        spark, s"$base/vecs", identity)
      .result().select(col("vec_id"))
    val leaders = graft.operators.Dedup
      .clusterLeaders(new graft.streaming.LsmState(
          spark, s"$base/pairs", identity)
        .result().select(col("a_id"), col("b_id")))
      .select(col("doc_id").as("vec_id"), col("leader_id"))
    val got = corpus.join(leaders, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("leader_id"), col("vec_id")).as("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = graft.operators.Dedup
      .embeddingClusterDedup(emb, col("vec_id"), col("embedding"), 0.3)
      .select(col("vec_id"), col("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect,
      s"verdict diverges from batch d11: ${(got -- expect).take(3)} vs " +
        s"${(expect -- got).take(3)}")
  }

  test("incremental quality keeper: multi-batch election equals batch d20") {
    val docs = Tables.load(spark, sfDir, "documents")
    val srcDir = tmpDir("graft_p16_src")
    docs.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p16_spec")
    val got = graft.streaming.Streams
      .incrementalQualityKeeper(stream, base)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper_id"),
        r.getAs[Long]("keep")))
      .toSet
    val q = docs.select(col("doc_id"),
      graft.functions.TextFns.textFingerprint(col("text")).as("fp"),
      graft.functions.TextFns.qualityScore(col("text")).as("quality"))
    val w = Window.partitionBy("fp")
      .orderBy(col("quality").desc, col("doc_id"))
    val expect = q
      .select(col("doc_id"), first(col("doc_id")).over(w).as("keeper_id"))
      .select(col("doc_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("keep"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper_id"),
        r.getAs[Long]("keep")))
      .toSet
    assert(got == expect,
      s"maintained election diverges: extra=${(got -- expect).take(3)}, " +
        s"missing=${(expect -- got).take(3)}")
    val parts = new java.io.File(s"$base/docs/parts").listFiles()
      .map(_.getName).filter(_.startsWith("b"))
    assert(parts.length > 1, s"expected multiple batch parts: ${parts.toSeq}")
  }

  /** Seed a 2-chunk ingest-ordered file source + the durable state a
    * committed-but-uncheckpointed batch 0 leaves behind, then run the
    * p14 fold so batch 0 REPLAYS. `withMarker` selects the crash
    * window: true = died between band append+marker and checkpoint
    * commit (the common window — append must be skipped); false =
    * died between the band append and ITS marker (the narrow window —
    * bands duplicate, pairs must stay exact anyway). */
  private def runP14Replay(withMarker: Boolean): (
      Set[(Long, Long)], Set[(Long, Long)], org.apache.spark.sql.DataFrame) = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    val chunks = Seq(
      docs.filter(col("doc_id") <= n / 2),
      docs.filter(col("doc_id") > n / 2))
    val srcDir = tmpDir("graft_p14_replay_src")
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      chunk.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/c$i")
      val f = new java.io.File(s"$srcDir/c$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, s"chunk$i.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      assert(dst.setLastModified(1000000L * (i + 1)))
    }
    val base = tmpDir("graft_p14_replay")
    // Seed exactly what a committed batch 0 leaves durable: its bands
    // appended to the fold's bucketed band table (+ marker per the
    // window under test) and its pairs as LSM part b0.
    graft.operators.Dedup
      .minHashBandTable(chunks(0), col("doc_id"), col("text"))
      .write.bucketBy(8, "band", "band_hash")
      .sortBy("band", "band_hash").mode("append")
      .saveAsTable(graft.streaming.BandState.tableName(base))
    if (withMarker) {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(base, "band_marks"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(base, "band_marks", "b0"),
        Array.emptyByteArray)
    }
    graft.operators.Dedup
      .minHashCandidatePairs(chunks(0), col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$base/pairs/parts/b0")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "chunk*.parquet").parquet(srcDir)
    val got = graft.streaming.Streams
      .incrementalMinhashPairs(stream, base)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    val expect = graft.operators.Dedup
      .minHashCandidatePairs(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    (got, expect, spark.table(graft.streaming.BandState.tableName(base)))
  }

  test("incremental minhash pairs: replay of a committed batch reproduces the state") {
    val (got, expect, finalBands) = runP14Replay(withMarker = true)
    assert(got == expect,
      s"replayed pairs diverge: extra=${got -- expect}, missing=${expect -- got}")
    // the replayed batch's marker-guarded band append was skipped
    assert(finalBands.count() == finalBands.distinct().count(),
      "band table accumulated duplicate rows across the replay")
  }

  test("incremental minhash pairs: crash before the band marker keeps pairs exact") {
    val (got, expect, finalBands) = runP14Replay(withMarker = false)
    // bands duplicated (the documented residual window)…
    assert(finalBands.count() > finalBands.distinct().count(),
      "fixture failed to exercise the duplicate-band window")
    // …but every pair generator dedups per batch, so candidates are
    // still the exact batch set
    assert(got == expect,
      s"duplicated bands corrupted pairs: extra=${got -- expect}, " +
        s"missing=${expect -- got}")
  }

  test("incremental disorder profile: ordered multi-batch fold equals e18 batch") {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("ts"))
    val n = ev.count()
    val cuts = Seq(n / 3, 2 * n / 3)
    val srcDir = tmpDir("graft_p13_src")
    // three INGEST-ORDERED chunks: the file source replays files in
    // modification-time order, which we pin explicitly
    val ranges = Seq(
      ev.filter(col("event_id") <= cuts(0)),
      ev.filter(col("event_id") > cuts(0) && col("event_id") <= cuts(1)),
      ev.filter(col("event_id") > cuts(1)))
    ranges.zipWithIndex.foreach { case (chunk, i) =>
      chunk.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/c$i")
      val f = new java.io.File(s"$srcDir/c$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, s"chunk$i.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      assert(dst.setLastModified(1000000L * (i + 1)))
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "chunk*.parquet").parquet(srcDir)
    val base = tmpDir("graft_p13_spec")
    val got = graft.streaming.Streams
      .incrementalDisorderProfile(stream, base)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_late"),
          r.getAs[Long]("max_disorder_us"),
          r.getAs[Long]("total_disorder_us"))).toMap
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val expect = ev
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("late_us",
        when(max(col("us")).over(w) > col("us"),
          max(col("us")).over(w) - col("us")).otherwise(lit(0L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(when(col("late_us") > 0, 1L)
          .otherwise(0L)).as("nl"),
        max(col("late_us")).as("mx"), sum(col("late_us")).as("tot"))
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("nl"),
          r.getAs[Long]("mx"), r.getAs[Long]("tot"))).toMap
    assert(got == expect, "maintained disorder profile diverges from batch")
    assertMultiBatchRetired(base)
  }

  test("incremental payload signatures: multi-batch fold equals batch dedup") {
    val docs = Tables.load(spark, sfDir, "documents")
    val srcDir = tmpDir("graft_p12_src")
    docs.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p12_spec")
    val model = graft.streaming.Streams.incrementalPayloadSig(stream, base)
    val got = model.collect()
      .map(r => r.getAs[String]("fp") ->
        (r.getAs[Long]("n_copies"), r.getAs[Long]("keeper"))).toMap
    val expect = graft.operators.Multimodal
      .payloadDedup(docs, "doc_id", "text")
      .groupBy("fp").agg(max(col("n_copies")).as("n_copies"),
        min(when(col("keep") === 1L, col("doc_id"))).as("keeper"))
      .collect()
      .map(r => r.getAs[String]("fp") ->
        (r.getAs[Long]("n_copies"), r.getAs[Long]("keeper"))).toMap
    assert(got == expect, "maintained signature table diverges from batch")
    assertMultiBatchRetired(base)
  }

  test("incremental DSIR model: multi-batch fold equals batch counts") {
    val docs = Tables.load(spark, sfDir, "documents")
    val srcDir = tmpDir("graft_p11_src")
    docs.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p11_spec")
    val model = graft.streaming.Streams.incrementalDsirModel(stream, base)
    val got = model.collect()
      .map(r => r.getAs[Long]("b") ->
        (r.getAs[Long]("ct"), r.getAs[Long]("cr"))).toMap
    val isTgt = col("source") === "src0"
    val expect = docs
      .select(col("source"), explode(graft.functions.TextFns.wordNgrams(
        graft.functions.TextFns.tokensLower(col("text")), 2)).as("bgr"))
      .select(col("source"),
        graft.functions.TextFns.featureBucket(col("bgr"), 64).as("b"))
      .groupBy("b").agg(
        sum(when(isTgt, 1L).otherwise(0L)).as("ct"),
        sum(when(isTgt, 0L).otherwise(1L)).as("cr"))
      .collect()
      .map(r => r.getAs[Long]("b") ->
        (r.getAs[Long]("ct"), r.getAs[Long]("cr"))).toMap
    assert(got == expect,
      s"model diverged: ${(expect.toSet -- got.toSet).take(3)}")
    assertMultiBatchRetired(base)
  }

  test("incremental semantic screen: multi-batch replay equals batch d14") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") % 97 =!= 0)
    val eval = emb.filter(col("vec_id") % 97 === 0)
    val srcDir = tmpDir("graft_p08_src")
    corpus.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p08_spec")
    val got = graft.streaming.Streams
      .incrementalSemanticScreen(stream, eval, base, 0.35)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("max_eval_sim"), r.getAs[Long]("contaminated")))
      .toMap
    val expect = graft.operators.Dedup.semanticDecontaminate(
        corpus, eval, col("vec_id"), col("embedding"), 0.35)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("max_eval_sim"), r.getAs[Long]("contaminated")))
      .toMap
    assert(got == expect,
      s"diverged: ${(expect.toSet -- got.toSet).take(3)}")
    val parts = new java.io.File(s"$base/parts").listFiles()
      .map(_.getName).filter(_.startsWith("b"))
    assert(parts.length > 1, s"expected multiple batch parts: ${parts.toSeq}")
  }

  test("incremental span screen: multi-batch replay equals batch probe") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val ext = docs.filter(col("doc_id") % 7 === 0)
    val table = "graft_p09_spec_idx"
    graft.streaming.Streams.dropManagedTable(spark, table)
    try {
      graft.operators.Dedup.writeSpanIndex(
        corpus, col("doc_id"), col("text"), table, w = 8, numBuckets = 8)
      val srcDir = tmpDir("graft_p09_src")
      ext.repartition(3).write.mode("overwrite").parquet(srcDir)
      val stream = spark.readStream.schema(ext.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val base = tmpDir("graft_p09_spec")
      def asMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup"),
            r.getAs[Double]("dup_frac"))).toMap
      val got = asMap(graft.streaming.Streams
        .incrementalSpanScreen(stream, table, base, w = 8))
      val expect = asMap(graft.operators.Dedup.dupSpansFromIndex(
        spark, ext, col("doc_id"), col("text"), table, 8, minCount = 1L))
      assert(got == expect,
        s"diverged: ${(expect.toSet -- got.toSet).take(3)}")
      // at least one external doc shares a corpus window (else the
      // screen isn't discriminating on this fixture)
      assert(got.values.exists(_._2 >= 1L), "no external dup found")
      val parts = new java.io.File(s"$base/parts").listFiles()
        .map(_.getName).filter(_.startsWith("b"))
      assert(parts.length > 1,
        s"expected multiple batch parts: ${parts.toSeq}")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("incremental span rewrite: multi-batch replay equals batch rewrite") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val ext = docs.filter(col("doc_id") % 7 === 0)
    val table = "graft_p10_spec_idx"
    graft.streaming.Streams.dropManagedTable(spark, table)
    try {
      graft.operators.Dedup.writeSpanIndex(
        corpus, col("doc_id"), col("text"), table, w = 8, numBuckets = 8)
      val srcDir = tmpDir("graft_p10_src")
      ext.repartition(3).write.mode("overwrite").parquet(srcDir)
      val stream = spark.readStream.schema(ext.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val base = tmpDir("graft_p10_spec")
      def asMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
            r.getAs[String]("clean_text"))).toMap
      val got = asMap(graft.streaming.Streams
        .incrementalSpanRewrite(stream, table, base, w = 8))
      val expect = asMap(graft.operators.Dedup.rewriteFromIndex(
        spark, ext, col("doc_id"), col("text"), table, 8, minCount = 1L))
      assert(got == expect,
        s"diverged: ${(expect.toSet -- got.toSet).take(3)}")
      // the fixture must actually cut something, or the rewrite
      // isn't discriminating here
      assert(got.values.exists(_._2 >= 1L), "no external span cut")
      val parts = new java.io.File(s"$base/parts").listFiles()
        .map(_.getName).filter(_.startsWith("b"))
      assert(parts.length > 1,
        s"expected multiple batch parts: ${parts.toSeq}")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("incremental IVF index: multi-batch fold equals batch assignment") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    // quantizer frozen on the full corpus; the stream then delivers
    // the same rows in an arbitrary 3-way chunking — frozen-centroid
    // assignment is per-row, so the maintained index must equal the
    // batch build exactly, and re-delivered ids must stay idempotent
    val cents = graft.operators.Similarity
      .trainCentroids(emb, "vec_id", "embedding", 10)
    val srcDir = tmpDir("graft_p05_src")
    emb.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p05_spec")
    val got = graft.streaming.Streams
      .incrementalIvfIndex(stream, cents, base)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val expect = graft.operators.Similarity
      .assignCells(emb, "vec_id", "embedding", cents)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(got == expect)
    // and the frozen-quantizer batch assignment IS kmeansCells' output
    val km = graft.operators.Similarity
      .kmeansCells(emb, "vec_id", "embedding", 10)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(got == km)
    // multi-batch delivery evidence: one LSM part dir per micro-batch
    // (default compactEvery=8 means no compaction ran for 3 batches)
    val parts = new java.io.File(s"$base/parts").listFiles()
      .map(_.getName).filter(_.startsWith("b"))
    assert(parts.length > 1, s"expected multiple batch parts: ${parts.toSeq}")
  }

  test("incremental IVF index: compaction folds parts, result unchanged") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cents = graft.operators.Similarity
      .trainCentroids(emb, "vec_id", "embedding", 10)
    val srcDir = tmpDir("graft_p05c_src")
    emb.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p05c_spec")
    // compactEvery=2 forces at least one compaction across 3 batches
    val got = graft.streaming.Streams
      .incrementalIvfIndex(stream, cents, base, compactEvery = 2)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val expect = graft.operators.Similarity
      .assignCells(emb, "vec_id", "embedding", cents)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(got == expect)
    // compaction evidence: a versioned snapshot exists, the durable
    // pointer names it, and the compacted parts were removed
    val versions = new java.io.File(base).listFiles()
      .map(_.getName).filter(_.startsWith("v"))
    assert(versions.nonEmpty, "expected a compacted snapshot dir")
    val ptr = java.nio.file.Files
      .readString(java.nio.file.Paths.get(base, "_latest")).trim
    assert(versions.map(v => s"$base/$v").contains(ptr), s"pointer $ptr")
    val parts = Option(new java.io.File(s"$base/parts").listFiles())
      .map(_.map(_.getName).count(_.startsWith("b"))).getOrElse(0)
    assert(parts < 3, s"expected compacted parts to be removed, found $parts")
    // and no temp pointer litter beside the pointer (move succeeded)
    val litter = new java.io.File(base).listFiles()
      .map(_.getName).filter(n => n.startsWith("_latest") && n.endsWith(".tmp"))
    assert(litter.isEmpty, s"temp pointer files left behind: ${litter.toSeq}")
  }

  test("fold-state inspection reads pointers/parts/generations without scanning data") {
    import spark.implicits._
    val base = tmpDir("graft_state_cmd")
    // a compacted sub-store (pointer set, parts folded away) ...
    val docsSt = new graft.streaming.LsmState(
      spark, s"$base/docs", identity, compactEvery = 2)
    docsSt.append(0, Seq((1L, "a")).toDF("id", "v"))
    docsSt.append(1, Seq((2L, "b")).toDF("id", "v"))
    docsSt.maybeCompact(1)
    // ... a fresh sub-store (one live part, no snapshot yet) ...
    val pairsSt = new graft.streaming.LsmState(
      spark, s"$base/pairs", identity, compactEvery = 8)
    pairsSt.append(0, Seq((1L, 2L)).toDF("a", "b"))
    // ... and a band index with one marker-guarded append
    val bands = new graft.streaming.BandState(spark, base, Seq("band"))
    bands.append(0, Seq(("x", 1L)).toDF("band", "doc_id"))
    try {
      val rows = graft.streaming.Streams.foldState(spark, base)
        .collect().map(r => r.getString(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val docs = rows("docs")
      assert(docs._1.endsWith("/v1") && docs._2 == 0L && docs._3 == 1L,
        s"docs store misreported: $docs")
      val pairs = rows("pairs")
      assert(pairs._1.isEmpty && pairs._2 == 1L && pairs._3 == 0L,
        s"pairs store misreported: $pairs")
      val band = rows("band_index")
      assert(band._1 == bands.liveTable && band._2 == 1L && band._4 == 1L,
        s"band index misreported: $band")
      // the CLI surface returns the same frame (registry untouched)
      val cli = Cli.run(spark, base, Seq("state", base), _ => ()).get
      assert(cli.collect().length == rows.size)
    } finally bands.drop()
  }

  /** Assert a publishSnapshot-based fold at `base` (1) processed
    * multiple micro-batches — the durable pointer names v<id> with
    * id > 0 — and (2) retired every superseded model snapshot, so
    * exactly the pointed-at version dir remains (one dir per trigger
    * forever would be O(batches) namespace growth). */
  private def assertMultiBatchRetired(base: String): Unit = {
    val ptr = java.nio.file.Files
      .readString(java.nio.file.Paths.get(base, "_latest")).trim
    val name = ptr.substring(ptr.lastIndexOf('/') + 1)
    assert(name.drop(1).toLong > 0, s"expected multiple batches: $ptr")
    val versions = new java.io.File(base).listFiles()
      .map(_.getName).filter(_.startsWith("v")).toSeq
    assert(versions == Seq(name),
      s"superseded snapshots not retired: $versions")
  }

  /** Write `chunks` as single-file id-ordered sources with pinned
    * mtimes (the file source replays in modification-time order) and
    * return the stream + per-chunk row counts. */
  private def orderedChunkStream(
      chunks: Seq[org.apache.spark.sql.DataFrame],
      schema: org.apache.spark.sql.types.StructType,
      prefix: String): (org.apache.spark.sql.DataFrame, Seq[Long]) = {
    val srcDir = tmpDir(prefix)
    val counts = chunks.zipWithIndex.map { case (chunk, i) =>
      chunk.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/c$i")
      val f = new java.io.File(s"$srcDir/c$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, s"chunk$i.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      assert(dst.setLastModified(1000000L * (i + 1)))
      chunk.count()
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "chunk*.parquet").parquet(srcDir)
    (stream, counts)
  }

  test("LSM fold state: per-batch writes carry only that batch's delta") {
    // The round-10 scale contract: an incremental fold's write cost
    // must be O(batch), never an O(corpus) snapshot rewrite. Drive
    // p16 through 3 known-size batches below the compaction cadence
    // and audit the bytes on disk: one part per batch holding exactly
    // that batch's rows, and NO compacted snapshot dir (nothing
    // corpus-sized was written at all).
    val docs = Tables.load(spark, sfDir, "documents")
    val n = docs.select(max(col("doc_id"))).head.getLong(0)
    val chunks = Seq(
      docs.filter(col("doc_id") <= n / 3),
      docs.filter(col("doc_id") > n / 3 && col("doc_id") <= 2 * n / 3),
      docs.filter(col("doc_id") > 2 * n / 3))
    val (stream, counts) = orderedChunkStream(
      chunks, docs.schema, "graft_lsm_obatch_src")
    val base = tmpDir("graft_lsm_obatch")
    graft.streaming.Streams
      .incrementalQualityKeeper(stream, base).collect()
    val partsDir = new java.io.File(s"$base/docs/parts")
    val parts = partsDir.listFiles().map(_.getName)
      .filter(_.startsWith("b")).sorted
    assert(parts.length == 3, s"expected 3 parts: ${parts.toSeq}")
    parts.zip(counts).foreach { case (p, expect) =>
      val got = spark.read.parquet(s"$base/docs/parts/$p").count()
      assert(got == expect,
        s"part $p carries $got rows, its batch delta was $expect — " +
          "the write was not O(batch)")
    }
    val versions = new java.io.File(s"$base/docs").listFiles()
      .map(_.getName).filter(_.startsWith("v"))
    assert(versions.isEmpty,
      s"unexpected snapshot rewrite below the compaction cadence: ${versions.toSeq}")
  }

  test("LSM fold state: compaction folds parts behind the pointer, result unchanged") {
    val docs = Tables.load(spark, sfDir, "documents")
    val srcDir = tmpDir("graft_lsm_compact_src")
    docs.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_lsm_compact")
    // compactEvery=2 forces at least one compaction across 3 batches
    val got = graft.streaming.Streams
      .incrementalQualityKeeper(stream, base, compactEvery = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper_id"),
        r.getAs[Long]("keep")))
      .toSet
    val q = docs.select(col("doc_id"),
      graft.functions.TextFns.textFingerprint(col("text")).as("fp"),
      graft.functions.TextFns.qualityScore(col("text")).as("quality"))
    val w = Window.partitionBy("fp")
      .orderBy(col("quality").desc, col("doc_id"))
    val expect = q
      .select(col("doc_id"), first(col("doc_id")).over(w).as("keeper_id"))
      .select(col("doc_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("keep"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper_id"),
        r.getAs[Long]("keep")))
      .toSet
    assert(got == expect, "compaction changed the folded result")
    // compaction evidence on BOTH sub-states: a versioned snapshot,
    // the durable pointer naming it, compacted parts removed
    Seq("docs", "keepers").foreach { sub =>
      val versions = new java.io.File(s"$base/$sub").listFiles()
        .map(_.getName).filter(_.startsWith("v"))
      assert(versions.nonEmpty, s"$sub: expected a compacted snapshot")
      val ptr = java.nio.file.Files
        .readString(java.nio.file.Paths.get(base, sub, "_latest")).trim
      assert(versions.map(v => s"$base/$sub/$v").contains(ptr),
        s"$sub pointer $ptr")
      val parts = Option(new java.io.File(s"$base/$sub/parts").listFiles())
        .map(_.map(_.getName).count(_.startsWith("b"))).getOrElse(0)
      assert(parts < 3, s"$sub: compacted parts not removed ($parts left)")
    }
  }

  test("fold resumes from its checkpoint: restart processes only new files") {
    // The production restart path: a fold drains today's files, the
    // process exits, tomorrow's file lands, a NEW query instance on
    // the SAME base (checkpoint + durable state) must process ONLY
    // the new file — committed batches replay neither their source
    // reads nor their state writes.
    val docs = Tables.load(spark, sfDir, "documents")
    val n = docs.select(max(col("doc_id"))).head.getLong(0)
    val chunks = Seq(
      docs.filter(col("doc_id") <= n / 3),
      docs.filter(col("doc_id") > n / 3 && col("doc_id") <= 2 * n / 3),
      docs.filter(col("doc_id") > 2 * n / 3))
    val srcDir = tmpDir("graft_resume_src")
    def land(i: Int): Unit = {
      chunks(i).coalesce(1).write.mode("overwrite").parquet(s"$srcDir/c$i")
      val f = new java.io.File(s"$srcDir/c$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, s"chunk$i.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      assert(dst.setLastModified(1000000L * (i + 1)))
    }
    land(0); land(1)
    val base = tmpDir("graft_resume")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "chunk*.parquet").parquet(srcDir)
    graft.streaming.Streams
      .incrementalQualityKeeper(stream(), base).collect()
    val partsAfterFirst = new java.io.File(s"$base/docs/parts")
      .listFiles().map(_.getName).filter(_.startsWith("b")).sorted
    assert(partsAfterFirst.sameElements(Array("b0", "b1")),
      s"first run parts: ${partsAfterFirst.toSeq}")
    // tomorrow's file lands; a fresh query instance resumes
    land(2)
    val got = graft.streaming.Streams
      .incrementalQualityKeeper(stream(), base)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper_id"),
        r.getAs[Long]("keep")))
      .toSet
    val partsAfterResume = new java.io.File(s"$base/docs/parts")
      .listFiles().map(_.getName).filter(_.startsWith("b")).sorted
    assert(partsAfterResume.sameElements(Array("b0", "b1", "b2")),
      s"resume must add exactly batch 2: ${partsAfterResume.toSeq}")
    assert(spark.read.parquet(s"$base/docs/parts/b2").count() ==
      chunks(2).count(),
      "the resumed batch's part must carry only the new file's rows")
    // and the resumed state equals the batch election over everything
    val q = docs.select(col("doc_id"),
      graft.functions.TextFns.textFingerprint(col("text")).as("fp"),
      graft.functions.TextFns.qualityScore(col("text")).as("quality"))
    val w = Window.partitionBy("fp")
      .orderBy(col("quality").desc, col("doc_id"))
    val expect = q
      .select(col("doc_id"), first(col("doc_id")).over(w).as("keeper_id"))
      .select(col("doc_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("keep"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper_id"),
        r.getAs[Long]("keep")))
      .toSet
    assert(got == expect, "resumed fold diverged from the batch election")
  }

  test("band fold resumes from its checkpoint: cross-restart pairs still discovered") {
    // Same restart path for a band-accumulating fold: the band table
    // and markers must survive the query instance, so a pair whose
    // members arrive on OPPOSITE sides of the restart is still found.
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    val chunks = Seq(
      docs.filter(col("doc_id") <= n / 2),
      docs.filter(col("doc_id") > n / 2))
    val srcDir = tmpDir("graft_resume14_src")
    def land(i: Int): Unit = {
      chunks(i).coalesce(1).write.mode("overwrite").parquet(s"$srcDir/c$i")
      val f = new java.io.File(s"$srcDir/c$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, s"chunk$i.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      assert(dst.setLastModified(1000000L * (i + 1)))
    }
    land(0)
    val base = tmpDir("graft_resume14")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "chunk*.parquet").parquet(srcDir)
    graft.streaming.Streams
      .incrementalMinhashPairs(stream(), base).collect()
    land(1)
    val got = graft.streaming.Streams
      .incrementalMinhashPairs(stream(), base)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    val expect = graft.operators.Dedup
      .minHashCandidatePairs(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    assert(got == expect,
      s"cross-restart pairs diverge: extra=${(got -- expect).take(3)}, " +
        s"missing=${(expect -- got).take(3)}")
    // the restart really was incremental: exactly one pairs part per batch
    val parts = new java.io.File(s"$base/pairs/parts").listFiles()
      .map(_.getName).filter(_.startsWith("b")).sorted
    assert(parts.sameElements(Array("b0", "b1")), s"parts: ${parts.toSeq}")
    // dead replay markers are pruned: only the latest batch's remains
    val marks = new java.io.File(s"$base/band_marks").listFiles()
      .map(_.getName).filter(_.startsWith("b")).sorted
    assert(marks.sameElements(Array("b1")), s"markers: ${marks.toSeq}")
    new graft.streaming.BandState(
      spark, base, Seq("band", "band_hash")).drop()
  }

  test("graph fold compacts mid-stream: pruned snapshot still yields exact s16 + d11") {
    // compactEvery=2 over 3 batches forces a compaction of the edge
    // state THROUGH the threshold-retaining prune — the
    // merge-and-truncate monoid claim (prune(prune(A) ∪ B) =
    // prune(A ∪ B)) exercised for real: the final graph and the
    // dedup verdict must still match their batch twins exactly.
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val srcDir = tmpDir("graft_p18c_src")
    emb.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p18c_spec")
    val kView = graft.streaming.Streams
      .incrementalKnnGraph(stream, base, k = 5,
        keepThreshold = Some(0.3), compactEvery = 2)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("nbr_id")))
      .toSet
    // a graph compaction really happened
    val versions = new java.io.File(s"$base/graph").listFiles()
      .map(_.getName).filter(_.startsWith("v"))
    assert(versions.nonEmpty, "expected a compacted graph snapshot")
    val s16 = graft.operators.Similarity
      .knnGraphBucketed(emb, "vec_id", "embedding", k = 5)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("nbr_id")))
      .toSet
    assert(kView == s16,
      s"compacted graph diverges from batch s16: " +
        s"extra=${(kView -- s16).take(3)}, missing=${(s16 -- kView).take(3)}")
    val got = graft.streaming.Streams
      .graphClusterVerdict(spark, base, 0.3)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id")))
      .toSet
    val expect = graft.operators.Dedup
      .embeddingClusterDedup(emb, col("vec_id"), col("embedding"), 0.3)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id")))
      .toSet
    assert(got == expect,
      s"compacted-state verdict diverges from batch d11: " +
        s"${(got -- expect).take(3)} vs ${(expect -- got).take(3)}")
    // the band table compacted too: the generation pointer names a
    // _c table, generation 0 is dropped, and the live generation's
    // file count is bounded by buckets + appends since compaction
    // (not O(batches x buckets))
    val bands = new graft.streaming.BandState(spark, base, Seq("tbl", "bkt"))
    val gen0 = graft.streaming.BandState.tableName(base)
    val live = bands.liveTable
    assert(live.startsWith(s"${gen0}_c"),
      s"band generation pointer did not advance: $live")
    assert(!spark.catalog.tableExists(gen0),
      "superseded band generation 0 was not dropped")
    assert(bands.scan().get.count() > 0, "live band generation unreadable")
    bands.drop()
    assert(!spark.catalog.tableExists(live) &&
      !new java.io.File(s"$base/band_gen").exists(),
      "drop() left band generations or the pointer behind")
  }

  test("one-pass model suite (p19): every maintained model equals its batch twin") {
    val docs = Tables.load(spark, sfDir, "documents")
    val srcDir = tmpDir("graft_p19_src")
    docs.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p19_spec")
    val models = graft.streaming.Streams
      .incrementalModelSuite(stream, base)
    // char-LM counts == batch bigram training
    val lm = models("char_lm").collect()
      .map(r => r.getAs[String]("bg") -> r.getAs[Long]("nb")).toMap
    val lmExpect = graft.streaming.Streams.lmDelta(docs).collect()
      .map(r => r.getAs[String]("bg") -> r.getAs[Long]("nb")).toMap
    assert(lm == lmExpect, "suite LM diverges from batch")
    // DF counts == batch derivation, doc count exact
    val df = models("doc_freq").collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("df")).toMap
    val dfExpect = graft.streaming.Streams.dfDelta(docs).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("df")).toMap
    assert(df == dfExpect, "suite DF diverges from batch")
    assert(models("doc_count").head.getAs[Long]("n") == docs.count())
    // DSIR buckets == batch counts
    val ds = models("dsir").collect()
      .map(r => r.getAs[Long]("b") ->
        (r.getAs[Long]("ct"), r.getAs[Long]("cr"))).toMap
    val dsExpect = graft.streaming.Streams
      .dsirDelta(docs, "src0", 64).collect()
      .map(r => r.getAs[Long]("b") ->
        (r.getAs[Long]("ct"), r.getAs[Long]("cr"))).toMap
    assert(ds == dsExpect, "suite DSIR diverges from batch")
    // signature groups == batch
    val sg = models("payload_sig").collect()
      .map(r => r.getAs[String]("fp") ->
        (r.getAs[Long]("n_copies"), r.getAs[Long]("keeper"))).toMap
    val sgExpect = graft.streaming.Streams.sigDelta(docs, 32).collect()
      .map(r => r.getAs[String]("fp") ->
        (r.getAs[Long]("n_copies"), r.getAs[Long]("keeper"))).toMap
    assert(sg == sgExpect, "suite signatures diverge from batch")
    // keeper election == batch (champion per fingerprint)
    val kp = models("keeper_champs").collect()
      .map(r => r.getAs[String]("fp") ->
        r.getAs[org.apache.spark.sql.Row]("m").getAs[Long]("id")).toMap
    val kpExpect = graft.streaming.Streams
      .keeperChamps(graft.streaming.Streams.keeperDocs(docs)).collect()
      .map(r => r.getAs[String]("fp") ->
        r.getAs[org.apache.spark.sql.Row]("m").getAs[Long]("id")).toMap
    assert(kp == kpExpect, "suite keeper election diverges from batch")
    // the suite really ran multi-batch AND as ONE streaming query
    // (one checkpoint; one part per batch per model)
    val lmParts = new java.io.File(s"$base/lm/parts").listFiles()
      .map(_.getName).filter(_.startsWith("b"))
    assert(lmParts.length == 3, s"expected 3 batches: ${lmParts.toSeq}")
    assert(new java.io.File(s"$base/ckpt").exists(),
      "expected a single shared checkpoint")
  }

  test("p19 manifest covers all seven models with oracle-derivable counts") {
    val got = graft.streaming.Streams
      .streamingModelSuite(spark, sfDir)
      .collect()
      .map(r => r.getAs[String]("model") -> r.getAs[Long]("n_rows"))
      .toMap
    assert(got.keySet == Set("char_lm", "doc_freq", "dsir",
      "payload_sig", "quality_keeper", "disorder", "knn_graph_vecs"),
      s"manifest models: ${got.keySet}")
    // the two non-document members carry the counts their oracles
    // re-derive: one disorder row per event type, one vector-state
    // row per ingested embedding
    val nTypes = Tables.load(spark, sfDir, "events")
      .select("event_type").distinct().count()
    val nVecs = Tables.load(spark, sfDir, "embeddings").count()
    assert(got("disorder") == nTypes,
      s"disorder rows ${got("disorder")} != distinct types $nTypes")
    assert(got("knn_graph_vecs") == nVecs,
      s"graph vec state ${got("knn_graph_vecs")} != embeddings $nVecs")
  }

  test("LsmState: _folded manifest masks leftover parts after a compaction crash") {
    import spark.implicits._
    val root = tmpDir("graft_lsm_manifest")
    val st = new graft.streaming.LsmState(
      spark, root, identity, compactEvery = 2)
    st.append(0, Seq((1L, "a")).toDF("id", "v"))
    st.append(1, Seq((2L, "b")).toDF("id", "v"))
    st.maybeCompact(1)
    // the snapshot's manifest names the folded parts
    val ptr = java.nio.file.Files
      .readString(java.nio.file.Paths.get(root, "_latest")).trim
    val manifest = java.nio.file.Files
      .readString(java.nio.file.Paths.get(ptr, "_folded"))
      .split("\n").toSet
    assert(manifest == Set("b0", "b1"), s"manifest: $manifest")
    // simulate the crash window: compaction died after the pointer
    // move but before part cleanup — a folded part is still on disk
    Seq((2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$root/parts/b1")
    assert(st.result().count() == 2L,
      "manifest-listed leftover part was double-presented")
    // live unfolded parts still contribute…
    st.append(2, Seq((3L, "c")).toDF("id", "v"))
    assert(st.result().count() == 3L)
    // …and the next compaction subsumes leftover + live parts
    st.maybeCompact(3)
    assert(st.result().count() == 3L)
    val parts = Option(new java.io.File(s"$root/parts").listFiles())
      .map(_.map(_.getName).count(_.startsWith("b"))).getOrElse(0)
    assert(parts == 0, s"compaction left $parts parts behind")
  }

  test("incremental graph-cluster dedup (p18): maintained-graph verdict equals batch d11") {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val srcDir = tmpDir("graft_p18_src")
    emb.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = tmpDir("graft_p18_spec")
    // ONE maintained graph state serves both views: the fold runs
    // with threshold retention…
    val kView = graft.streaming.Streams
      .incrementalKnnGraph(stream, base, k = 5, keepThreshold = Some(0.3))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("nbr_id")))
      .toSet
    // …the dedup verdict from the retained above-threshold edges
    // equals batch d11 exactly…
    val got = graft.streaming.Streams
      .graphClusterVerdict(spark, base, 0.3)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("keep")))
      .toSet
    val expect = graft.operators.Dedup
      .embeddingClusterDedup(emb, col("vec_id"), col("embedding"), 0.3)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("keep")))
      .toSet
    assert(got == expect,
      s"graph verdict diverges from batch d11: extra=${(got -- expect).take(3)}, " +
        s"missing=${(expect -- got).take(3)}")
    // …and the rank ≤ k view is still the exact batch s16 graph
    // (threshold retention must not perturb the top-k)
    val s16 = graft.operators.Similarity
      .knnGraphBucketed(emb, "vec_id", "embedding", k = 5)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("nbr_id")))
      .toSet
    assert(kView == s16,
      s"threshold retention perturbed the k-NN view: " +
        s"extra=${(kView -- s16).take(3)}, missing=${(s16 -- kView).take(3)}")
  }

  test("graphFold threshold prune equals the windowed rank<=k OR sim>t form") {
    import spark.implicits._
    // dense cluster: node 1 has 40 above-threshold edges (every one
    // must survive, well past k); node 2 straddles (2 above, k fills
    // from below); node 3 all below threshold (pure top-k); ties on
    // sim broken by nbr_id exactly as the heap's total order
    val edges = (
      (1 to 40).map(i => (1L, 100L + i, 0.9 - i * 0.001)) ++
      Seq((2L, 201L, 0.8), (2L, 202L, 0.75)) ++
      (1 to 8).map(i => (2L, 210L + i, 0.2)) ++
      (1 to 8).map(i => (3L, 300L + i, 0.25 - i * 0.01))
    ).toDF("vec_id", "nbr_id", "sim")
    val k = 5
    val t = 0.3
    val got = graft.streaming.Streams.graphFold(k, Some(t))(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("nbr_id"))
    val expect = edges.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k || col("sim") > t)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))).toSet
    assert(got == expect,
      s"extra=${(got -- expect).take(5)}, missing=${(expect -- got).take(5)}")
    // sanity on the fixture's intent
    assert(got.count(_._1 == 1L) == 40, "above-threshold edges truncated")
    assert(got.count(_._1 == 2L) == 5, "straddling node must hold rank<=k")
    assert(got.count(_._1 == 3L) == 5, "below-threshold node is pure top-k")
  }
}
