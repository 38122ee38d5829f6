package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType


/** The run-to-completion harness every query in [[Streams]] goes
  * through. It owns the plumbing the folds share, so each fold states
  * only its per-batch delta:
  *   - [[drain]]: start → `processAllAvailable` → stop, the stop also
  *     on the failure path;
  *   - [[run]]: the `foreachBatch` wiring — checkpoint at
  *     `$base/ckpt`, query named `graft_<key>_<uuid>`;
  *   - [[driver]]/[[tempBase]]/[[tableStream]]: the driver-side temp
  *     base, the parquet-table file source, and the stream partition
  *     scope of the `streamingX` drivers;
  *   - [[latest]]/[[snapshot]]: the `_latest` pointer of the
  *     small-state snapshot folds. */
private[graft] object Fold {

  /** Start `w`, drain everything its source has available, stop. The
    * stop runs when the drain throws too: a failing trigger reaches
    * the caller (wrapped by Spark in a StreamingQueryException) and
    * leaves no active query behind. */
  def drain(w: DataStreamWriter[Row]): Unit = {
    val q = w.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** [[drain]] with the query's checkpoint at `$base/ckpt`. */
  def drain(w: DataStreamWriter[Row], base: String): Unit =
    drain(w.option("checkpointLocation", s"$base/ckpt"))

  /** Fold `stream` to completion: `trigger(batch, batchId)` runs once
    * per micro-batch, the checkpoint lives at `$base/ckpt` and the
    * query is named `graft_<key>_<uuid>` — the prefix listeners and
    * the benchmark attribute triggers by. */
  def run(stream: DataFrame, base: String, key: String)(
      trigger: (DataFrame, Long) => Unit): Unit =
    drain(stream.writeStream
      .foreachBatch((b: Dataset[Row], id: Long) => trigger(b.toDF(), id))
      .queryName(s"graft_${key}_${java.util.UUID.randomUUID()}"), base)

  /** [[run]] for a fold whose whole state is the one [[LsmState]]
    * `st` at `base`: each batch appends `delta(batch, id)` as its
    * part, then compacts when due. Returns the folded state. */
  def appendFold(stream: DataFrame, base: String, key: String,
      st: LsmState)(delta: (DataFrame, Long) => DataFrame): DataFrame = {
    run(stream, base, key) { (batch, id) =>
      st.append(id, delta(batch, id))
      st.maybeCompact(id)
    }
    st.result()
  }

  /** Drain `df` into the memory table `name` (an earlier run's query
    * of that name still active is stopped first) and return the
    * table. */
  def toMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val spark = df.sparkSession
    spark.streams.active.filter(_.name == name).foreach(_.stop())
    drain(df.writeStream.outputMode(mode).format("memory").queryName(name))
    spark.table(name)
  }

  // bases handed out by tempBase, deleted by one JVM-exit hook
  private lazy val doomed = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
    sys.addShutdownHook(dirs.forEach(d =>
      { org.apache.hadoop.fs.FileUtil.fullyDelete(d); () }))
    dirs
  }

  /** A fresh `graft_<key>*` state base under `java.io.tmpdir`, unique
    * per call: a fixed shared path would let two concurrent JVMs
    * (Verify + sbt test on one box) delete each other's live
    * checkpoint and commit logs mid-stream. The base is deleted
    * recursively at JVM shutdown — not sooner, because the folds'
    * results are lazy reads of it. */
  def tempBase(key: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$key").toFile
    doomed.add(dir)
    dir.toString
  }

  /** The `streamingX` driver scope: a [[tempBase]] for `body` to fold
    * under, with the stream partition count at 8
    * ([[withStreamPartitions]]) for the whole drain. */
  def driver[A](spark: SparkSession, key: String)(body: String => A): A =
    withStreamPartitions(spark, 8)(body(tempBase(key)))

  /** The parquet table `<name>.parquet` under `dir` as a file stream
    * (the source wants a directory; the glob filter selects the one
    * table out of the shared data dir). `schema` defaults to the
    * table's own. */
  def tableStream(spark: SparkSession, dir: String, name: String,
      schema: Option[StructType] = None): DataFrame =
    spark.readStream
      .schema(schema.getOrElse(
        spark.read.parquet(s"$dir/$name.parquet").schema))
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set
    * for a STREAMING query, restoring the session value after. A
    * streaming query pins its state-store partition count from this
    * conf at first start and every micro-batch then opens/commits one
    * state file per partition per stateful operator — a batch-tuned
    * 32+ costs dozens of tiny state commits per trigger for
    * verification-sized streams. Deployments sizing state for real
    * volume would set this themselves; the pinned count lives in the
    * query's own checkpoint either way. */
  def withStreamPartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** The snapshot a small-state fold under `base` last published
    * (its `_latest` pointer), if any. */
  def latest(spark: SparkSession, base: String): Option[String] =
    StateIO.readString(StateIO.fs(spark, base), s"$base/_latest")
      .map(_.trim).filter(_.nonEmpty)

  /** [[latest]], required: a drained fold that never published. */
  def snapshot(spark: SparkSession, base: String): String =
    latest(spark, base).getOrElse(
      sys.error("no snapshot: stream produced no batches and none recorded"))
}


/** Structured Streaming jobs over the graft tables, every one run
  * through the [[Fold]] harness:
  *   - queries drain to completion (all available input, then stop)
  *     over the bounded parquet directory, so the same code path
  *     serves the batch oracle check and a continuous deployment
  *     (swap the sink, drop the drain);
  *   - a checkpointed query keeps its checkpoint at `$base/ckpt`,
  *     beside the fold state it maintains under `base`;
  *   - `foreachBatch` folds are named `graft_<key>_<uuid>` (`p03`,
  *     `p15`, …): listeners and the benchmark key triggers on that
  *     prefix; memory-sink queries are named by their result table;
  *   - the stream partition count is set by the `streamingX` drivers
  *     ([[Fold.driver]]: 8, session-scoped for the whole drain), and
  *     re-sized per trigger by the folds whose batch cost scales with
  *     its size ([[quadraticParts]], [[rowParts]]); the `incrementalX`
  *     folds inherit whatever the caller's session sets.
  */
object Streams {
  import Fold.withStreamPartitions

  /** Shuffle-partition count for a candidate-QUADRATIC micro-batch
    * (the LSH pair folds): a batch of n vectors examines
    * ~n²/2^planes · tables within-batch candidates, so the right
    * parallelism scales with the batch's PAIR mass, not its row
    * count — the stream wrapper's small constant (sized so that many
    * tiny micro-batches don't drown in task overhead) serializes a
    * corpus-sized batch's scoring onto a handful of cores (measured:
    * the one-batch sf1.0 p15 fold spent ~47 s in an 8-task top-k
    * aggregate whose 32-task batch twin takes a quarter of that).
    * Uniform-bucket estimate is a LOWER bound (skew only concentrates
    * pairs); one task per ~4M candidate occurrences, clamped between
    * the session's configured stream parallelism and the core
    * count. */
  private def quadraticParts(spark: SparkSession, rows: Long,
      numTables: Int, planesPerTable: Int): Int = {
    val base = spark.conf.get("spark.sql.shuffle.partitions", "8").toInt
    val cores = spark.sparkContext.defaultParallelism
    val est = rows.toDouble * rows / (1L << planesPerTable) *
      numTables / 2.0
    math.max(base, math.min(cores, math.ceil(est / 4e6).toInt))
  }

  /** Shuffle-partition count for a row-LINEAR compute-heavy
    * micro-batch (the tokenize/ngram/hash document folds): one task
    * per ~16k rows, clamped between the session's configured stream
    * parallelism (so many tiny micro-batches keep their small-task
    * constant) and the core count. Same rationale as
    * [[quadraticParts]] with a linear cost model: a corpus-sized
    * catch-up batch must not run its per-row transforms at the tiny
    * constant sized for steady-state trickle batches (measured on the
    * p19 one-batch sf1.0 drain: the 7-model delta extraction spent
    * 7-8 s per pass in 8-task stages on a 32-core box). */
  private def rowParts(
      spark: SparkSession, rows: Long, costWeight: Int = 1): Int = {
    val base = spark.conf.get("spark.sql.shuffle.partitions", "8").toInt
    val cores = spark.sparkContext.defaultParallelism
    // costWeight scales the per-row work estimate: a trigger running
    // SEVEN model extractions over one cached batch (p19) does ~7× a
    // single fold's per-row CPU, so its per-task row target shrinks
    // by the same factor — the wall clock is bounded by the heaviest
    // model's task count, not the aggregate throughput
    math.max(base,
      math.min(cores, math.ceil(rows * costWeight.toDouble / 16e3).toInt))
  }

  /** Round-robin repartition a micro-batch to the session's shuffle
    * parallelism before compute-heavy per-row transforms (tokenize /
    * ngram explode / hashing). A small-file source (one file = one
    * split = ONE task) would otherwise run the whole batch's
    * transform on a single core — measured 8.3s → 1.6s on the p11
    * fold at sf0.1. The shuffle moves only the narrow input rows
    * (KBs at test scale); at 100 TB multi-file sources already
    * split, and the repartition then just evens out skewed splits
    * ahead of the CPU-bound stage. */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "8").toInt)

  /** Run independent per-model state actions (part appends,
    * compactions) CONCURRENTLY within one trigger. A multi-model
    * fold otherwise pays one full Spark-job latency per model per
    * trigger in sequence — the p19 suite's seven appends were ~6
    * job launches + FS round-trips run back to back (the verdict's
    * measured 33.5 s at sf1.0); submitting them together bounds the
    * trigger by the SLOWEST model instead of the sum. Each action
    * writes its own part directory, so ordering between them never
    * mattered — a crash mid-parallel leaves the same
    * some-parts-written window the serial order had, and the batch-id
    * overwrite keyed replay (append's mode("overwrite")) heals both
    * identically (replay specs). Failures propagate: the first
    * exception aborts the trigger exactly as a serial throw would. */
  private def runParallel(tasks: Seq[() => Unit]): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      tasks.length)
    try {
      val futures = tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = t()
        }))
      futures.foreach(_.get()) // rethrows the first failure
    } finally pool.shutdown()
  }

  /** Publish batch `id`'s snapshot version: run `write` into
    * `out = $base/v<id>`, then move the `$base/_latest` pointer —
    * UNLESS the pointer already names `out`. That
    * happens exactly when the batch replays after its pointer move
    * but before its checkpoint commit (the crash window every
    * foreachBatch fold here shares): the fold is already durable, so
    * the replay must be a NO-OP — re-running it would read from and
    * overwrite the published path (Spark rejects that) and, for
    * count-monoid folds, double-count the replayed batch. Because
    * every fold is lazy until `write` fires, skipping the write
    * skips the whole recompute.
    *
    * Used by the SMALL-state folds only (p04/p07/p11/p12/p13:
    * |alphabet²|-, vocabulary-, dim-, |signatures|- or |types|-row
    * models) where rewriting the snapshot per batch IS O(batch)-ish
    * because the state is bounded. Corpus-sized state goes through
    * [[LsmState]], whose per-batch writes are O(batch) by
    * construction. */
  private def publishSnapshot(
      spark: SparkSession, base: String, id: Long, retain: Int = 0)(
      write: String => Unit): Unit = {
    val (latestFile, out) = (s"$base/_latest", s"$base/v$id")
    val fs = StateIO.fs(spark, latestFile)
    val current = StateIO.readString(fs, latestFile)
      .map(_.trim).getOrElse("")
    if (current != out) {
      write(out)
      StateIO.writeStringAtomic(spark, fs, latestFile, out)
    }
    // retire superseded model snapshots (the same sweep LsmState's
    // compaction runs): each is small, but one dir PER TRIGGER is
    // O(batches) namespace growth — a year of 1-minute triggers is
    // ~500k dirs on whatever filesystem holds the state. write(out)
    // fully materialized the new snapshot (reading the predecessor
    // happened during that write), so the predecessor is dead — to
    // the FOLD. A deployment with DETACHED readers (a consumer that
    // resolved the pointer and is still scanning the previous
    // snapshot when this trigger lands) sets retain >= 1 for a grace
    // window, the same escape hatch LsmState documents. The sweep
    // runs on the skip path too: a batch replaying after its own
    // pointer move still reaps whatever a pre-crash run left.
    StateIO.retireVersions(fs, base, s"v$id", retain)
  }

  /** Load the events stream. Schema-adaptive like [[graft.Tables.load]]:
    * `ts` has shipped both as TIMESTAMP(NANOS) (surfaced as int64 via
    * the legacy conf, truncated to micros here) and as plain parquet
    * timestamp (used directly; NTZ cast to the session-UTC timestamp).
    * The batch-side sniff via Tables.loadEvents decides which, so the
    * stream always emits a TimestampType `ts`. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // batch-side sniff first: it sets the legacy nanos conf when the
    // data needs it, so the raw schema read below succeeds either way
    graft.Tables.load(spark, dir, "events")
    val raw = Fold.tableStream(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Tumbling-window counts with a watermark, run to completion on a
    * memory sink. Late data past the watermark would be dropped in a
    * live run; on a replay of a bounded directory the result equals
    * the batch group-by (that equality IS the oracle check). */
  def tumblingCounts(
      spark: SparkSession,
      dir: String,
      windowDur: String = "1 day",
      watermark: String = "1 hour"): DataFrame = {
    val counts = withStreamPartitions(spark, 8) {
      Fold.toMemory(windowCounts(spark, dir, windowDur, watermark),
        "graft_e04_tumbling", OutputMode.Complete())
    }
    counts.select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("day", "event_type")
  }

  /** The watermarked tumbling-window (event type) counts behind
    * [[tumblingCounts]] and [[tumblingCountsToFiles]]. */
  private def windowCounts(spark: SparkSession, dir: String,
      windowDur: String, watermark: String): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"))

  /** PRODUCTION sink shape: tumbling counts in Append mode + watermark
    * written to a parquet FILE SINK with a checkpoint — the
    * exactly-once deployment path (the sink's _spark_metadata commit
    * log makes partial batch output invisible to readers; the
    * checkpoint makes restarts resume, not recompute). Run to
    * completion on the bounded directory, then the committed files are
    * read back as the result.
    *
    * Append semantics are the REAL difference from [[tumblingCounts]]'
    * Complete-mode memory sink: a window is emitted only once the
    * watermark passes its end, so the final (still-open) window is
    * withheld — the oracle applies the same cutoff
    * (window end ≤ max(ts) − watermark). */
  def tumblingCountsToFiles(
      spark: SparkSession,
      dir: String,
      windowDur: String = "1 day",
      watermark: String = "1 hour"): DataFrame = {
    val name = "graft_e08_filesink"
    spark.streams.active.filter(_.name == name).foreach(_.stop())
    // per-invocation unique sink/checkpoint (Fold.tempBase)
    val base = Fold.driver(spark, "e08") { base =>
      val agg = windowCounts(spark, dir, windowDur, watermark)
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("total_value"))
      Fold.drain(agg.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", s"$base/sink").queryName(name),
        base)
      base
    }
    spark.read.parquet(s"$base/sink").orderBy("day", "event_type")
  }

  /** Stream-stream INNER join with a time-range condition: each
    * purchase joined to the same user's clicks in the preceding
    * `windowMinutes`. Both sides carry watermarks, which bound the
    * join state Spark must retain (clicks older than the range +
    * watermark are evicted) — the production-shape attribution join.
    * On a bounded replay an inner join emits exactly the batch-join
    * matches, which is the oracle. */
  def purchaseAttribution(
      spark: SparkSession,
      dir: String,
      windowMinutes: Int = 60): DataFrame = {
    val ev = eventsStream(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("c_ts") <= col("p_ts"))
    withStreamPartitions(spark, 8) {
      Fold.toMemory(joined.select(col("p_id"), col("c_id")),
        "graft_e09_join", OutputMode.Append())
    }.orderBy("p_id", "c_id")
  }

  /** Streaming deduplication — `dropDuplicatesWithinWatermark` over a
    * key: the production event-dedup shape whose per-key state the
    * watermark can actually expire (plain dropDuplicates without the
    * event-time key grows state forever). Output is the KEY COLUMNS
    * ONLY so the result
    * is a deterministic set (which non-key columns survive a
    * first-wins dedup depends on partition arrival order); the oracle
    * is batch SELECT DISTINCT. */
  def streamingDedup(
      spark: SparkSession,
      dir: String,
      keys: Seq[String] = Seq("user_id", "event_type")): DataFrame = {
    withStreamPartitions(spark, 8) {
      Fold.toMemory(eventsStream(spark, dir)
        .withWatermark("ts", "1 hour")
        .select(col("ts") +: keys.map(col): _*)
        .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
        .select(keys.map(col): _*), "graft_e10_dedup", OutputMode.Append())
    }.orderBy(keys.map(col): _*)
  }

  /** PRODUCTION upsert sink: a foreachBatch CDC merge maintaining a
    * "latest event per user" parquet snapshot — the streaming MERGE
    * pattern on plain parquet, LSM-shaped ([[LsmState]]): each
    * micro-batch reduces to one row per key (the O(batch) delta) and
    * APPENDS it as a part; every `compactEvery` batches the parts
    * fold into a compacted snapshot behind an atomic pointer. Readers
    * fold (compacted ∪ parts) through the same latest-wins window —
    * latest-per-key is a commutative monoid, so the fold order never
    * matters. Swap in Delta/Iceberg MERGE on a real deployment, same
    * plan shape — the point here is the WRITE cost: O(batch) per
    * trigger, O(state) only 1/compactEvery of the time, where the
    * round-9 form rewrote the whole snapshot every batch.
    *
    * The final state equals the batch "latest per key" query over
    * the whole input regardless of how the stream was chunked into
    * micro-batches — that invariant IS the oracle (and StreamsSpec
    * drives a forced multi-batch replay through the same merge). */
  def upsertLatestOf(
      stream: DataFrame, base: String, compactEvery: Int = 8): DataFrame = {
    def latestPerUser(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    val st = new LsmState(
      stream.sparkSession, base, latestPerUser, compactEvery)
    Fold.appendFold(stream, base, "upsert", st)((batch, _) =>
      latestPerUser(batch))
  }

  /** p03: incremental corpus cleaning — the decontaminate →
    * exact-dedup front of the corpus pipeline (p02's first two
    * stages) maintained INCREMENTALLY over a document stream, the
    * shape of a production ingest that cleans each day's crawl
    * without rescanning the accepted corpus. Per micro-batch:
    * word-8-gram overlap flags against the STATIC benchmark set
    * (broadcast-sized grams), contaminated docs dropped, keep the
    * min doc_id per text fingerprint WITHIN the batch, anti-join the
    * batch survivors against the accumulated accepted-fingerprint
    * snapshot, append (versioned snapshot dirs + atomic pointer, the
    * same durable-state pattern as [[upsertLatestOf]]).
    *
    * Cross-batch the rule is first-arrival-wins; with the file
    * source's in-order replay that equals the batch keep-min-id
    * dedup, so the final snapshot equals the one-shot batch
    * decontaminate → dedup over the whole input regardless of
    * micro-batch chunking (forced multi-file replay in
    * StreamsSpec; DuckDB re-derives the batch form as the oracle).
    *
    * Storage is [[LsmState]]: each batch writes ONLY its newly
    * accepted rows (anti-joined against the current accepted-fp view,
    * EXCLUDING its own part so a checkpoint replay recomputes the
    * identical delta rather than rejecting itself) — O(batch) per
    * trigger where the round-9 form rewrote the whole accepted corpus
    * every batch. Parts are fp-disjoint by construction, so the fold
    * is the identity. */
  def incrementalClean(
      stream: DataFrame,
      benchmark: DataFrame,
      base: String,
      n: Int = 8,
      compactEvery: Int = 8): DataFrame = {
    // identity fold: parts are fp-disjoint by the anti-join below,
    // and the _folded manifest keeps compaction crash windows from
    // double-presenting a part — no defensive dedup shuffle at read
    val st = new LsmState(
      stream.sparkSession, base, identity, compactEvery)
    Fold.appendFold(stream, base, "p03", st) { (batch, id) =>
      val b = spread(batch)
      val flags = graft.operators.Dedup.decontaminate(
        b, benchmark, col("doc_id"), col("text"), n)
      val clean = b.join(
        flags.filter(col("n_overlap") === 0).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val withFp = clean.select(col("doc_id"), col("source"),
        md5(lower(trim(col("text")))).as("fp"))
      val w = Window.partitionBy("fp").orderBy("doc_id")
      val keepB = withFp.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      st.view(except = Some(id)) match {
        case None => keepB
        case Some(v) =>
          keepB.join(v.select("fp"), Seq("fp"), "left_anti")
      }
    }
  }

  /** [[incrementalClean]] over the documents table: corpus =
    * doc_id % 20 != 0 streamed, benchmark = doc_id % 20 == 0 static
    * (the same split as d10/p02). */
  def streamingCleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    Fold.driver(spark, "p03") { base =>
      incrementalClean(
        Fold.tableStream(spark, dir, "documents")
          .filter(col("doc_id") % 20 =!= 0),
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 20 === 0),
        base)
    }.orderBy("doc_id")
  }

  /** p06: the FULL incremental preprocess chain — [[incrementalClean]]'s
    * decontaminate → exact-dedup front EXTENDED with the per-doc
    * finishing stages of the batch pipeline: quality scoring (t02's
    * length/stopword features) and PII redaction (n07's shared
    * cross-engine patterns), both computed inside the micro-batch on
    * that batch's accepted survivors only. Per-row finishing commutes
    * with the dedup, but the dedup itself is FIRST-ARRIVAL-WINS: when
    * two docs share a fingerprint, the one in the earlier batch
    * survives. The final snapshot therefore equals the one-shot batch
    * chain decontaminate → dedup → score → redact under ORDERED
    * replay — batches covering the corpus in ascending doc_id order,
    * the same contract as p13's disorder profile (replay spec in
    * StreamsSpec; whole-chain DuckDB oracle); an adversarial chunking
    * that reorders duplicate fingerprints across batches may elect a
    * different (higher-id) survivor. Scoring cost is O(batch survivors)
    * per trigger — accepted docs are never re-scored, which is the
    * point at 100 TB: the expensive per-doc finishing runs once per
    * document over the corpus's whole ingest lifetime. */
  def incrementalCleanScore(
      stream: DataFrame,
      benchmark: DataFrame,
      base: String,
      n: Int = 8,
      compactEvery: Int = 8): DataFrame = {
    // LSM state as p03: each part carries only that batch's accepted
    // + finished rows, fp-disjoint across parts (the anti-join runs
    // against the own-part-excluded view) — identity fold, the
    // _folded manifest covers the compaction crash window
    val st = new LsmState(
      stream.sparkSession, base, identity, compactEvery)
    def trunc4(c: org.apache.spark.sql.Column) = floor(c * 10000) / 10000
    Fold.appendFold(stream, base, "p06", st) { (batch, id) =>
      val b = spread(batch)
      val flags = graft.operators.Dedup.decontaminate(
        b, benchmark, col("doc_id"), col("text"), n)
      val clean = b.join(
        flags.filter(col("n_overlap") === 0).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val withFp = clean.select(col("doc_id"), col("source"), col("text"),
        md5(lower(trim(col("text")))).as("fp"))
      val w = Window.partitionBy("fp").orderBy("doc_id")
      val keepB = withFp.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      // finishing stages, batch-survivors only: t02's quality score
      // and n07's inject-then-redact (both pure per-row functions)
      val injected = when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-123-4567")))
        .otherwise(col("text"))
      val scored = keepB
        .select(col("doc_id"), col("source"), col("fp"),
          graft.functions.TextFns.tokensLower(col("text")).as("__toks"),
          length(col("text")).as("__len"), injected.as("__t"))
        .select(col("doc_id"), col("source"), col("fp"),
          trunc4(least(lit(1.0), col("__len") / 500.0) *
            (lit(0.7) + lit(0.3) *
              (graft.functions.TextFns.wordSetHits(col("__toks"),
                Seq("the", "a", "and", "of", "to", "in")) /
                size(col("__toks"))))).as("quality"),
          size(regexp_extract_all(col("__t"),
            lit(graft.functions.TextFns.EmailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("__t"),
            lit(graft.functions.TextFns.PhoneRe), lit(0)))
            .cast("long").as("n_phones"),
          graft.functions.TextFns.redactPii(col("__t")).as("redacted"))
      st.view(except = Some(id)) match {
        case None => scored
        case Some(v) =>
          scored.join(v.select("fp"), Seq("fp"), "left_anti")
      }
    }
  }

  /** [[incrementalCleanScore]] over the documents table: the same
    * corpus/benchmark split as p03 (doc_id % 20), finished columns
    * ordered for the oracle. */
  def streamingScoredCorpus(spark: SparkSession, dir: String): DataFrame = {
    Fold.driver(spark, "p06") { base =>
      incrementalCleanScore(
        Fold.tableStream(spark, dir, "documents")
          .filter(col("doc_id") % 20 =!= 0),
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 20 === 0),
        base)
    }.select(col("doc_id"), col("source"), col("quality"),
        col("n_emails"), col("n_phones"), col("redacted"))
      .orderBy("doc_id")
  }


  // ---------------------------------------------------------------
  // Per-batch MODEL DELTAS, shared by the standalone folds
  // (p04/p07/p11/p12/p16) and the one-pass model suite (p19) so the
  // two paths can never drift apart (the BandingConfig lesson).
  // Each is a pure function of the batch frame: the monoid fold over
  // deltas reproduces the batch model under any chunking.
  // ---------------------------------------------------------------

  /** t12's char-bigram counts (length guard: sequence(1, 0) counts
    * DOWN, a 0/1-char doc must contribute nothing). */
  private[graft] def lmDelta(df: DataFrame): DataFrame =
    df.select(lower(trim(col("text"))).as("t"))
      .select(explode(expr(
        """CASE WHEN length(t) >= 2
          |  THEN transform(sequence(1, length(t) - 1),
          |    i -> substr(t, i, 2))
          |  ELSE array() END""".stripMargin)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("nb"))

  /** t13's distinct-(doc, token) document-frequency counts. */
  private[graft] def dfDelta(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(array_distinct(
        graft.functions.TextFns.tokensLower(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))

  /** t22's hashed-bigram target/raw counts (DSIR features). */
  private[graft] def dsirDelta(
      df: DataFrame, targetSource: String, dim: Int): DataFrame = {
    val isTgt = col("source") === targetSource
    df.select(col("source"), explode(graft.functions.TextFns.wordNgrams(
        graft.functions.TextFns.tokensLower(col("text")), 2)).as("bgr"))
      .select(col("source"),
        graft.functions.TextFns.featureBucket(col("bgr"), dim).as("b"))
      .groupBy("b").agg(
        sum(when(isTgt, 1L).otherwise(0L)).as("ct"),
        sum(when(isTgt, 0L).otherwise(1L)).as("cr"))
  }

  /** m05's payload-signature group delta (copies + keeper). */
  private[graft] def sigDelta(
      df: DataFrame, prefixBytes: Int): DataFrame =
    df.select(col("doc_id").cast("long").as("doc_id"),
        graft.operators.Multimodal.Md5PrefixDecoder(prefixBytes)
          .fingerprint(encode(col("text"), "UTF-8")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("keeper"))

  /** d20's scored docs: (doc_id, fingerprint, quality). */
  private[graft] def keeperDocs(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      graft.functions.TextFns.textFingerprint(col("text")).as("fp"),
      graft.functions.TextFns.qualityScore(col("text")).as("quality"))

  /** d20's per-fingerprint champion (max-by monoid: min of
    * (-quality, doc_id) structs). */
  private[graft] def keeperChamps(docs: DataFrame): DataFrame =
    docs.groupBy("fp")
      .agg(min(struct((-col("quality")).as("nq"),
        col("doc_id").as("id"))).as("m"))

  /** p04: incremental LM model maintenance — the char-bigram counts
    * behind t12's fluency score folded over a document stream via
    * foreachBatch. Bigram counts form a commutative monoid (merge =
    * sum per bigram), so folding a day's delta into the stored model
    * is exact: the final model EQUALS the batch-trained model over
    * the whole corpus with no rescan, regardless of micro-batch
    * chunking. At 100 TB the corpus scan IS the training cost — this
    * is the shape that amortizes it across ingest days. State is
    * ≤ alphabet² rows (versioned dirs + atomic pointer, as e14). */
  def incrementalLmModel(stream: DataFrame, base: String): DataFrame = {
    val spark = stream.sparkSession
    Fold.run(stream, base, "p04") { (batch, id) =>
      val big = lmDelta(spread(batch))
      val merged = Fold.latest(spark, base) match {
        case None => big
        case Some(p) =>
          spark.read.parquet(p).unionByName(big)
            .groupBy("bg").agg(sum(col("nb")).as("nb"))
      }
      // the model is bounded by alphabet² rows at ANY corpus scale,
      // so a single snapshot file is correct even at 100 TB — and
      // avoids an 8-tiny-file write+list+read roundtrip per batch
      publishSnapshot(spark, base, id) { out =>
        merged.coalesce(1).write.mode("overwrite").parquet(out)
      }
    }
    spark.read.parquet(Fold.snapshot(spark, base))
  }

  /** [[incrementalLmModel]] over the documents table, finished with
    * per-prefix totals and the conditional probability column — the
    * full model a scorer would broadcast. */
  def streamingLmModel(spark: SparkSession, dir: String): DataFrame = {
    val model = Fold.driver(spark, "p04") { base =>
      incrementalLmModel(Fold.tableStream(spark, dir, "documents"), base)
    }
    val pc = model.groupBy(substring(col("bg"), 1, 1).as("p"))
      .agg(sum(col("nb")).as("np"))
    model.join(pc, substring(col("bg"), 1, 1) === col("p"))
      .select(col("bg"), col("nb"), col("np"),
        (floor(col("nb") / col("np") * 10000) / 10000).as("prob"))
      .orderBy("bg")
  }

  /** p07: incremental DOCUMENT-FREQUENCY model maintenance — the
    * (token, df) counts plus the corpus doc count folded over a
    * document stream. Both are commutative monoids (df merge = sum
    * per token, N merge = sum), so the maintained model EQUALS the
    * batch-derived one under any chunking — and df is the state
    * behind BOTH the corpus-derived stopword list (t13: df/N > 0.5)
    * and TF-IDF's idf (t08): maintain it once at ingest, derive
    * either report without a corpus rescan. State is vocabulary-
    * sized: (token, df) rows + a one-row doc count (versioned dirs +
    * atomic pointer, as p04). */
  def incrementalDfModel(stream: DataFrame, base: String): DataFrame = {
    val spark = stream.sparkSession
    Fold.run(stream, base, "p07") { (batch, id) =>
      val b = spread(batch)
      val delta = dfDelta(b)
      val nDelta = b.agg(count(lit(1)).as("n"))
      val (model, meta) = Fold.latest(spark, base) match {
        case None => (delta, nDelta)
        case Some(p) =>
          (spark.read.parquet(s"$p/model").unionByName(delta)
            .groupBy("token").agg(sum(col("df")).as("df")),
            spark.read.parquet(s"$p/meta").unionByName(nDelta)
              .agg(sum(col("n")).as("n")))
      }
      publishSnapshot(spark, base, id) { out =>
        model.write.mode("overwrite").parquet(s"$out/model")
        meta.write.mode("overwrite").parquet(s"$out/meta")
      }
    }
    val snap = Fold.snapshot(spark, base)
    spark.read.parquet(s"$snap/model")
      .crossJoin(broadcast(spark.read.parquet(s"$snap/meta")))
  }

  /** p11: incremental DSIR feature-model maintenance — t22's hashed-
    * bigram target/raw counts folded per micro-batch: the per-bucket
    * (ct, cr) pair is a monoid (sums), so the maintained model equals
    * the batch aggregate under ANY chunking (replay spec). This is
    * the piece of DSIR that makes it deployable at ingest: unlike
    * t21's vocabulary-sized LM, the hashed model is BOUNDED at `dim`
    * rows by construction (the paper's point), so scoring new docs is
    * a map-side broadcast of the current snapshot — no corpus rescan,
    * no vocabulary shuffle. Versioned dirs + atomic pointer. */
  def incrementalDsirModel(
      stream: DataFrame,
      base: String,
      targetSource: String = "src0",
      dim: Int = 64): DataFrame = {
    val spark = stream.sparkSession
    Fold.run(stream, base, "p11") { (batch, id) =>
      // cache before the sizing count (shared source read), and
      // size the trigger by the batch's row mass: the bigram
      // explode + feature hash is ~4 token-folds of per-row CPU,
      // and a corpus-sized catch-up batch at the trickle constant
      // ran the whole extraction on 8 of 32 cores
      val raw = batch.cache()
      try {
        val bs = raw.sparkSession
        withStreamPartitions(bs, rowParts(bs, raw.count(), costWeight = 4)) {
          val delta = dsirDelta(spread(raw), targetSource, dim)
          val merged = Fold.latest(spark, base) match {
            case None => delta
            case Some(p) =>
              spark.read.parquet(p).unionByName(delta)
                .groupBy("b")
                .agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))
          }
          // bounded at dim rows at ANY corpus scale: single-file
          // snapshot, same rationale as the p04 LM model
          publishSnapshot(spark, base, id) { out =>
            merged.coalesce(1).write.mode("overwrite").parquet(out)
          }
        }
      } finally raw.unpersist(blocking = false)
    }
    spark.read.parquet(Fold.snapshot(spark, base))
  }

  /** [[incrementalDsirModel]] over the documents table, finished as
    * the deployable scoring model: per-bucket add-1-smoothed
    * likelihood ratio from the maintained counts (t22's arithmetic,
    * derived at read time from the monoid state). */
  def streamingDsirModel(spark: SparkSession, dir: String): DataFrame = {
    val model = Fold.driver(spark, "p11") { base =>
      incrementalDsirModel(Fold.tableStream(spark, dir, "documents"), base)
    }
    val tots = model.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    model.crossJoin(broadcast(tots))
      .select(col("b"), col("ct"), col("cr"),
        (floor(((col("ct") + 1) * (col("tr") + 64)).cast("double") /
          ((col("cr") + 1) * (col("tt") + 64)) * 1000000) / 1000000)
          .as("ratio"))
      .orderBy("b")
  }

  /** [[incrementalDfModel]] over the documents table, finished as the
    * t13 stopword report (df/N > 0.5) — the maintained model must
    * reproduce the batch-derived list exactly. */
  def streamingStopwords(spark: SparkSession, dir: String): DataFrame = {
    Fold.driver(spark, "p07") { base =>
      incrementalDfModel(Fold.tableStream(spark, dir, "documents"), base)
    }.filter(col("df") / col("n").cast("double") > 0.5)
      .select(col("token"), col("df"),
        (floor(col("df") / col("n").cast("double") * 10000) / 10000)
          .as("doc_frac"))
      .orderBy("token")
  }

  /** p14: incremental MinHash-LSH candidate discovery — d02's band
    * index maintained at ingest: each micro-batch's docs are banded
    * once (O(batch) hashing), probed against the ACCUMULATED band
    * table for cross-batch collisions (bucket-bounded equi-join),
    * self-joined for within-batch ones, then appended to the index.
    * A pair is discovered exactly when its LATER member arrives, so
    * the accumulated pair set equals the batch d02 pairs under ANY
    * chunking (replay spec) — near-dup candidates stream out at
    * ingest and the corpus is never re-banded.
    *
    * State, both sides O(batch) per write:
    *   - bands: ONE bucketed table on the probe key `(band,
    *     band_hash)` ([[BandState]]), APPENDED per batch — the
    *     cross-probe's stored side scans bucketed (zero index-side
    *     exchange, plan-asserted in StreamsSpec) and the write is the
    *     batch's own band rows only.
    *   - pairs: [[LsmState]] parts — each batch's newly discovered
    *     pairs (deduped WITHIN the batch only: a pair is discovered
    *     exactly once globally, in its later member's batch, so no
    *     cross-batch distinct is ever needed), compacted 1/compactEvery.
    *
    * Replay-idempotent: the pairs part overwrites by batch id; the
    * band append is marker-guarded. A replaying batch sees its own
    * pre-crash bands in the table — the probe then finds each
    * within-batch pair twice (self-join + cross), which the per-batch
    * distinct collapses, so the rewritten part is identical. */
  def incrementalMinhashPairs(
      stream: DataFrame,
      base: String,
      compactEvery: Int = 8): DataFrame = {
    val spark = stream.sparkSession
    // identity fold: a pair is discovered exactly once (in its later
    // member's batch) and deduped within that batch, so parts are
    // disjoint; the _folded manifest covers compaction crashes
    val pairsSt = new LsmState(spark, s"$base/pairs", identity, compactEvery)
    val bands = new BandState(spark, base, Seq("band", "band_hash"))
    Fold.run(stream, base, "p14") { (batch, id) =>
      val b = spread(batch)
      // cache (lazy): within-batch self-join (both sides) and the
      // band append all read this frame — uncached, the batch pays
      // its MinHash signatures 3x
      val newBands = graft.operators.Dedup.minHashBandTable(
        b, col("doc_id"), col("text")).cache()
      val within = {
        val a = newBands.alias("a")
        val bb = newBands.alias("b")
        a.join(bb, col("a.band") === col("b.band") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      }
      val cross = bands.scan().map { ob =>
        newBands.alias("n").join(ob.alias("o"),
            col("n.band") === col("o.band") &&
              col("n.band_hash") === col("o.band_hash") &&
              col("n.doc_id") =!= col("o.doc_id"))
          .select(least(col("n.doc_id"), col("o.doc_id")).as("a_id"),
            greatest(col("n.doc_id"), col("o.doc_id")).as("b_id"))
      }
      val newPairs = cross.map(within.unionByName(_)).getOrElse(within)
        .distinct()
      // pairs part FIRST (it executes the lazy cross-probe against
      // the band table as it stood BEFORE this batch), bands after;
      // compactions touch disjoint state and overlap
      pairsSt.append(id, newPairs)
      bands.append(id, newBands)
      runParallel(Seq(
        () => pairsSt.maybeCompact(id),
        () => bands.maybeCompact(id, compactEvery)))
      newBands.unpersist(blocking = false)
    }
    pairsSt.result()
  }

  /** [[incrementalMinhashPairs]] over the documents table — the
    * maintained pair set must equal d02's batch candidates exactly
    * (rows-only key; the equality IS the replay spec). Short-lived
    * wrapper, so the fold's band table is dropped once the result no
    * longer needs it (the pairs live in parquet parts); a production
    * fold on a stable base keeps the table and resumes it. */
  def streamingMinhashPairs(spark: SparkSession, dir: String): DataFrame = {
    Fold.driver(spark, "p14") { base =>
      val pairs = incrementalMinhashPairs(
        Fold.tableStream(spark, dir, "documents"), base)
      new BandState(spark, base, Seq("band", "band_hash")).drop()
      pairs
    }.orderBy("a_id", "b_id")
  }

  /** Per-node graph prune — the [[LsmState]] fold for the maintained
    * k-NN graph: collapse crash-window duplicates (a (vec_id, nbr_id)
    * edge exists once globally — its pair was scored exactly once —
    * so duplicates are identical rows), then keep each node's top-k
    * edges by (sim desc, nbr_id) — the SAME total order as the
    * bounded-heap [[graft.operators.Similarity.topKAgg]], so the
    * folded graph ties out against the batch s16 build — plus, when
    * `keepThreshold` is set, EVERY edge above the threshold. The
    * threshold retention is what makes the maintained graph serve
    * dedup as well as ANN browsing: top-k truncation alone could drop
    * an above-threshold edge from a high-degree node, and the
    * cluster verdict derived from the graph would silently diverge
    * from the batch pair set (p18's equality needs every
    * above-threshold edge).
    *
    * Both prunes are merge-and-truncate monoids under the
    * deterministic order: prune(prune(A) ∪ B) = prune(A ∪ B) — any
    * globally-kept edge survives every intermediate prune (top-k:
    * it is top-k in every subset containing it; threshold: kept
    * unconditionally). */
  private[graft] def graphFold(k: Int, keepThreshold: Option[Double],
      dedupEdges: Boolean = false)(
      edges: DataFrame): DataFrame = keepThreshold match {
    case None =>
      // plain top-k: the bounded-heap aggregate — k-row state,
      // map-side partials, no per-node sort of the full edge set.
      // At compaction/read the edges are globally unique per
      // (vec_id, nbr_id) — each pair is scored once, and the _folded
      // manifest keeps compaction crashes from re-presenting a part.
      // The dedupEdges = true form serves the per-BATCH pre-prune
      // (see incrementalKnnGraph), whose bucket-local candidate
      // stream carries one bit-equal row per shared LSH table: the
      // id-deduping heap collapses those without an exchange.
      edges.groupBy(col("vec_id"))
        .agg(graft.operators.Similarity
          .topKAgg(col("sim"), col("nbr_id"), k, dedupEdges).as("top"))
        .select(col("vec_id"), posexplode(col("top")))
        .select(col("vec_id"), col("col.id").as("nbr_id"),
          col("col.score").as("sim"))
    case Some(t) =>
      // retention prune: keep rank ≤ k OR sim > t — ONE bounded-state
      // aggregate pass ([[graft.operators.Similarity.thresholdTopKAgg]]):
      // per node, every above-threshold edge is retained (dedup'd by
      // neighbor when dedupEdges — duplicates are bit-equal) alongside
      // a k-bounded heap of the sim ≤ t edges, and the eval emits the
      // heap's best k − h where h = the node's above-threshold degree
      // (under the (sim desc, nbr_id) order every above-threshold edge
      // outranks every sim ≤ t edge, so a sim ≤ t edge survives iff
      // its heap position < k − h). Identical output to the windowed
      // form (equality spec in StreamsSpec). This replaced a
      // three-reader plan (above filter ∪ degree join ∪ below top-k)
      // whose shared candidate input had to be PERSISTED per trigger —
      // a ~10⁸-row columnar cache at sf1.0 whose build/decode, not the
      // scoring, dominated the fold (round-13 stage profile); the
      // one-pass aggregate consumes the scored stream exactly once,
      // un-cached, with per-node state = own output mass + k.
      edges.groupBy(col("vec_id"))
        .agg(graft.operators.Similarity
          .thresholdTopKAgg(col("sim"), col("nbr_id"), k, t, dedupEdges)
          .as("top"))
        .select(col("vec_id"), explode(col("top")).as("e"))
        .select(col("vec_id"), col("e.id").as("nbr_id"),
          col("e.score").as("sim"))
  }

  /** The banded trigger p15 ([[incrementalKnnGraph]]) and p17
    * ([[incrementalEmbPairs]]) share. Per micro-batch the vectors are
    * hyperplane-banded ONCE, scored `within` the batch from the
    * banded rows, and probed against the ACCUMULATED band table for
    * cross-batch candidates, each scored once against the stored
    * vector state; `finish(within, cross)` turns the two scored
    * streams into the batch's `out` part (p15: pruned symmetrized
    * edges; p17: thresholded pairs). The batch's vectors and band
    * rows then append to the `vecs` and band state.
    *
    * State, every per-batch write O(batch): bands ([[BandState]], an
    * appended bucketed table on the `(tbl, bkt)` probe key — zero
    * index-side exchange in the cross-probe, plan-asserted), vecs
    * ([[LsmState]] parts, identity fold: one row per vec_id,
    * delivered once; the _folded manifest covers compaction crashes)
    * and `out`. */
  private def bandedFold(
      stream: DataFrame, base: String, key: String, out: LsmState,
      numTables: Int, planesPerTable: Int, dim: Int, seed: Long,
      compactEvery: Int)(
      within: DataFrame => DataFrame)(
      finish: (DataFrame, Option[DataFrame]) => DataFrame): Unit = {
    val spark = stream.sparkSession
    val vecsSt = new LsmState(spark, s"$base/vecs", identity, compactEvery)
    val bands = new BandState(spark, base, Seq("tbl", "bkt"))
    Fold.run(stream, base, key) { (batch, id) =>
      // cache BEFORE the sizing count: quadraticParts needs the
      // batch row count up front, and an uncached count would read
      // and compute the batch source one extra time per trigger
      // just to size the shuffle — the cache lets sizing and
      // processing share one source read (unpersisted at batch end)
      val raw = batch.cache()
      try {
        val bs = raw.sparkSession
        val parts = quadraticParts(bs, raw.count(), numTables,
          planesPerTable)
        withStreamPartitions(bs, parts) {
          val b = spread(raw)
          val newVecs = b.select(col("vec_id"), col("embedding").as("v"))
          // cache (lazy): within scoring (both tile sides), cross
          // probe, and band append all read this frame — uncached,
          // the batch pays its hyperplane projections 4x. Vectors
          // ride the band rows (bandedWithVecs) so the WITHIN-batch
          // candidates are scored bucket-locally — no exchange
          // carries a candidate pair — and the id-only band rows for
          // the stored probe layout flow from the same cache.
          val bandedV = graft.operators.Similarity.bandedWithVecs(
            b, "vec_id", "embedding", numTables, planesPerTable, dim,
            seed, spread = false).cache()
          // eager materialization: the scoring plan reads bandedV
          // from several concurrent stages; a lazy cache lets each
          // recompute the projection pass before any commits it
          // (same race as bucketLocalScoredPairs, measured there)
          bandedV.count()
          val newBands = bandedV.select(col("vec_id"), col("tbl"),
            col("bkt"))
          val withinScored = within(bandedV)
          // cross-batch candidates: the batch side carries its vector
          // on the band row, so only the STORED side needs a vector
          // fetch (one join against the accumulated vec state instead
          // of two). One row per shared bucket — `finish` absorbs the
          // duplicates.
          val storedVecs = vecsSt.view(except = Some(id))
          val crossScored = bands.scan().flatMap { ob =>
            storedVecs.map { sv =>
              bandedV.alias("n").join(ob.alias("o"),
                  col("n.tbl") === col("o.tbl") &&
                    col("n.bkt") === col("o.bkt") &&
                    col("n.vec_id") =!= col("o.vec_id"))
                .select(
                  least(col("n.vec_id"), col("o.vec_id")).as("a_id"),
                  greatest(col("n.vec_id"), col("o.vec_id")).as("b_id"),
                  col("n.v").as("nv"), col("o.vec_id").as("o_id"))
                .join(sv.select(col("vec_id").as("o_id"),
                  col("v").as("ov")), "o_id")
                .select(col("a_id"), col("b_id"),
                  graft.operators.Similarity.cosine(col("nv"), col("ov"))
                    .as("sim"))
            }
          }
          // `out` part FIRST: it executes every read of the PRE-batch
          // band/vec state (the lazy cross-probe); the remaining two
          // appends touch disjoint state and overlap (runParallel —
          // the p19 trigger treatment), as do the three compactions
          out.append(id, finish(withinScored, crossScored))
          runParallel(Seq(
            () => vecsSt.append(id, newVecs),
            () => bands.append(id, newBands)))
          runParallel(Seq(
            () => out.maybeCompact(id),
            () => vecsSt.maybeCompact(id),
            () => bands.maybeCompact(id, compactEvery)))
          bandedV.unpersist(blocking = false)
        }
      } finally raw.unpersist(blocking = false)
    }
  }

  /** p15: incremental k-NN GRAPH maintenance — s16's corpus-wide
    * neighbor graph folded at ingest: each micro-batch's vectors are
    * hyperplane-banded once, probed against the ACCUMULATED band
    * table for cross-batch candidate pairs (bucket-bounded
    * equi-join) and self-joined within the batch, each new pair is
    * scored ONCE (codegen cosine against the accumulated vector
    * state), symmetrized, and appended as edges. A pair is
    * discovered exactly when its later member arrives, and the
    * per-node prune ([[graphFold]]) is a commutative monoid under
    * merge-and-truncate, so the maintained graph EQUALS the batch
    * [[graft.operators.Similarity.knnGraphBucketed]] under ANY
    * chunking — new data refines existing nodes' neighbor lists
    * without ever rescoring old pairs.
    *
    * State, every per-batch write O(batch):
    *   - bands: ONE bucketed table on the `(tbl, bkt)` probe key
    *     ([[BandState]], appended; zero index-side exchange in the
    *     cross-probe, plan-asserted);
    *   - vecs: [[LsmState]] parts (the batch's vectors);
    *   - graph: [[LsmState]] parts carrying the batch's new
    *     symmetrized edges; compaction folds them into the pruned
    *     per-node lists 1/compactEvery of the time.
    *
    * `keepThreshold` retains all edges above the threshold alongside
    * the top-k (see [[graphFold]]) — the dedup-serving variant p18
    * reads ([[streamingGraphClusterDedup]]). */
  def incrementalKnnGraph(
      stream: DataFrame,
      base: String,
      k: Int = 5,
      numTables: Int = 12,
      planesPerTable: Int = 4,
      dim: Int = 64,
      seed: Long = 42L,
      keepThreshold: Option[Double] = None,
      compactEvery: Int = 8): DataFrame = {
    val graphSt = new LsmState(stream.sparkSession, s"$base/graph",
      graphFold(k, keepThreshold), compactEvery)
    bandedFold(stream, base, "p15", graphSt, numTables, planesPerTable,
        dim, seed, compactEvery)(
      // WITHIN-batch edges, pre-pruned INSIDE the scorer (r15): the
      // fused partial scorer keeps per-node retention buffers in
      // the Σm² cell loop — the batch's full scored pair stream is
      // never emitted, symmetrized, or shuffled (it was the fold
      // trigger's dominant stage: ~85 of 178 CPU-s at sf1.0).
      // Output-identical by the fold monoid: prune(prune(W) ∪ C) =
      // prune(W ∪ C) — graphFold's scaladoc.
      graft.operators.Similarity.symEdgesFromBanded(_, k, keepThreshold,
        maxBucketRows = 2048)) { (withinSym, crossScored) =>
      // cross edges symmetrize (explode both directions from the
      // single scored row); the within-batch side arrives already
      // symmetrized and pre-pruned from the fused scorer
      val crossSym = crossScored.map(_
        .select(explode(array(
          struct(col("a_id").as("vec_id"), col("b_id").as("nbr_id"),
            col("sim")),
          struct(col("b_id").as("vec_id"), col("a_id").as("nbr_id"),
            col("sim")))).as("e"))
        .select(col("e.vec_id"), col("e.nbr_id"), col("e.sim")))
      // Per-batch PRE-PRUNE before the part write: the fold is a
      // merge-and-truncate monoid (prune(prune(A) ∪ B) =
      // prune(A ∪ B) — see graphFold), so appending the batch's
      // pruned edges yields the same folded graph while the part
      // shrinks from candidate-sized (every scored pair, ~Θ(Σ m²)
      // rows per batch) to output-sized (k per touched node plus
      // above-threshold edges). dedupEdges collapses the
      // bucket-local stream's one-row-per-shared-table duplicates
      // inside the same bounded heaps. BOTH fold forms are now a
      // single aggregate pass over the scored stream (the threshold
      // form's one-pass retention aggregate replaced the persisted
      // three-reader plan — see graphFold), so the scoring join
      // runs exactly once with no per-trigger candidate cache.
      graphFold(k, keepThreshold, dedupEdges = true)(
        crossSym.map(withinSym.unionByName(_)).getOrElse(withinSym))
    }
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("nbr_id"))
    graphSt.result()
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** [[incrementalKnnGraph]] over the embeddings table, finished in
    * s16's column order — the maintained graph must reproduce the
    * batch [[graft.operators.Similarity.knnGraphBucketed]] exactly
    * (rows-only key; the equality IS the replay spec). */
  def streamingKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    Fold.driver(spark, "p15") { base =>
      val graph = incrementalKnnGraph(
        Fold.tableStream(spark, dir, "embeddings"), base)
      new BandState(spark, base, Seq("tbl", "bkt")).drop()
      graph
    }.select(col("vec_id"), col("rank"), col("nbr_id"),
        (floor(col("sim") * 10000) / 10000).as("sim"))
      .orderBy("vec_id", "rank")
  }

  /** p18: incremental GRAPH-CLUSTER dedup — d11's SemDeDup verdict
    * derived from p15's MAINTAINED k-NN graph rather than p17's pair
    * re-discovery: the fold runs with `keepThreshold` retention
    * ([[graphFold]]), so every above-threshold edge survives the
    * per-node prune; at read time the retained edges above the
    * threshold ARE d11's exact pair set (same LSH candidates, same
    * codegen cosine — bit-equal comparisons), and CC leaders over
    * them reproduce the batch
    * [[graft.operators.Dedup.embeddingClusterDedup]] verdict exactly
    * (equality replay spec in StreamsSpec). The CC fixpoint itself
    * still runs at read — clustering is global, one new edge can
    * merge two clusters, so labels cannot fold — but the corpus-sized
    * hashing + scoring never re-runs, and the graph state serves ANN
    * browsing (rank ≤ k) and dedup (sim > threshold) from ONE
    * maintained structure. */
  def streamingGraphClusterDedup(
      spark: SparkSession, dir: String,
      threshold: Double = 0.3, k: Int = 5): DataFrame = {
    val base = Fold.driver(spark, "p18") { base =>
      incrementalKnnGraph(Fold.tableStream(spark, dir, "embeddings"), base,
        k = k, keepThreshold = Some(threshold))
      new BandState(spark, base, Seq("tbl", "bkt")).drop()
      base
    }
    graphClusterVerdict(spark, base, threshold)
  }

  /** The read-time half of p18, separated so specs can re-derive the
    * verdict from an existing fold base: threshold-prune the
    * maintained graph state, recover undirected pairs (each edge is
    * stored in both directions — keep vec_id < nbr_id), CC leaders,
    * one keeper per cluster, singletons keep themselves (d11's exact
    * output shape). */
  def graphClusterVerdict(
      spark: SparkSession, base: String, threshold: Double): DataFrame = {
    // identity readers: the state was maintained with the
    // threshold-retaining fold, so every above-threshold edge is
    // present (a prune here would be redundant) and edges/vecs are
    // globally unique — the filter below selects exactly d11's pairs
    clusterVerdict(spark, base,
      new LsmState(spark, s"$base/graph", identity).result()
        .filter(col("sim") > threshold && col("vec_id") < col("nbr_id"))
        .select(col("vec_id").as("a_id"), col("nbr_id").as("b_id")))
  }

  /** d11's verdict over the fold's vector state under `base`: CC
    * leaders over the (a_id, b_id) `pairs`, one keeper per cluster,
    * singletons keep themselves. */
  private def clusterVerdict(
      spark: SparkSession, base: String, pairs: DataFrame): DataFrame = {
    val leaders = graft.operators.Dedup.clusterLeaders(pairs)
      .select(col("doc_id").as("vec_id"), col("leader_id"))
    new LsmState(spark, s"$base/vecs", identity).result()
      .select(col("vec_id"))
      .join(leaders, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("leader_id"), col("vec_id")).as("cluster_id"),
        (coalesce(col("leader_id"), col("vec_id")) === col("vec_id"))
          .cast("long").as("keep"))
      .orderBy("vec_id")
  }

  /** p17: incremental embedding near-dup PAIR discovery — the
    * expensive half of d11's SemDeDup-shape cluster dedup maintained
    * at ingest: per batch, vectors hyperplane-banded once, probed
    * against the ACCUMULATED band table (bucket-bounded equi-join) +
    * within-batch self-join, each NEW candidate pair cosine-scored
    * once against the accumulated vector snapshot, survivors above
    * the threshold appended to the stored pair set. A pair is
    * discovered exactly when its later member arrives (p14's
    * argument), so the accumulated thresholded pairs equal the batch
    * [[graft.operators.Dedup.embeddingNearDupPairsBucketed]] set
    * under ANY chunking. Clustering itself is a GLOBAL property (one
    * new edge can merge two existing clusters), so labels cannot
    * fold incrementally — the CC fixpoint runs at read time over the
    * accumulated LSH-pruned pair set ([[streamingClusterDedup]]);
    * what never re-runs is the corpus-sized hashing + scoring.
    *
    * State, every per-batch write O(batch): bands ([[BandState]],
    * appended bucketed table on the `(tbl, bkt)` probe key — zero
    * index-side exchange in the cross-probe), vecs and pairs
    * ([[LsmState]] parts; pairs are discovered exactly once, so the
    * fold's distinct only covers crash windows). */
  def incrementalEmbPairs(
      stream: DataFrame,
      base: String,
      threshold: Double,
      numTables: Int = 12,
      planesPerTable: Int = 4,
      dim: Int = 64,
      seed: Long = 42L,
      compactEvery: Int = 8): DataFrame = {
    // identity fold (pairs discovered once + per-batch distinct;
    // _folded manifest covers crashes)
    val pairsSt = new LsmState(
      stream.sparkSession, s"$base/pairs", identity, compactEvery)
    bandedFold(stream, base, "p17", pairsSt, numTables, planesPerTable,
        dim, seed, compactEvery)(
      // WITHIN-batch survivors, filtered INSIDE the scorer (r15):
      // only (a_id, b_id) above the threshold leave the cell loop —
      // the batch's scored pair stream is never emitted (same
      // output: the filter below distributes over the union)
      graft.operators.Similarity.thresholdSurvivorsFromBanded(_, threshold,
        maxBucketRows = 2048)) { (withinSurv, crossScored) =>
      // threshold FIRST, dedup after: the filter runs inside the
      // scoring loop (within-batch) / stage (cross), so the
      // distinct that absorbs the one-row-per-shared-table
      // duplicates is OUTPUT-sized — the previous shape deduped the
      // full candidate id-pair set before it ever scored a row
      crossScored.map(_.filter(col("sim") > threshold)
          .select(col("a_id"), col("b_id")))
        .map(withinSurv.unionByName(_)).getOrElse(withinSurv)
        .distinct()
    }
    pairsSt.result()
  }

  /** [[incrementalEmbPairs]] over the embeddings table, finished as
    * d11's verdict: CC leaders over the maintained pair set, one
    * keeper per cluster, singletons keep themselves — must reproduce
    * the batch [[graft.operators.Dedup.embeddingClusterDedup]]
    * exactly (rows-only key; the equality IS the replay spec). */
  def streamingClusterDedup(spark: SparkSession, dir: String): DataFrame = {
    val (base, pairs) = Fold.driver(spark, "p17") { base =>
      val pairs = incrementalEmbPairs(
        Fold.tableStream(spark, dir, "embeddings"), base, threshold = 0.3)
      new BandState(spark, base, Seq("tbl", "bkt")).drop()
      (base, pairs)
    }
    clusterVerdict(spark, base, pairs.select(col("a_id"), col("b_id")))
  }

  /** p16: incremental quality-aware KEEPER election — d20's
    * best-copy-per-duplicate-group verdict maintained at ingest: each
    * micro-batch's docs are fingerprinted + scored once (map-side),
    * the per-fingerprint champion folds into the stored keeper table
    * via a max-by monoid (min of (-quality, doc_id) structs: best
    * quality wins, ties to the smaller id — associative and
    * commutative, so the elected keeper equals the batch election
    * under ANY chunking), and the per-doc verdict view joins the
    * accumulated docs against the current keepers. Old docs are never
    * re-scored; a new better copy flips its group's verdicts on
    * arrival.
    *
    * State is pure [[LsmState]] — the simplest fold here: no probe at
    * batch time at all. Each batch appends its scored docs and its
    * per-fp champions as O(batch) parts; the global election happens
    * in the keeper fold (groupBy fp, min(m)) at compaction/read.
    * Round 9 rewrote both the full doc table and the full keeper
    * table every batch. */
  def incrementalQualityKeeper(
      stream: DataFrame,
      base: String,
      compactEvery: Int = 8): DataFrame = {
    val spark = stream.sparkSession
    val docsSt = new LsmState(spark, s"$base/docs", identity, compactEvery)
    val keepersSt = new LsmState(
      spark, s"$base/keepers",
      _.groupBy("fp").agg(min(col("m")).as("m")), compactEvery)
    Fold.run(stream, base, "p16") { (batch, id) =>
      val newDocs = keeperDocs(spread(batch))
      val batchKeepers = keeperChamps(newDocs)
      docsSt.append(id, newDocs)
      keepersSt.append(id, batchKeepers)
      docsSt.maybeCompact(id)
      keepersSt.maybeCompact(id)
    }
    docsSt.result()
      .join(keepersSt.result()
        .select(col("fp"), col("m.id").as("keeper_id")), Seq("fp"))
      .select(col("doc_id"), col("quality"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("keep"))
  }

  /** [[incrementalQualityKeeper]] over the documents table, finished
    * in d20's column order — the maintained verdicts must reproduce
    * the batch election exactly (shares d20's DuckDB oracle). */
  def streamingQualityKeeper(spark: SparkSession, dir: String): DataFrame = {
    Fold.driver(spark, "p16") { base =>
      incrementalQualityKeeper(Fold.tableStream(spark, dir, "documents"), base)
    }.orderBy("doc_id")
  }

  /** p19 (documents side): ONE ingest pass maintaining the FIVE
    * document-derived models — the production shape the standalone
    * folds (p04 LM, p07 DF, p11 DSIR, p12 signatures, p16 keeper)
    * deliberately decompose: at 100 TB the corpus READ is the
    * dominant cost, and a pipeline that drains the stream once per
    * model pays it five times. ([[streamingModelSuite]] completes
    * the suite with the events and embeddings drains — p13's
    * disorder profile and p15's graph — for a 7-model manifest.) Here one foreachBatch
    * caches each micro-batch once and appends every model's O(batch)
    * delta from it ([[lmDelta]]/[[dfDelta]]/[[dsirDelta]]/
    * [[sigDelta]]/[[keeperDocs]] — the SAME delta functions the
    * standalone folds use, so the suite cannot drift from them), each
    * into its own [[LsmState]] (per-key monoid folds at compaction/
    * read). Because every per-model fold is a commutative monoid over
    * these deltas, each maintained state EQUALS its standalone twin
    * and the batch derivation under ANY chunking (equality replay
    * spec across all five).
    *
    * Returns the model frames by name; [[streamingModelSuite]]
    * finishes them as a manifest. */
  def incrementalModelSuite(
      stream: DataFrame,
      base: String,
      targetSource: String = "src0",
      dim: Int = 64,
      prefixBytes: Int = 32,
      compactEvery: Int = 8): Map[String, DataFrame] = {
    val spark = stream.sparkSession
    val lmSt = new LsmState(spark, s"$base/lm",
      _.groupBy("bg").agg(sum(col("nb")).as("nb")), compactEvery)
    val dfSt = new LsmState(spark, s"$base/df",
      _.groupBy("token").agg(sum(col("df")).as("df")), compactEvery)
    val dfMeta = new LsmState(spark, s"$base/dfmeta",
      _.agg(sum(col("n")).as("n")), compactEvery)
    val dsirSt = new LsmState(spark, s"$base/dsir",
      _.groupBy("b").agg(sum(col("ct")).as("ct"),
        sum(col("cr")).as("cr")), compactEvery)
    val sigSt = new LsmState(spark, s"$base/sig",
      _.groupBy("fp").agg(sum(col("n_copies")).as("n_copies"),
        min(col("keeper")).as("keeper")), compactEvery)
    val docsSt = new LsmState(spark, s"$base/keep_docs",
      identity, compactEvery)
    val champsSt = new LsmState(spark, s"$base/keep_champs",
      _.groupBy("fp").agg(min(col("m")).as("m")), compactEvery)
    Fold.run(stream, base, "p19") { (batch, id) =>
      // cache BEFORE the sizing count: the count that sizes the
      // shuffle and the spread that feeds the models share ONE
      // source read instead of two
      val raw = batch.cache()
      val bs = raw.sparkSession
      withStreamPartitions(bs, rowParts(bs, raw.count())) {
      // cache: SEVEN delta extractions read this frame — uncached,
      // the batch's source rows would be re-read per model, which
      // is exactly the cost this operator exists to avoid. The
      // count() materializes the cache eagerly so the seven
      // consumers read it rather than racing to recompute it.
      val b = spread(raw).cache()
      b.count()
      raw.unpersist(blocking = false) // b is materialized; raw done
      // seven independent model deltas off the one cached batch:
      // submit concurrently so the trigger pays max(model) job
      // latency, not the sum (runParallel doc — the p19 verdict fix)
      runParallel(Seq(
        () => lmSt.append(id, lmDelta(b)),
        () => dfSt.append(id, dfDelta(b)),
        () => dfMeta.append(id, b.agg(count(lit(1)).as("n"))),
        () => dsirSt.append(id, dsirDelta(b, targetSource, dim)),
        () => sigSt.append(id, sigDelta(b, prefixBytes)),
        () => {
          // champs derive from docs: keep the dependent pair on one
          // thread, both reading the cached batch
          val docs = keeperDocs(b)
          docsSt.append(id, docs)
          champsSt.append(id, keeperChamps(docs))
        }))
      runParallel(Seq(lmSt, dfSt, dfMeta, dsirSt, sigSt, docsSt,
        champsSt).map(st => () => st.maybeCompact(id)))
      b.unpersist(blocking = false)
      }
    }
    Map(
      "char_lm" -> lmSt.result(),
      "doc_freq" -> dfSt.result(),
      "doc_count" -> dfMeta.result(),
      "dsir" -> dsirSt.result(),
      "payload_sig" -> sigSt.result(),
      "keeper_docs" -> docsSt.result(),
      "keeper_champs" -> champsSt.result())
  }

  /** [[incrementalModelSuite]] over the WHOLE corpus, finished as
    * the maintenance MANIFEST a pipeline operator reads after each
    * ingest day: one row per maintained model with its state row
    * count — every count independently re-derivable by the DuckDB
    * oracle from the raw corpus, which is what hash-checks the whole
    * one-pass suite.
    *
    * Seven models over the corpus's THREE source streams, each source
    * read exactly once: the documents drain feeds the five
    * document-derived models from one cached micro-batch
    * ([[incrementalModelSuite]] — that sharing is where the 100 TB
    * read amplification actually lived); the events drain maintains
    * p13's disorder profile; the embeddings drain maintains p15's
    * k-NN graph. The two non-document members reuse the standalone
    * folds VERBATIM ([[incrementalDisorderProfile]],
    * [[incrementalKnnGraph]]), so their replay/equality specs carry
    * over unchanged. Manifest counts for them: the disorder profile's
    * state is one row per event type (oracle: distinct event types);
    * the graph fold's corpus coverage is its vector state, one row
    * per ingested vector (oracle: embeddings count) — the graph's
    * EDGE content is LSH-banded and not SQL-expressible, so it stays
    * gated by p15/p18's own equality specs, not the manifest. */
  def streamingModelSuite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Fold.tempBase("p19")
    // The three source drains (documents suite / events disorder /
    // embeddings k-NN) are INDEPENDENT streams over different state
    // roots — run them concurrently (round-12: the sequential chain
    // paid the heavy embeddings drain's full wall on top of the
    // document suite's). Each drain gets its OWN cloned session
    // (separate SQLConf) so the per-batch shuffle-partition tuning
    // (withStreamPartitions / quadraticParts / rowParts) cannot race
    // across drains; the clones share the SparkContext, scheduler
    // and cache, and builder-level confs are inherited.
    val (s1, s2, s3) = (spark.newSession(), spark.newSession(),
      spark.newSession())
    var models: Map[String, DataFrame] = null
    var disorder: DataFrame = null
    runParallel(Seq(
      () => {
        models = withStreamPartitions(s1, 8) {
          incrementalModelSuite(Fold.tableStream(s1, dir, "documents"), base)
        }
      },
      () => {
        disorder = withStreamPartitions(s2, 8) {
          incrementalDisorderProfile(
            eventsStream(s2, dir), s"$base/disorder")
        }
      },
      () => {
        // the drain runs eagerly inside (Fold.drain); the returned
        // graph view is lazy and unread here — the manifest audits
        // the fold's vector-state coverage, not the edges
        withStreamPartitions(s3, 8) {
          incrementalKnnGraph(
            Fold.tableStream(s3, dir, "embeddings"), s"$base/knn"); ()
        }
      }))
    // seven manifest counts, one small job each — submitted together
    // (same overlap rule as the per-model appends above: the manifest
    // pays max(count) wall, not the sum)
    val countFrames = Seq(
      "char_lm" -> models("char_lm"),
      "doc_freq" -> models("doc_freq"),
      "dsir" -> models("dsir"),
      "payload_sig" -> models("payload_sig"),
      "quality_keeper" -> models("keeper_docs"),
      "disorder" -> disorder,
      "knn_graph_vecs" ->
        new LsmState(spark, s"$base/knn/vecs", identity, 8).result())
    val counts = new Array[Long](countFrames.length)
    runParallel(countFrames.zipWithIndex.map { case ((_, df), i) =>
      () => counts(i) = df.count()
    })
    new BandState(spark, s"$base/knn", Seq("tbl", "bkt")).drop()
    countFrames.map(_._1).zip(counts)
      .toDF("model", "n_rows")
      .orderBy("model")
  }

  /** p13: incremental event-time DISORDER profile — e18's
    * watermark-tuning measurement maintained at ingest, so e19's
    * recommended delay can be re-derived as traffic shifts without a
    * log rescan. Per event type the state is (running event-time
    * max, n_events, n_late, max_disorder, total_disorder): each
    * micro-batch computes its events' lateness against e18's running
    * max seeded with the stored per-type max from all PRIOR batches,
    * then folds — every state field is a commutative monoid (max /
    * sum), but lateness itself is DEFINED by arrival order, so the
    * snapshot equals the batch profile when micro-batches partition
    * the stream in ingest (event_id) order — exactly the order a
    * file source replays and a partitioned log delivers (ordered-
    * replay spec). O(batch) per increment; |types|-row state;
    * versioned dirs + atomic pointer, as p07. */
  def incrementalDisorderProfile(
      stream: DataFrame,
      base: String): DataFrame = {
    val spark = stream.sparkSession
    Fold.run(stream, base, "p13") { (batch, id) =>
      val b = spread(batch)
      val w = Window.partitionBy("event_type").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val withUs = b.select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val prior = Fold.latest(spark, base)
        .map(p => spark.read.parquet(s"$p/model"))
      val seeded = prior match {
        case None => withUs.withColumn("__pmax", lit(-1L))
        case Some(m) => withUs.join(
          m.select(col("event_type"), col("max_us").as("__pmax")),
          Seq("event_type"), "left")
      }
      // -1 sentinel: event times are positive micros, so it orders
      // below every real timestamp (no-prior-row / no-prior-batch)
      val late = seeded
        .withColumn("__run", greatest(
          coalesce(max(col("us")).over(w), lit(-1L)),
          coalesce(col("__pmax"), lit(-1L))))
        .withColumn("late_us",
          when(col("__run") > col("us"), col("__run") - col("us"))
            .otherwise(lit(0L)))
      val delta = late.groupBy("event_type").agg(
        max(col("us")).as("max_us"),
        count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late_us")).as("max_disorder_us"),
        sum(col("late_us")).as("total_disorder_us"))
      val model = prior match {
        case None => delta
        case Some(m) => m.unionByName(delta).groupBy("event_type").agg(
          max(col("max_us")).as("max_us"),
          sum(col("n_events")).as("n_events"),
          sum(col("n_late")).as("n_late"),
          max(col("max_disorder_us")).as("max_disorder_us"),
          sum(col("total_disorder_us")).as("total_disorder_us"))
      }
      publishSnapshot(spark, base, id) { out =>
        model.write.mode("overwrite").parquet(s"$out/model")
      }
    }
    val snap = Fold.snapshot(spark, base)
    spark.read.parquet(s"$snap/model")
  }

  /** [[incrementalDisorderProfile]] over the events stream, finished
    * as e18's report (the running-max column is maintenance state,
    * not part of the report) — the maintained profile must reproduce
    * the batch audit exactly (shares e18's DuckDB oracle). */
  def streamingDisorderProfile(spark: SparkSession, dir: String): DataFrame = {
    Fold.driver(spark, "p13") { base =>
      incrementalDisorderProfile(eventsStream(spark, dir), base)
    }.select(col("event_type"), col("n_events"), col("n_late"),
        col("max_disorder_us"), col("total_disorder_us"))
      .orderBy("event_type")
  }

  /** p12: incremental payload-SIGNATURE model maintenance — m05's
    * (fp → copy count, keeper) group table folded over a document
    * stream. Per-signature copy count (sum) and keeper (min doc id)
    * are both commutative monoids, so the maintained table EQUALS
    * the batch-derived one under ANY chunking (replay spec): media
    * dedup state kept current at ingest, each payload hashed once,
    * map-side, on arrival — the bytes are never rescanned and never
    * shuffled (only the 16-byte signatures enter the fold). State is
    * |distinct signatures| rows; versioned dirs + atomic pointer, as
    * p07. Swap the [[graft.operators.Multimodal.PayloadDecoder]] for a
    * real perceptual hash and the maintenance shape is unchanged. */
  def incrementalPayloadSig(
      stream: DataFrame,
      base: String,
      prefixBytes: Int = 32): DataFrame = {
    val spark = stream.sparkSession
    Fold.run(stream, base, "p12") { (batch, id) =>
      val delta = sigDelta(spread(batch), prefixBytes)
      val model = Fold.latest(spark, base) match {
        case None => delta
        case Some(p) =>
          spark.read.parquet(s"$p/model").unionByName(delta)
            .groupBy("fp").agg(sum(col("n_copies")).as("n_copies"),
              min(col("keeper")).as("keeper"))
      }
      publishSnapshot(spark, base, id) { out =>
        model.write.mode("overwrite").parquet(s"$out/model")
      }
    }
    val snap = Fold.snapshot(spark, base)
    spark.read.parquet(s"$snap/model")
  }

  /** [[incrementalPayloadSig]] over the documents table, finished as
    * m05's verdict table (signature join back onto the corpus ids) —
    * the maintained signature state must reproduce the batch dedup
    * exactly (shares m05's DuckDB oracle). */
  def streamingPayloadDedup(spark: SparkSession, dir: String): DataFrame = {
    val model = Fold.driver(spark, "p12") { base =>
      incrementalPayloadSig(Fold.tableStream(spark, dir, "documents"), base)
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.operators.Multimodal.Md5PrefixDecoder(32)
          .fingerprint(encode(col("text"), "UTF-8")).as("fp"))
      .join(model, Seq("fp"))
      .select(col("doc_id"), col("fp"), col("n_copies"),
        (col("doc_id") === col("keeper")).cast("long").as("keep"))
      .orderBy("doc_id")
  }

  /** p08: incremental semantic decontamination — d14's
    * embedding-space screen
    * ([[graft.operators.Dedup.semanticDecontaminate]]) run per
    * micro-batch against the STATIC eval/benchmark embedding set.
    * The verdict is a pure per-row function of the frozen eval
    * vectors (broadcast inner loop, per-id max), so the maintained
    * snapshot EQUALS the batch screen over the same rows under ANY
    * micro-batch chunking (replay spec in StreamsSpec) and each
    * batch costs O(batch × |eval|) map-side work — new vectors are
    * screened once at ingest, the accumulated corpus is never
    * rescanned. State is the simplest [[LsmState]] case: verdicts are
    * a pure per-row function of the frozen eval set, so each batch
    * APPENDS its own verdicts with no probe against prior state at
    * all — O(batch) reads AND writes per trigger (round 9 rewrote the
    * whole verdict accumulator each batch); replays overwrite their
    * part, and the fold is the identity — the compaction crash
    * window is covered by the _folded manifest (a crashed compaction
    * leaves no manifest, so its partial output is invisible), not by
    * any id-dedup in the fold. A NEW eval set is a different screen:
    * run a fresh
    * instance against the accumulated corpus (one batch pass), it
    * does not invalidate this one's state. */
  def incrementalSemanticScreen(
      stream: DataFrame,
      eval: DataFrame,
      base: String,
      threshold: Double,
      compactEvery: Int = 8): DataFrame = {
    // identity fold: one verdict row per vec_id, each in exactly one
    // batch's part; the _folded manifest covers compaction crashes
    val st = new LsmState(
      stream.sparkSession, base, identity, compactEvery)
    Fold.appendFold(stream, base, "p08", st) { (batch, _) =>
      graft.operators.Dedup.semanticDecontaminate(
        spread(batch), eval, col("vec_id"), col("embedding"),
        threshold)
    }
  }

  /** [[incrementalSemanticScreen]] over the embeddings table —
    * corpus/eval split and threshold exactly as d14, so the snapshot
    * must reproduce d14's batch report (and its DuckDB oracle)
    * verbatim. */
  def streamingSemanticScreen(
      spark: SparkSession, dir: String): DataFrame = {
    Fold.driver(spark, "p08") { base =>
      incrementalSemanticScreen(
        Fold.tableStream(spark, dir, "embeddings")
          .filter(col("vec_id") % 97 =!= 0),
        spark.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id") % 97 === 0),
        base, 0.35)
    }.orderBy("vec_id")
  }

  /** p09: incremental span screening — documents scored per
    * micro-batch against a PUBLISHED span index
    * ([[graft.operators.Dedup.writeSpanIndex]]) at `minCount = 1`:
    * any window already present in the published corpus is duplicated
    * text. This is d16's exact-substring signal moved to INGEST time:
    * each arriving doc pays one bucketed probe join against the
    * frozen index (O(batch windows)), the published corpus is never
    * recounted — its explode + count shuffle was paid once at
    * publish. The verdict is a pure per-row function of the frozen
    * index, so the maintained snapshot EQUALS the batch
    * [[graft.operators.Dedup.dupSpansFromIndex]] screen over the same
    * rows under ANY micro-batch chunking (replay spec in
    * StreamsSpec); each batch APPENDS its verdicts as an [[LsmState]]
    * part — pure O(batch), no probe against prior verdicts (the fold
    * is the identity; compaction crashes are covered by the _folded
    * manifest, which a crashed compaction never publishes). Index
    * REBUILD cadence is a publish decision, exactly as the IVF
    * layout's quantizer. */
  def incrementalSpanScreen(
      stream: DataFrame,
      indexTable: String,
      base: String,
      w: Int = 8,
      compactEvery: Int = 8): DataFrame = {
    val spark = stream.sparkSession
    // identity fold: one row per doc_id, parts disjoint by stream
    // delivery; the _folded manifest covers compaction crashes
    val st = new LsmState(spark, base, identity, compactEvery)
    Fold.appendFold(stream, base, "p09", st) { (batch, _) =>
      graft.operators.Dedup.dupSpansFromIndex(
        spark, spread(batch), col("doc_id"), col("text"),
        indexTable, w, minCount = 1L)
    }
  }

  /** p10: incremental span REWRITE — the action twin of p09's
    * screen: each micro-batch of arriving docs is rewritten against
    * the PUBLISHED span index
    * ([[graft.operators.Dedup.rewriteFromIndex]], `minCount = 1`):
    * any window already present in the published corpus is duplicated
    * text and its tokens are cut before the doc enters the training
    * set. The canonical copy lives in the published corpus, so no
    * first-occurrence election runs at ingest — the verdict is a pure
    * per-row function of the frozen index, hence the snapshot EQUALS
    * the batch rewrite over the same rows under ANY chunking (replay
    * spec). O(batch windows) per batch, corpus never recounted; each
    * batch APPENDS its rewrites as an [[LsmState]] part — no probe
    * against prior output (round 9 rewrote the whole accumulator each
    * batch). */
  def incrementalSpanRewrite(
      stream: DataFrame,
      indexTable: String,
      base: String,
      w: Int = 8,
      compactEvery: Int = 8): DataFrame = {
    val spark = stream.sparkSession
    // identity fold, as incrementalSpanScreen
    val st = new LsmState(spark, base, identity, compactEvery)
    Fold.appendFold(stream, base, "p10", st) { (batch, _) =>
      graft.operators.Dedup.rewriteFromIndex(
        spark, spread(batch), col("doc_id"), col("text"),
        indexTable, w, minCount = 1L)
    }
  }

  /** [[incrementalSpanRewrite]] over the documents table: index from
    * the published corpus (doc_id % 7 ≠ 0), stream carries the
    * external docs (doc_id % 7 = 0) — the same split as p09, so the
    * whole chain stays DuckDB-expressible. */
  def streamingSpanRewrite(spark: SparkSession, dir: String): DataFrame = {
    val table = "graft_p10_span_idx"
    dropManagedTable(spark, table)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    graft.operators.Dedup.writeSpanIndex(
      docs.filter(col("doc_id") % 7 =!= 0), col("doc_id"), col("text"),
      table, w = 8, numBuckets = 8)
    val ext = Fold.tableStream(spark, dir, "documents", Some(docs.schema))
      .filter(col("doc_id") % 7 === 0)
    Fold.driver(spark, "p10") { base =>
      incrementalSpanRewrite(ext, table, base, w = 8)
    }.orderBy("doc_id")
  }

  /** Drop a managed table AND its warehouse directory — a previous
    * JVM's saveAsTable leaves the managed location behind (its
    * in-memory catalog entry died with that JVM), and a fresh write
    * would fail with LOCATION_ALREADY_EXISTS. */
  def dropManagedTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get(
      "spark.sql.warehouse.dir", "spark-warehouse")
    val root = if (wh.startsWith("file:"))
      java.nio.file.Paths.get(new java.net.URI(wh)).toString else wh
    org.apache.hadoop.fs.FileUtil.fullyDelete(
      new java.io.File(root, table.toLowerCase))
  }

  /** [[incrementalSpanScreen]] over the documents table: the index is
    * built over the published corpus (doc_id % 7 ≠ 0), the stream
    * carries the EXTERNAL docs (doc_id % 7 = 0) — new arrivals
    * screened against the published corpus exactly as
    * [[graft.operators.Dedup.dupSpansFromIndex]] would in batch, so
    * the whole chain is DuckDB-expressible (window counts over the
    * corpus subset, probe from the external subset). */
  def streamingSpanScreen(spark: SparkSession, dir: String): DataFrame = {
    val table = "graft_p09_span_idx"
    dropManagedTable(spark, table)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    graft.operators.Dedup.writeSpanIndex(
      docs.filter(col("doc_id") % 7 =!= 0), col("doc_id"), col("text"),
      table, w = 8, numBuckets = 8)
    val ext = Fold.tableStream(spark, dir, "documents", Some(docs.schema))
      .filter(col("doc_id") % 7 === 0)
    Fold.driver(spark, "p09") { base =>
      incrementalSpanScreen(ext, table, base, w = 8)
    }.orderBy("doc_id")
  }

  /** p05: incremental ANN-index maintenance — the coarse quantizer is
    * FROZEN (trained once on the base corpus — the "yesterday's
    * index" regime) and each micro-batch of new vectors is assigned
    * to its nearest cell MAP-SIDE
    * ([[graft.operators.Similarity.assignCells]]: broadcast-literal
    * centroids, codegen cosine, no shuffle) and folded into the
    * stored (vec_id, cell) index via versioned dirs + atomic pointer
    * (as e14/p03/p04). Assignment against frozen centroids is a pure
    * per-row function, so the maintained index EQUALS the batch-built
    * index over the same rows under ANY micro-batch chunking (replay
    * spec in IncrementalStreamSpec) and maintenance cost is O(batch),
    * never O(corpus) — at 100 TB the index rebuild is the cost being
    * amortized. Re-TRAINING the quantizer on drift is a separate
    * offline decision, exactly as in production ANN serving. The
    * min(cell) merge makes replayed ids idempotent (assignment is
    * deterministic, so min = the value).
    *
    * Storage is [[LsmState]] (this fold is where the LSM shape was
    * first built; the helper generalizes it to every corpus-sized
    * fold here): per-batch O(batch) part appends, amortized
    * compaction behind an atomic pointer, the min(cell) fold
    * collapsing every crash-window duplicate (assignment is
    * deterministic, so min = the value). */
  def incrementalIvfIndex(
      stream: DataFrame,
      centroids: Seq[Seq[Double]],
      base: String,
      compactEvery: Int = 8): DataFrame = {
    val st = new LsmState(
      stream.sparkSession, base,
      _.groupBy("vec_id").agg(min(col("cell")).as("cell")), compactEvery)
    Fold.appendFold(stream, base, "p05", st) { (batch, _) =>
      graft.operators.Similarity
        .assignCells(batch, "vec_id", "embedding", centroids)
    }
  }

  /** [[incrementalIvfIndex]] over the embeddings table: quantizer
    * trained on the batch corpus, index maintained over the same rows
    * streamed — output is the (vec_id, cell) index plus per-cell
    * occupancy, which must equal the batch kmeansCells assignment. */
  def streamingIvfIndex(spark: SparkSession, dir: String): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = graft.operators.Similarity
      .trainCentroids(emb, "vec_id", "embedding", 10)
    val stream =
      Fold.tableStream(spark, dir, "embeddings", Some(emb.schema))
    val idx = Fold.driver(spark, "p05") { base =>
      incrementalIvfIndex(stream, cents, base)
    }
    val occ = idx.groupBy("cell").agg(count(lit(1)).as("cell_size"))
    idx.join(occ, "cell")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("cell_size"))
      .orderBy("vec_id")
  }

  /** IVF-PQ code-table maintenance over the embeddings table — p05's
    * assignment fold upgraded to the FULL published index: the layout
    * publishes once over the base corpus (vec_id % 5 ≠ 0, frozen
    * √n̄-free 16-cell quantizer + global residual books), then the
    * stream's arrivals (vec_id % 5 = 0) fold into the SAME bucketed
    * code table per micro-batch through
    * [[graft.operators.Similarity.appendIvfPqLayout]] — frozen
    * quantizers, map-side encode, O(batch) per trigger, the
    * staleness audit returned per append. Snapshot = the maintained
    * index's per-cell profile (code count + mean quantization
    * error). Because the encode is per-row deterministic against
    * frozen books, the final code table equals the batch encode of
    * the full corpus under ANY chunking — IvfPqAppendSpec pins the
    * replay and the audit's drift trigger. */
  def streamingIvfPqCodes(spark: SparkSession, dir: String): DataFrame = {
    val table = "graft_p20_ivfpq"
    dropManagedTable(spark, table)
    dropManagedTable(spark, s"${table}_centroids")
    dropManagedTable(spark, s"${table}_books")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    graft.operators.Similarity.writeIvfPqLayout(
      emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", table,
      numCells = 16, numBuckets = 8, numSub = 8, codebookK = 32,
      sampleN = 1024, trainIters = 4, coarseIters = 2)
    val stream = Fold.tableStream(spark, dir, "embeddings", Some(emb.schema))
      .filter(col("vec_id") % 5 === 0)
    Fold.driver(spark, "p20") { base =>
      Fold.run(stream, base, "p20") { (batch, _) =>
        if (!batch.isEmpty) graft.operators.Similarity
          .appendIvfPqLayout(batch, "vec_id", "embedding", table).collect()
      }
    }
    spark.table(table)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_codes"),
        round(avg(col("__qerr")), 4).as("mean_qerr"))
      .select(col("cell").cast("long").as("cell"), col("n_codes"),
        col("mean_qerr"))
      .orderBy("cell")
  }

  /** [[upsertLatestOf]] over the events table: the maintained
    * snapshot is the latest event per user. */
  def streamingUpsertLatest(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"))
    Fold.driver(spark, "e14")(upsertLatestOf(ev, _)).orderBy("user_id")
  }

  // public: encoder codegen needs to reach these from generated code
  case class Ev(user_id: Long, ts_us: Long)
  case class UserSessions(user_id: Long, n_sessions: Long)

  /** Stateful sessionization via flatMapGroupsWithState: counts
    * gap-delimited sessions per user. In a live stream the state
    * carries across triggers (with a timeout); replayed on a bounded
    * source it degenerates to one invocation per key — which makes
    * it batch-oracle-checkable against the window-function form
    * ([[graft.operators.Temporal.sessionize]]).
    *
    * State is O(1) per key: the input is secondary-sorted
    * (repartition by user, sortWithinPartitions by (user, ts)) and
    * the group iterator is STREAMED — no per-key buffering, so a hot
    * key with millions of events costs two longs of state instead of
    * an executor-OOM-sized array. The relational `groupBy(col).as[]`
    * keying (not `groupByKey(lambda)`) is what lets the planner
    * recognize the existing partitioning+ordering and elide its own
    * exchange and key-only re-sort, which would destroy the secondary
    * order; the sort contract is guarded loudly per element. */
  def statefulSessionCounts(
      spark: SparkSession,
      dir: String,
      gapSeconds: Long = 1800L): DataFrame =
    sessionCountsOf(
      graft.Tables.load(spark, dir, "events")
        .select(col("user_id").cast("long").as("user_id"),
          unix_micros(col("ts")).as("ts_us")),
      gapSeconds)

  /** Core of [[statefulSessionCounts]] over any (user_id: long,
    * ts_us: long) frame — separated so specs can drive it with
    * synthetic skewed keys. */
  def sessionCountsOf(events: DataFrame, gapSeconds: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val sorted = events
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"))
      .as[Ev]
    val gapUs = gapSeconds * 1000000L
    sorted.groupBy(col("user_id")).as[Long, Ev]
      .flatMapGroupsWithState[Long, UserSessions](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Ev], _: GroupState[Long]) =>
          var n = 0L
          var prev = Long.MinValue
          it.foreach { e =>
            val t = e.ts_us
            require(prev == Long.MinValue || t >= prev,
              s"secondary sort violated for user $uid: $t after $prev")
            if (prev == Long.MinValue || t - prev > gapUs) n += 1
            prev = t
          }
          Iterator.single(UserSessions(uid, n))
      }
      .toDF()
      .orderBy("user_id")
  }

  /** Operational inspection of a fold's durable state under `base` —
    * the `graft.Cli state <base>` surface. One row per state store
    * (any dir holding a `_latest` pointer and/or a `parts/` level)
    * plus one row for the band index when the fold keeps one:
    * pointer target, live part count, retained snapshot count,
    * replay-marker count. Driver-side control-file listing only —
    * never scans data — so it is safe against a LIVE fold, exactly
    * like the reference's `status` against its data dir
    * (hangarbay/cli.py:133 status; api.py:338 status()). */
  def foldState(spark: SparkSession, base: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val fs = StateIO.fs(spark, base)
    def isDir(p: String): Boolean =
      fs.exists(new Path(p)) && fs.getFileStatus(new Path(p)).isDirectory
    def storeRow(rel: String, dir: String): Option[
        (String, String, Long, Long, Long)] = {
      val names = StateIO.listNames(fs, dir)
      if (!names.contains("_latest") && !names.contains("parts")) None
      else {
        val ptr = StateIO.readString(fs, s"$dir/_latest")
          .map(_.trim).getOrElse("")
        val parts = StateIO.listNames(fs, s"$dir/parts")
          .count(_.startsWith("b")).toLong
        val versions = names.count { n =>
          val id = n.stripSuffix("c").drop(1)
          n.startsWith("v") && id.nonEmpty && id.forall(_.isDigit)
        }.toLong
        val marks = StateIO.listNames(fs, s"$dir/band_marks")
          .count(_.startsWith("b")).toLong
        Some((rel, ptr, parts, versions, marks))
      }
    }
    val top = StateIO.listNames(fs, base)
    val stores = storeRow(".", base).toSeq ++ top.sorted
      .filterNot(Set("parts", "ckpt", "band_marks").contains)
      .filter(n => isDir(s"$base/$n"))
      .flatMap(n => storeRow(n, s"$base/$n"))
    val bands = new BandState(spark, base, Nil)
    val bandRow =
      if (StateIO.exists(fs, s"$base/band_gen") ||
          spark.catalog.tableExists(bands.table)) {
        val live = bands.liveTable
        val marks = StateIO.listNames(fs, s"$base/band_marks")
          .count(_.startsWith("b")).toLong
        Seq(("band_index", live,
          if (spark.catalog.tableExists(live)) 1L else 0L, 1L, marks))
      } else Nil
    (stores ++ bandRow)
      .toDF("store", "pointer", "live_parts", "versions", "markers")
  }
}
