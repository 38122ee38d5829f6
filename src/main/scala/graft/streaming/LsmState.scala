package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType


/** LSM-shaped durable fold state for `foreachBatch` pipelines — the
  * storage half of every incremental fold here: the corpus-sized ones
  * (p03/p06/p14/p15/p16/p17, e14's upsert, p08-p10's verdict
  * accumulators, p05's IVF index) and the small models (p04's LM,
  * p07's document frequencies, p11's DSIR counts, p12's signatures,
  * p13's disorder profile, p19's suite) alike — the one store whose
  * `_latest` pointer a fold moves. (State bases written by the
  * retired per-trigger `v<id>/model` snapshot layout of the small
  * models are not read: start those folds on a fresh base.)
  *
  * WHY: the naive fold (union prior snapshot with the batch delta,
  * `mode("overwrite")` the whole thing) writes O(corpus) per
  * micro-batch — at 100 TB a 1 TB/day ingest would rewrite a 100 TB
  * snapshot daily, making the "incremental" claim's cost O(corpus),
  * not O(batch). The LSM shape fixes the write path:
  *
  *   - [[append]]: each micro-batch writes ONLY its delta as one part
  *     dir (`parts/b<id>`), `mode("overwrite")` keyed on the batch id
  *     so a checkpoint replay overwrites instead of duplicating —
  *     O(batch) bytes per trigger, always.
  *   - [[maybeCompact]]: every `compactEvery` batches the accumulated
  *     parts fold into a compacted snapshot (versioned dir + atomic
  *     pointer) and the parts are removed — O(state), amortized
  *     1/compactEvery per batch, exactly a log-structured merge
  *     tree's level merge.
  *   - [[view]]/[[result]]: readers fold (compacted ∪ ≤compactEvery
  *     parts) through the state's `fold` function.
  *
  * Each compacted snapshot carries a `_folded` manifest naming the
  * parts merged into it, and [[view]] excludes manifest-listed parts
  * — so a crash between the pointer move and part cleanup can NEVER
  * present a part's rows twice, and reads pay no defensive
  * dedup shuffle. The `fold` contract is therefore purely
  * semantic: applied to the duplicate-free union of the snapshot and
  * live parts, it merges per-batch partial states into the exact
  * global state — a per-key monoid aggregate (`groupBy(k).agg(
  * min/max/sum…)`, latest-per-key, bounded top-k) — or `identity`
  * when parts are already disjoint rows of the final state (per-id
  * verdicts, anti-joined accepted sets, discovered-once pair sets).
  *
  * Crash-window inventory (each safe):
  *   - died mid-part-write → replay rewrites the part (overwrite);
  *   - died after part write, before checkpoint commit → the batch
  *     replays and overwrites its part with identical content
  *     (callers computing a delta AGAINST the current state must
  *     exclude the replaying batch's own part — `view(except)` — so
  *     the recompute is deterministic);
  *   - died mid-compaction before the pointer move → old pointer and
  *     parts intact, the next compaction redoes the work;
  *   - died after the pointer move, before part cleanup → leftover
  *     parts are named by the new snapshot's `_folded` manifest and
  *     excluded from every view until removed;
  *   - batch replays after its own compaction's pointer move → the
  *     rewrite diverts to a sibling path (`v<id>c`): reading a path
  *     while overwriting it is rejected by Spark.
  *
  * Reference analog: the reference rebuilds its DuckDB publish from
  * each full snapshot (pipelines/publish.py); this is the
  * ingest-incremental replacement for that rebuild at a scale where
  * rebuilding is not an option.
  *
  * ==Reader freshness contract==
  * An instance caches the pointer, part listing, and manifest after
  * first read and maintains them through its OWN `append`/
  * `maybeCompact` calls (see the cache comment below). Two usage
  * shapes are therefore supported: (1) the single writer — the
  * foreachBatch fold that owns the store; (2) a freshly constructed
  * reader, which sees the store as of its construction. A LONG-LIVED
  * second instance on the same root does NOT observe another
  * instance's later writes — a detached reader held across foreign
  * appends/compactions must call [[refresh]] (or construct anew) to
  * re-read the control state. Every in-repo caller is shape (1) or
  * (2).
  *
  * ==Schema contract==
  * Every part of one store has the same schema (one `delta` function
  * writes them all), and so does every snapshot (one `fold`). [[view]]
  * therefore reads the sources of one schema as ONE multi-path parquet
  * relation with that schema given, never a bare
  * `spark.read.parquet(path)` per source: a bare read infers the
  * schema with a footer-reading Spark job, one per source per view,
  * which was most of a steady trigger's jobs. Where the schema comes
  * from, per reader shape:
  *   - the single writer knows it: [[append]] records the delta's
  *     schema and [[maybeCompact]] the folded view's (both as written:
  *     parquet stores every column nullable), so building a view after
  *     the instance's own writes runs no Spark job at all;
  *   - a fresh reader of an existing store infers it on first read,
  *     once per kind of source (parts, snapshot), from one source of
  *     that kind, and keeps it — at most two schema jobs for the life
  *     of the instance. [[refresh]] forgets them with the rest of the
  *     control state.
  */
final class LsmState(
    spark: SparkSession,
    root: String,
    fold: DataFrame => DataFrame,
    compactEvery: Int = 8) {
  require(compactEvery >= 1, s"compactEvery must be >= 1: $compactEvery")

  // all control-file IO (pointer, manifest, part listing/cleanup)
  // goes through the Hadoop FileSystem resolved from the root's
  // scheme — the state base can live on HDFS/S3/local alike, exactly
  // like the parquet data beside it (java.nio would pin the store to
  // the driver's local disk, a single-node assumption a 1000-executor
  // deployment can't make)
  private val fs = StateIO.fs(spark, root)
  private val latestFile = s"$root/_latest"

  // ---- lazy control-state cache -----------------------------------
  // Between constructions, this instance is the fold's ONLY writer
  // (foreachBatch triggers run serially; a crashed fold restarts with
  // a FRESH instance, which re-reads the store). So the pointer, the
  // part listing, and the pointed-at snapshot's manifest are read
  // from the filesystem ONCE and then maintained by append/compact
  // instead of re-listed per view — a trigger over a multi-fold key
  // otherwise pays ~3 control round-trips PER FOLD per view, and on
  // an object store each LIST/GET is 10-100 ms of pure floor.
  // Mutations are synchronized: multi-model triggers run their
  // appends concurrently (Streams.runParallel), and although each
  // fold has its own instance, the cache must stay coherent if a
  // caller ever shares one.
  private[this] var ptrCache: Option[Option[String]] = None
  private[this] var partsCache: Option[Vector[String]] = None
  private[this] var foldedCache: Option[(Option[String], Set[String])] = None
  // the schema of every part and of every snapshot, by kind (class
  // doc's schema contract): set by this instance's own writes, else
  // inferred once from one source of the kind
  private[this] val schemas =
    scala.collection.mutable.Map.empty[String, StructType]

  /** Drop the cached control state so the next read re-lists the
    * store — for a detached long-lived reader that must observe
    * ANOTHER instance's appends/compactions (see the class doc's
    * freshness contract; the owning fold never needs this). */
  def refresh(): Unit = synchronized {
    ptrCache = None
    partsCache = None
    foldedCache = None
    schemas.clear()
  }

  def readPtr(): Option[String] = synchronized {
    ptrCache match {
      case Some(p) => p
      case None =>
        val p = StateIO.readString(fs, latestFile)
          .map(_.trim).filter(_.nonEmpty)
        ptrCache = Some(p)
        p
    }
  }

  private def allParts(): Vector[String] = synchronized {
    partsCache match {
      case Some(ps) => ps
      case None =>
        val ps = StateIO.listNames(fs, s"$root/parts")
          .filter(_.startsWith("b")).toVector
        partsCache = Some(ps)
        ps
    }
  }

  private def listParts(except: Option[Long]): Seq[String] = {
    val skip = except.map(id => s"b$id")
    allParts().filter(n => !skip.contains(n))
  }

  /** Part names the pointed-at snapshot already folded (its `_folded`
    * manifest) — excluded from every view so a compaction crash
    * between the pointer move and part cleanup can't double-present
    * rows. Missing manifest (pre-manifest state dirs) → empty.
    * Cached per pointer value: the manifest is immutable once its
    * snapshot is published. */
  private def foldedParts(): Set[String] = {
    val ptr = readPtr()
    synchronized {
      foldedCache match {
        case Some((p, f)) if p == ptr => f
        case _ =>
          val f = ptr match {
            case None => Set.empty[String]
            case Some(p) =>
              StateIO.readString(fs, s"$p/_folded")
                .map(_.split("\n").map(_.trim).filter(_.nonEmpty).toSet)
                .getOrElse(Set.empty[String])
          }
          foldedCache = Some((ptr, f))
          f
      }
    }
  }

  /** The folded current state: compacted snapshot ∪ live unfolded
    * parts, merged through `fold`. `except` excludes one batch's own
    * part — a replaying batch probing the state it is about to
    * rewrite must not see its own pre-crash output, or the recompute
    * isn't deterministic (worst case: an anti-join fold rejects the
    * whole batch against itself and publishes an empty part). */
  def view(except: Option[Long] = None): Option[DataFrame] = {
    val folded = foldedParts()
    val live = listParts(except).filterNot(folded.contains)
      .map(n => s"$root/parts/$n")
    val srcs = readPtr().map(p => schemaOf("snapshot", p) -> Seq(p)).toSeq ++
      live.headOption.map(p => schemaOf("parts", p) -> live)
    // sources of one schema are one relation: an identity fold's
    // snapshot and parts scan as a single multi-path read
    val rels = srcs match {
      case Seq((a, snap), (b, parts)) if a == b => Seq(a -> (snap ++ parts))
      case _ => srcs
    }
    rels.map { case (sc, paths) => spark.read.schema(sc).parquet(paths: _*) }
      .reduceOption(_ unionByName _).map(fold)
  }

  private def schemaOf(kind: String, anySource: String): StructType =
    synchronized {
      schemas.getOrElseUpdate(kind, spark.read.parquet(anySource).schema)
    }

  /** O(batch): write this batch's delta as its own part dir,
    * overwrite-keyed on the batch id (checkpoint replays are
    * idempotent). */
  def append(id: Long, delta: DataFrame): Unit = {
    delta.write.mode("overwrite").parquet(s"$root/parts/b$id")
    synchronized {
      schemas("parts") = LsmState.asWritten(delta.schema)
      partsCache = partsCache.map(ps =>
        if (ps.contains(s"b$id")) ps else (ps :+ s"b$id").sorted)
    }
  }

  /** Amortized compaction: every `compactEvery` batches, fold the
    * whole view into a fresh versioned snapshot, record the folded
    * part names in the snapshot's `_folded` manifest (underscore
    * prefix — parquet readers ignore it), move the durable pointer,
    * then (and only then) remove the folded parts. */
  def maybeCompact(id: Long): Unit =
    if ((id + 1) % compactEvery == 0) {
      // compaction is the ONE consumer where a stale part listing
      // would LEAK state (a crash-leftover part missing from the
      // cache would never be folded or swept) — re-list from the
      // filesystem here, amortized 1/compactEvery, and let the
      // per-trigger views keep the cached listing
      synchronized { partsCache = None }
      compactNow(id)
    }

  private def compactNow(id: Long): Unit =
    view().foreach { v =>
      // a batch replaying after its own pointer move must not read
      // v<id> while overwriting it — divert to a sibling path
      val preferred = s"$root/v$id"
      val out =
        if (readPtr().contains(preferred)) s"$root/v${id}c"
        else preferred
      // every part on disk is in the new snapshot's lineage: either
      // folded right now, or already folded into the prior snapshot
      // this one subsumes
      val folded = listParts(None)
      v.write.mode("overwrite").parquet(out)
      StateIO.writeString(fs, s"$out/_folded", folded.mkString("\n"))
      StateIO.writeStringAtomic(spark, fs, latestFile, out)
      synchronized {
        schemas("snapshot") = LsmState.asWritten(v.schema)
        ptrCache = Some(Some(out))
        foldedCache = Some((Some(out), folded.toSet))
      }
      // only after the pointer is durable; a crash here leaves
      // parts the manifest already masks out of every view
      folded.foreach(n => StateIO.delete(fs, s"$root/parts/$n"))
      synchronized {
        partsCache = partsCache.map(_.filterNot(folded.toSet))
      }
      // retire superseded snapshots: every v* dir the pointer no
      // longer names is dead weight — without this sweep, storage
      // grows by one full snapshot per compaction, an
      // O(state x versions) amplification a long-lived 100 TB fold
      // cannot afford. Safe for the fold itself (views resolve
      // through the pointer alone and the compacted frame was fully
      // materialized by the write above); a DETACHED reader must not
      // hold a resolved snapshot across a compaction (freshness
      // contract above).
      StateIO.retireVersions(fs, root, out.substring(out.lastIndexOf('/') + 1))
    }

  /** Final folded state — what callers hand to readers once the
    * stream drains. */
  def result(): DataFrame = view().getOrElse(
    sys.error(s"no state at $root: stream produced no batches"))
}

private[graft] object LsmState {
  import org.apache.spark.sql.types.{ArrayType, DataType, MapType}

  /** `schema` as a parquet write stores it and a read returns it:
    * every field, element and value nullable. */
  def asWritten(schema: StructType): StructType =
    nullable(schema).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }
}

/** Control-file IO for the durable fold state, behind the Hadoop
  * FileSystem API so state bases work on any scheme Spark itself can
  * read (local, HDFS, S3A, ...). The atomic-publish primitive is
  * temp-write + `FileContext.rename(OVERWRITE)` — a metadata
  * operation on HDFS and local filesystems, so readers see the old
  * pointer or the new, never a torn one. Object stores without
  * atomic rename (raw S3) should keep the CONTROL files (pointer,
  * markers) on a filesystem that has it, or accept the read-retry
  * window — the data files themselves are immutable-once-written
  * either way. */
private[graft] object StateIO {
  import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def exists(fs: FileSystem, path: String): Boolean =
    fs.exists(new Path(path))

  def readString(fs: FileSystem, path: String): Option[String] = {
    val p = new Path(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  def writeString(fs: FileSystem, path: String, value: String): Unit = {
    val out = fs.create(new Path(path), true)
    try out.write(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Temp + rename(OVERWRITE): the atomic pointer publish. */
  def writeStringAtomic(
      spark: SparkSession, fs: FileSystem,
      path: String, value: String): Unit = {
    val target = fs.makeQualified(new Path(path))
    val tmp = new Path(target.getParent,
      s".${target.getName}.tmp${java.util.UUID.randomUUID()}")
    writeString(fs, tmp.toString, value)
    try {
      val fc = FileContext.getFileContext(
        target.toUri, spark.sessionState.newHadoopConf())
      fc.rename(tmp, target, Options.Rename.OVERWRITE)
    } finally {
      // no-op after a successful rename (tmp no longer exists)
      if (fs.exists(tmp)) { fs.delete(tmp, false); () }
    }
  }

  def listNames(fs: FileSystem, dir: String): Seq[String] = {
    val p = new Path(dir)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
      fs.listStatus(p).map(_.getPath.getName).toSeq.sorted
    else Nil
  }

  def delete(fs: FileSystem, path: String): Unit = {
    fs.delete(new Path(path), true)
    ()
  }

  /** Is `name` a versioned snapshot dir (`v<digits>`, optional
    * compaction-diversion `c` suffix)? The ONE classifier every
    * sweep and inspection shares — a second naming scheme must land
    * here or nowhere. */
  def isVersionDir(name: String): Boolean = {
    val id = name.stripSuffix("c").drop(1)
    name.startsWith("v") && id.nonEmpty && id.forall(_.isDigit)
  }

  /** The shared retirement sweep: delete every versioned snapshot dir
    * under `dir` except `keep`, the pointed-at one. Idempotent —
    * callers run it after their pointer move, and a crash before it
    * just leaves the stale dirs for the next sweep. */
  def retireVersions(fs: FileSystem, dir: String, keep: String): Unit =
    listNames(fs, dir)
      .filter(n => n != keep && isVersionDir(n))
      .foreach(n => delete(fs, s"$dir/$n"))
}

/** The bucketed-table sibling of [[LsmState]] for band/bucket INDEX
  * state (p14's MinHash bands, p15/p17's hyperplane bands): one
  * bucketed+sorted table per fold, APPENDED per micro-batch.
  *
  * WHY a table and not LSM parquet parts like the sibling state: the
  * band table is the stored side of every later batch's cross-probe
  * equi-join — the one join in these folds whose left side is
  * O(index), not O(batch). From plain parquet that side re-shuffles
  * EVERY batch once the batch outgrows the broadcast threshold (the
  * 100 TB regime); a bucketed scan reports its hash partitioning, so
  * only the O(batch) probe side exchanges. And appending to ONE
  * bucketed table (each writer task splits its output into bucket
  * files; the spec is validated against the existing table) keeps the
  * per-batch band write O(batch) — the round-9 versioned-table form
  * rewrote the whole O(index) band set every batch.
  *
  * Replay discipline: appends are NOT naturally idempotent, so each
  * batch leaves a marker file after its append and a replaying batch
  * skips the append when its marker exists. The residual window (died
  * after the append, before the marker) can duplicate one batch's
  * band rows: candidate pairs stay exact — every pair generator
  * dedups its per-batch candidates — and the duplicate rows are inert
  * index bloat bounded by crash count, not corpus size.
  *
  * Lifecycle: the table name is a SHA-256 digest of the fold's base
  * dir (collision-proof across concurrent folds, unlike a 32-bit
  * hashCode). Each generation's files live under the fold's own base
  * (`bands/<table>`), registered as an EXTERNAL table: the data is
  * fold state like the LSM parts beside it, and the catalog entry is
  * only the name the bucketed scan needs while triggers probe it. The
  * fold unregisters its entries when its drain ends ([[release]]),
  * keeping the files, and any instance on an existing base registers
  * the live generation again from its files on first use — so a
  * restarted fold (same JVM or a new one) resumes the same index, and
  * a finished call leaves nothing in the session catalog. Appends grow
  * the table's FILE count by O(buckets) per trigger — a year of
  * 1-minute triggers is millions of small files, the classic HDFS/S3
  * small-files failure — so [[maybeCompact]] periodically rewrites
  * the live generation into a fresh table with one file per bucket
  * behind a durable generation pointer, the same amortized trade as
  * [[LsmState.maybeCompact]]. Short-lived callers (the verification
  * wrappers) delete every generation once the fold's result is
  * materialized ([[drop]]); a production fold keeps the live one for
  * the life of the pipeline and drops it at decommission. */
private[graft] final class BandState(
    spark: SparkSession,
    base: String,
    bucketCols: Seq[String],
    numBuckets: Int = 8) {

  /** Generation-0 table name (pre-compaction, and the seed target for
    * resuming state a prior run left at the digest name). */
  val table: String = BandState.tableName(base)
  private val fs = StateIO.fs(spark, base)
  private val ptrFile = s"$base/band_gen"

  /** The live generation's table: the durable pointer's, or
    * generation 0 before any compaction has run. */
  def liveTable: String =
    StateIO.readString(fs, ptrFile).map(_.trim).filter(_.nonEmpty)
      .getOrElse(table)

  /** Where generation `gen`'s files live: under the fold's base. */
  private def location(gen: String): String = s"$base/bands/$gen"

  /** Does the live generation hold data (registered, or data files on
    * disk waiting to be registered)? */
  def liveExists: Boolean = {
    val t = liveTable
    spark.catalog.tableExists(t) || hasData(t)
  }

  /** Does generation `gen`'s location hold a data file? Not after a
    * crash inside the generation's first append (only the committer's
    * `_temporary` is left), nor when every append so far was an empty
    * batch (a bucketed write of zero rows leaves only `_SUCCESS`):
    * such a location holds no bands and no schema to read. */
  private def hasData(gen: String): Boolean =
    StateIO.listNames(fs, location(gen))
      .exists(n => !n.startsWith("_") && !n.startsWith("."))

  /** Register generation `gen` from its files when it has data files
    * but no catalog entry (an earlier drain released it, or an earlier
    * JVM died with it). The schema is read from the files: one schema
    * job per fresh instance. */
  private def register(gen: String): Unit =
    if (!spark.catalog.tableExists(gen) && hasData(gen)) {
      // a bucketed CREATE needs its column list: read it off the files
      val schema = spark.read.parquet(location(gen)).schema
      val cols = bucketCols.mkString(", ")
      val loc = location(gen).replace("'", "\\'")
      spark.sql(s"CREATE TABLE $gen (${schema.toDDL}) USING parquet " +
        s"CLUSTERED BY ($cols) SORTED BY ($cols) INTO $numBuckets BUCKETS " +
        s"LOCATION '$loc'")
    }

  /** The accumulated band index, or None before the first append.
    * Refreshes the relation first: the per-batch appends run through
    * the micro-batch's CLONED session, whose write-side cache
    * invalidation doesn't reach this session's cached file listing —
    * without the refresh a cross-probe silently scans a stale band
    * set and misses cross-batch candidates. */
  def scan(): Option[DataFrame] = {
    val t = liveTable
    register(t)
    if (spark.catalog.tableExists(t)) {
      spark.catalog.refreshTable(t)
      Some(spark.table(t))
    } else None
  }

  /** Append one batch's bands, marker-guarded for replay idempotence.
    * The first append of a generation creates its external table
    * under the base; the create overwrites the location, so what a
    * location without data files holds ([[hasData]]) never reaches
    * the table. */
  def append(id: Long, bands: DataFrame): Unit = {
    val mark = s"$base/band_marks/b$id"
    if (!StateIO.exists(fs, mark)) {
      val t = liveTable
      register(t)
      val w = bands.write
        .bucketBy(numBuckets, bucketCols.head, bucketCols.drop(1): _*)
        .sortBy(bucketCols.head, bucketCols.drop(1): _*)
        .mode("append")
      if (spark.catalog.tableExists(t)) w.saveAsTable(t)
      else w.option("path", location(t)).saveAsTable(t)
      StateIO.writeString(fs, mark, "")
      // prune dead markers: only the latest not-yet-checkpointed
      // batch can ever replay, and batch `id` running means every
      // batch before it committed — their markers will never be
      // consulted again, and a long-lived fold must not accumulate
      // one control file per batch forever
      StateIO.listNames(fs, s"$base/band_marks")
        .filter(n => n.startsWith("b") &&
          n.drop(1).forall(_.isDigit) && n.drop(1).toLong < id)
        .foreach(n => StateIO.delete(fs, s"$base/band_marks/$n"))
    }
  }

  /** Amortized file-count compaction, every `compactEvery` batches:
    * rewrite the live generation into a fresh table (`<digest>_c<id>`)
    * repartitioned to one file per bucket, move the generation
    * pointer, then drop superseded generations. O(index) I/O paid
    * 1/compactEvery of the time — the [[LsmState.maybeCompact]] trade
    * applied to the bucketed index, bounding the table at
    * O(buckets + appends-since-compaction) files instead of
    * O(batches x buckets). Crash windows mirror LsmState's: a stale
    * `_c` table from a pre-pointer-move crash is swept by the next
    * compaction's generation sweep, and a batch replaying after its
    * own pointer move skips (the pointer already names its
    * generation). Bucketing is preserved, so the zero-index-side-
    * exchange probe plan is unchanged across generations. */
  def maybeCompact(id: Long, compactEvery: Int = 8): Unit =
    if ((id + 1) % compactEvery == 0) {
      val cur = liveTable
      val next = s"${table}_c$id"
      register(cur)
      if (cur != next && spark.catalog.tableExists(cur)) {
        import org.apache.spark.sql.functions.col
        spark.catalog.refreshTable(cur)
        dropGeneration(next) // pre-crash litter
        spark.table(cur)
          .repartition(numBuckets, bucketCols.map(col): _*)
          .write
          .bucketBy(numBuckets, bucketCols.head, bucketCols.drop(1): _*)
          .sortBy(bucketCols.head, bucketCols.drop(1): _*)
          .mode("overwrite").option("path", location(next)).saveAsTable(next)
        StateIO.writeStringAtomic(spark, fs, ptrFile, next)
        generations().filterNot(_ == next).foreach(dropGeneration)
      }
    }

  /** Every generation of this fold's band table: catalog entries
    * UNION generation directories on disk — under the base, and in
    * the warehouse where earlier builds kept them as managed tables.
    * The disk side matters after a JVM crash: an in-memory catalog
    * dies with its JVM, so a stale `_c` generation written before a
    * crash would otherwise be invisible to the sweep and leak a full
    * O(index) copy forever. (With a durable metastore the catalog
    * side already covers it; the union is correct in both worlds.)
    * The disk listing goes through the Hadoop FileSystem API like
    * every other control-file read here, so it sees a non-local
    * (HDFS/S3) base or warehouse too. */
  private[streaming] def generations(): Seq[String] = {
    // the session catalog's own listing: `spark.catalog.listTables`
    // collects a Dataset, one Spark job per call
    val inCatalog = spark.sessionState.catalog
      .listTables(spark.catalog.currentDatabase).map(_.table)
    val whRoot = BandState.warehouseRoot(spark)
    val inWarehouse = StateIO.listNames(StateIO.fs(spark, whRoot), whRoot)
    val underBase = StateIO.listNames(fs, s"$base/bands")
    (inCatalog ++ inWarehouse ++ underBase).toSeq.distinct.filter { n =>
      val id = n.drop(table.length + 2)
      n == table || (n.startsWith(s"${table}_c") &&
        id.nonEmpty && id.forall(_.isDigit))
    }
  }

  /** Remove generation `gen`: its catalog entry and its files, under
    * the base or (an earlier build's managed table) the warehouse. */
  private def dropGeneration(gen: String): Unit = {
    Streams.dropManagedTable(spark, gen)
    StateIO.delete(fs, location(gen))
  }

  /** Unregister this fold's generations from the session catalog and
    * keep their files under the base — the end of a drain. A table
    * the fold did not create there (a managed one) is left as found. */
  def release(): Unit =
    generations().filter(g => StateIO.exists(fs, location(g)))
      .foreach(g => spark.sql(s"DROP TABLE IF EXISTS $g"))

  def drop(): Unit = {
    generations().foreach(dropGeneration)
    StateIO.delete(fs, s"$base/bands")
    StateIO.delete(fs, ptrFile)
  }
}

private[graft] object BandState {
  /** Collision-proof fold-scoped table name: first 16 hex chars of
    * SHA-256(base) — two folds on different base dirs can never race
    * on one table the way a 32-bit hashCode could. */
  def tableName(base: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(base.getBytes("UTF-8"))
    s"graft_bands_${digest.take(8).map("%02x".format(_)).mkString}"
  }

  /** Local filesystem root of the managed-table warehouse (the same
    * resolution [[Streams.dropManagedTable]] uses). */
  private[streaming] def warehouseRoot(spark: SparkSession): String = {
    val wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if (wh.startsWith("file:"))
      java.nio.file.Paths.get(new java.net.URI(wh)).toString else wh
  }
}
