package graft

import org.apache.spark.sql.functions._

import graft.streaming.LsmState

/** Direct unit coverage of the LSM fold state store, independent of
  * the streaming folds built on it: for arbitrary append/compact
  * interleavings the folded view must equal the direct fold of every
  * delta ever appended — the store's one invariant. */
class LsmStateSpec extends SparkSuite with SuiteTempDirs {

  protected val rootName = "graft_lsm_spec"

  private def delta(rng: scala.util.Random, n: Int) = {
    import spark.implicits._
    Seq.fill(n)((rng.nextInt(20).toLong, rng.nextInt(100).toLong))
      .toDF("k", "v")
  }

  test("fold(view) equals fold(all deltas) under every compaction cadence") {
    val rng = new scala.util.Random(42)
    for (cadence <- Seq(1, 2, 3, 10)) {
      val root = tmpDir(s"graft_lsm_prop_$cadence")
      val st = new LsmState(spark, root,
        _.groupBy("k").agg(sum(col("v")).as("v")), cadence)
      val deltas = (0 until 5).map(i => delta(rng, 10 + rng.nextInt(20)))
      deltas.zipWithIndex.foreach { case (d, i) =>
        st.append(i.toLong, d)
        st.maybeCompact(i.toLong)
      }
      val got = st.result().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = deltas.reduce(_ unionByName _)
        .groupBy("k").agg(sum(col("v")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"cadence $cadence diverged")
      // a fresh reader (schemas inferred, not recorded) folds the same
      val fresh = new LsmState(spark, root,
        _.groupBy("k").agg(sum(col("v")).as("v")), cadence).result()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fresh == expect, s"cadence $cadence: fresh reader diverged")
      // cadence 1 compacts every batch: no live parts remain
      if (cadence == 1) {
        val parts = Option(new java.io.File(s"$root/parts").listFiles())
          .map(_.map(_.getName).count(_.startsWith("b"))).getOrElse(0)
        assert(parts == 0, s"cadence-1 left $parts parts")
      }
      // snapshot retirement: at most ONE v* dir survives any number
      // of compactions — superseded snapshots are dead storage
      val vdirs = Option(new java.io.File(root).listFiles())
        .map(_.map(_.getName).filter { n =>
          val id = n.stripSuffix("c").drop(1)
          n.startsWith("v") && id.nonEmpty && id.forall(_.isDigit)
        }.toSeq).getOrElse(Nil)
      assert(vdirs.length <= 1,
        s"cadence $cadence left superseded snapshots: $vdirs")
    }
  }

  test("view(except) hides exactly the named batch's part") {
    import spark.implicits._
    val root = tmpDir("graft_lsm_except")
    val st = new LsmState(spark, root, identity, compactEvery = 10)
    st.append(0, Seq((1L, "a")).toDF("id", "v"))
    st.append(1, Seq((2L, "b")).toDF("id", "v"))
    val without = st.view(except = Some(1L)).get
      .collect().map(_.getLong(0)).toSet
    assert(without == Set(1L), s"except view: $without")
    val full = st.view().get.collect().map(_.getLong(0)).toSet
    assert(full == Set(1L, 2L))
    // except of a batch id with no part is a no-op
    assert(st.view(except = Some(9L)).get.count() == 2L)
  }

  test("refresh() lets a detached reader observe a foreign writer's appends") {
    import spark.implicits._
    val root = tmpDir("graft_lsm_refresh")
    val writer = new LsmState(spark, root, identity, compactEvery = 2)
    writer.append(0, Seq((1L, "a")).toDF("id", "v"))
    val reader = new LsmState(spark, root, identity, compactEvery = 2)
    assert(reader.result().count() == 1L)
    // the reader's control state is cached as of first read: a
    // foreign append is invisible until refresh()
    writer.append(1, Seq((2L, "b")).toDF("id", "v"))
    assert(reader.result().count() == 1L,
      "detached reader must be stable-as-of-first-read before refresh")
    reader.refresh()
    assert(reader.result().count() == 2L,
      "refresh must re-read pointer, parts, and manifest")
  }

  test("re-appending a batch id overwrites, never duplicates (replay contract)") {
    import spark.implicits._
    val root = tmpDir("graft_lsm_replay")
    val st = new LsmState(spark, root, identity, compactEvery = 10)
    st.append(0, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    st.append(0, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(st.result().count() == 2L, "replayed append duplicated rows")
  }

  test("crash between pointer move and part cleanup: manifest masks folded parts") {
    import spark.implicits._
    val root = tmpDir("graft_lsm_crash_parts")
    val st = new LsmState(spark, root, identity, compactEvery = 2)
    st.append(0, Seq((1L, "a")).toDF("id", "v"))
    st.append(1, Seq((2L, "b")).toDF("id", "v"))
    st.maybeCompact(1)
    // simulate the crash window: resurrect a folded part AFTER the
    // pointer moved (as if cleanup never ran) — the snapshot's
    // _folded manifest must mask it out of every view
    Seq((1L, "a")).toDF("id", "v").write
      .mode("overwrite").parquet(s"$root/parts/b0")
    val ids = st.result().collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 2L),
      s"a manifest-listed part was double-presented: $ids")
    // and the next compaction reaps it for good
    st.append(2, Seq((3L, "c")).toDF("id", "v"))
    st.append(3, Seq((4L, "d")).toDF("id", "v"))
    st.maybeCompact(3)
    val parts = Option(new java.io.File(s"$root/parts").listFiles())
      .map(_.map(_.getName).count(_.startsWith("b"))).getOrElse(0)
    assert(parts == 0, s"crash-window part survived the next compaction")
    assert(st.result().count() == 4L)
  }

  test("crash between pointer move and retirement: next sweep reaps stale snapshots") {
    import spark.implicits._
    val root = tmpDir("graft_lsm_crash_vers")
    val st = new LsmState(spark, root, identity, compactEvery = 2)
    st.append(0, Seq((1L, "a")).toDF("id", "v"))
    st.append(1, Seq((2L, "b")).toDF("id", "v"))
    st.maybeCompact(1)
    // simulate: a superseded snapshot the retirement sweep never
    // reached (pointer does not name it)
    Seq((9L, "stale")).toDF("id", "v").write
      .mode("overwrite").parquet(s"$root/v0")
    // views resolve through the pointer alone — stale dir invisible
    assert(!st.result().collect().map(_.getLong(0)).contains(9L))
    st.append(2, Seq((3L, "c")).toDF("id", "v"))
    st.append(3, Seq((4L, "d")).toDF("id", "v"))
    st.maybeCompact(3)
    val vdirs = new java.io.File(root).listFiles()
      .map(_.getName).filter { n =>
        val id = n.stripSuffix("c").drop(1)
        n.startsWith("v") && id.nonEmpty && id.forall(_.isDigit)
      }.toSeq
    assert(vdirs.length == 1,
      s"stale snapshot survived the next retirement sweep: $vdirs")
    assert(st.result().count() == 4L)
  }

  test("empty-state result raises; empty view is None") {
    val root = tmpDir("graft_lsm_empty")
    val st = new LsmState(spark, root, identity)
    assert(st.view().isEmpty)
    val e = intercept[RuntimeException](st.result())
    assert(e.getMessage.contains("no state"))
  }

  /** A delta with the column shapes the folds write: non-nullable
    * longs, a nullable string and an array of non-null floats — the
    * schema a view states must be the one parquet reads back. */
  private def richDelta(rng: scala.util.Random, n: Int) = {
    import spark.implicits._
    Seq.fill(n)((rng.nextInt(20).toLong, rng.nextInt(100).toLong,
        Option(rng.nextInt(3).toString).filter(_ != "0"),
        Array.fill(2)(rng.nextFloat())))
      .toDF("k", "v", "s", "arr")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "v", "s", "arr").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)),
        r.getSeq[Float](3).toList))
      .toSeq.sortBy(_.toString)

  test("building a view after the instance's own append or compaction runs no job") {
    val root = tmpDir("graft_lsm_nojob")
    val st = new LsmState(spark, root, identity, compactEvery = 2)
    val rng = new scala.util.Random(7)
    val deltas = (0 until 4).map(_ => richDelta(rng, 15))
    deltas.zipWithIndex.foreach { case (d, i) =>
      st.append(i.toLong, d)
      val (_, afterAppend) = jobsIn(st.view(except = Some(i.toLong)))
      assert(afterAppend == 0, s"view after append $i ran $afterAppend jobs")
      st.maybeCompact(i.toLong)
      val (_, afterCompact) = jobsIn(st.view())
      assert(afterCompact == 0,
        s"view after compaction check $i ran $afterCompact jobs")
    }
    assert(rows(st.result()) == rows(deltas.reduce(_ unionByName _)))
  }

  test("a fresh reader infers the schema at most once per kind of source") {
    val root = tmpDir("graft_lsm_fresh")
    val writer = new LsmState(spark, root, identity, compactEvery = 3)
    val rng = new scala.util.Random(11)
    val deltas = (0 until 5).map(_ => richDelta(rng, 10))
    deltas.zipWithIndex.foreach { case (d, i) =>
      writer.append(i.toLong, d)
      writer.maybeCompact(i.toLong)
    }
    // a snapshot (v2) and two live parts (b3, b4): two kinds of source
    val reader = new LsmState(spark, root, identity, compactEvery = 3)
    val (first, firstJobs) = jobsIn(reader.view().get)
    assert(firstJobs <= 2, s"fresh reader's first view ran $firstJobs jobs")
    val (_, againJobs) = jobsIn(reader.view(except = Some(4L)).get)
    assert(againJobs == 0, s"second view re-inferred: $againJobs jobs")
    assert(rows(first) == rows(deltas.reduce(_ unionByName _)))
    assert(first.schema == writer.view().get.schema,
      "fresh reader and writer disagree on the schema")
  }
}
