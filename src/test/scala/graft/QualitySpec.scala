package graft

import org.apache.spark.sql.functions._
import graft.operators.Quality

class QualitySpec extends SparkSuite with SuiteTempDirs {
  protected val rootName = "graft_quality_spec"
  import spark.implicits._

  test("expectAll counts each violation class in one scan") {
    val df = Seq((1, Some("a")), (2, None), (-3, Some("b")))
      .toDF("x", "s")
    val rep = Quality.expectAll(df, Seq(
        "x_positive" -> (col("x") <= 0),
        "s_not_null" -> col("s").isNull))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep == Map("x_positive" -> 1L, "s_not_null" -> 1L))
    // fused: exactly one aggregate pass over the source
    val aggs = Quality.expectAll(df, Seq(
        "a" -> (col("x") <= 0), "b" -> col("s").isNull))
      .queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
    assert(aggs.size == 1, s"expected one fused aggregate, got $aggs")
  }

  test("expectAll on an empty table reports zero violations, not null") {
    val rep = Quality.expectAll(Seq.empty[Int].toDF("x"),
        Seq("x_positive" -> (col("x") <= 0)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep == Map("x_positive" -> 0L))
  }

  test("expectUnique counts rows beyond the first per key") {
    val df = Seq(1, 1, 1, 2, 3, 3).toDF("k")
    val rep = Quality.expectUnique(df, "k_unique", Seq("k")).head()
    assert(rep.getString(0) == "k_unique" && rep.getLong(1) == 3L)
  }

  test("expectReferential counts orphans, ignoring NULL child keys") {
    val child = Seq(Some(1), Some(2), None, Some(9)).toDF("ck")
    val parent = Seq(1, 2, 3).toDF("pk")
    val rep = Quality
      .expectReferential(child, parent, "ck_ref", "ck", "pk").head()
    assert(rep.getString(0) == "ck_ref" && rep.getLong(1) == 1L,
      s"only the orphan 9 counts: $rep")
  }

  test("profile: one row per column, exact stats, nulls counted") {
    val df = Seq(
      (Some(1.0), Some("a")),
      (Some(2.0), None),
      (Some(2.0), Some("b")),
      (None, Some("a"))
    ).toDF("v", "s")
    val got = Quality.profile(df, Seq("v"), Seq("s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val v = got("v")
    assert(v.getLong(1) == 3L && v.getLong(2) == 1L && v.getLong(3) == 2L)
    assert(v.getDouble(4) == 1.0 && v.getDouble(5) == 2.0)
    assert(v.isNullAt(6) && v.isNullAt(7))
    val sRow = got("s")
    assert(sRow.getLong(1) == 3L && sRow.getLong(2) == 1L &&
      sRow.getLong(3) == 2L)
    assert(sRow.isNullAt(4) && sRow.isNullAt(5))
    assert(sRow.getString(6) == "a" && sRow.getString(7) == "b")
  }

  test("profile runs as ONE job over one scan (single aggregate plan)") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val prof = Quality.profile(li, Seq("l_quantity"), Seq("l_returnflag"))
    assert(prof.count() == 2)
  }

  test("fused columnar profile equals the general plan on adversarial " +
      "values (NaN, -0.0, all-null, longs, non-ASCII) and a filter " +
      "defeats its gate") {
    import org.apache.spark.sql.functions.{col, lit}
    val tmp = tmpDir("profspec") + "/t.parquet"
    Seq[(Option[Double], Option[Long], Option[Double], Option[String])](
      (Some(1.5), Some(7L), None, Some("a")),
      (Some(Double.NaN), Some(-3L), None, Some("éclair")),
      (Some(-0.0), Some(Long.MaxValue), None, Some("")),
      (Some(0.0), None, None, None),
      (Some(1.5), Some(7L), None, Some("zz"))
    ).toDF("d", "l", "allnull", "s").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val raw = spark.read.parquet(tmp)
    val num = Seq("d", "l", "allnull")
    val fused = Quality.profile(raw, num, Seq("s"))
      .orderBy("column_name").collect()
    // a filter above the scan must force the general plan — and the
    // general plan doubles as the value oracle here
    val filtered = raw.filter(col("d").isNotNull || lit(true))
    val general = Quality.profile(filtered, num, Seq("s"))
      .orderBy("column_name").collect()
    assert(fused.toSeq == general.toSeq,
      s"fused $fused vs general $general")
    // spot-pin the tricky ones: NaN is the max (Spark order), -0.0
    // and 0.0 count as ONE distinct value, all-null profiles to nulls
    val byName = fused.map(r => r.getString(0) -> r).toMap
    assert(byName("d").getDouble(5).isNaN)
    assert(byName("d").getLong(3) == 3L) // {1.5, NaN, ±0.0-as-one}
    val an = byName("allnull")
    assert(an.getLong(1) == 0 && an.getLong(2) == 5 && an.getLong(3) == 0
      && an.isNullAt(4) && an.isNullAt(5))
    assert(byName("l").getDouble(5) == Long.MaxValue.toDouble)
  }

  test("histogram: counts partition the rows, max closes last bucket") {
    val df = (0 to 100).map(_.toDouble).toDF("v")
    val h = Quality.histogram(df, col("v"), 10)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    assert(h.keySet == (0L to 9L).toSet)
    assert(h.values.map(_._3).sum == 101L)
    assert(h(9L)._3 == 11L) // 90..100 inclusive: max folds into bucket 9
    assert(h(0L)._1 == 0.0 && h(9L)._2 == 100.0)
  }

  test("histogram: degenerate single-value input → one bucket") {
    val df = Seq(5.0, 5.0, 5.0).toDF("v")
    val h = Quality.histogram(df, col("v"), 10).collect()
    assert(h.length == 1 && h.head.getLong(0) == 0L &&
      h.head.getLong(3) == 3L)
  }

  test("fdConsistency: exact FD scores 1.0, violations localized, ties to min") {
    val df = Seq(
      // k=1: exact FD (all rows map to "a")
      (1, "a"), (1, "a"), (1, "a"),
      // k=2: majority "b" (2 of 3)
      (2, "b"), (2, "b"), (2, "c"),
      // k=3: 2-2 tie between "x" and "y" -> dominant must be MIN ("x")
      (3, "y"), (3, "x"), (3, "y"), (3, "x")
    ).toDF("k", "v")
    val got = Quality.fdConsistency(df, col("k"), col("v"))
      .collect()
      .map(r => r.getAs[Int]("key") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_vals"),
          r.getAs[String]("dominant_val"), r.getAs[Long]("n_consistent"),
          r.getAs[Double]("consistency"))).toMap
    assert(got(1) == (3L, 1L, "a", 3L, 1.0), s"k=1: ${got(1)}")
    assert(got(2) == (3L, 2L, "b", 2L, 0.6666), s"k=2: ${got(2)}")
    assert(got(3) == (4L, 2L, "x", 2L, 0.5), s"k=3: ${got(3)}")
  }

  test("audit unions checks and flags pass/fail") {
    val df = Seq(1, -1).toDF("x")
    val rep = Quality.audit(Seq(
        Quality.expectAll(df, Seq("neg" -> (col("x") < 0))),
        Quality.expectUnique(df, "uniq", Seq("x"))))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(rep == Map("neg" -> "fail", "uniq" -> "pass"))
  }
}
