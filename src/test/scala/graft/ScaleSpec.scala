package graft

import org.apache.spark.sql.functions._
import graft.operators.Scale

class ScaleSpec extends SparkSuite with SuiteTempDirs {

  protected val rootName = "graft_scale_spec"

  test("saltedJoin returns identical results to a plain join") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val supp = Tables.load(spark, sfDir, "supplier")
      .withColumnRenamed("s_suppkey", "l_suppkey")
    val plain = li.join(supp, Seq("l_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Scale.saltedJoin(li, supp, "l_suppkey",
        col("l_orderkey") * 10 + col("l_linenumber"), numSalts = 8)
      .groupBy("s_name").agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain)
  }

  test("autoSaltedJoin: measured skew picks the salt factor") {
    import spark.implicits._
    // pathological fixture: one key carries 5000 rows, 50 keys carry
    // 10 each — the hot key alone exceeds the average partition load
    val big = ((1 to 5000).map(i => (1L, i.toLong)) ++
      (1 to 50).flatMap(k => (1 to 10).map(i => (k + 1L, i.toLong))))
      .toDF("k", "row_id")
    val small = (1L to 51L).map(k => (k, s"dim$k")).toDF("k", "name")
    val n = Scale.suggestNumSalts(big, "k", maxSalts = 64)
    assert(n > 1, s"skewed fixture must trigger salting, got $n")
    // the derived factor actually balances the hot key: max rows any
    // (key, salt) reducer sees is ~hot/n, not hot
    val maxBucket = big.filter(col("k") === 1)
      .groupBy(pmod(xxhash64(col("row_id")), lit(n)))
      .agg(count(lit(1)).as("c"))
      .agg(max(col("c"))).head().getLong(0)
    assert(maxBucket < 5000 / n * 2,
      s"hot key split unbalanced: $maxBucket rows in one of $n buckets")
    // and the result is provably the plain join
    val plain = big.join(small, Seq("k"))
      .groupBy("name").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val auto = Scale.autoSaltedJoin(big, small, "k", col("row_id"))
      .groupBy("name").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(auto == plain)
    // balanced keys: no salting, no replication cost
    val flat = (1 to 1000).map(i => (i.toLong % 50, i.toLong))
      .toDF("k", "row_id")
    assert(Scale.suggestNumSalts(flat, "k", maxSalts = 64) == 1)
  }

  test("adaptiveJoin: each regime chosen correctly, results always the plain join") {
    import spark.implicits._
    val big = ((1 to 5000).map(i => (1L, i.toLong)) ++
      (1 to 50).flatMap(k => (1 to 10).map(i => (k + 1L, i.toLong))))
      .toDF("k", "row_id")
    val small = (1L to 51L).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = big.join(small, Seq("k"))
      .groupBy("name").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def res(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("name").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // regime 1: small side under the row cap -> explicit broadcast,
    // skew never measured
    val bc = Scale.adaptiveJoin(big, small, "k", col("row_id"))
    assert(bc.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "tiny dim must broadcast")
    assert(res(bc) == plain)
    // regime 2: broadcast ruled out (cap 0), skewed big side -> the
    // salted form (salt expression visible in the plan)
    val salted = Scale.adaptiveJoin(big, small, "k", col("row_id"),
      broadcastRows = 0L)
    assert(salted.queryExecution.analyzed.toString.contains("__salt"),
      "skewed fixture with broadcast ruled out must salt")
    assert(res(salted) == plain)
    // regime 3: broadcast ruled out, balanced keys -> plain shuffle
    // join, no replication cost
    val flat = (1 to 1000).map(i => (i.toLong % 50 + 1, i.toLong))
      .toDF("k", "row_id")
    val plainJoin = Scale.adaptiveJoin(flat, small, "k", col("row_id"),
      broadcastRows = 0L)
    assert(!plainJoin.queryExecution.analyzed.toString.contains("__salt"),
      "balanced keys must not pay salting replication")
    assert(res(plainJoin) ==
      flat.join(small, Seq("k")).groupBy("name")
        .agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("bloomPrunedJoin returns identical results to a plain join") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val urgent = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    val plain = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val bloomed = Scale
      .bloomPrunedJoin(li, urgent, "l_orderkey", "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(bloomed == plain)
  }

  test("bloom probe runs map-side: filter below the exchange, and prunes") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val urgent = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    // AQE off (query stages are leaf nodes — the filter would be
    // invisible to collect) and broadcast off so the join is a
    // sort-merge with real exchanges to sit below
    val conf = spark.conf
    val (aqe, bcast) = (conf.get("spark.sql.adaptive.enabled"),
      conf.get("spark.sql.autoBroadcastJoinThreshold"))
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Scale
        .bloomPrunedJoin(li, urgent, "l_orderkey", "o_orderkey")
      val exec = joined.queryExecution.executedPlan
      val shufflesInPlan = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shufflesInPlan.nonEmpty, s"expected a sort-merge join:\n$exec")
      val bloomFilters = exec.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.toString.contains("bloom_might_contain") => f
      }
      assert(bloomFilters.nonEmpty, s"no bloom filter in plan:\n$exec")
      bloomFilters.foreach { f =>
        val shuffles = f.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        assert(shuffles.isEmpty,
          s"bloom probe must sit below the exchange (map-side):\n$f")
      }
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
    // and it must actually prune: urgent orders are ~20% of lineitem
    val pruned = li.filter(org.apache.spark.sql.GraftBridge.column(
      graft.plans.BloomMightContain(
        org.apache.spark.sql.GraftBridge.expression(
          col("l_orderkey").cast("long")),
        urgent.select(col("o_orderkey").cast("long").as("__k"))
          .stat.bloomFilter("__k", 1000, 0.01)))).count()
    val total = li.count()
    assert(pruned < total / 2,
      s"bloom pruned $pruned of $total — no real reduction")
  }

  test("compact merges a many-small-file layout, preserving rows") {
    val src = tmpDir("graft_compact_src")
    val dest = tmpDir("graft_compact_dst") + "/out"
    val orders = Tables.load(spark, sfDir, "orders")
    orders.repartition(40).write.mode("overwrite").parquet(src)
    val smallFiles = new java.io.File(src).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(smallFiles == 40)
    Scale.compact(spark.read.parquet(src), src, dest,
      targetFileBytes = 1L << 30)
    val compacted = new java.io.File(dest).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(compacted == 1, s"expected 1 compacted file, got $compacted")
    assert(spark.read.parquet(dest).count() == orders.count())
  }

  test("zOrderedWrite clusters BOTH columns; single-col sort only one") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_quantity")
    // fraction of files whose [min,max] admits a probe value, averaged
    // over 10 evenly spaced actual values — the expected file-skip rate
    def coverage(dir: String, c: String): Double = {
      val perFile = spark.read.parquet(dir)
        .groupBy(input_file_name()).agg(min(col(c)).as("lo"), max(col(c)).as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      val probes = li.select(col(c)).distinct().orderBy(col(c))
        .collect().map(_.getLong(0))
      val picked = (0 until 10).map(i => probes(i * probes.length / 10))
      picked.map(v =>
        perFile.count { case (lo, hi) => lo <= v && v <= hi }.toDouble /
          perFile.length).sum / picked.length
    }
    val zdir = tmpDir("graft_z") + "/z"
    Scale.zOrderedWrite(li, zdir, "l_partkey", "l_suppkey", numFiles = 16)
    assert(spark.read.parquet(zdir).count() == li.count())
    val sdir = tmpDir("graft_z") + "/s"
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(sdir)
    val (zPart, zSupp) = (coverage(zdir, "l_partkey"),
      coverage(zdir, "l_suppkey"))
    val (sPart, sSupp) = (coverage(sdir, "l_partkey"),
      coverage(sdir, "l_suppkey"))
    // single-col sort: near-perfect on the sort key, useless on the other
    assert(sPart < 0.3, s"partkey-sorted baseline should prune partkey: $sPart")
    assert(sSupp > 0.9, s"suppkey should span every partkey-sorted file: $sSupp")
    // z-order: real pruning on BOTH
    assert(zPart < 0.7, s"z-order must prune partkey probes: $zPart")
    assert(zSupp < 0.7, s"z-order must prune suppkey probes: $zSupp")
  }

  test("partitionedWrite produces a layout that prunes partitions") {
    val out = tmpDir("graft_layout") + "/docs"
    val docs = Tables.load(spark, sfDir, "documents")
    Scale.partitionedWrite(docs, out, Seq("lang"), Seq("doc_id"))
    val scan = spark.read.parquet(out).filter(col("lang") === "en")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"no partition pruning in plan:\n$plan")
    assert(scan.count() ==
      docs.filter(col("lang") === "en").count())
  }
}
