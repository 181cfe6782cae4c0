package graft

import graft.operators.{Relational, Sources}
import org.apache.spark.sql.functions._

/** Plan-shape gates for the scale techniques: bucketing must actually
  * remove the exchange, and salting must actually flatten the hot key.
  */
class BucketingSpec extends SparkSpec {

  test("s17 bucketed join plans with NO exchange on either side") {
    val join = Sources.bucketedJoin(spark, sf)
    val plan = join.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    assert(plan.contains("Bucketed: true"), s"scan must use the bucket layout:\n$plan")
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    // a local per-bucket Sort remains: Spark only elides it via the legacy
    // bucketed-scan-ordering flag; the shuffle is the cost that matters
  }

  test("s26 dim filter becomes a dynamic partition filter on the fact scan") {
    val plan = Sources.dppJoin(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan must carry a runtime partition filter from the dim side:\n$plan")
  }

  test("s27 dim filter becomes a runtime bloom filter on the fact side") {
    val plan = Sources.bloomJoin(spark, sf).queryExecution.executedPlan.toString
    // Spark 4.1 renders the injected pair as might_contain (fact side) fed
    // by a bloom_filter_agg subquery (dim side)
    assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
      s"fact rows must pass through the dim-derived bloom filter:\n$plan")
    // and the filter must sit below the fact exchange (deeper in the tree =
    // later in the rendered text), or it prunes nothing before the shuffle
    assert(plan.indexOf("Exchange hashpartitioning(l_partkey") <
             plan.indexOf("might_contain"),
      s"bloom filter must sit below the fact shuffle:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"the demo only means something on the shuffle-join plan:\n$plan")
  }

  test("s25 CACHE TABLE serves the query from an InMemoryRelation") {
    val df = Sources.s25.build(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") || plan.contains("InMemoryRelation"),
      s"cached view must scan memory, not parquet:\n$plan")
    val cached = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    spark.sql("UNCACHE TABLE s25_events_v")
    val uncachedPlan = spark.sql(
      "SELECT event_type, count(*) AS n FROM s25_events_v GROUP BY event_type")
      .queryExecution.executedPlan.toString
    assert(!uncachedPlan.contains("InMemoryTableScan"),
      s"UNCACHE must drop the materialization:\n$uncachedPlan")
    // and caching never changes results
    val plain = graft.core.Tables.events(spark, sf).groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        graft.functions.Funcs.decSum(col("value")).as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(cached.sameElements(plain))
  }

  test("s17 result matches the plain (unbucketed) join") {
    val bucketed = Sources.s17.build(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val plain = graft.core.Tables.orders(spark, sf)
      .join(graft.core.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), graft.functions.Funcs.decSum(col("o_totalprice")).as("total"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(bucketed.sameElements(plain))
  }

  test("j12 salting flattens the hot key across salt buckets") {
    // the raw skewed key piles ~1/3 of lineitem onto key 1; after salting,
    // the hot key's rows spread across 8 (key, salt) groups of similar size
    val fact = graft.core.Tables.lineitem(spark, sf)
      .withColumn("k", when(pmod(col("l_partkey"), lit(3)) === 0, lit(1))
        .otherwise(col("l_partkey")))
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(8)))
    val hot = fact.filter(col("k") === 1).groupBy("salt").count().collect()
    assert(hot.length === 8, "hot key must occupy all 8 salt buckets")
    val sizes = hot.map(_.getLong(1))
    assert(sizes.max.toDouble / sizes.min < 2.0,
      s"salted buckets should be near-uniform: ${sizes.mkString(",")}")
  }

  test("a14/a15 sketch gates hold") {
    assert(Relational.a14.build(spark, sf).filter(!col("within_5pct")).count() === 0)
    assert(Relational.a15.build(spark, sf).filter(!col("within_2pct")).count() === 0)
  }

  test("interleaveBits matches a reference Morton implementation") {
    import SparkSpec.spark.implicits._
    def morton(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 31)
        z |= (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))
      z
    }
    val cases = Seq((0L, 0L), (5L, 3L), (1L, 0L), (0L, 1L),
      (1499L, 11535L), ((1L << 30) - 1, (1L << 30) - 1))
    val got = cases.toDF("a", "b")
      .select(graft.functions.Funcs.interleaveBits(col("a"), col("b")))
      .collect().map(_.getLong(0))
    assert(got.toSeq === cases.map { case (a, b) => morton(a, b) })
  }

  test("s19 z-order layout bounds per-file ranges in BOTH dimensions") {
    // per-file min/max coverage IS what file-stat pruning prunes on: a
    // file whose [min,max] misses the predicate range is skipped. A
    // single-column sort leaves the second dimension unprunable
    // (coverage ~1); the z-order layout must bound both.
    val days = datediff(col("o_orderdate").cast("date"),
      lit("1970-01-01").cast("date")).cast("long")
    val base = graft.core.Tables.orders(spark, sf)
      .select(col("o_custkey"), days.as("day"))

    def coverage(laidOut: String): (Double, Double) = {
      val df = spark.read.parquet(laidOut)
        .withColumn("f", input_file_name())
        .groupBy("f")
        .agg((max("o_custkey") - min("o_custkey")).as("ck"),
          (max("day") - min("day")).as("dy"))
        .agg(avg("ck"), avg("dy")).head()
      val Array(ckRange, dyRange) = base
        .agg(max("o_custkey") - min("o_custkey"), max("day") - min("day"))
        .head().toSeq.map(_.toString.toDouble).toArray
      (df.getDouble(0) / ckRange, df.getDouble(1) / dyRange)
    }

    val tmp = tempDir("graft-zorder")
    // same 16-bit min-max grid normalization as s19 — raw-value
    // interleave lets the wider-ranged dimension own every high z bit
    val st = base.agg(min("o_custkey").as("cmin"), max("o_custkey").as("cmax"),
      min("day").as("dmin"), max("day").as("dmax"))
    def grid(x: org.apache.spark.sql.Column,
        lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column) =
      floor((x - lo) * 65536 / (hi - lo + 1)).cast("long")
    base.crossJoin(broadcast(st))
      .withColumn("z", graft.functions.Funcs.interleaveBits(
        grid(col("o_custkey"), col("cmin"), col("cmax")),
        grid(col("day"), col("dmin"), col("dmax"))))
      .select("o_custkey", "day", "z")
      .repartitionByRange(8, col("z")).sortWithinPartitions("z")
      .drop("z").write.parquet(s"$tmp/zorder")
    base.repartitionByRange(8, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.parquet(s"$tmp/onedim")

    val (zCk, zDy) = coverage(s"$tmp/zorder")
    val (sCk, sDy) = coverage(s"$tmp/onedim")
    assert(zCk < 0.7 && zDy < 0.7,
      s"z-order files must be tight in both dims: ck=$zCk day=$zDy")
    assert(sCk < 0.3, s"sanity: the single-dim sort is tight on its own key: $sCk")
    assert(sDy > 0.9, s"single-dim sort leaves the date dimension unprunable: $sDy")
  }

  test("s31 pruning report: clustered layout prunes, scans cover all matches") {
    val rows = graft.operators.Sources.s31.build(spark, sf).collect()
      .map(r => r.getAs[String]("layout") ->
        (r.getAs[Long]("n_files_hit"), r.getAs[Long]("rows_scanned"),
          r.getAs[Long]("n_match"))).toMap
    assert(rows.keySet == Set("insertion", "time", "clustered"))
    // every matching row must live in a scanned file (min-max skipping is
    // never allowed to lose rows), so rows_scanned >= n_match
    rows.values.foreach { case (hit, scanned, matched) =>
      assert(hit >= 1 && hit <= 32)
      assert(scanned >= matched)
    }
    // the predicate column is uncorrelated with insertion/time order, so
    // those layouts scan (nearly) everything; clustering must beat both
    val (cHit, _, _) = rows("clustered")
    assert(cHit < rows("insertion")._1 && cHit < rows("time")._1,
      s"clustered layout should prune: $rows")
    // all three layouts agree on the true match count
    assert(rows.values.map(_._3).toSet.size == 1)
  }
}
