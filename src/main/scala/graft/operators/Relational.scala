package graft.operators

import graft.api.GraftQuery
import graft.core.Tables
import graft.functions.Funcs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Relational operator surface: projections/filters (P1-P8), joins (J1-J9),
  * aggregations (A1-A8, A10), window dedup (W1), sorts/limits (O1-O3), and
  * scalar functions (F-series), each mapped onto the driver test tables with
  * a DuckDB oracle.
  *
  * Reference semantics per SURVEY.md §2; provenance cited per query. All
  * plans are declarative DataFrame chains so Catalyst keeps pushdown,
  * pruning, partial aggregation and broadcast selection; money-typed sums go
  * through [[graft.functions.Funcs.decSum]] for cross-engine determinism.
  */
object Relational {

  private def q(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, build, Some(oracle))

  // ---------------------------------------------------------------- P series

  /** P1+F13: parse a JSON envelope column, project nested fields `data.*`
    * (reference: pyspark-job.py:135-138).
    */
  val p1 = q(
    "p1_nested_projection",
    "SELECT event_id, CAST(props->>'$.k' AS INT) AS k FROM events") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType)))).as("data"))
      .select(col("event_id"), col("data.*"))
  }

  /** P2: withColumn / rename / drop chains (reference: pyspark-job.py:199-204). */
  val p2 = q(
    "p2_column_chain",
    """SELECT c_custkey, c_name AS name, c_nationkey, c_acctbal,
      |CASE WHEN c_acctbal >= 5000 THEN 'high' ELSE 'low' END AS bal_tier
      |FROM customer""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .withColumn("bal_tier", when(col("c_acctbal") >= 5000, "high").otherwise("low"))
      .withColumnRenamed("c_name", "name")
      .drop("c_mktsegment")
  }

  /** P3: predicate filter (alert condition shape, pyspark-job.py:142). */
  val p3 = q(
    "p3_predicate_filter",
    "SELECT event_id, user_id, value FROM events WHERE event_type = 'error' AND value > 100") {
    (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "error" && col("value") > 100)
        .select("event_id", "user_id", "value")
  }

  /** P4: null filter after a null-producing projection (pyspark-job.py:198). */
  val p4 = q(
    "p4_null_filter",
    "SELECT event_id, value AS v FROM events WHERE value >= 50") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        when(col("value") < 50, lit(null)).otherwise(col("value")).as("v"))
      .filter(col("v").isNotNull)
  }

  /** P5: BETWEEN range predicate on timestamps (part3:530,548). */
  val p5 = q(
    "p5_between",
    """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
      |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 23:59:59'""".stripMargin) {
    (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderdate").between(
          to_timestamp(lit("1996-01-01 00:00:00")), to_timestamp(lit("1997-12-31 23:59:59"))))
        .select("o_orderkey", "o_orderdate", "o_totalprice")
  }

  /** P6+F4: scalar-subquery predicate, ts > max(ts) - 90 days (part3:181-184).
    * Expressed in Spark SQL so Catalyst plans the scalar subquery natively.
    */
  val p6 = q(
    "p6_scalar_subquery",
    """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
      |WHERE l_shipdate > (SELECT max(l_shipdate) - INTERVAL 90 DAY FROM lineitem)""".stripMargin) {
    (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("li_p6")
      s.sql("""SELECT l_orderkey, l_linenumber, l_shipdate FROM li_p6
              |WHERE l_shipdate > (SELECT max(l_shipdate) - INTERVAL 90 DAY FROM li_p6)""".stripMargin)
  }

  /** P7: equality predicate on a string key, through a dim join (part3:627). */
  val p7 = q(
    "p7_string_key_eq",
    """SELECT c.c_custkey, c.c_name, c.c_acctbal FROM customer c
      |JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE n.n_name = 'NATION_7'""".stripMargin) {
    (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_7")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_name", "c_acctbal")
  }

  /** P8+F19: computed-column projection (demand-metric arithmetic, part3:149-151). */
  val p8 = q(
    "p8_computed_projection",
    """SELECT l_orderkey, l_linenumber,
      |l_extendedprice * (1 - l_discount) AS revenue,
      |l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
      |FROM lineitem""".stripMargin) { (s, d) =>
    // raw IEEE products — bitwise identical across engines; rounding doubles
    // is NOT cross-engine-stable (Spark rounds the shortest decimal repr)
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
      (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
        .as("charge"))
  }

  // ---------------------------------------------------------------- J series

  /** J1: inner equi-join on a 2-key composite (rides x ridership shape,
    * part2:431-436): first lineitem of each order via composite-key self-join.
    */
  val j1 = q(
    "j1_composite_2key_join",
    """WITH fl AS (SELECT l_orderkey, min(l_linenumber) AS l_linenumber
      |            FROM lineitem GROUP BY l_orderkey)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, l.l_extendedprice
      |FROM lineitem l JOIN fl ON l.l_orderkey = fl.l_orderkey AND l.l_linenumber = fl.l_linenumber""".stripMargin) {
    (s, d) =>
      val li = Tables.lineitem(s, d)
      val first = li.groupBy("l_orderkey").agg(min("l_linenumber").as("l_linenumber"))
      li.join(first, Seq("l_orderkey", "l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
  }

  /** J2: left outer equi-join, dim-preserving (part2:281-283). */
  val j2 = q(
    "j2_left_outer_join",
    """SELECT n.n_name, count(c.c_custkey) AS cust_cnt FROM nation n
      |LEFT JOIN customer c ON n.n_nationkey = c.c_nationkey GROUP BY n.n_name""".stripMargin) {
    (s, d) =>
      Tables.nation(s, d)
        .join(Tables.customer(s, d), col("n_nationkey") === col("c_nationkey"), "left")
        .groupBy("n_name").agg(count(col("c_custkey")).as("cust_cnt"))
  }

  /** J3+X6: inner join with an explicitly broadcast small side (part2:300). */
  val j3 = q(
    "j3_broadcast_join",
    """SELECT r.r_name, count(*) AS nation_cnt FROM nation n
      |JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name""".stripMargin) {
    (s, d) =>
      Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("nation_cnt"))
  }

  /** J4+M1: CTAS feature build with left joins to dims (part3:124-157):
    * materialize the feature table to Parquet, read it back, aggregate.
    */
  val j4 = q(
    "j4_feature_ctas_left_joins",
    """SELECT p.p_brand, count(*) AS n,
      |CAST(SUM(CAST(l.l_extendedprice - p.p_retailprice * l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_margin,
      |max(s.s_acctbal) AS max_supp_bal
      |FROM lineitem l
      |LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |GROUP BY p.p_brand""".stripMargin) { (s, d) =>
    val features = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"), "left")
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"), "left")
      .select(col("p_brand"), col("s_acctbal"),
        (col("l_extendedprice") - col("p_retailprice") * col("l_quantity")).as("margin"))
    val path = graft.core.Scratch.run("j4_features")
    features.write.mode("overwrite").parquet(path)
    Tables.readBack(features, path).groupBy("p_brand")
      .agg(count(lit(1)).as("n"), decSum(col("margin")).as("total_margin"),
        max(col("s_acctbal")).as("max_supp_bal"))
  }

  /** J5+A4: verification join with theta residual, expected empty
    * (conservation invariant, part0:334-358): hourly counts must equal
    * minute-level counts re-aggregated to the hour.
    */
  val j5 = q(
    "j5_verification_residual",
    """WITH hourly AS (SELECT date_trunc('hour', ts) AS h, count(*) AS c FROM events GROUP BY 1),
    |minutely AS (SELECT date_trunc('minute', ts) AS m, count(*) AS c FROM events GROUP BY 1),
    |reagg AS (SELECT date_trunc('hour', m) AS h, CAST(sum(c) AS BIGINT) AS c2 FROM minutely GROUP BY 1)
    |SELECT hourly.h, hourly.c, reagg.c2 FROM hourly JOIN reagg ON hourly.h = reagg.h
    |WHERE hourly.c != reagg.c2""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("h")).agg(count(lit(1)).as("c"))
    val reagg = ev.groupBy(date_trunc("minute", col("ts")).as("m")).agg(count(lit(1)).as("c"))
      .groupBy(date_trunc("hour", col("m")).as("h")).agg(sum("c").cast(LongType).as("c2"))
    hourly.join(reagg, "h").filter(col("c") =!= col("c2"))
  }

  /** J6+F6: equi-join on a computed time-bucket key plus two more keys
    * (forecast-vs-actual shape, part3:612-629).
    */
  val j6 = q(
    "j6_computed_bucket_join",
    """WITH a AS (SELECT time_bucket(INTERVAL '5 minutes', ts) AS b, event_type, user_id, count(*) AS cnt
      |           FROM events GROUP BY 1, 2, 3)
      |SELECT e.event_id, a.cnt FROM events e
      |JOIN a ON time_bucket(INTERVAL '5 minutes', e.ts) = a.b
      |      AND e.event_type = a.event_type AND e.user_id = a.user_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val agg = ev.groupBy(timestampBucket(col("ts"), 300).as("b"), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    ev.withColumn("b", timestampBucket(col("ts"), 300))
      .join(agg, Seq("b", "event_type", "user_id"))
      .select("event_id", "cnt")
  }

  /** J7: 3-key LEFT join with nulls coalesced (part3:704-718). */
  val j7 = q(
    "j7_3key_left_join",
    """WITH a AS (SELECT time_bucket(INTERVAL '5 minutes', ts) AS b, event_type, user_id, count(*) AS cnt
      |           FROM events GROUP BY 1, 2, 3 HAVING count(*) >= 2)
      |SELECT e.event_id, COALESCE(a.cnt, 0) AS cnt FROM events e
      |LEFT JOIN a ON time_bucket(INTERVAL '5 minutes', e.ts) = a.b
      |           AND e.event_type = a.event_type AND e.user_id = a.user_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val agg = ev.groupBy(timestampBucket(col("ts"), 300).as("b"), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
    ev.withColumn("b", timestampBucket(col("ts"), 300))
      .join(agg, Seq("b", "event_type", "user_id"), "left")
      .select(col("event_id"), coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** J8+F11+M7: 3-way join with null filter -> effectively inner
    * (model-vs-model comparison shape, part3:759-781).
    */
  val j8 = q(
    "j8_threeway_join_nullfilter",
    """WITH base AS (SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(value) AS all_avg FROM events GROUP BY user_id),
      |c AS (SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(value) AS click_avg FROM events WHERE event_type = 'click' GROUP BY user_id),
      |v AS (SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(value) AS view_avg FROM events WHERE event_type = 'view' GROUP BY user_id)
      |SELECT base.user_id, base.all_avg, c.click_avg, v.view_avg,
      |ABS(c.click_avg - v.view_avg) AS avg_gap
      |FROM base LEFT JOIN c ON base.user_id = c.user_id LEFT JOIN v ON base.user_id = v.user_id
      |WHERE c.click_avg IS NOT NULL AND v.view_avg IS NOT NULL""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val base = ev.groupBy("user_id").agg(decAvg(col("value")).as("all_avg"))
    val clicks = ev.filter(col("event_type") === "click").groupBy("user_id")
      .agg(decAvg(col("value")).as("click_avg"))
    val views = ev.filter(col("event_type") === "view").groupBy("user_id")
      .agg(decAvg(col("value")).as("view_avg"))
    base.join(clicks, Seq("user_id"), "left").join(views, Seq("user_id"), "left")
      .filter(col("click_avg").isNotNull && col("view_avg").isNotNull)
      .withColumn("avg_gap", abs(col("click_avg") - col("view_avg")))
  }

  /** J9+F7+F9: lateral explode(sequence(0,59)) x60 minute spreading
    * (part0:324-325, floor/pmod/round/when at part0:317-323).
    */
  val j9 = q(
    "j9_lateral_explode60",
    """SELECT o_orderkey, CAST(t.m AS INT) AS m,
      |o_totalprice / 60 AS minute_price,
      |CASE WHEN t.m % 15 = 0 THEN 1 ELSE 0 END AS quarter_flag,
      |CAST(FLOOR(o_totalprice / 60) AS BIGINT) AS floor_share
      |FROM orders CROSS JOIN generate_series(0, 59) t(m)""".stripMargin) { (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      explode(sequence(lit(0), lit(59))).as("m"),
      (col("o_totalprice") / 60).as("minute_price"),
      col("o_totalprice"))
      .select(col("o_orderkey"), col("m"), col("minute_price"),
        when(pmod(col("m"), lit(15)) === 0, 1).otherwise(0).as("quarter_flag"),
        floor(col("o_totalprice") / 60).as("floor_share"))
  }

  // ---------------------------------------------------------------- A series

  /** J10: left-semi + left-anti joins — absent from the reference surface
    * (SURVEY §2.3 note) but part of a complete engine's join matrix:
    * customers with orders (semi) and without (anti), counted per nation.
    */
  val j10 = q(
    "j10_semi_anti_join",
    """SELECT c.c_nationkey,
      |count(CASE WHEN o.c_custkey IS NOT NULL THEN 1 END) AS with_orders,
      |count(CASE WHEN o.c_custkey IS NULL THEN 1 END) AS without_orders
      |FROM customer c LEFT JOIN (SELECT DISTINCT o_custkey AS c_custkey FROM orders) o
      |USING (c_custkey) GROUP BY c.c_nationkey""".stripMargin) { (s, d) =>
    val cust = Tables.customer(s, d)
    val orders = Tables.orders(s, d)
    val semi = cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_semi")
      .groupBy("c_nationkey").agg(count(lit(1)).as("with_orders"))
    val anti = cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_anti")
      .groupBy("c_nationkey").agg(count(lit(1)).as("without_orders"))
    cust.select("c_nationkey").distinct()
      .join(semi, Seq("c_nationkey"), "left")
      .join(anti, Seq("c_nationkey"), "left")
      .select(col("c_nationkey"),
        coalesce(col("with_orders"), lit(0L)).as("with_orders"),
        coalesce(col("without_orders"), lit(0L)).as("without_orders"))
  }

  /** A1: min/max hash agg per key (part2:269-272). */
  val a1 = q(
    "a1_minmax_agg",
    "SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts, count(*) AS n FROM events GROUP BY user_id") {
    (s, d) =>
      Tables.events(s, d).groupBy("user_id")
        .agg(min("ts").as("first_ts"), max("ts").as("last_ts"), count(lit(1)).as("n"))
  }

  /** A2: max-of-min / min-of-max two-level agg (part2:288-293). */
  val a2 = q(
    "a2_minmax_of_minmax",
    """WITH per_cust AS (SELECT o_custkey, min(o_orderdate) AS mn, max(o_orderdate) AS mx
      |                  FROM orders GROUP BY o_custkey)
      |SELECT c.c_nationkey, max(pc.mn) AS max_of_min, min(pc.mx) AS min_of_max
      |FROM per_cust pc JOIN customer c ON pc.o_custkey = c.c_custkey
      |GROUP BY c.c_nationkey""".stripMargin) { (s, d) =>
    val perCust = Tables.orders(s, d).groupBy("o_custkey")
      .agg(min("o_orderdate").as("mn"), max("o_orderdate").as("mx"))
    perCust.join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(max("mn").as("max_of_min"), min("mx").as("min_of_max"))
  }

  /** A3+F1: SUM grouped by a custom-format parsed timestamp (part0:290-299).
    * The string column is produced with the same format, then parsed back —
    * exercising the full format round-trip at second grain.
    */
  val a3 = q(
    "a3_sum_by_parsed_ts",
    """SELECT strptime(strftime(ts, '%m/%d/%Y %I:%M:%S %p'), '%m/%d/%Y %I:%M:%S %p') AS parsed_ts,
      |count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(parseMtaTimestamp(formatMtaTimestamp(col("ts"))).as("parsed_ts"), col("value"))
      .groupBy("parsed_ts")
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("total"))
  }

  /** A4+F5: re-aggregate by date_trunc hour (part0:340-347). */
  val a4 = q(
    "a4_trunc_hour_agg",
    """SELECT date_trunc('hour', ts) AS h, count(*) AS n,
      |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d).groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("total"))
  }

  /** A5+F8: AVG by month x day-of-week groupings (part3:313-371).
    * Spark dayofweek is 1=Sunday; DuckDB dow is 0=Sunday, hence the +1.
    */
  val a5 = q(
    "a5_avg_by_groupings",
    """SELECT CAST(EXTRACT(month FROM ts) AS INT) AS mo,
      |CAST(EXTRACT(dow FROM ts) + 1 AS INT) AS dow, count(*) AS n,
      |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(value) AS avg_value
      |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(month(col("ts")).as("mo"), dayofweek(col("ts")).as("dow"))
      .agg(count(lit(1)).as("n"), decAvg(col("value")).as("avg_value"))
  }

  /** A6: exact percentile quantiles per group (APPROX_QUANTILES shape,
    * part3:277-282; SURVEY notes exact percentile is acceptable). Rounded to
    * 6 decimals: both engines use linear interpolation but may differ in the
    * final ulp.
    */
  val a6 = q(
    "a6_percentile_quantiles",
    """WITH q AS (SELECT event_type, list_transform(quantile_cont(value, [0.0, 0.25, 0.5, 0.75, 1.0]),
      |x -> round(x, 6)) AS qs FROM events GROUP BY event_type)
      |SELECT event_type, CAST(t.i - 1 AS INT) AS q_idx, qs[t.i] AS quantile
      |FROM q CROSS JOIN generate_series(1, 5) t(i)""".stripMargin) { (s, d) =>
    // one row per (group, quantile) — scalar outputs compare robustly
    Tables.events(s, d).groupBy("event_type")
      .agg(expr("transform(percentile(value, array(0.0D, 0.25D, 0.5D, 0.75D, 1.0D)), x -> round(x, 6))")
        .as("qs"))
      .select(col("event_type"), posexplode(col("qs")).as(Seq("q_idx", "quantile")))
  }

  /** A7: collect_list per key, canonically sorted (pyspark-job.py:190-196;
    * sorted because collect order is nondeterministic by design).
    */
  val a7 = q(
    "a7_collect_list_sorted",
    """SELECT user_id, array_to_string(list(event_id ORDER BY event_id), ',') AS event_ids,
      |CAST(len(list(event_id)) AS INT) AS n FROM events GROUP BY user_id""".stripMargin) {
    (s, d) =>
      // stringified (integers format identically across engines) so the
      // compare is scalar; the aggregate itself is the real collect_list
      Tables.events(s, d).groupBy("user_id")
        .agg(concat_ws(",", sort_array(collect_list(col("event_id")))).as("event_ids"),
          size(collect_list(col("event_id"))).as("n"))
  }

  /** A7b: collect_list of STRUCTS per key (pyspark-job.py:190-196 collects
    * whole ride structs, not scalars). Sorted by the unique first field,
    * serialized to JSON so the row compare stays scalar — Spark's `to_json`
    * and DuckDB's struct-list `to_json` agree byte-for-byte on
    * integer/string fields.
    */
  val a7b = q(
    "a7b_collect_struct_json",
    """SELECT user_id, to_json(list(struct_pack(event_id := event_id, event_type := event_type)
      |  ORDER BY event_id)) AS events_json, count(*) AS n
      |FROM events GROUP BY user_id""".stripMargin) { (s, d) =>
    Tables.events(s, d).groupBy("user_id")
      .agg(to_json(sort_array(collect_list(struct(col("event_id"), col("event_type")))))
        .as("events_json"),
        count(lit(1)).as("n"))
  }

  /** A8+F6: 5-minute bucket aggregation (part3:461-469). */
  val a8 = q(
    "a8_bucket5_agg",
    """SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_ts, count(*) AS n,
      |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d).groupBy(timestampBucket(col("ts"), 300).as("bucket_ts"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("total"))
  }

  /** F6-native: the same 5-minute bucket aggregation as A8 through the
    * custom codegen'd Catalyst expression (graft.plans.TimestampBucketExpr)
    * injected via GraftExtensions — proving the native path returns
    * identical results to both the composed helper and the oracle.
    */
  val f6n = q(
    "f6_timestamp_bucket_native",
    """SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_ts, count(*) AS n,
      |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
    graft.plans.GraftExtensions.register(s)
    Tables.events(s, d)
      .groupBy(call_function("graft_timestamp_bucket", col("ts"), lit(300L)).as("bucket_ts"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("total"))
  }

  /** A10: scalar agg subquery MAX as a filter bound (part3:181,227). */
  val a10 = q(
    "a10_scalar_agg_subquery",
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders)""".stripMargin) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders_a10")
    s.sql("""SELECT o_orderkey, o_totalprice FROM orders_a10
            |WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders_a10)""".stripMargin)
  }

  // ------------------------------------------------------------- W/O series

  /** W1: row_number dedup-keep-first (part0:264-271). */
  val w1 = q(
    "w1_rownumber_dedup",
    """SELECT event_id, user_id, event_type, ts, value FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1""".stripMargin) {
    (s, d) =>
      val w = Window.partitionBy("user_id", "event_type").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("event_id", "user_id", "event_type", "ts", "value")
  }

  /** O1: global ORDER BY on write (part0:326). */
  val o1 = q(
    "o1_global_orderby",
    "SELECT event_id, user_id, ts FROM events ORDER BY user_id, ts, event_id") { (s, d) =>
    Tables.events(s, d).orderBy("user_id", "ts", "event_id").select("event_id", "user_id", "ts")
  }

  /** O2: ORDER BY on an aggregated result set (part3:186,232). */
  val o2 = q(
    "o2_orderby_result",
    """SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM events GROUP BY event_type ORDER BY revenue DESC""".stripMargin) { (s, d) =>
    Tables.events(s, d).groupBy("event_type").agg(decSum(col("value")).as("revenue"))
      .orderBy(col("revenue").desc)
  }

  /** O3+O5: deterministic LIMIT top-k (part1:116-122). */
  val o3 = q(
    "o3_limit_topk",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10") {
    (s, d) =>
      Tables.orders(s, d).orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice").limit(10)
  }

  // ---------------------------------------------------------------- F series

  /** F2: regexp_replace + cast (part0:257,294). */
  val f2 = q(
    "f2_regex_replace_cast",
    """SELECT doc_id, CAST(regexp_replace(source, '[^0-9]', '', 'g') AS BIGINT) AS src_num
      |FROM documents""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), regexp_replace(col("source"), "[^0-9]", "").cast(LongType).as("src_num"))
  }

  /** F3: timestampadd MINUTE / DAY (part0:315). */
  val f3 = q(
    "f3_timestampadd",
    """SELECT event_id, ts + INTERVAL 30 MINUTE AS ts_plus30m, ts + INTERVAL 1 DAY AS ts_plus1d
      |FROM events""".stripMargin) { (s, d) =>
    Tables.events(s, d).select(col("event_id"),
      expr("timestampadd(MINUTE, 30, ts)").as("ts_plus30m"),
      expr("timestampadd(DAY, 1, ts)").as("ts_plus1d"))
  }

  /** F10: SAFE_DIVIDE via try_divide + coalesce (part3:150-151). */
  val f10 = q(
    "f10_safe_divide",
    """SELECT l_orderkey, l_linenumber, COALESCE(l_tax / NULLIF(l_discount, 0), 0) AS tax_ratio
      |FROM lineitem""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      safeDivide(col("l_tax"), col("l_discount")).as("tax_ratio"))
  }

  /** F12+F18: regexp capture-group replace on a constructed ride-id
    * (bq_service.py:61-62; id construction part2:364-366).
    */
  val f12 = q(
    "f12_regex_capture_group",
    """SELECT event_id, regexp_replace(CONCAT(CAST(event_id AS VARCHAR), '_', strftime(ts, '%Y-%m-%d_%H-%M-%S')),
      |'^(\d+)_(\d{4})', '\1_2025') AS shifted_rid FROM events""".stripMargin) { (s, d) =>
    Tables.events(s, d).select(col("event_id"),
      regexp_replace(
        concat(col("event_id").cast("string"), lit("_"), date_format(col("ts"), "yyyy-MM-dd_HH-mm-ss")),
        "^(\\d+)_(\\d{4})", "$1_2025").as("shifted_rid"))
  }

  /** F14+F15: to_json(struct(...)) (pyspark-job.py:146-152). */
  val f14 = q(
    "f14_to_json_struct",
    """SELECT event_id, to_json(struct_pack(event_id := event_id, event_type := event_type)) AS payload
      |FROM events""".stripMargin) { (s, d) =>
    Tables.events(s, d).select(col("event_id"),
      to_json(struct(col("event_id"), col("event_type"))).as("payload"))
  }

  /** F15+F17: struct pack then field access (part2:417; pyspark-job.py:199-203). */
  val f15 = q(
    "f15_struct_pack_access",
    "SELECT event_id, user_id AS uid, value AS v FROM events") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), struct(col("user_id").as("uid"), col("value").as("v")).as("s"))
      .select(col("event_id"), col("s.uid").as("uid"), col("s.v").as("v"))
  }

  /** F16: explode an array column, aggregate the elements (part2:277). */
  val f16 = q(
    "f16_explode_array",
    """WITH ex AS (SELECT label, unnest(embedding) AS u FROM embeddings)
      |SELECT label, count(*) AS n, CAST(min(u) AS DOUBLE) AS min_v, CAST(max(u) AS DOUBLE) AS max_v
      |FROM ex GROUP BY label""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"), explode(col("embedding")).as("u"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), min("u").cast("double").as("min_v"),
        max("u").cast("double").as("max_v"))
  }

  /** F20: registered UDF invoked via expr (pyspark-job.py:185,197). Kept off
    * large inputs — a real engine path would use a native expression.
    */
  val f20 = q(
    "f20_registered_udf",
    "SELECT doc_id, least(1.0, n_chars / 500.0) AS quality FROM documents") { (s, d) =>
    s.udf.register("graft_quality01", (n: Long) => math.min(1.0, n / 500.0))
    Tables.documents(s, d).selectExpr("doc_id", "graft_quality01(n_chars) AS quality")
  }

  /** U3-v1: latest-state per key via max_by(struct, seq) + tombstone filter
    * (pyspark-job.py:34-54; SURVEY §7.3 clean-semantics variant).
    */
  val u3 = q(
    "u3_latest_state",
    """WITH latest AS (SELECT user_id, arg_max(event_type, event_id) AS last_type,
      |arg_max(value, event_id) AS last_value, max(event_id) AS last_event_id
      |FROM events GROUP BY user_id)
      |SELECT user_id, last_type, last_value, last_event_id FROM latest
      |WHERE last_type <> 'error'""".stripMargin) { (s, d) =>
    Tables.events(s, d).groupBy("user_id")
      .agg(max_by(col("event_type"), col("event_id")).as("last_type"),
        max_by(col("value"), col("event_id")).as("last_value"),
        max(col("event_id")).as("last_event_id"))
      .filter(col("last_type") =!= "error")
  }

  /** A11 (beyond reference): exact distinct aggregation — the reference has
    * no distinct-agg anywhere (SURVEY §2.4 note); a complete engine needs
    * it. Catalyst plans it as a two-phase expand + agg.
    */
  val a11 = q(
    "a11_count_distinct",
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
      |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
  }

  /** A12 (beyond reference): ROLLUP with subtotal and grand-total rows. */
  val a12 = q(
    "a12_rollup",
    """SELECT CAST(EXTRACT(month FROM ts) AS INT) AS mo, event_type, count(*) AS n
      |FROM events GROUP BY ROLLUP(mo, event_type)""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .rollup(month(col("ts")).as("mo"), col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** A13 (beyond reference): CUBE over both grouping dimensions. */
  val a13 = q(
    "a13_cube",
    """SELECT CAST(EXTRACT(dow FROM ts) + 1 AS INT) AS dow, event_type, count(*) AS n
      |FROM events GROUP BY CUBE(dow, event_type)""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .cube(dayofweek(col("ts")).as("dow"), col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** SET1 (beyond reference, SURVEY §2.7 notes none exist): UNION /
    * INTERSECT / EXCEPT with distinct semantics, summarized as counts.
    */
  val set1 = q(
    "set1_union_intersect_except",
    """WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
      |b AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000),
      |u AS (SELECT k FROM a UNION SELECT k FROM b),
      |i AS (SELECT k FROM a INTERSECT SELECT k FROM b),
      |e AS (SELECT k FROM a EXCEPT SELECT k FROM b)
      |SELECT 'union' AS op, count(*) AS n FROM u
      |UNION ALL SELECT 'intersect' AS op, count(*) AS n FROM i
      |UNION ALL SELECT 'except' AS op, count(*) AS n FROM e""".stripMargin) { (s, d) =>
    val a = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val b = Tables.orders(s, d).filter(col("o_totalprice") > 100000)
      .select(col("o_custkey").as("k"))
    val counts = Seq(
      ("union", a.union(b).distinct()),
      ("intersect", a.intersect(b)),
      ("except", a.except(b)))
    counts.map { case (op, df) =>
      df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
    }.reduce(_ union _)
  }

  /** U3-v3: latest-state through the custom TypedImperativeAggregate
    * (graft.plans.LatestBySeqAgg) — constant 18-byte buffer per group vs
    * collect_list's O(group), map-side partial merge. Same semantics and
    * oracle as u3.
    */
  val u3b = q(
    "u3b_latest_state_typed_agg",
    """WITH latest AS (SELECT user_id, arg_max(value, event_id) AS last_value,
      |arg_max(event_type, event_id) AS last_type FROM events GROUP BY user_id)
      |SELECT user_id, last_value FROM latest WHERE last_type <> 'error'""".stripMargin) {
    (s, d) =>
      graft.plans.GraftExtensions.register(s)
      Tables.events(s, d).createOrReplaceTempView("events_u3b")
      s.sql("""SELECT user_id, graft_latest_by_seq(value, event_id, event_type = 'error') AS last_value
              |FROM events_u3b GROUP BY user_id HAVING last_value IS NOT NULL""".stripMargin)
  }

  /** J11 (beyond reference): AS-OF join — each 'click' event picks up the
    * most recent 'purchase' of the same user at or before its timestamp.
    * Implemented the scalable way: union both streams, ONE shuffle+sort on
    * (user, ts), and a running last-non-null — never the naive range join,
    * whose candidate set is O(clicks x purchases) per user and explodes on
    * active users. The oracle is DuckDB's native ASOF LEFT JOIN, an
    * independent implementation of the same semantics (purchases deduped to
    * max event id per (user, ts) so ties are well-defined in both engines).
    */
  val j11 = q(
    "j11_asof_join",
    """WITH s AS (SELECT user_id, ts, max(event_id) AS setting_id FROM events
      |           WHERE event_type = 'purchase' GROUP BY 1, 2),
      |r AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click')
      |SELECT r.user_id, r.event_id, r.ts, s.setting_id AS asof_purchase_id
      |FROM r ASOF LEFT JOIN s ON r.user_id = s.user_id AND r.ts >= s.ts""".stripMargin) {
    (s, d) =>
      val ev = Tables.events(s, d)
      val settings = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max("event_id").as("setting_id"))
      val readings = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val u = settings.select(col("user_id"), col("ts"), lit(0).as("kind"),
        col("setting_id"), lit(null).cast("long").as("event_id"))
        .unionByName(readings.select(col("user_id"), col("ts"), lit(1).as("kind"),
          lit(null).cast("long").as("setting_id"), col("event_id")))
      // settings sort before readings at equal ts, so "at or before" holds
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      u.withColumn("asof_purchase_id", last(col("setting_id"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("user_id"), col("event_id"), col("ts"), col("asof_purchase_id"))
  }

  /** W2 (beyond reference): sessionization — the canonical event-pipeline
    * operator: split each user's stream at >30-minute silence gaps, then
    * aggregate per session. One shuffle on the user key; the gap flag and
    * its running sum both reuse the same sort, so the whole thing is a
    * single exchange + sort at any scale.
    */
  val w2 = q(
    "w2_sessionize",
    """WITH o AS (SELECT user_id, ts, event_id,
      |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |f AS (SELECT user_id, ts, event_id, CASE WHEN prev_ts IS NULL
      |  OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_sess FROM o),
      |sq AS (SELECT user_id, ts, CAST(sum(new_sess) OVER (PARTITION BY user_id
      |  ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM f)
      |SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events
      |FROM sq GROUP BY 1, 2""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess", when(col("prev_ts").isNull ||
        unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1).otherwise(0))
      .withColumn("session_seq", sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** A14 (beyond reference): HyperLogLog distinct sketch, GATED — at 100 TB
    * `count(DISTINCT)` is a full shuffle of the key universe while the HLL
    * sketch is a fixed-size mergeable buffer, so the sketch IS the scale
    * path; here it runs side-by-side with the exact count and the query
    * emits a boolean "within 5%" gate. The oracle pins the exact counts AND
    * the gate (sketches are deterministic, so a drift is a real regression).
    */
  val a14 = q(
    "a14_approx_distinct_gate",
    """SELECT event_type, count(DISTINCT user_id) AS exact_users, true AS within_5pct
      |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d).groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("exact_users"),
        // Datasketches HLL at lgK=14 (RSE ~0.8% — same 5x headroom against
        // the 5% gate as the previous approx_count_distinct(rsd=0.01), and
        // deterministic for fixed input). The swap is a performance fix:
        // approx_count_distinct at rsd 0.01 expands its HLL++ buffer into
        // 1,639 separate LONG aggregation columns (a 200 KB physical plan,
        // interpreted row hashing per input row), while hll_sketch_agg
        // carries ONE mergeable binary column through the partial/final
        // aggregate — the emitted row set (exact counts + gate) is
        // unchanged.
        expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("approx"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx") - col("exact_users")).cast("double") /
          col("exact_users") < 0.05).as("within_5pct"))
  }

  /** A15 (beyond reference): quantile sketch, GATED — same pattern as A14
    * for `approx_percentile` (Greenwald-Khanna, mergeable, one pass) vs the
    * exact interpolated percentile. Only the gate is emitted: the exact
    * value's interpolation arithmetic differs from DuckDB's in final ulps
    * (see a6's rounding), and the property under test is the sketch bound.
    */
  val a15 = q(
    "a15_approx_quantile_gate",
    """SELECT o_orderpriority, count(*) AS n, true AS within_2pct
      |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    Tables.orders(s, d).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        expr("percentile(o_totalprice, 0.5D)").as("exact_p50"),
        expr("approx_percentile(o_totalprice, 0.5D, 10000)").as("approx"))
      .select(col("o_orderpriority"), col("n"),
        (abs(col("approx") - col("exact_p50")) / col("exact_p50") < 0.02).as("within_2pct"))
  }

  /** A20 (beyond reference): count-min-sketch heavy hitters, GATED — the
    * streaming-sketch answer to "what are the hot keys" (Cormode &
    * Muthukrishnan 2005). One pass builds a mergeable CMS over the word
    * stream (`count_min_sketch` aggregate: map-side partial sketches,
    * merged to ~eps⁻¹·ln(1/δ) counters regardless of corpus size); the
    * exact top-10 comes from a keyed count + TakeOrdered (no global sort).
    * The driver probes the 10 survivors against the sketch — a 10-row +
    * one-sketch collect, legitimately tiny — and emits the CMS guarantee
    * as the gate: exact ≤ estimate ≤ exact + eps·N. Only exact counts and
    * the gate are emitted (the estimate itself is seed-dependent), a14/a15
    * pattern.
    *
    * The gate is PROBABILISTIC: the upper bound holds with probability
    * ≥ 1−δ = 0.99 per probed key, so `within_eps = true` is validated
    * against each fixed SF dataset, not guaranteed universally. If the
    * testdata is ever regenerated, re-verify — a breached bound there is
    * the sketch's documented failure probability, not an engine bug (and
    * in practice top-10 heavy hitters sit far inside the eps·N slack).
    */
  val a20 = q(
    "a20_cms_heavyhitter_gate",
    """SELECT w, c, CAST(rank AS INT) AS rank, true AS within_eps FROM (
      |  SELECT w, count(*) AS c, row_number() OVER (ORDER BY count(*) DESC, w) AS rank
      |  FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents) GROUP BY w)
      |WHERE rank <= 10""".stripMargin) { (s, d) =>
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
    val top = words.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w")).limit(10)
    val eps = 0.001
    val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(
        words.agg(expr(s"count_min_sketch(w, ${eps}D, 0.99D, 42)"))
          .head().getAs[Array[Byte]](0)))
    val bound = (eps * sk.totalCount()).toLong
    val rows = top.collect().zipWithIndex.map { case (r, i) =>
      val est = sk.estimateCount(r.getString(0))
      (r.getString(0), r.getLong(1), i + 1,
        est >= r.getLong(1) && est <= r.getLong(1) + bound)
    }
    import s.implicits._
    rows.toSeq.toDF("w", "c", "rank", "within_eps")
  }

  /** A21 (beyond reference): mergeable HLL sketch rollup, GATED — the
    * production incremental-distinct pattern approx_count_distinct (a14)
    * cannot express: per (event_type, day) a Datasketches HLL sketch is
    * built ONCE (hll_sketch_agg), then re-aggregated to the event_type
    * level by sketch UNION (hll_union_agg) — at 100 TB this is how daily
    * distinct-user counts roll up to weekly/monthly without ever
    * rescanning raw events: store the per-day sketches (KBs each),
    * union-on-read. The gate: the union estimate lands within 5% of the
    * exact distinct (lgK=12 standard error is ~1.6%, and the sketch is
    * deterministic for fixed input — no runtime seed), a14/a20 pattern.
    */
  val a21 = q(
    "a21_hll_union_rollup_gate",
    """SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS ok
      |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val unioned = daily.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = Tables.events(s, d).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(unioned, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact")) / col("n_exact") <= 0.05).as("ok"))
  }

  /** A24 (beyond reference): EXACT median without a global sort — the
    * histogram-refinement selection algorithm (the distributed form of
    * quickselect; Blum et al.'s selection by partitioning, realized as
    * Münz/Cormode-style iterative range narrowing). Each round scans only
    * `value`, builds an 8192-bin equi-width histogram of the current
    * candidate range (one hash aggregate; the collect is 8192 bounded
    * rows, same contract class as v28's centroid collect), and narrows the
    * range to the bins containing ranks k1=(n+1)/2 and k2=(n+2)/2. Range
    * population shrinks ~8192x per round, so log_8192(n) rounds (<= 4 even
    * at 10^15 rows) reach a small final range; an all-equal-heavy range
    * short-circuits via min==max. The final rank extraction is a
    * TakeOrdered over the narrowed remainder only — no full-data shuffle
    * or sort ever happens, which is the difference between this and
    * `ORDER BY value` at 100 TB. a6/a15 give approximate quantiles in one
    * pass; this gives the exact statistic in a bounded number of passes.
    *
    * Determinism: bin edges are fixed-shape IEEE expressions of the
    * collected min/max; the result is two exact order statistics, so the
    * oracle (row_number selection) matches bitwise; median = (lo+hi)/2 in
    * the same expression shape both sides.
    */
  def exactMedian(events: DataFrame, spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.{Column, Row}
    val B = 8192
    val vals = events.select(col("value").cast("double").as("v"))
      .filter(col("v").isNotNull)
    val n = vals.count()
    val (k1, k2) = ((n + 1) / 2, (n + 2) / 2)
    // invariant: `current` holds exactly the contiguous rank range
    // (below, below + count(current)], and k1..k2 lie inside it. Narrowing
    // filters reuse the SAME bin expression the histogram grouped by, so
    // set membership matches the cumulative-count bookkeeping exactly —
    // no floating-point bin-edge reconstruction anywhere.
    var current = vals
    var below = 0L
    var rounds = 0
    var continue = n > 0
    var finalCount = n
    while (continue) {
      val Row(cnt: Long, cLo: Double, cHi: Double) =
        current.agg(count(lit(1)), min("v"), max("v")).head()
      finalCount = cnt
      val width = (cHi - cLo) / B
      if (cnt <= 100000 || cLo == cHi || width <= 0 || rounds >= 6) {
        continue = false
      } else {
        val binExpr: Column =
          least(lit(B - 1), floor((col("v") - lit(cLo)) / lit(width)).cast("int"))
        val hist = current.groupBy(binExpr.as("bin"))
          .agg(count(lit(1)).as("c"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val cum = (0 until B).scanLeft(0L)((acc, b) => acc + hist.getOrElse(b, 0L))
        def binOf(k: Long): Int = cum.indexWhere(_ >= k - below) - 1
        val (b1, b2) = (binOf(k1), binOf(k2))
        below += cum(b1)
        current = current.filter(binExpr >= b1 && binExpr <= b2)
        rounds += 1
      }
    }
    val (vk1, vk2) =
      if (n == 0) (Double.NaN, Double.NaN)
      else {
        val Row(vmin: Double, vmax: Double) = current.agg(min("v"), max("v")).head()
        if (vmin == vmax) (vmin, vmin)
        else {
          // The refinement loop can exit degenerately (rounds >= 6, or a
          // zero-width bin range with cLo != cHi, e.g. adjacent doubles)
          // without narrowing the candidate set; a silent collect would
          // then break the bounded-collect contract — and (k2 - below)
          // past Int.MaxValue would wrap to a negative limit. Fail fast.
          val need = k2 - below
          require(need > 0 && need <= 16777216L,
            s"exactMedian: refinement failed to narrow the candidate set to a bounded " +
              s"collect ($need candidate rows after $rounds rounds, n=$n, " +
              s"range=[$vmin,$vmax]) — the value domain is too adversarial for " +
              s"histogram refinement; pre-bucket it or raise B")
          val top = current.orderBy("v").limit(need.toInt)
            .collect().map(_.getDouble(0))
          (top((k1 - below).toInt - 1), top((k2 - below).toInt - 1))
        }
      }
    spark.range(1).filter(lit(n) > 0)
      .select(lit(n).as("n"), lit(vk1).as("v_lo"), lit(vk2).as("v_hi"),
        ((lit(vk1) + lit(vk2)) / lit(2.0)).as("median"))
  }

  val a24 = q(
    "a24_exact_median",
    """WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
      |x AS (SELECT s.n, r.v FROM r, s WHERE rn IN ((n + 1) // 2, (n + 2) // 2))
      |SELECT max(n) AS n, min(v) AS v_lo, max(v) AS v_hi,
      |  (min(v) + max(v)) / 2.0 AS median FROM x""".stripMargin) { (s, d) =>
    exactMedian(Tables.events(s, d), s)
  }

  /** A25 (beyond reference): EXACT per-group mode — the most frequent
    * `value` per event_type, tie-broken to the smallest value. The
    * at-scale shape is two hash aggregations: (type, value) counts (map-
    * side combinable; state bounded by the distinct-pair domain, not row
    * count), then an argmax fold per type via max(struct(cnt, -value)) —
    * struct ordering gives "highest count, then smallest value" with no
    * window and no sort anywhere. The naive `row_number OVER (PARTITION
    * BY type ORDER BY cnt DESC)` plan the oracle runs would sort every
    * group; at 100 TB the argmax fold is the difference.
    *
    * Determinism: counts are integers; the tie-break negation is exact
    * for every IEEE double, so both engines pick the identical row.
    */
  def exactMode(events: DataFrame): DataFrame =
    events.filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("cnt"))
      .groupBy("event_type").agg(
        sum("cnt").as("n"),
        max(struct(col("cnt"), (-col("value")).as("nv"))).as("m"))
      .select(col("event_type"), col("n"), col("m.cnt").as("mode_count"),
        (-col("m.nv")).as("mode_value"))

  /** A26 (beyond reference): EXACT weighted median — the weighted order
    * statistic none of a6/a15/a24 provide: "the price point below which
    * half the QUANTITY ships" (SLA/budget accounting weighs each value
    * by its volume, never one-row-one-vote). Values are quantized to
    * cents (floor(x·100 + 0.5) — identical IEEE expression in both
    * engines), weights are exact integers, and the lower weighted median
    * is the smallest cent value whose cumulative weight reaches half the
    * total: 2·cumw ≥ tw in pure BIGINT arithmetic.
    *
    * Scale (the d29/a8 discipline): one hash aggregate onto the
    * QUANTIZED-VALUE domain (bounded by price resolution, not row
    * count — map-side combinable), then the ordered window runs over
    * that bounded domain. No global row sort at any size. Output is one
    * all-integer row (total_weight, wmedian_cents).
    */
  /** Public DataFrame-in API (see graft.api.Graft): exact lower weighted
    * median of `valueCol` (centi-quantized) weighted by integer
    * `weightCol` — one row (total_weight, wmedian_cents).
    */
  def exactWeightedMedian(df: DataFrame, valueCol: String,
      weightCol: String): DataFrame = {
    val byQ = df
      .select(floor(col(valueCol).cast("double") * 100 + 0.5).cast("long").as("qv"),
        col(weightCol).cast("long").as("w"))
      .groupBy("qv").agg(sum("w").as("wq"))
    val cum = byQ.select(col("qv"),
      sum("wq").over(Window.orderBy("qv")).as("cumw"),
      sum("wq").over(Window.partitionBy()).as("tw"))
    cum.filter(col("cumw") * 2 >= col("tw"))
      .agg(max("tw").as("total_weight"), min("qv").as("wmedian_cents"))
      // empty / all-NULL-weight input: the global agg yields one all-NULL
      // row — drop it so the degenerate case returns 0 rows (the theilSen
      // contract) instead of NPE-ing a typed getAs downstream
      .filter(col("total_weight").isNotNull)
  }

  val a26 = q(
    "a26_exact_weighted_median",
    """WITH v AS (SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS BIGINT) AS qv,
      |  CAST(l_quantity AS BIGINT) AS w FROM lineitem),
      |g AS (SELECT qv, CAST(sum(w) AS BIGINT) AS wq FROM v GROUP BY qv),
      |c AS (SELECT qv, CAST(sum(wq) OVER (ORDER BY qv) AS BIGINT) AS cumw,
      |        CAST(sum(wq) OVER () AS BIGINT) AS tw FROM g)
      |SELECT max(tw) AS total_weight, min(qv) AS wmedian_cents
      |FROM c WHERE cumw * 2 >= tw""".stripMargin) { (s, d) =>
    exactWeightedMedian(Tables.lineitem(s, d), "l_extendedprice", "l_quantity")
  }

  val a25 = q(
    "a25_exact_mode",
    """WITH c AS (SELECT event_type, value, count(*) AS cnt FROM events
      |  WHERE value IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT event_type, value, cnt,
      |        row_number() OVER (PARTITION BY event_type
      |          ORDER BY cnt DESC, value ASC) AS rk,
      |        sum(cnt) OVER (PARTITION BY event_type) AS n FROM c)
      |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(cnt AS BIGINT) AS mode_count,
      |  value AS mode_value FROM r WHERE rk = 1""".stripMargin) { (s, d) =>
    exactMode(Tables.events(s, d))
  }

  /** J12 (beyond reference): salted skew join — a third of the fact rows
    * are collapsed onto ONE foreign key (the classic hot-key disaster: that
    * key's partition takes the whole join's wall-clock). The salt spreads
    * the hot key across 8 sub-partitions: fact rows get
    * `salt = hash(row) % 8`, the dim side is replicated x8, and the join
    * key becomes (key, salt) — uniform by construction. The oracle is the
    * UNSALTED join, proving the rewrite changes the distribution and
    * nothing else. (AQE's skew splitting does this adaptively for
    * sort-merge; explicit salting is the portable form that also covers
    * aggregations.)
    */
  val j12 = q(
    "j12_salted_skew_join",
    """WITH f AS (SELECT CASE WHEN l_partkey % 3 = 0 THEN 1 ELSE l_partkey END AS k,
      |                  l_quantity FROM lineitem)
      |SELECT p.p_type, count(*) AS n,
      |CAST(SUM(CAST(f.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM f JOIN part p ON f.k = p.p_partkey GROUP BY p.p_type""".stripMargin) {
    (s, d) =>
      val R = 8
      val fact = Tables.lineitem(s, d)
        .withColumn("k", when(pmod(col("l_partkey"), lit(3)) === 0, lit(1))
          .otherwise(col("l_partkey")))
        .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(R)))
      val dim = Tables.part(s, d).select(col("p_partkey"), col("p_type"))
        .withColumn("salt", explode(sequence(lit(0), lit(R - 1))))
      fact.join(dim.hint("merge"),
        fact("k") === dim("p_partkey") && fact("salt") === dim("salt").cast("long"))
        .groupBy("p_type")
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("total_qty"))
  }

  /** J13 (beyond reference): range join — events matched into time
    * INTERVALS (daily 08:00-16:00 service windows derived from the data).
    * The naive plan for `e.ts BETWEEN w.start AND w.end` is a nested-loop
    * theta join — O(events x windows), the shape that sinks at scale. The
    * scale-correct decomposition: explode each interval into the coarse
    * buckets it covers (hours here — intervals span 8 of them), EQUI-join
    * events on their own bucket, then apply the exact range as a residual
    * filter. The join becomes a hash join on uniform keys; cost is
    * O(events + windows x spanned_buckets), independent of the window
    * count, and works even when BOTH sides are too big to broadcast. The
    * oracle runs the plain BETWEEN join (DuckDB plans an IEJoin — fine at
    * oracle scale).
    */
  val j13 = q(
    "j13_range_join",
    """WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS wday FROM events),
      |w AS (SELECT wday, wday + INTERVAL 8 HOUR AS w_start,
      |             wday + INTERVAL 16 HOUR AS w_end FROM days)
      |SELECT e.event_id, w.wday AS window_day, e.event_type, e.value
      |FROM events e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end""".stripMargin) {
    (s, d) =>
      val ev = Tables.events(s, d)
      val windows = ev.select(date_trunc("DAY", col("ts")).as("wday")).distinct()
        .select(col("wday"),
          (col("wday") + expr("INTERVAL 8 HOURS")).as("w_start"),
          (col("wday") + expr("INTERVAL 16 HOURS")).as("w_end"))
      val wBuckets = windows.select(col("wday"), col("w_start"), col("w_end"),
        explode(expr(
          "sequence(w_start, w_end - INTERVAL 1 SECOND, INTERVAL 1 HOUR)")).as("hb"))
      ev.withColumn("hb", date_trunc("HOUR", col("ts")))
        .join(wBuckets, Seq("hb"))
        .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
        .select(col("event_id"), col("wday").as("window_day"),
          col("event_type"), col("value"))
  }

  /** A16 (beyond reference): PIVOT — status counts spread into columns.
    * The pivot value list is EXPLICIT (F/O/P): an inferred list costs an
    * extra distinct-scan job and makes the output schema data-dependent —
    * both wrong at 100 TB. Absent combinations surface as 0, not null.
    */
  val a16 = q(
    "a16_pivot",
    """SELECT o_orderpriority,
      |count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
      |count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
      |count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority").pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
  }

  /** A17 (beyond reference): UNPIVOT via `stack` — the inverse reshape.
    * Round-trips a16's wide form back to long (priority, status, n); the
    * zero rows stack introduces for absent combinations are filtered, so
    * the round trip equals the plain group-by — which is the oracle.
    */
  val a17 = q(
    "a17_unpivot_roundtrip",
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n
      |FROM orders GROUP BY o_orderpriority, o_orderstatus""".stripMargin) { (s, d) =>
    a16.build(s, d)
      .select(col("o_orderpriority"),
        expr("stack(3, 'F', n_f, 'O', n_o, 'P', n_p) AS (o_orderstatus, n)"))
      .filter(col("n") > 0)
  }

  /** D1 (beyond reference): data-quality audit — the expectation checks a
    * lakehouse runs before promoting a batch (null rate, domain bounds,
    * FK orphans, key uniqueness) as ONE query returning a row per rule.
    * Each rule is a conditional aggregate over a single scan of its
    * table; the orphan check is a broadcast-able anti-join, never a
    * row-by-row validator. Expected all-zero on this generator's data —
    * the point is the operator shape, priced at one pass per table.
    */
  val d1 = q(
    "d1_quality_audit",
    """SELECT 'orders_null_price' AS rule, count(*) FILTER (WHERE o_totalprice IS NULL) AS violations FROM orders
      |UNION ALL SELECT 'orders_nonpositive_price', count(*) FILTER (WHERE o_totalprice <= 0) FROM orders
      |UNION ALL SELECT 'orders_dup_orderkey', count(*) - count(DISTINCT o_orderkey) FROM orders
      |UNION ALL SELECT 'lineitem_orphan_order', count(*) FROM lineitem l
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)""".stripMargin) {
    (s, d) =>
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val orderChecks = o.agg(
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("orders_null_price"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("orders_nonpositive_price"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("orders_dup_orderkey"))
      val orphans = li.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("lineitem_orphan_order"))
      orderChecks.crossJoin(orphans)
        .select(expr(
          """stack(4,
            |  'orders_null_price', orders_null_price,
            |  'orders_nonpositive_price', orders_nonpositive_price,
            |  'orders_dup_orderkey', orders_dup_orderkey,
            |  'lineitem_orphan_order', lineitem_orphan_order)
            |  AS (rule, violations)""".stripMargin))
  }

  /** A18 (beyond reference): explicit GROUPING SETS — the general form
    * ROLLUP (a12) and CUBE (a13) desugar to, with a hand-picked lattice:
    * (flag, status), (flag), (). One shuffle; Spark expands the sets with
    * a single Expand node feeding one hash aggregate, so adding a set
    * costs a projected copy of the map-side rows, never another pass over
    * the table. Money sums go through decSum for cross-engine exactness.
    */
  val a18 = q(
    "a18_grouping_sets",
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin) {
    (s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), decSum(col("l_extendedprice")).as("revenue"))
  }

  /** W3 (beyond reference): lead/lag navigation — per-user deltas between
    * consecutive events (value change, seconds elapsed, next event type):
    * the telemetry-sessional shape W2 sessionize builds on. One window
    * partition per user, sorted once; all three navigations share the
    * same sort, so Spark plans a single WindowExec (one shuffle + one
    * per-partition sort at any scale).
    */
  val w3 = q(
    "w3_lead_lag_delta",
    """SELECT user_id, ts, event_id, value,
      |value - lag(value) OVER w AS delta,
      |date_diff('second', lag(ts) OVER w, ts) AS secs_since_prev,
      |lead(event_type) OVER w AS next_type
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin) {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          col("event_type"))
        .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
        .withColumn("secs_since_prev",
          unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .drop("event_type")
  }

  /** Recursion body for [[a19]]: a nonlinear clamped running balance
    * (token-bucket recurrence state = max(0, state + value - 100)) over
    * each user's first 16 events. The max() clamp makes the fold
    * window-INEXPRESSIBLE — this is the semantics that otherwise forces a
    * typed kernel (a9's shape), now runnable as pure SQL on Spark 4's
    * WITH RECURSIVE. The 16-step cap bounds recursion depth; `rel` is the
    * ranked (user_id, value, idx) input relation.
    */
  private def a19Sql(rel: String): String =
    s"""step(user_id, idx, state) AS (
       |  SELECT user_id, 0, CAST(0.0 AS DOUBLE) FROM (SELECT DISTINCT user_id FROM $rel) u
       |  UNION ALL
       |  SELECT r.user_id, r.idx,
       |    greatest(CAST(0.0 AS DOUBLE), s.state + r.value - CAST(100.0 AS DOUBLE))
       |  FROM step s JOIN $rel r ON r.user_id = s.user_id AND r.idx = s.idx + 1)
       |SELECT user_id, CAST(max(idx) AS INT) AS n_steps,
       |  max_by(state, idx) AS final_state
       |FROM step GROUP BY user_id""".stripMargin

  /** A19 (beyond reference): recursive CTE — Spark 4's WITH RECURSIVE
    * executed as an iterative union loop. The ranked input is materialized
    * ONCE (localCheckpoint) before the loop: the recursion re-plans its
    * body every iteration, so an un-materialized input would redo the
    * scan + rank window 16 times (measured ~2.5x slower end-to-end). Each
    * iteration advances every user's frontier one step via a (user, idx)
    * equi-join — keyed exchanges, bounded total rows. Scale note:
    * iteration count = chain depth and every iteration is a full plan
    * segment, so at 100 TB the typed kernel (a9 shape: ONE shuffle,
    * in-task fold) remains the preferred form for long chains; the
    * recursive CTE is the SQL surface for bounded recursion, proven by
    * running the same recursion text in DuckDB.
    */
  val a19 = q(
    "a19_recursive_cte_fold",
    """WITH RECURSIVE r AS (SELECT * FROM (
      |    SELECT user_id, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS idx
      |    FROM events) t WHERE idx <= 16),
      |""".stripMargin + a19Sql("r")) { (s, d) =>
    val ranked = Tables.events(s, d)
      .select(col("user_id"), col("value"),
        row_number().over(Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))).as("idx"))
      .filter(col("idx") <= 16)
      .localCheckpoint()
    ranked.createOrReplaceTempView("graft_a19_r")
    s.sql("WITH RECURSIVE " + a19Sql("graft_a19_r"))
  }

  /** F21 (beyond reference): VARIANT ingestion — Spark 4's semi-structured
    * type: the JSON envelope is parsed once into a binary VARIANT and
    * fields come back out with `variant_get` path+type extraction (the
    * open-schema ingestion shape lakehouse pipelines use for raw JSON
    * columns). The oracle is the roundtrip identity: extraction must
    * reproduce the original typed columns exactly (shortest-repr JSON
    * doubles re-parse to the identical IEEE value). Pure per-row map —
    * scan-parallel at any scale, no shuffle.
    */
  val f21 = q(
    "f21_variant_roundtrip",
    "SELECT event_id, user_id, event_type, value FROM events") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        expr("parse_json(to_json(struct(user_id, event_type, value)))").as("v"))
      .select(col("event_id"),
        expr("variant_get(v, '$.user_id', 'bigint')").as("user_id"),
        expr("variant_get(v, '$.event_type', 'string')").as("event_type"),
        expr("variant_get(v, '$.value', 'double')").as("value"))
  }

  /** W4 (beyond reference): RANGE-frame window — the time-based moving
    * aggregate (trailing 5-minute count/sum per user) that ROWS frames
    * cannot express when event spacing is irregular. Spark orders by
    * `unix_micros(ts)` with a [-300s, 0] microsecond range — identical
    * inclusive-boundary and peer-row semantics to DuckDB's
    * `RANGE BETWEEN INTERVAL '5 minutes' PRECEDING AND CURRENT ROW` at
    * microsecond precision. One WindowExec: one exchange on user_id + one
    * per-partition sort at any scale; money sums go through the DECIMAL
    * path for cross-engine exactness.
    */
  val w4 = q(
    "w4_range_frame_movsum",
    """SELECT user_id, event_id, ts,
      |count(*) OVER w AS n_5min,
      |CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_5min
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |  RANGE BETWEEN INTERVAL '5 minutes' PRECEDING AND CURRENT ROW)""".stripMargin) {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
        .rangeBetween(-300000000L, 0L)
      Tables.events(s, d).select(col("user_id"), col("event_id"), col("ts"),
        count(lit(1)).over(w).as("n_5min"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("sum_5min"))
  }

  /** W5 (beyond reference): relative-rank navigation — percent_rank,
    * cume_dist, ntile(4) in ONE WindowExec. The order key includes the
    * unique event_id, so no row has true peers and all three functions are
    * deterministic (ntile's bucket boundaries depend on physical row order
    * among ties otherwise). percent_rank/cume_dist are small-integer IEEE
    * divisions — cross-engine exact. Partitioned by user_id (bounded
    * per-key cardinality), never by a low-cardinality column whose
    * partition would be one task at scale.
    */
  val w5 = q(
    "w5_rank_navigation",
    """SELECT user_id, event_id, value,
      |percent_rank() OVER w AS pr,
      |cume_dist() OVER w AS cd,
      |CAST(ntile(4) OVER w AS INT) AS quartile
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""".stripMargin) {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("value"), col("event_id"))
      Tables.events(s, d).select(col("user_id"), col("event_id"), col("value"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        ntile(4).over(w).as("quartile"))
  }

  /** W6 (beyond reference): leakage-safe rolling feature extraction — the
    * per-entity time-series features every training pipeline derives before
    * a model sees the data: previous value, inter-event gap, and
    * trailing-window min/max/count. The frame is `ROWS BETWEEN 5 PRECEDING
    * AND 1 PRECEDING`: it ends BEFORE the current row, so no feature ever
    * contains the label row's own information (the temporal complement of
    * x28's component-level split hygiene). Every emitted feature is
    * order-exact — lag copies a value bit-for-bit, the gap is integer
    * microsecond arithmetic (`unix_micros`, matching DuckDB `epoch_us`),
    * and min/max/count never accumulate floats — so the oracle match is
    * exact without the decimal-sum harness; a rolling SUM/AVG in production
    * adds one [[graft.functions.Funcs.decSum]]-style expression.
    *
    * Scale: one shuffle on user_id; per-task state is the 5-row frame, not
    * the partition (WindowExec streams a bounded buffer for PRECEDING-only
    * frames). The order key appends event_id so tied timestamps cannot make
    * the frame contents run-dependent.
    */
  val w6 = q(
    "w6_rolling_features",
    """SELECT event_id, user_id, ts, value,
      |lag(value, 1) OVER w AS prev_value,
      |epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
      |min(value) OVER wf AS roll5_min,
      |max(value) OVER wf AS roll5_max,
      |count(value) OVER wf AS roll5_cnt
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
      |  wf AS (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)""".stripMargin) {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wf = w.rowsBetween(-5, -1)
      Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"),
        col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"),
        min(col("value")).over(wf).as("roll5_min"),
        max(col("value")).over(wf).as("roll5_max"),
        count(col("value")).over(wf).as("roll5_cnt"))
  }

  /** W7 (beyond reference): cohort retention matrix — the standard product
    * analytics rollup (users grouped by first-seen day, activity counted
    * per later day): for each (cohort_day, day_offset), how many of that
    * cohort's users were active. Two keyed aggregations (first-seen per
    * user, distinct user-days) + one join keyed on user_id — each
    * shuffle keyed and map-side-partialed; no window, no per-day scan.
    * At 100 TB the distinct user-day dedup is the dominant exchange and
    * is AQE-splittable; the first-seen table is orders of magnitude
    * smaller than events (one row per user).
    */
  val w7 = q(
    "w7_retention_cohort",
    """WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      |  FROM events GROUP BY 1),
      |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
      |SELECT fs.cohort_day, CAST(date_diff('day', fs.cohort_day, act.day) AS INT) AS day_offset,
      |       count(DISTINCT act.user_id) AS n_users
      |FROM act JOIN fs ON act.user_id = fs.user_id
      |GROUP BY 1, 2""".stripMargin) {
    (s, d) =>
      val ev = Tables.events(s, d)
      val fs = ev.groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort_day"))
      val act = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      act.join(fs, "user_id")
        .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Session gap: a new session starts after 6 h of inactivity (micros). */
  private val SessionGapUs = 21600000000L

  /** W8 (beyond reference): batch sessionization — the gap-based session
    * assembly behind every funnel/engagement metric (and the batch twin of
    * t16's streaming session window): per user, a session breaks wherever
    * the inter-event gap exceeds [[SessionGapUs]]; the running count of
    * breaks IS the session id, then one keyed aggregate emits
    * start/end/size per session. Two windows + one hash aggregate, all
    * partitioned by user_id — per-user data is bounded (a user's events,
    * not the corpus), so the window tasks stay small at 100 TB and the
    * shuffle is one user-keyed exchange reused by both windows and the
    * aggregate. Gap arithmetic is integer micros; timestamps and counts
    * only — nothing float anywhere.
    */
  /** Public DataFrame-in API (see graft.api.Graft): gap-based
    * sessionization. `events` needs (user_id: long, event_id: long,
    * ts: timestamp); returns one row per session
    * (user_id, session_seq, session_start, session_end, n_events).
    */
  def sessionize(events: DataFrame, gapUs: Long = SessionGapUs): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val ev = events
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("us"))
    ev.withColumn("is_new",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("session_seq",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  val w8 = q(
    "w8_sessionize_gap",
    s"""WITH o AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
      |m AS (SELECT user_id, ts, us, event_id,
      |        CASE WHEN lag(us) OVER w IS NULL
      |               OR us - lag(us) OVER w > $SessionGapUs THEN 1 ELSE 0 END AS is_new
      |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (SELECT user_id, ts, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM m)
      |SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
      |       count(*) AS n_events
      |FROM s GROUP BY 1, 2""".stripMargin) {
    (s, d) => sessionize(Tables.events(s, d))
  }

  /** W9 (beyond reference): ordered funnel analysis — the
    * view -> click -> purchase conversion report: a user counts at a stage
    * only if the stage event happened AT OR AFTER their entry into the
    * previous stage (min-timestamp semantics, the standard strict-order
    * funnel). Three user-keyed min aggregations chained by user_id joins —
    * every join co-partitions on the same key, the per-stage tables shrink
    * monotonically, and the final row is three single-row counts; no
    * window, no per-user event sorting. At 100 TB the first aggregate is
    * the only full-events pass (map-side combined); stages 2 and 3 scan
    * events pre-filtered by event_type with the stage table as the join
    * probe. Counts are integral; ratios are integer ratios.
    */
  /** Stage-entry tables for an ordered funnel over `events`
    * (user_id, event_type, ts): element i holds the users who reached
    * stage i with their entry timestamp (`entered`), where reaching stage
    * i requires a stage-i event at or after the user's stage-(i-1) entry.
    */
  def funnelStages(events: DataFrame, stages: Seq[String]): Seq[DataFrame] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val first = events.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min(col("ts")).as("entered"))
    stages.tail.scanLeft(first) { (prev, st) =>
      events.filter(col("event_type") === st)
        .join(prev, "user_id").filter(col("ts") >= col("entered"))
        .groupBy("user_id").agg(min(col("ts")).as("entered"))
    }
  }

  /** Public DataFrame-in API (see graft.api.Graft): ordered funnel summary —
    * one row per stage (stage_idx, stage, n_users), strict-order semantics
    * of [[funnelStages]]. Long format so any stage count is one filter away.
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame =
    funnelStages(events, stages).zip(stages).zipWithIndex.map {
      case ((t, st), i) =>
        t.agg(count(lit(1)).as("n_users"))
          .select(lit(i).as("stage_idx"), lit(st).as("stage"), col("n_users"))
    }.reduce(_ unionByName _)

  val w9 = q(
    "w9_funnel_steps",
    """WITH v AS (SELECT user_id, min(ts) AS fv FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS fc FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts >= v.fv GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS fp FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts >= c.fc GROUP BY 1)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_click,
      |       (SELECT count(*) FROM p) AS n_purchase,
      |       CAST((SELECT count(*) FROM c) AS DOUBLE) / CAST((SELECT count(*) FROM v) AS DOUBLE) AS view_to_click,
      |       CAST((SELECT count(*) FROM p) AS DOUBLE) / CAST((SELECT count(*) FROM c) AS DOUBLE) AS click_to_purchase""".stripMargin) {
    (s, d) =>
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val Seq(v, c, p) = funnelStages(ev, Seq("view", "click", "purchase"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
        .select(col("n_view"), col("n_click"), col("n_purchase"),
          (col("n_click").cast("double") / col("n_view").cast("double")).as("view_to_click"),
          (col("n_purchase").cast("double") / col("n_click").cast("double")).as("click_to_purchase"))
  }

  /** W10 (beyond reference): gap sessions via Spark's NATIVE
    * `session_window` operator — the declarative form of w8's lag/window
    * construction. One shuffle on user_id, sessions merged per-key by the
    * dedicated session-aggregation physical operator (no ordered window
    * function), and the same API works unchanged on a stream (t22). Break
    * semantics: windows are [ts, ts+gap) and merge only on OVERLAP, so a
    * successor exactly gap micros later starts a NEW session — hence the
    * `>=` in the oracle where w8's convention uses `>`. session_end is the
    * session-window upper bound (last event + gap), not the last event ts.
    */
  val w10 = q(
    "w10_session_window",
    s"""WITH o AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
      |d AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
      |        OR us - lag(us) OVER w >= $SessionGapUs THEN 1 ELSE 0 END AS is_new
      |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (SELECT user_id, ts, us,
      |        sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |      FROM d)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL 6 HOUR AS session_end, count(*) AS n_events
      |FROM s GROUP BY user_id, session_seq""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
  }

  /** W11 (beyond reference): RFM (recency / frequency / monetary) user
    * segmentation — the classic lifecycle-marketing rollup. Per-user
    * aggregates, then quartile assignment by comparing each metric to the
    * three EXACT interpolated quartile boundaries computed in one
    * single-row aggregate and broadcast back over the users — a scan +
    * broadcast-join, NOT a global ntile window, so no user-count-sized
    * single partition exists anywhere (the 100 TB version swaps the exact
    * percentile for a15's sketch; the comparison dataflow is unchanged).
    * Quartile boundaries interpolate as b = a + (hi-lo)*frac on sorted
    * doubles — the same closed form in both engines — and every input is
    * integral (epoch micros, counts) or an exact DECIMAL sum, so the
    * boundaries agree bitwise.
    */
  val w11 = q(
    "w11_rfm_segments",
    """WITH u AS (SELECT user_id, epoch_us(max(ts)) AS last_us,
      |        count(*) AS freq,
      |        CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS monetary
      |      FROM events GROUP BY 1),
      |b AS (SELECT quantile_cont(CAST(last_us AS DOUBLE), [0.25, 0.5, 0.75]) AS rb,
      |             quantile_cont(CAST(freq AS DOUBLE), [0.25, 0.5, 0.75]) AS fb,
      |             quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mb FROM u)
      |SELECT user_id,
      |  1 + CAST(CAST(last_us AS DOUBLE) > rb[1] AS INT) + CAST(CAST(last_us AS DOUBLE) > rb[2] AS INT)
      |    + CAST(CAST(last_us AS DOUBLE) > rb[3] AS INT) AS r_q,
      |  1 + CAST(CAST(freq AS DOUBLE) > fb[1] AS INT) + CAST(CAST(freq AS DOUBLE) > fb[2] AS INT)
      |    + CAST(CAST(freq AS DOUBLE) > fb[3] AS INT) AS f_q,
      |  1 + CAST(monetary > mb[1] AS INT) + CAST(monetary > mb[2] AS INT)
      |    + CAST(monetary > mb[3] AS INT) AS m_q
      |FROM u, b""".stripMargin) { (s, d) => rfmSegments(Tables.events(s, d)) }

  /** Public DataFrame-in API (see graft.api.Graft): RFM quartile
    * segmentation. `events` needs (user_id, ts: timestamp, value); returns
    * one row per user (user_id, r_q, f_q, m_q), quartiles 1-4 by raw
    * metric order (4 = most recent / most frequent / highest spend).
    */
  def rfmSegments(events: DataFrame): DataFrame = {
    val u = events
      .groupBy("user_id")
      .agg(unix_micros(max(col("ts"))).as("last_us"),
        count(lit(1)).as("freq"), decSum(col("value")).cast("double").as("monetary"))
    val b = u.agg(
      expr("percentile(CAST(last_us AS DOUBLE), array(0.25D, 0.5D, 0.75D))").as("rb"),
      expr("percentile(CAST(freq AS DOUBLE), array(0.25D, 0.5D, 0.75D))").as("fb"),
      expr("percentile(monetary, array(0.25D, 0.5D, 0.75D))").as("mb"))
    def quart(m: org.apache.spark.sql.Column, bs: String) =
      lit(1) + (m > element_at(col(bs), 1)).cast("int") +
        (m > element_at(col(bs), 2)).cast("int") +
        (m > element_at(col(bs), 3)).cast("int")
    u.crossJoin(broadcast(b))
      .select(col("user_id"),
        quart(col("last_us").cast("double"), "rb").as("r_q"),
        quart(col("freq").cast("double"), "fb").as("f_q"),
        quart(col("monetary"), "mb").as("m_q"))
  }

  /** W12 (beyond reference): first-order Markov transition matrix over the
    * per-user event-type journey — the behavioral model behind next-action
    * prediction and synthetic-session generation. One lead() per user
    * partition (user-bounded window), one hash aggregate on the
    * (from, to) pair domain (|event_types|^2-bounded); the probability is
    * a ratio of two counts computed by one identical IEEE division.
    */
  val w12 = q(
    "w12_markov_transitions",
    """WITH o AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
      |p AS (SELECT event_type AS from_type,
      |        lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_type
      |      FROM o),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM p
      |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      |FROM c""".stripMargin) { (s, d) => markovTransitions(Tables.events(s, d)) }

  /** Public DataFrame-in API (see graft.api.Graft): first-order Markov
    * transition matrix. `events` needs (user_id, event_type, ts, event_id);
    * returns (from_type, to_type, n, p) with p row-normalized per
    * from_type.
    */
  def markovTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val c = events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    c.withColumn("p", col("n").cast("double") /
        sum("n").over(Window.partitionBy("from_type")).cast("double"))
      .select("from_type", "to_type", "n", "p")
  }

  /** W13 (beyond reference): engagement stickiness (DAU / trailing-30-day
    * MAU) per day, computed BOTH ways — exact distinct counts (the oracle-
    * checkable path) and mergeable HLL sketches (the 100 TB path: one
    * sketch per day, each sketch fanned out to the <=30 target days it
    * covers, union-aggregated per target day — sketch traffic is
    * day-bounded, never row-bounded), gated within 5% like a21. The exact
    * MAU path explodes distinct (user, day) pairs x30, which is linear
    * with a calendar constant; at real scale only the sketch path runs and
    * the exact columns become a sampled audit.
    */
  val w13 = q(
    "w13_stickiness_gate",
    """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
      |sp AS (SELECT user_id, day + CAST(i AS INT) AS tday
      |       FROM (SELECT user_id, day, unnest(range(0, 30)) AS i FROM du)),
      |mau AS (SELECT tday, count(DISTINCT user_id) AS mau FROM sp GROUP BY 1)
      |SELECT d.day, d.dau AS dau_exact, m.mau AS mau_exact,
      |  CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE) AS stickiness, true AS ok
      |FROM dau d JOIN mau m ON d.day = m.tday""".stripMargin) { (s, d) =>
    val du = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = du.groupBy("day").agg(count(lit(1)).as("dau_exact"))
    val mau = du
      .withColumn("i", explode(sequence(lit(0), lit(29))))
      .withColumn("tday", date_add(col("day"), col("i")))
      .groupBy("tday").agg(countDistinct(col("user_id")).as("mau_exact"))
    val dailySk = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val dauEst = dailySk.select(col("day"),
      expr("hll_sketch_estimate(sk)").as("dau_est"))
    val mauEst = dailySk
      .withColumn("i", explode(sequence(lit(0), lit(29))))
      .withColumn("tday", date_add(col("day"), col("i")))
      .groupBy("tday").agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("mau_est"))
    dau.join(mau, col("day") === col("tday")).drop("tday")
      .join(dauEst, "day")
      .join(mauEst.withColumnRenamed("tday", "day"), "day")
      .select(col("day"), col("dau_exact"), col("mau_exact"),
        (col("dau_exact").cast("double") / col("mau_exact").cast("double")).as("stickiness"),
        (abs(col("dau_est") - col("dau_exact")) / col("dau_exact") <= 0.05 &&
          abs(col("mau_est") - col("mau_exact")) / col("mau_exact") <= 0.05).as("ok"))
  }

  /** W14 (beyond reference): top-k 3-event journey patterns — the n-gram
    * extension of [[w12]]'s first-order transitions (path analysis: which
    * exact three-step sequences dominate the product?). Two lead()s per
    * user partition (user-bounded window), one hash aggregate on the
    * trigram domain (|event_types|^3-bounded), and a global top-k sort
    * over that bounded domain — never over rows. Ties break on the trigram
    * string, so the LIMIT cut is deterministic in any engine.
    */
  val w14 = q(
    "w14_event_trigrams",
    """WITH o AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
      |p AS (SELECT event_type AS e1,
      |        lead(event_type, 1) OVER w AS e2,
      |        lead(event_type, 2) OVER w AS e3
      |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |c AS (SELECT e1 || '>' || e2 || '>' || e3 AS trigram, count(*) AS n
      |      FROM p WHERE e3 IS NOT NULL GROUP BY 1)
      |SELECT trigram, n FROM c ORDER BY n DESC, trigram LIMIT 20""".stripMargin) {
    (s, d) => eventTrigrams(Tables.events(s, d)) }

  /** Public DataFrame-in API (see graft.api.Graft): top-k 3-event
    * sequences. `events` needs (user_id, event_type, ts, event_id);
    * returns (trigram, n), the k most frequent per-user event trigrams,
    * ties broken by trigram text.
    */
  def eventTrigrams(events: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("trigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("trigram"))
      .limit(k)
  }

  /** W15 (beyond reference): inter-event arrival-gap histogram on a log2
    * scale — the latency/cadence profile behind session-timeout tuning
    * (w2/w8's 30-min gap) and bot detection (sub-second spikes). The
    * bucket is the BIT LENGTH of the integral micros gap
    * (length(bin(gap)) = floor(log2)+1) — pure integer, no libm log, so
    * the histogram is bitwise-identical in any engine. One lag() per
    * user partition (user-bounded window) + one hash aggregate on a
    * <= 64-bucket domain; pct is a ratio of counts over that bounded
    * domain.
    */
  val w15 = q(
    "w15_interevent_gap_hist",
    """WITH o AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
      |g AS (SELECT us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us FROM o),
      |b AS (SELECT CASE WHEN gap_us = 0 THEN 0
      |             ELSE CAST(length(bin(gap_us)) AS INT) END AS bucket
      |      FROM g WHERE gap_us IS NOT NULL),
      |c AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1)
      |SELECT bucket, n,
      |  CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE) AS pct
      |FROM c""".stripMargin) { (s, d) => intereventGapHistogram(Tables.events(s, d)) }

  /** Public DataFrame-in API (see graft.api.Graft): log2-bucketed
    * inter-arrival-gap histogram. `events` needs (user_id, ts, event_id);
    * returns (bucket, n, pct) where bucket = bit length of the micros gap
    * (0 for exactly-simultaneous events).
    */
  def intereventGapHistogram(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val g = events
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
    g.select(when(col("gap_us") === 0, lit(0))
        .otherwise(length(bin(col("gap_us")))).cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .withColumn("pct", col("n").cast("double") /
        sum("n").over(Window.partitionBy()).cast("double"))
  }

  /** W16 (beyond reference): Kaplan-Meier survival curve over user
    * lifetimes — the churn-retention statistic (Kaplan & Meier 1958)
    * behind every "how long do users stay" dashboard, with right-censoring
    * done correctly: a user whose last event falls within `censorDays` of
    * the corpus end may still be alive, so they leave the risk set without
    * counting as churn (the naive "last event = churn" read biases
    * survival down).
    *
    * Shape: one per-user aggregate, one single-row max broadcast, then
    * every window runs over the DURATION domain — bounded by the
    * observation span in days, never by user count. Determinism: risk
    * sets and event counts are integers; each KM factor takes ONE ln,
    * quantized to 1e-12 immediately (the d2 discipline), the cumulative
    * sum is then an exact BIGINT fold, and the final exp is quantized to
    * 1e-9 — so the curve is reproducible cross-engine. A duration where
    * the whole risk set churns (factor 0, ln undefined) is tracked by an
    * integer flag and zeroes the curve exactly from that point on.
    */
  val w16 = q(
    "w16_survival_km",
    """WITH pu AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day,
      |              max(CAST(ts AS DATE)) AS last_day FROM events GROUP BY 1),
      |mx AS (SELECT max(last_day) AS max_day FROM pu),
      |u AS (SELECT CAST(last_day - first_day AS INT) AS t_days,
      |        last_day <= max_day - 7 AS churned FROM pu, mx),
      |g AS (SELECT t_days, count(*) FILTER (churned) AS d,
      |        count(*) FILTER (NOT churned) AS c FROM u GROUP BY 1),
      |t AS (SELECT t_days, d, c,
      |        CAST(sum(d + c) OVER () AS BIGINT)
      |          - CAST(coalesce(sum(d + c) OVER (ORDER BY t_days
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      |      FROM g),
      |q0 AS (SELECT *,
      |        CASE WHEN d = 0 THEN 0
      |             WHEN d < n_risk THEN CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)
      |             ELSE 0 END AS qln,
      |        CASE WHEN d = n_risk THEN 1 ELSE 0 END AS z
      |      FROM t),
      |s AS (SELECT *, CAST(sum(qln) OVER wo AS BIGINT) AS cq,
      |        CAST(sum(z) OVER wo AS BIGINT) AS zeroed
      |      FROM q0 WINDOW wo AS (ORDER BY t_days))
      |SELECT t_days, n_risk, d, c,
      |  CASE WHEN zeroed > 0 THEN 0.0
      |       ELSE floor(exp(CAST(cq AS DOUBLE) / 1e12) * 1e9 + 0.5) / 1e9 END AS survival
      |FROM s""".stripMargin) { (s, d) => kaplanMeier(Tables.events(s, d)) }

  /** Public DataFrame-in API (see graft.api.Graft): Kaplan-Meier survival
    * over per-user lifetimes. `events` needs (user_id, ts: timestamp);
    * duration = days between a user's first and last event, churn
    * observed only when the last event predates the corpus end by more
    * than `censorDays` (otherwise right-censored). Returns one row per
    * distinct duration (t_days, n_risk, d, c, survival).
    */
  def kaplanMeier(events: DataFrame, censorDays: Int = 7): DataFrame = {
    val perUser = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id").agg(min("day").as("first_day"), max("day").as("last_day"))
    val maxDay = perUser.agg(max("last_day").as("max_day"))
    val u = perUser.crossJoin(broadcast(maxDay))
      .select(datediff(col("last_day"), col("first_day")).as("t_days"),
        (col("last_day") <= date_sub(col("max_day"), censorDays)).as("churned"))
    val g = u.groupBy("t_days").agg(
      count(when(col("churned"), 1)).as("d"),
      count(when(!col("churned"), 1)).as("c"))
    val wPrev = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    val wAt = Window.orderBy("t_days")
    val t = g.withColumn("n_risk",
      sum(col("d") + col("c")).over(Window.partitionBy()) -
        coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
    val lnq = when(col("d") === 0, lit(0L))
      .otherwise(floor(
        log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
          * 1e12 + 0.5).cast("long"))
    t.withColumn("qln", when(col("d") < col("n_risk"), lnq).otherwise(lit(0L)))
      .withColumn("z", when(col("d") === col("n_risk"), 1).otherwise(0))
      .withColumn("cq", sum("qln").over(wAt))
      .withColumn("zeroed", sum("z").over(wAt))
      .select(col("t_days"), col("n_risk"), col("d"), col("c"),
        when(col("zeroed") > 0, lit(0.0))
          .otherwise(floor(exp(col("cq").cast("double") / 1e12) * 1e9 + 0.5) / 1e9)
          .as("survival"))
  }

  /** W17 (beyond reference): activity-concentration summary — the Gini
    * coefficient of events-per-user, the "do 1% of users generate 90% of
    * traffic" number behind capacity planning and the j12 skew decision.
    *
    * Computed from the COUNT HISTOGRAM, not from ranked users: users are
    * grouped by their event count (domain bounded by the busiest user's
    * activity, not by user count), and the exact grouped-data Gini comes
    * from the trapezoid rule over that histogram:
    * G = 1 − Σ_i m_i·(ce_{i−1} + ce_i) / (U·E), where m_i = users at
    * count i, ce_i = cumulative events through count i. Every term is an
    * integer (the Σ is an exact BIGINT fold over the bounded count
    * domain), so G is one IEEE division — bitwise identical cross-engine
    * — and there is NO global user sort anywhere: at 100 TB the ranked
    * formulation would need a total order over billions of users, while
    * the histogram is a two-level hash aggregate plus a count-domain
    * window.
    */
  val w17 = q(
    "w17_gini_concentration",
    """WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
      |h AS (SELECT n, count(*) AS m FROM u GROUP BY 1),
      |c AS (SELECT n, m, CAST(sum(n * m) OVER wo AS BIGINT) AS ce,
      |        CAST(coalesce(sum(n * m) OVER (ORDER BY n
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ce_prev
      |      FROM h WINDOW wo AS (ORDER BY n)),
      |t AS (SELECT CAST(sum(m) AS BIGINT) AS n_users,
      |        CAST(sum(n * m) AS BIGINT) AS n_events,
      |        CAST(sum(m * (ce_prev + ce)) AS BIGINT) AS s FROM c)
      |SELECT n_users, n_events,
      |  1.0 - CAST(s AS DOUBLE) / (CAST(n_users AS DOUBLE) * CAST(n_events AS DOUBLE)) AS gini
      |FROM t""".stripMargin) { (s, d) => giniConcentration(Tables.events(s, d)) }

  /** Public DataFrame-in API (see graft.api.Graft): exact Gini
    * coefficient of per-user event concentration. `events` needs
    * (user_id); returns one row (n_users, n_events, gini) with gini in
    * [0, 1), 0 = perfectly uniform activity.
    */
  def giniConcentration(events: DataFrame): DataFrame = {
    val h = events.groupBy("user_id").agg(count(lit(1)).as("n"))
      .groupBy("n").agg(count(lit(1)).as("m"))
    val wAt = Window.orderBy("n")
    val wPrev = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, -1)
    val c = h
      .withColumn("ce", sum(col("n") * col("m")).over(wAt))
      .withColumn("ce_prev", coalesce(sum(col("n") * col("m")).over(wPrev), lit(0L)))
    c.agg(sum("m").as("n_users"), sum(col("n") * col("m")).as("n_events"),
        sum(col("m") * (col("ce_prev") + col("ce"))).as("s"))
      .select(col("n_users"), col("n_events"),
        (lit(1.0) - col("s").cast("double") /
          (col("n_users").cast("double") * col("n_events").cast("double"))).as("gini"))
  }

  /** W18 (beyond reference): daily new-vs-returning growth accounting —
    * the acquisition/retention split every growth dashboard leads with,
    * and the numerator decomposition behind [[w13]]'s stickiness. A
    * user's first-seen day comes from one per-user aggregate; each active
    * (user, day) then classifies as new (day = first_day) or returning.
    * Two hash aggregates + one id-join — no window at all, so nothing is
    * calendar- or user-sort-bound at 100 TB; every output is an integer
    * count.
    */
  val w18 = q(
    "w18_new_vs_returning",
    """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, min(day) AS first_day FROM du GROUP BY 1),
      |c AS (SELECT du.day,
      |        count(*) FILTER (WHERE du.day = f.first_day) AS new_users,
      |        count(*) FILTER (WHERE du.day > f.first_day) AS returning_users
      |      FROM du JOIN f USING (user_id) GROUP BY 1)
      |SELECT day, new_users + returning_users AS active, new_users, returning_users
      |FROM c""".stripMargin) { (s, d) => newVsReturning(Tables.events(s, d)) }

  /** Public DataFrame-in API (see graft.api.Graft): daily active users
    * split into new (first-ever activity) vs returning. `events` needs
    * (user_id, ts); returns (day, active, new_users, returning_users).
    */
  def newVsReturning(events: DataFrame): DataFrame = {
    val du = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val f = du.groupBy("user_id").agg(min("day").as("first_day"))
    du.join(f, "user_id")
      .groupBy("day")
      .agg(count(when(col("day") === col("first_day"), 1)).as("new_users"),
        count(when(col("day") > col("first_day"), 1)).as("returning_users"))
      .select(col("day"), (col("new_users") + col("returning_users")).as("active"),
        col("new_users"), col("returning_users"))
  }

  /** W19 (beyond reference): cohort lifetime-value curves — cumulative
    * value per user by (acquisition cohort, age), the revenue companion
    * to [[w7]]'s retention triangle and the payback-period input every
    * growth model needs. Shape: one per-user first-day aggregate, one
    * (cohort, age) hash aggregate, then a cumulative window over the AGE
    * domain within each cohort — both calendar-bounded. Determinism:
    * value accumulates as exact DECIMAL through the cumulative window
    * (fold order cannot perturb a bit), counts are integers, and the
    * per-user LTV is one final IEEE division.
    */
  val w19 = q(
    "w19_cohort_ltv",
    """WITH uv AS (SELECT user_id, CAST(ts AS DATE) AS day,
      |              CAST(value AS DECIMAL(18,4)) AS v FROM events),
      |f AS (SELECT user_id, min(day) AS cohort_day FROM uv GROUP BY 1),
      |cs AS (SELECT cohort_day, count(*) AS cohort_size FROM f GROUP BY 1),
      |g AS (SELECT f.cohort_day, CAST(uv.day - f.cohort_day AS INT) AS age,
      |        count(DISTINCT uv.user_id) AS active_users, sum(uv.v) AS sv
      |      FROM uv JOIN f USING (user_id) GROUP BY 1, 2),
      |c AS (SELECT g.cohort_day, g.age, g.active_users, cs.cohort_size,
      |        sum(g.sv) OVER (PARTITION BY g.cohort_day ORDER BY g.age) AS cum_sv
      |      FROM g JOIN cs USING (cohort_day))
      |SELECT cohort_day, age, active_users, cohort_size,
      |  CAST(cum_sv AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS ltv_per_user
      |FROM c""".stripMargin) { (s, d) => cohortLtv(Tables.events(s, d)) }

  /** Public DataFrame-in API (see graft.api.Graft): cohort LTV curves.
    * `events` needs (user_id, ts, value); returns one row per
    * (cohort_day, age) with active_users, cohort_size and cumulative
    * ltv_per_user.
    */
  def cohortLtv(events: DataFrame): DataFrame = {
    val uv = events.select(col("user_id"), to_date(col("ts")).as("day"),
      col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("v"))
    val f = uv.groupBy("user_id").agg(min("day").as("cohort_day"))
    val cs = f.groupBy("cohort_day").agg(count(lit(1)).as("cohort_size"))
    val g = uv.join(f, "user_id")
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("age"))
      .agg(countDistinct(col("user_id")).as("active_users"), sum("v").as("sv"))
    val w = Window.partitionBy("cohort_day").orderBy("age")
    g.join(cs, "cohort_day")
      .withColumn("cum_sv", sum("sv").over(w))
      .select(col("cohort_day"), col("age"), col("active_users"), col("cohort_size"),
        (col("cum_sv").cast("double") / col("cohort_size").cast("double"))
          .as("ltv_per_user"))
  }

  /** W20 (beyond reference): conversion probability by absorbing Markov
    * chain — for each transient state (view / click / signup), the
    * probability the user's journey reaches `purchase` before `error`,
    * the principled form of multi-step conversion attribution on top of
    * [[w12]]'s transition matrix. Solved in CLOSED FORM, not by float
    * iteration: the absorption system x = Qx + b, multiplied through by
    * the integer row totals, becomes (diag(t) − N)·x = c with every
    * entry an integer transition count — solved by 3x3 Cramer
    * determinants in exact BIGINT arithmetic (the Forecast H4 Cramer
    * discipline), so each probability is ONE IEEE division of two exact
    * integers and is bitwise identical in any engine. Count magnitudes
    * cube inside the determinants: ~1e12 events per state still fits
    * BIGINT; beyond that lift the products to DECIMAL(38,0).
    *
    * Shape: one lead() per user partition + one conditional aggregate to
    * a SINGLE row of 15 counts; the solve is constant-time arithmetic on
    * that row. Nothing scales with anything but the scan.
    */
  val w20 = q(
    "w20_conversion_absorption",
    """WITH o AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
      |p AS (SELECT event_type AS f,
      |        lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS t
      |      FROM o),
      |m AS (SELECT
      |  count(*) FILTER (f = 'view') AS t_v,
      |  count(*) FILTER (f = 'click') AS t_c,
      |  count(*) FILTER (f = 'signup') AS t_s,
      |  count(*) FILTER (f = 'view' AND t = 'view') AS n_vv,
      |  count(*) FILTER (f = 'view' AND t = 'click') AS n_vc,
      |  count(*) FILTER (f = 'view' AND t = 'signup') AS n_vs,
      |  count(*) FILTER (f = 'click' AND t = 'view') AS n_cv,
      |  count(*) FILTER (f = 'click' AND t = 'click') AS n_cc,
      |  count(*) FILTER (f = 'click' AND t = 'signup') AS n_cs,
      |  count(*) FILTER (f = 'signup' AND t = 'view') AS n_sv,
      |  count(*) FILTER (f = 'signup' AND t = 'click') AS n_sc,
      |  count(*) FILTER (f = 'signup' AND t = 'signup') AS n_ss,
      |  count(*) FILTER (f = 'view' AND t = 'purchase') AS n_vp,
      |  count(*) FILTER (f = 'click' AND t = 'purchase') AS n_cp,
      |  count(*) FILTER (f = 'signup' AND t = 'purchase') AS n_sp
      |  FROM p WHERE t IS NOT NULL),
      |k AS (SELECT
      |  t_v - n_vv AS a11, -n_vc AS a12, -n_vs AS a13,
      |  -n_cv AS a21, t_c - n_cc AS a22, -n_cs AS a23,
      |  -n_sv AS a31, -n_sc AS a32, t_s - n_ss AS a33,
      |  n_vp AS b1, n_cp AS b2, n_sp AS b3 FROM m),
      |dd AS (SELECT *,
      |  a11 * (a22 * a33 - a23 * a32) - a12 * (a21 * a33 - a23 * a31)
      |    + a13 * (a21 * a32 - a22 * a31) AS det FROM k)
      |SELECT 'view' AS state,
      |  CAST(b1 * (a22 * a33 - a23 * a32) - a12 * (b2 * a33 - a23 * b3)
      |    + a13 * (b2 * a32 - a22 * b3) AS DOUBLE) / CAST(det AS DOUBLE) AS p_convert
      |FROM dd
      |UNION ALL SELECT 'click',
      |  CAST(a11 * (b2 * a33 - a23 * b3) - b1 * (a21 * a33 - a23 * a31)
      |    + a13 * (a21 * b3 - b2 * a31) AS DOUBLE) / CAST(det AS DOUBLE)
      |FROM dd
      |UNION ALL SELECT 'signup',
      |  CAST(a11 * (a22 * b3 - b2 * a32) - a12 * (a21 * b3 - b2 * a31)
      |    + b1 * (a21 * a32 - a22 * a31) AS DOUBLE) / CAST(det AS DOUBLE)
      |FROM dd""".stripMargin) { (s, d) => conversionAbsorption(Tables.events(s, d)) }

  /** Public DataFrame-in API (see graft.api.Graft): absorbing-Markov
    * conversion probabilities. `events` needs (user_id, event_type, ts,
    * event_id) with transient states view/click/signup and absorbing
    * purchase (success) / error (failure); returns
    * (state, p_convert) per transient state.
    */
  def conversionAbsorption(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val p = events
      .select(col("event_type").as("f"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_id"))
      .withColumn("t", lead(col("f"), 1).over(w))
      .filter(col("t").isNotNull)
    def cnt(cond: org.apache.spark.sql.Column) = count(when(cond, 1))
    val m = p.agg(
      cnt(col("f") === "view").as("t_v"),
      cnt(col("f") === "click").as("t_c"),
      cnt(col("f") === "signup").as("t_s"),
      cnt(col("f") === "view" && col("t") === "view").as("n_vv"),
      cnt(col("f") === "view" && col("t") === "click").as("n_vc"),
      cnt(col("f") === "view" && col("t") === "signup").as("n_vs"),
      cnt(col("f") === "click" && col("t") === "view").as("n_cv"),
      cnt(col("f") === "click" && col("t") === "click").as("n_cc"),
      cnt(col("f") === "click" && col("t") === "signup").as("n_cs"),
      cnt(col("f") === "signup" && col("t") === "view").as("n_sv"),
      cnt(col("f") === "signup" && col("t") === "click").as("n_sc"),
      cnt(col("f") === "signup" && col("t") === "signup").as("n_ss"),
      cnt(col("f") === "view" && col("t") === "purchase").as("n_vp"),
      cnt(col("f") === "click" && col("t") === "purchase").as("n_cp"),
      cnt(col("f") === "signup" && col("t") === "purchase").as("n_sp"))
    val k = m.select(
      (col("t_v") - col("n_vv")).as("a11"), (-col("n_vc")).as("a12"), (-col("n_vs")).as("a13"),
      (-col("n_cv")).as("a21"), (col("t_c") - col("n_cc")).as("a22"), (-col("n_cs")).as("a23"),
      (-col("n_sv")).as("a31"), (-col("n_sc")).as("a32"), (col("t_s") - col("n_ss")).as("a33"),
      col("n_vp").as("b1"), col("n_cp").as("b2"), col("n_sp").as("b3"))
    def c(n: String) = col(n)
    val det = c("a11") * (c("a22") * c("a33") - c("a23") * c("a32")) -
      c("a12") * (c("a21") * c("a33") - c("a23") * c("a31")) +
      c("a13") * (c("a21") * c("a32") - c("a22") * c("a31"))
    val dd = k.withColumn("det", det)
    val xv = c("b1") * (c("a22") * c("a33") - c("a23") * c("a32")) -
      c("a12") * (c("b2") * c("a33") - c("a23") * c("b3")) +
      c("a13") * (c("b2") * c("a32") - c("a22") * c("b3"))
    val xc = c("a11") * (c("b2") * c("a33") - c("a23") * c("b3")) -
      c("b1") * (c("a21") * c("a33") - c("a23") * c("a31")) +
      c("a13") * (c("a21") * c("b3") - c("b2") * c("a31"))
    val xs = c("a11") * (c("a22") * c("b3") - c("b2") * c("a32")) -
      c("a12") * (c("a21") * c("b3") - c("b2") * c("a31")) +
      c("b1") * (c("a21") * c("a32") - c("a22") * c("a31"))
    dd.select(lit("view").as("state"),
        (xv.cast("double") / c("det").cast("double")).as("p_convert"))
      .unionByName(dd.select(lit("click").as("state"),
        (xc.cast("double") / c("det").cast("double")).as("p_convert")))
      .unionByName(dd.select(lit("signup").as("state"),
        (xs.cast("double") / c("det").cast("double")).as("p_convert")))
  }

  /** W21 (beyond reference): growth-accounting lifecycle states — each
    * active (user, day) classified as new / retained (active again within
    * 7 days) / resurrected (returned after a 7+ day gap), plus churn
    * events booked on the day a user completes 7 days of silence — the
    * standard MAU growth-accounting decomposition (new + resurrected −
    * churned = net growth), extending [[w18]]'s two-way split. One lag()
    * and one lead() per user partition, day-domain aggregates, all
    * integer date arithmetic — deterministic in any engine and
    * user-bounded at any scale.
    */
  val w21 = q(
    "w21_lifecycle_states",
    """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |st AS (SELECT day,
      |         CASE WHEN prev IS NULL THEN 'new'
      |              WHEN day - prev <= 7 THEN 'retained'
      |              ELSE 'resurrected' END AS state
      |       FROM (SELECT user_id, day,
      |               lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
      |             FROM du)),
      |act AS (SELECT day,
      |          count(*) FILTER (state = 'new') AS n_new,
      |          count(*) FILTER (state = 'retained') AS n_retained,
      |          count(*) FILTER (state = 'resurrected') AS n_resurrected
      |        FROM st GROUP BY 1),
      |mx AS (SELECT max(day) AS max_day FROM du),
      |ch AS (SELECT day + 7 AS day, count(*) AS n_churned
      |       FROM (SELECT user_id, day,
      |               lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
      |             FROM du), mx
      |       WHERE (nxt IS NOT NULL AND nxt - day > 7)
      |          OR (nxt IS NULL AND max_day - day >= 7)
      |       GROUP BY 1)
      |SELECT coalesce(act.day, ch.day) AS day,
      |  coalesce(n_new, 0) AS n_new,
      |  coalesce(n_retained, 0) AS n_retained,
      |  coalesce(n_resurrected, 0) AS n_resurrected,
      |  coalesce(n_churned, 0) AS n_churned
      |FROM act FULL JOIN ch ON act.day = ch.day""".stripMargin) {
    (s, d) => lifecycleStates(Tables.events(s, d)) }

  /** Public DataFrame-in API (see graft.api.Graft): growth-accounting
    * lifecycle counts. `events` needs (user_id, ts); returns one row per
    * day (day, n_new, n_retained, n_resurrected, n_churned) with a 7-day
    * activity window.
    */
  def lifecycleStates(events: DataFrame): DataFrame = {
    val du = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val st = du.withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("state",
        when(col("prev").isNull, "new")
          .when(datediff(col("day"), col("prev")) <= 7, "retained")
          .otherwise("resurrected"))
    val act = st.groupBy("day").agg(
      count(when(col("state") === "new", 1)).as("n_new"),
      count(when(col("state") === "retained", 1)).as("n_retained"),
      count(when(col("state") === "resurrected", 1)).as("n_resurrected"))
    val mx = du.agg(max("day").as("max_day"))
    val ch = du.withColumn("nxt", lead(col("day"), 1).over(w))
      .crossJoin(broadcast(mx))
      .filter((col("nxt").isNotNull && datediff(col("nxt"), col("day")) > 7) ||
        (col("nxt").isNull && datediff(col("max_day"), col("day")) >= 7))
      .select(date_add(col("day"), 7).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_churned"))
    act.join(ch, Seq("day"), "full")
      .na.fill(0L, Seq("n_new", "n_retained", "n_resurrected", "n_churned"))
  }

  /** W22 (beyond reference): weekly usage heatmap — event counts and mean
    * value per (day-of-week, hour) cell, the seasonality fingerprint
    * behind m11/m13's weekly-cycle assumptions and every "when are users
    * here" product view. Day-of-week is epoch-day mod 7 (engine-neutral —
    * SQL dayofweek() numbering differs between engines); one hash
    * aggregate onto a 168-cell domain, DECIMAL-exact means.
    */
  val w22 = q(
    "w22_usage_heatmap",
    """WITH e AS (SELECT CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS INT) AS dow,
      |             CAST(extract(hour FROM ts) AS INT) AS hour,
      |             CAST(value AS DECIMAL(18,4)) AS v
      |      FROM events)
      |SELECT dow, hour, count(*) AS n,
      |  CAST(sum(v) AS DOUBLE) / count(*) AS mean_value
      |FROM e GROUP BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 7)
          .cast("int").as("dow"),
        hour(col("ts")).cast("int").as("hour"))
      .agg(count(lit(1)).as("n"),
        (decSum(col("value")).cast("double") / count(lit(1))).as("mean_value"))
  }

  /** W23 (beyond reference): WINDOWED conversion funnel — view, then
    * click strictly after it, then purchase strictly after that, ALL
    * within 24 hours of the first view (the "conversion window" every
    * product-analytics funnel carries; [[w9]] is the unbounded variant,
    * and on this data the 24 h deadline excludes about half the w9
    * converters — median first-click delay is ~32 h). Semantics are
    * EXACT, not greedy-approximate: because the deadline anchors at step
    * 1, the constraint set is t1 < t2 < ... < tk ≤ t1 + W with one
    * common upper bound, so taking the earliest qualifying event at each
    * stage (chained min) finds a chain iff any chain exists — the choice
    * of an earlier t_j only loosens every later lower bound. (A
    * PER-STEP sliding deadline would break this greedy property and
    * need a per-user DP kernel instead.) Shape: one filtered hash
    * aggregate per stage joined to the previous stage ON user_id — every
    * stage partitioned by the same key, exchange planned once; per-stage
    * counts are single-row aggregates broadcast back. Determinism:
    * timestamp arithmetic is integer micros, counts are integers,
    * frac_of_first is one IEEE division.
    */
  val w23 = q(
    "w23_funnel_windowed",
    """WITH s1 AS (SELECT user_id, min(ts) AS t, min(ts) AS t1 FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t, any_value(s1.t1) AS t1
      |       FROM events e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts > s1.t
      |         AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t, any_value(s2.t1) AS t1
      |       FROM events e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t
      |         AND e.ts <= s2.t1 + INTERVAL 24 HOUR GROUP BY 1),
      |n AS (SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM s1) AS n_users
      |      UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
      |      UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
      |SELECT step, step_name, n_users,
      |  CASE WHEN (SELECT count(*) FROM s1) > 0
      |       THEN CAST(n_users AS DOUBLE) / (SELECT count(*) FROM s1) END AS frac_of_first
      |FROM n""".stripMargin) { (s, d) =>
    funnelSteps(Tables.events(s, d), Seq("view", "click", "purchase"),
      window = "24 hours")
  }

  /** Public DataFrame-in API (see graft.api.Graft): ordered funnel with
    * an optional conversion window. `events` needs (user_id, event_type,
    * ts); `steps` is the ordered list of event types; `window` (e.g.
    * "24 hours"), when set, requires every step to land within that
    * interval of the user's FIRST step (exact under chained-min — see
    * [[w23]]). Returns one row per step with the user count that reached
    * it in strictly-increasing event time and the fraction of step-1
    * users.
    */
  def funnelSteps(events: DataFrame, steps: Seq[String],
      window: String = null): DataFrame = {
    require(steps.nonEmpty, "funnelSteps: at least one step")
    val e = events.select(col("user_id"), col("event_type"), col("ts"))
    // stage k: earliest step-k event strictly after the user's stage k-1
    // time (and, when windowed, no later than t1 + window)
    val stage1 = e.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min("ts").as("t"))
      .withColumn("t1", col("t"))
    val stages = steps.tail.scanLeft(stage1) { (prev, ev) =>
      val joined = e.filter(col("event_type") === ev)
        .join(prev.select(col("user_id"), col("t").as("t_prev"), col("t1")),
          "user_id")
        .filter(col("ts") > col("t_prev"))
      val bounded =
        if (window == null) joined
        else joined.filter(col("ts") <= col("t1") + expr(s"INTERVAL $window"))
      bounded.groupBy("user_id")
        .agg(min("ts").as("t"), first("t1").as("t1"))
    }
    val counts = stages.zip(steps).zipWithIndex.map { case ((df, ev), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(ev).as("step_name"), col("n_users"))
    }.reduce(_ union _)
    val first1 = stages.head.agg(count(lit(1)).as("n_first"))
    counts.crossJoin(broadcast(first1))
      .select(col("step"), col("step_name"), col("n_users"),
        when(col("n_first") > 0,
          col("n_users").cast("double") / col("n_first")).as("frac_of_first"))
  }

  /** W24 (beyond reference): power-user curve (the "L30" engagement
    * histogram) — how many users were active on exactly k distinct days
    * of the observed window, the canonical engagement-depth distribution
    * next to [[w13]]'s DAU/MAU ratio and [[w21]]'s lifecycle flows. A
    * left-skewed curve = drive-by users; a right bump = habit. Shape: two
    * chained hash aggregates (user-day dedup, then per-user day count,
    * then the k-histogram) — each reduces cardinality by orders of
    * magnitude, all counts integers, no windows at all.
    */
  val w24 = q(
    "w24_power_user_curve",
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |k AS (SELECT user_id, count(*) AS active_days FROM ud GROUP BY 1)
      |SELECT CAST(active_days AS INT) AS active_days,
      |       count(*) AS n_users
      |FROM k GROUP BY 1""".stripMargin) { (s, d) =>
    powerUserCurve(Tables.events(s, d))
  }

  /** Public DataFrame-in API (see graft.api.Graft): the active-days
    * histogram over (user_id, ts).
    */
  def powerUserCurve(events: DataFrame): DataFrame =
    events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .groupBy("user_id").agg(count(lit(1)).as("active_days"))
      .groupBy(col("active_days").cast("int").as("active_days"))
      .agg(count(lit(1)).as("n_users"))

  /** W25 (beyond reference): longest-activity-streak histogram — for each
    * user the longest run of CONSECUTIVE active days, histogrammed over
    * the user base; the habit-formation metric next to [[w24]]'s depth
    * histogram (w24 counts active days, this demands adjacency). Classic
    * gaps-and-islands: within each user, epoch_day − row_number is
    * constant exactly on consecutive-day runs, so three hash aggregates
    * (user-day dedup → run lengths → per-user max → histogram) and ONE
    * window partitioned BY USER — state bounded by a user's active days,
    * nothing global. All integer arithmetic.
    */
  val w25 = q(
    "w25_activity_streaks",
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |r AS (SELECT user_id,
      |        CAST(day - DATE '1970-01-01' AS INT)
      |          - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS grp
      |      FROM ud),
      |s AS (SELECT user_id, count(*) AS len FROM r GROUP BY user_id, grp),
      |m AS (SELECT user_id, max(len) AS longest FROM s GROUP BY 1)
      |SELECT CAST(longest AS INT) AS streak_days, count(*) AS n_users
      |FROM m GROUP BY 1""".stripMargin) { (s, d) =>
    activityStreaks(Tables.events(s, d))
  }

  /** Public DataFrame-in API (see graft.api.Graft): the longest-streak
    * histogram over (user_id, ts).
    */
  def activityStreaks(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    ud.select(col("user_id"),
        (datediff(col("day"), lit("1970-01-01").cast("date")) -
          row_number().over(w)).as("grp"))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max("len").as("longest"))
      .groupBy(col("longest").cast("int").as("streak_days"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** W26 (beyond reference): rolling 7-day active users — for each day of
    * the observed range, how many distinct users were active in the
    * trailing 7-day window (the rolling-MAU curve; [[w13]] reports the
    * global DAU/MAU ratio, this is its full time series). COUNT DISTINCT
    * does not decompose over sliding windows, so the exact formulation
    * EXPLODES each user-day into the <= 7 window-end days it supports and
    * hash-aggregates distinct users per window-end — a bounded 7x row
    * multiplication on the (user, day) DEDUPED domain (not raw events),
    * then one distinct-count shuffle; no window function at all. Days
    * with no trailing activity simply don't appear (total function over
    * observed days via the spine join). At 100 TB the user-day domain is
    * the small one, and the alternative (7 self-joins or a sliding HLL)
    * trades exactness for nothing at this blowup factor.
    */
  val w26 = q(
    "w26_rolling_mau",
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
      |w AS (SELECT user_id, day + CAST(off AS INTEGER) AS wend
      |      FROM ud CROSS JOIN (SELECT unnest(range(7)) AS off)),
      |r AS (SELECT wend AS day, count(DISTINCT user_id) AS rolling_users
      |      FROM w, bounds WHERE wend <= bounds.d1 GROUP BY 1)
      |SELECT day, rolling_users FROM r, bounds WHERE day >= bounds.d0""".stripMargin) {
    (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val bounds = ud.agg(min("day").as("d0"), max("day").as("d1"))
      ud.select(col("user_id"),
          explode(expr("sequence(0, 6)")).as("off"), col("day"))
        .select(col("user_id"), date_add(col("day"), col("off")).as("wend"))
        .crossJoin(broadcast(bounds))
        .filter(col("wend") <= col("d1") && col("wend") >= col("d0"))
        .groupBy(col("wend").as("day"))
        .agg(countDistinct("user_id").as("rolling_users"))
  }

  /** W27 (beyond reference): first-touch / last-touch attribution — for
    * each converting user (any purchase), which event TYPE opened their
    * journey and which one directly preceded the first purchase; counts
    * per (touch, event_type). The two bookend heuristics every marketing
    * stack reports next to [[w20]]'s principled Markov attribution —
    * shipping all three lets a user quantify how much the heuristics
    * disagree with the model. Shape: one purchase-time aggregate, one
    * join + min_by/max_by aggregate per user (deterministic
    * (ts, event_id) tiebreak), one tiny count; all hash aggregates on
    * user_id, no windows.
    */
  val w27 = q(
    "w27_touch_attribution",
    """WITH fp AS (SELECT user_id, min(ts) AS tp FROM events
      |           WHERE event_type = 'purchase' GROUP BY 1),
      |pre AS (SELECT e.user_id, e.event_type, e.ts, e.event_id
      |        FROM events e JOIN fp USING (user_id) WHERE e.ts < fp.tp),
      |bk AS (SELECT user_id,
      |         arg_min(event_type, printf('%020d-%012d', epoch_us(ts), event_id)) AS ft,
      |         arg_max(event_type, printf('%020d-%012d', epoch_us(ts), event_id)) AS lt
      |       FROM pre GROUP BY 1)
      |SELECT 'first' AS touch, ft AS event_type, count(*) AS n_users
      |FROM bk GROUP BY 2
      |UNION ALL
      |SELECT 'last', lt, count(*) FROM bk GROUP BY 2""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val fp = e.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("tp"))
    val pre = e.join(fp, "user_id").filter(col("ts") < col("tp"))
    val key = format_string("%020d-%012d", unix_micros(col("ts")), col("event_id"))
    val bk = pre.groupBy("user_id").agg(
      min_by(col("event_type"), key).as("ft"),
      max_by(col("event_type"), key).as("lt"))
    bk.groupBy(col("ft").as("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .select(lit("first").as("touch"), col("event_type"), col("n_users"))
      .union(bk.groupBy(col("lt").as("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .select(lit("last").as("touch"), col("event_type"), col("n_users")))
  }

  /** J14 (beyond reference): interval-overlap join WITH an equi-key —
    * "which shipments of the same part were in transit simultaneously".
    * Each lineitem carries a 7-day transit window [shipdate, shipdate+7d];
    * even-supplier windows join odd-supplier windows of the SAME part
    * that overlap (a.s ≤ b.e ∧ b.s ≤ a.e), rolled up per return flag
    * with the total inclusive overlap days.
    *
    * The scale shape is the point of the op: the equi-key (l_partkey)
    * carries the shuffle, so this plans as a hash/sort-merge join with
    * the overlap predicate evaluated inside the matched key group —
    * never a cartesian (j13 handles the keyLESS case by time-bucketing;
    * a skewed hot part would take j12's salting). Overlap lengths are
    * exact integer day counts on midnight-aligned timestamps.
    */
  val j14 = q(
    "j14_interval_overlap_join",
    """WITH a AS (SELECT l_partkey, l_returnflag, l_shipdate AS s,
      |            l_shipdate + INTERVAL 7 DAY AS e
      |          FROM lineitem WHERE l_suppkey % 2 = 0),
      |b AS (SELECT l_partkey, l_shipdate AS s, l_shipdate + INTERVAL 7 DAY AS e
      |      FROM lineitem WHERE l_suppkey % 2 = 1)
      |SELECT a.l_returnflag, count(*) AS n_pairs,
      |  CAST(sum(date_diff('day', CAST(greatest(a.s, b.s) AS DATE),
      |    CAST(least(a.e, b.e) AS DATE)) + 1) AS BIGINT) AS overlap_days
      |FROM a JOIN b ON a.l_partkey = b.l_partkey AND a.s <= b.e AND b.s <= a.e
      |GROUP BY 1""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val a = li.filter(col("l_suppkey") % 2 === 0)
      .select(col("l_partkey"), col("l_returnflag"), col("l_shipdate").as("a_s"),
        (col("l_shipdate") + expr("INTERVAL 7 DAYS")).as("a_e"))
    val b = li.filter(col("l_suppkey") % 2 === 1)
      .select(col("l_partkey").as("b_partkey"), col("l_shipdate").as("b_s"),
        (col("l_shipdate") + expr("INTERVAL 7 DAYS")).as("b_e"))
    a.join(b, col("l_partkey") === col("b_partkey") &&
        col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(datediff(least(col("a_e"), col("b_e")).cast("date"),
          greatest(col("a_s"), col("b_s")).cast("date")) + 1).as("overlap_days"))
  }

  /** W28 (beyond reference): Pareto/ABC user segmentation — the "which
    * users carry 80% of the traffic" rollup behind tiered rate limits
    * and cache-warming lists. Like [[w17]]'s Gini, it runs on the COUNT
    * HISTOGRAM, not on ranked users: users group by their event count,
    * counts sort descending (domain bounded by the busiest user, not by
    * user cardinality), and a count-bucket classifies by the cumulative
    * event share STRICTLY BEFORE it (A while < 0.8, B while < 0.95, else
    * C) — so all users with equal activity land in the same class and no
    * global user sort exists anywhere. Output: 3 rows (abc_class,
    * n_users, n_events, share).
    */
  val w28 = q(
    "w28_pareto_abc",
    """WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
      |h AS (SELECT n, count(*) AS m FROM u GROUP BY 1),
      |t AS (SELECT CAST(sum(n * m) AS BIGINT) AS e_total FROM h),
      |c AS (SELECT n, m, CAST(coalesce(sum(n * m) OVER (ORDER BY n DESC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ce_prev
      |      FROM h),
      |k AS (SELECT CASE WHEN CAST(ce_prev AS DOUBLE) / CAST(e_total AS DOUBLE) < 0.8 THEN 'A'
      |                  WHEN CAST(ce_prev AS DOUBLE) / CAST(e_total AS DOUBLE) < 0.95 THEN 'B'
      |                  ELSE 'C' END AS abc_class,
      |             m, n * m AS ev, e_total FROM c, t)
      |SELECT abc_class, CAST(sum(m) AS BIGINT) AS n_users,
      |  CAST(sum(ev) AS BIGINT) AS n_events,
      |  CAST(sum(ev) AS DOUBLE) / CAST(max(e_total) AS DOUBLE) AS share
      |FROM k GROUP BY 1""".stripMargin) { (s, d) =>
    paretoAbc(Tables.events(s, d))
  }

  /** Public DataFrame-in API (see graft.api.Graft): histogram-based ABC
    * classification of per-user activity. `events` needs (user_id);
    * returns ≤3 rows (abc_class, n_users, n_events, share).
    */
  def paretoAbc(events: DataFrame): DataFrame = {
    val h = events.groupBy("user_id").agg(count(lit(1)).as("n"))
      .groupBy("n").agg(count(lit(1)).as("m"))
    val total = h.agg(sum(col("n") * col("m")).as("e_total"))
    val wPrev = Window.orderBy(col("n").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("ce_prev", coalesce(sum(col("n") * col("m")).over(wPrev), lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("abc_class",
        when(col("ce_prev").cast("double") / col("e_total").cast("double") < 0.8, "A")
          .when(col("ce_prev").cast("double") / col("e_total").cast("double") < 0.95, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(sum("m").as("n_users"), sum(col("n") * col("m")).as("n_events"),
        (sum(col("n") * col("m")).cast("double") /
          max("e_total").cast("double")).as("share"))
  }

  val all: Seq[GraftQuery] = Seq(
    d1,
    p1, p2, p3, p4, p5, p6, p7, p8,
    j1, j2, j3, j4, j5, j6, j7, j8, j9, j10, j11, j12, j13, j14,
    a1, a2, a3, a4, a5, a6, a7, a7b, a8, a10, a11, a12, a13, a14, a15, a16, a17, a18, a19, a20, a21, a24, a25, a26, set1,
    w1, w2, w3, w4, w5, w6, w7, w8, w9, w10, w11, w12, w13, w14, w15, w16, w17, w18, w19, w20, w21, w22, w23, w24, w25, w26, w27, w28, o1, o2, o3,
    f2, f3, f6n, f10, f12, f14, f15, f16, f20, f21, u3, u3b)
}
