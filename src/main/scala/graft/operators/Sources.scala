package graft.operators

import graft.api.GraftQuery
import graft.core.{ListingCache, Scratch, Tables}
import graft.functions.Funcs._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink operator surface (SURVEY.md §2.1): schema'd CSV and NDJSON
  * loads, Parquet scan/sink, overwrite semantics, DDL and DML-delete. Where
  * the reference talks to Iceberg/BigQuery, the same API shape is exercised
  * against the local Parquet-backed catalog — the IO seam in
  * [[graft.core.Tables]] is where a real deployment swaps in Iceberg.
  */
object Sources {

  /** S1: CSV batch load with declared schema + header (part0:223-236).
    * Round-trips the nation dim through CSV to prove the reader path.
    */
  val s1: GraftQuery = GraftQuery(
    "s1_csv_load",
    (s, d) => {
      val path = Scratch.run("s1_nation_csv")
      Tables.nation(s, d).write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.schema(schema).option("header", "true").csv(path)
    },
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation"))

  /** S2: NDJSON load with declared schema (part0:450-459). */
  val s2: GraftQuery = GraftQuery(
    "s2_ndjson_load",
    (s, d) => {
      val path = Scratch.run("s2_documents_json")
      Tables.documents(s, d).write.mode(SaveMode.Overwrite).json(path)
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(path)
    },
    Some("SELECT doc_id, text, lang, source, n_chars FROM documents"))

  /** S3: Parquet scan with filter + projection pushed to the reader
    * (part1:501-503). The plan must show PushedFilters + a pruned ReadSchema.
    */
  val s3: GraftQuery = GraftQuery(
    "s3_parquet_scan_pushdown",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("2000-01-01").cast(TimestampType))
        .select("l_orderkey", "l_quantity", "l_shipdate"),
    Some("""SELECT l_orderkey, l_quantity, l_shipdate FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'""".stripMargin))

  /** S4: Parquet sink, partitioned by a low-cardinality key (part0:515-548).
    * At scale the partition column is the time key (X2); here status proves
    * the layout machinery: write, read back through partition discovery, agg.
    */
  val s4: GraftQuery = GraftQuery(
    "s4_parquet_sink_partitioned",
    (s, d) => {
      val path = Scratch.run("s4_orders_parquet")
      val orders = Tables.orders(s, d)
      orders.write.mode(SaveMode.Overwrite).partitionBy("o_orderstatus").parquet(path)
      Tables.readBack(orders, path).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("total"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
           |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders GROUP BY o_orderstatus""".stripMargin))

  /** S8: batch sink overwrite semantics (part2:629-631): two writes to the
    * same target, second replaces the first.
    */
  val s8: GraftQuery = GraftQuery(
    "s8_overwrite_sink",
    (s, d) => {
      val path = Scratch.run("s8_overwrite")
      // first write: garbage subset that must NOT survive
      Tables.orders(s, d).limit(7).write.mode(SaveMode.Overwrite).parquet(path)
      val kept = Tables.orders(s, d).filter(col("o_orderstatus") =!= "X")
      kept.write.mode(SaveMode.Overwrite).parquet(path)
      Tables.readBack(kept, path).groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    },
    Some("SELECT o_orderpriority, count(*) AS n FROM orders WHERE o_orderstatus <> 'X' GROUP BY o_orderpriority"))

  /** S14: SQL DDL surface — CREATE NAMESPACE / USE, CREATE TABLE (CTAS)
    * inside the namespace, SHOW NAMESPACES / SHOW TABLES / DESCRIBE
    * EXTENDED, then a namespace-qualified read (part1:234-250, 497-498,
    * 568-582; part2:206-216). CLUSTER BY maps to a sorted write.
    */
  val s14: GraftQuery = GraftQuery(
    "s14_ddl_ctas",
    (s, d) => {
      val path = Scratch.run("s14_ctas")
      Tables.customer(s, d).createOrReplaceTempView("customer_s14")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ns")
      s.sql("USE graft_ns")
      s.sql("DROP TABLE IF EXISTS graft_s14_cust") // resolves in graft_ns
      s.sql(
        s"""CREATE TABLE graft_s14_cust USING parquet LOCATION '$path' AS
           |SELECT c_custkey, c_nationkey, c_acctbal FROM customer_s14
           |ORDER BY c_nationkey, c_custkey""".stripMargin)
      s.sql("SHOW NAMESPACES").collect() // exercise the catalog surface
      s.sql("SHOW TABLES").collect()
      s.sql("DESCRIBE TABLE EXTENDED graft_s14_cust").collect()
      s.sql("USE default") // restore; the read below is namespace-qualified
      s.sql("""SELECT c_nationkey, count(*) AS n, max(c_acctbal) AS max_bal
              |FROM graft_ns.graft_s14_cust GROUP BY c_nationkey""".stripMargin)
    },
    Some("""SELECT c_nationkey, count(*) AS n, max(c_acctbal) AS max_bal
           |FROM customer GROUP BY c_nationkey""".stripMargin))

  /** S15: DML DELETE (part1:279,589) — copy-on-write delete over the Parquet
    * fallback (Iceberg would do this natively at the Tables seam): rewrite
    * surviving rows, then read the new snapshot.
    */
  val s15: GraftQuery = GraftQuery(
    "s15_dml_delete",
    (s, d) => {
      val v1 = Scratch.run("s15_orders_v1")
      val v2 = Scratch.run("s15_orders_v2")
      val orders = Tables.orders(s, d)
      orders.write.mode(SaveMode.Overwrite).parquet(v1)
      // DELETE FROM orders WHERE o_orderstatus = 'F'  (copy-on-write)
      val kept = Tables.readBack(orders, v1).filter(!(col("o_orderstatus") === "F"))
      kept.write.mode(SaveMode.Overwrite).parquet(v2)
      Tables.readBack(kept, v2).groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    },
    Some("SELECT o_orderstatus, count(*) AS n FROM orders WHERE o_orderstatus <> 'F' GROUP BY o_orderstatus"))

  /** S5+S6: managed-table write + catalog scan — the Iceberg
    * `writeTo(...).createOrReplace()` / `spark.table(...)` API shape
    * (part1:506-508, part2:242-248) against the session catalog's Parquet
    * provider. The Iceberg runtime jar is absent in this environment; the
    * catalog seam is identical, so swapping the provider string (and
    * gaining DELETE/time-travel) is the only production change.
    */
  val s5: GraftQuery = GraftQuery(
    "s5_table_write_catalog_scan",
    (s, d) => {
      // managed table in the session warehouse (spark.sql.warehouse.dir is
      // a static conf — the default ./spark-warehouse is gitignored). The
      // in-memory catalog forgets tables across sessions but the warehouse
      // dir persists, so clear the stale location first.
      dropWarehouseTable(s, "graft_s5_nation")
      Tables.nation(s, d).write.mode(SaveMode.Overwrite)
        .format("parquet").saveAsTable("graft_s5_nation")
      s.table("graft_s5_nation")
        .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
    },
    Some("SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"))

  /** S16: snapshot time-travel at the Tables seam (part1:333, 346-409 —
    * Iceberg history + VERSION AS OF): v1 = full orders, v2 = copy-on-write
    * DELETE of status 'F'; then read BOTH versions and prove v1 still holds
    * the deleted rows while v2 does not (n_v2 is null for 'F').
    */
  val s16: GraftQuery = GraftQuery(
    "s16_time_travel",
    (s, d) => {
      import graft.core.Snapshots
      val t = "orders_tt"
      Snapshots.reset(s, t)
      Snapshots.write(s, t, Tables.orders(s, d))
      Snapshots.write(s, t,
        Snapshots.latest(s, t).filter(col("o_orderstatus") =!= "F"))
      require(Snapshots.versions(s, t) == Seq(1, 2), "snapshot listing broken")
      val v1 = Snapshots.read(s, t, 1).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_v1"))
      val v2 = Snapshots.read(s, t, 2).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_v2"))
      v1.join(v2, Seq("o_orderstatus"), "left")
    },
    Some("""SELECT o_orderstatus, count(*) AS n_v1,
           |CASE WHEN o_orderstatus <> 'F' THEN count(*) END AS n_v2
           |FROM orders GROUP BY o_orderstatus""".stripMargin))

  /** Drop the catalog table `name` and delete its warehouse location: the
    * in-memory catalog forgets tables across sessions but the warehouse
    * dir persists.
    */
  private def dropWarehouseTable(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val p = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), name)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
  }

  /** Write `df` as a bucketed+sorted catalog table (drops any stale copy
    * first).
    */
  private def writeBucketed(s: SparkSession, name: String, df: DataFrame, key: String): Unit = {
    dropWarehouseTable(s, name)
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(8, key).sortBy(key).saveAsTable(name)
  }

  /** The join half of [[s17]], exposed so the spec can assert its physical
    * plan — both sides pre-bucketed on the join key.
    */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    writeBucketed(s, "graft_b_orders", Tables.orders(s, d), "o_custkey")
    writeBucketed(s, "graft_b_cust", Tables.customer(s, d), "c_custkey")
    // merge hint: prove the co-located sort-merge path (a broadcast would
    // trivially avoid the exchange and prove nothing about bucketing)
    s.table("graft_b_orders")
      .join(s.table("graft_b_cust").hint("merge"),
        col("o_custkey") === col("c_custkey"))
  }

  /** S17 (beyond reference): bucketed co-located join — both tables are
    * written `bucketBy(8, key).sortBy(key)`, so the join needs NO exchange
    * and no sort on either side (SourcesSpec asserts the plan is
    * exchange-free). At 100 TB this is THE lever for repeated fact-dim
    * joins on a stable key: the shuffle is paid once at write time and
    * never again per query.
    */
  val s17: GraftQuery = GraftQuery(
    "s17_bucketed_colocated_join",
    (s, d) => bucketedJoin(s, d)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("total")),
    Some("""SELECT c_nationkey, count(*) AS n,
           |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |GROUP BY c_nationkey""".stripMargin))

  /** S18 (beyond reference): MERGE INTO upsert at the snapshot seam
    * ([[graft.core.Snapshots.merge]]) — the third DML verb after DELETE
    * (s15) and time-travel reads (s16). Updates bump every open order's
    * price; inserts add key-shifted rows under a new status, so the result
    * groups prove all three MERGE branches: updated totals, inserted 'N'
    * rows, untouched 'F'/'P' rows carried over.
    */
  val s18: GraftQuery = GraftQuery(
    "s18_merge_upsert",
    (s, d) => {
      import graft.core.Snapshots
      val t = "orders_merge"
      Snapshots.reset(s, t)
      Snapshots.write(s, t, Tables.orders(s, d))
      val base = Tables.orders(s, d)
      val updates = base.filter(col("o_orderstatus") === "O")
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val inserts = base.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
        .withColumn("o_orderstatus", lit("N"))
      Snapshots.merge(s, t, updates.unionByName(inserts), Seq("o_orderkey"))
      require(Snapshots.versions(s, t) == Seq(1, 2),
        "merge must produce exactly one new snapshot")
      Snapshots.latest(s, t).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("total"))
    },
    Some("""WITH src AS (
           |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
           |         o_orderdate, o_orderpriority
           |  FROM orders WHERE o_orderstatus = 'O'
           |  UNION ALL
           |  SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice, o_orderdate, o_orderpriority
           |  FROM orders WHERE o_orderkey % 100 = 0),
           |merged AS (
           |  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
           |  UNION ALL SELECT * FROM src)
           |SELECT o_orderstatus, count(*) AS n,
           |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM merged GROUP BY o_orderstatus""".stripMargin))

  /** S19 (beyond reference): Z-order data layout — re-lay orders by the
    * Morton interleave of (custkey, order day) so each file covers a tight
    * RECTANGLE in both dimensions at once, then answer a rectangle query
    * off the re-laid table. At 100 TB this is the data-skipping lever for
    * multi-dimensional predicates: min/max file stats prune on BOTH
    * columns (a single-column sort gives perfect pruning on one dimension
    * and none on the other — BucketingSpec measures the difference). The
    * oracle recomputes the same z-values arithmetically and runs the same
    * rectangle query; the xor digest pins the per-row z math bit-for-bit.
    */
  val s19: GraftQuery = GraftQuery(
    "s19_zorder_layout",
    (s, d) => {
      val path = Scratch.run("s19_zorders")
      val days = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      // Each dimension is min-max-normalized onto a 16-bit grid BEFORE
      // interleaving — with raw values the wider-ranged column owns all
      // the high z bits and the layout degenerates to a single-column
      // sort (measured: custkey file coverage 0.99). One tiny stats agg,
      // broadcast as a 1-row cross join; integer arithmetic end-to-end so
      // the oracle reproduces every z bit.
      val stats = Tables.orders(s, d).agg(
        min(col("o_custkey")).as("cmin"), max(col("o_custkey")).as("cmax"),
        min(days).as("dmin"), max(days).as("dmax"))
      def grid(x: Column, lo: Column, hi: Column): Column =
        floor((x - lo) * 65536 / (hi - lo + 1)).cast("long")
      val zordered = Tables.orders(s, d).crossJoin(broadcast(stats))
        .withColumn("z", interleaveBits(
          grid(col("o_custkey"), col("cmin"), col("cmax")),
          grid(days, col("dmin"), col("dmax"))))
        .drop("cmin", "cmax", "dmin", "dmax")
        .repartitionByRange(8, col("z")).sortWithinPartitions("z")
      zordered.write.mode(SaveMode.Overwrite).parquet(path)
      Tables.readBack(zordered, path)
        .filter(col("o_custkey").between(100, 300) &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), expr("bit_xor(z)").as("zx"),
          decSum(col("o_totalprice")).as("total"))
    },
    Some("""WITH stats AS (SELECT min(o_custkey) AS cmin, max(o_custkey) AS cmax,
           |  min(date_diff('day', DATE '1970-01-01', o_orderdate::DATE)) AS dmin,
           |  max(date_diff('day', DATE '1970-01-01', o_orderdate::DATE)) AS dmax FROM orders),
           |base AS (SELECT o_orderstatus, o_totalprice,
           |  ((CAST(o_custkey AS BIGINT) - cmin) * 65536) // (cmax - cmin + 1) AS av,
           |  ((CAST(date_diff('day', DATE '1970-01-01', o_orderdate::DATE) AS BIGINT) - dmin) * 65536) // (dmax - dmin + 1) AS bv
           |  FROM orders CROSS JOIN stats
           |  WHERE o_custkey BETWEEN 100 AND 300
           |    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'),
           |s1 AS (SELECT * REPLACE (((av | (av << 16)) & 281470681808895) AS av, ((bv | (bv << 16)) & 281470681808895) AS bv) FROM base),
           |s2 AS (SELECT * REPLACE (((av | (av << 8)) & 71777214294589695) AS av, ((bv | (bv << 8)) & 71777214294589695) AS bv) FROM s1),
           |s3 AS (SELECT * REPLACE (((av | (av << 4)) & 1085102592571150095) AS av, ((bv | (bv << 4)) & 1085102592571150095) AS bv) FROM s2),
           |s4 AS (SELECT * REPLACE (((av | (av << 2)) & 3689348814741910323) AS av, ((bv | (bv << 2)) & 3689348814741910323) AS bv) FROM s3),
           |s5 AS (SELECT * REPLACE (((av | (av << 1)) & 6148914691236517205) AS av, ((bv | (bv << 1)) & 6148914691236517205) AS bv) FROM s4)
           |SELECT o_orderstatus, count(*) AS n, bit_xor((av << 1) | bv) AS zx,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM s5 GROUP BY o_orderstatus""".stripMargin))

  /** S20 (beyond reference): schema evolution — a second writer adds a
    * column, old files stay as they are, and a `mergeSchema` read serves
    * the union schema with nulls for pre-evolution rows. This is the
    * add-column contract every table format guarantees; here it is proven
    * at the raw-Parquet layer (Spark's schema merge), so swapping in
    * Iceberg only moves WHERE the merged schema lives (metadata vs file
    * footers — the latter costing a footer scan at 100 TB, which is why
    * formats keep it in metadata).
    */
  val s20: GraftQuery = GraftQuery(
    "s20_schema_evolution",
    (s, d) => {
      val path = Scratch.run("s20_evolved")
      val cust = Tables.customer(s, d)
      cust.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_acctbal"))
        .write.parquet(s"$path/part=old")
      cust.filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_acctbal"),
          concat(lit("seg_"), (col("c_nationkey") % 3).cast("string")).as("segment"))
        .write.parquet(s"$path/part=new")
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy("segment")
        .agg(count(lit(1)).as("n"), decSum(col("c_acctbal")).as("total_bal"))
    },
    Some("""SELECT CASE WHEN c_custkey % 2 = 1 THEN 'seg_' || (c_nationkey % 3) END AS segment,
           |count(*) AS n, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
           |FROM customer GROUP BY 1""".stripMargin))

  /** S21 (beyond reference): snapshot changelog (CDC read) — v2 deletes
    * the 'F' orders and bumps every 'P' price, and [[graft.core.Snapshots.diff]]
    * must surface exactly: F rows as deletes, P rows as delete+insert
    * pairs, O rows absent (untouched).
    */
  val s21: GraftQuery = GraftQuery(
    "s21_snapshot_diff",
    (s, d) => {
      import graft.core.Snapshots
      val t = "orders_cdc"
      Snapshots.reset(s, t)
      Snapshots.write(s, t, Tables.orders(s, d))
      Snapshots.write(s, t,
        Snapshots.latest(s, t).filter(col("o_orderstatus") =!= "F")
          .withColumn("o_totalprice", when(col("o_orderstatus") === "P",
            col("o_totalprice") + 5.0).otherwise(col("o_totalprice"))))
      Snapshots.diff(s, t, 1, 2)
        .groupBy("_change_type", "o_orderstatus")
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("total"))
    },
    Some("""WITH ch AS (
           |  SELECT 'delete' AS _change_type, o_orderstatus, o_totalprice
           |  FROM orders WHERE o_orderstatus IN ('F', 'P')
           |  UNION ALL
           |  SELECT 'insert', o_orderstatus, o_totalprice + 5.0
           |  FROM orders WHERE o_orderstatus = 'P')
           |SELECT _change_type, o_orderstatus, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM ch GROUP BY _change_type, o_orderstatus""".stripMargin))

  /** S23 (beyond reference): CDC apply — the consumer half of s21's
    * changelog contract: replaying `diff(v1, v2)` onto v1 must reconstruct
    * v2 exactly (how a downstream mirror ingests CDC instead of re-copying
    * the table — at 100 TB the changelog is proportional to the CHANGE,
    * not the table). Same scenario as s21 (delete the F orders, bump the P
    * prices); the output aggregates the REBUILT state and the oracle
    * computes v2's state directly — equality proves the round trip, and
    * [[graft.core.Snapshots.applyChangelog]]'s assert_true guards against
    * a changelog that deletes rows the snapshot lacks.
    */
  val s23: GraftQuery = GraftQuery(
    "s23_cdc_apply",
    (s, d) => {
      import graft.core.Snapshots
      val t = "orders_cdc_apply"
      Snapshots.reset(s, t)
      Snapshots.write(s, t, Tables.orders(s, d))
      Snapshots.write(s, t,
        Snapshots.latest(s, t).filter(col("o_orderstatus") =!= "F")
          .withColumn("o_totalprice", when(col("o_orderstatus") === "P",
            col("o_totalprice") + 5.0).otherwise(col("o_totalprice"))))
      val rebuilt = Snapshots.applyChangelog(
        Snapshots.read(s, t, 1), Snapshots.diff(s, t, 1, 2))
      rebuilt.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("total"))
    },
    Some("""WITH v2 AS (
           |  SELECT o_orderstatus,
           |    CASE WHEN o_orderstatus = 'P' THEN o_totalprice + 5.0
           |         ELSE o_totalprice END AS o_totalprice
           |  FROM orders WHERE o_orderstatus != 'F')
           |SELECT o_orderstatus, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM v2 GROUP BY o_orderstatus""".stripMargin))

  /** S22 (beyond reference): small-file compaction — the OPTIMIZE /
    * rewrite-data-files maintenance pass every lakehouse table needs:
    * streaming ingest leaves thousands of small files, and scan cost at
    * 100 TB is dominated by per-file open/footer overhead until they are
    * rewritten to target size. Here: orders is deliberately fragmented
    * into 64 splinters, compacted back to 4 files (a `coalesce` — a
    * shuffle-FREE partition merge; `repartition` would pay a full
    * exchange to achieve byte-balanced output, the documented trade), and
    * the compacted table must read back row-identical. The require proves
    * the file count actually dropped; the oracle proves content identity.
    */
  val s22: GraftQuery = GraftQuery(
    "s22_compaction",
    (s, d) => {
      val frag = Scratch.run("s22_fragmented")
      val comp = Scratch.run("s22_compacted")
      val orders = Tables.orders(s, d).repartition(64)
      orders.write.mode(SaveMode.Overwrite).parquet(frag)
      val compacted = Tables.readBack(orders, frag).coalesce(4)
      compacted.write.mode(SaveMode.Overwrite).parquet(comp)
      def nFiles(p: String) =
        ListingCache.listingOf(s, p).get.count(_._1.endsWith(".parquet"))
      require(nFiles(frag) == 64 && nFiles(comp) <= 4,
        s"compaction did not shrink the file count: ${nFiles(frag)} -> ${nFiles(comp)}")
      Tables.readBack(compacted, comp)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), countDistinct(col("o_orderkey")).as("n_keys"),
          decSum(col("o_totalprice")).as("total"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n, count(DISTINCT o_orderkey) AS n_keys,
           |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders GROUP BY o_orderstatus""".stripMargin))

  /** S24 (beyond reference): DYNAMIC partition overwrite — the production
    * incremental-reload primitive: a second write replaces ONLY the
    * partitions it contains rows for and leaves every other partition's
    * files untouched (static mode — the default — would wipe the whole
    * table first). Here the full per-type aggregate is seeded, then one
    * partition (event_type='error') is rewritten with a sentinel row; the
    * read-back proves 'error' was replaced and the others survived. At
    * scale this is what makes hourly/daily partition refreshes touch
    * O(changed partitions), not O(table). The mode conf is scoped to the
    * query and restored.
    */
  val s24: GraftQuery = GraftQuery(
    "s24_dynamic_partition_overwrite",
    (s, d) => {
      val path = Scratch.run("s24_dyn")
      // dynamic throughout: on the wiped (empty) target the seed write is
      // identical under either mode; only the sentinel write's
      // replace-one-partition behavior depends on it
      withConf(s, "spark.sql.sources.partitionOverwriteMode", "dynamic") {
        val counts = Tables.events(s, d).groupBy("event_type").agg(count(lit(1)).as("n"))
        counts.write.partitionBy("event_type").mode(SaveMode.Overwrite).parquet(path)
        import s.implicits._
        Seq(("error", -1L)).toDF("event_type", "n")
          .select(col("n"), col("event_type")) // partition col order-free
          .write.partitionBy("event_type").mode(SaveMode.Overwrite).parquet(path)
        Tables.readBack(counts, path).select("event_type", "n")
      }
    },
    Some("""SELECT event_type,
           |CASE WHEN event_type = 'error' THEN CAST(-1 AS BIGINT) ELSE count(*) END AS n
           |FROM events GROUP BY event_type""".stripMargin))

  /** S25 (beyond reference): CACHE TABLE — the explicit materialization
    * surface (`CACHE TABLE` / `UNCACHE TABLE` SQL, eager by default) every
    * interactive/serving workload uses for a hot dimension or repeatedly
    * polled aggregate. The query reads through the cached view (scan
    * becomes an InMemoryRelation — asserted in CachingSpec); results are
    * identical to the uncached plan, which is what the oracle pins. At
    * scale the cache is partition-local executor memory/disk — no shuffle
    * is added or removed by caching, so it is a pure latency trade.
    */
  val s25: GraftQuery = GraftQuery(
    "s25_cache_table",
    (s, d) => {
      val v = "s25_events_v"
      Tables.events(s, d).createOrReplaceTempView(v)
      s.sql(s"CACHE TABLE $v")
      val df = s.sql(s"""SELECT event_type, count(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
                FROM $v GROUP BY event_type""")
      // Pin the cached-read plan NOW (the InMemoryTableScan is the thing
      // this op demonstrates — BucketingSpec asserts it), then drop the
      // CacheManager entry: a live entry substitutes InMemoryRelation into
      // EVERY later same-session plan that scans events, silently changing
      // other queries' plan shapes (found via the round-9 plan-fingerprint
      // gate). The pinned plan still executes — the relation rebuilds its
      // column buffers on demand.
      df.queryExecution.executedPlan
      s.sql(s"UNCACHE TABLE $v")
      df
    },
    Some("""SELECT event_type, count(*) AS n,
           |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM events GROUP BY event_type""".stripMargin))

  /** S26 (beyond reference): dynamic partition pruning — the mechanism
    * that makes star-schema joins viable at 100 TB: the fact table is
    * partitioned on the join key, the dim side's selective filter is
    * evaluated FIRST (broadcast), and its keys become a runtime partition
    * filter on the fact scan — so the fact reads O(matching partitions),
    * not the whole table. BucketingSpec asserts the `dynamicpruning`
    * expression actually lands in the fact scan's PartitionFilters; the
    * oracle pins result identity with the statically-filtered equivalent.
    */
  val s26: GraftQuery = GraftQuery(
    "s26_dynamic_partition_pruning",
    (s, d) => dppJoin(s, d),
    Some("""SELECT event_type, count(*) AS n,
           |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM events WHERE event_type IN ('error', 'purchase') GROUP BY event_type""".stripMargin))

  /** The run directory holding s26's seeded fact and dim, one per events
    * file ([[ListingCache]]: a regenerated events file is seeded again);
    * an entry is recorded only after both writes returned.
    */
  private val dppSeeds = new ListingCache[String]

  /** The DPP join behind [[s26]], exposed for the plan assertion. */
  def dppJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val events = Tables.events(s, d)
    val tiers = Seq(("error", "alert"), ("purchase", "alert"), ("click", "noise"),
      ("view", "noise"), ("signup", "noise")).toDF("event_type", "tier")
    // one seed per events file and run: a different or regenerated dataset
    // never reads another's fact rows
    val seed = dppSeeds(s, s"$d/events.parquet") {
      val dir = Scratch.run("s26_seed")
      events.write.mode(SaveMode.Overwrite).partitionBy("event_type").parquet(s"$dir/fact")
      tiers.write.mode(SaveMode.Overwrite).parquet(s"$dir/dim")
      dir
    }
    val fact = Tables.readBack(events, s"$seed/fact")
    // the dim predicate must be one DPP's isLikelySelective recognizes
    // (string equality qualifies; a bare boolean attribute does not)
    val dim = Tables.readBack(tiers, s"$seed/dim").filter(col("tier") === "alert")
    // DPP's stats-based benefit estimate correctly concludes a KB-scale
    // fact isn't worth pruning — the exact opposite holds at production
    // scale. The fallback-ratio estimate (useStats=false) applies the rule
    // whenever the dim plan is cheaper than the estimated skip, which is
    // the 100-TB-shaped decision this op demonstrates.
    withConf(s, "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false") {
      val out = fact.join(broadcast(dim), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("total"))
      // optimization is lazy: force it NOW so the DPP decision is made
      // under the scoped conf (QueryExecution memoizes the plan)
      out.queryExecution.executedPlan
      out
    }
  }

  /** S27 (beyond reference): runtime bloom-filter join pruning — the
    * row-level complement of [[s26]]'s partition-level DPP. When the fact
    * table is NOT laid out on the join key (no partition or zone-map help),
    * Spark can still evaluate the dim side first, build a bloom filter of
    * its join keys, and apply `bloom_filter_might_contain` to the fact rows
    * BEFORE the fact shuffle — at 100 TB that turns a full-fact exchange
    * into one proportional to the semi-join selectivity. BucketingSpec
    * asserts the filter actually lands in the plan; the oracle pins result
    * identity with the plain join.
    */
  val s27: GraftQuery = GraftQuery(
    "s27_bloom_filter_join",
    (s, d) => bloomJoin(s, d),
    Some("""SELECT p_brand, count(*) AS n,
           |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE p_size = 1 GROUP BY p_brand""".stripMargin))

  /** The runtime-filtered join behind [[s27]], exposed for the plan gate. */
  def bloomJoin(s: SparkSession, d: String): DataFrame = {
    val fact = Tables.lineitem(s, d)
    // the creation side must be a selective filter over a scan for
    // InjectRuntimeFilter to consider it (p_size equality qualifies)
    val dim = Tables.part(s, d).filter(col("p_size") === 1)
    withConfs(s,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // the default application-side threshold (10 GB) is the right guard
      // in production — a bloom only pays when it skips real scan/shuffle
      // IO; the bench-SF fact is KBs, so demonstrate the rule by lowering
      // the floor rather than inflating the data
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // pin the shuffle join: the injected filter's payoff is cutting fact
      // rows BEFORE the exchange, which only exists in the shuffle plan —
      // and mirrors the 100-TB case, where this dim exceeds broadcast size
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val out = fact.join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("qty"))
      // optimization is lazy: force it NOW so InjectRuntimeFilter runs
      // under the scoped confs (QueryExecution memoizes the plan)
      out.queryExecution.executedPlan
      out
    }
  }

  /** S28 (beyond reference): ANALYZE TABLE column statistics, GATED — the
    * CBO food chain: CTAS a projection into the session catalog, run
    * `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`, and read the
    * stats back through `DESCRIBE EXTENDED <table> <column>`. Distinct
    * counts from ANALYZE are HyperLogLog++ estimates (deterministic for
    * fixed input — no runtime seed — but approximate), so the a14/a15/a20
    * sketch-gate pattern applies: the emitted rows carry the EXACT
    * distinct count plus a boolean pinning the estimate within 10% (HLL++
    * default rsd is 5%). At 100 TB these stats are what lets Catalyst pick
    * broadcast sides and join orders without rescanning — the one-pass
    * ANALYZE is the entire cost. Driver-side collect is the 2-column
    * DESCRIBE output, bounded and tiny.
    */
  val s28: GraftQuery = GraftQuery(
    "s28_table_stats_cbo",
    (s, d) => {
      dropWarehouseTable(s, "graft_s28_stats")
      Tables.lineitem(s, d).select("l_partkey", "l_returnflag")
        .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable("graft_s28_stats")
      s.sql("ANALYZE TABLE graft_s28_stats COMPUTE STATISTICS FOR COLUMNS l_partkey, l_returnflag")
      def estimated(colName: String): Long =
        s.sql(s"DESCRIBE EXTENDED graft_s28_stats $colName").collect()
          .find(_.getString(0) == "distinct_count")
          .map(_.getString(1).toLong)
          .getOrElse(sys.error(s"ANALYZE left no distinct_count stat for $colName"))
      val exact = Tables.lineitem(s, d).agg(
        countDistinct(col("l_partkey")).as("pk"),
        countDistinct(col("l_returnflag")).as("rf")).head()
      val rows = Seq(
        ("l_partkey", exact.getLong(0), estimated("l_partkey")),
        ("l_returnflag", exact.getLong(1), estimated("l_returnflag")))
        .map { case (c, ex, est) =>
          (c, ex, math.abs(est - ex).toDouble / ex <= 0.10)
        }
      import s.implicits._
      rows.toDF("column_name", "n_exact", "within_10pct")
    },
    Some("""SELECT 'l_partkey' AS column_name, count(DISTINCT l_partkey) AS n_exact, true AS within_10pct FROM lineitem
           |UNION ALL
           |SELECT 'l_returnflag', count(DISTINCT l_returnflag), true FROM lineitem""".stripMargin))

  /** S29 (beyond reference): one-pass column profiler — the data-quality
    * report every ingestion pipeline emits before a dataset is trusted:
    * per-column null count, exact distinct count, and numeric min/max, in
    * ONE scan of the table (Catalyst plans the multi-distinct agg as a
    * single pass with an Expand — the row stream is read once however many
    * columns are profiled). Null counts are `count(*) − count(col)` so
    * both engines stay in 64-bit integers (a summed CASE would be HUGEINT
    * in the oracle engine); min/max are cast to DOUBLE (ids and epoch-µs
    * are < 2^53, exact), string columns profile nulls/distinct only.
    * Timestamps profile at µs grain on both sides (`unix_micros` /
    * `epoch_us`) so the NANOS source file cannot desync the engines.
    *
    * Scale: distinct counts dominate (Expand multiplies the stream per
    * distinct column); at 100 TB the swap is `approx_count_distinct` per
    * column — one expression each, no Expand, single-pass partial aggs —
    * with the a14-style gate pattern if exactness must be audited.
    */
  val s29: GraftQuery = GraftQuery(
    "s29_column_profile",
    (s, d) => {
      val a = Tables.events(s, d).agg(
        (count(lit(1)) - count(col("event_id"))).as("event_id_nulls"),
        countDistinct(col("event_id")).as("event_id_distinct"),
        min(col("event_id")).as("event_id_min"),
        max(col("event_id")).as("event_id_max"),
        (count(lit(1)) - count(col("user_id"))).as("user_id_nulls"),
        countDistinct(col("user_id")).as("user_id_distinct"),
        min(col("user_id")).as("user_id_min"),
        max(col("user_id")).as("user_id_max"),
        (count(lit(1)) - count(col("event_type"))).as("event_type_nulls"),
        countDistinct(col("event_type")).as("event_type_distinct"),
        (count(lit(1)) - count(col("value"))).as("value_nulls"),
        countDistinct(col("value")).as("value_distinct"),
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"),
        (count(lit(1)) - count(col("ts"))).as("ts_nulls"),
        countDistinct(unix_micros(col("ts"))).as("ts_distinct"),
        min(unix_micros(col("ts"))).as("ts_min"),
        max(unix_micros(col("ts"))).as("ts_max"))
      a.selectExpr(
        """stack(5,
          |  'event_id', event_id_nulls, event_id_distinct,
          |    CAST(event_id_min AS DOUBLE), CAST(event_id_max AS DOUBLE),
          |  'user_id', user_id_nulls, user_id_distinct,
          |    CAST(user_id_min AS DOUBLE), CAST(user_id_max AS DOUBLE),
          |  'event_type', event_type_nulls, event_type_distinct,
          |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          |  'value', value_nulls, value_distinct, value_min, value_max,
          |  'ts', ts_nulls, ts_distinct,
          |    CAST(ts_min AS DOUBLE), CAST(ts_max AS DOUBLE))
          |AS (column_name, n_nulls, n_distinct, min_d, max_d)""".stripMargin)
    },
    Some("""WITH a AS (SELECT
           |  count(*) - count(event_id) AS event_id_nulls,
           |  count(DISTINCT event_id) AS event_id_distinct,
           |  CAST(min(event_id) AS DOUBLE) AS event_id_min,
           |  CAST(max(event_id) AS DOUBLE) AS event_id_max,
           |  count(*) - count(user_id) AS user_id_nulls,
           |  count(DISTINCT user_id) AS user_id_distinct,
           |  CAST(min(user_id) AS DOUBLE) AS user_id_min,
           |  CAST(max(user_id) AS DOUBLE) AS user_id_max,
           |  count(*) - count(event_type) AS event_type_nulls,
           |  count(DISTINCT event_type) AS event_type_distinct,
           |  count(*) - count(value) AS value_nulls,
           |  count(DISTINCT value) AS value_distinct,
           |  min(value) AS value_min,
           |  max(value) AS value_max,
           |  count(*) - count(ts) AS ts_nulls,
           |  count(DISTINCT epoch_us(ts)) AS ts_distinct,
           |  CAST(min(epoch_us(ts)) AS DOUBLE) AS ts_min,
           |  CAST(max(epoch_us(ts)) AS DOUBLE) AS ts_max
           |FROM events)
           |SELECT 'event_id' AS column_name, event_id_nulls AS n_nulls,
           |  event_id_distinct AS n_distinct, event_id_min AS min_d, event_id_max AS max_d FROM a
           |UNION ALL SELECT 'user_id', user_id_nulls, user_id_distinct, user_id_min, user_id_max FROM a
           |UNION ALL SELECT 'event_type', event_type_nulls, event_type_distinct,
           |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM a
           |UNION ALL SELECT 'value', value_nulls, value_distinct, value_min, value_max FROM a
           |UNION ALL SELECT 'ts', ts_nulls, ts_distinct, ts_min, ts_max FROM a""".stripMargin))

  /** S30 (beyond reference): SCD type-2 dimension materialization — the
    * slowly-changing-dimension build every warehouse runs between a CDC
    * change log ([[s23]]) and its BI layer: one row per attribute VERSION
    * with an effective-validity interval, change-suppressed (an event
    * that repeats the user's current (event_type, value) pair opens no
    * new version), exactly one open (is_current) row per key. The
    * versioned dim is materialized to Parquet and read back — the point
    * is the STORED table, so the uniqueness invariant is enforced on the
    * read-back, not the plan.
    *
    * Shape: two user-partitioned windows (lag for change suppression,
    * lead for interval close) + one write — user-bounded windows, no
    * global sort; at 100 TB the write partitions by a date of
    * effective_from and the current-row slice is a partition filter.
    * Determinism: ordering keys are integral (micros, event_id), change
    * detection is exact equality, and both engines share the same
    * three-valued-logic filter semantics.
    */
  val s30: GraftQuery = GraftQuery(
    "s30_scd2_dimension",
    (s, d) => {
      val wU = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val base = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type"), col("value"))
      val changed = base
        .withColumn("pt", lag(col("event_type"), 1).over(wU))
        .withColumn("pv", lag(col("value"), 1).over(wU))
        .filter(col("pt").isNull ||
          col("pt") =!= col("event_type") || col("pv") =!= col("value"))
      val scd = changed
        .withColumn("ver", row_number().over(wU).cast("int"))
        .withColumn("to_us", lead(col("us"), 1).over(wU))
        .select(col("user_id"), col("ver"),
          col("event_type").as("attr_type"), col("value").as("attr_value"),
          timestamp_micros(col("us")).as("effective_from"),
          timestamp_micros(col("to_us")).as("effective_to"),
          col("to_us").isNull.as("is_current"))
      val path = Scratch.run("s30_scd2")
      scd.write.mode(SaveMode.Overwrite).parquet(path)
      val dim = Tables.readBack(scd, path)
      val dup = dim.filter(col("is_current")).groupBy("user_id")
        .agg(count(lit(1)).as("n")).filter(col("n") =!= 1).count()
      require(dup == 0, s"SCD2 invariant broken: $dup users with != 1 current row")
      dim
    },
    Some("""WITH b AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type, value
           |           FROM events),
           |ch AS (SELECT * FROM (
           |  SELECT *, lag(event_type) OVER w AS pt, lag(value) OVER w AS pv
           |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
           |  WHERE pt IS NULL OR pt <> event_type OR pv <> value),
           |scd AS (SELECT user_id, CAST(row_number() OVER w2 AS INT) AS ver,
           |        event_type AS attr_type, value AS attr_value,
           |        us AS from_us, lead(us) OVER w2 AS to_us
           |        FROM ch WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id))
           |SELECT user_id, ver, attr_type, attr_value,
           |  make_timestamp(from_us) AS effective_from,
           |  make_timestamp(to_us) AS effective_to,
           |  to_us IS NULL AS is_current
           |FROM scd""".stripMargin))

  /** S31 (beyond reference): min-max pruning effectiveness report — the
    * quantified version of [[s19]]'s layout claim. Rows are tiled into 32
    * equal "files" under three physical orders (insertion = o_orderkey,
    * time = o_orderdate, clustered = o_totalprice); for a fixed 10%-of-
    * range price predicate, a file is scanned iff its [min, max] price
    * interval intersects the band — exactly the parquet row-group /
    * Iceberg manifest skipping rule. Output per layout: files hit, scan
    * fraction, rows actually scanned vs rows matching. On this data the
    * clustered layout scans ~1/32 of what insertion order scans — the
    * measured argument for paying the [[s19]] sort. Determinism: file
    * assignment is (row_number−1)·32 div n with an o_orderkey tiebreak
    * (exact integers), the band bounds are one identical IEEE expression,
    * and all outputs are integer counts or single divisions. Local note:
    * the layout simulation sorts via a global row_number (fine at report
    * scale); a production run derives the same per-file min/max from file
    * FOOTERS — metadata-only, no data scan at all.
    */
  val s31: GraftQuery = GraftQuery(
    "s31_pruning_report",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val v = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      val b = v.agg(min("o_totalprice").as("vmin"), max("o_totalprice").as("vmax"),
        count(lit(1)).as("n"))
        .select((col("vmin") + lit(0.4) * (col("vmax") - col("vmin"))).as("lo"),
          (col("vmin") + lit(0.5) * (col("vmax") - col("vmin"))).as("hi"), col("n"))
      def layout(name: String, order: Column*) : DataFrame =
        v.withColumn("rn", row_number().over(Window.orderBy(order: _*)))
          .crossJoin(broadcast(b))
          .select(lit(name).as("layout"), col("o_totalprice"),
            expr("(rn - 1) * 32 div n").as("f"), col("lo"), col("hi"))
      val tiled = layout("insertion", col("o_orderkey"))
        .union(layout("time", col("o_orderdate"), col("o_orderkey")))
        .union(layout("clustered", col("o_totalprice"), col("o_orderkey")))
      val files = tiled.groupBy("layout", "f", "lo", "hi").agg(
        min("o_totalprice").as("fmin"), max("o_totalprice").as("fmax"),
        count(lit(1)).as("rows_in_file"),
        count(when(col("o_totalprice").between(col("lo"), col("hi")), 1)).as("match_in_file"))
      files.groupBy("layout").agg(
          count(when(col("fmax") >= col("lo") && col("fmin") <= col("hi"), 1)).as("n_files_hit"),
          sum(when(col("fmax") >= col("lo") && col("fmin") <= col("hi"),
            col("rows_in_file"))).as("rows_scanned"),
          sum("match_in_file").as("n_match"))
        .select(col("layout"), col("n_files_hit"),
          (col("n_files_hit").cast("double") / 32.0).as("scan_frac"),
          coalesce(col("rows_scanned"), lit(0L)).as("rows_scanned"), col("n_match"))
    },
    Some("""WITH v AS (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders),
           |b AS (SELECT min(o_totalprice) + 0.4 * (max(o_totalprice) - min(o_totalprice)) AS lo,
           |             min(o_totalprice) + 0.5 * (max(o_totalprice) - min(o_totalprice)) AS hi,
           |             CAST(count(*) AS BIGINT) AS n FROM v),
           |lay AS (
           |  SELECT 'insertion' AS layout, o_totalprice,
           |    (row_number() OVER (ORDER BY o_orderkey) - 1) * 32 // n AS f, lo, hi
           |  FROM v, b
           |  UNION ALL
           |  SELECT 'time', o_totalprice,
           |    (row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1) * 32 // n, lo, hi
           |  FROM v, b
           |  UNION ALL
           |  SELECT 'clustered', o_totalprice,
           |    (row_number() OVER (ORDER BY o_totalprice, o_orderkey) - 1) * 32 // n, lo, hi
           |  FROM v, b),
           |fl AS (SELECT layout, f, lo, hi,
           |         min(o_totalprice) AS fmin, max(o_totalprice) AS fmax,
           |         count(*) AS rows_in_file,
           |         count(*) FILTER (WHERE o_totalprice BETWEEN lo AND hi) AS match_in_file
           |       FROM lay GROUP BY 1, 2, 3, 4)
           |SELECT layout,
           |  count(*) FILTER (WHERE fmax >= lo AND fmin <= hi) AS n_files_hit,
           |  CAST(count(*) FILTER (WHERE fmax >= lo AND fmin <= hi) AS DOUBLE) / 32.0 AS scan_frac,
           |  coalesce(CAST(sum(rows_in_file) FILTER (WHERE fmax >= lo AND fmin <= hi) AS BIGINT), 0) AS rows_scanned,
           |  CAST(sum(match_in_file) AS BIGINT) AS n_match
           |FROM fl GROUP BY 1""".stripMargin))

  /** S32 (beyond reference): snapshot retention / VACUUM report — build a
    * 3-version history ([[s16]]'s construction pattern), expire all but
    * the newest via [[graft.core.Snapshots.vacuum]], and report one row
    * per version: kept or dropped, with the row count that version held
    * (the "what did expiry reclaim" summary an Iceberg expireSnapshots /
    * Delta VACUUM run logs). The query proves the storage seam's whole
    * retention lifecycle inside the oracle gate: counts are taken BEFORE
    * the expiry, the vacuum's returned drop-list must agree with the
    * retention arithmetic (require'd), and SnapshotsSpec separately
    * proves dropped versions actually become unreadable. Metadata-scale
    * op: cost is one listing plus directory deletes; the row counts here
    * are the report's payload, not the vacuum's cost.
    */
  val s32: GraftQuery = GraftQuery(
    "s32_vacuum_retention",
    (s, d) => {
      import graft.core.Snapshots
      val t = "orders_vac"
      Snapshots.reset(s, t)
      Snapshots.write(s, t, Tables.orders(s, d))
      Snapshots.write(s, t,
        Snapshots.latest(s, t).filter(expr("o_orderkey % 2 = 0")))
      Snapshots.write(s, t,
        Snapshots.latest(s, t).filter(expr("o_orderkey % 4 = 0")))
      val counts = Snapshots.versions(s, t)
        .map(v => v -> Snapshots.read(s, t, v).count())
      val dropped = Snapshots.vacuum(s, t, keep = 1)
      require(dropped == Seq(1, 2) && Snapshots.versions(s, t) == Seq(3),
        s"retention arithmetic broken: dropped=$dropped")
      import s.implicits._
      counts.map { case (v, n) =>
        (v, if (dropped.contains(v)) "dropped" else "kept", n)
      }.toDF("version", "status", "n_rows")
    },
    Some("""SELECT 1 AS version, 'dropped' AS status,
           |       (SELECT count(*) FROM orders) AS n_rows
           |UNION ALL SELECT 2, 'dropped',
           |       (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
           |UNION ALL SELECT 3, 'kept',
           |       (SELECT count(*) FROM orders WHERE o_orderkey % 4 = 0)""".stripMargin),
    bench = false)

  /** S33 (beyond reference): incremental materialized-view maintenance —
    * an aggregate MV (per-status order count + DECIMAL revenue) is
    * brought from snapshot v1 to v2 by applying the [[s21]] CDC
    * changelog as SIGNED DELTAS (+1/−1 per insert/delete, ±price into
    * the sum), never rescanning the base table: the O(changed rows)
    * refresh that makes dashboard aggregates affordable at 100 TB, and
    * the standard IVM construction for distributive aggregates
    * (count/sum compose under deltas; min/max would need the full
    * group). DECIMAL accumulation makes the incremental result EQUAL to
    * a direct recompute bit-for-bit — which is exactly what the oracle
    * checks: it computes v2's aggregate directly, the query computes it
    * via MV1 ⊕ delta. Groups whose count reaches zero are dropped (the
    * MV tombstone rule). v2 = v1 minus keys ≡ 0 (mod 3), with keys ≡ 0
    * (mod 5) doubled in price (updates = delete+insert pairs in the
    * changelog).
    */
  val s33: GraftQuery = GraftQuery(
    "s33_incremental_mv",
    (s, d) => {
      import graft.core.Snapshots
      val t = "orders_mv"
      val dp = org.apache.spark.sql.types.DecimalType(18, 4)
      Snapshots.reset(s, t)
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").as("p"))
      Snapshots.write(s, t, base)
      Snapshots.write(s, t, base.filter(expr("o_orderkey % 3 <> 0"))
        .withColumn("p",
          when(expr("o_orderkey % 5 = 0"), col("p") * 2).otherwise(col("p"))))
      val mv1 = Snapshots.read(s, t, 1).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("p").cast(dp)).as("sm"))
      val dAgg = Snapshots.diff(s, t, 1, 2)
        .groupBy("o_orderstatus").agg(
          sum(when(col("_change_type") === "insert", 1L).otherwise(-1L)).as("dn"),
          sum(when(col("_change_type") === "insert", col("p").cast(dp))
            .otherwise(-col("p").cast(dp))).as("dsum"))
      mv1.join(dAgg, Seq("o_orderstatus"), "full")
        .select(col("o_orderstatus"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
          (coalesce(col("sm"), lit(0).cast(dp)) +
            coalesce(col("dsum"), lit(0).cast(dp))).as("smf"))
        .filter(col("n_orders") > 0)
        .select(col("o_orderstatus"), col("n_orders"),
          col("smf").cast("double").as("total"))
    },
    Some("""WITH v2 AS (SELECT o_orderstatus,
           |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
           |       ELSE o_totalprice END AS p
           |  FROM orders WHERE o_orderkey % 3 <> 0)
           |SELECT o_orderstatus, count(*) AS n_orders,
           |  CAST(sum(CAST(p AS DECIMAL(18,4))) AS DOUBLE) AS total
           |FROM v2 GROUP BY 1""".stripMargin),
    bench = false)

  /** S36 (beyond reference): snapshot TAGS — Iceberg's named refs on the
    * [[graft.core.Snapshots]] seam: v1 is tagged `audited` before v2
    * rewrites the table, and a reader pinned to the tag still sees the
    * audited state while `latest` serves the new one. The tag is one
    * metadata ref file — pinning costs nothing at any scale, which is
    * why reproducible-training-run manifests pin tags, not copies.
    * Output joins the per-status counts of the tagged read vs latest;
    * equality of n_tagged with v1 (and its divergence from n_latest) is
    * what the oracle asserts.
    */
  val s36: GraftQuery = GraftQuery(
    "s36_snapshot_tag",
    (s, d) => {
      import graft.core.Snapshots
      val t = "orders_tag"
      Snapshots.reset(s, t)
      Snapshots.write(s, t, Tables.orders(s, d))
      Snapshots.tag(s, t, "audited", 1)
      Snapshots.write(s, t,
        Snapshots.latest(s, t).filter(col("o_orderstatus") =!= "F")
          .withColumn("o_totalprice", col("o_totalprice") + 1.0))
      require(Snapshots.tags(s, t) == Map("audited" -> 1), "tag listing broken")
      val tagged = Snapshots.readTag(s, t, "audited").groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_tagged"), decSum(col("o_totalprice")).as("total_tagged"))
      val latest = Snapshots.latest(s, t).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_latest"), decSum(col("o_totalprice")).as("total_latest"))
      tagged.join(latest, Seq("o_orderstatus"), "left")
    },
    Some("""SELECT o_orderstatus, count(*) AS n_tagged,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_tagged,
           |  CASE WHEN o_orderstatus <> 'F' THEN count(*) END AS n_latest,
           |  CASE WHEN o_orderstatus <> 'F' THEN
           |    CAST(SUM(CAST(o_totalprice + 1.0 AS DECIMAL(18,2))) AS DOUBLE)
           |  END AS total_latest
           |FROM orders GROUP BY o_orderstatus""".stripMargin))

  /** S37 (beyond reference): ORC sink + source roundtrip — Spark's
    * second first-class columnar format, jar-free in any distribution
    * (spark.read/write.orc). A lakehouse engine must interoperate with
    * Hive-era ORC lakes, and the roundtrip must preserve every type
    * exactly: the query writes a lineitem projection to ORC, reads it
    * back, and aggregates — the oracle computes the identical aggregate
    * from the original parquet, so any type/value drift through the ORC
    * writer/reader fails the value hash. The money sum uses the decSum
    * DECIMAL discipline (double sums are shuffle-order-dependent; ORC
    * roundtrips the doubles bitwise, the DECIMAL accumulation makes the
    * AGGREGATE exact). Scale: columnar + predicate pushdown like
    * parquet — SourcesFormatSpec pins that a filter reaches the ORC scan
    * as PushedFilters.
    */
  val s37: GraftQuery = GraftQuery(
    "s37_orc_roundtrip",
    (s, d) => {
      val path = Scratch.run("s37_lineitem_orc")
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_linestatus")
        .write.mode(SaveMode.Overwrite).orc(path)
      s.read.orc(path)
        .filter(col("l_quantity") > 10)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          decSum(col("l_extendedprice")).as("revenue"),
          sum(col("l_quantity").cast("long")).as("qty"))
    },
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
           |FROM lineitem WHERE l_quantity > 10
           |GROUP BY l_returnflag, l_linestatus""".stripMargin))

  /** S38 (beyond reference): JSON-lines SINK + re-load roundtrip — the
    * export format half of s2's NDJSON load (feeds downstream tools that
    * speak only JSONL, e.g. annotation and eval harnesses). Doubles
    * survive exactly because Spark writes shortest-repr decimal strings
    * and the reader parses them back to the identical IEEE value
    * (round-trip property); the read declares the schema explicitly —
    * NEVER inference at scale (one pass saved, and no sampled-type
    * drift). The oracle replays the aggregate from parquet, so a
    * serialization drift in either direction fails the hash.
    */
  val s38: GraftQuery = GraftQuery(
    "s38_json_sink_roundtrip",
    (s, d) => {
      val path = Scratch.run("s38_orders_json")
      val proj = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      proj.write.mode(SaveMode.Overwrite).json(path)
      s.read.schema(proj.schema).json(path)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          decSum(col("o_totalprice")).as("total"),
          max("o_orderkey").as("max_key"))
    },
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           |  max(o_orderkey) AS max_key
           |FROM orders GROUP BY o_orderstatus, o_orderpriority""".stripMargin))

  val all: Seq[GraftQuery] =
    Seq(s1, s2, s3, s4, s5, s8, s14, s15, s16, s17, s18, s19, s20, s21, s22,
      s23, s24, s25, s26, s27, s28, s29, s30, s31, s32, s33, s36, s37, s38)
}
