package graft.operators

import graft.api.GraftQuery
import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint suite (deequ-style, beyond the
  * reference surface): a user states WHAT must hold about a table —
  * completeness, uniqueness, ranges, value domains — and the engine
  * compiles the whole suite into ONE aggregate pass over the data plus a
  * long-format verdict table.
  *
  * Scale: every constraint lowers to a conditional-count / count-distinct
  * term inside a single `df.agg(...)`, so the 100 TB cost is one scan with
  * map-side partial aggregation — never one job per check (the naive
  * per-constraint loop deequ explicitly avoids, and the trap here). The
  * verdict melt runs on the 1-row aggregate output. Uniqueness uses
  * count_distinct in the same pass; at stream scale it would swap to the
  * [[graft.plans.BottomKSketchAgg]] estimator — the seam is one term.
  */
object Quality {

  /** What must hold about a table. `label` keys the verdict row. */
  sealed trait Constraint { def label: String }
  /** No NULLs in `col`. */
  final case class NotNull(col: String) extends Constraint {
    def label = s"not_null($col)"
  }
  /** `cols` form a unique key (metric = surplus rows beyond distinct). */
  final case class Unique(cols: Seq[String]) extends Constraint {
    def label = s"unique(${cols.mkString(",")})"
  }
  /** Non-null values of `col` lie in [lo, hi]. */
  final case class InRange(col: String, lo: Double, hi: Double) extends Constraint {
    def label = s"in_range($col,$lo,$hi)"
  }
  /** Non-null values of `col` come from `values`. */
  final case class InSet(col: String, values: Seq[String]) extends Constraint {
    def label = s"in_set($col)"
  }
  /** At least `ratio` of rows have `col` non-null. */
  final case class MinCompleteness(col: String, ratio: Double) extends Constraint {
    def label = s"completeness($col)"
  }

  /** Public DataFrame-in API (see graft.api.Graft): evaluate the suite in
    * one scan; returns (check_name, metric, threshold, passed). For the
    * violation-count constraints metric is the number of offending rows
    * (threshold 0); for MinCompleteness metric is the non-null ratio.
    */
  def checkConstraints(df: DataFrame, cs: Seq[Constraint]): DataFrame =
    constraintMelt(df.agg(constraintAggs(cs).head, constraintAggs(cs).tail: _*), cs)

  /** The one-scan aggregate terms of the suite (m0..mN columns). Works on
    * a streaming DataFrame too — every term is a plain conditional
    * count/ratio except Unique's count_distinct, which streaming
    * disallows; streaming suites omit Unique or substitute the
    * [[graft.plans.BottomKSketchAgg]] estimator (see [[StreamingOps]]'
    * t27).
    */
  private[operators] def constraintAggs(cs: Seq[Constraint]): Seq[Column] = {
    require(cs.nonEmpty, "checkConstraints: empty suite")
    cs.zipWithIndex.map { case (c, i) =>
      (c match {
        case NotNull(cl) => count(when(col(cl).isNull, 1)).cast("double")
        case Unique(cols) =>
          (count(lit(1)) -
            count_distinct(col(cols.head), cols.tail.map(col): _*)).cast("double")
        case InRange(cl, lo, hi) =>
          count(when(col(cl) < lo || col(cl) > hi, 1)).cast("double")
        case InSet(cl, vs) =>
          count(when(!col(cl).isin(vs: _*), 1)).cast("double")
        case MinCompleteness(cl, _) =>
          count(col(cl)).cast("double") / count(lit(1))
      }).as(s"m$i")
    }
  }

  /** Melt the 1-row aggregate into the long-format verdict table — shared
    * by the batch path and the streaming sink recomposition so both emit
    * the identical verdicts.
    */
  private[operators] def constraintMelt(row: DataFrame, cs: Seq[Constraint]): DataFrame = {
    val entries = cs.zipWithIndex.map { case (c, i) =>
      val m = col(s"m$i")
      val (thr, passed) = c match {
        case MinCompleteness(_, r) => (lit(r), m >= r)
        case _                     => (lit(0.0), m === 0.0)
      }
      struct(lit(c.label).as("check_name"), m.as("metric"),
        thr.as("threshold"), passed.as("passed"))
    }
    row.select(explode(array(entries: _*)).as("e")).select("e.*")
  }

  /** S34: the suite a lakehouse ingest job would pin on the orders table —
    * key integrity, enum domain, money bounds, date completeness.
    */
  val s34: GraftQuery = GraftQuery(
    "s34_constraint_suite",
    (s, d) => checkConstraints(Tables.orders(s, d), Seq(
      NotNull("o_custkey"),
      Unique(Seq("o_orderkey")),
      InRange("o_totalprice", 0.0, 1e7),
      InSet("o_orderstatus", Seq("O", "F", "P")),
      MinCompleteness("o_orderdate", 0.99))),
    Some("""WITH m AS (SELECT
           |  CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS DOUBLE) AS m0,
           |  CAST(count(*) - count(DISTINCT o_orderkey) AS DOUBLE) AS m1,
           |  CAST(count(*) FILTER (WHERE o_totalprice < 0.0 OR o_totalprice > 1e7) AS DOUBLE) AS m2,
           |  CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS DOUBLE) AS m3,
           |  CAST(count(o_orderdate) AS DOUBLE) / count(*) AS m4
           |  FROM orders)
           |SELECT 'not_null(o_custkey)' AS check_name, m0 AS metric, 0.0 AS threshold, m0 = 0.0 AS passed FROM m
           |UNION ALL SELECT 'unique(o_orderkey)', m1, 0.0, m1 = 0.0 FROM m
           |UNION ALL SELECT 'in_range(o_totalprice,0.0,1.0E7)', m2, 0.0, m2 = 0.0 FROM m
           |UNION ALL SELECT 'in_set(o_orderstatus)', m3, 0.0, m3 = 0.0 FROM m
           |UNION ALL SELECT 'completeness(o_orderdate)', m4, 0.99, m4 >= 0.99 FROM m""".stripMargin))

  /** Outcome of one [[writeAuditPublish]] attempt. */
  final case class WapResult(checksFailed: Int, published: Boolean, versionAfter: Int)

  /** Public DataFrame-in API (see graft.api.Graft): write-audit-publish
    * (the Netflix WAP pattern; Iceberg `write.wap.enabled`) through
    * [[graft.core.Snapshots.writeAudited]]: `df` lands as the table's
    * next, unpublished version, the constraint suite audits the STAGED
    * FILES (one scan, [[checkConstraints]]), and only a clean audit
    * publishes them — an O(1) pointer write; a failed audit deletes the
    * candidate and the table's visible state and version are untouched.
    * Auditing what was staged (not the input plan) is the contract: it
    * validates exactly the bytes a reader would see.
    *
    * The only driver-side materialization is the verdict table — one row
    * per constraint, bounded by the suite, never by the data.
    */
  def writeAuditPublish(s: org.apache.spark.sql.SparkSession, table: String,
      df: DataFrame, cs: Seq[Constraint]): WapResult = {
    import graft.core.Snapshots
    var failed = 0
    val published = Snapshots.writeAudited(s, table, df) { staged =>
      failed = checkConstraints(staged, cs).collect()
        .count(r => !r.getAs[Boolean]("passed"))
      failed == 0
    }
    WapResult(failed, published.isDefined,
      published.getOrElse(Snapshots.versions(s, table).lastOption.getOrElse(0)))
  }

  /** S35 (beyond reference): WAP gate in action — a clean batch publishes
    * (v1), a corrupted batch (negated prices violating the range check)
    * is staged, audited, and REJECTED, leaving the published table
    * bit-identical to v1. Output: one row per batch with the audit and
    * visibility outcome; the oracle replays both audits relationally and
    * asserts the rejected batch never changed what is visible.
    */
  val s35: GraftQuery = GraftQuery(
    "s35_write_audit_publish",
    (s, d) => {
      import graft.core.Snapshots
      val t = "orders_wap"
      Snapshots.reset(s, t)
      val orders = Tables.orders(s, d)
      val suite = Seq(NotNull("o_custkey"), Unique(Seq("o_orderkey")),
        InRange("o_totalprice", 0.0, 1e7))
      val b1 = orders.filter(col("o_orderkey") % 4 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val b2 = orders.filter(col("o_orderkey") % 4 === 1)
        .select(col("o_orderkey"), col("o_custkey"),
          when(col("o_orderkey") % 8 === 1, -col("o_totalprice"))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      def summary(batch: Int, r: WapResult): DataFrame =
        Snapshots.latest(s, t).agg(count(lit(1)).as("rows_visible"))
          .select(lit(batch).as("batch"), lit(r.checksFailed).as("checks_failed"),
            lit(r.published).as("published"),
            lit(r.versionAfter).as("version_after"), col("rows_visible"))
      val r1 = writeAuditPublish(s, t, b1, suite)
      val s1 = summary(1, r1)
      val r2 = writeAuditPublish(s, t, b2, suite)
      s1.unionByName(summary(2, r2))
    },
    Some("""WITH b1 AS (SELECT o_orderkey, o_custkey, o_totalprice
           |            FROM orders WHERE o_orderkey % 4 = 0),
           |b2 AS (SELECT o_orderkey, o_custkey,
           |         CASE WHEN o_orderkey % 8 = 1 THEN -o_totalprice
           |              ELSE o_totalprice END AS o_totalprice
           |       FROM orders WHERE o_orderkey % 4 = 1),
           |a1 AS (SELECT
           |    (CASE WHEN count(*) FILTER (WHERE o_custkey IS NULL) > 0 THEN 1 ELSE 0 END)
           |  + (CASE WHEN count(*) - count(DISTINCT o_orderkey) > 0 THEN 1 ELSE 0 END)
           |  + (CASE WHEN count(*) FILTER (WHERE o_totalprice < 0.0 OR o_totalprice > 1e7) > 0
           |          THEN 1 ELSE 0 END) AS cf,
           |    CAST(count(*) AS BIGINT) AS nr FROM b1),
           |a2 AS (SELECT
           |    (CASE WHEN count(*) FILTER (WHERE o_custkey IS NULL) > 0 THEN 1 ELSE 0 END)
           |  + (CASE WHEN count(*) - count(DISTINCT o_orderkey) > 0 THEN 1 ELSE 0 END)
           |  + (CASE WHEN count(*) FILTER (WHERE o_totalprice < 0.0 OR o_totalprice > 1e7) > 0
           |          THEN 1 ELSE 0 END) AS cf,
           |    CAST(count(*) AS BIGINT) AS nr FROM b2)
           |SELECT 1 AS batch, a1.cf AS checks_failed, a1.cf = 0 AS published,
           |  CASE WHEN a1.cf = 0 THEN 1 ELSE 0 END AS version_after,
           |  CASE WHEN a1.cf = 0 THEN a1.nr ELSE NULL END AS rows_visible
           |FROM a1
           |UNION ALL
           |SELECT 2, a2.cf, a2.cf = 0,
           |  CASE WHEN a1.cf = 0 THEN 1 ELSE 0 END
           |    + CASE WHEN a2.cf = 0 THEN 1 ELSE 0 END,
           |  CASE WHEN a2.cf = 0 THEN a2.nr ELSE a1.nr END
           |FROM a1, a2""".stripMargin))

  val all: Seq[GraftQuery] = Seq(s34, s35)
}
