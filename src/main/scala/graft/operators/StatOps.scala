package graft.operators

import graft.api.GraftQuery
import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical monitoring operators over the events stream table: the
  * distribution-drift / A-B / changepoint checks a production data platform
  * runs between ingestion and training (beyond the reference surface, which
  * stops at threshold alerts — pyspark-job.py:142).
  *
  * Cross-engine determinism strategy, shared by all four ops:
  *   - every count is integral, every mean/variance comes from an exact
  *     DECIMAL sum cast to double once at the end (decSum discipline,
  *     functions/Funcs.scala), so per-row scalar math is bitwise identical
  *     in Spark and DuckDB;
  *   - there is NO float aggregation and NO round() anywhere (engines
  *     disagree on .xx5 shortest-repr cases): even the CUSUM accumulates
  *     DECIMALs inside the window and converts to double per row, so frame
  *     fold order cannot perturb a single bit.
  *
  * Scale: each op is one scan + one hash aggregate; the drift pair adds a
  * single-row bounds aggregate broadcast back over the scan. The global
  * windows (ECDF, CUSUM) run over the *aggregated* domain (distinct metric
  * values / time buckets), which is bounded by metric resolution and
  * calendar — not by row count — so they stay single-partition-safe at
  * 100 TB; an unbounded-domain metric would first be quantile-bucketed
  * (a15's sketch) to restore that bound.
  */
object StatOps {

  /** value cast for exact, order-independent accumulation (4 dp covers the
    * generator's 2-dp metric exactly; see Funcs.decSum for the rationale).
    */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** D2 (beyond reference): Population Stability Index drift report —
    * events.value binned into 10 equal-width buckets, reference period =
    * first half of the observed time range vs current = second half. One
    * row per bin with smoothed-proportion PSI contribution (sum of
    * psi_term = the headline PSI). Two passes: a single-row bounds
    * aggregate (broadcast), then one binning scan + 10-row spine join, so
    * the cost at 100 TB is one full scan regardless of bin count. All
    * inputs to psi_term are integer counts — deterministic across engines.
    */
  val d2: GraftQuery = GraftQuery(
    "d2_drift_psi",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("value"), unix_micros(col("ts")).as("us"))
      val bounds = e.agg(
        min("value").as("vmin"), max("value").as("vmax"),
        expr("(min(us) + max(us)) div 2").as("mid_us"))
      val binned = e.crossJoin(broadcast(bounds))
        .select(
          least(lit(9), floor((col("value") - col("vmin")) /
            ((col("vmax") - col("vmin")) / 10.0))).cast("int").as("bin"),
          (col("us") < col("mid_us")).as("is_ref"))
      val agg = binned.groupBy("bin").agg(
        count(when(col("is_ref"), 1)).as("ref_n"),
        count(when(!col("is_ref"), 1)).as("cur_n"))
      // total-function spine: a bin emptied by drift must still surface
      val spine = s.range(0, 10).select(col("id").cast("int").as("bin"))
      val f = spine.join(agg, Seq("bin"), "left").na.fill(0L, Seq("ref_n", "cur_n"))
        .withColumn("rt", sum("ref_n").over(Window.partitionBy()))
        .withColumn("ct", sum("cur_n").over(Window.partitionBy()))
      val pr = (col("ref_n") + 0.5) / (col("rt") + 5.0)
      val pc = (col("cur_n") + 0.5) / (col("ct") + 5.0)
      // ln() is the one libm call in this file and JVM Math.log vs DuckDB's
      // libm CAN differ in the last ulp (observed at sf0.1). Quantize to 9 dp
      // with floor(x*1e9 + 0.5)/1e9 — the SAME IEEE expression on both
      // engines (never the round() builtin: Spark rounds the shortest-repr
      // string, DuckDB the binary value, and they disagree on .xx5 cases).
      f.select(col("bin"), col("ref_n"), col("cur_n"),
        (floor((pc - pr) * log(pc / pr) * 1e9 + 0.5).cast("double") / 1e9)
          .as("psi_term"))
    },
    Some("""WITH b AS (SELECT min(value) AS vmin, max(value) AS vmax,
           |  (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us FROM events),
           |e AS (SELECT CAST(least(9, floor((value - b.vmin) / ((b.vmax - b.vmin) / 10.0))) AS INT) AS bin,
           |             epoch_us(ts) < b.mid_us AS is_ref
           |      FROM events, b),
           |a AS (SELECT bin, count(*) FILTER (WHERE is_ref) AS ref_n,
           |             count(*) FILTER (WHERE NOT is_ref) AS cur_n FROM e GROUP BY bin),
           |sp AS (SELECT CAST(unnest(range(10)) AS INT) AS bin),
           |f AS (SELECT sp.bin, coalesce(a.ref_n, 0) AS ref_n, coalesce(a.cur_n, 0) AS cur_n
           |      FROM sp LEFT JOIN a USING (bin)),
           |t AS (SELECT *, sum(ref_n) OVER () AS rt, sum(cur_n) OVER () AS ct FROM f)
           |SELECT bin, ref_n, cur_n,
           |  floor(((cur_n + 0.5) / (ct + 5.0) - (ref_n + 0.5) / (rt + 5.0))
           |    * ln(((cur_n + 0.5) / (ct + 5.0)) / ((ref_n + 0.5) / (rt + 5.0)))
           |    * 1e9 + 0.5) / 1e9 AS psi_term
           |FROM t""".stripMargin))

  /** D3 (beyond reference): two-sample Kolmogorov-Smirnov statistic between
    * the value distributions of two event populations ('click' vs 'error')
    * — the standard nonparametric "did the metric distribution shift"
    * test. ECDFs are built on the *distinct-value* domain (group first,
    * then one ordered cumulative count), so the window input is bounded by
    * metric resolution, not row count. Every ECDF step is a ratio of
    * integers — the max over them is order-independent and deterministic.
    */
  val d3: GraftQuery = GraftQuery(
    "d3_ks_drift",
    (s, d) => {
      val sdf = Tables.events(s, d)
        .filter(col("event_type").isin("click", "error"))
        .select(col("value"), (col("event_type") === "click").as("isa"))
      val dd = sdf.groupBy("value").agg(
        count(when(col("isa"), 1)).as("na_v"),
        count(when(!col("isa"), 1)).as("nb_v"))
      val wv = Window.orderBy("value")
      val cdf = dd.select(col("value"),
        sum("na_v").over(wv).as("cum_a"), sum("nb_v").over(wv).as("cum_b"))
      val tot = dd.agg(sum("na_v").as("n_a"), sum("nb_v").as("n_b"))
      cdf.crossJoin(broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(max(abs(
          col("cum_a").cast("double") / col("n_a") -
            col("cum_b").cast("double") / col("n_b"))).as("ks_stat"))
        .select(col("n_a"), col("n_b"), col("ks_stat"))
    },
    Some("""WITH s AS (SELECT value, event_type = 'click' AS isa FROM events
           |           WHERE event_type IN ('click', 'error')),
           |d AS (SELECT value, count(*) FILTER (WHERE isa) AS na_v,
           |             count(*) FILTER (WHERE NOT isa) AS nb_v FROM s GROUP BY value),
           |c AS (SELECT sum(na_v) OVER (ORDER BY value) AS cum_a,
           |             sum(nb_v) OVER (ORDER BY value) AS cum_b FROM d),
           |t AS (SELECT CAST(sum(na_v) AS BIGINT) AS n_a,
           |             CAST(sum(nb_v) AS BIGINT) AS n_b FROM d)
           |SELECT t.n_a, t.n_b,
           |  max(abs(CAST(cum_a AS DOUBLE) / t.n_a - CAST(cum_b AS DOUBLE) / t.n_b)) AS ks_stat
           |FROM c, t GROUP BY t.n_a, t.n_b""".stripMargin))

  /** A22 (beyond reference): Welch's unequal-variance t-test between the
    * 'click' and 'error' value populations — the A/B-comparison primitive.
    * One conditional-aggregate scan; mean and variance are derived from
    * exact DECIMAL sum / sum-of-squares, converted to double once, so
    * every engine computes the identical t statistic and Welch-
    * Satterthwaite df with no streaming-variance implementation drift.
    * Squares are written as products (not pow) because pow(x, 2) is
    * libm-dependent while x*x is a single IEEE multiply.
    */
  val a22: GraftQuery = GraftQuery(
    "a22_welch_ttest",
    (s, d) => {
      def side(t: String, n: String, sm: String, sq: String) = Seq(
        count(when(col("event_type") === t, 1)).as(n),
        sum(when(col("event_type") === t, dec(col("value")))).cast("double").as(sm),
        sum(when(col("event_type") === t, dec(col("value")) * dec(col("value"))))
          .cast("double").as(sq))
      val aggs = side("click", "n1", "s1", "q1") ++ side("error", "n2", "s2", "q2")
      val g = Tables.events(s, d)
        .filter(col("event_type").isin("click", "error"))
        .agg(aggs.head, aggs.tail: _*)
      val k = g.select(col("n1"), col("n2"),
        (col("s1") / col("n1")).as("m1"), (col("s2") / col("n2")).as("m2"),
        ((col("q1") - col("s1") * col("s1") / col("n1")) / (col("n1") - 1)).as("v1"),
        ((col("q2") - col("s2") * col("s2") / col("n2")) / (col("n2") - 1)).as("v2"))
      val se2 = col("v1") / col("n1") + col("v2") / col("n2")
      k.select(col("n1"), col("n2"),
        (col("m1") - col("m2")).as("mean_diff"),
        ((col("m1") - col("m2")) / sqrt(se2)).as("t_stat"),
        (se2 * se2 /
          ((col("v1") / col("n1")) * (col("v1") / col("n1")) / (col("n1") - 1) +
            (col("v2") / col("n2")) * (col("v2") / col("n2")) / (col("n2") - 1))).as("df"))
    },
    Some("""WITH g AS (SELECT
           |  count(*) FILTER (WHERE event_type = 'click') AS n1,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS s1,
           |  CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS q1,
           |  count(*) FILTER (WHERE event_type = 'error') AS n2,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'error') AS DOUBLE) AS s2,
           |  CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'error') AS DOUBLE) AS q2
           | FROM events WHERE event_type IN ('click', 'error')),
           |k AS (SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
           |        (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
           |        (q2 - s2 * s2 / n2) / (n2 - 1) AS v2 FROM g)
           |SELECT n1, n2, m1 - m2 AS mean_diff,
           |  (m1 - m2) / sqrt(v1 / n1 + v2 / n2) AS t_stat,
           |  (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2) /
           |    ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)) AS df
           |FROM k""".stripMargin))

  /** Micros per 6-hour CUSUM bucket (Jan testdata -> ~120 points). */
  private[operators] val BucketUs = 21600000000L

  /** M12 (beyond reference): CUSUM changepoint detection — Page's
    * observation-level CUSUM C_t = sum_{v <= t}(v - mu) evaluated at 6-hour
    * bucket boundaries, peak |C_t| flagged as the changepoint candidate.
    * C_t is computed as D_t - K_t * mu where D_t (cumulative DECIMAL value
    * sum) and K_t (cumulative count) come from *exact* window
    * accumulations: no float ever enters an aggregate, so engines agree
    * bitwise no matter how they fold window frames. The window input is
    * one row per calendar bucket — bounded by the time span, never by row
    * count, so the single-partition window holds at 100 TB.
    */
  val m12: GraftQuery = GraftQuery(
    "m12_changepoint_cusum",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(expr(s"unix_micros(ts) div $BucketUs").as("bucket"), col("value"))
      val g = e.groupBy("bucket").agg(
        count(lit(1)).as("n"), sum(dec(col("value"))).as("svd"))
      val t = e.agg((sum(dec(col("value"))).cast("double") / count(lit(1))).as("mu"))
      val wb = Window.orderBy("bucket")
      val c = g.crossJoin(broadcast(t))
        .withColumn("x_mean", col("svd").cast("double") / col("n"))
        .withColumn("cusum",
          sum("svd").over(wb).cast("double") - sum("n").over(wb) * col("mu"))
        .select(col("bucket"), col("n"), col("x_mean"), col("cusum"))
      c.withColumn("is_peak",
        abs(col("cusum")) === max(abs(col("cusum"))).over(Window.partitionBy()))
    },
    Some(s"""WITH e AS (SELECT epoch_us(ts) // $BucketUs AS bucket, value FROM events),
            |g AS (SELECT bucket, count(*) AS n,
            |        sum(CAST(value AS DECIMAL(18,4))) AS svd FROM e GROUP BY bucket),
            |t AS (SELECT CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mu FROM e),
            |c AS (SELECT bucket, n, CAST(svd AS DOUBLE) / n AS x_mean,
            |        CAST(sum(svd) OVER (ORDER BY bucket) AS DOUBLE)
            |          - CAST(sum(n) OVER (ORDER BY bucket) AS DOUBLE) * t.mu AS cusum
            |      FROM g, t)
            |SELECT bucket, n, x_mean, cusum,
            |  abs(cusum) = max(abs(cusum)) OVER () AS is_peak
            |FROM c""".stripMargin))

  /** D4 (beyond reference): chi-square categorical drift — the companion to
    * [[d2]]'s numeric PSI: did the event-TYPE mix shift between the first
    * and second half of the window? Standard two-way contingency chi-square:
    * per category, observed ref/cur counts vs expected under independence,
    * chi2_term = (o_r - e_r)^2/e_r + (o_c - e_c)^2/e_c (sum over rows = the
    * test statistic). One single-row bounds aggregate (broadcast) + one
    * conditional-count scan + a category-bounded window — one full pass at
    * 100 TB regardless of category count. Expected counts are formed as
    * CAST-to-double products of integer counts in the identical expression
    * order on both engines (cast BEFORE multiply so the product cannot
    * overflow BIGINT at scale); every remaining op is IEEE +,-,*,/ — no
    * libm, so no quantization is needed.
    */
  /** Public DataFrame-in API (see graft.api.Graft): chi-square categorical
    * drift. `df` needs (`catCol`, ts: timestamp); reference = first half of
    * the observed time range, current = second. Returns one row per
    * category (catCol, ref_n, cur_n, chi2_term); sum(chi2_term) is the
    * test statistic with (categories - 1) degrees of freedom.
    */
  def chiSquareDrift(df: DataFrame, catCol: String): DataFrame = {
    val e = df.select(col(catCol), unix_micros(col("ts")).as("us"))
    val mid = e.agg(expr("(min(us) + max(us)) div 2").as("mid_us"))
    val o = e.crossJoin(broadcast(mid))
      .groupBy(catCol)
      .agg(count(when(col("us") < col("mid_us"), 1)).as("ref_n"),
        count(when(col("us") >= col("mid_us"), 1)).as("cur_n"))
    val t = o
      .withColumn("rt", sum("ref_n").over(Window.partitionBy()))
      .withColumn("ct", sum("cur_n").over(Window.partitionBy()))
    val rowTot = (col("ref_n") + col("cur_n")).cast("double")
    val n = (col("rt") + col("ct")).cast("double")
    val er = rowTot * col("rt").cast("double") / n
    val ec = rowTot * col("ct").cast("double") / n
    t.select(col(catCol), col("ref_n"), col("cur_n"),
      ((col("ref_n") - er) * (col("ref_n") - er) / er +
        (col("cur_n") - ec) * (col("cur_n") - ec) / ec).as("chi2_term"))
  }

  val d4: GraftQuery = GraftQuery(
    "d4_chi2_drift",
    (s, d) => chiSquareDrift(Tables.events(s, d), "event_type"),
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
           |b AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM e),
           |o AS (SELECT event_type,
           |        count(*) FILTER (WHERE us < b.mid_us) AS ref_n,
           |        count(*) FILTER (WHERE us >= b.mid_us) AS cur_n
           |      FROM e, b GROUP BY 1),
           |t AS (SELECT *, sum(ref_n) OVER () AS rt, sum(cur_n) OVER () AS ct FROM o)
           |SELECT event_type, ref_n, cur_n,
           |  (ref_n - CAST(ref_n + cur_n AS DOUBLE) * CAST(rt AS DOUBLE) / CAST(rt + ct AS DOUBLE))
           |    * (ref_n - CAST(ref_n + cur_n AS DOUBLE) * CAST(rt AS DOUBLE) / CAST(rt + ct AS DOUBLE))
           |    / (CAST(ref_n + cur_n AS DOUBLE) * CAST(rt AS DOUBLE) / CAST(rt + ct AS DOUBLE))
           |  + (cur_n - CAST(ref_n + cur_n AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(rt + ct AS DOUBLE))
           |    * (cur_n - CAST(ref_n + cur_n AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(rt + ct AS DOUBLE))
           |    / (CAST(ref_n + cur_n AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(rt + ct AS DOUBLE)) AS chi2_term
           |FROM t""".stripMargin))

  /** D5 (beyond reference): join-key skew report — the diagnostic that
    * decides whether a join needs the j12 salting treatment. Per-key row
    * counts for lineitem.l_partkey reduced to one summary row: key count,
    * hottest key (deterministic: the smallest key attaining the max), and
    * skew_ratio = max_n * n_keys / total_n (1.0 = perfectly uniform; the
    * hot key's partition is skew_ratio times the average, which is exactly
    * the straggler factor an unsalted shuffle would see). Shape: one hash
    * aggregate + a two-level (max, argmin) reduction over the KEY domain —
    * at 100 TB the per-key aggregate is map-side combined and the summary
    * side is a single-row reduce; nothing is ever collected or sorted
    * globally. Integer counts throughout; the one double is a ratio of
    * integers computed by the identical expression on both engines.
    * Oracle determinism: integer sum() is CAST to BIGINT — DuckDB's sum
    * promotes to HUGEINT, which the driver canonicalizes as float64
    * ('60175.0' vs Spark's '60175'); see SCALE.md "hashed-output
    * determinism".
    */
  /** Public DataFrame-in API (see graft.api.Graft): join-key skew summary
    * for `keyCol` — one row (n_keys, total_n, max_n, hot_key, skew_ratio);
    * skew_ratio >= ~4 is the usual "salt this join" signal.
    */
  def keySkewReport(df: DataFrame, keyCol: String): DataFrame = {
    val k = df.groupBy(keyCol).agg(count(lit(1)).as("n"))
    k.agg(
        count(lit(1)).as("n_keys"),
        sum("n").as("total_n"),
        max("n").as("max_n"),
        min_by(col(keyCol), struct(negate(col("n")), col(keyCol))).as("hot_key"))
      .select(col("n_keys"), col("total_n"), col("max_n"), col("hot_key"),
        (col("max_n").cast("double") * col("n_keys").cast("double") /
          col("total_n").cast("double")).as("skew_ratio"))
  }

  val d5: GraftQuery = GraftQuery(
    "d5_join_key_skew",
    (s, d) => keySkewReport(Tables.lineitem(s, d), "l_partkey"),
    Some("""WITH k AS (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1),
           |s AS (SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS total_n, max(n) AS max_n FROM k)
           |SELECT s.n_keys, s.total_n, s.max_n,
           |  (SELECT min(l_partkey) FROM k WHERE n = s.max_n) AS hot_key,
           |  CAST(max_n AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(total_n AS DOUBLE) AS skew_ratio
           |FROM s""".stripMargin))

  /** M13 (beyond reference): STL-style seasonal-trend decomposition of the
    * daily events.value series — the diagnostic that separates "the metric
    * is trending" from "it's just the weekly cycle" before any forecast or
    * drift test runs (completes the m5..m11 ladder with the classical
    * decomposition view). Classical form: trend = centered 7-day moving
    * mean of the RAW values (exact DECIMAL window sums of (sum, count),
    * divided once — not a mean-of-means, so heavy days weigh correctly);
    * seasonal = day-of-week mean of the detrended series; residual = the
    * rest. Determinism: the detrended values are doubles, so before the
    * dow aggregation each is quantized to an integer micro-unit (the x41
    * discipline) — every aggregate is then an exact DECIMAL or BIGINT sum
    * and both engines agree bitwise. Day-of-week is epoch-day mod 7
    * (engine-neutral; SQL dayofweek() disagrees between engines on
    * numbering). All windows run over the DAY domain — calendar-bounded,
    * never row-count-bounded — so single-partition windows hold at 100 TB.
    */
  /** Public DataFrame-in API (see graft.api.Graft): classical seasonal-
    * trend decomposition of a (ts: timestamp, value: double) series at
    * daily grain with a weekly season — returns one row per day
    * (day, n, daily_mean, trend, seasonal, residual), additive:
    * daily_mean = trend + seasonal + residual exactly.
    */
  def stlDecompose(df: DataFrame): DataFrame = {
    val e = df.select(to_date(col("ts")).as("day"), col("value"))
    val g = e.groupBy("day").agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("svd"))
    val wt = Window.orderBy("day").rowsBetween(-3, 3)
    val t = g
      .withColumn("daily_mean", col("svd").cast("double") / col("n"))
      .withColumn("trend",
        sum("svd").over(wt).cast("double") / sum("n").over(wt).cast("double"))
      .withColumn("dow", datediff(col("day"), lit("1970-01-01").cast("date")) % 7)
      .withColumn("dq",
        floor((col("daily_mean") - col("trend")) * 1e6 + 0.5).cast("long"))
    val wd = Window.partitionBy("dow")
    t.withColumn("seasonal",
        sum("dq").over(wd).cast("double") / count(lit(1)).over(wd) / 1e6)
      .select(col("day"), col("n"), col("daily_mean"), col("trend"), col("seasonal"),
        (col("daily_mean") - col("trend") - col("seasonal")).as("residual"))
  }

  val m13: GraftQuery = GraftQuery(
    "m13_stl_decompose",
    (s, d) => stlDecompose(Tables.events(s, d)),
    Some("""WITH e AS (SELECT CAST(ts AS DATE) AS day, value FROM events),
           |g AS (SELECT day, count(*) AS n,
           |        sum(CAST(value AS DECIMAL(18,4))) AS svd FROM e GROUP BY 1),
           |t AS (SELECT day, n,
           |        CAST(svd AS DOUBLE) / n AS daily_mean,
           |        CAST(sum(svd) OVER w AS DOUBLE) / CAST(sum(n) OVER w AS DOUBLE) AS trend,
           |        (day - DATE '1970-01-01') % 7 AS dow
           |      FROM g WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
           |q AS (SELECT *, CAST(floor((daily_mean - trend) * 1e6 + 0.5) AS BIGINT) AS dq FROM t),
           |s AS (SELECT *, CAST(sum(dq) OVER dw AS DOUBLE) / (count(*) OVER dw) / 1e6 AS seasonal
           |      FROM q WINDOW dw AS (PARTITION BY dow))
           |SELECT day, n, daily_mean, trend, seasonal,
           |       daily_mean - trend - seasonal AS residual FROM s""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): histogram Mann-Whitney
    * AUC — the rank-statistic form of ROC-AUC, the standard scale-out
    * formulation (per-pair comparison is O(n^2); rank-sum over a quantized
    * score histogram is one aggregate + one bounded window). `scoreCol` is
    * quantized to 1e-6 buckets, scores are histogrammed per bucket
    * (np/nn = positive/negative counts), and the tie-aware U statistic is
    * accumulated as the INTEGER 2U = sum(np * (2*cum_nn_below + nn_tied))
    * so both engines agree exactly; AUC = 2U / (2 * NP * NN) with one final
    * IEEE division. The ordered window runs over the DISTINCT quantized
    * score domain — bounded by score range x 1e6 buckets, not by row count —
    * so it stays single-partition-safe at 100 TB (an unbounded-range score
    * would first be quantile-bucketed via a15's sketch). Oracle
    * determinism: the emitted n_pos/n_neg sums are CAST to BIGINT (DuckDB
    * HUGEINT promotion diverges under the driver's canonicalization; see
    * SCALE.md "hashed-output determinism").
    */
  def aucRank(df: DataFrame, scoreCol: String, posCol: String): DataFrame = {
    val b = df
      .select(floor(col(scoreCol).cast("double") * 1e6).cast("long").as("q"),
        col(posCol).cast("boolean").as("pos"))
      .groupBy("q")
      .agg(count(when(col("pos"), 1)).as("np"),
        count(when(!col("pos"), 1)).as("nn"))
    val w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    b.withColumn("cum_nn", coalesce(sum("nn").over(w), lit(0L)))
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum(col("np") * (col("cum_nn") * 2 + col("nn"))).as("u2"))
      .select(col("n_pos"), col("n_neg"),
        (col("u2").cast("double") /
          (col("n_pos") * col("n_neg") * 2).cast("double")).as("auc"))
  }

  /** D6 (beyond reference): model-evaluation AUC over the embeddings table —
    * score = first embedding component, positive = label < 5. The op a
    * training pipeline runs on every scored eval split; near-0.5 here
    * because the generator's first component carries no label signal
    * (which is itself the point of an eval harness: it must report the
    * null result exactly, not optimistically).
    */
  val d6: GraftQuery = GraftQuery(
    "d6_auc_rank",
    (s, d) => aucRank(
      Tables.embeddings(s, d).select(
        element_at(col("embedding"), 1).as("score"), (col("label") < 5).as("pos")),
      "score", "pos"),
    Some("""WITH e AS (SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT) AS q,
           |            label < 5 AS pos FROM embeddings),
           |b AS (SELECT q, count(*) FILTER (pos) AS np,
           |             count(*) FILTER (NOT pos) AS nn FROM e GROUP BY 1),
           |t AS (SELECT q, np, nn,
           |        coalesce(sum(nn) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
           |      FROM b)
           |SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
           |       CAST(sum(np * (2 * cum_nn + nn)) AS DOUBLE) /
           |         CAST(2 * sum(np) * sum(nn) AS DOUBLE) AS auc
           |FROM t""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): rolling z-score anomaly
    * flags on the daily mean of a (ts, value) series — each day scored
    * against the TRAILING 7 full days (current day excluded, so an anomaly
    * cannot mask itself), |z| > 3 flagged. Returns
    * (day, daily_mean, mean7, z, is_anomaly) for days with a full trailing
    * window.
    *
    * Cross-engine exactness: the daily mean is micro-quantized once
    * (floor(x*1e6+0.5) on identical doubles) and the rolling first/second
    * moments are INTEGER window sums, so frame fold order cannot perturb a
    * bit; mean/std/z then come from one identical chain of IEEE ops —
    * sqrt is exactly rounded under IEEE 754, so it is as deterministic as
    * +-*_/. The window runs over the DAY domain (calendar-bounded).
    */
  def rollingAnomaly(df: DataFrame): DataFrame = {
    val g = df.select(to_date(col("ts")).as("day"), col("value"))
      .groupBy("day").agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sv"))
      .withColumn("daily_mean", col("sv").cast("double") / col("n"))
      .withColumn("dq", floor(col("daily_mean") * 1e6 + 0.5).cast("long"))
    val w = Window.orderBy("day").rowsBetween(-7, -1)
    val t = g
      .withColumn("n7", count(lit(1)).over(w))
      .withColumn("s1", sum("dq").over(w))
      .withColumn("s2", sum(col("dq") * col("dq")).over(w))
      .filter(col("n7") === 7)
    val mean = col("s1").cast("double") / col("n7") / 1e6
    val variance = (col("s2").cast("double") / col("n7") -
      (col("s1").cast("double") / col("n7")) * (col("s1").cast("double") / col("n7"))) / 1e12
    // variance == 0 (a constant baseline) makes z degenerate; any departure
    // from that baseline is then anomalous by definition — the integer test
    // dq*n7 != s1 decides it exactly.
    t.withColumn("mean7", mean)
      .withColumn("z",
        when(variance > 0, (col("dq").cast("double") / 1e6 - mean) / sqrt(variance))
          .otherwise(lit(0.0)))
      .select(col("day"), col("daily_mean"), col("mean7"), col("z"),
        (abs(col("z")) > 3.0 ||
          (variance <= 0 && col("dq") * col("n7") =!= col("s1"))).as("is_anomaly"))
  }

  /** M14 (beyond reference): daily anomaly flags over the events value
    * series — the alerting layer a platform runs on every ingested metric
    * (the reference stops at fixed-threshold alerts; this is the adaptive
    * baseline version).
    */
  val m14: GraftQuery = GraftQuery(
    "m14_rolling_anomaly",
    (s, d) => rollingAnomaly(Tables.events(s, d)),
    Some("""WITH e AS (SELECT CAST(ts AS DATE) AS day, value FROM events),
           |g AS (SELECT day, count(*) AS n, sum(CAST(value AS DECIMAL(18,4))) AS sv FROM e GROUP BY 1),
           |m AS (SELECT day, CAST(sv AS DOUBLE) / n AS daily_mean,
           |        CAST(floor(CAST(sv AS DOUBLE) / n * 1e6 + 0.5) AS BIGINT) AS dq FROM g),
           |t AS (SELECT *, count(*) OVER w AS n7, sum(dq) OVER w AS s1,
           |        sum(dq * dq) OVER w AS s2
           |      FROM m WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
           |z AS (SELECT day, daily_mean,
           |        CAST(s1 AS DOUBLE) / n7 / 1e6 AS mean7,
           |        CASE WHEN (CAST(s2 AS DOUBLE) / n7
           |                   - (CAST(s1 AS DOUBLE) / n7) * (CAST(s1 AS DOUBLE) / n7)) / 1e12 > 0
           |             THEN (CAST(dq AS DOUBLE) / 1e6 - CAST(s1 AS DOUBLE) / n7 / 1e6)
           |                  / sqrt((CAST(s2 AS DOUBLE) / n7
           |                          - (CAST(s1 AS DOUBLE) / n7) * (CAST(s1 AS DOUBLE) / n7)) / 1e12)
           |             ELSE 0.0 END AS z,
           |        (CAST(s2 AS DOUBLE) / n7
           |         - (CAST(s1 AS DOUBLE) / n7) * (CAST(s1 AS DOUBLE) / n7)) / 1e12 AS var0,
           |        dq, n7, s1
           |      FROM t WHERE n7 = 7)
           |SELECT day, daily_mean, mean7, z,
           |       abs(z) > 3.0 OR (var0 <= 0 AND dq * n7 <> s1) AS is_anomaly FROM z""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): calibration /
    * reliability bins with ECE contributions — the companion to [[d6]]'s
    * AUC in a model-eval harness: is the score USABLE as a probability?
    * `scoreCol` is clamped to [0, 1] and cut into `bins` equal-width bins;
    * per non-empty bin: n, pos_n, mean_score (confidence), frac_pos
    * (accuracy), and ece_term = n/N * |frac_pos - mean_score| (sum over
    * bins = the Expected Calibration Error, Naeini et al. AAAI'15).
    *
    * Cross-engine exactness: the clamped score is micro-quantized once
    * (floor(s*1e6+0.5) on identical IEEE doubles) and every aggregate is
    * an integer sum; mean/frac/ece come from the integer sums by one
    * identical chain of IEEE divisions. Shape: one scan + one hash
    * aggregate on the bin domain + a bin-bounded total window — one full
    * pass at 100 TB regardless of bin count.
    */
  def calibrationBins(df: DataFrame, scoreCol: String, posCol: String,
      bins: Int = 10): DataFrame = {
    val s01 = greatest(lit(0.0), least(lit(1.0), col(scoreCol).cast("double")))
    val b = df
      .select(
        least(lit(bins - 1), floor(s01 * bins)).cast("int").as("bin"),
        floor(s01 * 1e6 + 0.5).cast("long").as("qs"),
        col(posCol).cast("boolean").as("pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), count(when(col("pos"), 1)).as("pos_n"),
        sum("qs").as("sq"))
    b.withColumn("nt", sum("n").over(Window.partitionBy()))
      .select(col("bin"), col("n"), col("pos_n"),
        (col("sq").cast("double") / col("n") / 1e6).as("mean_score"),
        (col("pos_n").cast("double") / col("n")).as("frac_pos"),
        (col("n").cast("double") / col("nt") *
          abs(col("pos_n").cast("double") / col("n") -
            col("sq").cast("double") / col("n") / 1e6)).as("ece_term"))
  }

  /** D7 (beyond reference): calibration audit of the embeddings eval split —
    * score = first component mapped to [0, 1] by (x+1)/2, positive =
    * label < 5 (the same null-signal pairing as [[d6]], so the bins report
    * the miscalibration of an uninformative score exactly).
    */
  val d7: GraftQuery = GraftQuery(
    "d7_calibration_bins",
    (s, d) => calibrationBins(
      Tables.embeddings(s, d).select(
        ((element_at(col("embedding"), 1).cast("double") + 1.0) / 2.0).as("score"),
        (col("label") < 5).as("pos")),
      "score", "pos"),
    Some("""WITH e AS (SELECT greatest(0.0, least(1.0, (CAST(embedding[1] AS DOUBLE) + 1.0) / 2.0)) AS s,
           |            label < 5 AS pos FROM embeddings),
           |b AS (SELECT CAST(least(9, floor(s * 10)) AS INT) AS bin,
           |        CAST(floor(s * 1e6 + 0.5) AS BIGINT) AS qs, pos FROM e),
           |g AS (SELECT bin, count(*) AS n, count(*) FILTER (pos) AS pos_n,
           |        sum(qs) AS sq FROM b GROUP BY 1),
           |t AS (SELECT *, sum(n) OVER () AS nt FROM g)
           |SELECT bin, n, pos_n,
           |  CAST(sq AS DOUBLE) / n / 1e6 AS mean_score,
           |  CAST(pos_n AS DOUBLE) / n AS frac_pos,
           |  CAST(n AS DOUBLE) / nt
           |    * abs(CAST(pos_n AS DOUBLE) / n - CAST(sq AS DOUBLE) / n / 1e6) AS ece_term
           |FROM t""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): precision/recall/F1
    * threshold sweep — the operating-point table a model-eval harness
    * publishes next to [[aucRank]]'s AUC and [[calibrationBins]]'s ECE.
    * The score is micro-quantized once (the d6/d7 discipline) and
    * histogrammed; each threshold t/`steps` then reads the HISTOGRAM, not
    * the rows, with the integer predicate qs >= t*(1e6/steps) — so the
    * sweep costs one scan + one hash aggregate regardless of step count,
    * and every confusion count is an exact integer in any engine. Ratios
    * guard their zero denominators explicitly (Spark yields NULL on x/0,
    * DuckDB yields inf — the CASE keeps the engines identical).
    */
  def thresholdSweep(df: DataFrame, scoreCol: String, posCol: String,
      steps: Int = 10): DataFrame = {
    require(1000000 % steps == 0, s"steps must divide 1e6, got $steps")
    val quantum = 1000000L / steps
    val h = df
      .select(
        floor(greatest(lit(0.0), least(lit(1.0), col(scoreCol).cast("double")))
          * 1e6 + 0.5).cast("long").as("qs"),
        col(posCol).cast("boolean").as("pos"))
      .groupBy("qs")
      .agg(count(when(col("pos"), 1)).as("np"), count(when(!col("pos"), 1)).as("nn"))
    val spine = df.sparkSession.range(0, steps).select(col("id").as("t"))
    val conf = h.crossJoin(broadcast(spine))
      .groupBy("t")
      .agg(
        sum(when(col("qs") >= col("t") * quantum, col("np")).otherwise(0L)).as("tp"),
        sum(when(col("qs") >= col("t") * quantum, col("nn")).otherwise(0L)).as("fp"),
        sum(when(col("qs") < col("t") * quantum, col("np")).otherwise(0L)).as("fn"))
    def ratio(num: Column, den: Column) =
      when(den === 0, lit(0.0)).otherwise(num.cast("double") / den.cast("double"))
    conf.select((col("t").cast("double") / steps).as("threshold"),
      col("tp"), col("fp"), col("fn"),
      ratio(col("tp"), col("tp") + col("fp")).as("precision"),
      ratio(col("tp"), col("tp") + col("fn")).as("recall"),
      ratio(col("tp") * 2, col("tp") * 2 + col("fp") + col("fn")).as("f1"))
  }

  /** D8 (beyond reference): operating-point sweep over the embeddings eval
    * split — same score/label pairing as [[d6]]/[[d7]].
    */
  val d8: GraftQuery = GraftQuery(
    "d8_threshold_sweep",
    (s, d) => thresholdSweep(
      Tables.embeddings(s, d).select(
        ((element_at(col("embedding"), 1).cast("double") + 1.0) / 2.0).as("score"),
        (col("label") < 5).as("pos")),
      "score", "pos"),
    Some("""WITH e AS (SELECT CAST(floor(greatest(0.0, least(1.0, (CAST(embedding[1] AS DOUBLE) + 1.0) / 2.0)) * 1e6 + 0.5) AS BIGINT) AS qs,
           |            label < 5 AS pos FROM embeddings),
           |h AS (SELECT qs, count(*) FILTER (pos) AS np,
           |        count(*) FILTER (NOT pos) AS nn FROM e GROUP BY 1),
           |sp AS (SELECT unnest(range(10)) AS t),
           |c AS (SELECT t,
           |        CAST(sum(CASE WHEN qs >= t * 100000 THEN np ELSE 0 END) AS BIGINT) AS tp,
           |        CAST(sum(CASE WHEN qs >= t * 100000 THEN nn ELSE 0 END) AS BIGINT) AS fp,
           |        CAST(sum(CASE WHEN qs < t * 100000 THEN np ELSE 0 END) AS BIGINT) AS fn
           |      FROM h CROSS JOIN sp GROUP BY 1)
           |SELECT CAST(t AS DOUBLE) / 10 AS threshold, tp, fp, fn,
           |  CASE WHEN tp + fp = 0 THEN 0.0
           |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
           |  CASE WHEN tp + fn = 0 THEN 0.0
           |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
           |  CASE WHEN tp * 2 + fp + fn = 0 THEN 0.0
           |       ELSE CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE) END AS f1
           |FROM c""".stripMargin))

  /** D9 (beyond reference): Jensen-Shannon divergence of the event-type
    * mix, first half vs second half of the window — the bounded,
    * symmetric member of the drift family (d2 PSI diverges on vanishing
    * bins, d4 chi-square grows with n; JS is always in [0, ln 2] and is
    * the right default for alerting thresholds). Per category:
    * js_term = 0.5·(p·ln(p/m) + q·ln(q/m)) with m = (p+q)/2; the sum over
    * categories is the divergence. p/q/m are ratios of integer counts
    * (identical IEEE doubles in any engine); each of the two ln terms is
    * the libm step, so the per-category term is quantized to 1e-12 once
    * (the d2 discipline). A category absent from one half contributes
    * only the other half's term (0·ln 0 := 0), handled by an explicit
    * integer-count CASE, never by NULL arithmetic. Shape: one bounds
    * aggregate broadcast + one conditional-count scan + category-bounded
    * arithmetic — one pass at any scale.
    */
  val d9: GraftQuery = GraftQuery(
    "d9_js_divergence",
    (s, d) => {
      val o = chiSquareDrift(Tables.events(s, d), "event_type")
        .select(col("event_type"), col("ref_n"), col("cur_n"))
        .withColumn("rt", sum("ref_n").over(Window.partitionBy()))
        .withColumn("ct", sum("cur_n").over(Window.partitionBy()))
      val p = col("ref_n").cast("double") / col("rt").cast("double")
      val qq = col("cur_n").cast("double") / col("ct").cast("double")
      val m = (p + qq) / 2.0
      val term =
        when(col("ref_n") > 0, p * log(p / m)).otherwise(lit(0.0)) * 0.5 +
          when(col("cur_n") > 0, qq * log(qq / m)).otherwise(lit(0.0)) * 0.5
      o.select(col("event_type"), col("ref_n"), col("cur_n"),
        (floor(term * 1e12 + 0.5).cast("double") / 1e12).as("js_term"))
    },
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
           |b AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM e),
           |o AS (SELECT event_type,
           |        count(*) FILTER (WHERE us < b.mid_us) AS ref_n,
           |        count(*) FILTER (WHERE us >= b.mid_us) AS cur_n
           |      FROM e, b GROUP BY 1),
           |t AS (SELECT *, sum(ref_n) OVER () AS rt, sum(cur_n) OVER () AS ct FROM o),
           |r AS (SELECT event_type, ref_n, cur_n,
           |        CAST(ref_n AS DOUBLE) / CAST(rt AS DOUBLE) AS p,
           |        CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE) AS q,
           |        (CAST(ref_n AS DOUBLE) / CAST(rt AS DOUBLE)
           |           + CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE)) / 2.0 AS m
           |      FROM t)
           |SELECT event_type, ref_n, cur_n,
           |  floor((CASE WHEN ref_n > 0 THEN p * ln(p / m) ELSE 0.0 END * 0.5
           |         + CASE WHEN cur_n > 0 THEN q * ln(q / m) ELSE 0.0 END * 0.5)
           |        * 1e12 + 0.5) / 1e12 AS js_term
           |FROM r""".stripMargin))

  /** splitmix64 finalizer — generator for the per-replica affine
    * coefficients (data-independent, 100 values, computed once on the
    * driver and spliced into the oracle as unsigned literals).
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Per-replica universal-hash coefficients u_b = h·a_b + c_b (mod 2^64):
    * odd multipliers so each replica's map is a bijection of the draw
    * space. ONE md5 per row feeds all `B` replicas — the earlier
    * md5-per-(row, replica) form spent ~90% of the op's time in string
    * hashing.
    */
  private val BootA: Array[Long] = Array.tabulate(100)(i => mix64(2L * i) | 1L)
  private val BootC: Array[Long] = Array.tabulate(100)(i => mix64(2L * i + 1))

  /** Poisson(1) CDF thresholds scaled to the full unsigned 64-bit draw
    * domain (floor(P(X <= k) * 2^64), k = 0..6; larger draws take weight
    * 7). Stored as Long BIT PATTERNS compared unsigned — no runtime
    * exp(), no engine drift.
    */
  private val PoissonCdf64: Array[Long] = {
    val e = math.exp(-1.0)
    var cum = 0.0
    var fact = 1L
    (0 until 7).map { k =>
      if (k > 0) fact *= k
      cum += e / fact
      (BigDecimal(cum) * BigDecimal(BigInt(1) << 64)).toBigInt.longValue
    }.toArray
  }

  private def poissonWeight(u: Long): Int = {
    var k = 0
    while (k < 7 && java.lang.Long.compareUnsigned(u, PoissonCdf64(k)) >= 0) k += 1
    k // 0..6 below their thresholds; everything past the last is 7
  }

  /** Public DataFrame-in API (see graft.api.Graft): percentile-bootstrap
    * confidence interval for the mean of `valueCol`, via the POISSON
    * bootstrap (Chamandy et al. 2012, "Estimating Uncertainty for Massive
    * Data Streams" — the resampling scheme that works in one pass on
    * partitioned data): replica b gives row i a Poisson(1) weight, so no
    * replica ever materializes a resample or needs the global row count
    * up front. Returns one row (n_replicas, point_mean, lo, mid, hi)
    * where lo/hi are the 5th/95th order statistics of the replica means
    * (a 90% percentile CI) and mid the 50th.
    *
    * Determinism: the per-row draw is ONE 60-bit md5 digest (the
    * x10/x44 discipline) pushed through per-replica affine maps in
    * wrapping 64-bit arithmetic — the oracle replays the wrap as HUGEINT
    * mod 2^64 (the x8 discipline) and the Poisson inverse-CDF is an
    * unsigned comparison chain against hardcoded integer thresholds.
    * Values quantize exactly to 1e-4 integers, so every replica sum is
    * BIGINT-exact in any fold order. Scale: the typed kernel emits x B
    * rows (a constant) that map-side-combine to B partials per
    * partition; the final selection sorts B rows, not data.
    */
  def bootstrapCI(df: DataFrame, idCol: String, valueCol: String,
      b: Int = 100): DataFrame = {
    require(b <= 100, s"bootstrapCI supports at most 100 replicas, got $b")
    val s = df.sparkSession
    import s.implicits._
    val rep = df
      .select(col(idCol).cast("long").as("id"), col(valueCol).cast("double").as("v"))
      .as[(Long, Double)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, v) =>
          val h = graft.functions.HashDraw.draw(md, s"$id:bs")
          val qv = math.floor(v * 1e4 + 0.5).toLong
          (0 until b).iterator.map { bi =>
            val w = poissonWeight(h * BootA(bi) + BootC(bi))
            (bi, qv * w, w.toLong)
          }
        }
      }
      .toDF("b", "qvw", "w")
    val means = rep.groupBy("b")
      .agg(sum(col("qvw")).as("sv"), sum(col("w")).as("sw"))
      .select(col("b"),
        (col("sv").cast("double") / col("sw").cast("double") / 1e4).as("m"))
    val pm = df.agg((sum(dec(col(valueCol))).cast("double") /
      count(lit(1)).cast("double")).as("point_mean"))
    means
      .withColumn("rk", row_number().over(Window.orderBy(col("m"), col("b"))))
      .agg(count(lit(1)).as("n_replicas"),
        min(when(col("rk") === 5, col("m"))).as("lo"),
        min(when(col("rk") === 50, col("m"))).as("mid"),
        min(when(col("rk") === 95, col("m"))).as("hi"))
      .crossJoin(broadcast(pm))
      .select(col("n_replicas"), col("point_mean"), col("lo"), col("mid"), col("hi"))
  }

  /** The oracle's 100-row coefficient table and unsigned thresholds,
    * spliced as literals (HUGEINT-safe decimal strings).
    */
  private def unsignedList(xs: Array[Long]): String =
    xs.map(java.lang.Long.toUnsignedString).mkString("[", ",", "]")
  private def t64(k: Int): String = java.lang.Long.toUnsignedString(PoissonCdf64(k))

  /** D10 (beyond reference): bootstrap uncertainty on the events mean —
    * the error bar a metrics platform attaches to every aggregate it
    * publishes.
    */
  val d10: GraftQuery = GraftQuery(
    "d10_bootstrap_ci",
    (s, d) => bootstrapCI(Tables.events(s, d), "event_id", "value"),
    Some(s"""WITH mix AS (SELECT unnest(range(100)) AS b,
            |         unnest(${unsignedList(BootA)}::HUGEINT[]) AS a,
            |         unnest(${unsignedList(BootC)}::HUGEINT[]) AS c),
            |r AS (SELECT event_id AS id,
            |        CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS qv FROM events),
            |h AS (SELECT id, qv, ${graft.functions.HashDraw.sql("CAST(id AS VARCHAR) || ':bs'")} AS h FROM r),
            |u AS (SELECT mix.b, h.qv,
            |        (CAST(h.h AS HUGEINT) * mix.a + mix.c) % 18446744073709551616 AS u
            |      FROM h CROSS JOIN mix),
            |w AS (SELECT b, qv,
            |        CASE WHEN u < ${t64(0)} THEN 0
            |             WHEN u < ${t64(1)} THEN 1
            |             WHEN u < ${t64(2)} THEN 2
            |             WHEN u < ${t64(3)} THEN 3
            |             WHEN u < ${t64(4)} THEN 4
            |             WHEN u < ${t64(5)} THEN 5
            |             WHEN u < ${t64(6)} THEN 6
            |             ELSE 7 END AS w
            |      FROM u),
            |m AS (SELECT b, CAST(sum(qv * w) AS DOUBLE) / CAST(sum(w) AS DOUBLE) / 1e4 AS m
            |      FROM w GROUP BY 1),
            |rk AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM m),
            |pm AS (SELECT CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
            |         / CAST(count(*) AS DOUBLE) AS point_mean FROM events)
            |SELECT CAST(count(*) AS BIGINT) AS n_replicas, pm.point_mean,
            |  min(CASE WHEN rk = 5 THEN m END) AS lo,
            |  min(CASE WHEN rk = 50 THEN m END) AS mid,
            |  min(CASE WHEN rk = 95 THEN m END) AS hi
            |FROM rk, pm GROUP BY pm.point_mean""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): consolidated model
    * evaluation — the one-call report a scoring pipeline publishes per
    * eval split, chaining [[aucRank]] (ranking power), [[calibrationBins]]
    * (probability quality, summed to the ECE), and [[thresholdSweep]]
    * (best operating point) over one scored input. Long-format output,
    * one row per metric: n, pos_rate, auc, ece, best_f1.
    *
    * Determinism: each leg inherits its own op's exactness contract; the
    * only new aggregation is the ECE sum, which quantizes each term to
    * 1e-12 first so the 10-bin fold is an exact integer sum (a raw
    * double sum's fold order differs between engines). Scale: three
    * scans of the scored input (or one, when the caller caches it),
    * every aggregate bin/threshold/histogram-domain-bounded.
    */
  def evalReport(df: DataFrame, scoreCol: String, posCol: String): DataFrame = {
    val n = df.agg(count(lit(1)).as("n"), count(when(col(posCol), 1)).as("np"))
    val counts = n.select(lit("n").as("metric"), col("n").cast("double").as("value"))
      .unionByName(n.select(lit("pos_rate").as("metric"),
        (col("np").cast("double") / col("n").cast("double")).as("value")))
    val auc = aucRank(df, scoreCol, posCol)
      .select(lit("auc").as("metric"), col("auc").as("value"))
    val ece = calibrationBins(df, scoreCol, posCol)
      .agg((sum(floor(col("ece_term") * 1e12 + 0.5).cast("long")).cast("double") / 1e12)
        .as("value"))
      .select(lit("ece").as("metric"), col("value"))
    val f1 = thresholdSweep(df, scoreCol, posCol)
      .agg(max("f1").as("value"))
      .select(lit("best_f1").as("metric"), col("value"))
    counts.unionByName(auc).unionByName(ece).unionByName(f1)
  }

  /** D11 (beyond reference): the consolidated eval report over the
    * embeddings split — same score/label pairing as d6/d7/d8, so each
    * row must equal the corresponding standalone op's headline number.
    */
  val d11: GraftQuery = GraftQuery(
    "d11_eval_report",
    (s, d) => evalReport(
      Tables.embeddings(s, d).select(
        ((element_at(col("embedding"), 1).cast("double") + 1.0) / 2.0).as("score"),
        (col("label") < 5).as("pos")),
      "score", "pos"),
    Some("""WITH sc AS (SELECT (CAST(embedding[1] AS DOUBLE) + 1.0) / 2.0 AS s,
           |             label < 5 AS pos FROM embeddings),
           |auc_b AS (SELECT CAST(floor(s * 1e6) AS BIGINT) AS q, pos FROM sc),
           |auc_h AS (SELECT q, count(*) FILTER (pos) AS np,
           |            count(*) FILTER (NOT pos) AS nn FROM auc_b GROUP BY 1),
           |auc_t AS (SELECT np, nn,
           |            coalesce(sum(nn) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
           |          FROM auc_h),
           |auc_v AS (SELECT CAST(sum(np * (2 * cum_nn + nn)) AS DOUBLE) /
           |            CAST(2 * sum(np) * sum(nn) AS DOUBLE) AS v FROM auc_t),
           |cal AS (SELECT CAST(least(9, floor(greatest(0.0, least(1.0, s)) * 10)) AS INT) AS bin,
           |          CAST(floor(greatest(0.0, least(1.0, s)) * 1e6 + 0.5) AS BIGINT) AS qs,
           |          pos FROM sc),
           |cal_g AS (SELECT bin, count(*) AS n, count(*) FILTER (pos) AS pos_n,
           |            sum(qs) AS sq FROM cal GROUP BY 1),
           |cal_t AS (SELECT *, sum(n) OVER () AS nt FROM cal_g),
           |ece_v AS (SELECT CAST(sum(CAST(floor(
           |            CAST(n AS DOUBLE) / nt
           |              * abs(CAST(pos_n AS DOUBLE) / n - CAST(sq AS DOUBLE) / n / 1e6)
           |            * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS v FROM cal_t),
           |sw_h AS (SELECT CAST(floor(greatest(0.0, least(1.0, s)) * 1e6 + 0.5) AS BIGINT) AS qs,
           |           count(*) FILTER (pos) AS np, count(*) FILTER (NOT pos) AS nn
           |         FROM sc GROUP BY 1),
           |sw_c AS (SELECT t,
           |           CAST(sum(CASE WHEN qs >= t * 100000 THEN np ELSE 0 END) AS BIGINT) AS tp,
           |           CAST(sum(CASE WHEN qs >= t * 100000 THEN nn ELSE 0 END) AS BIGINT) AS fp,
           |           CAST(sum(CASE WHEN qs < t * 100000 THEN np ELSE 0 END) AS BIGINT) AS fn
           |         FROM sw_h CROSS JOIN (SELECT unnest(range(10)) AS t) GROUP BY 1),
           |f1_v AS (SELECT max(CASE WHEN tp * 2 + fp + fn = 0 THEN 0.0
           |            ELSE CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE) END) AS v
           |         FROM sw_c),
           |base AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           |           CAST(count(*) FILTER (pos) AS DOUBLE) AS np FROM sc)
           |SELECT 'n' AS metric, n AS value FROM base
           |UNION ALL SELECT 'pos_rate', np / n FROM base
           |UNION ALL SELECT 'auc', v FROM auc_v
           |UNION ALL SELECT 'ece', v FROM ece_v
           |UNION ALL SELECT 'best_f1', v FROM f1_v""".stripMargin))

  /** Two-sided alpha = 0.05 and power = 0.80 z multipliers, spliced as
    * round-trip literals into both engines (the Z90 discipline —
    * [[graft.operators.Forecast.zFor]] runs on the driver only).
    * zFor(0.95) = z_{0.975}; zFor(0.6) = invNorm(0.8).
    */
  private val ZMde: Double = Forecast.zFor(0.95) + Forecast.zFor(0.6)
  private val ZMdeStr: String = java.lang.Double.toString(ZMde)

  /** D12 (beyond reference): minimum detectable effect — the power
    * analysis a platform runs BEFORE an A/B test (a22 judges the result;
    * d12 plans the sample): at alpha = 0.05 two-sided and 80% power,
    * MDE = (z_{0.975} + z_{0.8})·sqrt(v1/n1 + v2/n2) on the observed
    * populations. One conditional-aggregate scan (the a22 DECIMAL moment
    * discipline: exact sums, variance derived once in IEEE), then
    * driver-literal z multipliers — no executor-side libm beyond the
    * exactly-rounded sqrt.
    */
  val d12: GraftQuery = GraftQuery(
    "d12_mde_power",
    (s, d) => {
      def side(t: String, n: String, sm: String, sq: String) = Seq(
        count(when(col("event_type") === t, 1)).as(n),
        sum(when(col("event_type") === t, dec(col("value")))).cast("double").as(sm),
        sum(when(col("event_type") === t, dec(col("value")) * dec(col("value"))))
          .cast("double").as(sq))
      val aggs = side("click", "n1", "s1", "q1") ++ side("error", "n2", "s2", "q2")
      val g = Tables.events(s, d)
        .filter(col("event_type").isin("click", "error"))
        .agg(aggs.head, aggs.tail: _*)
      val k = g.select(col("n1"), col("n2"),
        (col("s1") / col("n1")).as("m1"),
        ((col("q1") - col("s1") * col("s1") / col("n1")) / (col("n1") - 1)).as("v1"),
        ((col("q2") - col("s2") * col("s2") / col("n2")) / (col("n2") - 1)).as("v2"))
      val mde = lit(ZMde) * sqrt(col("v1") / col("n1") + col("v2") / col("n2"))
      k.select(col("n1"), col("n2"), mde.as("mde_abs"),
        (mde / col("m1")).as("mde_rel"))
    },
    Some(s"""WITH g AS (SELECT
            |  count(*) FILTER (WHERE event_type = 'click') AS n1,
            |  CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS s1,
            |  CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS q1,
            |  count(*) FILTER (WHERE event_type = 'error') AS n2,
            |  CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'error') AS DOUBLE) AS s2,
            |  CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'error') AS DOUBLE) AS q2
            | FROM events WHERE event_type IN ('click', 'error')),
            |k AS (SELECT n1, n2, s1 / n1 AS m1,
            |        (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
            |        (q2 - s2 * s2 / n2) / (n2 - 1) AS v2 FROM g)
            |SELECT n1, n2,
            |  $ZMdeStr * sqrt(v1 / n1 + v2 / n2) AS mde_abs,
            |  $ZMdeStr * sqrt(v1 / n1 + v2 / n2) / m1 AS mde_rel
            |FROM k""".stripMargin))

  /** D13 (beyond reference): robust central tendency — 5%-winsorized and
    * 5%-trimmed means of events.value next to the plain mean, the
    * outlier-resistant aggregates a metrics platform publishes when the
    * raw mean is hostage to a fat tail. Computed from the VALUE
    * HISTOGRAM, not from ranked rows: values quantize exactly to 1e-4
    * integers (the generator's 2-dp metric), one hash aggregate builds
    * (qv, n), and the trim arithmetic — order statistics at ranks t+1
    * and N−t, partial-bucket sums of the t smallest/largest — is integer
    * window math over the bounded value domain. No global row sort
    * exists anywhere (the w17 discipline), and every output is a ratio
    * of exact integers.
    */
  val d13: GraftQuery = GraftQuery(
    "d13_robust_mean",
    (s, d) => {
      val h = Tables.events(s, d)
        .select(floor(col("value") * 1e4 + 0.5).cast("long").as("qv"))
        .groupBy("qv").agg(count(lit(1)).as("n"))
      val wAt = Window.orderBy("qv")
      val wPrev = Window.orderBy("qv").rowsBetween(Window.unboundedPreceding, -1)
      val t0 = h
        .withColumn("cum", sum("n").over(wAt))
        .withColumn("cum_prev", coalesce(sum("n").over(wPrev), lit(0L)))
        .withColumn("nt", sum("n").over(Window.partitionBy()))
        .withColumn("sv", sum(col("qv") * col("n")).over(Window.partitionBy()))
      val t = expr("nt div 20")
      val lowPart = least(col("n"), greatest(lit(0L), t - col("cum_prev")))
      val highPart = least(col("n"), greatest(lit(0L), col("cum") - (col("nt") - t)))
      val g = t0
        .withColumn("t", t)
        .withColumn("s_low", sum(lowPart * col("qv")).over(Window.partitionBy()))
        .withColumn("s_high", sum(highPart * col("qv")).over(Window.partitionBy()))
        .withColumn("lo_cut", min(when(col("cum") >= t + 1, col("qv")))
          .over(Window.partitionBy()))
        .withColumn("hi_cut", min(when(col("cum") >= col("nt") - t, col("qv")))
          .over(Window.partitionBy()))
        .limit(1)
      g.select(col("nt").as("n"), col("t").as("trim_n"),
        (col("sv").cast("double") / col("nt") / 1e4).as("mean"),
        ((col("sv") - col("s_low") - col("s_high") + col("t") * col("lo_cut") +
          col("t") * col("hi_cut")).cast("double") / col("nt") / 1e4)
          .as("winsorized_mean"),
        ((col("sv") - col("s_low") - col("s_high")).cast("double") /
          (col("nt") - col("t") * 2) / 1e4).as("trimmed_mean"))
    },
    Some("""WITH h AS (SELECT CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS qv, count(*) AS n
           |           FROM events GROUP BY 1),
           |c AS (SELECT qv, n,
           |        CAST(sum(n) OVER wo AS BIGINT) AS cum,
           |        CAST(coalesce(sum(n) OVER (ORDER BY qv ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev,
           |        CAST(sum(n) OVER () AS BIGINT) AS nt,
           |        CAST(sum(qv * n) OVER () AS BIGINT) AS sv
           |      FROM h WINDOW wo AS (ORDER BY qv)),
           |g AS (SELECT nt, sv, nt // 20 AS t,
           |        CAST(sum(least(n, greatest(0, nt // 20 - cum_prev)) * qv) OVER () AS BIGINT) AS s_low,
           |        CAST(sum(least(n, greatest(0, cum - (nt - nt // 20))) * qv) OVER () AS BIGINT) AS s_high,
           |        min(CASE WHEN cum >= nt // 20 + 1 THEN qv END) OVER () AS lo_cut,
           |        min(CASE WHEN cum >= nt - nt // 20 THEN qv END) OVER () AS hi_cut
           |      FROM c LIMIT 1)
           |SELECT nt AS n, t AS trim_n,
           |  CAST(sv AS DOUBLE) / nt / 1e4 AS mean,
           |  CAST(sv - s_low - s_high + t * lo_cut + t * hi_cut AS DOUBLE) / nt / 1e4 AS winsorized_mean,
           |  CAST(sv - s_low - s_high AS DOUBLE) / (nt - t * 2) / 1e4 AS trimmed_mean
           |FROM g""".stripMargin))

  /** D14 (beyond reference): seasonal and trend strength of the daily
    * series — Hyndman & Athanasopoulos's STL feature pair
    * (F_s = max(0, 1 − Var(residual)/Var(seasonal + residual)),
    * F_t likewise against trend), the one-number answers to "is this
    * metric actually weekly-cyclic / actually trending" that decide which
    * forecast model (m5..m15) a pipeline should pick. Built on [[m13]]'s
    * decomposition: each component is quantized to 1e-6 integers (the
    * m13 dq discipline) so the variance sums are exact BIGINT folds, and
    * each strength is a guarded ratio of integer variance numerators —
    * deterministic cross-engine, day-domain-bounded everywhere.
    */
  val d14: GraftQuery = GraftQuery(
    "d14_seasonality_strength",
    (s, d) => {
      val z = stlDecompose(Tables.events(s, d)).select(
        floor(col("residual") * 1e6 + 0.5).cast("long").as("qr"),
        floor((col("seasonal") + col("residual")) * 1e6 + 0.5).cast("long").as("qsr"),
        floor((col("trend") + col("residual")) * 1e6 + 0.5).cast("long").as("qtr"))
      val a = z.agg(count(lit(1)).as("n"),
        sum("qr").as("sr"), sum(col("qr") * col("qr")).as("srr"),
        sum("qsr").as("ss"), sum(col("qsr") * col("qsr")).as("sss"),
        sum("qtr").as("st"), sum(col("qtr") * col("qtr")).as("stt"))
      val vr = col("n") * col("srr") - col("sr") * col("sr")
      val vs = col("n") * col("sss") - col("ss") * col("ss")
      val vt = col("n") * col("stt") - col("st") * col("st")
      def strength(den: Column) =
        when(den === 0, lit(0.0)).otherwise(
          greatest(lit(0.0), lit(1.0) - vr.cast("double") / den.cast("double")))
      a.select(col("n").as("n_days"),
        strength(vs).as("seasonal_strength"),
        strength(vt).as("trend_strength"))
    },
    Some("""WITH e AS (SELECT CAST(ts AS DATE) AS day, value FROM events),
           |g AS (SELECT day, count(*) AS n,
           |        sum(CAST(value AS DECIMAL(18,4))) AS svd FROM e GROUP BY 1),
           |t AS (SELECT day, n,
           |        CAST(svd AS DOUBLE) / n AS daily_mean,
           |        CAST(sum(svd) OVER w AS DOUBLE) / CAST(sum(n) OVER w AS DOUBLE) AS trend,
           |        (day - DATE '1970-01-01') % 7 AS dow
           |      FROM g WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
           |q AS (SELECT *, CAST(floor((daily_mean - trend) * 1e6 + 0.5) AS BIGINT) AS dq FROM t),
           |s AS (SELECT *, CAST(sum(dq) OVER dw AS DOUBLE) / (count(*) OVER dw) / 1e6 AS seasonal
           |      FROM q WINDOW dw AS (PARTITION BY dow)),
           |stl AS (SELECT trend, seasonal,
           |          daily_mean - trend - seasonal AS residual FROM s),
           |z AS (SELECT CAST(floor(residual * 1e6 + 0.5) AS BIGINT) AS qr,
           |        CAST(floor((seasonal + residual) * 1e6 + 0.5) AS BIGINT) AS qsr,
           |        CAST(floor((trend + residual) * 1e6 + 0.5) AS BIGINT) AS qtr FROM stl),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |        CAST(sum(qr) AS BIGINT) AS sr, CAST(sum(qr * qr) AS BIGINT) AS srr,
           |        CAST(sum(qsr) AS BIGINT) AS ss, CAST(sum(qsr * qsr) AS BIGINT) AS sss,
           |        CAST(sum(qtr) AS BIGINT) AS st, CAST(sum(qtr * qtr) AS BIGINT) AS stt
           |      FROM z)
           |SELECT n AS n_days,
           |  CASE WHEN n * sss - ss * ss = 0 THEN 0.0
           |       ELSE greatest(0.0, 1.0 - CAST(n * srr - sr * sr AS DOUBLE)
           |              / CAST(n * sss - ss * ss AS DOUBLE)) END AS seasonal_strength,
           |  CASE WHEN n * stt - st * st = 0 THEN 0.0
           |       ELSE greatest(0.0, 1.0 - CAST(n * srr - sr * sr AS DOUBLE)
           |              / CAST(n * stt - st * st AS DOUBLE)) END AS trend_strength
           |FROM a""".stripMargin))

  /** D15 (beyond reference): one-way ANOVA — does the grouping key
    * explain the metric? F = (SS_between/(k−1)) / (SS_within/(N−k)) over
    * events.value grouped by user, the k-group generalization of [[a22]]'s
    * two-sample t. Sums of squares come from the algebraic identities
    * (SS_total = Σx² − S²/N; SS_between = Σ_u S_u²/n_u − S²/N) over exact
    * DECIMAL sums; the one order-sensitive reduction — Σ_u S_u²/n_u over
    * the group domain — quantizes each per-group term to 1e-6 first (the
    * d2 discipline), making the fold an exact BIGINT sum. One scan + one
    * group-domain aggregate at any scale.
    */
  /** Public DataFrame-in API (see graft.api.Graft): the ANOVA itself,
    * over any (`groupCol`, `valueCol`) pairing.
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val perGroup = df.groupBy(groupCol)
      .agg(count(lit(1)).as("nu"), sum(dec(col(valueCol))).cast("double").as("su"))
    val g = perGroup.agg(count(lit(1)).as("k"),
      sum(floor(col("su") * col("su") / col("nu") * 1e6 + 0.5).cast("long")).as("qb"))
    val tot = df.agg(count(lit(1)).as("n"),
      sum(dec(col(valueCol))).cast("double").as("sv"),
      sum(dec(col(valueCol)) * dec(col(valueCol))).cast("double").as("sq"))
    val j = g.crossJoin(broadcast(tot))
    val corr = col("sv") * col("sv") / col("n")
    val ssb = col("qb").cast("double") / 1e6 - corr
    val sst = col("sq") - corr
    val ssw = sst - ssb
    j.select(col("k"), col("n"), ssb.as("ss_between"), ssw.as("ss_within"),
      ((ssb / (col("k") - 1)) / (ssw / (col("n") - col("k")))).as("f_stat"))
  }

  val d15: GraftQuery = GraftQuery(
    "d15_anova_f",
    (s, d) => anovaF(Tables.events(s, d), "user_id", "value"),
    Some("""WITH pu AS (SELECT user_id, count(*) AS nu,
           |        CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS su
           |      FROM events GROUP BY 1),
           |g AS (SELECT CAST(count(*) AS BIGINT) AS k,
           |        CAST(sum(CAST(floor(su * su / nu * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS qb
           |      FROM pu),
           |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |        CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv,
           |        CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sq
           |      FROM events)
           |SELECT k, n,
           |  CAST(qb AS DOUBLE) / 1e6 - sv * sv / n AS ss_between,
           |  (sq - sv * sv / n) - (CAST(qb AS DOUBLE) / 1e6 - sv * sv / n) AS ss_within,
           |  ((CAST(qb AS DOUBLE) / 1e6 - sv * sv / n) / (k - 1))
           |    / (((sq - sv * sv / n) - (CAST(qb AS DOUBLE) / 1e6 - sv * sv / n)) / (n - k)) AS f_stat
           |FROM g, t""".stripMargin))

  /** D16 (beyond reference): Mann-Whitney U rank-sum test between the
    * 'click' and 'view' value populations — the nonparametric partner of
    * [[a22]]'s Welch t (median shift without normality) and the decision
    * companion to [[d3]]'s KS distance. Ranks are computed on the
    * *distinct-value* domain (the d3 discipline): group to per-value
    * counts, one ordered cumulative window over that bounded domain, so
    * no global row sort at any scale. Determinism is engineered through
    * the doubled-rank identity: 2·avgrank(v) = 2·cum_before + t_v + 1 is
    * an INTEGER, so the rank sum R1×2 = Σ n1_v·(2·cb + t_v + 1) and the
    * tie term Σ(t³−t) are exact BIGINT folds — order cannot perturb a
    * bit — and the z statistic is a handful of IEEE ops quantized to 9 dp
    * (sqrt is correctly rounded; the quantize guards the libm-free rest).
    * Count magnitudes: n1_v·3n inside the fold stays in BIGINT to ~1e9
    * rows per side; lift to DECIMAL(38,0) beyond (the w20 note).
    */
  /** Public DataFrame-in API (see graft.api.Graft): the U test itself —
    * `isFirstCol` is a boolean column marking group-1 membership.
    */
  def mannWhitneyU(df: DataFrame, valueCol: String, isFirstCol: String): DataFrame = {
    val p = df.select(col(valueCol).as("v"), col(isFirstCol).as("g1"))
    val dd = p.groupBy("v").agg(
      count(when(col("g1"), 1)).as("n1v"),
      count(when(!col("g1"), 1)).as("n2v"),
      count(lit(1)).as("tv"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    val c = dd.withColumn("cb", coalesce(sum("tv").over(w), lit(0L)))
    val t = c.agg(
      sum("n1v").as("n1"), sum("n2v").as("n2"), sum("tv").as("n"),
      sum(col("n1v") * (lit(2L) * col("cb") + col("tv") + lit(1L))).as("r1x2"),
      sum(col("tv") * col("tv") * col("tv") - col("tv")).as("ties"))
    val u1x2 = col("r1x2") - col("n1") * (col("n1") + lit(1L))
    val sigma2 = (col("n1") * col("n2") / lit(12.0)) *
      ((col("n") + lit(1L)) - col("ties") / (col("n") * (col("n") - lit(1.0))))
    t.select(col("n1"), col("n2"),
      (u1x2.cast("double") / 2.0).as("u1"),
      when(sigma2 > 0,
        floor((u1x2 - col("n1") * col("n2")).cast("double") /
          (lit(2.0) * sqrt(sigma2)) * 1e9 + 0.5).cast("double") / 1e9).as("z"))
  }

  val d16: GraftQuery = GraftQuery(
    "d16_mann_whitney",
    (s, d) => mannWhitneyU(
      Tables.events(s, d).filter(col("event_type").isin("click", "view"))
        .withColumn("g1", col("event_type") === "click"),
      "value", "g1"),
    Some("""WITH p AS (SELECT value AS v, event_type = 'click' AS g1 FROM events
           |           WHERE event_type IN ('click', 'view')),
           |d AS (SELECT v, count(*) FILTER (WHERE g1) AS n1v,
           |             count(*) FILTER (WHERE NOT g1) AS n2v,
           |             count(*) AS tv FROM p GROUP BY v),
           |c AS (SELECT *, coalesce(CAST(sum(tv) OVER (ORDER BY v
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
           |      FROM d),
           |t AS (SELECT CAST(sum(n1v) AS BIGINT) AS n1, CAST(sum(n2v) AS BIGINT) AS n2,
           |             CAST(sum(tv) AS BIGINT) AS n,
           |             CAST(sum(n1v * (2 * cb + tv + 1)) AS BIGINT) AS r1x2,
           |             CAST(sum(tv * tv * tv - tv) AS BIGINT) AS ties FROM c)
           |SELECT n1, n2,
           |  CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
           |  CASE WHEN (n1 * n2 / 12.0) * ((n + 1) - ties / (n * (n - 1.0))) > 0
           |       THEN floor(CAST(r1x2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
           |              / (2.0 * sqrt((n1 * n2 / 12.0)
           |                  * ((n + 1) - ties / (n * (n - 1.0)))))
           |              * 1e9 + 0.5) / 1e9 END AS z
           |FROM t""".stripMargin))

  /** D17 (beyond reference): consolidated drift report — ONE call, one
    * long-format row per headline statistic, the data-quality dashboard
    * the individual monitors feed: value_psi ([[d2]]'s 10-bin numeric
    * PSI), ks_stat ([[d3]]'s two-sample distance), type_chi2 ([[d4]]'s
    * categorical-mix statistic), embedding_psi ([[VectorOps.embeddingDrift]]'s
    * vector-space PSI) — the d11 consolidation pattern applied to
    * monitoring. Each headline that sums per-bin terms quantizes every
    * term to an integer (floor(t·1e9 + 0.5) as BIGINT) BEFORE the sum, so
    * the fold is exact integer arithmetic and bin order cannot perturb a
    * bit (the d11 ECE discipline); ks is an order-free max of integer
    * ratios. Cost: the four underlying scans, each one pass; nothing new
    * at scale beyond its components.
    */
  /** Public DataFrame-in API (see graft.api.Graft): the report itself.
    * `events` needs (event_type, value, ts); `embeddings` needs
    * (embedding, is_ref: boolean). Pass embeddings = null to skip the
    * vector headline.
    */
  def driftReport(events: DataFrame, embeddings: DataFrame): DataFrame = {
    def sumQuantized(df: DataFrame, termCol: String, name: String): DataFrame =
      df.agg((sum(floor(col(termCol) * 1e9 + 0.5).cast("long")).cast("double") / 1e9)
        .as("value")).select(lit(name).as("metric"), col("value"))
    // value PSI: the d2 pipeline, terms left raw here and quantized by the sum
    val e = events.select(col("value"), unix_micros(col("ts")).as("us"))
    val bounds = e.agg(
      min("value").as("vmin"), max("value").as("vmax"),
      expr("(min(us) + max(us)) div 2").as("mid_us"))
    val binned = e.crossJoin(broadcast(bounds))
      .select(
        least(lit(9), floor((col("value") - col("vmin")) /
          ((col("vmax") - col("vmin")) / 10.0))).cast("int").as("bin"),
        (col("us") < col("mid_us")).as("is_ref"))
    val agg = binned.groupBy("bin").agg(
      count(when(col("is_ref"), 1)).as("ref_n"),
      count(when(!col("is_ref"), 1)).as("cur_n"))
    val spine = events.sparkSession.range(0, 10)
      .select(col("id").cast("int").as("bin"))
    val fbins = spine.join(agg, Seq("bin"), "left")
      .na.fill(0L, Seq("ref_n", "cur_n"))
      .withColumn("rt", sum("ref_n").over(Window.partitionBy()))
      .withColumn("ct", sum("cur_n").over(Window.partitionBy()))
    val pr = (col("ref_n") + 0.5) / (col("rt") + 5.0)
    val pc = (col("cur_n") + 0.5) / (col("ct") + 5.0)
    val psi = sumQuantized(
      fbins.select(((pc - pr) * log(pc / pr)).as("t")), "t", "value_psi")
    // KS: the d3 pipeline's headline (click vs error), order-free max
    val sdf = events.filter(col("event_type").isin("click", "error"))
      .select(col("value"), (col("event_type") === "click").as("isa"))
    val dd = sdf.groupBy("value").agg(
      count(when(col("isa"), 1)).as("na_v"),
      count(when(!col("isa"), 1)).as("nb_v"))
    val wv = Window.orderBy("value")
    val cdf = dd.select(
      sum("na_v").over(wv).as("cum_a"), sum("nb_v").over(wv).as("cum_b"))
    val tot = dd.agg(sum("na_v").as("n_a"), sum("nb_v").as("n_b"))
    val ks = cdf.crossJoin(broadcast(tot))
      .agg(max(abs(
        col("cum_a").cast("double") / col("n_a") -
          col("cum_b").cast("double") / col("n_b"))).as("value"))
      .select(lit("ks_stat").as("metric"), col("value"))
    // categorical chi2 + embedding PSI: reuse the public kernels
    val chi = sumQuantized(
      chiSquareDrift(events, "event_type"), "chi2_term", "type_chi2")
    val parts = Seq(psi, ks, chi) ++ Option(embeddings).map(emb =>
      sumQuantized(VectorOps.embeddingDrift(emb, "is_ref"),
        "psi_term", "embedding_psi"))
    parts.reduce(_ unionByName _)
  }

  val d17: GraftQuery = GraftQuery(
    "d17_drift_report",
    (s, d) => driftReport(Tables.events(s, d),
      Tables.embeddings(s, d).withColumn("is_ref", expr("vec_id % 2 = 0"))),
    Some("""WITH e1 AS (SELECT value, epoch_us(ts) AS us FROM events),
           |b1 AS (SELECT min(value) AS vmin, max(value) AS vmax,
           |         (min(us) + max(us)) // 2 AS mid_us FROM e1),
           |e1b AS (SELECT CAST(least(9, floor((value - b1.vmin) / ((b1.vmax - b1.vmin) / 10.0))) AS INT) AS bin,
           |              us < b1.mid_us AS is_ref FROM e1, b1),
           |a1 AS (SELECT bin, count(*) FILTER (WHERE is_ref) AS ref_n,
           |              count(*) FILTER (WHERE NOT is_ref) AS cur_n FROM e1b GROUP BY bin),
           |sp1 AS (SELECT CAST(unnest(range(10)) AS INT) AS bin),
           |f1 AS (SELECT sp1.bin, coalesce(a1.ref_n, 0) AS ref_n, coalesce(a1.cur_n, 0) AS cur_n
           |       FROM sp1 LEFT JOIN a1 USING (bin)),
           |t1 AS (SELECT *, sum(ref_n) OVER () AS rt, sum(cur_n) OVER () AS ct FROM f1),
           |psi AS (SELECT CAST(sum(CAST(floor(
           |          ((cur_n + 0.5) / (ct + 5.0) - (ref_n + 0.5) / (rt + 5.0))
           |            * ln(((cur_n + 0.5) / (ct + 5.0)) / ((ref_n + 0.5) / (rt + 5.0)))
           |          * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS value FROM t1),
           |s2 AS (SELECT value, event_type = 'click' AS isa FROM events
           |       WHERE event_type IN ('click', 'error')),
           |d2_ AS (SELECT value, count(*) FILTER (WHERE isa) AS na_v,
           |              count(*) FILTER (WHERE NOT isa) AS nb_v FROM s2 GROUP BY value),
           |c2 AS (SELECT sum(na_v) OVER (ORDER BY value) AS cum_a,
           |              sum(nb_v) OVER (ORDER BY value) AS cum_b FROM d2_),
           |t2 AS (SELECT CAST(sum(na_v) AS BIGINT) AS n_a,
           |              CAST(sum(nb_v) AS BIGINT) AS n_b FROM d2_),
           |ks AS (SELECT max(abs(CAST(cum_a AS DOUBLE) / t2.n_a
           |              - CAST(cum_b AS DOUBLE) / t2.n_b)) AS value FROM c2, t2),
           |e3 AS (SELECT event_type, epoch_us(ts) AS us FROM events),
           |b3 AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM e3),
           |o3 AS (SELECT event_type,
           |         count(*) FILTER (WHERE us < b3.mid_us) AS ref_n,
           |         count(*) FILTER (WHERE us >= b3.mid_us) AS cur_n
           |       FROM e3, b3 GROUP BY 1),
           |t3 AS (SELECT *, sum(ref_n) OVER () AS rt, sum(cur_n) OVER () AS ct FROM o3),
           |chi AS (SELECT CAST(sum(CAST(floor((
           |          (ref_n - CAST(ref_n + cur_n AS DOUBLE) * CAST(rt AS DOUBLE) / CAST(rt + ct AS DOUBLE))
           |            * (ref_n - CAST(ref_n + cur_n AS DOUBLE) * CAST(rt AS DOUBLE) / CAST(rt + ct AS DOUBLE))
           |            / (CAST(ref_n + cur_n AS DOUBLE) * CAST(rt AS DOUBLE) / CAST(rt + ct AS DOUBLE))
           |          + (cur_n - CAST(ref_n + cur_n AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(rt + ct AS DOUBLE))
           |            * (cur_n - CAST(ref_n + cur_n AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(rt + ct AS DOUBLE))
           |            / (CAST(ref_n + cur_n AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(rt + ct AS DOUBLE))
           |          ) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS value FROM t3),
           |v4 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |hp4 AS (SELECT h, list_transform(generate_series(1, 64),
           |    i -> CAST('0x' || substr(md5('v27:' || h || ':' || (i - 1)), 1, 15) AS BIGINT)
           |         / 576460752303423488.0 - 1.0) AS w
           |  FROM generate_series(0, 5) t(h)),
           |dots4 AS (SELECT vec_id, h,
           |    list_reduce(list_transform(generate_series(1, 64), i -> e[i] * w[i]),
           |      (a, b) -> a + b) AS dot
           |  FROM v4 CROSS JOIN hp4),
           |sg4 AS (SELECT vec_id,
           |    CAST(sum(CASE WHEN dot > 0 THEN 1 << h ELSE 0 END) AS INT) AS sig
           |  FROM dots4 GROUP BY vec_id),
           |a4 AS (SELECT sig, count(*) FILTER (WHERE vec_id % 2 = 0) AS ref_n,
           |              count(*) FILTER (WHERE vec_id % 2 <> 0) AS cur_n
           |       FROM sg4 GROUP BY sig),
           |sp4 AS (SELECT CAST(unnest(range(64)) AS INT) AS sig),
           |f4 AS (SELECT sp4.sig, coalesce(a4.ref_n, 0) AS ref_n, coalesce(a4.cur_n, 0) AS cur_n
           |       FROM sp4 LEFT JOIN a4 USING (sig)),
           |t4 AS (SELECT *, sum(ref_n) OVER () AS rt, sum(cur_n) OVER () AS ct FROM f4),
           |epsi AS (SELECT CAST(sum(CAST(floor(
           |          ((cur_n + 0.5) / (ct + 32.0) - (ref_n + 0.5) / (rt + 32.0))
           |            * ln(((cur_n + 0.5) / (ct + 32.0)) / ((ref_n + 0.5) / (rt + 32.0)))
           |          * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS value FROM t4)
           |SELECT 'value_psi' AS metric, value FROM psi
           |UNION ALL SELECT 'ks_stat', value FROM ks
           |UNION ALL SELECT 'type_chi2', value FROM chi
           |UNION ALL SELECT 'embedding_psi', value FROM epsi""".stripMargin))

  /** D18 (beyond reference): CUPED variance reduction — the standard
    * experiment-sensitivity technique (Deng et al. 2013): use each user's
    * PRE-period metric as a control covariate for their post-period
    * metric; the adjusted metric Y − θ(X − X̄) has variance
    * var(Y)·(1 − ρ²), so the report (θ, var_post, var_cuped, reduction)
    * quantifies how much smaller an experiment this telemetry supports —
    * the multiplier that feeds straight into [[d12]]'s MDE. Pre/post =
    * first/second half of the time range per user (users present in both
    * halves). Determinism: per-user means come from exact DECIMAL sums
    * and are quantized to 1e-4 integers, so ALL five moment sums are
    * exact BIGINT folds (order-free); θ/ρ² are then a fixed IEEE
    * expression over those integer scalars, 9-dp-quantized. Magnitudes:
    * q² sums stay in BIGINT to ~1e6 users at this value range — lift the
    * quantized moments to DECIMAL(38,0) beyond. Shape: one scan, one
    * user-keyed aggregate, one single-row reduce.
    */
  val d18: GraftQuery = GraftQuery(
    "d18_cuped_reduction",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("value"), unix_micros(col("ts")).as("us"))
      val mid = e.agg(expr("(min(us) + max(us)) div 2").as("mid_us"))
      val pu = e.crossJoin(broadcast(mid)).groupBy("user_id").agg(
        count(when(col("us") < col("mid_us"), 1)).as("n_pre"),
        sum(when(col("us") < col("mid_us"), dec(col("value")))).as("s_pre"),
        count(when(col("us") >= col("mid_us"), 1)).as("n_post"),
        sum(when(col("us") >= col("mid_us"), dec(col("value")))).as("s_post"))
        .filter(col("n_pre") > 0 && col("n_post") > 0)
        .select(
          floor(col("s_pre").cast("double") / col("n_pre") * 1e4 + 0.5)
            .cast("long").as("x"),
          floor(col("s_post").cast("double") / col("n_post") * 1e4 + 0.5)
            .cast("long").as("y"))
      val t = pu.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val n = col("n").cast("double")
      val cxy = n * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
      val cxx = n * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
      val cyy = n * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
      def q9(c: Column) = floor(c * 1e9 + 0.5).cast("double") / 1e9
      t.select(col("n").as("n_users"),
        q9(cxy / cxx).as("theta"),
        q9(cyy / (n * (n - 1.0)) / 1e8).as("var_post"),
        q9(cyy / (n * (n - 1.0)) / 1e8 * (lit(1.0) - cxy * cxy / (cxx * cyy)))
          .as("var_cuped"),
        q9(cxy * cxy / (cxx * cyy)).as("reduction"))
    },
    Some("""WITH e AS (SELECT user_id, value, epoch_us(ts) AS us FROM events),
           |b AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM e),
           |pu AS (SELECT user_id,
           |         count(*) FILTER (WHERE us < b.mid_us) AS n_pre,
           |         sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE us < b.mid_us) AS s_pre,
           |         count(*) FILTER (WHERE us >= b.mid_us) AS n_post,
           |         sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE us >= b.mid_us) AS s_post
           |       FROM e, b GROUP BY 1),
           |xy AS (SELECT CAST(floor(CAST(s_pre AS DOUBLE) / n_pre * 1e4 + 0.5) AS BIGINT) AS x,
           |              CAST(floor(CAST(s_post AS DOUBLE) / n_post * 1e4 + 0.5) AS BIGINT) AS y
           |       FROM pu WHERE n_pre > 0 AND n_post > 0),
           |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |        CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
           |        CAST(sum(x * y) AS BIGINT) AS sxy FROM xy),
           |c AS (SELECT n,
           |        CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
           |        CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx,
           |        CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy
           |      FROM t)
           |SELECT n AS n_users,
           |  floor(cxy / cxx * 1e9 + 0.5) / 1e9 AS theta,
           |  floor(cyy / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e8 * 1e9 + 0.5) / 1e9 AS var_post,
           |  floor(cyy / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e8
           |    * (1.0 - cxy * cxy / (cxx * cyy)) * 1e9 + 0.5) / 1e9 AS var_cuped,
           |  floor(cxy * cxy / (cxx * cyy) * 1e9 + 0.5) / 1e9 AS reduction
           |FROM c""".stripMargin))

  /** D19 (beyond reference): two-proportion z-test — THE most-used A/B
    * statistic (conversion rate A vs B): here, the click→purchase rate
    * of users whose first event landed in the first half of the window
    * vs the second (a natural quasi-experiment on this data; swap any
    * boolean assignment in). z = (p1 − p2)/√(p̂(1−p̂)(1/n1 + 1/n2)) with
    * pooled p̂ — completes the testing family: [[a22]] compares means,
    * [[d16]] distributions, this compares PROPORTIONS. Everything is a
    * ratio of integer counts combined in one fixed IEEE expression
    * (sqrt is correctly rounded), quantized at 9 dp; one scan + one
    * user-keyed aggregate + one single-row reduce.
    */
  val d19: GraftQuery = GraftQuery(
    "d19_two_proportion_z",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val mid = e.agg(expr("(min(us) + max(us)) div 2").as("mid_us"))
      val pu = e.crossJoin(broadcast(mid)).groupBy("user_id").agg(
        (min("us") < first("mid_us")).as("grp_a"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("converted"))
      val t = pu.agg(
        count(when(col("grp_a"), 1)).as("n1"),
        sum(when(col("grp_a"), col("converted"))).as("c1"),
        count(when(!col("grp_a"), 1)).as("n2"),
        sum(when(!col("grp_a"), col("converted"))).as("c2"))
      val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
      val p1 = col("c1").cast("double") / n1
      val p2 = col("c2").cast("double") / n2
      val pp = (col("c1") + col("c2")).cast("double") / (col("n1") + col("n2")).cast("double")
      val se = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n2))
      t.select(col("n1"), col("c1"), col("n2"), col("c2"),
        (floor(p1 * 1e9 + 0.5).cast("double") / 1e9).as("p1"),
        (floor(p2 * 1e9 + 0.5).cast("double") / 1e9).as("p2"),
        when(se > 0, floor((p1 - p2) / se * 1e9 + 0.5).cast("double") / 1e9).as("z"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
           |b AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM e),
           |pu AS (SELECT user_id, min(us) < any_value(b.mid_us) AS grp_a,
           |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
           |       FROM e, b GROUP BY 1),
           |t AS (SELECT CAST(count(*) FILTER (WHERE grp_a) AS BIGINT) AS n1,
           |        CAST(sum(converted) FILTER (WHERE grp_a) AS BIGINT) AS c1,
           |        CAST(count(*) FILTER (WHERE NOT grp_a) AS BIGINT) AS n2,
           |        CAST(sum(converted) FILTER (WHERE NOT grp_a) AS BIGINT) AS c2 FROM pu)
           |SELECT n1, c1, n2, c2,
           |  floor(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) * 1e9 + 0.5) / 1e9 AS p1,
           |  floor(CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) * 1e9 + 0.5) / 1e9 AS p2,
           |  CASE WHEN sqrt(CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
           |         * (1.0 - CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
           |         * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) > 0
           |       THEN floor((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           |              - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           |         / sqrt(CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
           |             * (1.0 - CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
           |             * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
           |         * 1e9 + 0.5) / 1e9 END AS z
           |FROM t""".stripMargin))

  /** D20 (beyond reference): k-anonymity audit — for each combination of
    * the quasi-identifier columns (here nation × market segment on the
    * customer dim), the group size and whether it violates k = 5: the
    * data-governance check run before any dataset leaves the boundary
    * (a QI group smaller than k re-identifies its members by linkage).
    * Complements [[graft.operators.TextOps]]'s x22 PII redaction: x22
    * scrubs direct identifiers, this measures INDIRECT identifiability.
    * One hash aggregate on the QI key — the d5 shape; integer counts
    * only.
    */
  /** Public DataFrame-in API (see graft.api.Graft): the audit itself
    * over any table and QI column list.
    */
  def kAnonymityAudit(df: DataFrame, qi: Seq[String], k: Int = 5): DataFrame = {
    require(qi.nonEmpty && k >= 2, "kAnonymityAudit: QI columns and k >= 2")
    df.groupBy(qi.map(col): _*)
      .agg(count(lit(1)).as("group_n"))
      .withColumn("at_risk", col("group_n") < k)
  }

  val d20: GraftQuery = GraftQuery(
    "d20_k_anonymity",
    (s, d) => kAnonymityAudit(
      Tables.customer(s, d), Seq("c_nationkey", "c_mktsegment"), 5),
    Some("""SELECT c_nationkey, c_mktsegment, count(*) AS group_n,
           |count(*) < 5 AS at_risk
           |FROM customer GROUP BY 1, 2""".stripMargin))

  /** D21 (beyond reference): differentially-private count release —
    * per-event-type counts with Laplace(1/ε) noise, ε = 1 (sensitivity 1
    * for a count). The twist that makes it ORACLE-CHECKABLE: the noise
    * draw is a keyed md5 uniform (the [[graft.functions.HashDraw]]
    * contract, u = first 60 md5 bits / 2^60) pushed through the exact
    * inverse Laplace CDF −(1/ε)·sgn(u−½)·ln(1−2|u−½|) — deterministic
    * across engines, so the released values hash-match while the
    * MECHANISM (noise magnitude distribution) is the real one. A
    * production release swaps the keyed draw for a secret-seeded one —
    * one line — and everything else stands. ln is quantized at 9 dp (the
    * d2 discipline). One aggregate over the category domain.
    */
  val d21: GraftQuery = GraftQuery(
    "d21_dp_release",
    (s, d) => {
      val counts = Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val u = expr("CAST(conv(substring(md5(concat('d21:', event_type)), 1, 15), 16, 10) AS BIGINT)")
        .cast("double") / lit(1152921504606846976.0)
      val v = u - lit(0.5)
      val sgn = when(v < 0, lit(-1.0)).otherwise(lit(1.0))
      val noise = floor(-sgn * log(lit(1.0) - lit(2.0) * abs(v)) * 1e9 + 0.5)
        .cast("double") / 1e9
      counts.select(col("event_type"),
        (col("n") + noise).as("noisy_n"), lit(1.0).as("epsilon"))
    },
    Some("""WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
           |u AS (SELECT event_type, n,
           |        CAST('0x' || substr(md5('d21:' || event_type), 1, 15) AS BIGINT)
           |          / 1152921504606846976.0 - 0.5 AS v FROM c)
           |SELECT event_type,
           |  n + floor(-(CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END)
           |        * ln(1.0 - 2.0 * abs(v)) * 1e9 + 0.5) / 1e9 AS noisy_n,
           |  1.0 AS epsilon
           |FROM u""".stripMargin))

  /** A23 (beyond reference): KMV set-overlap estimation — for every pair of
    * event types, the estimated Jaccard of their user sets from bottom-k
    * sketches next to the exact value, the audience-overlap question
    * ("how much do these segments share?") answered WITHOUT holding the
    * sets. The sketch side is the scale path: [[graft.plans.BottomKSketchAgg]]
    * (`graft_bottom_k`) keeps O(k) state per type through map-side partial
    * aggregation — at 100 TB each type's billion-user set flows through the
    * shuffle as k=64 longs — and the pair stage is array math over T×k
    * values (T = type-domain size). J ≈ |bottomK(S_A∪S_B) ∩ S_A ∩ S_B| / kk
    * (Beyer et al. SIGMOD'07), with kk = |bottomK(union)| so small sets
    * degrade to exact. The exact columns (a distinct self-join, affordable
    * at verify scale) make the query its own accuracy eval, the v10 recall
    * pattern. Determinism: the hash is the keyed-md5 60-bit draw (HashDraw
    * contract), so the oracle replays the sketch bit-for-bit.
    */
  /** Public DataFrame-in API (see graft.api.Graft): pairwise KMV overlap of
    * `idCol` sets across `setCol` groups, est + exact eval columns.
    */
  def kmvOverlap(df: DataFrame, setCol: String, idCol: String, k: Int = 64): DataFrame = {
    require(k >= 1, "kmvOverlap: k must be >= 1")
    graft.plans.GraftExtensions.register(df.sparkSession)
    val tu = df.select(col(setCol).as("g"), col(idCol).as("id")).distinct()
    val h = expr("CAST(conv(substring(md5(concat('a23:', id)), 1, 15), 16, 10) AS BIGINT)")
    val sk = tu.select(col("g"), h.as("h"))
      .groupBy("g").agg(expr(s"graft_bottom_k(h, $k)").as("sk"))
    val cnt = tu.groupBy("g").agg(count(lit(1)).as("n"))
    val ix = tu.as("a").join(tu.as("b"),
        col("a.id") === col("b.id") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("type_a"), col("b.g").as("type_b"))
      .agg(count(lit(1)).as("inter"))
    sk.as("a").join(sk.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("type_a"), col("b.g").as("type_b"),
        col("a.sk").as("sa"), col("b.sk").as("sb"))
      .withColumn("unionk", expr(s"slice(array_sort(array_union(sa, sb)), 1, $k)"))
      .withColumn("kk", size(col("unionk")).cast("long"))
      .withColumn("matches",
        size(expr("array_intersect(unionk, array_intersect(sa, sb))")).cast("long"))
      .join(ix, Seq("type_a", "type_b"), "left")
      .join(broadcast(cnt.select(col("g").as("type_a"), col("n").as("na"))), "type_a")
      .join(broadcast(cnt.select(col("g").as("type_b"), col("n").as("nb"))), "type_b")
      .select(col("type_a"), col("type_b"), col("kk"), col("matches"),
        (col("matches").cast("double") / col("kk")).as("est_jaccard"),
        (coalesce(col("inter"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("inter"), lit(0L)))).as("exact_jaccard"))
  }

  val a23: GraftQuery = GraftQuery(
    "a23_kmv_set_overlap",
    (s, d) => kmvOverlap(Tables.events(s, d), "event_type", "user_id", 64),
    Some("""WITH tu AS (SELECT DISTINCT event_type AS g, user_id AS id FROM events),
           |h AS (SELECT g, CAST('0x' || substr(md5('a23:' || id), 1, 15) AS BIGINT) AS h FROM tu),
           |sk AS (SELECT g, list_sort(list_distinct(list(h)))[1:64] AS sk FROM h GROUP BY g),
           |cnt AS (SELECT g, count(*) AS n FROM tu GROUP BY g),
           |ix AS (SELECT a.g AS type_a, b.g AS type_b, count(*) AS inter
           |       FROM tu a JOIN tu b ON a.id = b.id AND a.g < b.g GROUP BY 1, 2),
           |p AS (SELECT a.g AS type_a, b.g AS type_b, a.sk AS sa, b.sk AS sb
           |      FROM sk a JOIN sk b ON a.g < b.g),
           |u AS (SELECT type_a, type_b, sa, sb,
           |        list_sort(list_distinct(list_concat(sa, sb)))[1:64] AS unionk FROM p),
           |e AS (SELECT type_a, type_b, CAST(len(unionk) AS BIGINT) AS kk,
           |        CAST(len(list_intersect(unionk, list_intersect(sa, sb))) AS BIGINT) AS matches
           |      FROM u)
           |SELECT e.type_a, e.type_b, kk, matches,
           |  CAST(matches AS DOUBLE) / kk AS est_jaccard,
           |  CAST(coalesce(inter, 0) AS DOUBLE) / (ca.n + cb.n - coalesce(inter, 0)) AS exact_jaccard
           |FROM e
           |LEFT JOIN ix ON ix.type_a = e.type_a AND ix.type_b = e.type_b
           |JOIN cnt ca ON ca.g = e.type_a
           |JOIN cnt cb ON cb.g = e.type_b""".stripMargin))

  /** D22 (beyond reference): mutual information between two categorical
    * columns (documents source × lang) — the field-redundancy audit
    * ("does this metadata column carry signal the other doesn't?") that
    * sits next to the chi-square type check in d17. One row per observed
    * cell with its MI term plus the total; I(X;Y) = Σ p_xy·ln(p_xy/(p_x·p_y))
    * over non-empty cells (empty cells contribute 0 by the 0·ln0 limit).
    * Shape: one cell aggregate + two marginal aggregates (all map-side
    * partial, domain-bounded), marginals broadcast back — no shuffle
    * beyond the group-bys; the global total runs over the CELL domain
    * (|X|·|Y|), not rows. Determinism: each term is ints pushed through
    * one IEEE expression, ln quantized at 1e-9 (the d2 discipline); the
    * TOTAL is a BIGINT sum of the 1e9-scaled integer terms, so fold
    * order cannot perturb it.
    */
  /** Public DataFrame-in API (see graft.api.Graft): per-cell MI table for
    * any two categorical columns.
    */
  def mutualInformation(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("n_xy"))
    val nx = df.groupBy(col(xCol).as("x")).agg(count(lit(1)).as("n_x"))
    val ny = df.groupBy(col(yCol).as("y")).agg(count(lit(1)).as("n_y"))
    val tot = df.agg(count(lit(1)).as("n"))
    cells.join(broadcast(nx), "x").join(broadcast(ny), "y")
      .crossJoin(broadcast(tot))
      .withColumn("term_q", floor((col("n_xy").cast("double") / col("n")) *
        log((col("n_xy").cast("double") * col("n")) /
          (col("n_x").cast("double") * col("n_y"))) * 1e9 + 0.5).cast("long"))
      .withColumn("mi_term", col("term_q").cast("double") / 1e9)
      .withColumn("mi_total",
        sum("term_q").over(Window.partitionBy()).cast("double") / 1e9)
      .select(col("x"), col("y"), col("n_xy"), col("mi_term"), col("mi_total"))
  }

  val d22: GraftQuery = GraftQuery(
    "d22_mutual_information",
    (s, d) => mutualInformation(Tables.documents(s, d), "source", "lang")
      .withColumnRenamed("x", "source").withColumnRenamed("y", "lang"),
    Some("""WITH c AS (SELECT source, lang, count(*) AS n_xy FROM documents GROUP BY 1, 2),
           |nx AS (SELECT source, count(*) AS n_x FROM documents GROUP BY 1),
           |ny AS (SELECT lang, count(*) AS n_y FROM documents GROUP BY 1),
           |t AS (SELECT count(*) AS n FROM documents),
           |q AS (SELECT source, lang, n_xy,
           |        CAST(floor((n_xy::DOUBLE / n) * ln((n_xy::DOUBLE * n) / (n_x::DOUBLE * n_y))
           |          * 1e9 + 0.5) AS BIGINT) AS term_q
           |      FROM c JOIN nx USING (source) JOIN ny USING (lang), t)
           |SELECT source, lang, n_xy, term_q / 1e9 AS mi_term,
           |       CAST(sum(term_q) OVER () AS BIGINT) / 1e9 AS mi_total
           |FROM q""".stripMargin))

  /** D23 (beyond reference): isotonic calibration curve — equal-width score
    * bins with raw positive rate AND the PAVA (pool-adjacent-violators)
    * monotone fit, the model-calibration step between raw scores and
    * decisions (Zadrozny & Elkan KDD'02). Here: does `value` rank the
    * 'click' event type?
    *
    * Shape: the bin aggregate is one scan + one 16-row hash aggregate; the
    * PAVA itself runs in a typed flatMapGroups kernel over those 16 rows
    * (bounded domain — the kernel input is the AGGREGATE, never raw rows,
    * so at 100 TB the sequential step stays O(bins)). Determinism: pool
    * merging compares means as cross-multiplied BIGINTs (pp·n ≥ pos·pn) —
    * no float ever decides a merge — and each fitted value is one
    * int-ratio division. The oracle replays the fit via the minimax
    * identity fitted_i = max_{j≤i} min_{k≥i} wmean(j..k): IEEE rounding is
    * monotone, so the max-min over correctly-rounded window means equals
    * the correctly-rounded pool mean bit-for-bit.
    */
  /** Public DataFrame-in API (see graft.api.Graft): PAVA over a binned
    * (bin, n, pos) table; integer-exact pool merges, int-ratio fits.
    */
  def pavaFit(agg: DataFrame): DataFrame = {
    val s = agg.sparkSession
    import s.implicits._
    agg.select(col("bin").cast("int").as("bin"), col("n"), col("pos"))
      .as[CalBin].groupByKey(_ => 0).flatMapGroups { (_, it) =>
        val bins = it.toVector.sortBy(_.bin)
        // stack of pools: (pos, n, members); members kept in bin order
        val st = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, List[CalBin])]
        for (b <- bins) {
          var pos = b.pos; var n = b.n; var mem = List(b)
          while (st.nonEmpty && st.last._1 * n >= pos * st.last._2) {
            val (pp, pn, pm) = st.remove(st.size - 1)
            pos += pp; n += pn; mem = pm ::: mem
          }
          st += ((pos, n, mem))
        }
        st.iterator.flatMap { case (pos, n, mem) =>
          val f = pos.toDouble / n
          mem.map(b => CalFit(b.bin, b.n, b.pos, b.pos.toDouble / b.n, f))
        }
      }.toDF()
  }

  val d23: GraftQuery = GraftQuery(
    "d23_isotonic_calibration",
    (s, d) => {
      val ev = Tables.events(s, d)
      val bounds = ev.agg(min("value").as("vmin"), max("value").as("vmax"))
      val agg = ev.crossJoin(broadcast(bounds))
        .select(least(lit(15), floor((col("value") - col("vmin")) /
            ((col("vmax") - col("vmin")) / 16.0))).cast("int").as("bin"),
          (col("event_type") === "click").as("p"))
        .groupBy("bin").agg(count(lit(1)).as("n"), count(when(col("p"), 1)).as("pos"))
      pavaFit(agg)
    },
    Some("""WITH b0 AS (SELECT min(value) AS vmin, max(value) AS vmax FROM events),
           |e AS (SELECT CAST(least(15, floor((value - vmin) / ((vmax - vmin) / 16.0))) AS INT) AS bin,
           |             event_type = 'click' AS p FROM events, b0),
           |b AS (SELECT bin, count(*) AS n, count(*) FILTER (WHERE p) AS pos FROM e GROUP BY bin),
           |w AS (SELECT i.bin AS i, j.bin AS j, k.bin AS k,
           |        (SELECT CAST(sum(t.pos) AS DOUBLE) / sum(t.n) FROM b t
           |         WHERE t.bin BETWEEN j.bin AND k.bin) AS m
           |      FROM b i, b j, b k WHERE j.bin <= i.bin AND k.bin >= i.bin),
           |mm AS (SELECT i, j, min(m) AS mn FROM w GROUP BY i, j),
           |f AS (SELECT i AS bin, max(mn) AS fitted FROM mm GROUP BY i)
           |SELECT b.bin, b.n, b.pos, CAST(b.pos AS DOUBLE) / b.n AS rate, f.fitted
           |FROM b JOIN f ON f.bin = b.bin""".stripMargin))

  /** D24 (beyond reference): mSPRT always-valid A/B monitor (Johari et al.,
    * "Peeking at A/B Tests", KDD'17) — per 6-hour bucket, the cumulative
    * mean difference between the two arms (user_id parity as the synthetic
    * assignment) and the mixture-SPRT log likelihood ratio
    * ln Λ = ½·ln(V/(V+τ²)) + δ²τ²/(2V(V+τ²)), with V = σ²(1/n_a+1/n_b)
    * and the mixture scale τ² = σ². Unlike the fixed-horizon tests (a22,
    * d19), Λ is valid under CONTINUOUS monitoring: reject whenever
    * Λ > 1/α (α = 0.05) no matter how often you look — the "when could we
    * have stopped" column an experimentation platform renders live.
    *
    * Shape: one bucket aggregate, cumulative sums over the CALENDAR-bounded
    * bucket domain (the m12 CUSUM discipline — exact DECIMAL/BIGINT
    * accumulations, float enters per-row only), one global-moments
    * broadcast. Determinism: δ and V are ratios of exact sums; the one ln
    * call and the ln(20) boundary are both 1e-9-quantized (d2 discipline).
    */
  /** Public DataFrame-in API (see graft.api.Graft): the monitor over any
    * (bucket: long, isa: boolean, value: double) assignment table.
    */
  def msprtMonitor(ev: DataFrame): DataFrame =
    msprtCompose(
      msprtArmAgg(ev),
      ev.agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("s1"),
        sum(dec(col("value")) * dec(col("value"))).cast("double").as("s2")))

  /** The per-bucket arm-sum state of the monitor — the only part whose
    * input grows with data. Works on a streaming DataFrame too (it is a
    * plain groupBy aggregate, O(calendar buckets) of state), which is how
    * [[StreamingOps]]' t26 rides the ingest stream.
    */
  private[operators] def msprtArmAgg(ev: DataFrame): DataFrame =
    ev.groupBy("bucket").agg(
      count(when(col("isa"), 1)).as("na_i"),
      count(when(!col("isa"), 1)).as("nb_i"),
      sum(when(col("isa"), dec(col("value")))).as("sa_i"),
      sum(when(!col("isa"), dec(col("value")))).as("sb_i"))

  /** ln Λ composition over the materialized per-bucket arms + one-row
    * moments — pure bucket-domain window work, shared by the batch and
    * streaming monitors so they are bitwise-identical by construction.
    */
  private[operators] def msprtCompose(byB: DataFrame, g: DataFrame): DataFrame = {
      val w = Window.orderBy("bucket")
      val cum = byB.select(col("bucket"),
        sum("na_i").over(w).as("na"), sum("nb_i").over(w).as("nb"),
        sum("sa_i").over(w).as("sa"), sum("sb_i").over(w).as("sb"))
      val sig = g.select(
        ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)).as("var0"))
      val bound = floor(log(lit(20.0)) * 1e9 + 0.5).cast("double") / 1e9
      cum.crossJoin(broadcast(sig))
        .filter(col("na") > 0 && col("nb") > 0)
        .withColumn("delta",
          col("sa").cast("double") / col("na") - col("sb").cast("double") / col("nb"))
        .withColumn("v",
          col("var0") * (lit(1.0) / col("na") + lit(1.0) / col("nb")))
        .withColumn("ln_lambda", floor((
            lit(0.5) * log(col("v") / (col("v") + col("var0"))) +
            col("delta") * col("delta") * col("var0") /
              (lit(2.0) * col("v") * (col("v") + col("var0")))) * 1e9 + 0.5)
          .cast("double") / 1e9)
        .withColumn("reject", col("ln_lambda") > bound)
        .select(col("bucket"), col("na"), col("nb"), col("delta"),
          col("ln_lambda"), col("reject"))
  }

  val d24: GraftQuery = GraftQuery(
    "d24_msprt_monitor",
    (s, d) => {
      val ev = Tables.events(s, d).select(
        expr(s"unix_micros(ts) div $BucketUs").as("bucket"),
        (col("user_id") % 2 === 0).as("isa"),
        col("value"))
      msprtMonitor(ev)
    },
    Some(s"""WITH e AS (SELECT epoch_us(ts) // $BucketUs AS bucket,
           |              user_id % 2 = 0 AS isa, value FROM events),
           |b AS (SELECT bucket,
           |        count(*) FILTER (WHERE isa) AS na_i,
           |        count(*) FILTER (WHERE NOT isa) AS nb_i,
           |        sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE isa) AS sa_i,
           |        sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE NOT isa) AS sb_i
           |      FROM e GROUP BY bucket),
           |c AS (SELECT bucket,
           |        CAST(sum(na_i) OVER (ORDER BY bucket) AS BIGINT) AS na,
           |        CAST(sum(nb_i) OVER (ORDER BY bucket) AS BIGINT) AS nb,
           |        sum(sa_i) OVER (ORDER BY bucket) AS sa,
           |        sum(sb_i) OVER (ORDER BY bucket) AS sb
           |      FROM b),
           |g AS (SELECT count(*) AS n,
           |        CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1,
           |        CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s2
           |      FROM e),
           |sg AS (SELECT (s2 - s1 * s1 / n) / (n - 1) AS var0 FROM g),
           |k AS (SELECT bucket, na, nb,
           |        CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb AS delta,
           |        var0, var0 * (1.0 / na + 1.0 / nb) AS v
           |      FROM c, sg WHERE na > 0 AND nb > 0)
           |SELECT bucket, na, nb, delta,
           |  floor((0.5 * ln(v / (v + var0)) +
           |    delta * delta * var0 / (2.0 * v * (v + var0))) * 1e9 + 0.5) / 1e9 AS ln_lambda,
           |  floor((0.5 * ln(v / (v + var0)) +
           |    delta * delta * var0 / (2.0 * v * (v + var0))) * 1e9 + 0.5) / 1e9
           |    > floor(ln(20.0) * 1e9 + 0.5) / 1e9 AS reject
           |FROM k""".stripMargin))

  /** D25 (beyond reference): Benjamini-Hochberg FDR correction over a
    * FAMILY of A/B tests — one Welch z per event_type (value, arm =
    * user_id parity), a normal p-value, and the BH step-up: reject all
    * hypotheses ranked at or below k = max{i : p_(i) <= (i/m)·α}. The
    * multiple-testing layer every experimentation platform runs above its
    * per-metric tests ([[a22]]/[[d19]] decide ONE hypothesis; a dashboard
    * of m metrics at per-test α inflates false discoveries ~m-fold).
    *
    * Determinism: z is a ratio of exact DECIMAL sums (a22 discipline);
    * Φ comes from the Abramowitz-Stegun 26.2.17 polynomial written as
    * nested products — identical IEEE expression on both engines — with
    * the one libm exp() quantized at 9 dp inside p (d2 discipline); ranks
    * tiebreak on the test id. Shape: one conditional-aggregate scan to m
    * rows, then windows over the m-row domain (bounded by the metric
    * family, not data) — one pass at 100 TB.
    */
  /** Public DataFrame-in API (see graft.api.Graft): BH over any
    * (test_id: string, z: double) family at level α.
    */
  def bhAdjust(tests: DataFrame, alpha: Double = 0.05): DataFrame = {
    val az = abs(col("z"))
    val k = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = k * (lit(0.319381530) + k * (lit(-0.356563782) +
      k * (lit(1.781477937) + k * (lit(-1.821255978) + k * lit(1.330274429)))))
    val p = lit(2.0) * exp(az * az * lit(-0.5)) * lit(0.3989422804014327) * poly
    val wAll = Window.partitionBy()
    val wr = Window.orderBy(col("p"), col("test_id"))
    tests
      .withColumn("p", floor(p * 1e9 + 0.5).cast("double") / 1e9)
      .withColumn("rank", row_number().over(wr))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("bh_threshold",
        col("rank").cast("double") / col("m").cast("double") * alpha)
      .withColumn("kmax",
        max(when(col("p") <= col("bh_threshold"), col("rank"))).over(wAll))
      .withColumn("reject",
        coalesce(col("rank") <= col("kmax"), lit(false)))
      .select(col("test_id"), col("z"), col("p"), col("rank"),
        col("bh_threshold"), col("reject"))
  }

  val d25: GraftQuery = GraftQuery(
    "d25_bh_fdr",
    (s, d) => {
      val e = Tables.events(s, d).select(col("event_type"),
        (col("user_id") % 2 === 0).as("isa"), col("value"))
      val g = e.groupBy("event_type").agg(
        count(when(col("isa"), 1)).as("n1"),
        sum(when(col("isa"), dec(col("value")))).cast("double").as("s1"),
        sum(when(col("isa"), dec(col("value")) * dec(col("value"))))
          .cast("double").as("q1"),
        count(when(!col("isa"), 1)).as("n2"),
        sum(when(!col("isa"), dec(col("value")))).cast("double").as("s2"),
        sum(when(!col("isa"), dec(col("value")) * dec(col("value"))))
          .cast("double").as("q2"))
      val v1 = (col("q1") - col("s1") * col("s1") / col("n1")) / (col("n1") - 1)
      val v2 = (col("q2") - col("s2") * col("s2") / col("n2")) / (col("n2") - 1)
      val z = (col("s1") / col("n1") - col("s2") / col("n2")) /
        sqrt(v1 / col("n1") + v2 / col("n2"))
      bhAdjust(g.filter(col("n1") > 1 && col("n2") > 1)
        .select(col("event_type").as("test_id"), z.as("z")))
    },
    Some("""WITH e AS (SELECT event_type, user_id % 2 = 0 AS isa, value FROM events),
           |g AS (SELECT event_type AS test_id,
           |        count(*) FILTER (WHERE isa) AS n1,
           |        CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE isa) AS DOUBLE) AS s1,
           |        CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) FILTER (WHERE isa) AS DOUBLE) AS q1,
           |        count(*) FILTER (WHERE NOT isa) AS n2,
           |        CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE NOT isa) AS DOUBLE) AS s2,
           |        CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) FILTER (WHERE NOT isa) AS DOUBLE) AS q2
           |      FROM e GROUP BY 1),
           |zt AS (SELECT test_id,
           |        (s1 / n1 - s2 / n2) /
           |          sqrt(((q1 - s1 * s1 / n1) / (n1 - 1)) / n1
           |             + ((q2 - s2 * s2 / n2) / (n2 - 1)) / n2) AS z
           |       FROM g WHERE n1 > 1 AND n2 > 1),
           |pk AS (SELECT test_id, z, 1.0 / (1.0 + 0.2316419 * abs(z)) AS kk FROM zt),
           |pv AS (SELECT test_id, z,
           |        floor(2.0 * exp(abs(z) * abs(z) * -0.5) * 0.3989422804014327
           |          * (kk * (0.319381530 + kk * (-0.356563782 + kk * (1.781477937
           |             + kk * (-1.821255978 + kk * 1.330274429))))) * 1e9 + 0.5) / 1e9 AS p
           |       FROM pk),
           |rk AS (SELECT test_id, z, p,
           |        CAST(row_number() OVER (ORDER BY p, test_id) AS INT) AS rank,
           |        CAST(count(*) OVER () AS BIGINT) AS m
           |       FROM pv),
           |th AS (SELECT *, CAST(rank AS DOUBLE) / CAST(m AS DOUBLE) * 0.05 AS bh_threshold FROM rk),
           |km AS (SELECT *, max(CASE WHEN p <= bh_threshold THEN rank END) OVER () AS kmax FROM th)
           |SELECT test_id, z, p, rank, bh_threshold,
           |  coalesce(rank <= kmax, false) AS reject
           |FROM km""".stripMargin))

  /** D26 (beyond reference): sample-ratio-mismatch (SRM) guardrail — per
    * day, the chi-square (1 df) of the distinct-user arm split against
    * the designed 50/50: chi2 = (n_a − n_b)²/(n_a + n_b), flagged above
    * the 0.05 critical value 3.8415. THE experiment-health check that
    * runs before any treatment-effect number is read ([[d25]]/[[a22]]
    * are meaningless under a broken randomizer — SRM is how you notice).
    * Integer distinct-counts, one ratio, 9-dp quantized; one
    * distinct-aggregate per day — calendar-bounded output.
    */
  /** chi2 + flag composition over per-day arm counts (day, n_a, n_b) —
    * shared by the batch check and [[StreamingOps]]' t28 so both emit the
    * identical verdicts.
    */
  private[operators] def srmCompose(g: DataFrame): DataFrame = {
    val diff = (col("n_a") - col("n_b")).cast("double")
    val chi2 = floor(diff * diff / (col("n_a") + col("n_b")).cast("double")
      * 1e9 + 0.5).cast("double") / 1e9
    g.select(col("day"), col("n_a"), col("n_b"), chi2.as("chi2"))
      .withColumn("srm", col("chi2") > 3.841458820694124)
  }

  val d26: GraftQuery = GraftQuery(
    "d26_srm_check",
    (s, d) => {
      val e = Tables.events(s, d).select(
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("user_id") % 2 === 0).as("isa"), col("user_id"))
      val g = e.groupBy("day").agg(
        countDistinct(when(col("isa"), col("user_id"))).as("n_a"),
        countDistinct(when(!col("isa"), col("user_id"))).as("n_b"))
      srmCompose(g)
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
           |              user_id % 2 = 0 AS isa, user_id FROM events),
           |g AS (SELECT day,
           |        CAST(count(DISTINCT user_id) FILTER (WHERE isa) AS BIGINT) AS n_a,
           |        CAST(count(DISTINCT user_id) FILTER (WHERE NOT isa) AS BIGINT) AS n_b
           |      FROM e GROUP BY 1)
           |SELECT day, n_a, n_b,
           |  floor(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
           |    / CAST(n_a + n_b AS DOUBLE) * 1e9 + 0.5) / 1e9 AS chi2,
           |  floor(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
           |    / CAST(n_a + n_b AS DOUBLE) * 1e9 + 0.5) / 1e9 > 3.841458820694124 AS srm
           |FROM g""".stripMargin))

  /** D27 (beyond reference): difference-in-differences — the quasi-
    * experimental estimator for a treatment that switches on at a known
    * time: (treated post − treated pre) − (control post − control pre),
    * which nets out both the stable group difference and the common time
    * trend that a naive post-only comparison ([[a22]]) confounds. Arms =
    * user_id parity, period split = global time midpoint; SE from the
    * four cell variances (unpooled), t = DiD/SE. Completes the causal
    * toolkit: [[d18]] reduces variance with pre-data, [[d19]]/[[d25]]
    * test randomized splits, this estimates under PARALLEL-TRENDS when
    * randomization is absent.
    *
    * Determinism: one conditional-aggregate scan to a single row of
    * exact DECIMAL/BIGINT cell moments; means/variances/t are fixed IEEE
    * expressions of those (sqrt is correctly rounded) — no libm, no
    * quantization needed. One pass at 100 TB.
    */
  val d27: GraftQuery = GraftQuery(
    "d27_did",
    (s, d) => {
      val e0 = Tables.events(s, d).select(
        (col("user_id") % 2 === 0).as("treated"),
        unix_micros(col("ts")).as("us"), col("value"))
      val mid = e0.agg(expr("(min(us) + max(us)) div 2").as("mid_us"))
      val e = e0.crossJoin(broadcast(mid))
        .withColumn("post", col("us") >= col("mid_us"))
      def cell(t: Boolean, p: Boolean, tag: String) = {
        val in = col("treated") === t && col("post") === p
        Seq(count(when(in, 1)).as(s"n_$tag"),
          sum(when(in, dec(col("value")))).cast("double").as(s"s_$tag"),
          sum(when(in, dec(col("value")) * dec(col("value"))))
            .cast("double").as(s"q_$tag"))
      }
      val aggs = cell(true, false, "t0") ++ cell(true, true, "t1") ++
        cell(false, false, "c0") ++ cell(false, true, "c1")
      val g = e.agg(aggs.head, aggs.tail: _*)
      def m(tag: String) = (col(s"s_$tag") / col(s"n_$tag")).as(s"m_$tag")
      def v(tag: String) =
        (col(s"q_$tag") - col(s"s_$tag") * col(s"s_$tag") / col(s"n_$tag")) /
          (col(s"n_$tag") - 1) / col(s"n_$tag")
      val k = g.select(col("n_t0"), col("n_t1"), col("n_c0"), col("n_c1"),
        m("t0"), m("t1"), m("c0"), m("c1"),
        sqrt(v("t0") + v("t1") + v("c0") + v("c1")).as("se"))
      val did = (col("m_t1") - col("m_t0")) - (col("m_c1") - col("m_c0"))
      k.select(col("n_t0"), col("n_t1"), col("n_c0"), col("n_c1"),
        col("m_t0"), col("m_t1"), col("m_c0"), col("m_c1"),
        did.as("did"), col("se"), (did / col("se")).as("t_stat"))
    },
    Some("""WITH e0 AS (SELECT user_id % 2 = 0 AS treated, epoch_us(ts) AS us, value FROM events),
           |b AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM e0),
           |e AS (SELECT treated, us >= b.mid_us AS post, value FROM e0, b),
           |g AS (SELECT
           |  count(*) FILTER (WHERE treated AND NOT post) AS n_t0,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE treated AND NOT post) AS DOUBLE) AS s_t0,
           |  CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) FILTER (WHERE treated AND NOT post) AS DOUBLE) AS q_t0,
           |  count(*) FILTER (WHERE treated AND post) AS n_t1,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE treated AND post) AS DOUBLE) AS s_t1,
           |  CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) FILTER (WHERE treated AND post) AS DOUBLE) AS q_t1,
           |  count(*) FILTER (WHERE NOT treated AND NOT post) AS n_c0,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE NOT treated AND NOT post) AS DOUBLE) AS s_c0,
           |  CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) FILTER (WHERE NOT treated AND NOT post) AS DOUBLE) AS q_c0,
           |  count(*) FILTER (WHERE NOT treated AND post) AS n_c1,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE NOT treated AND post) AS DOUBLE) AS s_c1,
           |  CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) FILTER (WHERE NOT treated AND post) AS DOUBLE) AS q_c1
           | FROM e),
           |k AS (SELECT n_t0, n_t1, n_c0, n_c1,
           |  s_t0 / n_t0 AS m_t0, s_t1 / n_t1 AS m_t1,
           |  s_c0 / n_c0 AS m_c0, s_c1 / n_c1 AS m_c1,
           |  sqrt((q_t0 - s_t0 * s_t0 / n_t0) / (n_t0 - 1) / n_t0
           |     + (q_t1 - s_t1 * s_t1 / n_t1) / (n_t1 - 1) / n_t1
           |     + (q_c0 - s_c0 * s_c0 / n_c0) / (n_c0 - 1) / n_c0
           |     + (q_c1 - s_c1 * s_c1 / n_c1) / (n_c1 - 1) / n_c1) AS se
           | FROM g)
           |SELECT n_t0, n_t1, n_c0, n_c1, m_t0, m_t1, m_c0, m_c1,
           |  (m_t1 - m_t0) - (m_c1 - m_c0) AS did, se,
           |  ((m_t1 - m_t0) - (m_c1 - m_c0)) / se AS t_stat
           |FROM k""".stripMargin))

  /** D28 (beyond reference): consolidated experiment report — the one-stop
    * readout an experimentation platform renders per experiment, in the
    * [[d17]] long format: the SRM guardrail ([[d26]], worst day), the
    * mean test ([[a22]] Welch t), the proportion test ([[d19]] z), the
    * variance-reduction diagnostic ([[d18]] CUPED), the quasi-experimental
    * estimate ([[d27]] DiD t), and the multiple-testing outcome ([[d25]]
    * BH rejection count). Every number IS the standalone operator's number
    * (both the Spark plan and the oracle are the component definitions,
    * composed — equality asserted in spec), so the report can never drift
    * from the parts. Six single-scan components; at 100 TB a production
    * run caches the (user_id, event_type, ts, value) projection once and
    * all six read it.
    */
  val d28: GraftQuery = GraftQuery(
    "d28_experiment_report",
    (s, d) => {
      val srm = d26.build(s, d).agg(max("chi2").as("value"))
        .select(lit("srm_worst_chi2").as("metric"), col("value"))
      val welch = a22.build(s, d)
        .select(lit("welch_t").as("metric"), col("t_stat").as("value"))
      val tpz = d19.build(s, d)
        .select(lit("two_prop_z").as("metric"), col("z").as("value"))
      val cuped = d18.build(s, d)
        .select(lit("cuped_reduction").as("metric"), col("reduction").as("value"))
      val did = d27.build(s, d)
        .select(lit("did_t").as("metric"), col("t_stat").as("value"))
      val bh = d25.build(s, d)
        .agg(count(when(col("reject"), 1)).cast("double").as("value"))
        .select(lit("bh_rejections").as("metric"), col("value"))
      srm.unionByName(welch).unionByName(tpz).unionByName(cuped)
        .unionByName(did).unionByName(bh)
    },
    Some(s"""SELECT 'srm_worst_chi2' AS metric, max(chi2) AS value FROM (${d26.oracle.get})
            |UNION ALL SELECT 'welch_t', t_stat FROM (${a22.oracle.get})
            |UNION ALL SELECT 'two_prop_z', z FROM (${d19.oracle.get})
            |UNION ALL SELECT 'cuped_reduction', reduction FROM (${d18.oracle.get})
            |UNION ALL SELECT 'did_t', t_stat FROM (${d27.oracle.get})
            |UNION ALL SELECT 'bh_rejections', CAST(count(*) FILTER (WHERE reject) AS DOUBLE)
            |  FROM (${d25.oracle.get})""".stripMargin))

  /** M21 (beyond reference): dominant-period detection — the
    * variance-explained periodogram: for each candidate period P (in 6-h
    * buckets: 2, 3, 4 = daily, 8, 12, 28 = weekly), eta² = 1 − SSW/SST of
    * the bucket-mean series grouped by phase = bucket mod P; the P
    * explaining the most variance is the series' dominant cycle. This is
    * the PERIOD-FINDING step upstream of [[d14]] (which scores one given
    * period) and of m11/m13's fixed season length — ANOVA-style detection
    * with no trig, so it carries none of a DFT's libm hazard.
    *
    * Determinism: bucket means are 1e6-quantized integers (d14
    * discipline); group/global means are single IEEE divisions of exact
    * sums; each squared deviation is rounded to an integer unit before
    * the unordered SUM (the d22 discipline), so SSW/SST are exact BIGINTs
    * and eta² is one deterministic division. Shape: one scan to the
    * calendar-bounded bucket domain, then a 6-period × phase aggregate
    * over ~120 rows — constant beyond the scan at 100 TB.
    */
  val m21: GraftQuery = GraftQuery(
    "m21_dominant_period",
    (s, d) => {
      val g = Tables.events(s, d)
        .select(expr(s"unix_micros(ts) div $BucketUs").as("bucket"), col("value"))
        .groupBy("bucket").agg(
          floor((sum(dec(col("value"))).cast("double") / count(lit(1))) * 1e6 + 0.5)
            .cast("long").as("x"))
      val periods = s.range(1).select(explode(
        array(lit(2), lit(3), lit(4), lit(8), lit(12), lit(28))).as("period"))
      val bp = g.crossJoin(broadcast(periods))
        .withColumn("phase", col("bucket") % col("period"))
      val grp = bp.groupBy("period", "phase")
        .agg(sum("x").as("sg"), count(lit(1)).as("ng"))
      // global sums fold from any one period's phase sums (each bucket
      // appears exactly once per period) — avoids a second events scan
      val tot = grp.filter(col("period") === 2)
        .agg(sum("sg").as("st"), sum("ng").as("nt"))
      val terms = bp.join(grp, Seq("period", "phase")).crossJoin(broadcast(tot))
        .select(col("period"), col("nt"),
          floor((col("x").cast("double") - col("sg").cast("double") / col("ng")) *
            (col("x").cast("double") - col("sg").cast("double") / col("ng")) + 0.5)
            .cast("long").as("w"),
          floor((col("x").cast("double") - col("st").cast("double") / col("nt")) *
            (col("x").cast("double") - col("st").cast("double") / col("nt")) + 0.5)
            .cast("long").as("t"))
      val ss = terms.groupBy("period")
        .agg(first("nt").as("n_buckets"), sum("w").as("ssw"), sum("t").as("sst"))
        .select(col("period"), col("n_buckets"),
          when(col("sst") === 0, lit(0.0)).otherwise(
            lit(1.0) - col("ssw").cast("double") / col("sst").cast("double"))
            .as("eta2"))
      ss.withColumn("dominant",
        col("eta2") === max("eta2").over(Window.partitionBy()))
    },
    Some(s"""WITH e AS (SELECT epoch_us(ts) // $BucketUs AS bucket, value FROM events),
            |g AS (SELECT bucket, CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
            |        / count(*) * 1e6 + 0.5) AS BIGINT) AS x FROM e GROUP BY 1),
            |p AS (SELECT unnest([2, 3, 4, 8, 12, 28]) AS period),
            |bp AS (SELECT g.bucket, g.x, p.period, g.bucket % p.period AS phase
            |       FROM g CROSS JOIN p),
            |grp AS (SELECT period, phase, CAST(sum(x) AS BIGINT) AS sg,
            |          CAST(count(*) AS BIGINT) AS ng FROM bp GROUP BY 1, 2),
            |tot AS (SELECT CAST(sum(x) AS BIGINT) AS st,
            |          CAST(count(*) AS BIGINT) AS nt FROM g),
            |terms AS (SELECT bp.period, tot.nt,
            |    CAST(floor((CAST(bp.x AS DOUBLE) - CAST(grp.sg AS DOUBLE) / grp.ng)
            |      * (CAST(bp.x AS DOUBLE) - CAST(grp.sg AS DOUBLE) / grp.ng) + 0.5) AS BIGINT) AS w,
            |    CAST(floor((CAST(bp.x AS DOUBLE) - CAST(tot.st AS DOUBLE) / tot.nt)
            |      * (CAST(bp.x AS DOUBLE) - CAST(tot.st AS DOUBLE) / tot.nt) + 0.5) AS BIGINT) AS t
            |  FROM bp JOIN grp USING (period, phase) CROSS JOIN tot),
            |ss AS (SELECT period, any_value(nt) AS n_buckets,
            |         CAST(sum(w) AS BIGINT) AS ssw, CAST(sum(t) AS BIGINT) AS sst
            |       FROM terms GROUP BY 1)
            |SELECT CAST(period AS INT) AS period, n_buckets,
            |  CASE WHEN sst = 0 THEN 0.0
            |       ELSE 1.0 - CAST(ssw AS DOUBLE) / CAST(sst AS DOUBLE) END AS eta2,
            |  (CASE WHEN sst = 0 THEN 0.0
            |        ELSE 1.0 - CAST(ssw AS DOUBLE) / CAST(sst AS DOUBLE) END)
            |    = max(CASE WHEN sst = 0 THEN 0.0
            |              ELSE 1.0 - CAST(ssw AS DOUBLE) / CAST(sst AS DOUBLE) END) OVER ()
            |    AS dominant
            |FROM ss""".stripMargin))

  /** D29 (beyond reference): quantile treatment effect — the per-quantile
    * arm difference QTE(q) = Q_A(q) − Q_B(q) at q ∈ {0.25, 0.5, 0.75},
    * the DISTRIBUTIONAL view of a treatment that mean tests ([[a22]],
    * [[d27]]) cannot see: a change that fattens the right tail while
    * thinning the left can have zero mean effect and large quantile
    * effects. Quantiles are exact type-1 order statistics (value at rank
    * ⌈q·n⌉), computed via the [[d3]] ECDF shape — per-value arm counts,
    * one cumulative window over the VALUE domain (bounded by metric
    * resolution, never by row count), then the minimal value whose
    * cumulative count reaches the rank. No per-arm global sort, so the
    * plan never funnels an arm into one task at 100 TB. Integer ranks
    * from exact counts; ceil of q·n is the one IEEE op (m19 discipline).
    */
  val d29: GraftQuery = GraftQuery(
    "d29_qte",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("value"), (col("user_id") % 2 === 0).as("isa"))
      val byV = e.groupBy("value").agg(
        count(when(col("isa"), 1)).as("na_v"),
        count(when(!col("isa"), 1)).as("nb_v"))
      val wv = Window.orderBy("value")
      val cum = byV.select(col("value"),
        sum("na_v").over(wv).as("cum_a"), sum("nb_v").over(wv).as("cum_b"),
        sum("na_v").over(Window.partitionBy()).as("n_a"),
        sum("nb_v").over(Window.partitionBy()).as("n_b"))
      val qs = s.range(1).select(explode(
        array(lit(0.25), lit(0.5), lit(0.75))).as("q"))
      val j = cum.crossJoin(broadcast(qs))
        .withColumn("rk_a", ceil(col("q") * col("n_a").cast("double")).cast("long"))
        .withColumn("rk_b", ceil(col("q") * col("n_b").cast("double")).cast("long"))
      val qa = j.filter(col("cum_a") >= col("rk_a"))
        .groupBy("q").agg(min("value").as("q_a"))
      val qb = j.filter(col("cum_b") >= col("rk_b"))
        .groupBy("q").agg(min("value").as("q_b"))
      qa.join(qb, "q")
        .select(col("q"), col("q_a"), col("q_b"), (col("q_a") - col("q_b")).as("qte"))
    },
    Some("""WITH e AS (SELECT value, user_id % 2 = 0 AS isa FROM events),
           |v AS (SELECT value, count(*) FILTER (WHERE isa) AS na_v,
           |             count(*) FILTER (WHERE NOT isa) AS nb_v FROM e GROUP BY 1),
           |c AS (SELECT value,
           |        CAST(sum(na_v) OVER (ORDER BY value) AS BIGINT) AS cum_a,
           |        CAST(sum(nb_v) OVER (ORDER BY value) AS BIGINT) AS cum_b,
           |        CAST(sum(na_v) OVER () AS BIGINT) AS n_a,
           |        CAST(sum(nb_v) OVER () AS BIGINT) AS n_b FROM v),
           |q AS (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE]) AS q),
           |j AS (SELECT c.*, q.q,
           |        CAST(ceil(q.q * CAST(c.n_a AS DOUBLE)) AS BIGINT) AS rk_a,
           |        CAST(ceil(q.q * CAST(c.n_b AS DOUBLE)) AS BIGINT) AS rk_b
           |      FROM c CROSS JOIN q),
           |qa AS (SELECT q, min(value) AS q_a FROM j WHERE cum_a >= rk_a GROUP BY 1),
           |qb AS (SELECT q, min(value) AS q_b FROM j WHERE cum_b >= rk_b GROUP BY 1)
           |SELECT q, q_a, q_b, q_a - q_b AS qte FROM qa JOIN qb USING (q)""".stripMargin))

  /** M23 (beyond reference): EWMA control chart (Roberts 1959) — the
    * SPC companion to [[m12]]'s CUSUM: per 6-h bucket, the exponentially
    * weighted mean z_t = λ·x_t + (1−λ)·z_{t−1} (λ = 0.2, z seeded at the
    * first bucket mean) against the exact time-varying control limits
    * μ ± 3σ·√(λ/(2−λ)·(1−(1−λ)^{2t})) — wider as the EWMA warms up,
    * converging to the asymptotic band. CUSUM detects sustained small
    * shifts fastest; the EWMA chart is what monitoring dashboards
    * actually plot (a smoothed line inside a band) and detects drifts
    * CUSUM's reset logic can blur.
    *
    * Determinism: bucket means are 1e6-quantized ints; μ, σ² come from
    * exact integer moment sums; the EWMA recursion AND the (1−λ)^{2t}
    * warm-up factor are chained IEEE folds in ascending t, replayed by
    * the oracle as a recursive CTE (the m10 discipline); √ is correctly
    * rounded. Shape: one scan to the calendar-bounded bucket domain, one
    * single-group kernel over ~120 rows — bounded by the calendar, not
    * data.
    */
  /** Streaming-compatible half of the EWMA chart: per 6-h bucket the
    * 1e6-quantized mean of `value` — a plain grouped aggregate, legal as
    * a complete-mode streaming aggregation (t29 runs exactly this on the
    * ingest stream; m23 runs it on the batch table). Shared so
    * stream == batch bitwise by construction.
    */
  def ewmaBucketAgg(df: DataFrame): DataFrame =
    df.select(expr(s"unix_micros(ts) div $BucketUs").as("bucket"), col("value"))
      .groupBy("bucket").agg(
        floor((sum(dec(col("value"))).cast("double") / count(lit(1))) * 1e6 + 0.5)
          .cast("long").as("xq"))

  /** Chart half shared by m23 (batch) and t29 (streaming): the EWMA
    * recursion + warm-up control limits over the materialized
    * (bucket, xq) rows — a single-group kernel on the calendar-bounded
    * bucket domain.
    */
  def ewmaCompose(g: DataFrame): DataFrame = {
    val s = g.sparkSession
    import s.implicits._
    g.select(col("bucket").cast("long"), col("xq").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroups { (_: Int, it: Iterator[(Long, Long)]) =>
        val pts = it.toVector.sortBy(_._1)
        val n = pts.size
        var sy = 0L; var syy = 0L
        pts.foreach { p => sy += p._2; syy += p._2 * p._2 }
        val mu = sy.toDouble / n / 1e6
        val sigma =
          if (n < 2) 0.0
          else math.sqrt((n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble) /
            (n.toDouble * (n.toDouble - 1.0))) / 1e6
        var z = pts.head._2.toDouble / 1e6
        var p = 1.0
        pts.iterator.map { case (b, xq) =>
          val x = xq.toDouble / 1e6
          z = 0.2 * x + 0.8 * z
          p = p * 0.8 * 0.8
          val half = 3.0 * sigma * math.sqrt(0.2 / 1.8 * (1.0 - p))
          (b, x, z, mu - half, mu + half,
            z < mu - half || z > mu + half)
        }
      }
      .toDF("bucket", "x_mean", "ewma", "lcl", "ucl", "out_of_control")
  }

  val m23: GraftQuery = GraftQuery(
    "m23_ewma_chart",
    (s, d) => ewmaCompose(ewmaBucketAgg(Tables.events(s, d))),
    Some(s"""WITH RECURSIVE e AS (SELECT epoch_us(ts) // $BucketUs AS bucket, value FROM events),
            |g AS (SELECT bucket, CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
            |        / count(*) * 1e6 + 0.5) AS BIGINT) AS xq FROM e GROUP BY 1),
            |ser AS (SELECT list(xq ORDER BY bucket) AS y, list(bucket ORDER BY bucket) AS bs,
            |        CAST(count(*) AS INT) AS n,
            |        CAST(sum(xq) AS BIGINT) AS sy, CAST(sum(xq * xq) AS BIGINT) AS syy FROM g),
            |mo AS (SELECT y, bs, n,
            |        CAST(sy AS DOUBLE) / n / 1e6 AS mu,
            |        CASE WHEN n < 2 THEN CAST(0 AS DOUBLE)
            |             ELSE sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            |                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
            |                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 1e6
            |        END AS sigma FROM ser),
            |rec AS (
            |  SELECT y, bs, n, mu, sigma, 1 AS i,
            |         CAST(0.2 AS DOUBLE) * (CAST(y[1] AS DOUBLE) / 1e6)
            |           + CAST(0.8 AS DOUBLE) * (CAST(y[1] AS DOUBLE) / 1e6) AS z,
            |         CAST(1.0 AS DOUBLE) * CAST(0.8 AS DOUBLE) * CAST(0.8 AS DOUBLE) AS p
            |  FROM mo
            |  UNION ALL
            |  SELECT y, bs, n, mu, sigma, i + 1,
            |         CAST(0.2 AS DOUBLE) * (CAST(y[i+1] AS DOUBLE) / 1e6)
            |           + CAST(0.8 AS DOUBLE) * z,
            |         p * CAST(0.8 AS DOUBLE) * CAST(0.8 AS DOUBLE)
            |  FROM rec WHERE i < n)
            |SELECT bs[i] AS bucket, CAST(y[i] AS DOUBLE) / 1e6 AS x_mean, z AS ewma,
            |  mu - 3.0 * sigma * sqrt(0.2 / 1.8 * (1.0 - p)) AS lcl,
            |  mu + 3.0 * sigma * sqrt(0.2 / 1.8 * (1.0 - p)) AS ucl,
            |  (z < mu - 3.0 * sigma * sqrt(0.2 / 1.8 * (1.0 - p))
            |   OR z > mu + 3.0 * sigma * sqrt(0.2 / 1.8 * (1.0 - p))) AS out_of_control
            |FROM rec""".stripMargin))

  /** D30 (beyond reference): Brown-Forsythe equal-variance test — the
    * robust Levene variant: ANOVA F on the absolute deviations from each
    * ARM MEDIAN, |x − med_g|. The missing member of the testing family:
    * [[a22]] compares means, [[d16]] distributions, [[d19]] proportions,
    * [[d29]] quantiles — this tests the VARIANCES, the precondition a
    * pooled-variance analysis quietly assumes and the robust (median-
    * anchored) form survives heavy tails that break classic Levene.
    *
    * Determinism: arm medians are exact type-1 order statistics via the
    * [[d29]] value-domain ECDF (no per-arm sort); deviations are exact
    * DECIMAL differences (2-dp values, 2-dp medians) accumulated as
    * DECIMAL sums (a22 discipline); F is a fixed IEEE expression of
    * those moments. Shape: one value-domain aggregate for the medians +
    * one conditional-aggregate scan — two passes, both one-shuffle.
    */
  val d30: GraftQuery = GraftQuery(
    "d30_brown_forsythe",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("value"), (col("user_id") % 2 === 0).as("isa"))
      val byV = e.groupBy("value").agg(
        count(when(col("isa"), 1)).as("na_v"),
        count(when(!col("isa"), 1)).as("nb_v"))
      val wv = Window.orderBy("value")
      val cum = byV.select(col("value"),
        sum("na_v").over(wv).as("cum_a"), sum("nb_v").over(wv).as("cum_b"),
        sum("na_v").over(Window.partitionBy()).as("n_a"),
        sum("nb_v").over(Window.partitionBy()).as("n_b"))
      val medA = cum.filter(col("cum_a") >=
          ceil(lit(0.5) * col("n_a").cast("double")).cast("long"))
        .agg(min("value").as("med_a"))
      val medB = cum.filter(col("cum_b") >=
          ceil(lit(0.5) * col("n_b").cast("double")).cast("long"))
        .agg(min("value").as("med_b"))
      val dev = e.crossJoin(broadcast(medA)).crossJoin(broadcast(medB))
        .withColumn("dv", abs(dec(col("value")) -
          dec(when(col("isa"), col("med_a")).otherwise(col("med_b")))))
      val g = dev.agg(
        count(when(col("isa"), 1)).as("n1"),
        sum(when(col("isa"), col("dv"))).cast("double").as("s1"),
        sum(when(col("isa"), col("dv") * col("dv"))).cast("double").as("q1"),
        count(when(!col("isa"), 1)).as("n2"),
        sum(when(!col("isa"), col("dv"))).cast("double").as("s2"),
        sum(when(!col("isa"), col("dv") * col("dv"))).cast("double").as("q2"),
        first("med_a").as("med_a"), first("med_b").as("med_b"))
      val nn = (col("n1") + col("n2")).cast("double")
      val ssb = col("s1") * col("s1") / col("n1") + col("s2") * col("s2") / col("n2") -
        (col("s1") + col("s2")) * (col("s1") + col("s2")) / nn
      val ssw = (col("q1") - col("s1") * col("s1") / col("n1")) +
        (col("q2") - col("s2") * col("s2") / col("n2"))
      g.select(col("n1"), col("n2"), col("med_a"), col("med_b"),
        (ssb / (ssw / (nn - 2.0))).as("f_stat"))
    },
    Some("""WITH e AS (SELECT value, user_id % 2 = 0 AS isa FROM events),
           |v AS (SELECT value, count(*) FILTER (WHERE isa) AS na_v,
           |             count(*) FILTER (WHERE NOT isa) AS nb_v FROM e GROUP BY 1),
           |c AS (SELECT value,
           |        CAST(sum(na_v) OVER (ORDER BY value) AS BIGINT) AS cum_a,
           |        CAST(sum(nb_v) OVER (ORDER BY value) AS BIGINT) AS cum_b,
           |        CAST(sum(na_v) OVER () AS BIGINT) AS n_a,
           |        CAST(sum(nb_v) OVER () AS BIGINT) AS n_b FROM v),
           |ma AS (SELECT min(value) AS med_a FROM c
           |       WHERE cum_a >= CAST(ceil(0.5 * CAST(n_a AS DOUBLE)) AS BIGINT)),
           |mb AS (SELECT min(value) AS med_b FROM c
           |       WHERE cum_b >= CAST(ceil(0.5 * CAST(n_b AS DOUBLE)) AS BIGINT)),
           |dv AS (SELECT isa, abs(CAST(value AS DECIMAL(18,4))
           |         - CAST(CASE WHEN isa THEN ma.med_a ELSE mb.med_b END AS DECIMAL(18,4))) AS dv,
           |         ma.med_a, mb.med_b
           |       FROM e, ma, mb),
           |g AS (SELECT
           |  count(*) FILTER (WHERE isa) AS n1,
           |  CAST(sum(dv) FILTER (WHERE isa) AS DOUBLE) AS s1,
           |  CAST(sum(dv * dv) FILTER (WHERE isa) AS DOUBLE) AS q1,
           |  count(*) FILTER (WHERE NOT isa) AS n2,
           |  CAST(sum(dv) FILTER (WHERE NOT isa) AS DOUBLE) AS s2,
           |  CAST(sum(dv * dv) FILTER (WHERE NOT isa) AS DOUBLE) AS q2,
           |  any_value(med_a) AS med_a, any_value(med_b) AS med_b FROM dv)
           |SELECT n1, n2, med_a, med_b,
           |  (s1 * s1 / n1 + s2 * s2 / n2 - (s1 + s2) * (s1 + s2) / CAST(n1 + n2 AS DOUBLE))
           |    / (((q1 - s1 * s1 / n1) + (q2 - s2 * s2 / n2)) / (CAST(n1 + n2 AS DOUBLE) - 2.0))
           |    AS f_stat
           |FROM g""".stripMargin))

  /** Number of label permutations for [[d31]] — fixed so both engines
    * generate the identical permutation family.
    */
  private val PermCount = 32

  /** Public DataFrame-in API (see graft.api.Graft): two-sample permutation
    * test of the A/B mean difference (Fisher 1935; the exact-inference
    * companion to d15's ANOVA F and a22's Welch t — those assume a null
    * DISTRIBUTION, this one builds it from the data). The observed
    * |mean_A − mean_B| is ranked against [[PermCount]] re-randomized label
    * assignments; p = (1 + #{|Δ_perm| ≥ |Δ_obs|}) / (P + 1), the standard
    * add-one Monte-Carlo correction (Phipson & Smyth 2010). Permutation p
    * relabels row r to arm A iff the first hex digit of md5(id ":" p) is
    * < '8' — a deterministic uniform coin both engines replay exactly, the
    * d-family's seeded-md5 discipline (same rule as x10's hash sample).
    *
    * Determinism: arm means are exact DECIMAL sums cast to double once,
    * so each Δ is one IEEE subtraction of two deterministic doubles; the
    * extreme-count comparison is then exact on both engines.
    *
    * Scale: the explode is P× one scan (P fixed at 32, independent of
    * corpus size) feeding ONE hash aggregate on the P-row permutation
    * domain — map-side partial aggregation collapses each partition to
    * ≤ 2P rows before the shuffle, so at 100 TB this is a linear scan
    * with a 32-row reduce, not a data explosion (the per-row md5 work is
    * the same budget as x1's fingerprint scan).
    */
  def permutationTest(df: DataFrame, idCol: String, valueCol: String,
      armCol: String): DataFrame = {
    val e = df.select(col(idCol).as("id"), col(valueCol).as("v"),
      col(armCol).as("isa"))
    val obs = e.agg(
      (sum(when(col("isa"), dec(col("v")))).cast("double") /
        count(when(col("isa"), 1)) -
        sum(when(!col("isa"), dec(col("v")))).cast("double") /
          count(when(!col("isa"), 1))).as("obs_diff"))
    // spread the base rows by id before the P-fold explode: the md5 coin
    // per (row, permutation) is the dominant cost (P x one md5 per input
    // row), and a tiny single-split input would otherwise compute all of
    // it on one core (guide §2.5: partition count must follow compute,
    // not bytes). Hash-repartition on the stable id is deterministic under
    // retries; partition count = defaultParallelism, scale-adaptive — at
    // production scale the scan is already parallel and this one narrow-row
    // exchange is noise next to the P-fold expansion it parallelizes.
    val pd = e
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
      .select(col("id"), col("v"),
        explode(sequence(lit(0), lit(PermCount - 1))).as("p"))
      .withColumn("pa",
        substring(md5(concat_ws(":", col("id"), col("p"))), 1, 1) < "8")
      .groupBy("p").agg(
        (sum(when(col("pa"), dec(col("v")))).cast("double") /
          count(when(col("pa"), 1)) -
          sum(when(!col("pa"), dec(col("v")))).cast("double") /
            count(when(!col("pa"), 1))).as("pdiff"))
    pd.crossJoin(broadcast(obs)).agg(
      first("obs_diff").as("obs_diff"),
      count(lit(1)).as("n_perm"),
      sum(when(abs(col("pdiff")) >= abs(col("obs_diff")), 1).otherwise(0))
        .as("n_extreme"),
      ((sum(when(abs(col("pdiff")) >= abs(col("obs_diff")), 1).otherwise(0)) +
        lit(1)).cast("double") /
        (count(lit(1)) + lit(1)).cast("double")).as("p_value"))
  }

  /** D31 (beyond reference): permutation test of the events A/B arms. */
  val d31: GraftQuery = GraftQuery(
    "d31_permutation_test",
    (s, d) => permutationTest(
      Tables.events(s, d).withColumn("isa", col("user_id") % 2 === 0),
      "event_id", "value", "isa"),
    Some("""WITH e AS (SELECT event_id AS id, value AS v, user_id % 2 = 0 AS isa FROM events),
           |obs AS (SELECT
           |    CAST(sum(CAST(v AS DECIMAL(18,4))) FILTER (WHERE isa) AS DOUBLE)
           |      / count(*) FILTER (WHERE isa)
           |  - CAST(sum(CAST(v AS DECIMAL(18,4))) FILTER (WHERE NOT isa) AS DOUBLE)
           |      / count(*) FILTER (WHERE NOT isa) AS obs_diff FROM e),
           |pe AS (SELECT p, v,
           |    substring(md5(CAST(id AS VARCHAR) || ':' || CAST(p AS VARCHAR)), 1, 1) < '8' AS pa
           |  FROM e CROSS JOIN generate_series(0, 31) t(p)),
           |pd AS (SELECT p,
           |    CAST(sum(CAST(v AS DECIMAL(18,4))) FILTER (WHERE pa) AS DOUBLE)
           |      / count(*) FILTER (WHERE pa)
           |  - CAST(sum(CAST(v AS DECIMAL(18,4))) FILTER (WHERE NOT pa) AS DOUBLE)
           |      / count(*) FILTER (WHERE NOT pa) AS pdiff
           |  FROM pe GROUP BY 1)
           |SELECT any_value(obs.obs_diff) AS obs_diff,
           |  count(*) AS n_perm,
           |  CAST(sum(CASE WHEN abs(pdiff) >= abs(obs.obs_diff) THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_extreme,
           |  (CAST(sum(CASE WHEN abs(pdiff) >= abs(obs.obs_diff) THEN 1 ELSE 0 END) AS BIGINT) + 1)
           |    / CAST(count(*) + 1 AS DOUBLE) AS p_value
           |FROM pd, obs""".stripMargin))

  /** D32 (beyond reference): two-sample Cramér–von Mises test between the
    * 'click' and 'error' value populations — the INTEGRAL companion to
    * [[d3]]'s KS supremum: T = (n·m)/(n+m)² · Σ_pooled (F_a − F_b)²
    * (Anderson 1962), summing the squared ECDF gap over every pooled
    * observation instead of taking its max, so distributed differences
    * that never peak (the kind KS misses) still register. Same
    * value-domain ECDF shape as d3/d29/d30: one hash aggregate on
    * distinct values, one cumulative window over that bounded domain.
    *
    * Determinism: cumulative counts are exact integers; each squared gap
    * (a deterministic double in [0,1]) is quantized to 1e-9 immediately
    * and weighted by its integer pooled count, so the sum is exact. The
    * accumulator is DECIMAL(38,0) on BOTH engines (bound is n·1e9: a
    * BIGINT sum would wrap silently past ~9.2e9 pooled rows on the Spark
    * side while DuckDB promotes to HUGEINT — the decSum discipline); T is
    * one fixed IEEE expression of integer-derived inputs.
    */
  val d32: GraftQuery = GraftQuery(
    "d32_cramer_von_mises",
    (s, d) => {
      val sdf = Tables.events(s, d)
        .filter(col("event_type").isin("click", "error"))
        .select(col("value"), (col("event_type") === "click").as("isa"))
      val dd = sdf.groupBy("value").agg(
        count(when(col("isa"), 1)).as("na_v"),
        count(when(!col("isa"), 1)).as("nb_v"))
      val wv = Window.orderBy("value")
      val cdf = dd.select(col("value"), (col("na_v") + col("nb_v")).as("w"),
        sum("na_v").over(wv).as("cum_a"), sum("nb_v").over(wv).as("cum_b"))
      val tot = dd.agg(sum("na_v").as("n_a"), sum("nb_v").as("n_b"))
      val gap = col("cum_a").cast("double") / col("n_a") -
        col("cum_b").cast("double") / col("n_b")
      cdf.crossJoin(broadcast(tot))
        .select(col("n_a"), col("n_b"),
          (col("w") * floor(gap * gap * 1e9 + 0.5).cast("long")).as("qterm"))
        .groupBy("n_a", "n_b")
        .agg(sum(col("qterm").cast(DecimalType(38, 0))).as("sq"))
        .select(col("n_a"), col("n_b"),
          (col("n_a").cast("double") * col("n_b").cast("double") /
            ((col("n_a") + col("n_b")).cast("double") *
              (col("n_a") + col("n_b")).cast("double")) *
            (col("sq").cast("double") / 1e9)).as("cvm_t"))
    },
    Some("""WITH s AS (SELECT value, event_type = 'click' AS isa FROM events
           |           WHERE event_type IN ('click', 'error')),
           |d AS (SELECT value, count(*) FILTER (WHERE isa) AS na_v,
           |             count(*) FILTER (WHERE NOT isa) AS nb_v FROM s GROUP BY value),
           |c AS (SELECT value, na_v + nb_v AS w,
           |        CAST(sum(na_v) OVER (ORDER BY value) AS BIGINT) AS cum_a,
           |        CAST(sum(nb_v) OVER (ORDER BY value) AS BIGINT) AS cum_b FROM d),
           |t AS (SELECT CAST(sum(na_v) AS BIGINT) AS n_a,
           |             CAST(sum(nb_v) AS BIGINT) AS n_b FROM d),
           |q AS (SELECT t.n_a, t.n_b,
           |        w * CAST(floor((CAST(cum_a AS DOUBLE) / t.n_a - CAST(cum_b AS DOUBLE) / t.n_b)
           |              * (CAST(cum_a AS DOUBLE) / t.n_a - CAST(cum_b AS DOUBLE) / t.n_b)
           |              * 1e9 + 0.5) AS BIGINT) AS qterm
           |      FROM c, t),
           |g AS (SELECT n_a, n_b, CAST(sum(qterm) AS DECIMAL(38,0)) AS sq FROM q GROUP BY 1, 2)
           |SELECT n_a, n_b,
           |  CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
           |    / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE))
           |    * (CAST(sq AS DOUBLE) / 1e9) AS cvm_t
           |FROM g""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): Mann-Kendall trend
    * test over the 6-h bucket series (Mann 1945; Kendall 1975) — the
    * NONPARAMETRIC "is this metric drifting" answer: S = Σ_{i<j}
    * sgn(x_j − x_i) over bucket pairs, tie-corrected variance
    * (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5))/18, continuity-corrected z. No
    * model, no normality assumption — the monitoring complement to m12's
    * CUSUM (which needs a reference mean) and m23's EWMA band (which
    * needs σ): MK fires on any monotone drift, robust to spikes.
    *
    * Scale: the pair "join" runs on the CALENDAR-bounded bucket domain
    * (the [[ewmaBucketAgg]] aggregate — ~120 rows whatever the fact
    * volume), so the O(n²) pair sum is O(calendar²), constant in data
    * size; everything upstream is one scan + one hash aggregate.
    * Determinism: bucket means are 1e6-quantized ints, sgn/S/tie sums
    * are exact integers, and var/z are fixed IEEE expressions of them.
    */
  def mannKendall(events: DataFrame): DataFrame = {
    val g = ewmaBucketAgg(events)
    val sgn = when(col("b.xq") > col("a.xq"), 1L)
      .when(col("b.xq") < col("a.xq"), -1L).otherwise(0L)
    val s = g.as("a").join(g.as("b"), col("a.bucket") < col("b.bucket"))
      .agg(coalesce(sum(sgn), lit(0L)).as("s_stat"))
    val nn = g.agg(count(lit(1)).as("n"))
    val ties = g.groupBy("xq").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .agg(coalesce(sum(col("c") * (col("c") - 1) * (lit(2) * col("c") + 5)),
        lit(0L)).as("tsum"))
    val v = nn.crossJoin(broadcast(s)).crossJoin(broadcast(ties))
      .withColumn("var_s",
        (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tsum"))
          .cast("double") / 18.0)
    v.select(col("n"), col("s_stat"), col("var_s"),
      when(col("s_stat") > 0,
        (col("s_stat").cast("double") - 1.0) / sqrt(col("var_s")))
        .when(col("s_stat") < 0,
          (col("s_stat").cast("double") + 1.0) / sqrt(col("var_s")))
        .otherwise(0.0).as("z"))
  }

  /** D33 (beyond reference): Mann-Kendall monotone-trend audit. */
  val d33: GraftQuery = GraftQuery(
    "d33_mann_kendall",
    (s, d) => mannKendall(Tables.events(s, d)),
    Some(s"""WITH e AS (SELECT epoch_us(ts) // $BucketUs AS bucket, value FROM events),
           |g AS (SELECT bucket, CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
           |        / count(*) * 1e6 + 0.5) AS BIGINT) AS xq FROM e GROUP BY 1),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
           |s AS (SELECT coalesce(CAST(sum(CASE WHEN b.xq > a.xq THEN 1
           |               WHEN b.xq < a.xq THEN -1 ELSE 0 END) AS BIGINT), 0) AS s_stat
           |      FROM g a JOIN g b ON a.bucket < b.bucket),
           |t AS (SELECT coalesce(CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT), 0) AS tsum
           |      FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM g GROUP BY xq)
           |      WHERE c > 1),
           |v AS (SELECT nn.n, s.s_stat,
           |        CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tsum AS DOUBLE) / 18.0 AS var_s
           |      FROM nn, s, t)
           |SELECT n, s_stat, var_s,
           |  CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
           |       WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
           |       ELSE CAST(0.0 AS DOUBLE) END AS z
           |FROM v""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): Theil–Sen slope
    * estimator over the 6-h bucket series — the robust MAGNITUDE
    * companion to [[mannKendall]]'s direction test: the median of all
    * pairwise slopes (x_j − x_i)/(j − i), which survives up to ~29%
    * arbitrarily-corrupted points where OLS (m7's AR fit, m3's
    * regression) is dragged by a single outlier. Returns one row
    * (n_pairs, sen_slope) with the slope in value-units per 6-h bucket.
    *
    * Scale: pairs live on the CALENDAR-bounded bucket domain (~120 rows
    * whatever the fact volume), so the O(n²) pair set and the exact
    * median (row_number over sorted slopes — a few thousand rows, one
    * partition by construction) are O(calendar²), constant in data size.
    * Determinism: slopes are IEEE quotients of exact integers; the
    * median picks value(s) at fixed sorted positions (ties carry equal
    * values, so tie order is immaterial), and the even-n midpoint is the
    * same sum/count average in both engines.
    */
  def theilSen(events: DataFrame): DataFrame = {
    val g = ewmaBucketAgg(events)
    val pairs = g.as("a").join(g.as("b"), col("a.bucket") < col("b.bucket"))
      .select((((col("b.xq") - col("a.xq")).cast("double") / 1e6) /
        (col("b.bucket") - col("a.bucket")).cast("double")).as("slope"))
    val ranked = pairs
      .withColumn("rn", row_number().over(Window.orderBy("slope")))
      .withColumn("np", count(lit(1)).over(
        Window.orderBy("slope").rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    ranked
      .filter(col("rn") === expr("(np + 1) div 2") || col("rn") === expr("np div 2 + 1"))
      .agg(max("np").as("n_pairs"), avg("slope").as("sen_slope"))
      // A series with < 2 buckets yields an empty pair set, and the global
      // agg would then emit one all-NULL row that NPEs callers reading
      // n_pairs — return an explicit EMPTY result for the degenerate case
      // instead (documented contract: 0 rows when no slope is estimable).
      .filter(col("n_pairs").isNotNull)
  }

  /** D34 (beyond reference): Theil–Sen robust trend slope. */
  val d34: GraftQuery = GraftQuery(
    "d34_theil_sen",
    (s, d) => theilSen(Tables.events(s, d)),
    Some(s"""WITH e AS (SELECT epoch_us(ts) // $BucketUs AS bucket, value FROM events),
           |g AS (SELECT bucket, CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
           |        / count(*) * 1e6 + 0.5) AS BIGINT) AS xq FROM e GROUP BY 1),
           |p AS (SELECT (CAST(b.xq - a.xq AS DOUBLE) / 1e6)
           |          / CAST(b.bucket - a.bucket AS DOUBLE) AS slope
           |      FROM g a JOIN g b ON a.bucket < b.bucket),
           |r AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rn,
           |             count(*) OVER () AS np FROM p)
           |SELECT max(np) AS n_pairs, avg(slope) AS sen_slope
           |FROM r WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): RiskMetrics EWMA
    * volatility (J.P. Morgan 1996, λ = 0.94) over the 6-h bucket-mean
    * series: per-bucket return r_t = x_t − x_{t-1}, conditional variance
    * v_t = λ·v_{t-1} + (1−λ)·r_t² seeded with v_2 = r_2². The GARCH-lite
    * member of the monitoring family — m23's EWMA chart tracks the
    * LEVEL, this tracks the second moment, so regime changes show as a
    * vol ramp even when the mean is flat.
    *
    * Scale: everything after the one hash aggregate runs on the
    * calendar-bounded bucket domain inside a single-group kernel (same
    * shape as [[ewmaCompose]]). Determinism: returns are exact integer
    * differences scaled once; the recursion is a fixed IEEE expression
    * (λ·v + (1−λ)·(r·r), parenthesized identically in the oracle).
    */
  def riskmetricsVol(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    ewmaBucketAgg(events)
      .select(col("bucket").cast("long"), col("xq").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroups { (_: Int, it: Iterator[(Long, Long)]) =>
        val pts = it.toVector.sortBy(_._1)
        if (pts.size < 2) Iterator.empty
        else {
          var v = 0.0
          pts.iterator.zip(pts.iterator.drop(1)).zipWithIndex.map {
            case (((_, x0), (b1, x1)), i) =>
              val r = (x1 - x0).toDouble / 1e6
              v = if (i == 0) r * r else 0.94 * v + 0.06 * (r * r)
              (b1, r, v, math.sqrt(v))
          }
        }
      }
      .toDF("bucket", "ret", "var_ewma", "vol")
  }

  /** M26 (beyond reference): EWMA conditional-volatility track. */
  val m26: GraftQuery = GraftQuery(
    "m26_riskmetrics_vol",
    (s, d) => riskmetricsVol(Tables.events(s, d)),
    Some(s"""WITH RECURSIVE e AS (SELECT epoch_us(ts) // $BucketUs AS bucket, value FROM events),
           |g AS (SELECT bucket, CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
           |        / count(*) * 1e6 + 0.5) AS BIGINT) AS xq FROM e GROUP BY 1),
           |ser AS (SELECT list(xq ORDER BY bucket) AS y, list(bucket ORDER BY bucket) AS bs,
           |        CAST(count(*) AS INT) AS n FROM g),
           |rec AS (
           |  SELECT y, bs, n, 2 AS i,
           |         CAST(y[2] - y[1] AS DOUBLE) / 1e6 AS ret,
           |         (CAST(y[2] - y[1] AS DOUBLE) / 1e6)
           |           * (CAST(y[2] - y[1] AS DOUBLE) / 1e6) AS v
           |  FROM ser WHERE n >= 2
           |  UNION ALL
           |  SELECT y, bs, n, i + 1,
           |         CAST(y[i+1] - y[i] AS DOUBLE) / 1e6,
           |         CAST(0.94 AS DOUBLE) * v + CAST(0.06 AS DOUBLE)
           |           * ((CAST(y[i+1] - y[i] AS DOUBLE) / 1e6)
           |              * (CAST(y[i+1] - y[i] AS DOUBLE) / 1e6))
           |  FROM rec WHERE i < n)
           |SELECT bs[i] AS bucket, ret, v AS var_ewma, sqrt(v) AS vol FROM rec""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): Page–Hinkley
    * sequential drift detector (Page 1954; Hinkley 1971) over the 6-h
    * bucket-mean series: U_t = Σ_{s≤t} (x_s − m̄_s − δ) with m̄_s the
    * running mean through s, alarm when U_t − min_{s≤t} U_s > λ. The
    * ONLINE member of the drift family — d2/d3/d4 compare two frozen
    * windows, [[mannKendall]] scores a whole series post-hoc; PH flags
    * WHERE the change lands, one pass, O(1) state — so the same kernel
    * is streaming-legal. δ = 0.005, λ = 0.05 (value-scale units).
    *
    * Scale: one hash aggregate to the calendar-bounded bucket domain,
    * then a single-group fold (same shape as [[ewmaCompose]]).
    * Determinism: x_s and the running-sum integers are exact; m̄, U,
    * and the min-track are fixed IEEE expressions replayed
    * parenthesis-for-parenthesis by the oracle's recursive CTE.
    */
  def pageHinkley(events: DataFrame): DataFrame =
    pageHinkleyCompose(ewmaBucketAgg(events))

  /** The PH fold over materialized (bucket, xq) rows — shared by the
    * batch path above and the streaming chart (t30), so stream == batch
    * bitwise by construction (the t29/m23 sharing pattern).
    */
  def pageHinkleyCompose(g: DataFrame): DataFrame = {
    val s = g.sparkSession
    import s.implicits._
    g.select(col("bucket").cast("long"), col("xq").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroups { (_: Int, it: Iterator[(Long, Long)]) =>
        val pts = it.toVector.sortBy(_._1)
        var cum = 0L
        var u = 0.0
        var umin = 0.0
        pts.iterator.zipWithIndex.map { case ((b, xqv), i0) =>
          val i = i0 + 1
          cum += xqv
          val x = xqv.toDouble / 1e6
          val m = cum.toDouble / 1e6 / i
          u = u + ((x - m) - 0.005)
          umin = math.min(umin, u)
          (b, x, u, umin, (u - umin) > 0.05)
        }
      }
      .toDF("bucket", "x_mean", "ph", "ph_min", "alarm")
  }

  /** D35 (beyond reference): Page–Hinkley online drift track. */
  val d35: GraftQuery = GraftQuery(
    "d35_page_hinkley",
    (s, d) => pageHinkley(Tables.events(s, d)),
    Some(s"""WITH RECURSIVE e AS (SELECT epoch_us(ts) // $BucketUs AS bucket, value FROM events),
           |g AS (SELECT bucket, CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
           |        / count(*) * 1e6 + 0.5) AS BIGINT) AS xq FROM e GROUP BY 1),
           |ser AS (SELECT list(xq ORDER BY bucket) AS y, list(bucket ORDER BY bucket) AS bs,
           |        CAST(count(*) AS INT) AS n FROM g),
           |rec AS (
           |  SELECT y, bs, n, 1 AS i, y[1] AS cum,
           |         ((CAST(y[1] AS DOUBLE) / 1e6
           |           - CAST(y[1] AS DOUBLE) / 1e6 / 1) - 0.005) AS u,
           |         least(CAST(0 AS DOUBLE),
           |           ((CAST(y[1] AS DOUBLE) / 1e6
           |             - CAST(y[1] AS DOUBLE) / 1e6 / 1) - 0.005)) AS umin
           |  FROM ser WHERE n >= 1
           |  UNION ALL
           |  SELECT y, bs, n, i + 1, cum + y[i+1],
           |         u + ((CAST(y[i+1] AS DOUBLE) / 1e6
           |               - CAST(cum + y[i+1] AS DOUBLE) / 1e6 / (i + 1)) - 0.005),
           |         least(umin,
           |           u + ((CAST(y[i+1] AS DOUBLE) / 1e6
           |                 - CAST(cum + y[i+1] AS DOUBLE) / 1e6 / (i + 1)) - 0.005))
           |  FROM rec WHERE i < n)
           |SELECT bs[i] AS bucket, CAST(y[i] AS DOUBLE) / 1e6 AS x_mean,
           |  u AS ph, umin AS ph_min, (u - umin) > 0.05 AS alarm FROM rec""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): Spearman rank
    * correlation between the per-bucket MEAN VALUE and the per-bucket
    * EVENT COUNT — "does intensity move with volume", answered
    * nonparametrically (monotone association, outlier-proof where a
    * Pearson on raw values is not). Average ranks handle ties; carrying
    * DOUBLED ranks (2·rank_min + ties − 1, always an integer) keeps
    * every sum in exact BIGINT arithmetic — the doubling cancels in the
    * correlation quotient, whose one double division is the only IEEE
    * step. Returns one row (n, rho).
    *
    * Scale: the ranks are windows over the calendar-bounded bucket
    * domain (~120 rows), after one hash aggregate over the fact table.
    */
  def spearmanBuckets(events: DataFrame): DataFrame = {
    val g = events
      .select(expr(s"unix_micros(ts) div $BucketUs").as("bucket"), col("value"))
      .groupBy("bucket").agg(
        floor((sum(dec(col("value"))).cast("double") / count(lit(1))) * 1e6 + 0.5)
          .cast("long").as("xq"),
        count(lit(1)).as("cnt"))
    val r2 = (c: String) =>
      (lit(2) * rank().over(Window.orderBy(col(c))) +
        count(lit(1)).over(Window.partitionBy(col(c))) - 1).cast("long")
    g.select(r2("xq").as("ra"), r2("cnt").as("rb"))
      .agg(count(lit(1)).as("n"), sum("ra").as("sa"), sum("rb").as("sb"),
        sum(col("ra") * col("rb")).as("sab"),
        sum(col("ra") * col("ra")).as("saa"),
        sum(col("rb") * col("rb")).as("sbb"))
      .select(col("n"),
        ((col("n") * col("sab") - col("sa") * col("sb")).cast("double") /
          (sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double")) *
            sqrt((col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))))
          .as("rho"))
  }

  /** D36 (beyond reference): Spearman value-vs-volume association. */
  val d36: GraftQuery = GraftQuery(
    "d36_spearman_value_volume",
    (s, d) => spearmanBuckets(Tables.events(s, d)),
    Some(s"""WITH e AS (SELECT epoch_us(ts) // $BucketUs AS bucket, value FROM events),
           |g AS (SELECT bucket, CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
           |        / count(*) * 1e6 + 0.5) AS BIGINT) AS xq,
           |        CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1),
           |r AS (SELECT
           |        CAST(2 * rank() OVER (ORDER BY xq)
           |          + count(*) OVER (PARTITION BY xq) - 1 AS BIGINT) AS ra,
           |        CAST(2 * rank() OVER (ORDER BY cnt)
           |          + count(*) OVER (PARTITION BY cnt) - 1 AS BIGINT) AS rb
           |      FROM g),
           |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(ra) AS BIGINT) AS sa,
           |        CAST(sum(rb) AS BIGINT) AS sb, CAST(sum(ra * rb) AS BIGINT) AS sab,
           |        CAST(sum(ra * ra) AS BIGINT) AS saa, CAST(sum(rb * rb) AS BIGINT) AS sbb
           |      FROM r)
           |SELECT n, CAST(n * sab - sa * sb AS DOUBLE)
           |  / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
           |     * sqrt(CAST(n * sbb - sb * sb AS DOUBLE))) AS rho
           |FROM t""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): Bradley-Terry
    * preference-strength estimation from implicit pairwise comparisons —
    * the aggregation under every preference-data / RLHF-reward pipeline
    * (Bradley & Terry 1952). Comparisons are synthesized the way implicit-
    * feedback systems do it: per user, consecutive events (by ts,
    * event_id) whose types differ form one match between the two
    * `event_type`s; the larger `value` wins, ties going to the
    * lexicographically smaller type. Per type the estimator reports the
    * smoothed win-rate initialization s1 = (2W+1)/(N+1) and one damped MM
    * refinement s2 = (W+0.5) / Σ_o n_to/(s1_t + s1_o) (Hunter 2004's MM
    * step from s1).
    *
    * Determinism: the MM denominator's cross-opponent sum is quantized
    * per term to integer micro-units before summing (the codebase-wide
    * decSum discipline for order-free float folds); everything else is
    * integer counts and fixed-shape IEEE expressions. Scale: the pairing
    * is a per-user lag window (splittable by the user-key domain); all
    * downstream state is per-(type, opponent) — bounded by the type
    * vocabulary squared, not by row count.
    */
  def bradleyTerry(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val matches = events
      .select(col("user_id"), col("event_type"), col("value"), col("ts"), col("event_id"))
      .withColumn("pt", lag("event_type", 1).over(w))
      .withColumn("pv", lag("value", 1).over(w))
      .filter(col("pt").isNotNull && col("pt") =!= col("event_type"))
      .select(
        when(col("pt") < col("event_type"), col("pt")).otherwise(col("event_type")).as("a"),
        when(col("pt") < col("event_type"), col("event_type")).otherwise(col("pt")).as("b"),
        when(col("pt") < col("event_type"), col("pv")).otherwise(col("value")).as("av"),
        when(col("pt") < col("event_type"), col("value")).otherwise(col("pv")).as("bv"))
      .withColumn("a_win", when(col("av") >= col("bv"), 1L).otherwise(0L))
    val pairAgg = matches.groupBy("a", "b")
      .agg(count(lit(1)).as("n"), sum("a_win").as("w"))
    // directed per-(type, opponent) view: each undirected pair feeds both sides
    val directed = pairAgg.select(explode(array(
        struct(col("a").as("t"), col("b").as("o"), col("n"), col("w").as("w_to")),
        struct(col("b").as("t"), col("a").as("o"), col("n"),
          (col("n") - col("w")).as("w_to")))).as("r"))
      .select(col("r.t"), col("r.o"), col("r.n").as("n_to"), col("r.w_to"))
    val perType = directed.groupBy("t")
      .agg(sum("n_to").as("n_matches"), sum("w_to").as("n_wins"))
      .withColumn("s1",
        (lit(2.0) * col("n_wins").cast("double") + lit(1.0))
          / (col("n_matches").cast("double") + lit(1.0)))
    val s1t = perType.select(col("t"), col("s1"))
    val denom = directed
      .join(broadcast(s1t), Seq("t"))
      .join(broadcast(s1t.select(col("t").as("o"), col("s1").as("s1_o"))), Seq("o"))
      .withColumn("q", floor(
        col("n_to").cast("double") / (col("s1") + col("s1_o")) * lit(1e6) + lit(0.5))
        .cast("long"))
      .groupBy("t").agg(sum("q").as("den"))
    perType.join(denom, Seq("t"))
      .select(col("t").as("event_type"), col("n_matches"), col("n_wins"), col("s1"),
        ((col("n_wins").cast("double") + lit(0.5)) * lit(1e6)
          / col("den").cast("double")).as("s2"))
  }

  /** D37 (beyond reference): Bradley-Terry strengths over the event-type
    * preference graph.
    */
  val d37: GraftQuery = GraftQuery(
    "d37_bradley_terry",
    (s, d) => bradleyTerry(Tables.events(s, d)),
    Some("""WITH o AS (SELECT user_id, event_type, value,
           |        lag(event_type) OVER w AS pt, lag(value) OVER w AS pv
           |      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |m AS (SELECT CASE WHEN pt < event_type THEN pt ELSE event_type END AS a,
           |             CASE WHEN pt < event_type THEN event_type ELSE pt END AS b,
           |             CASE WHEN pt < event_type THEN pv ELSE value END AS av,
           |             CASE WHEN pt < event_type THEN value ELSE pv END AS bv
           |      FROM o WHERE pt IS NOT NULL AND pt <> event_type),
           |p AS (SELECT a, b, count(*) AS n,
           |        sum(CASE WHEN av >= bv THEN 1 ELSE 0 END) AS w FROM m GROUP BY 1, 2),
           |d AS (SELECT a AS t, b AS o, n AS n_to, w AS w_to FROM p
           |      UNION ALL
           |      SELECT b, a, n, n - w FROM p),
           |ty AS (SELECT t, CAST(sum(n_to) AS BIGINT) AS n_matches,
           |         CAST(sum(w_to) AS BIGINT) AS n_wins FROM d GROUP BY 1),
           |s1 AS (SELECT t, n_matches, n_wins,
           |         (2.0 * CAST(n_wins AS DOUBLE) + 1.0)
           |           / (CAST(n_matches AS DOUBLE) + 1.0) AS s1 FROM ty),
           |dn AS (SELECT d.t, CAST(sum(CAST(floor(CAST(n_to AS DOUBLE)
           |           / (x.s1 + y.s1) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS den
           |       FROM d JOIN s1 x ON d.t = x.t JOIN s1 y ON d.o = y.t GROUP BY 1)
           |SELECT s1.t AS event_type, n_matches, n_wins, s1,
           |  (CAST(n_wins AS DOUBLE) + 0.5) * 1e6 / CAST(den AS DOUBLE) AS s2
           |FROM s1 JOIN dn ON s1.t = dn.t""".stripMargin))

  val all: Seq[GraftQuery] =
    Seq(d2, d3, d4, d5, d6, d7, d8, d9, d10, d11, d12, d13, d14, d15, d16, d17, d18, d19, d20,
      d21, d22, d23, d24, d25, d26, d27, d28, d29, d30, d31, d32, d33, d34, d35, d36, d37, a22,
      a23, m12, m13, m14, m21, m23, m26)
}

/** Binned calibration rows for the d23 PAVA kernel. */
final case class CalBin(bin: Int, n: Long, pos: Long)
final case class CalFit(bin: Int, n: Long, pos: Long, rate: Double, fitted: Double)
