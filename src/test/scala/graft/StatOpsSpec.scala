package graft

import graft.core.Tables
import graft.operators.{StatOps, TextOps, VectorOps}
import org.apache.spark.sql.functions._

/** Semantic invariants for the statistical-monitoring ops (d2/d3/a22/m12)
  * plus the round-7 retrieval/corpus additions (v17 kNN graph, x39 n-gram
  * top-k). The DuckDB oracle covers value equality; these gates check the
  * *statistics* behave like the statistics they claim to be.
  */
class StatOpsSpec extends SparkSpec {

  import SparkSpec.spark.implicits._

  test("d2 PSI: 10-bin spine, counts conserve the row total, terms finite") {
    val out = StatOps.d2.build(spark, sf).collect()
    assert(out.length == 10)
    assert(out.map(_.getAs[Int]("bin")).sorted.toSeq == (0 until 10))
    val total = out.map(r => r.getAs[Long]("ref_n") + r.getAs[Long]("cur_n")).sum
    assert(total == Tables.events(spark, sf).count())
    assert(out.forall { r =>
      val t = r.getAs[Double]("psi_term")
      !t.isNaN && !t.isInfinite
    })
  }

  test("d3 KS: one row, statistic in [0, 1], sample sizes match the populations") {
    val out = StatOps.d3.build(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val ks = r.getAs[Double]("ks_stat")
    assert(ks >= 0.0 && ks <= 1.0)
    val byType = Tables.events(spark, sf).groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(r.getAs[Long]("n_a") == byType("click"))
    assert(r.getAs[Long]("n_b") == byType("error"))
  }

  test("a23 KMV overlap: exact at k >= |union|, bounded error below it") {
    import SparkSpec.spark.implicits._
    // planted: A = 1..100, B = 51..150 → J = 50/150 = 1/3
    val rows = (1L to 100L).map(("A", _)) ++ (51L to 150L).map(("B", _))
    val df = rows.toDF("g", "id")
    val exactRun = StatOps.kmvOverlap(df, "g", "id", k = 256).collect().head
    assert(exactRun.getAs[Double]("exact_jaccard") === 50.0 / 150.0)
    // k >= |union| → the sketch IS the set, estimate must equal exact
    assert(exactRun.getAs[Double]("est_jaccard") === exactRun.getAs[Double]("exact_jaccard"))
    assert(exactRun.getAs[Long]("kk") === 150L)
    // truncated sketch: estimator noise is ~1/sqrt(k); allow 4 sigma
    val est = StatOps.kmvOverlap(df, "g", "id", k = 64).collect().head
    assert(est.getAs[Long]("kk") === 64L)
    assert(math.abs(est.getAs[Double]("est_jaccard") - 1.0 / 3.0) < 4.0 / math.sqrt(64.0))
  }

  test("d22 MI: ln(2) for a perfectly dependent pair, ~0 for independence") {
    import SparkSpec.spark.implicits._
    // dependent: y == x on a uniform binary x → I = ln 2
    val dep = (1 to 100).map(i => (if (i % 2 == 0) "a" else "b", if (i % 2 == 0) "p" else "q"))
      .toDF("x", "y")
    val miDep = StatOps.mutualInformation(dep, "x", "y")
      .select("mi_total").head().getDouble(0)
    assert(math.abs(miDep - math.log(2.0)) < 1e-8)
    // independent: all 4 cells equal mass → I = 0 exactly (each term ln 1)
    val ind = (for { i <- 1 to 25; x <- Seq("a", "b"); y <- Seq("p", "q") } yield (x, y))
      .toDF("x", "y")
    val miInd = StatOps.mutualInformation(ind, "x", "y")
      .select("mi_total").head().getDouble(0)
    assert(miInd === 0.0)
  }

  test("d23 PAVA: pools violations, preserves mass, fitted non-decreasing") {
    import SparkSpec.spark.implicits._
    // bins with a planted violation: rates 0.1, 0.5, 0.3, 0.9
    val agg = Seq((0, 10L, 1L), (1, 10L, 5L), (2, 10L, 3L), (3, 10L, 9L))
      .toDF("bin", "n", "pos")
    val out = StatOps.pavaFit(agg).collect()
      .map(r => r.getAs[Int]("bin") -> r.getAs[Double]("fitted")).sortBy(_._1)
    // bins 1 and 2 must pool to (5+3)/20 = 0.4; ends untouched
    assert(out.map(_._2).toSeq === Seq(0.1, 0.4, 0.4, 0.9))
    // monotone + mass conservation (sum fitted·n == sum pos)
    assert(out.map(_._2).sliding(2).forall(p => p.head <= p.last))
    assert(math.abs(out.map(_._2).sum * 10 - 18.0) < 1e-12)
    // fully decreasing input collapses to one pool at the global rate
    val dec = Seq((0, 10L, 9L), (1, 10L, 5L), (2, 10L, 1L)).toDF("bin", "n", "pos")
    val flat = StatOps.pavaFit(dec).collect().map(_.getAs[Double]("fitted"))
    assert(flat.forall(_ === 0.5))
  }

  test("d24 mSPRT: no rejection under the null, rejection under a planted lift") {
    import SparkSpec.spark.implicits._
    // null: both arms see the identical 0/1 mix in every bucket → delta = 0,
    // ln Λ = ½·ln(V/(V+τ²)) < 0 → never rejects no matter how long we watch
    val nullRows = for {
      b <- 0L until 10L; i <- 1 to 50; isa <- Seq(true, false)
    } yield (b, isa, (i % 2).toDouble)
    val nullOut = StatOps.msprtMonitor(nullRows.toDF("bucket", "isa", "value"))
      .orderBy("bucket").collect()
    assert(nullOut.length == 10)
    assert(nullOut.forall(!_.getAs[Boolean]("reject")))
    assert(nullOut.forall(_.getAs[Double]("ln_lambda") < 0.0))
    // cumulative sample sizes are monotone and end at the full population
    val nas = nullOut.map(_.getAs[Long]("na"))
    assert(nas.sliding(2).forall(p => p.head <= p.last) && nas.last == 500L)
    // planted lift: arm A mean 1, arm B mean 0, within-arm variance from a
    // small 0/2 mix → ln Λ grows with n and must cross ln(20) well before
    // bucket 10 (n = 250/arm at b=4 → δ²/V ≈ n/2 ≫ ln 20)
    val liftRows = for {
      b <- 0L until 10L; i <- 1 to 50; isa <- Seq(true, false)
    } yield (b, isa, (if (isa) 1.0 else 0.0) + (if (i % 2 == 0) 0.5 else -0.5))
    val lift = StatOps.msprtMonitor(liftRows.toDF("bucket", "isa", "value"))
      .orderBy("bucket").collect()
    assert(lift.last.getAs[Boolean]("reject"))
    // once rejected, stays rejected (ln Λ monotone here: δ fixed, V shrinking)
    val lls = lift.map(_.getAs[Double]("ln_lambda"))
    assert(lls.sliding(2).forall(p => p.head <= p.last))
    assert(math.abs(lift.last.getAs[Double]("delta") - 1.0) < 1e-9)
  }

  test("d25 BH: p calibrated at z=0, step-up rescues a locally-failing rank") {
    import SparkSpec.spark.implicits._
    // A&S 26.2.17 at z=0: p = 2*(1-Phi(0)) = 1 to ~7.5e-8 (quantized 9 dp)
    val base = StatOps.bhAdjust(
      Seq(("t1", 0.0), ("t2", 10.0), ("t3", 4.0)).toDF("test_id", "z"))
      .collect().map(r => r.getAs[String]("test_id") -> r).toMap
    assert(math.abs(base("t1").getAs[Double]("p") - 1.0) < 1e-6)
    assert(base("t2").getAs[Double]("p") < 1e-9 + 1e-12)
    // p monotone decreasing in |z| => rank order t2, t3, t1
    assert(base("t2").getAs[Int]("rank") == 1 && base("t1").getAs[Int]("rank") == 3)
    assert(base("t2").getAs[Boolean]("reject") && base("t3").getAs[Boolean]("reject"))
    assert(!base("t1").getAs[Boolean]("reject"))
    // the STEP-UP property: p_(1)=0.0293 > 0.025 fails its own threshold but
    // p_(2)=0.0444 <= 0.05 sets kmax=2, rejecting BOTH (Holm/Bonferroni
    // would reject neither) — z values chosen to land on those p's
    val su = StatOps.bhAdjust(
      Seq(("a", 2.1775), ("b", 2.0128)).toDF("test_id", "z"))
      .collect().map(r => r.getAs[String]("test_id") -> r).toMap
    assert(su("a").getAs[Double]("p") > 0.025 && su("a").getAs[Int]("rank") == 1)
    assert(su("b").getAs[Double]("p") <= 0.05)
    assert(su("a").getAs[Boolean]("reject") && su("b").getAs[Boolean]("reject"))
  }

  test("d26 SRM: chi2 replays from the arm counts, flag matches the critical value") {
    val out = StatOps.d26.build(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val na = r.getAs[Long]("n_a"); val nb = r.getAs[Long]("n_b")
      assert(na + nb > 0)
      val want = math.floor((na - nb).toDouble * (na - nb).toDouble /
        (na + nb).toDouble * 1e9 + 0.5) / 1e9
      assert(r.getAs[Double]("chi2") == want)
      assert(r.getAs[Boolean]("srm") == (want > 3.841458820694124))
    }
  }

  test("d27 DiD nets out group and time effects; identity replays from cell means") {
    val out = StatOps.d27.build(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val did = (r.getAs[Double]("m_t1") - r.getAs[Double]("m_t0")) -
      (r.getAs[Double]("m_c1") - r.getAs[Double]("m_c0"))
    assert(r.getAs[Double]("did") == did)
    assert(r.getAs[Double]("se") > 0.0)
    assert(r.getAs[Double]("t_stat") == did / r.getAs[Double]("se"))
    val n = Seq("n_t0", "n_t1", "n_c0", "n_c1").map(r.getAs[Long]).sum
    assert(n == Tables.events(spark, sf).count())
  }

  test("m22 reconciliation: bottom-up sum replays from per-user drift lines") {
    val out = graft.operators.Forecast.m22.build(spark, sf).collect()
      .map(r => r.getAs[Int]("h") -> r).toMap
    assert(out.keySet == (1 to 12).toSet)
    // local replay of the bottom-up side: per-child OLS in the same
    // integer coordinates (t rebased to the global origin, centi-units)
    val ser = Tables.events(spark, sf)
      .groupBy(col("event_type"),
        graft.functions.Funcs.timestampBucket(col("ts"), 300L).as("b"))
      .agg(graft.functions.Funcs.decSum(col("value")).as("demand"))
      .selectExpr("event_type", "unix_micros(b) div 300000000 AS tr",
        "CAST(floor(demand * 100 + 0.5) AS LONG) AS y100")
      .as[(String, Long, Long)].collect()
    val t0 = ser.map(_._2).min
    val tg = ser.map(_._2).max - t0
    // spine-fill: every type on every observed bucket, absent = 0
    val allTs = ser.map(_._2).distinct
    val byType = ser.groupBy(_._1).view
      .mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    def olsLine(pts: Seq[(Long, Long)]): (Double, Double) = {
      val n = pts.length
      val st = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val stt = pts.map(p => p._1 * p._1).sum
      val sty = pts.map(p => p._1 * p._2).sum
      val den = n.toDouble * stt.toDouble - st.toDouble * st.toDouble
      val b = if (den == 0) 0.0
        else (n.toDouble * sty.toDouble - st.toDouble * sy.toDouble) / den
      ((sy.toDouble - b * st.toDouble) / n.toDouble, b)
    }
    val byC = byType.view.mapValues { m =>
      olsLine(allTs.map(tr => (tr - t0, m.getOrElse(tr, 0L))).toSeq)
    }.toMap
    (1 to 12).foreach { h =>
      val sq = byC.values.map { case (a, b) =>
        math.floor((a + b * (tg + h).toDouble) * 1e4 + 0.5).toLong
      }.sum
      assert(out(h).getAs[Double]("bottom_up_sum") == sq.toDouble / 1e6, s"h=$h")
      val gd = out(h).getAs[Double]("global_direct")
      assert(out(h).getAs[Double]("reconcile_ratio") == gd / (sq.toDouble / 1e6))
    }
    // the global line replays from the summed child series
    val gPts = ser.groupBy(_._2).map { case (tr, rows) =>
      (tr - t0, rows.map(_._3).sum)
    }.toSeq
    val (ga, gb) = olsLine(gPts)
    (1 to 12).foreach { h =>
      assert(out(h).getAs[Double]("global_direct") ==
        (ga + gb * (tg + h).toDouble) / 100.0, s"global at h=$h")
    }
    // THE COHERENCE IDENTITY: on the common spine, OLS is linear in y, so
    // bottom-up == direct up to the 1e4 child quantization
    (1 to 12).foreach { h =>
      val r = out(h).getAs[Double]("reconcile_ratio")
      assert(math.abs(r - 1.0) < 1e-4, s"coherence broken at h=$h: $r")
    }
  }

  test("d30 Brown-Forsythe: F replays from exact medians and deviations") {
    val rows = Tables.events(spark, sf)
      .selectExpr("value", "user_id % 2 = 0 AS isa").collect()
      .map(r => (r.getDouble(0), r.getBoolean(1)))
    val a = rows.filter(_._2).map(_._1).sorted
    val b = rows.filterNot(_._2).map(_._1).sorted
    val medA = a(math.ceil(0.5 * a.length).toInt - 1)
    val medB = b(math.ceil(0.5 * b.length).toInt - 1)
    val r = StatOps.d30.build(spark, sf).head()
    assert(r.getAs[Double]("med_a") == medA && r.getAs[Double]("med_b") == medB)
    assert(r.getAs[Long]("n1") == a.length.toLong && r.getAs[Long]("n2") == b.length.toLong)
    // deviations are 2-dp exact: replay moments in BigDecimal cents
    def mom(xs: Array[Double], m: Double): (BigDecimal, BigDecimal) = {
      val ds = xs.map(x => (BigDecimal(x).setScale(4) - BigDecimal(m).setScale(4)).abs)
      (ds.sum, ds.map(d => d * d).sum)
    }
    val (s1, q1) = mom(a, medA); val (s2, q2) = mom(b, medB)
    val (s1d, q1d, s2d, q2d) = (s1.toDouble, q1.toDouble, s2.toDouble, q2.toDouble)
    val nn = (a.length + b.length).toDouble
    val ssb = s1d * s1d / a.length + s2d * s2d / b.length - (s1d + s2d) * (s1d + s2d) / nn
    val ssw = (q1d - s1d * s1d / a.length) + (q2d - s2d * s2d / b.length)
    val f = ssb / (ssw / (nn - 2.0))
    assert(math.abs(r.getAs[Double]("f_stat") - f) < 1e-9 * math.max(1.0, math.abs(f)))
    assert(r.getAs[Double]("f_stat") >= 0.0)
  }

  test("m23 EWMA chart: recursion and warm-up limits replay locally") {
    val out = StatOps.m23.build(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val xs = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) div 21600000000 as bucket", "value")
      .groupBy("bucket")
      .agg(floor((sum(col("value").cast("decimal(18,4)")).cast("double") /
        count(lit(1))) * 1e6 + 0.5).cast("long").as("xq"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.size == xs.length && xs.length > 10)
    val n = xs.length
    val sy = xs.map(_._2).sum; val syy = xs.map(p => p._2 * p._2).sum
    val mu = sy.toDouble / n / 1e6
    val sigma = math.sqrt((n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble) /
      (n.toDouble * (n.toDouble - 1.0))) / 1e6
    var z = xs.head._2.toDouble / 1e6
    var p = 1.0
    xs.foreach { case (b, xq) =>
      val x = xq.toDouble / 1e6
      z = 0.2 * x + 0.8 * z
      p = p * 0.8 * 0.8
      val half = 3.0 * sigma * math.sqrt(0.2 / 1.8 * (1.0 - p))
      val r = out(b)
      assert(r.getAs[Double]("ewma") == z, s"ewma at bucket $b")
      assert(r.getAs[Double]("lcl") == mu - half && r.getAs[Double]("ucl") == mu + half)
      assert(r.getAs[Boolean]("out_of_control") == (z < mu - half || z > mu + half))
    }
    // warm-up: the band is strictly widening toward the asymptote
    val sorted = xs.map(_._1).map(out)
    val widths = sorted.map(r => r.getAs[Double]("ucl") - r.getAs[Double]("lcl"))
    assert(widths.sliding(2).forall(w => w.head <= w.last))
  }

  test("d29 QTE: quantiles match a local exact order statistic per arm") {
    val rows = Tables.events(spark, sf)
      .selectExpr("value", "user_id % 2 = 0 AS isa").collect()
      .map(r => (r.getDouble(0), r.getBoolean(1)))
    val a = rows.filter(_._2).map(_._1).sorted
    val b = rows.filterNot(_._2).map(_._1).sorted
    val got = StatOps.d29.build(spark, sf).collect()
      .map(r => r.getDouble(0) -> r).toMap
    assert(got.keySet == Set(0.25, 0.5, 0.75))
    Seq(0.25, 0.5, 0.75).foreach { q =>
      val qa = a(math.ceil(q * a.length).toInt - 1)
      val qb = b(math.ceil(q * b.length).toInt - 1)
      assert(got(q).getAs[Double]("q_a") == qa, s"q_a at $q")
      assert(got(q).getAs[Double]("q_b") == qb, s"q_b at $q")
      assert(got(q).getAs[Double]("qte") == qa - qb)
    }
    // quantiles are monotone in q within each arm
    val g = Seq(0.25, 0.5, 0.75).map(q => got(q).getAs[Double]("q_a"))
    assert(g.sliding(2).forall(p => p.head <= p.last))
  }

  test("m21 dominant period: eta2 replays from the bucket series, bounds hold") {
    val out = StatOps.m21.build(spark, sf).collect()
      .map(r => r.getAs[Int]("period") -> r).toMap
    assert(out.keySet == Set(2, 3, 4, 8, 12, 28))
    // local replay from the same 1e6-quantized bucket means
    val xs = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) div 21600000000 as bucket", "value")
      .groupBy("bucket")
      .agg(floor((sum(col("value").cast("decimal(18,4)")).cast("double") /
        count(lit(1))) * 1e6 + 0.5).cast("long").as("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val st = xs.map(_._2).sum; val nt = xs.length
    val mt = st.toDouble / nt
    Seq(2, 3, 4, 8, 12, 28).foreach { p =>
      val byPhase = xs.groupBy(_._1 % p)
      val ssw = xs.map { case (b, x) =>
        val g = byPhase(b % p).map(_._2)
        val m = g.sum.toDouble / g.length
        math.floor((x - m) * (x - m) + 0.5).toLong
      }.sum
      val sst = xs.map { case (_, x) =>
        math.floor((x - mt) * (x - mt) + 0.5).toLong
      }.sum
      val eta = if (sst == 0) 0.0 else 1.0 - ssw.toDouble / sst.toDouble
      assert(out(p).getAs[Double]("eta2") == eta, s"eta2 period $p")
      assert(out(p).getAs[Long]("n_buckets") == nt.toLong)
    }
    // dominance marks the max (ties allowed but at least one row)
    val maxEta = out.values.map(_.getAs[Double]("eta2")).max
    out.values.foreach { r =>
      assert(r.getAs[Boolean]("dominant") == (r.getAs[Double]("eta2") == maxEta))
    }
  }

  test("d28 report: every number equals its standalone operator's, bitwise") {
    // value is nullable by design: d19's z is null on a degenerate arm
    // (the sf0.001 fixture) — the report must carry that null through
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val rep = StatOps.d28.build(spark, sf).collect()
      .map(r => r.getString(0) -> opt(r, 1)).toMap
    assert(rep.size == 6)
    val srm = StatOps.d26.build(spark, sf).collect().map(_.getAs[Double]("chi2")).max
    assert(rep("srm_worst_chi2").contains(srm))
    assert(rep("welch_t").contains(
      StatOps.a22.build(spark, sf).head().getAs[Double]("t_stat")))
    val z = StatOps.d19.build(spark, sf).head()
    assert(rep("two_prop_z") == opt(z, z.fieldIndex("z")))
    assert(rep("cuped_reduction").contains(
      StatOps.d18.build(spark, sf).head().getAs[Double]("reduction")))
    assert(rep("did_t").contains(
      StatOps.d27.build(spark, sf).head().getAs[Double]("t_stat")))
    val bh = StatOps.d25.build(spark, sf).collect().count(_.getAs[Boolean]("reject"))
    assert(rep("bh_rejections").contains(bh.toDouble))
  }

  test("m20 Croston matches a full local replay; ratio identities hold exactly") {
    import SparkSpec.spark.implicits._
    val got = graft.operators.Forecast.m20.build(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.nonEmpty)
    // replay: same bucketing (5-min, DECIMAL(18,2) avg), same fold
    val ser = Tables.events(spark, sf)
      .groupBy(col("user_id"),
        expr("unix_millis(ts) div 300000").as("q"))
      .agg((sum(col("value").cast("decimal(18,2)")).cast("double") /
        count(col("value"))).as("demand"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (u, rows) =>
        val pts = rows.sortBy(_._2)
        val q = pts.map(_._2); val y = pts.map(_._3); val n = pts.length
        var zh = y.head
        var ph = if (n == 1) 1.0 else (q.last - q.head).toDouble / (n - 1).toDouble
        var j = 1
        while (j < n) {
          zh = 0.1 * y(j) + 0.9 * zh
          ph = 0.1 * (q(j) - q(j - 1)).toDouble + 0.9 * ph
          j += 1
        }
        u -> (n.toLong, zh, ph)
      }
    assert(got.keySet == ser.keySet)
    ser.foreach { case (u, (n, zh, ph)) =>
      val r = got(u)
      assert(r.getAs[Long]("n_demands") == n)
      assert(r.getAs[Double]("z_hat") == zh, s"z_hat user $u")
      assert(r.getAs[Double]("p_hat") == ph, s"p_hat user $u")
      assert(r.getAs[Double]("croston") == zh / ph)
      assert(r.getAs[Double]("sba") == 0.95 * (zh / ph))
      assert(ph >= 1.0) // intervals are >= 1 bucket, and so is their EWMA
    }
  }

  test("m19 pinball backtest matches a local replay at all three quantiles") {
    val got = graft.operators.Forecast.m19.build(spark, sf).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(0.1, 0.5, 0.9))
    // local replay on the bucketed series
    val pts = Tables.events(spark, sf)
      .groupBy(col("user_id"),
        graft.functions.Funcs.timestampBucket(col("ts"), 300L).as("b"))
      .agg(graft.functions.Funcs.decAvg(col("value")).as("demand"))
      .select(col("user_id"), unix_micros(col("b")).as("us"), col("demand"))
      .as[(Long, Long, Double)].collect()
    val mid = (pts.map(_._2).min + pts.map(_._2).max) / 2
    val train = pts.filter(_._2 < mid).groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3).sorted }
    val test = pts.filter(_._2 >= mid)
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val terms = test.flatMap { case (u, _, y) =>
        train.get(u).map { arr =>
          val pred = arr(math.ceil(q * arr.length).toInt - 1)
          val t = if (y >= pred) q * (y - pred) else (1.0 - q) * (pred - y)
          math.floor(t * 1e9 + 0.5).toLong
        }
      }
      val expect = (terms.sum.toDouble / 1e9) / terms.length
      assert(got(q)._1 == terms.length.toLong)
      assert(math.abs(got(q)._2 - expect) < 1e-12, s"q=$q")
    }
  }

  test("a22 Welch t-test matches a local double recomputation within 1e-6") {
    val r = StatOps.a22.build(spark, sf).collect().head
    def sample(t: String): Array[Double] = Tables.events(spark, sf)
      .filter(col("event_type") === t).select("value").as[Double].collect()
    val (a, b) = (sample("click"), sample("error"))
    def meanVar(x: Array[Double]): (Double, Double) = {
      val m = x.sum / x.length
      (m, x.map(v => (v - m) * (v - m)).sum / (x.length - 1))
    }
    val ((m1, v1), (m2, v2)) = (meanVar(a), meanVar(b))
    val se2 = v1 / a.length + v2 / b.length
    val t = (m1 - m2) / math.sqrt(se2)
    val df = se2 * se2 /
      (math.pow(v1 / a.length, 2) / (a.length - 1) + math.pow(v2 / b.length, 2) / (b.length - 1))
    assert(r.getAs[Long]("n1") == a.length && r.getAs[Long]("n2") == b.length)
    assert(math.abs(r.getAs[Double]("t_stat") - t) < 1e-6)
    assert(math.abs(r.getAs[Double]("df") - df) < 1e-3)
  }

  test("m12 CUSUM replays a local ordered fold; peak rows are exactly the max |cusum|") {
    val out = StatOps.m12.build(spark, sf).orderBy("bucket").collect()
    assert(out.nonEmpty)
    val n = out.map(_.getAs[Long]("n")).sum.toDouble
    val mu = out.map(r => r.getAs[Double]("x_mean") * r.getAs[Long]("n")).sum / n
    var acc = 0.0
    out.foreach { r =>
      acc += r.getAs[Long]("n") * (r.getAs[Double]("x_mean") - mu)
      assert(math.abs(r.getAs[Double]("cusum") - acc) < 5e-4,
        s"bucket ${r.getAs[Long]("bucket")}: ${r.getAs[Double]("cusum")} vs $acc")
    }
    val peak = out.map(r => math.abs(r.getAs[Double]("cusum"))).max
    val flagged = out.filter(_.getAs[Boolean]("is_peak"))
    assert(flagged.nonEmpty)
    assert(flagged.forall(r => math.abs(r.getAs[Double]("cusum")) == peak))
  }

  test("v17 kNN graph: <= 3 neighbors per node, cos in [-1, 1], no self-edges") {
    val edges = VectorOps.v17.build(spark, sf).collect()
    val bySrc = edges.groupBy(_.getAs[Long]("src_id"))
    assert(bySrc.values.forall(_.length <= 3))
    assert(edges.forall(r => r.getAs[Long]("src_id") != r.getAs[Long]("neighbor_id")))
    assert(edges.forall { r =>
      val c = r.getAs[Double]("cos"); c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12
    })
  }

  test("d4 chi-square: categories conserve totals, terms non-negative and finite") {
    val out = StatOps.d4.build(spark, sf).collect()
    val types = Tables.events(spark, sf).select("event_type").distinct()
      .as[String].collect().toSet
    assert(out.map(_.getAs[String]("event_type")).toSet == types)
    val total = out.map(r => r.getAs[Long]("ref_n") + r.getAs[Long]("cur_n")).sum
    assert(total == Tables.events(spark, sf).count())
    assert(out.forall { r =>
      val t = r.getAs[Double]("chi2_term")
      t >= 0.0 && !t.isNaN && !t.isInfinite
    })
  }

  test("d5 key-skew: totals match the table, hot key attains max_n, ratio >= 1") {
    val r = StatOps.d5.build(spark, sf).collect().head
    val li = Tables.lineitem(spark, sf)
    assert(r.getAs[Long]("total_n") == li.count())
    assert(r.getAs[Long]("n_keys") == li.select("l_partkey").distinct().count())
    val hotN = li.filter(col("l_partkey") === r.getAs[Long]("hot_key")).count()
    assert(hotN == r.getAs[Long]("max_n"))
    assert(r.getAs[Double]("skew_ratio") >= 1.0)
  }

  test("w8 sessionization: sessions partition events and respect the 6h gap rule") {
    val gapUs = 21600000000L
    val sess = graft.operators.Relational.w8.build(spark, sf).collect()
    assert(sess.map(_.getAs[Long]("n_events")).sum == Tables.events(spark, sf).count())
    // replay one user locally: break positions must match exactly
    val uid = sess.head.getAs[Long]("user_id")
    val times = Tables.events(spark, sf).filter(col("user_id") === uid)
      .select(unix_micros(col("ts"))).as[Long].collect().sorted
    val localSessions = times.foldLeft(List.empty[List[Long]]) {
      case (acc, t) if acc.nonEmpty && t - acc.head.head <= gapUs =>
        (t :: acc.head) :: acc.tail
      case (acc, t) => List(t) :: acc
    }
    val mine = sess.filter(_.getAs[Long]("user_id") == uid)
      .map(_.getAs[Long]("n_events")).sorted.toSeq
    assert(mine == localSessions.map(_.length).sorted)
  }

  test("w9 funnel: stage counts are monotone and match a local strict-order replay") {
    val r = graft.operators.Relational.w9.build(spark, sf).collect().head
    val (nv, nc, np) =
      (r.getAs[Long]("n_view"), r.getAs[Long]("n_click"), r.getAs[Long]("n_purchase"))
    assert(nv >= nc && nc >= np && np >= 0)
    // local replay over (user, type, ts)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .as[(Long, String, Long)].collect()
    def firstAtOrAfter(u: Long, t: String, lo: Long): Option[Long] = {
      val c = ev.collect { case (`u`, `t`, ts) if ts >= lo => ts }
      if (c.isEmpty) None else Some(c.min)
    }
    val users = ev.map(_._1).distinct
    var (lv, lc, lp) = (0L, 0L, 0L)
    users.foreach { u =>
      firstAtOrAfter(u, "view", Long.MinValue).foreach { fv =>
        lv += 1
        firstAtOrAfter(u, "click", fv).foreach { fc =>
          lc += 1
          firstAtOrAfter(u, "purchase", fc).foreach(_ => lp += 1)
        }
      }
    }
    assert((nv, nc, np) == ((lv, lc, lp)))
  }

  test("m13 STL: one row per day, exact additive reconstruction, dow seasonal is centered-ish") {
    val out = StatOps.m13.build(spark, sf).collect()
    assert(out.length == Tables.events(spark, sf)
      .select(to_date(col("ts"))).distinct().count())
    out.foreach { r =>
      val recon = r.getAs[Double]("trend") + r.getAs[Double]("seasonal") +
        r.getAs[Double]("residual")
      assert(math.abs(recon - r.getAs[Double]("daily_mean")) < 1e-9,
        s"day ${r.getAs[java.sql.Date]("day")}: reconstruction off")
    }
    // seasonal is a per-dow constant: each dow group carries one value
    val byDow = out.groupBy(r =>
      (r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay % 7).toInt)
    byDow.values.foreach { rs =>
      assert(rs.map(_.getAs[Double]("seasonal")).distinct.length == 1)
    }
  }

  test("x39 n-gram top-k: descending counts, well-formed bigrams, k rows") {
    val out = TextOps.x39.build(spark, sf).collect()
    assert(out.length == 20)
    val cnts = out.map(_.getAs[Long]("cnt"))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    assert(out.forall(_.getAs[String]("bigram").matches("[a-z0-9]+ [a-z0-9]+")))
  }

  test("d7 calibration: counts conserve, ECE bounded, confidences sit inside their bins") {
    val out = StatOps.d7.build(spark, sf).collect()
    assert(out.map(_.getAs[Long]("n")).sum == Tables.embeddings(spark, sf).count())
    val ece = out.map(_.getAs[Double]("ece_term")).sum
    assert(ece >= 0.0 && ece <= 1.0)
    out.foreach { r =>
      val b = r.getAs[Int]("bin")
      val m = r.getAs[Double]("mean_score")
      val fp = r.getAs[Double]("frac_pos")
      assert(m >= b / 10.0 - 1e-6 && m <= (b + 1) / 10.0 + 1e-6,
        s"bin $b mean_score $m outside bin bounds")
      assert(fp >= 0.0 && fp <= 1.0)
    }
  }

  test("w14 trigrams: full-domain totals match per-user window arithmetic") {
    // the registry query truncates to top-20; the full-domain check uses
    // a k larger than |types|^3 so nothing is cut
    val full = graft.operators.Relational
      .eventTrigrams(Tables.events(spark, sf), k = 1000).collect()
    val perUser = Tables.events(spark, sf).groupBy("user_id").count()
      .as[(Long, Long)].collect()
    val expected = perUser.map { case (_, n) => math.max(0L, n - 2) }.sum
    assert(full.map(_.getAs[Long]("n")).sum == expected)
    assert(full.forall(_.getAs[String]("trigram").split(">").length == 3))
    val top = graft.operators.Relational.w14.build(spark, sf).collect()
    assert(top.length == math.min(20, full.length))
    assert(top.map(_.getAs[Long]("n")).min >=
      full.map(_.getAs[Long]("n")).sorted(Ordering[Long].reverse)
        .take(20).min)
  }

  test("w15 gap histogram: rows conserve (events - users), pct sums to 1, buckets sane") {
    val out = graft.operators.Relational.w15.build(spark, sf).collect()
    val ev = Tables.events(spark, sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n")).sum == expected)
    assert(math.abs(out.map(_.getAs[Double]("pct")).sum - 1.0) < 1e-9)
    assert(out.forall { r =>
      val b = r.getAs[Int]("bucket"); b >= 0 && b <= 64
    })
  }

  test("m15 theta: 12 rows per series, widths widen with h, constant series stay flat") {
    val out = graft.operators.Forecast.m15.build(spark, sf).collect()
    val byUser = out.groupBy(_.getAs[Long]("user_id"))
    assert(byUser.nonEmpty)
    assert(byUser.values.forall(_.length == 12))
    byUser.values.foreach { rs =>
      val widths = rs.sortBy(_.getAs[java.sql.Timestamp]("forecast_timestamp").getTime)
        .map(r => r.getAs[Double]("hi") - r.getAs[Double]("lo"))
      assert(widths.zip(widths.tail).forall { case (a, b) => b >= a - 1e-12 })
    }
    // constant series: level = the constant, zero residual variance -> flat
    val const = Seq.tabulate(8)(i =>
      (1L, new java.sql.Timestamp(i * 300000L), 5.0))
      .toDF("user_id", "bucket_ts", "demand")
    val fc = graft.api.Graft.forecast(const, "theta").collect()
    assert(fc.length == 12)
    fc.foreach { r =>
      assert(math.abs(r.getAs[Double]("forecast_value") - 5.0) < 1e-9)
      assert(math.abs(r.getAs[Double]("hi") - r.getAs[Double]("lo")) < 1e-9)
    }
  }

  test("d8 threshold sweep: monotone confusion counts, endpoints exact, f1 consistent") {
    val out = StatOps.d8.build(spark, sf).collect().sortBy(_.getAs[Double]("threshold"))
    assert(out.length == 10)
    val emb = Tables.embeddings(spark, sf)
    val total = emb.count()
    val nPos = emb.filter(col("label") < 5).count()
    // t = 0 predicts everything positive: tp = all positives, fp = all negatives
    assert(out.head.getAs[Long]("tp") == nPos)
    assert(out.head.getAs[Long]("fp") == total - nPos)
    assert(out.head.getAs[Long]("fn") == 0L)
    // rising threshold can only shrink the predicted-positive set
    val tps = out.map(_.getAs[Long]("tp"))
    val fps = out.map(_.getAs[Long]("fp"))
    assert(tps.zip(tps.tail).forall { case (a, b) => b <= a })
    assert(fps.zip(fps.tail).forall { case (a, b) => b <= a })
    out.foreach { r =>
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fn") == nPos)
      val (tp, fp, fn) =
        (r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"))
      val f1 = if (2 * tp + fp + fn == 0) 0.0
        else 2.0 * tp / (2.0 * tp + fp + fn)
      assert(math.abs(r.getAs[Double]("f1") - f1) < 1e-12)
    }
  }

  test("w16 Kaplan-Meier: risk sets telescope, survival starts <= 1 and never increases") {
    val out = graft.operators.Relational.w16.build(spark, sf)
      .collect().sortBy(_.getAs[Int]("t_days"))
    assert(out.nonEmpty)
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(out.head.getAs[Long]("n_risk") == nUsers)
    // n_risk at t+1 = n_risk at t - (d + c) at t
    out.zip(out.tail).foreach { case (a, b) =>
      assert(b.getAs[Long]("n_risk") ==
        a.getAs[Long]("n_risk") - a.getAs[Long]("d") - a.getAs[Long]("c"))
    }
    val surv = out.map(_.getAs[Double]("survival"))
    assert(surv.forall(s => s >= 0.0 && s <= 1.0))
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a + 1e-12 })
    // replay the curve locally from the integer counts
    var s = 1.0
    out.foreach { r =>
      val (d, n) = (r.getAs[Long]("d"), r.getAs[Long]("n_risk"))
      s *= (1.0 - d.toDouble / n.toDouble)
      assert(math.abs(r.getAs[Double]("survival") - s) < 1e-6,
        s"t=${r.getAs[Int]("t_days")}")
    }
  }

  test("w17 Gini matches a per-user Lorenz-polygon replay, totals conserve") {
    val r = graft.operators.Relational.w17.build(spark, sf).collect().head
    val counts = Tables.events(spark, sf).groupBy("user_id").count()
      .select("count").as[Long].collect().sorted
    assert(r.getAs[Long]("n_users") == counts.length)
    assert(r.getAs[Long]("n_events") == counts.sum)
    val (u, e) = (counts.length.toDouble, counts.sum.toDouble)
    var (cum, acc) = (0.0, 0.0)
    counts.foreach { x =>
      val prev = cum; cum += x
      acc += (1.0 / u) * ((prev + cum) / e)
    }
    val gini = 1.0 - acc
    assert(math.abs(r.getAs[Double]("gini") - gini) < 1e-9)
    assert(gini >= 0.0 && gini < 1.0)
  }

  test("w28 Pareto ABC: classes partition users and events, shares sum to 1, " +
    "and matches a ranked-user replay at class boundaries") {
    val rows = graft.operators.Relational.w28.build(spark, sf).collect()
    val w17r = graft.operators.Relational.w17.build(spark, sf).collect().head
    assert(rows.map(_.getAs[String]("abc_class")).distinct.length == rows.length)
    assert(rows.map(_.getAs[Long]("n_users")).sum == w17r.getAs[Long]("n_users"))
    assert(rows.map(_.getAs[Long]("n_events")).sum == w17r.getAs[Long]("n_events"))
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-12)
    // replay: classify each count-bucket by desc-cumulative prior share
    val counts = Tables.events(spark, sf).groupBy("user_id").count()
      .select("count").as[Long].collect()
    val hist = counts.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(-_._1)
    val eTotal = counts.sum.toDouble
    var ce = 0L
    val expect = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    hist.foreach { case (n, m) =>
      val cls = if (ce / eTotal < 0.8) "A" else if (ce / eTotal < 0.95) "B" else "C"
      expect(cls) += m * n
      ce += m * n
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("n_events") == expect(r.getAs[String]("abc_class")))
    }
  }

  test("v23 kNN label modularity: single bounded row, intra within m") {
    val r = VectorOps.v23.build(spark, sf).collect().head
    val (m, intra) = (r.getAs[Long]("m"), r.getAs[Long]("intra"))
    assert(m > 0 && intra >= 0 && intra <= m)
    val q = r.getAs[Double]("modularity")
    assert(q >= -1.0 && q <= 1.0)
    // the edge count is bounded by k per source node
    val srcs = graft.operators.VectorOps
      .knnGraph(Tables.embeddings(spark, sf), 3)
      .groupBy("src_id").count().as[(Long, Long)].collect()
    assert(srcs.forall(_._2 <= 3))
    assert(m == srcs.map(_._2).sum)
  }

  test("d9 JS divergence: bounded by ln 2, categories conserve the row total") {
    val out = StatOps.d9.build(spark, sf).collect()
    val types = Tables.events(spark, sf).select("event_type").distinct()
      .as[String].collect().toSet
    assert(out.map(_.getAs[String]("event_type")).toSet == types)
    val total = out.map(r => r.getAs[Long]("ref_n") + r.getAs[Long]("cur_n")).sum
    assert(total == Tables.events(spark, sf).count())
    val js = out.map(_.getAs[Double]("js_term")).sum
    assert(js >= 0.0 && js <= math.log(2.0) + 1e-9, s"js=$js out of [0, ln 2]")
  }

  test("w18 new-vs-returning: new users sum to the user count, active matches a daily replay") {
    val out = graft.operators.Relational.w18.build(spark, sf).collect()
    val ev = Tables.events(spark, sf)
    assert(out.map(_.getAs[Long]("new_users")).sum ==
      ev.select("user_id").distinct().count())
    val daily = ev.select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .groupBy("day").count().as[(java.sql.Date, Long)].collect().toMap
    out.foreach { r =>
      assert(r.getAs[Long]("active") == daily(r.getAs[java.sql.Date]("day")))
      assert(r.getAs[Long]("active") ==
        r.getAs[Long]("new_users") + r.getAs[Long]("returning_users"))
    }
  }

  test("v24 recall-vs-probes: monotone non-decreasing curve over a fixed truth set") {
    val out = VectorOps.v24.build(spark, sf).collect().sortBy(_.getAs[Int]("probes"))
    assert(out.map(_.getAs[Int]("probes")).toSeq == Seq(1, 2, 3, 4))
    assert(out.forall(_.getAs[Long]("truth_pairs") == 30L))
    val recalls = out.map(_.getAs[Double]("recall"))
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a - 1e-12 },
      s"recall curve not monotone: ${recalls.mkString(",")}")
  }

  test("d10 bootstrap CI: ordered bounds bracketing the point mean, 100 replicas") {
    val r = StatOps.d10.build(spark, sf).collect().head
    assert(r.getAs[Long]("n_replicas") == 100L)
    val (lo, mid, hi) = (r.getAs[Double]("lo"), r.getAs[Double]("mid"), r.getAs[Double]("hi"))
    assert(lo <= mid && mid <= hi)
    // the point mean must sit inside the 90% interval on real data (the
    // bootstrap distribution of a mean is centered on it)
    val pm = r.getAs[Double]("point_mean")
    assert(pm >= lo && pm <= hi, s"point mean $pm outside [$lo, $hi]")
    // the interval is non-degenerate but tight at n = 1000 events
    assert(hi - lo > 0.0 && hi - lo < pm)
  }

  test("d11 eval report: each row equals its standalone op's headline number") {
    val rows = StatOps.d11.build(spark, sf).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Double]("value")).toMap
    assert(rows.keySet == Set("n", "pos_rate", "auc", "ece", "best_f1"))
    val emb = Tables.embeddings(spark, sf)
    assert(rows("n") == emb.count().toDouble)
    assert(rows("pos_rate") ==
      emb.filter(col("label") < 5).count().toDouble / emb.count())
    val d7ece = StatOps.d7.build(spark, sf)
      .agg(sum("ece_term")).as[Double].collect().head
    assert(math.abs(rows("ece") - d7ece) < 1e-9)
    val d8best = StatOps.d8.build(spark, sf)
      .agg(max("f1")).as[Double].collect().head
    assert(rows("best_f1") == d8best)
    assert(rows("auc") >= 0.0 && rows("auc") <= 1.0)
  }

  test("w19 cohort LTV: curves are non-decreasing, cohort sizes partition the users") {
    val out = graft.operators.Relational.w19.build(spark, sf).collect()
    val byCohort = out.groupBy(_.getAs[java.sql.Date]("cohort_day"))
    // each user belongs to exactly one cohort
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(byCohort.values.map(_.head.getAs[Long]("cohort_size")).sum == users)
    byCohort.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("age"))
      assert(sorted.head.getAs[Int]("age") == 0, "cohort day itself must be age 0")
      // day-0 actives = the whole cohort by definition of first day
      assert(sorted.head.getAs[Long]("active_users") ==
        sorted.head.getAs[Long]("cohort_size"))
      val ltv = sorted.map(_.getAs[Double]("ltv_per_user"))
      assert(ltv.zip(ltv.tail).forall { case (a, b) => b >= a - 1e-12 },
        "cumulative LTV decreased")
    }
  }

  test("w23 windowed funnel: counts equal a per-user deadline replay, tighter than w9") {
    val out = graft.operators.Relational.w23.build(spark, sf).collect()
      .sortBy(_.getAs[Int]("step"))
    assert(out.map(_.getAs[String]("step_name")).toSeq ==
      Seq("view", "click", "purchase"))
    val n = out.map(_.getAs[Long]("n_users"))
    assert(n.zip(n.tail).forall { case (a, b) => b <= a }, "funnel widened")
    // replay: first view anchors a 24 h deadline; chain earliest strictly
    // later qualifying events under that common deadline
    val byUser = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts").collect()
      .groupBy(_.getAs[Long]("user_id"))
    val steps = Seq("view", "click", "purchase")
    val reached = Array.fill(3)(0L)
    byUser.values.foreach { evs =>
      def tsOf(e: org.apache.spark.sql.Row) = e.getAs[java.sql.Timestamp]("ts")
      val views = evs.filter(_.getAs[String]("event_type") == "view")
      if (views.nonEmpty) {
        val t1 = views.map(tsOf(_).getTime).min
        val deadline = t1 + 24L * 3600 * 1000
        reached(0) += 1
        var t = t1
        var k = 1
        var advanced = true
        while (k < 3 && advanced) {
          val cand = evs.filter(e => e.getAs[String]("event_type") == steps(k) &&
            tsOf(e).getTime > t && tsOf(e).getTime <= deadline)
          if (cand.isEmpty) advanced = false
          else { t = cand.map(tsOf(_).getTime).min; reached(k) += 1; k += 1 }
        }
      }
    }
    assert(n.toSeq == reached.toSeq)
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("frac_of_first") -
        r.getAs[Long]("n_users").toDouble / n.head) < 1e-12)
    }
    // the deadline must bite: strictly fewer step-2 converters than the
    // unbounded w9 funnel (median first-click delay on this data is ~32 h)
    val w9clicks = graft.operators.Relational.w9.build(spark, sf)
      .collect().head.getAs[Long]("n_click")
    assert(n(1) < w9clicks, "24 h window should exclude some w9 converters")
  }

  test("d16 Mann-Whitney agrees with a local average-rank recomputation") {
    val r = StatOps.d16.build(spark, sf).collect().head
    val rows = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view"))
      .select("value", "event_type").collect()
      .map(x => (x.getDouble(0), x.getString(1) == "click"))
    val n1 = rows.count(_._2).toLong
    val n2 = rows.size - n1
    // average ranks over the pooled sample, ties share the mean rank
    val ranked = rows.sortBy(_._1).zipWithIndex
    val avgRank: Seq[(Boolean, Double)] =
      ranked.groupBy(_._1._1).toSeq.flatMap { case (_, g) =>
        val mean = g.map(_._2 + 1).sum.toDouble / g.size
        g.toSeq.map { case ((_, g1), _) => (g1, mean) }
      }
    val r1 = avgRank.collect { case (true, rk) => rk }.sum
    val u1 = r1 - n1 * (n1 + 1) / 2.0
    assert(r.getAs[Long]("n1") == n1 && r.getAs[Long]("n2") == n2)
    assert(math.abs(r.getAs[Double]("u1") - u1) < 1e-6)
    val n = n1 + n2
    val ties = rows.groupBy(_._1).values.map(g =>
      g.size.toLong * g.size * g.size - g.size).sum
    val sigma2 = n1 * n2 / 12.0 * ((n + 1) - ties / (n * (n - 1.0)))
    val z = (u1 - n1 * n2 / 2.0) / math.sqrt(sigma2)
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-6)
  }

  test("mannWhitneyU tie handling: all-tied groups give U = n1*n2/2 and null z") {
    val df = Seq((5.0, true), (5.0, true), (5.0, false), (5.0, false))
      .toDF("value", "g1")
    val out = StatOps.mannWhitneyU(df, "value", "g1").collect().head
    assert(out.getAs[Double]("u1") == 2.0) // n1*n2/2 under total ties
    assert(out.isNullAt(out.fieldIndex("z")), "zero variance must yield null z")
  }

  test("w24 power-user curve: user mass conserved, k bounded by window days") {
    val out = graft.operators.Relational.w24.build(spark, sf).collect()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_users")).sum == users,
      "histogram must partition the user base")
    val days = Tables.events(spark, sf)
      .select(to_date(col("ts"))).distinct().count()
    assert(out.forall { r =>
      val k = r.getAs[Int]("active_days"); k >= 1 && k <= days
    })
  }

  test("d17 drift report: each headline equals its component monitor's aggregate") {
    val rows = StatOps.d17.build(spark, sf).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Double]("value")).toMap
    assert(rows.keySet == Set("value_psi", "ks_stat", "type_chi2", "embedding_psi"))
    def sumQ(df: org.apache.spark.sql.DataFrame, c: String): Double =
      df.select(floor(col(c) * 1e9 + 0.5).cast("long")).as[Long].collect().sum / 1e9
    assert(rows("value_psi") == sumQ(StatOps.d2.build(spark, sf), "psi_term"))
    assert(rows("ks_stat") ==
      StatOps.d3.build(spark, sf).select("ks_stat").as[Double].collect().head)
    assert(rows("type_chi2") == sumQ(StatOps.d4.build(spark, sf), "chi2_term"))
    assert(rows("embedding_psi") ==
      sumQ(graft.operators.VectorOps.v27.build(spark, sf), "psi_term"))
  }

  test("w25 streaks: user mass conserved, equals a per-user consecutive-run replay") {
    val out = graft.operators.Relational.w25.build(spark, sf).collect()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_users")).sum == users)
    // replay longest consecutive-day run per user
    val byUser = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct().collect()
      .groupBy(_.getLong(0))
      .map { case (u, rows) =>
        val days = rows.map(_.getDate(1).toLocalDate.toEpochDay).sorted.toSeq
        var best = 1; var run = 1
        days.zip(days.drop(1)).foreach { case (a, b) =>
          run = if (b == a + 1) run + 1 else 1
          best = math.max(best, run)
        }
        u -> best
      }
    val expect = byUser.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(out.map(r => r.getAs[Int]("streak_days") -> r.getAs[Long]("n_users")).toMap
      == expect)
  }

  test("m17 ACF: bounded, matches a local recomputation, constant series -> 0") {
    val out = graft.operators.Forecast.m17.build(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall { r =>
      val a = r.getAs[Double]("acf"); a >= -1.0 - 1e-9 && a <= 1.0 + 1e-9
    })
    // local replay for one user
    val uid = out.head.getAs[Long]("user_id")
    val y = Tables.events(spark, sf)
      .filter(col("user_id") === uid)
      .groupBy(graft.functions.Funcs.timestampBucket(col("ts"), 300L).as("b"))
      .agg(graft.functions.Funcs.decAvg(col("value")).as("demand"))
      .orderBy("b").select("demand").as[Double].collect()
    val mean = y.sum / y.length
    val den = y.map(v => (v - mean) * (v - mean)).sum
    val got = out.filter(_.getAs[Long]("user_id") == uid)
      .map(r => r.getAs[Int]("lag") -> r.getAs[Double]("acf")).toMap
    (1 to math.min(6, y.length - 1)).foreach { k =>
      val num = (k until y.length).map(t => (y(t) - mean) * (y(t - k) - mean)).sum
      assert(math.abs(got(k) - num / den) < 1e-6, s"lag $k")
    }
    // degenerate constant series via the public API
    val const = Seq.tabulate(8)(i =>
      (1L, new java.sql.Timestamp(i * 300000L), 5.0))
      .toDF("user_id", "bucket_ts", "demand")
    val ca = graft.operators.Forecast.acf(const).collect()
    assert(ca.forall(_.getAs[Double]("acf") == 0.0))
  }

  test("m18 Ljung-Box: Q >= 0 and equals the quantized fold over m17's acfs") {
    val q = graft.operators.Forecast.m18.build(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> (r.getAs[Long]("n"), r.getAs[Double]("q_stat")))
      .toMap
    assert(q.nonEmpty && q.values.forall(_._2 >= 0.0))
    val acfs = graft.operators.Forecast.m17.build(spark, sf).collect()
      .groupBy(_.getAs[Long]("user_id"))
    q.foreach { case (uid, (n, qs)) =>
      val ts = acfs(uid).map { r =>
        val a = r.getAs[Double]("acf"); val k = r.getAs[Int]("lag")
        math.floor(a * a / (n - k) * 1e15 + 0.5).toLong
      }.sum
      val expect = math.floor((n * (n + 2)).toDouble * (ts.toDouble / 1e15) * 1e9 + 0.5) / 1e9
      assert(qs == expect, s"user $uid")
    }
  }

  test("d18 CUPED: reduction in [0,1], identity var_cuped = var_post(1-rho2), theta replays") {
    val r = StatOps.d18.build(spark, sf).collect().head
    val red = r.getAs[Double]("reduction")
    assert(red >= 0.0 && red <= 1.0)
    assert(math.abs(r.getAs[Double]("var_cuped") -
      r.getAs[Double]("var_post") * (1.0 - red)) < 1e-6)
    // replay theta from per-user quantized means
    val mid = Tables.events(spark, sf)
      .agg(expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2")).as[Long].head()
    val xs = Tables.events(spark, sf)
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("us")).collect()
      .groupBy(_.getLong(0)).flatMap { case (_, rows) =>
        val (pre, post) = rows.partition(_.getLong(2) < mid)
        if (pre.isEmpty || post.isEmpty) None
        else Some((
          math.floor(pre.map(_.getDouble(1)).sum / pre.size * 1e4 + 0.5).toLong,
          math.floor(post.map(_.getDouble(1)).sum / post.size * 1e4 + 0.5).toLong))
      }.toSeq
    val n = xs.size.toDouble
    val (sx, sy) = (xs.map(_._1).sum.toDouble, xs.map(_._2).sum.toDouble)
    val sxy = xs.map(p => p._1.toDouble * p._2).sum
    val sxx = xs.map(p => p._1.toDouble * p._1).sum
    val theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(r.getAs[Double]("theta") - theta) < 1e-4)
    assert(r.getAs[Long]("n_users") == xs.size)
  }

  test("w26 rolling MAU: equals a per-day brute-force distinct over the trailing window") {
    val out = graft.operators.Relational.w26.build(spark, sf).collect()
      .map(r => r.getDate(0).toLocalDate -> r.getAs[Long]("rolling_users")).toMap
    val ud = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val days = ud.map(_._2).distinct
    val (d0, d1) = (days.min(Ordering.by((d: java.time.LocalDate) => d.toEpochDay)),
      days.max(Ordering.by((d: java.time.LocalDate) => d.toEpochDay)))
    var d = d0
    while (!d.isAfter(d1)) {
      val lo = d.minusDays(6)
      val expect = ud.filter { case (_, ad) =>
        !ad.isAfter(d) && !ad.isBefore(lo)
      }.map(_._1).distinct.length.toLong
      if (expect > 0)
        assert(out(d) == expect, s"day $d")
      else assert(!out.contains(d))
      d = d.plusDays(1)
    }
    // the rolling count dominates the daily distinct count everywhere
    val daily = ud.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    daily.foreach { case (day, n) => assert(out(day) >= n) }
  }

  test("d19 two-proportion z: groups partition users, rates replay, z sign matches") {
    val r = StatOps.d19.build(spark, sf).collect().head
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(r.getAs[Long]("n1") + r.getAs[Long]("n2") == users)
    assert(r.getAs[Long]("c1") <= r.getAs[Long]("n1"))
    assert(r.getAs[Long]("c2") <= r.getAs[Long]("n2"))
    val (n1, n2) = (r.getAs[Long]("n1"), r.getAs[Long]("n2"))
    // an empty arm (possible on tiny fixtures) must yield null rate/z, not NaN
    if (n1 == 0 || n2 == 0) {
      assert(r.isNullAt(r.fieldIndex("z")))
    } else {
      val p1 = r.getAs[Long]("c1").toDouble / n1
      val p2 = r.getAs[Long]("c2").toDouble / n2
      assert(math.abs(r.getAs[Double]("p1") - p1) < 1e-9)
      assert(math.abs(r.getAs[Double]("p2") - p2) < 1e-9)
      val pp = (r.getAs[Long]("c1") + r.getAs[Long]("c2")).toDouble / (n1 + n2)
      val se = math.sqrt(pp * (1 - pp) * (1.0 / n1 + 1.0 / n2))
      if (se > 0)
        assert(math.abs(r.getAs[Double]("z") - (p1 - p2) / se) < 1e-6)
    }
  }

  test("w27 touch attribution: totals agree across touches and replay per user") {
    val out = graft.operators.Relational.w27.build(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_users")).toMap
    val first = out.collect { case (("first", _), n) => n }.sum
    val last = out.collect { case (("last", _), n) => n }.sum
    assert(first == last, "every attributed user has exactly one first and one last touch")
    // replay
    val byUser = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts", "event_id").collect()
      .groupBy(_.getLong(0))
    var ftCounts = Map.empty[String, Long].withDefaultValue(0L)
    var ltCounts = Map.empty[String, Long].withDefaultValue(0L)
    byUser.values.foreach { evs =>
      val purchases = evs.filter(_.getString(1) == "purchase")
      if (purchases.nonEmpty) {
        val tp = purchases.map(_.getTimestamp(2).getTime).min
        val pre = evs.filter(_.getTimestamp(2).getTime < tp)
          .sortBy(e => (e.getTimestamp(2).getTime, e.getLong(3)))
        if (pre.nonEmpty) {
          ftCounts += pre.head.getString(1) -> (ftCounts(pre.head.getString(1)) + 1)
          ltCounts += pre.last.getString(1) -> (ltCounts(pre.last.getString(1)) + 1)
        }
      }
    }
    ftCounts.foreach { case (t, n) => assert(out(("first", t)) == n, s"first $t") }
    ltCounts.foreach { case (t, n) => assert(out(("last", t)) == n, s"last $t") }
  }

  test("d20 k-anonymity: groups partition the table, risk flag matches k") {
    val out = StatOps.d20.build(spark, sf).collect()
    val total = Tables.customer(spark, sf).count()
    assert(out.map(_.getAs[Long]("group_n")).sum == total)
    out.foreach { r =>
      assert(r.getAs[Boolean]("at_risk") == (r.getAs[Long]("group_n") < 5))
    }
    // a planted unique quasi-identifier must surface as at-risk
    val df = Seq((1, "A"), (2, "A"), (3, "A"), (4, "A"), (5, "A"), (9, "Z"))
      .toDF("qi1", "qi2")
    val audit = StatOps.kAnonymityAudit(df, Seq("qi2"), 5).collect()
      .map(r => r.getString(0) -> r.getAs[Boolean]("at_risk")).toMap
    assert(!audit("A") && audit("Z"))
  }

  test("d21 DP release: noise replays from the keyed draw, bounded for these keys") {
    val out = StatOps.d21.build(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("noisy_n")).toMap
    val truth = Tables.events(spark, sf).groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == truth.keySet)
    out.foreach { case (et, noisy) =>
      val u = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"d21:$et".getBytes("UTF-8"))
          .take(8).map("%02x".format(_)).mkString.take(15), 16)
        .toDouble / (1L << 60).toDouble
      val v = u - 0.5
      val noise = math.floor(-(if (v < 0) -1.0 else 1.0) *
        math.log(1.0 - 2.0 * math.abs(v)) * 1e9 + 0.5) / 1e9
      assert(math.abs(noisy - (truth(et) + noise)) < 1e-6, s"$et")
    }
  }

  test("d12 MDE agrees with a local recomputation and shrinks with n") {
    val r = StatOps.d12.build(spark, sf).collect().head
    def sample(t: String): Array[Double] = Tables.events(spark, sf)
      .filter(col("event_type") === t).select("value").as[Double].collect()
    val (a, b) = (sample("click"), sample("error"))
    def variance(x: Array[Double]): Double = {
      val m = x.sum / x.length
      x.map(v => (v - m) * (v - m)).sum / (x.length - 1)
    }
    val z = graft.operators.Forecast.zFor(0.95) + graft.operators.Forecast.zFor(0.6)
    val mde = z * math.sqrt(variance(a) / a.length + variance(b) / b.length)
    assert(math.abs(r.getAs[Double]("mde_abs") - mde) < 1e-6)
    assert(r.getAs[Double]("mde_rel") > 0.0)
  }

  test("w20 absorption probabilities match a local linear solve and live in [0, 1]") {
    val out = graft.operators.Relational.w20.build(spark, sf).collect()
      .map(r => r.getAs[String]("state") -> r.getAs[Double]("p_convert")).toMap
    assert(out.keySet == Set("view", "click", "signup"))
    assert(out.values.forall(p => p >= 0.0 && p <= 1.0))
    // local replay: build the transition counts and Gauss-solve (I-Q)x = b
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")), col("event_id"))
      .as[(Long, String, Long, Long)].collect()
    val pairs = ev.groupBy(_._1).values.flatMap { es =>
      val s = es.sortBy(e => (e._3, e._4)).map(_._2)
      s.zip(s.tail)
    }.toSeq
    val states = Seq("view", "click", "signup")
    val a = Array.tabulate(3, 3) { (i, j) =>
      val diag = if (i == j) pairs.count(_._1 == states(i)).toDouble else 0.0
      diag - pairs.count(p => p._1 == states(i) && p._2 == states(j)).toDouble
    }
    val b = states.map(s => pairs.count(p => p._1 == s && p._2 == "purchase").toDouble).toArray
    // 3x3 Gaussian elimination with partial pivoting
    for (col0 <- 0 until 3) {
      val piv = (col0 until 3).maxBy(r => math.abs(a(r)(col0)))
      val (ta, tb) = (a(col0), b(col0)); a(col0) = a(piv); a(piv) = ta
      b(col0) = b(piv); b(piv) = tb
      for (r <- col0 + 1 until 3) {
        val f = a(r)(col0) / a(col0)(col0)
        for (cc <- col0 until 3) a(r)(cc) -= f * a(col0)(cc)
        b(r) -= f * b(col0)
      }
    }
    val x = new Array[Double](3)
    for (r <- 2 to 0 by -1) {
      var acc = b(r)
      for (cc <- r + 1 until 3) acc -= a(r)(cc) * x(cc)
      x(r) = acc / a(r)(r)
    }
    states.zipWithIndex.foreach { case (s, i) =>
      assert(math.abs(out(s) - x(i)) < 1e-9, s"$s: ${out(s)} vs ${x(i)}")
    }
  }

  test("d13 robust means match a local sorted-replay of winsorize/trim") {
    val r = StatOps.d13.build(spark, sf).collect().head
    val vals = Tables.events(spark, sf).select("value").as[Double].collect()
      .map(v => math.floor(v * 1e4 + 0.5).toLong).sorted
    val n = vals.length
    val t = n / 20
    assert(r.getAs[Long]("n") == n && r.getAs[Long]("trim_n") == t)
    assert(math.abs(r.getAs[Double]("mean") - vals.sum.toDouble / n / 1e4) < 1e-12)
    val win = vals.zipWithIndex.map { case (v, i) =>
      if (i < t) vals(t) else if (i >= n - t) vals(n - t - 1) else v
    }
    assert(math.abs(r.getAs[Double]("winsorized_mean") -
      win.sum.toDouble / n / 1e4) < 1e-9)
    val trimmed = vals.slice(t, n - t)
    assert(math.abs(r.getAs[Double]("trimmed_mean") -
      trimmed.sum.toDouble / trimmed.length / 1e4) < 1e-9)
  }

  test("v25 int8 ANN: 3 rows per query, approx tracks exact cosine ordering closely") {
    val out = VectorOps.v25.build(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 10 && byQ.values.forall(_.length == 3))
    assert(out.forall(r => r.getAs[Long]("q_id") != r.getAs[Long]("neighbor_id")))
    // int8 at 64 dims quantizes finely enough that the reranked top-3
    // must overlap the exact brute-force top-3 substantially
    val emb = Tables.embeddings(spark, sf)
    val truth = VectorOps.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 3)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val got = out.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = truth.count(got.contains).toDouble / truth.size
    assert(recall >= 0.8, s"int8 recall too low: $recall")
  }

  test("w21 lifecycle: states partition active user-days, churn conserves users") {
    val out = graft.operators.Relational.w21.build(spark, sf).collect()
    val du = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val activeDays = du.count()
    assert(out.map(r => r.getAs[Long]("n_new") + r.getAs[Long]("n_retained") +
      r.getAs[Long]("n_resurrected")).sum == activeDays)
    val users = du.select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_new")).sum == users)
    // churn events never exceed the user count, and each user churns at
    // most once more than they resurrect (gap arithmetic)
    val churned = out.map(_.getAs[Long]("n_churned")).sum
    val resurrected = out.map(_.getAs[Long]("n_resurrected")).sum
    assert(churned <= resurrected + users)
  }

  test("d14 strengths live in [0, 1] and reconstruct from an m13 replay") {
    val r = StatOps.d14.build(spark, sf).collect().head
    val fs = r.getAs[Double]("seasonal_strength")
    val ft = r.getAs[Double]("trend_strength")
    assert(fs >= 0.0 && fs <= 1.0 && ft >= 0.0 && ft <= 1.0)
    val stl = StatOps.m13.build(spark, sf).collect()
    assert(r.getAs[Long]("n_days") == stl.length)
    def varOf(xs: Array[Double]): Double = {
      val q = xs.map(x => math.floor(x * 1e6 + 0.5))
      val n = q.length
      (n * q.map(x => x * x).sum - q.sum * q.sum) / n / n
    }
    val res = stl.map(_.getAs[Double]("residual"))
    val sr = stl.map(x => x.getAs[Double]("seasonal") + x.getAs[Double]("residual"))
    val expect = math.max(0.0, 1.0 - varOf(res) / varOf(sr))
    assert(math.abs(fs - expect) < 1e-9)
  }

  test("x46 vocab coverage: monotone in k, totals conserve, full vocab covers everything") {
    val out = TextOps.x46.build(spark, sf).collect().sortBy(_.getAs[Int]("vocab_k"))
    assert(out.map(_.getAs[Int]("vocab_k")).toSeq == Seq(5, 10, 20))
    val covs = out.map(_.getAs[Double]("coverage"))
    assert(covs.zip(covs.tail).forall { case (a, b) => b >= a })
    assert(covs.forall(c => c > 0.0 && c <= 1.0))
    val total = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).count()
    assert(out.forall(_.getAs[Long]("total_tokens") == total))
    // with a vocab this small, k = 20+ must cover a large majority
    val vocab = graft.api.Graft.vocabCoverage(
      Tables.documents(spark, sf), Seq(Int.MaxValue)).collect().head
    assert(vocab.getAs[Double]("coverage") == 1.0)
  }

  test("v26 compression tiers: int8 dominates binary, both bounded by exact cosine") {
    val out = VectorOps.v26.build(spark, sf).collect()
      .map(r => r.getAs[String]("tier") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("mean_cos"), r.getAs[Double]("worst_cos")))).toMap
    val n = Tables.embeddings(spark, sf).count()
    assert(out("int8")._1 == n && out("binary")._1 == n)
    // 8-bit reconstruction must preserve direction far better than 1-bit
    assert(out("int8")._2 > out("binary")._2)
    assert(out("int8")._2 > 0.999, s"int8 mean cos ${out("int8")._2}")
    out.values.foreach { case (_, mean, worst) =>
      assert(worst <= mean && mean <= 1.0 + 1e-9)
    }
  }

  test("d15 ANOVA matches a local sums-of-squares replay; event_type grouping sanity") {
    val r = StatOps.d15.build(spark, sf).collect().head
    val vals = Tables.events(spark, sf).select(col("user_id"), col("value"))
      .as[(Long, Double)].collect()
    val n = vals.length.toDouble
    val sv = vals.map(_._2).sum
    val sq = vals.map(v => v._2 * v._2).sum
    val groups = vals.groupBy(_._1)
    val ssb = groups.values.map { g =>
      val s = g.map(_._2).sum; s * s / g.length
    }.sum - sv * sv / n
    val sst = sq - sv * sv / n
    val k = groups.size.toDouble
    val f = (ssb / (k - 1)) / ((sst - ssb) / (n - k))
    assert(r.getAs[Long]("k") == groups.size && r.getAs[Long]("n") == vals.length)
    assert(math.abs(r.getAs[Double]("ss_between") - ssb) < math.abs(ssb) * 1e-6 + 1e-3)
    assert(math.abs(r.getAs[Double]("f_stat") - f) < math.abs(f) * 1e-4 + 1e-6)
    assert(r.getAs[Double]("ss_within") >= 0.0)
  }

  test("x45 Zipf fit: vocab count matches, slope negative, r2 in [0, 1]") {
    val r = TextOps.x45.build(spark, sf).collect().head
    val vocab = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).select("w").distinct().count()
    assert(r.getAs[Long]("n_vocab") == vocab)
    assert(r.getAs[Double]("slope") < 0.0)
    val r2 = r.getAs[Double]("r2")
    assert(r2 >= 0.0 && r2 <= 1.0)
  }

  test("d31 permutation test: 32 permutations, p in ((0,1]], extreme count consistent") {
    val r = StatOps.d31.build(spark, sf).collect().head
    assert(r.getAs[Long]("n_perm") == 32L)
    val ne = r.getAs[Long]("n_extreme")
    assert(ne >= 0L && ne <= 32L)
    val p = r.getAs[Double]("p_value")
    // add-one correction pins the support to {1/33 .. 33/33}
    assert(math.abs(p - (ne + 1.0) / 33.0) < 1e-15)
    assert(p > 0.0 && p <= 1.0)
    assert(!r.getAs[Double]("obs_diff").isNaN)
  }

  test("d31 permutation test: a null effect is not rejected at alpha=0.05") {
    // arm assignment BY THE SAME md5 coin family as the permutations means
    // the observed split is itself a random relabeling — the test must not
    // find it extreme (p should be comfortably above 0.05)
    val e = Tables.events(spark, sf)
      .withColumn("isa", substring(md5(concat_ws(":", col("event_id"), lit("seed"))), 1, 1) < "8")
    val r = StatOps.permutationTest(e, "event_id", "value", "isa").collect().head
    assert(r.getAs[Double]("p_value") > 0.05)
  }

  test("x57 Heaps fit: final checkpoint vocab equals the true vocabulary, beta in (0,1)") {
    val r = TextOps.x57.build(spark, sf).collect().head
    val docs = Tables.documents(spark, sf)
    val nDocsWithTokens = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).select("doc_id").distinct().count()
    assert(r.getAs[Long]("n_docs") == nDocsWithTokens)
    // power-of-two checkpoints + the final doc: n_points ≈ log2(n_docs) + 2
    val expectedPts =
      (0 to 62).count(i => (1L << i) <= nDocsWithTokens) + 1
    assert(math.abs(r.getAs[Long]("n_points") - expectedPts) <= 1)
    val beta = r.getAs[Double]("beta")
    assert(beta > 0.0 && beta < 1.0)
    val r2 = r.getAs[Double]("r2")
    assert(r2 >= 0.0 && r2 <= 1.0)
  }

  test("d32 CvM: nonnegative statistic, populations match d3, zero for identical samples") {
    val r = StatOps.d32.build(spark, sf).collect().head
    assert(r.getAs[Double]("cvm_t") >= 0.0)
    val ks = StatOps.d3.build(spark, sf).collect().head
    assert(r.getAs[Long]("n_a") == ks.getAs[Long]("n_a"))
    assert(r.getAs[Long]("n_b") == ks.getAs[Long]("n_b"))
    // a population compared against itself must score exactly zero: both
    // ECDFs are identical at every pooled point
    val self = Tables.events(spark, sf)
      .select(col("event_id"), col("value"))
      .withColumn("event_type",
        when(col("event_id") % 2 === 0, "click").otherwise("error"))
      .select(col("value"), col("event_type"))
    // same VALUES in both arms: duplicate every value into both labels
    val both = self.select(col("value"), lit("click").as("event_type"))
      .unionByName(self.select(col("value"), lit("error").as("event_type")))
    val dd = both.filter(col("event_type").isin("click", "error"))
      .select(col("value"), (col("event_type") === "click").as("isa"))
      .groupBy("value").agg(
        count(when(col("isa"), 1)).as("na_v"),
        count(when(!col("isa"), 1)).as("nb_v"))
    // identical per-value counts -> identical ECDFs -> every gap is 0
    assert(dd.filter(col("na_v") =!= col("nb_v")).count() == 0)
  }

  test("d33 Mann-Kendall: S bounded by pair count, variance positive, " +
    "a strictly increasing series maxes S") {
    val r = StatOps.d33.build(spark, sf).collect().head
    val n = r.getAs[Long]("n")
    val s = r.getAs[Long]("s_stat")
    val maxPairs = n * (n - 1) / 2
    assert(math.abs(s) <= maxPairs)
    assert(r.getAs[Double]("var_s") > 0.0)
    assert(!r.getAs[Double]("z").isNaN)
    // synthetic strictly increasing series: S = n(n-1)/2, z > 0
    import SparkSpec.spark.implicits._
    val inc = (1 to 30).map(i =>
      (new java.sql.Timestamp(i * 21600000L), i.toDouble)) // one 6-h bucket apart
      .toDF("ts", "value")
    val ri = StatOps.mannKendall(inc).collect().head
    assert(ri.getAs[Long]("s_stat") == ri.getAs[Long]("n") * (ri.getAs[Long]("n") - 1) / 2)
    assert(ri.getAs[Double]("z") > 0.0)
  }

  test("d34 Theil-Sen: pair count is n(n-1)/2 of d33's bucket count, and a " +
    "linear series recovers its exact slope") {
    val r = StatOps.d34.build(spark, sf).collect().head
    val n = StatOps.d33.build(spark, sf).collect().head.getAs[Long]("n")
    assert(r.getAs[Long]("n_pairs") == n * (n - 1) / 2)
    // synthetic exact line value = 3*i: every pairwise slope is 3 per bucket
    import SparkSpec.spark.implicits._
    val lin = (1 to 25).map(i =>
      (new java.sql.Timestamp(i * 21600000L), 3.0 * i)).toDF("ts", "value")
    val rl = StatOps.theilSen(lin).collect().head
    assert(rl.getAs[Long]("n_pairs") == 25L * 24 / 2)
    assert(math.abs(rl.getAs[Double]("sen_slope") - 3.0) < 1e-9)
    // degenerate series (< 2 buckets): explicit EMPTY result, not an
    // all-NULL row that NPEs a getAs[Long]("n_pairs") caller
    val one = Seq((new java.sql.Timestamp(21600000L), 1.0)).toDF("ts", "value")
    assert(StatOps.theilSen(one).collect().isEmpty)
  }

  test("m26 RiskMetrics vol: one row per bucket after the first, var is the " +
    "lambda-recursion of squared returns, vol = sqrt(var)") {
    val rows = StatOps.m26.build(spark, sf)
      .orderBy("bucket").collect()
    val nBuckets = StatOps.d33.build(spark, sf).collect().head.getAs[Long]("n")
    assert(rows.length == nBuckets - 1)
    var v = 0.0
    rows.zipWithIndex.foreach { case (r, i) =>
      val ret = r.getAs[Double]("ret")
      v = if (i == 0) ret * ret else 0.94 * v + 0.06 * (ret * ret)
      assert(r.getAs[Double]("var_ewma") == v)
      assert(r.getAs[Double]("vol") == math.sqrt(v))
    }
  }

  test("d35 Page-Hinkley: one row per bucket, ph_min is the running min, " +
    "a step change raises an alarm while a flat series stays quiet") {
    val rows = StatOps.d35.build(spark, sf).orderBy("bucket").collect()
    val n = StatOps.d33.build(spark, sf).collect().head.getAs[Long]("n")
    assert(rows.length == n)
    var mn = 0.0
    rows.foreach { r =>
      mn = math.min(mn, r.getAs[Double]("ph"))
      assert(r.getAs[Double]("ph_min") == mn)
      assert(r.getAs[Boolean]("alarm") ==
        (r.getAs[Double]("ph") - mn > 0.05))
    }
    import SparkSpec.spark.implicits._
    def series(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (new java.sql.Timestamp((i + 1) * 21600000L), v)
    }.toDF("ts", "value")
    val step = series(Seq.fill(20)(1.0) ++ Seq.fill(20)(2.0))
    assert(StatOps.pageHinkley(step).filter(col("alarm")).count() > 0)
    val flat = series(Seq.fill(40)(1.0))
    assert(StatOps.pageHinkley(flat).filter(col("alarm")).count() == 0)
  }

  test("d37 Bradley-Terry: hand-worked 3-type tournament gives exact counts, " +
    "s1, and quantized MM refinement") {
    import SparkSpec.spark.implicits._
    // user 1's sequence: A(1) B(2) A(3) C(0) -> matches A-B (B wins),
    // A-B (A wins, 3>=2), A-C (A wins)
    val events = Seq(
      (1L, 1L, 1L, "A", 1.0), (2L, 2L, 1L, "B", 2.0),
      (3L, 3L, 1L, "A", 3.0), (4L, 4L, 1L, "C", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = StatOps.bradleyTerry(events).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("A").getAs[Long]("n_matches") == 3L && got("A").getAs[Long]("n_wins") == 2L)
    assert(got("B").getAs[Long]("n_matches") == 2L && got("B").getAs[Long]("n_wins") == 1L)
    assert(got("C").getAs[Long]("n_matches") == 1L && got("C").getAs[Long]("n_wins") == 0L)
    val s1A = (2.0 * 2 + 1.0) / (3 + 1.0)     // 1.25
    val s1B = (2.0 * 1 + 1.0) / (2 + 1.0)     // 1.0
    val s1C = (2.0 * 0 + 1.0) / (1 + 1.0)     // 0.5
    assert(got("A").getAs[Double]("s1") == s1A)
    assert(got("B").getAs[Double]("s1") == s1B)
    assert(got("C").getAs[Double]("s1") == s1C)
    def q(n: Long, sa: Double, sb: Double) = math.floor(n / (sa + sb) * 1e6 + 0.5).toLong
    val denA = q(2, s1A, s1B) + q(1, s1A, s1C)
    assert(got("A").getAs[Double]("s2") == (2 + 0.5) * 1e6 / denA.toDouble)
    assert(got("C").getAs[Double]("s2") == (0 + 0.5) * 1e6 / q(1, s1C, s1A).toDouble)
  }

  test("a24 exact median: odd/even/duplicate-heavy small sets and a 200k-row " +
    "set that exercises a histogram refinement round") {
    import SparkSpec.spark.implicits._
    def med(vals: Seq[Double]): (Long, Double, Double, Double) = {
      val df = vals.toDF("value")
      val r = graft.operators.Relational.exactMedian(df, SparkSpec.spark).collect().head
      (r.getAs[Long]("n"), r.getAs[Double]("v_lo"), r.getAs[Double]("v_hi"),
        r.getAs[Double]("median"))
    }
    assert(med((1 to 101).map(_.toDouble)) == ((101L, 51.0, 51.0, 51.0)))
    assert(med(Seq(4.0, 1.0, 3.0, 2.0)) == ((4L, 2.0, 3.0, 2.5)))
    assert(med(Seq(7.0, 7.0, 8.0, 7.0, 7.0)) == ((5L, 7.0, 7.0, 7.0)))
    // 200001 distinct values forces one histogram-narrowing round
    val big = (0 until 200001).map(_.toDouble)
    assert(med(big) == ((200001L, 100000.0, 100000.0, 100000.0)))
  }

  test("a25 exact mode: per-group argmax with smallest-value tie-break") {
    import SparkSpec.spark.implicits._
    val df = Seq(
      ("A", 1.0), ("A", 1.0), ("A", 2.0),
      ("B", 5.0), ("B", 5.0), ("B", 4.0), ("B", 4.0),
      ("C", 7.0))
      .toDF("event_type", "value")
    val got = graft.operators.Relational.exactMode(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("A").getAs[Long]("n") == 3L &&
      got("A").getAs[Long]("mode_count") == 2L &&
      got("A").getAs[Double]("mode_value") == 1.0)
    // B ties 4.0 and 5.0 at count 2 -> smallest value wins
    assert(got("B").getAs[Long]("mode_count") == 2L &&
      got("B").getAs[Double]("mode_value") == 4.0)
    assert(got("C").getAs[Long]("n") == 1L &&
      got("C").getAs[Double]("mode_value") == 7.0)
  }

  test("a26 weighted median: weights shift the statistic away from the " +
    "unweighted median, boundary halves resolve to the LOWER median, and " +
    "the registry query matches a local lineitem replay") {
    import SparkSpec.spark.implicits._
    def wm(rows: Seq[(Double, Long)]): (Long, Long) = {
      val r = graft.operators.Relational
        .exactWeightedMedian(rows.toDF("v", "w"), "v", "w").collect().head
      (r.getAs[Long]("total_weight"), r.getAs[Long]("wmedian_cents"))
    }
    // heavy weight on 3.00 drags the median there (unweighted would be 2.00)
    assert(wm(Seq((1.0, 1L), (2.0, 1L), (3.0, 10L))) == (12L, 300L))
    // exact half boundary: 2*cumw(1.00) == tw -> lower median
    assert(wm(Seq((1.0, 1L), (2.0, 1L))) == (2L, 100L))
    // all weight on one value
    assert(wm(Seq((5.0, 7L))) == (7L, 500L))
    // registry query vs an exact local replay on lineitem
    val li = graft.core.Tables.lineitem(spark, sf)
      .select("l_extendedprice", "l_quantity").collect()
      .map(r => (math.floor(r.getDouble(0) * 100 + 0.5).toLong, r.getDouble(1).toLong))
    val tw = li.map(_._2).sum
    val expect = li.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy(_._1).scanLeft((0L, 0L)) { case ((_, c), (qv, w)) => (qv, c + w) }
      .drop(1).find { case (_, c) => c * 2 >= tw }.get._1
    val got = graft.operators.Relational.a26.build(spark, sf).collect().head
    assert(got.getAs[Long]("total_weight") == tw)
    assert(got.getAs[Long]("wmedian_cents") == expect)
    // degenerate inputs return ZERO rows (the theilSen contract), never an
    // all-NULL row that would NPE a typed getAs downstream (r8 advice fix)
    assert(graft.operators.Relational
      .exactWeightedMedian(Seq.empty[(Double, Long)].toDF("v", "w"), "v", "w")
      .count() == 0L)
    assert(graft.operators.Relational
      .exactWeightedMedian(Seq((2.0, null.asInstanceOf[java.lang.Long]))
        .toDF("v", "w"), "v", "w")
      .count() == 0L)
  }

  test("d36 Spearman: rho in [-1,1]; a monotone pair gives rho = 1 and an " +
    "antitone pair gives rho = -1") {
    val r = StatOps.d36.build(spark, sf).collect().head
    val rho = r.getAs[Double]("rho")
    assert(rho >= -1.0 - 1e-12 && rho <= 1.0 + 1e-12)
    import SparkSpec.spark.implicits._
    // value mean rises with bucket while count rises too -> rho = 1; to
    // vary counts, emit i events of value i in bucket i (mean=i, cnt=i)
    val mono = (1 to 12).flatMap(i => Seq.fill(i)(i)).zipWithIndex.map {
      case (v, k) =>
        (new java.sql.Timestamp(v * 21600000L + k), v.toDouble)
    }.toDF("ts", "value")
    // k offsets are micro-jitters far below the 6-h bucket width
    val rm = StatOps.spearmanBuckets(mono).collect().head
    assert(math.abs(rm.getAs[Double]("rho") - 1.0) < 1e-12)
    val anti = (1 to 12).flatMap(i => Seq.fill(13 - i)(i)).zipWithIndex.map {
      case (v, k) =>
        (new java.sql.Timestamp(v * 21600000L + k), v.toDouble)
    }.toDF("ts", "value")
    val ra = StatOps.spearmanBuckets(anti).collect().head
    assert(math.abs(ra.getAs[Double]("rho") + 1.0) < 1e-12)
  }

  test("x60 score deciles: partition the corpus, stay in 0..9, deterministic") {
    val rows = graft.operators.Forecast.x60.build(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    assert(rows.forall { r =>
      val d = r.getAs[Long]("decile"); d >= 0 && d <= 9
    })
    assert(rows.map(_.getAs[Long]("decile")).distinct.length == rows.length)
    val again = graft.operators.Forecast.x60.build(spark, sf).collect()
      .map(r => r.getAs[Long]("decile") -> r.getAs[Long]("n_docs")).toMap
    rows.foreach(r =>
      assert(again(r.getAs[Long]("decile")) == r.getAs[Long]("n_docs")))
  }

  test("j14 interval overlap join matches an exact local pair replay") {
    val got = graft.operators.Relational.j14.build(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("overlap_days"))).toMap
    val li = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey", "l_shipdate", "l_returnflag").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime](2).toLocalDate.toEpochDay,
        r.getString(3)))
    val (ev, od) = li.partition(_._2 % 2 == 0)
    val byPart = od.groupBy(_._1)
    val expect = scala.collection.mutable.Map[String, (Long, Long)]()
      .withDefaultValue((0L, 0L))
    ev.foreach { case (pk, _, d1, rf) =>
      byPart.getOrElse(pk, Array.empty).foreach { case (_, _, d2, _) =>
        if (math.abs(d1 - d2) <= 7) {
          val ol = math.min(d1 + 7, d2 + 7) - math.max(d1, d2) + 1
          val (n, o) = expect(rf); expect(rf) = (n + 1, o + ol)
        }
      }
    }
    assert(got == expect.toMap)
  }

  test("logreg standardization: a constant feature fails fast at plan build, " +
    "not as silent Infinity/NaN weights") {
    import SparkSpec.spark.implicits._
    val const = (1 to 20).map(i => (i % 2, 5.0, i.toDouble))
      .toDF("y", "f1", "f2")
    val e = intercept[IllegalArgumentException](
      graft.operators.Forecast.trainLogReg(const).collect())
    assert(e.getMessage.contains("standard deviations must be positive"))
  }

  test("m25 logreg training: the distributed GD trajectory equals an exact local replay") {
    val out = graft.operators.Forecast.m25.build(spark, sf).collect().head
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y",
        "CAST(size(split(text, ' ')) AS DOUBLE) / 100.0 AS f1",
        "CAST(n_chars AS DOUBLE) / CAST(size(split(text, ' ')) AS DOUBLE) AS f2")
      .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val n = docs.length
    assert(out.getAs[Long]("n") == n)
    // local replay: quantized moments -> z-score -> 10 quantized GD steps
    def moments(xs: Array[Double]) = {
      val q = xs.map(x => math.floor(x * 1e6 + 0.5).toLong)
      val s = q.map(BigInt(_)).sum
      val qq = q.map(v => BigInt(v) * BigInt(v)).sum
      val nD = n.toDouble
      val mu = (s.toDouble / 1e6) / nD
      val sd = math.sqrt((qq.toDouble / 1e12) / nD - mu * mu)
      (mu, sd)
    }
    val (mu1, sd1) = moments(docs.map(_._2))
    val (mu2, sd2) = moments(docs.map(_._3))
    val fs = docs.map { case (y, f1, f2) =>
      (y, (f1 - mu1) / sd1, (f2 - mu2) / sd2)
    }
    var (w0, w1, w2) = (0.0, 0.0, 0.0)
    for (_ <- 1 to 10) {
      var g0 = 0L; var g1 = 0L; var g2 = 0L
      fs.foreach { case (y, f1, f2) =>
        val sig = 1.0 / (1.0 + math.exp(-(w0 + w1 * f1 + w2 * f2)))
        val sq = math.floor(sig * 1e6 + 0.5) / 1e6
        g0 += math.floor((y - sq) * 1.0 * 1e6 + 0.5).toLong
        g1 += math.floor((y - sq) * f1 * 1e6 + 0.5).toLong
        g2 += math.floor((y - sq) * f2 * 1e6 + 0.5).toLong
      }
      val nD = n.toDouble
      w0 += (g0.toDouble / 1e6) / nD
      w1 += (g1.toDouble / 1e6) / nD
      w2 += (g2.toDouble / 1e6) / nD
    }
    assert(out.getAs[Double]("w0") == w0)
    assert(out.getAs[Double]("w1") == w1)
    assert(out.getAs[Double]("w2") == w2)
    val acc = fs.count { case (y, f1, f2) =>
      val sig = 1.0 / (1.0 + math.exp(-(w0 + w1 * f1 + w2 * f2)))
      (math.floor(sig * 1e6 + 0.5).toLong > 500000L) == (y == 1.0)
    }.toDouble / n
    assert(out.getAs[Double]("accuracy") == acc)
  }

  test("m24 Kalman: flat level forecast, intervals widen with horizon, " +
    "constant series collapses to the constant") {
    val out = graft.operators.Forecast.m24.build(spark, sf).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rs) =>
      assert(rs.length == 12)
      val byT = rs.sortBy(_.getAs[java.sql.Timestamp]("forecast_timestamp").getTime)
      // flat level: one point forecast across the horizon
      assert(byT.map(_.getAs[Double]("forecast_value")).distinct.length == 1)
      // monotone widening intervals (q adds variance every step)
      val widths = byT.map(r => r.getAs[Double]("hi") - r.getAs[Double]("lo"))
      widths.sliding(2).foreach { case Array(a, b) => assert(b >= a - 1e-12) }
    }
    import SparkSpec.spark.implicits._
    val const = (1 to 20).map(i =>
      (1L, new java.sql.Timestamp(i * 300000L), 5.0))
      .toDF("user_id", "bucket_ts", "demand")
    val fc = graft.api.Graft.forecast(const, "kalman").collect()
    assert(fc.length == 12)
    fc.foreach { r =>
      assert(math.abs(r.getAs[Double]("forecast_value") - 5.0) < 1e-9)
      // zero innovation variance -> degenerate (exact) intervals
      assert(math.abs(r.getAs[Double]("hi") - r.getAs[Double]("lo")) < 1e-9)
    }
  }
}
