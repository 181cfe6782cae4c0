package graft

import graft.core.{QueryMetrics, Sessions}
import graft.tools.Sampler._

/** Benchmark harness: times every bench-tagged query at SPARK_GRAFT_SF_DIR,
  * forcing full execution with a noop-format write (count() would let
  * Catalyst collapse scan-only plans to metadata reads and under-measure).
  * Each query gets a fixed number of samples ([[samplesPerQuery]]); the
  * JSON carries medians, `value_min` the total of per-query minima and
  * `codegen_compiles` the generated classes compiled across the timed
  * samples (per query on stderr).
  * Failures are reported per-query instead of being timed as if they ran.
  * Prints exactly one JSON line for the driver and reads no file of the
  * repository.
  *
  * The driver keeps only a bounded tail of stdout, and sbt appends its own
  * `[success]` line after ours — so the machine-readable line must stay well
  * under that tail budget or the driver cannot parse it (rounds 2/3 stored
  * `parsed: null` for exactly this reason). The JSON line therefore carries
  * the total plus a fixed headline subset of per-query timings; the full
  * per-query map still goes to stderr for human analysis.
  */
object Bench {

  /** splitmix64 finalizer — the calibration workload unit. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Sink for calibration results — consuming every spin() return value
    * through a volatile keeps the loop observable, so the JIT cannot
    * dead-code-eliminate the timed computation (the classic microbenchmark
    * pitfall blackholes exist for).
    */
  @volatile private var blackhole: Long = 0L

  private def spin(n: Long, seed: Long): Long = {
    var acc = seed; var i = 0L
    while (i < n) { acc = mix(acc ^ i); i += 1 }
    blackhole ^= acc
    acc
  }

  /** Host calibration, reported alongside the timings: million mix-ops/sec
    * on one thread, and aggregate across `threads` concurrent workers. The
    * benchmark box varies round to round (this round's host advertises 32
    * vCPUs but sustains ~2 cores of actual CPU), so absolute query seconds
    * are only comparable after dividing out these numbers.
    */
  private def calibrate(threads: Int): (Double, Double) = {
    val n = 100_000_000L
    spin(n / 10, 1) // JIT warm
    val oneT = n / seconds(spin(n, 2)) / 1e6
    val parT = n.toDouble * threads / 1e6 / seconds {
      val ws = (0 until threads).map { i =>
        val t = new Thread(() => { spin(n, i + 3L); () }); t.start(); t
      }
      ws.foreach(_.join())
    }
    (oneT, parT)
  }

  /** Stable representative subset across rounds — one or two per operator
    * family, biased toward the heavy queries worth tracking round-over-round.
    */
  val headline: Set[String] = Set(
    "j1_composite_2key_join", "j9_lateral_explode60", "a3_sum_by_parsed_ts",
    "a6_percentile_quantiles", "a8_bucket5_agg", "w1_rownumber_dedup",
    "w2_sessionize", "o1_global_orderby", "m2_gap_fill_linear",
    "m3_forecast_xreg", "m4b_holdout_eval", "sim_bus_rides",
    "sim_bus_rides_heavy", "sim_ride_features", "sim_demand_rollup",
    "stage_minute_spread_conservation", "t11_throughput",
    "s3_parquet_scan_pushdown",
    "s17_bucketed_colocated_join", "s18_merge_upsert", "s21_snapshot_diff",
    "x1_exact_dedup_md5", "x5_minhash_lsh_dupsets",
    "x7_ngram_jaccard_neardup", "x11_dupset_components",
    "x15_contamination_check", "v1_ann_bruteforce_topk", "v2_ann_ivf_topk",
    "v4_ann_kmeans_topk", "mm2_decode_features",
    // round-10 flagships: quality-aware keeper election and the persisted
    // IVF index (build + partition-pruned search).
    "x77_quality_keeper", "v37_persisted_ivf_index",
    // round-11 flagships: the three serving routes through the vector-
    // index facade — one golden plan fingerprint per tier (ivf raw /
    // pq codes / two-stage rerank), per VERDICT r10 #2.
    "serve_vec_search", "serve_vec_search_pq", "serve_vec_search_rerank")

  /** Timed samples per bench query; the JSON records their median. */
  val samplesPerQuery = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.defaultCores
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup on the smallest SF so per-query timings measure the
    // engine, not JIT compilation of the first query to run.
    try noop(SparkEntry.entry(spark)) catch { case _: Throwable => () }

    // The benchmark host's effective CPU budget fluctuates (hypervisor
    // neighbors): observed single-query swings of 10x between back-to-back
    // runs with an idle guest. Calibrating before AND after the sweep makes
    // a mid-run throttle window visible in the artifact instead of looking
    // like a query regression.
    val (pre1, prePar) = calibrate(cpus)

    // Headline names are matched by string; a registry rename must fail the
    // run loudly, not silently drop the query from the round-over-round JSON.
    val benchNames = SparkEntry.benchQueries.map(_.name).toSet
    val orphaned = headline.diff(benchNames)
    require(orphaned.isEmpty,
      s"headline names missing from benchQueries (rename drift): $orphaned")

    // Fixed protocol: every query gets exactly `samplesPerQuery` timed
    // samples, and the median is recorded (min and max go to stderr and
    // the min total to `value_min`). A slow sample — host throttle or
    // real regression — moves the spread; it never earns extra draws.
    var sinceCalib = 0
    var compiled = 0L
    val results = SparkEntry.benchQueries.map { q =>
      val before = QueryMetrics.compiles()
      val samples = sample(samplesPerQuery) { () =>
        // drop cached intermediates (e.g. the shared sim rides cache) so
        // every sample measures the pipeline, not a cache read
        spark.catalog.clearCache()
        seconds(noop(q.build(spark, sfDir)))
      }
      // generated classes compiled across this query's samples: a warm
      // query whose code is cached compiles none
      val c = QueryMetrics.compiles() - before
      compiled += c.classes
      System.err.println(samples.error.fold(
        f"[bench] ${q.name} median=${samples.median}%.2fs min=${samples.min}%.2fs " +
          f"max=${samples.max}%.2fs" + samples.seconds.map(t => f"$t%.2f").mkString(" [", ",", "]") +
          f" compiles=${c.classes}%d (${c.millis}%.0fms)")(
        e => s"[bench] ${q.name} FAILED: ${e.getMessage}"))
      // Interleaved calibration stamps localize a throttle window to a
      // query neighborhood instead of only bracketing the whole sweep.
      sinceCalib += 1
      if (sinceCalib >= 10) {
        sinceCalib = 0
        val mops = 100.0 / seconds(spin(100_000_000L, 17))
        System.err.println(f"[bench] calib-stamp after ${q.name}: $mops%.0f mops")
      }
      (q.name, samples)
    }
    // Warm-poll latency of the serving endpoints (VERDICT r10 #4): the
    // reference dashboard polls every 3 s (index.html:140), so the number
    // that matters operationally is the WARM path — the materialized ride
    // snapshot / persisted vector index, with no sim or index-build
    // lineage re-executing per poll (ServeSpec pins that invariant; this
    // measures it). Reported as p50/p95 entries in the round artifact.
    val pollEntries: Seq[(String, Double)] =
      pollArms(spark, sfDir).flatMap { case (name, arm) =>
        val Polled(s, c) = poll(spark, 20, arm)
        s.error match {
          case Some(e) =>
            System.err.println(s"[bench] poll $name FAILED: ${e.getMessage}"); Nil
          case None =>
            System.err.println(f"[bench] ${name}_p50 ${s.percentile(50)}%.3fs " +
              f"p95 ${s.percentile(95)}%.3fs; 20 polls ran ${c.jobs} jobs, " +
              f"${c.stages} stages, ${c.tasks} tasks, ${c.compiles.classes} compiles")
            Seq(s"${name}_p50" -> s.percentile(50), s"${name}_p95" -> s.percentile(95))
        }
      }
    val okResults = results.filterNot(_._2.failed)
    def entry(k: String, v: Double) = "\"" + k + "\":" + f"$v%.3f"
    val fullMap = okResults.map { case (k, s) => entry(k, s.median) }
      .mkString("{", ",", "}")
    System.err.println(s"[bench] full per-query medians: $fullMap")
    val qs = (okResults.filter(r => headline(r._1))
      .map { case (k, s) => entry(k, s.median) } ++
      pollEntries.map { case (k, v) => entry(k, v) })
      .mkString("{", ",", "}")
    val failed = results.filter(_._2.failed).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = okResults.map(_._2.median).sum
    val totalMin = okResults.map(_._2.min).sum
    val (post1, postPar) = calibrate(cpus)
    println(
      f"""{"metric":"total","value":$total%.3f,"value_min":$totalMin%.3f,"unit":"sec","n_queries":${results.size}%d,"calib_mops_1t":$pre1%.0f,"calib_mops_par":$prePar%.0f,"calib_post_1t":$post1%.0f,"calib_post_par":$postPar%.0f,"codegen_compiles":$compiled%d,"queries":$qs%s,"failed":$failed%s,"sf":"$sfDir%s"}""")
    spark.stop()
  }
}
