package graft.tools


/** Operational latency probe for the serving arms — the bench's poll
  * section as a standalone tool, so a serving change can be measured in
  * seconds instead of a full bench sweep:
  * `runMain graft.tools.PollProbe [sfDir] [n]` prints p50/p95 per arm.
  */
object PollProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = if (args.length > 1) args(1).toInt else 20
    // the session Bench and the serving layer run (graft.core.Sessions)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    def probe(name: String, mk: () => org.apache.spark.sql.DataFrame): Unit = {
      mk().write.format("noop").mode("overwrite").save() // seed + warm
      var buildSec = 0.0
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        val df = mk()
        val t1 = System.nanoTime()
        buildSec += (t1 - t0) / 1e9
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // feed the serving layer's vacuum grace window with the observed
        // end-to-end poll duration (QueryService.vacuumGraceMs)
        graft.serve.QueryService.notePollMillis((sec * 1000).toLong)
        sec
      }.sorted
      // nearest-rank percentiles, clamped so n=1..3 stay in range
      def rank(p: Int): Double =
        times(math.min(n - 1, math.max(0, (n * p + 99) / 100 - 1)))
      val p50 = rank(50)
      val p95 = rank(95)
      println(f"$name%-18s p50=$p50%.3fs p95=$p95%.3fs " +
        f"build_avg=${buildSec / n}%.3fs")
    }
    probe("serve_poll_rides", () => graft.serve.QueryService
      .ridesWindow(spark, sfDir, "2024-01-02 06:00:00", "2024-01-02 12:00:00", 365))
    probe("serve_poll_vec", () => graft.serve.QueryService.vecSearch(spark, sfDir))
    probe("serve_poll_docs", () => graft.serve.QueryService.docSearch(spark, sfDir))
    probe("serve_poll_hybrid", () => graft.serve.QueryService.hybridSearch(spark, sfDir))
    spark.stop()
  }
}
