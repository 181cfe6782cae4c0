package graft

import graft.core.QueryMetrics
import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.functions.col

/** The one recorder: counts are exact when the scoped call returns, two
  * concurrent scopes never mix, and task metrics reach the scope.
  */
class QueryMetricsSpec extends SparkSpec {

  test("the job count is exact as soon as the scoped call returns, with no sleep") {
    val sc = spark.sparkContext
    // a listener that holds every bus event up for 20 ms: the bus lags
    // the jobs, so a count read before it catches up comes out short
    val lag = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = Thread.sleep(20)
    }
    sc.addSparkListener(lag)
    try for (jobs <- 1 to 5) {
      val (_, c) = QueryMetrics.measure(spark) {
        (1 to jobs).foreach(_ => sc.parallelize(1 to 10, 2).count())
      }
      assert(c.jobs === jobs)
      assert(c.stages === jobs)
      assert(c.tasks === 2 * jobs)
    } finally sc.removeSparkListener(lag)
  }

  test("two job groups running concurrently from two threads are attributed separately") {
    val sc = spark.sparkContext
    val m = QueryMetrics(spark)
    try {
      // every round starts both threads' jobs together, so they are in
      // flight at the same time
      val round = new java.util.concurrent.CyclicBarrier(2)
      // each thread sets its own job group inside its scope, as x50/x66
      // do for cancellation; the scope still sees every job
      def worker(scope: String, parts: Int) = new Thread(() =>
        m.scoped(scope) {
          sc.setJobGroup(s"group-$scope", scope)
          try (1 to 4).foreach { _ =>
            round.await(60, java.util.concurrent.TimeUnit.SECONDS)
            sc.parallelize(1 to parts, parts).count()
          } finally sc.clearJobGroup()
        })
      val ts = Seq(worker("a", parts = 2), worker("b", parts = 3))
      ts.foreach(_.start()); ts.foreach(_.join())
      m.drain()
      val (a, b) = (m.counts("a"), m.counts("b"))
      assert((a.jobs, a.stages, a.tasks) === ((4, 4, 8)))
      assert((b.jobs, b.stages, b.tasks) === ((4, 4, 12)))
    } finally m.close()
  }

  test("a scope records its wall time, accumulated over its calls") {
    val m = QueryMetrics(spark)
    try {
      m.scoped("slow")(Thread.sleep(30))
      m.scoped("slow")(Thread.sleep(30))
      m.scoped("fast")(())
      assert(m.counts("slow").wallMs >= 60L)
      assert(m.counts("fast").wallMs >= 1L)
      val table = m.costTable(spark).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(table.keySet === Set("slow", "fast"))
      assert(table("slow") === m.counts("slow").wallMs)
    } finally m.close()
  }

  test("the shuffle bytes of a one-shuffle query are > 0") {
    val (_, c) = QueryMetrics.measure(spark) {
      spark.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
    }
    assert(c.shuffleWriteBytes > 0L, c)
    assert(c.shuffleReadBytes > 0L, c)
  }

  test("a query with a new expression compiles at least one class; its identical re-run none") {
    // a literal no earlier query used: its source is new to the cache
    val k = java.util.UUID.randomUUID().getMostSignificantBits & 0xffffffL
    def query() = QueryMetrics.measure(spark) {
      spark.range(0, 100, 1, 2).select((col("id") * k + 7).as("x")).collect()
    }._2.compiles
    val first = query()
    assert(first.classes >= 1L, first)
    assert(first.millis > 0.0, first)
    assert(query().classes === 0L)
  }
}
