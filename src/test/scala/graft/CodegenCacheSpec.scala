package graft

import graft.core.QueryMetrics
import graft.tools.Sampler.noop

/** Generated code is compiled once per JVM (core/Sessions sizes Spark's
  * generated-class cache and turns off per-session artifact isolation):
  * repeating the benchmark's lakehouse pass, or a streaming query,
  * compiles (almost) nothing new.
  */
class CodegenCacheSpec extends SparkSpec {

  /** The benchmark's lakehouse pass: five ops through the registry, Spark's
    * cache cleared at the start of the pass, each op forced with a noop
    * write.
    */
  private val lakehouse = Seq("sim_bus_rides", "m2_gap_fill_linear",
    "t11_throughput", "j1_composite_2key_join", "s18_merge_upsert")

  private def pass(): QueryMetrics.Compiles = {
    val before = QueryMetrics.compiles()
    spark.catalog.clearCache()
    lakehouse.foreach(op => noop(SparkEntry.queries(op)(spark, sf)))
    QueryMetrics.compiles() - before
  }

  test("after one warm pass, a lakehouse pass compiles at most 5 classes") {
    val warm = pass()
    val again = pass()
    info(s"warm pass compiled ${warm.classes}, the next ${again.classes}")
    assert(again.classes <= 5, s"a repeated pass compiled ${again.classes} classes")
  }

  test("a second run of t11_throughput compiles nothing: the streaming " +
    "query's session shares compiled classes") {
    def run() = QueryMetrics.measure(spark)(
      noop(SparkEntry.queries("t11_throughput")(spark, sf)))._2.compiles
    val first = run()
    val second = run()
    info(s"first run compiled ${first.classes}, the second ${second.classes}")
    assert(second.classes === 0L)
  }
}
