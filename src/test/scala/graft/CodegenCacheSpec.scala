package graft

import graft.core.QueryMetrics
import graft.tools.Sampler.noop

/** Generated code is compiled once per JVM (core/Sessions sizes Spark's
  * generated-class cache and turns off per-session artifact isolation):
  * repeating the benchmark's lakehouse pass, or a streaming query,
  * compiles (almost) nothing new.
  */
class CodegenCacheSpec extends SparkSpec {

  private def pass(): QueryMetrics.Compiles = {
    val before = QueryMetrics.compiles()
    LakehousePass.run(spark, sf)
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
