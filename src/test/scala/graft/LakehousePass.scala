package graft

import graft.tools.Sampler.noop
import org.apache.spark.sql.SparkSession

/** The benchmark's lakehouse pass: five ops through the registry, Spark's
  * cache cleared at the start of the pass, each op forced with a noop
  * write.
  */
object LakehousePass {
  val ops: Seq[String] = Seq("sim_bus_rides", "m2_gap_fill_linear",
    "t11_throughput", "j1_composite_2key_join", "s18_merge_upsert")

  def run(spark: SparkSession, sf: String): Unit = {
    spark.catalog.clearCache()
    ops.foreach(op => noop(SparkEntry.queries(op)(spark, sf)))
  }
}
