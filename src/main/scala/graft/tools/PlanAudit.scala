package graft.tools

import graft.core.Sessions

/** Dev tool: dump formatted physical plans for plan-quality review.
  * Usage: runMain graft.tools.PlanAudit <sfDir> [queryName...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.registry
      .filter(q => names.isEmpty || names(q.name))
      .foreach { q =>
        println(s"\n===== ${q.name} =====")
        try println(q.build(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      }
    spark.stop()
  }
}
