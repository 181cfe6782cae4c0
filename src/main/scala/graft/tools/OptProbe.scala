package graft.tools

import graft.core.{QueryMetrics, Sessions}
import graft.tools.Sampler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev measurement tool for the optimization rounds: per-query wall time
  * split into build() vs noop-execute, with Spark job/stage/task counts,
  * shuffle bytes and Janino compiles from [[QueryMetrics]] — pinpoints
  * whether a slow query is paying for eager driver work inside build, too
  * many jobs, code generation, or genuine task time.
  *
  * Usage: runMain graft.tools.OptProbe <sfDir> <queryName...>
  *        runMain graft.tools.OptProbe <sfDir> --stages   (x66 stage costs)
  *        runMain graft.tools.OptProbe <sfDir> --cc       (connected components)
  *        runMain graft.tools.OptProbe <sfDir> --polls [nBenchQueries]
  *        runMain graft.tools.OptProbe <sfDir> --jobs <queryName>
  */
object OptProbe {

  /** Clock one run of `mk` — build seconds, execute seconds and the Spark
    * work of both — and print it as one line; returns the total seconds
    * and the counts.
    */
  private def probe(spark: SparkSession, label: String, mk: () => DataFrame)
      : (Double, QueryMetrics.Counts) = {
    val ((b, e), c) = QueryMetrics.measure(spark) {
      var df: DataFrame = null
      val b = seconds { df = mk() }
      (b, seconds(noop(df)))
    }
    println(f"[probe] $label%-34s build=$b%6.2fs exec=$e%6.2fs " +
      f"jobs=${c.jobs}%3d stages=${c.stages}%3d tasks=${c.tasks}%4d retried=${c.retried}%d " +
      f"shufR=${c.shuffleReadBytes / 1024}%7dKB shufW=${c.shuffleWriteBytes / 1024}%7dKB " +
      f"compiles=${c.compiles.classes}%d (${c.compiles.millis}%.0fms)")
    (b + e, c)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")

    args.lift(1) match {
      case Some("--stages") =>
        val t = seconds(graft.operators.Pretrain
          .pretrainCorpusCosts(graft.core.Tables.documents(spark, sfDir))
          .show(20, truncate = false))
        println(f"x66-with-costs total $t%.2fs")

      case Some("--cc") =>
        // isolate the connected-components loop: a 200-node random graph
        import spark.implicits._
        val rnd = new scala.util.Random(7)
        val edges = Seq.fill(400)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
          .toDF("u", "v")
        sample(3)(() => probe(spark, "cc", () =>
          graft.operators.GraphOps.connectedComponents(edges))._1).orThrow

      case Some("--polls") =>
        // Reproduce the bench's END-OF-RUN poll state: replay the first N
        // bench queries as Bench samples them (clearCache + noop), then run
        // Bench's poll loop over the four arms — per-arm seconds plus the
        // Spark work per poll, so a warm-poll degradation shows up as
        // either higher counts (plan-shape problem) or same-counts-slower
        // (accumulated fixed overhead).
        val preN = args.lift(2).fold(0)(_.toInt)
        val pre = graft.SparkEntry.benchQueries.take(if (preN < 0) Int.MaxValue else preN)
        val replay = seconds(pre.foreach { q =>
          sample(graft.Bench.samplesPerQuery) { () =>
            spark.catalog.clearCache(); seconds(noop(q.build(spark, sfDir)))
          }.error.foreach(e => println(s"${q.name} FAILED: ${e.getMessage}"))
        })
        println(f"[polls] replayed ${pre.size} bench queries in $replay%.1fs")
        val n = 20
        pollArms(spark, sfDir).foreach { case (name, arm) =>
          val Polled(polled, c) = poll(spark, n, arm)
          val s = polled.orThrow
          println(f"[polls] $name%-18s p50=${s.percentile(50)}%.3fs " +
            f"p95=${s.percentile(95)}%.3fs min=${s.min}%.3fs max=${s.max}%.3fs " +
            f"jobs/poll=${c.jobs.toDouble / n}%.1f stages/poll=${c.stages.toDouble / n}%.1f " +
            f"tasks/poll=${c.tasks.toDouble / n}%.1f retried=${c.retried}%d " +
            f"compiles=${c.compiles.classes}%d (${c.compiles.millis}%.0fms)")
        }

      case Some("--jobs") =>
        // per-job breakdown of one query: description + wall per job, so a
        // job-count-bound pipeline shows WHICH actions own the micro-jobs
        require(args.length > 2, "usage: OptProbe <sfDir> --jobs <queryName>")
        val q = graft.SparkEntry.registry.find(_.name == args(2))
          .getOrElse(sys.error(s"unknown query ${args(2)}"))
        try noop(q.build(spark, sfDir)) // warm once
        catch { case e: Throwable => println(s"warm FAILED: ${e.getMessage}") }
        spark.catalog.clearCache()
        probe(spark, q.name, () => q.build(spark, sfDir))._2.jobRuns.sortBy(_.id).foreach(r =>
          println(f"[job] ${r.id}%4d ${r.millis}%8dms  ${r.description}"))

      case _ =>
        val names = args.drop(1).toSet
        graft.SparkEntry.registry.filter(q => names(q.name)).foreach { q =>
          // warm once (codegen + file listing), then three cold-cache runs
          try { spark.catalog.clearCache(); noop(q.build(spark, sfDir)) }
          catch { case e: Throwable => println(s"${q.name} FAILED: ${e.getMessage}") }
          sample(3) { () =>
            spark.catalog.clearCache()
            probe(spark, q.name, () => q.build(spark, sfDir))._1
          }.error.foreach(e => println(s"${q.name} FAILED: ${e.getMessage}"))
        }
    }
    spark.stop()
  }
}
