package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{SaveMode, SparkSession}

/** The `lakehouse` workload: the paper's batch ridership pipeline, one op
  * per layer it runs: simulation (sim), gap fill, streaming, a relational
  * join and a MERGE upsert into a snapshot table (core). One PASS runs the
  * ops in order, each forced with a noop write. Spark's cache is cleared at
  * the start of a pass, never between its ops (the sim ops share the rides
  * table within a pass, as they do in production). One untimed warm-up
  * pass runs every op at once; then a fixed number of passes is timed, so
  * every op is timed the same number of times in a run.
  */
object BatchRunner {
  val Ops: Seq[String] = Seq("sim_bus_rides", "m2_gap_fill_linear",
    "t11_throughput", "j1_composite_2key_join", "s18_merge_upsert")
  /** The op that writes a table; the others only read. */
  val Publishing = "s18_merge_upsert"

  /** Timed passes for a measuring budget of `seconds` (about 5 s a pass):
    * fixed per `seconds`, never adapted to how fast this run goes.
    */
  def passes(seconds: Int): Int = math.max(3, seconds / 5)

  final case class OpRun(op: String, wallS: Double, cpuS: Double, ok: Boolean,
      error: String)
  final case class PassRun(wallS: Double, cpuS: Double)
  /** `warmFailed`: warm-up ops that failed (their outputs are unchecked);
    * `checked`: ops whose warm-up output was written for the DuckDB check.
    */
  final case class Result(passes: Seq[PassRun], opRuns: Seq[OpRun],
      warmS: Double, warmFailed: Seq[OpRun], checked: Seq[String])
}

/** Runs the lakehouse workload in one session; see [[BatchRunner$]]. */
final class BatchRunner(spark: SparkSession, data: String,
    tracer: Option[Tracer], log: String => Unit) {
  import BatchRunner._

  private val queries = graft.SparkEntry.queries

  private def traced[T](name: String, unit: Boolean = false)(body: => T): T =
    tracer match {
      case Some(t) => t.span(name, unit)(body)
      case None => body
    }

  private def runOp(op: String, checkDir: Option[String]): OpRun = {
    val o0 = Clock.wallS; val oc0 = Clock.cpuS
    val err = try {
      traced(s"op.$op") {
        val df = traced("build")(queries(op)(spark, data))
        traced("action")(checkDir.filter(_ => oracle.contains(op)) match {
          case Some(dir) => df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$op")
          case None => df.write.format("noop").mode(SaveMode.Overwrite).save()
        })
      }
      ""
    } catch { case e: Throwable =>
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }
    OpRun(op, Clock.wallS - o0, Clock.cpuS - oc0, err.isEmpty, err)
  }

  private val oracle = graft.SparkEntry.oracleSql

  /** One timed pass: every op once, in order. */
  private def pass(i: Int): (PassRun, Seq[OpRun]) = {
    val t0 = Clock.wallS; val c0 = Clock.cpuS
    val runs = traced(s"pass.$i", unit = true) {
      spark.catalog.clearCache()
      Ops.map(runOp(_, None))
    }
    (PassRun(Clock.wallS - t0, Clock.cpuS - c0), runs)
  }

  /** The untimed warm-up pass: every op once, all at the same time (it
    * only has to load and compile the code paths), each op with a DuckDB
    * oracle writing its output as parquet for the output check.
    */
  private def warmPass(checkDir: String): (Double, Seq[OpRun]) = {
    val t0 = Clock.wallS
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[OpRun]()
    Ops.map { op =>
      val t = new Thread(() => { runs.add(runOp(op, Some(checkDir))); () })
      t.start(); t
    }.foreach(_.join())
    (Clock.wallS - t0, Ops.flatMap(op => runs.toArray(Array.empty[OpRun]).find(_.op == op)))
  }

  /** The warm-up pass, then `n` timed passes. `onTimed` fires just before
    * the first timed op (it closes the set-up interval).
    */
  def run(n: Int, checkDir: String, onTimed: () => Unit): Result = {
    val (warmS, warmRuns) = warmPass(checkDir)
    log(f"warm-up pass: $warmS%.2f s")
    onTimed()
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val all = mutable.ArrayBuffer.empty[OpRun]
    for (i <- 0 until n) {
      val (p, runs) = pass(i)
      passes += p; all ++= runs
      log(f"pass $i: ${p.wallS}%.2f s wall, ${p.cpuS}%.2f s cpu" +
        runs.filterNot(_.ok).map(r => s"; ${r.op} FAILED ${r.error}").mkString)
    }
    val checked = warmRuns.filter(r => r.ok && oracle.contains(r.op))
    Result(passes.toSeq, all.toSeq, warmS, warmRuns.filterNot(_.ok), checked.map(_.op))
  }

  /** CPU and wall metrics of a finished run; the "read" ops are the ones
    * that publish nothing.
    */
  def timings(res: Result): Seq[(String, Double)] = {
    val ok = res.opRuns.filter(_.ok)
    val reads = ok.filterNot(_.op == Publishing)
    val pubs = ok.filter(_.op == Publishing)
    def ms(xs: Seq[OpRun]) = xs.map(_.wallS * 1000)
    Seq(
      "pass_cpu_s" -> Stats.median(res.passes.map(_.cpuS)),
      "read_cpu_ms" -> reads.map(_.cpuS * 1000).sum / reads.size,
      "wall.pass_s" -> Stats.median(res.passes.map(_.wallS)),
      "wall.read_p50_ms" -> Stats.median(ms(reads)),
      "wall.read_p95_ms" -> Stats.quantile(ms(reads), 0.95),
      "wall.publish_s" -> Stats.median(pubs.map(_.wallS)))
  }

  /** Per-layer metrics from the traced run. Counters are per pass. */
  def perLayer(res: Result, t: Tracer): Seq[(String, Double)] = {
    val n = res.passes.size.toDouble
    val spans = t.allSpans
    val passSpans = spans.filter(_.name.startsWith("pass."))
    val unit = t.unitOf(_.name.startsWith("pass."))
    def inTimed(ms: Double) = passSpans.exists(p => ms >= p.startMs && ms <= p.endMs)
    // a job belongs to a timed pass through its span, or, when submitted
    // from a thread that carries no span, through its start time
    val jobs = t.allJobs.filter { j =>
      unit(j.span) match {
        case Some(p) => passSpans.exists(_.id == p.id)
        case None => inTimed(j.startMs)
      }
    }
    val ops = spans.filter(_.name.startsWith("op.")).filter(s =>
      unit(s.id).exists(p => passSpans.exists(_.id == p.id)))
    val opMedians = Ops.map { op =>
      val d = ops.filter(_.name == s"op.$op").map(s => (s.endMs - s.startMs) / 1000)
      s"op.$op.s" -> (if (d.isEmpty) 0.0 else Stats.median(d))
    }
    val builds = spans.filter(s => s.name == "build" &&
      unit(s.id).exists(p => passSpans.exists(_.id == p.id)))
    val phases = t.allPhases.filter(p => inTimed(p.atMs))
    val prog = t.allProgress.filter(p => inTimed(p.atMs))
    val tasks = t.allTasks.map(ti => (ti.startMs, ti.endMs))
    val cores = spark.sparkContext.defaultParallelism
    val idleS = passSpans.map(p =>
      (p.endMs - p.startMs - Tracer.coveredMs(tasks, p.startMs, p.endMs)) / 1000)
    val wallS = passSpans.map(p => (p.endMs - p.startMs) / 1000).sum
    val coverage = passSpans.map { p =>
      val iv = ops.filter(o => unit(o.id).exists(_.id == p.id))
        .map(o => (o.startMs, o.endMs))
      Tracer.coveredMs(iv, p.startMs, p.endMs) / (p.endMs - p.startMs)
    }
    val runS = jobs.map(_.runMs).sum / 1000.0
    val mb = 1048576.0
    opMedians ++ Seq(
      "driver.analysis_ms" -> phases.map(_.analysisMs).sum / n,
      "driver.optimization_ms" -> phases.map(_.optimizationMs).sum / n,
      "driver.planning_ms" -> phases.map(_.planningMs).sum / n,
      "driver.build_ms" -> builds.map(s => s.endMs - s.startMs).sum / n,
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> jobs.map(_.stages).sum / n,
      "spark.tasks" -> jobs.map(_.tasks).sum / n,
      "spark.tasks_failed" -> jobs.map(_.tasksFailed).sum / n,
      "spark.tasks_retried" -> jobs.map(_.tasksRetried).sum / n,
      "executor.idle_s" -> Stats.median(idleS),
      "executor.run_s" -> runS / n,
      "executor.cpu_s" -> jobs.map(_.cpuNs).sum / 1e9 / n,
      "executor.gc_s" -> jobs.map(_.gcMs).sum / 1000.0 / n,
      "executor.busy_share" -> runS / (wallS * cores),
      "shuffle.write_mb" -> jobs.map(_.shuffleWriteB).sum / mb / n,
      "shuffle.read_mb" -> jobs.map(_.shuffleReadB).sum / mb / n,
      "spill.mb" -> jobs.map(_.spillB).sum / mb / n,
      "streaming.batches" -> prog.count(_.inputRows > 0) / n,
      "streaming.planning_ms" -> prog.map(_.planningMs).sum / n,
      "streaming.add_batch_ms" -> prog.map(_.addBatchMs).sum / n,
      "streaming.state_rows" -> (if (prog.isEmpty) 0.0 else prog.map(_.stateRows).max.toDouble),
      "trace.span_coverage" -> coverage.min)
  }
}
