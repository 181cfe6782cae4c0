package perfbench

import java.nio.file.{Files, Paths}

import graft.core.Sessions
import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. `run.py` generates the inputs, builds this
  * program and launches it; this side runs one workload and writes a
  * result file that `run.py` completes with the DuckDB output checks.
  *
  * Arguments (all required):
  *   --workload lakehouse|serve  --seed N  --seconds N
  *   --trace 0|1  --data DIR  --scratch DIR  --out DIR  --t0-ms EPOCH_MS
  */
object Main {

  /** Reported with tracing off. Wall-clock latencies are per-layer: on a
    * shared host with CPU steal they were too unsteady to bound.
    */
  val EndToEnd: Seq[String] = Seq("setup_s", "pass_cpu_s", "read_cpu_ms",
    "retained_heap_mb")

  private val Wall: Seq[String] = Seq("wall.pass_s", "wall.read_p50_ms",
    "wall.read_p95_ms", "wall.publish_s")

  /** Every per-layer metric, in report order. A layer a workload does not
    * exercise reports 0 (for example serve arms on the batch workloads).
    */
  val PerLayer: Seq[String] =
    BatchRunner.Ops.map(op => s"op.$op.s") ++ Seq(
      "driver.analysis_ms", "driver.optimization_ms", "driver.planning_ms",
      "driver.build_ms", "spark.jobs", "spark.stages", "spark.tasks",
      "spark.tasks_failed", "spark.tasks_retried", "executor.idle_s",
      "executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.busy_share",
      "shuffle.write_mb", "shuffle.read_mb", "spill.mb", "streaming.batches",
      "streaming.planning_ms", "streaming.add_batch_ms", "streaming.state_rows") ++
      ServeWorkload.Arms.map(a => s"serve.$a.p50_ms") ++ Seq("serve.jobs_per_read") ++
      ServeWorkload.WriteCalls.map(c => s"write.$c.s") ++ Seq(
        "store.mb", "store.written_mb_per_publish", "host.calib_mops_1t",
        "host.calib_mops_par", "bench.generator_late_ms", "bench.failed_ratio",
        "trace.pass_cpu_s", "trace.read_cpu_ms", "trace.span_coverage") ++ Wall

  private def quartiles(xs: Seq[Double]): String =
    if (xs.isEmpty) "[]"
    else Json.arr(Seq(0.25, 0.5, 0.75).map(q => Json.num(Stats.quantile(xs, q))))

  private val started = System.nanoTime()

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - started) / 1e9}%.1fs] $msg")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val data = a("data")
    val scratch = a("scratch")
    val out = a("out")
    val t0Ms = a("t0-ms").toDouble
    Files.createDirectories(Paths.get(out))

    val cores = Runtime.getRuntime.availableProcessors()
    val calStart = Clock.wallS
    val calPre = Calib.run(cores)
    val calPreS = Clock.wallS - calStart
    log(f"calibration before: ${calPre._1}%.0f Mops/s 1t, ${calPre._2}%.0f Mops/s x$cores")
    val spark = Sessions.configure(SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session ready")
    val tracer = if (trace) Some(new Tracer(spark)) else None

    var timedAtMs = Double.NaN
    val onTimed = () => { timedAtMs = System.currentTimeMillis().toDouble }
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0
    var failures = Seq.empty[String]
    var badOutputs = Seq.empty[String]
    var checks = (Seq.empty[String], Seq.empty[String])
    val detail = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val checkDir = s"$out/check"

    workload match {
      case "lakehouse" =>
        val runner = new BatchRunner(spark, data, tracer, log)
        val res = runner.run(BatchRunner.passes(seconds), checkDir, onTimed)
        metrics ++= runner.timings(res)
        metrics("retained_heap_mb") = Clock.retainedHeapMb()
        tracer.foreach { t => t.drain(); metrics ++= runner.perLayer(res, t) }
        attempted = res.opRuns.size
        failures = (res.warmFailed ++ res.opRuns.filterNot(_.ok))
          .map(r => s"${r.op}: ${r.error}")
        checks = (res.checked, BatchRunner.Ops.filter(op =>
          graft.SparkEntry.oracleSql.contains(op) && !res.checked.contains(op)))
        detail("passes") = Json.arr(res.passes.map(p => Json.num(p.wallS)))
        detail("pass_cpu") = Json.arr(res.passes.map(p => Json.num(p.cpuS)))
        detail("pass_cpu_quartiles") = quartiles(res.passes.map(_.cpuS))
        detail("warmup_pass") = Json.num(res.warmS)
        detail("op_s") = Json.obj(BatchRunner.Ops.map { op =>
          op -> Json.arr(res.opRuns.filter(_.op == op).map(r => Json.num(r.wallS)))
        })
      case "serve" =>
        val runner = new ServeRunner(spark, data, seed, tracer, scratch, log)
        runner.build()
        val warm = runner.warm()
        val res = runner.run(seconds, onTimed)
        metrics ++= runner.timings(res)
        metrics("retained_heap_mb") = Clock.retainedHeapMb()
        tracer.foreach { t => t.drain(); metrics ++= runner.perLayer(res, t) }
        attempted = res.done.size + res.pages.size * ServeWorkload.Arms.size
        failures = res.done.filterNot(_.ok).map(d => s"request ${d.idx} ${d.kind}: ${d.error}") ++
          res.pages.flatMap(_.failures)
        badOutputs = res.done.filter(_.badOutput).map(d => s"request ${d.idx}") ++
          res.pages.flatMap(_.bad)
        checks = runner.writeCheckOutputs(checkDir)
        log("check outputs written")
        val lat = res.done.filter(d => ServeWorkload.Arms.contains(d.kind))
          .map(d => d.endMs - d.dueMs)
        detail("reads") = lat.size.toString
        detail("read_ms") = Json.arr(lat.map(Json.num))
        detail("read_ms_quartiles") = quartiles(lat)
        detail("warmup_sweep_s") = Json.num(warm)
        detail("pages") = Json.arr(res.pages.map(p => Json.num(p.wallS)))
        detail("page_cpu") = Json.arr(res.pages.map(p => Json.num(p.cpuS)))
        detail("writes") = Json.arr(res.writes.map { case (c, s) =>
          Json.arr(Seq(Json.str(c), Json.num(s)))
        })
      case other => sys.error(s"unknown workload '$other'")
    }
    // set-up: from JVM launch to the first timed op, less the calibration
    metrics("setup_s") = (timedAtMs - t0Ms) / 1000 - calPreS

    val calPost = Calib.run(cores)
    log(f"calibration after: ${calPost._1}%.0f Mops/s 1t, ${calPost._2}%.0f Mops/s x$cores")
    detail("wall") = Json.obj(Wall.map(n => n -> Json.num(metrics.getOrElse(n, 0.0))))
    tracer.foreach { t =>
      metrics("trace.pass_cpu_s") = metrics("pass_cpu_s")
      metrics("trace.read_cpu_ms") = metrics("read_cpu_ms")
      metrics("host.calib_mops_1t") = (calPre._1 + calPost._1) / 2
      metrics("host.calib_mops_par") = (calPre._2 + calPost._2) / 2
      metrics("bench.failed_ratio") = failures.size.toDouble / math.max(1, attempted)
      t.write(Paths.get(out, "trace.jsonl"))
      t.close()
    }
    val names = if (trace) PerLayer else EndToEnd
    val reported = names.map(n => n -> metrics.getOrElse(n, 0.0))
    detail("calib_before") = Json.arr(Seq(Json.num(calPre._1), Json.num(calPre._2)))
    detail("calib_after") = Json.arr(Seq(Json.num(calPost._1), Json.num(calPost._2)))
    val result = Json.obj(Seq(
      "metrics" -> Json.obj(reported.map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> attempted.toString,
      "failures" -> Json.arr(failures.map(Json.str)),
      "bad_outputs" -> Json.arr(badOutputs.map(Json.str)),
      "checks_written" -> Json.arr(checks._1.map(Json.str)),
      "checks_unwritten" -> Json.arr(checks._2.map(Json.str)),
      "oracle_sql" -> Json.obj(checks._1.flatMap(q =>
        graft.SparkEntry.oracleSql.get(q).map(s => q -> Json.str(s)))),
      "detail" -> Json.obj(detail.toSeq)))
    Files.write(Paths.get(out, "result.json"), result.getBytes("UTF-8"))
    spark.stop()
    log("done")
    // the result is on disk and the run directory is removed by run.py:
    // skip the shutdown hooks (they only delete scratch) and stop now
    Runtime.getRuntime.halt(0)
  }
}
