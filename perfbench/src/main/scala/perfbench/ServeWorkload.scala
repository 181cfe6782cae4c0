package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.Graft
import graft.serve.QueryService
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The dashboard serving workload: an OPEN loop at a fixed rate. One
  * generator thread issues a seeded schedule of requests into a small
  * pool; each request's latency counts from the time it was due, so a
  * stall also charges the requests queued behind it.
  *
  * The schedule is a sequence of blocks: the seven read arms once each, in
  * seeded order, then one write. Writes cycle through a vector append, a
  * BM25 doc-index refresh and a vector delete (tombstones), on a versioned
  * index root the benchmark owns. Every run therefore has the same mix;
  * the seed draws the order, each read's parameters, the query vectors
  * and the payloads.
  */
object ServeWorkload {
  /** Requests per second: about 0.6 of what one closed-loop client
    * sustains (about 3.3 reads/s on a 4-core host at sf0.01), so that a
    * 12 s phase holds three whole blocks.
    */
  val Rate = 2.0
  val Arms: Seq[String] = Seq("rides", "state", "demand", "vec", "docs", "hybrid", "ann")
  val Tiers: Seq[String] = Seq("ivf", "pq", "rerank")
  val WriteCalls: Seq[String] = Seq("refreshDocIndex", "annAppendVersionedVecIndex",
    "annDeleteFromVersionedVecIndex")
  /** Page loads timed after the open loop, one per tier. */
  val PageLoads = 3

  /** One read's parameters. */
  final case class Read(arm: String, window: (String, String, Int) = null,
      line: String = null, tier: String = null, k: Int = 0,
      queries: Seq[(Long, Array[Float])] = Nil)
  sealed trait Write { def label: String }
  final case class Append(batch: Seq[(Long, Array[Float])]) extends Write {
    val label = "vec_append"
  }
  case object DocRefresh extends Write { val label = "doc_refresh" }
  final case class Delete(pick: Seq[Int]) extends Write { val label = "vec_delete" }

  /** One finished request; `badOutput` marks a read that ran but failed
    * its output check.
    */
  final case class Done(idx: Int, kind: String, dueMs: Double, startMs: Double,
      endMs: Double, ok: Boolean, error: String, badOutput: Boolean = false)

  /** One page load: the seven arms read back to back, with no writes
    * running. `errors`: its reads that threw; `bad`: its reads that failed
    * their output check.
    */
  final case class Page(wallS: Double, cpuS: Double, errors: Seq[String],
      bad: Seq[String]) {
    def failures: Seq[String] = errors ++ bad
  }
}

final class ServeRunner(spark: SparkSession, data: String, seed: Long,
    tracer: Option[Tracer], scratch: String, log: String => Unit) {
  import ServeRunner._
  import ServeWorkload._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val annRoot = s"$scratch/perfbench_ann_index"
  private val nCorpus: Int = graft.core.Tables.embeddings(spark, data).count().toInt
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  // ids alive in the benchmark's own index, and tombstones with the time
  // their delete completed (a read that STARTED after that must not see them)
  private val alive = mutable.ArrayBuffer.tabulate(nCorpus)(_.toLong)
  private val tombstones = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
  private var nextAppendId = 10_000_000L

  private def traced[T](name: String, unit: Boolean = false)(body: => T): T =
    tracer match {
      case Some(t) => t.span(name, unit)(body)
      case None => body
    }

  private def unitVec(rng: scala.util.Random): Array[Float] = {
    val v = Array.fill(64)(rng.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def vecDf(rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(rows.map { case (id, e) => Row(id, e.toSeq) }.asJava, vecSchema)

  /** Block `b`'s reads: every arm once in seeded order. The vector and ANN
    * arms take their tier from a per-run seeded rotation, so any three
    * consecutive blocks cover each tier once.
    */
  private def block(b: Int, tierOrder: Seq[String], rng: scala.util.Random): Seq[Read] = {
    val tier = tierOrder(b % Tiers.size)
    rng.shuffle(Arms).map {
      case "rides" =>
        val startH = rng.nextInt(19)
        Read("rides", window = (f"2024-01-02 $startH%02d:00:00",
          f"2024-01-02 ${startH + 5}%02d:59:59", 300 + rng.nextInt(100)))
      case "demand" => Read("demand", line = s"NATION_${rng.nextInt(25)}")
      case "vec" => Read("vec", tier = tier, k = Seq(3, 5, 10)(rng.nextInt(3)))
      case "docs" => Read("docs", k = Seq(5, 10, 20)(rng.nextInt(3)))
      case "hybrid" => Read("hybrid", k = Seq(5, 10)(rng.nextInt(2)))
      case "ann" => Read("ann", tier = tier, k = Seq(3, 5, 10)(rng.nextInt(3)),
        queries = Seq((-1L, unitVec(rng)), (-2L, unitVec(rng))))
      case arm => Read(arm)
    }
  }

  /** Execute one read, returning the rows (the dashboard consumes them). */
  private def execRead(r: Read): Array[Row] = {
    val df = traced("build") {
      r.arm match {
        case "rides" => QueryService.ridesWindow(spark, data, r.window._1,
          r.window._2, r.window._3)
        case "state" => QueryService.busState(spark, data)
        case "demand" => QueryService.demandByLine(spark, data, r.line)
        case "vec" => QueryService.vecSearch(spark, data, r.k, r.tier)
        case "docs" => QueryService.docSearch(spark, data, r.k)
        case "hybrid" => QueryService.hybridSearch(spark, data, r.k)
        case "ann" => Graft.annSearchVersionedVecIndex(spark, annRoot,
          vecDf(r.queries), r.k, probes = 2, tier = r.tier)
      }
    }
    traced("action")(df.collect())
  }

  /** Output check of one ANN read: k rows per query, none tombstoned
    * before the read started. Runs after the latency is recorded.
    */
  private def checkAnn(r: Read, rows: Array[Row], startMs: Double): String = {
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    val counts = r.queries.map(q => byQ.get(q._1).map(_.length).getOrElse(0))
    val dead = rows.map(_.getAs[Long]("neighbor_id")).filter { id =>
      tombstones.containsKey(id) && tombstones.get(id) <= startMs
    }
    if (counts.exists(_ != r.k)) s"ann returned ${counts.mkString("/")} rows for k=${r.k}"
    else if (dead.nonEmpty) s"ann served tombstoned ids ${dead.take(5).mkString(",")}"
    else ""
  }

  private val writeTimes = new ConcurrentLinkedQueue[(String, Double)]()
  private val writtenBytes = new ConcurrentLinkedQueue[Long]()

  private def timedCall(call: String)(body: => Unit): Unit = {
    val t0 = Clock.wallS
    traced(s"write.$call")(body)
    writeTimes.add(call -> (Clock.wallS - t0))
  }

  private def execWrite(w: Write): Unit = w match {
    case Append(batch) =>
      timedCall("annAppendVersionedVecIndex")(
        Graft.annAppendVersionedVecIndex(vecDf(batch), annRoot))
      alive.synchronized { alive ++= batch.map(_._1) }
    case DocRefresh =>
      timedCall("refreshDocIndex")(QueryService.refreshDocIndex(spark, data))
    case Delete(pick) =>
      val ids = alive.synchronized {
        val chosen = pick.map(p => alive(p % alive.size)).distinct
        alive --= chosen
        chosen
      }
      val df = spark.createDataFrame(ids.map(Row(_)).asJava,
        StructType(Seq(StructField("vec_id", LongType))))
      timedCall("annDeleteFromVersionedVecIndex")(
        Graft.annDeleteFromVersionedVecIndex(spark, annRoot, df))
      val at = Clock.epochMs
      ids.foreach(id => tombstones.put(id, at))
  }

  private def drawWrite(n: Int, rng: scala.util.Random): Write = n % 3 match {
    case 0 => Append(Seq.fill(20) { nextAppendId += 1; (nextAppendId, unitVec(rng)) })
    case 1 => DocRefresh
    case _ => Delete(Seq.fill(10)(rng.nextInt(Int.MaxValue)))
  }

  private def walkBytes(f: java.io.File, since: Double): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(walkBytes(_, since)).sum).getOrElse(0L)
    else if (f.lastModified >= since) f.length else 0L

  /** Bytes under the index roots (the service's roots live under
    * `${java.io.tmpdir}/graft-scratch`) in files modified since `since`.
    */
  private def storeBytes(since: Double): Long =
    Seq(annRoot, s"${System.getProperty("java.io.tmpdir")}/graft-scratch")
      .map(d => walkBytes(new java.io.File(d), since)).sum

  /** First touch of every served root (rides snapshot, BM25 and vector
    * indexes) and the benchmark's own versioned index. The four are
    * independent, so they run concurrently, as a server's start-up would.
    */
  def build(): Unit = {
    val failed = new ConcurrentLinkedQueue[Throwable]()
    def step(what: String)(body: => Unit): Thread = {
      val t = new Thread(() => {
        val t0 = Clock.wallS
        try body catch { case e: Throwable => failed.add(e) }
        log(f"built $what in ${Clock.wallS - t0}%.1f s")
      })
      t.start(); t
    }
    Seq(
      step("benchmark ANN index")(Graft.annInitVersionedVecIndex(
        graft.core.Tables.embeddings(spark, data), annRoot, tiers = "both")),
      step("served rides")(QueryService.busState(spark, data).collect()),
      step("BM25 index")(QueryService.docSearch(spark, data).collect()),
      step("served vector index")(QueryService.vecSearch(spark, data).collect())
    ).foreach(_.join())
    failed.asScala.headOption.foreach(e => throw e)
  }

  /** Reads one page (every arm once, in order). The ANN outputs are
    * checked after the clocks stop.
    */
  private def pageLoad(reads: Seq[Read]): Page = {
    val w0 = Clock.wallS; val c0 = Clock.cpuS
    val got = reads.map(r => (r, Clock.epochMs, scala.util.Try(execRead(r))))
    val wallS = Clock.wallS - w0; val cpuS = Clock.cpuS - c0
    val errors = got.collect { case (r, _, scala.util.Failure(e)) => s"page ${r.arm}: $e" }
    val bad = got.collect { case (r, s0, scala.util.Success(rows)) if r.arm == "ann" =>
      checkAnn(r, rows, s0) }.filter(_.nonEmpty).map(b => s"page ann: $b")
    (errors ++ bad).foreach(log)
    Page(wallS, cpuS, errors, bad)
  }

  /** Warm-up. Every read variant whose plan the service caches (vector
    * tier x k, doc k, hybrid k) and each ANN tier, run concurrently on the
    * request pool's width; then one write of each kind; then one sweep of
    * the seven arms. (Sweeps repeated until the time stopped falling took
    * 3 sweeps and ~15 s, more than the run budget allows.)
    */
  def warm(): Double = {
    val rng = new scala.util.Random(seed ^ 0xa11ce)
    def ann(t: String) = Read("ann", tier = t, k = 5,
      queries = Seq((-1L, unitVec(rng)), (-2L, unitVec(rng))))
    val arms = Seq(
      Read("rides", window = ("2024-01-02 06:00:00", "2024-01-02 11:59:59", 365)),
      Read("state"), Read("demand", line = "NATION_3"), Read("vec", tier = "ivf", k = 3),
      Read("docs", k = 10), Read("hybrid", k = 10), ann("rerank"))
    val variants = Tiers.flatMap(t => Seq(3, 5, 10).map(k => Read("vec", tier = t, k = k))) ++
      Seq(5, 10, 20).map(k => Read("docs", k = k)) ++
      Seq(5, 10).map(k => Read("hybrid", k = k)) ++ Tiers.map(ann) ++ arms
    val pool = Executors.newFixedThreadPool(math.max(1, cores - 1))
    try variants.map(r => pool.submit(() => execRead(r))).foreach(_.get())
    finally pool.shutdown()
    (0 until 3).foreach(w => execWrite(drawWrite(w, rng)))
    val sweep = pageLoad(arms)
    if (sweep.failures.nonEmpty) sys.error(s"warm-up failed: ${sweep.failures.head}")
    log(f"warm-up sweep: ${sweep.wallS * 1000}%.0f ms")
    sweep.wallS
  }

  def run(seconds: Int, onTimed: () => Unit): Result = {
    val rng = new scala.util.Random(seed)
    val tierOrder = rng.shuffle(Tiers)
    val n = math.max(1, (Rate * seconds).round.toInt)
    val schedule: IndexedSeq[Either[Read, Write]] =
      Iterator.from(0).flatMap { b =>
        block(b, tierOrder, rng).map(Left(_)) :+ Right(drawWrite(b, rng))
      }.take(n).toIndexedSeq
    writeTimes.clear()
    val pool = Executors.newFixedThreadPool(math.max(1, cores - 1))
    val done = new ConcurrentLinkedQueue[Done]()
    val late = mutable.ArrayBuffer.empty[Double]
    onTimed()
    val cpu0 = Clock.cpuS
    val startMs = Clock.epochMs + 50
    try {
      schedule.zipWithIndex.foreach { case (req, i) =>
        val due = startMs + i * 1000.0 / Rate
        val wait = due - Clock.epochMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        late += math.max(0.0, Clock.epochMs - due)
        pool.submit(new Runnable {
          def run(): Unit = {
            val s0 = Clock.epochMs
            val kind = req.fold(_.arm, _.label)
            try traced(s"req.$kind", unit = true) {
              req match {
                case Left(r) =>
                  val rows = execRead(r)
                  val end = Clock.epochMs
                  val bad = if (r.arm == "ann") checkAnn(r, rows, s0) else ""
                  if (bad.nonEmpty) log(s"request $i ($kind) check failed: $bad")
                  done.add(Done(i, kind, due, s0, end, bad.isEmpty, bad, bad.nonEmpty))
                case Right(w) =>
                  execWrite(w)
                  done.add(Done(i, kind, due, s0, Clock.epochMs, ok = true, ""))
                  if (tracer.nonEmpty)
                    writtenBytes.add(storeBytes(s0 - 1000))
              }
            } catch { case e: Throwable =>
              val err = s"${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("").take(300)
              done.add(Done(i, kind, due, s0, Clock.epochMs, ok = false, err))
              log(s"request $i ($kind) failed: $err")
            }
          }
        })
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
    }
    val cpuS = Clock.cpuS - cpu0
    val endMs = Clock.epochMs
    // then the page loads, closed loop, each tier once
    val pages = (0 until PageLoads).map(p => pageLoad(block(p, tierOrder, rng)))
    log(s"page loads (ms): ${pages.map(p => (p.wallS * 1000).round).mkString(" ")}")
    Result(done.asScala.toSeq.sortBy(_.idx), late.toSeq, cpuS, startMs, endMs,
      writeTimes.asScala.toSeq, pages)
  }

  /** Registry outputs of the served state after the writes, for the
    * oracle check.
    */
  val checkQueries: Seq[String] = Seq("serve_rides_window", "serve_doc_search",
    "serve_vec_search", "serve_vec_search_pq", "serve_vec_search_rerank",
    "serve_hybrid_search")

  def writeCheckOutputs(dir: String): (Seq[String], Seq[String]) =
    checkQueries.partition { q =>
      try {
        graft.SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(s"$dir/$q")
        true
      } catch { case e: Throwable => log(s"check output $q failed: $e"); false }
    }

  private def readLatencies(res: Result): Seq[Double] =
    res.done.filter(d => d.ok && Arms.contains(d.kind)).map(d => d.endMs - d.dueMs)

  /** CPU and wall metrics of a finished run. */
  def timings(res: Result): Seq[(String, Double)] = {
    val reads = readLatencies(res)
    val writes = res.done.filter(d => d.ok && !Arms.contains(d.kind))
      .map(d => (d.endMs - d.startMs) / 1000)
    Seq(
      // mean over the page loads: every tier weighs the same
      "pass_cpu_s" -> res.pages.map(_.cpuS).sum / res.pages.size,
      // CPU of the whole open-loop phase (its writes included), per read
      "read_cpu_ms" -> res.cpuS * 1000 / math.max(1, reads.size),
      "wall.pass_s" -> res.pages.map(_.wallS).sum / res.pages.size,
      "wall.read_p50_ms" -> Stats.median(reads),
      "wall.read_p95_ms" -> Stats.quantile(reads, 0.95),
      "wall.publish_s" -> (if (writes.isEmpty) 0.0 else Stats.median(writes)))
  }

  /** Per-layer metrics from the traced run. Counters are per request. */
  def perLayer(res: Result, t: Tracer): Seq[(String, Double)] = {
    val reqs = res.done.size.toDouble
    val reads = res.done.filter(d => Arms.contains(d.kind))
    val nReads = math.max(1, reads.size).toDouble
    val isRead = (s: Span) => Arms.contains(s.name.stripPrefix("req."))
    val unit = t.unitOf(_.name.startsWith("req."))
    val jobs = t.allJobs.filter(j => unit(j.span).nonEmpty)
    val readJobs = jobs.filter(j => unit(j.span).exists(isRead))
    val builds = t.allSpans.filter(s => s.name == "build" && unit(s.id).exists(isRead))
    val phases = t.allPhases.filter(p => p.atMs >= res.phaseStartMs && p.atMs <= res.phaseEndMs)
    val tasks = t.allTasks.map(ti => (ti.startMs, ti.endMs))
    val wallMs = res.phaseEndMs - res.phaseStartMs
    val idleS = (wallMs - Tracer.coveredMs(tasks, res.phaseStartMs, res.phaseEndMs)) / 1000
    val runS = jobs.map(_.runMs).sum / 1000.0
    val mb = 1048576.0
    val arms = Arms.map { a =>
      val l = reads.filter(d => d.ok && d.kind == a).map(d => d.endMs - d.dueMs)
      s"serve.$a.p50_ms" -> (if (l.isEmpty) 0.0 else Stats.median(l))
    }
    val writeCalls = WriteCalls.map { c =>
      val d = res.writes.filter(_._1 == c).map(_._2)
      s"write.$c.s" -> (if (d.isEmpty) 0.0 else Stats.median(d))
    }
    val written = writtenBytes.asScala.toSeq
    arms ++ writeCalls ++ Seq(
      "serve.jobs_per_read" -> readJobs.size / nReads,
      "driver.analysis_ms" -> phases.map(_.analysisMs).sum / reqs,
      "driver.optimization_ms" -> phases.map(_.optimizationMs).sum / reqs,
      "driver.planning_ms" -> phases.map(_.planningMs).sum / reqs,
      "driver.build_ms" -> builds.map(s => s.endMs - s.startMs).sum / nReads,
      "spark.jobs" -> jobs.size / reqs,
      "spark.stages" -> jobs.map(_.stages).sum / reqs,
      "spark.tasks" -> jobs.map(_.tasks).sum / reqs,
      "spark.tasks_failed" -> jobs.map(_.tasksFailed).sum / reqs,
      "spark.tasks_retried" -> jobs.map(_.tasksRetried).sum / reqs,
      "executor.idle_s" -> idleS / reqs,
      "executor.run_s" -> runS / reqs,
      "executor.cpu_s" -> jobs.map(_.cpuNs).sum / 1e9 / reqs,
      "executor.gc_s" -> jobs.map(_.gcMs).sum / 1000.0 / reqs,
      "executor.busy_share" -> runS * 1000 / (wallMs * cores),
      "shuffle.write_mb" -> jobs.map(_.shuffleWriteB).sum / mb / reqs,
      "shuffle.read_mb" -> jobs.map(_.shuffleReadB).sum / mb / reqs,
      "spill.mb" -> jobs.map(_.spillB).sum / mb / reqs,
      "store.mb" -> storeBytes(0) / mb,
      "store.written_mb_per_publish" ->
        (if (written.isEmpty) 0.0 else written.sum / mb / written.size),
      "bench.generator_late_ms" -> res.lateMs.sum / math.max(1, res.lateMs.size))
  }
}

object ServeRunner {
  /** `cpuS`: CPU seconds of the open-loop phase ([[Clock.cpuS]]);
    * `pages`: the page loads timed after it.
    */
  final case class Result(done: Seq[ServeWorkload.Done], lateMs: Seq[Double],
      cpuS: Double, phaseStartMs: Double, phaseEndMs: Double,
      writes: Seq[(String, Double)], pages: Seq[ServeWorkload.Page])
}
