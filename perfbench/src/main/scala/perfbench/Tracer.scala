package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener events use, so spans and jobs line up.
  */
final case class Span(id: Long, name: String, parent: Long, req: Long,
    startMs: Double, endMs: Double)

/** The counters one Spark job accumulated, attributed to the span that
  * was current on the thread that submitted it.
  */
final class JobRec(val jobId: Int, val span: Long, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var tasksFailed = 0
  var tasksRetried = 0
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
}

final case class TaskInterval(startMs: Double, endMs: Double)
final case class Phases(atMs: Double, analysisMs: Double, optimizationMs: Double,
    planningMs: Double)
final case class StreamProgress(atMs: Double, inputRows: Long, planningMs: Double,
    addBatchMs: Double, stateRows: Long)

/** Spans in memory plus the three listener kinds, all registered from the
  * benchmark's own code: a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener for Catalyst phase times, and a
  * StreamingQueryListener for micro-batch progress. Jobs are attributed
  * to spans through the `perfbench.span` local property, which the
  * benchmark owns (library code sets and clears job groups itself, so job
  * groups cannot carry the attribution).
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] { // (span, request)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }
  /** Run `body` inside a span named `name`, child of the thread's current
    * span. `newRequest` starts a request id that the span's descendants
    * share. Returns the body's value; the span is recorded even when the
    * body throws.
    */
  def span[T](name: String, newRequest: Boolean = false)(body: => T): T = {
    val (parent, req0) = current.get()
    val id = ids.incrementAndGet()
    val req = if (newRequest) id else req0
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProp)
    current.set((id, req))
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = Clock.epochMs
    try body
    finally {
      spans.add(Span(id, name, parent, req, t0, Clock.epochMs))
      current.set((parent, req0))
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  // ---- listener state ----
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val taskIntervals = new ConcurrentLinkedQueue[TaskInterval]()
  private val phases = new ConcurrentLinkedQueue[Phases]()
  private val progress = new ConcurrentLinkedQueue[StreamProgress]()
  @volatile private var sentinelSeen = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(SentinelProp) != null)) return
      val span = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(-1L)
      val j = new JobRec(e.jobId, span, e.time.toDouble)
      jobs.put(e.jobId, j)
      e.stageInfos.foreach(si => stageJob.put(si.stageId, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.endMs = e.time.toDouble
      else sentinelSeen = true
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val j = stageJob.get(e.stageInfo.stageId)
      if (j != null) j.synchronized { j.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      if (j == null) return
      val ti = e.taskInfo
      taskIntervals.add(TaskInterval(ti.launchTime.toDouble, ti.finishTime.toDouble))
      j.synchronized {
        j.tasks += 1
        if (e.reason != TaskSuccess) j.tasksFailed += 1
        if (ti.attemptNumber > 0) j.tasksRetried += 1
        val m = e.taskMetrics
        if (m != null) {
          j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val at = ph.values.map(_.startTimeMs).minOption.map(_.toDouble)
        .getOrElse(System.currentTimeMillis().toDouble)
      phases.add(Phases(at, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      progress.add(StreamProgress(at, p.numInputRows, d("queryPlanning"),
        d("addBatch"), p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Wait until the asynchronous listener buses have delivered every event
    * posted so far: a marker job's end event is delivered after all
    * earlier events on the same bus.
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sentinelSeen = false
    val prev = sc.getLocalProperty(SentinelProp)
    sc.setLocalProperty(SentinelProp, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SentinelProp, prev)
    val deadline = System.nanoTime() + 30_000_000_000L
    while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // the SQL and streaming buses are separate queues
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)
  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.startMs)
  def allTasks: Seq[TaskInterval] = taskIntervals.asScala.toSeq
  def allPhases: Seq[Phases] = phases.asScala.toSeq
  def allProgress: Seq[StreamProgress] = progress.asScala.toSeq

  /** Root-most ancestor of each span that satisfies `isUnit`, for
    * attributing jobs to passes or requests.
    */
  def unitOf(isUnit: Span => Boolean): Long => Option[Span] = {
    val byId = allSpans.map(s => s.id -> s).toMap
    val memo = mutable.Map.empty[Long, Option[Span]]
    def go(id: Long): Option[Span] = memo.getOrElseUpdate(id,
      byId.get(id) match {
        case Some(s) if isUnit(s) => Some(s)
        case Some(s) => go(s.parent)
        case None => None
      })
    go
  }

  /** Everything recorded, one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      Json.obj(Seq("kind" -> Json.str("span"), "id" -> s.id.toString,
        "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "req" -> s.req.toString, "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs)))
    } ++ allJobs.map { j =>
      Json.obj(Seq("kind" -> Json.str("job"), "job" -> j.jobId.toString,
        "span" -> j.span.toString, "start_ms" -> Json.num(j.startMs),
        "end_ms" -> Json.num(j.endMs), "stages" -> j.stages.toString,
        "tasks" -> j.tasks.toString, "shuffle_write_b" -> j.shuffleWriteB.toString,
        "shuffle_read_b" -> j.shuffleReadB.toString, "run_ms" -> j.runMs.toString))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val SentinelProp = "perfbench.sentinel"

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def coveredMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
