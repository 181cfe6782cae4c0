package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.concurrent.TrieMap

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The one Spark listener in graft: per-scope job, stage and task counts
  * plus shuffle bytes, for every tool that measures what a query ran
  * (StageCosts, OptProbe, the serving poll loop, the specs' bounds).
  *
  * [[scoped]] runs its body under a Spark job tag derived from the scope
  * name, and every job, stage and task carrying the tag counts toward the
  * scope. Tags rather than job groups: tags are additive, so a scope keeps
  * counting through bodies that set their own job group (x50's and x66's
  * cancellation groups, StageCosts inside an OptProbe-measured query), and
  * threads the body starts inherit them. Two scopes on two threads never
  * mix.
  *
  * The listener bus is asynchronous. [[drain]] submits a marker job and
  * waits for the bus to deliver its start: the bus delivers in order, and
  * a finished job posts all its events before its caller returns, so every
  * event of the scoped work has been counted by then.
  */
final class QueryMetrics private[graft] (sc: SparkContext) extends SparkListener {
  import QueryMetrics._

  private val id = java.util.UUID.randomUUID()
  private val scopes = TrieMap.empty[String, Counts]          // job tag -> counts
  private val stageTags = TrieMap.empty[Int, Seq[String]]     // stage id -> scope tags
  private val jobStarts = TrieMap.empty[Int, (Seq[String], Long, String)]
  private val drains = TrieMap.empty[String, CountDownLatch]

  private def tagOf(scope: String): String = s"graft-qm-$id-$scope"

  /** Run `body` counting every Spark job it submits under `scope`;
    * calling a scope again accumulates.
    */
  def scoped[T](scope: String)(body: => T): T = {
    val tag = tagOf(scope)
    scopes.putIfAbsent(tag, Counts())
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  /** Return once every event of the work already returned from [[scoped]]
    * has been counted.
    */
  def drain(): Unit = {
    val tag = s"$DrainPrefix${java.util.UUID.randomUUID()}"
    val seen = new CountDownLatch(1)
    drains.put(tag, seen)
    sc.addJobTag(tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(tag)
    require(seen.await(60, TimeUnit.SECONDS),
      "the listener bus did not deliver the drain marker within 60 s")
  }

  def counts(scope: String): Counts = scopes.getOrElse(tagOf(scope), Counts())

  /** Detach from the listener bus; call on every exit path. */
  def close(): Unit = sc.removeSparkListener(this)

  /** The open scopes an event belongs to; none for a drain marker, which
    * also carries the tags of the scope it was submitted from.
    */
  private def scopeTags(props: java.util.Properties): Seq[String] = {
    val tags = Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .fold(Seq.empty[String])(_.split(",").toSeq)
    tags.flatMap(drains.remove).foreach(_.countDown())
    if (tags.exists(_.startsWith(DrainPrefix))) Nil else tags.filter(scopes.contains)
  }

  private def bump(tags: Seq[String])(f: Counts => Counts): Unit =
    tags.foreach(t => scopes.updateWith(t)(_.map(f)))

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val tags = scopeTags(j.properties)
    if (tags.nonEmpty) {
      bump(tags)(c => c.copy(jobs = c.jobs + 1))
      val site = j.stageInfos.lastOption
        .fold("?")(si => s"${si.name} [${j.stageInfos.map(_.numTasks).sum}t]")
      val desc = Option(j.properties.getProperty("spark.job.description"))
        .fold(site)(d => s"$d | $site")
      jobStarts.put(j.jobId, (tags, j.time, desc))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { case (tags, t0, desc) =>
      bump(tags)(c => c.copy(jobRuns = c.jobRuns :+ JobRun(e.jobId, desc, e.time - t0)))
    }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
    val tags = scopeTags(s.properties)
    if (tags.nonEmpty) {
      bump(tags)(c => c.copy(stages = c.stages + 1))
      stageTags.put(s.stageInfo.stageId, tags)
    }
  }

  // `tasks` = SUCCESSFUL task ends, so completed work counts once however
  // it was scheduled (a retried stage's numTasks would count it twice,
  // first attempts would count failures and miss work a retry finished);
  // `retried` = task ends of retry attempts whatever their outcome — the
  // scheduling noise beside the work. Shuffle bytes: what every attempt
  // moved.
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    stageTags.get(t.stageId).foreach(bump(_) { c =>
      val m = Option(t.taskMetrics)
      c.copy(
        tasks = c.tasks + (if (t.reason == Success) 1 else 0),
        retried = c.retried + (if (t.taskInfo != null && t.taskInfo.attemptNumber > 0) 1 else 0),
        shuffleReadBytes = c.shuffleReadBytes + m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
        shuffleWriteBytes = c.shuffleWriteBytes + m.fold(0L)(_.shuffleWriteMetrics.bytesWritten))
    })
}

object QueryMetrics {

  /** A finished job: id, description, wall ms between its scheduler stamps. */
  final case class JobRun(id: Int, description: String, millis: Long)

  /** `compiles` is filled by [[measure]] only; a bare scope's counts
    * leave it empty.
    */
  final case class Counts(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
      retried: Int = 0, shuffleReadBytes: Long = 0L,
      shuffleWriteBytes: Long = 0L, jobRuns: Vector[JobRun] = Vector.empty,
      compiles: Compiles = Compiles()) {
    def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
  }

  /** Generated classes Janino compiled and the milliseconds it took: the
    * misses of Spark's generated-class cache.
    */
  final case class Compiles(classes: Long = 0L, millis: Double = 0.0) {
    def -(earlier: Compiles): Compiles =
      Compiles(classes - earlier.classes, millis - earlier.millis)
  }

  /** Compiles so far. Spark counts them per JVM, so the difference of two
    * readings covers the whole process over that interval, not one scope:
    * a compile on another thread or by another session counts too.
    */
  def compiles(): Compiles = {
    val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // CodeGenerator sizes its cache from the conf current when it loads:
    // touched before any session exists, it would pin Spark's default of
    // 100 entries. Until a first compile there is no time to read.
    Compiles(classes, if (classes == 0L) 0.0 else CodeGenerator.compileTime / 1e6)
  }

  /** Every recorder skips jobs tagged with this prefix: drain markers. */
  private val DrainPrefix = "graft-qm-drain-"

  /** A recorder attached to `spark`'s listener bus. */
  def apply(spark: SparkSession): QueryMetrics = {
    val m = new QueryMetrics(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** `body`'s result and the counts of every Spark job it ran, exact when
    * this returns, with the process's [[compiles]] over `body`.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val m = QueryMetrics(spark)
    try {
      val before = compiles()
      val out = m.scoped("measure")(body)
      val compiled = compiles() - before
      m.drain()
      (out, m.counts("measure").copy(compiles = compiled))
    } finally m.close()
  }
}
