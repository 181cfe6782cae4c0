package graft.tools

import graft.core.QueryMetrics
import graft.serve.QueryService
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}

/** The one timing path of graft's tools: Bench, OptProbe and ScaleBench
  * take their samples here, and the serving poll loop and its
  * four arms are defined here once.
  *
  * The sample count is fixed, whatever the samples say: a slow sample —
  * host noise or a real regression — shows in the spread a caller
  * reports instead of earning extra draws until it is sampled away.
  */
object Sampler {

  /** Timings in seconds, in the order taken, and the throw that stopped
    * sampling early, if one did.
    */
  final case class Samples(seconds: Vector[Double], error: Option[Throwable] = None) {
    def failed: Boolean = error.nonEmpty
    /** These samples, or the throw that cut them short. */
    def orThrow: Samples = { error.foreach(throw _); this }
    private lazy val sorted = seconds.sorted
    /** Nearest-rank percentile: p50 of 3 is the middle sample, p95 of 20
      * the 19th fastest.
      */
    def percentile(p: Int): Double = {
      val n = sorted.size
      sorted(math.min(n - 1, math.max(0, (n * p + 99) / 100 - 1)))
    }
    def median: Double = percentile(50)
    def min: Double = sorted.head
    def max: Double = sorted.last
  }

  /** Call `run`, which returns its own duration in seconds, exactly `n`
    * times — or until it throws, which ends sampling.
    */
  def sample(n: Int)(run: () => Double): Samples = {
    val out = Vector.newBuilder[Double]
    try { (1 to n).foreach(_ => out += run()); Samples(out.result()) }
    catch { case e: Throwable => Samples(out.result(), Some(e)) }
  }

  /** Wall seconds of `body`. */
  def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Execute `df` in full without collecting it (count() would let
    * Catalyst collapse scan-only plans to metadata reads). A frame that
    * executes as a LocalTableScanExec — a local relation such as a served
    * answer, or a projection of one such as a facade search that drops
    * `rank`, which the optimizer folds into the relation — is collected
    * instead, as a serving poll reads it: the noop sink would parallelize
    * its rows into a job the poll never runs. The test reads the analyzed
    * plan, so no other frame is planned twice.
    */
  def noop(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case _: LocalRelation | Project(_, _: LocalRelation) => df.collect(): Unit
    case _ => df.write.format("noop").mode("overwrite").save()
  }

  /** The four warm serving arms: the materialized ride snapshot, the
    * persisted vector index, the BM25 page and the fused hybrid route.
    */
  def pollArms(spark: SparkSession, sfDir: String): Seq[(String, () => DataFrame)] = Seq(
    "serve_poll_rides" -> (() => QueryService.ridesWindow(spark, sfDir,
      "2024-01-02 06:00:00", "2024-01-02 12:00:00", 365)),
    "serve_poll_vec" -> (() => QueryService.vecSearch(spark, sfDir)),
    "serve_poll_docs" -> (() => QueryService.docSearch(spark, sfDir)),
    "serve_poll_hybrid" -> (() => QueryService.hybridSearch(spark, sfDir)))

  /** `n` warm polls' timings and the Spark work they ran in total,
    * compiles included.
    */
  final case class Polled(samples: Samples, counts: QueryMetrics.Counts)

  /** The poll loop. One untimed call seeds and warms the arm (snapshot,
    * index, answer caches); then `n` sequential polls, each timed around
    * building and executing its frame, with no cache clearing — the warm
    * path is what is under test. Each poll's duration feeds the serving
    * layer's vacuum grace window ([[QueryService.notePollMillis]]).
    */
  def poll(spark: SparkSession, n: Int, arm: () => DataFrame): Polled =
    try {
      noop(arm())
      val (samples, counts) = QueryMetrics.measure(spark)(sample(n) { () =>
        val s = seconds(noop(arm()))
        QueryService.notePollMillis((s * 1000).toLong)
        s
      })
      Polled(samples, counts)
    } catch { case e: Throwable =>
      Polled(Samples(Vector.empty, Some(e)), QueryMetrics.Counts())
    }
}
