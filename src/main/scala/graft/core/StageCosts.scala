package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-stage cost observability for multi-stage pipelines (VERDICT r10
  * #8): a pipeline that only reports counts cannot tell a 100-TB operator
  * WHICH stage dominates. The recorder materializes each stage inside a
  * [[QueryMetrics]] scope, which attributes shuffle read + write bytes
  * back to the stage, and wall time is clocked around the materializing
  * action — yielding a (stage, wall_ms, shuffle_bytes) table to join onto
  * the funnel's count rows.
  *
  * Determinism note: wall_ms and shuffle_bytes are MEASUREMENTS, not
  * query results — they vary run to run (wall with host load, shuffle
  * bytes marginally with partition packing), so they are deliberately
  * kept OUT of oracle-gated registry outputs; the gated entry (x81)
  * re-selects only the count columns, and the spec asserts the cost
  * columns are populated and sane.
  */
final class StageCosts(s: SparkSession) {

  private val metrics = QueryMetrics(s)
  private val wallMs = TrieMap.empty[String, Long]

  /** Run `f` attributed to `stage` and MATERIALIZE its result (local
    * checkpoint — the same eager pin the funnel stages already use), so
    * every job the stage triggers lands inside the scope. Calling the
    * same stage name twice ACCUMULATES (a stage may materialize several
    * frames — e.g. a score table plus its filtered survivors).
    */
  def staged(stage: String)(f: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    try metrics.scoped(stage)(f.localCheckpoint())
    finally {
      val el = math.max(1L, (System.nanoTime() - t0) / 1000000L)
      wallMs.updateWith(stage)(prev => Some(prev.getOrElse(0L) + el)): Unit
    }
  }

  /** Detach the recorder WITHOUT reading results — the failure path:
    * callers must invoke this (or [[table]]) on every exit, or the
    * listener stays registered on the shared session for its lifetime,
    * accumulating bus work run after run.
    */
  def abort(): Unit = metrics.close()

  /** The (stage, wall_ms, shuffle_bytes) table, exact once the recorder
    * has drained the listener bus.
    */
  def table(): DataFrame = {
    try metrics.drain() finally metrics.close()
    import s.implicits._
    wallMs.toSeq
      .map { case (stage, w) => (stage, w, metrics.counts(stage).shuffleBytes) }
      .toDF("stage", "wall_ms", "shuffle_bytes")
  }
}
