package graft.operators

import graft.api.GraftQuery
import graft.core.Tables

/** Rows of the driver `events` table, typed for Dataset kernels. */
final case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String)

final case class UserFold(user_id: Long, n_events: Long, last_event_id: Long, total_value: Double)
final case class RankedEvent(user_id: Long, event_id: Long, idx: Int)

/** Typed Dataset kernels — the Scala replacement for the reference's Python
  * grouped-map UDFs (applyInPandas, lakehouse_part2_spark_processing.py:
  * 485-580). Each group is processed in-JVM inside one task after the
  * groupByKey shuffle; no Python worker boundary, no codegen break beyond
  * the single exchange the semantics require. At 100 TB the shuffle is on
  * the group key only and group state is O(group size), so skew is the only
  * hazard — group cardinality here (users/rides) is high and uniform.
  */
object Kernels {

  private def sortedGroup(it: Iterator[Event]): Vector[Event] =
    it.toVector.sortWith { (a, b) =>
      val c = a.ts.compareTo(b.ts)
      if (c != 0) c < 0 else a.event_id < b.event_id
    }

  /** A9: per-group sequential fold (reference applyInPandas shape,
    * part2:576-580): walk each user's events in time order accumulating an
    * exact DECIMAL(18,2) running total. The per-element rounding matches
    * `SUM(CAST(value AS DECIMAL(18,2)))`, so the fold is provably equal to
    * the distributive SQL aggregate — which is what the oracle checks.
    */
  val a9: GraftQuery = GraftQuery(
    "a9_grouped_fold",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d).as[Event]
        .groupByKey(_.user_id)
        .flatMapGroups { (uid: Long, it: Iterator[Event]) =>
          val evs = sortedGroup(it)
          var acc = BigDecimal(0)
          evs.foreach { e => acc += BigDecimal(e.value).setScale(2, BigDecimal.RoundingMode.HALF_EVEN) }
          Iterator.single(UserFold(uid, evs.size.toLong, evs.map(_.event_id).max, acc.toDouble))
        }
        .toDF()
    },
    Some("""SELECT user_id, count(*) AS n_events, max(event_id) AS last_event_id,
           |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM events GROUP BY user_id""".stripMargin))

  /** O4: per-group in-memory sort inside a kernel (part2:505): emit each
    * event's 1-based rank within its user's time-ordered history.
    */
  val o4: GraftQuery = GraftQuery(
    "o4_pergroup_sort_kernel",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d).as[Event]
        .groupByKey(_.user_id)
        .flatMapGroups { (uid: Long, it: Iterator[Event]) =>
          sortedGroup(it).iterator.zipWithIndex.map { case (e, i) =>
            RankedEvent(uid, e.event_id, i + 1)
          }
        }
        .toDF()
    },
    Some("""SELECT user_id, event_id,
           |CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS idx
           |FROM events""".stripMargin))

  val all: Seq[GraftQuery] = Seq(a9, o4)
}
