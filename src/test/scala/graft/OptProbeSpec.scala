package graft

import org.apache.spark.{Success, UnknownReason}
import org.apache.spark.scheduler.{SparkListenerTaskEnd, TaskInfo, TaskLocality}
import org.scalatest.funsuite.AnyFunSuite

/** OptProbe's task counter, fed synthetic listener events: completed work
  * is counted once whichever attempt finished it, failures are not work,
  * and retry attempts are reported on their own counter.
  */
class OptProbeSpec extends AnyFunSuite {

  private def taskEnd(attempt: Int, ok: Boolean): SparkListenerTaskEnd =
    SparkListenerTaskEnd(0, 0, "ResultTask", if (ok) Success else UnknownReason,
      new TaskInfo(attempt.toLong, 0, attempt, 0L, "driver", "localhost",
        TaskLocality.PROCESS_LOCAL, false),
      null, null)

  test("tasks counts only successful task ends; retried counts retry attempts") {
    val c = new graft.tools.OptProbe.Counts
    Seq(
      taskEnd(attempt = 0, ok = true),  // clean task
      taskEnd(attempt = 0, ok = false), // first attempt fails...
      taskEnd(attempt = 1, ok = true),  // ...its retry completes the work
      taskEnd(attempt = 0, ok = false), // fails twice, never completes
      taskEnd(attempt = 1, ok = false)
    ).foreach(c.onTaskEnd)
    assert(c.tasks === 2, "two tasks completed")
    assert(c.retried === 2, "two retry attempts ran")
  }
}
