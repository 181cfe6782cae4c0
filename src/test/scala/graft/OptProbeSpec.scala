package graft

import graft.core.QueryMetrics
import org.apache.spark.{Success, UnknownReason}
import org.apache.spark.scheduler.{SparkListenerStageSubmitted, SparkListenerTaskEnd, StageInfo, TaskInfo, TaskLocality}

/** The task counter OptProbe reports ([[QueryMetrics]]), fed synthetic
  * listener events: completed work is counted once whichever attempt
  * finished it, failures are not work, and retry attempts are reported on
  * their own counter.
  */
class OptProbeSpec extends SparkSpec {

  private def taskEnd(attempt: Int, ok: Boolean): SparkListenerTaskEnd =
    SparkListenerTaskEnd(0, 0, "ResultTask", if (ok) Success else UnknownReason,
      new TaskInfo(attempt.toLong, 0, attempt, 0L, "driver", "localhost",
        TaskLocality.PROCESS_LOCAL, false),
      null, null)

  test("tasks counts only successful task ends; retried counts retry attempts") {
    // fed by hand, never attached to the listener bus
    val c = new QueryMetrics(spark.sparkContext)
    c.scoped("probe") {
      // stage 0 submitted from inside the scope: its properties carry the
      // scope's job tag, as the scheduler's would
      val props = new java.util.Properties
      props.setProperty("spark.job.tags", spark.sparkContext.getJobTags().mkString(","))
      c.onStageSubmitted(SparkListenerStageSubmitted(
        new StageInfo(0, 0, "stage", 3, Nil, Nil, "", resourceProfileId = 0), props))
      Seq(
        taskEnd(attempt = 0, ok = true),  // clean task
        taskEnd(attempt = 0, ok = false), // first attempt fails...
        taskEnd(attempt = 1, ok = true),  // ...its retry completes the work
        taskEnd(attempt = 0, ok = false), // fails twice, never completes
        taskEnd(attempt = 1, ok = false)
      ).foreach(c.onTaskEnd)
    }
    assert(c.counts("probe").tasks === 2, "two tasks completed")
    assert(c.counts("probe").retried === 2, "two retry attempts ran")
  }
}
