package graft

import graft.core.Tables
import graft.serve.QueryService
import graft.sim.BusSim
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.storage.StorageLevel

/** A dataset regenerated in place inside one JVM is served as the new
  * dataset: every driver cache derived from it (sim rides, station count,
  * served rides, s26's seed) re-keys on the dataset's listing, so each
  * output equals the same call on a fresh copy at a new path.
  */
class RegenerationSpec extends SparkSpec {

  private def copyOf(src: String): String = {
    val d = tempDir("graft-regen")
    new java.io.File(src).listFiles().foreach(f =>
      Files.copy(f.toPath, Paths.get(d, f.getName)))
    d
  }

  /** Rewrite `d`'s events file in place with the rows of its lower half
    * of user ids, which lowers `max(user_id)` and so the station count.
    */
  private def rewriteEvents(d: String): Unit = {
    val events = Tables.events(spark, d)
    val cut = events.agg(max("user_id")).head().getLong(0) / 2
    val out = tempDir("graft-regen-part")
    events.filter(col("user_id") <= lit(cut))
      .coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(d, "events.parquet"),
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Every dataset-derived output the spec checks, in one map. */
  private def outputs(d: String): Map[String, Seq[String]] = Map(
    "sim_bus_rides" -> rows(SparkEntry.queries("sim_bus_rides")(spark, d)),
    "busState" -> rows(QueryService.busState(spark, d)),
    "demandByLine" -> rows(QueryService.demandByLine(spark, d, "NATION_3")),
    "ridesWindow" -> rows(QueryService.ridesWindow(spark, d,
      "2024-01-02 06:00:00", "2024-01-02 12:00:00", 365)),
    "stationCount" -> Seq(BusSim.stationCount(spark, d).toString),
    "s26" -> rows(SparkEntry.queries("s26_dynamic_partition_pruning")(spark, d)))

  test("after events.parquet is rewritten in place, every output equals a " +
    "fresh copy's") {
    val d = copyOf(sf)
    val before = outputs(d)
    val cachedRides = BusSim.rides(spark, d)
    assert(cachedRides.storageLevel !== StorageLevel.NONE)
    rewriteEvents(d)
    val after = outputs(d)
    val fresh = outputs(copyOf(d))
    assert(cachedRides.storageLevel === StorageLevel.NONE,
      "the replaced rides frame must be unpersisted")
    assert(fresh("demandByLine").nonEmpty)
    val stale = fresh.keys.filter(name => after(name) != fresh(name)).toSeq.sorted
    assert(stale.isEmpty, s"serving the pre-rewrite dataset: ${stale.mkString(", ")}")
    val unchanged = fresh.keys.filter(name => before(name) == fresh(name)).toSeq.sorted
    assert(unchanged.isEmpty, s"the rewrite must change ${unchanged.mkString(", ")}")
  }
}
