package graft

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Guards the schema-adaptive events loader (core/Tables.scala). The driver
  * has regenerated `events.parquet` with different physical `ts` layouts
  * across rounds (TIMESTAMP(NANOS) in r1-r5, timestamp[us] from r6), and a
  * loader pinned to one layout silently killed 75/171 queries in round 6.
  * Each variant below writes a tiny events.parquet in that layout and asserts
  * the loader normalizes `ts` to TimestampType with identical instants.
  */
class TablesSpec extends SparkSpec {
  private val s = spark
  import s.implicits._

  /** 2021-03-04 05:06:07.123456 UTC, in epoch micros. */
  private val micros = 1614834367123456L

  private def tmpDir(tag: String): String = tempDir(s"tables-$tag")

  private def loadedMicros(dir: String): Long = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampType)
    df.select(unix_micros(col("ts"))).as[Long].head()
  }

  test("events loader: plain TIMESTAMP (micros, UTC-adjusted) passes through") {
    val dir = tmpDir("tz")
    Seq((micros, "a")).toDF("us", "station_id")
      .select(timestamp_micros(col("us")).as("ts"), col("station_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(loadedMicros(dir) === micros)
  }

  test("events loader: TIMESTAMP_NTZ (timestamp[us]) casts to the same UTC instant") {
    val dir = tmpDir("ntz")
    Seq((micros, "a")).toDF("us", "station_id")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"),
        col("station_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // sanity: the file really is NTZ on disk
    val rawType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    assert(rawType === TimestampNTZType)
    assert(loadedMicros(dir) === micros)
  }

  test("events loader: raw-nanos BIGINT truncates integrally to micros") {
    val dir = tmpDir("nanos")
    // Spark cannot write parquet TIMESTAMP(NANOS); a plain int64 `ts` column
    // exercises the identical LongType branch the nanosAsLong conf produces.
    Seq((micros * 1000L + 789L, "a")).toDF("ts", "station_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(loadedMicros(dir) === micros) // 789 sub-micro nanos truncated
  }

  test("events loader: real testdata loads with TimestampType ts and rows > 0") {
    val df = Tables.events(spark, sf)
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.count() > 0)
  }
}
