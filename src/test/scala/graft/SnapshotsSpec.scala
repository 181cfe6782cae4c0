package graft

import graft.core.Snapshots
import org.apache.spark.sql.functions._

/** MERGE semantics at the snapshot seam: all three branches (update,
  * insert, carry-over), the cardinality rule, and time-travel isolation of
  * the pre-merge snapshot.
  */
class SnapshotsSpec extends SparkSpec {

  import SparkSpec.spark.implicits._

  test("merge updates matched, inserts unmatched, carries the rest; v1 intact") {
    val t = "spec_merge"
    Snapshots.reset(t)
    Snapshots.write(spark, t,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "tag", "x"))
    val src = Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("id", "tag", "x")
    val v = Snapshots.merge(spark, t, src, Seq("id"))
    assert(v === 2)
    val got = Snapshots.latest(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === Set((1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    // the pre-merge snapshot still reads the old row 2 and no row 4
    val v1 = Snapshots.read(spark, t, 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(v1 === Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
  }

  test("applyChangelog(v1, diff(1,2)) reconstructs v2, duplicates included") {
    val t = "spec_cdc_apply"
    Snapshots.reset(t)
    // v1 carries a duplicate row (multiset semantics are the contract)
    Snapshots.write(spark, t,
      Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"))
    Snapshots.write(spark, t,
      Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")).toDF("id", "tag"))
    val rebuilt = Snapshots.applyChangelog(
      Snapshots.read(spark, t, 1), Snapshots.diff(spark, t, 1, 2))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val v2 = Snapshots.read(spark, t, 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(rebuilt === v2)
  }

  test("applyChangelog raises on a delete of a row the snapshot lacks") {
    val t = "spec_cdc_bad"
    Snapshots.reset(t)
    Snapshots.write(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    val bogus = Seq((9L, "zz", "delete")).toDF("id", "tag", "_change_type")
    val ex = intercept[Exception] {
      Snapshots.applyChangelog(Snapshots.read(spark, t, 1), bogus).collect()
    }
    assert(ex.getMessage.contains("changelog deletes a row absent"))
  }

  test("merge rejects a source with duplicate keys") {
    val t = "spec_merge_dup"
    Snapshots.reset(t)
    Snapshots.write(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    val dup = Seq((2L, "x"), (2L, "y")).toDF("id", "tag")
    intercept[IllegalArgumentException] {
      Snapshots.merge(spark, t, dup, Seq("id"))
    }
    // the failed merge must not have produced a snapshot
    assert(Snapshots.versions(t) === Seq(1))
  }

  test("vacuum drops old versions for real: listing shrinks, reads fail, latest survives") {
    import graft.core.Snapshots
    val t = "vac_spec"
    Snapshots.reset(t)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    Snapshots.write(spark, t, df)
    Snapshots.write(spark, t, df.filter($"k" > 1))
    Snapshots.write(spark, t, df.filter($"k" > 2))
    assert(Snapshots.vacuum(t, keep = 2) == Seq(1))
    assert(Snapshots.versions(t) == Seq(2, 3))
    intercept[Exception](Snapshots.read(spark, t, 1).count())
    assert(Snapshots.latest(spark, t).count() == 1)
    // keep >= current count is a no-op; keep < 1 rejected
    assert(Snapshots.vacuum(t, keep = 5).isEmpty)
    intercept[IllegalArgumentException](Snapshots.vacuum(t, keep = 0))
  }

  test("s33 incremental MV equals a direct recompute of the v2 aggregate") {
    val inc = graft.operators.Sources.s33.build(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_orders"), r.getAs[Double]("total")))
      .toMap
    val direct = graft.core.Tables.orders(spark, sf)
      .filter(expr("o_orderkey % 3 <> 0"))
      .select(col("o_orderstatus"),
        when(expr("o_orderkey % 5 = 0"), col("o_totalprice") * 2)
          .otherwise(col("o_totalprice"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("p"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("p").cast("double").as("t")).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Double]("t"))).toMap
    assert(inc == direct, "delta-applied MV must equal the recomputed aggregate")
  }

  test("s30 SCD2: versions tile per user, one open row each, no same-state repeats") {
    import org.apache.spark.sql.functions._
    val dim = graft.operators.Sources.s30.build(spark, sf).collect()
    val byUser = dim.groupBy(_.getAs[Long]("user_id"))
    byUser.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("ver"))
      assert(sorted.map(_.getAs[Int]("ver")).toSeq == (1 to sorted.length))
      // exactly one open interval, and it is the last version
      assert(rows.count(_.getAs[Boolean]("is_current")) == 1)
      assert(sorted.last.getAs[Boolean]("is_current"))
      // intervals tile: each version closes exactly where the next opens
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(a.getAs[java.sql.Timestamp]("effective_to") ==
          b.getAs[java.sql.Timestamp]("effective_from"))
        // change suppression: consecutive versions differ in state
        assert(a.getAs[String]("attr_type") != b.getAs[String]("attr_type") ||
          a.getAs[Double]("attr_value") != b.getAs[Double]("attr_value"))
      }
    }
    // every user with events appears
    assert(byUser.keySet ==
      graft.core.Tables.events(spark, sf).select("user_id").distinct()
        .as[Long].collect().toSet)
  }

  test("s36 tags: pin a version by name, reject unknown targets, and lose " +
    "the tag's target to vacuum exactly like any time travel") {
    import SparkSpec.spark.implicits._
    val t = "tags_spec"
    Snapshots.reset(t)
    Snapshots.write(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    Snapshots.write(spark, t, Seq((1L, "a2")).toDF("id", "s"))
    intercept[IllegalArgumentException](Snapshots.tag(t, "nope", 9))
    intercept[IllegalArgumentException](Snapshots.tag(t, "bad name!", 1))
    // dots-only names pass the character class but resolve to the tags
    // dir / table root — must be a validation error, not an IOException
    intercept[IllegalArgumentException](Snapshots.tag(t, ".", 1))
    intercept[IllegalArgumentException](Snapshots.tag(t, "..", 1))
    Snapshots.tag(t, "audited", 1)
    assert(Snapshots.tags(t) == Map("audited" -> 1))
    assert(Snapshots.readTag(spark, t, "audited").count() == 2)
    assert(Snapshots.latest(spark, t).count() == 1)
    // retagging moves the pin
    Snapshots.tag(t, "audited", 2)
    assert(Snapshots.readTag(spark, t, "audited").count() == 1)
    intercept[IllegalArgumentException](Snapshots.readTag(spark, t, "missing"))
    // vacuum drops v1; a tag still pointing there fails on read like any
    // expired time travel (the documented retention contract)
    Snapshots.tag(t, "old", 1)
    assert(Snapshots.vacuum(t, keep = 1) == Seq(1))
    intercept[Exception](Snapshots.readTag(spark, t, "old").collect())
  }

  test("crash-safe write: a half-written stage is invisible to readers; " +
    "v{N} appears only via the atomic publish rename") {
    val t = "snap_crash_spec"
    Snapshots.reset(t)
    assert(Snapshots.write(spark, t, Seq((1, "a")).toDF("k", "v")) == 1)
    // a writer that crashed mid-write: partial data in the next,
    // unpublished version directory
    val dead = new java.io.File(
      graft.core.Scratch.durable(s"snapshots/$t/roots/v00000002"))
    dead.mkdirs()
    java.nio.file.Files.write(new java.io.File(dead, "part-00000.parquet")
      .toPath, Array[Byte](0, 1, 2))
    // readers resolve neither the debris nor any phantom version
    assert(Snapshots.versions(t) == Seq(1))
    assert(Snapshots.latest(spark, t).collect().map(_.getString(1)).toSeq
      == Seq("a"))
    // time travel refuses the unpublished version number
    intercept[IllegalArgumentException](Snapshots.read(spark, t, 2))
    // the next real write publishes OVER the debris without picking up
    // its files: v2 holds exactly the new rows
    assert(Snapshots.write(spark, t, Seq((2, "b")).toDF("k", "v")) == 2)
    assert(Snapshots.read(spark, t, 2).collect().map(_.getString(1)).toSeq
      == Seq("b"))
    assert(!new java.io.File(dead, "part-00000.parquet").exists(),
      "the published v2 must not keep the dead writer's files")
  }

  test("merge rejects two source rows with null keys") {
    val t = "spec_merge_null_dup"
    Snapshots.reset(t)
    Snapshots.write(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    val dup = Seq[(Option[Long], String)]((None, "x"), (None, "y")).toDF("id", "tag")
    val ex = intercept[IllegalArgumentException] {
      Snapshots.merge(spark, t, dup, Seq("id"))
    }
    assert(ex.getMessage === "requirement failed: MERGE source has duplicate rows on key id")
    assert(Snapshots.versions(t) === Seq(1))
  }

  test("merge inserts a single null-key source row and carries null-key " +
    "target rows over") {
    val t = "spec_merge_null"
    Snapshots.reset(t)
    Snapshots.write(spark, t, Seq[(Option[Long], String)](
      (Some(1L), "a"), (None, "t0"), (None, "t1")).toDF("id", "tag"))
    val src = Seq[(Option[Long], String)]((Some(1L), "a2"), (None, "s")).toDF("id", "tag")
    assert(Snapshots.merge(spark, t, src, Seq("id")) === 2)
    val got = Snapshots.latest(spark, t).as[(Option[Long], String)].collect()
    assert(got.sortBy(_._2).toSeq ===
      Seq((Some(1L), "a2"), (None, "s"), (None, "t0"), (None, "t1")))
  }

  test("a merge retried after a rejected one publishes v2 over the debris") {
    val t = "spec_merge_retry"
    Snapshots.reset(t)
    Snapshots.write(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    intercept[IllegalArgumentException] {
      Snapshots.merge(spark, t, Seq((2L, "x"), (2L, "y")).toDF("id", "tag"), Seq("id"))
    }
    assert(Snapshots.versions(t) === Seq(1))
    assert(Snapshots.merge(spark, t, Seq((2L, "b2"), (3L, "c")).toDF("id", "tag"),
      Seq("id")) === 2)
    assert(Snapshots.versions(t) === Seq(1, 2))
    assert(Snapshots.read(spark, t, 2).as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("a merge whose source keys fit a broadcast does not shuffle the target") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val target = spark.range(0, 20000).select($"id", ($"id" % 7).as("x"))
    val source = Seq((3L, 30L), (20001L, 1L)).toDF("id", "x")
    val df = Snapshots.merged(target, source, Seq("id"), "dup")
    assert(df.count() === 20001L)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    val joins = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.size === 1, plan.treeString)
    assert(joins.head.left.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      plan.treeString)
  }

  /** The schema file of version `v` of `table`, if it has one. */
  private def recorded(table: String, v: Int): Option[String] = {
    val f = new java.io.File(graft.core.Scratch.durable(
      s"snapshots/$table/roots/${graft.core.VersionedStore.versionName(v)}"), "_schema.json")
    if (f.exists) Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    else None
  }

  test("a version directory with no schema file still reads") {
    val t = "spec_no_schema"
    Snapshots.reset(t)
    Snapshots.write(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    assert(recorded(t, 1).isDefined)
    new java.io.File(graft.core.Scratch.durable(
      s"snapshots/$t/roots/${graft.core.VersionedStore.versionName(1)}"), "_schema.json").delete()
    assert(recorded(t, 1).isEmpty)
    assert(Snapshots.latest(spark, t).as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "a"), (2L, "b")))
    assert(Snapshots.read(spark, t, 1).count() === 2)
  }

  test("the recorded schema equals footer inference for every snapshot the " +
    "registry's snapshot writers publish") {
    import graft.operators.{Quality, Sources, StreamingOps}
    val writers = Seq(Sources.s16 -> "orders_tt", Sources.s18 -> "orders_merge",
      Sources.s21 -> "orders_cdc", Sources.s33 -> "orders_mv",
      Quality.s35 -> "orders_wap", StreamingOps.t15 -> "t15_state")
    writers.foreach { case (q, t) =>
      q.build(spark, sf).collect()
      assert(Snapshots.versions(t).nonEmpty, s"${q.name} published nothing")
      Snapshots.versions(t).foreach { v =>
        val dir = graft.core.VersionedStore.versionDir(
          graft.core.Scratch.durable(s"snapshots/$t"), v)
        val json = recorded(t, v).getOrElse(fail(s"${q.name}: $t v$v has no schema file"))
        assert(org.apache.spark.sql.types.DataType.fromJson(json) ===
          spark.read.parquet(dir).schema, s"${q.name}: $t v$v")
      }
    }
  }
}
