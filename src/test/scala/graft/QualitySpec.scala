package graft

import graft.operators.Quality
import graft.operators.Quality._

class QualitySpec extends SparkSpec {

  test("constraint suite flags exactly the planted violations") {
    import SparkSpec.spark.implicits._
    val df = Seq(
      (1L, Some("a"), 5.0, "O"),
      (2L, None, 50.0, "F"),     // null name
      (2L, Some("c"), -1.0, "X") // dup key, below range, bad enum
    ).toDF("id", "name", "price", "status")
    val out = Quality.checkConstraints(df, Seq(
      NotNull("name"),
      Unique(Seq("id")),
      InRange("price", 0.0, 10.0),
      InSet("status", Seq("O", "F")),
      MinCompleteness("name", 0.9)))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getBoolean(3))).toMap
    assert(out("not_null(name)") == (1.0, false))
    assert(out("unique(id)") == (1.0, false))
    assert(out("in_range(price,0.0,10.0)") == (2.0, false)) // -1.0 and 50.0
    assert(out("in_set(status)") == (1.0, false))
    assert(out("completeness(name)")._1 == 2.0 / 3.0)
    assert(!out("completeness(name)")._2)
    // clean table passes everything
    val clean = Seq((1L, Some("a"), 5.0, "O"), (2L, Some("b"), 6.0, "F"))
      .toDF("id", "name", "price", "status")
    val ok = Quality.checkConstraints(clean, Seq(
      NotNull("name"), Unique(Seq("id")), InRange("price", 0.0, 10.0),
      InSet("status", Seq("O", "F")), MinCompleteness("name", 0.9)))
      .collect()
    assert(ok.forall(_.getBoolean(3)))
  }

  test("the whole suite compiles to a single scan of the input") {
    // one aggregate pass: exactly one parquet scan in the physical plan
    val plan = graft.SparkEntry.queries("s34_constraint_suite")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
  }

  test("s35 WAP: clean batch publishes v1 byte-for-byte; failed audit " +
    "discards the candidate, leaves no staging dir, and v1 is untouched") {
    import SparkSpec.spark.implicits._
    import graft.core.Snapshots
    val t = "wap_spec"
    Snapshots.reset(t)
    val suite = Seq(NotNull("name"), InRange("price", 0.0, 10.0))
    val clean = Seq((1L, "a", 5.0), (2L, "b", 6.0)).toDF("id", "name", "price")
    val r1 = Quality.writeAuditPublish(spark, t, clean, suite)
    assert(r1 == Quality.WapResult(0, published = true, 1))
    assert(Snapshots.versions(t) == Seq(1))
    assert(Snapshots.latest(spark, t).orderBy("id").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L))
    val dirty = Seq((3L, "c", -1.0)).toDF("id", "name", "price")
    val r2 = Quality.writeAuditPublish(spark, t, dirty, suite)
    assert(r2 == Quality.WapResult(1, published = false, 1))
    assert(Snapshots.versions(t) == Seq(1))
    // rejected candidate fully cleaned up: only v1 remains on disk, and
    // no build lease is left behind
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-scratch/snapshots/$t"
    val left = new java.io.File(s"$root/roots").list().toSeq
    assert(left == Seq("v00000001"), s"unexpected residue: $left")
    val pointers = new java.io.File(s"$root/manifest").list().filterNot(_.startsWith(".")).toSeq
    assert(pointers == Seq("v00000001"), s"unexpected manifest entries: $pointers")
    // visible data unchanged by the rejected write
    assert(Snapshots.latest(spark, t).count() == 2)
  }
}
