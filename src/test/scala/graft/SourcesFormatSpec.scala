package graft

import org.apache.spark.sql.functions._

/** Format-interop gates for the s37/s38 roundtrips: exact value fidelity
  * on adversarial doubles and the ORC scan's predicate pushdown (the
  * scale property that makes ORC a peer of parquet, not a dump format).
  */
class SourcesFormatSpec extends SparkSpec {

  import SparkSpec.spark.implicits._

  private def tmp(leaf: String): String =
    tempDir(leaf)

  /** Doubles chosen to break sloppy serializers: repeating binary
    * fractions, denormal-adjacent magnitudes, negative zero, and a value
    * needing all 17 significant digits.
    */
  private val awkward = Seq(
    (1L, 0.1), (2L, 1e-300), (3L, -0.0), (4L, 0.1 + 0.2),
    (5L, Double.MinPositiveValue), (6L, 1.7976931348623157e308),
    (7L, 2.2250738585072014e-308), (8L, 1.0 / 3.0))

  test("ORC roundtrip preserves longs and adversarial doubles bitwise") {
    val dir = tmp("graft-orc")
    val df = awkward.toDF("id", "v")
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir).collect()
      .map(r => r.getLong(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
      .toMap
    awkward.foreach { case (id, v) =>
      assert(back(id) == java.lang.Double.doubleToRawLongBits(v),
        s"ORC drifted value for id=$id: $v")
    }
  }

  test("JSON-lines roundtrip preserves adversarial doubles bitwise under a declared schema") {
    val dir = tmp("graft-json")
    val df = awkward.toDF("id", "v")
    df.write.mode("overwrite").json(dir)
    val back = spark.read.schema(df.schema).json(dir).collect()
      .map(r => r.getLong(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
      .toMap
    awkward.foreach { case (id, v) =>
      assert(back(id) == java.lang.Double.doubleToRawLongBits(v),
        s"JSON drifted value for id=$id: $v")
    }
  }

  test("s37's ORC read pushes the filter into the scan (PushedFilters non-empty)") {
    val dir = tmp("graft-orc-push")
    graft.core.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite").orc(dir)
    val plan = spark.read.orc(dir).filter(col("l_quantity") > 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.matches("(?s).*PushedFilters: \\[.*GreaterThan\\(l_quantity.*"),
      s"ORC scan lost predicate pushdown:\n$plan")
  }
}
