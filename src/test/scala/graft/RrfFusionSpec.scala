package graft

import graft.operators.TextOps
import graft.serve.QueryService
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{coalesce, col, lit, row_number}
import org.apache.spark.sql.types._

/** The driver reciprocal-rank fusion (`TextOps.rrfFused`) behind x62 and
  * the served hybrid arm equals the Spark plan it replaced — a full outer
  * join of the two rank lists and a fused row_number window — row for
  * row, and both callers keep that plan's output schema.
  */
class RrfFusionSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  /** The replaced fusion: ranks from list positions, a full outer join,
    * the two-term RRF sum and a window ordered by (rrf desc, doc_id).
    */
  private def reference(lex: Seq[Long], vec: Seq[Long], k: Int): DataFrame = {
    def ranked(ids: Seq[Long], name: String): DataFrame =
      ids.zipWithIndex.map { case (id, i) => (id, i + 1) }.toDF("doc_id", name).coalesce(1)
    ranked(lex, "lex_rank").join(ranked(vec, "vec_rank"), Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("lex_rank").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("vec_rank").cast("double")), lit(0.0)))
      .withColumn("fused_rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("fused_rank") <= k)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().sortBy(_.getAs[Int]("fused_rank")).map(_.toString).toSeq

  private val cases: Seq[(String, Seq[Long], Seq[Long], Int)] = Seq(
    // lex rank 2 of doc 9 ties vec rank 2 of doc 4: doc_id breaks it
    ("an RRF tie", Seq(1L, 9L, 7L), Seq(3L, 4L, 1L), 10),
    ("disjoint arms", Seq(10L, 11L, 12L, 13L), Seq(20L, 21L), 4),
    ("an empty arm", Seq(5L, 2L, 8L), Seq.empty, 2),
    ("k beyond the union", Seq(3L, 1L), Seq(1L, 6L), 50))

  for ((name, lex, vec, k) <- cases)
    test(s"the driver fusion equals the join + window fusion: $name") {
      val got = TextOps.rrfFused(spark, lex, vec, k)
      val want = rows(reference(lex, vec, k))
      assert(got.collect().map(_.toString).toSeq === want,
        "rows (in fused_rank order) must equal the reference's")
      assert(want.size === math.min(k, (lex ++ vec).distinct.size))
    }

  test("the tie case orders equal RRF scores by doc_id") {
    val out = TextOps.rrfFused(spark, Seq(1L, 9L), Seq(3L, 4L), 10).collect()
    val byId = out.map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(out.map(_.getDouble(3)).distinct.length === 2)
    assert(byId(3L) < byId(4L) && byId(4L) < byId(9L))
  }

  /** The schema the replaced full-outer-join fusion produced. */
  private val fusedSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("lex_rank", IntegerType, nullable = true),
    StructField("vec_rank", IntegerType, nullable = true),
    StructField("rrf", DoubleType, nullable = false),
    StructField("fused_rank", IntegerType, nullable = false)))

  test("hybridSearch and x62 keep the join fusion's output schema, field " +
    "by field") {
    for ((name, df) <- Seq(
        "hybridSearch" -> QueryService.hybridSearch(spark, sf),
        "hybridSearch k=5" -> QueryService.hybridSearch(spark, sf, 5),
        "x62" -> TextOps.x62.build(spark, sf)))
      assert(df.schema.fields.toSeq === fusedSchema.fields.toSeq, name)
  }
}
