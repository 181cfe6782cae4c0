package graft

import graft.core.{QueryMetrics, Tables}
import graft.serve.QueryService
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, StringType}

/** A warm lakehouse pass launches no Spark job that does no query work:
  * table schemas come from metadata (core/Tables caches each file's
  * inferred schema per listing stamp), and MERGE checks its cardinality
  * rule inside its own write (core/Snapshots.merge).
  */
class JobCountSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private lazy val warm: Unit = LakehousePass.run(spark, sf)

  private def jobs(body: => Any): Int = QueryMetrics.measure(spark)(body)._2.jobs

  private def build(op: String): DataFrame = SparkEntry.queries(op)(spark, sf)

  test("after a warm pass, Tables.load of an unchanged file runs no job") {
    warm
    assert(jobs(Tables.orders(spark, sf)) === 0)
    assert(jobs(Tables.events(spark, sf)) === 0)
  }

  test("after a warm pass, the m2 and j1 builds run no job") {
    warm
    assert(jobs(build("m2_gap_fill_linear")) === 0)
    assert(jobs(build("j1_composite_2key_join")) === 0)
  }

  test("after a warm pass, the s18 build runs at most 5 jobs") {
    warm
    val n = jobs(build("s18_merge_upsert"))
    info(s"s18 build ran $n jobs")
    assert(n <= 5)
  }

  test("a BM25 snapshot build reads its written scores back without a " +
    "schema-inference job") {
    val docs = Tables.documents(spark, sf)
    val n = jobs(QueryService.initVersionedDocIndex(docs, tempDir("jobs-bm25") + "/idx"))
    info(s"initVersionedDocIndex ran $n jobs")
    // a schema-less read-back of scores/ adds one footer-inference job
    assert(n === 9)
  }

  test("a table file rewritten in place with a changed column type loads " +
    "with the new type") {
    val dir = tempDir("jobs-rewrite")
    def put(df: DataFrame): Unit = {
      val out = tempDir("jobs-part")
      df.coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(dir, "t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    put(Seq(1, 2).toDF("x"))
    assert(Tables.load(spark, dir, "t").schema("x").dataType === IntegerType)
    assert(jobs(Tables.load(spark, dir, "t")) === 0)
    put(Seq("a", "bb").toDF("x"))
    val again = Tables.load(spark, dir, "t")
    assert(again.schema("x").dataType === StringType)
    assert(again.as[String].collect().toSet === Set("a", "bb"))
  }
}
