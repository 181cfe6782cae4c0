package graft

import graft.api.Graft
import graft.core.{QueryMetrics, Tables}
import graft.operators.VectorOps
import graft.serve.QueryService
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StringType}

/** A warm lakehouse pass launches no Spark job that does no query work:
  * table schemas come from metadata (core/Tables caches each file's
  * inferred schema per listing stamp), and MERGE checks its cardinality
  * rule inside its own write (core/Snapshots.merge). A warm ANN read
  * runs no job: a search whose files fit one advisory partition ranks on
  * the driver over cached decoded tier rows, so only an append (one load
  * per tier read) or a delete (one tombstone load) costs a job at the
  * next read. The state and demand arms read per-snapshot views, and a
  * served root with tombstones keeps its cached results. An
  * output a build writes and reads back is read with the schema it was
  * written with (core/Tables.readBack), never by footer inference.
  */
class JobCountSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  // the served vector root is durable and shared with other runs: reclaim
  // the versions this suite's delete and compaction publish
  override def afterAll(): Unit =
    try graft.core.VersionedStore.vacuum(spark, QueryService.serveRootOf(spark, sf), keepLast = 1): Unit
    finally super.afterAll()

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

  test("after a warm pass, the s15 and t13 builds run only their own " +
    "jobs: no read-back infers a schema") {
    warm
    Seq("s15_dml_delete", "t13_stream_table_mirror").foreach(build)
    // s15 writes v1 and v2 and reads each back (two inference jobs before);
    // t13 runs its stream's one batch and reads the sink back (one before)
    assert(jobs(build("s15_dml_delete")) === 2)
    assert(jobs(build("t13_stream_table_mirror")) === 1)
  }

  test("a BM25 snapshot build runs only its scoring and its scores/ write: " +
    "no read-back, no schema-inference job") {
    val docs = Tables.documents(spark, sf)
    val n = jobs(QueryService.initVersionedDocIndex(docs, tempDir("jobs-bm25") + "/idx"))
    info(s"initVersionedDocIndex ran $n jobs")
    // the snapshot is scores/ alone; a page tier cut from a read-back of
    // it added one job, and a schema-less read-back one more
    assert(n === 8)
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

  /** A versioned "both" root (ivf + pq tiers) over the embeddings, with
    * every 7th vector deleted.
    */
  private lazy val annRoot: String = {
    val root = tempDir("jobs-ann") + "/idx"
    val emb = Tables.embeddings(spark, sf)
    Graft.annInitVersionedVecIndex(emb, root, tiers = "both")
    Graft.annDeleteFromVersionedVecIndex(spark, root,
      emb.filter(col("vec_id") % 7 === 0).select("vec_id"))
    root
  }

  /** Two query vectors as a local batch, the form a request carries. */
  private lazy val queries: DataFrame = Tables.embeddings(spark, sf)
    .filter(col("vec_id").isin(1L, 2L)).collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.toDF("vec_id", "embedding")

  private def read(tier: String): Unit =
    Graft.annSearchVersionedVecIndex(spark, annRoot, queries, 5, tier = tier).collect(): Unit

  private def facade(tier: String): Int = {
    read(tier)
    jobs(read(tier))
  }

  test("warm facade ANN reads on a root with tombstones take 0 jobs") {
    val n = Seq("ivf", "pq", "rerank").map(t => t -> facade(t)).toMap
    info(s"facade jobs $n")
    assert(n.values.forall(_ == 0), n.toString)
  }

  test("the first facade read after an append runs one job per tier the " +
    "route reads, and none after it") {
    val emb = Tables.embeddings(spark, sf)
    for (((tier, tiers), i) <- Seq("ivf" -> 1, "pq" -> 1, "rerank" -> 2).zipWithIndex) {
      facade(tier)
      Graft.annAppendVersionedVecIndex(emb.filter(col("vec_id") < 2)
        .withColumn("vec_id", col("vec_id") + 9100000L + 10L * i), annRoot)
      assert(jobs(read(tier)) === tiers, s"$tier: the first read after the append")
      assert(facade(tier) === 0, s"$tier: a warm read after the append")
    }
  }

  test("a delete between two warm searches adds exactly one job at the " +
    "next search, and none after it") {
    val warm = facade("ivf")
    Graft.annDeleteFromVersionedVecIndex(spark, annRoot,
      Seq(3L, 4L).toDF("vec_id"))
    assert(jobs(read("ivf")) === warm + 1)
    assert(facade("ivf") === warm)
  }

  test("after a delete on the served root, warm vecSearch (ivf/pq/rerank) " +
    "and hybridSearch polls run no more jobs than before it") {
    def poll(arm: String): Unit = arm match {
      case "hybrid" => QueryService.hybridSearch(spark, sf).collect()
      case tier => QueryService.vecSearch(spark, sf, tier = tier).collect()
    }
    def warmJobs(): Map[String, Int] = {
      val arms = Seq("ivf", "pq", "rerank", "hybrid")
      arms.foreach(poll)
      arms.map(a => a -> jobs(poll(a))).toMap
    }
    val clean = warmJobs()
    val root = QueryService.serveRootOf(spark, sf)
    // the serving root is durable, so the delete names an id the corpus
    // does not hold (results stay as they were) and compaction afterwards
    // publishes a version without the tombstone table
    VectorOps.deleteFromVecIndex(spark, root, Seq(9200000L).toDF("vec_id"))
    try {
      val tombstoned = warmJobs()
      info(s"warm poll jobs: no tombstones $clean, after a delete $tombstoned")
      assert(tombstoned.forall { case (arm, n) => n <= clean(arm) },
        s"after a delete $tombstoned, without tombstones $clean")
    } finally VectorOps.compactVecIndex(spark, root)
  }

  test("warm vecSearch (ivf/pq/rerank), docSearch (k 5/10/20) and " +
    "hybridSearch (k 5/10) polls run no job") {
    val polls: Seq[(String, () => Any)] =
      Seq("ivf", "pq", "rerank").map(t =>
        s"vec $t" -> (() => QueryService.vecSearch(spark, sf, tier = t).collect())) ++
        Seq(5, 10, 20).map(k => s"docs $k" -> (() => QueryService.docSearch(spark, sf, k).collect())) ++
        Seq(5, 10).map(k => s"hybrid $k" -> (() => QueryService.hybridSearch(spark, sf, k).collect()))
    val n = polls.map { case (arm, poll) => poll(); arm -> jobs(poll()) }.toMap
    info(s"warm poll jobs $n")
    assert(n.values.forall(_ == 0), n.toString)
  }

  test("Sampler.noop collects a served answer without a job and runs any " +
    "other frame") {
    val answer = QueryService.docSearch(spark, sf)
    assert(jobs(graft.tools.Sampler.noop(answer)) === 0)
    // a projection of a local relation, as a facade search dropping `rank`
    assert(jobs(graft.tools.Sampler.noop(answer.drop("bm25"))) === 0)
    assert(jobs(graft.tools.Sampler.noop(spark.range(8).toDF("x"))) >= 1)
  }

  test("warm busState and demandByLine polls take one job each") {
    QueryService.busState(spark, sf).collect()
    QueryService.demandByLine(spark, sf, "NATION_3").collect()
    assert(jobs(QueryService.busState(spark, sf).collect()) === 1)
    assert(jobs(QueryService.demandByLine(spark, sf, "NATION_3").collect()) === 1)
  }
}
