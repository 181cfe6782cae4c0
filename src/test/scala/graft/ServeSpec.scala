package graft

import graft.core.QueryMetrics
import graft.serve.QueryService

/** Serving-layer contract: the dashboard-poll queries read a MATERIALIZED
  * rides snapshot; only the first call pays for the simulation. The
  * reference serves from the bus_rides table, never re-running the sim per
  * request (part2:629-631) — these tests pin that property with a stage
  * listener and a lineage check.
  */
class ServeSpec extends SparkSpec {

  // the served vector root is durable and shared with other runs: reclaim
  // the versions this suite's rebuild, compactions and refresh publish
  override def afterAll(): Unit =
    try graft.core.VersionedStore.vacuum(
      spark, QueryService.serveRootOf(spark, sf), keepLast = 1): Unit
    finally super.afterAll()

  /** Stages submitted while `body` runs, exact when this returns. */
  private def countStages(body: => Unit): Int =
    QueryMetrics.measure(spark)(body)._2.stages

  test("poll queries serve from the materialized snapshot, not the sim DAG") {
    // first call materializes (sim runs once, snapshot written)
    val warm = QueryService.busState(spark, sf).collect()
    assert(warm.nonEmpty)

    // the served frame's lineage must be a file scan: no sim kernels, no
    // ridership join — a poll is a parquet read, whatever it aggregates
    val plan = QueryService.servedRides(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("MapGroups") && !plan.contains("SerializeFromObject"),
      s"served rides still carry sim-kernel lineage:\n$plan")
    assert(plan.contains("FileScan") || plan.contains("BatchScan"),
      s"served rides are not a table scan:\n$plan")

    // a second poll runs only the scan+agg stages (sim = many shuffle
    // stages; the snapshot agg is scan -> partial -> final)
    val second = countStages(QueryService.busState(spark, sf).collect())
    assert(second <= 4, s"second poll submitted $second stages — sim re-ran?")

    // demand + window fetch reuse the same snapshot
    var series = Array.empty[org.apache.spark.sql.Row]
    val d = countStages {
      series = QueryService.demandByLine(spark, sf, "NATION_3").collect()
      QueryService.ridesWindow(spark, sf,
        "2024-01-02 06:00:00", "2024-01-02 12:00:00", 365).collect()
    }
    assert(series.nonEmpty, "the demand poll of a served line returned no series")
    assert(d <= 6, s"poll pair submitted $d stages — sim re-ran?")
  }

  test("the state and demand views equal the live aggregation over the " +
    "served rides, for every line") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, max, max_by, struct}
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
    val rides = QueryService.servedRides(spark, sf)
    val latest = struct(col("timestamp_at_stop"), col("bus_ride_id"))
    val liveState = rides.groupBy("bus_line_id", "bus_line")
      .agg(
        max_by(col("remaining_at_stop"), latest).as("remaining_at_stop"),
        max_by(col("passengers_on_bus"), latest).as("total_passengers"),
        max_by(col("total_capacity"), latest).as("total_capacity"),
        max(col("timestamp_at_stop")).as("update_timestamp"))
    val state = QueryService.busState(spark, sf)
    assert(state.columns.toSeq === liveState.columns.toSeq)
    assert(rows(state).sorted === rows(liveState).sorted)
    val liveDemand = sim.BusSim.demandRollup(rides)
    val lines = rows(QueryService.busLines(spark, sf).select("bus_line"))
    assert(lines.size === 25)
    for (line <- lines.map(_.stripPrefix("[").stripSuffix("]"))) {
      val got = QueryService.demandByLine(spark, sf, line)
      assert(got.columns.toSeq === liveDemand.columns.toSeq)
      val want = rows(liveDemand.filter(col("bus_line") === line).orderBy("bucket_ts"))
      assert(want.nonEmpty, s"$line has no demand series")
      assert(rows(got) === want, s"$line: the demand view diverged from the live rollup")
    }
  }

  test("served snapshot equals the live simulation result") {
    val live = sim.BusSim.rides(spark, sf).collect().map(_.toString).sorted
    val servedRows = QueryService.servedRides(spark, sf)
      .collect().map(_.toString).sorted
    assert(servedRows.toSeq === live.toSeq)
  }

  /** Jobs submitted while `body` runs, exact when this returns. */
  private def countJobs(body: => Unit): Int =
    QueryMetrics.measure(spark)(body)._2.jobs

  test("warm vector/hybrid polls serve from driver caches: bit-identical " +
    "to the facade routes, no planning jobs on the warm path") {
    import org.apache.spark.sql.functions.col
    def ids(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // warm every cache (index build, centroid/codebook/query loads)
    Seq("ivf", "pq", "rerank").foreach(t =>
      QueryService.vecSearch(spark, sf, tier = t).collect())
    QueryService.hybridSearch(spark, sf).collect()
    // cached planned routes == the uncached facade routes, bit for bit
    val emb = graft.core.Tables.embeddings(spark, sf)
    val qs = emb.filter(col("vec_id") < 5)
    for (t <- Seq("ivf", "pq", "rerank", "auto")) {
      val viaFacade = graft.operators.VectorOps.searchVecIndex(
        spark, QueryService.serveRootOf(spark, sf), qs, 3, 2, tier = t)
      assert(ids(QueryService.vecSearch(spark, sf, tier = t)) === ids(viaFacade),
        s"cached $t route diverged from the facade route")
    }
    // warm polls: every served search entry holds its answer as a local
    // relation, so a poll reads no file and runs no job. Gate the contrast
    // against the uncached facade, which pays the query batch's collect
    // every call.
    val vecJobs = countJobs(QueryService.vecSearch(spark, sf).collect())
    val facadeJobs = countJobs(graft.operators.VectorOps.searchVecIndex(
      spark, QueryService.serveRootOf(spark, sf), qs, 3, 2, tier = "ivf")
      .collect())
    System.err.println(s"[serve] warm ivf poll jobs=$vecJobs facade=$facadeJobs")
    assert(vecJobs < facadeJobs,
      s"cached poll ($vecJobs jobs) must beat the uncached facade ($facadeJobs)")
    assert(vecJobs === 0, s"warm ivf poll submitted $vecJobs jobs")
    val pqJobs = countJobs(QueryService.vecSearch(spark, sf, tier = "pq").collect())
    assert(pqJobs === 0, s"warm pq poll submitted $pqJobs jobs")
    val hybJobs = countJobs(QueryService.hybridSearch(spark, sf).collect())
    assert(hybJobs === 0, s"warm hybrid poll submitted $hybJobs jobs")
  }

  test("versioned serving index: polls resolve the manifest pointer, a " +
    "retrain flips under them with identical results, and the caches " +
    "re-key by version directory") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    def rows(): Set[String] =
      QueryService.vecSearch(spark, sf).collect().map(_.toString).toSet
    val before = rows()
    val v1 = QueryService.vecIndexRoot(spark, sf)
    assert(v1.matches(".*/roots/v\\d{8}$"),
      s"serving root must be a pinned version directory: $v1")
    // an offline retrain from the same corpus publishes a successor;
    // the deterministic build rule makes its content identical, so the
    // flip must be invisible in results while the pointer advances
    val root = QueryService.serveRootOf(spark, sf)
    val v2 = graft.operators.VectorOps
      .rebuildVecIndex(spark, root, corpus = Some(emb))
    assert(QueryService.vecIndexRoot(spark, sf) === v2)
    assert(v2 !== v1)
    assert(rows() === before,
      "a same-corpus retrain flip changed served results")
    // the advisor-gated refresh is safe to call either way: results stay
    // identical and the pointer only moves forward
    QueryService.refreshVecIndex(spark, sf)
    assert(rows() === before)
    assert(QueryService.vecIndexRoot(spark, sf) >= v2)
  }

  test("versioned BM25 store: a hybrid page pinned before a lex " +
    "re-materialization serves the fully-old arm; a fresh resolution " +
    "serves the fully-new one") {
    import org.apache.spark.sql.functions.col
    val root = tempDir("graft-sdoc") + "/bm25"
    val docs = graft.core.Tables.documents(spark, sf)
    QueryService.initVersionedDocIndex(docs.filter(col("doc_id") % 10 =!= 0), root)
    val v1 = graft.core.VersionedStore.resolve(spark, root)
    assert(v1.endsWith("v00000001"))
    def hybridOn(lexDir: String): Seq[String] = QueryService.hybridPage(spark, sf,
      QueryService.vecIndexRoot(spark, sf), lexDir, 10, 20).collect().map(_.toString).toSeq
    val before = hybridOn(v1)
    // the in-flight poller resolved the pointer to v1; its lex page is a
    // lazy plan that executes only after the flip below
    val lexPinned = QueryService.docPage(spark, v1, 20)
    val lexBefore = lexPinned.collect().map(_.toString).toSeq
    // re-materialization flips to v2 (full corpus) under the poller
    val v2 = QueryService.rematerializeDocIndex(spark, root, docs)
    assert(v2.endsWith("v00000002"))
    assert(lexPinned.collect().map(_.toString).toSeq === lexBefore,
      "a lex page planned on v1 and executed after the flip must serve v1")
    assert(QueryService.docPage(spark, v2, 20).collect().map(_.toString).toSeq
      !== lexBefore, "subset vs full-corpus lex pages must rank differently")
    // the hybrid page runs its arms when built: one built on the resolved
    // v1 after the flip still fuses the old lex arm
    assert(hybridOn(v1) === before,
      "a hybrid page pinned to v1 must keep serving the old lex arm")
    // fresh resolution reads the new arm — equal to a from-scratch
    // full-corpus materialization, different from the subset page
    val fresh = hybridOn(graft.core.VersionedStore.resolve(spark, root))
    val scratch = tempDir("graft-sdoc-fresh") + "/bm25"
    QueryService.initVersionedDocIndex(docs, scratch)
    assert(fresh === hybridOn(graft.core.VersionedStore.resolve(spark, scratch)))
    assert(fresh !== before,
      "subset vs full-corpus lex arms must rank differently")
    // vacuum past the grace window reclaims v1 only
    assert(graft.core.VersionedStore.vacuum(spark, root, keepLast = 1)
      === Seq(1L))
    assert(!new java.io.File(s"$root/roots/v00000001").exists())
  }

  test("same-JVM maintenance mutations (versioned append/delete/compact) " +
    "re-key the warm-path caches: polls see appends, survive compaction") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = QueryService.serveRootOf(spark, sf)
    def rows(): Set[String] =
      QueryService.vecSearch(spark, sf).collect().map(_.toString).toSet
    // the hybrid arm reads the same vector root; each page is checked
    // against a page built from scratch over the same pinned versions
    def page(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    def hybrid(): Seq[String] = page(QueryService.hybridSearch(spark, sf))
    def freshHybrid(): Seq[String] = page(QueryService.hybridPage(spark, sf,
      QueryService.vecIndexRoot(spark, sf),
      graft.core.VersionedStore.resolve(spark, QueryService.docIndexRootOf(spark, sf)), 10, 20))
    val baseline = rows() // warms relation + answer caches
    val hybBaseline = hybrid()
    // append clones of query 0's vector under fresh ids INTO the current
    // version directory — the append changes the version's listing, so the
    // cached answer's stamp no longer matches; an answer kept past it
    // would serve its construction-time rows and never surface them
    val clones = graft.core.Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 0)
      .select((col("vec_id") + lit(9000000L)).as("vec_id"), col("embedding"))
    graft.operators.VectorOps.appendToVecIndex(clones, root)
    val appended = rows()
    assert(appended.exists(_.contains("9000000")),
      s"a warm poll after an append into the current version must serve the appended row")
    val hybAppended = hybrid()
    assert(hybAppended === freshHybrid(),
      "a hybrid poll after an append must equal a freshly built page")
    assert(hybAppended !== hybBaseline,
      "the appended clone of the hybrid query vector must move the vector arm")
    // delete them again: the tombstone contract (gone at the NEXT query)
    graft.operators.VectorOps.deleteFromVecIndex(spark, root,
      clones.select("vec_id"))
    assert(rows() === baseline)
    assert(hybrid() === hybBaseline, "deleted ids must leave the hybrid page")
    // compaction publishes the rewritten postings as the next version;
    // polls re-key to it and results must not move a bit
    graft.operators.VectorOps.compactVecIndex(spark, root)
    assert(rows() === baseline)
    assert(hybrid() === hybBaseline)
  }

  test("poll-derived vacuum grace: a slow pinned reader survives a vacuum " +
    "inside the grace window; past it the version is reclaimed") {
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, sf)
    val root = tempDir("graft-grace") + "/vidx"
    graft.operators.VectorOps.buildVecIndex(
      emb.filter(col("vec_id") % 10 =!= 0), root)
    // the artificially slow reader: pinned to v1, executes much later
    val pinned = graft.operators.VectorOps.searchVecIndex(
      spark, root, emb.filter(col("vec_id") < 5), k = 3)
    graft.operators.VectorOps.rebuildVecIndex(spark, root) // v2
    // inside the grace window (v1 superseded milliseconds ago): vacuum
    // must keep v1 alive even at keepLast=1, so the pinned read finishes
    assert(graft.core.VersionedStore.vacuum(spark, root,
      keepLast = 1, minAgeMs = 10L * 60 * 1000) === Nil)
    assert(pinned.collect().nonEmpty,
      "the pinned reader must survive a vacuum inside the grace window")
    // past the window it goes
    assert(graft.core.VersionedStore.vacuum(spark, root,
      keepLast = 1, minAgeMs = 0L) === Seq(1L))
    // the serving refresh derives the window from observed polls
    QueryService.notePollMillis(20000L)
    assert(QueryService.vacuumGraceMs === 80000L)
  }

  test("a version directory's stamp covers its nested files, is the same " +
    "for a file: URI and the plain path, and the served plan hits for both; " +
    "file and flat-directory stamps are the bare listing") {
    import graft.core.ListingCache
    val dir = QueryService.vecIndexRoot(spark, sf)
    val uri = new java.io.File(dir).toURI.toString
    assert(uri.startsWith("file:"))
    val stamp = ListingCache.listingOf(spark, dir)
    assert(stamp.exists(_.exists(_._1.startsWith("postings/cluster="))),
      s"the stamp of $dir must list the files inside its tiers: $stamp")
    assert(ListingCache.listingOf(spark, uri) === stamp)
    val ans = QueryService.vecSearch(spark, sf)
    assert(QueryService.vecSearch(spark, sf) eq ans, "a warm poll must hit")
    assert(QueryService.answers(spark, uri, "vec:3:ivf")(
      fail("the served answer must hit when its version is named by a file: URI")) eq ans)
    assert(QueryService.answers(spark, dir, "vec:3:ivf")(
      fail("the served answer must hit when its version is named by its path")) eq ans)
    // a file, and a directory without subdirectories, list as one
    // filesystem call over their own entries would: bare names, so every
    // datasetIdent digest and serving-root name derived from them stays put
    def bare(path: String): Seq[(String, Long, Long)] = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
        .map(f => (f.getPath.getName, f.getLen,
          java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(f.getPath.toUri))
            .to(java.util.concurrent.TimeUnit.NANOSECONDS)))
        .sorted
    }
    val files = new java.io.File(sf).listFiles().map(_.getPath).toSeq
    assert(files.size === 10)
    for (f <- files) assert(ListingCache.listingOf(spark, f) === Some(bare(f)), f)
    assert(ListingCache.listingOf(spark, sf) === Some(bare(sf)))
    val flat = tempDir("graft-flat")
    spark.range(4).repartition(2).write.mode("overwrite").parquet(flat)
    assert(bare(flat).size >= 3)
    assert(ListingCache.listingOf(spark, flat) === Some(bare(flat)))
  }

  test("rows a plain parquet append writes into the pinned version's " +
    "postings/ are served by the next vecSearch and hybridSearch") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = QueryService.serveRootOf(spark, sf)
    def rows(): Set[String] =
      QueryService.vecSearch(spark, sf).collect().map(_.toString).toSet
    def hybrid(): Seq[String] =
      QueryService.hybridSearch(spark, sf).collect().map(_.toString).toSeq.sorted
    val (baseline, hybBaseline) = (rows(), hybrid()) // warm answers
    val dir = QueryService.vecIndexRoot(spark, sf)
    // a writer that knows only the parquet layout: query 0's posting row
    // again under a fresh id, appended into its cluster's partition
    val clone = 9100000L
    spark.read.parquet(s"$dir/postings").filter(col("c_id") === 0L)
      .withColumn("c_id", lit(clone))
      .write.mode("append").partitionBy("cluster").parquet(s"$dir/postings")
    try {
      assert(QueryService.vecIndexRoot(spark, sf) === dir)
      assert(rows().exists(_.contains(clone.toString)),
        "the next vecSearch must serve a row appended into the pinned version")
      // the clone takes vec_rank 1 and moves every other vector rank
      val hyb = hybrid()
      assert(hyb !== hybBaseline,
        "the next hybridSearch must fuse the appended row into its vector arm")
      assert(hyb === QueryService.hybridPage(spark, sf, dir,
        graft.core.VersionedStore.resolve(spark, QueryService.docIndexRootOf(spark, sf)), 10, 20)
        .collect().map(_.toString).toSeq.sorted)
    } finally {
      // the serving root is durable: delete the clone and compact, so the
      // next version serves what it did before
      graft.operators.VectorOps.deleteFromVecIndex(spark, root,
        spark.range(1).select(lit(clone).as("vec_id")))
      graft.operators.VectorOps.compactVecIndex(spark, root)
    }
    assert(rows() === baseline)
    assert(hybrid() === hybBaseline)
  }

  test("warm polls of every arm write nothing under the run root") {
    def arms(): Unit = {
      QueryService.ridesWindow(spark, sf,
        "2024-01-02 06:00:00", "2024-01-02 12:00:00", 365).collect()
      QueryService.busState(spark, sf).collect()
      QueryService.demandByLine(spark, sf, "NATION_3").collect()
      Seq("ivf", "pq", "rerank").foreach(t =>
        QueryService.vecSearch(spark, sf, tier = t).collect())
      QueryService.docSearch(spark, sf).collect()
      QueryService.hybridSearch(spark, sf).collect()
    }
    val runRoot = new java.io.File(graft.core.Scratch.run("probe")).getParentFile
    def written(): Seq[String] =
      if (!runRoot.exists()) Nil
      else {
        val base = runRoot.toPath
        val walk = java.nio.file.Files.walk(base)
        try { import scala.jdk.CollectionConverters._
          walk.iterator().asScala.map(p => base.relativize(p).toString).toList.sorted }
        finally walk.close()
      }
    arms()
    val before = written().toSet
    for (_ <- 1 to 3) arms()
    val added = written().filterNot(before)
    assert(added.isEmpty, s"warm polls wrote under the run root: ${added.take(5)}")
    // the serve workload's writes beside the polls: a BM25 refresh, a
    // versioned append and a delete on an ANN root, then every arm again
    import org.apache.spark.sql.functions.col
    import SparkSpec.spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, sf)
    val annRoot = tempDir("graft-serve-ann") + "/idx"
    graft.api.Graft.annInitVersionedVecIndex(emb, annRoot, tiers = "both")
    val queries = emb.filter(col("vec_id") < 2).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.toDF("vec_id", "embedding")
    def cycle(c: Int): Unit = {
      QueryService.refreshDocIndex(spark, sf)
      graft.api.Graft.annAppendVersionedVecIndex(emb.filter(col("vec_id") < 2)
        .withColumn("vec_id", col("vec_id") + 9300000L + 10L * c), annRoot)
      graft.api.Graft.annDeleteFromVersionedVecIndex(spark, annRoot,
        Seq(9300000L + 10L * c).toDF("vec_id"))
      arms()
      Seq("ivf", "pq", "rerank").foreach(t =>
        graft.api.Graft.annSearchVersionedVecIndex(spark, annRoot, queries, 5, tier = t).collect())
    }
    cycle(0)
    val settled = written().toSet
    for (c <- 1 to 3) cycle(c)
    val grown = written().filterNot(settled)
    assert(grown.isEmpty, s"serve writes grew the run root per cycle: ${grown.take(5)}")
  }

  test("a crashed first build's debris under an unpublished BM25 root does " +
    "not block the staged init: it is replaced and the oracle page serves") {
    import org.apache.spark.sql.functions.col
    val root = tempDir("graft-sdoc-debris") + "/bm25"
    // a crash mid-copy of roots/v1: partial files, nothing published
    val debris = new java.io.File(s"$root/roots/v00000001/scores")
    assert(debris.mkdirs())
    java.nio.file.Files.write(new java.io.File(debris, "part-0.parquet").toPath,
      "torn".getBytes)
    val dir = QueryService.stagedDocVersion(spark, sf, root, "full", first = true)
    assert(dir === graft.core.VersionedStore.resolve(spark, root))
    assert(!new java.io.File(debris, "part-0.parquet").exists())
    val page = spark.read.parquet(s"$dir/scores")
      .orderBy(col("bm25").desc, col("doc_id")).limit(10).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25")))
    val oracle = graft.operators.TextOps.x31.build(spark, sf).collect()
      .sortBy(r => (-r.getAs[Double]("bm25"), r.getAs[Long]("doc_id")))
      .take(10).map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25")))
    assert(page.toSeq === oracle.toSeq)
  }

  test("refreshDocIndex publishes a new BM25 version; doc and hybrid " +
    "pages serve the oracle pages from it and cached plans re-key") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val root = QueryService.docIndexRootOf(spark, sf)
    val docAns = QueryService.docSearch(spark, sf) // warms the answer cache
    val hybAns = QueryService.hybridSearch(spark, sf)
    assert(QueryService.docSearch(spark, sf) eq docAns, "the doc answer must be cached")
    val (docBefore, hybBefore) = (rows(docAns), rows(hybAns))
    val v = graft.core.VersionedStore.currentVersion(spark, root).get
    val dir = QueryService.refreshDocIndex(spark, sf)
    assert(graft.core.VersionedStore.currentVersion(spark, root) === Some(v + 1),
      "the refresh must publish a successor version")
    assert(dir === graft.core.VersionedStore.resolve(spark, root))
    // the cached answers were keyed by the old version directory
    val (docAfter, hybAfter) =
      (QueryService.docSearch(spark, sf), QueryService.hybridSearch(spark, sf))
    assert(!(docAfter eq docAns) && !(hybAfter eq hybAns),
      "answers cached before the refresh must re-key")
    assert(QueryService.answers(spark, dir, "doc:10")(
      fail(s"the doc page must be the answer stamped on the new version $dir")) eq docAfter)
    // serve_doc_search's page: the x31 ranking's head
    val oracleDoc = graft.operators.TextOps.x31.build(spark, sf).collect()
      .sortBy(r => (-r.getAs[Double]("bm25"), r.getAs[Long]("doc_id")))
      .take(10).map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))).toSeq
    assert(docAfter.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))).toSeq === oracleDoc)
    assert(rows(docAfter) === docBefore)
    // serve_hybrid_search's page: the same corpus re-scored fuses the same
    // page as a from-scratch materialization of it
    val scratch = tempDir("graft-sdoc-refresh") + "/bm25"
    QueryService.initVersionedDocIndex(graft.core.Tables.documents(spark, sf), scratch)
    assert(rows(hybAfter) === rows(QueryService.hybridPage(spark, sf,
      QueryService.vecIndexRoot(spark, sf),
      graft.core.VersionedStore.resolve(spark, scratch), 10, 20)))
    assert(rows(hybAfter) === hybBefore)
  }

  test("doc search serves the exact BM25 top-10, score-descending") {
    val hits = QueryService.docSearch(spark, sf).collect()
    assert(hits.length == 10)
    val scores = hits.map(_.getAs[Double]("bm25"))
    assert(scores.sameElements(scores.sortBy(-_)))
    assert(scores.forall(_ > 0.0))
    // the served page IS the head of the full x31 ranking
    val full = graft.operators.TextOps.x31.build(spark, sf).collect()
      .sortBy(r => (-r.getAs[Double]("bm25"), r.getAs[Long]("doc_id")))
      .take(10).map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25")))
    assert(hits.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25")))
      .toSeq === full.toSeq)
  }
}
