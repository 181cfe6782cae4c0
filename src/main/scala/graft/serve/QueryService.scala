package graft.serve

import graft.core.{Tables, VersionedStore}
import graft.sim.BusSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The webapp query surface (reference webapp/buses-dashboard: bq_service.py,
  * main.py endpoints) as library functions — each Flask endpoint maps to one
  * pre-built DataFrame the dashboard would poll. No web framework: the
  * reference's UI layer is out of engine scope (SURVEY §3.3); these are the
  * query semantics behind it.
  */
object QueryService {

  /** Rides served from a MATERIALIZED snapshot table — the reference
    * dashboard polls the bus_rides TABLE, it never re-runs the simulation
    * per request (part2:629-631). The first call per (session, dir) runs
    * the sim once and writes a [[graft.core.Snapshots]] version, together
    * with the two views the state and demand arms read ([[served]]); every
    * poll after that is a parquet scan whose lineage contains no sim
    * kernel at all, so dashboard QPS costs a scan + small agg, not a
    * simulation. ServeSpec asserts the second call re-executes nothing.
    */
  def servedRides(s: SparkSession, d: String): DataFrame = served(s, d).rides

  /** The serving tables of one dataset, each a pinned scan of a
    * [[graft.core.Snapshots]] version read with its recorded schema: the
    * rides snapshot and the per-snapshot views of the state and demand
    * arms, derived from that snapshot and written right after it — the
    * tables the reference dashboard polls (`bus_state` kept current by the
    * streaming job, the demand table of bq_service.py:33-50), so a poll
    * reads its answer instead of aggregating every ride. The three are
    * ONE [[graft.core.ListingCache]] entry stamped with the dataset
    * directory's listing, so a dataset regenerated in place is simulated
    * and all three are written again.
    */
  private case class Served(rides: DataFrame, state: DataFrame, demand: DataFrame)

  private val servedCache = new graft.core.ListingCache[Served](sessionBound = true)

  private def served(s: SparkSession, d: String): Served =
    servedCache(s, d) {
      def publish(kind: String, df: DataFrame): DataFrame = {
        val table = s"serve_${kind}_" + Integer.toHexString(d.hashCode)
        graft.core.Snapshots.reset(s, table)
        graft.core.Snapshots.write(s, table, df)
        graft.core.Snapshots.latest(s, table)
      }
      val rides = publish("rides", BusSim.rides(s, d))
      Served(rides,
        publish("state", latestState(rides).coalesce(1)),
        publish("demand", BusSim.demandRollup(rides).coalesce(1)))
    }

  /** Per-line state at the latest stop of `rides` (pyspark-job.py:177-204
    * shape: line, remaining, totals, last update).
    */
  private def latestState(rides: DataFrame): DataFrame = {
    val latest = struct(col("timestamp_at_stop"), col("bus_ride_id"))
    rides.groupBy("bus_line_id", "bus_line")
      .agg(
        max_by(col("remaining_at_stop"), latest).as("remaining_at_stop"),
        max_by(col("passengers_on_bus"), latest).as("total_passengers"),
        max_by(col("total_capacity"), latest).as("total_capacity"),
        max(col("timestamp_at_stop")).as("update_timestamp"))
  }

  /** GET /bus_lines — the dimension table (main.py:74-88 shape). */
  def busLines(s: SparkSession, d: String): DataFrame =
    BusSim.busLines(s, d, BusSim.stationCount(s, d))
      .select("bus_line_id", "bus_line", "frequency_minutes", "n_stops")

  /** GET /bus_state — latest per-line state (line, remaining, totals,
    * last update): a pinned scan of the one-file state view written with
    * the rides snapshot ([[served]]), equal to the same aggregate over
    * [[servedRides]]. One scan job per poll.
    */
  def busState(s: SparkSession, d: String): DataFrame = served(s, d).state

  /** GET /demand?line=... — per-line demand series (bq_service.py:33-50):
    * the line's rows of the one-file demand view written with the rides
    * snapshot ([[served]]), in bucket order — equal to
    * [[graft.sim.BusSim.demandRollup]] over [[servedRides]]. The scan is
    * coalesced to one partition, which the sort's ordering requirement
    * accepts without an exchange: one job per poll.
    */
  def demandByLine(s: SparkSession, d: String, line: String): DataFrame =
    served(s, d).demand.filter(col("bus_line") === line)
      .coalesce(1).orderBy("bucket_ts")

  /** GET /rides window fetch (bq_service.py:52-86): rides inside a
    * timestamp window, with the ride id's YEAR rebased (the reference
    * rewrites 2024 ids to the current year via REGEXP_REPLACE) and
    * `timestamp_at_stop` shifted forward — the "serve history as if it
    * were happening now" trick the dashboard runs on every poll. The
    * reference anchors on now(); fixed window + fixed shift keep it
    * deterministic and oracle-checkable.
    */
  def ridesWindow(s: SparkSession, d: String, start: String, stop: String,
      shiftDays: Int): DataFrame =
    servedRides(s, d)
      .filter(col("timestamp_at_stop").between(
        lit(start).cast("timestamp"), lit(stop).cast("timestamp")))
      .withColumn("bus_ride_id", regexp_replace(col("bus_ride_id"),
        "^(\\d+)_(\\d{4})-(\\d{2})-(\\d{2})_(\\d{2})-(\\d{2})-(\\d{2})$",
        "$1_2025-$3-$4_$5-$6-$7"))
      .withColumn("timestamp_at_stop",
        col("timestamp_at_stop") + expr(s"INTERVAL $shiftDays DAYS"))

  /** Replay feed (kafka_service.py:71-104): historical rides rebased onto a
    * fixed anchor, as the JSON envelopes the producer would emit, in send
    * order. The reference paces 1 msg/sec from a driver loop; pacing is a
    * client concern — this returns the ordered payload stream.
    */
  def replayFeed(s: SparkSession, d: String, anchor: String): DataFrame = {
    val rides = servedRides(s, d)
    val maxTs = rides.agg(max("timestamp_at_stop")).head().getTimestamp(0)
    rides
      .withColumn("send_ts",
        col("timestamp_at_stop") + (lit(anchor).cast("timestamp") - lit(maxTs)))
      .select(col("send_ts"),
        to_json(struct(col("bus_ride_id"), col("bus_line"), col("bus_stop_id"),
          col("remaining_at_stop"), col("send_ts").as("timestamp_at_stop"))).as("payload"))
      .orderBy("send_ts")
  }

  /** The windowed ride fetch as a driver-checked query: the full sim
    * pipeline + the serve-layer rebase, hash-proven end to end (the DuckDB
    * oracle replays the simulation fold AND the regex/shift/window).
    */
  val serveRidesWindow: graft.api.GraftQuery = graft.api.GraftQuery(
    "serve_rides_window",
    (s, d) => ridesWindow(s, d, "2024-01-02 06:00:00", "2024-01-02 12:00:00", 365),
    Some(BusSim.simFoldSql +
      """SELECT regexp_replace(bus_ride_id,
        |    '^(\d+)_(\d{4})-(\d{2})-(\d{2})_(\d{2})-(\d{2})-(\d{2})$',
        |    '\1_2025-\3-\4_\5-\6-\7') AS bus_ride_id,
        |  bus_line_id, bus_line, bus_size, seating_capacity, standing_capacity,
        |  total_capacity, bus_stop_id, bus_stop_index, last_stop,
        |  timestamp_at_stop + to_days(365) AS timestamp_at_stop,
        |  waiting_passengers, passengers_boarding, passengers_alighting,
        |  passengers_on_bus, remaining_at_stop
        |FROM fold
        |WHERE timestamp_at_stop BETWEEN TIMESTAMP '2024-01-02 06:00:00'
        |  AND TIMESTAMP '2024-01-02 12:00:00'""".stripMargin))

  /** The serving roots are [[graft.core.Scratch.durable]] roots under
    * `serve/`: they outlive the JVM, so their name must change whenever
    * their CONTENT would. It folds the dataset fingerprint
    * ([[graft.core.SessionStaging.datasetIdent]] of the source file, the
    * [[graft.core.ListingCache]] stamp — a regenerated corpus at the same
    * path re-keys) and a CODE-VERSION salt.
    * Bump the salt with any change to the scoring/index-build semantics,
    * or a snapshot built by the old code keeps serving under the new
    * oracle.
    */
  private val ServeScratchSalt = "r14a"

  private def serveRoot(s: SparkSession, kind: String, d: String, file: String): String =
    graft.core.Scratch.durable(
      s"serve/${kind}_${ServeScratchSalt}_${graft.core.SessionStaging.datasetIdent(s, d, file)}")

  /** The BM25 snapshot is a VERSIONED root (VERDICT r12 #1 — the same
    * manifest-pointer discipline as [[vecIndexRoot]]): a crashed
    * materialization leaves only unpublished debris readers never see
    * (the old bare `_SUCCESS` check trusted half-written snapshots
    * forever), and a re-materialization under running polls flips
    * atomically — every pinned page is fully-old or fully-new, never
    * mixed, mirroring the stable store the reference dashboard polls
    * (webapp/buses-dashboard/bq_service.py:33-50).
    */
  private[graft] def docIndexRootOf(s: SparkSession, d: String): String =
    serveRoot(s, "serve_bm25", d, "documents.parquet")

  /** The snapshot's declared schema, which [[buildDocSnapshot]] writes.
    * Page reads pass it, so building a page runs no footer-inference job.
    */
  private val DocScoreSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, bm25 DOUBLE")

  /** BM25 snapshot layout: `scores/` holds the full (doc_id, bm25) table
    * (doubles round-trip parquet exactly). A page is read from it once
    * per version and k ([[docSearch]] caches the answer), so the snapshot
    * keeps no second, pre-cut tier for polls.
    */
  private def buildDocSnapshot(docs: DataFrame, dir: String): Unit =
    graft.operators.TextOps.bm25Score(docs).write.mode("overwrite").parquet(s"$dir/scores")

  /** First materialization of the versioned BM25 store: score `docs`
    * into roots/v1 and publish the pointer (single-writer; a racing
    * initializer waits for the winner's publish).
    */
  def initVersionedDocIndex(docs: DataFrame, root: String,
      leaseTtlMs: Long = VersionedStore.DefaultLeaseTtlMs): String =
    VersionedStore.init(docs.sparkSession, root, leaseTtlMs)(
      buildDocSnapshot(docs, _))

  /** Re-materialize the BM25 store from `docs` into version N+1 and flip
    * the pointer — pinned in-flight pages stay fully-old, the next
    * resolution is fully-new, and two concurrent re-materializations
    * cannot interleave (the [[graft.core.VersionedStore.buildNext]]
    * lease). Returns the new version directory.
    */
  def rematerializeDocIndex(s: SparkSession, root: String, docs: DataFrame,
      leaseTtlMs: Long = VersionedStore.DefaultLeaseTtlMs): String =
    VersionedStore.buildNext(s, root, leaseTtlMs)(
      buildDocSnapshot(docs, _))

  /** The staged BM25 build behind the serving root and the doc-arm
    * lifecycle gates: publish the snapshot of `d`'s corpus (`sub90`: the
    * doc_id % 10 != 0 slice) as v1 of a fresh `root` (`first`) or as its
    * successor version. The deterministic scoring runs once per JVM
    * through [[graft.core.SessionStaging]] and is byte-copied into the
    * version directory; the claim/publish mechanics stay live. Returns the
    * version directory.
    */
  private[graft] def stagedDocVersion(s: SparkSession, d: String, root: String,
      slice: String, first: Boolean): String = {
    val docs = Tables.documents(s, d)
    val sliced = if (slice == "sub90") docs.filter(col("doc_id") % 10 =!= 0) else docs
    val key = s"bm25:$slice:${graft.core.SessionStaging.datasetIdent(s, d, "documents.parquet")}"
    graft.core.SessionStaging.version(s, root, key, first)(buildDocSnapshot(sliced, _))
  }

  /** Serving maintenance hook for the doc arm — re-score from the
    * current corpus, flip, vacuum past the poll-derived grace window.
    */
  def refreshDocIndex(s: SparkSession, d: String): String = {
    val root = docIndexRootOf(s, d)
    val dir = stagedDocVersion(s, d, root, "full", first = false)
    VersionedStore.vacuum(s, root, keepLast = 2, minAgeMs = vacuumGraceMs)
    dir
  }

  /** The materialized BM25 score snapshot for `d` — the inverted-index
    * stand-in the [[docSearch]] scaladoc promises: scoring is one corpus
    * scan paid ONCE per dataset fingerprint (same identity rule as
    * [[vecIndexRoot]]), and every poll afterwards is a TakeOrdered page
    * over the tiny stored (doc_id, bm25) table. Values round-trip parquet
    * exactly (doubles), so the snapshot serves bit-identical results to
    * live scoring and the same oracles gate both.
    */
  private def bm25Root(s: SparkSession, d: String): String = {
    val root = docIndexRootOf(s, d)
    builtRoot(s, root)(stagedDocVersion(s, d, root, "full", first = true))
  }

  /** The pinned current version of a serving root, building v1 first if
    * nothing is published yet. The first build is serialized within the
    * JVM, so concurrent pollers never overwrite each other's in-flight
    * build of the same version directory.
    */
  private def builtRoot(s: SparkSession, root: String)(build: => Unit): String = {
    root.intern.synchronized {
      if (VersionedStore.currentVersion(s, root).isEmpty) build
    }
    VersionedStore.resolve(s, root)
  }

  /** Search endpoint: top-k documents by Okapi BM25 against the engine's
    * fixed demo query terms (see [[graft.operators.TextOps.bm25Score]] —
    * the term list is the per-request parameterization seam). Serving
    * shape at scale: scoring (one scan + broadcast df/stats joins) is
    * MATERIALIZED once per dataset ([[bm25Root]]); the first request for
    * a version and k runs one TakeOrdered page over the stored scores
    * (per-partition heads, no global sort) — the build-once/query-many
    * shape shared with [[vecSearch]]. The pointer is still resolved per
    * poll (a flip must land at the next request); the page is one
    * [[answers]] entry stamped on the pinned version directory, so a warm
    * poll runs no job.
    */
  def docSearch(s: SparkSession, d: String, k: Int = 10): DataFrame =
    docAnswer(s, bm25Root(s, d), k)

  /** [[docPage]]'s answer for `dir` and `k`, one [[answers]] entry. */
  private def docAnswer(s: SparkSession, dir: String, k: Int): DataFrame =
    answers(s, dir, s"doc:$k")(answer(docPage(s, dir, k)))

  /** The search endpoint as a driver-checked query: the x31 scoring SQL
    * wrapped with the identical deterministic top-10 (score-desc, doc-id
    * tie-break).
    */
  val serveDocSearch: graft.api.GraftQuery = graft.api.GraftQuery(
    "serve_doc_search",
    (s, d) => docSearch(s, d),
    graft.operators.TextOps.x31.oracle.map(x31Sql =>
      s"""SELECT doc_id, bm25 FROM ($x31Sql)
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin))

  /** x31's BM25 scoring SQL over a filtered corpus slice — the subset
    * oracle the versioned-snapshot gates distinguish old/new pages with
    * (df, N and avgdl all shift with the subset, so v1-on-a-subset and
    * v2-on-the-full-corpus rank provably differently). The formula lives
    * in ONE place ([[graft.operators.TextOps.bm25OracleSql]]) so a recipe
    * change cannot silently diverge the serve gates from x31.
    */
  private def bm25SubsetSql(where: String): String =
    graft.operators.TextOps.bm25OracleSql(where)

  /** The deterministic top-k page over a pinned snapshot directory, as
    * a lazy plan: one TakeOrdered over `scores/` (bm25 desc, doc_id
    * tie-break) — the plan behind a [[docSearch]] answer, parameterized by
    * version dir, that a pinned read executes whenever it likes.
    */
  private[graft] def docPage(s: SparkSession, dir: String, k: Int): DataFrame =
    s.read.schema(DocScoreSchema).parquet(s"$dir/scores")
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)

  /** The v47-style race gate on the DOC arm: a page RESOLVED against the
    * current BM25 snapshot, then EXECUTED after a re-materialization has
    * published the successor, serves the fully-OLD scoring (subset df/N/
    * avgdl) — never empty, never mixed. The oracle replays exactly that
    * subset scoring.
    */
  val serveDocPinnedRead: graft.api.GraftQuery = graft.api.GraftQuery(
    "serve_doc_pinned_read",
    (s, d) => {
      val root = graft.core.Scratch.run("sdoc_pin")
      stagedDocVersion(s, d, root, "sub90", first = true)
      // the concurrent poller: pointer resolved NOW (v1)...
      val pinned = docPage(s, VersionedStore.resolve(s, root), 10)
      // ...re-materialization publishes v2 before the page executes
      stagedDocVersion(s, d, root, "full", first = false)
      pinned
    },
    Some(s"""SELECT doc_id, bm25 FROM (${bm25SubsetSql("WHERE doc_id % 10 != 0")})
            |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin))

  /** The v48-style flip+vacuum gate on the DOC arm: after the
    * re-materialization publishes v2 and the grace window passes (vacuum
    * keepLast=1 drops v1), a fresh resolution serves pages bit-equal to a
    * fresh materialization on the full corpus — [[serveDocSearch]]'s own
    * oracle gates it verbatim.
    */
  val serveDocFlipVacuum: graft.api.GraftQuery = graft.api.GraftQuery(
    "serve_doc_flip_vacuum",
    (s, d) => {
      val root = graft.core.Scratch.run("sdoc_flip")
      stagedDocVersion(s, d, root, "sub90", first = true)
      stagedDocVersion(s, d, root, "full", first = false)
      val removed = VersionedStore.vacuum(s, root, keepLast = 1)
      require(removed == Seq(1L), s"vacuum must reclaim exactly v1, got $removed")
      docPage(s, VersionedStore.resolve(s, root), 10)
    },
    serveDocSearch.oracle)


  /** The serving index for `d` is a VERSIONED root (both tiers, IVF raw
    * + PQ codes): first touch builds version 1 and publishes the
    * manifest pointer; every request then resolves the pointer ONCE and
    * returns the pinned, immutable version directory — so an offline
    * retrain ([[refreshVecIndex]]) flips under running polls atomically,
    * and every downstream driver cache re-keys automatically because its
    * key IS the version directory. Crash-safety comes from
    * publish-after-build (an unpublished half-build is invisible and
    * simply rebuilt), replacing the old per-tier _SUCCESS checks.
    * Scratch identity = a fingerprint of the dataset (absolute path +
    * size + mtime + code salt), so a regenerated corpus at the same
    * path re-keys and re-builds.
    */
  private[graft] def serveRootOf(s: SparkSession, d: String): String =
    serveRoot(s, "serve_vecidx", d, "embeddings.parquet")

  private[graft] def vecIndexRoot(s: SparkSession, d: String): String = {
    val root = serveRootOf(s, d)
    builtRoot(s, root)(graft.operators.VectorOps.buildVecIndex(
      graft.core.Tables.embeddings(s, d), root, tiers = "both"))
  }

  /** Operator maintenance hook: advisor-gated retrain of the serving
    * index from its source corpus — if the occupancy/drift verdicts say
    * retrain, a successor version is built and the pointer flips under
    * running polls (fully-old or fully-new results, never mixed), then
    * versions past the grace window are vacuumed. Returns the new
    * version directory when it acted.
    */
  def refreshVecIndex(s: SparkSession, d: String,
      margin: Double = 0.05,
      sigStore: Option[String] = None,
      psiMargin: Double = 0.2): Option[String] = {
    val root = serveRootOf(s, d)
    val acted = graft.operators.VectorOps.rebuildVecIndexIfAdvised(
      s, root, margin, corpus = Some(graft.core.Tables.embeddings(s, d)),
      sigStore = sigStore, psiMargin = psiMargin)
    acted.foreach { _ =>
      VersionedStore.vacuum(s, root,
        keepLast = 2, minAgeMs = vacuumGraceMs)
      ()
    }
    acted
  }

  /** Poll-cadence feedback for the vacuum grace window (VERDICT r12 #8):
    * pollers report end-to-end poll durations here; the refresh hooks
    * then never reclaim a version superseded more recently than
    * [[vacuumGraceMs]] — a pinned in-flight read is safe as long as it
    * finishes within the window, and the window tracks the SLOWEST poll
    * actually observed (4x headroom, 30 s floor for cold JVMs that have
    * not reported yet).
    */
  def notePollMillis(ms: Long): Unit = {
    longestPollMs.getAndAccumulate(ms, (a, b) => math.max(a, b))
    (): Unit
  }

  private val longestPollMs = new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def vacuumGraceMs: Long =
    math.max(30000L, 4L * longestPollMs.get)

  /** THE warm-path driver cache: the answers of the served searches
    * (vec, docs, hybrid) and of the hybrid arm's vector candidates. Each
    * answer is the collected rows of its plan, held as a local relation
    * with the plan's schema ([[answer]]), in one [[graft.core.ListingCache]]
    * entry stamped on the pinned version directory the plan reads, under a
    * variant naming everything else it depends on (arm, k, tier, cand,
    * the lex version). A warm poll therefore reads no file and runs no
    * job, whichever posture [[graft.operators.VectorOps.searchPinned]]
    * picked for a vector search; the miss pays the plan once. The stamp
    * covers every file of the directory, tombstones included, so a
    * version flip and an append or delete by any writer inside the
    * pinned version are served at the next poll. A miss builds through
    * the same route planner as the facade, which reads the index geometry
    * from the one geometry cache every search route shares; the results
    * are therefore bit-identical to the facade routes, and the same
    * oracles gate both.
    */
  private[graft] val answers = new graft.core.ListingCache[DataFrame](sessionBound = true)

  /** `plan`'s rows, collected, as a local relation with its schema. */
  private def answer(plan: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    plan.sparkSession.createDataFrame(plan.collect().toSeq.asJava, plan.schema)
  }

  /** Vector-search endpoint: top-k neighbors of the demo query vectors
    * (vec_id < 5 — the per-request parameterization seam), served from
    * the persisted index through the facade's route planner
    * ([[graft.operators.VectorOps.searchPinned]]) — `tier` picks the
    * route per query budget (ivf = raw probed
    * cells, pq = code-only ADC, rerank = codes nominate + raw rerank,
    * auto = the best the layout supports). The build-once/query-many
    * serving shape next to [[docSearch]]'s text arm (a production
    * deployment fuses the two with x62's RRF).
    */
  def vecSearch(s: SparkSession, d: String, k: Int = 3,
      tier: String = "ivf"): DataFrame = {
    val path = vecIndexRoot(s, d)
    answers(s, path, s"vec:$k:$tier")(answer(graft.operators.VectorOps.searchPinned(s, path,
      graft.core.Tables.embeddings(s, d).filter(col("vec_id") < 5), k,
      probes = 2, tier = tier).drop("rank")))
  }

  /** Recall@3 of every serving route against the exact baseline — the
    * v24 eval loop run over the PERSISTED index's three routes, one row
    * per tier. The per-request quality monitor a serving deployment
    * publishes next to its latency numbers.
    */
  def vecRecall(s: SparkSession, d: String): DataFrame = {
    val path = vecIndexRoot(s, d)
    val emb = graft.core.Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 5)
    val bf = graft.operators.VectorOps.bruteForceTopK(emb, qs, 3)
      .select("q_id", "neighbor_id")
    def recallOf(tier: String): DataFrame = {
      val r = graft.operators.VectorOps
        .searchPinned(s, path, qs, k = 3, probes = 2, tier = tier)
        .select(col("q_id").as("iq"), col("neighbor_id").as("inb"))
      bf.join(r, bf("q_id") === col("iq") && bf("neighbor_id") === col("inb"),
          "left")
        .agg(count(lit(1)).as("truth_pairs"),
          sum(when(col("iq").isNotNull, 1L).otherwise(0L)).as("hits"))
        .select(lit(tier).as("tier"), col("truth_pairs"), col("hits"),
          (col("hits").cast("double") / col("truth_pairs").cast("double"))
            .as("recall"))
    }
    recallOf("ivf").unionByName(recallOf("pq")).unionByName(recallOf("rerank"))
  }

  /** The vector endpoint as a driver-checked query — the v2 IVF replay
    * (same centroids/assignment/probing), q = the demo query set, routed
    * through the facade's "ivf" tier.
    */
  val serveVecSearch: graft.api.GraftQuery = graft.api.GraftQuery(
    "serve_vec_search",
    (s, d) => vecSearch(s, d),
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN cents c) WHERE rk = 1),
           |q AS (SELECT * FROM v WHERE vec_id < 5),
           |probes AS (SELECT vec_id AS q_id, e AS qe, k_id AS cluster FROM (
           |  SELECT q.vec_id, q.e, c.k_id, row_number() OVER (PARTITION BY q.vec_id
           |    ORDER BY list_cosine_similarity(q.e, c.ke) DESC, c.k_id) AS rk
           |  FROM q CROSS JOIN cents c) WHERE rk <= 2)
           |SELECT q_id, neighbor_id, cos FROM (
           |  SELECT p.q_id, a.vec_id AS neighbor_id, list_cosine_similarity(p.qe, a.e) AS cos
           |  FROM probes p JOIN assign a USING (cluster) WHERE a.vec_id != p.q_id)
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin))

  /** The PQ route of the same endpoint: code-only ADC serving — the
    * budget tier a RAM-bound deployment answers from (8 ints per vector,
    * no floats read). The oracle replays codebook, codes and ADC exactly
    * (v8's SQL at the demo query set).
    */
  val serveVecSearchPq: graft.api.GraftQuery = graft.api.GraftQuery(
    "serve_vec_search_pq",
    (s, d) => vecSearch(s, d, tier = "pq"),
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cb AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j, e
           |       FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
           |m AS (SELECT unnest(generate_series(0, 7)) AS m),
           |codes AS (SELECT vec_id, m, j AS code FROM (
           |  SELECT v.vec_id, m.m, cb.j, row_number() OVER (PARTITION BY v.vec_id, m.m
           |    ORDER BY list_reduce(list_transform(generate_series(1, 8),
           |      i -> (v.e[m.m * 8 + i] - cb.e[m.m * 8 + i]) * (v.e[m.m * 8 + i] - cb.e[m.m * 8 + i])),
           |      (a, b) -> a + b) ASC, cb.j) AS rk
           |  FROM v CROSS JOIN m CROSS JOIN cb) WHERE rk = 1),
           |q AS (SELECT * FROM v WHERE vec_id < 5),
           |qd AS (SELECT q.vec_id AS q_id, m.m, cb.j,
           |  list_reduce(list_transform(generate_series(1, 8),
           |    i -> (q.e[m.m * 8 + i] - cb.e[m.m * 8 + i]) * (q.e[m.m * 8 + i] - cb.e[m.m * 8 + i])),
           |    (a, b) -> a + b) AS dd
           |  FROM q CROSS JOIN m CROSS JOIN cb),
           |scored AS (SELECT qd.q_id, c.vec_id AS neighbor_id,
           |  list_reduce(list(qd.dd ORDER BY qd.m), (a, b) -> a + b) AS adc
           |  FROM codes c JOIN qd ON qd.m = c.m AND qd.j = c.code
           |  WHERE c.vec_id != qd.q_id
           |  GROUP BY qd.q_id, c.vec_id)
           |SELECT q_id, neighbor_id, adc FROM scored
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, neighbor_id) <= 3""".stripMargin))

  /** The two-stage route ("auto" when both tiers exist): PQ codes
    * nominate 32 candidates per query, raw vectors are fetched BY ID from
    * the postings tier for the exact cosine rerank — code-scan IO with
    * exact final scores. The oracle replays both stages with identical
    * tie-breaks.
    */
  val serveVecSearchRerank: graft.api.GraftQuery = graft.api.GraftQuery(
    "serve_vec_search_rerank",
    (s, d) => vecSearch(s, d, tier = "rerank"),
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cb AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j, e
           |       FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
           |m AS (SELECT unnest(generate_series(0, 7)) AS m),
           |codes AS (SELECT vec_id, m, j AS code FROM (
           |  SELECT v.vec_id, m.m, cb.j, row_number() OVER (PARTITION BY v.vec_id, m.m
           |    ORDER BY list_reduce(list_transform(generate_series(1, 8),
           |      i -> (v.e[m.m * 8 + i] - cb.e[m.m * 8 + i]) * (v.e[m.m * 8 + i] - cb.e[m.m * 8 + i])),
           |      (a, b) -> a + b) ASC, cb.j) AS rk
           |  FROM v CROSS JOIN m CROSS JOIN cb) WHERE rk = 1),
           |q AS (SELECT * FROM v WHERE vec_id < 5),
           |qd AS (SELECT q.vec_id AS q_id, m.m, cb.j,
           |  list_reduce(list_transform(generate_series(1, 8),
           |    i -> (q.e[m.m * 8 + i] - cb.e[m.m * 8 + i]) * (q.e[m.m * 8 + i] - cb.e[m.m * 8 + i])),
           |    (a, b) -> a + b) AS dd
           |  FROM q CROSS JOIN m CROSS JOIN cb),
           |cand AS (SELECT q_id, neighbor_id FROM (
           |  SELECT qd.q_id, c.vec_id AS neighbor_id,
           |    list_reduce(list(qd.dd ORDER BY qd.m), (a, b) -> a + b) AS adc
           |  FROM codes c JOIN qd ON qd.m = c.m AND qd.j = c.code
           |  WHERE c.vec_id != qd.q_id
           |  GROUP BY qd.q_id, c.vec_id)
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, neighbor_id) <= 32)
           |SELECT q_id, neighbor_id, cos FROM (
           |  SELECT cand.q_id, cand.neighbor_id,
           |    list_cosine_similarity(q.e, cv.e) AS cos
           |  FROM cand JOIN v cv ON cv.vec_id = cand.neighbor_id
           |            JOIN q ON q.vec_id = cand.q_id)
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin))

  /** The v24-style recall eval over the three serving routes — one row
    * per tier vs the exact baseline, the quality number published next to
    * each route's latency. The oracle replays all three searches AND the
    * brute-force truth, so the recall values are cross-engine exact.
    */
  val serveVecRecall: graft.api.GraftQuery = graft.api.GraftQuery(
    "serve_vec_recall",
    (s, d) => vecRecall(s, d),
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 5),
           |bf AS (SELECT q_id, neighbor_id FROM (
           |  SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
           |         list_cosine_similarity(q.e, v.e) AS cos
           |  FROM q JOIN v ON v.vec_id != q.vec_id)
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN cents c) WHERE rk = 1),
           |probes AS (SELECT vec_id AS q_id, e AS qe, k_id AS cluster FROM (
           |  SELECT q.vec_id, q.e, c.k_id, row_number() OVER (PARTITION BY q.vec_id
           |    ORDER BY list_cosine_similarity(q.e, c.ke) DESC, c.k_id) AS rk
           |  FROM q CROSS JOIN cents c) WHERE rk <= 2),
           |ivf AS (SELECT q_id, neighbor_id FROM (
           |  SELECT p.q_id, a.vec_id AS neighbor_id, list_cosine_similarity(p.qe, a.e) AS cos
           |  FROM probes p JOIN assign a USING (cluster) WHERE a.vec_id != p.q_id)
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3),
           |cb AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j, e
           |       FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
           |m AS (SELECT unnest(generate_series(0, 7)) AS m),
           |codes AS (SELECT vec_id, m, j AS code FROM (
           |  SELECT v.vec_id, m.m, cb.j, row_number() OVER (PARTITION BY v.vec_id, m.m
           |    ORDER BY list_reduce(list_transform(generate_series(1, 8),
           |      i -> (v.e[m.m * 8 + i] - cb.e[m.m * 8 + i]) * (v.e[m.m * 8 + i] - cb.e[m.m * 8 + i])),
           |      (a, b) -> a + b) ASC, cb.j) AS rk
           |  FROM v CROSS JOIN m CROSS JOIN cb) WHERE rk = 1),
           |qd AS (SELECT q.vec_id AS q_id, m.m, cb.j,
           |  list_reduce(list_transform(generate_series(1, 8),
           |    i -> (q.e[m.m * 8 + i] - cb.e[m.m * 8 + i]) * (q.e[m.m * 8 + i] - cb.e[m.m * 8 + i])),
           |    (a, b) -> a + b) AS dd
           |  FROM q CROSS JOIN m CROSS JOIN cb),
           |adcs AS (SELECT qd.q_id, c.vec_id AS neighbor_id,
           |  list_reduce(list(qd.dd ORDER BY qd.m), (a, b) -> a + b) AS adc
           |  FROM codes c JOIN qd ON qd.m = c.m AND qd.j = c.code
           |  WHERE c.vec_id != qd.q_id
           |  GROUP BY qd.q_id, c.vec_id),
           |pq AS (SELECT q_id, neighbor_id FROM adcs
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, neighbor_id) <= 3),
           |cand AS (SELECT q_id, neighbor_id FROM adcs
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, neighbor_id) <= 32),
           |rr AS (SELECT q_id, neighbor_id FROM (
           |  SELECT cand.q_id, cand.neighbor_id,
           |    list_cosine_similarity(q.e, cv.e) AS cos
           |  FROM cand JOIN v cv ON cv.vec_id = cand.neighbor_id
           |            JOIN q ON q.vec_id = cand.q_id)
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3)
           |SELECT 'ivf' AS tier, CAST(count(*) AS BIGINT) AS truth_pairs,
           |  CAST(sum(CASE WHEN i.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           |  CAST(sum(CASE WHEN i.q_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS recall
           |FROM bf LEFT JOIN ivf i ON i.q_id = bf.q_id AND i.neighbor_id = bf.neighbor_id
           |UNION ALL
           |SELECT 'pq', CAST(count(*) AS BIGINT),
           |  CAST(sum(CASE WHEN p.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(sum(CASE WHEN p.q_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE)
           |FROM bf LEFT JOIN pq p ON p.q_id = bf.q_id AND p.neighbor_id = bf.neighbor_id
           |UNION ALL
           |SELECT 'rerank', CAST(count(*) AS BIGINT),
           |  CAST(sum(CASE WHEN r.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(sum(CASE WHEN r.q_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE)
           |FROM bf LEFT JOIN rr r ON r.q_id = bf.q_id AND r.neighbor_id = bf.neighbor_id""".stripMargin))

  /** Hybrid search endpoint — the fusion the text and vector arms exist
    * for (x62's RRF, served): the lexical arm is the docs arm's own
    * top-`cand` answer ([[docSearch]] with k = `cand`), the vector arm is
    * the PERSISTED index's "ivf" route for the demo query vector (doc/vec
    * id spaces are aligned), and [[graft.operators.TextOps.rrfFused]]
    * (1/(60+rank), the Cormack et al. constant) merges them on the driver.
    * The fused page is one [[answers]] entry, so a warm poll runs no job.
    * Integer ranks → the RRF arithmetic is cross-engine exact.
    */
  def hybridSearch(s: SparkSession, d: String, k: Int = 10,
      cand: Int = 20): DataFrame = {
    val path = vecIndexRoot(s, d)
    // every hybrid entry is stamped on the vector version directory; the
    // BM25 version directory is immutable once published, so naming it in
    // the variant re-keys a documents-only re-materialization (new lex
    // version, same embeddings) instead of serving the stale lexical arm
    val lexDir = bm25Root(s, d)
    answers(s, path, s"hybrid:$k:$cand:$lexDir")(fused(docAnswer(s, lexDir, cand),
      answers(s, path, s"hybrid-vec:$cand")(answer(vectorArm(s, d, path, cand))), k))
  }

  /** The hybrid page over the given version directories, built from
    * scratch when called: both arms run and the fused rows come back as a
    * local relation. No [[answers]] entry is read or made.
    */
  private[graft] def hybridPage(s: SparkSession, d: String, path: String,
      lexDir: String, k: Int, cand: Int): DataFrame =
    fused(docPage(s, lexDir, cand), vectorArm(s, d, path, cand), k)

  /** The demo query vector's top-`cand` neighbors on the persisted index's
    * ivf route, with their ranks.
    */
  private def vectorArm(s: SparkSession, d: String, path: String,
      cand: Int): DataFrame =
    graft.operators.VectorOps.searchPinned(s, path,
      graft.core.Tables.embeddings(s, d).filter(col("vec_id") < 1), k = cand,
      probes = 2, tier = "ivf")

  /** The top-`k` RRF page of a lexical page (doc_id first, in page order)
    * and a vector arm (neighbor_id, rank), fused on the driver.
    */
  private def fused(lexPage: DataFrame, vtop: DataFrame, k: Int): DataFrame =
    graft.operators.TextOps.rrfFused(lexPage.sparkSession,
      lexPage.collect().map(_.getLong(0)).toSeq,
      vtop.select("neighbor_id", "rank").collect()
        .map(r => (r.getInt(1), r.getLong(0))).sortBy(_._1).map(_._2).toSeq, k)

  /** The hybrid endpoint as a driver-checked query: x62's lexical arm and
    * RRF arithmetic, with the vector arm replayed as the probed-cell IVF
    * search the persisted index serves.
    */
  val serveHybridSearch: graft.api.GraftQuery = graft.api.GraftQuery(
    "serve_hybrid_search",
    (s, d) => hybridSearch(s, d),
    Some("""WITH d2 AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
           |d3 AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM d2),
           |stats AS (SELECT count(*) AS n, sum(dl) AS sum_dl FROM d3),
           |tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM (
           |    SELECT doc_id, dl, unnest(ws) AS w FROM d3)
           |  WHERE w IN ('dup', 'join', 'batch') GROUP BY 1, 2, 3),
           |dfreq AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
           |sc AS (SELECT tf.doc_id, tf.w,
           |  (((CAST(n AS DOUBLE) - CAST(df AS DOUBLE)) + CAST(0.5 AS DOUBLE))
           |     / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
           |  * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
           |     / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
           |        (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
           |          (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE))))))
           |  AS sc
           |  FROM tf CROSS JOIN stats JOIN dfreq ON tf.w = dfreq.w),
           |bm AS (SELECT doc_id,
           |  coalesce(max(CASE WHEN w = 'dup' THEN sc END), CAST(0 AS DOUBLE))
           |  + coalesce(max(CASE WHEN w = 'join' THEN sc END), CAST(0 AS DOUBLE))
           |  + coalesce(max(CASE WHEN w = 'batch' THEN sc END), CAST(0 AS DOUBLE)) AS bm25
           |FROM sc GROUP BY doc_id),
           |lex AS (SELECT doc_id, lex_rank FROM (
           |    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
           |    FROM bm) WHERE lex_rank <= 20),
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN cents c) WHERE rk = 1),
           |q AS (SELECT * FROM v WHERE vec_id = 0),
           |probes AS (SELECT vec_id AS q_id, qe, cluster FROM (
           |  SELECT q.vec_id, q.e AS qe, c.k_id AS cluster,
           |    row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY list_cosine_similarity(q.e, c.ke) DESC, c.k_id) AS rk
           |  FROM q CROSS JOIN cents c) WHERE rk <= 2),
           |vt0 AS (SELECT p.q_id, a.vec_id AS doc_id,
           |          list_cosine_similarity(p.qe, a.e) AS cos
           |        FROM probes p JOIN assign a USING (cluster)
           |        WHERE a.vec_id != p.q_id),
           |vt AS (SELECT doc_id, vec_rank FROM (
           |    SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS vec_rank
           |    FROM vt0) WHERE vec_rank <= 20),
           |f AS (SELECT coalesce(lex.doc_id, vt.doc_id) AS doc_id, lex_rank, vec_rank,
           |        coalesce(1.0 / (60.0 + lex_rank), 0.0)
           |          + coalesce(1.0 / (60.0 + vec_rank), 0.0) AS rrf
           |      FROM lex FULL OUTER JOIN vt ON lex.doc_id = vt.doc_id)
           |SELECT doc_id, lex_rank, vec_rank, rrf,
           |  row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
           |FROM f QUALIFY fused_rank <= 10""".stripMargin))

  /** The HYBRID endpoint across a lex re-materialization: the fused page
    * built after the flip reads the fully-new lexical arm (the answer's
    * cache key folds the pinned lex version directory, so a flip re-keys
    * instead of serving the stale arm) — bit-equal to serving against a
    * fresh full-corpus materialization, so [[serveHybridSearch]]'s own
    * oracle gates it verbatim.
    */
  val serveHybridRemat: graft.api.GraftQuery = graft.api.GraftQuery(
    "serve_hybrid_remat",
    (s, d) => {
      val root = graft.core.Scratch.run("sdoc_remat")
      stagedDocVersion(s, d, root, "sub90", first = true)
      stagedDocVersion(s, d, root, "full", first = false)
      hybridPage(s, d, vecIndexRoot(s, d),
        VersionedStore.resolve(s, root), 10, 20)
    },
    serveHybridSearch.oracle)

  val all: Seq[graft.api.GraftQuery] =
    Seq(serveRidesWindow, serveDocSearch, serveVecSearch, serveVecSearchPq,
      serveVecSearchRerank, serveVecRecall, serveHybridSearch,
      serveDocPinnedRead, serveDocFlipVacuum, serveHybridRemat)
}

/** Thin CLI over [[QueryService]]: `runMain graft.serve.ServeCli <sfDir>
  * <bus_lines|bus_state|demand|rides|replay|doc_search|vec_search|vec_recall|hybrid_search>
  * [arg]`
  * — prints JSON lines, the same
  * wire format the dashboard polls for.
  */
object ServeCli {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cmd = if (args.length > 1) args(1) else "bus_lines"
    val spark = graft.core.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val df = cmd match {
      case "bus_lines" => QueryService.busLines(spark, sfDir)
      case "bus_state" => QueryService.busState(spark, sfDir)
      case "demand"    => QueryService.demandByLine(spark, sfDir, args(2))
      case "rides"     => QueryService.ridesWindow(spark, sfDir,
        "2024-01-02 06:00:00", "2024-01-02 12:00:00", 365).limit(20)
      case "replay"    => QueryService.replayFeed(spark, sfDir, "2025-06-01 00:00:00").limit(20)
      case "doc_search" => QueryService.docSearch(spark, sfDir)
      case "vec_search" => QueryService.vecSearch(spark, sfDir,
        tier = if (args.length > 2) args(2) else "ivf")
      case "vec_recall" => QueryService.vecRecall(spark, sfDir)
      case "hybrid_search" => QueryService.hybridSearch(spark, sfDir)
      case other       => sys.error(s"unknown command: $other")
    }
    df.toJSON.collect().foreach(println)
    spark.stop()
  }
}
