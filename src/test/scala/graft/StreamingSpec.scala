package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming semantics against an in-memory source (SURVEY §5.3): alert
  * filtering, latest-state with tombstone, multi-batch state evolution,
  * two concurrent queries (T7).
  */
// Top-level so Janino codegen can reach the field accessors; a case class
// nested in the suite forces every encoder over it into interpreted mode.
case class Update(id: Long, line: String, remaining: Long, lastStop: Boolean)

class StreamingSpec extends SparkSpec {

  import SparkSpec.spark.implicits._

  test("alert branch emits exactly the rows matching the filter, append mode") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Update]
    val q = in.toDF().filter($"remaining" > 0)
      .writeStream.format("memory").queryName("st_alerts").outputMode("append").start()
    in.addData(Update(1, "A", 5, false), Update(2, "A", 0, false), Update(3, "B", 2, false))
    q.processAllAvailable()
    assert(spark.table("st_alerts").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    q.stop()
  }

  test("latest-state branch: max_by per key, tombstone drops the line, complete mode") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Update]
    val q = in.toDF().groupBy($"line")
      .agg(max_by($"remaining", $"id").as("remaining"),
        max_by($"lastStop", $"id").as("tombstoned"))
      .filter(!$"tombstoned")
      .writeStream.format("memory").queryName("st_state").outputMode("complete").start()

    in.addData(Update(1, "A", 5, false), Update(2, "B", 7, false))
    q.processAllAvailable()
    assert(spark.table("st_state").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("A" -> 5L, "B" -> 7L))

    // state evolves across micro-batches; B's last update is a tombstone
    in.addData(Update(3, "A", 9, false), Update(4, "B", 0, true))
    q.processAllAvailable()
    assert(spark.table("st_state").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("A" -> 9L))
    q.stop()
  }

  test("two concurrent queries run from one source and awaitAnyTermination works") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Update]
    val df = in.toDF()
    val q1 = df.filter($"remaining" > 0).writeStream.format("memory")
      .queryName("st_t7_alerts").outputMode("append").start()
    val q2 = df.groupBy($"line").agg(count(lit(1)).as("n")).writeStream.format("memory")
      .queryName("st_t7_state").outputMode("complete").start()
    in.addData(Update(1, "A", 5, false), Update(2, "B", 0, false))
    q1.processAllAvailable(); q2.processAllAvailable()
    assert(spark.table("st_t7_alerts").count() === 1)
    assert(spark.table("st_t7_state").count() === 2)
    q1.stop(); q2.stop()
    spark.streams.awaitAnyTermination(1000)
  }

  test("flatMapGroupsWithState: incremental latest-state with tombstone + revival") {
    import graft.streaming.{KeyedUpdate, StatefulOps}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KeyedUpdate]
    val q = StatefulOps.latestPerKey(in.toDS())
      .writeStream.format("memory").queryName("st_fmgws").outputMode("update").start()

    in.addData(KeyedUpdate("A", 1, 10, false), KeyedUpdate("B", 2, 20, false))
    q.processAllAvailable()
    // update mode appends each emitted update; latest row per key is the state
    def latest(): Map[String, (Long, Long)] =
      spark.table("st_fmgws").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }

    assert(latest() === Map("A" -> (1L, 10L), "B" -> (2L, 20L)))

    // batch 2: A advances; B tombstones (emits nothing, state removed)
    in.addData(KeyedUpdate("A", 3, 30, false), KeyedUpdate("B", 4, 0, true))
    q.processAllAvailable()
    assert(latest() === Map("A" -> (3L, 30L), "B" -> (2L, 20L))) // B emitted nothing new

    // batch 3: stale A update ignored; B revives with a later seq
    in.addData(KeyedUpdate("A", 2, 99, false), KeyedUpdate("B", 5, 50, false))
    q.processAllAvailable()
    assert(latest() === Map("A" -> (3L, 30L), "B" -> (5L, 50L)))
    q.stop()
  }

  test("transformWithState accumulates per-key state across micro-batches") {
    import graft.streaming.{EventIn, StatefulOps}
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[EventIn]
      val q = StatefulOps.runningUserAgg(in.toDS())
        .writeStream.format("memory").queryName("st_tws")
        .outputMode("update").start()

      in.addData(EventIn(1L, 100L, 5.0), EventIn(1L, 101L, 9.0), EventIn(2L, 102L, 3.0))
      q.processAllAvailable()
      def rows() = spark.table("st_tws").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      assert(rows().toSet === Set((1L, 2L, 9.0, 101L), (2L, 1L, 3.0, 102L)))

      // batch 2: state carries over — user 1's count continues from 2
      in.addData(EventIn(1L, 103L, 1.0))
      q.processAllAvailable()
      assert(rows().toSet ===
        Set((1L, 2L, 9.0, 101L), (2L, 1L, 3.0, 102L), (1L, 3L, 9.0, 103L)))
      q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  /** DIVERGENCES #3 made observable: t5 keeps the reference's inert
    * watermark (complete-mode aggregation never evicts state), while the
    * incremental path (StatefulOps.latestPerKey, update mode, explicit
    * tombstone removal) keeps state bounded by the LIVE key set. This test
    * measures both via StateOperatorProgress.numRowsTotal — the faithful
    * bug's cost is monotone state growth, the number a 100-TB deployment
    * would page on. SCALE.md (streaming section) quotes the asserted
    * numbers.
    */
  test("state size: complete-mode (t5 shape) grows monotonically; tombstoned latestPerKey stays bounded") {
    import graft.streaming.{EventIn, KeyedUpdate, StatefulOps}
    implicit val sqlCtx = spark.sqlContext

    // complete-mode t5 shape: watermark attached but inert by design
    val inA = MemoryStream[EventIn]
    val qA = inA.toDF()
      .withColumn("ts", timestamp_seconds(col("event_id")))
      .withWatermark("ts", "10 minutes")
      .groupBy("user_id").agg(max("value").as("last_value"))
      .writeStream.format("memory").queryName("st_growth_complete")
      .outputMode("complete").start()

    // incremental latest-per-key: every batch tombstones the previous
    // batch's keys, so the live set is always exactly one batch wide
    val inB = MemoryStream[KeyedUpdate]
    val qB = StatefulOps.latestPerKey(inB.toDS())
      .writeStream.format("memory").queryName("st_growth_bounded")
      .outputMode("update").start()

    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.lastProgress.stateOperators.head.numRowsTotal

    val perBatch = 10
    var completeSizes = List.empty[Long]
    var boundedSizes = List.empty[Long]
    (0 until 3).foreach { b =>
      val keys = (b * perBatch) until ((b + 1) * perBatch)
      inA.addData(keys.map(k => EventIn(k.toLong, (b * 3600L) + k, k.toDouble)))
      qA.processAllAvailable()
      completeSizes :+= stateRows(qA)

      val adds = keys.map(k => KeyedUpdate(s"k$k", b * 100L + k, k.toLong, false))
      val tombs = if (b == 0) Seq.empty else
        ((b - 1) * perBatch until (b * perBatch))
          .map(k => KeyedUpdate(s"k$k", b * 100L + 50L + k, 0L, true))
      inB.addData(adds ++ tombs)
      qB.processAllAvailable()
      boundedSizes :+= stateRows(qB)
    }
    qA.stop(); qB.stop()

    // complete mode: state = every key ever seen, monotone by batch
    assert(completeSizes === List(10L, 20L, 30L),
      s"complete-mode state must accumulate all keys: $completeSizes")
    // tombstoned incremental path: state = live keys only, flat at 10
    assert(boundedSizes === List(10L, 10L, 10L),
      s"tombstoned state must stay one batch wide: $boundedSizes")
  }

  test("state bound under replay: re-delivering the SAME input twice leaves " +
    "state at the domain size (keys / dedup horizon), never at row count") {
    import graft.streaming.EventIn
    implicit val sqlCtx = spark.sqlContext
    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.lastProgress.stateOperators.head.numRowsTotal

    // 1) complete-mode key-domain aggregate (the t5 / t25–t30 shape):
    //    state = one row per KEY; an at-least-once source replaying the
    //    whole batch must not add a single state row.
    val inAgg = MemoryStream[EventIn]
    val qAgg = inAgg.toDF()
      .withColumn("ts", timestamp_seconds(col("event_id")))
      .withWatermark("ts", "10 minutes")
      .groupBy("user_id").agg(max("value").as("last_value"))
      .writeStream.format("memory").queryName("st_replay_complete")
      .outputMode("complete").start()
    val batch = (0 until 40).map(i => EventIn((i % 5).toLong, i.toLong, i.toDouble))
    inAgg.addData(batch); qAgg.processAllAvailable()
    val aggFirst = stateRows(qAgg)
    inAgg.addData(batch); qAgg.processAllAvailable() // exact replay
    val aggSecond = stateRows(qAgg)
    qAgg.stop()
    assert(aggFirst == 5L, s"state must equal the key domain: $aggFirst")
    assert(aggSecond == aggFirst,
      s"replaying identical rows grew complete-mode state: $aggFirst -> $aggSecond")

    // 2) unwatermarked dedup (the t12 shape): state = DISTINCT key set —
    //    the replay must neither grow state nor re-emit rows.
    val inDed = MemoryStream[EventIn]
    val qDed = inDed.toDF()
      .select("user_id", "event_id")
      .dropDuplicates("user_id", "event_id")
      .writeStream.format("memory").queryName("st_replay_dedup")
      .outputMode("append").start()
    inDed.addData(batch); qDed.processAllAvailable()
    val dedFirst = stateRows(qDed)
    val outFirst = spark.table("st_replay_dedup").count()
    inDed.addData(batch); qDed.processAllAvailable()
    val dedSecond = stateRows(qDed)
    val outSecond = spark.table("st_replay_dedup").count()
    qDed.stop()
    assert(dedFirst == 40L && dedSecond == 40L,
      s"dedup state must stay at the distinct-key count under replay: $dedFirst -> $dedSecond")
    assert(outFirst == 40L && outSecond == 40L,
      s"replay re-emitted deduped rows: $outFirst -> $outSecond")

    // 3) watermarked dedup (the t20 shape): state is EVICTED once the
    //    watermark passes a key's event time — after a batch far in the
    //    future, the horizon holds only the new keys, and replaying the
    //    original (now-late) rows cannot resurrect evicted state.
    val inWm = MemoryStream[EventIn]
    val qWm = inWm.toDF()
      .withColumn("ts", timestamp_seconds(col("event_id")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id")
      .writeStream.format("memory").queryName("st_replay_wmdedup")
      .outputMode("append").start()
    val early = (0 until 20).map(i => EventIn(i.toLong, i.toLong, 1.0))
    inWm.addData(early); qWm.processAllAvailable()
    val wmFirst = stateRows(qWm)
    // one batch 1h later: watermark advances to 3600s - 10min, far past
    // every early key's event time -> early state evicted
    val late = (100 until 105).map(i => EventIn(i.toLong, 3600L + i, 1.0))
    inWm.addData(late); qWm.processAllAvailable()
    inWm.addData(early); qWm.processAllAvailable() // late replay of batch 1
    val wmFinal = stateRows(qWm)
    qWm.stop()
    // 19 or 20: the ts=0 key sits exactly on the first batch's watermark
    // boundary and Spark may evict it within the same trigger — either way
    // state is the key domain, not the row count
    assert(wmFirst >= 19L && wmFirst <= 20L,
      s"watermarked dedup first-batch state: $wmFirst")
    assert(wmFinal == 5L,
      s"state must hold only the live horizon's keys after eviction + late replay: $wmFinal")
  }

  test("file-source streaming query t5 equals its batch equivalent") {
    val streamed = graft.operators.StreamingOps.t5.build(spark, sf)
      .orderBy("user_id").collect()
    val batch = graft.operators.Relational.u3.build(spark, sf)
      .select("user_id", "last_type", "last_value", "last_event_id")
      .orderBy("user_id").collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("t17 append mode emits exactly the watermark-closed windows of t11") {
    import org.apache.spark.sql.functions.{expr, max}
    // t11 (complete mode) is the full window set; t17 (append) must emit
    // precisely the subset whose end the final watermark passed, and hold
    // back every window within the 10-minute delay of the stream head.
    val complete = graft.operators.StreamingOps.t11.build(spark, sf)
      .select("bucket_ts", "event_type", "n", "total").collect()
      .map(_.toSeq).toSet
    val appended = graft.operators.StreamingOps.t17.build(spark, sf)
      .select("bucket_ts", "event_type", "n", "total").collect()
      .map(_.toSeq).toSet
    assert(appended.nonEmpty && appended.subsetOf(complete))
    val wm = graft.core.Tables.events(spark, sf)
      .agg(max(expr("timestamp_millis(unix_millis(ts)) - INTERVAL 10 MINUTES")))
      .head().getTimestamp(0)
    val (closed, open) = complete.partition { r =>
      val end = java.sql.Timestamp.from(
        r.head.asInstanceOf[java.sql.Timestamp].toInstant.plusSeconds(300))
      !end.after(wm)
    }
    assert(appended === closed, "append output != watermark-closed windows")
    assert(open.nonEmpty, "fixture should leave some windows open")
  }

  test("t24 funnel state carries across micro-batches and matches the one-batch result") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{FunnelEv, StreamingOps}
    val H = 3600L * 1000000L // one hour in micros
    val in = MemoryStream[FunnelEv]
    val q = StreamingOps.funnelStateful(in.toDS(), Seq("a", "b", "c"), 24 * H)
      .writeStream.format("memory").queryName("st_t24_multi")
      .outputMode("update").start()
    // batch 1: u1 and u2 both view; u1 clicks
    in.addData(FunnelEv(1, "a", 0), FunnelEv(1, "b", 1 * H), FunnelEv(2, "a", 2 * H))
    q.processAllAvailable()
    def latest(): Map[Long, Int] = spark.table("st_t24_multi")
      .groupBy("user_id").agg(max("step_reached").as("s")).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("s")).toMap
    assert(latest() == Map(1L -> 2, 2L -> 1))
    // batch 2: u1 completes inside the window; u2's click lands too late
    in.addData(FunnelEv(1, "c", 3 * H), FunnelEv(2, "b", 27 * H))
    q.processAllAvailable()
    assert(latest() == Map(1L -> 3, 2L -> 1),
      "state must advance u1 across batches and hold u2 at the deadline")
    // batch 3: a late 'a' for u2 cannot re-anchor (first view stays first)
    in.addData(FunnelEv(2, "a", 28 * H), FunnelEv(2, "b", 29 * H))
    q.processAllAvailable()
    assert(latest() == Map(1L -> 3, 2L -> 1),
      "re-anchoring on a later first-step event would break w23 equivalence")
    q.stop()
  }

  test("t24 streaming funnel equals batch w23 bitwise") {
    val streaming = graft.operators.StreamingOps.t24.build(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Relational.w23.build(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streaming === batch,
      "stateful per-user funnel must reproduce the batch chained-min funnel")
  }

  test("t23 streaming drift monitor equals batch d2 bitwise") {
    val streaming = graft.operators.StreamingOps.t23.build(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.StatOps.d2.build(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streaming === batch,
      "micro-batched current histogram must reproduce the batch PSI exactly")
  }

  test("t26 streaming mSPRT monitor equals batch d24 bitwise") {
    val streaming = graft.operators.StreamingOps.t26.build(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.StatOps.d24.build(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streaming.nonEmpty)
    assert(streaming === batch,
      "micro-batched arm sums must recompose to the batch ln-lambda exactly")
  }

  test("t27 streaming constraint suite equals the batch suite bitwise") {
    import graft.operators.Quality
    val streaming = graft.operators.StreamingOps.t27.build(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = Quality.checkConstraints(
      graft.core.Tables.events(spark, sf), Seq(
        Quality.NotNull("user_id"),
        Quality.InRange("value", 0.0, 1e6),
        Quality.InSet("event_type",
          Seq("view", "click", "purchase", "signup", "error")),
        Quality.MinCompleteness("props", 0.99)))
      .collect().map(_.toSeq).toSet
    assert(streaming.size == 4)
    assert(streaming === batch,
      "streaming constraint metrics must equal the batch single-scan suite")
  }

  test("t28 streaming SRM equals batch d26 bitwise") {
    val streaming = graft.operators.StreamingOps.t28.build(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.StatOps.d26.build(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streaming.nonEmpty)
    assert(streaming === batch,
      "streamed dedup + count must equal the batch distinct-count SRM")
  }

  test("t29 streaming EWMA chart equals batch m23 bitwise") {
    val streaming = graft.operators.StreamingOps.t29.build(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.StatOps.m23.build(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streaming.nonEmpty)
    assert(streaming === batch,
      "streamed bucket means + shared compose must equal the batch chart")
  }

  test("t30 streaming Page-Hinkley equals batch d35 bitwise") {
    val streaming = graft.operators.StreamingOps.t30.build(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.StatOps.d35.build(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streaming.nonEmpty)
    assert(streaming === batch,
      "streamed bucket means + shared PH fold must equal the batch track")
  }

  test("t31 capstone: both branches land, union matches the batch replay, " +
    "and the pair ran as two distinct checkpointed queries") {
    val before = spark.streams.active.length
    val got = graft.operators.StreamingOps.t31.build(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(spark.streams.active.length == before,
      "capstone must supervise its own pair to termination (T7)")
    val ev = graft.core.Tables.events(spark, sf)
    val alerts = ev.filter($"event_type" === "error" && $"value" > 150)
      .select(lit("alert").as("branch"), $"event_id".cast("string").as("k"),
        $"user_id".cast("long").as("n"),
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val state = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (sum($"value".cast("decimal(18,2)")) * 100).cast("long").as("cents"))
      .select(lit("state").as("branch"), $"event_type".as("k"), $"n", $"cents")
    val want = alerts.unionByName(state).collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got.exists(_.head == "alert") && got.exists(_.head == "state"),
      "capstone union must carry BOTH branches")
    assert(got === want, "two concurrent streaming branches must equal the batch replay")
  }

  test("t32 incremental dedup replay-twice gate: re-running the whole stream " +
    "over the grown seen table ingests ZERO docs, and seen grows by distinct-new only") {
    val seenPath = graft.core.Scratch.run("t32spec_seen")
    val corpusPath = graft.core.Scratch.run("t32spec_new")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.filter($"doc_id" % 3 === 0)
      .select(md5($"text").as("h")).distinct()
      .write.mode("overwrite").parquet(seenPath)
    val seen0 = spark.read.parquet(seenPath).count()

    // first delivery: the whole crawl in two micro-batches (split by id
    // parity) — cross-batch dups must also be caught via the seen append
    graft.operators.StreamingOps.incrementalDedupBatch(
      docs.filter($"doc_id" % 2 === 0), seenPath, corpusPath)
    graft.operators.StreamingOps.incrementalDedupBatch(
      docs.filter($"doc_id" % 2 =!= 0), seenPath, corpusPath)
    val ingested1 = spark.read.parquet(corpusPath).count()
    val seen1 = spark.read.parquet(seenPath).select("h").distinct().count()
    assert(ingested1 > 0, "first delivery must ingest the genuinely-new docs")
    assert(seen1 == seen0 + ingested1,
      s"seen must grow by exactly the distinct-new hashes: $seen0 + $ingested1 != $seen1")

    // replay: the at-least-once source re-delivers EVERYTHING
    graft.operators.StreamingOps.incrementalDedupBatch(docs, seenPath, corpusPath)
    val ingested2 = spark.read.parquet(corpusPath).count()
    val seen2 = spark.read.parquet(seenPath).select("h").distinct().count()
    assert(ingested2 == ingested1, s"replay ingested ${ingested2 - ingested1} dup docs")
    assert(seen2 == seen1, "replay must not grow the seen set")
  }

  test("t34 stream domain cap: quotas survive micro-batches, cold counts " +
    "bootstrap, and the two-batch election equals a greedy hash replay") {
    val countsPath = graft.core.Scratch.run("t34spec_counts") // never created
    val outPath = graft.core.Scratch.run("t34spec_kept")
    val docs = (0 until 120).map { i =>
      (i.toLong, "t", if (i < 100) "mega" else "tiny")
    }.toDF("doc_id", "text", "source")
    val cap = 30
    graft.operators.StreamingOps.domainCapBatch(
      docs.filter($"doc_id" % 2 === 0), "source", cap, countsPath, outPath)
    graft.operators.StreamingOps.domainCapBatch(
      docs.filter($"doc_id" % 2 =!= 0), "source", cap, countsPath, outPath)
    val kept = spark.read.parquet(outPath).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // greedy replay with the same salted keys: batch 1 takes its
    // bottom-quota, batch 2 only what the quota has left
    val rk = docs.selectExpr("doc_id", "source",
      "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':cap')), 1, 15), 16, 10) AS BIGINT) AS rk")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def elect(ids: Seq[(Long, String, Long)], quota: Map[String, Int]) =
      ids.groupBy(_._2).flatMap { case (src, g) =>
        g.sortBy(_._3).take(math.max(quota.getOrElse(src, 0), 0))
          .map(t => (t._1, src))
      }.toSet
    val q0 = Map("mega" -> cap, "tiny" -> cap)
    val k1 = elect(rk.filter(_._1 % 2 == 0).toSeq, q0)
    val used1 = k1.groupBy(_._2).view.mapValues(_.size).toMap
    val k2 = elect(rk.filter(_._1 % 2 != 0).toSeq,
      q0.map { case (s, c) => s -> (c - used1.getOrElse(s, 0)) })
    assert(kept === k1 ++ k2)
    assert(kept.count(_._2 == "mega") === cap, "mega domain must cap")
    assert(kept.count(_._2 == "tiny") === 20, "under-quota domain keeps all")
    val counts = spark.read.parquet(countsPath).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("mega" -> cap.toLong, "tiny" -> 20L))
  }

  test("t32 cold start: the first batch against a nonexistent seen store " +
    "bootstraps an empty table and ingests every distinct doc") {
    val seenPath = graft.core.Scratch.run("t32cold_seen") // never created
    val corpusPath = graft.core.Scratch.run("t32cold_new")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val distinctHashes = docs.select(md5($"text")).distinct().count()
    graft.operators.StreamingOps.incrementalDedupBatch(docs, seenPath, corpusPath)
    assert(spark.read.parquet(corpusPath).count() == distinctHashes,
      "cold start must ingest exactly the distinct-hash corpus")
    assert(spark.read.parquet(seenPath).count() == distinctHashes,
      "cold start must leave seen == the ingested hashes")
    // and the now-warm store behaves identically to the bootstrapped one
    graft.operators.StreamingOps.incrementalDedupBatch(docs, seenPath, corpusPath)
    assert(spark.read.parquet(corpusPath).count() == distinctHashes,
      "replay against the bootstrapped store must ingest zero docs")
  }

  test("t36 keeper election: a better member in a LATER batch dethrones " +
    "the keeper; a worse one does not; counts accumulate") {
    import SparkSpec.spark.implicits._
    val statePath = graft.core.Scratch.run("t36_state") // never created
    val membersPath = graft.core.Scratch.run("t36_members")
    def verdicts() = graft.operators.StreamingOps
      .keeperElectionVerdicts(spark, statePath, membersPath)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("keeper"),
          r.getAs[Boolean]("keep"))).toMap
    // batch 1 (cold start): two members of one cluster, 11 is best
    val b1 = Seq((10L, "alpha beta gamma", 5.0), (11L, "gamma beta alpha", 9.0))
      .toDF("doc_id", "text", "score")
    graft.operators.StreamingOps.keeperElectionBatch(b1, statePath, membersPath)
    assert(verdicts() === Map(10L -> ((2L, 11L, false)), 11L -> ((2L, 11L, true))))
    // batch 2: a WORSE member arrives — keeper unchanged, count grows
    val b2 = Seq((12L, "beta gamma alpha alpha", 7.0)).toDF("doc_id", "text", "score")
    graft.operators.StreamingOps.keeperElectionBatch(b2, statePath, membersPath)
    assert(verdicts() === Map(10L -> ((3L, 11L, false)),
      11L -> ((3L, 11L, true)), 12L -> ((3L, 11L, false))))
    // batch 3: a BETTER member dethrones 11 retroactively
    val b3 = Seq((13L, "alpha gamma beta", 12.0)).toDF("doc_id", "text", "score")
    graft.operators.StreamingOps.keeperElectionBatch(b3, statePath, membersPath)
    val v3 = verdicts()
    assert(v3(11L) === ((4L, 13L, false)), "old keeper must be dethroned")
    assert(v3(13L) === ((4L, 13L, true)))
    // equal-score tie in a later batch: min doc_id wins, so 13 holds
    val b4 = Seq((14L, "beta alpha gamma", 12.0)).toDF("doc_id", "text", "score")
    graft.operators.StreamingOps.keeperElectionBatch(b4, statePath, membersPath)
    val v4 = verdicts()
    assert(v4(14L) === ((5L, 13L, false)))
    // at-least-once REDELIVERY: foreachBatch re-runs a batch after a
    // failure — verdicts must be bit-identical (no count inflation, no
    // duplicate member rows): the state merge is an idempotent struct-max
    // and n_members derives from the doc_id-collapsed members table
    graft.operators.StreamingOps.keeperElectionBatch(b2, statePath, membersPath)
    graft.operators.StreamingOps.keeperElectionBatch(b4, statePath, membersPath)
    assert(verdicts() === v4, "redelivered batches must not change verdicts")
  }

  test("t37 ingest hygiene: blocklisted docs never land, PII is scrubbed " +
    "before the dedup key, and replays ingest zero") {
    import SparkSpec.spark.implicits._
    val seenPath = graft.core.Scratch.run("t37_seen") // cold
    val outPath = graft.core.Scratch.run("t37_out")
    def out() = spark.read.parquet(outPath).collect()
      .map(r => r.getLong(0) -> (r.getAs[String]("h"),
        r.getAs[Int]("n_emails"), r.getAs[Int]("n_phones"))).toMap
    // batch 1: one clean doc, one blocklisted, two docs identical AFTER
    // the PII scrub (different emails, same surrounding text)
    val b1 = Seq(
      (1L, "clean words here"),
      (2L, "this doc will spill badly"), // blocklisted term
      (3L, "mail me at a@x.io today"),
      (4L, "mail me at b@y.org today") // same text once emails redact
    ).toDF("doc_id", "text")
    graft.operators.StreamingOps.ingestHygieneBatch(b1, seenPath, outPath)
    val o1 = out()
    assert(o1.keySet === Set(1L, 3L), "blocklisted 2 dropped; 4 deduped into 3")
    assert(o1(3L)._2 === 1 && o1(3L)._3 === 0, "doc 3's email was counted")
    // batch 2: replay doc 1 (already seen -> zero), a reorder of doc 1's
    // words (canonical fingerprint catches it), and one genuinely new doc
    val b2 = Seq(
      (5L, "clean words here"),
      (6L, "here words clean"), // word-set rewrite of doc 1
      (7L, "a genuinely new document")
    ).toDF("doc_id", "text")
    graft.operators.StreamingOps.ingestHygieneBatch(b2, seenPath, outPath)
    assert(out().keySet === Set(1L, 3L, 7L),
      "replay + rewrite ingest zero; only the new doc lands")
  }

  test("t44 checkpoint recovery: a fresh query on the same checkpoint " +
    "processes only the unseen file — no batch-A reprocessing, no " +
    "batch-B loss, final table equals the batch-mode ladder") {
    val t44 = graft.operators.StreamingOps.t44
    val streamed = t44.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    // reprocessing file A on restart would double its accepted rows
    // through the append sink — doc_ids must be unique
    assert(streamed.map(_._1).distinct.length === streamed.length,
      "restart reprocessed already-committed rows")
    // the restarted two-file run equals the SAME ladder run in plain
    // batch mode (A then B through ingestHygieneBatch, fresh stores) —
    // checkpoint recovery changed nothing about the semantics
    val seenPath = graft.core.Scratch.run("t44spec_seen")
    val outPath = graft.core.Scratch.run("t44spec_out")
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def injected(half: org.apache.spark.sql.DataFrame) =
      half.select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"),
            lit("@example.com or call 555-0142")))
          .otherwise(col("text")).as("text"))
    graft.operators.StreamingOps.ingestHygieneBatch(
      injected(docs.filter(col("doc_id") % 2 === 0)), seenPath, outPath)
    graft.operators.StreamingOps.ingestHygieneBatch(
      injected(docs.filter(col("doc_id") % 2 === 1)), seenPath, outPath)
    val batchMode = spark.read.parquet(outPath).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(streamed === batchMode,
      "stop/restart across the checkpoint diverged from the batch ladder")
  }

  /** The checkpoint roots (`ckpt_*`) under this JVM's scratch run root. */
  private def checkpointDirs(): Set[String] =
    Option(new java.io.File(graft.core.Scratch.run("probe")).getParentFile.list())
      .fold(Set.empty[String])(_.filter(_.startsWith("ckpt_")).toSet)

  test("t11_throughput and the t31 two-query supervisor leave no checkpoint directory") {
    val before = checkpointDirs()
    Seq(graft.operators.StreamingOps.t11b, graft.operators.StreamingOps.t31).foreach { q =>
      // the result outlives its checkpoints: the memory sink and the
      // parquet sinks hold the rows
      assert(q.build(spark, sf).count() > 0, q.name)
      assert(checkpointDirs() === before, s"${q.name} left a checkpoint behind")
    }
  }

  test("a build that throws with its query still running stops it and removes its checkpoint") {
    val before = checkpointDirs()
    val active = spark.streams.active.map(_.id).toSet
    val build = graft.operators.StreamingOps.checkpointed { (s, _, checkpoint) =>
      // a rate source never runs out: only a stop ends this query
      val q = s.readStream.format("rate").option("rowsPerSecond", "10").load()
        .writeStream.format("noop").option("checkpointLocation", checkpoint())
        .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
      while (q.lastProgress == null && q.isActive) Thread.sleep(20)
      assert(checkpointDirs() !== before, "the running query has a checkpoint")
      throw new IllegalStateException("build failed mid-stream")
    }
    val e = intercept[IllegalStateException](build(spark, sf))
    assert(e.getMessage === "build failed mid-stream")
    assert(spark.streams.active.filterNot(q => active(q.id)).isEmpty,
      "the failed build's query is still running")
    assert(checkpointDirs() === before, "the failed build left its checkpoint behind")
  }
}
