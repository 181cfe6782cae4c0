package graft.operators

import graft.api.GraftQuery
import graft.functions.Funcs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface (SURVEY.md §2.10, reference
  * assets/code/pyspark-job.py): file source standing in for Kafka (T1/S9 —
  * same readStream API, no broker in this environment), JSON envelope
  * projection (T2), the stateless alert branch (T3), watermark declaration
  * (T4 — inert in complete mode, faithfully reproduced), the stateful
  * latest-per-key branch (T5/U3), and foreachBatch epoch overwrite (T6/S11).
  *
  * Each query runs a real StreamingQuery with Trigger.AvailableNow and a
  * fresh checkpoint (removed when the build ends: [[StreamingOps.checkpointed]]),
  * then returns the sink table — so the driver's oracle compares true
  * streaming output against batch SQL.
  */
/** Per-user funnel state for [[StreamingOps.t24]]: the step reached so
  * far, the first-step anchor (micros), and the time of the last step
  * taken — 3 numbers per user, the whole streaming-funnel state.
  */
final case class FunnelProgress(step: Int, t1: Long, tPrev: Long)

/** One funnel input event (top-level so Janino codegen reaches the
  * accessors — see StreamingSpec's Update note).
  */
final case class FunnelEv(user_id: Long, event_type: String, us: Long)

object StreamingOps {

  /** Kafka-envelope-shaped stream over the events table: file source with
    * declared schema (streaming requires one; it is the batch loader's
    * cached [[graft.core.Tables.schemaOf]], so a warm build infers
    * nothing), ts normalized to engine-grain
    * TimestampType by the same schema-adaptive rule as the batch loader
    * ([[graft.core.Tables.normalizedTs]] — nanos-as-long, NTZ, and plain
    * timestamp layouts all supported).
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    graft.streaming.KafkaIO.applyStreamingConfs(s) // T8 session confs
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.core.Tables.schemaOf(s, s"$d/events.parquet")
    s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
      .withColumn("ts", graft.core.Tables.normalizedTs(schema("ts").dataType))
  }

  /** A build whose streaming queries checkpoint under one
    * [[graft.core.Scratch.scoped]] directory of its own, handed out as fresh
    * paths by the `checkpoint` argument, so the checkpoints are deleted
    * when the build returns or throws. By then its queries have terminated
    * (each build awaits them); a query the build left running because it
    * threw is stopped before its checkpoint is deleted.
    */
  private[graft] def checkpointed(
      build: (SparkSession, String, () => String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => graft.core.Scratch.scoped("ckpt") { root =>
      try build(s, d, () => s"$root/${java.util.UUID.randomUUID()}")
      finally {
        // a query's checkpoint root is not public API; the classic
        // engine's query handle exposes it
        s.streams.active.foreach {
          case q: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
              if q.streamingQuery.resolvedCheckpointRoot.contains(root) =>
            q.stop()
          case _ =>
        }
      }
    }

  /** T1+T2+T3+F14+T9: stateless alert branch — filter, JSON payload, append
    * sink, checkpointed (pyspark-job.py:142-168).
    */
  val t3: GraftQuery = GraftQuery(
    "t3_stream_alert_filter",
    checkpointed { (s, d, checkpoint) =>
      val q = eventsStream(s, d)
        .filter(col("event_type") === "error" && col("value") > 150)
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("user_id"), col("value"))).as("payload"))
        .writeStream.format("memory").queryName("graft_t3")
        .outputMode("append")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t3")
    },
    Some("""SELECT event_id, to_json(struct_pack(event_id := event_id, user_id := user_id, value := value)) AS payload
           |FROM events WHERE event_type = 'error' AND value > 150""".stripMargin),
    bench = false)

  /** T4+T5+U3: stateful latest-per-key with tombstone, complete mode
    * (pyspark-job.py:171-206). The 10-minute watermark is attached exactly as
    * the reference does; in complete mode it never expires state — SURVEY
    * §7.4 faithful-bug decision, kept and documented.
    */
  val t5: GraftQuery = GraftQuery(
    "t5_stream_latest_state",
    checkpointed { (s, d, checkpoint) =>
      val q = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .agg(max_by(col("event_type"), col("event_id")).as("last_type"),
          max_by(col("value"), col("event_id")).as("last_value"),
          max(col("event_id")).as("last_event_id"))
        .filter(col("last_type") =!= "error")
        .writeStream.format("memory").queryName("graft_t5")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t5")
    },
    Some("""WITH latest AS (SELECT user_id, arg_max(event_type, event_id) AS last_type,
           |arg_max(value, event_id) AS last_value, max(event_id) AS last_event_id
           |FROM events GROUP BY user_id)
           |SELECT user_id, last_type, last_value, last_event_id FROM latest
           |WHERE last_type <> 'error'""".stripMargin),
    bench = false)

  /** T6+S11: foreachBatch epoch overwrite of a state table
    * (pyspark-job.py:57-69, 210-215): each micro-batch fully rewrites the
    * sink; the final table is the last epoch's state.
    */
  val t6: GraftQuery = GraftQuery(
    "t6_foreachbatch_overwrite",
    checkpointed { (s, d, checkpoint) =>
      val path = graft.core.Scratch.run("t6_state")
      val q = eventsStream(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n"), decSum(col("value")).as("total"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(path)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(path)
    },
    Some("""SELECT event_type, count(*) AS n,
           |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM events GROUP BY event_type""".stripMargin),
    bench = false)

  /** S13: topic-to-table mirror (terraform/kafka.tf:112-156 as a streaming
    * query): append every envelope into a Parquet table continuously.
    */
  val t13: GraftQuery = GraftQuery(
    "t13_stream_table_mirror",
    checkpointed { (s, d, checkpoint) =>
      val path = graft.core.Scratch.run("t13_mirror")
      val q = eventsStream(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint())
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(path)
    },
    Some("SELECT event_id, ts, user_id, event_type, value FROM events"),
    bench = false)

  /** T11 (beyond reference): event-time tumbling-window aggregation with a
    * watermark — the canonical streaming shape the reference's complete-mode
    * latest-state query is NOT. Complete mode here emits every window on
    * bounded input (append would hold the final window open forever waiting
    * for the watermark to pass it — the classic bounded-replay gotcha), and
    * the oracle is the batch bucketing of the same events: streaming and
    * batch must agree exactly on bounded input.
    */
  val t11: GraftQuery = GraftQuery(
    "t11_stream_windowed_agg",
    checkpointed { (s, d, checkpoint) =>
      val q = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("total"))
        .select(col("window.start").as("bucket_ts"), col("event_type"),
          col("n"), col("total"))
        .writeStream.format("memory").queryName("graft_t11")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t11")
    },
    Some("""SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_ts, event_type,
           |count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM events GROUP BY 1, 2""".stripMargin),
    bench = false)

  /** T11 at bench scale: the identical AvailableNow windowed aggregation,
    * registered as the ONE timed streaming entry (every other t-query is
    * bench=false, which left streaming with zero performance signal).
    * Throughput in rows/s = the events row count at the bench SF divided by
    * this entry's recorded seconds. Same oracle as t11 — AvailableNow over
    * bounded input must equal the batch aggregate exactly.
    */
  val t11b: GraftQuery = GraftQuery(
    "t11_throughput",
    checkpointed { (s, d, checkpoint) =>
      val q = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("total"))
        .select(col("window.start").as("bucket_ts"), col("event_type"),
          col("n"), col("total"))
        .writeStream.format("memory").queryName("graft_t11b")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t11b")
    },
    Some("""SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_ts, event_type,
           |count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM events GROUP BY 1, 2""".stripMargin))

  /** T12 (beyond reference): streaming deduplication — `dropDuplicates` on
    * the business key holds one state entry per (user, event_type) and
    * emits each key once. Only the KEYS are emitted: which physical row
    * wins the per-key race depends on input-split scheduling, so the
    * first-seen payload is nondeterministic by design — the deterministic
    * contract (and the oracle) is the distinct key set.
    */
  val t12: GraftQuery = GraftQuery(
    "t12_stream_dedup",
    checkpointed { (s, d, checkpoint) =>
      val q = eventsStream(s, d)
        .select("user_id", "event_type")
        .dropDuplicates("user_id", "event_type")
        .writeStream.format("memory").queryName("graft_t12")
        .outputMode("append")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t12")
    },
    Some("SELECT DISTINCT user_id, event_type FROM events"),
    bench = false)

  /** T20 (beyond reference): `dropDuplicatesWithinWatermark` — the
    * bounded-state dedup API (Spark 3.5+): unlike t12's dropDuplicates,
    * whose key state grows forever on an unbounded stream, state here is
    * EVICTED once the watermark passes a key's event time — at-least-once
    * sources re-deliver within the delay bound, so that horizon is exactly
    * what dedup state must cover. Same deterministic contract as t12: only
    * the key set is emitted (which physical duplicate survives is
    * arbitrary), and on bounded replay it equals batch DISTINCT.
    */
  val t20: GraftQuery = GraftQuery(
    "t20_stream_dedup_within_watermark",
    checkpointed { (s, d, checkpoint) =>
      val q = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .select(col("user_id"), col("event_type"), col("ts"))
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select("user_id", "event_type")
        .writeStream.format("memory").queryName("graft_t20")
        .outputMode("append")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t20")
    },
    Some("SELECT DISTINCT user_id, event_type FROM events"),
    bench = false)

  /** T14 (beyond reference): watermarked stream-stream interval join — the
    * attribution shape (click -> purchase by the same user within 10
    * minutes) that batch engines do with a range join and streams need
    * join STATE for. Both sides carry watermarks and the join has a time
    * constraint, so state is bounded: each side retains only rows younger
    * than watermark + interval — the difference between bounded memory and
    * OOM on an unbounded stream. Inner join emits pairs eagerly, so on
    * bounded replay the result equals the batch interval join exactly —
    * which is the oracle.
    */
  /** T21 (beyond reference): stream-static dimension enrichment — the
    * most common production streaming join: each micro-batch of the event
    * stream is enriched with a BATCH dimension (customer segment) via a
    * broadcast hash join. Stateless by construction: the static side is
    * re-resolved per micro-batch (Spark re-plans the batch side each
    * trigger, which is how slowly-changing dims pick up updates without
    * restarting the query), no watermark, no state store — at 100 TB/day
    * the stream side never shuffles, the dim broadcasts once per trigger.
    * Append-mode parquet sink; the oracle is the equivalent batch join.
    */
  val t21: GraftQuery = GraftQuery(
    "t21_stream_static_enrich",
    checkpointed { (s, d, checkpoint) =>
      val dim = graft.core.Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val path = graft.core.Scratch.run("t21_enrich")
      val q = eventsStream(s, d)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"),
          col("c_mktsegment").as("segment"), col("value"))
        .writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint())
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(path)
    },
    Some("""SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, e.value
           |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin),
    bench = false)

  /** T22 (beyond reference): STREAMING gap sessionization with the native
    * `session_window` operator — the same declarative expression as the
    * batch w10, run as a stateful streaming aggregation (session state
    * merged per user across micro-batches). Complete output mode so the
    * AvailableNow replay materializes every closed-over session; the
    * batch oracle can check it exactly because session merging is
    * batch-split-invariant. At scale this is the canonical "user activity
    * sessions from an event stream" job: state is keyed by user, bounded
    * by active users, and a production deployment adds the watermark to
    * age state out.
    */
  val t22: GraftQuery = GraftQuery(
    "t22_stream_session_window",
    checkpointed { (s, d, checkpoint) =>
      val q = eventsStream(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("n_events"))
        .writeStream.format("memory").queryName("graft_t22")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t22")
    },
    Some(s"""WITH o AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
           |d AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
           |        OR us - lag(us) OVER w >= 21600000000 THEN 1 ELSE 0 END AS is_new
           |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
           |s AS (SELECT user_id, ts, us,
           |        sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
           |      FROM d)
           |SELECT user_id, min(ts) AS session_start,
           |       max(ts) + INTERVAL 6 HOUR AS session_end, count(*) AS n_events
           |FROM s GROUP BY user_id, session_seq""".stripMargin),
    bench = false)

  val t14: GraftQuery = GraftQuery(
    "t14_stream_stream_join",
    checkpointed { (s, d, checkpoint) =>
      val clicks = eventsStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val purchases = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"), col("value"))
        .withWatermark("purchase_ts", "10 minutes")
      val q = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
        .select(col("click_id"), col("purchase_id"), col("user_id"), col("value"))
        .writeStream.format("memory").queryName("graft_t14")
        .outputMode("append")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t14")
    },
    Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id, p.value
           |FROM events c JOIN events p ON c.user_id = p.user_id
           |AND c.event_type = 'click' AND p.event_type = 'purchase'
           |AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE""".stripMargin),
    bench = false)

  /** T15 (beyond reference): streaming MERGE — each micro-batch's partial
    * aggregate is upserted into the snapshot table by ACCUMULATION
    * (new = old + batch), the incremental-materialized-view pattern that
    * replaces t6's full epoch rewrite when state is too big to rewrite
    * per batch. Counts and decimal-summed totals are associative, so the
    * final table is identical under ANY batch split — which is why the
    * batch oracle can check it. Each version write is a snapshot, so the
    * state's history is time-travelable for free.
    */
  val t15: GraftQuery = GraftQuery(
    "t15_stream_merge_upsert",
    checkpointed { (s, d, checkpoint) =>
      import graft.core.Snapshots
      val t = "t15_state"
      Snapshots.reset(t)
      val q = eventsStream(s, d)
        .writeStream
        .option("checkpointLocation", checkpoint())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val agg = batch.groupBy("event_type")
            .agg(count(lit(1)).as("n"), decSum(col("value")).as("total"))
          val next =
            if (Snapshots.versions(t).isEmpty) agg
            else Snapshots.latest(s, t).unionByName(agg)
              .groupBy("event_type")
              .agg(sum(col("n")).as("n"), decSum(col("total")).as("total"))
          Snapshots.write(s, t, next): Unit
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Snapshots.latest(s, t)
    },
    Some("""SELECT event_type, count(*) AS n,
           |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM events GROUP BY event_type""".stripMargin),
    bench = false)

  /** S12+T10+F12: replay with timestamp shift (kafka_service.py:71-104,
    * bq_service.py:52-86): rebase history so it ends at a fixed anchor —
    * the reference rebases onto now(); a fixed anchor keeps the op
    * deterministic and oracle-checkable. Payloads are the Kafka-envelope
    * JSON the replay producer would emit.
    */
  val t10: GraftQuery = GraftQuery(
    "t10_replay_timestamp_shift",
    (s, d) => {
      graft.core.Tables.events(s, d).createOrReplaceTempView("events_t10")
      s.sql("""SELECT event_id,
              |ts + (TIMESTAMP '2025-06-01 00:00:00' - (SELECT max(ts) FROM events_t10)) AS shifted_ts,
              |to_json(struct(event_id, user_id, value)) AS payload
              |FROM events_t10""".stripMargin)
    },
    Some("""SELECT event_id,
           |ts + (TIMESTAMP '2025-06-01 00:00:00' - (SELECT max(ts) FROM events)) AS shifted_ts,
           |to_json(struct_pack(event_id := event_id, user_id := user_id, value := value)) AS payload
           |FROM events""".stripMargin))

  /** T16 (beyond reference): streaming SESSION windows — the dynamic-gap
    * counterpart of t11's fixed 5-minute windows and the streaming form of
    * the batch sessionize (w2): a session extends while events keep
    * arriving within 30 minutes and closes at the first longer silence.
    * Spark's `session_window` keeps one merging state entry per open
    * (user, session); complete mode holds all sessions (bounded replay —
    * same inert-watermark rationale as t11; in production, append mode +
    * the watermark evict closed sessions so state stays proportional to
    * OPEN sessions only). The oracle is w2's lag/gap island derivation
    * aggregated to the same (user, start, end, n) shape — streaming and
    * batch sessionization must agree exactly on bounded input.
    */
  val t16: GraftQuery = GraftQuery(
    "t16_stream_session_window",
    checkpointed { (s, d, checkpoint) =>
      val q = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("total"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("total"))
        .writeStream.format("memory").queryName("graft_t16")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t16")
    },
    Some("""WITH o AS (SELECT user_id, ts, value, event_id,
           |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events),
           |f AS (SELECT user_id, ts, value, event_id, CASE WHEN prev_ts IS NULL
           |  -- >= not >: session_window is [start, last+gap), so an event landing
           |  -- exactly gap after its predecessor opens a NEW session; microsecond
           |  -- diff because session_window compares exact (us-grain) timestamps
           |  OR date_diff('microsecond', prev_ts, ts) >= 1800000000 THEN 1 ELSE 0 END AS new_sess FROM o),
           |sq AS (SELECT user_id, ts, value, sum(new_sess) OVER (PARTITION BY user_id
           |  ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM f)
           |SELECT user_id, min(ts) AS session_start,
           |  max(ts) + INTERVAL '30 minutes' AS session_end,
           |  count(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM sq GROUP BY user_id, session_seq""".stripMargin),
    bench = false)

  /** T17 (beyond reference): append-mode windowed aggregation where the
    * watermark actually EVICTS — the production semantics t11's complete
    * mode deliberately sidesteps. In append mode a window is emitted
    * exactly once, when the watermark passes its end; on bounded replay the
    * final no-data micro-batch advances the watermark to max(ts) - delay
    * and flushes every closed window, while windows within the delay of the
    * stream head stay open (held back, NOT emitted) — which is precisely
    * what bounds state on an unbounded stream. The oracle replays the
    * bounded-input fixpoint: batch bucketing filtered to windows whose end
    * the final watermark passed (Spark truncates the observed max event
    * time to milliseconds before subtracting the delay — mirrored with
    * date_trunc).
    */
  val t17: GraftQuery = GraftQuery(
    "t17_stream_append_eviction",
    checkpointed { (s, d, checkpoint) =>
      val q = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("total"))
        .select(col("window.start").as("bucket_ts"), col("event_type"),
          col("n"), col("total"))
        .writeStream.format("memory").queryName("graft_t17")
        .outputMode("append")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t17")
    },
    Some("""WITH wm AS (SELECT date_trunc('millisecond', max(ts)) - INTERVAL '10 minutes' AS w FROM events)
           |SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_ts, event_type,
           |count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM events GROUP BY 1, 2
           |HAVING bucket_ts + INTERVAL '5 minutes' <= (SELECT w FROM wm)""".stripMargin),
    bench = false)

  /** T18 (beyond reference): LEFT OUTER stream-stream interval join — the
    * outer half of the join matrix t14's inner join starts: clicks with no
    * purchase in their 10-minute window must STILL be emitted (null-padded),
    * but only once the watermark proves no future purchase can match —
    * that's the state-eviction moment, so outer results trickle out as
    * event time advances rather than at end-of-stream. On bounded replay
    * the final no-data batch advances the watermark to
    * min(max click_ts, max purchase_ts) - 10min (ms-truncated) and flushes
    * the matured unmatched clicks; clicks whose match window is still open
    * against that watermark are held back. The oracle replays both halves:
    * the batch interval join plus the null-padded anti-join rows whose
    * window the final watermark closed.
    */
  val t18: GraftQuery = GraftQuery(
    "t18_stream_outer_join",
    checkpointed { (s, d, checkpoint) =>
      val clicks = eventsStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val purchases = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"), col("value"))
        .withWatermark("purchase_ts", "10 minutes")
      val q = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
          "leftOuter")
        .select(col("click_id"), col("purchase_id"), col("user_id"), col("value"))
        .writeStream.format("memory").queryName("graft_t18")
        .outputMode("append")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t18")
    },
    Some("""WITH wm AS (SELECT least(
           |    (SELECT date_trunc('millisecond', max(ts)) FROM events WHERE event_type = 'click'),
           |    (SELECT date_trunc('millisecond', max(ts)) FROM events WHERE event_type = 'purchase'))
           |  - INTERVAL '10 minutes' AS w),
           |matched AS (SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id, p.value
           |  FROM events c JOIN events p ON c.user_id = p.user_id
           |  AND c.event_type = 'click' AND p.event_type = 'purchase'
           |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE)
           |SELECT * FROM matched
           |UNION ALL
           |SELECT c.event_id AS click_id, NULL AS purchase_id, c.user_id, NULL AS value
           |FROM events c
           |WHERE c.event_type = 'click'
           |  AND c.event_id NOT IN (SELECT click_id FROM matched)
           |  AND c.ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)""".stripMargin),
    bench = false)

  /** T19 (beyond reference): `transformWithState` — Spark 4's
    * arbitrary-state API (named state variables in RocksDB, timers, TTL;
    * the successor to flatMapGroupsWithState). A ValueState cell per user
    * accumulates (count, max value, last event id) with order-free math;
    * update-mode AvailableNow over the file stream ends with every key's
    * final aggregate == the batch group-by. The state store provider is
    * switched to RocksDB (required by the API) for this query only and
    * restored after.
    */
  val t19: GraftQuery = GraftQuery(
    "t19_transform_with_state",
    checkpointed { (s, d, checkpoint) =>
      import s.implicits._
      withConf(s, "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        val q = graft.streaming.StatefulOps.runningUserAgg(
          eventsStream(s, d)
            .select(col("user_id"), col("event_id"), col("value"))
            .as[graft.streaming.EventIn])
          .writeStream.format("memory").queryName("graft_t19")
          .outputMode("update")
          .option("checkpointLocation", checkpoint())
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        // update-mode memory sink appends every batch's emissions; the
        // final state per key is the row with the highest running count
        s.table("graft_t19").groupBy("user_id")
          .agg(max(struct(col("n_events"), col("max_value"), col("last_event_id"))).as("f"))
          .select(col("user_id"), col("f.n_events"), col("f.max_value"),
            col("f.last_event_id"))
      }
    },
    Some("""SELECT user_id, count(*) AS n_events, max(value) AS max_value,
           |max(event_id) AS last_event_id FROM events GROUP BY user_id""".stripMargin),
    bench = false)

  /** T23 (beyond reference): streaming drift monitor — the d2 PSI with the
    * CURRENT side computed as a streaming aggregation: static reference
    * histogram (first half of the time range) broadcast to the stream,
    * incoming events binned with the same frozen bounds, per-bin counts
    * maintained as 10 rows of streaming state, PSI composed on the
    * materialized sink. This is the production data-quality posture: the
    * reference is computed once offline, the monitor rides the ingest
    * stream, and alerting reads a 10-row table — no batch rescan of the
    * corpus. State is O(bins) regardless of throughput; AvailableNow here
    * replays the whole file as the backlog. Output is bitwise-identical
    * to [[graft.operators.StatOps.d2]] (same bounds, bins, smoothing,
    * 9 dp quantization), so the same batch oracle gates the streaming
    * path — micro-batch splits cannot change a count.
    */
  val t23: GraftQuery = GraftQuery(
    "t23_stream_drift_monitor",
    checkpointed { (s, d, checkpoint) =>
      import org.apache.spark.sql.expressions.Window
      val e = graft.core.Tables.events(s, d)
        .select(col("value"), unix_micros(col("ts")).as("us"))
      val bounds = e.agg(
        min("value").as("vmin"), max("value").as("vmax"),
        expr("(min(us) + max(us)) div 2").as("mid_us"))
      def binExpr = least(lit(9), floor((col("value") - col("vmin")) /
        ((col("vmax") - col("vmin")) / 10.0))).cast("int")
      val ref = e.crossJoin(broadcast(bounds))
        .filter(col("us") < col("mid_us"))
        .groupBy(binExpr.as("bin")).agg(count(lit(1)).as("ref_n"))
      val q = eventsStream(s, d)
        .select(col("value"), unix_micros(col("ts")).as("us"), lit(1).as("one"))
        .join(broadcast(bounds.withColumn("one", lit(1))), "one")
        .filter(!(col("us") < col("mid_us")))
        .groupBy(binExpr.as("bin")).agg(count(lit(1)).as("cur_n"))
        .writeStream.format("memory").queryName("graft_t23")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val spine = s.range(0, 10).select(col("id").cast("int").as("bin"))
      val f = spine
        .join(ref, Seq("bin"), "left")
        .join(s.table("graft_t23"), Seq("bin"), "left")
        .na.fill(0L, Seq("ref_n", "cur_n"))
        .withColumn("rt", sum("ref_n").over(Window.partitionBy()))
        .withColumn("ct", sum("cur_n").over(Window.partitionBy()))
      val pr = (col("ref_n") + 0.5) / (col("rt") + 5.0)
      val pc = (col("cur_n") + 0.5) / (col("ct") + 5.0)
      f.select(col("bin"), col("ref_n"), col("cur_n"),
        (floor((pc - pr) * log(pc / pr) * 1e9 + 0.5).cast("double") / 1e9)
          .as("psi_term"))
    },
    Some("""WITH b AS (SELECT min(value) AS vmin, max(value) AS vmax,
           |  (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us FROM events),
           |e AS (SELECT CAST(least(9, floor((value - b.vmin) / ((b.vmax - b.vmin) / 10.0))) AS INT) AS bin,
           |             epoch_us(ts) < b.mid_us AS is_ref
           |      FROM events, b),
           |a AS (SELECT bin, count(*) FILTER (WHERE is_ref) AS ref_n,
           |             count(*) FILTER (WHERE NOT is_ref) AS cur_n FROM e GROUP BY bin),
           |sp AS (SELECT CAST(unnest(range(10)) AS INT) AS bin),
           |f AS (SELECT sp.bin, coalesce(a.ref_n, 0) AS ref_n, coalesce(a.cur_n, 0) AS cur_n
           |      FROM sp LEFT JOIN a USING (bin)),
           |t AS (SELECT *, sum(ref_n) OVER () AS rt, sum(cur_n) OVER () AS ct FROM f)
           |SELECT bin, ref_n, cur_n,
           |  floor(((cur_n + 0.5) / (ct + 5.0) - (ref_n + 0.5) / (rt + 5.0))
           |    * ln(((cur_n + 0.5) / (ct + 5.0)) / ((ref_n + 0.5) / (rt + 5.0)))
           |    * 1e9 + 0.5) / 1e9 AS psi_term
           |FROM t""".stripMargin),
    bench = false)

  /** T24 (beyond reference): STREAMING windowed funnel — the
    * [[graft.operators.Relational.w23]] conversion funnel maintained as
    * per-user state on the event stream via flatMapGroupsWithState: state
    * = (step reached, first-view anchor, last-step time), advanced by
    * each micro-batch's events in ascending event time; the greedy
    * first-qualifying-event advance equals the batch chained-min EXACTLY
    * (common step-1-anchored deadline — the w23 argument), so the batch
    * w23 oracle gates the streaming path bit-for-bit. This is the funnel
    * every product-analytics pipeline actually runs in production: state
    * is 3 numbers per user (bounded by users, not events), emission is
    * monotone (max per user recovers the final state from an update-mode
    * sink), and a real deployment adds a state TTL at the conversion
    * deadline. Complements [[t19]] (generic running agg) with ORDERED
    * multi-step semantics.
    */
  /** The t24 stateful core over any funnel-event stream — extracted so
    * StreamingSpec can drive it through a MemoryStream in MULTIPLE
    * micro-batches (the AvailableNow file replay below is one batch, so
    * the cross-batch state carry would otherwise go untested). Batches
    * must arrive in event-time order for the incremental greedy advance
    * to equal the batch chained-min (true for an ordered replay or a
    * log-ordered source; an out-of-order source needs a watermark hold).
    */
  def funnelStateful(events: org.apache.spark.sql.Dataset[FunnelEv],
      steps: Seq[String], windowUs: Long): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[FunnelEv], st: GroupState[FunnelProgress]) => {
          var cur = st.getOption.getOrElse(FunnelProgress(0, 0L, 0L))
          it.toArray.sortBy(_.us).foreach { ev =>
            if (cur.step == 0) {
              if (ev.event_type == steps.head)
                cur = FunnelProgress(1, ev.us, ev.us)
            } else if (cur.step < steps.size &&
                ev.event_type == steps(cur.step) && ev.us > cur.tPrev &&
                ev.us <= cur.t1 + windowUs) {
              cur = FunnelProgress(cur.step + 1, cur.t1, ev.us)
            }
          }
          st.update(cur)
          Iterator.single((uid, cur.step))
        })
      .toDF("user_id", "step_reached")
  }

  val t24: GraftQuery = GraftQuery(
    "t24_stream_funnel",
    checkpointed { (s, d, checkpoint) =>
      import s.implicits._
      val q = funnelStateful(
        eventsStream(s, d)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
          .as[FunnelEv],
        Seq("view", "click", "purchase"), 24L * 3600 * 1000000L)
        .writeStream.format("memory").queryName("graft_t24")
        .outputMode("update")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val last = s.table("graft_t24").groupBy("user_id")
        .agg(max("step_reached").as("sr"))
      val agg = last.agg(
        count(when(col("sr") >= 1, 1)).as("n1"),
        count(when(col("sr") >= 2, 1)).as("n2"),
        count(when(col("sr") >= 3, 1)).as("n3"))
      agg.select(explode(array(
          struct(lit(1).as("step"), lit("view").as("step_name"), col("n1").as("n_users")),
          struct(lit(2).as("step"), lit("click").as("step_name"), col("n2").as("n_users")),
          struct(lit(3).as("step"), lit("purchase").as("step_name"), col("n3").as("n_users"))))
          .as("r"), col("n1"))
        .select(col("r.step"), col("r.step_name"), col("r.n_users"),
          when(col("n1") > 0, col("r.n_users").cast("double") / col("n1"))
            .as("frac_of_first"))
    },
    Some("""WITH s1 AS (SELECT user_id, min(ts) AS t, min(ts) AS t1 FROM events
           |           WHERE event_type = 'view' GROUP BY 1),
           |s2 AS (SELECT e.user_id, min(e.ts) AS t, any_value(s1.t1) AS t1
           |       FROM events e JOIN s1 USING (user_id)
           |       WHERE e.event_type = 'click' AND e.ts > s1.t
           |         AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1),
           |s3 AS (SELECT e.user_id, min(e.ts) AS t, any_value(s2.t1) AS t1
           |       FROM events e JOIN s2 USING (user_id)
           |       WHERE e.event_type = 'purchase' AND e.ts > s2.t
           |         AND e.ts <= s2.t1 + INTERVAL 24 HOUR GROUP BY 1),
           |n AS (SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM s1) AS n_users
           |      UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
           |      UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
           |SELECT step, step_name, n_users,
           |  CASE WHEN (SELECT count(*) FROM s1) > 0
           |       THEN CAST(n_users AS DOUBLE) / (SELECT count(*) FROM s1) END AS frac_of_first
           |FROM n""".stripMargin),
    bench = false)

  /** T25 (beyond reference): streaming top-k — the live "top users right
    * now" leaderboard: a complete-mode streaming aggregation with the
    * sort AND limit INSIDE the streaming query (complete mode is the one
    * output mode where Structured Streaming permits a global sort,
    * because each trigger re-emits the whole result). Deterministic
    * tiebreak on user_id so the k-boundary cannot flap between engines.
    * State is one count per user (bounded by users); the sort runs on
    * the AGGREGATED domain, not events. The batch oracle is the same
    * ORDER BY/LIMIT — micro-batching cannot change a count.
    */
  val t25: GraftQuery = GraftQuery(
    "t25_stream_topk",
    checkpointed { (s, d, checkpoint) =>
      val q = eventsStream(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
        .orderBy(desc("n_events"), asc("user_id")).limit(10)
        .writeStream.format("memory").queryName("graft_t25")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t25")
    },
    Some("""SELECT user_id, count(*) AS n_events FROM events
           |GROUP BY 1 ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin),
    bench = false)

  /** T26 (beyond reference): STREAMING always-valid A/B monitor — the
    * [[StatOps]] d24 mSPRT riding the event stream, which is where an
    * always-valid test belongs: its whole point is continuous peeking,
    * so the production deployment maintains the per-bucket arm sums as
    * streaming state (O(calendar buckets) rows — the t23 posture) and
    * recomposes ln Λ from the materialized sink after each trigger.
    * The stream side runs [[StatOps.msprtArmAgg]] (exact DECIMAL sums —
    * micro-batch splits cannot change a sum), the moments side is the
    * frozen batch aggregate, and the composition is
    * [[StatOps.msprtCompose]] — shared code, so the streaming monitor is
    * bitwise-identical to batch d24 by construction and the SAME oracle
    * SQL gates both.
    */
  val t26: GraftQuery = GraftQuery(
    "t26_stream_msprt",
    checkpointed { (s, d, checkpoint) =>
      def armed(df: org.apache.spark.sql.DataFrame) = df.select(
        expr(s"unix_micros(ts) div ${graft.operators.StatOps.BucketUs}").as("bucket"),
        (col("user_id") % 2 === 0).as("isa"), col("value"))
      val q = graft.operators.StatOps.msprtArmAgg(armed(eventsStream(s, d)))
        .writeStream.format("memory").queryName("graft_t26")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val moments = armed(graft.core.Tables.events(s, d)).agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("s1"),
        sum(col("value").cast("decimal(18,4)") * col("value").cast("decimal(18,4)"))
          .cast("double").as("s2"))
      graft.operators.StatOps.msprtCompose(s.table("graft_t26"), moments)
    },
    graft.operators.StatOps.d24.oracle,
    bench = false)

  /** T27 (beyond reference): STREAMING data-quality gate — the
    * [[Quality]] constraint suite riding the ingest stream, which is
    * where a lakehouse actually runs it (block the batch BEFORE it lands,
    * not after a batch rescan). The suite's aggregate terms run as ONE
    * streaming aggregation (complete mode, single-row state), the
    * long-format verdicts melt from the materialized sink via the SHARED
    * [[Quality.constraintMelt]] — so stream == batch bitwise and one
    * oracle gates both. The streaming suite carries every constraint
    * class except Unique (streaming forbids count_distinct; the sketch
    * substitution is the documented seam).
    */
  val t27: GraftQuery = GraftQuery(
    "t27_stream_constraints",
    checkpointed { (s, d, checkpoint) =>
      val cs: Seq[Quality.Constraint] = Seq(
        Quality.NotNull("user_id"),
        Quality.InRange("value", 0.0, 1e6),
        Quality.InSet("event_type",
          Seq("view", "click", "purchase", "signup", "error")),
        Quality.MinCompleteness("props", 0.99))
      val aggs = Quality.constraintAggs(cs)
      val q = eventsStream(s, d)
        .agg(aggs.head, aggs.tail: _*)
        .writeStream.format("memory").queryName("graft_t27")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Quality.constraintMelt(s.table("graft_t27"), cs)
    },
    Some("""WITH m AS (SELECT
           |  CAST(count(*) FILTER (WHERE user_id IS NULL) AS DOUBLE) AS m0,
           |  CAST(count(*) FILTER (WHERE value < 0.0 OR value > 1e6) AS DOUBLE) AS m1,
           |  CAST(count(*) FILTER (WHERE event_type NOT IN ('view', 'click', 'purchase', 'signup', 'error')) AS DOUBLE) AS m2,
           |  CAST(count(props) AS DOUBLE) / count(*) AS m3
           |  FROM events)
           |SELECT 'not_null(user_id)' AS check_name, m0 AS metric, 0.0 AS threshold, m0 = 0.0 AS passed FROM m
           |UNION ALL SELECT 'in_range(value,0.0,1000000.0)', m1, 0.0, m1 = 0.0 FROM m
           |UNION ALL SELECT 'in_set(event_type)', m2, 0.0, m2 = 0.0 FROM m
           |UNION ALL SELECT 'completeness(props)', m3, 0.99, m3 >= 0.99 FROM m""".stripMargin),
    bench = false)

  /** T28 (beyond reference): STREAMING sample-ratio-mismatch guardrail —
    * [[StatOps]]' d26 riding the ingest stream, completing the
    * experimentation-on-streams trio (t26 always-valid effect monitor,
    * t27 quality gate, this randomizer-health check). Streaming forbids
    * count_distinct, so the distinct (day, arm, user) domain is built
    * with the streaming dropDuplicates operator (the t12 dedup state —
    * O(distinct user-days), the same cardinality a batch distinct
    * materializes) and counted with a plain aggregate; chi2/flag
    * recompose from the sink via the SHARED [[StatOps.srmCompose]], so
    * stream == batch bitwise and d26's oracle gates both.
    */
  val t28: GraftQuery = GraftQuery(
    "t28_stream_srm",
    checkpointed { (s, d, checkpoint) =>
      val q = eventsStream(s, d)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          (col("user_id") % 2 === 0).as("isa"), col("user_id"))
        .dropDuplicates("day", "isa", "user_id")
        .groupBy("day").agg(
          count(when(col("isa"), 1)).as("n_a"),
          count(when(!col("isa"), 1)).as("n_b"))
        .writeStream.format("memory").queryName("graft_t28")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.operators.StatOps.srmCompose(s.table("graft_t28"))
    },
    graft.operators.StatOps.d26.oracle,
    bench = false)

  /** T29 (beyond reference): STREAMING EWMA control chart — [[StatOps]]'
    * m23 SPC band riding the ingest stream, completing the streaming
    * monitoring trio (t23 drift, t26 effect, this one level): the bucket
    * means accumulate as ONE complete-mode streaming aggregation (the
    * SHARED [[graft.operators.StatOps.ewmaBucketAgg]] half, calendar-
    * bounded state), and the EWMA recursion + warm-up limits run on the
    * materialized sink via the SHARED
    * [[graft.operators.StatOps.ewmaCompose]] half — so stream == batch
    * bitwise by construction and m23's recursive-CTE oracle gates both.
    */
  val t29: GraftQuery = GraftQuery(
    "t29_stream_ewma",
    checkpointed { (s, d, checkpoint) =>
      val q = graft.operators.StatOps.ewmaBucketAgg(eventsStream(s, d))
        .writeStream.format("memory").queryName("graft_t29")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.operators.StatOps.ewmaCompose(s.table("graft_t29"))
    },
    graft.operators.StatOps.m23.oracle,
    bench = false)

  /** T30 (beyond reference): Page–Hinkley drift detection ON THE INGEST
    * STREAM — d35's one-pass O(1)-state detector is streaming-legal by
    * construction, so the chart a monitoring job would alert from is the
    * complete-mode bucket aggregate composed with the identical
    * [[graft.operators.StatOps.pageHinkleyCompose]] fold; the oracle is
    * d35's, proving stream == batch bitwise (the t29/m23 pattern).
    */
  val t30: GraftQuery = GraftQuery(
    "t30_stream_page_hinkley",
    checkpointed { (s, d, checkpoint) =>
      val q = graft.operators.StatOps.ewmaBucketAgg(eventsStream(s, d))
        .writeStream.format("memory").queryName("graft_t30")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.operators.StatOps.pageHinkleyCompose(s.table("graft_t30"))
    },
    graft.operators.StatOps.d35.oracle,
    bench = false)

  /** T7+T8 capstone (reference pyspark-job.py:157-168, 210-218, 80-81):
    * ONE source stream fans out to TWO genuinely concurrent
    * StreamingQuery instances — the stateless alert branch (t3 shape,
    * parquet append sink) and the stateful per-type rollup branch
    * (t5/t6 shape, complete mode, foreachBatch epoch overwrite) — and
    * the driver waits with the reference's `awaitAnyTermination` +
    * `resetTerminated` loop until BOTH terminate, exactly how the
    * reference job supervises its query pair. The T8 graceful-shutdown
    * confs are REQUIRED (fail-fast assert), not just applied, so the
    * oracle row only exists if the session carries them.
    *
    * Result frame: union-by-branch, one schema (branch, k, n, cents),
    * all integers/strings per the SCALE.md determinism rule — alert rows
    * carry (event_id, user_id, centi-value), state rows carry
    * (event_type, count, centi-sum via exact DECIMAL accumulation).
    *
    * Scale: the alert branch is a pure append map (no state); the rollup
    * state is bounded by |event_type| (the t5 replay-twice gate's
    * contract); two queries share one source listing, each with its own
    * checkpoint — the reference topology for a 1000-executor ingest.
    */
  val t31: GraftQuery = GraftQuery(
    "t31_streaming_capstone",
    checkpointed { (s, d, checkpoint) =>
      val base = graft.core.Scratch.run("t31")
      val alertPath = s"$base/alerts"
      val statePath = s"$base/state"
      val src = eventsStream(s, d)
      // T8: the graceful-shutdown/schema confs must be live on this session
      require(s.conf.get("spark.streaming.stopGracefullyOnShutdown") == "true" &&
        s.conf.get("spark.sql.streaming.schemaInference") == "true",
        "T8 streaming confs missing — KafkaIO.applyStreamingConfs not applied")
      s.streams.resetTerminated()
      val qAlert = src
        .filter(col("event_type") === "error" && col("value") > 150)
        .select(lit("alert").as("branch"),
          col("event_id").cast("string").as("k"),
          col("user_id").cast("long").as("n"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .writeStream.format("parquet").option("path", alertPath)
        .option("checkpointLocation", checkpoint())
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      val qState = src
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("cents"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select(lit("state").as("branch"), col("event_type").as("k"),
              col("n"), col("cents"))
            .write.mode("overwrite").parquet(statePath)
        }
        .trigger(Trigger.AvailableNow()).start()
      // T7: supervise the PAIR the way the reference does — block on ANY
      // termination, clear it, repeat until no query of ours is active
      while (qAlert.isActive || qState.isActive) {
        s.streams.awaitAnyTermination()
        s.streams.resetTerminated()
      }
      s.read.parquet(alertPath).unionByName(s.read.parquet(statePath))
    },
    Some("""SELECT 'alert' AS branch, CAST(event_id AS VARCHAR) AS k,
           |  CAST(user_id AS BIGINT) AS n,
           |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           |FROM events WHERE event_type = 'error' AND value > 150
           |UNION ALL
           |SELECT 'state', event_type, count(*),
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
           |FROM events GROUP BY event_type""".stripMargin),
    bench = false)

  /** The t32 per-micro-batch core, extracted so StreamingSpec can drive
    * the replay-twice state gate on it directly: dedupe the batch
    * in-batch (md5 keep-min — the x1 rule), anti-join against the
    * durable seen-hash table, append survivors to the corpus and their
    * hashes to the seen table. `fresh` is pinned with localCheckpoint
    * BEFORE the seen append so the lazy anti-join can never read its own
    * write.
    */
  def incrementalDedupBatch(batch: DataFrame, seenPath: String,
      corpusPath: String): Unit = {
    val s = batch.sparkSession
    val cand = batch.select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
    // cold-start bootstrap (library use): a first batch arriving before any
    // seen store exists means NOTHING is seen — materialize the empty table
    // once (correct schema, via the Hadoop FS abstraction so object stores
    // work too) so this batch's anti-join and every later batch read the
    // same durable seam instead of special-casing the first micro-batch.
    val seenHadoopPath = new org.apache.hadoop.fs.Path(seenPath)
    val fs = seenHadoopPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(seenHadoopPath))
      cand.select("h").limit(0).write.mode("overwrite").parquet(seenPath)
    val seen = s.read.parquet(seenPath)
    val fresh = cand.join(seen, Seq("h"), "left_anti").localCheckpoint()
    fresh.select("doc_id", "h").write.mode("append").parquet(corpusPath)
    fresh.select("h").write.mode("append").parquet(seenPath)
  }

  /** T-series mirror of the x21 incremental-dedup pipeline (beyond
    * reference): CONTINUOUS corpus refresh — the LLM-ingest op a real
    * crawl needs. A static seen-hash table holds the already-ingested
    * corpus (simulated as every third doc_id, so the anti-join genuinely
    * fires on this data); the doc stream is "tonight's crawl"; each
    * micro-batch dedupes in-batch then against seen, appends the new
    * docs, and grows the seen set by exactly the distinct-new hashes —
    * so replaying the whole stream a second time ingests ZERO docs
    * (StreamingSpec's replay-twice gate pins this).
    *
    * Scale: seen-set membership is a hash anti-join on a durable table —
    * state lives in storage partitioned by hash, NOT in executor memory;
    * per batch the work is |batch| hashing + one shuffle on h. At 100 TB
    * the seen table is itself huge but the join is key-partitioned and
    * the batch side is always micro-batch-sized.
    */
  val t32: GraftQuery = GraftQuery(
    "t32_stream_incremental_dedup",
    checkpointed { (s, d, checkpoint) =>
      val base = graft.core.Scratch.run("t32")
      val seenPath = s"$base/seen"
      val corpusPath = s"$base/new"
      s.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") % 3 === 0)
        .select(md5(col("text")).as("h")).distinct()
        .write.mode("overwrite").parquet(seenPath)
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val q = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
        .writeStream
        .option("checkpointLocation", checkpoint())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          incrementalDedupBatch(batch, seenPath, corpusPath)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(corpusPath)
    },
    Some("""WITH seen AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 = 0),
           |cand AS (SELECT md5(text) AS h, min(doc_id) AS doc_id FROM documents GROUP BY 1)
           |SELECT cand.h, cand.doc_id FROM cand
           |WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.h = cand.h)""".stripMargin),
    bench = false)

  /** T33 (beyond reference): the C4 blocklist gate ON THE INGEST STREAM —
    * x71's hard filter is a stateless per-doc projection, so it is
    * streaming-legal verbatim: the SAME [[TextOps.blocklistFilter]]
    * kernel runs over the document stream in append mode (no state, no
    * watermark — the shape every ingest-time hygiene gate should have),
    * and x71's oracle gates the sink, proving stream == batch bitwise
    * for the whole stateless-quality-gate class (the d35/m23 shared-
    * kernel pattern, applied to projections).
    */
  val t33: GraftQuery = GraftQuery(
    "t33_stream_blocklist",
    checkpointed { (s, d, checkpoint) =>
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docsStream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
      val q = TextOps.blocklistFilter(docsStream)
        .writeStream.format("memory").queryName("graft_t33")
        .outputMode("append")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t33")
    },
    TextOps.x71.oracle,
    bench = false)

  /** The t34 per-micro-batch core (x74's [[TextOps.domainCap]] semantics,
    * made incremental), extracted so StreamingSpec can drive multi-batch
    * quota sequences directly: read the durable per-domain accepted
    * counts, elect this batch's docs bottom-(cap − used) by the SAME
    * salted-hash order x74 uses ([[TextOps.CapKeySql]] — election is by
    * hash, never arrival order, so the result is deterministic given the
    * batch sequence), append the winners to `outPath` and refresh the
    * counts table. Counts live in STORAGE keyed by domain — the t32
    * seen-table pattern — not in executor state; per batch the work is
    * one bottom-cap sketch aggregation plus two joins, and both state
    * tables are #domains rows.
    */
  def domainCapBatch(batch: DataFrame, domainCol: String, cap: Int,
      countsPath: String, outPath: String): Unit = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val s = batch.sparkSession
    graft.plans.GraftExtensions.register(s)
    val keyed = batch.select(col("doc_id"), col(domainCol),
      expr(TextOps.CapKeySql).as("rk"))
    val countsHadoop = new org.apache.hadoop.fs.Path(countsPath)
    val fs = countsHadoop.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(countsHadoop)) // cold start: nothing accepted yet (t32 rule)
      keyed.select(col(domainCol), lit(0L).as("used")).limit(0)
        .write.mode("overwrite").parquet(countsPath)
    val used = s.read.parquet(countsPath)
    // per-domain election: the bottom-cap sketch always suffices because
    // the remaining quota is <= cap; the cutoff is the rem-th smallest key
    // (or everything when the batch is smaller than the quota)
    val elected = keyed.groupBy(domainCol)
      .agg(expr(s"graft_bottom_k(rk, $cap)").as("sk"))
      .join(used, Seq(domainCol), "left")
      .withColumn("rem",
        greatest(lit(cap.toLong) - coalesce(col("used"), lit(0L)), lit(0L)))
      .select(col(domainCol),
        when(col("rem") >= size(col("sk")).cast("long"),
            element_at(col("sk"), size(col("sk"))))
          .when(col("rem") > 0, element_at(col("sk"), col("rem").cast("int")))
          .otherwise(lit(Long.MinValue)).as("cutoff"))
    val kept = keyed.join(elected, domainCol)
      .filter(col("rk") <= col("cutoff"))
      .select(col("doc_id"), col(domainCol))
      .localCheckpoint() // pinned BEFORE the writes below
    kept.write.mode("append").parquet(outPath)
    // refreshed counts are derived from the table being overwritten —
    // pin them first so the lazy plan can never read its own write
    val newCounts = used.unionByName(
        kept.groupBy(domainCol).agg(count(lit(1)).as("used")))
      .groupBy(domainCol).agg(sum("used").as("used"))
      .localCheckpoint()
    newCounts.write.mode("overwrite").parquet(countsPath)
  }

  /** T34 (beyond reference): x74's domain-frequency cap ON THE INGEST
    * STREAM — the t33 pattern applied to a STATEFUL gate: per-domain
    * accepted quotas survive across micro-batches in a durable counts
    * table, and each batch elects by the x74 salted-hash order. With the
    * whole corpus in one AvailableNow pass the kept set equals x74's
    * batch answer exactly, which is what the oracle replays; the
    * multi-batch quota sequence is pinned by StreamingSpec.
    */
  val t34: GraftQuery = GraftQuery(
    "t34_stream_domain_cap",
    checkpointed { (s, d, checkpoint) =>
      val base = graft.core.Scratch.run("t34")
      val countsPath = s"$base/counts"
      val outPath = s"$base/kept"
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val q = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
        .writeStream
        .option("checkpointLocation", checkpoint())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          domainCapBatch(batch, "source", 50, countsPath, outPath)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(outPath)
    },
    Some("""WITH k AS (SELECT doc_id, source,
           |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cap'), 1, 15) AS BIGINT) AS rk
           |  FROM documents),
           |r AS (SELECT doc_id, source,
           |  row_number() OVER (PARTITION BY source ORDER BY rk) AS rnk FROM k)
           |SELECT doc_id, source FROM r WHERE rnk <= 50""".stripMargin),
    bench = false)

  /** T35 (beyond reference): PII scrub on the ingest stream — the t33/t34
    * pattern applied to x22's redaction: raw text should never land
    * unscubbed, so the regex map runs per micro-batch at ingest rather
    * than as a later batch pass. The projection is stateless, so the
    * streaming result is row-identical to the batch query and the SAME
    * DuckDB oracle gates both. Append mode, checkpointed, AvailableNow.
    *
    * Scale: per-row map — no state store, no watermark, no shuffle; at
    * production rates the query is bounded by source read throughput.
    */
  val t35: GraftQuery = GraftQuery(
    "t35_stream_pii_scrub",
    checkpointed { (s, d, checkpoint) =>
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docsStream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
      val q = TextOps.piiQuery(docsStream)
        .writeStream.format("memory").queryName("graft_t35")
        .outputMode("append")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_t35")
    },
    TextOps.x22.oracle,
    bench = false)

  /** The t36 per-micro-batch core (x77's [[TextOps.qualityKeeper]] made
    * incremental): keeper election is an ASSOCIATIVE max — per cluster,
    * max(struct(score, −doc_id)) is a semigroup fold — so merging each
    * batch's per-cluster summary into a durable state table
    * (h, best_score, best_neg) is exactly equivalent to electing over the
    * full corpus at once. Unlike t32's keep-FIRST semantics, the keeper
    * here can be DETHRONED retroactively: a later, better-scoring member
    * takes the crown, and verdicts are reads of current state, not
    * immutable per-arrival decisions — which is why members land in an
    * append table and `keep` is computed at query time, not ingest time.
    *
    * AT-LEAST-ONCE SAFE: foreachBatch may redeliver a micro-batch after a
    * failure, so nothing here may be additive-per-delivery. The state
    * merge is a pure struct-max — re-merging the same batch summary is a
    * no-op — and the members table tolerates duplicate appends because
    * [[keeperElectionVerdicts]] collapses it by doc_id before counting
    * (n_members is DERIVED from distinct members at read time, never
    * summed per batch — a per-batch count sum would inflate on every
    * redelivery).
    *
    * Scale: per batch one map-side-combinable agg to #batch-clusters rows
    * + one h-keyed merge against the state table (t32 seen-table pattern:
    * membership state in partitioned storage, never executor memory).
    * best_neg stores the NEGATED id so the merge stays a plain struct-max.
    */
  def keeperElectionBatch(batch: DataFrame, statePath: String,
      membersPath: String): Unit = {
    val s = batch.sparkSession
    val scored = batch.select(col("doc_id"),
        TextOps.canonFingerprint().as("h"),
        col("score").cast("double").as("score"))
      .localCheckpoint()
    scored.write.mode("append").parquet(membersPath)
    val bsum = scored.groupBy("h").agg(
      max(struct(col("score").as("s"), (col("doc_id") * -1).as("negid"))).as("m"))
      .select(col("h"), col("m.s").as("best_score"), col("m.negid").as("best_neg"))
    val stateHadoop = new org.apache.hadoop.fs.Path(statePath)
    val fs = stateHadoop.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(stateHadoop)) // cold start: no clusters yet (t32 rule)
      bsum.limit(0).write.mode("overwrite").parquet(statePath)
    val state = s.read.parquet(statePath)
    // pin BEFORE the overwrite so the lazy plan never reads its own write
    val merged = state.unionByName(bsum)
      .groupBy("h").agg(
        max(struct(col("best_score").as("s"), col("best_neg").as("negid"))).as("m"))
      .select(col("h"), col("m.s").as("best_score"), col("m.negid").as("best_neg"))
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(statePath)
  }

  /** Read the per-doc verdicts out of t36's state + members tables —
    * x77's exact output shape (doc_id, h, n_members, keeper, keep).
    * Members are collapsed by doc_id first (deterministic: max struct, so
    * a redelivered append never double-counts) and n_members is counted
    * from the collapsed set — see the at-least-once note on
    * [[keeperElectionBatch]].
    */
  def keeperElectionVerdicts(s: SparkSession, statePath: String,
      membersPath: String): DataFrame = {
    val members = s.read.parquet(membersPath)
      .groupBy("doc_id").agg(max(struct(col("score"), col("h"))).as("m"))
      .select(col("doc_id"), col("m.h").as("h"))
    val counts = members.groupBy("h").agg(count(lit(1)).as("n_members"))
    val st = s.read.parquet(statePath).select(col("h"),
      (col("best_neg") * -1).as("keeper"))
    members.join(counts, "h").join(st, "h")
      .select(col("doc_id"), col("h"), col("n_members"), col("keeper"),
        (col("doc_id") === col("keeper")).as("keep"))
  }

  /** T36 (beyond reference): x77's quality-aware keeper election ON THE
    * INGEST STREAM — the t32/t34 durable-state pattern for an ASSOCIATIVE
    * fold: because the election is a semigroup max, the streamed result
    * over the whole corpus equals the batch answer bit-for-bit, which is
    * what x77's oracle replays; the dethroning sequence (a better member
    * arriving in a LATER batch flips the keeper) is pinned by
    * StreamingSpec.
    */
  val t36: GraftQuery = GraftQuery(
    "t36_stream_keeper_election",
    checkpointed { (s, d, checkpoint) =>
      val base = graft.core.Scratch.run("t36")
      val statePath = s"$base/state"
      val membersPath = s"$base/members"
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val q = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
        .writeStream
        .option("checkpointLocation", checkpoint())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          keeperElectionBatch(batch.withColumn("score", col("n_chars")),
            statePath, membersPath)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      keeperElectionVerdicts(s, statePath, membersPath)
    },
    TextOps.x77.oracle,
    bench = false)

  /** The t37 per-micro-batch core: the FULL ingest-hygiene ladder a crawl
    * pipeline runs on every arriving batch, in dependency order —
    * blocklist hard gate (x71) → PII scrub (x22) → canonical-fingerprint
    * incremental dedup against a durable seen store (t32), where the
    * dedup key is computed over the SCRUBBED text (redaction first, so
    * two docs differing only in their PII dedupe together). Survivors
    * land in `outPath` with their scrub counts; each stage shrinks the
    * next stage's input, the x36 curation-ladder rule applied at ingest.
    *
    * Scale: per batch — one stateless projection pass (blocklist counts +
    * regex scrub fused in codegen), one batch-keyed keep-min agg + join
    * (no window), one h-keyed anti-join against storage-backed seen
    * state. Nothing rescans accepted history except the keyed anti-join.
    */
  def ingestHygieneBatch(batch: DataFrame, seenPath: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    val kept = TextOps.blocklistFilter(batch).filter(col("keep"))
      .select("doc_id").join(batch, "doc_id")
    val cand = TextOps.piiRedact(kept)
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("clean_text")).as("clean_md5"),
        TextOps.canonFingerprint(col("clean_text")).as("h"))
    // in-batch first occurrence: keep-min per fingerprint (agg + join-back,
    // never a fingerprint-partitioned window — the x74/x77 discipline)
    val firsts = cand.groupBy("h").agg(min("doc_id").as("doc_id"))
      .join(cand, Seq("h", "doc_id"))
    val seenHadoopPath = new org.apache.hadoop.fs.Path(seenPath)
    val fs = seenHadoopPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(seenHadoopPath)) // cold start (t32 rule)
      firsts.select("h").limit(0).write.mode("overwrite").parquet(seenPath)
    val seen = s.read.parquet(seenPath)
    // pinned BEFORE the seen append so the anti-join never reads its write
    val fresh = firsts.join(seen, Seq("h"), "left_anti").localCheckpoint()
    fresh.select("doc_id", "h", "n_emails", "n_phones", "clean_md5")
      .write.mode("append").parquet(outPath)
    fresh.select("h").write.mode("append").parquet(seenPath)
  }

  /** T37 (beyond reference): the streaming ingest-hygiene capstone —
    * t33's blocklist, t35's PII scrub and t32's incremental dedup chained
    * in ONE continuous pipeline per micro-batch, the shape a production
    * crawl ingester actually has (each gate's survivors feed the next).
    * With the whole corpus in one AvailableNow pass the accepted set
    * equals the batch ladder exactly, which the oracle replays stage by
    * stage; PII is injected by the x22 rule so the scrub genuinely fires.
    */
  val t37: GraftQuery = GraftQuery(
    "t37_stream_ingest_pipeline",
    checkpointed { (s, d, checkpoint) =>
      val base = graft.core.Scratch.run("t37")
      val seenPath = s"$base/seen"
      val outPath = s"$base/out"
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val q = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
        .writeStream
        .option("checkpointLocation", checkpoint())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // x22's deterministic PII injection (the driver corpus has none)
          val injected = batch.select(col("doc_id"),
            when(col("doc_id") % 10 === 0,
              concat(col("text"), lit(" contact user"),
                col("doc_id").cast("string"),
                lit("@example.com or call 555-0142")))
              .otherwise(col("text")).as("text"))
          ingestHygieneBatch(injected, seenPath, outPath)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(outPath)
    },
    Some("""WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0
           |  THEN text || ' contact user' || doc_id || '@example.com or call 555-0142'
           |  ELSE text END AS raw FROM documents),
           |blk AS (SELECT doc_id, raw FROM inj
           |  WHERE len(list_filter(str_split(raw, ' '),
           |    x -> x IN ('slow', 'spill', 'oom'))) = 0),
           |sc AS (SELECT doc_id,
           |  CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           |  CAST(len(regexp_extract_all(raw, '555-[0-9]{4}')) AS INT) AS n_phones,
           |  regexp_replace(regexp_replace(raw,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           |    '555-[0-9]{4}', '[PHONE]', 'g') AS clean
           |  FROM blk),
           |fp AS (SELECT doc_id, n_emails, n_phones, md5(clean) AS clean_md5,
           |  md5(array_to_string(list_sort(list_distinct(str_split(clean, ' '))), ' ')) AS h
           |  FROM sc)
           |SELECT doc_id, h, n_emails, n_phones, clean_md5 FROM fp
           |QUALIFY doc_id = min(doc_id) OVER (PARTITION BY h)""".stripMargin),
    bench = false)

  /** The t38/t40/t41/t42 ingest shape: a persisted `tiers` index built
    * once on the base corpus (vec_id % 10 != 0), then the rest streamed
    * in and appended per micro-batch to its current version against the
    * FROZEN geometry ([[VectorOps.appendToVecIndex]]). Returns the index
    * root.
    */
  private def streamGrownIndex(s: SparkSession, d: String,
      checkpoint: () => String, name: String, tiers: String): String = {
    val path = graft.core.Scratch.run(name)
    VectorOps.buildVecIndex(
      graft.core.Tables.embeddings(s, d).filter(col("vec_id") % 10 =!= 0), path, tiers)
    val schema = s.read.parquet(s"$d/embeddings.parquet").schema
    s.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(d)
      .writeStream
      .option("checkpointLocation", checkpoint())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        VectorOps.appendToVecIndex(batch.filter(col("vec_id") % 10 === 0), path)
      }
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    path
  }

  /** T38 (beyond reference): CONTINUOUS vector-index ingestion — the
    * serving-side twin of t32's corpus refresh: a persisted IVF index is
    * built once on the base corpus ([[VectorOps.buildVecIndex]]), tonight's
    * new vectors stream in and are assigned + appended per micro-batch
    * against the FROZEN centroids ([[VectorOps.appendToVecIndex]] — the
    * index geometry never moves under running queries; v18's needs_split
    * diagnostic decides offline rebuilds), and queries are then answered
    * from the index alone with partition-pruned probes. Assignment is
    * per-row and stateless, so any batch decomposition yields the
    * identical index; the oracle replays base-centroid assignment of the
    * full set.
    */
  val t38: GraftQuery = GraftQuery(
    "t38_stream_index_append",
    checkpointed { (s, d, checkpoint) =>
      val emb = graft.core.Tables.embeddings(s, d)
      VectorOps.searchVecIndex(s, streamGrownIndex(s, d, checkpoint, "t38_index", "ivf"),
        emb.filter(col("vec_id") < 10), k = 3, tier = "ivf")
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |base AS (SELECT * FROM v WHERE vec_id % 10 != 0),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM base
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN cents c) WHERE rk = 1),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |probes AS (SELECT vec_id AS q_id, e AS qe, k_id AS cluster FROM (
           |  SELECT q.vec_id, q.e, c.k_id, row_number() OVER (PARTITION BY q.vec_id
           |    ORDER BY list_cosine_similarity(q.e, c.ke) DESC, c.k_id) AS rk
           |  FROM q CROSS JOIN cents c) WHERE rk <= 2)
           |SELECT q_id, neighbor_id, cos FROM (
           |  SELECT p.q_id, a.vec_id AS neighbor_id, list_cosine_similarity(p.qe, a.e) AS cos
           |  FROM probes p JOIN assign a USING (cluster) WHERE a.vec_id != p.q_id)
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin),
    bench = false)

  /** T39 (beyond reference): CONTINUOUS near-dup gating against a
    * persisted, GROWING LSH index — the similarity-aware upgrade of t32
    * and the text twin of t38's index ingestion: the corpus signatures are
    * computed once at [[TextOps.buildNearDupIndex]] time, every micro-batch
    * joins its own (band, bh) keys against the stored index
    * ([[TextOps.nearDupIndexIngest]]), and accepted docs' signatures
    * append so later batches are gated against earlier acceptances too.
    * With the whole batch in one AvailableNow pass the verdicts equal
    * x75's, which is what the oracle replays; the cross-batch greedy
    * growth is pinned by TextOpsSpec.
    */
  val t39: GraftQuery = GraftQuery(
    "t39_stream_neardup_index",
    checkpointed { (s, d, checkpoint) =>
      val base = graft.core.Scratch.run("t39")
      val path = s"$base/ndidx"
      val outPath = s"$base/out"
      val docs = graft.core.Tables.documents(s, d)
      TextOps.buildNearDupIndex(docs.filter(col("doc_id") % 3 === 0), path)
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val q = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
        .writeStream
        .option("checkpointLocation", checkpoint())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          TextOps.nearDupIndexIngest(
              batch.filter(col("doc_id") % 3 =!= 0), path)
            .write.mode("append").parquet(outPath)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(outPath)
    },
    TextOps.x75.oracle,
    bench = false)

  /** T40 (beyond reference): CONTINUOUS ingestion into the COMPRESSED
    * index tier — t38's streaming append applied to the PQ index: codes
    * are encoded per micro-batch against the FROZEN persisted codebook
    * ([[VectorOps.appendToVecIndex]]; [[VectorOps.pqDriftAudit]] decides
    * offline retrains), and queries are then answered from the stored
    * codes alone. Encoding is per-row and stateless, so any batch
    * decomposition yields the identical index — which is why the oracle
    * can replay the subset-trained codebook over the full corpus (v40's
    * SQL with the t38 base split).
    */
  val t40: GraftQuery = GraftQuery(
    "t40_stream_pq_append",
    checkpointed { (s, d, checkpoint) =>
      val emb = graft.core.Tables.embeddings(s, d)
      VectorOps.searchVecIndex(s, streamGrownIndex(s, d, checkpoint, "t40_pqidx", "pq"),
        emb.filter(col("vec_id") < 10), k = 3, tier = "pq")
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cb AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j, e
           |       FROM v WHERE vec_id % 10 != 0
           |       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
           |m AS (SELECT unnest(generate_series(0, 7)) AS m),
           |codes AS (SELECT vec_id, m, j AS code FROM (
           |  SELECT v.vec_id, m.m, cb.j, row_number() OVER (PARTITION BY v.vec_id, m.m
           |    ORDER BY list_reduce(list_transform(generate_series(1, 8),
           |      i -> (v.e[m.m * 8 + i] - cb.e[m.m * 8 + i]) * (v.e[m.m * 8 + i] - cb.e[m.m * 8 + i])),
           |      (a, b) -> a + b) ASC, cb.j) AS rk
           |  FROM v CROSS JOIN m CROSS JOIN cb) WHERE rk = 1),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
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
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, neighbor_id) <= 3""".stripMargin),
    bench = false)

  /** T41 (beyond reference): the codebook-drift audit over a
    * STREAM-GROWN index — t40's ingestion followed by
    * [[VectorOps.pqDriftAudit]]: the monitoring read a serving deployment
    * runs after every ingest window to decide whether the frozen
    * codebook still fits what it now serves. Because appends are
    * batch-decomposition-invariant, the audit over the streamed index
    * equals the batch-built audit bit-for-bit — v42's oracle gates it
    * verbatim.
    */
  val t41: GraftQuery = GraftQuery(
    "t41_stream_drift_audit",
    checkpointed { (s, d, checkpoint) =>
      val emb = graft.core.Tables.embeddings(s, d)
      VectorOps.pqDriftAudit(s, streamGrownIndex(s, d, checkpoint, "t41_pqidx", "pq"), emb)
    },
    VectorOps.v42.oracle,
    bench = false)

  /** T42 (beyond reference): CONTINUOUS ingestion into the residual
    * IVF-PQ tier — the t38/t40 pattern on the fused index: per
    * micro-batch, assign against the frozen centroids AND residual-encode
    * against the frozen codebook, then serve from probed-cell code
    * directories. Oracle = v45's subset-trained-geometry replay at the
    * t38 base split.
    */
  val t42: GraftQuery = GraftQuery(
    "t42_stream_ivfpq_append",
    checkpointed { (s, d, checkpoint) =>
      val emb = graft.core.Tables.embeddings(s, d)
      VectorOps.searchVecIndex(s, streamGrownIndex(s, d, checkpoint, "t42_ivfpq", "ivfpq"),
        emb.filter(col("vec_id") < 10), k = 3, tier = "ivfpq")
    },
    Some(VectorOps.ivfPqOracle(Some("vec_id % 10 != 0"), None)),
    bench = false)

  /** T43 (beyond reference): embedding-distribution drift monitored ON
    * THE INGEST STREAM — v27's PSI report made incremental: each
    * micro-batch appends its per-row (key, is_ref, sig) signatures
    * ([[VectorOps.embeddingSignatures]] — a stateless map, no shuffle per
    * batch), and the report is a READ of the accumulated store: dedupe
    * redeliveries by key (the t36 at-least-once discipline — signature
    * rows are deterministic per vector, so a re-appended batch collapses
    * away), then the 64-cell PSI. Equal to the batch v27 bit-for-bit, so
    * its oracle gates the stream verbatim.
    *
    * Scale: the state table holds one small row per INGESTED vector and
    * only the 64-cell aggregate ever reduces; a production deployment
    * compacts the store to per-cell counts once batches are final.
    */
  val t43: GraftQuery = GraftQuery(
    "t43_stream_embedding_drift",
    checkpointed { (s, d, checkpoint) =>
      val statePath = graft.core.Scratch.run("t43_sigs")
      val schema = s.read.parquet(s"$d/embeddings.parquet").schema
      val q = s.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(d)
        .writeStream
        .option("checkpointLocation", checkpoint())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          VectorOps.embeddingSignatures(
              batch.withColumn("is_ref", expr("vec_id % 2 = 0")),
              "vec_id", "is_ref")
            .write.mode("append").parquet(statePath)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val sigs = s.read.parquet(statePath)
        .groupBy("key").agg(max(struct(col("is_ref"), col("sig"))).as("m"))
        .select(col("m.is_ref").as("is_ref"), col("m.sig").as("sig"))
      VectorOps.embeddingDriftFromSigs(sigs)
    },
    VectorOps.v27.oracle,
    bench = false)

  /** T44 (beyond reference): checkpoint RECOVERY for the ingest-hygiene
    * ladder — the reference job's only durability story is
    * `checkpointLocation` (pyspark-job.py:166,213); this gate PROVES the
    * restart semantics end to end: the t37 pipeline processes landed
    * file A, the query STOPS (a new query instance must then resume from
    * the checkpoint alone — the crash stand-in), file B lands, and a
    * FRESH query on the SAME checkpoint processes exactly the unseen
    * file. Reprocessing A would double the append-sink rows; losing B
    * would drop them — the oracle's exact row set catches both. The
    * oracle replays the two-batch ladder A-then-B: in-batch keep-min per
    * fingerprint, then B's survivors anti-joined against A's accepted
    * fingerprints — the incremental semantics the durable seen store +
    * checkpoint restart must reproduce together.
    */
  val t44: GraftQuery = GraftQuery(
    "t44_stream_checkpoint_recovery",
    (s, d) => {
      val base = graft.core.Scratch.run("t44")
      val stage = s"$base/stage"
      val seenPath = s"$base/seen"
      val outPath = s"$base/out"
      val cp = s"$base/ckpt"
      val docs = s.read.parquet(s"$d/documents.parquet")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // land a half-corpus as ONE parquet file in the watched directory
      def land(half: DataFrame, name: String): Unit = {
        val tmp = s"$base/tmp_$name"
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        fs.mkdirs(new org.apache.hadoop.fs.Path(stage))
        val part = fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
        require(fs.rename(part, new org.apache.hadoop.fs.Path(s"$stage/$name.parquet")))
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true): Unit
      }
      def runPass(): Unit = {
        val q = s.readStream.schema(docs.schema).parquet(stage)
          .writeStream
          .option("checkpointLocation", cp)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // x22's deterministic PII injection (t37's rule)
            val injected = batch.select(col("doc_id"),
              when(col("doc_id") % 10 === 0,
                concat(col("text"), lit(" contact user"),
                  col("doc_id").cast("string"),
                  lit("@example.com or call 555-0142")))
                .otherwise(col("text")).as("text"))
            ingestHygieneBatch(injected, seenPath, outPath)
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      land(docs.filter(col("doc_id") % 2 === 0), "a")
      runPass() // processes A, then stops — the crash stand-in
      land(docs.filter(col("doc_id") % 2 === 1), "b")
      runPass() // NEW query instance, SAME checkpoint: resumes at file B
      s.read.parquet(outPath)
    },
    Some("""WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0
           |  THEN text || ' contact user' || doc_id || '@example.com or call 555-0142'
           |  ELSE text END AS raw FROM documents),
           |blk AS (SELECT doc_id, raw FROM inj
           |  WHERE len(list_filter(str_split(raw, ' '),
           |    x -> x IN ('slow', 'spill', 'oom'))) = 0),
           |sc AS (SELECT doc_id,
           |  CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           |  CAST(len(regexp_extract_all(raw, '555-[0-9]{4}')) AS INT) AS n_phones,
           |  regexp_replace(regexp_replace(raw,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           |    '555-[0-9]{4}', '[PHONE]', 'g') AS clean
           |  FROM blk),
           |fp AS (SELECT doc_id, n_emails, n_phones, md5(clean) AS clean_md5,
           |  md5(array_to_string(list_sort(list_distinct(str_split(clean, ' '))), ' ')) AS h
           |  FROM sc),
           |fa AS (SELECT * FROM fp WHERE doc_id % 2 = 0
           |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY h)),
           |fb AS (SELECT * FROM fp WHERE doc_id % 2 = 1
           |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY h)),
           |fb2 AS (SELECT fb.* FROM fb ANTI JOIN fa USING (h))
           |SELECT doc_id, h, n_emails, n_phones, clean_md5 FROM fa
           |UNION ALL
           |SELECT doc_id, h, n_emails, n_phones, clean_md5 FROM fb2""".stripMargin),
    bench = false)

  /** T45 (beyond reference): the drift loop CLOSED end to end — t43's
    * streamed signature accumulation feeds the rebuild advisor's
    * `embedding` verdict, which triggers the advisor-gated VERSIONED
    * retrain, whose atomic flip is what the next poll serves. The fixture
    * makes the embedding row the load-bearing trigger: the index is
    * subset-trained (v47's recipe) with the full corpus appended, a
    * geometry whose occupancy verdict is `keep` on this table (640 vs
    * threshold 1000 — measured, not assumed), and the stream's CURRENT
    * side collapses onto one signature cell (the embedding-model-changed
    * stand-in), so ONLY the streamed PSI says retrain. Without the
    * t43→advisor wiring the served geometry would stay subset-trained and
    * the fresh-build oracle would catch it; the in-query requires make the
    * causality explicit (acted, and exactly v2 published).
    *
    * Scale: the per-batch signature append is a stateless map (no
    * shuffle); the decision reduces the store to 64 cells; the retrain is
    * the ordinary one-scan versioned rebuild — nothing here grows with
    * corpus size except the stores themselves.
    */
  val t45: GraftQuery = GraftQuery(
    "t45_stream_drift_retrain",
    checkpointed { (s, d, checkpoint) =>
      val base = graft.core.Scratch.run("t45")
      val root = s"$base/vidx"
      val sigPath = s"$base/sigs"
      val emb = graft.core.Tables.embeddings(s, d)
      VectorOps.buildVecIndex(emb.filter(col("vec_id") % 10 =!= 0), root)
      VectorOps.appendToVecIndex(emb.filter(col("vec_id") % 10 === 0), root)
      val schema = s.read.parquet(s"$d/embeddings.parquet").schema
      val q = s.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(d)
        .writeStream
        .option("checkpointLocation", checkpoint())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          VectorOps.embeddingSignatures(
              batch.withColumn("is_ref", expr("vec_id % 2 = 0")),
              "vec_id", "is_ref")
            // the model shift: every CURRENT row lands in signature cell 0
            .withColumn("sig",
              when(col("is_ref"), col("sig")).otherwise(lit(0)))
            .write.mode("append").parquet(sigPath)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // the maintenance hook DECIDES and ACTS: the streamed PSI trips the
      // 0.2 rule, the versioned rebuild re-derives full-corpus geometry
      // and publishes v2 under any concurrent reader
      val acted = VectorOps.rebuildVecIndexIfAdvised(s, root,
        sigStore = Some(sigPath))
      require(acted.isDefined,
        "t45: the streamed embedding-drift verdict must trigger the retrain")
      require(VectorOps.currentVecIndexVersion(s, root) == Some(2L),
        "t45: exactly v2 must be published by the advisor-gated retrain")
      VectorOps.searchVecIndex(s, root,
        emb.filter(col("vec_id") < 10), k = 3, probes = 2, tier = "ivf")
    },
    VectorOps.v2.oracle,
    bench = false)

  val all: Seq[GraftQuery] =
    Seq(t3, t5, t6, t11, t11b, t12, t13, t14, t15, t16, t17, t18, t10, t19, t20, t21, t22, t23,
      t24, t25, t26, t27, t28, t29, t30, t31, t32, t33, t34, t35, t36, t37, t38, t39, t40, t41,
      t42, t43, t44, t45)
}
