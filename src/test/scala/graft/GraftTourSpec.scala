package graft

import graft.api.Graft
import org.apache.spark.sql.functions._

/** Runs the README "Bring your own parquet" walkthrough verbatim against
  * the test tables, so the doc snippets cannot rot: same facade calls,
  * same argument shapes, plus the minimal sanity asserts a new user would
  * make on each result.
  */
class GraftTourSpec extends SparkSpec {

  test("tour 1: pretrainCorpus — docs in, 13-stage conservation funnel out") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val funnel = Graft.pretrainCorpus(docs)
    val rows = funnel.orderBy("stage_idx").collect()
    assert(rows.length == 13)
    assert(rows.head.getAs[String]("stage") == "input")
    assert(rows.last.getAs[String]("stage") == "curriculum")
    val nDocs = rows.map(_.getAs[Long]("n_docs"))
    assert(nDocs.zip(nDocs.tail).take(9).forall { case (a, b) => b <= a },
      s"funnel must be monotone through the filter stages: ${nDocs.toSeq}")
  }

  test("tour 2: ANN — exact baseline, IVF scale path, ranking eval") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val someQ = emb.filter(col("vec_id") < 10)
    val exact = Graft.annBruteForceTopK(emb, someQ, k = 5)
    val fast = Graft.annIvfTopK(emb, someQ, k = 5, probes = 2)
    val eval = Graft.annRankingEval(emb, someQ, k = 5)
    assert(exact.groupBy("q_id").count().collect().forall(_.getLong(1) == 5L))
    assert(fast.select("q_id").distinct().count() == someQ.count())
    val ev = eval.collect()
    assert(ev.length == someQ.count())
    assert(ev.forall { r =>
      val ndcg = r.getAs[Double]("ndcg"); ndcg >= 0.0 && ndcg <= 1.0
    })
  }

  test("tour 4: mixing audit — overlap matrix, temperature weights, " +
    "epoch waterfill; hygiene — blocklist + bloom decontam") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val overlap = Graft.sourceOverlapMatrix(docs)
    assert(overlap.columns.toSeq ==
      Seq("src_a", "src_b", "n_clusters", "n_doc_pairs"))
    val mix = Graft.temperatureMixture(docs)
    val epochs = Graft.epochWaterfill(docs,
      mix.select(col("source"), col("wq").as("w")))
    val rows = epochs.collect()
    assert(rows.length == docs.select("source").distinct().count())
    assert(rows.forall(r =>
      r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("cap")))
    val kept = Graft.blocklistFilter(docs).filter(col("keep"))
    assert(kept.count() < docs.count(), "the default blocklist must bite here")
    val flags = Graft.bloomDecontam(docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"))
    assert(flags.filter(col("flagged")).count() > 0)
  }

  test("tour 3: gap-fill a metric series, then forecast it with intervals") {
    val series = graft.core.Tables.events(spark, sf)
      .groupBy(col("user_id"),
        window(col("ts"), "5 minutes")("start").as("bucket_ts"))
      .agg(sum("value").as("demand"))
    val filled = Graft.gapFillLinear(series, "user_id", "bucket_ts", "demand",
      stepSeconds = 300)
    assert(filled.count() >= series.count(),
      "gap-fill only inserts buckets, never drops them")
    val fc = Graft.forecast(filled, model = "holt", horizon = 12)
    val perKey = fc.groupBy("user_id").count().collect()
    assert(perKey.nonEmpty && perKey.forall(_.getLong(1) == 12L))
    assert(fc.collect().forall { r =>
      r.getAs[Double]("lo") <= r.getAs[Double]("forecast_value") &&
        r.getAs[Double]("forecast_value") <= r.getAs[Double]("hi")
    })
  }

  test("tour 5: bring-your-own schema — withContract adapts a foreign " +
    "parquet end-to-end through curate and forecast") {
    val dir = tempDir("graft-byod")

    // a crawl table that looks nothing like the registry contract:
    // int page ids, 'body' text, per-site metadata
    spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("CAST(doc_id AS INT) AS page_id", "text AS body",
        "source AS site")
      .write.mode("overwrite").parquet(s"$dir/crawl.parquet")
    val crawl = spark.read.parquet(s"$dir/crawl.parquet")
    val docs = Graft.withContract(crawl,
      "doc_id" -> "page_id", "text" -> "body", "source" -> "site")
    assert(docs.schema("doc_id").dataType.typeName == "long",
      "contract cast must widen the INT id")
    val curated = Graft.curate(docs)
    assert(curated.count() > 0, "curation emptied the foreign corpus")
    assert(curated.columns.toSeq ==
      Seq("doc_id", "component", "n_dups", "split", "n_tok"))

    // a metrics table with string timestamps and foreign names
    val series = graft.core.Tables.events(spark, sf)
      .groupBy(col("user_id"),
        window(col("ts"), "5 minutes")("start").as("w_ts"))
      .agg(sum("value").as("total"))
      .selectExpr("CAST(user_id AS INT) AS sensor", "CAST(w_ts AS STRING) AS at",
        "total")
    val contracted = Graft.withContract(series,
      "user_id" -> "sensor", "bucket_ts" -> "at", "demand" -> "total")
    val fc = Graft.forecast(contracted, model = "drift", horizon = 6)
    val perKey = fc.groupBy("user_id").count().collect()
    assert(perKey.nonEmpty && perKey.forall(_.getLong(1) == 6L))
  }

  test("tour 6: ingest hygiene in batch form — scrub, intra-doc dedup, " +
    "quality-aware keeper election") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val scrubbed = Graft.piiRedact(docs)
    assert(scrubbed.columns.toSeq ==
      Seq("doc_id", "n_emails", "n_phones", "clean_text"))
    assert(scrubbed.count() == docs.count())
    val tidy = Graft.intraDocDedup(docs, blockWords = 2)
    assert(tidy.filter(col("n_dropped") > 0).count() > 0,
      "2-word blocks must repeat somewhere in this corpus")
    assert(tidy.filter(col("n_dropped") < 0).count() == 0)
    val elected = Graft.qualityKeeper(
      docs.withColumn("score", col("n_chars")))
    val perCluster = elected.groupBy("h")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("keepers"))
    assert(perCluster.filter(col("keepers") =!= 1).count() == 0,
      "exactly one keeper per cluster")
  }

  test("tour 7: vector index lifecycle — build, filtered search, append, " +
    "delete, compact, serve") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val vid = col("vec_id")
    val dir = tempDir("graft-tour-idx")
    val path = s"$dir/idx"
    Graft.annBuildIndex(emb.filter(vid % 10 =!= 0), path)
    Graft.annAppendIndex(emb.filter(vid % 10 === 0), path)
    val qs = emb.filter(vid < 5)
    val hits = Graft.annSearchIndex(spark, path, qs, k = 3, probes = 2)
    assert(hits.select("q_id").distinct().count() == 5)
    Graft.annDeleteFromIndex(spark, path, emb.filter(vid === 1L))
    // collect BEFORE compaction: the lazy plan reads the tombstone files
    // compaction is about to reclaim
    val afterDel = Graft.annSearchIndex(spark, path, qs, k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!afterDel.exists(_._2 == 1L), "deleted vector must not be served")
    Graft.annCompactIndex(spark, path)
    val afterCompact = Graft.annSearchIndex(spark, path, qs, k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterCompact == afterDel)
    // the compressed tier: PQ codes served without ever re-reading floats
    val pqPath = s"$dir/pq"
    Graft.annBuildIndex(emb, pqPath, tiers = "pq")
    val adc = Graft.annSearchIndex(spark, pqPath, qs, k = 3, tier = "pq")
    assert(adc.select("q_id").distinct().count() == 5)
    // filtered search + its planner signal on the raw corpus
    val filtered = Graft.annFilteredTopK(emb, qs, col("label") === 1, k = 3)
    val okIds = emb.filter(col("label") === 1).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(filtered.collect().forall(r => okIds.contains(r.getLong(1))))
    val plan = Graft.annFilterSelectivity(emb, col("label") === 1)
    assert(plan.count() > 0 && plan.columns.contains("match_ppm"))
  }

  test("tour 8: two-tier serving — one root, routed search, full-lifecycle " +
    "parity on both tiers, drift-triggered rebuild") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val vid = col("vec_id")
    val dir = tempDir("graft-tour-srv")
    val path = s"$dir/idx"
    // one root, both tiers; the facade routes per query budget
    Graft.annBuildIndex(emb.filter(vid % 10 =!= 0), path, tiers = "both")
    val qs = emb.filter(vid < 5)
    for (tier <- Seq("ivf", "pq", "rerank", "auto")) {
      val hits = Graft.annSearchIndex(spark, path, qs, k = 3, tier = tier)
      assert(hits.select("q_id").distinct().count() == 5, s"tier $tier")
    }
    // one append grows every tier — the PQ codes are encoded against the
    // frozen codebook, then the drift audit asks whether that codebook
    // still fits the corpus being served
    Graft.annAppendIndex(emb.filter(vid % 10 === 0), path)
    val drift = Graft.annPqDriftAudit(spark, path, emb).collect()(0)
    assert(drift.getAs[Long]("cur_n") > drift.getAs[Long]("build_n"))
    // unified delete + compaction hit every tier; routes agree afterwards
    Graft.annDeleteFromIndex(spark, path, emb.filter(vid === 1L))
    Graft.annCompactIndex(spark, path)
    for (tier <- Seq("ivf", "pq", "rerank")) {
      val got = Graft.annSearchIndex(spark, path, qs, k = 3, tier = tier)
        .collect().map(_.getLong(1)).toSet
      assert(!got.contains(1L), s"tier $tier still serves the deleted id")
    }
    // offline recenter when the occupancy diagnostic says so — after it,
    // the raw tier is indistinguishable from a fresh build
    Graft.annRebuildIndex(spark, path)
    assert(Graft.annSearchIndex(spark, path, qs, k = 3, tier = "ivf")
      .select("q_id").distinct().count() == 5)
    // compaction and rebuild each published a version; vacuum keeps the
    // newest two and the current one still serves
    assert(Graft.annVacuumIndex(spark, path) === Seq(1L))
    assert(Graft.annSearchIndex(spark, path, qs, k = 3, tier = "rerank")
      .select("q_id").distinct().count() == 5)
    // the fused residual tier lives in its own root (cluster-partitioned
    // codes) — the facade's auto detection routes it without being told
    val rPath = s"$dir/ivfpq"
    Graft.annBuildIndex(emb, rPath, tiers = "ivfpq")
    val fused = Graft.annSearchIndex(spark, rPath, qs, k = 3)
    assert(fused.select("q_id").distinct().count() == 5)
    assert(fused.columns.contains("adc"), "residual route scores by ADC")
  }
}
