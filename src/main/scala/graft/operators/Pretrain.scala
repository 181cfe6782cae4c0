package graft.operators

import graft.api.GraftQuery
import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The capstone composition: one call that runs the complete
  * pretraining-corpus curation ladder over a documents table and returns
  * the conservation-checked per-stage funnel — the end-to-end artifact a
  * data team reads to sign off a training corpus. Every stage IS one of
  * the already-oracle-checked registry operators, chained on each stage's
  * survivor set:
  *
  *   0 input
  *   1 quality_rules      — x14 heuristic keep rules
  *   2 perplexity_filter  — x55 bigram perplexity; drop docs with no
  *                          bigrams and the most-perplexed QUARTILE
  *                          (threshold = x56's integer-ECDF t75)
  *   3 model_filter       — x60/m25 logistic model scores; keep docs at or
  *                          above the corpus MEDIAN quantized score (the
  *                          FineWeb-Edu "keep the top half" move, with the
  *                          threshold from the score ECDF, not a fixed 0.5
  *                          — robust to the base rate the model converges
  *                          to)
  *   4 exact_dedup        — x1 md5 keep-min
  *   5 neardup_prune      — x11 Jaccard-0.9 components, keep representative
  *   6 containment_prune  — x49 containment pairs; drop the CONTAINED doc
  *                          (fewer shingles; tie -> larger doc_id)
  *   7 decontaminate      — x15/x61: src0 is the benchmark; drop src0 rows
  *                          and any train doc sharing an 8-gram with it
  *   8 train_split        — x28 leakage-safe component split, keep 'train'
  *   9 token_budget       — x20 quality-ordered half-token budget
  *  10 packed             — x16 256-token sequence packing (units = packs)
  *  11 sharded            — x30 salted-shuffle 32 shards (units = shards)
  *  12 curriculum         — x56 perplexity-quartile bands over the final
  *                          corpus (units = (band, shard) dataloader groups)
  *
  * Funnel schema: (stage_idx, stage, n_units, n_docs, n_tokens) — all
  * integers/strings, per the SCALE.md hashed-output determinism rule.
  * n_docs/n_tokens always describe the surviving DOCUMENT set, so stages
  * 10–12 must conserve both (they only lay the corpus out); n_units is the
  * stage's own unit (docs, packs, shards, groups). PretrainSpec pins the
  * conservation contract; the oracle replays the entire ladder in DuckDB,
  * including the m25 gradient-descent recursion.
  *
  * Scale: no new dataflow is introduced — each stage inherits its
  * operator's documented 100 TB shape (see SCALE.md per x14/x55/x60/x1/
  * x11/x49/x15/x28/x20/x16/x30/x56). The two ECDF threshold windows run
  * over QUANTIZED-SCORE domains (centi-perplexity / 1e-6 sigmoid), bounded
  * by score resolution, never corpus size. Each survivor set is cached
  * once and feeds exactly two consumers (its funnel row and the next
  * stage) — the x37 discipline.
  *
  * Resource contract: the funnel is MATERIALIZED inside the call (the
  * returned 13-row frame is a localCheckpoint), the input cache is
  * unpersisted before returning, and the intermediate stage checkpoints
  * become unreferenced at return so the ContextCleaner reclaims their
  * blocks — repeated facade calls do not accumulate session-lifetime
  * cached state.
  *
  * Fail-fast contract: stage 3 standardizes logistic features eagerly
  * (see logRegStandardize), so the call THROWS at plan-build — not
  * silently degrades — if the stage-2 survivor set is empty or a logreg
  * feature is constant across it (e.g. every surviving doc has the same
  * token count). Callers curating exotic corpora should catch
  * IllegalArgumentException and fall back to the heuristic-only ladder.
  */
object Pretrain {

  private def tok: Column = size(split(col("text"), " ")).cast("long")

  /** One funnel row; n_units defaults to the doc count. */
  private def stageRow(df: DataFrame, idx: Int, name: String,
      units: Option[DataFrame] = None): DataFrame = {
    val base = df.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(tok), lit(0L)).as("n_tokens"))
    val withU = units match {
      case Some(u) => base.crossJoin(broadcast(u))
      case None    => base.withColumn("u", col("n_docs"))
    }
    withU.select(lit(idx).as("stage_idx"), lit(name).as("stage"),
      col("u").as("n_units"), col("n_docs"), col("n_tokens"))
  }

  /** min value of `vCol`'s integer domain whose ECDF reaches quantile `q`
    * — the x56 threshold shape (exact integer cumulative counts; the one
    * global window runs over the bounded quantized-score domain).
    */
  private def ecdfThreshold(scores: DataFrame, vCol: String, q: Double): DataFrame =
    ecdfThresholds(scores, vCol, Seq("thr" -> q))

  /** Several ECDF quantile thresholds of the SAME score column in ONE
    * pass (optimization round 14, guide §2.4): the cumulative table is
    * computed once and each threshold is a conditional min over it —
    * per quantile, exactly `min(vCol) where cum >= ceil(q*n)`, the
    * identical arithmetic the single-q path always used — so N
    * thresholds cost one aggregate subtree instead of N windowed
    * subtrees (stage 12 of the x66 capstone asked for three).
    */
  private def ecdfThresholds(scores: DataFrame, vCol: String,
      qs: Seq[(String, Double)]): DataFrame = {
    // the grouped table is bounded by the QUANTIZED score domain (centi-
    // perplexity / 1e-6 sigmoid — score resolution, never corpus size),
    // so collapsing it to one partition is safe at any SF and replaces
    // the global windows' SinglePartition Exchange with a shuffle-free
    // coalesce (guide §2.4): the cum/total windows and the threshold agg
    // all run inside one task over the tiny domain table.
    val cum = scores.groupBy(vCol).agg(count(lit(1)).as("nv"))
      .coalesce(1)
      .select(col(vCol),
        sum("nv").over(Window.orderBy(vCol)).as("cum"),
        sum("nv").over(Window.partitionBy()).as("n"))
    val thrCols = qs.map { case (name, q) =>
      min(when(col("cum") >=
        ceil(lit(q) * col("n").cast("double")).cast("long"), col(vCol)))
        .as(name)
    }
    cum.agg(thrCols.head, thrCols.tail: _*)
  }

  def pretrainCorpus(docs0: DataFrame): DataFrame =
    // NOTE (r13 optimization round): a lazy-cache staged materializer
    // (cache() instead of localCheckpoint(), one action for the whole
    // ladder) was tried and REVERTED — without an eager sync per stage,
    // concurrent first scans of the still-empty InMemoryRelations
    // recompute the upstream stage chain multiplicatively (the run went
    // from ~13 s to >10 min). The per-stage eager checkpoint is what
    // bounds each stage to exactly one computation.
    pretrainCorpusStaged(docs0, (_, f) => f().localCheckpoint(),
      overlapTail = true)

  /** [[pretrainCorpus]] with per-stage COST columns — the x81 recorder
    * applied to the 13-stage capstone: every stage materializes inside a
    * [[graft.core.QueryMetrics]] scope, and the funnel gains
    * (wall_ms, shuffle_bytes) per stage so the dominating stage is a
    * table lookup, not a UI dig. Counts are bit-identical to
    * [[pretrainCorpus]] (x82 gates them against x66's oracle); stages
    * that materialize several frames (perplexity scores + survivors)
    * accumulate. The `input` row carries zero cost by construction (the
    * raw scan is paid inside stage 1's first consumer).
    */
  def pretrainCorpusCosts(docs0: DataFrame): DataFrame = {
    val s = docs0.sparkSession
    val m = graft.core.QueryMetrics(s)
    // detach the listener on the failure path too (fail-fast contract:
    // stage 3 throws on degenerate inputs) — a leaked listener would
    // accumulate bus work on the shared session across retries
    val funnel =
      // sequential tail: overlapped stage walls would overlap in time and
      // the recorder's per-stage wall_ms attribution would stop meaning
      // "this stage's cost" — the costs entry keeps the honest layout
      try pretrainCorpusStaged(docs0, (n, f) => m.scoped(n)(f().localCheckpoint()),
        overlapTail = false)
      catch { case t: Throwable => m.close(); throw t }
    funnel.join(broadcast(m.costTable(s)), Seq("stage"), "left")
      .na.fill(0L, Seq("wall_ms", "shuffle_bytes"))
      .select("stage_idx", "stage", "n_units", "n_docs", "n_tokens",
        "wall_ms", "shuffle_bytes")
      .localCheckpoint()
  }

  private def pretrainCorpusStaged(docs0: DataFrame,
      staged: (String, () => DataFrame) => DataFrame,
      overlapTail: Boolean): DataFrame = {
    val cols = docs0.columns.toSeq.map(col)
    val docs = docs0.cache()

    // 1: x14 heuristic quality rules
    val d1 = staged("quality_rules", () =>
      TextOps.qualityRules(docs).filter(col("keep")).select("doc_id")
        .join(docs, "doc_id").select(cols: _*))

    // 2: x55 perplexity, centi-quantized; keep the three most-fluent
    // quartiles (docs with no bigrams are unassessable -> dropped)
    val ppl = staged("perplexity_filter", () => // reused by stage 12
      TextOps.bigramPerplexity(d1)
        .select(col("doc_id"),
          floor(col("perplexity") * 100 + 0.5).cast("long").as("p2")))
    val d2 = staged("perplexity_filter", () => // accumulates with ppl
      d1.join(ppl, "doc_id")
        .crossJoin(broadcast(ecdfThreshold(ppl, "p2", 0.75)))
        .filter(col("p2") <= col("thr"))
        .select(cols: _*))

    // 3: m25-trajectory model scores on the survivors; keep >= median qsig
    val scores = Forecast.logRegScoreById(d2.select(col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
      (size(split(col("text"), " ")).cast("double") / 100.0).as("f1"),
      (col("n_chars").cast("double") /
        size(split(col("text"), " ")).cast("double")).as("f2")))
    val d3 = staged("model_filter", () =>
      d2.join(scores, "doc_id")
        .crossJoin(broadcast(ecdfThreshold(scores, "qsig", 0.5)))
        .filter(col("qsig") >= col("thr"))
        .select(cols: _*))

    // 4: x1 exact dedup (md5 keep-min)
    val d4 = staged("exact_dedup", () =>
      d3.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("doc_id"))
        .select("doc_id").join(d3, "doc_id").select(cols: _*))

    // 5: x11 near-dup components, keep the representative
    val d5 = staged("neardup_prune", () =>
      TextOps.dupComponents(d4, 0.9)
        .filter(col("doc_id") === col("component")).select("doc_id")
        .join(d4, "doc_id").select(cols: _*))

    // 6: x49 containment pairs; drop the contained side of each pair
    val sizes = TextOps.shingleSets(d5)
      .select(col("doc_id"), size(col("sh")).as("ns"))
    val victims = TextOps.containmentPairs(d5, 0.9)
      .join(sizes.select(col("doc_id").as("a_id"), col("ns").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("ns").as("nb")), "b_id")
      .select(when(col("na") < col("nb"), col("a_id"))
        .when(col("nb") < col("na"), col("b_id"))
        .otherwise(greatest(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    val d6 = staged("containment_prune", () =>
      d5.join(victims, Seq("doc_id"), "left_anti"))

    // 7: x15/x61 decontamination — src0 is the benchmark; drop it and
    // every train doc sharing an 8-gram with it
    val train = d6.filter(col("source") =!= "src0")
    val d7 = staged("decontaminate", () =>
      TextOps.contaminationCheck(train, docs.filter(col("source") === "src0"))
        .filter(!col("contaminated")).select("doc_id")
        .join(train, "doc_id").select(cols: _*))

    // 8: x28 leakage-safe split, keep the train bucket
    val d8 = staged("train_split", () =>
      TextOps.leakageSafeSplit(d7, 0.9)
        .filter(col("split") === "train").select("doc_id")
        .join(d7, "doc_id").select(cols: _*))

    // 9: x20 token budget — top half of tokens by quality
    val d9 = staged("token_budget", () =>
      TextOps.tokenBudgetSelect(d8).filter(col("selected")).select("doc_id")
        .join(d8, "doc_id").select(cols: _*))

    // 10: x16 packing layout — units = total context windows
    def packedUnits() = staged("packed", () =>
      TextOps.sequencePack(d9, "source", 256)
        .groupBy("source").agg((max("last_pack") + 1).as("np"))
        .agg(coalesce(sum("np"), lit(0L)).as("u")))

    // 11: x30 salted shuffle — units = shards in use
    def shardedUnits() = staged("sharded", () =>
      d9.select((expr(
          "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':42')), 1, 15), 16, 10) AS BIGINT)")
          % 32).as("shard"))
        .agg(countDistinct(col("shard")).as("u")))

    // 12: x56 curriculum bands over the FINAL corpus's perplexity
    // quartiles — units = (band, shard) dataloader groups. The three
    // quartile thresholds come out of ONE ECDF pass (one broadcast
    // subtree instead of three windowed ones — guide §2.4); each value
    // is bit-identical to the old per-quantile computation.
    def curriculumUnits() = {
      val p9 = staged("curriculum", () =>
        d9.select("doc_id").join(ppl, "doc_id"))
      val banded = p9
        .crossJoin(broadcast(ecdfThresholds(p9, "p2",
          Seq("t25" -> 0.25, "t50" -> 0.5, "t75" -> 0.75))))
        .select((lit(1) + (col("p2") > col("t25")).cast("int") +
            (col("p2") > col("t50")).cast("int") +
            (col("p2") > col("t75")).cast("int")).as("band"),
          (expr("CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':cur')), 1, 15), 16, 10) AS BIGINT)")
            % 8).as("shard"))
      staged("curriculum", () => // accumulates with p9
        banded.agg(countDistinct(col("band") * 8 + col("shard")).as("u")))
    }

    // Stages 10–12 depend only on the CHECKPOINTED d9 (12 also on the
    // checkpointed ppl) and not on each other, and on the tiny quantized
    // domains each is a chain of single-task micro-jobs — overlap them
    // (guide §2.6) so one chain's scheduling gaps back-fill with the
    // others' tasks. The recorder path stays sequential so x82's
    // per-stage wall_ms keeps meaning "this stage's own cost". Inputs
    // being checkpointed matters: no lazy cache races (the r13 trap).
    val (packUnits, shardUnits, curUnits) =
      if (overlapTail) {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val s = docs0.sparkSession
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        val groupId = s"x66-tail-${java.util.UUID.randomUUID()}"
        def grouped[T](desc: String)(body: => T): T = {
          s.sparkContext.setJobGroup(groupId, desc, interruptOnCancel = true)
          try body finally s.sparkContext.clearJobGroup()
        }
        try {
          val fp = Future(grouped("x66: packed")(packedUnits()))
          val fs = Future(grouped("x66: sharded")(shardedUnits()))
          val fc = Future(grouped("x66: curriculum")(curriculumUnits()))
          try (Await.result(fp, Duration.Inf), Await.result(fs, Duration.Inf),
            Await.result(fc, Duration.Inf))
          catch { case t: Throwable =>
            s.sparkContext.cancelJobGroup(groupId); throw t
          }
        } finally { pool.shutdownNow(); () }
      } else (packedUnits(), shardedUnits(), curriculumUnits())

    val funnel = stageRow(docs, 0, "input")
      .unionByName(stageRow(d1, 1, "quality_rules"))
      .unionByName(stageRow(d2, 2, "perplexity_filter"))
      .unionByName(stageRow(d3, 3, "model_filter"))
      .unionByName(stageRow(d4, 4, "exact_dedup"))
      .unionByName(stageRow(d5, 5, "neardup_prune"))
      .unionByName(stageRow(d6, 6, "containment_prune"))
      .unionByName(stageRow(d7, 7, "decontaminate"))
      .unionByName(stageRow(d8, 8, "train_split"))
      .unionByName(stageRow(d9, 9, "token_budget"))
      .unionByName(stageRow(d9, 10, "packed", Some(packUnits)))
      .unionByName(stageRow(d9, 11, "sharded", Some(shardUnits)))
      .unionByName(stageRow(d9, 12, "curriculum", Some(curUnits)))
      // materialize the 13-row funnel NOW so every upstream cache /
      // checkpoint can be released before returning (resource contract
      // in the scaladoc) — the caller gets a self-contained frame
      .localCheckpoint()
    docs.unpersist()
    funnel
  }

  /** X66: the capstone — see [[pretrainCorpus]]. The oracle replays all
    * 13 stages in DuckDB, each stage's SQL copied from its green
    * stand-alone oracle (x14/x55/x56-threshold/m25/x1/x11/x49/x15/x28/
    * x20/x16/x30) with the stage's survivor CTE as input.
    */
  val x66: GraftQuery = GraftQuery(
    "x66_pretrain_corpus",
    (s, d) => pretrainCorpus(Tables.documents(s, d)),
    Some("""WITH RECURSIVE
      |wds AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents),
      |qct AS (SELECT doc_id, w, count(*) AS c FROM wds GROUP BY 1, 2),
      |qagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_distinct,
      |  max(c) AS top_count, CAST(sum(length(w) * c) AS BIGINT) AS n_word_chars FROM qct GROUP BY 1),
      |qual AS (SELECT doc_id FROM qagg WHERE n_words >= 20 AND n_distinct::DOUBLE / n_words > 0.4
      |  AND top_count::DOUBLE / n_words < 0.15 AND n_word_chars::DOUBLE / n_words BETWEEN 3.0 AND 10.0),
      |d1 AS MATERIALIZED (SELECT d.* FROM documents d JOIN qual USING (doc_id)),
      |ptoks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w FROM d1),
      |puni AS (SELECT unnest(w) AS t FROM ptoks),
      |puc AS (SELECT t, CAST(count(*) AS BIGINT) AS c_w FROM puni GROUP BY t),
      |pvs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM puc),
      |pbga AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bigram FROM ptoks),
      |pbc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_ab FROM pbga GROUP BY bigram),
      |pterms AS (SELECT pbga.doc_id, CAST(floor(-ln((CAST(pbc.c_ab AS DOUBLE) + 1.0)
      |    / (CAST(puc.c_w AS DOUBLE) + CAST(pvs.v AS DOUBLE))) * 1e9 + 0.5) AS BIGINT) AS nq
      |  FROM pbga JOIN pbc USING (bigram) JOIN puc ON puc.t = str_split(bigram, ' ')[1] CROSS JOIN pvs),
      |ppl AS MATERIALIZED (SELECT doc_id, CAST(floor(
      |    floor(exp((CAST(sum(nq) AS DOUBLE) / 1e9) / count(*)) * 1e9 + 0.5) / 1e9
      |    * 100 + 0.5) AS BIGINT) AS p2 FROM pterms GROUP BY doc_id),
      |pev AS (SELECT p2, count(*) AS nv FROM ppl GROUP BY 1),
      |pec AS (SELECT p2, CAST(sum(nv) OVER (ORDER BY p2) AS BIGINT) AS cum,
      |              CAST(sum(nv) OVER () AS BIGINT) AS n FROM pev),
      |pt75 AS (SELECT min(p2) AS t75 FROM pec WHERE cum >= CAST(ceil(0.75 * CAST(n AS DOUBLE)) AS BIGINT)),
      |d2 AS MATERIALIZED (SELECT d1.* FROM d1 JOIN ppl USING (doc_id) CROSS JOIN pt75 WHERE p2 <= t75),
      |mf0 AS (SELECT doc_id, CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y,
      |         CAST(len(str_split(text, ' ')) AS DOUBLE) / 100.0 AS f1,
      |         CAST(n_chars AS DOUBLE) / CAST(len(str_split(text, ' ')) AS DOUBLE) AS f2 FROM d2),
      |mfq AS (SELECT doc_id, y, f1, f2,
      |         CAST(floor(f1 * 1e6 + 0.5) AS BIGINT) AS qf1,
      |         CAST(floor(f2 * 1e6 + 0.5) AS BIGINT) AS qf2 FROM mf0),
      |mmo AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
      |         CAST(sum(qf1) AS DOUBLE) AS s1, CAST(sum(qf1 * qf1) AS DOUBLE) AS q1,
      |         CAST(sum(qf2) AS DOUBLE) AS s2, CAST(sum(qf2 * qf2) AS DOUBLE) AS q2 FROM mfq),
      |mf AS (SELECT doc_id, y,
      |        (f1 - (s1 / 1e6) / nd)
      |          / sqrt((q1 / 1e12) / nd - ((s1 / 1e6) / nd) * ((s1 / 1e6) / nd)) AS f1,
      |        (f2 - (s2 / 1e6) / nd)
      |          / sqrt((q2 / 1e12) / nd - ((s2 / 1e6) / nd) * ((s2 / 1e6) / nd)) AS f2
      |      FROM mfq, mmo),
      |mser AS (SELECT list(doc_id ORDER BY doc_id) AS ids,
      |               list(y ORDER BY doc_id) AS ys,
      |               list(f1 ORDER BY doc_id) AS f1s,
      |               list(f2 ORDER BY doc_id) AS f2s,
      |               CAST(count(*) AS BIGINT) AS n FROM mf),
      |mrec AS (
      |  SELECT ids, ys, f1s, f2s, n, 0 AS i, CAST(0.0 AS DOUBLE) AS w0,
      |         CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2
      |  FROM mser
      |  UNION ALL
      |  SELECT ids, ys, f1s, f2s, n, i + 1,
      |    w0 + (CAST(list_sum(list_transform(range(1, CAST(n + 1 AS INT)), k ->
      |      CAST(floor((ys[k] - CAST(floor((1.0 / (1.0 + exp(-(w0 + w1 * f1s[k] + w2 * f2s[k]))))
      |        * 1e6 + 0.5) AS BIGINT) / 1e6) * 1e6 + 0.5) AS BIGINT))) AS DOUBLE) / 1e6)
      |      / CAST(n AS DOUBLE),
      |    w1 + (CAST(list_sum(list_transform(range(1, CAST(n + 1 AS INT)), k ->
      |      CAST(floor((ys[k] - CAST(floor((1.0 / (1.0 + exp(-(w0 + w1 * f1s[k] + w2 * f2s[k]))))
      |        * 1e6 + 0.5) AS BIGINT) / 1e6) * f1s[k] * 1e6 + 0.5) AS BIGINT))) AS DOUBLE) / 1e6)
      |      / CAST(n AS DOUBLE),
      |    w2 + (CAST(list_sum(list_transform(range(1, CAST(n + 1 AS INT)), k ->
      |      CAST(floor((ys[k] - CAST(floor((1.0 / (1.0 + exp(-(w0 + w1 * f1s[k] + w2 * f2s[k]))))
      |        * 1e6 + 0.5) AS BIGINT) / 1e6) * f2s[k] * 1e6 + 0.5) AS BIGINT))) AS DOUBLE) / 1e6)
      |      / CAST(n AS DOUBLE)
      |  FROM mrec WHERE i < 10),
      |mks AS (SELECT unnest(range(1, CAST(n AS INT) + 1)) AS k, ids, w0, w1, w2, f1s, f2s
      |        FROM mrec WHERE i = 10),
      |mscore AS MATERIALIZED (SELECT ids[CAST(k AS INT)] AS doc_id,
      |  CAST(floor((1.0 / (1.0 + exp(-(w0 + w1 * f1s[CAST(k AS INT)] + w2 * f2s[CAST(k AS INT)]))))
      |    * 1e6 + 0.5) AS BIGINT) AS qsig FROM mks),
      |msv AS (SELECT qsig, count(*) AS nv FROM mscore GROUP BY 1),
      |msc AS (SELECT qsig, CAST(sum(nv) OVER (ORDER BY qsig) AS BIGINT) AS cum,
      |              CAST(sum(nv) OVER () AS BIGINT) AS n FROM msv),
      |mt50 AS (SELECT min(qsig) AS t50q FROM msc WHERE cum >= CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)),
      |d3 AS MATERIALIZED (SELECT d2.* FROM d2 JOIN mscore USING (doc_id) CROSS JOIN mt50 WHERE qsig >= t50q),
      |ek AS (SELECT min(doc_id) AS doc_id FROM d3 GROUP BY md5(text)),
      |d4 AS MATERIALIZED (SELECT d3.* FROM d3 JOIN ek USING (doc_id)),
      |nt AS (SELECT doc_id, str_split(text, ' ') AS w FROM d4),
      |nsh AS MATERIALIZED (SELECT doc_id, CASE WHEN len(w) >= 3
      |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
      |  ELSE [] END AS s FROM nt),
      |npairs AS (SELECT a.doc_id AS u, b.doc_id AS v FROM nsh a JOIN nsh b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
      |nedges AS (SELECT u, v FROM npairs UNION ALL SELECT v, u FROM npairs),
      |nreach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM d4
      |  UNION
      |  SELECT e.v, r.lbl FROM nreach r JOIN nedges e ON e.u = r.id),
      |ncomp AS (SELECT id AS doc_id, min(lbl) AS component FROM nreach GROUP BY id),
      |d5 AS MATERIALIZED (SELECT d4.* FROM d4 JOIN ncomp USING (doc_id) WHERE component = doc_id),
      |ct AS (SELECT doc_id, str_split(text, ' ') AS w FROM d5),
      |csh AS MATERIALIZED (SELECT doc_id, CASE WHEN len(w) >= 3
      |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
      |  ELSE [] END AS s FROM ct),
      |cg AS (SELECT doc_id, unnest(s) AS g FROM csh),
      |crare AS (SELECT g FROM (SELECT g, count(*) AS df FROM cg GROUP BY 1) WHERE df BETWEEN 2 AND 4),
      |crg AS (SELECT doc_id, cg.g FROM cg JOIN crare USING (g)),
      |ccand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |          FROM crg a JOIN crg b ON a.g = b.g AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2 HAVING count(*) >= 2),
      |cp AS (SELECT c.a_id, c.b_id,
      |        len(list_intersect(sa.s, sb.s)) AS inter,
      |        least(len(sa.s), len(sb.s)) AS mn,
      |        len(sa.s) AS na, len(sb.s) AS nb
      |      FROM ccand c JOIN csh sa ON sa.doc_id = c.a_id JOIN csh sb ON sb.doc_id = c.b_id),
      |cvict AS (SELECT DISTINCT CASE WHEN na < nb THEN a_id WHEN nb < na THEN b_id
      |                              ELSE greatest(a_id, b_id) END AS doc_id
      |          FROM cp WHERE mn > 0 AND inter * 10 >= mn * 9),
      |d6 AS MATERIALIZED (SELECT d5.* FROM d5 WHERE doc_id NOT IN (SELECT doc_id FROM cvict)),
      |bg AS (SELECT DISTINCT unnest(CASE WHEN len(w) >= 8
      |  THEN list_distinct([array_to_string(w[i:i+7], ' ') for i in generate_series(1, len(w) - 7)])
      |  ELSE [] END) AS g
      |  FROM (SELECT str_split(text, ' ') AS w FROM documents WHERE source = 'src0')),
      |trn AS MATERIALIZED (SELECT * FROM d6 WHERE source <> 'src0'),
      |tgr AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 8
      |  THEN list_distinct([array_to_string(w[i:i+7], ' ') for i in generate_series(1, len(w) - 7)])
      |  ELSE [] END) AS g
      |  FROM (SELECT doc_id, str_split(text, ' ') AS w FROM trn)),
      |cont AS (SELECT DISTINCT tgr.doc_id FROM tgr JOIN bg USING (g)),
      |d7 AS MATERIALIZED (SELECT trn.* FROM trn WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
      |st AS (SELECT doc_id, str_split(text, ' ') AS w FROM d7),
      |ssh AS MATERIALIZED (SELECT doc_id, CASE WHEN len(w) >= 3
      |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
      |  ELSE [] END AS s FROM st),
      |spairs AS (SELECT a.doc_id AS u, b.doc_id AS v FROM ssh a JOIN ssh b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
      |sedges AS (SELECT u, v FROM spairs UNION ALL SELECT v, u FROM spairs),
      |sreach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM d7
      |  UNION
      |  SELECT e.v, r.lbl FROM sreach r JOIN sedges e ON e.u = r.id),
      |scomp AS (SELECT id AS doc_id, min(lbl) AS component FROM sreach GROUP BY id),
      |d8 AS MATERIALIZED (SELECT d7.* FROM d7 JOIN scomp USING (doc_id)
      |       WHERE CAST('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15) AS BIGINT) % 10 < 8),
      |bt AS MATERIALIZED (SELECT doc_id, CAST(len(str_split(text, ' ')) AS INT) AS n_tok,
      |  0.5 * least(1.0, CAST(len(str_split(text, ' ')) AS DOUBLE) / 100.0) +
      |  0.5 * (1.0 - CAST(len(list_filter(str_split(text, ' '), x -> x IN ('the', 'a', 'or', 'and', 'of'))) AS DOUBLE) / len(str_split(text, ' '))) AS quality
      |  FROM d8),
      |btot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM bt),
      |bcum AS (SELECT doc_id, CAST(sum(n_tok::BIGINT) OVER (ORDER BY quality DESC, doc_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok FROM bt),
      |d9 AS MATERIALIZED (SELECT d8.* FROM d8 JOIN bcum USING (doc_id) CROSS JOIN btot WHERE cum_tok * 2 <= total),
      |pk AS (SELECT doc_id, source, CAST(len(str_split(text, ' ')) AS INT) AS n_tok FROM d9),
      |pkc AS MATERIALIZED (SELECT source, n_tok,
      |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM pk),
      |pku AS (SELECT source, max((start_tok + n_tok - 1) // 256) + 1 AS np FROM pkc GROUP BY source),
      |punits AS (SELECT CAST(coalesce(sum(np), 0) AS BIGINT) AS u FROM pku),
      |shu AS (SELECT CAST(count(DISTINCT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15) AS BIGINT) % 32) AS BIGINT) AS u FROM d9),
      |c9 AS MATERIALIZED (SELECT d9.doc_id, ppl.p2 FROM d9 JOIN ppl USING (doc_id)),
      |cv9 AS (SELECT p2, count(*) AS nv FROM c9 GROUP BY 1),
      |cc9 AS (SELECT p2, CAST(sum(nv) OVER (ORDER BY p2) AS BIGINT) AS cum,
      |              CAST(sum(nv) OVER () AS BIGINT) AS n FROM cv9),
      |ct25 AS (SELECT min(p2) AS t FROM cc9 WHERE cum >= CAST(ceil(0.25 * CAST(n AS DOUBLE)) AS BIGINT)),
      |ct50 AS (SELECT min(p2) AS t FROM cc9 WHERE cum >= CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)),
      |ct75 AS (SELECT min(p2) AS t FROM cc9 WHERE cum >= CAST(ceil(0.75 * CAST(n AS DOUBLE)) AS BIGINT)),
      |cb AS (SELECT doc_id,
      |        1 + CAST(p2 > ct25.t AS INT) + CAST(p2 > ct50.t AS INT) + CAST(p2 > ct75.t AS INT) AS band,
      |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cur'), 1, 15) AS BIGINT) % 8 AS shard
      |      FROM c9, ct25, ct50, ct75),
      |cu AS (SELECT CAST(count(DISTINCT band * 8 + shard) AS BIGINT) AS u FROM cb)
      |SELECT 0 AS stage_idx, 'input' AS stage, CAST(count(*) AS BIGINT) AS n_units,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) AS n_tokens FROM documents
      |UNION ALL SELECT 1, 'quality_rules', count(*), count(*),
      |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM d1
      |UNION ALL SELECT 2, 'perplexity_filter', count(*), count(*),
      |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM d2
      |UNION ALL SELECT 3, 'model_filter', count(*), count(*),
      |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM d3
      |UNION ALL SELECT 4, 'exact_dedup', count(*), count(*),
      |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM d4
      |UNION ALL SELECT 5, 'neardup_prune', count(*), count(*),
      |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM d5
      |UNION ALL SELECT 6, 'containment_prune', count(*), count(*),
      |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM d6
      |UNION ALL SELECT 7, 'decontaminate', count(*), count(*),
      |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM d7
      |UNION ALL SELECT 8, 'train_split', count(*), count(*),
      |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM d8
      |UNION ALL SELECT 9, 'token_budget', count(*), count(*),
      |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM d9
      |UNION ALL SELECT 10, 'packed', (SELECT u FROM punits), count(*),
      |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM d9
      |UNION ALL SELECT 11, 'sharded', (SELECT u FROM shu), count(*),
      |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM d9
      |UNION ALL SELECT 12, 'curriculum', (SELECT u FROM cu), count(*),
      |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM d9""".stripMargin))

  /** X82 (beyond reference): the COSTED capstone's count columns gated
    * against x66's oracle — the cost instrumentation must change nothing
    * about the 13-stage funnel; wall_ms / shuffle_bytes are measurements
    * and are asserted populated in PretrainSpec instead.
    */
  val x82: GraftQuery = GraftQuery(
    "x82_pretrain_costs",
    (s, d) => pretrainCorpusCosts(Tables.documents(s, d))
      .select("stage_idx", "stage", "n_units", "n_docs", "n_tokens"),
    x66.oracle,
    bench = false)

  val all: Seq[GraftQuery] = Seq(x66, x82)
}
