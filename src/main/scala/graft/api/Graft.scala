package graft.api

import graft.operators.{Forecast, GapFill, GraphOps, Pretrain, Relational, StatOps, TextOps, VectorOps}
import org.apache.spark.sql.DataFrame

/** Public library facade: DataFrame-in / DataFrame-out entry points for the
  * engine's reusable operators, so a user can run the same pipelines on
  * THEIR tables — the driver-contract queries (`SparkEntry.queries`) are
  * these operators applied to the test tables, which is what keeps this
  * surface oracle-verified.
  *
  * Column contracts (adapt a foreign schema with [[Graft.withContract]],
  * or rename with a `select` before calling):
  *   - text corpus: `doc_id: long`, `text: string`
  *   - vectors:     `vec_id: long`, `embedding: array<float>`
  *   - metric series: `user_id: long`, `bucket_ts: timestamp`,
  *     `demand: double`
  *
  * Every operator is scale-safe by design (see SCALE.md): no all-pairs
  * joins, candidate generation via LSH banding, closures via alternating-
  * star contraction, broadcast for provably-small sides only.
  */
object Graft {

  /** Contract column -> type, used by [[withContract]] to coerce mapped
    * columns so a caller's INT ids / VARCHAR timestamps land in the types
    * the operators (and their documented contracts) expect.
    */
  private val contractTypes = Map(
    "doc_id" -> "bigint", "text" -> "string", "source" -> "string",
    "lang" -> "string", "n_chars" -> "bigint",
    "vec_id" -> "bigint", "embedding" -> "array<float>",
    "u" -> "bigint", "v" -> "bigint",
    "user_id" -> "bigint", "bucket_ts" -> "timestamp", "demand" -> "double")

  /** Bring-your-own-schema adapter: project `df` onto a Graft column
    * contract. Each `(contractName, source)` pair renames the caller's
    * column — `source` may be a plain column name or any SQL expression
    * (`"meta.page_id"`, `"CAST(crawl_ts AS TIMESTAMP)"`, `"'en'"` for a
    * constant) — and known contract columns are cast to their documented
    * types (doc_id/vec_id/user_id → bigint, embedding → array<float>,
    * bucket_ts → timestamp, …). The result carries EXACTLY the mapped
    * columns, so downstream operators never trip on leftover name
    * collisions.
    *
    * {{{
    * val docs = Graft.withContract(crawl,
    *   "doc_id" -> "page_id", "text" -> "body", "source" -> "site")
    * Graft.curate(docs)
    * }}}
    */
  def withContract(df: DataFrame, mapping: (String, String)*): DataFrame = {
    require(mapping.nonEmpty, "withContract needs at least one mapping")
    require(mapping.map(_._1).distinct.size == mapping.size,
      s"duplicate contract names in mapping: ${mapping.map(_._1)}")
    df.select(mapping.map { case (to, from) =>
      val c = org.apache.spark.sql.functions.expr(from)
      contractTypes.get(to).fold(c)(t => c.cast(t)).as(to)
    }: _*)
  }

  // ---- corpus deduplication -----------------------------------------------

  /** Exact duplicate groups by content hash: (h, n, keeper). */
  def exactDupGroups(docs: DataFrame): DataFrame = TextOps.exactDupGroups(docs)

  /** Near-duplicate pairs at `threshold` 3-shingle Jaccard (LSH-bucketed +
    * exact-verified): (a_id, b_id, jaccard), a_id < b_id.
    */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.9): DataFrame =
    TextOps.nearDupPairs(docs, threshold)

  /** Duplicate clusters — transitive closure over [[nearDupPairs]]:
    * (doc_id, component, n_members); singletons included.
    */
  def dupComponents(docs: DataFrame, threshold: Double = 0.9): DataFrame =
    TextOps.dupComponents(docs, threshold)

  /** Duplicate word-set groups (threshold-1.0 dedup): (doc_id, group_id =
    * min member id, n_members), one row per doc sharing its distinct word
    * set with at least one other. Group output is the scale-safe default —
    * the pair form is quadratic in group size.
    */
  def minHashDupSets(docs: DataFrame): DataFrame = TextOps.minHashDupSets(docs)

  /** Pair expansion of [[minHashDupSets]]: (a_id, b_id), a_id < b_id.
    * Output is Θ(g²) per g-doc group by semantics — the small-group path
    * (graph edges, triangle counts); prefer the group form for curation.
    */
  def dupSetPairs(docs: DataFrame): DataFrame = TextOps.dupSetPairs(docs)

  /** The x7 banding's recall contract as data: P(candidate) over the
    * centi-jaccard grid for the threshold's derived (bands, rows) —
    * read this to pick a near-dup threshold instead of trusting a
    * comment. 51 literal rows.
    */
  def lshRecallCurve(spark: org.apache.spark.sql.SparkSession,
      threshold: Double = 0.9): DataFrame =
    TextOps.lshRecallCurve(spark, threshold)

  /** Per-domain frequency cap: keep at most `cap` docs per `domainCol`
    * value, elected by a deterministic salted-hash order (a fair
    * reproducible sample, not crawl order): (doc_id, domainCol, n_docs,
    * keep). Window-free — a bottom-cap sketch aggregate + one equi-join,
    * so a mega-domain costs what a sum costs.
    */
  def domainCap(docs: DataFrame, domainCol: String = "source",
      cap: Int = 1000): DataFrame = TextOps.domainCap(docs, domainCol, cap)

  /** Incremental dedup verdicts for a `batch` of new docs against an
    * existing `corpus` (reduced to canonical fingerprints, never rescanned):
    * (doc_id, h, in_corpus, batch_first, keep).
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame =
    TextOps.incrementalDedup(corpus, batch)

  /** Quality-aware dup-cluster keeper election: within each canonical-
    * fingerprint cluster the member maximizing `scoreCol` survives (ties:
    * min doc_id) — the FineWeb keep-best rule instead of keep-min-id:
    * (doc_id, h, n_members, keeper, keep).
    */
  def qualityKeeper(docs: DataFrame, scoreCol: String = "score"): DataFrame =
    TextOps.qualityKeeper(docs, scoreCol)

  /** WITHIN-document repeated-block removal (nav bars, footers): aligned
    * `blockWords`-word blocks, first occurrence survives, survivors
    * re-join in order — (doc_id, n_blocks, n_dropped, clean_text).
    */
  def intraDocDedup(docs: DataFrame, blockWords: Int = 8): DataFrame =
    TextOps.intraDocDedup(docs, blockWords)

  /** Incremental NEAR-dup verdicts at `threshold` 3-shingle Jaccard — the
    * crawl-snapshot gate ([[incrementalDedup]] lifted to similarity):
    * (doc_id, n_corpus_neardups, batch_first, keep). BOTH sides are
    * exact-collapsed and LSH-banded, never joined all-pairs — a
    * boilerplate cluster in the corpus or in the batch is one row at the
    * candidate stage.
    */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame,
      threshold: Double = 0.9): DataFrame =
    TextOps.incrementalNearDup(corpus, batch, threshold)

  /** Crawl-delta report between two snapshots keyed by doc_id:
    * (doc_id, old_h, new_h, status ∈ added|removed|rewritten|unchanged) —
    * downstream, only added+rewritten need the ingest gates.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame =
    TextOps.corpusDiff(oldDocs, newDocs)

  /** [[corpusDiff]] with rewrite DEPTH: `rewritten` splits into
    * `reordered` (cosmetic — canonical word set unchanged, skips the
    * dedup gates) vs `edited` (re-enters the ingest ladder).
    */
  def corpusDiffDeep(oldDocs: DataFrame, newDocs: DataFrame): DataFrame =
    TextOps.corpusDiffDeep(oldDocs, newDocs)

  /** Persist the near-dup index (exact-dup reps + shingle sets + LSH band
    * keys) so [[nearDupIndexIngest]] gates batches without ever
    * re-scanning or re-signing the corpus.
    */
  def buildNearDupIndex(corpus: DataFrame, path: String,
      threshold: Double = 0.9): Unit =
    TextOps.buildNearDupIndex(corpus, path, threshold)

  /** Gate a batch against the persisted index AND grow it by the accepted
    * docs ([[incrementalNearDup]] semantics, build-once/query-many):
    * (doc_id, n_corpus_neardups, batch_first, keep).
    */
  def nearDupIndexIngest(batch: DataFrame, path: String,
      threshold: Double = 0.9): DataFrame =
    TextOps.nearDupIndexIngest(batch, path, threshold)

  /** Connected components over an arbitrary undirected edge list
    * (u: long, v: long), labeled by minimum member id; `universe` supplies
    * the full node set (isolated nodes become singletons).
    */
  def components(universe: DataFrame, idCol: String, edges: DataFrame): DataFrame =
    GraphOps.components(universe, idCol, edges)

  /** Per-node triangle counts over an undirected (u, v) edge list —
    * duplicate-cluster density (clique vs chain). Degree-ordered wedge
    * enumeration, scale-safe on skewed graphs.
    */
  def triangleCounts(edges: DataFrame): DataFrame =
    GraphOps.triangleCounts(edges)

  /** PageRank centrality over an undirected (u, v) edge list — fixed
    * power iterations, d = 0.85: (id, pagerank) for every node of
    * `nodes`. Hubs of large duplicate families rank highest on the
    * near-dup graph.
    */
  def pageRank(nodes: DataFrame, idCol: String, edges: DataFrame,
      iterations: Int = 3): DataFrame =
    GraphOps.pageRank(nodes, idCol, edges, iterations)

  /** k-core of an undirected (u, v) edge list by fixed-round peeling:
    * (id, core_deg, in_core, converged) for every node of `nodes` —
    * the 2-core of the near-dup graph isolates densely-duplicated
    * content families.
    */
  def kCore(nodes: DataFrame, idCol: String, edges: DataFrame,
      k: Int = 2, rounds: Int = 4): DataFrame =
    GraphOps.kCore(nodes, idCol, edges, k, rounds)

  /** Leakage-safe train/val/test split: whole near-dup components are the
    * assignment unit (80/10/10 by md5 of component id), so near-duplicates
    * never straddle the train/test boundary: (doc_id, component, split).
    */
  def leakageSafeSplit(docs: DataFrame, threshold: Double = 0.9): DataFrame =
    TextOps.leakageSafeSplit(docs, threshold)

  // ---- text analysis ------------------------------------------------------

  /** Per-doc token statistics (whitespace + BPE-ish regex counts). */
  def tokenStats(docs: DataFrame): DataFrame = TextOps.tokenStats(docs)

  /** Composite quality score in [0, 1] per doc. */
  def qualityScore(docs: DataFrame): DataFrame = TextOps.qualityScore(docs)

  /** Gopher-style quality rule scalars + keep predicate per doc. */
  def qualityRules(docs: DataFrame): DataFrame = TextOps.qualityRules(docs)

  /** Gopher repetition filters: top-2-gram and duplicated-5-gram character
    * fractions + keep predicate per doc — catches phrase-looping docs that
    * pass the word-level rules.
    */
  def repetitionStats(docs: DataFrame): DataFrame = TextOps.repetitionStats(docs)

  /** Duplicate-span removal (C4/RefinedWeb-style): drop every repeated
    * 16-word block after its globally-first occurrence and rebuild docs —
    * (doc_id, n_spans, n_removed, clean_md5).
    */
  def spanDedup(docs: DataFrame): DataFrame = TextOps.spanDedup(docs)

  /** PII scrub: per-doc email/phone counts plus the redacted text
    * ([EMAIL]/[PHONE] placeholders): (doc_id, n_emails, n_phones,
    * clean_text). Stateless — runs identically on a stream (t35).
    */
  def piiRedact(docs: DataFrame): DataFrame = TextOps.piiRedact(docs)

  /** SimHash 32-bit fingerprint per doc: (doc_id, simhash). */
  def simhashFingerprints(docs: DataFrame): DataFrame =
    TextOps.simhashFingerprints(docs)

  /** Hashing-trick bag-of-words features per doc (64 md5-derived buckets):
    * (doc_id, n_active, sq_norm, feat_md5).
    */
  def hashedFeatures(docs: DataFrame): DataFrame = TextOps.hashedFeatures(docs)

  /** Out-of-vocabulary fraction per doc vs the corpus top-`vocabK` words —
    * the integer-exact stand-in for perplexity quality scoring.
    */
  def oovRate(docs: DataFrame, vocabK: Int = 1000): DataFrame =
    TextOps.oovRate(docs, vocabK)

  /** Quality-ranked token-budget curation: keep the best docs while the
    * running token sum stays within numer/denom of the corpus total
    * (exact rational budget — defaults to half).
    */
  def tokenBudgetSelect(docs: DataFrame, numer: Int = 1, denom: Int = 2): DataFrame =
    TextOps.tokenBudgetSelect(docs, numer, denom)

  /** Apply the mixture plan: deterministic salted-md5 Bernoulli sampling
    * at the per-tier rates the plan computed — per-tier report
    * (tier, n_docs, n_kept, tokens_in, tokens_kept, rate_ppm). Same
    * corpus + salt always reproduces the same sampled corpus.
    */
  def mixtureApply(docs: DataFrame): DataFrame = TextOps.mixtureApply(docs)

  /** Temperature-flattened per-source sampling weights (p ∝ n^0.5, the
    * multilingual mixture exponent): per source (n_tokens, wq, rate_ppm,
    * prop_ppm) — rate vs proportional share shows the low-resource boost.
    */
  def temperatureMixture(docs: DataFrame): DataFrame =
    TextOps.temperatureMixture(docs)

  /** Bloom-filter benchmark decontamination — the constant-space variant of
    * [[contaminationCheck]] for large benchmark sets: the benchmark ships as
    * occupied bit positions (≤ 8 MiB however big it gets); per train doc
    * (doc_id, n_shingles, n_hits, flagged). md5-derived positions, so the
    * filter (and any false positives) replay identically everywhere.
    */
  def bloomDecontam(train: DataFrame, benchmark: DataFrame): DataFrame =
    TextOps.bloomDecontam(train, benchmark)

  /** Data-constrained epoch allocation by exact waterfilling: per source
    * (n_tokens, w, cap, saturated, alloc_tokens, epochs_milli) given mixture
    * `weights` (source, w ≥ 1), a repeat ceiling, and a token budget as the
    * exact rational numer/denom × corpus tokens.
    */
  def epochWaterfill(docs: DataFrame, weights: DataFrame, maxEpochs: Int = 2,
      budgetNumer: Int = 7, budgetDenom: Int = 4): DataFrame =
    TextOps.epochWaterfill(docs, weights, maxEpochs, budgetNumer, budgetDenom)

  /** C4-style term-blocklist gate: per doc (n_tok, n_blocked,
    * n_distinct_blocked, keep = zero hits). Token-equality matches only.
    */
  def blocklistFilter(docs: DataFrame,
      blocklist: Seq[String] = Seq("slow", "spill", "oom")): DataFrame =
    TextOps.blocklistFilter(docs, blocklist)

  /** Cross-source duplicate overlap matrix (src_a ≤ src_b, n_clusters,
    * n_doc_pairs) over exact canonical-fingerprint clusters — run this
    * BEFORE trusting per-source mixture weights: overlapping crawls are
    * not distinct pools.
    */
  def sourceOverlapMatrix(docs: DataFrame): DataFrame =
    TextOps.sourceOverlapMatrix(docs)

  /** Per-doc 8-gram novelty (doc_id, n_grams, n_unique_grams,
    * novelty_ppm): the memorization-risk / dedup-QA score — how much of
    * each doc appears nowhere else. Docs under 8 words are omitted.
    */
  def docNovelty(docs: DataFrame): DataFrame = TextOps.docNovelty(docs)

  /** Overlapping 64-token passages with md5 digests per chunk. */
  def chunkPassages(docs: DataFrame): DataFrame = TextOps.chunkPassages(docs)

  /** Benchmark decontamination: per `train` doc, verbatim 8-gram hits
    * against the (broadcast) `benchmark` set: (doc_id, n_hits, contaminated).
    */
  def contaminationCheck(train: DataFrame, benchmark: DataFrame): DataFrame =
    TextOps.contaminationCheck(train, benchmark)

  /** Benchmark decontamination audit: drop train docs sharing an 8-gram
    * with `benchmark`, report per-source (n_kept, n_removed, tokens_kept,
    * tokens_removed) — the removal half of [[contaminationCheck]].
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame): DataFrame =
    TextOps.decontaminate(train, benchmark)

  /** Hybrid retrieval: reciprocal-rank fusion (k=60) of a BM25 lexical
    * arm and an exact-cosine vector arm — top-`k` fused rows
    * (doc_id, lex_rank, vec_rank, rrf, fused_rank). The two arms run when
    * this is called (at most `cand` rows each reach the driver); the
    * fused page comes back as a local relation.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, qVec: Long = 0L,
      cand: Int = 20, k: Int = 10): DataFrame =
    TextOps.hybridRrf(docs, emb, qVec, cand, k)

  /** Per-document readability: Flesch reading ease + Flesch-Kincaid
    * grade from structural word/sentence/syllable counts.
    */
  def readability(docs: DataFrame): DataFrame = TextOps.readability(docs)

  /** Code-vs-prose partition flags per document (symbol density +
    * programming-keyword hits) — the pre-filter before language-specific
    * pipelines.
    */
  def codeProse(docs: DataFrame): DataFrame = TextOps.codeProse(docs)

  /** DSIR data selection (Xie et al. 2023): hashed-unigram importance
    * log-weights of every raw-pool document against the `targetSrc`
    * target distribution — (doc_id, n_tok, logw_q, logw, target_like).
    */
  def dsirWeights(docs: DataFrame, targetSrc: String = "src0"): DataFrame =
    TextOps.dsirWeights(docs, targetSrc)

  /** Approximate Jaccard similarity join between two corpora (both need
    * (doc_id, text)): (a_id, b_id, jaccard) for cross pairs at 3-shingle
    * Jaccard >= `threshold`. LSH-banded candidates, exact-verified — the
    * cross-table generalization of [[nearDupPairs]]; keep the smaller
    * corpus on one side for a semi-join-shaped band probe.
    */
  def similarityJoin(left: DataFrame, right: DataFrame,
      threshold: Double = 0.9): DataFrame =
    TextOps.similarityJoin(left, right, threshold)

  /** One-call corpus curation: Gopher quality gate -> exact dedup ->
    * near-dup component dedup at `threshold` -> leakage-safe 80/10/10
    * split by component -> token accounting. One row per KEPT doc:
    * (doc_id, component, n_dups, split, n_tok).
    */
  def curate(docs: DataFrame, threshold: Double = 0.9): DataFrame =
    TextOps.curate(docs, threshold)

  /** Funnel audit of [[curate]]: one row per stage
    * (input/quality_pass/exact_deduped/kept) with surviving doc and token
    * counts — the removal report a curation run ships with its output.
    */
  def curationReport(docs: DataFrame, threshold: Double = 0.9): DataFrame =
    TextOps.curationReport(docs, threshold)

  /** The capstone composition: the COMPLETE pretraining-corpus curation
    * ladder in one call — x14 quality rules -> x55 perplexity-quartile
    * filter -> x60 model-score filter -> x1/x11/x49 dedup ladder
    * (exact / near-dup components / containment) -> x15/x61
    * decontamination vs the src0 benchmark -> x28 leakage-safe train
    * split -> x20 token budget -> x16 packing / x30 sharding / x56
    * curriculum layout. Returns the conservation-checked per-stage funnel
    * (stage_idx, stage, n_units, n_docs, n_tokens); stages 10-12 conserve
    * docs and tokens by contract (they only lay the corpus out).
    */
  def pretrainCorpus(docs: DataFrame): DataFrame =
    Pretrain.pretrainCorpus(docs)

  /** DSIR-style importance weights: score each `raw` doc by the mean
    * hashed-unigram probability ratio p_target/p_raw (add-1 smoothed,
    * 64 md5 buckets): (doc_id, dsir_ratio, n_tok). Higher = more
    * target-like; feed into [[tokenBudgetSelect]]-style selection.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame): DataFrame =
    TextOps.dsirWeights(raw, target)

  /** Concatenate-and-chunk packing layout into `packTokens`-token context
    * windows, packed independently per `domainCol` shard:
    * (doc_id, domain, n_tok, start_tok, first_pack, last_pack, n_packs).
    * `shardSpan` bounds every sort-window partition (two-level prefix sum);
    * it never changes the layout, only the parallelism.
    */
  def sequencePack(docs: DataFrame, domainCol: String, packTokens: Int = 256,
      shardSpan: Long = 65536L): DataFrame =
    TextOps.sequencePack(docs, domainCol, packTokens, shardSpan)

  // ---- similarity search --------------------------------------------------

  /** Exact cosine top-k neighbors of `queries` in `corpus` (self excluded):
    * (q_id, neighbor_id, cos). Queries are broadcast — keep that side small
    * (the ANN variants in [[graft.operators.VectorOps]] are the scale path
    * for large query sets).
    */
  def annBruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      excludeSelf: Boolean = true): DataFrame =
    VectorOps.bruteForceTopK(corpus, queries, k, excludeSelf)

  /** IVF-bucketed approximate cosine top-k — the scale path: queries touch
    * only their `probes` nearest cells (~probes/K of the corpus) instead of
    * scanning it. Recall gates live in VectorOpsSpec.
    */
  def annIvfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      probes: Int = 2, excludeSelf: Boolean = true): DataFrame =
    VectorOps.ivfTopK(corpus, queries, k, probes, excludeSelf)

  /** Recall@k of the IVF index against the exact brute-force baseline:
    * (q_id, k, hits, recall) per query — the faiss-style index-quality
    * evaluation loop. `excludeSelf` follows the same id-space contract as
    * [[annBruteForceTopK]]: pass false for disjoint-id query tables.
    */
  def annRecallEval(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      probes: Int = 2, excludeSelf: Boolean = true): DataFrame =
    VectorOps.recallEval(corpus, queries, k, probes, excludeSelf)

  /** FILTERED vector search: top-k among corpus rows satisfying `pred`
    * only, probing the full-corpus IVF cells (the index is never rebuilt
    * per predicate): (q_id, neighbor_id, cos). Selective predicates thin
    * cells — raise `probes` to hold recall.
    */
  def annFilteredTopK(corpus: DataFrame, queries: DataFrame,
      pred: org.apache.spark.sql.Column, k: Int = 3, probes: Int = 2,
      excludeSelf: Boolean = true): DataFrame =
    VectorOps.filteredIvfTopK(corpus, queries, pred, k, probes, excludeSelf)

  /** Per-cell match density of `pred` over the IVF cells — the planning
    * signal for filtered search (probed cells thinner than k starve the
    * query): (cluster, n_vectors, n_matching, match_ppm).
    */
  def annFilterSelectivity(corpus: DataFrame,
      pred: org.apache.spark.sql.Column): DataFrame =
    VectorOps.filterSelectivityAudit(corpus, pred)

  // The persisted index lifecycle. Every verb takes an index ROOT — a
  // versioned store: build publishes version 1, compaction and rebuild
  // publish version N+1 behind one atomic pointer, and every other verb
  // resolves that pointer once, so a running search keeps reading the
  // version it started on. Old versions stay until [[annVacuumIndex]].

  /** Persist a vector index at `root` — build once, query many with
    * [[annSearchIndex]]. `tiers`: "ivf" (centroids + cluster-partitioned
    * raw posting lists), "pq" (codebook + 8 small codes per vector, the
    * RAM-resident compressed tier), "both" (ivf + pq under one root, the
    * input to the rerank route) or "ivfpq" (residual IVF-PQ, the FAISS
    * IndexIVFPQ shape: cell pruning AND code compression). Returns the
    * published version-1 directory.
    */
  def annBuildIndex(corpus: DataFrame, root: String,
      tiers: String = "ivf"): String =
    VectorOps.buildVecIndex(corpus, root, tiers)

  /** The serving planner: search the current version of an index without
    * touching the corpus, routed by `tier` — "ivf" (raw probed cells,
    * bit-identical to [[annIvfTopK]]), "pq" (code-only ADC), "rerank"
    * (codes nominate, raw vectors rerank), "ivfpq" (residual ADC) or
    * "auto" (best the root's layout supports). Only the probed cells'
    * directories are read. A search whose files fit one advisory partition
    * runs at this call, on the driver over cached decoded tier rows, and
    * returns a local relation; a larger one returns the parallel plan.
    */
  def annSearchIndex(spark: org.apache.spark.sql.SparkSession, root: String,
      queries: DataFrame, k: Int = 3, probes: Int = 2, tier: String = "auto",
      rerankCandidates: Int = 32, excludeSelf: Boolean = true): DataFrame =
    VectorOps.searchVecIndex(spark, root, queries, k, probes, tier,
      rerankCandidates, excludeSelf)

  /** Append new vectors to every tier of the current version, each encoded
    * against its FROZEN geometry (stream-safe, order-independent; rebuild
    * when [[annRebuildAdvisor]] says retrain).
    */
  def annAppendIndex(batch: DataFrame, root: String): Unit =
    VectorOps.appendToVecIndex(batch, root)

  /** Logical delete (right-to-be-forgotten): tombstoned ids stop being
    * served on every route at the next query; [[annCompactIndex]] drops
    * them physically.
    */
  def annDeleteFromIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, ids: DataFrame): Unit =
    VectorOps.deleteFromVecIndex(spark, root, ids)

  /** Compact every tier minus tombstones into version N+1 — search results
    * are identical before and after; no tombstones, no new version.
    */
  def annCompactIndex(spark: org.apache.spark.sql.SparkSession,
      root: String): Unit =
    VectorOps.compactVecIndex(spark, root)

  /** Recenter/rebuild every tier into version N+1 from the current alive
    * corpus (the root's own raw vectors, or the source-of-truth `corpus` a
    * lossy codes-only root needs; tombstones honored, so deleted ids never
    * resurrect); the result is bit-indistinguishable from a fresh build on
    * the current data. Returns the new version directory.
    */
  def annRebuildIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, corpus: Option[DataFrame] = None): String =
    VectorOps.rebuildVecIndex(spark, root, corpus)

  /** Reclaim versions older than the newest `keepLast` (the grace window
    * for readers pinned to a predecessor). Returns removed versions.
    */
  def annVacuumIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, keepLast: Int = 2): Seq[Long] =
    graft.core.VersionedStore.vacuum(spark, root, keepLast)

  /** Advisor-gated rebuild: publishes version N+1 only when a
    * [[annRebuildAdvisor]] verdict is retrain; Some(newVersionDir) when it
    * acted. Residual (codes-only) roots retrain from `corpus` (required
    * there — their codes are lossy).
    */
  def annRebuildIfAdvised(spark: org.apache.spark.sql.SparkSession,
      root: String, margin: Double = 0.05,
      corpus: Option[DataFrame] = None): Option[String] =
    VectorOps.rebuildVecIndexIfAdvised(spark, root, margin, corpus)

  /** Codebook-drift report for a persisted PQ tier: build-time
    * reconstruction distortion vs the corpus served now; one row with
    * needs_retrain = the drop in mean reconstruction cosine exceeding
    * `margin` — the retrain trigger for the frozen codebook.
    */
  def annPqDriftAudit(spark: org.apache.spark.sql.SparkSession,
      root: String, corpus: DataFrame, margin: Double = 0.05): DataFrame =
    VectorOps.pqDriftAudit(spark, root, corpus, margin)

  /** Drift-to-action decision table over an index root: one row per
    * (tier, metric) — v18's 2x occupancy rule on the stored cells, v42's
    * codebook-drift audit on the PQ tier — with integer-exact
    * value/threshold and a keep/retrain verdict.
    */
  def annRebuildAdvisor(spark: org.apache.spark.sql.SparkSession,
      root: String, margin: Double = 0.05): DataFrame =
    VectorOps.rebuildAdvisor(spark, root, margin)

  // Earlier names of four lifecycle verbs, kept with their signatures for
  // the callers written against them (perfbench's serve workload).

  /** [[annBuildIndex]]. */
  def annInitVersionedVecIndex(corpus: DataFrame, root: String,
      tiers: String = "ivf"): String = annBuildIndex(corpus, root, tiers)

  /** [[annSearchIndex]]. */
  def annSearchVersionedVecIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, k: Int, probes: Int = 2,
      tier: String = "auto", rerankCandidates: Int = 32,
      excludeSelf: Boolean = true): DataFrame =
    annSearchIndex(spark, root, queries, k, probes, tier, rerankCandidates, excludeSelf)

  /** [[annAppendIndex]]. */
  def annAppendVersionedVecIndex(batch: DataFrame, root: String): Unit =
    annAppendIndex(batch, root)

  /** [[annDeleteFromIndex]]. */
  def annDeleteFromVersionedVecIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, ids: DataFrame): Unit = annDeleteFromIndex(spark, root, ids)

  /** Position-aware retrieval metrics of the IVF index vs the exact
    * baseline: (q_id, first_hit_rank, dcg_num, idcg_num, ndcg, mrr) per
    * query — graded-gain nDCG@k plus MRR, the order-sensitive complement
    * of [[annRecallEval]]'s set recall. Integer rank arithmetic with
    * per-position quantized log2 weights (cross-engine exact).
    */
  def annRankingEval(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      probes: Int = 2, excludeSelf: Boolean = true): DataFrame =
    VectorOps.rankingEval(corpus, queries, k, probes, excludeSelf)

  /** SemDeDup cluster-scoped semantic pruning (Abbas et al. 2023):
    * (vec_id, cluster, pruned) — pruned rows have a lower-id in-cluster
    * neighbor at cosine >= `tau`.
    */
  def semDedupPrune(corpus: DataFrame, tau: Double = 0.95): DataFrame =
    VectorOps.semDedupPrune(corpus, tau)

  /** Exact maximum-inner-product top-k (ranking by raw dot product, the
    * scoring rule for unnormalized embeddings): (q_id, neighbor_id, dot).
    * Same broadcast-queries contract as [[annBruteForceTopK]].
    */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      excludeSelf: Boolean = true): DataFrame =
    VectorOps.mipsTopK(corpus, queries, k, excludeSelf)

  /** Approximate MIPS via the norm-augmentation reduction to cosine IVF
    * (every augmented corpus norm becomes the constant max-norm, so
    * cosine ranking IS dot ranking): (q_id, neighbor_id, aug_cos).
    */
  def mipsIvfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      probes: Int = 2, excludeSelf: Boolean = true): DataFrame =
    VectorOps.mipsIvfTopK(corpus, queries, k, probes, excludeSelf)

  /** Two-stage retrieval: cheap candidate generation on the first
    * `prefixDims` embedding coordinates (Matryoshka-style), then exact
    * full-width cosine rerank of the top-`candidates` survivors per query:
    * (q_id, neighbor_id, cos). The retrieve-then-rerank dataflow with a
    * deterministic reranker.
    */
  def rerankTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      prefixDims: Int = 8, candidates: Int = 32,
      excludeSelf: Boolean = true): DataFrame =
    VectorOps.rerankTopK(corpus, queries, k, prefixDims, candidates, excludeSelf)

  /** Cosine range search: ALL corpus neighbors with cos >= `tau` per query
    * (no fixed k — the faiss range_search surface), IVF-pruned to each
    * query's `probes` nearest cells: (q_id, neighbor_id, cos).
    */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, tau: Double = 0.15,
      probes: Int = 2, excludeSelf: Boolean = true): DataFrame =
    VectorOps.rangeSearch(corpus, queries, tau, probes, excludeSelf)

  // ---- time series --------------------------------------------------------

  /** Robust median/MAD anomaly flags per series: input (user_id,
    * bucket_ts, demand), output adds (med, mad, is_anomaly) where a point
    * is anomalous when |demand - med| > 3·1.4826·MAD.
    */
  def anomalies(seriesDf: DataFrame): DataFrame =
    Forecast.madAnomalies(seriesDf)

  /** Linear gap-fill over per-key bucketed series (see [[GapFill.linearKernel]]):
    * fills every missing bucket between each key's first and last
    * observation by linear interpolation. `keyCol` must be long-typed (or
    * long-castable), `bucketCol` a timestamp, `valueCol` a double.
    */
  def gapFillLinear(df: DataFrame, keyCol: String, bucketCol: String,
      valueCol: String, stepSeconds: Long): DataFrame =
    GapFill.linearKernel(df, keyCol, bucketCol, valueCol, stepSeconds)

  /** Per-series forecast in the ML.FORECAST output shape — the reference's
    * `ML.FORECAST(model, STRUCT(horizon, confidence))` parameters surface
    * here directly. `seriesDf` needs (user_id: long, bucket_ts: timestamp,
    * demand: double); `model` is "naive" | "drift" | "ar1" | "holt" |
    * "hw" (additive Holt-Winters; series shorter than two seasons emit
    * no rows) | "theta" (SES-with-drift Theta method) | "kalman"
    * (local-level Kalman filter — flat level, q-per-step widening
    * intervals) (anything else fails fast at plan build). `horizon` rows per series;
    * lo/hi are
    * central `confidence` intervals from the model's one-step residual
    * variance (see [[Forecast.forecast]]).
    */
  def forecast(seriesDf: DataFrame, model: String = "ar1", horizon: Int = 12,
      confidence: Double = 0.9): DataFrame =
    Forecast.forecast(seriesDf, model, horizon, confidence)

  /** Classical daily/weekly seasonal-trend decomposition of a
    * (ts, value) series: one row per day with
    * (n, daily_mean, trend, seasonal, residual), exactly additive.
    */
  def stlDecompose(df: DataFrame): DataFrame = StatOps.stlDecompose(df)

  // ---- event analytics ----------------------------------------------------

  /** Gap-based sessionization of (user_id, event_id, ts) events: one row
    * per session; a session breaks after `gapUs` micros of inactivity.
    */
  def sessionize(events: DataFrame, gapUs: Long = 21600000000L): DataFrame =
    Relational.sessionize(events, gapUs)

  /** Strict-order funnel over (user_id, event_type, ts): one row per stage
    * (stage_idx, stage, n_users); a user reaches stage i only via a
    * stage-i event at or after their stage-(i-1) entry.
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame =
    Relational.funnel(events, stages)

  /** RFM (recency/frequency/monetary) quartile segmentation over
    * (user_id, ts, value) events: one row per user (user_id, r_q, f_q,
    * m_q), quartiles 1-4.
    */
  def rfmSegments(events: DataFrame): DataFrame = Relational.rfmSegments(events)

  /** First-order Markov transition matrix over per-user event journeys:
    * (from_type, to_type, n, p), p row-normalized per from_type.
    */
  def markovTransitions(events: DataFrame): DataFrame =
    Relational.markovTransitions(events)

  // ---- distribution monitoring --------------------------------------------

  /** Rolling z-score anomaly flags on the daily mean of a (ts, value)
    * series — each day scored against its trailing 7 full days, |z| > 3
    * flagged: (day, daily_mean, mean7, z, is_anomaly).
    */
  def rollingAnomaly(df: DataFrame): DataFrame = StatOps.rollingAnomaly(df)

  /** Chi-square categorical drift of `catCol` between the first and second
    * half of the observed time range (df needs catCol + ts); one row per
    * category, sum(chi2_term) = the statistic.
    */
  def chiSquareDrift(df: DataFrame, catCol: String): DataFrame =
    StatOps.chiSquareDrift(df, catCol)

  /** One-row join-key skew summary for `keyCol` (n_keys, total_n, max_n,
    * hot_key, skew_ratio) — the salting-decision diagnostic.
    */
  def keySkewReport(df: DataFrame, keyCol: String): DataFrame =
    StatOps.keySkewReport(df, keyCol)

  // ---- corpus analytics ---------------------------------------------------

  /** Per-document unigram Shannon entropy (nats, milli-nat resolution):
    * (doc_id, n_tokens, entropy). Low entropy = repetitive/templated text.
    */
  def wordEntropy(docs: DataFrame): DataFrame = TextOps.wordEntropy(docs)

  /** Cross-source 8-gram overlap matrix over (doc_id, source, text):
    * one row per overlapping source pair (source_a < source_b,
    * shared_grams) — the source-mixing contamination audit.
    */
  def crossSourceOverlap(docs: DataFrame): DataFrame =
    TextOps.crossSourceOverlap(docs)

  // ---- retrieval training data --------------------------------------------

  /** Hard-negative mining: per query, the k highest-cosine wrong-label
    * corpus items ((vec_id, label, embedding) on both sides). Queries are
    * broadcast — keep that side small; the corpus side streams.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int = 3): DataFrame =
    VectorOps.hardNegatives(corpus, queries, k)

  /** Incremental IVF maintenance: frozen `base` centroids, `batch`
    * assigned to them; per-cell occupancy + needs_split flag.
    */
  def ivfIncremental(base: DataFrame, batch: DataFrame): DataFrame =
    VectorOps.ivfIncremental(base, batch)

  /** Tie-aware ROC-AUC of `scoreCol` against boolean `posCol` via the
    * Mann-Whitney rank statistic over a 1e-6-quantized score histogram:
    * one row (n_pos, n_neg, auc).
    */
  def aucRank(df: DataFrame, scoreCol: String, posCol: String): DataFrame =
    StatOps.aucRank(df, scoreCol, posCol)

  /** Bradley-Terry preference strengths from implicit consecutive-event
    * comparisons: per event_type (n_matches, n_wins, s1, s2) — the
    * aggregation under preference/RLHF-reward data pipelines.
    */
  def bradleyTerry(events: DataFrame): DataFrame = StatOps.bradleyTerry(events)

  /** EXACT median of `events.value` by histogram-refinement selection —
    * no global sort; log_8192(n) bounded-histogram passes plus a narrowed
    * TakeOrdered. One row (n, v_lo, v_hi, median).
    */
  def exactMedian(events: DataFrame,
      spark: org.apache.spark.sql.SparkSession): DataFrame =
    Relational.exactMedian(events, spark)

  /** EXACT mode of `value` per event_type (ties to the smallest value)
    * via two hash aggregations + an argmax struct fold — no sort, no
    * window. (event_type, n, mode_count, mode_value).
    */
  def exactMode(events: DataFrame): DataFrame = Relational.exactMode(events)

  /** Exact lower WEIGHTED median of `valueCol` (centi-quantized) weighted
    * by integer `weightCol`: one row (total_weight, wmedian_cents) — the
    * volume-weighted order statistic ([[exactMedian]] is one-row-one-vote).
    * Hash aggregate onto the quantized-value domain + one bounded window;
    * no global sort.
    */
  def exactWeightedMedian(df: DataFrame, valueCol: String,
      weightCol: String): DataFrame =
    Relational.exactWeightedMedian(df, valueCol, weightCol)

  /** Edit-distance-1 record linkage over (`idCol`, `strCol`) via the
    * SymSpell deletion neighborhood: (a_id, b_id, dist) pairs, no
    * all-pairs step.
    */
  def fuzzyMatchPairs(df: DataFrame, idCol: String, strCol: String): DataFrame =
    TextOps.fuzzyMatchPairs(df, idCol, strCol)

  /** Priority sampling (Duffield-Lund-Thorup): k rows drawn without
    * replacement with probability ~ weight, as a deterministic
    * hash-keyed top-k — (input columns, priority).
    */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame =
    TextOps.prioritySample(df, idCol, weightCol, k)

  /** Matryoshka dimension-truncation recall curve: for each prefix length
    * in `dims`, recall@k of truncated-embedding retrieval vs full-dim
    * ground truth — (dim, recall). Queries are broadcast; keep that side
    * small.
    */
  def mrlRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      dims: Seq[Int]): DataFrame = VectorOps.mrlRecall(corpus, queries, k, dims)

  /** Johnson–Lindenstrauss sign-projection recall: exact top-`k` cosine
    * in a deterministic `p`-dim Rademacher projection, scored against the
    * full-dimension ground truth — one row (p_dim, recall). The
    * projection-tier answer to [[mrlRecall]] for models without
    * Matryoshka training.
    */
  def jlRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      p: Int): DataFrame = VectorOps.jlRecall(corpus, queries, k, p)

  /** Per-dimension means and upper-triangle covariance of the embedding
    * column — whitening/PCA input: one row per (i, j), i <= j, with
    * (i, j, mean_i, cov).
    */
  def embeddingMoments(df: DataFrame): DataFrame = VectorOps.embeddingMoments(df)

  /** Adjacent character-pair frequencies over the word histogram — the
    * pair-count half of one BPE tokenizer-training merge iteration:
    * (pair, freq).
    */
  def bpePairCounts(docs: DataFrame): DataFrame = TextOps.bpePairCounts(docs)

  /** Perceptual-hash near-duplicate screening over binary media
    * (doc_id, payload): banded hamming LSH with a stop-bucket cap;
    * returns (a_id, b_id, hamming) pairs within the hamming budget.
    */
  def phashNearDups(media: DataFrame, hammingMax: Int = 2): DataFrame =
    graft.operators.MultiModal.phashNearDups(media, hammingMax)

  /** Aspect-ratio bucket resize planning (NaViT/SDXL bucketing): assign
    * each image (width, height) to the nearest-aspect fixed-area target
    * bucket and plan per-bucket batches — one row per bucket
    * (bucket_w, bucket_h, n_images, n_batches, sum_ar_gap).
    */
  def aspectBucketPlan(media: DataFrame, batch: Int = 32): DataFrame =
    graft.operators.MultiModal.aspectBucketPlan(media, batch)

  /** A/V sync-offset estimation: split each payload into two tracks,
    * frame-energy both, and estimate the inter-track offset as the
    * integer cross-correlation argmax over ±4 frame lags — one row per
    * payload (doc_id, n_frames, best_lag, best_score).
    */
  def avSyncLag(docs: DataFrame): DataFrame =
    graft.operators.MultiModal.avSyncLag(docs)

  /** 1-bit binary quantization + Hamming candidate search with exact
    * cosine rerank: `corpus`/`queries` need (vec_id, embedding); top-`c`
    * Hamming candidates per query, reranked to `k` by exact cosine.
    */
  def binaryHammingTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      c: Int = 20, excludeSelf: Boolean = true): DataFrame =
    VectorOps.binaryHammingTopK(corpus, queries, k, c, excludeSelf)

  /** Calibration / reliability bins with ECE contributions for a scored
    * eval split: `df` needs (`scoreCol` in [0,1], `posCol` boolean);
    * one row per non-empty bin, sum(ece_term) = the ECE.
    */
  def calibrationBins(df: DataFrame, scoreCol: String, posCol: String,
      bins: Int = 10): DataFrame =
    StatOps.calibrationBins(df, scoreCol, posCol, bins)

  /** Top-k 3-event journey patterns over (user_id, event_type, ts,
    * event_id) — the n-gram extension of [[markovTransitions]].
    */
  def eventTrigrams(events: DataFrame, k: Int = 20): DataFrame =
    Relational.eventTrigrams(events, k)

  /** Log2-bucketed inter-arrival-gap histogram over (user_id, ts,
    * event_id): (bucket = bit length of the micros gap, n, pct).
    */
  def intereventGapHistogram(events: DataFrame): DataFrame =
    Relational.intereventGapHistogram(events)

  /** Zipf rank-frequency fit over the corpus vocabulary: one row
    * (n_vocab, slope, intercept, r2); natural text sits near slope −1.
    */
  def zipfFit(docs: DataFrame): DataFrame = TextOps.zipfFit(docs)

  /** Heaps'-law vocabulary-growth fit of a (doc_id, text) corpus: one row
    * (n_docs, n_points, beta, log_k, r2) — V(N) ≈ K·N^β over power-of-two
    * document checkpoints. Natural text sits at β ≈ 0.4–0.6; an early
    * plateau means duplicate/template mass, β → 1 means noise.
    */
  def heapsLaw(docs: DataFrame): DataFrame = TextOps.heapsLaw(docs)

  /** Per-document 8-gram novelty in ingestion (doc_id) order: one row per
    * doc with (n_grams, n_novel, novelty) — the fraction of the doc's
    * distinct 8-grams no earlier doc contains. The "is another crawl dump
    * worth ingesting" curve.
    */
  def ngramNovelty(docs: DataFrame): DataFrame = TextOps.ngramNovelty(docs)

  /** RAKE keyphrase extraction: corpus top-`topK` stopword-free phrases
    * (≤ 4 words) ranked by summed word degree/frequency scores — the
    * collocation-aware keyword surface over a (doc_id, text) corpus.
    */
  def rakeKeyphrases(docs: DataFrame, topK: Int = 20): DataFrame =
    TextOps.rakeKeyphrases(docs, topK)

  /** Precision/recall/F1 operating-point sweep for a scored eval split:
    * `steps` thresholds over [0,1); one row per threshold with exact
    * integer confusion counts.
    */
  def thresholdSweep(df: DataFrame, scoreCol: String, posCol: String,
      steps: Int = 10): DataFrame =
    StatOps.thresholdSweep(df, scoreCol, posCol, steps)

  /** Kaplan-Meier survival over per-user lifetimes with right-censoring:
    * one row per distinct duration (t_days, n_risk, d, c, survival).
    */
  def kaplanMeier(events: DataFrame, censorDays: Int = 7): DataFrame =
    Relational.kaplanMeier(events, censorDays)

  /** Exact Gini coefficient of per-user event concentration, from the
    * count histogram (no global user sort): one row
    * (n_users, n_events, gini).
    */
  def giniConcentration(events: DataFrame): DataFrame =
    Relational.giniConcentration(events)

  /** Pareto/ABC segmentation of per-user activity from the count
    * histogram (no global user sort): ≤3 rows (abc_class, n_users,
    * n_events, share) — A carries the first 80% of event mass, B the
    * next 15%, C the tail.
    */
  def paretoAbc(events: DataFrame): DataFrame = Relational.paretoAbc(events)

  /** Directed label modularity of the embeddings kNN graph: one row
    * (m, intra, modularity) — do nearest neighbors share labels?
    */
  def knnLabelModularity(corpus: DataFrame, k: Int = 3): DataFrame =
    VectorOps.knnLabelModularity(corpus, k)

  /** IVF recall-vs-probes tuning curve against brute-force ground truth:
    * one row per probe count (probes, truth_pairs, hits, recall).
    */
  def recallVsProbes(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      probesSeq: Seq[Int] = Seq(1, 2, 3, 4)): DataFrame =
    VectorOps.recallVsProbes(corpus, queries, k, probesSeq)

  /** Daily new-vs-returning user split over (user_id, ts): one row per
    * active day (day, active, new_users, returning_users).
    */
  def newVsReturning(events: DataFrame): DataFrame =
    Relational.newVsReturning(events)

  /** One-pass Poisson-bootstrap confidence interval for the mean of
    * `valueCol` (deterministic md5-drawn weights, `b` replicas): one row
    * (n_replicas, point_mean, lo, mid, hi) with a 90% percentile CI.
    */
  def bootstrapCI(df: DataFrame, idCol: String, valueCol: String,
      b: Int = 100): DataFrame =
    StatOps.bootstrapCI(df, idCol, valueCol, b)

  /** Consolidated model-eval report over a scored split: long-format
    * rows (metric, value) for n, pos_rate, auc, ece, best_f1 — the
    * one-call form of [[aucRank]] + [[calibrationBins]] +
    * [[thresholdSweep]].
    */
  def evalReport(df: DataFrame, scoreCol: String, posCol: String): DataFrame =
    StatOps.evalReport(df, scoreCol, posCol)

  /** Cohort lifetime-value curves over (user_id, ts, value): one row per
    * (cohort_day, age) with cumulative ltv_per_user.
    */
  def cohortLtv(events: DataFrame): DataFrame = Relational.cohortLtv(events)

  /** Absorbing-Markov conversion probabilities (reach purchase before
    * error) per transient state, solved exactly by integer Cramer
    * determinants: (state, p_convert).
    */
  def conversionAbsorption(events: DataFrame): DataFrame =
    Relational.conversionAbsorption(events)

  /** int8-quantized ANN serving (the search half of the v6 compression):
    * integer-dot candidates descaled per vector, exact cosine rerank —
    * (q_id, neighbor_id, approx, cos).
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      c: Int = 20, excludeSelf: Boolean = true): DataFrame =
    VectorOps.int8TopK(corpus, queries, k, c, excludeSelf)

  /** Growth-accounting lifecycle counts over (user_id, ts): one row per
    * day (day, n_new, n_retained, n_resurrected, n_churned).
    */
  def lifecycleStates(events: DataFrame): DataFrame =
    Relational.lifecycleStates(events)

  /** Asymmetric near-dup pairs by CONTAINMENT (|Sa∩Sb|/min set size >=
    * threshold) — the quote/subset detector symmetric Jaccard dedup
    * misses; candidates via rare-shingle inverted index, never
    * all-pairs.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.9): DataFrame =
    TextOps.containmentPairs(docs, threshold)

  /** Per-document perplexity under an add-1 bigram LM trained on the
    * corpus — the statistical quality filter (drop the high-perplexity
    * tail). Docs with < 2 tokens emit nothing.
    */
  def bigramPerplexity(docs: DataFrame): DataFrame =
    TextOps.bigramPerplexity(docs)

  /** Corpus-mass length quantiles over a sized corpus (`n_chars`
    * column): per percentile, the length quantile by doc count AND by
    * byte mass — the curve that governs packing/token budgets on
    * heavy-tailed corpora. Exact integer arithmetic, no interpolation.
    */
  def massQuantiles(docs: DataFrame, pcts: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame =
    TextOps.massQuantiles(docs, pcts)

  /** Croston/SBA intermittent-demand forecast over a bucketed sparse
    * series (user_id, bucket_ts, demand): separate EWMAs of demand size
    * and demand interval, per-bucket rate ẑ/p̂ plus the Syntetos-Boylan
    * bias-corrected rate — the forecaster for series the smoothing
    * ladder under-predicts because most buckets are empty.
    */
  def croston(seriesDf: DataFrame, alpha: Double = 0.1): DataFrame =
    Forecast.croston(seriesDf, alpha)

  /** Benjamini-Hochberg FDR step-up over a family of tests
    * (test_id: string, z: double): per test its normal p-value, rank,
    * BH threshold (rank/m·α) and the step-up reject decision — the
    * multiple-testing layer above per-metric tests (a22/d19 style).
    */
  def bhAdjust(tests: DataFrame, alpha: Double = 0.05): DataFrame =
    StatOps.bhAdjust(tests, alpha)

  /** Always-valid mSPRT A/B monitor over any assignment table
    * (bucket: long, isa: boolean, value: double): per bucket the
    * cumulative-arm mean difference, mixture-SPRT ln Λ, and the
    * continuous-monitoring reject decision at α = 0.05 — safe to peek
    * at every bucket, unlike fixed-horizon tests.
    */
  def msprtMonitor(assignments: DataFrame): DataFrame =
    StatOps.msprtMonitor(assignments)

  /** Exact two-sample permutation test of the arm mean difference over any
    * (id, value, isArmA) table: one row (obs_diff, n_perm, n_extreme,
    * p_value) with the add-one Monte-Carlo p over 32 seeded label
    * permutations — distribution-free, unlike the Welch/ANOVA companions.
    */
  def permutationTest(df: DataFrame, idCol: String, valueCol: String,
      armCol: String): DataFrame =
    StatOps.permutationTest(df, idCol, valueCol, armCol)

  /** Mann-Kendall nonparametric trend test over an events (ts, value)
    * stream, bucketed to 6 h: one row (n, s_stat, var_s, z) with the
    * tie-corrected variance and continuity-corrected z. Fires on any
    * monotone drift, no distributional assumptions.
    */
  def mannKendall(events: DataFrame): DataFrame = StatOps.mannKendall(events)

  /** Theil–Sen robust trend slope over an events (ts, value) stream,
    * bucketed to 6 h: one row (n_pairs, sen_slope) — the median pairwise
    * slope, in value-units per bucket. Pair with [[mannKendall]]:
    * direction/significance there, robust magnitude here.
    */
  def theilSen(events: DataFrame): DataFrame = StatOps.theilSen(events)

  /** RiskMetrics EWMA volatility (λ = 0.94) of the 6-h bucket-mean
    * series: per bucket (ret, var_ewma, vol). The second-moment monitor
    * complementing the m23 EWMA level chart (StatOps.ewmaCompose).
    */
  def riskmetricsVol(events: DataFrame): DataFrame = StatOps.riskmetricsVol(events)

  /** Page–Hinkley online drift detector over an events (ts, value)
    * stream, bucketed to 6 h: per bucket (x_mean, ph, ph_min, alarm).
    * One-pass, O(1) state — the streaming-legal member of the drift
    * family; alarm fires when the PH statistic rises > λ above its
    * running minimum.
    */
  def pageHinkley(events: DataFrame): DataFrame = StatOps.pageHinkley(events)

  /** Spearman rank correlation between per-bucket mean value and event
    * volume: one row (n, rho) — the nonparametric "does intensity move
    * with volume" association.
    */
  def spearmanBuckets(events: DataFrame): DataFrame =
    StatOps.spearmanBuckets(events)

  /** MMR-diversified top-3 retrieval: greedy λ·relevance − μ·max-similarity
    * re-selection from each query's top-`cands` candidate pool (both sides
    * need (vec_id, embedding) columns). The diversification stage of the
    * retrieve → rerank → diversify stack.
    */
  def mmrDiversify(corpus: DataFrame, queries: DataFrame, cands: Int = 8,
      lam: Double = 0.7, mu: Double = 0.3): DataFrame =
    VectorOps.mmrDiversify(corpus, queries, cands, lam, mu)

  /** Greedy k-center (farthest-point) selection of a 3-vector corpus
    * skeleton over a (vec_id, embedding) table — the coverage-maximizing
    * diversity sampler for coreset seeds and annotation budgets. One row
    * per pick: (sel_rank, vec_id, max_cos_to_prior).
    */
  def kcenterSelect(corpus: DataFrame): DataFrame =
    VectorOps.kcenterSelect(corpus)

  /** In-engine logistic-regression training over a (y: 0/1, f1, f2)
    * feature table: internal z-score standardization, 10 exact full-batch
    * gradient steps (quantized σ and gradient terms, so the whole
    * trajectory is deterministic and cross-engine replayable), one row
    * (n, w0, w1, w2, accuracy) out.
    */
  def trainLogReg(feats: DataFrame): DataFrame = Forecast.trainLogReg(feats)

  /** Model-based quality filtering: train the [[trainLogReg]] classifier
    * on (y, f1, f2), score every row with the frozen weights, and return
    * the corpus score histogram (decile, n_docs) — the artifact a
    * curation run thresholds on.
    */
  def logRegScoreDeciles(feats: DataFrame): DataFrame =
    Forecast.logRegScoreDeciles(feats)

  /** k-anonymity audit: group sizes per quasi-identifier combination
    * with an `at_risk` flag for groups below `k` — the re-identification
    * check before a dataset release.
    */
  def kAnonymityAudit(df: DataFrame, qi: Seq[String], k: Int = 5): DataFrame =
    StatOps.kAnonymityAudit(df, qi, k)

  /** Embedding OOD/outlier report over (vec_id, embedding): per vector
    * its k-means cell, 1−cos distance to the cell centroid, and the
    * cell's population — filter with `ood_score > tau OR cluster_n <
    * minSupport` (orphaned cells are outlier evidence too).
    */
  def oodScores(emb: DataFrame): DataFrame = VectorOps.oodScores(emb)

  /** kNN label-noise audit over (vec_id, embedding, label): each vector
    * with in-cell neighbors gets its neighbor-majority label and a
    * `flagged` mislabel-candidate bit (majority differs AND is strict) —
    * the per-item companion to the corpus-level label-geometry agreement
    * score.
    */
  def labelNoise(emb: DataFrame, k: Int = 5): DataFrame =
    VectorOps.labelNoise(emb, k)

  /** Embedding-distribution drift (vector-space PSI): `df` needs
    * (embedding, `isRefCol`: boolean snapshot marker); one row per
    * fixed random-hyperplane cosine cell (2^bits) with its smoothed PSI
    * contribution — sum of psi_term is the headline drift score.
    */
  def embeddingDrift(df: DataFrame, isRefCol: String, bits: Int = 6): DataFrame =
    VectorOps.embeddingDrift(df, isRefCol, bits)

  /** Consolidated drift dashboard: one long-format row per headline —
    * value_psi, ks_stat, type_chi2 and (when `embeddings` with an
    * `is_ref` column is given) embedding_psi. The monitoring
    * counterpart of [[evalReport]].
    */
  def driftReport(events: DataFrame, embeddings: DataFrame = null): DataFrame =
    StatOps.driftReport(events, embeddings)

  /** Mann-Whitney U rank-sum test: `isFirstCol` (boolean) marks group-1
    * rows; returns one row (n1, n2, u1, z) with tie-corrected normal
    * approximation (z null when variance is zero). Exact integer rank
    * sums — see operators.StatOps.mannWhitneyU.
    */
  def mannWhitneyU(df: DataFrame, valueCol: String, isFirstCol: String): DataFrame =
    StatOps.mannWhitneyU(df, valueCol, isFirstCol)

  /** Active-days engagement histogram over (user_id, ts): one row per
    * distinct-active-day count with the number of users at it.
    */
  def powerUserCurve(events: DataFrame): DataFrame =
    Relational.powerUserCurve(events)

  /** Longest consecutive-active-day streak histogram over (user_id, ts).
    */
  def activityStreaks(events: DataFrame): DataFrame =
    Relational.activityStreaks(events)

  /** Exact ordered funnel over (user_id, event_type, ts): one row per
    * step in `steps` with the count of users who performed the whole
    * prefix in strictly-increasing event time, plus the fraction of
    * step-1 users. `window` (e.g. "24 hours"), when set, additionally
    * requires every step within that interval of the user's first step.
    */
  def funnelSteps(events: DataFrame, steps: Seq[String],
      window: String = null): DataFrame =
    Relational.funnelSteps(events, steps, window)

  /** Equal-weight naive/drift/theta forecast ensemble with the
    * conservative interval envelope — same series contract as
    * [[forecast]].
    */
  def forecastEnsemble(seriesDf: DataFrame, horizon: Int = 12,
      confidence: Double = 0.9): DataFrame =
    Forecast.forecastEnsemble(seriesDf, horizon, confidence)

  /** Per-series autocorrelation diagnostics (lags 1..maxLag) — same
    * series contract as [[forecast]]; the model-selection companion:
    * seasonal-lag spikes say "hw", geometric decay says "ar1".
    */
  def acf(seriesDf: DataFrame, maxLag: Int = 6): DataFrame =
    Forecast.acf(seriesDf, maxLag)

  /** Vocabulary coverage curve over (text): one row per candidate vocab
    * size (vocab_k, covered_tokens, total_tokens, coverage).
    */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int] = Seq(5, 10, 20)): DataFrame =
    TextOps.vocabCoverage(docs, ks)

  /** Compression-tier distortion report over (vec_id, embedding): one
    * row per tier (int8, binary) with mean/worst reconstruction cosine.
    */
  def compressionDistortion(corpus: DataFrame): DataFrame =
    VectorOps.compressionDistortion(corpus)

  /** One-way ANOVA: does `groupCol` explain `valueCol`? One row
    * (k, n, ss_between, ss_within, f_stat).
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    StatOps.anovaF(df, groupCol, valueCol)

  /** Declarative data-quality suite compiled to ONE scan: returns
    * (check_name, metric, threshold, passed) per constraint. See
    * [[graft.operators.Quality.Constraint]] for the vocabulary.
    */
  def checkConstraints(df: DataFrame,
      cs: Seq[graft.operators.Quality.Constraint]): DataFrame =
    graft.operators.Quality.checkConstraints(df, cs)

  /** Write-audit-publish: stage `df` as an unpublished snapshot
    * candidate of `table`, audit the staged files with the constraint
    * suite, and publish (O(1) metadata rename) only when every check
    * passes. A failed audit discards the candidate — readers never see
    * it. Returns (checksFailed, published, versionAfter).
    */
  def writeAuditPublish(spark: org.apache.spark.sql.SparkSession,
      table: String, df: DataFrame,
      cs: Seq[graft.operators.Quality.Constraint])
      : graft.operators.Quality.WapResult =
    graft.operators.Quality.writeAuditPublish(spark, table, df, cs)

  /** Pairwise KMV set-overlap estimate (est + exact Jaccard eval) of
    * `idCol` sets across `setCol` groups; O(k) sketch state per group.
    */
  def kmvOverlap(df: DataFrame, setCol: String, idCol: String, k: Int = 64): DataFrame =
    StatOps.kmvOverlap(df, setCol, idCol, k)

  /** Top-k PMI collocations over a corpus with a `text` column. */
  def pmiCollocations(docs: DataFrame, minCount: Int = 5, k: Int = 20): DataFrame =
    TextOps.pmiCollocations(docs, minCount, k)

  /** Per-cell mutual information between two categorical columns, with the
    * exactly-summed total on every row.
    */
  def mutualInformation(df: DataFrame, xCol: String, yCol: String): DataFrame =
    StatOps.mutualInformation(df, xCol, yCol)

  /** Isotonic (PAVA) fit over a binned (bin, n, pos) calibration table:
    * adds exact rate and monotone fitted columns.
    */
  def pavaFit(binned: DataFrame): DataFrame = StatOps.pavaFit(binned)
}
