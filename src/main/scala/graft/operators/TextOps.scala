package graft.operators

import graft.api.GraftQuery
import graft.core.Tables
import graft.functions.HashDraw
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication surface for large-scale training-data
  * pipelines: exact dedup, MinHash-LSH near-dup, n-gram Jaccard, SimHash,
  * token/quality stats, language-ID heuristic.
  *
  * Scale design: nothing here is all-pairs. Signatures are computed with
  * higher-order functions inside whole-stage codegen (one pass over each
  * document, no shuffle); candidate generation shuffles only on (band,
  * band-hash) keys; exact-verify joins touch candidate pairs only. At 100 TB
  * the band join is the single heavy exchange and it is uniformly
  * distributed by construction (hash keys).
  */
object TextOps {

  /** Distinct 3-word shingle set per doc (the near-dup unit — single words
    * are too common in natural text for set similarity to discriminate).
    */
  private[operators] def shingleSets(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        when(size(col("w")) >= 3,
          array_distinct(expr(
            "transform(sequence(1, size(w) - 2), i -> concat_ws('|', element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))")))
          .otherwise(array().cast("array<string>")).as("sh"))

  /** FNV-1a 64-bit string hash — the single base hash per shingle. */
  private[operators] def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Deterministic odd multipliers/offsets for the universal hash family
    * h_i(x) = a_i * x + b_i (splitmix64 of the index).
    */
  private def mixCoef(i: Long): Long = {
    var z = i + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** MinHash LSH band keys, computed in one typed pass: each shingle is
    * base-hashed once (FNV-1a), the numHashes min-hashes come from the
    * universal family a_i*h+b_i, and each band's row-slice is folded into a
    * single bucket key. A pure Spark-SQL formulation with nested
    * higher-order functions evaluates lambdas interpreted (not codegen) and
    * re-hashes every shingle numHashes times — 10-20x slower at sf0.1.
    * Output: (doc_id, band, bh).
    */
  private def lshBands(sets: DataFrame, numHashes: Int, bands: Int, rows: Int): DataFrame = {
    val s = sets.sparkSession
    import s.implicits._
    sets.select(col("doc_id"), col("sh")).as[(Long, Seq[String])]
      .flatMap { case (id, sh) =>
        if (sh.isEmpty) Iterator.empty
        else {
          val base = new Array[Long](sh.size)
          var j = 0
          sh.foreach { t => base(j) = fnv64(t); j += 1 }
          val sig = Array.tabulate(numHashes) { i =>
            val a = mixCoef(2L * i) | 1L
            val b = mixCoef(2L * i + 1)
            var mn = Long.MaxValue
            var k = 0
            while (k < base.length) { val v = a * base(k) + b; if (v < mn) mn = v; k += 1 }
            mn
          }
          (0 until bands).iterator.map { bd =>
            var h = 1125899906842597L
            var r = 0
            while (r < rows) { h = h * 31 + sig(bd * rows + r); r += 1 }
            (id, bd, h)
          }
        }
      }
      .toDF("doc_id", "band", "bh")
  }

  /** LSH candidate pairs: shuffle on (band, bucket-key), emit each
    * co-bucketed id pair once. Never materializes all pairs, and never
    * shuffles the shingle arrays — candidates are id-only (the verify step
    * re-joins the sets by id), so the distinct() dedupes 24-byte rows
    * instead of kilobyte arrays.
    */
  private def lshCandidates(sets: DataFrame, numHashes: Int, bands: Int, rows: Int): DataFrame = {
    val banded = lshBands(sets, numHashes, bands, rows)
    val a = banded.select(col("band"), col("bh"), col("doc_id").as("a_id"))
    val b = banded.select(col("band"), col("bh"), col("doc_id").as("b_id"))
    a.join(b, Seq("band", "bh")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Re-attach each candidate pair's shingle sets for exact verification. */
  private def withSets(cands: DataFrame, sets: DataFrame): DataFrame =
    cands
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")

  /** Exact Jaccard via the native fused expression (graft.plans) — one
    * pass, no intermediate intersect/union arrays. Same int->double
    * division the oracle performs. Callers must have run
    * [[graft.plans.GraftExtensions.register]] on the session.
    */
  private def jaccard(a: Column, b: Column): Column =
    call_function("graft_array_jaccard", a, b)

  // ------------------------------------------------------------------------
  // Public DataFrame-in operator API (see graft.api.Graft). Every function
  // takes a corpus with (doc_id: long, text: string) columns and returns a
  // DataFrame; the driver queries below delegate to these on the test
  // tables, so the library surface is exactly what the oracle gate checks.
  // ------------------------------------------------------------------------

  /** Exact duplicate groups by content hash: (h, n, keeper=min doc_id). */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))

  /** LSH banding derived from the requested Jaccard threshold: the largest
    * rows-per-band r (fewest candidates) whose recall at exactly
    * j = threshold stays >= 0.999, i.e. 1 - (1 - t^r)^(64/r) >= 0.999.
    * A fixed 16x4 scheme tuned for j >= 0.9 would silently lose ~1/3 of
    * true pairs at threshold 0.5; deriving (bands, rows) keeps the recall
    * contract at every supported threshold. Below ~0.11 even 64 one-hash
    * bands cannot reach the floor, so that is the domain bound.
    */
  private def bandingFor(threshold: Double, numHashes: Int = 64): (Int, Int) = {
    require(threshold >= 0.11 && threshold <= 1.0,
      s"threshold must be in [0.11, 1.0] (LSH recall >= 0.999 is unreachable below), got $threshold")
    val r = Seq(64, 32, 16, 8, 4, 2, 1)
      .filter(numHashes % _ == 0)
      .find { r =>
        1.0 - math.pow(1.0 - math.pow(threshold, r), (numHashes / r).toDouble) >= 0.999
      }
      .getOrElse(1)
    (numHashes / r, r)
  }

  /** Near-duplicate pairs at `threshold` 3-shingle Jaccard:
    * (a_id, b_id, jaccard), a_id < b_id. LSH-bucketed with
    * [[bandingFor]]-derived bands (recall >= 0.999 at the requested
    * threshold; 16x4 at the 0.9 default family), exact-verified — never
    * all-pairs.
    */
  def nearDupPairs(docs: DataFrame, threshold: Double): DataFrame = {
    graft.plans.GraftExtensions.register(docs.sparkSession)
    val (bands, rows) = bandingFor(threshold)
    // the sets table feeds THREE consumers (banding + both verify-side
    // attachments); without staging it, each re-scans the corpus and
    // re-shingles every document — materialize once, the same role a
    // staged intermediate write plays in a cluster pipeline (and the
    // pattern [[dupComponents]] already uses for its collapsed corpus)
    val sets = shingleSets(docs).localCheckpoint()
    withSets(lshCandidates(sets, numHashes = 64, bands = bands, rows = rows), sets)
      .withColumn("jaccard", jaccard(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Duplicate clusters: transitive closure of [[nearDupPairs]] —
    * (doc_id, component, n_members); singletons are their own component.
    *
    * Identical texts are collapsed to ONE representative (min doc_id per
    * content md5) BEFORE the LSH stage: a g-doc boilerplate cluster —
    * routine in web corpora, and the classic quadratic trap — would
    * otherwise enter one LSH bucket and emit g(g−1)/2 all-confirming
    * candidate pairs. Identical texts have identical shingle sets, so a
    * member's jaccard to ANY third doc equals its representative's: the
    * component partition is bit-identical, only its discovery cost
    * changes (the collapse is one md5 groupBy; membership re-expands by
    * hash join at the end). Component labels are unchanged too: the
    * minimum doc of a component is always its own group's representative.
    */
  def dupComponents(docs: DataFrame, threshold: Double): DataFrame = {
    // docs under 3 words have NO shingles, so the LSH path can never pair
    // them — even with identical text. They get a per-doc key so the
    // collapse cannot link what the pair semantics wouldn't.
    val keyed = docs.select(col("doc_id"),
      when(size(split(col("text"), " ")) >= 3, md5(col("text")))
        .otherwise(concat(lit("solo_"), col("doc_id"))).as("h"))
    val reps = keyed.groupBy("h").agg(min("doc_id").as("rep_id"))
    // materialize the collapsed corpus ONCE: the LSH stage reads it three
    // times (banding + the two verify-side set attachments), each of which
    // would otherwise recompute the collapse join over the full corpus —
    // localCheckpoint here plays the role a staging write plays in a
    // cluster pipeline (and the closure below checkpoints per round anyway)
    val repDocs = docs.join(
      reps.select(col("rep_id").as("doc_id")), "doc_id").localCheckpoint()
    val comps = GraphOps.components(repDocs, "doc_id",
      nearDupPairs(repDocs, threshold)
        .select(col("a_id").as("u"), col("b_id").as("v")))
    val labeled = keyed.join(reps, "h")
      .join(comps.select(col("id").as("rep_id"), col("component")), "rep_id")
      .select(col("doc_id"), col("component"))
      .localCheckpoint() // two consumers: the size agg and the final join
    labeled.join(
      labeled.groupBy("component").agg(count(lit(1)).as("n_members")),
      "component")
      .select(col("doc_id"), col("component"), col("n_members"))
  }

  /** Duplicate word-set groups: (doc_id, group_id = min member id,
    * n_members), one row per doc whose distinct word set is shared with at
    * least one other doc. At threshold 1.0, MinHash-LSH degenerates to an
    * exact fingerprint — identical sets collide with probability 1 and a
    * full-signature band is just a 64-hash digest of the set — so the op
    * groups directly on the canonical-set md5 (16 shuffled bytes per doc,
    * never signatures or word arrays; same collision contract as x1's
    * md5(text) groupBy). The GROUP form is deliberately the default
    * output: the pair form is Θ(Σ g²) rows for g-doc groups — a planted
    * boilerplate cluster of 1M identical pages would emit 5·10¹¹ pairs —
    * while this form is one row per member. [[dupSetPairs]] re-expands
    * pairs for small-group consumers (graph edges, triangle counts).
    */
  def minHashDupSets(docs: DataFrame): DataFrame = {
    val canon = md5(concat_ws(" ",
      array_sort(array_distinct(split(col("text"), " ")))))
    val keyed = docs.select(col("doc_id"), canon.as("h"))
    val groups = keyed.groupBy("h")
      .agg(min("doc_id").as("group_id"), count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
    keyed.join(groups, "h").select("doc_id", "group_id", "n_members")
  }

  /** Pair expansion of [[minHashDupSets]]: (a_id, b_id), a_id < b_id, one
    * row per unordered pair of docs with identical word sets. Output is
    * quadratic in group size BY SEMANTICS (a g-doc dup set is a g-clique
    * with g(g−1)/2 edges); the expansion's join input is the collapsed
    * 16-byte (group_id, doc_id) rows — the inherent output volume is the
    * only quadratic cost, never LSH bucket work over shingle arrays. Use
    * the group form for curation decisions at scale; this is the
    * small-group path.
    */
  def dupSetPairs(docs: DataFrame): DataFrame = {
    val g = minHashDupSets(docs).select("group_id", "doc_id")
    g.select(col("group_id"), col("doc_id").as("a_id"))
      .join(g.select(col("group_id"), col("doc_id").as("b_id")), "group_id")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
  }

  /** Benchmark decontamination report: per `train` doc, how many of its
    * distinct 8-grams appear verbatim in `benchmark` (which is broadcast —
    * keep it the small side): (doc_id, n_hits, contaminated).
    */
  def contaminationCheck(train: DataFrame, benchmark: DataFrame): DataFrame = {
    val bench = grams8(benchmark).select("g").distinct()
    val hits = grams8(train)
      .join(broadcast(bench), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    // left side is the full train set, not the gram stream — docs shorter
    // than 8 words emit no grams but still belong in the report (n_hits 0)
    train.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Sequence-packing layout: each doc's span in concatenate-and-chunk
    * context windows of `packTokens`, packed independently per
    * `domainCol`. The per-domain running token sum is a TWO-LEVEL prefix
    * sum (the same partial-then-offset decomposition as
    * [[tokenBudgetSelect]]): docs bucket into contiguous doc_id ranges of
    * `shardSpan` ids, per-(domain, shard) subtotals produce a
    * broadcast-size offset table (one window over #shards rows per
    * domain), and the row-level sort window partitions by
    * (domain, shard) — never by the whole domain. A 10-TB source becomes
    * ~corpus/shardSpan bounded window tasks instead of ONE serialized
    * sort task. Integer-only arithmetic, so the layout is bit-identical
    * for every shardSpan — sharding is pure parallelism, not semantics.
    */
  def sequencePack(docs: DataFrame, domainCol: String, packTokens: Int,
      shardSpan: Long = 65536L): DataFrame =
    packByCost(
      docs.select(col("doc_id"), col(domainCol),
        size(split(col("text"), " ")).as("n_tok")),
      domainCol, packTokens, shardSpan)

  /** Packing core over an arbitrary per-doc cost: `t0` must carry
    * (doc_id, domainCol, n_tok) where n_tok is the doc's integer cost in
    * context-window units (plain token count for text packing; a
    * modality-weighted cost for multimodal packing — see MultiModal.mm4).
    * Two-level shard-offset prefix sum, integer-only (see [[TextOps]]
    * x16 notes).
    */
  def packByCost(t0: DataFrame, domainCol: String, packTokens: Int,
      shardSpan: Long): DataFrame = {
    val t = t0
      .withColumn("shard", expr(s"doc_id div $shardSpan"))
    val offsets = t.groupBy(col(domainCol), col("shard"))
      .agg(sum(col("n_tok").cast("long")).as("stok"))
      .withColumn("offset", coalesce(
        sum("stok").over(Window.partitionBy(domainCol).orderBy("shard")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(domainCol), col("shard"), col("offset"))
    val win = Window.partitionBy(col(domainCol), col("shard")).orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(offsets), Seq(domainCol, "shard"))
      .withColumn("start_tok", col("offset") + coalesce(sum("n_tok").over(win), lit(0L)))
      .withColumn("first_pack", expr(s"start_tok div $packTokens"))
      .withColumn("last_pack", expr(s"(start_tok + n_tok - 1) div $packTokens"))
      .withColumn("n_packs", col("last_pack") - col("first_pack") + 1)
      .select(col("doc_id"), col(domainCol), col("n_tok"), col("start_tok"),
        col("first_pack"), col("last_pack"), col("n_packs"))
  }

  /** Incremental dedup verdicts for a new `batch` against an existing
    * `corpus` (never rescanned beyond its fingerprints): canonical
    * sorted-word-set md5 keys; (doc_id, h, in_corpus, batch_first, keep).
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val canon = md5(concat_ws(" ",
      array_sort(array_distinct(split(col("text"), " ")))))
    val corpusH = corpus.select(canon.as("h")).distinct()
      .withColumn("in_corpus", lit(true))
    val wh = Window.partitionBy("h")
    batch.select(col("doc_id"), canon.as("h"))
      .withColumn("batch_first", col("doc_id") === min("doc_id").over(wh))
      .join(corpusH, Seq("h"), "left")
      .withColumn("in_corpus", coalesce(col("in_corpus"), lit(false)))
      .withColumn("keep", !col("in_corpus") && col("batch_first"))
      .select("doc_id", "h", "in_corpus", "batch_first", "keep")
  }

  /** Per-doc token statistics (whitespace + BPE-ish regex token counts). */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).as("n_words"),
      size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
        .as("n_bpe_tokens"),
      length(col("text")).as("len_chars"),
      (length(regexp_replace(col("text"), " ", "")).cast("double") /
        size(split(col("text"), " "))).as("avg_word_len"))

  /** Overlapping token-window passages: (doc_id, chunk_idx, n_tok,
    * chunk_md5) — 64-token windows advancing by 48. Pure lateral fan-out,
    * zero shuffle.
    */
  def chunkPassages(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("n", size(col("w")))
      .withColumn("nc", when(col("n") <= ChunkTokens, lit(1))
        .otherwise(expr(s"1 + (n - $ChunkTokens + ${ChunkStride - 1}) div $ChunkStride").cast("int")))
      .select(col("doc_id"), col("w"), col("n"),
        explode(expr("sequence(0, nc - 1)")).as("chunk_idx"))
      .withColumn("chunk", expr(
        s"slice(w, chunk_idx * $ChunkStride + 1, least($ChunkTokens, n - chunk_idx * $ChunkStride))"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).as("n_tok"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))

  /** Composite quality score in [0, 1]: length + stopword-ratio terms. */
  def qualityScore(docs: DataFrame): DataFrame =
    docs.withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        (lit(0.5) * least(lit(1.0), size(col("w")).cast("double") / 100.0) +
          lit(0.5) * (lit(1.0) - expr("size(filter(w, t -> t IN ('the', 'a', 'or', 'and', 'of')))").cast("double") / size(col("w"))))
          .as("quality"))

  /** X1: exact dedup via content-hash groupBy (the canonical first pass of
    * any corpus dedup; hash-shuffle on md5 keys, uniform by construction).
    */
  val x1: GraftQuery = GraftQuery(
    "x1_exact_dedup_md5",
    (s, d) => exactDupGroups(Tables.documents(s, d)),
    Some("SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper FROM documents GROUP BY md5(text)"))

  /** X5: duplicate-set detection at threshold 1.0 (identical word sets).
    * GROUP output — one row per member doc, labeled by the group minimum —
    * because the pair form is quadratic in group size (see
    * [[minHashDupSets]]); the oracle groups by the same canonical-set md5.
    * Sub-threshold near-dup recall (where real MinHash banding matters) is
    * x7's job and is property-tested in TextOpsSpec.
    */
  val x5: GraftQuery = GraftQuery(
    "x5_minhash_lsh_dupsets",
    (s, d) => minHashDupSets(Tables.documents(s, d)),
    Some("""WITH t AS (SELECT doc_id,
           |  md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')) AS h FROM documents),
           |g AS (SELECT h, min(doc_id) AS group_id, count(*) AS n_members
           |  FROM t GROUP BY h HAVING count(*) >= 2)
           |SELECT t.doc_id, g.group_id, g.n_members FROM t JOIN g USING (h)""".stripMargin))

  /** X7: n-gram Jaccard near-dup at 0.9 — LSH candidates (16 bands x 4
    * rows: miss probability < 1e-7 at j >= 0.9) verified with exact Jaccard.
    * The oracle brute-forces all pairs, which is only feasible at oracle
    * scale; the engine path stays bucketed.
    */
  val x7: GraftQuery = GraftQuery(
    "x7_ngram_jaccard_neardup",
    (s, d) => nearDupPairs(Tables.documents(s, d), 0.9),
    Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
           |  ELSE [] END AS s FROM t)
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |  len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
           |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.9""".stripMargin))

  /** Per-doc FULL MinHash signature (same a*h+b family and fnv64 base as
    * [[lshBands]], which only exposes folded band keys): (doc_id,
    * sig: array<long>[numHashes]). One typed pass, each shingle hashed
    * once per component.
    */
  private def minhashSignatures(sets: DataFrame, numHashes: Int): DataFrame = {
    val s = sets.sparkSession
    import s.implicits._
    sets.select(col("doc_id"), col("sh")).as[(Long, Seq[String])]
      .map { case (id, sh) =>
        val base = sh.iterator.map(fnv64).toArray
        val sig = Array.tabulate(numHashes) { i =>
          val a = mixCoef(2L * i) | 1L
          val b = mixCoef(2L * i + 1)
          var mn = Long.MaxValue
          var k = 0
          while (k < base.length) { val v = a * base(k) + b; if (v < mn) mn = v; k += 1 }
          mn
        }
        (id, sig)
      }.toDF("doc_id", "sig")
  }

  /** MinHash estimator quality evaluation — the v10-for-text loop: for
    * every verified near-dup pair at `threshold`, compare the signature
    * estimate Ĵ = |{i : sig_a[i] = sig_b[i]}| / numHashes against the
    * exact shingle Jaccard, and gate |Ĵ − J| <= 0.2 (at J >= 0.9 and 64
    * hashes the estimator's σ = sqrt(J(1−J)/64) ≈ 0.037, so the gate sits
    * ~5σ out; like a20/a21 the estimate is deterministic for fixed input —
    * validated per-SF, re-verify if the data is regenerated). This is the
    * measurement that justifies trusting banded signatures INSTEAD of
    * exact verification when the corpus outgrows the verify join.
    * Output: (a_id, b_id, jaccard, ok). Signatures are computed once per
    * doc and joined by id — the pair side never carries shingle arrays.
    */
  def minhashJaccardEval(docs: DataFrame, threshold: Double = 0.9,
      numHashes: Int = 64): DataFrame = {
    val pairs = nearDupPairs(docs, threshold)
    val sigs = minhashSignatures(shingleSets(docs), numHashes)
    pairs
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .withColumn("est",
        expr("aggregate(zip_with(a_sig, b_sig, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
          / numHashes.toDouble)
      .select(col("a_id"), col("b_id"), col("jaccard"),
        (abs(col("est") - col("jaccard")) <= 0.2).as("ok"))
  }

  /** X29 (beyond reference): the [[minhashJaccardEval]] gate on the
    * documents corpus at the x7 threshold — oracle replays the exact
    * Jaccard brute-force and pins ok = true.
    */
  val x29: GraftQuery = GraftQuery(
    "x29_minhash_jaccard_eval",
    (s, d) => minhashJaccardEval(Tables.documents(s, d), 0.9),
    Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
           |  ELSE [] END AS s FROM t)
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |  len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) AS jaccard,
           |  true AS ok
           |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.9""".stripMargin))

  /** X30 (beyond reference): deterministic training-order shuffle +
    * sharding — the corpus-to-dataloader layout step every training run
    * needs: each doc gets a REPRODUCIBLE pseudo-random sort key (salted
    * md5, the x10 family), lands in one of 32 shards by key residue, and
    * receives its within-shard position. Re-running with the same salt
    * reproduces the exact global order (restartable training); changing
    * the salt is a fresh epoch-level shuffle with zero data movement
    * beyond the re-sort. Scale: the position window partitions by shard —
    * pick nShards ∝ corpus/target-shard-size and every window task is
    * bounded at the target shard size; the shard assignment itself is a
    * pure map. Output: (doc_id, shard, pos).
    */
  val x30: GraftQuery = GraftQuery(
    "x30_corpus_shuffle_shard",
    (s, d) => {
      val w = Window.partitionBy("shard").orderBy(col("key"), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("key", expr(
          "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':42')), 1, 15), 16, 10) AS BIGINT)"))
        .withColumn("shard", col("key") % 32)
        .withColumn("pos", row_number().over(w))
        .select("doc_id", "shard", "pos")
    },
    Some("""WITH k AS (SELECT doc_id,
           |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15) AS BIGINT) AS key
           |  FROM documents)
           |SELECT doc_id, key % 32 AS shard,
           |  CAST(row_number() OVER (PARTITION BY key % 32 ORDER BY key, doc_id) AS INT) AS pos
           |FROM k""".stripMargin))

  /** X31 (beyond reference): BM25 relevance scoring (Robertson &
    * Spärck Jones; the Okapi tf-saturation form with k1=1.2, b=0.75) — the
    * lexical-retrieval half of training-data selection: score every
    * document against a query term set, e.g. to mine domain-relevant
    * subsets of a web corpus. The idf is kept RATIONAL —
    * (N − df + 0.5)/(df + 0.5), the exponential of the standard log-idf —
    * for the same reason as x9: ln() libm implementations differ across
    * engines in the last ulp, while this form is a fixed tree of
    * correctly-rounded IEEE ops, bit-exact everywhere (production swaps in
    * `log(...)` as a one-expression change; per-term ranking is invariant
    * under the monotone transform, and the documented contract here is the
    * rational variant). The per-doc total is a FIXED-ORDER sum of the
    * per-term pivot columns, not a float `sum()` aggregate, so
    * accumulation order cannot differ between engines.
    *
    * Scale: the term filter collapses the exploded word stream to
    * query-term hits BEFORE the tf aggregation, so the shuffle carries
    * only matching (doc, term) pairs; df (|terms| rows) and the corpus
    * stats (1 row) broadcast. Everything else is keyed by doc_id —
    * AQE-splittable, no all-pairs, no global sort.
    */
  /** Public DataFrame-in API (see [[graft.serve.QueryService.docSearch]]):
    * Okapi BM25 scoring of every document against the fixed three-term
    * query ("dup"/"join"/"batch" — a rare/mid/common df spread). The term
    * list is the production parameterization seam (a real search endpoint
    * binds it per request); it is FIXED here so the per-term score sum is
    * a fixed-order IEEE fold both engines replay (a dynamic term set
    * would need a quantized sum — the x45 discipline — instead).
    */
  def bm25Score(docsIn: DataFrame): DataFrame = {
      val terms = Seq("dup", "join", "batch") // rare / mid / common: df spread
      val docs = docsIn
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .withColumn("dl", size(col("ws")).cast("long"))
      val stats = docs.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
      val tf = docs.select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("w").agg(countDistinct(col("doc_id")).as("df"))
      val scored = tf.join(broadcast(dfreq), "w").crossJoin(broadcast(stats))
        .withColumn("avgdl", col("sum_dl").cast("double") / col("n").cast("double"))
        .withColumn("idf",
          ((col("n").cast("double") - col("df").cast("double")) + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)))
        .withColumn("tfn",
          (col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") +
              lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))))
        .withColumn("sc", col("idf") * col("tfn"))
      scored.groupBy("doc_id")
        .agg(
          max(when(col("w") === "dup", col("sc"))).as("s_dup"),
          max(when(col("w") === "join", col("sc"))).as("s_join"),
          max(when(col("w") === "batch", col("sc"))).as("s_batch"))
        .withColumn("bm25",
          coalesce(col("s_dup"), lit(0.0)) + coalesce(col("s_join"), lit(0.0)) +
            coalesce(col("s_batch"), lit(0.0)))
        .select("doc_id", "bm25")
  }

  /** x31's exact BM25 oracle SQL, parameterized by an optional corpus
    * filter (e.g. "WHERE doc_id % 10 != 0"): the serve layer's
    * versioned-snapshot gates replay the same scoring over a SUBSET —
    * df, N and avgdl all shift with the slice — so the formula and the
    * query-term list live in exactly one place.
    */
  def bm25OracleSql(where: String = ""): String =
    s"""WITH d2 AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents $where),
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
           |  FROM tf CROSS JOIN stats JOIN dfreq ON tf.w = dfreq.w)
       |SELECT doc_id,
       |  coalesce(max(CASE WHEN w = 'dup' THEN sc END), CAST(0 AS DOUBLE))
       |  + coalesce(max(CASE WHEN w = 'join' THEN sc END), CAST(0 AS DOUBLE))
       |  + coalesce(max(CASE WHEN w = 'batch' THEN sc END), CAST(0 AS DOUBLE)) AS bm25
       |FROM sc GROUP BY doc_id""".stripMargin

  val x31: GraftQuery = GraftQuery(
    "x31_bm25_score",
    (s, d) => bm25Score(Tables.documents(s, d)),
    Some(bm25OracleSql()))

  /** One PageRank power-step of the x32 oracle: contributions folded in
    * source-id order (list_sort of [src, contrib] pairs — src is unique per
    * dst, so the order is total), seeded with a DOUBLE zero per the
    * DECIMAL-literal gotcha, mirroring the Spark side's
    * `aggregate(array_sort(collect_list(struct(src, c))), 0.0, +)` exactly.
    */
  private def prIterSql(i: Int): String = {
    val p = s"r${i - 1}"
    // MATERIALIZED: r_{i-1} is referenced twice per step (sum + join) —
    // inlined CTEs would re-evaluate the all-pairs `pairs` subtree 2^steps
    // times
    s"""s$i AS MATERIALIZED (SELECT dst, list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(list_sort(list([CAST(src AS DOUBLE), rank / CAST(deg AS DOUBLE)])),
       |      q -> q[2])), (a, b) -> a + b) AS s
       |  FROM ed JOIN $p ON ed.src = $p.id GROUP BY dst),
       |r$i AS MATERIALIZED (SELECT id, base, base + CAST(0.85 AS DOUBLE) * coalesce(s, CAST(0 AS DOUBLE)) AS rank
       |  FROM $p LEFT JOIN s$i ON $p.id = s$i.dst)""".stripMargin
  }

  /** X32 (beyond reference): PageRank centrality over the near-duplicate
    * graph — the graph-quality signal of web-corpus curation (link-graph
    * centrality ranks pages/domains; here the same kernel runs on the
    * duplicate graph, where high rank = hub of a large dup cluster).
    * Kernel in [[graft.operators.GraphOps.pageRank]]: 3 fixed power steps,
    * d = 0.85, per-node in-sums as fixed-order folds so every float
    * accumulates in source-id order on both engines — bit-exact without
    * any tolerance. The oracle replays the exact all-pairs Jaccard-0.9
    * pair derivation (feasible only at oracle scale — the engine path is
    * LSH-bucketed, never all-pairs) and the same three steps as chained
    * CTEs.
    */
  val x32: GraftQuery = GraftQuery(
    "x32_pagerank",
    (s, d) => {
      val docs = Tables.documents(s, d)
      GraphOps.pageRank(docs, "doc_id",
        nearDupPairs(docs, 0.9).select(col("a_id").as("u"), col("b_id").as("v")))
        .select(col("id").as("doc_id"), col("pagerank"))
    },
    Some(s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, CASE WHEN len(w) >= 3
           |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
           |  ELSE [] END AS s FROM t),
           |pairs AS MATERIALIZED (SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
           |sym AS (SELECT u AS src, v AS dst FROM pairs UNION ALL SELECT v, u FROM pairs),
           |degt AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
           |ed AS MATERIALIZED (SELECT sym.src, sym.dst, degt.deg FROM sym JOIN degt USING (src)),
           |nn AS (SELECT count(*) AS n FROM documents),
           |r0 AS (SELECT doc_id AS id, CAST(0.15 AS DOUBLE) / CAST(n AS DOUBLE) AS base,
           |  CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS rank FROM documents CROSS JOIN nn),
           |${(1 to 3).map(prIterSql).mkString(",\n")}
           |SELECT id AS doc_id, rank AS pagerank FROM r3""".stripMargin))

  /** X33 (beyond reference): unigram language-model quality score — the
    * CCNet-style LM filter (Wenzek et al., "CCNet: Extracting High Quality
    * Monolingual Datasets from Web Crawl Data" — public literature) with
    * the model trained on the corpus itself: per-token probability
    * cnt(w)/total, per-doc score = MEAN token probability (low = mostly
    * rare/garbage tokens). The score stays RATIONAL — one division per
    * vocab entry — instead of log-perplexity, for the x31 reason: `ln` is
    * libm-dependent in the last ulp while this is a fixed tree of
    * correctly-rounded IEEE ops; a production variant swaps in
    * `-avg(log2(p))` as a one-expression change (ranking is
    * monotone-equivalent on the mean only when token counts match, which
    * is why the contract here names mean-probability, not perplexity).
    * The per-doc sum folds probabilities in sorted order (duplicated
    * values are equal doubles, so intra-tie order cannot change the sum) —
    * bit-exact cross-engine.
    *
    * Scale: vocab is a (word, count) aggregation — term-keyed,
    * AQE-splittable like x9; the score join streams tokens against the
    * vocab keyed by word (never broadcast-sized by assumption); the
    * per-doc fold state is one doc's token list, bounded by doc length.
    */
  val x33: GraftQuery = GraftQuery(
    "x33_lm_quality_score",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val probs = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(toks.agg(count(lit(1)).as("total"))))
        .select(col("w"),
          (col("cnt").cast("double") / col("total").cast("double")).as("p"))
      toks.join(probs, "w")
        .groupBy("doc_id")
        .agg(
          aggregate(array_sort(collect_list(col("p"))), lit(0.0),
            (acc, x) => acc + x).as("sp"),
          count(lit(1)).as("n_tok"))
        .select(col("doc_id"),
          (col("sp") / col("n_tok").cast("double")).as("mean_token_prob"),
          col("n_tok"))
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents),
           |tot AS (SELECT count(*) AS total FROM toks),
           |vocab AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
           |probs AS (SELECT w, CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS p
           |  FROM vocab CROSS JOIN tot)
           |SELECT doc_id,
           |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_sort(list(p))), (a, b) -> a + b)
           |    / CAST(count(*) AS DOUBLE) AS mean_token_prob,
           |  count(*) AS n_tok
           |FROM toks JOIN probs USING (w)
           |GROUP BY doc_id""".stripMargin))

  /** One peeling round of the x34 oracle: degrees over the symmetrized
    * round-(i−1) edges, keep nodes with degree ≥ 2, keep edges with both
    * endpoints kept — the chained-CTE replay of one
    * [[graft.operators.GraphOps.kCore]] round.
    */
  private def kcIterSql(i: Int): String = {
    val p = s"e${i - 1}"
    // MATERIALIZED: each round references the previous round's edges
    // twice (degree + filter) — inlined CTEs would re-evaluate the
    // expensive all-pairs `pairs` subtree 2^rounds times
    s"""d$i AS MATERIALIZED (SELECT u, count(*) AS deg FROM
       |  (SELECT u, v FROM $p UNION ALL SELECT v, u FROM $p) GROUP BY u),
       |k$i AS MATERIALIZED (SELECT u FROM d$i WHERE deg >= 2),
       |e$i AS MATERIALIZED (SELECT e.u, e.v FROM $p e JOIN k$i a ON e.u = a.u JOIN k$i b ON e.v = b.u)""".stripMargin
  }

  /** X34 (beyond reference): 2-core of the near-duplicate graph by fixed
    * 4-round peeling ([[graft.operators.GraphOps.kCore]]) — separates
    * densely-duplicated content families (dup sets are cliques: any set
    * of size ≥ 3 survives the 2-core) from isolated near-dup pairs, the
    * graph-shape complement of x27's triangle count. `converged` is
    * COMPUTED on both engines (survivor-count fixpoint test), not a
    * hardcoded gate. The oracle replays the pair derivation and each
    * peeling round as chained CTEs.
    */
  val x34: GraftQuery = GraftQuery(
    "x34_kcore",
    (s, d) => {
      val docs = Tables.documents(s, d)
      GraphOps.kCore(docs, "doc_id",
        nearDupPairs(docs, 0.9).select(col("a_id").as("u"), col("b_id").as("v")),
        k = 2, rounds = 4)
        .select(col("id").as("doc_id"), col("core_deg"), col("in_core"),
          col("converged"))
    },
    Some(s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |sh AS MATERIALIZED (SELECT doc_id, CASE WHEN len(w) >= 3
           |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
           |  ELSE [] END AS s FROM t),
           |pairs AS MATERIALIZED (SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
           |e0 AS MATERIALIZED (SELECT u, v FROM pairs),
           |${(1 to 4).map(kcIterSql).mkString(",\n")},
           |df AS (SELECT u, count(*) AS deg FROM
           |  (SELECT u, v FROM e4 UNION ALL SELECT v, u FROM e4) GROUP BY u),
           |cv AS (SELECT (SELECT count(*) FROM e4) = (SELECT count(*) FROM e3) AS converged)
           |SELECT d.doc_id, coalesce(df.deg, CAST(0 AS BIGINT)) AS core_deg,
           |       coalesce(df.deg, CAST(0 AS BIGINT)) >= 2 AS in_core, cv.converged
           |FROM documents d LEFT JOIN df ON d.doc_id = df.u CROSS JOIN cv""".stripMargin))

  /** X6: SimHash document fingerprint — 32-bit majority-vote over md5-based
    * word hashes. A typed per-partition kernel hashes each distinct word
    * exactly ONCE and updates 32 bit-counters; the earlier nested-HOF
    * formulation (`aggregate(sequence(0,31), aggregate(sh, ...))`) ran its
    * lambdas interpreted and re-hashed every word 32x — the exact failure
    * mode [[lshBands]] documents. The md5 basis ([[HashDraw]]) makes the
    * fingerprint cross-engine: the DuckDB oracle recomputes the identical
    * bits, so this is hash-checked, not just property-tested.
    */
  /** SimHash 32-bit fingerprint per doc: (doc_id, simhash) — majority
    * vote over md5-based distinct-word hashes, one typed pass.
    */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val counts = new Array[Int](32)
          val seen = scala.collection.mutable.HashSet.empty[String]
          text.split(" ").foreach { t =>
            if (seen.add(t)) {
              val v = HashDraw.draw(md, t)
              var b = 0
              while (b < 32) {
                counts(b) += (if (((v >> b) & 1L) == 1L) 1 else -1)
                b += 1
              }
            }
          }
          var sh = 0L
          var b = 0
          while (b < 32) { if (counts(b) > 0) sh |= 1L << b; b += 1 }
          (id, sh)
        }
      }
      .toDF("doc_id", "simhash")
  }

  val x6: GraftQuery = GraftQuery(
    "x6_simhash_fingerprint",
    (s, d) => simhashFingerprints(Tables.documents(s, d)),
    Some("""WITH w AS (SELECT doc_id, list_distinct(str_split(text, ' ')) AS ws FROM documents),
           |e AS (SELECT doc_id, unnest(ws) AS t FROM w),
           |h AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS hv FROM e),
           |bits AS (SELECT doc_id, b.b, sum(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS c
           |         FROM h CROSS JOIN generate_series(0, 31) b(b) GROUP BY 1, 2)
           |SELECT doc_id, CAST(sum(CASE WHEN c > 0 THEN 1::BIGINT << b ELSE 0::BIGINT END) AS BIGINT) AS simhash
           |FROM bits GROUP BY doc_id""".stripMargin))

  /** X2: token counting + length stats — whitespace tokens plus a BPE-ish
    * regex token count (letter runs / digit runs / single non-space
    * symbols, the pre-tokenizer split most BPE vocabularies assume).
    */
  val x2: GraftQuery = GraftQuery(
    "x2_token_stats",
    (s, d) => tokenStats(Tables.documents(s, d)),
    Some("""SELECT doc_id, CAST(len(str_split(text, ' ')) AS INT) AS n_words,
           |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens,
           |CAST(length(text) AS INT) AS len_chars,
           |CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) / len(str_split(text, ' ')) AS avg_word_len
           |FROM documents""".stripMargin))

  /** X3: quality scoring — length score + stopword ratio composite
    * (the standard pre-training corpus filter shape).
    */
  val x3: GraftQuery = GraftQuery(
    "x3_quality_score",
    (s, d) => qualityScore(Tables.documents(s, d)),
    Some("""SELECT doc_id,
           |0.5 * least(1.0, CAST(len(str_split(text, ' ')) AS DOUBLE) / 100.0) +
           |0.5 * (1.0 - CAST(len(list_filter(str_split(text, ' '), t -> t IN ('the', 'a', 'or', 'and', 'of'))) AS DOUBLE) / len(str_split(text, ' '))) AS quality
           |FROM documents""".stripMargin))

  /** X4: language-ID function-word heuristic. Deterministic argmax over
    * per-language marker-word hit counts; Spark's `array_max` over
    * struct(hits, lang) breaks ties by the lexicographically greatest lang,
    * which the oracle mirrors with ORDER BY hits DESC, lang DESC.
    */
  val x4: GraftQuery = GraftQuery(
    "x4_language_id",
    (s, d) => {
      val markers = Map(
        "en" -> Seq("the", "and", "of", "is"),
        "fr" -> Seq("le", "la", "et", "est"),
        "es" -> Seq("el", "la", "y", "es"),
        "de" -> Seq("der", "die", "und", "ist"),
        "zh" -> Seq("de", "shi", "he", "zai"))
      val scored = markers.toSeq.sortBy(_._1).map { case (lang, ws) =>
        struct(
          expr(s"size(filter(w, t -> t IN (${ws.map(w => s"'$w'").mkString(",")})))").as("hits"),
          lit(lang).as("lang"))
      }
      Tables.documents(s, d)
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          array_max(array(scored: _*)).getField("lang").as("pred_lang"))
    },
    Some("""WITH d AS (SELECT doc_id, lang AS labeled_lang, str_split(text, ' ') AS w FROM documents),
           |m(lang, ws) AS (SELECT * FROM (VALUES
           |  ('de', ['der','die','und','ist']),
           |  ('en', ['the','and','of','is']),
           |  ('es', ['el','la','y','es']),
           |  ('fr', ['le','la','et','est']),
           |  ('zh', ['de','shi','he','zai'])) t(lang, ws)),
           |sc AS (SELECT d.doc_id, d.labeled_lang, m.lang,
           |       len(list_filter(d.w, t -> list_contains(m.ws, t))) AS hits
           |       FROM d CROSS JOIN m)
           |SELECT doc_id, labeled_lang, lang AS pred_lang
           |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn FROM sc)
           |WHERE rn = 1""".stripMargin))

  /** Winnowing parameters: k-gram size and window (Schleimer et al.,
    * "Winnowing: Local Algorithms for Document Fingerprinting").
    */
  private val K = 8
  private val W = 4

  /** X8: document fingerprinting via rolling hash + winnowing — each doc's
    * character k-grams are hashed with one polynomial rolling pass, then
    * the minimum per sliding window of W is kept (guarantees any shared
    * substring >= K+W-1 chars yields a shared fingerprint). One typed map,
    * no shuffle; matching on fingerprints is then a plain hash join.
    * Engine-specific bit recipe -> rows-only, properties in TextOpsSpec.
    */
  def winnow(text: String): Array[Long] = {
    if (text.length < K) return Array(fnv64(text))
    val B = 1000003L
    var pow = 1L
    var i = 0
    while (i < K - 1) { pow *= B; i += 1 }
    val n = text.length - K + 1
    val kg = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < K) { h = h * B + text.charAt(i); i += 1 }
    kg(0) = h
    var j = 1
    while (j < n) {
      h = (h - text.charAt(j - 1) * pow) * B + text.charAt(j + K - 1)
      kg(j) = h
      j += 1
    }
    if (n <= W) Array(kg.min)
    else {
      val out = scala.collection.mutable.LinkedHashSet.empty[Long]
      var w = 0
      while (w + W <= n) {
        var mn = Long.MaxValue
        var t = w
        while (t < w + W) { if (kg(t) < mn) mn = kg(t); t += 1 }
        out += mn
        w += 1
      }
      out.toArray.sorted
    }
  }

  /** Full per-doc fingerprint sets (array column) — the join input for
    * substring-overlap matching. Kept OFF the driver surface: harness
    * row-compares can't sort array cells, so [[x8]] exposes scalar digests
    * of this result instead.
    */
  def fingerprints(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) => (id, winnow(t)) }
      .toDF("doc_id", "fingerprints")
  }

  /** The oracle replays the ENTIRE winnowing algorithm in DuckDB: k-gram
    * hashes via the closed polynomial form sum(c[j+i] * B^(7-i)) mod 2^64
    * (HUGEINT arithmetic with precomputed B^k mod 2^64 constants — the
    * rolling update is exactly this polynomial, and Long wraparound IS
    * mod-2^64), signed-BIGINT mapping before minima so comparisons match
    * JVM signed longs, per-window least() minima, sorted-distinct set,
    * then count/min/xor digests. Short-text branches (len < k, n <= w)
    * mirror the kernel's, including the FNV-1a fallback (xor folded on the
    * low 7 bits — the corpus is ASCII, verified by the byte_len == char_len
    * equality mm1 checks).
    */
  val x8: GraftQuery = GraftQuery(
    "x8_rolling_fingerprint",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) =>
          val fps = winnow(t)
          // scalar digests (count/min/xor) stand in for the array: stable
          // under row-sorting comparison, and together they pin the set
          (id, fps.length, fps.min, fps.reduce(_ ^ _))
        }
        .toDF("doc_id", "n_fingerprints", "min_fingerprint", "xor_fingerprint")
    },
    Some("""WITH b AS (SELECT doc_id, CAST(length(text) AS INT) AS ln, hex(encode(text)) AS hx FROM documents),
           |bytes AS (SELECT doc_id, ln, list_transform(generate_series(1, ln),
           |   i -> CAST(CAST('0x' || substr(hx, CAST(2*i-1 AS INT), 2) AS INT) AS HUGEINT)) AS bs FROM b),
           |kg AS (SELECT doc_id, ln, bs, ln - 7 AS n,
           |   CASE WHEN ln >= 8 THEN list_transform(generate_series(1, ln - 7), j ->
           |     CAST(CASE WHEN (bs[j]*12924618581234127435 + bs[j+1]*10923514805226455897 + bs[j+2]*14453212906556403763
           |        + bs[j+3]*14003818205314896721 + bs[j+4]*1000009000027000027 + bs[j+5]*1000006000009
           |        + bs[j+6]*1000003 + bs[j+7]) % 18446744073709551616 >= 9223372036854775808
           |      THEN (bs[j]*12924618581234127435 + bs[j+1]*10923514805226455897 + bs[j+2]*14453212906556403763
           |        + bs[j+3]*14003818205314896721 + bs[j+4]*1000009000027000027 + bs[j+5]*1000006000009
           |        + bs[j+6]*1000003 + bs[j+7]) % 18446744073709551616 - 18446744073709551616
           |      ELSE (bs[j]*12924618581234127435 + bs[j+1]*10923514805226455897 + bs[j+2]*14453212906556403763
           |        + bs[j+3]*14003818205314896721 + bs[j+4]*1000009000027000027 + bs[j+5]*1000006000009
           |        + bs[j+6]*1000003 + bs[j+7]) % 18446744073709551616 END AS BIGINT))
           |   ELSE NULL END AS kgs FROM bytes),
           |fnv AS (SELECT doc_id, ln, n, kgs,
           |   CASE WHEN ln < 8 THEN CAST(CASE WHEN f >= 9223372036854775808
           |     THEN f - 18446744073709551616 ELSE f END AS BIGINT) END AS fnv64
           |   FROM (SELECT kg.*, CASE WHEN ln < 8 THEN
           |     list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), bs),
           |       (acc, c) -> ((acc - acc % 128 + xor(CAST(acc % 128 AS BIGINT), CAST(c AS BIGINT))) * 1099511628211) % 18446744073709551616)
           |     END AS f FROM kg)),
           |fps AS (SELECT doc_id,
           |   CASE WHEN ln < 8 THEN [fnv64]
           |        WHEN n <= 4 THEN [list_min(kgs)]
           |        ELSE list_sort(list_distinct(list_transform(generate_series(1, n - 3),
           |          w -> least(kgs[w], kgs[w+1], kgs[w+2], kgs[w+3])))) END AS l
           |   FROM fnv)
           |SELECT doc_id, CAST(len(l) AS INT) AS n_fingerprints, l[1] AS min_fingerprint,
           |   list_reduce(l, (a, b2) -> xor(a, b2)) AS xor_fingerprint
           |FROM fps""".stripMargin))

  /** X9 (beyond reference): TF-IDF top term per document. Term frequency
    * from the (doc, term) groupBy; document frequency as a second groupBy
    * over that aggregate (its rows are unique per (doc, term), so
    * rows-per-term = docs-per-term) joined back on term. Spark does not
    * share subplans across join inputs, so the df side re-derives the
    * explode+aggregate — two corpus passes, and worth it: the df side is a
    * real hash aggregate, NOT `count().over(Window.partitionBy(term))`: a window has
    * no map-side partial aggregation and AQE cannot split its partitions,
    * so at corpus scale every (doc, term) row for a stopword-grade term
    * ("the") would funnel through ONE task. groupBy partial-aggregates
    * per input partition and the join back on term is an AQE-splittable
    * shuffle join. The only remaining window partitions by doc_id (argmax
    * per document), whose cardinality is bounded by document length.
    * Corpus size broadcasts as a 1-row cross join. The idf is kept
    * RATIONAL (tf * N / df) rather than logarithmic: ln() libm
    * implementations differ across engines in the last ulp, while integer
    * multiply + one double division is bit-exact everywhere — and argmax
    * ranking is invariant to the monotone transform.
    */
  val x9: GraftQuery = GraftQuery(
    "x9_tfidf_topterm",
    (s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("w"))
      tf.join(df, "w")
        .crossJoin(broadcast(n))
        .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
        .withColumn("rk", row_number().over(win)).filter(col("rk") === 1)
        .select(col("doc_id"), col("w").as("top_term"), col("score").as("top_score"))
    },
    Some("""WITH wds AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents),
           |tf AS (SELECT doc_id, w, count(*) AS tf FROM wds GROUP BY 1, 2),
           |dfq AS (SELECT w, count(DISTINCT doc_id) AS df FROM wds GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM documents),
           |sc AS (SELECT tf.doc_id, tf.w, CAST(tf.tf * n.n AS DOUBLE) / dfq.df AS score
           |       FROM tf JOIN dfq USING (w) CROSS JOIN n)
           |SELECT doc_id, w AS top_term, score AS top_score FROM sc
           |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) = 1""".stripMargin))

  /** X10 (beyond reference): deterministic hash sampling — the corpus
    * subsetting primitive every training-data pipeline needs. The sample
    * predicate is a pure function of the stable doc id ([[HashDraw]]
    * md5 semantics via `conv`), so the SAME 10% sample falls out on any
    * cluster, any partitioning, any engine — unlike `TABLESAMPLE` /
    * `rand()`, which are nondeterministic and unverifiable.
    */
  val x10: GraftQuery = GraftQuery(
    "x10_hash_sample",
    (s, d) => Tables.documents(s, d)
      .filter(expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100 < 10")
        .as("keep"))
      .select(col("doc_id"), col("lang"), col("n_chars")),
    Some("""SELECT doc_id, lang, n_chars FROM documents
           |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 10""".stripMargin))

  /** X11 (beyond reference): duplicate-SET resolution — the transitive
    * closure the pair lists (x5/x7) stop short of. LSH emits pairs; "keep
    * one doc per duplicate cluster" needs connected components over them
    * (A~B, B~C clusters A with C even though LSH never compared them).
    * Edges are the x7 near-dup pairs at jaccard >= 0.9; closure runs the
    * alternating-star algorithm ([[GraphOps.connectedComponents]],
    * O(log n) shuffle rounds). The oracle brute-forces the same pairs and
    * closes them with a recursive label-reachability CTE — feasible only
    * at oracle scale, which is the point: the engine path never
    * materializes reachability, only the contracting edge list.
    */
  val x11: GraftQuery = GraftQuery(
    "x11_dupset_components",
    (s, d) => dupComponents(Tables.documents(s, d), 0.9),
    Some("""WITH RECURSIVE t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
           |  ELSE [] END AS s FROM t),
           |pairs AS (SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
           |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
           |reach(id, lbl) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id),
           |comp AS (SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id)
           |SELECT doc_id, component, count(*) OVER (PARTITION BY component) AS n_members
           |FROM comp""".stripMargin))

  /** X12 (beyond reference): stratified hash sampling — per-language
    * target rates (the corpus-rebalancing primitive: downsample the
    * dominant language, keep the rest). Same deterministic md5 predicate
    * as [[x10]], so the stratum rates are exact functions of stable ids —
    * reproducible on any cluster, any engine.
    */
  val x12: GraftQuery = GraftQuery(
    "x12_stratified_sample",
    (s, d) => Tables.documents(s, d)
      .withColumn("pct", expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100"))
      .filter(col("pct") < when(col("lang") === "en", 10)
        .when(col("lang") === "fr", 50).otherwise(100))
      .groupBy("lang").agg(count(lit(1)).as("n_kept")),
    Some("""SELECT lang, count(*) AS n_kept FROM documents
           |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
           |  < CASE WHEN lang = 'en' THEN 10 WHEN lang = 'fr' THEN 50 ELSE 100 END
           |GROUP BY lang""".stripMargin))

  /** Chunking parameters: window of 64 tokens advancing by 48 (16-token
    * overlap) — the sliding-passage shape every RAG / training-data
    * pipeline cuts documents into.
    */
  private val ChunkTokens = 64
  private val ChunkStride = 48

  /** X13 (beyond reference): passage chunking — explode each document into
    * overlapping token windows with per-chunk text digests. Pure lateral
    * fan-out (`explode(sequence)` + `slice`): no shuffle, no kernel, stays
    * in whole-stage codegen; chunk count per doc is ceil((n-C)/S)+1 with a
    * single short tail chunk. The md5 digest pins every chunk's exact
    * content against the oracle's list-slice replay.
    */
  val x13: GraftQuery = GraftQuery(
    "x13_chunk_passages",
    (s, d) => chunkPassages(Tables.documents(s, d)),
    Some(s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |c AS (SELECT doc_id, w, len(w) AS n,
           |  CASE WHEN len(w) <= $ChunkTokens THEN 1
           |       ELSE 1 + (len(w) - $ChunkTokens + ${ChunkStride - 1}) // $ChunkStride END AS nc FROM t),
           |e AS (SELECT doc_id, w, n, unnest(generate_series(0, nc - 1)) AS chunk_idx FROM c)
           |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           |  CAST(least($ChunkTokens, n - chunk_idx * $ChunkStride) AS INT) AS n_tok,
           |  md5(array_to_string(w[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + least($ChunkTokens, n - chunk_idx * $ChunkStride)], ' ')) AS chunk_md5
           |FROM e""".stripMargin))

  /** X14 (beyond reference): Gopher-style quality rules — the filter pass
    * every pretraining pipeline runs before dedup (Rae et al. 2021, §A1.1):
    * document length, mean word length, repetition (distinct-word ratio),
    * and most-frequent-word dominance, each a per-doc scalar with a fixed
    * keep predicate. One explode + two hash aggregations, both keyed by
    * doc_id (and word) — uniform keys, partial aggregation, no all-pairs
    * anything, so the pass is a single scan at any corpus size. Ratios are
    * int/int IEEE divisions — bitwise identical cross-engine.
    */
  /** Gopher-style quality rules per doc: length, mean word length,
    * repetition, top-word dominance, plus the composite keep predicate.
    */
  def qualityRules(docs: DataFrame): DataFrame = {
    val ct = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    ct.groupBy("doc_id").agg(
        sum("c").as("n_words"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_count"),
        sum(length(col("w")) * col("c")).as("n_word_chars"))
      .withColumn("mean_word_len",
        col("n_word_chars").cast("double") / col("n_words"))
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_words"))
      .withColumn("top_word_frac",
        col("top_count").cast("double") / col("n_words"))
      .withColumn("keep",
        col("n_words") >= 20 && col("distinct_ratio") > 0.4 &&
          col("top_word_frac") < 0.15 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .select("doc_id", "n_words", "n_distinct", "top_count",
        "mean_word_len", "distinct_ratio", "top_word_frac", "keep")
  }

  val x14: GraftQuery = GraftQuery(
    "x14_quality_rules",
    (s, d) => qualityRules(Tables.documents(s, d)),
    Some("""WITH wds AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents),
           |ct AS (SELECT doc_id, w, count(*) AS c FROM wds GROUP BY 1, 2),
           |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
           |  count(*) AS n_distinct, max(c) AS top_count,
           |  CAST(sum(length(w) * c) AS BIGINT) AS n_word_chars FROM ct GROUP BY 1)
           |SELECT doc_id, n_words, n_distinct, top_count,
           |  n_word_chars::DOUBLE / n_words AS mean_word_len,
           |  n_distinct::DOUBLE / n_words AS distinct_ratio,
           |  top_count::DOUBLE / n_words AS top_word_frac,
           |  (n_words >= 20 AND n_distinct::DOUBLE / n_words > 0.4
           |   AND top_count::DOUBLE / n_words < 0.15
           |   AND n_word_chars::DOUBLE / n_words BETWEEN 3.0 AND 10.0) AS keep
           |FROM agg""".stripMargin))

  /** Distinct 8-word grams per doc, one (doc, source, gram) row each — the
    * contamination unit (long enough that a cross-corpus match means shared
    * provenance, not chance). Typed one-pass kernel: a
    * `transform(sequence, i -> concat_ws(slice))` formulation evaluates its
    * lambda interpreted per position (the documented [[lshBands]] failure
    * mode — measured 4.0 s vs 0.4 s at sf0.1); the kernel slides one window
    * over each doc once and never materializes the gram array.
    */
  /** Gopher repetition filters (Rae et al. 2021 §A1.1): fraction of
    * characters covered by the most common 2-gram and by duplicated
    * (count >= 2) 5-grams, per doc — the within-document repetition family
    * x14's word-level rules don't see (a doc looping one phrase has a fine
    * distinct-word ratio). One typed pass per doc, all-integer counting
    * (covered chars = count x gram length, overlaps uncounted — the
    * standard approximation); the only doubles are the final divisions, so
    * DuckDB replays bit-for-bit. Scale: mapPartitions over docs, zero
    * shuffle, per-doc state is one gram hash map.
    *
    * ASCII-only contract (explicit): cross-engine exactness relies on (a)
    * tie-breaking the top gram by `<` — UTF-16 code-unit order in Spark vs
    * UTF-8 binary collation in DuckDB, identical only on ASCII — and (b)
    * `String.length`/`length()` counting the same units, true only when
    * code point = code unit = byte count coincide (ASCII). Non-ASCII
    * corpora can legitimately diverge on both; run those through the Spark
    * side only, or normalize first. Empty texts emit 0.0 fractions (both
    * engines guard the 0/0).
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val raw = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val w = text.split(" ")
        def stats(n: Int): (Long, Long) = { // (topGramChars, dupGramChars)
          if (w.length < n) (0L, 0L)
          else {
            val m = scala.collection.mutable.HashMap.empty[String, Long]
            w.sliding(n).foreach { g =>
              val k = g.mkString(" "); m.update(k, m.getOrElse(k, 0L) + 1L)
            }
            var topC = 0L; var topG: String = null; var dup = 0L
            m.foreach { case (g, c) =>
              if (c > topC || (c == topC && g < topG)) { topC = c; topG = g }
              if (c >= 2) dup += c * g.length
            }
            (topC * topG.length, dup)
          }
        }
        val (t2, d2) = stats(2)
        val (t5, d5) = stats(5)
        (id, text.length.toLong, t2, d2, t5, d5)
      }
      .toDF("doc_id", "n_chars", "top2_chars", "dup2_chars", "top5_chars", "dup5_chars")
    // 0/0 on an empty text is NaN in Spark but NULL/inf in DuckDB — pin 0.0
    def frac(c: String) =
      when(col("n_chars") === 0, lit(0.0))
        .otherwise(col(c).cast("double") / col("n_chars"))
    raw.select(col("doc_id"), col("n_chars"),
        frac("top2_chars").as("top2_frac"),
        frac("dup2_chars").as("dup2_frac"),
        frac("top5_chars").as("top5_frac"),
        frac("dup5_chars").as("dup5_frac"))
      .withColumn("keep", col("top2_frac") < 0.20 && col("dup5_frac") < 0.15)
  }

  private def grams8(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // callers filter BEFORE this kernel: a typed MapPartitions is a
    // pushdown barrier, so a post-kernel source filter would gram the
    // whole corpus on both branches (and lose the parquet PushedFilter)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = text.split(" ")
        if (w.length < 8) Iterator.empty
        else w.sliding(8).map(_.mkString(" ")).toSet.iterator.map((g: String) => (id, g))
      }.toDF("doc_id", "g")
  }

  /** X15 (beyond reference): benchmark-contamination check — the GPT-3-style
    * n-gram decontamination sweep (Brown et al. 2020, §C): every training
    * doc is scored by how many of its 8-grams appear verbatim in a held-out
    * benchmark set (here: the `src0` slice). The benchmark gram set is tiny
    * relative to the corpus and is BROADCAST; the corpus side explodes to
    * (doc, gram) and probes the broadcast map — no shuffle of corpus text at
    * all, so at 100 TB this is one scan + a map-side semi-probe, with the
    * per-doc hit counts hash-aggregated on doc_id. Docs with zero hits are
    * kept via the left join (the output is the full decontamination report).
    */
  val x15: GraftQuery = GraftQuery(
    "x15_contamination_check",
    (s, d) => {
      val docs = Tables.documents(s, d)
      contaminationCheck(
        train = docs.filter(col("source") =!= "src0"),
        benchmark = docs.filter(col("source") === "src0"))
    },
    Some("""WITH t AS (SELECT doc_id, source, str_split(text, ' ') AS w FROM documents),
           |g AS (SELECT doc_id, source, unnest(CASE WHEN len(w) >= 8
           |  THEN list_distinct([array_to_string(w[i:i+7], ' ') for i in generate_series(1, len(w) - 7)])
           |  ELSE [] END) AS g FROM t),
           |b AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
           |h AS (SELECT doc_id, count(*) AS n_hits FROM g JOIN b USING (g)
           |      WHERE source != 'src0' GROUP BY 1)
           |SELECT t.doc_id, coalesce(h.n_hits, 0) AS n_hits,
           |  coalesce(h.n_hits, 0) > 0 AS contaminated
           |FROM t LEFT JOIN h ON t.doc_id = h.doc_id WHERE t.source != 'src0'""".stripMargin))

  /** Context-window budget for sequence packing (tokens per pack). */
  private val PackTokens = 256

  /** X16 (beyond reference): sequence packing — the concatenate-and-chunk
    * layout LLM training uses to fill fixed context windows: documents are
    * laid end-to-end in a deterministic order and split every
    * [[PackTokens]] tokens, so a doc's pack span is a pure function of the
    * running token offset. Sources pack independently (the natural pack
    * domain), and WITHIN a source the running sum is the two-level
    * shard-offset prefix sum of [[sequencePack]] — no window partition is
    * ever proportional to a domain, so a 10-TB source never serializes
    * into one sort task. Integer-only arithmetic — trivially cross-engine
    * and invariant to the shard span.
    */
  val x16: GraftQuery = GraftQuery(
    "x16_sequence_pack",
    // shardSpan 128 so even the sf0.01 corpus (~500 ids) exercises the
    // multi-shard offset path the 100-TB layout depends on
    (s, d) => sequencePack(Tables.documents(s, d), "source", PackTokens, shardSpan = 128L),
    Some(s"""WITH t AS (SELECT doc_id, source,
           |  CAST(len(str_split(text, ' ')) AS INT) AS n_tok FROM documents),
           |c AS (SELECT doc_id, source, n_tok,
           |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
           |  FROM t)
           |SELECT doc_id, source, n_tok, start_tok,
           |  start_tok // $PackTokens AS first_pack,
           |  (start_tok + n_tok - 1) // $PackTokens AS last_pack,
           |  (start_tok + n_tok - 1) // $PackTokens - start_tok // $PackTokens + 1 AS n_packs
           |FROM c""".stripMargin))

  /** X17 (beyond reference): canonical selection — the step after [[x11]]'s
    * closure: inside every near-dup cluster keep exactly one document, the
    * longest (ties to the smallest id). This is the decision a dedup
    * pipeline actually ships — pair lists and components are intermediates;
    * "which rows survive" is the product. Reuses the x11 component labels
    * (same LSH candidates, same alternating-star closure) plus one
    * broadcast-size window rank per cluster; singleton docs are their own
    * cluster and always survive.
    */
  val x17: GraftQuery = GraftQuery(
    "x17_dedup_keep_best",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val comp = dupComponents(docs, 0.9).select("doc_id", "component")
      val wk = Window.partitionBy("component")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      comp.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("keep", row_number().over(wk) === 1)
        .select("doc_id", "component", "n_chars", "keep")
    },
    Some("""WITH RECURSIVE t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
           |  ELSE [] END AS s FROM t),
           |pairs AS (SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
           |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
           |reach(id, lbl) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id),
           |comp AS (SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id)
           |SELECT c.doc_id, c.component, d.n_chars,
           |  row_number() OVER (PARTITION BY c.component ORDER BY d.n_chars DESC, c.doc_id) = 1 AS keep
           |FROM comp c JOIN documents d ON c.doc_id = d.doc_id""".stripMargin))

  /** X18 (beyond reference): boilerplate detection by n-gram document
    * frequency — the corpus-level counterpart of x15's contamination probe:
    * an 8-gram shared verbatim by many distinct documents is template text
    * (headers, license blocks, navigation chrome), the thing C4/RefinedWeb
    * strip before training. Reuses the [[grams8]] typed kernel (distinct
    * grams per doc, so `count(*)` IS document frequency); one shuffle keyed
    * by gram with map-side partial aggregation — true boilerplate is
    * exactly the heavy-hitter key, and count-only partials absorb it
    * before the exchange. Only df >= 2 grams are emitted (the df = 1 tail
    * is the corpus itself and would dominate the output for no signal).
    */
  val x18: GraftQuery = GraftQuery(
    "x18_boilerplate_df",
    (s, d) => grams8(Tables.documents(s, d))
      .groupBy("g").agg(count(lit(1)).as("df"), min("doc_id").as("first_doc"))
      .filter(col("df") >= 2),
    Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |g AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 8
           |  THEN list_distinct([array_to_string(w[i:i+7], ' ') for i in generate_series(1, len(w) - 7)])
           |  ELSE [] END) AS g FROM t)
           |SELECT g, count(*) AS df, min(doc_id) AS first_doc
           |FROM g GROUP BY g HAVING count(*) >= 2""".stripMargin))

  /** Mixture-plan tier targets: fraction of the training mix each source
    * tier should contribute (sources are grouped into 4 tiers of 5).
    */
  private val TierFrac = Seq(0.4, 0.3, 0.2, 0.1)

  /** Per-tier target fraction as a CASE column. Tiers outside
    * [0, TierFrac.length) fall back to TierFrac.last — the same contract
    * as the oracle's `ELSE 0.1`, so a corpus with sources beyond
    * src0..src19 samples at the lowest-priority rate instead of silently
    * dropping the tier (a NULL target_frac would make `keep = draw < NULL`
    * discard every doc in it).
    */
  private def tierFracCol: Column = TierFrac.zipWithIndex.init
    .foldLeft(lit(TierFrac.last)) { case (acc, (f, i)) =>
      when(col("tier") === i, lit(f)).otherwise(acc) }

  /** X19 (beyond reference): dataset-mixture planning — given target mix
    * fractions per source tier, derive the deterministic per-tier sampling
    * rate that realizes the mixture while keeping as much data as possible:
    * the achievable total is T* = min_t(tokens_t / frac_t) and each tier
    * samples at rate_t = frac_t * T* / tokens_t (the binding tier keeps
    * everything, rate 1.0). This is the calibration step upstream of
    * [[x12]]'s stratified hash sample: x19 computes the rates, x12-style
    * predicates apply them. One hash aggregation to 4 rows, then
    * constant-size arithmetic — at 100 TB the only work is the scan.
    */
  val x19: GraftQuery = GraftQuery(
    "x19_mixture_plan",
    (s, d) => {
      val tierCol = expr("CAST(substr(source, 4) AS INT) div 5").as("tier")
      val frac = tierFracCol
      val byTier = Tables.documents(s, d)
        .select(tierCol, size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .withColumn("target_frac", frac)
      val achievable = byTier
        .agg(min(col("n_tokens").cast("double") / col("target_frac")).as("t_star"))
      byTier.crossJoin(broadcast(achievable))
        .select(col("tier"), col("n_docs"), col("n_tokens"), col("target_frac"),
          (col("target_frac") * col("t_star") / col("n_tokens")).as("rate"),
          (col("target_frac") * col("t_star")).as("sampled_tokens"))
    },
    Some("""WITH t AS (SELECT CAST(substr(source, 4) AS INT) // 5 AS tier,
           |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
           |bt AS (SELECT tier, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           |  CAST(CASE tier WHEN 0 THEN 0.4 WHEN 1 THEN 0.3 WHEN 2 THEN 0.2 ELSE 0.1 END AS DOUBLE) AS target_frac
           |  FROM t GROUP BY tier),
           |a AS (SELECT min(n_tokens::DOUBLE / target_frac) AS t_star FROM bt)
           |SELECT tier, n_docs, n_tokens, target_frac,
           |  target_frac * t_star / n_tokens AS rate,
           |  target_frac * t_star AS sampled_tokens
           |FROM bt CROSS JOIN a""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): APPLY the [[x19]]
    * mixture plan — x19 computes the per-tier sampling rates that hit the
    * 0.4/0.3/0.2/0.1 token mix without oversampling any tier; this op
    * executes them as a deterministic salted-md5 Bernoulli draw per doc
    * (the x30 reproducible-shuffle family: same corpus + salt => the
    * same sampled corpus, so a training run is replayable) and reports
    * per tier (n_docs, n_kept, tokens_in, tokens_kept, rate_ppm). The
    * binding tier (smallest tokens/target) has rate_ppm = 1e6 and keeps
    * everything, by construction.
    *
    * Determinism: the rate is quantized to integer PPM before the
    * compare (floor(rate·1e6 + 0.5) — rate is the same integer-derived
    * IEEE expression in both engines), and the draw is an exact md5
    * residue, so the kept SET is bit-identical cross-engine. Scale: one
    * scan + a 4-row broadcast rate table + one hash aggregate — the
    * sampling itself is a pure map.
    */
  def mixtureApply(docs: DataFrame): DataFrame = {
    val tierCol = expr("CAST(substr(source, 4) AS INT) div 5").as("tier")
    val t = docs.select(col("doc_id"), tierCol,
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val frac = tierFracCol
    val byTier = t.groupBy("tier")
      .agg(sum("n_tok").as("n_tokens")).withColumn("target_frac", frac)
    val achievable = byTier
      .agg(min(col("n_tokens").cast("double") / col("target_frac")).as("t_star"))
    val rates = byTier.crossJoin(broadcast(achievable))
      .select(col("tier"),
        floor(col("target_frac") * col("t_star") / col("n_tokens") * 1e6 + 0.5)
          .cast("long").as("rate_ppm"))
    val draw = expr(
      "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':mix')), 1, 15), 16, 10) AS BIGINT) % 1000000")
    t.join(broadcast(rates), "tier")
      .withColumn("keep", draw < col("rate_ppm"))
      .groupBy("tier").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum("n_tok").as("tokens_in"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("tokens_kept"),
        max("rate_ppm").as("rate_ppm"))
  }

  /** X67 (beyond reference): mixture-plan application — see
    * [[mixtureApply]]. The oracle replays the rate table and the md5
    * Bernoulli draw exactly.
    */
  val x67: GraftQuery = GraftQuery(
    "x67_mixture_apply",
    (s, d) => mixtureApply(Tables.documents(s, d)),
    Some("""WITH t AS (SELECT doc_id, CAST(substr(source, 4) AS INT) // 5 AS tier,
           |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
           |bt AS (SELECT tier, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           |  CAST(CASE tier WHEN 0 THEN 0.4 WHEN 1 THEN 0.3 WHEN 2 THEN 0.2 ELSE 0.1 END AS DOUBLE) AS target_frac
           |  FROM t GROUP BY tier),
           |a AS (SELECT min(n_tokens::DOUBLE / target_frac) AS t_star FROM bt),
           |r AS (SELECT tier,
           |  CAST(floor(target_frac * t_star / n_tokens * 1e6 + 0.5) AS BIGINT) AS rate_ppm
           |  FROM bt CROSS JOIN a),
           |k AS (SELECT t.tier, t.n_tok, r.rate_ppm,
           |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 15) AS BIGINT) % 1000000 < r.rate_ppm AS keep
           |  FROM t JOIN r USING (tier))
           |SELECT tier, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  CAST(sum(n_tok) AS BIGINT) AS tokens_in,
           |  CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept,
           |  max(rate_ppm) AS rate_ppm
           |FROM k GROUP BY tier""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): temperature-flattened
    * per-source sampling weights — the multilingual/multi-source mixture
    * move (p_i ∝ n_i^α with α = 0.5; XLM-R / mBERT-style exponent
    * smoothing, public literature) that UP-weights low-resource sources
    * relative to proportional sampling so the big crawl cannot drown the
    * small high-value corpora. Complements [[x19]]: x19 hits explicit
    * per-tier targets; this derives the targets themselves from corpus
    * sizes with one temperature knob.
    *
    * Determinism (the x41/SCALE.md discipline, applied to pow): α = 0.5
    * is chosen because n^0.5 = sqrt, and IEEE-754 REQUIRES sqrt to be
    * correctly rounded — unlike log/exp/pow, which are libm and drift by
    * ulps across engines. The weight is milli-quantized immediately
    * (wq = floor(sqrt(n)·1000 + 0.5), an exact BIGINT), sums run over
    * integers, and each rate is ONE division of integer-derived doubles.
    * Emits per source: (n_tokens, wq, rate_ppm, prop_ppm) — rate vs the
    * proportional share makes the flattening visible (below-average
    * sources get rate_ppm > prop_ppm).
    *
    * Scale: one scan to per-source token counts (map-side combinable),
    * then constant-size arithmetic over the source vocabulary — at
    * 100 TB the only work is the scan.
    */
  def temperatureMixture(docs: DataFrame): DataFrame = {
    val bySource = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("n_tokens"))
    val w = bySource.withColumn("wq",
      floor(sqrt(col("n_tokens").cast("double")) * 1000 + 0.5).cast("long"))
    val tot = w.agg(sum("wq").as("tot_wq"), sum("n_tokens").as("tot_tokens"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("wq"),
        floor(col("wq").cast("double") * 1e6 / col("tot_wq").cast("double") + 0.5)
          .cast("long").as("rate_ppm"),
        floor(col("n_tokens").cast("double") * 1e6 / col("tot_tokens").cast("double") + 0.5)
          .cast("long").as("prop_ppm"))
  }

  /** X68 (beyond reference): temperature-flattened mixture weights — see
    * [[temperatureMixture]]. The oracle replays the sqrt-quantize-divide
    * ladder exactly.
    */
  val x68: GraftQuery = GraftQuery(
    "x68_temperature_mixture",
    (s, d) => temperatureMixture(Tables.documents(s, d)),
    Some("""WITH t AS (SELECT source, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
           |bs AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM t GROUP BY source),
           |w AS (SELECT source, n_tokens,
           |  CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS wq FROM bs),
           |tot AS (SELECT CAST(sum(wq) AS BIGINT) AS tot_wq,
           |               CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM w)
           |SELECT source, n_tokens, wq,
           |  CAST(floor(CAST(wq AS DOUBLE) * 1e6 / CAST(tot_wq AS DOUBLE) + 0.5) AS BIGINT) AS rate_ppm,
           |  CAST(floor(CAST(n_tokens AS DOUBLE) * 1e6 / CAST(tot_tokens AS DOUBLE) + 0.5) AS BIGINT) AS prop_ppm
           |FROM w CROSS JOIN tot""".stripMargin))

  /** Quality-ordered selection buckets for [[x20]] — a pure function of the
    * quality score, so bucket order IS selection order and ties stay inside
    * one bucket.
    */
  private val BudgetBuckets = 256

  /** X20 (beyond reference): token-budget curation — rank the corpus by
    * quality (the [[x3]] composite) and keep the best documents until half
    * the total token budget is spent (the data-selection step of every
    * curated pretraining run). The global running sum is computed WITHOUT a
    * single-partition window: docs land in [[BudgetBuckets]] ordered
    * buckets (bucket = floor((1-quality)*256), monotone in the selection
    * order), per-bucket token subtotals produce broadcast-size offsets, and
    * the in-bucket window partitions by bucket — so at 100 TB every
    * exchange is keyed and the only single-partition state is the 256-row
    * offset table. A bare `ORDER BY quality DESC` window would funnel the
    * whole corpus through one task; this is the same partial-then-offset
    * decomposition a distributed prefix sum uses. Selection compares
    * `2 * cum <= total` in BIGINT — no float budget arithmetic.
    */
  /** Token-budget curation over any corpus: quality-ranked prefix
    * selection keeping documents while `cum * denom <= total * numer`
    * (the budget fraction as an exact rational — no float budget
    * arithmetic). Distributed two-level prefix sum: quality-ordered
    * buckets, broadcast offsets, per-bucket windows.
    */
  def tokenBudgetSelect(docs: DataFrame, numer: Int = 1, denom: Int = 2): DataFrame = {
    val scored = docs
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), size(col("w")).as("n_tok"),
        (lit(0.5) * least(lit(1.0), size(col("w")).cast("double") / 100.0) +
          lit(0.5) * (lit(1.0) - expr("size(filter(w, t -> t IN ('the', 'a', 'or', 'and', 'of')))").cast("double") / size(col("w"))))
          .as("quality"))
      .withColumn("b", least(lit(BudgetBuckets - 1),
        floor((lit(1.0) - col("quality")) * BudgetBuckets)).cast("int"))
    // one corpus scan produces the 256-row subtotals; offsets AND the
    // grand total both derive from that materialized table (deriving
    // `total` from `scored` directly would re-split and re-score the
    // whole corpus a third time — at 100 TB, a full wasted pass)
    val perBucket = scored.groupBy("b")
      .agg(sum(col("n_tok").cast("long")).as("btok"))
      .localCheckpoint()
    val offsets = perBucket
      .withColumn("offset",
        coalesce(sum("btok").over(Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("b", "offset")
    val total = perBucket.agg(sum("btok").as("total"))
    val wb = Window.partitionBy("b").orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.join(broadcast(offsets), "b").crossJoin(broadcast(total))
      .withColumn("cum_tok", col("offset") + sum(col("n_tok").cast("long")).over(wb))
      .withColumn("selected", col("cum_tok") * denom <= col("total") * numer)
      .select("doc_id", "n_tok", "quality", "cum_tok", "selected")
  }

  val x20: GraftQuery = GraftQuery(
    "x20_token_budget_select",
    (s, d) => tokenBudgetSelect(Tables.documents(s, d)),
    Some("""WITH t AS (SELECT doc_id, CAST(len(str_split(text, ' ')) AS INT) AS n_tok,
           |  0.5 * least(1.0, CAST(len(str_split(text, ' ')) AS DOUBLE) / 100.0) +
           |  0.5 * (1.0 - CAST(len(list_filter(str_split(text, ' '), x -> x IN ('the', 'a', 'or', 'and', 'of'))) AS DOUBLE) / len(str_split(text, ' '))) AS quality
           |  FROM documents),
           |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM t),
           |c AS (SELECT doc_id, n_tok, quality,
           |  CAST(sum(n_tok::BIGINT) OVER (ORDER BY quality DESC, doc_id
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok FROM t)
           |SELECT doc_id, n_tok, quality, cum_tok, cum_tok * 2 <= total AS selected
           |FROM c CROSS JOIN tot""".stripMargin))

  /** X21 (beyond reference): incremental dedup — the steady-state shape of
    * corpus dedup: a NEW batch (here the src19 slice) arrives and must be
    * deduped (a) against the existing corpus and (b) within itself, without
    * ever re-deduping the corpus. The key is a CANONICAL fingerprint (md5 of
    * the sorted distinct word set) rather than raw-text md5 — word-order
    * shuffles and repetition don't defeat it, so it catches the near-dup
    * rewrites raw hashing misses while staying an exact, joinable key.
    * Corpus side reduces to distinct fingerprints (md5-keyed shuffle,
    * uniform); batch side takes one window over its own fingerprints for
    * first-occurrence; the verdict join is hash-keyed. At 100 TB the corpus
    * fingerprint set is the big side and stays partitioned — nothing
    * rescans corpus text, which is the entire point of running dedup
    * incrementally.
    */
  val x21: GraftQuery = GraftQuery(
    "x21_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      incrementalDedup(
        corpus = docs.filter(col("source") =!= "src19"),
        batch = docs.filter(col("source") === "src19"))
    },
    Some("""WITH k AS (SELECT doc_id, source,
           |  md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')) AS h
           |  FROM documents),
           |corpus AS (SELECT DISTINCT h FROM k WHERE source != 'src19'),
           |batch AS (SELECT doc_id, h,
           |  doc_id = min(doc_id) OVER (PARTITION BY h) AS batch_first
           |  FROM k WHERE source = 'src19')
           |SELECT b.doc_id, b.h, c.h IS NOT NULL AS in_corpus, b.batch_first,
           |  (c.h IS NULL AND b.batch_first) AS keep
           |FROM batch b LEFT JOIN corpus c ON b.h = c.h""".stripMargin))

  /** X22 (beyond reference): PII redaction — the scrub pass curation
    * pipelines run before anything else touches raw text (emails, phone
    * numbers -> placeholder tokens). The driver corpus is synthetic
    * lowercase words with no PII, so the query first INJECTS deterministic
    * PII into every 10th document (the injection is part of the checked
    * query, not a fixture) and then detects + redacts it; the md5 of the
    * redacted text pins the exact scrub output. Pure per-row regex map —
    * scan-parallel, shuffle-free at any corpus size; the patterns are
    * RE2/Java-compatible so both engines match identically.
    */
  /** Email pattern shared by [[piiRedact]] and the x22 oracle: character
    * classes only (no backslash shorthand — `\d`/`\b` escape differently
    * between a Scala string fed to Java regex and a DuckDB SQL literal fed
    * to RE2, the x64 cross-engine trap), and no alternation, so Java's
    * backtracking matcher and RE2's automaton pick identical spans.
    */
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhonePat = "555-[0-9]{4}"

  /** Public DataFrame-in API (see graft.api.Graft): PII detection +
    * redaction over (doc_id, text) — the scrub pass curation pipelines run
    * before anything else touches raw text. Emits per doc
    * (doc_id, n_emails, n_phones, clean_text) where `clean_text` has every
    * email replaced by `[EMAIL]` then every phone token by `[PHONE]` (fixed
    * order, so engines agree when patterns could interact). Counts are
    * independent non-overlapping scans of the ORIGINAL text.
    *
    * Scale: stateless per-row regex map inside whole-stage codegen —
    * scan-parallel, shuffle-free at any corpus size.
    */
  def piiRedact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailPat), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhonePat), lit(0))).as("n_phones"),
      regexp_replace(regexp_replace(col("text"), EmailPat, "[EMAIL]"),
        PhonePat, "[PHONE]").as("clean_text"))

  /** (doc_id, text) with x22's deterministic PII injection: every tenth
    * doc gets an email and a phone number (the driver corpus is synthetic
    * words with none), so a scrub genuinely fires (x22, t35, t37, t44).
    */
  private[operators] def withPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call 555-0142")))
        .otherwise(col("text")).as("text"))

  /** The x22/t35 shared projection: [[withPii]] + [[piiRedact]], with the
    * scrub output pinned by md5. Stateless, so it runs unchanged on a
    * stream.
    */
  private[operators] def piiQuery(docs: DataFrame): DataFrame =
    piiRedact(withPii(docs))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("clean_text")).as("clean_md5"))

  val x22: GraftQuery = GraftQuery(
    "x22_pii_redaction",
    (s, d) => piiQuery(Tables.documents(s, d)),
    Some("""WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0
           |  THEN text || ' contact user' || doc_id || '@example.com or call 555-0142'
           |  ELSE text END AS raw FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           |  CAST(len(regexp_extract_all(raw, '555-[0-9]{4}')) AS INT) AS n_phones,
           |  md5(regexp_replace(regexp_replace(raw,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           |    '555-[0-9]{4}', '[PHONE]', 'g')) AS clean_md5
           |FROM inj""".stripMargin))

  /** OOV vocabulary size for [[x23]] (the driver corpus has 31 distinct
    * words, so top-16 splits it meaningfully).
    */
  private val VocabK = 16

  /** X23 (beyond reference): out-of-vocabulary rate — the integer-exact
    * stand-in for LM-perplexity quality scoring (log-prob scores are not
    * bit-reproducible across engines; OOV fraction against a corpus-derived
    * vocabulary is, and correlates with the same junk). Two aggregations:
    * corpus term counts -> top-K vocabulary (count desc, word — a global
    * TOP-K via sort-limit, not a full sort), then one explode + broadcast
    * vocab probe + per-doc aggregate. At 100 TB the vocabulary is a
    * constant-size broadcast and the corpus is scanned twice (once to build
    * vocab, once to score) — the standard two-pass shape.
    */
  /** Out-of-vocabulary rate per doc against a corpus-derived top-`vocabK`
    * vocabulary: (doc_id, n_tok, n_oov, oov_rate) — integer-exact.
    */
  def oovRate(docs: DataFrame, vocabK: Int): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = words.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocabK)
      .select(col("w"), lit(true).as("in_vocab"))
    words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id").agg(count(lit(1)).as("n_tok"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tok"))
  }

  val x23: GraftQuery = GraftQuery(
    "x23_oov_rate",
    (s, d) => oovRate(Tables.documents(s, d), VocabK),
    Some(s"""WITH wds AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents),
           |vocab AS (SELECT w FROM (SELECT w, count(*) AS c FROM wds GROUP BY 1
           |  ORDER BY c DESC, w LIMIT $VocabK) t)
           |SELECT wds.doc_id, count(*) AS n_tok,
           |  count(CASE WHEN vocab.w IS NULL THEN 1 END) AS n_oov,
           |  count(CASE WHEN vocab.w IS NULL THEN 1 END)::DOUBLE / count(*) AS oov_rate
           |FROM wds LEFT JOIN vocab ON wds.w = vocab.w
           |GROUP BY wds.doc_id""".stripMargin))

  /** Feature-hash buckets for [[x24]] (the hashing-trick dimensionality). */
  private val HashBuckets = 64

  /** Hashed bag-of-words features per doc: the hashing-trick featurizer
    * (Weinberger et al. 2009) behind fastText-style quality classifiers —
    * each word hashes to one of `HashBuckets` buckets (md5-derived, so both
    * engines compute identical indexes) and the doc becomes a fixed-width
    * count vector. Emitted as scalar-stable columns: active bucket count,
    * exact integer squared norm, and an md5 digest of the sorted
    * (bucket:count) pairs that pins the entire vector.
    */
  def hashedFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("bucket", expr(
        s"CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT) % $HashBuckets"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_active"),
        sum(col("cnt") * col("cnt")).as("sq_norm"),
        md5(concat_ws(",", expr(
          "transform(array_sort(collect_list(struct(bucket, cnt))), x -> concat(x.bucket, ':', x.cnt))")))
          .as("feat_md5"))

  /** X24 (beyond reference): feature hashing — the fixed-width featurizer
    * every lightweight corpus classifier (quality, language, topic) runs
    * on: no vocabulary to build or broadcast, features are a pure hash of
    * the tokens. One explode + two keyed hash aggregations (doc, bucket) /
    * (doc) with map-side partials — a single corpus scan at any scale,
    * same shape as x14. The md5 bucket index and the sorted-pair digest
    * are cross-engine exact.
    */
  val x24: GraftQuery = GraftQuery(
    "x24_feature_hash",
    (s, d) => hashedFeatures(Tables.documents(s, d)),
    Some(s"""WITH wds AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents),
           |b AS (SELECT doc_id,
           |  CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % $HashBuckets AS bucket
           |  FROM wds),
           |ct AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY 1, 2)
           |SELECT doc_id, count(*) AS n_active,
           |  CAST(sum(cnt * cnt) AS BIGINT) AS sq_norm,
           |  md5(string_agg(bucket || ':' || cnt, ',' ORDER BY bucket)) AS feat_md5
           |FROM ct GROUP BY doc_id""".stripMargin))

  /** X25 (beyond reference): within-document n-gram repetition — see
    * [[repetitionStats]]. Complements x14 (word-level) and x18
    * (cross-document boilerplate): this is the filter that catches a doc
    * looping one phrase.
    */
  val x25: GraftQuery = GraftQuery(
    "x25_repetition_ngrams",
    (s, d) => repetitionStats(Tables.documents(s, d)),
    Some("""WITH t AS (SELECT doc_id, length(text) AS n_chars, str_split(text, ' ') AS w FROM documents),
           |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
           |  i -> w[i] || ' ' || w[i+1])) AS g FROM t WHERE len(w) >= 2),
           |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
           |top2 AS (SELECT doc_id, c * length(g) AS topc FROM (
           |  SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rk
           |  FROM c2) WHERE rk = 1),
           |dup2 AS (SELECT doc_id,
           |  CAST(sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS BIGINT) AS dupc
           |  FROM c2 GROUP BY 1),
           |g5 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 4),
           |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS g
           |  FROM t WHERE len(w) >= 5),
           |c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2),
           |top5 AS (SELECT doc_id, c * length(g) AS topc FROM (
           |  SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rk
           |  FROM c5) WHERE rk = 1),
           |dup5 AS (SELECT doc_id,
           |  CAST(sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS BIGINT) AS dupc
           |  FROM c5 GROUP BY 1)
           |SELECT t.doc_id, t.n_chars,
           |  CASE WHEN t.n_chars = 0 THEN 0.0 ELSE COALESCE(top2.topc, 0)::DOUBLE / t.n_chars END AS top2_frac,
           |  CASE WHEN t.n_chars = 0 THEN 0.0 ELSE COALESCE(dup2.dupc, 0)::DOUBLE / t.n_chars END AS dup2_frac,
           |  CASE WHEN t.n_chars = 0 THEN 0.0 ELSE COALESCE(top5.topc, 0)::DOUBLE / t.n_chars END AS top5_frac,
           |  CASE WHEN t.n_chars = 0 THEN 0.0 ELSE COALESCE(dup5.dupc, 0)::DOUBLE / t.n_chars END AS dup5_frac,
           |  (CASE WHEN t.n_chars = 0 THEN 0.0 ELSE COALESCE(top2.topc, 0)::DOUBLE / t.n_chars END < 0.20 AND
           |   CASE WHEN t.n_chars = 0 THEN 0.0 ELSE COALESCE(dup5.dupc, 0)::DOUBLE / t.n_chars END < 0.15) AS keep
           |FROM t
           |LEFT JOIN top2 ON t.doc_id = top2.doc_id
           |LEFT JOIN dup2 ON t.doc_id = dup2.doc_id
           |LEFT JOIN top5 ON t.doc_id = top5.doc_id
           |LEFT JOIN dup5 ON t.doc_id = dup5.doc_id""".stripMargin))

  /** Span size for [[spanDedup]] — consecutive 16-word blocks, the unit of
    * cross-document exact-duplicate removal.
    */
  private val SpanTokens = 16

  /** Inter-document duplicate-span removal — the surgical cousin of
    * document-level dedup that C4 (Raffel et al. 2020, "three-sentence
    * spans") and RefinedWeb (Penedo et al. 2023) run: cut each document
    * into consecutive [[SpanTokens]]-word blocks, elect the globally first
    * occurrence (min (doc_id, idx)) of every distinct block, drop every
    * other occurrence — including repeats within one document — and
    * rebuild each document from its surviving blocks in order. Returns
    * (doc_id, n_spans, n_removed, clean_md5); the digest pins the exact
    * rebuilt text.
    *
    * Scale: the block explode is linear in corpus tokens and shuffle-free;
    * first-occurrence election is a hash aggregation on md5 span keys
    * (uniform, map-side partials); the verdict join shuffles on those same
    * keys, so a boilerplate-grade hot span is an AQE-splittable join key,
    * never a single-task window; the rebuild groups by doc_id with state
    * bounded by one document. No all-pairs stage at any corpus size.
    */
  def spanDedup(docs: DataFrame): DataFrame = {
    val blocks = docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("n", size(col("w")))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, (n - 1) div $SpanTokens)")).as("idx"),
        col("w"))
      .withColumn("span", concat_ws(" ",
        expr(s"slice(w, idx * $SpanTokens + 1, $SpanTokens)")))
      .select(col("doc_id"), col("idx"), col("span"), md5(col("span")).as("h"))
    val first = blocks.groupBy("h")
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
    blocks.join(first, "h")
      .withColumn("kept",
        col("doc_id") === col("first.doc_id") && col("idx") === col("first.idx"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
        md5(concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN kept THEN struct(idx, span) END)), x -> x.span)")))
          .as("clean_md5"))
  }

  /** X26 (beyond reference): duplicate-span removal — see [[spanDedup]].
    * Complements x1 (whole-document dedup) and x18 (boilerplate scoring):
    * this one edits documents, removing repeated spans while keeping the
    * unique remainder.
    */
  val x26: GraftQuery = GraftQuery(
    "x26_span_dedup",
    (s, d) => spanDedup(Tables.documents(s, d)),
    Some(s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |b AS (SELECT doc_id, unnest(generate_series(0, (len(w) - 1) // $SpanTokens)) AS idx, w FROM t),
           |s AS (SELECT doc_id, idx, array_to_string(w[idx * $SpanTokens + 1 : idx * $SpanTokens + $SpanTokens], ' ') AS span FROM b),
           |r AS (SELECT doc_id, idx, span,
           |  row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, idx) = 1 AS kept FROM s)
           |SELECT doc_id, count(*) AS n_spans,
           |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           |  md5(COALESCE(string_agg(CASE WHEN kept THEN span END, ' ' ORDER BY idx), '')) AS clean_md5
           |FROM r GROUP BY doc_id""".stripMargin))

  /** X27 (beyond reference): per-node triangle counts over the exact-dup
    * pair graph ([[dupSetPairs]] edges — the small-group pair path). A node
    * in a k-clique dup set sits in (k-1 choose 2) triangles; triangle
    * density separates true duplicate clusters from LSH chain noise.
    */
  val x27: GraftQuery = GraftQuery(
    "x27_triangle_count",
    (s, d) => GraphOps.triangleCounts(
      dupSetPairs(Tables.documents(s, d))
        .select(col("a_id").as("u"), col("b_id").as("v"))),
    Some("""WITH t AS (SELECT doc_id, list_distinct(str_split(text, ' ')) AS w FROM documents),
           |e AS (SELECT a.doc_id AS u, b.doc_id AS v FROM t a JOIN t b ON a.doc_id < b.doc_id
           |  WHERE len(list_intersect(a.w, b.w)) = len(list_distinct(list_concat(a.w, b.w)))),
           |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
           |  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
           |nodes AS (SELECT DISTINCT id FROM (SELECT u AS id FROM e UNION ALL SELECT v FROM e)),
           |corners AS (SELECT unnest([x, y, z]) AS id FROM tri),
           |cnt AS (SELECT id, count(*) AS c FROM corners GROUP BY id)
           |SELECT nodes.id, CAST(COALESCE(cnt.c, 0) AS BIGINT) AS n_triangles
           |FROM nodes LEFT JOIN cnt ON nodes.id = cnt.id""".stripMargin))

  /** Leakage-safe train/val/test split: the whole near-dup COMPONENT is
    * the unit of assignment, so two near-duplicate documents can never
    * land on opposite sides of the train/test boundary (the classic eval
    * contamination: a test doc whose near-copy was trained on scores as
    * memorization, not generalization — the motivation behind
    * train/test-overlap audits in GPT-3/Gopher appendices). Split is a
    * deterministic md5 bucket of the component id (80/10/10), so the
    * assignment is reproducible on any cluster and any engine; singleton
    * docs are their own component (x11 semantics).
    *
    * Scale: adds one codegen'd hash projection on top of [[dupComponents]]
    * (whose alternating-star closure is the O(log n)-round scale path).
    */
  def leakageSafeSplit(docs: DataFrame, threshold: Double = 0.9): DataFrame = {
    val bucket = expr(
      "CAST(conv(substr(md5(CAST(component AS STRING)), 1, 15), 16, 10) AS BIGINT) % 10")
    dupComponents(docs, threshold)
      .withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val").otherwise("test"))
      .select("doc_id", "component", "split")
  }

  /** X28 (beyond reference): component-level dataset split — see
    * [[leakageSafeSplit]]. The oracle replays the closure (recursive CTE)
    * and the identical md5 bucket arithmetic.
    */
  val x28: GraftQuery = GraftQuery(
    "x28_leakage_safe_split",
    (s, d) => leakageSafeSplit(Tables.documents(s, d), 0.9),
    Some("""WITH RECURSIVE t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
           |  ELSE [] END AS s FROM t),
           |pairs AS (SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
           |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
           |reach(id, lbl) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id),
           |comp AS (SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id),
           |b AS (SELECT doc_id, component,
           |  CAST('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15) AS BIGINT) % 10 AS bucket
           |  FROM comp)
           |SELECT doc_id, component,
           |  CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
           |FROM b""".stripMargin))

  /** Approximate Jaccard SIMILARITY JOIN between two corpora — the
    * cross-table generalization of [[nearDupPairs]] (which is the self-join
    * special case): for (a in left, b in right) emit (a_id, b_id, jaccard)
    * where 3-shingle Jaccard >= `threshold`. Users of x5/x7 hand-rolled
    * this by unioning tables and post-filtering pair sides; first-class it
    * is both cheaper (each side is banded once, candidates come from the
    * cross-side band-bucket equijoin only) and correct under id collisions
    * between the two tables (the union trick conflates them).
    *
    * Scale: identical contract to [[nearDupPairs]] — banding derived from
    * the threshold ([[bandingFor]], recall >= 0.999), candidates are
    * id-pairs only (shingle arrays re-attach by id for the exact verify),
    * never all-pairs. The typical use is asymmetric (100 TB corpus vs a
    * small incoming batch or benchmark set); the band join then behaves
    * like a semi-join keyed by the small side's buckets.
    */
  def similarityJoin(left: DataFrame, right: DataFrame,
      threshold: Double): DataFrame = {
    graft.plans.GraftExtensions.register(left.sparkSession)
    val (bands, rows) = bandingFor(threshold)
    val ls = shingleSets(left)
    val rs = shingleSets(right)
    val lb = lshBands(ls, numHashes = 64, bands = bands, rows = rows)
      .select(col("band"), col("bh"), col("doc_id").as("a_id"))
    val rb = lshBands(rs, numHashes = 64, bands = bands, rows = rows)
      .select(col("band"), col("bh"), col("doc_id").as("b_id"))
    lb.join(rb, Seq("band", "bh")).select("a_id", "b_id").distinct()
      .join(ls.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(rs.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jaccard", jaccard(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** X35 (beyond reference): cross-corpus similarity join — even-id docs
    * vs odd-id docs at 0.9 (the corpus-vs-incoming-batch shape). The
    * oracle brute-forces the cross product; the engine path stays banded.
    */
  val x35: GraftQuery = GraftQuery(
    "x35_similarity_join",
    (s, d) => {
      val docs = Tables.documents(s, d)
      similarityJoin(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), 0.9)
    },
    Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
           |  ELSE [] END AS s FROM t),
           |a AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
           |b AS (SELECT * FROM sh WHERE doc_id % 2 = 1)
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |  len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
           |FROM a JOIN b ON true
           |WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.9""".stripMargin))

  /** End-to-end corpus curation — the composed pipeline every pretraining
    * data run executes, as ONE call (see graft.api.Graft.curate):
    *
    *   1. quality gate: Gopher-style rules ([[qualityRules]]), keep only
    *      passing docs;
    *   2. exact dedup: one keeper (min doc_id) per identical-text group;
    *   3. near-dup dedup: [[dupComponents]] closure at `threshold` over the
    *      survivors, keep each component's canonical doc (its min id —
    *      which IS the component label);
    *   4. leakage-safe split: md5-bucket of the COMPONENT id, 80/10/10
    *      ([[leakageSafeSplit]] semantics), so near-dups of a kept doc can
    *      never straddle the train/test boundary;
    *   5. token accounting for the downstream packing/budget step.
    *
    * Output: one row per KEPT doc — (doc_id, component, n_dups, split,
    * n_tok). Scale: the stages compose scans and the x11 closure; nothing
    * here adds a shuffle beyond its standalone constituent ops, and the
    * quality + exact-dedup prefilter shrinks the corpus BEFORE the
    * (costlier) LSH stage — the order is load-bearing at 100 TB.
    */
  def curate(docs: DataFrame, threshold: Double = 0.9): DataFrame = {
    // clean/surv feed two consumers each (the next stage and the final
    // token join) — cache the narrow survivor sets so the tokenize-heavy
    // quality aggregation runs once, not per consumer (at cluster scale
    // the same role is played by persisting the stage to storage)
    val clean = qualityRules(docs).filter(col("keep")).select("doc_id")
      .join(docs, "doc_id").cache()
    val exactKeep = clean.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val surv = exactKeep.join(clean, "doc_id").cache()
    dupComponents(surv, threshold)
      .filter(col("doc_id") === col("component"))
      .withColumnRenamed("n_members", "n_dups")
      .withColumn("bucket", expr(
        "CAST(conv(substr(md5(CAST(component AS STRING)), 1, 15), 16, 10) AS BIGINT) % 10"))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val").otherwise("test"))
      .join(surv.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok")), "doc_id")
      .select("doc_id", "component", "n_dups", "split", "n_tok")
  }

  /** X36 (beyond reference): the one-call curation pipeline — see
    * [[curate]]. The oracle replays the full chain: Gopher rules, exact
    * keep-min dedup, recursive near-dup closure over survivors, component
    * md5 split buckets, token counts.
    */
  val x36: GraftQuery = GraftQuery(
    "x36_curate_pipeline",
    (s, d) => curate(Tables.documents(s, d), 0.9),
    Some("""WITH RECURSIVE wds AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents),
           |ct AS (SELECT doc_id, w, count(*) AS c FROM wds GROUP BY 1, 2),
           |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_distinct,
           |  max(c) AS top_count, CAST(sum(length(w) * c) AS BIGINT) AS n_word_chars FROM ct GROUP BY 1),
           |qual AS (SELECT doc_id FROM agg WHERE n_words >= 20 AND n_distinct::DOUBLE / n_words > 0.4
           |  AND top_count::DOUBLE / n_words < 0.15 AND n_word_chars::DOUBLE / n_words BETWEEN 3.0 AND 10.0),
           |clean AS (SELECT d.doc_id, d.text FROM documents d JOIN qual USING (doc_id)),
           |ek AS (SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text)),
           |surv AS (SELECT c.doc_id, c.text FROM clean c JOIN ek USING (doc_id)),
           |t AS (SELECT doc_id, str_split(text, ' ') AS w FROM surv),
           |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
           |  ELSE [] END AS s FROM t),
           |pairs AS (SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
           |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
           |reach(id, lbl) AS (
           |  SELECT doc_id, doc_id FROM surv
           |  UNION
           |  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id),
           |comp AS (SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id),
           |cm AS (SELECT doc_id, component, count(*) OVER (PARTITION BY component) AS n_dups FROM comp),
           |keep AS (SELECT doc_id, component, n_dups,
           |  CAST('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15) AS BIGINT) % 10 AS bucket
           |  FROM cm WHERE doc_id = component)
           |SELECT k.doc_id, k.component, k.n_dups,
           |  CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
           |  CAST(len(str_split(s.text, ' ')) AS BIGINT) AS n_tok
           |FROM keep k JOIN surv s ON s.doc_id = k.doc_id""".stripMargin))

  /** Per-stage funnel audit of the [[curate]] pipeline — the report every
    * curation run ships next to its output (what went in, what each stage
    * removed, what survived, in docs AND tokens): one row per stage
    * (input -> quality_pass -> exact_deduped -> kept), columns
    * (stage, n_docs, n_tokens). Same chain as [[curate]], but each stage's
    * frame reduces to a single count/sum row — four scalar aggregations
    * over progressively smaller inputs, so the report costs barely more
    * than the pipeline itself and parallelizes identically.
    */
  def curationReport(docs: DataFrame, threshold: Double = 0.9): DataFrame = {
    def stat(df: DataFrame, stage: String): DataFrame =
      df.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L))
          .as("n_tokens"))
        .withColumn("stage", lit(stage))
    // same two-consumer caching as [[curate]]: every stage feeds both its
    // stat() row and the next stage
    val clean = qualityRules(docs).filter(col("keep")).select("doc_id")
      .join(docs, "doc_id").cache()
    val exactKeep = clean.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val surv = exactKeep.join(clean, "doc_id").cache()
    val kept = dupComponents(surv, threshold)
      .filter(col("doc_id") === col("component"))
      .select("doc_id").join(surv, "doc_id")
    stat(docs, "input")
      .unionByName(stat(clean, "quality_pass"))
      .unionByName(stat(surv, "exact_deduped"))
      .unionByName(stat(kept, "kept"))
      .select("stage", "n_docs", "n_tokens")
  }

  /** [[curationReport]] with per-stage COST columns (VERDICT r10 #8):
    * each stage materializes inside a [[graft.core.QueryMetrics]] scope,
    * so the report says not only what each stage removed but what
    * it COST — (stage, n_docs, n_tokens, wall_ms, shuffle_bytes), the
    * table a 100-TB operator reads to find the dominating stage. Counts
    * are bit-identical to [[curationReport]] (x81 gates that against
    * x37's oracle); the two cost columns are measurements and stay out of
    * the oracle compare (TextOpsSpec asserts they are populated: every
    * wall_ms >= 1, shuffle bytes > 0 on the shuffling stages).
    */
  def curationReportCosts(docs: DataFrame, threshold: Double = 0.9): DataFrame = {
    val s = docs.sparkSession
    val m = graft.core.QueryMetrics(s)
    def staged(stage: String)(f: => DataFrame): DataFrame =
      m.scoped(stage)(f.localCheckpoint())
    def stat(df: DataFrame, stage: String): DataFrame =
      df.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L))
          .as("n_tokens"))
        .withColumn("stage", lit(stage))
    // the raw input is NOT materialized for a cost row (a localCheckpoint
    // of the whole corpus just to clock stage 0 would double the storage
    // footprint at scale) — `input` carries zero cost by construction,
    // the x82 convention; the listener detaches on every exit path
    try {
      val clean = staged("quality_pass") {
        qualityRules(docs).filter(col("keep")).select("doc_id")
          .join(docs, "doc_id")
      }
      val surv = staged("exact_deduped") {
        clean.groupBy(md5(col("text")).as("h"))
          .agg(min("doc_id").as("doc_id")).select("doc_id")
          .join(clean, "doc_id")
      }
      val kept = staged("kept") {
        dupComponents(surv, threshold)
          .filter(col("doc_id") === col("component"))
          .select("doc_id").join(surv, "doc_id")
      }
      stat(docs, "input")
        .unionByName(stat(clean, "quality_pass"))
        .unionByName(stat(surv, "exact_deduped"))
        .unionByName(stat(kept, "kept"))
        .join(broadcast(m.costTable(s)), Seq("stage"), "left")
        .na.fill(0L, Seq("wall_ms", "shuffle_bytes"))
        .select("stage", "n_docs", "n_tokens", "wall_ms", "shuffle_bytes")
    } catch { case t: Throwable => m.close(); throw t }
  }

  /** X37 (beyond reference): curation funnel report — see
    * [[curationReport]]. The oracle replays the full chain and UNION ALLs
    * the four stage aggregates.
    */
  val x37: GraftQuery = GraftQuery(
    "x37_curation_report",
    (s, d) => curationReport(Tables.documents(s, d), 0.9),
    Some("""WITH RECURSIVE wds AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents),
           |ct AS (SELECT doc_id, w, count(*) AS c FROM wds GROUP BY 1, 2),
           |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_distinct,
           |  max(c) AS top_count, CAST(sum(length(w) * c) AS BIGINT) AS n_word_chars FROM ct GROUP BY 1),
           |qual AS (SELECT doc_id FROM agg WHERE n_words >= 20 AND n_distinct::DOUBLE / n_words > 0.4
           |  AND top_count::DOUBLE / n_words < 0.15 AND n_word_chars::DOUBLE / n_words BETWEEN 3.0 AND 10.0),
           |clean AS (SELECT d.doc_id, d.text FROM documents d JOIN qual USING (doc_id)),
           |ek AS (SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text)),
           |surv AS (SELECT c.doc_id, c.text FROM clean c JOIN ek USING (doc_id)),
           |t AS (SELECT doc_id, str_split(text, ' ') AS w FROM surv),
           |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
           |  ELSE [] END AS s FROM t),
           |pairs AS (SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
           |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
           |reach(id, lbl) AS (
           |  SELECT doc_id, doc_id FROM surv
           |  UNION
           |  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id),
           |comp AS (SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id),
           |kept AS (SELECT s.doc_id, s.text FROM comp c JOIN surv s ON s.doc_id = c.doc_id
           |  WHERE c.doc_id = c.component),
           |tok AS (SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n FROM documents)
           |SELECT 'input' AS stage, count(*) AS n_docs,
           |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) AS n_tokens FROM documents
           |UNION ALL SELECT 'quality_pass', count(*),
           |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM clean
           |UNION ALL SELECT 'exact_deduped', count(*),
           |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM surv
           |UNION ALL SELECT 'kept', count(*),
           |  COALESCE(CAST(sum(len(str_split(text, ' '))) AS BIGINT), 0) FROM kept""".stripMargin))

  /** X81 (beyond reference): the COSTED funnel's count columns gated
    * against x37's oracle — proving the cost instrumentation changes
    * nothing about the pipeline's results; the wall_ms / shuffle_bytes
    * columns themselves are non-deterministic measurements and are
    * asserted populated in TextOpsSpec instead.
    */
  val x81: GraftQuery = GraftQuery(
    "x81_curation_costs",
    (s, d) => curationReportCosts(Tables.documents(s, d), 0.9)
      .select("stage", "n_docs", "n_tokens"),
    x37.oracle,
    bench = false)


  /** DSIR-style hashed importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — public literature):
    * score every raw-corpus doc by how much more likely its hashed-unigram
    * features are under a TARGET domain than under the raw corpus — the
    * domain-targeted selection signal that picks "looks like the target"
    * docs out of a crawl. Features are the [[hashedFeatures]] md5 buckets
    * (no vocabulary to build; 64 buckets here), bucket distributions carry
    * add-1 smoothing, and each doc's score is the MEAN per-token
    * probability ratio p_target(b)/p_raw(b).
    *
    * Divergence from the paper, documented: DSIR sums per-feature LOG
    * ratios; JVM `Math.log` and C libm are not guaranteed to round
    * identically, so for cross-engine bit-exactness the score is the mean
    * RAW ratio instead (integer-derived IEEE divisions + an order-fixed
    * sorted fold — deterministic in both engines). Rankings differ only
    * where the log/linear weighting of extreme buckets differs; the
    * selection semantics (higher = more target-like) are unchanged.
    *
    * Scale: two bucket-count aggregations (64 rows each, broadcast back),
    * one token-side join against the 64-row ratio table, one per-doc fold.
    * No all-pairs, no vocabulary broadcast, target side can be tiny.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame): DataFrame = {
    val B = HashBuckets
    def buckets(df: DataFrame): DataFrame =
      df.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .withColumn("bucket", expr(
          s"CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT) % $B"))
    val rb = buckets(raw)
    val spine = raw.sparkSession.range(B).toDF("bucket")
    val ratios = spine
      .join(rb.groupBy("bucket").agg(count(lit(1)).as("cr")), Seq("bucket"), "left")
      .join(buckets(target).groupBy("bucket").agg(count(lit(1)).as("ct")),
        Seq("bucket"), "left")
      .crossJoin(broadcast(rb.agg(count(lit(1)).as("nr"))))
      .crossJoin(broadcast(buckets(target).agg(count(lit(1)).as("nt"))))
      .select(col("bucket"),
        ((coalesce(col("ct"), lit(0L)) + 1L).cast("double")
          / (col("nt") + B).cast("double")
          / ((coalesce(col("cr"), lit(0L)) + 1L).cast("double")
            / (col("nr") + B).cast("double"))).as("ratio"))
    rb.join(broadcast(ratios), "bucket")
      .groupBy("doc_id")
      .agg(
        aggregate(array_sort(collect_list(col("ratio"))), lit(0.0),
          (acc, x) => acc + x).as("sr"),
        count(lit(1)).as("n_tok"))
      .select(col("doc_id"),
        (col("sr") / col("n_tok").cast("double")).as("dsir_ratio"),
        col("n_tok"))
  }

  /** X38 (beyond reference): DSIR importance weights with target = the
    * English slice of the corpus — see [[dsirWeights]]. The oracle replays
    * bucket hashing, smoothed distributions, and the sorted ratio fold.
    */
  val x38: GraftQuery = GraftQuery(
    "x38_dsir_importance",
    (s, d) => {
      val docs = Tables.documents(s, d)
      dsirWeights(docs, docs.filter(col("lang") === "en"))
    },
    Some(s"""WITH wds AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents),
           |rb AS (SELECT doc_id,
           |  CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % $HashBuckets AS bucket FROM wds),
           |twds AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents WHERE lang = 'en'),
           |tb AS (SELECT doc_id,
           |  CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % $HashBuckets AS bucket FROM twds),
           |spine AS (SELECT unnest(generate_series(0, ${HashBuckets - 1})) AS bucket),
           |rc AS (SELECT bucket, count(*) AS cr FROM rb GROUP BY 1),
           |tc AS (SELECT bucket, count(*) AS ct FROM tb GROUP BY 1),
           |nr AS (SELECT count(*) AS nr FROM rb),
           |nt AS (SELECT count(*) AS nt FROM tb),
           |ratios AS (SELECT spine.bucket,
           |  CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / CAST(nt + $HashBuckets AS DOUBLE)
           |    / (CAST(COALESCE(cr, 0) + 1 AS DOUBLE) / CAST(nr + $HashBuckets AS DOUBLE)) AS ratio
           |  FROM spine LEFT JOIN rc USING (bucket) LEFT JOIN tc USING (bucket)
           |  CROSS JOIN nr CROSS JOIN nt)
           |SELECT doc_id,
           |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_sort(list(ratio))), (a, b) -> a + b)
           |    / CAST(count(*) AS DOUBLE) AS dsir_ratio,
           |  count(*) AS n_tok
           |FROM rb JOIN ratios USING (bucket)
           |GROUP BY doc_id""".stripMargin))

  /** X39 (beyond reference): corpus-level n-gram statistics — the top-20
    * bigrams by frequency (deterministic tie-break on the bigram itself),
    * the summary a corpus audit runs to spot boilerplate and templating
    * before training. One explode + one hash aggregate with map-side
    * partial counts; the top-k is orderBy+limit, which Spark plans as
    * TakeOrderedAndProject (per-partition heaps + driver merge of 20-row
    * finalists), never a global sort — the aggregate domain (distinct
    * bigrams) is vocabulary-bounded, not corpus-bounded, so the shape
    * holds at 100 TB.
    */
  val x39: GraftQuery = GraftQuery(
    "x39_ngram_topk",
    (s, d) => {
      val toks = expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')")
      Tables.documents(s, d)
        .select(toks.as("w"))
        .select(explode(when(size(col("w")) >= 2,
          expr("transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(20)
    },
    Some("""WITH toks AS (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           |                                 t -> t <> '') AS w FROM documents),
           |bg AS (SELECT unnest(list_transform(range(1, len(w)),
           |                                    i -> w[i] || ' ' || w[i + 1])) AS bigram FROM toks)
           |SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram
           |ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin))

  /** X40 (beyond reference): cross-source n-gram overlap matrix — for every
    * source pair, how many distinct 8-gram shingles the two sources share.
    * This is the corpus-license/contamination audit run BEFORE mixing
    * sources into one training set (x15 answers "is doc d contaminated by
    * benchmark B"; x40 answers "which source pairs leak into each other").
    * Shape: per-doc distinct grams (the [[grams8]] kernel with the source
    * carried through), distinct down to (source, gram) — so the join input
    * is vocabulary-bounded per source, not corpus-bounded — then a
    * hash-partitioned self-equi-join on the gram. Per-gram fanout is
    * capped by the number of sources (each source contributes the gram at
    * most once after the distinct), so the worst gram key yields
    * S*(S-1)/2 pairs, never a row-count blowup; no all-pairs anywhere.
    */
  /** Public DataFrame-in API (see graft.api.Graft): cross-source 8-gram
    * overlap matrix. `docs` needs (doc_id, source, text); returns one row
    * per overlapping source pair (source_a < source_b, shared_grams).
    */
  def crossSourceOverlap(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val g = docs
      .select(col("source"), col("doc_id"), col("text"))
      .as[(String, Long, String)]
      .flatMap { case (src, _, text) =>
        val w = text.split(" ")
        if (w.length < 8) Iterator.empty
        else w.sliding(8).map(_.mkString(" ")).toSet.iterator.map((g: String) => (src, g))
      }.toDF("source", "g").distinct()
    g.as("a").join(g.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
  }

  val x40: GraftQuery = GraftQuery(
    "x40_cross_source_overlap",
    (s, d) => crossSourceOverlap(Tables.documents(s, d)),
    Some("""WITH t AS (SELECT doc_id, source, str_split(text, ' ') AS w FROM documents),
           |g0 AS (SELECT source, unnest(CASE WHEN len(w) >= 8
           |  THEN list_distinct([array_to_string(w[i:i+7], ' ') for i in generate_series(1, len(w) - 7)])
           |  ELSE [] END) AS g FROM t),
           |g AS (SELECT DISTINCT source, g FROM g0)
           |SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_grams
           |FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
           |GROUP BY 1, 2""".stripMargin))

  /** X41 (beyond reference): per-document unigram entropy — the
    * information-density quality signal (low entropy = repetitive/
    * templated text; Gopher's repetition rules approximate it, this is the
    * exact Shannon form H = ln(n) - (sum c*ln(c))/n over term counts c).
    * One explode + two hash aggregates, all map-side combinable.
    * Determinism: ln is libm (JVM vs DuckDB can differ in the last ulp),
    * so each c*ln(c) term is quantized to an INTEGER milli-nat before the
    * order-sensitive float sum — the aggregate is then a BIGINT sum
    * (order-free), and the final entropy is derived from integers by the
    * same IEEE expression in both engines. 3-dp resolution is ample for a
    * filter threshold and keeps the boundary-crossing risk of the ulp
    * difference negligible. Oracle determinism: the emitted n_tokens sum
    * is CAST to BIGINT (DuckDB HUGEINT promotion diverges under the
    * driver's canonicalization; see SCALE.md "hashed-output determinism").
    */
  /** Public DataFrame-in API (see graft.api.Graft): per-document unigram
    * Shannon entropy in nats at milli-nat resolution. `docs` needs
    * (doc_id, text); returns (doc_id, n_tokens, entropy).
    */
  def wordEntropy(docs: DataFrame): DataFrame = {
    val f = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    val cd = col("c").cast("double")
    f.groupBy("doc_id").agg(
        sum("c").as("n_tokens"),
        sum(floor(cd * log(cd) * 1000.0 + 0.5).cast("long")).as("clnc_milli"))
      .select(col("doc_id"), col("n_tokens"),
        ((floor(log(col("n_tokens").cast("double")) * 1000.0 + 0.5) -
          col("clnc_milli").cast("double") / col("n_tokens").cast("double")) / 1000.0)
          .as("entropy"))
  }

  val x41: GraftQuery = GraftQuery(
    "x41_word_entropy",
    (s, d) => wordEntropy(Tables.documents(s, d)),
    Some("""WITH w AS (SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents),
           |f AS (SELECT doc_id, word, count(*) AS c FROM w WHERE word <> '' GROUP BY 1, 2),
           |t AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           |        sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)) AS clnc_milli
           |      FROM f GROUP BY 1)
           |SELECT doc_id, n_tokens,
           |  (floor(ln(CAST(n_tokens AS DOUBLE)) * 1000.0 + 0.5)
           |    - CAST(clnc_milli AS DOUBLE) / CAST(n_tokens AS DOUBLE)) / 1000.0 AS entropy
           |FROM t""".stripMargin))

  /** Stop-variant cap for [[fuzzyMatchPairs]]: a deletion variant shared by
    * more than this many ids is a corpus-wide commonality (e.g. a templated
    * prefix), not linkage evidence; skipping it bounds per-bucket pair
    * fanout at cap^2/2 no matter how skewed the string distribution is.
    */
  private val FuzzyVariantCap = 100

  /** Public DataFrame-in API (see graft.api.Graft): edit-distance-1 record
    * linkage via the SymSpell/FastSS deletion neighborhood. `df` needs
    * (`idCol`: long UNIQUE key, `strCol`: string); returns
    * (a_id, b_id, dist) for pairs within edit distance 1.
    *
    * `idCol` must be unique (ADVICE r13): candidates travel id-only
    * through the exchanges and the strings are re-attached BY ID at the
    * end, so a duplicated id would cross-expand each candidate pair
    * against every string sharing that id — including strings that never
    * shared a variant. Record-linkage keys are unique by construction
    * (x42's c_custkey is the table's primary key); dedupe upstream if
    * yours are not.
    *
    * Candidate generation: each string emits itself plus its length
    * delete-one variants; any two strings within edit distance 1 share at
    * least one variant (substitution: delete the differing position from
    * both; insert/delete: the shorter string IS a variant of the longer),
    * so an equi-join on the variant key finds every true pair — no
    * all-pairs step, no similarity scan. Verification runs `levenshtein`
    * on the deduped candidates only. At 100 TB the variant join is the
    * one heavy exchange and it hashes uniformly; [[FuzzyVariantCap]]
    * removes the only skew mechanism (hot template variants).
    */
  def fuzzyMatchPairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    // decide with small rows, attach payloads once (guide §8): the variant
    // join and both distincts used to carry the FULL source string per row
    // — kilobytes of payload shuffled three times so two ids could be
    // compared. Candidates are id-only here (16-byte rows through every
    // exchange); the strings are re-attached by id at the end, only for
    // the deduped candidate pairs the levenshtein verify actually reads.
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
    val dv = base
      .withColumn("i", explode(sequence(lit(0), length(col("s")))))
      .select(col("id"),
        when(col("i") === 0, col("s"))
          .otherwise(concat(
            expr("substring(s, 1, i - 1)"),
            expr("substring(s, i + 1, length(s))"))).as("variant"))
      .distinct()
    val keep = dv.groupBy("variant").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= FuzzyVariantCap).select("variant")
    val kept = dv.join(keep, Seq("variant"))
    kept.as("a").join(kept.as("b"),
        col("a.variant") === col("b.variant") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
      .join(base.select(col("id").as("a_id"), col("s").as("s_a")), "a_id")
      .join(base.select(col("id").as("b_id"), col("s").as("s_b")), "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("s_a"), col("s_b")).as("dist"))
      .filter(col("dist") <= 1)
  }

  /** X42 (beyond reference): entity resolution over the customer table —
    * the blocking+verify record-linkage step a data platform runs before
    * joining user-supplied keys. Deletion-neighborhood candidates, exact
    * Levenshtein verify; both engines compute classic integer edit
    * distance, so the verify is bitwise-free.
    */
  val x42: GraftQuery = GraftQuery(
    "x42_fuzzy_match_pairs",
    (s, d) => fuzzyMatchPairs(Tables.customer(s, d), "c_custkey", "c_name"),
    Some(s"""WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer),
           |v0 AS (SELECT id, s, unnest(range(0, length(s) + 1)) AS i FROM c),
           |dv AS (SELECT DISTINCT id, s,
           |         CASE WHEN i = 0 THEN s
           |              ELSE substr(s, 1, CAST(i - 1 AS INT)) || substr(s, CAST(i + 1 AS INT), length(s)) END AS variant
           |       FROM v0),
           |keep AS (SELECT variant FROM dv GROUP BY 1 HAVING count(*) <= $FuzzyVariantCap),
           |kv AS (SELECT dv.* FROM dv JOIN keep USING (variant)),
           |cand AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id, a.s AS s_a, b.s AS s_b
           |         FROM kv a JOIN kv b ON a.variant = b.variant AND a.id < b.id)
           |SELECT a_id, b_id, CAST(levenshtein(s_a, s_b) AS INT) AS dist
           |FROM cand WHERE levenshtein(s_a, s_b) <= 1""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): the pair-count half of
    * one BPE merge iteration — adjacent character-pair frequencies over the
    * word histogram (tokenizer training's inner loop). `docs` needs a text
    * column; returns (pair, freq). Counting runs over the DISTINCT word
    * domain (vocabulary-bounded, a tiny fraction of the corpus at 100 TB),
    * so the per-word pair explosion costs O(vocab x word-length), not
    * O(corpus); the corpus-sized work is the one word-count aggregate.
    */
  def bpePairCounts(docs: DataFrame): DataFrame = {
    val wc = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
    wc.filter(length(col("w")) >= 2)
      .withColumn("i", explode(sequence(lit(1), length(col("w")) - 1)))
      .select(expr("substring(w, i, 2)").as("pair"), col("n"))
      .groupBy("pair").agg(sum("n").as("freq"))
  }

  /** X43 (beyond reference): top-20 BPE merge candidates over the corpus,
    * deterministic tiebreak (freq desc, pair asc) so the top-k cutoff is
    * engine-independent.
    */
  val x43: GraftQuery = GraftQuery(
    "x43_bpe_pair_counts",
    (s, d) => bpePairCounts(Tables.documents(s, d))
      .orderBy(col("freq").desc, col("pair")).limit(20),
    Some("""WITH w AS (SELECT unnest(str_split(text, ' ')) AS w FROM documents),
           |wc AS (SELECT w, count(*) AS n FROM w WHERE w <> '' GROUP BY 1),
           |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, n
           |      FROM (SELECT w, n, unnest(range(1, length(w))) AS i FROM wc
           |            WHERE length(w) >= 2))
           |SELECT pair, CAST(sum(n) AS BIGINT) AS freq FROM p GROUP BY 1
           |ORDER BY freq DESC, pair LIMIT 20""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): priority sampling
    * (Duffield, Lund & Thorup, JACM 54(6) 2007) — weighted sampling
    * without replacement as a pure top-k: priority = weight / u(id), with
    * u the keyed 60-bit md5 draw (functions/HashDraw), so the sample is
    * deterministic, partition-order-free, and cross-engine reproducible;
    * item inclusion probability approaches min(1, k * w_i / W). The
    * priority is a ratio of two integers computed by one IEEE division,
    * so both engines agree bitwise — no ln() anywhere (the exponential-
    * jump A-ES formulation would drag libm in). Scale: one scan +
    * TakeOrderedAndProject; no global sort, no corpus shuffle.
    */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame =
    df.withColumn("priority",
        col(weightCol).cast("double") /
          (expr(s"CAST(conv(substr(md5(concat(CAST($idCol AS STRING), ':ps')), 1, 15), 16, 10) AS BIGINT)")
            + 1).cast("double"))
      .orderBy(col("priority").desc, col(idCol))
      .limit(k)

  /** X44 (beyond reference): weighted corpus sampling — 50 documents drawn
    * with probability proportional to length (n_chars), the curation move
    * for building a size-budgeted eval slice that still represents the
    * long documents.
    */
  val x44: GraftQuery = GraftQuery(
    "x44_priority_sample",
    (s, d) => prioritySample(
      Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", 50),
    Some("""SELECT doc_id, n_chars,
           |  CAST(n_chars AS DOUBLE) /
           |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ps'), 1, 15) AS BIGINT) + 1 AS DOUBLE) AS priority
           |FROM documents ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): Zipf rank-frequency
    * fit over the corpus vocabulary — log-log OLS of term frequency on
    * rank. Natural text follows slope ≈ −1 (Zipf 1949); templated,
    * machine-generated, or boilerplate-heavy corpora flatten or kink the
    * curve, so the slope is a one-number corpus-health monitor (the
    * distributional companion to x41's per-document entropy). Returns one
    * row (n_vocab, slope, intercept, r2).
    *
    * Scale: one tokenize scan + one hash aggregate on the VOCABULARY
    * domain; the rank window and the final fit run over vocab rows only —
    * bounded by language, not corpus size. Determinism: ranks and
    * frequencies are integers; each ln (the libm step) is quantized to
    * 1e-6 immediately (the d2 discipline — ulp-boundary straddles are the
    * accepted residual risk), and every aggregate is then an exact BIGINT
    * sum, so the fit inputs are bitwise-identical cross-engine.
    */
  def zipfFit(docs: DataFrame): DataFrame = {
    val freq = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
    val ranked = freq.withColumn("r",
      row_number().over(Window.orderBy(col("f").desc, col("w"))))
    def qz(c: Column) = floor(c * 1e6 + 0.5).cast("long")
    val lx = log(col("r").cast("double"))
    val ly = log(col("f").cast("double"))
    val g = ranked
      .select(qz(lx).as("qx"), qz(ly).as("qy"), qz(lx * ly).as("qxy"),
        qz(lx * lx).as("qxx"), qz(ly * ly).as("qyy"))
      .agg(count(lit(1)).as("n_vocab"), sum("qx").as("sx"), sum("qy").as("sy"),
        sum("qxy").as("sxy"), sum("qxx").as("sxx"), sum("qyy").as("syy"))
    val n = col("n_vocab").cast("double")
    def d(c: String) = col(c).cast("double") / 1e6
    val covN = n * d("sxy") - d("sx") * d("sy")
    val varXN = n * d("sxx") - d("sx") * d("sx")
    val varYN = n * d("syy") - d("sy") * d("sy")
    g.select(col("n_vocab"),
      (covN / varXN).as("slope"),
      ((d("sy") - covN / varXN * d("sx")) / n).as("intercept"),
      (covN * covN / (varXN * varYN)).as("r2"))
  }

  /** X45 (beyond reference): Zipf-law audit of the documents corpus. */
  val x45: GraftQuery = GraftQuery(
    "x45_zipf_fit",
    (s, d) => zipfFit(Tables.documents(s, d)),
    Some("""WITH w AS (SELECT unnest(str_split(text, ' ')) AS w FROM documents),
           |f AS (SELECT w, count(*) AS f FROM w WHERE length(w) > 0 GROUP BY 1),
           |r AS (SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM f),
           |q AS (SELECT
           |    CAST(floor(ln(CAST(r AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS qx,
           |    CAST(floor(ln(CAST(f AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS qy,
           |    CAST(floor(ln(CAST(r AS DOUBLE)) * ln(CAST(f AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS qxy,
           |    CAST(floor(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS qxx,
           |    CAST(floor(ln(CAST(f AS DOUBLE)) * ln(CAST(f AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS qyy
           |  FROM r),
           |g AS (SELECT count(*) AS n_vocab, sum(qx) AS sx, sum(qy) AS sy,
           |        sum(qxy) AS sxy, sum(qxx) AS sxx, sum(qyy) AS syy FROM q)
           |SELECT n_vocab,
           |  (CAST(n_vocab AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
           |     - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
           |  / (CAST(n_vocab AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e6)
           |     - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6)) AS slope,
           |  ((CAST(sy AS DOUBLE) / 1e6)
           |     - (CAST(n_vocab AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
           |          - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
           |       / (CAST(n_vocab AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e6)
           |          - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6))
           |       * (CAST(sx AS DOUBLE) / 1e6)) / CAST(n_vocab AS DOUBLE) AS intercept,
           |  (CAST(n_vocab AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
           |     - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
           |  * (CAST(n_vocab AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
           |     - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
           |  / ((CAST(n_vocab AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e6)
           |      - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6))
           |     * (CAST(n_vocab AS DOUBLE) * (CAST(syy AS DOUBLE) / 1e6)
           |        - (CAST(sy AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))) AS r2
           |FROM g""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): vocabulary coverage
    * curve — for each candidate vocabulary size k, the fraction of all
    * corpus tokens covered by the k most frequent words (ties broken by
    * word text). The tokenizer-budget planning table: where the curve
    * flattens is where growing the vocab stops paying (the corpus-level
    * companion to x23's per-doc OOV rate). One tokenize scan + one hash
    * aggregate; the rank window and the per-k sums run over the
    * VOCABULARY domain only. Counts are integers; coverage is one IEEE
    * division per k.
    */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int] = Seq(5, 10, 20)): DataFrame = {
    val wc = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
    val ranked = wc.withColumn("r",
      row_number().over(Window.orderBy(col("n").desc, col("w"))))
    val tot = wc.agg(sum("n").as("total_tokens"))
    ks.map { k =>
      ranked.filter(col("r") <= k)
        .agg(sum("n").as("covered_tokens"))
        .crossJoin(broadcast(tot))
        .select(lit(k).as("vocab_k"), col("covered_tokens"), col("total_tokens"),
          (col("covered_tokens").cast("double") /
            col("total_tokens").cast("double")).as("coverage"))
    }.reduce(_ unionByName _)
  }

  /** X46 (beyond reference): vocabulary-budget coverage audit of the
    * documents corpus.
    */
  val x46: GraftQuery = GraftQuery(
    "x46_vocab_coverage",
    (s, d) => vocabCoverage(Tables.documents(s, d)),
    Some("""WITH w AS (SELECT unnest(str_split(text, ' ')) AS w FROM documents),
           |f AS (SELECT w, count(*) AS n FROM w WHERE length(w) > 0 GROUP BY 1),
           |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, w) AS r FROM f),
           |t AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens FROM f),
           |ks AS (SELECT unnest([5, 10, 20]) AS vocab_k)
           |SELECT ks.vocab_k,
           |  CAST(sum(CASE WHEN r.r <= ks.vocab_k THEN n ELSE 0 END) AS BIGINT) AS covered_tokens,
           |  t.total_tokens,
           |  CAST(sum(CASE WHEN r.r <= ks.vocab_k THEN n ELSE 0 END) AS DOUBLE)
           |    / CAST(t.total_tokens AS DOUBLE) AS coverage
           |FROM ks CROSS JOIN r CROSS JOIN t
           |GROUP BY ks.vocab_k, t.total_tokens""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): corpus-mass length
    * quantiles. `docs` needs a `n_chars` column (or any positive integer
    * size); returns one row per requested percentile with the length
    * quantile by DOC COUNT and by BYTE MASS.
    */
  def massQuantiles(docs: DataFrame, pcts: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      "massQuantiles: percentiles in [1, 100]")
    val s = docs.sparkSession
    import s.implicits._
    val dd = docs.groupBy("n_chars")
      .agg(count(lit(1)).as("cnt"), sum("n_chars").as("mass"))
    val w = Window.orderBy("n_chars")
    val c = dd.select(col("n_chars"),
      sum("cnt").over(w).as("cum_cnt"), sum("mass").over(w).as("cum_mass"))
    val t = dd.agg(sum("cnt").as("tot_cnt"), sum("mass").as("tot_mass"))
    val p = pcts.toDF("pct")
    broadcast(p).crossJoin(c).crossJoin(broadcast(t))
      .groupBy("pct").agg(
        min(when(col("cum_cnt") * 100 >= col("pct") * col("tot_cnt"),
          col("n_chars"))).as("len_by_docs"),
        min(when(col("cum_mass") * 100 >= col("pct") * col("tot_mass"),
          col("n_chars"))).as("len_by_mass"))
  }

  /** X47 (beyond reference): corpus-mass length quantiles — for each
    * percentile, the document length below which p% of DOCS sit vs the
    * length below which p% of the corpus BYTES sit. The two diverge hard
    * on heavy-tailed corpora (most docs are short, most bytes live in
    * long docs), and the by-mass curve is the one that governs training
    * cost, packing ([[x16]]) and token budgets ([[x19]]/[[x20]]) — a
    * curation decision made on the by-docs curve over-weights the tail.
    * Shape: one hash aggregate onto the distinct-length domain, one
    * cumulative window over that bounded domain (the d3 discipline), and
    * a 4-row percentile spine; every comparison is exact integer
    * arithmetic (cum·100 ≥ p·total — no float percentile interpolation
    * to disagree across engines). Magnitudes: cum_mass·100 stays in
    * BIGINT to ~1e16 corpus chars (about 10 PB of text).
    */
  val x47: GraftQuery = GraftQuery(
    "x47_corpus_mass_quantiles",
    (s, d) => massQuantiles(Tables.documents(s, d)),
    Some("""WITH d AS (SELECT n_chars, count(*) AS cnt, sum(n_chars) AS mass
           |           FROM documents GROUP BY 1),
           |c AS (SELECT n_chars, sum(cnt) OVER (ORDER BY n_chars) AS cum_cnt,
           |             sum(mass) OVER (ORDER BY n_chars) AS cum_mass FROM d),
           |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot_cnt,
           |             CAST(sum(mass) AS BIGINT) AS tot_mass FROM d),
           |p AS (SELECT CAST(unnest([25, 50, 75, 90]) AS INT) AS pct)
           |SELECT p.pct,
           |  min(CASE WHEN cum_cnt * 100 >= p.pct * tot_cnt THEN n_chars END) AS len_by_docs,
           |  min(CASE WHEN cum_mass * 100 >= p.pct * tot_mass THEN n_chars END) AS len_by_mass
           |FROM p CROSS JOIN c CROSS JOIN t
           |GROUP BY p.pct""".stripMargin))

  /** X48 (beyond reference): distinct-n diversity ratios per source —
    * distinct-1 (type/token ratio) and distinct-2 (distinct bigrams /
    * total bigrams), the standard corpus-diversity metrics (Li et al.
    * 2016's distinct-n, used to spot templated / machine-generated /
    * over-deduplicated slices): a source whose distinct-2 craters is
    * boilerplate or model output, and the numbers complement [[x41]]'s
    * per-doc entropy with a per-SOURCE vocabulary-reuse view. Shape: one
    * explode per n, two count-distinct hash aggregates on the (source,
    * gram) domain — map-side combining collapses repeated grams before
    * the shuffle; counts are integers, the ratios single divisions.
    */
  val x48: GraftQuery = GraftQuery(
    "x48_distinct_ngrams",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("source"), split(col("text"), " ").as("w"))
      val u = t.select(col("source"), explode(col("w")).as("g"))
      val b = t.select(col("source"), explode(expr(
        "transform(slice(w, 1, greatest(size(w) - 1, 0)), (x, i) -> concat(x, ' ', w[i + 1]))"))
        .as("g"))
      val us = u.groupBy("source").agg(
        count(lit(1)).as("n1"), countDistinct("g").as("d1"))
      val bs = b.groupBy("source").agg(
        count(lit(1)).as("n2"), countDistinct("g").as("d2"))
      us.join(bs, "source")
        .select(col("source"), col("n1"), col("d1"),
          (col("d1").cast("double") / col("n1")).as("distinct1"),
          col("n2"), col("d2"),
          (col("d2").cast("double") / col("n2")).as("distinct2"))
    },
    Some("""WITH t AS (SELECT source, str_split(text, ' ') AS w FROM documents),
           |u AS (SELECT source, unnest(w) AS g FROM t),
           |b AS (SELECT source, unnest(CASE WHEN len(w) >= 2
           |        THEN [w[i] || ' ' || w[i+1] for i in generate_series(1, len(w) - 1)]
           |        ELSE [] END) AS g FROM t),
           |us AS (SELECT source, CAST(count(*) AS BIGINT) AS n1,
           |         CAST(count(DISTINCT g) AS BIGINT) AS d1 FROM u GROUP BY 1),
           |bs AS (SELECT source, CAST(count(*) AS BIGINT) AS n2,
           |         CAST(count(DISTINCT g) AS BIGINT) AS d2 FROM b GROUP BY 1)
           |SELECT us.source, n1, d1, CAST(d1 AS DOUBLE) / n1 AS distinct1,
           |       n2, d2, CAST(d2 AS DOUBLE) / n2 AS distinct2
           |FROM us JOIN bs USING (source)""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): containment pairs.
    * Candidates = pairs sharing >= 2 rare shingles (global DF in [2, 4] —
    * DF 1 cannot pair, the cap bounds per-shingle fanout at C(4,2), and
    * the >= 2 rule rejects single birthday-collision shingles before the
    * set-intersect verify); verified exactly:
    * containment = |Sa∩Sb| / min(|Sa|, |Sb|) >= thr.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.9): DataFrame = {
    // the shingle sets feed candidate generation AND both sides of the
    // verify join — pin them once (the kmeansCentroidsOf discipline) so
    // the plan doesn't re-shingle the corpus three times
    val sets = shingleSets(docs).localCheckpoint()
    val g = sets.select(col("doc_id"), explode(col("sh")).as("g"))
    val rare = g.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 4)).select("g")
    val rg = g.join(rare, "g")
    // demand >= 2 shared rare shingles before paying the set-intersect
    // verify: one shared rare shingle happens by birthday collision on any
    // large corpus (measured: it made verification the bench's slowest
    // step), two is overwhelming evidence of real overlap — and any
    // containment >= 0.9 pair shares far more than two
    val cand = rg.select(col("g"), col("doc_id").as("a_id"))
      .join(rg.select(col("g"), col("doc_id").as("b_id")), "g")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_rare"))
      .filter(col("n_rare") >= 2).select("a_id", "b_id")
    val thrNum = math.round(threshold * 10).toInt
    withSets(cand, sets)
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_sh"), col("b_sh"))).as("inter"),
        least(size(col("a_sh")), size(col("b_sh"))).as("mn"))
      .filter(col("mn") > 0 && col("inter") * 10 >= col("mn") * thrNum)
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") / col("mn")).as("containment"))
  }

  /** X49 (beyond reference): asymmetric near-dup by CONTAINMENT — the
    * quote/subset detector Jaccard dedup ([[x7]]) structurally misses: a
    * short doc fully embedded in a long one has containment ~1 but
    * Jaccard ~|A|/|B| (arbitrarily small), so symmetric thresholds never
    * fire. Candidates come from RARE shingles (global DF in [2, 4]) — an
    * inverted-index pass whose fanout is bounded at C(4,2) pairs per
    * shingle, never all-pairs — then the exact containment
    * |Sa∩Sb|/min(|Sa|, |Sb|) >= 0.9 verifies each candidate (only pairs
    * sharing >= 2 rare shingles reach it — a single shared rare shingle
    * is a birthday collision on any big corpus, and admitting those made
    * verification the measured bottleneck); the
    * threshold compares as exact integers (inter·10 >= mn·9). The
    * candidate rule is part of the operator contract, replayed exactly
    * by the oracle. At 100 TB: one DF aggregate (map-side combined), one
    * self-equi-join on the rare-shingle key, per-pair set ops on the
    * candidates only — the contamination-check dataflow ([[x15]])
    * without the broadcast side.
    */
  val x49: GraftQuery = GraftQuery(
    "x49_containment_pairs",
    (s, d) => containmentPairs(Tables.documents(s, d), 0.9),
    Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
           |  ELSE [] END AS s FROM t),
           |g AS (SELECT doc_id, unnest(s) AS g FROM sh),
           |rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM g GROUP BY 1)
           |         WHERE df BETWEEN 2 AND 4),
           |rg AS (SELECT doc_id, g.g FROM g JOIN rare USING (g)),
           |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           |         FROM rg a JOIN rg b ON a.g = b.g AND a.doc_id < b.doc_id
           |         GROUP BY 1, 2 HAVING count(*) >= 2),
           |p AS (SELECT c.a_id, c.b_id,
           |        len(list_intersect(sa.s, sb.s)) AS inter,
           |        least(len(sa.s), len(sb.s)) AS mn
           |      FROM cand c
           |      JOIN sh sa ON sa.doc_id = c.a_id
           |      JOIN sh sb ON sb.doc_id = c.b_id)
           |SELECT a_id, b_id, CAST(inter AS DOUBLE) / mn AS containment
           |FROM p WHERE mn > 0 AND inter * 10 >= mn * 9""".stripMargin))

  /** X50 (beyond reference): dedup METHOD comparison — one row per
    * strategy (exact md5, near-dup components at 0.9, containment) with
    * how many docs it would remove: the settings-selection audit a
    * curation team runs before committing to a dedup config ([[x37]]
    * reports ONE pipeline's funnel; this compares the strategies).
    * Removal rules are each method's canonical one: exact keeps the
    * min-id per hash group; near-dup keeps one doc per component;
    * containment removes the smaller-set side of each >= 0.9 pair
    * (tiebreak: the larger doc_id goes). The oracle replays all three
    * pipelines — md5 groups, the recursive-CTE component closure, and
    * the rare-shingle containment index — and the counts must agree
    * exactly. Cost = the three underlying passes; nothing new at scale.
    */
  val x50: GraftQuery = GraftQuery(
    "x50_dedup_method_report",
    (s, d) => {
      // the three strategy pipelines (plus the corpus count) are
      // independent driver actions — overlap them from a small thread
      // pool (guide §2.6) so each pipeline's straggler tail back-fills
      // with the next one's tasks instead of serializing four job chains.
      // Results are scalars of deterministic pipelines; overlap changes
      // wall-clock only.
      graft.plans.GraftExtensions.register(s)
      val docs = Tables.documents(s, d)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      // one shared job group across the futures (ADVICE r13): if any
      // pipeline fails, its siblings' in-flight Spark jobs are CANCELLED
      // before the rethrow instead of running on in the background and
      // contaminating the next query's timing
      val groupId = s"x50-${java.util.UUID.randomUUID()}"
      def grouped[T](desc: String)(body: => T): T = {
        s.sparkContext.setJobGroup(groupId, desc, interruptOnCancel = true)
        try body finally s.sparkContext.clearJobGroup()
      }
      try {
        val fN = Future(grouped("x50: corpus count")(docs.count()))
        val fExact = Future(grouped("x50: exact dedup")(exactDupGroups(docs)
          .agg(sum(col("n") - 1).as("r")).select(col("r")).head().getLong(0)))
        val fNear = Future(grouped("x50: neardup components")(
          dupComponents(docs, 0.9)
            .select("component", "n_members").distinct()
            .agg(sum(col("n_members") - 1).as("r")).head().getLong(0)))
        val fCont = Future(grouped("x50: containment") {
          val cp = containmentPairs(docs, 0.9)
          val sizes = shingleSets(docs).select(col("doc_id"), size(col("sh")).as("ns"))
          cp.join(sizes.select(col("doc_id").as("a_id"), col("ns").as("na")), "a_id")
            .join(sizes.select(col("doc_id").as("b_id"), col("ns").as("nb")), "b_id")
            .select(when(col("na") < col("nb"), col("a_id"))
              .when(col("nb") < col("na"), col("b_id"))
              .otherwise(greatest(col("a_id"), col("b_id"))).as("removed"))
            .distinct().count()
        })
        val (n, exactRemoved, nearRemoved, contRemoved) =
          try (Await.result(fN, Duration.Inf),
            Await.result(fExact, Duration.Inf),
            Await.result(fNear, Duration.Inf),
            Await.result(fCont, Duration.Inf))
          catch { case t: Throwable =>
            s.sparkContext.cancelJobGroup(groupId); throw t
          }
        import s.implicits._
        Seq(
          ("exact_md5", n, exactRemoved),
          ("neardup_components", n, nearRemoved),
          ("containment", n, contRemoved))
          .toDF("method", "n_docs", "n_removed")
          .withColumn("frac_removed",
            col("n_removed").cast("double") / col("n_docs"))
      } finally { pool.shutdownNow(); () }
    },
    Some("""WITH RECURSIVE t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
           |  ELSE [] END AS s FROM t),
           |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |ex AS (SELECT CAST(sum(c - 1) AS BIGINT) AS r FROM
           |        (SELECT count(*) AS c FROM documents GROUP BY md5(text))),
           |pairs AS (SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
           |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
           |reach(id, lbl) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id),
           |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
           |nr AS (SELECT CAST(sum(m - 1) AS BIGINT) AS r FROM
           |        (SELECT count(*) AS m FROM comp GROUP BY component)),
           |g AS (SELECT doc_id, unnest(s) AS g FROM sh),
           |rare AS (SELECT g FROM (SELECT g, count(*) AS c FROM g GROUP BY 1)
           |         WHERE c BETWEEN 2 AND 4),
           |rg AS (SELECT doc_id, g.g FROM g JOIN rare USING (g)),
           |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           |         FROM rg a JOIN rg b ON a.g = b.g AND a.doc_id < b.doc_id
           |         GROUP BY 1, 2 HAVING count(*) >= 2),
           |cp AS (SELECT c.a_id, c.b_id, len(sa.s) AS na, len(sb.s) AS nb,
           |         len(list_intersect(sa.s, sb.s)) AS inter,
           |         least(len(sa.s), len(sb.s)) AS mn
           |       FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
           |       JOIN sh sb ON sb.doc_id = c.b_id),
           |cr AS (SELECT CAST(count(DISTINCT CASE WHEN na < nb THEN a_id
           |                 WHEN nb < na THEN b_id
           |                 ELSE greatest(a_id, b_id) END) AS BIGINT) AS r
           |       FROM cp WHERE mn > 0 AND inter * 10 >= mn * 9)
           |SELECT 'exact_md5' AS method, nd.n AS n_docs, ex.r AS n_removed,
           |       CAST(ex.r AS DOUBLE) / nd.n AS frac_removed FROM nd, ex
           |UNION ALL SELECT 'neardup_components', nd.n, nr.r,
           |       CAST(nr.r AS DOUBLE) / nd.n FROM nd, nr
           |UNION ALL SELECT 'containment', nd.n, cr.r,
           |       CAST(cr.r AS DOUBLE) / nd.n FROM nd, cr""".stripMargin))

  /** X51 (beyond reference): PMI collocations — the top-20 bigrams by
    * pointwise mutual information (ln of observed-over-expected under
    * unigram independence), min count 5. [[x39]] ranks bigrams by raw
    * frequency, which surfaces function-word pairs ("of the"); PMI
    * normalizes by the unigram marginals and surfaces true collocations
    * (named entities, fixed phrases) — the phrase-mining/boilerplate
    * lens a corpus audit wants next to the frequency table. Shape: one
    * bigram hash aggregate + one unigram hash aggregate (both
    * vocabulary-bounded, map-side partial), two marginal equi-joins on
    * the token key, 1-row totals broadcast; top-k is orderBy+limit →
    * TakeOrderedAndProject. Nothing is corpus-bounded after the
    * aggregates, so the shape holds at 100 TB. Determinism: PMI is
    * ln((c_ab/N_bg) / ((c_a/N_u)·(c_b/N_u))) with the SAME IEEE
    * expression tree on both engines, quantized at 1e-9 (the d2
    * discipline); ties break on the bigram string.
    */
  /** Public DataFrame-in API (see graft.api.Graft): top-k PMI collocations
    * over any corpus with a `text` column.
    */
  def pmiCollocations(docs: DataFrame, minCount: Int = 5, k: Int = 20): DataFrame = {
      val toks = expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')")
      val w = docs.select(toks.as("w"))
      val uni = w.select(explode(col("w")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
      val bg = w.select(explode(when(size(col("w")) >= 2,
          expr("transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      val nu = uni.agg(sum(col("c")).as("n_uni"))
      val nb = bg.agg(sum(col("c_ab")).as("n_bg"))
      bg.filter(col("c_ab") >= minCount)
        .withColumn("a", expr("split(bigram, ' ')[0]"))
        .withColumn("b", expr("split(bigram, ' ')[1]"))
        .join(uni.select(col("t").as("a"), col("c").as("c_a")), "a")
        .join(uni.select(col("t").as("b"), col("c").as("c_b")), "b")
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .withColumn("pmi",
          floor(log((col("c_ab").cast("double") / col("n_bg")) /
            ((col("c_a").cast("double") / col("n_uni")) *
              (col("c_b").cast("double") / col("n_uni")))) * 1e9 + 0.5)
            .cast("double") / 1e9)
        .select(col("bigram"), col("c_ab"), col("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(k)
  }

  val x51: GraftQuery = GraftQuery(
    "x51_pmi_collocations",
    (s, d) => pmiCollocations(Tables.documents(s, d)),
    Some("""WITH toks AS (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           |                                 t -> t <> '') AS w FROM documents),
           |uni AS (SELECT unnest(w) AS t FROM toks),
           |uc AS (SELECT t, count(*) AS c FROM uni GROUP BY t),
           |bg AS (SELECT unnest(list_transform(range(1, len(w)),
           |                                    i -> w[i] || ' ' || w[i + 1])) AS bigram FROM toks),
           |bc AS (SELECT bigram, count(*) AS c_ab FROM bg GROUP BY bigram),
           |nu AS (SELECT sum(c) AS n_uni FROM uc),
           |nb AS (SELECT sum(c_ab) AS n_bg FROM bc)
           |SELECT bigram, c_ab,
           |  floor(ln((c_ab::DOUBLE / n_bg) / ((ca.c::DOUBLE / n_uni) * (cb.c::DOUBLE / n_uni))) * 1e9 + 0.5) / 1e9 AS pmi
           |FROM bc
           |JOIN uc ca ON ca.t = str_split(bigram, ' ')[1]
           |JOIN uc cb ON cb.t = str_split(bigram, ' ')[2], nu, nb
           |WHERE c_ab >= 5
           |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin))

  /** X54 (beyond reference): quality-rule ablation — per x14 Gopher rule:
    * how many docs it fails, how many it ALONE fails (unique kills — the
    * rule's marginal contribution; a rule with zero unique kills is
    * redundant in this corpus), and the char mass it removes. The
    * settings-selection audit for the quality gate, the [[x50]] dedup
    * report's sibling: x50 compares dedup METHODS, this decomposes one
    * filter into its RULES. One scan to per-doc booleans (the x14
    * metrics), one conditional aggregate to a 5-row rule domain — all
    * integer counts.
    */
  val x54: GraftQuery = GraftQuery(
    "x54_quality_ablation",
    (s, d) => {
      val m = qualityRules(Tables.documents(s, d))
        .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
        .select(col("n_chars"),
          (col("n_words") < 20).as("f_min_words"),
          (col("distinct_ratio") <= 0.4).as("f_distinct_ratio"),
          (col("top_word_frac") >= 0.15).as("f_top_word"),
          (!col("mean_word_len").between(3.0, 10.0)).as("f_word_len"))
        .withColumn("n_fails",
          Seq("f_min_words", "f_distinct_ratio", "f_top_word", "f_word_len")
            .map(c => col(c).cast("int")).reduce(_ + _))
      def rule(flag: String, name: String) = m.agg(
        count(when(col(flag), 1)).as("fail_n"),
        count(when(col(flag) && col("n_fails") === 1, 1)).as("unique_fail_n"),
        coalesce(sum(when(col(flag), col("n_chars"))), lit(0L)).as("chars_removed"))
        .select(lit(name).as("rule"), col("fail_n"), col("unique_fail_n"),
          col("chars_removed"))
      rule("f_min_words", "min_words")
        .unionByName(rule("f_distinct_ratio", "distinct_ratio"))
        .unionByName(rule("f_top_word", "top_word_frac"))
        .unionByName(rule("f_word_len", "mean_word_len"))
        .unionByName(m.agg(
            count(when(col("n_fails") > 0, 1)).as("fail_n"),
            count(when(col("n_fails") === 1, 1)).as("unique_fail_n"),
            coalesce(sum(when(col("n_fails") > 0, col("n_chars"))), lit(0L))
              .as("chars_removed"))
          .select(lit("any").as("rule"), col("fail_n"), col("unique_fail_n"),
            col("chars_removed")))
    },
    Some("""WITH wds AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents),
           |ct AS (SELECT doc_id, w, count(*) AS c FROM wds GROUP BY 1, 2),
           |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
           |  count(*) AS n_distinct, max(c) AS top_count,
           |  CAST(sum(length(w) * c) AS BIGINT) AS n_word_chars FROM ct GROUP BY 1),
           |f AS (SELECT a.doc_id, d.n_chars,
           |  a.n_words < 20 AS f1,
           |  a.n_distinct::DOUBLE / a.n_words <= 0.4 AS f2,
           |  a.top_count::DOUBLE / a.n_words >= 0.15 AS f3,
           |  NOT (a.n_word_chars::DOUBLE / a.n_words BETWEEN 3.0 AND 10.0) AS f4
           |  FROM agg a JOIN documents d USING (doc_id)),
           |n AS (SELECT *, CAST(f1 AS INT) + CAST(f2 AS INT) + CAST(f3 AS INT)
           |        + CAST(f4 AS INT) AS n_fails FROM f)
           |SELECT 'min_words' AS rule,
           |  CAST(count(*) FILTER (WHERE f1) AS BIGINT) AS fail_n,
           |  CAST(count(*) FILTER (WHERE f1 AND n_fails = 1) AS BIGINT) AS unique_fail_n,
           |  CAST(coalesce(sum(n_chars) FILTER (WHERE f1), 0) AS BIGINT) AS chars_removed FROM n
           |UNION ALL SELECT 'distinct_ratio', CAST(count(*) FILTER (WHERE f2) AS BIGINT),
           |  CAST(count(*) FILTER (WHERE f2 AND n_fails = 1) AS BIGINT),
           |  CAST(coalesce(sum(n_chars) FILTER (WHERE f2), 0) AS BIGINT) FROM n
           |UNION ALL SELECT 'top_word_frac', CAST(count(*) FILTER (WHERE f3) AS BIGINT),
           |  CAST(count(*) FILTER (WHERE f3 AND n_fails = 1) AS BIGINT),
           |  CAST(coalesce(sum(n_chars) FILTER (WHERE f3), 0) AS BIGINT) FROM n
           |UNION ALL SELECT 'mean_word_len', CAST(count(*) FILTER (WHERE f4) AS BIGINT),
           |  CAST(count(*) FILTER (WHERE f4 AND n_fails = 1) AS BIGINT),
           |  CAST(coalesce(sum(n_chars) FILTER (WHERE f4), 0) AS BIGINT) FROM n
           |UNION ALL SELECT 'any', CAST(count(*) FILTER (WHERE n_fails > 0) AS BIGINT),
           |  CAST(count(*) FILTER (WHERE n_fails = 1) AS BIGINT),
           |  CAST(coalesce(sum(n_chars) FILTER (WHERE n_fails > 0), 0) AS BIGINT) FROM n""".stripMargin))

  /** X55 (beyond reference): bigram-LM perplexity — per document, the
    * perplexity of an add-1-smoothed bigram language model trained on
    * the corpus itself: p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V). THE
    * production corpus-quality filter (CCNet/LLaMA-style pipelines score
    * every document with a small LM and drop the high-perplexity tail);
    * [[x33]]'s heuristic proxy ranks by surface statistics, this is the
    * real statistical-LM score. Self-trained here — the standard
    * filtering demo; a production run trains the counts on a trusted
    * reference corpus and only SCORES this one (swap the count inputs).
    *
    * Shape: two vocabulary-bounded count aggregates, then one scan of
    * the per-doc bigrams hash-joined to the count tables (the x31 BM25
    * dataflow) and one per-doc aggregate. Determinism: each bigram's
    * −ln p is 1e9-quantized to a BIGINT before the unordered per-doc sum
    * (d22 discipline); the final exp is quantized the same way. Docs
    * with < 2 tokens have no bigrams and emit nothing.
    */
  def bigramPerplexity(docs: DataFrame): DataFrame = {
    val toks = expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')")
    val w = docs.select(col("doc_id"), toks.as("w"))
    val uni = w.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c_w"))
    val vSize = uni.agg(count(lit(1)).as("v"))
    val bga = w.select(col("doc_id"), explode(when(size(col("w")) >= 2,
        expr("transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))).as("bigram"))
    val bc = bga.groupBy("bigram").agg(count(lit(1)).as("c_ab"))
    val terms = bga.join(bc, "bigram")
      .withColumn("w1", expr("split(bigram, ' ')[0]"))
      .join(uni.select(col("t").as("w1"), col("c_w")), "w1")
      .crossJoin(broadcast(vSize))
      .withColumn("nq", floor(-log(
          (col("c_ab").cast("double") + 1.0) /
            (col("c_w").cast("double") + col("v").cast("double"))) * 1e9 + 0.5)
        .cast("long"))
    terms.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("nq").as("snll"))
      .select(col("doc_id"), col("n_bigrams"),
        ((col("snll").cast("double") / 1e9) / col("n_bigrams")).as("avg_nll"),
        (floor(exp((col("snll").cast("double") / 1e9) / col("n_bigrams"))
          * 1e9 + 0.5).cast("double") / 1e9).as("perplexity"))
  }

  val x55: GraftQuery = GraftQuery(
    "x55_bigram_perplexity",
    (s, d) => bigramPerplexity(Tables.documents(s, d)),
    Some("""WITH toks AS (SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w
           |  FROM documents),
           |uni AS (SELECT unnest(w) AS t FROM toks),
           |uc AS (SELECT t, CAST(count(*) AS BIGINT) AS c_w FROM uni GROUP BY t),
           |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uc),
           |bga AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
           |          i -> w[i] || ' ' || w[i + 1])) AS bigram FROM toks),
           |bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_ab FROM bga GROUP BY bigram),
           |terms AS (SELECT bga.doc_id,
           |    CAST(floor(-ln((CAST(bc.c_ab AS DOUBLE) + 1.0)
           |      / (CAST(uc.c_w AS DOUBLE) + CAST(v.v AS DOUBLE))) * 1e9 + 0.5) AS BIGINT) AS nq
           |  FROM bga JOIN bc USING (bigram)
           |  JOIN uc ON uc.t = str_split(bigram, ' ')[1]
           |  CROSS JOIN v)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |  (CAST(sum(nq) AS DOUBLE) / 1e9) / count(*) AS avg_nll,
           |  floor(exp((CAST(sum(nq) AS DOUBLE) / 1e9) / count(*)) * 1e9 + 0.5) / 1e9 AS perplexity
           |FROM terms GROUP BY doc_id""".stripMargin))

  /** X56 (beyond reference): curriculum training order — the corpus laid
    * out easy→hard for curriculum/annealed training: each doc is banded
    * by the quartile of its [[bigramPerplexity]] score (band 1 = most
    * fluent), then given a deterministic within-(band, shard) position
    * (the x30 salted-md5 shuffle), so a dataloader reads bands in order
    * and shards in parallel. Completes the corpus→training-order story:
    * x55 scores, x28 splits, x30 shuffles, this SEQUENCES.
    *
    * Scale notes: quartile thresholds come from an ECDF over the
    * CENTI-QUANTIZED perplexity domain (bounded by score resolution,
    * not corpus size — the d29 discipline), and positions are windows
    * over (band, shard) partitions (the x30 discipline — never one
    * global sort). All banding arithmetic is integer compares on exact
    * quantized scores.
    */
  val x56: GraftQuery = GraftQuery(
    "x56_curriculum_order",
    (s, d) => {
      val ppl = bigramPerplexity(Tables.documents(s, d))
        .select(col("doc_id"),
          floor(col("perplexity") * 100 + 0.5).cast("long").as("p2"))
      val byV = ppl.groupBy("p2").agg(count(lit(1)).as("nv"))
      val cum = byV.select(col("p2"),
        sum("nv").over(Window.orderBy("p2")).as("cum"),
        sum("nv").over(Window.partitionBy()).as("n"))
      def thr(q: Double) = cum
        .filter(col("cum") >= ceil(lit(q) * col("n").cast("double")).cast("long"))
        .agg(min("p2").as(s"t${(q * 100).toInt}"))
      val banded = ppl
        .crossJoin(broadcast(thr(0.25))).crossJoin(broadcast(thr(0.5)))
        .crossJoin(broadcast(thr(0.75)))
        .withColumn("band", lit(1) + (col("p2") > col("t25")).cast("int") +
          (col("p2") > col("t50")).cast("int") + (col("p2") > col("t75")).cast("int"))
        .withColumn("key", expr(
          "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':cur')), 1, 15), 16, 10) AS BIGINT)"))
        .withColumn("shard", col("key") % 8)
      banded
        .withColumn("pos", row_number().over(
          Window.partitionBy("band", "shard").orderBy(col("key"), col("doc_id"))))
        .select("doc_id", "band", "shard", "pos")
    },
    Some(s"""WITH ppl0 AS (${x55.oracle.get}),
            |ppl AS (SELECT doc_id, CAST(floor(perplexity * 100 + 0.5) AS BIGINT) AS p2 FROM ppl0),
            |v AS (SELECT p2, count(*) AS nv FROM ppl GROUP BY 1),
            |c AS (SELECT p2, CAST(sum(nv) OVER (ORDER BY p2) AS BIGINT) AS cum,
            |             CAST(sum(nv) OVER () AS BIGINT) AS n FROM v),
            |t1 AS (SELECT min(p2) AS t25 FROM c WHERE cum >= CAST(ceil(0.25 * CAST(n AS DOUBLE)) AS BIGINT)),
            |t2 AS (SELECT min(p2) AS t50 FROM c WHERE cum >= CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)),
            |t3 AS (SELECT min(p2) AS t75 FROM c WHERE cum >= CAST(ceil(0.75 * CAST(n AS DOUBLE)) AS BIGINT)),
            |b AS (SELECT doc_id,
            |        1 + CAST(p2 > t1.t25 AS INT) + CAST(p2 > t2.t50 AS INT)
            |          + CAST(p2 > t3.t75 AS INT) AS band,
            |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cur'), 1, 15) AS BIGINT) AS key
            |      FROM ppl, t1, t2, t3)
            |SELECT doc_id, band, key % 8 AS shard,
            |  CAST(row_number() OVER (PARTITION BY band, key % 8 ORDER BY key, doc_id) AS INT) AS pos
            |FROM b""".stripMargin))

  /** X53 (beyond reference): tokenizer fertility report — per (lang,
    * source) slice: tokens-per-word (fertility) and chars-per-token under
    * the x2 BPE-ish regex tokenizer. THE table a team reads when choosing
    * or auditing a tokenizer: high-fertility slices (many tokens per
    * word) burn training budget and signal vocabulary mismatch for that
    * language/source; chars-per-token is the compression the token budget
    * actually buys. Integer token/word/char sums per slice, three exact
    * ratios — one scan + one slice-bounded aggregate, no libm.
    */
  val x53: GraftQuery = GraftQuery(
    "x53_tokenizer_fertility",
    (s, d) => {
      val t = Tables.documents(s, d).select(
        col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("w"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
          .cast("long").as("t"),
        length(col("text")).cast("long").as("c"))
      t.groupBy("lang", "source").agg(
          count(lit(1)).as("n_docs"),
          sum("w").as("n_words"), sum("t").as("n_tokens"), sum("c").as("n_chars"))
        .select(col("lang"), col("source"), col("n_docs"),
          col("n_words"), col("n_tokens"), col("n_chars"),
          (col("n_tokens").cast("double") / col("n_words").cast("double"))
            .as("fertility"),
          (col("n_chars").cast("double") / col("n_tokens").cast("double"))
            .as("chars_per_token"))
    },
    Some("""WITH t AS (SELECT lang, source,
           |    CAST(len(str_split(text, ' ')) AS BIGINT) AS w,
           |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS t,
           |    CAST(length(text) AS BIGINT) AS c
           |  FROM documents),
           |g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(w) AS BIGINT) AS n_words, CAST(sum(t) AS BIGINT) AS n_tokens,
           |    CAST(sum(c) AS BIGINT) AS n_chars
           |  FROM t GROUP BY 1, 2)
           |SELECT lang, source, n_docs, n_words, n_tokens, n_chars,
           |  CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility,
           |  CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS chars_per_token
           |FROM g""".stripMargin))

  /** X52 (beyond reference): LSH band-planning table — the s-curve
    * P(candidate | jaccard = s) = 1 − (1 − s^r)^b for every (b, r)
    * factorization of the 64-hash MinHash signature, on a 19-point s
    * grid, plus each config's recall at the j = 0.9 threshold and a
    * `chosen` flag marking the config [[bandingFor]] selects (largest r
    * — fewest candidates — with recall ≥ 0.999). This materializes the
    * x5/x35 design decision as an auditable query: the table an engineer
    * reads to see WHY 16×4 is the 0.9-threshold banding and what any
    * other threshold would cost in candidates or recall.
    *
    * Determinism: the integer powers are ascending multiply folds
    * (`aggregate(sequence(...))` / ordered list_reduce) — pure IEEE
    * products, no libm pow — so both engines produce bit-identical
    * curves. Domain is configs × grid (133 rows): zero data touched,
    * constant cost at any corpus scale.
    */
  val x52: GraftQuery = GraftQuery(
    "x52_lsh_planner",
    (s, _) => {
      import s.implicits._
      val configs = Seq((1, 64), (2, 32), (4, 16), (8, 8), (16, 4), (32, 2), (64, 1))
        .toDF("bands", "rows_per_band")
      val grid = s.range(1, 20).select(col("id").cast("int").as("i"))
      val curve = configs.crossJoin(grid)
        .withColumn("s", col("i").cast("double") * 0.05)
        .withColumn("sr",
          expr("aggregate(sequence(1, rows_per_band), CAST(1.0 AS DOUBLE), (acc, x) -> acc * s)"))
        .withColumn("p_candidate",
          lit(1.0) - expr("aggregate(sequence(1, bands), CAST(1.0 AS DOUBLE), (acc, x) -> acc * (1.0 - sr))"))
        .drop("i", "sr")
      val rec = configs
        .withColumn("tr",
          expr("aggregate(sequence(1, rows_per_band), CAST(1.0 AS DOUBLE), (acc, x) -> acc * 0.9)"))
        .withColumn("recall_at_threshold",
          lit(1.0) - expr("aggregate(sequence(1, bands), CAST(1.0 AS DOUBLE), (acc, x) -> acc * (1.0 - tr))"))
        .drop("tr")
        .withColumn("chosen_r", coalesce(
          max(when(col("recall_at_threshold") >= 0.999, col("rows_per_band")))
            .over(Window.partitionBy()), lit(1)))
        .withColumn("chosen", col("rows_per_band") === col("chosen_r"))
        .drop("chosen_r")
      curve.join(rec, Seq("bands", "rows_per_band"))
        .select(col("bands"), col("rows_per_band"), col("s"),
          col("p_candidate"), col("recall_at_threshold"), col("chosen"))
    },
    Some("""WITH cfg AS (SELECT * FROM (VALUES (1, 64), (2, 32), (4, 16), (8, 8),
           |                                   (16, 4), (32, 2), (64, 1))
           |             AS t(bands, rows_per_band)),
           |grid AS (SELECT CAST(unnest(generate_series(1, 19)) AS INT) AS i),
           |curve AS (SELECT bands, rows_per_band,
           |    CAST(i AS DOUBLE) * 0.05 AS s,
           |    1.0 - list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
           |        list_transform(generate_series(1, bands),
           |          x -> 1.0 - list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
           |            list_transform(generate_series(1, rows_per_band),
           |              y -> CAST(i AS DOUBLE) * 0.05)), (a, b) -> a * b))),
           |      (a, b) -> a * b) AS p_candidate
           |  FROM cfg CROSS JOIN grid),
           |rec0 AS (SELECT bands, rows_per_band,
           |    1.0 - list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
           |        list_transform(generate_series(1, bands),
           |          x -> 1.0 - list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
           |            list_transform(generate_series(1, rows_per_band),
           |              y -> CAST(0.9 AS DOUBLE))), (a, b) -> a * b))),
           |      (a, b) -> a * b) AS recall_at_threshold
           |  FROM cfg),
           |rec AS (SELECT *, coalesce(max(CASE WHEN recall_at_threshold >= 0.999
           |          THEN rows_per_band END) OVER (), 1) AS chosen_r FROM rec0)
           |SELECT c.bands, c.rows_per_band, c.s, c.p_candidate,
           |  r.recall_at_threshold, r.rows_per_band = r.chosen_r AS chosen
           |FROM curve c JOIN rec r USING (bands, rows_per_band)""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): Heaps'-law fit of
    * vocabulary growth — V(N) = K·N^β, V = distinct vocabulary after the
    * first N tokens (Heaps 1978; β ≈ 0.4–0.6 for natural text). The
    * distributional companion to [[zipfFit]] on the GROWTH axis: a corpus
    * whose vocabulary curve flattens early (low β) is template/duplicate
    * heavy, one that grows linearly (β → 1) is noise/hash heavy — either
    * tail is a red flag before tokenizer training (vocab-size planning
    * reads K·N^β directly). Docs are ordered by doc_id; the curve is
    * sampled at power-of-two doc positions plus the final position, and
    * log V is OLS-fit on log N over those checkpoints.
    *
    * Scale: one tokenize scan + two hash aggregates (per-doc token counts;
    * per-word first-occurrence doc, the VOCABULARY domain). The cumulative
    * window runs over the DOCUMENT domain (one slim row per doc), the
    * x45/x16 precedent — at petabyte doc counts the position column would
    * come from the x16 two-level sharded prefix sum instead of one global
    * window; the checkpoint filter and the ~log₂(n)-row fit are free.
    * Determinism: cumulative counts are integers; each ln is quantized to
    * 1e-6 immediately (the d2/x45 discipline) and the fit inputs are then
    * exact BIGINT sums.
    */
  def heapsLaw(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val newPerDoc = toks.groupBy("w").agg(min("doc_id").as("fd"))
      .groupBy(col("fd").as("doc_id")).agg(count(lit(1)).as("n_new"))
    val wD = Window.orderBy("doc_id")
    val cum = perDoc.join(newPerDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_new"))
      .select(col("doc_id"),
        row_number().over(wD).as("pos"),
        sum("n_tok").over(wD).as("cum_tok"),
        sum("n_new").over(wD).as("cum_vocab"),
        count(lit(1)).over(Window.partitionBy()).as("npos"))
    val cp = cum.filter(
      expr("(pos & (pos - 1)) = 0").or(col("pos") === col("npos")))
    def qz(c: Column) = floor(c * 1e6 + 0.5).cast("long")
    val lx = log(col("cum_tok").cast("double"))
    val ly = log(col("cum_vocab").cast("double"))
    val g = cp
      .select(col("npos"), qz(lx).as("qx"), qz(ly).as("qy"),
        qz(lx * ly).as("qxy"), qz(lx * lx).as("qxx"), qz(ly * ly).as("qyy"))
      .agg(first("npos").as("n_docs"), count(lit(1)).as("n_points"),
        sum("qx").as("sx"), sum("qy").as("sy"), sum("qxy").as("sxy"),
        sum("qxx").as("sxx"), sum("qyy").as("syy"))
    val n = col("n_points").cast("double")
    def d(c: String) = col(c).cast("double") / 1e6
    val covN = n * d("sxy") - d("sx") * d("sy")
    val varXN = n * d("sxx") - d("sx") * d("sx")
    val varYN = n * d("syy") - d("sy") * d("sy")
    g.select(col("n_docs"), col("n_points"),
      (covN / varXN).as("beta"),
      ((d("sy") - covN / varXN * d("sx")) / n).as("log_k"),
      (covN * covN / (varXN * varYN)).as("r2"))
  }

  /** X57 (beyond reference): Heaps'-law vocabulary-growth audit. */
  val x57: GraftQuery = GraftQuery(
    "x57_heaps_law",
    (s, d) => heapsLaw(Tables.documents(s, d)),
    Some("""WITH t AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents),
           |tk AS (SELECT doc_id, w FROM t WHERE length(w) > 0),
           |pd AS (SELECT doc_id, count(*) AS n_tok FROM tk GROUP BY 1),
           |nw AS (SELECT fd AS doc_id, count(*) AS n_new
           |       FROM (SELECT w, min(doc_id) AS fd FROM tk GROUP BY 1) GROUP BY 1),
           |c AS (SELECT pd.doc_id,
           |        row_number() OVER (ORDER BY pd.doc_id) AS pos,
           |        CAST(sum(pd.n_tok) OVER (ORDER BY pd.doc_id) AS BIGINT) AS cum_tok,
           |        CAST(sum(COALESCE(nw.n_new, 0)) OVER (ORDER BY pd.doc_id) AS BIGINT) AS cum_vocab,
           |        count(*) OVER () AS npos
           |      FROM pd LEFT JOIN nw USING (doc_id)),
           |cp AS (SELECT * FROM c WHERE (pos & (pos - 1)) = 0 OR pos = npos),
           |q AS (SELECT npos,
           |    CAST(floor(ln(CAST(cum_tok AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS qx,
           |    CAST(floor(ln(CAST(cum_vocab AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS qy,
           |    CAST(floor(ln(CAST(cum_tok AS DOUBLE)) * ln(CAST(cum_vocab AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS qxy,
           |    CAST(floor(ln(CAST(cum_tok AS DOUBLE)) * ln(CAST(cum_tok AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS qxx,
           |    CAST(floor(ln(CAST(cum_vocab AS DOUBLE)) * ln(CAST(cum_vocab AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS qyy
           |  FROM cp),
           |g AS (SELECT any_value(npos) AS n_docs, count(*) AS n_points,
           |        sum(qx) AS sx, sum(qy) AS sy, sum(qxy) AS sxy,
           |        sum(qxx) AS sxx, sum(qyy) AS syy FROM q)
           |SELECT n_docs, n_points,
           |  (CAST(n_points AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
           |     - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
           |  / (CAST(n_points AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e6)
           |     - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6)) AS beta,
           |  ((CAST(sy AS DOUBLE) / 1e6)
           |     - (CAST(n_points AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
           |          - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
           |       / (CAST(n_points AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e6)
           |          - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6))
           |       * (CAST(sx AS DOUBLE) / 1e6)) / CAST(n_points AS DOUBLE) AS log_k,
           |  (CAST(n_points AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
           |     - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
           |  * (CAST(n_points AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
           |     - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
           |  / ((CAST(n_points AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e6)
           |      - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6))
           |     * (CAST(n_points AS DOUBLE) * (CAST(syy AS DOUBLE) / 1e6)
           |        - (CAST(sy AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))) AS r2
           |FROM g""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): per-document n-gram
    * NOVELTY — the fraction of each doc's distinct 8-grams that no
    * earlier document (by doc_id, the ingestion order) contains. The
    * corpus-growth companion to [[spanDedup]]: span dedup REMOVES
    * repeated blocks, this MEASURES how much genuinely new text each doc
    * contributes (the "how much of the crawl is new" curve that decides
    * whether another dump is worth ingesting; cf. the dedup analyses in
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"). Docs with < 8 words carry novelty 1.0 by convention
    * (nothing they contain was ever seen before).
    *
    * Scale: the [[grams8]] typed scan (distinct grams per doc), one hash
    * aggregate on the GRAM domain for first-occurrence doc, one join back
    * on gram, one doc-domain aggregate — the x15/x26 shape; everything is
    * integer counts plus one final IEEE division per doc.
    */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    val g = grams8(docs)
    val firsts = g.groupBy("g").agg(min("doc_id").as("fd"))
    val per = g.join(firsts, "g")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("fd") === col("doc_id"), 1).otherwise(0)).as("n_novel"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        when(col("n_grams") === 0, lit(1.0))
          .otherwise(col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novelty"))
  }

  /** X58 (beyond reference): corpus novelty audit in ingestion order. */
  val x58: GraftQuery = GraftQuery(
    "x58_ngram_novelty",
    (s, d) => ngramNovelty(Tables.documents(s, d)),
    Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |g AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 8
           |  THEN list_distinct([array_to_string(w[i:i+7], ' ') for i in generate_series(1, len(w) - 7)])
           |  ELSE [] END) AS g FROM t),
           |f AS (SELECT g, min(doc_id) AS fd FROM g GROUP BY 1),
           |p AS (SELECT g.doc_id, count(*) AS n_grams,
           |        CAST(sum(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
           |      FROM g JOIN f USING (g) GROUP BY 1)
           |SELECT t.doc_id,
           |  coalesce(p.n_grams, 0) AS n_grams,
           |  coalesce(p.n_novel, 0) AS n_novel,
           |  CASE WHEN coalesce(p.n_grams, 0) = 0 THEN CAST(1.0 AS DOUBLE)
           |       ELSE CAST(p.n_novel AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
           |  END AS novelty
           |FROM t LEFT JOIN p USING (doc_id)""".stripMargin))

  /** Stopword delimiter set for [[rakeKeyphrases]] — the fixed function-
    * word list that breaks candidate phrases (a production deployment
    * binds a per-language list; fixed here so both engines extract the
    * identical phrase set).
    */
  private val RakeStops = Seq(
    "the", "of", "and", "a", "to", "in", "is", "it", "for", "on",
    "with", "as", "at", "by", "this", "that", "be", "are", "was", "or")

  /** Public DataFrame-in API (see graft.api.Graft): RAKE keyphrase
    * extraction (Rose et al. 2010, "Automatic keyword extraction from
    * individual documents") — corpus-level top-20 keyphrases: candidate
    * phrases are maximal stopword-free word runs (capped at 4 words, the
    * RAKE convention), each word scores degree/frequency over the
    * candidate set (degree = Σ lengths of phrases containing it — words
    * that live in longer collocations outrank isolated frequent words),
    * and a phrase scores the sum of its word scores. The collocation-
    * aware companion to [[tfidfTopTerms]] (x9 ranks single terms) and
    * [[pmiCollocations]] (x51 ranks word PAIRS; RAKE ranks variable-
    * length phrases).
    *
    * Shape: one tokenize scan with positions, phrase grouping via the
    * gaps-and-islands idiom (pos − row_number over content words, doc-
    * partitioned — never a global window), word stats on the VOCABULARY
    * domain, phrase assembly from an ordered collect per (doc, island)
    * group, and a TakeOrdered top-20. Determinism: freq/deg are exact
    * integers; each word score deg/freq is ONE IEEE division quantized
    * to 1e-6 immediately, so phrase scores are exact integer sums — the
    * x45 discipline.
    */
  def rakeKeyphrases(docs: DataFrame, topK: Int = 20): DataFrame = {
    val w = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val content = w.filter(!col("w").isin(RakeStops: _*))
      .withColumn("grp", col("pos") -
        row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
    val phrases = content
      .groupBy("doc_id", "grp")
      .agg(sort_array(collect_list(struct(col("pos"), col("w")))).as("ws"))
      .select(col("doc_id"), col("grp"),
        expr("transform(ws, s -> s.w)").as("pw"),
        size(col("ws")).as("plen"))
      .filter(col("plen") <= 4)
    val pw = phrases.select(col("doc_id"), col("grp"), col("plen"),
      explode(col("pw")).as("w"))
    val stats = pw.groupBy("w").agg(
      count(lit(1)).as("freq"),
      sum(col("plen").cast("long")).as("deg"))
    val scored = pw.join(stats, "w")
      .withColumn("qsw",
        floor((col("deg").cast("double") / col("freq").cast("double")) * 1e6 + 0.5)
          .cast("long"))
      .groupBy("doc_id", "grp").agg(sum("qsw").as("qscore"))
    val withText = phrases.join(scored, Seq("doc_id", "grp"))
      .select(array_join(col("pw"), " ").as("phrase"), col("qscore"))
    withText.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"), max("qscore").as("qs"))
      .select(col("phrase"), col("n_occurrences"),
        (col("qs").cast("double") / 1e6).as("score"))
      .orderBy(col("score").desc, col("phrase")).limit(topK)
  }

  /** X59 (beyond reference): corpus keyphrase extraction. */
  val x59: GraftQuery = GraftQuery(
    "x59_rake_keyphrases",
    (s, d) => rakeKeyphrases(Tables.documents(s, d)),
    Some(s"""WITH w0 AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w,
           |         generate_subscripts(str_split(text, ' '), 1) - 1 AS pos
           |       FROM documents),
           |w1 AS (SELECT doc_id, pos, w FROM w0 WHERE length(w) > 0),
           |cw AS (SELECT doc_id, pos, w,
           |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           |       FROM w1 WHERE w NOT IN (${RakeStops.map(t => s"'$t'").mkString(", ")})),
           |ph AS (SELECT doc_id, grp, list(w ORDER BY pos) AS pw,
           |         CAST(count(*) AS INT) AS plen
           |       FROM cw GROUP BY 1, 2 HAVING count(*) <= 4),
           |pw AS (SELECT doc_id, grp, plen, unnest(pw) AS w FROM ph),
           |st AS (SELECT w, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS deg
           |       FROM pw GROUP BY 1),
           |sc AS (SELECT doc_id, grp,
           |         CAST(sum(CAST(floor((CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)) * 1e6 + 0.5)
           |           AS BIGINT)) AS BIGINT) AS qscore
           |       FROM pw JOIN st USING (w) GROUP BY 1, 2),
           |pt AS (SELECT array_to_string(ph.pw, ' ') AS phrase, sc.qscore
           |       FROM ph JOIN sc USING (doc_id, grp))
           |SELECT phrase, count(*) AS n_occurrences,
           |  CAST(max(qscore) AS DOUBLE) / 1e6 AS score
           |FROM pt GROUP BY phrase
           |ORDER BY score DESC, phrase LIMIT 20""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): benchmark
    * decontamination — the REMOVAL half of [[contaminationCheck]]'s
    * detection: drop every training document sharing an 8-gram with the
    * benchmark and report what the cut cost, per source slice
    * (n_kept, n_removed, tokens_kept, tokens_removed). This is the audit
    * a training run records before it can claim clean eval numbers.
    *
    * Scale: the benchmark gram set is broadcast (benchmarks are small by
    * construction — x15's contract); one gram-scan of train + one
    * per-source aggregate. Integer counts only.
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame): DataFrame = {
    val verdict = contaminationCheck(train, benchmark)
      .select(col("doc_id"), col("contaminated"))
    train
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(verdict, "doc_id")
      .groupBy("source")
      .agg(
        sum(when(col("contaminated"), 0L).otherwise(1L)).as("n_kept"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("contaminated"), 0L).otherwise(col("n_tok"))).as("tokens_kept"),
        sum(when(col("contaminated"), col("n_tok")).otherwise(0L)).as("tokens_removed"))
  }

  /** Public DataFrame-in API (see graft.api.Graft): hybrid retrieval by
    * reciprocal-rank fusion (Cormack et al. 2009, k = 60): the LEXICAL
    * arm ranks documents by [[bm25Score]], the VECTOR arm by exact
    * cosine against one query embedding, and each candidate's fused
    * score is Σ 1/(60 + rank) over the arms it appears in — the fusion
    * every production RAG stack runs because BM25 and embeddings fail
    * on disjoint query classes. Returns the top-`k` fused rows
    * (doc_id, lex_rank, vec_rank, rrf, fused_rank).
    *
    * The arms RUN when this is called: each is its own scale-shaped
    * operator (x31's one-scan scoring cut by a TakeOrdered; v1's
    * broadcast-query scan), each returns at most `cand` rows to the
    * driver, and [[rrfFused]] fuses them there — constant work however
    * big the corpus. Determinism: ranks are integers with id tie-breaks,
    * and the RRF sum is a fixed two-term IEEE expression of them.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, qVec: Long = 0L,
      cand: Int = 20, k: Int = 10): DataFrame = {
    // TakeOrderedAndProject: per-partition top-`cand`, merged in order on
    // the driver — never a global sort of the scored corpus
    val lex = bm25Score(docs)
      .orderBy(col("bm25").desc, col("doc_id")).limit(cand)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val vec = VectorOps.ranked(VectorOps
      .bruteForceTopK(emb, emb.filter(col("vec_id") === qVec), cand)
      .select("q_id", "neighbor_id", "cos").collect().iterator
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))), descending = true, cand)
      .map(_._2)
    rrfFused(docs.sparkSession, lex, vec, k)
  }

  /** Reciprocal-rank fusion of two ranked id lists on the driver — the
    * one fusion behind x62 and the served hybrid arm. The rank of an id is
    * its position in its list, from 1; its score is 1/(60 + lex rank) +
    * 1/(60 + vec rank), an absent arm adding 0.0; rows are ordered by
    * [[VectorOps.ranked]]'s rule (score descending in Spark's SQL double
    * ordering, then doc_id) and the first `k` are returned as a local
    * relation (doc_id, lex_rank, vec_rank, rrf, fused_rank), a rank of an
    * absent arm null — the schema the full outer join this replaces had,
    * nullability included.
    */
  private[graft] def rrfFused(s: SparkSession, lex: Seq[Long], vec: Seq[Long],
      k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    def ranks(ids: Seq[Long]): Map[Long, Int] = ids.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val (lexRank, vecRank) = (ranks(lex), ranks(vec))
    def term(rank: Option[Int]): Double = rank.fold(0.0)(r => 1.0 / (60.0 + r.toDouble))
    val fused = VectorOps.ranked((lex ++ vec).distinct.iterator.map(id =>
      (0L, id, term(lexRank.get(id)) + term(vecRank.get(id)))), descending = true, k)
    def boxed(rank: Option[Int]): Any = rank.map(Int.box).orNull
    s.createDataFrame(fused.map { case (_, id, rrf, rank) =>
        Row(id, boxed(lexRank.get(id)), boxed(vecRank.get(id)), rrf, rank) }.asJava,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("lex_rank", IntegerType), StructField("vec_rank", IntegerType),
        StructField("rrf", DoubleType, nullable = false),
        StructField("fused_rank", IntegerType, nullable = false))))
  }

  /** X62 (beyond reference): hybrid BM25+vector retrieval, fused top-10
    * (lexical arm = x31's fixed query; vector arm = doc 0's embedding —
    * the aligned doc/vec id space).
    */
  val x62: GraftQuery = GraftQuery(
    "x62_hybrid_rrf",
    (s, d) => hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d)),
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
           |q AS (SELECT * FROM v WHERE vec_id = 0),
           |vt0 AS (SELECT v.vec_id AS doc_id,
           |          list_cosine_similarity(q.e, v.e) AS cos
           |        FROM q, v WHERE v.vec_id != q.vec_id),
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

  /** X61 (beyond reference): decontamination audit — src0 is the held-out
    * benchmark (x15's split), everything else is train.
    */
  val x61: GraftQuery = GraftQuery(
    "x61_decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      decontaminate(
        train = docs.filter(col("source") =!= "src0"),
        benchmark = docs.filter(col("source") === "src0"))
    },
    Some("""WITH t AS (SELECT doc_id, source, str_split(text, ' ') AS w FROM documents),
           |g AS (SELECT doc_id, source, unnest(CASE WHEN len(w) >= 8
           |  THEN list_distinct([array_to_string(w[i:i+7], ' ') for i in generate_series(1, len(w) - 7)])
           |  ELSE [] END) AS g FROM t),
           |b AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
           |h AS (SELECT doc_id, count(*) AS n_hits FROM g JOIN b USING (g)
           |      WHERE source != 'src0' GROUP BY 1),
           |v AS (SELECT t.doc_id, t.source, CAST(len(w) AS BIGINT) AS n_tok,
           |        coalesce(h.n_hits, 0) > 0 AS contaminated
           |      FROM t LEFT JOIN h ON t.doc_id = h.doc_id WHERE t.source != 'src0')
           |SELECT source,
           |  CAST(sum(CASE WHEN contaminated THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
           |  CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           |  CAST(sum(CASE WHEN contaminated THEN 0 ELSE n_tok END) AS BIGINT) AS tokens_kept,
           |  CAST(sum(CASE WHEN contaminated THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_removed
           |FROM v GROUP BY 1""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): classic readability
    * scoring — Flesch reading ease and Flesch-Kincaid grade per document
    * (Kincaid et al. 1975), the length-and-syllable heuristics corpus
    * pipelines use as cheap fluency signals next to the Gopher rules
    * (x14). Counts are purely structural: words = non-empty
    * space-separated tokens, sentences = runs of terminal punctuation
    * (min 1), syllables = vowel-group runs per word (min 1 per word —
    * the standard approximation).
    *
    * Determinism: the three counts are integers; each score is a fixed
    * left-associated IEEE expression of the two ratios, so Spark and
    * DuckDB produce bitwise-equal doubles with no quantization step.
    * Scale: one narrow projection per document, no shuffle at all.
    */
  def readability(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", filter(split(col("text"), " "), w => w =!= ""))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .filter(col("n_words") > 0)
      .withColumn("n_sentences",
        greatest(lit(1L), expr("CAST(regexp_count(text, '[.!?]+') AS BIGINT)")))
      .withColumn("n_syllables", expr(
        "aggregate(ws, 0L, (acc, w) -> acc + greatest(1L, CAST(regexp_count(w, '[aeiouyAEIOUY]+') AS BIGINT)))"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        (lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")))
          .as("flesch"),
        (lit(0.39) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
          + lit(11.8) * (col("n_syllables").cast("double") / col("n_words").cast("double"))
          - lit(15.59)).as("fk_grade"))

  /** X63 (beyond reference): per-document readability report. */
  val x63: GraftQuery = GraftQuery(
    "x63_readability",
    (s, d) => readability(Tables.documents(s, d)),
    Some("""WITH t AS (SELECT doc_id, text,
           |         list_filter(str_split(text, ' '), w -> w <> '') AS ws FROM documents),
           |w AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
           |        GREATEST(CAST(1 AS BIGINT),
           |          CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
           |        CAST(list_sum(list_transform(ws,
           |          x -> GREATEST(1, len(regexp_extract_all(x, '[aeiouyAEIOUY]+'))))) AS BIGINT)
           |          AS n_syllables
           |      FROM t WHERE len(ws) > 0)
           |SELECT doc_id, n_words, n_sentences, n_syllables,
           |  CAST(206.835 AS DOUBLE)
           |    - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
           |    - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch,
           |  CAST(0.39 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
           |    + CAST(11.8 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
           |    - CAST(15.59 AS DOUBLE) AS fk_grade
           |FROM w""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): code-vs-prose
    * detection — the corpus-partitioning filter every mixed-crawl
    * pipeline runs before language-specific processing (code goes to a
    * code pipeline, prose to the text one). Signals are structural, not
    * model-based (x60 covers that): density of code punctuation
    * `{}();=<>` and whitespace-token programming-keyword hits (token
    * equality, not a `\b` regex — backslash escapes inside SQL string
    * literals differ between engines, a silent cross-engine trap); a doc
    * is flagged `is_code` when symbol density >= 1% of characters or it
    * has >= 3 keyword hits.
    *
    * Determinism: integer counts; the one double (`sym_ratio`) is a
    * single division. Scale: stateless per-doc projection, no shuffle.
    */
  def codeProse(docs: DataFrame): DataFrame = {
    val kw = "'def','class','return','import','function','const','var','if','else','for','while'"
    docs
      .filter(col("n_chars") > 0)
      .select(col("doc_id"),
        expr("CAST(regexp_count(text, '[{}();=<>]') AS BIGINT)").as("n_sym"),
        expr(s"CAST(size(filter(split(text, ' '), w -> w IN ($kw))) AS BIGINT)")
          .as("kw_hits"),
        col("n_chars"))
      .withColumn("sym_ratio",
        col("n_sym").cast("double") / col("n_chars").cast("double"))
      .withColumn("is_code",
        col("sym_ratio") >= lit(0.01) || col("kw_hits") >= lit(3L))
      .drop("n_chars")
  }

  /** X64 (beyond reference): per-document code/prose partition flags. */
  val x64: GraftQuery = GraftQuery(
    "x64_code_prose",
    (s, d) => codeProse(Tables.documents(s, d)),
    Some("""WITH t AS (SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '[{}();=<>]')) AS BIGINT) AS n_sym,
           |  CAST(len(list_filter(str_split(text, ' '), w -> w IN
           |    ('def','class','return','import','function','const','var','if','else','for','while')))
           |    AS BIGINT) AS kw_hits,
           |  n_chars FROM documents WHERE n_chars > 0)
           |SELECT doc_id, n_sym, kw_hits,
           |  CAST(n_sym AS DOUBLE) / CAST(n_chars AS DOUBLE) AS sym_ratio,
           |  (CAST(n_sym AS DOUBLE) / CAST(n_chars AS DOUBLE)) >= CAST(0.01 AS DOUBLE)
           |    OR kw_hits >= 3 AS is_code
           |FROM t""".stripMargin))

  /** Feature-hash dimensionality for the DSIR bucket distributions ([[x65]]).
    * 64 buckets keeps the smoothed log-ratio table a trivially broadcastable
    * constant; production DSIR uses 10k-dim hashed bigrams, which changes
    * only this constant — the dataflow is identical.
    */
  private val DsirBuckets = 64

  /** Public DataFrame-in API (see graft.api.Graft): DSIR — Data Selection
    * with Importance Resampling (Xie et al., NeurIPS 2023) — the standard
    * pretraining-data selection method: estimate hashed-unigram bucket
    * distributions for a small TARGET corpus (here `source = targetSrc`)
    * and for the big RAW pool (the whole corpus), then score every raw
    * document by its importance log-weight Σ_w [log p_tgt(b(w)) −
    * log p_raw(b(w))] under add-1 smoothing. Output per raw doc:
    * (doc_id, n_tok, logw_q, logw, target_like) where `target_like` is the
    * sign test logw > 0 (more target-like than the raw average) — the
    * deterministic stand-in for DSIR's Gumbel resampling draw.
    *
    * Scale: one explode scan builds the (bucket) count table — 64 rows,
    * broadcast back — and one more scores every doc; no vocabulary is
    * collected and nothing grows with corpus size except the two scans.
    * This is exactly why Xie et al. hash: the featurizer needs no
    * corpus-wide state.
    *
    * Determinism: bucket ids are md5-derived integers (identical in both
    * engines); each bucket's log-ratio is quantized to integer micro-units
    * immediately after the one transcendental (the codebase-wide decSum
    * discipline), so the per-doc fold is an order-free integer sum.
    */
  def dsirWeights(docs: DataFrame, targetSrc: String = "src0",
      buckets: Int = DsirBuckets): DataFrame = {
    val words = docs
      .select(col("doc_id"), (col("source") === targetSrc).as("is_target"),
        explode(split(col("text"), " ")).as("w"))
      .withColumn("b", expr(
        s"CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT) % $buckets"))
    val counts = words.groupBy("b").agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("n_tgt"))
    val totals = counts.agg(sum("n_raw").as("tot_raw"), sum("n_tgt").as("tot_tgt"))
    val lr = counts.crossJoin(broadcast(totals)).select(col("b"),
      floor((log((col("n_tgt").cast("double") + lit(1.0))
          / (col("tot_tgt").cast("double") + lit(buckets.toDouble)))
        - log((col("n_raw").cast("double") + lit(1.0))
          / (col("tot_raw").cast("double") + lit(buckets.toDouble))))
        * lit(1e6) + lit(0.5)).cast("long").as("lr_q"))
    words.filter(!col("is_target"))
      .join(broadcast(lr), Seq("b"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tok"), sum("lr_q").as("logw_q"))
      .select(col("doc_id"), col("n_tok"), col("logw_q"),
        (col("logw_q").cast("double") / lit(1e6)).as("logw"),
        (col("logw_q") > 0L).as("target_like"))
  }

  /** X65 (beyond reference): DSIR importance log-weights of the raw pool
    * against the src0 target distribution.
    */
  val x65: GraftQuery = GraftQuery(
    "x65_dsir_weights",
    (s, d) => dsirWeights(Tables.documents(s, d)),
    Some(s"""WITH w AS (SELECT doc_id, source = 'src0' AS is_target,
           |        unnest(str_split(text, ' ')) AS w FROM documents),
           |bk AS (SELECT doc_id, is_target,
           |        CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % $DsirBuckets AS b FROM w),
           |c AS (SELECT b, count(*) AS n_raw,
           |        sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS n_tgt FROM bk GROUP BY 1),
           |t AS (SELECT sum(n_raw) AS tot_raw, sum(n_tgt) AS tot_tgt FROM c),
           |lr AS (SELECT b, CAST(floor(
           |        (ln((CAST(n_tgt AS DOUBLE) + 1.0) / (CAST(tot_tgt AS DOUBLE) + $DsirBuckets.0))
           |         - ln((CAST(n_raw AS DOUBLE) + 1.0) / (CAST(tot_raw AS DOUBLE) + $DsirBuckets.0)))
           |        * 1e6 + 0.5) AS BIGINT) AS lr_q
           |      FROM c CROSS JOIN t)
           |SELECT doc_id, count(*) AS n_tok, CAST(sum(lr_q) AS BIGINT) AS logw_q,
           |  CAST(sum(lr_q) AS DOUBLE) / 1e6 AS logw, sum(lr_q) > 0 AS target_like
           |FROM bk JOIN lr USING (b) WHERE NOT is_target
           |GROUP BY doc_id""".stripMargin))

  /** Bloom-filter geometry for [[bloomDecontam]]: m bits, k hash probes.
    * FPP per shingle ≈ (k·|bench| / m)^k — (3·4000/2²⁰)³ ≈ 1.5e-6 at 4k
    * benchmark shingles; the filter is ~128 KiB of bit-state however big
    * the corpus.
    */
  private val BloomM = 1 << 20
  private val BloomK = 3

  /** 4-word shingles as space-joined strings (the decontamination unit for
    * [[bloomDecontam]]; 3-grams over-fire on natural text, 8-grams are the
    * verbatim-copy unit [[contaminationCheck]] already covers).
    */
  private def grams4(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 4)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 3), i -> concat_ws(' ', " +
          "element_at(w, i), element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3)))"))
        .as("sh"))
      .distinct()

  /** The [[BloomK]] bit positions of the `sh` shingle column — md5-derived,
    * so both engines (and any future re-run) compute the identical filter.
    */
  private def bloomPositions: Column =
    expr(s"transform(sequence(0, ${BloomK - 1}), k -> " +
      s"CAST(conv(substr(md5(concat(sh, ':bloom', k)), 1, 15), 16, 10) AS BIGINT) % $BloomM)")

  /** Public DataFrame-in API (see graft.api.Graft): Bloom-filter benchmark
    * decontamination — the CONSTANT-SPACE variant of [[contaminationCheck]].
    * x15/x61 broadcast the raw benchmark gram set, which is the right plan
    * while benchmarks are small; when the held-out set is itself large
    * (multi-benchmark suites, private eval corpora), the broadcast grows
    * with it. Here the benchmark is folded into a Bloom filter — [[BloomK]]
    * md5-derived bit positions per 4-gram over an m = [[BloomM]]-bit space —
    * and only the OCCUPIED POSITIONS table ships to the candidate scan:
    * ≤ m rows (≤ 8 MiB of longs) no matter how big the benchmark gets.
    * A candidate shingle is flagged iff all k of its positions are occupied
    * (the classic no-false-negative / bounded-false-positive contract);
    * a doc is flagged iff any shingle fires. Emits per candidate doc
    * (doc_id, n_shingles, n_hits, flagged) — integers and booleans only.
    * Train docs under 4 words have no 4-gram and are OMITTED from the
    * result (they cannot be flagged by an n-gram check; callers wanting
    * them back left-join on doc_id).
    *
    * Determinism: the filter is not a JVM sketch object but pure md5
    * integer arithmetic, so DuckDB replays the exact same bit positions —
    * false positives (if any) are IDENTICAL cross-engine by construction.
    *
    * Scale: benchmark side reduces to ≤ m distinct positions (bounded
    * broadcast); candidate side is one gram scan + hash-keyed aggregates.
    * No all-pairs, no growth in shipped state with either corpus.
    */
  def bloomDecontam(train: DataFrame, benchmark: DataFrame): DataFrame = {
    val positions = grams4(benchmark)
      .select(explode(bloomPositions).as("p"))
      .distinct()
    // spread the candidate grams by doc_id once: the 3-probe md5 position
    // arithmetic below is the dominant per-row cost and would otherwise run
    // on the kernel's scan partitioning (one split for a small input —
    // guide §2.5). HashPartitioning(doc_id) satisfies the clustered
    // distribution of BOTH doc-keyed aggregates (no further exchange), and
    // the two consumers share the exchange via reuse, so the gram kernel
    // runs once instead of twice.
    val cand = grams4(train).repartition(
      train.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
    val perDoc = cand.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = cand
      .select(col("doc_id"), col("sh"), explode(bloomPositions).as("p"))
      .join(broadcast(positions), "p")
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("k_hits"))
      .filter(col("k_hits") === BloomK)
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    perDoc.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("flagged", col("n_hits") > 0)
  }

  /** X69 (beyond reference): Bloom-filter decontamination of the non-src0
    * corpus against the src0 benchmark slice — see [[bloomDecontam]].
    * The oracle replays the md5 bit positions and the all-k membership
    * test exactly.
    */
  val x69: GraftQuery = GraftQuery(
    "x69_bloom_decontam",
    (s, d) => {
      val docs = Tables.documents(s, d)
      bloomDecontam(docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
    },
    Some(s"""WITH w AS (SELECT doc_id, source, str_split(text, ' ') AS ws FROM documents),
           |sh AS (SELECT DISTINCT doc_id, source,
           |         list_aggregate(ws[i:i+3], 'string_agg', ' ') AS sh
           |       FROM w, unnest(range(1, len(ws) - 2)) AS t(i) WHERE len(ws) >= 4),
           |pos AS (SELECT DISTINCT
           |         CAST('0x' || substr(md5(sh || ':bloom' || k), 1, 15) AS BIGINT) % $BloomM AS p
           |        FROM (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
           |             unnest([0, 1, 2]) AS t(k)),
           |cand AS (SELECT doc_id, sh FROM sh WHERE source <> 'src0'),
           |cp AS (SELECT doc_id, sh,
           |         CAST('0x' || substr(md5(sh || ':bloom' || k), 1, 15) AS BIGINT) % $BloomM AS p
           |       FROM cand, unnest([0, 1, 2]) AS t(k)),
           |hit AS (SELECT doc_id, sh FROM cp JOIN pos USING (p)
           |        GROUP BY doc_id, sh HAVING count(*) = $BloomK),
           |nh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits FROM hit GROUP BY 1),
           |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM cand GROUP BY 1)
           |SELECT ns.doc_id, n_shingles,
           |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
           |  coalesce(n_hits, 0) > 0 AS flagged
           |FROM ns LEFT JOIN nh USING (doc_id)""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): data-constrained epoch
    * allocation by exact waterfilling — given per-source token counts, a
    * desired mixture weight per source, a repeat ceiling (`maxEpochs`
    * epochs per source, the diminishing-returns cap from the
    * data-constrained-scaling literature), and a total token budget
    * (`budgetNumer/budgetDenom` × corpus tokens), decide how many tokens
    * each source contributes. Sources whose capacity runs out first (small
    * cap relative to their weight) SATURATE at `maxEpochs`; the residual
    * budget is split across the rest proportionally to weight — the
    * classic waterfilling solution, computed in closed form: sort sources
    * by cap/weight, exclusive prefix sums, and the saturation test as an
    * exact BIGINT cross-multiplication ((B − C_{k−1})·w_k ≥ cap_k·W_rem)
    * — no float thresholds anywhere, so both engines pick the identical
    * cut. Emits per source (n_tokens, w, cap, saturated, alloc_tokens,
    * epochs_milli).
    *
    * `weights` carries (source, w: BIGINT ≥ 1) and must cover every
    * source in `docs` — both are validated FAIL-FAST at plan build (the
    * logRegStandardize discipline; the op is eager: the per-source
    * aggregate is localCheckpoint-pinned so the corpus is scanned exactly
    * once and the checks ride the #sources-row result). A w < 1 row would
    * corrupt the cap/weight sort key (integer division by zero → NULL in
    * Spark, an error in DuckDB); a missing source would silently drop its
    * tokens through the inner join — the x67-class silent-drop bug this
    * guard exists to prevent.
    *
    * Unsaturated allocations are floored and clamped to cap, so
    * Σ alloc ≤ budget always holds (rounding slack < #sources tokens).
    *
    * Scale: one corpus scan to per-source token counts (map-side
    * combinable); everything after operates on the #sources-row table, so
    * the single-partition window is vocabulary-bounded, not data-bounded.
    * At 100 TB the only heavy work is the scan.
    */
  def epochWaterfill(docs: DataFrame, weights: DataFrame, maxEpochs: Int = 2,
      budgetNumer: Int = 7, budgetDenom: Int = 4): DataFrame = {
    require(maxEpochs >= 1 && budgetNumer >= 1 && budgetDenom >= 1,
      "maxEpochs and the budget rational must be positive")
    require(weights.filter(col("w") < 1 || col("w").isNull).isEmpty,
      "every weight must be a positive integer (w >= 1)")
    // ONE corpus scan, pinned — the coverage check and all later stages
    // ride the #sources-row result, never the corpus again
    val perTok = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("n_tokens"))
      .localCheckpoint()
    val uncovered = perTok.join(weights, Seq("source"), "left_anti")
    require(uncovered.isEmpty,
      "weights must cover every source; missing: " +
        uncovered.limit(5).collect().map(_.getString(0)).mkString(", "))
    val perSource = perTok
      .join(weights, "source")
      .withColumn("cap", col("n_tokens") * maxEpochs)
    val tot = perSource.agg(sum("n_tokens").as("tot_tokens"), sum("w").as("tot_w"))
    // cap/weight sort key as a pure per-row IEEE double division:
    // correctly-rounded, so bit-identical in any engine, and
    // magnitude-proof — an integer-quantized ratio (cap * 1000 DIV w)
    // collapses to 0 once weights pass ~1000×cap (temperatureMixture's
    // sqrt-scaled weights get there on real corpora) and the ladder
    // reorders. The double is used ONLY for ordering; every allocation
    // quantity stays exact-integer. Sub-ulp ties break on source name,
    // deterministically in both engines.
    val b = perSource.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"tot_tokens * $budgetNumer DIV $budgetDenom"))
      .withColumn("rq", col("cap").cast("double") / col("w").cast("double"))
    val ord = Window.orderBy(col("rq"), col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // the saturation test and the share allocation CROSS-MULTIPLY two
    // BIGINTs (budget×w, cap×w_rem): with weights like temperatureMixture's
    // (w ~ sqrt(n_tokens)×1000) the product leaves Long range around 3e10
    // corpus tokens (~150 GB of text) — far inside the 100 TB envelope —
    // and non-ANSI Spark would WRAP silently while DuckDB errors. Both
    // products are therefore computed in DECIMAL(38,0) (Spark) / HUGEINT
    // (DuckDB): operands are bounded by Long range, so the int128-class
    // product is always exact. This table is #sources rows — the wide
    // arithmetic costs nothing.
    val flagged = b
      .withColumn("cum_cap_excl", coalesce(sum("cap").over(ord), lit(0L)))
      .withColumn("w_rem_excl", col("tot_w") - coalesce(sum("w").over(ord), lit(0L)))
      .withColumn("saturated",
        expr("CAST(budget - cum_cap_excl AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))" +
          " >= CAST(cap AS DECIMAL(38,0)) * CAST(w_rem_excl AS DECIMAL(38,0))"))
    val cut = flagged.groupBy().agg(
      sum(when(col("saturated"), col("cap")).otherwise(0L)).as("sat_cap"),
      sum(when(col("saturated"), 0L).otherwise(col("w"))).as("unsat_w"))
    flagged.crossJoin(broadcast(cut))
      .withColumn("alloc_tokens", when(col("saturated"), col("cap"))
        .otherwise(least(col("cap"),
          expr("CAST(CAST(greatest(budget - sat_cap, 0) AS DECIMAL(38,0))" +
            " * CAST(w AS DECIMAL(38,0)) DIV greatest(unsat_w, 1) AS BIGINT)"))))
      .withColumn("epochs_milli", expr("alloc_tokens * 1000 DIV n_tokens"))
      .select("source", "n_tokens", "w", "cap", "saturated", "alloc_tokens",
        "epochs_milli")
  }

  /** X70 (beyond reference): epoch waterfilling over the tiered corpus
    * (x19/x67's tier convention as weights 4/3/2/1, 2-epoch ceiling,
    * budget = 7/4 × corpus tokens, so high-weight tiers saturate and the
    * rest waterfill) — see [[epochWaterfill]]. The oracle replays the
    * sort / prefix-sum / cross-multiplication ladder exactly.
    */
  val x70: GraftQuery = GraftQuery(
    "x70_epoch_waterfill",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val weights = docs.select(col("source")).distinct()
        .withColumn("w",
          coalesce(lit(4L) - expr("CAST(substr(source, 4) AS INT) DIV 5").cast("long"),
            lit(1L)))
      epochWaterfill(docs, weights)
    },
    Some("""WITH t AS (SELECT source, CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
           |           FROM documents GROUP BY 1),
           |s AS (SELECT source, n_tokens,
           |        CAST(coalesce(4 - TRY_CAST(substr(source, 4) AS INT) // 5, 1) AS BIGINT) AS w,
           |        n_tokens * 2 AS cap FROM t),
           |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
           |               CAST(sum(w) AS BIGINT) AS tot_w FROM s),
           |b AS (SELECT s.*, tot_tokens * 7 // 4 AS budget, tot_w,
           |        CAST(cap AS DOUBLE) / CAST(w AS DOUBLE) AS rq FROM s CROSS JOIN tot),
           |r AS (SELECT *,
           |        CAST(coalesce(sum(cap) OVER (ORDER BY rq, source
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_cap_excl,
           |        tot_w - CAST(coalesce(sum(w) OVER (ORDER BY rq, source
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS w_rem_excl
           |      FROM b),
           |f AS (SELECT *, CAST(budget - cum_cap_excl AS HUGEINT) * CAST(w AS HUGEINT)
           |        >= CAST(cap AS HUGEINT) * CAST(w_rem_excl AS HUGEINT) AS saturated FROM r),
           |c AS (SELECT CAST(sum(CASE WHEN saturated THEN cap ELSE 0 END) AS BIGINT) AS sat_cap,
           |             CAST(sum(CASE WHEN saturated THEN 0 ELSE w END) AS BIGINT) AS unsat_w FROM f),
           |a AS (SELECT *, CAST(CASE WHEN saturated THEN cap
           |        ELSE least(CAST(cap AS HUGEINT),
           |          CAST(greatest(budget - sat_cap, 0) AS HUGEINT) * CAST(w AS HUGEINT)
           |            // CAST(greatest(unsat_w, 1) AS HUGEINT)) END
           |        AS BIGINT) AS alloc_tokens
           |      FROM f CROSS JOIN c)
           |SELECT source, n_tokens, w, cap, saturated, alloc_tokens,
           |  alloc_tokens * 1000 // n_tokens AS epochs_milli
           |FROM a""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): term-blocklist filter —
    * the C4-style hard gate (Raffel et al. 2020 drop any page containing a
    * term from a published blocklist) next to x14's statistical rules and
    * x41's heuristic score: a doc survives only if it contains ZERO
    * blocklist tokens. Emits per doc (doc_id, n_tok, n_blocked,
    * n_distinct_blocked, keep) — counts are exact token-equality matches
    * (no regex, per the cross-engine-escape discipline x64 documents).
    *
    * Scale: stateless per-doc projection inside whole-stage codegen, the
    * blocklist is a TYPED literal array in the plan (never interpolated
    * into SQL text — a term containing a quote or a trailing backslash is
    * data, not syntax, so no escaping discipline is needed) — one scan,
    * zero shuffles until the caller aggregates.
    */
  def blocklistFilter(docs: DataFrame,
      blocklist: Seq[String] = Seq("slow", "spill", "oom")): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must be non-empty")
    val terms = array(blocklist.map(lit): _*)
    docs
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tok"),
        size(filter(col("w"), t => array_contains(terms, t)))
          .cast("long").as("n_blocked"),
        size(array_intersect(array_distinct(col("w")), terms))
          .cast("long").as("n_distinct_blocked"))
      .withColumn("keep", col("n_blocked") === 0L)
  }

  /** X71 (beyond reference): C4-style blocklist gate over the corpus —
    * see [[blocklistFilter]]. The oracle replays the token-equality
    * counts exactly.
    */
  val x71: GraftQuery = GraftQuery(
    "x71_blocklist_filter",
    (s, d) => blocklistFilter(Tables.documents(s, d)),
    Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents)
           |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tok,
           |  CAST(len(list_filter(ws, x -> x IN ('slow', 'spill', 'oom'))) AS BIGINT) AS n_blocked,
           |  CAST(len(list_intersect(list_distinct(ws), ['slow', 'spill', 'oom'])) AS BIGINT) AS n_distinct_blocked,
           |  len(list_filter(ws, x -> x IN ('slow', 'spill', 'oom'))) = 0 AS keep
           |FROM t""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): cross-source duplicate
    * overlap matrix — the mixing diagnostic a multi-crawl corpus needs
    * BEFORE weighting sources (x19/x67/x68/x70 all assume sources are
    * distinct pools; two crawls of the same sites are not). Documents
    * cluster by the exact canonical fingerprint ([[incrementalDedup]]'s
    * key: md5 of the sorted distinct word set — order/repetition-proof but
    * exact and joinable); for every cluster with ≥ 2 docs, each source
    * pair present in it contributes one row. Emits
    * (src_a ≤ src_b, n_clusters, n_doc_pairs): the upper-triangle overlap
    * matrix, diagonal = within-source duplication (clusters where the
    * source holds ≥ 2 docs, pairs = n·(n−1)/2), off-diagonal =
    * cross-source duplication (pairs = n_a·n_b). All integers; the pair
    * products are exact in BIGINT up to ~3e9 docs of one source in ONE
    * cluster — beyond that is not a mixing question but a degenerate
    * corpus the dedup ops upstream would have collapsed first.
    *
    * Scale: one corpus scan to (fingerprint, source) counts (md5-keyed
    * shuffle, uniform; the hash agg absorbs heavy clusters map-side), one
    * fingerprint-keyed re-agg collecting the per-cluster SOURCE list —
    * at most #sources entries per cluster whatever the corpus size — and
    * the pair expansion is an in-codegen array lambda over that bounded
    * list (≤ #sources² per cluster). No self-join, no broadcast of a
    * data-growing side, no window: three keyed exchanges total (the x27
    * degree-orientation argument applied to source space).
    */
  def sourceOverlapMatrix(docs: DataFrame): DataFrame = {
    val canon = md5(concat_ws(" ",
      array_sort(array_distinct(split(col("text"), " ")))))
    docs.select(canon.as("h"), col("source"))
      .groupBy("h", "source").agg(count(lit(1)).cast("long").as("n"))
      .groupBy("h")
      .agg(collect_list(struct(col("source"), col("n"))).as("ss"),
        sum("n").as("cluster_docs"))
      .filter(col("cluster_docs") >= 2)
      .select(explode(expr(
        """concat(
          |  filter(transform(ss, e -> named_struct(
          |      'src_a', e.source, 'src_b', e.source,
          |      'dp', e.n * (e.n - 1) DIV 2)), p -> p.dp > 0),
          |  flatten(transform(ss, a ->
          |    filter(transform(ss, b -> named_struct(
          |        'src_a', a.source, 'src_b', b.source,
          |        'dp', a.n * b.n)), p -> p.src_a < p.src_b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("p.dp")).as("n_doc_pairs"))
  }

  /** X72 (beyond reference): source-overlap duplicate matrix — see
    * [[sourceOverlapMatrix]]. The oracle replays the canonical
    * fingerprint, the cluster filter, and the pair arithmetic exactly.
    */
  val x72: GraftQuery = GraftQuery(
    "x72_source_overlap_matrix",
    (s, d) => sourceOverlapMatrix(Tables.documents(s, d)),
    Some("""WITH t AS (SELECT source,
           |  md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')) AS h
           |  FROM documents),
           |cs AS (SELECT h, source, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1, 2),
           |d AS (SELECT *, CAST(sum(n) OVER (PARTITION BY h) AS BIGINT) AS cluster_docs FROM cs)
           |SELECT a.source AS src_a, b.source AS src_b,
           |  CAST(count(*) AS BIGINT) AS n_clusters,
           |  CAST(sum(CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
           |                ELSE a.n * b.n END) AS BIGINT) AS n_doc_pairs
           |FROM d a JOIN d b USING (h)
           |WHERE a.cluster_docs >= 2
           |  AND (a.source < b.source OR (a.source = b.source AND a.n >= 2))
           |GROUP BY 1, 2""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): per-document novelty —
    * the fraction of a doc's distinct 8-grams that appear in NO other
    * document, the per-doc memorization-risk / dedup-QA metric (a doc
    * whose grams all recur elsewhere contributes nothing new and trains
    * memorization; x18 scores the GRAMS, this scores the DOCS). Emits
    * (doc_id, n_grams, n_unique_grams, novelty_ppm) — novelty quantized
    * to integer ppm of the doc's distinct-gram count, so the hash compare
    * stays exact. Docs under 8 words have no 8-gram and are omitted (the
    * [[grams8]] contract).
    *
    * Scale: the x18/x26 shape — one gram scan, one gram-keyed aggregate
    * (map-side partials absorb boilerplate heavy hitters), one doc-keyed
    * re-aggregate. Never all-pairs; never a gram-partitioned window.
    */
  def docNovelty(docs: DataFrame): DataFrame = {
    val g = grams8(docs)
    val dfreq = g.groupBy("g").agg(count(lit(1)).as("df"))
    g.join(dfreq, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique_grams"))
      .withColumn("novelty_ppm", expr("n_unique_grams * 1000000 DIV n_grams"))
  }

  /** X73 (beyond reference): per-doc 8-gram novelty — see [[docNovelty]].
    * The oracle replays the gram frequencies and the ppm fold exactly.
    */
  val x73: GraftQuery = GraftQuery(
    "x73_doc_novelty",
    (s, d) => docNovelty(Tables.documents(s, d)),
    Some("""WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
           |g AS (SELECT DISTINCT doc_id,
           |        array_to_string(ws[i:i+7], ' ') AS g
           |      FROM w, unnest(range(1, len(ws) - 6)) AS t(i) WHERE len(ws) >= 8),
           |f AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_grams,
           |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
           |    // CAST(count(*) AS BIGINT) AS novelty_ppm
           |FROM g JOIN f USING (g) GROUP BY doc_id""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): per-domain frequency
    * cap — keep at most `cap` docs per `domainCol` value (the
    * RefinedWeb-style "no domain may dominate the mix" intervention, the
    * most common corpus step after dedup). Election is a deterministic
    * salted-hash order over doc ids, so the kept subset is a fair,
    * reproducible sample of each domain — not "whatever crawled first" —
    * and identical on any cluster and any engine. Emits one row per doc:
    * (doc_id, domainCol, n_docs, keep).
    *
    * Scale: the obvious formulation — row_number() over
    * Window.partitionBy(domain) — is the banned skew shape (a mega-domain
    * funnels through ONE task; no map-side partials, no AQE split).
    * Instead the per-domain election threshold is the
    * [[graft.plans.BottomKSketchAgg]] bottom-`cap` aggregate (O(cap)
    * state, partials merge map-side like a sum, so a domain with 10⁹ docs
    * costs what a sum costs) and keep = key <= threshold via one
    * domain-keyed equi-join against the #domains-row threshold table (AQE
    * broadcasts it when small, skew-splits the probe side when not). One
    * scan, two keyed exchanges, zero windows. The 60-bit md5 keys are
    * distinct in practice (a collision at the cutoff — ~n²/2⁶¹ — would
    * keep one extra doc; both engines hash identically, so they would
    * also agree on it... the oracle's row_number form is the tie-broken
    * variant, exact whenever keys are distinct).
    */
  /** x74's salted election key — shared with the streaming t34 gate so
    * batch and stream elect identically.
    */
  private[operators] val CapKeySql =
    "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':cap')), 1, 15), 16, 10) AS BIGINT)"

  def domainCap(docs: DataFrame, domainCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    graft.plans.GraftExtensions.register(docs.sparkSession)
    val keyed = docs.select(col("doc_id"), col(domainCol),
      expr(CapKeySql).as("rk"))
    val thresh = keyed.groupBy(domainCol)
      .agg(count(lit(1)).as("n_docs"),
        array_max(expr(s"graft_bottom_k(rk, $cap)")).as("cutoff"))
    keyed.join(thresh, domainCol)
      .select(col("doc_id"), col(domainCol), col("n_docs"),
        (col("rk") <= col("cutoff")).as("keep"))
  }

  /** X74 (beyond reference): domain-frequency cap at 50 docs/source — see
    * [[domainCap]]. The oracle elects the same salted keys with a
    * row_number rank (feasible at oracle scale); the engine path stays
    * window-free.
    */
  val x74: GraftQuery = GraftQuery(
    "x74_domain_cap",
    (s, d) => domainCap(Tables.documents(s, d), "source", 50),
    Some("""WITH k AS (SELECT doc_id, source,
           |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cap'), 1, 15) AS BIGINT) AS rk
           |  FROM documents),
           |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM k GROUP BY 1),
           |r AS (SELECT doc_id, source, rk,
           |  row_number() OVER (PARTITION BY source ORDER BY rk) AS rnk FROM k)
           |SELECT r.doc_id, r.source, n.n_docs, r.rnk <= 50 AS keep
           |FROM r JOIN n USING (source)""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): incremental NEAR-dup
    * verdicts for a new `batch` against an existing `corpus` at
    * `threshold` 3-shingle Jaccard — [[incrementalDedup]] (x21) lifted
    * from exact-hash equality to near-duplicate similarity, which is the
    * real crawl-snapshot scenario: tonight's crawl is mostly REWRITES of
    * pages the corpus already holds, not byte-identical copies. One row
    * per batch doc: (doc_id, n_corpus_neardups, batch_first, keep),
    * keep = no corpus near-dup AND batch_first, where batch_first means
    * no SMALLER-id batch near-dup exists (the greedy first-wins rule;
    * deliberately pairwise — closure-grade clustering of the survivors is
    * x11's job).
    *
    * Scale: nothing here meets anything all-pairs, on EITHER side.
    * Both sides exact-collapse to distinct-text representatives first (a
    * boilerplate mega-cluster — in the corpus or in tonight's crawl — is
    * ONE row at the LSH stage; corpus member counts return as the
    * near-dup count WEIGHT, and identical texts have identical shingle
    * sets so the weighted count equals the raw one). The corpus reps' LSH
    * band keys form the index side of one (band, bucket)-keyed join — at
    * deployment scale that banded index is computed once and persisted,
    * and each micro-batch joins its own bands against it (the t32
    * seen-table pattern, one level up) — and exact verification touches
    * candidate REP pairs only. batch_first is group-computable without
    * member×member work: a non-minimum member always has its own group
    * minimum as an earlier near-dup, and a minimum member's earliest
    * cross-group near-dup is exactly the matched group's minimum, so one
    * min-aggregate over verified rep pairs settles every member. (This is
    * WHY the output is a boolean, not a pair count — the count is
    * Θ(members × matched members) by semantics, the dupSetPairs trap.)
    */
  /** Exact-collapse key for the near-dup family (identical texts ⇒
    * identical shingle sets ⇒ identical jaccard to everything): a
    * boilerplate cluster enters the LSH stage as one representative.
    * Shingle-less docs (<3 words) get solo keys — the pair semantics can
    * never match them, so the collapse must not either (x11's rule).
    */
  private def nearDupCanon: Column =
    when(size(split(col("text"), " ")) >= 3, md5(col("text")))
      .otherwise(concat(lit("solo_"), col("doc_id")))

  def incrementalNearDup(corpus: DataFrame, batch: DataFrame,
      threshold: Double): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val (bands, rows) = bandingFor(threshold)
    val canon = nearDupCanon
    val cG = corpus.select(col("doc_id"), canon.as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"), count(lit(1)).as("weight"))
    val bKeyed = batch.select(col("doc_id"), canon.as("h"))
    val bG = bKeyed.groupBy("h").agg(min("doc_id").as("rep"))
    // the index sides: banding and verify both read them — materialize
    // once (a cluster deployment persists the corpus one instead)
    val cSets = shingleSets(
        cG.select("doc_id").join(corpus.select("doc_id", "text"), "doc_id"))
      .localCheckpoint()
    val bSets = shingleSets(
        bG.select(col("rep").as("doc_id"))
          .join(batch.select("doc_id", "text"), "doc_id"))
      .localCheckpoint()
    val cBands = lshBands(cSets, numHashes = 64, bands = bands, rows = rows)
      .select(col("band"), col("bh"), col("doc_id").as("c_id"))
    val bBands = lshBands(bSets, numHashes = 64, bands = bands, rows = rows)
      .select(col("band"), col("bh"), col("doc_id").as("b_id"))
    // per batch GROUP: total corpus docs (exact-dup weights) it rewrites
    val bcVerified = bBands.join(cBands, Seq("band", "bh"))
      .select("b_id", "c_id").distinct()
      .join(bSets.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .join(cSets.select(col("doc_id").as("c_id"), col("sh").as("c_sh")), "c_id")
      .filter(jaccard(col("b_sh"), col("c_sh")) >= threshold)
      .join(cG.select(col("doc_id").as("c_id"), col("weight")), "c_id")
      .groupBy("b_id").agg(sum("weight").as("nc"))
    // per batch GROUP: the smallest doc id among near-dup NEIGHBOR groups.
    // batch_first(b) then needs no member×member work: a non-minimum
    // member always has its own group's minimum as an earlier near-dup,
    // and a minimum member's earliest cross-group near-dup is exactly the
    // matched group's minimum (= its rep id).
    val bbPairs =
      withSets(lshCandidates(bSets, numHashes = 64, bands = bands, rows = rows), bSets)
        .filter(jaccard(col("a_sh"), col("b_sh")) >= threshold)
    val earliestNbr = bbPairs.select(col("a_id").as("rep"), col("b_id").as("o"))
      .union(bbPairs.select(col("b_id").as("rep"), col("a_id").as("o")))
      .groupBy("rep").agg(min("o").as("earliest_other"))
    bKeyed
      .join(bG, "h")
      .join(bcVerified.withColumnRenamed("b_id", "rep"), Seq("rep"), "left")
      .join(earliestNbr, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("nc"), lit(0L)).as("n_corpus_neardups"),
        (col("doc_id") === col("rep") &&
          (col("earliest_other").isNull ||
            col("doc_id") < col("earliest_other"))).as("batch_first"),
        (coalesce(col("nc"), lit(0L)) === 0L && col("doc_id") === col("rep") &&
          (col("earliest_other").isNull ||
            col("doc_id") < col("earliest_other"))).as("keep"))
  }

  /** X75 (beyond reference): incremental near-dup gate — see
    * [[incrementalNearDup]] (corpus = every third doc, mirroring t32's
    * split, so the gate genuinely fires on this data). The oracle
    * brute-forces batch×corpus and batch×batch jaccard, feasible at
    * oracle scale; the engine path stays banded.
    */
  val x75: GraftQuery = GraftQuery(
    "x75_incremental_neardup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      incrementalNearDup(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0), 0.9)
    },
    Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           |  THEN list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2] for i in generate_series(1, len(w) - 2)])
           |  ELSE [] END AS s FROM t),
           |c AS (SELECT * FROM sh WHERE doc_id % 3 = 0),
           |b AS (SELECT * FROM sh WHERE doc_id % 3 <> 0),
           |bc AS (SELECT b.doc_id, count(*) AS n FROM b JOIN c
           |  ON len(list_intersect(b.s, c.s))::DOUBLE / len(list_distinct(list_concat(b.s, c.s))) >= 0.9
           |  GROUP BY 1),
           |bb AS (SELECT DISTINCT b2.doc_id FROM b b1 JOIN b b2 ON b1.doc_id < b2.doc_id
           |  AND len(list_intersect(b1.s, b2.s))::DOUBLE / len(list_distinct(list_concat(b1.s, b2.s))) >= 0.9)
           |SELECT b.doc_id, CAST(coalesce(bc.n, 0) AS BIGINT) AS n_corpus_neardups,
           |  bb.doc_id IS NULL AS batch_first,
           |  coalesce(bc.n, 0) = 0 AND bb.doc_id IS NULL AS keep
           |FROM b LEFT JOIN bc USING (doc_id) LEFT JOIN bb USING (doc_id)""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): the LSH recall curve
    * for the x7 banding at `threshold` — P(candidate) = 1 − (1 − j^r)^b
    * over the jaccard grid j ∈ {0.50 … 1.00}, one row per centi-jaccard:
    * (jaccard_centi, p_candidate, bands, rows_per_band). This is the
    * banding CONTRACT as data — the table a user reads to decide whether
    * 16×4 at threshold 0.9 (p ≥ 0.999 at j = 0.9) or a different
    * threshold fits their corpus, without trusting a comment.
    *
    * Determinism: the powers are explicit multiplication chains (j⁴ by
    * two squarings, y¹⁶ by four), never libm `pow` — IEEE multiplication
    * is correctly rounded so both engines produce bit-identical doubles,
    * where `pow` implementations legitimately differ in the last ulp
    * (the x68 sqrt-vs-pow rule). Scale: 51 literal rows.
    */
  def lshRecallCurve(s: SparkSession, threshold: Double = 0.9): DataFrame = {
    val (bands, rows) = bandingFor(threshold)
    require(bands == 16 && rows == 4,
      s"recall curve is derived for the 16x4 banding family (threshold 0.9); got ${bands}x$rows")
    val j = col("id").cast("double") / 100.0
    val j4 = (j * j) * (j * j)
    val y = lit(1.0) - j4
    val y4 = (y * y) * (y * y)
    val y16 = (y4 * y4) * (y4 * y4)
    s.range(50, 101).select(
      col("id").cast("int").as("jaccard_centi"),
      (lit(1.0) - y16).as("p_candidate"),
      lit(bands).as("bands"), lit(rows).as("rows_per_band"))
  }

  /** X76 (beyond reference): the x7 banding recall contract as a table —
    * see [[lshRecallCurve]]. The oracle replays the same multiplication
    * chains over the same integer grid.
    */
  val x76: GraftQuery = GraftQuery(
    "x76_lsh_recall_curve",
    (s, _) => lshRecallCurve(s),
    Some("""WITH g AS (SELECT unnest(generate_series(50, 100)) AS jc),
           |p AS (SELECT jc, CAST(jc AS DOUBLE) / 100.0 AS j FROM g),
           |q AS (SELECT jc, 1.0 - (j * j) * (j * j) AS y FROM p),
           |r AS (SELECT jc, (y * y) * (y * y) AS y4 FROM q)
           |SELECT CAST(jc AS INT) AS jaccard_centi,
           |  1.0 - (y4 * y4) * (y4 * y4) AS p_candidate,
           |  16 AS bands, 4 AS rows_per_band
           |FROM r""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): quality-aware keeper
    * election — which member of a duplicate cluster SURVIVES dedup. Every
    * other keeper in this engine (x1, x21, x36) elects min doc_id, which is
    * arbitrary; production curation keeps the BEST member (FineWeb keeps by
    * quality signal, RefinedWeb by length) because near-identical docs
    * differ in truncation/boilerplate and the keeper is what trains. Docs
    * cluster by the canonical fingerprint (md5 of the sorted distinct word
    * set — the incrementalDedup/sourceOverlapMatrix key, order/repetition-
    * proof but exact and joinable); within a cluster the keeper maximizes
    * `scoreCol`, ties broken on min doc_id, both deterministic. Emits per
    * doc (doc_id, h, n_members, keeper, keep).
    *
    * Scale: one corpus scan to (doc, h, score); one md5-keyed groupBy whose
    * argmax is a lexicographic struct-max — map-side combinable, so a mega
    * duplicate cluster collapses to partial maxima before the exchange (the
    * GraphOps groupBy-min discipline, never a node-partitioned window); one
    * join back on h, where the group side is 1 row/key so AQE skew-split
    * can shard a hot cluster's member rows freely. No window, no all-pairs.
    */
  /** The canonical cluster fingerprint shared by x77, the t36 streaming
    * election and the t37 ingest ladder: md5 of the sorted distinct word
    * set (the incrementalDedup key — order/repetition-proof, exact,
    * joinable).
    */
  private[operators] def canonFingerprint(
      textCol: Column = col("text")): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(textCol, " ")))))

  def qualityKeeper(docs: DataFrame, scoreCol: String = "score"): DataFrame = {
    val scored = docs.select(col("doc_id"), canonFingerprint().as("h"),
      col(scoreCol).cast("double").as("score"))
    // lexicographic max over (score, -doc_id): max score, then min doc_id
    val groups = scored.groupBy("h").agg(
      count(lit(1)).cast("long").as("n_members"),
      max(struct(col("score").as("s"), (col("doc_id") * -1).as("negid"))).as("m"))
      .select(col("h"), col("n_members"), (col("m.negid") * -1).as("keeper"))
    scored.join(groups, "h")
      .select(col("doc_id"), col("h"), col("n_members"), col("keeper"),
        (col("doc_id") === col("keeper")).as("keep"))
  }

  /** X77 (beyond reference): quality-aware dup-cluster keeper election —
    * see [[qualityKeeper]]; score = n_chars (the RefinedWeb keep-longest
    * rule, integer-exact in double). The oracle replays the argmax as
    * max-score-per-cluster + min-doc_id-among-ties, provably the same
    * election as the struct-max.
    */
  val x77: GraftQuery = GraftQuery(
    "x77_quality_keeper",
    (s, d) => qualityKeeper(
      Tables.documents(s, d).withColumn("score", col("n_chars")), "score"),
    Some("""WITH k AS (SELECT doc_id,
           |  md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')) AS h,
           |  CAST(n_chars AS DOUBLE) AS score FROM documents),
           |g AS (SELECT h, CAST(count(*) AS BIGINT) AS n_members, max(score) AS ms
           |      FROM k GROUP BY h),
           |kp AS (SELECT k.h, min(k.doc_id) AS keeper
           |       FROM k JOIN g ON k.h = g.h AND k.score = g.ms GROUP BY k.h)
           |SELECT k.doc_id, k.h, g.n_members, kp.keeper,
           |  k.doc_id = kp.keeper AS keep
           |FROM k JOIN g USING (h) JOIN kp USING (h)""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): WITHIN-document
    * repeated-block removal — the intra-doc half of sub-document dedup
    * (x26 is the cross-doc half): web pages repeat their own nav bars,
    * cookie banners and footers, and Dolma/RefinedWeb strip repeated
    * paragraphs inside each page before corpus-level dedup ever runs. The
    * doc is cut into aligned `blockWords`-word blocks (trailing partial
    * block kept); a block survives iff it is the FIRST occurrence of its
    * content within the doc; survivors re-join in order. Emits
    * (doc_id, n_blocks, n_dropped, clean_text).
    *
    * Scale: zero shuffles — the whole op is per-doc array lambdas inside
    * whole-stage codegen. first-occurrence is array_position over the
    * doc's own block list: O(blocks²) worst case PER DOC, bounded by doc
    * length (a 10k-token doc at the default 8-word block is ~1.5M cheap
    * string compares), independent of corpus size — exactly the work an
    * imperative scrubber would do, with no distributed machinery to skew.
    */
  def intraDocDedup(docs: DataFrame, blockWords: Int = 8): DataFrame = {
    require(blockWords >= 1, "blockWords must be positive")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("blocks", expr(
        s"""transform(sequence(0, (size(ws) - 1) DIV $blockWords),
           |  i -> array_join(slice(ws, i * $blockWords + 1, $blockWords), ' '))"""
          .stripMargin))
      // Spark's 2-arg filter lambda index is 0-based; array_position is
      // 1-based first occurrence
      .withColumn("kept", expr(
        "filter(blocks, (b, i) -> array_position(blocks, b) = i + 1)"))
      .select(col("doc_id"),
        size(col("blocks")).cast("long").as("n_blocks"),
        (size(col("blocks")) - size(col("kept"))).cast("long").as("n_dropped"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** X78 (beyond reference): intra-document repeated-block removal — see
    * [[intraDocDedup]], run at 2-word blocks so the 31-word driver
    * vocabulary actually produces in-doc repeats to drop (8-word repeats
    * need planted fixtures; TextOpsSpec has them). DuckDB's lambda index
    * and list slices are 1-based where Spark's filter index is 0-based —
    * the oracle adjusts explicitly.
    */
  val x78: GraftQuery = GraftQuery(
    "x78_intradoc_dedup",
    (s, d) => intraDocDedup(Tables.documents(s, d), blockWords = 2),
    Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
           |b AS (SELECT doc_id, ws,
           |  list_transform(range(0, ((len(ws) - 1) // 2) + 1),
           |    i -> array_to_string(ws[i * 2 + 1 : i * 2 + 2], ' ')) AS blocks
           |  FROM t),
           |k AS (SELECT doc_id, blocks,
           |  list_filter(blocks, (x, i) -> list_position(blocks, x) = i) AS kept
           |  FROM b)
           |SELECT doc_id, CAST(len(blocks) AS BIGINT) AS n_blocks,
           |  CAST(len(blocks) - len(kept) AS BIGINT) AS n_dropped,
           |  array_to_string(kept, ' ') AS clean_text
           |FROM k""".stripMargin))

  /** The near-dup index's `reps/` table, as [[buildNearDupIndex]] and
    * [[nearDupIndexIngest]] write it.
    */
  private val NearDupRepsSchema =
    org.apache.spark.sql.types.StructType.fromDDL("rep_id BIGINT, weight BIGINT, sh ARRAY<STRING>")

  /** The near-dup index's `bands/` table: the [[lshBands]] keys. */
  private val NearDupBandsSchema =
    org.apache.spark.sql.types.StructType.fromDDL("band INT, bh BIGINT, rep_id BIGINT")

  /** Public DataFrame-in API (see graft.api.Graft): PERSIST the near-dup
    * index — the text twin of the persisted IVF index: the corpus
    * collapses to exact-dup representatives whose shingle sets land in
    * `reps/` (rep_id, weight = exact-group size, sh) and whose LSH band
    * keys land in `bands/` (band, bh, rep_id). Ingest gates
    * ([[nearDupIndexIngest]]) then join batches against this index
    * instead of re-scanning and re-signing the corpus on every call —
    * at 100 TB the signatures are the expensive artifact and they are
    * computed exactly once per accepted doc. Every read of the two
    * tables passes its declared schema ([[NearDupRepsSchema]],
    * [[NearDupBandsSchema]]), so a gate infers nothing from the footers.
    */
  def buildNearDupIndex(corpus: DataFrame, path: String,
      threshold: Double = 0.9): Unit = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val (bands, rows) = bandingFor(threshold)
    val cG = corpus.select(col("doc_id"), nearDupCanon.as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"), count(lit(1)).as("weight"))
    val cSets = shingleSets(
        cG.select("doc_id").join(corpus.select("doc_id", "text"), "doc_id"))
      .localCheckpoint()
    cSets.join(cG.select(col("doc_id"), col("weight")), "doc_id")
      .select(col("doc_id").as("rep_id"), col("weight"), col("sh"))
      .write.mode("overwrite").parquet(s"$path/reps")
    lshBands(cSets, numHashes = 64, bands = bands, rows = rows)
      .select(col("band"), col("bh"), col("doc_id").as("rep_id"))
      .write.mode("overwrite").parquet(s"$path/bands")
  }

  /** Gate one batch against a [[buildNearDupIndex]] index AND grow it by
    * the accepted docs — [[incrementalNearDup]] in build-once/query-many
    * form: same verdict columns (doc_id, n_corpus_neardups, batch_first,
    * keep), but the corpus side is the persisted (band, bh) join + stored
    * shingle sets, never a corpus rescan, and each accepted doc's
    * signature/bands append so the NEXT batch is gated against them too
    * (greedy first-wins across the stream — the t32 rule lifted to
    * similarity). With the whole batch in one call the verdicts equal
    * incrementalNearDup's bit-for-bit (TextOpsSpec pins it).
    *
    * Scale: per batch — batch-side collapse + signatures (one pass),
    * a (band, bh)-keyed join against the index (uniform hash keys),
    * exact verify on candidate pairs only, and two keyed appends sized by
    * the accepted set. Index state lives in storage, never executor
    * memory.
    */
  def nearDupIndexIngest(batch: DataFrame, path: String,
      threshold: Double = 0.9): DataFrame = {
    val s = batch.sparkSession
    graft.plans.GraftExtensions.register(s)
    val (bands, rows) = bandingFor(threshold)
    val bKeyed = batch.select(col("doc_id"), nearDupCanon.as("h"))
    val bG = bKeyed.groupBy("h").agg(min("doc_id").as("rep"))
    val bSets = shingleSets(
        bG.select(col("rep").as("doc_id"))
          .join(batch.select("doc_id", "text"), "doc_id"))
      .localCheckpoint()
    val bBands = lshBands(bSets, numHashes = 64, bands = bands, rows = rows)
      .select(col("band"), col("bh"), col("doc_id").as("b_id"))
    val reps = s.read.schema(NearDupRepsSchema).parquet(s"$path/reps")
    val idxBands = s.read.schema(NearDupBandsSchema).parquet(s"$path/bands")
    val bcVerified = bBands.join(idxBands, Seq("band", "bh"))
      .select(col("b_id"), col("rep_id")).distinct()
      .join(bSets.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .join(reps.select(col("rep_id"), col("sh").as("c_sh"), col("weight")),
        "rep_id")
      .filter(jaccard(col("b_sh"), col("c_sh")) >= threshold)
      .groupBy("b_id").agg(sum("weight").as("nc"))
    val bbPairs =
      withSets(lshCandidates(bSets, numHashes = 64, bands = bands, rows = rows), bSets)
        .filter(jaccard(col("a_sh"), col("b_sh")) >= threshold)
    val earliestNbr = bbPairs.select(col("a_id").as("rep"), col("b_id").as("o"))
      .union(bbPairs.select(col("b_id").as("rep"), col("a_id").as("o")))
      .groupBy("rep").agg(min("o").as("earliest_other"))
    // pin BEFORE the index appends below: the lazy verdict plan reads the
    // same reps/bands tables the appends are about to grow
    val verdicts = bKeyed
      .join(bG, "h")
      .join(bcVerified.withColumnRenamed("b_id", "rep"), Seq("rep"), "left")
      .join(earliestNbr, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("nc"), lit(0L)).as("n_corpus_neardups"),
        (col("doc_id") === col("rep") &&
          (col("earliest_other").isNull ||
            col("doc_id") < col("earliest_other"))).as("batch_first"),
        (coalesce(col("nc"), lit(0L)) === 0L && col("doc_id") === col("rep") &&
          (col("earliest_other").isNull ||
            col("doc_id") < col("earliest_other"))).as("keep"))
      .localCheckpoint()
    // grow the index by the ACCEPTED docs (each is its group's rep and
    // matched nothing): weight 1, stored signature + band rows
    val acceptedSets = verdicts.filter(col("keep")).select("doc_id")
      .join(bSets, "doc_id").localCheckpoint()
    acceptedSets
      .select(col("doc_id").as("rep_id"), lit(1L).as("weight"), col("sh"))
      .write.mode("append").parquet(s"$path/reps")
    lshBands(acceptedSets, numHashes = 64, bands = bands, rows = rows)
      .select(col("band"), col("bh"), col("doc_id").as("rep_id"))
      .write.mode("append").parquet(s"$path/bands")
    verdicts
  }

  /** Public DataFrame-in API (see graft.api.Graft): corpus snapshot diff —
    * the crawl-delta report that makes every incremental op upstream
    * cheap: given two crawls keyed by doc_id, classify each doc as added
    * (new id), removed (id gone), rewritten (same id, different text —
    * raw md5, NOT the canonical dedup key: a reorder IS a rewrite to a
    * diff even when dedup would collapse it) or unchanged. Downstream,
    * only added+rewritten need the x21/x75/t37 gates. Emits
    * (doc_id, old_h, new_h, status).
    *
    * Scale: one full-outer hash join on doc_id (unique, uniform) — the
    * cheapest possible shape; no text ever shuffles, only 16-byte hashes.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("old_h"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("new_h"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("old_h"), col("new_h"),
        when(col("old_h").isNull, "added")
          .when(col("new_h").isNull, "removed")
          .when(col("old_h") =!= col("new_h"), "rewritten")
          .otherwise("unchanged").as("status"))
  }

  /** X79 (beyond reference): crawl-delta report — old = docs without the
    * %4==1 slice, new = docs without the %4==2 slice with every 5th doc
    * textually updated, so all four classes genuinely occur. The oracle
    * replays the full-outer classification.
    */
  val x79: GraftQuery = GraftQuery(
    "x79_corpus_diff",
    (s, d) => {
      val docs = Tables.documents(s, d)
      corpusDiff(
        docs.filter(col("doc_id") % 4 =!= 1),
        docs.filter(col("doc_id") % 4 =!= 2)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" updated")))
              .otherwise(col("text")).as("text")))
    },
    Some("""WITH o AS (SELECT doc_id, md5(text) AS old_h FROM documents
           |           WHERE doc_id % 4 != 1),
           |n AS (SELECT doc_id, md5(CASE WHEN doc_id % 5 = 0
           |        THEN text || ' updated' ELSE text END) AS new_h
           |      FROM documents WHERE doc_id % 4 != 2)
           |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, old_h, new_h,
           |  CASE WHEN old_h IS NULL THEN 'added'
           |       WHEN new_h IS NULL THEN 'removed'
           |       WHEN old_h != new_h THEN 'rewritten'
           |       ELSE 'unchanged' END AS status
           |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): DEEP snapshot diff —
    * [[corpusDiff]] with rewrite-depth classification: `rewritten` splits
    * into `reordered` (raw md5 differs but the canonical word-set
    * fingerprint is unchanged — a cosmetic shuffle/repetition edit that
    * should NOT re-trigger downstream dedup/quality gates, since every
    * canonical-keyed op is invariant to it) and `edited` (the word set
    * itself changed — the doc re-enters the x21/x75/t37 ladder). Same
    * one-hash-join shape as x79; two 16-byte hashes per side instead of
    * one.
    */
  def corpusDiffDeep(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("old_h"),
      canonFingerprint().as("old_c"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("new_h"),
      canonFingerprint().as("new_c"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("old_h"), col("new_h"),
        when(col("old_h").isNull, "added")
          .when(col("new_h").isNull, "removed")
          .when(col("old_h") === col("new_h"), "unchanged")
          .when(col("old_c") === col("new_c"), "reordered")
          .otherwise("edited").as("status"))
  }

  /** X80 (beyond reference): rewrite-depth crawl delta — x79's split with
    * every 5th doc textually extended (edited) and every 7th doc's text
    * word-REVERSED (reordered: same word set, different md5). The oracle
    * replays both hash ladders.
    */
  val x80: GraftQuery = GraftQuery(
    "x80_corpus_diff_deep",
    (s, d) => {
      val docs = Tables.documents(s, d)
      corpusDiffDeep(
        docs.filter(col("doc_id") % 4 =!= 1),
        docs.filter(col("doc_id") % 4 =!= 2)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" updated")))
              .when(col("doc_id") % 7 === 0,
                array_join(reverse(split(col("text"), " ")), " "))
              .otherwise(col("text")).as("text")))
    },
    Some("""WITH o AS (SELECT doc_id, md5(text) AS old_h,
           |  md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')) AS old_c
           |  FROM documents WHERE doc_id % 4 != 1),
           |n0 AS (SELECT doc_id, CASE
           |    WHEN doc_id % 5 = 0 THEN text || ' updated'
           |    WHEN doc_id % 7 = 0 THEN array_to_string(list_reverse(str_split(text, ' ')), ' ')
           |    ELSE text END AS text
           |  FROM documents WHERE doc_id % 4 != 2),
           |n AS (SELECT doc_id, md5(text) AS new_h,
           |  md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')) AS new_c
           |  FROM n0)
           |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, old_h, new_h,
           |  CASE WHEN old_h IS NULL THEN 'added'
           |       WHEN new_h IS NULL THEN 'removed'
           |       WHEN old_h = new_h THEN 'unchanged'
           |       WHEN old_c = new_c THEN 'reordered'
           |       ELSE 'edited' END AS status
           |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin))

  val all: Seq[GraftQuery] =
    Seq(x1, x2, x3, x4, x5, x6, x7, x8, x9, x10, x11, x12, x13, x14, x15, x16, x29, x30, x31,
      x32, x33, x34, x17, x18, x19, x20, x21, x22, x23, x24, x25, x26, x27, x28, x35, x36,
      x37, x38, x39, x40, x41, x42, x43, x44, x45, x46, x47, x48, x49, x50, x51, x52, x53, x54,
      x55, x56, x57, x58, x59, x61, x62, x63, x64, x65, x67, x68, x69, x70, x71, x72, x73,
      x74, x75, x76, x77, x78, x79, x80, x81)
}
