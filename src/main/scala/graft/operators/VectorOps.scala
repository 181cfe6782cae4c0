package graft.operators

import graft.api.GraftQuery
import graft.core.{Tables, VersionedStore}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType,
  StructField, StructType}

/** Similarity search over the embeddings table (Array[Float] column):
  * brute-force cosine top-k as the correctness baseline, and an IVF
  * (inverted-file) bucketed variant as the 100-TB scale path.
  *
  * All math is done in double, accumulated in index order by the fused
  * codegen'd [[graft.plans.CosineSimilarityExpr]] — the exact accumulation
  * order and `dot / (sqrt(na) * sqrt(nb))` arithmetic of DuckDB's
  * `list_cosine_similarity`, so cosine values are bitwise-identical to the
  * oracle. (The earlier `aggregate(zip_with(...))` form computed the same
  * values but its lambdas evaluate interpreted per candidate pair.)
  */
object VectorOps {

  /** embedding (array<float>) -> array<double>, prefixed for self-joins. */
  private def withNorm(df: DataFrame, prefix: String): DataFrame =
    df.select(col("vec_id").as(s"${prefix}_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as(s"${prefix}_e"))

  private def cosine(aE: String, bE: String): Column = {
    // requires GraftExtensions.register on the session (builders do this)
    call_function("graft_cosine", col(aE), col(bE))
  }

  /** Public DataFrame-in API (see graft.api.Graft): exact cosine top-k.
    * `corpus` and `queries` need (vec_id: long, embedding: array<float>)
    * columns; returns (q_id, neighbor_id, cos), k rows per query, self
    * excluded. The query side is broadcast; the corpus is scanned once.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val c = withNorm(corpus, "c")
    val q = withNorm(queries, "q")
    // excludeSelf assumes queries share the corpus id space (the reference
    // usage: querying a corpus with its own rows). For a DISJOINT query id
    // space pass excludeSelf = false — an id that happens to collide with a
    // corpus id would otherwise silently drop a valid neighbor and return
    // k-1 rows for that query.
    val scored = c.join(broadcast(q),
      if (excludeSelf) col("c_id") =!= col("q_id") else lit(true))
      .withColumn("cos", cosine("q_e", "c_e"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("c_id").as("neighbor_id"), col("cos"))
  }

  /** V1: brute-force cosine top-k (k=3) for a small query set — the exact
    * baseline every ANN variant is measured against. The query side is tiny
    * and broadcast; the corpus is scanned once, partition-local top-k then
    * global per-query rank.
    */
  val v1: GraftQuery = GraftQuery(
    "v1_ann_bruteforce_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 3)
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |pairs AS (SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
           |          list_cosine_similarity(q.e, v.e) AS cos
           |          FROM q JOIN v ON v.vec_id != q.vec_id)
           |SELECT q_id, neighbor_id, cos FROM pairs
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin))

  /** Number of IVF cells — FIXED, independent of corpus size. Assignment
    * cost is O(n*K) and the centroid broadcast is K rows no matter how big
    * the corpus grows; a centroid set that scales with n (e.g. "every 50th
    * vector") would make assignment O(n^2/50) and sink at 100 TB. At real
    * scale K rises to ~sqrt(n) via a k-means|| sample; the selection rule
    * here (K smallest md5(vec_id) — a deterministic uniform sample) is
    * chosen so DuckDB can reproduce the exact centroid set and oracle-check
    * the whole IVF path.
    */
  private val K = 16

  /** The K centroids: deterministic hash-sample, same set in any engine. */
  private def centroidsOf(corpus: DataFrame): DataFrame =
    withNorm(corpus.orderBy(md5(col("vec_id").cast("string"))).limit(K), "k")

  private def centroids(s: SparkSession, d: String): DataFrame =
    centroidsOf(Tables.embeddings(s, d))

  /** Nearest-centroid assignment against an arbitrary (small) centroid
    * set: one K-row broadcast join + per-vector argmax — O(n*K). The
    * argmax is a `max_by` aggregation, NOT a rank window: the K candidate
    * rows per vector sit in the same input partition (they came from one
    * corpus row), so the partial aggregate collapses K→1 BEFORE the
    * exchange and the shuffle carries n rows instead of n*K full-width
    * rows (embedding included) — a K-fold shuffle-volume cut in every
    * index build and kmeans/IVF query at 100 TB. The max orders by
    * (kcos, -k_id), the exact total order of the old (kcos DESC, k_id
    * ASC) rank, so assignment stays bit-identical in any engine.
    */
  private def assign(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.join(broadcast(cents), col("c_id").isNotNull)
      .withColumn("kcos", cosine("c_e", "k_e"))
      .groupBy("c_id")
      .agg(max_by(struct(col("c_e"), col("k_id")),
        struct(col("kcos"), (-col("k_id")).as("nk"))).as("m"))
      .select(col("c_id"), col("m.c_e").as("c_e"), col("m.k_id").as("cluster"))

  private def ivfAssign(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    assign(withNorm(Tables.embeddings(s, d), "c"), centroids(s, d))
  }

  /** V2: IVF-bucketed ANN — vectors assigned to their nearest centroid,
    * queries probe their top-2 centroids and rank only within probed
    * posting lists. At 100 TB: the corpus shuffles once on cluster id;
    * queries touch ~probe/K of the data. Approximate relative to V1 by
    * design (recall is ScalaTest-gated), but the bucketed computation
    * itself is deterministic SQL — the oracle replays centroid selection,
    * assignment, probing, and ranking exactly.
    */
  /** Public DataFrame-in API (see graft.api.Graft): IVF-bucketed ANN.
    * Same column contract as [[bruteForceTopK]]; `probes` = number of
    * nearest cells each query searches. Centroids are the deterministic
    * hash-sample of `corpus`.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, probes: Int = 2,
      excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val cents = centroidsOf(corpus)
    val assigned = assign(withNorm(corpus, "c"), cents)

    val q = withNorm(queries, "q")
    val qw = Window.partitionBy("q_id").orderBy(col("kcos").desc, col("k_id"))
    val probed = q.join(broadcast(cents), col("q_id").isNotNull)
      .withColumn("kcos", cosine("q_e", "k_e"))
      .withColumn("rk", row_number().over(qw)).filter(col("rk") <= probes)
      .select(col("q_id"), col("q_e"), col("k_id").as("cluster"))

    // rank within probed posting lists only
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    assigned.join(broadcast(probed), Seq("cluster"))
      // see bruteForceTopK: only meaningful when query ids live in the
      // corpus id space; disabled for disjoint-id query tables
      .filter(if (excludeSelf) col("c_id") =!= col("q_id") else lit(true))
      .withColumn("cos", cosine("q_e", "c_e"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("c_id").as("neighbor_id"), col("cos"))
  }

  val v2: GraftQuery = GraftQuery(
    "v2_ann_ivf_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 3, probes = 2)
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
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
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin))

  /** Lloyd rounds for the refined IVF — fixed so the oracle can replay the
    * exact iteration sequence.
    */
  private val Iters = 2

  /** K-means refinement of the hash-sampled centroids: `Iters` rounds of
    * assign -> mean. The mean is a per-cluster fold in ASCENDING vec_id
    * order — float addition is non-associative, so a fixed fold order is
    * the only way two engines produce bit-identical centroids; DuckDB
    * replays it with `list_reduce(list(e ORDER BY vec_id), ...)`. Cosine
    * is scale-invariant, so the unnormalized mean is a valid spherical
    * centroid without any norm step. At 100 TB the update would be a
    * map-side-combined per-dimension SUM (order-free, last-ulp different —
    * the documented exactness/scale trade; recall is unaffected), and K
    * rises to ~sqrt(n) via k-means|| oversampling. Empty clusters drop out
    * of the groupBy identically in both engines.
    */
  private def kmeansCentroidsOf(corpusRaw: DataFrame): DataFrame = {
    val s = corpusRaw.sparkSession
    import s.implicits._
    graft.plans.GraftExtensions.register(s)
    val corpus = withNorm(corpusRaw, "c")
    var cents = centroidsOf(corpusRaw)
    for (_ <- 1 to Iters) {
      cents = assign(corpus, cents).as[(Long, Seq[Double], Long)]
        .groupByKey(_._3)
        .mapGroups { (k, it) =>
          val rows = it.toArray.sortBy(_._1)
          val dim = rows(0)._2.length
          val sm = new Array[Double](dim)
          rows.foreach { r =>
            var i = 0
            while (i < dim) { sm(i) += r._2(i); i += 1 }
          }
          (k, sm.toSeq.map(_ / rows.length))
        }
        .toDF("k_id", "k_e")
    }
    // 16 tiny rows reused by assignment AND probing — pin the fixpoint so
    // downstream branches don't re-run the Lloyd lineage
    cents.localCheckpoint()
  }

  /** V4: IVF ANN with k-means-refined centroids — same probe/rank shape as
    * [[v2]], but the cells are 2 Lloyd rounds tighter, which is what makes
    * IVF recall hold on real (clustered) data. Fully deterministic: the
    * oracle replays init, both Lloyd rounds, final assignment, probing,
    * and ranking bit-for-bit.
    */
  /** Public DataFrame-in API (see graft.api.Graft): IVF ANN with k-means
    * (2 Lloyd rounds) refined cells — same contract as [[ivfTopK]], tighter
    * cells, the variant that holds recall on clustered real data.
    */
  def kmeansTopK(corpus: DataFrame, queries: DataFrame, k: Int, probes: Int = 2,
      excludeSelf: Boolean = true): DataFrame = {
    val cents = kmeansCentroidsOf(corpus)
    val assigned = assign(withNorm(corpus, "c"), cents)

    val q = withNorm(queries, "q")
    val qw = Window.partitionBy("q_id").orderBy(col("kcos").desc, col("k_id"))
    val probed = q.join(broadcast(cents), col("q_id").isNotNull)
      .withColumn("kcos", cosine("q_e", "k_e"))
      .withColumn("rk", row_number().over(qw)).filter(col("rk") <= probes)
      .select(col("q_id"), col("q_e"), col("k_id").as("cluster"))

    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    assigned.join(broadcast(probed), Seq("cluster"))
      // see bruteForceTopK: only meaningful when query ids live in the
      // corpus id space; disabled for disjoint-id query tables
      .filter(if (excludeSelf) col("c_id") =!= col("q_id") else lit(true))
      .withColumn("cos", cosine("q_e", "c_e"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("c_id").as("neighbor_id"), col("cos"))
  }

  val v4: GraftQuery = GraftQuery(
    "v4_ann_kmeans_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      kmeansTopK(emb, emb.filter(col("vec_id") < 10), k = 3, probes = 2)
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |c0 AS (SELECT vec_id AS k_id, e AS ke FROM v
           |       ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |a1 AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN c0 c) WHERE rk = 1),
           |c1 AS (SELECT cluster AS k_id, list_transform(sm, a -> a / n) AS ke FROM (
           |  SELECT cluster, count(*) AS n,
           |    list_reduce(list(e ORDER BY vec_id), (acc, x) -> list_transform(acc, (a, i) -> a + x[i])) AS sm
           |  FROM a1 GROUP BY cluster)),
           |a2 AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN c1 c) WHERE rk = 1),
           |c2 AS (SELECT cluster AS k_id, list_transform(sm, a -> a / n) AS ke FROM (
           |  SELECT cluster, count(*) AS n,
           |    list_reduce(list(e ORDER BY vec_id), (acc, x) -> list_transform(acc, (a, i) -> a + x[i])) AS sm
           |  FROM a2 GROUP BY cluster)),
           |af AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN c2 c) WHERE rk = 1),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |probes AS (SELECT vec_id AS q_id, e AS qe, k_id AS cluster FROM (
           |  SELECT q.vec_id, q.e, c.k_id, row_number() OVER (PARTITION BY q.vec_id
           |    ORDER BY list_cosine_similarity(q.e, c.ke) DESC, c.k_id) AS rk
           |  FROM q CROSS JOIN c2 c) WHERE rk <= 2)
           |SELECT q_id, neighbor_id, cos FROM (
           |  SELECT p.q_id, a.vec_id AS neighbor_id, list_cosine_similarity(p.qe, a.e) AS cos
           |  FROM probes p JOIN af a USING (cluster) WHERE a.vec_id != p.q_id)
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin))

  /** V3: embedding-cosine near-duplicate pairs at 0.95, bucketed by IVF
    * cluster — only same-cluster pairs are compared (never all-pairs; the
    * shuffle key is the cluster id). Highly similar vectors land in the
    * same cluster with near-certainty at this threshold; the brute-force
    * oracle is sound on the driver data (no qualifying cross-cluster pairs)
    * and recall is additionally ScalaTest-gated on crafted fixtures.
    */
  val v3: GraftQuery = GraftQuery(
    "v3_embedding_neardup",
    (s, d) => {
      val assigned = ivfAssign(s, d)
      val b = assigned.select(col("cluster"), col("c_id").as("b_id"),
        col("c_e").as("b_e"))
      assigned.join(b, Seq("cluster")).filter(col("c_id") < col("b_id"))
        .withColumn("cos", cosine("c_e", "b_e"))
        .filter(col("cos") >= 0.95)
        .select(col("c_id").as("a_id"), col("b_id"), col("cos"))
    },
    Some("""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
           |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.95""".stripMargin),
    bench = false)

  /** V5: random-hyperplane (SimHash-for-vectors) LSH — the OTHER standard
    * ANN family next to IVF (v2/v4): 16 hyperplanes, one sign bit each,
    * vectors bucketed by the 16-bit signature; same-bucket collision
    * probability is (1 - theta/pi)^16, so near-identical vectors co-bucket
    * and the bucket join replaces all-pairs. Hyperplane components are
    * md5-derived uniforms ([[graft.functions.HashDraw]] semantics), the
    * dot folds dims in ascending order, and int->double conversion +
    * division by 2^59 round identically everywhere — so every signature
    * bit is cross-engine exact and the oracle replays all 16x64
    * hyperplane values. One typed pass, no shuffle until the (tiny)
    * bucket-count window; at 100 TB the signature is a map-side column
    * and candidate generation shuffles on the signature key only.
    */
  val v5: GraftQuery = GraftQuery(
    "v5_cosine_lsh_buckets",
    (s, d) => {
      import s.implicits._
      val sigs = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          var hp: Array[Array[Double]] = null // built once per partition
          it.map { case (id, e) =>
            if (hp == null) hp = Array.tabulate(16, e.size) { (h, i) =>
              graft.functions.HashDraw.draw(md, s"v5:$h:$i").toDouble /
                (1L << 59).toDouble - 1.0
            }
            var sig = 0L
            var h = 0
            while (h < 16) {
              val w = hp(h)
              var dot = 0.0
              var i = 0
              while (i < w.length) { dot += e(i).toDouble * w(i); i += 1 }
              if (dot > 0) sig |= 1L << h
              h += 1
            }
            (id, sig)
          }
        }
        .toDF("vec_id", "sig")
      sigs.withColumn("n_bucket",
        count(lit(1)).over(Window.partitionBy("sig")))
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |hp AS (SELECT h, list_transform(generate_series(1, 64),
           |    i -> CAST('0x' || substr(md5('v5:' || h || ':' || (i - 1)), 1, 15) AS BIGINT)
           |         / 576460752303423488.0 - 1.0) AS w
           |  FROM generate_series(0, 15) t(h)),
           |dots AS (SELECT vec_id, h,
           |    list_reduce(list_transform(generate_series(1, 64), i -> e[i] * w[i]),
           |      (a, b) -> a + b) AS dot
           |  FROM v CROSS JOIN hp),
           |sig AS (SELECT vec_id,
           |    CAST(sum(CASE WHEN dot > 0 THEN 1::BIGINT << h ELSE 0::BIGINT END) AS BIGINT) AS sig
           |  FROM dots GROUP BY vec_id)
           |SELECT vec_id, sig, count(*) OVER (PARTITION BY sig) AS n_bucket
           |FROM sig""".stripMargin))

  /** V6 (beyond reference): symmetric int8 scalar quantization — the
    * compression step vector stores apply before ANN serving (4x smaller
    * than float32, 8x than the double math): per-vector scale =
    * max|x|/127, each component rounded half-up to [-127, 127]. Pure
    * per-row map — no shuffle, embarrassingly parallel at any scale. Every
    * step is IEEE-exact cross-engine: max of doubles is order-free,
    * x/scale and floor(x+0.5) are single operations, and the md5 digest of
    * the exact int sequence pins the whole codebook against the oracle.
    * (Data note: all driver vectors have amax > 0; a zero vector would
    * need a scale guard before the divide.)
    */
  val v6: GraftQuery = GraftQuery(
    "v6_int8_quantize",
    (s, d) => Tables.embeddings(s, d)
      .withColumn("e", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("amax", expr("array_max(transform(e, x -> abs(x)))"))
      .withColumn("scale", col("amax") / 127.0)
      .withColumn("q", expr(
        "transform(e, x -> CAST(greatest(-127D, least(127D, floor(x / scale + 0.5D))) AS INT))"))
      .select(col("vec_id"), col("scale"),
        expr("CAST(aggregate(q, 0L, (a, x) -> a + x) AS BIGINT)").as("q_sum"),
        array_min(col("q")).as("q_min"), array_max(col("q")).as("q_max"),
        md5(concat_ws(",", expr("transform(q, x -> CAST(x AS STRING))"))).as("q_md5")),
    Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
           |sc AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM v),
           |qt AS (SELECT vec_id, scale,
           |  list_transform(e, x -> CAST(greatest(-127, least(127, floor(x / scale + 0.5))) AS INT)) AS q
           |  FROM sc)
           |SELECT vec_id, scale, CAST(list_sum(q) AS BIGINT) AS q_sum,
           |  list_min(q) AS q_min, list_max(q) AS q_max,
           |  md5(array_to_string(q, ',')) AS q_md5
           |FROM qt""".stripMargin))

  /** V7 (beyond reference): metadata-filtered ANN — top-k restricted to
    * candidates sharing the query's label (the "filtered vector search"
    * every production store supports: ANN + WHERE clause). Pre-filtering
    * beats post-filtering here: the label predicate lands in the join
    * condition, so Catalyst prunes non-matching candidates BEFORE the
    * cosine evaluates — at 100 TB with selective filters this is the
    * difference between scanning a label partition and scanning the
    * corpus. Same broadcast-queries + per-query rank shape as [[v1]].
    */
  val v7: GraftQuery = GraftQuery(
    "v7_ann_filtered_topk",
    (s, d) => {
      graft.plans.GraftExtensions.register(s)
      val emb = Tables.embeddings(s, d)
      def side(p: String, df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id").as(s"${p}_id"), col("label").as(s"${p}_label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as(s"${p}_e"))
      val corpus = side("c", emb)
      val queries = side("q", emb.filter(col("vec_id") < 10))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
      corpus.join(broadcast(queries),
          col("c_label") === col("q_label") && col("c_id") =!= col("q_id"))
        .withColumn("cos", cosine("q_e", "c_e"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("q_id"), col("q_label").as("label"),
          col("c_id").as("neighbor_id"), col("cos"))
    },
    Some("""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |pairs AS (SELECT q.vec_id AS q_id, q.label AS label, v.vec_id AS neighbor_id,
           |          list_cosine_similarity(q.e, v.e) AS cos
           |          FROM q JOIN v ON v.label = q.label AND v.vec_id != q.vec_id)
           |SELECT q_id, label, neighbor_id, cos FROM pairs
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin))

  /** PQ geometry: vectors cut into M = dim/S subspaces of S dims, each
    * encoded against a Ks-codeword codebook (for the 64-dim driver table:
    * 8 subspaces x 4-bit codes — the float vector compresses to 32 bits).
    */
  private val PqS = 8
  private val PqKs = 16

  /** Squared L2 over one PqS-dim subspace, folded in ascending dim order
    * (the fold order is the cross-engine bit-exactness contract — shared by
    * v8 and v9 so their ADC scores are identical by construction).
    */
  private def pqDist(a: Array[Double], ao: Int, b: Array[Double], bo: Int): Double = {
    var sm = 0.0; var i = 0
    while (i < PqS) { val df = a(ao + i) - b(bo + i); sm += df * df; i += 1 }
    sm
  }

  /** Per-subspace code assignment: argmin [[pqDist]] over the codebook,
    * ties to the smallest codeword index (the oracle's ORDER BY dd, j).
    */
  private def pqEncode(ca: Array[Double], cbL: Array[Array[Double]], pqM: Int): Array[Int] =
    Array.tabulate(pqM) { m =>
      var best = 0; var bd = Double.MaxValue; var j = 0
      while (j < PqKs) {
        val dd = pqDist(ca, m * PqS, cbL(j), m * PqS)
        if (dd < bd) { bd = dd; best = j }
        j += 1
      }
      best
    }

  /** Per-query ADC lookup table: dd(m)(j) = d(q_sub_m, codeword_j_m). */
  private def pqTable(qa: Array[Double], cbL: Array[Array[Double]], pqM: Int): Array[Array[Double]] =
    Array.tabulate(pqM, PqKs)((m, j) => pqDist(qa, m * PqS, cbL(j), m * PqS))

  /** ADC score: table lookups summed in ascending subspace order. */
  private def pqAdc(tab: Array[Array[Double]], codes: Array[Int]): Double = {
    var adc = 0.0; var m = 0
    while (m < codes.length) { adc += tab(m)(codes(m)); m += 1 }
    adc
  }

  /** V8 (beyond reference): product-quantization ANN with asymmetric
    * distance (ADC) — the third standard ANN family next to IVF (v2/v4)
    * and hyperplane LSH (v5), and the one vector stores use to keep
    * billion-vector indexes in RAM: the corpus is stored as M small codes
    * per vector, and a query scores candidates with M table lookups
    * instead of a 64-dim float scan. Codebooks here are the [[centroids]]
    * hash-sample sliced per subspace (deterministic, so the oracle can
    * replay encode + lookup + rank bit-for-bit; production would Lloyd-
    * refine each subspace exactly like [[v4]]).
    *
    * Scale shape: the codebook (Ks rows) and query set are broadcast; one
    * typed pass over the corpus computes codes AND emits per-query ADC
    * scores from precomputed M x Ks lookup tables — no shuffle until the
    * per-query top-k rank, whose input is k-prunable per partition. At
    * 100 TB the corpus would persist its 32-bit codes once (a pure map,
    * like [[v6]]) and serving touches codes only. All distance folds run
    * in ascending index order — bit-identical cross-engine.
    */
  val v8: GraftQuery = GraftQuery(
    "v8_pq_adc_topk",
    (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val toD = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
      // tiny deterministic sides, collected for the kernel's lookup tables
      // (the same data a production PQ index broadcasts to every scorer)
      val cb: Array[Array[Double]] = emb
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(PqKs)
        .select(toD).as[Seq[Double]].collect().map(_.toArray)
      val qs: Array[(Long, Array[Double])] = emb.filter(col("vec_id") < 10)
        .select(col("vec_id"), toD).as[(Long, Seq[Double])]
        .collect().map { case (id, e) => (id, e.toArray) }.sortBy(_._1)
      val bc = s.sparkContext.broadcast((cb, qs))

      val scored = emb.select(col("vec_id"), toD.as("e"))
        .as[(Long, Seq[Double])]
        .mapPartitions { it =>
          val (cbL, qL) = bc.value
          val pqM = cbL(0).length / PqS
          val qtab = qL.map { case (qid, qa) => (qid, pqTable(qa, cbL, pqM)) }
          it.flatMap { case (cid, ce) =>
            val codes = pqEncode(ce.toArray, cbL, pqM)
            qtab.iterator.filter(_._1 != cid).map { case (qid, tab) =>
              (qid, cid, pqAdc(tab, codes))
            }
          }
        }.toDF("q_id", "neighbor_id", "adc")

      val w = Window.partitionBy("q_id").orderBy(col("adc").asc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select("q_id", "neighbor_id", "adc")
    },
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
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, neighbor_id) <= 3""".stripMargin))

  /** V9 (beyond reference): IVF-PQ composition — the two scale levers
    * joined the way production vector indexes ship them (FAISS IndexIVFPQ
    * shape): IVF cells prune WHICH vectors a query touches (top-2 probed
    * cells of [[v2]]), PQ codes compress HOW each touched vector is scored
    * ([[v8]]'s ADC lookup tables). One typed corpus pass computes cell +
    * codes and emits ADC scores only for queries probing that vector's
    * cell — at 100 TB the scan reads ~probe/K of the corpus as 32-bit
    * codes, no floats, no shuffle before the per-query top-k. (Production
    * additionally encodes residuals x - centroid per cell and Lloyd-refines
    * both levels — the v4 refinement applied twice; the pruning and
    * scoring dataflow is identical.) Cell assignment, probe choice, codes
    * and ADC folds are all deterministic and order-fixed, so the oracle
    * replays the full two-level index bit-for-bit.
    */
  val v9: GraftQuery = GraftQuery(
    "v9_ivfpq_topk",
    (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val toD = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
      // DuckDB list_cosine_similarity semantics: index-order accumulation,
      // dot / (sqrt(na) * sqrt(nb)) — matches plans.CosineSimilarityExpr
      def cosL(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      // tiny deterministic index sides (cells double as the PQ sample)
      val cents: Array[(Long, Array[Double])] = emb
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(K)
        .select(col("vec_id"), toD).as[(Long, Seq[Double])]
        .collect().map { case (id, e) => (id, e.toArray) }
      val cb: Array[Array[Double]] = cents.map(_._2)
      val qs: Array[(Long, Array[Double])] = emb.filter(col("vec_id") < 10)
        .select(col("vec_id"), toD).as[(Long, Seq[Double])]
        .collect().map { case (id, e) => (id, e.toArray) }.sortBy(_._1)
      val bc = s.sparkContext.broadcast((cents, cb, qs))

      val scored = emb.select(col("vec_id"), toD.as("e"))
        .as[(Long, Seq[Double])]
        .mapPartitions { it =>
          val (cnts, cbL, qL) = bc.value
          val pqM = cbL(0).length / PqS
          // nearest cell: cosine desc, ties to smallest centroid id (the
          // exact assign() / oracle rule)
          def cellOf(v: Array[Double]): Long = {
            var bestId = Long.MaxValue; var bestCos = Double.NegativeInfinity
            cnts.foreach { case (kid, ke) =>
              val c = cosL(v, ke)
              if (c > bestCos || (c == bestCos && kid < bestId)) { bestCos = c; bestId = kid }
            }
            bestId
          }
          // per-query: probed top-2 cells + ADC lookup tables
          val qinfo = qL.map { case (qid, qa) =>
            val ranked = cnts.map { case (kid, ke) => (kid, cosL(qa, ke)) }
              .sortBy { case (kid, c) => (-c, kid) }.take(2).map(_._1).toSet
            (qid, ranked, pqTable(qa, cbL, pqM))
          }
          it.flatMap { case (cid, ce) =>
            val ca = ce.toArray
            val cell = cellOf(ca)
            val codes = pqEncode(ca, cbL, pqM)
            qinfo.iterator
              .filter { case (qid, cells, _) => qid != cid && cells.contains(cell) }
              .map { case (qid, _, tab) => (qid, cid, pqAdc(tab, codes)) }
          }
        }.toDF("q_id", "neighbor_id", "adc")

      val w = Window.partitionBy("q_id").orderBy(col("adc").asc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select("q_id", "neighbor_id", "adc")
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
           |cb AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j, e
           |       FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
           |assign AS (SELECT vec_id, k_id AS cell FROM (
           |  SELECT v.vec_id, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN cents c) WHERE rk = 1),
           |m AS (SELECT unnest(generate_series(0, 7)) AS m),
           |codes AS (SELECT vec_id, m, j AS code FROM (
           |  SELECT v.vec_id, m.m, cb.j, row_number() OVER (PARTITION BY v.vec_id, m.m
           |    ORDER BY list_reduce(list_transform(generate_series(1, 8),
           |      i -> (v.e[m.m * 8 + i] - cb.e[m.m * 8 + i]) * (v.e[m.m * 8 + i] - cb.e[m.m * 8 + i])),
           |      (a, b) -> a + b) ASC, cb.j) AS rk
           |  FROM v CROSS JOIN m CROSS JOIN cb) WHERE rk = 1),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |probes AS (SELECT vec_id AS q_id, k_id AS cell FROM (
           |  SELECT q.vec_id, c.k_id, row_number() OVER (PARTITION BY q.vec_id
           |    ORDER BY list_cosine_similarity(q.e, c.ke) DESC, c.k_id) AS rk
           |  FROM q CROSS JOIN cents c) WHERE rk <= 2),
           |qd AS (SELECT q.vec_id AS q_id, m.m, cb.j,
           |  list_reduce(list_transform(generate_series(1, 8),
           |    i -> (q.e[m.m * 8 + i] - cb.e[m.m * 8 + i]) * (q.e[m.m * 8 + i] - cb.e[m.m * 8 + i])),
           |    (a, b) -> a + b) AS dd
           |  FROM q CROSS JOIN m CROSS JOIN cb),
           |cand AS (SELECT p.q_id, a.vec_id AS neighbor_id
           |  FROM probes p JOIN assign a ON a.cell = p.cell
           |  WHERE a.vec_id != p.q_id),
           |scored AS (SELECT cand.q_id, cand.neighbor_id,
           |  list_reduce(list(qd.dd ORDER BY qd.m), (a, b) -> a + b) AS adc
           |  FROM cand JOIN codes c ON c.vec_id = cand.neighbor_id
           |  JOIN qd ON qd.q_id = cand.q_id AND qd.m = c.m AND qd.j = c.code
           |  GROUP BY cand.q_id, cand.neighbor_id)
           |SELECT q_id, neighbor_id, adc FROM scored
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, neighbor_id) <= 3""".stripMargin))

  /** Recall@k of an ANN method against the exact baseline — the evaluation
    * loop every vector index ships with (faiss-style): per query,
    * |approx ∩ exact| / k. Both sides are the library's own operators;
    * the measurement joins two k-row-per-query sets on (q_id, neighbor_id)
    * and reduces per query — trivially scale-safe next to the searches it
    * measures. recall = hits/k is a small-integer IEEE division,
    * cross-engine exact.
    */
  def recallEval(corpus: DataFrame, queries: DataFrame, k: Int,
      probes: Int = 2, excludeSelf: Boolean = true): DataFrame = {
    val bf = bruteForceTopK(corpus, queries, k, excludeSelf)
      .select("q_id", "neighbor_id")
    val ivf = ivfTopK(corpus, queries, k, probes, excludeSelf)
      .select(col("q_id").as("iq"), col("neighbor_id").as("inb"))
    bf.join(ivf, bf("q_id") === col("iq") && bf("neighbor_id") === col("inb"),
        "left")
      .groupBy("q_id").agg(
        count(lit(1)).as("k"),
        sum(when(col("iq").isNotNull, 1L).otherwise(0L)).as("hits"))
      .withColumn("recall", col("hits").cast("double") / col("k"))
      .select("q_id", "k", "hits", "recall")
  }

  /** V10 (beyond reference): ANN recall evaluation — IVF (v2's index) vs
    * the brute-force baseline (v1), recall@3 per query. The oracle replays
    * both searches and the intersection.
    */
  val v10: GraftQuery = GraftQuery(
    "v10_ann_recall_eval",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      recallEval(emb, emb.filter(col("vec_id") < 10), k = 3, probes = 2)
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
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
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3)
           |SELECT bf.q_id, count(*) AS k,
           |  CAST(sum(CASE WHEN ivf.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           |  CAST(sum(CASE WHEN ivf.q_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
           |FROM bf LEFT JOIN ivf ON bf.q_id = ivf.q_id AND bf.neighbor_id = ivf.neighbor_id
           |GROUP BY bf.q_id""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): position-aware
    * retrieval-quality metrics — nDCG@k and MRR of the IVF probe search
    * against the exact brute-force ranking, completing the eval suite
    * next to [[recallEval]]'s set-overlap recall (recall is position-
    * blind; nDCG pays more for putting the truly-nearest neighbors FIRST,
    * MRR is the "how far down is the first good hit" serving metric).
    * The per-position DCG weights floor(1e9/log2(r+1)+0.5) are computed
    * ONCE driver-side as k integer literals and applied by rank (the
    * oracle mirrors the same literal table), so no libm call ever runs
    * distributed — the x41 determinism discipline for any k.
    *
    * Relevance is GRADED from the exact ranking (exact rank 1 gets gain
    * k, rank k gets 1 — the standard linear-gain form), so a method that
    * returns the right set in the wrong order scores below one that
    * orders it correctly. Determinism (the SCALE.md rule): ranks are
    * integers; each DCG position weight is a driver-side INTEGER literal
    * (see above), summed order-free (the x41 discipline), and
    * dcg_num/idcg_num are emitted next to the one-division doubles.
    *
    * Scale: both arms are the library's own searches; the measurement
    * joins two k-row-per-query rank lists and reduces per query —
    * constant work per query whatever the corpus size.
    */
  def rankingEval(corpus: DataFrame, queries: DataFrame, k: Int,
      probes: Int = 2, excludeSelf: Boolean = true): DataFrame = {
    val rw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("neighbor_id"))
    val bf = bruteForceTopK(corpus, queries, k, excludeSelf)
      .withColumn("erank", row_number().over(rw).cast("long"))
      .select("q_id", "neighbor_id", "erank")
    val iv = ivfTopK(corpus, queries, k, probes, excludeSelf)
      .withColumn("arank", row_number().over(rw).cast("long"))
      .select("q_id", "neighbor_id", "arank")
    // per-position integer weights computed ONCE driver-side (k literals)
    // and applied as a CASE chain — no distributed libm log2 call, so a
    // 1-ulp libm disagreement between engines can never flip the
    // quantized integer for ANY k through the public API (the oracle
    // mirrors the same literal table)
    val weightOf: Map[Int, Long] = (1 to k).map(r =>
      r -> math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong).toMap
    val posWeight = (1 to k).foldLeft(lit(0L)) { (acc, r) =>
      when(col("arank") === r, lit(weightOf(r))).otherwise(acc) }
    val per = iv.join(bf, Seq("q_id", "neighbor_id"), "left")
      .withColumn("gain",
        when(col("erank").isNotNull, (lit(k.toLong) - col("erank") + 1) * posWeight)
          .otherwise(lit(0L)))
      .groupBy("q_id").agg(
        sum("gain").as("dcg_num"),
        min(when(col("erank").isNotNull, col("arank"))).as("first_hit_rank"))
    // the ideal ranking's integer mass — same per-position quantization,
    // driver-side over the k-row literal domain
    val idcg = (1 to k).map(i => (k - i + 1).toLong * weightOf(i)).sum
    bf.select("q_id").distinct()
      .join(per, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("first_hit_rank"), lit(0L)).as("first_hit_rank"),
        coalesce(col("dcg_num"), lit(0L)).as("dcg_num"),
        lit(idcg).as("idcg_num"),
        (coalesce(col("dcg_num"), lit(0L)).cast("double") / lit(idcg.toDouble))
          .as("ndcg"),
        coalesce(lit(1.0) / col("first_hit_rank").cast("double"), lit(0.0))
          .as("mrr"))
  }

  /** V33 (beyond reference): nDCG@3 + MRR of the IVF search vs the exact
    * baseline — see [[rankingEval]]. The oracle replays both searches,
    * the graded-gain join, and the quantized position weights.
    */
  val v33: GraftQuery = GraftQuery(
    "v33_ndcg_mrr_eval",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      rankingEval(emb, emb.filter(col("vec_id") < 10), k = 3, probes = 2)
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |bf AS (SELECT q_id, neighbor_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS erank FROM (
           |  SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
           |         list_cosine_similarity(q.e, v.e) AS cos
           |  FROM q JOIN v ON v.vec_id != q.vec_id)
           |  QUALIFY erank <= 3),
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
           |ivf AS (SELECT q_id, neighbor_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS arank FROM (
           |  SELECT p.q_id, a.vec_id AS neighbor_id, list_cosine_similarity(p.qe, a.e) AS cos
           |  FROM probes p JOIN assign a USING (cluster) WHERE a.vec_id != p.q_id)
           |  QUALIFY arank <= 3),
           |j AS (SELECT ivf.q_id, ivf.arank, bf.erank
           |      FROM ivf LEFT JOIN bf USING (q_id, neighbor_id)),
           |per AS (SELECT q_id,
           |  CAST(sum(CASE WHEN erank IS NOT NULL
           |    THEN (3 - erank + 1) * CAST(CASE arank WHEN 1 THEN 1000000000
           |      WHEN 2 THEN 630929754 WHEN 3 THEN 500000000 ELSE 0 END AS BIGINT)
           |    ELSE 0 END) AS BIGINT) AS dcg_num,
           |  min(CASE WHEN erank IS NOT NULL THEN arank END) AS first_hit_rank
           |  FROM j GROUP BY q_id),
           |iw AS (SELECT CAST(4761859508 AS BIGINT) AS idcg),
           |qs AS (SELECT DISTINCT q_id FROM bf)
           |SELECT qs.q_id,
           |  CAST(coalesce(first_hit_rank, 0) AS BIGINT) AS first_hit_rank,
           |  CAST(coalesce(dcg_num, 0) AS BIGINT) AS dcg_num,
           |  iw.idcg AS idcg_num,
           |  CAST(coalesce(dcg_num, 0) AS DOUBLE) / CAST(iw.idcg AS DOUBLE) AS ndcg,
           |  coalesce(1.0 / CAST(first_hit_rank AS DOUBLE), 0.0) AS mrr
           |FROM qs LEFT JOIN per USING (q_id) CROSS JOIN iw""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): per-vector simplified
    * silhouette over the IVF assignment — the clustering-quality half of
    * the index-eval loop (v10 measures RECALL of the probe search; this
    * measures how SEPARABLE the cells are, the number that tells you
    * whether K is right before you pay for a full re-index). For each
    * vector: a = cosine distance to its own (nearest) centroid, b = to
    * the runner-up centroid, sil = (b−a)/max(a,b) ∈ [0,1] here (a ≤ b by
    * construction); sil near 0 means the vector sits on a cell boundary.
    * This is the centroid-based simplification (Hartigan-style) of
    * Rousseeuw 1987's silhouette — the full form needs all pairwise
    * distances, the banned all-pairs shape; the centroid form is O(n·K).
    *
    * Plan shape = the v2 assignment: one K-row broadcast join, a
    * bounded-16-row window per vector, zero unbounded state — emitting
    * PER-VECTOR rows keeps the op aggregation-free, so it scales as a
    * pure map and the caller picks the rollup (a mean is map-side
    * combinable; exact cross-engine means need the usual ordered-fold
    * harness, which is why none is baked in).
    */
  def silhouette(corpus: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val cents = centroidsOf(corpus)
    val w = Window.partitionBy("c_id").orderBy(col("kcos").desc, col("k_id"))
    withNorm(corpus, "c").join(broadcast(cents), col("c_id").isNotNull)
      .withColumn("kcos", cosine("c_e", "k_e"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
      .groupBy("c_id")
      // clamp at 0: a centroid's distance to ITSELF is 1 − cos(v,v), and
      // the two engines round the self-cosine to opposite sides of 1.0
      // (graft_cosine 1+4e-16, list_cosine_similarity exactly 1) — the
      // only last-ulp disagreement in the family, surfaced here because
      // the distance VALUE is emitted, not just used for ranking
      .agg(
        max(when(col("rk") === 1, col("k_id"))).as("cluster"),
        max(when(col("rk") === 1,
          greatest(lit(1.0) - col("kcos"), lit(0.0)))).as("a_dist"),
        max(when(col("rk") === 2,
          greatest(lit(1.0) - col("kcos"), lit(0.0)))).as("b_dist"))
      .withColumn("sil", when(col("b_dist") === 0.0, lit(0.0))
        .otherwise((col("b_dist") - col("a_dist")) /
          greatest(col("a_dist"), col("b_dist"))))
      .select(col("c_id").as("vec_id"), col("cluster"),
        col("a_dist"), col("b_dist"), col("sil"))
  }

  /** V11 (beyond reference): [[silhouette]] on the embeddings corpus —
    * oracle replays centroid selection, both distances, and the ratio.
    */
  val v11: GraftQuery = GraftQuery(
    "v11_cluster_silhouette",
    (s, d) => silhouette(Tables.embeddings(s, d)),
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |rk AS (SELECT v.vec_id, c.k_id,
           |  greatest(1.0 - list_cosine_similarity(v.e, c.ke), 0.0) AS dist,
           |  row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN cents c),
           |p AS (SELECT vec_id,
           |  max(CASE WHEN rk = 1 THEN k_id END) AS cluster,
           |  max(CASE WHEN rk = 1 THEN dist END) AS a_dist,
           |  max(CASE WHEN rk = 2 THEN dist END) AS b_dist
           |  FROM rk WHERE rk <= 2 GROUP BY 1)
           |SELECT vec_id, cluster, a_dist, b_dist,
           |  CASE WHEN b_dist = 0.0 THEN 0.0
           |       ELSE (b_dist - a_dist) / greatest(a_dist, b_dist) END AS sil
           |FROM p""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): SemDeDup-style
    * cluster-scoped semantic pruning (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): vectors are k-means/IVF-assigned, and WITHIN each
    * cluster any vector with a lower-id neighbor at cosine >= tau is
    * pruned (the paper keeps one exemplar per semantic-dup group; lowest
    * id is the deterministic stand-in for its random choice). Unlike v3's
    * global LSH near-dup, the candidate set here is the CELL — the
    * paper's trick for making semantic (not just near-identical) dedup
    * tractable: the within-cluster comparison is O(Σ cell²), kept bounded
    * by growing K with the corpus (K ∝ √n keeps expected cell size √n;
    * the paper additionally caps cell size). The join is cluster-keyed
    * and AQE-splittable — never a global all-pairs.
    * Output: (vec_id, cluster, pruned).
    */
  def semDedupPrune(corpus: DataFrame, tau: Double = 0.95): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val assigned = assign(withNorm(corpus, "c"), centroidsOf(corpus))
    val a = assigned.select(col("cluster"), col("c_id").as("a_id"), col("c_e").as("a_e"))
    val b = assigned.select(col("cluster"), col("c_id").as("b_id"), col("c_e").as("b_e"))
    val pruned = a.join(b, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .filter(cosine("a_e", "b_e") >= tau)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("pruned", lit(true))
    assigned.select(col("c_id").as("vec_id"), col("cluster"))
      .join(pruned, Seq("vec_id"), "left")
      .withColumn("pruned", coalesce(col("pruned"), lit(false)))
  }

  /** V12 (beyond reference): [[semDedupPrune]] on the embeddings corpus —
    * oracle replays assignment and the within-cluster dominance test.
    */
  val v12: GraftQuery = GraftQuery(
    "v12_semdedup_prune",
    (s, d) => semDedupPrune(Tables.embeddings(s, d), 0.95),
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN cents c) WHERE rk = 1),
           |pr AS (SELECT DISTINCT b.vec_id FROM assign a JOIN assign b USING (cluster)
           |  WHERE a.vec_id < b.vec_id AND list_cosine_similarity(a.e, b.e) >= 0.95)
           |SELECT s.vec_id, s.cluster, (pr.vec_id IS NOT NULL) AS pruned
           |FROM assign s LEFT JOIN pr ON s.vec_id = pr.vec_id""".stripMargin))

  /** Inner-product score column via the codegen'd
    * [[graft.plans.DotProductExpr]] (ascending-index accumulation — the
    * oracle replays the same fold).
    */
  private def dot(aE: String, bE: String): Column =
    call_function("graft_dot", col(aE), col(bE))

  /** Public DataFrame-in API (see graft.api.Graft): exact maximum-inner-
    * product top-k — ranking by RAW dot product, the scoring rule of
    * recommendation and retrieval models whose embeddings are NOT
    * normalized (where MIPS ranking genuinely differs from cosine: a
    * long vector can out-score a better-aligned short one). Same
    * broadcast-queries/scan-corpus-once shape as [[bruteForceTopK]].
    */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val c = withNorm(corpus, "c")
    val q = withNorm(queries, "q")
    val scored = c.join(broadcast(q),
      if (excludeSelf) col("c_id") =!= col("q_id") else lit(true))
      .withColumn("dot", dot("q_e", "c_e"))
    val w = Window.partitionBy("q_id").orderBy(col("dot").desc, col("c_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("c_id").as("neighbor_id"), col("dot"))
  }

  /** Approximate MIPS via the norm-augmentation reduction to cosine ANN
    * (Bachrach et al., "Speeding up the Xbox recommender system using a
    * Euclidean transformation for inner-product spaces", RecSys'14;
    * Neyshabur & Srebro 2015 — public literature): every corpus vector
    * gains one extra coordinate sqrt(M² − ‖x‖²) (M = max corpus norm) and
    * queries gain a 0, making every augmented corpus norm exactly M — so
    * cosine ranking on the augmented space IS inner-product ranking on
    * the original, and the whole IVF index (centroids, assignment,
    * probing) is reused verbatim on the augmented vectors. The
    * augmentation itself is one broadcast of a 1-row max and a per-row
    * map — no extra shuffle over the corpus.
    */
  def mipsIvfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      probes: Int = 2, excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val dbl = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    val n2 = corpus.select(col("vec_id"), dbl.as("e"))
      .withColumn("nn", call_function("graft_dot", col("e"), col("e")))
    val mx = n2.agg(max(col("nn")).as("mx2"))
    val caug = n2.crossJoin(broadcast(mx))
      .select(col("vec_id"),
        concat(col("e"), array(sqrt(col("mx2") - col("nn")))).as("embedding"))
    val qaug = queries.select(col("vec_id"), dbl.as("e"))
      .select(col("vec_id"),
        concat(col("e"), array(lit(0.0))).as("embedding"))
    ivfTopK(caug, qaug, k, probes, excludeSelf)
      .withColumnRenamed("cos", "aug_cos")
  }

  /** V13 (beyond reference): exact MIPS top-3 — the brute-force baseline
    * of inner-product retrieval. The oracle replays the ascending-index
    * dot-product fold per pair.
    */
  val v13: GraftQuery = GraftQuery(
    "v13_mips_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      mipsTopK(emb, emb.filter(col("vec_id") < 10), k = 3)
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |sc AS (SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
           |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |    list_transform(generate_series(1, len(q.e)), i -> q.e[i] * v.e[i])),
           |    (a, b) -> a + b) AS dot
           |  FROM q JOIN v ON v.vec_id != q.vec_id)
           |SELECT q_id, neighbor_id, dot FROM sc
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, neighbor_id) <= 3""".stripMargin))

  /** V14 (beyond reference): recall@3 of norm-augmented IVF-MIPS
    * ([[mipsIvfTopK]]) against the exact baseline ([[mipsTopK]]) — the
    * faiss-style evaluation loop for the inner-product metric. The oracle
    * replays BOTH searches: the exact dot fold, and the full augmented
    * index (norms, max, augmented lists, md5 centroids, assignment,
    * probing) in SQL.
    */
  val v14: GraftQuery = GraftQuery(
    "v14_mips_ivf_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val bf = mipsTopK(emb, queries, k = 3).select("q_id", "neighbor_id")
      val ivf = mipsIvfTopK(emb, queries, k = 3, probes = 2)
        .select(col("q_id").as("iq"), col("neighbor_id").as("inb"))
      bf.join(ivf, bf("q_id") === col("iq") && bf("neighbor_id") === col("inb"),
          "left")
        .groupBy("q_id").agg(
          count(lit(1)).as("k"),
          sum(when(col("iq").isNotNull, 1L).otherwise(0L)).as("hits"))
        .withColumn("recall", col("hits").cast("double") / col("k"))
        .select("q_id", "k", "hits", "recall")
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |bf AS (SELECT q_id, neighbor_id FROM (
           |  SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |      list_transform(generate_series(1, len(q.e)), i -> q.e[i] * v.e[i])),
           |      (a, b) -> a + b) AS dot
           |  FROM q JOIN v ON v.vec_id != q.vec_id)
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, neighbor_id) <= 3),
           |n2 AS (SELECT vec_id, e,
           |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |    list_transform(generate_series(1, len(e)), i -> e[i] * e[i])),
           |    (a, b) -> a + b) AS nn FROM v),
           |mx AS (SELECT max(nn) AS mx2 FROM n2),
           |aug AS (SELECT vec_id, list_append(e, sqrt(mx2 - nn)) AS e
           |        FROM n2 CROSS JOIN mx),
           |qa AS (SELECT vec_id, list_append(e, CAST(0 AS DOUBLE)) AS e
           |       FROM v WHERE vec_id < 10),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM aug
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT aug.vec_id, aug.e, c.k_id, row_number() OVER (PARTITION BY aug.vec_id
           |    ORDER BY list_cosine_similarity(aug.e, c.ke) DESC, c.k_id) AS rk
           |  FROM aug CROSS JOIN cents c) WHERE rk = 1),
           |probes AS (SELECT vec_id AS q_id, e AS qe, k_id AS cluster FROM (
           |  SELECT qa.vec_id, qa.e, c.k_id, row_number() OVER (PARTITION BY qa.vec_id
           |    ORDER BY list_cosine_similarity(qa.e, c.ke) DESC, c.k_id) AS rk
           |  FROM qa CROSS JOIN cents c) WHERE rk <= 2),
           |ivf AS (SELECT q_id, neighbor_id FROM (
           |  SELECT p.q_id, a.vec_id AS neighbor_id,
           |         list_cosine_similarity(p.qe, a.e) AS cos
           |  FROM probes p JOIN assign a USING (cluster) WHERE a.vec_id != p.q_id)
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3)
           |SELECT bf.q_id, count(*) AS k,
           |  CAST(sum(CASE WHEN ivf.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           |  CAST(sum(CASE WHEN ivf.q_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
           |FROM bf LEFT JOIN ivf ON bf.q_id = ivf.q_id AND bf.neighbor_id = ivf.neighbor_id
           |GROUP BY bf.q_id""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): two-stage retrieval —
    * cheap candidate generation on a PREFIX of the embedding (the
    * Matryoshka-representation pattern: score on the first `prefixDims`
    * coordinates, which at real scale live in their own slim column/table
    * so stage 1 never reads the full vectors), then exact full-dimension
    * rerank of the `candidates` survivors per query. This is the
    * retrieve-then-rerank dataflow of every production retrieval stack
    * (candidate generator + cross-encoder); the reranker here is the exact
    * cosine so the whole pipeline stays deterministic and oracle-checkable.
    *
    * Scale shape: stage 1 is the [[bruteForceTopK]] scan but over
    * prefixDims/dim of the bytes (8/64 here — an 8x IO and FLOP cut with
    * column pruning to a dedicated prefix column); stage 2 touches only
    * |Q| x candidates rows — the candidate-id list is broadcast back
    * against the corpus, so the expensive full-width scoring never
    * shuffles the corpus and reads full vectors for candidates only.
    */
  def rerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      prefixDims: Int = 8, candidates: Int = 32,
      excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val c = withNorm(corpus, "c")
    val q = withNorm(queries, "q")
    // stage 1: slim projections only — (id, prefix) rows
    val cSlim = c.select(col("c_id"), expr(s"slice(c_e, 1, $prefixDims)").as("c_p"))
    val qSlim = q.select(col("q_id"), expr(s"slice(q_e, 1, $prefixDims)").as("q_p"))
    val cw = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("c_id"))
    val cand = cSlim.join(broadcast(qSlim),
        if (excludeSelf) col("c_id") =!= col("q_id") else lit(true))
      .withColumn("pcos", cosine("q_p", "c_p"))
      .withColumn("crk", row_number().over(cw)).filter(col("crk") <= candidates)
      .select("q_id", "c_id")
    // stage 2: full-width exact rerank of the candidate set only
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    broadcast(cand)
      .join(c, "c_id")
      .join(broadcast(q), "q_id")
      .withColumn("cos", cosine("q_e", "c_e"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("c_id").as("neighbor_id"), col("cos"))
  }

  /** V15 (beyond reference): two-stage prefix-then-rerank retrieval — see
    * [[rerankTopK]]. The oracle replays both stages: prefix-slice cosine
    * top-32 candidates, exact cosine top-3 rerank, identical tie-breaks.
    */
  val v15: GraftQuery = GraftQuery(
    "v15_rerank_two_stage",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      rerankTopK(emb, emb.filter(col("vec_id") < 10), k = 3,
        prefixDims = 8, candidates = 32)
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |cand AS (SELECT q_id, c_id FROM (
           |  SELECT q.vec_id AS q_id, v.vec_id AS c_id,
           |    list_cosine_similarity(q.e[1:8], v.e[1:8]) AS pcos
           |  FROM q JOIN v ON v.vec_id != q.vec_id)
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY pcos DESC, c_id) <= 32)
           |SELECT q_id, c_id AS neighbor_id, cos FROM (
           |  SELECT cand.q_id, cand.c_id,
           |    list_cosine_similarity(q.e, v.e) AS cos
           |  FROM cand JOIN v ON v.vec_id = cand.c_id
           |            JOIN q ON q.vec_id = cand.q_id)
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) <= 3""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): cosine RANGE search —
    * every corpus neighbor with cos >= `tau` per query (not a fixed k; the
    * faiss `range_search` surface, what dedup-at-threshold and
    * radius-retrieval use). Same IVF pruning as [[ivfTopK]]: queries touch
    * only their `probes` nearest cells, so result recall follows the cell
    * probe coverage (for exhaustive range semantics set probes = K). No
    * per-query window at all — the threshold filter replaces ranking, so
    * the operator is a pure scan-side filter after the posting-list join,
    * cheaper than top-k at scale (no sort state).
    */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, tau: Double,
      probes: Int = 2, excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val cents = centroidsOf(corpus)
    val assigned = assign(withNorm(corpus, "c"), cents)
    val q = withNorm(queries, "q")
    val qw = Window.partitionBy("q_id").orderBy(col("kcos").desc, col("k_id"))
    val probed = q.join(broadcast(cents), col("q_id").isNotNull)
      .withColumn("kcos", cosine("q_e", "k_e"))
      .withColumn("rk", row_number().over(qw)).filter(col("rk") <= probes)
      .select(col("q_id"), col("q_e"), col("k_id").as("cluster"))
    assigned.join(broadcast(probed), Seq("cluster"))
      .filter(if (excludeSelf) col("c_id") =!= col("q_id") else lit(true))
      .withColumn("cos", cosine("q_e", "c_e"))
      .filter(col("cos") >= tau)
      .select(col("q_id"), col("c_id").as("neighbor_id"), col("cos"))
  }

  /** V16 (beyond reference): IVF-pruned cosine range search at tau = 0.15
    * — see [[rangeSearch]]. The oracle replays centroid selection,
    * assignment, probing, and the threshold filter (the v2 oracle without
    * the top-k QUALIFY).
    */
  val v16: GraftQuery = GraftQuery(
    "v16_range_search",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      rangeSearch(emb, emb.filter(col("vec_id") < 10), tau = 0.15, probes = 2)
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
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
           |WHERE cos >= 0.15""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): cluster-scoped k-NN
    * graph over the WHOLE corpus — every vector linked to its k nearest
    * neighbors within its IVF cell (the bottom layer of HNSW/NSG-style
    * graph indexes, and the edge input GraphOps consumes for component /
    * PageRank / k-core analytics over semantic neighborhoods). Never
    * all-pairs: the self-join is equi-keyed on cluster id, so compare
    * volume is sum over cells of |cell|^2 — with K ~ sqrt(n) cells this is
    * O(n^1.5) worst-case and ~O(n) under balanced assignment, the standard
    * large-scale kNN-graph construction trade (recall bounded by cell
    * membership; raise recall by probing neighbor cells as in [[ivfTopK]]).
    */
  /** Target within-cell occupancy for the auto-scaled kNN-graph cell
    * count. The within-cell self-join costs O(n·cell_size): at a FIXED
    * cell count K the cell size — and the join — grows quadratically
    * with the corpus (measured: v23's 27x exponent 1.05, SCALE.md), so
    * the graph build must scale CELLS with the corpus, not hold them
    * constant. cells = ceil(n / 256) keeps each cell's pair block
    * bounded at ~256² comparisons regardless of corpus size.
    */
  private val KnnTargetCell = 256

  private def centroidsN(corpus: DataFrame, cells: Int): DataFrame =
    withNorm(corpus.orderBy(md5(col("vec_id").cast("string"))).limit(cells), "k")

  def knnGraph(corpus: DataFrame, k: Int, cells: Int = 0): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    // cells = 0 -> auto: bounded cell occupancy (one count() job; pass an
    // explicit cell count to skip it when the corpus size is known)
    val nCells =
      if (cells > 0) cells
      else math.max(K, math.ceil(corpus.count().toDouble / KnnTargetCell).toInt)
    val a = assign(withNorm(corpus, "c"), centroidsN(corpus, nCells))
    val l = a.select(col("c_id").as("src_id"), col("c_e").as("src_e"), col("cluster"))
    val r = a.select(col("c_id").as("n_id"), col("c_e").as("n_e"), col("cluster"))
    val w = Window.partitionBy("src_id").orderBy(col("cos").desc, col("neighbor_id"))
    l.join(r, Seq("cluster")).filter(col("src_id") =!= col("n_id"))
      .withColumn("cos", cosine("src_e", "n_e"))
      .select(col("src_id"), col("n_id").as("neighbor_id"), col("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .drop("rk")
  }

  /** V17 (beyond reference): k-NN graph (k = 3) — see [[knnGraph]]. The
    * oracle replays the deterministic centroid selection + assignment of
    * v2, then the within-cell self-join and per-source top-k.
    */
  val v17: GraftQuery = GraftQuery(
    "v17_knn_graph",
    (s, d) => knnGraph(Tables.embeddings(s, d), k = 3),
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN cents c) WHERE rk = 1)
           |SELECT src_id, neighbor_id, cos FROM (
           |  SELECT a.vec_id AS src_id, b.vec_id AS neighbor_id,
           |         list_cosine_similarity(a.e, b.e) AS cos
           |  FROM assign a JOIN assign b USING (cluster) WHERE b.vec_id != a.vec_id)
           |QUALIFY row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin))

  /** V18 (beyond reference): incremental IVF index maintenance — the
    * update path a streaming embedding pipeline needs: centroids trained on
    * the base corpus stay FROZEN while a new batch (here vec_id % 10 == 0,
    * standing in for "today's embeddings") is assigned to those cells
    * without any re-clustering scan of the base. Output is the per-cell
    * occupancy report (base_n, new_n) plus a needs_split flag — cell total
    * exceeding 2x the mean — which is the signal a real index uses to
    * trigger LOCAL re-clustering of just the overgrown posting lists
    * (FAISS's add-then-rebalance regime). At 100 TB: assignment of the
    * delta is O(batch*K) against a K-row broadcast, the base occupancy is
    * a counted groupBy of the existing assignment, and the imbalance test
    * is integer-only ((base+new)*cells > 2*grand) so both engines agree
    * exactly with no ratio arithmetic.
    */
  /** Public DataFrame-in API (see graft.api.Graft): incremental IVF
    * occupancy — centroids frozen on `base`, `batch` assigned to them;
    * returns one row per cell (cluster, base_n, new_n, needs_split). Both
    * inputs need (vec_id: long, embedding: array<float>).
    */
  def ivfIncremental(base: DataFrame, batch: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.register(base.sparkSession)
    val cents = centroidsOf(base)
    val baseN = assign(withNorm(base, "c"), cents)
      .groupBy("cluster").agg(count(lit(1)).as("base_n"))
    val newN = assign(withNorm(batch, "c"), cents)
      .groupBy("cluster").agg(count(lit(1)).as("new_n"))
    val occ = cents.select(col("k_id").as("cluster"))
      .join(baseN, Seq("cluster"), "left")
      .join(newN, Seq("cluster"), "left")
      .na.fill(0L, Seq("base_n", "new_n"))
    occ
      .withColumn("cells", count(lit(1)).over(Window.partitionBy()))
      .withColumn("grand", sum(col("base_n") + col("new_n")).over(Window.partitionBy()))
      .select(col("cluster"), col("base_n"), col("new_n"),
        ((col("base_n") + col("new_n")) * col("cells") > col("grand") * 2).as("needs_split"))
  }

  val v18: GraftQuery = GraftQuery(
    "v18_ivf_incremental",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      ivfIncremental(
        emb.filter(col("vec_id") % 10 =!= 0),
        emb.filter(col("vec_id") % 10 === 0))
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |base AS (SELECT * FROM v WHERE vec_id % 10 != 0),
           |batch AS (SELECT * FROM v WHERE vec_id % 10 = 0),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM base
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |ab AS (SELECT vec_id, k_id AS cluster FROM (
           |  SELECT b.vec_id, c.k_id, row_number() OVER (PARTITION BY b.vec_id
           |    ORDER BY list_cosine_similarity(b.e, c.ke) DESC, c.k_id) AS rk
           |  FROM base b CROSS JOIN cents c) WHERE rk = 1),
           |an AS (SELECT vec_id, k_id AS cluster FROM (
           |  SELECT b.vec_id, c.k_id, row_number() OVER (PARTITION BY b.vec_id
           |    ORDER BY list_cosine_similarity(b.e, c.ke) DESC, c.k_id) AS rk
           |  FROM batch b CROSS JOIN cents c) WHERE rk = 1),
           |ga AS (SELECT cluster, count(*) AS base_n FROM ab GROUP BY 1),
           |gb AS (SELECT cluster, count(*) AS new_n FROM an GROUP BY 1),
           |occ AS (SELECT c.k_id AS cluster, coalesce(ga.base_n, 0) AS base_n,
           |               coalesce(gb.new_n, 0) AS new_n
           |        FROM cents c LEFT JOIN ga ON ga.cluster = c.k_id
           |                     LEFT JOIN gb ON gb.cluster = c.k_id),
           |t AS (SELECT *, count(*) OVER () AS cells,
           |             sum(base_n + new_n) OVER () AS grand FROM occ)
           |SELECT cluster, base_n, new_n,
           |  (base_n + new_n) * cells > grand * 2 AS needs_split FROM t""".stripMargin))

  /** V19 (beyond reference): hard-negative mining — the contrastive-
    * training data step: for each query, the top-3 most-similar corpus
    * vectors with a DIFFERENT label (highest-cosine wrong-label items are
    * exactly the "hard negatives" a two-tower/embedding model trains
    * against; random negatives are too easy to carry gradient). The v7
    * filtered-ANN shape with the predicate negated: corpus scanned once
    * against a broadcast query set, label-mismatch applied in the join
    * condition so pruning happens before the cosine, per-query rank with
    * deterministic ties. At 100 TB the same IVF pre-bucketing as v2 drops
    * in front unchanged (assignment ignores labels), so the scan cost
    * follows the probed-cells contract rather than the corpus.
    */
  /** Public DataFrame-in API (see graft.api.Graft): hard-negative mining —
    * per query, the k highest-cosine corpus items with a different label.
    * Inputs need (vec_id: long, label: int, embedding: array<float>);
    * returns (q_id, label, negative_id, negative_label, cos).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int = 3): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    def side(p: String, df: DataFrame) =
      df.select(col("vec_id").as(s"${p}_id"), col("label").as(s"${p}_label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as(s"${p}_e"))
    val c = side("c", corpus)
    val q = side("q", queries)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    c.join(broadcast(q), col("c_label") =!= col("q_label"))
      .withColumn("cos", cosine("q_e", "c_e"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("q_label").as("label"),
        col("c_id").as("negative_id"), col("c_label").as("negative_label"), col("cos"))
  }

  val v19: GraftQuery = GraftQuery(
    "v19_hard_negatives",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      hardNegatives(emb, emb.filter(col("vec_id") < 10))
    },
    Some("""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |pairs AS (SELECT q.vec_id AS q_id, q.label AS label, v.vec_id AS negative_id,
           |          v.label AS negative_label, list_cosine_similarity(q.e, v.e) AS cos
           |          FROM q JOIN v ON v.label != q.label)
           |SELECT q_id, label, negative_id, negative_label, cos FROM pairs
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, negative_id) <= 3""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): per-dimension means and
    * upper-triangle covariance of the embedding column — the moment matrix
    * feeding whitening / PCA / ZCA preprocessing. Returns one row per
    * (i, j), i <= j, with (i, j, mean_i, cov).
    *
    * Cross-engine exactness: each value and pairwise product is quantized
    * to nano-units ONCE (floor(x*1e9+0.5), pure IEEE ops on identical
    * doubles) and accumulated as integer sums, so the aggregation is
    * order-free and bit-identical on both engines; the mean/covariance
    * come from the integer sums by an identical chain of IEEE divisions.
    *
    * Scale: the explode emits d(d+1)/2 rows per vector — inherent to the
    * O(n d^2) covariance computation — but hash-aggregate partial
    * combining folds them map-side, so the one shuffle carries only
    * d(d+1)/2 rows PER PARTITION (d=64: 2 080 rows), independent of n.
    * The nano-quantized per-partition partial sums stay far from Long
    * overflow until ~1e8 rows per partition x O(10) magnitudes; beyond
    * that, lift the partials to DECIMAL(38,0).
    */
  def embeddingMoments(df: DataFrame): DataFrame = {
    val e = df.select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val pairs = e
      .select(col("e"), explode(sequence(lit(1), size(col("e")))).as("i"))
      .select(col("e"), col("i"),
        explode(sequence(col("i"), size(col("e")))).as("j"))
      .select(col("i"), col("j"),
        floor(element_at(col("e"), col("i")) * 1e9 + 0.5).cast("long").as("qi"),
        floor(element_at(col("e"), col("j")) * 1e9 + 0.5).cast("long").as("qj"),
        floor(element_at(col("e"), col("i")) * element_at(col("e"), col("j")) * 1e9 + 0.5)
          .cast("long").as("qp"))
    pairs.groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum("qi").as("si"), sum("qj").as("sj"),
        sum("qp").as("sp"))
      .select(col("i"), col("j"),
        (col("si").cast("double") / col("n") / 1e9).as("mean_i"),
        (col("sp").cast("double") / col("n") / 1e9 -
          (col("si").cast("double") / col("n") / 1e9) *
            (col("sj").cast("double") / col("n") / 1e9)).as("cov"))
  }

  /** V20 (beyond reference): whitening statistics over the embeddings
    * table — the preprocessing matrix every production retrieval stack
    * computes before PCA/OPQ rotation (means + covariance; the eigen
    * solve on the resulting d x d matrix is a driver-side O(d^3) step on
    * 2 080 rows, not a data-scale job).
    */
  val v20: GraftQuery = GraftQuery(
    "v20_embedding_moments",
    (s, d) => embeddingMoments(Tables.embeddings(s, d)),
    Some("""WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings),
           |a AS (SELECT e, unnest(range(1, len(e) + 1)) AS i FROM v),
           |p AS (SELECT e, i, unnest(range(i, len(e) + 1)) AS j FROM a),
           |q AS (SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           |        CAST(floor(e[CAST(i AS INT)] * 1e9 + 0.5) AS BIGINT) AS qi,
           |        CAST(floor(e[CAST(j AS INT)] * 1e9 + 0.5) AS BIGINT) AS qj,
           |        CAST(floor(e[CAST(i AS INT)] * e[CAST(j AS INT)] * 1e9 + 0.5) AS BIGINT) AS qp
           |      FROM p)
           |SELECT i, j,
           |  CAST(sum(qi) AS DOUBLE) / count(*) / 1e9 AS mean_i,
           |  CAST(sum(qp) AS DOUBLE) / count(*) / 1e9
           |    - (CAST(sum(qi) AS DOUBLE) / count(*) / 1e9)
           |      * (CAST(sum(qj) AS DOUBLE) / count(*) / 1e9) AS cov
           |FROM q GROUP BY 1, 2""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): Matryoshka (MRL)
    * dimension-truncation recall curve — for each prefix length in `dims`,
    * the recall@k of exact top-k retrieval on the TRUNCATED embedding
    * against the full-dimension ground truth (Kusupati et al. 2022's
    * deployment question: how few leading dimensions does this corpus
    * need?). Returns (dim, recall). Each arm is a v1-shape scan (query
    * side broadcast, corpus scanned once, per-query top-k rank); recall is
    * an integer overlap count over an integer denominator.
    */
  def mrlRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      dims: Seq[Int]): DataFrame = {
    val nq = queries.count()
    val full = bruteForceTopK(corpus, queries, k).select("q_id", "neighbor_id")
    dims.map { dim =>
      val tc = corpus.select(col("vec_id"), slice(col("embedding"), 1, dim).as("embedding"))
      val tq = queries.select(col("vec_id"), slice(col("embedding"), 1, dim).as("embedding"))
      bruteForceTopK(tc, tq, k).as("a")
        .join(full.as("b"),
          col("a.q_id") === col("b.q_id") &&
            col("a.neighbor_id") === col("b.neighbor_id"))
        .agg((count(lit(1)).cast("double") / lit(k.toDouble * nq)).as("recall"))
        .select(lit(dim).as("dim"), col("recall"))
    }.reduce(_ unionByName _)
  }

  /** V21 (beyond reference): MRL truncation-recall audit over the
    * embeddings table — prefix dims 8/16/32/64 (64 = full, so its recall
    * row must be exactly 1.0, a built-in self-check).
    */
  val v21: GraftQuery = GraftQuery(
    "v21_mrl_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      mrlRecall(emb, emb.filter(col("vec_id") < 10), 10, Seq(8, 16, 32, 64))
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |gt AS (SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id
           |       FROM q JOIN v ON v.vec_id != q.vec_id
           |       QUALIFY row_number() OVER (PARTITION BY q.vec_id
           |         ORDER BY list_cosine_similarity(q.e, v.e) DESC, v.vec_id) <= 10),
           |dims AS (SELECT unnest([8, 16, 32, 64]) AS dim),
           |td AS (SELECT d.dim, q.vec_id AS q_id, v.vec_id AS neighbor_id
           |       FROM dims d, q, v WHERE v.vec_id != q.vec_id
           |       QUALIFY row_number() OVER (PARTITION BY d.dim, q.vec_id
           |         ORDER BY list_cosine_similarity(q.e[1:d.dim], v.e[1:d.dim]) DESC, v.vec_id) <= 10)
           |, h AS (SELECT td.dim, count(*) AS hits
           |      FROM td JOIN gt ON td.q_id = gt.q_id AND td.neighbor_id = gt.neighbor_id
           |      GROUP BY 1)
           |SELECT d.dim, CAST(coalesce(h.hits, 0) AS DOUBLE) / 100.0 AS recall
           |FROM dims d LEFT JOIN h USING (dim)""".stripMargin))

  /** Sign-bit packing: bit j of word w set iff embedding[32w + j] > 0 —
    * 32 bits per BIGINT word (not 64: bit 63 would overflow the signed sum
    * both engines build the word with), so a 64-dim vector packs to two
    * words = 16 bytes, a 32x compression of the double math. Pure per-row
    * map, integer-exact in any engine.
    */
  private def packSignBits(df: DataFrame, prefix: String): DataFrame =
    df.select(col("vec_id").as(s"${prefix}_id"),
      expr("""aggregate(sequence(0, 31), 0L,
              (a, i) -> a + IF(element_at(embedding, i + 1) > 0, shiftleft(1L, i), 0L))""")
        .as(s"${prefix}_w0"),
      expr("""aggregate(sequence(32, 63), 0L,
              (a, i) -> a + IF(element_at(embedding, i + 1) > 0, shiftleft(1L, i - 32), 0L))""")
        .as(s"${prefix}_w1"))

  /** Public DataFrame-in API (see graft.api.Graft): 1-bit (sign) binary
    * quantization + Hamming candidate search with exact cosine rerank —
    * the cheapest compression tier of a production vector store (below
    * [[v6]]'s int8 and [[v8]]'s PQ): corpus and queries pack to two bit
    * words, candidates come from Hamming distance (xor + popcount, pure
    * integer), and only the top-`c` candidates per query touch the float
    * vectors for the exact rerank to `k`.
    *
    * Scale: the candidate scan reads 16 bytes/vector against a broadcast
    * packed query set — codegen'd integer ops, corpus scanned once, no
    * shuffle before the per-query top-c rank; float vectors are fetched
    * (an id join) for only c x |Q| rows. Everything before the rerank is
    * integer, so candidate sets are bitwise-identical cross-engine; the
    * rerank cosine is the fused graft_cosine == DuckDB's
    * list_cosine_similarity.
    */
  def binaryHammingTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      c: Int = 20, excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val cw = packSignBits(corpus, "c")
    val qw = packSignBits(queries, "q")
    val wham = Window.partitionBy("q_id").orderBy(col("hamming"), col("c_id"))
    val cand = cw.join(broadcast(qw),
        if (excludeSelf) col("c_id") =!= col("q_id") else lit(true))
      .withColumn("hamming",
        (bit_count(expr("c_w0 ^ q_w0")) + bit_count(expr("c_w1 ^ q_w1"))).cast("int"))
      .withColumn("hrk", row_number().over(wham)).filter(col("hrk") <= c)
      .select(col("q_id"), col("c_id"), col("hamming"))
    val ce = withNorm(corpus, "cc")
    val qe = withNorm(queries, "qq")
    val wcos = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    cand.join(ce, col("c_id") === col("cc_id"))
      .join(broadcast(qe), col("q_id") === col("qq_id"))
      .withColumn("cos", cosine("qq_e", "cc_e"))
      .withColumn("rk", row_number().over(wcos)).filter(col("rk") <= k)
      .select(col("q_id"), col("c_id").as("neighbor_id"), col("hamming"), col("cos"))
  }

  /** V22 (beyond reference): binary-quantized ANN over the embeddings
    * table — Hamming top-20 candidates, exact rerank to k = 3.
    */
  val v22: GraftQuery = GraftQuery(
    "v22_binary_hamming_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      binaryHammingTopK(emb, emb.filter(col("vec_id") < 10), 3)
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |bits AS (SELECT vec_id, i, e[CAST(i + 1 AS INT)] > 0 AS b
           |         FROM v CROSS JOIN (SELECT unnest(range(64)) AS i)),
           |pk AS (SELECT vec_id,
           |         CAST(sum(CASE WHEN b AND i < 32 THEN 1::BIGINT << CAST(i AS INT) ELSE 0 END) AS BIGINT) AS w0,
           |         CAST(sum(CASE WHEN b AND i >= 32 THEN 1::BIGINT << CAST(i - 32 AS INT) ELSE 0 END) AS BIGINT) AS w1
           |       FROM bits GROUP BY 1),
           |q AS (SELECT * FROM pk WHERE vec_id < 10),
           |cand AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |           CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS INT) AS hamming
           |         FROM q JOIN pk c ON c.vec_id != q.vec_id
           |         QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY hamming, c_id) <= 20),
           |r AS (SELECT cand.q_id, cand.c_id AS neighbor_id, cand.hamming,
           |        list_cosine_similarity(qv.e, cv.e) AS cos
           |      FROM cand JOIN v qv ON qv.vec_id = cand.q_id
           |                JOIN v cv ON cv.vec_id = cand.c_id)
           |SELECT q_id, neighbor_id, hamming, cos FROM r
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): label modularity of
    * the kNN graph — does the labeling carve the neighborhood structure
    * into real communities? Directed modularity (Leicht & Newman 2008):
    * Q = intra/m − Σ_l dout_l·din_l / m², over the [[knnGraph]] edge
    * list with `labelCol` as the community assignment. The
    * embedding-space companion to [[v11]]'s silhouette: silhouette asks
    * "are labels geometrically compact", modularity asks "do neighbors
    * share labels".
    *
    * Determinism: every term is an integer count (edges, intra edges,
    * per-label out/in degrees, Σ dout·din), so Q is two IEEE divisions on
    * integers — bitwise identical in any engine. Scale: the kNN graph is
    * the expensive part (IVF-celled, see knnGraph); on top of it this is
    * two id-joins against the label table and label-domain-bounded
    * aggregates.
    */
  def knnLabelModularity(corpus: DataFrame, k: Int = 3): DataFrame = {
    val edges = knnGraph(corpus, k).select("src_id", "neighbor_id")
    val lab = corpus.select(col("vec_id"), col("label"))
    val e = edges
      .join(lab.select(col("vec_id").as("src_id"), col("label").as("src_label")),
        "src_id")
      .join(lab.select(col("vec_id").as("neighbor_id"), col("label").as("dst_label")),
        "neighbor_id")
    val tot = e.agg(count(lit(1)).as("m"),
      count(when(col("src_label") === col("dst_label"), 1)).as("intra"))
    val dl = e.groupBy(col("src_label").as("label")).agg(count(lit(1)).as("dout"))
    val il = e.groupBy(col("dst_label").as("label")).agg(count(lit(1)).as("din"))
    val ddi = dl.join(il, Seq("label"), "full")
      .na.fill(0L, Seq("dout", "din"))
      .agg(sum(col("dout") * col("din")).as("ddi"))
    tot.crossJoin(broadcast(ddi))
      .select(col("m"), col("intra"),
        (col("intra").cast("double") / col("m").cast("double") -
          col("ddi").cast("double") /
            (col("m").cast("double") * col("m").cast("double"))).as("modularity"))
  }

  /** V23 (beyond reference): label-community audit of the embeddings kNN
    * graph (near zero on the driver's signal-free labels — the null
    * result an eval harness must report exactly).
    */
  val v23: GraftQuery = GraftQuery(
    "v23_knn_label_modularity",
    (s, d) => knnLabelModularity(Tables.embeddings(s, d)),
    Some("""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, label, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.label, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN cents c) WHERE rk = 1),
           |edges AS (SELECT src_id, src_label, dst_label FROM (
           |  SELECT a.vec_id AS src_id, a.label AS src_label, b.label AS dst_label,
           |         list_cosine_similarity(a.e, b.e) AS cos, b.vec_id AS neighbor_id
           |  FROM assign a JOIN assign b USING (cluster) WHERE b.vec_id != a.vec_id)
           |  QUALIFY row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, neighbor_id) <= 3),
           |tot AS (SELECT count(*) AS m,
           |          count(*) FILTER (src_label = dst_label) AS intra FROM edges),
           |dl AS (SELECT src_label AS label, count(*) AS dout FROM edges GROUP BY 1),
           |il AS (SELECT dst_label AS label, count(*) AS din FROM edges GROUP BY 1),
           |dd AS (SELECT CAST(sum(coalesce(dout, 0) * coalesce(din, 0)) AS BIGINT) AS ddi
           |       FROM dl FULL JOIN il USING (label))
           |SELECT m, intra,
           |  CAST(intra AS DOUBLE) / CAST(m AS DOUBLE)
           |    - CAST(ddi AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) AS modularity
           |FROM tot, dd""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): IVF recall-vs-probes
    * tuning curve — the operating table behind the one knob an IVF index
    * exposes in production (more probes = more recall = more corpus
    * touched). One [[bruteForceTopK]] ground-truth pass plus one
    * [[ivfTopK]] arm per probe count, each arm the v2 scan shape; recall
    * is an integer overlap over an integer denominator, so the curve is
    * exact cross-engine.
    */
  def recallVsProbes(corpus: DataFrame, queries: DataFrame, k: Int,
      probesSeq: Seq[Int]): DataFrame = {
    val full = bruteForceTopK(corpus, queries, k).select("q_id", "neighbor_id")
    val truth = full.count()
    probesSeq.map { p =>
      ivfTopK(corpus, queries, k, p).as("a")
        .join(full.as("b"),
          col("a.q_id") === col("b.q_id") &&
            col("a.neighbor_id") === col("b.neighbor_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(p).as("probes"), lit(truth).as("truth_pairs"), col("hits"),
          (col("hits").cast("double") / lit(truth.toDouble)).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** V24 (beyond reference): the probes-tuning curve for the embeddings
    * IVF index, probes 1..4 of K = 16 cells (probes = K would be exact by
    * construction — the curve shows how quickly recall saturates while
    * cost stays ~probes/K of the corpus).
    */
  val v24: GraftQuery = GraftQuery(
    "v24_recall_vs_probes",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      recallVsProbes(emb, emb.filter(col("vec_id") < 10), 3, Seq(1, 2, 3, 4))
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
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
           |pd AS (SELECT CAST(unnest(range(1, 5)) AS INT) AS np),
           |pr AS (SELECT np, vec_id AS q_id, qe, cluster FROM (
           |  SELECT pd.np, q.vec_id, q.e AS qe, c.k_id AS cluster,
           |         row_number() OVER (PARTITION BY pd.np, q.vec_id
           |           ORDER BY list_cosine_similarity(q.e, c.ke) DESC, c.k_id) AS rk
           |  FROM pd CROSS JOIN q CROSS JOIN cents c) WHERE rk <= np),
           |ivf AS (SELECT np, q_id, neighbor_id FROM (
           |  SELECT p.np, p.q_id, a.vec_id AS neighbor_id,
           |         list_cosine_similarity(p.qe, a.e) AS cos
           |  FROM pr p JOIN assign a USING (cluster) WHERE a.vec_id != p.q_id)
           |  QUALIFY row_number() OVER (PARTITION BY np, q_id ORDER BY cos DESC, neighbor_id) <= 3)
           |SELECT pd.np AS probes, CAST(count(*) AS BIGINT) AS truth_pairs,
           |  CAST(sum(CASE WHEN i.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           |  CAST(sum(CASE WHEN i.q_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS recall
           |FROM pd CROSS JOIN bf
           |LEFT JOIN ivf i ON i.np = pd.np AND i.q_id = bf.q_id
           |  AND i.neighbor_id = bf.neighbor_id
           |GROUP BY 1""".stripMargin))

  /** v6-discipline int8 side: per-vector symmetric scale + quantized
    * components carried as exact small integers IN doubles (|q| <= 127,
    * so every product and 64-term sum is far under 2^53 — bit-exact in
    * any engine and in any fold order), plus the float vector for the
    * rerank fetch.
    */
  private def int8Side(df: DataFrame, p: String): DataFrame =
    df.withColumn("e", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("sc", expr("array_max(transform(e, x -> abs(x))) / 127.0"))
      .select(col("vec_id").as(s"${p}_id"), col("sc").as(s"${p}_scale"),
        expr("transform(e, x -> CAST(CAST(greatest(-127D, least(127D, floor(x / sc + 0.5D))) AS INT) AS DOUBLE))")
          .as(s"${p}_q"))

  /** Public DataFrame-in API (see graft.api.Graft): int8 ANN serving —
    * the search half of [[v6]]'s scalar quantization (v6 proves the
    * compression, this searches it): candidates scored by the INTEGER
    * dot product of the quantized vectors descaled by the two per-vector
    * scales, top-`c` per query, then exact cosine rerank to `k`. The
    * middle compression tier between [[binaryHammingTopK]] (1 bit) and
    * full float; 4x smaller corpus traffic with near-exact candidate
    * quality.
    *
    * Scale/exactness: the candidate scan touches only codes + one scale
    * per vector against a broadcast quantized query side; the integer
    * dot is exact in any fold order, the descale is one IEEE product
    * chain, and ties break on candidate id — candidate sets are
    * bitwise-identical cross-engine; floats are fetched (an id join)
    * only for c x |Q| rows.
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      c: Int = 20, excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val cs = int8Side(corpus, "c")
    val qs = int8Side(queries, "q")
    val wApprox = Window.partitionBy("q_id").orderBy(col("approx").desc, col("c_id"))
    val cand = cs.join(broadcast(qs),
        if (excludeSelf) col("c_id") =!= col("q_id") else lit(true))
      .withColumn("approx",
        call_function("graft_dot", col("q_q"), col("c_q")) *
          (col("q_scale") * col("c_scale")))
      .withColumn("rk", row_number().over(wApprox)).filter(col("rk") <= c)
      .select(col("q_id"), col("c_id"), col("approx"))
    val ce = withNorm(corpus, "cc")
    val qe = withNorm(queries, "qq")
    val wCos = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    cand.join(ce, col("c_id") === col("cc_id"))
      .join(broadcast(qe), col("q_id") === col("qq_id"))
      .withColumn("cos", cosine("qq_e", "cc_e"))
      .withColumn("rk", row_number().over(wCos)).filter(col("rk") <= k)
      .select(col("q_id"), col("c_id").as("neighbor_id"), col("approx"), col("cos"))
  }

  /** V25 (beyond reference): int8-quantized ANN over the embeddings
    * table — top-20 integer-dot candidates, exact rerank to k = 3.
    */
  val v25: GraftQuery = GraftQuery(
    "v25_int8_ann_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      int8TopK(emb, emb.filter(col("vec_id") < 10), 3)
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |s8 AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc FROM v),
           |q8 AS (SELECT vec_id, sc,
           |         list_transform(e, x -> CAST(CAST(greatest(-127, least(127, floor(x / sc + 0.5))) AS INT) AS DOUBLE)) AS q
           |       FROM s8),
           |qq AS (SELECT * FROM q8 WHERE vec_id < 10),
           |cand AS (SELECT qq.vec_id AS q_id, c.vec_id AS c_id,
           |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |             list_transform(range(1, 65), i -> qq.q[CAST(i AS INT)] * c.q[CAST(i AS INT)])),
           |             (a, b) -> a + b) * (qq.sc * c.sc) AS approx
           |         FROM qq JOIN q8 c ON c.vec_id != qq.vec_id
           |         QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY approx DESC, c_id) <= 20),
           |r AS (SELECT cand.q_id, cand.c_id AS neighbor_id, cand.approx,
           |        list_cosine_similarity(qv.e, cv.e) AS cos
           |      FROM cand JOIN v qv ON qv.vec_id = cand.q_id
           |                JOIN v cv ON cv.vec_id = cand.c_id)
           |SELECT q_id, neighbor_id, approx, cos FROM r
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): compression-tier
    * distortion report — for each quantization tier (int8 = [[v6]]'s
    * symmetric scalar codes, binary = [[v22]]'s sign bits), the cosine
    * between every vector and its reconstruction, reduced to
    * (tier, n, mean_cos, worst_cos). The capacity-planning table that
    * says which tier a corpus tolerates BEFORE building its index; read
    * next to the recall evals (v10/v14/v24), it separates "the index
    * lost it" from "the compression lost it".
    *
    * Pure per-row map + one aggregate per tier; each cosine is the fused
    * graft_cosine (bitwise equal to the oracle's list_cosine_similarity)
    * quantized to 1e-9 before the mean so the fold is an exact integer
    * sum in any order.
    */
  def compressionDistortion(corpus: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val e = corpus.withColumn("e", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    def tier(name: String, recon: Column): DataFrame =
      e.withColumn("recon", recon)
        .select(floor(cosine("e", "recon") * 1e9 + 0.5).cast("long").as("qc"))
        .agg(count(lit(1)).as("n"), sum("qc").as("sq"), min("qc").as("mq"))
        .select(lit(name).as("tier"), col("n"),
          (col("sq").cast("double") / col("n") / 1e9).as("mean_cos"),
          (col("mq").cast("double") / 1e9).as("worst_cos"))
    val int8 = e.withColumn("sc",
        expr("array_max(transform(e, x -> abs(x))) / 127.0"))
      .withColumn("recon", expr(
        "transform(e, x -> CAST(greatest(-127D, least(127D, floor(x / sc + 0.5D))) AS DOUBLE) * sc)"))
      .select(floor(cosine("e", "recon") * 1e9 + 0.5).cast("long").as("qc"))
      .agg(count(lit(1)).as("n"), sum("qc").as("sq"), min("qc").as("mq"))
      .select(lit("int8").as("tier"), col("n"),
        (col("sq").cast("double") / col("n") / 1e9).as("mean_cos"),
        (col("mq").cast("double") / 1e9).as("worst_cos"))
    val binary = tier("binary",
      expr("transform(e, x -> IF(x > 0D, 1.0D, -1.0D))"))
    int8.unionByName(binary)
  }

  /** V26 (beyond reference): the tier table for the embeddings corpus. */
  val v26: GraftQuery = GraftQuery(
    "v26_compression_distortion",
    (s, d) => compressionDistortion(Tables.embeddings(s, d)),
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |i8 AS (SELECT e, list_transform(e, x ->
           |         CAST(greatest(-127, least(127, floor(x / (sc) + 0.5))) AS DOUBLE) * sc) AS recon
           |       FROM (SELECT e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc FROM v)),
           |qi AS (SELECT CAST(floor(list_cosine_similarity(e, recon) * 1e9 + 0.5) AS BIGINT) AS qc FROM i8),
           |bi AS (SELECT e, list_transform(e, x -> CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END) AS recon FROM v),
           |qb AS (SELECT CAST(floor(list_cosine_similarity(e, recon) * 1e9 + 0.5) AS BIGINT) AS qc FROM bi)
           |SELECT 'int8' AS tier, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(qc) AS DOUBLE) / count(*) / 1e9 AS mean_cos,
           |  CAST(min(qc) AS DOUBLE) / 1e9 AS worst_cos
           |FROM qi
           |UNION ALL
           |SELECT 'binary', CAST(count(*) AS BIGINT),
           |  CAST(sum(qc) AS DOUBLE) / count(*) / 1e9,
           |  CAST(min(qc) AS DOUBLE) / 1e9
           |FROM qb""".stripMargin))

  /** V27 (beyond reference): embedding-distribution drift — the d2 PSI
    * lifted from a scalar metric to VECTOR space. Two corpus snapshots
    * (here: even vs odd vec_id, standing in for yesterday/today) are
    * bucketed by a shared 6-bit random-hyperplane signature (the [[v5]]
    * basis under its own salt — the buckets are fixed cosine cells, so
    * occupancy shift = directional distribution shift), then each of the
    * 64 cells contributes a smoothed PSI term. This is the monitoring
    * primitive behind "did my embedding model / corpus drift" — cheap
    * enough to run on every ingest batch, no model needed. Shape: one
    * map-side signature pass (no shuffle), one 64-cell hash aggregate, a
    * spine join so emptied cells still surface; at 100 TB the aggregate
    * state is 64 rows per partition. Determinism: the hyperplanes are
    * md5-derived uniforms replayed exactly by the oracle (the HashDraw
    * contract), dots fold dims in ascending order, counts are integers,
    * and the single ln() is quantized to 9 dp (the d2 discipline).
    */
  /** Public DataFrame-in API (see graft.api.Graft): the drift report
    * itself — `df` needs (embedding, `isRefCol`: boolean); one row per
    * signature cell (2^bits total) with smoothed psi_term.
    */
  def embeddingDrift(df: DataFrame, isRefCol: String, bits: Int = 6): DataFrame =
    embeddingDriftFromSigs(
      embeddingSignatures(
        df.withColumn("__drift_key", monotonically_increasing_id()),
        "__drift_key", isRefCol, bits),
      bits)

  /** The per-row half of [[embeddingDrift]], KEYED: (key, is_ref, sig) —
    * the map-side signature pass factored out so an INCREMENTAL
    * accumulator (t43: drift monitored on the ingest stream) can append
    * rows per micro-batch and dedupe redeliveries by key at read time,
    * the t36 at-least-once discipline. The hyperplanes are md5-derived
    * uniforms (the HashDraw contract, salt "v27"), built once per
    * partition.
    */
  def embeddingSignatures(df: DataFrame, keyCol: String, isRefCol: String,
      bits: Int = 6): DataFrame = {
    require(bits >= 1 && bits <= 16, "embeddingSignatures: bits in [1, 16]")
    val s = df.sparkSession
    import s.implicits._
    df.select(col(keyCol).cast("long"), col(isRefCol), col("embedding"))
      .as[(Long, Boolean, Seq[Float])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        var hp: Array[Array[Double]] = null // built once per partition
        it.map { case (key, isRef, e) =>
          if (hp == null) hp = Array.tabulate(bits, e.size) { (h, i) =>
            graft.functions.HashDraw.draw(md, s"v27:$h:$i").toDouble /
              (1L << 59).toDouble - 1.0
          }
          var sig = 0
          var h = 0
          while (h < bits) {
            val w = hp(h)
            var dot = 0.0
            var i = 0
            while (i < w.length) { dot += e(i).toDouble * w(i); i += 1 }
            if (dot > 0) sig |= 1 << h
            h += 1
          }
          (key, isRef, sig)
        }
      }
      .toDF("key", "is_ref", "sig")
  }

  /** A signature store's declared schema: the rows [[embeddingSignatures]]
    * emits, which a store appends.
    */
  private val SignatureSchema = StructType.fromDDL("key BIGINT, is_ref BOOLEAN, sig INT")

  /** The (is_ref, sig) rows of the signature store at `store`, one per key:
    * appends are at-least-once and a key's rows are deterministic, so the
    * max(struct) collapses redeliveries.
    */
  private[graft] def storedSignatures(s: SparkSession, store: String): DataFrame =
    s.read.schema(SignatureSchema).parquet(store)
      .groupBy("key").agg(max(struct(col("is_ref"), col("sig"))).as("m"))
      .select(col("m.is_ref").as("is_ref"), col("m.sig").as("sig"))

  /** The reduce half of [[embeddingDrift]]: (is_ref, sig) rows → the
    * 2^bits-cell PSI report (sig, ref_n, cur_n, psi_term).
    */
  def embeddingDriftFromSigs(sigs0: DataFrame, bits: Int = 6): DataFrame = {
    val s = sigs0.sparkSession
    val cells = 1 << bits
    val sigs = sigs0.select(col("is_ref"), col("sig"))
    val agg = sigs.groupBy("sig").agg(
      count(when(col("is_ref"), 1)).as("ref_n"),
      count(when(!col("is_ref"), 1)).as("cur_n"))
    val spine = s.range(0, cells).select(col("id").cast("int").as("sig"))
    val f = spine.join(agg, Seq("sig"), "left")
      .na.fill(0L, Seq("ref_n", "cur_n"))
      .withColumn("rt", sum("ref_n").over(Window.partitionBy()))
      .withColumn("ct", sum("cur_n").over(Window.partitionBy()))
    val half = cells / 2.0
    val pr = (col("ref_n") + 0.5) / (col("rt") + half)
    val pc = (col("cur_n") + 0.5) / (col("ct") + half)
    f.select(col("sig"), col("ref_n"), col("cur_n"),
      (floor((pc - pr) * log(pc / pr) * 1e9 + 0.5).cast("double") / 1e9)
        .as("psi_term"))
  }

  val v27: GraftQuery = GraftQuery(
    "v27_embedding_drift",
    (s, d) => embeddingDrift(
      Tables.embeddings(s, d).withColumn("is_ref", expr("vec_id % 2 = 0")),
      "is_ref"),
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |hp AS (SELECT h, list_transform(generate_series(1, 64),
           |    i -> CAST('0x' || substr(md5('v27:' || h || ':' || (i - 1)), 1, 15) AS BIGINT)
           |         / 576460752303423488.0 - 1.0) AS w
           |  FROM generate_series(0, 5) t(h)),
           |dots AS (SELECT vec_id, h,
           |    list_reduce(list_transform(generate_series(1, 64), i -> e[i] * w[i]),
           |      (a, b) -> a + b) AS dot
           |  FROM v CROSS JOIN hp),
           |sg AS (SELECT vec_id,
           |    CAST(sum(CASE WHEN dot > 0 THEN 1 << h ELSE 0 END) AS INT) AS sig
           |  FROM dots GROUP BY vec_id),
           |a AS (SELECT sig, count(*) FILTER (WHERE vec_id % 2 = 0) AS ref_n,
           |             count(*) FILTER (WHERE vec_id % 2 <> 0) AS cur_n
           |      FROM sg GROUP BY sig),
           |sp AS (SELECT CAST(unnest(range(64)) AS INT) AS sig),
           |f AS (SELECT sp.sig, coalesce(a.ref_n, 0) AS ref_n, coalesce(a.cur_n, 0) AS cur_n
           |      FROM sp LEFT JOIN a USING (sig)),
           |t AS (SELECT *, sum(ref_n) OVER () AS rt, sum(cur_n) OVER () AS ct FROM f)
           |SELECT sig, ref_n, cur_n,
           |  floor(((cur_n + 0.5) / (ct + 32.0) - (ref_n + 0.5) / (rt + 32.0))
           |    * ln(((cur_n + 0.5) / (ct + 32.0)) / ((ref_n + 0.5) / (rt + 32.0)))
           |    * 1e9 + 0.5) / 1e9 AS psi_term
           |FROM t""".stripMargin))

  /** V28 (beyond reference): out-of-distribution score per vector — the
    * embedding OUTLIER filter a curation pipeline runs before training
    * (mislabeled scrapes, empty-content embeddings, adversarial junk all
    * land far from every cluster): ood_score = 1 − cos(v, centroid(v))
    * against the [[v4]] k-means-refined cells; sort/threshold downstream
    * to drop the tail. Complements [[v12]]'s SemDeDup (which prunes
    * vectors too CLOSE together — this flags vectors too FAR from
    * everything). The score alone is NOT the whole detector: an extreme
    * outlier can hijack an ORPHANED centroid (a cell no inlier chose) and
    * become a singleton whose score is 0 — real Lloyd behavior whenever
    * k exceeds the natural cluster count — so the row also carries
    * cluster_n, and the production filter rule is `ood_score > tau OR
    * cluster_n < minSupport` (a near-empty cell is itself outlier
    * evidence; VectorOpsSpec demonstrates exactly this capture). Scale
    * shape as every IVF op: centroids broadcast (16 rows), one map-side
    * cosine pass; the cluster_n window runs on the 16-cell key.
    * Deterministic: the oracle replays init + both Lloyd rounds
    * bit-for-bit (the v4 machinery); the score is one subtraction,
    * 9-dp-quantized.
    */
  /** Public DataFrame-in API (see graft.api.Graft): the OOD report
    * itself — `emb` needs (vec_id: long, embedding: array<float>);
    * returns (vec_id, cluster, ood_score, cluster_n).
    */
  def oodScores(emb: DataFrame): DataFrame = {
    val cents = kmeansCentroidsOf(emb)
    // same map-side-combinable argmax as [[assign]] (K→1 before the
    // exchange), keeping the winning kcos for the score
    withNorm(emb, "c").join(broadcast(cents), col("c_id").isNotNull)
      .withColumn("kcos", cosine("c_e", "k_e"))
      .groupBy("c_id")
      .agg(max_by(struct(col("k_id"), col("kcos")),
        struct(col("kcos"), (-col("k_id")).as("nk"))).as("m"))
      .select(col("c_id").as("vec_id"), col("m.k_id").as("cluster"),
        (floor((lit(1.0) - col("m.kcos")) * 1e9 + 0.5).cast("double") / 1e9)
          .as("ood_score"))
      .withColumn("cluster_n",
        count(lit(1)).over(Window.partitionBy("cluster")))
  }

  val v28: GraftQuery = GraftQuery(
    "v28_ood_centroid_score",
    (s, d) => oodScores(Tables.embeddings(s, d)),
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |c0 AS (SELECT vec_id AS k_id, e AS ke FROM v
           |       ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |a1 AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN c0 c) WHERE rk = 1),
           |c1 AS (SELECT cluster AS k_id, list_transform(sm, a -> a / n) AS ke FROM (
           |  SELECT cluster, count(*) AS n,
           |    list_reduce(list(e ORDER BY vec_id), (acc, x) -> list_transform(acc, (a, i) -> a + x[i])) AS sm
           |  FROM a1 GROUP BY cluster)),
           |a2 AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN c1 c) WHERE rk = 1),
           |c2 AS (SELECT cluster AS k_id, list_transform(sm, a -> a / n) AS ke FROM (
           |  SELECT cluster, count(*) AS n,
           |    list_reduce(list(e ORDER BY vec_id), (acc, x) -> list_transform(acc, (a, i) -> a + x[i])) AS sm
           |  FROM a2 GROUP BY cluster)),
           |af AS (SELECT vec_id, k_id AS cluster, cs FROM (
           |  SELECT v.vec_id, c.k_id, list_cosine_similarity(v.e, c.ke) AS cs,
           |    row_number() OVER (PARTITION BY v.vec_id
           |      ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN c2 c) WHERE rk = 1)
           |SELECT vec_id, cluster, floor((1.0 - cs) * 1e9 + 0.5) / 1e9 AS ood_score,
           |  count(*) OVER (PARTITION BY cluster) AS cluster_n
           |FROM af""".stripMargin))

  /** V29 (beyond reference): kNN label-noise detection — the Cleanlab-style
    * training-data audit: a vector whose label disagrees with the STRICT
    * MAJORITY label of its k nearest neighbors is a mislabel candidate
    * (confident-learning's core signal, computed geometrically). Where
    * [[v23]] scores labels-vs-geometry agreement as ONE corpus number,
    * this names the individual suspects a labeling team re-reviews.
    *
    * Composition: the [[knnGraph]] edge list (cluster-scoped, never
    * all-pairs), neighbor labels joined in, one (src, label) count
    * aggregate, majority by (count desc, label) — all integer-count
    * arithmetic plus the graph's own deterministic tie-breaks, so both
    * engines agree exactly. Vectors with no within-cell neighbor
    * (singleton cells) have no evidence and emit nothing. At 100 TB the
    * cost is the graph build itself (auto-scaled cells, SCALE.md); the
    * vote adds two key-local aggregates.
    */
  /** Public DataFrame-in API (see graft.api.Graft): mislabel candidates
    * over (vec_id, embedding, label); `flagged` = neighbor majority label
    * differs AND holds a strict majority (2·maj_n > k_n).
    */
  def labelNoise(emb: DataFrame, k: Int = 5): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label"))
    val g = knnGraph(emb.select("vec_id", "embedding"), k)
    val nb = g.join(
      labels.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")),
      Seq("neighbor_id"))
    val cnt = nb.groupBy("src_id", "n_label").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("src_id").agg(sum("c").as("k_n"))
    val w = Window.partitionBy("src_id").orderBy(col("c").desc, col("n_label"))
    val maj = cnt.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("src_id"), col("n_label").as("maj_label"), col("c").as("maj_n"))
    maj.join(tot, "src_id")
      .join(labels.select(col("vec_id").as("src_id"), col("label")), "src_id")
      .select(col("src_id").as("vec_id"), col("label"), col("maj_label"),
        col("maj_n"), col("k_n"),
        (col("maj_label") =!= col("label") && col("maj_n") * 2 > col("k_n"))
          .as("flagged"))
  }

  val v29: GraftQuery = GraftQuery(
    "v29_label_noise_knn",
    (s, d) => labelNoise(Tables.embeddings(s, d), k = 5),
    Some("""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, label, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.label, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN cents c) WHERE rk = 1),
           |g AS (SELECT src_id, n_label FROM (
           |  SELECT a.vec_id AS src_id, b.label AS n_label,
           |         list_cosine_similarity(a.e, b.e) AS cos, b.vec_id AS neighbor_id
           |  FROM assign a JOIN assign b USING (cluster) WHERE b.vec_id != a.vec_id)
           |  QUALIFY row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, neighbor_id) <= 5),
           |cnt AS (SELECT src_id, n_label, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
           |tot AS (SELECT src_id, CAST(sum(c) AS BIGINT) AS k_n FROM cnt GROUP BY 1),
           |maj AS (SELECT src_id, n_label AS maj_label, c AS maj_n FROM (
           |  SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY c DESC, n_label) AS rk
           |  FROM cnt) WHERE rk = 1)
           |SELECT m.src_id AS vec_id, v.label, m.maj_label, m.maj_n, t.k_n,
           |  (m.maj_label != v.label AND m.maj_n * 2 > t.k_n) AS flagged
           |FROM maj m JOIN tot t USING (src_id) JOIN v ON v.vec_id = m.src_id""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): Maximal Marginal
    * Relevance diversification (Carbonell & Goldstein, SIGIR'98) — greedy
    * re-selection of the final k results from a candidate pool so they are
    * relevant AND mutually dissimilar: pick argmax rel first, then twice
    * argmax λ·rel − μ·max_{s∈selected} sim(c, s). The third stage of the
    * production retrieval stack (candidates → rerank → diversify), sitting
    * on top of [[rerankTopK]]'s output the way RAG dedupes its context
    * window. λ and μ are SEPARATE literals (never μ = 1−λ — the engine
    * discipline: complement arithmetic differs in the last ulp).
    *
    * The greedy loop is unrolled to k = 3 dataframe stages, each a
    * broadcast join on the (|Q| × cands)-row candidate set plus one
    * per-query argmax window — the corpus is touched only by stage 1's
    * candidate scan, so at 100 TB the diversification itself is free (it
    * runs on |Q|·cands rows regardless of corpus size). All scores are
    * single IEEE mults/subs over bitwise-matched cosines, so the oracle
    * replays every selection exactly (ties break on candidate id).
    */
  def mmrDiversify(corpus: DataFrame, queries: DataFrame, cands: Int = 8,
      lam: Double = 0.7, mu: Double = 0.3,
      excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val c = withNorm(corpus, "c")
    val q = withNorm(queries, "q")
    val w1 = Window.partitionBy("q_id").orderBy(col("rel").desc, col("c_id"))
    val cand = c.join(broadcast(q),
        if (excludeSelf) col("c_id") =!= col("q_id") else lit(true))
      .withColumn("rel", cosine("q_e", "c_e"))
      .withColumn("rk", row_number().over(w1)).filter(col("rk") <= cands)
      .select(col("q_id"), col("c_id"), col("c_e"), col("rel"))
    val s1 = cand
      .withColumn("rk", row_number().over(w1)).filter(col("rk") === 1)
      .select(col("q_id"), col("c_id").as("s1_id"), col("c_e").as("s1_e"),
        col("rel").as("s1_score"))
    val r1 = cand.join(broadcast(s1), Seq("q_id"))
      .filter(col("c_id") =!= col("s1_id"))
      .withColumn("m2",
        lit(lam) * col("rel") - lit(mu) * cosine("c_e", "s1_e"))
    val w2 = Window.partitionBy("q_id").orderBy(col("m2").desc, col("c_id"))
    val s2 = r1.withColumn("rk2", row_number().over(w2))
      .filter(col("rk2") === 1)
      .select(col("q_id"), col("c_id").as("s2_id"), col("c_e").as("s2_e"),
        col("m2").as("s2_score"))
    val r2 = r1.join(broadcast(s2.select("q_id", "s2_id", "s2_e")), Seq("q_id"))
      .filter(col("c_id") =!= col("s2_id"))
      .withColumn("m3", lit(lam) * col("rel") -
        lit(mu) * greatest(cosine("c_e", "s1_e"), cosine("c_e", "s2_e")))
    val w3 = Window.partitionBy("q_id").orderBy(col("m3").desc, col("c_id"))
    val s3 = r2.withColumn("rk3", row_number().over(w3))
      .filter(col("rk3") === 1)
      .select(col("q_id"), col("c_id").as("s3_id"), col("m3").as("s3_score"))
    s1.select(col("q_id"), lit(1).as("sel_rank"),
        col("s1_id").as("neighbor_id"), col("s1_score").as("score"))
      .unionByName(s2.select(col("q_id"), lit(2).as("sel_rank"),
        col("s2_id").as("neighbor_id"), col("s2_score").as("score")))
      .unionByName(s3.select(col("q_id"), lit(3).as("sel_rank"),
        col("s3_id").as("neighbor_id"), col("s3_score").as("score")))
  }

  /** V30 (beyond reference): MMR-diversified top-3 from a top-8 candidate
    * pool, λ = 0.7, μ = 0.3. The oracle unrolls the same three greedy
    * selections with identical tie-breaks.
    */
  val v30: GraftQuery = GraftQuery(
    "v30_mmr_diversify",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      mmrDiversify(emb, emb.filter(col("vec_id") < 10), cands = 8)
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |cand AS (SELECT q_id, c_id, ce, rel FROM (
           |  SELECT q.vec_id AS q_id, v.vec_id AS c_id, v.e AS ce,
           |         list_cosine_similarity(q.e, v.e) AS rel
           |  FROM q JOIN v ON v.vec_id != q.vec_id)
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id) <= 8),
           |s1 AS (SELECT q_id, c_id AS s1_id, ce AS s1_e, rel AS s1_score FROM cand
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id) = 1),
           |r1 AS (SELECT cand.q_id, cand.c_id, cand.ce, cand.rel, s1.s1_id, s1.s1_e,
           |         CAST(0.7 AS DOUBLE) * cand.rel
           |           - CAST(0.3 AS DOUBLE) * list_cosine_similarity(cand.ce, s1.s1_e) AS m2
           |       FROM cand JOIN s1 USING (q_id) WHERE cand.c_id != s1.s1_id),
           |s2 AS (SELECT q_id, c_id AS s2_id, ce AS s2_e, m2 AS s2_score FROM r1
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY m2 DESC, c_id) = 1),
           |r2 AS (SELECT r1.q_id, r1.c_id, r1.rel,
           |         CAST(0.7 AS DOUBLE) * r1.rel - CAST(0.3 AS DOUBLE) *
           |           greatest(list_cosine_similarity(r1.ce, r1.s1_e),
           |                    list_cosine_similarity(r1.ce, s2.s2_e)) AS m3
           |       FROM r1 JOIN s2 USING (q_id) WHERE r1.c_id != s2.s2_id),
           |s3 AS (SELECT q_id, c_id AS s3_id, m3 AS s3_score FROM r2
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY m3 DESC, c_id) = 1)
           |SELECT q_id, 1 AS sel_rank, s1_id AS neighbor_id, s1_score AS score FROM s1
           |UNION ALL
           |SELECT q_id, 2 AS sel_rank, s2_id AS neighbor_id, s2_score AS score FROM s2
           |UNION ALL
           |SELECT q_id, 3 AS sel_rank, s3_id AS neighbor_id, s3_score AS score FROM s3""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): greedy k-center
    * selection (Gonzalez 1985, the 2-approximation to the metric k-center
    * problem) — the COVERAGE-maximizing diversity sampler: each step
    * picks the corpus vector FARTHEST (least cosine-similar) from
    * everything already selected, so k picks spread across the embedding
    * space instead of clustering in the dense mode. The data-selection
    * complement to [[mmrDiversify]] (which diversifies a per-query
    * result; this selects a global corpus skeleton — coreset seeds,
    * annotation budgets, eval-set design). Seeded at the minimum-md5
    * vector — the engine's deterministic uniform draw ([[centroidsOf]]'s
    * rule), replayed exactly by any engine.
    *
    * The greedy loop is unrolled to k = 3: each step is one corpus scan
    * against ≤ 2 broadcast selection rows + a TakeOrdered top-1 (per-
    * partition top-1, then a k-way merge of partition heads — never a
    * global sort). O(k·n) total at 100 TB with k fixed; the classical
    * trade against [[centroidsOf]]'s hash sample is one scan per pick
    * bought for the farthest-point cover guarantee.
    */
  def kcenterSelect(corpus: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val c = withNorm(corpus, "c")
    val s1 = c.orderBy(md5(col("c_id").cast("string")), col("c_id")).limit(1)
      .select(col("c_id").as("s1_id"), col("c_e").as("s1_e"))
    val d1 = c.crossJoin(broadcast(s1)).filter(col("c_id") =!= col("s1_id"))
      .withColumn("cos1", cosine("c_e", "s1_e"))
    val s2 = d1.orderBy(col("cos1").asc, col("c_id")).limit(1)
      .select(col("c_id").as("s2_id"), col("c_e").as("s2_e"),
        col("cos1").as("s2_cos"))
    val d2 = d1.crossJoin(broadcast(s2.select("s2_id", "s2_e")))
      .filter(col("c_id") =!= col("s2_id"))
      .withColumn("cover", greatest(col("cos1"), cosine("c_e", "s2_e")))
    val s3 = d2.orderBy(col("cover").asc, col("c_id")).limit(1)
      .select(col("c_id").as("s3_id"), col("cover").as("s3_cov"))
    s1.select(lit(1).as("sel_rank"), col("s1_id").as("vec_id"),
        lit(null).cast("double").as("max_cos_to_prior"))
      .unionByName(s2.select(lit(2).as("sel_rank"), col("s2_id").as("vec_id"),
        col("s2_cos").as("max_cos_to_prior")))
      .unionByName(s3.select(lit(3).as("sel_rank"), col("s3_id").as("vec_id"),
        col("s3_cov").as("max_cos_to_prior")))
  }

  /** V31 (beyond reference): greedy k-center corpus skeleton (k = 3). The
    * oracle replays seed, both farthest-point argmins, and the tie-breaks.
    */
  val v31: GraftQuery = GraftQuery(
    "v31_kcenter_select",
    (s, d) => kcenterSelect(Tables.embeddings(s, d)),
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |s1 AS (SELECT vec_id AS s1_id, e AS s1_e FROM v
           |       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
           |d1 AS (SELECT v.vec_id, v.e, s1.s1_id,
           |         list_cosine_similarity(v.e, s1.s1_e) AS cos1
           |       FROM v, s1 WHERE v.vec_id != s1.s1_id),
           |s2 AS (SELECT vec_id AS s2_id, e AS s2_e, cos1 AS s2_cos FROM d1
           |       ORDER BY cos1 ASC, vec_id LIMIT 1),
           |d2 AS (SELECT d1.vec_id,
           |         greatest(d1.cos1, list_cosine_similarity(d1.e, s2.s2_e)) AS cover
           |       FROM d1, s2 WHERE d1.vec_id != s2.s2_id),
           |s3 AS (SELECT vec_id AS s3_id, cover AS s3_cov FROM d2
           |       ORDER BY cover ASC, vec_id LIMIT 1)
           |SELECT 1 AS sel_rank, s1_id AS vec_id, CAST(NULL AS DOUBLE) AS max_cos_to_prior FROM s1
           |UNION ALL
           |SELECT 2 AS sel_rank, s2_id AS vec_id, s2_cos AS max_cos_to_prior FROM s2
           |UNION ALL
           |SELECT 3 AS sel_rank, s3_id AS vec_id, s3_cov AS max_cos_to_prior FROM s3""".stripMargin))

  /** Integer JL projection: y_j = Σ_i s(i,j)·q_i over the 1e6-quantized
    * embedding q_i = floor(e_i·1e6 + 0.5), with the Rademacher sign
    * s(i,j) = ±1 drawn from the parity of a fixed LCG mix of (i, j) —
    * Achlioptas (2003)'s database-friendly projection with a seedless,
    * engine-portable sign matrix. All arithmetic is exact BIGINT
    * (|y_j| ≤ 64·~1e6 ≪ 2⁶³), so projections are bitwise identical in
    * any engine and addition order is immaterial.
    */
  private def jlProject(df: DataFrame, p: Int, prefix: String): DataFrame =
    df.select(col("vec_id").as(s"${prefix}_id"),
      expr(s"""transform(sequence(1, $p), j ->
        aggregate(sequence(1, size(embedding)), 0L, (a, i) ->
          a + IF(((i * 73856093L + j * 19349663L + i * j * 83492791L)
                   % 2147483647L) % 2L = 0L,
                 CAST(floor(element_at(embedding, i) * 1e6 + 0.5) AS LONG),
                 -CAST(floor(element_at(embedding, i) * 1e6 + 0.5) AS LONG))))""")
        .as(s"${prefix}_y"))

  /** Public DataFrame-in API (see graft.api.Graft): Johnson–Lindenstrauss
    * sign-projection recall — project the corpus from d dims to `p` dims
    * with a deterministic Rademacher matrix, run exact top-`k` cosine in
    * the PROJECTED space, and score recall against the full-dimension
    * ground truth. The cheap-scan tier that [[mrlRecall]] measures for
    * Matryoshka-trained models, available for ANY embedding: a p/d
    * fraction of the float math per candidate with distance distortion
    * bounded by the JL lemma. Returns one row (p_dim, recall).
    *
    * Scale: projection is a codegen'd per-row map (corpus scanned once);
    * the projected scan is the v1 dataflow (query side broadcast, no
    * corpus shuffle); cosine ranks are IEEE quotients of exact integer
    * dot/norms, so candidate sets are bitwise-stable cross-engine.
    */
  def jlRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      p: Int): DataFrame = {
    val nq = queries.count()
    val full = bruteForceTopK(corpus, queries, k).select("q_id", "neighbor_id")
    val norm = (c: String) =>
      expr(s"aggregate($c, 0L, (a, t) -> a + t * t)")
    val cy = jlProject(corpus, p, "c").withColumn("c_n", norm("c_y"))
    val qy = jlProject(queries, p, "q").withColumn("q_n", norm("q_y"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    val proj = cy.join(broadcast(qy), col("c_id") =!= col("q_id"))
      .withColumn("dot", expr(s"""aggregate(sequence(1, $p), 0L,
        (a, j) -> a + element_at(c_y, j) * element_at(q_y, j))"""))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("c_n").cast("double")) * sqrt(col("q_n").cast("double"))))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("c_id").as("neighbor_id"))
    proj.join(full, Seq("q_id", "neighbor_id"))
      .agg((count(lit(1)).cast("double") / lit(k.toDouble * nq)).as("recall"))
      .select(lit(p).as("p_dim"), col("recall"))
  }

  /** V32 (beyond reference): JL 32-dim sign-projection recall audit. */
  val v32: GraftQuery = GraftQuery(
    "v32_jl_projection_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      jlRecall(emb, emb.filter(col("vec_id") < 10), 10, 32)
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |gt AS (SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id
           |       FROM q JOIN v ON v.vec_id != q.vec_id
           |       QUALIFY row_number() OVER (PARTITION BY q.vec_id
           |         ORDER BY list_cosine_similarity(q.e, v.e) DESC, v.vec_id) <= 10),
           |py AS (SELECT vec_id, list_transform(range(1, 33), j ->
           |         CAST(list_sum(list_transform(range(1, CAST(len(e) AS BIGINT) + 1), i ->
           |           CASE WHEN ((i * 73856093 + j * 19349663 + i * j * 83492791)
           |                      % 2147483647) % 2 = 0
           |                THEN CAST(floor(e[CAST(i AS INT)] * 1e6 + 0.5) AS BIGINT)
           |                ELSE -CAST(floor(e[CAST(i AS INT)] * 1e6 + 0.5) AS BIGINT)
           |           END)) AS BIGINT)) AS y FROM v),
           |pn AS (SELECT vec_id, y,
           |         CAST(list_sum(list_transform(y, t -> t * t)) AS BIGINT) AS n2 FROM py),
           |tk AS (SELECT b.vec_id AS q_id, a.vec_id AS neighbor_id
           |       FROM pn a JOIN pn b ON a.vec_id != b.vec_id AND b.vec_id < 10
           |       QUALIFY row_number() OVER (PARTITION BY b.vec_id ORDER BY
           |         CAST(list_sum(list_transform(range(1, 33), j ->
           |           a.y[CAST(j AS INT)] * b.y[CAST(j AS INT)])) AS DOUBLE)
           |           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) DESC,
           |         a.vec_id) <= 10)
           |SELECT 32 AS p_dim,
           |  CAST((SELECT count(*) FROM tk JOIN gt
           |        ON tk.q_id = gt.q_id AND tk.neighbor_id = gt.neighbor_id) AS DOUBLE)
           |    / 100.0 AS recall""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): FILTERED vector search
    * — top-k under a metadata predicate (every production vector store's
    * "search where label = X"). The index geometry is built ONCE on the
    * FULL corpus (centroids are corpus property, not predicate property —
    * rebuilding cells per predicate would be an index build per query);
    * the predicate applies to the posting-list side BEFORE assignment
    * runs, so at scale it reaches the parquet scan as a pushed filter and
    * composes with cell pruning: candidates = rows passing the predicate
    * AND living in a probed cell. Matching rows outside probed cells are
    * missed by design (that is IVF's approximation); a highly-selective
    * predicate thins cells, so callers raise `probes` to hold recall —
    * [[filteredRecallEval]] measures exactly that trade.
    *
    * Scale: one filtered corpus scan, K-row centroid broadcast, cell-keyed
    * join against the (tiny, broadcast) probe list, per-query top-k — the
    * v2 shape with strictly less data.
    */
  def filteredIvfTopK(corpus: DataFrame, queries: DataFrame, pred: Column,
      k: Int, probes: Int = 2, excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val cents = centroidsOf(corpus) // FULL corpus: the index, not the filter
    val assigned = assign(withNorm(corpus.filter(pred), "c"), cents)

    val q = withNorm(queries, "q")
    val qw = Window.partitionBy("q_id").orderBy(col("kcos").desc, col("k_id"))
    val probed = q.join(broadcast(cents), col("q_id").isNotNull)
      .withColumn("kcos", cosine("q_e", "k_e"))
      .withColumn("rk", row_number().over(qw)).filter(col("rk") <= probes)
      .select(col("q_id"), col("q_e"), col("k_id").as("cluster"))

    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    assigned.join(broadcast(probed), Seq("cluster"))
      .filter(if (excludeSelf) col("c_id") =!= col("q_id") else lit(true))
      .withColumn("cos", cosine("q_e", "c_e"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("c_id").as("neighbor_id"), col("cos"))
  }

  /** V34 (beyond reference): filtered ANN — top-3 among label=1 vectors
    * only, probing 2 of the full-corpus cells. The oracle replays centroid
    * selection on the FULL table and assignment on the filtered slice.
    */
  val v34: GraftQuery = GraftQuery(
    "v34_ann_filtered_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      filteredIvfTopK(emb, emb.filter(col("vec_id") < 10),
        col("label") === 1, k = 3, probes = 2)
    },
    Some("""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT f.vec_id, f.e, c.k_id, row_number() OVER (PARTITION BY f.vec_id
           |    ORDER BY list_cosine_similarity(f.e, c.ke) DESC, c.k_id) AS rk
           |  FROM (SELECT * FROM v WHERE label = 1) f CROSS JOIN cents c) WHERE rk = 1),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |probes AS (SELECT vec_id AS q_id, e AS qe, k_id AS cluster FROM (
           |  SELECT q.vec_id, q.e, c.k_id, row_number() OVER (PARTITION BY q.vec_id
           |    ORDER BY list_cosine_similarity(q.e, c.ke) DESC, c.k_id) AS rk
           |  FROM q CROSS JOIN cents c) WHERE rk <= 2)
           |SELECT q_id, neighbor_id, cos FROM (
           |  SELECT p.q_id, a.vec_id AS neighbor_id, list_cosine_similarity(p.qe, a.e) AS cos
           |  FROM probes p JOIN assign a USING (cluster) WHERE a.vec_id != p.q_id)
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): recall@k of FILTERED
    * IVF search against the filtered exact baseline — the probes-vs-recall
    * trade under a predicate, which is worse than unfiltered recall
    * whenever matching rows are sparse per cell (fewer than k matches in
    * the probed cells leaves the query short). Per query:
    * (q_id, k, hits, recall).
    */
  def filteredRecallEval(corpus: DataFrame, queries: DataFrame, pred: Column,
      k: Int, probes: Int = 2, excludeSelf: Boolean = true): DataFrame = {
    val bf = bruteForceTopK(corpus.filter(pred), queries, k, excludeSelf)
      .select("q_id", "neighbor_id")
    val ivf = filteredIvfTopK(corpus, queries, pred, k, probes, excludeSelf)
      .select(col("q_id").as("iq"), col("neighbor_id").as("inb"))
    bf.join(ivf, bf("q_id") === col("iq") && bf("neighbor_id") === col("inb"),
        "left")
      .groupBy("q_id").agg(
        count(lit(1)).as("k"),
        sum(when(col("iq").isNotNull, 1L).otherwise(0L)).as("hits"))
      .withColumn("recall", col("hits").cast("double") / col("k"))
      .select("q_id", "k", "hits", "recall")
  }

  /** V35 (beyond reference): filtered-search recall eval — v34's search vs
    * the label-filtered brute force, recall@3 per query.
    */
  val v35: GraftQuery = GraftQuery(
    "v35_ann_filtered_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      filteredRecallEval(emb, emb.filter(col("vec_id") < 10),
        col("label") === 1, k = 3, probes = 2)
    },
    Some("""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
           |f AS (SELECT * FROM v WHERE label = 1),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |bf AS (SELECT q_id, neighbor_id FROM (
           |  SELECT q.vec_id AS q_id, f.vec_id AS neighbor_id,
           |         list_cosine_similarity(q.e, f.e) AS cos
           |  FROM q JOIN f ON f.vec_id != q.vec_id)
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT f.vec_id, f.e, c.k_id, row_number() OVER (PARTITION BY f.vec_id
           |    ORDER BY list_cosine_similarity(f.e, c.ke) DESC, c.k_id) AS rk
           |  FROM f CROSS JOIN cents c) WHERE rk = 1),
           |probes AS (SELECT vec_id AS q_id, e AS qe, k_id AS cluster FROM (
           |  SELECT q.vec_id, q.e, c.k_id, row_number() OVER (PARTITION BY q.vec_id
           |    ORDER BY list_cosine_similarity(q.e, c.ke) DESC, c.k_id) AS rk
           |  FROM q CROSS JOIN cents c) WHERE rk <= 2),
           |ivf AS (SELECT q_id, neighbor_id FROM (
           |  SELECT p.q_id, a.vec_id AS neighbor_id, list_cosine_similarity(p.qe, a.e) AS cos
           |  FROM probes p JOIN assign a USING (cluster) WHERE a.vec_id != p.q_id)
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3)
           |SELECT bf.q_id, count(*) AS k,
           |  CAST(sum(CASE WHEN ivf.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           |  CAST(sum(CASE WHEN ivf.q_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
           |FROM bf LEFT JOIN ivf ON bf.q_id = ivf.q_id AND bf.neighbor_id = ivf.neighbor_id
           |GROUP BY bf.q_id""".stripMargin))

  /** Public DataFrame-in API (see graft.api.Graft): per-cell selectivity
    * audit for filtered search — the planning signal vector stores use to
    * choose between cell-pruned filtered search ([[filteredIvfTopK]]) and
    * a plain filtered scan: if the probed cells hold fewer matching rows
    * than k, pruning starves the query and probes must rise (or the
    * predicate is selective enough that brute force over the match set is
    * cheaper anyway). Emits per cell
    * (cluster, n_vectors, n_matching, match_ppm) — all integers
    * (ppm = matching·1e6 DIV total, exact in both engines).
    *
    * Scale: the v2 assignment (one corpus scan + K-row broadcast) and one
    * cluster-keyed count — map-side combinable, K output rows.
    */
  def filterSelectivityAudit(corpus: DataFrame, pred: Column): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val cents = centroidsOf(corpus)
    val marked = corpus.withColumn("m", when(pred, 1L).otherwise(0L))
    assign(withNorm(marked, "c"), cents)
      .join(marked.select(col("vec_id").as("c_id"), col("m")), "c_id")
      .groupBy("cluster").agg(
        count(lit(1)).cast("long").as("n_vectors"),
        sum("m").as("n_matching"))
      .withColumn("match_ppm",
        expr("n_matching * 1000000 DIV n_vectors"))
  }

  /** V36 (beyond reference): filtered-search selectivity audit over the
    * label=1 predicate — per-cell match density, the pre/post-filter
    * planner input. The oracle replays assignment and the integer ppm.
    */
  val v36: GraftQuery = GraftQuery(
    "v36_filter_selectivity_audit",
    (s, d) => filterSelectivityAudit(
      Tables.embeddings(s, d), col("label") === 1),
    Some("""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, label, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.label, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN cents c) WHERE rk = 1)
           |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
           |  CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_matching,
           |  CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) * 1000000
           |    // count(*) AS BIGINT) AS match_ppm
           |FROM assign GROUP BY cluster""".stripMargin))

  // ---------------------------------------------------- persisted indexes

  /** Public DataFrame-in API (see graft.api.Graft): PERSIST a vector index
    * — the build-once / query-many shape every production vector store
    * has, which none of the in-memory ops (v2/v4/v8/v9) demonstrate. An
    * index ROOT is a [[graft.core.VersionedStore]] root (see the
    * versioned-roots section); each published version directory holds
    * one or more [[Tier]]s next to ONE `tombstones/` table (vec_id), and
    * every lifecycle verb is written once over them: [[buildVecIndex]],
    * [[appendToVecIndex]], [[deleteFromVecIndex]], [[compactVecIndex]],
    * [[rebuildVecIndex]], [[graft.core.VersionedStore.vacuum]] and the
    * route planner [[searchVecIndex]]. Layouts (`tiers`): "ivf", "pq", "both" (ivf + pq
    * under one root — the rerank route's input) and "ivfpq" (residual).
    */
  private sealed abstract class Tier(val name: String, val dirs: Seq[String],
      val data: String, val key: String, val payload: String,
      val partitioned: Boolean, columns: Seq[StructField]) {

    /** The declared schema of the `data` directory: the columns [[encode]]
      * writes, then — for a partitioned tier — `cluster` in the type
      * partition inference would give it (INT while every cell id fits,
      * BIGINT otherwise; cell ids are the centroid ids, so the type is read
      * off the cached centroids). Every read of the data passes it, so no
      * read runs a footer-inference job.
      */
    def schema(s: SparkSession, path: String): StructType =
      if (!partitioned) StructType(columns)
      else StructType(columns :+ StructField("cluster",
        if (loadIvfCentroids(s, path).forall(_._1.isValidInt)) IntegerType
        else LongType))

    /** Write this tier's geometry and its encoding of `corpus` under
      * `path` (every directory mode=overwrite).
      */
    def build(corpus: DataFrame, path: String): Unit

    /** `batch` encoded against the PERSISTED geometry under `path` — the
      * append kernel: per-row and stateless, so any batch decomposition
      * of the same vectors yields the identical index.
      */
    def encode(batch: DataFrame, path: String): DataFrame

    /** Write data rows, keeping the `cluster` partitioning serving prunes
      * on when the tier has it.
      */
    def write(rows: DataFrame, dir: String, mode: String): Unit = {
      val w = rows.write.mode(mode)
      (if (partitioned) w.partitionBy("cluster") else w).parquet(dir)
    }
  }

  /** Raw IVF: `centroids/` (K rows) plus `postings/` PARTITIONED BY
    * cluster, so the posting lists are directory-separated on disk and a
    * probe reads only its cells' files. Build = one corpus scan + one
    * cluster-keyed write; the probed search is bit-identical to
    * [[ivfTopK]] (centroids and double-cast posting vectors round-trip
    * parquet exactly).
    */
  private object IvfTier extends Tier("ivf", Seq("centroids", "postings"),
      "postings", "c_id", "c_e", partitioned = true,
      Seq(StructField("c_id", LongType), StructField("c_e", Doubles))) {
    def build(corpus: DataFrame, path: String): Unit = {
      centroidsOf(corpus).write.mode("overwrite").parquet(s"$path/centroids")
      write(encode(corpus, path), s"$path/postings", "overwrite")
    }
    def encode(batch: DataFrame, path: String): DataFrame =
      assign(withNorm(batch, "c"), centroidRows(batch.sparkSession, path))
  }

  /** PQ — the COMPRESSED tier: `codebook/` (PqKs rows, explicitly
    * j-indexed so codeword identity survives storage), `codes/` (vec_id,
    * codes: array<int> — M=dim/8 small codes per vector, the
    * representation that keeps a billion-vector index in RAM) and
    * `stats/`, the build-time distortion baseline [[pqDriftAudit]]
    * compares against (frozen at build, never touched by appends). The
    * serving scan reads codes only, never a float.
    */
  private object PqTier extends Tier("pq", Seq("codebook", "codes", "stats"),
      "codes", "vec_id", "codes", partitioned = false, CodeColumns) {
    def build(corpus: DataFrame, path: String): Unit = {
      val cb = writeCodebook(
        corpus.select(col("vec_id").as("id"), toDoubles.as("e")), path)
      write(encodeAgainst(corpus, cb), s"$path/codes", "overwrite")
      pqReconStats(corpus.sparkSession, path, corpus)
        .write.mode("overwrite").parquet(s"$path/stats")
    }
    def encode(batch: DataFrame, path: String): DataFrame =
      encodeAgainst(batch, loadPqCodebook(batch.sparkSession, path))
  }

  /** Residual IVF-PQ — the storage shape production vector stores ship
    * (FAISS IndexIVFPQ): `centroids/` (cell geometry), `codebook/` (PqKs
    * RESIDUAL codewords — quantizing x − centroid instead of x
    * concentrates the codebook on within-cell variation) and `codes/`
    * PARTITIONED BY cluster. Pruning and compression COMPOSE at serving
    * time: a query reads only its probed cells' directories, and those
    * hold M small ints per vector — at 100 TB the scan is ~probes/K of
    * the corpus as codes, never a float. Lossy: a residual root stores
    * no raw vectors, so it can only be rebuilt from a source corpus.
    */
  private object ResidualTier extends Tier("ivfpq",
      Seq("centroids", "codebook", "codes"), "codes", "vec_id", "codes",
      partitioned = true, CodeColumns) {
    def build(corpus: DataFrame, path: String): Unit = {
      centroidsOf(corpus).write.mode("overwrite").parquet(s"$path/centroids")
      // residuals, pinned once: reused by the codebook sample AND the encode
      val res = residualsOf(corpus, path).localCheckpoint()
      val cb = writeCodebook(res.select(col("c_id").as("id"), col("r").as("e")), path)
      write(encodeResiduals(res, cb), s"$path/codes", "overwrite")
    }
    def encode(batch: DataFrame, path: String): DataFrame =
      encodeResiduals(residualsOf(batch, path),
        loadPqCodebook(batch.sparkSession, path))
  }

  private val Doubles = ArrayType(DoubleType)

  private val CodeColumns =
    Seq(StructField("vec_id", LongType), StructField("codes", ArrayType(IntegerType)))

  /** `tombstones/` — the one delete table of a root. */
  private val TombstoneSchema = StructType(Seq(StructField("vec_id", LongType)))

  private val CentroidSchema =
    StructType(Seq(StructField("k_id", LongType), StructField("k_e", Doubles)))

  private val CodebookSchema =
    StructType(Seq(StructField("j", IntegerType), StructField("e", Doubles)))

  /** `stats/`, the PQ tier's build-time [[pqReconStats]] row. */
  private val StatsSchema = StructType(Seq("n", "sum_q", "min_q").map(StructField(_, LongType)))

  /** Tier `t`'s data rows under `path`, read with its declared schema.
    * The frame lists the tier's files when it is built and keeps that
    * listing: a search built after an append by any process serves the
    * appended files, and a serving layer that caches a built plan stamps
    * it on the version directory's listing ([[graft.core.ListingCache]]),
    * so the append re-keys it.
    */
  private def tierRows(s: SparkSession, path: String, t: Tier): DataFrame =
    s.read.schema(t.schema(s, path)).parquet(s"$path/${t.data}")

  /** The persisted centroid table (k_id, k_e) — the assignment input of
    * the IVF and residual encoders.
    */
  private def centroidRows(s: SparkSession, path: String): DataFrame =
    s.read.schema(CentroidSchema).parquet(s"$path/centroids")

  /** The declared schema of every directory under the root at `path`
    * that a reader passes one for: each tier's data directory, the
    * geometry tables and `tombstones/`, those present.
    */
  private[graft] def declaredSchemas(s: SparkSession, path: String): Map[String, StructType] =
    (layoutOf(s, path).map(t => t.data -> t.schema(s, path)) ++
      Seq("centroids" -> CentroidSchema, "codebook" -> CodebookSchema,
        "stats" -> StatsSchema, "tombstones" -> TombstoneSchema)
        .filter(d => exists(s, s"$path/${d._1}"))).toMap

  private val layouts: Map[String, Seq[Tier]] = Map(
    "ivf" -> Seq(IvfTier), "pq" -> Seq(PqTier),
    "both" -> Seq(IvfTier, PqTier), "ivfpq" -> Seq(ResidualTier))

  /** The tiers each search route reads. */
  private val routes: Map[String, Seq[Tier]] = Map(
    "ivf" -> Seq(IvfTier), "pq" -> Seq(PqTier),
    "rerank" -> Seq(IvfTier, PqTier), "ivfpq" -> Seq(ResidualTier))

  private def tiersNamed(tiers: String): Seq[Tier] = layouts.getOrElse(tiers,
    sys.error(s"unknown tiers '$tiers' (ivf | pq | both | ivfpq)"))

  private val toDoubles: Column = expr("transform(embedding, x -> CAST(x AS DOUBLE))")

  private def fsOf(s: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def exists(s: SparkSession, dir: String): Boolean =
    fsOf(s, dir).exists(new org.apache.hadoop.fs.Path(dir))

  /** The tiers present in an index version directory — THE layout probe
    * every verb routes on, so maintenance and serving can never disagree
    * about what a root is. Raw `postings/` mark the IVF tier; `codes/`
    * are the residual tier when `centroids/` sit next to them without
    * postings, the flat PQ tier otherwise.
    */
  private def layoutOf(s: SparkSession, path: String): Seq[Tier] = {
    val has = Seq("postings", "codes", "centroids")
      .map(d => d -> exists(s, s"$path/$d")).toMap
    if (has("postings")) IvfTier +: (if (has("codes")) Seq(PqTier) else Nil)
    else if (!has("codes")) Nil
    else if (has("centroids")) Seq(ResidualTier)
    else Seq(PqTier)
  }

  private def requireLayout(s: SparkSession, path: String, verb: String): Seq[Tier] = {
    val tiers = layoutOf(s, path)
    require(tiers.nonEmpty, s"$verb: no index tier found under $path")
    tiers
  }

  /** `rows` minus tombstoned ids — the ONE alive filter every read path
    * (serving routes, compaction, rebuild, audits) applies: `NOT IN` on
    * `key` (postings carry c_id, codes vec_id) against the root's
    * tombstoned ids, which the driver holds ([[tombstoneIds]]). The ids
    * enter the plan as a literal set, so the filter runs inside the scan's
    * own stage: no join, no broadcast, no job of its own. Deleted ids stop
    * being served at the NEXT query with zero data-file rewrites on the
    * serving path; [[compactVecIndex]] reclaims the space in the next
    * version.
    */
  private def aliveRows(s: SparkSession, path: String, rows: DataFrame,
      key: String): DataFrame = {
    val dead = tombstoneIds(s, path)
    if (dead.isEmpty) rows else rows.filter(!col(key).isInCollection(dead.toSeq))
  }

  private val tombstones = new graft.core.ListingCache[Array[Long]]

  /** The distinct vec_ids of the root's `tombstones/` table, sorted, as a
    * driver array — one [[graft.core.ListingCache]] entry per directory.
    * A delete appends a file and so re-stamps the entry: the next read
    * pays one collect job, every read after it none. A root without
    * tombstones costs one existence probe. The set is bounded by the
    * compaction cadence: [[compactVecIndex]] publishes a successor version
    * without tombstones.
    */
  private def tombstoneIds(s: SparkSession, path: String): Array[Long] = {
    val dir = s"$path/tombstones"
    tombstones(s, dir) {
      if (!exists(s, dir)) Array.empty[Long]
      else {
        import s.implicits._
        s.read.schema(TombstoneSchema).parquet(dir).as[Long].collect().distinct.sorted
      }
    }
  }

  /** `df` with its vec_id as BIGINT — every id a tier or the tombstone
    * table persists goes through this, so the files of one directory never
    * mix INT and BIGINT ids (a reader would fail on whichever file
    * disagrees with the schema it reads with).
    */
  private def longIds(df: DataFrame): DataFrame =
    df.withColumn("vec_id", col("vec_id").cast("long"))

  private def buildTiers(corpus: DataFrame, path: String, tiers: Seq[Tier]): Unit = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val rows = longIds(corpus)
    tiers.foreach(_.build(rows, path))
  }

  /** Persist `corpus` as a new index root of layout `tiers` ("ivf" | "pq"
    * | "both" | "ivfpq"): version 1 is built under `roots/v00000001`, then
    * the manifest pointer is published. Index build cost (one corpus scan
    * + one write per tier) is paid once; every [[searchVecIndex]] call then
    * pays only the tiny geometry reads plus probed-partition / code scans.
    * A crash before publish leaves only unpublished debris (readers see
    * "no version") that the retry builds over. The first build is
    * single-writer like every other version: a cross-process double-init
    * (two pollers cold-starting the same scratch root) builds once — the
    * loser waits for the winner's publish. A root that already has a
    * version is refused; [[rebuildVecIndex]] publishes its successors.
    * Returns the version directory.
    */
  def buildVecIndex(corpus: DataFrame, root: String, tiers: String = "ivf",
      leaseTtlMs: Long = VersionedStore.DefaultLeaseTtlMs): String = {
    val ts = tiersNamed(tiers)
    VersionedStore.init(corpus.sparkSession, root, leaseTtlMs)(
      buildVersion(corpus, _, ts))
  }

  /** Append new vectors to EVERY tier of the root's current version, each
    * encoded against its PERSISTED geometry — centroids and codebooks
    * never move under running queries; recentering/retraining is a
    * rebuild that [[rebuildAdvisor]] decides. Appends add files and remove
    * none, so a reader pinned to the version keeps its files. Stream-safe
    * and order-independent (t38, t40, t42 gate it on the ingest stream). A
    * REDELIVERED batch (foreachBatch at-least-once) duplicates
    * deterministic rows, which serving collapses (see
    * [[searchIvfIndexPlanned]]) and compaction physically reclaims.
    */
  def appendToVecIndex(batch: DataFrame, root: String): Unit = {
    val s = batch.sparkSession
    graft.plans.GraftExtensions.register(s)
    val dir = VersionedStore.resolve(s, root)
    requireLayout(s, dir, "appendToVecIndex").foreach(t =>
      t.write(t.encode(longIds(batch), dir), s"$dir/${t.data}", "append"))
  }

  /** LOGICAL delete — the right-to-be-forgotten path: `ids` (a vec_id
    * column) land in the current version's one tombstone table and every
    * route stops serving them at the NEXT query, with zero interruption
    * and zero data-file rewrites. Geometry is not data: a deleted
    * centroid- or codeword-source vector still anchors its cell/codeword.
    * [[compactVecIndex]] and [[rebuildVecIndex]] drop the rows physically
    * in the successor version.
    */
  def deleteFromVecIndex(s: SparkSession, root: String, ids: DataFrame): Unit = {
    val dir = VersionedStore.resolve(s, root)
    requireLayout(s, dir, "deleteFromVecIndex")
    longIds(ids.select(col("vec_id"))).write.mode("append").parquet(s"$dir/tombstones")
  }

  /** Tier `t`'s data rows minus tombstones and minus the rows a
    * redelivered append doubled — what compaction keeps. ADVICE r12: the
    * serving lag-collapse (see [[searchIvfIndexPlanned]]) is exactly-once
    * only under the immutable-vec_id contract (equal ids carry bit-equal
    * payloads). Compaction scans the data anyway, so this is where a
    * contract violation SURFACES instead of silently double-serving a
    * mutated id: duplicated ALIVE ids must agree — tombstoned ids are
    * excluded, since a delete-then-reappend under a recycled id is the
    * documented mutation path and compaction itself reclaims the old rows.
    */
  private def compacted(s: SparkSession, path: String, t: Tier): DataFrame = {
    val alive = aliveRows(s, path, tierRows(s, path, t), t.key)
    val mutated = alive
      .groupBy(t.key)
      .agg(countDistinct(hash(col(t.payload))).as("nv"))
      .filter(col("nv") > 1).limit(1).count()
    require(mutated == 0L,
      s"compactVecIndex: $path holds re-appended ids with CHANGED " +
        "payloads — vec_id is an immutable key (mutation = delete + new " +
        "id); the serving dedup assumes bit-identical duplicates")
    alive.dropDuplicates(t.key)
  }

  /** Compact by publishing v{N+1}: the current version's geometry
    * directories are byte-copied and each tier's data is rewritten via
    * [[compacted]] (a partitioned tier keeps `partitionBy("cluster")`, the
    * layout serving prunes on) under the single-writer lease — at scale
    * one index scan + one write per tier, amortized across many deletes.
    * The current version is never rewritten, so a search resolved before
    * the compaction still reads its files, and results on every route are
    * IDENTICAL after the flip (VectorOpsSpec pins it). A failure leaves vN
    * serving and unpublished debris the retry builds over. No tombstones =
    * nothing to reclaim = no new version.
    */
  def compactVecIndex(s: SparkSession, root: String): Unit = {
    val cur = VersionedStore.resolve(s, root)
    if (!exists(s, s"$cur/tombstones")) return
    val tiers = requireLayout(s, cur, "compactVecIndex")
    VersionedStore.buildNext(s, root, VersionedStore.DefaultLeaseTtlMs) { dir =>
      val fs = fsOf(s, dir)
      remove(s, dir)
      tiers.flatMap(_.dirs).distinct.filterNot(d => tiers.exists(_.data == d))
        .foreach { d =>
          require(org.apache.hadoop.fs.FileUtil.copy(
              fs, new org.apache.hadoop.fs.Path(s"$cur/$d"),
              fs, new org.apache.hadoop.fs.Path(s"$dir/$d"),
              false, true, s.sparkContext.hadoopConfiguration),
            s"compactVecIndex: copy of $cur/$d failed")
        }
      tiers.foreach(t => t.write(compacted(s, cur, t), s"$dir/${t.data}", "overwrite"))
    }
    (): Unit
  }

  private def remove(s: SparkSession, dir: String): Unit =
    fsOf(s, dir).delete(new org.apache.hadoop.fs.Path(dir), true): Unit

  /** The corpus a rebuild re-derives geometry from, tombstones applied so
    * a deleted id never resurrects: the external source-of-truth
    * `corpus` when given (the FAISS retrain posture), else the root's own
    * raw postings — the stored vectors ARE the corpus; redelivered-append
    * duplicates collapsed, and double arrays pass [[withNorm]]'s cast
    * unchanged, so builds on this reconstruction are bit-identical to
    * builds on the original corpus. A codes-only root is lossy and needs
    * the external corpus.
    */
  private def aliveCorpus(s: SparkSession, dir: String, tiers: Seq[Tier],
      corpus: Option[DataFrame]): DataFrame = corpus match {
    case Some(c) => aliveRows(s, dir, c, "vec_id")
    case None =>
      require(tiers.contains(IvfTier),
        s"rebuild: $dir has no raw postings tier to rebuild from — a " +
          "codes-only root is lossy; retrain it from the source-of-truth " +
          "corpus (corpus = Some(df))")
      aliveRows(s, dir, tierRows(s, dir, IvfTier).select("c_id", "c_e"), "c_id")
        .dropDuplicates("c_id")
        .select(col("c_id").as("vec_id"), col("c_e").as("embedding"))
  }

  /** OFFLINE recenter/rebuild into version N+1 — the consumer of the
    * drift diagnostics (v18's needs_split, [[pqDriftAudit]],
    * [[rebuildAdvisor]]): derive the [[aliveCorpus]] of the CURRENT
    * version (its own raw postings, or the source-of-truth `corpus` — the
    * only source a lossy codes-only root has; tombstones honored either
    * way, so a deleted id never resurrects), run the ordinary fresh build
    * of the same tier layout into `roots/v{N+1}`, publish. Tombstoned rows
    * are gone from the new version by construction. Returns the new
    * version directory.
    *
    * Contract (v43's oracle pins it): the new version is
    * BIT-INDISTINGUISHABLE from an index freshly built on the current
    * corpus — same centroid rule, same assignment, same serving results —
    * so recall can only move toward the fresh-index recall, never below it
    * (VectorOpsSpec gates non-regression under planted cluster drift). The
    * current version is never touched: a search running concurrently
    * serves fully-old results, the next request fully-new, never mixed
    * geometry.
    *
    * SINGLE-WRITER: the rebuild claims an exclusive lease on v{N+1} before
    * touching roots/ — a concurrent rebuild (a second maintenance job, or
    * a retry racing its zombie) fails loudly instead of interleaving tier
    * overwrites inside the same unpublished directory. A lease left by a
    * crashed writer expires after `leaseTtlMs` and the retry takes over.
    */
  def rebuildVecIndex(s: SparkSession, root: String,
      corpus: Option[DataFrame] = None,
      leaseTtlMs: Long = VersionedStore.DefaultLeaseTtlMs): String = {
    val cur = VersionedStore.resolve(s, root)
    val tiers = requireLayout(s, cur, "rebuildVecIndex")
    VersionedStore.buildNext(s, root, leaseTtlMs)(
      buildVersion(aliveCorpus(s, cur, tiers, corpus), _, tiers))
  }

  /** Frozen index geometry (centroid tables, codebooks) as driver arrays,
    * one entry per geometry directory, stamped with the directory's
    * listing ([[graft.core.ListingCache]]). Geometry is written once per
    * build and never touched by appends or deletes; a directory rewritten
    * in place anyway (an overwrite, a rename by another process) gets new
    * part files, whose names carry a per-write UUID, so a stale stamp
    * cannot match.
    */
  private val geometry = new graft.core.ListingCache[AnyRef]

  private def cachedGeometry[T <: AnyRef](s: SparkSession, dir: String)(load: => T): T =
    geometry(s, dir)(load).asInstanceOf[T]

  /** The K-row centroid table as a driver array — tiny by contract, and
    * cached per `centroids/` directory (see [[geometry]]): a warm call
    * costs one directory listing and no Spark job, whichever route,
    * encoder or serving layer asks. Callers share the arrays and must not
    * mutate them.
    */
  private[graft] def loadIvfCentroids(s: SparkSession, path: String): Array[(Long, Array[Double])] =
    cachedGeometry(s, s"$path/centroids") {
      import s.implicits._
      centroidRows(s, path).as[(Long, Seq[Double])]
        .collect().map { case (i, e) => (i, e.toArray) }
    }

  /** The PqKs-row codebook as a driver array in codeword order — cached
    * per `codebook/` directory exactly like [[loadIvfCentroids]].
    */
  private[graft] def loadPqCodebook(s: SparkSession, path: String): Array[Array[Double]] =
    cachedGeometry(s, s"$path/codebook") {
      import s.implicits._
      s.read.schema(CodebookSchema).parquet(s"$path/codebook")
        .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    }

  /** Collect a (vec_id, embedding) query set to the driver in the exact
    * form every planned search consumes: double-cast, id-sorted. Bounded
    * by the same small-query-side contract that lets v1 broadcast
    * queries. PUBLIC so a serving layer can cache a fixed demo/query
    * batch across polls.
    */
  def collectQueryVectors(queries: DataFrame): Array[(Long, Array[Double])] = {
    val s = queries.sparkSession
    import s.implicits._
    queries.select(col("vec_id"), toDoubles).as[(Long, Seq[Double])]
      .collect().map { case (id, e) => (id, e.toArray) }.sortBy(_._1)
  }

  /** The SERVING PLANNER over the persisted tiers — one entry point that
    * picks a route per query budget, the way a production vector store
    * fronts its index files:
    *
    *   - `"ivf"`    — raw-vector probed-cell search: exact scores inside
    *                  the probed cells, reads floats.
    *   - `"pq"`     — code-only ADC scan: cheapest IO (8 ints/vector),
    *                  approximate scores.
    *   - `"rerank"` — two-stage (the v15 shape): PQ codes nominate
    *                  `rerankCandidates` ids per query, raw vectors are
    *                  fetched BY ID from the postings tier for exact
    *                  cosine rerank — code-scan IO with exact final
    *                  scores; the fetch touches |Q| x candidates rows,
    *                  never the corpus.
    *   - `"ivfpq"`  — residual ADC over probed-cell code directories.
    *   - `"auto"`   — the route the root's layout supports best: rerank
    *                  when both flat tiers exist, otherwise the one tier.
    *
    * The pointer is resolved ONCE, here: the result reads only the
    * version current at this call, so a compaction or rebuild publishing
    * a successor before it executes cannot reshape or vanish its files.
    * Each route is fed the query batch this call collects, the cached
    * geometry ([[loadIvfCentroids]], [[loadPqCodebook]]) and tombstoned
    * ids ([[tombstoneIds]]), and runs in the posture the size of its scan
    * picks ([[onDriver]]): a search whose files fit one advisory partition
    * is scored and ranked on the driver over cached decoded tier rows and
    * returned as a local relation, so a warm one with a local query batch
    * submits no Spark job and reads no file; a larger one returns the
    * parallel plan. Output: (q_id, neighbor_id, cos) for ivf/rerank;
    * (q_id, neighbor_id, adc) for pq/ivfpq — native scores per route,
    * each oracle-gated (serve_vec_search / _pq / _rerank, v44) with a
    * recall eval next to them (serve_vec_recall).
    */
  def searchVecIndex(s: SparkSession, root: String, queries: DataFrame,
      k: Int, probes: Int = 2, tier: String = "auto",
      rerankCandidates: Int = 32, excludeSelf: Boolean = true): DataFrame =
    searchPinned(s, VersionedStore.resolve(s, root), queries, k, probes, tier,
      rerankCandidates, excludeSelf).drop("rank")

  /** [[searchVecIndex]] over an already-resolved version directory `path`
    * — the seam a serving layer that pins the version itself calls. Each
    * row keeps its per-query `rank` (1..k) next to the route's score, and
    * both postures return the same schema (names, types, nullability).
    */
  private[graft] def searchPinned(s: SparkSession, path: String,
      queries: DataFrame, k: Int, probes: Int, tier: String,
      rerankCandidates: Int = 32, excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    val tiers = layoutOf(s, path)
    val route = tier match {
      case "auto" => tiers match {
        case Seq(IvfTier, PqTier) => "rerank"
        case Seq(t) => t.name
        case _ => sys.error(s"searchVecIndex: no index tier found under $path")
      }
      case t if routes.contains(t) => t
      case other => sys.error(
        s"searchVecIndex: unknown tier '$other' (ivf | pq | rerank | ivfpq | auto)")
    }
    val needs = routes(route)
    require(needs.forall(tiers.contains), s"searchVecIndex: the $route route " +
      s"needs the ${needs.map(_.name).mkString(" + ")} tier(s) under $path, " +
      s"found [${tiers.map(_.name).mkString(", ")}]")
    val qs = collectQueryVectors(queries)
    route match {
      case "ivf" => searchIvfIndexPlanned(s, path, qs, loadIvfCentroids(s, path),
        k, probes, excludeSelf)
      case "pq" => searchPqIndexPlanned(s, path, qs, loadPqCodebook(s, path),
        k, excludeSelf)
      case "rerank" => searchRerankPlanned(s, path, qs, loadPqCodebook(s, path),
        k, rerankCandidates, excludeSelf)
      case _ => searchIvfPqPlanned(s, path, qs, loadIvfCentroids(s, path),
        loadPqCodebook(s, path), k, probes, excludeSelf)
    }
  }

  /** The decoded rows of one tier data directory (`postings/` or
    * `codes/`) that driver-posture searches have loaded, made under the
    * directory's listing `stamp`. It holds the rows of whole cells (the
    * `cluster=<id>` directories of a partitioned tier, the one cell "" of
    * a flat one), loaded on demand: a search loads only the cells it reads
    * and the entry does not hold yet, in one collect. Together they never
    * exceed `limit` bytes of parquet files — a search whose cells would
    * push the entry past it replaces the entry's rows with its own cells.
    * Tombstoned rows stay in (the alive filter runs at search time), and
    * every search reads an immutable snapshot of the rows, so concurrent
    * searches never see a half-merged entry.
    */
  private final class DecodedTier(stamp: Seq[(String, Long, Long)], partitioned: Boolean) {

    /** Parquet bytes per cell, summed over the data files of the stamp
      * (hidden and `_`-prefixed files are not data, as for Spark's file
      * index).
      */
    val cellBytes: Map[String, Long] = stamp.flatMap { case (name, len, _) =>
      val parts = name.split('/')
      if (parts.last.startsWith("_") || parts.last.startsWith(".")) None
      else if (partitioned && parts.length == 2 && parts(0).startsWith("cluster="))
        Some(parts(0) -> len)
      else if (!partitioned && parts.length == 1) Some("" -> len)
      else None
    }.groupMapReduce(_._1)(_._2)(_ + _)

    def bytes(cells: Set[String]): Long = cells.iterator.map(cellBytes.getOrElse(_, 0L)).sum

    private val held =
      new java.util.concurrent.atomic.AtomicReference((Set.empty[String], Vector.empty[Any]))

    def loaded: Set[String] = held.get._1

    /** The rows of (at least) `cells`; `load` reads the given cells. */
    def rows[R](cells: Set[String], limit: Long)(load: Set[String] => Seq[R]): Vector[R] = {
      val (have, got) = held.get
      val missing = cells -- have
      val snapshot =
        if (missing.isEmpty) got
        else {
          val next =
            if (bytes(have ++ missing) <= limit) (have ++ missing, got ++ load(missing))
            else (cells, load(cells).toVector)
          held.set(next)
          next._2
        }
      snapshot.asInstanceOf[Vector[R]]
    }
  }

  /** One [[DecodedTier]] per tier data directory, stamped on that
    * directory's listing: an append (a new file in the directory) re-keys
    * it, a delete (a new file in `tombstones/`) does not.
    */
  private val decoded = new graft.core.ListingCache[DecodedTier]

  /** Per data directory of the version at `path`, the cells its
    * decoded-rows entry holds: what driver-posture searches have loaded.
    */
  private[graft] def loadedCells(s: SparkSession, path: String): Map[String, Set[String]] =
    layoutOf(s, path).map(t => t.data -> tierRead(s, path, t, None).entry.loaded).toMap

  /** What one tier contributes to a search: its decoded-rows entry and
    * the listed cells the search reads.
    */
  private final case class TierRead(t: Tier, entry: DecodedTier, cells: Set[String]) {
    def bytes: Long = entry.bytes(cells)
  }

  /** Tier `t`'s share of a search over the cells `cellIds` (None = every
    * cell of the tier).
    */
  private def tierRead(s: SparkSession, path: String, t: Tier,
      cellIds: Option[Seq[Long]]): TierRead = {
    val entry = decoded.stamped(s, s"$path/${t.data}")(new DecodedTier(_, t.partitioned))
    val listed = entry.cellBytes.keySet
    TierRead(t, entry, cellIds.fold(listed)(_.map(c => s"cluster=$c").toSet & listed))
  }

  private def advisoryBytes(s: SparkSession): Long = s.sessionState.conf
    .getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** The posture a search runs in — the ONE place it is decided, before
    * any plan exists: on the driver when the parquet files its reads cover
    * — the probed cells for ivf and ivfpq, the code tier for pq, codes
    * plus postings for rerank — fit one
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` partition (the size
    * AQE would coalesce the ranking window's shuffle down to anyway, so
    * one task on an executor would have done the same serial work), and
    * as the parallel plan otherwise. The sizes come from the listings the
    * decoded-rows entries are stamped with: no Spark job, no second
    * listing. SCALEBENCH's skewed serve rows measure the driver posture
    * under a planted 50%-hot cell.
    */
  private def onDriver(s: SparkSession, reads: TierRead*): Boolean =
    reads.map(_.bytes).sum <= advisoryBytes(s)

  /** Tier `t`'s data rows under `path`, pruned to `cellIds` by a static
    * `IN` partition filter when given.
    */
  private def cellRows(s: SparkSession, path: String, t: Tier,
      cellIds: Option[Seq[Long]]): DataFrame = {
    val rows = tierRows(s, path, t)
    cellIds.fold(rows)(ids => rows.filter(col("cluster").isInCollection(cellLiterals(rows, ids))))
  }

  /** The decoded rows of `read`'s cells, alive (tombstoned ids dropped),
    * loading the missing cells through `typed` — the same typed read the
    * parallel plan scores.
    */
  private def driverRows[R](s: SparkSession, path: String, read: TierRead)
      (typed: DataFrame => org.apache.spark.sql.Dataset[R])(id: R => Long): Iterator[R] = {
    val rows = read.entry.rows(read.cells, advisoryBytes(s)) { missing =>
      val ids = if (read.t.partitioned) Some(missing.toSeq.map(_.stripPrefix("cluster=").toLong))
        else None
      typed(cellRows(s, path, read.t, ids)).collect().toSeq
    }
    val dead = tombstoneIds(s, path)
    if (dead.isEmpty) rows.iterator
    else rows.iterator.filter(r => java.util.Arrays.binarySearch(dead, id(r)) < 0)
  }

  /** Per-query top-k of scored (q_id, neighbor_id, score) rows, `score`
    * descending or ascending, ties to the smaller neighbor_id, with each
    * kept row's `rank` (1..k) — the ranker of the parallel posture. A
    * neighbor counts once: an at-least-once APPEND redelivery (t38) can
    * leave physically duplicated posting rows until the next compaction
    * (and the rerank route's id join multiplies them); rows are
    * deterministic per id, so duplicated scored pairs are BIT-IDENTICAL
    * and ADJACENT in the window order — a lag comparison inside the
    * ranking window collapses them without the extra (q_id, neighbor_id)
    * shuffle dropDuplicates would add (one exchange per query, and per
    * 100-TB candidate set). CONTRACT this leans on: vec_id is an
    * immutable key — a vector is never re-appended with CHANGED values
    * (mutation = delete + new id), so equal ids always carry equal
    * scores; out-of-contract mutated duplicates would not be adjacent and
    * would not collapse. [[ranked]] is the same rule on the driver.
    */
  private def topK(scored: DataFrame, score: String, descending: Boolean,
      k: Int): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(if (descending) col(score).desc else col(score).asc, col("neighbor_id"))
    scored.withColumn("prev", lag("neighbor_id", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .drop("prev")
  }

  /** [[topK]]'s exact rule on the driver, as (q_id, neighbor_id, score,
    * rank) rows ordered by q_id and rank: per query, sort by score with
    * Spark's SQL double ordering (NaN greatest, -0.0 == 0.0), then by
    * neighbor_id; drop a row whose neighbor_id equals the previous row's;
    * keep ranks 1..k.
    */
  private[graft] def ranked(scored: Iterator[(Long, Long, Double)], descending: Boolean,
      k: Int): Seq[(Long, Long, Double, Int)] = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    val order = new Ordering[(Long, Long, Double)] {
      def compare(a: (Long, Long, Double), b: (Long, Long, Double)): Int = {
        val c = if (descending) compareDoubles(b._3, a._3) else compareDoubles(a._3, b._3)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }
    scored.toArray.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, rows) =>
      val sorted = rows.sorted(order)
      sorted.indices.iterator
        .filter(i => i == 0 || sorted(i - 1)._2 != sorted(i)._2)
        .take(k).zipWithIndex
        .map { case (i, rank) => val (q, n, v) = sorted(i); (q, n, v, rank + 1) }
    }
  }

  /** [[ranked]] rows as a local relation with the parallel plan's schema:
    * (q_id, neighbor_id, `score`, rank), none nullable.
    */
  private def localResult(s: SparkSession, score: String,
      rows: Seq[(Long, Long, Double, Int)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.map { case (q, n, v, r) => Row(q, n, v, r) }.asJava,
      StructType(Seq(StructField("q_id", LongType, nullable = false),
        StructField("neighbor_id", LongType, nullable = false),
        StructField(score, DoubleType, nullable = false),
        StructField("rank", IntegerType, nullable = false))))
  }

  // ---- the scoring kernels: each route's one body, called by the
  // parallel plan's mapPartitions and by the driver posture alike

  /** ivf: each posting row (c_id, c_e, cluster) scored with cosArr
    * against the queries that probe its cell.
    */
  private def ivfScores(byCell: Map[Long, Array[(Long, Array[Double])]], excludeSelf: Boolean,
      rows: Iterator[(Long, Array[Double], Long)]): Iterator[(Long, Long, Double)] =
    rows.flatMap { case (cid, ce, cell) =>
      byCell.getOrElse(cell, Array.empty[(Long, Array[Double])]).iterator
        .filter(q => !excludeSelf || q._1 != cid)
        .map { case (qid, qa) => (qid, cid, cosArr(qa, ce)) }
    }

  /** pq: each code row (vec_id, codes) scored by ADC against every query's
    * lookup table.
    */
  private def pqScores(cb: Array[Array[Double]], qs: Array[(Long, Array[Double])],
      excludeSelf: Boolean, rows: Iterator[(Long, Array[Int])]): Iterator[(Long, Long, Double)] = {
    val pqM = cb(0).length / PqS
    val qtab = qs.map { case (qid, qa) => (qid, pqTable(qa, cb, pqM)) }
    rows.flatMap { case (cid, codes) =>
      qtab.iterator.filter(t => !excludeSelf || t._1 != cid)
        .map { case (qid, tab) => (qid, cid, pqAdc(tab, codes)) }
    }
  }

  /** rerank's fetch: each (q_id, candidate id, raw vector) row scored with
    * cosArr against its query.
    */
  private def rerankScores(qs: Map[Long, Array[Double]],
      rows: Iterator[(Long, Long, Array[Double])]): Iterator[(Long, Long, Double)] =
    rows.map { case (qid, cid, ce) => (qid, cid, cosArr(qs(qid), ce)) }

  /** ivfpq: each code row (vec_id, cluster, codes) scored by ADC against
    * the residual tables of the queries that probe its cell.
    */
  private def ivfPqScores(byCell: Map[Long, Seq[(Long, Array[Array[Double]])]],
      excludeSelf: Boolean, rows: Iterator[(Long, Long, Array[Int])]): Iterator[(Long, Long, Double)] =
    rows.flatMap { case (cid, cell, codes) =>
      byCell.getOrElse(cell, Nil).iterator.filter(t => !excludeSelf || t._1 != cid)
        .map { case (qid, tab) => (qid, cid, pqAdc(tab, codes)) }
    }

  /** The typed postings read of the ivf and rerank routes. */
  private def postingRows(rows: DataFrame): org.apache.spark.sql.Dataset[(Long, Array[Double], Long)] = {
    val s = rows.sparkSession
    import s.implicits._
    rows.select(col("c_id"), col("c_e"), col("cluster").cast("long"))
      .as[(Long, Array[Double], Long)]
  }

  /** The typed flat code read of the pq and rerank routes. */
  private def codeRows(rows: DataFrame): org.apache.spark.sql.Dataset[(Long, Array[Int])] = {
    val s = rows.sparkSession
    import s.implicits._
    rows.select(col("vec_id"), col("codes")).as[(Long, Array[Int])]
  }

  /** The typed residual code read of the ivfpq route. */
  private def residualRows(rows: DataFrame): org.apache.spark.sql.Dataset[(Long, Long, Array[Int])] = {
    val s = rows.sparkSession
    import s.implicits._
    rows.select(col("vec_id"), col("cluster").cast("long"), col("codes"))
      .as[(Long, Long, Array[Int])]
  }

  /** The ivf route with the driver-side planning inputs supplied by the
    * caller — the warm serving path: probe planning is DRIVER-SIDE: both
    * inputs are tiny by contract — K centroids and the query set — so
    * ranking cells in Scala (cosArr == graft_cosine ==
    * list_cosine_similarity, ties to smallest k_id: the exact v2 rule)
    * replaces a join + window + checkpoint + collect chain. Each posting
    * row of a probed cell is scored by [[ivfScores]] against the queries
    * that probe its cell — no join, so no exchange of the query side. On
    * the driver the probed cells' decoded rows come from the tier's
    * [[DecodedTier]] entry; in the parallel plan the probed cell ids —
    * bounded by #queries × probes — become a STATIC `IN` partition filter
    * on the postings scan, so only the probed directories are read
    * (VectorOpsSpec pins both), and the queries reach the scan through
    * `sc.broadcast`.
    */
  private[graft] def searchIvfIndexPlanned(s: SparkSession, path: String,
      qsArr: Array[(Long, Array[Double])], cents: Array[(Long, Array[Double])],
      k: Int, probes: Int = 2, excludeSelf: Boolean = true): DataFrame = {
    import s.implicits._
    val probed: Seq[(Long, (Long, Array[Double]))] = qsArr.toSeq.flatMap { q =>
      probedCells(q._2, cents, probes).map(c => (c._1, q))
    }
    val byCell: Map[Long, Array[(Long, Array[Double])]] =
      probed.groupBy(_._1).map { case (cell, qs) => cell -> qs.map(_._2).toArray }
    val cells = probed.map(_._1).distinct
    val postings = tierRead(s, path, IvfTier, Some(cells))
    if (onDriver(s, postings))
      localResult(s, "cos", ranked(ivfScores(byCell, excludeSelf,
        driverRows(s, path, postings)(postingRows)(_._1)), descending = true, k))
    else {
      val bc = s.sparkContext.broadcast((byCell, excludeSelf))
      val scored = postingRows(aliveRows(s, path, cellRows(s, path, IvfTier, Some(cells)), "c_id"))
        .mapPartitions { it => val (m, exclSelf) = bc.value; ivfScores(m, exclSelf, it) }
        .toDF("q_id", "neighbor_id", "cos")
      topK(scored, "cos", descending = true, k)
    }
  }

  /** The `probes` cells query `qa` probes: centroids ranked by cosArr
    * (== graft_cosine == list_cosine_similarity), ties to the smallest
    * k_id — the exact v2 rule.
    */
  private def probedCells(qa: Array[Double], cents: Array[(Long, Array[Double])],
      probes: Int): Seq[(Long, Array[Double])] =
    cents.map { case (kid, ke) => (kid, ke, cosArr(qa, ke)) }
      .sortBy { case (kid, _, c) => (-c, kid) }.take(probes)
      .map { case (kid, ke, _) => (kid, ke) }.toSeq

  /** Probed cell ids as `IN`-list literals of the partition column's
    * dtype: partition-dir values read back via type inference (INT for
    * small ids), and the literals must match that dtype EXACTLY — a cast
    * on the attribute side would defeat partition pruning.
    */
  private def cellLiterals(rel: DataFrame, cellIds: Seq[Long]): Seq[Any] =
    rel.schema("cluster").dataType match {
      case IntegerType => cellIds.map(_.toInt)
      case _ => cellIds
    }

  /** The rerank route with caller-supplied planning inputs (the cached
    * codebook + query batch): PQ codes nominate `rerankCandidates` ids
    * per query (stage 1, [[pqScores]] ranked like the pq route), raw
    * vectors are fetched BY ID from the postings tier for exact cosine
    * rerank (stage 2, [[rerankScores]] — the same doubles [[withNorm]]
    * would produce). On the driver the fetch looks the candidates up in
    * the decoded postings; in the parallel plan it is a broadcast id join
    * against the alive postings, with the query vectors reaching stage 2
    * through `sc.broadcast`.
    */
  private[graft] def searchRerankPlanned(s: SparkSession, path: String,
      qsArr: Array[(Long, Array[Double])], cb: Array[Array[Double]],
      k: Int, rerankCandidates: Int = 32, excludeSelf: Boolean = true): DataFrame = {
    import s.implicits._
    val codes = tierRead(s, path, PqTier, None)
    val postings = tierRead(s, path, IvfTier, None)
    if (onDriver(s, codes, postings)) {
      val cand = ranked(pqScores(cb, qsArr, excludeSelf,
        driverRows(s, path, codes)(codeRows)(_._1)), descending = false, rerankCandidates)
      val byId = driverRows(s, path, postings)(postingRows)(_._1).toSeq.groupBy(_._1)
      val fetched = cand.iterator.flatMap { case (qid, cid, _, _) =>
        byId.getOrElse(cid, Nil).iterator.map(p => (qid, cid, p._2))
      }
      localResult(s, "cos", ranked(rerankScores(qsArr.toMap, fetched), descending = true, k))
    } else {
      val cand = topK(pqScored(s, path, qsArr, cb, excludeSelf), "adc", descending = false,
        rerankCandidates).select("q_id", "neighbor_id")
      val bc = s.sparkContext.broadcast(qsArr.toMap)
      val fetched = broadcast(cand)
        .join(aliveRows(s, path, tierRows(s, path, IvfTier), "c_id"),
          col("neighbor_id") === col("c_id"))
        .select(col("q_id"), col("c_id"), col("c_e"))
        .as[(Long, Long, Array[Double])]
        .mapPartitions(it => rerankScores(bc.value, it))
        .toDF("q_id", "neighbor_id", "cos")
      topK(fetched, "cos", descending = true, k)
    }
  }

  /** The pq route with caller-supplied planning inputs (cached codebook +
    * query batch): the codebook (PqKs tiny rows) and query vectors build
    * per-query lookup tables, and [[pqScores]] scores ONLY the alive stored
    * codes — M table lookups per (query, vector), no float vectors;
    * bit-identical to the in-memory v8 path. On the driver the codes come
    * from the tier's [[DecodedTier]] entry; the parallel plan is one code
    * scan per search, with no shuffle before the per-query top-k.
    */
  private[graft] def searchPqIndexPlanned(s: SparkSession, path: String,
      qs: Array[(Long, Array[Double])], cb: Array[Array[Double]],
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val codes = tierRead(s, path, PqTier, None)
    if (onDriver(s, codes))
      localResult(s, "adc", ranked(pqScores(cb, qs, excludeSelf,
        driverRows(s, path, codes)(codeRows)(_._1)), descending = false, k))
    else topK(pqScored(s, path, qs, cb, excludeSelf), "adc", descending = false, k)
  }

  /** The parallel pq scan: (q_id, neighbor_id, adc) of every alive code
    * row, the codebook and queries broadcast.
    */
  private def pqScored(s: SparkSession, path: String, qs: Array[(Long, Array[Double])],
      cb: Array[Array[Double]], excludeSelf: Boolean): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast((cb, qs, excludeSelf))
    codeRows(aliveCodes(s, path))
      .mapPartitions { it => val (cbL, qL, exclSelf) = bc.value; pqScores(cbL, qL, exclSelf, it) }
      .toDF("q_id", "neighbor_id", "adc")
  }

  /** The ivfpq route — both scale levers at once: per query, rank cells
    * by centroid cosine (the v2 probe rule), build ONE residual lookup
    * table per probed cell from q − centroid, and score the probed cells'
    * alive codes with [[ivfPqScores]] — M table lookups per (query,
    * vector). On the driver the codes come from the tier's
    * [[DecodedTier]] entry; the parallel plan turns the probed cell ids
    * into a STATIC `IN` partition filter (the ivf route's file-pruning
    * discipline). The driver-side state is K centroids + PqKs codewords +
    * |Q| × probes tables — all tiny.
    */
  private def searchIvfPqPlanned(s: SparkSession, path: String,
      qs: Array[(Long, Array[Double])], cents: Array[(Long, Array[Double])],
      cb: Array[Array[Double]], k: Int, probes: Int,
      excludeSelf: Boolean): DataFrame = {
    import s.implicits._
    val pqM = cb(0).length / PqS
    // per (query, probed cell): the residual ADC table
    val qcell: Seq[(Long, Long, Array[Array[Double]])] = qs.toSeq.flatMap {
      case (qid, qa) => probedCells(qa, cents, probes).map { case (kid, ke) =>
        (qid, kid, pqTable(Array.tabulate(qa.length)(i => qa(i) - ke(i)), cb, pqM))
      }
    }
    val byCell: Map[Long, Seq[(Long, Array[Array[Double]])]] =
      qcell.groupBy(_._2).map { case (cell, rows) =>
        cell -> rows.map(r => (r._1, r._3))
      }
    val cells = qcell.map(_._2).distinct
    val codes = tierRead(s, path, ResidualTier, Some(cells))
    if (onDriver(s, codes))
      localResult(s, "adc", ranked(ivfPqScores(byCell, excludeSelf,
        driverRows(s, path, codes)(residualRows)(_._1)), descending = false, k))
    else {
      val bc = s.sparkContext.broadcast((byCell, excludeSelf))
      val scored = residualRows(aliveRows(s, path,
          cellRows(s, path, ResidualTier, Some(cells)), "vec_id"))
        .mapPartitions { it => val (m, exclSelf) = bc.value; ivfPqScores(m, exclSelf, it) }
        .toDF("q_id", "neighbor_id", "adc")
      topK(scored, "adc", descending = false, k)
    }
  }

  /** Sample, guard and persist a PQ codebook from `rows` (id, e): the
    * PqKs smallest md5(id) vectors, j-indexed. Input guards: a short
    * corpus would make pqEncode index past the collected codebook (AIOOBE
    * deep in an executor), and a dim not divisible by the subspace width
    * would SILENTLY drop trailing dims from every code — both must fail
    * loudly at the public API edge.
    */
  private def writeCodebook(rows: DataFrame, path: String): Array[Array[Double]] = {
    val s = rows.sparkSession
    import s.implicits._
    val cb: Array[Seq[Double]] = rows
      .orderBy(md5(col("id").cast("string")), col("id")).limit(PqKs)
      .select(col("e")).as[Seq[Double]].collect()
    require(cb.length == PqKs,
      s"buildVecIndex: corpus has only ${cb.length} rows — a $PqKs-codeword " +
        s"codebook needs at least $PqKs vectors")
    require(cb(0).length % PqS == 0,
      s"buildVecIndex: embedding dim ${cb(0).length} is not divisible by " +
        s"the PQ subspace width $PqS — trailing dims would be dropped from every code")
    s.createDataset(cb.toSeq.zipWithIndex.map { case (e, j) => (j, e) })
      .toDF("j", "e").write.mode("overwrite").parquet(s"$path/codebook")
    cb.map(_.toArray)
  }

  /** The PQ encode kernel of both code tiers' build and append: a vector
    * column -> its M codeword ids against the broadcast codebook `cb`.
    * Per-row and stateless, so any batch decomposition of the same
    * vectors yields identical codes.
    */
  private def pqCodes(s: SparkSession,
      cb: Array[Array[Double]]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = s.sparkContext.broadcast(cb)
    udf((e: Seq[Double]) => pqEncode(e.toArray, bc.value, bc.value(0).length / PqS).toSeq)
  }

  /** (vec_id, codes) rows of `batch` against the flat codebook `cb`. */
  private def encodeAgainst(batch: DataFrame, cb: Array[Array[Double]]): DataFrame =
    batch.select(col("vec_id").cast("long").as("vec_id"),
      pqCodes(batch.sparkSession, cb)(toDoubles).as("codes"))

  /** (c_id, cluster, r = x − centroid) rows of `batch` against the
    * persisted centroids — the residual tier's encode input.
    */
  private def residualsOf(batch: DataFrame, path: String): DataFrame = {
    val cents = centroidRows(batch.sparkSession, path)
    assign(withNorm(batch, "c"), cents)
      .join(cents.select(col("k_id").as("cluster"), col("k_e")), "cluster")
      .select(col("c_id"), col("cluster"),
        expr("zip_with(c_e, k_e, (x, y) -> x - y)").as("r"))
  }

  /** (vec_id, cluster, codes) rows of residual rows (c_id, cluster, r)
    * against the residual codebook `cb`.
    */
  private def encodeResiduals(res: DataFrame, cb: Array[Array[Double]]): DataFrame =
    res.select(col("c_id").cast("long").as("vec_id"),
      col("cluster").cast("long").as("cluster"),
      pqCodes(res.sparkSession, cb)(col("r")).as("codes"))

  /** Alive (vec_id, codes) rows of a flat PQ tier. */
  private def aliveCodes(s: SparkSession, path: String): DataFrame =
    aliveRows(s, path, tierRows(s, path, PqTier).select("vec_id", "codes"), "vec_id")

  /** Index-order cosine — bit-identical to DuckDB's
    * list_cosine_similarity and the fused graft_cosine Expression (the
    * v9 cross-engine contract): dot and norms accumulate in ascending
    * dim order, then dot / (sqrt(na) * sqrt(nb)).
    */
  private def cosArr(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Reconstruction-distortion aggregate of the index's alive codes
    * against `corpus`'s raw vectors: per vector, cosine between the
    * vector and its codeword reconstruction (subspace codewords
    * concatenated), quantized to 1e-9 (the v26 discipline — the mean is
    * then an exact integer sum in any fold order). One row:
    * (n, sum_q, min_q). Shape: codebook broadcast, one join of codes to
    * corpus on vec_id, one aggregate — no shuffle beyond the join.
    */
  private def pqReconStats(s: SparkSession, path: String,
      corpus: DataFrame): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(loadPqCodebook(s, path))
    aliveCodes(s, path)
      .join(corpus.select(col("vec_id"), toDoubles.as("e")), "vec_id")
      .select(col("codes"), col("e")).as[(Seq[Int], Seq[Double])]
      .mapPartitions { it =>
        val cbL = bc.value
        it.map { case (codes, e) =>
          val dim = e.length
          val recon = new Array[Double](dim)
          var m = 0
          while (m < codes.length) {
            System.arraycopy(cbL(codes(m)), m * PqS, recon, m * PqS, PqS)
            m += 1
          }
          math.floor(cosArr(e.toArray, recon) * 1e9 + 0.5).toLong
        }
      }
      .toDF("qc")
      .agg(count(lit(1)).as("n"), sum("qc").as("sum_q"), min("qc").as("min_q"))
  }

  /** Codebook-drift diagnostic — the signal that says WHEN to retrain the
    * frozen PQ codebook: reconstruction distortion of the corpus served
    * NOW (base + everything appended) vs the build-time baseline
    * persisted in `stats/`. A corpus that drifted away from the
    * codebook's training distribution encodes worse, the mean
    * reconstruction cosine falls, and once the drop exceeds `margin` the
    * report raises needs_retrain — the PQ twin of v18's needs_split.
    * One row: (build_n, cur_n, build_mean_cos, cur_mean_cos, drift,
    * needs_retrain). Means and the margin compare are the identical IEEE
    * expression in both engines (sum/n/1e9 then subtract), so the flag is
    * cross-engine exact.
    */
  def pqDriftAudit(s: SparkSession, root: String, corpus: DataFrame,
      margin: Double = 0.05): DataFrame =
    driftAuditAt(s, VersionedStore.resolve(s, root), corpus, margin)

  private def driftAuditAt(s: SparkSession, path: String, corpus: DataFrame,
      margin: Double): DataFrame = {
    val build = s.read.schema(StatsSchema).parquet(s"$path/stats")
      .select(col("n").as("build_n"), col("sum_q").as("bs"))
    val cur = pqReconStats(s, path, corpus)
      .select(col("n").as("cur_n"), col("sum_q").as("cs"))
    val bMean = col("bs").cast("double") / col("build_n") / lit(1e9)
    val cMean = col("cs").cast("double") / col("cur_n") / lit(1e9)
    build.crossJoin(broadcast(cur)) // 1-row x 1-row
      .select(col("build_n"), col("cur_n"),
        bMean.as("build_mean_cos"), cMean.as("cur_mean_cos"),
        (bMean - cMean).as("drift"),
        (bMean - cMean > margin).as("needs_retrain"))
  }

  /** The corpus slices the lifecycle queries build on, by staging-key name. */
  private val slices: Map[String, Column] = Map("full" -> lit(true),
    "sub23" -> (col("vec_id") % 3 =!= 0), "sub90" -> (col("vec_id") % 10 =!= 0))

  /** The lifecycle queries' staged build: publish the `tiers` index over
    * `slice` of `d`'s embeddings as v1 of a fresh root (`first`) or as the
    * successor version of `root`. Each v37–v52 query starts from one of a
    * few deterministic index-of-a-fixed-slice artifacts, so
    * [[graft.core.SessionStaging]] builds each distinct (tiers, slice,
    * dataset) once per JVM and byte-copies it into the query's version
    * directory. The claim/publish mechanics and everything a query
    * distinctively exercises (appends, tombstones, compaction, rebuilds,
    * advisors, leases, vacuum, every search) still run live against its
    * own copy. Returns the version directory.
    */
  private def stagedVersion(s: SparkSession, d: String, root: String,
      tiers: String, slice: String, first: Boolean): String = {
    val key = s"$tiers:$slice:${graft.core.SessionStaging.datasetIdent(s, d, "embeddings.parquet")}"
    graft.core.SessionStaging.version(s, root, key, first)(
      buildTiers(Tables.embeddings(s, d).filter(slices(slice)), _, tiersNamed(tiers)))
  }

  /** A fresh [[graft.core.Scratch.run]] index root at `name_<uuid>` whose
    * v1 is a private copy of the staged `tiers` index over `slice`.
    */
  private def stagedIndex(s: SparkSession, d: String, name: String,
      tiers: String, slice: String): String = {
    val root = graft.core.Scratch.run(name)
    stagedVersion(s, d, root, tiers, slice, first = true)
    root
  }

  /** A fresh index root: v1 = the staged `tiers` build over the 90%
    * slice, then the other 10% appended against v1's frozen geometry.
    */
  private def grownRoot(s: SparkSession, d: String, name: String,
      tiers: String): String = {
    val root = stagedIndex(s, d, name, tiers, "sub90")
    appendToVecIndex(Tables.embeddings(s, d).filter(col("vec_id") % 10 === 0), root)
    root
  }

  /** V37 (beyond reference): build the persisted IVF index, then answer
    * v2's query from the index alone — same semantics, storage-backed, so
    * v2's oracle gates it verbatim. The corpus is scanned once at build;
    * the search touches only centroids + probed posting partitions.
    */
  val v37: GraftQuery = GraftQuery(
    "v37_persisted_ivf_index",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = stagedIndex(s, d, "v37_index", "ivf", "full")
      searchVecIndex(s, path, emb.filter(col("vec_id") < 10), k = 3, tier = "ivf")
    },
    v2.oracle)

  /** V38 (beyond reference): right-to-be-forgotten on the persisted index
    * — tombstone every 7th vector, then serve: the deleted ids vanish from
    * results at the next query while the posting files stay untouched
    * (centroids are geometry, not data — a deleted centroid-source vector
    * still anchors its cell). The oracle replays full-corpus centroids
    * with the deleted rows absent from assignment.
    */
  val v38: GraftQuery = GraftQuery(
    "v38_index_tombstone_delete",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = stagedIndex(s, d, "v38_index", "ivf", "full")
      deleteFromVecIndex(s, path, emb.filter(col("vec_id") % 7 === 0))
      searchVecIndex(s, path, emb.filter(col("vec_id") < 10), k = 3, tier = "ivf")
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT a.vec_id, a.e, c.k_id, row_number() OVER (PARTITION BY a.vec_id
           |    ORDER BY list_cosine_similarity(a.e, c.ke) DESC, c.k_id) AS rk
           |  FROM (SELECT * FROM v WHERE vec_id % 7 != 0) a CROSS JOIN cents c)
           |  WHERE rk = 1),
           |q AS (SELECT * FROM v WHERE vec_id < 10),
           |probes AS (SELECT vec_id AS q_id, e AS qe, k_id AS cluster FROM (
           |  SELECT q.vec_id, q.e, c.k_id, row_number() OVER (PARTITION BY q.vec_id
           |    ORDER BY list_cosine_similarity(q.e, c.ke) DESC, c.k_id) AS rk
           |  FROM q CROSS JOIN cents c) WHERE rk <= 2)
           |SELECT q_id, neighbor_id, cos FROM (
           |  SELECT p.q_id, a.vec_id AS neighbor_id, list_cosine_similarity(p.qe, a.e) AS cos
           |  FROM probes p JOIN assign a USING (cluster) WHERE a.vec_id != p.q_id)
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin))

  /** V39 (beyond reference): the persisted PQ index answering v8's query
    * from stored codes alone — same semantics, so v8's oracle gates it
    * verbatim; the serving scan reads 8 ints per vector, never a float.
    */
  val v39: GraftQuery = GraftQuery(
    "v39_persisted_pq_index",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = stagedIndex(s, d, "v39_pqidx", "pq", "full")
      searchVecIndex(s, path, emb.filter(col("vec_id") < 10), k = 3, tier = "pq")
    },
    v8.oracle)

  /** V40 (beyond reference): PQ index APPEND — build on two-thirds of the
    * corpus, stream the rest in as two append batches encoded against the
    * FROZEN persisted codebook, then serve. Because encoding is per-row
    * and stateless, any batch decomposition yields the identical index;
    * the oracle replays the subset-trained codebook over the full corpus.
    */
  val v40: GraftQuery = GraftQuery(
    "v40_pq_index_append",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = stagedIndex(s, d, "v40_pqidx", "pq", "sub23")
      appendToVecIndex(emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0), path)
      appendToVecIndex(emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0), path)
      searchVecIndex(s, path, emb.filter(col("vec_id") < 10), k = 3, tier = "pq")
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cb AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j, e
           |       FROM v WHERE vec_id % 3 != 0
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
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, neighbor_id) <= 3""".stripMargin))

  /** V41 (beyond reference): right-to-be-forgotten on the PQ tier —
    * tombstone every 7th vector, COMPACT (the rewrite minus tombstones,
    * published as version 2), then serve: deleted codes are gone from
    * storage, results identical to serving through the tombstone
    * filter (VectorOpsSpec pins pre == post). The codebook, like v38's
    * centroids, is geometry — deleting a codebook-source vector does not
    * move its codeword.
    */
  val v41: GraftQuery = GraftQuery(
    "v41_pq_tombstone_compact",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = stagedIndex(s, d, "v41_pqidx", "pq", "full")
      deleteFromVecIndex(s, path, emb.filter(col("vec_id") % 7 === 0))
      compactVecIndex(s, path)
      searchVecIndex(s, path, emb.filter(col("vec_id") < 10), k = 3, tier = "pq")
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |cb AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j, e
           |       FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
           |m AS (SELECT unnest(generate_series(0, 7)) AS m),
           |alive AS (SELECT * FROM v WHERE vec_id % 7 != 0),
           |codes AS (SELECT vec_id, m, j AS code FROM (
           |  SELECT a.vec_id, m.m, cb.j, row_number() OVER (PARTITION BY a.vec_id, m.m
           |    ORDER BY list_reduce(list_transform(generate_series(1, 8),
           |      i -> (a.e[m.m * 8 + i] - cb.e[m.m * 8 + i]) * (a.e[m.m * 8 + i] - cb.e[m.m * 8 + i])),
           |      (a2, b) -> a2 + b) ASC, cb.j) AS rk
           |  FROM alive a CROSS JOIN m CROSS JOIN cb) WHERE rk = 1),
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
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, neighbor_id) <= 3""".stripMargin))

  /** V42 (beyond reference): the codebook-drift audit over a grown index
    * — build on "yesterday's" corpus (vec_id % 10 != 0), append "today's"
    * batch against the frozen codebook, then [[pqDriftAudit]]: build-time
    * baseline distortion vs the corpus served now. Here the append draws
    * from the same distribution, so the report shows ~zero drift and
    * needs_retrain = false — the oracle replays codebook, codes,
    * reconstruction cosines (1e-9 quantized) and both means exactly;
    * VectorOpsSpec plants a genuinely shifted batch to pin the flag
    * firing true.
    */
  val v42: GraftQuery = GraftQuery(
    "v42_pq_drift_audit",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = grownRoot(s, d, "v42_pqidx", "pq")
      pqDriftAudit(s, path, emb)
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
           |recon AS (SELECT c.vec_id,
           |  flatten(list(list_transform(generate_series(1, 8),
           |    i -> cb.e[c.m * 8 + i]) ORDER BY c.m)) AS r
           |  FROM codes c JOIN cb ON cb.j = c.code GROUP BY c.vec_id),
           |qc AS (SELECT v.vec_id,
           |  CAST(floor(list_cosine_similarity(v.e, r.r) * 1e9 + 0.5) AS BIGINT) AS qc
           |  FROM v JOIN recon r ON r.vec_id = v.vec_id),
           |b AS (SELECT count(*) AS build_n, sum(qc) AS bs FROM qc WHERE vec_id % 10 != 0),
           |c AS (SELECT count(*) AS cur_n, sum(qc) AS cs FROM qc)
           |SELECT CAST(b.build_n AS BIGINT) AS build_n, CAST(c.cur_n AS BIGINT) AS cur_n,
           |  CAST(b.bs AS DOUBLE) / b.build_n / 1e9 AS build_mean_cos,
           |  CAST(c.cs AS DOUBLE) / c.cur_n / 1e9 AS cur_mean_cos,
           |  CAST(b.bs AS DOUBLE) / b.build_n / 1e9
           |    - CAST(c.cs AS DOUBLE) / c.cur_n / 1e9 AS drift,
           |  (CAST(b.bs AS DOUBLE) / b.build_n / 1e9
           |    - CAST(c.cs AS DOUBLE) / c.cur_n / 1e9) > 0.05 AS needs_retrain
           |FROM b CROSS JOIN c""".stripMargin))

  /** V43 (beyond reference): the offline RECENTER consuming v18's signal
    * — build on "yesterday's" corpus, append "today's" batch against the
    * frozen geometry (occupancy drifts; v18 reports it), then
    * [[rebuildVecIndex]]: version 2 must come out BIT-INDISTINGUISHABLE
    * from a fresh build on the current corpus, which is why v2's oracle
    * (fresh-index search over the full table) gates it verbatim.
    */
  val v43: GraftQuery = GraftQuery(
    "v43_ivf_rebuild",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = grownRoot(s, d, "v43_index", "ivf")
      rebuildVecIndex(s, path)
      searchVecIndex(s, path, emb.filter(col("vec_id") < 10), k = 3, tier = "ivf")
    },
    v2.oracle)

  /** The residual IVF-PQ oracle (v44/v45/v46, t42): cell assignment,
    * residuals, the residual codebook, per-cell query tables and the ADC
    * rank replayed bit-for-bit. `base` = the predicate of the slice the
    * geometry was trained on (None = the whole corpus; the rest arrived
    * by append against it); `alive` = the predicate codes survive
    * deletion by.
    */
  private[graft] def ivfPqOracle(base: Option[String],
      alive: Option[String]): String = {
    val baseCte = base.fold("")(w => s"base AS (SELECT * FROM v WHERE $w),\n")
    val geometry = if (base.isDefined) "base" else "v"
    val cbWhere = base.fold("")(w => s"WHERE $w\n       ")
    val aliveCte = alive.fold("")(w => s"alive AS (SELECT * FROM codes WHERE $w),\n")
    val scan = if (alive.isDefined) "alive" else "codes"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |${baseCte}cents AS (SELECT vec_id AS k_id, e AS ke FROM $geometry
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, e, k_id AS cluster FROM (
           |  SELECT v.vec_id, v.e, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN cents c) WHERE rk = 1),
           |res AS (SELECT a.vec_id, a.cluster,
           |  list_transform(generate_series(1, len(a.e)), i -> a.e[i] - c.ke[i]) AS r
           |  FROM assign a JOIN cents c ON c.k_id = a.cluster),
           |cb AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j, r AS e
           |       FROM res ${cbWhere}ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
           |m AS (SELECT unnest(generate_series(0, 7)) AS m),
           |codes AS (SELECT vec_id, cluster, m, j AS code FROM (
           |  SELECT r.vec_id, r.cluster, m.m, cb.j, row_number() OVER (PARTITION BY r.vec_id, m.m
           |    ORDER BY list_reduce(list_transform(generate_series(1, 8),
           |      i -> (r.r[m.m * 8 + i] - cb.e[m.m * 8 + i]) * (r.r[m.m * 8 + i] - cb.e[m.m * 8 + i])),
           |      (a, b) -> a + b) ASC, cb.j) AS rk
           |  FROM res r CROSS JOIN m CROSS JOIN cb) WHERE rk = 1),
           |${aliveCte}q AS (SELECT * FROM v WHERE vec_id < 10),
           |probes AS (SELECT vec_id AS q_id, qe, cluster FROM (
           |  SELECT q.vec_id, q.e AS qe, c.k_id AS cluster,
           |    row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY list_cosine_similarity(q.e, c.ke) DESC, c.k_id) AS rk
           |  FROM q CROSS JOIN cents c) WHERE rk <= 2),
           |qres AS (SELECT p.q_id, p.cluster,
           |  list_transform(generate_series(1, len(p.qe)), i -> p.qe[i] - c.ke[i]) AS qr
           |  FROM probes p JOIN cents c ON c.k_id = p.cluster),
           |qd AS (SELECT qr.q_id, qr.cluster, m.m, cb.j,
           |  list_reduce(list_transform(generate_series(1, 8),
           |    i -> (qr.qr[m.m * 8 + i] - cb.e[m.m * 8 + i]) * (qr.qr[m.m * 8 + i] - cb.e[m.m * 8 + i])),
           |    (a, b) -> a + b) AS dd
           |  FROM qres qr CROSS JOIN m CROSS JOIN cb),
           |scored AS (SELECT qd.q_id, c.vec_id AS neighbor_id,
           |  list_reduce(list(qd.dd ORDER BY qd.m), (a, b) -> a + b) AS adc
           |  FROM $scan c JOIN qd ON qd.cluster = c.cluster AND qd.m = c.m AND qd.j = c.code
           |  WHERE c.vec_id != qd.q_id
           |  GROUP BY qd.q_id, c.vec_id)
           |SELECT q_id, neighbor_id, adc FROM scored
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, neighbor_id) <= 3""".stripMargin
  }

  /** V44 (beyond reference): the persisted residual IVF-PQ index — build,
    * then serve v-style queries from probed-cell code directories alone.
    * The oracle replays cell assignment, residual computation, the
    * residual codebook, per-cell query tables and the ADC ranking
    * bit-for-bit.
    */
  val v44: GraftQuery = GraftQuery(
    "v44_ivfpq_persisted",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = stagedIndex(s, d, "v44_ivfpq", "ivfpq", "full")
      searchVecIndex(s, path, emb.filter(col("vec_id") < 10), k = 3, tier = "ivfpq")
    },
    Some(ivfPqOracle(None, None)))

  /** V45 (beyond reference): appends on the residual tier — build on
    * two-thirds, append the rest in two batches against the frozen
    * centroids AND frozen residual codebook, then serve. The oracle
    * replays the subset-trained geometry over the full corpus.
    */
  val v45: GraftQuery = GraftQuery(
    "v45_ivfpq_append",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = stagedIndex(s, d, "v45_ivfpq", "ivfpq", "sub23")
      appendToVecIndex(emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0), path)
      appendToVecIndex(emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0), path)
      searchVecIndex(s, path, emb.filter(col("vec_id") < 10), k = 3, tier = "ivfpq")
    },
    Some(ivfPqOracle(Some("vec_id % 3 != 0"), None)))

  /** V46 (beyond reference): right-to-be-forgotten on the residual tier
    * — tombstone every 7th vector, compact (version 2 rewrites the
    * cluster-partitioned codes), serve. The oracle replays the
    * full-corpus geometry with the deleted rows absent from the codes.
    */
  val v46: GraftQuery = GraftQuery(
    "v46_ivfpq_tombstone_compact",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = stagedIndex(s, d, "v46_ivfpq", "ivfpq", "full")
      deleteFromVecIndex(s, path, emb.filter(col("vec_id") % 7 === 0))
      compactVecIndex(s, path)
      searchVecIndex(s, path, emb.filter(col("vec_id") < 10), k = 3, tier = "ivfpq")
    },
    Some(ivfPqOracle(None, Some("vec_id % 7 != 0"))))

  // ---------------------------------------------------- versioned roots

  /* Every index root is a versioned root. The manifest/roots mechanics
    * (atomic pointer publish, numeric resolution, single-writer claims,
    * grace-window vacuum) live in [[graft.core.VersionedStore]], shared
    * with the BM25 serving snapshot and the [[graft.core.Snapshots]]
    * tables; this section binds them to the index tiers:
    *
    * {{{
    *   $root/manifest/v00000001     <- pointer files, one per published
    *   $root/manifest/v00000002        version; readers take the max
    *   $root/roots/v00000001/...    <- each a complete, IMMUTABLE-geometry
    *   $root/roots/v00000002/...       index (centroids/postings/...)
    * }}}
    *
    * Every public verb takes the root and resolves the pointer ONCE; the
    * tier code below it works on that pinned version directory. A reader
    * pins the version for its whole plan, so a rebuild or compaction
    * publishing v{N+1} mid-query cannot reshape or vanish the files the
    * plan reads: concurrent searches return fully-old or fully-new
    * results, never empty and never mixed-geometry. Only appends and
    * tombstones land inside a published version (new files, none
    * removed), so they change the listing every driver cache over the
    * version is stamped with ([[graft.core.ListingCache]]); every
    * rewrite — [[compactVecIndex]], [[rebuildVecIndex]] — publishes a
    * new version. Old versions are reclaimed only by an
    * explicit [[graft.core.VersionedStore.vacuum]] AFTER a grace window — the s32
    * retention discipline: in-flight readers pinned to the previous
    * version stay valid until the vacuum horizon passes them.
    *
    * Scale: the manifest is O(versions) tiny files and one list call per
    * request; version roots share nothing, so a rebuild is the same
    * one-scan job as a first build writing to a fresh directory — no
    * serving-path cost moves at 100 TB.
    */

  /** Build `tiers` for `corpus` into an unpublished version directory the
    * caller holds the lease on. Debris a crashed predecessor left there is
    * cleared first (the lease makes this caller its only writer).
    */
  private def buildVersion(corpus: DataFrame, dir: String, tiers: Seq[Tier]): Unit = {
    remove(corpus.sparkSession, dir)
    buildTiers(corpus, dir, tiers)
  }

  /** Drift-to-ACTION policy over a persisted index root — the decision
    * layer the measuring diagnostics (v18 occupancy, v42 codebook drift)
    * feed: one deterministic row per (tier, metric) with integer-exact
    * value/threshold and a keep/retrain verdict.
    *
    *   - `ivf` row: the v18 2x-rule applied to the STORED index — a cell
    *     holding more than twice the mean alive occupancy means the
    *     frozen geometry has drifted (value = max_cell_n x cells,
    *     threshold = 2 x total; pure longs, cross-engine exact). Read from
    *     the cluster-partitioned tier: raw postings, or a residual root's
    *     codes (one row per alive vector per cell — the same signal).
    *   - `pq` row (when a flat codebook tier sits next to raw postings):
    *     [[pqDriftAudit]]'s reconstruction-quality drop vs build time,
    *     quantized to 1e-9 (value = round(drift x 1e9), threshold =
    *     margin x 1e9). A residual root's drift audit needs the raw
    *     corpus, so it runs [[pqDriftAudit]] with an external corpus.
    *   - `embedding` row (when `sigStore` names a t43-style signature
    *     accumulator of (key, is_ref, sig) rows): the [[embeddingDrift]]
    *     PSI over the deduped store — the STREAMED distribution monitor's
    *     verdict (VERDICT r12 #3), quantized like the pq row
    *     (value = round(sum(psi_term) x 1e9), threshold = psiMargin x
    *     1e9; 0.2 is the standard "significant shift" PSI rule).
    *
    * Consumed by [[rebuildVecIndexIfAdvised]] — advisor says retrain,
    * the rebuild publishes the successor version. Scale: occupancy is
    * one cluster-keyed count over the data (map-side combinable, K rows
    * out); the pq row re-scans codes once (the v42 cost); the embedding
    * row reduces the signature store to 2^bits cells — all off the
    * serving path.
    */
  def rebuildAdvisor(s: SparkSession, root: String,
      margin: Double = 0.05, sigStore: Option[String] = None,
      psiMargin: Double = 0.2): DataFrame =
    adviseAt(s, VersionedStore.resolve(s, root), margin, sigStore, psiMargin)

  private def adviseAt(s: SparkSession, path: String, margin: Double,
      sigStore: Option[String], psiMargin: Double): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    val tiers = layoutOf(s, path)
    val cells = tiers.find(_.partitioned).getOrElse(sys.error(
      s"rebuildAdvisor: $path has neither a raw postings tier nor " +
        "cluster-partitioned codes — a flat PQ-only root carries no cell " +
        "geometry to audit; run annPqDriftAudit with the source corpus instead"))
    val posts = aliveRows(s, path, tierRows(s, path, cells)
        .select(col(cells.key).as("c_id"), col("cluster")), "c_id")
      .dropDuplicates("c_id")
    val cents = centroidRows(s, path).select(col("k_id").as("cluster"))
    val occ = cents
      .join(posts.groupBy("cluster").agg(count(lit(1)).as("n")),
        Seq("cluster"), "left")
      .na.fill(0L, Seq("n"))
    val ivfRow = occ
      .agg((max("n") * count(lit(1))).as("value"), (sum("n") * 2).as("threshold"))
      .select(lit("ivf").as("tier"), lit("max_cell_load_x_cells").as("metric"),
        col("value").cast("long").as("value"),
        col("threshold").cast("long").as("threshold"),
        when(col("value") > col("threshold"), "retrain").otherwise("keep")
          .as("verdict"))
    val tiersOut =
      if (!tiers.contains(PqTier)) ivfRow
      else {
        val pqRow = driftAuditAt(s, path, aliveCorpus(s, path, tiers, None), margin)
          .select(lit("pq").as("tier"), lit("codebook_drift_x1e9").as("metric"),
            floor(col("drift") * 1e9 + 0.5).cast("long").as("value"),
            lit(math.round(margin * 1e9)).as("threshold"),
            when(col("needs_retrain"), "retrain").otherwise("keep").as("verdict"))
        ivfRow.unionByName(pqRow)
      }
    // the streamed embedding-drift verdict: dedupe the at-least-once
    // signature store by key (the t43 discipline — rows are deterministic
    // per vector, so max(struct) collapses redeliveries), then the
    // 2^bits-cell PSI folds to ONE quantized number judged by psiMargin
    // a sigStore that does not exist yet (the refresh hook firing before
    // the monitor stream's first batch commits, or after a checkpoint
    // reset) is NO EVIDENCE, not an error: skip the embedding row rather
    // than aborting the verdicts whose inputs are valid
    sigStore.filter(store => exists(s, store) && fsOf(s, store)
      .listStatus(new org.apache.hadoop.fs.Path(store))
      .exists(_.getPath.getName.endsWith(".parquet"))
    ).fold(tiersOut) { store =>
      val sigs = storedSignatures(s, store)
      val psiThreshold = math.round(psiMargin * 1e9)
      val embRow = embeddingDriftFromSigs(sigs)
        .agg(floor(sum("psi_term") * 1e9 + 0.5).cast("long").as("value"))
        .select(lit("embedding").as("tier"), lit("psi_x1e9").as("metric"),
          col("value"), lit(psiThreshold).as("threshold"),
          when(col("value") > psiThreshold, "retrain").otherwise("keep")
            .as("verdict"))
      tiersOut.unionByName(embRow)
    }
  }

  /** Advisor-gated rebuild: publish a successor version only when some
    * tier's verdict is `retrain`; returns the new version directory when
    * it acted. The measured diagnostics now DECIDE. A root with raw
    * postings retrains from its own alive vectors; a lossy codes-only root
    * only from the source-of-truth `corpus` — omitting it there fails
    * loudly BEFORE any rebuild starts, naming the fix.
    */
  def rebuildVecIndexIfAdvised(s: SparkSession, root: String,
      margin: Double = 0.05,
      corpus: Option[DataFrame] = None,
      sigStore: Option[String] = None,
      psiMargin: Double = 0.2): Option[String] = {
    val cur = VersionedStore.resolve(s, root)
    val verdicts = adviseAt(s, cur, margin, sigStore, psiMargin)
      .select("verdict").collect().map(_.getString(0))
    if (!verdicts.contains("retrain")) None
    else {
      val lossy = !layoutOf(s, cur).contains(IvfTier)
      Some(rebuildVecIndex(s, root, corpus.filter(_ => lossy)))
    }
  }

  /** V49 (beyond reference): the advisor's decision table as an
    * oracle-gated query — the frozen subset geometry with the full corpus
    * appended, judged by the 2x occupancy rule in exact integer
    * arithmetic.
    */
  val v49: GraftQuery = GraftQuery(
    "v49_rebuild_advisor",
    (s, d) => rebuildAdvisor(s, grownRoot(s, d, "v49_advidx", "ivf")),
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |base AS (SELECT * FROM v WHERE vec_id % 10 != 0),
           |cents AS (SELECT vec_id AS k_id, e AS ke FROM base
           |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           |assign AS (SELECT vec_id, k_id AS cluster FROM (
           |  SELECT v.vec_id, c.k_id, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
           |  FROM v CROSS JOIN cents c) WHERE rk = 1),
           |occ AS (SELECT c.k_id AS cluster, count(a.vec_id) AS n
           |        FROM cents c LEFT JOIN assign a ON a.cluster = c.k_id
           |        GROUP BY 1),
           |agg AS (SELECT max(n) * count(*) AS value, 2 * sum(n) AS threshold
           |        FROM occ)
           |SELECT 'ivf' AS tier, 'max_cell_load_x_cells' AS metric,
           |  CAST(value AS BIGINT) AS value, CAST(threshold AS BIGINT) AS threshold,
           |  CASE WHEN value > threshold THEN 'retrain' ELSE 'keep' END AS verdict
           |FROM agg""".stripMargin))

  /** V47 (beyond reference): the versioned-root race gate — a search
    * RESOLVED against the current version, then EXECUTED after a rebuild
    * has published the successor, serves the fully-OLD geometry (centroids
    * trained on the pre-append corpus, the whole corpus assigned under
    * them) — never empty, never mixed. The oracle replays exactly that
    * old geometry.
    */
  val v47: GraftQuery = GraftQuery(
    "v47_versioned_pinned_read",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val root = grownRoot(s, d, "v47_vroot", "ivf")
      // the concurrent reader: pointer resolved NOW (v1)...
      val pinned = searchVecIndex(s, root,
        emb.filter(col("vec_id") < 10), k = 3, probes = 2, tier = "ivf")
      // ...rebuild publishes v2 before the read executes
      rebuildVecIndex(s, root)
      pinned
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
           |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin))

  /** V48 (beyond reference): flip + vacuum — after the rebuild publishes
    * v2 and the grace window passes (vacuum keepLast=1 drops v1), a fresh
    * resolution serves the fully-NEW geometry, bit-indistinguishable from
    * an index freshly built on the current corpus (v43's contract carried
    * onto the versioned layout). v2's oracle gates it verbatim.
    */
  val v48: GraftQuery = GraftQuery(
    "v48_versioned_flip_vacuum",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val root = grownRoot(s, d, "v48_vroot", "ivf")
      rebuildVecIndex(s, root)
      val removed = VersionedStore.vacuum(s, root, keepLast = 1)
      require(removed == Seq(1L), s"vacuum must reclaim exactly v1, got $removed")
      searchVecIndex(s, root,
        emb.filter(col("vec_id") < 10), k = 3, probes = 2, tier = "ivf")
    },
    v2.oracle)

  /** V50 (beyond reference): the versioned RESIDUAL root's retrain path —
    * codes are lossy, so the rebuild retrains from the source-of-truth
    * corpus ([[rebuildVecIndex]] with `corpus`, the FAISS posture) behind
    * the same atomic pointer flip. After init-on-subset, append, and
    * retrain-from-source, serving equals a fresh residual build on the
    * full corpus — v44's oracle verbatim.
    */
  val v50: GraftQuery = GraftQuery(
    "v50_versioned_ivfpq_retrain",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val root = grownRoot(s, d, "v50_vroot", "ivfpq")
      // the retrain kernel is the ivfpq build over the FULL source
      // corpus (no tombstones here) — the exact artifact v44/v46 stage,
      // so the staged successor reuses it; the lease/publish stays live
      stagedVersion(s, d, root, "ivfpq", "full", first = false)
      searchVecIndex(s, root,
        emb.filter(col("vec_id") < 10), k = 3, probes = 2)
    },
    v44.oracle)

  /** V51 (beyond reference): SINGLE-WRITER rebuild discipline — while a
    * writer holds the build lease on v2 (here: a simulated in-flight
    * rebuild that then crashes without releasing), a concurrent
    * [[rebuildVecIndex]] must refuse loudly rather than
    * interleave tier overwrites inside the same unpublished roots/v2; the
    * crashed lease is then TAKEN OVER once expired, and exactly one v2 is
    * published. The served result equals a fresh build on the full corpus
    * (v2's oracle) — single-writer, geometry self-consistent.
    */
  val v51: GraftQuery = GraftQuery(
    "v51_rebuild_lease_takeover",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val root = grownRoot(s, d, "v51_vroot", "ivf")
      // writer A claims v2 and "crashes" (never builds, never releases)
      require(VersionedStore.claim(s, root, 2L,
        ttlMs = 60L * 60 * 1000), "test setup: claim on v2 must succeed")
      // writer B races A's live lease: must refuse, must not publish
      val denied =
        try { rebuildVecIndex(s, root); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("build lease") }
      require(denied, "a concurrent rebuild must be refused by a live lease")
      require(VersionedStore.currentVersion(s, root) == Some(1L),
        "a denied rebuild must not publish")
      // A's lease is now stale (ttl 0): the retry takes it over and is
      // the ONE writer of v2
      val nextDir = rebuildVecIndex(s, root, leaseTtlMs = 0L)
      require(nextDir.endsWith(VersionedStore.versionName(2L)) &&
        VersionedStore.currentVersion(s, root) == Some(2L),
        "takeover must publish exactly v2")
      searchVecIndex(s, root,
        emb.filter(col("vec_id") < 10), k = 3, probes = 2, tier = "ivf")
    },
    v2.oracle,
    bench = false)

  /** V52 (beyond reference): the STREAMED drift monitor now DECIDES —
    * [[rebuildAdvisor]] with a t43-style signature store adds an
    * `embedding` row: the v27 PSI over the deduped (key, is_ref, sig)
    * accumulator, quantized to integer nanos and judged by the standard
    * 0.2 PSI rule. The oracle replays the occupancy row on the fresh
    * full-corpus build AND the exact v27 PSI fold.
    */
  val v52: GraftQuery = GraftQuery(
    "v52_advisor_embedding_drift",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = stagedIndex(s, d, "v52_advidx", "ivf", "full")
      val sigPath = graft.core.Scratch.run("v52_sigs")
      embeddingSignatures(
          emb.withColumn("is_ref", expr("vec_id % 2 = 0")), "vec_id", "is_ref")
        .write.mode("overwrite").parquet(sigPath)
      rebuildAdvisor(s, path, sigStore = Some(sigPath))
    },
    v27.oracle.map(psiSql =>
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |cents AS (SELECT vec_id AS k_id, e AS ke FROM v
         |          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
         |assign AS (SELECT vec_id, k_id AS cluster FROM (
         |  SELECT v.vec_id, c.k_id, row_number() OVER (PARTITION BY v.vec_id
         |    ORDER BY list_cosine_similarity(v.e, c.ke) DESC, c.k_id) AS rk
         |  FROM v CROSS JOIN cents c) WHERE rk = 1),
         |occ AS (SELECT c.k_id AS cluster, count(a.vec_id) AS n
         |        FROM cents c LEFT JOIN assign a ON a.cluster = c.k_id
         |        GROUP BY 1),
         |agg AS (SELECT max(n) * count(*) AS value, 2 * sum(n) AS threshold
         |        FROM occ),
         |psi AS (SELECT CAST(floor(sum(psi_term) * 1e9 + 0.5) AS BIGINT) AS value
         |        FROM ($psiSql))
         |SELECT 'ivf' AS tier, 'max_cell_load_x_cells' AS metric,
         |  CAST(value AS BIGINT) AS value, CAST(threshold AS BIGINT) AS threshold,
         |  CASE WHEN value > threshold THEN 'retrain' ELSE 'keep' END AS verdict
         |FROM agg
         |UNION ALL
         |SELECT 'embedding', 'psi_x1e9', value, CAST(200000000 AS BIGINT),
         |  CASE WHEN value > 200000000 THEN 'retrain' ELSE 'keep' END
         |FROM psi""".stripMargin))

  val all: Seq[GraftQuery] =
    Seq(v1, v2, v3, v4, v5, v6, v7, v8, v9, v10, v11, v12, v13, v14, v15, v16, v17, v18, v19,
      v20, v21, v22, v23, v24, v25, v26, v27, v28, v29, v30, v31, v32, v33, v34, v35, v36, v37,
      v38, v39, v40, v41, v42, v43, v44, v45, v46, v47, v48, v49, v50, v51, v52)
}
