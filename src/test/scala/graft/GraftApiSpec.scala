package graft

import graft.api.Graft

/** The library facade must work on ARBITRARY user DataFrames, not just the
  * driver test tables — this suite builds its own tiny corpus/vector sets
  * in memory and exercises every Graft entry point end-to-end.
  */
class GraftApiSpec extends SparkSpec {

  import SparkSpec.spark.implicits._

  private def corpus() = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
    (3L, "alpha beta gamma delta epsilon zeta eta iota"),  // near dup of 1
    (4L, "one two three four five six seven eight nine ten"),
    (5L, "completely different words entirely here now")
  ).toDF("doc_id", "text")

  test("exactDupGroups finds the exact duplicate and nothing else") {
    val groups = Graft.exactDupGroups(corpus()).collect()
    assert(groups.length === 4) // 5 docs, one pair collapses
    val dup = groups.filter(_.getLong(1) == 2L)
    assert(dup.length === 1 && dup.head.getLong(2) === 1L) // keeper = min id
  }

  test("nearDupPairs finds the shingle near-dup pair with jaccard < 1") {
    val pairs = Graft.nearDupPairs(corpus(), threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(ids.contains((1L, 3L)) || ids.contains((2L, 3L))) // near dup
    pairs.foreach { case (a, b, j) => assert(a < b && j >= 0.5 && j <= 1.0) }
  }

  test("dupComponents clusters 1,2,3 together and leaves 4,5 singletons") {
    val comp = Graft.dupComponents(corpus(), threshold = 0.5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(comp(1L) === ((1L, 3L)) && comp(2L) === ((1L, 3L)) && comp(3L) === ((1L, 3L)))
    assert(comp(4L) === ((4L, 1L)) && comp(5L) === ((5L, 1L)))
  }

  test("components closes transitive chains over a custom edge list") {
    val universe = (1L to 6L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("u", "v")
    val comp = Graft.components(universe, "node", edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) === 1L && comp(2L) === 1L && comp(3L) === 1L)
    assert(comp(4L) === 4L && comp(5L) === 5L && comp(6L) === 5L)
  }

  test("tokenStats and qualityScore run on user corpora") {
    val stats = Graft.tokenStats(corpus()).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stats(1L) === 8 && stats(4L) === 10)
    val quality = Graft.qualityScore(corpus()).collect()
    assert(quality.length === 5)
    quality.foreach(r => assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
  }

  test("chunkPassages emits one short chunk for short docs") {
    val chunks = Graft.chunkPassages(corpus()).collect()
    assert(chunks.length === 5) // all docs shorter than one 64-token window
    chunks.foreach(r => assert(r.getInt(1) === 0))
  }

  test("minHashDupSets groups the identical-word-set docs; dupSetPairs expands the pair") {
    val groups = Graft.minHashDupSets(corpus()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(groups === Set((1L, 1L, 2L), (2L, 1L, 2L)))
    val pairs = Graft.dupSetPairs(corpus()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("incrementalDedup keeps only novel first-occurrence batch docs") {
    val corpusDf = corpus().filter($"doc_id" <= 3L)
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of corpus 1
      (11L, "brand new content never seen before today"),
      (12L, "brand new content never seen before today")      // in-batch dup of 11
    ).toDF("doc_id", "text")
    val verdicts = Graft.incrementalDedup(corpusDf, batch).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(verdicts(10L) === ((true, true, false)))  // known to corpus
    assert(verdicts(11L) === ((false, true, true)))  // novel, first
    assert(verdicts(12L) === ((false, false, false))) // novel, but not first
  }

  test("contaminationCheck flags the train doc sharing an 8-gram run") {
    val benchmark = Seq((100L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix w1 w2 w3 w4 w5 w6 w7 w8 suffix"), // shares the 8-gram
      (2L, "totally unrelated words in this document here")
    ).toDF("doc_id", "text")
    val got = Graft.contaminationCheck(train, benchmark).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got === Map(1L -> true, 2L -> false))
  }

  test("sequencePack lays docs end-to-end per domain with gapless offsets") {
    val docs = Seq(
      (1L, "a", ("w " * 9).trim), (2L, "a", ("w " * 5).trim), (3L, "b", ("w " * 4).trim)
    ).toDF("doc_id", "domain", "text")
    val packed = Graft.sequencePack(docs, "domain", packTokens = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(6))).toMap
    assert(packed(1L) === ((0L, 2L)))  // 9 tokens spans packs 0-1
    assert(packed(2L) === ((9L, 1L))) // starts where doc 1 ended
    assert(packed(3L) === ((0L, 1L))) // domain b packs independently
  }

  test("hashedFeatures is identical for identical docs and pins sq_norm") {
    val feats = Graft.hashedFeatures(corpus()).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(feats(1L) === feats(2L)) // exact dup docs -> identical vectors
    assert(feats(1L) !== feats(4L))
    // doc 4 has 10 distinct words, each once: sq_norm = sum of cnt^2 <= 10
    // with equality iff no bucket collision; n_active <= 10
    val (nActive, sqNorm, _) = feats(4L)
    assert(nActive <= 10 && sqNorm >= 10 && sqNorm <= 100)
  }

  test("annBruteForceTopK ranks an obvious nearest neighbor first") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.1f, 0.0f)), // nearly parallel to 1
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = Graft.annBruteForceTopK(vecs, vecs.filter($"vec_id" === 1L), k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(got.length === 2)
    assert(got.map(_._1).head === 2L) // rank 1 = the nearly-parallel vector
    assert(got.forall { case (_, c) => c >= -1.0 && c <= 1.0 })
  }

  test("annIvfTopK returns k in-cell neighbors on a user vector set") {
    val rng = new scala.util.Random(5)
    val vecs = (0L until 100L).map { id =>
      val base = Array.fill(8)(0.0f)
      base((id / 25).toInt) = 1.0f // four orthogonal clusters of 25
      (id, base.map(_ + rng.nextFloat() * 0.01f).toSeq)
    }.toDF("vec_id", "embedding")
    val got = Graft.annIvfTopK(vecs, vecs.filter($"vec_id" < 3L), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty)
    assert(got.groupBy(_._1).forall(_._2.length == 2))
    got.foreach { case (q, n) => assert(n / 25 === q / 25) } // same cluster
  }

  test("forecast runs all three models on a user series") {
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val series = Seq(
      (1L, ts(0), 10.0), (1L, ts(5), 12.0), (1L, ts(10), 14.0),
      (2L, ts(0), 50.0)
    ).toDF("user_id", "bucket_ts", "demand")
    for (model <- Seq("naive", "drift", "ar1")) {
      val rows = Graft.forecast(series, model).collect()
      assert(rows.length === 24, s"$model: 12 rows per series")
      rows.foreach { r =>
        assert(!r.getDouble(2).isNaN && r.getDouble(3) <= r.getDouble(4))
      }
    }
    // drift extrapolates the +2/step slope
    val drift = Graft.forecast(series, "drift").collect()
      .filter(_.getLong(0) == 1L).map(r => r.getTimestamp(1) -> r.getDouble(2)).toMap
    assert(drift(ts(15)) === 16.0)
  }

  test("repetitionStats flags phrase-looping docs the word rules miss") {
    val looping = Array.fill(30)("click here now buy cheap").mkString(" ")
    val normal = (1 to 150).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, looping), (2L, normal)).toDF("doc_id", "text")
    val r = Graft.repetitionStats(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(!r(1L).getBoolean(6), "looping doc must be dropped")
    assert(r(1L).getDouble(5) > 0.9, "nearly all chars sit in duplicated 5-grams")
    assert(r(2L).getBoolean(6), "all-distinct doc passes")
    assert(r(2L).getDouble(3) === 0.0, "no duplicated 2-grams in distinct doc")
  }

  test("anomalies flags MAD outliers, robust to the outlier itself") {
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 300000L)
    // series 1: flat at 10 with one spike; series 2: clean ramp
    val pts = (0 until 20).map(i =>
      (1L, ts(i), if (i == 7) 1000.0 else 10.0 + (i % 3))) ++
      (0 until 20).map(i => (2L, ts(i), 5.0 + i))
    val r = Graft.anomalies(pts.toDF("user_id", "bucket_ts", "demand"))
      .collect()
    val s1 = r.filter(_.getLong(0) == 1L)
    assert(s1.count(_.getBoolean(5)) === 1, "exactly the spike is flagged")
    assert(s1.find(_.getDouble(2) == 1000.0).get.getBoolean(5))
    assert(r.filter(_.getLong(0) == 2L).forall(!_.getBoolean(5)),
      "a clean ramp has no MAD outliers")
  }

  test("leakageSafeSplit keeps near-dup components on one side") {
    // docs 1-3 are one near-dup cluster (identical), 4-60 are distinct
    val shared = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = (Seq((1L, shared), (2L, shared), (3L, shared)) ++
      (4L to 60L).map(i => (i, (1 to 40).map(j => s"w${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    val r = Graft.leakageSafeSplit(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    assert(r.length === 60)
    val cluster = r.filter(_._1 <= 3L)
    assert(cluster.map(_._2).distinct.length === 1, "one component")
    assert(cluster.map(_._3).distinct.length === 1,
      "near-dups must share a split")
    // all three labels appear across enough singleton components
    assert(r.map(_._3).distinct.toSet.subsetOf(Set("train", "val", "test")))
    assert(r.count(_._3 == "train") > 30, "~80% lands in train")
  }

  test("spanDedup removes repeated spans, keeps first occurrence") {
    // doc 1: blocks A B; doc 2: blocks A C (A repeats doc 1's); doc 3: B B
    val a = (1 to 16).map(i => s"a$i").mkString(" ")
    val b = (1 to 16).map(i => s"b$i").mkString(" ")
    val c = (1 to 16).map(i => s"c$i").mkString(" ")
    val docs = Seq((1L, s"$a $b"), (2L, s"$a $c"), (3L, s"$b $b"))
      .toDF("doc_id", "text")
    val r = Graft.spanDedup(docs).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) === 2 && r(1L).getLong(2) === 0,
      "doc 1 owns both first occurrences")
    assert(r(2L).getLong(2) === 1, "doc 2 loses the repeated A block")
    assert(r(3L).getLong(2) === 2,
      "doc 3 loses both B copies (doc 1 holds the first)")
    // doc 2's survivor is exactly C
    assert(r(2L).getString(3) ===
      org.apache.commons.codec.digest.DigestUtils.md5Hex(c))
    // all-removed doc hashes the empty string
    assert(r(3L).getString(3) ===
      org.apache.commons.codec.digest.DigestUtils.md5Hex(""))
  }

  test("nearDupPairs adapts LSH banding to the threshold") {
    // two docs at shingle-jaccard ~0.5: a fixed 16x4 banding tuned for 0.9
    // has only ~64% candidate recall down here; the derived 32x2 banding
    // holds >= 0.999, so this moderately-similar pair must surface
    val shared = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " " + (1 to 9).map(i => s"alpha$i").mkString(" ")),
      (2L, shared + " " + (1 to 9).map(i => s"beta$i").mkString(" ")),
      (3L, (1 to 30).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Graft.nearDupPairs(docs, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    val ex = intercept[IllegalArgumentException](Graft.nearDupPairs(docs, 0.05))
    assert(ex.getMessage.contains("threshold"))
  }

  test("ANN excludeSelf=false keeps colliding ids as neighbors") {
    val rng = new scala.util.Random(11)
    val corpus = (0L until 20L).map { id =>
      (id, Array.fill(8)(rng.nextFloat()).toSeq)
    }.toDF("vec_id", "embedding")
    // query table whose ids coincide with corpus ids but are DIFFERENT
    // vectors: with exclusion on, the same-id corpus row is silently lost
    val queries = (0L until 3L).map { id =>
      (id, Array.fill(8)(rng.nextFloat()).toSeq)
    }.toDF("vec_id", "embedding")
    val kept = Graft.annBruteForceTopK(corpus, queries, k = 20, excludeSelf = false)
      .collect().groupBy(_.getLong(0))
    assert(kept.values.forall(_.length == 20), "all 20 corpus rows rank per query")
    val excl = Graft.annBruteForceTopK(corpus, queries, k = 20)
      .collect().groupBy(_.getLong(0))
    assert(excl.values.forall(_.length == 19), "id collision drops one neighbor")
  }

  test("forecast horizon/confidence parameters and model intervals") {
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val series = Seq(
      (1L, ts(0), 10.0), (1L, ts(5), 13.0), (1L, ts(10), 12.0),
      (2L, ts(0), 50.0)
    ).toDF("user_id", "bucket_ts", "demand")
    val r5 = Graft.forecast(series, "naive", horizon = 5).collect()
    assert(r5.length === 10, "horizon=5 emits 5 rows per series")
    // intervals come from the model's residual variance: they widen with h
    // and with confidence, and collapse to the point forecast when a series
    // has no residuals (single observation => sigma = 0)
    def widths(conf: Double) = Graft.forecast(series, "naive", 5, conf)
      .collect().filter(_.getLong(0) == 1L)
      .sortBy(_.getTimestamp(1).getTime).map(r => r.getDouble(4) - r.getDouble(3))
    val w90 = widths(0.9)
    assert(w90.zip(w90.tail).forall { case (a, b) => a < b }, "width grows with h")
    assert(widths(0.99).head > w90.head, "width grows with confidence")
    r5.filter(_.getLong(0) == 2L).foreach { r =>
      assert(r.getDouble(3) === r.getDouble(2) && r.getDouble(4) === r.getDouble(2))
    }
    // a bad model name fails at plan build with a clear message, not as a
    // MatchError inside an executor task
    val ex = intercept[IllegalArgumentException](Graft.forecast(series, "arima"))
    assert(ex.getMessage.contains("unknown forecast model"))
  }

  test("sessionize splits a user's events at the configured gap") {
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val events = Seq(
      (7L, 1L, ts(0)), (7L, 2L, ts(5)), (7L, 3L, ts(9)),   // session 1
      (7L, 4L, ts(60)), (7L, 5L, ts(62)),                  // session 2 (>30min gap)
      (8L, 6L, ts(0))                                      // other user
    ).toDF("user_id", "event_id", "ts")
    val sess = Graft.sessionize(events, gapUs = 30L * 60 * 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(sess.count(_._1 == 7L) === 2)
    assert(sess.filter(_._1 == 7L).map(_._3).sorted.toSeq == Seq(2L, 3L))
    assert(sess.count(_._1 == 8L) === 1)
  }

  test("funnel emits long-format stage counts with strict ordering semantics") {
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val events = Seq(
      (1L, "signup", ts(0)), (1L, "activate", ts(5)),  // completes both
      (2L, "signup", ts(0)),                           // stage 1 only
      (3L, "activate", ts(0)), (3L, "signup", ts(5))   // out of order: stage 1 only
    ).toDF("user_id", "event_type", "ts")
    val rows = Graft.funnel(events, Seq("signup", "activate")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((0, "signup", 3L), (1, "activate", 1L)))
  }

  test("chiSquareDrift on a shifted categorical mix: sum of terms grows with the shift") {
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def ts(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600000L)
    // first half all 'a', second half all 'b' -> maximal drift
    val drifted = ((0 until 10).map(i => ("a", ts(i))) ++
      (0 until 10).map(i => ("b", ts(i + 10)))).toDF("cat", "ts")
    val chi = Graft.chiSquareDrift(drifted, "cat").collect()
      .map(_.getAs[Double]("chi2_term")).sum
    // balanced mix -> near-zero statistic
    val even = (0 until 20).map(i => (if (i % 2 == 0) "a" else "b", ts(i))).toDF("cat", "ts")
    val chiEven = Graft.chiSquareDrift(even, "cat").collect()
      .map(_.getAs[Double]("chi2_term")).sum
    assert(chi > 10.0 && chiEven < 1.0)
  }

  test("keySkewReport flags a planted hot key") {
    val df = ((1 to 100).map(i => i.toLong) ++ Seq.fill(50)(7L)).toDF("k")
    val r = Graft.keySkewReport(df, "k").collect().head
    assert(r.getAs[Long]("hot_key") === 7L)
    assert(r.getAs[Long]("max_n") === 51L)
    assert(r.getAs[Double]("skew_ratio") > 10.0)
  }

  test("wordEntropy ranks a templated doc below a diverse one") {
    val docs = Seq(
      (1L, Seq.fill(32)("spam").mkString(" ")),
      (2L, (0 until 32).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text")
    val h = Graft.wordEntropy(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("entropy")).toMap
    assert(h(1L) < 0.01 && h(2L) > 3.0)
  }

  test("aucRank: perfect separation scores 1.0, constant score 0.5, reversal 0.0") {
    def auc(rows: Seq[(Double, Boolean)]): Double =
      Graft.aucRank(rows.toDF("score", "pos"), "score", "pos")
        .collect().head.getAs[Double]("auc")
    val pos = (1 to 10).map(i => (i + 100.0, true))
    val neg = (1 to 10).map(i => (i + 0.0, false))
    assert(auc(pos ++ neg) === 1.0)
    assert(auc(Seq((5.0, true), (5.0, false), (5.0, true), (5.0, false))) === 0.5)
    assert(auc(pos.map { case (s, _) => (s, false) } ++ neg.map { case (s, _) => (s, true) }) === 0.0)
  }

  test("fuzzyMatchPairs links strings within edit distance 1 and nothing else") {
    val df = Seq(
      (1L, "alpha"), (2L, "alphb"),   // substitution -> dist 1
      (3L, "alph"),                   // deletion of 1 -> dist 1
      (4L, "gamma")                   // unrelated
    ).toDF("id", "name")
    val pairs = Graft.fuzzyMatchPairs(df, "id", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 1)))
  }

  test("bpePairCounts weights adjacent char pairs by word frequency") {
    val docs = Seq((1L, "aa ab aa"), (2L, "b aab")).toDF("doc_id", "text")
    val freq = Graft.bpePairCounts(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // "aa": from 2x "aa" + 1x "aab"(pos1) = 3; "ab": 1x "ab" + 1x "aab"(pos2) = 2
    assert(freq === Map("aa" -> 3L, "ab" -> 2L))
  }

  test("prioritySample is deterministic and weight-sensitive") {
    val df = (1L to 100L).map(i => (i, if (i == 42L) 1000000L else 1L)).toDF("id", "w")
    val s1 = Graft.prioritySample(df, "id", "w", 10).collect().map(_.getLong(0)).toSeq
    val s2 = Graft.prioritySample(df, "id", "w", 10).collect().map(_.getLong(0)).toSeq
    assert(s1 === s2)
    assert(s1.size === 10)
    assert(s1.contains(42L), "a 1e6x weight must be sampled")
  }

  test("embeddingMoments reproduces the closed-form 2x2 moment matrix") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f))).toDF("vec_id", "embedding")
    val m = Graft.embeddingMoments(df).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-6
    assert(close(m((1, 1))._1, 2.0) && close(m((1, 1))._2, 1.0))
    assert(close(m((1, 2))._2, 1.0))
    assert(close(m((2, 2))._1, 3.0) && close(m((2, 2))._2, 1.0))
  }

  test("rollingAnomaly flags a planted spike day and not the steady baseline") {
    val rows = (0 until 30).flatMap { day =>
      val v = if (day == 20) 100.0 else 10.0
      Seq((java.sql.Timestamp.valueOf(f"2025-01-${day + 1}%02d 12:00:00"), v))
    }.toDF("ts", "value")
    val out = Graft.rollingAnomaly(rows).collect()
      .map(r => r.getDate(0).toString -> r.getBoolean(4)).toMap
    assert(out("2025-01-21"), "the 10x spike day must be flagged")
    assert(out.count(_._2) === 1, "only the spike day is anomalous")
  }

  test("rfmSegments puts the whale user in the top monetary quartile") {
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def ts(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600000L)
    val events = (1L to 8L).flatMap { u =>
      val spend = if (u == 8L) 1000.0 else u.toDouble
      (0 until 3).map(i => (u, ts(u.toInt * 10 + i), spend))
    }.toDF("user_id", "ts", "value")
    val m = Graft.rfmSegments(events).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(m(8L)._3 === 4, "whale lands in monetary quartile 4")
    assert(m(1L)._3 === 1)
    assert(m(8L)._1 === 4, "latest-active user lands in recency quartile 4")
  }

  test("funnelSteps demands strict event-time order, not mere presence") {
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def ts(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600000L)
    // u1 completes a->b->c in order; u2 has all three but b precedes a;
    // u3 stops at b; u4 only a; b-at-the-same-instant-as-a must NOT count.
    val events = Seq(
      (1L, "a", ts(0)), (1L, "b", ts(1)), (1L, "c", ts(2)),
      (2L, "b", ts(0)), (2L, "a", ts(1)), (2L, "c", ts(2)),
      (3L, "a", ts(0)), (3L, "b", ts(3)),
      (4L, "a", ts(5)),
      (5L, "a", ts(0)), (5L, "b", ts(0))).toDF("user_id", "event_type", "ts")
    val out = Graft.funnelSteps(events, Seq("a", "b", "c")).collect()
      .sortBy(_.getAs[Int]("step"))
    // hand replay: u1 a@0->b@1->c@2 (all 3); u2's first a is @1 with no
    // later b (step 1); u3 a@0->b@3 (step 2); u4 a only; u5's b ties a's
    // instant so strict order rejects it (step 1).
    assert(out.map(_.getAs[Long]("n_users")).toSeq == Seq(5L, 2L, 1L))
    assert(out.map(_.getAs[Double]("frac_of_first")).toSeq == Seq(1.0, 0.4, 0.2))
    // windowed variant: a 2-hour deadline from the first a cuts u1's c@2h?
    // No — c@2h is exactly at the deadline (<=), so u1 still completes;
    // u3's b@3h now falls outside and drops to step 1.
    val win = Graft.funnelSteps(events, Seq("a", "b", "c"), window = "2 hours")
      .collect().sortBy(_.getAs[Int]("step"))
    assert(win.map(_.getAs[Long]("n_users")).toSeq == Seq(5L, 1L, 1L))
  }

  test("markovTransitions row-normalizes and orders by event time") {
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val events = Seq(
      (1L, 1L, "a", ts(0)), (1L, 2L, "b", ts(1)), (1L, 3L, "a", ts(2)),
      (2L, 4L, "a", ts(0)), (2L, 5L, "b", ts(1))
    ).toDF("user_id", "event_id", "event_type", "ts")
    val rows = Graft.markovTransitions(events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(rows(("a", "b")) === ((2L, 1.0)))
    assert(rows(("b", "a")) === ((1L, 1.0)))
    assert(rows.size === 2)
  }

  test("mrlRecall is exactly 1.0 at full dimension and monotone-bounded below it") {
    // first two dims carry no signal; the last two decide neighborhoods
    val vecs = Seq(
      (0L, Array(0.5f, 0.5f, 1.0f, 0.0f)), (1L, Array(0.5f, 0.5f, 0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f, 0.0f, 1.0f)), (3L, Array(0.5f, 0.5f, 0.1f, 0.9f)),
      (4L, Array(0.5f, 0.5f, 0.7f, 0.7f))).toDF("vec_id", "embedding")
    val r = Graft.mrlRecall(vecs, vecs.filter($"vec_id" < 2), 2, Seq(2, 4))
      .collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
    assert(r(4) === 1.0, "full-dimension recall must be exactly 1")
    assert(r(2) <= 1.0 && r(2) >= 0.0)
  }

  test("gapFillLinear interpolates missing buckets on a user series") {
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val series = Seq(
      (7L, ts(0), 10.0),
      (7L, ts(3), 40.0) // 3-minute gap at 1-minute buckets
    ).toDF("key", "bucket", "value")
    val filled = Graft.gapFillLinear(series, "key", "bucket", "value", 60L)
      .collect().map(r => r.getTimestamp(1) -> r.getDouble(2)).toMap
    assert(filled.size === 4)
    assert(filled(ts(1)) === 20.0 && filled(ts(2)) === 30.0)
  }

  test("kaplanMeier on hand-built lifetimes: textbook survival steps") {
    // corpus ends at day 30; censor window 7 days.
    // user 1: days 0..2  (duration 2, last day 2  -> churn observed)
    // user 2: days 0..2  (duration 2, churn)
    // user 3: days 0..10 (duration 10, churn)
    // user 4: days 20..29 (duration 9, last day 29 > 30-7 -> censored)
    // user 5: day 30 only (duration 0, censored)
    def t(day: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2025-01-01 12:00:00").getTime + day * 86400000L)
    val ev = Seq(
      (1L, t(0)), (1L, t(2)), (2L, t(0)), (2L, t(2)), (3L, t(0)), (3L, t(10)),
      (4L, t(20)), (4L, t(29)), (5L, t(30))).toDF("user_id", "ts")
    val km = Graft.kaplanMeier(ev).collect()
      .map(r => r.getAs[Int]("t_days") ->
        ((r.getAs[Long]("n_risk"), r.getAs[Long]("d"), r.getAs[Long]("c"),
          r.getAs[Double]("survival")))).toMap
    // duration 0: 5 at risk, 0 churn, 1 censored -> S = 1
    assert(km(0) === ((5L, 0L, 1L, 1.0)))
    // duration 2: 4 at risk, 2 churn -> S = 1 * (1 - 2/4) = 0.5
    assert(km(2)._1 == 4L && km(2)._2 == 2L)
    assert(math.abs(km(2)._4 - 0.5) < 1e-9)
    // duration 9: 2 at risk, 0 churn, 1 censored -> S stays 0.5
    assert(km(9) === ((2L, 0L, 1L, km(2)._4)))
    // duration 10: last one at risk churns -> S = 0 exactly
    assert(km(10) === ((1L, 1L, 0L, 0.0)))
  }

  test("conversionAbsorption on a deterministic chain solves the known system") {
    // one user repeating view -> click -> purchase teaches
    // P(view->click) = P(click->purchase) = 1 (plus the final purchase
    // having no successor); signup never appears as a source with
    // outgoing mass except its constructed self-loop below.
    def t(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)
    val ev = Seq(
      (1L, "view", t(0), 1L), (1L, "click", t(1), 2L), (1L, "purchase", t(2), 3L),
      (2L, "view", t(0), 4L), (2L, "click", t(1), 5L), (2L, "error", t(2), 6L),
      (3L, "signup", t(0), 7L), (3L, "purchase", t(1), 8L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val p = Graft.conversionAbsorption(ev).collect()
      .map(r => r.getAs[String]("state") -> r.getAs[Double]("p_convert")).toMap
    // click -> purchase w.p. 1/2, error w.p. 1/2
    assert(math.abs(p("click") - 0.5) < 1e-12)
    // view -> click always, then click's 1/2
    assert(math.abs(p("view") - 0.5) < 1e-12)
    // signup -> purchase always
    assert(math.abs(p("signup") - 1.0) < 1e-12)
  }

  test("calibrationBins on a perfectly calibrated score has zero-ish ECE") {
    // score 0.25 with 1-in-4 positives, score 0.75 with 3-in-4 positives
    val rows = Seq.tabulate(40) { i =>
      if (i < 20) (0.25, i % 4 == 0) else (0.75, i % 4 != 0)
    }.toDF("score", "pos")
    val out = Graft.calibrationBins(rows, "score", "pos").collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("frac_pos") -
        r.getAs[Double]("mean_score")) < 1e-6)
      assert(r.getAs[Double]("ece_term") < 1e-6)
    }
  }

  test("forecastEnsemble is exactly the quantized component mean with the interval envelope") {
    val series = Seq(
      (1L, new java.sql.Timestamp(0L), 1.0),
      (1L, new java.sql.Timestamp(300000L), 3.0),
      (1L, new java.sql.Timestamp(600000L), 5.0)).toDF("user_id", "bucket_ts", "demand")
    def leg(m: String) = Graft.forecast(series, m).collect()
      .map(r => r.getAs[java.sql.Timestamp]("forecast_timestamp") ->
        ((r.getAs[Double]("forecast_value"), r.getAs[Double]("lo"),
          r.getAs[Double]("hi")))).toMap
    val comp = Seq("naive", "drift", "theta").map(leg)
    val ens = graft.operators.Forecast.forecastEnsemble(series).collect()
    assert(ens.length == 12)
    ens.foreach { r =>
      val ts = r.getAs[java.sql.Timestamp]("forecast_timestamp")
      val vs = comp.map(_(ts))
      val mean = vs.map(v => math.floor(v._1 * 1e9 + 0.5)).sum / 3.0 / 1e9
      val lo = vs.map(v => math.floor(v._2 * 1e9 + 0.5)).min / 1e9
      val hi = vs.map(v => math.floor(v._3 * 1e9 + 0.5)).max / 1e9
      assert(r.getAs[Double]("forecast_value") == mean)
      assert(r.getAs[Double]("lo") == lo && r.getAs[Double]("hi") == hi)
    }
  }

  test("the ann* facade is one index lifecycle plus four earlier names, " +
    "with no parallel plain/versioned family") {
    val annMethods = Graft.getClass.getMethods.toSeq
      .filter(m => m.getName.startsWith("ann") && !m.getName.contains("$"))
    val search = Set("annBruteForceTopK", "annIvfTopK", "annRecallEval",
      "annRankingEval", "annFilteredTopK", "annFilterSelectivity")
    val lifecycle = Set("annBuildIndex", "annSearchIndex", "annAppendIndex",
      "annDeleteFromIndex", "annCompactIndex", "annRebuildIndex",
      "annVacuumIndex", "annRebuildIfAdvised", "annRebuildAdvisor",
      "annPqDriftAudit")
    // the names perfbench's serve workload calls, with those calls' shapes
    val aliases = Map(
      "annInitVersionedVecIndex" -> Seq("Dataset", "String", "String"),
      "annSearchVersionedVecIndex" -> Seq("SparkSession", "String", "Dataset",
        "int", "int", "String", "int", "boolean"),
      "annAppendVersionedVecIndex" -> Seq("Dataset", "String"),
      "annDeleteFromVersionedVecIndex" -> Seq("SparkSession", "String", "Dataset"))
    assert(annMethods.map(_.getName).toSet === search ++ lifecycle ++ aliases.keySet)
    assert(annMethods.size === annMethods.map(_.getName).distinct.size,
      "an ann* member is overloaded")
    for ((name, params) <- aliases) {
      val m = annMethods.find(_.getName == name).get
      assert(m.getParameterTypes.map(_.getSimpleName).toSeq === params, name)
    }
  }
}
