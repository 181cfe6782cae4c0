package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Near-dup machinery validated on crafted fixtures (where brute-force
  * ground truth is computable in-test) — complementing the DuckDB oracle,
  * which can only see what exists in the driver data.
  */
class TextOpsSpec extends SparkSpec {

  import SparkSpec.spark.implicits._

  private val vocab = ('a' to 'z').map(c => s"w$c")

  /** base docs + planted near-duplicates (one word in ~20 changed). */
  private lazy val crafted = {
    val rng = new scala.util.Random(7)
    val base = (0 until 40).map { i =>
      i.toLong -> Seq.fill(60)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    val nearDups = (0 until 10).map { i =>
      val (id, text) = base(i)
      val words = text.split(" ")
      words(rng.nextInt(words.length)) = "ZZZ" // one-word mutation
      (100L + id) -> words.mkString(" ")
    }
    (base ++ nearDups).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text").cast("long"))
  }

  private def withCrafted[T](f: String => T): T = {
    val dir = tempDir("graft-text")
    crafted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    f(dir)
  }

  test("x7 minhash-LSH finds every planted 3-gram near-duplicate pair (recall 1.0 here)") {
    withCrafted { dir =>
      // ground truth: brute-force 3-gram jaccard >= 0.9 computed in-test
      def shingles(t: String): Set[String] =
        t.split(" ").sliding(3).map(_.mkString("|")).toSet
      val docs = crafted.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> shingles(r.getString(1)))
      val truth = (for {
        (a, sa) <- docs; (b, sb) <- docs if a < b
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= 0.9
      } yield (a, b)).toSet
      assert(truth.nonEmpty, "fixture must contain near-dups")

      val got = TextOps.x7.build(spark, dir).select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === truth)
    }
  }

  test("x5 dup-set detection groups identical word sets and nothing else") {
    withCrafted { dir =>
      def wordSet(t: String): Set[String] = t.split(" ").toSet
      val docs = crafted.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> wordSet(r.getString(1)))
      // ground truth in GROUP form: docs sharing a word set, labeled by
      // the group minimum, with member counts
      val truth = docs.groupBy(_._2).values.filter(_.size >= 2).flatMap { g =>
        val ids = g.map(_._1)
        ids.map(id => (id, ids.min, ids.size.toLong))
      }.toSet
      val got = TextOps.x5.build(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === truth)
      // and the pair path expands exactly the brute-force pair set
      val truthPairs = (for {
        (a, sa) <- docs; (b, sb) <- docs if a < b && sa == sb
      } yield (a, b)).toSet
      val gotPairs = TextOps.dupSetPairs(
        spark.read.parquet(s"$dir/documents.parquet")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotPairs === truthPairs)
    }
  }

  test("x6 simhash: near-dups are close in hamming distance, random pairs far") {
    withCrafted { dir =>
      val sh = TextOps.x6.build(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
      val nearDists = (0 until 10).map(i => ham(sh(i.toLong), sh(100L + i)))
      val farDists = for (a <- 0 until 10; b <- 20 until 30) yield ham(sh(a.toLong), sh(b.toLong))
      assert(nearDists.max <= 6, s"near-dup hamming too large: $nearDists")
      assert(farDists.sum.toDouble / farDists.size > nearDists.sum.toDouble / nearDists.size)
    }
  }

  test("x8 winnowing: shared substrings of >= k+w-1 chars share a fingerprint") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = "XX quick brown fox jumps over the lazy dog near the river bank tomorrow"
    val fa = TextOps.winnow(a).toSet
    val fb = TextOps.winnow(b).toSet
    assert(fa.intersect(fb).nonEmpty, "overlapping docs must share fingerprints")
    assert(TextOps.winnow(a).toSeq === TextOps.winnow(a).toSeq) // deterministic
    val unrelated = TextOps.winnow("zzz completely different content 12345 qqq ppp").toSet
    assert(fa.intersect(unrelated).size < fa.size / 2)
  }

  test("x4 language id is deterministic") {
    val a = TextOps.x4.build(spark, sf).orderBy("doc_id").collect()
    val b = TextOps.x4.build(spark, sf).orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("x9 tf-idf: the top term of a doc actually occurs in it") {
    val tops = TextOps.x9.build(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tops.nonEmpty)
    tops.foreach { case (id, term) =>
      assert(docs(id).split(" ").contains(term), s"doc $id top term '$term' not present")
    }
  }

  test("x10 hash sample is deterministic and roughly 10%") {
    val a = TextOps.x10.build(spark, sf).collect().map(_.getLong(0)).sorted
    val b = TextOps.x10.build(spark, sf).collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b))
    val total = graft.core.Tables.documents(spark, sf).count()
    assert(a.length > total / 20 && a.length < total / 5,
      s"sample ${a.length} of $total outside the loose 5-20% band")
  }

  test("x14 quality scalars and keep flag match an in-test recomputation") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextOps.x14.build(spark, sf).collect()
    assert(got.length === docs.size)
    got.foreach { r =>
      val words = docs(r.getLong(0)).split(" ")
      val counts = words.groupBy(identity).view.mapValues(_.length)
      val n = words.length.toLong
      assert(r.getLong(1) === n)
      assert(r.getLong(2) === counts.size.toLong)
      assert(r.getLong(3) === counts.values.max.toLong)
      val mwl = words.map(_.length).sum.toDouble / n
      val keep = n >= 20 && counts.size.toDouble / n > 0.4 &&
        counts.values.max.toDouble / n < 0.15 && mwl >= 3.0 && mwl <= 10.0
      assert(r.getDouble(4) === mwl)
      assert(r.getBoolean(7) === keep, s"keep mismatch for doc ${r.getLong(0)}")
    }
  }

  test("x15 contamination flags a planted benchmark copy and nothing else") {
    // src0 = benchmark; doc 200 copies benchmark doc 0 verbatim (every
    // 8-gram hits), doc 201 shares no 8-gram with the benchmark
    val rng = new scala.util.Random(13)
    val mk = () => Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val benchText = mk()
    val rows = Seq(
      (0L, benchText, "src0"), (1L, mk(), "src0"),
      (200L, benchText, "web"), (201L, "zq " * 39 + "zq", "web"))
    val dir = tempDir("graft-cont")
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.x15.build(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.keySet === Set(200L, 201L)) // only non-benchmark docs reported
    assert(got(200L)._2 && got(200L)._1 > 0, "verbatim copy must be contaminated")
    assert(got(201L) === ((0L, false)), "disjoint doc must be clean")
  }

  test("x61 decontamination removes exactly the planted copy and conserves " +
    "docs and tokens within each source") {
    val rng = new scala.util.Random(13)
    val mk = () => Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val benchText = mk()
    val cleanText = "zq " * 39 + "zq"
    val rows = Seq(
      (0L, benchText, "src0"), (1L, mk(), "src0"),
      (200L, benchText, "web"), (201L, cleanText, "web"),
      (300L, mk(), "books"))
    val dir = tempDir("graft-decon")
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.x61.build(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_kept"),
        r.getAs[Long]("n_removed"), r.getAs[Long]("tokens_kept"),
        r.getAs[Long]("tokens_removed"))).toMap
    assert(got("web") == ((1L, 1L, 40L, 40L)))
    // books doc is random over the same vocab — it may or may not share an
    // 8-gram by chance; only conservation is guaranteed
    val b = got("books")
    assert(b._1 + b._2 == 1L && b._3 + b._4 == 40L)
    assert(!got.contains("src0"), "the benchmark itself is never audited")
  }

  test("x67 mixture apply: kept sets equal an exact local md5 replay and the " +
    "binding tier keeps everything at rate 1e6 ppm") {
    // 2 tiers (src0..4 -> tier 0 @ 0.4, src5..9 -> tier 1 @ 0.3): tier 1
    // has far fewer tokens per target, so it binds (rate 1.0) and tier 0
    // downsamples
    val docs = (0 until 80).map { i =>
      val src = if (i < 40) s"src${i % 5}" else s"src${5 + i % 5}"
      val nTok = if (i < 40) 40 else 10 // tier0: 1600 tokens, tier1: 400
      (i.toLong, (0 until nTok).map(j => s"t${i}x$j").mkString(" "), "en", src)
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
    val got = TextOps.mixtureApply(docs).collect()
      .map(r => r.getAs[Int]("tier") -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("tokens_in"),
        r.getAs[Long]("tokens_kept"), r.getAs[Long]("rate_ppm"))).toMap
    // local replay: t_star = min(tokens/frac) = min(1600/0.4, 400/0.3) =
    // 400/0.3; tier rates then follow, and each doc's draw is the md5
    // residue the query computes
    val tokens = Map(0 -> 1600.0, 1 -> 400.0)
    val frac = Map(0 -> 0.4, 1 -> 0.3)
    val tStar = (tokens(0) / frac(0)) min (tokens(1) / frac(1))
    def ratePpm(t: Int): Long =
      math.floor(frac(t) * tStar / tokens(t) * 1e6 + 0.5).toLong
    def draw(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:mix".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 1000000L
    }
    (0 to 1).foreach { t =>
      val ids = (0 until 80).filter(i => (if (i < 40) 0 else 1) == t).map(_.toLong)
      val keptIds = ids.filter(id => draw(id) < ratePpm(t))
      val perDoc = if (t == 0) 40L else 10L
      val (nDocs, nKept, tokIn, tokKept, rp) = got(t)
      assert(rp == ratePpm(t), s"tier $t rate: $rp vs ${ratePpm(t)}")
      assert(nDocs == ids.size.toLong && tokIn == ids.size * perDoc)
      assert(nKept == keptIds.size.toLong, s"tier $t kept ${nKept} vs local ${keptIds.size}")
      assert(tokKept == keptIds.size * perDoc)
    }
    assert(got(1)._5 == 1000000L && got(1)._2 == got(1)._1,
      "binding tier must keep everything")
    // determinism: a second run reproduces the identical report
    assert(TextOps.mixtureApply(docs).collect().map(_.toSeq).toSet ==
      TextOps.mixtureApply(docs).collect().map(_.toSeq).toSet)
  }

  test("x68 temperature mixture: exact local sqrt-quantize replay, " +
    "flattening boosts small sources and dampens large ones, rates sum to ~1e6") {
    // three sources with strongly skewed token mass: 10/40/160 docs of 10
    // tokens each -> proportional shares 1/21, 4/21, 16/21
    val docs = (0 until 210).map { i =>
      val src = if (i < 10) "tiny" else if (i < 50) "mid" else "big"
      (i.toLong, (0 until 10).map(j => s"u${i}w$j").mkString(" "), "en", src)
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
    val got = TextOps.temperatureMixture(docs).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("wq"),
          r.getAs[Long]("rate_ppm"), r.getAs[Long]("prop_ppm"))).toMap
    // exact local replay of the quantize ladder
    val n = Map("tiny" -> 100L, "mid" -> 400L, "big" -> 1600L)
    val wq = n.map { case (s, v) => s -> math.floor(math.sqrt(v.toDouble) * 1000 + 0.5).toLong }
    val totW = wq.values.sum; val totN = n.values.sum
    n.keys.foreach { s =>
      val (nt, w, rate, prop) = got(s)
      assert(nt == n(s) && w == wq(s))
      assert(rate == math.floor(w.toDouble * 1e6 / totW + 0.5).toLong)
      assert(prop == math.floor(nt.toDouble * 1e6 / totN + 0.5).toLong)
    }
    // flattening: the small source is boosted above its proportional
    // share, the big one dampened below it
    assert(got("tiny")._3 > got("tiny")._4, s"tiny must be boosted: ${got("tiny")}")
    assert(got("big")._3 < got("big")._4, s"big must be dampened: ${got("big")}")
    val rateSum = got.values.map(_._3).sum
    assert(math.abs(rateSum - 1000000L) <= got.size.toLong,
      s"rates must sum to ~1e6 (rounding only): $rateSum")
  }

  test("x16 packing is gapless per source and pack spans match the budget") {
    val rows = TextOps.x16.build(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      // each doc starts exactly where the previous one ended
      sorted.sliding(2).foreach {
        case Array((_, _, n0, s0, _, _, _), (_, _, _, s1, _, _, _)) =>
          assert(s1 === s0 + n0)
        case _ =>
      }
      sorted.foreach { case (_, _, n, start, first, last, nPacks) =>
        assert(first === start / 256)
        assert(last === (start + n - 1) / 256)
        assert(nPacks === last - first + 1)
      }
    }
  }

  test("x17 keeps exactly one doc per component, the longest (ties: min id)") {
    val rows = TextOps.x17.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (comp, members) =>
      val keepers = members.filter(_._4)
      assert(keepers.length === 1, s"component $comp has ${keepers.length} keepers")
      val best = members.minBy(m => (-m._3, m._1))
      assert(keepers.head._1 === best._1,
        s"component $comp kept ${keepers.head._1}, expected ${best._1}")
    }
  }

  test("x35 similarityJoin self-join above the diagonal equals nearDupPairs") {
    val sj = TextOps.similarityJoin(crafted, crafted, 0.9)
      .filter($"a_id" < $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ndp = TextOps.nearDupPairs(crafted, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ndp.nonEmpty)
    assert(sj === ndp)
  }

  test("x35 similarityJoin finds every planted cross-corpus near-dup") {
    val base = crafted.filter($"doc_id" < 100)
    val dups = crafted.filter($"doc_id" >= 100)
    val got = TextOps.similarityJoin(base, dups, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted mutation (id 100+i is a 1-word edit of id i) must pair up
    (0 until 10).foreach { i =>
      assert(got.contains((i.toLong, 100L + i)), s"missed planted pair ($i, ${100 + i})")
    }
    // and each found pair really is the planted alignment or a chance
    // base-base collision surfaced cross-side — verify exact jaccard >= 0.9
    assert(got.forall { case (a, b) => a < 100 && b >= 100 })
  }

  /** Curation fixture: quality-passing base docs (5-char words, 100-word
    * vocab -> distinct ratio ~0.75, top-word frac ~0.05), plus planted
    * failures of each curation stage.
    */
  private lazy val curateCorpus = {
    val rng = new scala.util.Random(23)
    val vocab2 = (0 until 100).map(i => f"wrd$i%03d")
    val base = (0 until 30).map { i =>
      i.toLong -> Seq.fill(60)(vocab2(rng.nextInt(100))).mkString(" ")
    }
    val exactDup = Seq(200L -> base(0)._2) // identical text, higher id
    val nearDup = Seq(201L -> {
      val w = base(1)._2.split(" "); w(7) = "mutant"; w.mkString(" ")
    })
    val junk = Seq(202L -> Seq.fill(40)("aa").mkString(" ")) // fails quality
    (base ++ exactDup ++ nearDup ++ junk).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text").cast("long"))
  }

  test("curate drops junk, exact dups, and near-dups; keeps canonical docs with a valid split") {
    val out = TextOps.curate(curateCorpus, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    val kept = out.map(_._1).toSet
    assert(!kept.contains(202L), "quality-failing doc survived")
    assert(!kept.contains(200L), "exact duplicate survived")
    assert(!kept.contains(201L), "near duplicate survived")
    assert(kept.contains(0L) && kept.contains(1L), "canonical docs were dropped")
    assert(kept === (0L until 30L).toSet)
    out.foreach { case (id, comp, nDups, split, nTok) =>
      assert(id === comp, s"kept doc $id is not its component's canonical")
      assert(Set("train", "val", "test").contains(split))
      assert(nTok === 60L)
      assert(nDups >= 1L)
    }
    // the exact dup is removed BEFORE the closure (so doc 0's component is a
    // singleton); the near dup reaches the closure and folds into doc 1's
    val byId = out.map(o => o._1 -> o._3).toMap
    assert(byId(0L) === 1L, "exact dups are deduped before the component stage")
    assert(byId(1L) === 2L, "near dup should fold into doc 1's component")
  }

  test("curationReport stage counts match the planted funnel exactly") {
    val rows = TextOps.curationReport(curateCorpus, 0.9).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.size === 4)
    // 30 base (60 tok) + exact dup (60) + near dup (60) + junk (40 tok)
    assert(rows("input") === ((33L, 30L * 60 + 60 + 60 + 40)))
    assert(rows("quality_pass") === ((32L, 32L * 60)))   // junk gone
    assert(rows("exact_deduped") === ((31L, 31L * 60)))  // copy gone
    assert(rows("kept") === ((30L, 30L * 60)))           // near dup gone
  }

  test("x81 costed report: counts bit-equal the uncosted report, every " +
    "stage has a wall time, shuffling stages report shuffle bytes") {
    val rows = TextOps.curationReportCosts(curateCorpus, 0.9).collect()
    assert(rows.length === 4)
    val counts = rows
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))))
      .toMap
    val want = TextOps.curationReport(curateCorpus, 0.9).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(counts === want,
      "cost instrumentation must not change the funnel counts")
    rows.foreach { r =>
      if (r.getString(0) == "input")
        // input carries zero cost by construction (never materialized
        // just for a clock — the x82 convention)
        assert(r.getAs[Long]("wall_ms") === 0L)
      else
        assert(r.getAs[Long]("wall_ms") >= 1L,
          s"stage ${r.getString(0)} has no wall time")
      assert(r.getAs[Long]("shuffle_bytes") >= 0L)
    }
    // the dedup stages shuffle by construction (groupBy md5 / the LSH
    // band exchange) — their attributed shuffle traffic must be visible
    val shuffly = rows.filter(r =>
      Set("exact_deduped", "kept").contains(r.getString(0)))
    assert(shuffly.forall(_.getAs[Long]("shuffle_bytes") > 0L),
      "dedup stages must report attributed shuffle bytes")
  }

  test("dsirWeights ranks target-domain docs above off-domain docs") {
    val rng = new scala.util.Random(41)
    val vocabA = (0 until 50).map(i => f"alpha$i%02d")
    val vocabB = (0 until 50).map(i => f"beta$i%02d")
    val aDocs = (0 until 20).map { i =>
      i.toLong -> Seq.fill(40)(vocabA(rng.nextInt(50))).mkString(" ")
    }
    val bDocs = (0 until 20).map { i =>
      (100L + i) -> Seq.fill(40)(vocabB(rng.nextInt(50))).mkString(" ")
    }
    val docs = (aDocs ++ bDocs).toDF("doc_id", "text")
    val target = docs.filter($"doc_id" < 5) // a slice of the A domain
    val w = TextOps.dsirWeights(docs, target).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(w.length === 40)
    w.foreach { case (_, _, nTok) => assert(nTok === 40L) }
    val aMin = w.filter(_._1 < 100).map(_._2).min
    val bMax = w.filter(_._1 >= 100).map(_._2).max
    assert(aMin > bMax,
      s"every A-domain doc should out-score every B-domain doc ($aMin vs $bMax)")
  }

  test("x40 cross-source overlap: canonical pair order, counts bounded by source vocab") {
    val out = TextOps.x40.build(SparkSpec.spark, sf).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b"),
        r.getAs[Long]("shared_grams")))
    assert(out.forall { case (a, b, n) => a < b && n > 0 })
    assert(out.map { case (a, b, _) => (a, b) }.distinct.length == out.length)
    // a pair's shared grams cannot exceed either side's distinct-gram vocab
    val perSource = TablesFixture.docs(sf)
      .flatMap { case (_, src, text) =>
        val w = text.split(" ")
        if (w.length < 8) Iterator.empty
        else w.sliding(8).map(g => (src, g.mkString(" ")))
      }.groupBy(_._1).map { case (s, g) => s -> g.map(_._2).distinct.size }
    out.foreach { case (a, b, n) =>
      assert(n <= math.min(perSource(a), perSource(b)))
    }
  }

  test("x41 entropy: bounded by ln(n_tokens), exact for uniform and constant docs") {
    val out = TextOps.x41.build(SparkSpec.spark, sf).collect()
    out.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val h = r.getAs[Double]("entropy")
      assert(h >= -1e-3 && h <= math.log(n.toDouble) + 1e-3,
        s"doc ${r.getAs[Long]("doc_id")}: H=$h outside [0, ln($n)]")
    }
    // closed-form checks on a synthetic corpus: all-same words => H = 0;
    // all-distinct words => H = ln(n)
    val docs = Seq(
      (1L, Seq.fill(16)("same").mkString(" ")),
      (2L, (0 until 16).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val f = docs.select($"doc_id", explode(split($"text", " ")).as("word"))
      .groupBy("doc_id", "word").count()
    val got = f.groupBy("doc_id").agg(
        sum("count").as("n"),
        sum(floor($"count".cast("double") * log($"count".cast("double")) * 1000.0 + 0.5)
          .cast("long")).as("clnc"))
      .select($"doc_id",
        ((floor(log($"n".cast("double")) * 1000.0 + 0.5) -
          $"clnc".cast("double") / $"n".cast("double")) / 1000.0).as("h"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("h")).toMap
    // tolerance = the op's documented milli-nat quantization resolution
    assert(math.abs(got(1L)) < 2e-3)
    assert(math.abs(got(2L) - math.log(16.0)) < 2e-3)
  }

  test("x47 mass quantiles: monotone in pct, by-mass >= by-docs on a heavy tail") {
    val out = graft.operators.TextOps.x47.build(SparkSpec.spark, sf)
      .collect().sortBy(_.getAs[Int]("pct"))
    assert(out.map(_.getAs[Int]("pct")).toSeq == Seq(25, 50, 75, 90))
    val byDocs = out.map(_.getAs[Long]("len_by_docs"))
    val byMass = out.map(_.getAs[Long]("len_by_mass"))
    assert(byDocs.zip(byDocs.tail).forall { case (a, b) => b >= a })
    assert(byMass.zip(byMass.tail).forall { case (a, b) => b >= a })
    // byte mass concentrates in longer docs, so each mass quantile sits at
    // or above the corresponding doc-count quantile
    assert(byDocs.zip(byMass).forall { case (d, m) => m >= d })
    // hand replay at the median: cumulative mass over the distinct-length
    // domain, first length whose cum crosses half the total (the op's
    // exact integer rule)
    val lens = graft.core.Tables.documents(SparkSpec.spark, sf)
      .select("n_chars").collect().map(_.getLong(0))
    val totMass = lens.sum
    var cum = 0L
    val medExact = lens.groupBy(identity).toSeq.sortBy(_._1).find { case (l, g) =>
      cum += l * g.length; cum * 100 >= 50 * totMass }.get._1
    assert(out(1).getAs[Long]("len_by_mass") == medExact)
  }

  test("x49 containment finds an embedded quote that Jaccard dedup misses") {
    // long doc = 120 unique-ish words; short doc = a verbatim 15-word span
    // of it. Jaccard ~ 13/118 (tiny), containment = 1.0.
    val rng = new scala.util.Random(23)
    val longWords = Seq.fill(120)(vocab(rng.nextInt(vocab.size)) + rng.nextInt(100))
    val span = longWords.slice(40, 55)
    val rows = Seq(
      (1L, longWords.mkString(" "), "src"),
      (2L, span.mkString(" "), "src"),
      (3L, Seq.fill(60)("qq" + rng.nextInt(9)).mkString(" "), "src"))
    val dir = tempDir("graft-cont2")
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.x49.build(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("containment"))).toMap
    assert(got.contains((1L, 2L)), s"embedded span must surface: ${got.keySet}")
    assert(got((1L, 2L)) == 1.0, "verbatim span has containment exactly 1")
    // and the symmetric Jaccard op does NOT pair them at 0.9
    val jac = TextOps.x7.build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)))
  }

  test("x50 method report agrees with the standalone dedup ops") {
    val rows = graft.operators.TextOps.x50.build(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_removed")))
      .toMap
    val n = graft.core.Tables.documents(spark, sf).count()
    assert(rows.values.forall(_._1 == n))
    val exact = graft.operators.TextOps.x1.build(spark, sf).collect()
      .map(_.getAs[Long]("n") - 1).sum
    assert(rows("exact_md5")._2 == exact)
    val near = graft.operators.TextOps.x11.build(spark, sf).collect()
      .map(r => r.getAs[Long]("component") -> r.getAs[Long]("n_members")).distinct
      .map(_._2 - 1).sum
    assert(rows("neardup_components")._2 == near)
    assert(rows("containment")._2 >= 0 && rows("containment")._2 <= n)
  }

  test("x51 PMI ranks a true collocation above a frequent independent pair") {
    val s = SparkSpec.spark
    import s.implicits._
    // "york" only ever follows "new" (perfect collocation); "the cat"
    // co-occurs often but both words also appear apart everywhere else.
    val filler = (1 to 40).map(i => s"the dog saw a cat and the bird $i")
    val docs = ((1 to 8).map(_ => "we flew to new york yesterday") ++
      (1 to 8).map(_ => "the cat sat") ++ filler)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = graft.operators.TextOps.pmiCollocations(docs, minCount = 5, k = 5)
      .collect().map(r => r.getAs[String]("bigram") -> r.getAs[Double]("pmi"))
    val rank = out.map(_._1)
    assert(rank.contains("new york"))
    val pmi = out.toMap
    assert(pmi("new york") > pmi.getOrElse("the cat", Double.NegativeInfinity))
    // PMI of a perfect 1:1 collocation is ln(N_uni^2 / (N_bg * c_ab)) —
    // replay it locally from the same counts
    val toksAll = docs.collect().flatMap(_.getString(1).split("[^a-z0-9]+").filter(_.nonEmpty))
    val nUni = toksAll.length.toDouble
    val nBg = docs.collect().map(_.getString(1).split("[^a-z0-9]+").count(_.nonEmpty) - 1).sum.toDouble
    val expected = math.floor(math.log((8 / nBg) / ((8 / nUni) * (8 / nUni))) * 1e9 + 0.5) / 1e9
    assert(math.abs(pmi("new york") - expected) < 1e-12)
  }

  test("x48 distinct-n: matches a local recomputation per source") {
    val out = graft.operators.TextOps.x48.build(SparkSpec.spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n1"), r.getAs[Long]("d1"),
          r.getAs[Long]("n2"), r.getAs[Long]("d2"))).toMap
    val docs = graft.core.Tables.documents(SparkSpec.spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val words = ds.toSeq.map(_._2.split(" ").toSeq)
      val unis = words.flatten
      val bis = words.flatMap(w => w.zip(w.drop(1)).map { case (a, b) => s"$a $b" })
      src -> (unis.size.toLong, unis.distinct.size.toLong,
        bis.size.toLong, bis.distinct.size.toLong)
    }
    assert(out == expect)
    // ratios must sit in (0, 1]
    graft.operators.TextOps.x48.build(SparkSpec.spark, sf).collect().foreach { r =>
      assert(r.getAs[Double]("distinct1") > 0 && r.getAs[Double]("distinct1") <= 1.0)
      assert(r.getAs[Double]("distinct2") > 0 && r.getAs[Double]("distinct2") <= 1.0)
    }
  }

  test("x55 perplexity: per-doc NLL replays from corpus bigram counts") {
    val docs = TablesFixture.docs(sf)
    def tok(t: String): Seq[String] =
      t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    val allToks = docs.map(d => d._1 -> tok(d._3))
    val uni = allToks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val v = uni.size.toLong
    val bc = allToks.flatMap { case (_, w) =>
      w.zip(w.drop(1)).map { case (a, b) => s"$a $b" }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = graft.operators.TextOps.x55.build(SparkSpec.spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val expected = allToks.filter(_._2.size >= 2)
    assert(got.keySet == expected.map(_._1).toSet)
    expected.foreach { case (id, w) =>
      val terms = w.zip(w.drop(1)).map { case (a, b) =>
        val p = (bc(s"$a $b").toDouble + 1.0) / (uni(a).toDouble + v.toDouble)
        math.floor(-math.log(p) * 1e9 + 0.5).toLong
      }
      val avg = (terms.sum.toDouble / 1e9) / terms.size
      val r = got(id)
      assert(r.getAs[Long]("n_bigrams") == terms.size.toLong)
      assert(r.getAs[Double]("avg_nll") == avg, s"nll doc $id")
      assert(r.getAs[Double]("perplexity") ==
        math.floor(math.exp(avg) * 1e9 + 0.5) / 1e9)
      // add-1 smoothed bigram prob is at most (c+1)/(c+V) < 1 => ppl > 1
      assert(r.getAs[Double]("perplexity") > 1.0)
    }
  }

  test("x56 curriculum: bands partition by exact quartiles, positions dense") {
    val ppl = graft.operators.TextOps.x55.build(SparkSpec.spark, sf)
      .selectExpr("doc_id", "CAST(floor(perplexity * 100 + 0.5) AS LONG) AS p2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = graft.operators.TextOps.x56.build(SparkSpec.spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Int]("band"), r.getLong(2), r.getAs[Int]("pos")))
    assert(out.map(_._1).toSet == ppl.keySet)
    // thresholds replay: type-1 order statistics on the quantized domain
    val sorted = ppl.values.toSeq.sorted
    def t(q: Double) = sorted(math.ceil(q * sorted.size).toInt - 1)
    val (t25, t50, t75) = (t(0.25), t(0.5), t(0.75))
    out.foreach { case (id, band, _, _) =>
      val p2 = ppl(id)
      val want = 1 + (if (p2 > t25) 1 else 0) + (if (p2 > t50) 1 else 0) +
        (if (p2 > t75) 1 else 0)
      assert(band == want, s"band doc $id")
    }
    // all four bands populated; positions within (band, shard) are 1..k dense
    assert(out.map(_._2).toSet == Set(1, 2, 3, 4))
    out.groupBy(r => (r._2, r._3)).values.foreach { g =>
      assert(g.map(_._4).sorted.toSeq == (1 to g.length))
    }
  }

  test("x54 ablation: rule counts replay from x14, any-row ties to keep") {
    val out = graft.operators.TextOps.x54.build(SparkSpec.spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.size == 5)
    val x14 = graft.operators.TextOps.x14.build(SparkSpec.spark, sf).collect()
    val total = x14.length
    val kept = x14.count(_.getAs[Boolean]("keep"))
    // 'any' failures are exactly the non-kept docs
    assert(out("any")._1 == (total - kept).toLong)
    // unique kills can never exceed a rule's failures, and they partition
    // the exactly-one-failure docs
    val rules = Seq("min_words", "distinct_ratio", "top_word_frac", "mean_word_len")
    rules.foreach(r => assert(out(r)._2 <= out(r)._1))
    assert(rules.map(out(_)._2).sum == out("any")._2)
    // per-rule failure counts replay from the x14 metrics
    val f1 = x14.count(_.getAs[Long]("n_words") < 20)
    val f2 = x14.count(_.getAs[Double]("distinct_ratio") <= 0.4)
    assert(out("min_words")._1 == f1.toLong)
    assert(out("distinct_ratio")._1 == f2.toLong)
    // char mass: 'any' removal is bounded by the corpus mass
    val mass = graft.core.Tables.documents(SparkSpec.spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_chars")).head().getLong(0)
    assert(out("any")._3 <= mass)
  }

  test("x53 fertility: slice sums replay from x2's per-doc stats exactly") {
    val perDoc = graft.operators.TextOps.x2.build(SparkSpec.spark, sf)
      .selectExpr("doc_id", "n_words", "n_bpe_tokens", "len_chars").collect()
      .map(r => r.getLong(0) -> (r.getInt(1).toLong, r.getInt(2).toLong, r.getInt(3).toLong))
      .toMap
    val meta = graft.core.Tables.documents(SparkSpec.spark, sf)
      .selectExpr("doc_id", "lang", "source").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
    val expect = meta.groupBy(_._2).map { case (k, g) =>
      val st = g.map(x => perDoc(x._1))
      k -> (g.length.toLong, st.map(_._1).sum, st.map(_._2).sum, st.map(_._3).sum)
    }
    val got = graft.operators.TextOps.x53.build(SparkSpec.spark, sf).collect()
    assert(got.length == expect.size)
    got.foreach { r =>
      val k = (r.getAs[String]("lang"), r.getAs[String]("source"))
      val (nd, w, t, c) = expect(k)
      assert(r.getAs[Long]("n_docs") == nd)
      assert(r.getAs[Long]("n_words") == w && r.getAs[Long]("n_tokens") == t &&
        r.getAs[Long]("n_chars") == c)
      assert(r.getAs[Double]("fertility") == t.toDouble / w.toDouble)
      assert(r.getAs[Double]("chars_per_token") == c.toDouble / t.toDouble)
      // a whitespace tokenizer can only split words further: fertility >= ~1
      assert(r.getAs[Double]("fertility") >= 1.0)
    }
  }

  test("x52 planner: s-curves replay locally, chosen config is the x5 16x4 banding") {
    val out = graft.operators.TextOps.x52.build(SparkSpec.spark, sf).collect()
    assert(out.length == 7 * 19)
    out.foreach { r =>
      val b = r.getAs[Int]("bands"); val rr = r.getAs[Int]("rows_per_band")
      assert(b * rr == 64)
      val s = r.getAs[Double]("s")
      // local replay with the same ascending multiply folds
      var sr = 1.0; (1 to rr).foreach(_ => sr *= s)
      var q = 1.0; (1 to b).foreach(_ => q *= (1.0 - sr))
      assert(r.getAs[Double]("p_candidate") == 1.0 - q, s"p at b=$b r=$rr s=$s")
      var tr = 1.0; (1 to rr).foreach(_ => tr *= 0.9)
      var qt = 1.0; (1 to b).foreach(_ => qt *= (1.0 - tr))
      assert(r.getAs[Double]("recall_at_threshold") == 1.0 - qt)
      // chosen = largest r with recall >= 0.999 at t=0.9, which is 4 (16x4):
      // r=8 reaches only ~0.989, r=4 reaches ~1-4e-8
      assert(r.getAs[Boolean]("chosen") == (rr == 4))
    }
    // monotone: within a config, p_candidate is non-decreasing in s
    out.groupBy(r => r.getAs[Int]("bands")).values.foreach { g =>
      val ps = g.sortBy(_.getAs[Double]("s")).map(_.getAs[Double]("p_candidate"))
      assert(ps.sliding(2).forall(p => p.head <= p.last))
    }
  }

  test("x58 novelty: first doc fully novel, fractions in [0,1], " +
    "novel grams partition the gram vocabulary") {
    val out = graft.operators.TextOps.x58.build(SparkSpec.spark, sf).collect()
    val docs = graft.core.Tables.documents(SparkSpec.spark, sf)
    assert(out.length == docs.count())
    out.foreach { r =>
      val nv = r.getAs[Double]("novelty")
      assert(nv >= 0.0 && nv <= 1.0)
      assert(r.getAs[Long]("n_novel") <= r.getAs[Long]("n_grams"))
    }
    // the earliest doc with >= 8 words introduces every one of its grams
    val withGrams = out.filter(_.getAs[Long]("n_grams") > 0)
    assert(withGrams.nonEmpty)
    val first = withGrams.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Double]("novelty") == 1.0)
    // every distinct gram is novel in exactly one doc (its first)
    import org.apache.spark.sql.functions._
    val distinctGrams = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 8)
      .selectExpr("explode(transform(sequence(0, size(w) - 8), i -> array_join(slice(w, i + 1, 8), ' '))) AS g")
      .select("g").distinct().count()
    assert(out.map(_.getAs[Long]("n_novel")).sum == distinctGrams)
  }

  test("x63 readability: hand-counted doc gives exact Flesch and FK grade") {
    val df = Seq((1L, "the cat sat. it ran! ok?"), (2L, "")).toDF("doc_id", "text")
    val out = TextOps.readability(df).collect()
    assert(out.length == 1) // empty doc dropped
    val r = out.head
    assert(r.getAs[Long]("n_words") == 6L)     // 6 space tokens
    assert(r.getAs[Long]("n_sentences") == 3L) // . ! ?
    assert(r.getAs[Long]("n_syllables") == 6L) // one vowel group per word
    val flesch = 206.835 - 1.015 * (6.0 / 3.0) - 84.6 * (6.0 / 6.0)
    val grade = 0.39 * (6.0 / 3.0) + 11.8 * (6.0 / 6.0) - 15.59
    assert(r.getAs[Double]("flesch") == flesch)
    assert(r.getAs[Double]("fk_grade") == grade)
  }

  test("x64 code/prose: braces-dense doc flagged, plain prose not, ratio exact") {
    val code = "def f(x) { return (x = x + 1); } class G { var y; }"
    val prose = "a plain sentence about nothing much at all here now"
    val df = Seq((1L, code), (2L, prose))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length($"text").cast("long"))
    val got = TextOps.codeProse(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Boolean]("is_code"))
    assert(!got(2L).getAs[Boolean]("is_code"))
    assert(got(2L).getAs[Long]("n_sym") == 0L)
    val c = got(1L)
    assert(c.getAs[Double]("sym_ratio") ==
      c.getAs[Long]("n_sym").toDouble / code.length.toDouble)
    assert(c.getAs[Long]("kw_hits") >= 3L) // def, return, class, var
  }

  test("x62 hybrid RRF: top-10 fused, rrf recomputes from ranks, order strict") {
    val out = graft.operators.TextOps.x62.build(SparkSpec.spark, sf).collect()
    assert(out.length == 10)
    val fusedRanks = out.map(_.getAs[Int]("fused_rank")).sorted
    assert(fusedRanks.sameElements(1 to 10))
    out.foreach { r =>
      val lex = Option(r.getAs[Integer]("lex_rank")).map(_.toInt)
      val vec = Option(r.getAs[Integer]("vec_rank")).map(_.toInt)
      assert(lex.nonEmpty || vec.nonEmpty) // full-outer row must have an arm
      val expect = lex.map(x => 1.0 / (60.0 + x)).getOrElse(0.0) +
        vec.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-12)
      lex.foreach(x => assert(x >= 1 && x <= 20))
      vec.foreach(x => assert(x >= 1 && x <= 20))
    }
    // fused_rank ordering must follow (rrf desc, doc_id asc)
    val byRank = out.sortBy(_.getAs[Int]("fused_rank"))
      .map(r => (r.getAs[Double]("rrf"), r.getAs[Long]("doc_id")))
    byRank.sliding(2).foreach { case Array((s1, d1), (s2, d2)) =>
      assert(s1 > s2 || (s1 == s2 && d1 < d2))
    }
  }

  test("x65 DSIR: target-like raw doc outscores an off-target one; quantized " +
    "log-weights match a hand replay of the smoothed bucket ratios") {
    import SparkSpec.spark.implicits._
    // target (src0): "aaa aaa"; raw pool adds one aaa-doc and one zzz-doc
    val df = Seq(
      (1L, "aaa aaa", "src0"), (2L, "aaa aaa", "src1"), (3L, "zzz zzz", "src1"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.dsirWeights(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(2L, 3L)) // only raw docs are scored
    // bucket counts: aaa -> n_raw=4, n_tgt=2; zzz -> n_raw=2, n_tgt=0
    // (valid iff the two words land in different buckets, asserted via
    // the strict score ordering below). tot_raw=6, tot_tgt=2, B=64.
    def lrq(nTgt: Long, nRaw: Long) = math.floor(
      (math.log((nTgt + 1.0) / (2 + 64.0)) - math.log((nRaw + 1.0) / (6 + 64.0)))
        * 1e6 + 0.5).toLong
    assert(got(2L).getAs[Long]("logw_q") == 2 * lrq(2, 4))
    assert(got(3L).getAs[Long]("logw_q") == 2 * lrq(0, 2))
    assert(got(2L).getAs[Double]("logw") > got(3L).getAs[Double]("logw"))
    // with a 2-token target, add-1 smoothing over 64 buckets pulls every
    // ratio below the raw average — target_like is the replayed sign, not
    // a hardcoded boolean (here both negative; ordering above still holds)
    assert(got(2L).getAs[Boolean]("target_like") == (2 * lrq(2, 4) > 0))
    assert(got(3L).getAs[Boolean]("target_like") == (2 * lrq(0, 2) > 0))
    assert(got(2L).getAs[Long]("n_tok") == 2L)
  }

  test("x59 RAKE: 20 phrases, stopword-free, <= 4 words, scores ordered and >= length") {
    val stops = Set(
      "the", "of", "and", "a", "to", "in", "is", "it", "for", "on",
      "with", "as", "at", "by", "this", "that", "be", "are", "was", "or")
    val out = graft.operators.TextOps.x59.build(SparkSpec.spark, sf).collect()
    assert(out.length == 20)
    val scores = out.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sortBy(-_)))
    out.foreach { r =>
      val words = r.getAs[String]("phrase").split(" ")
      assert(words.nonEmpty && words.length <= 4)
      assert(words.forall(w => !stops(w)))
      // every word score deg/freq >= 1, so a phrase scores at least its length
      assert(r.getAs[Double]("score") >= words.length - 1e-6)
      assert(r.getAs[Long]("n_occurrences") >= 1L)
    }
  }

  test("x69 bloom decontam: no false negatives vs the exact 4-gram check, " +
    "clean docs unflagged, positions table bounded") {
    // planted fixture: bench docs, exact-copy contamination, clean docs
    val bench = Seq(
      (0L, "wa wb wc wd we wf wg wh"),
      (1L, "m1 m2 m3 m4 m5 m6")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "xx wa wb wc wd yy zz qq"), // shares bench 4-gram wa..wd
      (11L, "m3 m4 m5 m6 tail1 tail2"), // shares bench 4-gram m3..m6
      (12L, "c1 c2 c3 c4 c5 c6 c7"), // clean
      (13L, "wa wb xx wc wd we yy zz") // 4-gram-broken rearrangement: clean
    ).toDF("doc_id", "text")
    val got = TextOps.bloomDecontam(train, bench).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_hits"), r.getAs[Boolean]("flagged")))
      .toMap
    // bloom guarantee: every truly-contaminated doc IS flagged
    assert(got(10L)._2 && got(11L)._2, s"false negative: $got")
    // at this filter load (handful of shingles in a 2^20-bit space) the
    // FP probability is ~1e-16 — clean docs must come back unflagged
    assert(!got(12L)._2 && !got(13L)._2, s"false positive: $got")
    assert(got(10L)._1 == 1L && got(11L)._1 == 1L)
    // determinism: a second run reproduces the identical result set
    assert(TextOps.bloomDecontam(train, bench).collect().map(_.toSeq).toSet ==
      TextOps.bloomDecontam(train, bench).collect().map(_.toSeq).toSet &&
      TextOps.bloomDecontam(train, bench).count() == 4L)
  }

  test("x70 epoch waterfill: saturation order follows cap/weight, budget " +
    "conserved, allocations within cap, epochs at most the ceiling") {
    // skewed fixture: tiny high-weight source saturates, big one waterfills
    val docs = (0 until 140).map { i =>
      val src = if (i < 10) "tiny" else if (i < 40) "mid" else "big"
      (i.toLong, (0 until 10).map(j => s"u${i}w$j").mkString(" "), "en", src)
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
    val weights = Seq(("tiny", 4L), ("mid", 2L), ("big", 1L)).toDF("source", "w")
    val got = TextOps.epochWaterfill(docs, weights).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("cap"),
          r.getAs[Boolean]("saturated"), r.getAs[Long]("alloc_tokens"),
          r.getAs[Long]("epochs_milli"))).toMap
    // n = 100/300/1000 tokens; total 1400, budget = 2450, caps 200/600/2000
    // ratios cap/w = 50/300/2000: tiny and mid saturate (checked by hand:
    // (2450-0)*4 >= 200*7; (2450-200)*2 >= 600*3), big waterfills
    assert(got("tiny")._3 && got("mid")._3 && !got("big")._3, s"$got")
    assert(got("tiny")._4 == 200L && got("mid")._4 == 600L)
    // big gets min(cap, (2450-800)*1/1) = 1650
    assert(got("big")._4 == 1650L, s"$got")
    got.values.foreach { case (n, cap, _, alloc, em) =>
      assert(alloc <= cap && em <= 2000L && alloc * 1000 / n == em)
    }
    val totalAlloc = got.values.map(_._4).sum
    assert(totalAlloc <= 2450L && totalAlloc >= 2450L - got.size,
      s"budget conservation violated: $totalAlloc")
  }

  test("x70 epoch waterfill: fails fast on w < 1 and on uncovered sources") {
    val docs = Seq((0L, "t1 t2 t3", "en", "a"), (1L, "t4 t5 t6", "en", "b"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
    intercept[IllegalArgumentException](
      TextOps.epochWaterfill(docs, Seq(("a", 0L), ("b", 1L)).toDF("source", "w")))
    val ex = intercept[IllegalArgumentException](
      TextOps.epochWaterfill(docs, Seq(("a", 2L)).toDF("source", "w")))
    assert(ex.getMessage.contains("b"), s"missing source must be named: $ex")
  }

  test("x70 epoch waterfill: budget above total capacity saturates everyone") {
    val docs = (0 until 30).map { i =>
      (i.toLong, "t1 t2 t3 t4 t5", "en", if (i < 10) "a" else "b")
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
    val weights = Seq(("a", 3L), ("b", 1L)).toDF("source", "w")
    // budget = 5x total tokens >> 2x cap -> every source at its cap
    val got = TextOps.epochWaterfill(docs, weights, maxEpochs = 2,
      budgetNumer = 5, budgetDenom = 1).collect()
    assert(got.forall(_.getAs[Boolean]("saturated")))
    got.foreach(r => assert(
      r.getAs[Long]("alloc_tokens") == r.getAs[Long]("cap") &&
        r.getAs[Long]("epochs_milli") == 2000L))
  }

  test("dupComponents collapses a planted 1k-identical cluster before LSH " +
    "(one component, exact membership) and never links shingle-less docs") {
    // the mega boilerplate cluster: 1000 identical 60-word docs + one
    // near-dup of the boilerplate + unrelated docs. The exact-collapse
    // must hand LSH ONE representative (the candidate stage stays
    // O(corpus)), yet the component must contain all 1001 docs.
    val boiler = (0 until 60).map(i => s"bp$i").mkString(" ")
    val near = ("zz" +: (1 until 60).map(i => s"bp$i")).mkString(" ")
    val docs = spark.range(0, 1000)
      .select($"id".as("doc_id"), lit(boiler).as("text"))
      .union(Seq(
        (5000L, near),
        (6000L, (0 until 60).map(i => s"other$i").mkString(" ")),
        // identical SHORT docs: no shingles -> LSH can never pair them,
        // so the collapse must not link them either
        (7000L, "two words"), (7001L, "two words")).toDF("doc_id", "text"))
    val got = TextOps.dupComponents(docs, 0.9).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size === 1004)
    (0L until 1000L).foreach(id => assert(got(id) === ((0L, 1001L)), s"doc $id"))
    assert(got(5000L) === ((0L, 1001L)), "the near-dup joins the collapsed cluster")
    assert(got(6000L) === ((6000L, 1L)))
    assert(got(7000L) === ((7000L, 1L)) && got(7001L) === ((7001L, 1L)),
      "shingle-less identical docs must stay singletons (pair semantics)")
  }

  test("x75 incremental near-dup: corpus rewrites counted with exact-dup " +
    "weights, in-batch first-wins, fresh docs keep") {
    def words(p: Char) = (0 until 60).map(i => s"$p$i")
    def mutate(ws: Seq[String]) = ws.updated(30, "ZZZ") // ~3 shingles change, j ≈ 0.90+
    val corpus = Seq(
      (0L, words('a').mkString(" ")),
      (1L, words('a').mkString(" ")), // exact dup of 0 -> collapse weight 2
      (2L, words('b').mkString(" ")),
      (3L, "two words")               // shingle-less, can never match
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, mutate(words('a')).mkString(" ")), // rewrite of the a-cluster
      (11L, words('c').mkString(" ")),         // fresh
      (12L, mutate(words('c')).mkString(" ")), // in-batch near-dup of 11
      (13L, words('d').mkString(" "))          // fresh
    ).toDF("doc_id", "text")
    val got = TextOps.incrementalNearDup(corpus, batch, 0.9).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2),
        r.getBoolean(3))).toMap
    assert(got(10L) === ((2L, true, false)),
      s"rewrite must count BOTH exact copies of its corpus cluster: $got")
    assert(got(11L) === ((0L, true, true)))
    assert(got(12L) === ((0L, false, false)), "later in-batch near-dup must drop")
    assert(got(13L) === ((0L, true, true)))
    // planted mega-cluster in the BATCH: identical docs collapse before
    // LSH, only the minimum keeps, and identical SHORT docs (no shingles)
    // are never linked
    val megaBatch = spark.range(100, 1100)
      .selectExpr("id AS doc_id",
        "'identical boilerplate page body repeated tonight' AS text")
      .union(Seq((2000L, "two words"), (2001L, "two words")).toDF("doc_id", "text"))
    val mg = TextOps.incrementalNearDup(corpus, megaBatch, 0.9).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3))).toMap
    assert(mg.size === 1002)
    assert(mg(100L) === ((true, true)), "cluster minimum keeps")
    assert((101L until 1100L).forall(id => mg(id) === ((false, false))),
      "non-minimum cluster members must drop")
    assert(mg(2000L) === ((true, true)) && mg(2001L) === ((true, true)),
      "shingle-less identical docs are pairwise unmatched — both keep")
  }

  test("x76 lsh recall curve: >= 0.999 at the 0.9 threshold, monotone in " +
    "jaccard, and matches a local chain replay") {
    val got = TextOps.lshRecallCurve(spark).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got.size === 51)
    assert(got(90) >= 0.999, s"recall contract broken at j=0.9: ${got(90)}")
    assert(got(100) === 1.0)
    (51 to 100).foreach(c => assert(got(c) >= got(c - 1), s"not monotone at $c"))
    // exact chain replay (same multiplication order)
    (50 to 100).foreach { c =>
      val j = c.toDouble / 100.0
      val j4 = (j * j) * (j * j); val y = 1.0 - j4
      val y4 = (y * y) * (y * y); val y16 = (y4 * y4) * (y4 * y4)
      assert(got(c) === 1.0 - y16, s"chain mismatch at $c")
    }
  }

  test("x74 domain cap: exactly cap docs kept per overfull domain, " +
    "under-cap domains keep everything, election is deterministic") {
    // one mega-domain (280 docs) and one small (20): the cap must bite the
    // mega-domain at exactly 25 and pass the small one through whole
    val docs = (0 until 300).map { i =>
      (i.toLong, "t", if (i < 280) "mega" else "tiny")
    }.toDF("doc_id", "text", "source")
    def run() = TextOps.domainCap(docs, "source", 25).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2),
        r.getBoolean(3))).toMap
    val got = run()
    assert(got.size === 300)
    assert(got.values.count { case (s, _, k) => s == "mega" && k } === 25)
    assert(got.values.count { case (s, _, k) => s == "tiny" && k } === 20)
    assert(got.values.forall { case (s, n, _) =>
      (s == "mega" && n == 280L) || (s == "tiny" && n == 20L) })
    // same input -> bit-identical kept set (salted-hash election, no RNG)
    assert(run() === got)
    intercept[IllegalArgumentException](TextOps.domainCap(docs, "source", 0))
  }

  test("x19 mixture plan: a source beyond the named tiers samples at the " +
    "lowest-priority rate, never NULL (r8 advice pin)") {
    // src25 -> tier 5, outside TierFrac's [0,4): target_frac must fall
    // back to the last tier's 0.1 (the oracle's ELSE branch), because a
    // NULL target_frac would turn downstream `keep = draw < NULL` into
    // silently dropping the whole tier.
    val dir = tempDir("graft-tier")
    (0 until 20).map { i =>
      (i.toLong, (0 until 8).map(j => s"t${i}x$j").mkString(" "), "en",
        if (i < 10) "src0" else "src25")
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.x19.build(spark, dir).collect()
      .map(r => r.getAs[Int]("tier") ->
        (r.getAs[Double]("target_frac"), r.getAs[Double]("rate"))).toMap
    assert(got.keySet === Set(0, 5))
    assert(got(5)._1 === 0.1 && !got(5)._2.isNaN && got(5)._2 > 0.0,
      s"out-of-range tier must sample at TierFrac.last: $got")
    assert(got(0)._1 === 0.4)
  }

  test("x70 epoch waterfill: int128 cross-multiplication — 1e18-scaled " +
    "weights produce exactly the small-weight allocation") {
    // waterfilling is scale-invariant in the weights: multiplying every w
    // by λ multiplies both sides of the saturation test and both the
    // numerator and denominator of the share by λ. With λ = 1e18 the
    // cross-products (budget×w ≈ 2.45e3 × 4e18) are ~400x past Long.Max —
    // a raw-BIGINT formulation wraps silently (and an integer-quantized
    // rq sort key collapses to 0 and reorders the ladder); the
    // DECIMAL(38,0) products and the double ratio key must reproduce the
    // small-weight result row-for-row.
    val docs = (0 until 140).map { i =>
      val src = if (i < 10) "tiny" else if (i < 40) "mid" else "big"
      (i.toLong, (0 until 10).map(j => s"u${i}w$j").mkString(" "), "en", src)
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
    val cols = Seq("source", "n_tokens", "cap", "saturated", "alloc_tokens",
      "epochs_milli")
    def run(lambda: Long) = TextOps.epochWaterfill(docs,
        Seq(("tiny", 4L * lambda), ("mid", 2L * lambda), ("big", 1L * lambda))
          .toDF("source", "w"))
      .selectExpr(cols: _*).collect().map(_.toSeq).toSet
    assert(run(1000000000000000000L) === run(1L))
  }

  test("x72 source overlap matrix: hand-built clusters produce the exact " +
    "pair counts, singletons and clean sources never appear") {
    // cluster K1: 2 docs in A + 1 in B (word-order shuffle, same set);
    // cluster K2: 2 docs in C (within-source only);
    // singleton in D (must not appear anywhere)
    val docs = Seq(
      (0L, "k1a k1b k1c", "A"), (1L, "k1c k1a k1b k1a", "A"), (2L, "k1b k1c k1a", "B"),
      (3L, "k2a k2b", "C"), (4L, "k2b k2a", "C"),
      (5L, "solo words here", "D")
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length($"text").cast("long"))
    val got = TextOps.sourceOverlapMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_doc_pairs"))).toMap
    // A-A: one cluster with 2 A-docs -> 1 pair; A-B: 2*1 = 2 pairs;
    // C-C: one cluster with 2 docs -> 1 pair; nothing else
    assert(got == Map(
      ("A", "A") -> ((1L, 1L)), ("A", "B") -> ((1L, 2L)),
      ("C", "C") -> ((1L, 1L))), s"got $got")
  }

  test("x73 doc novelty: exact gram accounting on planted unique/shared/" +
    "copied docs, short docs omitted") {
    // doc 0: 9 words -> 2 grams, fully unique; doc 1 copies doc 0 exactly
    // (both docs' grams hit df=2 -> novelty 0); doc 2 disjoint 8 words ->
    // 1 unique gram; doc 3 too short to gram
    val docs = Seq(
      (0L, "a1 a2 a3 a4 a5 a6 a7 a8 a9"),
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9"),
      (2L, "b1 b2 b3 b4 b5 b6 b7 b8"),
      (3L, "short doc here")
    ).toDF("doc_id", "text")
    val got = TextOps.docNovelty(docs).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_unique_grams"), r.getAs[Long]("novelty_ppm"))).toMap
    assert(got.keySet == Set(0L, 1L, 2L), s"short doc must be omitted: $got")
    assert(got(0L) == ((2L, 0L, 0L)) && got(1L) == ((2L, 0L, 0L)),
      s"exact copies share every gram -> zero novelty: $got")
    assert(got(2L) == ((1L, 1L, 1000000L)), s"disjoint doc is fully novel: $got")
  }

  test("x71 blocklist filter: exact counts on a hand-built doc, zero-hit " +
    "docs keep, any-hit docs drop") {
    val docs = Seq(
      (0L, "clean words only here"),
      (1L, "slow query slow scan"), // 'slow' twice
      (2L, "spill to disk then oom") // two distinct blocklist terms
    ).toDF("doc_id", "text")
    val got = TextOps.blocklistFilter(docs).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_tok"), r.getAs[Long]("n_blocked"),
        r.getAs[Long]("n_distinct_blocked"), r.getAs[Boolean]("keep"))).toMap
    assert(got(0L) == ((4L, 0L, 0L, true)))
    assert(got(1L) == ((4L, 2L, 1L, false)))
    assert(got(2L) == ((5L, 2L, 2L, false)))
    // custom blocklist is honored
    val custom = TextOps.blocklistFilter(docs, Seq("clean")).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(!custom(0L) && custom(1L) && custom(2L))
    // terms are typed plan literals, not interpolated SQL: quotes and
    // trailing backslashes are matched as data, never parsed as syntax
    val tricky = Seq((9L, "weird a'b and c\\ tokens")).toDF("doc_id", "text")
    val tr = TextOps.blocklistFilter(tricky, Seq("a'b", "c\\")).head()
    assert(tr.getAs[Long]("n_blocked") === 2L &&
      tr.getAs[Long]("n_distinct_blocked") === 2L && !tr.getAs[Boolean]("keep"))
    // empty list is rejected
    intercept[IllegalArgumentException](TextOps.blocklistFilter(docs, Nil))
  }

  test("x5 group form: a planted 1k-identical-doc cluster emits O(n) rows, " +
    "not O(n^2) pairs") {
    // the r9 verdict's mega-cluster scenario: one boilerplate page
    // duplicated 1000x. The group form must emit one row per member (1000
    // rows, one group), never the 499,500-row pair expansion.
    val planted = spark.range(0, 1000)
      .select($"id".as("doc_id"),
        lit("identical boilerplate page body repeated across the crawl").as("text"))
      .union(Seq((5000L, "a unique document unlike any other here")).toDF("doc_id", "text"))
    val got = TextOps.minHashDupSets(planted)
    assert(got.count() === 1000L)
    val g = got.agg(countDistinct($"group_id"), min($"group_id"),
      max($"n_members")).head()
    assert(g.getLong(0) === 1L && g.getLong(1) === 0L && g.getLong(2) === 1000L)
    // the pair path stays available for small groups and is exact
    val pairs = TextOps.dupSetPairs(
      Seq((1L, "x y z"), (2L, "z y x"), (3L, "other words")).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("x77 quality keeper: max score wins, ties break to min doc_id, " +
    "rewrites cluster by canonical fingerprint") {
    val docs = Seq(
      // cluster A: same word set under reorder + repetition; scores differ
      (10L, "alpha beta gamma", 5.0),
      (11L, "gamma beta alpha alpha", 9.0), // best score -> keeper
      (12L, "beta gamma alpha", 7.0),
      // cluster B: exact tie on score -> min doc_id (20) is keeper
      (20L, "delta epsilon", 4.0),
      (21L, "epsilon delta", 4.0),
      // singleton
      (30L, "zeta eta theta", 1.0)
    ).toDF("doc_id", "text", "score")
    val got = TextOps.qualityKeeper(docs).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_members"),
        r.getAs[Long]("keeper"), r.getAs[Boolean]("keep"))).toMap
    assert(got(10L) == ((3L, 11L, false)))
    assert(got(11L) == ((3L, 11L, true)))
    assert(got(12L) == ((3L, 11L, false)))
    assert(got(20L) == ((2L, 20L, true)))
    assert(got(21L) == ((2L, 20L, false)))
    assert(got(30L) == ((1L, 30L, true)))
    // exactly one keeper per cluster, always a member of it
    val byH = TextOps.qualityKeeper(docs).collect().groupBy(_.getString(1))
    byH.values.foreach { rs =>
      assert(rs.count(_.getAs[Boolean]("keep")) === 1)
      assert(rs.map(_.getAs[Long]("keeper")).distinct.length === 1)
      assert(rs.map(_.getLong(0)).contains(rs.head.getAs[Long]("keeper")))
    }
  }

  test("x78 intra-doc dedup: repeated aligned blocks drop after first " +
    "occurrence, trailing partial block survives, order preserved") {
    val nav = "home about products contact login search cart help" // 8 words
    val body = "real content sentence one two three four five"     // 8 words
    val docs = Seq(
      // nav repeated before and after body (the page-boilerplate shape)
      (1L, s"$nav $body $nav"),
      // no repeats: unchanged
      (2L, "every block here is entirely unique today friend"),
      // 10 words: 2 full blocks + a 2-word tail equal to a PREFIX of
      // block 1 but not to any whole block -> tail survives
      (3L, "a b c d a b c d a b")
    ).toDF("doc_id", "text")
    val got = TextOps.intraDocDedup(docs, blockWords = 8).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_blocks"),
        r.getAs[Long]("n_dropped"), r.getAs[String]("clean_text"))).toMap
    assert(got(1L) == ((3L, 1L, s"$nav $body")))
    assert(got(2L)._2 === 0L)
    assert(got(2L)._3 === "every block here is entirely unique today friend")
    val four = TextOps.intraDocDedup(docs, blockWords = 4).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_blocks"),
        r.getAs[Long]("n_dropped"), r.getAs[String]("clean_text"))).toMap
    assert(four(3L) == ((3L, 1L, "a b c d a b"))) // block2 dup, "a b" tail kept
    // blockWords=1 degenerates to within-doc word dedup, order-preserving
    val one = TextOps.intraDocDedup(
      Seq((9L, "x y x z y x")).toDF("doc_id", "text"), blockWords = 1).head()
    assert(one.getAs[Long]("n_blocks") === 6L &&
      one.getAs[Long]("n_dropped") === 3L &&
      one.getAs[String]("clean_text") === "x y z")
    intercept[IllegalArgumentException](TextOps.intraDocDedup(docs, 0))
  }

  test("t39 persisted near-dup index: single-shot ingest equals " +
    "incrementalNearDup bit-for-bit, and the index GROWS — a later batch " +
    "is gated against earlier acceptances") {
    val corpus = crafted.filter($"doc_id" < 20)
    val batch = crafted.filter($"doc_id" >= 20)
    val path = tempDir("graft-ndidx") + "/idx"
    TextOps.buildNearDupIndex(corpus, path)
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getAs[Long]("n_corpus_neardups"),
        r.getAs[Boolean]("batch_first"), r.getAs[Boolean]("keep"))
    val viaIndex = TextOps.nearDupIndexIngest(batch, path)
      .collect().map(key).toMap
    val direct = TextOps.incrementalNearDup(corpus, batch, 0.9)
      .collect().map(key).toMap
    assert(viaIndex === direct,
      "index-backed gate must reproduce the two-sided op exactly")
    assert(viaIndex.values.exists(_._3), "some batch doc must be accepted")
    // growth: re-ingesting an accepted doc's text (new id) now hits the
    // index — zero corpus rescans, but the earlier acceptance gates it
    val accepted = TextOps.nearDupIndexIngest(batch, path) // batch replayed
    val replay = accepted.collect().map(key).toMap
    assert(replay.values.forall(v => v._1 > 0 || !v._3),
      "every replayed doc must near-dup its own earlier acceptance " +
        "(or lose in-batch election) — the stream ingests zero twice")
    assert(!replay.values.exists(_._3), "zero keeps on full replay")
  }

  test("x79 corpus diff: all four statuses classified exactly; a word " +
    "REORDER is a rewrite (raw hash, not the canonical dedup key)") {
    val old = Seq((1L, "same text"), (2L, "will change"), (3L, "gets removed"),
      (4L, "b a")).toDF("doc_id", "text")
    val neu = Seq((1L, "same text"), (2L, "has changed"), (5L, "brand new"),
      (4L, "a b")).toDF("doc_id", "text")
    val got = TextOps.corpusDiff(old, neu).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("status")).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "rewritten",
      3L -> "removed", 4L -> "rewritten", 5L -> "added"))
    // hash columns carry the evidence: removed has no new_h, added no old_h
    val rows = TextOps.corpusDiff(old, neu).collect()
      .map(r => r.getLong(0) ->
        (Option(r.getAs[String]("old_h")), Option(r.getAs[String]("new_h")))).toMap
    assert(rows(3L)._2.isEmpty && rows(5L)._1.isEmpty)
    assert(rows(1L)._1 === rows(1L)._2)
  }

  test("x80 deep diff: reorder and repetition-only edits classify as " +
    "reordered; word-set changes as edited") {
    val old = Seq((1L, "same text"), (2L, "a b c"), (3L, "x y z"),
      (6L, "p q")).toDF("doc_id", "text")
    val neu = Seq((1L, "same text"), (2L, "c b a"), (3L, "x y w"),
      (6L, "p q p q")).toDF("doc_id", "text")
    val got = TextOps.corpusDiffDeep(old, neu).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("status")).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "reordered",
      3L -> "edited", 6L -> "reordered"))
  }

  test("pii redact: emails and phone tokens counted on raw text and " +
    "replaced in fixed order in clean_text") {
    val docs = Seq(
      (1L, "reach a.user+tag@mail-site.co.uk or b@x.io, call 555-0101 x2"),
      (2L, "no pii at all in this one"),
      (3L, "double 555-0199 555-0199 and user@a.bc")
    ).toDF("doc_id", "text")
    val got = TextOps.piiRedact(docs).collect()
      .map(r => r.getLong(0) -> (r.getAs[Int]("n_emails"),
        r.getAs[Int]("n_phones"), r.getAs[String]("clean_text"))).toMap
    assert(got(1L) == ((2, 1,
      "reach [EMAIL] or [EMAIL], call [PHONE] x2")))
    assert(got(2L) == ((0, 0, "no pii at all in this one")))
    assert(got(3L) == ((1, 2, "double [PHONE] [PHONE] and [EMAIL]")))
  }
}

/** Tiny shared fixture: the documents table as local tuples. */
object TablesFixture {
  def docs(sf: String): Seq[(Long, String, String)] =
    graft.core.Tables.documents(SparkSpec.spark, sf)
      .selectExpr("doc_id", "source", "text")
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
}
