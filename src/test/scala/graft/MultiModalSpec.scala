package graft

import graft.operators.MultiModal

class MultiModalSpec extends SparkSpec {

  test("decode kernel emits fixed-width features and is deterministic") {
    val a = MultiModal.decode(spark, sf).orderBy("doc_id").collect()
    val b = MultiModal.decode(spark, sf).orderBy("doc_id").collect()
    assert(a.length > 0)
    assert(a.forall(_.features.length == 8))
    assert(a.map(_.checksum).sameElements(b.map(_.checksum)))
  }

  test("mm2 driver surface exposes scalar digests consistent with decode") {
    val digests = MultiModal.mm2.build(spark, sf).orderBy("doc_id").collect()
    val full = MultiModal.decode(spark, sf).orderBy("doc_id").collect()
    digests.zip(full).foreach { case (row, f) =>
      assert(row.getLong(0) === f.doc_id)
      assert(row.getLong(2) === f.checksum)
      assert(row.getInt(3) === f.features.length)
      assert(row.getDouble(5) === f.features.sum.toDouble)
    }
  }

  test("byte length matches utf-8 payload size") {
    val rows = MultiModal.decode(spark, sf).orderBy("doc_id").limit(5).collect()
    val docs = graft.core.Tables.documents(spark, sf).orderBy("doc_id").limit(5).collect()
    rows.zip(docs).foreach { case (f, d) =>
      assert(f.byte_len === d.getString(1).getBytes("UTF-8").length)
    }
  }

  test("decodeStub is pure") {
    val payload = "hello multimodal".getBytes("UTF-8")
    val (crcA, featA) = MultiModal.decodeStub(payload)
    val (crcB, featB) = MultiModal.decodeStub(payload)
    assert(crcA === crcB)
    assert(featA.toSeq === featB.toSeq)
    assert(MultiModal.decodeStub(Array.emptyByteArray)._2.forall(_ == 0f))
  }

  test("phashNearDups flags identical and reordered payloads, not disjoint ones") {
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.functions._
    val base = "the quick brown fox jumps over the lazy dog again and again and again"
    val media = Seq(
      (1L, base),
      (2L, base),                           // identical bytes -> hamming 0
      (3L, base.split(" ").reverse.mkString(" ")), // same histogram -> hamming 0
      (4L, "zzz qqq xxx vvv www yyy kkk fff ggg hhh jjj lll mmm nnn ppp rrr sss")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
    val pairs = MultiModal.phashNearDups(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val flagged = pairs.map(p => (p._1, p._2)).toSet
    assert(flagged.contains((1L, 2L)) && flagged.contains((1L, 3L)) && flagged.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(pairs.filter(p => Set((1L,2L),(1L,3L),(2L,3L))(p._1 -> p._2)).forall(_._3 == 0))
  }

  test("mm6 finds shared-prefix payloads, ignores disjoint ones, and reports containment") {
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(31)
    def blob(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    val shared = blob(1024) // 4 full frames worth of shared prefix
    val rows = Seq(
      (1L, shared + blob(1024)),  // frames 0-3 shared, 4-7 unique
      (2L, shared + blob(1024)),  // same prefix, different tail
      (3L, blob(2048)))           // disjoint
    val dir = tempDir("graft-mm6")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = MultiModal.mm6.build(SparkSpec.spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("a_id") == 1L && r.getAs[Long]("b_id") == 2L)
    assert(r.getAs[Long]("n_shared") == 4L)
    assert(r.getAs[Long]("min_frames") == 8L)
    assert(r.getAs[Double]("overlap_frac") == 0.5)
  }

  test("phashStub is reorder-invariant and edit-stable") {
    val a = MultiModal.phashStub("alpha beta gamma delta".getBytes("UTF-8"))
    val b = MultiModal.phashStub("delta gamma beta alpha".getBytes("UTF-8"))
    assert(a === b)
    assert(a >= 0L, "60-bit signature stays a positive BIGINT")
  }

  test("mm7 energy segments: counts nest, runs match a local replay, gate discriminates") {
    val out = MultiModal.mm7.build(SparkSpec.spark, sf).collect()
    val docs = graft.core.Tables.documents(SparkSpec.spark, sf)
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length == docs.size)
    var anyActive = false; var anyInactive = false
    out.foreach { r =>
      val (nf, na, lr) = (r.getAs[Long]("n_frames"), r.getAs[Long]("n_active"),
        r.getAs[Long]("longest_run"))
      assert(lr <= na && na <= nf)
      assert(nf == docs(r.getAs[Long]("doc_id")).length / 64)
      if (na > 0) anyActive = true
      if (na < nf) anyInactive = true
      // local replay: energies -> gate -> longest run
      val text = docs(r.getAs[Long]("doc_id"))
      val acts = (0 until text.length / 64).map { fi =>
        val e = (0 until 64).map { j =>
          val c = text.charAt(fi * 64 + j).toLong; c * c
        }.sum
        e > 625000L
      }
      val localLongest =
        if (acts.isEmpty) 0
        else {
          var best = 0; var cur = 0
          acts.foreach { a => if (a) { cur += 1; best = math.max(best, cur) } else cur = 0 }
          best
        }
      assert(lr == localLongest)
      assert(na == acts.count(identity))
    }
    assert(anyActive && anyInactive, "the energy gate must split the corpus")
  }

  test("mm8 aspect buckets: partition the corpus, batch plan is ceil-div, " +
    "exact-ratio images land in their own bucket") {
    val rows = MultiModal.mm8.build(spark, sf).collect()
    val nDocs = graft.core.Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_images")).sum == nDocs)
    rows.foreach { r =>
      val (n, b) = (r.getAs[Long]("n_images"), r.getAs[Long]("n_batches"))
      assert(b == (n + 31) / 32)
      assert(MultiModal.AspectBuckets.contains(
        (r.getAs[Int]("bucket_w"), r.getAs[Int]("bucket_h"))))
    }
    // handcrafted dims hit their exact buckets; a mild 4:3 lands on 576x448
    import SparkSpec.spark.implicits._
    val media = Seq((1L, 704, 320), (2L, 512, 512), (3L, 320, 704),
      (4L, 800, 600)).toDF("doc_id", "width", "height")
    val got = MultiModal.aspectBucketPlan(media, batch = 2).collect()
      .map(r => (r.getAs[Int]("bucket_w"), r.getAs[Int]("bucket_h")) ->
        r.getAs[Long]("n_images")).toMap
    assert(got((704, 320)) == 1L)
    assert(got((512, 512)) == 1L)
    assert(got((320, 704)) == 1L)
    assert(got((576, 448)) == 1L)
    // exact-aspect assignments contribute zero gap
    val gaps = MultiModal.aspectBucketPlan(media, batch = 2).collect()
      .map(r => (r.getAs[Int]("bucket_w"), r.getAs[Int]("bucket_h")) ->
        r.getAs[Long]("sum_ar_gap")).toMap
    assert(gaps((704, 320)) == 0L && gaps((512, 512)) == 0L && gaps((320, 704)) == 0L)
  }

  test("mm9 A/V sync recovers a planted frame offset and prefers lag 0 on " +
    "identical tracks") {
    import SparkSpec.spark.implicits._
    // 8 frames of 16 chars: a double energy spike at frames 3-4 (an
    // APERIODIC pattern — a periodic beat would make two lags tie)
    val lo = "!" * 16; val hi = "z" * 16
    val trackA = lo * 3 + hi * 2 + lo * 3
    // identical halves: fixed-window correlation peaks at lag 0
    val aligned = trackA + trackA
    // video spike delayed by exactly 2 frames
    val trackV = lo * 5 + hi * 2 + lo * 1
    val shifted = trackA + trackV
    val docs = Seq((1L, aligned), (2L, shifted)).toDF("doc_id", "text")
    val got = MultiModal.avSyncLag(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got(1L)._1 == 8 && got(1L)._2 == 0)
    assert(got(2L)._1 == 8 && got(2L)._2 == 2,
      s"planted 2-frame delay must be recovered, got ${got(2L)}")
    // corpus run: every row within the lag sweep, scores nonnegative
    val rows = MultiModal.mm9.build(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getInt(2)) <= 4)
      assert(r.getLong(3) >= 0L)
      assert(r.getInt(1) >= 1)
    }
  }
}
