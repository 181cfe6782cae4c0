package graft.tools

import graft.core.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: empirical scaling-exponent measurement for the heavy
  * operators. Replicates sf0.1 at `factor`x into tmp by id-offsetting each
  * fact table (testdata itself is read-only), times each target op at 1x
  * and at factorx (best-of-2, cache cleared per attempt), and prints the
  * per-op scaling exponent e = log(t_f / t_1) / log(f). An op SCALE.md
  * claims linear should land near 1; anything >> 1 is a named scale bug.
  *
  * Replication preserves WORKLOAD SHAPE, not just row count:
  *   - documents: each copy's words get a copy-unique prefix, so shingles
  *     are disjoint across copies and the dup/LSH structure is f
  *     independent copies of the original (naive text copies would create
  *     8-cliques of near-dups everywhere — a different, quadratic problem).
  *   - events: user ids offset per copy -> f x series, same series length.
  *   - lineitem: order keys offset per copy -> f x orders, same lines/order.
  *   - embeddings: vec ids offset -> f x corpus; the fixed query set
  *     (vec_id < 10) stays in copy 0, which is exactly the ANN serving
  *     shape (fixed queries, growing corpus).
  * Usage: runMain graft.tools.ScaleProbe [baseSfDir] [factor]
  */
object ScaleProbe {

  /** Shared with [[ScaleBench]]: shape-preserving f-x replica of `base`.
    * Each table lands as ONE file named `t.parquet` — the exact testdata
    * layout — because the streaming sources select their table with
    * `pathGlobFilter` on the LEAF file name; a directory-style write
    * (part-*.parquet leaves) silently matches zero files and a streaming
    * query at the replica would measure an empty stream (the r9
    * ScaleBench first run recorded t11 at 0.15 s for exactly this
    * reason).
    */
  /** With `skewed = true`, the replica additionally PLANTS adversarial
    * skew — the shape the uniform replica cannot test (every copy is
    * disjoint by construction, so no key ever grows with the factor):
    *   - documents: 20% of every copy's docs (doc_id % 5 == 0, post-offset)
    *     are replaced with ONE shared boilerplate text — a single
    *     duplicate cluster holding 20% of the corpus, the classic
    *     web-crawl mega-cluster;
    *   - events: 20% of rows (event_id % 5 == 0) land on user_id 0 — one
    *     hot series key across all copies.
    * Everything else follows the uniform scheme, so exponents measured on
    * the skewed replica isolate "does skew break linearity", not "is the
    * data bigger".
    */
  def replicate(s: SparkSession, base: String, out: String, factor: Int,
      skewed: Boolean = false): Unit = {
    // marker versioned with the replica RECIPE: a content change (e.g.
    // the r12 hot-cell embedding plant) must invalidate a cached replica
    // left in the shared tmpdir by an earlier build of this tool
    val done = new java.io.File(s"$out/_DONE_r13a")
    if (done.exists()) return
    new java.io.File(out).mkdirs()
    def reps(df: DataFrame): DataFrame =
      df.withColumn("rep", explode(sequence(lit(0L), lit(factor - 1L))))
    // write-parallel, then land the single named file (repartition keeps
    // the replicate computation parallel; coalesce(1) would serialize it)
    def writeSingle(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/_tmp_$name"
      df.repartition(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $name"))
      val dst = java.nio.file.Paths.get(s"$out/$name.parquet")
      java.nio.file.Files.move(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp)); ()
    }

    // events: raw read preserves the source ts layout (nanos-long under the
    // conf below, or native timestamp), and the schema-adaptive
    // Tables.events loader handles the replica either way
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = graft.core.Tables.load(s, base, "events")
    val evSpan = ev.agg(max("user_id")).head().getLong(0) + 1
    val evRep = reps(ev)
      .withColumn("user_id", col("user_id") + col("rep") * evSpan)
    writeSingle((if (!skewed) evRep else evRep.withColumn("user_id",
        when(pmod(col("event_id"), lit(5)) === 0, lit(0L))
          .otherwise(col("user_id"))))
      .drop("rep"), "events")

    val li = graft.core.Tables.lineitem(s, base)
    val liSpan = li.agg(max("l_orderkey")).head().getLong(0) + 1
    val liRep = reps(li)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * liSpan)
    // skewed: 20% of ALL lineitem rows across copies land on ONE order
    // key — the hot join key the uniform replica can never produce
    // (copies are disjoint), stressing j1's groupBy+self-join path
    writeSingle((if (!skewed) liRep else liRep.withColumn("l_orderkey",
        when(pmod(col("l_partkey") + col("l_linenumber"), lit(5)) === 0,
          lit(0L).cast(li.schema("l_orderkey").dataType))
          .otherwise(col("l_orderkey"))))
      .drop("rep"), "lineitem")

    val docs = graft.core.Tables.documents(s, base)
    val dSpan = docs.agg(max("doc_id")).head().getLong(0) + 1
    val uniqText = when(col("rep") === 0, col("text")).otherwise(
      concat_ws(" ", expr("transform(split(text, ' '), w -> concat('z', CAST(rep AS STRING), w))")))
    // the boilerplate carries the BM25 demo query terms, so the planted
    // mega-cluster is ALSO a hot-term lex corpus: 20% of all docs match
    // every query term, stressing the serve_hybrid lexical arm's tf/df
    // aggregation the same way the hot IVF cell stresses its vector arm
    val boiler =
      ((0 until 60).map(i => s"bp$i") ++ Seq("dup", "join", "batch"))
        .mkString(" ")
    writeSingle(reps(docs)
      .withColumn("doc_id", col("doc_id") + col("rep") * dSpan)
      .withColumn("text",
        if (!skewed) uniqText
        else when(pmod(col("doc_id"), lit(5)) === 0, lit(boiler))
          .otherwise(uniqText))
      .drop("rep"), "documents")

    val emb = graft.core.Tables.embeddings(s, base)
    val eSpan = emb.agg(max("vec_id")).head().getLong(0) + 1
    // skewed: HALF of all replicated vectors collapse onto query 0's
    // exact direction — they assign to ONE IVF cell (ties to the smallest
    // centroid id), so the hot cell holds ~50% of the corpus and the
    // demo query (vec_id 0) provably probes it. Rep-0 rows stay
    // untouched: the serving query set and its oracle inputs are
    // unchanged, only the corpus shape is adversarial.
    val hotVec: Seq[Float] =
      if (skewed) emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      else Nil
    writeSingle(reps(emb)
      .withColumn("embedding",
        if (!skewed) col("embedding")
        else when(col("rep") > 0 && pmod(col("vec_id"), lit(2)) === 0,
          array(hotVec.map(v => lit(v)): _*)).otherwise(col("embedding")))
      .withColumn("vec_id", col("vec_id") + col("rep") * eSpan)
      .drop("rep"), "embeddings")

    // skewed: orders grows with the factor AND 20% of it lands on ONE
    // customer key — the hot bucket s17's pre-bucketed join must absorb
    // (no exchange exists there for AQE to split, so the gate proves the
    // bucketed path degrades no worse than linearly under a hot key)
    if (skewed) {
      val ord = graft.core.Tables.load(s, base, "orders")
      val oSpan = ord.agg(max("o_orderkey")).head().getLong(0) + 1
      writeSingle(reps(ord)
        .withColumn("o_orderkey", col("o_orderkey") + col("rep") * oSpan)
        .withColumn("o_custkey",
          when(pmod(col("o_orderkey"), lit(5)) === 0,
            lit(1L).cast(ord.schema("o_custkey").dataType))
            .otherwise(col("o_custkey")))
        .drop("rep"), "orders")
    } else writeSingle(graft.core.Tables.load(s, base, "orders"), "orders")

    // dims and remaining facts pass through unchanged (the sim's 25-line
    // network and j-family dims are intentionally fixed-size)
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      writeSingle(graft.core.Tables.load(s, base, t), t)
    done.createNewFile(); ()
  }

  /** Best of 2 cold-cache runs of registry query `name` at `dir`; shared
    * with [[ScaleBench]].
    */
  private[tools] def time(s: SparkSession, name: String, dir: String): Double =
    Sampler.sample(2) { () =>
      s.catalog.clearCache()
      Sampler.seconds(Sampler.noop(graft.SparkEntry.queries(name)(s, dir)))
    }.orThrow.min

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 8
    val out = graft.core.Scratch.durable(s"scale/x$factor")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    replicate(spark, base, out, factor)

    val ops = if (args.length > 2) args.drop(2).toSeq else Seq(
      "m2_gap_fill_linear", "x7_ngram_jaccard_neardup", "x11_dupset_components",
      "j1_composite_2key_join", "sim_bus_rides", "v2_ann_ivf_topk",
      "v4_ann_kmeans_topk", "x9_tfidf_topterm", "x16_sequence_pack",
      "x20_token_budget_select")
    val rows = ops.map { op =>
      val t1 = time(spark, op, base)
      val tf = time(spark, op, out)
      val e = math.log(tf / t1) / math.log(factor.toDouble)
      System.err.println(f"[scale] $op 1x=$t1%.2fs ${factor}x=$tf%.2fs exp=$e%.2f")
      f""""$op":{"t1":$t1%.2f,"tf":$tf%.2f,"exp":$e%.2f}"""
    }
    println(s"""{"factor":$factor,"ops":{${rows.mkString(",")}}}""")
    spark.stop()
  }
}
