package graft.tools

import graft.core.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The measured answer to "would this plan survive a 10x scale-up?" for
  * the WHOLE bench headline set (VERDICT r8 next-round #3) — SCALE.md's
  * per-family probe exponents, promoted to a committed per-query artifact.
  *
  * Runs every headline query at the base SF and at a `factor`x
  * shape-preserving replica (testdata itself is read-only), best-of-2 each
  * with the cache cleared per attempt, and writes SCALEBENCH.json with the
  * per-query measured exponent e = log(tf/t1)/log(f). An op SCALE.md
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
  *
  * Gate: any query with e > 1.15 is super-linear — a hidden scale-killer
  * — and FAILS the run, with one guard against self-deception: queries
  * whose 10x time is still under 2 s (or whose 1x time is under 0.3 s)
  * are recorded but not gated, because at those durations the "exponent"
  * measures scheduler jitter, not dataflow. The fixed-size families
  * (sim_* generate from the 25-line network; s17/s18/s21 are
  * write-dominated at any SF) naturally land near exponent 0.
  *
  * Usage: runMain graft.tools.ScaleBench [baseSfDir] [factor] [op ...]
  *
  * Op names after the factor replace the headline set and make the run a
  * probe: only those ops are timed on the uniform replica, and the JSON
  * line is printed without writing SCALEBENCH.json.
  */
object ScaleBench {

  final case class Row(name: String, t1: Double, tf: Double, exp: Double,
      gated: Boolean)

  /** Shape-preserving f-x replica of `base` (see the object's scaladoc).
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

  /** Best of 2 cold-cache runs of registry query `name` at `dir`. */
  private def time(s: SparkSession, name: String, dir: String): Double =
    Sampler.sample(2) { () =>
      s.catalog.clearCache()
      Sampler.seconds(Sampler.noop(graft.SparkEntry.queries(name)(s, dir)))
    }.orThrow.min

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val out = graft.core.Scratch.durable(s"scale/x$factor")
    val probe = args.drop(2).toSeq
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    replicate(spark, base, out, factor)

    try Sampler.noop(graft.SparkEntry.entry(spark))
    catch { case _: Throwable => () }

    /** One exponent row from the 1x and factor-x best-of-2 times. */
    def row(label: String, name: String, t1: Double, tf: Double): Row = {
      val exp = math.log(tf / t1) / math.log(factor.toDouble)
      val gated = tf >= 2.0 && t1 >= 0.3
      System.err.println(
        f"[scalebench] $label$name 1x=$t1%.2fs ${factor}x=$tf%.2fs exp=$exp%.2f gated=$gated")
      Row(name, t1, tf, exp, gated)
    }
    val names = if (probe.nonEmpty) probe else graft.Bench.headline.toSeq.sorted
    val rows = names.map(name =>
      row("", name, time(spark, name, base), time(spark, name, out)))
    val violations = rows.filter(r => r.gated && r.exp > 1.15)

    def sec(rs: Seq[Row]): String = rs.map(r =>
      f""""${r.name}":{"t1":${r.t1}%.3f,"tf":${r.tf}%.3f,"exp":${r.exp}%.2f,"gated":${r.gated}%b}""")
      .mkString(",")
    def vio(rs: Seq[Row]): String =
      rs.map("\"" + _.name + "\"").mkString("[", ",", "]")
    val uniform =
      s"""{"base":"$base","factor":$factor,"queries":{${sec(rows)}},"violations":${vio(violations)}"""
    if (probe.nonEmpty) {
      println(uniform + "}")
      spark.stop()
      return
    }

    // ---- skewed section (r9 verdict #5) -----------------------------------
    // Same factor, but the replica PLANTS adversarial skew (one boilerplate
    // cluster = 20% of docs, one hot event key — see replicate):
    // the 100-TB claim the uniform replica cannot test, because its copies
    // are disjoint by construction and no key ever grows with the factor.
    // The gated set is the dedup family the cluster stresses. x7/nearDupPairs
    // is deliberately absent: its PAIR output is Θ(g²) by semantics on an
    // identical cluster (see TextOps.dupSetPairs) — the group/component
    // forms below are the scale path, and they must stay ≤ linear.
    val skewOut = graft.core.Scratch.durable(s"scale/skew$factor")
    replicate(spark, base, skewOut, factor, skewed = true)
    val skewOps = Seq("x1_exact_dedup_md5", "x5_minhash_lsh_dupsets",
      "x11_dupset_components", "x26_span_dedup", "x36_curate_pipeline",
      "x75_incremental_neardup", "x77_quality_keeper",
      // r10 verdict #7: the relational path under a planted hot key —
      // j1's self-join sees 20% of lineitem on one order key (AQE
      // skew-split territory), s17's bucketed join absorbs a hot bucket
      // with no exchange to split
      "j1_composite_2key_join", "s17_bucketed_colocated_join",
      // r11 verdict #7: the serve facade under a planted hot IVF cell
      // (50% of all vectors share query 0's direction — see
      // replicate). Every search route scores and ranks on the driver,
      // over decoded tier rows cached per tier directory, while the
      // bytes it reads fit one
      // spark.sql.adaptive.advisoryPartitionSizeInBytes partition
      // (VectorOps.onDriver), so until a scan outgrows it the exponent
      // row records how that serial driver scoring grows; because warm
      // polls sit far below the 0.3 s jitter floor, the exponent rule alone
      // would never gate them — the serveCeiling check below adds the
      // absolute latency gate that actually binds (a poll must stay
      // inside the reference dashboard's 3 s budget even at 30x with the
      // hot cell).
      "serve_vec_search", "serve_vec_search_pq",
      // r12 verdict #5: the fused route under BOTH planted hot spots —
      // its vector arm probes the 50%-hot IVF cell and its lexical arm
      // scores the boilerplate mega-cluster (20% of docs match every
      // query term since the r13a replica recipe); the absolute 3 s
      // ceiling below is the binding gate, as for the other serve rows
      "serve_hybrid_search")
    val skewRows = skewOps.map(name => row("SKEW ", name,
      time(spark, name, base), time(spark, name, skewOut))) :+ {
      // Direct closure probe: a planted mega STAR component (hub 0 owns 20%
      // of all nodes; the rest sit in fixed 64-node blocks so the round
      // count stays constant across sizes). This times exactly the
      // GraphOps hub scenario — the per-round neighborhood-minimum of a
      // component-dominating node — that the corpus replicas only reach
      // indirectly through LSH.
      def ccTime(n: Long): Double = Sampler.sample(2) { () =>
        spark.catalog.clearCache()
        Sampler.seconds {
          val e = spark.range(1L, n).selectExpr(
            s"CASE WHEN id % 5 = 0 THEN 0L ELSE (id DIV 64) * 64 END AS u",
            "id AS v")
          Sampler.noop(graft.operators.GraphOps.connectedComponents(e))
        }
      }.orThrow.min
      val n1 = 300000L
      row("SKEW ", "cc_mega_star", ccTime(n1), ccTime(n1 * factor))
    }
    // serve rows: exponents on sub-0.3 s polls measure jitter, so the
    // binding gate is ABSOLUTE — the 30x hot-cell poll must stay inside
    // the dashboard's 3 s budget (index.html:140), driver posture and
    // all
    val serveCeiling = skewRows
      .filter(r => r.name.startsWith("serve_") && r.tf > 3.0)
    val skewViolations =
      skewRows.filter(r => r.gated && r.exp > 1.15) ++ serveCeiling

    val doc = uniform + "," +
      s""""skewed":{"factor":$factor,"queries":{${sec(skewRows)}},"violations":${vio(skewViolations)}}}"""
    val w = new java.io.PrintWriter("SCALEBENCH.json", "UTF-8")
    try w.println(doc) finally w.close()
    println(doc)
    spark.stop()
    require(violations.isEmpty && skewViolations.isEmpty,
      s"super-linear queries at ${factor}x: uniform=${violations.map(_.name)} " +
        s"skewed=${skewViolations.map(_.name)}")
  }
}
