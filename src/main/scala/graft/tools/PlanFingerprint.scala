package graft.tools

import org.apache.spark.sql.DataFrame

/** Physical-plan fingerprinting for the headline-query regression gate
  * (PlanSnapshotSpec): a plan's SHAPE — how many exchanges, sorts, join
  * strategies, and pushed-down scans it contains — is deterministic for
  * fixed code and fixed input, while its wall-clock on a shared host is
  * not. Recording the shape in a committed golden file makes a bench
  * delta adjudicable in seconds: plan unchanged → host variance; plan
  * gained an exchange / lost a pushdown → real regression.
  *
  * Counts are parsed from the FORMATTED explain (the same text
  * tools/PlanAudit dumps for human review): node-header lines look like
  * `(4) Sort [codegen id : 3]`, so `^\(\d+\) <Name>` anchors exactly one
  * count per operator instance, and scan details carry
  * `PushedFilters: [...]` per parquet scan.
  */
object PlanFingerprint {

  /** Node kinds worth tracking. Everything here either IS the 100 TB cost
    * model (Exchange = shuffle, Sort = spill risk, join strategy = the
    * broadcast-vs-merge decision) or is an outright scale-killer
    * (CartesianProduct, BroadcastNestedLoopJoin).
    */
  val tracked: Seq[String] = Seq(
    "Exchange", "BroadcastExchange", "Sort", "SortMergeJoin",
    "BroadcastHashJoin", "ShuffledHashJoin", "CartesianProduct",
    "BroadcastNestedLoopJoin", "Window", "Scan", "PushedScan")

  private val nodeHeader = """^\(\d+\)\s+(\w+)""".r
  private val pushed = """PushedFilters: \[(.+?)\]""".r

  /** Count tracked node kinds in `df`'s formatted physical plan.
    * `Scan` = parquet scans; `PushedScan` = scans whose PushedFilters list
    * is non-empty (the pushdown evidence). AQE wrappers are ignored — the
    * initial plan is printed either way and is the deterministic artifact.
    *
    * SIDE EFFECT — this inspection is NOT read-only: it clears the
    * session's entire CacheManager (reason 1 below), so any cache another
    * query was relying on is gone afterwards. Callers must fingerprint
    * either before timed work starts or after it ends, never interleaved
    * with runs that build caches (Bench fingerprints only inside its
    * slow-query re-run arbitration, where the timed attempt has already
    * completed). Corollary: an op whose POINT is caching (s25) fingerprints
    * here as its uncached shape — such ops pin their intended
    * InMemoryTableScan via their own executedPlan assertion inside build,
    * not via this tool.
    */
  def fingerprint(df: DataFrame): Map[String, Int] = {
    // The shape must be a pure function of the query code, not of session
    // history (the round-9 full-suite order dependence):
    //  1. clearCache() — a live CacheManager entry substitutes
    //     InMemoryRelation into every later plan that scans the cached
    //     relation, changing Scan/PushedScan counts;
    //  2. re-plan via select("*") — memoized datasets (BusSim.rides) pin
    //     their lazy QueryExecution at FIRST access, so explaining `df`
    //     directly would report whatever the session looked like when some
    //     earlier suite touched it, not the shape of the code today.
    df.sparkSession.catalog.clearCache()
    val txt = df.select("*").queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val names = txt.linesIterator.flatMap {
      l => nodeHeader.findFirstMatchIn(l.trim).map(_.group(1))
    }.toSeq
    val counts = names.groupBy(identity).map { case (k, v) => k -> v.size }
    val scans = names.count(_ == "Scan")
    val pushedScans = pushed.findAllMatchIn(txt).count(_.group(1).trim.nonEmpty)
    tracked.map {
      case "Scan"       => "Scan" -> scans
      case "PushedScan" => "PushedScan" -> pushedScans
      case k            => k -> counts.getOrElse(k, 0)
    }.toMap
  }

  def render(m: Map[String, Int]): String =
    tracked.map(k => s"$k=${m.getOrElse(k, 0)}").mkString(",")

  def parse(s: String): Map[String, Int] =
    s.split(",").iterator.map(_.split("=")).collect {
      case Array(k, v) => k -> v.toInt
    }.toMap

  /** The regression rules, each a one-line human verdict. A plan may only
    * fail on changes that are WORSE at scale; improvements (fewer
    * exchanges, a new broadcast) return Nil here and are surfaced by the
    * spec as a prompt to regenerate the golden.
    */
  def regressions(golden: Map[String, Int], now: Map[String, Int]): Seq[String] = {
    def g(k: String) = golden.getOrElse(k, 0)
    def n(k: String) = now.getOrElse(k, 0)
    Seq(
      ("Exchange", n("Exchange") > g("Exchange"),
        s"gained ${n("Exchange") - g("Exchange")} shuffle Exchange(s)"),
      ("Sort", n("Sort") > g("Sort"),
        s"gained ${n("Sort") - g("Sort")} Sort(s)"),
      ("SortMergeJoin", n("SortMergeJoin") > g("SortMergeJoin"),
        s"gained ${n("SortMergeJoin") - g("SortMergeJoin")} SortMergeJoin(s)"),
      ("BroadcastHashJoin", n("BroadcastHashJoin") < g("BroadcastHashJoin"),
        s"lost ${g("BroadcastHashJoin") - n("BroadcastHashJoin")} BroadcastHashJoin(s)"),
      ("CartesianProduct", n("CartesianProduct") > g("CartesianProduct"),
        "gained a CartesianProduct"),
      ("BroadcastNestedLoopJoin",
        n("BroadcastNestedLoopJoin") > g("BroadcastNestedLoopJoin"),
        "gained a BroadcastNestedLoopJoin"),
      ("PushedScan", n("PushedScan") < g("PushedScan"),
        s"lost pushdown on ${g("PushedScan") - n("PushedScan")} scan(s)")
    ).collect { case (_, true, msg) => msg }
  }

  /** Golden-file IO: one `query|k=v,...` line per headline query. */
  val goldenPath = "src/test/resources/plan-golden.txt"

  def readGolden(): Map[String, Map[String, Int]] = {
    val f = new java.io.File(goldenPath)
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
      try src.getLines().filter(_.contains("|")).map { l =>
        val Array(name, fp) = l.split("\\|", 2)
        name -> parse(fp)
      }.toMap
      finally src.close()
    }
  }
}

/** Regenerate the committed plan-fingerprint golden file. Run AFTER a
  * deliberate plan change, review the diff like code, and commit it:
  *   sbt "runMain graft.tools.PlanSnapshot /root/testdata/sf0.001"
  */
object PlanSnapshot {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.core.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = graft.SparkEntry.registry
      .filter(q => graft.Bench.headline(q.name))
      .sortBy(_.name)
      .map { q =>
        val fp = PlanFingerprint.fingerprint(q.build(spark, sfDir))
        s"${q.name}|${PlanFingerprint.render(fp)}"
      }
    val out = new java.io.PrintWriter(PlanFingerprint.goldenPath, "UTF-8")
    try {
      out.println("# Physical-plan fingerprints for the bench headline set.")
      out.println("# Regenerate deliberately: sbt \"runMain graft.tools.PlanSnapshot\"")
      lines.foreach(out.println)
    } finally out.close()
    println(s"[plansnapshot] wrote ${lines.size} fingerprints to ${PlanFingerprint.goldenPath}")
    spark.stop()
  }
}
