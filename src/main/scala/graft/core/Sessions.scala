package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory: one place for the confs that affect plan quality.
  *
  * AQE stays on (runtime shuffle-partition coalescing + skew-join splitting —
  * the 100-TB safety nets); shuffle partitions default to the local core
  * count so local runs don't pay 200-task scheduling overhead, while a real
  * cluster deployment would size this to 2-3x total cores. Session time zone
  * is pinned to UTC so timestamp functions are reproducible against the
  * DuckDB oracle.
  *
  * Generated code is compiled once per JVM, not once per pass. Spark keeps
  * every class Janino compiles in one process-wide LRU cache keyed by
  * (classloader, source):
  *
  *  - `spark.sql.codegen.cache.maxEntries` sizes that cache. Spark's
  *    default of 100 is smaller than one pass of graft's own pipelines:
  *    the benchmark's five-op lakehouse pass compiles ~136 distinct
  *    classes and a 12 s serve run ~335, so each pass's cyclic access
  *    evicted almost every class before its next use and compiled ~100 of
  *    them again. [[CodegenCacheEntries]] holds a few whole working sets.
  *    The trade: up to that many generated classes stay held (the
  *    lakehouse run retains about the same heap; a serve run ~+4 MB).
  *  - `spark.sql.artifact.isolation.enabled=false` lets every session
  *    share the application classloader. With it on, each StreamingQuery's
  *    cloned session gets fresh artifact state and, on the executors, a
  *    classloader of its own, so the cache key never repeats and every run
  *    of a streaming query compiled all its classes again (t11_throughput:
  *    14 per run). Isolation exists for `addArtifact` (jars and classes
  *    added to one session only), which graft never calls.
  *
  * Neither can change later: the cache size is static (read once per JVM)
  * and isolation is fixed when a session is created; a StreamingQuery's
  * clone inherits it.
  */
object Sessions {

  /** Entries of Spark's generated-class cache: ~3x the largest measured
    * working set (a whole serve run, ~335 classes).
    */
  private val CodegenCacheEntries = 1000

  /** The core count of every tool main: `SPARK_GRAFT_CPUS` when set, the
    * host's processor count otherwise.
    */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = defaultCores): SparkSession =
    configure(SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()

  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // Let AQE re-optimize (coalesce/skew-split) plans that sit under a
      // cache: off (the default) every .cache()'d stage of a composed
      // pipeline (curate, the pretrain ladder, the sim rides table)
      // executes with raw static shuffle partitioning — locally that is
      // dozens of near-empty tasks per cached stage; at scale it is the
      // same skew/coalesce exposure AQE exists to fix. The trade (cached
      // plan partitioning may change between runs) only matters to
      // consumers that depend on cached output partitioning, which this
      // engine never does.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")
}
