package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table IO layer over the driver-generated test data (TESTDATA.md): one
  * Parquet file per table at `sfDir`.
  *
  * This is the single seam where storage layout is decided. At 100 TB these
  * become Iceberg/Delta tables partitioned by their time keys and
  * sorted/clustered for min-max file skipping (reference clusters its 1e9-row
  * ridership fact by `transit_timestamp` — lakehouse_part1_load_data.py:574);
  * the query layer only ever sees a DataFrame, so swapping the loader is
  * enough. Scans stay declarative (`spark.read.parquet`) so Catalyst keeps
  * predicate pushdown + column pruning.
  *
  * A table's schema is table metadata, as in Iceberg: a read never opens
  * data-file footers to learn it. The footers are read once per file
  * ([[schemaOf]], cached per listing stamp) and every load passes the
  * schema explicitly, so a load plans without a Spark job.
  *
  * The same rule holds for every output graft writes and reads back, batch
  * or stream, and it lives here:
  *   - source tables are read only through [[load]] and its named
  *     loaders, and streamed only through [[stream]];
  *   - an output written and read back is read through [[readBack]], with
  *     the schema it was written with;
  *   - a persisted root read back by a later call declares its schema next
  *     to its writer and passes it to the read (the vector-index tiers,
  *     the BM25 snapshot, the near-dup index, the signature store, the
  *     ingest streams' state tables).
  * Only [[schemaOf]] and the s20 schema-evolution query (whose subject is
  * footer merging) infer a schema from the footers; SourceScanSpec fails
  * on any other schema-less parquet read in the sources.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The file stream of table `name` under `dir`: the directory watched
    * for files named like the table, read with the table's [[schemaOf]]
    * schema (a stream needs one; a warm build infers nothing).
    */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.readStream.schema(schemaOf(spark, s"$dir/$name.parquet"))
      .option("pathGlobFilter", s"$name.parquet")
      .parquet(dir)

  /** The parquet output at `path` read back with the schema a reader sees
    * for `written`, the frame that was written there: every column
    * nullable, and a partitioned write's partition columns last, with the
    * types `written` gave them. Nothing is inferred from the footers, so
    * the read plans without a Spark job. The writer keeps its own write
    * (mode, partitioning, sort); a stream's sink is read back with the
    * streaming frame's schema.
    */
  def readBack(written: DataFrame, path: String): DataFrame =
    written.sparkSession.read.schema(written.schema).parquet(path)

  private val schemas = new ListingCache[StructType]

  /** The schema parquet inference gives `path`, inferred once (a one-task
    * Spark job reading the footers) and then served from a
    * [[ListingCache]] while the path's files are unchanged. Inference
    * depends on `spark.sql.legacy.parquet.nanosAsLong` (nanos timestamps
    * surface as BIGINT under it), so its value is part of the key; a file
    * rewritten in place misses and is inferred again.
    */
  def schemaOf(spark: SparkSession, path: String): StructType =
    schemas(spark, path,
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")) {
      spark.read.parquet(path).schema
    }

  /** The events table's `ts` column has shipped in three physical layouts
    * across testdata regenerations: parquet TIMESTAMP(NANOS) (which the
    * vectorized reader rejects unless surfaced as raw-nanos BIGINT),
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (TIMESTAMP_NTZ), and plain
    * TIMESTAMP. Branch on the *loaded* schema so any of the three normalizes
    * to engine-grain TimestampType:
    *
    *   - LongType (raw nanos): integral `div 1000` to micros (a double
    *     division would lose precision above 2^53 ns); DuckDB applies the
    *     same ns -> us truncation, so the two engines agree on values.
    *   - TIMESTAMP_NTZ: cast to TimestampType — under the engine's UTC
    *     session timezone the wall-clock reinterprets to the identical
    *     instant, so downstream unix_timestamp/window arithmetic is
    *     unchanged.
    *   - TimestampType: pass through.
    *
    * `nanosAsLong` stays set unconditionally: it is what makes the nanos
    * variant readable at all, and it is a no-op for the micros variants.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.withColumn("ts", normalizedTs(raw.schema("ts").dataType))
  }

  /** The ts-normalizing expression for a given loaded/declared `ts` dtype —
    * shared by the batch loader above and the streaming events reader
    * (operators/StreamingOps.eventsStream), so both seams adapt to whichever
    * physical layout the current testdata carries.
    */
  def normalizedTs(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    dt match {
      case LongType         => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet type $other (expected nanos-as-long, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = loadEvents(s, d)
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
