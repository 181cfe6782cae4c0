package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Minimal snapshot/time-travel surface at the [[Tables]] seam — the shape
  * of Iceberg's metadata inspection and `VERSION AS OF` reads (reference
  * lakehouse_part1_load_data.py:333, 346-409: snapshot listing, history,
  * reading an older snapshot after a delete) without the Iceberg runtime
  * (jar absent in this environment; see DIVERGENCES #6).
  *
  * A table is a [[VersionedStore]] root on the Hadoop filesystem: every
  * write builds a NEW immutable version directory and publishes it with
  * one atomic manifest pointer, under the store's single-writer lease.
  * Versions are numbered `1, 2, ...`; readers address one explicitly or
  * take the latest. A writer that fails mid-write leaves only unpublished
  * debris that no reader resolves and the next write overwrites. Deletes
  * are copy-on-write: filter + write-next-version, the old version stays
  * readable until [[vacuum]] reclaims it. At 100 TB this is exactly
  * Iceberg's model (immutable snapshots + metadata pointer), so swapping
  * the manifest for the Iceberg catalog keeps every call site.
  *
  * Each version also records its schema, as Iceberg's metadata does: a
  * read passes the recorded schema to the scan instead of inferring it
  * from the data files' footers, so reading a snapshot runs no Spark job
  * of its own.
  */
object Snapshots {

  private def root(table: String): String =
    Scratch.durable(s"snapshots/$table")

  // the verbs without a session argument reach the filesystem through the
  // session their caller runs under
  private def session: SparkSession = SparkSession.active

  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(session.sparkContext.hadoopConfiguration)

  /** Snapshot ids, ascending (empty when the table does not exist). */
  def versions(table: String): Seq[Int] =
    VersionedStore.versions(session, root(table)).map(_.toInt)

  /** Build the next version with `build` and publish it; returns its id. */
  private def commit(s: SparkSession, table: String)(build: String => Unit): Int =
    new Path(VersionedStore.buildNext(s, root(table),
      VersionedStore.DefaultLeaseTtlMs)(build)).getName.drop(1).toInt

  /** The schema a version records next to its data files. The `_` prefix
    * hides it from Spark's file index, so a scan of the version directory
    * reads only the data.
    */
  private val SchemaFile = "_schema.json"

  /** Write `df`'s rows into the version directory `dir`, then its schema.
    * The schema recorded is the one a reader of `dir` sees for `df`'s
    * schema (parquet reads every column back nullable), taken from a scan
    * that lists `dir` without inferring anything. A write that fails
    * leaves no schema file: Overwrite empties `dir` before writing.
    */
  private def writeVersion(s: SparkSession, df: DataFrame, dir: String): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(dir)
    val p = new Path(dir, SchemaFile)
    val out = fsOf(p).create(p, true)
    try out.write(s.read.schema(df.schema).parquet(dir).schema.json.getBytes("UTF-8"))
    finally out.close()
  }

  /** Scan the version directory `dir` with its recorded schema. A version
    * written without one (by older code) falls back to footer inference.
    */
  private def readVersion(s: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir, SchemaFile)
    val recorded =
      try {
        val in = fsOf(p).open(p)
        try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    recorded.fold(s.read)(json =>
      s.read.schema(DataType.fromJson(json).asInstanceOf[StructType])).parquet(dir)
  }

  /** Write `df` as the next snapshot; returns the new version id. */
  def write(s: SparkSession, table: String, df: DataFrame): Int =
    commit(s, table)(writeVersion(s, df, _))

  private case object Rejected extends RuntimeException("audit rejected the batch")

  /** Write-audit-publish (Iceberg `write.wap.enabled` / Delta's
    * un-committed files at this seam): `df` is written into the next,
    * UNPUBLISHED version directory, `audit` judges exactly those staged
    * files, and only a passing audit publishes them — the commit itself
    * is one O(1) pointer write. A rejected batch is deleted before the
    * lease is released, so neither what readers see nor the next version
    * number moves. Returns the published version id, None on rejection.
    */
  def writeAudited(s: SparkSession, table: String, df: DataFrame)
      (audit: DataFrame => Boolean): Option[Int] =
    try Some(commit(s, table) { dir =>
      writeVersion(s, df, dir)
      if (!audit(readVersion(s, dir))) {
        fsOf(new Path(dir)).delete(new Path(dir), true)
        throw Rejected
      }
    }) catch { case Rejected => None }

  /** Time-travel read of snapshot `v`. Only a published version is
    * readable: a directory under `roots/` that the manifest does not list
    * (a writer mid-build, or debris a failed writer left) is refused.
    */
  def read(s: SparkSession, table: String, v: Int): DataFrame = {
    require(VersionedStore.versions(s, root(table)).contains(v.toLong),
      s"time travel to $table v$v: no such published snapshot")
    readVersion(s, VersionedStore.versionDir(root(table), v))
  }

  /** Read the current snapshot. */
  def latest(s: SparkSession, table: String): DataFrame =
    readVersion(s, VersionedStore.resolve(s, root(table)))

  /** MERGE (upsert) of `source` into the latest snapshot on `key` —
    * Iceberg/Delta `MERGE INTO` with the update-all / insert-all branches:
    * matched target rows are replaced by their source row, unmatched
    * source rows are inserted, untouched target rows carry over. Returns
    * the new snapshot id.
    *
    * Faithful to the MERGE cardinality rule: a source with duplicate keys
    * would update one target row twice nondeterministically, so it is
    * rejected (Iceberg raises the same error) with an
    * IllegalArgumentException, and no version is published. The check
    * runs inside the merge write ([[merged]]), not as a query of its own.
    * Copy-on-write: one anti-join + union written as the next snapshot.
    * At 100 TB the anti-join shuffles on the merge key — or needs no
    * exchange at all if the table is bucketed on it — and a real table
    * format would rewrite only the files containing matches; this seam is
    * unchanged either way.
    */
  def merge(s: SparkSession, table: String, source: DataFrame, key: Seq[String]): Int = {
    val duplicates = s"MERGE source has duplicate rows on key ${key.mkString(",")}"
    try write(s, table, merged(latest(s, table), source, key, duplicates))
    catch {
      case e: Exception if Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).exists(c => Option(c.getMessage).exists(_.contains(duplicates))) =>
        throw new IllegalArgumentException(s"requirement failed: $duplicates", e)
    }
  }

  /** The rows of a MERGE of `source` into `target` on `key`, with the
    * cardinality rule checked as they are computed: each source row's
    * first column is woven through an `assert_true` that its key occurs
    * once in `source` (a window count, so null keys group together as in
    * the rule), raising `duplicates` otherwise — the [[applyChangelog]]
    * pattern, the assert inside a VALUE that is written, so it runs for
    * every source row. It is not woven into the anti-join's key side: a
    * sort-merge anti-join need not read every right-side row. The
    * target is only anti-joined against the source keys, so with keys
    * small enough to broadcast the target is never shuffled.
    */
  private[graft] def merged(target: DataFrame, source: DataFrame, key: Seq[String],
      duplicates: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val first = source.columns.head
    val once = count(lit(1)).over(Window.partitionBy(key.map(col): _*)) === 1L
    val checked = source.withColumn(first,
      when(assert_true(once, lit(duplicates)).isNull, col(first)))
    target.join(source.select(key.map(col): _*), key, "left_anti")
      .unionByName(checked)
  }

  /** Changelog between two snapshots — the CDC read (Iceberg changelog /
    * Delta CDF shape): every row only in `from` is a delete, every row
    * only in `to` is an insert; an update surfaces as its delete+insert
    * pair. Multiset semantics, so duplicate rows diff correctly.
    *
    * Derived in ONE shuffle: tag `from` rows -1 and `to` rows +1, group by
    * the whole row, and the signed count's sign is the change type while
    * its magnitude is the multiplicity (re-expanded with a lateral
    * sequence). Two `exceptAll`s would compute the same thing with two
    * full-width shuffles and four snapshot scans — at 100 TB this variant
    * reads each snapshot once and exchanges each distinct row once. A
    * production table format reads the changelog from commit metadata
    * instead; same contract, callers unchanged.
    */
  def diff(s: SparkSession, table: String, from: Int, to: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = read(s, table, from)
    val cols = a.columns.toSeq
    val tagged = a.withColumn("_w", lit(-1L))
      .unionByName(read(s, table, to).withColumn("_w", lit(1L)))
    tagged.groupBy(cols.map(col): _*).agg(sum(col("_w")).as("_net"))
      .filter(col("_net") =!= 0L)
      .withColumn("_change_type",
        when(col("_net") > 0, lit("insert")).otherwise(lit("delete")))
      .withColumn("_dup", explode(expr("sequence(1, abs(_net))")))
      .drop("_net", "_dup")
  }

  /** Apply a changelog (the [[diff]] shape: row columns + `_change_type`
    * of insert/delete) to a snapshot — the CDC-consumer half of the
    * contract: `applyChangelog(v_n, diff(n, m)) == v_m` as multisets.
    * Same one-shuffle signed-count derivation as [[diff]]: snapshot rows
    * weigh +1, deletes -1, inserts +1; the net multiplicity re-expands
    * through a lateral sequence. A net below zero means the changelog
    * deletes a row the snapshot does not have — that is corruption, so it
    * raises (assert_true) instead of silently clamping.
    */
  def applyChangelog(snapshot: DataFrame, changelog: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val cols = snapshot.columns.toSeq
    val tagged = snapshot.withColumn("_w", lit(1L))
      .unionByName(changelog
        .withColumn("_w", when(col("_change_type") === "insert", 1L).otherwise(-1L))
        .drop("_change_type"))
    tagged.groupBy(cols.map(col): _*).agg(sum(col("_w")).as("_net"))
      // the assert is woven into the VALUE the filter compares (assert_true
      // is NULL on pass, so `when` yields _net), not a separate conjunct —
      // a standalone `.filter(assert_true(...))` next to `.filter(_net > 0)`
      // would rely on Catalyst's conjunct evaluation order, and a reorder
      // could short-circuit past the assert for exactly the corrupt rows
      .withColumn("_net", when(assert_true(col("_net") >= 0L,
        lit("changelog deletes a row absent from the snapshot")).isNull,
        col("_net")))
      .filter(col("_net") > 0L)
      .withColumn("_dup", explode(expr("sequence(1, _net)")))
      .drop("_net", "_dup")
  }

  /** Tag a snapshot with a stable name (Iceberg tag / Delta named commit
    * at this seam): a reader can pin "the audited state" instead of a
    * version number that moves. Metadata-only — one tiny ref file.
    */
  def tag(table: String, name: String, v: Int): Unit = {
    require(versions(table).contains(v), s"tag $name: no snapshot v$v")
    require(name.matches("[A-Za-z0-9_.-]+"), s"bad tag name: $name")
    // "." / ".." pass the character class but resolve to the tags dir /
    // table root — reject dots-only names here so the caller gets the
    // validation error, not an opaque IOException from the create.
    require(!name.forall(_ == '.'), s"bad tag name: $name")
    val p = new Path(s"${root(table)}/tags/$name")
    val out = fsOf(p).create(p, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  /** All tags of a table, name -> version. */
  def tags(table: String): Map[String, Int] = {
    val dir = new Path(s"${root(table)}/tags")
    val fs = fsOf(dir)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).map { f =>
      val in = fs.open(f.getPath)
      try f.getPath.getName -> new String(in.readAllBytes(), "UTF-8").trim.toInt
      finally in.close()
    }.toMap
  }

  /** Time-travel read at a named tag. */
  def readTag(s: SparkSession, table: String, name: String): DataFrame = {
    val v = tags(table).getOrElse(name,
      throw new IllegalArgumentException(s"unknown tag: $name"))
    read(s, table, v)
  }

  /** Drop the whole table (all snapshots and tags) — test/setup hygiene. */
  def reset(table: String): Unit = {
    val p = new Path(root(table))
    fsOf(p).delete(p, true): Unit
  }

  /** VACUUM / snapshot expiry: drop all but the newest `keep` snapshots
    * (Iceberg `expireSnapshots` / Delta `VACUUM` semantics at this seam)
    * through [[VersionedStore.vacuum]]. Returns the dropped version ids,
    * ascending. Time travel to a dropped version fails afterwards — that
    * loss is the contract; callers keep enough history for their audit
    * window.
    */
  def vacuum(table: String, keep: Int): Seq[Int] =
    VersionedStore.vacuum(session, root(table), keep).map(_.toInt)
}
