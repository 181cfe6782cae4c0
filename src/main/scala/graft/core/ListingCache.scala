package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

/** The one owner of "derived from these files": every driver-side cache of
  * a value derived from a dataset — table schemas, vector-index geometry,
  * the station count, the sim rides, the served rides snapshot, s26's
  * seed — is a `ListingCache`, and [[SessionStaging.datasetIdent]], a
  * digest of the same stamp, names the artifacts that outlive a cache
  * (staging keys, serving roots). The identity rule, as an Iceberg
  * snapshot id names a table state:
  *
  *   - '''What a stamp covers.''' An entry is stamped with
  *     [[ListingCache.listingOf]] of the path it derives from: (name,
  *     size, mtime) of every file and directory under it, recursively, or
  *     of the file itself — the file listing a Spark scan of the path
  *     takes. A dataset directory's stamp covers all of its tables, and an
  *     index version directory's covers every tier and its tombstones, so
  *     a file any writer adds, replaces or removes under the path re-keys
  *     the entry.
  *   - '''Keys.''' The path is qualified through its filesystem, so a
  *     `file:` URI and the plain path it names share one entry.
  *   - '''Precision.''' The mtime is the finest the filesystem records:
  *     nanoseconds through `java.nio` on `file://` paths, FileStatus
  *     milliseconds elsewhere. New part files carry a per-write UUID, so a
  *     rewrite is always seen; a file rewritten in place is seen unless it
  *     keeps its size and its mtime to the filesystem's precision.
  *   - '''When the stamp is taken.''' Before the load, so a rewrite racing
  *     the load can only leave an entry that misses at the next call. A
  *     missing path is never cached — the loader raises its usual error.
  *   - '''Hits.''' A hit costs one listing (one call per directory, plus
  *     one stat per file on `file://`) and no Spark job. A stale entry is
  *     never served.
  *   - '''The bound.''' Every cache holds at most
  *     [[ListingCache.DriverCacheEntries]] entries.
  *   - '''Session-bound entries.''' A cache built `sessionBound` keys each
  *     entry by its session as well (a DataFrame belongs to the session
  *     that made it). A DataFrame entry that is replaced or dropped is
  *     unpersisted, so a `.cache()`d frame does not outlive its entry.
  *
  * `variant` names a setting the value depends on besides the files (a
  * reader conf, a sim size): entries under different variants never serve
  * each other.
  */
final class ListingCache[V](sessionBound: Boolean = false) {
  private val entries = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), (Seq[(String, Long, Long)], V)]

  def apply(s: SparkSession, path: String, variant: String = "")(load: => V): V = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    ListingCache.listing(fs, p).fold(load) { stamp =>
      val key = (if (sessionBound) s else null, fs.makeQualified(p).toString, variant)
      entries.get(key) match {
        case Some((`stamp`, hit)) => hit
        case _ =>
          val fresh = load
          if (entries.size > ListingCache.DriverCacheEntries)
            entries.keys.foreach(k => entries.remove(k).foreach(release))
          entries.put(key, (stamp, fresh)).foreach(release)
          fresh
      }
    }
  }

  private def release(entry: (_, V)): Unit = entry._2 match {
    case df: Dataset[_] => df.unpersist(blocking = false): Unit
    case _ =>
  }
}

object ListingCache {

  /** Backstop bound on every driver-side cache: a JVM touches a handful of
    * roots and tables, so the caches stay tiny; one grown past this (a
    * test harness minting hundreds of roots in one JVM) is dropped
    * wholesale — a refill costs one read, a leak costs the JVM.
    */
  val DriverCacheEntries = 64

  /** (name, size, mtime) of every file and directory under `path`,
    * recursively (of the file itself when `path` is a file), sorted — one
    * filesystem call per directory, no Spark job; the mtime at the
    * precision the class doc states. A nested entry is named by its path
    * below `path` (`postings/part-0.parquet`), so the stamp of a file or
    * of a directory without subdirectories lists bare names. None when
    * `path` does not exist.
    */
  def listingOf(s: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    listing(p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  private def listing(fs: FileSystem, p: Path): Option[Seq[(String, Long, Long)]] = {
    def under(dir: Path, prefix: String): Seq[(String, Long, Long)] =
      fs.listStatus(dir).toSeq.flatMap { f =>
        val name = prefix + f.getPath.getName
        (name, f.getLen,
          if (fs.getScheme == "file") localMtimeNanos(f.getPath) else f.getModificationTime) +:
          (if (f.isDirectory) under(f.getPath, s"$name/") else Nil)
      }
    try Some(under(p, "").sorted)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** The local filesystem's own mtime, in nanoseconds: Hadoop's FileStatus
    * rounds it to milliseconds. A file deleted since the listing reads as
    * a missing path.
    */
  private def localMtimeNanos(p: Path): Long =
    try java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(p.toUri))
      .to(java.util.concurrent.TimeUnit.NANOSECONDS)
    catch { case e: java.nio.file.NoSuchFileException =>
      throw new java.io.FileNotFoundException(e.getMessage) }
}
