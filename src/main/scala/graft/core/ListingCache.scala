package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A driver-side cache of values derived from files — vector-index
  * geometry, table schemas — one entry per path, stamped with the path's
  * [[ListingCache.listingOf]]. A hit costs one filesystem call and no
  * Spark job. A rewrite of the path changes the stamp (new part files
  * carry a per-write UUID; a file rewritten in place gets a new size or
  * mtime), so a stale entry is never served. The stamp is taken before
  * the load, so a rewrite racing the load can only leave an entry that
  * misses at the next call. A missing path is never cached — the loader
  * raises its usual error.
  *
  * `variant` names a setting the value depends on besides the files (a
  * reader conf): entries under different variants never serve each other.
  */
final class ListingCache[V <: AnyRef] {
  private val entries = scala.collection.concurrent.TrieMap
    .empty[(String, String), (Seq[(String, Long, Long)], V)]

  def apply(s: SparkSession, path: String, variant: String = "")(load: => V): V =
    ListingCache.listingOf(s, path) match {
      case None => load
      case Some(stamp) => entries.get((path, variant)) match {
        case Some((`stamp`, hit)) => hit
        case _ =>
          val fresh = load
          if (entries.size > ListingCache.DriverCacheEntries) entries.clear()
          entries.put((path, variant), (stamp, fresh))
          fresh
      }
    }
}

object ListingCache {

  /** Backstop bound on every driver-side cache: a JVM touches a handful of
    * roots and tables, so the caches stay tiny; one grown past this (a
    * test harness minting hundreds of roots in one JVM) is dropped
    * wholesale — a refill costs one read, a leak costs the JVM.
    */
  val DriverCacheEntries = 64

  /** (name, size, mtime) of every file directly under `path` (of the file
    * itself when `path` is a file), sorted — one filesystem call, no
    * Spark job. None when `path` does not exist.
    */
  def listingOf(s: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    try Some(p.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted)
    catch { case _: java.io.FileNotFoundException => None }
  }
}
