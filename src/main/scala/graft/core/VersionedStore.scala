package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.{FileSystem, Path}

/** The one versioned store under every persisted artifact — vector index
  * roots (VectorOps' versioned-roots section), the serving BM25 snapshot
  * and [[Snapshots]] tables — so they all share one atomicity story
  * (reference: the dashboard polls stable BigQuery tables,
  * webapp/buses-dashboard/bq_service.py:33-50 — a store must never serve a
  * half-written snapshot):
  *
  * {{{
  *   $root/manifest/v00000001     <- pointer files, one per published
  *   $root/manifest/v00000002        version; readers take the max
  *   $root/roots/v00000001/...    <- each a complete, IMMUTABLE snapshot
  *   $root/roots/v00000002/...
  * }}}
  *
  * Publish is one file CREATE in `manifest/` (write a dotted temp name,
  * rename within the directory — atomic on HDFS and POSIX; object stores
  * give single-object put atomicity for the same shape). A reader resolves
  * the pointer ONCE per request and pins that version's directory for its
  * whole plan: a re-materialization publishing v{N+1} mid-query cannot
  * reshape or vanish the files the plan reads — concurrent reads are
  * fully-old or fully-new, never mixed. A crash before publish leaves only
  * unpublished debris readers never see.
  *
  * Versions are matched as `v` + 8-OR-MORE digits and compared numerically,
  * so version 100,000,000 (9 digits from the `%08d` format) stays visible
  * rather than silently pinning an older snapshot.
  *
  * Single-writer discipline: [[claim]] takes an exclusive per-version lease
  * (an O_EXCL manifest file) so two concurrent rebuilders cannot interleave
  * writes inside the same unpublished roots/v{N+1} directory. A crashed
  * claimant's lease is taken over once it is older than `ttlMs` and its
  * version is still unpublished; takeover renames the stale lease aside
  * before re-claiming, so concurrent takeover attempts still funnel through
  * exactly one exclusive create.
  *
  * Scale: the manifest is O(versions) tiny files and one list call per
  * resolution; version roots share nothing, so building v{N+1} is the same
  * job as a fresh build into an empty directory — no serving-path cost
  * moves at 100 TB.
  */
object VersionedStore {

  def versionName(n: Long): String = f"v$n%08d"

  private def manifest(root: String) = new Path(s"$root/manifest")

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Writers that crash mid-build hold their version lease until this TTL
    * passes; a successor build then takes the lease over (see [[claim]]).
    * Generous next to any real build duration so a SLOW build is never
    * mistaken for a dead one.
    */
  val DefaultLeaseTtlMs: Long = 15L * 60 * 1000

  /** Published version numbers under `root`, ascending (empty when the
    * root does not exist).
    */
  def versions(s: SparkSession, root: String): Seq[Long] = {
    val man = manifest(root)
    val fs = fsOf(s, man)
    if (!fs.exists(man)) Nil
    else fs.listStatus(man).map(_.getPath.getName).toSeq
      .collect { case n if n.matches("v\\d{8,}") => n.drop(1).toLong }
      .sorted
  }

  /** Highest published version under `root`, if any. */
  def currentVersion(s: SparkSession, root: String): Option[Long] =
    versions(s, root).lastOption

  /** The version directory for `n` (published or not). */
  def versionDir(root: String, n: Long): String =
    s"$root/roots/${versionName(n)}"

  /** The pinned directory of the current version — resolve ONCE per
    * request; every read of the returned path is immune to later flips.
    */
  def resolve(s: SparkSession, root: String): String = {
    val v = currentVersion(s, root).getOrElse(
      sys.error(s"VersionedStore.resolve: no published version under $root"))
    versionDir(root, v)
  }

  /** Atomic publish: manifest file creation via same-directory rename.
    * Crash-retry safe — if a retried publisher finds the final name
    * already present, the version is live and the retry is a no-op.
    */
  def publish(s: SparkSession, root: String, n: Long): Unit = {
    val man = manifest(root)
    val fs = fsOf(s, man)
    fs.mkdirs(man)
    val tmp = new Path(man, s".tmp_${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    out.write(s"roots/${versionName(n)}\n".getBytes("UTF-8"))
    out.close()
    val fin = new Path(man, versionName(n))
    if (!fs.rename(tmp, fin)) {
      fs.delete(tmp, false)
      require(fs.exists(fin), s"publish of ${versionName(n)} under $root failed")
    }
  }

  // ------------------------------------------------ single-writer claims

  /** Exclusive create carrying the holder's token — the O_EXCL primitive
    * the lease rests on. HDFS `create(p, overwrite = false)` is
    * atomic-exclusive; the local filesystem's Hadoop shim is
    * check-then-create, so route file:// paths through
    * `java.io.File.createNewFile` (O_CREAT|O_EXCL on POSIX), then write
    * the token. A reader racing the two steps sees an empty file — that
    * reads as "held by unknown", never as "held by me".
    */
  private def atomicCreate(fs: FileSystem, p: Path, token: String): Boolean = {
    val uri = fs.getUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      val f = new java.io.File(p.toUri.getPath)
      if (!f.createNewFile()) false
      else {
        java.nio.file.Files.write(f.toPath, token.getBytes("UTF-8"))
        true
      }
    } else {
      try {
        val out = fs.create(p, false)
        out.write(token.getBytes("UTF-8")); out.close(); true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    }
  }

  private def claimPath(root: String, n: Long) =
    new Path(manifest(root), s"claim_${versionName(n)}")

  // in-JVM claimants additionally serialize here so a same-process race
  // never depends on filesystem timing (cross-process safety comes from
  // the exclusive create above)
  private val claimLock = new Object

  // token of the lease THIS process holds per (root, n) — lets a writer
  // verify immediately before publish that its lease was not stolen by a
  // mis-fired cross-process takeover (see [[holdsLease]])
  private val heldTokens =
    scala.collection.concurrent.TrieMap.empty[(String, Long), String]

  /** Take the exclusive build lease on version `n` of `root`. Returns
    * true iff THIS caller now holds it — exactly one concurrent claimant
    * wins; the rest must not write under roots/v{n}. A lease left by a
    * crashed claimant (older than `ttlMs` with `n` still unpublished) is
    * taken over. Release with [[release]] (a finally block — a claimant
    * that dies without releasing is recovered by the TTL takeover).
    *
    * Takeover is TOCTOU-hardened: the stale lease is renamed aside and
    * the MOVED file's mtime is compared against the stat that judged it
    * stale — if a racing winner re-created the lease between the stat and
    * the rename (so the rename moved a FRESH lease), it is renamed back
    * and the takeover is abandoned. The residual window (a third claimant
    * creating in the put-back gap) is why writers additionally verify
    * [[holdsLease]] before publishing.
    */
  def claim(s: SparkSession, root: String, n: Long, ttlMs: Long): Boolean =
    claimLock.synchronized {
      val man = manifest(root)
      val fs = fsOf(s, man)
      fs.mkdirs(man)
      val cl = claimPath(root, n)
      val token = java.util.UUID.randomUUID().toString
      def won(): Boolean = { heldTokens.put((root, n), token); true }
      if (atomicCreate(fs, cl, token)) won()
      else if (fs.exists(new Path(man, versionName(n)))) false // already live
      else {
        val st =
          try Some(fs.getFileStatus(cl))
          catch { case _: java.io.FileNotFoundException => None }
        st match {
          case None =>
            // holder vanished between our create attempt and the stat
            atomicCreate(fs, cl, token) && won()
          case Some(x)
              if System.currentTimeMillis() - x.getModificationTime > ttlMs =>
            // crashed-lease takeover: move the SPECIFIC stale file aside
            // (two racing takeovers — only one rename of it can succeed)
            val dead = new Path(man,
              s".dead_${versionName(n)}_${java.util.UUID.randomUUID()}")
            val moved = try fs.rename(cl, dead)
              catch { case _: java.io.IOException => false }
            if (!moved) atomicCreate(fs, cl, token) && won()
            else {
              val deadMtime =
                try Some(fs.getFileStatus(dead).getModificationTime)
                catch { case _: java.io.FileNotFoundException => None }
              if (deadMtime.contains(x.getModificationTime)) {
                // we moved the lease we judged stale — reclaim through
                // the exclusive create as usual
                fs.delete(dead, false)
                atomicCreate(fs, cl, token) && won()
              } else {
                // TOCTOU: a racing winner re-created the lease between
                // our stat and our rename, and we moved the FRESH one —
                // put it back and abandon the takeover
                if (!fs.rename(dead, cl)) fs.delete(dead, false)
                false
              }
            }
          case _ => false // live lease held by another writer
        }
      }
    }

  /** Does THIS process still hold the lease it claimed on (root, n)? A
    * writer calls this immediately before publish: in the (doubly-raced)
    * takeover window a lease can be stolen out from under a live builder,
    * and publishing then would bless a directory another writer may have
    * touched — verifying the on-disk token against the one [[claim]]
    * recorded turns that corruption into a loud abort instead.
    */
  def holdsLease(s: SparkSession, root: String, n: Long): Boolean =
    heldTokens.get((root, n)).exists { token =>
      val cl = claimPath(root, n)
      val fs = fsOf(s, cl)
      try {
        val in = fs.open(cl)
        val buf = new Array[Byte](64)
        val read = in.read(buf); in.close()
        read > 0 && new String(buf, 0, read, "UTF-8") == token
      } catch { case _: java.io.IOException => false }
    }

  /** Drop the lease on version `n` (idempotent). */
  def release(s: SparkSession, root: String, n: Long): Unit = {
    heldTokens.remove((root, n))
    val cl = claimPath(root, n)
    fsOf(s, cl).delete(cl, false): Unit
  }

  // --------------------------------------------------- build lifecycle

  /** First build of a versioned store: claim v1, run `build` into its
    * version directory, publish. If another writer holds the v1 lease,
    * wait for its publish instead of interleaving writes under the same
    * unpublished directory (bounded by the lease TTL — a dead winner's
    * lease expires and the NEXT init attempt takes over). Returns the
    * published version directory.
    */
  def init(s: SparkSession, root: String, ttlMs: Long)
      (build: String => Unit): String = {
    require(currentVersion(s, root).isEmpty,
      s"VersionedStore.init: $root already has a published version — " +
        "use buildNext to publish a successor")
    if (!claim(s, root, 1L, ttlMs)) {
      val deadline = System.currentTimeMillis() + ttlMs
      while (currentVersion(s, root).isEmpty &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      return resolve(s, root)
    }
    buildClaimed(s, root, 1L)(build)
  }

  /** Publish the successor version: claim v{N+1} (single-writer — a
    * concurrent builder is refused loudly), run `build` into its version
    * directory, flip the pointer. On a root with no published version
    * this publishes v1 ([[init]] is the variant that waits for a racing
    * first builder instead of failing). Concurrent reads pinned to v{N}
    * stay fully-old; the next resolution is fully-new. Returns the new
    * version directory.
    */
  def buildNext(s: SparkSession, root: String, ttlMs: Long)
      (build: String => Unit): String = {
    val n = currentVersion(s, root).getOrElse(0L) + 1
    require(claim(s, root, n, ttlMs),
      s"VersionedStore.buildNext: another writer holds the build lease on " +
        s"${versionName(n)} under $root — exactly one build may target a " +
        "version; retry after it publishes or after its lease expires")
    buildClaimed(s, root, n)(build)
  }

  /** Run `build` into version `n`'s directory under the lease this process
    * just claimed, then publish — aborting loudly if the lease was stolen
    * while it built (publishing anyway would bless a directory another
    * writer may have interleaved into: the residual takeover window
    * [[claim]] documents). The lease is released however `build` ends.
    */
  private def buildClaimed(s: SparkSession, root: String, n: Long)
      (build: String => Unit): String =
    try {
      val dir = versionDir(root, n)
      build(dir)
      require(holdsLease(s, root, n),
        s"VersionedStore: the build lease on ${versionName(n)} under $root " +
          "was lost mid-build (a takeover mis-fire or manual intervention) — " +
          "refusing to publish a possibly multi-writer directory; retry the " +
          "build")
      publish(s, root, n)
      dir
    } finally release(s, root, n)

  // ---------------------------------------------------------- retention

  /** Reclaim versions older than the newest `keepLast`, but never one
    * superseded less than `minAgeMs` ago — the grace window for in-flight
    * readers pinned to a predecessor (a reader resolves once, so it is
    * safe exactly until its pinned version is deleted; `minAgeMs` longer
    * than the slowest read keeps every pin valid). "Superseded at" = the
    * publish time (manifest mtime) of the oldest LATER version. Root
    * directory goes first, manifest file second, so a crash between the
    * two leaves a pointer to a vanished NON-current version: harmless
    * (resolution always takes the max) and cleaned by the vacuum retry.
    * Unpublished build debris is left for the rebuild retry to overwrite.
    * Returns the removed version numbers.
    */
  def vacuum(s: SparkSession, root: String, keepLast: Int,
      minAgeMs: Long = 0L): Seq[Long] = {
    require(keepLast >= 1, "VersionedStore.vacuum: keepLast must be >= 1")
    val man = manifest(root)
    val fs = fsOf(s, man)
    val published = versions(s, root)
    val now = System.currentTimeMillis()
    def supersededLongAgo(v: Long): Boolean = published.find(_ > v).forall { nxt =>
      try now - fs.getFileStatus(new Path(man, versionName(nxt)))
        .getModificationTime >= minAgeMs
      catch { case _: java.io.FileNotFoundException => false }
    }
    val victims = published.dropRight(keepLast)
      .filter(v => minAgeMs <= 0L || supersededLongAgo(v))
    victims.foreach { v =>
      fs.delete(new Path(versionDir(root, v)), true)
      fs.delete(new Path(man, versionName(v)), false)
      fs.delete(claimPath(root, v), false) // inert lease of a published version
    }
    victims
  }
}
