package graft.core

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** Build-once-per-JVM staging for deterministic index builds.
  *
  * The v-family lifecycle queries and the serve lifecycle trio each start
  * from the same deterministic artifact: the IVF/PQ/IVF-PQ index of a fixed
  * corpus slice, or the BM25 score snapshot. [[into]] builds each distinct
  * artifact once per JVM into a staging directory and byte-copies it into
  * every later target, so the corpus scan is paid once while every query
  * still runs its own lifecycle (appends, tombstones, compaction, rebuilds,
  * version pointers, leases, vacuum) against its private copy. Only the
  * private staged-build helpers of [[graft.operators.VectorOps]] and
  * [[graft.serve.QueryService]] call it; no public signature takes a key.
  *
  * It stays an optimization, not a result cache:
  *   - the staging directory is a [[Scratch.run]] directory, deleted with
  *     the JVM's run root, so every run computes every artifact from the
  *     parquet inputs;
  *   - keys fold [[datasetIdent]] of the source (its [[ListingCache]]
  *     stamp), never the state of a mutable directory, so a regenerated
  *     corpus re-keys and a mutated index root cannot poison a key;
  *   - a staged artifact is an index or snapshot directory, never a query
  *     result.
  *
  * At 100 TB the same seam is a distcp of a built index (bytes linear in
  * the index, embarrassingly parallel) replacing a full corpus scan +
  * shuffle + partitioned write — cheaper whenever the build is more than a
  * byte copy, which an index build always is.
  */
object SessionStaging {

  private lazy val stagingRoot: String = Scratch.run("staging")

  /** key -> staged directory; an entry exists only after its build
    * completed (per-key lock below), so readers never see a half-build.
    */
  private val staged =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The one dataset identity: a digest of the qualified path of `d`'s
    * source `file` and its [[ListingCache.listingOf]] stamp (the identity
    * rule [[ListingCache]] states). Staging keys, the serving roots' names
    * and every artifact that outlives a cache fold it, so a regenerated
    * or different dataset never meets another's artifact. A missing file
    * fails here: fingerprinting it as absent would key every missing
    * dataset alike.
    */
  def datasetIdent(s: SparkSession, d: String, file: String): String = {
    val p = new Path(d, file)
    val path = p.getFileSystem(s.sparkContext.hadoopConfiguration).makeQualified(p).toString
    val stamp = ListingCache.listingOf(s, path)
    require(stamp.isDefined, s"datasetIdent: $path does not exist")
    md5hex(s"$path:${stamp.get.mkString(",")}").take(16)
  }

  /** Publish the staged artifact `key` as v1 of a fresh [[VersionedStore]]
    * `root` (`first`: a racing first writer is waited for) or as the
    * successor of its current version. The claim/publish mechanics run
    * live; only the build is staged through [[into]]. Returns the version
    * directory.
    */
  def version(s: SparkSession, root: String, key: String, first: Boolean)
      (build: String => Unit): String = {
    val ttl = VersionedStore.DefaultLeaseTtlMs
    val staged = (dir: String) => into(s, key, dir)(build)
    if (first) VersionedStore.init(s, root, ttl)(staged)
    else VersionedStore.buildNext(s, root, ttl)(staged)
  }

  /** Build-once-per-JVM, copy-per-caller: the first caller for `key` runs
    * `build` into a private temp directory that is renamed into place and
    * recorded only once the build returned — a build that throws partway
    * leaves nothing a retry could inherit. Every caller (including the
    * first) then gets a recursive copy at `target`. Targets are
    * directories only their caller writes (a VersionedStore-claimed
    * version directory or a UUID scratch root), so anything already there
    * is debris of a crashed earlier attempt — VersionedStore's retry
    * contract — and is cleared rather than merged into.
    */
  def into(s: SparkSession, key: String, target: String)
      (build: String => Unit): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val src = key.intern.synchronized {
      staged.getOrElse(key, {
        val dir = new Path(s"$stagingRoot/${md5hex(key)}")
        val tmp = new Path(s"$stagingRoot/_building_${java.util.UUID.randomUUID()}")
        val fs = dir.getFileSystem(conf)
        try {
          fs.mkdirs(tmp)
          build(tmp.toString)
          fs.delete(dir, true)
          require(fs.rename(tmp, dir),
            s"SessionStaging.into: publishing the build of $key failed")
        } finally { fs.delete(tmp, true); () }
        staged.put(key, dir.toString)
        dir.toString
      })
    }
    val srcPath = new Path(src)
    val dstPath = new Path(target)
    val fs = dstPath.getFileSystem(conf)
    fs.delete(dstPath, true)
    val parent = dstPath.getParent
    if (parent != null) fs.mkdirs(parent)
    require(FileUtil.copy(srcPath.getFileSystem(conf), srcPath, fs, dstPath,
        false /* deleteSource */, true /* overwrite */, conf),
      s"SessionStaging.into: copy $src -> $target failed")
  }
}
