package graft

import graft.core.SessionStaging

/** The session-staging seam the r14 optimization round introduced for the
  * v-family / serve-trio from-scratch builds: build-once-per-key, every
  * caller gets a byte-equal private copy, distinct keys never share, a
  * leftover target (crash debris) is replaced instead of merged into, and
  * a build that throws leaves nothing its retry could inherit.
  */
class SessionStagingSpec extends SparkSpec {

  private def fresh(name: String): String =
    tempDir("graft-staging-spec") + s"/$name"

  private def writeRows(dir: String, rows: Seq[Long]): Unit = {
    import SparkSpec.spark.implicits._
    rows.toDF("v").coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def readRows(dir: String): Seq[Long] = {
    import SparkSpec.spark.implicits._
    spark.read.parquet(dir).as[Long].collect().toSeq.sorted
  }

  test("one build per key; every target gets an identical copy") {
    var builds = 0
    val key = s"spec:${java.util.UUID.randomUUID()}"
    val (t1, t2) = (fresh("a"), fresh("b"))
    SessionStaging.into(spark, key, t1) { dir =>
      builds += 1; writeRows(s"$dir/data", Seq(1L, 2L, 3L))
    }
    SessionStaging.into(spark, key, t2) { dir =>
      builds += 1; writeRows(s"$dir/data", Seq(99L))
    }
    assert(builds == 1, "the second caller must reuse the staged build")
    assert(readRows(s"$t1/data") == Seq(1L, 2L, 3L))
    assert(readRows(s"$t2/data") == Seq(1L, 2L, 3L))
  }

  test("copies are private: mutating one target leaves siblings intact") {
    val key = s"spec:${java.util.UUID.randomUUID()}"
    val (t1, t2) = (fresh("a"), fresh("b"))
    SessionStaging.into(spark, key, t1)(d => writeRows(s"$d/data", Seq(7L)))
    SessionStaging.into(spark, key, t2)(d => writeRows(s"$d/data", Seq(7L)))
    // the lifecycle queries append/tombstone into their copy — a shared
    // physical directory would leak the mutation into every sibling
    writeRows(s"$t1/data2", Seq(8L))
    assert(!new java.io.File(s"$t2/data2").exists())
    assert(readRows(s"$t2/data") == Seq(7L))
  }

  test("distinct keys never share a staged artifact") {
    val (k1, k2) = (s"spec:${java.util.UUID.randomUUID()}",
      s"spec:${java.util.UUID.randomUUID()}")
    val (t1, t2) = (fresh("a"), fresh("b"))
    SessionStaging.into(spark, k1, t1)(d => writeRows(s"$d/data", Seq(1L)))
    SessionStaging.into(spark, k2, t2)(d => writeRows(s"$d/data", Seq(2L)))
    assert(readRows(s"$t1/data") == Seq(1L))
    assert(readRows(s"$t2/data") == Seq(2L))
  }

  test("a non-empty target is cleared, never merged into; an empty one is replaced") {
    val key = s"spec:${java.util.UUID.randomUUID()}"
    val occupied = fresh("occupied")
    writeRows(s"$occupied/data", Seq(5L))
    writeRows(s"$occupied/debris", Seq(6L))
    SessionStaging.into(spark, key, occupied)(d =>
      writeRows(s"$d/data", Seq(1L)))
    assert(readRows(s"$occupied/data") == Seq(1L))
    assert(!new java.io.File(s"$occupied/debris").exists(),
      "crash debris must not survive into the copy")
    val empty = fresh("empty")
    assert(new java.io.File(empty).mkdirs())
    SessionStaging.into(spark, key, empty)(d =>
      writeRows(s"$d/data", Seq(1L)))
    assert(readRows(s"$empty/data") == Seq(1L))
  }

  test("a build that throws is not recorded and leaves no partial output " +
    "for the retry") {
    val key = s"spec:${java.util.UUID.randomUUID()}"
    val t1 = fresh("a")
    intercept[IllegalStateException] {
      SessionStaging.into(spark, key, t1) { d =>
        writeRows(s"$d/partial", Seq(9L))
        throw new IllegalStateException("crash mid-build")
      }
    }
    var builds = 0
    SessionStaging.into(spark, key, t1) { d =>
      builds += 1
      assert(!new java.io.File(s"$d/partial").exists(),
        "the retry must start from an empty build directory")
      writeRows(s"$d/data", Seq(3L))
    }
    assert(builds == 1, "a failed build must not be recorded as staged")
    assert(readRows(s"$t1/data") == Seq(3L))
    assert(!new java.io.File(s"$t1/partial").exists())
  }

  test("datasetIdent re-keys when the source file changes") {
    val d = tempDir("graft-ident")
    val f = new java.io.File(d, "embeddings.parquet")
    java.nio.file.Files.write(f.toPath, "aa".getBytes)
    val i1 = SessionStaging.datasetIdent(d, "embeddings.parquet")
    java.nio.file.Files.write(f.toPath, "bbb".getBytes) // size changes
    val i2 = SessionStaging.datasetIdent(d, "embeddings.parquet")
    assert(i1 != i2)
  }

  test("datasetIdent refuses a missing source file") {
    val d = tempDir("graft-ident-missing")
    val e = intercept[IllegalArgumentException] {
      SessionStaging.datasetIdent(d, "embeddings.parquet")
    }
    assert(e.getMessage.contains("does not exist"))
  }
}
