package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Every written output graft reads back, batch or stream, is read with a
  * schema it already knows (core/Tables: `load`, `stream`, `readBack`, or a
  * persisted root's declared schema), so no read runs a footer-inference
  * job. The sources say so: a parquet read or file stream whose reader
  * chain sets no schema is allowed only in `Tables.schemaOf`, the one
  * inference per table file, and in s20, whose subject is footer merging.
  */
class SourceScanSpec extends AnyFunSuite with TempDirs {

  private def sources(dir: File): Seq[File] =
    if (dir.isDirectory) dir.listFiles().toSeq.flatMap(sources)
    else if (dir.getName.endsWith(".scala")) Seq(dir) else Nil

  /** `src`'s code with block comments and whole-line `//` comments removed. */
  private def code(src: String): String =
    """(?s)/\*.*?\*/""".r.replaceAllIn(src, m => "\n" * m.matched.count(_ == '\n'))
      .split("\n", -1).map(l => if (l.trim.startsWith("//")) "" else l).mkString("\n")

  /** A reader chain: `.read` or `.readStream`, its setter calls, and the
    * call that names the input — `.parquet(`, or `.load(` after a parquet
    * `format`.
    */
  private val chain =
    """\.(read|readStream)\b((?:\s*\.\s*\w+\((?:[^()]|\([^()]*\))*\))*?)\s*\.\s*(parquet|load)\(""".r

  /** The top-level member (a two-space-indented def or val) each offset of
    * `text` lies in.
    */
  private def memberAt(text: String)(offset: Int): String =
    """(?m)^  (?:private\S* |override |lazy )*(?:def|val) (\w+)""".r
      .findAllMatchIn(text.take(offset)).toSeq.lastOption.fold("<top>")(_.group(1))

  /** (file relative to src/main/scala/graft, member) of every schema-less
    * parquet read and file stream under `root`.
    */
  private[graft] def schemaLess(root: File): Set[(String, String)] =
    sources(root).flatMap { f =>
      val text = code(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      chain.findAllMatchIn(text).filter { m =>
        """\.\s*schema\(""".r.findFirstIn(m.group(2)).isEmpty &&
          (m.group(3) == "parquet" || m.group(2).contains("\"parquet\""))
      }.map(m => root.toPath.relativize(f.toPath).toString.replace(File.separatorChar, '/') ->
        memberAt(text)(m.start)).toSeq
    }.toSet

  test("no parquet read or file stream outside Tables.schemaOf and s20 " +
    "infers its schema from the footers") {
    val root = new File("src/main/scala/graft")
    assert(sources(root).size > 40, "the scan must see the main sources")
    assert(schemaLess(root) === Set(
      "core/Tables.scala" -> "schemaOf",
      "operators/Sources.scala" -> "s20"))
  }

  test("the scan flags schema-less reads and streams in any chain shape, " +
    "and passes reads that set a schema") {
    val dir = new File(tempDir("graft-scan"))
    val f = new File(dir, "operators/Planted.scala")
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, Seq(
      "object Planted {",
      "  def a(s: S, p: String) = s.read.parquet(p)",
      "  def b(s: S, p: String) = s.read",
      "    .option(\"k\", \"v\").parquet(p)",
      "  def c(s: S, p: String) = s.readStream.option(\"pathGlobFilter\", \"x\").parquet(p)",
      "  def d(s: S, p: String) = s.read.format(\"parquet\").load(p)",
      "  def e(s: S, p: String) = s.read.schema(t).parquet(p)",
      "  def e2(s: S, p: String) = s.read.option(\"k\", f(p)).parquet(p)",
      "  def e3(s: S, p: String) = s.read.schema(schemaOf(s, p))",
      "    .parquet(p)",
      "  def f(s: S, p: String) = s.readStream.schema(t).option(\"k\", \"v\").parquet(p)",
      "  def g(s: S, p: String) = s.readStream.format(\"kafka\").load()",
      "  // def h(s: S, p: String) = s.read.parquet(p)",
      "  /** def i(s: S, p: String) = s.read.parquet(p) */",
      "}").mkString("\n").getBytes("UTF-8"))
    assert(schemaLess(dir) === Set("a", "b", "c", "d", "e2").map("operators/Planted.scala" -> _))
  }
}
