package graft

import graft.core.Scratch
import java.io.File

/** `core.Scratch` is the one owner of transient directories: its three
  * lifetimes, the sweep of run roots that killed processes left, and the
  * guards that keep scratch paths and staging keys out of the rest of the
  * library.
  */
class ScratchSpec extends SparkSpec {

  test("durable names a shared root; run hands out fresh paths under one run root") {
    assert(Scratch.durable("snapshots/t").endsWith("/graft-scratch/snapshots/t"))
    val (a, b) = (new File(Scratch.run("x")), new File(Scratch.run("x")))
    assert(a != b && !a.exists() && a.getName.startsWith("x_"))
    assert(a.getParentFile === b.getParentFile && a.getParentFile.isDirectory)
    assert(a.getParentFile.getName.startsWith(s"${ProcessHandle.current().pid()}-"))
    assert(a.getParentFile.getParentFile.getName === "graft-run")
  }

  test("the first run call removes run roots of dead processes and keeps live ones") {
    val base = tempDir("graft-scratch-spec")
    val runs = new File(base, "graft-run")
    // a pid no process has: nothing is started to find it
    val deadPid = Iterator.from(4000000).find(p => !ProcessHandle.of(p.toLong).isPresent).get
    val livePid = ProcessHandle.current().parent().get().pid()
    val dead = new File(runs, s"$deadPid-x")
    val live = new File(runs, s"$livePid-y")
    assert(new File(dead, "t13_mirror_1").mkdirs() && live.mkdirs())
    val fresh = new File(new Scratch(base).run("t6_state"))
    assert(!dead.exists(), "a dead process's run root must be swept")
    assert(live.exists(), "a live process's run root must be kept")
    assert(fresh.getParentFile.getParentFile === runs)
  }

  test("the first durable call deletes legacy entries and keeps the durable roots") {
    val base = tempDir("graft-scratch-legacy")
    val scratch = new File(base, "graft-scratch")
    val legacy = Seq("s1_nation_csv", s"sdoc_x_${java.util.UUID.randomUUID()}",
      "serve_vecidx_0cc175b9c0f1b6a831c399e269772661")
      .map(n => new File(scratch, n))
    val roots = Seq("serve", "snapshots", "scale").map(n => new File(scratch, s"$n/r"))
    (legacy ++ roots).foreach(d => assert(new File(d, "part-0").mkdirs()))
    val dir = new Scratch(base).durable("serve/idx")
    assert(dir === s"$base/graft-scratch/serve/idx")
    legacy.foreach(d => assert(!d.exists(), s"legacy entry ${d.getName} must be swept"))
    roots.foreach(d => assert(new File(d, "part-0").isDirectory, s"$d must stay"))
    intercept[IllegalArgumentException](new Scratch(base).durable("s1_nation_csv"))
  }

  test("scoped deletes its directory when the body returns or throws") {
    var seen = ""
    assert(Scratch.scoped("spec") { dir =>
      assert(new File(dir, "a/b").mkdirs()); seen = dir; 7 } === 7)
    assert(!new File(seen).exists())
    val e = intercept[IllegalStateException](Scratch.scoped("spec") { dir =>
      assert(new File(dir, "a").mkdirs()); seen = dir
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage === "boom")
    assert(!new File(seen).exists(), "a scoped body that throws left its directory")
  }

  private def sources(dir: String): Seq[File] = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    files(new File(dir)).filter(_.getName.endsWith(".scala"))
  }

  private def text(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("only core/Scratch.scala names the JVM temp directory") {
    val main = sources("src/main")
    assert(main.size > 40, s"the scan must see the main sources, saw ${main.size}")
    val naming = main.filter(f => text(f).contains("java.io.tmpdir"))
      .map(_.getPath.replace(File.separatorChar, '/'))
    assert(naming === Seq("src/main/scala/graft/core/Scratch.scala"))
  }

  test("in core, operators, serve and sim only Scratch, the O_EXCL create and " +
    "the stamp's local mtime read name java.io.File or java.nio.file") {
    // file -> the one method allowed to name them (None: the whole file)
    val allowed = Map(
      "core/Scratch.scala" -> None,
      "core/VersionedStore.scala" -> Some("atomicCreate"),
      "core/ListingCache.scala" -> Some("localMtimeNanos"))
    val naming = """java\.io\.File\b|java\.nio\.file\b|java\.io\.\{[^}]*\bFile\b""".r
    val defn = """\bdef\s+(\w+)""".r
    val base = "src/main/scala/graft/"
    val scanned = Seq("core", "operators", "serve", "sim").flatMap(l => sources(base + l))
    assert(scanned.size > 20, s"the scan must see the layers' sources, saw ${scanned.size}")
    val hits = for {
      f <- scanned
      rel = f.getPath.replace(File.separatorChar, '/').stripPrefix(base)
      lines = text(f).split("\n").toSeq
      defs = lines.zipWithIndex.flatMap { case (l, i) => defn.findFirstMatchIn(l).map(i -> _.group(1)) }
      (line, i) <- lines.zipWithIndex if naming.findFirstIn(line).isDefined
      // a comment names the method it documents, code the method it is in
      owner = if (line.trim.startsWith("*") || line.trim.startsWith("/")) defs.find(_._1 >= i)
        else defs.takeWhile(_._1 <= i).lastOption
      if !allowed.get(rel).exists(_.forall(m => owner.exists(_._2 == m)))
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no public method of VectorOps or QueryService takes a stageKey") {
    import scala.reflect.runtime.{universe => ru}
    val mirror = ru.runtimeMirror(getClass.getClassLoader)
    for ((obj, known) <- Seq("graft.operators.VectorOps" -> "buildVecIndex",
        "graft.serve.QueryService" -> "initVersionedDocIndex")) {
      val public = mirror.staticModule(obj).moduleClass.asClass.toType.decls
        .filter(d => d.isMethod && d.isPublic).map(_.asMethod)
      assert(public.exists(_.name.toString == known), s"$obj: $known not seen")
      val staged = public.filter(_.paramLists.flatten.exists(_.name.toString == "stageKey"))
      assert(staged.isEmpty, s"$obj: ${staged.map(_.name).mkString(", ")} take stageKey")
    }
  }
}
