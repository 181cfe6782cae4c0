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

  test("only core/Scratch.scala names the JVM temp directory") {
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val main = files(new File("src/main")).filter(_.getName.endsWith(".scala"))
    assert(main.size > 40, s"the scan must see the main sources, saw ${main.size}")
    val naming = main.filter(f => new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").contains("java.io.tmpdir"))
      .map(_.getPath.replace(File.separatorChar, '/'))
    assert(naming === Seq("src/main/scala/graft/core/Scratch.scala"))
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
