package graft.core

import java.io.File
import java.util.UUID

/** The one owner of transient disk space: every directory the engine
  * writes outside its caller's own paths comes from here, with one of three
  * lifetimes.
  *
  *   - [[durable]]: a named root under `${tmpdir}/graft-scratch` that other
  *     processes share on purpose: the serving indexes (`serve/`), the
  *     snapshot tables (`snapshots/`) and the scaled datasets (`scale/`).
  *     It outlives the JVM, so its name must change whenever its content
  *     would. Anything else directly under `graft-scratch` was left by
  *     earlier code and is deleted by this JVM's first durable call.
  *   - [[run]]: a fresh directory under this JVM's run root,
  *     `${tmpdir}/graft-run/<pid>-<token>`, for outputs that a returned
  *     DataFrame reads lazily. One shutdown hook deletes the run root; a
  *     JVM that was killed runs no hook, so the first call also deletes the
  *     run roots of processes that are no longer alive.
  *   - [[scoped]]: a fresh directory deleted when its body returns or
  *     throws.
  *
  * `tmp` is the base directory; the engine's one instance is [[Scratch$]].
  */
class Scratch private[graft] (tmp: String) {

  private val runs = new File(tmp, "graft-run")
  private val pid = ProcessHandle.current().pid()

  private val durableKinds = Set("serve", "snapshots", "scale")

  private lazy val sweptLegacy: Unit =
    Option(new File(tmp, "graft-scratch").listFiles()).getOrElse(Array.empty[File])
      .filterNot(f => durableKinds(f.getName)).foreach(delete)

  /** `${tmpdir}/graft-scratch/<name>`, shared across processes and runs;
    * `name` starts with one of the durable kinds (`serve/`, `snapshots/`,
    * `scale/`).
    */
  def durable(name: String): String = {
    require(durableKinds(name.takeWhile(_ != '/')),
      s"durable root '$name' is outside ${durableKinds.mkString("/, ")}/")
    sweptLegacy
    s"$tmp/graft-scratch/$name"
  }

  private lazy val runRoot: File = {
    // a live pid owns one root; any other root under its number was left
    // by an earlier process that had the same pid
    Option(runs.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      f.getName.takeWhile(_ != '-').toLongOption.foreach { owner =>
        if (owner == pid || !ProcessHandle.of(owner).isPresent) delete(f)
      }
    }
    val root = new File(runs, s"$pid-${UUID.randomUUID().toString.take(8)}")
    root.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      delete(root)
      runs.delete(): Unit // only succeeds once no other run root is left
    }))
    root
  }

  /** A fresh `<runRoot>/<name>_<uuid>` (not created), deleted at JVM exit. */
  def run(name: String): String = s"${runRoot.getPath}/${name}_${UUID.randomUUID()}"

  /** Run `body` on a fresh directory (not created) that is deleted when
    * `body` returns or throws.
    */
  def scoped[T](name: String)(body: String => T): T = {
    val dir = run(name)
    try body(dir) finally delete(new File(dir))
  }

  private def delete(f: File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}

object Scratch extends Scratch(System.getProperty("java.io.tmpdir"))
