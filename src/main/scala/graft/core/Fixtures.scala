package graft.core

import java.nio.file.{Files, Path, Paths}

/** On-disk fixtures of the artifact-serving queries (persisted indexes,
  * stores, whisper trees). All live under one per-JVM root,
  * `tmpdir/graft_<pid>/`, which a shutdown hook deletes, so concurrent
  * JVMs never share a fixture and none outlives its JVM.
  */
object Fixtures {

  lazy val root: String = {
    val r = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${ProcessHandle.current().pid()}")
    Files.createDirectories(r)
    // best effort: a file vanishing mid-walk must not fail JVM exit
    sys.addShutdownHook(try delete(r) catch { case _: Exception => () })
    r.toString
  }

  /** Build-once directory for `(tag, dir)`: `build` runs on an empty
    * directory unless an earlier call completed it. The marker is written
    * only after `build` returns, so a build that throws runs again on the
    * next call. Bench repeat samples therefore measure the artifact's
    * read, not its build.
    */
  def once(tag: String, dir: String)(build: String => Unit): String = synchronized {
    // stripPrefix before sanitizing: a leading "_" would make Spark's
    // file listing treat the path as hidden
    val d = Paths.get(root, tag, dir.stripPrefix("/").replaceAll("[^A-Za-z0-9.]", "_"))
    val marker = d.resolve("_GRAFT_FIXTURE_OK")
    if (!Files.exists(marker)) {
      delete(d)
      Files.createDirectories(d)
      build(d.toString)
      Files.writeString(marker, "ok")
    }
    d.toString
  }

  /** A new empty directory on every call. */
  def fresh(tag: String): String =
    Files.createTempDirectory(Paths.get(root), tag).toString

  private def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
