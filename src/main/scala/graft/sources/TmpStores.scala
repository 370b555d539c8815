package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** pid-scoped tmp stores with JVM-exit cleanup — the one shared home for
  * the walk-and-delete loop and the `<tmpdir>/<prefix>-<pid>` root
  * pattern every staging operator uses (staged IVF, pipeline publish,
  * the stream fixtures of `graft.streaming.ClaimGate`). pid scoping isolates
  * concurrent graft JVMs (Verify while Bench runs); the exit hook keeps
  * tmp from accumulating across runs.
  */
private[graft] object TmpStores {

  def deleteRecursively(path: Path): Unit =
    if (Files.exists(path)) {
      val walk = Files.walk(path)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => { try Files.delete(p) catch { case _: Exception => () } })
      finally walk.close()
    }

  // one root (and one exit hook) per prefix per JVM — repeat callers of
  // the same prefix share the memoized path instead of stacking hooks
  private val roots = scala.collection.concurrent.TrieMap.empty[String, Path]

  /** `<tmpdir>/<prefix>-<pid>`, created now, deleted on JVM exit. Also
    * sweeps same-prefix siblings left by DEAD pids: the exit hook never
    * runs on SIGKILL, so without the sweep killed runs accumulate tmp
    * dirs unboundedly. */
  def pidScopedRoot(prefix: String): Path = roots.getOrElseUpdate(prefix, {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val self = ProcessHandle.current().pid()
    val sib = (prefix + "-(\\d+)").r
    val listing = Files.list(tmp)
    try listing.forEach { d =>
      // tolerate malformed/overflowing suffixes: a bad sibling name must
      // never break root creation for the live process
      try d.getFileName.toString match {
        case sib(pid) if pid.toLong != self &&
            !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false) =>
          deleteRecursively(d)
        case _ => ()
      } catch { case _: NumberFormatException => () }
    } finally listing.close()
    val p = tmp.resolve(s"$prefix-$self")
    Files.createDirectories(p)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p)))
    p
  })
}
