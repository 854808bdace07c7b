package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Temp workspaces for store-building QueryDefs (persisted ANN/text indexes,
  * manifested-table lifecycles, sketch stores). A def that materializes an
  * index needs a real directory, but gate/bench runs execute every def — a
  * raw `Files.createTempDirectory` per def leaks one tree per run and the
  * accumulation is unbounded across rounds (ADVICE r13). Every main-source
  * def goes through [[scoped]], which registers the root once with a single
  * JVM shutdown hook that deletes all registered trees recursively
  * (deleteOnExit alone can't: it only removes empty directories).
  */
object TempDirs {

  private val roots = mutable.ArrayBuffer.empty[Path]

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => purgeAll()))

  /** Create a temp directory whose whole tree is removed at JVM exit. */
  def scoped(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    synchronized { hookInstalled; roots += p }
    p.toString
  }

  /** Recursively delete every registered root now (bench reps call this
    * between iterations so rep N+1 never pays for rep N's on-disk state).
    * Each root is purged independently (ADVICE r14 #3): a root that vanished
    * externally (tmpwatch) or turned unreadable mid-walk must not abort the
    * loop before `roots.clear()` — that crashed the bench rep loop and left
    * stale registrations behind.
    */
  def purgeAll(): Unit = synchronized {
    roots.foreach { p =>
      try deleteTree(p)
      catch { case NonFatal(e) => System.err.println(s"[tempdirs] purge $p: ${e.getMessage}") }
    }
    roots.clear()
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      // Files.list throws NoSuchFileException (not caught by the delete
      // guard below) if the directory vanishes between the check and the
      // walk — tolerate it: gone is the goal state.
      try {
        val s = Files.list(p)
        try s.forEach(deleteTree(_)) finally s.close()
      } catch { case _: java.io.IOException => () }
    }
    try Files.deleteIfExists(p) catch { case _: java.io.IOException => () }
  }
}
