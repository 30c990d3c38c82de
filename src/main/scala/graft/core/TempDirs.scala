package graft.core

import java.nio.file.{Files, Path}

/** JVM-exit cleanup for throwaway on-disk artifacts (one-shot IVF indexes,
  * memoized per-process state stores). Frames returned to callers may still
  * read from these directories, so they cannot be deleted eagerly — but a
  * long-lived host process repeatedly creating one-shot indexes must not
  * leak disk across invocations. `File.deleteOnExit` cannot remove
  * non-empty directories; this hook walks them. */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    dirs.forEach { p =>
      try deleteRecursively(p)
      catch { case _: Exception => () } // best-effort on exit
    }
  }, "graft-tempdir-cleanup"))

  /** Register `p` for recursive deletion at JVM exit; returns `p`. */
  def register(p: Path): Path = { dirs.add(p); p }

  /** A fresh temp directory named `prefix…`, registered for deletion at
    * JVM exit; returns its path. */
  def create(prefix: String): String =
    register(Files.createTempDirectory(prefix)).toString

  /** Recursively delete `p` if it exists — THE one copy of the walk/
    * reverse-order/delete routine (index compaction, store vacuum and
    * stream staging all need it; a behavior fix lands once). */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => { Files.deleteIfExists(q); () })
      finally w.close()
    }
}
