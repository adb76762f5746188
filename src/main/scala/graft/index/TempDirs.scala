package graft.index

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

/** Scratch directories under ONE root in the system temp dir. The root is
  * created on the first `dir` call and removed recursively by a JVM
  * shutdown hook, so a process leaves nothing behind; subdirs are named
  * `<name>-<n>` from a counter, so the root is the only directory ever
  * created in the system temp dir. */
class TempRoot(prefix: String) {
  private val seq = new AtomicLong()
  private var root: Path = _

  private def rootDir: Path = synchronized {
    if (root == null) {
      val r = Files.createTempDirectory(prefix)
      // best effort: a failure at exit has no one left to report to
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try TempDirs.deleteRecursively(r) catch { case _: Exception => }))
      root = r
    }
    root
  }

  /** A fresh, empty directory under the root. Thread-safe. */
  def dir(name: String): String =
    Files.createDirectory(rootDir.resolve(s"$name-${seq.incrementAndGet()}"))
      .toString

  /** The root, created if needed. */
  def path: Path = rootDir

  /** Remove the root and everything under it now; the next `dir` call
    * starts a new root. */
  def cleanup(): Unit = synchronized {
    if (root != null) { TempDirs.deleteRecursively(root); root = null }
  }
}

/** The per-JVM temp root every index fixture, demo and test dir lives in. */
object TempDirs extends TempRoot("graft-") {

  /** Delete a file or directory tree; a missing path is a no-op.
    * Symlinks are removed, never followed. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      scala.util.Using.resource(Files.walk(p))(
        _.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f)))
}
