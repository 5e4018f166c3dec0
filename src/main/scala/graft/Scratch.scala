package graft

import java.io.File
import java.nio.file.{Files, Path}

/** Scratch directories. This is the one place in `src/main` that makes
  * temp dirs, deletes file trees and registers deletion at JVM exit:
  * a dir from [[dir]] lives under `java.io.tmpdir` until its owner
  * calls [[delete]], or until the JVM exits, whichever comes first.
  */
object Scratch {

  /** Dirs from [[dir]] not yet deleted; one shutdown hook removes them. */
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  sys.addShutdownHook(live.forEach(p => deleteTree(p.toFile)))

  /** A fresh directory named `prefix…` under `java.io.tmpdir`. */
  def dir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    live.add(p)
    p
  }

  /** Delete the tree at `p` now (a no-op when absent). Symbolic links
    * are removed, never followed.
    */
  def delete(p: Path): Unit = {
    deleteTree(p.toFile)
    live.remove(p)
  }

  private def deleteTree(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
