package graft.core

import java.nio.file.{Files, LinkOption, Path}

/** One per-JVM parent directory for throwaway stores and fixtures: every
  * directory [[dir]] hands out lives under it, and a single shutdown hook
  * deletes the whole tree when the JVM exits. Anything another process
  * reads after this JVM exits (the oracle dumps under
  * `Similarity.OracleDumpRoot`) must not be created here. */
private[graft] object Scratch {

  private lazy val parent: Path = {
    val p = Files.createTempDirectory("graft-scratch-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(p.toString)))
    p
  }

  /** A fresh directory named `prefix…` under the per-JVM parent. */
  def dir(prefix: String): String = Files.createTempDirectory(parent, prefix).toString

  /** Delete `path` and everything under it, depth first, never following a
    * symlink out of the tree. */
  def delete(path: String): Unit = {
    val p = Path.of(path)
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS))
      Option(p.toFile.listFiles()).foreach(_.foreach(f => delete(f.getPath)))
    p.toFile.delete()
    ()
  }
}
