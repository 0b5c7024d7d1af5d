package graft.sources

import java.io.IOException
import java.nio.file.{Files, Path}

/** Local directory helpers shared by the persisted layouts and the
  * catalogs' and tools' scratch directories.
  */
object Dirs {

  /** Recursive delete, children before parents; a missing root is a
    * no-op. Failures are swallowed per file: this runs from `finally`
    * blocks of gated queries and from retention GC, where one stray file
    * (landing between walk and delete, or an OS metadata drop-in) must
    * neither abort the cleanup of the rest nor mask the caller's real
    * result or exception.
    */
  def delete(root: Path): Unit =
    try {
      if (Files.exists(root)) {
        val st = Files.walk(root)
        try st.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach { f =>
            try Files.deleteIfExists(f)
            catch { case _: IOException => () }
          }
        finally st.close()
      }
    } catch { case _: IOException => () }

  def delete(root: String): Unit = delete(java.nio.file.Paths.get(root))

  /** Run `f` on a fresh temporary directory named `prefix…` and delete it
    * afterwards: once `scratch` returns or throws, the directory and
    * everything `f` put in it are gone, and `f`'s result or exception
    * reaches the caller unchanged. A result that still reads files under
    * the directory (a lazy DataFrame) must be materialized inside `f`.
    */
  def scratch[T](prefix: String)(f: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir) finally delete(dir)
  }
}
