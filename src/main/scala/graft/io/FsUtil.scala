package graft.io

/** Tiny filesystem helpers shared across the engine (one definition —
  * four copies of the recursive delete had already drifted in style). */
object FsUtil {
  /** Recursive delete, tolerant of races (missing children are fine). */
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** One process-wide root for per-call scratch dirs, deleted by a single
    * JVM shutdown hook (one hook per process, not one per call). */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch")
    sys.addShutdownHook(deleteRecursively(root.toFile)): Unit
    root
  }

  /** A fresh dir named `prefix…` under the process scratch root, deleted
    * at JVM exit with the root. */
  def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString
}
