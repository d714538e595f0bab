package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Temporary directories deleted, with everything in them, when the JVM
  * exits. Scenario queries keep their tables, checkpoints and staged
  * parquet in them while the JVM runs; results are written elsewhere
  * before exit, so no reader loses its inputs. The deletion runs from
  * Hadoop's shutdown hook manager below the priority at which Spark
  * stops its context, so no running query still writes into them. */
object TempDirs {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private lazy val hook: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => made.forEach(deleteTree), 35)

  /** A fresh directory under `java.io.tmpdir` named from `prefix`. */
  def create(prefix: String): Path = {
    hook
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  /** Deletes `dir` and its contents, children first; symlinks are
    * removed, not followed. Best effort: a file that cannot go stays. */
  private def deleteTree(dir: Path): Unit =
    try {
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => try Files.deleteIfExists(p) catch { case _: java.io.IOException => () })
      finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
}
