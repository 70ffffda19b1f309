package graft.ops

import java.nio.file.{Files, Path, Paths}

/** Self-cleaning temp dirs: every dir graft creates for fixtures,
  * indexes, stream scratch or sinks is created here and recursively
  * deleted on JVM exit. A long-lived host running repeated Bench/Verify
  * JVMs otherwise accumulates them unboundedly (found live: six 1.7 GB
  * zillow input fixtures from one afternoon of sf100 draws drove the
  * disk to 95% and killed a staging job). [[Staged]] memos keep working:
  * the hook runs at JVM exit, never between queries. */
object TempDirs {

  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private lazy val installHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach(p => delete(p))
    }, "graft-tempdir-cleanup"))

  private def delete(p: Path): Unit = try {
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach { q =>
        try { Files.deleteIfExists(q); () } catch { case _: Throwable => () }
      } finally walk.close()
    }
  } catch { case scala.util.control.NonFatal(_) => () }

  /** Create a tracked temp dir under java.io.tmpdir. */
  def tempDir(prefix: String): String =
    tempDir(Paths.get(System.getProperty("java.io.tmpdir")), prefix).toString

  /** Create a tracked temp dir under `parent`, creating `parent` if absent. */
  def tempDir(parent: Path, prefix: String): Path = {
    installHook
    Files.createDirectories(parent)
    val p = Files.createTempDirectory(parent, prefix)
    dirs.add(p)
    p
  }
}
