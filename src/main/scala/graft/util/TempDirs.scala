package graft.util

import java.nio.file.{Files, Path}

/** Process-scoped scratch directories for queries that stage through
  * the local filesystem (n18's index table, the t-family's stage/log
  * dirs, s3's jsonl fixture). Each one is registered here and
  * recursively deleted by ONE JVM shutdown hook, so runs leave no
  * staging behind. Derived state meant to outlive the process goes
  * through [[Artifacts]] instead.
  */
object TempDirs {
  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread("graft-tempdir-cleanup") {
      override def run(): Unit = {
        registered.forEach { p =>
          try deleteRecursively(p)
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    })

  private[util] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.forEach(deleteRecursively(_)) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** A fresh temp directory deleted (recursively) at JVM exit. */
  def scratch(prefix: String): String = {
    hook
    val p = Files.createTempDirectory(prefix)
    registered.add(p)
    p.toString
  }
}
