package graft.streaming

/** Scratch-directory registry for stream checkpoints and staged inputs
  * (r12 — the r11 advice item: `Files.createTempDirectory` per call with
  * no cleanup accumulates unbounded temp litter across repeated
  * invocations in one JVM). Every dir created here is deleted recursively
  * by ONE shutdown hook; callers that want a durable checkpoint pass
  * their own location instead (the stream helpers' existing convention).
  */
object TempDirs {
  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private val hookInstalled = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Create a temp dir registered for JVM-exit recursive deletion. */
  def scratch(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    registered.add(p)
    if (hookInstalled.compareAndSet(false, true)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        registered.forEach(d => deleteRecursively(d))
      }, "graft-tempdir-cleanup"))
    }
    p
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => { val _ = f.toFile.delete() })
      }
    } catch { case scala.util.control.NonFatal(_) => () }
}
