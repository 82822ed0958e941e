package graft

/** JVM-exit cleanup for temp trees — store roots and staged stream
  * fixtures alike (r17 review): plain `File.deleteOnExit` on a
  * directory silently never deletes a non-empty one, and parquet
  * part-file names don't exist at registration time, so no per-file
  * registration can cover a tree that is populated later. One shutdown
  * hook, recursive delete, registration idempotent per path. */
object TempDirs {

  private val registered =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      registered.forEach { root =>
        try deleteRecursively(new java.io.File(root))
        catch { case _: Throwable => () } // exit path: best effort
      }
    }, "graft-tempdir-cleanup"))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    // never follow a directory symlink: listFiles() on one lists the
    // TARGET's children, so recursing would delete files OUTSIDE the
    // registered tree (r17 review) — remove the link itself only
    if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete()
  }

  /** Create a fresh temp dir whose WHOLE TREE is removed at JVM exit. */
  def createCleaned(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    hook // register the shutdown hook once
    registered.add(dir)
    dir
  }
}
