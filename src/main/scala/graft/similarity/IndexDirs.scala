package graft.similarity

import java.io.File
import java.nio.file.{Files, Paths}

/** One-shot index directories created by this JVM, all deleted by one
  * shutdown hook. Not sooner: a probe returns a LAZY DataFrame over its
  * directory and Verify runs queries concurrently, so an earlier delete
  * could pull files from under another thread's pending scan. The hook
  * is registered in the initializer: if that fails, [[create]] fails
  * with it rather than leaking every later directory.
  */
object IndexDirs {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    dirs.forEach(d => rm(new File(d)))
  }, "graft-index-dir-cleanup"))

  /** A fresh `prefix…` directory under `target/` (the system temp dir
    * without one), deleted at shutdown.
    */
  def create(prefix: String): String = {
    val base = Paths.get("target")
    val dir = (if (Files.isDirectory(base)) Files.createTempDirectory(base, prefix)
      else Files.createTempDirectory(prefix)).toString
    dirs.add(dir)
    dir
  }

  def tracked: Set[String] = scala.jdk.CollectionConverters.SetHasAsScala(dirs).asScala.toSet
}
