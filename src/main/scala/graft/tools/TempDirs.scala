package graft.tools

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Scratch directories of the tool mains. Each one is deleted, with its
  * contents, when the JVM exits; directories a caller passes in are never
  * registered here, so they survive.
  */
object TempDirs {
  def create(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    sys.addShutdownHook(delete(dir))
    dir.toString
  }

  private def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }
}
