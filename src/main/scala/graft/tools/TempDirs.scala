package graft.tools

import java.nio.file.{Files, Path}

/** The temp directories one probe run creates, deleted together at
  * the end (a scaled-corpus run stages gigabytes of parquet).
  */
private[tools] final class TempDirs {
  private val roots = scala.collection.mutable.ListBuffer.empty[Path]

  def fresh(prefix: String): String = {
    val p = Files.createTempDirectory(prefix); roots += p; p.toString
  }

  def deleteAll(): Unit = roots.foreach { r =>
    val s = Files.walk(r)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally s.close()
  }
}
