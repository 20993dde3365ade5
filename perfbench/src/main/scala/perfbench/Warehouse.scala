package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.core.Catalog

/** Catalog counters read from the outside: a walk over the warehouse
  * directory after the engine has written it, no engine hooks.
  */
object Warehouse {
  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  private def inode(p: Path): Any = Files.getAttribute(p, "unix:ino")
  private def dataFiles(p: Path): Seq[Path] =
    files(p).filter(_.getFileName.toString.endsWith(".parquet"))

  /** Bytes on disk with every inode counted once (hardlinks shared
    * between versions are not double counted).
    */
  def uniqueBytes(root: String): Long =
    files(Paths.get(root)).groupBy(inode).values.map(ps => Files.size(ps.head)).sum

  /** Live rows over all tables: the record count of each active version. */
  def liveRows(root: String): Long = {
    val c = new Catalog(root)
    c.listTables().map(c.recordCount).sum
  }

  final case class TableStats(activeFiles: Int, versions: Int, metaBytes: Long)

  def tableStats(root: String, table: String): TableStats = {
    val c = new Catalog(root)
    val m = c.meta(table)
    TableStats(
      c.activePath(table).map(p => dataFiles(Paths.get(p)).size).getOrElse(0),
      m.map(_.versions.size).getOrElse(0),
      m.map(_ => Files.size(Paths.get(root, table, "meta.json"))).getOrElse(0L))
  }
}
