package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.Serialization

/** One stored table version — "an actual database table that may or may
  * not be stored on disk yet" (/root/reference/patterns/node/node.py:84-114).
  * `schemaDdl` is recorded at commit; None before it, or in meta.json
  * written before this field existed.
  */
final case class VersionMeta(
    id: String,
    recordCount: Long,
    createdAtMs: Long,
    schemaDdl: Option[String] = None)

/** Per-table metadata document. `orderings` carries the schema roles
  * that drive streaming defaults: "monotonic" (strictly_monotonic_ordering)
  * and "created" (created_ordering) — node.py:196-204, 286-294.
  * `uniqueOn` is the upsert key (node.py:284-297).
  */
final case class TableMeta(
    name: String,
    activeVersion: Option[String],
    versions: List[VersionMeta],
    uniqueOn: List[String],
    orderings: Map[String, String],
    schemaDdl: Option[String],
    schemaHints: Map[String, String],
    addCreated: Option[String],
    addMonotonicId: Option[String],
    partitionBy: List[String],
    hashBuckets: Option[Int],
    nextSeq: Long,
    // Option so meta.json written before this field existed still parses
    clusterBy: Option[List[String]] = None)

object TableMeta {
  def fresh(name: String): TableMeta =
    TableMeta(name, None, Nil, Nil, Map.empty, None, Map.empty, None, None,
      Nil, None, 1L)
}

/** Versioned warehouse catalog (SURVEY.md §2.1 S6/S10).
  *
  * Layout: `<root>/<table>/meta.json` + `<root>/<table>/<versionId>/`
  * (a parquet directory per version). The active-version pointer lives
  * in meta.json; swaps are atomic file renames, so a crashed writer
  * never corrupts the readable state — readers always see either the
  * old or the new pointer, and version directories are immutable once
  * active (except `append`, which only ever adds part-files; a partial
  * append is the one non-atomic window, same as the reference's
  * buffered-flush).
  *
  * Single-driver design: the graph runner is one process (SURVEY.md
  * §3.1); distributed writers go through Spark jobs whose *commit* is
  * this driver-side pointer swap — the same structure a 1000-executor
  * cluster needs (executors write data files, one coordinator commits
  * metadata).
  */
final class Catalog(val root: String) {
  private implicit val formats: Formats = Serialization.formats(NoTypeHints)

  Files.createDirectories(Paths.get(root))

  private def tableDir(name: String): Path = Paths.get(root, name)
  private def metaPath(name: String): Path = tableDir(name).resolve("meta.json")

  def exists(name: String): Boolean = Files.exists(metaPath(name))

  def meta(name: String): Option[TableMeta] =
    if (!exists(name)) None
    else Some(Serialization.read[TableMeta](Files.readString(metaPath(name))))

  def metaOrFresh(name: String): TableMeta =
    meta(name).getOrElse(TableMeta.fresh(name))

  /** Atomic metadata write ([[Catalog.writeAtomic]]). */
  def putMeta(m: TableMeta): Unit =
    Catalog.writeAtomic(metaPath(m.name), Serialization.write(m))

  // Per-table lock: update() is read-modify-write on the meta file, so
  // two concurrent updates to the SAME table would lose one (reachable
  // since graph waves run independent nodes concurrently — e.g. a
  // declared producer racing an out-of-band writer). Different tables
  // never contend. Single-JVM driver is this engine's contract; a
  // multi-driver deployment would swap this for a file lease.
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(name: String): Object =
    tableLocks.computeIfAbsent(name, _ => new Object)

  def update(name: String)(f: TableMeta => TableMeta): TableMeta =
    lockFor(name).synchronized {
      val m = f(metaOrFresh(name))
      putMeta(m)
      m
    }

  /** Serialize a whole read-merge-commit WRITE CYCLE against `name`.
    *
    * `update` alone only makes individual metadata mutations atomic;
    * an upsert/append is read-active → merge → write-new-dir →
    * setActive, and two of those interleaved on the same table both
    * read the SAME base version — the later commit then silently
    * drops the earlier one's rows (classic lost update; reachable in
    * the single-JVM contract whenever a declared producer races an
    * out-of-band writer to one table). TableHandle.flush runs its
    * whole batch under this lock: writers to the same table serialize,
    * different tables never contend, and readers are unaffected (they
    * only ever see an atomic pointer). Same monitor as `update`, so
    * metadata calls inside the cycle re-enter instead of deadlocking.
    * A multi-driver deployment swaps this (with the per-table monitor)
    * for a file lease — the commit-coordination shape Iceberg/Delta
    * use at cluster scale.
    */
  def withWriteLock[T](name: String)(f: => T): T =
    lockFor(name).synchronized(f)

  /** Allocate a new (not yet active) version directory id; also used as
    * the batch sequence for the strictly-monotonic id (node.py:291-294).
    */
  def newVersion(name: String): String = {
    var id: String = null
    update(name) { m =>
      id = f"v${m.nextSeq}%08d"
      m.copy(nextSeq = m.nextSeq + 1,
        versions = m.versions :+ VersionMeta(id, 0L, System.currentTimeMillis()))
    }
    id
  }

  /** Consume one sequence number for a write batch (monotonic-id batch
    * component — node.py:291-294's strict monotonicity requires every
    * batch to get a FRESH value, version-creating or not).
    */
  def nextBatchSeq(name: String): Long = {
    var s = 0L
    update(name) { m => s = m.nextSeq; m.copy(nextSeq = m.nextSeq + 1) }
    s
  }

  def versionPath(name: String, versionId: String): String =
    tableDir(name).resolve(versionId).toString

  def activePath(name: String): Option[String] =
    meta(name).flatMap(_.activeVersion).map(v => versionPath(name, v))

  /** Point the table at `versionId` (create-or-swap; old versions are
    * retained until GC — node.py:399-405 "non-destructive"), recording
    * its row count and schema; also how an in-place write re-records
    * the active version.
    */
  def setActive(name: String, versionId: String, recordCount: Long,
      schema: StructType): Unit = {
    val ddl = TableHandle.normNull(schema).asInstanceOf[StructType].toDDL
    update(name) { m =>
      m.copy(
        activeVersion = Some(versionId),
        versions = m.versions.map(v =>
          if (v.id == versionId) v.copy(recordCount = recordCount, schemaDdl = Some(ddl))
          else v))
    }
  }

  /** reset(): pointer swap to a fresh null version; data retained
    * (node.py:216-222, 399-405).
    */
  def reset(name: String): Unit =
    update(name)(_.copy(activeVersion = None))

  /** A version's recorded schema; inferred from its files only for a
    * version written before schemas were recorded. */
  def schema(spark: SparkSession, name: String, versionId: String): StructType =
    meta(name).flatMap(_.versions.find(_.id == versionId)).flatMap(_.schemaDdl)
      .map(StructType.fromDDL)
      .getOrElse(spark.read.parquet(versionPath(name, versionId)).schema)

  /** The one read rule for a version: a parquet scan given its schema
    * (no inference job; partition columns keep their written type) over
    * `dirs`, relative to the version root, which stays the `basePath`.
    */
  def scan(spark: SparkSession, name: String, versionId: String,
      dirs: Seq[String] = Seq("")): DataFrame = {
    val root = versionPath(name, versionId)
    val s = schema(spark, name, versionId)
    if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), s)
    else spark.read.schema(s).option("basePath", root)
      .parquet(dirs.map(Paths.get(root, _).toString): _*)
  }

  def recordCount(name: String): Long = (for {
    m <- meta(name)
    a <- m.activeVersion
    v <- m.versions.find(_.id == a)
  } yield v.recordCount).getOrElse(0L)

  /** GC: delete non-active version directories older than `keepMs`.
    *
    * Interaction with hardlinked upsert chains (TableHandle's bucket-
    * pruned upsert hardlinks untouched partition files from the
    * previous version into the new one): deleting an old version's
    * directory only UNLINKS its names — a file's inode survives as
    * long as the active version still links it, so the active version
    * stays byte-identical readable while all non-shared space is
    * reclaimed (pinned by TableHandleSpec's upsert-chain vacuum test).
    * OBJECT-STORE NOTE: S3-class stores have no hardlinks; the
    * equivalent layout is a per-version MANIFEST that lists object
    * keys, where "link" = re-list the key and vacuum = delete only
    * objects referenced by NO live manifest (refcount over manifests,
    * the Iceberg/Delta GC rule). Deleting old manifests without the
    * refcount sweep would orphan shared objects; deleting objects by
    * version prefix would corrupt the active version. This local-FS
    * implementation is the hardlink specialization of that contract.
    */
  def vacuum(name: String, keepMs: Long = 0L): Seq[String] = {
    val now = System.currentTimeMillis()
    meta(name).toSeq.flatMap { m =>
      val dead = m.versions.filter(v =>
        !m.activeVersion.contains(v.id) && now - v.createdAtMs >= keepMs)
      dead.foreach { v =>
        val p = Paths.get(versionPath(name, v.id))
        if (Files.exists(p))
          Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }
      update(name)(mm => mm.copy(versions =
        mm.versions.filterNot(v => dead.exists(_.id == v.id))))
      dead.map(_.id)
    }
  }

  def listTables(): Seq[String] =
    if (!Files.exists(Paths.get(root))) Nil
    else Files.list(Paths.get(root)).iterator().asScala
      .filter(p => Files.exists(p.resolve("meta.json")))
      .map(_.getFileName.toString).toSeq.sorted
}

object Catalog {
  /** The one atomic file write: a per-thread temp file beside `path`,
    * renamed over it, so a reader sees the old file or the new one. */
  private[graft] def writeAtomic(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp-${Thread.currentThread.getId}")
    Files.writeString(tmp, text)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
