package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
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
  * `uniqueOn` is the upsert key (node.py:284-297). `partitionBy` is
  * `_gr_bucket` on a hash-bucketed table, else empty; an older meta.json
  * may name another column (read, never written) or a `clusterBy` (ignored).
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
    nextSeq: Long)

object TableMeta {
  def fresh(name: String): TableMeta =
    TableMeta(name, None, Nil, Nil, Map.empty, None, Map.empty, None, None,
      Nil, None, 1L)
}

/** Versioned warehouse catalog (SURVEY.md §2.1 S6/S10).
  *
  * Layout: `<root>/<table>/meta.json` + `<root>/<table>/<versionId>/`
  * (a parquet directory per version, a `_gr_bucket=N/` directory per
  * bucket on a hash-bucketed table; reads infer any `k=v/` partition
  * directory, so an older engine's layouts still read). The
  * active-version pointer lives
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
    *
    * One size rule: when the data files under `dirs` are few and small
    * ([[Catalog.readLocal]]'s fixed bounds on files, bytes and footer
    * rows), they are read on the driver into a local relation: the same
    * rows, column order and types as the Spark scan, and no Spark job for
    * a `collect` or a filter/projection of it. Any larger scan is a Spark
    * file scan, which prunes partitions and row groups. A driver read
    * decodes only the files it has not decoded before
    * ([[Catalog.readLocal]]'s cache): a data file is never rewritten
    * under its name, so a second scan of a version, or of a version that
    * links the same files, decodes nothing.
    */
  def scan(spark: SparkSession, name: String, versionId: String,
      dirs: Seq[String] = Seq("")): DataFrame = {
    val root = versionPath(name, versionId)
    val s = schema(spark, name, versionId)
    if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), s)
    else Catalog.readLocal(spark, root, dirs, s).getOrElse(
      spark.read.schema(s).option("basePath", root)
        .parquet(dirs.map(Paths.get(root, _).toString): _*))
  }

  def recordCount(name: String): Long = (for {
    m <- meta(name)
    a <- m.activeVersion
    v <- m.versions.find(_.id == a)
  } yield v.recordCount).getOrElse(0L)

  /** GC: delete non-active version directories older than `keepMs`.
    * Under the table's write lock: a version a writer is still filling
    * is recorded inactive, and would otherwise be deleted under it.
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
  def vacuum(name: String, keepMs: Long = 0L): Seq[String] = withWriteLock(name) {
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
  /** The rows of a frame already on the driver: its optimized plan is a
    * local relation (a driver read, a batch built from rows, or a
    * filter/projection of either), which `collect` returns with no job.
    */
  private[graft] def local(df: DataFrame): Option[LocalRelation] =
    Some(df.queryExecution.optimizedPlan).collect { case r: LocalRelation => r }

  /** `df`'s rows as a driver-side iterator: a local frame's from its
    * rows (no job; `toLocalIterator` would start one per partition),
    * any other's one partition at a time.
    */
  private[graft] def drain(df: DataFrame): Iterator[Row] =
    if (local(df).isDefined) df.collect().iterator else df.toLocalIterator().asScala

  /** The size rule's bounds. A scan is read on the driver when its data
    * files number at most `LocalFiles`, total at most `LocalBytes` on
    * disk and hold at most `LocalRows` rows by their footers. They are
    * fixed, below the crossovers measured in SCALING.md ("Driver reads
    * under fixed bounds"): the driver path reads its files one after
    * another and decodes every row of each file it has not cached, so
    * from about 50–100 one-row files, or 20,000–40,000 rows in one file,
    * the Spark scan is as fast or faster. The row bound also bounds what
    * a scan decodes into the driver heap, which compressed bytes alone
    * do not. They are not the session's
    * `spark.sql.autoBroadcastJoinThreshold`: that sizes joins, and
    * raising it for them must not move large scans here.
    */
  private[graft] val LocalFiles = 32
  private[graft] val LocalBytes = 4L << 20
  private[graft] val LocalRows = 10000L

  /** The driver read cache's bound: what its entries may hold together,
    * each charged its rows' `UnsafeRow` bytes and [[EntryBytes]] for its
    * key. A fixed constant, not a setting; a file that decodes to more
    * is never cached. */
  private[graft] val CacheBytes = 32L << 20
  private val EntryBytes = 1024L

  /** Data files the driver path has decoded: every cache miss. */
  private[graft] val decodedFiles = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A data file's identity: its inode (the file key), name, size and
    * modification time. A hard link shares it; no writer reuses a name. */
  private final case class FileId(inode: AnyRef, name: String, size: Long, modified: FileTime)

  private def fileId(p: Path, a: BasicFileAttributes): Option[FileId] =
    Option(a.fileKey).map(FileId(_, p.getFileName.toString, a.size, a.lastModifiedTime))

  /** What the reader makes of a file besides its bytes: the data and
    * partition schemas, the file's partition values and the session's
    * SQL settings. */
  private final case class ReadInputs(data: StructType, partition: StructType,
      values: Seq[Any], settings: Map[String, String])

  private final case class Decoded(inputs: ReadInputs, rows: Vector[UnsafeRow], bytes: Long)

  /** Each file's decoded rows, least recently used first, within
    * [[CacheBytes]]. */
  private object cache {
    private val files = new java.util.LinkedHashMap[FileId, Decoded](64, 0.75f, true)
    private var total = 0L

    def get(id: FileId): Option[Decoded] = synchronized(Option(files.get(id)))

    def put(id: FileId, d: Decoded): Unit = synchronized {
      if (d.bytes <= CacheBytes) {
        Option(files.put(id, d)).foreach(total -= _.bytes)
        total += d.bytes
        val lru = files.values.iterator
        while (total > CacheBytes) { total -= lru.next().bytes; lru.remove() }
      }
    }

    def bytes: Long = synchronized(total)
  }

  /** What the driver read cache holds now. */
  private[graft] def cachedBytes: Long = cache.bytes

  /** The options of every footer read, built once: building them
    * builds a Hadoop `Configuration`, about 15 ms. */
  private lazy val footerOptions =
    ParquetReadOptions.builder(new PlainParquetConfiguration()).build()

  /** While true on a thread, its scans take the Spark path: how a test
    * runs one block on both paths and compares them. */
  private[graft] val sparkOnly = new scala.util.DynamicVariable(false)

  /** The data files under `dirs` of `root`, as the file index lists
    * them (hidden and `_`-prefixed names skipped, as
    * `HadoopFSUtils.shouldFilterOutPathName` skips them), with their
    * sizes, sorted by path, when they are within the size rule's bounds;
    * None once they pass one or when a directory is missing (the Spark
    * scan then reports it). Row counts are read only after the listing
    * has passed the file and byte bounds, and stop at the row bound: a
    * cached file's from the cache, any other's from its footer.
    */
  private def smallFiles(root: String,
      dirs: Seq[String]): Option[Seq[(Path, BasicFileAttributes)]] = {
    val out = ArrayBuffer.empty[(Path, BasicFileAttributes)]
    var bytes = 0L
    def walk(p: Path): Boolean = {
      val s = Files.newDirectoryStream(p)
      try s.iterator().asScala.toSeq.sorted.forall { c =>
        if (GraftShim.hiddenPath(c.getFileName.toString)) true
        else {
          val a = Files.readAttributes(c, classOf[BasicFileAttributes])
          if (a.isDirectory) walk(c)
          else { out += (c -> a); bytes += a.size; bytes <= LocalBytes && out.size <= LocalFiles }
        }
      } finally s.close()
    }
    def rows(p: Path, a: BasicFileAttributes): Long =
      fileId(p, a).flatMap(cache.get).map(_.rows.size.toLong).getOrElse {
        val in = new LocalInputFile(p)
        val s = in.newStream()
        try ParquetFileReader.readFooter(in, footerOptions, s).getBlocks.asScala.map(_.getRowCount).sum
        finally s.close()
      }
    val dirPaths = dirs.map(Paths.get(root, _))
    if (dirPaths.forall(Files.isDirectory(_)) && dirPaths.forall(walk) &&
        out.iterator.map { case (p, a) => rows(p, a) }.scanLeft(0L)(_ + _).forall(_ <= LocalRows))
      Some(out.toSeq)
    else None
  }

  /** A parquet scan of `dirs` under the version `root`, read on the
    * driver when its data files are within the size rule's bounds (and
    * the thread is not [[sparkOnly]]); None otherwise.
    *
    * It reads as the Spark scan given `schema` does: partition columns
    * and their typed values come from the file index's partition
    * inference (`GraftShim.partitions`) and follow the data columns;
    * a file goes through Spark's parquet reader
    * (`ParquetFileFormat.buildReaderWithPartitionValues`, row-returning)
    * under the session's conf, and each row is copied out through an
    * `UnsafeProjection`. The reader needs no task context and starts no
    * job.
    *
    * The cache contract. A file's decoded rows are kept, least recently
    * used first, under a fixed bound on their bytes ([[CacheBytes]]),
    * keyed by the file's identity (inode, name, size, modification
    * time) and the reader's inputs (the schemas, the file's partition
    * values, the session's SQL settings); a file that decodes to more
    * than the bound is never kept. A data file is never rewritten under
    * its name: both writers rename complete files into place under names
    * that carry a write UUID, and `truncate`, `compact`, upsert and the
    * widening append all write new names. So a kept entry is the file's
    * rows for as long as its identity holds, and an upsert's hard-linked
    * directories are read from it in the next version. The reader and
    * the projection are built only when some file is not kept.
    */
  private[graft] def readLocal(spark: SparkSession, root: String, dirs: Seq[String],
      schema: StructType): Option[DataFrame] = {
    if (sparkOnly.value) return None
    val conf = spark.sessionState.conf
    smallFiles(root, dirs).map { files =>
      SQLConf.withExistingConf(conf) {
        def hadoop(p: Path) = new HPath("file", null, p.toAbsolutePath.toString)
        val (partSchema, values) = GraftShim.partitions(spark,
          files.map(f => hadoop(f._1.getParent)).distinct, hadoop(Paths.get(root)), schema)
        val dataSchema = StructType(schema.filterNot(f =>
          partSchema.exists(p => conf.resolver(p.name, f.name))))
        // a file scan's output is nullable at every level
        val out = TableHandle.normNull(StructType(dataSchema ++ partSchema)).asInstanceOf[StructType]
        val options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false")
        lazy val reader = new ParquetFileFormat().buildReaderWithPartitionValues(spark, dataSchema,
          partSchema, dataSchema, Nil, options, spark.sessionState.newHadoopConfWithOptions(options))
        lazy val copy = UnsafeProjection.create(out)
        val settings = conf.getAllConfs
        val rows = files.flatMap { case (f, a) =>
          val value = values.getOrElse(hadoop(f.getParent), InternalRow.empty)
          val inputs = ReadInputs(dataSchema, partSchema, value.toSeq(partSchema), settings)
          val id = fileId(f, a)
          id.flatMap(cache.get).filter(_.inputs == inputs).map(_.rows).getOrElse {
            decodedFiles.incrementAndGet()
            val it = reader(PartitionedFile(value, SparkPath.fromPath(hadoop(f)), 0L, a.size,
              Array.empty[String], a.lastModifiedTime.toMillis, a.size))
            val rows = try it.map(r => copy(r).copy()).toVector
              finally it match { case c: java.io.Closeable => c.close(); case _ => }
            id.foreach(cache.put(_, Decoded(inputs, rows,
              EntryBytes + rows.iterator.map(_.getSizeInBytes.toLong).sum)))
            rows
          }
        }
        GraftShim.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(out), rows))
      }
    }
  }

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
