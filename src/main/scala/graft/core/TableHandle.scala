package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Cast,
  GenericInternalRow, InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import scala.collection.mutable.ArrayBuffer

/** The Table facade — semantics from the reference's node SDK
  * (/root/reference/patterns/node/node.py:117-414):
  * versioned reads, buffered writes flushed at execution end, upsert on
  * `unique_on` keys, replace/truncate/reset, SQL over the active
  * version, auto-created fields, inferred schema with hints.
  *
  * Scale notes: every read of a version is one parquet scan given the
  * schema the catalog recorded when the version was committed
  * (`Catalog.scan`: no schema-inference job, partition columns keep
  * their written type). One size rule splits it: a scan of a few small
  * files (fixed bounds on files, bytes and rows) is read on the
  * driver into a local relation, so collecting it, a filter or
  * projection of it, `readRecords` and a stream slice start no job; a
  * larger one is a Spark scan with pushdown and pruning. The one
  * partition layout is the key hash bucket (`init(hashBuckets = n)`);
  * a table without it is one directory. Upsert is a full-outer MERGE of
  * the batch against the buckets its keys fall in (the whole table when
  * unbucketed), writing a fresh version (atomic pointer swap — SURVEY.md
  * §7.4.3): on the driver for a driver-local batch whose directories
  * are within the size rule, key-shuffled by a Spark job otherwise. The
  * write path collects no rows to the driver that are not already there
  * (an upsert names a driver-local batch's buckets from its rows, any
  * other batch's with one distinct aggregate). Rows that are already
  * there, a frame whose optimized plan is a local relation, go the
  * other way: an append or a new version writes them on the driver with
  * Spark's own parquet writer, one file per bucket directory and no
  * Spark job (a webhook row, a response row, a merged bucket); anything
  * else is written by a Spark job.
  */
final class TableHandle(
    val spark: SparkSession,
    val catalog: Catalog,
    val name: String,
    val mode: String = "rw",
    onSignal: (String, String) => Unit = (_, _) => ()) {

  import TableHandle._

  private sealed trait Pending
  private case class PendAppend(df: DataFrame) extends Pending
  private case class PendUpsert(df: DataFrame, orderBy: Seq[Column]) extends Pending
  private val pending = ArrayBuffer.empty[Pending]

  // ---- Table.init (node.py:269-297) ----------------------------------
  /** `hashBuckets` partitions every version by a derived
    * `_gr_bucket = pmod(xxhash64(uniqueOn), n)` column, so an upsert
    * rewrites only the buckets that hold its keys (SURVEY.md §7.4.3's
    * 100 TB path). The layout is fixed by the first `init` that sets it:
    * a later `init` does not change a table's partition column.
    */
  def init(
      schema: Seq[(String, String)] = Nil,
      schemaRef: Option[String] = None,
      schemaHints: Map[String, String] = Map.empty,
      uniqueOn: Seq[String] = Nil,
      addCreated: Option[String] = None,
      addMonotonicId: Option[String] = None,
      strictlyMonotonicOrdering: Option[String] = None,
      createdOrdering: Option[String] = None,
      hashBuckets: Option[Int] = None): this.type = {
    catalog.update(name) { m =>
      val orderings = m.orderings ++
        strictlyMonotonicOrdering.map("monotonic" -> _) ++
        createdOrdering.map("created" -> _) ++
        // add_monotonic_id implies a strictly-monotonic ordering on it
        addMonotonicId.map("monotonic" -> _) ++
        addCreated.map("created" -> _)
      m.copy(
        // schema precedence: explicit field dict > named/DDL reference
        // (node.py:269-283 "a CommonModel Schema object or str name, or
        // a dictionary of field names to field types")
        schemaDdl = if (schema.nonEmpty)
          Some(CommonModel.structFromDict(schema).toDDL)
        else schemaRef.map(r => CommonModel.resolveSchema(r).toDDL)
          .orElse(m.schemaDdl),
        schemaHints = m.schemaHints ++ schemaHints,
        uniqueOn = if (uniqueOn.nonEmpty) uniqueOn.toList else m.uniqueOn,
        addCreated = addCreated.orElse(m.addCreated),
        addMonotonicId = addMonotonicId.orElse(m.addMonotonicId),
        partitionBy = if (m.partitionBy.nonEmpty) m.partitionBy
          else hashBuckets.map(_ => BucketCol).toList,
        hashBuckets = hashBuckets.orElse(m.hashBuckets),
        orderings = orderings)
    }
    this
  }

  def meta: TableMeta = catalog.metaOrFresh(name)
  def exists: Boolean = storedVersion.isDefined
  def recordCount: Long = catalog.recordCount(name)

  /** The active version, if its directory is on disk. */
  private def storedVersion: Option[String] =
    meta.activeVersion.filter(v =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(catalog.versionPath(name, v))))

  // ---- reads (node.py:141-189) ---------------------------------------
  def read: DataFrame = storedVersion match {
    case Some(v) => catalog.scan(spark, name, v)
    case None => spark.createDataFrame(java.util.Collections.emptyList[Row](), declared)
  }

  /** The columns `read` returns, from the catalog's record alone: no
    * file listing, no scan planned. (A partitioned scan lists its
    * partition columns last; look fields up by name.)
    */
  def schema: StructType = storedVersion match {
    case Some(v) => catalog.schema(spark, name, v)
    case None => declared
  }

  private def declared: StructType = StructType.fromDDL(meta.schemaDdl.getOrElse(
    throw new IllegalStateException(
      s"table '$name' has no active version and no declared schema")))

  /** Retained version ids, oldest first, with record counts — versions
    * are non-destructive (node.py:399-405) until `vacuum`.
    */
  def versions: Seq[(String, Long)] =
    catalog.meta(name).map(_.versions.map(v => (v.id, v.recordCount)))
      .getOrElse(Nil)

  /** Time-travel read of a retained (possibly non-active) version.
    * Version directories are immutable once written, so this reads
    * consistently regardless of later swaps — the audit/rollback
    * companion of the versioned catalog.
    */
  def readVersion(versionId: String): DataFrame = {
    val p = catalog.versionPath(name, versionId)
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(p)),
      s"table '$name' has no retained version '$versionId'")
    catalog.scan(spark, name, versionId)
  }

  /** records format = driver-side convenience façade only (never used on
    * the distributed path — SURVEY.md §7.4.6).
    */
  def readRecords(): Iterator[Map[String, Any]] = {
    val df = read
    val cols = df.columns
    Catalog.drain(df).map(r => cols.zipWithIndex.map {
      case (c, i) => c -> r.get(i)
    }.toMap)
  }

  /** chunksize semantics (node.py:141-154): iterator of record chunks. */
  def readChunks(chunkSize: Int): Iterator[Seq[Map[String, Any]]] =
    readRecords().grouped(chunkSize)

  /** read_dataframe alias (node.py:156-166). */
  def readDataFrame: DataFrame = read

  /** read_sql: the table is addressable by its own name (node.py:168-189). */
  def readSql(sql: String): DataFrame = {
    read.createOrReplaceTempView(name)
    spark.sql(Template.substitute(sql, Map(name -> name)))
  }

  // ---- writes (node.py:299-354, buffered per node.py:305-307,407-414) --
  def append(df: DataFrame): Unit = { requireWrite(); pending += PendAppend(df) }

  def appendRecords(records: Seq[Map[String, Any]]): Unit = append(typedRecords(records))

  /** A field null in every record takes the active version's recorded
    * type (as a webhook body's does), so it cannot widen that column. */
  private def typedRecords(records: Seq[Map[String, Any]]): DataFrame =
    inferRecords(spark, records, meta.schemaDdl, recorded)

  private def recorded: StructType =
    storedVersion.fold(new StructType())(catalog.schema(spark, name, _))

  /** The JSON object `read.drop(drop).toJSON` yields for the row that
    * `appendRecords(Seq(record))` committed, rendered on the driver, no
    * Spark job: the record is typed as `appendRecords` types it, cast to
    * the recorded column types (as the widen path casts it), laid out in
    * the scan's column order, and written by the generator and session
    * options `Dataset.toJSON` uses.
    */
  private[graft] def recordJson(record: Map[String, Any], drop: String): String = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.internal.SQLConf
    val conf = spark.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val typed = recordSchema(Seq(record), meta.schemaDdl, recorded)
      val row = CatalystTypeConverters.createToCatalystConverter(typed)(
        recordRow(typed, record)).asInstanceOf[InternalRow]
      // a partitioned scan lists the partition columns last
      val parts = meta.partitionBy
      val fields = schema.fields.filter(_.name != drop)
      val out = StructType(fields.filterNot(f => parts.contains(f.name)) ++
        parts.flatMap(p => fields.find(_.name == p)))
      val tz = Some(conf.sessionLocalTimeZone)
      val values: Array[Any] = out.fields.map { f =>
        val i = typed.fieldNames.indexOf(f.name)
        if (i < 0) null
        else {
          val t = typed(i).dataType
          Cast(Literal(row.get(i, t), t), f.dataType, tz).eval()
        }
      }
      json(spark, out, new GenericInternalRow(values))
    }
  }

  /** Insert-or-update on the `unique_on` keys (node.py:318-334).
    *
    * `orderBy`: which duplicate wins when one batch carries several rows
    * for the same key — the row with the GREATEST `orderBy` tuple is
    * kept. Without it the tie-break falls back to arrival order via
    * `monotonically_increasing_id()`, which is NOT stable under task
    * retry or AQE repartitioning (a batch merged on the driver keeps its
    * last row); pass an explicit ordering column when within-batch
    * duplicates are possible and determinism matters.
    */
  def upsert(df: DataFrame, orderBy: Seq[Column] = Nil): Unit = {
    requireWrite()
    require(meta.uniqueOn.nonEmpty, s"upsert on '$name' needs init(uniqueOn=...)")
    pending += PendUpsert(df, orderBy)
  }

  def upsertRecords(records: Seq[Map[String, Any]]): Unit = upsert(typedRecords(records))

  /** replace = reset + append: fresh version seeded with df
    * (node.py:336-345). The whole cycle is one write-lock scope so a
    * racing writer can't land between the reset and the seed append.
    */
  def replace(df: DataFrame): Unit = catalog.withWriteLock(name) {
    requireWrite(); flush(); reset(); append(df); flush()
  }

  /** truncate: destructive delete-all-rows, version and schema kept
    * (node.py:347-354).
    */
  def truncate(): Unit = catalog.withWriteLock(name) {
    requireWrite()
    pending.clear()
    meta.activeVersion.foreach { v =>
      val schema = catalog.schema(spark, name, v)
      val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      writeCounted(empty, catalog.versionPath(name, v), "overwrite")
      catalog.setActive(name, v, 0L, schema)
      onSignal(name, "update")
    }
  }

  /** reset: non-destructive pointer swap (node.py:216-222, 399-405). */
  def reset(): Unit = { catalog.reset(name); onSignal(name, "reset") }

  /** execute_sql with event-kind sniffing (node.py:356-373). */
  def executeSql(sql: String): Unit = {
    requireWrite()
    val s = Template.substitute(sql.trim, Map(name -> name))
    val lower = s.toLowerCase
    if (exists) read.createOrReplaceTempView(name)
    if (lower.startsWith("create table") || lower.startsWith("create or replace table")) {
      val asIdx = lower.indexOf(" as ")
      require(asIdx >= 0,
        s"executeSql on '$name' only supports CREATE TABLE ... AS SELECT (got: ${s.take(60)}...)")
      val select = s.substring(asIdx + 4)
      replace(spark.sql(select))                       // CTAS → new version
    } else if (lower.startsWith("insert into")) {
      val selIdx = lower.indexOf("select")
      require(selIdx >= 0,
        s"executeSql on '$name' only supports INSERT INTO ... SELECT " +
          s"(VALUES form unsupported; use append()) (got: ${s.take(60)}...)")
      val select = s.substring(selIdx)
      append(spark.sql(select)); flush()               // DML insert → append
    } else if (lower.startsWith("delete from")) {
      val whereIdx = lower.indexOf("where")
      require(whereIdx > 0, "unqualified DELETE: use truncate()")
      val pred = expr(s.substring(whereIdx + 5))
      // one write cycle, like replace; SQL deletes only the rows whose
      // predicate is TRUE, so a NULL predicate keeps its row
      catalog.withWriteLock(name) {
        flush()
        commit(read.filter(not(coalesce(pred, lit(false)))))
      }
      onSignal(name, "update")
    } else {
      spark.sql(s); onSignal(name, "update")
    }
  }

  /** Flush buffered writes (execution end or explicit — node.py:407-414). */
  def flush(): Unit = {
    if (pending.isEmpty) return
    val ops = pending.toList
    pending.clear()
    // coalesce adjacent appends into one write
    val grouped = ArrayBuffer.empty[Pending]
    ops.foreach {
      case PendAppend(df) => grouped.lastOption match {
        case Some(PendAppend(prev)) =>
          grouped(grouped.size - 1) = PendAppend(unionWiden(prev, df))
        case _ => grouped += PendAppend(df)
      }
      case u => grouped += u
    }
    // the whole batch is ONE write cycle: serialized per table so a
    // concurrent flush from another handle can't interleave its
    // read-merge-commit with ours and drop rows (Catalog.withWriteLock
    // scaladoc; CatalogSpec "interleaved upserts" pins it)
    catalog.withWriteLock(name) {
      grouped.foreach {
        case PendAppend(df) => doAppend(df)
        case PendUpsert(df, orderBy) => doUpsert(df, orderBy)
      }
    }
  }

  // ---- internals ------------------------------------------------------
  /** Every write starts here. A table an older engine partitioned on
    * another column than the bucket still reads but is never written: an
    * upsert reads only the buckets its keys fall in, so it would keep a
    * key twice. */
  private def requireWrite(): Unit = {
    require(mode.contains("w"), s"table '$name' opened read-only")
    val other = meta.partitionBy.filterNot(_ == BucketCol)
    if (other.nonEmpty) throw new UnsupportedOperationException(
      s"table '$name' is partitioned on ${other.mkString(", ")}; only the " +
        s"$BucketCol layout of init(hashBuckets = n) can be written")
  }

  private def withAutoFields(df: DataFrame, batchSeq: Long): DataFrame = {
    val m = meta
    var out = CommonModel.applyHints(df, m.schemaHints)
    m.addCreated.foreach { c =>
      if (!out.columns.contains(c)) out = out.withColumn(c, current_timestamp())
    }
    m.addMonotonicId.foreach { c =>
      if (!out.columns.contains(c))
        out = out.withColumn(c, graft.functions.Base32Fixed.monotonicId(batchSeq))
    }
    (m.hashBuckets, m.uniqueOn) match {
      case (Some(n), keys) if keys.nonEmpty && !out.columns.contains(TableHandle.BucketCol) =>
        out = out.withColumn(TableHandle.BucketCol,
          pmod(xxhash64(keys.map(col): _*), lit(n)).cast("int"))
      case _ =>
    }
    out
  }

  /** Write `df` under `path`, directory-partitioned by the table's
    * partition columns it carries, and return how many of its rows
    * satisfy `counted` (every row when None). A frame already on the
    * driver (its optimized plan is a local relation) that counts every
    * row is written by [[writeLocal]]: no Spark job, and its count is
    * its row count. Any other frame is written by a job that counts it
    * with an observation: no post-write re-read, no recompute (at 100 TB
    * a count-back would double write-path I/O; VERDICT r2 item 3). The
    * upsert's [[NewRow]] marker is dropped after it is counted.
    */
  private def writeCounted(df: DataFrame, path: String, mode: String,
      counted: Option[Column] = None): Long = {
    val parts = meta.partitionBy.filter(df.columns.contains)
    // only a frame that could take the driver path is optimized here
    val local = if (counted.nonEmpty) None else Catalog.local(df)
    local match {
      case Some(rel) =>
        writeLocal(spark, rel, path, mode, parts)
        rel.data.size.toLong
      case None =>
        val obs = org.apache.spark.sql.Observation()
        val out = df.observe(obs, count_if(counted.getOrElse(lit(true))).as("n")).drop(NewRow)
        val w = out.write.mode(mode)
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(path)
        obs.get("n").asInstanceOf[Long]
    }
  }

  private def doAppend(df: DataFrame): Unit = {
    val m = meta
    val incoming = withAutoFields(df, batchSeqFor())
    m.activeVersion match {
      case Some(v) =>
        val recorded = catalog.schema(spark, name, v)
        if (sameColumns(recorded, incoming.schema)) {
          // bucketed tables MUST append through the bucket partition or
          // the new files land flat at the version root and corrupt the
          // directory layout (writeCounted partitions every write)
          val added = writeCounted(incoming.select(recorded.fieldNames.map(col).toSeq: _*),
            catalog.versionPath(name, v), "append")
          catalog.setActive(name, v, catalog.recordCount(name) + added, recorded)
        } else {
          // widen-only schema evolution: rewrite into a fresh version
          commit(unionWiden(catalog.scan(spark, name, v), incoming))
        }
        onSignal(name, "update")
      case None =>
        commit(incoming)
        onSignal(name, "create")
    }
  }

  /** Key-shuffled MERGE: last-wins within the batch, new version, swap.
    * Determinism rule (SURVEY.md §4): within one upsert batch the
    * highest (partition, row) wins; across batches the later flush wins.
    *
    * Bucket-pruned: on a hash-bucketed table the batch's buckets are
    * named the one way the parquet writer names their directories. A
    * key's bucket is a function of the key, so every existing row of a
    * batch key sits in a bucket the batch names. Only those bucket
    * directories that exist are read and merged; every other bucket's
    * files are HARDLINKED into the new version — O(metadata), no data
    * copy. Upsert cost is then proportional to touched buckets, not
    * table size (the 100 TB requirement; on an object store the link
    * step becomes a manifest entry instead). An unbucketed table is one
    * directory, read and merged whole. The new count is the previous
    * one plus the merged rows that matched no existing key.
    *
    * Where it runs. A batch whose plan is already a local relation on
    * the driver is re-seeded from its rows (its auto-fields, e.g. the
    * created timestamp, are evaluated once) and its buckets named
    * without a job. When the directories it reads are within
    * `Catalog.scan`'s size rule, the merge runs on the driver too
    * ([[mergeRows]], the same rows as the Spark merge) and the new
    * directories are written by [[writeLocal]]: no Spark job. Any other
    * batch into a bucketed table is persisted, so the naming aggregate
    * and the merge read the same rows (a batch may carry
    * nondeterministic columns, e.g. its monotonic id), and merged by a
    * Spark job with the dedup inside the merge write, counted by an
    * observation.
    */
  private def doUpsert(df: DataFrame, orderBy: Seq[Column]): Unit = {
    val m = meta
    val keys = m.uniqueOn
    val tieBreak =
      if (orderBy.nonEmpty) orderBy.map(_.desc) // greatest tuple wins
      else Seq(monotonically_increasing_id().desc) // arrival order (nondeterministic under retry)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(tieBreak: _*)
    def deduped(batch: DataFrame): DataFrame =
      batch.withColumn("_gr_rn", row_number().over(w))
        .filter(col("_gr_rn") === 1).drop("_gr_rn")
    val batch = withAutoFields(df, batchSeqFor())
    storedVersion match {
      case None =>
        commit(deduped(batch))
        onSignal(name, "create")
      case Some(old) =>
        val parts = m.partitionBy
        val oldPath = catalog.versionPath(name, old)
        val present = partitionDirs(oldPath, parts.size)
        val local = Catalog.local(batch).map(GraftShim.ofRows(spark, _))
        def merge(incoming: DataFrame, touched: Set[String]): Unit = {
          val existing = catalog.scan(spark, name, old, present.filter(touched))
          val base = catalog.recordCount(name)
          val link = linkDirs(oldPath, _: String, present.filterNot(touched))
          val onDriver = if (local.isEmpty || Catalog.local(existing).isEmpty) None
            else mergeRows(existing, incoming, orderBy, keys)
          onDriver match {
            case Some((out, rows, added)) =>
              commitWith(out, base, link) { path =>
                writeLocal(spark, LocalRelation(DataTypeUtils.toAttributes(out), rows),
                  path, "overwrite", parts.filter(out.fieldNames.contains))
                added
              }
            case None =>
              commit(mergeFrames(existing, deduped(incoming), keys),
                counted = Some(col(NewRow)), base = base, link = link)
          }
        }
        // each bucket cast to string in Spark, as the writer names it
        val values = (rows: DataFrame) => rows.select(parts.map(col(_).cast("string")): _*)
        def named(rows: Array[Row]): Set[String] =
          rows.map(r => partitionDir(parts, parts.indices.map(r.getString))).toSet
        if (parts.isEmpty) merge(local.getOrElse(batch), present.toSet)
        else local match {
          case Some(l) =>
            // a projection of a local relation is collected with no job
            merge(l, named(values(l).collect()))
          case None =>
            val pinned = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try merge(pinned, named(values(pinned).distinct().collect()))
            finally pinned.unpersist()
        }
        onSignal(name, "update")
    }
  }

  /** The Spark merge of `incoming` into `existing` computed on the
    * driver from the two frames' local rows: the merge's schema, the rows
    * it writes and how many of them matched no existing key; None when a
    * projection of them does not fold to local rows. Both sides are cast
    * to the merge's schema first, as its join and `coalesce` cast them.
    * The semantics are the Spark merge's:
    *  - in-batch dedup as the window runs it: one row per key (NULL
    *    keys group together, floats compare as `NormalizeFloatingNumbers`
    *    normalizes them), the greatest `orderBy` tuple winning (Spark's
    *    ordering, a NULL lowest), else the last row;
    *  - the full outer join: a NULL key component never matches; a
    *    match takes each incoming value that is not NULL, else the
    *    existing one, and the existing key;
    *  - unmatched rows of either side are kept as they are.
    */
  private def mergeRows(existing: DataFrame, incoming: DataFrame, orderBy: Seq[Column],
      keys: Seq[String]): Option[(StructType, Seq[InternalRow], Long)] = {
    // the in-batch dedup keeps the schema, so it is left out of this plan
    val out = mergeFrames(existing, incoming, keys).drop(NewRow).schema
    def aligned(df: DataFrame, extra: Seq[Column]) = Catalog.local(df.select(out.fields.map { f =>
      (if (df.columns.contains(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
    }.toSeq ++ extra: _*))
    val n = out.length
    for {
      e <- aligned(existing, Nil)
      i <- aligned(incoming, keys.zipWithIndex.map { case (k, j) => col(k).as(s"_gr_k$j") } ++
        orderBy.zipWithIndex.map { case (c, j) => c.as(s"_gr_o$j") })
    } yield {
      val types = i.output.map(_.dataType)
      val byOrder = ascending(n + keys.size until types.size, types)
      val group = keyOf(n until n + keys.size, types)
      val winners = scala.collection.mutable.LinkedHashMap.empty[UnsafeRow, InternalRow]
      i.data.foreach { r =>
        val k = group(r).copy()
        if (winners.get(k).forall(w => !byOrder.lt(r, w))) winners(k) = r
      }
      val ko = keys.map(out.fieldIndex)
      val matchKey = keyOf(ko, types)
      val unkeyed = (r: InternalRow) => ko.exists(r.isNullAt)
      val byKey = winners.values.filterNot(unkeyed).toSeq.groupBy(matchKey(_).copy())
      val matched = scala.collection.mutable.Set.empty[UnsafeRow]
      def row(f: Int => Any): InternalRow = new GenericInternalRow(Array.tabulate(n)(f))
      val rows = ArrayBuffer.empty[InternalRow]
      e.data.foreach { old =>
        val hits = if (unkeyed(old)) None else {
          val k = matchKey(old)
          byKey.get(k).map { ws => matched += k.copy(); ws }
        }
        hits match {
          case None => rows += old
          case Some(ws) => ws.foreach { w =>
            rows += row { j =>
              val t = types(j)
              val (first, second) = if (ko.contains(j)) (old, w) else (w, old)
              if (first.isNullAt(j)) second.get(j, t) else first.get(j, t)
            }
          }
        }
      }
      val added = winners.values.filter(w => unkeyed(w) || !matched(matchKey(w))).map { w =>
        rows += row(j => w.get(j, types(j)))
      }.size
      (out, rows.toSeq, added.toLong)
    }
  }

  /** Full-outer merge on `keys`, incoming values winning; [[NewRow]]
    * marks the rows that matched no existing key. */
  private def mergeFrames(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String]): DataFrame = {
    val dataCols = (existing.columns ++ incoming.columns).distinct
      .filterNot(keys.contains)
    val e = existing.withColumn("_gr_old", lit(true)).alias("e")
    val i = incoming.alias("i")
    e.join(i, keys, "full_outer").select(
      keys.map(col) ++ dataCols.map { c =>
        val inI = incoming.columns.contains(c)
        val inE = existing.columns.contains(c)
        if (inI && inE) coalesce(col(s"i.$c"), col(s"e.$c")).as(c)
        else if (inI) col(s"i.$c").as(c)
        else col(s"e.$c").as(c)
      } :+ col("e._gr_old").isNull.as(NewRow): _*)
  }

  /** Bin-pack the active version's data files into ~`targetFileBytes`
    * outputs as a NEW version (atomic swap; the old version's files are
    * retained until vacuum). Fixes the many-small-files tax of frequent
    * appends — per-file open/footer overhead and tiny row groups.
    * A bucketed table ends with one file per bucket directory; an
    * unbucketed one coalesces (narrow, no shuffle). Already-packed
    * tables (file count <= target) are a NO-OP. One write cycle under
    * the table's write lock, like a flush. Purely physical: record data
    * is unchanged, so NO update signal is emitted (downstream consumers
    * must not re-trigger) — but a DataFrame read before the compact
    * keeps scanning the old version dir and will not see post-compact
    * appends (a stream cursor re-resolves the active version on every
    * read).
    * Returns the new version id, None when nothing was rewritten.
    */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024): Option[String] =
    catalog.withWriteLock(name) {
      requireWrite()
      flush()
      catalog.activePath(name)
        .map(java.nio.file.Paths.get(_))
        .filter(java.nio.file.Files.exists(_))
        .flatMap { path =>
          import scala.jdk.CollectionConverters._
          val sizes = java.nio.file.Files.walk(path).iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(java.nio.file.Files.size(_)).toList
          val nFiles = math.max(1, math.ceil(sizes.sum.toDouble / targetFileBytes).toInt)
          if (sizes.length <= nFiles) None // already packed: skip the rewrite
          else {
            val df = read
            val parts = meta.partitionBy.filter(df.columns.contains)
            val packed =
              if (parts.nonEmpty) // each bucket's rows in one task → one file
                df.repartition(nFiles, parts.map(col): _*)
              else df.coalesce(nFiles) // narrow: no shuffle
            Some(commit(packed))
          }
        }
    }

  /** The one commit sequence, shared by full writes, upsert and
    * compaction: allocate a version, write `df` into it, run `link` on
    * the new directory, then activate it with its schema and a record
    * count of `base` plus the written rows that satisfy `counted` (all
    * of them when None).
    */
  private def commit(df: DataFrame, counted: Option[Column] = None, base: Long = 0L,
      link: String => Unit = _ => ()): String =
    commitWith(df.drop(NewRow).schema, base, link)(writeCounted(df, _, "overwrite", counted))

  /** [[commit]]'s sequence around any `write` of the new version's
    * directory that returns its counted rows. */
  private def commitWith(schema: StructType, base: Long, link: String => Unit)(
      write: String => Long): String = {
    val v = catalog.newVersion(name)
    val path = catalog.versionPath(name, v)
    val n = write(path)
    link(path)
    catalog.setActive(name, v, base + n, schema)
    v
  }

  /** One fresh sequence per write batch: in-place appends previously
    * reused meta.nextSeq without advancing it, so consecutive appends
    * minted COLLIDING monotonic ids (same batch component, row numbers
    * restarting at zero). Version ids share the sequence and need not
    * be contiguous. */
  private def batchSeqFor(): Long = catalog.nextBatchSeq(name)
}

object TableHandle {
  import scala.jdk.CollectionConverters._

  /** Derived hash-bucket partition column (init(hashBuckets=…)). */
  val BucketCol = "_gr_bucket"

  /** Upsert's merge marker: true on rows that matched no existing key. */
  private[core] val NewRow = "_gr_new"

  /** The directory the parquet writer gives a row with these partition
    * values (each the value cast to string in Spark; null and empty
    * become the Hive default-partition sentinel), relative to the
    * version root; "" for an unpartitioned table.
    */
  private[core] def partitionDir(parts: Seq[String], values: Seq[String]): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    parts.zip(values).map { case (p, v) =>
      ExternalCatalogUtils.getPartitionPathString(p, v) }.mkString("/")
  }

  /** The partition directories a version holds, relative to its root:
    * the `k=v/...` paths `nParts` deep; the root ("") alone when the
    * table is unpartitioned.
    */
  private[core] def partitionDirs(root: String, nParts: Int): Seq[String] =
    if (nParts == 0) Seq("")
    else {
      val r = java.nio.file.Paths.get(root)
      val s = java.nio.file.Files.walk(r, nParts)
      try s.iterator().asScala
        .filter(java.nio.file.Files.isDirectory(_))
        .map(r.relativize)
        .filter(rel => rel.getNameCount == nParts &&
          rel.iterator().asScala.forall(_.toString.contains("=")))
        .map(_.toString).toList
      finally s.close()
    }

  /** Hardlink every data file under the `dirs` of `oldPath` into the
    * same relative location under `newPath`.
    */
  private[core] def linkDirs(oldPath: String, newPath: String, dirs: Seq[String]): Unit = {
    val root = java.nio.file.Paths.get(oldPath)
    val dest = java.nio.file.Paths.get(newPath)
    dirs.foreach { d =>
      val s = java.nio.file.Files.walk(root.resolve(d))
      try s.iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet"))
        .foreach { f =>
          val target = dest.resolve(root.relativize(f))
          java.nio.file.Files.createDirectories(target.getParent)
          java.nio.file.Files.createLink(target, f)
        }
      finally s.close()
    }
  }

  /** Write the driver-resident rows of `rel` into the parquet directory
    * `dir` the way a Spark write job would, without one: the checks the
    * file write runs on its columns, `ParquetFileFormat.prepareWrite`
    * under the session's conf, then, in each partition directory, one
    * `part-00000-<uuid>-c<n>` file per `spark.sql.files.maxRecordsPerFile`
    * rows (one file when unset, also for no rows). `parts` are the
    * partition columns: each row goes to the `k=v/...` directory the
    * writer names from its values cast to string, and its other columns
    * to the file. Each file is written under a hidden in-progress name
    * and renamed into place with its checksum, so a listing never sees a
    * partial file. `mode` is the save mode, "append" or "overwrite". No
    * committer runs, so no `_SUCCESS` marker is written.
    */
  private[core] def writeLocal(spark: SparkSession, rel: LocalRelation, dir: String,
      mode: String, parts: Seq[String] = Nil): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.internal.SQLConf
    val conf = spark.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val schema = rel.schema
      val format = new ParquetFileFormat
      GraftShim.checkColumnNameDuplication(schema.fieldNames.toSeq, conf.caseSensitiveAnalysis)
      DataSource.validateSchema(format.toString, schema, conf)
      if (parts.nonEmpty)
        GraftShim.validatePartitionColumns(schema, parts, conf.caseSensitiveAnalysis)
      val data = schema.fields.indices.filterNot(i => parts.contains(schema(i).name))
      val dataSchema = StructType(data.map(schema(_)))
      DataSourceUtils.verifySchema(format, dataSchema)
      DataSourceUtils.checkFieldNames(format, dataSchema)
      val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(Map.empty))
      val factory = format.prepareWrite(spark, job, Map.empty, dataSchema)
      val task = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID("graft", 0, TaskType.MAP, 0, 0))
      val root = new Path(dir)
      val fs = root.getFileSystem(job.getConfiguration)
      if (mode == "overwrite") { fs.delete(root, true); fs.mkdirs(root) }
      val bound = (i: Int) => BoundReference(i, schema(i).dataType, schema(i).nullable)
      val toFile = UnsafeProjection.create(data.map(bound))
      val tz = Some(conf.sessionLocalTimeZone)
      val names = UnsafeProjection.create(parts.map(p =>
        Cast(bound(schema.fieldIndex(p)), StringType, tz)))
      val byDir =
        if (parts.isEmpty) Seq("" -> rel.data)
        else rel.data.groupBy { r =>
          val v = names(r)
          partitionDir(parts, parts.indices.map(i => Option(v.getUTF8String(i)).map(_.toString).orNull))
        }.toSeq.sortBy(_._1)
      val max = conf.maxRecordsPerFile
      val uuid = java.util.UUID.randomUUID()
      byDir.foreach { case (sub, all) =>
        val target = if (sub.isEmpty) root else new Path(root, sub)
        val files = if (max > 0 && all.size > max) all.grouped(max.toInt) else Iterator(all)
        files.zipWithIndex.foreach { case (rows, i) =>
          val name = f"part-00000-$uuid-c$i%03d${factory.getFileExtension(task)}"
          val tmp = new Path(target, s".$name.inprogress")
          try {
            val w = factory.newInstance(tmp.toString, dataSchema, task)
            try rows.foreach(r => w.write(toFile(r))) finally w.close()
            if (!fs.rename(tmp, new Path(target, name)))
              throw new java.io.IOException(s"could not rename $tmp into $target")
          } catch { case e: Throwable => fs.delete(tmp, false); throw e }
        }
      }
    }
  }

  /** `row` of `schema` as `Dataset.toJSON` writes it: Spark's
    * `JacksonGenerator` with the default options in the session's time
    * zone, on the driver. */
  private[graft] def json(spark: SparkSession, schema: StructType, row: InternalRow): String = {
    import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
    val writer = new java.io.CharArrayWriter()
    val gen = new JacksonGenerator(schema, writer,
      new JSONOptions(Map.empty[String, String], spark.sessionState.conf.sessionLocalTimeZone))
    gen.write(row)
    gen.flush()
    writer.toString
  }

  /** Spark's ascending order of rows by the columns at `ordinals` of a
    * row of `types`, as a sort compares them: NULLS FIRST, strings by
    * their UTF-8 bytes, NaN above every number. */
  private[graft] def ascending(ordinals: Seq[Int], types: Seq[DataType]): InterpretedOrdering =
    new InterpretedOrdering(ordinals.map(j =>
      SortOrder(BoundReference(j, types(j), nullable = true), Ascending)))

  /** Each row's key at `ordinals`, as a join, a window or an aggregate
    * compares keys: floats normalized (`NormalizeFloatingNumbers`: one
    * NaN, -0.0 as 0.0), held as `UnsafeRow` bytes, so equal keys are
    * equal rows (NULLs included). The returned row is reused per call.
    */
  private def keyOf(ordinals: Seq[Int], types: Seq[DataType]): InternalRow => UnsafeRow = {
    val p = UnsafeProjection.create(ordinals.map(j =>
      GraftShim.normalizeFloats(BoundReference(j, types(j), nullable = true))))
    p(_)
  }

  /** Nullability-normalized type: parquet reads arrays/maps/structs
    * back with nullable elements (`containsNull=true`) even when the
    * writing frame declared them non-null, so any schema comparison
    * between a stored version and a fresh incoming frame MUST ignore
    * nullability at every nesting level — before this normalization,
    * the second append of an `array<bigint>` column silently collapsed
    * it to StringType via the widen path (found by the round-11
    * streaming scale probe: the near-dup index's `sig` column).
    */
  private[core] def normNull(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(normNull(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(normNull(k), normNull(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = normNull(f.dataType), nullable = true)))
    case other => other
  }

  private[core] def sameColumns(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, normNull(f.dataType))).sortBy(_._1).sameElements(
      b.fields.map(f => (f.name, normNull(f.dataType))).sortBy(_._1))

  /** Widen-only union: missing columns become nulls; numeric types are
    * promoted (int→long→double); arrays widen element-wise;
    * incompatible types promote to string (SURVEY.md §7.4.4).
    */
  private[core] def unionWiden(a: DataFrame, b: DataFrame): DataFrame = {
    val types = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    (a.schema.fields ++ b.schema.fields).foreach { f =>
      types(f.name) = types.get(f.name) match {
        case None => f.dataType
        case Some(t) => widen(t, f.dataType)
      }
    }
    def aligned(df: DataFrame): DataFrame =
      df.select(types.map { case (n, t) =>
        (if (df.columns.contains(n)) col(n).cast(t) else lit(null).cast(t)).as(n)
      }.toSeq: _*)
    aligned(a).unionByName(aligned(b))
  }

  private[core] def widen(x: DataType, y: DataType): DataType =
    if (normNull(x) == normNull(y)) normNull(x)
    else (x, y) match {
      case (a, b) if num(a) && num(b) =>
        if (rank(a) >= rank(b)) a else b
      case (ArrayType(ex, _), ArrayType(ey, _)) =>
        ArrayType(widen(ex, ey), containsNull = true)
      case _ => StringType
    }
  private def num(t: DataType) = rank(t) >= 0
  private def rank(t: DataType): Int = t match {
    case ByteType => 0; case ShortType => 1; case IntegerType => 2
    case LongType => 3; case FloatType => 4; case DoubleType => 5
    case _ => -1
  }

  /** Schema inference from records (node.py:303-304 "If not provided the
    * schema will be inferred"): union of keys, widen-only value types. A
    * field that is null in every record takes its type in `recorded`,
    * else string.
    */
  def inferRecords(
      spark: SparkSession,
      records: Seq[Map[String, Any]],
      declaredDdl: Option[String],
      recorded: => StructType = new StructType()): DataFrame = {
    val schema = recordSchema(records, declaredDdl, recorded)
    spark.createDataFrame(records.map(recordRow(schema, _)).asJava, schema)
  }

  private def recordSchema(records: Seq[Map[String, Any]],
      declaredDdl: Option[String], recorded: => StructType): StructType =
    declaredDdl.map(StructType.fromDDL).getOrElse {
      val types = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
      records.foreach(_.foreach { case (k, v) =>
        val t = typeOf(v)
        types(k) = types.get(k) match {
          case None | Some(NullType) => t
          case Some(prev) if t == NullType => prev
          case Some(prev) => widen(prev, t)
        }
      })
      lazy val known = recorded
      StructType(types.map { case (n, t) =>
        StructField(n, if (t != NullType) t
          else known.find(_.name == n).fold(StringType: DataType)(_.dataType))
      }.toSeq)
    }

  private def recordRow(schema: StructType, r: Map[String, Any]): Row =
    Row.fromSeq(schema.fields.toSeq.map(f => coerce(r.get(f.name).orNull, f.dataType)))

  private def typeOf(v: Any): DataType = v match {
    case null => NullType
    case _: Boolean => BooleanType
    case _: Byte | _: Short | _: Int | _: Long => LongType
    case _: Float | _: Double => DoubleType
    case _: java.sql.Timestamp | _: java.time.Instant => TimestampType
    case _: java.sql.Date | _: java.time.LocalDate => DateType
    case _: Array[Byte] => BinaryType
    case _: BigDecimal => DecimalType(38, 9)
    case _ => StringType
  }

  private def coerce(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (x: Int, LongType) => x.toLong
    case (x: Byte, LongType) => x.toLong
    case (x: Short, LongType) => x.toLong
    case (x: Float, DoubleType) => x.toDouble
    case (x: Int, DoubleType) => x.toDouble
    case (x: Long, DoubleType) => x.toDouble
    case (x: java.time.Instant, TimestampType) => java.sql.Timestamp.from(x)
    case (x: java.time.LocalDate, DateType) => java.sql.Date.valueOf(x)
    case (x: BigDecimal, DecimalType()) => x.bigDecimal
    case (x, StringType) if !x.isInstanceOf[String] => x.toString
    case (x, _) => x
  }
}

/** `{{ }}` template substitution shared by SQL nodes and read_sql
  * (/root/reference/patterns/cli/commands/create.py:239-244).
  */
object Template {
  private val ref = raw"\{\{\s*([A-Za-z0-9_.]+)\s*\}\}".r

  /** Replace `{{ name }}` with the mapped replacement (a view name) and
    * `{{ param }}` with a SQL literal when given in `params`.
    */
  def substitute(
      sql: String,
      tables: Map[String, String],
      params: Map[String, Any] = Map.empty): String =
    ref.replaceAllIn(sql, m => {
      val key = m.group(1)
      tables.get(key)
        .orElse(params.get(key).map(literal))
        .getOrElse(throw new IllegalArgumentException(
          s"unbound template reference '{{ $key }}'"))
        .replace("\\", "\\\\").replace("$", "\\$")
    })

  def literal(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case d: java.sql.Date => s"DATE '$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case other => other.toString
  }
}
