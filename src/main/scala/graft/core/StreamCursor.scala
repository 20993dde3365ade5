package graft.core

import org.apache.spark.sql.{DataFrame, GraftShim, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Ordered exactly-once stream cursor over a Table
  * (/root/reference/patterns/node/node.py:18-81, 191-214):
  * consuming yields records strictly greater than the persisted offset
  * in `orderBy` order; *yielding marks consumed* (in-memory offset
  * advances per record); `checkpoint` persists mid-run; `rollback`
  * restores the last persisted offset; `rewind` restarts from the
  * beginning; `seek(v)` continues strictly after `v`. Progress is keyed
  * by (node, table, ordering) so "a table may have multiple
  * simultaneous streams with different orderings" (node.py:196-198).
  * A cursor a node opened also persists when its run returns normally
  * (`NodeContext`, "end-of-execution auto-persists"); a run that throws
  * persists nothing.
  *
  * Scale: the incremental slice is expressed as a pushdown-friendly
  * `col(orderBy) > offset` filter *before* the scan, so parquet
  * row-group stats prune old data; the sort only orders the new tail.
  * A table within `Catalog.scan`'s size rule is read on the driver, and
  * so is its slice: `records()`, `consumeRows()` and `batch()` then
  * sort it or take its bound there and start no job. Over a larger
  * table `df()` and `batch()` stay distributed (a global sort and an
  * unsorted slice) for consumers that process the slice as a
  * DataFrame, and `records()` and `consumeRows()`, which drain it to
  * the driver anyway, read it as one sorted partition: one job, no
  * range-sampling job and no shuffle ahead of the iterator. Until files
  * carry statistics, the slice reads every file of the active version,
  * so a 1-row slice costs more as the table's history grows.
  */
final class StreamCursor(
    table: TableHandle,
    state: State,
    orderBy: String,
    startingValue: Option[Any] = None) {

  private val stateKey = s"stream:${table.name}:$orderBy"

  /** offset persisted as string + recovered through the column type. */
  private var persisted: Option[String] =
    state.get(stateKey).map(_.toString).orElse(startingValue.map(_.toString))
  private var current: Option[String] = persisted

  private def orderCol: StructField =
    table.schema.find(_.name == orderBy).getOrElse(
      throw new IllegalArgumentException(
        s"stream ordering column '$orderBy' not in table '${table.name}'"))

  private def offsetLit(v: String): org.apache.spark.sql.Column =
    lit(v).cast(orderCol.dataType)

  private def unconsumed: DataFrame = current match {
    case Some(v) => table.read.filter(col(orderBy) > offsetLit(v))
    case None => table.read
  }

  /** The unconsumed slice as a DataFrame (incremental batch read). */
  def df(): DataFrame = unconsumed.orderBy(col(orderBy))

  /** The unconsumed slice as one batch, pinned once: the slice's highest
    * ordering value `hi` is read now, and the rows with
    * `position < orderBy <= hi` come back unsorted. The in-memory
    * position moves to `hi` (yielding marks consumed), so rows appended
    * while the batch runs wait for the next call: the scan lists its
    * files when the slice is built, and `<= hi` states the same bound
    * in the plan. An empty slice leaves the position where it was
    * (`hi` is null, and `<= null` keeps no row). A slice read on the
    * driver takes `hi` from its rows, by Spark's ordering of the
    * column; any other runs one aggregate job for it.
    */
  def batch(): DataFrame = {
    val slice = unconsumed
    val hi = Catalog.local(slice) match {
      case Some(rel) =>
        val i = slice.columns.indexOf(orderBy)
        val types = rel.output.map(_.dataType)
        val t = types(i)
        rel.data.filterNot(_.isNullAt(i)).maxOption(TableHandle.ascending(Seq(i), types))
          .map(r => SQLConf.withExistingConf(table.spark.sessionState.conf)(
            CatalystTypeConverters.convertToScala(r.get(i, t), t))).orNull
      case None => slice.agg(max(col(orderBy))).head().get(0)
    }
    if (hi != null) current = Some(String.valueOf(hi))
    slice.filter(col(orderBy) <= lit(hi))
  }

  /** The unconsumed slice in order, drained to the driver, with its
    * columns. A slice read on the driver is sorted there by
    * `TableHandle.ascending` and collected: no job. Any other is read as one
    * sorted partition: one job, no range-sampling job and no shuffle
    * ahead of the iterator.
    */
  private def ordered: (Array[String], Iterator[Row]) = {
    val slice = unconsumed
    val i = slice.columns.indexOf(orderBy)
    val rows = Catalog.local(slice) match {
      case Some(rel) =>
        val ord = TableHandle.ascending(Seq(i), rel.output.map(_.dataType))
        GraftShim.ofRows(table.spark, rel.copy(data = rel.data.sortWith(ord.lt)))
          .collect().iterator
      case None => slice.coalesce(1).sortWithinPartitions(col(orderBy)).toLocalIterator().asScala
    }
    (slice.columns, rows)
  }

  /** One-record-at-a-time consumption; each yielded record advances the
    * in-memory offset (node.py:40-52).
    */
  def records(): Iterator[Map[String, Any]] = {
    val (cols, rows) = ordered
    val idx = cols.indexOf(orderBy)
    rows.map { r: Row =>
      current = Some(String.valueOf(r.get(idx)))
      cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap
    }
  }

  /** Typed consumption helper for Dataset-style processing. */
  def consumeRows(f: Row => Unit): Unit = {
    val (cols, rows) = ordered
    val idx = cols.indexOf(orderBy)
    rows.foreach { r =>
      current = Some(String.valueOf(r.get(idx)))
      f(r)
    }
  }

  /** Persist progress now (node.py:54-58). */
  def checkpoint(): Unit = {
    current.foreach(v => state.set(stateKey, v))
    persisted = current
  }

  /** The end-of-run persist: a no-op after `checkpoint()` or `rollback()`. */
  private[graft] def persistMoved(): Unit = if (current != persisted) checkpoint()

  /** Revert to last checkpoint / start of execution (node.py:60-63). */
  def rollback(): Unit = { current = persisted }

  /** Back to the beginning (node.py:65-68). */
  def rewind(): Unit = { current = None; persisted = None; state.delete(stateKey) }

  /** Continue strictly after `value` — exclusive (node.py:70-76). */
  def seek(value: Any): Unit = { current = Some(String.valueOf(value)) }

  def position: Option[String] = current
}

object StreamCursor {
  /** as_stream(order_by=None): default ordering from schema roles —
    * strictly-monotonic first, else created; error if neither
    * (node.py:191-214).
    */
  def forTable(
      table: TableHandle,
      state: State,
      orderBy: Option[String] = None,
      startingValue: Option[Any] = None): StreamCursor = {
    val ord = orderBy
      .orElse(table.meta.orderings.get("monotonic"))
      .orElse(table.meta.orderings.get("created"))
      .getOrElse(throw new IllegalArgumentException(
        s"table '${table.name}' has no ordering role; pass order_by"))
    // Offsets round-trip through strings (State stores them as text):
    // lossless for numeric/string/date/timestamp/boolean, silently
    // corrupting for binary/struct/array/map — reject those up front.
    // (Schema check only once the table has data; a cursor may be
    // created ahead of the first append.)
    (if (table.exists) table.schema else StructType(Nil)).find(_.name == ord).foreach { f =>
      f.dataType match {
        case _: NumericType | StringType | DateType | TimestampType |
            TimestampNTZType | BooleanType => ()
        case other => throw new IllegalArgumentException(
          s"stream ordering column '$ord' of table '${table.name}' has " +
            s"unsupported type ${other.simpleString}: offsets persist as " +
            "strings, which round-trips only atomic numeric/string/" +
            "date/timestamp/boolean columns")
      }
    }
    new StreamCursor(table, state, ord, startingValue)
  }
}
