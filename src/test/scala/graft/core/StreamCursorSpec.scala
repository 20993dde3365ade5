package graft.core

import graft.SparkSpec

class StreamCursorSpec extends SparkSpec {

  private def fixture(): (TableHandle, State, String) = {
    import spark.implicits._
    val root = tmpDir("stream")
    val h = new TableHandle(spark, new Catalog(root), "t")
      .init(strictlyMonotonicOrdering = Some("id"))
    h.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "s"))
    h.flush()
    (h, new State(root, "node1"), root)
  }

  test("exactly-once across executions: consume, checkpoint, resume") {
    val (h, state, root) = fixture()
    val s1 = StreamCursor.forTable(h, state)
    val got = s1.records().take(3).map(_("id")).toList
    assert(got == List(1L, 2L, 3L))
    s1.checkpoint()
    // "new execution": fresh cursor over same state
    val s2 = StreamCursor.forTable(h, new State(root, "node1"))
    assert(s2.records().map(_("id")).toList == List(4L, 5L))
  }

  test("yield marks consumed, but without checkpoint progress is lost") {
    val (h, state, root) = fixture()
    val s1 = StreamCursor.forTable(h, state)
    s1.records().take(2).foreach(_ => ())
    // no checkpoint → a new execution starts from scratch
    val s2 = StreamCursor.forTable(h, new State(root, "node1"))
    assert(s2.records().size == 5)
  }

  test("rollback restores last checkpoint") {
    val (h, state, _) = fixture()
    val s = StreamCursor.forTable(h, state)
    s.records().take(2).foreach(_ => ())
    s.checkpoint()
    s.records().take(2).foreach(_ => ())   // now at 4
    s.rollback()                            // back to 2
    assert(s.records().map(_("id")).toList == List(3L, 4L, 5L))
  }

  test("seek is exclusive (strictly greater), rewind restarts") {
    val (h, state, _) = fixture()
    val s = StreamCursor.forTable(h, state)
    s.seek(3L)
    assert(s.records().map(_("id")).toList == List(4L, 5L))
    s.rewind()
    assert(s.records().size == 5)
  }

  test("multiple concurrent streams with different orderings") {
    import spark.implicits._
    val root = tmpDir("stream")
    val h = new TableHandle(spark, new Catalog(root), "t")
    h.append(Seq((1L, 30L), (2L, 20L), (3L, 10L)).toDF("id", "prio"))
    h.flush()
    val state = new State(root, "node1")
    val byId = new StreamCursor(h, state, "id")
    val byPrio = new StreamCursor(h, state, "prio")
    byId.records().take(2).foreach(_ => ()); byId.checkpoint()
    byPrio.records().take(1).foreach(_ => ()); byPrio.checkpoint()
    // independent offsets per ordering (node.py:196-198)
    assert(new StreamCursor(h, state, "id").records().map(_("id")).toList == List(3L))
    assert(new StreamCursor(h, state, "prio").records().map(_("prio")).toList == List(20L, 30L))
  }

  test("stream sees rows appended after the cursor was created") {
    import spark.implicits._
    val (h, state, _) = fixture()
    val s = StreamCursor.forTable(h, state)
    s.records().foreach(_ => ())
    s.checkpoint()
    h.append(Seq((6L, "f")).toDF("id", "s")); h.flush()
    assert(s.records().map(_("id")).toList == List(6L))
  }

  test("default ordering errors without a role") {
    import spark.implicits._
    val root = tmpDir("stream")
    val h = new TableHandle(spark, new Catalog(root), "t")
    h.append(Seq(1L).toDF("id")); h.flush()
    intercept[IllegalArgumentException](
      StreamCursor.forTable(h, new State(root, "n")))
  }

  test("non-atomic ordering column rejected (offsets round-trip as strings)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tmpDir("stream")
    val h = new TableHandle(spark, new Catalog(root), "t")
    h.append(Seq((1L, "a")).toDF("id", "s")
      .withColumn("blob", encode(col("s"), "UTF-8"))
      .withColumn("arr", array(col("id"))))
    h.flush()
    val eBin = intercept[IllegalArgumentException](
      StreamCursor.forTable(h, new State(root, "n"), orderBy = Some("blob")))
    assert(eBin.getMessage.contains("unsupported type binary"))
    val eArr = intercept[IllegalArgumentException](
      StreamCursor.forTable(h, new State(root, "n"), orderBy = Some("arr")))
    assert(eArr.getMessage.contains("unsupported type"))
    // atomic columns still fine
    StreamCursor.forTable(h, new State(root, "n"), orderBy = Some("id"))
  }

  test("batch pins the slice: later appends wait, rollback redelivers") {
    import spark.implicits._
    val (h, state, _) = fixture()
    val s = StreamCursor.forTable(h, state)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).sorted.toList
    val b1 = s.batch()
    // appended after batch() and before checkpoint(): not in this batch
    h.append(Seq((6L, "f")).toDF("id", "s")); h.flush()
    assert(ids(b1) == List(1L, 2L, 3L, 4L, 5L))
    assert(s.position.contains("5"))
    s.checkpoint()
    // rollback after an uncheckpointed batch re-delivers the same rows
    assert(ids(s.batch()) == List(6L))
    s.rollback()
    assert(s.position.contains("5"))
    assert(ids(s.batch()) == List(6L))
    s.checkpoint()
    // an empty slice leaves the position unchanged
    assert(ids(s.batch()).isEmpty)
    assert(s.position.contains("6"))
  }

  test("records and consumeRows yield interleaved appends in global order; rollback redelivers") {
    import spark.implicits._
    val root = tmpDir("stream")
    val h = new TableHandle(spark, new Catalog(root), "t")
    // three files whose ordering values interleave
    Seq(Seq(1L, 4L, 7L), Seq(2L, 5L, 8L), Seq(3L, 6L, 9L)).foreach { ids =>
      h.append(ids.map(i => (i, s"r$i")).toDF("id", "s")); h.flush()
    }
    val s = StreamCursor.forTable(h, new State(root, "n"), orderBy = Some("id"))
    assert(s.records().map(_("id")).toList == (1L to 9L).toList)
    assert(s.position.contains("9"))
    s.rollback()
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    s.consumeRows(r => got += r.getAs[Long]("id"))
    assert(got.toList == (1L to 9L).toList)
    s.seek(4L)
    got.clear()
    s.consumeRows(r => got += r.getAs[Long]("id"))
    assert(got.toList == (5L to 9L).toList)
  }

  test("batch(), consumeRows() and records() over a small table start no job") {
    val (h, state, _) = fixture()
    val s = StreamCursor.forTable(h, state)
    val ((batch, consumed, records), jobs) = graft.JobCounter.jobs(spark) {
      val b = s.batch().collect().map(_.getLong(0)).sorted.toList
      s.rollback()
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      s.consumeRows(r => got += r.getAs[Long]("id"))
      s.rollback()
      (b, got.toList, s.records().map(_("id")).toList)
    }
    assert(jobs == 0)
    assert(batch == (1L to 5L).toList && consumed == batch && records == batch)
    assert(s.position.contains("5"))
  }

  test("a slice orders strings as Spark does, by UTF-8 bytes with NULL first, on either path") {
    import spark.implicits._
    val smile = new String(Character.toChars(0x1F600)) // non-BMP: a surrogate pair in UTF-16
    val values = Seq("b", "\uFFFD", smile, "a", null, "\u00e9")
    val (got, jobs) = graft.Parity.same(spark) {
      val root = tmpDir("order")
      val h = new TableHandle(spark, new Catalog(root), "t")
      h.append(values.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toDF("k", "i")); h.flush()
      val s = new StreamCursor(h, new State(root, "n"), "k")
      graft.Parity.twice {
        s.rewind()
        val records = s.records().map(_("k")).toList
        s.rewind()
        val batch = s.batch().collect().map(_.getString(0)).toList.sorted
        val hi = s.position
        s.seek("a")
        val consumed = scala.collection.mutable.ArrayBuffer.empty[String]
        s.consumeRows(r => consumed += r.getAs[String]("k"))
        (records, batch, hi, consumed.toList)
      }
    }
    assert(jobs == 0)
    // UTF-8 puts U+FFFD (EF BF BD) below the emoji (F0 ..); UTF-16 the reverse
    assert(got._1 == List(null, "a", "b", "\u00e9", "\uFFFD", smile))
    assert(got._2 == values.filter(_ != null).sorted && got._3.contains(smile))
    assert(got._4 == List("b", "\u00e9", "\uFFFD", smile))
  }
}
