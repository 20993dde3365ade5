package graft.streaming

import graft.SparkSpec
import graft.core.{Catalog, TableHandle}
import org.apache.spark.sql.functions._

class StreamingBridgeSpec extends SparkSpec {

  test("windowed streaming agg over a stored table matches the batch result") {
    val root = tmpDir("stream-bridge")
    val cat = new Catalog(root)
    val events = graft.Fixtures.table(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val src = new TableHandle(spark, cat, "events_src")
    src.append(events); src.flush()

    val streamed = StreamingBridge.windowedCounts(
      StreamingBridge.readStream(spark, cat, "events_src"),
      tsCol = "ts", keyCol = "event_type", windowLen = "1 hour", watermark = "2 hours")
    val n = StreamingBridge.drainTo(spark, cat, streamed, "windowed", root)
    assert(n > 0)

    val streamedOut = new TableHandle(spark, cat, "windowed").read
    // append mode only emits FINALIZED windows: those whose end the
    // watermark (maxTs - 2h) has passed; the tail windows stay in state
    val maxTs = events.agg(max("ts")).head().getTimestamp(0)
    val batch = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .filter(col("window.end") <= lit(maxTs) - expr("interval 2 hours"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))
    assert(streamedOut.count() == batch.count())
    assert(streamedOut.exceptAll(batch.select(streamedOut.columns.map(col): _*)).count() == 0)
  }

  test("stateful sessionize (flatMapGroupsWithState) emits exactly the batch sessions it can close") {
    import org.apache.spark.sql.expressions.Window
    val root = tmpDir("stream-sess")
    val cat = new Catalog(root)
    val events = graft.Fixtures.table(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val src = new TableHandle(spark, cat, "events_src")
    src.append(events); src.flush()

    val sessions = StreamingBridge.sessionize(
      StreamingBridge.readStream(spark, cat, "events_src"),
      tsCol = "ts", userCol = "user_id", gapMinutes = 30)
    StreamingBridge.drainTo(spark, cat, sessions.toDF(), "sessions", root)
    val got = new TableHandle(spark, cat, "sessions").read
      .select("user_id", "session_start", "session_end", "n_events")

    // batch oracle: q16b-shape gap sessionization
    val w = Window.partitionBy("u").orderBy("ts")
    val batch = events
      .select(col("user_id").cast("long").as("u"), col("ts"))
      .withColumn("prev", lag("ts", 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        col("ts").cast("double") - col("prev").cast("double") > 1800.0, 1).otherwise(0))
      .withColumn("sid", sum("brk").over(w))
      .groupBy("u", "sid")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
    val all = batch.select(col("u").as("user_id"),
      col("session_start"), col("session_end"), col("n_events"))
    // the stream emits EXACTLY the sessions the final watermark
    // (max event time - 2h, ms precision) finalized: end + gap passed
    val maxTsMs = events.agg(max("ts")).head().getTimestamp(0).getTime
    val wmUs = (maxTsMs - 2L * 3600 * 1000) * 1000L
    val expected = all.filter(
      unix_micros(col("session_end")) + 30L * 60 * 1000000 <= wmUs)
    assert(expected.count() > 0)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected.select(got.columns.map(col): _*)).count() == 0)
  }

  test("native session_window drain equals the batch gap sessionization") {
    import org.apache.spark.sql.expressions.Window
    val root = tmpDir("stream-sess-native")
    val cat = new Catalog(root)
    val events = graft.Fixtures.table(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val src = new TableHandle(spark, cat, "events_src")
    src.append(events); src.flush()

    val sessions = StreamingBridge.sessionizeNative(
      StreamingBridge.readStream(spark, cat, "events_src"),
      tsCol = "ts", userCol = "user_id", gapMinutes = 30)
    StreamingBridge.drainTo(spark, cat, sessions, "sessions_native", root)
    val got = new TableHandle(spark, cat, "sessions_native").read
      .select("user_id", "session_start", "last_event", "n_events")

    // batch oracle: the q16b-shape gap sessionization (same as the
    // flatMapGroupsWithState twin's oracle — both variants must agree
    // with it and therefore with each other)
    val w = Window.partitionBy("u").orderBy("ts")
    val batch = events
      .select(col("user_id").cast("long").as("u"), col("ts"))
      .withColumn("prev", lag("ts", 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        col("ts").cast("double") - col("prev").cast("double") > 1800.0, 1).otherwise(0))
      .withColumn("sid", sum("brk").over(w))
      .groupBy("u", "sid")
      .agg(min("ts").as("session_start"), max("ts").as("last_event"),
        count(lit(1)).as("n_events"))
    val all = batch.select(col("u").as("user_id"),
      col("session_start"), col("last_event"), col("n_events"))
    // append mode emits exactly the watermark-finalized sessions:
    // native finalization is watermark >= window end = last_event + gap
    val maxTsMs = events.agg(max("ts")).head().getTimestamp(0).getTime
    val wmUs = (maxTsMs - 2L * 3600 * 1000) * 1000L
    val expected = all.filter(
      unix_micros(col("last_event")) + 30L * 60 * 1000000 <= wmUs)
    assert(expected.count() > 0)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected.select(got.columns.map(col): _*)).count() == 0)
  }

  test("sessionize state merges sessions across micro-batches (no fragments)") {
    import org.apache.spark.sql.expressions.Window
    val dataDir = tmpDir("sess-batches")
    val events = graft.Fixtures.table(spark, "/root/testdata/sf0.001", "events")
      .select("ts", "user_id")
    // split point chosen INSIDE a real multi-event session (its start
    // timestamp): that session's first event lands in file 1, the rest
    // in file 2 - guaranteeing the cross-batch state merge is exercised
    val wPick = Window.partitionBy("u").orderBy("ts")
    val median = events
      .select(col("user_id").cast("long").as("u"), col("ts"))
      .withColumn("prev", lag("ts", 1).over(wPick))
      .withColumn("brk", when(col("prev").isNull ||
        col("ts").cast("double") - col("prev").cast("double") > 1800.0, 1).otherwise(0))
      .withColumn("sid", sum("brk").over(wPick))
      .groupBy("u", "sid")
      .agg(min("ts").cast("double").as("s"), max("ts").cast("double").as("e"),
        count(lit(1)).as("n"))
      .filter(col("e") > col("s"))
      .orderBy(col("n").desc, col("u"))
      .select("s").head().getDouble(0)
    val first = events.filter(col("ts").cast("double") <= median)
    val second = events.filter(col("ts").cast("double") > median)
    first.coalesce(1).write.parquet(s"$dataDir/p1")
    Thread.sleep(1100) // distinct modification times → deterministic order
    second.coalesce(1).write.parquet(s"$dataDir/p2")
    val schema = first.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(s"$dataDir/p*")
    val root = tmpDir("sess-batches-out")
    val cat = new Catalog(root)
    val sessions = StreamingBridge.sessionize(stream, "ts", "user_id", gapMinutes = 30)
    StreamingBridge.drainTo(spark, cat, sessions.toDF(), "sessions", root)
    val got = new TableHandle(spark, cat, "sessions").read
      .select("user_id", "session_start", "session_end", "n_events")

    val w = Window.partitionBy("u").orderBy("ts")
    val batch = events
      .select(col("user_id").cast("long").as("u"), col("ts"))
      .withColumn("prev", lag("ts", 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        col("ts").cast("double") - col("prev").cast("double") > 1800.0, 1).otherwise(0))
      .withColumn("sid", sum("brk").over(w))
      .groupBy("u", "sid")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
    val all = batch.select(col("u").as("user_id"),
      col("session_start"), col("session_end"), col("n_events"))
    // a session whose events straddle the file split exercises the
    // cross-batch state merge — make sure the scenario is real
    val spanning = batch.filter(
      col("session_start").cast("double") <= median &&
        col("session_end").cast("double") > median)
    assert(spanning.count() > 0, "fixture produced no boundary-spanning session")
    // every emitted row is a COMPLETE true session — a fragment split
    // at the batch boundary would not match any oracle row — and the
    // emitted set is exactly the watermark-finalized one
    val maxTsMs = events.agg(max("ts")).head().getTimestamp(0).getTime
    val wmUs = (maxTsMs - 2L * 3600 * 1000) * 1000L
    val expected = all.filter(
      unix_micros(col("session_end")) + 30L * 60 * 1000000 <= wmUs)
    assert(got.count() > 0)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected.select(got.columns.map(col): _*)).count() == 0)
  }

  test("native session_window merges sessions across micro-batches (no fragments)") {
    import org.apache.spark.sql.expressions.Window
    val dataDir = tmpDir("sess-native-batches")
    val events = graft.Fixtures.table(spark, "/root/testdata/sf0.001", "events")
      .select("ts", "user_id")
    // same split-inside-a-session setup as the custom-state twin: the
    // state store must merge the partial session across the two files
    val wPick = Window.partitionBy("u").orderBy("ts")
    val median = events
      .select(col("user_id").cast("long").as("u"), col("ts"))
      .withColumn("prev", lag("ts", 1).over(wPick))
      .withColumn("brk", when(col("prev").isNull ||
        col("ts").cast("double") - col("prev").cast("double") > 1800.0, 1).otherwise(0))
      .withColumn("sid", sum("brk").over(wPick))
      .groupBy("u", "sid")
      .agg(min("ts").cast("double").as("s"), max("ts").cast("double").as("e"),
        count(lit(1)).as("n"))
      .filter(col("e") > col("s"))
      .orderBy(col("n").desc, col("u"))
      .select("s").head().getDouble(0)
    events.filter(col("ts").cast("double") <= median)
      .coalesce(1).write.parquet(s"$dataDir/p1")
    Thread.sleep(1100)
    events.filter(col("ts").cast("double") > median)
      .coalesce(1).write.parquet(s"$dataDir/p2")
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(s"$dataDir/p*")
    val root = tmpDir("sess-native-batches-out")
    val cat = new Catalog(root)
    val sessions = StreamingBridge.sessionizeNative(
      stream, "ts", "user_id", gapMinutes = 30)
    StreamingBridge.drainTo(spark, cat, sessions, "sessions_native", root)
    val got = new TableHandle(spark, cat, "sessions_native").read
      .select("user_id", "session_start", "last_event", "n_events")

    val w = Window.partitionBy("u").orderBy("ts")
    val all = events
      .select(col("user_id").cast("long").as("u"), col("ts"))
      .withColumn("prev", lag("ts", 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        col("ts").cast("double") - col("prev").cast("double") > 1800.0, 1).otherwise(0))
      .withColumn("sid", sum("brk").over(w))
      .groupBy("u", "sid")
      .agg(min("ts").as("session_start"), max("ts").as("last_event"),
        count(lit(1)).as("n_events"))
      .select(col("u").as("user_id"),
        col("session_start"), col("last_event"), col("n_events"))
    val maxTsMs = events.agg(max("ts")).head().getTimestamp(0).getTime
    val wmUs = (maxTsMs - 2L * 3600 * 1000) * 1000L
    val expected = all.filter(
      unix_micros(col("last_event")) + 30L * 60 * 1000000 <= wmUs)
    assert(got.count() > 0)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected.select(got.columns.map(col): _*)).count() == 0)
  }

  test("mergeIntervals: out-of-order and late events keep session bounds honest") {
    val gap = 100L
    // late event within gap BEFORE an open session extends it backwards
    assert(StreamingBridge.mergeIntervals(Seq((1000L, 1100L, 2L)), Array(950L), gap) ==
      Seq((950L, 1100L, 3L)))
    // late event far before an open session stands alone
    assert(StreamingBridge.mergeIntervals(Seq((1000L, 1100L, 2L)), Array(500L), gap) ==
      Seq((500L, 500L, 1L), (1000L, 1100L, 2L)))
    // in-order growth and a gap split
    assert(StreamingBridge.mergeIntervals(Seq.empty, Array(1L, 50L, 300L), gap) ==
      Seq((1L, 50L, 2L), (300L, 300L, 1L)))
    // event inside an open interval only bumps the count
    assert(StreamingBridge.mergeIntervals(Seq((100L, 400L, 3L)), Array(250L), gap) ==
      Seq((100L, 400L, 4L)))
    // a late bridging event FUSES two previously separate sessions —
    // the reason sessions may only emit once the watermark passes them
    assert(StreamingBridge.mergeIntervals(
      Seq((100L, 150L, 2L), (400L, 450L, 2L)), Array(280L), 150L) ==
      Seq((100L, 450L, 5L)))
    // chains merge left-to-right; a too-wide gap still splits
    assert(StreamingBridge.mergeIntervals(Seq((500L, 600L, 2L)), Array(450L, 200L, 150L), gap) ==
      Seq((150L, 200L, 2L), (450L, 600L, 3L)))
    // empty batch with no state
    assert(StreamingBridge.mergeIntervals(Seq.empty, Array.empty, gap) == Seq.empty)
  }

  test("cron trigger parsing and next-fire computation") {
    import java.time.LocalDateTime
    val c = graft.graph.Cron("1 * * * *")
    assert(c.matches(LocalDateTime.of(2026, 1, 1, 10, 1)))
    assert(!c.matches(LocalDateTime.of(2026, 1, 1, 10, 2)))
    assert(c.nextAfter(LocalDateTime.of(2026, 1, 1, 10, 1)) ==
      LocalDateTime.of(2026, 1, 1, 11, 1))
    val step = graft.graph.Cron("*/15 9-17 * * 1-5")
    assert(step.matches(LocalDateTime.of(2026, 1, 2, 9, 30)))  // Friday
    assert(!step.matches(LocalDateTime.of(2026, 1, 3, 9, 30))) // Saturday
    assert(!step.matches(LocalDateTime.of(2026, 1, 2, 8, 30)))
    // malformed expressions are rejected at construction, not at a poll
    for (bad <- Seq("* * *", "*/0 * * * *", "61 * * * *", "a * * * *",
        "1,,2 * * * *", "* 24 * * *", "* * 0 * *", "* * * 13 *", "* * * * 7",
        "30-10 * * * *", "1/2/3 * * * *")) {
      val e = intercept[IllegalArgumentException](graft.graph.Cron(bad))
      assert(e.getMessage.contains(s"cron '$bad'"), e.getMessage)
    }
  }

  test("deduped streaming ingest: within-batch, against-corpus, and exactly-once across drains") {
    import spark.implicits._
    val root = tmpDir("dedup-ingest")
    val cat = new Catalog(root)
    val staging = new TableHandle(spark, cat, "staging")
    val corpus = new TableHandle(spark, cat, "corpus")
    // batch 1: one in-batch duplicate pair (same normalized text)
    staging.append(Seq(
      (1L, "alpha beta gamma"), (2L, "Alpha  Beta   GAMMA"),
      (3L, "wholly distinct")).toDF("doc_id", "text"))
    staging.flush()
    StreamingBridge.dedupedIngest(spark, cat, "staging", corpus, "text", root)
    assert(corpus.read.count() == 2) // in-batch dup collapsed
    // batch 2: a dup of corpus content, plus one genuinely new doc
    staging.append(Seq(
      (4L, "alpha beta gamma"), (5L, "brand new")).toDF("doc_id", "text"))
    staging.flush()
    StreamingBridge.dedupedIngest(spark, cat, "staging", corpus, "text", root)
    val after = corpus.read
    assert(after.count() == 3) // batch-1 files NOT reprocessed (checkpoint), dup dropped
    assert(after.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L, 5L) || after.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L, 5L))
  }

  test("near-duped streaming ingest: fuzzy within-batch, vs stored index, index grows with survivors") {
    import spark.implicits._
    val root = tmpDir("neardup-ingest")
    val cat = new Catalog(root)
    val staging = new TableHandle(spark, cat, "staging")
    val corpus = new TableHandle(spark, cat, "corpus")
    // batch 1: docs 1 and 5 are a fuzzy pair (one appended word)
    staging.append(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different text about database systems entirely"),
      (5L, "the quick brown fox jumps over the lazy dog tonight yes")
    ).toDF("doc_id", "text"))
    staging.flush()
    StreamingBridge.nearDupedIngest(spark, cat, "staging", corpus,
      "doc_id", "text", root)
    val ids1 = corpus.read.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == Set(1L, 2L)) // min-id survivor of the fuzzy pair
    // batch 2: a REFORMATTED copy of doc 1 (not byte-identical) + a novel doc
    staging.append(Seq(
      (7L, "oh the quick brown fox jumps over the lazy dog tonight"),
      (8L, "genuinely novel content that matches nothing ingested before")
    ).toDF("doc_id", "text"))
    staging.flush()
    StreamingBridge.nearDupedIngest(spark, cat, "staging", corpus,
      "doc_id", "text", root)
    val ids2 = corpus.read.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2 == Set(1L, 2L, 8L)) // fuzzy re-crawl dropped vs the index
    val index = new TableHandle(spark, cat, "corpus_ndindex")
    assert(index.read.count() == 3) // one signature row per survivor
    assert(index.read.columns.toSet == Set("doc_id", "sh", "sig"))
    // the batch-2 index EXTENSION must keep the stored types: parquet
    // reads arrays back containsNull=true while the fresh build frame
    // says containsNull=false, and that delta once triggered the
    // widen-to-string rewrite, silently destroying every signature
    assert(index.read.schema("sig").dataType.simpleString == "array<bigint>",
      index.read.schema("sig").dataType.simpleString)
    assert(index.read.schema("sh").dataType.simpleString == "array<string>")
    // exactly-once: a drain with nothing staged changes nothing
    StreamingBridge.nearDupedIngest(spark, cat, "staging", corpus,
      "doc_id", "text", root)
    assert(corpus.read.count() == 3 && index.read.count() == 3)
    // batch 3: a fuzzy copy of the batch-2 survivor — the dedup
    // decision now rides signature rows written by the EXTENSION
    // append, which the corrupted index used to crash on
    staging.append(Seq(
      (9L, "oh genuinely novel content that matches nothing ingested before")
    ).toDF("doc_id", "text"))
    staging.flush()
    StreamingBridge.nearDupedIngest(spark, cat, "staging", corpus,
      "doc_id", "text", root)
    assert(corpus.read.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 8L)) // doc 9 dropped against doc 8's extended signature
  }

  test("near-duped ingest self-heals: pre-existing corpus without an index is indexed before dedup") {
    import spark.implicits._
    val root = tmpDir("neardup-heal")
    val cat = new Catalog(root)
    val staging = new TableHandle(spark, cat, "staging")
    val corpus = new TableHandle(spark, cat, "corpus")
    // corpus populated by ANOTHER path: no corpus_ndindex exists
    corpus.append(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different text about database systems entirely")
    ).toDF("doc_id", "text"))
    corpus.flush()
    // first drain: a fuzzy re-crawl of doc 1 plus a novel doc
    staging.append(Seq(
      (7L, "oh the quick brown fox jumps over the lazy dog tonight"),
      (8L, "genuinely novel content that matches nothing ingested before")
    ).toDF("doc_id", "text"))
    staging.flush()
    StreamingBridge.nearDupedIngest(spark, cat, "staging", corpus,
      "doc_id", "text", root)
    val ids = corpus.read.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 8L)) // re-crawl dropped against the HEALED index
    val index = new TableHandle(spark, cat, "corpus_ndindex")
    // index covers the pre-existing corpus AND the new survivor
    assert(index.read.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 8L))
  }

  test("curated streaming ingest: clean -> quality gate -> dedup, exactly once") {
    import spark.implicits._
    val root = tmpDir("curated-ingest")
    val cat = new Catalog(root)
    val staging = new TableHandle(spark, cat, "staging")
    val corpus = new TableHandle(spark, cat, "corpus")
    val fluent =
      "the cat is on the mat and it is a good day today.\n" +
        "we walk in the sun and the dog is happy here."
    staging.append(Seq(
      // passes C4 (terminal punctuation, enough words) and the gate
      (1L, fluent),
      // C4 page kill: contains a curly brace
      (2L, "the dog barks { and the code is here."),
      // C4 line kill: no terminal punctuation on any line -> page dies
      (3L, "no punctuation at all on this line"),
      // classifier kill: survives C4 but is punctuation noise
      (4L, "a! b? c! d? e! f? g! h? i! j? k! l? m! n? o! p?")
    ).toDF("doc_id", "text"))
    staging.flush()
    StreamingBridge.curatedIngest(spark, cat, "staging", corpus,
      "doc_id", "text", root)
    val rows = corpus.read.collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1L),
      s"only the fluent doc survives: ${rows.map(_.getLong(0)).mkString(",")}")
    assert(corpus.read.columns.toSet == Set("doc_id", "text", "score"))
    // the stored text is the CLEANED text (both lines kept here)
    assert(rows.head.getString(1) == fluent)
    // second drain: an exact dup of the stored CLEAN text is dropped,
    // a fresh fluent doc lands, batch-1 files are not reprocessed
    staging.append(Seq(
      (5L, fluent),
      (6L, "the sun is warm and the grass is green today.")
    ).toDF("doc_id", "text"))
    staging.flush()
    StreamingBridge.curatedIngest(spark, cat, "staging", corpus,
      "doc_id", "text", root)
    assert(corpus.read.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 6L))
  }

  test("stream-stream interval join matches the batch range join exactly") {
    import spark.implicits._
    val root = tmpDir("stream-ssjoin")
    val cat = new Catalog(root)
    val events = graft.Fixtures.table(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val vT = new TableHandle(spark, cat, "views"); vT.append(views); vT.flush()
    val cT = new TableHandle(spark, cat, "clicks"); cT.append(clicks); cT.flush()

    val joined = StreamingBridge.intervalJoin(
      StreamingBridge.readStream(spark, cat, "views"),
      StreamingBridge.readStream(spark, cat, "clicks"),
      keyCol = "user_id", leftTs = "view_ts", rightTs = "click_ts",
      within = "1 hour", watermark = "2 hours")
    val n = StreamingBridge.drainTo(spark, cat, joined, "attributed", root)

    // inner stream-stream joins never suppress matches (the watermark
    // only reclaims state), so AvailableNow must emit the exact batch
    // range-join answer
    val batch = views.join(clicks.withColumnRenamed("user_id", "r_user_id"),
      col("user_id") === col("r_user_id") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("interval 1 hour"))
    assert(n == batch.count())
    val got = new TableHandle(spark, cat, "attributed").read
      .select("view_id", "r_click_id").as[(Long, Long)].collect().toSet
    val want = batch.select(col("view_id"), col("click_id"))
      .as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(n > 0) // the fixture has same-hour view->click pairs
  }
}
