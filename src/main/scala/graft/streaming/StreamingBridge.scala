package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
import graft.core.{Catalog, TableHandle}

/** A closed user session emitted by `StreamingBridge.sessionize`. */
case class Session(
    user_id: Long,
    session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp,
    n_events: Long)

/** Structured-Streaming surface over the versioned table store.
  *
  * The reference's Stream API is an incremental-batch cursor
  * (/root/reference/patterns/node/node.py:18-81) — graft.core.StreamCursor
  * implements those exact semantics. This bridge is the *optional*
  * continuous surface (SURVEY.md §2.2 T8): the same stored tables read
  * as a Structured Stream with `Trigger.AvailableNow`, watermarks and
  * windowed aggregations — the Spark-native path when a pipeline
  * graduates from cursor-polling to genuine streaming.
  *
  * Scale: file-source streaming shards by file; `maxFilesPerTrigger`
  * bounds micro-batch size; state for windowed aggs lives in the
  * checkpoint dir (RocksDB state store on a real cluster).
  */
object StreamingBridge {

  /** Read a catalog table's active version as a file-source stream. */
  def readStream(spark: SparkSession, catalog: Catalog, table: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val version = catalog.meta(table).flatMap(_.activeVersion).getOrElse(
      throw new IllegalStateException(s"table '$table' has no active version"))
    val r = spark.readStream.schema(catalog.schema(spark, table, version))
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(catalog.versionPath(table, version))
  }

  /** Tumbling-window count/agg with a watermark on `tsCol`. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowLen: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("cnt"), col("sum_value"))

  /** Gap-based sessionization with CUSTOM state — the
    * `flatMapGroupsWithState` surface (SURVEY.md §2.2 T8): per-user
    * state holds the OPEN sessions as (start, end, count) intervals; a
    * batch's events merge into them in event-time order, and a session
    * emits only once the event-time watermark passes its end + gap —
    * at that point no admissible late event can extend or bridge it,
    * so every emitted row is final (append-mode correct even when late
    * events arrive batches later; eager emission on the first in-batch
    * gap would emit fragments a bridging late event then contradicts).
    * The batch q16b sessionization is the oracle shape.
    *
    * Scale: state is three longs per still-open session per active
    * user (sessions drain as the watermark advances); raw events never
    * buffer across batches. Per key per batch the events sort in
    * memory — the contract of this API.
    */
  def sessionize(events: DataFrame, tsCol: String, userCol: String,
      gapMinutes: Int = 30, watermark: String = "2 hours"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    // state and gap math in MICROSECONDS (event timestamps carry them;
    // millisecond state would shift emitted session bounds)
    val gapUs = gapMinutes * 60L * 1000000L
    def usOf(i: java.time.Instant): Long =
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    def tsOf(us: Long): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
    events
      .select(col(userCol).cast("long").as("_u"),
        col(tsCol).cast("timestamp").as("_ts"))
      .withWatermark("_ts", watermark)
      .as[(Long, java.time.Instant)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Long, Long)], Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val merged = StreamingBridge.mergeIntervals(
            state.getOption.getOrElse(Seq.empty),
            rows.map(r => usOf(r._2)).toArray, gapUs)
          // final = no event above the watermark can still reach it
          val (fin, open) = merged.partition { case (_, e, _) => e + gapUs <= wmUs }
          if (open.nonEmpty) {
            state.update(open)
            // fire when the earliest open session becomes final (+1ms:
            // the API requires a timestamp strictly beyond the watermark)
            state.setTimeoutTimestamp((open.map(_._2).min + gapUs) / 1000L + 1)
          } else state.remove()
          fin.iterator.map(c => Session(user, tsOf(c._1), tsOf(c._2), c._3))
      }
  }

  /** The NATIVE `session_window` twin of [[sessionize]] — the same
    * gap-based session semantics expressed through Spark's built-in
    * session window (dynamic gap merging happens inside the streaming
    * aggregation's state store instead of custom
    * `flatMapGroupsWithState` state). Append mode emits a session only
    * once the watermark passes its end, so every emitted row is final
    * — the same no-fragments contract [[sessionize]] implements by
    * hand.
    *
    * Output differs from [[sessionize]] in one documented way: the
    * native window's `session_end` is last-event-time + gap (the
    * window bound), where [[sessionize]] reports the last event time
    * itself; `last_event` (= session_end − gap) is projected out so
    * the two shapes reconcile exactly.
    *
    * Scale: state is one (start, end, count) per open session per
    * user in the state store, merged by the operator; no custom
    * per-key buffers, and the aggregation is partial-merge capable.
    */
  def sessionizeNative(events: DataFrame, tsCol: String, userCol: String,
      gapMinutes: Int = 30, watermark: String = "2 hours"): DataFrame =
    events
      .select(col(userCol).cast("long").as("user_id"),
        col(tsCol).cast("timestamp").as("_ts"))
      .withWatermark("_ts", watermark)
      .groupBy(session_window(col("_ts"), s"$gapMinutes minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        (col("session_window.end") -
          expr(s"interval $gapMinutes minutes")).as("last_event"),
        col("n_events"))

  /** Merge open-session intervals with a batch of event times into
    * gap-separated sessions: everything sorts by interval start, and
    * consecutive intervals merge while the start-to-end gap is within
    * `gapUs`. Late events that land before or between open sessions
    * extend/bridge them (a bridging event may fuse two previously
    * separate sessions — which is why nothing may emit before the
    * watermark passes its end + gap). Linear in events after the sort;
    * returns the merged intervals oldest-first.
    */
  private[streaming] def mergeIntervals(
      open: Seq[(Long, Long, Long)], ts: Array[Long], gapUs: Long)
      : Seq[(Long, Long, Long)] = {
    val items = (open ++ ts.sorted.map(t => (t, t, 1L)))
      .sortBy(x => (x._1, x._2))
    items.foldLeft(List.empty[(Long, Long, Long)]) {
      case (Nil, it) => it :: Nil
      case ((s, e, n) :: done, (s2, e2, n2)) =>
        if (s2 - e <= gapUs) (s, math.max(e, e2), n + n2) :: done
        else (s2, e2, n2) :: (s, e, n) :: done
    }.reverse
  }

  /** Streaming corpus ingestion with incremental exact dedup: each
    * micro-batch first collapses its own duplicate fingerprints, then
    * drops rows whose normalized-text fingerprint already exists in the
    * corpus table, and appends the survivors — the streaming form of
    * `Corpus.dedupAgainstCorpus`, keeping a growing corpus
    * duplicate-free without ever re-deduplicating history. AvailableNow
    * + checkpoint give exactly-once ingestion of the staging files;
    * re-invoking with the same checkpoint resumes where the last drain
    * stopped.
    *
    * Scale: per batch the corpus side reduces to distinct 16-byte
    * fingerprints (map-side combine) for the anti-join; batch size is
    * bounded by `maxFilesPerTrigger` upstream.
    */
  def dedupedIngest(spark: SparkSession, catalog: Catalog, staging: String,
      corpus: TableHandle, textCol: String, checkpointRoot: String,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val stream = readStream(spark, catalog, staging, maxFilesPerTrigger)
    val q = stream.writeStream
      .option("checkpointLocation", s"$checkpointRoot/_checkpoints/ingest_${corpus.name}")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fp = graft.llm.TextAnalysis.fingerprint(col(textCol))
        val inBatch = batch.withColumn("fp", fp)
          .withColumn("_rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("fp")
              .orderBy(batch.columns.map(col): _*)))
          .filter(col("_rn") === 1).drop("_rn", "fp")
        val fresh =
          if (corpus.exists)
            graft.llm.Corpus.dedupAgainstCorpus(inBatch, corpus.read, textCol)
              .drop("fp")
          else inBatch
        corpus.append(fresh)
        corpus.flush()
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming CURATED ingest: the full cleaning gauntlet per
    * AvailableNow micro-batch — C4 line/page rules
    * ([[graft.llm.Corpus.c4Clean]]) rewrite each page to its kept
    * lines, the linear quality classifier
    * ([[graft.llm.TextAnalysis.qualityClassifier]]) gates what
    * survives, and the [[dedupedIngest]] fingerprint logic (in-batch
    * collapse + corpus anti-join) keeps the growing corpus
    * duplicate-free. The corpus receives the CLEANED text (id, text,
    * quality score) — this is the streaming form of the batch
    * ingest→clean→gate→dedup chain, with the same exactly-once
    * checkpoint semantics as the other ingest operators, and a
    * replayed batch is a no-op by the same fingerprint anti-join
    * argument.
    *
    * Scale: every stage before the dedup anti-join is scan-shaped
    * column work; the anti-join reduces the corpus side to distinct
    * fingerprints. Per-batch cost is O(batch + matches).
    */
  def curatedIngest(spark: SparkSession, catalog: Catalog, staging: String,
      corpus: TableHandle, idCol: String, textCol: String,
      checkpointRoot: String,
      maxFilesPerTrigger: Option[Int] = None,
      minLineWords: Int = 3, minLines: Int = 1): Unit = {
    val stream = readStream(spark, catalog, staging, maxFilesPerTrigger)
    val q = stream.writeStream
      .option("checkpointLocation",
        s"$checkpointRoot/_checkpoints/curated_${corpus.name}")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // 1. clean: C4 rules rewrite pages to their kept lines
        val cleaned = graft.llm.Corpus.c4Clean(batch, idCol, textCol,
            minLineWords = minLineWords, minLines = minLines)
          .select(col(idCol), col("cleaned_text").as(textCol))
        // 2. gate: the linear quality classifier
        val gated = graft.llm.TextAnalysis
          .qualityClassifier(cleaned, idCol, textCol)
          .filter(col("keep"))
          .join(cleaned, idCol)
          .select(col(idCol), col(textCol), col("score"))
        // 3. dedup within the batch, then against the corpus
        val fp = graft.llm.TextAnalysis.fingerprint(col(textCol))
        val inBatch = gated.withColumn("fp", fp)
          .withColumn("_rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("fp")
              .orderBy(col(idCol))))
          .filter(col("_rn") === 1).drop("_rn", "fp")
        val fresh =
          if (corpus.exists)
            graft.llm.Corpus.dedupAgainstCorpus(inBatch, corpus.read, textCol)
              .drop("fp")
          else inBatch
        corpus.append(fresh)
        corpus.flush()
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming NEAR-duplicate ingest: the fuzzy counterpart of
    * [[dedupedIngest]] for the re-crawl regime where duplicates arrive
    * reformatted rather than byte-identical. Per AvailableNow batch:
    * collapse near-dups WITHIN the batch (MinHash/LSH pairs →
    * connected components, min-id survivor), drop survivors whose
    * shingle Jaccard with ANY already-ingested document reaches the
    * threshold, append what remains to the corpus, and extend the
    * persisted MinHash index (`<corpus>_ndindex`: id, shingles,
    * signature) with the newcomers' signatures.
    *
    * Scale: the corpus side of every batch derives band keys
    * ARITHMETICALLY from stored signatures
    * ([[graft.llm.TextDedup.nearDupAgainstIndex]]) — history is never
    * re-shingled, so per-batch cost is O(batch + band collisions)
    * regardless of corpus size; the index grows by exactly the
    * surviving documents.
    *
    * Failure semantics: the corpus and index are two tables with no
    * cross-table transaction, so each batch (a) SELF-HEALS the index
    * first — corpus rows with no stored signature (a pre-existing
    * corpus, or a crash between the two flushes) are indexed before
    * any dedup decision — and (b) finishes with an exact-fingerprint
    * anti-join against the corpus, which makes a checkpoint-replayed
    * (byte-identical) batch a no-op. Crash at any point either loses
    * nothing (checkpoint uncommitted → replay is filtered) or leaves a
    * gap the next drain's heal step closes.
    */
  def nearDupedIngest(spark: SparkSession, catalog: Catalog, staging: String,
      corpus: TableHandle, idCol: String, textCol: String,
      checkpointRoot: String,
      maxFilesPerTrigger: Option[Int] = None,
      threshold: Double = 0.8): Unit = {
    val index = new TableHandle(spark, catalog, s"${corpus.name}_ndindex")
    val stream = readStream(spark, catalog, staging, maxFilesPerTrigger)
    val q = stream.writeStream
      .option("checkpointLocation",
        s"$checkpointRoot/_checkpoints/ndingest_${corpus.name}")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // 1. self-heal the index: corpus rows with no signature yet —
        //    a corpus populated by another path before the first
        //    drain, or the crash window between the two flushes below
        //    — get indexed NOW, so the dedup check never silently
        //    skips existing documents. First call on a pre-existing
        //    corpus is the one-time full index build.
        if (corpus.exists) {
          val have =
            if (index.exists) index.read.select(idCol)
            else corpus.read.select(idCol).limit(0)
          val missing = corpus.read.join(have, Seq(idCol), "left_anti")
          if (!missing.isEmpty) {
            index.append(graft.llm.TextDedup.buildNearDupIndex(
              missing, idCol, textCol))
            index.flush()
          }
        }
        // 2. collapse near-dups WITHIN the batch (min-id survivor)
        val inBatch = graft.operators.ConnectedComponents.collapse(
          batch,
          graft.llm.TextDedup.minhashLshPairs(batch, idCol, textCol,
            threshold = threshold),
          "id_a", "id_b", idCol)
        // 3. near-dup check against the (now complete) stored index
        val nd =
          if (index.exists)
            graft.llm.TextDedup.nearDupAgainstIndex(inBatch, index.read,
              idCol, textCol, threshold = threshold)
          else inBatch
        // 4. retry idempotence: a replayed batch (crash after the
        //    corpus flush, before the checkpoint commit) is
        //    byte-identical, so an exact-fingerprint anti-join against
        //    the corpus drops it — the near-dup check alone consults
        //    only the index, which lags the corpus inside that window
        val fresh =
          if (corpus.exists)
            graft.llm.Corpus.dedupAgainstCorpus(nd, corpus.read, textCol)
              .drop("fp")
          else nd
        // localCheckpoint: `fresh` is consumed twice (corpus append +
        // index build) and its lineage crosses the batch's LSH joins
        val settled = fresh.localCheckpoint()
        corpus.append(settled)
        corpus.flush()
        index.append(
          graft.llm.TextDedup.buildNearDupIndex(settled, idCol, textCol))
        index.flush()
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Stream-stream interval join (SURVEY §2.2 beyond-reference T11):
    * the enrichment pattern batch engines express as a range join —
    * every right-side event within `within` AFTER its left-side
    * key-mate (click within an hour of the view, payment within a day
    * of the order), as two live streams. Both sides carry watermarks
    * and the join condition carries the time range, which is exactly
    * what lets Spark BOUND the buffered state: a left row can be
    * dropped once the right watermark passes leftTs + within, a right
    * row once the left watermark passes rightTs — without the range,
    * stream-stream state grows forever. Inner join: every match emits
    * exactly once (append-mode correct); matches are never suppressed
    * by the watermark, only state is reclaimed.
    *
    * Scale shape: one shuffle per side on the key (co-partitioned
    * stateful join); state per key = the events inside the active
    * watermark horizon. Column names: left columns keep their names,
    * right columns get `r_` prefixed to stay collision-free.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, within: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r0 = right.columns.foldLeft(right) { (df, c) =>
      df.withColumnRenamed(c, s"r_$c") }
    val r = r0.withWatermark(s"r_$rightTs", watermark)
    l.join(r,
      col(keyCol) === col(s"r_$keyCol") &&
        col(s"r_$rightTs") >= col(leftTs) &&
        col(s"r_$rightTs") <= col(leftTs) + expr(s"interval $within"))
      .drop(s"r_$keyCol")
  }

  /** Drain a streaming query into a new version of `outTable` using
    * AvailableNow (process-everything-then-stop — the streaming
    * equivalent of the reference's run-to-completion node execution),
    * activated with the stream's schema. Returns the row count written.
    */
  def drainTo(spark: SparkSession, catalog: Catalog, streamed: DataFrame,
      outTable: String, checkpointRoot: String): Long = {
    val version = catalog.newVersion(outTable)
    val path = catalog.versionPath(outTable, version)
    val q = streamed.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation",
        s"$checkpointRoot/_checkpoints/$outTable/$version")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val n = spark.read.schema(streamed.schema).parquet(path).count()
    catalog.setActive(outTable, version, n, streamed.schema)
    n
  }
}
