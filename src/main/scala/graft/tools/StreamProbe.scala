package graft.tools

import org.apache.spark.sql.functions._

import graft.Measure.{median, num, timed}
import graft.core.{Catalog, TableHandle}
import graft.streaming.StreamingBridge

/** Streaming scale probe (SCALING.md evidence): measures the drain
  * wall-clock of each streaming ingest operator for a FIXED-SIZE
  * batch against a pre-existing corpus of varying size, plus the
  * native session_window drain over a varying event volume.
  *
  * The claim under test is the one VERDICT graded: per-batch ingest
  * cost is O(batch + collisions), not O(history) — exact dedup's
  * corpus side collapses to distinct fingerprints, near-dup's corpus
  * side derives band keys arithmetically from the PERSISTED index
  * (history is never re-shingled). If either were secretly
  * O(history · batch), the fixed-batch drain time would grow ~10×
  * when the corpus does; the floor-plus-scan regime predicts a much
  * smaller slope (one cheap corpus fingerprint/index scan per
  * micro-batch).
  *
  * Usage: runMain graft.tools.StreamProbe [corpusDir] [batchDir] [runs] [phases]
  *   corpusDir — pre-existing corpus documents + events (default sf0.1)
  *   batchDir  — the FIXED ingest batch documents (default sf0.01,
  *               500 docs, ids shifted +1e9 so they never collide)
  *   runs      — median-of-N with a fresh catalog/checkpoint per run
  *               (a reused checkpoint would make reruns no-ops)
  *   phases    — comma list of dedup,curated,neardup,session (default
  *               all; phase-split runs let a multi-minute decade probe
  *               survive a single-arm failure — r14 lesson); an
  *               unknown name prints usage and exits 2
  *
  * Prints one JSON line; prep (corpus append, one-time near-dup index
  * build — the cost [[graft.llm.TextDedup.buildNearDupIndex]] pays
  * once per corpus, not per batch) is reported separately from drain.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val corpusDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val runs = if (args.length > 2) args(2).toInt else 3
    val allPhases = Set("dedup", "curated", "neardup", "session")
    val phases: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet
      else allPhases
    if (args.length > 4 || !phases.subsetOf(allPhases)) {
      System.err.println("usage: StreamProbe [corpusDir] [batchDir] [runs] " +
        "[phases: comma list of dedup,curated,neardup,session]")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus)
      // the decade lesson (r14): the default HDFSBackedStateStore holds
      // every open session IN HEAP — the 100 M-event sessionize drain
      // OOMed a single availableNow micro-batch at 8 g. RocksDB is the
      // documented large-state provider (off-heap + spilling) and the
      // configuration any 100 TB streaming deployment runs with.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val corpusDocs = graft.Fixtures.table(spark, corpusDir, "documents")
    // ids shifted out of every corpus range (scaled replicas shift by
    // r·10⁷, far below 10⁹) so batch rows are genuinely new documents
    val batchDocs = graft.Fixtures.table(spark, batchDir, "documents")
      .withColumn("doc_id", col("doc_id") + lit(1000000000L))
    val events = graft.Fixtures.table(spark, corpusDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val corpusRows = corpusDocs.count()
    val batchRows = batchDocs.count()
    val eventRows = events.count()

    // each run stages a full corpus copy (1.7 GB of parquet at the
    // 100x corpus) — delete them on exit or 9 runs fill /tmp
    val dirs = new TempDirs
    def freshRoot(): String = dirs.fresh("streamprobe")

    /** (prep seconds, drain seconds) medians for one ingest mode. */
    def probeIngest(mode: String): (Double, Double) = {
      val pairs = (1 to runs).map { _ =>
        val root = freshRoot()
        val cat = new Catalog(root)
        val corpus = new TableHandle(spark, cat, "corpus")
        corpus.append(corpusDocs); corpus.flush()
        val staging = new TableHandle(spark, cat, "staging")
        // 4 files → 4 micro-batches at maxFilesPerTrigger=1: the drain
        // exercises the steady-state per-batch path, not one giant batch
        staging.append(batchDocs.repartition(4)); staging.flush()
        val prep = timed {
          if (mode == "neardup") {
            // the one-time index build the first drain's self-heal
            // would otherwise fold into batch 1 — pay it off the clock,
            // as a long-lived pipeline does
            val index = new TableHandle(spark, cat, "corpus_ndindex")
            index.append(graft.llm.TextDedup.buildNearDupIndex(
              corpus.read, "doc_id", "text"))
            index.flush()
          }
        }
        val drain = timed {
          mode match {
            case "dedup" => StreamingBridge.dedupedIngest(
              spark, cat, "staging", corpus, "text", root, Some(1))
            case "curated" => StreamingBridge.curatedIngest(
              spark, cat, "staging", corpus, "doc_id", "text", root, Some(1))
            case "neardup" => StreamingBridge.nearDupedIngest(
              spark, cat, "staging", corpus, "doc_id", "text", root, Some(1))
          }
        }
        (prep, drain)
      }
      (median(pairs.map(_._1)), median(pairs.map(_._2)))
    }

    def probeSession(): Double = median((1 to runs).map { _ =>
      val root = freshRoot()
      val cat = new Catalog(root)
      val src = new TableHandle(spark, cat, "events_src")
      src.append(events); src.flush()
      timed {
        StreamingBridge.drainTo(spark, cat,
          StreamingBridge.sessionizeNative(
            StreamingBridge.readStream(spark, cat, "events_src"),
            "ts", "user_id"),
          "sessions", root)
      }
    })

    val (dedupS, curatedS, ndPrepS, ndDrainS, sessionS) =
      try {
        val (_, d) = if (phases("dedup")) probeIngest("dedup") else (-1.0, -1.0)
        val (_, c) = if (phases("curated")) probeIngest("curated") else (-1.0, -1.0)
        val (ndP, ndD) =
          if (phases("neardup")) probeIngest("neardup") else (-1.0, -1.0)
        val s = if (phases("session")) probeSession() else -1.0
        (d, c, ndP, ndD, s)
      } finally dirs.deleteAll()

    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(s"""{"probe":"streaming","corpus":"$corpusDir","corpus_rows":$corpusRows,"batch_rows":$batchRows,"event_rows":$eventRows,"runs":$runs,"dedup_drain_s":${num(dedupS)},"curated_drain_s":${num(curatedS)},"neardup_index_build_s":${num(ndPrepS)},"neardup_drain_s":${num(ndDrainS)},"session_drain_s":${num(sessionS)}}""")
    System.out.flush()
  }
}
