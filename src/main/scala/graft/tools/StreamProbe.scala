package graft.tools

import org.apache.spark.sql.functions._

import graft.Measure.{median, num, timed}
import graft.core.{Catalog, State, StreamCursor, TableHandle}

/** Stream-ingest scale probe (SCALING.md evidence): measures the drain
  * wall-clock of each cursor-driven ingest operator
  * ([[graft.llm.Corpus.dedupedIngest]], [[graft.llm.Corpus.curatedIngest]],
  * [[graft.llm.TextDedup.nearDupedIngest]]) for a FIXED-SIZE batch
  * against a pre-existing corpus of varying size.
  *
  * The claim under test: per-batch ingest cost is O(batch +
  * collisions), not O(history) — exact dedup's corpus side collapses to
  * distinct fingerprints, near-dup's corpus side derives band keys
  * arithmetically from the PERSISTED index (history is never
  * re-shingled). If either were secretly O(history · batch), the
  * fixed-batch drain time would grow ~10× when the corpus does; the
  * floor-plus-scan regime predicts a much smaller slope (one cheap
  * corpus fingerprint/index scan per slice).
  *
  * Usage: runMain graft.tools.StreamProbe [corpusDir] [batchDir] [runs] [phases]
  *   corpusDir — pre-existing corpus documents (default sf0.1)
  *   batchDir  — the FIXED ingest batch documents (default sf0.01,
  *               500 docs, ids shifted +1e9 so they never collide)
  *   runs      — median-of-N with a fresh catalog per run (a reused
  *               cursor offset would make reruns no-ops)
  *   phases    — comma list of dedup,curated,neardup (default all;
  *               phase-split runs let a multi-minute decade probe
  *               survive a single-arm failure); an unknown name prints
  *               usage and exits 2
  *
  * The batch is staged in one append and drained as one cursor slice.
  * Prints one JSON line; prep (corpus append, one-time near-dup index
  * build — the cost [[graft.llm.TextDedup.buildNearDupIndex]] pays
  * once per corpus, not per batch) is reported separately from drain.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val a = new ProbeArgs(args, "StreamProbe", "corpusDir", "batchDir", "runs",
      "phases: comma list of dedup,curated,neardup")
    val corpusDir = a(0, "/root/testdata/sf0.1")
    val batchDir = a(1, "/root/testdata/sf0.01")
    val runs = a.count(2, 3)
    val phases = a(3, "dedup,curated,neardup").split(",").map(_.trim).toSet
    if (!phases.subsetOf(Set("dedup", "curated", "neardup")))
      a.usageExit(s"unknown phase in '${a(3, "")}'")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val corpusDocs = graft.Fixtures.table(spark, corpusDir, "documents")
    // ids shifted out of every corpus range (scaled replicas shift by
    // r·10⁷, far below 10⁹) so batch rows are genuinely new documents
    val batchDocs = graft.Fixtures.table(spark, batchDir, "documents")
      .withColumn("doc_id", col("doc_id") + lit(1000000000L))
    val corpusRows = corpusDocs.count()
    val batchRows = batchDocs.count()

    // each run stages a full corpus copy (1.7 GB of parquet at the
    // 100x corpus) — delete them on exit or 9 runs fill /tmp
    val dirs = new TempDirs

    /** (prep seconds, drain seconds) medians for one ingest mode. */
    def probeIngest(mode: String): (Double, Double) = {
      val pairs = (1 to runs).map { _ =>
        val root = dirs.fresh("streamprobe")
        val cat = new Catalog(root)
        val corpus = new TableHandle(spark, cat, "corpus")
        corpus.append(corpusDocs); corpus.flush()
        // the batch's own unique ids order the stream: an added id
        // column would widen (rewrite) the stored corpus on first append
        val staging = new TableHandle(spark, cat, "staging")
          .init(strictlyMonotonicOrdering = Some("doc_id"))
        staging.append(batchDocs); staging.flush()
        val cursor = StreamCursor.forTable(staging, new State(root, "ingest"))
        val prep = timed {
          if (mode == "neardup") {
            // the one-time index build the first drain's self-heal
            // would otherwise fold into the batch — pay it off the
            // clock, as a long-lived pipeline does
            val index = new TableHandle(spark, cat, "corpus_ndindex")
            index.append(graft.llm.TextDedup.buildNearDupIndex(
              corpus.read, "doc_id", "text"))
            index.flush()
          }
        }
        val drain = timed {
          mode match {
            case "dedup" => graft.llm.Corpus.dedupedIngest(cursor, corpus, "text")
            case "curated" =>
              graft.llm.Corpus.curatedIngest(cursor, corpus, "doc_id", "text")
            case "neardup" =>
              graft.llm.TextDedup.nearDupedIngest(cursor, corpus, "doc_id", "text")
          }
        }
        (prep, drain)
      }
      (median(pairs.map(_._1)), median(pairs.map(_._2)))
    }

    val (dedupS, curatedS, ndPrepS, ndDrainS) =
      try {
        val (_, d) = if (phases("dedup")) probeIngest("dedup") else (-1.0, -1.0)
        val (_, c) = if (phases("curated")) probeIngest("curated") else (-1.0, -1.0)
        val (ndP, ndD) =
          if (phases("neardup")) probeIngest("neardup") else (-1.0, -1.0)
        (d, c, ndP, ndD)
      } finally dirs.deleteAll()

    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(s"""{"probe":"streaming","corpus":"$corpusDir","corpus_rows":$corpusRows,"batch_rows":$batchRows,"runs":$runs,"dedup_drain_s":${num(dedupS)},"curated_drain_s":${num(curatedS)},"neardup_index_build_s":${num(ndPrepS)},"neardup_drain_s":${num(ndDrainS)}}""")
    System.out.flush()
  }
}
