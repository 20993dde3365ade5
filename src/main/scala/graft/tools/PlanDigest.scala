package graft.tools

import org.apache.spark.sql.SparkSession

/** Normalized physical-plan fingerprints for the headline queries — a
  * regression tripwire for the plan properties that matter at 100 TB:
  * a future change that un-broadcasts a join, adds a shuffle, or drops
  * a plan out of whole-stage codegen fails `PlanDigestSpec` loudly
  * instead of shipping silently.
  *
  * The digest counts operator KINDS (shuffle exchanges, broadcast
  * exchanges, each join strategy, sorts, codegen spans, scans) rather
  * than hashing the tree: counts are stable across cosmetic plan-id /
  * alias churn but move whenever a strategy changes. Derived from the
  * pre-execution formatted plan (AQE's initial plan), so they are
  * deterministic for fixed fixtures and independent of partition
  * counts.
  *
  * Regenerate after an INTENTIONAL plan change:
  *   sbt "runMain graft.tools.PlanDigest"   # rewrites PLAN_DIGESTS.json
  */
object PlanDigest {

  /** BUILDER pipelines behind the registry's sharedFrame memo
    * (queries/Llm.scala): l12b/l13/l14, l30/l31, and l47/l62 now
    * return consumers of a localCheckpoint'd shared frame, so their
    * registry plans are cached-RDD scans — the 100 TB-load-bearing
    * shapes (MinHash banding, sign-LSH probing, banded Hamming join)
    * live in these builder plans, digested under `b_*` names. l13/l30/
    * l62's connected-components rounds are iterative actions with no
    * single plan to digest; their shape is spec'd in
    * ConnectedComponentsSpec instead.
    */
  val builders: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "b_ndpairs_minhash_lsh" -> ((s, d) =>
      graft.llm.TextDedup.minhashLshPairs(
        graft.Fixtures.table(s, d, "documents"), "doc_id", "text",
        numHashes = 16, bands = 8, shingleK = 3, threshold = 0.8)),
    "b_embpairs_sign_lsh" -> ((s, d) =>
      graft.llm.Similarity.nearDupPairs(
        graft.queries.Llm.plantedCorpus(graft.Fixtures.table(s, d, "embeddings")),
        "vec_id", "embedding", minCos = 0.99)),
    // the banded Hamming pair join (l47/l62's edge builder) over an
    // in-memory code table: the guard target is the join shape
    // (posexplode banding + shuffle equi-join, no cartesian), which is
    // independent of where the codes come from
    // bitext margin mining: the l101 registry entry now returns an
    // eager localCheckpoint (the round-10 cache-leak fix), so its
    // registry plan is a checkpoint scan — the load-bearing shape
    // (broadcast-queries pair frame, never a corpus shuffle into a
    // cartesian, window tails) is digested from the LAZY plan here
    "b_margin_mining" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = graft.Fixtures.table(s, d, "embeddings")
      graft.llm.Similarity.marginMining(
        emb.filter(col("label") < 5 && col("vec_id") < 40)
          .select(col("vec_id").as("s_id"), col("embedding").as("sv")),
        emb.filter(col("label") >= 5)
          .select(col("vec_id").as("t_id"), col("embedding").as("tv")),
        "s_id", "t_id", "sv", "tv", k = 4, minMargin = 1.0,
        cleanup = false)
    }),
    "b_hamming_pairs" -> ((s, d) => {
      val codes = s.range(0, 1000).selectExpr(
        "id as doc_id", "xxhash64(id % 37) as dhash")
      graft.llm.TextDedup.hammingPairs(codes, "doc_id", "dhash", maxHamming = 2)
    }))

  /** Queries whose plans are load-bearing (VERDICT r5 plan audit set +
    * the r5 operators).
    */
  val headline: Seq[String] = Seq(
    "q02_filter", "q04_join_broadcast", "q09_join_asof", "q10_agg_tpch1",
    "q15_window_rank", "l02_minhash_lsh", "l05_cosine_knn",
    "l33_ngram_topk", "l36_unigram_logprob",
    // round-7: the dedup/coverage plans whose agg/join strategy is the
    // whole point (a regression to SortAggregate/window would ship
    // silently otherwise)
    "l40_line_dedup", "l41_dup_spans", "l42_dsir_weights",
    // round-7 wave 2: pair census (hash agg + TakeOrdered, not a
    // window sort) and the JL kernel (single codegen'd scan, zero
    // shuffle)
    "l43_bpe_pairs", "l54_jl_project",
    // the bigram LM must stay one lazy plan (vocab as broadcast 1-row
    // agg, no eager count) — a digest change here means an extra
    // shuffle or a lost broadcast
    "l57_bigram_logprob",
    // round-8: the repeated-line codegen kernel (scan-shaped, zero
    // shuffle), Bloom-prefiltered dedup (broadcast sketch, no shuffle
    // of corpus text), vocab drift (once-materialized vocab join),
    // persisted-index incremental near-dup
    "l53_drop_repeated_lines", "l55_bloom_dedup", "l60_vocab_drift",
    "l61_neardup_index",
    // round-9: split assignment must stay a zero-shuffle scan; match
    // provenance must stay a banded bucket join (a regression to a
    // nested-loop cross product would ship silently otherwise); span
    // removal must keep its (gram)/(id)-keyed shuffles with no
    // cartesian term
    "l65_split_assign", "l67_match_provenance",
    "l68_dup_span_removal",
    // round-9 wave 2: BM25 must keep its broadcast idf/stats joins
    // (inline AND index-served — the postings filter regressing to an
    // unpruned scan or the stats broadcast becoming a shuffle would
    // ship silently); the shard assignment must keep exactly its
    // two-pass shape (one B-row offset window + per-bucket windows,
    // broadcast offset join, no extra global sort); NFC normalization
    // must stay one codegen'd zero-shuffle scan
    "l75_bm25_search", "l77_shard_assign", "l78_nfc_normalize",
    "l80_bm25_index",
    // round-9 waves 3-4: NB scoring must keep its broadcast
    // classes/model-side shapes; winnowing and the dataset card must
    // stay single-scan (a lost map-side combine or a surprise shuffle
    // would ship silently); the stratified sample must stay one
    // stratum shuffle + window
    "l81_nb_classifier", "l86_stratified_topk", "l87_winnowing",
    "l90_dataset_card",
    // round-9 wave 5: the fuzzy join must stay a PassJoin segment
    // equi-join (a regression to nested-loop/cartesian — or the first
    // formulation's skew-prone bare-gram join shape changing the scan
    // count — would ship silently); PQ must keep its broadcast ADC
    // table side
    "l91_fuzzy_join", "l94_pq_ann",
    // round-9 wave 6: the prefix-sum writer must keep its two-pass
    // shape; PMI must keep broadcast totals + TakeOrdered (a global
    // window sort over the pair vocabulary would ship silently); the
    // gap fill must keep per-user windows (no global sort)
    "q36_gap_fill", "l96_pmi_collocations",
    // round-9 wave 7: chat stats must stay one zero-shuffle from_json
    // scan; bitext margin must keep its broadcast-queries pair frame
    // (the corpus side must never shuffle into a cartesian) + window
    // tails; funnel/cohort keep user_id-keyed shuffle joins with no
    // nested loop. q38/l98 are iterative (per-round actions, no single
    // plan) — their shapes are spec'd in GraphOpsSpec instead.
    // (l101's lazy plan is digested as b_margin_mining — its registry
    // entry is an eager checkpoint since the round-10 cache-leak fix)
    "l99_chat_stats", "q39_funnel",
    "q40_cohort_retention",
    // round-9 wave 8: the weighted sample must stay one group-key
    // shuffle + window (no global sort); MaxSim must keep its
    // broadcast-queries nested loop with the token interaction inside
    // ONE projection (a regression that explodes token rows through a
    // shuffle would ship silently). l103 is iterative → spec'd in
    // CurationOpsSpec.
    "l102_weighted_sample", "l104_maxsim",
    // round-9 wave 13: both audits are broadcast-queries scans + one
    // window/agg tail - a corpus-side shuffle into a cartesian would
    // ship silently
    "l114_label_noise", "l115_semantic_decontamination",
    // mojibake repair must stay one zero-shuffle scan
    "l116_mojibake",
    // round-10: the preference triangle enumeration must stay
    // (prompt, response)-keyed equi-joins (a cartesian would ship
    // silently); the PII audit and the simhash registry entry must
    // keep their shapes (one scan + checksum folds; one token
    // aggregation with the 64-long buffer — NOT the explode-by-64
    // shuffle this replaced)
    "l117_preference_cycles", "l119_pii_audit", "l03_simhash",
    // round-9 wave 9: containment must keep its probe→inverted-index
    // equi-join (a regression to all-pairs would ship silently);
    // markdown cleanup must stay one zero-shuffle scan. l107 fits W
    // on the driver before the plan exists → spec'd in AlignSpec.
    "l105_containment", "l106_markdown_to_text",
    // round-9 wave 12: robots evaluation must keep its host-keyed
    // rule join + per-URL window (no cross join of frontier × rules);
    // the JSON profile must stay parse-scan + hash agg + broadcast
    // total; the transition matrix one user window + one pair agg.
    // l111 (HITS) is iterative → CrawlOpsSpec.
    "l112_robots_filter", "l113_json_profile",
    "q41_markov_transitions") ++ builders.keys.toSeq.sorted


  val digestFile = "PLAN_DIGESTS.json"

  /** Operator-kind counts from a formatted explain string. */
  def digest(plan: String): Map[String, Int] = {
    // the tree section prints one node per line ending `... (id)`; count
    // node NAMES there, not in the detail section (which repeats them as
    // `(id) Op` headers). \b keeps Exchange from matching
    // Broadcast/ReusedExchange (reuse is free, not a new shuffle).
    val tree = plan.split("\n").toSeq.filter(_.matches(".*\\(\\d+\\)\\s*$"))
    def nodes(op: String): Int = tree.count(_.matches(s".*\\b$op\\b.*"))
    Map(
      "shuffles" -> nodes("Exchange"),
      "broadcasts" -> nodes("BroadcastExchange"),
      "broadcast_hash_joins" -> nodes("BroadcastHashJoin"),
      "sort_merge_joins" -> nodes("SortMergeJoin"),
      "broadcast_nl_joins" -> nodes("BroadcastNestedLoopJoin"),
      "cartesian_products" -> nodes("CartesianProduct"),
      "sorts" -> nodes("Sort"),
      // formatted mode marks codegen membership per-op as
      // `[codegen id : N]` — distinct ids = codegen spans
      "codegen_spans" -> "codegen id : (\\d+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSet.size,
      "scans" -> nodes("Scan parquet"))
  }

  def digestFor(spark: SparkSession, sfDir: String,
      name: String): Map[String, Int] = {
    val df = builders.get(name).map(_(spark, sfDir))
      .getOrElse(graft.SparkEntry.queries(name)(spark, sfDir))
    digest(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
  }

  def render(all: Seq[(String, Map[String, Int])]): String =
    all.map { case (n, d) =>
      val fields = d.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""  "$n": {$fields}"""
    }.mkString("{\n", ",\n", "\n}\n")

  def main(args: Array[String]): Unit = {
    // the shared config at the spec session's 4 cores: the digests
    // PlanDigestSpec compares against are taken under the same session
    val spark = graft.Sessions.local("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = render(headline.map(n => n -> digestFor(spark, sf, n)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(digestFile), out)
    println(s"wrote ${headline.size} digests to $digestFile")
    spark.stop()
  }
}
