package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{StreamCursor, TableHandle}

/** Corpus-hygiene operators for training-data pipelines (SURVEY §2.6):
  * boilerplate removal, benchmark decontamination, PII redaction,
  * stratified sampling, sequence packing. Everything is expressed as
  * shuffles on small derived keys (token, n-gram hash, stratum) — no
  * all-pairs comparison anywhere, so each operator's cost is
  * O(corpus + matches) and survives a 100 TB corpus.
  */
object Corpus {

  /** Boilerplate removal, CCNet-style at token granularity: tokens that
    * appear in ≥ `dfFrac` of all documents are corpus boilerplate
    * (navigation chrome, legal footers); strip them from every document
    * while preserving the original order of what remains.
    *
    * Scale shape: document frequency is one hash-aggregation over
    * exploded tokens (map-side combine absorbs within-doc repeats); the
    * resulting boilerplate vocabulary is tiny by construction (it is
    * the tokens occurring in MOST documents — bounded by the
    * vocabulary's heavy tail, a few thousand entries at any corpus
    * size), so the subtraction is a broadcast anti-join against the
    * exploded tokens, followed by one re-group on the document id to
    * reassemble text. Nothing in the plan grows faster than the token
    * count.
    *
    * Output: (id, n_kept, n_dropped, kept_text); documents whose every
    * token was boilerplate drop out (nothing left to emit).
    */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      dfFrac: Double = 0.6): DataFrame = {
    val nDocs = docs.count() // scalar: the df threshold, not data motion
    val thr = math.ceil(dfFrac * nDocs).toLong
    val toks = docs.select(col(idCol).as("id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val boiler = toks.groupBy("tok")
      .agg(countDistinct("id").as("dfreq"))
      .filter(col("dfreq") >= thr)
      .select("tok")
    val kept = toks.join(broadcast(boiler), Seq("tok"), "left_anti")
    val reassembled = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")),
        " ").as("kept_text"))
    val totals = docs.select(col(idCol).as("id"),
      size(split(col(textCol), " ")).cast("long").as("n_total"))
    reassembled.join(totals, "id")
      .select(col("id").as(idCol), col("n_kept"),
        (col("n_total") - col("n_kept")).as("n_dropped"), col("kept_text"))
  }

  /** Benchmark decontamination: flag corpus documents sharing at least
    * one k-word gram (default 8, the n-gram size common in published
    * decontamination setups) with any benchmark document. Returns one
    * row per (corpus doc, benchmark doc) pair with the count of shared
    * distinct k-grams.
    *
    * Scale shape: both sides shingle with the codegen'd `WordShingles`
    * kernel, explode, and equi-join on the gram — candidate volume is
    * O(shared grams), never |corpus| × |benchmark|. The benchmark side
    * is small in practice (eval sets, not corpora): Spark's planner
    * broadcasts it under AQE; the corpus side streams.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, k: Int = 8): DataFrame = {
    // the gram string never leaves the join — census/join on its
    // xxhash64 instead (8 bytes/gram through the shuffle; equality
    // preserved up to 64-bit collisions, the l41/l68 argument — the
    // string-equality oracle at sf0.01 would fail loudly on one)
    def grams(df: DataFrame, as: String) =
      TextDedup.withShingles(df.select(col(idCol).as(as), col(textCol)),
          textCol, "g", k)
        .select(col(as), explode(col("g")).as("_g"))
        .select(col(as), xxhash64(col("_g")).as("gram"))
    grams(corpus, "doc_id_c").join(grams(benchmark, "bench_id"), "gram")
      .groupBy("doc_id_c", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id_c").as(idCol), col("bench_id"), col("n_shared"))
  }

  /** Multi-benchmark contamination REPORT: [[decontaminate]] audits
    * one eval set; real releases check many at once (MMLU, GSM8K, …)
    * and publish per-set hit counts in the dataset card. Per
    * (corpus doc, eval set): total shared `k`-gram matches summed over
    * that set's documents, and how many of its documents were hit.
    * Rows appear only for contaminated (doc, set) pairs — the caller
    * thresholds `n_shared` for the drop decision.
    *
    * Scale shape: ONE gram equi-join for all sets (the benchmark union
    * carries its set label through the explode), both aggregations
    * map-side combinable; benchmark suites are tiny next to the
    * corpus, so the gram join's build side broadcasts in practice.
    */
  def contaminationReport(corpus: DataFrame,
      benchmarks: Seq[(String, DataFrame)],
      idCol: String, textCol: String, k: Int = 8): DataFrame = {
    require(benchmarks.nonEmpty, "at least one benchmark set required")
    // hashed gram join key — see [[decontaminate]] (r14 opt)
    val cg = TextDedup.withShingles(
        corpus.select(col(idCol), col(textCol)), textCol, "g", k)
      .select(col(idCol), explode(col("g")).as("_g"))
      .select(col(idCol), xxhash64(col("_g")).as("gram"))
    val bench = benchmarks.map { case (name, df) =>
      df.select(lit(name).as("eval_set"), col(idCol).as("_cr_bid"),
        col(textCol))
    }.reduce(_ unionAll _)
    val bg = TextDedup.withShingles(bench, textCol, "g", k)
      .select(col("eval_set"), col("_cr_bid"), explode(col("g")).as("_g"))
      .select(col("eval_set"), col("_cr_bid"), xxhash64(col("_g")).as("gram"))
    cg.join(bg, "gram")
      .groupBy(col(idCol), col("eval_set"))
      .agg(count(lit(1)).as("n_shared"),
        countDistinct(col("_cr_bid")).as("n_bench_docs"))
  }

  /** PII patterns kept deliberately engine-portable (no lookarounds):
    * the same source strings compile identically under Java regex and
    * RE2-family engines, so redaction is reproducible off-Spark too.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}"

  /** Redact emails and phone-shaped tokens from `textCol` (pure
    * columnar `regexp_replace` — codegen'd, no UDF in the hot path).
    */
  def redactPii(df: DataFrame, textCol: String, out: String = "redacted"): DataFrame =
    df.withColumn(out,
      regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"))

  /** Luhn checksum validity of a digit string (ISO/IEC 7812 — the
    * payment-card check digit): from the right, double every second
    * digit (folding >9 to d-9) and require the sum ≡ 0 mod 10. Pure
    * HOF expression (aggregate over character positions), no UDF —
    * and the same fold writes directly in any engine with list
    * transforms, so PII detection stays oracle-checkable.
    */
  def luhnValid(digits: Column): Column =
    aggregate(
      sequence(lit(1), length(digits)),
      lit(0),
      (acc, i) => {
        val d = ascii(reverse(digits).substr(i, lit(1))) - lit(48)
        acc + when(i % 2 === 1, d)
          .otherwise(when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
      }) % 10 === 0

  /** Extended PII audit — the counting sibling of [[redactPii]], with
    * payment-card VALIDATION: a bare 16-digit run is usually an id or
    * a timestamp, so flagging every digit run drowns review queues;
    * the Luhn checksum separates card-shaped noise from numbers that
    * are actually issuable ([[luhnValid]]). Output per document:
    * `n_card_candidates` (13-19-digit runs), `n_cards_valid`
    * (Luhn-passing), `n_emails`, `n_phones`.
    *
    * Scan-shaped: regexp extraction + per-candidate checksum fold,
    * zero shuffle, codegen-friendly.
    */
  def piiAudit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cards = regexp_extract_all(col(textCol), lit("[0-9]{13,19}"), lit(0))
    df.select(col(idCol),
      size(cards).as("n_card_candidates"),
      size(filter(cards, c => luhnValid(c))).as("n_cards_valid"),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0)))
        .as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0)))
        .as("n_phones"))
  }

  /** URL pattern, engine-portable (no lookarounds; non-capturing group
    * for the optional path) — identical under Java regex and RE2.
    */
  val UrlRe = "https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9._/%-]*)?"

  /** Extract every URL from `textCol` (one output row per occurrence,
    * duplicates preserved) with its domain, flagged against a domain
    * blocklist — the source-filtering step of a web-corpus pipeline.
    *
    * Pure columnar `regexp_extract_all` + `explode`; the blocklist is a
    * literal IN-list (curation blocklists are small), so the flag stays
    * inside whole-stage codegen — no join, no shuffle beyond the scan.
    */
  def urlReport(df: DataFrame, idCol: String, textCol: String,
      blockedDomains: Seq[String]): DataFrame =
    df.select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit(UrlRe), lit(0))).as("url"))
      .withColumn("domain",
        regexp_extract(col("url"), "https?://([A-Za-z0-9.-]+)", 1))
      .withColumn("blocked",
        col("domain").isInCollection(blockedDomains))

  /** Incremental exact dedup: drop batch documents whose normalized
    * text fingerprint already exists in the corpus — the per-ingest
    * step that keeps a growing corpus duplicate-free without ever
    * re-deduplicating history.
    *
    * Scale shape: both sides reduce to md5 fingerprints; the corpus
    * side collapses to distinct fingerprints (map-side combine), and
    * the anti-join shuffles 16-byte keys, never document text. Cost is
    * O(batch + corpus fingerprints) per ingest.
    */
  def dedupAgainstCorpus(batch: DataFrame, corpus: DataFrame,
      textCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    batch.withColumn("fp", fp)
      .join(corpus.select(fp.as("fp")).distinct(), Seq("fp"), "left_anti")
  }

  /** One exactly-once ingest step over a stream cursor: pin the
    * unconsumed slice ([[graft.core.StreamCursor.batch]]), let `write`
    * append and flush what it makes of it, then checkpoint. A crash
    * after the flush and before the checkpoint re-delivers the slice;
    * every writer ends in the exact-fingerprint anti-join against the
    * corpus, so the replay appends nothing. An empty slice writes and
    * checkpoints nothing.
    */
  private[llm] def ingestSlice(cursor: StreamCursor)(write: DataFrame => Unit): Unit = {
    val slice = cursor.batch()
    if (!slice.isEmpty) {
      write(slice)
      cursor.checkpoint()
    }
  }

  /** Append `batch` to `corpus` keeping it duplicate-free, then flush:
    * one row per normalized-text fingerprint within the batch (the
    * first in the batch's column order), minus fingerprints the corpus
    * already holds ([[dedupAgainstCorpus]]).
    */
  private def appendFresh(batch: DataFrame, corpus: TableHandle, textCol: String): Unit = {
    val inBatch = batch.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("fp").orderBy(batch.columns.map(col): _*)))
      .filter(col("_rn") === 1).drop("_rn", "fp")
    corpus.append(
      if (corpus.exists) dedupAgainstCorpus(inBatch, corpus.read, textCol).drop("fp")
      else inBatch)
    corpus.flush()
  }

  /** Incremental exact-dedup ingest of a stream into a corpus table:
    * each cursor slice collapses its own duplicate fingerprints, drops
    * rows whose fingerprint the corpus already holds, and appends the
    * survivors — [[dedupAgainstCorpus]] driven by a
    * [[graft.core.StreamCursor]], keeping a growing corpus
    * duplicate-free without ever re-deduplicating history.
    *
    * Scale: per slice the corpus side reduces to distinct 16-byte
    * fingerprints (map-side combine) for the anti-join; cost is
    * O(slice + corpus fingerprints), never slice × history.
    */
  def dedupedIngest(cursor: StreamCursor, corpus: TableHandle, textCol: String): Unit =
    ingestSlice(cursor)(appendFresh(_, corpus, textCol))

  /** Curated ingest: the cleaning gauntlet per cursor slice — C4
    * line/page rules ([[c4Clean]]) rewrite each page to its kept lines,
    * the linear quality classifier
    * ([[TextAnalysis.qualityClassifier]]) gates what survives, and the
    * [[dedupedIngest]] step (in-batch collapse + corpus anti-join)
    * keeps the corpus duplicate-free. The corpus receives the CLEANED
    * text as (id, text, quality score).
    *
    * Scale: every stage before the anti-join is scan-shaped column
    * work; per-slice cost is O(slice + matches).
    */
  def curatedIngest(cursor: StreamCursor, corpus: TableHandle,
      idCol: String, textCol: String,
      minLineWords: Int = 3, minLines: Int = 1): Unit =
    ingestSlice(cursor) { slice =>
      val cleaned = c4Clean(slice, idCol, textCol,
          minLineWords = minLineWords, minLines = minLines)
        .select(col(idCol), col("cleaned_text").as(textCol))
      val gated = TextAnalysis.qualityClassifier(cleaned, idCol, textCol)
        .filter(col("keep"))
        .join(cleaned, idCol)
        .select(col(idCol), col(textCol), col("score"))
      appendFresh(gated, corpus, textCol)
    }

  /** Bloom-prefiltered incremental exact dedup — [[dedupAgainstCorpus]]
    * with a membership index in front: the corpus's fingerprint set
    * aggregates into a Bloom filter (distributed build via
    * `stat.bloomFilter`, merged on the driver — the filter IS the
    * persistable dedup index: ~1.2 GB per 10⁹ documents at 1% fpp,
    * shard by fingerprint prefix beyond that), the filter broadcasts,
    * and only bloom-POSITIVE batch rows enter the verification
    * semi-join. Bloom filters have no false negatives, so the output
    * is bit-identical to the exact path — false positives cost only
    * wasted verification, bounded by `fpp × batch`.
    *
    * Scale shape: per ingest the corpus-side join input shrinks from
    * the whole batch to `dupes + fpp × batch` rows — at 100 TB with a
    * mostly-novel batch that is the difference between shuffling the
    * batch and shuffling (almost) nothing. The corpus fingerprint scan
    * to BUILD the index is one pass, paid once and reused across
    * ingests (persist the filter object).
    */
  def bloomDedupAgainstCorpus(batch: DataFrame, corpus: DataFrame,
      textCol: String, fpp: Double = 0.01): DataFrame = {
    val spark = batch.sparkSession
    val fp = TextAnalysis.fingerprint(col(textCol))
    val corpusFps = corpus.select(fp.as("fp"))
    val nCorpus = corpusFps.count()
    // Empty corpus: stat.bloomFilter NPEs on zero rows (its aggregate
    // merges a null buffer), and the answer needs no filter anyway —
    // with nothing to collide against, the whole batch is novel.
    if (nCorpus == 0)
      return batch.withColumn("fp", fp)
    val filter = corpusFps.stat.bloomFilter("fp", nCorpus, fpp)
    val bc = spark.sparkContext.broadcast(filter)
    // null fingerprint (null text) → not a dup candidate; the filter
    // itself NPEs on null input
    val mightContain =
      udf((s: String) => s != null && bc.value.mightContainString(s))
    val fpBatch = batch.withColumn("_bd_fp", fp)
    val candidates = fpBatch.filter(mightContain(col("_bd_fp")))
    val confirmed = candidates
      .join(corpusFps.select(col("fp").as("_bd_fp")).distinct(),
        Seq("_bd_fp"), "left_semi")
      .select("_bd_fp").distinct()
    fpBatch.join(confirmed, Seq("_bd_fp"), "left_anti")
      .withColumnRenamed("_bd_fp", "fp")
  }

  /** Corpus changelog between two versions (the audit step after a
    * cleaning/dedup pass, and the companion to the catalog's
    * time-travel reads): per document id, whether it was `added`,
    * `removed`, `changed` (same id, different normalized-text
    * fingerprint), or `unchanged`. One full-outer join on the id with
    * 16-byte fingerprints — text never shuffles, so diffing two 100 TB
    * versions moves only ids and hashes.
    */
  def corpusDiff(oldV: DataFrame, newV: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val o = oldV.select(col(idCol).as("_cd_id"), fp.as("_cd_old"))
    val n = newV.select(col(idCol).as("_cd_id"), fp.as("_cd_new"))
    o.join(n, Seq("_cd_id"), "full_outer")
      .select(col("_cd_id").as(idCol),
        when(col("_cd_old").isNull, "added")
          .when(col("_cd_new").isNull, "removed")
          .when(col("_cd_old") =!= col("_cd_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Deterministic train/val/test split assignment: each row lands in
    * a named split with probability proportional to its weight, chosen
    * by the same multiplicative id hash as [[stratifiedSample]] — so
    * membership is a pure function of the id, reproducible across
    * engines, retries, partitionings, and corpus versions (a document
    * keeps its split when the corpus around it changes — the property
    * that prevents eval-set leakage across dataset releases; an
    * RNG-based randomSplit loses it on every re-run).
    *
    * Scale shape: scan-time column expression, zero shuffle — the
    * split column is computed per row from the id alone.
    *
    * @param splits (name, weight) in priority order; weights are
    *               normalized (0.8/0.1/0.1 and 8/1/1 are the same)
    */
  def assignSplits(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits must be non-empty with positive weights")
    val total = splits.map(_._2).sum
    // All Knuth-hash sites reduce the id by the OUTER modulus before
    // the multiply: (c·id) mod m = (c·(id mod m)) mod m, so the result
    // is bit-identical to the oracle's unbounded-int math for every id
    // while the product stays < 2^52 — the naive id·2654435761 raised
    // ANSI ARITHMETIC_OVERFLOW at id ≳ 3.5e9 (found by the round-13
    // 1000× probe, where replica ids reach 1e10).
    val frac = pmod(pmod(col(idCol), lit(1048576L)) * lit(2654435761L), lit(1048576L)) /
      lit(1048576.0)
    val cuts = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.init // cumulative upper bounds, last split catches the rest
    val expr = splits.init.zip(cuts).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cut)) =>
        val cond = frac < lit(cut)
        Some(acc.fold(when(cond, name))(_.when(cond, name)))
    }.fold(lit(splits.head._1))(_.otherwise(splits.last._1))
    df.withColumn("split", expr)
  }

  /** Deterministic stratified sample: keep `k` documents per stratum,
    * chosen by a multiplicative hash of the id (so membership is
    * reproducible across engines, retries, and partitionings — the
    * property RNG-based TABLESAMPLE loses on every task re-run).
    *
    * Scale note: one shuffle on the stratum column. With FEW massive
    * strata (e.g. 5 languages over 100 TB) the window serializes each
    * stratum through one partition — there, replace the rank with a
    * per-stratum hash threshold (keep rows whose hash < k/N_stratum
    * quantile, computed once) to stay fully parallel. For the common
    * many-strata case (domain, source bucket) this rank form is exact
    * and single-pass.
    */
  /** Weighted sampling without replacement, per group (Efraimidis &
    * Spirakis 2006): each row draws priority u^(1/w) for a uniform u
    * and the k highest priorities win — exactly the distribution of
    * sequential weighted draws without replacement, but embarrassingly
    * parallel (one per-group top-k window, no sequential state). The
    * quality-weighted subsample step of corpus curation (longer /
    * higher-scoring documents kept with proportionally higher odds)
    * at any scale: one shuffle on the group key.
    *
    * Determinism: u comes from the engine-portable integer mix (the
    * q34 device), and the rank key is ln(u)/w — the same ordering as
    * u^(1/w) (monotone transform), but `ln` is the transcendental this
    * project has already proven bit-stable across engines. Weights
    * must be > 0; rows with null/≤0 weight are dropped (they carry no
    * sampling mass).
    */
  def weightedSample(df: DataFrame, groupCol: String, idCol: String,
      weight: Column, k: Int, seed: Long = 42L): DataFrame = {
    // u ∈ (0,1]: 20-bit integer mix, never exactly 0
    val u = (pmod(pmod(col(idCol), lit(1048576L)) * lit(2654435761L) + lit(seed), lit(1048576L)) + 1) /
      lit(1048577.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("_pri").desc, col(idCol))
    df.filter(weight > 0)
      .withColumn("_pri", round(log(u) / weight, 9))
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= k)
      .drop("_pri")
  }

  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(pmod(pmod(col(idCol), lit(1048576L)) * lit(2654435761L), lit(1048576L)), col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Split documents into overlapping token-window chunks (size
    * `chunkTokens`, overlap `overlapTokens`) — the long-document step
    * before embedding or context-window training. Chunk i covers
    * tokens [i·stride+1, i·stride+chunkTokens], stride = size−overlap;
    * documents at most one chunk long pass through whole.
    *
    * Pure columnar (`transform` over a per-doc `sequence` + one
    * `posexplode`): no shuffle at all — chunking is embarrassingly
    * parallel over the scan, and output order inside a document is the
    * chunk index.
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(overlapTokens < chunkTokens, "overlap must be < chunk size")
    val stride = chunkTokens - overlapTokens
    val ws = split(trim(col(textCol)), "\\s+")
    val n = size(ws)
    val nChunks = when(n <= chunkTokens, lit(1L))
      .otherwise(ceil((n - lit(overlapTokens)).cast("double") / stride).cast("long"))
    docs.select(col(idCol), ws.as("ws"), nChunks.as("nc"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0L), col("nc") - 1),
          i => slice(col("ws"), (i * stride + 1).cast("int"), lit(chunkTokens))))
          .as(Seq("chunk_idx", "chunk")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("chunk_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  /** Deterministic source-mix resampling: keep each document with a
    * per-source probability (`fractions`, else `defaultFrac`) decided
    * by the same multiplicative id-hash as [[stratifiedSample]] — the
    * data-mixture step that reweights corpus composition (e.g. keep
    * 100% of books, 10% of common-crawl) reproducibly: membership is a
    * pure function of the id, stable across engines, retries, and
    * partitionings.
    *
    * Columnar filter, no shuffle; the mix map is a literal CASE.
    */
  def sourceMix(df: DataFrame, sourceCol: String, idCol: String,
      fractions: Map[String, Double], defaultFrac: Double): DataFrame = {
    val frac = fractions.foldRight(lit(defaultFrac)) { case ((s, f), acc) =>
      when(col(sourceCol) === s, lit(f)).otherwise(acc)
    }
    df.filter(
      pmod(pmod(col(idCol), lit(1048576L)) * lit(2654435761L), lit(1048576L)) <
        frac * lit(1048576.0))
  }

  /** Token-budget mixture planner — the "how many epochs of each
    * source" table of a pretraining data card (the LLaMA-style
    * sampling-proportion table): given a total token target and a
    * sampling temperature τ, each source's target share is
    * `avail_s^τ / Σ avail^τ` and its EPOCH COUNT is
    * `target_s / avail_s` — the number > 1 flags sources the schedule
    * would repeat (the overfitting-risk column reviewers look for).
    * Output per source: `tokens_available`, `share` (natural),
    * `weight` (tempered, 6 dp), `tokens_target`, `epochs` (4 dp).
    *
    * Scale shape: one token-count aggregation (map-side combinable)
    * collapses the corpus to a source-cardinality table; the tempered
    * normalizer flows through a broadcast 1-row total — one lazy plan,
    * no collect, no data-sized shuffle beyond the count.
    */
  def tokenBudget(docs: DataFrame, textCol: String, srcCol: String,
      targetTokens: Long, tau: Double = 0.7): DataFrame = {
    require(tau > 0 && tau <= 1, "tau must be in (0, 1]")
    val counts = docs.groupBy(srcCol)
      .agg(sum(TextAnalysis.tokenCount(col(textCol)).cast("long"))
        .as("tokens_available"))
      .withColumn("_w", pow(col("tokens_available").cast("double"), lit(tau)))
    val totals = counts.agg(
      sum(col("tokens_available")).cast("double").as("_tot"),
      sum(col("_w")).as("_wtot"))
    counts.crossJoin(broadcast(totals))
      .select(col(srcCol),
        col("tokens_available"),
        round(col("tokens_available") / col("_tot"), 6).as("share"),
        round(col("_w") / col("_wtot"), 6).as("weight"),
        round(col("_w") / col("_wtot") * targetTokens).cast("long")
          .as("tokens_target"),
        round(col("_w") / col("_wtot") * targetTokens /
          col("tokens_available"), 4).as("epochs"))
  }

  /** Deterministic round-robin source interleave — the epoch-order
    * layout step of a pretraining run: within each source, documents
    * take a seeded-hash order (`seq`); globally, position 1..N cycles
    * the sources (block `seq` = the seq-th doc of every still-alive
    * source, source-ordered), so a reader streaming positions in
    * order sees sources interleaved 1:1 until a source exhausts.
    *
    * Scale shape: the naive global ordering is a one-task window; the
    * position here is CLOSED-FORM instead —
    * `pos = Σ_{s'} min(seq-1, cnt_{s'})  +  #{s' < s alive at seq} + 1`
    * — computed by crossing each row with the broadcast per-source
    * count table (source cardinality is small by construction), so
    * the only shuffles are the per-source seq window (partitioned by
    * source) and one hash re-aggregation. Nothing global ever sits in
    * one task, and positions are a pure function of corpus content:
    * reproducible across runs and partitionings.
    */
  def interleaveSources(docs: DataFrame, idCol: String, srcCol: String,
      seed: Long = 42L): DataFrame = {
    val key = pmod(pmod(col(idCol), lit(1048576L)) * lit(2654435761L) + lit(seed), lit(1048576L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol)).orderBy(key, col(idCol))
    val seqd = docs.select(col(idCol), col(srcCol))
      .withColumn("seq", row_number().over(w).cast("long"))
    val counts = seqd.groupBy(srcCol).agg(count(lit(1)).as("_c"))
      .select(col(srcCol).as("_s2"), col("_c"))
    seqd.crossJoin(broadcast(counts))
      .groupBy(col(idCol), col(srcCol), col("seq"))
      .agg(
        sum(least(col("seq") - 1, col("_c"))).as("_before"),
        sum(when(col("_c") >= col("seq") && col("_s2") < col(srcCol), 1L)
          .otherwise(0L)).as("_same_block"))
      .select(col(idCol), col(srcCol), col("seq"),
        (col("_before") + col("_same_block") + 1).as("position"))
  }

  /** Temperature-based source rebalancing (the multilingual/mC4
    * sampling rule): target share of source i ∝ nᵢ^τ — τ=1 keeps the
    * natural mix, τ→0 equalizes sources. Sampling can only REMOVE
    * rows, so the budget is the largest total for which every source
    * can meet its target share from its own rows (B = min nᵢ/pᵢ);
    * each source keeps `min(1, B·pᵢ/nᵢ)` of its rows, chosen by the
    * deterministic multiplicative id hash (same reproducibility
    * contract as [[sourceMix]] / [[assignSplits]]).
    *
    * Scale shape: one count aggregation; the per-source fraction table
    * (bounded by source cardinality) flows through broadcast 1-row
    * totals — no collect, one lazy plan — and joins back as a
    * broadcast; the keep decision is scan-time hash arithmetic.
    * Fractions round to 6 dp so the decision is engine-portable
    * (`pow` is within-1-ulp, not bit-exact, across libms).
    */
  def temperatureMix(df: DataFrame, sourceCol: String, idCol: String,
      tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, "tau must be in (0, 1]")
    val counts = df.groupBy(sourceCol)
      .agg(count(lit(1)).cast("double").as("_tm_n"))
      .withColumn("_tm_w", pow(col("_tm_n"), lit(tau)))
    val total = counts.agg(sum("_tm_w").as("_tm_tot"))
    val shares = counts.crossJoin(broadcast(total))
      .withColumn("_tm_p", col("_tm_w") / col("_tm_tot"))
    val budget = shares.agg(min(col("_tm_n") / col("_tm_p")).as("_tm_b"))
    val fracs = shares.crossJoin(broadcast(budget))
      .select(col(sourceCol),
        round(least(lit(1.0), col("_tm_b") * col("_tm_p") / col("_tm_n")), 6)
          .as("_tm_frac"))
    df.join(broadcast(fracs), sourceCol)
      .filter(pmod(pmod(col(idCol), lit(1048576L)) * lit(2654435761L), lit(1048576L)) <
        col("_tm_frac") * lit(1048576.0))
      .drop("_tm_frac")
  }

  /** Training-shard assignment: give every document a shard number
    * such that shards, read in order, stream the corpus in a
    * deterministic globally-shuffled order with ~`tokensPerShard`
    * tokens per shard — the layout step before writing training data
    * as fixed-size shard files. The order is the multiplicative id
    * hash (ties to the id), the same engine-portable shuffle contract
    * as [[assignSplits]]/[[sourceMix]]; a document's shard is a pure
    * function of the corpus content, reproducible across runs and
    * partitionings. `shard = floor(exclusivePrefixTokens / budget)`,
    * so a document begins in the shard where its first token lands.
    *
    * Scale shape: the naive formulation is a cumulative sum over ONE
    * global ordering — a single-partition window that serializes the
    * whole corpus through one task. This implementation is the classic
    * two-pass distributed prefix sum: the hash keyspace splits into
    * `orderBuckets` contiguous ranges (so bucket order IS global
    * order), pass 1 computes per-bucket token totals (a B-row
    * aggregate) and turns them into bucket offsets with a window over
    * B rows, pass 2 cumsums WITHIN each bucket in parallel and adds
    * the broadcast offset. Per-task work is corpus/B; nothing global
    * ever sits in one task. At 100 TB: B = O(executors × 4) keeps the
    * offset table trivially broadcastable while every cumsum window
    * fits an executor.
    */
  def assignShards(docs: DataFrame, idCol: String, weight: Column,
      tokensPerShard: Long, orderBuckets: Int = 256): DataFrame = {
    require(tokensPerShard > 0, "tokensPerShard must be positive")
    require(orderBuckets > 0 && 1048576 % orderBuckets == 0,
      "orderBuckets must divide the 2^20 hash keyspace")
    import org.apache.spark.sql.expressions.Window
    val width = 1048576L / orderBuckets
    // null weights (null text → null token count) count as 0 tokens:
    // the document still gets a shard instead of a null cascade
    // through the prefix sums
    val base = docs.select(col(idCol),
        coalesce(weight.cast("long"), lit(0L)).as("n_tokens"),
        pmod(pmod(col(idCol), lit(1048576L)) * lit(2654435761L), lit(1048576L)).as("_sh_hk"))
      .withColumn("_sh_bkt", floor(col("_sh_hk") / lit(width.toDouble)))
    // pass 1: per-bucket totals -> exclusive bucket offsets. The
    // unpartitioned window is over at most `orderBuckets` rows.
    val offsets = base.groupBy("_sh_bkt")
      .agg(sum("n_tokens").as("_sh_bwt"))
      .withColumn("_sh_off",
        coalesce(sum(col("_sh_bwt")).over(
          Window.orderBy("_sh_bkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_sh_bwt")
    // pass 2: within-bucket exclusive cumsum (parallel across buckets)
    val w = Window.partitionBy("_sh_bkt").orderBy(col("_sh_hk"), col(idCol))
    base.join(broadcast(offsets), "_sh_bkt")
      .withColumn("_sh_pre",
        col("_sh_off") + coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("shard",
        floor(col("_sh_pre") / lit(tokensPerShard.toDouble)).cast("long"))
      .select(col(idCol), col("n_tokens"), col("shard"))
  }

  /** Per-source dataset-card composition report: the table a dataset
    * card publishes next to [[graft.operators.ConnectedComponents
    * .collapseReport]]'s dedup numbers — documents, token/char volume,
    * language spread, mean quality signals, and the fraction passing
    * the linear quality classifier, per source. One map-side-combined
    * aggregation over the scan (all signals are codegen'd column
    * expressions), so the report costs one pass at any corpus size.
    */
  def datasetCard(docs: DataFrame, sourceCol: String, langCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    docs.groupBy(col(sourceCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.tokenCount(t).cast("long")).as("n_tokens"),
      sum(length(t).cast("long")).as("n_chars"),
      countDistinct(col(langCol)).as("n_langs"),
      round(avg(TextAnalysis.alphaRatio(t)), 6).as("mean_alpha_ratio"),
      round(avg(TextAnalysis.punctRatio(t)), 6).as("mean_punct_ratio"),
      round(avg(TextAnalysis.avgWordLen(t)), 6).as("mean_word_len"),
      round(sum(when(TextAnalysis.classifierScore(t) >= 0.5, 1)
        .otherwise(0)) * lit(1.0) / count(lit(1)), 6).as("keep_frac"))
  }

  /** Content-defined chunk table: one row per (document, chunk) with
    * byte offset/length and the 64-bit chunk fingerprint, from the
    * codegen'd gear-hash CDC kernel ([[graft.functions.CdcChunks]]).
    * Boundaries are content-local, so re-crawled/shifted documents
    * share fingerprints for every unchanged span — the
    * storage/transfer-dedup primitive fixed-size chunking can't
    * provide. Scan + generate, no shuffle.
    */
  def cdcChunkTable(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 16, maxLen: Int = 256, maskBits: Int = 6): DataFrame =
    docs.select(col(idCol),
        posexplode(graft.functions.CdcChunks.chunks(
          col(textCol), minLen, maxLen, maskBits)).as(Seq("chunk_idx", "_ch")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("_ch.offset").as("offset"), col("_ch.len").as("len"),
        col("_ch.fp").as("fp"))

  /** Corpus-level CDC dedup report: how many bytes the corpus shares
    * at chunk granularity — total vs distinct chunks, total vs unique
    * bytes, and the dedup ratio (the snapshot-storage win a
    * content-addressed store would realize). One hash aggregation on
    * the chunk fingerprint (state bounded by distinct content, not
    * corpus size) and a 1-row fold.
    */
  def cdcDedupReport(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 16, maxLen: Int = 256, maskBits: Int = 6): DataFrame = {
    val perFp = cdcChunkTable(docs, idCol, textCol, minLen, maxLen, maskBits)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"), min(col("len")).as("chunk_bytes"))
    perFp.agg(
      sum(col("n_copies")).as("total_chunks"),
      count(lit(1)).as("distinct_chunks"),
      sum(col("n_copies") * col("chunk_bytes")).as("total_bytes"),
      sum(col("chunk_bytes")).as("unique_bytes"),
      round(lit(1.0) - sum(col("chunk_bytes")) * lit(1.0) /
        sum(col("n_copies") * col("chunk_bytes")), 6).as("dedup_ratio"))
  }

  /** Unicode-normalization report: per document, the NFC-normalized
    * fingerprint plus before/after code-point counts and a changed
    * flag — the canonicalization pass that runs before exact dedup so
    * composed/decomposed twins ("café" as U+00E9 vs e+U+0301) hash to
    * the same fingerprint. Scan-shaped (the codegen'd
    * [[graft.functions.UnicodeNorm]] kernel with an allocation-free
    * already-normalized fast path), zero shuffle.
    */
  def normalizeReport(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = graft.functions.UnicodeNorm.nfc(col(textCol))
    docs.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars_raw"),
      length(n).cast("long").as("n_chars_nfc"),
      (n =!= col(textCol)).as("changed"),
      md5(n).as("fp"))
  }

  /** Materialize the corpus as training shards on disk: one parquet
    * directory per [[assignShards]] shard (`shard=N/` partition dirs,
    * one file each), rows within a shard sorted by the global shuffle
    * order (id hash, id) — so shards read in directory order stream
    * the corpus in the exact deterministic order the assignment
    * defined, ~`tokensPerShard` tokens per file. Returns the per-shard
    * summary READ BACK from the written files (shard, n_docs,
    * shard_tokens) — the returned frame proves the round trip, not
    * just the plan.
    *
    * Scale shape: the assignment's two-pass prefix sum, one
    * repartition on the shard id (each shard lands in one task → one
    * file per partition dir), and a write. No driver state.
    */
  def writeShards(docs: DataFrame, idCol: String, weight: Column,
      tokensPerShard: Long, dir: String, orderBuckets: Int = 256): DataFrame = {
    // The assignment's prefix-sum windows CARRY the document payload
    // instead of re-joining it afterwards (r14 opt): the join shuffled
    // every payload byte by id (plus two sorts) only to reattach rows
    // the window pass already held — same [[assignShards]] arithmetic
    // (same bucket key, same offsets, same shard ids), one fewer
    // payload shuffle. Payload bytes now move exactly twice: into the
    // bucket window, then into the shard-keyed write repartition —
    // the guide-§8 "move heavy rows once per decision" shape.
    require(tokensPerShard > 0, "tokensPerShard must be positive")
    require(orderBuckets > 0 && 1048576 % orderBuckets == 0,
      "orderBuckets must divide the 2^20 hash keyspace")
    import org.apache.spark.sql.expressions.Window
    val width = 1048576L / orderBuckets
    val hk = pmod(pmod(col(idCol), lit(1048576L)) * lit(2654435761L),
      lit(1048576L))
    val base = docs
      .withColumn("n_tokens", coalesce(weight.cast("long"), lit(0L)))
      .withColumn("_sh_hk", hk)
      .withColumn("_sh_bkt", floor(col("_sh_hk") / lit(width.toDouble)))
    val offsets = base.groupBy("_sh_bkt")
      .agg(sum("n_tokens").as("_sh_bwt"))
      .withColumn("_sh_off",
        coalesce(sum(col("_sh_bwt")).over(
          Window.orderBy("_sh_bkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_sh_bwt")
    val w = Window.partitionBy("_sh_bkt").orderBy(col("_sh_hk"), col(idCol))
    val toWrite = base.join(broadcast(offsets), "_sh_bkt")
      .withColumn("shard",
        floor((col("_sh_off") + coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          / lit(tokensPerShard.toDouble)).cast("long"))
      .drop("_sh_bkt", "_sh_hk", "_sh_off")
    toWrite
      .repartition(col("shard"))
      // shard ids are monotone in the (id-hash, id) shuffle order, so
      // leading with `shard` leaves the within-shard order unchanged
      // AND gives the dynamic-partition writer the sorted-by-partition
      // input it requires — without it, FileFormatWriter inserts its
      // own sort over the payload
      .sortWithinPartitions(col("shard"),
        pmod(pmod(col(idCol), lit(1048576L)) * lit(2654435761L), lit(1048576L)), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    // Explicit schema on the read-back: an EMPTY corpus writes only
    // _SUCCESS (no parquet footers to infer from), and the round-trip
    // read should then return zero summary rows, not fail analysis.
    docs.sparkSession.read.schema(toWrite.schema).parquet(dir)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"))
  }

  /** Sequence packing: assign documents to context-window bins of at
    * most `budget` tokens (greedy next-fit in id order), the step that
    * turns a cleaned corpus into fixed-length training sequences.
    *
    * Scale shape: documents hash-partition by id, sort within each
    * partition, and pack in one `mapPartitions` pass — no shuffle
    * beyond the initial repartition, no driver state. Bin ids are
    * (partitionId << 32 | localBin), unique without coordination.
    * Oversized documents (> budget tokens) get a bin of their own —
    * flagged `oversize` for the caller's chunking policy.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      budget: Int, partitions: Int = 0): DataFrame = {
    val n = if (partitions > 0) partitions
      else docs.sparkSession.sparkContext.defaultParallelism
    // null text packs as 0 tokens (the row still gets a bin) instead of
    // failing the encoder with a null n_tokens
    val sized = docs.select(col(idCol).as("id"),
        coalesce(size(split(col(textCol), " ")), lit(0)).as("n_tokens"))
      .repartition(n, col("id"))
      .sortWithinPartitions("id")
    val schema = StructType(Seq(
      StructField("id", sized.schema("id").dataType),
      StructField("n_tokens", IntegerType),
      StructField("bin", LongType),
      StructField("oversize", BooleanType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    sized.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var localBin = 0L
      var used = 0
      var first = true
      rows.map { r =>
        val t = r.getInt(1)
        if (!first && used + t > budget) { localBin += 1; used = 0 }
        first = false
        used += t
        Row(r.get(0), t, (pid << 32) | localBin, t > budget)
      }
    }(enc).withColumnRenamed("id", idCol)
  }

  /** [[packSequences]] with ENGINE-INDEPENDENT bin ids: documents
    * shard by an explicit arithmetic key (`id mod shards`) and pack
    * greedily in id order WITHIN each shard, bin id =
    * (shard << 32 | binInShard). Unlike [[packSequences]] — whose bin
    * ids embed the task's partition id, i.e. depend on Spark's hash
    * partitioner and the session's parallelism — every output cell
    * here is a pure function of the input rows, so the assignment is
    * reproducible by ANY engine that can iterate a shard in id order
    * (the l22 oracle replays it as a DuckDB recursive CTE).
    *
    * Scale shape: identical to [[packSequences]] — one repartition +
    * per-partition streaming pass, no driver state. A partition may
    * receive several shards (hash collisions of the shard key); the
    * packer resets its bin state on each shard boundary, so
    * co-residence never changes the assignment. `shards` plays the
    * parallelism role: set it to ~the cluster's task slots.
    */
  def packSequencesDeterministic(docs: DataFrame, idCol: String,
      textCol: String, budget: Int, shards: Int): DataFrame = {
    require(shards >= 1, "shards must be positive")
    val sized = docs.select(col(idCol).as("id"),
        coalesce(size(split(col(textCol), " ")), lit(0)).as("n_tokens"),
        pmod(col(idCol).cast("long"), lit(shards.toLong)).as("shard"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions("shard", "id")
    val schema = StructType(Seq(
      StructField("id", sized.schema("id").dataType),
      StructField("n_tokens", IntegerType),
      StructField("bin", LongType),
      StructField("oversize", BooleanType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    sized.mapPartitions { rows =>
      var curShard = -1L
      var localBin = 0L
      var used = 0
      var first = true
      rows.map { r =>
        val sh = r.getLong(2)
        if (sh != curShard) { curShard = sh; localBin = 0L; used = 0; first = true }
        val t = r.getInt(1)
        if (!first && used + t > budget) { localBin += 1; used = 0 }
        first = false
        used += t
        Row(r.get(0), t, (sh << 32) | localBin, t > budget)
      }
    }(enc).withColumnRenamed("id", idCol)
  }

  /** Deterministic exact-k-per-stratum sample: the first `k` rows of
    * each stratum in multiplicative-id-hash order (ties to the id) —
    * the eval-set/spot-check constructor where a FIXED count per group
    * matters (fraction-based [[stratifiedSample]] drifts with stratum
    * size). Membership is a pure function of the ids present, so the
    * same corpus always yields the same sample.
    *
    * Scale shape: one shuffle on the stratum key + a per-stratum
    * window. k is small by construction; a skewed giant stratum still
    * sorts only its own partition (and a TakeOrdered-per-group rewrite
    * is the escape hatch if one stratum outgrows an executor).
    */
  def stratifiedTopK(df: DataFrame, strataCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(pmod(pmod(col(idCol), lit(1048576L)) * lit(2654435761L), lit(1048576L)), col(idCol))
    df.withColumn("_sk_rn", row_number().over(w))
      .filter(col("_sk_rn") <= k)
      .withColumn("sample_rank", col("_sk_rn").cast("long"))
      .drop("_sk_rn")
  }

  /** Content blocklist gate — the C4 "banned words" page filter
    * generalized to CATEGORIES with per-category counts (modern data
    * cards report what was filtered and why, not just a boolean):
    * case-insensitive whole-word matches per category, and a
    * `blocked` flag when any category exceeds `maxHits`. Words are
    * taken literally (callers pass plain words, not regex).
    *
    * Scan-shaped: one regexp count per category inside whole-stage
    * codegen, zero shuffle — the same embarrassing parallelism that
    * made this the standard first pass over web crawls.
    */
  def blocklistScan(df: DataFrame, idCol: String, textCol: String,
      categories: Seq[(String, Seq[String])],
      maxHits: Int = 0): DataFrame = {
    require(categories.nonEmpty, "at least one category required")
    val counts = categories.map { case (cat, words) =>
      require(words.nonEmpty, s"category '$cat' has no words")
      // escape regex metachars per word (\Q..\E quoting is Java-only;
      // this alternation form evaluates identically under RE2)
      val re = "(?i)\\b(?:" + words.map(_.replaceAll(
        "([\\\\.\\[\\]{}()*+?^$|])", "\\\\$1")).mkString("|") + ")\\b"
      size(regexp_extract_all(col(textCol), lit(re), lit(0)))
        .cast("long").as(s"n_$cat")
    }
    val blocked = categories.map { case (cat, _) =>
      col(s"n_$cat") > maxHits }.reduce(_ || _)
    df.select((col(idCol) +: counts): _*).withColumn("blocked", blocked)
  }

  /** The composed curation pass as ONE declarative plan — exact
    * dedup, quality gates, benchmark decontamination, and split
    * assignment fused into a single disposition per document, with
    * the standard precedence (a duplicate is a duplicate even if it
    * is also contaminated):
    * `duplicate` (non-first doc of an exact normalized-fingerprint
    * cluster) ≻ `low_quality` (word count outside
    * [`minWords`, `maxWords`] or mean word length outside
    * [`minMeanWordLen`, `maxMeanWordLen`]) ≻ `contaminated` (shares
    * an 8-gram with any benchmark doc) ≻ `train`/`val`/`test` by the
    * deterministic id hash.
    *
    * Scale shape: one fingerprint aggregation + join (exact dedup),
    * one gram equi-join against the (small, broadcastable) benchmark,
    * and scan-time arithmetic for quality and split — no all-pairs
    * term anywhere; the fused plan reads the corpus ONCE per branch
    * and Catalyst shares the scan. This is the throughput-defining
    * first pass of a crawl→training-data pipeline, so keeping it one
    * plan (instead of four materialized stages) is the difference
    * between one corpus read and four.
    */
  def curationPipeline(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      minWords: Int = 10, maxWords: Int = 100000,
      minMeanWordLen: Double = 2.0, maxMeanWordLen: Double = 12.0,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val base = docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("fp",
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
    val keepers = base.groupBy("fp").agg(min("id").as("_keeper"))
    val contaminated = decontaminate(docs, benchmark, idCol, textCol, k = 8)
      .select(col(idCol).as("id")).distinct()
      .withColumn("_cont", lit(true))
    val bucket = pmod(pmod(col("id"), lit(100L)) * lit(2654435761L) + lit(13L), lit(100L))
    base
      .withColumn("n_words",
        TextAnalysis.tokenCount(col("text")).cast("double"))
      .withColumn("mean_wlen",
        length(regexp_replace(col("text"), "\\s", "")) /
          greatest(col("n_words"), lit(1.0)))
      .join(keepers, "fp")
      .join(contaminated, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("id") =!= col("_keeper"), lit("duplicate"))
          .when(col("n_words") < minWords || col("n_words") > maxWords ||
            col("mean_wlen") < minMeanWordLen ||
            col("mean_wlen") > maxMeanWordLen, lit("low_quality"))
          .when(coalesce(col("_cont"), lit(false)), lit("contaminated"))
          .when(bucket < trainPct, lit("train"))
          .when(bucket < trainPct + valPct, lit("val"))
          .otherwise(lit("test")).as("disposition"))
  }

  /** Per-document content NOVELTY: the fraction of a document's
    * distinct `k`-grams that appear in NO other document — the
    * inverse of the boilerplate/duplication signal, used to weight
    * sources toward fresh content and to QA a dedup pass (a corpus
    * whose novelty collapses after ingest is re-crawling itself).
    * Output: (id, n_grams, n_novel, novelty ∈ [0,1], 6 dp).
    *
    * Scale shape: one shingle explode, a gram-census aggregation
    * (map-side combinable; the census key is the gram), and one
    * gram-keyed join back — O(grams), the l41 family's shape, never
    * doc-pairwise.
    */
  def noveltyScore(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val grams = TextDedup.withShingles(
        docs.select(col(idCol).as("id"), col(textCol)), textCol, "g", k)
      .select(col("id"), explode(col("g")).as("gram"))
    // A df=1 gram has exactly ONE owning document, so the census row
    // itself can carry the owner (min(id) of a single row) and the
    // join back of the full gram stream — the family's heaviest
    // shuffle, O(grams) rows keyed by gram STRINGS — disappears
    // entirely (r14 opt): per-doc gram totals are an id-keyed
    // map-side-combined aggregate of the same exploded stream, and
    // n_novel is a count over the df=1 census slice. Shingles are
    // distinct per document (TextShingleOps.shingles), so count(*)
    // per gram IS the document frequency.
    val perDoc = grams.groupBy("id").agg(count(lit(1)).as("n_grams"))
    val novel = grams.groupBy("gram")
      .agg(count(lit(1)).as("_df"), min(col("id")).as("id"))
      .filter(col("_df") === 1)
      .groupBy("id").agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double")
          / col("n_grams"), 6).as("novelty"))
  }

  /** Split-leakage audit — the post-split hygiene check: documents
    * whose exact normalized fingerprint appears in MORE THAN ONE of
    * train/val/test leak evaluation signal into training. For each
    * split pair, the number of fingerprints present in both. Splits
    * are the [[assignSplits]]-style deterministic id hash, passed in
    * as a (id, split) frame so the audit composes with any assigner.
    *
    * Scale shape: fingerprints collapse to (fp, split) distinct pairs
    * (map-side combinable), the pair join is fp-keyed, and the output
    * is split-pair cardinality (≤ a handful of rows).
    */
  def splitLeakage(docs: DataFrame, splits: DataFrame,
      idCol: String, textCol: String, splitCol: String): DataFrame = {
    val fps = docs.select(col(idCol).as("id"),
        md5(regexp_replace(lower(trim(col(textCol))), "\\s+", " ")).as("fp"))
      .join(splits.select(col(idCol).as("id"), col(splitCol).as("split")),
        "id")
      .select("fp", "split").distinct()
    val a = fps.select(col("fp"), col("split").as("split_a"))
    val b = fps.select(col("fp"), col("split").as("split_b"))
    a.join(b, "fp").filter(col("split_a") < col("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_shared_fps"))
  }

  /** Cross-source duplicate overlap — the provenance matrix of a data
    * card: for each source pair, how many exact normalized
    * fingerprints they share (a high-overlap pair means the two
    * crawls/feeds re-serve each other's content and one of them is
    * mostly redundant). Output per unordered pair: `n_shared_fps`
    * plus each side's distinct-fp count (for computing containment).
    *
    * Scale shape: the corpus collapses to (fp, source) distinct rows;
    * the pair join is fp-keyed (duplicate clusters are small, so join
    * output ~ duplicates, not |corpus|²); per-source totals ride a
    * broadcast.
    */
  def sourceOverlap(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame = {
    val fps = docs.select(
        md5(regexp_replace(lower(trim(col(textCol))), "\\s+", " ")).as("fp"),
        col(srcCol).as("src")).distinct()
    val totals = fps.groupBy("src").agg(count(lit(1)).as("_n"))
    val a = fps.select(col("fp"), col("src").as("source_a"))
    val b = fps.select(col("fp"), col("src").as("source_b"))
    a.join(b, "fp").filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_fps"))
      .join(broadcast(totals.select(col("src").as("source_a"),
        col("_n").as("n_fps_a"))), "source_a")
      .join(broadcast(totals.select(col("src").as("source_b"),
        col("_n").as("n_fps_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared_fps"),
        col("n_fps_a"), col("n_fps_b"))
  }

  /** Source-pair CONTENT overlap — the gram-level complement of
    * [[sourceOverlap]]'s exact-duplicate matrix: Jaccard similarity
    * of the distinct `k`-gram sets of each source pair. Exact-dup
    * overlap misses re-writes and templated near-copies; shared gram
    * MASS catches them (two feeds rephrasing each other's articles
    * score high here while sharing zero exact fingerprints).
    * Output per unordered pair: `n_shared_grams`, each side's
    * distinct-gram count, `jaccard` (6 dp).
    *
    * Scale shape: the corpus collapses to (gram, source) distinct
    * rows (map-side combinable); the pair join is GRAM-keyed, so its
    * output is Σ_g (#sources sharing g choose 2) — bounded by source
    * cardinality squared per gram, never corpus-pairwise; per-source
    * totals ride a broadcast.
    */
  def sourceGramOverlap(docs: DataFrame, textCol: String, srcCol: String,
      k: Int = 8): DataFrame = {
    // r14 opt note: a collect_set census + array pair expansion was
    // measured AGAINST this self-join (2.01 s vs 1.53 s at sf0.1) —
    // the interpreted HOF lambda expansion costs more than the
    // gram-keyed join it removes, so the join formulation stays.
    val grams = TextDedup.withShingles(
        docs.select(col(srcCol).as("src"), col(textCol)), textCol, "g", k)
      .select(col("src"), explode(col("g")).as("gram"))
      .distinct()
    val totals = grams.groupBy("src").agg(count(lit(1)).as("_n"))
    val a = grams.select(col("gram"), col("src").as("source_a"))
    val b = grams.select(col("gram"), col("src").as("source_b"))
    a.join(b, "gram").filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_grams"))
      .join(broadcast(totals.select(col("src").as("source_a"),
        col("_n").as("n_grams_a"))), "source_a")
      .join(broadcast(totals.select(col("src").as("source_b"),
        col("_n").as("n_grams_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared_grams"),
        col("n_grams_a"), col("n_grams_b"),
        round(col("n_shared_grams").cast("double") /
          (col("n_grams_a") + col("n_grams_b") - col("n_shared_grams")), 6)
          .as("jaccard"))
  }

  /** C4-style page cleaning (Raffel et al. 2020 §2.2, the "C4" rules):
    * keep only lines that end in a terminal punctuation mark, contain
    * at least `minLineWords` words, and do not mention "javascript";
    * then drop whole pages that contain a curly brace or the phrase
    * "lorem ipsum", or that retain fewer than `minLines` lines.
    * Surviving pages are reassembled from their kept lines.
    *
    * Scale shape: every rule is a pure column expression over the scan
    * (`split` on newline + a `filter` higher-order function + string
    * predicates) — no shuffle, no join, no UDF; the operator is
    * embarrassingly parallel over pages, which is exactly why these
    * rules became the standard first pass over multi-TB web crawls.
    */
  def c4Clean(docs: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 5, minLines: Int = 3): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]$") &&
        (size(split(trim(l), "\\s+")) >= minLineWords) &&
        !lower(l).contains("javascript"))
    docs
      .select(col(idCol), col(textCol),
        size(lines).cast("long").as("n_lines"), kept.as("kept"))
      .filter(!col(textCol).contains("{") &&
        !lower(col(textCol)).contains("lorem ipsum") &&
        size(col("kept")) >= minLines)
      .select(col(idCol), col("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), "\n").as("cleaned_text"))
  }

  /** Global line-level deduplication (the C4 "three-sentence span" /
    * CCNet per-line dedup idea at line granularity): across the whole
    * corpus, every distinct line is kept exactly once — at its first
    * occurrence in (document id, line position) order — and every
    * later occurrence is dropped; documents are then reassembled from
    * their surviving lines. Documents that lose every line remain in
    * the output with `n_kept = 0` and empty text (the caller decides
    * whether to drop them).
    *
    * Scale shape: "first occurrence" is computed by aggregation — NOT
    * a global window sort, which would serialize every occurrence of a
    * popular line through one task. And not `min(struct(id, pos))`
    * either: a struct buffer is not hash-aggregable, so that falls to
    * SortAggregate and sorts every exploded line map-side. Instead two
    * stacked HashAggregates with primitive buffers: `min(pos)` per
    * (line, id), then `min(id)` + `min_by(pos, id)` per line (the
    * first stage makes id unique per line, so the min_by ordering is
    * tie-free and deterministic). Both combine map-side and shuffle
    * only small combined keys. The final aggregate's output IS the
    * kept line set (winning id, pos, and the line itself), so no join
    * back against the occurrences is needed — one re-group on the
    * winning id rebuilds the text directly.
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val firsts = lines.groupBy("line", "id").agg(min("pos").as("pos"))
      .groupBy("line")
      .agg(min("id").as("id"), min_by(col("pos"), col("id")).as("pos"))
    val rebuilt = firsts
      .groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")),
        "\n").as("dedup_text"))
    docs
      .select(col(idCol).as("id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** WITHIN-document repeated-line removal (the Rae et al. 2021
    * "repetition removal" rewrite, document-local — distinct from
    * [[dedupLines]], which dedups across the corpus): keep the first
    * occurrence of each line inside a document, preserving order.
    *
    * Scale shape: pure per-row scan work with ZERO shuffle — a
    * codegen'd one-pass LinkedHashSet kernel
    * ([[graft.functions.DistinctLines]]), O(lines) per document. (The
    * earlier indexed-filter HOF formulation was CodegenFallback and
    * O(lines²) per doc — per-element lambda binding made it the worst
    * work-comparable ratio in the bench suite.)
    */
  def dropRepeatedLines(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val kept = graft.functions.TextShingles.distinctLines(col(textCol))
    docs.select(col(idCol),
      size(split(col(textCol), "\n")).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, "\n").as("clean_text"))
  }

  /** HTML → text ingest normalization (the first step of every
    * web-crawl pipeline): drop script/style blocks and comments, strip
    * tags, decode the common entities (`&amp;` LAST, so `&amp;lt;`
    * correctly yields `&lt;`), collapse whitespace. Regex-only on
    * purpose — RE2-compatible (no backreferences/lookahead), so the
    * same semantics express in any engine, and the whole operator is a
    * scan-time column expression (no shuffle, no UDF).
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (c, (e, v)) => regexp_replace(c, e, v) }
    val amp = regexp_replace(ent, "&amp;", "&")
    trim(regexp_replace(amp, "\\s+", " "))
  }

  /** Mojibake detection: UTF-8 bytes mis-decoded as Latin-1 leave the
    * signature two-char sequences Ã/Â/â + a continuation-byte char
    * (U+0080–U+00BF) — "café" shipped as "cafÃ©". A crawl corpus is
    * full of this; undetected it poisons tokenization and dedup
    * fingerprints alike.
    */
  def mojibakeDetected(text: Column): Column =
    text.rlike("[\u00C2\u00C3\u00E2][\u0080-\u00BF]")

  /** Anchored regex deciding whether the Latin-1 re-encode → UTF-8
    * decode round trip is SAFE: every char must be ≤ U+00FF (so the
    * string IS its Latin-1 byte sequence) and that byte sequence must
    * be strict well-formed UTF-8 (RFC 3629 table: no overlongs, no
    * surrogates, ≤ U+10FFFF). Any char > U+00FF (CJK, emoji) matches
    * no alternative, so the Latin-1-mappability check is subsumed.
    * Spark 4 `encode`/`decode` RAISE MALFORMED_CHARACTER_CODING on
    * unmappable/malformed input (they do not substitute '?'/U+FFFD),
    * so this gate is a correctness requirement, not just hygiene.
    */
  private val utf8RoundTripSafe: String =
    "^(?:[\u0000-\u007F]" +                        // ASCII
      "|[\u00C2-\u00DF][\u0080-\u00BF]" +          // 2-byte
      "|\u00E0[\u00A0-\u00BF][\u0080-\u00BF]" +    // 3-byte, no overlong
      "|[\u00E1-\u00EC\u00EE\u00EF][\u0080-\u00BF]{2}" +
      "|\u00ED[\u0080-\u009F][\u0080-\u00BF]" +    // no surrogate range
      "|\u00F0[\u0090-\u00BF][\u0080-\u00BF]{2}" + // 4-byte, no overlong
      "|[\u00F1-\u00F3][\u0080-\u00BF]{3}" +
      "|\u00F4[\u0080-\u008F][\u0080-\u00BF]{2})*$" // <= U+10FFFF

  /** Repair double-encoded text by reversing the mis-decode: re-encode
    * the string as Latin-1 (recovering the original UTF-8 bytes) and
    * decode as UTF-8. ONLY applied when [[mojibakeDetected]] fires AND
    * the whole string survives a clean round trip
    * ([[utf8RoundTripSafe]]): a flagged row that ALSO carries content
    * outside the mis-decode (CJK/emoji — not Latin-1-mappable — or a
    * genuine lone é, which is an invalid UTF-8 byte) is left untouched
    * rather than mangled — real crawl rows are routinely mixed, and on
    * such rows Spark 4's strict encode/decode would otherwise throw
    * and fail the whole query. CaseWhen evaluates the repair branch
    * only on matching rows, so the gate also shields the strict
    * codecs. Pure per-row expression work, no UDF, no shuffle.
    */
  def repairMojibake(text: Column): Column =
    when(mojibakeDetected(text) && text.rlike(utf8RoundTripSafe),
      decode(encode(text, "ISO-8859-1"), "UTF-8"))
      .otherwise(text)

  /** robots.txt evaluation for a crawl frontier (REP semantics,
    * prefix-rule subset): parse each host's robots.txt into
    * per-user-agent rule groups, pick the MOST SPECIFIC applicable
    * group per host (a group naming `agent` wins over `*` — Google's
    * group-selection rule), and judge each URL by its longest
    * matching rule prefix, Allow beating Disallow on ties. No rule →
    * allowed. Wildcard-free prefix rules only (the 1994 REP core;
    * `*`/`$` pattern rules are a documented non-goal).
    *
    * Scale shape: rules are a host-keyed explode of the (small)
    * robots corpus; the URL judgment is one equi-join on host + a
    * per-URL window over its matched rules — no cross join, frontier-
    * sized shuffle only.
    */
  def robotsFilter(robots: DataFrame, hostCol: String, robotsCol: String,
      urls: DataFrame, idCol: String, urlCol: String,
      agent: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host")).orderBy(col("pos"))
    val lines = robots.select(col(hostCol).as("host"),
        posexplode(split(col(robotsCol), "\n")).as(Seq("pos", "line")))
      .withColumn("ua", when(col("line").rlike("^(?i)user-agent:"),
        lower(trim(regexp_replace(col("line"), "^(?i)user-agent:", "")))))
      .withColumn("section", last(col("ua"), ignoreNulls = true).over(w))
    val rules = lines
      .filter(col("line").rlike("^(?i)(allow|disallow):") &&
        col("section").isin(agent.toLowerCase, "*"))
      .select(col("host"), col("section"),
        lower(regexp_extract(col("line"), "^(?i)(allow|disallow):", 1)).as("rtype"),
        trim(regexp_replace(col("line"), "^(?i)(allow|disallow):", "")).as("prefix"))
      .filter(length(col("prefix")) > 0)
    // group selection: hosts with an agent-specific group ignore '*'
    val agentHosts = rules.filter(col("section") === agent.toLowerCase)
      .select("host").distinct().withColumn("has_agent", lit(true))
    val chosen = rules.join(broadcast(agentHosts), Seq("host"), "left")
      .filter((coalesce(col("has_agent"), lit(false)) &&
        col("section") === agent.toLowerCase) ||
        (!coalesce(col("has_agent"), lit(false)) && col("section") === "*"))
      .select("host", "rtype", "prefix")
    val u = urls.select(col(idCol), col(urlCol).as("url"))
      .withColumn("host", regexp_extract(col("url"), "^https?://([^/?#]+)", 1))
      .withColumn("path", coalesce(
        when(length(regexp_replace(col("url"), "^https?://[^/?#]+", "")) > 0,
          regexp_replace(col("url"), "^https?://[^/?#]+", "")),
        lit("/")))
    val wm = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(length(col("prefix")).desc, col("rtype").asc)
    u.join(chosen,
        u("host") === chosen("host") && col("path").startsWith(col("prefix")),
        "left")
      .withColumn("rk", row_number().over(wm))
      .filter(col("rk") === 1)
      .select(col(idCol), col("url"),
        coalesce(col("rtype") === "disallow", lit(false)).as("blocked"),
        coalesce(col("prefix"), lit("")).as("matched_rule"))
  }

  /** Schema profile of a dynamic-key JSON column — the "what is
    * actually in this semi-structured field" report that gates schema
    * declaration (the reference infers schemas from written records,
    * node.py:303-304; at 100 TB you profile BEFORE you infer). Parses
    * each row as `map<string,variant>` (Spark 4's VARIANT keeps the
    * JSON type system, unlike a map<string,string> cast that erases
    * number-vs-string) and reports, per key: presence count/share and
    * the count per canonical type class (number/string/boolean/null/
    * other). Malformed JSON parses to null and simply contributes no
    * keys — corrupt rows are data.
    *
    * Scale shape: one parse + explode + hash agg, key-cardinality-
    * sized output; no UDF, no shuffle beyond the key agg.
    */
  def jsonProfile(df: DataFrame, jsonCol: String): DataFrame = {
    // denominator folds lazily as a broadcast 1-row aggregate (the l69
    // device) — no eager count action, the whole profile is one plan
    val total = df.agg(count(lit(1)).as("_tot"))
    val kv = df
      .select(expr(s"from_json($jsonCol, 'map<string,variant>')").as("m"))
      .filter(col("m").isNotNull)
      .select(explode(col("m")).as(Seq("key", "v")))
      .withColumn("t", expr("schema_of_variant(v)"))
      .withColumn("cls",
        when(col("t") === "STRING", "string")
          .when(col("t") === "BOOLEAN", "boolean")
          .when(col("t") === "VOID", "null")
          .when(col("t").rlike("^(BIGINT|INT|SMALLINT|TINYINT|DECIMAL|DOUBLE|FLOAT)"),
            "number")
          .otherwise("other"))
    kv.groupBy("key")
      .agg(count(lit(1)).as("n_present"),
        sum(when(col("cls") === "number", 1L).otherwise(0L)).as("n_number"),
        sum(when(col("cls") === "string", 1L).otherwise(0L)).as("n_string"),
        sum(when(col("cls") === "boolean", 1L).otherwise(0L)).as("n_boolean"),
        sum(when(col("cls") === "null", 1L).otherwise(0L)).as("n_null"),
        sum(when(col("cls") === "other", 1L).otherwise(0L)).as("n_other"))
      .crossJoin(broadcast(total))
      .withColumn("present_pct",
        round(col("n_present") / col("_tot").cast("double"), 6))
      .drop("_tot")
  }

  /** Markdown → plain text (the htmlToText sibling for the other big
    * crawl format — README/doc/forum corpora arrive as Markdown):
    * fenced code blocks drop ENTIRELY (the C4 rule — code is not
    * prose; keep them upstream if training on code), inline code
    * keeps its content, images reduce to their alt text, links to
    * their anchor text, headers/emphasis/list-bullets/blockquotes
    * shed their markers, thematic breaks vanish, blank runs collapse.
    * RE2-compatible steps only (no lookarounds, `(?m)`/`(?s)` flags
    * both engines support) — scan-time column expression, no shuffle.
    */
  def markdownToText(md: Column): Column = {
    val noFence = regexp_replace(md, "(?s)```.*?```", " ")
    val noImg = regexp_replace(noFence, "!\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noLink = regexp_replace(noImg, "\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noCode = regexp_replace(noLink, "`([^`]*)`", "$1")
    val noHead = regexp_replace(noCode, "(?m)^#{1,6}[ \\t]+", "")
    val noBold = regexp_replace(noHead, "\\*\\*([^*]*)\\*\\*", "$1")
    val noEm = regexp_replace(noBold, "\\*([^*]*)\\*", "$1")
    val noQuote = regexp_replace(noEm, "(?m)^>[ \\t]?", "")
    val noBullet = regexp_replace(noQuote, "(?m)^[ \\t]*([-*+]|[0-9]+\\.)[ \\t]+", "")
    val noHr = regexp_replace(noBullet, "(?m)^[ \\t]*([-*_][ \\t]*){3,}$", "")
    trim(regexp_replace(noHr, "\\s+", " "))
  }

  /** Canonical URL for dedup keys (the CCNet/C4 URL-normalization
    * step): lowercase scheme+host, strip the fragment, drop tracking
    * parameters (`utm_*`, `fbclid`, `gclid`), tidy leftover `?`/`&`
    * runs, and remove default ports (`:80` for http, `:443` for
    * https). RE2-compatible regex steps only (capture groups instead
    * of lookarounds) so the semantics reproduce in any engine;
    * scan-time column expression, no shuffle.
    */
  def canonicalUrl(url: Column): Column = {
    val hostLower = concat(
      lower(regexp_extract(url, "^((?i)https?://[^/?#]+)", 1)),
      regexp_replace(url, "^(?i)https?://[^/?#]+", ""))
    val noFrag = regexp_replace(hostLower, "#.*$", "")
    val noTrack = regexp_replace(noFrag,
      "([?&])(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&]*", "$1")
    val tidy1 = regexp_replace(noTrack, "\\?&+", "?")
    val tidy2 = regexp_replace(tidy1, "&&+", "&")
    val tidy3 = regexp_replace(tidy2, "[?&]+$", "")
    val noP80 = regexp_replace(tidy3, "^(http://[^/:?#]+):80([/?#]|$)", "$1$2")
    regexp_replace(noP80, "^(https://[^/:?#]+):443([/?#]|$)", "$1$2")
  }

  /** Exact duplicate-span detection (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): a token position is
    * duplicated if it is covered by any `k`-token window whose exact
    * text occurs more than once in the corpus (in any document,
    * including the same one at another position). Reports, per
    * document, the number and fraction of duplicated token positions —
    * the signal the paper thresholds to cut exact-substring dups.
    *
    * Scale shape: windows come from a columnar `transform` over a
    * per-doc `sequence` (no shuffle to build them); duplicate windows
    * are ONE hash aggregation over the exploded grams (map-side
    * combine absorbs within-partition repeats); coverage is an
    * equi-join of grams against the duplicate set on the gram key
    * (O(corpus grams + duplicate occurrences), never all-pairs),
    * a position expansion bounded by k, and one distinct+fold per
    * document. Nothing grows faster than the token count × k.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val ws = split(trim(col(textCol)), "\\s+")
    // the census/join key is xxhash64 of the k-token SLICE (r14 opt):
    // tokens are \s+-split so they carry no spaces, making the slice →
    // joined-string map bijective — equal hashes ⇔ equal grams up to
    // 64-bit collisions (the same fingerprint-width assumption every
    // MinHash/winnowing path in this engine already rides). The gram
    // string is never built and never shuffled: census + join move 8
    // bytes per gram instead of ~k words (measured l68 2.71 → 1.88 s
    // at sf0.1; at 100 TB the census shuffle shrinks ~5×). The sf0.01
    // oracle computes string-equality grams, so a fixture collision
    // would fail the driver hash loudly.
    val grams = docs
      .select(col(idCol).as("id"), ws.as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), size(col("ws")) - k),
          j => xxhash64(slice(col("ws"), j + 1, lit(k)))))
          .as(Seq("p", "gram")))
    val dups = grams.groupBy("gram").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1).select("gram")
    val covered = grams.join(dups, "gram")
      .select(col("id"),
        explode(sequence(col("p"), col("p") + k - 1)).as("tok_pos"))
      .distinct()
      .groupBy("id").agg(count(lit(1)).as("dup_tokens"))
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), size(ws).cast("long").as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"), 6)
          .as("dup_frac"))
  }

  /** The REWRITE half of [[duplicateSpans]] (Lee et al. 2021 §4.2,
    * ExactSubstr): remove every token position covered by a duplicated
    * `k`-token window, keeping the rest in document order. l41/
    * [[duplicateSpans]] measures the coverage; this produces the
    * cleaned corpus the paper trains on. Documents that lose every
    * token come back with empty `clean_text` (the caller's length
    * filter drops them — the paper's behavior).
    *
    * Scale shape: the same gram census + coverage equi-join as
    * [[duplicateSpans]] (nothing all-pairs); covered POSITIONS (ints,
    * bounded by document length) collapse to one set per document and
    * the survivor text is reassembled in-row from the document's own
    * token array — token strings never enter a shuffle. Everything
    * that does shuffle is keyed on (id) or (gram hash) only.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val ws = split(trim(col(textCol)), "\\s+")
    val base = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), ws.as("ws"))
    // hashed gram census/join key — see [[duplicateSpans]] (r14 opt)
    val grams = base.filter(size(col("ws")) >= k)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), size(col("ws")) - k),
          j => xxhash64(slice(col("ws"), j + 1, lit(k)))))
          .as(Seq("p", "gram")))
    val dups = grams.groupBy("gram").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1).select("gram")
    // covered positions collapse to ONE set-valued row per document
    // and the survivor text is rebuilt IN-ROW from the `ws` array the
    // document row already holds (guide §2.3/§8: shuffle the
    // decision's keys, not the payload): the old shape posexploded
    // every token STRING, anti-joined the whole token stream on
    // (id, pos), and re-sorted the survivors through a collect_list —
    // two corpus-token-scale shuffles carrying the text. Now only the
    // covered POSITIONS (ints) ever shuffle; `array_except` keeps the
    // ascending position order, so the rebuilt string is identical.
    val covSet = grams.join(dups, "gram")
      .select(col("id"),
        explode(sequence(col("p"), col("p") + k - 1)).as("pos"))
      .groupBy("id").agg(collect_set(col("pos")).as("_cov"))
    val kept = array_except(
      sequence(lit(0), size(col("ws")) - 1),
      coalesce(col("_cov"), array().cast("array<int>")))
    base.join(covSet, Seq("id"), "left")
      .select(col("id").as(idCol), size(col("ws")).cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"),
        array_join(transform(kept, p => element_at(col("ws"), p + 1)), " ")
          .as("clean_text"))
  }
}
