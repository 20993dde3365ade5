package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines
  * (SURVEY.md §2.6 L4): language id, quality scoring, token counting,
  * fingerprinting. Pure column expressions (codegen'd, no UDFs) so
  * they stay inside whole-stage codegen over a 100 TB scan.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword-hit
    * language heuristic. Deterministic and oracle-reproducible.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "pas"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "no"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  /** The exact required-stopword list from Rae et al. 2021 §A1.1 (the
    * Gopher quality rules) — distinct from the generic language-id
    * lists above, which exist for a different purpose.
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private def words(text: Column): Column = split(trim(text), "\\s+")

  /** Stopword hits for one language's list (distinct list words
    * present). Codegen'd kernel — the HOF formulation
    * (`array_intersect(array_distinct(split(...)), ...)`) is
    * CodegenFallback and allocation-heavy, measured 6× slower again
    * under late-suite heap pressure (see
    * [[graft.functions.StopwordOps]]).
    */
  def stopwordHits(text: Column, lang: String): Column =
    graft.functions.StopwordCount.distinctHits(text, stopwords(lang))

  /** Heuristic language id: argmax of stopword hits, 'und' when no list
    * scores at least one hit. Ties break in fixed lang order.
    */
  def langId(text: Column): Column = {
    val ordered = Seq("en", "de", "fr", "es", "zh")
    val scores = ordered.map(l => l -> stopwordHits(text, l))
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && best >= 1, lit(l)).otherwise(acc)
    }
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(words(text)))

  /** BPE-ish subword count: alpha runs, digit runs, single other chars. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Quality metrics: length, word stats, punctuation/alpha ratios,
    * stopword density, uppercase ratio — the usual pretraining filters.
    */
  def nWords(text: Column): Column = tokenCount(text)
  def avgWordLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?'\"()]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")
  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")
  def stopwordRatio(text: Column): Column =
    graft.functions.StopwordCount.occurrences(text, stopwords("en"))
      .cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Composite quality score in [0,1]: rewards mid-length docs with
    * normal word length and some stopword mass (Gopher-rule flavored).
    */
  def qualityScore(text: Column): Column = {
    val lenOk = when(nWords(text).between(5, 10000), 1.0).otherwise(0.0)
    val wordLenOk = when(avgWordLen(text).between(2.0, 12.0), 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatio(text) >= 0.01, 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(text) <= 0.2, 1.0).otherwise(0.0)
    round((lenOk + wordLenOk + stopOk + punctOk) / 4.0, 4)
  }

  /** Document fingerprint: md5 of case/whitespace-normalized text —
    * stable across reformatting, usable as an exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Winnowing-style robust fingerprint: minimum shingle hash (the
    * smallest of the doc's k-gram xxhash64 codes) — survives small
    * edits far from the minimizing shingle. Expects a materialized
    * shingle column (see TextDedup.withShingles) for the same
    * CodegenFallback reason documented there.
    */
  def minShingleHash(shingleCol: Column): Column =
    array_min(transform(shingleCol, s => xxhash64(s)))

  /** Engine-portable variant of [[minShingleHash]]: min over shingles
    * of the md5's first 60 bits parsed as a bigint — the same
    * winnowing semantics, reproducible in the DuckDB oracle as
    * `('0x' || substr(md5(s), 1, 15))::bigint`.
    */
  def minShingleHashPortable(shingleCol: Column): Column =
    array_min(transform(shingleCol, s =>
      conv(substring(md5(s), 1, 15), 16, 10).cast("long")))

  /** Gopher-style intra-document repetition signals: fraction of mass
    * in the most frequent token, distinct-token fraction, and fraction
    * of bigram mass in the most frequent bigram — the standard
    * repetition filters for pretraining corpora (templated/looping
    * text scores high on top-fracs, low on distinct-frac).
    *
    * Aggregation-shaped like [[tokenEntropy]]: explode → per-(doc,gram)
    * count → per-doc fold; both groupBys combine map-side, so cost is
    * O(tokens) with no per-doc quadratic work and no driver state.
    * Documents with no tokens are absent; single-token documents get
    * top_bigram_frac 0.
    */
  def repetitionSignals(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val base = docs
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("ws"))
      .filter(length(trim(col(textCol))) > 0)
    // the per-(doc, token) and per-(doc, bigram) censuses never emit
    // the token text — only counts survive — so the aggregation keys
    // are xxhash64 fingerprints (8 bytes through the shuffle instead
    // of the strings; the l41/l68 fingerprint-width argument, and a
    // within-doc collision is all a collision could even touch here)
    val tokStats = base.select(col(idCol), explode(col("ws")).as("w"))
      .select(col(idCol), xxhash64(col("w")).as("wh"))
      .groupBy(col(idCol), col("wh")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum("c").as("n_tokens"),
        max("c").as("top_c"),
        count(lit(1)).as("n_distinct"))
    // sequence() flips to a descending step when start > stop, so the
    // single-token case must be guarded to an empty bigram list
    val bigrams = base.select(col(idCol),
      explode(when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => xxhash64(slice(col("ws"), i, lit(2)))))
        .otherwise(array().cast("array<bigint>"))).as("bh"))
    val biStats = bigrams.groupBy(col(idCol), col("bh")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(max("c").as("top_b"), sum("c").as("n_b"))
    tokStats.join(biStats, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        round(col("top_c") / col("n_tokens"), 6).as("top_token_frac"),
        round(col("n_distinct") / col("n_tokens"), 6).as("distinct_frac"),
        round(coalesce(col("top_b") / col("n_b"), lit(0.0)), 6).as("top_bigram_frac"))
  }

  /** Top-k TF-IDF terms per document (tf × ln(N/df), ties on term asc)
    * — keyword extraction / topic signal for corpus curation.
    *
    * Scale shape: term frequency and document frequency are two
    * map-side-combinable aggregations over the exploded tokens; the
    * tf↔df join shuffles on the term (vocabulary-sized, not
    * corpus-sized); the final top-k is one window per document. N is
    * the only driver scalar.
    */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.count()
    val toks = docs.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val tf = toks.groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("dfreq"))
    val scored = tf.join(dfreq, "w")
      .withColumn("score", round(col("tf") * log(lit(n.toDouble) / col("dfreq")), 6))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("w"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("w").as("term"), col("score"), col("rank"))
  }

  /** Corpus-level top-k n-gram frequency table — the vocabulary/
    * boilerplate census a curation pipeline runs before choosing
    * filters (the most frequent n-grams ARE the navigation chrome and
    * template mass). One row per surviving n-gram with its total
    * occurrence count and document frequency; rank is dense over
    * (occurrences desc, gram asc) so the output is deterministic.
    *
    * Scale shape: contiguous n-grams come from the codegen'd
    * [[graft.functions.WordGrams]] kernel (one static call per row —
    * the HOF `transform(sequence(...))` formulation is CodegenFallback
    * and pays ~17 µs/element, see TextShingles.scala) and explode
    * straight off the scan (no shuffle), then ONE hash aggregation on
    * the gram (map-side combine absorbs within-doc repeats for the
    * doc-frequency count via the two-level groupBy), and the global
    * top-k is a single-column sort of the vocabulary-sized aggregate —
    * never the corpus. At 100 TB the aggregate is bounded by distinct
    * grams, and a frequency floor (`minCount`) cuts the long tail
    * before the sort.
    *
    * The kernel splits on single spaces, so whitespace is normalized
    * first (`\s+` → one space); empty/whitespace-only docs are
    * filtered so the n=1 case never counts an empty-string gram
    * (token semantics match [[unigramLogProb]]).
    */
  def ngramTopK(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, n: Int, k: Int,
      minCount: Long = 1L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = regexp_replace(trim(col(textCol)), "\\s+", " ")
    val grams = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        explode(graft.functions.TextShingles.grams(norm, n)).as("gram"))
    val perDoc = grams.groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("c"))
    val totals = perDoc.groupBy("gram")
      .agg(sum("c").as("n_occurrences"), count(lit(1)).as("n_docs"))
      .filter(col("n_occurrences") >= minCount)
    // distributed top-k (TakeOrderedAndProject) — a bare global window
    // would sort the whole vocabulary through one partition; the rank
    // window then runs over only k rows
    val top = totals.orderBy(col("n_occurrences").desc, col("gram")).limit(k)
    val w = Window.orderBy(col("n_occurrences").desc, col("gram"))
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** PMI collocations (Church & Hanks 1990): the top-k unordered word
    * pairs co-occurring within a ±2 window, ranked by pointwise mutual
    * information `ln( (c_ab/P) / ((c_a/T)(c_b/T)) )` with a minimum
    * pair count — the collocation/multi-word-expression miner
    * (tokenizer-vocabulary candidates, template detection) that a raw
    * frequency census ([[ngramTopK]]) can't provide: PMI surfaces
    * "strongly attached" pairs, not merely common ones.
    *
    * Window pairs derive from the codegen'd gram kernels (adjacent =
    * the 2-gram itself; distance-2 = first+last word of each 3-gram —
    * `substring_index`, no HOF), canonicalized to (least, greatest).
    * Counts are map-side-combined hash aggs; T and P ride broadcast
    * 1-row frames; the unigram joins are vocabulary-keyed shuffles
    * (the [[unigramLogProb]] shape); top-k is TakeOrdered, never a
    * global window sort.
    */
  def pmiCollocations(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, k: Int = 20,
      minCount: Long = 5L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = regexp_replace(trim(col(textCol)), "\\s+", " ")
    val base = docs.filter(length(trim(col(textCol))) > 0)
    val toks = base.select(
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val uni = toks.groupBy("w").agg(count(lit(1)).as("c_w"))
    val totalT = uni.agg(sum("c_w").as("t"))
    def pairsFrom(n: Int) = base.select(
        explode(graft.functions.TextShingles.grams(norm, n)).as("g"))
      .select(substring_index(col("g"), " ", 1).as("wa"),
        substring_index(col("g"), " ", -1).as("wb"))
    val pairs = pairsFrom(2).unionByName(pairsFrom(3))
      .select(least(col("wa"), col("wb")).as("a"),
        greatest(col("wa"), col("wb")).as("b"))
    val pc = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val totalP = pc.agg(sum("c_ab").as("p"))
    val scored = pc.filter(col("c_ab") >= minCount)
      .join(uni.select(col("w").as("a"), col("c_w").as("c_a")), "a")
      .join(uni.select(col("w").as("b"), col("c_w").as("c_b")), "b")
      .crossJoin(broadcast(totalT)).crossJoin(broadcast(totalP))
      .withColumn("pmi",
        round(log((col("c_ab") * lit(1.0) / col("p")) /
          ((col("c_a") * lit(1.0) / col("t")) *
           (col("c_b") * lit(1.0) / col("t")))), 6))
    val top = scored.orderBy(col("pmi").desc, col("a"), col("b")).limit(k)
    val w = Window.orderBy(col("pmi").desc, col("a"), col("b"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("a"), col("b"), col("c_ab"), col("pmi"), col("rank"))
  }

  /** Gopher-rule quality filter (Rae et al. 2021, §A1.1): the published
    * heuristic gates for pretraining text, each surfaced as a signal
    * plus the composite `keep` verdict —
    * word count within [minWords, maxWords], mean word length within
    * [3, 10], hash-to-word ratio ≤ 0.1 AND ellipsis-to-word ratio
    * ≤ 0.1 (gated separately, per the paper), ≥ 80% of words
    * containing an alphabetic character, and at least `minStopwords`
    * hits on the paper's required-stopword list ([[gopherStopwords]]:
    * the, be, to, of, and, that, have, with).
    *
    * Pure column expressions (codegen'd, no shuffle): the filter is a
    * scan-time verdict at any corpus size.
    */
  def gopherFilter(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minStopwords: Int = 2): org.apache.spark.sql.DataFrame = {
    val text = col(textCol)
    val ws = words(text)
    val nW = tokenCount(text).cast("long")
    val meanLen = round(avgWordLen(text), 4)
    def perWord(c: Column): Column =
      round(c.cast("double") / greatest(nW, lit(1L)).cast("double"), 4)
    val hashRatio =
      perWord(size(regexp_extract_all(text, lit("#"), lit(0))))
    val ellipsisRatio =
      perWord(size(regexp_extract_all(text, lit("\\.\\.\\."), lit(0))))
    val alphaWordRatio = perWord(size(filter(ws, w => w.rlike("[A-Za-z]"))))
    val stopHits =
      graft.functions.StopwordCount.distinctHits(text, gopherStopwords)
    docs.select(col(idCol),
      nW.as("n_words"), meanLen.as("mean_word_len"),
      hashRatio.as("hash_ratio"), ellipsisRatio.as("ellipsis_ratio"),
      alphaWordRatio.as("alpha_word_ratio"),
      stopHits.cast("long").as("stop_hits"),
      (nW.between(minWords, maxWords) &&
        meanLen.between(3.0, 10.0) &&
        hashRatio <= 0.1 &&
        ellipsisRatio <= 0.1 &&
        alphaWordRatio >= 0.8 &&
        stopHits >= minStopwords).as("keep"))
  }

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram distribution — the cheap LM-perplexity proxy pipelines use
    * for fluency/outlier scoring when a real LM is too expensive to run
    * over the whole corpus: documents made of rare tokens score very
    * negative, templated/common text scores high.
    *
    * Scale shape: the unigram model is ONE hash aggregation over the
    * exploded tokens (vocabulary-sized result); scoring joins tokens to
    * the model on the token (vocabulary-keyed shuffle, broadcastable
    * when the vocabulary is small) and folds per document. The corpus
    * token total is derived from the model itself (sum of its counts,
    * a 1-row aggregate broadcast-cross-joined into the frame), so the
    * whole computation is one lazy plan with no eager driver action —
    * two logical passes over the tokens, not three. avg() folds
    * doubles in partition order; ~1e-15 drift is absorbed by round(,6)
    * — the same libm contract as [[tokenEntropy]].
    */
  def unigramLogProb(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    // census/join key is xxhash64(w) — the l41/l68 fingerprint-width
    // argument: the token string never crosses an exchange, and the
    // oracle joins string tokens, so a fixture collision fails the
    // driver hash loudly. (A per-(doc, token) tf pre-aggregation
    // before the join was probed and rejected: without l81's
    // |classes|× fanout to amortize it, the extra exchange measured
    // +4–25% at sf0.1 across this family.)
    val toks = docs.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col(idCol), xxhash64(col("w")).as("wh"))
    val model = toks.groupBy("wh").agg(count(lit(1)).as("c"))
    val total = model.agg(sum("c").cast("double").as("n_total"))
    toks.join(model, "wh")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log2(col("c").cast("double") / col("n_total"))), 6)
          .as("mean_logp"))
  }

  /** Per-source vocabulary richness: token count, distinct types,
    * hapax legomena (tokens seen exactly once), type-token ratio, and
    * hapax fraction — the classic lexical-diversity profile (low TTR →
    * templated/boilerplate-heavy source; high hapax fraction → noisy
    * OCR/garbage vocabulary). Two stacked hash aggregations, both
    * map-side combinable; cost O(tokens), state bounded by vocabulary.
    */
  def vocabStats(docs: org.apache.spark.sql.DataFrame,
      groupCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    docs.filter(length(trim(col(textCol))) > 0)
      .select(col(groupCol),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col(groupCol))
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col(groupCol), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"),
        round(col("n_hapax").cast("double") / col("n_types"), 6)
          .as("hapax_frac"))

  /** Vocabulary coverage / OOV rate against the corpus's own top-`k`
    * token vocabulary (the tokenizer-health metric: what fraction of
    * running text a budget-`k` word vocabulary fails to cover, per
    * document). Vocabulary membership is deterministic — tokens rank
    * by (count desc, token asc), so ties at the cutoff resolve
    * identically in any engine.
    *
    * Scale shape: one token hash-aggregation (map-side combined), a
    * TakeOrdered top-k over the vocabulary-sized frame (never the
    * corpus), and one broadcast semi-join of exploded tokens against
    * the k-row vocabulary folded into a per-document aggregate.
    */
  def vocabCoverage(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      topK: Int): org.apache.spark.sql.DataFrame = {
    val toks = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(topK)
      .select(col("w"), lit(true).as("_vc_in"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_vc_in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6)
          .as("oov_frac"))
  }

  /** Vocabulary drift between two corpus versions: per-token
    * probability under each version's unigram distribution (add-1
    * smoothed over the union vocabulary), the token's contribution to
    * the symmetrized KL (Jensen-Shannon-style) divergence, and a
    * deterministic rank of the top-`k` movers — the "what did my
    * filter do to the distribution" audit after a cleaning pass.
    *
    * Scale shape: two token hash-aggregations (map-side combined) and
    * a vocabulary-keyed full-outer join, MATERIALIZED once
    * (localCheckpoint) because both the totals aggregate and the
    * scoring pass read it — without that, Catalyst plans the corpus
    * scans twice (4 scans instead of 2, verified in the formatted plan
    * that `graft.tools.PlanDump` writes).
    * Totals then ride as a broadcast 1-row aggregate and the top-k is
    * a TakeOrderedAndProject over the vocabulary-sized frame, never
    * the corpus.
    */
  def vocabDrift(oldV: org.apache.spark.sql.DataFrame,
      newV: org.apache.spark.sql.DataFrame,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def counts(df: org.apache.spark.sql.DataFrame, as: String) =
      df.filter(length(trim(col(textCol))) > 0)
        .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as(as))
    val o = counts(oldV, "c_old")
    val n = counts(newV, "c_new")
    val joined = o.join(n, Seq("w"), "full_outer")
      .select(col("w"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"))
      .localCheckpoint()
    val totals = joined.agg(
      sum("c_old").cast("double").as("t_old"),
      sum("c_new").cast("double").as("t_new"),
      count(lit(1)).cast("double").as("vsize"))
    val scored = joined.crossJoin(broadcast(totals))
      .withColumn("p_old",
        (col("c_old") + 1).cast("double") / (col("t_old") + col("vsize")))
      .withColumn("p_new",
        (col("c_new") + 1).cast("double") / (col("t_new") + col("vsize")))
      .withColumn("drift", round(
        (col("p_new") - col("p_old")) * log2(col("p_new") / col("p_old")), 10))
    val top = scored
      .orderBy(col("drift").desc, col("w")).limit(k)
      .select(col("w"), col("c_old"), col("c_new"),
        round(col("p_old"), 8).as("p_old"),
        round(col("p_new"), 8).as("p_new"), col("drift"))
    top.withColumn("rank", row_number().over(
      Window.orderBy(col("drift").desc, col("w"))).cast("long"))
  }

  /** Per-script non-space character counts (shared by [[scriptMix]]
    * and [[dominantScriptCol]]): (nChars, script → count). */
  private def scriptCounts(text: Column): (Column, Seq[(String, Column)]) = {
    def cnt(cls: String): Column =
      length(regexp_replace(text, s"[^$cls]", ""))
    (length(regexp_replace(text, "\\s", "")), Seq(
      "latin" -> cnt("\\p{IsLatin}"),
      "cyrillic" -> cnt("\\p{IsCyrillic}"),
      "han" -> cnt("\\p{IsHan}"),
      "arabic" -> cnt("\\p{IsArabic}"),
      "digit" -> cnt("0-9")))
  }

  /** The argmax-with-fixed-tie-order dominant-script expression alone
    * — a scan-time Column, so consumers that only need the label
    * ([[tokenFertility]]) can compute it in their OWN projection
    * instead of joining [[scriptMix]]'s frame back by id (r14 opt:
    * that join was two exchanges and a join of two pure maps over the
    * same rows). */
  private[llm] def dominantScriptCol(text: Column): Column = {
    val (nChars, scripts) = scriptCounts(text)
    val base = greatest(nChars, lit(1)).cast("double")
    val fracs = scripts.map { case (n, c) => n -> round(c / base, 6) }
    val best = fracs.map(_._2).reduce((a, b) => greatest(a, b))
    fracs.foldRight(lit("other"): Column) { case ((n, f), acc) =>
      when(f === best && best > 0.0, lit(n)).otherwise(acc)
    }
  }

  /** Unicode script histogram per document: the fraction of non-space
    * characters in each major script (Latin, Cyrillic, Han, Arabic,
    * plus digits and other), and the dominant script by argmax (fixed
    * tie order). The standard companion signal to [[langId]] for
    * multilingual corpus routing — script is decidable per character
    * (no stopword lists), so mixed-script spam and mislabeled-language
    * docs surface immediately.
    *
    * Pure scan-time regexp counting (codegen'd, no UDF, no shuffle);
    * script classes via regex script properties, which both Java regex
    * (`\p{IsLatin}`) and RE2 (`\p{Latin}`) support, so the semantics
    * reproduce in any engine.
    */
  def scriptMix(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val text = col(textCol)
    val (nChars, scripts) = scriptCounts(text)
    val base = greatest(nChars, lit(1)).cast("double")
    val fracs = scripts.map { case (n, c) => n -> round(c / base, 6) }
    val counted = scripts.map(_._2).reduce(_ + _)
    val best = fracs.map(_._2).reduce((a, b) => greatest(a, b))
    val dominant = fracs.foldRight(lit("other"): Column) { case ((n, f), acc) =>
      when(f === best && best > 0.0, lit(n)).otherwise(acc)
    }
    docs.select(col(idCol) +: nChars.cast("long").as("n_chars") +:
      fracs.map { case (n, f) => f.as(s"${n}_frac") } :+
      round((nChars - counted) / base, 6).as("other_frac") :+
      dominant.as("dominant_script"): _*)
  }

  /** Declared-vs-detected language consistency audit: the metadata-QA
    * pass over a corpus that ships a `lang` column (crawls do; it is
    * routinely wrong) — a confusion matrix of declared label against
    * [[langId]]'s detection, with each cell's share of its declared
    * row. High-share off-diagonal cells are mislabeled slices that
    * would poison language-filtered training mixes.
    *
    * One scan (the detector is codegen'd stopword counting) + one
    * two-key aggregation + a broadcast per-declared total.
    */
  def langConsistency(docs: org.apache.spark.sql.DataFrame,
      textCol: String, declaredCol: String): org.apache.spark.sql.DataFrame = {
    val cells = docs.select(col(declaredCol).as("declared"),
        langId(col(textCol)).as("detected"))
      .groupBy("declared", "detected").agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("declared").agg(sum("n").as("_t"))
    cells.join(broadcast(totals), "declared")
      .select(col("declared"), col("detected"), col("n"),
        round(col("n").cast("double") / col("_t"), 6).as("share"),
        (col("declared") === col("detected")).as("consistent"))
  }

  /** Flesch reading-ease score (Flesch 1948, the curriculum/audience
    * difficulty signal): `206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words)`, with sentences counted as terminal-
    * punctuation runs (min 1) and syllables approximated by vowel-
    * group runs — the standard regex approximation, identical in any
    * regex engine. Zero-word docs are excluded. Output per doc:
    * n_words, n_sentences, n_syllables, flesch (4 dp).
    */
  def readability(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val nW = tokenCount(t).cast("double")
    val nS = greatest(
      size(regexp_extract_all(t, lit("[.!?]+"), lit(0))), lit(1))
      .cast("double")
    val nSyl = greatest(
      size(regexp_extract_all(t, lit("[aeiouyAEIOUY]+"), lit(0))), lit(1))
      .cast("double")
    docs.filter(tokenCount(t) > 0)
      .select(col(idCol),
        nW.cast("long").as("n_words"),
        nS.cast("long").as("n_sentences"),
        nSyl.cast("long").as("n_syllables"),
        round(lit(206.835) - lit(1.015) * (nW / nS) -
          lit(84.6) * (nSyl / nW), 4).as("flesch"))
  }

  /** Vocabulary-coverage curve — the tokenizer-sizing table: what
    * fraction of corpus token OCCURRENCES the top-`s` vocabulary
    * covers, for each candidate size `s` (the knee of this curve is
    * where vocab growth stops paying). Output per size:
    * (`vocab_size`, `n_types`, `coverage` 6 dp). Companion to
    * [[zipfFit]] (shape) and the fixed-k OOV rate (l71).
    *
    * Scale shape: the census collapses the corpus map-side; only the
    * top-`max(sizes)` rows (a constant) reach the rank window; the
    * per-size sums ride a broadcast size table and a 1-row total.
    */
  def vocabCoverageCurve(docs: org.apache.spark.sql.DataFrame,
      textCol: String, sizes: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(sizes.nonEmpty, "at least one vocab size required")
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val census = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val totals = census.agg(sum("freq").as("_total"),
      count(lit(1)).as("n_types"))
    val top = census.orderBy(col("freq").desc, col("tok"))
      .limit(sizes.max)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("tok"))))
    top.join(broadcast(sizes.toDF("vocab_size")),
        col("rank") <= col("vocab_size"))
      .groupBy("vocab_size").agg(sum("freq").as("_covered"))
      .crossJoin(broadcast(totals))
      .select(col("vocab_size").cast("long").as("vocab_size"),
        col("n_types"),
        round(col("_covered").cast("double") / col("_total"), 6)
          .as("coverage"))
  }

  /** Zipf-law fit over the token census — the linguistic sanity check
    * of a dataset card: natural text shows log-frequency falling
    * ~linearly in log-rank with slope ≈ −1; a much flatter or steeper
    * slope flags templated/bot content or a collapsed vocabulary.
    * Least squares of ln(freq) on ln(rank) over the top `topR` ranks:
    * one row (`n_ranks`, `slope`, `intercept`, `r2`, 6 dp).
    *
    * Scale shape: the corpus collapses to the token census (map-side
    * combinable); only the top-`topR` rows (a constant) reach the
    * rank window and the regression sums. The ln() calls are libm —
    * within 1 ulp across engines; the 6-dp round absorbs it (the
    * project's libm rule).
    */
  def zipfFit(docs: org.apache.spark.sql.DataFrame, textCol: String,
      topR: Int = 100): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val census = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok")).limit(topR)
    // the window runs over <= topR rows (post-limit) — single-task by
    // construction and constant-sized, not a corpus-wide sort
    val ranked = census.withColumn("rank", row_number().over(
      Window.orderBy(col("freq").desc, col("tok"))))
    val pts = ranked.select(log(col("rank").cast("double")).as("x"),
      log(col("freq").cast("double")).as("y"))
    pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_ranks"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
          col("n"), 6).as("intercept"),
        round(
          pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
             (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  /** Length-distribution drift between two corpus versions — the
    * Kolmogorov-Smirnov distance over per-document token counts: the
    * release-gate companion to [[vocabDrift]] (vocab can be stable
    * while a truncation bug silently halves documents; this catches
    * it). Output one row: `ks` (max CDF gap, 6 dp), `n_old`, `n_new`,
    * `n_lengths` (distinct lengths compared).
    *
    * Scale shape: each side collapses to (length → count) — length
    * cardinality is bounded by the longest document, thousands at
    * most, so the single CDF window runs over a constant-sized frame;
    * the corpora are only read by the two counting aggregations.
    */
  def lengthDrift(oldDocs: org.apache.spark.sql.DataFrame,
      newDocs: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def counts(df: org.apache.spark.sql.DataFrame, as: String) =
      df.select(tokenCount(col(textCol)).cast("long").as("len"))
        .groupBy("len").agg(count(lit(1)).as(as))
    val joined = counts(oldDocs, "c_old")
      .join(counts(newDocs, "c_new"), Seq("len"), "full")
      .na.fill(0L, Seq("c_old", "c_new"))
    val w = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = joined.agg(sum("c_old").as("n_old"), sum("c_new").as("n_new"))
    joined
      .withColumn("cum_old", sum("c_old").over(w))
      .withColumn("cum_new", sum("c_new").over(w))
      .crossJoin(broadcast(tot))
      .select(abs(col("cum_old").cast("double") / col("n_old") -
          col("cum_new").cast("double") / col("n_new")).as("gap"),
        col("n_old"), col("n_new"))
      .groupBy("n_old", "n_new")
      .agg(round(max("gap"), 6).as("ks"), count(lit(1)).as("n_lengths"))
      .select(col("ks"), col("n_old"), col("n_new"), col("n_lengths"))
  }

  /** Pearson correlations between per-document quality signals, per
    * source — the calibration check before combining signals into a
    * composite score (two signals correlating ≈1 are redundant; a
    * negative correlation flags a signal measuring something else on
    * that source). Signals: char count, token count, punctuation
    * count. Output per source: `n_docs`, `corr_chars_tokens`,
    * `corr_chars_punct`, `corr_tokens_punct` (6 dp; 0.0 when a
    * signal is constant — correlation undefined → reported as 0).
    *
    * Determinism: correlation is computed from the SIX raw integer
    * sums (n, Σx, Σy, Σxy, Σx², Σy²) rather than a streaming
    * co-moment — integer sums are exact in any engine and order, and
    * IEEE sqrt/divide are correctly rounded, so the result is
    * bit-identical across engines (a Welford-style single-pass corr
    * is order-dependent in the low bits). All sums are map-side
    * combinable; one aggregation keyed by source.
    */
  def signalCorr(docs: org.apache.spark.sql.DataFrame,
      textCol: String, srcCol: String): org.apache.spark.sql.DataFrame = {
    val sig = docs.select(col(srcCol),
      length(col(textCol)).cast("long").as("x"),
      tokenCount(col(textCol)).cast("long").as("y"),
      length(regexp_replace(col(textCol), "[^.,;:!?'\"()-]", ""))
        .cast("long").as("z"))
    def corrCols(a: String, b: String): Column = {
      val n = col("n").cast("double")
      val sa = col(s"s_$a").cast("double")
      val sb = col(s"s_$b").cast("double")
      val sab = col(s"s_$a$b").cast("double")
      val saa = col(s"s_$a$a").cast("double")
      val sbb = col(s"s_$b$b").cast("double")
      val num = n * sab - sa * sb
      val den = sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb)
      when(den === 0.0, 0.0).otherwise(round(num / den, 6))
    }
    sig.groupBy(srcCol).agg(
        count(lit(1)).as("n"),
        sum("x").as("s_x"), sum("y").as("s_y"), sum("z").as("s_z"),
        sum(col("x") * col("y")).as("s_xy"),
        sum(col("x") * col("z")).as("s_xz"),
        sum(col("y") * col("z")).as("s_yz"),
        sum(col("x") * col("x")).as("s_xx"),
        sum(col("y") * col("y")).as("s_yy"),
        sum(col("z") * col("z")).as("s_zz"))
      .select(col(srcCol), col("n").as("n_docs"),
        corrCols("x", "y").as("corr_chars_tokens"),
        corrCols("x", "z").as("corr_chars_punct"),
        corrCols("y", "z").as("corr_tokens_punct"))
  }

  /** Tokenizer fertility by script — the tokenizer-health section of
    * a dataset card: per dominant script ([[scriptMix]]'s argmax),
    * how many subwords the tokenizer spends per whitespace word
    * (`fertility`) and how many non-space chars each subword covers.
    * High fertility on a script means the subword scheme fragments it
    * (the standard multilingual-tokenizer complaint, quantified per
    * corpus); zero-word documents are excluded (nothing to tokenize).
    *
    * One scan-shaped projection (counts + dominant script in the same
    * select) + one small aggregation keyed by script (a handful of
    * groups) — map-side combinable, no data-sized shuffle at all.
    *
    * Degenerate-input contract (changed by the r14 fusion, ADVICE
    * r14): the old shape inner-joined [[scriptMix]]'s frame back on
    * the id column, which silently DROPPED rows with null ids and
    * row-MULTIPLIED duplicate ids; the fused single-projection shape
    * counts every input row exactly once regardless of id nulls or
    * duplicates — the id column no longer participates at all.
    */
  def tokenFertility(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    // dominant_script is a scan-time expression, so it rides the SAME
    // projection as the token/char counts — the previous shape joined
    // scriptMix's frame back by id, i.e. two exchanges plus a join of
    // two pure maps over identical rows (r14 opt: join removed)
    val per = docs.select(col(idCol),
      tokenCount(col(textCol)).as("n_words"),
      subwordCount(col(textCol)).as("n_subwords"),
      length(regexp_replace(col(textCol), "\\s", "")).as("n_chars"),
      dominantScriptCol(col(textCol)).as("dominant_script"))
    per
      .filter(col("n_words") > 0)
      .groupBy("dominant_script")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_subwords").cast("double") / col("n_words")), 6)
          .as("fertility"),
        round(avg(col("n_chars").cast("double") /
          greatest(col("n_subwords"), lit(1))), 6).as("chars_per_subword"))
  }

  /** Per-document mean CONDITIONAL bigram log-probability under the
    * corpus's own add-1-smoothed bigram model — the next step up from
    * [[unigramLogProb]] as a fluency proxy: P(w₂|w₁) = (C(w₁w₂)+1) /
    * (C(w₁·)+V) penalizes improbable transitions, not just rare
    * tokens, so shuffled text scores below natural text even when the
    * unigram mix is identical.
    *
    * Scale shape (the l36 lesson, kept lazy): bigrams come from the
    * codegen'd [[graft.functions.WordGrams]] kernel; the bigram and
    * prefix models are two vocabulary-sized hash aggregations; the
    * vocabulary size rides the plan as a broadcast 1-row aggregate
    * (no eager count()); scoring is a bigram-keyed join + one per-doc
    * fold. Documents with fewer than two tokens have no transitions
    * and drop out.
    */
  def bigramLogProb(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val norm = regexp_replace(trim(col(textCol)), "\\s+", " ")
    // census/join keys are xxhash64 of the bigram and of its first
    // word — 8 bytes per row through every shuffle instead of the gram
    // strings (the l41/l68 fingerprint-width argument: tokens are
    // \s+-split so the space-joined gram is bijective with its token
    // pair, and the sf0.01 oracle computes string-equality grams, so a
    // fixture collision would fail the driver hash loudly). The
    // prefix census reuses the bigram census (w1h is functionally
    // dependent on bgh, so min() just carries it) instead of
    // re-splitting gram strings.
    val big = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        explode(graft.functions.TextShingles.grams(norm, 2)).as("bg"))
      .select(col(idCol), xxhash64(col("bg")).as("bgh"),
        xxhash64(split(col("bg"), " ").getItem(0)).as("w1h"))
    val bgCounts = big.groupBy("bgh")
      .agg(count(lit(1)).as("cbg"), min(col("w1h")).as("w1h"))
    val prefix = bgCounts.groupBy("w1h").agg(sum("cbg").as("cw1"))
    val vocab = docs.filter(length(trim(col(textCol))) > 0)
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .agg(countDistinct("w").cast("double").as("vsize"))
    big.join(bgCounts.drop("w1h"), "bgh")
      .join(prefix, "w1h")
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log2((col("cbg") + 1).cast("double") /
          (col("cw1").cast("double") + col("vsize")))), 6).as("mean_logp"))
  }

  /** Per-group corpus summary (the "describe" of a training corpus):
    * document count, token totals/averages, exact p50/p90 token
    * counts, average char length — the dataset-card numbers a curation
    * pipeline reports per source/language/shard.
    *
    * One hash-aggregation; the exact percentiles sort only each
    * group's token-count column (a long per doc), not documents.
    */
  def corpusStats(docs: org.apache.spark.sql.DataFrame,
      groupCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(col(groupCol),
        tokenCount(col(textCol)).cast("long").as("nt"),
        length(col(textCol)).cast("long").as("nc"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").as("total_tokens"),
        round(avg("nt"), 4).as("avg_tokens"),
        expr("cast(percentile(nt, 0.5) as double)").as("p50_tokens"),
        expr("cast(percentile(nt, 0.9) as double)").as("p90_tokens"),
        round(avg("nc"), 4).as("avg_chars"))

  /** BPE pair statistics (Sennrich et al. 2016's merge-selection
    * census): the corpus-wide frequency of every adjacent character
    * pair inside tokens — the statistic byte-pair-encoding training
    * recomputes before each merge, and the standard first look at a
    * corpus before training a tokenizer on it. Top-`k` pairs with a
    * deterministic rank ((count desc, pair asc) total order).
    *
    * Scale shape: pairs come from the codegen'd
    * [[graft.functions.CharGrams]] kernel (one static call per token —
    * the `transform(sequence(...))`-with-`substr` formulation is
    * CodegenFallback, the [[ngramTopK]] lesson) and explode straight
    * off the scan; ONE hash aggregation on the pair (map-side combine
    * absorbs almost everything: the pair alphabet is tiny), and the
    * global top-k is a TakeOrderedAndProject over the alphabet-sized
    * aggregate — never the corpus. The rank window then runs over only
    * k rows.
    */
  def bpePairStats(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, k: Int,
      minCount: Long = 1L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(graft.functions.TextShingles.charGrams(col("w"), 2))
        .as("pair"))
    val totals = pairs.groupBy("pair")
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
    val top = totals.orderBy(col("n_occurrences").desc, col("pair")).limit(k)
    val w = Window.orderBy(col("n_occurrences").desc, col("pair"))
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Approximate top-k n-grams with BOUNDED memory (SpaceSaving,
    * Metwally et al. 2005, merged as summaries): the exact census
    * ([[ngramTopK]]) is right while distinct grams fit a hash
    * aggregate — bigrams do; 5-grams over 100 TB do not. Here every
    * partition keeps an `m`-counter SpaceSaving summary (any gram with
    * true count > partitionN/m survives; an evicted-and-reinserted
    * gram's count is overestimated by at most its recorded `err`), and
    * the summaries combine RELATIONALLY: per gram, the upper bound is
    * Σ counts where present + Σ min-counter over absent partitions
    * (the classic mergeable-summaries bound), the lower bound is
    * Σ (count − err) where present. Memory is partitions × m rows —
    * fixed — regardless of vocabulary size.
    *
    * Output: top-`k` by upper bound with (`est_hi`, `est_lo`) so the
    * caller sees the uncertainty; `rank` over (est_hi desc, gram asc).
    * Results depend on partition layout (inherent to the sketch);
    * correctness rides on the planted-skew spec (clearly separated
    * heads are exact: a gram never evicted has err 0 and
    * est_hi = est_lo = true count) plus [[ngramTopKAudit]], which
    * asserts the sketch's bounds against the exact census in-query —
    * the oracle-checkable form the l56 registry entry runs.
    */
  def ngramTopKApprox(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, n: Int, k: Int,
      m: Int = 4096): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (merged, _) = spaceSavingMerged(ngramStream(docs, textCol, n), m)
    merged
      .orderBy(col("est_hi").desc, col("gram")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("est_hi").desc, col("gram"))).cast("long"))
  }

  /** The occurrence stream feeding the n-gram census family: one row
    * per gram occurrence (duplicates kept), whitespace normalized.
    */
  private def ngramStream(docs: org.apache.spark.sql.DataFrame,
      textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    val norm = regexp_replace(trim(col(textCol)), "\\s+", " ")
    docs.filter(length(trim(col(textCol))) > 0)
      .select(explode(graft.functions.TextShingles.grams(norm, n)).as("gram"))
  }

  /** Per-partition SpaceSaving summaries of a gram-occurrence stream,
    * merged relationally. Returns (merged, allMin): `merged` has one
    * row per gram present in ANY partition summary with the mergeable-
    * summaries bounds (`est_lo` ≤ true count ≤ `est_hi`); `allMin` is
    * the 1-row Σ of per-partition min counters — the upper bound on
    * the true count of any gram absent from EVERY summary.
    */
  private def spaceSavingMerged(grams: org.apache.spark.sql.DataFrame,
      m: Int): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types._
    val summarySchema = StructType(Seq(
      StructField("pid", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false),
      StructField("err", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(summarySchema)
    val summaries = grams.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val counters = new java.util.HashMap[String, Array[Long]]() // (cnt, err)
      // count → grams at that count (stream-summary buckets): eviction
      // picks TreeMap.firstEntry / TreeSet.first in O(log m) instead of
      // rescanning all m counters per evicted gram — the full-scan
      // formulation was O(distinct-tail × m) on heavy-tailed corpora,
      // the exact regime this sketch exists for. Tie on lexicographic
      // min gram (TreeSet order) preserves the previous determinism
      // contract under a fixed partition layout.
      val byCount = new java.util.TreeMap[Long, java.util.TreeSet[String]]()
      @inline def bucketAdd(cnt: Long, g: String): Unit = {
        var s = byCount.get(cnt)
        if (s == null) { s = new java.util.TreeSet[String](); byCount.put(cnt, s) }
        s.add(g); ()
      }
      @inline def bucketRemove(cnt: Long, g: String): Unit = {
        val s = byCount.get(cnt)
        s.remove(g)
        if (s.isEmpty) byCount.remove(cnt); ()
      }
      it.foreach { r =>
        val g = r.getString(0)
        val c = counters.get(g)
        if (c != null) {
          bucketRemove(c(0), g); c(0) += 1; bucketAdd(c(0), g)
        } else if (counters.size < m) {
          counters.put(g, Array(1L, 0L)); bucketAdd(1L, g)
        } else {
          val minEntry = byCount.firstEntry()
          val minC = minEntry.getKey
          val minG = minEntry.getValue.first()
          bucketRemove(minC, minG)
          counters.remove(minG)
          counters.put(g, Array(minC + 1, minC)); bucketAdd(minC + 1, g)
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[SRow](counters.size)
      counters.forEach { (g, v) => out += SRow(pid, g, v(0), v(1)) }
      out.iterator
    }(enc)
    // relational merge of the per-partition summaries (bounded input:
    // partitions × m rows). localCheckpoint: the summary feeds three
    // aggregates below and must not recompute the corpus scan per use.
    val sums = summaries.localCheckpoint()
    val minPerPart = sums.groupBy("pid")
      .agg(when(count(lit(1)) < m, lit(0L))
        .otherwise(min(col("cnt"))).as("minc"))
    val allMin = minPerPart.agg(
      coalesce(sum("minc"), lit(0L)).as("all_min"))
    val perGram = sums.join(minPerPart, "pid")
      .groupBy("gram")
      .agg(sum("cnt").as("present_cnt"),
        sum(col("cnt") - col("err")).as("lo"),
        sum("minc").as("present_min"))
    val merged = perGram.crossJoin(broadcast(allMin))
      .select(col("gram"),
        (col("present_cnt") + col("all_min") - col("present_min")).as("est_hi"),
        col("lo").as("est_lo"))
    (merged, allMin)
  }

  /** SELF-AUDITING census: the exact top-`k` n-grams (deterministic —
    * count desc, gram asc) with, per gram, the verdict that the
    * [[ngramTopKApprox]] SpaceSaving sketch honored its mergeable-
    * summaries contract on this corpus: a gram present in the merged
    * summary must satisfy `est_lo ≤ exact ≤ est_hi`; a gram absent
    * from every partition summary must have exact count ≤ Σ per-
    * partition min counters. Both are theorems of the sketch (they
    * hold under ANY partition layout), so `sketch_ok` is a constant
    * `true` an oracle can hash — the q12/q14c promotion pattern: the
    * anchor columns (gram, exact count, rank) are exactly checkable,
    * and a sketch bug flips the boolean and fails the hash compare.
    *
    * Scale shape: the exact census this runs beside the sketch is the
    * audit's price — use it at validation scale (or on a sampled
    * slice); the production operator remains [[ngramTopKApprox]],
    * whose memory is partitions × m regardless of vocabulary.
    */
  def ngramTopKAudit(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, n: Int, k: Int,
      m: Int = 4096): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = ngramStream(docs, textCol, n)
    val (merged, allMin) = spaceSavingMerged(grams, m)
    val exact = grams.groupBy("gram").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("gram")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("exact_cnt").desc, col("gram"))).cast("long"))
    exact.join(merged, Seq("gram"), "left")
      .crossJoin(broadcast(allMin))
      .select(col("gram"), col("exact_cnt"), col("rank"),
        when(col("est_lo").isNotNull,
          col("est_lo") <= col("exact_cnt") &&
            col("exact_cnt") <= col("est_hi"))
          .otherwise(col("exact_cnt") <= col("all_min")).as("sketch_ok"))
  }

  /** BPE tokenizer training (Sennrich et al. 2016): learn `nMerges`
    * merge rules by repeatedly merging the corpus's most frequent
    * adjacent symbol pair. Ties break (count desc, pair asc) so the
    * learned table is deterministic; training stops early when no pair
    * occurs twice.
    *
    * Scale shape — the key move: the corpus collapses to its WORD
    * FREQUENCY VOCABULARY in one shuffle (the only corpus-sized pass),
    * and every merge iteration then runs over the bounded vocab frame:
    * a codegen'd [[graft.functions.AdjacentPairs]] explode + one hash
    * agg + a 1-row TakeOrdered collect (the chosen pair — the only
    * thing the driver ever holds), then a codegen'd
    * [[graft.functions.MergePair]] rewrite. Lineage is cut every 8
    * iterations (localCheckpoint, the ConnectedComponents lesson) so
    * nMerges plans never stack. At 100 TB one trains on a hash-sampled
    * slice (the standard practice) — the vocab agg composes with
    * [[graft.llm.Corpus]]'s deterministic samplers.
    *
    * Tokens containing U+001F (the pair-census separator) are dropped
    * at ingest — it's a control character, never legitimate text.
    */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
      nMerges: Int): Seq[(String, String)] = {
    import graft.functions.TextShingles
    var vocab = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0 && !col("w").contains("\u001f"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), TextShingles.charGrams(col("w"), 1).as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    var i = 0
    while (i < nMerges && !done) {
      val top = vocab
        .select(col("cnt"),
          explode(TextShingles.adjacentPairs(col("syms"))).as("p"))
        .groupBy("p").agg(sum("cnt").as("n"))
        .filter(col("n") >= 2)
        .orderBy(col("n").desc, col("p")).limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val sep = top(0).getString(0).indexOf('\u001f')
        val (a, b) = (top(0).getString(0).substring(0, sep),
          top(0).getString(0).substring(sep + 1))
        merges += ((a, b))
        vocab = vocab.withColumn("syms",
          TextShingles.mergePair(col("syms"), a, b))
        if ((i + 1) % 8 == 0) vocab = vocab.localCheckpoint()
      }
      i += 1
    }
    merges.toSeq
  }

  /** Apply a learned BPE merge table to a corpus: each whitespace token
    * splits to code points, then merges apply in priority order (lowest
    * rank first, leftmost occurrence first — the canonical encoder),
    * yielding (`id`, `tokens` array, `n_tokens`) per document.
    *
    * The merge table is vocabulary-sized and rides the closure
    * (broadcast with the task binary); encoding is pure per-partition
    * CPU — no shuffle, no driver round-trips.
    */
  def bpeEncode(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, merges: Seq[(String, String)])
      : org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    val rank = merges.zipWithIndex.toMap
    val encode = udf { (text: String) =>
      if (text == null) Array.empty[String]
      else text.trim.split("\\s+").filter(_.nonEmpty).flatMap { w =>
        var syms = w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
        var continue = true
        while (continue && syms.length > 1) {
          // lowest-rank adjacent pair present in the word
          var best = Int.MaxValue
          var bestAt = -1
          var j = 0
          while (j < syms.length - 1) {
            val r = rank.getOrElse((syms(j), syms(j + 1)), Int.MaxValue)
            if (r < best) { best = r; bestAt = j }
            j += 1
          }
          if (bestAt < 0) continue = false
          else {
            val merged = syms(bestAt) + syms(bestAt + 1)
            syms = (syms.take(bestAt) :+ merged) ++ syms.drop(bestAt + 2)
          }
        }
        syms
      }
    }
    docs.select(col(idCol), encode(col(textCol)).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
  }

  /** Viterbi segmentation of one word under a unigram piece LM —
    * shared by [[unigramLmTrain]]'s E-step and [[unigramEncode]].
    * best[i] = max over piece lengths L of best[i−L] + logp(w[i−L..i]);
    * ties prefer the LONGER final piece (deterministic). Characters
    * absent from the model fall back to a deep floor so unknown text
    * segments per-char instead of failing.
    */
  private def unigramSegment(w: String, logp: collection.Map[String, Double],
      maxLen: Int): Array[String] = {
    val n = w.length
    if (n == 0) return Array.empty
    val unk = -100.0
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1) // piece length ending at i
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      val maxL = math.min(maxLen, i)
      while (l <= maxL) {
        val piece = w.substring(i - l, i)
        val lp = logp.getOrElse(piece, if (l == 1) unk else Double.NegativeInfinity)
        if (lp != Double.NegativeInfinity && best(i - l) + lp >= best(i)) {
          best(i) = best(i - l) + lp
          back(i) = l
        }
        l += 1
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var at = n
    while (at > 0) { out += w.substring(at - back(at), at); at -= back(at) }
    out.reverseIterator.toArray
  }

  /** Unigram-LM tokenizer training (Kudo 2018, the SentencePiece
    * model; Viterbi-EM variant): seed vocabulary = every ≤`maxPieceLen`
    * substring of the word census with corpus frequency ≥ `minCount`
    * (capped at `seedCap` by frequency) plus every single character
    * (the coverage guarantee); then `emIters` rounds of hard EM —
    * E-step Viterbi-segments the DISTINCT-WORD census (vocabulary-
    * sized, the bpeTrain trick: the corpus shuffles once, ever, into
    * the census) under current piece log-probs, M-step re-estimates
    * probs from usage weighted by word counts; finally prune to the
    * `vocabSize` highest-usage multi-char pieces + all chars and
    * renormalize.
    *
    * Scale shape: one corpus shuffle (word census) + per-iteration
    * vocabulary-sized aggregations; the model (≤ seedCap pieces)
    * broadcasts into the segmentation UDF exactly like bpeEncode's
    * merge table, and the per-iteration collect is model-sized — the
    * documented driver minimum for tokenizer training (the model must
    * live somewhere whole). Segmentation DP is a UDF because an
    * iterative argmax recurrence has no Catalyst form (the bpeEncode
    * precedent).
    *
    * Returns (piece, logp, rank), rank 1 = most probable.
    */
  def unigramLmTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
      vocabSize: Int = 2000, maxPieceLen: Int = 6, minCount: Long = 4L,
      emIters: Int = 3, seedCap: Int = 50000): Seq[(String, Double)] = {
    val words = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // seed: all substrings up to maxPieceLen, weighted by word count
    val subs = words.select(col("cnt"), explode(flatten(
        transform(sequence(lit(1), length(col("w"))), i =>
          transform(sequence(lit(1),
            least(lit(maxPieceLen), length(col("w")) - i + 1)), j =>
            col("w").substr(i, j))))).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("freq"))
    val chars = subs.filter(length(col("piece")) === 1)
    val multi = subs.filter(length(col("piece")) > 1 && col("freq") >= minCount)
      .orderBy(col("freq").desc, col("piece")).limit(seedCap)
    var model: Map[String, Double] = {
      val seed = chars.unionByName(multi)
        .select("piece", "freq").collect()
        .map(r => r.getString(0) -> r.getLong(1).toDouble)
      val total = seed.map(_._2).sum
      seed.map { case (p, f) => p -> math.log(f / total) }.toMap
    }
    val maxLen = maxPieceLen
    for (_ <- 1 to emIters) {
      val logp = model
      val seg = udf { (w: String) => unigramSegment(w, logp, maxLen) }
      val usage = words
        .select(col("cnt"), explode(seg(col("w"))).as("piece"))
        .groupBy("piece").agg(sum("cnt").as("used"))
        .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
      val total = usage.values.sum
      // unused single chars keep a smoothed floor (coverage); unused
      // multi-char pieces drop out
      model = model.flatMap { case (p, _) =>
        usage.get(p) match {
          case Some(u) => Some(p -> math.log(u / total))
          case None if p.length == 1 => Some(p -> math.log(0.5 / total))
          case None => None
        }
      }
    }
    val (charsM, multiM) = model.toSeq.partition(_._1.length == 1)
    val kept = charsM ++ multiM
      .sortBy { case (p, lp) => (-lp, p) }
      .take(math.max(0, vocabSize - charsM.size))
    // renormalize over the pruned vocabulary
    val z = kept.map { case (_, lp) => math.exp(lp) }.sum
    kept.map { case (p, lp) => p -> (lp - math.log(z)) }
      .sortBy { case (p, lp) => (-lp, p) }
  }

  /** Segment a corpus with a trained unigram model: (`id`, `tokens`,
    * `n_tokens`, `fertility` = pieces per word). The model rides the
    * closure like bpeEncode's merge table; pure per-partition CPU.
    */
  def unigramEncode(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, model: Seq[(String, Double)],
      maxPieceLen: Int = 6): org.apache.spark.sql.DataFrame = {
    val logp = model.toMap
    val enc = udf { (text: String) =>
      if (text == null) Array.empty[String]
      else text.trim.split("\\s+").filter(_.nonEmpty)
        .flatMap(w => unigramSegment(w, logp, maxPieceLen))
    }
    docs.select(col(idCol), enc(col(textCol)).as("tokens"),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_words"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
      .withColumn("fertility",
        round(col("n_tokens") / greatest(col("n_words"), lit(1L)), 6))
      .drop("n_words")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", reduced to the
    * unigram feature space): score every raw-corpus document by how
    * much more likely its tokens are under a target-distribution
    * unigram LM than under the raw-corpus unigram LM,
    * `mean_w [ ln p_target(w) − ln p_raw(w) ]` with add-one smoothing
    * over the raw vocabulary. High scores mark documents that look
    * like the target domain — the cheap, trainable-model-free way to
    * select pretraining data toward a quality/domain target. (The mean
    * rather than the paper's sum keeps the score length-unbiased,
    * matching [[unigramLogProb]]'s convention.)
    *
    * Scale shape: both unigram models are single hash aggregations
    * (vocabulary-sized results — the target model additionally tiny
    * because target sets are); the model join is vocabulary-keyed and
    * broadcastable; totals fold from the model itself (1-row aggregate
    * cross-joined), so the whole computation is one lazy plan: two
    * aggregations + one token-keyed join, no driver action. avg()
    * folds doubles in partition order; ~1e-15 drift absorbed by
    * round(,6) — the [[tokenEntropy]] libm contract.
    */
  def importanceWeights(raw: org.apache.spark.sql.DataFrame,
      target: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    // hashed census/join keys — the [[unigramLogProb]] rationale
    // verbatim (tf pre-aggregation probed and rejected there too)
    def toks(df: org.apache.spark.sql.DataFrame) =
      df.select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .select(col(idCol), xxhash64(col("w")).as("wh"))
    val rawToks = toks(raw)
    val rawModel = rawToks.groupBy("wh").agg(count(lit(1)).as("c_raw"))
    val tgtModel = toks(target).groupBy("wh").agg(count(lit(1)).as("c_tgt"))
    val model = rawModel.join(tgtModel, Seq("wh"), "left")
      .select(col("wh"), col("c_raw"),
        coalesce(col("c_tgt"), lit(0L)).as("c_tgt"))
    val totals = model.agg(
      sum("c_raw").cast("double").as("t_raw"),
      sum("c_tgt").cast("double").as("t_tgt"),
      count(lit(1)).cast("double").as("v"))
    rawToks.join(model, "wh")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(
          log((col("c_tgt") + 1) / (col("t_tgt") + col("v"))) -
            log((col("c_raw") + 1) / (col("t_raw") + col("v")))), 6)
          .as("dsir_weight"))
  }

  /** Compression-ratio quality signal (the CCNet/RefinedWeb
    * "compression filtering" heuristic): DEFLATE(text) / len(text).
    * Highly repetitive or templated text compresses far below natural
    * prose while random/encoded junk barely compresses at all, so one
    * cheap, language-agnostic, model-free scan separates both failure
    * modes; `keep` brackets the ratio into [minRatio, maxRatio].
    *
    * Scale shape: a pure codegen'd column expression
    * ([[graft.functions.DeflateRatio]], one static zlib call per row)
    * over the scan — no shuffle, no UDF wrapper, no vocabulary. Not
    * oracle-checkable (no DEFLATE in ANSI SQL/DuckDB), so correctness
    * rides on the property spec: empty = 1.0, repetitive < prose,
    * deterministic per input.
    */
  def compressionSignals(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      minRatio: Double = 0.3, maxRatio: Double = 0.95): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        round(graft.functions.TextCompress.deflateRatio(col(textCol)), 6)
          .as("deflate_ratio"))
      .withColumn("keep",
        col("deflate_ratio").between(minRatio, maxRatio))

  /** Per-document token (Shannon) entropy in bits — a vocabulary-
    * diversity quality signal: repetitive or templated text scores low,
    * natural prose high. Aggregation-shaped (explode → per-(doc, token)
    * count → per-doc fold; both groupBys combine map-side), unlike the
    * pure column expressions above. Documents with no tokens are
    * absent from the result. `+ 0.0` normalizes the `-0.0` a
    * single-token document would otherwise produce (both engines).
    */
  def tokenEntropy(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val counts = toks.groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
    val withN = counts.withColumn("n",
      sum("c").over(Window.partitionBy(idCol)))
    withN.groupBy(col(idCol))
      .agg(round(-sum((col("c") / col("n")) * log2(col("c") / col("n"))) + lit(0.0), 6)
        .as("entropy"))
  }

  /** BM25 retrieval scores (Robertson/Sparck Jones; the Okapi
    * formulation with the +1 idf floor, as in Lucene): for each query
    * term, the top-`k` documents by
    * `idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))` with
    * `idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)`. One output row per
    * (term, doc) with the 6dp-rounded score and the per-term rank
    * (score desc, doc id asc — total order, hash-stable). Documents
    * with no tokens don't exist for retrieval, so N and avgdl are
    * computed over token-bearing documents.
    *
    * Scale shape: the token explode feeds two map-side-combined hash
    * aggregations (doc length, per-(doc,term) tf); the term filter is
    * applied BEFORE the tf shuffle so only rows for the |terms| query
    * terms move; N/avgdl and the per-term document frequencies ride a
    * broadcast 1-row / |terms|-row frame (the lazy-total pattern of
    * [[unigramLogProb]]); the final top-k windows only over documents
    * that contain a query term. Nothing driver-side, nothing
    * proportional to the corpus after the scan.
    */
  def bm25(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n"))
    val tf = toks.filter(col("w").isin(terms: _*))
      .groupBy(col(idCol), col("w").as("term"))
      .agg(count(lit(1)).as("tf"))
    bm25Score(tf, dl, stats, idCol, k, k1, b)
  }

  /** The shared BM25 scoring tail: per-term document frequencies from
    * the (already term-filtered) tf frame, idf with the +1 floor, the
    * Okapi score, per-term top-k. Same arithmetic order everywhere so
    * inline and index paths are bit-identical.
    */
  private def bm25Score(tf: org.apache.spark.sql.DataFrame,
      dl: org.apache.spark.sql.DataFrame, stats: org.apache.spark.sql.DataFrame,
      idCol: String, k: Int, k1: Double, b: Double): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
    val idf = log((col("n") - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5)) + lit(1.0))
    val scored = tf
      .join(dl, idCol)
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("score",
        round(idf * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 6))
    val w = Window.partitionBy(col("term"))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("term"), col(idCol), col("score"), col("rank"))
  }

  /** The PERSISTABLE BM25 inverted index (the lexical-retrieval
    * sibling of [[graft.llm.Similarity.buildIvfIndex]] / l72 and
    * [[graft.llm.TextDedup.buildNearDupIndex]] / l61): `postings`
    * (term, doc id, tf) hash-partitioned and sorted by term — so a
    * parquet round-trip gets row-group min/max term stats and a query
    * for |terms| words reads only the matching groups — plus `doclens`
    * (doc id, dl) and the 1-row `stats` (N, avgdl). Build cost is one
    * tokenize+aggregate pass, paid once; every subsequent query batch
    * runs [[bm25AgainstIndex]] over the stored frames without
    * re-tokenizing the corpus. At 100 TB the postings table is the
    * working set (≈ tokens × a few bytes, zipf-compacted by the tf
    * aggregation) and the raw text is never touched again.
    */
  def buildBm25Index(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val toks = docs.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val doclens = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val stats = doclens.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n"))
    val postings = toks
      .groupBy(col("w").as("term"), col(idCol))
      .agg(count(lit(1)).as("tf"))
      .repartition(col("term")).sortWithinPartitions("term")
    (postings, doclens, stats)
  }

  /** BM25 top-k served from a persisted [[buildBm25Index]]: identical
    * output to [[bm25]] on the same corpus (index ≡ inline is the l80
    * oracle claim). The term filter lands on the postings scan —
    * pushed to parquet row-group stats when the index was written
    * term-sorted — so per-query cost is O(matching postings), not
    * O(corpus).
    */
  def bm25AgainstIndex(postings: org.apache.spark.sql.DataFrame,
      doclens: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      idCol: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame =
    bm25Score(postings.filter(col("term").isin(terms: _*)),
      doclens, stats, idCol, k, k1, b)

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §3.3): score
    * every document under a PER-LANGUAGE unigram LM (mean log2
    * probability — the [[unigramLogProb]] metric, language-local), then
    * split each language into head/middle/tail terciles by LM score —
    * head = most-fluent third, the slice CCNet keeps for pretraining.
    * Tercile membership is ntile(3) over (language, score desc, id):
    * fully ordered, so bucket assignment is engine-portable.
    *
    * Scale shape: the LM is a (lang, token) hash aggregation; per-lang
    * totals broadcast; the per-doc fold is the unigramLogProb join
    * shape. The EXACT tercile needs a per-language sort of per-doc
    * scores (doc-count-sized, not token-sized); at 100 TB swap the
    * ntile for approx-quantile cut thresholds (two scans, no global
    * sort) — the operator's contract (3 buckets per lang) is unchanged.
    */
  def perplexityBuckets(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, langCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // hashed (lang, token) census/join keys — the [[unigramLogProb]]
    // rationale verbatim (tf pre-aggregation probed and rejected
    // there too)
    val toks = docs.select(col(idCol), col(langCol),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col(idCol), col(langCol), xxhash64(col("w")).as("wh"))
    val m = toks.groupBy(col(langCol), col("wh")).agg(count(lit(1)).as("c"))
    val n = toks.groupBy(col(langCol)).agg(count(lit(1)).as("n"))
    val scored = toks.join(m, Seq(langCol, "wh"))
      .join(broadcast(n), Seq(langCol))
      .groupBy(col(idCol), col(langCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log2(col("c") * lit(1.0) / col("n"))), 6).as("mean_logp"))
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("mean_logp").desc, col(idCol))
    scored.withColumn("_pb_t", ntile(3).over(w))
      .withColumn("bucket",
        when(col("_pb_t") === 1, "head")
          .when(col("_pb_t") === 2, "middle").otherwise("tail"))
      .drop("_pb_t")
  }

  /** TRAINED multinomial Naive Bayes document classifier (add-1
    * smoothing) — the count-based trainable sibling of the fixed-weight
    * [[qualityClassifier]], and the standard shape of a corpus
    * quality/domain filter trained from labeled seeds (CCNet's
    * "Wikipedia-reference" discriminator): training IS two counting
    * aggregations, so the entire train+score pipeline is declarative
    * and oracle-checkable. Emits one row per (document, class):
    * `log P(c) + Σ_tokens log P(w|c)` (6 dp) and a `pred` flag on the
    * argmax (ties to the lexically-first label).
    *
    * Unseen-token handling: a token absent from class c's training
    * counts contributes the smoothed floor ln(1/(n_c + V)) — the
    * coalesce default, so scoring a NEW corpus against a trained model
    * needs no vocabulary alignment.
    *
    * Scale shape: training = two map-side-combined hash aggregations
    * over exploded tokens (model state bounded by vocabulary ×
    * classes); class priors/defaults ride a broadcast classes-row
    * frame; scoring joins tokens to the model on (label, w) — the
    * [[unigramLogProb]] join shape — then folds per (doc, class).
    * Nothing driver-side; the model itself is a DataFrame, so it
    * persists/broadcasts like any other artifact.
    */
  def nbClassifier(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, labelCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), col(labelCol).as("_nb_lab"),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    // model and scoring shuffles are keyed by xxhash64(w) — the word
    // string never crosses an exchange (the l41/l68 fingerprint-width
    // argument; the sf0.01 oracle joins string words, so a fixture
    // collision would fail the driver hash loudly). Only the
    // vocabulary count still reads the strings (countDistinct of
    // hashes would silently shrink v on a collision instead of
    // failing loudly).
    val ct = toks.select(col("_nb_lab").as("label"), xxhash64(col("w")).as("wh"))
      .groupBy(col("label"), col("wh"))
      .agg(count(lit(1)).as("c"))
    val tot = toks.groupBy(col("_nb_lab").as("label"))
      .agg(count(lit(1)).as("n_lab"))
    val vocab = toks.agg(countDistinct(col("w")).as("v"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val priors = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs_lab"))
      .crossJoin(broadcast(nDocs))
      .select(col("label"),
        log(col("n_docs_lab") * lit(1.0) / col("n_docs")).as("prior"))
    val defaults = tot.crossJoin(broadcast(vocab))
      .select(col("label"),
        log(lit(1.0) / (col("n_lab") + col("v"))).as("lp0"))
    val model = ct.join(tot, "label").crossJoin(broadcast(vocab))
      .select(col("label"), col("wh"),
        log((col("c") + lit(1.0)) / (col("n_lab") + col("v"))).as("lp"))
    val classes = priors.join(defaults, "label")
    // aggregate token instances to per-(doc, word) term frequencies
    // BEFORE the per-class model join (guide §2.3 "aggregate before
    // you shuffle"): the join input shrinks from every token instance
    // × |classes| to every distinct (doc, word) × |classes|, and the
    // per-class score becomes Σ lp·tf. IEEE-754 caveat priced in:
    // lp·tf differs from tf-fold addition of lp by ≤1 ulp per term and
    // the summation order changes, a ~1e-12 absolute perturbation on
    // scores rounded at 6 dp — re-verified hash-green against the
    // DuckDB per-instance oracle at sf0.001/0.01/0.1 (deterministic
    // fixtures: the driver re-checks the same files).
    val tf = toks.select(col(idCol), xxhash64(col("w")).as("wh"))
      .groupBy(col(idCol), col("wh"))
      .agg(count(lit(1)).as("_tf"))
    val scored = tf
      .crossJoin(broadcast(classes))
      .join(model, Seq("label", "wh"), "left")
      .groupBy(col(idCol), col("label"), col("prior"), col("lp0"))
      .agg(sum(col("_tf")).as("n_tokens"),
        sum(coalesce(col("lp"), col("lp0")) * col("_tf")).as("_nb_s"))
      .select(col(idCol), col("label"), col("n_tokens"),
        round(col("prior") + col("_nb_s"), 6).as("score"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label"))
    scored.withColumn("pred", row_number().over(w) === 1)
  }

  /** Linear document-quality classifier (the fastText-style linear
    * model shape used for pretraining-corpus filtering, e.g. the
    * CCNet/LLaMA "Wikipedia-reference" filter): a fixed weight vector
    * over the standard quality signals, squashed through a sigmoid,
    * thresholded at 0.5. Weights are deterministic constants standing
    * in for a trained model's — the engine surface (signal extraction,
    * fixed-order dot product, decision) is the operator; swapping in
    * learned weights is a parameter change.
    *
    * Pure column expressions end-to-end (the signals are single-pass
    * regex/length counters, the dot product is a literal chain), so the
    * whole classifier stays inside whole-stage codegen over the scan —
    * zero shuffles, zero UDFs. The weighted sum is written as one
    * fixed-order left-associated chain so the double arithmetic is
    * bit-identical on any IEEE-754 engine (the determinism contract of
    * QuerySpec).
    */
  /** The 6dp-rounded sigmoid score of [[qualityClassifier]] as a bare
    * column (for report aggregations like `Corpus.datasetCard`).
    */
  def classifierScore(text: Column): Column = {
    val z = lit(-2.5) +
      lit(3.0) * alphaRatio(text) +
      lit(5.0) * stopwordRatio(text) -
      lit(8.0) * punctRatio(text) +
      lit(0.35) * log(tokenCount(text) + lit(1.0))
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  def qualityClassifier(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val score = classifierScore(col(textCol))
    docs.select(col(idCol), score.as("score"),
      (score >= 0.5).as("keep"))
  }
}
