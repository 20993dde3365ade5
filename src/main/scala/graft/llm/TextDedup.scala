package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{StreamCursor, TableHandle}

/** Deduplication operators for large-scale text corpora
  * (SURVEY.md §2.6 L1/L2; BASELINE.json north_star).
  *
  * All operators are shuffle-based (groupBy / self-join on bucket keys)
  * — no crossJoin anywhere, so candidate generation scales as
  * O(docs + candidate pairs), not O(docs²).
  */
object TextDedup {

  /** Exact dedup: one representative row (min id) per distinct value of
    * `on`. Plain hash-aggregation — partial combine map-side, one
    * shuffle on the dedup key.
    */
  def exact(df: DataFrame, idCol: String, on: String): DataFrame =
    df.groupBy(col(on))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Add a distinct-shingle-set column derived from `textCol`.
    *
    * PERF: the obvious `transform(sequence(...), i -> concat_ws(...))`
    * formulation is a CodegenFallback higher-order function that pays
    * per-element interpretation overhead (~17 µs/shingle measured);
    * `WordShingles` is a codegen'd kernel (<0.1 µs/shingle) with
    * identical semantics — split on single spaces, k-gram join with
    * one space, first-occurrence-ordered distinct, whole text for
    * docs shorter than k words.
    */
  def withShingles(df: DataFrame, textCol: String, out: String, k: Int = 3): DataFrame =
    df.withColumn(out, graft.functions.TextShingles.shingles(col(textCol), k))

  /** Exact Jaccard similarity of two (distinct-element) array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline:
    *  1. shingle each doc (k-word grams, distinct) — codegen'd kernel;
    *  2. `numHashes` MinHash signature values per doc in ONE map-side
    *     pass (`MinHashSig`): sig[j] = min over shingles of
    *     xxhash64(j, shingle), deterministic seeds. No explode, no
    *     aggregation shuffle — at 100 TB this is the difference
    *     between shuffling O(total shingles) rows and shuffling
    *     nothing at this stage;
    *  3. band the signature (`bands` bands of numHashes/bands rows),
    *     bucket key = hash of the band slice; self-join per bucket
    *     yields candidates (only colliding docs ever meet);
    *  4. verify candidates with exact Jaccard on the shingle sets and
    *     keep pairs ≥ `threshold`.
    *
    * DEFAULT BANDING = the production s-curve (numHashes=128,
    * bands=16, r=8): candidate floor (50 % collision) at j ≈ (1/16)^(1/8)
    * ≈ 0.70, so near-nothing below ~0.6 ever reaches the verify join.
    * The round-13 probe measured the alternative on the same 5 M-doc
    * corpus: the old fixture default (16, 8, r=2 — floor j ≈ 0.35)
    * leaked 8.1 M candidates on a 200 k slice and ran 2,085.8 s
    * end-to-end vs 65.4 s at this banding — 32× — purely from
    * below-threshold candidates paying shuffle + exact-Jaccard verify
    * (SCALING round-13). Candidate recall at the default 0.8
    * threshold: P(candidate | j=0.8) = 1−(1−0.8⁸)¹⁶ ≈ 0.95, ≈ 0.994
    * at j=0.85, ≈ 1 above 0.9 — the standard LSH trade (verify cost
    * is exact; recall at the floor edge is probabilistic). Callers
    * needing near-exact recall AT the 0.8 boundary on small corpora
    * (the sf0.01 oracle entries do) pass the fixture banding (16, 8)
    * explicitly and pay the candidate flood knowingly.
    */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleK: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands

    val sh = withShingles(
      docs.select(col(idCol).as("id"), col(textCol)), textCol, "sh", shingleK)
      .select("id", "sh")

    val sigs = sh.select(col("id"),
      graft.functions.TextShingles.minhashSig(col("sh"), numHashes).as("sig"))

    // one pass over sigs: explode an array of (band, bandHash) structs —
    // a per-band union would recompute the signatures `bands` times
    // (union branches don't share subtrees without caching)
    val bandStructs = array((0 until bands).map { b =>
      val slice = (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1))
      struct(lit(b).as("band"), xxhash64(slice: _*).as("sig"))
    }: _*)
    val banded = sigs.select(col("id"), explode(bandStructs).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.sig").as("sig"))

    val left = banded.select(col("band"), col("sig"), col("id").as("id_a"))
    val right = banded.select(col("band"), col("sig"), col("id").as("id_b"))
    val candidates = left.join(right, Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    // Verify joins ship the RAW TEXT (~300 B/doc) and recompute
    // shingles per candidate, instead of shuffling the shingle arrays
    // (~2 KB/doc as UnsafeArrayData of strings): identical semantics —
    // same shingles kernel either way — but the dominant shuffle/sort
    // volume drops ~6×. At 5 M docs that is the difference between
    // ~60 GB of sort-merge scratch (which filled the round-13 probe
    // VM's disk) and ~10 GB; candidates are band-bucketed and few, so
    // the per-pair re-shingling is noise.
    val txtA = docs.select(col(idCol).as("id_a"), col(textCol).as("_t_a"))
    val txtB = docs.select(col(idCol).as("id_b"), col(textCol).as("_t_b"))
    candidates
      .join(txtA, "id_a").join(txtB, "id_b")
      .withColumn("sh_a",
        graft.functions.TextShingles.shingles(col("_t_a"), shingleK))
      .withColumn("sh_b",
        graft.functions.TextShingles.shingles(col("_t_b"), shingleK))
      // materialize the intersection size once: jaccard() would otherwise
      // evaluate array_intersect twice per candidate
      .withColumn("_i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("_i") / (size(col("sh_a")) + size(col("sh_b")) - col("_i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Near-duplicate CLUSTERS: minhashLshPairs → connected components.
    * Returns (`id`, `component`) for every document in at least one
    * near-dup pair; `component` = min doc id of its cluster (the
    * survivor). Docs with no near-dup are absent (implicit singletons).
    */
  def nearDupClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleK: Int = 3,
      threshold: Double = 0.8): DataFrame =
    graft.operators.ConnectedComponents.run(
      minhashLshPairs(docs, idCol, textCol, numHashes, bands, shingleK, threshold),
      "id_a", "id_b")

  /** Duplicate-cluster SIZE distribution — the dedup section of a data
    * card: for each cluster size (including the singletons clustering
    * never touches), how many clusters exist and how many documents
    * they hold. A heavy tail here (a few giant clusters) is the
    * signature of template spam; mass at size 2 is ordinary mirroring.
    *
    * `clusters` is any (id, component) labeling (e.g.
    * [[nearDupClusters]]); `total` is the corpus document count, from
    * which the singleton row (`size` = 1) is derived — CC labelings
    * only contain paired documents.
    *
    * Scale shape: two tiny hash aggregations over the labeling
    * (component → size → histogram); the corpus never re-reads.
    */
  def clusterSizeHistogram(clusters: DataFrame, total: Long): DataFrame = {
    val sizes = clusters.groupBy("component")
      .agg(count(lit(1)).as("size"))
    val hist = sizes.groupBy("size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"))
    val singletons = clusters.agg(count(lit(1)).as("_n"))
      .select(lit(1L).as("size"),
        (lit(total) - col("_n")).as("n_clusters"),
        (lit(total) - col("_n")).as("n_docs"))
    hist.unionAll(singletons).filter(col("n_clusters") > 0)
  }

  /** Collapse near-duplicates: keep one survivor (min id) per cluster,
    * drop every other cluster member, keep all unpaired docs. This is
    * the end-to-end dedup most pipelines actually need — pair emission
    * alone cannot drop anything (VERDICT r3 item 1).
    *
    * Scale shape: LSH pair emission (no all-pairs), O(log diameter)
    * component rounds, then one anti-join of the corpus against the
    * (small — only duplicate losers) drop set.
    */
  def dropNearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleK: Int = 3,
      threshold: Double = 0.8): DataFrame =
    graft.operators.ConnectedComponents.collapse(docs,
      minhashLshPairs(docs, idCol, textCol, numHashes, bands, shingleK, threshold),
      "id_a", "id_b", idCol)

  /** Build the PERSISTABLE near-dup index of a corpus: one row per
    * document with its shingle set and full MinHash signature —
    * everything text-derived, computed once. Write this frame to a
    * versioned table and every subsequent ingest
    * ([[nearDupAgainstIndex]]) derives band keys from the stored
    * signature ARITHMETICALLY (no re-shingling, no re-hashing of
    * corpus text): per-ingest corpus cost drops from O(corpus text)
    * to a scan of (id, shingles, `numHashes` longs).
    */
  def buildNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, shingleK: Int = 3): DataFrame = {
    val sh = withShingles(
      corpus.select(col(idCol), col(textCol)), textCol, "sh", shingleK)
    sh.select(col(idCol), col("sh"),
      graft.functions.TextShingles.minhashSig(col("sh"), numHashes).as("sig"))
  }

  /** Band keys derived from a stored MinHash signature column — pure
    * arithmetic over the persisted longs.
    */
  private def bandKeys(sigCol: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    array((0 until bands).map { b =>
      val slice = (0 until rows).map(r => element_at(sigCol, b * rows + r + 1))
      struct(lit(b).as("band"), xxhash64(slice: _*).as("sig"))
    }: _*)
  }

  /** Incremental near-dup dedup of a batch against a PERSISTED index
    * ([[buildNearDupIndex]]'s output, read back from storage): batch
    * docs shingle and sign fresh; the corpus side only explodes band
    * keys out of its stored signatures. Semantics identical to
    * [[nearDupAgainstCorpus]] — which is now this, composed with an
    * inline index build.
    */
  def nearDupAgainstIndex(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleK: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")

    val shB = withShingles(
      batch.select(col(idCol).as("_nd_batch_id"), col(textCol)),
      textCol, "sh", shingleK)
      .select(col("_nd_batch_id"), col("sh"))
    val bandsB = shB
      .select(col("_nd_batch_id"),
        graft.functions.TextShingles.minhashSig(col("sh"), numHashes).as("sig"))
      .select(col("_nd_batch_id"),
        explode(bandKeys(col("sig"), numHashes, bands)).as("bs"))
      .select(col("_nd_batch_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val shC = index.select(col(idCol).as("_nd_corpus_id"), col("sh"))
    val bandsC = index
      .select(col(idCol).as("_nd_corpus_id"),
        explode(bandKeys(col("sig"), numHashes, bands)).as("bs"))
      .select(col("_nd_corpus_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val candidates = bandsB.join(bandsC, Seq("band", "sig"))
      .select("_nd_batch_id", "_nd_corpus_id").distinct()
    val hits = candidates
      .join(shB.withColumnRenamed("sh", "sh_b"), "_nd_batch_id")
      .join(shC.withColumnRenamed("sh", "sh_c"), "_nd_corpus_id")
      .withColumn("_i", size(array_intersect(col("sh_b"), col("sh_c"))).cast("double"))
      .filter(col("_i") / (size(col("sh_b")) + size(col("sh_c")) - col("_i")) >= threshold)
      .select(col("_nd_batch_id").as(idCol)).distinct()
    batch.join(hits, Seq(idCol), "left_anti")
  }

  /** Near-duplicate ingest of a stream into a corpus table: the fuzzy
    * counterpart of [[Corpus.dedupedIngest]] for the re-crawl regime
    * where duplicates arrive reformatted rather than byte-identical.
    * Per cursor slice: collapse near-dups WITHIN the slice (MinHash/LSH
    * pairs → connected components, min-id survivor), drop survivors
    * whose shingle Jaccard with ANY already-ingested document reaches
    * the threshold ([[nearDupAgainstIndex]]), append what remains to
    * the corpus, and extend the persisted index (`<corpus>_ndindex`:
    * id, shingles, signature) with the newcomers' signatures.
    *
    * Scale: the corpus side of every slice derives band keys
    * arithmetically from stored signatures — history is never
    * re-shingled, so per-slice cost is O(slice + band collisions)
    * regardless of corpus size; the index grows by exactly the
    * surviving documents.
    *
    * Failure semantics: the corpus, the index and the cursor offset
    * commit separately, so each slice (a) SELF-HEALS the index first —
    * corpus rows with no stored signature (a corpus populated by
    * another path, or a crash between the two flushes) are indexed
    * before any dedup decision — and (b) ends with the exact-fingerprint
    * anti-join against the corpus, which makes a re-delivered slice (a
    * crash after the flushes, before the checkpoint) append nothing.
    */
  def nearDupedIngest(cursor: StreamCursor, corpus: TableHandle,
      idCol: String, textCol: String, threshold: Double = 0.8): Unit = {
    val index = new TableHandle(corpus.spark, corpus.catalog, s"${corpus.name}_ndindex")
    Corpus.ingestSlice(cursor) { slice =>
      if (corpus.exists) {
        val have =
          if (index.exists) index.read.select(idCol)
          else corpus.read.select(idCol).limit(0)
        val missing = corpus.read.join(have, Seq(idCol), "left_anti")
        if (!missing.isEmpty) {
          index.append(buildNearDupIndex(missing, idCol, textCol))
          index.flush()
        }
      }
      val inBatch = graft.operators.ConnectedComponents.collapse(slice,
        minhashLshPairs(slice, idCol, textCol, threshold = threshold),
        "id_a", "id_b", idCol)
      val nd =
        if (index.exists)
          nearDupAgainstIndex(inBatch, index.read, idCol, textCol, threshold = threshold)
        else inBatch
      val fresh =
        if (corpus.exists) Corpus.dedupAgainstCorpus(nd, corpus.read, textCol).drop("fp")
        else nd
      // `fresh` feeds both the corpus append and the index build, and its
      // lineage crosses the slice's LSH joins
      val settled = fresh.localCheckpoint()
      corpus.append(settled)
      corpus.flush()
      index.append(buildNearDupIndex(settled, idCol, textCol))
      index.flush()
    }
  }

  /** Incremental NEAR-dup dedup: drop batch documents whose shingle-set
    * Jaccard with ANY existing corpus document reaches `threshold` —
    * the fuzzy counterpart of `Corpus.dedupAgainstCorpus` (exact
    * fingerprints), for the per-ingest step where re-crawled pages
    * arrive reformatted rather than byte-identical. This is
    * [[nearDupAgainstIndex]] with the index built inline; a real
    * pipeline persists [[buildNearDupIndex]] once and ingests against
    * the stored frame, so per-batch cost is O(batch + collisions),
    * not O(corpus text).
    */
  def nearDupAgainstCorpus(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleK: Int = 3,
      threshold: Double = 0.8): DataFrame =
    nearDupAgainstIndex(batch,
      buildNearDupIndex(corpus, idCol, textCol, numHashes, shingleK),
      idCol, textCol, numHashes, bands, shingleK, threshold)

  /** Cross-corpus near-dup MATCH PROVENANCE: for each batch document,
    * every corpus document it near-duplicates, with the exact shingle
    * Jaccard — the attribution step behind [[nearDupAgainstCorpus]]'s
    * drop decision. A dedup that only filters can't answer "which
    * existing page is this a re-crawl of?" or audit a decontamination
    * pass; this returns the matched (batch, corpus) pairs themselves.
    *
    * Scale shape: identical to [[minhashLshPairs]] but asymmetric —
    * band keys bucket-join batch against corpus (never all-pairs),
    * and only band-colliding candidates pay the exact-Jaccard verify.
    * Per-ingest cost is O(batch + band collisions); the corpus side
    * can come from a persisted [[buildNearDupIndex]] frame.
    */
  def crossCorpusMatches(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleK: Int = 3,
      threshold: Double = 0.8): DataFrame =
    // localCheckpoint: the index feeds two plan subtrees (band keys +
    // verify shingles) — without materialization Catalyst re-shingles
    // and re-signs the corpus once per consumer
    crossCorpusMatchesAgainstIndex(batch,
      buildNearDupIndex(corpus, idCol, textCol, numHashes, shingleK)
        .localCheckpoint(),
      idCol, textCol, numHashes, bands, shingleK, threshold)

  /** [[crossCorpusMatches]] over an already-built (typically
    * parquet-persisted) [[buildNearDupIndex]] frame — the corpus side
    * derives band keys arithmetically from the stored signatures, so
    * corpus text is never re-shingled.
    */
  def crossCorpusMatchesAgainstIndex(
      batch: DataFrame,
      idx: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleK: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val shB = withShingles(
      batch.select(col(idCol).as("batch_id"), col(textCol)),
      textCol, "sh", shingleK)
      .select(col("batch_id"), col("sh"))
    val shC = idx.select(col(idCol).as("corpus_id"), col("sh"))
    val bandsB = shB
      .select(col("batch_id"),
        graft.functions.TextShingles.minhashSig(col("sh"), numHashes).as("sig"))
      .select(col("batch_id"),
        explode(bandKeys(col("sig"), numHashes, bands)).as("bs"))
      .select(col("batch_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val bandsC = idx
      .select(col(idCol).as("corpus_id"),
        explode(bandKeys(col("sig"), numHashes, bands)).as("bs"))
      .select(col("corpus_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val candidates = bandsB.join(bandsC, Seq("band", "sig"))
      .select("batch_id", "corpus_id").distinct()
    candidates
      .join(shB.withColumnRenamed("sh", "sh_b"), "batch_id")
      .join(shC.withColumnRenamed("sh", "sh_c"), "corpus_id")
      .withColumn("_i", size(array_intersect(col("sh_b"), col("sh_c"))).cast("double"))
      .withColumn("jaccard",
        col("_i") / (size(col("sh_b")) + size(col("sh_c")) - col("_i")))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Engine-portable 64-bit token code: the md5's first 16 hex chars
    * as two 32-bit halves recombined with SIGNED arithmetic that never
    * leaves the bigint range — `(hi - [2³² if hi ≥ 2³¹]) · 2³² + lo` —
    * so the identical expression evaluates in any engine with md5 and
    * hex parsing (DuckDB included: its checked `<<` would reject the
    * shift form, and its arithmetic right shift matches Java's for
    * the bit extraction downstream).
    */
  private[llm] def portableHash64(tok: Column): Column = {
    val m = md5(tok)
    val hi = conv(substring(m, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(m, 9, 8), 16, 10).cast("long")
    (hi - when(hi >= 2147483648L, 4294967296L).otherwise(0L)) *
      4294967296L + lo
  }

  /** 64-bit SimHash per document: tokens hash to 64-bit codes; each bit
    * position accumulates +1/-1 across tokens; the sign vector is the
    * fingerprint. Near-dups have small Hamming distance.
    *
    * Shuffle shape: explode(tokens) → ONE hash aggregation whose
    * buffer is 64 longs per document ([[graft.functions.SimHashAgg]]),
    * map-side combined — each partition ships one 512-byte buffer per
    * doc, never per-(token, bit) rows (the explode-by-64 formulation
    * shuffled 64× the token count and was measured 6× slower at
    * sf0.1, a gap that grows with the corpus).
    *
    * @param portable token codes come from [[portableHash64]] (md5)
    *        instead of xxhash64 — reproducible in the DuckDB oracle,
    *        which xxhash64 is not. Same simhash semantics; only the
    *        hash family changes. Empty tokens (leading-whitespace
    *        split artifacts) are dropped in this mode so both engines
    *        tokenize identically.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(split(col(textCol), "\\s+")).as("tok"))
    val hashed =
      if (!portable) toks.select(col("id"), xxhash64(col("tok")).as("h"))
      else toks.filter(length(col("tok")) > 0)
        .select(col("id"), portableHash64(col("tok")).as("h"))
    hashed.groupBy("id")
      .agg(graft.functions.SimHashAgg(col("h")).as("simhash"))
  }

  /** Hamming distance between two simhash codes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** All (id_a, id_b, hamming) pairs within `maxHamming` bits over any
    * 64-bit fingerprint column ([[simhash]], image dHash) — pigeonhole
    * banding, never all-pairs: the code splits into `maxHamming + 1`
    * disjoint bit bands (a pair within distance d differs in at most d
    * bands, so it agrees EXACTLY on at least one), candidates come from
    * per-band equi-joins (shuffle is collision-proportional), then
    * `bit_count(xor)` verifies exactly. The id inequality prunes before
    * the distinct so each surviving pair is shuffled once.
    */
  def hammingPairs(codes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming=$maxHamming")
    val nBands = maxHamming + 1
    val bw = 64 / nBands
    val base = codes.select(col(idCol).as("_hp_id"), col(hashCol).as("_hp_h"))
    // all band keys in ONE pass (posexplode of a key array) — a
    // union-per-band formulation would re-evaluate the upstream frame
    // once per band per join side, which multiplies any expensive
    // producer (image decode, simhash) by 2×bands
    val keys = (0 until nBands).map { b =>
      val lo = b * bw
      val width = if (b == nBands - 1) 64 - lo else bw // last band takes the slack bits
      if (width == 64) col("_hp_h")
      else expr(s"shiftrightunsigned(_hp_h, $lo)")
        .bitwiseAND(lit((1L << width) - 1))
    }
    val banded = base.select(col("_hp_id"), col("_hp_h"),
      posexplode(array(keys: _*)).as(Seq("_hp_band", "_hp_key")))
    val lhs = banded.toDF("id_a", "_ha", "_hp_band", "_hp_key")
    val rhs = banded.toDF("id_b", "_hb", "_hp_band", "_hp_key")
    lhs.join(rhs, Seq("_hp_band", "_hp_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("_ha"), col("_hb")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** COMPLETE banded edit-distance join: every (left, right) pair with
    * `levenshtein ≤ maxDist` — record linkage / title matching /
    * typo-tolerant entity resolution, with an exactness guarantee the
    * LSH family deliberately trades away.
    *
    * Candidate generation is PassJoin (Li, Deng, Feng 2011; kernel doc
    * in [[graft.functions.PassJoinOps]]): the left side indexes its
    * k+1 segments keyed by (segment index, own length, segment text);
    * the right side probes with the substrings lying on each candidate
    * partner length's segment spans within the ±k shift window. The
    * pigeonhole argument makes the equi-join complete, and pinning
    * keys to (index, partner length) keeps them selective — the first
    * formulation here joined on bare 4-grams and melted on stop-grams
    * (50 s at sf0.1 from " the" buckets; 0.5 s after the rewrite).
    * Left strings shorter than k+1 chars can't be segmented and go
    * through width-(k+1) length bands instead (population bounded by
    * the tiny-string vocabulary). Both paths end in the |len diff| ≤ k
    * filter and the levenshtein verify. Output: (id_l, id_r, dist).
    */
  def editDistancePairs(left: DataFrame, right: DataFrame,
      lId: String, lStr: String, rId: String, rStr: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist=$maxDist")
    val k = maxDist
    val l = left.select(col(lId).as("id_l"), col(lStr).as("_ed_ls"))
      .withColumn("_ed_ll", length(col("_ed_ls")))
    val r = right.select(col(rId).as("id_r"), col(rStr).as("_ed_rs"))
      .withColumn("_ed_rl", length(col("_ed_rs")))
    // PassJoin path: L indexes segments, R probes
    val li = l.filter(col("_ed_ll") >= k + 1)
      .select(col("id_l"), col("_ed_ls"), col("_ed_ll"),
        explode(graft.functions.PassJoin.segKeys(col("_ed_ls"), k)).as("_ed_k"))
    val rp = r
      .select(col("id_r"), col("_ed_rs"), col("_ed_rl"),
        explode(graft.functions.PassJoin.probeKeys(col("_ed_rs"), k)).as("_ed_k"))
    val segCands = li.join(rp, "_ed_k")
      .select("id_l", "_ed_ls", "_ed_ll", "id_r", "_ed_rs", "_ed_rl")
    // short-left path: strings too short to segment
    val band = (c: Column) => floor(c / lit(k + 1))
    val ls = l.filter(col("_ed_ll") < k + 1)
      .select(col("id_l"), col("_ed_ls"), col("_ed_ll"),
        explode(array(band(col("_ed_ll")) - 1, band(col("_ed_ll")),
          band(col("_ed_ll")) + 1)).as("_ed_b"))
    val rs = r.select(col("id_r"), col("_ed_rs"), col("_ed_rl"),
      band(col("_ed_rl")).as("_ed_b"))
    val shortCands = ls.join(rs, "_ed_b")
      .select("id_l", "_ed_ls", "_ed_ll", "id_r", "_ed_rs", "_ed_rl")
    segCands.unionByName(shortCands)
      .filter(abs(col("_ed_ll") - col("_ed_rl")) <= k)
      .distinct()
      .withColumn("dist", levenshtein(col("_ed_ls"), col("_ed_rs")).cast("int"))
      .filter(col("dist") <= k)
      .select(col("id_l"), col("id_r"), col("dist"))
      .distinct()
  }

  /** Asymmetric CONTAINMENT pairs — quote/excerpt detection:
    * C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)|, the directional
    * overlap that catches a short document living inside a long one,
    * which symmetric Jaccard dilutes below any useful threshold (a
    * 10-line quote inside a 500-line article has Jaccard ≈ 0.02 but
    * containment 1.0 — the near-dup class Lee et al. 2022 note exact
    * substring dedup exists for). 8-word distinct grams, whole text
    * when shorter.
    *
    * Candidates: each left doc probes with its `probes` lowest-hashed
    * grams against the exploded right-side gram index — a pair at
    * containment c collides with prob 1 − (1−c)^probes (certain at
    * c = 1, ≥ 0.992 at c = 0.8 with 3 probes), and the index join is
    * O(docs × probes + collisions), never all-pairs. Verification is
    * exact set intersection on candidates only. At 100 TB the gram
    * index is the same inverted-index shape as BM25's postings.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minContainment: Double = 0.8,
      probes: Int = 3, maxGramDf: Long = 1000L): DataFrame = {
    import graft.functions.TextShingles
    val sh = df.select(col(idCol), col(textCol))
      .withColumn("sh", TextShingles.shingles(col(textCol), k))
      .select(col(idCol), col("sh"))
      .localCheckpoint() // feeds probe, index, and verify subtrees
    // stop-gram cap (the l91 PassJoin lesson, containment edition): a
    // gram shared by >maxGramDf docs fans every probe out to all of
    // them — on a crawl with heavy near-dup clusters the candidate set
    // explodes quadratically per cluster (the 100× probe corpus OOMed
    // a 4-digit-df join before this cap). Ultra-common grams leave the
    // INDEX and the probe pool together, so probes only ever target
    // discriminative grams; a doc with NO sub-cap gram is mass-
    // duplicate material that upstream exact/near-dup dedup owns, and
    // the recall contract (certain hit at c = 1 via min-hash probes)
    // holds over the surviving gram set.
    // census/index/probe join key = xxhash64 of the gram (r14 opt, the
    // l41/l68 argument: 8 bytes per gram through every shuffle instead
    // of an 8-word string; the min-hash probe ORDER was already the
    // same hash, with the string kept only as its total-order
    // tie-break). Candidate equality is preserved up to 64-bit
    // collisions — a false candidate pair would still be rejected by
    // the exact set-intersection verify below, so the output contract
    // is unchanged even under a collision; only a probe slot could in
    // principle be wasted.
    val exploded = sh.select(col(idCol), explode(col("sh")).as("g"))
      .select(col(idCol), col("g"), xxhash64(col("g")).as("gh"))
      .localCheckpoint()
    val rare = exploded.groupBy("gh")
      .agg(count(lit(1)).as("_df")).filter(col("_df") <= maxGramDf)
      .select("gh")
    val surviving = exploded.join(rare, "gh")
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("gh").asc, col("g").asc)
    val probeSide = surviving
      .withColumn("_pn", row_number().over(wProbe))
      .filter(col("_pn") <= probes)
      .select(col(idCol).as("a_id"), col("gh"))
    val index = surviving.select(col(idCol).as("b_id"), col("gh"))
    val cands = probeSide.join(index, "gh")
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").distinct()
    val withA = cands.join(sh.select(col(idCol).as("a_id"), col("sh").as("sh_a")), "a_id")
    val withB = withA.join(sh.select(col(idCol).as("b_id"), col("sh").as("sh_b")), "b_id")
    withB
      .withColumn("containment",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")), 6))
      .filter(col("containment") >= minContainment)
      .select(col("a_id"), col("b_id"), col("containment"))
  }
}
