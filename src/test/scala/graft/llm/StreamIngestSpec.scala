package graft.llm

import graft.SparkSpec
import graft.core.{Catalog, State, StreamCursor, TableHandle}
import org.apache.spark.sql.DataFrame

/** The cursor-driven ingest operators: `Corpus.dedupedIngest`,
  * `Corpus.curatedIngest` and `TextDedup.nearDupedIngest`. Each run
  * opens a fresh cursor over the same persisted state, as a new
  * execution of an ingest node would.
  */
class StreamIngestSpec extends SparkSpec {
  import spark.implicits._

  /** A staging table whose appends get a strictly monotonic id. */
  private def setup(prefix: String): (String, TableHandle, TableHandle) = {
    val root = tmpDir(prefix)
    val cat = new Catalog(root)
    val staging = new TableHandle(spark, cat, "staging").init(addMonotonicId = Some("seq"))
    (root, staging, new TableHandle(spark, cat, "corpus"))
  }

  private def cursor(root: String, staging: TableHandle): StreamCursor =
    StreamCursor.forTable(staging, new State(root, "ingest"))

  private def stage(staging: TableHandle, docs: (Long, String)*): Unit = {
    staging.append(docs.toDF("doc_id", "text")); staging.flush()
  }

  private def ids(t: TableHandle): Set[Long] =
    t.read.select("doc_id").collect().map(_.getLong(0)).toSet

  private def rows(t: TableHandle): Seq[String] =
    t.read.select("doc_id", "text").collect().map(_.toString).sorted.toSeq

  private def dedupTwoBatches(root: String, staging: TableHandle, corpus: TableHandle): Unit = {
    // batch 1: one in-batch duplicate pair (same normalized text)
    stage(staging, (1L, "alpha beta gamma"), (2L, "Alpha  Beta   GAMMA"),
      (3L, "wholly distinct"))
    Corpus.dedupedIngest(cursor(root, staging), corpus, "text")
    assert(corpus.read.count() == 2) // in-batch dup collapsed
    // batch 2: a dup of corpus content, plus one genuinely new doc
    stage(staging, (4L, "alpha beta gamma"), (5L, "brand new"))
    Corpus.dedupedIngest(cursor(root, staging), corpus, "text")
  }

  test("deduped ingest: in-batch, against corpus, exactly once") {
    val (root, staging, corpus) = setup("dedup-ingest")
    dedupTwoBatches(root, staging, corpus)
    val after = ids(corpus)
    assert(corpus.read.count() == 3) // batch 1 NOT reprocessed (checkpoint), dup dropped
    assert(after == Set(1L, 3L, 5L) || after == Set(2L, 3L, 5L), after)
    // an empty run changes nothing
    Corpus.dedupedIngest(cursor(root, staging), corpus, "text")
    assert(ids(corpus) == after)
  }

  test("deduped ingest: replay after rewind changes nothing") {
    val (root, staging, corpus) = setup("dedup-replay")
    dedupTwoBatches(root, staging, corpus)
    val before = rows(corpus)
    // the crash window: corpus flushed, offset never checkpointed
    val c = cursor(root, staging)
    c.rewind()
    Corpus.dedupedIngest(c, corpus, "text")
    assert(rows(corpus) == before)
  }

  private def nearDupTwoBatches(root: String, staging: TableHandle,
      corpus: TableHandle): TableHandle = {
    // batch 1: docs 1 and 5 are a fuzzy pair (one appended word)
    stage(staging,
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different text about database systems entirely"),
      (5L, "the quick brown fox jumps over the lazy dog tonight yes"))
    TextDedup.nearDupedIngest(cursor(root, staging), corpus, "doc_id", "text")
    assert(ids(corpus) == Set(1L, 2L)) // min-id survivor of the fuzzy pair
    // batch 2: a REFORMATTED copy of doc 1 (not byte-identical) + a novel doc
    stage(staging,
      (7L, "oh the quick brown fox jumps over the lazy dog tonight"),
      (8L, "genuinely novel content that matches nothing ingested before"))
    TextDedup.nearDupedIngest(cursor(root, staging), corpus, "doc_id", "text")
    assert(ids(corpus) == Set(1L, 2L, 8L)) // fuzzy re-crawl dropped vs the index
    new TableHandle(spark, corpus.catalog, "corpus_ndindex")
  }

  test("near-duped ingest: in-batch, vs index, index grows") {
    val (root, staging, corpus) = setup("neardup-ingest")
    val index = nearDupTwoBatches(root, staging, corpus)
    assert(index.read.count() == 3) // one signature row per survivor
    assert(index.read.columns.toSet == Set("doc_id", "sh", "sig"))
    // the batch-2 index EXTENSION must keep the stored types: parquet
    // reads arrays back containsNull=true while the fresh build frame
    // says containsNull=false, and that delta once triggered the
    // widen-to-string rewrite, silently destroying every signature
    assert(index.read.schema("sig").dataType.simpleString == "array<bigint>",
      index.read.schema("sig").dataType.simpleString)
    assert(index.read.schema("sh").dataType.simpleString == "array<string>")
    // exactly-once: a run with nothing staged changes nothing
    TextDedup.nearDupedIngest(cursor(root, staging), corpus, "doc_id", "text")
    assert(corpus.read.count() == 3 && index.read.count() == 3)
    // batch 3: a fuzzy copy of the batch-2 survivor — the dedup
    // decision now rides signature rows written by the EXTENSION append
    stage(staging,
      (9L, "oh genuinely novel content that matches nothing ingested before"))
    TextDedup.nearDupedIngest(cursor(root, staging), corpus, "doc_id", "text")
    assert(ids(corpus) == Set(1L, 2L, 8L)) // doc 9 dropped against doc 8's extended signature
  }

  test("near-duped ingest: replay after rewind changes nothing") {
    val (root, staging, corpus) = setup("neardup-replay")
    val index = nearDupTwoBatches(root, staging, corpus)
    def indexRows: Seq[String] = index.read.select("doc_id", "sig").collect()
      .map(r => s"${r.getLong(0)}:${r.getSeq[Long](1).mkString(",")}").sorted.toSeq
    val (corpusBefore, indexBefore) = (rows(corpus), indexRows)
    // the crash window: corpus and index flushed, offset never checkpointed
    val c = cursor(root, staging)
    c.rewind()
    TextDedup.nearDupedIngest(c, corpus, "doc_id", "text")
    assert(rows(corpus) == corpusBefore)
    assert(indexRows == indexBefore)
  }

  test("near-duped ingest self-heals an unindexed corpus") {
    val (root, staging, corpus) = setup("neardup-heal")
    // corpus populated by ANOTHER path: no corpus_ndindex exists
    corpus.append(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different text about database systems entirely")
    ).toDF("doc_id", "text"))
    corpus.flush()
    // first run: a fuzzy re-crawl of doc 1 plus a novel doc
    stage(staging,
      (7L, "oh the quick brown fox jumps over the lazy dog tonight"),
      (8L, "genuinely novel content that matches nothing ingested before"))
    TextDedup.nearDupedIngest(cursor(root, staging), corpus, "doc_id", "text")
    assert(ids(corpus) == Set(1L, 2L, 8L)) // re-crawl dropped against the HEALED index
    // index covers the pre-existing corpus AND the new survivor
    assert(ids(new TableHandle(spark, corpus.catalog, "corpus_ndindex")) ==
      Set(1L, 2L, 8L))
  }

  test("curated ingest: clean -> gate -> dedup, exactly once") {
    val (root, staging, corpus) = setup("curated-ingest")
    val fluent =
      "the cat is on the mat and it is a good day today.\n" +
        "we walk in the sun and the dog is happy here."
    stage(staging,
      // passes C4 (terminal punctuation, enough words) and the gate
      (1L, fluent),
      // C4 page kill: contains a curly brace
      (2L, "the dog barks { and the code is here."),
      // C4 line kill: no terminal punctuation on any line -> page dies
      (3L, "no punctuation at all on this line"),
      // classifier kill: survives C4 but is punctuation noise
      (4L, "a! b? c! d? e! f? g! h? i! j? k! l? m! n? o! p?"))
    Corpus.curatedIngest(cursor(root, staging), corpus, "doc_id", "text")
    val got: DataFrame = corpus.read
    assert(ids(corpus) == Set(1L), s"only the fluent doc survives: ${ids(corpus)}")
    assert(got.columns.toSet == Set("doc_id", "text", "score"))
    // the stored text is the CLEANED text (both lines kept here)
    assert(got.select("text").head().getString(0) == fluent)
    // second run: an exact dup of the stored CLEAN text is dropped, a
    // fresh fluent doc lands, batch 1 is not reprocessed
    stage(staging,
      (5L, fluent),
      (6L, "the sun is warm and the grass is green today."))
    Corpus.curatedIngest(cursor(root, staging), corpus, "doc_id", "text")
    assert(ids(corpus) == Set(1L, 6L))
  }
}
