package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.functions._

/** Executable form of the no-leak contract: every iterative operator
  * that persists helper frames must leave the session's CacheManager
  * exactly as it found it — in a long-lived session (GraphRunner,
  * notebook), a leaked `persist()` entry survives until the session
  * dies, accumulating one corpus-sized cache per call.
  * (localCheckpoint blocks are exempt: the ContextCleaner drops them
  * once the result frame is unreferenced.)
  */
class CacheLeakSpec extends SparkSpec {
  import spark.implicits._

  private def assertNoResidue[T](label: String)(body: => T): T = {
    // other suites may share the session; demand a clean start so the
    // "empty after" assertion is meaningful
    GraftShim.clearAllCache(spark)
    assert(GraftShim.cacheManagerEmpty(spark), s"$label: dirty manager before")
    val out = body
    assert(GraftShim.cacheManagerEmpty(spark),
      s"$label left persist() entries behind")
    out
  }

  private val edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 4L), (6L, 6L), (7L, 8L))

  test("PageRank.run releases every helper cache (both variants)") {
    assertNoResidue("run") {
      PageRank.run(edges.toDF("src", "dst"), "src", "dst", iterations = 3)
        .count()
    }
    assertNoResidue("run redistributeDangling") {
      PageRank.run(edges.toDF("src", "dst"), "src", "dst", iterations = 3,
        redistributeDangling = true).count()
    }
  }

  test("TrustRank and HITS release every helper cache") {
    assertNoResidue("personalized") {
      PageRank.personalized(edges.toDF("src", "dst"),
        Seq(1L).toDF("id"), "src", "dst", "id", iterations = 3).count()
    }
    assertNoResidue("hits") {
      PageRank.hits(edges.toDF("src", "dst"), "src", "dst",
        iterations = 2).count()
    }
  }

  test("ConnectedComponents run transfers exactly the labeling; collapse is clean") {
    // run() returns a persisted frame by contract (caller owns it)
    GraftShim.clearAllCache(spark)
    val labeling = ConnectedComponents.run(
      edges.toDF("a", "b"), "a", "b")
    assert(!GraftShim.cacheManagerEmpty(spark),
      "run() should hand back a persisted labeling")
    labeling.unpersist()
    assert(GraftShim.cacheManagerEmpty(spark),
      "after the caller's unpersist nothing may remain")
    // collapse/collapseBest own the full lifecycle internally
    val docs = (1L to 8L).map(i => (i, s"doc$i")).toDF("id", "text")
    assertNoResidue("collapse") {
      ConnectedComponents.collapse(docs, edges.toDF("a", "b"), "a", "b", "id")
        .count()
    }
    assertNoResidue("collapseBest") {
      ConnectedComponents.collapseBest(docs, edges.toDF("a", "b"), "a", "b",
        "id", length(col("text"))).count()
    }
  }

  test("Hierarchy.rootClosure registers nothing in the CacheManager") {
    val nodes = Seq((0L, None), (1L, Some(0L)), (2L, Some(1L)))
      .toDF("id", "parent")
    assertNoResidue("rootClosure (its rounds are local checkpoints)") {
      Hierarchy.rootClosure(nodes, "id", "parent").count()
    }
  }

  test("marginMining and procrustesReport release their pair caches") {
    val emb = graft.Fixtures.table(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(50)
    assertNoResidue("marginMining") {
      graft.llm.Similarity.marginMining(
        emb.select(col("vec_id").as("sid"), col("embedding").as("sv")).limit(5),
        emb.select(col("vec_id").as("tid"), col("embedding").as("tv")),
        "sid", "tid", "sv", "tv", k = 2, minMargin = 0.0).count()
    }
    assertNoResidue("procrustesReport") {
      graft.llm.Align.procrustesReport(
        emb.select(col("vec_id"), col("label"), col("embedding")),
        emb.select(col("vec_id"), col("label"), col("embedding")),
        "vec_id", "embedding", "label").count()
    }
  }
}
