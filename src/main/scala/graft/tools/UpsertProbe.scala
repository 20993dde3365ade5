package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.Measure.{median, num, timed}
import graft.core.{Catalog, TableHandle}

/** Upsert/catalog scale probe (SCALING.md evidence for §2.1 S5): the
  * one load-bearing write-path claim with no measurement until now —
  * a bucketed upsert's cost is proportional to TOUCHED buckets plus
  * batch size, not table size (`TableHandle.doUpsert`: partition-
  * pruned merge + hardlinked untouched partitions).
  *
  * What it measures, per corpus scale, on a hashBuckets=256 `orders`
  * table keyed by o_orderkey:
  *  - build_s: one-time bucketed base-table build (off the hot path);
  *  - upsert{8,64,256}_s: a FIXED ~4000-row update batch confined to
  *    8 / 64 / all-256 buckets (constant batch rows, varying touched
  *    partitions; every width reads its touched bucket directories by
  *    name, 256 being the widest).
  *    The claim predicts time tracks touched buckets and stays ~flat
  *    across corpus scales for fixed touched count; a secret
  *    O(table) merge would grow ~10× per decade;
  *  - upsert_unbucketed_s: the same 8-bucket batch against an
  *    UNPARTITIONED table — the full-rewrite baseline the bucketed
  *    path is supposed to beat (this one SHOULD grow with the table);
  *  - append8_s + compact_s: 8 sustained small appends, then
  *    compact(128 MB target) — the many-small-files repair; compact
  *    is a full rewrite by design (off the ingest hot path), so its
  *    time may track table size while file counts collapse.
  *
  * Batch rows come from the UNSCALED sf0.1 orders (replica-0 keys
  * exist identically in every scaled corpus), so the batch is
  * bit-identical across scales.
  *
  * Usage: runMain graft.tools.UpsertProbe [corpusDir] [runs]
  */
object UpsertProbe {
  private val Buckets = 256

  def main(args: Array[String]): Unit = {
    val a = new ProbeArgs(args, "UpsertProbe", "corpusDir", "runs")
    val corpusDir = a(0, "/root/testdata/sf0.1")
    val runs = a.count(1, 3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val corpus = graft.Fixtures.table(spark, corpusDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate")
    val corpusRows = corpus.count()

    // fixed update batches from the unscaled fixture, confined to the
    // first K of 256 key-hash buckets, capped at ~4000 rows so the
    // batch is constant while touched-partition count varies
    val base1x = graft.Fixtures.table(spark, "/root/testdata/sf0.1", "orders")
      .select("o_orderkey", "o_totalprice")
    def batch(k: Int) = base1x
      .filter(pmod(xxhash64(col("o_orderkey")), lit(Buckets)) < k)
      .orderBy("o_orderkey").limit(4000)
      .select(col("o_orderkey"),
        round(col("o_totalprice").cast("decimal(12,2)") * 2, 2)
          .cast("double").as("o_totalprice"))
      .localCheckpoint() // freeze: probe timings must not re-run the prep
    val (b8, b64, b256) = (batch(8), batch(64), batch(Buckets))
    val batchRows = b8.count()

    val dirs = new TempDirs
    def freshRoot(): String = dirs.fresh("upsertprobe")

    try {
      // ---- bucketed table: build once per run, time each upsert width
      var buildT = List.empty[Double]
      var up8 = List.empty[Double]; var up64 = List.empty[Double]
      var up256 = List.empty[Double]
      (1 to runs).foreach { _ =>
        val root = freshRoot()
        val cat = new Catalog(root)
        val h = new TableHandle(spark, cat, "orders_b")
          .init(uniqueOn = Seq("o_orderkey"), hashBuckets = Some(Buckets))
        buildT ::= timed { h.append(corpus); h.flush() }
        up8 ::= timed { h.upsert(b8); h.flush() }
        up64 ::= timed { h.upsert(b64); h.flush() }
        up256 ::= timed { h.upsert(b256); h.flush() }
      }

      // ---- unbucketed baseline: the full-rewrite shape
      var upFlat = List.empty[Double]
      (1 to runs).foreach { _ =>
        val root = freshRoot()
        val h = new TableHandle(spark, new Catalog(root), "orders_f")
          .init(uniqueOn = Seq("o_orderkey"))
        h.append(corpus); h.flush()
        upFlat ::= timed { h.upsert(b8); h.flush() }
      }

      // ---- sustained appends + compact (bucketed table, one run)
      val root = freshRoot()
      val h = new TableHandle(spark, new Catalog(root), "orders_c")
        .init(uniqueOn = Seq("o_orderkey"), hashBuckets = Some(Buckets))
      h.append(corpus); h.flush()
      val fresh = b256.withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
      val appendT = timed {
        (1 to 8).foreach { i =>
          h.append(fresh.withColumn("o_orderkey",
            col("o_orderkey") + lit(i.toLong * 10000000L)))
          h.flush()
        }
      }
      val filesBefore = countFiles(new Catalog(root), "orders_c")
      val compactT = timed { h.compact() }
      val filesAfter = countFiles(new Catalog(root), "orders_c")

      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
      println(s"""{"probe":"upsert","corpus":"$corpusDir","corpus_rows":$corpusRows,"batch_rows":$batchRows,"buckets":$Buckets,"runs":$runs,"build_s":${num(median(buildT))},"upsert8_s":${num(median(up8))},"upsert64_s":${num(median(up64))},"upsert256_s":${num(median(up256))},"upsert_unbucketed_s":${num(median(upFlat))},"append8_s":${num(appendT)},"compact_s":${num(compactT)},"files_before":$filesBefore,"files_after":$filesAfter}""")
      System.out.flush()
    } finally dirs.deleteAll()
  }

  private def countFiles(cat: Catalog, name: String): Int =
    cat.activePath(name).map { p =>
      val s = Files.walk(java.nio.file.Paths.get(p))
      try {
        val it = s.iterator()
        var n = 0
        while (it.hasNext) { if (it.next().toString.endsWith(".parquet")) n += 1 }
        n
      } finally s.close()
    }.getOrElse(0)
}
