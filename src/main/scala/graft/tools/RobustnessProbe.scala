package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Degenerate-input robustness sweep: every registry query against
  *
  *  1. an EMPTY corpus — the ten fixture tables with identical schemas
  *     and zero rows. At 100 TB this is not an edge case: a partition
  *     filter that matches nothing, a tenant with no data yet, a
  *     backfill window before the first event. Any driver-side
  *     `.head()` / `.getLong(0)`-on-null in a query body crashes here
  *     and would crash there.
  *  2. a NULL-HEAVY corpus — sf0.001 with every non-key column nulled
  *     on ~20 % of rows (deterministic: keyed xxhash64, so reruns see
  *     the same nulls). Real crawls have null text, null timestamps,
  *     null embeddings; operators must drop or propagate, never throw.
  *     (The vector kernels' NULL propagation — FloatDot/FloatSqDist —
  *     is exactly the behavior this corpus exercises end-to-end.)
  *  3. a RAGGED-embeddings corpus — a deterministic 10 % of vectors at
  *     half dimension (embedding-model version drift; the schema can't
  *     prevent it). Vector kernels define ragged pairs as NULL,
  *     VectorAvg aggregates per index, quantizers train on what they
  *     see — nothing may index past a first-row-sized buffer.
  *
  * Pass criterion is NO EXCEPTION (results may legitimately be empty
  * or differ from the clean corpus — correctness vs the oracle is the
  * driver gate's job, at full data). The sweep is also pinned as a
  * ScalaTest spec (DegenerateCorpusSpec) over the same corpus builders
  * so regressions fail `sbt test`, not a probe someone has to re-run.
  *
  * Usage: runMain graft.tools.RobustnessProbe [empty|nulls|ragged|both]
  * (any other argument prints usage and exits 2)
  */
object RobustnessProbe {

  /** Columns that keep their values in the null-heavy corpus: join /
    * primary keys (nulling them only thins joins — every query already
    * handles unmatched rows) and doc_id/vec_id (several planted-probe
    * queries parameterize on a specific id; those sites handle MISSING
    * rows via the empty corpus, and null TEXT for a present id is
    * covered because `text` itself is nullable here).
    */
  private def isKeyCol(name: String): Boolean =
    name.endsWith("key") || name.endsWith("_id") || name == "doc_id" || name == "vec_id"

  def buildEmpty(spark: SparkSession, baseDir: String, outDir: String): Unit = {
    graft.Fixtures.tableNames.foreach { t =>
      graft.Fixtures.table(spark, baseDir, t).limit(0)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  def buildNulls(spark: SparkSession, baseDir: String, outDir: String,
      oneInN: Int = 5): Unit = {
    graft.Fixtures.tableNames.foreach { t =>
      val df = graft.Fixtures.table(spark, baseDir, t)
      val keyed = df.columns.find(isKeyCol).getOrElse(df.columns.head)
      val out = df.columns.foldLeft(df) { (acc, c) =>
        if (isKeyCol(c)) acc
        else acc.withColumn(c,
          when(pmod(xxhash64(col(keyed), lit(c)), lit(oneInN)) === 0, lit(null))
            .otherwise(col(c)))
      }
      out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Ragged-embedding corpus: a deterministic 10 % of vectors truncate
    * to half dimension (a mixed-model-version embedding table — the
    * schema can't prevent it, so the operators must tolerate it), and
    * — since round 13 — a further 10 % become ALL-ZERO vectors
    * (zero-norm ⇒ NaN cosine, the class behind the ADVICE r12
    * threshold bug: NaN orders above every double, so an unguarded
    * `cos >= min` silently admits the zero vector everywhere). Only
    * `embeddings` changes; pass criterion is still no exception — the
    * vector kernels define ragged pairs as NULL, quantizers see the
    * dims they see, thresholds must nanvl-guard.
    */
  def buildRagged(spark: SparkSession, baseDir: String, outDir: String): Unit = {
    graft.Fixtures.tableNames.foreach { t =>
      val df = graft.Fixtures.table(spark, baseDir, t)
      val out =
        if (t != "embeddings") df
        else df.withColumn("embedding",
          when(pmod(col("vec_id"), lit(10)) === 0,
            slice(col("embedding"), lit(1), greatest(lit(1),
              (size(col("embedding")) / 2).cast("int"))))
            .when(pmod(col("vec_id"), lit(10)) === 5,
              transform(col("embedding"), _ => lit(0.0f)))
            .otherwise(col("embedding")))
      out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Runs every registry query against `dir`; returns (name, error). */
  def sweep(spark: SparkSession, dir: String,
      onProgress: String => Unit = _ => ()): Seq[(String, String)] = {
    graft.SparkEntry.registry.flatMap { q =>
      onProgress(q.name)
      try {
        q.run(spark, dir).write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          val root = rootCause(e)
          Some(q.name -> s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").take(160)}")
      }
    }
  }

  @annotation.tailrec
  private def rootCause(e: Throwable): Throwable =
    if (e.getCause == null || (e.getCause eq e)) e else rootCause(e.getCause)

  /** (mode, report label, corpus builder), in sweep order. */
  private val corpora: Seq[(String, String, (SparkSession, String, String) => Unit)] = Seq(
    ("empty", "EMPTY corpus", buildEmpty),
    ("nulls", "NULL-heavy corpus", buildNulls(_, _, _)),
    ("ragged", "RAGGED-embeddings corpus", buildRagged))

  def main(args: Array[String]): Unit = {
    val a = new ProbeArgs(args, "RobustnessProbe", "empty|nulls|ragged|both")
    val mode = a(0, "both")
    val picked = corpora.filter(c => mode == "both" || mode == c._1)
    if (picked.isEmpty) a.usageExit(s"unknown corpus '$mode'")
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Sessions.local("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val total = picked.map { case (m, label, build) =>
      val dir = s"/tmp/graft_degen/$m"
      build(spark, base, dir)
      var fails = Seq.empty[(String, String)]
      val dt = graft.Measure.timed { fails = sweep(spark, dir) }
      println(f"\n== $label: ${graft.SparkEntry.registry.size} queries, ${fails.size} failures ($dt%.1f s) ==")
      fails.foreach { case (n, err) => println(s"  FAIL $n — $err") }
      fails.size
    }.sum
    spark.stop()
    if (total > 0) sys.exit(1)
  }
}
