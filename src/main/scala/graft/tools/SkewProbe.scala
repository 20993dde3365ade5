package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Measure.{median, timed}

/** Skew probe: does a hot join key pin the engine to one straggler
  * task, and do the two documented mitigations — AQE's runtime
  * skew-join split and the explicit [[graft.operators.SkewJoin]]
  * salting — actually recover the parallelism? (SURVEY.md §4 names
  * both; this gives them their SCALING.md row.)
  *
  * Corpus: sf0.1 lineitem and orders replicated `REPLICAS`× with
  * shifted keys (~6 M / ~1.5 M rows), plus a SKEWED variant where a
  * deterministic 60 % of lineitem rows reassign their l_orderkey to
  * ONE hot key — the power-law user/document a 100 TB crawl always
  * has. Broadcast is disabled (threshold −1) so the join must
  * shuffle: at real scale BOTH sides are too big to broadcast, which
  * is exactly when skew bites.
  *
  * Measured (median of 3, noop sink):
  *   uniform      — baseline shuffle join, no hot key
  *   skew_noaqe   — hot key, AQE skew split disabled → straggler task
  *   skew_aqe     — hot key, AQE skew split on (thresholds lowered to
  *                  trigger at probe scale; at production partition
  *                  sizes the defaults fire the same way)
  *   skew_salted  — hot key, SkewJoin.saltedJoin(saltFactor=8)
  *
  * Row counts must agree across the three skewed variants (salting
  * must not change join semantics).
  *
  * Run: sbt "runMain graft.tools.SkewProbe [replicas]"
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val replicas = new ProbeArgs(args, "SkewProbe", "replicas").count(0, 10)
    val spark = graft.Sessions.local("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dir = "/tmp/graft_skew"

    // --- build the replicated fixtures once (ids shifted per replica) ---
    val keyShift = 100000000L
    val li = graft.Fixtures.table(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    val ord = graft.Fixtures.table(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val reps = spark.range(replicas).select(col("id").as("_r"))
    // 32 files per table + a 4m scan-partition budget below: AQE's
    // skew split cuts at MAP-OUTPUT boundaries, so the skewed side must
    // arrive as granular maps — a table packed into one giant row group
    // is UNSPLITTABLE no matter the thresholds (measured: 2-file layout
    // never produced skew=true; 32-file layout does). Production keeps
    // files/row-groups ~128 MB for exactly this reason; at 100 TB the
    // default 128m maxPartitionBytes then yields thousands of maps and
    // granular splits. The probe mirrors that geometry at probe scale.
    li.crossJoin(reps)
      .withColumn("l_orderkey", col("l_orderkey") + col("_r") * keyShift)
      .drop("_r").repartition(32)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    ord.crossJoin(reps)
      .withColumn("o_orderkey", col("o_orderkey") + col("_r") * keyShift)
      .drop("_r").repartition(32)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val liAll = spark.read.parquet(s"$dir/lineitem.parquet")
    val ordAll = spark.read.parquet(s"$dir/orders.parquet")
    val hotKey = ordAll.agg(min("o_orderkey")).head().getLong(0)
    // deterministic 60% of lineitem rows land on ONE order key
    liAll.withColumn("l_orderkey",
        when(pmod(xxhash64(col("l_orderkey"), col("l_partkey"),
          col("l_quantity")), lit(10)) < 6, lit(hotKey))
          .otherwise(col("l_orderkey")))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/lineitem_skew.parquet")
    val liSkew = spark.read.parquet(s"$dir/lineitem_skew.parquet")
    val nLi = liAll.count(); val nHot = liSkew.filter(col("l_orderkey") === hotKey).count()
    println(s"[skew] lineitem ${nLi} rows, hot key carries ${nHot} (${100 * nHot / nLi}%)")

    def conf(k: String, v: String): Unit = spark.conf.set(k, v)
    conf("spark.sql.files.maxPartitionBytes", "4m")
    conf("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    def timeIt(label: String)(mk: => DataFrame): (Double, Long) = {
      val runs = Seq.fill(3)(timed(
        mk.write.format("noop").mode("overwrite").save()))
      val (med, n) = (median(runs), mk.count())
      println(f"[skew] $label%-12s median $med%6.2f s  (min ${runs.min}%5.2f max ${runs.max}%5.2f)  rows=$n")
      (med, n)
    }

    def plainJoin(l: DataFrame): DataFrame =
      l.join(ordAll, l("l_orderkey") === ordAll("o_orderkey"))
        .select(l("l_orderkey"), col("l_extendedprice"), col("o_totalprice"))

    // uniform baseline
    conf("spark.sql.adaptive.skewJoin.enabled", "false")
    val (tUni, nUni) = timeIt("uniform")(plainJoin(liAll))

    // skewed, no AQE skew split
    val (tNo, nNo) = timeIt("skew_noaqe")(plainJoin(liSkew))

    // skewed, AQE skew split on (thresholds scaled to probe partitions)
    conf("spark.sql.adaptive.skewJoin.enabled", "true")
    conf("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    conf("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m")
    conf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
    val (tAqe, nAqe) = timeIt("skew_aqe")(plainJoin(liSkew))
    // prove the split actually engaged (the frame's own QueryExecution
    // must be materialized — a noop write runs a separate one)
    val aqeDf = plainJoin(liSkew)
    aqeDf.queryExecution.toRdd.foreach(_ => ())
    val engaged =
      aqeDf.queryExecution.executedPlan.toString.contains("skew=true")
    println(s"[skew] aqe skew split engaged: $engaged")
    assert(engaged, "AQE skew split did not engage - check map granularity")
    conf("spark.sql.adaptive.skewJoin.enabled", "false")

    // skewed, explicit salting (orders side replicated saltFactor x)
    val (tSalt, nSalt) = timeIt("skew_salted") {
      graft.operators.SkewJoin.saltedJoin(
          liSkew.withColumnRenamed("l_orderkey", "k"),
          ordAll.withColumnRenamed("o_orderkey", "k"),
          Seq("k"), saltFactor = 8)
        .select(col("k").as("l_orderkey"), col("l_extendedprice"),
          col("o_totalprice"))
    }

    println(f"[skew] summary: uniform=$tUni%.2f noaqe=$tNo%.2f aqe=$tAqe%.2f salted=$tSalt%.2f (s)")
    assert(nNo == nAqe && nNo == nSalt,
      s"row-count mismatch across skew variants: $nNo / $nAqe / $nSalt")
    assert(nUni == nNo, s"skew reassignment changed cardinality: $nUni vs $nNo")
    spark.stop()
  }
}
