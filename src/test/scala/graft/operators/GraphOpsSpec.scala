package graft.operators

import graft.{JobCounter, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Hierarchy (recursive closure) and PageRank — the iterative graph
  * operators added in round 9 wave 7.
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  // -------------------------------------------------- Hierarchy

  test("rootClosure labels a chain with its root and exact depths") {
    // 0 <- 1 <- 2 <- ... <- 9 (single chain, depth 9: forces 4 rounds)
    val nodes = (0L to 9L).map(i =>
      (i, if (i == 0) None else Some(i - 1))).toDF("id", "parent")
    val out = Hierarchy.rootClosure(nodes, "id", "parent")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._2).forall(_ == 0L))
    assert(out.map(r => r._1 -> r._3).toMap == (0L to 9L).map(i => i -> i).toMap)
  }

  test("rootClosure separates trees in a forest") {
    // two trees: 0<-1<-2 and 10<-11, plus isolated root 20
    val nodes = Seq(
      (0L, None), (1L, Some(0L)), (2L, Some(1L)),
      (10L, None), (11L, Some(10L)), (20L, None)).toDF("id", "parent")
    val out = Hierarchy.rootClosure(nodes, "id", "parent")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(
      0L -> (0L, 0L), 1L -> (0L, 1L), 2L -> (0L, 2L),
      10L -> (10L, 0L), 11L -> (10L, 1L), 20L -> (20L, 0L)))
  }

  test("rootClosure treats a dangling parent as a terminal root") {
    // 5's parent 99 has no row: 5 must keep root=99 depth=1, not vanish
    val nodes = Seq((5L, Some(99L)), (6L, Some(5L))).toDF("id", "parent")
    val out = Hierarchy.rootClosure(nodes, "id", "parent")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(5L -> (99L, 1L), 6L -> (99L, 2L)))
  }

  test("rootClosure terminates on a cycle instead of spinning") {
    // 1 -> 2 -> 3 -> 1: maxIter bounds the walk; every row still emits
    val nodes = Seq((1L, Some(3L)), (2L, Some(1L)), (3L, Some(2L)))
      .toDF("id", "parent")
    val out = Hierarchy.rootClosure(nodes, "id", "parent", maxIter = 5)
    assert(out.count() == 3)
  }

  // q38's planting rule: a forest of 50-node trees, depth up to 8
  private def q38Parent(i: Long): Option[Long] =
    if (i % 50 == 0) None else Some(math.max(i - 1 - (i % 7), (i / 50) * 50))
  private def q38Forest(n: Int) =
    (0L until n).map(i => (i, q38Parent(i))).toDF("id", "parent")
  private def q38Walk(n: Int): Map[Long, (Long, Long)] =
    (0L until n).map { i =>
      var (cur, d) = (i, 0L)
      while (q38Parent(cur).isDefined) { cur = q38Parent(cur).get; d += 1 }
      i -> (cur, d)
    }.toMap
  private def labelsOf(out: DataFrame): Map[Long, (Long, Long)] =
    out.as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  /** `body`'s result and the executed plan of each round's checkpoint. */
  private def roundPlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val out = body
      org.apache.spark.ListenerBusShim.drain(spark.sparkContext)
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }
  private object plansOf extends AdaptiveSparkPlanHelper
  private def has(plan: SparkPlan)(pf: PartialFunction[SparkPlan, Unit]): Boolean =
    plansOf.collect(plan)(pf).nonEmpty

  test("rootClosure matches the driver-walk answer on the q38 forest shape") {
    assert(labelsOf(Hierarchy.rootClosure(q38Forest(120), "id", "parent")) == q38Walk(120))
  }

  test("rootClosure on the q38 forest: at most 10 jobs, every round a broadcast join") {
    val n = 5000
    val nodes = q38Forest(n)
    val ((got, jobs), plans) = roundPlans(JobCounter.jobs(spark)(
      labelsOf(Hierarchy.rootClosure(nodes, "id", "parent"))))
    assert(got == q38Walk(n))
    assert(jobs <= 10, s"$jobs Spark jobs")
    assert(plans.size == 4, "one checkpoint per round: depth 8 takes 4 rounds")
    plans.foreach { p =>
      assert(has(p) { case _: BroadcastHashJoinExec => }, s"no broadcast join:\n$p")
      assert(!has(p) { case _: ShuffleExchangeExec => }, s"shuffle exchange:\n$p")
    }
  }

  test("rootClosure sort-merge joins when broadcasts are off, with the same labels") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val (got, plans) = try roundPlans(
      labelsOf(Hierarchy.rootClosure(q38Forest(5000), "id", "parent")))
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(got == q38Walk(5000))
    assert(plans.size == 4)
    plans.foreach { p =>
      assert(has(p) { case _: SortMergeJoinExec => }, s"no sort-merge join:\n$p")
      assert(!has(p) { case _: BroadcastHashJoinExec => }, s"broadcast join:\n$p")
    }
  }

  // -------------------------------------------------- PageRank

  /** naive driver-side power iteration with the same 12-dp rounding */
  private def naivePr(edges: Seq[(Long, Long)], iters: Int,
      d: Double): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodes.size
    val outdeg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size }
    def rnd(x: Double) = BigDecimal(x)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    var pr = nodes.map(_ -> rnd(1.0 / n)).toMap
    for (_ <- 1 to iters) {
      val mass = e.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (s, _) => pr(s) / outdeg(s) }.sum
      }
      pr = nodes.map(v => v -> rnd((1 - d) / n + d * mass.getOrElse(v, 0.0))).toMap
    }
    pr
  }

  test("PageRank matches a driver-side power iteration") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L), (4L, 3L), (5L, 1L))
    val got = PageRank.run(edges.toDF("src", "dst"), "src", "dst",
        iterations = 4, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    val expect = naivePr(edges, 4, 0.85)
    assert(got.keySet == expect.keySet)
    got.foreach { case (id, pr) =>
      assert(math.abs(pr - expect(id)) < 1e-11, s"node $id: $pr vs ${expect(id)}")
    }
  }

  test("PageRank conserves mass when every node has out-edges") {
    // ring + chords: no dangling nodes, so total rank must stay ~1
    val edges = (0L until 30L).flatMap(i =>
      Seq((i, (i + 1) % 30), (i, (i * i + 1) % 30)))
    val total = PageRank.run(edges.toDF("src", "dst"), "src", "dst",
        iterations = 6)
      .agg(sum("pr")).as[Double].head()
    assert(math.abs(total - 1.0) < 1e-6)
  }

  test("PageRank redistributeDangling conserves mass WITH sinks present") {
    // node 9 is a pure sink (no out-edges): the default variant leaks
    // its mass each round; the stochastic-matrix flag must keep Σpr=1
    val edges = (0L until 9L).map(i => (i, i + 1)) :+ (3L, 9L)
    val df = edges.toDF("src", "dst")
    val dropped = PageRank.run(df, "src", "dst", iterations = 5)
      .agg(sum("pr")).as[Double].head()
    assert(dropped < 1.0 - 1e-3, s"sink graph should leak mass, got $dropped")
    val conserved = PageRank.run(df, "src", "dst", iterations = 5,
        redistributeDangling = true)
      .agg(sum("pr")).as[Double].head()
    assert(math.abs(conserved - 1.0) < 1e-6, s"got $conserved")
  }

  test("PageRank redistributeDangling matches a driver-side stochastic walk") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (5L, 1L))
    val d = 0.85
    val got = PageRank.run(edges.toDF("src", "dst"), "src", "dst",
        iterations = 4, damping = d, redistributeDangling = true)
      .as[(Long, Double)].collect().toMap
    // reference walk: node 4 is dangling, its mass spreads uniformly
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = nodes.size
    def rnd(x: Double) = math.rint(x * 1e12) / 1e12
    var pr = nodes.map(_ -> rnd(1.0 / n)).toMap
    for (_ <- 1 to 4) {
      val dangling = nodes.filterNot(out.contains).map(pr).sum
      val mass = edges.groupBy(_._2).view.mapValues(es =>
        es.map(e => pr(e._1) / out(e._1).size).sum).toMap
      pr = nodes.map(v => v -> rnd((1 - d) / n +
        d * (mass.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    assert(got.keySet == pr.keySet)
    got.foreach { case (id, v) =>
      assert(math.abs(v - pr(id)) < 1e-9, s"node $id: $v vs ${pr(id)}")
    }
  }

  test("personalized (TrustRank) zero-fills unreachable nodes and seeds sum right") {
    // 0 -> 1 -> 2, isolated pair 10 -> 11; seed = 0. Nodes 10/11 are
    // unreachable from the seed: trust exactly 0.0, still in output.
    val edges = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("id")
    val got = PageRank.personalized(edges, seeds, "src", "dst", "id",
        iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == Set(0L, 1L, 2L, 10L, 11L))
    assert(got(10L) == 0.0 && got(11L) == 0.0)
    assert(got(0L) > got(1L) && got(1L) > got(2L)) // decays with distance
    // nothing links back to the seed: it keeps exactly its teleport share
    assert(math.abs(got(0L) - 0.15) < 1e-9)
  }

  test("PageRank ranks a hub above leaf nodes") {
    // star: everyone links node 0; node 0 links node 1
    val edges = (1L until 20L).map(i => (i, 0L)) :+ (0L, 1L)
    val pr = PageRank.run(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Double)].collect().toMap
    assert(pr(0L) > pr(2L) * 5)
    assert(pr(1L) > pr(2L)) // the hub's sole target inherits mass
  }
}
