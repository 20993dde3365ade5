package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShim, Observation}
import org.apache.spark.sql.functions._

/** Distributed transitive closure over a parent-pointer forest — the
  * Spark answer to ANSI `WITH RECURSIVE` hierarchy walks, which the
  * reference's SQL nodes inherit from their backing database
  * (`/root/reference/patterns/node/node.py:169-189` delegates SQL
  * verbatim) but Spark SQL lacks. Labels every node with the root of
  * its tree and its depth below that root.
  *
  * Algorithm: pointer doubling (path halving). Each node starts
  * pointing at its parent (`anc`, hop count `depth`); every round each
  * node's pointer jumps to its ancestor's pointer
  * (`anc(v) := anc(anc(v))`, `depth(v) += depth(anc(v))`), doubling
  * the distance covered — so a hierarchy of depth D converges in
  * ⌈log2 D⌉ rounds, not D. Roots are their own ancestor at depth 0 and
  * act as the join fixpoint. The convergence witness (rows whose
  * pointer still moved) and the round's row count ride a CollectMetrics
  * observation on the one action per round, an eager `localCheckpoint`.
  * The checkpoint cuts the lineage (the jump self-join would otherwise
  * double the logical plan every round) and is re-stated with its
  * observed row count as its statistics, so the next round's join is
  * planned from true sizes: a broadcast hash join while the labels fit
  * under `spark.sql.autoBroadcastJoinThreshold` (one broadcast job and
  * one checkpoint job per round), a sort-merge join beyond it.
  *
  * Scale shape: one self-equi-join of O(|V|) rows per round, shuffled
  * on the ancestor key once the labels outgrow a broadcast, O(log depth)
  * rounds, no driver-side state beyond the two observed counts. A
  * 100 TB catalog hierarchy (or URL-path / org-chart /
  * bill-of-materials table) with depth 10^4 needs 14 rounds. Cycles
  * (data corruption in a parent column) cannot spin forever: maxIter
  * bounds the walk and the unconverged exit is reported.
  */
object Hierarchy {

  /** @param nodes     one row per node
    * @param idCol     node id column (any orderable/equatable type)
    * @param parentCol parent id column; null marks a root
    * @return (`id`, `root`, `depth`): root = tree root's id, depth =
    *         hops from the node up to its root (roots have depth 0).
    *         Backed by the last round's local checkpoint, which nothing
    *         registers in the CacheManager: the ContextCleaner drops its
    *         blocks once the frame is unreferenced.
    */
  def rootClosure(nodes: DataFrame, idCol: String, parentCol: String,
      maxIter: Int = 20): DataFrame = {
    // roots point at themselves at depth 0: the doubling fixpoint
    var labels = nodes.select(
      col(idCol).as("id"),
      coalesce(col(parentCol), col(idCol)).as("anc"),
      when(col(parentCol).isNull, 0L).otherwise(1L).as("depth"))
    var round = 0
    var converged = false
    while (!converged && round < maxIter) {
      val obs = Observation(s"hier_changed_r$round")
      // left join: a dangling parent id (row missing from `nodes`) has
      // no match and is treated as a terminal root rather than silently
      // dropping the subtree under it
      val jumped = labels.alias("x")
        .join(labels.select(col("id").as("aid"), col("anc").as("aanc"),
          col("depth").as("adepth")).alias("y"),
          col("x.anc") === col("y.aid"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("aanc"), col("x.anc")).as("anc"),
          (col("x.depth") + coalesce(col("adepth"), lit(0L))).as("depth"),
          // moved ⇔ the ancestor itself was not yet a root
          (coalesce(col("adepth"), lit(0L)) > 0L).as("moved"))
        .observe(obs, count_if(col("moved")).as("changed"), count(lit(1)).as("rows"))
        .select("id", "anc", "depth")
        .localCheckpoint() // the round's one action; the metrics land during it
      val m = obs.get
      // the lineage cut keeps the per-round plan O(1); its true size lets
      // the next round's join pick broadcast or sort-merge up front
      labels = GraftShim.withRowCount(jumped, m("rows").asInstanceOf[Long])
      converged = m("changed") == 0L
      round += 1
    }
    System.err.println(s"[graft] rootClosure: $round rounds" +
      (if (converged) "" else s" (maxIter=$maxIter hit before fixpoint — cycle?)"))
    labels.select(col("id"), col("anc").as("root"), col("depth"))
  }
}
