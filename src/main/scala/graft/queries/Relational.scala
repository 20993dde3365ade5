package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Fixtures

/** SURVEY.md §2.3 relational inventory, rows Q1–Q27.
  *
  * Implementation style: DataFrame API for plan-shaping operators
  * (joins, aggregation, windows) so broadcast hints etc. are explicit;
  * shared ANSI SQL where the Spark and DuckDB dialects agree verbatim.
  *
  * Determinism notes (the driver hash-compares vs DuckDB):
  *  - Money aggregates run in DECIMAL (inputs are exact 2-dp values
  *    stored as doubles), then `round(.,2)` *in decimal* and a final
  *    cast to double. Decimal arithmetic is exact in both engines, so
  *    the result is bit-identical regardless of partial-agg order.
  *  - Anything windowed or limited carries a total tie-break order.
  */
object Relational {

  /** money column → exact decimal */
  private def dec(c: Column): Column = c.cast("decimal(12,2)")
  /** decimal result → round(2) → double (deterministic both engines) */
  private def r2d(c: Column): Column = round(c, 2).cast("double")
  /** net revenue per lineitem in exact decimal: price * (1 - discount) */
  private val net: Column =
    dec(col("l_extendedprice")) * (lit(1) - col("l_discount").cast("decimal(4,2)"))
  private val netSql =
    "cast(l_extendedprice as decimal(12,2)) * (1 - cast(l_discount as decimal(4,2)))"

  /** Exact fixed-point money math: decimal aggregation in Spark codegen
    * allocates a BigDecimal per row (measured 2× on TPC-H Q1 at sf0.1),
    * so hot aggregates run in scaled bigint instead. Only safe on
    * columns verified exactly 2-dp (lineitem money columns and
    * events.value are; o_totalprice is NOT — it keeps the decimal
    * path). The per-group result converts back through decimal, so the
    * value is bit-identical to the all-decimal formulation. At sums
    * beyond ~9e18 in scaled units the bigint would overflow — the
    * partial-agg stays exact far past this fixture scale; revisit with
    * decimal(38) partials if a 100 TB deployment sums quadrillions.
    */
  private def cents(c: Column): Column = round(c * 100).cast("bigint")
  /** Overflow-enforced scaled-bigint sum: `try_sum` yields null on
    * 64-bit overflow (instead of the silent wraparound of plain `sum`)
    * and the coalesce(raise_error) turns that null into a loud failure
    * — the documented ~9e18 scaled-unit bound is enforced, not assumed.
    * Same map-side-combinable Sum aggregate, TRY eval mode.
    */
  private def sumMoney(c: Column): Column =
    // count(c) distinguishes a legitimately all-NULL group (sum is
    // null, no overflow) from try_sum's overflow null
    when(count(c) === 0, lit(null).cast("bigint")).otherwise(
      coalesce(try_sum(c),
        raise_error(lit("scaled-bigint money sum overflow (>~9e18 units): rerun with decimal partials")).cast("bigint")))
  /** scaled-bigint sum → exact decimal descale → round(2) → double */
  private def c2d(c: Column, scale: Int): Column =
    r2d(c.cast("decimal(38,0)") / math.pow(10, scale).toLong)
  /** net revenue per lineitem in 1e-4 units (exact) */
  private val netE4: Column =
    cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Fixtures.table(s, d, n)

  /** Size-gated broadcast hint for a dimension table: hint only while
    * the table's on-disk size is under the session's broadcast
    * threshold — past it (customer is ~50 MB at the 100× probe scale
    * and grows decade-over-decade) the hint is dropped so
    * AQE + autoBroadcastJoinThreshold pick SMJ/SHJ instead of being
    * forced to materialize an executor-OOM-sized broadcast. At every
    * bench/verify scale the dims are well under 10 MB, so the hinted
    * (all-BHJ) plan is unchanged — pinned by PLAN_DIGESTS.json; the
    * past-threshold SMJ shape is pinned by BroadcastGateSpec.
    */
  private def dimIfSmall(s: SparkSession, d: String, n: String): DataFrame = {
    val df = t(s, d, n)
    val thresh = Fixtures.broadcastThresholdBytes(s)
    if (thresh > 0 && Fixtures.onDiskBytes(d, n) <= thresh) broadcast(df) else df
  }

  val all: Seq[QuerySpec] = Seq(

    // Q1 — projection / column pruning (only 4 of 11 lineitem columns read)
    QuerySpec.shared("q01_project",
      s"""select l_orderkey, l_linenumber,
         |  cast(round($netSql, 2) as double) as net
         |from lineitem""".stripMargin),

    // Q2 — filter: BETWEEN + IN + comparison + boolean logic
    QuerySpec.df("q02_filter",
      """select l_orderkey, l_linenumber, l_quantity, l_discount
        |from lineitem
        |where l_shipdate between timestamp '1995-03-01' and timestamp '1996-06-30'
        |  and l_discount in (0.05, 0.06, 0.07) and l_quantity < 24""".stripMargin) {
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate").between("1995-03-01", "1996-06-30 00:00:00")
            && col("l_discount").isin(0.05, 0.06, 0.07) && col("l_quantity") < 24)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    },

    // Q3 — inner equi-join (sort-merge at scale; AQE may pick SHJ)
    QuerySpec.df("q03_join_inner",
      """select l_orderkey, l_linenumber, o_custkey, l_quantity
        |from lineitem join orders on l_orderkey = o_orderkey
        |where o_orderstatus = 'F'""".stripMargin) {
      (s, d) =>
        t(s, d, "lineitem")
          .join(t(s, d, "orders").filter(col("o_orderstatus") === "F"),
            col("l_orderkey") === col("o_orderkey"))
          .select("l_orderkey", "l_linenumber", "o_custkey", "l_quantity")
    },

    // Q4 — broadcast-hash star join: fact ⋈ broadcast dims, revenue per region
    QuerySpec.df("q04_join_broadcast",
      s"""select r_name,
         |  cast(round(sum($netSql), 2) as double) as rev,
         |  count(*) as cnt
         |from lineitem
         |  join orders on l_orderkey = o_orderkey
         |  join customer on o_custkey = c_custkey
         |  join nation on c_nationkey = n_nationkey
         |  join region on n_regionkey = r_regionkey
         |group by r_name""".stripMargin) {
      (s, d) =>
        // Aggregate below the fact join (guide §2.3, the q05 pattern):
        // lineitem collapses to one exact scaled-bigint (rev, cnt) row
        // per orderkey BEFORE meeting orders, so the join and the
        // final r_name shuffle move |orders| rows instead of
        // |lineitem| (4× fewer at any scale). Integer partial sums
        // re-sum exactly; sumMoney's overflow enforcement rides both
        // levels. r14 opt: 1.26 → see OPTIMIZATION_r14.md.
        t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sumMoney(netE4).as("_rev_e4"), count(lit(1)).as("_cnt"))
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(dimIfSmall(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(dimIfSmall(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .join(dimIfSmall(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(c2d(sumMoney(col("_rev_e4")), 4).as("rev"),
            sum(col("_cnt")).as("cnt"))
    },

    // Q5 — left outer join preserving customers without orders
    QuerySpec.df("q05_join_left",
      """select c_custkey, count(o_orderkey) as n_orders,
        |  cast(coalesce(round(sum(cast(o_totalprice as decimal(12,2))), 2), 0) as double) as spend
        |from customer left join orders on c_custkey = o_custkey
        |group by c_custkey""".stripMargin) {
      (s, d) =>
        // Aggregate below the join: orders collapse to one row per
        // custkey before meeting customer, so the join moves |custkeys|
        // rows instead of |orders|. Count/sum over the pre-aggregate
        // distribute exactly (count of null group → 0 via coalesce).
        // No broadcast hint: perCust is proportional to the number of
        // distinct customers with orders, which at large scale exceeds
        // broadcast limits — AQE picks broadcast when it actually fits.
        val perCust = t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_o"), r2d(sum(dec(col("o_totalprice")))).as("sp"))
        t(s, d, "customer")
          .join(perCust, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey"),
            coalesce(col("n_o"), lit(0L)).as("n_orders"),
            coalesce(col("sp"), lit(0).cast("double")).as("spend"))
    },

    // Q5b — full outer join: per-nation customer count vs supplier count
    QuerySpec.df("q05b_join_full",
      """select coalesce(c.k, s.k) as nationkey,
        |  coalesce(c.nc, 0) as n_cust, coalesce(s.ns, 0) as n_supp
        |from (select c_nationkey as k, count(*) as nc from customer group by 1) c
        |full outer join (select s_nationkey as k, count(*) as ns from supplier group by 1) s
        |on c.k = s.k""".stripMargin) {
      (s, d) =>
        val c = t(s, d, "customer").groupBy(col("c_nationkey").as("ck"))
          .agg(count(lit(1)).as("nc"))
        val su = t(s, d, "supplier").groupBy(col("s_nationkey").as("sk"))
          .agg(count(lit(1)).as("ns"))
        c.join(su, col("ck") === col("sk"), "full_outer")
          .select(coalesce(col("ck"), col("sk")).as("nationkey"),
            coalesce(col("nc"), lit(0)).as("n_cust"),
            coalesce(col("ns"), lit(0)).as("n_supp"))
    },

    // Q6 — anti join: parts never shipped in bulk (NOT EXISTS)
    QuerySpec.df("q06_join_anti",
      """select p_partkey, p_brand from part
        |where not exists (select 1 from lineitem
        |                  where l_partkey = p_partkey and l_quantity >= 47)""".stripMargin) {
      (s, d) =>
        t(s, d, "part")
          .join(t(s, d, "lineitem").filter(col("l_quantity") >= 47),
            col("p_partkey") === col("l_partkey"), "left_anti")
          .select("p_partkey", "p_brand")
    },

    // Q6b — semi join: suppliers with at least one high-quantity shipment (EXISTS)
    QuerySpec.df("q06b_join_semi",
      """select s_suppkey, s_name from supplier
        |where exists (select 1 from lineitem
        |              where l_suppkey = s_suppkey and l_quantity >= 49)""".stripMargin) {
      (s, d) =>
        t(s, d, "supplier")
          .join(t(s, d, "lineitem").filter(col("l_quantity") >= 49),
            col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select("s_suppkey", "s_name")
    },

    // Q7 — cross join + theta filter (BroadcastNestedLoopJoin)
    QuerySpec.df("q07_join_cross",
      """select a.n_name as n1, b.n_name as n2
        |from nation a cross join nation b
        |where a.n_regionkey = b.n_regionkey and a.n_nationkey < b.n_nationkey""".stripMargin) {
      (s, d) =>
        val a = t(s, d, "nation").select(col("n_name").as("n1"),
          col("n_nationkey").as("k1"), col("n_regionkey").as("r1"))
        val b = t(s, d, "nation").select(col("n_name").as("n2"),
          col("n_nationkey").as("k2"), col("n_regionkey").as("r2"))
        a.crossJoin(b).filter(col("r1") === col("r2") && col("k1") < col("k2"))
          .select("n1", "n2")
    },

    // Q8 — range join: pairs of events of one user within a 1-hour band
    QuerySpec.df("q08_join_range",
      """select a.user_id, count(*) as n_pairs,
        |  cast(round(sum(cast(b.value as decimal(12,2)) - cast(a.value as decimal(12,2))), 2) as double) as dv
        |from events a join events b
        |  on a.user_id = b.user_id and b.ts > a.ts and b.ts <= a.ts + interval 1 hour
        |group by a.user_id""".stripMargin) {
      (s, d) =>
        // Banded range join: bucket both sides by hour; a left row can
        // only pair with right rows in its own or the next bucket, so
        // the equi-join key (user, bucket) bounds the candidate set —
        // the shape that survives scale-up (candidates ∝ rows × band
        // density, never rows²) and is ~2× the plain equi+filter join
        // even at sf0.1.
        val e = t(s, d, "events")
        val a = e.select(col("user_id"), col("ts").as("ts_a"),
            cents(col("value")).as("vc_a"))
          .withColumn("bkt", explode(array(
            floor(unix_timestamp(col("ts_a")) / 3600),
            floor(unix_timestamp(col("ts_a")) / 3600) + 1)))
        val b = e.select(col("user_id").as("user_b"), col("ts").as("ts_b"),
            cents(col("value")).as("vc_b"))
          .withColumn("bkt", floor(unix_timestamp(col("ts_b")) / 3600))
        a.join(b, col("user_id") === col("user_b")
            && a("bkt") === b("bkt")
            && col("ts_b") > col("ts_a")
            && col("ts_b") <= col("ts_a") + expr("interval 1 hour"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"),
            c2d(sumMoney(col("vc_b") - col("vc_a")), 2).as("dv"))
    },

    // Q9 — as-of join: latest order of the same user at-or-before each event.
    // Spark side uses the single-shuffle union/last_value implementation in
    // graft.operators.AsOfJoin; oracle uses the row_number formulation.
    QuerySpec.df("q09_join_asof",
      """select event_id, o_orderkey as asof_orderkey from (
        |  select e.event_id, o.o_orderkey,
        |    row_number() over (partition by e.event_id
        |                       order by o.o_orderdate desc, o.o_orderkey desc) as rn
        |  from events e join orders o
        |    on e.user_id = o.o_custkey and o.o_orderdate <= e.ts
        |) t where rn = 1""".stripMargin) {
      (s, d) =>
        graft.operators.AsOfJoin.latestAtOrBefore(
            left = t(s, d, "events").select("event_id", "user_id", "ts"),
            right = t(s, d, "orders")
              .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey")),
            leftKey = "user_id", rightKey = "o_custkey",
            leftTime = "ts", rightTime = "o_orderdate",
            rightTieBreak = "o_orderkey", payload = "o_orderkey")
          .filter(col("o_orderkey").isNotNull)
          .select(col("event_id"), col("o_orderkey").as("asof_orderkey"))
    },

    // Q10 — TPC-H Q1 shape: hash aggregation w/ partial+final combine
    QuerySpec.df("q10_agg_tpch1",
      s"""select l_returnflag, l_linestatus,
         |  cast(sum(cast(l_quantity as bigint)) as bigint) as sum_qty,
         |  cast(round(sum(cast(l_extendedprice as decimal(12,2))), 2) as double) as sum_base,
         |  cast(round(sum($netSql), 2) as double) as sum_disc,
         |  cast(round(sum($netSql * (1 + cast(l_tax as decimal(4,2)))), 2) as double) as sum_charge,
         |  round(avg(l_quantity), 2) as avg_qty,
         |  count(*) as cnt
         |from lineitem
         |where l_shipdate <= timestamp '2000-09-02'
         |group by l_returnflag, l_linestatus""".stripMargin) {
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") <= "2000-09-02 00:00:00")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(col("l_quantity").cast("bigint")).cast("bigint").as("sum_qty"),
            c2d(sumMoney(cents(col("l_extendedprice"))), 2).as("sum_base"),
            c2d(sumMoney(netE4), 4).as("sum_disc"),
            c2d(sumMoney(netE4 * (lit(100L) + cents(col("l_tax")))), 6).as("sum_charge"),
            round(avg(col("l_quantity")), 2).as("avg_qty"),
            count(lit(1)).as("cnt"))
    },

    // Q11 — distinct + multi count-distinct + sum(distinct). The Spark
    // side is the PRE-AGGREGATED formulation (r14, VERDICT r13 item 3):
    // the declarative multi-distinct plans as an Expand that replicates
    // every row once per DISTINCT aggregate — 1.8 B rows through ONE
    // shuffle at the 1000× corpus, ~25 GB shuffle write, sort-fallback
    // spills (131.5 s, SCALING r13). One select+distinct per aggregate
    // dedups map-side BEFORE its exchange, so three small shuffles move
    // only per-partition-distinct pairs; measured 99.5 s vs 111.8 s on
    // the same 600 M-row corpus with identical results (asserted by
    // the DistinctProbe tool, since removed; its numbers stay in
    // SCALING.md), and the spill-pressure
    // profile is what matters at 100 TB. The oracle keeps the
    // declarative count(distinct) SQL — the two formulations check
    // each other.
    QuerySpec.df("q11_distinct",
      """select l_returnflag,
        |  count(distinct l_suppkey) as d_supp,
        |  count(distinct l_partkey) as d_part,
        |  cast(sum(distinct cast(l_quantity as bigint)) as bigint) as sd_qty
        |from lineitem group by l_returnflag""".stripMargin) { (s, d) =>
      MultiDistinct.preAgg(
        t(s, d, "lineitem")
          .select("l_returnflag", "l_suppkey", "l_partkey", "l_quantity"))
    },

    // Q12 — approx_count_distinct (HLL), checked WITH TOLERANCE (the
    // SURVEY §2.3 Q12 method: "verify with exact count instead"):
    // Spark's HLL++ value can't hash-match DuckDB's different sketch,
    // so the query emits the exact distinct count (hash-checked) plus
    // the VERDICT that the sketch landed within its documented error —
    // |approx − exact| ≤ max(5, 3·rsd·exact), rsd = 0.05 (3 standard
    // errors ≈ 99.7%; the small absolute slack covers tiny groups where
    // relative rsd under-states HLL's integer granularity). The oracle
    // asserts the verdict is `true`: a sketch drifting out of bounds
    // flips the boolean and fails the driver's hash compare.
    QuerySpec.df("q12_approx_distinct",
      """select event_type,
        |  count(distinct user_id) as exact_users,
        |  count(*) as cnt,
        |  true as approx_ok
        |from events group by event_type""".stripMargin) { (s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
          count(lit(1)).as("cnt"))
        .withColumn("approx_ok",
          abs(col("approx_users") - col("exact_users")).cast("double") <=
            greatest(lit(5.0), lit(0.15) * col("exact_users")))
        .select("event_type", "exact_users", "cnt", "approx_ok")
    },

    // Q13 — rollup + grouping()
    QuerySpec.shared("q13_rollup",
      """select n_name, c_mktsegment,
        |  cast(round(sum(cast(o_totalprice as decimal(12,2))), 2) as double) as rev,
        |  cast(grouping(n_name) as integer) as g1,
        |  cast(grouping(c_mktsegment) as integer) as g2
        |from orders
        |  join customer on o_custkey = c_custkey
        |  join nation on c_nationkey = n_nationkey
        |group by rollup(n_name, c_mktsegment)""".stripMargin),

    // Q13b — cube
    QuerySpec.shared("q13b_cube",
      """select o_orderstatus, o_orderpriority, count(*) as cnt,
        |  cast(round(sum(cast(o_totalprice as decimal(12,2))), 2) as double) as rev
        |from orders
        |group by cube(o_orderstatus, o_orderpriority)""".stripMargin),

    // Q14 — stats aggregates: exact percentile, stddev, variance, corr.
    // percentile on the integral l_quantity only (midpoint interpolation
    // is then exact in both engines).
    QuerySpec.sql("q14_stats",
      """select l_returnflag,
        |  cast(percentile(l_quantity, 0.5) as double) as med_qty,
        |  cast(percentile(l_quantity, 0.9) as double) as p90_qty,
        |  round(stddev_samp(l_quantity), 4) as sd_qty,
        |  round(var_samp(l_quantity), 4) as var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) as corr_qp,
        |  round(covar_samp(l_quantity, l_discount), 4) as cov_qd
        |from lineitem group by l_returnflag""".stripMargin,
      """select l_returnflag,
        |  cast(quantile_cont(l_quantity, 0.5) as double) as med_qty,
        |  cast(quantile_cont(l_quantity, 0.9) as double) as p90_qty,
        |  round(stddev_samp(l_quantity), 4) as sd_qty,
        |  round(var_samp(l_quantity), 4) as var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) as corr_qp,
        |  round(covar_samp(l_quantity, l_discount), 4) as cov_qd
        |from lineitem group by l_returnflag""".stripMargin),

    // Q14b — min_by/max_by + deterministic collect_list (sorted, joined)
    QuerySpec.sql("q14b_minmax_by",
      """select c_mktsegment,
        |  max_by(c_custkey, c_acctbal + c_custkey / 1000000000.0) as richest,
        |  min_by(c_custkey, c_acctbal + c_custkey / 1000000000.0) as poorest,
        |  array_join(sort_array(collect_set(substring(c_name, 10, 1))), ',') as digits
        |from customer group by c_mktsegment""".stripMargin,
      """select c_mktsegment,
        |  max_by(c_custkey, c_acctbal + c_custkey / 1000000000.0) as richest,
        |  min_by(c_custkey, c_acctbal + c_custkey / 1000000000.0) as poorest,
        |  array_to_string(list_sort(list_distinct(list(substring(c_name, 10, 1)))), ',') as digits
        |from customer group by c_mktsegment""".stripMargin),

    // Q14c — approx percentile sketch, checked WITH RANK-ERROR BOUNDS
    // (engine-specific sketch values can't hash-match, but Spark's
    // GK-sketch contract — rank error ≤ n/accuracy, here 1e-4·n — CAN
    // be asserted): the approx value must lie between the exact
    // percentiles at p ± 0.005 (50× the guaranteed rank error; still a
    // meaningful bound — at 0.5 it pins the approx median inside the
    // central 1% of the distribution). The hash-checked anchor column
    // is the exact integral-quantity median (midpoint interpolation
    // exact in both engines, as in q14_stats); the bound verdicts are
    // booleans the oracle asserts true, so a sketch escaping its rank
    // guarantee fails the driver's hash compare.
    QuerySpec.df("q14c_approx_percentile",
      """select l_returnflag,
        |  cast(quantile_cont(l_quantity, 0.5) as double) as med_qty,
        |  true as med_ok, true as q1_ok, true as q3_ok
        |from lineitem group by l_returnflag""".stripMargin) { (s, d) =>
      Fixtures.registerAll(s, d)
      // Scalar output columns only: the driver canonicalizes results via
      // pandas sort/hash, which cannot handle array-typed cells. The
      // l_quantity percentiles keep the counts-map `percentile` (50
      // distinct values — the map is trivial); the l_extendedprice
      // bounds move to the SORT-based exact formulation
      // (operators.Percentiles — the counts map held ~1 distinct value
      // per row there, the measured bulk of the query and an OOM at
      // scale; see Percentiles scaladoc). Identical interpolation
      // arithmetic, same booleans, 1.89 s → sort-pass cost (r14 opt).
      val agg = s.sql(
        """select l_returnflag,
          |  percentile(l_quantity, array(0.495, 0.5, 0.505)) as pq,
          |  percentile_approx(l_quantity, 0.5, 10000) as aq,
          |  percentile_approx(l_extendedprice,
          |    array(0.25, 0.75), 10000) as ae
          |from lineitem group by l_returnflag""".stripMargin)
      val pe = graft.operators.Percentiles.exactByGroup(
        Fixtures.table(s, d, "lineitem"), "l_returnflag",
        "l_extendedprice", Seq(0.245, 0.255, 0.745, 0.755), outCol = "pe")
      agg.join(pe, "l_returnflag").select(col("l_returnflag"),
        element_at(col("pq"), 2).cast("double").as("med_qty"),
        (col("aq") >= element_at(col("pq"), 1) &&
          col("aq") <= element_at(col("pq"), 3)).as("med_ok"),
        (element_at(col("ae"), 1) >= element_at(col("pe"), 1) &&
          element_at(col("ae"), 1) <= element_at(col("pe"), 2)).as("q1_ok"),
        (element_at(col("ae"), 2) >= element_at(col("pe"), 3) &&
          element_at(col("ae"), 2) <= element_at(col("pe"), 4)).as("q3_ok"))
    },

    // Q15 — ranking window functions, total tie-break order
    QuerySpec.df("q15_window_rank",
      """select o_custkey, o_orderkey, rn, rnk, drnk from (
        |  select o_custkey, o_orderkey,
        |    row_number() over w as rn,
        |    rank() over w as rnk,
        |    dense_rank() over w as drnk
        |  from orders
        |  window w as (partition by o_custkey order by o_totalprice desc, o_orderkey)
        |) t where rn <= 3""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .withColumn("rnk", rank().over(w))
          .withColumn("drnk", dense_rank().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "rn", "rnk", "drnk")
    },

    // Q16 — analytic window functions: lag/lead/first/last per user stream
    QuerySpec.df("q16_window_analytic",
      """select event_id,
        |  lag(event_id) over w as prev_id,
        |  lead(event_id) over w as next_id,
        |  first_value(event_id) over w as first_id,
        |  cast(round(cast(value as decimal(12,2))
        |       - lag(cast(value as decimal(12,2))) over w, 2) as double) as dv
        |from events
        |window w as (partition by user_id order by ts, event_id)""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("prev_id", lag(col("event_id"), 1).over(w))
          .withColumn("next_id", lead(col("event_id"), 1).over(w))
          .withColumn("first_id", first(col("event_id")).over(w))
          .withColumn("dv", r2d(dec(col("value")) - lag(dec(col("value")), 1).over(w)))
          .select("event_id", "prev_id", "next_id", "first_id", "dv")
    },

    // Q16b — sessionization: gap > 30 min starts a new session
    // (cumulative-sum-of-boundaries idiom over the per-user stream)
    QuerySpec.df("q16b_sessionize",
      """with marked as (
        |  select user_id, event_id, ts,
        |    case when ts - lag(ts) over (partition by user_id order by ts, event_id)
        |              > interval 30 minute then 1 else 0 end as brk
        |  from events
        |), sess as (
        |  select user_id, event_id,
        |    sum(brk) over (partition by user_id order by ts, event_id
        |                   rows between unbounded preceding and current row) as session_id
        |  from marked
        |)
        |select user_id, cast(session_id as bigint) as session_id,
        |  count(*) as n_events,
        |  min(event_id) as first_event, max(event_id) as last_event
        |from sess group by user_id, session_id""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("brk",
            when(col("ts") - lag(col("ts"), 1).over(w) > expr("interval 30 minutes"), 1)
              .otherwise(0))
          .withColumn("session_id",
            sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_id").cast("bigint").as("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min("event_id").as("first_event"), max("event_id").as("last_event"))
    },

    // Q17 — window frames: running decimal revenue + sliding 3-row average
    QuerySpec.df("q17_window_frames",
      """select o_orderkey,
        |  cast(round(sum(cast(o_totalprice as decimal(12,2)))
        |    over (partition by o_custkey order by o_orderdate, o_orderkey
        |          rows between unbounded preceding and current row), 2) as double) as running,
        |  count(*) over (partition by o_custkey order by o_orderdate, o_orderkey
        |                 rows between 2 preceding and current row) as win3
        |from orders""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("running",
            r2d(sum(dec(col("o_totalprice")))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
          .withColumn("win3",
            count(lit(1)).over(w.rowsBetween(-2, Window.currentRow)))
          .select("o_orderkey", "running", "win3")
    },

    // Q18 — multi-key sort + top-k (TakeOrderedAndProject)
    QuerySpec.shared("q18_sort_topk",
      """select l_orderkey, l_linenumber, l_extendedprice
        |from lineitem
        |order by l_extendedprice desc, l_orderkey, l_linenumber
        |limit 100""".stripMargin),

    // Q19 — limit + offset over a total order
    QuerySpec.shared("q19_limit_offset",
      """select o_orderkey, o_totalprice from orders
        |order by o_totalprice desc, o_orderkey
        |limit 10 offset 5""".stripMargin),

    // Q20 — set operations: INTERSECT / EXCEPT / UNION ALL
    QuerySpec.shared("q20_setops",
      """select 'both' as tag, k from
        |  (select c_custkey as k from customer intersect select o_custkey from orders) a
        |union all
        |select 'cust_only' as tag, k from
        |  (select c_custkey as k from customer except select o_custkey from orders) b""".stripMargin),

    // Q20b — multiset set ops: INTERSECT ALL / EXCEPT ALL
    QuerySpec.shared("q20b_setops_all",
      """select 'inter' as tag, k, count(*) as n from (
        |  select l_suppkey as k from lineitem where l_quantity > 40
        |  intersect all
        |  select l_suppkey as k from lineitem where l_discount > 0.05
        |) a group by k
        |union all
        |select 'exc' as tag, k, count(*) as n from (
        |  select l_suppkey as k from lineitem where l_quantity > 40
        |  except all
        |  select l_suppkey as k from lineitem where l_discount > 0.08
        |) b group by k""".stripMargin),

    // Q21 — scalar subquery + correlated EXISTS
    QuerySpec.shared("q21_subquery",
      """select o_orderkey, o_totalprice from orders
        |where o_totalprice > (select avg(o_totalprice) * 1.8 from orders)
        |  and exists (select 1 from lineitem
        |              where l_orderkey = o_orderkey and l_quantity >= 45)""".stripMargin),

    // Q22 — CTE reused twice
    QuerySpec.shared("q22_cte",
      """with rev as (
        |  select o_custkey, sum(cast(o_totalprice as decimal(12,2))) as r
        |  from orders group by o_custkey
        |)
        |select o_custkey, cast(round(r, 2) as double) as r
        |from rev
        |where cast(r as double) > (select avg(cast(r as double)) * 1.5 from rev)""".stripMargin),

    // Q23 — string functions
    QuerySpec.sql("q23_strings",
      """select p_partkey,
        |  upper(p_name) as up, lower(p_brand) as lo,
        |  substring(p_name, 1, 5) as sub,
        |  length(p_name) as len,
        |  replace(p_name, ' ', '_') as rep,
        |  lpad(p_brand, 10, '*') as pad,
        |  trim('  ' || p_type || ' ') as trimmed,
        |  instr(p_name, 'a') as pos,
        |  reverse(p_brand) as rev,
        |  repeat('x', p_size % 4) as rept,
        |  translate(p_name, 'aeiou', 'AEIOU') as tra,
        |  regexp_extract(p_brand, '([0-9]+)', 1) as brandnum,
        |  case when p_name like '%wid%' then 1 else 0 end as haswid,
        |  case when p_name rlike '^[a-z]+ widget$' then 1 else 0 end as iswidget,
        |  split(p_name, ' ')[0] as word0
        |from part""".stripMargin,
      """select p_partkey,
        |  upper(p_name) as up, lower(p_brand) as lo,
        |  substring(p_name, 1, 5) as sub,
        |  length(p_name) as len,
        |  replace(p_name, ' ', '_') as rep,
        |  lpad(p_brand, 10, '*') as pad,
        |  trim('  ' || p_type || ' ') as trimmed,
        |  instr(p_name, 'a') as pos,
        |  reverse(p_brand) as rev,
        |  repeat('x', p_size % 4) as rept,
        |  translate(p_name, 'aeiou', 'AEIOU') as tra,
        |  regexp_extract(p_brand, '([0-9]+)', 1) as brandnum,
        |  case when p_name like '%wid%' then 1 else 0 end as haswid,
        |  case when regexp_matches(p_name, '^[a-z]+ widget$') then 1 else 0 end as iswidget,
        |  string_split(p_name, ' ')[1] as word0
        |from part""".stripMargin),

    // Q24 — date/time functions; monthly revenue rollup
    QuerySpec.sql("q24_dates",
      """select cast(date_trunc('month', o_orderdate) as date) as month,
        |  year(min(o_orderdate)) as yr, month(min(o_orderdate)) as mon,
        |  day(max(o_orderdate)) as last_day,
        |  datediff(cast(max(o_orderdate) as date), cast(min(o_orderdate) as date)) as span_days,
        |  cast(round(sum(cast(o_totalprice as decimal(12,2))), 2) as double) as rev,
        |  count(*) as cnt
        |from orders group by 1""".stripMargin,
      """select cast(date_trunc('month', o_orderdate) as date) as month,
        |  year(min(o_orderdate)) as yr, month(min(o_orderdate)) as mon,
        |  day(max(o_orderdate)) as last_day,
        |  date_diff('day', cast(min(o_orderdate) as date), cast(max(o_orderdate) as date)) as span_days,
        |  cast(round(sum(cast(o_totalprice as decimal(12,2))), 2) as double) as rev,
        |  count(*) as cnt
        |from orders group by 1""".stripMargin),

    // Q24b — calendar arithmetic: date_add/add_months/last_day/quarter/
    // ISO week/day-of-year/make_date
    QuerySpec.sql("q24b_datefns",
      """select o_orderkey,
        |  date_add(cast(o_orderdate as date), 30) as plus30,
        |  add_months(cast(o_orderdate as date), 2) as plus2m,
        |  last_day(cast(o_orderdate as date)) as eom,
        |  quarter(o_orderdate) as q,
        |  weekofyear(o_orderdate) as wk,
        |  dayofyear(o_orderdate) as doy,
        |  make_date(2020, month(o_orderdate), 1) as md
        |from orders where o_orderkey % 25 = 0""".stripMargin,
      """select o_orderkey,
        |  cast(o_orderdate as date) + 30 as plus30,
        |  cast(cast(o_orderdate as date) + interval 2 month as date) as plus2m,
        |  last_day(cast(o_orderdate as date)) as eom,
        |  quarter(o_orderdate) as q,
        |  weekofyear(o_orderdate) as wk,
        |  dayofyear(o_orderdate) as doy,
        |  make_date(2020, month(o_orderdate), 1) as md
        |from orders where o_orderkey % 25 = 0""".stripMargin),

    // Q25 — math/numeric functions (round(,6) swallows 1-ulp libm diffs)
    QuerySpec.shared("q25_math",
      """select l_orderkey, l_linenumber,
        |  round(sqrt(l_quantity), 6) as sq,
        |  cast(floor(l_extendedprice) as bigint) as flr,
        |  cast(ceil(l_extendedprice) as bigint) as cl,
        |  abs(l_discount - 0.05) as ab,
        |  round(exp(l_discount), 6) as ex,
        |  round(ln(l_extendedprice), 6) as lg,
        |  round(log10(l_extendedprice), 6) as l10,
        |  round(pow(l_quantity, 2), 1) as p2,
        |  cast(l_orderkey % 7 as bigint) as md,
        |  cast(sign(l_discount - 0.05) as integer) as sg,
        |  greatest(l_quantity, 25.0) as gr,
        |  least(l_tax, l_discount) as le
        |from lineitem where l_orderkey % 100 = 0""".stripMargin),

    // Q26 — conditional / null handling
    QuerySpec.shared("q26_conditional",
      """select
        |  case when l_discount >= 0.08 then 'high'
        |       when l_discount >= 0.04 then 'mid'
        |       else 'low' end as band,
        |  coalesce(nullif(l_tax, 0.0), -1.0) as tax_or_flag,
        |  count(*) as cnt,
        |  cast(round(sum(cast(l_extendedprice as decimal(12,2))), 2) as double) as rev
        |from lineitem group by 1, 2""".stripMargin),

    // Q27 — casts across types (floor() first: double→int truncation
    // direction differs between engines, floor makes it explicit)
    QuerySpec.shared("q27_casts",
      """select o_orderkey,
        |  cast(cast(o_totalprice as decimal(12,2)) as string) as price_str,
        |  cast(floor(o_totalprice) as bigint) as price_int,
        |  cast(o_orderdate as date) as od,
        |  cast(cast(o_orderkey as string) as bigint) as roundtrip,
        |  cast('123.5' as double) as lit_d,
        |  cast(cast(o_orderdate as date) as string) as date_str
        |from orders where o_orderkey % 50 = 0""".stripMargin),

    // Q36 (beyond the reference surface) — time-series gap fill: per
    // user, resample onto an hourly grid between the first and last
    // observed hour, forward-filling the last observation (the metric
    // downsampling/reporting primitive). Per-hour observation = the
    // latest event in that hour (ts desc, event_id desc — total
    // order).
    //
    // Scale shape (r14 rewrite, VERDICT r13 item 5): the r13 plan
    // built the full hourly GRID, left-joined observations back, and
    // forward-filled with a window — the grid rows (~1 B at 1000×:
    // users × span hours) paid a shuffle join AND a per-user sort,
    // needing ~30 GB local spill scratch (failed under 32 GB free).
    // This formulation never joins or sorts grid-sized data: the
    // per-hour observation is a HASH AGG (max_by over (ts, event_id) —
    // map-side combining, no 100 M-row window sort), `lead` computes
    // each observation's fill SPAN on obs-sized rows, and the grid
    // rows are generated by an explode that already carries their
    // fill value — pipelined straight to the sink, zero post-explode
    // shuffle. Spill scratch is now bounded by the OBS aggregation,
    // not the grid. Same result set; the oracle keeps the declarative
    // grid+join formulation precisely so the two plans check each
    // other.
    QuerySpec.sql("q36_gap_fill",
      """with obs as (
        |  select user_id, date_trunc('HOUR', ts) as h,
        |    max_by(value, struct(ts, event_id)) as value
        |  from events
        |  group by user_id, date_trunc('HOUR', ts)),
        |spans as (
        |  select user_id, h, value,
        |    lead(h) over (partition by user_id order by h) as next_h
        |  from obs)
        |select user_id, g as hour, value, (g = h) as observed
        |from (
        |  select user_id, h, value,
        |    explode(sequence(h, coalesce(next_h - interval 1 hour, h),
        |                     interval 1 hour)) as g
        |  from spans) t""".stripMargin,
      """with obs as (
        |  select user_id, h, value from (
        |    select user_id, date_trunc('hour', ts) as h, value,
        |      row_number() over (
        |        partition by user_id, date_trunc('hour', ts)
        |        order by ts desc, event_id desc) as rn
        |    from events) where rn = 1),
        |bounds as (select user_id, min(h) as h0, max(h) as h1
        |           from obs group by user_id),
        |grid as (select user_id,
        |           unnest(generate_series(h0, h1, interval 1 hour)) as h
        |         from bounds),
        |j as (select g.user_id, g.h, o.value
        |      from grid g left join obs o on g.user_id = o.user_id
        |                                 and g.h = o.h)
        |select user_id, h as hour,
        |  last_value(value ignore nulls) over (
        |    partition by user_id order by h
        |    rows between unbounded preceding and current row) as value,
        |  (value is not null) as observed
        |from j""".stripMargin),

    // Q37 (beyond the reference surface) — trailing time-window
    // aggregates via a RANGE interval frame (Q17 covers ROWS frames;
    // interval RANGE frames are the time-series variant): per event,
    // the 24-hour trailing sum/count of `value` for its user. The sum
    // runs in DECIMAL (double partial-sum association differs between
    // engines' window implementations — Spark's running accumulation
    // vs a segment tree) then rounds out to double, per the money
    // determinism rule.
    QuerySpec.shared("q37_rolling_window",
      """select event_id, user_id, ts,
        |  cast(sum(cast(value as decimal(12,2))) over w as double)
        |    as roll_sum,
        |  count(*) over w as roll_n
        |from events
        |window w as (partition by user_id order by ts
        |             range between interval 24 hours preceding
        |               and current row)""".stripMargin),

    // Q38 (beyond the reference surface) — recursive hierarchy closure:
    // the ANSI `WITH RECURSIVE` walk Spark SQL lacks, answered by the
    // pointer-doubling operator (O(log depth) shuffle rounds; see
    // operators/Hierarchy.scala). Fixture forest planted over doc_ids:
    // roots at multiples of 50, every other node parented 1-8 steps
    // back (clamped at its block root) — max depth 8, 10+ trees.
    QuerySpec.df("q38_hierarchy",
      """with recursive nodes as (
        |  select doc_id as id,
        |         case when doc_id % 50 = 0 then null
        |              else greatest(doc_id - 1 - (doc_id % 7), (doc_id // 50) * 50) end
        |           as parent
        |  from documents),
        |walk as (
        |  select id, id as root, cast(0 as bigint) as depth
        |  from nodes where parent is null
        |  union all
        |  select n.id, w.root, w.depth + 1
        |  from nodes n join walk w on n.parent = w.id)
        |select id, root, depth from walk""".stripMargin) {
      (s, d) =>
        val nodes = Fixtures.table(s, d, "documents").select(
          col("doc_id").as("id"),
          when(col("doc_id") % 50 === 0, lit(null).cast("long"))
            .otherwise(greatest(
              col("doc_id") - 1 - (col("doc_id") % 7),
              expr("(doc_id div 50) * 50"))).as("parent"))
        graft.operators.Hierarchy.rootClosure(nodes, "id", "parent")
    },

    // Q39 (beyond the reference surface) — ordered conversion funnel
    // over the event stream: users who viewed, then clicked AFTER the
    // first view, then purchased AFTER that click (strict event-order
    // semantics, not mere set membership). Three grouped mins chained
    // by time predicates — each stage one shuffle on user_id; no
    // windows, no self-join explosion.
    QuerySpec.shared("q39_funnel",
      """with v as (select user_id, min(ts) as t0 from events
        |           where event_type = 'view' group by user_id),
        |c as (select e.user_id, min(e.ts) as t1
        |      from events e join v on e.user_id = v.user_id
        |      where e.event_type = 'click' and e.ts > v.t0
        |      group by e.user_id),
        |p as (select e.user_id, min(e.ts) as t2
        |      from events e join c on e.user_id = c.user_id
        |      where e.event_type = 'purchase' and e.ts > c.t1
        |      group by e.user_id)
        |select 1 as stage, cast(count(*) as bigint) as users from v
        |union all
        |select 2 as stage, cast(count(*) as bigint) as users from c
        |union all
        |select 3 as stage, cast(count(*) as bigint) as users from p""".stripMargin),

    // Q40 (beyond the reference surface) — weekly cohort retention:
    // users bucketed by the week of their first event; for each
    // (cohort, week offset) the distinct actives and the retention
    // share of the cohort. date_trunc('week') is Monday-start in both
    // engines; the offset divides a day diff by 7 because the engines'
    // week-diff primitives disagree on boundary semantics.
    QuerySpec.sql("q40_cohort_retention",
      """with f as (select user_id, cast(date_trunc('week', min(ts)) as date) as cohort
        |           from events group by user_id),
        |sz as (select cohort, count(*) as n0 from f group by cohort),
        |a as (select distinct e.user_id, f.cohort,
        |        cast(date_trunc('week', e.ts) as date) as wk
        |      from events e join f on e.user_id = f.user_id)
        |select a.cohort, cast(datediff(a.wk, a.cohort) div 7 as int) as week_offset,
        |       cast(count(*) as bigint) as users,
        |       round(count(*) / cast(sz.n0 as double), 6) as retention
        |from a join sz on a.cohort = sz.cohort
        |group by a.cohort, week_offset, sz.n0""".stripMargin,
      """with f as (select user_id, cast(date_trunc('week', min(ts)) as date) as cohort
        |           from events group by user_id),
        |sz as (select cohort, count(*) as n0 from f group by cohort),
        |a as (select distinct e.user_id, f.cohort,
        |        cast(date_trunc('week', e.ts) as date) as wk
        |      from events e join f on e.user_id = f.user_id)
        |select a.cohort, cast(date_diff('day', a.cohort, a.wk) // 7 as int) as week_offset,
        |       cast(count(*) as bigint) as users,
        |       round(count(*) / cast(sz.n0 as double), 6) as retention
        |from a join sz on a.cohort = sz.cohort
        |group by a.cohort, week_offset, sz.n0""".stripMargin),

    // Q41 (beyond the reference surface) — first-order Markov
    // transition matrix over per-user event sequences: P(next | this)
    // from lead() pairs — the product-analytics "what do users do
    // next" primitive. One window shuffle on user_id + one pair agg;
    // the probability denominator is a window over the grouped counts
    // (no second scan).
    QuerySpec.shared("q41_markov_transitions",
      """with seq as (
        |  select user_id, event_type,
        |    lead(event_type) over (
        |      partition by user_id order by ts, event_id) as nxt
        |  from events)
        |select event_type as src, nxt as dst,
        |  cast(count(*) as bigint) as n,
        |  round(count(*) / cast(sum(count(*)) over
        |    (partition by event_type) as double), 6) as prob
        |from seq where nxt is not null
        |group by event_type, nxt""".stripMargin),
  )
}

/** q11's adopted multi-distinct plan (VERDICT r13 item 3): one
  * select+distinct per DISTINCT aggregate — map-side hash dedup
  * shrinks each stream to per-partition-distinct pairs BEFORE its
  * exchange — then a join of group-key-cardinality results. The
  * declarative `count(distinct ...)` alternative plans as an Expand
  * that replicates every row once per aggregate through one shuffle
  * (1.8 B rows / ~25 GB write at the 1000× corpus); measured 99.5 s
  * vs 111.8 s at 600 M rows with identical output (asserted each run
  * by the DistinctProbe tool, since removed; its numbers stay in
  * SCALING.md).
  */
object MultiDistinct {
  def preAgg(li: DataFrame): DataFrame = {
    val ds = li.select("l_returnflag", "l_suppkey").distinct()
      .groupBy("l_returnflag").agg(count(lit(1)).as("d_supp"))
    val dp = li.select("l_returnflag", "l_partkey").distinct()
      .groupBy("l_returnflag").agg(count(lit(1)).as("d_part"))
    val sq = li.select(col("l_returnflag"),
        col("l_quantity").cast("bigint").as("q")).distinct()
      .groupBy("l_returnflag").agg(sum("q").cast("bigint").as("sd_qty"))
    ds.join(dp, "l_returnflag").join(sq, "l_returnflag")
  }
}
