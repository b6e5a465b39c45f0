package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Core relational operators — SURVEY.md §2.1–2.4, §2.6.
  *
  * Each query is a declarative DataFrame plan (Catalyst handles pushdown,
  * pruning, join strategy selection, AQE); the paired DuckDB oracle SQL
  * lives in [[oracle]] keyed by the same id. Determinism per §2.10: total
  * ORDER BY on a candidate key, decimal-cast before any SUM, explicit
  * result-type casts on both sides.
  */
object Relational extends QueryModule {

  // ---- §2.1 scan / projection ------------------------------------------

  /** Parquet scan + projection + computed decimal column; exercises column
    * pruning + TakeOrderedAndProject. */
  def q_scan_project(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"),
        outDbl(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .as("disc_price"))
      // (l_orderkey, l_linenumber) is NOT unique in this data (verified:
      // ~20% dup keys) — order by every emitted column for a total order;
      // any remaining ties are identical output rows.
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .limit(500)
  }

  /** Day-range metric rollup over the DATE-PARTITIONED events layout
    * ([[Tables.eventsByDay]]): the filter on the partition column reaches
    * the scan as a PartitionFilter, so only 5 of ~31 day directories are
    * read — the planning-time pruning a 100 TB events table lives or dies
    * by (PartitionPruningSpec asserts it in the plan, plus runtime DPP on
    * a dim join). The oracle reads the same rows from the unpartitioned
    * file — identical values prove layout-independence. */
  def q_part_prune(spark: SparkSession, dir: String): DataFrame = {
    Tables.eventsByDay(spark, dir)
      .filter(col("day") >= lit("2024-01-10").cast("date") &&
        col("day") <= lit("2024-01-14").cast("date"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        outDbl(sum(dec4(col("value")))).as("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  // ---- §2.2 filter / project --------------------------------------------

  /** Compound predicate: range + IN-list + comparison + LIKE prefix; all
    * residual-free and pushed to the parquet scan. */
  def q_filter_pred(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1998-01-01").cast("timestamp") &&
        col("l_discount").isin(0.02, 0.04, 0.06, 0.08) &&
        col("l_quantity") < 24 &&
        col("l_returnflag").startsWith("A"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"), col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"), col("l_returnflag"))
  }

  /** CASE buckets + COALESCE(NULLIF(…)) + decimal arithmetic. */
  def q_project_case(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.select(
        col("o_orderkey"),
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 150000, "mid")
          .otherwise("big").as("size_bucket"),
        coalesce(expr("NULLIF(o_orderstatus, 'P')"), lit("PEND")).as("status_adj"),
        outDbl(dec2(col("o_totalprice")) * lit(2) - lit(100)).as("price_adj"))
      .orderBy(col("o_orderkey"))
  }

  // ---- §2.3 joins -------------------------------------------------------

  private def orders4way(spark: SparkSession, dir: String, useBroadcast: Boolean): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n0 = Tables.nation(spark, dir)
    val r0 = Tables.region(spark, dir)
    val (n, r) = if (useBroadcast) (broadcast(n0), broadcast(r0)) else (n0, r0)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        outDbl(sum(dec2(col("o_totalprice")))).as("sum_price"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** 4-way equi chain; Catalyst picks build sides / join order (CBO + AQE). */
  def q_join_inner(spark: SparkSession, dir: String): DataFrame =
    orders4way(spark, dir, useBroadcast = false)

  /** Same, with explicit broadcast of the dims → BroadcastHashJoinExec; the
    * physical hint does not change the result, so the oracle is identical. */
  def q_join_broadcast(spark: SparkSession, dir: String): DataFrame =
    orders4way(spark, dir, useBroadcast = true)

  /** LEFT OUTER with filtered build side; count(col) gives 0 for no-match. */
  def q_join_left(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val big = Tables.orders(spark, dir).filter(col("o_totalprice") > 200000)
    c.join(big, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_big_orders"))
      .orderBy(col("c_custkey"))
  }

  /** FULL OUTER reconcile of two per-(user,day) metric streams; sparse at
    * sf0.01 ⇒ genuinely one-sided rows (SURVEY §2.3). */
  def q_join_full(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_clicks"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_purchases"))
    clicks.join(purchases, Seq("user_id", "day"), "full_outer")
      .select(col("user_id"), col("day"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
      .orderBy(col("user_id"), col("day"))
  }

  /** LEFT SEMI (EXISTS): customers with ≥1 purchase event. */
  def q_join_semi(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val purchases = Tables.events(spark, dir).filter(col("event_type") === "purchase")
    c.join(purchases, col("c_custkey") === col("user_id"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** LEFT ANTI (NOT EXISTS): silent customers — events.user_id domain is a
    * strict subset of c_custkey (FIXTURES.md), so this is non-empty. */
  def q_join_anti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val ev = Tables.events(spark, dir)
    c.join(ev, col("c_custkey") === col("user_id"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Band self-join: event pairs of the same user within (0, 30min],
    * joined EQUI on (user_id, 30-min time bucket) via a 2-bucket probe —
    * the time axis is part of the shuffle key, so a hot user's pairs are
    * bounded per reducer (see in-method comment; PlanQualitySpec asserts
    * the bucket key). */
  def q_join_range(spark: SparkSession, dir: String): DataFrame = {
    // TIME-BUCKETED band join (round-2 verdict's named scale fix): a pair
    // with 0 < b_ts − a_ts ≤ 30 min has bucket(b) ∈ {bucket(a),
    // bucket(a)+1} for 30-min buckets, so the left side probes exactly
    // those two buckets and the join is EQUI on (user_id, bucket) —
    // bounding every reducer's pairs to one user×bucket instead of one
    // user's entire history (the round-2 formulation went quadratic on a
    // hot user: the band predicate was a post-filter on a user_id-only
    // shuffle). Each qualifying pair matches exactly one probe, so no
    // dedup is needed; the exact band condition stays as the filter.
    val bucketUs = 30L * 60 * 1000000
    val ev = Tables.events(spark, dir)
    val a = ev.select(col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"))
      .withColumn("probe",
        explode(array(expr(s"unix_micros(a_ts) DIV $bucketUs"),
          expr(s"unix_micros(a_ts) DIV $bucketUs + 1"))))
    val b = ev.select(col("event_id").as("b_id"), col("user_id").as("user_id_b"), col("ts").as("b_ts"))
      .withColumn("bkt_b", expr(s"unix_micros(b_ts) DIV $bucketUs"))
    a.join(b, col("user_id") === col("user_id_b") &&
        col("probe") === col("bkt_b") &&
        col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 30 MINUTE"))
      .select(col("a_id"), col("b_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** AS-OF join, windowed formulation: for each purchase, the latest
    * strictly-prior event of the same user — the counter→rate
    * previous-sample lookup at the heart of a network-metrics collector
    * (SURVEY §1.1). lag over (ts, event_id) is tie-safe. */
  def q_join_asof(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_event_id", lag(col("event_id"), 1).over(w))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("prev_event_id"), col("prev_value"))
      .orderBy(col("event_id"))
  }

  /** CROSS join of the two tiny dims (5×25 rows). */
  def q_join_cross(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir)
    val n = Tables.nation(spark, dir)
    r.crossJoin(n)
      .select(col("r_name"), col("n_name"),
        concat(col("r_name"), lit("-"), col("n_name")).as("combo"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** CDC merge/upsert: apply a change set (inserts, updates, deletes —
    * here deterministically derived from the base by key residue) to a
    * base table in ONE full-outer join + CASE pass — the MERGE INTO shape
    * every warehouse ingest pipeline runs. At 100 TB both sides shuffle on
    * the merge key only; with a bucketed/partitioned base the join
    * co-locates and the rewrite touches only matched partitions. */
  def q_merge_upsert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), dec2(col("o_totalprice")).as("price"))
    val changes = base
      .filter(col("k") % 100 === 0)
      .select(
        when(col("k") % 500 === 0, lit("D"))
          .when(col("k") % 300 === 0, lit("I")).otherwise(lit("U")).as("op"),
        when(col("k") % 300 === 0 && col("k") % 500 =!= 0, col("k") + 10000000L)
          .otherwise(col("k")).as("ck"),
        outDbl(dec2(col("price")) * 2).as("new_price"))
    base.join(changes, col("k") === col("ck"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("k"), col("ck")).as("key"),
        when(col("op").isin("U", "I"), col("new_price"))
          .otherwise(outDbl(col("price"))).as("price"),
        coalesce(col("op"), lit("keep")).as("op"))
      .orderBy(col("key"))
  }

  // ---- §2.4 aggregations ------------------------------------------------

  /** TPC-H Q1 clone: partial+final HashAggregate with map-side combine;
    * decimal sums per §2.10, avg via the sum/count recipe. */
  def q_agg_hash(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val discPrice = dec4(dec2(col("l_extendedprice")) *
      (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
    l.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .withColumn("disc_price", discPrice)
      .withColumn("charge",
        dec6(col("disc_price") * (lit(1).cast("decimal(18,2)") + dec2(col("l_tax")))))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        outDbl(sum(dec2(col("l_quantity")))).as("sum_qty"),
        outDbl(sum(dec2(col("l_extendedprice")))).as("sum_base_price"),
        outDbl(sum(col("disc_price"))).as("sum_disc_price"),
        outDbl(sum(col("charge"))).as("sum_charge"),
        count(lit(1)).as("n_rows"),
        // averages as floor-quantized basis points: round(sum/count, 4)
        // diverges across engines when count is a power of two and the
        // quotient's shortest repr lands on the half (e.g. 307.03/8)
        floor(lit(10000.0) * sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty_bp"),
        floor(lit(10000.0) * sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price_bp"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** COUNT(DISTINCT …) — Expand + two-phase aggregate. */
  def q_agg_distinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        countDistinct(to_date(col("ts"))).as("n_days"))
      .orderBy(col("event_type"))
  }

  /** Per-nation min/max/count/decimal-sum gauges. */
  def q_agg_stats(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        count(lit(1)).as("n_cust"),
        outDbl(sum(dec2(col("c_acctbal")))).as("sum_bal"))
      .orderBy(col("n_name"))
  }

  /** ROLLUP(r_name, n_name) + GROUPING() flags (Expand-based). */
  def q_agg_rollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        grouping(col("r_name")).cast("int").as("g_r"),
        grouping(col("n_name")).cast("int").as("g_n"))
      .orderBy(col("g_r"), col("g_n"), col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** CUBE(event_type, day-of-month). */
  def q_agg_cube(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.select(col("event_type"), dayofmonth(col("ts")).as("dom"))
      .cube(col("event_type"), col("dom"))
      .agg(count(lit(1)).as("n"),
        grouping(col("event_type")).cast("int").as("g_t"),
        grouping(col("dom")).cast("int").as("g_d"))
      .orderBy(col("g_t"), col("g_d"), col("event_type").asc_nulls_first, col("dom").asc_nulls_first)
  }

  /** GROUPING SETS ((lang),(source),()) over documents. */
  def q_agg_gsets(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.groupingSets(Seq(Seq(col("lang")), Seq(col("source")), Seq.empty), col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        grouping(col("lang")).cast("int").as("g_l"),
        grouping(col("source")).cast("int").as("g_s"))
      .orderBy(col("g_l"), col("g_s"), col("lang").asc_nulls_first, col("source").asc_nulls_first)
  }

  /** Exact discrete quantiles (median / p90 of the metric value per type)
    * via the rank-window formulation — identical on both engines because
    * the quantile is an actual data value picked at rank
    * floor((n-1)·q)+1, no interpolation. The per-group sort is the cost; at
    * 100 TB the approximate sibling ([[q_agg_approx]]'s sketch family /
    * approx_percentile) replaces it where exactness isn't contractual. */
  def q_agg_quantile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("rn") === floor((col("cnt") - 1) * 0.5) + 1, col("value"))).as("median"),
        max(when(col("rn") === floor((col("cnt") - 1) * 0.9) + 1, col("value"))).as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** LATERAL join — per-outer-row correlated subquery with ORDER BY +
    * LIMIT (top-2 nations per region): the tenth join flavor, exercising
    * Catalyst's lateral-join decorrelation (DomainJoin rewrite), which
    * none of the window-based top-k formulations touch. At scale the
    * rewrite becomes a partitioned rank, so the declarative form carries
    * no per-row-subquery cost. */
  def q_join_lateral(spark: SparkSession, dir: String): DataFrame = {
    Tables.views(spark, dir)
    spark.sql(
      """SELECT r.r_name, t.n_name, t.n_nationkey
        |FROM region r, LATERAL (
        |  SELECT n_name, n_nationkey FROM nation n
        |  WHERE n.n_regionkey = r.r_regionkey
        |  ORDER BY n_name DESC, n_nationkey LIMIT 2) t
        |ORDER BY r.r_name, t.n_name DESC, t.n_nationkey""".stripMargin)
  }

  /** UNPIVOT/melt: four lineitem measures into (metric, value) rows via
    * `stack` (the generator form — no shuffle; each input row fans out to
    * 4 narrow rows), then re-aggregated per metric with exact decimal
    * sums. The inverse shape of [[graft.queries.Scalars.q_pivot]]. */
  def q_unpivot(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .selectExpr("""stack(4,
          'discount', l_discount,
          'extendedprice', l_extendedprice,
          'quantity', l_quantity,
          'tax', l_tax) AS (metric, v)""")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).cast("double").as("s"))
      .orderBy(col("metric"))
  }

  /** Time-series gap-fill: the dense (event_type × hour) grid over the
    * data's own hour range, with zero-filled counts for empty buckets —
    * the resample/densify step before any rate or anomaly computation.
    * The grid is generated (sequence + cross join with the tiny type dim)
    * and the left join runs grid-broadcast: counts shuffle once by
    * (type, hour) no matter how large events is. */
  def q_ts_gapfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("ts"))
    val hours = ev
      .agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
    val counts = ev
      .groupBy(col("event_type").as("et"), date_trunc("hour", col("ts")).as("hh"))
      .agg(count(lit(1)).as("cnt"))
    ev.select(col("event_type")).distinct()
      .crossJoin(hours)
      .join(counts, col("event_type") === col("et") && col("h") === col("hh"), "left")
      .select(col("event_type"), unix_seconds(col("h")).as("hour_s"),
        coalesce(col("cnt"), lit(0L)).as("n"))
      .orderBy(col("event_type"), col("hour_s"))
  }

  /** Key-skew profile — the diagnostic that DECIDES when the Salting
    * remedies apply: per-key counts in one two-phase agg, then the top-5
    * heaviest keys with their share of all rows (bp) and the global
    * max-to-mean skew ratio. At 100 TB this runs as a cheap pre-pass over
    * a sample or the previous day's partition to pick salt factors; the
    * profile itself shuffles |keys| rows, never |events|. */
  def q_profile_skew(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("total"), count(lit(1)).as("n_keys"),
      max(col("n")).as("max_n"))
    // top-5 via orderBy+limit → TakeOrderedAndProject, never a
    // SinglePartition row_number window over the |keys| frame (the whole
    // user-id domain at 100 TB); rk derives on the 5-row result
    val top = counts.orderBy(col("n").desc, col("user_id")).limit(5).persist()
    Q.rankTopK(top, "n", "user_id")
      .crossJoin(tot)
      .select(col("rk"), col("user_id"), col("n"),
        floor(lit(10000.0) * col("n") / col("total")).as("share_bp"),
        floor(lit(10000.0) * col("max_n") * col("n_keys") / col("total")).as("skew_bp"))
      .orderBy(col("rk"))
  }

  /** Per-column data-quality profile (the `describe` of a quality gate):
    * row count, null count, distinct count per column — computed in ONE
    * scan: all nine aggregates ride a single pass (Catalyst plans the
    * multiple distincts via one Expand + two-phase agg), then `stack`
    * unpivots the 1-row result to per-column rows. A union of per-column
    * aggregates would read the table once PER COLUMN — at 100 TB the I/O
    * passes, not the agg width, are the cost. */
  def q_profile_stats(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_type", "props", "user_id", "value")
    val aggs = count(lit(1)).as("n") +: cols.flatMap { c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c")) }
    val stackArgs = cols.map(c => s"'$c', n, nn_$c, nd_$c").mkString(", ")
    Tables.events(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.length}, $stackArgs) AS (col_name, n, n_null, n_distinct)")
      .orderBy(col("col_name"))
  }

  /** 16-bit-per-dimension Morton (Z-order) interleave: bit k of x lands
    * at 2k, of y at 2k+1. Inputs must already be masked to 16 bits.
    * Differentially tested against a driver-side reference
    * (RandomizedDifferentialSpec). */
  private[graft] def mortonInterleave(x: Column, y: Column): Column =
    (0 until 16).map { k =>
      shiftleft(shiftright(x, k).bitwiseAND(lit(1L)), 2 * k) +
        shiftleft(shiftright(y, k).bitwiseAND(lit(1L)), 2 * k + 1)
    }.reduce(_ + _)

  /** Incremental aggregate MAINTENANCE — the materialized-view merge law
    * that makes 100 TB pipelines incremental: partial aggregates (count +
    * decimal sum per key) computed over disjoint slices merge by
    * re-aggregation into EXACTLY the full recompute, so each ingest batch
    * folds into the running state without re-reading history. The oracle
    * IS the full recompute — the merge must be semantically invisible
    * (same contract family as q_agg_salted: decimal sums make the
    * re-aggregation order-independent). The even/odd day split stands in
    * for base-vs-new-batch; both partials are two-phase hash aggs. */
  def q_agg_incremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def partial(slice: DataFrame): DataFrame = slice
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("s"))
    val base = partial(ev.filter(pmod(dayofmonth(col("ts")), lit(2)) === 0))
    val delta = partial(ev.filter(pmod(dayofmonth(col("ts")), lit(2)) === 1))
    base.unionByName(delta)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      .select(col("event_type"), col("n"), col("s").cast("double").as("s"))
      .orderBy(col("event_type"))
  }

  /** Pearson correlation per group in EXACT integer arithmetic — the
    * built-in `corr()` accumulates raw doubles and is therefore
    * partition-order-dependent; this formulation quantizes both series
    * (hour-of-day × value cents), keeps all five accumulators as exact
    * BIGINT sums (one two-phase agg, map-side combinable), widens to
    * DECIMAL(38)/HUGEINT only for the final cross products, and touches
    * floating point exactly three times (two correctly-rounded sqrts and
    * one division) in the same order on both engines. The pattern for
    * ANY order-independent moment statistic at 100 TB: ship integer
    * partials, do the float math once at the end. */
  def q_agg_corr(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    Tables.events(spark, dir)
      .select(col("event_type"), hour(col("ts")).cast("long").as("x"),
        floor(col("value") * 100).cast("long").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).as("sy2"))
      .withColumn("da", (col("n").cast(d38) * col("sx2").cast(d38) -
        col("sx").cast(d38) * col("sx").cast(d38)).cast("double"))
      .withColumn("db", (col("n").cast(d38) * col("sy2").cast(d38) -
        col("sy").cast(d38) * col("sy").cast(d38)).cast("double"))
      // zero-variance guard: a degenerate group (one row, or a constant
      // series) has denominator 0 — Spark's non-ANSI divide would yield
      // NULL while DuckDB's IEEE division yields NaN that CAST refuses;
      // an explicit NULL on BOTH sides keeps the engines aligned
      .select(col("event_type"), col("n"),
        when(col("da") > 0 && col("db") > 0,
          floor(lit(10000.0) *
            ((col("n").cast(d38) * col("sxy").cast(d38) -
              col("sx").cast(d38) * col("sy").cast(d38)).cast("double") /
              (sqrt(col("da")) * sqrt(col("db")))))
        ).as("corr_bp"))
      .orderBy(col("event_type"))
  }

  /** Exponentially-weighted moving average (α = 1/2) per user — a
    * RECURSIVE statistic no window frame can express (each state depends
    * on the previous state, not a fixed row set). Expressed as a
    * SEGMENTED two-level fold so no collected array is ever
    * user-lifetime-sized (a hot key would otherwise accumulate unbounded
    * state — the round-5 advisory): level 1 folds each (user, day)
    * segment from s=0 into `c` and records its decay `w = 2^-n` (an
    * EWMA segment acts affinely on incoming state, s' = c + w·s, and
    * powers of two are exact doubles); level 2 folds the day-ordered
    * (c, w) pairs — so arrays are bounded by events-per-user-DAY and
    * days-per-user, never total events. Both engines run the identical
    * two-level recurrence (array_sort(struct)/list(ORDER BY) pin the
    * order; halving and the affine step round identically in identical
    * order), so the result is bit-stable across engines. EWMA state is
    * O(1), so the streaming twin would be flatMapGroupsWithState; this
    * is its batch shape. */
  def q_win_ewma(spark: SparkSession, dir: String): DataFrame = {
    val seg = Tables.events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_seg"),
        expr("""aggregate(
          transform(array_sort(collect_list(struct(ts, event_id, value))), t -> t.value),
          CAST(0.0 AS DOUBLE), (s, x) -> (s + x) / 2)""").as("c"))
      .withColumn("w", pow(lit(0.5), col("n_seg")))
    seg.groupBy(col("user_id"))
      .agg(sum(col("n_seg")).as("n"),
        expr("""aggregate(
          array_sort(collect_list(struct(day, c, w))),
          CAST(0.0 AS DOUBLE), (s, t) -> t.c + t.w * s)""").as("ewma"))
      .select(col("user_id"), col("n"),
        floor(lit(100.0) * col("ewma")).as("ewma_cents"))
      .orderBy(col("user_id"))
  }

  /** Ordered funnel analysis (view → click → purchase within a user-day):
    * each stage's timestamp is the MIN event time STRICTLY AFTER the
    * previous stage's — three chained conditional-min window passes over
    * the same (user, day) partition (one shuffle; the chain cannot
    * collapse into one aggregate because each stage's predicate depends
    * on the previous stage's result). Per-day funnel counts fall out of a
    * conditional distinct count. The sequence-matching shape behind
    * conversion/drop-off reporting; partitions by user-day, so it scales
    * with no cross-key state. */
  def q_funnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("day"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"),
        to_date(col("ts")).as("day"))
      .withColumn("tv",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("tc",
        min(when(col("event_type") === "click" && col("ts") > col("tv"), col("ts"))).over(w))
      .withColumn("tp",
        min(when(col("event_type") === "purchase" && col("ts") > col("tc"), col("ts"))).over(w))
      .groupBy(col("day"))
      .agg(
        countDistinct(when(col("tv").isNotNull, col("user_id"))).as("n_view"),
        countDistinct(when(col("tc").isNotNull, col("user_id"))).as("n_click"),
        countDistinct(when(col("tp").isNotNull, col("user_id"))).as("n_purchase"))
      .orderBy(col("day"))
  }

  /** Next-day cohort retention: distinct (user, day) activity self-joined
    * one day forward — per day, how many active users return tomorrow,
    * as exact counts + a bp ratio. The distinct collapse happens BEFORE
    * the self-join (the join moves |user-days| rows, not |events|), and
    * the join is equi on (user, day+1) — shuffle-partitioned, no range
    * scan. The cohort primitive behind DAU-retention matrices. */
  def q_retention(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val nxt = d.select(col("user_id").as("u2"), col("day").as("d2"))
    d.join(nxt, col("u2") === col("user_id") &&
        col("d2") === date_add(col("day"), 1), "left")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"), count(col("u2")).as("n_retained"))
      .withColumn("retention_bp",
        floor(lit(10000.0) * col("n_retained") / col("n_active")))
      .orderBy(col("day"))
  }

  /** Linear-interpolation RESAMPLE onto each user's hourly grid — the
    * align step that turns irregular samples into a fixed-rate series
    * (the gauge/counter alignment every monitoring pipeline runs before
    * cross-series math; [[q_ts_gapfill]] densifies counts, this
    * interpolates VALUES). One union + one window pass: grid points and
    * events interleave in (t, kind, event_id) order, `last(ignoreNulls)`
    * over the preceding frame carries the previous sample, `first` over
    * the strictly-following frame finds the next; interpolation is
    * straight-line between them (carry-forward past the last sample).
    * All arithmetic is IEEE double in the identical operation order on
    * both engines, quantized to basis points at the edge. Windows
    * partition by user — embarrassingly parallel across series, no
    * cross-partition state, the 100 TB-safe shape. */
  def q_ts_interp(spark: SparkSession, dir: String): DataFrame = {
    // user_id < 100: the dense hourly grid is O(users × hours) output —
    // bound the demo corpus slice so harness dumps stay small; the plan
    // shape (per-user windows) is slice-independent
    val ev = Tables.events(spark, dir).filter(col("user_id") < 100)
      .select(col("user_id"), unix_seconds(col("ts")).as("t"),
        col("value").as("v"), col("event_id").as("eid"), lit(0).as("kind"))
    val grid = Tables.events(spark, dir).filter(col("user_id") < 100)
      .groupBy(col("user_id"))
      .agg(floor(min(unix_seconds(col("ts"))) / 3600).cast("long").as("lo"),
        floor(max(unix_seconds(col("ts"))) / 3600).cast("long").as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("h"))
      .select(col("user_id"), (col("h") * 3600).as("t"),
        lit(null).cast("double").as("v"), lit(-1L).as("eid"), lit(1).as("kind"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"), col("eid"))
    val prevW = w.rowsBetween(Window.unboundedPreceding, 0)
    val nextW = w.rowsBetween(1, Window.unboundedFollowing)
    ev.unionByName(grid)
      .withColumn("va", last(col("v"), ignoreNulls = true).over(prevW))
      .withColumn("ta",
        last(when(col("kind") === 0, col("t")), ignoreNulls = true).over(prevW))
      .withColumn("vb", first(col("v"), ignoreNulls = true).over(nextW))
      .withColumn("tb",
        first(when(col("kind") === 0, col("t")), ignoreNulls = true).over(nextW))
      .filter(col("kind") === 1 && col("va").isNotNull)
      .withColumn("interp", when(col("vb").isNull, col("va"))
        .otherwise(col("va") + (col("vb") - col("va")) *
          ((col("t") - col("ta")).cast("double") /
            (col("tb") - col("ta")).cast("double"))))
      .select(col("user_id"), col("t").as("t_s"),
        floor(lit(10000.0) * col("interp")).as("interp_bp"))
      .orderBy(col("user_id"), col("t_s"))
  }

  /** Skew-safe two-phase aggregation via [[graft.operators.Salting]] —
    * the hot-key remedy as an end-to-end oracle-checked query: salting is
    * pure execution strategy, so the oracle is the PLAIN GROUP BY (the
    * salted plan must be semantically invisible). Decimal sums make the
    * two-phase re-aggregation order-independent and engine-exact (double
    * addition is not associative; a salted double sum could differ in the
    * last bits from any single-pass sum). events.value is exactly
    * 2-decimal in this data, so the DECIMAL(18,2) cast is lossless. */
  def q_agg_salted(spark: SparkSession, dir: String): DataFrame = {
    graft.operators.Salting
      .saltedAgg(Tables.events(spark, dir), col("event_type"), col("event_id"),
        salts = 8, sumExpr = col("value").cast("decimal(18,2)"))
      .select(col("k"), col("n"), col("s").cast("double").as("s"))
      .orderBy(col("k"))
  }

  /** Sketch-based quantiles — the 100 TB sibling of [[q_agg_quantile]]:
    * approx_percentile's KLL/GK-style summary is mergeable, so each
    * partition builds a bounded-size sketch and the shuffle moves sketches,
    * not rows — no per-group sort anywhere. Declared WITHOUT oracle (the
    * sketch's picked values are engine-specific); correctness is pinned by
    * the exact twin: ApproxQuantileBoundSpec asserts every approximate
    * quantile's RANK lands within the accuracy guarantee of the exact
    * rank-window answer. */
  def q_agg_quantile_approx(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("median"),
        percentile_approx(col("value"), lit(0.9), lit(10000)).as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** MERGEABLE distinct sketches (Datasketches HLL) — the capability
    * [[q_agg_approx]]'s approx_count_distinct lacks: per-DAY sketches of
    * user_id are built once (the incremental precompute a 100 TB pipeline
    * materializes alongside each day's ingest) and UNION-MERGED per type
    * for the full-range estimate — re-aggregation over any date range
    * without re-reading raw data. Union is lossless: the merged estimate
    * EQUALS the single-pass estimate, which is exactly what
    * OperatorEdgeSpec pins (plus a 3σ bound against the exact count).
    * No oracle (sketch internals engine-specific; q_agg_approx
    * precedent). */
  def q_agg_hll_merge(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"), count(lit(1)).as("n"))
    daily.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"),
        sum(col("n")).as("n_events"), count(lit(1)).as("n_days"))
      .orderBy(col("event_type"))
  }

  /** HLL++ approximate distinct — declared WITHOUT oracle (sketch values
    * are engine-specific; SURVEY §2.4). Driver records a rows-only check. */
  def q_agg_approx(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  // ---- §2.6 sort / limit / top-k / set ops ------------------------------

  /** Multi-key sort + LIMIT → TakeOrderedAndProjectExec (no global sort). */
  def q_sort_multi(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderstatus").asc, col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  /** Per-group top-k via ranking window (the distributed top-k pattern). */
  def q_topk_group(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(spark, dir)
    val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc, col("p_partkey"))
    p.select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("p_brand"), col("rn"))
  }

  /** Top-3 per brand as a BOUNDED-STATE AGGREGATE
    * ([[graft.functions.TopKPairs]]) — the same report as
    * [[q_topk_group]]'s window-rank form, but the per-group state never
    * exceeds k pairs and COMBINES MAP-SIDE: each partition ships one
    * ≤3-entry buffer per brand instead of sorting the group's full row
    * set and discarding it. At 100 TB the shuffle carries O(brands·k)
    * fixed-size buffers, not the data — the window form cannot do
    * better than a full per-group sort. Prices compare in exact integer
    * cents so the Aggregator's comparator and the oracle's ORDER BY
    * share one total order. */
  def q_topk_agg(spark: SparkSession, dir: String): DataFrame = {
    val topk = graft.functions.TopKPairs.udafFor(3)
    Tables.part(spark, dir)
      .select(col("p_brand"),
        floor(lit(100.0) * col("p_retailprice")).cast("long").as("price_c"),
        col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(topk(col("price_c"), col("p_partkey")).as("top"))
      .select(col("p_brand"), posexplode(col("top")))
      .select(col("p_brand"), (col("pos") + 1).cast("int").as("rn"),
        col("col._1").as("price_c"), col("col._2").as("p_partkey"))
      .orderBy(col("p_brand"), col("rn"))
  }

  /** UNION DISTINCT of customer vs supplier nation keys. */
  def q_set_union(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    c.union(s).distinct().orderBy(col("nationkey"))
  }

  /** INTERSECT: customer keys that appear as event users (non-empty:
    * user_id ⊂ custkey, FIXTURES.md). */
  def q_set_intersect(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").as("id"))
    val u = Tables.events(spark, dir).select(col("user_id").as("id"))
    c.intersect(u).orderBy(col("id"))
  }

  /** EXCEPT: customer keys with no events. (Nations-with-customers EXCEPT
    * nations-with-suppliers is EMPTY in this data — verified — so the id
    * domains are used instead, per SURVEY §2.10(7).) */
  def q_set_except(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").as("id"))
    val u = Tables.events(spark, dir).select(col("user_id").as("id"))
    c.except(u).orderBy(col("id"))
  }

  /** UNION ALL (bag semantics) + re-aggregate — the merge-two-metric-
    * streams shape without the dedup of q_set_union. */
  def q_set_unionall(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    c.unionAll(s).groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("nationkey"))
  }

  /** Ordered string aggregation (report formatting): deterministic via
    * sort_array before the join — collect_list order is not defined. */
  def q_agg_strjoin(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n"))
      .orderBy(col("r_name"))
  }

  /** Fixed-width histogram over the metric value (floor-bucketed — exact
    * IEEE both engines; a gauge-distribution report). */
  def q_agg_histogram(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(floor(col("value") / 20).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** Skew-safe salted inner join via [[graft.operators.Salting.saltedJoin]]
    * end-to-end: the large (events) side is salted on a per-row column and
    * the small (customer) side replicated across the salt domain, so a hot
    * user's rows spread over 8 reducers instead of one. Like
    * [[q_agg_salted]], salting is pure execution strategy — the oracle is
    * the PLAIN join, which the salted plan must reproduce exactly (decimal
    * sums make re-aggregation order-independent). This is the remedy for
    * skewed joins AQE won't rewrite (broadcast-ineligible build sides,
    * pre-AQE shuffles reused across stages). */
  def q_join_salted(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    graft.operators.Salting
      .saltedJoin(ev, cust, col("user_id"), col("c_custkey"),
        saltFrom = col("event_id"), salts = 8)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("s"))
      .select(col("c_nationkey"), col("n"), col("s").cast("double").as("s"))
      .orderBy(col("c_nationkey"))
  }

  /** Bloom-prefiltered semi join — the explicit form of Spark's own
    * runtime-filter optimization, built from Spark's two halves:
    * `bloom_filter_agg` (registered by Spark) builds a bloom over the
    * small side's keys in an uncorrelated scalar subquery, and
    * `might_contain` ([[graft.functions.MightContain]] registers the
    * probe Spark keeps internal) drops non-matching big-side rows
    * MAP-SIDE, before any shuffle. The exact IN-subquery confirm keeps
    * the result identical to the plain semi join (bloom false positives
    * are re-checked), so the oracle is the unfiltered formulation. At
    * 100 TB this is the difference between shuffling the full fact table
    * and shuffling the ~matching fraction; the bloom itself is a few KB
    * broadcast to every task. */
  def q_join_bloom(spark: SparkSession, dir: String): DataFrame = {
    Tables.views(spark, dir)
    spark.sql(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s
        |FROM events
        |WHERE might_contain(
        |    (SELECT bloom_filter_agg(xxhash64(c_custkey),
        |                             CAST(512 AS BIGINT), CAST(8192 AS BIGINT))
        |     FROM customer WHERE c_acctbal > 5000),
        |    xxhash64(user_id))
        |  AND user_id IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Co-located join over bucketed CATALOG tables — the layout strategy
    * behind repeated 100 TB joins on a stable key: both sides are written
    * `bucketBy(8, custkey)` through the warehouse once
    * ([[Tables.bucketedOrdersCustomer]]), after which every join on that
    * key reads bucket-aligned files and needs no Exchange (the
    * SourceFormatSpec contract test pins the Exchange-free plan with
    * broadcast disabled; at this fixture size the optimizer may still
    * pick broadcast — the ROWS must equal the plain parquet join either
    * way, which is what the oracle checks). Also the engine's
    * saveAsTable/warehouse source in the oracle-checked path. */
  def q_join_bucketed(spark: SparkSession, dir: String): DataFrame = {
    val (ot, ct) = Tables.bucketedOrdersCustomer(spark, dir)
    spark.table(ot).join(spark.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("s"))
      .select(col("c_nationkey"), col("n"), col("s").cast("double").as("s"))
      .orderBy(col("c_nationkey"))
  }

  /** Statistical mode per group via Spark 4's native `mode(expr, true)`
    * aggregate (deterministic tie-break: lowest value) — a
    * TypedImperativeAggregate building a per-group frequency map, the
    * built-in answer to "most common value" that would otherwise cost a
    * count-then-rank window over the whole group. Map-side partial maps
    * merge across partitions, so the shuffle moves |distinct values per
    * group| entries, not rows. */
  def q_agg_mode(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(expr("mode(event_type, true)").as("mode_type"),
        count(lit(1)).as("n"))
      .orderBy(col("user_id"))
  }

  /** Z-order (Morton) clustering key — the multi-dimensional data-layout
    * primitive: interleaving the bits of two dimensions gives a 1-D sort
    * key under which ranges of EITHER dimension map to few contiguous key
    * ranges, so a sort-by-z write clusters files for 2-D predicate pruning
    * (the layout strategy behind Delta/Iceberg Z-ORDER compaction). Pure
    * bit arithmetic per row (16 codegen'd shift/mask terms per dimension,
    * no shuffle until the tile rollup); the per-tile min/max spans this
    * emits are exactly the file-skipping statistics a 100 TB writer would
    * store. Tile = z >> 8, a 16×16 box in (user, value) space. */
  def q_zorder(spark: SparkSession, dir: String): DataFrame = {
    val z = mortonInterleave(col("x"), col("y"))
    // & 65535: the interleave covers 16 bits per dimension BY CONTRACT —
    // masking makes the domain explicit and total (out-of-range or
    // negative inputs wrap instead of silently aliasing distant points
    // with intact-looking tile stats; a wider key interleaves 32 bits
    // into two z-levels, same construction)
    Tables.events(spark, dir)
      .select(col("user_id").bitwiseAND(lit(65535L)).as("x"),
        floor(col("value")).cast("long").bitwiseAND(lit(65535L)).as("y"))
      .withColumn("tile", shiftright(z, 8))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy(col("tile"))
  }

  // ----------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_project" -> q_scan_project _,
    "q_part_prune" -> q_part_prune _,
    "q_filter_pred" -> q_filter_pred _,
    "q_project_case" -> q_project_case _,
    "q_join_inner" -> q_join_inner _,
    "q_join_broadcast" -> q_join_broadcast _,
    "q_join_left" -> q_join_left _,
    "q_join_full" -> q_join_full _,
    "q_join_semi" -> q_join_semi _,
    "q_join_anti" -> q_join_anti _,
    "q_join_range" -> q_join_range _,
    "q_join_asof" -> q_join_asof _,
    "q_join_cross" -> q_join_cross _,
    "q_merge_upsert" -> q_merge_upsert _,
    "q_agg_hash" -> q_agg_hash _,
    "q_agg_distinct" -> q_agg_distinct _,
    "q_agg_stats" -> q_agg_stats _,
    "q_agg_rollup" -> q_agg_rollup _,
    "q_agg_cube" -> q_agg_cube _,
    "q_agg_gsets" -> q_agg_gsets _,
    "q_agg_quantile" -> q_agg_quantile _,
    "q_agg_salted" -> q_agg_salted _,
    "q_unpivot" -> q_unpivot _,
    "q_ts_gapfill" -> q_ts_gapfill _,
    "q_join_lateral" -> q_join_lateral _,
    "q_agg_quantile_approx" -> q_agg_quantile_approx _,
    "q_agg_approx" -> q_agg_approx _,
    "q_agg_hll_merge" -> q_agg_hll_merge _,
    "q_sort_multi" -> q_sort_multi _,
    "q_topk_group" -> q_topk_group _,
    "q_topk_agg" -> q_topk_agg _,
    "q_set_union" -> q_set_union _,
    "q_set_intersect" -> q_set_intersect _,
    "q_set_except" -> q_set_except _,
    "q_set_unionall" -> q_set_unionall _,
    "q_agg_strjoin" -> q_agg_strjoin _,
    "q_agg_histogram" -> q_agg_histogram _,
    "q_join_salted" -> q_join_salted _,
    "q_join_bucketed" -> q_join_bucketed _,
    "q_ts_interp" -> q_ts_interp _,
    "q_funnel" -> q_funnel _,
    "q_retention" -> q_retention _,
    "q_agg_corr" -> q_agg_corr _,
    "q_win_ewma" -> q_win_ewma _,
    "q_agg_incremental" -> q_agg_incremental _,
    "q_profile_skew" -> q_profile_skew _,
    "q_profile_stats" -> q_profile_stats _,
    "q_join_bloom" -> q_join_bloom _,
    "q_agg_mode" -> q_agg_mode _,
    "q_zorder" -> q_zorder _,
  )

  /** DuckDB-dialect oracles. NULLS FIRST is spelled out wherever a sort key
    * can be NULL (Spark defaults ASC NULLS FIRST, DuckDB NULLS LAST);
    * integer aggregates are cast ::BIGINT (DuckDB SUM(BIGINT)→HUGEINT) and
    * function results ::INT where DuckDB widens to BIGINT. */
  val oracle: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc_price
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |LIMIT 500""".stripMargin,
    "q_part_prune" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-14'
        |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q_filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount IN (0.02, 0.04, 0.06, 0.08) AND l_quantity < 24 AND l_returnflag LIKE 'A%'
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag""".stripMargin,
    "q_project_case" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice < 50000 THEN 'small' WHEN o_totalprice < 150000 THEN 'mid' ELSE 'big' END AS size_bucket,
        |  COALESCE(NULLIF(o_orderstatus, 'P'), 'PEND') AS status_adj,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 - 100 AS DOUBLE) AS price_adj
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_join_inner" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_big_orders
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 200000) o
        |  ON c_custkey = o.o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_join_full" ->
      """WITH c AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_clicks
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |     p AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_purchases
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT COALESCE(c.user_id, p.user_id) AS user_id, COALESCE(c.day, p.day) AS day,
        |  CAST(COALESCE(n_clicks, 0) AS BIGINT) AS n_clicks,
        |  CAST(COALESCE(n_purchases, 0) AS BIGINT) AS n_purchases
        |FROM c FULL JOIN p ON c.user_id = p.user_id AND c.day = p.day
        |ORDER BY user_id, day""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey AND e.event_type = 'purchase')
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_range" ->
      """SELECT a.event_id AS a_id, b.event_id AS b_id,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
        |ORDER BY a_id, b_id""".stripMargin,
    "q_join_asof" ->
      """SELECT event_id, user_id, prev_event_id, prev_value FROM (
        |  SELECT event_id, user_id, event_type,
        |    lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id,
        |    lag("value") OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |  FROM events)
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "q_join_cross" ->
      """SELECT r_name, n_name, r_name || '-' || n_name AS combo
        |FROM region CROSS JOIN nation ORDER BY r_name, n_name""".stripMargin,
    "q_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |changes AS (
        |  SELECT CASE WHEN k % 500 = 0 THEN 'D' WHEN k % 300 = 0 THEN 'I' ELSE 'U' END AS op,
        |    CASE WHEN k % 300 = 0 AND k % 500 <> 0 THEN k + 10000000 ELSE k END AS ck,
        |    CAST(CAST(price AS DECIMAL(18,2)) * 2 AS DOUBLE) AS new_price
        |  FROM base WHERE k % 100 = 0)
        |SELECT COALESCE(k, ck) AS "key",
        |  CASE WHEN op IN ('U', 'I') THEN new_price ELSE CAST(price AS DOUBLE) END AS price,
        |  COALESCE(op, 'keep') AS op
        |FROM base FULL JOIN changes ON k = ck
        |WHERE op IS NULL OR op <> 'D'
        |ORDER BY "key"""".stripMargin,
    "q_agg_hash" ->
      """WITH l AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS qty,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS disc_price,
        |    CAST(l_tax AS DECIMAL(18,2)) AS tax
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'),
        |l2 AS (
        |  SELECT l_returnflag, l_linestatus, qty, price, disc_price,
        |    CAST(disc_price * (CAST(1 AS DECIMAL(18,2)) + tax) AS DECIMAL(18,6)) AS charge
        |  FROM l)
        |SELECT l_returnflag, l_linestatus,
        |  CAST(sum(qty) AS DOUBLE) AS sum_qty,
        |  CAST(sum(price) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(disc_price) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(charge) AS DOUBLE) AS sum_charge,
        |  count(*) AS n_rows,
        |  CAST(floor(10000.0 * CAST(sum(qty) AS DOUBLE) / count(*)) AS BIGINT) AS avg_qty_bp,
        |  CAST(floor(10000.0 * CAST(sum(price) AS DOUBLE) / count(*)) AS BIGINT) AS avg_price_bp
        |FROM l2 GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
        |  count(DISTINCT CAST(ts AS DATE)) AS n_days
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_agg_stats" ->
      """SELECT n_name, min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
        |  count(*) AS n_cust, CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_agg_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |  CAST(GROUPING(r_name) AS INT) AS g_r, CAST(GROUPING(n_name) AS INT) AS g_n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      """SELECT event_type, dom, count(*) AS n,
        |  CAST(GROUPING(event_type) AS INT) AS g_t, CAST(GROUPING(dom) AS INT) AS g_d
        |FROM (SELECT event_type, CAST(day(ts) AS INT) AS dom FROM events)
        |GROUP BY CUBE(event_type, dom)
        |ORDER BY g_t, g_d, event_type NULLS FIRST, dom NULLS FIRST""".stripMargin,
    "q_agg_gsets" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(GROUPING(lang) AS INT) AS g_l, CAST(GROUPING(source) AS INT) AS g_s
        |FROM documents
        |GROUP BY GROUPING SETS ((lang), (source), ())
        |ORDER BY g_l, g_s, lang NULLS FIRST, source NULLS FIRST""".stripMargin,
    "q_agg_quantile" ->
      """WITH r AS (
        |  SELECT event_type, "value",
        |    row_number() OVER (PARTITION BY event_type ORDER BY "value", event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM events)
        |SELECT event_type,
        |  max(CASE WHEN rn = CAST(floor((cnt - 1) * 0.5) AS BIGINT) + 1 THEN "value" END) AS median,
        |  max(CASE WHEN rn = CAST(floor((cnt - 1) * 0.9) AS BIGINT) + 1 THEN "value" END) AS p90,
        |  count(*) AS n
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_agg_salted" ->
      """SELECT event_type AS k, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS s
        |FROM events GROUP BY event_type ORDER BY k""".stripMargin,
    "q_join_lateral" ->
      """SELECT r.r_name, t.n_name, t.n_nationkey
        |FROM region r, LATERAL (
        |  SELECT n_name, n_nationkey FROM nation n
        |  WHERE n.n_regionkey = r.r_regionkey
        |  ORDER BY n_name DESC, n_nationkey LIMIT 2) t
        |ORDER BY r.r_name, t.n_name DESC, t.n_nationkey""".stripMargin,
    "q_unpivot" ->
      """WITH m AS (
        |  SELECT 'discount' AS metric, l_discount AS v FROM lineitem
        |  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'quantity', l_quantity FROM lineitem
        |  UNION ALL SELECT 'tax', l_tax FROM lineitem)
        |SELECT metric, count(*) AS n,
        |  CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s
        |FROM m GROUP BY metric ORDER BY metric""".stripMargin,
    "q_ts_gapfill" ->
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events),
        |h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hh FROM b),
        |t AS (SELECT DISTINCT event_type FROM events),
        |c AS (SELECT event_type AS et, date_trunc('hour', ts) AS chh, count(*) AS cnt
        |      FROM events GROUP BY 1, 2)
        |SELECT t.event_type, CAST(epoch(h.hh) AS BIGINT) AS hour_s,
        |  COALESCE(c.cnt, 0) AS n
        |FROM t CROSS JOIN h LEFT JOIN c ON c.et = t.event_type AND c.chh = h.hh
        |ORDER BY event_type, hour_s""".stripMargin,
    // q_agg_approx, q_agg_hll_merge and q_agg_quantile_approx intentionally
    // have no oracle (engine-specific sketches); each is bound-tested
    // against its exact twin (OperatorEdgeSpec / ApproxQuantileBoundSpec).
    "q_sort_multi" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q_topk_agg" ->
      """SELECT p_brand, rn, price_c, p_partkey FROM (
        |  SELECT p_brand, p_partkey,
        |    CAST(floor(100.0 * p_retailprice) AS BIGINT) AS price_c,
        |    CAST(row_number() OVER (PARTITION BY p_brand
        |      ORDER BY CAST(floor(100.0 * p_retailprice) AS BIGINT) DESC, p_partkey)
        |      AS INT) AS rn
        |  FROM part)
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,
    "q_topk_group" ->
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS INT) AS rn
        |  FROM part)
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,
    "q_set_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin,
    "q_set_intersect" ->
      """SELECT c_custkey AS id FROM customer
        |INTERSECT SELECT user_id FROM events ORDER BY id""".stripMargin,
    "q_set_except" ->
      """SELECT c_custkey AS id FROM customer
        |EXCEPT SELECT user_id FROM events ORDER BY id""".stripMargin,
    "q_set_unionall" ->
      """SELECT nationkey, count(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "q_agg_strjoin" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations, count(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q_agg_histogram" ->
      """SELECT CAST(floor("value" / 20) AS BIGINT) AS bucket, count(*) AS n
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_join_salted" ->
      """SELECT c_nationkey, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS s
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_profile_skew" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_keys,
        |             CAST(max(n) AS BIGINT) AS max_n FROM c),
        |r AS (SELECT user_id, n, row_number() OVER (ORDER BY n DESC, user_id) AS rk FROM c)
        |SELECT CAST(rk AS INT) AS rk, user_id, n,
        |  CAST(floor(10000.0 * n / total) AS BIGINT) AS share_bp,
        |  CAST(floor(10000.0 * max_n * n_keys / total) AS BIGINT) AS skew_bp
        |FROM r, t WHERE rk <= 5 ORDER BY rk""".stripMargin,
    "q_profile_stats" ->
      """SELECT 'user_id' AS col_name, count(*) AS n,
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct FROM events
        |UNION ALL
        |SELECT 'event_type', count(*),
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT event_type) AS BIGINT) FROM events
        |UNION ALL
        |SELECT 'value', count(*),
        |  CAST(sum(CASE WHEN "value" IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT "value") AS BIGINT) FROM events
        |UNION ALL
        |SELECT 'props', count(*),
        |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT props) AS BIGINT) FROM events
        |ORDER BY col_name""".stripMargin,
    "q_agg_incremental" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS s
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_agg_corr" ->
      """WITH q AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
        |             CAST(floor("value" * 100) AS BIGINT) AS y FROM events),
        |a AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |        sum(x * y) AS sxy, sum(x * x) AS sx2, sum(y * y) AS sy2
        |      FROM q GROUP BY event_type),
        |d AS (SELECT *,
        |        CAST(CAST(n AS HUGEINT) * sx2 - sx * sx AS DOUBLE) AS da,
        |        CAST(CAST(n AS HUGEINT) * sy2 - sy * sy AS DOUBLE) AS db
        |      FROM a)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN da > 0 AND db > 0 THEN
        |    CAST(floor(10000.0 * (
        |      CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(da) * sqrt(db)))) AS BIGINT)
        |  END AS corr_bp
        |FROM d ORDER BY event_type""".stripMargin,
    "q_win_ewma" ->
      """WITH seg AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n_seg,
        |    list_reduce(
        |      list_prepend(CAST(0.0 AS DOUBLE), list("value" ORDER BY ts, event_id)),
        |      (s, x) -> (s + x) / 2) AS c,
        |    pow(0.5, count(*)) AS w
        |  FROM events GROUP BY user_id, CAST(ts AS DATE))
        |SELECT user_id, CAST(sum(n_seg) AS BIGINT) AS n,
        |  CAST(floor(100.0 * list_reduce(
        |    list_prepend(struct_pack(c := CAST(0.0 AS DOUBLE), w := CAST(1.0 AS DOUBLE)),
        |                 list(struct_pack(c := c, w := w) ORDER BY day)),
        |    (s, t) -> struct_pack(c := t.c + t.w * s.c, w := t.w)).c) AS BIGINT) AS ewma_cents
        |FROM seg GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, ts, CAST(ts AS DATE) AS day FROM events),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |         OVER (PARTITION BY user_id, day) AS tv FROM e),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > tv THEN ts END)
        |         OVER (PARTITION BY user_id, day) AS tc FROM s1),
        |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > tc THEN ts END)
        |         OVER (PARTITION BY user_id, day) AS tp FROM s2)
        |SELECT day,
        |  CAST(count(DISTINCT CASE WHEN tv IS NOT NULL THEN user_id END) AS BIGINT) AS n_view,
        |  CAST(count(DISTINCT CASE WHEN tc IS NOT NULL THEN user_id END) AS BIGINT) AS n_click,
        |  CAST(count(DISTINCT CASE WHEN tp IS NOT NULL THEN user_id END) AS BIGINT) AS n_purchase
        |FROM s3 GROUP BY day ORDER BY day""".stripMargin,
    "q_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT a.day, count(*) AS n_active, count(b.user_id) AS n_retained,
        |  CAST(floor(10000.0 * count(b.user_id) / count(*)) AS BIGINT) AS retention_bp
        |FROM d a LEFT JOIN d b ON b.user_id = a.user_id AND b.day = a.day + 1
        |GROUP BY a.day ORDER BY a.day""".stripMargin,
    "q_ts_interp" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS t, "value" AS v,
        |             event_id AS eid, 0 AS kind FROM events WHERE user_id < 100),
        |b AS (SELECT user_id, CAST(floor(min(t) / 3600) AS BIGINT) AS lo,
        |             CAST(floor(max(t) / 3600) AS BIGINT) AS hi FROM e GROUP BY user_id),
        |g AS (SELECT user_id, unnest(range(lo, hi + 1)) * 3600 AS t,
        |             CAST(NULL AS DOUBLE) AS v, CAST(-1 AS BIGINT) AS eid, 1 AS kind FROM b),
        |u AS (SELECT * FROM e UNION ALL SELECT * FROM g),
        |w AS (SELECT user_id, t, kind,
        |    last_value(v IGNORE NULLS) OVER win_prev AS va,
        |    last_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS) OVER win_prev AS ta,
        |    first_value(v IGNORE NULLS) OVER win_next AS vb,
        |    first_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS) OVER win_next AS tb
        |  FROM u
        |  WINDOW win_prev AS (PARTITION BY user_id ORDER BY t, kind, eid
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         win_next AS (PARTITION BY user_id ORDER BY t, kind, eid
        |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, t AS t_s,
        |  CAST(floor(10000.0 * (CASE WHEN vb IS NULL THEN va
        |    ELSE va + (vb - va) * (CAST(t - ta AS DOUBLE) / CAST(tb - ta AS DOUBLE)) END)) AS BIGINT) AS interp_bp
        |FROM w WHERE kind = 1 AND va IS NOT NULL
        |ORDER BY user_id, t_s""".stripMargin,
    "q_join_bucketed" ->
      """SELECT c_nationkey, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_join_bloom" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS s
        |FROM events
        |WHERE user_id IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_agg_mode" ->
      """SELECT user_id, mode_type, n FROM (
        |  SELECT user_id, event_type AS mode_type,
        |    CAST(sum(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type ASC) AS rn
        |  FROM (SELECT user_id, event_type, count(*) AS cnt
        |        FROM events GROUP BY user_id, event_type))
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_zorder" ->
      s"""WITH b AS (SELECT user_id & 65535 AS x, CAST(floor("value") AS BIGINT) & 65535 AS y FROM events),
         |z AS (SELECT x, y, ($zorderTermsSql) AS zv FROM b)
         |SELECT zv >> 8 AS tile, count(*) AS n,
         |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY tile ORDER BY tile""".stripMargin,
  )

  /** The Morton interleave as portable integer arithmetic — generated once
    * and shared in spirit with the Column-API form in [[q_zorder]]: bit k
    * of x lands at 2k, bit k of y at 2k+1 (multiplication by a power of
    * two == shift in both engines' BIGINT semantics). */
  private lazy val zorderTermsSql: String = (0 until 16).map { k =>
    s"(((x >> $k) & 1) * ${1L << (2 * k)}) + (((y >> $k) & 1) * ${1L << (2 * k + 1)})"
  }.mkString(" + ")
}
