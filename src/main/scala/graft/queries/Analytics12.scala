package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 tenth-continuation additions (SURVEY §2.28): the survival-
  * analysis face of the churn family (Kaplan-Meier hazard table with
  * censoring), the map-tile zoom pyramid, item-item collaborative
  * filtering at real item cardinality, and CUPED variance-reduced
  * experiment readout. Disciplines as before: exact BIGINT sufficient
  * statistics, any float derived by ONE mirrored IEEE expression over
  * exact integers, windows only over keys or bounded domains, and
  * every rollup reading the PREVIOUS reduction, never the raw stream
  * twice. */
object Analytics12 extends QueryModule {

  private def cents(c: Column): Column =
    floor(c * 100.0 + 0.5).cast("long")

  /** KAPLAN-MEIER HAZARD TABLE — the survival-analysis face beside
    * q_churn (day-over-day flow) and q_retention (cohort shares): for
    * each lifetime k in days, how many hosts were still AT RISK at k
    * (observed for ≥ k days) and how many ENDED at exactly k, with the
    * discrete hazard h(k) = ends/at-risk in exact bp. Hosts whose last
    * activity falls on the corpus's final day are CENSORED — they count
    * in every at-risk denominator through their observed span but never
    * as an end event (dropping censoring biases hazard upward; carrying
    * it is what makes this Kaplan-Meier rather than a histogram).
    * Mechanically: one (host) span reduction (min/max day — map-
    * combinable), a ≤|days| lifetime histogram, and the at-risk suffix
    * sum as a broadcast triangular self-join over that DOMAIN-bounded
    * frame (j ≥ k on ≤31 rows — never a window, never the host frame).
    * At 100 TB the only data-sized pass is the span reduction. */
  def q_survival_hazard(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day_no"))
      .groupBy(col("user_id"))
      .agg(min(col("day_no")).as("fd"), max(col("day_no")).as("ld"))
    hazardOf(spans)
  }

  /** The censored-hazard mechanism over an explicit (fd, ld) span frame
    * — factored so the spec can drive rich lifetime mixes the uniformly-
    * active corpus never shows (staggered ends, all-censored tails). */
  private[graft] def hazardOf(spans: DataFrame): DataFrame = {
    val maxDay = spans.agg(max(col("ld")).as("dmax"))
    val lt = spans.crossJoin(broadcast(maxDay))
      .select((col("ld") - col("fd")).as("k"), (col("ld") === col("dmax")).as("cens"))
    val hist = lt.groupBy(col("k"))
      .agg(count(lit(1)).as("n_tot"),
        sum(when(col("cens"), 0L).otherwise(1L)).as("n_end"))
      .persist()
    val atRisk = hist.select(col("k").as("k0"))
      .join(broadcast(hist.select(col("k").as("k1"), col("n_tot"))), col("k1") >= col("k0"))
      .groupBy(col("k0")).agg(sum(col("n_tot")).as("n_at_risk"))
    hist.join(broadcast(atRisk), col("k") === col("k0"))
      .withColumn("hazard_bp", expr("(10000 * n_end) div n_at_risk"))
      .select(col("k"), col("n_at_risk"), col("n_end"), col("hazard_bp"))
      .orderBy(col("k"))
  }

  /** MAP-TILE ZOOM PYRAMID — the tile-server aggregation every spatial
    * dashboard runs: point events binned to grid cells at the finest
    * zoom, then each coarser level aggregated FROM THE PREVIOUS LEVEL'S
    * CELLS (a log-depth rollup tree — at 100 TB the raw data is touched
    * once; every zoom after the first reduces a frame already ≤ cells²,
    * which is why tile pyramids backfill in minutes while naive per-zoom
    * scans take hours). Coordinates derive deterministically from the
    * corpus (modular integer arithmetic, the q_ip_lpm recipe) onto a
    * 1024×1024 world; zooms 6/4/2 = cell sides 16/64/256. Counts exact;
    * the value sum rides as DECIMAL cents → double at the edge. */
  def q_tile_pyramid(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.events(spark, dir)
      .select(pmod(col("event_id") * 7919L, lit(1024L)).as("x"),
        pmod(col("event_id") * 104729L, lit(1024L)).as("y"),
        cents(col("value")).as("c"))
    val z6 = pts
      .select(expr("x div 16").as("tx"), expr("y div 16").as("ty"), col("c"))
      .groupBy(col("tx"), col("ty"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
      .persist()
    val z4 = z6
      .select(expr("tx div 4").as("tx"), expr("ty div 4").as("ty"), col("n"), col("sc"))
      .groupBy(col("tx"), col("ty"))
      .agg(sum(col("n")).as("n"), sum(col("sc")).as("sc"))
      .persist()
    val z2 = z4
      .select(expr("tx div 4").as("tx"), expr("ty div 4").as("ty"), col("n"), col("sc"))
      .groupBy(col("tx"), col("ty"))
      .agg(sum(col("n")).as("n"), sum(col("sc")).as("sc"))
    z6.withColumn("zoom", lit(6))
      .unionByName(z4.withColumn("zoom", lit(4)))
      .unionByName(z2.withColumn("zoom", lit(2)))
      .select(col("zoom"), col("tx"), col("ty"), col("n"), col("sc"))
      .orderBy(col("zoom"), col("tx"), col("ty"))
  }

  /** ITEM-ITEM COLLABORATIVE FILTERING — "customers who bought this
    * also bought": over order baskets, each part's top-3 co-ordered
    * parts ranked by co-order count then Jaccard overlap in exact bp.
    * q_freq_pairs runs the same mechanics over a 5-value type domain;
    * this is the real-recommender shape at ITEM cardinality, where the
    * co-occurrence matrix is sparse and the ranked shortlist per item is
    * the product surface. Pair generation self-joins the DISTINCT
    * (order, part) frame on the order key — a basket contributes
    * ≤ lines² pairs, never |items|² — marginals join back as a
    * broadcast (item-count-sized), and the per-item top-3 is a window
    * PARTITIONED BY THE ITEM KEY (key-bounded: each partition is one
    * item's co-item list), with the full deterministic tie-break. */
  def q_rec_itemcf(spark: SparkSession, dir: String): DataFrame = {
    // ONE shuffle builds the baskets: collect_set per order dedups
    // (ok, pk) in the same aggregation the old distinct() paid its own
    // shuffle for, and the within-basket pair expansion is MAP-SIDE
    // (explode × filtered explode) instead of the round-9 basket
    // self-join — same ~k²/2 rows per basket (k is order-bounded, ≤7
    // in TPC-H shape, so the expansion can never blow up), but no
    // second exchange of the basket frame and no 3M-row join probe.
    // Checkpointed once: both the pair expansion and the marginals
    // consume it.
    val baskets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("pk"))).as("items"))
      .localCheckpoint(eager = false)
    val marg = baskets.select(explode(col("items")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_p"))
    val pairs = baskets
      .select(explode(col("items")).as("pa"), col("items"))
      .select(col("pa"), explode(expr("filter(items, x -> x > pa)")).as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_ab"))
      // both symmetrization branches consume this frame; without a cut the
      // pair aggregation (the query's data-sized stage) runs once per
      // branch — the projections differ, so ReuseExchange cannot bridge
      .localCheckpoint(eager = false)
    val directed = pairs.select(col("pa").as("item"), col("pb").as("rec"), col("n_ab"))
      .union(pairs.select(col("pb").as("item"), col("pa").as("rec"), col("n_ab")))
      // marginals unhinted: item-count-sized, AQE size-gates the joins
      // (forced broadcasts would OOM at the 100× item domain)
      .join(marg.select(col("pk").as("item"), col("n_p").as("n_i")), Seq("item"))
      .join(marg.select(col("pk").as("rec"), col("n_p").as("n_r")), Seq("rec"))
      .withColumn("jac_bp", expr("(10000 * n_ab) div (n_i + n_r - n_ab)"))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("n_ab").desc, col("jac_bp").desc, col("rec"))
    directed.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("item"), col("rk"), col("rec"), col("n_ab"), col("jac_bp"))
      .orderBy(col("item"), col("rk"))
  }

  /** CUPED VARIANCE REDUCTION (Deng et al. 2013) — the experiment
    * readout q_ab_welch runs, minus the pre-experiment noise: per user,
    * pre-period activity x (first 15 corpus days, cents) and post-period
    * metric y; the adjusted variant mean subtracts θ·(x − x̄) where
    * θ = cov(x,y)/var(x), cutting variance by the x,y correlation
    * without biasing the A/B delta (assignment = user parity, so x is
    * independent of variant). EVERY sufficient statistic (N, Σx, Σy,
    * Σxy, Σx², and the per-variant n, Σx, Σy) is exact BIGINT from two
    * map-combinable aggregations; θ and the adjusted means are derived
    * in ONE mirrored IEEE expression — the per-variant centered pre-sum
    * is kept exact as N·Σxᵥ − nᵥ·Σx before the single divide. At 100 TB
    * the user frame replaces the event frame after one groupBy; the
    * moment rows broadcast. (Past ~10⁹ users the quadratic sums need
    * DECIMAL(38) widening — documented, not needed at gate scale.) */
  def q_ab_cuped(spark: SparkSession, dir: String): DataFrame = {
    val d0 = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day_no"),
        cents(col("value")).as("c"))
    val day0 = d0.agg(min(col("day_no")).as("d0"))
    val users = d0.crossJoin(broadcast(day0))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day_no") - col("d0") < 15, col("c")).otherwise(0L)).as("x"),
        sum(when(col("day_no") - col("d0") >= 15, col("c")).otherwise(0L)).as("y"))
      .withColumn("variant", pmod(col("user_id"), lit(2L)))
    cupedOf(users)
  }

  /** The CUPED adjustment over an explicit (user_id, x, y, variant)
    * frame — factored so the spec can hand-derive θ=1 on a y=x+shift
    * fixture where the adjustment removes a pre-period imbalance
    * exactly. */
  private[graft] def cupedOf(users0: DataFrame): DataFrame = {
    val users = users0.persist()
    val mom = users.agg(count(lit(1)).as("nn"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_v"), sum(col("x")).as("sx_v"), sum(col("y")).as("sy_v"))
      .crossJoin(broadcast(mom))
      .withColumn("tnum", col("nn") * col("sxy") - col("sx") * col("sy"))
      .withColumn("tden", col("nn") * col("sxx") - col("sx") * col("sx"))
      .withColumn("theta_e6",
        expr("floor(1e6 * (CAST(tnum AS DOUBLE) / CAST(tden AS DOUBLE)))").cast("long"))
      .withColumn("raw_mean_e4",
        expr("floor(1e4 * (CAST(sy_v AS DOUBLE) / CAST(n_v AS DOUBLE)))").cast("long"))
      .withColumn("adj_mean_e4",
        expr("floor(1e4 * ((CAST(sy_v AS DOUBLE) - (CAST(tnum AS DOUBLE) / CAST(tden AS DOUBLE)) * (CAST(nn * sx_v - n_v * sx AS DOUBLE) / CAST(nn AS DOUBLE))) / CAST(n_v AS DOUBLE)))").cast("long"))
      .select(col("variant"), col("n_v"), col("sx_v"), col("sy_v"),
        col("theta_e6"), col("raw_mean_e4"), col("adj_mean_e4"))
      .orderBy(col("variant"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_survival_hazard" -> q_survival_hazard _,
    "q_tile_pyramid" -> q_tile_pyramid _,
    "q_rec_itemcf" -> q_rec_itemcf _,
    "q_ab_cuped" -> q_ab_cuped _)

  val oracle: Map[String, String] = Map(
    "q_survival_hazard" ->
      """WITH s AS (SELECT user_id, min(epoch_us(ts) // 86400000000) AS fd,
        |    max(epoch_us(ts) // 86400000000) AS ld
        |  FROM events GROUP BY 1),
        |d AS (SELECT max(ld) AS dmax FROM s),
        |lt AS (SELECT ld - fd AS k, ld = (SELECT dmax FROM d) AS cens FROM s),
        |hist AS (SELECT k, count(*) AS n_tot,
        |    CAST(sum(CASE WHEN cens THEN 0 ELSE 1 END) AS BIGINT) AS n_end
        |  FROM lt GROUP BY 1),
        |ar AS (SELECT h0.k AS k0, CAST(sum(h1.n_tot) AS BIGINT) AS n_at_risk
        |  FROM hist h0 JOIN hist h1 ON h1.k >= h0.k GROUP BY 1)
        |SELECT h.k, a.n_at_risk, h.n_end,
        |  (10000 * h.n_end) // a.n_at_risk AS hazard_bp
        |FROM hist h JOIN ar a ON h.k = a.k0 ORDER BY h.k""".stripMargin,
    "q_tile_pyramid" ->
      """WITH p AS (SELECT (event_id * 7919) % 1024 AS x,
        |    (event_id * 104729) % 1024 AS y,
        |    CAST(floor("value" * 100.0 + 0.5) AS BIGINT) AS c FROM events),
        |z6 AS (SELECT x // 16 AS tx, y // 16 AS ty, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) AS sc FROM p GROUP BY 1, 2),
        |z4 AS (SELECT tx // 4 AS tx, ty // 4 AS ty,
        |    CAST(sum(n) AS BIGINT) AS n, CAST(sum(sc) AS BIGINT) AS sc
        |  FROM z6 GROUP BY 1, 2),
        |z2 AS (SELECT tx // 4 AS tx, ty // 4 AS ty,
        |    CAST(sum(n) AS BIGINT) AS n, CAST(sum(sc) AS BIGINT) AS sc
        |  FROM z4 GROUP BY 1, 2)
        |SELECT 6 AS zoom, tx, ty, n, sc FROM z6
        |UNION ALL SELECT 4, tx, ty, n, sc FROM z4
        |UNION ALL SELECT 2, tx, ty, n, sc FROM z2
        |ORDER BY zoom, tx, ty""".stripMargin,
    "q_rec_itemcf" ->
      """WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |marg AS (SELECT pk, count(*) AS n_p FROM bp GROUP BY 1),
        |pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_ab
        |  FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
        |dir AS (SELECT pa AS item, pb AS rec, n_ab FROM pairs
        |  UNION ALL SELECT pb, pa, n_ab FROM pairs),
        |j AS (SELECT d.item, d.rec, d.n_ab,
        |    (10000 * d.n_ab) // (mi.n_p + mr.n_p - d.n_ab) AS jac_bp
        |  FROM dir d JOIN marg mi ON d.item = mi.pk JOIN marg mr ON d.rec = mr.pk),
        |r AS (SELECT item, rec, n_ab, jac_bp, CAST(row_number() OVER (
        |    PARTITION BY item ORDER BY n_ab DESC, jac_bp DESC, rec) AS INT) AS rk
        |  FROM j)
        |SELECT item, rk, rec, n_ab, jac_bp FROM r WHERE rk <= 3
        |ORDER BY item, rk""".stripMargin,
    "q_ab_cuped" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_no,
        |    CAST(floor("value" * 100.0 + 0.5) AS BIGINT) AS c FROM events),
        |d0 AS (SELECT min(day_no) AS d0 FROM e),
        |u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN day_no - (SELECT d0 FROM d0) < 15 THEN c ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN day_no - (SELECT d0 FROM d0) >= 15 THEN c ELSE 0 END) AS BIGINT) AS y,
        |    user_id % 2 AS variant
        |  FROM e GROUP BY 1),
        |mom AS (SELECT count(*) AS nn, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx FROM u),
        |v AS (SELECT variant, count(*) AS n_v, CAST(sum(x) AS BIGINT) AS sx_v,
        |    CAST(sum(y) AS BIGINT) AS sy_v FROM u GROUP BY 1)
        |SELECT v.variant, v.n_v, v.sx_v, v.sy_v,
        |  CAST(floor(1e6 * (CAST(m.nn * m.sxy - m.sx * m.sy AS DOUBLE)
        |    / CAST(m.nn * m.sxx - m.sx * m.sx AS DOUBLE))) AS BIGINT) AS theta_e6,
        |  CAST(floor(1e4 * (CAST(v.sy_v AS DOUBLE) / CAST(v.n_v AS DOUBLE))) AS BIGINT) AS raw_mean_e4,
        |  CAST(floor(1e4 * ((CAST(v.sy_v AS DOUBLE)
        |    - (CAST(m.nn * m.sxy - m.sx * m.sy AS DOUBLE)
        |       / CAST(m.nn * m.sxx - m.sx * m.sx AS DOUBLE))
        |      * (CAST(m.nn * v.sx_v - v.n_v * m.sx AS DOUBLE) / CAST(m.nn AS DOUBLE)))
        |    / CAST(v.n_v AS DOUBLE))) AS BIGINT) AS adj_mean_e4
        |FROM v, mom m ORDER BY v.variant""".stripMargin)
}
