package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 sixth-continuation additions (SURVEY §2.24): the network
  * DETECTION tier — concentration indices (Gini, Herfindahl), bot-cadence
  * regularity, CUSUM change-point detection, and longest-outage ranking.
  * Every statistic is computed in exact BIGINT arithmetic end to end
  * (basis-point / e4 flooring, integer cross-multiply flags), the
  * q_trend_ols / q_ab_welch discipline: ship integer partials, divide
  * once at the end, never let a float accumulate in partition order. */
object Analytics8 extends QueryModule {

  /** GINI CONCENTRATION INDEX per segment — "is this event class driven
    * by a few heavy hosts?": per (event_type, user_id) traffic totals in
    * exact cents, ranked ascending within the segment, and the Gini
    * coefficient from the rank-weighted identity
    * G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx) — every term an exact BIGINT,
    * the result floored to basis points by integer division (numerator
    * is ≥ 0 for ascending ranks, so div == floor on both engines).
    * Plan: one two-phase agg to per-user totals (the only pass over the
    * raw stream), one rank window partitioned by the 5 segments over the
    * ~|users|·|segments| totals, one 5-row final agg. At 100 TB the
    * window input is |hosts|, not |events| — the scan stays a single
    * map-combinable pass; cent totals would widen to DECIMAL(38,0)
    * partials at petabyte row counts (q_agg_corr precedent). */
  def q_conc_gini(spark: SparkSession, dir: String): DataFrame = {
    val tot = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("c")).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("x"), col("user_id"))
    tot.withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("s1"),
        sum(col("i") * col("x")).as("sr"))
      .withColumn("gini_bp",
        expr("(10000 * (2 * sr - (n_users + 1) * s1)) div (n_users * s1)"))
      .select(col("event_type"), col("n_users"), col("gini_bp"))
      .orderBy(col("event_type"))
  }

  /** HERFINDAHL (HHI) DISPERSION per host — the port-scan screen: a
    * host whose traffic is spread thin across event classes (low HHI,
    * high distinct count) behaves like a scanner, one concentrated on a
    * single class like a normal client. HHI = Σ(n_i/N)² floored to
    * basis points as (10⁴·Σn_i²) div N² — exact BIGINT throughout; the
    * scan flag is the integer cross-multiply 4·Σn_i² < N² (HHI < 0.25,
    * never a float threshold). Two stacked two-phase aggs: (host,class)
    * counts then per-host moments — both map-combinable, no window, no
    * skew (the inner key fans OUT of the host key). 20 most dispersed
    * hosts first via TakeOrderedAndProject. */
  def q_scan_hhi(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("ni"))
      .groupBy(col("user_id"))
      .agg(sum(col("ni")).as("n"), count(lit(1)).as("n_types"),
        sum(col("ni") * col("ni")).as("s2"))
      .withColumn("hhi_bp", expr("(10000 * s2) div (n * n)"))
      .withColumn("scan_like", col("s2") * lit(4L) < col("n") * col("n"))
      .select(col("user_id"), col("n"), col("n_types"), col("hhi_bp"), col("scan_like"))
      .orderBy(col("hhi_bp"), col("user_id"))
      .limit(20)
  }

  /** BOT-CADENCE REGULARITY — machines retry on a timer, humans don't:
    * per host, the squared coefficient of variation of inter-arrival
    * gaps, CV² = (m·Σg² − (Σg)²)/(Σg)², from one lag window (the same
    * single user_id shuffle as q_alert_flap) feeding one exact-BIGINT
    * moment agg. Gaps are quantized to whole seconds so the quadratic
    * sums sit far from BIGINT range (µs gaps would square to 10²²;
    * second gaps cap Σg² near 10¹⁸ even at millions of events per
    * host — the q_trend_ols recentring lesson). CV² floored at e4 by
    * integer division (numerator ≥ 0 by Cauchy–Schwarz, so div ==
    * floor); the bot flag is the exact cross-multiply 4·(m·Σg²−(Σg)²)
    * ≤ (Σg)² (CV ≤ ½). Most-metronomic 20 hosts first. */
  def q_bot_cadence(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("unix_micros(ts) div 1000000").as("t_s"))
      .withColumn("gap", col("t_s") - lag(col("t_s"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("m"), sum(col("gap")).as("sg"),
        sum(col("gap") * col("gap")).as("sg2"))
      .filter(col("sg") > 0)
      .withColumn("cv2_e4", expr("(10000 * (m * sg2 - sg * sg)) div (sg * sg)"))
      .withColumn("is_bot",
        (col("m") * col("sg2") - col("sg") * col("sg")) * lit(4L) <= col("sg") * col("sg"))
      .select(col("user_id"), col("m"), col("cv2_e4"), col("is_bot"))
      .orderBy(col("cv2_e4"), col("user_id"))
      .limit(20)
  }

  /** CUSUM CHANGE-POINT per segment — "when did this metric's level
    * shift?": the classic cumulative-sum statistic max_k |Σ_{i≤k}(x_i −
    * μ)|, kept EXACT by scaling through n: n·Σ_{i≤k}(x_i − μ) =
    * n·Σ_{i≤k}x_i − k·S where S = Σx (both running sums exact BIGINT in
    * cents — μ itself is never materialized, so no float enters before
    * the final rescale). One running-sum window + one rank window over
    * the same (event_type, ts, event_id) order — ONE shuffle, two sorted
    * passes; the argmax row (earliest on ties) reports the change
    * instant and the deviation rescaled to cents by integer division.
    * Segment count is tiny here (5), so each window partition is one
    * segment's full stream — the documented per-segment-window shape; at
    * 100 TB segments are hosts (millions of partitions) and the same
    * plan load-balances. n·x products cap near 10¹² at sf0.1; DECIMAL
    * partials are the petabyte widening (q_conc_gini note). */
  def q_change_cusum(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
    val tot = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
    base.join(broadcast(tot), "event_type")
      .withColumn("k", row_number().over(ord).cast("long"))
      .withColumn("rs", sum(col("c")).over(run))
      .withColumn("dev", abs(col("n") * col("rs") - col("k") * col("s")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("dev").desc, col("ts"), col("event_id"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n"),
        expr("unix_micros(ts) div 1000000").as("change_t_s"),
        expr("dev div n").as("max_dev_cents"))
      .orderBy(col("event_type"))
  }

  /** LONGEST-OUTAGE RANKING — the incident report beside q_sla_uptime's
    * availability ratio: per host, the single longest silent stretch
    * between consecutive reports, with the instant it began. One lag
    * window (same user_id shuffle + sort as q_bot_cadence — a real
    * deployment computes cadence and outage in the same pass), then the
    * per-host argmax by a rank window over (gap desc, start asc); the
    * 20 worst outages corpus-wide via TakeOrderedAndProject. Edge
    * silences (before a host's first report / after its last) are
    * relative to the host's own observation span by design — corpus-edge
    * accounting is q_sla_uptime's denominator job. Whole-second
    * quantization keeps every value BIGINT-exact. */
  def q_outage_maxgap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("unix_micros(ts) div 1000000").as("t_s"))
      .withColumn("prev", lag(col("t_s"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("gap_s", col("t_s") - col("prev"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("gap_s").desc, col("prev"), col("event_id"))))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("gap_s"), col("prev").as("start_t_s"))
      .orderBy(col("gap_s").desc, col("user_id"))
      .limit(20)
  }

  /** PEAK-RATE / BURSTINESS SCREEN — the rate-limit view of the stream:
    * per host, the busiest trailing 60-second window (a RANGE frame over
    * whole-second timestamps — frame membership is decided by VALUE
    * distance, so ties need no row-order tie-break and the count is
    * deterministic under any partitioning) and the burst ratio
    * peak-minute rate ÷ lifetime average rate, exact:
    * burst_bp = (10⁴·peak·span_s) div (60·n). One user_id shuffle
    * carries the range window AND the per-host aggregate (the plan-
    * contract shape shared with q_bot_cadence); burstiest 20 via TOAP.
    * A DDoS pulse shows as peak ≫ average (huge burst_bp), a metronomic
    * bot as burst_bp ≈ 10⁴. */
  def q_rate_peak(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_s")).rangeBetween(-59, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("t_s"))
      .withColumn("win_n", count(lit(1)).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), max(col("win_n")).as("peak_1m"),
        min(col("t_s")).as("lo"), max(col("t_s")).as("hi"))
      .withColumn("span_s", col("hi") - col("lo") + lit(1L))
      .withColumn("burst_bp", expr("(10000 * peak_1m * span_s) div (60 * n)"))
      .select(col("user_id"), col("n"), col("peak_1m"), col("span_s"), col("burst_bp"))
      .orderBy(col("burst_bp").desc, col("user_id"))
      .limit(20)
  }

  /** SEMANTIC TRAIN/EVAL CONTAMINATION — the embedding-space face of
    * [[LlmExt.q_text_contam]]'s n-gram screen: for every held-out eval
    * vector (vec_id ≡ 0 mod 20 — the deterministic 5% split), the most
    * similar TRAINING vector and whether it crosses the contamination
    * bar (a paraphrased benchmark answer hiding in the training corpus
    * that n-gram overlap cannot see). Composes the IVF discipline of
    * [[LlmExt.q_ann_ivf]]: the tiny eval side broadcasts, candidates are
    * bounded to the eval vector's own coarse cell by an equi join on the
    * cell label (never the all-pairs nested loop), similarity is the
    * codegen'd native float_dot floored to basis points, and the
    * per-eval argmax is a rank window partitioned by eval_id. The flag
    * is an integer compare at 3000 bp — no float threshold. At 100 TB:
    * eval sets are benchmark-sized (broadcast), the train side streams
    * one cell-bucketed pass. */
  def q_contam_semantic(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val eval = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("eval_id"), col("label").as("la"), col("embedding").as("va"))
    val train = e.filter(col("vec_id") % 20 =!= 0)
      .select(col("vec_id").as("train_id"), col("label").as("lb"), col("embedding").as("vb"))
    val w = Window.partitionBy(col("eval_id")).orderBy(col("sim_bp").desc, col("train_id"))
    broadcast(eval).join(train, col("la") === col("lb"))
      .select(col("eval_id"), col("train_id"),
        floor(lit(10000.0) * expr("float_dot(va, vb)")).as("sim_bp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("eval_id"), col("train_id"), col("sim_bp"),
        (col("sim_bp") >= 3000L).as("contaminated"))
      .orderBy(col("eval_id"))
  }

  /** POSITIONAL PHRASE SEARCH — the query side of the inverted index
    * ([[Analytics6.q_index_posting]] builds the storage side): find every
    * document containing the exact phrase "order fast" by JOINING the two
    * terms' positional postings on (doc, adjacent position) — the
    * search-engine evaluation path, whose cost is the two posting lists,
    * never the corpus. Postings here are derived on the fly (posexplode
    * over the token stream) so the whole path stays oracle-checkable; at
    * 100 TB the same join runs over the PERSISTED posting table and each
    * term's list arrives pre-filtered from storage. The DuckDB oracle
    * takes the opposite route — a direct scan counting adjacent word
    * pairs per document — so the gate is a genuine index-vs-scan
    * differential: both must find exactly the same hit counts. */
  def q_index_phrase(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val p1 = toks.filter(col("w") === "order").select(col("doc_id"), col("pos"))
    val p2 = toks.filter(col("w") === "fast")
      .select(col("doc_id").as("d2"), (col("pos") - 1).as("pos2"))
    p1.join(p2, col("doc_id") === col("d2") && col("pos") === col("pos2"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** LONGEST-PREFIX-MATCH ENRICHMENT — the GeoIP/ASN-lookup join every
    * flow pipeline runs: each flow's source IP (derived deterministically
    * from the corpus, q_ip_rollup's device) resolves against an
    * overlapping routing table at /8, /16 and /24, most specific wins.
    * The LPM is THREE LEFT BROADCAST JOINS by specificity + one coalesce
    * — no explode, no per-row candidate set, no argmax window: prefix
    * tables are small at any corpus size (the global BGP table is ~10⁶
    * rows — broadcast territory), flows stream through three
    * codegen'd hash probes in one narrow pass and aggregate per route.
    * Integer prefix arithmetic ((ip div 2^(32−len))·2^(32−len)), exact
    * flow counts, decimal value sums. */
  def q_ip_lpm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val r8 = Seq((10L * 16777216L, "as-backbone")).toDF("p8", "route8")
    val r16 = Seq((10L * 16777216L + 2L * 65536L, "dc-east"),
      (10L * 16777216L + 4L * 65536L, "dc-west")).toDF("p16", "route16")
    val r24 = Seq((10L * 16777216L + 4L * 65536L + 9L * 256L, "honeypot"))
      .toDF("p24", "route24")
    val flows = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("ip_int",
        lit(10L * 16777216L) + pmod(col("user_id"), lit(10)) * 65536L +
          pmod(col("event_id"), lit(13)) * 256L + pmod(col("event_id") * 7, lit(256)))
    flows
      .withColumn("c24", expr("(ip_int div 256) * 256"))
      .withColumn("c16", expr("(ip_int div 65536) * 65536"))
      .withColumn("c8", expr("(ip_int div 16777216) * 16777216"))
      .join(broadcast(r24), col("c24") === col("p24"), "left")
      .join(broadcast(r16), col("c16") === col("p16"), "left")
      .join(broadcast(r8), col("c8") === col("p8"), "left")
      .withColumn("route",
        coalesce(col("route24"), col("route16"), col("route8"), lit("unrouted")))
      .withColumn("mask_len",
        when(col("route24").isNotNull, 24).when(col("route16").isNotNull, 16)
          .when(col("route8").isNotNull, 8).otherwise(0).cast("int"))
      .groupBy(col("route"), col("mask_len"))
      .agg(count(lit(1)).as("n_flows"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"))
      .orderBy(col("route"))
  }

  /** DAY-OVER-DAY CHURN — the fleet-turnover report beside
    * q_retention's cohort view: for every day after the first, how many
    * hosts are NEW (active today, silent yesterday), RETAINED (both) and
    * CHURNED (yesterday only). One distinct (host, day) reduction of the
    * stream (two-phase, the only full-stream pass), then ONE self
    * equi-join on (host, day+1) — never a per-day loop — and per-day
    * exact counts: retained = |A_d ∩ A_{d−1}|, new = |A_d| − retained,
    * churned = |A_{d−1}| − retained. Days as epoch-day BIGINTs. At
    * 100 TB the join input is |hosts|·|days|, orders below the stream. */
  def q_churn(spark: SparkSession, dir: String): DataFrame = {
    val ad = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day_no"))
      .distinct()
    val act = ad.groupBy(col("day_no")).agg(count(lit(1)).as("n_active"))
    val ret = ad.join(
        ad.select(col("user_id"), (col("day_no") + 1).as("day_no")),
        Seq("user_id", "day_no"))
      .groupBy(col("day_no")).agg(count(lit(1)).as("n_retained"))
    act.join(act.select((col("day_no") + 1).as("day_no"), col("n_active").as("n_prev")),
        Seq("day_no"))
      .join(ret, Seq("day_no"), "left")
      .withColumn("n_retained", coalesce(col("n_retained"), lit(0L)))
      .select(col("day_no"), col("n_active"),
        (col("n_active") - col("n_retained")).as("n_new"),
        col("n_retained"), (col("n_prev") - col("n_retained")).as("n_churned"))
      .orderBy(col("day_no"))
  }

  /** EVENT-TYPE TRANSITION MATRIX — the order-1 Markov view of host
    * behavior (what follows what), beside q_seq_pattern's fixed-motif
    * search and q_funnel's ordered stages: per (prev event class → event
    * class) pair, the transition count over every host's time-ordered
    * stream and its probability in exact basis points of the SOURCE
    * class's outgoing total (row-stochastic ×10⁴, floored — BIGINT end
    * to end via a windowed sum over the 25-row count frame, never a
    * second data pass). One user_id shuffle for the lag window, one
    * two-phase count agg; at 100 TB the matrix is |classes|², constant.
    * An anomalous host pattern (scanner, stuck retry loop) shows as
    * probability mass off the normal diagonal structure. */
  def q_seq_transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRow = Window.partitionBy(col("prev_type"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("out_n", sum(col("n")).over(wRow))
      .withColumn("p_bp", expr("(10000 * n) div out_n"))
      .select(col("prev_type"), col("event_type"), col("n"), col("p_bp"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** LABEL-PROPAGATION COMMUNITIES — the graph family beside BFS,
    * PageRank, triangles and connected components: three SYNCHRONOUS
    * unrolled LPA rounds over the same cell-bounded similarity graph
    * [[LlmExt.q_dedup_semantic]] clusters (labels start as vec_id; each
    * round every node adopts its neighbors' mode label, ties to the
    * smallest label, isolated nodes keep their own via the left join) —
    * where CC answers "what is reachable", LPA's density-following
    * labels split a connected blob into communities. Fixed round count
    * makes synchronous LPA fully deterministic (no convergence race,
    * identical on both engines). The half-size edge set is persisted
    * once (the PageRank discipline — symmetrization is two map-side
    * scans of the cache); each round is one shuffle on the
    * neighbor-message key + a rank argmax over the per-(node,label)
    * counts, so cost is O(rounds·|E|) with node-bounded state — the
    * same shape at 100 TB. */
  def q_graph_lpa(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < 1000)
    val p = LlmExt.cellCosinePairs(e, minBp = 3000)
      .select(col("da"), col("db")).persist()
    val edges = p.union(p.select(col("db").as("da"), col("da").as("db")))
    var labels = e.select(col("vec_id").as("id"), col("vec_id").as("lbl"))
    for (_ <- 1 to 3) {
      val mode = edges.join(labels, col("da") === col("id"))
        .groupBy(col("db"), col("lbl")).agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("db")).orderBy(col("c").desc, col("lbl"))))
        .filter(col("rk") === 1)
        .select(col("db").as("mid"), col("lbl").as("newl"))
      // lineage cut per round (the CC/SSSP pattern): `labels` feeds both
      // the mode join and the carry join, so without it the unrolled plan
      // doubles per round and round 3 re-derives rounds 1-2 down both
      // branches of every level
      labels = labels.join(mode, col("id") === col("mid"), "left")
        .select(col("id"), coalesce(col("newl"), col("lbl")).as("lbl"))
        .localCheckpoint(eager = false)
    }
    labels.select(col("id").as("vec_id"), col("lbl").as("community"))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_churn" -> q_churn _,
    "q_ip_lpm" -> q_ip_lpm _,
    "q_index_phrase" -> q_index_phrase _,
    "q_seq_transitions" -> q_seq_transitions _,
    "q_graph_lpa" -> q_graph_lpa _,
    "q_rate_peak" -> q_rate_peak _,
    "q_contam_semantic" -> q_contam_semantic _,
    "q_conc_gini" -> q_conc_gini _,
    "q_scan_hhi" -> q_scan_hhi _,
    "q_bot_cadence" -> q_bot_cadence _,
    "q_change_cusum" -> q_change_cusum _,
    "q_outage_maxgap" -> q_outage_maxgap _)

  val oracle: Map[String, String] = Map(
    "q_index_phrase" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |h AS (SELECT doc_id, CAST(len(list_filter(range(1, len(ws)),
        |    i -> ws[i] = 'order' AND ws[i+1] = 'fast')) AS BIGINT) AS n_hits
        |  FROM w)
        |SELECT doc_id, n_hits FROM h WHERE n_hits > 0 ORDER BY doc_id""".stripMargin,
    "q_ip_lpm" ->
      """WITH f AS (SELECT event_id, "value",
        |    10 * 16777216 + (user_id % 10) * 65536
        |      + (event_id % 13) * 256 + ((event_id * 7) % 256) AS ip_int
        |  FROM events),
        |r8 AS (SELECT 10 * 16777216 AS p8, 'as-backbone' AS route8),
        |r16 AS (SELECT * FROM (VALUES
        |    (10 * 16777216 + 2 * 65536, 'dc-east'),
        |    (10 * 16777216 + 4 * 65536, 'dc-west')) AS t(p16, route16)),
        |r24 AS (SELECT 10 * 16777216 + 4 * 65536 + 9 * 256 AS p24,
        |    'honeypot' AS route24),
        |j AS (SELECT f."value",
        |    coalesce(route24, route16, route8, 'unrouted') AS route,
        |    CASE WHEN route24 IS NOT NULL THEN 24
        |         WHEN route16 IS NOT NULL THEN 16
        |         WHEN route8 IS NOT NULL THEN 8 ELSE 0 END AS mask_len
        |  FROM f
        |  LEFT JOIN r24 ON (ip_int // 256) * 256 = p24
        |  LEFT JOIN r16 ON (ip_int // 65536) * 65536 = p16
        |  LEFT JOIN r8 ON (ip_int // 16777216) * 16777216 = p8)
        |SELECT route, CAST(mask_len AS INT) AS mask_len, count(*) AS n_flows,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum
        |FROM j GROUP BY route, mask_len ORDER BY route""".stripMargin,
    "q_churn" ->
      """WITH ad AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day_no FROM events),
        |act AS (SELECT day_no, count(*) AS n_active FROM ad GROUP BY day_no),
        |ret AS (SELECT a.day_no, count(*) AS n_retained
        |  FROM ad a JOIN ad b ON a.user_id = b.user_id AND a.day_no = b.day_no + 1
        |  GROUP BY a.day_no)
        |SELECT act.day_no, act.n_active,
        |  act.n_active - coalesce(ret.n_retained, 0) AS n_new,
        |  coalesce(ret.n_retained, 0) AS n_retained,
        |  prev.n_active - coalesce(ret.n_retained, 0) AS n_churned
        |FROM act
        |JOIN act prev ON act.day_no = prev.day_no + 1
        |LEFT JOIN ret ON act.day_no = ret.day_no
        |ORDER BY act.day_no""".stripMargin,
    "q_seq_transitions" ->
      """WITH s AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |g AS (SELECT prev_type, event_type, count(*) AS n
        |  FROM s WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type)
        |SELECT prev_type, event_type, n,
        |  (10000 * n) // CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_bp
        |FROM g ORDER BY prev_type, event_type""".stripMargin,
    "q_graph_lpa" ->
      """WITH v AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 1000),
        |p AS (
        |  SELECT a.vec_id AS da, b.vec_id AS db
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE floor(10000.0 * list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |        t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))) >= 3000),
        |edges AS (SELECT da AS a, db AS b FROM p UNION ALL SELECT db, da FROM p),
        |l0 AS (SELECT vec_id AS id, vec_id AS lbl FROM v),
        |m1 AS (SELECT e.b AS id, l.lbl, count(*) AS c
        |  FROM edges e JOIN l0 l ON e.a = l.id GROUP BY 1, 2),
        |w1 AS (SELECT id, lbl FROM (SELECT id, lbl,
        |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rk FROM m1)
        |  WHERE rk = 1),
        |l1 AS (SELECT l0.id, coalesce(w1.lbl, l0.lbl) AS lbl
        |  FROM l0 LEFT JOIN w1 ON l0.id = w1.id),
        |m2 AS (SELECT e.b AS id, l.lbl, count(*) AS c
        |  FROM edges e JOIN l1 l ON e.a = l.id GROUP BY 1, 2),
        |w2 AS (SELECT id, lbl FROM (SELECT id, lbl,
        |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rk FROM m2)
        |  WHERE rk = 1),
        |l2 AS (SELECT l1.id, coalesce(w2.lbl, l1.lbl) AS lbl
        |  FROM l1 LEFT JOIN w2 ON l1.id = w2.id),
        |m3 AS (SELECT e.b AS id, l.lbl, count(*) AS c
        |  FROM edges e JOIN l2 l ON e.a = l.id GROUP BY 1, 2),
        |w3 AS (SELECT id, lbl FROM (SELECT id, lbl,
        |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rk FROM m3)
        |  WHERE rk = 1),
        |l3 AS (SELECT l2.id, coalesce(w3.lbl, l2.lbl) AS lbl
        |  FROM l2 LEFT JOIN w3 ON l2.id = w3.id)
        |SELECT id AS vec_id, lbl AS community FROM l3 ORDER BY vec_id""".stripMargin,
    "q_rate_peak" ->
      """WITH s AS (SELECT user_id, epoch_us(ts) // 1000000 AS t_s FROM events),
        |r AS (SELECT user_id, t_s,
        |    count(*) OVER (PARTITION BY user_id ORDER BY t_s
        |      RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS win_n
        |  FROM s),
        |g AS (SELECT user_id, count(*) AS n,
        |    CAST(max(win_n) AS BIGINT) AS peak_1m,
        |    max(t_s) - min(t_s) + 1 AS span_s
        |  FROM r GROUP BY user_id)
        |SELECT user_id, n, peak_1m, span_s,
        |  (10000 * peak_1m * span_s) // (60 * n) AS burst_bp
        |FROM g ORDER BY burst_bp DESC, user_id LIMIT 20""".stripMargin,
    "q_contam_semantic" ->
      """WITH p AS (
        |  SELECT a.vec_id AS eval_id, b.vec_id AS train_id,
        |    CAST(floor(10000.0 * list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |         t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))) AS BIGINT) AS sim_bp
        |  FROM embeddings a JOIN embeddings b
        |    ON a.vec_id % 20 = 0 AND b.vec_id % 20 <> 0 AND a.label = b.label),
        |r AS (SELECT eval_id, train_id, sim_bp,
        |    row_number() OVER (PARTITION BY eval_id
        |      ORDER BY sim_bp DESC, train_id) AS rn
        |  FROM p)
        |SELECT eval_id, train_id, sim_bp, sim_bp >= 3000 AS contaminated
        |FROM r WHERE rn = 1 ORDER BY eval_id""".stripMargin,
    "q_conc_gini" ->
      """WITH tot AS (SELECT event_type, user_id,
        |    CAST(sum(CAST(floor("value" * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY event_type, user_id),
        |r AS (SELECT event_type, x,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY x, user_id) AS BIGINT) AS i
        |  FROM tot),
        |g AS (SELECT event_type, count(*) AS n_users,
        |    CAST(sum(x) AS BIGINT) AS s1, CAST(sum(i * x) AS BIGINT) AS sr
        |  FROM r GROUP BY event_type)
        |SELECT event_type, n_users,
        |  (10000 * (2 * sr - (n_users + 1) * s1)) // (n_users * s1) AS gini_bp
        |FROM g ORDER BY event_type""".stripMargin,
    "q_scan_hhi" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS ni
        |  FROM events GROUP BY user_id, event_type),
        |g AS (SELECT user_id, CAST(sum(ni) AS BIGINT) AS n,
        |    count(*) AS n_types, CAST(sum(ni * ni) AS BIGINT) AS s2
        |  FROM c GROUP BY user_id)
        |SELECT user_id, n, n_types, (10000 * s2) // (n * n) AS hhi_bp,
        |  s2 * 4 < n * n AS scan_like
        |FROM g ORDER BY hhi_bp, user_id LIMIT 20""".stripMargin,
    "q_bot_cadence" ->
      """WITH s AS (SELECT user_id, ts, event_id,
        |    epoch_us(ts) // 1000000 AS t_s FROM events),
        |p AS (SELECT user_id,
        |    t_s - lag(t_s) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS gap
        |  FROM s),
        |g AS (SELECT user_id, count(*) AS m, CAST(sum(gap) AS BIGINT) AS sg,
        |    CAST(sum(gap * gap) AS BIGINT) AS sg2
        |  FROM p WHERE gap IS NOT NULL GROUP BY user_id)
        |SELECT user_id, m,
        |  (10000 * (m * sg2 - sg * sg)) // (sg * sg) AS cv2_e4,
        |  (m * sg2 - sg * sg) * 4 <= sg * sg AS is_bot
        |FROM g WHERE sg > 0 ORDER BY cv2_e4, user_id LIMIT 20""".stripMargin,
    "q_change_cusum" ->
      """WITH b AS (SELECT event_type, ts, event_id,
        |    CAST(floor("value" * 100.0 + 0.5) AS BIGINT) AS c FROM events),
        |tot AS (SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS s
        |  FROM b GROUP BY event_type),
        |r AS (SELECT b.event_type, b.ts, b.event_id, tot.n, tot.s,
        |    CAST(row_number() OVER (PARTITION BY b.event_type
        |      ORDER BY b.ts, b.event_id) AS BIGINT) AS k,
        |    CAST(sum(c) OVER (PARTITION BY b.event_type
        |      ORDER BY b.ts, b.event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rs
        |  FROM b JOIN tot USING (event_type)),
        |d AS (SELECT event_type, ts, event_id, n, abs(n * rs - k * s) AS dev,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(n * rs - k * s) DESC, ts, event_id) AS rk
        |  FROM r)
        |SELECT event_type, n, epoch_us(ts) // 1000000 AS change_t_s,
        |  dev // n AS max_dev_cents
        |FROM d WHERE rk = 1 ORDER BY event_type""".stripMargin,
    "q_outage_maxgap" ->
      """WITH s AS (SELECT user_id, ts, event_id,
        |    epoch_us(ts) // 1000000 AS t_s FROM events),
        |p AS (SELECT user_id, event_id,
        |    lag(t_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |    t_s FROM s),
        |g AS (SELECT user_id, t_s - prev AS gap_s, prev, event_id
        |  FROM p WHERE prev IS NOT NULL),
        |r AS (SELECT user_id, gap_s, prev,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY gap_s DESC, prev, event_id) AS rk
        |  FROM g)
        |SELECT user_id, gap_s, prev AS start_t_s
        |FROM r WHERE rk = 1 ORDER BY gap_s DESC, user_id LIMIT 20""".stripMargin)
}
