package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 continuation battery: sequence-pattern matching
  * (MATCH_RECOGNIZE-lite), sliding-window count-distinct, multi-source BFS
  * over the part↔supplier graph, and a two-phase distributed skyline
  * (Pareto frontier).
  *
  * Determinism follows SURVEY.md §2.10 / [[Q]]: exact integer arithmetic
  * everywhere the driver hashes, explicit total ORDER BY, INT/BIGINT
  * output types pinned on both engines.
  */
object Analytics3 extends QueryModule {

  /** Sequence-pattern matching over per-user event streams — the
    * MATCH_RECOGNIZE tier: encode each user's (ts, event_id)-ordered
    * events as a code string (c/e/p/s/v = first letter of the type) and
    * count non-overlapping `c[^ep]*p` matches — a click converting to a
    * purchase with no intervening error or earlier purchase. The regex has
    * a unique match end per start ([^ep]* cannot cross the terminating p),
    * so Java (Spark) and RE2 (DuckDB) leftmost semantics provably agree.
    * One user_id shuffle builds the sequences; per-user strings stay
    * bounded because real pipelines sessionize first (q_sessionize) — the
    * same plan over session_id keys is the unbounded-user remedy. */
  def q_seq_pattern(spark: SparkSession, dir: String): DataFrame =
    seqPattern(Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
        substring(col("event_type"), 1, 1).as("code")))

  /** The sequence build + match count on (user_id, ts_us, event_id, code)
    * rows. Exposed so the spec can pin hand-computed match counts on
    * constructed sequences. */
  def seqPattern(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(concat_ws("", expr(
        "transform(array_sort(collect_list(struct(ts_us, event_id, code))), s -> s.code)"))
        .as("seq"))
      .select(col("user_id"), length(col("seq")).as("seq_len"),
        expr("size(regexp_extract_all(seq, 'c[^ep]*p', 0))").as("n_conv"))
      .orderBy(col("user_id"))

  /** Sliding count-distinct: distinct event types in each row's trailing
    * 10-row window — the "how diverse was recent activity" feature.
    * Spark has no DISTINCT aggregate over a window frame; the supported
    * formulation is size(array_distinct(collect_list over frame)) — a
    * bounded 10-element buffer per row, one user_id shuffle, no
    * re-aggregation. The oracle mirrors the identical list formulation
    * (len(list_distinct(list() OVER w))) rather than a DISTINCT window
    * aggregate, so both engines walk the same frame. */
  def q_win_countd(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-9, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
      .withColumn("n_dist", size(array_distinct(collect_list(col("event_type")).over(w))))
      .select(col("user_id"), col("event_id"), col("n_dist"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Multi-source BFS shortest hops (≤ 3) from the low-key part nodes over
    * the symmetrized part↔supplier co-occurrence graph (q_graph_pagerank's
    * graph): the frontier-expansion primitive under shortest-path /
    * reachability queries. Each round is ONE broadcast frontier⋈edges
    * equi-join (map-side over the cached edge list — frontier and visited
    * sets are NODE-count-bounded, 50× smaller than edges here) plus a
    * broadcast anti-join against the visited set, so a round costs one
    * small distinct shuffle — level-synchronous BFS, O(diameter) rounds.
    * At billion-node scale the same loop swaps the broadcast hints for
    * hash-partitioned joins (the ConnectedComponents shape); the
    * algorithm is unchanged. The oracle walks the same graph via a
    * recursive CTE with UNION dedup and takes min(dist) per node. */
  def q_graph_bfs(spark: SparkSession, dir: String): DataFrame = {
    // No edge distinct: BFS only needs adjacency, and each round's dst
    // distinct collapses duplicate edges anyway — caching the RAW pair
    // list skips the 600k-row dedup shuffle q_graph_pagerank must pay
    // (degree counting there is multiplicity-sensitive; reachability is
    // not). The symmetrized view is two map-side scans of the cache.
    val e0 = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("src"), (col("l_suppkey") + 1000000000L).as("dst"))
      .persist()
    val sources = e0.select(col("src").as("id")).filter(col("id") < 10).distinct()
    bfs(e0, sources, maxHops = 3).orderBy(col("dist"), col("id"))
  }

  /** Level-synchronous BFS: returns (id, dist) for every node within
    * maxHops of a source. Exposed so the spec can pin exact levels on
    * constructed graphs. `edges` is treated as UNDIRECTED and is
    * symmetrized HERE — the last-two-levels visited optimization below is
    * only sound on symmetric edge sets, so the precondition is enforced at
    * the one place that depends on it rather than trusted to every caller
    * (a directed list would re-discover old nodes with inflated dist).
    * The symmetrized view is two map-side scans of the caller's frame —
    * callers that cache pass the raw half-size pair list.
    * Each round's newly-found level is persisted (it
    * is re-read as the next frontier, in later visited checks, and in
    * the final result); levels are node-bounded, so the broadcasts hold.
    * The visited anti-join needs only the LAST TWO levels: a neighbor of
    * a level-(k−1) node has true level in {k−2, k−1, k} — anything
    * older cannot be adjacent to the frontier, or the frontier node
    * would have been found earlier. */
  def bfs(rawEdges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    val edges = rawEdges.union(
      rawEdges.select(col("dst").as("src"), col("src").as("dst")))
    var levels = List(sources.select(col("id")).distinct()
      .withColumn("dist", lit(0L)).persist())
    var frontier = levels.head.select(col("id"))
    for (k <- 1 to maxHops) {
      val visited = levels.take(2).map(_.select(col("id"))).reduce(_ union _)
      val next = broadcast(frontier).join(edges, frontier("id") === edges("src"))
        .select(col("dst").as("id")).distinct()
        .join(broadcast(visited), Seq("id"), "left_anti")
        .withColumn("dist", lit(k.toLong)).persist()
      levels ::= next
      frontier = next.select(col("id"))
    }
    levels.reduce(_ union _)
  }

  /** Group-wise skyline (Pareto frontier): per brand, the distinct
    * (price, size) points not dominated on (min, min) — the
    * multi-criteria optimization operator. Two-phase distributed plan:
    * (1) range-partition on the full sort key and drop points dominated
    * WITHIN each (group, partition) slice via one window pass — local
    * skylines are tiny, and true skyline points always survive a local
    * pass; (2) exact skyline over the merged survivors, windowed by
    * group — never a single-partition window. Dominance under (x, y)
    * ascending order reduces to ONE running min: a distinct point is
    * dominated iff some preceding same-group point has y ≤ its y — no
    * quadratic self-join anywhere, versus the oracle's deliberate
    * NOT EXISTS dominance formulation. */
  def q_skyline(spark: SparkSession, dir: String): DataFrame =
    skyline(Tables.part(spark, dir)
      .select(col("p_brand").as("g"),
        (Q.dec2(col("p_retailprice")) * 100).cast("long").as("x"),
        col("p_size").cast("long").as("y")))
      .select(col("g").as("brand"), col("x").as("price_c"), col("y").as("sz"))
      .orderBy(col("brand"), col("price_c"), col("sz"))

  /** The two-phase group-wise skyline itself over (g, x, y) points,
    * minimizing (x, y) within each g. Exposed so the spec can pin it
    * against a brute-force dominance join. */
  def skyline(points: DataFrame): DataFrame = {
    val pts = points.select(col("g"), col("x"), col("y")).distinct()
    val local = pts.repartitionByRange(8, col("g"), col("x"), col("y"))
      .withColumn("pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("g"), col("pid")).orderBy(col("x"), col("y"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val survivors = local.withColumn("mny", min(col("y")).over(wLocal))
      .filter(col("mny").isNull || col("mny") > col("y"))
      .select(col("g"), col("x"), col("y"))
    val wGroup = Window.partitionBy(col("g")).orderBy(col("x"), col("y"))
      .rowsBetween(Window.unboundedPreceding, -1)
    survivors.withColumn("mny", min(col("y")).over(wGroup))
      .filter(col("mny").isNull || col("mny") > col("y"))
      .select(col("g"), col("x"), col("y"))
  }

  /** OHLC downsampling (the financial-candle / time-series rollup tier
    * next to q_ts_gapfill/q_ts_interp): per (event_type, hour bucket),
    * open = value at the earliest (ts, event_id), close = at the latest,
    * high/low = max/min, plus the count. open/close are ONE map-combinable
    * min/max over struct(ts_us, event_id, value) — (ts_us, event_id) is a
    * unique total order, so the comparison never reaches the value field
    * and the argmin needs no window sort; the whole query is a single
    * two-phase aggregation. Values pass through unchanged (no float
    * arithmetic, NaN-free column), so doubles hash bit-identical. The
    * oracle deliberately uses the window first/last_value formulation. */
  def q_ts_ohlc(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .withColumn("bucket_us", expr("(ts_us div 3600000000) * 3600000000"))
      .groupBy(col("event_type"), col("bucket_us"))
      .agg(
        min(struct(col("ts_us"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("ts_us"), col("event_id"), col("value")))
          .getField("value").as("close"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bucket_us"))

  /** Threshold alerting with hysteresis — the metric-alerting tier of a
    * network monitor: per user, an alert RAISES when value crosses ≥ 90
    * and CLEARS only when it falls ≤ 30 (the dead band suppresses
    * flapping around a single threshold); emitted rows are the state
    * TOGGLES. The state machine is two window passes over ONE user_id
    * shuffle: classify each sample (raise/clear/hold-as-null), then the
    * carry-forward state is last(ignoreNulls) over the preceding frame —
    * no join, no iteration, no driver loop. [[graft.streaming.StreamOps
    * .alertStream]] is the same machine as GroupState streaming; the
    * equivalence spec pins them equal. */
  def q_alert_hysteresis(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val wPrec = w.rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
      .withColumn("raw",
        when(col("value") >= 90.0, 1).when(col("value") <= 30.0, 0))
      .withColumn("state",
        coalesce(last(col("raw"), ignoreNulls = true).over(wPrec), lit(0)))
      .withColumn("prev", coalesce(lag(col("state"), 1).over(w), lit(0)))
      .filter(col("state") =!= col("prev"))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("state"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  /** Counter-reset-aware rate (the SNMP/ifInOctets semantics at the core
    * of a network-metrics collector, and the batch face of
    * [[graft.streaming.StreamOps.counterToRate]]): per user, the
    * per-second rate between consecutive samples — except when the
    * counter DROPS, which means the device restarted and the new reading
    * counts from zero, so the rate basis is the new value itself, flagged
    * as a reset. One lag window over one user_id shuffle; the rate is a
    * single IEEE chain written in identical operation order on both
    * engines, quantized with floor(10000·x), NULL when Δt = 0 (tied
    * timestamps divide by zero identically nowhere). */
  def q_counter_rate(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value").as("v"))
      .withColumn("pv", lag(col("v"), 1).over(w))
      .withColumn("pts", lag(col("ts_us"), 1).over(w))
      .filter(col("pv").isNotNull)
      .withColumn("reset", when(col("v") < col("pv"), 1).otherwise(0))
      .withColumn("rate_bp", when(col("ts_us") > col("pts"),
        floor(lit(10000.0) *
          when(col("v") < col("pv"), col("v")).otherwise(col("v") - col("pv")) /
          ((col("ts_us") - col("pts")) / lit(1000000.0)))))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("reset"), col("rate_bp"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  /** Multi-window SLO burn-rate alert (the SRE error-budget pattern —
    * Beyer et al., "Site Reliability Workbook" ch. 5): an hour fires
    * only when BOTH its own error rate and its day's long-window rate
    * exceed their thresholds — the short window gives fast detection,
    * the long window suppresses blips that won't burn the budget.
    * ONE event scan: the hourly aggregate rolls up again to days
    * (re-aggregation of partial counts, never a second scan), the
    * ~30-row day frame broadcasts back onto its hours, and both rates
    * are floored-bp expressions over exact integer counts. At 100 TB
    * the scan dominates and everything after the hourly aggregate is
    * key-domain-sized. */
  def q_alert_burnrate(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(date_trunc("HOUR", col("ts")).as("hour"),
        (col("event_type") === "error").cast("long").as("is_err"))
      .groupBy(col("hour"))
      .agg(sum(col("is_err")).as("h_err"), count(lit(1)).as("h_n"))
      .withColumn("day", date_trunc("DAY", col("hour")))
    val daily = hourly.groupBy(col("day").as("d"))
      .agg(sum(col("h_err")).as("d_err"), sum(col("h_n")).as("d_n"))
    hourly.join(broadcast(daily), col("day") === col("d"))
      .select(unix_micros(col("hour")).as("hour_us"),
        col("h_err"), col("h_n"),
        floor(lit(10000.0) * col("h_err") / col("h_n")).cast("long")
          .as("short_bp"),
        floor(lit(10000.0) * col("d_err") / col("d_n")).cast("long")
          .as("long_bp"))
      .filter(col("short_bp") >= 2600 && col("long_bp") >= 2000)
      .orderBy(col("hour_us"))
  }

  /** Seasonal-baseline anomaly detection — the diurnal-profile monitor
    * next to [[graft.queries.Analytics.q_anomaly_zscore]]'s global-σ
    * one: each event's value is judged against the MEAN of its own
    * (event_type, hour-of-day) cell, so a value that is normal at peak
    * hour can alert at 3am. The 120-cell profile aggregates in one
    * map-combinable pass over quantized integers (floor(1e4·v); the
    * cell mean floors ONE deterministic IEEE division over two exact
    * integers), broadcasts back onto the stream, and the residual
    * filter keeps the tail. One scan + broadcast join at any scale —
    * the profile is key-domain-sized forever. */
  def q_seasonal_baseline(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        hour(col("ts")).as("hod"),
        floor(lit(10000.0) * col("value")).cast("long").as("v_q"))
    val prof = e.groupBy(col("event_type").as("pt"), col("hod").as("ph"))
      .agg(floor(lit(1.0) * sum(col("v_q")) / count(lit(1))).cast("long")
        .as("mean_q"), count(lit(1)).as("cell_n"))
    e.join(broadcast(prof), col("event_type") === col("pt") &&
        col("hod") === col("ph"))
      .withColumn("resid_q", col("v_q") - col("mean_q"))
      .filter(abs(col("resid_q")) >= 1500000L)
      .select(col("event_id"), col("event_type"), col("hod"),
        col("v_q"), col("mean_q"), col("resid_q"), col("cell_n"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_seasonal_baseline" -> q_seasonal_baseline _,
    "q_alert_burnrate" -> q_alert_burnrate _,
    "q_seq_pattern" -> q_seq_pattern _,
    "q_win_countd" -> q_win_countd _,
    "q_graph_bfs" -> q_graph_bfs _,
    "q_skyline" -> q_skyline _,
    "q_ts_ohlc" -> q_ts_ohlc _,
    "q_alert_hysteresis" -> q_alert_hysteresis _,
    "q_counter_rate" -> q_counter_rate _,
  )

  val oracle: Map[String, String] = Map(
    "q_seasonal_baseline" ->
      """WITH e AS (
        |  SELECT event_id, event_type, CAST(hour(ts) AS INT) AS hod,
        |    CAST(floor(10000.0 * "value") AS BIGINT) AS v_q
        |  FROM events),
        |prof AS (
        |  SELECT event_type AS pt, hod AS ph,
        |    CAST(floor(1.0 * sum(v_q) / count(*)) AS BIGINT) AS mean_q,
        |    count(*) AS cell_n
        |  FROM e GROUP BY 1, 2)
        |SELECT event_id, event_type, hod, v_q, mean_q,
        |  v_q - mean_q AS resid_q, cell_n
        |FROM e JOIN prof ON event_type = pt AND hod = ph
        |WHERE abs(v_q - mean_q) >= 1500000
        |ORDER BY event_id""".stripMargin,
    "q_alert_burnrate" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hour,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS h_err,
        |    count(*) AS h_n
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT date_trunc('day', hour) AS day,
        |    CAST(sum(h_err) AS BIGINT) AS d_err,
        |    CAST(sum(h_n) AS BIGINT) AS d_n
        |  FROM h GROUP BY 1)
        |SELECT epoch_us(hour) AS hour_us, h_err, h_n,
        |  CAST(floor(10000.0 * h_err / h_n) AS BIGINT) AS short_bp,
        |  CAST(floor(10000.0 * d_err / d_n) AS BIGINT) AS long_bp
        |FROM h JOIN d ON date_trunc('day', h.hour) = d.day
        |WHERE floor(10000.0 * h_err / h_n) >= 2600
        |  AND floor(10000.0 * d_err / d_n) >= 2000
        |ORDER BY hour_us""".stripMargin,
    "q_seq_pattern" ->
      """WITH s AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id)
        |SELECT user_id, CAST(len(seq) AS INT) AS seq_len,
        |  CAST(len(regexp_extract_all(seq, 'c[^ep]*p')) AS INT) AS n_conv
        |FROM s ORDER BY user_id""".stripMargin,
    "q_win_countd" ->
      """SELECT user_id, event_id,
        |  CAST(len(list_distinct(list(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))) AS INT) AS n_dist
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_graph_bfs" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000000 AS dst FROM lineitem),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |walk(id, dist) AS (
        |  SELECT DISTINCT src AS id, 0 AS dist FROM e WHERE src < 10
        |  UNION
        |  SELECT e.dst, walk.dist + 1 FROM walk JOIN e ON e.src = walk.id
        |  WHERE walk.dist < 3)
        |SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM walk
        |GROUP BY id ORDER BY dist, id""".stripMargin,
    "q_skyline" ->
      """WITH p AS (
        |  SELECT DISTINCT p_brand AS g,
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(p_size AS BIGINT) AS y FROM part)
        |SELECT g AS brand, x AS price_c, y AS sz FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.g = a.g AND b.x <= a.x AND b.y <= a.y
        |    AND (b.x < a.x OR b.y < a.y))
        |ORDER BY brand, price_c, sz""".stripMargin,
    "q_ts_ohlc" ->
      """WITH b AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bk,
        |    epoch_us(ts) AS ts_us, event_id, "value" AS v FROM events),
        |o AS (
        |  SELECT event_type, bk,
        |    first_value(v) OVER w AS open, last_value(v) OVER w AS close
        |  FROM b WINDOW w AS (PARTITION BY event_type, bk ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |a AS (SELECT event_type, bk, max(v) AS high, min(v) AS low,
        |        count(*) AS n FROM b GROUP BY event_type, bk),
        |d AS (SELECT DISTINCT event_type, bk, open, close FROM o)
        |SELECT a.event_type, a.bk * 3600000000 AS bucket_us,
        |  d.open, a.high, a.low, d.close, a.n
        |FROM a JOIN d USING (event_type, bk)
        |ORDER BY event_type, bucket_us""".stripMargin,
    "q_alert_hysteresis" ->
      """WITH b AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN "value" >= 90.0 THEN 1 WHEN "value" <= 30.0 THEN 0 END AS raw
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, ts_us,
        |    coalesce(last_value(raw IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS state
        |  FROM b),
        |t AS (
        |  SELECT user_id, event_id, ts_us, state,
        |    coalesce(lag(state) OVER (PARTITION BY user_id ORDER BY ts_us, event_id), 0) AS prev
        |  FROM s)
        |SELECT user_id, event_id, ts_us, state FROM t WHERE state <> prev
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
    "q_counter_rate" ->
      """WITH b AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, "value" AS v,
        |    lag("value") OVER w AS pv, lag(epoch_us(ts)) OVER w AS pts
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, ts_us,
        |  CASE WHEN v < pv THEN 1 ELSE 0 END AS reset,
        |  CASE WHEN ts_us > pts THEN
        |    CAST(floor(10000.0 * (CASE WHEN v < pv THEN v ELSE v - pv END)
        |      / ((ts_us - pts) / 1000000.0)) AS BIGINT) END AS rate_bp
        |FROM b WHERE pv IS NOT NULL
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
  )
}
