package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import Q._

/** Round-5 battery: market-basket co-occurrence, last-touch attribution,
  * changelog compaction, chunk-level corpus dedup with document
  * reconstruction, grid-bucketed 2D radius joins, and scalar-quantized
  * integer-dot ANN.
  *
  * Determinism follows SURVEY.md §2.10 / [[Q]]: exact integer/decimal
  * arithmetic everywhere the driver hashes, IEEE double chains written in
  * IDENTICAL operation order on both engines, ratios quantized with
  * floor(10000·x), every query ending in a total ORDER BY.
  */
object Analytics2 extends QueryModule {

  /** Market-basket co-occurrence over (user, day) baskets: which event
    * types happen together in a user's day, with exact support and lift.
    * The distinct collapse runs BEFORE the self-join — pairs are formed
    * from user-day-type rows (≤ |types| per basket), never raw events, so
    * a basket contributes ≤ |types|² join rows no matter how many events
    * it holds. At 100 TB the heavy shuffle is the distinct (map-side
    * combinable); the pair join keys on (user, day) with a bounded fan-out
    * and the 5-row type-frequency side broadcasts. Lift divides two exact
    * BIGINT products as doubles (< 2⁵³ — bit-identical division). */
  def q_freq_pairs(spark: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
      .distinct()
      .persist() // three consumers below: pair join (×2) + marginals
    val n = baskets.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val total = baskets.agg(count(lit(1)).as("n_baskets"))
    val a = baskets.select(col("user_id"), col("day"), col("event_type").as("ta"))
    val b = baskets.select(col("user_id"), col("day"), col("event_type").as("tb"))
    a.join(b, Seq("user_id", "day")).filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_ab"))
      .join(broadcast(n.select(col("event_type").as("ta"), col("n_t").as("n_a"))), "ta")
      .join(broadcast(n.select(col("event_type").as("tb"), col("n_t").as("n_b"))), "tb")
      .crossJoin(broadcast(total))
      .withColumn("lift_bp", floor(lit(10000.0) *
        (col("n_ab") * col("n_baskets")).cast(DoubleType) /
        (col("n_a") * col("n_b")).cast(DoubleType)))
      .select(col("ta"), col("tb"), col("n_ab"), col("n_a"), col("n_b"), col("lift_bp"))
      .orderBy(col("n_ab").desc, col("ta"), col("tb"))
  }

  /** Last-touch attribution: each purchase is attributed to the same
    * user's most recent PRECEDING click within 7 days. One conditional-max
    * window pass (the q_funnel chained-window idiom, one stage): the
    * carry-forward click timestamp is max(CASE click) over the strictly
    * preceding frame, so a single user_id shuffle serves the whole query —
    * no self-join, no per-purchase probe. Epoch-µs BIGINTs keep the gap
    * arithmetic engine-exact. */
  def q_attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", col("ts_us"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attributed",
        when(col("last_click_us") >= col("ts_us") - lit(604800000000L), 1).otherwise(0))
      .withColumn("gap_us",
        when(col("attributed") === 1, col("ts_us") - col("last_click_us")))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("attributed"), col("gap_us"))
      .orderBy(col("event_id"))
  }

  /** Changelog compaction (the Kafka log-compaction / CDC-snapshot tier
    * next to q_merge_upsert's MERGE): latest state per key, where an
    * 'error' event is a delete tombstone that removes the key from the
    * compacted snapshot. The argmax is ONE map-combinable aggregation —
    * max over struct(ts_us, event_id, payload) picks the latest record
    * lexicographically ((ts_us, event_id) is a total order) — so at
    * 100 TB this shuffles one partial row per (partition, key), never the
    * raw log, and needs no window sort. The oracle deliberately uses the
    * rank-window formulation: same answer through a different plan. */
  def q_cdc_compact(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("event_type"), col("value")).as("rec"))
      .groupBy(col("user_id"))
      .agg(max(col("rec")).as("last"), count(lit(1)).as("n_ops"))
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"), col("last.event_type").as("last_type"),
        col("last.value").as("last_value"), col("last.ts_us").as("last_ts_us"),
        col("n_ops"))
      .orderBy(col("user_id"))
  }

  /** Chunk-level corpus dedup WITH document reconstruction (the C4/RefinedWeb
    * line-dedup shape; these synthetic docs have no newlines, so the unit is
    * a non-overlapping 3-word chunk): chunk each doc positionally, count
    * each chunk's document frequency corpus-wide (distinct per doc), drop
    * chunks appearing in ≥ 4 docs, and rebuild the cleaned text in original
    * chunk order — emitting its md5 so the gate checks the RECONSTRUCTION,
    * not just the counts. Two shuffles at scale: the distinct+count on
    * chunk (map-combinable) and the rebuild groupBy doc_id; the df side
    * joins back on chunk. collect_list is order-free because the struct
    * sort restores position order. */
  def q_text_dupline(spark: SparkSession, dir: String): DataFrame = {
    val ch = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, (size(w) - 1) div 3), i -> concat_ws(' ', slice(w, i * 3 + 1, 3)))"))
        .as(Seq("pos", "chunk")))
      .persist() // consumed by the df count and the rebuild join
    val dfc = ch.select(col("doc_id"), col("chunk")).distinct()
      .groupBy(col("chunk")).agg(count(lit(1)).as("df"))
    ch.join(dfc, "chunk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df") < 4, 1).otherwise(0)).as("n_kept"),
        md5(concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN df < 4 THEN struct(pos, chunk) END)), s -> s.chunk)")))
          .as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** 2D radius self-join (the spatial/geo shape of the q_join_range
    * lesson): points within L2 distance r pair up via a grid of r-sized
    * cells — the probe side explodes to its 3×3 neighbor cells, the build
    * side stays in its home cell, and cells equi-join, so no reducer ever
    * sees more than a cell neighborhood and the unbucketed formulation's
    * cross join never appears. Each qualifying pair is found EXACTLY once
    * (a's 9 probe cells cover b's single home cell once; a < b kills the
    * mirror), so no distinct shuffle. The exact L2 filter is one IEEE
    * chain in identical order on both engines. Coordinates are the first
    * two embedding dims. */
  def q_join_spatial(spark: SparkSession, dir: String): DataFrame = {
    val r = 0.03
    val pts = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").getItem(0).cast(DoubleType).as("x"),
        col("embedding").getItem(1).cast(DoubleType).as("y"))
    val build = pts.select(col("vec_id").as("b_id"), col("x").as("bx"), col("y").as("by"),
      floor(col("x") / r).as("cx"), floor(col("y") / r).as("cy"))
    val probe = pts
      .withColumn("cx", explode(array(floor(col("x") / r) - 1, floor(col("x") / r), floor(col("x") / r) + 1)))
      .withColumn("cy", explode(array(floor(col("y") / r) - 1, floor(col("y") / r), floor(col("y") / r) + 1)))
      .select(col("vec_id").as("a_id"), col("x").as("ax"), col("y").as("ay"), col("cx"), col("cy"))
    probe.join(build, Seq("cx", "cy"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("d2", (col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by")))
      .filter(col("d2") <= lit(r * r))
      .select(col("a_id"), col("b_id"), floor(lit(100000000.0) * col("d2")).as("d2_e8"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Scalar-quantized (SQ8) ANN: every embedding compresses to 64 one-byte
    * codes via a global min/max affine map, and ranking runs on the EXACT
    * BIGINT integer dot product of the codes — the memory-bandwidth tier
    * below float scans (4× smaller vectors, integer SIMD) that IVF/HPLSH
    * bucket-prune ahead of. The 1-row stats frame and the 10 query codes
    * broadcast; the corpus is coded in one map-only pass. Integer dots
    * make the whole ranking engine-portable with NO float discipline
    * needed (the production per-dim codebook is the same plan with a
    * 64-entry stats row). Exact-cosine re-rank of the shortlist is
    * q_knn_cosine's plan. */
  def q_ann_sq8(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val stats = e.select(explode(col("embedding")).as("v"))
      .agg(min(col("v").cast(DoubleType)).as("mn"), max(col("v").cast(DoubleType)).as("mx"))
    val coded = e.crossJoin(broadcast(stats))
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(255.0 * (CAST(x AS DOUBLE) - mn) / (mx - mn)) AS BIGINT))")
        .as("code"))
    val q = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("a_id"), col("code").as("ca"))
    val c = coded.select(col("vec_id").as("b_id"), col("code").as("cb"))
    val w = Window.partitionBy(col("a_id")).orderBy(col("idot").desc, col("b_id"))
    broadcast(q).join(c, col("a_id") =!= col("b_id"))
      .withColumn("idot", expr(
        "aggregate(zip_with(ca, cb, (p, q) -> p * q), 0L, (acc, v) -> acc + v)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("a_id"), col("b_id"), col("idot"), col("rn"))
      .orderBy(col("a_id"), col("rn"))
  }

  /** The native as-of join ([[graft.plans.AsofJoin]] — custom LogicalPlan +
    * Strategy + SparkPlan, the §2 custom-op tier (c)) on q_join_asof's exact
    * semantics: for each purchase, the same user's latest strictly-prior
    * event in (ts, event_id) order. Shares q_join_asof's oracle — the
    * lag-window formulation and the native operator must agree row for row,
    * so the gate cross-checks the custom exec against both DuckDB AND the
    * window twin. One ClusteredDistribution shuffle per side, single-pass
    * merge with one buffered candidate row (no window buffer). */
  def q_join_asof_native(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val hist = ev.select(col("user_id").as("r_user"), col("event_id").as("r_event_id"),
      col("value").as("r_value"), col("ts_us").as("r_ts_us"))
    graft.plans.AsofJoin.join(purchases, hist,
      keys = Seq("user_id" -> "r_user"),
      order = Seq("ts_us" -> "r_ts_us", "event_id" -> "r_event_id"))
      .select(col("event_id"), col("user_id"),
        col("r_event_id").as("prev_event_id"), col("r_value").as("prev_value"))
      .orderBy(col("event_id"))
  }

  /** Winnowing document fingerprints (the MOSS local-similarity primitive;
    * Schleimer et al., SIGMOD'03): hash every char 5-gram, slide an 8-gram
    * window, select each window's minimal hash with RIGHTMOST tie-break,
    * and fingerprint the doc with the distinct selected (hash, position)
    * pairs — guaranteeing any ≥12-char match between docs shares a
    * fingerprint, which plain k-gram sampling cannot promise. The argmin
    * with tie-break is ONE window min over a packed BIGINT key
    * (hash·2²⁰ + (2²⁰−1−pos): minimal hash first, then maximal position
    * — no struct comparators, engine-portable). Hashes are 40-bit md5
    * prefixes (identical hex on both engines). The selection runs inside
    * [[graft.functions.WinnowFps]] — ONE expression pass in the scan
    * stage, zero shuffle and zero row fanout, vs the exploded
    * formulation's row-per-character posexplode → window-sort → distinct
    * (two exchanges + a sort; kept as [[winnowFingerprints]], the
    * differential twin WinnowFpsSpec pins the expression against). */
  def q_text_winnow(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(col("text")) >= 12)
      .select(col("doc_id"), expr("winnow_fps(text, 5, 8)").as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        expr("aggregate(fps, CAST(0 AS BIGINT), (acc, x) -> acc + x div 1048576)").as("fp_sum"))
      .orderBy(col("doc_id"))

  /** The winnowing selection itself: distinct packed (hash·2²⁰ + 2²⁰−1−pos)
    * keys per doc (k=5, w=8). Exposed so the spec can pin the algorithm's
    * GUARANTEE — docs sharing a ≥ k+w−1 = 12-char substring share a
    * fingerprint hash — on constructed corpora. */
  def winnowFingerprints(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-7, 0)
    docs
      .filter(length(col("text")) >= 12)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))"))
        .as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
        (expr("CAST(conv(substring(md5(gram), 1, 10), 16, 10) AS BIGINT)") * lit(1048576L) +
          (lit(1048575L) - (col("p0") + 1))).as("key"))
      .withColumn("sel", min(col("key")).over(w))
      .filter(col("pos") >= 8) // full windows only
      .select(col("doc_id"), col("sel")).distinct()
  }

  /** TPC-H Q3-style composite (segment-filtered shipping-priority
    * revenue): the canonical selective-dim → fact join pyramid. The plan
    * Catalyst should pick and AQE confirm: customer filter broadcast into
    * orders, that result broadcast into lineitem (or shuffled at real
    * scale), exact decimal revenue (l_extendedprice·(1−l_discount) in
    * DECIMAL — order-independent sums), top-10 by revenue. Demonstrates
    * the engine runs the reference workload SHAPE end to end, not just
    * isolated operators. */
  def q_tpch_q3(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "1998-06-15"
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    // rank on the EXACT decimal (two distinct decimals can collapse to one
    // double, and then the engines would tie-break differently); the double
    // cast happens only at emission. Top-10 via orderBy+limit — planned as
    // TakeOrderedAndProject (per-partition top-10, driver merge), never the
    // SinglePartition row_number window the naive form plans: at 100× that
    // window moves EVERY qualifying order to one partition. rk is then
    // derived on the 10-row frame (Q.rankTopK); persist() keeps the join
    // pyramid from re-executing for the rank's second branch.
    val top = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
        .as("rev_dec"))
      .orderBy(col("rev_dec").desc, col("l_orderkey")).limit(10)
      .persist()
    Q.rankTopK(top, "rev_dec", "l_orderkey")
      .select(col("l_orderkey"), unix_micros(col("o_orderdate")).as("odate_us"),
        col("o_orderpriority"), outDbl(col("rev_dec")).as("revenue"), col("rk"))
      .orderBy(col("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_freq_pairs" -> q_freq_pairs _,
    "q_attribution" -> q_attribution _,
    "q_cdc_compact" -> q_cdc_compact _,
    "q_text_dupline" -> q_text_dupline _,
    "q_join_spatial" -> q_join_spatial _,
    "q_ann_sq8" -> q_ann_sq8 _,
    "q_join_asof_native" -> q_join_asof_native _,
    "q_text_winnow" -> q_text_winnow _,
    "q_tpch_q3" -> q_tpch_q3 _,
  )

  val oracle: Map[String, String] = Map(
    // identical to q_join_asof's oracle: the native operator must reproduce
    // the lag-window semantics exactly
    "q_join_asof_native" ->
      """SELECT event_id, user_id, prev_event_id, prev_value FROM (
        |  SELECT event_id, user_id, event_type,
        |    lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id,
        |    lag("value") OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |  FROM events)
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "q_text_winnow" ->
      """WITH g AS (
        |  SELECT doc_id, i AS pos,
        |    CAST('0x' || substr(md5(substr(text, i, 5)), 1, 10) AS BIGINT) * 1048576
        |      + (1048575 - i) AS key
        |  FROM documents, unnest(range(1, len(text) - 3)) AS t(i)
        |  WHERE len(text) >= 12),
        |s AS (
        |  SELECT doc_id, pos,
        |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS sel
        |  FROM g),
        |d AS (SELECT DISTINCT doc_id, sel FROM s WHERE pos >= 8)
        |SELECT doc_id, count(*) AS n_fp, CAST(sum(sel // 1048576) AS BIGINT) AS fp_sum
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_tpch_q3" ->
      """SELECT l_orderkey, odate_us, o_orderpriority, revenue, rk FROM (
        |  SELECT l_orderkey, epoch_us(o_orderdate) AS odate_us, o_orderpriority,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |    CAST(row_number() OVER (
        |      ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) DESC,
        |      l_orderkey) AS INT) AS rk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
        |  GROUP BY l_orderkey, o_orderdate, o_orderpriority)
        |WHERE rk <= 10 ORDER BY rk""".stripMargin,
    "q_freq_pairs" ->
      """WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type FROM events),
        |n AS (SELECT event_type, count(*) AS n_t FROM b GROUP BY event_type),
        |tot AS (SELECT count(*) AS n_baskets FROM b),
        |p AS (SELECT a.event_type AS ta, c.event_type AS tb, count(*) AS n_ab
        |      FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
        |                       AND a.event_type < c.event_type
        |      GROUP BY ta, tb)
        |SELECT ta, tb, n_ab, na.n_t AS n_a, nb.n_t AS n_b,
        |  CAST(floor(10000.0 * CAST(n_ab * n_baskets AS DOUBLE)
        |                     / CAST(na.n_t * nb.n_t AS DOUBLE)) AS BIGINT) AS lift_bp
        |FROM p JOIN n na ON p.ta = na.event_type JOIN n nb ON p.tb = nb.event_type
        |     CROSS JOIN tot
        |ORDER BY n_ab DESC, ta, tb""".stripMargin,
    "q_attribution" ->
      """WITH g AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
        |  FROM events)
        |SELECT event_id, user_id, ts_us,
        |  CASE WHEN last_click_us >= ts_us - 604800000000 THEN 1 ELSE 0 END AS attributed,
        |  CASE WHEN last_click_us >= ts_us - 604800000000
        |       THEN ts_us - last_click_us ELSE NULL END AS gap_us
        |FROM g WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "q_cdc_compact" ->
      """WITH r AS (
        |  SELECT user_id, event_type, "value", epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk,
        |    count(*) OVER (PARTITION BY user_id) AS n_ops
        |  FROM events)
        |SELECT user_id, event_type AS last_type, "value" AS last_value,
        |  ts_us AS last_ts_us, n_ops
        |FROM r WHERE rk = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,
    "q_text_dupline" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(w[i * 3 + 1 : i * 3 + 3], ' ') AS chunk
        |  FROM ws, unnest(range(0, (len(w) - 1) // 3 + 1)) AS t(i)),
        |dfc AS (SELECT chunk, count(*) AS df
        |        FROM (SELECT DISTINCT doc_id, chunk FROM ch) GROUP BY chunk)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN df < 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (df < 4), '')) AS clean_md5
        |FROM ch JOIN dfc USING (chunk)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_join_spatial" ->
      """WITH p AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
        |                  CAST(embedding[2] AS DOUBLE) AS y FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  CAST(floor(100000000.0 * ((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))) AS BIGINT) AS d2_e8
        |FROM p a JOIN p b ON a.vec_id < b.vec_id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.03 * 0.03
        |ORDER BY a_id, b_id""".stripMargin,
    "q_ann_sq8" ->
      """WITH s AS (SELECT min(CAST(v AS DOUBLE)) AS mn, max(CAST(v AS DOUBLE)) AS mx
        |           FROM (SELECT unnest(embedding) AS v FROM embeddings)),
        |c AS (SELECT vec_id,
        |        list_transform(embedding,
        |          x -> CAST(floor(255.0 * (CAST(x AS DOUBLE) - mn) / (mx - mn)) AS BIGINT)) AS code
        |      FROM embeddings CROSS JOIN s),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |        CAST(list_sum(list_transform(range(1, 65), i -> a.code[i] * b.code[i])) AS BIGINT) AS idot
        |      FROM c a JOIN c b ON a.vec_id <> b.vec_id
        |      WHERE a.vec_id < 10)
        |SELECT a_id, b_id, idot, rn FROM (
        |  SELECT a_id, b_id, idot,
        |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY idot DESC, b_id) AS INT) AS rn
        |  FROM p)
        |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin,
  )
}
