package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import Q._

/** Round-4 analytics battery: mergeable exact-distinct bitmaps, sketch
  * top-k at its exactness boundary, z-score anomaly flagging, SCD-2
  * dimension builds, gap sessionization, rolling exact medians, bucketed
  * interval-overlap joins, BM25 term scoring and shingle-level boilerplate
  * detection.
  *
  * Determinism follows SURVEY.md §2.10 / [[Q]]: exact decimal sums feed
  * IEEE double chains written with IDENTICAL operation order in the Spark
  * plan and the DuckDB oracle (identical inputs + identical op sequence =
  * bit-identical doubles), ratios leave as floor(10000·x) basis points,
  * and every query ends in a total ORDER BY.
  */
object Analytics extends QueryModule {

  /** Exact distinct users per event type via mergeable bitmap sketches —
    * the 100 TB pattern for exact COUNT(DISTINCT): per (group, bucket)
    * bitmaps are built map-side (`bitmap_construct_agg` over
    * `bitmap_bit_position`), OR-merge associatively across partitions, and
    * only popcounts shuffle in the final reduction. Unlike HLL
    * (q_agg_approx) the answer is exact, so the DuckDB oracle checks it
    * hash-for-hash; unlike a plain count-distinct the heavy state is a
    * fixed-width bitmap per 32k-id bucket, not a hash set of raw ids. */
  def q_agg_bitmap(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** approx_top_k at its exactness boundary: with maxItemsTracked(1000) ≥
    * |domain| the sketch counts are EXACT (same argument as the pinned
    * approx_top_k spec contract), so the query is fully oracle-checkable —
    * the engine-side ranking re-sorts the exploded sketch output on
    * (count DESC, item) so the emitted top-3 never depends on the sketch's
    * internal tie order. At 100 TB the same plan holds: the sketch is a
    * mergeable fixed-size aggregation buffer, one per partition, merged on
    * the driver-free reduce path. */
  def q_topk_approx(spark: SparkSession, dir: String): DataFrame = {
    val tk = Tables.events(spark, dir)
      .agg(expr("approx_top_k(event_type, 50, 1000)").as("tk"))
    val w = Window.orderBy(col("n").desc, col("event_type"))
    tk.select(explode(col("tk")).as("e"))
      .select(col("e.item").as("event_type"), col("e.count").as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .orderBy(col("rk"))
  }

  /** Z-score anomaly flagging: per-type moments from EXACT decimal sums
    * (S = Σ dec4(v), Q = Σ dec4(v)², both order-independent), then a pure
    * IEEE double chain — mean = S/n, var = Q/n − mean², z = (v −
    * mean)/√var — evaluated in the same order by both engines, so
    * floor-quantized z is bit-portable. The stats side is 5 rows and
    * broadcasts; the scan side is map-only after the join. Precision note:
    * dec4² sums stay exact to ~1e12 rows per group at this value range;
    * beyond that widen the intermediate decimal (the plan shape is
    * unchanged). */
  def q_anomaly_zscore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(dec4(col("value"))).cast(DoubleType).as("s_d"),
      sum(dec4(col("value")) * dec4(col("value"))).cast(DoubleType).as("q_d"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("mean_d", col("s_d") / col("n"))
      .withColumn("var_d", col("q_d") / col("n") - col("mean_d") * col("mean_d"))
      // zero-variance guard: a constant-valued group yields var = 0 and the
      // raw chain would produce NaN/Inf (Spark nulls the floor, DuckDB errors
      // the whole CAST) — gate the z computation identically on both engines
      .withColumn("z_bp", when(col("var_d") > 0,
        floor(lit(10000.0) * (col("value") - col("mean_d")) / sqrt(col("var_d")))))
      .filter(abs(col("z_bp")) >= 25000)
      .select(col("event_id"), col("event_type"), col("value"), col("z_bp"))
      .orderBy(col("event_id"))
  }

  /** SCD type-2 dimension build from an event log: collapse each user's
    * event stream to its type-CHANGE rows (lag over the per-user time
    * order), then derive [valid_from, valid_to) validity intervals with
    * lead and a version number. Pure two-window pipeline — one shuffle on
    * user_id serves both windows (same partitioning), no join. Epoch-µs
    * BIGINTs keep interval bounds engine-exact; the open current row keeps
    * a NULL valid_to. */
  def q_scd2(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val chg = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("ts"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wOrd))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    chg
      .withColumn("version", row_number().over(w2))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w2))
      .withColumn("is_current", when(col("valid_to_us").isNull, 1).otherwise(0))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Gap-rule sessionization as record-level session-id ASSIGNMENT (the
    * batch idiom: lag → new-session flag → running sum), complementing
    * q_stream_session's session_window aggregation. One user_id shuffle
    * serves the lag window, the running sum and the final group-by (same
    * key). 30-minute gap; session bounds emitted as epoch-µs. */
  def q_sessionize(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(wOrd))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("session_no", sum(col("new_s")).over(wRun))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .orderBy(col("user_id"), col("session_no"))
  }

  /** Rolling EXACT median over a 5-row frame: sort the frame's values
    * (array_sort over a windowed collect_list) and pick the middle
    * element(s) explicitly — the even-count case averages the two middles
    * with the SAME (a+b)/2.0 formula on both engines (interpolation-style
    * a+0.5·(b−a) can differ in the last ulp, so the oracle mirrors the
    * explicit form rather than calling median()). Median is holistic — no
    * map-side combine exists — so the frame materialization is the honest
    * cost; at 100 TB the frame is O(5) doubles per row and the single
    * user_id shuffle is the same one every per-user window pays. */
  def q_win_median(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("s", array_sort(collect_list(col("value")).over(w)))
      .withColumn("n", size(col("s")))
      .withColumn("med", expr(
        "CASE WHEN n % 2 = 1 THEN element_at(s, CAST((n+1) div 2 AS INT)) " +
          "ELSE (element_at(s, CAST(n div 2 AS INT)) + element_at(s, CAST(n div 2 AS INT) + 1)) / 2.0 END"))
      .select(col("user_id"), col("event_id"), col("n"), col("med"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Interval-overlap join WITHOUT an equi key, made shuffle-joinable by
    * time-grid bucketing: every 7-day order window and every 3-day
    * shipment window explodes to the ≤2 grid cells it covers, cells
    * equi-join (bounded pairs per cell — the q_join_range lesson applied
    * to two-sided intervals), and the exact overlap predicate filters.
    * Pairs straddling a cell edge would double-count, so each surviving
    * pair is kept only in the cell of its overlap START (greatest(os, ls))
    * — exactly-once emission WITHOUT a distinct shuffle (and without
    * assuming a unique probe key: (l_orderkey, l_linenumber) is NOT unique
    * in this data). At 100 TB both sides shuffle on the cell key and no
    * reducer sees more than a cell's worth of intervals; the unbucketed
    * formulation is a cross join. */
  def q_join_interval(spark: SparkSession, dir: String): DataFrame = {
    val cell = 604800000000L // 7-day grid, µs
    val oSpan = 604800000000L
    val lSpan = 259200000000L // 3 days
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), unix_micros(col("o_orderdate")).as("os"))
      .withColumn("bkt", explode(expr(s"sequence(os div ${cell}L, (os + ${oSpan - 1}L) div ${cell}L)")))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), unix_micros(col("l_shipdate")).as("ls"))
      .withColumn("bkt", explode(expr(s"sequence(ls div ${cell}L, (ls + ${lSpan - 1}L) div ${cell}L)")))
    o.join(l, "bkt")
      .filter(col("ls") < col("os") + lit(oSpan) && col("os") < col("ls") + lit(lSpan) &&
        col("bkt") === expr(s"greatest(os, ls) div ${cell}L"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy(col("o_orderkey"))
  }

  /** BM25 term scoring (k1 = 1.2, b = 0.75) with the ln-free odds-ratio
    * idf (N − df + 0.5)/(df + 0.5) — §2.10 forbids ln/exp in
    * hash-compared output (libm variance); the monotone rational idf
    * preserves BM25's ranking behavior and stays bit-portable. tf/dl/df/N
    * are exact integers; the scoring chain is one double expression
    * evaluated in identical order by both engines. tf persists because its
    * three consumers (dl, df, scoring) prune different columns —
    * differential pruning defeats ReuseExchange (the q_text_tfidf
    * lesson). */
  def q_text_bm25(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      .persist()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfw = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_w"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score_bp").desc, col("word"))
    tf.join(dl, "doc_id").join(dfw, "word").crossJoin(broadcast(corpus))
      .withColumn("score_bp", floor(lit(10000.0) * expr(
        "(CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(total_w AS DOUBLE) / CAST(n_docs AS DOUBLE))))) " +
          "* ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("df"), col("score_bp"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Boilerplate detection: word-bigram shingles appearing in ≥ 20
    * distinct documents (the repeated-template signal used for line-level
    * dedup in web-corpus cleaning). distinct-per-doc before the frequency
    * count so a shingle repeating inside one doc counts once. Explode +
    * two-phase count, fully map-combinable; the 5-gram variant is the same
    * plan with a wider slice. */
  def q_text_boilerplate(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))")).as("shingle"))
      .distinct()
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 20)
      .orderBy(col("df").desc, col("shingle"))
  }

  /** PageRank, two unrolled iterations in EXACT integer arithmetic over
    * the symmetrized part↔supplier co-occurrence graph (supplier ids
    * offset into a disjoint range). Per-node rank starts at SCALE; each
    * pass is contrib(u) = r(u) div deg(u) summed over in-edges, then
    * r' = (15·SCALE + 85·Σcontrib) div 100 — BIGINT floor-division only,
    * so both engines agree bit-for-bit (the q_kmeans_lloyd recipe applied
    * to an iterative graph op). Symmetrization removes dangling mass by
    * construction. Plan shape per iteration: one edges⋈ranks shuffle on
    * src + one dst aggregation — the standard distributed PageRank round;
    * unrolling two rounds keeps lineage finite (the looped form would add
    * the ConnectedComponents-style checkpoint cut). Output: top-20 nodes. */
  def q_graph_pagerank(spark: SparkSession, dir: String): DataFrame = {
    val scale = 1000000L
    // Persist only the HALF-size directed edge set; the symmetrized view
    // is two map-side scans of the cache (union shuffles nothing). The
    // per-source rank/degree state is NODE-count-bounded (50× smaller
    // than edges here), so each iteration is one broadcast join over the
    // cached edges + one dst aggregation — no edge-sized intermediate is
    // ever materialized (the prior degree-annotated edge cache cost more
    // to build than both iterations together).
    val e0 = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("src"), (col("l_suppkey") + lit(1000000000L)).as("dst"))
      .distinct().persist()
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // `div`, never `/`: the Column `/` is DOUBLE division even on BIGINTs
    // no broadcast() hint on the node-state side: it is NODE-count-sized
    // and a forced hint would OOM the build side at the 100× id domain.
    // AQE's runtime size check picks BHJ at gate scale (PlanQualitySpec
    // pins it) and degrades to SMJ when the state outgrows the threshold.
    val c1 = deg.select(col("src"), expr(s"${scale}L div deg").as("c"))
    val r1 = edges.join(c1, "src")
      .groupBy(col("dst")).agg(sum(col("c")).as("c"))
      .select(col("dst").as("id"), expr(s"(${15L * scale}L + 85L * c) div 100L").as("r"))
    val c2 = r1.withColumnRenamed("id", "src").join(deg, "src")
      .select(col("src"), expr("r div deg").as("c"))
    val r2 = edges.join(c2, "src")
      .groupBy(col("dst")).agg(sum(col("c")).as("c"))
      .select(col("dst").as("id"), expr(s"(${15L * scale}L + 85L * c) div 100L").as("r2"))
    // Top-20 via orderBy+limit → TakeOrderedAndProject (per-partition
    // top-20, driver merge of 20·P candidates) — never a SinglePartition
    // row_number window over the node frame (node-count-sized here, the
    // whole id domain at 100×). rk derives on the 20-row frame
    // (Q.rankTopK); persist() keeps both rank branches from re-running
    // the two PageRank iterations.
    val top = r2.orderBy(col("r2").desc, col("id")).limit(20).persist()
    Q.rankTopK(top, "r2", "id")
      .select(col("id"), col("r2"), col("rk"))
      .orderBy(col("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_pagerank" -> q_graph_pagerank _,
    "q_agg_bitmap" -> q_agg_bitmap _,
    "q_topk_approx" -> q_topk_approx _,
    "q_anomaly_zscore" -> q_anomaly_zscore _,
    "q_scd2" -> q_scd2 _,
    "q_sessionize" -> q_sessionize _,
    "q_win_median" -> q_win_median _,
    "q_join_interval" -> q_join_interval _,
    "q_text_bm25" -> q_text_bm25 _,
    "q_text_boilerplate" -> q_text_boilerplate _,
  )

  val oracle: Map[String, String] = Map(
    "q_agg_bitmap" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_topk_approx" ->
      """SELECT event_type, n, rk FROM (
        |  SELECT event_type, n, CAST(row_number() OVER (ORDER BY n DESC, event_type) AS INT) AS rk
        |  FROM (SELECT event_type, count(*) AS n FROM events GROUP BY event_type))
        |WHERE rk <= 3 ORDER BY rk""".stripMargin,
    "q_anomaly_zscore" ->
      """WITH st AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS s_d,
        |    CAST(sum(CAST("value" AS DECIMAL(18,4)) * CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS q_d
        |  FROM events GROUP BY event_type),
        |z AS (
        |  SELECT e.event_id, e.event_type, e."value",
        |    CASE WHEN q_d / n - (s_d / n) * (s_d / n) > 0
        |         THEN CAST(floor(10000.0 * (e."value" - s_d / n) / sqrt(q_d / n - (s_d / n) * (s_d / n))) AS BIGINT)
        |         ELSE NULL END AS z_bp
        |  FROM events e JOIN st ON e.event_type = st.event_type)
        |SELECT event_id, event_type, "value", z_bp FROM z
        |WHERE abs(z_bp) >= 25000 ORDER BY event_id""".stripMargin,
    "q_scd2" ->
      """WITH base AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |chg AS (SELECT user_id, event_id, event_type, ts_us FROM base
        |        WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, CAST(row_number() OVER w AS INT) AS version, event_type,
        |  ts_us AS valid_from_us, lead(ts_us) OVER w AS valid_to_us,
        |  CASE WHEN lead(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |f AS (SELECT user_id, event_id, ts_us,
        |        CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s
        |      FROM g),
        |s AS (SELECT user_id, ts_us,
        |        CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |      FROM f)
        |SELECT user_id, session_no, count(*) AS n_events,
        |  min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no""".stripMargin,
    "q_win_median" ->
      """SELECT user_id, event_id, CAST(n AS INT) AS n,
        |  CASE WHEN n % 2 = 1 THEN s[(n + 1) // 2]
        |       ELSE (s[n // 2] + s[n // 2 + 1]) / 2.0 END AS med
        |FROM (
        |  SELECT user_id, event_id,
        |    list_sort(list("value") OVER w) AS s, count(*) OVER w AS n
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        |ORDER BY user_id, event_id""".stripMargin,
    "q_join_interval" ->
      """WITH o AS (SELECT o_orderkey, epoch_us(o_orderdate) AS os FROM orders
        |           WHERE o_orderkey % 100 = 0),
        |l AS (SELECT l_orderkey, l_linenumber, epoch_us(l_shipdate) AS ls FROM lineitem)
        |SELECT o_orderkey, count(*) AS n_overlap
        |FROM o JOIN l ON ls < os + 604800000000 AND os < ls + 259200000000
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "q_text_bm25" ->
      """WITH tf AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tfc AS (SELECT doc_id, word, count(*) AS tf FROM tf GROUP BY doc_id, word),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tfc GROUP BY doc_id),
        |dfw AS (SELECT word, count(*) AS df FROM tfc GROUP BY word),
        |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS total_w FROM dl),
        |scored AS (
        |  SELECT t.doc_id, t.word, t.tf, dfw.df,
        |    CAST(floor(10000.0 * (
        |      (CAST(t.tf AS DOUBLE) * 2.2) / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / (CAST(total_w AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
        |      * ((CAST(n_docs AS DOUBLE) - CAST(dfw.df AS DOUBLE) + 0.5) / (CAST(dfw.df AS DOUBLE) + 0.5)))) AS BIGINT) AS score_bp
        |  FROM tfc t JOIN dl ON t.doc_id = dl.doc_id JOIN dfw ON t.word = dfw.word
        |       CROSS JOIN corpus)
        |SELECT doc_id, rk, word, tf, df, score_bp FROM (
        |  SELECT doc_id, word, tf, df, score_bp,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_bp DESC, word) AS INT) AS rk
        |  FROM scored)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q_graph_pagerank" ->
      """WITH e0 AS (SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000000 AS dst FROM lineitem),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |r1 AS (SELECT e.dst AS id, CAST((15000000 + 85 * sum(1000000 // deg)) // 100 AS BIGINT) AS r
        |       FROM e JOIN deg ON e.src = deg.src GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS id, CAST((15000000 + 85 * sum(r1.r // deg.deg)) // 100 AS BIGINT) AS r2
        |       FROM e JOIN deg ON e.src = deg.src JOIN r1 ON r1.id = e.src GROUP BY e.dst)
        |SELECT id, r2, rk FROM (
        |  SELECT id, r2, CAST(row_number() OVER (ORDER BY r2 DESC, id) AS INT) AS rk FROM r2)
        |WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "q_text_boilerplate" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |            WHERE len(string_split(text, ' ')) >= 2),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(w)), i -> concat_ws(' ', w[i], w[i + 1]))) AS shingle
        |       FROM ws)
        |SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
        |HAVING count(*) >= 20 ORDER BY df DESC, shingle""".stripMargin,
  )
}
