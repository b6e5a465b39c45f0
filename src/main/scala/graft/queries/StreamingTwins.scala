package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Batch twins of the Structured Streaming operators — SURVEY.md §2.8.
  *
  * `window`, `session_window` and first-per-key dedup produce identical
  * results in batch GROUP BY mode, which is what makes them oracle-checkable;
  * the streaming execution path (watermarks, state store, triggers) lives in
  * [[graft.streaming.StreamOps]] and is covered by batch↔stream equivalence
  * tests instead of the DuckDB oracle.
  *
  * Window starts are emitted as epoch seconds / DATE, never raw timestamps,
  * so parquet logical types match DuckDB's output exactly.
  */
object StreamingTwins extends QueryModule {

  /** 1-day tumbling window per event_type (epoch-aligned both engines). */
  def q_stream_tumble(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        outDbl(sum(dec4(col("value")))).as("sum_value"))
      .select(
        to_date(col("w.start")).as("day"), col("event_type"), col("n"), col("sum_value"),
        floor(lit(10000.0) * col("sum_value") / col("n")).as("avg_value_bp"))
      .orderBy(col("day"), col("event_type"))
  }

  /** 1-hour window sliding every 15 min: each event lands in exactly 4
    * epoch-aligned windows (window/slide = 4; starts are multiples of 900s,
    * and any start > ts-3600 qualifies). The oracle reproduces the window
    * set with a 4-row offsets unnest. */
  def q_stream_slide(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_seconds(col("w.start")).as("ws_s"), col("n"))
      .orderBy(col("ws_s"))
  }

  /** Session windows, 30-min gap, per user. Emitted as epoch-µs; session
    * end = last event + gap. Boundary rule verified by SessionBoundarySpec:
    * Spark MERGES an event arriving at exactly prev_ts + gap, so the
    * oracle's gaps-and-islands formulation opens a new session only on
    * gap STRICTLY greater than 30 min. */
  def q_stream_session(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n"))
      .orderBy(col("user_id"), col("start_us"))
  }

  /** First event per (user, type, day) — duplicate-sample suppression;
    * streaming twin is dropDuplicatesWithinWatermark. */
  def q_stream_dedup(spark: SparkSession, dir: String): DataFrame = {
    val day = to_date(col("ts"))
    val w = Window.partitionBy(col("user_id"), col("event_type"), day)
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("day", day)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("day"), col("event_id"), col("value"))
      .orderBy(col("user_id"), col("event_type"), col("day"))
  }

  /** Batch twin of the LEFT OUTER stream-stream join
    * ([[graft.streaming.StreamOps.leftJoinStream]]): every purchase,
    * matched to the same user's error events in the following
    * (0, 30 min] — or null-extended when none arrives. The same
    * projection the streaming op emits, so this gate pins the row-level
    * answer the equivalence spec's stream run must converge to. Plan: one
    * equi shuffle on user_id with the band as a join residual — at 100 TB
    * the state bound lives on the streaming side (watermark + range), the
    * batch side is a plain co-partitioned join. */
  def q_stream_join(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id").as("user_id_e"), col("ts").as("e_ts"))
    p.join(e, col("user_id") === col("user_id_e") &&
        col("e_ts") > col("p_ts") &&
        col("e_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTE"),
      "left_outer")
      .select(col("p_id"), unix_micros(col("p_ts")).as("p_ts_us"), col("e_id"),
        (unix_micros(col("e_ts")) - unix_micros(col("p_ts"))).as("gap_us"))
      .orderBy(col("p_id"), col("e_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_tumble" -> q_stream_tumble _,
    "q_stream_slide" -> q_stream_slide _,
    "q_stream_session" -> q_stream_session _,
    "q_stream_dedup" -> q_stream_dedup _,
    "q_stream_join" -> q_stream_join _,
  )

  val oracle: Map[String, String] = Map(
    "q_stream_tumble" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  CAST(floor(10000.0 * CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) / count(*)) AS BIGINT) AS avg_value_bp
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q_stream_slide" ->
      """SELECT ws_s, count(*) AS n FROM (
        |  SELECT (epoch_us(ts) // 1000000 // 900) * 900 - k.k * 900 AS ws_s
        |  FROM events, (VALUES (0), (1), (2), (3)) AS k(k))
        |GROUP BY ws_s ORDER BY ws_s""".stripMargin,
    "q_stream_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > 1800000000 THEN 1 ELSE 0 END AS new_s,
        |    event_id
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id,
        |  epoch_us(min(ts)) AS start_us,
        |  epoch_us(max(ts)) + 1800000000 AS end_us,
        |  count(*) AS n
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,
    "q_stream_join" ->
      """SELECT p.event_id AS p_id, epoch_us(p.ts) AS p_ts_us, e.event_id AS e_id,
        |  epoch_us(e.ts) - epoch_us(p.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id AND e.ts > p.ts
        |  AND e.ts <= p.ts + INTERVAL 30 MINUTE
        |ORDER BY p_id, e_id""".stripMargin,
    "q_stream_dedup" ->
      """SELECT user_id, event_type, CAST(ts AS DATE) AS day, event_id, "value"
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type, CAST(ts AS DATE) ORDER BY ts, event_id) = 1
        |ORDER BY user_id, event_type, day""".stripMargin,
  )
}
