package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Window functions — SURVEY.md §2.5.
  *
  * All window orderings include a unique tiebreaker (event_id / orderkey /
  * custkey) so ranks and frames are total-order deterministic. Timestamp
  * deltas are emitted as epoch-µs BIGINTs (`unix_micros` ↔ DuckDB
  * `epoch_us`) — exact integers on both engines, no truncation ambiguity.
  */
object Windows extends QueryModule {

  /** row_number / rank / dense_rank, top-5 per nation. */
  def q_win_rank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      .withColumn("rn", row_number().over(w))
      .withColumn("rk", rank().over(w))
      .withColumn("drk", dense_rank().over(w))
      .filter(col("rn") <= 5)
      .orderBy(col("c_nationkey"), col("rn"))
  }

  /** Running decimal sum per customer — cumulative traffic per host in the
    * reference's terms (SURVEY §2.5). */
  def q_win_running(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_date"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), to_date(col("o_orderdate")).as("o_date"),
        dec2(col("o_totalprice")).as("price_dec"))
      .withColumn("running_total", outDbl(sum(col("price_dec")).over(w)))
      .select(col("o_custkey"), col("o_orderkey"), col("o_date"), col("running_total"))
      .orderBy(col("o_custkey"), col("o_date"), col("o_orderkey"))
  }

  /** Counter→rate: per-key delta vs previous sample — the operation a
    * network-metrics collector exists to compute (SURVEY §1.1, §2.5).
    * Streaming twin: transformWithState keeping last (ts,value) per key
    * (graft.streaming). */
  def q_win_lag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"), col("ts"))
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .withColumn("dt_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .select(col("user_id"), col("event_id"), col("delta"), col("dt_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** 3-row moving window (ROWS 2 PRECEDING): exact decimal frame-sum +
    * count + avg recipe. */
  def q_win_frame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), dec4(col("value")).as("v"))
      .withColumn("mv_sum", outDbl(sum(col("v")).over(w)))
      .withColumn("mv_n", count(lit(1)).over(w))
      .withColumn("mv_avg_bp", floor(lit(10000.0) * col("mv_sum") / col("mv_n")))
      .select(col("user_id"), col("event_id"), col("mv_sum"), col("mv_n"), col("mv_avg_bp"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Distribution window battery: ntile quartiles, percent_rank, cume_dist
    * (both emitted in exact basis points — they are ratios of BIGINT
    * counts, so floor-quantization is engine-portable), and
    * first/last value over a running frame. */
  def q_win_dist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal"), col("c_custkey"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pr_bp", floor(lit(10000.0) * percent_rank().over(w)))
      .withColumn("cd_bp", floor(lit(10000.0) * cume_dist().over(w)))
      .withColumn("first_bal", first(col("c_acctbal")).over(wRun))
      .withColumn("last_bal", last(col("c_acctbal")).over(wRun))
      .orderBy(col("c_nationkey"), col("c_acctbal"), col("c_custkey"))
  }

  /** RANGE frame over event time: per-type moving 1-hour count and decimal
    * sum — the time-window frame (peers by VALUE distance, not row
    * count), which a rows-frame cannot express when event density varies.
    * Tie-safe by construction: all rows sharing a ts_s are peers of the
    * frame regardless of intra-second order, so the result is
    * partitioning-invariant without a tiebreaker in the frame ordering. */
  def q_win_range(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts_s"))
      .rangeBetween(-3600, 0)
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        unix_seconds(col("ts")).as("ts_s"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .select(col("event_id"), col("event_type"), col("ts_s"), col("n_1h"), col("sum_1h"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_win_range" -> q_win_range _,
    "q_win_dist" -> q_win_dist _,
    "q_win_rank" -> q_win_rank _,
    "q_win_running" -> q_win_running _,
    "q_win_lag" -> q_win_lag _,
    "q_win_frame" -> q_win_frame _,
  )

  val oracle: Map[String, String] = Map(
    "q_win_range" ->
      // epoch_us // 1000000, NOT CAST(epoch(ts) AS BIGINT): epoch() is a
      // DOUBLE with the sub-second fraction and DuckDB ROUNDS double→int
      // casts where Spark's unix_seconds truncates (§2.10 dialect trap) —
      // integer floor-division matches exactly
      """SELECT event_id, event_type, epoch_us(ts) // 1000000 AS ts_s,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts) // 1000000
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_win_dist" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  CAST(floor(10000.0 * percent_rank() OVER w) AS BIGINT) AS pr_bp,
        |  CAST(floor(10000.0 * cume_dist() OVER w) AS BIGINT) AS cd_bp,
        |  first_value(c_acctbal) OVER wr AS first_bal,
        |  last_value(c_acctbal) OVER wr AS last_bal
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey),
        |       wr AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY c_nationkey, c_acctbal, c_custkey""".stripMargin,
    "q_win_rank" ->
      """SELECT c_nationkey, c_custkey, c_acctbal, rn, rk, drk FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn,
        |    CAST(rank()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rk,
        |    CAST(dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS INT) AS drk
        |  FROM customer)
        |WHERE rn <= 5 ORDER BY c_nationkey, rn""".stripMargin,
    "q_win_running" ->
      """SELECT o_custkey, o_orderkey, o_date,
        |  CAST(sum(price_dec) OVER (PARTITION BY o_custkey ORDER BY o_date, o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |        CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec FROM orders)
        |ORDER BY o_custkey, o_date, o_orderkey""".stripMargin,
    "q_win_lag" ->
      """SELECT user_id, event_id,
        |  "value" - lag("value") OVER w AS delta,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_win_frame" ->
      """SELECT user_id, event_id, mv_sum, mv_n,
        |  CAST(floor(10000.0 * mv_sum / mv_n) AS BIGINT) AS mv_avg_bp
        |FROM (
        |  SELECT user_id, event_id,
        |    CAST(sum(CAST("value" AS DECIMAL(18,4))) OVER w AS DOUBLE) AS mv_sum,
        |    count(*) OVER w AS mv_n
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
        |ORDER BY user_id, event_id""".stripMargin,
  )
}
