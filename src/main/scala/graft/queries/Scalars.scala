package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Scalar-function surface, arrays, JSON, pivot, subqueries —
  * SURVEY.md §2.7.
  *
  * Dialect traps handled per §2.10(6): DuckDB widens many scalar results to
  * BIGINT (length, year, day, len) → ::INT casts in the oracle; DuckDB
  * rounds double→int casts where Spark truncates → only floor/ceil-then-
  * cast; int x/0 errors in DuckDB → NULLIF guards on both sides; libm-
  * dependent fns (ln/exp/pow) avoided — sqrt is IEEE-exact.
  */
object Scalars extends QueryModule {

  /** String function battery over customer names/segments. */
  def q_str_funcs(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .filter(col("c_name").like("Customer#%"))
      .select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_u"),
        lower(col("c_name")).as("name_l"),
        substring(col("c_name"), 1, 9).as("name_pfx"),
        length(col("c_name")).as("name_len"),
        trim(col("c_mktsegment")).as("seg_trim"),
        regexp_replace(col("c_name"), "Customer#", "C-").as("name_repl"),
        lpad(col("c_custkey").cast("string"), 12, "0").as("key_pad"),
        concat(col("c_mktsegment"), lit("/"), col("c_name")).as("seg_name"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).cast("long").as("custnum"))
      .orderBy(col("c_custkey"))
  }

  /** Date/time function battery (UTC-pinned; no tz-dependent functions,
    * no dayofweek — numbering differs across engines, §2.10). */
  def q_date_funcs(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dy"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month_start"),
        expr("CAST(o_orderdate + INTERVAL 30 DAY AS DATE)").as("plus30"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).as("days_since"))
      .orderBy(col("o_orderkey"))
  }

  /** Math function battery — only IEEE-deterministic operations. */
  def q_math_funcs(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_quantity") - 25.0).as("q_abs"),
        ceil(col("l_extendedprice")).as("p_ceil"),
        floor(col("l_extendedprice")).as("p_floor"),
        // exact cents via decimal, not round(double, 0): engines round
        // different representations of the same double (§2.10)
        (dec2(col("l_tax")) * 100).cast("long").as("t_round"),
        (col("l_orderkey") % 7).as("m7"),
        signum(col("l_discount") - 0.05).cast("int").as("sgn"),
        greatest(col("l_quantity"), col("l_discount") * 100, lit(10.0)).as("gl"),
        least(col("l_quantity"), col("l_extendedprice") / 1000).as("ll"),
        sqrt(col("l_quantity")).as("sq"))
      // (l_orderkey, l_linenumber) is not unique — total-order needs every
      // independent source column represented: sq (quantity), p_floor +
      // p_ceil (extendedprice; floor alone leaves integer-boundary ties),
      // gl/sgn (discount), t_round (tax). Remaining ties are identical rows.
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("sq"), col("ll"),
        col("p_floor"), col("p_ceil"), col("gl"), col("t_round"), col("sgn"))
  }

  /** CASE buckets + NULLIF division guard + COALESCE + null flags. */
  def q_case_null(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        when(col("value") < 50, "low").when(col("value") < 200, "mid").otherwise("high").as("bucket"),
        floor(col("value")).as("vfloor"),
        // ratio in basis points via floor — round(double, n) differs across
        // engines when the quotient's shortest decimal repr lands on a half
        // boundary (Spark rounds the repr, DuckDB the binary value);
        // mul/div/floor of identical doubles are IEEE-exact on both.
        floor(col("value") * 10000 / expr("NULLIF(floor(value), 0)")).as("ratio_bp"),
        coalesce(expr("NULLIF(event_type, 'click')"), lit("was_click")).as("etype_adj"),
        when(col("props").isNull, 1).otherwise(0).cast("int").as("props_null"))
      .orderBy(col("event_id"))
  }

  /** Array basics over the embedding column (1-based element_at on both
    * engines; float passthrough is exact). */
  def q_arr_basic(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).as("n_dim"),
        element_at(col("embedding"), 1).as("first_v"),
        element_at(col("embedding"), 64).as("last_v"),
        col("label"))
      .orderBy(col("vec_id"))
  }

  /** Tokenize + explode + top-50 words (Generate node). */
  def q_arr_explode(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(50)
  }

  /** collect_list wrapped in sort_array (collect order is nondeterministic
    * — §2.10(6)), then serialized to a csv string: the driver's comparator
    * cannot hash list-typed output columns (round-1 q_arr_agg err). */
  def q_arr_agg(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .groupBy(col("label"))
      .agg(array_join(sort_array(collect_list(col("vec_id"))).cast("array<string>"), ",").as("ids"),
        count(lit(1)).as("n"))
      .orderBy(col("label"))
  }

  /** JSON extraction (props is `{"k": <int>}` — FIXTURES.md) → per-type
    * min/max/count. */
  def q_map_json(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(min(col("k")).as("k_min"), max(col("k")).as("k_max"), count(col("k")).as("n"))
      .orderBy(col("event_type"))
  }

  /** Pivot with explicit value list (event_type domain is closed —
    * FIXTURES.md); count cells coalesced to 0 to match FILTER semantics. */
  def q_pivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy(col("day"))
  }

  /** Scalar subquery (Catalyst ScalarSubquery) — SQL-frontend formulation;
    * the threshold uses the §2.10 decimal-avg recipe so both engines
    * compare against the identical double. */
  def q_subq_scalar(spark: SparkSession, dir: String): DataFrame = {
    Tables.views(spark, dir)
    // threshold floor-quantized to basis points: round(double, 4) is not
    // engine-portable on repr-half boundaries
    spark.sql(
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal * 10000 > (SELECT floor(10000.0 * CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)) FROM customer)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Correlated subquery — decorrelated by Catalyst into a join. */
  def q_subq_corr(spark: SparkSession, dir: String): DataFrame = {
    Tables.views(spark, dir)
    spark.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  /** EXISTS predicate subquery — exercises RewritePredicateSubquery (the
    * decorrelation into a left-semi join: a THIRD subquery path next to
    * q_subq_scalar's scalar subquery and q_subq_corr's correlated
    * scalar-agg; q_join_semi writes the same semantics as an explicit
    * join). NOT EXISTS on the same predicate rides along as a flag so one
    * result covers both rewrite directions without the empty-result trap
    * (every customer has ≥1 order in this data — FIXTURES.md). */
  def q_subq_exists(spark: SparkSession, dir: String): DataFrame = {
    Tables.views(spark, dir)
    spark.sql(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Text-analysis summary per language. */
  def q_doc_stats(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_str_funcs" -> q_str_funcs _,
    "q_date_funcs" -> q_date_funcs _,
    "q_math_funcs" -> q_math_funcs _,
    "q_case_null" -> q_case_null _,
    "q_arr_basic" -> q_arr_basic _,
    "q_arr_explode" -> q_arr_explode _,
    "q_arr_agg" -> q_arr_agg _,
    "q_map_json" -> q_map_json _,
    "q_pivot" -> q_pivot _,
    "q_subq_scalar" -> q_subq_scalar _,
    "q_subq_corr" -> q_subq_corr _,
    "q_subq_exists" -> q_subq_exists _,
    "q_doc_stats" -> q_doc_stats _,
  )

  val oracle: Map[String, String] = Map(
    "q_str_funcs" ->
      """SELECT c_custkey,
        |  upper(c_mktsegment) AS seg_u,
        |  lower(c_name) AS name_l,
        |  substr(c_name, 1, 9) AS name_pfx,
        |  CAST(length(c_name) AS INT) AS name_len,
        |  trim(c_mktsegment) AS seg_trim,
        |  replace(c_name, 'Customer#', 'C-') AS name_repl,
        |  lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS key_pad,
        |  c_mktsegment || '/' || c_name AS seg_name,
        |  CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS custnum
        |FROM customer WHERE c_name LIKE 'Customer#%' ORDER BY c_custkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(day(o_orderdate) AS INT) AS dy,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_quantity - 25.0) AS q_abs,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS p_ceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS p_floor,
        |  CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS t_round,
        |  l_orderkey % 7 AS m7,
        |  CAST(sign(l_discount - 0.05) AS INT) AS sgn,
        |  greatest(l_quantity, l_discount * 100, 10.0) AS gl,
        |  least(l_quantity, l_extendedprice / 1000) AS ll,
        |  sqrt(l_quantity) AS sq
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, sq, ll, p_floor, p_ceil, gl, t_round, sgn""".stripMargin,
    "q_case_null" ->
      """SELECT event_id,
        |  CASE WHEN "value" < 50 THEN 'low' WHEN "value" < 200 THEN 'mid' ELSE 'high' END AS bucket,
        |  CAST(floor("value") AS BIGINT) AS vfloor,
        |  CAST(floor("value" * 10000 / NULLIF(floor("value"), 0)) AS BIGINT) AS ratio_bp,
        |  COALESCE(NULLIF(event_type, 'click'), 'was_click') AS etype_adj,
        |  CAST(CASE WHEN props IS NULL THEN 1 ELSE 0 END AS INT) AS props_null
        |FROM events ORDER BY event_id""".stripMargin,
    "q_arr_basic" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS n_dim,
        |  embedding[1] AS first_v,
        |  embedding[64] AS last_v,
        |  label
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_arr_explode" ->
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 50""".stripMargin,
    "q_arr_agg" ->
      """SELECT label, string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id) AS ids, count(*) AS n
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    "q_map_json" ->
      """SELECT event_type,
        |  min(k) AS k_min, max(k) AS k_max, count(k) AS n
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "q_subq_scalar" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal * 10000 > (SELECT floor(10000.0 * CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)) FROM customer)
        |ORDER BY c_custkey""".stripMargin,
    "q_subq_corr" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_subq_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "q_doc_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
