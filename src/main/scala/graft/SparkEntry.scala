package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §0.3/§7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator from SURVEY.md §2;
  * `oracleSql` the DuckDB-equivalent SQL for each (omitted only for
  * engine-specific ops like HLL sketches, per the contract). Column names
  * and types are aligned on both sides — the driver sorts columns by name
  * and hash-compares values, and every query ends in a total ORDER BY.
  */
object SparkEntry {

  /** Flagship query on sf0.001 (driver smoke-checks rows>0): the 4-way
    * join→agg→sort plan of q_join_inner. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_inner")(spark, "/root/testdata/sf0.001")

  /** Every query module; `queries` and `oracleSql` are their unions
    * (SparkEntrySpec pins that no two modules share a key). */
  private[graft] val modules: Seq[QueryModule] = Seq(
    Relational, Windows, Scalars, StreamingTwins, LlmOps, LlmExt,
    Analytics, Analytics2, Analytics3, Analytics4, Analytics5, Analytics6,
    TableOps, SqlSurface, SqlTableOps, Retrieval, TpchExtra, Pipeline,
    Analytics7, Analytics8, Analytics9, Analytics10, Analytics11,
    Analytics12, Analytics13, Analytics14, Analytics15)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = modules.flatMap(_.oracle).toMap

  /** The queries Bench times and Verify dumps: all of them, or only those
    * named in `SPARK_GRAFT_ONLY=q_a,q_b` (a dev escape hatch that runs a
    * subset in suite conditions; the driver never sets it). A name that is
    * not a query fails loudly, never selects zero queries. */
  private[graft] def selectedQueries: Map[String, (SparkSession, String) => DataFrame] = {
    val only = sys.env.getOrElse("SPARK_GRAFT_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = only -- queries.keySet
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(",")}")
    if (only.isEmpty) queries else queries.filter { case (k, _) => only(k) }
  }
}
