package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A group of declared queries: each key of `queries` names one query
  * (built from a session and a scale-factor dir); `oracle` holds the
  * DuckDB-equivalent SQL for the keys that have one. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}
