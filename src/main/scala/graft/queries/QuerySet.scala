package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of graded queries: each name maps to its plan builder
  * (session, sf dir) and, in `oracle`, to its DuckDB-equivalent SQL. */
trait QuerySet {
  val queries: Map[String, (SparkSession, String) => DataFrame]
  val oracle: Map[String, String]
}
