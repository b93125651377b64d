package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic aggregation helpers.
  *
  * Plain `sum(double)` is order-dependent in the last ulps, and Spark's
  * partial/final aggregation order differs run-to-run and engine-to-engine —
  * a hash-compared oracle (SURVEY.md §7.4.4) would flake. Money columns are
  * 2-decimal business values, so we aggregate them EXACTLY as
  * `decimal(18,2)` (associative, order-independent) and cast the final
  * result back to double (correctly rounded, hence bit-identical across
  * engines). Derived ratios divide those identical doubles, and IEEE
  * division of identical inputs is deterministic everywhere. Totals of
  * computed doubles fold in a fixed key order instead (`orderedSum`).
  */
object Exact {

  /** Order-independent money sum: exact decimal accumulate, double out. */
  def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Order-fixed double sum: `term` folded left to right from a 0.0
    * seed in ascending `orderBy` order (the term itself breaks ties),
    * whatever the partitioning. The oracle's
    * `list_reduce([0.0] || list(term ORDER BY ...), (a, v) -> a + v)`
    * folds in the same order, so the double is bit-identical in both
    * engines. A NULL term makes the sum NULL. The fold collects the
    * group's terms into one sorted array, so use it on groups of
    * bounded size. */
  def orderedSum(term: Column, orderBy: Column*): Column = {
    val keys = orderBy.zipWithIndex.map { case (c, i) => c.as(s"k$i") }
    aggregate(
      transform(sort_array(collect_list(struct(keys :+ term.as("term"): _*))),
        _.getField("term")),
      lit(0.0), _ + _)
  }

  /** Conditional count (reference's only custom aggregate — the pandas
    * lambda at /root/reference/scripts/gold/load_gold.py:108). count()
    * keeps BIGINT type in both Spark and DuckDB (oracle:
    * COUNT(CASE WHEN .. THEN 1 END)). */
  def countIf(cond: Column): Column = count(when(cond, 1))
}
