package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the graded surface: one entry per implemented operator from
  * SURVEY.md §2 (reference parity, [[graft.queries.Parity]]) plus the
  * LLM-data-pipeline extension surface §2.10 ([[graft.queries.Ext]]).
  * `oracleSql` carries the DuckDB-equivalent SQL for the driver's
  * differential correctness gate; queries without an entry get the weaker
  * rows-only check (non-SQL-expressible ops: seeded MinHash/SimHash, LSH).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full gold fact pipeline: 2 hash aggregates + FK join + 3-way left
    * join onto the distinct customer spine with guarded ratio columns. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_fact_summary")(spark, "/root/testdata/sf0.001")

  /** Every graded query set, in one list. A name appears in exactly one
    * set (ContractSpec), so merging them loses nothing. */
  val sets: Seq[graft.queries.QuerySet] = {
    import graft.queries._
    Seq(Parity, Ext, Ext2, Ext3, Ext4, Ext5, Ext6, Ext7, Ext8, Ext9, Ext10,
      Ext11, Ext12, Ext13, Ext14, Ext15, Ext16)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    sets.flatMap(_.queries).toMap

  val oracleSql: Map[String, String] = sets.flatMap(_.oracle).toMap

  /** The names in `names` that are not graded queries, in order. */
  def unknown(names: Seq[String]): Seq[String] = names.filterNot(queries.contains)

  /** Exits 2, naming each unknown query on stderr, if `names` has any:
    * a mistyped name must not shrink a run to the names that remain. */
  def requireKnown(tool: String, names: Seq[String]): Unit = {
    val bad = unknown(names)
    bad.foreach(n => System.err.println(s"[$tool] unknown query: $n"))
    if (bad.nonEmpty) sys.exit(2)
  }
}
