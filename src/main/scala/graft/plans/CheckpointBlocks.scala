package graft.plans

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of `localCheckpoint` storage.
  *
  * `Dataset.unpersist()` goes through the CacheManager, which tracks only
  * `persist()`-cached plans — it has NO entry for a checkpointed frame, so
  * calling it there is a silent no-op and the checkpoint blocks are freed
  * only when the driver GC eventually collects the underlying RDD
  * (ContextCleaner). For an iterative operator that checkpoints every
  * round (connected components, streaming incremental merge) that lazy
  * cleanup lets dead rounds' blocks pile up in the block manager — on a
  * busy cluster that is storage-eviction pressure on whatever runs next,
  * and in a shared-JVM benchmark it contaminates unrelated measurements.
  *
  * A checkpointed Dataset's analyzed plan is (a projection over) a
  * [[LogicalRDD]] leaf holding the materialized RDD, so the blocks CAN be
  * dropped eagerly: find the leaf, unpersist its RDD directly. Callers
  * must only invoke this once nothing live still reads those blocks — a
  * released checkpoint is unrecomputable by design (its lineage was
  * truncated), which is exactly why release must be explicit and
  * post-materialization, never racing a pending action.
  */
object CheckpointBlocks {

  /** Eagerly drop the checkpoint blocks behind `ds`. No-op for frames
    * that carry no [[LogicalRDD]] (e.g. a plain scan or a persist()-cached
    * frame — use `unpersist()` for those). Non-blocking by default: the
    * removal is queued to the block manager and the caller need not wait. */
  def release(ds: Dataset[_], blocking: Boolean = false): Unit =
    ds.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking)
      case _              => ()
    }

  /** Eager local checkpoint that ALSO returns the materialized row
    * count — one driver action where `localCheckpoint(true)` +
    * `isEmpty` paid two. The iterative-loop probe fusion (round 15):
    * every BFS/peel round needs (a) the round's frame materialized
    * with truncated lineage and (b) "did the frontier drain?"; both
    * come out of the single count-to-materialize job. Release the
    * returned frame with [[release]] exactly like a plain
    * localCheckpoint result. */
  def checkpointCount(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) =
    org.apache.spark.sql.graftbridge.ColumnBridge.localCheckpointWithCount(df)

  /** Drop EVERY persistent RDD in the session's SparkContext — persist()
    * caches and localCheckpoint materializations alike — plus the SQL
    * cache. This is the between-measurements reset for benchmarks: one
    * query's surviving blocks (e.g. a returned checkpointed result the
    * caller consumed lazily) must not occupy storage memory while the
    * next query is timed. Never call mid-query. */
  def releaseAll(spark: SparkSession, blocking: Boolean = true): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
  }
}
