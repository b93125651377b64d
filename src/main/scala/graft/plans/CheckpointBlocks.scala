package graft.plans

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of `localCheckpoint` storage, and [[iterate]],
  * the checkpointed round loop of the iterative graph operators.
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
    * `isEmpty` paid two. Release the returned frame with [[release]]
    * exactly like a plain localCheckpoint result. Its one caller in
    * the engine is [[iterate]]. */
  def checkpointCount(df: DataFrame): (DataFrame, Long) =
    org.apache.spark.sql.graftbridge.ColumnBridge.localCheckpointWithCount(df)

  /** A materialized round of [[iterate]]: the frame and its row count. */
  type Round = (DataFrame, Long)

  /** Which of its rounds [[iterate]] keeps live. */
  sealed trait Retain
  object Retain {
    /** The newest round only: a dead round is released once its
      * successor is materialized. */
    case object Last extends Retain
    /** The newest round and the seed, which the caller still reads. */
    case object SeedAndLast extends Retain
    /** Every non-empty round: BFS level frames, whose union is the
      * result. An empty round ends the loop and is released. */
    case object Levels extends Retain
  }

  /** The checkpointed round loop of the iterative operators. Round 0
    * materializes `seed`; round k materializes `step(kept)`, `kept`
    * being the live rounds, newest first. Each round is one
    * count-to-materialize job ([[checkpointCount]]) that truncates the
    * plan, and every job of round k, the stop tests included, runs
    * under the job description `<op> round k`; the caller's
    * description is restored in a `finally`. The loop ends when
    *  - `fixpoint(prev, cur)` holds for the round just materialized
    *    (`prev` is its predecessor, absent for the seed);
    *  - `finish(cur)` returns a frame, the one-task finish, which
    *    replaces `cur` as the last round;
    *  - a [[Retain.Levels]] round is empty;
    *  - `maxIter` steps have run. With a `fixpoint` that is a refusal
    *    (IllegalStateException "<op>: no fixpoint after N rounds").
    *
    * Returns the kept rounds, newest first, which the caller releases
    * once its result is materialized, and the row counts of the seed
    * and of every stepped round, in round order. On any failure the
    * kept rounds are released. */
  def iterate(op: String, seed: DataFrame, maxIter: Int, retain: Retain,
              fixpoint: Option[(Option[Round], Round) => Boolean] = None,
              finish: Round => Option[DataFrame] = _ => None)(
      step: List[DataFrame] => DataFrame): (List[DataFrame], Vector[Long]) = {
    val sc = seed.sparkSession.sparkContext
    val callerDesc = sc.getLocalProperty("spark.job.description")
    var kept = List.empty[DataFrame]
    def advance(next: DataFrame): Unit = kept = retain match {
      case Retain.Levels => next :: kept
      case Retain.Last => release(kept.head); List(next)
      case Retain.SeedAndLast =>
        if (kept.lengthCompare(1) > 0) release(kept.head)
        List(next, kept.last)
    }
    try {
      sc.setJobDescription(s"$op round 0")
      var cur = checkpointCount(seed)
      kept = List(cur._1)
      var counts = Vector(cur._2)
      var stop = fixpoint.exists(_(None, cur))
      var k = 0
      while (!stop && k < maxIter) {
        k += 1
        sc.setJobDescription(s"$op round $k")
        finish(cur) match {
          case Some(fin) => advance(fin); stop = true
          case None =>
            val next = checkpointCount(step(kept))
            counts :+= next._2
            if (retain == Retain.Levels && next._2 == 0L) {
              release(next._1); stop = true
            } else {
              stop = fixpoint.exists(_(Some(cur), next))
              advance(next._1)
              cur = next
            }
        }
      }
      if (!stop && fixpoint.nonEmpty)
        throw new IllegalStateException(s"$op: no fixpoint after $maxIter rounds")
      (kept, counts)
    } catch {
      case e: Throwable => kept.foreach(release(_)); throw e
    } finally sc.setJobDescription(callerDesc)
  }

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
