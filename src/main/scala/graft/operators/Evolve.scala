package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dimension/table maintenance operators (SURVEY.md §2.10): SCD Type 1
  * upsert (MERGE INTO semantics without a table format) and snapshot diff
  * (CDC between two loads). The reference rebuilds its dimensions from
  * scratch every run; an engine its users switch to needs the incremental
  * forms.
  *
  * Scale shape: both are single full-outer shuffles on the key — the
  * minimum any merge semantics permits. On a real deployment the current
  * side is a bucketed table ([[graft.sources.Warehouse]]), making the
  * shuffle one-sided (updates are typically ≪ current).
  */
object Evolve {

  /** SCD Type 1 upsert: rows present in `updates` REPLACE current rows
    * wholesale (null update values overwrite too — MERGE semantics, which
    * a naive per-column coalesce gets wrong); unmatched update rows
    * insert; unmatched current rows persist. Schemas must match.
    *
    * PRECONDITION (as for SQL MERGE, which errors on multiple source
    * matches): `updates` must be unique per key — duplicate update keys
    * would emit duplicate output rows. Pre-aggregate if unsure. */
  def upsertScd1(current: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val cols = current.columns.filter(_ != key).toSeq
    val u = updates.select(
      (col(key) +: cols.map(c => col(c).as(s"_u_$c"))) :+ lit(true).as("_present"): _*)
    current.join(u, Seq(key), "full_outer")
      .select(col(key) +: cols.map(c =>
        when(col("_present"), col(s"_u_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** SCD Type 2 historization: `dim` carries (key, attrs…, valid_from,
    * valid_to with null = current). Updates whose attrs differ from the
    * key's CURRENT version close that version out at `asOf` and open a
    * new one (valid_from = asOf, valid_to = null); brand-new keys open
    * their first version; unchanged updates and historical rows pass
    * through untouched. Deterministic because the effective time is an
    * explicit `asOf`, not a wall clock.
    *
    * PRECONDITIONS: `updates` unique per key (like SQL MERGE — duplicates
    * would open two versions of the same key at once) and `dim` carrying
    * at most one open (valid_to IS NULL) version per key.
    *
    * Plan: one left join of current-versions onto updates (decides
    * changed/new), then unions — history rows never shuffle. */
  def applyScd2(dim: DataFrame, updates: DataFrame, key: String,
                asOf: String): DataFrame = {
    val attrs = updates.columns.filter(_ != key).toSeq
    val attrStruct = struct(attrs.map(col): _*)
    val current = dim.filter(col("valid_to").isNull)
    val history = dim.filter(col("valid_to").isNotNull)
    // one row per update key, tagged with the current version (if any)
    val decided = updates.select(col(key) +: attrs.map(col): _*)
      .join(current.select(col(key), attrStruct.as("_cur")), Seq(key), "left")
      .withColumn("_changed", col("_cur").isNull || !(attrStruct <=> col("_cur")))
    val opened = decided.filter(col("_changed"))
      .select(col(key) +: attrs.map(col)
        :+ to_timestamp(lit(asOf)).as("valid_from")
        :+ lit(null).cast("timestamp").as("valid_to"): _*)
    val changedKeys = decided.filter(col("_changed")).select(col(key))
    val closed = current.join(changedKeys, Seq(key), "left_semi")
      .withColumn("valid_to", to_timestamp(lit(asOf)))
    val untouched = current.join(changedKeys, Seq(key), "left_anti")
    history.unionByName(closed).unionByName(untouched).unionByName(opened)
  }

  /** Apply a CDC changelog to a base table — the replication-feed
    * consumer every lakehouse runs: the feed carries full rows for
    * upserts ('U', same schema as base) plus the key for deletes ('D'),
    * each stamped with a monotone version. Last-writer-wins per
    * key: only the highest (version, op) row of a key acts ('U' beats
    * 'D' on a version tie so the ordering is total — document feeds
    * SHOULD make (key, version) unique). Keys untouched by the feed pass
    * through.
    *
    * Scale shape: one keyed window over the feed (per-key state = one
    * row), one left-anti join + one union against the base — the base
    * table itself never shuffles on anything but the join key, and with
    * both sides bucketed on the key the whole apply is Exchange-free.
    * O(|feed|) work against an arbitrarily large base. */
  def applyCdc(base: DataFrame, feed: DataFrame, key: String,
               versionCol: String, opCol: String): DataFrame = {
    val w = Window.partitionBy(key)
      .orderBy(col(versionCol).desc, col(opCol).desc)
    val latest = feed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    val survivors = base.join(latest.select(key), Seq(key), "left_anti")
    val applied = latest.filter(col(opCol) =!= "D")
      .select(base.columns.map(col).toSeq: _*)
    survivors.unionByName(applied)
  }

  /** Incremental aggregate maintenance: merge a base aggregate with the
    * aggregate of a new delta batch — `merge(agg(A), agg(B)) == agg(A∪B)`
    * for the sum/count family as long as the accumulators are associative
    * (decimal sums, counts — the engine's money convention, which is WHY
    * gold aggregates are decimal-accumulated). Null-safe on the group key
    * (a null key group merges like any other, via <=>). Null aggregate
    * values follow SQL SUM semantics exactly: a side with no row for the
    * key contributes nothing, one-sided nulls absorb (null+x = x, as SUM
    * over A∪B would skip A's all-null inputs), and a key null on BOTH
    * sides merges to null — matching the full recompute bit-for-bit.
    * Each merged column is cast back to its base type, so repeated
    * merges keep a stable schema (naked decimal addition widens
    * precision by 1 per merge, creeping toward the 38 cap).
    *
    * The scale story: the reference recomputes gold from scratch every
    * run; at 100 TB a refresh must cost O(|delta|), not O(|history|) —
    * this merge is one full-outer shuffle on the (already aggregated,
    * small) summaries. */
  def mergeAggregates(base: DataFrame, delta: DataFrame, key: String): DataFrame = {
    val types = base.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = base.columns.filter(_ != key).toSeq
    val b = base.select(col(key).as("_bk") +: cols.map(c => col(c).as(s"_b_$c")): _*)
    val d = delta.select(col(key).as("_dk") +: cols.map(c => col(c).as(s"_d_$c")): _*)
    b.join(d, col("_bk") <=> col("_dk"), "full_outer")
      .select(coalesce(col("_bk"), col("_dk")).as(key) +:
        cols.map { c =>
          val (bc, dc) = (col(s"_b_$c"), col(s"_d_$c"))
          val zero = lit(0).cast(types(c))
          when(bc.isNull && dc.isNull, lit(null))
            .otherwise(coalesce(bc, zero) + coalesce(dc, zero))
            .cast(types(c)).as(c)
        }: _*)
  }

  /** Snapshot diff (CDC): classify every key as added / removed / changed
    * between two loads of the same schema; unchanged rows drop out.
    * Comparison is null-safe per column (struct equality over <=>). */
  def snapshotDiff(before: DataFrame, after: DataFrame, key: String): DataFrame = {
    val cols = before.columns.filter(_ != key).toSeq
    val b = before.select(col(key),
      struct(cols.map(col): _*).as("_b"), lit(true).as("_in_b"))
    val a = after.select(col(key),
      struct(cols.map(col): _*).as("_a"), lit(true).as("_in_a"))
    b.join(a, Seq(key), "full_outer")
      .withColumn("change_type",
        when(col("_in_b").isNull, "added")
          .when(col("_in_a").isNull, "removed")
          .when(!(col("_b") <=> col("_a")), "changed"))
      .filter(col("change_type").isNotNull)
      .select(col(key), col("change_type"))
  }
}
