package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persist-lifetime CONTRACT of the cache-pinning operators, tested
  * the way a direct library caller (no Verify/Bench harness) hits it
  * (VERDICT r13 item 3): `pqTopK` pins its code table and `semDedup`
  * pins its cluster assignment — both deliberately (the pin is a
  * codegen fence AND a shared-read materialization; an in-operator
  * unpersist would be wrong because the RETURNED frame still reads the
  * pinned plan lazily). The documented release path is: materialize the
  * result, then `CheckpointBlocks.releaseAll(spark)` (or
  * `spark.catalog.clearCache()`). This suite proves that path actually
  * drains BOTH trackers — the SQL CacheManager and the SparkContext's
  * persistent-RDD registry — so a long-lived session following the
  * scaladoc holds zero residue per call. x_recursive_cte's edge
  * checkpoint (a localCheckpoint, not a CacheManager entry) must drain
  * the same way. */
class CacheHygieneSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int, dim: Int, tag: String): DataFrame =
    (0 until n).map { i =>
      (s"$tag$i", Seq.tabulate(dim)(j =>
        (math.sin(i * 31 + j * 7).abs + 0.01 * j).toFloat))
    }.toDF("id", "vec")

  private def residue(beforeRdds: scala.collection.Set[Int]): (Int, Boolean) = {
    val rdds = spark.sparkContext.getPersistentRDDs.keySet -- beforeRdds
    val cmEmpty: Boolean = spark.sharedState.cacheManager.isEmpty
    (rdds.size, cmEmpty)
  }

  test("pqTopK: materialize → releaseAll leaves no cached plans or persistent RDDs") {
    graft.plans.CheckpointBlocks.releaseAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = graft.operators.Similarity.pqTopK(
      vecs(5, 8, "q"), vecs(60, 8, "c"),
      "id", "vec", "id", "vec", k = 3, shortlist = 10,
      m = 2, nCodes = 4)
    assert(out.count() > 0L)
    // the pin is alive while the result is consumed — that's the point
    assert(!spark.sharedState.cacheManager.isEmpty,
      "pqTopK's code-table pin should be registered in the CacheManager")
    graft.plans.CheckpointBlocks.releaseAll(spark)
    val (nRdds, cmEmpty) = residue(before)
    assert(nRdds == 0 && cmEmpty,
      s"releaseAll left residue: $nRdds persistent RDDs, cacheManager empty=$cmEmpty")
  }

  test("semDedup: materialize → releaseAll leaves no cached plans or persistent RDDs") {
    graft.plans.CheckpointBlocks.releaseAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = graft.operators.Dedup.semDedup(
      vecs(40, 6, "d"), "id", "vec", threshold = 0.999, nLists = 4)
    assert(out.count() > 0L)
    graft.plans.CheckpointBlocks.releaseAll(spark)
    val (nRdds, cmEmpty) = residue(before)
    assert(nRdds == 0 && cmEmpty,
      s"releaseAll left residue: $nRdds persistent RDDs, cacheManager empty=$cmEmpty")
  }

  test("x_recursive_cte: materialize → releaseAll frees the edge checkpoint") {
    graft.plans.CheckpointBlocks.releaseAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = SparkEntry.queries("x_recursive_cte")(spark, "/root/testdata/sf0.001")
    out.write.format("noop").mode("overwrite").save()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "x_recursive_cte's edge checkpoint should be a persistent RDD")
    graft.plans.CheckpointBlocks.releaseAll(spark)
    val (nRdds, cmEmpty) = residue(before)
    assert(nRdds == 0 && cmEmpty,
      s"releaseAll left residue: $nRdds persistent RDDs, cacheManager empty=$cmEmpty")
  }
}
