package graft

import org.apache.spark.sql.functions._
import graft.sources.Warehouse
import graft.streaming.StreamOps.tempStreamDir

/** Warehouse layout features: partition pruning and shuffle-free bucketed
  * joins — the write-time optimizations that matter at 100 TB. */
class WarehouseSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("partitioned sink prunes at the scan") {
    val dir = tempStreamDir("graft_part").toString
    val events = Tables.load(spark, sf, "events")
    Warehouse.writePartitioned(events, dir, "event_type")
    val clicks = spark.read.parquet(dir).filter(col("event_type") === "click")
    assert(clicks.count() ==
      events.filter(col("event_type") === "click").count())
    // pruning: the predicate lands in the scan's PartitionFilters (the
    // relation's inputFiles listing is pre-pruning, so inspect the plan)
    val plan = clicks.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ").matches(".*PartitionFilters: \\[[^\\]]*event_type.*"),
      s"no partition pruning in plan:\n$plan")
  }

  test("bucketed tables join with zero Exchange") {
    val dir = tempStreamDir("graft_bucket").toString
    val orders = Tables.load(spark, sf, "orders")
    val lineitem = Tables.load(spark, sf, "lineitem")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Warehouse.writeBucketed(orders, "b_orders", s"$dir/orders", "o_orderkey", 4)
    Warehouse.writeBucketed(lineitem, "b_lineitem", s"$dir/lineitem", "o_orderkey", 4)
    // force the sort-merge path (tiny test data would broadcast, and
    // BroadcastExchange would muddy the no-shuffle assertion); AQE off so
    // the executed plan is inspectable pre-execution
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      assert(joined.count() == Tables.load(spark, sf, "lineitem").count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("zValue interleaves bits; z-ordered layout gives BOTH dims locality") {
    import spark.implicits._
    // hand-checked interleave: x=0b11, y=0b01 -> z=0b0111 = 7
    val z = Seq((3L, 1L)).toDF("x", "y")
      .select(Warehouse.zValue(col("x"), col("y"), 4)).head.getLong(0)
    assert(z == 7L, s"zValue(3,1)=$z")

    // write orders z-ordered on (orderkey-mod, price-bucket) vs sorted on
    // the first dim only; compare how many FILES a box query on the
    // NON-sorted dim must touch, from each file's own min/max stats — the
    // pruning any footer-stats reader gets from the layout. (Both dims
    // must actually FILL their range: o_custkey at sf0.001 spans 1..150,
    // which makes any [0,127] band cover the whole domain.)
    val orders = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey") % 1024 as "x",
        floor(col("o_totalprice") / lit(500.0)).cast("long") % 1024 as "y")
    val nFiles = 16
    val zDir = tempStreamDir("graft_z").toString
    Warehouse.writeZOrdered(orders, zDir, "x", "y", 10, nFiles)
    val oneDir = tempStreamDir("graft_onedim").toString
    orders.repartitionByRange(nFiles, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(oneDir)

    def filesTouched(dir: String, c: String, lo: Long, hi: Long): Int = {
      val stats = spark.read.parquet(dir)
        .select(input_file_name().as("f"), col(c))
        .groupBy("f").agg(min(col(c)).as("lo"), max(col(c)).as("hi"))
        .collect()
      stats.count(r => r.getLong(1) <= hi && r.getLong(2) >= lo)
    }
    // a 1/8-wide band on y: the x-sorted layout scatters y across every
    // file; the z-ordered layout confines it
    val zTouched = filesTouched(zDir, "y", 0, 127)
    val oneTouched = filesTouched(oneDir, "y", 0, 127)
    assert(zTouched * 2 <= oneTouched,
      s"z-order: $zTouched/$nFiles files vs one-dim: $oneTouched/$nFiles")
    // and x-band queries still prune on the z layout too (both dims local)
    assert(filesTouched(zDir, "x", 0, 127) < nFiles)
  }

  test("runtime Bloom-filter join pruning engages on a selective dim join") {
    // Spark injects a might_contain(bloom) predicate into the FACT scan
    // when the dim side is selective — rows that can't join are dropped
    // before the shuffle, the runtime analog of semi-join pushdown. The
    // size threshold is lowered because test data sits far below the
    // 10 GB default; at 100 TB the guard engages on its own.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.load(spark, sf, "lineitem")
      val ord = Tables.load(spark, sf, "orders")
        .filter(col("o_totalprice") > 400000)
      def agg() = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").count()
      val j = agg()
      assert(j.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "runtime bloom filter not injected into the fact side")
      val withBloom = j.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      // the rewrite must be semantics-preserving: same result without it
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val plain = agg().collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(withBloom == plain, "bloom pruning changed the join result")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("join strategy hints are honored: BROADCAST / MERGE / SHUFFLE_HASH") {
    import spark.implicits._
    // same tables, three hinted physical strategies — the knob a tuned
    // 100 TB job turns when the optimizer's size estimates are wrong
    val big = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    val dim = Tables.load(spark, sf, "orders").select("o_orderkey", "o_custkey")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def planOf(hint: String) =
        big.join(dim.hint(hint), Seq("l_orderkey"))
          .queryExecution.executedPlan.toString
      assert(planOf("broadcast").contains("BroadcastHashJoin"))
      assert(planOf("merge").contains("SortMergeJoin"))
      assert(planOf("shuffle_hash").contains("ShuffledHashJoin"))
      // results agree across all three strategies
      val counts = Seq("broadcast", "merge", "shuffle_hash").map(h =>
        big.join(dim.hint(h), Seq("l_orderkey")).count())
      assert(counts.distinct.size == 1, s"strategies disagree: $counts")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("table digest plan: additive multiset hash, no list/concat state") {
    // round-10 self-audit fix pinned structurally (VERDICT r10 item 5):
    // the per-bucket digest must aggregate as partial-aggregable sums
    // (the modular additive multiset hash), never as the bucket-sized
    // sorted string concatenation it replaced
    val base = spark.range(100).select(col("id"),
      concat(lit("n"), col("id")).as("name"))
    val plan = Warehouse.tableDigest(base, "id", 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list") && !plan.contains("array_sort"),
      "digest regressed to collected-list state")
    assert(!plan.contains("ObjectHashAggregate"),
      "digest regressed to object-hash (list-state) aggregation")
    assert(plan.contains("partial_sum") && plan.contains("partial_count"),
      s"expected map-side partial sum/count for the multiset hash:\n$plan")
  }

  test("table digest: one changed row flips exactly one bucket; null != 'NULL'") {
    import spark.implicits._
    val base = spark.range(500).select(col("id"),
      concat(lit("name_"), col("id")).as("name"))
    def digests(df: org.apache.spark.sql.DataFrame) =
      Warehouse.tableDigest(df, "id", 16)
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val a = digests(base)
    assert(a.size == 16 && a.values.map(_._1).sum == 500)
    // order-invariance is by construction (modular sum), not by a sort
    assert(digests(base.repartition(7)) == a,
      "digest changed under repartition")
    // flip one row's value: same row counts, exactly one digest differs
    val changed = base.withColumn("name",
      when(col("id") === 123, lit("tampered")).otherwise(col("name")))
    val b = digests(changed)
    val diff = a.keySet.filter(k => a(k) != b(k))
    assert(diff.size == 1, s"changed buckets: $diff")
    assert(a(diff.head)._1 == b(diff.head)._1, "row count must not change")
    // a null value and the literal string "NULL" must not collide
    val withNull = Seq((1L, null: String), (2L, "x")).toDF("id", "name")
    val withWord = Seq((1L, "NULL"), (2L, "x")).toDF("id", "name")
    assert(digests(withNull) != digests(withWord),
      "null sentinel collided with the string 'NULL'")
  }

  test("compaction collapses a small-file table, preserving content exactly") {
    import spark.implicits._
    val in = tempStreamDir("graft_frag").toString
    val out = tempStreamDir("graft_compact").toString
    // fragment: 64 files for ~6k tiny rows (the streaming-sink pathology)
    val df = spark.range(6000).select(col("id"),
      (col("id") % 97).as("k"), md5(col("id").cast("string")).as("payload"))
    df.repartition(64).write.mode("overwrite").parquet(in)
    val (before, after, bytes) = graft.sources.Warehouse.compact(
      spark, in, out, targetFileBytes = bytes6k(in))
    assert(before == 64, s"fixture wrote $before files")
    assert(after < 8, s"compaction left $after files")
    assert(bytes > 0)
    // content round-trips exactly (same rows, nothing lost or duplicated)
    val a = spark.read.parquet(in).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val b = spark.read.parquet(out).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(a == b, "compaction changed table content")
  }

  /** Quarter of the fragmented table's bytes → ≤ 5 output files. */
  private def bytes6k(in: String): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(in), spark.sparkContext.hadoopConfiguration)
    val total = fs.globStatus(new org.apache.hadoop.fs.Path(in + "/*.parquet"))
      .map(_.getLen).sum
    total / 4 + 1
  }
}
