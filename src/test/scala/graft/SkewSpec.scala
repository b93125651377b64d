package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Salting must never change results — only placement. */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  // power-law left side: one key owns 90% of rows
  private lazy val left = spark.range(10000)
    .select(when($"id" % 10 < 9, lit(1L)).otherwise($"id").as("k"),
      ($"id" % 100).cast("double").as("v"))
  private lazy val right = spark.range(50)
    .select($"id".as("k"), concat(lit("dim_"), $"id").as("name"))

  test("saltedJoin == plain join (inner)") {
    val plain = left.join(right, Seq("k")).select("k", "v", "name")
    val salted = Skew.saltedJoin(left, right, "k", 8).select("k", "v", "name")
    assert(salted.exceptAll(plain).count() == 0 &&
      plain.exceptAll(salted).count() == 0)
  }

  test("saltedJoin == plain join (left outer keeps unmatched rows)") {
    val plain = left.join(right, Seq("k"), "left").select("k", "v", "name")
    val salted = Skew.saltedJoin(left, right, "k", 8, "left").select("k", "v", "name")
    assert(salted.exceptAll(plain).count() == 0 &&
      plain.exceptAll(salted).count() == 0)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in plan)") {
    // SCALE.md claims AQE covers residual skew — demonstrate it engaging:
    // thresholds lowered so the fixture's hot key qualifies as skewed
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fatLeft = left.withColumn("pad", lpad(lit("x"), 512, "x"))
      val joined = fatLeft.join(right, Seq("k"))
      // collect() THIS dataset (count() would spawn a different
      // QueryExecution and leave this one's adaptive plan unfinalized);
      // hot key 1 matches all 9000 skewed rows; tail ids 9,19,29,39,49 < 50
      assert(joined.collect().length == 9005)
      // AQE rewrites the executed plan during the run; the final plan
      // marks the rebalanced join with skew=true
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew split in plan:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("saltedSumCount == plain groupBy sum/count") {
    val plain = left.groupBy("k").agg(
      sum($"v".cast("decimal(18,2)")).cast("double").as("sum_v"),
      count($"v").as("count_v"))
    val salted = Skew.saltedSumCount(left, "k", "v", 8)
    assert(salted.exceptAll(plain).count() == 0 &&
      plain.exceptAll(salted).count() == 0)
  }

  // planted-hub graph (round 15, VERDICT r14 item 3): node 0 touches
  // every other node (a power-law hub), plus a chain and DUPLICATE
  // edges so the dedup actually has work to do
  private lazy val hubEdges = {
    val hub = spark.range(1, 500)
      .select(lit(0L).as("src"), $"id".as("dst"))
    val chain = spark.range(1, 499)
      .select($"id".as("src"), ($"id" + 1).as("dst"))
    hub.union(chain).union(hub) // duplicates on the hub side
  }

  test("saltedDedup == repartition(key).dropDuplicates on a planted hub") {
    val sym = hubEdges.select($"src".as("u"), $"dst".as("v"))
      .union(hubEdges.select($"dst".as("u"), $"src".as("v")))
    val plain = sym.repartition($"u").dropDuplicates()
    val salted = Skew.saltedDedup(sym, "u", "v", buckets = 8)
    assert(salted.columns.toSeq == plain.columns.toSeq)
    assert(salted.exceptAll(plain).count() == 0 &&
      plain.exceptAll(salted).count() == 0)
  }

  test("pageRank(saltedSetup = true) is row-identical to the default") {
    val plain = graft.operators.Graphs.pageRank(hubEdges, "src", "dst",
      iters = 2)
    val salted = graft.operators.Graphs.pageRank(hubEdges, "src", "dst",
      iters = 2, saltedSetup = true)
    // fixed-point integer rank sums are partitioning-invariant, so the
    // salted setup must reproduce the default bit-for-bit
    assert(salted.exceptAll(plain).count() == 0 &&
      plain.exceptAll(salted).count() == 0)
  }

  test("spread is identity above the parallelism floor and never changes rows") {
    val df = spark.range(1000).select($"id", ($"id" % 7).as("g"))
    val wide = df.repartition(8) // 8 >= local[4] defaultParallelism
    assert(Skew.spread(wide) eq wide) // no-op: guard is false
    val narrow = df.coalesce(1)
    val spreadOut = Skew.spread(narrow)
    assert(spreadOut.rdd.getNumPartitions >=
      spark.sparkContext.defaultParallelism)
    assert(spreadOut.exceptAll(df).count() == 0 &&
      df.exceptAll(spreadOut).count() == 0)
  }

  test("spread enforces its scan-level contract: no-op above any exchange") {
    // ADVICE r15 / round 16: a frame whose plan contains an exchange-
    // producing node (aggregate, join, keyed repartition, sort, ...)
    // must come back UNTOUCHED — the guard's getNumPartitions would
    // otherwise eagerly execute upstream stages at plan time
    val df = spark.range(1000).select($"id", ($"id" % 7).as("g"))
    val agged = df.groupBy("g").agg(count(lit(1)).as("n"))
    assert(Skew.spread(agged) eq agged)
    val joined = df.join(df.select($"id", $"g".as("g2")), Seq("id"))
    assert(Skew.spread(joined) eq joined)
    val keyed = df.repartition($"g")
    assert(Skew.spread(keyed) eq keyed)
    val sorted = df.orderBy("id")
    assert(Skew.spread(sorted) eq sorted)
    // ...while scan + narrow ops (select/filter/generate/coalesce)
    // remain eligible
    val narrow = df.coalesce(1)
      .select($"id", explode(array($"g", $"g" + 1)).as("e"))
      .filter($"e" >= 0)
    assert(Skew.spread(narrow).rdd.getNumPartitions >=
      spark.sparkContext.defaultParallelism)
  }

  test("checkpointCount returns the frame AND its count in one action") {
    val df = spark.range(100).select($"id", ($"id" % 3).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n"))
    val (out, n) = graft.plans.CheckpointBlocks.checkpointCount(df)
    assert(n == 3L)
    assert(out.count() == 3L)
    // the returned frame is a materialized LogicalRDD leaf — release
    // must drop its blocks without touching anything else
    graft.plans.CheckpointBlocks.release(out)
  }

  test("iterate runs one job per round, named <op> round k, and restores the caller's description") {
    import graft.plans.CheckpointBlocks
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        descs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("?"))
        ()
      }
    }
    // listener events arrive asynchronously: wait for the queue to settle
    def settled(): List[String] = {
      var (prev, spins) = (-1, 0)
      while (prev != descs.size && spins < 40) {
        prev = descs.size; Thread.sleep(100); spins += 1
      }
      import scala.jdk.CollectionConverters._
      val out = descs.asScala.toList
      descs.clear()
      out
    }
    val sc = spark.sparkContext
    // each round drops one row: 4, 3, 2, 1 rows
    def shrink(live: List[org.apache.spark.sql.DataFrame]) =
      live.head.filter($"id" > 0).select(($"id" - 1).as("id"))
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      val (kept, counts) = CheckpointBlocks.iterate("probe",
        spark.range(4).toDF(), 3, CheckpointBlocks.Retain.Last)(shrink)
      assert(counts == Vector(4L, 3L, 2L, 1L))
      assert(kept.map(_.count()) == List(1L))
      kept.foreach(CheckpointBlocks.release(_))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(settled().filter(_ != "caller") ==
        (0 to 3).map(k => s"probe round $k").toList)

      var steps = 0
      val boom = intercept[RuntimeException] {
        CheckpointBlocks.iterate("probe", spark.range(4).toDF(), 3,
          CheckpointBlocks.Retain.Last) { live =>
          steps += 1
          if (steps == 2) throw new RuntimeException("step failed")
          shrink(live)
        }
      }
      assert(boom.getMessage == "step failed")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(settled() == List("probe round 0", "probe round 1"))
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("sizedParallelism prices a frame by the advisory partition size") {
    val dir = graft.streaming.StreamOps.tempStreamDir("sized").toString
    spark.range(0L, 20000L, 1L, 1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir) // ~80 kb of file bytes
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    def sized(advisory: Option[String]): Int = {
      advisory.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      try Skew.sizedParallelism(df) finally spark.conf.unset(key)
    }
    assert(sized(Some("1KB")) == spark.sparkContext.defaultParallelism)
    assert(sized(Some("1GB")) == 1)
    assert(sized(None) == 1) // default 64 MB
  }
}
