package graft

import org.apache.spark.sql.functions._
import graft.operators.EventOps
import graft.streaming.StreamOps

/** Streaming ≡ batch equivalence (SURVEY.md §7.4.8): bounded replay of the
  * events parquet through Structured Streaming must reproduce the batch
  * operators' results. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("streaming windowed counts == batch tumbling aggregate") {
    val batchEv = Tables.load(spark, sf, "events")
    // FileStreamSource needs a directory: stage the single parquet there
    val dir = StreamOps.tempStreamDir("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    // streaming source needs an explicit schema; reuse the batch one
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$sf/events.parquet").schema)
      .parquet(dir.toString)
    val ev = Tables.normalizeEventTs(raw)
    val streamed = StreamOps.drain(spark, StreamOps.windowedCounts(ev),
      "win_stream", "complete")
    val batch = batchEv.groupBy(
      date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
      col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
  }

  test("drain: a reused sink name returns only the latest run; confs and queries are left as found, also when the plan throws") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    val before = keys.map(spark.conf.getOption)
    def staged(n: Int, tag: String) = {
      val dir = StreamOps.tempStreamDir("graft_drain_spec").toString
      spark.range(n).select(col("id"), lit(tag).as("tag"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    }
    var scoped = Seq.empty[Option[String]]
    val first = StreamOps.drain(spark, staged(3, "a"), "drain_spec_mem", "append",
      drive = { q => q.processAllAvailable(); scoped = keys.map(spark.conf.getOption) })
    assert(scoped == Seq(Some("8"),
      Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      Some("true")))
    assert(first.count() == 3)
    val second = StreamOps.drain(spark, staged(5, "b"), "drain_spec_mem", "append")
    assert(second.groupBy("tag").count().as[(String, Long)].collect().toSeq ==
      Seq(("b", 5L)))
    assert(keys.map(spark.conf.getOption) == before)
    assert(spark.streams.active.isEmpty)

    val boom = udf((x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom") else x)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamOps.drain(spark, staged(2, "c").select(boom(col("id"))),
        "drain_spec_fail", "append")
    }
    assert(keys.map(spark.conf.getOption) == before)
    assert(spark.streams.active.isEmpty)
  }

  test("streaming dedup drops repeated fingerprints, keeps state bounded") {
    val dir = StreamOps.tempStreamDir("graft_dedup_stream")
    // events with duplicated user_id%7 fingerprints within one batch
    Tables.load(spark, sf, "events")
      .select(col("ts"), (col("user_id") % 7).cast("string").as("fp"))
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val src = spark.readStream
      .schema(spark.read.parquet(dir.toString).schema)
      .parquet(dir.toString)
    val deduped = StreamOps.streamingDedup(src, "ts", "fp", "1 hour")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_stream")
    // exactly one row per distinct fingerprint survives the single batch
    assert(got.count() == 7)
    assert(got.select("fp").distinct().count() == 7)
  }

  test("watermark drops late events (append-mode windowed agg)") {
    import org.apache.spark.sql.types._
    val dir = StreamOps.tempStreamDir("graft_late")
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("v", DoubleType)))
    def write(name: String, rows: Seq[(String, Double)]): Unit = {
      import spark.implicits._
      rows.map { case (t, v) => (java.sql.Timestamp.valueOf(t), v) }
        .toDF("ts", "v").coalesce(1).write.mode("append")
        .parquet(s"$dir/$name")
    }
    // batch 1: events up to 12:00 → watermark advances to 11:50
    write("in", Seq(("2024-01-01 10:05:00", 1.0), ("2024-01-01 12:00:00", 1.0)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val agg = src.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "HH:mm").as("h"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_stream").start()
    q.processAllAvailable()
    // batch 2: one on-time event (12:05) + one LATE event (10:10, behind
    // the 11:50 watermark) — the late one must not resurrect the 10:00 window
    write("in", Seq(("2024-01-01 12:05:00", 1.0), ("2024-01-01 10:10:00", 99.0)))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("late_stream").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 10:00 window finalized with ONLY the first event; late row dropped
    assert(rows.get("10:00").contains(1L), s"got $rows")
  }

  test("stream-stream click->purchase join == batch join") {
    val ev = Tables.load(spark, sf, "events")
    val dir = StreamOps.tempStreamDir("graft_ssj")
    for (side <- Seq("click", "purchase"))
      ev.filter(col("event_type") === side)
        .select("user_id", "event_id", "ts")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$side")
    def src(side: String) = spark.readStream
      .schema(spark.read.parquet(s"$dir/$side").schema)
      .parquet(s"$dir/$side")
    val joined = StreamOps.clickToPurchaseJoin(
      src("click"), src("purchase"), "1 hour", windowMinutes = 120)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_stream").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssj_stream")
    val batch = StreamOps.clickToPurchaseJoin(
      ev.filter(col("event_type") === "click").select("user_id", "event_id", "ts"),
      ev.filter(col("event_type") === "purchase").select("user_id", "event_id", "ts"),
      "1 hour", windowMinutes = 120)
    assert(streamed.count() > 0, "no click->purchase pairs in fixture?")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
  }

  test("stream-stream LEFT OUTER interval join certifies non-matches at the watermark") {
    import spark.implicits._
    val clicks = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)](spark)
    val purchases = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)](spark)
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val joined = StreamOps.clickToPurchaseJoin(
      clicks.toDF().toDF("user_id", "event_id", "ts"),
      purchases.toDF().toDF("user_id", "event_id", "ts"),
      "0 seconds", windowMinutes = 10, joinType = "leftOuter")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_outer").start()
    // user 1 converts in-window; user 2 never purchases. (Timeline
    // starts at minute 10, NOT epoch 0 — the initial watermark is 0 and
    // rows at-or-behind the watermark are dropped as late.)
    clicks.addData((1L, 100L, ts(10)), (2L, 200L, ts(10)))
    purchases.addData((1L, 900L, ts(15)))
    q.processAllAvailable()
    // advance both watermarks past click+window so the non-match is provable
    clicks.addData((9L, 101L, ts(60)))
    purchases.addData((9L, 901L, ts(60)))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssj_outer")
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows.contains((100L, 900L)), s"in-window match missing: $rows")
    assert(rows.contains((200L, -1L)),
      s"watermark-certified non-match must emit null-joined click: $rows")
  }

  test("foreachBatch incremental agg sink == batch recompute, replays are no-ops") {
    val ev = Tables.load(spark, sf, "events").select("user_id", "value")
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("user_id").agg(
        sum(col("value").cast("decimal(18,2)")).as("total_value"),
        count(lit(1)).as("n"))
    val dir = StreamOps.tempStreamDir("graft_fb_sink")
    // three files -> three micro-batches (maxFilesPerTrigger=1): the sink
    // must merge across genuinely separate foreachBatch invocations
    ev.repartition(3).write.mode("overwrite").parquet(s"$dir/in")
    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val sink = new StreamOps.IncrementalAggSink("user_id", aggOf)
    StreamOps.incrementalAggQuery(src, sink)

    def snapshot(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getDecimal(1).toPlainString, r.getLong(2))).toMap
    val got = snapshot(sink.current)
    val want = snapshot(aggOf(ev))
    assert(got == want, "multi-batch incremental maintenance != full recompute")

    // at-least-once delivery: re-applying an already-seen batchId (a
    // foreachBatch retry) must not double-count
    sink.apply(ev.limit(50), 0L)
    assert(snapshot(sink.current) == want, "replayed batch was re-applied")
  }

  test("stateful streaming EWMA == batch ewma double-for-double on a shuffled replay") {
    implicit val s = spark
    import spark.implicits._
    val batch = EventOps.ewma(Tables.load(spark, sf, "events"),
      "user_id", "ts", "event_id", "value", 0.2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    val rows = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      .sortBy { case (u, t, id, _) => graft.functions.Vectors.planeMatrix(
        1, 1, u * 1000003L + id)(0)(0) } // seeded pseudo-shuffle
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val maxTs = rows.map(_._2.getTime).max
    val spanH = (maxTs - rows.map(_._2.getTime).min) / 3600000L + 2
    val sentinel = Seq((-1L, new java.sql.Timestamp(
      maxTs + (spanH + 2) * 3600000L), -1L, 0.0))

    val dir = StreamOps.tempStreamDir("graft_ewma_stream")
    def write(name: String, part: Seq[(Long, java.sql.Timestamp, Long, Double)]): Unit =
      part.toDF("user_id", "ts", "event_id", "value").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/in/$name")

    write("b1", half1)
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*")
      .withWatermark("ts", s"$spanH hours")
      .as[StreamOps.VEvent]
    val q = StreamOps.ewmaUpdates(src, 0.2).writeStream
      .outputMode("update").format("memory").queryName("ewma_stream").start()
    q.processAllAvailable()
    write("b2", half2)
    q.processAllAvailable()
    write("b3", sentinel)
    q.processAllAvailable()
    write("b4", sentinel)
    q.processAllAvailable()
    q.stop()

    // updates are cumulative → final per user = the max-n_events row
    val got = spark.table("ewma_stream")
      .filter(col("user_id") >= 0).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).maxBy(_._1) }
    assert(got.keySet == batch.keySet,
      s"user sets differ: ${got.keySet.diff(batch.keySet)} / ${batch.keySet.diff(got.keySet)}")
    got.foreach { case (u, (n, e)) =>
      assert(((n, e)) == batch(u),
        s"user $u: stream ($n, $e) != batch ${batch(u)}")
    }
  }

  test("stateful session counts == batch sessionize on a SHUFFLED two-batch replay") {
    implicit val s = spark
    import spark.implicits._
    val batch = EventOps.sessionize(Tables.load(spark, sf, "events"),
      "user_id", "ts", 30).select("user_id", "n_sessions", "n_events")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // deterministically shuffle events and split across two micro-batches:
    // arrival order is unrelated to event time, within AND across batches
    val rows = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
      .sortBy { case (u, t) => graft.functions.Vectors.planeMatrix(
        1, 1, u * 1000003L + t.getTime)(0)(0) } // seeded pseudo-shuffle
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val maxTs = rows.map(_._2.getTime).max
    val spanH = (maxTs - rows.map(_._2.getTime).min) / 3600000L + 2
    // sentinel past maxTs + delay + gap pushes the watermark far enough
    // to fire every user's event-time timeout and flush final counts
    val sentinel = Seq((-1L, new java.sql.Timestamp(
      maxTs + (spanH + 2) * 3600000L)))

    val dir = StreamOps.tempStreamDir("graft_sess_stream")
    def write(name: String, part: Seq[(Long, java.sql.Timestamp)]): Unit =
      part.toDF("user_id", "ts").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/in/$name")

    write("b1", half1)
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*")
      .withWatermark("ts", s"$spanH hours") // no real event is ever late
      .as[StreamOps.Event]
    val q = StreamOps.sessionCounts(src, 30).writeStream
      .outputMode("update").format("memory").queryName("sess_stream").start()
    q.processAllAvailable()
    write("b2", half2)
    q.processAllAvailable()
    write("b3", sentinel.toSeq)
    q.processAllAvailable()
    // one more empty-ish trigger so timeouts evaluate against the
    // sentinel-advanced watermark
    write("b4", sentinel.toSeq)
    q.processAllAvailable()
    q.stop()

    // updates are cumulative → final per user = the max-n_events row
    val got = spark.table("sess_stream")
      .filter(col("user_id") >= 0).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).maxBy(_._2) }
    assert(got == batch,
      s"missing=${batch.keySet -- got.keySet} " +
        s"diff=${got.filter { case (k, v) => batch.get(k).exists(_ != v) }.take(5)}")
  }

  test("streaming session paths == batch sessionPaths on a SHUFFLED two-batch replay") {
    implicit val s = spark
    import spark.implicits._
    val batch = EventOps.sessionPaths(Tables.load(spark, sf, "events"),
      "user_id", "ts", "event_id", "event_type", 30, minCount = 1L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val rows = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .sortBy { case (u, t, id, _) => graft.functions.Vectors.planeMatrix(
        1, 1, u * 1000003L + t.getTime + id)(0)(0) }
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val maxTs = rows.map(_._2.getTime).max
    val spanH = (maxTs - rows.map(_._2.getTime).min) / 3600000L + 2
    val sentinel = Seq((-1L, new java.sql.Timestamp(
      maxTs + (spanH + 2) * 3600000L), -1L, "x"))

    val dir = StreamOps.tempStreamDir("graft_path_stream")
    def write(name: String,
              part: Seq[(Long, java.sql.Timestamp, Long, String)]): Unit =
      part.toDF("user_id", "ts", "event_id", "event_type").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/in/$name")

    write("b1", half1)
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*")
      .withWatermark("ts", s"$spanH hours")
      .as[StreamOps.PEvent]
    val q = StreamOps.sessionPathUpdates(src, 30).writeStream
      .outputMode("update").format("memory").queryName("path_stream").start()
    q.processAllAvailable()
    write("b2", half2)
    q.processAllAvailable()
    write("b3", sentinel)
    q.processAllAvailable()
    write("b4", sentinel)
    q.processAllAvailable()
    q.stop()

    // every closed session is emitted exactly once → the path frequency
    // table must equal the batch operator's (at minCount = 1)
    val got = spark.table("path_stream")
      .filter(col("user_id") >= 0)
      .groupBy("path").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == batch,
      s"missing=${(batch.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- batch.keySet).take(3)} " +
        s"diff=${got.filter { case (k, v) => batch.get(k).exists(_ != v) }.take(3)}")
  }

  test("native session_window: streaming append emits a subset of the batch sessions, gap-merged identically") {
    val dir = StreamOps.tempStreamDir("graft_sw_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val src = Tables.normalizeEventTs(spark.readStream.schema(schema)
      .parquet(dir.toString))
    val q = StreamOps.sessionWindowCounts(
        src.withWatermark("ts", "1 hour"), "30 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sw_stream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sw_stream")
    val batch = StreamOps.sessionWindowCounts(
      Tables.normalizeEventTs(
        spark.read.schema(schema).parquet(dir.toString)), "30 minutes")
    // append-mode emits only watermark-closed sessions → containment,
    // and the bounded replay must still close a meaningful share
    assert(streamed.exceptAll(batch).count() == 0,
      "streaming emitted a session the batch gap-merge does not contain")
    assert(streamed.count() > 0, "no sessions closed before the watermark")
  }

  test("graded x_stream_window == batch tumbling aggregate; rerun-stable") {
    def run() = graft.queries.Ext16.queries("x_stream_window")(spark, sf)
    val got = run()
    val batch = Tables.load(spark, sf, "events").groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
    assert(got.exceptAll(batch).count() == 0 &&
      batch.exceptAll(got).count() == 0,
      "complete-mode streamed windows != batch tumbling aggregate")
    assert(run().exceptAll(got).count() == 0,
      "second invocation drifted (sink not reset)")
  }

  test("graded x_stream_sessions == batch gap-sessionize for EVERY user (sentinel flushes all)") {
    val got = graft.queries.Ext16.queries("x_stream_sessions")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = EventOps.sessionize(Tables.load(spark, sf, "events"),
      "user_id", "ts", 30).select("user_id", "n_sessions", "n_events")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == batch,
      s"missing=${(batch.keySet -- got.keySet).take(3)} " +
        s"diff=${got.filter { case (k, v) => batch.get(k).exists(_ != v) }.take(3)}")
  }

  test("graded x_stream_join == batch interval join census") {
    val ev = Tables.load(spark, sf, "events")
    val got = graft.queries.Ext16.queries("x_stream_join")(spark, sf)
    val batch = StreamOps.clickToPurchaseJoin(
        ev.filter(col("event_type") === "click")
          .select("user_id", "event_id", "ts"),
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "event_id", "ts"),
        "1 hour", windowMinutes = 120)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("lag_us")).as("min_lag_us"),
        sum(col("lag_us")).as("sum_lag_us"))
    assert(got.count() > 0, "no click->purchase pairs in fixture?")
    assert(got.exceptAll(batch).count() == 0 &&
      batch.exceptAll(got).count() == 0,
      "streamed conversion census != batch interval join")
  }

  test("graded x_stream_incremental == batch recompute across three micro-batches") {
    val got = graft.queries.Ext16.queries("x_stream_incremental")(spark, sf)
    val batch = Tables.load(spark, sf, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .select("event_type", "n_events", "total_value")
    assert(got.exceptAll(batch).count() == 0 &&
      batch.exceptAll(got).count() == 0,
      "maintained incremental aggregate != full recompute")
  }

  test("graded x_stream_session_window == batch session_window gap-merge (sentinel closes all)") {
    val got = graft.queries.Ext16.queries("x_stream_session_window")(spark, sf)
    val batch = StreamOps.sessionWindowCounts(
      Tables.load(spark, sf, "events").select("user_id", "ts"), "30 minutes")
    assert(got.count() > 0, "no sessions closed?")
    assert(got.exceptAll(batch).count() == 0 &&
      batch.exceptAll(got).count() == 0,
      "streamed native sessions != batch session_window")
  }

  test("graded x_stream_outer_join == batch left interval join census") {
    val ev = Tables.load(spark, sf, "events")
    val got = graft.queries.Ext16.queries("x_stream_outer_join")(spark, sf)
    val batch = StreamOps.clickToPurchaseJoin(
        ev.filter(col("event_type") === "click")
          .select("user_id", "event_id", "ts"),
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "event_id", "ts"),
        "1 hour", windowMinutes = 120, joinType = "leftOuter")
      .groupBy("user_id")
      .agg(count(col("purchase_id")).as("n_pairs"),
        count(when(col("purchase_id").isNull, lit(1))).as("n_orphans"))
    // a user with clicks but no purchases must appear with orphans only
    assert(got.filter(col("n_orphans") > 0).count() > 0,
      "fixture has no certified orphans — the outer path is untested")
    assert(got.exceptAll(batch).count() == 0 &&
      batch.exceptAll(got).count() == 0,
      "streamed outer census != batch left interval join")
  }

  test("graded x_stream_dedup census == batch distinct; rerun-stable (sink cleanup)") {
    // the graded entry must be callable repeatedly in one session (the
    // bench runs it 3×): the memory-sink temp view is dropped and
    // recreated each call, and the census is deterministic
    def run() = graft.queries.Ext16.queries("x_stream_dedup")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val first = run()
    val batch = Tables.load(spark, sf, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(first == batch,
      s"stream census != batch distinct: ${first.toSet.diff(batch.toSet).take(3)}")
    assert(run() == first, "second invocation drifted (sink not reset)")
  }

  test("graded x_stream_sink: parquet file sink + commit-log read-back == batch distinct; rerun-stable") {
    def run() = graft.queries.Ext16.queries("x_stream_sink")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val first = run()
    val batch = Tables.load(spark, sf, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(first == batch,
      s"file-sink census != batch distinct: ${first.toSet.diff(batch.toSet).take(3)}")
    // each invocation writes a fresh sink+checkpoint dir, so reruns are
    // independent exactly-once pipelines, not resumed ones
    assert(run() == first, "second invocation drifted")
  }

  test("graded x_stream_window_append == batch tumbling aggregate (every window watermark-closed)") {
    val got = graft.queries.Ext16.queries("x_stream_window_append")(spark, sf)
    val batch = Tables.load(spark, sf, "events").groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
    assert(got.count() > 0, "append mode emitted nothing — eviction never fired")
    assert(got.exceptAll(batch).count() == 0 &&
      batch.exceptAll(got).count() == 0,
      "append-mode finals != batch tumbling aggregate")
  }

  test("graded x_stream_restart: checkpoint recovery across a stop/restart == batch distinct") {
    val got = graft.queries.Ext16.queries("x_stream_restart")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Tables.load(spark, sf, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // equality proves all three recovery contracts at once: a replayed
    // batch-0 file or lost dedup state would inflate counts; a lost
    // sink commit would deflate them
    assert(got == batch,
      s"restart census != batch distinct: ${got.toSet.diff(batch.toSet).take(3)}")
  }

  test("graded x_stream_static_join == batch dimension join census") {
    val got = graft.queries.Ext16.queries("x_stream_static_join")(spark, sf)
    val ev = Tables.load(spark, sf, "events")
    val dim = Tables.load(spark, sf, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val batch = ev.join(dim, Seq("user_id"))
      .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
    assert(got.count() > 0, "no enriched rows?")
    assert(got.exceptAll(batch).count() == 0 &&
      batch.exceptAll(got).count() == 0,
      "streamed enrichment != batch dimension join")
  }

  test("graded x_stream_available_now drains all batches then self-terminates == batch recompute") {
    val got = graft.queries.Ext16.queries("x_stream_available_now")(spark, sf)
    val batch = Tables.load(spark, sf, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
    assert(got.exceptAll(batch).count() == 0 &&
      batch.exceptAll(got).count() == 0,
      "AvailableNow drain != batch recompute")
  }

  test("append-mode watermark eviction DROPS state rows (the 100 TB state bound)") {
    // replicate the graded append pipeline with the query handle exposed
    // so progress metrics are inspectable: after the sentinel advances
    // the watermark past every real window end, the engine emits the
    // finals AND evicts their state rows — numRowsTotal must fall to the
    // sentinel's open windows only
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_type"), col("ts"), col("value"))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val dir = StreamOps.tempStreamDir("graft_evict_spec")
    try {
      ev.coalesce(1).write.mode("overwrite").parquet(s"$dir/in/b1")
      val src = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*")
      val q = StreamOps.windowedCounts(src)
        .writeStream.outputMode("append")
        .format("memory").queryName("evict_spec_mem").start()
      try {
        q.processAllAvailable()
        // eviction is incremental — the engine's no-data batch after b1
        // already closes all but the last-10-min windows — so the PEAK
        // across progress events is what shows the state ever held the
        // open windows, and the final count shows they were dropped
        val peak = q.recentProgress
          .flatMap(_.stateOperators.map(_.numRowsTotal)).max
        Seq(("zzz_sentinel",
          new java.sql.Timestamp(maxTs.getTime + 3L * 3600000L), 0.0))
          .toDF("event_type", "ts", "value")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/in/b2")
        q.processAllAvailable()
        val after = q.lastProgress.stateOperators.head.numRowsTotal
        // all real (window, type) rows evicted; only the sentinel's own
        // (still-open) window remains
        assert(peak > 1,
          s"fixture peaked at only $peak state rows — eviction untestable")
        assert(after == 1,
          s"state rows peak=$peak -> $after: watermark eviction did not drop state")
      } finally q.stop()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("CRASH restart: kill mid-replay (stop, no drain) neither drops nor duplicates") {
    // x_stream_restart proves recovery across two CLEAN stops (each run
    // drained with processAllAvailable). This is the harder claim — the
    // one RocksDB checkpointing exists for (VERDICT r10 item 6): run 1
    // is KILLED while micro-batches are still pending (stop() with no
    // drain, 8 one-file batches staged), so an arbitrary strict prefix
    // of batches has committed — possibly with a state-store commit the
    // sink never saw. Run 2 is a new query on the same checkpoint + sink
    // and must finish the job: offsets resume exactly after the last
    // COMMITTED batch, interrupted batches replay from their logged
    // offsets against the restored state version, and the sink commit
    // log hides any torn file from the kill. The census must equal the
    // batch distinct EXACTLY, whatever prefix survived run 1.
    val pKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(pKey)
    spark.conf.set(pKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val bounds = ev.agg(min(col("ts")), max(col("ts"))).head()
    val spanH = (bounds.getTimestamp(1).getTime -
      bounds.getTimestamp(0).getTime) / 3600000L + 2
    val dir = StreamOps.tempStreamDir("graft_crash_restart")
    try {
      val (in, out, ckpt) = (s"$dir/in", s"$dir/out", s"$dir/ckpt")
      ev.repartition(8).write.mode("overwrite").parquet(in)
      // run 1 is THROTTLED (processing-time trigger) so the remaining
      // single-file batches are guaranteed still pending at kill time —
      // un-throttled, a fast box can commit all 8 before stop() lands,
      // silently degenerating this into the clean-restart case
      def start(throttle: Boolean = false) = {
        val src = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(in)
          .withColumn("fp", concat(col("user_id").cast("string"),
            lit("|"), col("event_type")))
        val w = StreamOps.streamingDedup(src, "ts", "fp", s"$spanH hours")
          .select(col("event_type"), col("fp"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
        (if (throttle) w.trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("500 milliseconds")) else w).start()
      }
      val q1 = start(throttle = true)
      // kill as soon as at least one micro-batch has committed — with 7
      // more single-file batches pending, stop() interrupts mid-replay
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (q1.recentProgress.length < 1 && q1.isActive &&
        System.nanoTime() < deadline) Thread.sleep(20)
      val committedBeforeKill = q1.recentProgress.length
      q1.stop() // NO processAllAvailable: batches are still pending
      info(s"killed run 1 after $committedBeforeKill committed micro-batches")
      // fail-soft: if every batch somehow committed anyway, the run no
      // longer exercises the mid-replay kill — cancel (don't pass) so
      // a green result always means the crash path actually ran
      assume(committedBeforeKill < 8,
        s"all $committedBeforeKill batches committed before the kill — " +
          "clean-restart degeneration; raise the throttle")
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val sunk = spark.read.parquet(out) // commit-log filtered read-back
      val dups = sunk.groupBy("fp").count()
        .filter(col("count") > 1).count()
      assert(dups == 0, s"$dups fingerprints duplicated across the restart")
      val want = ev.select(concat(col("user_id").cast("string"),
        lit("|"), col("event_type")).as("fp")).distinct().count()
      val gotN = sunk.count()
      assert(gotN == want,
        s"sink has $gotN rows, batch distinct is $want — restart " +
          (if (gotN < want) "dropped" else "duplicated") + " rows")
    } finally {
      prevProvider.fold(spark.conf.unset(pKey))(spark.conf.set(pKey, _))
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
