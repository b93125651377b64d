package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}

import graft.Tables
import graft.streaming.StreamOps

/** Round-9 wave — the graded STREAMING surface (VERDICT r08 item 7):
  * the streaming operators in [[graft.streaming.StreamOps]] were
  * ScalaTest-covered but carried no driver-graded query; this wave runs
  * a real Structured Streaming pipeline inside a graded entry — file
  * source → watermark → stateful dedup → memory sink — and grades its
  * final state against a batch-SQL oracle. The stream replays the SAME
  * driver parquet as every batch query, so the oracle is an ordinary
  * DuckDB aggregate. Every replay runs on the bounded-replay harness in
  * [[graft.streaming.StreamOps]] (`drain` for memory sinks; the file
  * sink, restart, crash-kill and foreachBatch flows share its
  * `withStreamConf` and `tempStreamDir`).
  */
object Ext16 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The driver's events table as a file-stream source. The file source
    * wants a DIRECTORY and the testdata table is a bare file, so this
    * streams the parent dir with a glob filter on the table.
    * normalizeEventTs, not a bare cast (ADVICE r09): it handles BOTH
    * physical ts layouts — TIMESTAMP_NTZ and LongType nanos — where a
    * cast would read nanos as SECONDS and silently break every
    * watermark on a nanos fixture. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/events.parquet").schema
    Tables.normalizeEventTs(s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d))
  }

  /** Hours spanned by `ev`'s ts, plus 2 — a watermark delay under which
    * no event of the fixture is ever late — and the fixture's max ts. */
  private def fixtureSpan(ev: DataFrame): (Long, java.sql.Timestamp) = {
    val b = ev.agg(min(col("ts")), max(col("ts"))).head()
    val (minTs, maxTs) = (b.getTimestamp(0), b.getTimestamp(1))
    ((maxTs.getTime - minTs.getTime) / 3600000L + 2, maxTs)
  }

  /** Stage `ev` (user_id, ts, then any other columns) together with ONE
    * sentinel event — user_id −1, ts (span + 2) h past max(ts), `extra`
    * for the other columns — and stream it back watermarked by the
    * fixture span, so no real event is late. Data + sentinel stage
    * TOGETHER (round 16): timeout-flushed and session-close emission is
    * batch-split invariant — the watermark a timeout or close is judged
    * against updates at end-of-batch regardless of which batch carried
    * the sentinel — so the replay is ONE data batch + the engine's
    * no-data batch that fires every real user's timeout / closes every
    * real session (processAllAvailable blocks through it). The previous
    * three-round drain ran 5 micro-batches at ~0.3 s of state-store
    * commit floor apiece. Callers filter the sentinel (user_id < 0) out
    * of the census. */
  private def sentinelReplay(s: SparkSession, ev: DataFrame, prefix: String,
                             extra: Column*): DataFrame = {
    import s.implicits._
    val (spanH, maxTs) = fixtureSpan(ev)
    val sentinelTs =
      new java.sql.Timestamp(maxTs.getTime + (spanH + 2) * 3600000L)
    val staged = ev.unionByName(Seq(-1L).toDF("user_id")
      .select(col("user_id") +: lit(sentinelTs).as("ts") +: extra: _*))
    val in = StreamOps.tempStreamDir(prefix).resolve("in").toString
    staged.write.mode("overwrite").parquet(in)
    s.readStream.schema(staged.schema).parquet(in)
      .withWatermark("ts", s"$spanH hours")
  }

  /** Watermarked dedup on the (user_id|event_type) fingerprint, keeping
    * the two census columns. */
  private def fpDedup(src: DataFrame, horizon: String): DataFrame =
    StreamOps.streamingDedup(
      src.withColumn("fp", concat(col("user_id").cast("string"),
        lit("|"), col("event_type"))), "ts", "fp", horizon)
      .select(col("event_type"), col("fp"))

  /** Surviving fingerprints per event type — every dedup census. */
  private def nKept(kept: DataFrame): DataFrame =
    kept.groupBy("event_type").agg(count(lit(1)).as("n_kept"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Small-file compaction graded end-to-end (round 14, VERDICT r13
    // item 7 — the last §2.11 warehouse-maintenance op without a graded
    // census): stage `orders` as the 64-tiny-file accretion a streaming
    // sink produces, run [[graft.sources.Warehouse.compact]] into ONE
    // file, and emit a census that pins BOTH halves of the contract —
    // layout changed (files_before/files_after, measured from the real
    // filesystem, must equal the staged/expected constants) and content
    // did not (row count + the tableDigest additive multiset hash over
    // the COMPACTED files == the oracle's census of the ORIGINAL
    // table; order-invariant by construction, so the round-robin
    // rewrite can't affect it). Columns render through engine-stable
    // forms (ints/strings/decimal — the x_table_digest discipline).
    // Temp dirs ride the same exit-time sweep as the stream replays.
    "x_compact" -> ((s, d) => {
      val dir = StreamOps.tempStreamDir("graft_x_compact")
      val in = dir.resolve("in").toString
      val out = dir.resolve("out").toString
      val cols = Seq(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
      t(s, d, "orders").select(cols: _*)
        .repartition(64)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(in)
      val (before, after, _) =
        graft.sources.Warehouse.compact(s, in, out, Long.MaxValue / 4)
      graft.sources.Warehouse.tableDigest(
          s.read.parquet(out), "o_orderkey", nBuckets = 1)
        .select(lit(before).as("files_before"), lit(after).as("files_after"),
          col("n_rows"), col("digest"))
    }),

    // MIPS served THROUGH the cosine IVF index via the
    // Bachrach/Neyshabur norm augmentation — the 100 TB path x_mips
    // documents, graded end to end: every corpus vector gains
    // sqrt(M² − ‖x‖²) as a 65th component (so every augmented norm is
    // exactly M), every query a zero pad (augmented dot = raw inner
    // product), and the UNCHANGED Similarity.ivfTopK (portable k-means
    // at dim=65, nProbe=4, exact augmented-cosine rerank — augmented
    // cosine ORDER is inner-product order) serves unnormalized
    // retrieval. The oracle splices the augmentation arithmetic into
    // the shared k-means replay (Ext.dKmeansChain at dim=65).
    "x_mips_ann" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      // persist the augmented corpus (the pqTopK cache discipline,
      // released by the harness's CheckpointBlocks.releaseAll): the
      // k-means fit + assignment + rerank otherwise re-derive the
      // augmentation — INCLUDING its 1-row corpus-max aggregate — in
      // every one of their ~6 corpus passes
      val corpus = graft.operators.Similarity.mipsAugment(
        e, "vec_id", "embedding")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qs = graft.operators.Similarity.mipsAugmentQuery(
        e.filter(col("vec_id") < 10), "vec_id", "embedding")
      graft.operators.Similarity.ivfTopK(qs, corpus,
        "id", "v_aug", "id", "v_aug", k = 5)
    }),

    // the decimal-σ Brandes path graded end-to-end (round 13): sigma
    // and cq ride decimal(38,0) — the remediation the long path's
    // overflow refusal names — on a 10%-supplier sub-graph with a
    // 3-hop horizon (the decimal pipeline's integer values are
    // BIT-IDENTICAL to the long path's, so the shared HUGEINT oracle
    // grades both; GraphsSpec pins the equality and the σ-explosive
    // completion the long path refuses)
    "x_betweenness_dec" -> ((s, d) =>
      graft.operators.Graphs.landmarkBetweenness(
        t(s, d, "lineitem").filter(col("l_suppkey") % 10 === 0).select(
          concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst")),
        "src", "dst", k = 4, maxHops = 3, decimalSigma = true)),

    // ingest-time exact dedup as an actual streaming job:
    // readStream(events) → withWatermark(1h) →
    // dropDuplicatesWithinWatermark(fingerprint) → append memory sink.
    // The kept-row SET is arrival-order-dependent in its non-key
    // columns, so the GRADED output is the order-INVARIANT census: rows
    // surviving dedup per event_type == distinct fingerprints per
    // event_type (fp = user|type), which DuckDB computes as a plain
    // COUNT(DISTINCT). The whole file arrives in one micro-batch
    // (watermark still at epoch), so no row can be late-dropped and the
    // census is deterministic. 100 TB shape: dedup state is bounded by
    // the 1 h watermark horizon, not stream length — the
    // dropDuplicatesWithinWatermark contract (StreamingSpec pins
    // eviction); the memory sink stands in for the production
    // parquet/Delta append sink.
    "x_stream_dedup" -> ((s, d) =>
      nKept(StreamOps.drain(s, fpDedup(eventsStream(s, d), "1 hour"),
        "x_stream_dedup_mem", "append"))),

    // event-time tumbling-window aggregation as an actual streaming job:
    // readStream(events) → withWatermark(10 min) → groupBy(window 1h,
    // type) → COMPLETE-mode memory sink. Complete mode re-emits the full
    // aggregate each trigger, so the sink's final table IS the total
    // windowed aggregate — order-invariant by construction (counts and
    // an exact DECIMAL sum surfaced as DOUBLE), hence a plain batch
    // GROUP BY oracle. 100 TB shape: streaming agg state is one row per
    // open (window, type) — bounded by the watermark horizon — and a
    // production job uses append mode into a parquet/Delta sink;
    // complete+memory is the bounded-replay harness.
    "x_stream_window" -> ((s, d) =>
      StreamOps.drain(s, StreamOps.windowedCounts(eventsStream(s, d)),
        "x_stream_window_mem", "complete")),

    // the streaming FILE SINK graded end-to-end (VERDICT r09 item 3):
    // the same watermarked dedup as x_stream_dedup, but appended to a
    // real `writeStream.format("parquet")` sink with a checkpoint dir —
    // the exactly-once file-commit protocol a production pipeline uses
    // (memory sinks stood in through round 9). The census then READS THE
    // COMMITTED FILES BACK: a batch read of a streaming file-sink
    // directory consults the sink's `_spark_metadata` commit log, so
    // only files whose batch committed are visible — grading that
    // read-back pins the at-most-once visibility half of exactly-once
    // (a torn/uncommitted file can never enter the census).
    "x_stream_sink" -> ((s, d) => {
      val deduped = fpDedup(eventsStream(s, d), "1 hour")
      val dir = StreamOps.tempStreamDir("graft_x_stream_sink")
      val (out, ckpt) = (s"$dir/out", s"$dir/ckpt")
      StreamOps.withStreamConf(s, 8) {
        val q = deduped.writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .start()
        try { q.processAllAvailable() } finally { q.stop() }
      }
      nKept(s.read.parquet(out))
    }),

    // CHECKPOINT RESTART graded end-to-end — the recovery half of
    // exactly-once that x_stream_sink's commit log can't exercise alone:
    // run 1 dedups half the fixture (even user ids) into a parquet sink
    // + checkpoint and STOPS; run 2 is a NEW query object on the SAME
    // checkpoint + sink, fed the FULL fixture (every run-1 row again).
    // Three recovery contracts must all hold for the census to match:
    // (a) source offsets resume — run 1's files are not reprocessed;
    // (b) the RocksDB dedup state RESTORES — run 1's fingerprints drop
    // their re-arrivals in run 2; (c) the sink commit log survives — a
    // re-listed batch-0 file would double-count. The watermark horizon
    // spans the fixture (the proven sessions recipe) so nothing is late
    // across the restart, and the final census is the plain batch
    // COUNT(DISTINCT) whatever the split.
    "x_stream_restart" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val (spanH, _) = fixtureSpan(ev)
      val dir = StreamOps.tempStreamDir("graft_x_stream_restart")
      val (out, ckpt) = (s"$dir/out", s"$dir/ckpt")
      ev.filter(pmod(col("user_id"), lit(2)) === 0)
        .write.mode("overwrite").parquet(s"$dir/in/b1")
      def start() =
        fpDedup(s.readStream.schema(ev.schema).parquet(s"$dir/in/*"),
            s"$spanH hours")
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .start()
      StreamOps.withStreamConf(s, 8) {
        val q1 = start()
        try { q1.processAllAvailable() } finally { q1.stop() }
        ev.write.mode("overwrite").parquet(s"$dir/in/b2")
        val q2 = start()
        try { q2.processAllAvailable() } finally { q2.stop() }
      }
      nKept(s.read.parquet(out))
    }),

    // CRASH restart graded (VERDICT r11 item 3) — the harder half of
    // recovery that x_stream_restart's two CLEAN stops can't exercise:
    // the fixture is staged as 8 one-file micro-batches, run 1 is
    // THROTTLED (500 ms processing-time trigger, so batches are
    // guaranteed still pending) and KILLED — stop() with NO drain — as
    // soon as ≥1 micro-batch commits. An arbitrary strict prefix of
    // batches has committed, possibly with a RocksDB state-store commit
    // the sink never saw and a torn in-flight file. Run 2 is a new
    // query on the same checkpoint + sink and must finish the job:
    // offsets resume after the last COMMITTED batch, the interrupted
    // batch replays from its logged offsets against the restored state
    // version, and the parquet sink's commit log hides any torn file
    // from the read-back. The census must equal the batch
    // COUNT(DISTINCT) whatever prefix survived the kill — this is the
    // 1000-executor preemption/OOM-kill recovery contract, graded.
    // (StreamingSpec proves the same recipe with progress assertions;
    // here the kill point is uncontrolled and the census alone grades.)
    "x_stream_crash_restart" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val (spanH, _) = fixtureSpan(ev)
      val dir = StreamOps.tempStreamDir("graft_x_stream_crash")
      val (out, ckpt) = (s"$dir/out", s"$dir/ckpt")
      ev.repartition(8).write.mode("overwrite").parquet(s"$dir/in")
      def start(throttle: Boolean) = {
        // run 1 throttles admission to one file per micro-batch so the
        // kill is guaranteed to land mid-replay; run 2 drains the
        // remainder UNthrottled in one batch (round 16, was ~7 more
        // one-file batches × an 8-partition state-store commit each).
        // Source admission options are not part of the checkpoint:
        // the interrupted batch replays exactly from its logged
        // offsets, then the new rate applies — exactly-once unchanged,
        // which is precisely what the census grades.
        val base = s.readStream.schema(ev.schema)
        val src = (if (throttle) base.option("maxFilesPerTrigger", "1")
          else base).parquet(s"$dir/in")
        val w = fpDedup(src, s"$spanH hours")
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
        (if (throttle) w.trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("500 milliseconds")) else w).start()
      }
      StreamOps.withStreamConf(s, 8) {
        val q1 = start(throttle = true)
        // kill at the first committed micro-batch; the 60 s deadline is
        // a liveness backstop only — if it fires with zero commits, run
        // 2 simply does all the work and the census is unchanged
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (q1.recentProgress.length < 1 && q1.isActive &&
          System.nanoTime() < deadline) Thread.sleep(20)
        q1.stop() // NO processAllAvailable: mid-replay kill
        val q2 = start(throttle = false)
        try { q2.processAllAvailable() } finally { q2.stop() }
      }
      nKept(s.read.parquet(out))
    }),

    // stream-STATIC broadcast join — the enrichment staple every
    // production ingest runs (stream ⋈ dimension table): stateless, so
    // append mode needs no watermark and no state store; the static
    // side is explicitly broadcast (a 100 TB stream never shuffles
    // against a dimension that fits executors). Census per (segment,
    // type) == the batch join, which DuckDB replays directly.
    "x_stream_static_join" -> ((s, d) => {
      val dim = t(s, d, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val joined = eventsStream(s, d).join(broadcast(dim), Seq("user_id"))
      StreamOps.drain(s, joined, "x_stream_static_join_mem", "append")
        .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
    }),

    // Trigger.AvailableNow graded — the production BACKFILL mode: drain
    // everything currently available under the source's rate limits
    // (maxFilesPerTrigger=1 forces three real micro-batches here), then
    // self-terminate; awaitTermination() returning IS the trigger
    // contract. Complete-mode aggregate census == the batch GROUP BY.
    "x_stream_available_now" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_type"), col("value"))
      val dir = StreamOps.tempStreamDir("graft_x_stream_avnow")
      ev.repartition(3).write.mode("overwrite").parquet(s"$dir/in")
      val agg = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
      StreamOps.drain(s, agg, "x_stream_available_now_mem", "complete",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        drive = _.awaitTermination())
    }),

    // APPEND-mode windowed aggregation with watermark EVICTION (VERDICT
    // r09 item 4): x_stream_window grades complete mode, which re-emits
    // the whole result table each trigger — a census harness, unbounded
    // at scale. Production windowed aggregation runs APPEND mode: a
    // (window, type) row is emitted ONCE, when the watermark passes the
    // window end, and its state row is then EVICTED — the path that
    // bounds streaming-agg state at 100 TB. The bounded replay stages
    // the fixture as batch 1, then a sentinel event 3 h past max(ts)
    // (>> window 1 h + delay 10 min) as batch 2: the advanced watermark
    // closes EVERY real window in the engine's no-data batch, so the
    // appended finals equal the batch tumbling aggregate exactly. The
    // sentinel's own window can never close (watermark stops 10 min
    // short of it) and is filtered out. StreamingSpec asserts the state
    // rows actually DROP after eviction.
    "x_stream_window_append" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select(col("event_type"), col("ts"), col("value"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val dir = StreamOps.tempStreamDir("graft_x_stream_wapp")
      // this query keeps the TWO-ROUND replay on purpose (round 16):
      // with the other sentinel replays folded into their staging
      // batch, this is the graded path that still exercises IN-FLIGHT
      // file discovery — a file landing while the query runs. The
      // staging write is parallel (no coalesce) and unthrottled (no
      // maxFilesPerTrigger): b1's files drain as one batch.
      ev.write.mode("overwrite").parquet(s"$dir/in/b1")
      val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 3L * 3600000L)
      val src = s.readStream.schema(ev.schema)
        .parquet(s"$dir/in/*")
      StreamOps.drain(s, StreamOps.windowedCounts(src),
        "x_stream_window_append_mem", "append", drive = { q =>
          q.processAllAvailable()
          Seq(("zzz_sentinel", sentinelTs, 0.0))
            .toDF("event_type", "ts", "value")
            .coalesce(1).write.mode("overwrite").parquet(s"$dir/in/b2")
          q.processAllAvailable()
        }).filter(col("event_type") =!= "zzz_sentinel")
    }),

    // stateful sessionization (flatMapGroupsWithState, event-time
    // timeouts) graded end-to-end: the bounded replay stages the events
    // with a sentinel past maxTs + delay + gap (exactly how production
    // streams see counts flush as users go idle — StreamOps.sessionCounts
    // scaladoc; [[sentinelReplay]] holds the one-batch staging), and
    // the final per-user (n_sessions, n_events) equals the batch
    // gap-sessionization, which DuckDB replays with one window LAG. The
    // replay watermark spans the whole fixture so no event is ever late
    // (state = one gap-window buffer per user; production uses a real
    // horizon, e.g. 1 h, bounding state by the watermark, not stream
    // length — the spec's eviction pins hold there).
    "x_stream_sessions" -> ((s, d) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val src = sentinelReplay(s,
        t(s, d, "events").select(col("user_id"), col("ts")),
        "graft_x_stream_sess").as[StreamOps.Event]
      // updates are cumulative → final per user = the max-n_events row
      StreamOps.drain(s, StreamOps.sessionCounts(src, gapMinutes = 30).toDF(),
          "x_stream_sessions_mem", "update")
        .filter(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("n_sessions"))).as("fin"))
        .select(col("user_id"),
          col("fin.n_sessions").as("n_sessions"),
          col("fin.n_events").as("n_events"))
    }),

    // stream-stream interval join graded end-to-end: click and purchase
    // streams (two file sources over the same fixture) joined within a
    // 120-minute conversion window, watermarks on BOTH sides so join
    // state expires — the production attribution-join shape. Inner mode
    // emits every in-window pair exactly once on a bounded replay
    // (StreamingSpec pins stream ≡ batch join), so the per-user
    // conversion census is order-invariant and DuckDB replays it as a
    // plain self-join.
    "x_stream_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val dir = StreamOps.tempStreamDir("graft_x_stream_join")
      for (side <- Seq("click", "purchase"))
        ev.filter(col("event_type") === side)
          .select(col("user_id"), col("event_id"), col("ts"))
          .write.mode("overwrite").parquet(s"$dir/$side")
      def src(side: String) = s.readStream
        .schema(s.read.parquet(s"$dir/$side").schema).parquet(s"$dir/$side")
      val joined = StreamOps.clickToPurchaseJoin(
        src("click"), src("purchase"), "1 hour", windowMinutes = 120)
      // 8 partitions kept (round 16, measured): a 4-partition scope —
      // the outer join's rationale, four state stores per partition —
      // A/B'd FLAT here (3.53 vs 3.50 s at comparable probes): fewer
      // commits but proportionally more rows per commit on the
      // data-carrying batch. The r13 8-partition default stands.
      StreamOps.drain(s, joined, "x_stream_join_mem", "append")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          min(col("lag_us")).as("min_lag_us"),
          sum(col("lag_us")).as("sum_lag_us"))
    }),

    // foreachBatch incremental view maintenance graded end-to-end: the
    // fixture replays as THREE micro-batches (maxFilesPerTrigger=1 over
    // a 3-file staging), each partially aggregated and merged into the
    // maintained result via Evolve.mergeAggregates — refresh cost
    // O(|batch|), never O(|history|). Counts and exact DECIMAL sums
    // merge associatively, so the maintained table equals the batch
    // recompute whatever the file split — the DuckDB oracle is the
    // recompute.
    "x_stream_incremental" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_type"), col("value"))
      def aggOf(df: DataFrame): DataFrame =
        df.groupBy("event_type").agg(
          sum(col("value").cast("decimal(18,2)")).as("tv"),
          count(lit(1)).as("n_events"))
      val dir = StreamOps.tempStreamDir("graft_x_stream_incr")
      ev.repartition(3).write.mode("overwrite").parquet(s"$dir/in")
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      val sink = new StreamOps.IncrementalAggSink("event_type", aggOf)
      StreamOps.withStreamConf(s, 8) { StreamOps.incrementalAggQuery(src, sink) }
      sink.current.select(col("event_type"), col("n_events"),
        col("tv").cast("double").as("total_value"))
    }),

    // Spark's NATIVE session_window (engine-managed session state, the
    // RocksDB-ready declarative sessionizer) graded in append mode: a
    // session emits once the watermark passes its close, so the replay
    // stages a sentinel past maxTs + delay + gap and EVERY real
    // session closes in the engine's no-data batch. Boundary semantics
    // differ from the custom sessionizer on purpose and the oracle
    // encodes them: session windows are [start, last+gap), so a gap of
    // EXACTLY 30 min starts a NEW session (>=), where
    // flatMapGroupsWithState's strict > keeps it — grading both pins
    // both contracts.
    "x_stream_session_window" -> ((s, d) => {
      val src = sentinelReplay(s,
        t(s, d, "events").select(col("user_id"), col("ts")),
        "graft_x_stream_swin")
      StreamOps.drain(s, StreamOps.sessionWindowCounts(src, "30 minutes"),
          "x_stream_session_window_mem", "append")
        .filter(col("user_id") >= 0)
    }),

    // the OUTER stream-stream interval join: unmatched clicks emit a
    // null-joined row only once the watermark PROVES no in-window
    // purchase can still arrive — the state-expiry certificate every
    // production outer join needs. Both sides replay with a sentinel
    // (the join watermark is the min across sides), so every real
    // click either matches or is certified orphan; the census is
    // order-invariant and DuckDB replays it as a batch LEFT JOIN.
    // Replay shape (round 16): data + sentinel stage TOGETHER before
    // the query starts — orphan emission is batch-split invariant (a
    // click emits exactly once, when the joint watermark certifies it),
    // so folding the sentinel into the data batch changes no output,
    // and the whole replay is ONE data batch + the engine's no-data
    // certify batch. The previous two-round drain ran 5 micro-batches
    // (StreamProbe: the two sentinel files landed in SEPARATE batches —
    // the continuously-triggering query discovers files as they appear
    // — plus an eviction no-data batch, each extra batch ~0.8 s: 16
    // RocksDB commits at 4 partitions × 4 join stores). In-flight file
    // discovery stays graded via x_stream_window_append's two-round
    // replay.
    "x_stream_outer_join" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val bounds = ev.agg(max(col("ts"))).head()
      val farTs = new java.sql.Timestamp(
        bounds.getTimestamp(0).getTime + 6L * 3600000L)
      val dir = StreamOps.tempStreamDir("graft_x_stream_ojoin")
      for (side <- Seq("click", "purchase"))
        ev.filter(col("event_type") === side)
          .select(col("user_id"), col("event_id"), col("ts"))
          .unionByName(Seq((-1L, -1L, farTs))
            .toDF("user_id", "event_id", "ts"))
          .write.mode("overwrite").parquet(s"$dir/$side")
      val schema = StructType(Seq(StructField("user_id", LongType),
        StructField("event_id", LongType), StructField("ts", TimestampType)))
      // no maxFilesPerTrigger: each side's files land in one batch,
      // and every extra micro-batch costs a full state-store commit
      def src(side: String) = s.readStream.schema(schema)
        .parquet(s"$dir/$side")
      val joined = StreamOps.clickToPurchaseJoin(
        src("click"), src("purchase"), "1 hour", windowMinutes = 120,
        joinType = "leftOuter")
      // 4 partitions: the outer join keeps FOUR state stores per
      // partition (keyToValue + keyWithIndexToValue per side), so its
      // per-batch commit cost is double every other stateful shape.
      // The sentinel rows ride batch 0; its end-of-batch watermark (min
      // across sides) passes every real click's window, and the
      // engine's no-data batch then certifies and emits each orphan —
      // the drain blocks through that batch (stream-stream join's
      // shouldRunAnotherBatch on watermark advance)
      StreamOps.drain(s, joined, "x_stream_outer_join_mem", "append",
          partitions = 4)
        .filter(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(count(col("purchase_id")).as("n_pairs"),
          count(when(col("purchase_id").isNull, lit(1))).as("n_orphans"))
    }),

    // streaming EWMA (flatMapGroupsWithState, event-time timeouts) graded
    // end-to-end — the last StreamOps operator without a CORRECTNESS row
    // (VERDICT r10 item 1): per-user exponentially decayed activity whose
    // timeout-flushed fold replays the batch operator's IEEE ops
    // double-for-double (StreamOps.ewmaUpdates scaladoc), so the final
    // per-user (n_events, ewma) equals the batch x_ewma EXACTLY and the
    // DuckDB list_reduce oracle transfers unchanged. Replay recipe is the
    // proven x_stream_sessions shape ([[sentinelReplay]]): fixture +
    // watermark-advancing sentinel as one staged batch (watermark spans
    // the fixture — nothing is late), and the engine's no-data batch
    // fires every user's event-time timeout. Updates are
    // cumulative (n_events strictly grows per emission), so the final
    // row per user is the max-(n_events) struct — order-invariant.
    // 100 TB shape: state folds to two numbers per idle user, buffer
    // bounded by the watermark horizon; RocksDB via withStreamConf.
    "x_stream_ewma" -> ((s, d) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val src = sentinelReplay(s,
        t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("value")),
        "graft_x_stream_ewma", lit(-1L).as("event_id"), lit(0.0).as("value"))
        .as[StreamOps.VEvent]
      StreamOps.drain(s, StreamOps.ewmaUpdates(src, alpha = 0.2).toDF(),
          "x_stream_ewma_mem", "update")
        .filter(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("ewma"))).as("fin"))
        .select(col("user_id"),
          col("fin.n_events").as("n_events"),
          col("fin.ewma").as("ewma"))
    }),

    // streaming session-path mining graded end-to-end — the other
    // formerly ungraded StreamOps operator (VERDICT r10 item 1): each
    // CLOSED session emits exactly once as the watermark advances
    // (the timeout sorts the buffer by (ts, event_id) — the batch
    // operator's exact order — splits on the strict 30-min gap, and
    // never re-emits: state keeps lastUs with an empty buffer). The
    // path-frequency census therefore equals the batch x_event_paths
    // table and its DuckDB oracle transfers unchanged, >= 3 floor
    // included. Same sentinel replay as x_stream_ewma. 100 TB shape:
    // state folds to one number per idle user; paths stream out
    // incrementally instead of accumulating.
    "x_stream_paths" -> ((s, d) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val src = sentinelReplay(s,
        t(s, d, "events").select(col("user_id"), col("ts"), col("event_id"),
          col("event_type")),
        "graft_x_stream_paths", lit(-1L).as("event_id"),
        lit("x").as("event_type"))
        .as[StreamOps.PEvent]
      StreamOps.drain(s, StreamOps.sessionPathUpdates(src, gapMinutes = 30).toDF(),
          "x_stream_paths_mem", "update")
        .filter(col("user_id") >= 0)
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .filter(col("n_sessions") >= 3)
    }),
  )

  // ---------------------------------------------------------------- SQL

  val oracle: Map[String, String] = Map(

    // compaction is layout-only: the oracle censuses the ORIGINAL
    // orders table (it never sees the engine's staged/compacted files)
    // with the same '|'-joined rendering and additive multiset hash as
    // x_table_digest, collapsed to one global bucket; the file counts
    // are the contract's constants (64 staged → 1 target file), which
    // the engine must MEASURE back from the filesystem
    "x_compact" ->
      """SELECT 64 AS files_before, 1 AS files_after,
                count(*) AS n_rows,
                CAST(sum(('0x' || substr(md5(o_orderkey::VARCHAR || '|' ||
                                             o_custkey::VARCHAR || '|' ||
                                             o_orderstatus || '|' ||
                                             (o_totalprice::DECIMAL(18,2))::VARCHAR),
                                         1, 13))::BIGINT)
                     % 2305843009213693951 AS BIGINT) AS digest
         FROM orders""",

    // the augmentation arithmetic spliced into the shared portable
    // k-means replay at dim=65: corpus rows gain sqrt(M²−‖v‖²), query
    // rows a 0.0 pad, then the x_ann_ivf probe/rerank recurrence
    // verbatim (queries score against cent2 separately because their
    // augmented vector differs from the corpus row with the same id)
    "x_mips_ann" -> {
      val (nProbe, k) = (4, 5)
      s"""WITH e0 AS (SELECT vec_id,
                             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                      FROM embeddings),
          n0 AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e0),
          mx AS (SELECT max(n2) AS m2 FROM n0),
          e AS (SELECT vec_id, list_append(v, sqrt(greatest(m2 - n2, 0.0))) AS v
                FROM n0 CROSS JOIN mx),
          nn AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm FROM e),
          q AS (SELECT vec_id, list_append(v, 0.0) AS qv FROM e0 WHERE vec_id < 10),
          nq AS (SELECT vec_id, sqrt(list_dot_product(qv, qv)) AS nrm FROM q),
          ${Ext.dKmeansChain(65)},
          sq AS (SELECT q.vec_id, q.qv, c.list,
                        list_dot_product(c.c, c.c) - 2.0 * list_dot_product(q.qv, c.c) AS s
                 FROM q CROSS JOIN cent2 c),
          probes AS (SELECT vec_id AS query_id, qv, list FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s, list) AS rn
                      FROM sq) WHERE rn <= $nProbe),
          scored AS (SELECT p.query_id, l.neighbor_id,
                            CASE WHEN qn.nrm * cn.nrm <> 0
                                 THEN list_dot_product(p.qv, l.cv) / (qn.nrm * cn.nrm)
                            END AS cos
                     FROM listed l JOIN probes p USING (list)
                          JOIN nq qn ON qn.vec_id = p.query_id
                          JOIN nn cn ON cn.vec_id = l.neighbor_id),
          ranked AS (SELECT *, row_number() OVER
                          (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
                     FROM scored)
          SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
          FROM ranked WHERE rank <= $k"""
    },

    // shared HUGEINT Brandes replay (see Ext.dBetweennessOracle): the
    // decimal path's integers are bit-identical to the long path's
    "x_betweenness_dec" ->
      Ext.dBetweennessOracle("WHERE l_suppkey % 10 = 0", 4, 3),

    // the streamed dedup's survivors per type ARE the distinct
    // (user, type) fingerprints per type — a batch aggregate
    "x_stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_kept
         FROM events GROUP BY event_type""",

    // the complete-mode windowed aggregate IS the batch tumbling GROUP BY
    "x_stream_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                event_type,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",

    // the file-sink census survives the commit-log read-back unchanged:
    // committed rows per type == distinct fingerprints per type
    "x_stream_sink" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_kept
         FROM events GROUP BY event_type""",

    // restart-recovered dedup over (half, then full) fixture == one
    // batch COUNT(DISTINCT): offsets resumed, state restored, commit
    // log honored — any recovery failure breaks the equality
    "x_stream_restart" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_kept
         FROM events GROUP BY event_type""",

    // kill-mid-replay recovery: whatever batch prefix survived the
    // un-drained stop, the resumed query's commit-log-filtered sink
    // must equal the same batch COUNT(DISTINCT) — any dropped offset,
    // unrestored state version, or torn file breaks the equality
    "x_stream_crash_restart" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_kept
         FROM events GROUP BY event_type""",

    // the stream-static broadcast enrichment == the batch join
    "x_stream_static_join" ->
      """SELECT c.c_mktsegment AS segment, e.event_type,
                count(*) AS n_events,
                CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
                  AS total_value
         FROM events e JOIN customer c ON c.c_custkey = e.user_id
         GROUP BY 1, 2""",

    // AvailableNow's drained aggregate == the batch GROUP BY
    "x_stream_available_now" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS total_value
         FROM events GROUP BY 1""",

    // append-mode finals with every window watermark-closed == the same
    // batch tumbling aggregate complete mode grades
    "x_stream_window_append" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                event_type,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",

    // batch gap-sessionization: a session opens where the strict gap to
    // the previous event exceeds 30 min (µs-exact, the engine's test);
    // FILTER keeps the count a plain BIGINT
    "x_stream_sessions" ->
      """WITH per AS (
           SELECT user_id, ts,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events)
         SELECT user_id,
                count(*) FILTER (WHERE prev IS NULL
                  OR epoch_us(ts) - epoch_us(prev) > 1800000000) AS n_sessions,
                count(*) AS n_events
         FROM per GROUP BY user_id""",

    // the inner interval join replayed as a batch self-join
    "x_stream_join" ->
      """SELECT c.user_id AS user_id,
                count(*) AS n_pairs,
                min(epoch_us(p.ts) - epoch_us(c.ts)) AS min_lag_us,
                CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS sum_lag_us
         FROM events c JOIN events p
           ON p.user_id = c.user_id
          AND p.ts >= c.ts
          AND p.ts < c.ts + INTERVAL 120 MINUTE
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
         GROUP BY 1""",

    // incremental maintenance == full recompute
    "x_stream_incremental" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1""",

    // native session windows are [start, last+gap): a gap of EXACTLY
    // the 30-min threshold starts a NEW session (>=), unlike the custom
    // sessionizer's strict >; session end = last event + gap
    "x_stream_session_window" ->
      """WITH o AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                           >= 1800000000
                       THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         g AS (
           SELECT user_id, ts,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
           FROM o)
         SELECT user_id,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                strftime(max(ts) + INTERVAL 30 MINUTE,
                         '%Y-%m-%d %H:%M:%S') AS session_end,
                count(*) AS n_events
         FROM g GROUP BY user_id, sid""",

    // the watermark-certified outer join replayed as a batch LEFT JOIN
    "x_stream_outer_join" ->
      """WITH c AS (SELECT user_id, event_id, ts FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase'),
         j AS (SELECT c.user_id AS user_id, p.event_id AS pid
               FROM c LEFT JOIN p
                 ON p.user_id = c.user_id
                AND p.ts >= c.ts
                AND p.ts < c.ts + INTERVAL 120 MINUTE)
         SELECT user_id,
                count(pid) AS n_pairs,
                count(*) FILTER (WHERE pid IS NULL) AS n_orphans
         FROM j GROUP BY user_id""",

    // the timeout-flushed streaming EWMA == the batch x_ewma fold,
    // double-for-double (same IEEE op order): list_reduce's first
    // element is the accumulator seed, so prepending 0.0 reproduces
    // the s = s*(1-α) + α·x recurrence exactly
    "x_stream_ewma" ->
      """WITH per AS (SELECT user_id, count(*) AS n,
                             list(value ORDER BY ts, event_id) AS xs
                      FROM events GROUP BY user_id)
         SELECT user_id, CAST(n AS BIGINT) AS n_events,
                list_reduce(list_prepend(CAST('0.0' AS DOUBLE), xs),
                  (a, x) -> a * (CAST('1.0' AS DOUBLE) - CAST('0.2' AS DOUBLE))
                            + CAST('0.2' AS DOUBLE) * x) AS ewma
         FROM per""",

    // every closed session emits exactly once, in the batch operator's
    // (ts, event_id) order with the strict 30-min gap cut — so the
    // streamed path-frequency table == the batch x_event_paths oracle,
    // >= 3 floor included
    "x_stream_paths" ->
      """WITH g AS (SELECT user_id, ts, event_id, event_type,
                    CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
                         THEN 1 ELSE 0 END AS new_s
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
               FROM g),
         p AS (SELECT user_id, sid,
                      string_agg(event_type, '>' ORDER BY ts, event_id) AS path
               FROM s GROUP BY user_id, sid)
         SELECT path, count(*) AS n_sessions FROM p
         GROUP BY path HAVING count(*) >= 3""",
  )
}
