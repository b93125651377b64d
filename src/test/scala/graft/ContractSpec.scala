package graft

/** Driver-contract consistency: the gate silently downgrades any query
  * whose oracle key doesn't match (rows-only check instead of
  * hash-compare), and a duplicate query name across two query sets
  * would silently shadow one implementation — both must be build failures
  * here, not silent grade losses. */
class ContractSpec extends SparkSpec {

  test("every oracle key names an existing query (no typo'd keys)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("every query set's names are unique across all sets") {
    // `toMap` keeps the last of two equal names, so a collision would
    // silently drop one implementation (or oracle) from the registry
    val names = SparkEntry.sets.flatMap(_.queries.keys)
    val oracles = SparkEntry.sets.flatMap(_.oracle.keys)
    def dupes(ns: Seq[String]) = ns.diff(ns.distinct).toSet
    assert(SparkEntry.sets.size == 17)
    assert(dupes(names).isEmpty, s"shadowed queries: ${dupes(names)}")
    assert(dupes(oracles).isEmpty, s"shadowed oracles: ${dupes(oracles)}")
    assert(names.sorted == oracles.sorted, "a query without its oracle")
  }

  test("Parity/Ext/Ext2 query names don't collide") {
    val e2q = (graft.queries.Parity.queries.keySet ++
      graft.queries.Ext.queries.keySet)
      .intersect(graft.queries.Ext2.queries.keySet)
    assert(e2q.isEmpty, s"shadowed queries: $e2q")
    val e2o = (graft.queries.Parity.oracle.keySet ++
      graft.queries.Ext.oracle.keySet)
      .intersect(graft.queries.Ext2.oracle.keySet)
    assert(e2o.isEmpty, s"shadowed oracles: $e2o")
  }

  test("Parity and Ext query names don't collide") {
    val overlap = graft.queries.Parity.queries.keySet
      .intersect(graft.queries.Ext.queries.keySet)
    assert(overlap.isEmpty, s"shadowed queries: $overlap")
    val oracleOverlap = graft.queries.Parity.oracle.keySet
      .intersect(graft.queries.Ext.oracle.keySet)
    assert(oracleOverlap.isEmpty, s"shadowed oracles: $oracleOverlap")
  }

  test("every session comes from Session.local, with the bench's settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") ==
      Tuning.AqeMinPartitionSize)
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    import scala.jdk.CollectionConverters._
    val builders = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p))
          .contains("SparkSession" + ".builder"))
        .map(_.toString).toSeq
    }
    assert(builders == Seq("src/main/scala/graft/Session.scala"),
      s"sessions built outside graft.Session: $builders")
  }

  /** `file:line` of every line under src/main/scala, `homes` excepted,
    * that contains one of `needles`. */
  private def sitesOutside(homes: Seq[String], needles: Seq[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val homePaths = homes.map(java.nio.file.Paths.get(_)).toSet
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filterNot(homePaths).toSeq.sorted
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if needles.exists(line.contains) => s"$p:${i + 1}"
        }
      }
  }

  test("the bounded-replay harness lives only in StreamOps") {
    // memory sinks, sink-view drops and the state-store provider belong
    // to StreamOps.drain / withStreamConf, so every replay's conf scope
    // and finally-stop are written once
    val sites = sitesOutside(Seq("src/main/scala/graft/streaming/StreamOps.scala"),
      Seq("format(\"memory\")", "dropTempView", "RocksDBStateStoreProvider"))
    assert(sites.isEmpty, s"bounded-replay harness outside StreamOps: $sites")
  }

  test("the one driver-side thread pool lives in Io") {
    // Io.guarded submits a medallion layer's writes together from a pool
    // made per call; a second pool elsewhere would hold threads whose
    // SparkContext local properties go stale between calls
    val sites = sitesOutside(Seq("src/main/scala/graft/sources/Io.scala"),
      Seq("Executors.", "ExecutionContext", "Future"))
    assert(sites.isEmpty, s"driver-side thread pools outside Io: $sites")
  }

  test("the per-round checkpoint job lives only in CheckpointBlocks.iterate") {
    // iterate owns the count-to-materialize job of every iterative
    // operator's round, with its release, stop test and job description;
    // a hand-rolled round loop elsewhere would repeat all of them
    val sites = sitesOutside(Seq("src/main/scala/graft/plans/CheckpointBlocks.scala",
      "src/main/scala/org/apache/spark/sql/graftbridge/ColumnBridge.scala"),
      Seq("checkpointCount", "localCheckpointWithCount"))
    assert(sites.isEmpty, s"round checkpoints outside CheckpointBlocks: $sites")
  }

  test("every scaladoc sits on a definition, not on another doc comment") {
    // a doc comment followed (blank lines aside) by another doc comment
    // is orphaned: scaladoc attaches only the second one, so the first
    // describes nothing and usually ends up read as the wrong symbol's
    import scala.jdk.CollectionConverters._
    val stacked = "(?s)/\\*\\*(?:(?!\\*/).)*\\*/\\s*(?=/\\*\\*)".r
    val orphans = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        stacked.findAllMatchIn(src)
          .map(m => s"$p:${src.substring(0, m.start).count(_ == '\n') + 1}")
      }
    assert(orphans.isEmpty, s"doc comments attached to no definition: $orphans")
  }

  test("graded-surface census matches the documented counts") {
    // NOTE: `exact` counts ORACLED queries (the local gate's surface).
    // The driver's hash_match count is the authoritative "exact" claim
    // for README/SCALE — r07 driver: 344/354 (6 DECIMAL-output hash
    // fails, all fixed round 8); this spec only pins census drift.
    val n = SparkEntry.queries.size
    val exact = SparkEntry.oracleSql.size
    info(s"graded queries: $n; exact oracles: $exact; rows-only: ${n - exact}")
    // round 9 retired the rows-only class: the 4 sketch queries now emit
    // verdict-form outputs (exact side + tolerance BOOLEANs) with real
    // oracles, so every graded query is hash-gradeable.
    // round 9 also graded the streaming surface end-to-end: seven real
    // Structured Streaming jobs (dedup, windowed agg, custom + native
    // sessionization, inner + watermark-certified OUTER interval join,
    // foreachBatch IVM) each census-graded against an order-invariant
    // batch oracle.
    // round 10 added five production streaming paths: x_stream_sink
    // (parquet file sink + checkpoint, census over the commit-log
    // read-back), x_stream_window_append (append-mode windowed agg —
    // watermark EVICTION emits the finals), x_stream_restart (checkpoint
    // recovery: offsets + RocksDB state + sink commit log across a stop/
    // new-query restart), x_stream_static_join (broadcast dimension
    // enrichment), and x_stream_available_now (the backfill trigger).
    // plus x_ppr: personalized PageRank (seed-set teleport) on the
    // fixed-point long-sum machinery.
    // round 11 graded the LAST two ungraded operators — x_stream_ewma
    // and x_stream_paths (flatMapGroupsWithState event-time-timeout
    // twins of x_ewma/x_event_paths) — and added x_image_decode_jpeg
    // (the JDK's lossy codec: dims exact + channel means within the
    // measured error envelope).
    // plus x_closeness (landmark closeness/harmonic centrality,
    // recursive-CTE oracle) and x_betweenness (sampled Brandes,
    // integer-exact fixed-point dependency accumulation, both passes
    // unrolled in the oracle).
    // round 12 graded the crash-recovery contract (x_stream_crash_restart:
    // kill mid-replay with no drain, resume on the same RocksDB
    // checkpoint + sink commit log), HyperANF (x_eff_diameter:
    // portable-HLL t-ball registers, fixed 6 register-max rounds,
    // fixed-point integer neighborhood-function sums), and MIPS
    // (x_mips: inner-product top-k; the norm-augmentation reduction to
    // cosine is spec-pinned in ExtSpec).
    // round 13 graded the MIPS scale path end-to-end (x_mips_ann: the
    // Bachrach/Neyshabur norm augmentation served through the
    // UNCHANGED ivfTopK cosine index at dim=65, oracle = the shared
    // k-means replay with the augmentation arithmetic spliced in) and
    // the decimal-sigma Brandes path (x_betweenness_dec: sigma/cq in
    // decimal(38,0) end to end on a filtered sub-graph — bit-identical
    // integers to the long path, so the shared HUGEINT oracle grades
    // both).
    // round 14 graded the last warehouse-maintenance op (x_compact:
    // stage 64 tiny files, Warehouse.compact to 1, census = measured
    // file counts + content multiset-hash invariance vs the original
    // table) and hyperANF's release-per-round mode on its own census
    // (x_eff_diameter_fold: quarter graph, T=3, shared oracle
    // template).
    assert(n == 425 && exact == 425,
      s"census drifted ($n/$exact) — update README/SCALE counts and this spec")
  }

  /** The driver captures only the TAIL 2000 chars of Bench stdout, and
    * sbt appends a ~75-char success line after the JSON — r04 lost the
    * whole round's numbers to silent head-truncation, and the r07 line
    * ran 1914 chars with ~11 to spare. Budget the WORST case: every
    * headline query present at "999.99" width plus the fixed wrapper,
    * and fail the build before the driver ever truncates. */
  test("bench headline line fits the driver's stdout tail window") {
    val present = Bench.Headline.intersect(SparkEntry.queries.keySet)
    val missing = Bench.Headline -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"headline names not in queries: $missing")
    val entries = present.toSeq.sorted.map(k => s""""$k":999.99""")
    val line = s"""{"metric":"total","value":99999.99,""" +
      s""""value_norm":99999.99,"unit":"sec",""" +
      s""""sentinel_pre":999.99,"sentinel_post":999.99,""" +
      s""""sentinel_jobs_ms":[99999.9,99999.9],""" +
      s""""n_remeasured":99,""" +
      // worst case: the 60-char length-capped name list Bench emits,
      // filled with the longest current query name (same algorithm)
      s""""remeasured":[${{
        var budget = 60
        val longest = SparkEntry.queries.keys.maxBy(_.length)
        Iterator.continually(longest).takeWhile { n =>
          val c = n.length + 3; val ok = budget >= c
          if (ok) budget -= c; ok
        }.map("\"" + _ + "\"").mkString(",")
      }}],""" +
      s""""queries":{${entries.mkString(",")}},"n_failed":0,""" +
      s""""failed":[],"full":"BENCH_FULL.json",""" +
      s""""sf":"/root/testdata/sf0.1"}"""
    info(s"worst-case headline line: ${line.length} chars (${present.size} queries)")
    assert(line.length <= 1900,
      s"headline line ${line.length} chars risks the 2000-char tail " +
        "window (sbt's success line needs ~80) — drop a member before " +
        "adding one")
  }

  /** Round-7 driver postmortem (VERDICT.md): every query whose FINAL
    * output schema contained a DECIMAL column failed the driver hash
    * (6/6) while no passing query emitted one (0/344) — the driver
    * renders decimal128 cells differently on its parquet-read vs
    * duckdb-fetch paths. Decimal(38,0) ACCUMULATION stays (it is the
    * 100 TB overflow guard); the final SELECT must cast out of it.
    * This builds every graded query's plan at sf0.001 (schema only —
    * lazy for all but a handful of eager codebook/materialize ops). */
  test("no graded query's output schema contains DecimalType") {
    import org.apache.spark.sql.types.DecimalType
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val bad = q(spark, dir).schema.fields
          .filter(_.dataType.isInstanceOf[DecimalType])
          .map(f => s"$name.${f.name}: ${f.dataType.simpleString}")
        bad
    }
    assert(offenders.isEmpty,
      s"DECIMAL in final output schema (driver-hash-fatal): " +
        offenders.mkString(", "))
  }

  /** Round-8 driver postmortem (CORRECTNESS_r08): any query whose FINAL
    * schema contains an ARRAY (and by the same pandas mechanism MAP /
    * STRUCT) column crashes the driver's oracle harness in
    * `sort_values` — "unhashable type: numpy.ndarray" — so the row is
    * permanently un-gradeable, not merely hash-red. Nested types stay
    * INTERNAL (collect_list pipelines, embedding math); the final
    * SELECT serializes them (concat_ws / to_json) on both sides. */
  test("no graded query's output schema contains Array/Map/StructType") {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        q(spark, dir).schema.fields
          .filter(f => f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType])
          .map(f => s"$name.${f.name}: ${f.dataType.simpleString}")
    }
    assert(offenders.isEmpty,
      s"nested type in final output schema (driver-harness-unhashable): " +
        offenders.mkString(", "))
  }
}
