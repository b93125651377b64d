package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.Schemas
import graft.pipelines.{Gold, Silver}

/** Sources, sinks, and the medallion runner (SURVEY.md §2.1 S1-S5, §3).
  *
  * The reference hand-rolls S3 I/O with boto3 + in-memory Arrow buffers
  * (load_bronze.py:45-71); on Spark the same surface is just the DataFrame
  * reader/writer — pass an `s3a://bucket/key` path and the hadoop-aws
  * committer replaces all of it (S5: credentials via
  * `spark.hadoop.fs.s3a.*` session config, no engine code needed).
  * Paths here are opaque: local FS in tests, `s3a://` in production.
  *
  * S5 testability (investigated, infeasible offline): an in-container
  * s3a round-trip would need BOTH a mock S3 endpoint (none installed)
  * AND the `hadoop-aws` + `aws-sdk-bundle` jars — and /opt/spark/jars
  * ships neither, with no artifact egress to fetch them. The s3a mapping
  * therefore stays config-documented (set `fs.s3a.endpoint`,
  * `fs.s3a.access.key`, `fs.s3a.secret.key`, `fs.s3a.path.style.access`
  * for any S3-compatible store) and every I/O path below is exercised on
  * file:// URIs, which drive the identical Hadoop FileSystem code path
  * above the scheme.
  */
object Io {

  /** S1: CSV scan with a declared schema — the engine never relies on
    * inference (SURVEY §1.2). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").option("multiLine", "true")
      .schema(schema).csv(path)

  /** S1 hardened: CSV scan with ROW-level dirty-data handling — the
    * reference isolates failures per FILE (try/except-continue,
    * load_bronze.py:98-101); at warehouse scale the unit of damage is
    * the row. PERMISSIVE (default) quarantines each unparseable row's
    * raw text into `corruptCol` (nulls elsewhere) so bad rows are
    * queryable instead of fatal; `drop = true` silently discards them
    * (DROPMALFORMED) for pipelines that prefer loss to quarantine.
    * DROPMALFORMED caveat: malformed-ness is decided by the columns a
    * query actually reads — a zero-column plan (count(*)) never parses,
    * so it counts RAW lines; audit row counts with a full projection. */
  def readCsvRobust(spark: SparkSession, path: String, schema: StructType,
                    corruptCol: String = "_corrupt_record",
                    drop: Boolean = false): DataFrame = {
    val base = spark.read.option("header", "true")
    if (drop)
      base.option("mode", "DROPMALFORMED").schema(schema).csv(path)
    else
      base.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corruptCol)
        .schema(schema.add(corruptCol, org.apache.spark.sql.types.StringType))
        .csv(path)
  }

  /** S2: CSV sink (header row, like to_csv(index=False)). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S4: parquet scan. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S3: parquet sink (overwrite, matching put_object semantics). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Evolved-schema scan: union the schemas of every file footer under
    * `path` (columns added by later writers surface as nulls in older
    * files) — the read side of additive schema evolution, which a
    * long-lived warehouse needs when producers gain columns between
    * backfills. Spark's default read takes ONE file's schema and
    * silently drops the others' extras; mergeSchema pays one extra
    * footer pass to see the union. */
  def readParquetEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** JSONL scan (one JSON object per line — the LLM-corpus interchange
    * format). Schema is DECLARED like every other source here: inference
    * would scan the data twice and silently widen types between runs. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSONL sink. Spark's json writer emits one object per line; nulls are
    * omitted per JSON convention (round-trip restores them as nulls via
    * the declared schema). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Raw text scan: one row per line in a `value` column — the entry
    * point for unstructured corpora before any parsing. */
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** ORC scan/sink — the other columnar warehouse format (Hive
    * ecosystems); built into Spark, same pushdown/pruning machinery as
    * parquet. Exercised by an exact round-trip in PipelineSpec. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** XML scan/sink — built into Spark 4's sql module (the spark-xml
    * merge); `rowTag` names the per-record element. The declared schema
    * keeps types stable (XML carries none) and restores omitted
    * elements as nulls, mirroring the JSONL convention. Exercised by an
    * exact round-trip in PipelineSpec. */
  def readXml(spark: SparkSession, path: String, schema: StructType,
              rowTag: String = "row"): DataFrame =
    spark.read.option("rowTag", rowTag).schema(schema).xml(path)

  def writeXml(df: DataFrame, path: String, rowTag: String = "row"): Unit =
    df.write.mode(SaveMode.Overwrite).option("rowTag", rowTag).xml(path)

  private val tables = Seq("clients", "crm_clients", "vehicles", "policies",
    "claims", "payments")

  /** Per-table error isolation policy for the medallion runner.
    *
    * The reference CONTINUES past a failing table (load_bronze.py:98-101,
    * logging and moving on); a production runner wants that as a POLICY,
    * not a hardcoded choice — silent table drops corrupt downstream joins,
    * but one poisoned table shouldn't always sink a 50-table load either.
    * A layer's tables are written concurrently (see [[guarded]]), so both
    * policies attempt EVERY table of the layer:
    *  - [[ErrorPolicy.FailFast]] (default): once the layer's writes have
    *    all finished, the first failure in table order is rethrown.
    *  - [[ErrorPolicy.Continue]]: all failures are RETURNED in table
    *    order (never swallowed) for the caller to alert on. */
  sealed trait ErrorPolicy
  object ErrorPolicy {
    case object FailFast extends ErrorPolicy
    case object Continue extends ErrorPolicy
  }

  /** Runs one layer's table steps concurrently and returns the failures
    * in step order (see [[ErrorPolicy]]).
    *
    * Each step is one small Spark job whose fixed cost (planning, job
    * submission, commit) sits on the driver; submitted together, one
    * step's tasks run while another plans or commits. The pool is made
    * per call, one daemon thread per step (a layer has at most 6 tables):
    * the calling thread creates them, so each inherits the caller's
    * SparkContext local properties (job group, scheduler pool) as they
    * are at this call, where the threads of a long-lived pool would keep
    * the ones set when they were first made, such as a stale
    * `spark.sql.execution.id`. Every step is awaited before the pool is
    * shut down. A fatal error (OOM, interrupt) is rethrown as it is,
    * never filed as a per-table failure on a broken JVM. */
  private[graft] def guarded(policy: ErrorPolicy)
                            (steps: Seq[(String, () => Unit)]): Seq[(String, Throwable)] = {
    import java.util.concurrent.{Callable, ExecutionException, Executors}
    import scala.jdk.CollectionConverters._
    val pool = Executors.newFixedThreadPool(steps.size, (r: Runnable) => {
      val t = new Thread(r, "graft-layer")
      t.setDaemon(true)
      t
    })
    // invokeAll returns once every step has finished, in step order
    val done = try pool.invokeAll(steps.map { case (_, run) =>
      new Callable[Unit] { def call(): Unit = run() }
    }.asJava) finally pool.shutdownNow()
    val failures = steps.map(_._1).zip(done.asScala).flatMap { case (name, f) =>
      try { f.get(); Nil }
      catch { case e: ExecutionException => Seq(name -> e.getCause) }
    }
    failures.find(f => !scala.util.control.NonFatal(f._2)).foreach(f => throw f._2)
    if (policy == ErrorPolicy.FailFast) failures.headOption.foreach(f => throw f._2)
    failures
  }

  /** Bronze (§3.1): raw CSV → parquet, one narrow no-shuffle job per
    * table, the 6 jobs submitted together. Returns the per-table failures
    * in table order under [[ErrorPolicy.Continue]] (empty on success);
    * under FailFast every table is still attempted, then the first
    * failure in table order is rethrown. */
  def runBronze(spark: SparkSession, rawDir: String, bronzeDir: String,
                policy: ErrorPolicy = ErrorPolicy.FailFast): Seq[(String, Throwable)] =
    guarded(policy)(tables.map { t =>
      t -> (() => writeParquet(
        readCsv(spark, s"$rawDir/$t", Schemas.all(t)), s"$bronzeDir/$t"))
    })

  /** Silver (§3.2): per-table cleanse, still shuffle-free, the 6 jobs
    * submitted together; failures as in [[runBronze]]. */
  def runSilver(spark: SparkSession, bronzeDir: String, silverDir: String,
                asOf: String, asOfYear: Int,
                policy: ErrorPolicy = ErrorPolicy.FailFast): Seq[(String, Throwable)] = {
    def rd(t: String) = readParquet(spark, s"$bronzeDir/$t")
    guarded(policy)(Seq(
      "clients" -> (() => writeParquet(Silver.clients(rd("clients")), s"$silverDir/clients")),
      "crm_clients" -> (() => writeParquet(Silver.crmClients(rd("crm_clients")), s"$silverDir/crm_clients")),
      "vehicles" -> (() => writeParquet(Silver.vehicles(rd("vehicles"), asOfYear), s"$silverDir/vehicles")),
      "policies" -> (() => writeParquet(Silver.policies(rd("policies")), s"$silverDir/policies")),
      "claims" -> (() => writeParquet(Silver.claims(rd("claims"), asOf), s"$silverDir/claims")),
      "payments" -> (() => writeParquet(Silver.payments(rd("payments")), s"$silverDir/payments"))))
  }

  /** Gold (§3.3): the dimensional model, the 4 table writes submitted
    * together. Every table is attempted, then the first failure in table
    * order is rethrown ([[ErrorPolicy.FailFast]]). */
  def runGold(spark: SparkSession, silverDir: String, goldDir: String): Unit = {
    def rd(t: String) = readParquet(spark, s"$silverDir/$t")
    guarded(ErrorPolicy.FailFast)(Seq(
      "dim_clients" -> (() => writeParquet(Gold.dimClients(rd("clients"), rd("crm_clients")),
        s"$goldDir/dim_clients")),
      "dim_vehicles" -> (() => writeParquet(Gold.dimVehicles(rd("vehicles")), s"$goldDir/dim_vehicles")),
      "fact_client_summary" -> (() => writeParquet(Gold.factClientSummary(rd("clients"),
        rd("policies"), rd("payments"), rd("claims")), s"$goldDir/fact_client_summary")),
      "fact_payments" -> (() => writeParquet(Gold.factPayments(rd("payments"), rd("policies")),
        s"$goldDir/fact_payments"))))
  }

  /** Full medallion pipeline: generate → bronze → silver → gold. */
  def runAll(spark: SparkSession, baseDir: String, scale: Double = 1.0,
             seed: Long = 42, asOf: String = "2026-01-01 00:00:00",
             asOfYear: Int = 2026): Unit = {
    val gen = Gen.all(spark, scale, seed)
    guarded(ErrorPolicy.FailFast)(tables.map { t =>
      t -> (() => writeCsv(gen(t), s"$baseDir/raw/$t"))
    })
    runBronze(spark, s"$baseDir/raw", s"$baseDir/bronze")
    runSilver(spark, s"$baseDir/bronze", s"$baseDir/silver", asOf, asOfYear)
    runGold(spark, s"$baseDir/silver", s"$baseDir/gold")
  }
}
