package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.SparkEntry
import graft.sources.{Gen, Io}

/** JVM side of the benchmark: one process, one closed-loop client.
  *
  * Reads a plan file written by `run.py` (workload, input directory, pass
  * orders, window length, tracing on or off) and writes one JSON record
  * per line to the output file. Every time is an epoch millisecond from
  * one clock, so the Python side can nest the runner's own spans (pass,
  * op, build, run) with the Spark jobs and stages the listener reports.
  * All statistics are computed on the Python side; this file only
  * measures.
  *
  * Usage: perfbench.Runner <plan-file> <records-file>
  */
object Runner {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    val out = new Records(args(1))
    try run(plan, out) finally out.close()
  }

  /** The session `graft.Bench` builds, at the plan's core count. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        graft.Tuning.AqeMinPartitionSize)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Row count plus the sum of `xxhash64` over all columns: a digest that
    * does not depend on row order or partitioning. Columns are renamed by
    * position (results may repeat a name) and map-typed columns, which
    * `xxhash64` rejects, are hashed through their JSON text. */
  def digest(df: DataFrame): (Long, String) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val fields = df.schema.fields
    val renamed = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.indices.map { i =>
      if (hasMap(fields(i).dataType)) to_json(col(s"c$i")) else col(s"c$i")
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.agg(count(lit(1)), sum(h.cast("decimal(20,0)"))).head()
    (r.getLong(0),
      Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** One operation of a workload: build its result (if any) and run it. */
  trait Op {
    def name: String
    /** Build the DataFrame; None for an operation that only runs. */
    def build(): Option[DataFrame]
    /** Run the operation; `built` is what [[build]] returned. */
    def run(built: Option[DataFrame]): Unit
  }

  def run(plan: Plan, out: Records): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    out.write("mark", "name" -> "jvm_start", "t" -> jvmStart)
    val spark = session(plan.cpus, plan.work)
    out.write("mark", "name" -> "session_ready", "t" -> now())

    val medallion = plan.workload == "medallion"
    // inputs: the query workloads read the fixture tables generated
    // before the JVM started; medallion generates its raw CSVs here
    val raw = s"${plan.work}/raw"
    if (medallion) {
      // the rows are counted by observing the written DataFrames, so the
      // tables are generated once and no extra job runs
      val t0 = now()
      val rows = Gen.all(spark, plan.double("scale"), plan.long("data_seed")).map {
        case (t, df) =>
          val seen = Observation(t)
          Io.writeCsv(df.observe(seen, count(lit(1)).as("rows")), s"$raw/$t")
          seen.get("rows").asInstanceOf[Long]
      }.sum
      out.write("gen", "t0" -> t0, "t1" -> now(), "bytes" -> Files.size(new File(raw)),
        "rows" -> rows)
    }

    def opsFor(pass: String): Seq[Op] =
      if (medallion) {
        val p = s"${plan.work}/$pass"
        Seq(
          simple("bronze")(Io.runBronze(spark, raw, s"$p/bronze")),
          simple("silver")(Io.runSilver(spark, s"$p/bronze", s"$p/silver",
            "2026-01-01 00:00:00", 2026)),
          simple("gold")(Io.runGold(spark, s"$p/silver", s"$p/gold")))
      } else {
        val all = SparkEntry.queries
        plan.order(0).map(n => query(n, all(n), spark, plan.data))
      }
    def ordered(pass: String, names: Seq[String]): Seq[Op] = {
      val byName = opsFor(pass).map(o => o.name -> o).toMap
      names.map(byName)
    }

    // warm-up: one pass that also checks correctness (every result is
    // digested here, outside the timed passes)
    val warm0 = now()
    def digestOrError(name: String)(df: => DataFrame): Unit =
      try {
        val (rows, sum) = digest(df)
        out.write("digest", "op" -> name, "rows" -> rows, "sum" -> sum)
      } catch { case NonFatal(e) =>
        out.write("digest", "op" -> name, "error" -> message(e)) }
      finally graft.plans.CheckpointBlocks.releaseAll(spark)
    if (medallion) {
      // a failed layer leaves its gold tables missing: their digests fail
      try for (op <- ordered("warm", plan.order(0))) op.run(op.build())
      catch { case NonFatal(_) => () }
      for (t <- Seq("dim_clients", "dim_vehicles", "fact_client_summary",
                    "fact_payments"))
        digestOrError(s"gold/$t")(Io.readParquet(spark, s"${plan.work}/warm/gold/$t"))
      Files.delete(new File(s"${plan.work}/warm"))
    } else {
      for (op <- ordered("warm", plan.order(0))) digestOrError(op.name)(op.build().get)
    }
    out.write("mark", "name" -> "warmup", "t0" -> warm0, "t1" -> now())

    out.write("probe", "when" -> "pre", "ms" -> jobLatency(spark))
    // timed passes until the window has elapsed, and at least `min_passes`
    // of them. A traced run follows each
    // untraced pass with a traced pass in the same order (so it traces the
    // passes an untraced run would time) and closes with one more untraced
    // pass: its untraced passes surround the traced ones, and the JIT
    // warming from pass to pass favours neither side of the overhead. Its
    // minimum is one pair of passes, which keeps it within the run's time
    // limit
    val tracer = if (plan.trace) Some(new Tracer(out)) else None
    val window = plan.seconds * 1000.0
    val minPasses = if (plan.trace) 1 else plan.int("min_passes")
    val start = now()
    var i = 0
    while (i < minPasses ||
           (now() - start < window && i < plan.orders.size - 2)) {
      i += 1
      timedPass(spark, plan, out, "plain", i, ordered)
      tracer.foreach { t =>
        t.attach(spark)
        timedPass(spark, plan, out, "traced", i, ordered)
        t.detach(spark)
      }
    }
    if (tracer.isDefined) timedPass(spark, plan, out, "plain", i + 1, ordered)
    out.write("probe", "when" -> "post", "ms" -> jobLatency(spark))

    graft.plans.CheckpointBlocks.releaseAll(spark)
    out.write("heap", "mb" -> retainedHeap() / 1048576.0)
    spark.stop()
    out.write("mark", "name" -> "end", "t" -> now())
  }

  /** One timed pass: every op of the pass's order, each followed by the
    * storage reset `graft.Bench` does between queries. */
  private def timedPass(spark: SparkSession, plan: Plan, out: Records,
                        mode: String, i: Int,
                        ordered: (String, Seq[String]) => Seq[Op]): Unit = {
    val passName = s"$mode-$i"
    val ops = ordered(passName, plan.order(i))
    val c0 = Counters()
    val p0 = now()
    for (op <- ops) {
      val t0 = now()
      var t1 = t0
      var error = ""
      try {
        val built = op.build()
        t1 = now()
        op.run(built)
      } catch { case NonFatal(e) => error = message(e) }
      val t2 = now()
      val persisted = spark.sparkContext.getPersistentRDDs.size
      graft.plans.CheckpointBlocks.releaseAll(spark)
      out.write("op", "mode" -> mode, "pass" -> i, "op" -> op.name,
        "t0" -> t0, "t1" -> t1, "t2" -> t2, "t3" -> now(),
        "persisted" -> persisted, "error" -> error)
    }
    val p1 = now()
    val c1 = Counters()
    val passDir = new File(s"${plan.work}/$passName")
    out.write("pass", "mode" -> mode, "pass" -> i, "t0" -> p0, "t1" -> p1,
      "codegen_compiles" -> (c1.compiles - c0.compiles),
      "codegen_ms" -> (c1.codegenNs - c0.codegenNs) / 1e6,
      "jit_ms" -> (c1.jitMs - c0.jitMs), "gc_ms" -> (c1.gcMs - c0.gcMs),
      "stored_bytes" -> Files.size(passDir))
    Files.delete(passDir)
  }

  /** Heap in use after full GCs. Spark's ContextCleaner frees broadcast
    * and shuffle blocks only after a GC has found them unreachable, on its
    * own thread, so collect until the figure stops falling. */
  private def retainedHeap(): Long = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); Thread.sleep(200); System.gc(); mem.getHeapMemoryUsage.getUsed }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (prev - cur > (1L << 20) && rounds < 8) { prev = cur; cur = collect(); rounds += 1 }
    cur
  }

  /** Process-wide counters read at pass boundaries. */
  private case class Counters(
      compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      codegenNs: Long = CodeGenerator.compileTime,
      jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum)

  private def simple(opName: String)(body: => Any): Op = new Op {
    val name = opName
    def build(): Option[DataFrame] = None
    def run(built: Option[DataFrame]): Unit = body
  }

  private def query(opName: String, fn: (SparkSession, String) => DataFrame,
                    spark: SparkSession, data: String): Op = new Op {
    val name = opName
    def build(): Option[DataFrame] = Some(fn(spark, data))
    def run(built: Option[DataFrame]): Unit =
      built.get.write.format("noop").mode("overwrite").save()
  }

  /** Median wall time of 15 single-task jobs: the box's per-job latency,
    * measured the way `graft.Bench` measures `sentinel_jobs_ms`. */
  private def jobLatency(spark: SparkSession): Seq[Double] =
    (0 until 15).map { _ =>
      val t0 = now()
      spark.range(0L, 1L, 1L, 1).write.format("noop").mode("overwrite").save()
      now() - t0
    }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** The plan file: `key value` lines; `order` repeats, one line per pass
  * (line 0 is the warm-up pass). */
final case class Plan(kv: Map[String, String], orders: Seq[Seq[String]]) {
  def str(k: String): String = kv.getOrElse(k, sys.error(s"plan has no $k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def double(k: String): Double = str(k).toDouble
  def workload: String = str("workload")
  def work: String = str("work")
  def data: String = str("data")
  def cpus: Int = int("cpus")
  def seconds: Double = double("seconds")
  def trace: Boolean = str("trace") == "1"
  def order(i: Int): Seq[String] = orders(i % orders.size)
}

object Plan {
  def read(path: String): Plan = {
    val lines = scala.io.Source.fromFile(path).getLines().toList
      .filter(_.trim.nonEmpty).map { l =>
        val i = l.indexOf(' ')
        (l.take(i), l.drop(i + 1).trim)
      }
    Plan(lines.filter(_._1 != "order").toMap,
      lines.filter(_._1 == "order").map(_._2.split(',').toSeq))
  }
}

/** File helpers: recursive size and delete. */
object Files {
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum
    else if (f.isFile) f.length() else 0L
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

/** One JSON object per line. Values are strings, numbers, booleans or
  * sequences of numbers. */
final class Records(path: String) {
  private val w = new PrintWriter(path, "UTF-8")
  def write(rec: String, fields: (String, Any)*): Unit = synchronized {
    val body = (("rec" -> rec) +: fields).map { case (k, v) =>
      "\"" + k + "\":" + Records.value(v)
    }
    w.println(body.mkString("{", ",", "}"))
  }
  def close(): Unit = w.close()
}

object Records {
  def value(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(String.valueOf(other))
  }
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
