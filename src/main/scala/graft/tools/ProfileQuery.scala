package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.jdk.CollectionConverters._

import graft.{Bench, Session, SparkEntry}
import graft.plans.CheckpointBlocks

/** The project's one profiler: runs named graded queries in the
  * session Bench builds (`SPARK_GRAFT_CPUS` cores, default 32) under
  * optional SQL-conf overrides, each through Bench's noop sink 3×,
  * storage reset between runs exactly like Bench. Not part of the
  * graded surface.
  *
  * Usage: runMain graft.tools.ProfileQuery [key=value ...] name [name ...]
  *
  * Args containing '=' are session conf overrides; the rest are
  * SparkEntry.queries keys or tokens:
  *  - `explain`: print each query's formatted physical plan instead of
  *    timing it;
  *  - `SET:key=value`: set a conf mid-sequence, so an A/B of a conf
  *    runs inside one warmed JVM (separate JVMs proved incomparable
  *    under minute-scale swings in per-job latency);
  *  - `GC`: full GC between queries, to tell heap or code-cache
  *    pressure from genuine cost.
  *
  * Unknown query names are listed on stderr and exit 2 before any run.
  *
  * Output per query: a `jobs_ms` line (Bench's `sentinel_jobs_ms`
  * probe, the median wall ms of a trivial one-task job, so each number
  * can be tied to a latency epoch), then per run
  *  - one `[job]` line per Spark job: id, wall ms, per-stage task
  *    counts in stage-id order (skipped stages included; shows where
  *    AQE coalescing did or did not fire) and the job description;
  *  - one `[batch]` line per streaming micro-batch, for streaming
  *    queries only: batch id, input rows, the trigger / planning /
  *    getBatch / addBatch / walCommit / commitOffsets ms, and each state
  *    operator's total rows and update/commit ms;
  *  - the run's totals: wall seconds, jobs, completed stages and their
  *    tasks, and `driver_ms`: the wall time minus the union of the
  *    run's job intervals (perfbench's `driver.idle_ms`), i.e. the
  *    analysis, planning and scheduling time outside any Spark job.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val (confs, names) =
      args.partition(a => a.contains("=") && !a.startsWith("SET:"))
    val (flags, qNames) = names.partition(_ == "explain")
    SparkEntry.requireKnown("profile",
      qNames.filterNot(n => n == "GC" || n.startsWith("SET:")).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local("graft-profile", Session.cpus(default = 32))
    @volatile var tracing = false
    val jobs, stages, tasks = new AtomicInteger
    val starts = new ConcurrentHashMap[Int, (Long, Long, String)]()
    val spans = new ConcurrentLinkedQueue[(Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (tracing) {
        jobs.incrementAndGet()
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(j.stageInfos.headOption.map(_.name.take(60)))
          .getOrElse("?")
        val perStage = j.stageInfos.sortBy(_.stageId).map(_.numTasks).mkString("+")
        starts.put(j.jobId, (System.nanoTime(), j.time, s"tasks=$perStage  $desc"))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(starts.remove(j.jobId)).foreach { case (t0, start, desc) =>
          spans.add((start, j.time))
          println(f"[job] ${j.jobId}%-4d ${(System.nanoTime() - t0) / 1e6}%8.1f ms  $desc")
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (tracing) {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks)
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def d(k: String) = p.durationMs.getOrDefault(k, -1L)
        val state = p.stateOperators.map(s =>
          s"rows=${s.numRowsTotal} commitMs=${s.allUpdatesTimeMs}/${s.commitTimeMs}")
          .mkString(" | ")
        println(f"[batch] ${p.batchId}%-3d rows=${p.numInputRows}%-7d " +
          f"trig=${d("triggerExecution")}%-6d plan=${d("queryPlanning")}%-5d " +
          f"get=${d("getBatch")}%-5d add=${d("addBatch")}%-6d " +
          f"wal=${d("walCommit")}%-5d off=${d("commitOffsets")}%-5d  $state")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
      println(s"[profile] conf $k = $v")
    }
    Bench.jobLatencyMs(spark) // codegen warm-up
    qNames.foreach { n =>
      if (n == "GC") {
        System.gc(); Thread.sleep(500); System.gc()
        println("[profile] forced full GC")
      } else if (n.startsWith("SET:")) {
        // malformed tokens warn instead of aborting a long A/B session
        n.stripPrefix("SET:").split("=", 2) match {
          case Array(k, v) =>
            spark.conf.set(k, v)
            println(s"[profile] conf $k = $v (mid-sequence)")
          case _ =>
            println(s"[profile] bad SET token (need SET:key=value): $n")
        }
      } else if (flags.nonEmpty) {
        println(s"[profile] ==== $n plan ====")
        println(SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(FormattedMode))
        CheckpointBlocks.releaseAll(spark)
      } else {
        println(f"[profile] $n%-28s jobs_ms ${Bench.jobLatencyMs(spark)}%6.1f")
        (1 to 3).foreach { i =>
          Seq(jobs, stages, tasks).foreach(_.set(0))
          spans.clear()
          tracing = true
          val w0 = System.currentTimeMillis()
          val dt = Bench.timedNoop(spark)(SparkEntry.queries(n)(spark, sfDir))
          val w1 = w0 + (dt * 1e3).toLong
          Thread.sleep(150) // let the listener bus drain
          tracing = false
          val driverMs = (w1 - w0) - covered(spans.asScala.toSeq, w0, w1)
          println(f"[profile] $n%-28s run$i $dt%8.3f s  jobs=${jobs.get}%-4d stages=${stages.get}%-4d tasks=${tasks.get}%-6d driver_ms=$driverMs")
        }
      }
    }
    spark.stop()
  }

  /** Milliseconds of [a, b] covered by the union of `spans`. */
  private def covered(spans: Seq[(Long, Long)], a: Long, b: Long): Long = {
    var (sum, end) = (0L, a)
    spans.map { case (s, e) => (s max a, e min b) }.filter(p => p._1 < p._2)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { sum += e - (s max end); end = e }
      }
    sum
  }
}
