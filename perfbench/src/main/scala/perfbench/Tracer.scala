package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners, read through Spark's public listener APIs:
  * one record per Spark job, per stage (task metrics summed over its
  * tasks), per planning phase of each SQL execution and per streaming
  * micro-batch. Records are written as events arrive; [[detach]] first
  * drains the listener bus, so nothing of a traced pass is lost. */
final class Tracer(out: Records) extends SparkListener {
  private final class StageSum {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var spill = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var fetchWaitMs = 0L; var inBytes = 0L; var outBytes = 0L
    var delayMs = 0L
  }
  private val stages = mutable.Map.empty[(Int, Int), StageSum]
  private val jobStarts = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, stageIds) =>
      out.write("job", "id" -> e.jobId, "t0" -> t0.toDouble,
        "t1" -> e.time.toDouble, "stages" -> stageIds)
    }
    ended.add(e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageSum)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.inBytes += m.inputMetrics.bytesRead
      s.outBytes += m.outputMetrics.bytesWritten
      // the Spark UI's scheduler delay: task wall time not spent
      // deserializing, running, serializing or fetching the result
      val info = e.taskInfo
      s.delayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.remove((i.stageId, i.attemptNumber())).getOrElse(new StageSum)
    out.write("stage", "id" -> i.stageId, "attempt" -> i.attemptNumber(),
      "t0" -> i.submissionTime.getOrElse(0L).toDouble,
      "t1" -> i.completionTime.getOrElse(0L).toDouble,
      "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1e6,
      "gc_ms" -> s.gcMs, "spill_bytes" -> s.spill,
      "shuffle_write_bytes" -> s.shuffleWrite,
      "shuffle_read_bytes" -> s.shuffleRead,
      "fetch_wait_ms" -> s.fetchWaitMs, "input_bytes" -> s.inBytes,
      "output_bytes" -> s.outBytes, "delay_ms" -> s.delayMs)
  }

  private val planning = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        out.write("phase", "name" -> name, "t0" -> p.startTimeMs.toDouble,
          "t1" -> p.endTimeMs.toDouble)
      }
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      out.write("batch", "t" -> Runner.now(), "ms" -> e.progress.batchDuration)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planning)
    spark.streams.addListener(streaming)
  }

  /** Drain, then remove the listeners. Events reach a listener in the
    * order they were posted, so once the end of a marker job run after
    * the traced passes has arrived, every earlier event has too. */
  def detach(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-marker", "listener drain marker")
    val jobs0 = sc.statusTracker.getJobIdsForGroup("perfbench-marker").toSet
    sc.parallelize(Seq(1), 1).count()
    val marker = (sc.statusTracker.getJobIdsForGroup("perfbench-marker").toSet -- jobs0).max
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!ended.contains(marker) && System.nanoTime() < deadline) Thread.sleep(5)
    spark.streams.removeListener(streaming)
    spark.listenerManager.unregister(planning)
    sc.removeSparkListener(this)
  }
}
