package graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listeners of the traced run. Each Spark callback becomes one record
  * on the run's timeline (`Clock`); linking jobs to ops, SQL executions
  * and stages, and every sum, is done by the Python side from these
  * records.
  */
final class Trace(spark: SparkSession, clock: Clock, out: Out) {
  private final class StageAcc {
    var tasks = 0L; var failures = 0L; var runMs = 0L; var cpuNs = 0L
    var gcMs = 0L; var input = 0L; var shRead = 0L; var shWrite = 0L
    var spill = 0L; var output = 0L; var result = 0L
  }
  private val stages = new ConcurrentHashMap[(Int, Int), StageAcc]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      out.rec("type" -> "job_start", "job" -> e.jobId, "t" -> clock.fromEpochMs(e.time),
        "op" -> p.flatMap(x => Option(x.getProperty(Clock.OpKey))).orNull,
        "sql" -> p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).orNull,
        "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      out.rec("type" -> "job_end", "job" -> e.jobId, "t" -> clock.fromEpochMs(e.time),
        "ok" -> (e.jobResult == JobSucceeded))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = stages.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAcc)
      acc.synchronized {
        acc.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) acc.failures += 1
        val m = e.taskMetrics
        if (m != null) {
          acc.runMs += m.executorRunTime; acc.cpuNs += m.executorCpuTime
          acc.gcMs += m.jvmGCTime; acc.input += m.inputMetrics.bytesRead
          acc.shRead += m.shuffleReadMetrics.totalBytesRead
          acc.shWrite += m.shuffleWriteMetrics.bytesWritten
          acc.spill += m.diskBytesSpilled; acc.output += m.outputMetrics.bytesWritten
          acc.result += m.resultSize
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val acc = Option(stages.remove((i.stageId, i.attemptNumber()))).getOrElse(new StageAcc)
      out.rec("type" -> "stage", "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
        "start" -> i.submissionTime.map(clock.fromEpochMs),
        "end" -> i.completionTime.map(clock.fromEpochMs),
        "tasks" -> acc.tasks, "task_failures" -> acc.failures,
        "task_run_s" -> acc.runMs / 1e3, "task_cpu_s" -> acc.cpuNs / 1e9,
        "task_gc_s" -> acc.gcMs / 1e3, "input_bytes" -> acc.input,
        "shuffle_read_bytes" -> acc.shRead, "shuffle_write_bytes" -> acc.shWrite,
        "spill_bytes" -> acc.spill, "output_bytes" -> acc.output,
        "result_bytes" -> acc.result)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        out.rec("type" -> "sql_start", "sql" -> s.executionId.toString,
          "t" -> clock.fromEpochMs(s.time))
      case s: SparkListenerSQLExecutionEnd =>
        out.rec("type" -> "sql_end", "sql" -> s.executionId.toString,
          "t" -> clock.fromEpochMs(s.time))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases("qe", qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      phases("qe", qe)
  }

  /** Catalyst phase times of one query execution. */
  def phases(kind: String, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def dur(n: String): Double = ph.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
    out.rec("type" -> kind, "t" -> start.map(clock.fromEpochMs),
      "analysis_s" -> dur("analysis"), "optimization_s" -> dur("optimization"),
      "planning_s" -> dur("planning"))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      out.rec("type" -> "stream_start", "run" -> e.runId.toString, "t" -> clock.now)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      out.rec("type" -> "stream_batch", "run" -> e.progress.runId.toString,
        "t" -> clock.now, "batch_s" -> e.progress.batchDuration / 1e3)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      out.rec("type" -> "stream_end", "run" -> e.runId.toString, "t" -> clock.now)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every queued listener event has been delivered. */
  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
}

/** The run's timeline: seconds since the harness started. */
final class Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - nano0) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - epoch0) / 1e3
}

object Clock {
  /** Spark local property carrying the op id; jobs inherit it. */
  val OpKey = "graftbench.op"
}
