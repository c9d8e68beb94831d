package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Probe {
  /** Job-local property tagging every job with "pass:seq" of its op. */
  val OpKey = "perfbench.op"
}

/** The benchmark's own observers: a SparkListener for jobs, stages and
  * tasks, a QueryExecutionListener for Catalyst phase times, and the
  * CodegenMetrics compile-time histogram. Events are kept in memory
  * and handed to the record when the run ends. */
final class Probe(spark: SparkSession) {
  private val q = new ConcurrentLinkedQueue[Map[String, Any]]()
  // stage id -> op tag, filled on job start (stages carry no properties)
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val taskAgg = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskAgg]()

  final class TaskAgg {
    val durations = scala.collection.mutable.ArrayBuffer.empty[Long]
    var run, cpuNs, deser, resSer, gc, shW, shR, spill, failed = 0L
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).map(_.getProperty(Probe.OpKey)).orNull
      if (op != null) e.stageIds.foreach(stageOp.put(_, op))
      q.add(Map("type" -> "job_start", "job" -> e.jobId, "t" -> e.time, "op" -> op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      q.add(Map("type" -> "job_end", "job" -> e.jobId, "t" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = taskAgg.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new TaskAgg)
      val i = e.taskInfo
      a.synchronized {
        a.durations += (i.finishTime - i.launchTime)
        if (i.failed || i.killed) a.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          a.run += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.deser += m.executorDeserializeTime; a.resSer += m.resultSerializationTime
          a.gc += m.jvmGCTime
          a.shW += m.shuffleWriteMetrics.bytesWritten
          a.shR += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val a = Option(taskAgg.remove((s.stageId, s.attemptNumber()))).getOrElse(new TaskAgg)
      val accums = s.accumulables.values.flatMap(_.name).filter(_.startsWith("graft_")).toSeq
      q.add(Map("type" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "op" -> stageOp.get(s.stageId), "submit" -> s.submissionTime.getOrElse(-1L),
        "complete" -> s.completionTime.getOrElse(-1L), "tasks" -> s.numTasks,
        "failed" -> s.failureReason.isDefined, "graft_accums" -> accums,
        "durations_ms" -> a.durations.toSeq, "run_ms" -> a.run, "cpu_ns" -> a.cpuNs,
        "deser_ms" -> a.deser, "result_ser_ms" -> a.resSer, "gc_ms" -> a.gc,
        "shuffle_write_b" -> a.shW, "shuffle_read_b" -> a.shR, "spill_b" -> a.spill,
        "failed_tasks" -> a.failed))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      q.add(Map("type" -> "qe", "phases" -> qe.tracker.phases.map { case (k, v) =>
        k -> Map("start" -> v.startTimeMs, "end" -> v.endTimeMs) }))
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Snapshot of the codegen compile-time histogram, taken at op
    * boundaries: the histogram keeps a count and a sampled
    * distribution, so an op's compile time is estimated as
    * (count delta) x (mean compile time). */
  def codegenMark(op: String): Unit = if (attached) {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    q.add(Map("type" -> "codegen", "op" -> op, "count" -> h.getCount,
      "mean_ms" -> h.getSnapshot.getMean))
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    attached = false
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def events: Seq[Map[String, Any]] = q.asScala.toSeq
}
