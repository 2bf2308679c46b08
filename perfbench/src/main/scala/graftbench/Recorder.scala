package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in microseconds since the epoch, with nanoTime resolution, so
  * harness spans line up with the millisecond timestamps Spark's listener
  * events carry.
  */
object Clock {
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L
}

/** Everything the traced run observes, kept in memory and written out when
  * the run ends. Listeners are attached only while a traced pass runs, so
  * untraced passes pay nothing for them.
  *
  * Jobs are attributed to the op through the `graftbench.op` local property
  * the harness sets around each op. Jobs of a streaming query run on the
  * stream's own thread, which started outside any op and so carries no such
  * property; the analysis attributes those, and query executions, to the op
  * whose interval holds them (ops run one at a time).
  */
final class Recorder(spark: SparkSession) {
  import Recorder._

  val spans = ArrayBuffer.empty[Map[String, Any]]
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val tasks = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val actions = ArrayBuffer.empty[Map[String, Any]]
  val progress = ArrayBuffer.empty[Map[String, Any]]

  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, Int, Seq[Int])]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toInt).getOrElse(-1)
      jobStart(e.jobId) = (e.time, op, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, op, stageIds) =>
        jobs += Map("job" -> e.jobId, "op" -> op, "start_us" -> t0 * 1000L,
          "end_us" -> e.time * 1000L, "stages" -> stageIds,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      stages += Map("stage" -> info.stageId, "tasks" -> info.numTasks,
        "scopes" -> info.rddInfos.flatMap(_.scope.map(_.name)).distinct)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val base = Map[String, Any]("stage" -> e.stageId, "failed" -> (e.reason != Success))
      tasks += (if (m == null) base else base ++ Map(
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "peak_mem" -> m.peakExecutionMemory,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L, ok = false)
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (name, p) =>
      name -> Map("start_us" -> p.startTimeMs * 1000L, "end_us" -> p.endTimeMs * 1000L)
    }
    val joins = PlanWalk.joinNodes(qe.executedPlan)
    val endUs = phases.values.map(_("end_us")).foldLeft(0L)(math.max)
    synchronized {
      actions += Map("func" -> funcName, "ok" -> ok,
        "duration_s" -> durationNs / 1e9, "phases" -> phases, "end_us" -> endUs,
        "leapfrog" -> joins.exists(_.contains("LeapFrog")),
        "binary" -> joins.exists(j => !j.contains("LeapFrog")))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0) synchronized {
        progress += Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "trigger_ms" -> ms("triggerExecution"),
          "commit_ms" -> (ms("walCommit") + ms("commitOffsets")),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Let queued listener events arrive, then stop listening. */
  def detach(): Unit = if (attached) {
    org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    attached = false
  }

  /** Time `body` as a span named `name` of op `op`, when tracing. */
  def span[T](op: Int, name: String)(body: => T): T =
    if (!attached) body
    else {
      val t0 = Clock.nowUs
      try body
      finally synchronized {
        spans += Map("op" -> op, "name" -> name, "start_us" -> t0, "end_us" -> Clock.nowUs)
      }
    }
}

object Recorder {
  val OpProperty = "graftbench.op"
}

/** Join operators found in an executed plan, through adaptive query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def joinNodes(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) {
      case p if p.nodeName.contains("Join") || p.nodeName == "CartesianProduct" => p.nodeName
    }
}
