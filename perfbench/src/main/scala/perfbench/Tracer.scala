package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler counts of one traced operation (one job group, or one
  * micro-batch of a streaming query).
  */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var taskWaitMs, taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var inputBytes, inputRecords = 0L
}

object Counters {
  def sum(a: Counters, b: Counters): Counters = {
    val c = new Counters
    c.jobs = a.jobs + b.jobs; c.stages = a.stages + b.stages
    c.tasks = a.tasks + b.tasks; c.taskFailures = a.taskFailures + b.taskFailures
    c.taskWaitMs = a.taskWaitMs + b.taskWaitMs; c.taskRunMs = a.taskRunMs + b.taskRunMs
    c.taskCpuNs = a.taskCpuNs + b.taskCpuNs; c.gcMs = a.gcMs + b.gcMs
    c.shuffleWriteBytes = a.shuffleWriteBytes + b.shuffleWriteBytes
    c.shuffleReadBytes = a.shuffleReadBytes + b.shuffleReadBytes
    c.spillBytes = a.spillBytes + b.spillBytes
    c.inputBytes = a.inputBytes + b.inputBytes; c.inputRecords = a.inputRecords + b.inputRecords
    c
  }
}

/** One planned-and-executed Dataset action, as the QueryExecutionListener
  * saw it. `startMs` is the wall clock of its first planning phase, which
  * falls inside the span of the operation that ran it.
  */
final case class PlanEvent(startMs: Long, analysisMs: Long, optimizerMs: Long,
    physicalMs: Long, planNodes: Long, reusedExchanges: Long)

/** A timed region recorded by the harness around a call into the engine. */
final case class Span(id: String, parent: String, name: String,
    startMs: Long, endMs: Long, durNs: Long)

/** Spark-listener tracing for the traced run. Job, stage and task events
  * are tied to an operation through its job group (streaming micro-batches
  * through the query's run id plus the batch id); planner events are tied
  * to the operation whose span contains their start. Listeners are attached
  * only around traced operations; spans and events stay in memory until
  * the run ends.
  */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val sc: SparkContext = spark.sparkContext
  private val byKey = new ConcurrentHashMap[String, Counters]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  val planEvents = new ConcurrentLinkedQueue[PlanEvent]()
  val spans = new ConcurrentLinkedQueue[Span]()

  private def counters(key: String): Counters = byKey.computeIfAbsent(key, _ => new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      val key = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        .fold(group)(b => s"$group#$b")
      val c = counters(key)
      c.synchronized { c.jobs += 1 }
      e.stageIds.foreach(s => stageKey.putIfAbsent(s, key))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitMs.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
        val c = counters(k); c.synchronized { c.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageKey.get(e.stageId)).foreach { k =>
        val c = counters(k)
        c.synchronized {
          c.tasks += 1
          if (e.reason != Success) c.taskFailures += 1
          val info = e.taskInfo
          val submitted = stageSubmitMs.getOrDefault(e.stageId, info.launchTime)
          c.taskWaitMs += math.max(0L, info.launchTime - submitted)
          val m = e.taskMetrics
          if (m != null) {
            c.taskRunMs += m.executorRunTime
            c.taskCpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.inputBytes += m.inputMetrics.bytesRead
            c.inputRecords += m.inputMetrics.recordsRead
          }
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
      val plan = qe.executedPlan
      val nodes = collectWithSubqueries(plan) { case p => p }.size.toLong
      val reused = collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }.size.toLong
      planEvents.add(PlanEvent(start, ms("analysis"), ms("optimization"), ms("planning"), nodes, reused))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  @volatile private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    attached = true
  }

  /** Deliver every pending event, then detach the listeners. */
  def detach(): Unit = if (attached) {
    ListenerBusAccess.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    attached = false
  }

  def countersFor(key: String): Counters = Option(byKey.get(key)).getOrElse(new Counters)

  /** Planner events whose first phase started inside [startMs, endMs]. */
  def plansIn(startMs: Long, endMs: Long): Seq[PlanEvent] =
    planEvents.asScala.filter(e => e.startMs >= startMs && e.startMs <= endMs).toSeq

  def span(id: String, parent: String, name: String, startMs: Long, endMs: Long, durNs: Long): Unit =
    spans.add(Span(id, parent, name, startMs, endMs, durNs))

  def spansJson: Seq[Map[String, Any]] = spans.asScala.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durNs / 1e6)
  }
}

object Tracer {
  /** The per-layer record of one traced operation. */
  def layerRecord(c: Counters, plans: Seq[PlanEvent]): Map[String, Any] = Map(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "task_failures" -> c.taskFailures, "task_wait_ms" -> c.taskWaitMs,
    "task_run_ms" -> c.taskRunMs, "task_cpu_ms" -> c.taskCpuNs / 1e6,
    "gc_ms" -> c.gcMs, "shuffle_write_bytes" -> c.shuffleWriteBytes,
    "shuffle_read_bytes" -> c.shuffleReadBytes, "spill_bytes" -> c.spillBytes,
    "input_bytes" -> c.inputBytes, "input_records" -> c.inputRecords,
    "analysis_ms" -> plans.map(_.analysisMs).sum,
    "optimizer_ms" -> plans.map(_.optimizerMs).sum,
    "physical_ms" -> plans.map(_.physicalMs).sum,
    "plan_nodes" -> plans.map(_.planNodes).sum,
    "reused_exchanges" -> plans.map(_.reusedExchanges).sum)
}
