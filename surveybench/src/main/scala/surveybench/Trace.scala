package surveybench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import scala.collection.mutable

/** One timed call at a layer boundary. `op` groups the spans of one
 *  benchmark operation (negative for probes); `parent` is -1 for an
 *  operation's root span. */
final case class Span(id: Int, op: Int, parent: Int, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/**
 * In-memory span recorder. With tracing off, [[span]] only runs its
 * body, so the untraced measurement pays nothing but a branch. Spans
 * are written out once, when the run ends.
 */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** JVM garbage-collection time inside operations. */
  var gcMs = 0L
  private var nextOp = 0
  private val probes = mutable.ArrayBuffer.empty[Int]
  private val stack = mutable.Stack.empty[(Int, Int)] // (span id, op id)

  /** Root span of one benchmark operation, tagged as a Spark job group
   *  so the listener can attribute every job to the operation. A probe
   *  (a layer timed alone, work the untraced run does not do) gets a
   *  group of its own that the operation counters leave out. */
  def op[T](spark: SparkSession, layer: String, name: String, probe: Boolean = false)(body: => T): T = {
    if (!enabled) return body
    val opId = if (probe) -1 - probes.size else nextOp
    if (probe) probes += opId else nextOp += 1
    val group = if (probe) s"probe${-opId}" else s"op-$opId"
    spark.sparkContext.setJobGroup(group, s"$layer:$name", interruptOnCancel = false)
    val gc0 = Run.gcMillis()
    try record(opId, layer, name, body)
    finally {
      spark.sparkContext.clearJobGroup()
      if (!probe) gcMs += Run.gcMillis() - gc0
    }
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled || stack.isEmpty) body else record(stack.top._2, layer, name, body)

  private def record[T](opId: Int, layer: String, name: String, body: => T): T = {
    val id = spans.size
    val parent = if (stack.isEmpty) -1 else stack.top._1
    spans += null // reserve the id; filled in when the span closes
    stack.push((id, opId))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      spans(id) = Span(id, opId, parent, layer, name, t0, t1)
    }
  }

  def opsRecorded: Int = nextOp

  /** Wall seconds inside operations (root spans, probes excluded). */
  def opSeconds: Double = spans.filter(s => s.parent < 0 && s.op >= 0).map(_.durNs).sum / 1e9

  /** Self time per layer in seconds: a span's duration minus the time
   *  its direct children cover (children never overlap: calls are
   *  sequential on the driver thread). */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.durNs - childNs(s.id)).sum / 1e9
    }
  }

  /** Total seconds of spans with this name. */
  def seconds(name: String): Double = spans.filter(_.name == name).map(_.durNs).sum / 1e9

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"layer":"${s.layer}",""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

/**
 * Scheduler/executor/shuffle counters of the jobs that run inside
 * operations, recognised by the job group the [[Tracer]] sets.
 * Registered from the benchmark's own code; graft sets no job groups.
 */
final class SparkCounters extends SparkListener {
  private val opStages = mutable.Set.empty[Int]
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  /** Jobs outside any operation or probe (output checks, layout listing). */
  var unattributedJobs = 0L
  var runNs = 0L
  var deserializeNs = 0L
  var schedDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    if (group.isEmpty) unattributedJobs += 1
    else if (group.get.startsWith("op-")) {
      jobs += 1
      opStages ++= e.stageIds
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (opStages(e.stageInfo.stageId)) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (opStages(e.stageId)) {
      tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runNs += m.executorRunTime * 1000000L
        deserializeNs += m.executorDeserializeTime * 1000000L
        val info = e.taskInfo
        val gettingResult = if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
        schedDelayMs += math.max(0L, info.finishTime - info.launchTime - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object SparkCounters {
  /** Attach counters for the duration of `body`; waits for the event
   *  queue to drain so every task of `body` is counted. */
  def during[T](spark: SparkSession)(body: => T): (T, SparkCounters) = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    try {
      val out = body
      drain(spark)
      (out, c)
    } finally spark.sparkContext.removeSparkListener(c)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.ListenerDrain(spark.sparkContext)
}

/** SQL metrics read off an executed physical plan. */
object PlanMetrics {
  /** Every node of an executed plan, looking through adaptive
   *  wrappers, query stages, reused exchanges and write commands. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case w: V2TableWriteExec => Seq(w.query)
      case other => other.children
    }
    p +: inner.flatMap(nodes)
  }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def sum(plan: SparkPlan, pick: SparkPlan => Boolean, name: String): Long =
    nodes(plan).filter(pick).map(metric(_, name)).sum

  def isScan(p: SparkPlan): Boolean = p.nodeName.startsWith("Scan ") || p.nodeName.contains("FileScan")
  def isJoin(p: SparkPlan): Boolean = p.nodeName.endsWith("Join")
}

/** Captures the executed plan of the last action run on the driver
 *  thread (a noop write has no Dataset handle to read metrics from). */
final class LastExecution extends org.apache.spark.sql.util.QueryExecutionListener {
  @volatile var plan: SparkPlan = _
  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = plan = qe.executedPlan
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()
}
