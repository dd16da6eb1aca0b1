package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds; `op` is shared by
  * every span of one operation execution, `parent` is -1 at the root. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, op: Int)

/** Counters of one operation execution, filled from listener events. */
final class Counters {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  def max(k: String, x: Double): Unit = v(k) = math.max(v.getOrElse(k, 0.0), x)
}

/** The harness's own listeners and span store. Installed only in traced
  * runs. `enabled` lets a traced run interleave untraced passes (the
  * listener then ignores every event), which is how the run measures its
  * own overhead. The harness drains the listener bus when an operation
  * ends, so every event of the operation lands on its counters; within
  * the operation, an event belongs to `construct` when it happened before
  * `exec` started. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  @volatile private var op = Tracer.NoOp
  @volatile private var counters: Counters = new Counters

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var nextId = 0
  private val openJobs = mutable.HashMap.empty[Int, (Int, Double, Int)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val h5adStages = mutable.HashSet.empty[Int]

  def newId(): Int = synchronized { nextId += 1; nextId }

  def record(s: Span): Unit = synchronized { spans += s }

  /** Start an operation whose spans are `opId`, `constructId`, `execId`. */
  def beginOp(c: Counters, opId: Int, constructId: Int, execId: Int): Unit = {
    counters = c
    op = Tracer.OpIds(opId, constructId, execId, Double.MaxValue)
  }

  /** The operation's exec phase starts at `ms` (epoch milliseconds). */
  def beginExec(ms: Double): Unit = op = op.copy(execStart = ms)

  def endOp(): Unit = op = Tracer.NoOp

  private def live: Boolean = enabled && op.op >= 0

  private def inConstruct(ms: Double): Boolean = ms < op.execStart

  override def onJobStart(e: SparkListenerJobStart): Unit = if (live) synchronized {
    val id = newId()
    val construct = inConstruct(e.time.toDouble)
    openJobs(e.jobId) = (id, e.time.toDouble, if (construct) op.construct else op.exec)
    e.stageIds.foreach(s => stageJob(s) = id)
    counters.add("jobs", 1)
    if (construct) counters.add("eager_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (live) synchronized {
    openJobs.remove(e.jobId).foreach { case (id, start, parent) =>
      spans += Span(id, "job", start, e.time.toDouble, parent, op.op)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (live && e.stageInfo.rddInfos.exists(_.callSite.contains("H5ad.scala")))
      synchronized { h5adStages += e.stageInfo.stageId }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (live) synchronized {
    val i = e.stageInfo
    counters.add("stages", 1)
    for (s <- i.submissionTime; c <- i.completionTime)
      spans += Span(newId(), "stage", s.toDouble, c.toDouble,
        stageJob.getOrElse(i.stageId, op.exec), op.op)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (live) {
    val m = e.taskMetrics
    val c = counters
    c.add("tasks", 1)
    if (m != null) {
      c.add("task_ms", m.executorRunTime.toDouble)
      c.add("cpu_ns", m.executorCpuTime.toDouble)
      c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      c.max("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
      c.add("records_read", m.inputMetrics.recordsRead.toDouble)
      c.add("bytes_written", m.outputMetrics.bytesWritten.toDouble)
      if (synchronized(h5adStages.contains(e.stageId)))
        c.add("h5ad_decode_task_ms", m.executorRunTime.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val started = phases.values.map(_.startTimeMs.toDouble).minOption
      .getOrElse(System.currentTimeMillis().toDouble)
    if (live && !inConstruct(started)) {
      val c = counters
      val ids = op
      phases.foreach { case (name, p) =>
        c.add(s"${name}_ms", (p.endTimeMs - p.startTimeMs).toDouble)
        record(Span(newId(), s"plan.$name", p.startTimeMs.toDouble,
          p.endTimeMs.toDouble, ids.op, ids.op))
      }
      val writes = c.v.getOrElse("write_commands", 0.0)
      Tracer.walk(qe.executedPlan, c)
      if (c.v.getOrElse("write_commands", 0.0) > writes) c.add("write_ms", durationNs / 1e6)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Tracer {
  /** Count the shape of a physical plan, looking through AQE wrappers. */
  def walk(p: SparkPlan, c: Counters): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, c)
    case s: QueryStageExec => walk(s.plan, c)
    case _ =>
      p match {
        case w: DataWritingCommandExec =>
          c.add("write_commands", 1)
          w.cmd.metrics.get("numFiles").foreach(m => c.add("files_written", m.value.toDouble))
        case _: ReusedExchangeExec => c.add("reused_exchanges", 1)
        case _: ShuffleExchangeLike => c.add("exchanges", 1)
        case _: BroadcastExchangeLike => c.add("broadcasts", 1)
        case _: SortMergeJoinExec => c.add("smj", 1)
        case _: BroadcastHashJoinExec => c.add("bhj", 1)
        case _: WholeStageCodegenExec => c.add("codegen_stages", 1)
        case _ =>
      }
      p.children.foreach(walk(_, c))
      p.subqueries.foreach(walk(_, c))
  }

  final case class OpIds(op: Int, construct: Int, exec: Int, execStart: Double)
  val NoOp: OpIds = OpIds(-1, -1, -1, Double.MaxValue)
}
