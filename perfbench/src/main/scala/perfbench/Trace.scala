package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, end: Long)

/** Records spans around layer calls made from the benchmark's own code.
  * Disabled, it only runs the body. The client is single-threaded, so a
  * plain stack gives each span its parent.
  */
final class Tracer(var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val counts = mutable.Map.empty[String, Double]
  var op: Int = -1

  /** Adds to a per-op count the benchmark reads from a layer's result. */
  def count(name: String, v: Double): Unit =
    if (enabled) counts(name) = counts.getOrElse(name, 0.0) + v

  def takeCounts(): Map[String, Double] = {
    val out = counts.toMap
    counts.clear()
    out
  }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, parent, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }
}

/** Per-op counters from Spark's public listener APIs: jobs, stages and
  * task metrics from the SparkContext bus, Catalyst phase times, final
  * plan facts and write statistics from each finished QueryExecution, and
  * micro-batch progress from streaming queries (delivered as "other"
  * events, so child sessions are seen too). The caller drains the bus
  * before reading [[take]].
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val counts = mutable.Map.empty[String, Double]

  private def add(k: String, v: Double): Unit = synchronized {
    counts(k) = counts.getOrElse(k, 0.0) + v
  }

  def take(): Map[String, Double] = synchronized {
    val out = counts.toMap
    counts.clear()
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("sched.jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    add("sched.stages", 1)
    add("sched.tasks", info.numTasks)
    val m = info.taskMetrics
    if (m != null) {
      add("exec.task_ms", m.executorRunTime)
      add("exec.cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle.records", m.shuffleWriteMetrics.recordsWritten)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle.spill_bytes", m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent =>
      val d = p.progress.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.trigger_ms", ms("triggerExecution"))
      add("streaming.planning_ms", ms("queryPlanning"))
      add("streaming.add_batch_ms", ms("addBatch"))
      add("streaming.wal_commit_ms", ms("walCommit"))
      add("streaming.commit_offsets_ms", ms("commitOffsets"))
      p.progress.stateOperators.foreach { s =>
        add("streaming.state_rows", s.numRowsTotal)
        add("streaming.state_commit_ms", s.commitTimeMs)
      }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def phase(k: String): Double = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    add("catalyst.analyze_ms", phase("analysis"))
    add("catalyst.optimize_ms", phase("optimization"))
    add("catalyst.physical_ms", phase("planning"))
    walk(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Counts final-plan facts, descending through AQE stages and into
    * subqueries, and picks up write statistics from write commands. */
  private def walk(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
      case s: QueryStageExec => walk(s.plan); return
      case _: ReusedExchangeExec => add("catalyst.reused_exchanges", 1); return
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike =>
        add("catalyst.exchanges", 1)
      case _: SortMergeJoinExec => add("catalyst.smj", 1)
      case _: BroadcastHashJoinExec => add("catalyst.bhj", 1)
      case w: DataWritingCommandExec =>
        val m = w.cmd.metrics
        m.get("numFiles").foreach(x => add("ingest.files", x.value))
        m.get("numOutputBytes").foreach(x => add("ingest.bytes", x.value))
        m.get("numOutputRows").foreach(x => add("ingest.records", x.value))
      case _ =>
    }
    p.children.foreach(walk)
    p.subqueries.foreach(walk)
  }
}
