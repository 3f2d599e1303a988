package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.graft.RunCounter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Dev profiler: drives named queries through Bench's own run path (the
  * warm run, the prepared count, the CacheScope drain) and prints one
  * [[QueryTrace]] JSON line per query.
  *
  * Usage: runMain graft.Trace <name|glob>[,…] [--runs N] [--plan]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as Bench.
  *
  * `--plan` also prints, before each record, the last run's executed
  * (post-AQE) operator tree with each node's non-zero SQL metrics, and
  * its per-stage table.
  */
object Trace {

  /** One query's trace. `warmMs` and `wallsMs` are Bench's walls
    * (negative when the run threw); everything else is the last
    * steady-state run's. Counters are exact: the listener bus is drained
    * before and after each run. Plan facts are counted over the executed
    * count plan, query stages and subqueries included. `batches` holds
    * each micro-batch's `durationMs` for `*_stream` gates.
    */
  final case class QueryTrace(query: String, builderMs: Double,
    warmMs: Double, wallsMs: Seq[Double], phasesMs: Map[String, Long],
    jobs: Int, stages: Int, tasks: Int, taskMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    exchanges: Int, reusedExchanges: Int, bhj: Int, shj: Int, smj: Int,
    codegenFallbacks: Int, batches: Seq[Map[String, Long]])

  /** One steady-state run; `qe` is the executed count plan's, absent
    * when the query threw.
    */
  final case class Run(wallMs: Double, builderMs: Double,
    qe: Option[QueryExecution], counts: RunCounter.Counts,
    batches: Seq[Map[String, Long]])

  /** Milliseconds since `t0` (a nanoTime), to the microsecond. */
  private def msSince(t0: Long): Double = math.rint((System.nanoTime() - t0) / 1e3) / 1e3

  def run(spark: SparkSession, runner: Bench.Runner, name: String,
      fn: (SparkSession, String) => DataFrame): Run = {
    var builderMs = 0.0
    var qe = Option.empty[QueryExecution]
    val timedBuild = (s: SparkSession, sfDir: String) => {
      val t0 = System.nanoTime()
      try fn(s, sfDir) finally builderMs = msSince(t0)
    }
    val batches = new ConcurrentLinkedQueue[Map[String, Long]]
    val streams =
      if (name.endsWith("_stream"))
        Some(graft.queries.AnalyticsQueries.streamSessionFor(spark).streams)
      else None
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        batches.add(e.progress.durationMs.asScala.toMap.map { case (k, v) => k -> v.longValue })
    }
    streams.foreach(_.addListener(listener))
    try {
      val (sec, counts) = RunCounter(spark.sparkContext)(
        runner.timedRun(name, timedBuild, q => qe = Some(q)))
      Run(math.rint(sec * 1e6) / 1e3, builderMs, qe, counts, batches.asScala.toSeq)
    } finally streams.foreach(_.removeListener(listener))
  }

  /** Children in execution order: through AQE's final plan and query
    * stages, and into subqueries.
    */
  private def children(p: SparkPlan): Seq[SparkPlan] = (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _ => p.children
  }) ++ p.subqueries

  private def operators(p: SparkPlan): Seq[SparkPlan] =
    p +: children(p).flatMap(operators)

  def record(name: String, warmMs: Double, runs: Seq[Run]): QueryTrace = {
    val last = runs.last
    val ops = last.qe.map(q => operators(q.executedPlan)).getOrElse(Nil)
    def count(pf: PartialFunction[SparkPlan, Unit]) = ops.count(pf.isDefinedAt)
    val c = last.counts
    QueryTrace(name, last.builderMs, warmMs, runs.map(_.wallMs),
      last.qe.map(_.tracker.phases.map { case (k, v) => k -> v.durationMs }).getOrElse(Map.empty),
      c.jobs, c.stages.size, c.tasks, c.taskMs,
      c.shuffleReadBytes, c.shuffleWriteBytes, c.spillBytes,
      count { case _: ShuffleExchangeLike | _: BroadcastExchangeLike => },
      count { case _: ReusedExchangeExec => },
      count { case _: BroadcastHashJoinExec => },
      count { case _: ShuffledHashJoinExec => },
      count { case _: SortMergeJoinExec => },
      ops.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum,
      last.batches)
  }

  def json(t: QueryTrace): String =
    org.json4s.jackson.Serialization.write(t)(org.json4s.DefaultFormats)

  /** The executed operator tree with non-zero SQL metrics, then the
    * per-stage table.
    */
  def planText(r: Run): String = {
    val out = new StringBuilder
    def tree(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq.sortBy(_._1).collect {
        case (k, m) if m.value > 0 => s"$k=${m.value}"
      }
      out.append("  " * depth).append(p.nodeName)
        .append(if (ms.isEmpty) "" else ms.mkString("  [", " ", "]")).append('\n')
      children(p).foreach(tree(_, depth + 1))
    }
    r.qe.foreach(q => tree(q.executedPlan, 0))
    out.append(" stage  wall_ms  tasks  task_ms  shuffle_rd  shuffle_wr     spill name\n")
    r.counts.stages.foreach { s =>
      out.append(f"${s.id}%6d ${s.wallMs}%8d ${s.tasks}%6d ${s.taskMs}%8d " +
        f"${s.shuffleReadBytes}%11d ${s.shuffleWriteBytes}%11d ${s.spillBytes}%9d ${s.name.take(60)}\n")
    }
    out.result()
  }

  private val usage = "usage: graft.Trace <name|glob>[,...] [--runs N] [--plan]"

  def main(args: Array[String]): Unit = {
    def parse(rest: List[String], patterns: Seq[String], runs: Int,
        plan: Boolean): (Seq[String], Int, Boolean) = rest match {
      case Nil => (patterns, runs, plan)
      case "--runs" :: n :: tail if n.toIntOption.exists(_ > 0) =>
        parse(tail, patterns, n.toInt, plan)
      case "--plan" :: tail => parse(tail, patterns, runs, plan = true)
      case a :: tail if !a.startsWith("--") =>
        parse(tail, patterns ++ a.split(",").map(_.trim).filter(_.nonEmpty), runs, plan)
      case _ => System.err.println(usage); sys.exit(2)
    }
    val (patterns, runs, plan) = parse(args.toList, Nil, 2, plan = false)
    val selected = Bench.select(patterns)
    if (selected.isEmpty) {
      System.err.println(s"$usage\nno query matches; available: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val (spark, sfDir) = Bench.sessionFromEnv()
    val runner = new Bench.Runner(spark, sfDir)
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      runner.warm(name, fn)
      val warmMs = msSince(t0)
      val rs = Seq.fill(runs)(run(spark, runner, name, fn))
      if (plan) println(s"===== $name\n${planText(rs.last)}")
      println(json(record(name, warmMs, rs)))
    }
    spark.stop()
  }
}
