package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.CacheScope
import graft.model.{QueryConfig, QueryExecution}
import graft.promql.PromOps
import graft.time.TimeResolver
import graft.ingest.CollectedAt
import java.sql.Timestamp
import java.time.Instant

/** The collection lifecycle (reference: internal/executor/executor.go;
  * SURVEY §3.1): dispatch by time-range type (S3), resolve the configured
  * time expressions (S4/S5), evaluate, convert to `metrics_data` rows,
  * retry on failure (O3), and append an audit row either way (W3/O6).
  *
  * Everything is a pure function of (config, metrics frame, pinned now) —
  * the cron daemon is externalized to [[runAllDue]] so scheduling is
  * testable without wall-clock or threads (the reference couples these;
  * its production incident came from exactly that coupling).
  */
/** One completed run: the produced records and its audit row. */
final case class RunResult(records: DataFrame, execution: QueryExecution)

final class QueryRunner(
    metrics: DataFrame,
    now: Instant,
    sleeper: Long => Unit = Thread.sleep) {

  private val resolver = TimeResolver(now)

  /** S3 dispatch: route instant vs range; unknown types default to
    * instant (reference: client.go:206-230, default branch :219-229).
    */
  def execute(cfg: QueryConfig): RunResult = {
    val started = Instant.now()
    // persisted so the audit count fills the cache the caller's write
    // reads, instead of evaluating the query twice; the records live
    // until the caller's next CacheScope.drain()
    val records = CacheScope.persistTracked(cfg.time_range_type match {
      case "range" => executeRange(cfg)
      case _       => executeInstant(cfg)
    })
    val n = records.count()
    val ended = Instant.now()
    RunResult(records, QueryExecution(
      query_id = cfg.query_id, query_name = cfg.name, status = "success",
      start_time = Timestamp.from(started), end_time = Some(Timestamp.from(ended)),
      duration_ms = Some(ended.toEpochMilli - started.toEpochMilli),
      records_count = n.toInt, error_message = None,
      created_at = Timestamp.from(ended)))
  }

  /** S4: instant query at the configured `time_range_time`. The config's
    * `query` field holds the metric selector (a full PromQL string
    * front-end is deliberately out of scope — SURVEY §7.4).
    */
  private def executeInstant(cfg: QueryConfig): DataFrame = {
    val timeExpr = cfg.time_range_time.getOrElse("")
    val at = resolver.resolve(timeExpr).getEpochSecond
    PromOps.instantVector(metrics, cfg.query, at)
      .select(
        lit(cfg.query_id).as("query_id"),
        col("metric_name"),
        PromOps.labelsOf(col("skey")).as("labels"),
        col("value"),
        timestamp_seconds(col("e")).as("timestamp"),
        lit("instant").as("result_type"),
        CollectedAt.derive("instant", Some(timeExpr), None,
          timestamp_seconds(col("e")), now).as("collected_at"))
  }

  /** S5: range query over the configured window/step grid. */
  private def executeRange(cfg: QueryConfig): DataFrame = {
    val (s, e) = resolver.resolveRange(
      cfg.time_range_start.getOrElse(""), cfg.time_range_end.getOrElse(""))
    val step = TimeResolver.parseStepSeconds(cfg.time_range_step.getOrElse("60"))
    val g0 = ((s.getEpochSecond + step - 1) / step) * step
    val g1 = (e.getEpochSecond / step) * step
    PromOps.rangeEval(metrics, cfg.query, g0, g1, step)
      .select(
        lit(cfg.query_id).as("query_id"),
        lit(cfg.query).as("metric_name"),
        PromOps.labelsOf(col("skey")).as("labels"),
        col("value"),
        timestamp_seconds(col("g")).as("timestamp"),
        lit("range").as("result_type"),
        CollectedAt.derive("range", None, Some((s, e)),
          timestamp_seconds(col("g")), now).as("collected_at"))
  }

  /** O3: fixed-interval retry around an execution
    * (executor.go:366-402). Failure after all retries re-throws and the
    * caller records the failed audit row.
    */
  def executeWithRetry(cfg: QueryConfig): RunResult = {
    val attempts = math.max(1, cfg.retry_count + 1)
    val intervalMs =
      try TimeResolver.parseDuration(cfg.retry_interval).toMillis
      catch { case _: Exception => 5000L } // default 5s (executor.go:371)
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return execute(cfg)
      catch {
        case t: Throwable =>
          last = t; i += 1
          if (i < attempts) sleeper(intervalMs)
      }
    }
    throw last
  }

  /** O4: hard per-execution timeout (the reference hardcodes 60 s via a
    * context deadline regardless of the config's own timeout field —
    * cmd/server/main.go:126; we replicate that shape with the configured
    * default). On expiry the job group is cancelled (tasks interrupted)
    * and a `timeout` audit row is produced.
    */
  def executeWithTimeout(cfg: QueryConfig,
      timeoutMs: Long = 60000L): Either[QueryExecution, RunResult] = {
    import scala.concurrent.{Await, Future, TimeoutException}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = metrics.sparkSession
    val group = s"graft-${cfg.query_id}-${System.nanoTime()}"
    val started = Instant.now()
    val fut = Future {
      spark.sparkContext.setJobGroup(group, cfg.query_id, interruptOnCancel = true)
      try execute(cfg) finally spark.sparkContext.clearJobGroup()
    }
    try Right(Await.result(fut, timeoutMs.millis))
    catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        val ended = Instant.now()
        Left(QueryExecution(cfg.query_id, cfg.name, "timeout",
          Timestamp.from(started), Some(Timestamp.from(ended)),
          Some(ended.toEpochMilli - started.toEpochMilli), 0,
          Some(s"execution exceeded ${timeoutMs}ms"), Timestamp.from(ended)))
    }
  }

  /** Failed-run audit row (the reference writes one at every error stage:
    * executor.go:73-92, 102-119, ...).
    */
  def failedExecution(cfg: QueryConfig, err: Throwable, started: Instant): QueryExecution =
    QueryExecution(cfg.query_id, cfg.name, "failed",
      Timestamp.from(started), Some(Timestamp.from(Instant.now())),
      Some(Instant.now().toEpochMilli - started.toEpochMilli), 0,
      Some(Option(err.getMessage).getOrElse(err.getClass.getName)),
      Timestamp.from(Instant.now()))

  /** O1 as a pure function: all enabled configs whose cron fires at `t`.
    * A daemon loop calls this once per second; tests call it directly.
    */
  def dueAt(configs: Seq[QueryConfig], t: Instant): Seq[QueryConfig] =
    configs.filter(c => c.enabled && CronSchedule.parse(c.schedule).isDue(t))

  def runAllDue(configs: Seq[QueryConfig], t: Instant): Seq[RunResult] =
    dueAt(configs, t).map(executeWithRetry)

  /** O2: startup catch-up — run every enabled config once
    * (cmd/server/main.go:157-189).
    */
  def catchUp(configs: Seq[QueryConfig]): Seq[RunResult] =
    configs.filter(_.enabled).map(executeWithRetry)
}
