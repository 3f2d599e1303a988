package graft.ops

import graft.ext.CacheScope
import graft.model.{QueryConfig, QueryExecution}
import java.time.Instant
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable.ArrayBuffer

/** The service loop (reference: cmd/server/main.go:110-213; SURVEY §2.8
  * O1/O2/O5): startup catch-up, a once-per-second cron tick, and graceful
  * shutdown that stops scheduling and waits a bounded time for the
  * in-flight run. Time is injected (a clock function), so specs drive the
  * loop deterministically — the daemon is a thin thread around the pure
  * [[QueryRunner.dueAt]] core.
  */
final class Daemon(
    runner: QueryRunner,
    configs: Seq[QueryConfig],
    onResult: Either[QueryExecution, RunResult] => Unit,
    clock: () => Instant = () => Instant.now(),
    tickMs: Long = 1000L) {

  private val running = new AtomicBoolean(false)
  private val inFlight = new AtomicBoolean(false)
  @volatile private var thread: Thread = _

  /** O2 catch-up, then schedule ticks (O1). */
  def start(catchUp: Boolean = true): Unit = {
    require(running.compareAndSet(false, true), "daemon already running")
    thread = new Thread(() => {
      if (catchUp) runDue(configs.filter(_.enabled))
      var lastTick: Option[Instant] = None
      while (running.get()) {
        val now = clock().`with`(java.time.temporal.ChronoField.NANO_OF_SECOND, 0)
        if (!lastTick.contains(now)) {
          lastTick = Some(now)
          runDue(runner.dueAt(configs, now))
        }
        Thread.sleep(tickMs / 10 max 1)
      }
    }, "graft-daemon")
    thread.setDaemon(true)
    thread.start()
  }

  private def runDue(due: Seq[QueryConfig]): Unit = {
    if (due.nonEmpty) {
      inFlight.set(true)
      try due.foreach { cfg =>
        val started = Instant.now()
        try onResult(Right(runner.executeWithRetry(cfg)))
        catch {
          case e: Exception =>
            onResult(Left(runner.failedExecution(cfg, e, started)))
        } finally CacheScope.drain() // release the run's persisted records
      } finally inFlight.set(false)
    }
  }

  /** O5: stop scheduling, wait ≤ `graceMs` for the in-flight batch
    * (server/main.go:191-209 waits ≤30 s).
    */
  def stop(graceMs: Long = 30000L): Boolean = {
    running.set(false)
    val deadline = System.currentTimeMillis() + graceMs
    while (inFlight.get() && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    if (thread != null) thread.join(graceMs)
    !inFlight.get()
  }
}
