package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model.QueryConfig
import graft.ops.{Daemon, EnvConfig, QueryRunner}
import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

class EnvConfigSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("S11: typed lookups with defaults") {
    val c = EnvConfig("A" -> "5", "B" -> "true", "C" -> "90s", "D" -> "junk")
    assert(c.int("A", 1) == 5 && c.int("MISSING", 7) == 7 && c.int("D", 3) == 3)
    assert(c.bool("B", default = false))
    assert(c.duration("C", java.time.Duration.ZERO).getSeconds == 90)
    assert(c.str("MISSING", "x") == "x")
  }

  test("S12: .env parse with quotes, comments, and no-override merge") {
    val parsed = EnvConfig.parseDotEnv(Seq(
      "# comment", "", "PLAIN=v1", "QUOTED=\"v 2\"", "SINGLE='v3'",
      "SPACED = v4 ", "NOEQ-ignored"))
    assert(parsed == Map("PLAIN" -> "v1", "QUOTED" -> "v 2",
      "SINGLE" -> "v3", "SPACED" -> "v4"))
    val f = Files.createTempFile("dotenv", ".env")
    Files.writeString(f, "FROM_FILE=file\nSHARED=file\n")
    val merged = EnvConfig("SHARED" -> "env").withDotEnv(f)
    assert(merged.str("FROM_FILE", "?") == "file")
    assert(merged.str("SHARED", "?") == "env") // real env wins (no-override)
  }
}

class DaemonSpec extends SparkSpec {
  import spark.implicits._

  private def metrics = Seq(("gpu", Map("n" -> "1"), 0.5, 1706659190L))
    .toDF("metric_name", "labels", "value", "es")
    .withColumn("timestamp", timestamp_seconds(col("es")))

  private def cfg(id: String, schedule: String) = QueryConfig(
    id, id, None, "gpu", schedule, "60s", enabled = true, 0, "1s",
    "instant", Some("yesterday_end"), None, None, None)

  test("O1/O2/O5: catch-up, scheduled firing, graceful stop") {
    val runner = new QueryRunner(metrics, Instant.parse("2024-01-31T00:00:00Z"))
    val results = new ConcurrentLinkedQueue[String]()
    // fake clock marches one second per read, from a due boundary
    val base = Instant.parse("2024-01-31T01:00:00Z")
    val ticks = new java.util.concurrent.atomic.AtomicLong(0)
    val daemon = new Daemon(
      runner,
      Seq(cfg("every_sec", "* * * * * *"), cfg("daily", "0 0 1 * * *")),
      onResult = r => results.add(r.fold(_.query_id, _.execution.query_id)),
      clock = () => base.plusSeconds(ticks.getAndIncrement()),
      tickMs = 50L)
    daemon.start(catchUp = true)
    val deadline = System.currentTimeMillis() + 60000
    while (results.size < 4 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(daemon.stop(graceMs = 10000L))
    val seen = results.toArray(Array.empty[String]).toSeq
    // catch-up ran both enabled configs once (O2)
    assert(seen.count(_ == "daily") >= 1)
    // the every-second cron fired on ticks (O1)
    assert(seen.count(_ == "every_sec") >= 2)
  }

  test("O1: each run's persisted records are released after its result") {
    val runner = new QueryRunner(metrics, Instant.parse("2024-01-31T00:00:00Z"))
    val cachedAtResult = new ConcurrentLinkedQueue[Boolean]()
    val records = new ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()
    val base = Instant.parse("2024-01-31T01:00:00Z")
    val ticks = new java.util.concurrent.atomic.AtomicLong(0)
    val daemon = new Daemon(runner, Seq(cfg("every_sec", "* * * * * *")),
      onResult = r => r.foreach { res =>
        cachedAtResult.add(res.records.storageLevel != StorageLevel.NONE)
        records.add(res.records)
      },
      clock = () => base.plusSeconds(ticks.getAndIncrement()),
      tickMs = 50L)
    daemon.start(catchUp = true)
    val deadline = System.currentTimeMillis() + 60000
    while (records.size < 4 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(daemon.stop(graceMs = 10000L))
    assert(records.size >= 4)
    // the count filled a cache the callback could read from ...
    assert(cachedAtResult.toArray.forall(_ == true))
    // ... and none of it outlives the run
    assert(records.toArray(Array.empty[org.apache.spark.sql.DataFrame])
      .forall(_.storageLevel == StorageLevel.NONE))
  }
}
