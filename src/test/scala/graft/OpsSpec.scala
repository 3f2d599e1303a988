package graft

import org.apache.spark.sql.functions._
import graft.model.QueryConfig
import graft.ops.{ConfigStore, CronSchedule, QueryRunner}
import java.nio.file.Files
import java.time.Instant

class CronSpec extends SparkSpec {
  test("6-field parse and firing") {
    val daily = CronSchedule.parse("0 0 1 * * *") // flagship: daily @01:00
    assert(daily.isDue(Instant.parse("2024-01-31T01:00:00Z")))
    assert(!daily.isDue(Instant.parse("2024-01-31T01:00:01Z")))
    assert(!daily.isDue(Instant.parse("2024-01-31T02:00:00Z")))

    val every30s = CronSchedule.parse("*/30 * * * * *") // up_status default
    assert(every30s.isDue(Instant.parse("2024-01-31T10:15:00Z")))
    assert(every30s.isDue(Instant.parse("2024-01-31T10:15:30Z")))
    assert(!every30s.isDue(Instant.parse("2024-01-31T10:15:31Z")))

    val listed = CronSchedule.parse("0 5,35 8-10 * * 1-5")
    assert(listed.isDue(Instant.parse("2024-01-31T09:35:00Z"))) // Wed
    assert(!listed.isDue(Instant.parse("2024-01-28T09:35:00Z"))) // Sun
  }

  test("nextAfter finds the next firing") {
    val daily = CronSchedule.parse("0 0 1 * * *")
    assert(daily.nextAfter(Instant.parse("2024-01-31T01:00:00Z"))
      .contains(Instant.parse("2024-02-01T01:00:00Z")))
    intercept[IllegalArgumentException](CronSchedule.parse("0 0 1 * *"))
  }
}

class QueryRunnerSpec extends SparkSpec {
  import spark.implicits._
  private val now = Instant.parse("2024-01-31T00:00:00Z")

  private def metrics = Seq(
    ("gpu", Map("node" -> "n1"), 0.5, 1706659190L),
    ("gpu", Map("node" -> "n2"), 0.7, 1706659195L),
    ("gpu", Map("node" -> "n1"), 0.4, 1706572805L))
    .toDF("metric_name", "labels", "value", "es")
    .withColumn("timestamp", timestamp_seconds(col("es")))

  private def cfg(tpe: String) = QueryConfig(
    query_id = "gpu_daily", name = "GPU daily", description = None,
    query = "gpu", schedule = "0 0 1 * * *", timeout = "60s", enabled = true,
    retry_count = 2, retry_interval = "1s", time_range_type = tpe,
    time_range_time = Some("yesterday_end"),
    time_range_start = Some("yesterday"), time_range_end = Some("yesterday_end"),
    time_range_step = Some("1m"))

  test("instant dispatch: evaluates at yesterday_end, audit row written") {
    val runner = new QueryRunner(metrics, now)
    val res = runner.execute(cfg("instant"))
    val rows = res.records.collect()
    assert(rows.length == 2) // latest per series within lookback of Te
    assert(res.execution.status == "success" && res.execution.records_count == 2)
    // collected_at pinned to start of yesterday (executor.go:443-452)
    assert(rows.forall(_.getAs[java.sql.Timestamp]("collected_at").toInstant
      == Instant.parse("2024-01-30T00:00:00Z")))
  }

  test("range dispatch: grid rows tagged result_type=range") {
    val runner = new QueryRunner(metrics, now)
    val res = runner.execute(cfg("range"))
    assert(res.records.select("result_type").distinct().head().getString(0) == "range")
    assert(res.execution.records_count > 0)
  }

  test("O3 retry: N attempts with sleeps, then rethrow; failed audit row") {
    var sleeps = 0
    val runner = new QueryRunner(metrics, now, sleeper = _ => sleeps += 1)
    val bad = cfg("instant").copy(time_range_time = Some("not-an-expr"))
    val err = intercept[IllegalArgumentException](runner.executeWithRetry(bad))
    assert(sleeps == 2) // retry_count=2 -> 3 attempts, 2 sleeps
    val audit = runner.failedExecution(bad, err, now)
    assert(audit.status == "failed" && audit.error_message.nonEmpty)
  }

  test("O4: timeout path produces a timeout audit row; fast path succeeds") {
    val runner = new QueryRunner(metrics, now)
    // generous budget -> success
    val ok = runner.executeWithTimeout(cfg("instant"), timeoutMs = 120000L)
    assert(ok.isRight && ok.toOption.get.execution.status == "success")
    // zero budget -> timeout row with the reference's status enum value
    val to = runner.executeWithTimeout(cfg("instant"), timeoutMs = 0L)
    assert(to.isLeft)
    val audit = to.left.toOption.get
    assert(audit.status == "timeout" && audit.records_count == 0)
  }

  test("O1/O2: due-at scheduling and catch-up are pure functions") {
    val runner = new QueryRunner(metrics, now)
    val configs = Seq(cfg("instant"),
      cfg("instant").copy(query_id = "other", schedule = "0 30 2 * * *"),
      cfg("instant").copy(query_id = "off", enabled = false))
    val due = runner.dueAt(configs, Instant.parse("2024-01-31T01:00:00Z"))
    assert(due.map(_.query_id) == Seq("gpu_daily"))
    assert(runner.catchUp(configs).size == 2) // disabled excluded (O2)
  }
}

class ConfigStoreSpec extends SparkSpec {
  private def mkCfg(id: String, enabled: Boolean = true) = QueryConfig(
    id, s"name-$id", None, "gpu", "0 0 1 * * *", "60s", enabled, 3, "60s",
    "instant", Some("yesterday_end"), None, None, None)

  test("W4/W5/W6: upsert, delete, toggle via read-modify-overwrite") {
    val dir = Files.createTempDirectory("cfgstore").toString + "/configs"
    val store = new ConfigStore(spark, dir)
    store.init(Seq(mkCfg("a"), mkCfg("b")))
    assert(store.loadEnabled().count() == 2)

    store.upsert(mkCfg("a").copy(name = "updated")) // update path
    store.upsert(mkCfg("c")) // insert path
    assert(store.get("a").get.name == "updated")
    assert(store.loadAll().count() == 3)

    store.setEnabled("b", enabled = false)
    assert(store.loadEnabled().collect().map(_.query_id).sorted.toSeq == Seq("a", "c"))
    assert(store.get("b").isEmpty) // S8 looks up enabled only

    store.delete("c")
    assert(store.loadAll().count() == 2)
    intercept[IllegalArgumentException](store.delete("nope"))
  }

  test("S7: loadEnabled keeps query_id order over a multi-file table in one job") {
    val dir = Files.createTempDirectory("cfgstore3").toString + "/configs"
    val enc = org.apache.spark.sql.Encoders.product[QueryConfig]
    for (ids <- Seq(Seq("e", "b"), Seq("d", "a"), Seq("f", "c")))
      spark.createDataset(ids.map(id => mkCfg(id, enabled = id != "c")))(enc)
        .coalesce(1).write.mode("append").parquet(dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 3)
    val store = new ConfigStore(spark, dir)
    val (rows, jobs) = org.apache.spark.graft.RunCounter.jobs(spark.sparkContext)(
      store.loadEnabled().collect())
    assert(rows.map(_.query_id).toSeq == Seq("a", "b", "d", "e", "f"))
    assert(jobs == 1)
  }

  test("W4: two-phase commit self-heals the rename crash window") {
    val dir = Files.createTempDirectory("cfgstore2").toString + "/configs"
    val store = new ConfigStore(spark, dir)
    store.init(Seq(mkCfg("a"), mkCfg("b")))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // simulate dying between live→old and tmp→live: live path gone,
    // previous table intact in .old
    assert(fs.rename(p(dir), p(dir + ".old")))
    assert(store.loadAll().count() == 2) // read restores the table
    assert(fs.exists(p(dir)) && !fs.exists(p(dir + ".old")))
    // stale tmp/old debris from a crashed writer must not break commits
    fs.mkdirs(p(dir + ".tmp")); fs.mkdirs(p(dir + ".old"))
    store.upsert(mkCfg("c"))
    assert(store.loadAll().count() == 3)
    assert(!fs.exists(p(dir + ".tmp")) && !fs.exists(p(dir + ".old")))
  }
}
