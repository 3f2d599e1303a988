package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ingest.EventsIngest
import graft.repair.Repair
import org.apache.spark.graft.RunCounter
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Paths}
import java.time.LocalDate

/** J1-J5 + W7/W8: idempotent backfill over the partitioned fact table. */
class RepairSpec extends SparkSpec {
  import spark.implicits._

  private def records(days: Seq[LocalDate], tag: Double): DataFrame =
    days.map(d => ("q1", "m", Map("n" -> "1"), tag,
      java.sql.Timestamp.valueOf(d.atlocal), "instant",
      java.sql.Timestamp.valueOf(d.atlocal)))
      .toDF("query_id", "metric_name", "labels", "value", "timestamp",
        "result_type", "collected_at")

  private implicit class DayOps(d: LocalDate) {
    def atlocal: java.time.LocalDateTime = d.atStartOfDay()
  }

  private def d(s: String) = LocalDate.parse(s)

  test("J1/J2/J4/J5/W8: partition-probe plan, idempotent run, force overwrite") {
    val path = Files.createTempDirectory("fact").toString + "/fact"
    Repair.configure(spark)
    // seed days 10-12
    records(Seq(d("2024-01-10"), d("2024-01-11"), d("2024-01-12")), tag = 1.0)
      .withColumn("collect_date", to_date(col("collected_at")))
      .write.partitionBy("collect_date", "query_id").mode("overwrite").parquet(path)

    val missing = Repair.missingDays(spark, path, "q1", d("2024-01-10"), d("2024-01-14"))
    assert(missing == Seq(d("2024-01-13"), d("2024-01-14")))

    // dry-run plan (J5)
    val plan = Repair.plan(spark, path, "q1", d("2024-01-10"), d("2024-01-14"), force = false)
    assert(plan.map(p => p.day.toString -> p.action).toMap ==
      Map("2024-01-10" -> "skip", "2024-01-11" -> "skip", "2024-01-12" -> "skip",
        "2024-01-13" -> "recompute", "2024-01-14" -> "recompute"))

    // run: only missing days computed and written
    val s1 = Repair.run(spark, path, "q1", d("2024-01-10"), d("2024-01-14"),
      force = false, compute = days => records(days, tag = 2.0))
    assert(s1.daysRepaired == 2 && s1.recordsWritten == 2)
    val table = spark.read.parquet(path)
    assert(table.count() == 5)
    // day 10 untouched (tag 1.0), day 13 fresh (tag 2.0)
    assert(table.filter(col("collect_date") === "2024-01-10")
      .head().getAs[Double]("value") == 1.0)
    assert(table.filter(col("collect_date") === "2024-01-13")
      .head().getAs[Double]("value") == 2.0)

    // idempotent: second run is a no-op (J1 skip)
    val s2 = Repair.run(spark, path, "q1", d("2024-01-10"), d("2024-01-14"),
      force = false, compute = days => records(days, tag = 3.0))
    assert(s2.daysRepaired == 0 && spark.read.parquet(path).count() == 5)

    // force: all days overwritten in place, count unchanged (J2/W8)
    val s3 = Repair.run(spark, path, "q1", d("2024-01-10"), d("2024-01-14"),
      force = true, compute = days => records(days, tag = 4.0))
    assert(s3.daysRepaired == 5)
    val after = spark.read.parquet(path)
    assert(after.count() == 5)
    assert(after.select("value").distinct().head().getDouble(0) == 4.0)
  }

  private def plannedActions(path: String, queryId: String): Map[String, String] =
    Repair.plan(spark, path, queryId, d("2024-01-10"), d("2024-01-13"), force = false)
      .map(p => p.day.toString -> p.action).toMap

  test("J1: a query id that needs path escaping probes its escaped directory") {
    val path = Files.createTempDirectory("factesc").toString + "/fact"
    val id = "gpu:daily/a=b"
    EventsIngest.writeFactTable(
      records(Seq(d("2024-01-10"), d("2024-01-12")), 1.0).withColumn("query_id", lit(id)),
      path)
    assert(spark.read.parquet(path).select("query_id").distinct().head().getString(0) == id)
    assert(plannedActions(path, id) == Map("2024-01-10" -> "skip",
      "2024-01-11" -> "recompute", "2024-01-12" -> "skip", "2024-01-13" -> "recompute"))
  }

  test("J1: a partition directory holding only hidden files counts as missing") {
    val path = Files.createTempDirectory("facthid").toString + "/fact"
    EventsIngest.writeFactTable(records(Seq(d("2024-01-10")), 1.0), path)
    val hiddenOnly = Paths.get(path, "collect_date=2024-01-11", "query_id=q1")
    Files.createDirectories(hiddenOnly)
    Files.write(hiddenOnly.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(hiddenOnly.resolve(".part-0.parquet.crc"), Array[Byte](1, 2))
    Files.createDirectories(Paths.get(path, "collect_date=2024-01-12", "query_id=q1"))
    assert(plannedActions(path, "q1") == Map("2024-01-10" -> "skip",
      "2024-01-11" -> "recompute", "2024-01-12" -> "recompute",
      "2024-01-13" -> "recompute"))
  }

  test("J1: a sink that does not exist yet plans every day as recompute") {
    val path = Files.createTempDirectory("factnone").toString + "/fact"
    assert(plannedActions(path, "q1").values.toSet == Set("recompute"))
    assert(Repair.plan(spark, path, "q1", d("2024-01-10"), d("2024-01-13"),
      force = true).map(_.action).toSet == Set("recompute"))
  }

  test("J5: planning starts no Spark job") {
    val path = Files.createTempDirectory("factjobs").toString + "/fact"
    EventsIngest.writeFactTable(records((10 to 12).map(i => d(f"2024-01-$i%02d")), 1.0), path)
    val (plan, jobs) = RunCounter.jobs(spark.sparkContext)(plannedActions(path, "q1"))
    assert(plan("2024-01-10") == "skip" && plan("2024-01-13") == "recompute")
    assert(jobs == 0)
  }

  test("J1: a run evaluates its records once and leaves nothing cached") {
    val path = Files.createTempDirectory("factcache").toString + "/fact"
    val evaluated = spark.sparkContext.longAccumulator("repair_rows")
    val seen = udf { (v: Double) => evaluated.add(1); v }
    val computed = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val s = Repair.run(spark, path, "q1", d("2024-01-10"), d("2024-01-12"),
      force = false, compute = days => {
        val df = records(days, 2.0).filter(seen(col("value")) > 0); computed += df; df
      })
    assert(s.daysRepaired == 3 && s.recordsWritten == 3)
    assert(spark.read.parquet(path).count() == 3)
    assert(evaluated.value == 3) // the count filled the cache the write read
    assert(computed.size == 1 && computed.head.storageLevel == StorageLevel.NONE)
  }

  test("J3: retention-error classification matches the reference strings") {
    // case-sensitive, exactly like cmd/repair/main.go:583-588
    assert(Repair.isRetentionError("query data is out of bounds"))
    assert(Repair.isRetentionError("sample too old for ingestion"))
    assert(Repair.isRetentionError("beyond retention window"))
    assert(!Repair.isRetentionError("beyond RETENTION window")) // parity: no folding
    assert(!Repair.isRetentionError("connection refused"))
    assert(!Repair.isRetentionError(null))
  }

  test("J3: a retention error marks days unrepairable instead of failing the batch") {
    val path = Files.createTempDirectory("fact3").toString + "/fact"
    records(Seq(d("2024-01-10")), tag = 1.0)
      .withColumn("collect_date", to_date(col("collected_at")))
      .write.partitionBy("collect_date", "query_id").mode("overwrite").parquet(path)
    val s = Repair.run(spark, path, "q1", d("2024-01-10"), d("2024-01-12"),
      force = false,
      compute = _ => throw new RuntimeException("requested data is out of bounds"))
    assert(s.daysRepaired == 0 && s.recordsWritten == 0)
    assert(s.plan.map(_.action) == Seq("skip", "unrepairable", "unrepairable"))
    assert(spark.read.parquet(path).count() == 1) // existing data untouched
    // non-retention errors still propagate
    intercept[RuntimeException](
      Repair.run(spark, path, "q1", d("2024-01-10"), d("2024-01-12"),
        force = false, compute = _ => throw new RuntimeException("connection refused")))
  }

  test("W7: retention delete drops whole partitions below the cutoff") {
    val path = Files.createTempDirectory("fact2").toString + "/fact"
    records((8 to 12).map(i => d(f"2024-01-$i%02d")), tag = 1.0)
      .withColumn("collect_date", to_date(col("collected_at")))
      .write.partitionBy("collect_date", "query_id").mode("overwrite").parquet(path)
    val deleted = Repair.retentionDelete(spark, path, d("2024-01-10"))
    assert(deleted == 2) // days 8, 9
    val left = spark.read.parquet(path)
      .select("collect_date").distinct().collect().map(_.get(0).toString).sorted
    assert(left.toSeq == Seq("2024-01-10", "2024-01-11", "2024-01-12"))
  }

  test("W7: retention delete resolves the fact path's own filesystem") {
    val path = "file://" + Files.createTempDirectory("fact4").toString + "/fact"
    EventsIngest.writeFactTable(records((8 to 10).map(i => d(f"2024-01-$i%02d")), 1.0), path)
    val conf = spark.sparkContext.hadoopConfiguration
    val defaultFs = conf.get("fs.defaultFS")
    // a default FS nothing can serve: only the path's own scheme works
    conf.set("fs.defaultFS", "graftnofs://nowhere/")
    val deleted = try Repair.retentionDelete(spark, path, d("2024-01-10"))
      finally conf.set("fs.defaultFS", defaultFs)
    assert(deleted == 2)
    assert(spark.read.parquet(path).count() == 1)
  }

  test("J8: CLI args — N days back from injected yesterday") {
    val today = d("2024-01-31")
    val Right(c) = Repair.parseArgs(Seq("--query-id", "gpu", "30"), today): @unchecked
    assert(c.queryId == "gpu")
    assert(c.end == d("2024-01-30")) // yesterday
    assert(c.start == d("2024-01-01")) // yesterday - (30-1)
    assert(!c.force && !c.dryRun && c.skipIfNoData) // reference defaults
    // 1 day = just yesterday (main.go: start = yesterday.AddDate(0,0,-days+1))
    val Right(c1) = Repair.parseArgs(Seq("--query-id", "gpu", "1"), today): @unchecked
    assert(c1.start == d("2024-01-30") && c1.end == d("2024-01-30"))
  }

  test("J8: CLI args — explicit date range and flag forms") {
    val today = d("2024-06-15")
    val Right(c) = Repair.parseArgs(
      Seq("--query-id=gpu", "-dry-run", "--force-recompute",
        "--skip-if-no-data=false", "2024-01-01", "2024-01-31"), today): @unchecked
    assert(c == Repair.RepairCli("gpu", d("2024-01-01"), d("2024-01-31"),
      force = true, dryRun = true, skipIfNoData = false))
    // same-day range is allowed (reference only rejects start AFTER end)
    assert(Repair.parseArgs(
      Seq("--query-id", "g", "2024-01-05", "2024-01-05"), today).isRight)
  }

  test("J8: CLI args — every reference error path") {
    val today = d("2024-06-15")
    def err(args: String*): String =
      Repair.parseArgs(args, today).swap.getOrElse(fail("expected error"))
    assert(err("30").contains("--query-id is required"))
    assert(err("--query-id", "g").contains("specify days or date range"))
    assert(err("--query-id", "g", "abc").contains("Failed to parse days"))
    assert(err("--query-id", "g", "0") == "Days must be greater than 0")
    assert(err("--query-id", "g", "-5").contains("not defined")) // Go: flag-like token
    assert(err("--query-id", "g", "2024-02-30", "2024-03-01")
      .contains("Failed to parse date"))
    assert(err("--query-id", "g", "2024-03-01", "2024-01-01")
      == "Start date must be before end date")
    assert(err("--unknown", "x").contains("not defined"))
    assert(err("--query-id").contains("needs an argument"))
  }
}
