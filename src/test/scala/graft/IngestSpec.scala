package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ingest.{CollectedAt, EventsIngest, SampleConversion}
import java.nio.file.{Files, Path}
import java.time.Instant
import scala.jdk.CollectionConverters._

/** Wire-format conversion (T1-T8) and the collected_at state machine (T9,
  * SURVEY §1.4) — the branch vectors from FIXTURES.md §3.
  */
class IngestSpec extends SparkSpec {
  private val now = Instant.parse("2024-01-31T10:30:00Z")

  private val vectorSchema = StructType(Seq(
    StructField("metric", MapType(StringType, StringType)),
    StructField("value", ArrayType(StringType))))

  private def vectorDf(rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), vectorSchema)

  test("T1/T3/T4/T5/T6: vector convert, name fallback, __name__ dropped") {
    val df = vectorDf(Seq(
      Row(Map("__name__" -> "up", "instance" -> "a:9090"), Seq("1706659199", "1")),
      Row(Map("instance" -> "b:9090"), Seq("1706659199.7", "2.5"))))
    val out = SampleConversion.fromVector(df, "qid", now).collect()
    assert(out.length == 2)
    val byName = out.map(r => r.getString(1) -> r).toMap
    assert(byName.contains("up")) // __name__ used
    assert(byName.contains("qid")) // fallback to query id (executor.go:231-235)
    val up = byName("up")
    assert(up.getMap[String, String](2) == Map("instance" -> "a:9090")) // __name__ dropped
    assert(up.getDouble(3) == 1.0)
    // sub-second truncated (executor.go:280)
    assert(byName("qid").getTimestamp(4).toInstant == Instant.parse("2024-01-30T23:59:59Z"))
  }

  test("T7: malformed samples skipped, batch survives") {
    val df = vectorDf(Seq(
      Row(Map("a" -> "1"), Seq("1706659199", "1")), // good
      Row(Map("a" -> "2"), Seq("1706659199")), // arity 1 -> skip
      Row(Map("a" -> "3"), Seq("1706659199", "not-a-number")), // bad value -> skip
      Row(Map("a" -> "4"), Seq("xyz", "2")))) // bad ts -> skip
    assert(SampleConversion.fromVector(df, "q", now).count() == 1)
  }

  test("T2: matrix flatten conserves rows (N series x M points)") {
    val schema = StructType(Seq(
      StructField("metric", MapType(StringType, StringType)),
      StructField("values", ArrayType(ArrayType(StringType)))))
    val rows = Seq(
      Row(Map("s" -> "1"), Seq(Seq("1706572800", "1"), Seq("1706572860", "2"))),
      Row(Map("s" -> "2"), Seq(Seq("1706572800", "3"), Seq("1706572860", "4"),
        Seq("1706572920", "5"))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    assert(SampleConversion.fromMatrix(df, "q", now).count() == 5)
  }

  test("typed ingest boundary: Dataset[MetricRecord] round-trips") {
    val ds = graft.ingest.EventsIngest.typedRecords(spark, "/root/testdata/sf0.001")
    val r = ds.head()
    assert(r.labels.contains("user") && r.result_type == "instant")
    assert(r.collected_at.toInstant.getEpochSecond % 86400 == 0) // day bucket
    assert(ds.filter(_.metric_name == "view").count() > 0)
  }

  test("T9: collected_at branches (SURVEY 1.4)") {
    val ts = to_timestamp(lit("2024-01-15 13:45:00"))
    def eval(c: org.apache.spark.sql.Column): java.sql.Timestamp =
      spark.range(1).select(c.as("c")).head().getTimestamp(0)

    // range within one day -> start of that day
    val sameDay = CollectedAt.derive("range", None,
      Some((Instant.parse("2024-01-10T01:00:00Z"), Instant.parse("2024-01-10T22:00:00Z"))),
      ts, now)
    assert(eval(sameDay).toInstant == Instant.parse("2024-01-10T00:00:00Z"))

    // multi-day range -> per-sample day
    val multi = CollectedAt.derive("range", None,
      Some((Instant.parse("2024-01-10T00:00:00Z"), Instant.parse("2024-01-12T00:00:00Z"))),
      ts, now)
    assert(eval(multi).toInstant == Instant.parse("2024-01-15T00:00:00Z"))

    // instant @ yesterday_end -> start of yesterday
    val yest = CollectedAt.derive("instant", Some("yesterday_end"), None, ts, now)
    assert(eval(yest).toInstant == Instant.parse("2024-01-30T00:00:00Z"))

    // default -> per-sample day; invariant: always midnight
    val dflt = CollectedAt.derive("instant", Some("now"), None, ts, now)
    assert(eval(dflt).toInstant == Instant.parse("2024-01-15T00:00:00Z"))
  }

  test("W1: the fact writer lands one file per (collect_date, query_id) partition") {
    // 16 input partitions, each holding rows of all 3 days x 2 query ids
    val input = spark.range(0, 4800, 1, 16).select(
      when(col("id") % 2 === 0, "qa").otherwise("qb").as("query_id"),
      lit("m").as("metric_name"),
      map(lit("n"), col("id").cast("string")).as("labels"),
      (col("id") * 0.25).as("value"),
      timestamp_seconds(lit(1704067200L) + (col("id") % 3) * 86400 + col("id")).as("timestamp"),
      lit("instant").as("result_type"),
      timestamp_seconds(lit(1704067200L) + (col("id") % 3) * 86400).as("collected_at"))
    assert(input.rdd.getNumPartitions == 16)
    val path = Files.createTempDirectory("factw").resolve("fact")
    EventsIngest.writeFactTable(input, path.toString)

    def children(p: Path): Seq[Path] = {
      val s = Files.list(p); try s.iterator().asScala.toSeq finally s.close()
    }
    val dataFiles = children(path).filter(Files.isDirectory(_)).flatMap(children)
      .map(dir => dir.getParent.getFileName + "/" + dir.getFileName ->
        children(dir).count(f => !f.getFileName.toString.matches("[_.].*")))
      .toMap
    assert(dataFiles.size == 6, dataFiles)
    assert(dataFiles.values.forall(_ == 1), dataFiles)

    def digest(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("collect_date").cast("string"), col("query_id"))
        .agg(count(lit(1)), sum(col("value"))).collect().map(_.mkString("|")).sorted.toSeq
    assert(digest(spark.read.parquet(path.toString)) ==
      digest(input.withColumn("collect_date", to_date(col("collected_at")))))
  }
}
