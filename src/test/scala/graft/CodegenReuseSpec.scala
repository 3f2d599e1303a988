package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Concat, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.BeforeAndAfterAll
import graft.promql.{PromEval, PromOps, PromParser}

/** A panel refreshed at the next evaluation time must reuse the classes
  * compiled for the previous refresh. Compiles are counted with
  * `CodegenMetrics.METRIC_COMPILATION_TIME`, which records one sample per
  * class `CodeGenerator` compiles (cache hits record nothing) — a
  * deterministic count, not a wall-clock bound.
  */
class CodegenReuseSpec extends SparkSpec with BeforeAndAfterAll {

  private val t0: Long = graft.queries.Pinned.Te
  private val step = 300L

  /** A persisted fact frame shaped like `EventsIngest.cachedMetrics`:
    * 20 series of one metric, a sample a minute for the 4 h before t0,
    * epoch and series key precomputed, sharded by series key. */
  private lazy val metrics = {
    val df = spark.range(0, 20 * 240).select(
        lit("purchase").as("metric_name"),
        map(lit("user"), (col("id") % 20).cast("string")).as("labels"),
        (col("id") % 101).cast("double").as("value"),
        timestamp_seconds(lit(t0 - 4 * 3600) + (col("id") / 20).cast("long") * 60)
          .as("timestamp"))
      .withColumn("e", unix_timestamp(col("timestamp")))
      .withColumn("skey", PromOps.seriesKey(col("labels")))
      .repartition(4, col("skey"))
      .persist()
    df.count()
    df
  }

  override def afterAll(): Unit = try metrics.unpersist() finally super.afterAll()

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled while collecting `df`. */
  private def compilesOf(df: => DataFrame): Long = {
    val before = compiles()
    assert(df.collect().nonEmpty, "the panel returned no rows")
    compiles() - before
  }

  // one selector each: the only per-refresh compile left is the
  // cached-batch stats predicate InMemoryTableScanExec builds from its
  // own copy of the time filter
  private def instantPanel(t: Long) =
    PromEval.evalInstant(metrics, PromParser.parse("max_over_time(purchase[1h])"), t)
  private def rangePanel(t: Long) =
    PromEval.evalGrid(metrics, PromParser.parse("rate(purchase[1h])"),
      (t / step) * step - 7200, (t / step) * step, step,
      PromOps.DefaultLookbackSec)

  for ((name, panel) <- Seq[(String, Long => DataFrame)](
      "instant" -> instantPanel, "range" -> rangePanel)) {
    test(s"$name panel one step later compiles only the stats predicate; a repeat compiles nothing") {
      compilesOf(panel(t0))
      val next = compilesOf(panel(t0 + step))
      assert(next <= 1, s"$name refresh one step later compiled $next classes")
      val repeat = compilesOf(panel(t0 + step))
      assert(repeat == 0, s"$name repeat at the same time compiled $repeat classes")
    }
  }

  test("the codegen cache holds more than Spark's default 100 classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // 150 distinct projections (string literals stay inlined), then the
    // first again: a 100-entry LRU would have evicted and recompile it
    def proj(i: Int) = GenerateUnsafeProjection.generate(
      Seq(Concat(Seq(Literal(s"codegen-reuse-$i")))))
    (0 until 150).foreach(proj)
    val before = compiles()
    proj(0)
    assert(compiles() == before, "the first of 150 classes was evicted")
  }
}
