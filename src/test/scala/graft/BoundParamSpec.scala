package graft

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{ExplainUtils, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.graft.{BoundParam, GraftBindLiterals}
import org.apache.spark.sql.functions._

/** [[GraftBindLiterals]] must be invisible except in generated source:
  * a bound Filter / Project / `explode(sequence(...))` returns the rows
  * of its literal form bit for bit — edge values included, compiled and
  * interpreted — and prints the same plan text.
  *
  * The literal form is the same query with AQE off (the rule is a
  * query-stage-prep rule, so it only runs under AQE); the bound form
  * forces AQE on even for exchange-free plans.
  */
class BoundParamSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dates = Seq("1969-07-20", "1900-01-01", "1970-01-01", "2024-01-31")
    .map(Date.valueOf)
  private val stamps = Seq("1969-12-31 23:59:59", "1955-11-05 06:15:00",
    "2024-01-30 23:59:59", "1970-01-01 00:00:00").map(Timestamp.valueOf)

  private def base: DataFrame = {
    val doubles = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, 1.5, Double.MinPositiveValue,
      Double.MaxValue)
    val ints = Seq(Int.MinValue, Int.MaxValue, -1, 0, 1, Int.MaxValue - 1, 7, -7)
    val longs = Seq(Long.MinValue, Long.MaxValue, -1L, 0L, 1L,
      Long.MaxValue - 2, 1706659199L, -86400L)
    spark.createDataFrame(spark.sparkContext.parallelize(
      doubles.indices.map(i => Row(i, doubles(i), ints(i), longs(i),
        dates(i % dates.size), stamps(i % stamps.size))), 2),
      new org.apache.spark.sql.types.StructType()
        .add("id", "int").add("d", "double").add("i", "int").add("l", "long")
        .add("dt", "date").add("ts", "timestamp"))
  }

  /** Each query mixes a column into every literal expression so the
    * optimizer cannot fold it away before the physical rule sees it. */
  private val queries: Seq[(String, () => DataFrame)] = Seq(
    "filter doubles" -> (() => base.filter(col("d") === lit(Double.NaN) ||
      col("d") === lit(-0.0) || col("d") > lit(Double.MaxValue / 2) ||
      col("d") === lit(Double.NegativeInfinity)).select("id")),
    "filter ints and longs" -> (() => base.filter(
      (col("i") === lit(Int.MinValue) || col("i") >= lit(Int.MaxValue - 1)) ||
      (col("l") === lit(Long.MinValue) || col("l") > lit(Long.MaxValue - 3)))
      .select("id")),
    "filter dates and timestamps" -> (() => base.filter(
      col("dt") < lit(Date.valueOf("1969-12-31")) ||
      col("ts") <= lit(Timestamp.valueOf("1960-01-01 00:00:00"))).select("id")),
    "project edge values" -> (() => base.select(col("id"),
      lit(Double.NaN).as("nan"), lit(Double.PositiveInfinity).as("pinf"),
      lit(Double.NegativeInfinity).as("ninf"), lit(-0.0).as("nzero"),
      lit(0.1).as("tenth"), lit(Double.MinPositiveValue).as("tiny"),
      (col("d") * lit(-0.0)).as("dz"), greatest(col("d"), lit(-0.0)).as("gd"),
      (least(col("i"), lit(0)) + lit(Int.MaxValue)).as("iw"),
      greatest(col("l"), lit(Long.MinValue)).as("gl"),
      lit(Long.MaxValue).as("lmax"), lit(Int.MinValue).as("imin"),
      datediff(col("dt"), lit(Date.valueOf("1969-07-20"))).as("dd"),
      (unix_timestamp(col("ts")) - unix_timestamp(
        lit(Timestamp.valueOf("1955-11-05 06:15:00")))).as("tsd"),
      lit(Date.valueOf("1900-01-01")).as("d1900"),
      lit(Timestamp.valueOf("1969-12-31 23:59:59")).as("t1969"))),
    "explode sequence" -> (() => base.filter(col("id") < 6).select(col("id"),
      explode(sequence(greatest(col("l"), lit(Long.MaxValue - 2)),
        lit(Long.MaxValue), lit(1L))).as("gl"))
      .unionByName(base.select(col("id"), explode(sequence(
        greatest(col("i").cast("long"), lit(Int.MaxValue.toLong - 3)),
        lit(Int.MaxValue.toLong), lit(2L))).as("gl")))),
    "explode date sequence" -> (() => base.select(col("id"),
      explode(sequence(least(greatest(col("dt"), lit(Date.valueOf("1969-12-28"))),
        lit(Date.valueOf("1969-12-30"))), lit(Date.valueOf("1970-01-02")))).as("day")))
  )

  private def withConfs[A](kv: (String, String)*)(f: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Rows as text with doubles as raw bits: NaN payloads and -0.0 count. */
  private def bits(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
      case other => String.valueOf(other)
    }.mkString("|")).toSeq.sorted

  private def boundParams(plan: SparkPlan): Int =
    collect(plan) { case p => p.expressions.flatMap(_.collect {
      case b: BoundParam => b }) }.flatten.size

  private val interpreted = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false")

  for ((name, q) <- queries; (mode, confs) <- Seq("codegen" -> Nil,
      "interpreted" -> interpreted)) {
    test(s"BoundParam: $name returns the literal form's rows ($mode)") {
      withConfs(confs: _*) {
        val literal = withConfs("spark.sql.adaptive.enabled" -> "false")(bits(q()))
        val df = q()
        val bound = withConfs("spark.sql.adaptive.enabled" -> "true",
          "spark.sql.adaptive.forceApply" -> "true") {
          val rows = bits(df)
          assert(boundParams(df.queryExecution.executedPlan) > 0,
            s"no literal was bound:\n${df.queryExecution.executedPlan}")
          rows
        }
        assert(literal.nonEmpty)
        assert(bound == literal)
      }
    }
  }

  test("BoundParam: plan text and canonical form equal the literal form's") {
    for ((name, q) <- queries) {
      val plan = withConfs("spark.sql.adaptive.enabled" -> "false")(
        q().queryExecution.executedPlan)
      val bound = GraftBindLiterals()(plan)
      assert(boundParams(bound) > 0, name)
      def formatted(p: SparkPlan) = {
        val sb = new StringBuilder
        ExplainUtils.processPlan(p, (s: String) => { sb ++= s; () })
        sb.toString
      }
      assert(bound.treeString(verbose = true) == plan.treeString(verbose = true), name)
      assert(formatted(bound) == formatted(plan), name)
      assert(bound.canonicalized == plan.canonicalized, name)
    }
  }
}
