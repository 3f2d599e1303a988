package graft

import org.apache.spark.sql.functions._

/** Pins the round-18 AQE exchange-reuse repair for cached-table scans
  * (GraftWrapCachedScans, AdaptiveCacheScan.scala): Spark 4.1's AQE
  * wraps InMemoryTableScanExec in a TableCacheQueryStage whose
  * per-instance id survives canonicalization, so two IDENTICAL exchange
  * subtrees over one persisted frame both execute. With the injected
  * prep rule, the duplicate must collapse into a ReusedExchange — the
  * property every repeated-selector PromQL query (scalar() comparisons,
  * same-metric binops) relies on for its single-pipeline plan.
  */
class AdaptiveReuseSpec extends SparkSpec {

  test("duplicated aggregation over a persisted frame reuses one exchange under AQE") {
    // the GraftSession settings this plan shape depends on: AQE on, the
    // small-shuffle coalescing floor, and the uncompressed columnar cache
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(spark.conf.get(
      "spark.sql.inMemoryColumnarStorage.compressed") == "false")
    val base = spark.range(0, 100000)
      .select((col("id") % 997).as("k"), (col("id") * 3).as("v"))
      .persist()
    try {
      base.count()
      def leg() = base.groupBy(col("k")).agg(sum(col("v")).as("s"))
      val j = leg().join(leg().withColumnRenamed("s", "s2"), "k")
        .agg(sum(col("s") + col("s2")))
      val qe = j.queryExecution
      qe.toRdd.count() // finalize the adaptive plan
      val plan = qe.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("GraftCachedScan"),
        s"wrap rule did not fire:\n${plan.take(1200)}")
      assert(!plan.contains("TableCacheQueryStage"),
        s"table-cache stage still created above the wrapped scan:\n${plan.take(1200)}")
      assert(plan.contains("ReusedExchange"),
        s"duplicate exchange was not reused:\n${plan.take(1600)}")
    } finally base.unpersist()
  }

  test("wrapped scan returns the same rows as the bare cached scan") {
    val base = spark.range(0, 10000)
      .select((col("id") % 37).as("k"), col("id").as("v")).persist()
    try {
      base.count()
      val grouped = base.filter(col("k") < 20).groupBy(col("k"))
        .agg(sum(col("v")).as("s")).orderBy(col("k"))
      val rows = grouped.collect().map(r => (r.getLong(0), r.getLong(1)))
      // reference computed without the cache (fresh plan, no scan wrap)
      val ref = spark.range(0, 10000)
        .select((col("id") % 37).as("k"), col("id").as("v"))
        .filter(col("k") < 20).groupBy(col("k"))
        .agg(sum(col("v")).as("s")).orderBy(col("k"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq == ref.toSeq)
    } finally base.unpersist()
  }
}
