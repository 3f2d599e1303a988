package graft

import org.apache.spark.sql.functions._
import graft.sources.FactLayout

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("identically-bucketed tables join with zero exchanges") {
    val a = (1L to 1000L).map(i => (i % 50, s"a$i")).toDF("user_id", "pa")
    val b = (1L to 1000L).map(i => (i % 50, s"b$i")).toDF("user_id", "pb")
    FactLayout.writeBucketed(a, "fact_a", "user_id", 8)
    FactLayout.writeBucketed(b, "fact_b", "user_id", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = FactLayout.colocatedJoin(spark, "fact_a", "fact_b", "user_id")
      assert(joined.count() == 20000) // 50 keys x 20 x 20
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"expected shuffle-free join:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS fact_a")
      spark.sql("DROP TABLE IF EXISTS fact_b")
    }
  }

  test("series-bucketed metrics aggregate with zero exchanges") {
    FactLayout.writeSeriesBucketed(spark, "/root/testdata/sf0.001",
      "metrics_bucketed", 8)
    try {
      // the per-series aggregation shape every grid eval starts from:
      // grouping keys include the bucket column, so the bucketed scan's
      // HashPartitioning(skey) already satisfies the distribution and no
      // Exchange is planned — the write-time shuffle is the only one
      val agg = spark.table("metrics_bucketed")
        .groupBy(col("metric_name"), col("skey"))
        .agg(count(lit(1)).as("n"), avg(col("value")).as("v"),
          max(col("e")).as("last_e"))
      assert(agg.count() > 0)
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free agg:\n${plan.take(1500)}")
      // sanity: the same agg over the unbucketed frame DOES shuffle —
      // the zero above is the bucketing, not AQE coalescing tricks
      val unbucketed = graft.ingest.EventsIngest
        .cachedMetrics(spark, "/root/testdata/sf0.001")
        .groupBy(col("metric_name"), graft.promql.PromOps.seriesKey(col("labels")))
        .agg(count(lit(1)).as("n"))
      unbucketed.count()
      assert(unbucketed.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.sql("DROP TABLE IF EXISTS metrics_bucketed")
  }

  test("doc_id-bucketed corpus twins join with zero exchanges (the dedup scaladoc claim)") {
    // pins the "bucket both by doc_id and the join is shuffle-free"
    // claim made by caption_media_join / dedup_keep_best /
    // filter_agreement: documents and a doc_id-keyed derived frame
    // (features on one side, components on the other) written through
    // FactLayout.writeDocBucketed, then both query shapes planned over
    // the bucketed pair
    val sfDir = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    FactLayout.writeDocBucketed(spark,
      d.select(col("doc_id"), col("n_chars"), col("lang")), "docs_b", 8)
    FactLayout.writeDocBucketed(spark,
      d.select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("long").as("q"),
        (col("doc_id") % 97).as("component")), "feats_b", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // caption_media_join shape: two map-only feature sides, one
      // doc_id equi-join — ZERO exchanges over the bucketed pair
      val caption = spark.table("docs_b")
        .join(spark.table("feats_b"), "doc_id")
        .select(col("doc_id"), (col("n_chars") * 100 / col("q")).as("ratio"))
      caption.count()
      val cPlan = caption.queryExecution.executedPlan.toString
      assert(cPlan.contains("SortMergeJoin"), cPlan.take(1200))
      assert(!cPlan.contains("Exchange"), s"expected shuffle-free join:\n${cPlan.take(1500)}")
      // dedup_keep_best shape: the doc_id join is exchange-free; the
      // only shuffle left is the component aggregation itself
      val best = spark.table("docs_b")
        .join(spark.table("feats_b"), "doc_id")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          min(struct((-col("q")).as("negq"), col("doc_id").as("doc_id"))).as("best"))
      best.count()
      val bPlan = best.queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(bPlan).length == 1,
        s"expected exactly the component-agg exchange:\n${bPlan.take(1500)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS docs_b")
      spark.sql("DROP TABLE IF EXISTS feats_b")
    }
  }

  test("zorder_layout: every file's box narrows in BOTH dimensions") {
    // the property a single-column sort cannot give: sorting by time
    // leaves EVERY file's user-span at the full domain. Z-order bounds
    // both spans for all but the quadrant-straddling files (a
    // contiguous z-interval crossing a top-bit boundary legitimately
    // wraps one dimension — the classic Z-curve jump), so the gate is:
    // at most 4 of the 32 boxes may exceed ~half the domain per dim.
    val rows = graft.queries.AnalyticsQueries
      .zorderLayout(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length > 16)
    val lim = (65535 * 0.55).toLong
    assert(rows.forall(_._1 > 0))
    assert(rows.count { case (_, ulo, uhi, _, _) => uhi - ulo > lim } <= 4,
      "too many files span the full user domain")
    assert(rows.count { case (_, _, _, tlo, thi) => thi - tlo > lim } <= 4,
      "too many files span the full time domain")
    // and the balanced-file-count contract: no file more than 3x the mean
    val mean = rows.map(_._1).sum / rows.length
    assert(rows.forall(_._1 <= 3 * mean))
  }
}
