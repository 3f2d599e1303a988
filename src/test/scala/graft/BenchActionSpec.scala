package graft

/** Guards the bench's prepared-statement ACTION path: executing a
  * query's prepared count-plan (a fresh QueryExecution over the cached
  * optimized plan — Bench.countAction's shape) must produce exactly the
  * same count as a plain `df.count()`, on the first execution AND on a
  * re-execution of the same prepared plan (a re-execution that silently
  * served the previous run's shuffle outputs or a truncated result
  * would corrupt every bench number downstream).
  */
class BenchActionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def preparedCount(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Long = {
    val rows = org.apache.spark.sql.graft.PlanShim.execute(spark, plan)
      .toRdd.map(_.getLong(0)).collect()
    assert(rows.length == 1, s"count plan emitted ${rows.length} rows")
    rows(0)
  }

  test("prepared count-plan execution equals df.count(), twice, across query shapes") {
    // one deep PromQL plan, one broadcast-join analytics plan, one
    // window/top-k plan, one session-state consumer
    for (name <- Seq("promql_parsed_deriv", "revenue_by_nation",
        "latest_topk", "tfidf_topk")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val expected = df.count()
      val opt = df.groupBy().count().queryExecution.optimizedPlan
      val first = preparedCount(opt)
      val second = preparedCount(opt)
      assert(first == expected && second == expected,
        s"$name: df.count()=$expected prepared=($first, $second)")
      graft.ext.CacheScope.drain()
    }
  }

  test("only an sf0.1 run writes BENCH_FULL.json; other scale factors get their own file") {
    assert(Bench.fullRecordFile("testdata/sf0.1") == "BENCH_FULL.json")
    assert(Bench.fullRecordFile("testdata/sf0.1/") == "BENCH_FULL.json")
    assert(Bench.fullRecordFile("testdata/sf0.001") == "BENCH_FULL.sf0.001.json")
    assert(Bench.fullRecordFile("sf0.01") == "BENCH_FULL.sf0.01.json")
  }
}
