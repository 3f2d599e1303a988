package graft

import graft.queries.AnalyticsQueries

/** A stream gate's memory sink must not outlive the call: its view is
  * dropped once the gate's frame holds the resolved sink plan, and the
  * frames (and the session artifacts built over them) still read their
  * rows afterwards.
  */
class GateSinkSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def sinkViews: Seq[String] =
    AnalyticsQueries.streamSessionFor(spark).catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("gate_sink_")).toSeq

  test("gate calls leave no gate_sink view, and the artifacts keep their rows") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq
    val cms = Seq.fill(2)(rows("cms_counts_stream"))
    rows("dedup_keep_best_stream")
    rows("cdc_merge_stream")
    assert(sinkViews.isEmpty)
    assert(cms.head.nonEmpty && cms.head == cms(1))
    for (artifact <- Seq(AnalyticsQueries.keepBestArtifact _, AnalyticsQueries.cdcMergeArtifact _))
      assert(artifact(spark, sf).count() > 0)
    assert(rows("dedup_savings_stream").nonEmpty)
    assert(rows("cdc_snapshot_churn_stream").nonEmpty)
  }
}
