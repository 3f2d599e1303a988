package graft

/** graft.Trace's selection and record: the glob matcher Bench and Trace
  * share, exact counters across steady-state runs, and the stream gates'
  * per-micro-batch durations.
  */
class TraceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def names(patterns: String*) = Bench.select(patterns).map(_._1)

  private def traced(name: String, runs: Int): Seq[Trace.QueryTrace] = {
    val runner = new Bench.Runner(spark, sf)
    val fn = SparkEntry.queries(name)
    runner.warm(name, fn)
    Seq.fill(runs)(Trace.record(name, 0.0, Seq(Trace.run(spark, runner, name, fn))))
  }

  test("*_stream selects exactly the 16 stream gates") {
    val gates = SparkEntry.queries.keys.filter(_.endsWith("_stream")).toSeq.sorted
    assert(gates.size == 16)
    assert(names("*_stream") == gates)
  }

  test("a trailing glob selects what the prefix filter selected; names stay exact") {
    val prefixed = SparkEntry.queries.keys.filter(_.startsWith("promql_parsed_")).toSeq.sorted
    assert(prefixed.nonEmpty && names("promql_parsed_*") == prefixed)
    assert(names("revenue_by_nation", "promql_parsed_deriv") ==
      Seq("promql_parsed_deriv", "revenue_by_nation"))
    assert(names("revenue_by") == Nil)
    assert(names("promql_*_deriv").contains("promql_parsed_deriv"))
  }

  test("a batch query's counters are equal across two steady-state runs") {
    val Seq(a, b) = traced("revenue_by_nation", 2)
    def counters(t: Trace.QueryTrace) =
      (t.jobs, t.stages, t.tasks, t.exchanges, t.reusedExchanges)
    assert(a.jobs > 0 && a.tasks > 0 && a.exchanges > 0, a)
    assert(counters(a) == counters(b))
    assert(a.wallsMs.forall(_ > 0) && a.phasesMs.contains("planning"))
  }

  test("a stream gate's record carries each micro-batch's durations") {
    val Seq(t) = traced("cms_counts_stream", 1)
    assert(t.batches.nonEmpty)
    assert(t.batches.forall(b => b.contains("addBatch") && b.contains("triggerExecution")), t.batches)
    assert(Trace.json(t).contains("\"batches\":[{"))
  }
}
