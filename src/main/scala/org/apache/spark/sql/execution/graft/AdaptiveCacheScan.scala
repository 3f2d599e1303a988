package org.apache.spark.sql.execution.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.vectorized.ColumnarBatch

/** AQE exchange-reuse repair for cached-table scans.
  *
  * Spark 4.1's AQE wraps every `InMemoryTableScanExec` in a
  * `TableCacheQueryStageExec`. `QueryStageExec` has no `doCanonicalize`
  * override, so the wrapper's per-instance stage `id` survives
  * canonicalization — two IDENTICAL exchange subtrees over the same
  * cached frame then canonicalize differently and AQE's stage cache
  * never reuses one for the other (measured: a duplicated
  * aggregate-join over a `.persist()`ed frame executes BOTH copies with
  * AQE on, while plain `ReuseExchangeAndSubquery` dedupes the same plan
  * with AQE off — OPTIMIZATION_r18.md, Finding 1). This engine serves
  * every query from session-cached artifacts, so each repeated-selector
  * PromQL expression re-paid its duplicate sub-plan in full.
  *
  * [[GraftCachedScanExec]] is a thin delegating leaf with a correct
  * `doCanonicalize`. Wrapping the scan BEFORE stage creation (the
  * injected [[GraftWrapCachedScans]] query-stage-prep rule) means AQE
  * never sees a bare `InMemoryTableScanExec`, never creates the
  * table-cache stage, and the exchanges above canonicalize stably — the
  * duplicate collapses back into one executed stage (`ReusedExchange`
  * in the final plan). Everything else about the scan is unchanged:
  * same columnar batches, same per-batch stats pruning, same column
  * pruning, same output partitioning (the zero-exchange per-series
  * property rides through), same lazy materialization semantics Spark
  * ≤3.3 had before table-cache stages existed. What is deliberately
  * given up: the background cache materialization + runtime-stats
  * refinement the wrapper stage provides — this engine materializes its
  * session artifacts eagerly at warmup, so both are no-ops here.
  */
case class GraftCachedScanExec(delegate: InMemoryTableScanExec)
  extends LeafExecNode {

  override def output: Seq[Attribute] = delegate.output
  override def outputPartitioning: Partitioning = delegate.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = delegate.outputOrdering
  override def supportsColumnar: Boolean = delegate.supportsColumnar
  override def supportsRowBased: Boolean = delegate.supportsRowBased
  override def vectorTypes: Option[Seq[String]] = delegate.vectorTypes

  // surface the delegate's SQL metrics (rows output, scanned batches) on
  // the wrapper node: the delegate executes and updates these
  // accumulators, and forwarding the map keeps the UI/plan-graph
  // observability the bare scan had (round 19, ADVICE)
  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] =
    delegate.metrics

  override protected def doExecute(): RDD[InternalRow] = delegate.execute()
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] =
    delegate.executeColumnar()

  // the delegate's canonicalization is stable across newInstance copies
  // (plain ReuseExchange relies on exactly that); reusing it makes two
  // wrappers over equal scans equal
  override protected def doCanonicalize(): SparkPlan =
    GraftCachedScanExec(
      delegate.canonicalized.asInstanceOf[InMemoryTableScanExec])

  // print the wrapped scan (and through it the cached relation) the way
  // InMemoryTableScanExec prints its relation — plan dumps stay readable
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    delegate +: super.innerChildren

  override def simpleString(maxFields: Int): String =
    s"GraftCachedScan ${delegate.simpleString(maxFields)}"
}

/** Injected via `SparkSessionExtensions.injectQueryStagePrepRule`; runs
  * on the physical plan before AQE creates query stages (and on every
  * re-optimized plan — hence idempotent by construction: the transform
  * only matches bare scans). `GRAFT_CACHED_SCAN_WRAP=off` disables it
  * for A/B measurement.
  */
case class GraftWrapCachedScans() extends Rule[SparkPlan] {
  private val enabled =
    !sys.env.get("GRAFT_CACHED_SCAN_WRAP").contains("off")
  override def apply(plan: SparkPlan): SparkPlan =
    if (!enabled) plan
    else plan.transformUp {
      case i: InMemoryTableScanExec => GraftCachedScanExec(i)
    }
}
