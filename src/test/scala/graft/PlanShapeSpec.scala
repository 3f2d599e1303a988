package graft

import org.apache.spark.sql.DataFrame
import graft.queries.{AnalyticsQueries, WarehouseQueries}

/** Physical-plan audits: the scale properties the query implementations
  * claim (broadcast dims, single-shuffle window pipelines, top-k without
  * a full sort, parquet filter pushdown) asserted against the plans Spark
  * actually runs, so a refactor that silently regresses a plan shape
  * fails here rather than at 100 TB.
  */
class PlanShapeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Final (post-AQE) physical plan string — the "Initial Plan" section
    * is cut off so assertions see only what actually ran.
    */
  private def finalPlan(df: DataFrame): String = {
    df.collect() // AQE finalizes the plan only on execution
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  /** Planner-INSERTED hash exchanges (ENSURE_REQUIREMENTS) — the data
    * shuffles these audits guard. Parallelism.widen's explicit
    * fixture-floor repartition (REPARTITION_BY_NUM; since round 19
    * hash-keyed by the table id rather than round-robin, so it reads as
    * `Exchange hashpartitioning` too) is a no-op at corpus scale by the
    * widen guard and is deliberately not counted.
    */
  private def shuffles(plan: String): Int =
    "Exchange hashpartitioning[^\n]*ENSURE_REQUIREMENTS".r
      .findAllIn(plan).length

  test("revenue_by_nation broadcasts its dimension tables, no cartesian") {
    val plan = finalPlan(WarehouseQueries.revenueByNation(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2, plan.take(800))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("multimodal video/resize decode paths carry no wide dependency") {
    // the 100 TB claim for the media ops is that decode (and frame
    // sampling) is embarrassingly parallel: no planner-inserted
    // hash/range exchange may appear. The one permitted shuffle is
    // Parallelism.widen's fixture-floor repartition (id-hash since
    // round 19), which the guard makes a no-op at corpus scale
    // (partitions >= floor).
    for (name <- Seq("multimodal_video", "multimodal_resize")) {
      val plan = finalPlan(SparkEntry.queries(name)(spark, sf))
      assert(shuffles(plan) == 0, s"$name grew a hash shuffle: " + plan.take(800))
      assert(!plan.contains("rangepartitioning"), s"$name grew a sort: " + plan.take(800))
      assert(plan.contains("MapPartitions"), s"$name lost its decode stage")
    }
  }

  test("latest_topk plans TakeOrderedAndProject, not a global sort") {
    val plan = finalPlan(SparkEntry.queries("latest_topk")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("pricing_summary pushes its date filter into the parquet scan") {
    val plan = finalPlan(WarehouseQueries.pricingSummary(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan.take(800))
    assert(plan.contains("*(1)"), "whole-stage codegen missing: " + plan.take(800))
  }

  test("sessionize is a single-shuffle pipeline") {
    // window partitionBy(user_id) then groupBy(user_id, session_id): the
    // aggregation's ClusteredDistribution is satisfied by the window's
    // hash partitioning (subset of the grouping keys), so Catalyst must
    // not insert a second exchange
    val plan = finalPlan(AnalyticsQueries.sessionize(spark, sf))
    assert(shuffles(plan) == 1, plan.take(1200))
  }

  test("asof_join is a single-shuffle pipeline") {
    val plan = finalPlan(AnalyticsQueries.asofJoin(spark, sf))
    assert(shuffles(plan) == 1, plan.take(1200))
  }

  test("global PromQL topk plans TakeOrderedAndProject, not a full sort") {
    val plan = finalPlan(
      SparkEntry.queries("promql_parsed_topk")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("GlobalLimit"), plan.take(800))
  }

  test("parsed vector binop joins without a cartesian or nested loop") {
    val plan = finalPlan(
      SparkEntry.queries("promql_parsed_binop")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("pii_scrub is a single-stage scan: no shuffle, pruned columns") {
    val plan = finalPlan(
      SparkEntry.queries("pii_scrub")(spark, sf))
    assert(shuffles(plan) == 0, plan.take(800))
    // only the two needed columns reach the scan
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      plan.take(800))
  }

  test("vocab_oov broadcasts the 100-row vocabulary, corpus never shuffles for the join") {
    val plan = finalPlan(
      SparkEntry.queries("vocab_oov")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("ratio-threshold query joins on the match key, no cartesian") {
    val plan = finalPlan(
      SparkEntry.queries("promql_parsed_ratio")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("histogram_quantile is one aggregation: no join in the plan") {
    // the winning-bucket selection must stay min(struct(le, qval)) inside
    // the group-by — a Join node means the filter/row_number/left-join
    // double-scan shape regressed
    val plan = finalPlan(
      SparkEntry.queries("promql_parsed_histq")(spark, sf))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("ANN top-k is the K-bounded native aggregate, never a window sort") {
    // graft_topk replaced the row_number window: the plan must carry an
    // ObjectHashAggregate (the TypedImperativeAggregate host) and NO
    // Window node — a Window means the per-query candidate lists are
    // being fully sorted again
    for (q <- Seq("ann_brute_topk", "pq_adc_topk", "tfidf_topk")) {
      val plan = finalPlan(SparkEntry.queries(q)(spark, sf))
      assert(plan.contains("ObjectHashAggregate"), s"$q\n" + plan.take(1200))
      assert(!plan.contains("Window"), s"$q plans a Window\n" + plan.take(1200))
    }
  }

  test("kmeans step broadcasts its centroids, corpus never shuffles to score") {
    val plan = finalPlan(
      SparkEntry.queries("emb_kmeans_step")(spark, sf))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("ngram_jaccard reuses the persisted shingle frame across join sides") {
    val plan = finalPlan(
      SparkEntry.queries("ngram_jaccard")(spark, sf))
    // every consumer (sizes + both self-join sides) must read the cache:
    // the tokenize+explode+md5 pipeline (the Generate node) appears ONCE
    // — inside the cache materialization — not once per consumer
    assert(plan.contains("InMemoryTableScan"), plan.take(1200))
    assert("Generate explode".r.findAllIn(plan).length <= 1, plan.take(1200))
  }

  test("vector-scalar comparison broadcasts the one-row scalar side") {
    val plan = finalPlan(
      SparkEntry.queries("promql_parsed_scalarcmp")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(1200))
  }

  test("on(user) comparison is an equi-join on the match key, no cartesian") {
    val plan = finalPlan(
      SparkEntry.queries("promql_parsed_veccmp_on")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("group_left label copy keeps the one-row-per-key aggregate shape") {
    // the copied label rides the existing one-side aggregate: same join
    // count as the bare group_left query, no extra exchange for the copy
    val plan = finalPlan(
      SparkEntry.queries("promql_parsed_groupleft_label")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(plan).length
    assert(joins == 1, s"want exactly 1 join for the one-side agg: $joins\n" +
      plan.take(1200))
  }

  test("grid holt_winters is one explode + one aggregation, no window pass") {
    val plan = finalPlan(
      SparkEntry.queries("pq_range_holtwinters")(spark, sf))
    assert(plan.contains("Generate explode"), plan.take(1200))
    assert(!plan.contains("Window"), "unexpected window pass:\n" + plan.take(1200))
    assert(!plan.contains("CartesianProduct"))
  }

  test("subquery rate never cross-joins: grid explode then per-series chain") {
    val plan = finalPlan(
      SparkEntry.queries("promql_parsed_subquery_rate")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("multimodal decode stays partition-local: no shuffle before features") {
    val plan = finalPlan(
      SparkEntry.queries("multimodal_features")(spark, sf))
    assert(shuffles(plan) == 0, plan.take(1200))
  }

  test("semdedup prune: assignment cached once, pair join never cartesian") {
    val plan = finalPlan(
      SparkEntry.queries("semdedup_prune")(spark, sf))
    // the within-cell self-join must shuffle/join on the cell key, never
    // go cartesian — the cell id IS the scale story; the centroid
    // broadcast lives inside the cached assignment's materialization,
    // which every consumer (both pair sides + the flag projection) reads
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(plan.contains("InMemoryTableScan"), plan.take(1200))
  }

  test("emb_kmeans_full: argmin is a hash aggregate, centroids broadcast, no window sort") {
    val plan = finalPlan(SparkEntry.queries("emb_kmeans_full")(spark, sf))
    // each round's assignment must plan as corpus × BROADCAST(K
    // centroids) folded by a hash aggregate (map-side-combinable
    // min(struct(d, cell))) — a Window here would mean a per-round sort
    // exchange, and a CartesianProduct would mean the broadcast was lost
    assert(!plan.contains("Window"), plan.take(1200))
    assert("BroadcastExchange".r.findAllIn(plan).length >= 3, plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("ann_ivf_trained: query side broadcast, probe is an equi-join on the cell") {
    val plan = finalPlan(SparkEntry.queries("ann_ivf_trained")(spark, sf))
    // the 5-query side (with its trained cells) broadcasts; candidates
    // hash-join on the cell key — never a cartesian over the corpus
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    // the trained assignment serves from session state, not a rebuild
    assert(plan.contains("InMemoryTableScan"), plan.take(1200))
  }

  test("ann_ivf_trained_mp: routed query side broadcast, probe equi-join on cell") {
    val plan = finalPlan(SparkEntry.queries("ann_ivf_trained_mp")(spark, sf))
    // routing is 5 queries × broadcast(K centroids); the probe itself
    // must stay a BroadcastHashJoin on the trained cell key — a
    // cartesian here would score every query against the whole corpus,
    // the exact cost the inverted file exists to avoid
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    // the trained assignment + routing table serve from session state
    assert(plan.contains("InMemoryTableScan"), plan.take(1200))
  }

  test("ann_ivfpq_trained: LUT+cell side broadcast, ADC probe equi-join on cell") {
    val plan = finalPlan(SparkEntry.queries("ann_ivfpq_trained")(spark, sf))
    // queries (LUTs joined to their trained cells) broadcast; the probe
    // is a hash join on the trained cell key against the cell-keyed
    // code table — a cartesian here would ADC-score the whole corpus,
    // the exact cost the inverted file exists to avoid
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    // codes, cells, and LUTs all serve from session state
    assert(plan.contains("InMemoryTableScan"), plan.take(1200))
  }

  test("ann_ivfpq_trained_mp: routed LUT side broadcast, ADC probe equi-join") {
    val plan = finalPlan(SparkEntry.queries("ann_ivfpq_trained_mp")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(plan.contains("InMemoryTableScan"), plan.take(1200))
  }

  test("ann_ivfpq_residual: residual-LUT side broadcast, ADC probe equi-join on cell") {
    // same serving contract as ann_ivfpq_trained, over the residual
    // code table: queries broadcast, candidates one trained cell's
    // slice via the cell equi-join, everything served from session
    // state — a cartesian would ADC-score the whole corpus
    val plan = finalPlan(SparkEntry.queries("ann_ivfpq_residual")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(plan.contains("InMemoryTableScan"), plan.take(1200))
  }

  test("caption_media_join: two map-side feature scans meet in one equi-join") {
    val plan = finalPlan(SparkEntry.queries("caption_media_join")(spark, sf))
    // both feature sides are map-only over their (cached) scans; the
    // pairing audit is exactly one doc_id equi-join — no cartesian, no
    // window pass, no aggregation
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("Window"), plan.take(1200))
    assert(!plan.contains("HashAggregate"), plan.take(1200))
    assert(plan.contains("Join"), plan.take(1200))
  }

  test("dedup_keep_best: argmax partial-aggregates map-side, no window pass") {
    val plan = finalPlan(SparkEntry.queries("dedup_keep_best")(spark, sf))
    // the keep rule rides min(struct(-q, doc_id, ...)) inside the
    // component aggregation (a SortAggregate over a LOCAL per-partition
    // sort, same as the k-means argmin) — the scale property is the
    // partial_min before the exchange: the shuffle carries |components|
    // rows, where a window argmax would shuffle and sort the corpus and
    // the partial_min would vanish from the plan. (A !Window assert
    // would false-positive on the component memo's cached BUILD plan,
    // which InMemoryTableScan prints as inner children.)
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(plan.contains("partial_min"), plan.take(1200))
    // the component frame serves from session state, not a CC re-run
    assert(plan.contains("InMemoryTableScan"), plan.take(1200))
  }

  test("trained artifacts: cells derives from the persisted centroid relation") {
    // the round-12 trainer-once contract, pinned structurally: the
    // trained assignment frame's OWN cached plan must READ the centroid
    // InMemoryRelation rather than embed a second copy of the trainer
    // DAG — memoizing two frames that each carry the trainer lineage
    // type-checks as "one run" but materializes the trainer twice
    // (CacheManager substitutes cached fragments into consumers, never
    // the reverse), which is exactly the regression this would catch.
    // COLD-cache probe: substitution happens at persist time against
    // whatever is ALREADY cached, so if an earlier test (or this test)
    // left the centroid plan cached, even a regressed cells builder
    // embedding the raw trainer DAG would pick up an InMemoryTableScan
    // and falsely pass. Clear the shared cache and build cells ONLY —
    // the helper itself must persist the centroids first for the scan
    // to appear; every other fixture re-persists on its next access
    // via TableCache's storage-level guard (the same recovery
    // ScaleProbe's and the specs' clearCache calls exercise).
    spark.catalog.clearCache()
    val cells = graft.queries.ExtQueries.cachedKmeansCells(spark, sf)
    val imr = cells.queryExecution.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(imr.nonEmpty, "cells frame is not served from an InMemoryRelation")
    val inner = imr.get.cachedPlan.toString
    assert(inner.contains("InMemoryTableScan"),
      s"cells' cached plan does not read the centroid relation:\n${inner.take(1200)}")

    // the same parents-first rule for every derived session artifact:
    // build the child, clear the cache, call ONLY the child — its
    // re-persisted plan must scan the parent's (re-persisted) relation,
    // not embed a second copy of the parent's lineage
    val x = graft.queries.ExtQueries
    val derived = Seq[(String, () => DataFrame, () => DataFrame)](
      ("capped8 -> tagged8",
        () => x.cachedCapped8(spark, sf), () => x.cachedTagged8(spark, sf)),
      ("cellAssign -> centroids",
        () => x.cachedCellAssign(spark, sf), () => x.cachedCentroids(spark, sf)),
      ("minhashSigs -> shingle(lang)",
        () => x.cachedMinhashSigs(spark, sf), () => x.cachedShingleFrame(spark, sf, "lang")),
      ("lshCandidates -> minhashSigs",
        () => x.cachedLshCandidates(spark, sf), () => x.cachedMinhashSigs(spark, sf)),
      ("simhashPairs -> repSimhash32",
        () => x.cachedSimhashPairs(spark, sf), () => x.cachedRepSimhash32(spark, sf)),
      ("dedupComponents -> docRoots",
        () => x.cachedDedupComponents(spark, sf), () => x.cachedDocRoots(spark, sf)))
    for ((name, child, parent) <- derived) {
      child()
      spark.catalog.clearCache()
      val childRel = cachedRelation(child())
      val parentRel = cachedRelation(parent())
      assert(memoryScans(childRel.cachedPlan).exists(_.relation.cacheBuilder eq parentRel.cacheBuilder),
        s"$name: the child's cached plan does not read the parent's relation:\n" +
          childRel.cachedPlan.toString.take(1200))
    }
  }

  /** The relation CacheManager holds for `df` NOW, looked up through a
    * fresh Dataset (a memoized frame's own QueryExecution may carry a
    * relation from before a cache clear).
    */
  private def cachedRelation(df: DataFrame)
      : org.apache.spark.sql.execution.columnar.InMemoryRelation = {
    val fresh = org.apache.spark.sql.graft.PlanShim.ofRows(spark, df.queryExecution.analyzed)
    fresh.queryExecution.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.getOrElse(fail(s"frame is not cached:\n${df.queryExecution.analyzed.toString.take(600)}"))
  }

  /** Every in-memory scan in a physical plan, looking through AQE. */
  private def memoryScans(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec] =
    plan.flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        memoryScans(a.inputPlan)
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => Seq(s)
      case _ => Nil
    }

  test("range_join buckets the interval predicate into an equi-join, never BNLJ") {
    val plan = finalPlan(SparkEntry.queries("range_join")(spark, sf))
    // a bare range predicate would plan BroadcastNestedLoopJoin —
    // |events| × |intervals|; the granule bucketing must turn it into a
    // hash/merge equi-join on gb with the bounds as a post-join filter
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(1200))
  }

  test("multimodal_phash: collapse cached once, band join equi not cartesian") {
    val plan = finalPlan(SparkEntry.queries("multimodal_phash")(spark, sf))
    // representatives meet through the (band, bv) equi-join — a cartesian
    // here would be all-pairs over images, the exact thing banding exists
    // to avoid; the collapsed rep frame is cached and read by both sides
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    assert(plan.contains("InMemoryTableScan"), plan.take(1200))
  }

  test("dup_ngram_mass is join-linear: df groupBy + one equi-join, no pair join") {
    val plan = finalPlan(
      SparkEntry.queries("dup_ngram_mass")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    // at most two joins: shingles ⨝ df(h), plus the session tagged-8-gram
    // frame's own doc_id ⨝ source build (absent once the shared cache is
    // materialized). More would mean the pairwise shape crept in.
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(plan).length
    assert(joins <= 2, s"want at most 2 joins: $joins\n" + plan.take(1200))
  }

  test("mix_plan broadcasts the one-row totals frame over one corpus groupBy") {
    val plan = finalPlan(
      SparkEntry.queries("mix_plan")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("histogram_fraction is one aggregation: no join, like histogram_quantile") {
    // both bound interpolations must resolve inside ONE group-by
    // (struct-min winners); a Join node means a per-bound scan crept in
    val plan = finalPlan(
      SparkEntry.queries("promql_parsed_histfraction")(spark, sf))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("contamination_bloom probes the filter before the exact join") {
    // the graft_might_contain literal-bloom probe must appear as a plain
    // Filter (no extra join or shuffle to consult the filter), and the
    // exact equi-join must still be present after it
    val plan = finalPlan(
      SparkEntry.queries("contamination_bloom")(spark, sf))
    assert(plan.contains("might_contain"), plan.take(1200))
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(plan).length
    // tagged⨝ids, capped⨝keep, train⨝evalSh — the bloom adds NO join
    assert(joins <= 4, s"bloom probe added a join: $joins\n" + plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("domain_cap is ONE K-bounded aggregate: no window, no join") {
    // round 16: the former two-phase salted cap (shard window + domain
    // window) collapsed into a single graft_topk — the map-side partial
    // aggregation IS the salt (each input partition ships ≤ capN rows
    // per domain), so the plan must carry an ObjectHashAggregate and
    // neither a Window nor a join
    val plan = finalPlan(SparkEntry.queries("domain_cap")(spark, sf))
    assert(plan.contains("ObjectHashAggregate"), plan.take(1200))
    assert(!plan.contains("Window"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("metric_outliers broadcasts the per-metric stats, never sorts the scan") {
    val plan = finalPlan(SparkEntry.queries("metric_outliers")(spark, sf))
    // the stats table is |metrics| rows — it must come back as a
    // broadcast hash join; a SortMergeJoin would shuffle+sort the full
    // sample scan just to consult five rows of statistics
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("doc_rarity broadcasts the vocabulary back: corpus tokens shuffle once") {
    val plan = finalPlan(SparkEntry.queries("doc_rarity")(spark, sf))
    // the token-count aggregate is the one wide shuffle; the vocab+total
    // must return as a broadcast — a SortMergeJoin here would re-shuffle
    // the exploded corpus just to look up per-token counts
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("quality_deciles windows the histogram, never the corpus") {
    val plan = finalPlan(SparkEntry.queries("quality_deciles")(spark, sf))
    // the single-partition running count (and the grand total, same
    // window pass) must run over the value histogram (|distinct v|
    // rows). Since round 19 the per-band facts ride the histogram
    // groups directly, so there is NO join back to the corpus at all —
    // one corpus pass, one |distinct v|-row shuffle.
    assert(plan.contains("Window"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("pq_adc_topk: codebook is a literal, queries broadcast, no corpus re-shuffle") {
    val plan = finalPlan(SparkEntry.queries("pq_adc_topk")(spark, sf))
    // the 5 queries (with their LUTs) must ride a broadcast over the
    // encoded scan; encoding itself is a projection over the codebook
    // LITERAL — any SortMergeJoin/Cartesian means the corpus shuffled
    // just to meet an 8 KiB codebook or 5 query rows
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("@ start()/end() grid form pins once and replicates: no per-point re-eval") {
    // pinnedGrid = instant eval cross-joined with the broadcast
    // |grid|-row frame; a hash-partitioned exchange keyed by g would
    // mean the selector re-evaluated per grid point
    val plan = finalPlan(
      SparkEntry.queries("promql_parsed_at_edges")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("heavy_hitters: candidate set broadcasts, stream is never sort-merge-joined") {
    // the MG candidate frame is ≤ k·partitions rows — it must reach the
    // token stream as a broadcast semi/inner join; a SortMergeJoin here
    // means the full stream shuffled by gram, the exact full-vocabulary
    // aggregation the summary exists to avoid
    val plan = finalPlan(SparkEntry.queries("heavy_hitters")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("cms_counts: 4096-counter sketch broadcasts, corpus never shuffled by token") {
    // the sketch side is d*w = 4096 rows max — it must reach the 20-row
    // probe side as a broadcast; a SortMergeJoin would mean a real
    // exchange on a frame whose whole point is bounded size
    val plan = finalPlan(SparkEntry.queries("cms_counts")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("zorder_layout: boundaries from the prefix histogram, corpus never sorted") {
    val df = SparkEntry.queries("zorder_layout")(spark, sf)
    val plan = finalPlan(df)
    // the single-partition window runs over the <=1024-bucket z-prefix
    // histogram; the file assignment joins back as a broadcast; the
    // corpus itself must never be globally sorted or shuffle-joined.
    // The window sits on the broadcast BUILD side (a separate AQE query
    // stage the executed-plan string elides since the z frame became a
    // cached shared scan), so it is asserted on the optimized logical
    // plan where the whole tree prints.
    assert(df.queryExecution.optimizedPlan.toString.contains("Window"),
      df.queryExecution.optimizedPlan.toString.take(1200))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("dedup_incremental: band index meets the batch by equi-join, no all-pairs") {
    // new-side bands join corpus-side bands on (bucket, band, bh) — the
    // candidate generator must stay an equi-join (hash or sort-merge);
    // a nested-loop/cartesian would be batch×corpus all-pairs. The
    // PLANNER's join choice is the claim, so assert on the pre-execution
    // plan: at this fixture scale the verified-pair side can materialize
    // EMPTY and AQE then (correctly) rewrites the final left join into a
    // null-project, erasing every join node from the final plan — that
    // runtime short-circuit must not mask what the planner would run on
    // a non-empty batch. The cartesian prohibitions still hold on the
    // executed plan.
    val df = SparkEntry.queries("dedup_incremental")(spark, sf)
    val initial = df.queryExecution.executedPlan.toString
    assert(initial.contains("HashJoin") || initial.contains("SortMergeJoin"),
      initial.take(1200))
    val plan = finalPlan(df)
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("retention_cohorts: cohort sizes broadcast, no cartesian") {
    val plan = finalPlan(SparkEntry.queries("retention_cohorts")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("bpe_merge_step: top-20 is TakeOrderedAndProject, not a global sort") {
    val plan = finalPlan(SparkEntry.queries("bpe_merge_step")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
  }

  test("line_dedup: HOF segment build, anti-join drop, no token explode") {
    // segments are built by transform/slice inside the projection — the
    // plan must carry exactly ONE Generate (the segment posexplode),
    // not a token-level explode; the boilerplate drop is a left-anti
    // equi-join, never a pair join
    val plan = finalPlan(SparkEntry.queries("line_dedup")(spark, sf))
    assert("Generate".r.findAllIn(plan).length <= 2, plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("lm_predictability: count-table equi-joins, never a pair join") {
    // scoring joins the exploded bigram stream against two count tables
    // keyed on gram/w1 — both must stay equi-joins (hot stop-bigrams are
    // the AQE skew case, not a nested-loop excuse)
    val plan = finalPlan(SparkEntry.queries("lm_predictability")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("snapshot_diff: one full-outer equi-join keyed on doc_id") {
    val plan = finalPlan(SparkEntry.queries("snapshot_diff")(spark, sf))
    assert(plan.contains("FullOuter"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("m4_downsample: extents broadcast, boundary joins equi, no cartesian") {
    val plan = finalPlan(SparkEntry.queries("m4_downsample")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("pagerank_step: edge-linear joins, never a pair or nested-loop join") {
    // one rank⋈edges equi-join + one groupBy(dst) per iteration; the
    // corpus enters only through the final left joins on doc_id
    val plan = finalPlan(SparkEntry.queries("pagerank_step")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("table_profile: one corpus scan feeds every column's stats") {
    val plan = finalPlan(SparkEntry.queries("table_profile")(spark, sf))
    // the profiler's claim is single-pass: one relation read (through
    // the widened memo), the multi-distinct Expand on top of it, and NO
    // per-column Union of scans
    assert("FileScan parquet".r.findAllIn(plan).length == 1, plan.take(1200))
    assert(!plan.contains("Union"), plan.take(1200))
    assert(plan.contains("Expand"), plan.take(1200))
  }

  test("zorder_prune: stat test over the session layout, no corpus sort") {
    val plan = finalPlan(SparkEntry.queries("zorder_prune")(spark, sf))
    // the layout stats come back from session state, the scalar frames
    // ride broadcasts, and nothing re-sorts or sort-merge-joins the
    // corpus to answer a planner-side stat test
    assert(plan.contains("InMemoryTableScan"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("split_leakage: reads the cached pair frame, id-keyed equi-joins only") {
    // the winnow pair frame is session-scoped-cached; the audit must
    // add only equi-joins against the split projection — no pair join,
    // and the pair frame itself served from cache
    val plan = finalPlan(SparkEntry.queries("split_leakage")(spark, sf))
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }
}
