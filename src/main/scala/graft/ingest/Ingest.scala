package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.time.{Duration, Instant, ZoneOffset}
import java.time.temporal.ChronoUnit

/** `collected_at` derivation — the reference's one nonstandard modeling
  * decision (reference: internal/executor/executor.go:404-461; SURVEY §1.4).
  * It is a *logical day bucket* used as the partition / idempotency key, not
  * a wall-clock collection time. The branch structure is decided driver-side
  * (the inputs are scalars from the query config); only the per-sample
  * branches become column expressions.
  */
object CollectedAt {

  private def startOfDayUtc(i: Instant): Instant =
    i.atZone(ZoneOffset.UTC).truncatedTo(ChronoUnit.DAYS).toInstant

  private def litTs(i: Instant): Column =
    to_timestamp(lit(i.toString.replace("T", " ").replace("Z", "")))

  /** @param timeRangeType 'instant' | 'range'
    * @param timeExpr      the config's `time_range_time` (instant queries)
    * @param range         resolved (start, end) for range queries
    * @param sampleTs      the per-sample timestamp column
    * @param now           pinned reference instant
    */
  def derive(
      timeRangeType: String,
      timeExpr: Option[String],
      range: Option[(Instant, Instant)],
      sampleTs: Column,
      now: Instant): Column = {
    (timeRangeType, range) match {
      case ("range", Some((s, e))) if startOfDayUtc(s) == startOfDayUtc(e) =>
        // single-day range -> start of that day (executor.go:425-431)
        litTs(startOfDayUtc(s))
      case ("range", Some(_)) =>
        // multi-day range -> start-of-day of each point (executor.go:432-435)
        date_trunc("DAY", sampleTs)
      case ("instant", _)
          if timeExpr.exists(t => t == "yesterday" || t == "yesterday_end") =>
        // yesterday-anchored instant -> start of yesterday (executor.go:443-452)
        litTs(startOfDayUtc(now.minus(Duration.ofDays(1))))
      case _ =>
        // everything else -> start-of-day of the data point (executor.go:453-460)
        date_trunc("DAY", sampleTs)
    }
  }
}

/** Wire-format conversion: the reference's executor turns Prometheus vector /
  * matrix payloads into `metrics_data` rows with per-row validation
  * (reference: internal/executor/executor.go:229-363; SURVEY §2.3 T1-T8).
  * Input shape mirrors the HTTP wire model (models.go:21-36):
  *   vector: (metric: map<string,string>, value:  array<string> [ts, "v"])
  *   matrix: (metric: map<string,string>, values: array<array<string>>)
  * Malformed samples (bad arity, non-numeric value/ts) are skipped, never
  * fatal (T7: executor.go:305-342) — expressed as null-safe casts + filter,
  * which Catalyst keeps inside whole-stage codegen.
  */
object SampleConversion {

  /** T3: `__name__` label, falling back to the query id
    * (executor.go:231-235), and T4: drop `__name__` from the label set
    * (executor.go:258-264).
    */
  private def nameAndLabels(queryId: String): (Column, Column) = {
    val name = coalesce(nullif(col("metric")("__name__"), lit("")), lit(queryId))
    val labels = map_filter(col("metric"), (k, _) => k =!= "__name__")
    (name, labels)
  }

  private def recordCols(queryId: String, resultType: String, now: Instant,
      timeRangeType: String, timeExpr: Option[String],
      range: Option[(Instant, Instant)]): Seq[Column] = {
    val (name, labels) = nameAndLabels(queryId)
    // T5/T6/T7: null-safe casts (try_cast — ANSI mode would otherwise
    // fail the whole batch on one bad sample); arity guard on [ts, "v"].
    val ok = size(col("sample")) === 2
    val ts = when(ok, timestamp_seconds(
      expr("try_cast(sample[0] AS DOUBLE)").cast("long")))
    val v = when(ok, expr("try_cast(sample[1] AS DOUBLE)"))
    Seq(
      lit(queryId).as("query_id"),
      name.as("metric_name"),
      labels.as("labels"),
      v.as("value"),
      ts.as("timestamp"),
      lit(resultType).as("result_type"),
      CollectedAt.derive(timeRangeType, timeExpr, range, ts, now).as("collected_at"))
  }

  /** Vector (instant) result → records (T1). */
  def fromVector(df: DataFrame, queryId: String, now: Instant,
      timeExpr: Option[String] = None): DataFrame =
    df.withColumn("sample", col("value"))
      .select(recordCols(queryId, "instant", now, "instant", timeExpr, None): _*)
      .filter(col("value").isNotNull && col("timestamp").isNotNull)

  /** Matrix (range) result → records; one row per [ts, v] pair (T2:
    * explode, executor.go:286-363).
    */
  def fromMatrix(df: DataFrame, queryId: String, now: Instant,
      range: Option[(Instant, Instant)] = None): DataFrame =
    df.withColumn("sample", explode(col("values")))
      .select(recordCols(queryId, "range", now, "range", None, range): _*)
      .filter(col("value").isNotNull && col("timestamp").isNotNull)
}

/** Maps the driver fixture `events` table onto the engine's `metrics_data`
  * model (FIXTURES.md §2) so every reference operator runs on real files:
  * `event_type` plays the metric name, `user_id`/`props.k` play the label
  * set, plus a synthetic dashed `cluster_name` so the cluster-normalization
  * analytics (SURVEY §2.5 A2) have something to chew on.
  */
object EventsIngest {

  /** The fixture `events.ts` is parquet TIMESTAMP(NANOS); floor it to
    * whole seconds — exactly the reference's storage precision anyway
    * (executor.go:280). Two read paths, because
    * `spark.sql.legacy.parquet.nanosAsLong` only takes effect when set
    * at session BUILD time (GraftSession sets it; a runtime conf.set is
    * ignored by the 4.1 schema converter): under that flag the column
    * arrives as raw nanos (long), otherwise Spark 4.1 reads NANOS
    * natively as TIMESTAMP_NTZ — cast through the UTC session zone and
    * truncate, which lands on the identical instant. The NTZ→timestamp
    * cast is instant-correct ONLY under `spark.sql.session.timeZone =
    * UTC` (a non-UTC session would shift the wall-clock silently);
    * [[graft.GraftSession.configure]] pins UTC at build time and every
    * engine entry point builds through it, so the assumption is
    * enforced, not ambient.
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_seconds(expr("ts div 1000000000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          date_trunc("SECOND", col("ts").cast("timestamp")))
      case _ => raw
    }
  }

  /** [[readEvents]] behind the session memo with the parallelism floor —
    * the read path for raw-events consumers (M4, quantile/outlier
    * analytics, sessionization): the one-file fixture scan otherwise
    * serializes every consumer's first stage. Memoized, not persisted —
    * the scan stays visible to consumers' plans (see
    * [[graft.sources.TableCache.widenedParquet]] for the rationale).
    */
  def widenedEvents(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.TableCache.memo(spark, s"events#$sfDir")(
      graft.ext.Parallelism.widen(readEvents(spark, sfDir)))

  /** events → metrics_data-shaped frame. Timestamps are truncated to whole
    * seconds on ingest, matching the reference's storage precision
    * (executor.go:280); `collected_at` uses the default per-sample-day
    * branch (§1.4).
    */
  def eventsAsMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = readEvents(spark, sfDir)
    val secTs = date_trunc("SECOND", col("ts"))
    ev.select(
      concat(lit("q_"), col("event_type")).as("query_id"),
      col("event_type").as("metric_name"),
      map(
        lit("cluster_name"),
        concat(lit("c"), pmod(col("user_id"), lit(5)), lit("-r"),
          pmod(col("user_id"), lit(3)), lit("-z0")),
        lit("k"), get_json_object(col("props"), "$.k"),
        lit("user"), col("user_id").cast("string")
      ).as("labels"),
      col("value"),
      secTs.as("timestamp"),
      lit("instant").as("result_type"),
      date_trunc("DAY", secTs).as("collected_at"))
  }

  /** Typed ingest boundary (SURVEY §7.1): the fact rows as
    * Dataset[MetricRecord] — type safety where rows enter the engine;
    * the query surface stays DataFrame.
    */
  def typedRecords(spark: SparkSession, sfDir: String): org.apache.spark.sql.Dataset[graft.model.MetricRecord] = {
    import spark.implicits._
    eventsAsMetrics(spark, sfDir).as[graft.model.MetricRecord]
  }

  /** The ingested metrics frame, cached per (session, dataset) — the
    * buffer-pool analogue: every registered query reads this hot fact
    * frame, so materialize the scan+ingest projection once per session
    * instead of once per query (memoization + persistence semantics in
    * [[graft.sources.TableCache]]).
    *
    * Layout: the frame materializes the canonical series key (`skey`)
    * and is HASH-PARTITIONED BY IT at build — the series-sharded
    * storage layout every production TSDB uses. Per-series operators
    * (the staleness window, the grid rate family, `*_over_time`) then
    * read a frame already clustered by their window key and elide
    * their per-query exchange entirely (HashPartitioning(skey)
    * satisfies ClusteredDistribution(skey, …) by the subset rule);
    * only post-eval regroupings over derived label subsets still
    * shuffle, and those run on eval-sized data. The repartition also
    * subsumes the old parallelism-floor widen: a one-file fixture scan
    * would otherwise cache as ONE partition and serialize every
    * consumer's first stage (see [[graft.ext.Parallelism]]).
    */
  def cachedMetrics(spark: SparkSession, sfDir: String): DataFrame =
    // NOTE (round 18): with AQE on, a cached-table scan's
    // TableCacheQueryStage wrapper used to defeat exchange reuse, so
    // every PromQL query with a repeated selector sub-plan (setop
    // tiers, scalar() comparisons, binops on the same metric) executed
    // the duplicate in full. Fixed globally by the injected
    // GraftWrapCachedScans query-stage-prep rule (AdaptiveCacheScan
    // .scala) — the persisted columnar form here keeps its batch-stat
    // pruning and column pruning, which an RDD-checkpoint
    // representation measurably lost (~25-100% more scan CPU per
    // selector, OPTIMIZATION_r18.md finding 1).
    graft.sources.TableCache.getOrBuild(spark, s"metrics#$sfDir")(
      eventsAsMetrics(spark, sfDir)
        .withColumn("e", unix_timestamp(col("timestamp")))
        .withColumn("skey", graft.promql.PromOps.seriesKey(col("labels")))
        // partition count floors at 16 but never drops below the core
        // count: a fixed 16 would NARROW any scan wider than 16
        // partitions and cap every per-series first stage below the
        // available parallelism on larger boxes/fixtures (ADVICE r15)
        .repartition(
          math.max(16, spark.sparkContext.defaultParallelism),
          col("skey")))

  /** Partitioned-parquet writer for the fact table, and its only writer
    * (collection, repair and the stream sink all land here): partition by
    * `collect_date` (+ query_id) so repair/retention are partition ops
    * (SURVEY §1.4, §2.2 W7/W8). At 100 TB this layout gives partition
    * pruning on the two hottest predicates for free.
    *
    * The rows are clustered on the partition key first (`REBALANCE`), so
    * each partition directory a write touches gets one file: unclustered,
    * every input partition writes its own file into every directory it
    * holds rows for (up to 16 per directory from the series-hashed fact
    * frame). Unlike `repartition` or `coalesce(1)`, a rebalance lets AQE
    * split a partition larger than the advisory size across tasks, so a
    * 100 TB day still writes in parallel.
    */
  def writeFactTable(df: DataFrame, path: String, mode: String = "append"): Unit =
    df.withColumn("collect_date", to_date(col("collected_at")))
      .hint("rebalance", col("collect_date"), col("query_id"))
      .write.partitionBy("collect_date", "query_id").mode(mode).parquet(path)
}
