package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.EventsIngest
import graft.promql.PromOps
import graft.time.TimeResolver
import java.time.Instant

/** Deterministic evaluation pinning for the whole query pack.
  *
  * The reference's flagship config evaluates at `yesterday_end` relative to
  * "now" (reference: scripts/migrate.sql:107-112); the driver fixtures span
  * 2024-01-01 → 2024-01-30 at every scale factor (TESTDATA.md), so we pin
  * now = 2024-01-31T00:00:00Z. Every query and every DuckDB oracle resolves
  * times from this single constant — the injected-now discipline the
  * reference's own production bug argues for (its REPAIR.md; SURVEY §7.1).
  */
object Pinned {
  val Now: Instant = Instant.parse("2024-01-31T00:00:00Z")
  val resolver = TimeResolver(Now)

  /** yesterday_end = 2024-01-30 23:59:59 UTC */
  val Te: Long = resolver.resolve("yesterday_end").getEpochSecond
  /** flagship [24h:1m] subquery grid: aligned minutes in (Te-24h, Te] */
  val G1: Long = (Te / 60) * 60
  val G0: Long = G1 - 86400 + 60
}

/** The PromQL operator surface (SURVEY §2.4 P1-P9) as registered queries
  * with DuckDB oracles. Each query composes [[graft.promql.PromOps]] over
  * the ingested fixture metrics ([[graft.ingest.EventsIngest]]).
  *
  * Float determinism: sums/averages of raw double samples are computed
  * through DECIMAL(20,6) (exact, order-independent) and cast back to
  * double, so Spark's and DuckDB's different aggregation orders cannot
  * produce last-ulp hash mismatches. Counts, 0/1 bools, and min/max are
  * exact already.
  */
object PromQueries {
  import Pinned._

  private def metrics(spark: SparkSession, sfDir: String): DataFrame =
    EventsIngest.cachedMetrics(spark, sfDir)

  private val user = PromOps.labelsOf(col("skey")).getItem("user")
  private val kLbl = PromOps.labelsOf(col("skey")).getItem("k")
  private val clusterLbl = PromOps.labelsOf(col("skey")).getItem("cluster_name")
  private def decSum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(20,6)")).cast("double")

  /** Events-side sample CTE shared by the oracles: same label synthesis,
    * same second-floor epoch as the ingest (T5/T6).
    */
  private def sampleCte(metric: String, eLo: Long, eHi: Long): String =
    s"""WITH s AS (
       |  SELECT CAST(user_id AS VARCHAR) AS u,
       |         json_extract_string(props, '$$.k') AS k,
       |         'c' || (user_id % 5) || '-r' || (user_id % 3) || '-z0' AS cl,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS e,
       |         value AS v
       |  FROM events
       |  WHERE event_type = '$metric'
       |    AND CAST(floor(epoch(ts)) AS BIGINT) BETWEEN $eLo AND $eHi
       |)""".stripMargin

  private val latestPairSql =
    "SELECT u, k, cl, (max(struct_pack(e := e, v := v))).e AS e, " +
      "(max(struct_pack(e := e, v := v))).v AS v FROM s GROUP BY u, k, cl"

  /** Extrapolated-rate oracle tail — Prometheus `extrapolatedRate`
    * mirrored double-op-for-double-op against
    * [[graft.promql.PromOps]]'s kernel (same staged expressions, same
    * IEEE operation order, so the hash gate holds bit-for-bit).
    * Consumes a CTE `d` carrying (keys..., e, vd[, delta]) — `delta` is
    * the counter-reset-aware step chain for rate/increase; the delta
    * (gauge) kind reads last−first from `d` directly. `rs`/`re` are SQL
    * expressions for the window bounds and may reference the keys
    * (`g - 2592000` at range evaluation).
    */
  private def extrapTailSql(keys: Seq[String], rs: String, re: String,
      windowSec: Long, kind: String, outSelect: String): String = {
    val ks = keys.mkString(", ")
    val res =
      if (kind == "delta")
        """CAST(last(vd ORDER BY e, vd)
          |              - first(vd ORDER BY e, vd) AS DOUBLE) AS res""".stripMargin
      else "CAST(sum(delta) AS DOUBLE) AS res"
    val rate = if (kind == "rate") s" / ${windowSec}.0" else ""
    val zeroCap =
      if (kind == "delta") "" // gauges have no zero crossing to respect
      else s""", y AS (
         |  SELECT $ks, res, span, de1,
         |         CASE WHEN res > 0 AND fvd >= 0 AND span * (fvd / res) < ds1
         |              THEN span * (fvd / res) ELSE ds1 END AS ds2
         |  FROM x
         |)""".stripMargin
    val (lastCte, ds) = if (kind == "delta") ("x", "ds1") else ("y", "ds2")
    s""", agg AS (
       |  SELECT $ks, count(*) AS n, min(e) AS fe, max(e) AS le,
       |         first(vd ORDER BY e, vd) AS fv,
       |         $res
       |  FROM d GROUP BY $ks HAVING max(e) - min(e) > 0
       |), f AS (
       |  SELECT $ks, res, CAST(le - fe AS DOUBLE) AS span,
       |         CAST(le - fe AS DOUBLE) / (n - 1) AS avgd,
       |         CAST(fe - ($rs) AS DOUBLE) AS ds0,
       |         CAST(($re) - le AS DOUBLE) AS de0,
       |         CAST(fv AS DOUBLE) AS fvd
       |  FROM agg
       |), x AS (
       |  SELECT $ks, res, span, fvd,
       |         CASE WHEN ds0 >= avgd * 1.1 THEN avgd / 2 ELSE ds0 END AS ds1,
       |         CASE WHEN de0 >= avgd * 1.1 THEN avgd / 2 ELSE de0 END AS de1
       |  FROM f
       |)$zeroCap
       |SELECT $outSelect,
       |       res * (((span + $ds + de1) / span)$rate) AS value
       |FROM $lastCte""".stripMargin
  }

  // ---------------------------------------------------------------- flagship

  /** The reference's flagship query (scripts/migrate.sql:105) re-expressed
    * over the fixture metric stream:
    *   sum(sum_over_time(max without(k, cluster_name)
    *       (view != bool 999999)[24h:1m])) by (user) * 60 / 3600
    * P1 staleness + P2 bool + P3 without + P4 subquery grid + P5
    * sum_over_time + P6 by + P7 scalar arithmetic.
    */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val grid = PromOps.rangeEval(metrics(spark, sfDir), "view", G0, G1,
      stepSec = 60, lookbackSec = 300)
    val b = grid.withColumn("value", PromOps.boolCmp(col("value"), "!=", 999999))
    val collapsed = PromOps.aggWithout(b, Seq("k", "cluster_name"),
      max(col("value")), extraKeys = Seq("g"))
    val sumOverTime = collapsed.groupBy(col("skey")).agg(sum("value").as("value"))
    PromOps.aggBy(sumOverTime, Seq("user"), sum(col("value")))
      .select(user.as("user"),
        (col("value") * 60 / 3600).cast("double").as("util_hours"))
  }

  val flagshipOracle: String =
    sampleCte("view", G0 - 300 + 1, G1) +
      s""", ex AS (
         |  SELECT u, k, e, v,
         |         unnest(generate_series(greatest($G0, ((e + 59) // 60) * 60),
         |                                least($G1, ((e + 299) // 60) * 60), 60)) AS g
         |  FROM s
         |), latest AS (
         |  SELECT u, k, g, (max(struct_pack(e := e, v := v))).v AS lv
         |  FROM ex GROUP BY u, k, g
         |), collapsed AS (
         |  SELECT u, g, max(CASE WHEN lv <> 999999.0 THEN 1.0 ELSE 0.0 END) AS b
         |  FROM latest GROUP BY u, g
         |), sot AS (
         |  SELECT u, CAST(sum(b) AS DOUBLE) AS sv FROM collapsed GROUP BY u
         |)
         |SELECT u AS user, CAST(sv * 60 / 3600 AS DOUBLE) AS util_hours FROM sot""".stripMargin

  /** The repair shape (SURVEY §3.2): the flagship recomputed for the last
    * THREE days as ONE job — a single sample→grid expansion spanning the
    * whole range, bucketed by day — where the reference loops
    * day-by-day with one source round-trip per day. This is the query the
    * backfill path runs; per-day results land as separate partitions.
    */
  def flagshipMultiday(spark: SparkSession, sfDir: String): DataFrame = {
    val g0 = G1 - 3 * 86400 + 60
    val grid = PromOps.rangeEval(metrics(spark, sfDir), "view", g0, G1,
      stepSec = 60, lookbackSec = 300)
    val b = grid.withColumn("value", PromOps.boolCmp(col("value"), "!=", 999999))
    val collapsed = PromOps.aggWithout(b, Seq("k", "cluster_name"),
      max(col("value")), extraKeys = Seq("g"))
    collapsed
      .withColumn("day_e", expr("((g - 60) div 86400) * 86400"))
      .groupBy(col("skey"), col("day_e"))
      .agg(sum("value").as("sot"))
      .select(user.as("user"), col("day_e"),
        (col("sot") * 60 / 3600).cast("double").as("util_hours"))
  }

  val flagshipMultidayOracle: String =
    sampleCte("view", G1 - 3 * 86400 + 60 - 300 + 1, G1) +
      s""", ex AS (
         |  SELECT u, k, e, v,
         |         unnest(generate_series(greatest(${G1 - 3 * 86400 + 60}, ((e + 59) // 60) * 60),
         |                                least($G1, ((e + 299) // 60) * 60), 60)) AS g
         |  FROM s
         |), latest AS (
         |  SELECT u, k, g, (max(struct_pack(e := e, v := v))).v AS lv
         |  FROM ex GROUP BY u, k, g
         |), collapsed AS (
         |  SELECT u, g, max(CASE WHEN lv <> 999999.0 THEN 1.0 ELSE 0.0 END) AS b
         |  FROM latest GROUP BY u, g
         |)
         |SELECT u AS user, ((g - 60) // 86400) * 86400 AS day_e,
         |       CAST(sum(b) * 60 / 3600 AS DOUBLE) AS util_hours
         |FROM collapsed GROUP BY u, 2""".stripMargin

  // ------------------------------------------------------------ P1 instant

  /** P1: instant vector selector — latest sample per series within the
    * staleness lookback (1h here so the sparse small-SF fixtures keep the
    * result non-trivial).
    */
  def instantVector(spark: SparkSession, sfDir: String): DataFrame =
    PromOps.instantVector(metrics(spark, sfDir), "click", Te, lookbackSec = 3600)
      .select(user.as("user"), kLbl.as("k"), col("e"), col("value"))

  val instantVectorOracle: String =
    sampleCte("click", Te - 3600 + 1, Te) +
      s"\nSELECT u AS user, k, (max(struct_pack(e := e, v := v))).e AS e, " +
      s"(max(struct_pack(e := e, v := v))).v AS value FROM s GROUP BY u, k"

  // --------------------------------------------------------- P8 range query

  private val Gm1: Long = (Te / 300) * 300
  private val Gm0: Long = Gm1 - 7200

  /** P8: range-query step evaluation — matrix out over a 2h window at 5m
    * steps, 10m lookback.
    */
  def rangeMatrix(spark: SparkSession, sfDir: String): DataFrame =
    PromOps.rangeEval(metrics(spark, sfDir), "purchase", Gm0, Gm1,
      stepSec = 300, lookbackSec = 600)
      .select(user.as("user"), kLbl.as("k"), col("g"), col("value"))

  val rangeMatrixOracle: String =
    sampleCte("purchase", Gm0 - 600 + 1, Gm1) +
      s""", ex AS (
         |  SELECT u, k, e, v,
         |         unnest(generate_series(greatest($Gm0, ((e + 299) // 300) * 300),
         |                                least($Gm1, ((e + 599) // 300) * 300), 300)) AS g
         |  FROM s
         |)
         |SELECT u AS user, k, g, (max(struct_pack(e := e, v := v))).v AS value
         |FROM ex GROUP BY u, k, g""".stripMargin

  /** Range-evaluated `max_over_time(purchase[1h])` on the 5-minute grid
    * — the Grafana moving-window panel shape, through the PARSED range
    * path (PromEval.evalGrid → PromOps.windowGrid): each sample explodes
    * into at most window/step grid points, one aggregation per (series,
    * point), no cross join. max is order-independent and exact in
    * doubles, so the oracle matches bit-for-bit.
    */
  def rangeOverTime(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse("max_over_time(purchase[1h])")
    graft.promql.PromEval.evalGrid(metrics(spark, sfDir), expr, Gm0, Gm1,
      stepSec = 300, lookbackSec = PromOps.DefaultLookbackSec)
      .select(user.as("user"), kLbl.as("k"), col("g"), col("value"))
  }

  val rangeOverTimeOracle: String =
    sampleCte("purchase", Gm0 - 3600 + 1, Gm1) +
      s""", ex AS (
         |  SELECT u, k, e, v,
         |         unnest(generate_series(greatest($Gm0, ((e + 299) // 300) * 300),
         |                                least($Gm1, ((e + 3599) // 300) * 300), 300)) AS g
         |  FROM s
         |)
         |SELECT u AS user, k, g, max(v) AS value
         |FROM ex GROUP BY u, k, g""".stripMargin

  /** Range-evaluated `rate(purchase[720h])` on the 5-minute grid — the
    * canonical Grafana counter panel, through the parsed range path
    * (PromEval.evalGrid → PromOps.rateFromSamples). The full-fixture window
    * keeps every (series, point) non-vacuous; deltas sum in
    * DECIMAL(20,6) (order-independent) and the extrapolation factor —
    * each point's window bounds are (g−w, g] — is the fixed-order
    * double chain, mirrored literally in the oracle.
    */
  def rangeRate(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse("rate(purchase[720h])")
    graft.promql.PromEval.evalGrid(metrics(spark, sfDir), expr, Gm0, Gm1,
      stepSec = 300, lookbackSec = PromOps.DefaultLookbackSec)
      .select(user.as("user"), kLbl.as("k"), col("g"), col("value"))
  }

  val rangeRateOracle: String =
    sampleCte("purchase", Gm0 - 2592000 + 1, Gm1) +
      s""", ex AS (
         |  SELECT u, k, e, CAST(v AS DECIMAL(20,6)) AS vd,
         |         unnest(generate_series(greatest($Gm0, ((e + 299) // 300) * 300),
         |                                least($Gm1, ((e + 2591999) // 300) * 300), 300)) AS g
         |  FROM s
         |), o AS (
         |  SELECT u, k, g, e, vd,
         |         lag(vd) OVER (PARTITION BY u, k, g ORDER BY e, vd) AS prev
         |  FROM ex
         |), d AS (
         |  SELECT u, k, g, e, vd, CASE WHEN prev IS NULL THEN NULL
         |                              WHEN vd >= prev THEN vd - prev
         |                              ELSE vd END AS delta
         |  FROM o
         |)""".stripMargin +
      extrapTailSql(Seq("u", "k", "g"), "g - 2592000", "g",
        2592000L, "rate", "u AS user, k, g")

  /** Range-evaluated vector division with `on(user)` matching — the
    * ratio-of-rates dashboard panel: per grid point, each user's
    * view-to-purchase count ratio over the trailing 24h window (wide
    * enough to be non-vacuous at every fixture scale, narrow enough
    * that the moving-window explode stays ~window/step per sample).
    * The binop joins per (match key, grid point); integer counts keep
    * the single division IEEE-deterministic.
    */
  def rangeBinop(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum by (user) (count_over_time(view[24h])) / on(user) " +
        "sum by (user) (count_over_time(purchase[24h]))")
    graft.promql.PromEval.evalGrid(metrics(spark, sfDir), expr, Gm0, Gm1,
      stepSec = 300, lookbackSec = PromOps.DefaultLookbackSec)
      .select(user.as("user"), col("g"), col("value"))
  }

  val rangeBinopOracle: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(user_id AS VARCHAR) AS u,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS e
       |  FROM events
       |  WHERE CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${Gm0 - 86400 + 1} AND $Gm1
       |), grid AS (
       |  SELECT unnest(generate_series($Gm0, $Gm1, 300)) AS g
       |), ex AS (
       |  SELECT ev.event_type, ev.u, grid.g
       |  FROM ev, grid WHERE ev.e > grid.g - 86400 AND ev.e <= grid.g
       |), sv AS (
       |  SELECT u, g, count(*) AS c FROM ex
       |  WHERE event_type = 'view' GROUP BY u, g
       |), sp AS (
       |  SELECT u, g, count(*) AS c FROM ex
       |  WHERE event_type = 'purchase' GROUP BY u, g
       |)
       |SELECT sv.u AS user, sv.g,
       |       CAST(sv.c AS DOUBLE) / CAST(sp.c AS DOUBLE) AS value
       |FROM sv JOIN sp ON sv.u = sp.u AND sv.g = sp.g""".stripMargin

  /** RANGE-evaluated `and on(user)` — the set-op matching modifiers
    * (round 17) under grid evaluation, where the projected-key join
    * carries the grid point: per step, keep each (user, k) purchase
    * count only where that user's trailing click count is odd AT THE
    * SAME grid point. Exercises the evalGrid modifier path the instant
    * entries can't reach; integer counts keep it hash-exact.
    */
  def rangeSetopOn(spark: SparkSession, sfDir: String): DataFrame = {
    // 6h trailing windows (round 18, was 24h): the modifier-under-grid
    // evidence is window-size-independent — at 6h the per-point join
    // still keeps 61 and drops 420 purchase rows at sf0.01 — and the
    // scan-side sample set shrinks 4x.
    val expr = graft.promql.PromParser.parse(
      "sum by (user, k) (count_over_time(purchase[6h])) and on(user) " +
        "sum by (user) (count_over_time(click[6h])) % 2 == 1")
    graft.promql.PromEval.evalGrid(metrics(spark, sfDir), expr, Gm0, Gm1,
      stepSec = 300, lookbackSec = PromOps.DefaultLookbackSec)
      .select(user.as("user"), kLbl.as("k"), col("g"), col("value"))
  }

  val rangeSetopOnOracle: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(user_id AS VARCHAR) AS u,
       |         json_extract_string(props, '$$.k') AS k,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS e
       |  FROM events
       |  WHERE CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${Gm0 - 21600 + 1} AND $Gm1
       |), grid AS (
       |  SELECT unnest(generate_series($Gm0, $Gm1, 300)) AS g
       |), ex AS (
       |  SELECT ev.event_type, ev.u, ev.k, grid.g
       |  FROM ev, grid WHERE ev.e > grid.g - 21600 AND ev.e <= grid.g
       |), pk AS (
       |  SELECT u, k, g, count(*) AS c FROM ex
       |  WHERE event_type = 'purchase' GROUP BY u, k, g
       |), codd AS (
       |  SELECT u, g FROM (
       |    SELECT u, g, count(*) AS c FROM ex
       |    WHERE event_type = 'click' GROUP BY u, g
       |  ) WHERE c % 2 = 1
       |)
       |SELECT pk.u AS user, pk.k, pk.g, CAST(pk.c AS DOUBLE) AS value
       |FROM pk JOIN codd ON pk.u = codd.u AND pk.g = codd.g""".stripMargin

  /** Parsed `timestamp(click)` — each surviving series' sample epoch as
    * its value (staleness debugging). Integer seconds: exact in doubles.
    */
  def parsedTimestamp(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse("timestamp(click)")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te,
      lookbackSec = 86400) // day-wide lookback: non-vacuous at every sf
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedTimestampOracle: String =
    sampleCte("click", Te - 86400 + 1, Te) +
      "\nSELECT u AS user, k, " +
      "CAST((max(struct_pack(e := e, v := v))).e AS DOUBLE) AS value " +
      "FROM s GROUP BY u, k"

  /** Parsed `hour(timestamp(click))` — the time-component family over
    * each series' sample epoch: which UTC hour the latest sample landed
    * in. Pure integer division/modulo, exact in both engines.
    */
  def parsedTimeFns(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse("hour(timestamp(click))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te,
      lookbackSec = 86400)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedTimeFnsOracle: String =
    sampleCte("click", Te - 86400 + 1, Te) +
      "\nSELECT u AS user, k, " +
      "CAST((max(struct_pack(e := e, v := v))).e // 3600 % 24 AS DOUBLE) AS value " +
      "FROM s GROUP BY u, k"

  /** Parsed calendar components — `day_of_year(timestamp(click)) * 100 +
    * days_in_month(timestamp(click))`: exact UTC calendar fields (both
    * engines pin the session to UTC), composed through a full-series-key
    * vector addition so the binop path is exercised with integers.
    */
  def parsedCalFns(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "day_of_year(timestamp(click)) * 100 + days_in_month(timestamp(click))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te,
      lookbackSec = 86400)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedCalFnsOracle: String =
    sampleCte("click", Te - 86400 + 1, Te) +
      """
        |, L AS (SELECT u, k, (max(struct_pack(e := e, v := v))).e AS e
        |        FROM s GROUP BY u, k)
        |SELECT u AS user, k,
        |       CAST(dayofyear(make_timestamp(e * 1000000)) * 100
        |            + dayofmonth(last_day(CAST(make_timestamp(e * 1000000) AS DATE)))
        |            AS DOUBLE) AS value
        |FROM L""".stripMargin

  /** Parsed `label_replace` END-TO-END with a Java/RE2-compatible regex:
    * pull the rack out of the cluster label into a new `rack` label.
    * The PromQL replacement uses `$1`; the DuckDB oracle reproduces the
    * value with group extraction (`\\1`-style replacement differs by
    * dialect, the extracted VALUE does not).
    */
  def parsedLabelReplace(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      """label_replace(sum by (cluster_name) (count_over_time(purchase[720h])), """ +
        """"rack", "$1", "cluster_name", "c[0-9]+-(r[0-9]+)-z[0-9]+")""")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(clusterLbl.as("cluster_name"),
        PromOps.labelsOf(col("skey")).getItem("rack").as("rack"), col("value"))
  }

  val parsedLabelReplaceOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |SELECT cl AS cluster_name,
        |       regexp_extract(cl, 'c[0-9]+-(r[0-9]+)-z[0-9]+', 1) AS rack,
        |       CAST(count(*) AS DOUBLE) AS value
        |FROM s GROUP BY cl""".stripMargin

  // ------------------------------------------------------- P5 *_over_time

  /** P5: the `*_over_time` family over a 24h range selector, aggregated by
    * the `user` label (sum/count/avg/min/max in one pass).
    */
  def overTime(spark: SparkSession, sfDir: String): DataFrame = {
    val rs = PromOps.rangeSelector(metrics(spark, sfDir), "error", Te, 86400)
    rs.groupBy(user.as("user"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(20,6)")).as("sdec"),
        min("value").as("vmin"), max("value").as("vmax"))
      .select(col("user"), col("cnt"),
        col("sdec").cast("double").as("vsum"),
        (col("sdec").cast("double") / col("cnt")).as("vavg"),
        col("vmin"), col("vmax"))
  }

  val overTimeOracle: String =
    sampleCte("error", Te - 86400 + 1, Te) +
      """
        |SELECT u AS user, count(*) AS cnt,
        |       CAST(sum(CAST(v AS DECIMAL(20,6))) AS DOUBLE) AS vsum,
        |       CAST(sum(CAST(v AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS vavg,
        |       min(v) AS vmin, max(v) AS vmax
        |FROM s GROUP BY u""".stripMargin

  /** Raw counter statistics over a 24h range selector — sample count,
    * reset-corrected increase, and increase over the OBSERVED span.
    * This is deliberately NOT PromQL `rate()` (which extrapolates to
    * the window bounds — the parser path implements that exactly; see
    * promql_parsed_rate / pq_range_rate): it is the diagnostic panel
    * you consult when an extrapolated reading looks surprising — the
    * untouched ingredients (n, raw increase, observed span) the
    * extrapolation is computed FROM. Deltas are computed and summed in
    * DECIMAL(20,6), so aggregation order cannot shift the result; the
    * only float op is the final division.
    */
  def pqRate(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rs = PromOps.rangeSelector(metrics(spark, sfDir), "purchase", Te, 86400)
      .select(user.as("user"), col("e"),
        col("value").cast("decimal(20,6)").as("vd"))
    val w = Window.partitionBy(col("user")).orderBy(col("e"), col("vd"))
    rs.withColumn("prev", lag(col("vd"), 1).over(w))
      .withColumn("delta",
        when(col("prev").isNull, lit(null))
          .when(col("vd") >= col("prev"), col("vd") - col("prev"))
          .otherwise(col("vd")))
      .groupBy(col("user"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("delta")).as("incd"),
        (max(col("e")) - min(col("e"))).as("span_sec"))
      .filter(col("span_sec") > 0)
      .select(col("user"), col("n_samples"),
        col("incd").cast("double").as("increase"),
        (col("incd").cast("double") / col("span_sec")).as("rate_per_sec"))
  }

  val pqRateOracle: String =
    sampleCte("purchase", Te - 86400 + 1, Te) +
      """
        |, o AS (
        |  SELECT u, e, CAST(v AS DECIMAL(20,6)) AS vd,
        |         lag(CAST(v AS DECIMAL(20,6))) OVER (PARTITION BY u
        |             ORDER BY e, CAST(v AS DECIMAL(20,6))) AS prev
        |  FROM s
        |), d AS (
        |  SELECT u, e, CASE WHEN prev IS NULL THEN NULL
        |                    WHEN vd >= prev THEN vd - prev
        |                    ELSE vd END AS delta
        |  FROM o
        |)
        |SELECT u AS user, count(*) AS n_samples,
        |       CAST(sum(delta) AS DOUBLE) AS increase,
        |       CAST(sum(delta) AS DOUBLE) / (max(e) - min(e)) AS rate_per_sec
        |FROM d GROUP BY u HAVING max(e) - min(e) > 0""".stripMargin

  // ------------------------------------------------------ P3 agg without

  /** P3: `max without(k, cluster_name)` over an instant vector. */
  def aggWithout(spark: SparkSession, sfDir: String): DataFrame = {
    val iv = PromOps.instantVector(metrics(spark, sfDir), "signup", Te, 3600)
    PromOps.aggWithout(iv, Seq("k", "cluster_name"), max(col("value")))
      .select(user.as("user"), col("value"))
  }

  val aggWithoutOracle: String =
    sampleCte("signup", Te - 3600 + 1, Te) +
      s", latest AS ($latestPairSql)\n" +
      "SELECT u AS user, max(v) AS value FROM latest GROUP BY u"

  // ------------------------------------------------------ P6/P9 agg by

  /** P6: `sum by (cluster_name)` over an instant vector (decimal-exact). */
  def aggBy(spark: SparkSession, sfDir: String): DataFrame = {
    val iv = PromOps.instantVector(metrics(spark, sfDir), "view", Te, 3600)
    PromOps.aggBy(iv, Seq("cluster_name"),
      sum(col("value").cast("decimal(20,6)")).cast("double"))
      .select(clusterLbl.as("cluster_name"), col("value"))
  }

  val aggByOracle: String =
    sampleCte("view", Te - 3600 + 1, Te) +
      s", latest AS ($latestPairSql)\n" +
      "SELECT cl AS cluster_name, CAST(sum(CAST(v AS DECIMAL(20,6))) AS DOUBLE) AS value " +
      "FROM latest GROUP BY cl"

  /** P9: `avg by (cluster_name)` (docs example, user-guide.md:88). */
  def avgBy(spark: SparkSession, sfDir: String): DataFrame = {
    val iv = PromOps.instantVector(metrics(spark, sfDir), "error", Te, 3600)
    PromOps.aggBy(iv, Seq("cluster_name"),
      sum(col("value").cast("decimal(20,6)")).cast("double") / count(lit(1)))
      .select(clusterLbl.as("cluster_name"), col("value"))
  }

  val avgByOracle: String =
    sampleCte("error", Te - 3600 + 1, Te) +
      s", latest AS ($latestPairSql)\n" +
      "SELECT cl AS cluster_name, CAST(sum(CAST(v AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS value " +
      "FROM latest GROUP BY cl"

  // ------------------------------------------------- P2/P7 bool + scalar

  /** P2 + P7: comparison with `bool` modifier and vector-scalar
    * arithmetic over an instant vector.
    */
  def boolScalar(spark: SparkSession, sfDir: String): DataFrame =
    PromOps.instantVector(metrics(spark, sfDir), "view", Te, 3600)
      .select(user.as("user"), kLbl.as("k"),
        (PromOps.boolCmp(col("value"), ">", 50) * 60 / 3600)
          .cast("double").as("flag_scaled"))

  val boolScalarOracle: String =
    sampleCte("view", Te - 3600 + 1, Te) +
      s", latest AS ($latestPairSql)\n" +
      "SELECT u AS user, k, CAST((CASE WHEN v > 50 THEN 1.0 ELSE 0.0 END) * 60 / 3600 AS DOUBLE) AS flag_scaled " +
      "FROM latest"

  // ------------------------------------------- parsed-PromQL front-end

  /** The flagship evaluated from its PromQL *text* through the parser +
    * evaluator — must produce the identical result (and plan) as the
    * hand-built [[flagship]]. This is the reference's query_configs.query
    * path: the string the operator writes is the thing that runs.
    */
  def parsedFlagship(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum(sum_over_time(max without(k, cluster_name) " +
        "(view != bool 999999)[24h:1m])) by (user) * 60 / 3600")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value").cast("double").as("util_hours"))
  }

  /** Label matchers + count_over_time from query text (exact integer
    * counts → portable).
    */
  def parsedMatcher(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum by (user) (count_over_time(click{cluster_name=\"c2-r2-z0\"}[24h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedMatcherOracle: String =
    sampleCte("click", Te - 86400 + 1, Te) +
      "\nSELECT u AS user, CAST(count(*) AS DOUBLE) AS value FROM s " +
      "WHERE cl = 'c2-r2-z0' GROUP BY u"

  /** Parsed `max without (...)(max_over_time(error[6h]))` — agg-over-range
    * from query text; max is exact so the oracle is direct.
    */
  def parsedOverTime(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "max without (k, cluster_name) (max_over_time(error[6h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedOverTimeOracle: String =
    sampleCte("error", Te - 21600 + 1, Te) +
      "\nSELECT u AS user, max(v) AS value FROM s GROUP BY u"

  /** Parsed `last_over_time(purchase[2h])` — latest sample per raw series
    * in the window (the staleness primitive as an explicit function).
    */
  def parsedLastOverTime(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse("last_over_time(purchase[2h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedLastOverTimeOracle: String =
    sampleCte("purchase", Te - 7200 + 1, Te) +
      "\nSELECT u AS user, k, (max(struct_pack(e := e, v := v))).v AS value " +
      "FROM s GROUP BY u, k"

  /** Parsed `rate(purchase[720h])` — the text front-end driving
    * [[PromOps.rateFromSamples]]. The window spans the whole fixture range
    * (2024-01-01 → Te) so per-(user, k) raw series have ≥2 samples at
    * every scale factor and the entry is non-vacuous — round-3 review
    * caught the earlier 24h+matcher variant passing on the empty set.
    * (Matcher pushdown is exercised by promql_parsed_matcher/flagship.)
    */
  def parsedRate(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse("rate(purchase[720h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedRateOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |, o AS (
        |  SELECT u, k, e, CAST(v AS DECIMAL(20,6)) AS vd,
        |         lag(CAST(v AS DECIMAL(20,6))) OVER (PARTITION BY u, k
        |             ORDER BY e, CAST(v AS DECIMAL(20,6))) AS prev
        |  FROM s
        |), d AS (
        |  SELECT u, k, e, vd, CASE WHEN prev IS NULL THEN NULL
        |                           WHEN vd >= prev THEN vd - prev
        |                           ELSE vd END AS delta
        |  FROM o
        |)""".stripMargin +
      extrapTailSql(Seq("u", "k"), s"${Te - 2592000}", s"$Te",
        2592000L, "rate", "u AS user, k")

  /** Parsed `increase(error[720h])` — the other Rate kind end-to-end:
    * counter-reset-aware growth extrapolated to the window bounds (no
    * rate division). Full-fixture window for the same non-vacuity
    * reason as [[parsedRate]].
    */
  def parsedIncrease(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse("increase(error[720h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedIncreaseOracle: String =
    sampleCte("error", Te - 2592000 + 1, Te) +
      """
        |, o AS (
        |  SELECT u, k, e, CAST(v AS DECIMAL(20,6)) AS vd,
        |         lag(CAST(v AS DECIMAL(20,6))) OVER (PARTITION BY u, k
        |             ORDER BY e, CAST(v AS DECIMAL(20,6))) AS prev
        |  FROM s
        |), d AS (
        |  SELECT u, k, e, vd, CASE WHEN prev IS NULL THEN NULL
        |                           WHEN vd >= prev THEN vd - prev
        |                           ELSE vd END AS delta
        |  FROM o
        |)""".stripMargin +
      extrapTailSql(Seq("u", "k"), s"${Te - 2592000}", s"$Te",
        2592000L, "increase", "u AS user, k")

  /** Parsed `last_over_time(purchase[168h] offset 24h)` — the `offset`
    * modifier end-to-end: the week-long window ends 24h before the
    * evaluation time, so the result must contain no sample from the final
    * day. Reference behavior: offset is part of the opaque query string
    * shipped to Prometheus (internal/prometheus/client.go:70).
    */
  def parsedOffset(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "last_over_time(purchase[168h] offset 24h)")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedOffsetOracle: String =
    sampleCte("purchase", Te - 86400 - 604800 + 1, Te - 86400) +
      "\nSELECT u AS user, k, (max(struct_pack(e := e, v := v))).v AS value " +
      "FROM s GROUP BY u, k"

  /** Parsed vector-vector division with `on(user)` one-to-one matching:
    * per-user view-to-purchase sample-count ratio over the fixture span.
    * Counts are integer-exact in both engines, and the single trailing
    * IEEE division is deterministic, so no decimal routing is needed.
    */
  def parsedBinop(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum by (user) (count_over_time(view[720h])) / on(user) " +
        "sum by (user) (count_over_time(purchase[720h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedBinopOracle: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(user_id AS VARCHAR) AS u
       |  FROM events
       |  WHERE CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${Te - 2592000 + 1} AND $Te
       |), sv AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'view' GROUP BY u),
       |   sp AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'purchase' GROUP BY u)
       |SELECT sv.u AS user, CAST(sv.c AS DOUBLE) / CAST(sp.c AS DOUBLE) AS value
       |FROM sv JOIN sp ON sv.u = sp.u""".stripMargin

  /** Parsed `a / on(user) b > 2` — the error-ratio alert idiom,
    * exercising Prometheus operator precedence end-to-end: comparison
    * binds LOOSER than arithmetic, so the threshold applies to the
    * ratio, not to the divisor. Counts are integer-exact cross-engine;
    * the single IEEE division and the `>` filter are deterministic.
    */
  def parsedRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum by (user) (count_over_time(view[720h])) / on(user) " +
        "sum by (user) (count_over_time(purchase[720h])) > 2")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedRatioOracle: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(user_id AS VARCHAR) AS u
       |  FROM events
       |  WHERE CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${Te - 2592000 + 1} AND $Te
       |), sv AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'view' GROUP BY u),
       |   sp AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'purchase' GROUP BY u)
       |SELECT sv.u AS user, CAST(sv.c AS DOUBLE) / CAST(sp.c AS DOUBLE) AS value
       |FROM sv JOIN sp ON sv.u = sp.u
       |WHERE CAST(sv.c AS DOUBLE) / CAST(sp.c AS DOUBLE) > 2""".stripMargin

  /** Parsed vector-vector `bool` comparison matched on the full series
    * key: per-user 1/0 score of "more views than purchases". Unmatched
    * users drop, per Prometheus binary-op matching.
    */
  def parsedVecCmp(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum by (user) (count_over_time(view[720h])) > bool " +
        "sum by (user) (count_over_time(purchase[720h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedVecCmpOracle: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(user_id AS VARCHAR) AS u
       |  FROM events
       |  WHERE CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${Te - 2592000 + 1} AND $Te
       |), sv AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'view' GROUP BY u),
       |   sp AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'purchase' GROUP BY u)
       |SELECT sv.u AS user,
       |       CASE WHEN sv.c > sp.c THEN 1.0 ELSE 0.0 END AS value
       |FROM sv JOIN sp ON sv.u = sp.u""".stripMargin

  /** Parsed `round(last_over_time(purchase[720h]) / 7)` — the round()
    * pointwise function through its deterministic path: IEEE division
    * then floor(x + 0.5), both exactly reproducible cross-engine.
    */
  def parsedRound(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "round(last_over_time(purchase[720h]) / 7)")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedRoundOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      "\nSELECT u AS user, k, floor(v / 7 + 0.5) * 1.0 AS value FROM (" +
      "SELECT u, k, (max(struct_pack(e := e, v := v))).v AS v " +
      "FROM s GROUP BY u, k) t"

  /** Parsed `quantile by (cluster_name) (0.5, ...)` — the quantile
    * AGGREGATION operator: φ-quantile across the series of each group
    * (quantile_over_time ranks samples within one series; this ranks
    * series within one group), same interpolation rank rule, same
    * deterministic lo + (hi−lo)·frac arithmetic.
    */
  def parsedAggQuantile(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "quantile by (cluster_name) (0.5, last_over_time(purchase[720h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(clusterLbl.as("cluster_name"), col("value"))
  }

  val parsedAggQuantileOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      s"""
         |, latest AS ($latestPairSql)
         |, o AS (
         |  SELECT cl, v,
         |         row_number() OVER (PARTITION BY cl ORDER BY v) - 1 AS rn,
         |         0.5 * CAST(count(*) OVER (PARTITION BY cl) - 1 AS DOUBLE) AS rank
         |  FROM latest
         |), p AS (
         |  SELECT cl,
         |         max(CASE WHEN rn = floor(rank) THEN v END) AS lo,
         |         max(CASE WHEN rn = ceil(rank) THEN v END) AS hi,
         |         any_value(rank - floor(rank)) AS frac
         |  FROM o WHERE rn = floor(rank) OR rn = ceil(rank)
         |  GROUP BY cl
         |)
         |SELECT cl AS cluster_name, lo + (hi - lo) * frac AS value FROM p""".stripMargin

  /** Parsed `count_values("cnt", sum by (user) (count_over_time(...)))`:
    * how many users share each total-purchase count. The inner counts
    * are integers, so the value-to-label formatting hits the
    * deterministic no-decimal-point path in both engines.
    */
  def parsedCountValues(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      """count_values("cnt", sum by (user) (count_over_time(purchase[720h])))""")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(PromOps.labelsOf(col("skey")).getItem("cnt").as("cnt"),
        col("value"))
  }

  val parsedCountValuesOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      "\nSELECT CAST(c AS VARCHAR) AS cnt, CAST(count(*) AS DOUBLE) AS value " +
      "FROM (SELECT u, count(*) AS c FROM s GROUP BY u) t GROUP BY c"

  /** Parsed `group by (k) (...)` — the group aggregator: 1.0 per group
    * key, the standard "which label values exist" probe.
    */
  def parsedGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "group by (k) (last_over_time(purchase[720h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(kLbl.as("k"), col("value"))
  }

  val parsedGroupOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      "\nSELECT DISTINCT k, 1.0 AS value FROM s"

  /** Parsed `... / scalar(sum(...))` — the share-of-total normalization
    * idiom: each user's purchase-count share of the global count. The
    * scalar side is one row by construction and broadcasts over the
    * vector; integer counts make the single division IEEE-deterministic.
    */
  def parsedScalar(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum by (user) (count_over_time(purchase[720h])) / " +
        "scalar(sum(count_over_time(purchase[720h])))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedScalarOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |, per AS (SELECT u, count(*) AS c FROM s GROUP BY u)
        |SELECT u AS user,
        |       CAST(c AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM s)
        |         AS value
        |FROM per""".stripMargin

  /** Parsed global `topk(5, ...)` — compiles to orderBy+limit, which
    * Spark plans as TakeOrderedAndProject (per-partition heap, k-row
    * merge — never a full sort). Tie-break on the canonical series key;
    * for a {user}-only key that ordering coincides with ordering by the
    * user label (the JSON prefix is constant and `"` sorts below every
    * alphanumeric), which is what the oracle uses.
    */
  def parsedTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "topk(5, sum by (user) (count_over_time(error[720h])))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedTopkOracle: String =
    sampleCte("error", Te - 2592000 + 1, Te) +
      """
        |, c AS (SELECT u, CAST(count(*) AS DOUBLE) AS value FROM s GROUP BY u)
        |SELECT u AS user, value FROM c ORDER BY value DESC, u LIMIT 5""".stripMargin

  /** Parsed `bottomk(3, ...)` — the ascending twin. */
  def parsedBottomk(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "bottomk(3, sum by (user) (count_over_time(click[720h])))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedBottomkOracle: String =
    sampleCte("click", Te - 2592000 + 1, Te) +
      """
        |, c AS (SELECT u, CAST(count(*) AS DOUBLE) AS value FROM s GROUP BY u)
        |SELECT u AS user, value FROM c ORDER BY value ASC, u LIMIT 3""".stripMargin

  /** Parsed grouped `topk by (cluster_name) (2, ...)` — per-group series
    * selection via a row_number window on the group key (one shuffle).
    * The oracle reconstructs the engine's canonical JSON series key
    * byte-for-byte for the tie-break (keys sort cluster_name < k < user;
    * to_json emits no whitespace).
    */
  def parsedTopkBy(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "topk by (cluster_name) (2, count_over_time(view[720h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"),
        clusterLbl.as("cluster_name"), col("value"))
  }

  val parsedTopkByOracle: String =
    sampleCte("view", Te - 2592000 + 1, Te) +
      """
        |, c AS (
        |  SELECT u, k, cl, CAST(count(*) AS DOUBLE) AS value
        |  FROM s GROUP BY u, k, cl
        |), r AS (
        |  SELECT u, k, cl, value,
        |         row_number() OVER (PARTITION BY cl ORDER BY value DESC,
        |           '{"cluster_name":"' || cl || '","k":"' || k || '","user":"' || u || '"}'
        |         ) AS rn
        |  FROM c
        |)
        |SELECT u AS user, k, cl AS cluster_name, value FROM r WHERE rn <= 2""".stripMargin

  /** Parsed `limitk by (cluster_name) (2, ...)` — Prometheus's
    * experimental sampling aggregator, deterministic here: the 2
    * lexicographically-smallest canonical series keys per group survive
    * (stated deviation; Prometheus keeps an arbitrary 2). The oracle
    * rebuilds the canonical JSON key byte-for-byte, as the topk_by
    * oracle does.
    */
  def parsedLimitk(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "limitk by (cluster_name) (2, count_over_time(view[720h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"),
        clusterLbl.as("cluster_name"), col("value"))
  }

  val parsedLimitkOracle: String =
    sampleCte("view", Te - 2592000 + 1, Te) +
      """
        |, c AS (
        |  SELECT u, k, cl, CAST(count(*) AS DOUBLE) AS value
        |  FROM s GROUP BY u, k, cl
        |), r AS (
        |  SELECT u, k, cl, value,
        |         row_number() OVER (PARTITION BY cl ORDER BY
        |           '{"cluster_name":"' || cl || '","k":"' || k || '","user":"' || u || '"}'
        |         ) AS rn
        |  FROM c
        |)
        |SELECT u AS user, k, cl AS cluster_name, value FROM r WHERE rn <= 2""".stripMargin

  /** Parsed `limit_ratio(0.5, ...)` — deterministic ratio sampling on
    * the 60-bit-md5 unit-interval hash of the canonical series key: a
    * pure filter (no shuffle), the same series surviving on every
    * engine and every evaluation; negative r keeps the exact
    * complement (spec-tested union property).
    */
  def parsedLimitRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "limit_ratio(0.5, count_over_time(error[720h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"),
        clusterLbl.as("cluster_name"), col("value"))
  }

  val parsedLimitRatioOracle: String =
    sampleCte("error", Te - 2592000 + 1, Te) +
      """
        |, c AS (
        |  SELECT u, k, cl, CAST(count(*) AS DOUBLE) AS value
        |  FROM s GROUP BY u, k, cl
        |)
        |SELECT u AS user, k, cl AS cluster_name, value FROM c
        |WHERE CAST(('0x' || substr(md5(
        |        '{"cluster_name":"' || cl || '","k":"' || k || '","user":"' || u || '"}'
        |      ), 1, 15)) AS BIGINT) / CAST(1152921504606846976 AS DOUBLE) < 0.5""".stripMargin

  /** Parsed `quantile_over_time(0.9, purchase[720h])` — per-series
    * φ-quantile with Prometheus's linear interpolation. The engine and
    * the oracle both compute rank = q·(n−1) with explicit floor/ceil
    * row-number arithmetic and interpolate as lo + (hi−lo)·frac with
    * identical operation order, so the doubles are bit-identical — the
    * reason PromOps.quantileOverTime avoids built-in percentile
    * functions, whose interpolation op order differs per engine.
    */
  def parsedQuantile(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "quantile_over_time(0.9, purchase[720h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedQuantileOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |, o AS (
        |  SELECT u, k, v,
        |         row_number() OVER (PARTITION BY u, k ORDER BY v) - 1 AS rn,
        |         0.9 * CAST(count(*) OVER (PARTITION BY u, k) - 1 AS DOUBLE) AS rank
        |  FROM s
        |), p AS (
        |  SELECT u, k,
        |         max(CASE WHEN rn = floor(rank) THEN v END) AS lo,
        |         max(CASE WHEN rn = ceil(rank) THEN v END) AS hi,
        |         any_value(rank - floor(rank)) AS frac
        |  FROM o WHERE rn = floor(rank) OR rn = ceil(rank)
        |  GROUP BY u, k
        |)
        |SELECT u AS user, k, lo + (hi - lo) * frac AS value FROM p""".stripMargin

  /** Parsed `mad_over_time(purchase[720h])` — median absolute deviation
    * around the median, both medians via the explicit rank-interpolation
    * (bit-exact; the oracle repeats the identical two passes). The
    * deviation pass joins the per-series median back on the series key —
    * same shuffle key as the rank windows, no extra distribution.
    */
  def parsedMad(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "mad_over_time(purchase[720h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedMadOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |, o AS (
        |  SELECT u, k, v,
        |         row_number() OVER (PARTITION BY u, k ORDER BY v) - 1 AS rn,
        |         0.5 * CAST(count(*) OVER (PARTITION BY u, k) - 1 AS DOUBLE) AS rank
        |  FROM s
        |), p AS (
        |  SELECT u, k,
        |         max(CASE WHEN rn = floor(rank) THEN v END) AS lo,
        |         max(CASE WHEN rn = ceil(rank) THEN v END) AS hi,
        |         any_value(rank - floor(rank)) AS frac
        |  FROM o WHERE rn = floor(rank) OR rn = ceil(rank)
        |  GROUP BY u, k
        |), med AS (
        |  SELECT u, k, lo + (hi - lo) * frac AS med FROM p
        |), d AS (
        |  SELECT s.u, s.k, abs(s.v - med.med) AS v
        |  FROM s JOIN med USING (u, k)
        |), o2 AS (
        |  SELECT u, k, v,
        |         row_number() OVER (PARTITION BY u, k ORDER BY v) - 1 AS rn,
        |         0.5 * CAST(count(*) OVER (PARTITION BY u, k) - 1 AS DOUBLE) AS rank
        |  FROM d
        |), p2 AS (
        |  SELECT u, k,
        |         max(CASE WHEN rn = floor(rank) THEN v END) AS lo,
        |         max(CASE WHEN rn = ceil(rank) THEN v END) AS hi,
        |         any_value(rank - floor(rank)) AS frac
        |  FROM o2 WHERE rn = floor(rank) OR rn = ceil(rank)
        |  GROUP BY u, k
        |)
        |SELECT u AS user, k, lo + (hi - lo) * frac AS value FROM p2""".stripMargin

  /** Parsed `histogram_quantile(0.9, purchase_bucket)` END-TO-END: the
    * query builds a classic cumulative le-labeled bucket vector from the
    * purchase samples (explode each sample into every bucket it falls
    * under — one pass, no per-bound scan), stamps it as an instant
    * vector at Te, and hands it to the parsed expression. The oracle
    * replicates the bucket counts with count FILTER and the exact
    * interpolation arithmetic `lo_le + (le−lo_le)·(rank−lo_cum)/
    * (cum−lo_cum)` in the same operation order.
    */
  def parsedHistQuantile(spark: SparkSession, sfDir: String): DataFrame = {
    val bounds = Seq(5.0, 10.0, 20.0, 50.0)
    val bArr = array(bounds.map(b =>
      struct(lit(b.toString).as("les"), lit(b).as("led"))) :+
      struct(lit("+Inf").as("les"), lit(Double.PositiveInfinity).as("led")): _*)
    val s = graft.promql.PromOps.rangeSelector(
      metrics(spark, sfDir), "purchase", Te, 2592000L)
    // DENSE bucket vector: every bound is exploded per sample with a hit
    // flag, so zero-count buckets exist too — the classic-histogram
    // contract (an instrument exports all cumulative buckets). A sparse
    // construction would silently re-anchor interpolation at 0 for any
    // series whose low buckets are empty (caught at sf0.1: two users with
    // all samples in one bucket got 45.0 vs the correct 47.0).
    val buckets = s
      .select(user.as("u"), col("value"))
      .select(col("u"), col("value"), explode(bArr).as("b"))
      .groupBy(col("u"), col("b.les").as("le"))
      .agg(sum(when(col("value") <= col("b.led"), 1).otherwise(0))
        .cast("double").as("value"))
      .select(lit("purchase_bucket").as("metric_name"),
        map(lit("user"), col("u"), lit("le"), col("le")).as("labels"),
        col("value"), timestamp_seconds(lit(Te)).as("timestamp"))
    val expr = graft.promql.PromParser.parse(
      "histogram_quantile(0.9, purchase_bucket)")
    graft.promql.PromEval.evalInstant(buckets, expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedHistQuantileOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |, c AS (
        |  SELECT u,
        |         CAST(count(*) FILTER (v <= 5.0) AS DOUBLE) AS c5,
        |         CAST(count(*) FILTER (v <= 10.0) AS DOUBLE) AS c10,
        |         CAST(count(*) FILTER (v <= 20.0) AS DOUBLE) AS c20,
        |         CAST(count(*) FILTER (v <= 50.0) AS DOUBLE) AS c50,
        |         CAST(count(v) AS DOUBLE) AS cinf -- count(v): a NULL-valued
        |         -- sample falls in no bucket on the engine side (the explode
        |         -- predicate is null), so the +Inf total must skip it too
        |  FROM s GROUP BY u
        |), r AS (SELECT *, 0.9 * cinf AS rank FROM c)
        |SELECT u AS user,
        |       CASE
        |         WHEN c5 >= rank THEN 0.0 + (5.0 - 0.0) * (rank - 0.0) / (c5 - 0.0)
        |         WHEN c10 >= rank THEN 5.0 + (10.0 - 5.0) * (rank - c5) / (c10 - c5)
        |         WHEN c20 >= rank THEN 10.0 + (20.0 - 10.0) * (rank - c10) / (c20 - c10)
        |         WHEN c50 >= rank THEN 20.0 + (50.0 - 20.0) * (rank - c20) / (c50 - c20)
        |         ELSE 50.0
        |       END AS value
        |FROM r""".stripMargin

  /** Parsed `histogram_fraction(7.5, 30, purchase_bucket)` over the
    * same dense classic bucket vector as [[parsedHistQuantile]] — the
    * estimated fraction of purchases in (7.5, 30]. Both bounds fall
    * strictly INSIDE buckets ((5,10] and (20,50]), so the linear
    * interpolation arithmetic is exercised on both ends; the oracle
    * replays `prev_cum + (x − prev_le)·(cum − prev_cum)/(le − prev_le)`
    * in the same operation order, then the single trailing division by
    * the +Inf total.
    */
  def parsedHistFraction(spark: SparkSession, sfDir: String): DataFrame = {
    val bounds = Seq(5.0, 10.0, 20.0, 50.0)
    val bArr = array(bounds.map(b =>
      struct(lit(b.toString).as("les"), lit(b).as("led"))) :+
      struct(lit("+Inf").as("les"), lit(Double.PositiveInfinity).as("led")): _*)
    val s = graft.promql.PromOps.rangeSelector(
      metrics(spark, sfDir), "purchase", Te, 2592000L)
    val buckets = s
      .select(user.as("u"), col("value"))
      .select(col("u"), col("value"), explode(bArr).as("b"))
      .groupBy(col("u"), col("b.les").as("le"))
      .agg(sum(when(col("value") <= col("b.led"), 1).otherwise(0))
        .cast("double").as("value"))
      .select(lit("purchase_bucket").as("metric_name"),
        map(lit("user"), col("u"), lit("le"), col("le")).as("labels"),
        col("value"), timestamp_seconds(lit(Te)).as("timestamp"))
    val expr = graft.promql.PromParser.parse(
      "histogram_fraction(7.5, 30, purchase_bucket)")
    graft.promql.PromEval.evalInstant(buckets, expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedHistFractionOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |, c AS (
        |  SELECT u,
        |         CAST(count(*) FILTER (v <= 5.0) AS DOUBLE) AS c5,
        |         CAST(count(*) FILTER (v <= 10.0) AS DOUBLE) AS c10,
        |         CAST(count(*) FILTER (v <= 20.0) AS DOUBLE) AS c20,
        |         CAST(count(*) FILTER (v <= 50.0) AS DOUBLE) AS c50,
        |         CAST(count(v) AS DOUBLE) AS cinf
        |  FROM s GROUP BY u
        |)
        |SELECT u AS user,
        |       ((c20 + (30.0 - 20.0) * (c50 - c20) / (50.0 - 20.0))
        |        - (c5 + (7.5 - 5.0) * (c10 - c5) / (10.0 - 5.0))) / cinf AS value
        |FROM c""".stripMargin

  /** Parsed `clamp(ceil(max_over_time(purchase[720h])), 5, 40)` — the
    * pointwise-math family end-to-end. Only EXACT functions appear in
    * oracle-checked entries (ceil/abs/clamp are integer-exact on these
    * values); sqrt/exp/ln are spec-tested instead because libm results
    * may differ across engines in the last ulp.
    */
  def parsedMathFn(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "clamp(ceil(max_over_time(purchase[720h])), 5, 40)")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedMathFnOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |SELECT u AS user, k,
        |       least(greatest(CAST(ceil(max(v)) AS DOUBLE), 5.0), 40.0) AS value
        |FROM s GROUP BY u, k""".stripMargin

  /** Parsed `delta(view[720h])` — the gauge twin of increase: last
    * observed − first observed per series, no counter-reset logic and
    * no zero-crossing cap, extrapolated to the window bounds exactly
    * like rate/increase (Prometheus semantics, round 16). The exact
    * ingredients ride the shared DECIMAL(20,6) routing; the factor is
    * the mirrored double chain.
    */
  def parsedDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse("delta(view[720h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedDeltaOracle: String =
    sampleCte("view", Te - 2592000 + 1, Te) +
      """
        |, d AS (
        |  SELECT u, k, e, CAST(v AS DECIMAL(20,6)) AS vd FROM s
        |)""".stripMargin +
      extrapTailSql(Seq("u", "k"), s"${Te - 2592000}", s"$Te",
        2592000L, "delta", "u AS user, k")

  /** Two-metric CTE for the set-op oracles: left = per-(u,k) max of
    * purchase, right = the (u,k) series that have error samples. The
    * engine matches on the full series key {user,k,cluster_name}, but
    * cluster_name is a pure function of user in the fixture, so (u,k)
    * matching is equivalent.
    */
  private val setOpCte: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(user_id AS VARCHAR) AS u,
       |         json_extract_string(props, '$$.k') AS k, value AS v
       |  FROM events
       |  WHERE CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${Te - 2592000 + 1} AND $Te
       |), l AS (
       |  SELECT u, k, max(v) AS value FROM ev
       |  WHERE event_type = 'purchase' GROUP BY u, k
       |), r AS (
       |  SELECT u, k, max(v) AS value FROM ev
       |  WHERE event_type = 'error' GROUP BY u, k
       |)""".stripMargin

  private def parsedSetOp(op: String)(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      s"max_over_time(purchase[720h]) $op max_over_time(error[720h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedAndOracle: String = setOpCte +
    """
      |SELECT l.u AS user, l.k AS k, l.value AS value
      |FROM l JOIN r ON l.u = r.u AND l.k = r.k""".stripMargin

  val parsedUnlessOracle: String = setOpCte +
    """
      |SELECT l.u AS user, l.k AS k, l.value AS value
      |FROM l ANTI JOIN r ON l.u = r.u AND l.k = r.k""".stripMargin

  val parsedOrOracle: String = setOpCte +
    """
      |SELECT l.u AS user, l.k AS k, l.value AS value FROM l
      |UNION ALL
      |SELECT r.u AS user, r.k AS k, r.value AS value
      |FROM r ANTI JOIN l ON r.u = l.u AND r.k = l.k""".stripMargin

  /** Parsed `irate(purchase[720h])` — the instant-rate family: only the
    * last two samples per series matter (counter-reset aware, divided by
    * their gap). idelta shares the code path and is spec-covered.
    */
  def parsedIrate(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse("irate(purchase[720h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedIrateOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |, d AS (
        |  SELECT u, k, e, max(CAST(v AS DECIMAL(20,6))) AS vd
        |  FROM s GROUP BY u, k, e
        |), o AS (
        |  SELECT u, k, e, vd,
        |         row_number() OVER (PARTITION BY u, k ORDER BY e DESC) AS rn
        |  FROM d
        |), p AS (
        |  SELECT u, k,
        |         max(CASE WHEN rn = 1 THEN struct_pack(e := e, vd := vd) END) AS lastS,
        |         max(CASE WHEN rn = 2 THEN struct_pack(e := e, vd := vd) END) AS prevS
        |  FROM o WHERE rn <= 2 GROUP BY u, k
        |)
        |SELECT u AS user, k,
        |       CAST(CASE WHEN lastS.vd >= prevS.vd THEN lastS.vd - prevS.vd
        |                 ELSE lastS.vd END AS DOUBLE) / (lastS.e - prevS.e) AS value
        |FROM p WHERE prevS IS NOT NULL""".stripMargin

  /** Parsed `deriv(view[720h])` — per-series least-squares slope. The
    * regression sums are exact decimals over window-start-centered times
    * in BOTH engines; only the final division is a double, in mirrored
    * operation order (see [[graft.promql.PromOps.derivFromSamples]]).
    */
  def parsedDeriv(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse("deriv(view[720h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  private def derivCte(metric: String): String = {
    val x0 = Te - 2592000
    sampleCte(metric, Te - 2592000 + 1, Te) +
      s"""
         |, a AS (
         |  SELECT u, k, count(*) AS n,
         |         CAST(sum(e - $x0) AS DECIMAL(38,0)) AS sx,
         |         CAST(sum((e - $x0) * (e - $x0)) AS DECIMAL(38,0)) AS sxx,
         |         sum(CAST(v AS DECIMAL(20,6))) AS sv,
         |         sum(CAST(v AS DECIMAL(20,6)) * (e - $x0)) AS sxv
         |  FROM s GROUP BY u, k
         |), sl AS (
         |  SELECT u, k, n, sx, sv,
         |         CAST(n * sxv - sx * sv AS DOUBLE)
         |           / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
         |  FROM a WHERE n * sxx - sx * sx > 0
         |)""".stripMargin
  }

  val parsedDerivOracle: String = derivCte("view") +
    "\nSELECT u AS user, k, slope AS value FROM sl"

  /** Parsed `predict_linear(signup[720h], 3600)` — the slope extrapolated
    * one hour past the evaluation time via the same mirrored double
    * affine step (intercept at window start + slope·(w + horizon)).
    */
  def parsedPredict(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "predict_linear(signup[720h], 3600)")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedPredictOracle: String = derivCte("signup") +
    """
      |SELECT u AS user, k,
      |       (CAST(sv AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n
      |         + slope * 2595600.0 AS value
      |FROM sl""".stripMargin

  /** Parsed `resets(purchase[720h])` + `changes(error[720h])` — exact
    * integer counts of counter resets / value changes between
    * time-adjacent samples, per series.
    */
  private def parsedResets(kind: String, metric: String)(
      spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(s"$kind($metric[720h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  private def resetsOracle(metric: String, cmp: String): String =
    sampleCte(metric, Te - 2592000 + 1, Te) +
      s"""
         |, o AS (
         |  SELECT u, k, CAST(v AS DECIMAL(20,6)) AS vd,
         |         lag(CAST(v AS DECIMAL(20,6))) OVER (PARTITION BY u, k
         |             ORDER BY e, CAST(v AS DECIMAL(20,6))) AS prev
         |  FROM s
         |)
         |SELECT u AS user, k,
         |       CAST(sum(CASE WHEN prev IS NOT NULL AND vd $cmp prev
         |                     THEN 1 ELSE 0 END) AS DOUBLE) AS value
         |FROM o GROUP BY u, k""".stripMargin

  /** Parsed `stddev by (user) (last_over_time(purchase[720h]))` — the
    * spread of a user's per-(k) latest values. Population variance over
    * 1e-6-quantized fixed-point values with scale-0 decimal sums; the
    * final doubles (division chain + IEEE-exact sqrt) are mirrored in
    * the oracle, so the comparison is bit-exact.
    */
  def parsedStddev(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "stddev by (user) (last_over_time(purchase[720h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedStddevOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |, latest AS (
        |  SELECT u, k, cl, (max(struct_pack(e := e, v := v))).v AS v
        |  FROM s GROUP BY u, k, cl
        |), qz AS (
        |  SELECT u, CAST(floor(v * 1e6 + 0.5) AS DECIMAL(38,0)) AS q
        |  FROM latest
        |)
        |SELECT u AS user,
        |       sqrt(CAST(count(*) * sum(q * q) - sum(q) * sum(q) AS DOUBLE)
        |            / CAST(count(*) * count(*) AS DOUBLE) / 1e12) AS value
        |FROM qz GROUP BY u""".stripMargin

  /** Parsed many-to-one matching — THE normalization idiom: each
    * (user,k,cluster) series' sample count as a share of its user's
    * total, via `/ on(user) group_left` against the by(user) aggregate.
    * The many side keeps its full label set; counts are exact and the
    * single division is deterministic.
    */
  def parsedGroupLeft(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "count_over_time(purchase[720h]) / on(user) group_left " +
        "sum by (user) (count_over_time(purchase[720h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedGroupLeftOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |, c AS (SELECT u, k, CAST(count(*) AS DOUBLE) AS cnt
        |        FROM s GROUP BY u, k),
        |  t AS (SELECT u, CAST(count(*) AS DOUBLE) AS tot FROM s GROUP BY u)
        |SELECT c.u AS user, c.k AS k, cnt / tot AS value
        |FROM c JOIN t ON c.u = t.u""".stripMargin

  /** Parsed vector-vector comparison with `on(user)` matching — the
    * cross-metric alert idiom (`errors / on(instance) total > 0.01`
    * family): per-(user, cluster) view counts thresholded against the
    * per-user purchase total, matched on the user label alone. The
    * filter form keeps the LEFT series with its full label set and
    * value; counts are integer-exact in both engines.
    */
  def parsedVecCmpOn(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum by (user, cluster_name) (count_over_time(view[720h])) > on(user) " +
        "sum by (user) (count_over_time(purchase[720h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), clusterLbl.as("cluster_name"), col("value"))
  }

  val parsedVecCmpOnOracle: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(user_id AS VARCHAR) AS u,
       |         'c' || (user_id % 5) || '-r' || (user_id % 3) || '-z0' AS cl
       |  FROM events
       |  WHERE CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${Te - 2592000 + 1} AND $Te
       |), sv AS (SELECT u, cl, count(*) AS c FROM ev
       |          WHERE event_type = 'view' GROUP BY u, cl),
       |   sp AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'purchase' GROUP BY u)
       |SELECT sv.u AS user, sv.cl AS cluster_name,
       |       CAST(sv.c AS DOUBLE) AS value
       |FROM sv JOIN sp ON sv.u = sp.u WHERE sv.c > sp.c""".stripMargin

  /** Parsed `group_left(cluster_name)` label-copy — the metadata-join
    * idiom (`* on(instance) group_left(version) build_info`): per-(user,
    * k) purchase counts annotated with the user's cluster_name copied
    * from the one side, values multiplied by the user's max latest
    * purchase value. The copy rides the one-row-per-key aggregate; the
    * single count × max multiply is IEEE-deterministic.
    */
  def parsedGroupLeftLabel(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum by (user, k) (count_over_time(purchase[720h])) * on(user) " +
        "group_left(cluster_name) " +
        "max by (user, cluster_name) (last_over_time(purchase[720h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"),
        clusterLbl.as("cluster_name"), col("value"))
  }

  val parsedGroupLeftLabelOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |, c AS (SELECT u, k, CAST(count(*) AS DOUBLE) AS cnt
        |        FROM s GROUP BY u, k),
        |  latest AS (SELECT u, k, cl,
        |             (max(struct_pack(e := e, v := v))).v AS v
        |             FROM s GROUP BY u, k, cl),
        |  m AS (SELECT u, cl, max(v) AS mx FROM latest GROUP BY u, cl)
        |SELECT c.u AS user, c.k AS k, m.cl AS cluster_name,
        |       c.cnt * m.mx AS value
        |FROM c JOIN m ON c.u = m.u""".stripMargin

  /** Parsed `sort_desc(...)` — presentation-order only in Prometheus;
    * this engine's results are unordered relations, so sort evaluates as
    * identity on the value SET (stated deviation; ordering semantics are
    * pinned by a spec, the driver's hash gate is order-blind anyway).
    */
  def parsedSort(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sort_desc(sum by (user) (count_over_time(purchase[720h])))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedSortOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      "\nSELECT u AS user, CAST(count(*) AS DOUBLE) AS value FROM s GROUP BY u"

  /** Parsed subquery with a NON-DIVISOR step — `[720h:7h]`, where
    * 720h % 7h ≠ 0: pins Prometheus's absolute step-alignment rule
    * cross-engine (grid points are the multiples of 7h inside
    * (Te−720h, Te], NOT offsets from the window start — with a
    * non-divisor window the first grid point is NOT Te−720h-aligned).
    * The inner count_over_time(view[7h]) buckets samples by aligned 7h
    * windows (window == step, so each sample lands on exactly one grid
    * point); the outer max_over_time takes each series' busiest bucket.
    * Counts are integer-exact in both engines.
    */
  def parsedSubqueryStep(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "max_over_time(count_over_time(view[7h])[720h:7h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedSubqueryStepOracle: String = {
    val step = 25200L
    val g1 = (Te / step) * step
    val g0 = ((Te - 2592000L) / step + 1) * step
    sampleCte("view", g0 - step + 1, g1) +
      s"""
         |, b AS (
         |  SELECT u, k, ((e + ${step - 1}) // $step) * $step AS gb,
         |         count(*) AS c
         |  FROM s
         |  WHERE ((e + ${step - 1}) // $step) * $step BETWEEN $g0 AND $g1
         |  GROUP BY u, k, gb
         |)
         |SELECT u AS user, k, CAST(max(c) AS DOUBLE) AS value
         |FROM b GROUP BY u, k""".stripMargin
  }

  /** Modifiers on the SUBQUERY itself (`(expr)[w:s] offset d` /
    * `(expr)[w:s] @ ts`) — the Prometheus forms that rebase the whole
    * subquery's evaluation instant, parsed into the [[graft.promql
    * .PromParser.TimeShift]] wrapper. Both shapes in one gate over the
    * [[parsedSubqueryStep]] base expression: the `offset 7h` form (one
    * step back) and the `@`-pinned form (seven days back), each
    * equivalent to evaluating the unmodified subquery at the rebased
    * instant — which is exactly what the oracle replays.
    */
  def parsedSubqueryMods(spark: SparkSession, sfDir: String): DataFrame = {
    val m = metrics(spark, sfDir)
    val exprOff = graft.promql.PromParser.parse(
      "max_over_time(count_over_time(view[7h])[720h:7h] offset 7h)")
    val exprAt = graft.promql.PromParser.parse(
      s"max_over_time(count_over_time(view[7h])[720h:7h] @ ${Te - 604800})")
    graft.promql.PromEval.evalInstant(m, exprOff, Te)
      .select(lit("offset").as("form"), user.as("user"), kLbl.as("k"),
        col("value"))
      .unionByName(graft.promql.PromEval.evalInstant(m, exprAt, Te)
        .select(lit("at").as("form"), user.as("user"), kLbl.as("k"),
          col("value")))
  }

  val parsedSubqueryModsOracle: String = {
    val step = 25200L
    def bounds(t: Long): (Long, Long) =
      (((t - 2592000L) / step + 1) * step, (t / step) * step)
    val (g0Off, g1Off) = bounds(Te - 25200L)
    val (g0At, g1At) = bounds(Te - 604800L)
    sampleCte("view", g0At - step + 1, g1Off) +
      s"""
         |, b AS (
         |  SELECT u, k, ((e + ${step - 1}) // $step) * $step AS gb,
         |         count(*) AS c
         |  FROM s GROUP BY u, k, gb
         |)
         |SELECT 'offset' AS form, u AS user, k, CAST(max(c) AS DOUBLE) AS value
         |FROM b WHERE gb BETWEEN $g0Off AND $g1Off GROUP BY u, k
         |UNION ALL
         |SELECT 'at' AS form, u AS user, k, CAST(max(c) AS DOUBLE) AS value
         |FROM b WHERE gb BETWEEN $g0At AND $g1At GROUP BY u, k""".stripMargin
  }

  /** Parsed `max by (uk) (label_join(last_over_time(purchase[720h]),
    * "uk", "|", "user", "k"))` — label manipulation end-to-end: the
    * synthesized uk label becomes the grouping key. Pure string
    * concatenation, so exactly oracle-able (label_replace, whose regex
    * dialect is engine-specific, is spec-tested instead).
    */
  def parsedLabelJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "max by (uk) (label_join(last_over_time(purchase[720h]), " +
        "\"uk\", \"|\", \"user\", \"k\"))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(graft.promql.PromOps.labelsOf(col("skey")).getItem("uk").as("uk"),
        col("value"))
  }

  val parsedLabelJoinOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      s"""
         |, latest AS ($latestPairSql)
         |SELECT u || '|' || k AS uk, max(v) AS value
         |FROM latest GROUP BY 1""".stripMargin

  /** Parsed `last_over_time(purchase[48h] @ <ts>)` — the `@` modifier
    * pins the selector to an absolute instant (three days before Te
    * here), making the result independent of the query's own evaluation
    * time; dashboards use it to mix "now" panels with fixed-reference
    * panels in one expression.
    */
  def parsedAt(spark: SparkSession, sfDir: String): DataFrame = {
    val pin = Te - 3 * 86400
    val expr = graft.promql.PromParser.parse(
      s"last_over_time(purchase[48h] @ $pin)")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedAtOracle: String =
    sampleCte("purchase", Te - 3 * 86400 - 172800 + 1, Te - 3 * 86400) +
      "\nSELECT u AS user, k, (max(struct_pack(e := e, v := v))).v AS value " +
      "FROM s GROUP BY u, k"

  /** `@ start()` / `@ end()` — the preprocessor edge-pin forms, both
    * query shapes in one gate:
    *
    *  - GRID form: `last_over_time(purchase[48h] @ start())` range-
    *    evaluated on the 5-minute grid — every grid point carries the
    *    value pinned at the range START (the "compare now against the
    *    window's opening value" dashboard idiom); rows tagged g.
    *  - INSTANT form: the same selector `@ end()` at Te — for an
    *    instant query start() = end() = the eval time, so the pin
    *    equals plain evaluation; rows tagged g = -1.
    *
    * Resolution is [[graft.promql.PromEval.resolveAtEdges]] — the edges
    * become literal `@` timestamps BEFORE evaluation, so the grid form
    * reuses the pinnedGrid replicate path unchanged.
    */
  def parsedAtEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val m = metrics(spark, sfDir)
    val gridExpr = graft.promql.PromParser.parse(
      "last_over_time(purchase[48h] @ start())")
    val grid = graft.promql.PromEval.evalGrid(m, gridExpr, Gm0, Gm1,
      stepSec = 300, lookbackSec = PromOps.DefaultLookbackSec)
      .select(user.as("user"), kLbl.as("k"), col("g"), col("value"))
    val instExpr = graft.promql.PromParser.parse(
      "last_over_time(purchase[48h] @ end())")
    val inst = graft.promql.PromEval.evalInstant(m, instExpr, Te)
      .select(user.as("user"), kLbl.as("k"), lit(-1L).as("g"), col("value"))
    grid.unionByName(inst)
  }

  val parsedAtEdgesOracle: String =
    sampleCte("purchase", Gm0 - 172800 + 1, Te) +
      s"""
         |, pinned AS (
         |  SELECT u, k, (max(struct_pack(e := e, v := v))).v AS v
         |  FROM s WHERE e <= $Gm0 GROUP BY u, k
         |), grid AS (
         |  SELECT u, k, g, v FROM pinned,
         |       unnest(generate_series($Gm0, $Gm1, 300)) AS t(g)
         |), inst AS (
         |  SELECT u, k, CAST(-1 AS BIGINT) AS g,
         |         (max(struct_pack(e := e, v := v))).v AS v
         |  FROM s WHERE e > ${Te - 172800} GROUP BY u, k
         |)
         |SELECT u AS user, k, g, v AS value FROM grid
         |UNION ALL
         |SELECT u AS user, k, g, v AS value FROM inst""".stripMargin

  /** Parsed `last_over_time(purchase[720h]) > 50` — the filtering
    * comparison (no `bool`): only series whose value satisfies the
    * threshold survive, values unchanged. The alert-threshold idiom.
    */
  def parsedFilterCmp(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "last_over_time(purchase[720h]) > 50")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedFilterCmpOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      "\nSELECT u AS user, k, v AS value FROM (" +
      "SELECT u, k, (max(struct_pack(e := e, v := v))).v AS v " +
      "FROM s GROUP BY u, k) WHERE v > 50"

  /** Parsed `... >= 0.5 * scalar(max(...))` — vector-SCALAR comparison
    * with an arithmetic RHS: comparison binds looser than arithmetic, the
    * RHS is scalar-typed (literal × scalar()), and the filter keeps the
    * users at or above half the busiest user's count. Exercises the
    * literal-headed arithmetic chain and the broadcast scalar-compare
    * path (ADVICE r5 medium). Counts are integer-exact; 0.5·max is an
    * exact binary scaling, so the comparison is deterministic.
    */
  def parsedScalarCmp(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum by (user) (count_over_time(view[720h])) >= " +
        "0.5 * scalar(max(sum by (user) (count_over_time(view[720h]))))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedScalarCmpOracle: String =
    sampleCte("view", Te - 2592000 + 1, Te) +
      """
        |, c AS (SELECT u, CAST(count(*) AS DOUBLE) AS value FROM s GROUP BY u)
        |SELECT u AS user, value FROM c
        |WHERE value >= 0.5 * (SELECT max(value) FROM c)""".stripMargin

  /** Parsed `scalar(sum(...)) / 10 < bool ...` — the scalar operand on
    * the LEFT of a bool comparison: every user scored 1/0 against a
    * tenth of the global total. The single division is the same IEEE
    * operation in both engines, so the boundary is deterministic.
    */
  def parsedScalarCmpBool(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "scalar(sum(count_over_time(purchase[720h]))) / 10 < bool " +
        "sum by (user) (count_over_time(purchase[720h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedScalarCmpBoolOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |, per AS (SELECT u, count(*) AS c FROM s GROUP BY u)
        |SELECT u AS user,
        |       CASE WHEN (SELECT CAST(count(*) AS DOUBLE) FROM s) / 10
        |                 < CAST(c AS DOUBLE) THEN 1.0 ELSE 0.0 END AS value
        |FROM per""".stripMargin

  /** `... > scalar(avg(...))` on the step grid: per grid point, the
    * users with an above-average trailing-24h view count. The scalar
    * side is one row per point (dense over the grid), joined to the
    * vector side on the point alone — a broadcast, never a shuffle of
    * the vector side. The mean's single division is the same IEEE
    * operation over exact integer sums in both engines.
    */
  def rangeScalarCmp(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum by (user) (count_over_time(view[24h])) > " +
        "scalar(avg(sum by (user) (count_over_time(view[24h]))))")
    graft.promql.PromEval.evalGrid(metrics(spark, sfDir), expr, Gm0, Gm1,
      stepSec = 300, lookbackSec = PromOps.DefaultLookbackSec)
      .select(user.as("user"), col("g"), col("value"))
  }

  val rangeScalarCmpOracle: String =
    s"""WITH ev AS (
       |  SELECT CAST(user_id AS VARCHAR) AS u,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS e
       |  FROM events
       |  WHERE event_type = 'view'
       |    AND CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${Gm0 - 86400 + 1} AND $Gm1
       |), ex AS (
       |  SELECT u,
       |         unnest(generate_series(greatest($Gm0, ((e + 299) // 300) * 300),
       |                                least($Gm1, ((e + 86399) // 300) * 300), 300)) AS g
       |  FROM ev
       |), cnt AS (
       |  SELECT u, g, CAST(count(*) AS DOUBLE) AS c FROM ex GROUP BY u, g
       |), m AS (
       |  SELECT g, avg(c) AS a FROM cnt GROUP BY g
       |)
       |SELECT cnt.u AS user, cnt.g AS g, cnt.c AS value
       |FROM cnt JOIN m ON cnt.g = m.g
       |WHERE cnt.c > m.a""".stripMargin

  /** Parsed regex label matchers `{cluster_name=~"...", k!~"..."}` —
    * fully anchored, missing labels match as "" (Prometheus semantics).
    * The patterns stay inside the Java/RE2-common dialect (character
    * classes, alternation, `.*`) so both engines see identical matches —
    * the repo-wide regex rule stated on label_replace.
    */
  def parsedRegexMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      """last_over_time(purchase{cluster_name=~"c[12]-r[01]-z0", k!~"[0-9]"}[720h])""")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"),
        clusterLbl.as("cluster_name"), col("value"))
  }

  val parsedRegexMatchOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |, f AS (
        |  SELECT * FROM s
        |  WHERE regexp_matches(cl, '^(?:c[12]-r[01]-z0)$')
        |    AND NOT regexp_matches(coalesce(k, ''), '^(?:[0-9])$')
        |)
        |SELECT u AS user, k, cl AS cluster_name,
        |       (max(struct_pack(e := e, v := v))).v AS value
        |FROM f GROUP BY u, k, cl""".stripMargin

  /** Parsed `stdvar_over_time(purchase[720h])` — per-series population
    * variance over the window's samples, through the repo's exact
    * fixed-point route: values quantized to 1e-6, integer sums in
    * DECIMAL(38,0), one mirrored double expression at the end.
    */
  def parsedStdvarOt(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "stdvar_over_time(purchase[720h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedStdvarOtOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |, qz AS (
        |  SELECT u, k, CAST(floor(v * 1e6 + 0.5) AS DECIMAL(38,0)) AS q
        |  FROM s
        |)
        |SELECT u AS user, k,
        |       CAST(count(*) * sum(q * q) - sum(q) * sum(q) AS DOUBLE)
        |         / CAST(count(*) * count(*) AS DOUBLE) / 1e12 AS value
        |FROM qz GROUP BY u, k""".stripMargin

  /** Parsed `present_over_time(view[720h])` — 1.0 for every series with
    * at least one sample in the window; the series-existence probe.
    */
  def parsedPresentOt(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "present_over_time(view[720h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedPresentOtOracle: String =
    sampleCte("view", Te - 2592000 + 1, Te) +
      "\nSELECT DISTINCT u AS user, k, 1.0 AS value FROM s"

  /** Parsed `absent_over_time(purchase{cluster_name="c9-r9-z9"}[720h])` —
    * the "did it stop reporting" alert primitive, aimed at a cluster that
    * does not exist so the one-row absence path (not the empty result) is
    * what both engines must produce. The output labels derive from the
    * selector's equality matchers (Prometheus semantics — they are what
    * alert routing keys on), so the result carries
    * cluster_name="c9-r9-z9" and the gate checks it.
    */
  def parsedAbsentOt(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      """absent_over_time(purchase{cluster_name="c9-r9-z9"}[720h])""")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(clusterLbl.as("cluster_name"), col("value"))
  }

  val parsedAbsentOtOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      """
        |SELECT 'c9-r9-z9' AS cluster_name, 1.0 AS value
        |WHERE (SELECT count(*) FROM s WHERE cl = 'c9-r9-z9') = 0""".stripMargin

  /** Parsed `holt_winters(purchase[720h], 0.3, 0.5)` — double exponential
    * smoothing per series. The recursion is a total order over the
    * (e, value)-sorted window samples, so raw-double arithmetic IS
    * deterministic here: the oracle replays the identical fold as a
    * recursive CTE, same IEEE operations in the same sequence — no
    * fixed-point detour needed.
    */
  def parsedHoltWinters(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "holt_winters(purchase[720h], 0.3, 0.5)")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedHoltWintersOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te)
      .replaceFirst("WITH s AS", "WITH RECURSIVE s AS") +
      """
        |, arr AS (
        |  SELECT u, k, list(v ORDER BY e, v) AS vs, count(*) AS n
        |  FROM s GROUP BY u, k
        |), st AS (
        |  SELECT u, k, 1 AS i, 0.0::DOUBLE AS s0, vs[1] AS s1,
        |         NULL::DOUBLE AS b, vs, n
        |  FROM arr WHERE n >= 2
        |  UNION ALL
        |  SELECT u, k, i + 1,
        |         s1 AS s0,
        |         0.3 * vs[i + 1] + (1 - 0.3) * (s1 + b0) AS s1,
        |         b0 AS b, vs, n
        |  FROM (SELECT *, CASE WHEN b IS NULL THEN vs[i + 1] - s1
        |                       ELSE 0.5 * (s1 - s0) + (1 - 0.5) * b END AS b0
        |        FROM st)
        |  WHERE i < n
        |)
        |SELECT u AS user, k, s1 AS value FROM st WHERE i = n""".stripMargin

  /** Range-evaluated `holt_winters(purchase[168h], 0.3, 0.5)` on the
    * 5-minute grid — the smoothed dashboard panel through the parsed
    * range path (PromEval.evalGrid → PromOps.holtWintersFromSamples):
    * the windowGrid explode keyed by (series, point), then the
    * total-order fold per (series, point). The recursion is
    * IEEE-deterministic because the fold order is total; the oracle
    * replays it per (series, point) as a recursive CTE.
    */
  def rangeHoltWinters(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "holt_winters(purchase[168h], 0.3, 0.5)")
    graft.promql.PromEval.evalGrid(metrics(spark, sfDir), expr, Gm0, Gm1,
      stepSec = 300, lookbackSec = PromOps.DefaultLookbackSec)
      .select(user.as("user"), kLbl.as("k"), col("g"), col("value"))
  }

  val rangeHoltWintersOracle: String =
    sampleCte("purchase", Gm0 - 604800 + 1, Gm1)
      .replaceFirst("WITH s AS", "WITH RECURSIVE s AS") +
      s"""
         |, ex AS (
         |  SELECT u, k, e, v,
         |         unnest(generate_series(greatest($Gm0, ((e + 299) // 300) * 300),
         |                                least($Gm1, ((e + 604799) // 300) * 300), 300)) AS g
         |  FROM s
         |), arr AS (
         |  SELECT u, k, g, list(v ORDER BY e, v) AS vs, count(*) AS n
         |  FROM ex GROUP BY u, k, g
         |), st AS (
         |  SELECT u, k, g, 1 AS i, 0.0::DOUBLE AS s0, vs[1] AS s1,
         |         NULL::DOUBLE AS b, vs, n
         |  FROM arr WHERE n >= 2
         |  UNION ALL
         |  SELECT u, k, g, i + 1,
         |         s1 AS s0,
         |         0.3 * vs[i + 1] + (1 - 0.3) * (s1 + b0) AS s1,
         |         b0 AS b, vs, n
         |  FROM (SELECT *, CASE WHEN b IS NULL THEN vs[i + 1] - s1
         |                       ELSE 0.5 * (s1 - s0) + (1 - 0.5) * b END AS b0
         |        FROM st)
         |  WHERE i < n
         |)
         |SELECT u AS user, k, g, s1 AS value FROM st WHERE i = n""".stripMargin

  /** Range-evaluated `mad_over_time(purchase[24h])` on the 5-minute
    * grid — the same two exact rank-interpolation passes as the instant
    * form ([[parsedMad]]), with the grid point joining the series key in
    * every window partition and in the median join-back. The oracle
    * replays both passes per (series, point).
    */
  def rangeMad(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse("mad_over_time(purchase[24h])")
    graft.promql.PromEval.evalGrid(metrics(spark, sfDir), expr, Gm0, Gm1,
      stepSec = 300, lookbackSec = PromOps.DefaultLookbackSec)
      .select(user.as("user"), kLbl.as("k"), col("g"), col("value"))
  }

  val rangeMadOracle: String =
    sampleCte("purchase", Gm0 - 86400 + 1, Gm1) +
      s"""
         |, ex AS (
         |  SELECT u, k, v,
         |         unnest(generate_series(greatest($Gm0, ((e + 299) // 300) * 300),
         |                                least($Gm1, ((e + 86399) // 300) * 300), 300)) AS g
         |  FROM s
         |), o AS (
         |  SELECT u, k, g, v,
         |         row_number() OVER (PARTITION BY u, k, g ORDER BY v) - 1 AS rn,
         |         0.5 * CAST(count(*) OVER (PARTITION BY u, k, g) - 1 AS DOUBLE) AS rank
         |  FROM ex
         |), p AS (
         |  SELECT u, k, g,
         |         max(CASE WHEN rn = floor(rank) THEN v END) AS lo,
         |         max(CASE WHEN rn = ceil(rank) THEN v END) AS hi,
         |         any_value(rank - floor(rank)) AS frac
         |  FROM o WHERE rn = floor(rank) OR rn = ceil(rank)
         |  GROUP BY u, k, g
         |), med AS (
         |  SELECT u, k, g, lo + (hi - lo) * frac AS med FROM p
         |), d AS (
         |  SELECT ex.u, ex.k, ex.g, abs(ex.v - med.med) AS v
         |  FROM ex JOIN med USING (u, k, g)
         |), o2 AS (
         |  SELECT u, k, g, v,
         |         row_number() OVER (PARTITION BY u, k, g ORDER BY v) - 1 AS rn,
         |         0.5 * CAST(count(*) OVER (PARTITION BY u, k, g) - 1 AS DOUBLE) AS rank
         |  FROM d
         |), p2 AS (
         |  SELECT u, k, g,
         |         max(CASE WHEN rn = floor(rank) THEN v END) AS lo,
         |         max(CASE WHEN rn = ceil(rank) THEN v END) AS hi,
         |         any_value(rank - floor(rank)) AS frac
         |  FROM o2 WHERE rn = floor(rank) OR rn = ceil(rank)
         |  GROUP BY u, k, g
         |)
         |SELECT u AS user, k, g, lo + (hi - lo) * frac AS value FROM p2""".stripMargin

  /** Parsed `%` — float mod with the dividend's sign (Go math.Mod, Java
    * remainder, DuckDB integer %): per-user purchase count mod 7. Exact
    * for integer-valued doubles, so fully oracle-checkable (`^` is libm
    * pow and follows the spec-only policy).
    */
  def parsedMod(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum by (user) (count_over_time(purchase[720h])) % 7")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedModOracle: String =
    sampleCte("purchase", Te - 2592000 + 1, Te) +
      "\nSELECT u AS user, CAST(count(*) % 7 AS DOUBLE) AS value " +
      "FROM s GROUP BY u"

  /** Parsed `a + b * 2 - c % 7` UNPARENTHESIZED — Prometheus operator
    * precedence end-to-end (round 16: `*`/`%` bind tighter than `+`/`-`,
    * left-assoc within a tier), over three per-user count vectors
    * matched one-to-one on the series key. Under the old uniform tier
    * this would have computed ((((a+b)·2)−c) % 7) — integer counts make
    * every grouping produce visibly different exact values, so the hash
    * gate pins the tree shape, not just "it parses". The `^`/unary
    * tiers (right-assoc `2^3^2`, `-2^2 = -(2^2)`) are pinned by spec —
    * `^` is libm pow, excluded from oracles by the repo-wide rule.
    */
  def parsedPrecedence(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum by (user) (count_over_time(view[720h]))" +
        " + sum by (user) (count_over_time(purchase[720h])) * 2" +
        " - sum by (user) (count_over_time(click[720h])) % 7")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedPrecedenceOracle: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(user_id AS VARCHAR) AS u
       |  FROM events
       |  WHERE CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${Te - 2592000 + 1} AND $Te
       |), cv AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'view' GROUP BY u),
       |   cp AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'purchase' GROUP BY u),
       |   ck AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'click' GROUP BY u)
       |SELECT cv.u AS user,
       |       (CAST(cv.c AS DOUBLE) + CAST(cp.c AS DOUBLE) * 2)
       |        - (CAST(ck.c AS DOUBLE) % 7) AS value
       |FROM cv JOIN cp ON cv.u = cp.u JOIN ck ON cv.u = ck.u""".stripMargin

  /** Parsed `A and A % 2 == 1 or P and C % 3 == 0` UNPARENTHESIZED —
    * the set-operator tiers end-to-end (round 17: `or` binds LOOSER than
    * `and`/`unless`, per Prometheus's ladder; one tier through round 16,
    * which mis-associated this as `((A and A%2==1) or P) and (C%3==0)`).
    * Operands are per-user integer count vectors whose key sets are made
    * partially disjoint by exact mod filters (odd view-counts; click-
    * counts ≡ 0 mod 3), so the correct grouping `(A and odd) or (P and
    * divisible)` and the wrong one produce visibly different key sets
    * AND values — the hash gate pins the tree shape. This is the
    * `up == 0 or up == 1 and maintenance` alerting idiom's shape.
    */
  def parsedSetopPrecedence(spark: SparkSession, sfDir: String): DataFrame = {
    // 48h windows (round 18): the tier-shape evidence is window-size-
    // independent, and 48h keeps both parse trees' row sets visibly
    // different at every sf (sf0.01: 57 correct vs 2 wrong-parse rows)
    // at ~1/3.5 the selector scan of the original 168h form.
    val expr = graft.promql.PromParser.parse(
      "sum by (user) (count_over_time(view[48h]))" +
        " and sum by (user) (count_over_time(view[48h])) % 2 == 1" +
        " or sum by (user) (count_over_time(purchase[48h]))" +
        " and sum by (user) (count_over_time(click[48h])) % 3 == 0")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedSetopPrecedenceOracle: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(user_id AS VARCHAR) AS u
       |  FROM events
       |  WHERE CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${Te - 172800 + 1} AND $Te
       |), cv AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'view' GROUP BY u),
       |   cp AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'purchase' GROUP BY u),
       |   ck AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'click' GROUP BY u),
       |   a AS (SELECT u, CAST(c AS DOUBLE) AS value FROM cv
       |         WHERE c % 2 = 1),
       |   bc AS (SELECT cp.u, CAST(cp.c AS DOUBLE) AS value
       |          FROM cp JOIN ck ON cp.u = ck.u WHERE ck.c % 3 = 0)
       |SELECT u AS user, value FROM a
       |UNION ALL
       |SELECT u AS user, value FROM bc
       |WHERE u NOT IN (SELECT u FROM a)""".stripMargin

  /** Parsed `V or P unless C % 3 == 0` — the tier boundary from the other
    * side: `unless` binds tighter, so this is `V or (P unless divisible)`
    * — purchase-only users WITHOUT a click-count divisible by 3 join the
    * view vector. The one-tier parse computed `(V or P) unless (...)`,
    * which also drops view users — different key set, different hash.
    */
  def parsedSetopUnless(spark: SparkSession, sfDir: String): DataFrame = {
    // 48h windows (round 18): same evidence-budget trim as
    // [[parsedSetopPrecedence]] — both parses still differ at sf0.01
    // (130 vs 125 rows) and every branch stays non-vacuous at all sfs.
    val expr = graft.promql.PromParser.parse(
      "sum by (user) (count_over_time(view[48h]))" +
        " or sum by (user) (count_over_time(purchase[48h]))" +
        " unless sum by (user) (count_over_time(click[48h])) % 3 == 0")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedSetopUnlessOracle: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(user_id AS VARCHAR) AS u
       |  FROM events
       |  WHERE CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${Te - 172800 + 1} AND $Te
       |), cv AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'view' GROUP BY u),
       |   cp AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'purchase' GROUP BY u),
       |   ck AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'click' GROUP BY u),
       |   a AS (SELECT u, CAST(c AS DOUBLE) AS value FROM cv),
       |   bu AS (SELECT u, CAST(c AS DOUBLE) AS value FROM cp
       |          WHERE u NOT IN (SELECT u FROM ck WHERE c % 3 = 0))
       |SELECT u AS user, value FROM a
       |UNION ALL
       |SELECT u AS user, value FROM bu
       |WHERE u NOT IN (SELECT u FROM a)""".stripMargin

  /** Parsed `and on(user)` — set-operator MATCHING MODIFIERS (round 17):
    * the LHS keys on {user, k}, the RHS on {user}, so only a projected
    * match key can pair them — the `up == 1 and on(job) maintenance`
    * idiom's shape. Keeps per-(user, k) purchase counts for users whose
    * click count is divisible by 3; all integer-exact.
    */
  def parsedSetopOn(spark: SparkSession, sfDir: String): DataFrame = {
    // 48h (round 18, evidence-budget trim): the narrowest window at
    // which BOTH the semi-join keep set and the anti-join complement
    // stay non-empty at every sf (24h leaves `and on` empty at sf0.01).
    val expr = graft.promql.PromParser.parse(
      "sum by (user, k) (count_over_time(purchase[48h]))" +
        " and on(user)" +
        " sum by (user) (count_over_time(click[48h])) % 3 == 0")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  /** Parsed `unless ignoring(k)` — the complement modifier: drop the
    * {user, k} rows whose user-projected key (ignoring k) matches the
    * divisible-click vector. Exactly the complement of [[parsedSetopOn]].
    */
  def parsedSetopIgnoring(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum by (user, k) (count_over_time(purchase[48h]))" +
        " unless ignoring(k)" +
        " sum by (user) (count_over_time(click[48h])) % 3 == 0")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  private def setopOnOracle(cond: String): String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(user_id AS VARCHAR) AS u,
       |         json_extract_string(props, '$$.k') AS k
       |  FROM events
       |  WHERE CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${Te - 172800 + 1} AND $Te
       |), pk AS (SELECT u, k, count(*) AS c FROM ev
       |          WHERE event_type = 'purchase' GROUP BY u, k),
       |   ck3 AS (SELECT u FROM (SELECT u, count(*) AS c FROM ev
       |                          WHERE event_type = 'click' GROUP BY u)
       |           WHERE c % 3 = 0)
       |SELECT u AS user, k, CAST(c AS DOUBLE) AS value FROM pk
       |WHERE u $cond (SELECT u FROM ck3)""".stripMargin

  val parsedSetopOnOracle: String = setopOnOracle("IN")
  val parsedSetopIgnoringOracle: String = setopOnOracle("NOT IN")

  /** Parsed `or on(user)` — union under a projected key: every
    * per-(user, k) purchase row, plus the {user}-keyed view vector for
    * users with NO purchase key at all (their k is NULL in the output —
    * `or`'s right-only rows keep the RIGHT side's labels untouched).
    */
  def parsedSetopOrOn(spark: SparkSession, sfDir: String): DataFrame = {
    // the purchase side uses a TIGHTER window (24h vs the views' 7d) so
    // viewers with no recent purchase exist and the right-only union
    // branch genuinely emits rows. 168h views (round 18, was 720h):
    // the union evidence only needs BOTH branches non-empty — at 7d
    // that's 61 left + 95 right-only rows at sf0.01, for a quarter of
    // the view-selector scan.
    val expr = graft.promql.PromParser.parse(
      "sum by (user, k) (count_over_time(purchase[24h]))" +
        " or on(user)" +
        " sum by (user) (count_over_time(view[168h]))")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), kLbl.as("k"), col("value"))
  }

  val parsedSetopOrOnOracle: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(user_id AS VARCHAR) AS u,
       |         json_extract_string(props, '$$.k') AS k,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS e
       |  FROM events
       |  WHERE CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${Te - 604800 + 1} AND $Te
       |), pk AS (SELECT u, k, count(*) AS c FROM ev
       |          WHERE event_type = 'purchase'
       |            AND e BETWEEN ${Te - 86400 + 1} AND $Te GROUP BY u, k),
       |   cv AS (SELECT u, count(*) AS c FROM ev
       |          WHERE event_type = 'view' GROUP BY u)
       |SELECT u AS user, k, CAST(c AS DOUBLE) AS value FROM pk
       |UNION ALL
       |SELECT u AS user, NULL AS k, CAST(c AS DOUBLE) AS value FROM cv
       |WHERE u NOT IN (SELECT DISTINCT u FROM pk)""".stripMargin

  /** Parsed SUBQUERY rate — `increase((sum by (user)
    * (count_over_time(purchase[24h])))[72h:6h])`: the rate family over a
    * derived series (the idiom recording rules otherwise cover). The
    * inner expression's values at the twelve aligned 6h grid points play
    * the samples; the counter-reset-aware delta chain then runs per user
    * over exact integer counts in DECIMAL — fully deterministic.
    */
  def parsedSubqueryRate(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "increase((sum by (user) (count_over_time(purchase[24h])))[72h:6h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedSubqueryRateOracle: String = {
    val step = 21600L
    val g1 = (Te / step) * step
    val g0 = ((Te - 259200L) / step + 1) * step
    s"""WITH ev AS (
       |  SELECT CAST(user_id AS VARCHAR) AS u,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS e
       |  FROM events
       |  WHERE event_type = 'purchase'
       |    AND CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${g0 - 86400 + 1} AND $g1
       |), gr AS (
       |  SELECT unnest(generate_series($g0, $g1, $step)) AS g
       |), c AS (
       |  SELECT u, g, CAST(count(*) AS DECIMAL(20,6)) AS c
       |  FROM ev JOIN gr ON ev.e > g - 86400 AND ev.e <= g
       |  GROUP BY u, g
       |), o AS (
       |  SELECT u, g, c, lag(c) OVER (PARTITION BY u ORDER BY g) AS prev
       |  FROM c
       |), d AS (
       |  SELECT u, g AS e, c AS vd, CASE WHEN prev IS NULL THEN NULL
       |                                  WHEN c >= prev THEN c - prev
       |                                  ELSE c END AS delta
       |  FROM o
       |)""".stripMargin +
      extrapTailSql(Seq("u"), s"${Te - 259200L}", s"$Te",
        259200L, "increase", "u AS user")
  }

  /** The SLO idiom — `quantile_over_time(q, (expr)[w:s])`: the φ-quantile
    * of an arbitrary expression evaluated at subquery steps. Here the
    * inner expression is the per-user 24h count re-evaluated every 6h
    * over 72h (12 grid points); the quantile runs the explicit
    * rank-interpolation over those 12 exact integers, so the result is
    * bit-identical cross-engine. The real-world instance of this shape is
    * `quantile_over_time(0.99, (rate(errors[5m]))[1h:5m])`.
    */
  def parsedQuantileSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "quantile_over_time(0.9, (sum by (user) (count_over_time(purchase[24h])))[72h:6h])")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedQuantileSubqueryOracle: String = {
    val step = 21600L
    val g1 = (Te / step) * step
    val g0 = ((Te - 259200L) / step + 1) * step
    s"""WITH ev AS (
       |  SELECT CAST(user_id AS VARCHAR) AS u,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS e
       |  FROM events
       |  WHERE event_type = 'purchase'
       |    AND CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${g0 - 86400 + 1} AND $g1
       |), gr AS (
       |  SELECT unnest(generate_series($g0, $g1, $step)) AS g
       |), c AS (
       |  SELECT u, g, CAST(count(*) AS DOUBLE) AS v
       |  FROM ev JOIN gr ON ev.e > g - 86400 AND ev.e <= g
       |  GROUP BY u, g
       |), o AS (
       |  SELECT u, v,
       |         row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS rn,
       |         0.9 * CAST(count(*) OVER (PARTITION BY u) - 1 AS DOUBLE) AS rank
       |  FROM c
       |), p AS (
       |  SELECT u,
       |         max(CASE WHEN rn = floor(rank) THEN v END) AS lo,
       |         max(CASE WHEN rn = ceil(rank) THEN v END) AS hi,
       |         any_value(rank - floor(rank)) AS frac
       |  FROM o WHERE rn = floor(rank) OR rn = ceil(rank)
       |  GROUP BY u
       |)
       |SELECT u AS user, lo + (hi - lo) * frac AS value FROM p""".stripMargin
  }

  /** Range evaluation of a SUBQUERY — the dashboard form of the
    * flagship's shape: `sum_over_time((sum by (user)
    * (count_over_time(purchase[6h])))[24h:6h])` graphed on the 5-minute
    * grid. The inner expression evaluates ONCE on its own 6h-aligned
    * grid; each inner point explodes to the outer points whose 24h
    * window contains it (the sample→grid pattern over evaluated values
    * — nothing re-evaluates per outer point). The summed values are
    * small exact integers, so the double sum is order-independent.
    */
  def rangeSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "sum_over_time((sum by (user) (count_over_time(purchase[6h])))[24h:6h])")
    graft.promql.PromEval.evalGrid(metrics(spark, sfDir), expr, Gm0, Gm1,
      stepSec = 300, lookbackSec = PromOps.DefaultLookbackSec)
      .select(user.as("user"), col("g"), col("value"))
  }

  val rangeSubqueryOracle: String = {
    val ig1 = (Gm1 / 21600L) * 21600L
    val ig0 = ((Gm0 - 86400L) / 21600L + 1) * 21600L
    s"""WITH ev AS (
       |  SELECT CAST(user_id AS VARCHAR) AS u,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS e
       |  FROM events
       |  WHERE event_type = 'purchase'
       |    AND CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${ig0 - 21600 + 1} AND $ig1
       |), gr AS (
       |  SELECT unnest(generate_series($ig0, $ig1, 21600)) AS ig
       |), c AS (
       |  SELECT u, ig, CAST(count(*) AS DOUBLE) AS v
       |  FROM ev JOIN gr ON ev.e > ig - 21600 AND ev.e <= ig
       |  GROUP BY u, ig
       |), ex AS (
       |  SELECT u, v,
       |         unnest(generate_series(greatest($Gm0, ((ig + 299) // 300) * 300),
       |                                least($Gm1, ((ig + 86399) // 300) * 300), 300)) AS g
       |  FROM c
       |)
       |SELECT u AS user, g, CAST(sum(v) AS DOUBLE) AS value
       |FROM ex GROUP BY u, g""".stripMargin
  }

  /** The per-user 24h-count series at 6h subquery steps over 72h — the
    * shared inner grid for the smoothing/regression subquery oracles
    * (same construction the subquery-rate oracle uses).
    */
  private def subqueryCountsCte(recursive: Boolean): String = {
    val step = 21600L
    val g1 = (Te / step) * step
    val g0 = ((Te - 259200L) / step + 1) * step
    val kw = if (recursive) "WITH RECURSIVE" else "WITH"
    s"""$kw ev AS (
       |  SELECT CAST(user_id AS VARCHAR) AS u,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS e
       |  FROM events
       |  WHERE event_type = 'purchase'
       |    AND CAST(floor(epoch(ts)) AS BIGINT)
       |        BETWEEN ${g0 - 86400 + 1} AND $g1
       |), gr AS (
       |  SELECT unnest(generate_series($g0, $g1, $step)) AS g
       |), c AS (
       |  SELECT u, g, CAST(count(*) AS DOUBLE) AS v
       |  FROM ev JOIN gr ON ev.e > g - 86400 AND ev.e <= g
       |  GROUP BY u, g
       |)""".stripMargin
  }

  /** `holt_winters` over a SUBQUERY — smoothing a derived series (here
    * the per-user 24h count at 6h steps): the inner grid values play the
    * window samples in the same total-order fold; the oracle replays the
    * recursion per user as a recursive CTE over exact integer counts.
    */
  def parsedHoltSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "holt_winters((sum by (user) (count_over_time(purchase[24h])))[72h:6h], 0.3, 0.5)")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedHoltSubqueryOracle: String =
    subqueryCountsCte(recursive = true) +
      """
        |, arr AS (
        |  SELECT u, list(v ORDER BY g, v) AS vs, count(*) AS n
        |  FROM c GROUP BY u
        |), st AS (
        |  SELECT u, 1 AS i, 0.0::DOUBLE AS s0, vs[1] AS s1,
        |         NULL::DOUBLE AS b, vs, n
        |  FROM arr WHERE n >= 2
        |  UNION ALL
        |  SELECT u, i + 1,
        |         s1 AS s0,
        |         0.3 * vs[i + 1] + (1 - 0.3) * (s1 + b0) AS s1,
        |         b0 AS b, vs, n
        |  FROM (SELECT *, CASE WHEN b IS NULL THEN vs[i + 1] - s1
        |                       ELSE 0.5 * (s1 - s0) + (1 - 0.5) * b END AS b0
        |        FROM st)
        |  WHERE i < n
        |)
        |SELECT u AS user, s1 AS value FROM st WHERE i = n""".stripMargin

  /** `predict_linear` over a SUBQUERY — the capacity-planning idiom:
    * least-squares slope of the derived count series, extrapolated one
    * hour past the evaluation time; identical decimal regression sums
    * and the mirrored double affine step.
    */
  def parsedPredictSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    val expr = graft.promql.PromParser.parse(
      "predict_linear((sum by (user) (count_over_time(purchase[24h])))[72h:6h], 3600)")
    graft.promql.PromEval.evalInstant(metrics(spark, sfDir), expr, Te)
      .select(user.as("user"), col("value"))
  }

  val parsedPredictSubqueryOracle: String = {
    val x0 = Te - 259200L
    subqueryCountsCte(recursive = false) +
      s"""
         |, a AS (
         |  SELECT u, count(*) AS n,
         |         CAST(sum(g - $x0) AS DECIMAL(38,0)) AS sx,
         |         CAST(sum((g - $x0) * (g - $x0)) AS DECIMAL(38,0)) AS sxx,
         |         sum(CAST(v AS DECIMAL(20,6))) AS sv,
         |         sum(CAST(v AS DECIMAL(20,6)) * (g - $x0)) AS sxv
         |  FROM c GROUP BY u
         |), sl AS (
         |  SELECT u, n, sx, sv,
         |         CAST(n * sxv - sx * sv AS DOUBLE)
         |           / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
         |  FROM a WHERE n * sxx - sx * sx > 0
         |)
         |SELECT u AS user,
         |       (CAST(sv AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n
         |         + slope * 262800.0 AS value
         |FROM sl""".stripMargin
  }

  /** name → (query fn, oracle SQL). Every entry is a PURE plan builder
    * (parse → PromEval plan over the session-cached fact frame; no
    * writes, no driver-side collects, no temp state), so the whole pack
    * goes through the statement cache —
    * [[graft.sources.TableCache.planCachedPack]].
    */
  val all: Map[String, ((SparkSession, String) => DataFrame, String)] =
    graft.sources.TableCache.planCachedPack(rawAll)

  private def rawAll: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "promql_parsed_filtercmp" -> ((parsedFilterCmp _, parsedFilterCmpOracle)),
    "promql_parsed_at" -> ((parsedAt _, parsedAtOracle)),
    "promql_parsed_at_edges" -> ((parsedAtEdges _, parsedAtEdgesOracle)),
    "promql_parsed_labeljoin" -> ((parsedLabelJoin _, parsedLabelJoinOracle)),
    "promql_parsed_groupleft" -> ((parsedGroupLeft _, parsedGroupLeftOracle)),
    "promql_parsed_veccmp_on" -> ((parsedVecCmpOn _, parsedVecCmpOnOracle)),
    "promql_parsed_groupleft_label" ->
      ((parsedGroupLeftLabel _, parsedGroupLeftLabelOracle)),
    "promql_parsed_sort" -> ((parsedSort _, parsedSortOracle)),
    "promql_parsed_mod" -> ((parsedMod _, parsedModOracle)),
    "promql_parsed_precedence" -> ((parsedPrecedence _, parsedPrecedenceOracle)),
    "promql_parsed_setop_precedence" ->
      ((parsedSetopPrecedence _, parsedSetopPrecedenceOracle)),
    "promql_parsed_setop_unless" ->
      ((parsedSetopUnless _, parsedSetopUnlessOracle)),
    "promql_parsed_setop_on" -> ((parsedSetopOn _, parsedSetopOnOracle)),
    "promql_parsed_setop_ignoring" ->
      ((parsedSetopIgnoring _, parsedSetopIgnoringOracle)),
    "promql_parsed_setop_or_on" ->
      ((parsedSetopOrOn _, parsedSetopOrOnOracle)),
    "promql_parsed_subquery_rate" ->
      ((parsedSubqueryRate _, parsedSubqueryRateOracle)),
    "promql_parsed_subquery_step" ->
      ((parsedSubqueryStep _, parsedSubqueryStepOracle)),
    "promql_parsed_subquery_mods" ->
      ((parsedSubqueryMods _, parsedSubqueryModsOracle)),
    "promql_parsed_stddev" -> ((parsedStddev _, parsedStddevOracle)),
    "promql_parsed_resets" ->
      ((parsedResets("resets", "purchase") _, resetsOracle("purchase", "<"))),
    "promql_parsed_changes" ->
      ((parsedResets("changes", "error") _, resetsOracle("error", "<>"))),
    "promql_parsed_deriv" -> ((parsedDeriv _, parsedDerivOracle)),
    "promql_parsed_predict" -> ((parsedPredict _, parsedPredictOracle)),
    "promql_parsed_and" -> ((parsedSetOp("and") _, parsedAndOracle)),
    "promql_parsed_unless" -> ((parsedSetOp("unless") _, parsedUnlessOracle)),
    "promql_parsed_or" -> ((parsedSetOp("or") _, parsedOrOracle)),
    "promql_parsed_irate" -> ((parsedIrate _, parsedIrateOracle)),
    "promql_parsed_mathfn" -> ((parsedMathFn _, parsedMathFnOracle)),
    "promql_parsed_delta" -> ((parsedDelta _, parsedDeltaOracle)),
    "promql_parsed_quantile" -> ((parsedQuantile _, parsedQuantileOracle)),
    "promql_parsed_mad" -> ((parsedMad _, parsedMadOracle)),
    "promql_parsed_slo_quantile" ->
      ((parsedQuantileSubquery _, parsedQuantileSubqueryOracle)),
    "promql_parsed_histq" -> ((parsedHistQuantile _, parsedHistQuantileOracle)),
    "promql_parsed_histfraction" ->
      ((parsedHistFraction _, parsedHistFractionOracle)),
    "promql_parsed_offset" -> ((parsedOffset _, parsedOffsetOracle)),
    "promql_parsed_binop" -> ((parsedBinop _, parsedBinopOracle)),
    "promql_parsed_ratio" -> ((parsedRatio _, parsedRatioOracle)),
    "promql_parsed_veccmp" -> ((parsedVecCmp _, parsedVecCmpOracle)),
    "promql_parsed_scalarcmp" -> ((parsedScalarCmp _, parsedScalarCmpOracle)),
    "promql_parsed_regex" -> ((parsedRegexMatch _, parsedRegexMatchOracle)),
    "promql_parsed_stdvar_ot" -> ((parsedStdvarOt _, parsedStdvarOtOracle)),
    "promql_parsed_present_ot" -> ((parsedPresentOt _, parsedPresentOtOracle)),
    "promql_parsed_absent_ot" -> ((parsedAbsentOt _, parsedAbsentOtOracle)),
    "promql_parsed_holtwinters" ->
      ((parsedHoltWinters _, parsedHoltWintersOracle)),
    "promql_parsed_scalarcmp_bool" ->
      ((parsedScalarCmpBool _, parsedScalarCmpBoolOracle)),
    "pq_range_scalarcmp" -> ((rangeScalarCmp _, rangeScalarCmpOracle)),
    "promql_parsed_roundfn" -> ((parsedRound _, parsedRoundOracle)),
    "promql_parsed_aggquantile" ->
      ((parsedAggQuantile _, parsedAggQuantileOracle)),
    "promql_parsed_countvalues" ->
      ((parsedCountValues _, parsedCountValuesOracle)),
    "promql_parsed_group" -> ((parsedGroup _, parsedGroupOracle)),
    "promql_parsed_scalar" -> ((parsedScalar _, parsedScalarOracle)),
    "promql_parsed_topk" -> ((parsedTopk _, parsedTopkOracle)),
    "promql_parsed_bottomk" -> ((parsedBottomk _, parsedBottomkOracle)),
    "promql_parsed_topk_by" -> ((parsedTopkBy _, parsedTopkByOracle)),
    "promql_parsed_limitk" -> ((parsedLimitk _, parsedLimitkOracle)),
    "promql_parsed_limitratio" ->
      ((parsedLimitRatio _, parsedLimitRatioOracle)),
    "promql_parsed_rate" -> ((parsedRate _, parsedRateOracle)),
    "promql_parsed_increase" -> ((parsedIncrease _, parsedIncreaseOracle)),
    "promql_parsed_flagship" -> ((parsedFlagship _, flagshipOracle)),
    "promql_parsed_matcher" -> ((parsedMatcher _, parsedMatcherOracle)),
    "flagship_multiday" -> ((flagshipMultiday _, flagshipMultidayOracle)),
    "promql_parsed_overtime" -> ((parsedOverTime _, parsedOverTimeOracle)),
    "promql_parsed_last" -> ((parsedLastOverTime _, parsedLastOverTimeOracle)),
    "flagship_gpu_daily" -> ((flagship _, flagshipOracle)),
    "pq_instant_vector" -> ((instantVector _, instantVectorOracle)),
    "pq_range_matrix" -> ((rangeMatrix _, rangeMatrixOracle)),
    "pq_range_overtime" -> ((rangeOverTime _, rangeOverTimeOracle)),
    "pq_range_holtwinters" -> ((rangeHoltWinters _, rangeHoltWintersOracle)),
    "pq_range_mad" -> ((rangeMad _, rangeMadOracle)),
    "pq_range_subquery" -> ((rangeSubquery _, rangeSubqueryOracle)),
    "promql_parsed_holt_subquery" ->
      ((parsedHoltSubquery _, parsedHoltSubqueryOracle)),
    "promql_parsed_predict_subquery" ->
      ((parsedPredictSubquery _, parsedPredictSubqueryOracle)),
    "pq_range_rate" -> ((rangeRate _, rangeRateOracle)),
    "pq_range_binop" -> ((rangeBinop _, rangeBinopOracle)),
    "pq_range_setop_on" -> ((rangeSetopOn _, rangeSetopOnOracle)),
    "promql_parsed_timestamp" -> ((parsedTimestamp _, parsedTimestampOracle)),
    "promql_parsed_timefns" -> ((parsedTimeFns _, parsedTimeFnsOracle)),
    "promql_parsed_calfns" -> ((parsedCalFns _, parsedCalFnsOracle)),
    "promql_parsed_labelreplace" ->
      ((parsedLabelReplace _, parsedLabelReplaceOracle)),
    "pq_over_time" -> ((overTime _, overTimeOracle)),
    "pq_rate" -> ((pqRate _, pqRateOracle)),
    "pq_agg_without" -> ((aggWithout _, aggWithoutOracle)),
    "pq_agg_by" -> ((aggBy _, aggByOracle)),
    "pq_avg_by" -> ((avgBy _, avgByOracle)),
    "pq_bool_scalar" -> ((boolScalar _, boolScalarOracle)))
}
