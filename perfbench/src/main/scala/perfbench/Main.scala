package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDate}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.GraftSession
import graft.ext.CacheScope
import graft.ingest.EventsIngest
import graft.model.QueryConfig
import graft.ops.{ConfigStore, QueryRunner}
import graft.promql.{PromEval, PromOps, PromParser}
import graft.repair.Repair
import graft.sources.PromClient
import graft.streaming.StreamingIngest

/** The benchmark's single closed-loop client. It reads a plan written by
  * `run.py` (the generated inputs and op list), builds one local Spark
  * session, sets up, runs ops back to back until the time is up and
  * writes every op's latency, the rows the output check needs, and in
  * traced mode every span and listener count to `result.json`.
  *
  */
object Main {
  private val mapper = new ObjectMapper()

  final case class OpRecord(id: Int, phase: String, ok: Boolean, error: String,
      wallMs: Double, counters: Map[String, Double])

  /** Usage: perfbench.Main <plan.json> <cores>. The session is built
    * while the caller is still writing the inputs; the plan file appears
    * (atomically) when they are ready. */
  def main(args: Array[String]): Unit = {
    val out = new java.util.LinkedHashMap[String, AnyRef]()
    val t0 = System.currentTimeMillis()
    val spark = GraftSession.local(args(1).toInt)
    out.put("session_ms", Double.box(System.currentTimeMillis() - t0))
    try {
      val planFile = Paths.get(args(0))
      val giveUp = System.currentTimeMillis() + 150000
      while (!Files.exists(planFile)) {
        require(System.currentTimeMillis() < giveUp, s"no plan at $planFile")
        Thread.sleep(20)
      }
      val plan = mapper.readTree(Files.readAllBytes(planFile))
      new Main(spark, plan, out).run()
      Files.write(Paths.get(plan.get("run_dir").asText, "result.json"),
        mapper.writeValueAsBytes(out))
    } finally spark.stop()
  }
}

final class Main(spark: SparkSession, plan: JsonNode,
    out: java.util.LinkedHashMap[String, AnyRef]) {
  import Main._

  private val workload = plan.get("workload").asText
  private val runDir = plan.get("run_dir").asText
  private val eventsDir = plan.get("events_dir").asText
  private val traced = plan.get("trace").asBoolean
  private val tr = new Tracer(false)
  private val probe = new Probe
  private val records = mutable.ArrayBuffer.empty[OpRecord]
  private val checkRows = new java.util.LinkedHashMap[String, AnyRef]()
  private lazy val metrics = EventsIngest.cachedMetrics(spark, eventsDir)

  private def path(rel: String) = Paths.get(runDir, rel).toString
  private def ms(fromNs: Long) = (System.nanoTime() - fromNs) / 1e6

  def run(): Unit = {
    // set-up: the fact frame is filled several times (unpersist, refill)
    // so set-up time can be reported as a median
    val fills = (0 until plan.get("fill_reps").asInt).map { i =>
      if (i > 0) metrics.unpersist(blocking = true)
      val s = System.nanoTime()
      EventsIngest.cachedMetrics(spark, eventsDir)
      ms(s)
    }
    out.put("fill_ms", fills.map(Double.box).asJava)
    out.put("cache_bytes", Double.box(
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble))
    val s = System.nanoTime()
    if (workload == "etl_collect") etlSetup()
    runOps(plan.get("warm"), 0, plan.get("warm").size, Long.MaxValue, "warm")
    out.put("warm_ms", Double.box(ms(s)))
    out.put("first_op_epoch_ms", Double.box(System.currentTimeMillis().toDouble))

    val ops = plan.get("ops")
    val seconds = plan.get("seconds").asDouble
    // A traced run first traces one whole schedule block from a fixed op,
    // so its counts cover the same ops on every run with this seed; then
    // untraced (A) and traced (B) quarters alternate, so the two see the
    // same warm-up when the tracing overhead is compared
    val phases = if (traced) Seq("A", "B", "A", "B") else Seq("A")
    val slice = seconds / phases.size
    val traceFrom = plan.get("trace_from").asInt
    val next = mutable.Map("A" -> 0, "B" -> traceFrom)
    var exhausted = false
    val gc0 = gcTotals()
    if (traced) {
      startTracing()
      next("B") = runOps(ops, traceFrom, traceFrom + plan.get("block").asInt,
        Long.MaxValue, "B")
    }
    for (name <- phases) {
      if (name == "B") startTracing() else stopTracing()
      val until = if (name == "A") traceFrom else ops.size
      val start = System.nanoTime()
      next(name) = runOps(ops, next(name), until, start + (slice * 1e9).toLong, name)
      val key = s"phase_${name}_s"
      val prev = Option(out.get(key)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      out.put(key, Double.box(prev + ms(start) / 1e3))
      exhausted ||= next(name) >= until
    }
    stopTracing()
    val gc1 = gcTotals()
    out.put("gc_ms", Double.box(gc1._1 - gc0._1))
    out.put("gc_count", Double.box(gc1._2 - gc0._2))
    out.put("exhausted", Boolean.box(exhausted))
    if (!traced) out.put("heap_live_mb", Double.box(heapLiveMb()))
    if (workload == "etl_collect") etlAfter()

    out.put("ops", records.map { r =>
      Map("id" -> r.id, "phase" -> r.phase, "ok" -> r.ok,
        "error" -> r.error, "wall_ms" -> r.wallMs,
        "counters" -> r.counters.asJava).asJava
    }.asJava)
    out.put("spans", tr.spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start" -> s.start, "end" -> s.end).asJava
    }.asJava)
    out.put("check_rows", checkRows)
  }

  private def startTracing(): Unit = if (!tr.enabled) {
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    tr.enabled = true
  }

  private def stopTracing(): Unit = if (tr.enabled) {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(probe)
    spark.listenerManager.unregister(probe)
    probe.take()
    tr.enabled = false
  }

  /** Runs ops [from, until) until the deadline passes; returns the next
    * index. A throwing op is recorded as failed and the loop goes on. */
  private def runOps(ops: JsonNode, from: Int, until: Int, deadline: Long,
      phase: String): Int = {
    var i = from
    while (i < until && System.nanoTime() < deadline) {
      val op = ops.get(i)
      val id = op.get("id").asInt
      tr.op = id
      val start = System.nanoTime()
      val err = try { tr("op")(runOp(op, phase)); "" }
        catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
      val wall = ms(start)
      if (tr.enabled) org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      val counters = if (tr.enabled) probe.take() ++ tr.takeCounts()
        else Map.empty[String, Double]
      if (phase != "warm" || err.nonEmpty)
        records += OpRecord(id, phase, err.isEmpty, err, wall, counters)
      i += 1
    }
    i
  }

  private def runOp(op: JsonNode, phase: String): Unit = workload match {
    case "promql_dashboard" => promqlOp(op, phase)
    case "etl_collect" => etlOp(op, phase)
  }

  // ------------------------------------------------------ promql_dashboard

  private def promqlOp(op: JsonNode, phase: String): Unit = {
    val instant = op.get("kind").asText == "instant"
    val expr = tr("promql.parse")(PromParser.parse(op.get("text").asText))
    val df = tr("promql.compile") {
      val r = if (instant) PromEval.evalInstant(metrics, expr, op.get("t").asLong)
        else PromEval.evalGrid(metrics, expr, op.get("g0").asLong,
          op.get("g1").asLong, op.get("step").asLong, PromOps.DefaultLookbackSec)
      r.select(col("skey"), (if (instant) lit(null).cast(LongType) else col("g")).as("g"),
        col("value"))
    }
    if (tr.enabled) {
      // force each planning phase in turn, so execution is timed alone
      val qe = df.queryExecution
      tr("catalyst.analyze")(qe.analyzed)
      tr("catalyst.optimize")(qe.optimizedPlan)
      tr("catalyst.physical")(qe.executedPlan)
    }
    val rows = tr("exec")(df.collect())
    tr("ext.drain")(CacheScope.drain())
    // keep the rows of every warm-pass op (one per template) and of the
    // first timed refresh of every panel for the output check
    val key = if (phase == "warm") s"warm${op.get("id").asInt}" else s"panel${op.get("panel").asInt}"
    if (!checkRows.containsKey(key))
      checkRows.put(key, Map("id" -> op.get("id").asInt,
        "rows" -> rows.map { r =>
          Seq[AnyRef](r.getString(0),
            if (r.isNullAt(1)) null else Long.box(r.getLong(1)),
            Double.box(r.getDouble(2))).asJava
        }.toSeq.asJava).asJava)
  }

  // ----------------------------------------------------------- etl_collect

  private lazy val store = new ConfigStore(spark, path("configs"))

  private def config(op: JsonNode): QueryConfig = {
    val c = op.get("config")
    def opt(k: String) = Option(c.get(k)).filterNot(_.isNull).map(_.asText)
    QueryConfig(c.get("query_id").asText, c.get("name").asText, None,
      c.get("query").asText, "0 * * * * *", "60s", enabled = true, 0, "5s",
      c.get("time_range_type").asText, opt("time_range_time"),
      opt("time_range_start"), opt("time_range_end"), opt("time_range_step"))
  }

  private def etlSetup(): Unit = {
    store.init((plan.get("warm").asScala ++ plan.get("ops").asScala)
      .filter(_.has("config")).map(config).toSeq)
  }

  private final class FileTransport(file: String) extends PromClient.Transport {
    def get(p: String, params: Map[String, String]): String =
      new String(Files.readAllBytes(Paths.get(file)), UTF_8)
  }

  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The streaming ETL's batch transform: raw events to fact records,
    * with the same label mapping as the engine's events ingest. */
  private def eventRecords(queryId: String)(raw: DataFrame): DataFrame = {
    val ts = date_trunc("SECOND", col("ts"))
    raw.select(lit(queryId).as("query_id"), col("event_type").as("metric_name"),
      map(lit("cluster_name"), concat(lit("c"), pmod(col("user_id"), lit(5)),
          lit("-r"), pmod(col("user_id"), lit(3)), lit("-z0")),
        lit("k"), get_json_object(col("props"), "$.k"),
        lit("user"), col("user_id").cast("string")).as("labels"),
      col("value"), ts.as("timestamp"), lit("instant").as("result_type"),
      date_trunc("DAY", ts).as("collected_at"))
  }

  /** Repair's recompute: the metric's samples on the given days. */
  private def repairRecords(queryId: String, metric: String)(days: Seq[LocalDate]): DataFrame =
    metrics.filter(col("metric_name") === metric &&
        to_date(col("timestamp")).isin(days.map(d => java.sql.Date.valueOf(d)): _*))
      .select(lit(queryId).as("query_id"), col("metric_name"), col("labels"),
        col("value"), col("timestamp"), lit("range").as("result_type"),
        date_trunc("DAY", col("timestamp")).as("collected_at"))

  private def etlOp(op: JsonNode, phase: String): Unit = {
    val sink = path(if (phase == "warm") "warm_sink" else "sink")
    val now = Instant.ofEpochSecond(op.get("now").asLong)
    val qid = op.get("query_id").asText
    def cfg() = tr("ops.config") {
      store.loadEnabled().collect().find(_.query_id == qid).get
    }
    op.get("type").asText match {
      case "runner_instant" | "runner_range" =>
        val c = cfg()
        val res = tr("ops.run")(new QueryRunner(metrics, now).execute(c))
        tr("ingest.write")(EventsIngest.writeFactTable(res.records, sink, "overwrite"))
      case "prom_vector" | "prom_matrix" =>
        val c = cfg()
        val recs = tr("sources.prom_fetch") {
          PromClient.queryWithTimeRange(spark,
            new FileTransport(path(op.get("payload").asText)), c, now)
        }
        tr("ingest.write")(EventsIngest.writeFactTable(recs, sink, "overwrite"))
      case "stream" =>
        tr("streaming.run") {
          val src = spark.readStream.schema(rawSchema).parquet(path(op.get("input").asText))
          val q = StreamingIngest.start(src, eventRecords(qid), sink,
            path(op.get("checkpoint").asText))
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }
      case "repair" =>
        val (from, to) = (LocalDate.parse(op.get("start").asText),
          LocalDate.parse(op.get("end").asText))
        val m = op.get("metric").asText
        tr("repair.plan")(Repair.plan(spark, sink, qid, from, to, force = false))
        val summary = tr("repair.run") {
          Repair.run(spark, sink, qid, from, to, force = false, repairRecords(qid, m))
        }
        tr.count("repair.days_recomputed", summary.daysRepaired)
    }
    tr("ext.drain")(CacheScope.drain())
  }

  /** Per (query_id, collect_date): rows and value sum, as sorted text. */
  private def sinkDigest(): Seq[String] =
    spark.read.parquet(path("sink"))
      .groupBy(col("query_id"), col("collect_date").cast("string"))
      .agg(count(lit(1)), sum(col("value").cast("decimal(38,6)")))
      .collect().map(_.mkString("|")).sorted.toSeq

  /** Re-runs the first completed instant-collection, vector-fetch and
    * stream ops: the sink must come out unchanged. */
  private def etlAfter(): Unit = {
    val ran = records.filter(r => r.ok && r.phase != "warm").map(_.id).toSet
    val ops = plan.get("ops").asScala.toSeq
    val again = ops.filter(o => ran(o.get("id").asInt) &&
        Set("runner_instant", "prom_vector", "stream")(o.get("type").asText))
      .groupBy(_.get("type").asText).values.map(_.head).toSeq
    val before = sinkDigest()
    again.foreach(o => etlOp(o, "rerun"))
    out.put("rerun_unchanged", Boolean.box(before == sinkDigest()))
  }

  // ----------------------------------------------------------------- jvm

  private def gcTotals(): (Double, Double) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime.toDouble).sum, beans.map(_.getCollectionCount.toDouble).sum)
  }

  /** Heap in use after full GCs, repeated until two readings agree:
    * Spark's cleaner frees shuffle and broadcast blocks only after a GC
    * has cleared their references. */
  private def heapLiveMb(): Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, cur, n) = (Double.MaxValue, used(), 0)
    while (n < 10 && prev - cur > 0.5) {
      Thread.sleep(100)
      prev = cur; cur = used(); n += 1
    }
    cur
  }
}
