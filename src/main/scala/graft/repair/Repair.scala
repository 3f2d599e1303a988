package graft.repair

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.storage.StorageLevel
import graft.ingest.EventsIngest
import java.time.LocalDate

/** Backfill / repair (reference: cmd/repair/main.go; SURVEY §2.6) over the
  * partitioned fact table.
  *
  * Like the reference, the plan is a per-day existence check — but on
  * partition directories, not rows: a day exists for a query when
  * `collect_date=<day>/query_id=<id>` holds a data file, so planning costs
  * one metadata call per requested day and no Spark job, whatever the
  * table size. The missing days (or all of them, when forced) are then
  * recomputed in ONE batch and landed with *dynamic partition overwrite*
  * (W8), so a re-run, a crash-retry, or a force-recompute all converge to
  * the same table state. Because the fact table is partitioned by
  * (collect_date, query_id), every write and delete here touches only the
  * affected partitions — no read-modify-write of the whole table at any
  * scale.
  */
object Repair {

  /** Configure a session for idempotent partition-level rewrites. */
  def configure(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

  /** J1: days in [start, end] with no data for `queryId`, in order.
    * Probes each day's partition directory,
    * `collect_date=<day>/query_id=<escaped id>`, through the fact path's
    * own FileSystem: a day is present when its directory holds a data
    * file (any file whose name does not start with `_` or `.`, the names
    * Spark's file index skips). O(days in range) listing calls and no
    * Spark job; a missing table means every day is missing.
    */
  def missingDays(spark: SparkSession, factPath: String, queryId: String,
      start: LocalDate, end: LocalDate): Seq[LocalDate] = {
    val base = new Path(factPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val queryDir = ExternalCatalogUtils.getPartitionPathString("query_id", queryId)
    def hasData(day: LocalDate): Boolean =
      try fs.listStatus(new Path(base, s"collect_date=$day/$queryDir"))
        .exists(st => st.isFile && !st.getPath.getName.matches("[_.].*"))
      catch { case _: java.io.FileNotFoundException => false }
    daysIn(start, end).filterNot(hasData)
  }

  private def daysIn(start: LocalDate, end: LocalDate): Seq[LocalDate] =
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end)).toSeq

  /** Repair plan entry: what would be done per day (J5 dry-run output). */
  final case class DayPlan(day: LocalDate, action: String) // recompute|skip|overwrite

  /** J5: the per-day plan without any writes (repair/main.go:35, 200-212). */
  def plan(spark: SparkSession, factPath: String, queryId: String,
      start: LocalDate, end: LocalDate, force: Boolean): Seq[DayPlan] = {
    val missing = missingDays(spark, factPath, queryId, start, end).toSet
    daysIn(start, end).map { d =>
      val action =
        if (missing(d)) "recompute"
        else if (force) "overwrite" // J2 force-recompute
        else "skip" // J1 idempotent skip
      DayPlan(d, action)
    }
  }

  /** Execute a repair: recompute the given days with `compute` (a function
    * day-range → records, normally the flagship aggregation) and land them
    * as a dynamic partition overwrite. With `force`, all days in range are
    * rewritten (J2); otherwise only missing days (J1). Empty recompute
    * results leave existing data untouched (J4 skip-if-no-data) because
    * dynamic overwrite only replaces partitions present in the new data.
    */
  def run(spark: SparkSession, factPath: String, queryId: String,
      start: LocalDate, end: LocalDate, force: Boolean,
      compute: Seq[LocalDate] => DataFrame): RepairSummary = {
    configure(spark)
    val thePlan = plan(spark, factPath, queryId, start, end, force)
    val days = thePlan.filter(_.action != "skip").map(_.day)
    if (days.isEmpty) return RepairSummary(0, 0, thePlan)
    try {
      // evaluate once: the count fills the cache the write then reads.
      // A frame some other owner already cached is used as is, and left
      // cached.
      val records = compute(days)
      val owned = records.storageLevel == StorageLevel.NONE
      if (owned) records.persist()
      try {
        val n = records.count()
        if (n > 0) // J4: never replace existing data with nothing
          EventsIngest.writeFactTable(records, factPath, "overwrite")
        RepairSummary(days.size, n, thePlan)
      } finally if (owned) records.unpersist(blocking = false)
    } catch {
      // J3: the source has aged past these days — mark them unrepairable
      // and keep whatever data exists instead of failing the whole batch
      // (the reference does this per-day in its loop; in the one-batch
      // formulation the whole requested range shares the source window)
      case e: Exception if isRetentionError(e.getMessage) =>
        RepairSummary(0, 0, thePlan.map(p =>
          if (p.action == "skip") p else p.copy(action = "unrepairable")))
    }
  }

  final case class RepairSummary(daysRepaired: Int, recordsWritten: Long,
      plan: Seq[DayPlan])

  /** J3: classify source errors that mean "the data has aged out" — the
    * reference string-matches the Prometheus error text (case-sensitive,
    * matching its exact behavior) and treats those days as unrepairable
    * rather than failed (cmd/repair/main.go:583-588).
    */
  def isRetentionError(message: String): Boolean = {
    val m = Option(message).getOrElse("")
    Seq("out of bounds", "too old", "retention").exists(m.contains)
  }

  /** W7: retention cleanup — drop all partitions older than the cutoff.
    * Partition-pruned read of the keep-set + atomic-ish rewrite per
    * partition via dynamic overwrite is not needed here: deleting old
    * partitions is a metadata operation on partition directories.
    *
    * The returned deleted-row count comes from the parquet FOOTERS
    * (`ParquetFileReader.getRecordCount`, a few KB of metadata per file)
    * — deleting 90 days of a 100 TB table must not first scan what it
    * deletes, which is what the previous `spark.read.parquet(...).count()`
    * per doomed partition did.
    */
  def retentionDelete(spark: SparkSession, factPath: String, cutoff: LocalDate): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path(factPath)
    // the fact path's own FS, not the default one: a file:// table under
    // an hdfs:// default must list and delete on the local FS
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) return 0L
    val doomed = fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .filter { st =>
        val name = st.getPath.getName // collect_date=YYYY-MM-DD
        name.startsWith("collect_date=") &&
          LocalDate.parse(name.stripPrefix("collect_date=")).isBefore(cutoff)
      }
    val n = doomed.map { st =>
      var cnt = 0L
      val it = fs.listFiles(st.getPath, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(f, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try cnt += r.getRecordCount finally r.close()
        }
      }
      fs.delete(st.getPath, true)
      cnt
    }.sum
    n
  }

  // ------------------------------------------------------- J8: CLI parse

  /** Parsed repair invocation (reference: cmd/repair/main.go:29-99). */
  final case class RepairCli(queryId: String, start: LocalDate, end: LocalDate,
      force: Boolean, dryRun: Boolean, skipIfNoData: Boolean)

  /** J8: the reference CLI's argument contract, faithfully —
    * `repair --query-id <id> <days>` or
    * `repair --query-id <id> <start_date> <end_date>`:
    *
    *  - flags: `--query-id` (required), `--force-recompute`, `--dry-run`,
    *    `--skip-if-no-data` (DEFAULT TRUE, as the reference declares it);
    *    Go's flag package accepts one or two leading dashes and
    *    `--flag=value`, and stops flag parsing at the first positional —
    *    all mirrored.
    *  - one positional: day count N > 0 → [yesterday-(N-1), yesterday]
    *    relative to the injected `today` (main.go:49-50,85-88 —
    *    `yesterday := now.AddDate(0,0,-1)`).
    *  - two positionals: explicit YYYY-MM-DD range, start must not be
    *    after end (main.go:57-73).
    *
    * `today` is injected, never read from the wall clock (the repo-wide
    * pinned-now discipline).
    */
  def parseArgs(args: Seq[String], today: LocalDate): Either[String, RepairCli] = {
    var queryId = ""
    var force = false; var dryRun = false; var skip = true
    var rest = args.toList
    val usage = "Usage: repair --query-id <query_id> <days> | " +
      "repair --query-id <query_id> <start_date> <end_date>"
    def boolVal(s: String): Either[String, Boolean] = s match {
      case "true" | "1" => Right(true)
      case "false" | "0" => Right(false)
      case other => Left(s"invalid boolean value \"$other\"")
    }
    while (rest.headOption.exists(a => a.startsWith("-") && a != "-" && a != "--")) {
      val arg = rest.head; rest = rest.tail
      val trimmed = arg.dropWhile(_ == '-')
      val (name, inlineVal) = trimmed.indexOf('=') match {
        case -1 => (trimmed, None)
        case i => (trimmed.take(i), Some(trimmed.drop(i + 1)))
      }
      name match {
        case "query-id" =>
          inlineVal.orElse { rest.headOption.map { v => rest = rest.tail; v } } match {
            case Some(v) => queryId = v
            case None => return Left("flag needs an argument: --query-id")
          }
        case "force-recompute" =>
          inlineVal.map(boolVal) match {
            case Some(Left(e)) => return Left(e)
            case Some(Right(b)) => force = b
            case None => force = true
          }
        case "dry-run" =>
          inlineVal.map(boolVal) match {
            case Some(Left(e)) => return Left(e)
            case Some(Right(b)) => dryRun = b
            case None => dryRun = true
          }
        case "skip-if-no-data" =>
          inlineVal.map(boolVal) match {
            case Some(Left(e)) => return Left(e)
            case Some(Right(b)) => skip = b
            case None => skip = true
          }
        case other => return Left(s"flag provided but not defined: -$other")
      }
    }
    if (queryId.isEmpty) return Left(s"Error: --query-id is required\n$usage")
    val yesterday = today.minusDays(1)
    rest match {
      case Nil => Left(s"Error: Please specify days or date range\n$usage")
      case d :: Nil =>
        d.toIntOption match {
          case None => Left(s"Failed to parse days: $d. $usage")
          case Some(n) if n <= 0 => Left("Days must be greater than 0")
          case Some(n) =>
            Right(RepairCli(queryId, yesterday.minusDays(n - 1L), yesterday,
              force, dryRun, skip))
        }
      case s :: e :: _ =>
        val parsed = try Right((LocalDate.parse(s), LocalDate.parse(e)))
        catch { case ex: java.time.format.DateTimeParseException =>
          Left(s"Failed to parse date: ${ex.getParsedString}")
        }
        parsed.flatMap { case (sd, ed) =>
          if (sd.isAfter(ed)) Left("Start date must be before end date")
          else Right(RepairCli(queryId, sd, ed, force, dryRun, skip))
        }
    }
  }
}
