package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session configuration — the settings that
  * matter at 100 TB, applied identically by the harness mains and any
  * deployment:
  *
  *  - `shuffle.partitions` sized to the core count (the harness runs
  *    local[32]; a cluster sets 2-3× total cores) — never the 200 default;
  *  - AQE on with partition coalescing and skew-join handling: runtime
  *    re-planning fixes what static sizing can't know;
  *  - dynamic partition overwrite: repair/idempotent writes replace only
  *    the partitions they produce (SURVEY §1.4);
  *  - 256 MiB file splits: at 100 TB the default 128 MiB doubles the task
  *    count for no scan benefit on wide parquet;
  *  - UTC session time — every day-truncation in the engine assumes it;
  *  - nanosAsLong for the fixture parquet's TIMESTAMP(NANOS);
  *  - the graft extension functions (native DotProductQ) registered at
  *    build time, with the physical rules that ride along (cached-scan
  *    wrap, time-literal binding);
  *  - a generated-class cache sized to the working set
  *    ([[CodegenCacheEntries]]): with time literals bound out of the
  *    source, a repeated query shape compiles once per session — but
  *    only if its classes are still cached when it comes round again.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`, a static conf (fixed when the
    * first session of the JVM builds). Spark's default LRU holds 100
    * classes; one 14-panel dashboard cycle needs about 200, and one pass
    * of the 235-query pack compiled 2,104 distinct classes at sf0.01
    * (about 2,400 after a second pass) — so 100 evicted every class
    * before its next use. 4,000 holds the pack's working set with room
    * for the stale one-off classes the LRU drops first. Retained
    * classes cost heap: the dashboard benchmark keeps about 220 and
    * read +5 MiB (+5%) live heap against the 100-entry cache.
    */
  val CodegenCacheEntries: Int = 4000

  def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE's parallelismFirst coalescing respects only minPartitionSize
      // (it ignores the advisory target), and the 1 MiB default collapses
      // every fixture-scale shuffle to ONE post-shuffle task — each
      // window/aggregate after a small exchange then runs single-threaded
      // while 31 cores idle (measured: full pack 64.4 s at 1m vs 57.7 s
      // at 64k, same tree; tfidf_topk's doc-window stage 200 ms → spread).
      // At cluster scale partitions sit near the 64 MiB advisory size, so
      // a 64 KiB floor never binds — this is purely the small-shuffle
      // parallelism guard, the AQE twin of Parallelism.widen's scan floor.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.files.maxPartitionBytes", "268435456")
      // The session caches are this engine's buffer pool, and the
      // storage analogy carries to its compression too: on-disk blocks
      // (parquet) stay compressed, but hot buffer-pool pages serve raw —
      // every production database decompresses INTO the pool, because a
      // pool page is re-read many times and decompression is a per-read
      // CPU tax. Spark's in-memory columnar cache instead re-pays
      // per-batch decompression on every scan; measured on the
      // session-cached fact frame at sf0.1 that tax is ~12% of scan+agg
      // time (in-JVM interleaved A/B, 40 scans per layout: ratio 0.875;
      // the full-pack effect sits inside the box's noise band). The
      // harness box trades abundant memory for that CPU; it is a runtime
      // SQL conf, so a memory-constrained deployment sets it back to true
      // per session (`spark.conf.set`) exactly like sizing a real pool.
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Harness entry: local master with `cores` threads. */
  def local(cores: Int): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
