package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped artifact memo — the engine's buffer pool. Hot base
  * frames (the ingested fact frame, the documents/embeddings corpus)
  * are read by every registered query; materializing the scan (plus the
  * one-time parallelism-floor shuffle, see [[graft.ext.Parallelism]])
  * once per session turns a per-query cost into session warmup, exactly
  * like a warehouse warming its buffer pool. Long-lived sessions (Bench,
  * Verify, the daemon) then serve hundreds of queries off the cached
  * frames; [[graft.ext.CacheScope.drain]] deliberately does NOT touch
  * these — they are the documented steady state.
  *
  * One store: per session, a map from key to an at-most-once [[Cell]].
  * Frames ([[memo]]), driver-side values ([[memoValue]]) and the
  * statement cache's optimized plans ([[planCachedPack]]) all live in
  * it, so frame, value and plan keys share one key space. Session
  * artifacts — vocabularies, indexes, codebooks, trained centroids —
  * go through [[persisted]], which owns the ONE re-persist guard: a
  * frame unpersisted externally (`spark.catalog.clearCache()`) is
  * re-persisted on its next access. A helper whose build reads another
  * persisted artifact binds that parent BEFORE its own `persisted`
  * call: Spark substitutes cached fragments into a plan when it is
  * persisted, so a re-persist with the parent still evicted would embed
  * (and compute a second time) the parent's whole lineage.
  *
  * Keying discipline (inherited from the original fact-frame memo): the
  * outer map keys on the session by exact IDENTITY — an identity hash
  * can be reused after GC and hand a new session a frame bound to a
  * stopped context. Weak keying alone cannot collect an entry here (the
  * cached DataFrames strongly reference their session — the classic
  * value→key cycle), so entries are ALSO removed explicitly by ONE
  * application-end listener per SparkContext that clears the map
  * without capturing any session (see [[registerCleanup]]).
  */
object TableCache {
  /** At-most-once cell: created (cheaply, empty) under the session
    * map's lock, filled OUTSIDE it under its OWN monitor, so a slow
    * first build serializes only callers of ITS key. The thunk is
    * passed at ACCESS time, not stored: a failed build leaves the cell
    * empty and the next caller's own builder runs — exactly the
    * semantics getOrElseUpdate had (a stored first-caller thunk would
    * re-run the first caller's closure forever and retain it for the
    * session's lifetime).
    */
  private final class Cell {
    private var v: AnyRef = null
    def value(build: => AnyRef): AnyRef = synchronized {
      if (v == null) {
        val built = build
        // null sentinel doubles as the "not yet built" marker, so a
        // null-returning builder must fail fast here — otherwise it
        // would silently re-run on every access forever
        require(built != null, "TableCache builder returned null")
        v = built
      }
      v
    }
  }

  private val sessions =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, Cell]]()

  /** The cell for (session, key). The session-wide locks cover only
    * map and cell creation; the builder itself runs under the cell's
    * own monitor, so one family's slow first build (a driver-side
    * collect, a multi-stage fixture materialization) never blocks
    * another key's lookup, and a builder that memoizes a DIFFERENT key
    * recursively is safe for the same reason.
    */
  private def cell(spark: SparkSession, key: String): Cell = {
    registerCleanup(spark)
    val perSession = sessions.synchronized {
      var m = sessions.get(spark)
      if (m == null) {
        m = scala.collection.mutable.Map.empty[String, Cell]
        sessions.put(spark, m)
      }
      m
    }
    perSession.synchronized(perSession.getOrElseUpdate(key, new Cell))
  }

  /** A memoized session value for `key` (a collected bloom filter's
    * bytes, a codebook, a written fixture path), built at most once per
    * (session, key). Unlike a persisted frame, a value cannot be
    * evicted by a cache clear; it lives until application end.
    */
  def memoValue[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T =
    cell(spark, key).value(build).asInstanceOf[T]

  /** The memoized frame for `key` — memoization only, no persistence. */
  def memo(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memoValue(spark, key)(build)

  /** A session artifact: the memoized frame for `key`, persisted
    * whenever its storage level is NONE — on first build and again
    * after an external cache clear evicted it. Bind any persisted
    * parent the build reads BEFORE this call (see the object doc).
    */
  def persisted(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    guarded(spark, key)(build)._1

  /** [[persisted]] plus one eager fill whenever this call (re)persisted
    * the frame, so concurrent consumers never race an empty cache: for
    * base frames many queries read (the fact frame, whose fill
    * perfbench times as `setup_s`).
    */
  def getOrBuild(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val (df, fresh) = guarded(spark, key)(build)
    if (fresh) df.count()
    df
  }

  /** The re-persist guard — the only one in the engine. Returns the
    * frame and whether this call persisted it.
    */
  private def guarded(spark: SparkSession, key: String)(
      build: => DataFrame): (DataFrame, Boolean) = {
    val df = memo(spark, key)(build)
    val evicted = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (evicted) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (df, evicted)
  }

  // (A round-18 `getOrCheckpoint` RDD-leaf sibling lived here briefly —
  // it restored AQE exchange reuse over session artifacts but lost the
  // columnar cache's batch-stat and column pruning; superseded by the
  // GraftWrapCachedScans query-stage-prep rule, which fixes the reuse
  // on this persisted form directly. See OPTIMIZATION_r18.md finding 1.)

  /** One listener per CONTEXT that has already registered. Weak keys:
    * a stopped, collected context must not pin this guard map either.
    */
  private val cleanupRegistered =
    new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]()

  /** Registers the application-end cleanup exactly once per
    * SparkContext. The listener captures NO session (a strongly
    * captured session key would defeat the WeakHashMap for the
    * application's lifetime) and is context-scoped, so derived
    * sessions (`spark.newSession()`) don't stack additional listeners
    * on the shared context. Clearing the map wholesale at
    * application end is sound because Spark permits one active context
    * at a time: every live entry belongs to a session of the context
    * that just ended, and entries of previously stopped contexts were
    * cleared by their own end event.
    */
  private def registerCleanup(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    cleanupRegistered.synchronized {
      if (cleanupRegistered.get(sc) == null) {
        cleanupRegistered.put(sc, java.lang.Boolean.TRUE)
        sc.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
              sessions.synchronized { sessions.clear() }
            }
          })
      }
    }
  }

  /** Statement cache for a pack of PURE query builders — the
    * prepared-statement analogue, caching what a warehouse's statement
    * cache actually stores: the OPTIMIZED logical plan. Per (session,
    * query, dataset) the builder runs once and its plan is carried
    * through analysis + optimization once; every subsequent call wraps
    * that plan in a FRESH DataFrame (fresh physical planning → fresh
    * Exchange nodes → fresh shuffles), so each action still recomputes
    * the full result from the base tables. Only the repeated
    * parse/plan-construction/analysis/optimization work (measured
    * 60–150 ms per action on deep plans) is served from the cache.
    * The wrapper must stay a NEW Dataset per call: re-executing a
    * memoized Dataset's own RDD would reuse the previous run's shuffle
    * map outputs and measure almost nothing.
    * ONLY for packs whose every entry is a pure plan builder (no writes,
    * no driver-side collects, no persist-tracked scratch frames, no
    * streaming runs) — wrapping an impure builder would skip the very
    * work its gate measures. Purity here also freezes the optimized
    * plan for the session: a builder whose PLAN depends on mutable
    * session state (not just its timing) is doubly unsafe to cache.
    */
  def planCachedPack(
      pack: Map[String, ((SparkSession, String) => DataFrame, String)],
      except: Set[String] = Set.empty)
      : Map[String, ((SparkSession, String) => DataFrame, String)] =
    pack.map {
      case (name, entry) if except(name) => name -> entry
      case (name, (fn, sql)) =>
        name -> (((spark: SparkSession, sfDir: String) => {
          val opt = memoValue(spark, s"plan#$name#$sfDir")(
            org.apache.spark.sql.graft.PlanShim.optimizedPlan(fn(spark, sfDir)))
          org.apache.spark.sql.graft.PlanShim.ofRows(spark, opt)
        }, sql))
    }

  /** A parquet table widened to the parallelism floor, MEMOIZED but not
    * persisted: the standard read path for corpus tables. The memo
    * avoids re-planning the widen guard (`rdd.getNumPartitions` builds a
    * physical plan) on every query; keeping the frame unpersisted keeps
    * the parquet scan — with its column pruning, filter pushdown, and
    * size statistics — visible to every consumer's plan, which an
    * InMemoryRelation would hide. (A corpus table is also exactly the
    * frame that does NOT fit a buffer pool at 100 TB, unlike the
    * fact-frame projection behind [[getOrBuild]].)
    */
  def widenedParquet(spark: SparkSession, path: String,
      widenKey: Seq[String] = Nil): DataFrame =
    // widenKey (round 19): hash-widen by the table's unique id — the
    // downstream per-id aggregates then read a satisfying partitioning
    // and skip their exchange (see [[graft.ext.Parallelism.widen]]).
    // Constant per path, so the memo key stays the path alone.
    memo(spark, path)(
      graft.ext.Parallelism.widen(spark.read.parquet(path),
        keys = widenKey.map(org.apache.spark.sql.functions.col)))
}
