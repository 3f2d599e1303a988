package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.TableCache

/** Contract of TableCache's per-key cells (round 12): the
  * builder runs AT MOST ONCE per (session, key) under a thread race, a
  * slow build of one key never blocks a different key's lookup (the
  * session-wide map lock covers cell creation only — the property the
  * round-12 review fix exists for; under the old build-under-map-lock
  * scheme the cross-key test below deadlocks its 10 s timeout), and a
  * failed build leaves the cell empty so the next caller retries WITH
  * ITS OWN thunk (the cell stores no builder — pinning the first
  * caller's closure would re-run a broken build forever and retain the
  * closure for the session's lifetime).
  */
class MemoConcurrencySpec extends SparkSpec {

  test("memo builds at most once per key under a 16-thread race") {
    val built = new AtomicInteger(0)
    val go = new CountDownLatch(1)
    val key = "memoSpec#race#" + System.nanoTime()
    val pool = Executors.newFixedThreadPool(16)
    try {
      val futures = (0 until 16).map { _ =>
        pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = {
            go.await()
            TableCache.memo(spark, key) {
              built.incrementAndGet()
              spark.range(1).toDF("x")
            }
          }
        })
      }
      go.countDown()
      val out = futures.map(_.get(30, TimeUnit.SECONDS))
      assert(built.get() == 1, s"builder ran ${built.get()} times")
      // every racer gets the SAME frame instance, not an equal copy
      assert(out.forall(_ eq out.head))
    } finally pool.shutdown()
  }

  test("a slow build of one key does not block another key's memo access") {
    val slowEntered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slowKey = "memoSpec#slow#" + System.nanoTime()
    val fastKey = "memoSpec#fast#" + System.nanoTime()
    val pool = Executors.newFixedThreadPool(2)
    try {
      val slow = pool.submit(new Callable[Unit] {
        def call(): Unit = {
          TableCache.memo(spark, slowKey) {
            slowEntered.countDown()
            release.await() // a "collect job" in flight
            spark.range(1).toDF("x")
          }
          ()
        }
      })
      assert(slowEntered.await(10, TimeUnit.SECONDS))
      // with the slow build parked inside ITS holder, a different key
      // must complete — under a map-wide build lock this get times out
      val fast = pool.submit(new Callable[Unit] {
        def call(): Unit = { TableCache.memo(spark, fastKey)(spark.range(2).toDF("x")); () }
      })
      fast.get(10, TimeUnit.SECONDS)
      release.countDown()
      slow.get(10, TimeUnit.SECONDS)
    } finally {
      // on ANY failure path: unpark the slow builder and interrupt the
      // pool, so a reintroduced map-wide lock reports as a test failure
      // rather than a hung non-daemon thread wedging the JVM
      release.countDown()
      pool.shutdownNow()
      ()
    }
  }

  test("a slow statement-cache build does not block another query's plan") {
    // planCachedPack keeps its optimized plans in the same per-key cells:
    // one query's slow first build (a builder that collects, a deep
    // plan's optimization) must not hold a lock another query needs
    val slowEntered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slowName = "memoSpec_slow_" + System.nanoTime()
    val fastName = "memoSpec_fast_" + System.nanoTime()
    val pack = TableCache.planCachedPack(Map(
      slowName -> (((s: SparkSession, _: String) => {
        slowEntered.countDown()
        release.await()
        s.range(1).toDF("x")
      }, "")),
      fastName -> (((s: SparkSession, _: String) => s.range(2).toDF("x"), ""))))
    val pool = Executors.newFixedThreadPool(2)
    try {
      val slow = pool.submit(new Callable[DataFrame] {
        def call(): DataFrame = pack(slowName)._1(spark, "sf")
      })
      assert(slowEntered.await(10, TimeUnit.SECONDS))
      val fast = pool.submit(new Callable[DataFrame] {
        def call(): DataFrame = pack(fastName)._1(spark, "sf")
      })
      assert(fast.get(10, TimeUnit.SECONDS).count() == 2)
      release.countDown()
      slow.get(10, TimeUnit.SECONDS)
    } finally {
      release.countDown()
      pool.shutdownNow()
      ()
    }
  }

  test("a failed build is retried with the RETRYING caller's own thunk") {
    val key = "memoSpec#retry#" + System.nanoTime()
    intercept[RuntimeException] {
      TableCache.memo(spark, key)(sys.error("first caller's build dies"))
    }
    // the failed cell must not have pinned the first caller's thunk:
    // the next caller's own builder runs (getOrElseUpdate semantics)
    val secondRan = new AtomicInteger(0)
    val ok = TableCache.memo(spark, key) {
      secondRan.incrementAndGet(); spark.range(3).toDF("x")
    }
    assert(secondRan.get() == 1)
    // and the success is cached: a third thunk is never evaluated
    val again = TableCache.memo(spark, key)(sys.error("must not run"))
    assert(ok eq again)
  }
}
