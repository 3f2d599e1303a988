package graft
import org.apache.spark.sql.SparkSession

/** Dev profiler for the streaming gate block: times every `*_stream`
  * query (Bench-style min-of-2 after a warm run) in one JVM and prints a
  * per-gate table plus the block total, to attribute stream-block cost
  * without paying a full Bench pass.
  * Usage: runMain graft.StreamBench [sfDir]
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir =
      if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    graft.ingest.EventsIngest.cachedMetrics(spark, sfDir).count()
    val gates = SparkEntry.queries.filter(_._1.endsWith("_stream")).toSeq.sortBy(_._1)
    // one untimed pass: codegen + fixture build land here, like Bench's
    // warmup pass + first-run fixture cost
    gates.foreach { case (_, fn) => fn(spark, sfDir).count() }
    graft.ext.CacheScope.drain()
    val times = gates.map { case (name, fn) =>
      def run(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        graft.ext.CacheScope.drain()
        sec
      }
      val sec = math.min(run(), run())
      println(f"STREAMBENCH $name%-28s ${sec}%.3f")
      name -> sec
    }
    println(f"STREAMBENCH TOTAL ${times.map(_._2).sum}%.3f over ${times.size} gates")
    spark.stop()
  }
}
