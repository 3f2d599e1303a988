package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs and completed stages a block starts. Waits for
  * the listener bus to deliver every event before and after the block,
  * so the counts are exact, with no settling sleep; the bus is
  * package-private to Spark, hence this package.
  */
object RunCounter {

  final case class Stage(id: Int, name: String, tasks: Int, taskMs: Long,
    wallMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long)

  final case class Counts(jobs: Int, stages: Seq[Stage]) {
    def tasks: Int = stages.map(_.tasks).sum
    def taskMs: Long = stages.map(_.taskMs).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def spillBytes: Long = stages.map(_.spillBytes).sum
  }

  def apply[T](sc: SparkContext)(body: => T): (T, Counts) = {
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[Stage]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = for (s <- si.submissionTime; c <- si.completionTime) yield c - s
        stages.add(Stage(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
          m.executorRunTime, wall.getOrElse(-1L),
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, Counts(jobs.get, stages.asScala.toSeq.sortBy(_.id)))
    } finally sc.removeSparkListener(listener)
  }

  /** The number of Spark jobs `body` starts. */
  def jobs[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, counts) = apply(sc)(body)
    (out, counts.jobs)
  }
}
