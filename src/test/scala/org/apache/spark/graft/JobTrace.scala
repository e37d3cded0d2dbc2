package org.apache.spark.graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** The Spark jobs a block starts and the shuffle bytes their stages
  * write. Only jobs of the block's own job group count, so work left
  * running by other code is not charged to it; the listener bus is
  * drained before the counts are read, so they are exact, not sampled. */
object JobTrace {

  final case class Counts(jobs: Int, shuffleBytes: Long)

  def apply[T](sc: SparkContext)(body: => T): (T, Counts) = {
    val group = s"graft-job-trace-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val shuffleBytes = new AtomicLong
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)) {
          jobs.incrementAndGet()
          j.stageIds.foreach(stages.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId))
          Option(e.stageInfo.taskMetrics).foreach(m =>
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job trace")
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, Counts(jobs.get, shuffleBytes.get))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
