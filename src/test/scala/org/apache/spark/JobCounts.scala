package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Spark jobs and submitted stages of one block of driver code (its
  * own job group). A stage whose output is already cached or shuffled
  * is skipped, not submitted, so `stages == jobs` means no shuffle ran.
  * Lives in the spark package for the one package-private hook it
  * needs: draining the listener bus before the counts are read. */
object JobCounts {
  final case class Counts(jobs: Int, stages: Int)

  def of[T](sc: SparkContext)(body: => T): Counts = {
    val group = s"job-counts-${System.nanoTime()}"
    val jobs, stages = new AtomicInteger()
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(groupStages.add)
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    Counts(jobs.get, stages.get)
  }
}
