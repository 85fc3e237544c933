package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark jobs, submitted stages and started SQL executions of one block
  * of driver code (its own job group). A stage whose output is already
  * cached or shuffled is skipped, not submitted, so `stages == jobs`
  * means no shuffle ran. Lives in the spark package for the one
  * package-private hook it needs: draining the listener bus before the
  * counts are read. */
object JobCounts {
  final case class Counts(jobs: Int, stages: Int, sqlExecutions: Int)

  def of[T](sc: SparkContext)(body: => T): Counts = {
    val group = s"job-counts-${System.nanoTime()}"
    val jobs, stages, sqlExecutions = new AtomicInteger()
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(groupStages.add)
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          sqlExecutions.incrementAndGet()
        case _ => ()
      }
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
    Counts(jobs.get, stages.get, sqlExecutions.get)
  }
}
