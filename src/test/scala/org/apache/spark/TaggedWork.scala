package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** The Spark jobs and tasks one block of code submitted. */
final case class Work(jobs: Int, tasks: Int)

/** Counts the work a block submits: the jobs and stages carrying a tag
  * that the block's thread sets as a local property, which AQE stage jobs
  * inherit from the submitting thread, so other threads' work is left
  * out. Tasks are counted per submitted stage, so a stage AQE reuses (and
  * skips) adds none. */
object TaggedWork {
  private val TagKey = "graft.test.workTag"

  def apply[T](sc: SparkContext)(body: => T): (T, Work) = {
    val tag = java.util.UUID.randomUUID().toString
    def tagged(p: java.util.Properties) = Option(p).exists(_.getProperty(TagKey) == tag)
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagged(e.properties)) tasks.addAndGet(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(TagKey, tag)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, Work(jobs.get, tasks.get))
    } finally {
      sc.setLocalProperty(TagKey, null)
      sc.removeSparkListener(listener)
    }
  }
}
