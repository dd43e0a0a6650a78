package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches: a listener filtered on a
  * fresh job group, read once the listener bus has delivered every
  * event (`waitUntilEmpty` is `private[spark]`, hence this package).
  */
object JobCounter {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-counter-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block")
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
