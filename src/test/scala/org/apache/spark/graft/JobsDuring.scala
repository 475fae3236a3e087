package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs `body` starts on the calling thread (tagged with a
  * fresh job group), read only after the listener bus has delivered every
  * event — `waitUntilEmpty` is `private[spark]`. */
object JobsDuring {
  def apply(sc: SparkContext)(body: => Any): Int = {
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    started.get
  }
}
