package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The number of Spark jobs `f` launches from the calling thread. Jobs
  * are told apart by a job group set for the call, so other threads'
  * jobs are not counted. Waiting for the listener bus to drain needs
  * its private API, hence this package. */
object JobCount {
  def apply(sc: SparkContext)(f: => Unit): Int = {
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      n.get
    } finally sc.removeSparkListener(listener)
  }
}
