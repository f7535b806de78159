package org.apache.spark

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskStart}

/** The number of Spark jobs `f` launches from the calling thread. Jobs
  * are told apart by a job group set for the call, so other threads'
  * jobs are not counted. Waiting for the listener bus to drain needs
  * its private API, hence this package. */
object JobCount {
  def apply(sc: SparkContext)(f: => Unit): Int = jobs(sc)(f).size

  /** The jobs `f` launches from the calling thread, in launch order:
    * each one's call site (its result stage's name, such as
    * `parquet at Tables.scala:<line>`) and the number of tasks it started. */
  def jobs(sc: SparkContext)(f: => Unit): Seq[(String, Int)] = {
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val sites = TrieMap[Int, String]()
    val stageJob = TrieMap[Int, Int]()
    val tasks = TrieMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)) {
          sites(e.jobId) = e.stageInfos.maxBy(_.stageId).name
          e.stageIds.foreach(stageJob(_) = e.jobId)
        }
      // the bus delivers events one at a time, so the count needs no lock
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        stageJob.get(e.stageId).foreach(j =>
          tasks(j) = tasks.getOrElse(j, 0) + 1)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sites.toSeq.sortBy(_._1).map { case (j, s) => (s, tasks.getOrElse(j, 0)) }
    } finally sc.removeSparkListener(listener)
  }
}
