package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskKilled
import org.apache.spark.scheduler._

/** Per-layer counters for the traced run.
  *
  * Every job carries the layer that launched it in the local property
  * [[Tracer.LayerKey]], and its query id in [[Tracer.QueryKey]]. The
  * benchmark sets both on the calling thread before each call into a
  * layer (Spark copies local properties into threads the caller starts,
  * so the canceller's worker inherits "cancel"). Stages and tasks are
  * attributed through their job. The listener is registered only in
  * traced runs; untraced runs set the properties too (a map write per
  * call) but nothing reads them.
  */
final class Tracer extends SparkListener {
  import Tracer._

  final class Counts {
    val jobs, jobsCancelled, stages, tasks, tasksKilled = new AtomicLong
    val taskRunMs, taskCpuNs, shuffleReadB, shuffleWriteB, spillB = new AtomicLong
  }

  private val byLayer = new ConcurrentHashMap[String, Counts]()
  private val stageLayer = new ConcurrentHashMap[Integer, String]()
  private val jobLayer = new ConcurrentHashMap[Integer, String]()

  def counts(layer: String): Counts = byLayer.computeIfAbsent(layer, _ => new Counts)

  /** Zero every counter (called when the measured window opens). */
  def reset(): Unit = byLayer.clear()

  private val queryJobs = new ConcurrentHashMap[(String, String), AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val layer = prop(LayerKey).getOrElse("other")
    jobLayer.put(e.jobId, layer)
    e.stageIds.foreach(s => stageLayer.put(s, layer))
    counts(layer).jobs.incrementAndGet()
    prop(QueryKey).foreach { q =>
      queryJobs.computeIfAbsent((q, layer), _ => new AtomicLong).incrementAndGet()
    }
  }

  /** Jobs per layer launched under one query id. */
  def jobsOf(query: String): Map[String, Long] =
    queryJobs.asScala.collect { case ((q, l), n) if q == query => l -> n.get }.toMap

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val layer = Option(jobLayer.remove(e.jobId)).getOrElse("other")
    if (e.jobResult != JobSucceeded) counts(layer).jobsCancelled.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counts(layerOf(e.stageInfo.stageId)).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(layerOf(e.stageId))
    c.tasks.incrementAndGet()
    if (e.reason.isInstanceOf[TaskKilled]) c.tasksKilled.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs.addAndGet(m.executorRunTime)
      c.taskCpuNs.addAndGet(m.executorCpuTime)
      c.shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def layerOf(stageId: Int): String =
    Option(stageLayer.get(stageId)).getOrElse("other")

  // ---- spans ---------------------------------------------------------

  private val spans = mutable.ArrayBuffer[Span]()
  private val nextId = new AtomicLong

  /** Time `body` as a span named `name` under `parent` (0 = root). */
  def span[T](query: String, name: String, parent: Long)(body: Long => T): T = {
    val id = nextId.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      spans.synchronized { spans += Span(query, id, parent, name, t0, t1) }
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Seconds per span name among the spans of one query id. */
  def durations(query: String): Map[String, Double] =
    spans.synchronized(spans.filter(_.query == query).map(s => s.name -> s.seconds).toMap)

  def spanJsonLines: Iterator[String] = allSpans.iterator.map { s =>
    s"""{"query":${Json.str(s.query)},"id":${s.id},"parent":${s.parent},""" +
      s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }

  def layers: Seq[String] = byLayer.keySet.asScala.toSeq.sorted
}

object Tracer {
  val LayerKey = "perfbench.layer"
  val QueryKey = "perfbench.query"

  final case class Span(query: String, id: Long, parent: Long, name: String,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}
