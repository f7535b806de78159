package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Cancel, QueryDef, Registry, Tables}
import graft.sources.{CorpusGen, DataGen}

/** One benchmark run in one JVM: generate (or reuse) the seed's inputs,
  * set up three times, run one untimed check pass whose outputs `run.py`
  * compares with the DuckDB oracle, then a closed loop of passes over the
  * workload's frozen query list, each query completed and then cancelled
  * a few times, until the measured window closes. Raw samples go to the
  * output file as JSON; `run.py` turns them into metrics.
  *
  * Layers are timed from outside, around their public entry points:
  * `QueryDef.run` (operators: construction, including its eager jobs),
  * `queryExecution.executedPlan` (plans, traced runs only), the noop
  * write (execution) and `Cancel.runWithCancel` (cancel).
  *
  * Usage: LayerBench <spec.json> <workload> <seed> <seconds> <trace 0|1>
  *        <workDir> <out.json>
  */
object LayerBench {

  /** A query of the workload: its name, its construction, its oracle. */
  final case class Op(name: String, construct: SparkSession => DataFrame,
      oracle: Option[String])

  final case class Spec(kind: String, scale: Double, files: Int, rowsPerFile: Long,
      queries: Seq[String], cancelsPerVisit: Int, warmPasses: Int)

  def readSpec(path: Path, workload: String): Spec = {
    val all = Json.read(path)
    val w = all.get(workload)
    require(w != null, s"unknown workload '$workload' (spec: $path)")
    Spec(
      kind = w.get("kind").asText,
      scale = w.path("scale").asDouble(0.0),
      files = w.path("files").asInt(0),
      rowsPerFile = w.path("rows_per_file").asLong(0L),
      queries = w.path("queries").elements().asScala.map(_.asText).toSeq,
      cancelsPerVisit = w.get("cancels_per_visit").asInt,
      warmPasses = w.path("warm_passes").asInt(0))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: LayerBench <spec.json> <workload> <seed> " +
      "<seconds> <trace 0|1> <workDir> <out.json>")
    val spec = readSpec(Paths.get(args(0)), args(1))
    val seed = args(2).toLong
    val seconds = args(3).toDouble
    val trace = args(4) == "1"
    val work = Paths.get(args(5)).toAbsolutePath
    val out = Paths.get(args(6))
    val result = new Run(spec, seed, seconds, trace, work).execute()
    Files.writeString(out, Json.render(result))
  }

  // ---- environment probes ----------------------------------------------

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime
    else 0L
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Block-manager bytes held by persisted and checkpointed RDDs. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Drop what a finished query left in the block manager, as graft.Bench
    * does between queries, so one query's checkpoints never squeeze the
    * next query's execution memory. */
  def clearPersisted(spark: SparkSession, keep: Set[Int]): Unit = {
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Count nodes of a physical plan by class-name prefix, looking through
    * AQE: an unexecuted adaptive plan's `executedPlan` is its initial
    * plan, exchanges included. */
  def countNodes(plan: org.apache.spark.sql.execution.SparkPlan, kind: String): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    root.collect { case p if p.getClass.getSimpleName.startsWith(kind) => p }.size +
      root.subqueriesAll.map(countNodes(_, kind)).sum
  }

  private final class Run(spec: Spec, seed: Long, seconds: Double, trace: Boolean,
      work: Path) {

    private val cores = Runtime.getRuntime.availableProcessors
    private val tracer = new Tracer
    private val rng = new scala.util.Random(seed)

    private val inputDir: Path = spec.kind match {
      case "corpus" => work.resolve(s"inputs/corpus_scale${spec.scale}_seed$seed")
      case "test_table" =>
        work.resolve(s"inputs/test_table_${spec.files}x${spec.rowsPerFile}_seed$seed")
      case other => throw new IllegalArgumentException(s"unknown workload kind '$other'")
    }

    private def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    /** Write the seed's inputs once; later runs with the same seed reuse
      * them. Written to a temporary directory and renamed, so a run that
      * dies mid-write leaves nothing a later run would trust. Returns the
      * seconds generation took when it ran. */
    private def generateInputs(spark: SparkSession): Double = {
      val stamp = inputDir.resolve("_GEN_SECONDS")
      if (Files.exists(stamp)) return Files.readString(stamp).trim.toDouble
      val tmp = inputDir.resolveSibling(inputDir.getFileName.toString + ".tmp")
      deleteTree(tmp)
      val t0 = System.nanoTime()
      spec.kind match {
        case "corpus" => CorpusGen.write(spark, tmp.toString, spec.scale, seed)
        case _ => DataGen.generate(spark, tmp.toString, spec.files, spec.rowsPerFile, seed)
      }
      val g = secs(t0, System.nanoTime())
      Files.writeString(tmp.resolve("_GEN_SECONDS"), g.toString)
      deleteTree(inputDir)
      Files.move(tmp, inputDir, StandardCopyOption.ATOMIC_MOVE)
      g
    }

    private def deleteTree(p: Path): Unit =
      if (Files.exists(p)) {
        val w = Files.walk(p)
        try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
        finally w.close()
      }

    /** The ids of RDDs that belong to the inputs (the cached test_table),
      * which must survive the per-query cleanup. */
    private var inputRdds = Set.empty[Int]

    private def loadInputs(spark: SparkSession): Unit = spec.kind match {
      case "corpus" => Tables.registerAll(spark, inputDir.toString)
      case _ =>
        DataGen.loadTestTable(spark, inputDir.toString, persist = true)
        inputRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    }

    private def resolveOps(): Seq[Op] = spec.queries.map {
      case "ref_distinct_cancel" =>
        Op("ref_distinct_cancel", DataGen.distinctQuery(_), None)
      // Self-test queries: one that throws, one that returns a wrong
      // result under a real query's oracle. Neither may count as success.
      case "selftest_throws" =>
        Op("selftest_throws", _ => throw new IllegalStateException("selftest"), None)
      case "selftest_wrong" =>
        val real = Registry.byName("ref_distinct")
        Op("selftest_wrong", s => real.run(s, inputDir.toString).limit(1), real.oracle)
      case name =>
        val d: QueryDef = Registry.byName.getOrElse(name,
          throw new IllegalArgumentException(s"unknown registry query '$name'"))
        Op(d.name, s => d.run(s, inputDir.toString), d.oracle)
    }

    private def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    private def setLayer(spark: SparkSession, layer: String): Unit =
      spark.sparkContext.setLocalProperty(Tracer.LayerKey, layer)

    // ---- phases ---------------------------------------------------------

    def execute(): Map[String, Any] = {
      val res = mutable.LinkedHashMap[String, Any]()
      res("cores") = cores

      // Set-up, three times: session start plus input load. Generation
      // runs inside the first set-up but is excluded from its time.
      val setups = mutable.ArrayBuffer[Double]()
      val loads = mutable.ArrayBuffer[Double]()
      var spark: SparkSession = null
      var genS = 0.0
      for (rep <- 0 until 3) {
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        spark = session()
        var excluded = 0L
        if (rep == 0) {
          val g0 = System.nanoTime()
          genS = generateInputs(spark)
          excluded = System.nanoTime() - g0
        }
        val l0 = System.nanoTime()
        loadInputs(spark)
        val t1 = System.nanoTime()
        loads += secs(l0, t1)
        setups += secs(t0, t1 - excluded)
      }
      res("setup_s") = setups.toList
      res("load_s") = loads.toList
      res("gen_s") = genS
      res("cached_mb") = storageMb(spark)

      val ops = resolveOps()
      res("oracle") = ops.flatMap(o => o.oracle.map(o.name -> _)).toMap
      res("input_dir") = inputDir.toString

      // Untimed check pass, which also warms the JIT and codegen caches.
      // Corpus queries run concurrently, each on its own session as
      // graft.Verify runs them; the test_table view lives in this session.
      val checkDir = work.resolve("check")
      deleteTree(checkDir)
      val w0 = System.nanoTime()
      def check(session: SparkSession, op: Op): (String, Map[String, Any]) =
        op.name -> (try {
          val df = op.construct(session)
          if (spec.kind == "corpus") {
            val dir = checkDir.resolve(op.name).toString
            df.write.mode("overwrite").parquet(dir)
            Map("dir" -> dir)
          } else Map("rows" -> df.count())
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] check ${op.name} failed: $e")
            Map("error" -> e.toString)
        })
      val checks =
        if (spec.kind != "corpus") ops.map(check(spark, _)).toMap
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
          try ops.map(op => pool.submit(() => check(spark.newSession(), op)))
            .map(_.get()).toMap
          finally pool.shutdown()
        }
      clearPersisted(spark, inputRdds)
      // Cheap workloads keep speeding up for several more passes; a fixed
      // number of untimed passes moves that out of the window.
      for (_ <- 0 until spec.warmPasses; op <- ops) {
        try noop(op.construct(spark))
        catch { case _: Throwable => () } // the check pass records failures
        finally clearPersisted(spark, inputRdds)
      }
      res("checks") = checks
      res("warmup_s") = secs(w0, System.nanoTime())

      tracer.reset()
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      val jit0 = jitMs

      val (completions, passes, cancels) = measure(spark, ops)

      res("completions") = completions
      res("passes") = passes
      res("cancels") = cancels
      res("jvm") = Map(
        "gc_s" -> (gcMs - gc0) / 1000.0,
        "jit_s" -> (jitMs - jit0) / 1000.0,
        "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
      if (trace) {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        res("layers") = tracer.layers.map { l =>
          val c = tracer.counts(l)
          l -> Map(
            "jobs" -> c.jobs.get, "jobs_cancelled" -> c.jobsCancelled.get,
            "stages" -> c.stages.get, "tasks" -> c.tasks.get,
            "tasks_killed" -> c.tasksKilled.get,
            "task_run_s" -> c.taskRunMs.get / 1000.0,
            "task_cpu_s" -> c.taskCpuNs.get / 1e9,
            "shuffle_read_mb" -> c.shuffleReadB.get / 1048576.0,
            "shuffle_write_mb" -> c.shuffleWriteB.get / 1048576.0,
            "spill_mb" -> c.spillB.get / 1048576.0)
        }.toMap
        val spansFile = work.resolve("spans.jsonl")
        Files.write(spansFile, tracer.spanJsonLines.toSeq.asJava)
        res("spans_file") = spansFile.toString
        res("spans") = tracer.allSpans.size
      }
      spark.stop()
      res.toMap
    }

    /** The closed loop: passes over the query list until the window
      * closes. Each visit runs the query to completion, then hands the
      * same DataFrame to the canceller for `cancelsPerVisit` cancelled
      * executions. A pass's wall is the sum of its completions. A traced
      * run orders its passes untraced, traced, traced, untraced (and
      * repeats), at least once, so it reports its own overhead without
      * the warm-up trend favouring either side. */
    private def measure(spark: SparkSession, ops: Seq[Op])
        : (Seq[Map[String, Any]], Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
      val completions, passes, cancels = mutable.ArrayBuffer[Map[String, Any]]()
      val start = System.nanoTime()
      def done: Boolean =
        System.nanoTime() - start > seconds * 1e9 && passes.nonEmpty &&
          (!trace || passes.size >= 4)
      var pass = 0
      var attached = false
      while (!done) {
        val tracedPass = trace && (pass % 4 == 1 || pass % 4 == 2)
        if (tracedPass != attached) {
          if (tracedPass) spark.sparkContext.addSparkListener(tracer)
          else {
            org.apache.spark.ListenerDrain(spark.sparkContext)
            spark.sparkContext.removeSparkListener(tracer)
          }
          attached = tracedPass
        }
        var wall = 0.0
        val it = ops.iterator
        while (it.hasNext && !done) {
          val op = it.next()
          val (r, df) = completeOne(spark, op, pass, tracedPass)
          completions += r
          wall += r("wall_s").asInstanceOf[Double]
          df.foreach { d =>
            cancels ++= cancelSweep(spark, op, d, r("execution_s").asInstanceOf[Double],
              s"${op.name}#$pass", tracedPass)
          }
          clearPersisted(spark, inputRdds)
        }
        if (!it.hasNext)
          passes += Map("pass" -> pass, "wall_s" -> wall, "traced" -> tracedPass)
        pass += 1
      }
      (completions.toList, passes.toList, cancels.toList)
    }

    /** One completion: construct (operators), in traced runs force the
      * physical plan (plans), then the noop write (execution). Returns
      * the sample and, on success, the DataFrame for the canceller. */
    private def completeOne(spark: SparkSession, op: Op, pass: Int,
        traced: Boolean): (Map[String, Any], Option[DataFrame]) = {
      val qid = s"${op.name}#$pass"
      val r = mutable.LinkedHashMap[String, Any]("query" -> op.name, "pass" -> pass,
        "traced" -> traced)
      def layer[T](name: String, parent: Long)(body: => T): T = {
        setLayer(spark, name)
        if (traced) tracer.span(qid, name, parent)(_ => body) else body
      }
      spark.sparkContext.setLocalProperty(Tracer.QueryKey, qid)
      val t0 = System.nanoTime()
      var end = 0L
      def run(root: Long): DataFrame = {
        val df = layer("operators", root)(op.construct(spark))
        val t1 = System.nanoTime()
        val plan =
          if (traced) Some(layer("plans", root)(df.queryExecution.executedPlan)) else None
        val t2 = System.nanoTime()
        layer("execution", root)(noop(df))
        end = System.nanoTime()
        r("operators_s") = secs(t0, t1)
        r("plans_s") = secs(t1, t2)
        r("execution_s") = secs(t2, end)
        plan.foreach { p =>
          val phases = df.queryExecution.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { ph =>
            r(s"${ph}_ms") = phases.get(ph).map(_.durationMs).getOrElse(0L)
          }
          r("exchanges") = countNodes(p, "ShuffleExchange")
          r("broadcasts") = countNodes(p, "BroadcastExchange")
        }
        df
      }
      val df =
        try Some(if (traced) tracer.span(qid, "query", 0L)(run) else run(0L))
        catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${op.name} failed: $e")
            None
        }
      if (traced && df.isDefined)
        tracer.durations(qid).foreach { case (l, s) => r(s"span_${l}_s") = s }
      r("wall_s") = secs(t0, if (df.isDefined) end else System.nanoTime())
      r("ok") = df.isDefined
      if (traced) {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        r("jobs") = tracer.jobsOf(qid)
      }
      r("storage_mb") = storageMb(spark)
      (r.toMap, df)
    }

    /** The canceller: re-execute a completed query's DataFrame and cancel
      * it after seeded waits spread across its measured execution time
      * (stratified: one wait in each of `cancelsPerVisit` equal slices). */
    private def cancelSweep(spark: SparkSession, op: Op, df: DataFrame,
        lifetimeS: Double, qid: String, traced: Boolean): Seq[Map[String, Any]] =
      (0 until spec.cancelsPerVisit).map { k =>
        val waitMs = ((k + rng.nextDouble()) / spec.cancelsPerVisit * lifetimeS * 1000).toLong
        var iterations = 0
        setLayer(spark, "cancel")
        val r = mutable.LinkedHashMap[String, Any]("query" -> op.name, "wait_ms" -> waitMs,
          "traced" -> traced)
        try {
          // Latency is taken from outside: the call's wall minus the wait
          // (Cancel.Result carries whole milliseconds only).
          val t0 = System.nanoTime()
          tracer.span(s"$qid.cancel$k", "cancel", 0L) { _ =>
            Cancel.runWithCancel(spark, waitMs, _ => { iterations += 1; noop(df) },
              tag = s"perfbench-cancel-$k")
          }
          r("cancel_ms") = (System.nanoTime() - t0) / 1e6 - waitMs
          r("ok") = true
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] cancel of ${op.name} failed: $e")
            r("ok") = false
        }
        r("completed_before_cancel") = iterations > 1
        r.toMap
      }
  }
}
