package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{DecimalNode, DoubleNode, IntNode,
  NullNode, ObjectNode, TextNode}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every Registry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1), forcing full execution with a
  * noop sink (so projections/aggregations are not count-pruned), and
  * prints one JSON line for the driver.
  *
  * Each query is instrumented (stderr) with wall time, GC time, JIT
  * compilation time, code-cache occupancy, summed stage task/CPU time
  * and shuffle bytes — enough to tell an engine problem (plan too slow,
  * code-cache exhaustion → interpreted stages) from an environment
  * stall (wall ≫ process CPU with flat task time).
  *
  * Env knobs:
  *  - SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *  - SPARK_GRAFT_CPUS     local[N] (default: all cores)
  *  - SPARK_GRAFT_BEST_OF  measured passes; per-query min is reported
  *                         (default 3 — one-off environment stalls on
  *                         this shared VM otherwise land on whichever
  *                         query they hit, and with only 2 passes a
  *                         single stall still decides half the samples;
  *                         see SCALE.md)
  */
object Bench {

  /** Single source of truth for the per-query artifact's location — the
    * warm-pass reader, the regression reader, and the writer all resolve
    * THIS path (round-7 advice: two hardcoded literals could drift). */
  private[graft] def benchLastPath: java.nio.file.Path =
    repoRoot.resolve("BENCH_LAST.json")

  /** What a later run reads back from BENCH_LAST.json: the per-query
    * pass history, the per-query best and the corpus fingerprint. */
  private[graft] final case class LastRun(
      passes: Map[String, List[Double]],
      queries: Map[String, Double],
      corpus: Option[String])

  /** Parse a BENCH_LAST.json line; a missing or unreadable file reads as
    * empty, and a query whose time is null has no entry. */
  private[graft] def readLast(path: java.nio.file.Path): LastRun = {
    def fields(o: JsonNode): Map[String, JsonNode] =
      o.properties().asScala.map(e => e.getKey -> e.getValue).toMap
    try {
      val root = new ObjectMapper().readTree(path.toFile)
      LastRun(
        fields(root.path("passes")).map { case (k, v) =>
          k -> v.elements().asScala.map(_.asDouble).toList },
        fields(root.path("queries")).collect { case (k, v) if v.isNumber => k -> v.asDouble },
        Option(root.get("corpus")).map(_.asText))
    } catch {
      case _: Exception => LastRun(Map.empty, Map.empty, None)
    }
  }

  /** Accumulates per-stage totals across the whole app; per-query deltas
    * are taken by snapshotting before/after each run. */
  private final class StageMeter extends SparkListener {
    val taskMs = new AtomicLong
    val cpuMs = new AtomicLong
    val shufRd = new AtomicLong
    val shufWr = new AtomicLong
    val spill = new AtomicLong
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        cpuMs.addAndGet(m.executorCpuTime / 1000000L)
        shufRd.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWr.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    def snap(): Array[Long] =
      Array(taskMs.get, cpuMs.get, shufRd.get, shufWr.get, spill.get)
  }

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  private def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime
    else 0L
  }

  /** Used bytes across the three CodeHeap pools (JIT code cache). */
  private def codeCacheUsed: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum
  }

  private def procCpuMs: Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1000000L
      case _ => 0L
    }

  /** Cheap corpus fingerprint: per-table (rows, bytes) folded into one
    * 8-byte hex string. The driver REGENERATES /root/testdata between
    * rounds, so a per-query delta against last round's BENCH_LAST may
    * be measuring a different corpus, not a code change; the regression
    * report compares fingerprints first and suppresses per-query deltas
    * when they differ. Row counts come from the memoized
    * `Tables.rowCount` (a missing table reads -1), sizes from the
    * filesystem. */
  private def corpusFingerprint(spark: SparkSession, sfDir: String): String = {
    val parts = Tables.names.map { n =>
      val p = java.nio.file.Paths.get(s"$sfDir/$n.parquet")
      val bytes =
        if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p) else -1L
      val rows =
        try Tables.rowCount(spark, sfDir, n)
        catch { case _: Throwable => -1L }
      s"$n:$rows:$bytes"
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString(",").getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** Execute one registry query to completion against the noop sink, in
    * one `Tables.scoped`, so its intermediates are released when it ends.
    * Returns (wall seconds, ok) — a query that throws reports ok=false
    * (logged as `<what> FAILED <name>`) and its JSON entry must never
    * masquerade as a fast success (BenchSpec covers the failure path). */
  def runOne(spark: SparkSession, d: QueryDef, sfDir: String,
      what: String = "[bench]"): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok =
      try {
        Tables.scoped(
          d.run(spark, sfDir).write.format("noop").mode("overwrite").save())
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"$what FAILED ${d.name}: $e")
          false
      }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  /** Compact number: enough precision for a seconds-scale bench, short
    * enough that the whole per-query line survives a 2000-char stdout
    * tail window (round 2's 4 KB line was truncated mid-JSON and the
    * official per-query numbers were lost). */
  private def fmt(v: Double): String = {
    val s = f"$v%.2f"
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
    else s
  }

  private val json = new ObjectMapper()

  /** `v` in the compact texts: [[fmt]]'s digits, NaN as null. */
  private def compact(v: Double): JsonNode =
    if (v.isNaN) NullNode.instance
    else DecimalNode.valueOf(new java.math.BigDecimal(fmt(v)))

  /** `v` at full precision, NaN as null. */
  private def exact(v: Double): JsonNode =
    if (v.isNaN) NullNode.instance else DoubleNode.valueOf(v)

  /** A JSON object of `fields`, in order. */
  private def obj(fields: (String, JsonNode)*): ObjectNode = {
    val o = json.createObjectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, v) }
    o
  }

  private def text(s: String): JsonNode = TextNode.valueOf(s)

  private def arr(vs: Seq[JsonNode]): JsonNode = json.createArrayNode().addAll(vs.asJava)

  private def int(n: Int): JsonNode = IntNode.valueOf(n)

  private def numbers(kvs: Seq[(String, Double)], num: Double => JsonNode): ObjectNode =
    obj(kvs.map { case (k, v) => k -> num(v) }: _*)

  private def render(node: JsonNode): String = json.writeValueAsString(node)

  /** The queries that took time, slowest first. */
  private def slowest(best: Seq[(String, Double)]): Seq[(String, Double)] =
    best.filterNot(_._2.isNaN).sortBy(-_._2)

  /** `"name":secs` entries of the slowest queries, slowest first, whose
    * comma-joined length fits `budget` chars. Stops at the first entry
    * that does not fit, so a cheaper query with a shorter name never
    * takes the place of a heavier one. */
  private[graft] def topFitting(best: Seq[(String, Double)], budget: Int): Seq[String] = {
    val entries = slowest(best).map(e => render(numbers(Seq(e), compact)).drop(1).dropRight(1))
    // joined length after each entry: the first adds its own length,
    // every later one a comma too
    val joined = entries.scanLeft(-1)(_ + 1 + _.length).tail
    entries.take(joined.takeWhile(_ <= budget).size)
  }

  /** One measured sweep and its JSON texts. `best` is each query's
    * reported seconds and `passes` its pass times in run order, both in
    * registry order; `failed` names the queries with no successful
    * pass. */
  private[graft] final case class Sweep(best: Seq[(String, Double)],
      passes: Seq[(String, List[Double])], failed: Seq[String], bestOf: Int,
      sfDir: String, corpus: String) {
    val total: Double = best.map(_._2).sum

    /** Per-query pass variance, max/min over the measured passes, for
      * the queries with two or more positive passes. Best-of-N masks
      * swings like 10.1/13.4/4.0 s: a "regression" computed from two
      * noisy bests is noise, not a plan change. */
    val variance: Seq[(String, Double)] = passes.collect {
      case (n, ps) if ps.size >= 2 && ps.min > 0 => n -> ps.max / ps.min
    }

    /** Per-family subtotals (dedup/sim/graph/mm/text/stream/q/...): with
      * 200+ queries a per-area regression is invisible in the total;
      * family = the operator-name prefix, the registry's own grouping. */
    val families: Seq[(String, Double)] = best
      .filterNot(_._2.isNaN)
      .groupBy { case (n, _) => n.takeWhile(_ != '_') }
      .map { case (f, qs) => f -> qs.map(_._2).sum }
      .toSeq.sortBy(_._1)

    def queriesJson: String = render(numbers(best, compact))
    def familiesJson: String = render(numbers(families, compact))
    def failedJson: String = render(arr(failed.map(text)))

    /** The BENCH_LAST.json line: full precision, with pass history. */
    def lastJson: String = render(obj(
      "metric" -> text("total"), "value" -> exact(total), "unit" -> text("sec"),
      "queries" -> numbers(best, exact),
      "passes" -> obj(passes.map { case (n, ps) => n -> arr(ps.map(exact)) }: _*),
      "variance" -> numbers(variance, compact),
      "families" -> numbers(families, compact),
      "failures" -> int(failed.size), "failed" -> arr(failed.map(text)),
      "best_of" -> int(bestOf), "sf" -> text(sfDir), "corpus" -> text(corpus)))

    /** The BENCH_HISTORY.jsonl line: totals and the compact per-query map. */
    def historyJson: String = render(obj(
      "total" -> compact(total), "n_queries" -> int(best.size),
      "failures" -> int(failed.size), "best_of" -> int(bestOf),
      "sf" -> text(sfDir), "corpus" -> text(corpus),
      "queries" -> numbers(best, compact)))

    /** The slowest queries whose entries fit `budget` chars. */
    def queriesTopJson(budget: Int): String = {
      val top = slowest(best).take(topFitting(best, budget).size)
      render(obj("metric" -> text("queries_top"), "unit" -> text("sec"),
        "n_top" -> int(top.size), "queries" -> numbers(top, compact)))
    }

    /** The short last stdout line the driver parses. */
    def summaryJson: String = render(obj(
      "metric" -> text("total"), "value" -> compact(total), "unit" -> text("sec"),
      "n_queries" -> int(best.size), "failures" -> int(failed.size),
      "best_of" -> int(bestOf), "sf" -> text(sfDir.split('/').last),
      "corpus" -> text(corpus)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val bestOf = sys.env.getOrElse("SPARK_GRAFT_BEST_OF", "3").toInt.max(1)
    val spark = GraftSession.local("graft-bench")
    val meter = new StageMeter
    spark.sparkContext.addSparkListener(meter)

    // SPARK_GRAFT_ONLY=a,b,c restricts the sweep (iteration tool; the
    // driver never sets it, so official runs always cover the registry)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    val defs = Registry.all.filter(_.bench)
      .filter(d => only.forall(_.contains(d.name)))

    // Warm every query once at sf0.01: whole-stage codegen classes are
    // cached by plan structure, and the HotSpot C2 compiler only tiers a
    // generated loop up to native code after ~10k invocations — sf0.001
    // (500 docs) never got the md5/shingle loops past the interpreter, so
    // the first sf0.1 execution burned 30x the steady-state CPU
    // (instrumented: dedup_simhash p1 taskCpu 146s vs p2 4.2s for the
    // same rows). sf0.01 is large enough to reach C2 thresholds and
    // small enough to keep warm-up under a minute. A warm-up failure is
    // loud: it predicts a measured-run failure.
    val warmDir = "/root/testdata/sf0.01"
    defs.foreach(d => runOne(spark, d, warmDir, "[bench] WARMUP"))

    // Second, TARGETED warm pass at the measured scale: AQE shapes sf0.1
    // plans differently from sf0.01 (coalesced partitions, switched join
    // strategies → different whole-stage-codegen classes), so for a few
    // heavy shapes the sf0.01 warm-up never compiles the code pass 1
    // runs — observed as 10-50x pass-1/steady ratios (q_pivot 27.9 s vs
    // 0.54 steady in round 6). Warm exactly the queries whose previous
    // sweep (BENCH_LAST.json "passes") showed pass1 > 3x the later-pass
    // minimum: self-tuning, and costs only what pass 1 would have burned
    // anyway — the burn just stops landing in the measured samples.
    val last = readLast(benchLastPath)
    val coldShapes = defs.filter { d =>
      last.passes.get(d.name).exists { ps =>
        ps.size >= 2 && ps.tail.min > 0.0 && ps.head / ps.tail.min > 3.0
      }
    }
    if (coldShapes.nonEmpty) {
      System.err.println(s"[bench] full-scale warm for cold shapes: " +
        coldShapes.map(_.name).mkString(", "))
      coldShapes.foreach { d =>
        val (sec, _) = runOne(spark, d, sfDir, "[bench] FULL-WARM")
        System.err.println(f"[bench] warm@sf ${d.name}: $sec%.2f s")
      }
    }

    // best-successful, best-failed, and per-pass history per query, in
    // registry order. Best is tracked ONLY over successful passes — a
    // fast failing pass must never mask a later slower success (round-2
    // advice); the failed time is a fallback used when every pass failed.
    val bestOk = collection.mutable.LinkedHashMap[String, Double]()
    val bestFail = collection.mutable.LinkedHashMap[String, Double]()
    val passes = collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)

    defs.foreach { d => bestFail.getOrElseUpdate(d.name, Double.NaN) }
    for (pass <- 1 to bestOf) {
      defs.foreach { d =>
        val g0 = gcMs; val j0 = jitMs; val c0 = procCpuMs
        val o0 = Tables.observeFallbacks
        val s0 = meter.snap()
        val (sec, ok) = runOne(spark, d, sfDir)
        val s1 = meter.snap()
        System.err.println(
          f"[bench] p$pass ${d.name}: $sec%.2f s ok=$ok gc=${gcMs - g0}ms " +
            f"jit=${jitMs - j0}ms cc=${codeCacheUsed / 1048576}MB " +
            f"procCpu=${procCpuMs - c0}ms task=${s1(0) - s0(0)}ms " +
            f"taskCpu=${s1(1) - s0(1)}ms shufRd=${(s1(2) - s0(2)) / 1048576}MB " +
            f"shufWr=${(s1(3) - s0(3)) / 1048576}MB spill=${(s1(4) - s0(4)) / 1048576}MB " +
            s"obsFallback=${Tables.observeFallbacks - o0}")
        passes(d.name) = sec :: passes(d.name)
        if (ok && (!bestOk.contains(d.name) || sec < bestOk(d.name)))
          bestOk(d.name) = sec
        if (!ok && (bestFail(d.name).isNaN || sec < bestFail(d.name)))
          bestFail(d.name) = sec
      }
    }

    defs.foreach { d =>
      val hist = passes(d.name).reverse.map(s => f"$s%.2f").mkString(" ")
      System.err.println(s"[bench] passes ${d.name}: $hist")
    }

    // per-query reported value: best successful pass; failed-pass time
    // only when the query never succeeded
    val sweep = Sweep(
      best = defs.map(d => d.name -> bestOk.getOrElse(d.name, bestFail(d.name))),
      passes = defs.map(d => d.name -> passes(d.name).reverse),
      failed = defs.map(_.name).filterNot(bestOk.contains),
      bestOf = bestOf, sfDir = sfDir, corpus = corpusFingerprint(spark, sfDir))
    val varRatio = sweep.variance.toMap.withDefaultValue(Double.NaN)
    val sfShort = sfDir.split('/').last

    // artifacts + regression report only for OFFICIAL full sweeps (the
    // driver's config: full registry at sf0.1) — a partial or small-sf
    // dev run must neither overwrite the committed sf0.1 per-query
    // baseline nor append an incomparable line to the trend file
    val official = only.isEmpty && sfShort == "sf0.1"
    try if (official) {
      // per-query regression report vs the previous run's BENCH_LAST:
      // with 160+ benched queries a single-query 2x regression hides
      // inside total noise (round-3 advice: q_fmt_csv 1.36->2.32 s was
      // only visible by manual diff). Print the top-5 slowdowns.
      val lastPath = benchLastPath
      val prev = last.queries
      // fingerprint gate: a regenerated corpus makes per-query deltas
      // incomparable (round-4 postmortem: x0.4-x2.0 swings on untouched
      // code tracked corpus regeneration, not code changes)
      val prevFp = last.corpus
      if (prev.nonEmpty && !prevFp.contains(sweep.corpus)) {
        System.err.println(
          s"[bench] corpus fingerprint changed (${prevFp.getOrElse("none")} " +
            s"-> ${sweep.corpus}): per-query deltas measure a DIFFERENT corpus — " +
            "regression report suppressed")
      } else if (prev.nonEmpty) {
        val regressions = sweep.best
          .collect { case (name, v) if !v.isNaN && prev.contains(name) &&
              v > prev(name) + 0.25 => // ignore sub-noise-floor jitter
            (name, prev(name), v, v / prev(name))
          }
          .sortBy { case (_, _, _, ratio) => -ratio }
          .take(5)
        if (regressions.isEmpty)
          System.err.println("[bench] no per-query regressions vs previous run")
        else regressions.foreach { case (name, old, now, ratio) =>
          // a query whose own passes swing >1.5x this run is noise, not
          // a plan change — label it so a noisy best-vs-best delta is
          // never read as a regression (round-5 task #5)
          val vr = varRatio(name)
          if (!vr.isNaN && vr > 1.5)
            System.err.println(
              f"[bench] HIGH-VARIANCE $name: $old%.2f -> $now%.2f s " +
                f"(${ratio}%.2fx) — pass max/min $vr%.2fx, delta unreliable")
          else System.err.println(
            f"[bench] REGRESSION $name: $old%.2f -> $now%.2f s (${ratio}%.2fx)")
        }
      }
      sweep.families.foreach { case (f, t) =>
        System.err.println(f"[bench] family $f%-8s $t%8.1f s")
      }
      java.nio.file.Files.writeString(lastPath, sweep.lastJson + "\n")
      // the trend file carries the per-query map too (round-3 task #5):
      // one compact-precision line per run, so any two rounds diff
      // per-query without needing the driver's artifacts
      java.nio.file.Files.writeString(
        benchLastPath.resolveSibling("BENCH_HISTORY.jsonl"),
        sweep.historyJson + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] artifact write failed (non-fatal): $e")
    }

    // per-query compact map to stderr (dev visibility). Printed BEFORE
    // the tail-window block below so the 6+ KB line can never crowd the
    // driver-visible last-2000-chars window (and so its truncated head
    // is never the window's only "queries":{ match).
    System.err.println(s"[bench] queries: ${sweep.queriesJson}")

    // Driver-visible per-query data (r13 verdict task #5): the driver
    // keeps only the LAST ~2000 chars of output, so the full 297-query
    // map (~6.4 KB even at compact precision) can never fit — r12/r13
    // PERF came back with per_query empty. Emit the most expensive
    // queries as ONE complete compact JSON object sized to fit the
    // window alongside the families + summary lines: ~60 heaviest
    // queries ≈ half the total wall, enough for a real geomean. The
    // FULL map still goes to BENCH_LAST.json, BENCH_HISTORY.jsonl and
    // stderr above; this line only ADDS driver-visible entries.
    val familiesLine =
      s"[bench] families: ${sweep.familiesJson} failed: ${sweep.failedJson}"
    val topBudget = 2000 - (familiesLine.length + 250)

    // The driver json-parses the LAST stdout line. Three rounds of
    // "parsed": null taught: (a) the line must be SHORT (~150 bytes —
    // the round-7 line carried the families map and could truncate);
    // (b) it must be BARE (build.sbt now forks with StdoutOutput and
    // showSuccess=false, so no "[info] " prefix / "[success]" trailer);
    // (c) it must be LAST — printed after spark.stop(), whose shutdown
    // logging otherwise lands after it. Everything dropped here
    // (families, failed list, per-query map) lives in BENCH_LAST.json.
    System.err.println(familiesLine)
    spark.stop()
    println(sweep.queriesTopJson(topBudget - 60))
    println(sweep.summaryJson)
    if (sweep.failed.nonEmpty) sys.exit(1)
  }
}
