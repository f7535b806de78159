package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Round-10 forensics (VERDICT r9 task #1): two consecutive rounds'
    * official CORRECTNESS records were `{}` while the engine replayed
    * 100% green, and nothing in-tree recorded whether the driver ever
    * INVOKED the gate. Append one JSON line per invocation — once at
    * entry (survives a driver-side kill) and once at exit with rc and
    * wall — to gate_logs/GATE_LOG.jsonl, which check_oracle.py appends
    * to as well. The directory is git-ignored; the per-round logs of
    * r1-r14 stay tracked there. Best-effort: logging must never fail
    * the gate itself. */
  private[graft] def gateLog(fields: (String, String)*): Unit =
    try {
      val root = repoRoot.toString
      Files.createDirectories(Paths.get(root, "gate_logs"))
      Files.writeString(Paths.get(root, "gate_logs", "GATE_LOG.jsonl"),
        gateLine(fields) + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case _: Throwable => () }

  private val json = new ObjectMapper()

  /** One gate-log line: a JSON object of string values, in order. */
  private[graft] def gateLine(fields: Seq[(String, String)]): String = {
    val o = json.createObjectNode()
    fields.foreach { case (k, v) => o.put(k, v) }
    json.writeValueAsString(o)
  }

  private[graft] def gateEnv: Seq[(String, String)] =
    sys.env.toSeq.collect {
      case (k, v) if k.startsWith("SPARK_GRAFT_") || k.startsWith("CHECK_") =>
        ("env." + k, v)
    }.sortBy(_._1)

  /** Who invoked the gate (round-10 verdict nit: driver, builder and
    * judge lines were indistinguishable). GATE_CALLER env wins when
    * set; otherwise the parent process's command line — the driver's
    * harness, an sbt shell, or a bare bash — plus the cwd. */
  private[graft] def gateCaller: Seq[(String, String)] = {
    val parent = try {
      ProcessHandle.current().parent()
        .flatMap[String](p => p.info().commandLine())
        .orElse("?")
    } catch { case _: Throwable => "?" }
    Seq(
      "caller" -> sys.env.getOrElse("GATE_CALLER", parent.take(200)),
      "cwd" -> sys.props.getOrElse("user.dir", "?"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    gateLog(Seq(
      "ts" -> java.time.Instant.now.toString,
      "tool" -> "graft.Verify", "phase" -> "start",
      "args" -> args.mkString(" ")) ++ gateCaller ++ gateEnv: _*)
    // optional third arg: comma-separated query names — dump only those
    // (dev loop for a single operator; the driver passes two args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // Concurrent query dumps (round-9: a sequential full-registry dump
    // is ~11 min at local[32] and far worse at the default local[4] —
    // long enough to risk a driver-side timeout, the one mechanism that
    // explains the r8 empty gate). Most of that wall is per-query
    // planning/scheduling gaps, not executor saturation, so overlapping
    // a few queries recovers it. Each worker runs on its own
    // spark.newSession(); the shared SparkContext schedules fairly.
    // SPARK_GRAFT_VERIFY_WORKERS=1 runs the same pool with one worker.
    val workers = sys.env.get("SPARK_GRAFT_VERIFY_WORKERS")
      .map(_.toInt).getOrElse(math.min(8, GraftSession.cores)).max(1)
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    val t0 = System.nanoTime()
    val nWritten = new AtomicInteger(0)
    val nFailed = new AtomicInteger(0)
    val failed =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }

    def runOne(sess: SparkSession, name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try {
        // one scope per query: each concurrent worker frees the blocks
        // its own query materialized, and only those
        Tables.scoped(fn(sess, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"))
        nWritten.incrementAndGet()
      } catch { case e: Throwable =>
        nFailed.incrementAndGet()
        failed.add(name)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a healthy run has no failure, so every stack is worth printing
        e.printStackTrace()
      }

    val queue = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    selected.foreach(queue.add)
    val threads = (1 to workers).map { _ =>
      val t = new Thread(() => {
        val sess = spark.newSession()
        // thread-local active session: operator code that resolves
        // SparkSession.active (implicit encoders, expr parsing) must
        // see THIS worker's session, not whichever thread won a race
        SparkSession.setActiveSession(sess)
        var item = queue.poll()
        while (item != null) {
          runOne(sess, item._1, item._2)
          item = queue.poll()
        }
      })
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    val sql = json.createObjectNode()
    SparkEntry.oracleSql.foreach { case (k, v) => sql.put(k, v) }
    json.writeValue(new java.io.File(s"$outDir/oracle_sql.json"), sql)
    // manifest.json (round-8 postmortem: CORRECTNESS_r08 recorded ZERO
    // entries and nothing failed loud): the gate-side checker refuses an
    // empty or partial dump when this says the registry is bigger — an
    // absent-or-empty correctness record must be an ERROR, not a
    // vacuous pass. n_queries is the FULL registry size even under the
    // dev-loop `only` filter so a filtered dump can never masquerade as
    // a complete sweep (check_oracle.py skips the completeness gate
    // only when it sees n_selected < n_queries).
    val wallS = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    val manifest = json.createObjectNode()
      .put("n_queries", SparkEntry.queries.size)
      .put("n_selected", selected.size)
      .put("n_written", nWritten.get)
      .put("n_failed", nFailed.get)
    manifest.set[JsonNode]("failed",
      json.valueToTree[JsonNode](failed.asScala.toSeq.sorted.asJava))
    manifest.put("wall_s", new java.math.BigDecimal(f"$wallS%.1f"))
    json.writeValue(new java.io.File(s"$outDir/manifest.json"), manifest)
    println(s"[verify] wrote ${nWritten.get}/${selected.size} query dumps, " +
      s"${nFailed.get} failed, ${f"$wallS%.1f"}s, workers=$workers")
    gateLog(Seq(
      "ts" -> java.time.Instant.now.toString,
      "tool" -> "graft.Verify", "phase" -> "done",
      "args" -> args.mkString(" "),
      "n_written" -> nWritten.get.toString,
      "n_failed" -> nFailed.get.toString,
      "workers" -> workers.toString,
      "wall_s" -> f"$wallS%.1f") ++ gateCaller: _*)
    // exit stays 0 even with per-query failures: the parquet dumps ARE
    // the record and the gate-side checker (check_oracle.py, or the
    // driver's comparator finding MISSING dirs) is where failure must
    // be loud — an unexpected rc from this main risks the driver
    // discarding the partial record wholesale (the r8 empty-gate class).
    spark.stop()
  }
}
