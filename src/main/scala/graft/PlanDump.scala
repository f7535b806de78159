package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Plan evidence tool: `runMain graft.PlanDump <outDir> <tag> [query...]`
  * writes each named query's [[dump]] to <outDir>/<query>_<tag>.txt (tag =
  * "before" / "after"); with no query names it dumps the whole registry.
  * Plans are written [[normalize]]d, so `diff -r` between a before dump
  * and an after dump shows only real plan changes, construction-time
  * checkpoints included.
  * Env: SPARK_GRAFT_SF_DIR.
  * Dev/evidence tooling only — never on the bench or verify path. */
object PlanDump {

  /** (outDir, tag, query names) of the command line. The directory has
    * no default: a fixed one silently overwrote a past run's committed
    * evidence whenever a later run forgot to name its own. */
  private[graft] def parseArgs(args: Seq[String]): (Path, String, Seq[String]) = {
    if (args.length < 2)
      throw new IllegalArgumentException("usage: PlanDump <outDir> <tag> [query...]")
    (Paths.get(args(0)), args(1), args.drop(2))
  }

  /** `plan` with the ids that differ between two runs of the same plan
    * replaced: expression ids (`doc_id#123L` → `doc_id#NL`), AQE
    * exchange ids (`plan_id=45` → `plan_id=N`) and the ids of the RDDs a
    * checkpointed frame scans (`MapPartitionsRDD[4036]` →
    * `MapPartitionsRDD[N]`). */
  private[graft] def normalize(plan: String): String =
    plan.replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")

  /** `d`'s plans on `sfDir`, normalized: first every root SQL execution
    * that `d.run` launches (its construction-time checkpoints and
    * counts), in launch order, each headed `== execution <i>: <call
    * site> ==` and shown as planned at its start; then, headed `== final
    * plan ==`, the formatted plan of the frame `d.run` returns. The
    * executions are told apart by a job group set for the call;
    * listener events arrive asynchronously, so a marker job launched
    * after `d.run` returns must reach the listener before the dump is
    * read. Runs in [[Tables.scoped]], so a registry-wide dump frees each
    * query's checkpoints. */
  private[graft] def dump(spark: SparkSession, d: QueryDef, sfDir: String): String = {
    val sc = spark.sparkContext
    val group = s"plandump-${java.util.UUID.randomUUID()}"
    val marker = s"$group-drained"
    val execs = new ConcurrentLinkedQueue[(String, String)]
    val drained = new CountDownLatch(1)
    // SparkContext.SPARK_JOB_GROUP_ID is private to Spark
    def groupOf(e: SparkListenerJobStart) =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.jobGroupId.contains(group) &&
              x.rootExecutionId.forall(_ == x.executionId) =>
          execs.add(x.description -> x.physicalPlanDescription)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e).contains(marker)) drained.countDown()
    }
    def inGroup[T](g: String)(body: => T): T = {
      // no description: an execution's then names its call site
      sc.setJobGroup(g, null)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try Tables.scoped {
      val df = inGroup(group)(d.run(spark, sfDir))
      val last = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      inGroup(marker)(sc.parallelize(Seq(0), 1).count())
      require(drained.await(60, TimeUnit.SECONDS),
        s"PlanDump: listener events of ${d.name} did not arrive within 60 s")
      val sections = execs.toArray(Array.empty[(String, String)]).toSeq
        .zipWithIndex.map { case ((site, plan), i) =>
          s"== execution ${i + 1}: $site ==\n$plan" } :+
        s"== final plan ==\n$last"
      normalize(sections.mkString("\n"))
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val (outDir, tag, names) = parseArgs(args.toSeq)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val defs = if (names.isEmpty) Registry.all else names.map(Registry.byName)
    val spark = GraftSession.local("graft-plandump")
    val failed = defs.filterNot { d =>
      try {
        val txt = dump(spark, d, sfDir)
        Files.writeString(outDir.resolve(s"${d.name}_$tag.txt"), txt,
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        System.err.println(s"[plandump] wrote ${d.name}_$tag.txt (${txt.length} chars)")
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[plandump] FAILED ${d.name}: $e")
          false
      }
    }
    spark.stop()
    System.err.println(s"[plandump] ${defs.size - failed.size} dumped, ${failed.size} failed")
    if (failed.nonEmpty) sys.exit(1)
  }
}
