package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** Optimization-round evidence tool: `runMain graft.PlanDump <tag> <q...>`
  * writes each query's `.explain("formatted")` output to
  * plans/<round>/<query>_<tag>.txt (tag = "before" / "after"), so plan
  * claims in OPTIMIZATION_*.md are checkable without running Spark.
  * Plans are written [[normalize]]d, so `diff -r` between a before dump
  * and an after dump shows only real plan changes.
  * Env: SPARK_GRAFT_ROUND (required unless SPARK_GRAFT_PLANS_DIR names
  * the output dir), SPARK_GRAFT_REPO, SPARK_GRAFT_SF_DIR.
  * Dev/evidence tooling only — never on the bench or verify path. */
object PlanDump {

  /** SPARK_GRAFT_PLANS_DIR, else `<repo>/plans/<SPARK_GRAFT_ROUND>`. The
    * round has no default: a fixed one silently overwrote that round's
    * committed evidence whenever a later round forgot the variable. */
  private[graft] def outDir(env: Map[String, String]): Path =
    env.get("SPARK_GRAFT_PLANS_DIR").map(Paths.get(_)).getOrElse {
      val round = env.getOrElse("SPARK_GRAFT_ROUND", throw new IllegalArgumentException(
        "PlanDump: set SPARK_GRAFT_ROUND (e.g. r15) to choose plans/<round>/"))
      repoRoot.resolve("plans").resolve(round)
    }

  /** `plan` with the ids that differ between two runs of the same plan
    * replaced: expression ids (`doc_id#123L` → `doc_id#NL`), AQE
    * exchange ids (`plan_id=45` → `plan_id=N`) and the ids of the RDDs a
    * checkpointed frame scans (`MapPartitionsRDD[4036]` →
    * `MapPartitionsRDD[N]`). */
  private[graft] def normalize(plan: String): String =
    plan.replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <tag> <query> [query...]")
    val tag = args.head
    val outDir = this.outDir(sys.env)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-plandump")
    for (n <- args.tail) {
      val df = Registry.byName(n).run(spark, sfDir)
      // Dataset.explain prints to stdout; use the QueryExecution API to
      // capture the same "formatted" text for the file artifact.
      val txt = normalize(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      Files.writeString(outDir.resolve(s"${n}_$tag.txt"), txt,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      System.err.println(s"[plandump] wrote ${n}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
