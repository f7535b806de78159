package graft

/** Stage-wall harness for the viral-safe corpus-cleaning capstone
  * (`pipeline_viral_clean`, r13 verdict stretch #8): runs the EXACT
  * registry implementation (graft.operators.Dedup.viralCleanRun — one
  * shared stage driver, so these walls measure the operator the oracle
  * checks) on SPARK_GRAFT_PIPELINE_DIR and prints the run manifest a
  * platform team would quote: per-stage wall seconds + rows out, then
  * the one-row manifest. A warm pass on SPARK_GRAFT_WARM_DIR (default
  * sf0.01 fixture) tiers the generated code first so the measured walls
  * are steady-state, same discipline as Bench/GrowthBench.
  *
  * Env: SPARK_GRAFT_PIPELINE_DIR (corpus to measure),
  * SPARK_GRAFT_WARM_DIR (default /root/testdata/sf0.01),
  * SPARK_GRAFT_CPUS (default: all cores), SPARK_LOCAL_DIRS (shuffle
  * dir — big-corpus runs point it at disk, not tmpfs).
  */
object PipelineBench {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse(
      "SPARK_GRAFT_PIPELINE_DIR", "/root/testdata/sf0.01")
    val warmDir = sys.env.getOrElse(
      "SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local("graft-pipeline")

    // C2 warm pass (discarded)
    Tables.scoped(graft.operators.Dedup.viralCleanRun(spark, warmDir).collect())

    val rows = collection.mutable.ArrayBuffer[(String, Long, Double)]()
    val t0 = System.nanoTime()
    val m = Tables.scoped(graft.operators.Dedup.viralCleanRun(spark, dir,
      (stage, n, wall) => rows += ((stage, n, wall))).collect()(0))
    val total = (System.nanoTime() - t0) / 1e9

    println(s"## pipeline_viral_clean stage walls — corpus `$dir`, " +
      s"local[${GraftSession.cores}]")
    println()
    println("| stage | wall s | rows out |")
    println("|---|---|---|")
    rows.foreach { case (stage, n, wall) =>
      println(f"| $stage | $wall%.2f | $n |")
    }
    println(f"| **total (incl. final agg)** | $total%.2f | |")
    println()
    println("Manifest: " + m.schema.fieldNames.zipWithIndex
      .map { case (c, i) => s"$c=${m.get(i)}" }.mkString(", "))
    spark.stop()
  }
}
