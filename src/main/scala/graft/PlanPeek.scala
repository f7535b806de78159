package graft
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
/** Dev loop for plan audits: `runMain graft.PlanPeek <query...>` executes
  * each registry query on the smoke corpus and prints its FINAL adaptive
  * physical plan (AQE re-plans at runtime, so the pre-execution plan can
  * hide reused exchanges and demoted broadcasts). PlanSpec mechanizes the
  * assertions; this prints the evidence. */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-planpeek")
    for (n <- args) {
      println(s"===== $n =====")
      val df = Registry.byName(n).run(spark, "/root/testdata/sf0.001")
      df.count()
      val p = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other => other.toString
      }
      println(p.take(6000))
    }
    spark.stop()
  }
}
