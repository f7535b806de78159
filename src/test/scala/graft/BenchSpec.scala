package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench runner's failure contract: a query that throws must surface
  * ok=false (the driver-facing JSON then carries "ok":{...:false} and a
  * non-zero "failures" count) instead of reporting a near-zero elapsed
  * time as a fast success. Also the artifact paths of the other tools. */
class BenchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("a healthy query reports ok=true") {
    val d = Registry.byName("q_scan_project")
    val (sec, ok) = Bench.runOne(spark, d, TestSpark.sf)
    assert(ok)
    assert(sec > 0.0)
  }

  test("a deliberately broken query reports ok=false, not a fast success") {
    val broken = QueryDef(
      "broken_query",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .selectExpr("no_such_column + 1"),
      None)
    val (_, ok) = Bench.runOne(spark, broken, TestSpark.sf)
    assert(!ok)
    // a query over a missing table must also fail loudly
    val missing = QueryDef(
      "missing_table",
      (s, dir) => Tables.load(s, dir, "not_a_table"),
      None)
    assert(!Bench.runOne(spark, missing, TestSpark.sf)._2)
  }

  test("queries_top stops at the first entry that does not fit") {
    val best = Seq("cheap" -> 1.0, "heavy_query_with_a_long_name" -> 5.0,
      "top" -> 9.0, "failed" -> Double.NaN)
    // room for "top" plus a short entry, not for the long heavy one
    val budget = "\"top\":9".length + ",\"cheap\":1".length
    assert(Bench.topFitting(best, budget) === Seq("\"top\":9"))
    assert(Bench.topFitting(best, 1000) === Seq("\"top\":9",
      "\"heavy_query_with_a_long_name\":5", "\"cheap\":1"))
  }

  test("readLast reads passes, queries and corpus back from a BENCH_LAST line") {
    val f = java.nio.file.Files.createTempFile("bench_last", ".json")
    try {
      // the written format, with a later key holding a numeric array
      // that must not be read as pass history
      java.nio.file.Files.writeString(f,
        """{"metric":"total","value":3.5,"unit":"sec",""" +
          """"queries":{"q_a":1.25,"dedup_b":2.25},""" +
          """"passes":{"q_a":[1.5,1.25],"dedup_b":[2.25,3.0]},""" +
          """"variance":{"q_a":1.2,"dedup_b":1.33},"families":{"q":1.25},""" +
          """"failures":0,"failed":[],"best_of":2,"sf":"/data/sf0.1",""" +
          """"corpus":"0a1b2c3d4e5f6071","later":[9.5,8.5]}""" + "\n")
      val last = Bench.readLast(f)
      assert(last.passes ===
        Map("q_a" -> List(1.5, 1.25), "dedup_b" -> List(2.25, 3.0)))
      assert(last.queries === Map("q_a" -> 1.25, "dedup_b" -> 2.25))
      assert(last.corpus === Some("0a1b2c3d4e5f6071"))
    } finally java.nio.file.Files.delete(f)
    val missing = Bench.readLast(f)
    assert(missing.passes.isEmpty && missing.queries.isEmpty &&
      missing.corpus.isEmpty)
  }

  test("PlanDump refuses to pick a plans round on its own") {
    val e = intercept[IllegalArgumentException](PlanDump.outDir(Map.empty))
    assert(e.getMessage.contains("SPARK_GRAFT_ROUND"), e.getMessage)
    assert(PlanDump.outDir(Map("SPARK_GRAFT_ROUND" -> "r99")) ===
      repoRoot.resolve("plans/r99"))
  }

  test("PlanDump normalizes expression, exchange and RDD ids, nothing else") {
    val before = """(1) Scan ExistingRDD
      |Arguments: [u#12L, v#13L], MapPartitionsRDD[4036] at localCheckpoint at Dedup.scala:457, ExistingRDD, UnknownPartitioning(0)
      |(3) Exchange
      |Input [2]: [u#12L, v#13L]
      |Arguments: hashpartitioning(u#12L, 4), ENSURE_REQUIREMENTS, [plan_id=45]
      |(4) Filter [codegen id : 2]
      |Condition : (jaccard#7 >= 0.015)""".stripMargin
    val after = before.replace("#12L", "#40L").replace("#13L", "#41L")
      .replace("plan_id=45", "plan_id=101").replace("#7 ", "#9 ")
      .replace("RDD[4036]", "RDD[12]")
    assert(PlanDump.normalize(before) === PlanDump.normalize(after))
    assert(PlanDump.normalize(before) ===
      """(1) Scan ExistingRDD
        |Arguments: [u#NL, v#NL], MapPartitionsRDD[N] at localCheckpoint at Dedup.scala:457, ExistingRDD, UnknownPartitioning(0)
        |(3) Exchange
        |Input [2]: [u#NL, v#NL]
        |Arguments: hashpartitioning(u#NL, 4), ENSURE_REQUIREMENTS, [plan_id=N]
        |(4) Filter [codegen id : 2]
        |Condition : (jaccard#N >= 0.015)""".stripMargin)
    // a real plan change still shows
    assert(PlanDump.normalize(before) !==
      PlanDump.normalize(before.replace("hashpartitioning(u#12L, 4)",
        "hashpartitioning(v#13L, 4)")))
  }

  test("PlanDump shows a query's construction checkpoints before its final plan") {
    val txt = PlanDump.dump(spark, Registry.byName("dedup_minhash_pairs"), TestSpark.sf)
    val checkpoint = "(?m)^== execution \\d+: localCheckpoint at Dedup\\.scala:\\d+ ==$".r
      .findFirstMatchIn(txt)
    val last = txt.indexOf("== final plan ==")
    assert(checkpoint.isDefined, txt.take(2000))
    assert(last > checkpoint.get.start, txt.take(2000))
    assert(!txt.substring(last).contains("== execution"))
    assert(!txt.matches("(?s).*#\\d.*"), "expression ids are normalized")
  }

  test("a gate-log line parses back to the values written") {
    val tricky = "a \"quoted\" \\ path\nnext\tcol\u0001end"
    val fields = Seq("ts" -> "2026-01-01T00:00:00Z", "sql" -> tricky,
      tricky -> "key")
    val line = Verify.gateLine(fields)
    assert(!line.contains("\n"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    import scala.jdk.CollectionConverters._
    assert(node.properties().asScala.toSeq
      .map(e => e.getKey -> e.getValue.asText) === fields)
    assert(node.properties().asScala.forall(_.getValue.isTextual))
  }
}
