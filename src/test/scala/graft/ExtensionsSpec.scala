package graft

import org.apache.spark.sql.{BareSession, DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CosineSimilarity
import graft.plans.{CosineSelfSimplify, CosineTopKStrategy}

/** Optimizer-rule and extensions surface. The rules come with the
  * session (GraftSession installs GraftExtensions), never through
  * `spark.experimental`. */
class ExtensionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Planted 64-bit signatures with known pairwise distances, joined the
    * naive way: 10<->11 distance 1 (low chunk), 10<->12 distance 3 spread
    * over three chunks, 10<->13 distance 4 (over the bound), 14 equal to
    * 10 in every chunk but id-gated. */
  private val planted = Seq(
    10L -> 0x0000000000000000L,
    11L -> 0x0000000000000001L, // d(10,11)=1
    12L -> 0x0001000100010000L, // d(10,12)=3
    13L -> 0x000000000000000FL, // d(10,13)=4 — excluded
    14L -> 0x0000000000000000L) // d(10,14)=0

  private def plantedHammingJoin(s: SparkSession): DataFrame = {
    val sigs = s.createDataFrame(planted).toDF("id", "sig")
    val x = sigs.select(col("id").as("a_id"), col("sig").as("ha"))
    val y = sigs.select(col("id").as("b_id"), col("sig").as("hb"))
    x.join(y, expr("bit_count(ha ^ hb) <= 3") && col("a_id") < col("b_id"))
      .select("a_id", "b_id")
  }

  private def assertNoQuadraticJoin(df: DataFrame): Unit = {
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"rule did not remove the quadratic join:\n$p")
  }

  test("CosineSelfSimplify folds cosine_sim(x, x) to literal 1.0") {
    // parquet-backed plan: a local relation would be constant-folded
    // away entirely before the assertion could see anything
    val df = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"),
        CosineSimilarity(spark, col("embedding"), col("embedding")).as("self_cos"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("1.0"), s"not folded:\n$optimized")
    assert(!optimized.contains("cosine_sim"), s"expression survived:\n$optimized")
    assert(df.collect().forall(_.getDouble(1) === 1.0))
  }

  test("rule leaves distinct arguments untouched") {
    val df = Seq((Seq(1f, 0f), Seq(0f, 1f))).toDF("a", "b")
      .select(CosineSimilarity(spark, col("a"), col("b")).as("c"))
    val p = CosineSelfSimplify(df.queryExecution.analyzed)
    assert(p.toString.contains("cosine_sim"))
  }

  test("GraftExtensions registers function and rule on a fresh builder path") {
    // the wiring function runs against a real SparkSessionExtensions
    // instance, and the shared session was built with it
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    assert(GraftPlanBridge.strategies(spark).contains(CosineTopKStrategy))
  }

  test("HammingJoinRewrite: exact pairs on planted distances, no duplicates") {
    val rows = plantedHammingJoin(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // no duplicate pairs: the first-equal-chunk branches partition
    assert(rows.size === rows.distinct.size, s"duplicated pairs: $rows")
    // expected = brute force over the planted values
    val m = planted.toMap
    val expected = (for {
      a <- m.keys; b <- m.keys
      if a < b && java.lang.Long.bitCount(m(a) ^ m(b)) <= 3
    } yield (a, b)).toSeq.sorted
    assert(rows.sorted === expected)
    assert(!rows.contains((10L, 13L)),
      "distance-4 pair leaked through the bound")
  }

  test("a fresh session plans with the rules before any query installs anything") {
    // at creation, not at first use: the plan of a query must not depend
    // on which queries ran earlier in the same session
    val fresh = spark.newSession()
    assertNoQuadraticJoin(plantedHammingJoin(fresh))
    val before = (fresh.experimental.extraOptimizations,
      fresh.experimental.extraStrategies)
    Seq("q_hamming_join_rule", "dedup_simhash_declarative", "sim_topk_custom_op")
      .foreach(n => Registry.byName(n).run(fresh, TestSpark.sf))
    assert((fresh.experimental.extraOptimizations,
      fresh.experimental.extraStrategies) === before)
  }

  test("CosineTopK on a session without the extensions names GraftSession") {
    val bare = BareSession.of(spark)
    def shared(s: SparkSession) =
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState
    assert(shared(bare) eq shared(spark)) // no second catalog or listener
    val e = intercept[IllegalArgumentException] {
      graft.plans.CosineTopKOp.topK(bare, bare.range(3).toDF("vec_id"),
        Seq(0L -> Array(1.0f)), 1)
    }
    assert(e.getMessage.contains("GraftSession"), e.getMessage)
  }

  test("hamming-join rule output is bit-identical to the hand-blocked operator") {
    val viaRule = Registry.byName("q_hamming_join_rule")
      .run(spark, TestSpark.sf).collect().map(_.toString).toSeq
    val hand = Registry.byName("dedup_simhash_wide_pairs")
      .run(spark, TestSpark.sf).collect().map(_.toString).toSeq
    assert(viaRule === hand)
    // and the rewritten plan must contain no quadratic join
    assertNoQuadraticJoin(Registry.byName("q_hamming_join_rule")
      .run(spark, TestSpark.sf))
  }
}
