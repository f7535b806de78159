package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the declarative plans must actually
  * produce the scale-friendly shapes they were designed for — filters and
  * projections reaching the parquet scan, small sides broadcast, distinct
  * compiling to partial/final hash aggregation, codegen in the hot path.
  * These are the properties that keep the same code fast at 100 TB. */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def plan(name: String): String =
    Registry.byName(name).run(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan") {
    val p = plan("q_filter_pushdown")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") ||
      p.contains("GreaterThan(l_quantity"), s"no pushed predicate in:\n$p")
  }

  test("column pruning: scan reads only the projected lineitem columns") {
    val p = plan("q_scan_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_extendedprice"))
    assert(!read.contains("l_shipdate") && !read.contains("l_partkey"),
      s"scan reads unprojected columns: $read")
  }

  test("partitioned layout prunes by directory: predicate lands in PartitionFilters") {
    val p = plan("q_partitioned_prune")
    val scan = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("event_type"),
      s"event_type predicate not in PartitionFilters:\n$p")
    // the predicate must NOT degrade to a post-scan data filter
    assert(!p.contains("PushedFilters: [IsNotNull(event_type)"), "pruning fell back to data filters")
  }

  test("dimension joins are broadcast, not shuffled") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("5-way join broadcasts dims and shuffles only the fact-fact join") {
    val p = plan("q_join_5way")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("distinct compiles to partial + final hash aggregate (reference shape)") {
    val p = plan("ref_distinct")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected 2 HashAggregates:\n$p")
    assert(p.contains("Exchange hashpartitioning"), s"no hash exchange:\n$p")
  }

  /** AQE only materializes codegen spans once stages run: execute the
    * query, then read the final adaptive plan. */
  /** Codegen-mode explain lists every WholeStageCodegen subtree with its
    * generated source. AQE defers stage planning (0 subtrees before
    * execution), so pin it off for the inspection. */
  private def codegenExplain(name: String): String = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Registry.byName(name).run(spark, TestSpark.sf)
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("aggregations run inside whole-stage codegen") {
    val p = codegenExplain("q1_agg")
    assert(p.contains("WholeStageCodegen subtrees"), s"no codegen explain:\n${p.take(500)}")
    assert(!p.startsWith("Found 0 WholeStageCodegen"), "no codegen subtree at all")
  }

  test("native cosine expression compiles into generated code (no fallback)") {
    val p = codegenExplain("sim_topk_bruteforce")
    // the fused loop from CosineSimilarity.doGenCode must appear in the
    // generated source — proves no interpreted fallback in the hot path
    assert(p.contains("getFloat"), s"native cosine loop not in generated code")
  }

  test("semi/anti joins stay joins (no subquery materialization)") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_anti_join").contains("LeftAnti"))
  }

  test("custom Generator UDTF plans an in-stage Generate (map-only fan-out)") {
    val p = plan("text_ngrams_gen")
    assert(p.contains("Generate"), s"expected a Generate node in:\n$p")
    // only the presentation sort may exchange; the fan-out itself is map-only
    assert(p.split("Exchange").length - 1 <= 1, s"unexpected exchanges in:\n$p")
  }

  test("lateral correlated LIMIT subquery decorrelates to a ranked join") {
    val p = plan("q_lateral_join")
    // Catalyst rewrites the per-nation LATERAL ... LIMIT 2 into a window
    // rank + join — one pass over customer, no per-outer-row re-execution
    assert(p.contains("row_number") || p.contains("rank"),
      s"expected window-rank decorrelation in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("dedup_minhash has no single-partition exchange (scale funnel)") {
    val p = plan("dedup_minhash")
    assert(!p.contains("SinglePartition"), s"single-partition funnel in:\n$p")
    assert(p.contains("rangepartitioning"), s"expected a parallel range sort:\n$p")
  }

  test("dedup_minhash decodes document text (and shingles it) exactly once") {
    // one scan pipeline carries `text` into the shingle expression; the
    // signature-completing join's other side must read doc_id only. The
    // former formulation joined the aggregate back to the full shingle
    // frame, so the corpus text was scanned and shingled twice.
    val p = plan("dedup_minhash")
    val textScans = p.linesIterator
      .filter(_.contains("ReadSchema")).count(_.contains("text"))
    assert(textScans === 1,
      s"expected exactly one text-reading scan, found $textScans:\n$p")
  }

  test("multi-probe LSH keeps the probe fan-out on the broadcast side") {
    val p = plan("sim_ann_lsh_multiprobe")
    assert(p.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs shape shipped:\n$p")
  }

  test("simhash pairs plan is a hash equi-join, not a nested-loop scan") {
    val p = plan("dedup_simhash_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"O(n^2) join shipped:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product shipped:\n$p")
  }

  test("bucketed embedding near-dup plan has no nested-loop or cartesian join") {
    val p = plan("sim_embed_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"O(n^2) join shipped:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product shipped:\n$p")
  }

  test("dropViral plans a broadcast anti-join; bucketPairs an equi-join on its keys") {
    import spark.implicits._
    val rel = Seq((1L, 0L, "x"), (2L, 0L, "x"), (3L, 1L, "y"))
      .toDF("doc_id", "band_id", "band_key")
    val keys = Seq("band_id", "band_key")
    val anti = operators.Dedup.dropViral(rel, keys, 1).queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftAnti".r.findFirstIn(anti).isDefined,
      s"viral keys not a broadcast anti-join:\n$anti")
    val pairs = operators.Dedup.bucketPairs(rel, "doc_id", keys)
      .queryExecution.executedPlan.toString
    val onKeys = ("(BroadcastHash|SortMerge|ShuffledHash)Join " +
      "\\[band_id#\\d+L, band_key#\\d+\\], \\[band_id#\\d+L, band_key#\\d+\\], Inner").r
    assert(onKeys.findFirstIn(pairs).isDefined,
      s"bucket self-join not an equi-join on the keys:\n$pairs")
    assert(!pairs.contains("BroadcastNestedLoopJoin"), s"O(n^2) join shipped:\n$pairs")
    assert(!pairs.contains("CartesianProduct"), s"cartesian product shipped:\n$pairs")
  }

  test("text_pack is one window shuffle plus the presentation sort") {
    val p = plan("text_pack")
    assert("Exchange".r.findAllIn(p).size === 2,
      s"expected exactly hash(source) + range sort exchanges:\n$p")
    assert(p.contains("Window"), s"no window operator:\n$p")
  }

  test("sample_stratified is map-only except the presentation sort") {
    val p = plan("sample_stratified")
    assert("Exchange".r.findAllIn(p).size === 1,
      s"expected only the final range-sort exchange:\n$p")
  }

  test("q_explode_pos runs the generator inside the scan stage (map-only)") {
    val p = plan("q_explode_pos")
    assert(p.contains("Generate posexplode"), s"no posexplode generator:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"tokenize-and-flatten must not shuffle before the sort:\n$p")
  }

  test("text_bm25 tokenizes the corpus once; df and corpus stats broadcast") {
    // the (doc, term, tf) frame is localCheckpoint-materialized, so the
    // plan must contain NO explode (it ran once, during materialization)
    // and both downstream consumers must read the checkpointed RDD
    val p = plan("text_bm25")
    assert(!p.contains("Generate explode"),
      s"corpus re-tokenized after the tf materialization:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
      s"expected both tf consumers on the checkpointed frame:\n$p")
    assert(p.contains("BroadcastExchange"), s"df/stats not broadcast:\n$p")
  }

  test("dedup_incremental broadcasts the batch; corpus bands never shuffle") {
    val p = plan("dedup_incremental")
    assert(p.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("band_key")),
      s"corpus band index shuffled on band keys:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs shape shipped:\n$p")
  }

  test("q_funnel shares one user_id shuffle across both windows and the per-user agg") {
    val p = plan("q_funnel")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash exchange, got $hashEx:\n$p")
    assert(p.contains("partial_count"), s"final count not map-side combined:\n$p")
  }

  test("q_stats_agg computes all exact moments in one partial/final aggregate") {
    val p = plan("q_stats_agg")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash exchange, got $hashEx:\n$p")
    assert(p.contains("partial_sum"), s"moments not map-side combined:\n$p")
  }

  test("dedup_substring never ships an all-pairs join shape") {
    val p = plan("dedup_substring")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs shape shipped:\n$p")
  }

  test("emb_centroid aggregates map-side before its single hash shuffle") {
    val p = plan("emb_centroid")
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"no partial aggregation:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected one hash exchange:\n$p")
  }

  test("q_profile_table profiles all columns in one scan (Expand, not N scans)") {
    val p = plan("q_profile_table")
    assert("FileScan parquet".r.findAllIn(p).size === 1,
      s"profiling re-scanned the table:\n$p")
    assert(p.contains("Expand"), s"multi-distinct did not plan via Expand:\n$p")
  }

  test("cached table serves follow-up queries from InMemoryTableScan") {
    // the reference's in-memory object store intent: load once, serve
    // every scan from RAM — Spark's cache is the same contract
    val li = Tables.load(spark, TestSpark.sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    li.persist()
    try {
      li.count() // materialize
      val p = li.groupBy("l_orderkey").count()
        .queryExecution.executedPlan.toString
      assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
        s"query did not read from cache:\n$p")
    } finally li.unpersist()
  }

  test("AQE splits a skewed join partition at runtime") {
    // one key holding most rows — the classic 100 TB failure mode. With
    // skew thresholds pinned low, AQE must mark and split the skewed
    // partition inside the sort-merge join instead of letting one task
    // carry the whole key.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val skewed = spark.range(200000L)
        .select(when(col("id") % 10 < 9, 0L).otherwise(col("id")).as("k"),
          md5(col("id").cast("string")).as("pad"))
      val dim = spark.range(50000L)
        .select(col("id").as("k"), md5(col("id").cast("string")).as("pad2"))
      val df = skewed.join(dim, "k").groupBy(lit(1)).count()
      df.collect()
      val p = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other => other.toString
      }
      assert(p.contains("skew=true"), s"no skew-join split in:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("AQE splits the skew-corpus hot key (round-11 verdict task #5)") {
    // same mechanism as above, but on the suite's own `skew` corpus
    // shape (CorpusGen mode=skew: ~50% of lineitem rows on one
    // (l_orderkey, l_partkey), ~50% of orders on one o_custkey) — the
    // degenerate corpus every registry operator is swept against. The
    // manual-salting path is proven by q_salted_join; this asserts the
    // BUILT-IN skew path a real cluster leans on first also fires on
    // that exact data shape. Relations come straight from
    // CorpusGen.degenerate (no filesystem round-trip).
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val t = graft.sources.CorpusGen.degenerate(spark, "skew", 0.01, 7).toMap
      val df = t("lineitem").join(t("orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity"))
      df.collect()
      val p = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other => other.toString
      }
      assert(p.contains("skew=true"), s"no skew-join split in:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("join strategy hints are honored: SHUFFLE_HASH plans a ShuffledHashJoin") {
    import org.apache.spark.sql.functions.col
    val li = Tables.load(spark, TestSpark.sf, "lineitem")
    val ord = Tables.load(spark, TestSpark.sf, "orders").hint("SHUFFLE_HASH")
    val p = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").count()
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"hint ignored:\n$p")
  }

  test("AQE coalesces undersized shuffle partitions at runtime") {
    // a tiny aggregation's shuffle must not keep all configured
    // partitions alive — AQE folds them after seeing map output sizes
    // (at 100 TB the same mechanism right-sizes every stage boundary)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = Tables.load(spark, TestSpark.sf, "nation")
      .groupBy("n_regionkey").count()
    df.collect()
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case other => other.toString
    }
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
      s"AQE did not coalesce the shuffle read:\n$p")
  }

  test("custom DSv2 source narrows its generation range from pushed id bounds") {
    val p = plan("q_custom_source")
    // pushFilters turned id >= 1000 && id < 60000 into the generation
    // interval itself; the residual val predicate stays a Spark Filter
    assert(p.contains("range=[1000,60000)"), s"id bounds not pushed:\n$p")
    assert(p.contains("Filter"), "residual val predicate vanished")
  }

  test("custom DSv2 source prunes columns at the reader") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft.sources.GenSource")
      .option("rows", "100").load().select(col("id"), col("val"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("cols=id,val"), s"reader not pruned to id,val:\n$p")
    assert(!p.contains("cols=id,val,cat"), "cat still materialized")
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // At 100 TB the probe-side scan of a selective join should be pre-
    // filtered by a bloom filter built from the (filtered) build side —
    // Spark injects it when the size thresholds allow; pin them low to
    // prove the plan shape the engine relies on at scale.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // force a shuffle join: bloom pruning only pays off when the join
      // is not a broadcast (a broadcast side already prunes via DPP/hash)
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables.load(spark, TestSpark.sf, "lineitem")
      val ord = Tables.load(spark, TestSpark.sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val p = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter") ||
        p.contains("might_contain"),
        s"no runtime bloom filter on the probe side:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("TPC-H Q5 broadcasts every dimension edge and never goes cartesian") {
    val p = plan("q_tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"supplier/nation/region should all broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join shape:\n$p")
  }

  test("TPC-H Q6 pushes all three predicates and prunes to four columns") {
    val p = plan("q_tpch_q6")
    // toString elides long PushedFilters lists — use formatted explain
    val full = Registry.byName("q_tpch_q6").run(spark, TestSpark.sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scan = full.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(scan.contains("l_shipdate") && scan.contains("l_discount") &&
      scan.contains("LessThan(l_quantity"),
      s"Q6 predicates not all pushed to the scan: $scan")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"),
      s"Q6 scan reads columns beyond the predicate+measure set: $read")
    // global agg: exactly one exchange (partial → single final combine)
    assert("Exchange".r.findAllIn(p).size === 1, s"Q6 shuffled data:\n$p")
  }

  test("TPC-H Q7 broadcasts supplier and both nation roles") {
    val p = plan("q_tpch_q7")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"supplier + both nation roles should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join shape:\n$p")
  }

  test("heavy hitters use a top-k sort, not a global sort") {
    val p = plan("q_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
  }

  test("q19 disjunctive predicate splits and pushes to BOTH scans") {
    val p = plan("q_tpch_q19")
    // part-only (brand,size) OR-branch pushed to the part scan...
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      s"part-side disjunction not pushed:\n$p")
    // ...and the lineitem-only quantity OR-ranges to the lineitem scan,
    // leaving only the cross-side residual on the broadcast join
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"lineitem-side disjunction not pushed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part side not broadcast:\n$p")
  }

  test("q4 EXISTS plans as a semi join with the date range pushed") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"), s"no semi join:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order date range not pushed:\n$p")
  }

  test("q10 pushes the returnflag filter and uses top-k, not global sort") {
    val p = plan("q_tpch_q10")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag not pushed:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
  }

  test("q22 threshold is a broadcast scalar and the churn probe an anti join") {
    val p = plan("q_tpch_q22")
    assert(p.contains("LeftAnti"), s"no anti join:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order date range not pushed into the anti-join probe:\n$p")
  }

  test("q17 correlated avg decorrelates to one agg join, no per-row subquery") {
    val p = plan("q_tpch_q17")
    // the per-part threshold must plan as an aggregate joined back to
    // lineitem (shared l_partkey exchange), never a correlated scalar
    // subquery re-evaluated per row, and never a cartesian
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no decorrelated per-part aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"brand dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in q17:\n$p")
  }

  test("q20 nested semi-join chain plans as semi joins with pushed filters") {
    val p = plan("q_tpch_q20")
    assert(p.contains("LeftSemi"), s"no semi join:\n$p")
    assert(p.contains("StringStartsWith(p_name,red"),
      s"part name pattern not pushed to the part scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in q20:\n$p")
  }

  test("q21 EXISTS/NOT-EXISTS plan as semi + anti joins on the order key") {
    val p = plan("q_tpch_q21")
    assert(p.contains("LeftSemi"), s"EXISTS did not plan as a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not plan as an anti join:\n$p")
    assert(p.contains("EqualTo(o_orderstatus,F)"),
      s"order status filter not pushed:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in q21:\n$p")
  }

  test("q2 min-cost correlation decorrelates to aggregates + broadcast dims") {
    val p = plan("q_tpch_q2")
    // the correlated per-part MIN must plan as a second aggregate joined
    // back (sharing the l_partkey exchange), never a per-row subquery
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no decorrelated per-part min aggregate:\n$p")
    assert(p.contains("LeftSemi"),
      s"part filter not semi-pruning lineitem before the pair agg:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in q2:\n$p")
  }

  test("q8 share aggregate is one pass with broadcast dimension roles") {
    val p = plan("q_tpch_q8")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"part/supplier/nation-roles/region should all broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order date range not pushed:\n$p")
    // numerator + denominator must come from ONE aggregate, not two scans
    assert("Scan parquet".r.findAllIn(p).size <= 8,
      s"double-scan in the share computation:\n$p")
  }

  test("q9 name-substring filter pushes to the part scan and broadcasts") {
    val p = plan("q_tpch_q9")
    assert(p.contains("StringContains(p_name,bolt)"),
      s"name substring not pushed to the part scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in q9:\n$p")
  }

  test("q11 global threshold is a 1-row broadcast, fact scanned once per agg") {
    val p = plan("q_tpch_q11")
    assert(p.contains("LeftSemi"),
      s"supplier region gate not semi-pruning lineitem:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"global (total, n) scalar not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian in q11:\n$p")
  }

  test("q16 distinct supplier count plans as expand + partial/final agg") {
    val p = plan("q_tpch_q16")
    assert(p.contains("LeftAnti"),
      s"NOT IN complaints exclusion did not plan as an anti join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"distinct count not two-phase:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part gate not broadcast:\n$p")
  }

  test("hamming-join rule rewrites the naive join into chunk equi-joins") {
    val p = plan("q_hamming_join_rule")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"naive hamming join survived as a quadratic join:\n$p")
    assert(p.contains("Union"), s"no union of chunk branches:\n$p")
    assert("Join".r.findAllIn(p).size >= 4,
      s"expected k+1=4 chunk-equality join branches:\n$p")
  }

  test("declarative hamming PIPELINE pair stage: chunk equi-join union, no BNLJ") {
    // r13 (verdict task #7): the benched dedup_simhash_declarative
    // pipeline's candidate stage must plan through HammingJoinRewrite —
    // asserted on the pair relation itself because the downstream
    // connected-components loop checkpoints (truncates) this subtree
    val df = graft.operators.Dedup.declarativeHammingPairs(spark, TestSpark.sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"naive hamming join survived as a quadratic join:\n$p")
    assert(p.contains("Union"), s"no union of chunk branches:\n$p")
    assert("Join".r.findAllIn(p).size >= 4,
      s"expected k+1=4 chunk-equality join branches:\n$p")
  }

  test("cms exact companion is partial-agg + top-k, no global sort") {
    val p = plan("q_cms_exact")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregate:\n$p")
  }

  test("hopping window is map-only expansion + one hash aggregate") {
    val p = plan("q_hopping_window")
    // exactly one data shuffle (the aggregate) plus the ordering's range
    // exchange — no join, no extra repartition
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected extra shuffles ($exchanges):\n$p")
    assert(!p.contains("Join"), s"hop expansion must not join:\n$p")
  }

  test("SQL UDF inlines into the plan: no ScalaUDF, stays in codegen") {
    val p = plan("q_sql_udf")
    assert(!p.contains("ScalaUDF"), s"SQL UDF must inline, not box:\n$p")
    // the inlined body must appear as a plain decimal expression inside
    // the aggregate (codegen-eligible), not as a function call boundary
    assert(p.contains("HashAggregate"))
    assert(p.contains("decimal(12,2)"), s"inlined body not visible:\n$p")
  }

  test("interval-overlap join broadcasts the burst side") {
    val p = plan("q_overlap_activity")
    assert(p.contains("BroadcastHashJoin"),
      s"burst windows should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"overlap must stay an equi-bucket hash join:\n$p")
  }

  test("IVF-PQ search broadcasts the query tables and stays an equi-join") {
    val p = plan("emb_ivfpq_search")
    assert(p.contains("BroadcastHashJoin"),
      s"query side (with ADC tables) should broadcast on list_id:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate scoring must never go all-pairs:\n$p")
  }

  test("mixture sampler broadcasts the quota table; ranks shuffle on source only") {
    val p = plan("sample_mixture")
    assert(p.contains("BroadcastHashJoin"),
      s"k-row quota table should broadcast:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"membership rank must not funnel to one partition:\n$p")
  }

  test("rank fusion windows partition by lang — no global-sort funnel") {
    val p = plan("text_rank_fusion")
    assert(!p.contains("Exchange SinglePartition"),
      s"per-lang ranks must not collapse to one partition:\n$p")
  }

  test("shard packing windows on (band, salt) — no global-sort funnel") {
    val p = plan("text_shard_pack")
    assert(!p.contains("Exchange SinglePartition"),
      s"shard round-robin must not collapse to one partition:\n$p")
  }

  test("NOT IN with nullable probe plans as null-aware anti join, not a nested loop") {
    val p = plan("q_null_aware_anti")
    // isNullAwareAntiJoin prints as the trailing `true` flag on the
    // broadcast LeftAnti join in Spark 4's plan string
    assert(p.contains("LeftAnti, BuildRight, true"),
      s"expected null-aware BroadcastHashJoin (LeftAnti, BuildRight, true):\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in NOT IN plan:\n$p")
  }

  test("PMI top-20 is TakeOrdered, never a global sort of all bigrams") {
    val p = plan("text_pmi")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k should plan as TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("regression aggregates are one partial/final pass over one scan") {
    val p = plan("q_regr_fns")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"moments must come from ONE lineitem scan:\n$p")
  }

  test("EWMA kernel shuffles once on user_id, no single-partition window") {
    val p = plan("q_ewma")
    assert(p.contains("Exchange hashpartitioning(user_id"),
      s"window must hash-partition on user_id:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"EWMA must not funnel to one partition:\n$p")
  }

  test("neighbor similarity is wedge equi-joins, never cartesian") {
    val p = plan("graph_neighbor_sim")
    assert(!p.contains("CartesianProduct"), s"cartesian wedge join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"no equi-join in:\n$p")
  }

  test("k-core peel rounds are semi-joins on node ids, never cartesian") {
    // r14: graph_kcore materializes each peel round (the
    // un-checkpointed loop tripled the plan per round), so the FINAL
    // query plan only shows the closing aggregate over the checkpointed
    // edges — assert the round's own shape on the shared helper the
    // QueryDef executes.
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L),
      (3L, 2L), (4L, 1L)).toDF("u", "v")
    val p = operators.Graph.kcorePeelRound(edges, 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), s"peel should plan as semi joins:\n$p")
    assert(!p.contains("CartesianProduct"))
    // and the registry query still plans without a cartesian anywhere
    val full = plan("graph_kcore")
    assert(!full.contains("CartesianProduct"))
  }

  test("daily-active cumulative window runs on the day grain, no funnel") {
    val p = plan("q_daily_active")
    assert(!p.contains("Exchange SinglePartition"),
      s"cumulative users must not collapse to one partition:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected map-side-combined daily + first-occurrence aggs:\n$p")
  }

  test("binary rerank broadcasts the packed query side") {
    val p = plan("sim_binary_rerank")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"10-query packed side should broadcast:\n$p")
  }

  test("peak concurrency: running sum hash-partitions on day; carry is the only funnel") {
    val p = plan("q_peak_concurrency")
    assert(p.contains("Exchange hashpartitioning(day_us"),
      s"per-day prefix sum must shuffle on day_us:\n$p")
    // the cross-day carry runs on the day-grain aggregate — a
    // single-partition window there is expected, and the pre-execution
    // plan duplicates the carry subtree under the peaks self-join (AQE
    // reuses the exchange at runtime: the executed plan has zero).
    // The event-scale delta relation must never funnel, which would
    // show as MORE SinglePartition exchanges than the two carry copies.
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 2,
      s"a non-carry subtree funnels to one partition:\n$p")
  }

  test("phash near-dup is a chunk equi-join, never an all-pairs cartesian") {
    val p = plan("mm_phash_neardup")
    assert(!p.contains("CartesianProduct"), s"all-pairs phash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"phash candidates must come from the chunk equi-join:\n$p")
  }

  test("MRL eval broadcasts the fixed query side; rankings share one join") {
    val p = plan("emb_mrl_eval")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"10-query side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("DSIR gate: 64-row lambda table and 1-row stats broadcast, no cartesian") {
    val p = plan("sample_dsir")
    // the bucket-ratio join and the stats crossJoin must both broadcast
    // (the corpus side is never shuffled for either)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, s"lambda join not broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      "BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"1-row stats frame not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian:\n$p")
  }

  test("scene cut windows per media item — no global-sort funnel") {
    val p = plan("mm_scene_cut")
    assert(p.contains("Window"), s"no window in:\n$p")
    // the lag window partitions by doc_id; only the final presentation
    // ORDER BY may funnel
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")),
      s"lag window runs on a single partition:\n$p")
  }

  test("personalized pagerank iterations are equi-joins, never cartesian") {
    val p = plan("graph_ppr")
    assert(!p.contains("CartesianProduct"), s"cartesian in ppr:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop in ppr:\n$p")
  }

  test("outlier screen shuffles once: second branch reads a ReusedExchange") {
    val df = Registry.byName("q_exchange_reuse").run(spark, TestSpark.sf)
    df.collect() // materialize so AQE finalizes and stage reuse is visible
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    assert(p.contains("ReusedExchange"),
      s"both union branches materialized their own aggregate exchange:\n$p")
  }

  test("runtime bloom filter probe lands on the fact side of the shuffle join") {
    val df = Registry.byName("q_runtime_filter").run(spark, TestSpark.sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain"),
      s"InjectRuntimeFilter planned no bloom probe:\n$opt")
    // the probe must filter the FACT (lineitem) subtree, keyed on the
    // fact join key — that is the shuffle-volume reduction at scale
    assert(opt.contains("l_partkey"),
      s"bloom probe not keyed on the fact join key:\n$opt")
    // and the join itself is the forced shuffle join, not a broadcast
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastHashJoin"),
      s"join broadcast despite disabled threshold:\n$phys")
  }

  test("ROC-AUC never globally sorts the raw score relation") {
    // the CDF scaffold aggregates per-cents FIRST; a rangepartitioning
    // on cents would mean the scale-killing global sort crept back in,
    // and the one full-order window must run on the bucket grain
    val p = plan("q_roc_auc")
    assert(!p.contains("rangepartitioning(cents"),
      s"global sort of the score relation:\n$p")
    assert(p.contains("windowspecdefinition(bucket"),
      s"within-bucket prefix window missing its bucket partition key:\n$p")
    assert(p.contains("BroadcastExchange"), s"totals should broadcast:\n$p")
  }

  test("skew audit and changepoint hash-aggregate the data-sized relation") {
    // the key/day aggregate is the only data-sized exchange; the grain
    // windows and scalar folds run above it on bounded relations
    val skew = plan("q_skew_audit")
    assert(skew.contains("hashpartitioning(l_partkey"),
      s"per-key count aggregate missing:\n$skew")
    assert(!skew.contains("rangepartitioning(l_partkey"),
      s"key-sized sort in the audit:\n$skew")
    val cp = plan("q_changepoint")
    assert(cp.contains("hashpartitioning(day"),
      s"daily aggregate missing:\n$cp")
  }

  test("served IVF search scans the SAVED index files, not the corpus pipeline") {
    // the serving plan must read the persisted index (two parquet scans
    // of the temp index dir) plus the query slice — if the corpus-side
    // centroid assignment (a vec_id window over corpus x centroids)
    // appears, the 'served' path silently recomputed the build
    val p = plan("sim_ann_ivf_served")
    assert(p.contains("graft_ivf_index"),
      s"no scan of the persisted index dir:\n$p")
    // the corpus parquet may appear ONLY as the pushed-down query slice
    // (vec_id < NumQueries); an unfiltered corpus scan means rebuild
    assert(p.contains("LessThan(vec_id,10)"),
      s"query-slice pushdown missing:\n$p")
    // probing the loaded lists dynamically prunes to the routed
    // list_id partitions — the on-disk analog of the list equi-join
    assert(p.contains("dynamicpruning"),
      s"list partitions not dynamically pruned:\n$p")
  }

  test("served minhash dedup probes the saved band index with an equi-join") {
    val p = plan("dedup_minhash_served")
    assert(p.contains("graft_minhash_index"),
      s"no scan of the persisted band index:\n$p")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      s"probe degenerated to a cartesian:\n$p")
  }

  test("IQR outliers never globally sort the event relation") {
    // quartiles come from the value-grain prefix: the only data-sized
    // exchange is the (event_type, cents) hash aggregate; a
    // rangepartitioning on cents would be the full-sort scale killer
    val p = plan("q_iqr_outliers")
    assert(p.contains("hashpartitioning(event_type"),
      s"value-grain aggregate missing:\n$p")
    assert(!p.contains("rangepartitioning(event_type#") ||
      p.indexOf("rangepartitioning") > p.indexOf("Sort [event_type"),
      s"unexpected range partitioning of the event relation:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"quartile fences should broadcast:\n$p")
  }

  test("mm_norm_stats plans no join and exactly one data-sized exchange") {
    val p = plan("mm_norm_stats")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"unexpected join in a fold-and-aggregate plan:\n$p")
    assert(p.contains("hashpartitioning(format"),
      s"format aggregate exchange missing:\n$p")
  }

  test("sample_priority plans TakeOrderedAndProject, never a global sort") {
    // the doc-grain top-(k+1) must be per-partition heaps + one bounded
    // merge; a rangepartitioning exchange would be the global-sort
    // funnel the operator exists to avoid
    val p = plan("sample_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-(k+1) not planned as TakeOrderedAndProject:\n$p")
    assert(!p.contains("rangepartitioning(priority"),
      s"doc-grain global sort slipped in:\n$p")
  }

  test("graph-search beam rounds broadcast the beam, never the corpus") {
    // every expansion joins the <= |Q| x BeamWidth beam against the knn
    // edge relation, and every scoring join attaches the 10-query side:
    // all of these are broadcasts; the only data-sized exchanges belong
    // to the knn graph BUILD (band aggregation + candidate dedup)
    val p = plan("sim_ann_graph_search")
    assert(p.contains("BroadcastHashJoin"),
      s"beam/query joins should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the beam loop:\n$p")
    // the 1-row entry-point aggregate rides a broadcast nested loop —
    // it must stay a 1-row side, never a shuffled join
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"entry point not broadcast:\n$p")
  }

  test("neyman sampler: lang-hashed window, broadcast quotas, no cartesian on docs") {
    val p = plan("sample_neyman")
    assert(p.contains("hashpartitioning(lang"),
      s"stratum window/aggregate not lang-hashed:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"quota relation should broadcast:\n$p")
  }

  test("incremental agg maintenance: partial aggregation, no cartesian") {
    val p = plan("q_incr_agg_maintain")
    assert(p.contains("HashAggregate"), s"no hash aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("cross-modal audit joins pair relations on keys, never pairwise-pairwise") {
    val p = plan("mm_crossmodal_audit")
    assert(!p.contains("CartesianProduct"),
      s"cartesian between the pair relations:\n$p")
    // the reconciliation itself is an equi-join on (a_id, b_id)
    assert(p.contains("FullOuter") || p.contains("full_outer") ||
      p.contains("FullOuterJoin") || p.contains("SortMergeJoin"),
      s"pair-grain outer join missing:\n$p")
  }

  test("welch t plans one map-side-combined aggregate and no join") {
    val p = plan("q_welch_ttest")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"unexpected join in a two-aggregate fold:\n$p")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"no partial aggregation:\n$p")
  }

  test("kcenter assignment is literal-broadcast map work plus one window") {
    // the greedy picks happen in bounded driver rounds (each a
    // TakeOrdered(1) argmin); the RETURNED plan is the closing
    // assignment — selected centers ride along as array literals, so
    // there must be NO join of any kind and exactly one vec_id-keyed
    // window for the argmax
    val p = plan("sample_kcenter")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"assignment should be join-free (centers are literals):\n$p")
    assert(p.contains("Window"), s"no argmax window:\n$p")
  }

  test("backfill merge joins only type-grain aggregates") {
    // both sides of the reconciliation are already aggregated to one
    // row per event type before the full-outer merge — the join must
    // never see event-grain rows
    val p = plan("stream_backfill_merge")
    assert(p.contains("FullOuter") || p.contains("full_outer"),
      s"no full-outer merge:\n$p")
    assert(p.contains("HashAggregate"), s"no aggregation below the merge:\n$p")
  }

  test("dp release: one event-grain aggregate, map-only noise, no join") {
    val p = plan("q_dp_release")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
    // the CASE-ladder noise is a projection over the cell-grain
    // relation — any join or second event-grain pass is a plan bug
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"noise must be map-only on the aggregate output:\n$p")
  }

  test("token budget: broadcast allocation, source-hashed cumsum, no sort-merge") {
    val p = plan("sample_token_budget")
    assert(p.contains("BroadcastExchange"),
      s"k-row budget relation should broadcast:\n$p")
    assert(p.contains("hashpartitioning(source"),
      s"running-sum window not source-hashed:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"doc-grain shuffle join crept in:\n$p")
  }

  test("filtered ANN: broadcast query probe, list-keyed equi-join, no cartesian") {
    val p = plan("sim_ann_filtered")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"query side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"filtered probe degenerated to all-pairs:\n$p")
  }

  test("snapshot diff: one key-keyed full-outer join, class-grain aggregate") {
    val p = plan("q_snapshot_diff")
    assert(p.contains("FullOuter") || p.contains("full_outer"),
      s"no full-outer version compare:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("HashAggregate"), s"no class-grain aggregate:\n$p")
  }

  test("attribution: user-hashed window, no event-to-event join") {
    val p = plan("q_attribution")
    assert(p.contains("hashpartitioning(user_id"),
      s"window not user-hashed:\n$p")
    assert(!p.contains("Join"), s"attribution must not self-join events:\n$p")
  }

  test("zipf curve: distributed top-k, no global sort below the rank window") {
    // the vocabulary aggregate must feed a TakeOrdered top-4096 (per-
    // partition heaps merged on the driver), never a vocabulary-wide
    // global Sort or a single-partition window over the full vocab —
    // at 100 TB the vocabulary is ~10^8 tokens under Heaps
    val p = plan("text_zipf_curve")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-4096 is not a distributed TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("heaps curve: one token aggregate, 8-row broadcast spine, no shuffle join") {
    // prefix membership attaches via a broadcast of the 8-row spine —
    // the token-grain relation must never shuffle for a join, and the
    // 8 prefixes must NOT cost 8 distinct-counts (one first_doc
    // aggregate serves all of them)
    val p = plan("text_heaps_curve")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"spine join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token-grain relation shuffled for a join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("planted recall: band-bucket equi-join and a broadcast close, no all-pairs") {
    // candidates come from the (band_id, band_key) equi-join; the
    // truth join is key-keyed; the only nested-loop joins allowed are
    // the three 1-row count aggregates composing the scorecard row
    val p = plan("dedup_planted_recall")
    assert(!p.contains("CartesianProduct"), s"all-pairs in:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join found:\n$p")
  }

  test("cap recall: both SSJoin legs are equi-joins, close is broadcast 1-rows") {
    val p = plan("dedup_cap_recall")
    assert(!p.contains("CartesianProduct"), s"all-pairs in:\n$p")
    // the two legs' collision joins + verify joins are all keyed
    assert(p.contains("Join"), s"no join at all?:\n$p")
  }

  test("planted vector recall: keyed equi-joins and broadcast close, no all-pairs") {
    val p = plan("sim_planted_recall")
    assert(!p.contains("CartesianProduct"), s"all-pairs in:\n$p")
    // the truth/bucket/list probes are vec_id- or list-keyed joins;
    // the only nested-loop shapes allowed are the broadcast 1-row
    // aggregate closes (these compile to BroadcastNestedLoopJoin over
    // single-row sides, never over the corpus)
    assert(p.contains("Join"), s"no join at all?:\n$p")
  }

  test("clamped balance: one user shuffle, stacked windows, no join or recursion") {
    val p = plan("q_clamped_balance")
    assert(p.contains("hashpartitioning(user_id"),
      s"ledger windows not user-hashed:\n$p")
    // the closed form means NO join, NO recursive plan node, NO
    // driver-side loop — a per-row recurrence compiled to two windows
    assert(!p.contains("Join") && !p.contains("Recursion"),
      s"recurrence leaked out of the window form:\n$p")
    assert("Window".r.findAllIn(p).size >= 1, s"no window:\n$p")
  }
}
