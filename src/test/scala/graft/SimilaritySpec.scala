package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.EngineFns._

/** Similarity search on planted vectors with known cosines. */
class SimilaritySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_sim").toString
    def pad(v: Seq[Float]): Seq[Float] = v ++ Seq.fill(64 - v.size)(0.0f)
    val vecs = Seq(
      (0L, pad(Seq(1f, 0f)), 0), // query
      (1L, pad(Seq(1f, 0f)), 0), // identical -> cos 1
      (2L, pad(Seq(0f, 1f)), 1), // orthogonal -> cos 0
      (3L, pad(Seq(1f, 1f)), 1), // cos ~ 0.7071
      (4L, pad(Seq(-1f, 0f)), 2) // opposite -> cos -1
    ).toDF("vec_id", "embedding", "label")
    vecs.coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("cosine column computes known values") {
    val df = Seq((Seq(1f, 0f), Seq(1f, 1f))).toDF("a", "b")
      .select(cosine(col("a"), col("b")).as("c"))
    val c = df.collect()(0).getDouble(0)
    assert(math.abs(c - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("brute-force top-k ranks identical > diagonal > orthogonal > opposite") {
    val out = Registry.byName("sim_topk_bruteforce").run(spark, dir)
      .filter(col("q_id") === 0L).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    assert(out.head._2 === 1L && math.abs(out.head._3 - 1.0) < 1e-12)
    val order = out.sortBy(_._1).map(_._2).toSeq
    assert(order === Seq(1L, 3L, 2L, 4L))
  }

  test("LSH buckets put identical vectors together and its cosines match brute force") {
    val lsh = Registry.byName("sim_ann_lsh").run(spark, dir)
      .filter(col("q_id") === 0L).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    assert(lsh.contains(1L)) // identical vector always shares the bucket
    val brute = Registry.byName("sim_topk_bruteforce").run(spark, dir)
      .filter(col("q_id") === 0L).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    lsh.foreach { case (id, c) => assert(c === brute(id)) }
  }

  test("exact near-dup pairs include the identical pair with cos 1") {
    val out = Registry.byName("sim_embed_neardup_exact").run(spark, dir).collect()
      .map(r => ((r.getAs[Long]("a_id"), r.getAs[Long]("b_id")), r.getAs[Double]("cos")))
      .toMap
    assert(math.abs(out((0L, 1L)) - 1.0) < 1e-12)
    assert(!out.contains((0L, 2L))) // orthogonal, below threshold
  }

  test("bucketed near-dup finds identical vectors and never a false positive") {
    val out = Registry.byName("sim_embed_neardup").run(spark, dir).collect()
      .map(r => ((r.getAs[Long]("a_id"), r.getAs[Long]("b_id")), r.getAs[Double]("cos")))
      .toMap
    // identical vectors share every band -> always a candidate
    assert(math.abs(out((0L, 1L)) - 1.0) < 1e-12)
    assert(!out.contains((0L, 2L)))
  }

  test("bucketed near-dup: precision 1.0 and measured recall vs exact") {
    val exact = Registry.byName("sim_embed_neardup_exact").run(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Registry.byName("sim_embed_neardup").run(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every emitted pair is verified with the exact cosine -> subset
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    // recall at this corpus's permissive 0.4 threshold; production
    // near-dup thresholds (>= 0.9) sit far higher on the LSH s-curve
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("custom top-k rejects empty and oversized query sets") {
    val e = Registry.byName("sim_topk_bruteforce").run(spark, dir) // any df
    intercept[IllegalArgumentException] {
      graft.plans.CosineTopKOp.topK(spark, e, Seq.empty, 5)
    }
    val tooMany = (0 until graft.plans.CosineTopKOp.MaxQueries + 1)
      .map(i => i.toLong -> Array(1.0f))
    intercept[IllegalArgumentException] {
      graft.plans.CosineTopKOp.topK(spark, e, tooMany, 5)
    }
  }

  test("custom top-k operator equals brute force bit-for-bit") {
    val brute = Registry.byName("sim_topk_bruteforce").run(spark, TestSpark.sf)
      .collect().map(_.toString).toSeq
    val custom = Registry.byName("sim_topk_custom_op").run(spark, TestSpark.sf)
      .collect().map(_.toString).toSeq
    assert(custom === brute)
  }

  test("custom top-k plans through CosineTopKExec") {
    val df = Registry.byName("sim_topk_custom_op").run(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("CosineTopK"), s"custom exec missing:\n$plan")
  }

  test("sim_ann_recall scorecard equals the recomputed LSH-vs-exact overlap") {
    def top5(name: String): Map[Long, Set[Long]] =
      Registry.byName(name).run(spark, TestSpark.sf).collect()
        .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("vec_id"))
        .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    val brute = top5("sim_topk_bruteforce")
    val lsh = top5("sim_ann_lsh")
    val card = Registry.byName("sim_ann_recall").run(spark, TestSpark.sf)
      .collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"),
          r.getAs[Double]("recall")))
      .toMap
    assert(card.keySet === brute.keySet)
    card.foreach { case (q, (nExact, nHit, recall)) =>
      assert(nExact === brute(q).size.toLong, s"q=$q n_exact")
      val hits = lsh.getOrElse(q, Set.empty).intersect(brute(q)).size
      assert(nHit === hits.toLong, s"q=$q n_hit")
      assert(math.abs(recall - hits.toDouble / nExact) < 1e-15, s"q=$q recall")
    }
  }

  test("emb_health: planted labels get exact counts, norms, zero flags") {
    // planted dir: label 0 = vecs {0,1} norm 1; label 1 = {2 (norm 1),
    // 3 (norm sqrt 2)}; label 2 = {4} norm 1. No NaN/wrong-width/zero.
    val out = Registry.byName("emb_health").run(spark, dir).collect()
      .map(r => r.getAs[Long]("label") ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_bad_dim"),
          r.getAs[Long]("n_nonfinite"), r.getAs[Long]("n_zero"),
          r.getAs[Double]("min_norm"), r.getAs[Double]("mean_norm"),
          r.getAs[Double]("max_norm")))
      .toMap
    assert(out.keySet === Set(0L, 1L, 2L))
    assert(out(0L)._1 === 2L && out(1L)._1 === 2L && out(2L)._1 === 1L)
    out.values.foreach { case (_, bad, nf, z, _, _, _) =>
      assert(bad === 0L && nf === 0L && z === 0L)
    }
    assert(math.abs(out(0L)._5 - 1.0) < 1e-12)
    assert(math.abs(out(0L)._7 - 1.0) < 1e-12)
    assert(math.abs(out(1L)._5 - 1.0) < 1e-12)
    assert(math.abs(out(1L)._7 - math.sqrt(2.0)) < 1e-12)
    assert(math.abs(out(1L)._6 - (1.0 + math.sqrt(2.0)) / 2.0) < 1e-12)
  }

  test("multi-probe LSH and nprobe=2 IVF recall >= their single-probe forms") {
    def top5(name: String): Map[Long, Set[Long]] =
      Registry.byName(name).run(spark, TestSpark.sf).collect()
        .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("vec_id"))
        .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    val brute = top5("sim_topk_bruteforce")
    def recall(m: Map[Long, Set[Long]]): Double =
      brute.map { case (q, b) =>
        m.getOrElse(q, Set.empty).intersect(b).size.toDouble / b.size
      }.sum / brute.size
    val r1 = recall(top5("sim_ann_lsh"))
    val rMulti = recall(top5("sim_ann_lsh_multiprobe"))
    val i1 = recall(top5("sim_ann_ivf"))
    val i2 = recall(top5("sim_ann_ivf_nprobe2"))
    // probing more buckets/lists only grows the candidate set, so
    // top-k recall is monotone in the probe count
    assert(rMulti >= r1, s"multiprobe $rMulti < single $r1")
    assert(i2 >= i1, s"nprobe2 $i2 < nprobe1 $i1")
    System.err.println(
      f"[recall@5 ${TestSpark.sf}] lsh=$r1%.3f lsh_multiprobe=$rMulti%.3f " +
        f"ivf=$i1%.3f ivf_nprobe2=$i2%.3f")
  }

  test("served IVF (saved index) equals inline sim_ann_ivf bit-for-bit") {
    // the serving path loads centroids + list_id-partitioned lists from
    // the persisted parquet index; on the REAL smoke corpus it must
    // reproduce the inline build's result exactly — same rows, same
    // doubles, same order (round-7 verdict task #5)
    val corpus = TestSpark.sf
    val inline = Registry.byName("sim_ann_ivf").run(spark, corpus).collect()
    val served = Registry.byName("sim_ann_ivf_served").run(spark, corpus)
      .collect()
    assert(inline.nonEmpty)
    assert(served.toSeq === inline.toSeq)
    // second serve hits the already-saved index (Tables.memo keys it
    // on the corpus fingerprint) and stays identical — the load path
    // is stable
    val servedAgain = Registry.byName("sim_ann_ivf_served")
      .run(spark, corpus).collect()
    assert(servedAgain.toSeq === served.toSeq)
  }

  test("IVF refresh: append rebuilds the index and serves the full corpus") {
    // sim_ann_ivf_refresh splits the corpus 12:1, indexes the base
    // slice, APPENDS the held-out batch, and re-serves: the fingerprint
    // cache key must force a rebuild (the operator requires distinct
    // index dirs internally) and the served result must equal the
    // inline build over the ORIGINAL corpus — refresh-then-serve ≡
    // rebuild-from-scratch (r9, VERDICT task 7)
    val corpus = TestSpark.sf
    val inline = Registry.byName("sim_ann_ivf").run(spark, corpus).collect()
    val refreshed = Registry.byName("sim_ann_ivf_refresh")
      .run(spark, corpus).collect()
    assert(inline.nonEmpty)
    assert(refreshed.toSeq === inline.toSeq)
  }

  test("the IVF centroid write runs in the pre-split scan's own tasks") {
    // 2 x defaultParallelism files: Tables.parallel keeps the scan as it
    // is, so the write's task count is the scan's split count
    val d = Files.createTempDirectory("graft_ivf_split").toString
    val files = 2 * spark.sparkContext.defaultParallelism
    spark.range(400)
      .select(col("id").as("vec_id"),
        array((0 until 64).map(i => (hash(col("id"), lit(i)) % 100).cast("float")): _*)
          .as("embedding"))
      .repartition(files)
      .write.parquet(s"$d/embeddings.parquet")
    val line = Files.readAllLines(java.nio.file.Paths.get(
      "src/main/scala/graft/operators/Similarity.scala"))
      .asScala.indexWhere(_.contains("parquet(s\"$p/centroids\")")) + 1
    assert(line > 0, "the centroid write's line")
    val jobs = org.apache.spark.JobCount.jobs(spark.sparkContext)(
      operators.Similarity.ivfIndexDir(spark, d))
    assert(jobs.exists { case (site, tasks) =>
      site == s"parquet at Similarity.scala:$line" && tasks > 1 }, jobs)
  }

  test("IVF index stats account for every vector and shares sum to 1") {
    val corpus = TestSpark.sf
    val nVecs = Tables.load(spark, corpus, "embeddings").count()
    val rows = Registry.byName("sim_ann_ivf_index_stats")
      .run(spark, corpus).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_vectors")).sum === nVecs,
      "inverted lists must partition the corpus")
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-9)
    rows.foreach(r => assert(r.getAs[Long]("n_vectors") > 0L))
  }

  test("OOD flags the bottom ~5% per label and own-centroid cosine is sane") {
    val rows = Registry.byName("emb_ood_score").run(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("label"),
        r.getAs[Double]("cos_centroid"), r.getAs[Boolean]("ood")))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (_, g) =>
      val expectFlagged = (g.length + 19) / 20
      assert(g.count(_._4) === expectFlagged)
      // the flagged set IS the lowest-cosine prefix (vec_id tie-break)
      val sorted = g.sortBy(r => (r._3, r._1))
      assert(sorted.take(expectFlagged).forall(_._4))
      assert(sorted.drop(expectFlagged).forall(!_._4))
    }
    rows.foreach(r => assert(r._3 >= -1.0 - 1e-9 && r._3 <= 1.0 + 1e-9))
  }

  test("served minhash dedup reports only cross-split verified pairs, stably") {
    val out = Registry.byName("dedup_minhash_served").run(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("jaccard")))
    out.foreach { case (b, c, j) =>
      assert(b % 13 === 0L, "batch side must be the incoming shard")
      assert(c % 13 !== 0L, "dup_of must come from the persisted index")
      assert(j >= operators.Dedup.JaccardThreshold && j <= 1.0)
    }
    // second serve hits the cached index and is bit-identical
    val again = Registry.byName("dedup_minhash_served")
      .run(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("jaccard")))
    assert(again.toSeq === out.toSeq)
  }

  test("emb_pca_power returns a unit direction that beats the start direction") {
    val v = Registry.byName("emb_pca_power").run(spark, TestSpark.sf)
      .collect().sortBy(_.getAs[Long]("dim")).map(_.getAs[Double]("weight"))
    assert(v.length === 64)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9, "not a unit vector")
    // Rayleigh quotient along the returned direction must dominate the
    // iteration's start direction (power iteration is monotone in the
    // quotient; the integer quantization can only nudge it epsilon-wise)
    val embs = Tables.load(spark, TestSpark.sf, "embeddings")
      .select("embedding").collect().map(_.getSeq[Float](0).map(_.toDouble))
    def variance(dir: Array[Double]): Double = {
      val projs = embs.map(e => e.zip(dir).map { case (a, b) => a * b }.sum)
      val m = projs.sum / projs.length
      projs.map(p => (p - m) * (p - m)).sum / projs.length
    }
    val start = Array.fill(64)(0.125)
    assert(variance(v) >= variance(start) * 0.999,
      "power iteration failed to increase the Rayleigh quotient")
  }

  test("LSH on the real corpus never beats the exact maximum") {
    val bruteMax = Registry.byName("sim_topk_bruteforce").run(spark, TestSpark.sf)
      .filter(col("rank") === 1L).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
    val lsh = Registry.byName("sim_ann_lsh").run(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Double]("cos")))
    assert(lsh.nonEmpty)
    lsh.foreach { case (q, c) => assert(c <= bruteMax(q) + 1e-12) }
  }

  test("sim_knn_graph: ranks are contiguous top-3 and cosines are exact") {
    val rows = Registry.byName("sim_knn_graph").run(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("nbr_id"),
        r.getAs[Double]("cos"), r.getAs[Long]("rank")))
    assert(rows.nonEmpty)
    // per-source: ranks are 1..n (n <= 3), cosines non-increasing
    rows.groupBy(_._1).foreach { case (src, g) =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1L to g.length).toSeq, s"src $src")
      assert(sorted.map(_._3).toSeq.reverse.sorted.reverse ===
        sorted.map(_._3).toSeq, s"src $src cos not sorted")
      assert(g.length <= 3)
    }
    // graph edges carry the true cosine: recompute a sample exactly
    val embMap = spark.read
      .parquet(s"${TestSpark.sf}/embeddings.parquet")
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding"))
      .toMap
    def exactCos(a: scala.collection.Seq[Float],
        b: scala.collection.Seq[Float]): Double = {
      val dot = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      val na = a.zip(a).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      val nb = b.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      dot / math.sqrt(na * nb)
    }
    rows.take(20).foreach { case (s0, n0, c, _) =>
      assert(math.abs(exactCos(embMap(s0), embMap(n0)) - c) < 1e-12)
    }
  }

  test("graph search: ranked shape, no self, reachable, never below entry") {
    val out = Registry.byName("sim_ann_graph_search").run(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"), r.getAs[Long]("rank")))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (q, g) =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1L to g.length).toSeq, s"q $q")
      assert(sorted.map(_._3).toSeq.reverse.sorted.reverse ===
        sorted.map(_._3).toSeq, s"q $q cos not sorted")
      assert(g.forall(_._2 != q), s"q $q returned itself")
      assert(g.length <= 5)
    }
    // every hit is reachable from the entry point within
    // GraphSearchRounds hops of the knn graph (or IS the entry) — the
    // beam can only ever visit what the expansions reach
    val edges = Registry.byName("sim_knn_graph").run(spark, TestSpark.sf)
      .collect()
      .map(r => r.getAs[Long]("src_id") -> r.getAs[Long]("nbr_id"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val entry = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .agg(min(col("vec_id"))).collect()(0).getLong(0)
    var reach = Set(entry)
    for (_ <- 1 to 3)
      reach = reach ++ reach.flatMap(v => edges.getOrElse(v, Set.empty))
    out.foreach { case (q, v, _, _) =>
      assert(reach.contains(v), s"q $q hit $v unreachable in 3 hops")
    }
    // the beam never worsens: rank-1 beats (or ties) the entry cosine
    val embMap = spark.read
      .parquet(s"${TestSpark.sf}/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")).toMap
    def cosOf(a: Long, b: Long): Double = {
      val (x, y) = (embMap(a), embMap(b))
      val d = x.zip(y).foldLeft(0.0) { case (s0, (p, q)) => s0 + p.toDouble * q.toDouble }
      val nx = x.foldLeft(0.0)((s0, p) => s0 + p.toDouble * p.toDouble)
      val ny = y.foldLeft(0.0)((s0, p) => s0 + p.toDouble * p.toDouble)
      d / math.sqrt(nx * ny)
    }
    out.filter(r => r._4 == 1L && r._1 != entry).foreach { case (q, _, c, _) =>
      assert(c >= cosOf(q, entry) - 1e-12, s"q $q rank-1 below entry")
    }
  }

  test("ivf tradeoff: legs agree with the registry's own IVF searches") {
    val t = Registry.byName("sim_ivf_tradeoff").run(spark, TestSpark.sf)
      .collect()
      .map(r => r.getAs[Long]("nprobe") ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"),
          r.getAs[Long]("n_candidates"), r.getAs[Double]("recall")))
      .toMap
    assert(t.keySet === Set(1L, 2L))
    // probing a second list can only add candidates and recall
    assert(t(2L)._3 >= t(1L)._3, "nprobe=2 must scan at least as much")
    assert(t(2L)._2 >= t(1L)._2, "nprobe=2 hits can only grow")
    // drift-proof: n_hit must equal the overlap of the registry's OWN
    // brute-force and IVF outputs, recomputed here independently
    val exact = Registry.byName("sim_topk_bruteforce").run(spark, TestSpark.sf)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    Seq(1L -> "sim_ann_ivf", 2L -> "sim_ann_ivf_nprobe2").foreach {
      case (np, name) =>
        val ann = Registry.byName(name).run(spark, TestSpark.sf).collect()
          .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
        assert(t(np)._2 === (exact & ann).size.toLong,
          s"$name: scorecard n_hit drifted from the registry outputs")
        assert(t(np)._4 === (exact & ann).size.toDouble / exact.size)
    }
  }

  test("hard negatives differ in label and are the best cross-label candidates") {
    val out = Registry.byName("sample_hardneg").run(spark, TestSpark.sf)
      .collect()
    assert(out.nonEmpty)
    val labels = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("neg_label") !== r.getAs[Long]("q_label"))
      assert(r.getAs[Long]("q_label") === labels(r.getAs[Long]("q_id")))
      assert(r.getAs[Long]("neg_label") === labels(r.getAs[Long]("vec_id")))
    }
    // per query: ranks contiguous from 1, cosines non-increasing, and
    // every mined negative scores <= the best unrestricted ANN hit
    val annBest = Registry.byName("sim_ann_ivf_nprobe2")
      .run(spark, TestSpark.sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Double]("cos")).max)
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ===
        (1L to sorted.length).toSeq)
      val cs = sorted.map(_.getAs[Double]("cos")).toSeq
      assert(cs === cs.sorted.reverse)
      annBest.get(q).foreach(best => assert(cs.head <= best))
    }
  }

  test("filtered ANN returns only predicate-passing candidates, full ranks") {
    val rows = Registry.byName("sim_ann_filtered")
      .run(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val evenLabel = Tables.load(spark, TestSpark.sf, "embeddings")
      .filter(col("label").cast("long") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      val v = r.getAs[Long]("vec_id")
      assert(evenLabel.contains(v), s"disallowed candidate $v surfaced")
      assert(v !== r.getAs[Long]("q_id"), "self match")
    }
    // ranks are contiguous from 1 per query (pre-filter never under-fills
    // below the list's actual allowed population)
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, g) =>
      assert(g.map(_.getAs[Long]("rank")).sorted.toSeq ===
        (1L to g.length).toSeq, s"ranks not contiguous for query $q")
    }
  }

  test("emb_drift replays the quantized half-centroid fold; null calibration holds") {
    val rows = Registry.byName("emb_drift").run(spark, TestSpark.sf)
      .collect()
      .map(r => r.getAs[Long]("label") ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("mean_mass_a"), r.getAs[Double]("drift_cos")))
      .toMap
    assert(rows.nonEmpty)
    rows.values.foreach { case (na, nb, mm, cos) =>
      assert(na > 0 && nb > 0)
      assert(cos >= -1.0 - 1e-12 && cos <= 1.0 + 1e-12)
      // this corpus's labels carry NO mean signal by construction, so
      // the mean-mass ratio must sit at its iid null (~1), telling the
      // dashboard the cosine is noise — the calibration the operator
      // exists to ship
      assert(mm > 0.3 && mm < 3.0, s"mean mass $mm outside the null band")
    }
    // exact local replay of one label's fold
    val vecs = Tables.load(spark, TestSpark.sf, "embeddings")
      .filter(col("label").cast("long") === 0L)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def q(x: Double): Long = math.floor(x * 262144.0 + 0.5).toLong
    val dims = vecs.head._2.length
    def sumHalf(h: Long): Array[Long] = (0 until dims).map { d =>
      val s = vecs.filter(_._1 % 2 == h)
        .map(v => BigDecimal(v._2(d).toDouble)).sum
      q(s.toDouble)
    }.toArray
    val (sa, sb) = (sumHalf(0L), sumHalf(1L))
    val dot = (0 until dims).map(d => BigInt(sa(d)) * BigInt(sb(d))).sum
    val n2a = (0 until dims).map(d => BigInt(sa(d)) * BigInt(sa(d))).sum
    val n2b = (0 until dims).map(d => BigInt(sb(d)) * BigInt(sb(d))).sum
    val expCos = dot.toDouble / math.sqrt(n2a.toDouble * n2b.toDouble)
    assert(math.abs(rows(0L)._4 - expCos) < 1e-9,
      s"cos replay: got ${rows(0L)._4}, want $expCos")
  }

  test("served graph search equals the inline form bit-for-bit") {
    // the served form loads the build-once edge index (knnIndexDir);
    // navigation must reproduce the inline rebuild exactly — same
    // contract as sim_ann_ivf_served vs sim_ann_ivf
    val inline = Registry.byName("sim_ann_graph_search")
      .run(spark, TestSpark.sf).collect().toSeq
    val served = Registry.byName("sim_ann_graph_served")
      .run(spark, TestSpark.sf).collect().toSeq
    assert(served === inline)
  }

  test("clustered corpus: mixture structure, planted pairs mutually rank-1") {
    // round-12 verdict task #1: the clustered CorpusGen mode must
    // produce (a) k ~ sqrt(n) clusters with within-cluster cosine far
    // above between-cluster, (b) planted rows at PlantBase + src whose
    // vectors are their source's nearest neighbor BY FAR — the ground
    // truth every sim_/emb_ recall number is scored against.
    val base = graft.sources.CorpusGen.PlantBase
    val e = graft.sources.CorpusGen.clusteredEmbeddings(spark, 200L, 7L)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray,
        r.getAs[Int]("label")))
    assert(e.length === 210) // 200 sources + 10 planted (id % 20 == 19)
    val k = e.map(_._3).distinct.length
    assert(k >= 8 && k <= 15, s"cluster count $k not ~sqrt(200)")
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val src = e.filter(_._1 < base)
    val within = for {
      a <- src; b <- src if a._1 < b._1 && a._3 == b._3
    } yield cos(a._2, b._2)
    val between = for {
      a <- src; b <- src if a._1 < b._1 && a._3 != b._3
    } yield cos(a._2, b._2)
    assert(within.sum / within.size > 0.6,
      s"within-cluster cos too low: ${within.sum / within.size}")
    assert(math.abs(between.sum / between.size) < 0.2,
      s"between-cluster cos not ~0: ${between.sum / between.size}")
    // every planted row: cos to its source > 0.99 and source is rank-1
    val byId = e.map(v => v._1 -> v).toMap
    e.filter(_._1 >= base).foreach { d =>
      val s = byId(d._1 - base)
      val cSrc = cos(d._2, s._2)
      assert(cSrc > 0.99, s"planted ${d._1} cos to source $cSrc")
      assert(s._3 === d._3, "planted label != source cluster")
      val bestOther = e.filter(v => v._1 != d._1 && v._1 != s._1)
        .map(v => cos(d._2, v._2)).max
      assert(cSrc > bestOther,
        s"planted ${d._1} has a nearer non-source neighbor")
    }
  }

  test("sim_planted_recall: probe widening never loses recall; empty truth honored") {
    val d = Files.createTempDirectory("graft_clu").toString
    graft.sources.CorpusGen.clusteredEmbeddings(spark, 500L, 7L)
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val m = Registry.byName("sim_planted_recall").run(spark, d).collect()
      .map(r => r.getAs[String]("method") ->
        ((r.getAs[Long]("n_truth"), r.getAs[Long]("n_hit"),
          r.getAs[Double]("recall")))).toMap
    assert(m.keySet ===
      Set("ivf_nprobe1", "ivf_nprobe2", "lsh_bucket", "lsh_probe1"))
    assert(m("ivf_nprobe1")._1 === 25L) // 500/20 planted pairs
    // widening the probe set can only ADD candidate lists
    assert(m("ivf_nprobe2")._3 >= m("ivf_nprobe1")._3)
    // the ≤1-bit multiprobe surface is a superset of the home bucket
    assert(m("lsh_probe1")._3 >= m("lsh_bucket")._3)
    m.foreach { case (meth, (_, _, r)) =>
      assert(r >= 0.8 && r <= 1.0,
        s"$meth recall $r outside the designed band")
    }
    // the fixture corpus plants nothing: truth empty, recall 0 by
    // convention on all three rows
    Registry.byName("sim_planted_recall").run(spark, TestSpark.sf)
      .collect().foreach { r =>
        assert(r.getAs[Long]("n_truth") === 0L)
        assert(r.getAs[Double]("recall") === 0.0)
      }
  }
}
