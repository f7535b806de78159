package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** PageRank on a planted near-dup star: a hub document sharing one
  * shingle with each of 5 leaves (leaves pairwise disjoint), plus two
  * isolated documents. */
class GraphSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_graph").toString
    // hub carries shingles c1c2c3 .. c6c7c8; leaf i shares ONLY the
    // trigram (c_i, c_i+1, c_i+2) with the hub, so leaves are pairwise
    // disjoint (a leaf clique would make the graph regular and the
    // uniform distribution a fixed point — no rank separation)
    val hub = (0L, "c1 c2 c3 c4 c5 c6 c7 c8")
    val leaves = (1L to 5L).map(i => (i, s"c$i c${i + 1} c${i + 2} x$i y$i z$i"))
    val isolated = Seq((6L, "p6 q6 r6 s6"), (7L, "p7 q7 r7 s7"))
    val docs = (Seq(hub) ++ leaves ++ isolated)
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("pagerank ranks hub > leaf > isolated, leaves symmetric, mass bounded") {
    val out = Registry.byName("graph_pagerank").run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pagerank_q")).toMap
    assert(out.size === 8)
    val leafRanks = (1L to 5L).map(out)
    assert(leafRanks.distinct.size === 1, "symmetric leaves must tie")
    assert(out(0L) > leafRanks.head, "hub collects leaf mass")
    assert(leafRanks.head > out(6L), "leaf gets hub mass, isolated only base")
    assert(out(6L) === out(7L))
    // total quantized mass never exceeds the initial Q (integer division
    // only loses mass; nothing is created)
    assert(out.values.sum <= 1000000000000L)
  }

  test("ppr: seed hub dominates, leaves get seed mass, isolated get zero") {
    // on this fixture the only doc_id % 20 == 0 node is the hub (0), so
    // personalized pagerank == proximity to the hub
    val out = Registry.byName("graph_ppr").run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("ppr_q")).toMap
    assert(out.size === 8)
    val leafRanks = (1L to 5L).map(out)
    assert(leafRanks.distinct.size === 1, "symmetric leaves must tie")
    assert(out(0L) > leafRanks.head, "seed keeps the restart mass")
    assert(leafRanks.head > 0L, "leaves receive propagated seed mass")
    // unlike uniform pagerank, nodes unreachable from the seed set hold
    // exactly ZERO mass — no base term for non-seeds
    assert(out(6L) === 0L)
    assert(out(7L) === 0L)
    assert(out.values.sum <= 1000000000000L)
  }

  test("modularity on the triangle+pair fixture matches the hand computation") {
    // LPA(3 rounds) on triDir: the 3-clique {0,1,2} collapses to label 0;
    // the 3-4 pair oscillates into two singleton communities. So
    // m = 4 edges, intra = 3 (the clique's), degrees (2,2,2,1,1) give
    // D_c in {6,1,1} -> sum_deg_sq = 38, and
    // Q = 3/4 - 38/64 = 0.15625 EXACTLY (both terms are binary fractions).
    val r = Registry.byName("graph_modularity").run(spark, triDir).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("m") === 4L)
    assert(row.getAs[Long]("intra_edges") === 3L)
    assert(row.getAs[Long]("sum_deg_sq") === 38L)
    assert(row.getAs[Double]("modularity") === 0.15625)
  }

  test("cluster-size histogram: one 6-doc star family plus two singletons") {
    val out = Registry.byName("dedup_cluster_sizes").run(spark, dir).collect()
      .map(r => (r.getAs[Long]("cluster_size"), r.getAs[Long]("n_clusters"),
        r.getAs[Long]("n_docs"))).toSeq
    assert(out === Seq((1L, 2L, 2L), (6L, 1L, 6L)))
    // the histogram is a lossless partition of the corpus
    assert(out.map(_._3).sum === 8L)
  }

  /** Planted triangle: docs 0/1/2 all share one trigram (3-clique);
    * docs 3/4 share another (single edge, no triangle). */
  private lazy val triDir: String = {
    val d = Files.createTempDirectory("graft_tri").toString
    val docs = Seq(
      (0L, "t1 t2 t3 a0 b0 c0"),
      (1L, "t1 t2 t3 a1 b1 c1"),
      (2L, "t1 t2 t3 a2 b2 c2"),
      (3L, "u1 u2 u3 a3 b3 c3"),
      (4L, "u1 u2 u3 a4 b4 c4"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("triangles finds exactly the planted 3-clique") {
    val tri = Registry.byName("graph_triangles").run(spark, triDir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c")))
    assert(tri.toSeq === Seq((0L, 1L, 2L)))
    val deg = Registry.byName("graph_degrees").run(spark, triDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("degree")).toMap
    assert(deg === Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("triangles on the corpus match a brute-force closure of the edges") {
    val pairs = operators.Dedup
      .jaccardPairs(operators.Dedup.shingled(spark, TestSpark.sf))
      .filter(org.apache.spark.sql.functions.col("jaccard") >=
        operators.Dedup.JaccardThreshold)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edgeSet = pairs.toSet
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val brute = (for {
      (a, succ) <- adj.toSeq
      i <- succ.indices; j <- (i + 1) until succ.length
      if edgeSet.contains((succ(i), succ(j)))
    } yield (a, succ(i), succ(j))).sorted
    val got = Registry.byName("graph_triangles").run(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c")))
      .toSeq.sorted
    assert(got === brute)
    assert(got.nonEmpty, "smoke corpus should contain triangles")
  }

  // ---- semantic fixtures for the REPLAY-ORACLE ops (round-6 verdict
  // task #1): graph_hits / graph_kcore / graph_random_walk /
  // graph_bfs_2hop_capped are oracle-checked by DuckDB replaying the
  // same algorithm, which proves engine-equivalence only. These tests
  // pin the ALGORITHM itself to hand-computed results on planted graphs.

  test("hits on the star: leaves are the authorities, hub is the hub") {
    // oriented edges 0→i (a_id < b_id): the hub only EMITS, leaves only
    // RECEIVE. Fixpoint (reached in one iteration, stable in two):
    // every leaf authority = HitsQ (symmetric, max-norm), hub authority
    // 0; hub hub-score = HitsQ, all leaf hub-scores 0; isolated 0/0.
    val out = Registry.byName("graph_hits").run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("auth_q"), r.getAs[Long]("hub_q"))).toMap
    assert(out.size === 8)
    assert(out(0L) === ((0L, 1000000L)), "hub: zero authority, max hub")
    (1L to 5L).foreach { i =>
      assert(out(i) === ((1000000L, 0L)), s"leaf $i: max authority, zero hub")
    }
    assert(out(6L) === ((0L, 0L)))
    assert(out(7L) === ((0L, 0L)))
  }

  test("kcore peels the pendant pair and keeps the planted 3-clique") {
    // triDir: clique {0,1,2} has degree 2 everywhere (the 2-core); the
    // isolated edge {3,4} has degree 1 and must peel in round 1
    val out = Registry.byName("graph_kcore").run(spark, triDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("core_degree")).toMap
    assert(out === Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
  }

  test("random walk only traverses real edges and is deterministic") {
    // star: every leaf's sole neighbor is the hub, so walks alternate
    // leaf → hub → leaf → hub …; isolated docs never start a walk
    val rows = Registry.byName("graph_random_walk").run(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("step1"),
        r.getAs[Long]("step2"), r.getAs[Long]("step3")))
    assert(rows.map(_._1).toSet === (0L to 5L).toSet,
      "exactly the edge-bearing nodes start walks")
    val edges = (1L to 5L).flatMap(i => Seq((0L, i), (i, 0L))).toSet
    rows.foreach { case (s0, s1, s2, s3) =>
      assert(edges.contains((s0, s1)) && edges.contains((s1, s2)) &&
        edges.contains((s2, s3)), s"walk $s0→$s1→$s2→$s3 uses a non-edge")
    }
    // leaves have one neighbor: their odd steps are forced to the hub
    rows.filter(_._1 != 0L).foreach { case (_, s1, _, s3) =>
      assert(s1 === 0L); assert(s3 === 0L)
    }
    // hash-driven draws are a pure function of (step, cur, candidate)
    val again = Registry.byName("graph_random_walk").run(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("step1"),
        r.getAs[Long]("step2"), r.getAs[Long]("step3")))
    assert(rows.sorted.toSeq === again.sorted.toSeq)
  }

  test("capped 2-hop bfs equals an independent bfs over the capped adjacency") {
    // independent model: undirected star edges, each node keeps its F=4
    // SMALLEST-id neighbors (hub 0 keeps 1,2,3,4 and drops 5), then a
    // plain 2-hop BFS with min-dist — computed here in test scala, not
    // by replaying the engine's SQL
    val adj: Map[Long, Seq[Long]] =
      (Map(0L -> (1L to 5L)) ++ (1L to 5L).map(i => i -> Seq(0L)))
        .map { case (u, vs) => u -> vs.sorted.take(4).toSeq }
    val expected = adj.keys.flatMap { src =>
      val dist = scala.collection.mutable.Map(src -> 0L)
      var frontier = Seq(src)
      for (hop <- 1 to 2) {
        frontier = frontier.flatMap(adj(_)).distinct.filterNot(dist.contains)
        frontier.foreach(v => dist(v) = hop.toLong)
      }
      dist.map { case (n, d) => (src, n, d) }
    }.toSeq.sorted
    val got = Registry.byName("graph_bfs_2hop_capped").run(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("node"),
        r.getAs[Long]("dist"))).toSeq.sorted
    assert(got === expected)
    // the cap's concrete bite on this fixture: leaf 5 is unreachable
    // FROM the hub (dropped from the hub's capped list) yet still
    // reaches the hub itself
    assert(!got.contains((0L, 5L, 1L)))
    assert(got.contains((5L, 0L, 1L)))
  }

  test("label propagation: clique collapses to one community, sync pair oscillates") {
    val out = Registry.byName("graph_labelprop").run(spark, triDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("community"), r.getAs[Long]("community_size")))
      .toMap
    assert(out.size === 5)
    // the 3-clique {0,1,2} converges to min-label community 0 by round 2
    assert(out(0L) === ((0L, 3L)))
    assert(out(1L) === ((0L, 3L)))
    assert(out(2L) === ((0L, 3L)))
    // the isolated edge {3,4} shows the textbook SYNCHRONOUS-LPA
    // bipartite oscillation: after an odd round count each node holds
    // the other's label (communities of size 1) — deterministic, and
    // exactly what the oracle replays
    assert(out(3L) === ((4L, 1L)))
    assert(out(4L) === ((3L, 1L)))
  }

  // a directed (u, v) 12-clique: every degree is 11
  private lazy val cliqueEdges = (for {
    a <- 0L until 12L; b <- 0L until 12L; if a != b
  } yield (a, b)).toDF("u", "v")

  test("capped neighbor-sim stays in (0,1] on a dense graph where the cap bites") {
    // 12-clique: every degree is 11 > NbrCapF=8, so cap(u) keeps u's 8
    // smallest-id neighbors. Reverse-cap sets R(x) = {z : x in cap(z)}:
    // R(0)=R(1)={all 11 others}; R(8)={0..7}; R(9)=R(10)=R(11)=∅ (high
    // ids are never among anyone's 8 smallest neighbors). The ROUND-7
    // ADVICE bug (forward capped degrees in the denominator) would give
    // pair (0,1) jaccard 10/(8+8-10) = 1.67 > 1 here; the reverse-cap
    // Jaccard gives |R0∩R1|/|R0∪R1| = 10/12.
    val out = operators.Graph.neighborSim(cliqueEdges, Some(operators.Graph.NbrCapF))
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        (r.getAs[Long]("common_neighbors"), r.getAs[Double]("nbr_jaccard")))
      .toMap
    assert(out.nonEmpty)
    out.values.foreach { case (_, j) =>
      assert(j > 0.0 && j <= 1.0, s"nbr_jaccard $j outside (0,1]")
    }
    assert(out((0L, 1L)) === ((10L, 10.0 / 12.0)))
    assert(out((0L, 8L)) === ((7L, 7.0 / 12.0)))
    // nodes with an empty reverse-cap set never appear as pair endpoints
    out.keys.foreach { case (a, b) => assert(a <= 8L && b <= 8L) }
  }

  test("neighbor-sim capped above the maximum degree returns graph_neighbor_sim's rows") {
    // a cap of 11 or more keeps every adjacency list of the 12-clique
    // whole, so each reverse-cap set R(x) is x's neighbor set and the
    // capped form's reverse-cap degree equals the degree the exact form
    // reads — the argument that lets both forms share one body
    def rows(cap: Option[Int]) = operators.Graph.neighborSim(cliqueEdges, cap)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Long]("common_neighbors"), r.getAs[Long]("ra_index_q"),
        r.getAs[Double]("nbr_jaccard"))).toSeq
    val exact = rows(None)
    assert(exact.size === 66) // every pair of the clique shares 10 neighbors
    assert(rows(Some(12)) === exact)
  }

  test("conductance scores reconcile with the labelprop communities") {
    import org.apache.spark.sql.functions._
    val cond = Registry.byName("graph_conductance")
      .run(spark, TestSpark.sf).collect()
    assume(cond.nonEmpty)
    val volTotal = cond.head.getAs[Long]("vol_total")
    // volume accounting: every edge endpoint is in exactly one community
    assert(cond.map(_.getAs[Long]("volume")).sum === volTotal)
    // each cross-community pair contributes one cut to BOTH sides
    assert(cond.map(_.getAs[Long]("cut_edges")).sum % 2 === 0L)
    cond.foreach { r =>
      val vol = r.getAs[Long]("volume")
      val cut = r.getAs[Long]("cut_edges")
      assert(cut <= vol, "a community cannot cut more than its volume")
      val den = math.min(vol, volTotal - vol)
      if (den > 0)
        assert(r.getAs[Double]("conductance") === cut.toDouble / den.toDouble)
      else assert(r.isNullAt(r.fieldIndex("conductance")))
    }
    // community ids and sizes line up with graph_labelprop's report:
    // volume is degree mass, so every conductance community must exist
    // in the labelprop output
    val lpa = Registry.byName("graph_labelprop").run(spark, TestSpark.sf)
      .select("community").distinct()
      .collect().map(_.getLong(0)).toSet
    cond.foreach(r => assert(lpa.contains(r.getAs[Long]("community"))))
  }

  // docs present, zero near-dup pairs: every word embeds its doc_id so
  // token sets are pairwise disjoint — the shape the r9 `edgeless`
  // degenerate mode sweeps corpus-wide (r9 advice: the r8 fallback
  // emitted 0s here while the oracle's 0//0 max-norm rescale is NULL)
  private lazy val edgelessDir: String = {
    val d = Files.createTempDirectory("graft_graph_edgeless").toString
    val docs = (0L to 6L)
      .map(i => (i, (1 to 8).map(j => s"w${i}q$j").mkString(" ")))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("hits on a docs-nonempty edgeless graph: one row per doc, all NULL") {
    val out = Registry.byName("graph_hits").run(spark, edgelessDir).collect()
    assert(out.length === 7, "every document still gets a row")
    out.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("auth_q")))
      assert(r.isNullAt(r.fieldIndex("hub_q")))
      assert(r.isNullAt(r.fieldIndex("authority")))
      assert(r.isNullAt(r.fieldIndex("hub")))
    }
  }

  test("pagerank on the edgeless graph: every doc keeps only base mass") {
    // no edges -> no contributions; each rank is the damped base term,
    // identical across docs (the dangling-mass-stays-put convention)
    val out = Registry.byName("graph_pagerank").run(spark, edgelessDir)
      .collect().map(_.getAs[Long]("pagerank_q"))
    assert(out.length === 7)
    assert(out.distinct.length === 1, "isolated docs must tie")
  }

  test("assortativity replays from the registry's own pairs and degrees") {
    val row = Registry.byName("graph_assortativity")
      .run(spark, TestSpark.sf).head()
    val deg = Registry.byName("graph_degrees").run(spark, TestSpark.sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Registry.byName("dedup_ngram_jaccard")
      .run(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    val xy = pairs.flatMap { case (a, b) =>
      Seq((deg(a), deg(b)), (deg(b), deg(a)))
    }
    val m = xy.length.toLong
    assert(row.getAs[Long]("m") === m)
    val sx = xy.map(p => BigInt(p._1)).sum
    val sy = xy.map(p => BigInt(p._2)).sum
    val sxy = xy.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sx2 = xy.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val sy2 = xy.map(p => BigInt(p._2) * BigInt(p._2)).sum
    assert(BigInt(row.getAs[Long]("sx")) === sx)
    assert(BigInt(row.getAs[Long]("sxy")) === sxy)
    val varX = BigInt(m) * sx2 - sx * sx
    val varY = BigInt(m) * sy2 - sy * sy
    if (m > 0 && varX > 0 && varY > 0) {
      val exp = (BigInt(m) * sxy - sx * sy).toDouble /
        math.sqrt(varX.toDouble * varY.toDouble)
      assert(row.getAs[Double]("assortativity") === exp)
      // a correlation is bounded
      assert(math.abs(exp) <= 1.0 + 1e-9)
    } else assert(row.isNullAt(row.fieldIndex("assortativity")))
  }
}
