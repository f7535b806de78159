package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.EngineFns.hash31Sql

/** Graph analytics over the near-duplicate graph — PageRank centrality on
  * the exact-Jaccard pair relation (nodes = documents, undirected edges =
  * thresholded near-dup pairs). The rank surfaces duplication HUBS: a
  * template document copied with variations across the corpus outranks
  * an ordinary member of a duplicate pair, which is exactly the signal a
  * curation pipeline uses to pick canonical representatives and to cap
  * template-family volume.
  *
  * Arithmetic is QUANTIZED-INTEGER PageRank (damping 0.85, 3 iterations):
  * ranks live as bigints scaled by Q = 10^12, every per-edge contribution
  * is `(85 * r_u) div (100 * deg_u)` in 64-bit integer division, and the
  * per-node sums are plain long sums — no float ever enters an aggregate,
  * so the result is deterministic under any partitioning and the DuckDB
  * oracle replays the identical three iterations CTE-for-CTE. Dangling
  * mass (isolated docs) stays with its node via the base term, the
  * standard simplification when ranking only within the edge-bearing
  * subgraph.
  *
  * Scale shape: the edge list is built once by Dedup.jaccardEdges
  * (inverted-index join — the same 100 TB-safe generator every dedup
  * operator uses) and made undirected by Dedup.undirected, localCheckpoint
  * bounds lineage, and each iteration is ONE equi-join (edges x ranks on
  * u, both sides hash-partitioned on the join key) plus ONE map-side
  * combined aggregation on v — the textbook distributed PageRank step
  * with per-iteration shuffle proportional to the edge count, never
  * quadratic. Ranks stay distributed; the driver holds only N.
  *
  * Every graph step has one Spark helper and one DuckDB builder, so a
  * change to a step is one edit on each side: [[nearDupGraph]] is the
  * undirected near-dup graph (the oracle's `e`, Dedup.undirectedSql),
  * [[degrees]] its degree count (DegSql), [[cappedAdjacency]] the
  * per-vertex adjacency cap (cappedSql), [[neighborSim]] both
  * neighbor-similarity forms (neighborSimSql), [[ranked]] the
  * PageRank/PPR loop (rankedSql), [[lpaLabels]] the LPA rounds
  * (LpaRoundsCte), [[labeledPairs]] and [[communityVolume]] the
  * community joins (LabeledPairsSql, CommunityVolumeSql), and the HITS
  * half-step its own oracle (HitsOracleSql). The two BFS queries run
  * reachSql in a [[recursionSession]], and their oracles replay it.
  */
object Graph {
  private val Q = 1000000000000L // 10^12 rank quantization
  private val Iters = 3
  // HITS quantum is deliberately smaller than Q: the max-norm rescale
  // multiplies a degree-weighted sum (≤ deg·HitsQ) by HitsQ again, so
  // 10^6 keeps the worst product ≤ ~10^16 — far inside BIGINT — where
  // Q=10^12 would overflow at the first rescale.
  private val HitsQ = 1000000L
  private val HitsIters = 2
  private val WalkSteps = 3
  private val KcoreRounds = 3
  private val BfsHops = 2
  private val BfsCapF = 4 // per-node adjacency cap for the bounded BFS
  private[graft] val NbrCapF = 8 // per-node adjacency cap for capped neighbor-sim
  private val PprSeedMod = 20L // seeds = doc_id % 20 == 0 (~5% of corpus)

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "graph_pagerank",
      (s, dir) => {
        val n = Tables.rowCount(s, dir, "documents")
        // empty corpus: the result is empty regardless of the share —
        // guard the scala-side division (degenerate-corpus sweep, r8)
        val share = if (n == 0) 0L else Q / n
        val base = if (n == 0) 0L else 15L * Q / (100L * n)
        ranked(s, dir, init = lit(share), restart = lit(base), "pagerank")
      },
      Some(PagerankOracleSql)),

    // Degree centrality of the near-dup graph: how many neighbors each
    // edge-bearing document has. One union + one map-side-combined count
    // per node — the cheapest graph statistic and the input to
    // degree-ordered triangle orientation at scale.
    QueryDef(
      "graph_degrees",
      (s, dir) => {
        val pairs = Dedup.jaccardEdges(Dedup.shingled(s, dir))
        pairs.select(col("a_id").as("doc_id"))
          .union(pairs.select(col("b_id").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("degree"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${Dedup.JaccardPairsCte},
                 e AS (SELECT a_id AS doc_id FROM pairs
                       UNION ALL SELECT b_id FROM pairs)
               SELECT doc_id, count(*) AS degree
               FROM e GROUP BY doc_id ORDER BY doc_id""")),

    // Degree assortativity (Newman, PRL'02) — is the near-dup graph
    // hub-hub wired (template families referencing each other) or
    // hub-leaf (one boilerplate source fanning out)? The single number
    // that distinguishes those regimes is the Pearson correlation of
    // endpoint degrees across edges, and it decides dedup strategy at
    // 100 TB: disassortative graphs collapse via per-hub star removal,
    // assortative cores need the full CC pass. Exactness discipline =
    // q_regr_fns: both edge orientations contribute (the standard
    // undirected treatment), all five moments (Σx, Σy, Σxy, Σx², Σy²)
    // are exact DECIMAL(38,0) sums of BIGINT degree products, and r is
    // ONE pinned-order closing IEEE chain; a zero-variance side (every
    // degree equal — the skew corpus's single clique) yields NULL via
    // the same CASE guard on both engines. Shape: the degree relation
    // is one hash aggregate on the pair relation, joined back to both
    // endpoints (degree is node-grain — broadcastable at any scale the
    // near-dup graph can reach), then one global 1-row fold.
    QueryDef(
      "graph_assortativity",
      (s, dir) => {
        val d38 = "decimal(38,0)"
        val pairs = Dedup.jaccardEdges(Dedup.shingled(s, dir))
          .transform(Tables.materialize) // feeds the degree agg AND both edge sides
        val deg = pairs.select(col("a_id").as("doc_id"))
          .union(pairs.select(col("b_id").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("degree"))
        // both orientations: (du, dv) and (dv, du)
        val ends = pairs
          .join(deg.select(col("doc_id").as("a_id"), col("degree").as("da")),
            Seq("a_id"))
          .join(deg.select(col("doc_id").as("b_id"), col("degree").as("db")),
            Seq("b_id"))
        val xy = ends.select(col("da").as("x"), col("db").as("y"))
          .union(ends.select(col("db").as("x"), col("da").as("y")))
        val m = xy.agg(
          count(lit(1)).as("m"),
          sum(col("x").cast(d38)).as("sx"),
          sum(col("y").cast(d38)).as("sy"),
          sum((col("x") * col("y")).cast(d38)).as("sxy"),
          sum((col("x") * col("x")).cast(d38)).as("sx2"),
          sum((col("y") * col("y")).cast(d38)).as("sy2"))
        val varX = col("m").cast(d38) * col("sx2") - col("sx") * col("sx")
        val varY = col("m").cast(d38) * col("sy2") - col("sy") * col("sy")
        m.select(col("m"),
            col("sx").cast("long").as("sx"),
            col("sxy").cast("long").as("sxy"),
            when(col("m") > 0 && varX > 0 && varY > 0,
              (col("m").cast(d38) * col("sxy") - col("sx") * col("sy"))
                .cast("double") /
                sqrt(varX.cast("double") * varY.cast("double")))
              .as("assortativity"))
      },
      Some(s"""WITH ${Dedup.JaccardPairsCte},
               deg AS (
                 SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
                   SELECT a_id AS doc_id FROM pairs
                   UNION ALL SELECT b_id FROM pairs) e
                 GROUP BY doc_id),
               ends AS (
                 SELECT da.degree AS x, db.degree AS y
                 FROM pairs p
                 JOIN deg da ON da.doc_id = p.a_id
                 JOIN deg db ON db.doc_id = p.b_id),
               xy AS (
                 SELECT x, y FROM ends
                 UNION ALL SELECT y AS x, x AS y FROM ends),
               mm AS (
                 SELECT CAST(count(*) AS BIGINT) AS m,
                   sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                   sum(x * x) AS sx2, sum(y * y) AS sy2
                 FROM xy)
               SELECT m, CAST(sx AS BIGINT) AS sx,
                 CAST(sxy AS BIGINT) AS sxy,
                 CASE WHEN m > 0 AND m * sx2 - sx * sx > 0
                       AND m * sy2 - sy * sy > 0 THEN
                   CAST(m * sxy - sx * sy AS DOUBLE) /
                     sqrt(CAST(m * sx2 - sx * sx AS DOUBLE)
                          * CAST(m * sy2 - sy * sy AS DOUBLE))
                 END AS assortativity
               FROM mm""")),

    // HITS hubs & authorities (Kleinberg, JACM'99) — the other classic
    // link-analysis ranking, complementing the quantized PageRank/PPR:
    // on the ORIENTED near-dup relation (a_id → b_id, i.e. earlier doc
    // points at later family member), authority mass flows along edges
    // and hub mass against them. Exact-integer iteration in the same
    // discipline as graph_pagerank: scores live in HitsQ=10^6 quanta,
    // each half-step is ONE equi-join + map-side-combined sum, and the
    // norm step rescales by the 1-row broadcast maximum with pure
    // integer division — so the fixpoint is bit-identical in any
    // engine (no sqrt normalization; max-norm is the standard integer-
    // safe substitute). HitsIters full iterations, generated as the
    // oracle's CTE chain. Products stay ≤ deg·HitsQ² ≈ 10^16 —
    // overflow-safe in BIGINT at any corpus where degree ≤ 10^6.
    QueryDef(
      "graph_hits",
      (s, dir) => {
        val pairs = Dedup.jaccardEdges(Dedup.shingled(s, dir))
          .select(col("a_id").as("u"), col("b_id").as("v"))
          .transform(Tables.materialize)
        val docs = Tables.load(s, dir, "documents").select("doc_id")
        // isEmpty is a limit(1) probe over the already-materialized
        // checkpoint blocks — a full count() here forced an extra
        // whole-relation action on every run (round-6 advice). An
        // edgeless graph emits NULL scores: HITS under max-norm is
        // undefined when every sum is 0, and the oracle's rescale
        // `(0 * Q) // max(0)` is 0//0 which DuckDB maps to NULL — the
        // fallback replays that NULL propagation exactly (r9 advice;
        // the r8 fallback's 0L/0.0 rows diverged on any corpus with
        // documents but no near-dup pairs — covered by the `edgeless`
        // degenerate mode, CorpusGen).
        if (pairs.isEmpty) {
          docs.select(col("doc_id"),
            lit(null).cast("long").as("auth_q"),
            lit(null).cast("long").as("hub_q"),
            lit(null).cast("double").as("authority"),
            lit(null).cast("double").as("hub"))
            .orderBy("doc_id")
        } else {
          // r14 restructure, results identical: (a) rescale materializes
          // its input — the frame otherwise feeds BOTH the max aggregate
          // and the rescale projection, doubling the plan per rescale
          // (4 rescales = 2^4 nested copies, each re-scanning docs);
          // (b) iterations run over edge ENDPOINTS only (the
          // connectedComponents treatment) — an untouched doc's scores
          // are 0 after the first rescale and its initial HitsQ hub mass
          // reaches no edge, so the max-norms and all edge sums are
          // unchanged; untouched docs re-attach as (0, 0) at the end,
          // exactly what the full-frame loop yielded for them.
          def rescale(x: DataFrame, c: String): DataFrame = {
            val xm = Tables.materialize(x)
            val mx = xm.agg(max(col(c)).as("mx"))
            xm.crossJoin(broadcast(mx))
              .select(col("doc_id"),
                expr(s"($c * ${HitsQ}L) div mx").as(c))
          }
          val touched = pairs.select(col("u").as("doc_id"))
            .union(pairs.select(col("v").as("doc_id")))
            .distinct().transform(Tables.materialize)
          // one half-step: score c of each doc = the rescaled sum of x's
          // score (its last column) over the edges `from` -> `to` into it
          def half(x: DataFrame, from: String, to: String, c: String): DataFrame = {
            val xc = x.columns.last
            val sums = pairs.join(x.select(col("doc_id").as(from), col(xc)), from)
              .groupBy(col(to).as("doc_id")).agg(sum(col(xc)).as(c))
            rescale(touched.join(sums, Seq("doc_id"), "left")
              .select(col("doc_id"), coalesce(col(c), lit(0L)).as(c)), c)
          }
          var h = touched.select(col("doc_id"), lit(HitsQ).as("h"))
          var a: DataFrame = null
          for (_ <- 0 until HitsIters) {
            a = half(h, "u", "v", "a")
            h = half(a, "v", "u", "h")
          }
          docs.join(a.join(h, "doc_id"), Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("a"), lit(0L)).as("auth_q"),
              coalesce(col("h"), lit(0L)).as("hub_q"),
              (coalesce(col("a"), lit(0L)).cast("double")
                / lit(HitsQ.toDouble)).as("authority"),
              (coalesce(col("h"), lit(0L)).cast("double")
                / lit(HitsQ.toDouble)).as("hub"))
            .orderBy("doc_id")
        }
      },
      Some(HitsOracleSql)),

    // Triangle enumeration over the near-dup graph — the clustering-
    // coefficient / community-density primitive. Edges arrive oriented
    // (a_id < b_id from the pair generator), so each triangle a<b<c is
    // found exactly once by the textbook two-join: wedges (a-b, b-c)
    // then closure against the (a, c) edge. Both joins are hash
    // equi-joins keyed on node ids; with oriented edges the wedge count
    // is bounded by per-node out-degree, which the DF cap in the pair
    // generator keeps small (a viral template family cannot explode the
    // posting lists that feed the edge set). No cartesian shape anywhere.
    QueryDef(
      "graph_triangles",
      (s, dir) => {
        val pairs = Dedup.jaccardEdges(Dedup.shingled(s, dir))
          .transform(Tables.materialize) // feeds three subtrees: compute edges once
        val ab = pairs.select(col("a_id").as("a"), col("b_id").as("b"))
        val bc = pairs.select(col("a_id").as("wb"), col("b_id").as("c"))
        val ac = pairs.select(col("a_id").as("wa"), col("b_id").as("wc"))
        ab.join(bc, col("b") === col("wb"))
          .join(ac, col("a") === col("wa") && col("c") === col("wc"))
          .select(col("a"), col("b"), col("c"))
          .orderBy("a", "b", "c")
      },
      Some(s"""WITH ${Dedup.JaccardPairsCte}
               SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
               FROM pairs e1 JOIN pairs e2 ON e1.b_id = e2.a_id
                    JOIN pairs e3 ON e3.a_id = e1.a_id
                                 AND e3.b_id = e2.b_id
               ORDER BY a, b, c""")),

    // Label-propagation communities over the near-dup graph — the
    // template-family detector that needs no edge weights and no target
    // community count. SYNCHRONOUS LPA, 3 rounds: every node starts as
    // its own label; each round it adopts the MODE of its neighbors'
    // previous-round labels, ties broken by the SMALLEST label — fully
    // deterministic, so the DuckDB oracle replays the rounds
    // CTE-for-CTE (classic async LPA is order-dependent and would never
    // hash-match). Isolated documents keep their own label via the left
    // join. Scale shape: per round ONE equi-join (edges x labels on u)
    // + one (v, label) count aggregate + one per-v argmax window —
    // shuffle ∝ edges, window partitions ∝ per-node distinct neighbor
    // labels; the edge list is localCheckpointed once like pagerank's.
    QueryDef(
      "graph_labelprop",
      (s, dir) => {
        // lpaLabels materializes the edges
        val docs = Tables.load(s, dir, "documents").select("doc_id")
        val lbl = lpaLabels(docs, nearDupGraph(s, dir))
        val sizes = lbl.groupBy("label")
          .agg(count(lit(1)).as("community_size"))
        lbl.join(sizes, "label")
          .select(col("doc_id"), col("label").as("community"),
            col("community_size"))
          .orderBy("doc_id")
      },
      Some(LabelPropOracleSql)),

    // Neighborhood-similarity link prediction over the near-dup graph:
    // for every node pair sharing >= 1 common neighbor, the common-
    // neighbor count, neighborhood Jaccard, and the resource-allocation
    // index (sum over common neighbors z of 1/deg(z) — Adamic-Adar's
    // log-free sibling), kept exact as the integer 10^9 div deg(z) so
    // the oracle replays bit-for-bit. Shape: one self-join of the
    // directed edge list on the MIDDLE node (shuffle ∝ Σ deg(z)² — the
    // wedge count, bounded by the pair generator's DF cap exactly like
    // graph_triangles), one map-side-combined aggregate per pair, two
    // broadcast-sized degree joins. Never all-pairs: pairs with no
    // common neighbor never materialize.
    QueryDef(
      "graph_neighbor_sim",
      (s, dir) =>
        neighborSim(nearDupGraph(s, dir).transform(Tables.materialize), None),
      Some(neighborSimSql(None)),
      // bench=false: the wedge self-join's shuffle is Σdeg(z)² — the
      // suite's highest measured growth exponent (0.69 at r6, SCALE.md's
      // watch row) and the first shape to blow up if corpora densify.
      // Stays oracle-checked + growth-measured; the benched pipeline
      // form is graph_neighbor_sim_capped below (bounded wedge mass).
      bench = false),

    // Degree-capped neighborhood similarity — the PIPELINE form: each
    // node expands only its NbrCapF smallest-id neighbors (the same
    // deterministic bounded-expansion discipline as graph_bfs_2hop_capped),
    // so the wedge self-join is provably <= nodes x F² rows — LINEAR in
    // nodes where the full form's shuffle is wedge mass Σdeg(z)².
    // Candidate generators use exactly this cap (a viral hub's full
    // adjacency adds no precision to "do a and b share a neighbor?").
    // The RA weight keeps the TRUE degree of the shared neighbor
    // (1/deg(z) is z's property, a cheap broadcast-joined lookup).
    // The Jaccard is taken over the REVERSE-cap sets R(x) = {z : x in
    // cap(z)} — exactly the sets the wedge join intersects (a wedge at z
    // with a,b in cap(z) IS one element of R(a) ∩ R(b)), so
    // common/(rdeg_a + rdeg_b - common) = |R(a)∩R(b)| / |R(a)∪R(b)| is a
    // true Jaccard in (0,1]. (Using the forward capped degrees |cap(a)|
    // here would mismatch the numerator's set — cap membership is not
    // symmetric — and could exceed 1; round-7 advice finding.) Exact
    // integers throughout; the oracle replays the identical cap.
    QueryDef(
      "graph_neighbor_sim_capped",
      (s, dir) => neighborSim(
        nearDupGraph(s, dir).transform(Tables.materialize), Some(NbrCapF)),
      Some(neighborSimSql(Some(NbrCapF)))),

    // Deterministic random walks over the near-dup graph — the
    // node2vec/DeepWalk sampling primitive, made oracle-replayable by
    // drawing each step with the engine-portable md5 hash instead of an
    // RNG: from node c at step k, the walk moves to the neighbor v
    // minimizing hash31('k:c:v') (ties, impossible in practice, break
    // toward the smaller v). Every step is ONE equi-join of the frontier
    // against the edge list on the current node plus one per-node argmin
    // window — the textbook distributed walk step, shuffle ∝ frontier
    // edges, never materializing more than (starts × 1) rows between
    // steps.
    QueryDef(
      "graph_random_walk",
      (s, dir) => {
        val edges = nearDupGraph(s, dir).transform(Tables.materialize)
        val starts = edges.select(col("u").as("doc_id")).distinct()
        var walk = starts.select(col("doc_id"), col("doc_id").as("cur"))
        for (k <- 1 to WalkSteps) {
          val h = graft.functions.EngineFns.hash31(
            concat_ws(":", lit(k), col("cur"), col("v")))
          val w = Window.partitionBy("doc_id")
            .orderBy(col("h").asc, col("v").asc)
          val prev = (1 until k).map(j => col(s"step$j"))
          walk = walk
            .join(edges.toDF("cur", "v"), "cur")
            .withColumn("h", h)
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select((col("doc_id") +: prev) ++
              Seq(col("v").as(s"step$k"), col("v").as("cur")): _*)
        }
        walk.select(col("doc_id") +:
            (1 to WalkSteps).map(j => col(s"step$j")): _*)
          .orderBy("doc_id")
      },
      Some(RandomWalkOracleSql)),

    // k-core peeling (k=2, 3 synchronous rounds) over the near-dup
    // graph — the density filter that separates tight template families
    // (cores) from incidental pairwise matches (trees/pendants, which
    // peel away). Each round is ONE map-side-combined degree count +
    // one semi-join of the edge list against the surviving nodes —
    // shuffle ∝ remaining edges, monotonically shrinking. Peeling is
    // CONFLUENT (the k-core is unique and synchronous rounds are
    // order-free), so a fixed round count is deterministic and the
    // oracle replays the rounds CTE-for-CTE; 3 rounds suffice for this
    // graph's pendant depth, and a production run would iterate to
    // fixpoint with the same per-round plan under localCheckpoint.
    QueryDef(
      "graph_kcore",
      (s, dir) => {
        val K = 2
        // the edge set is materialized: `keep` is referenced by both
        // semi-joins and `edges` by three subtrees, so an un-checkpointed
        // edge set multiplies the plan ~3x per round
        var edges = nearDupGraph(s, dir).transform(Tables.materialize)
        // rounds stay LAZY over the checkpointed edge blocks (r14:
        // per-round localCheckpoints were tried and measured worse —
        // three extra eager barriers for a plan whose 3-deep nesting
        // over block reads is cheap; a fixpoint-depth production loop
        // would checkpoint every ~5 rounds)
        for (_ <- 1 to KcoreRounds) {
          edges = kcorePeelRound(edges, K)
        }
        degrees(edges)
          .select(col("u").as("doc_id"), col("deg").as("core_degree"))
          .orderBy("doc_id")
      },
      Some(KcoreOracleSql)),

    // Multi-source BFS via SQL:1999 WITH RECURSIVE — every node's 2-hop
    // neighborhood with exact hop distances, the friend-of-friend
    // relation candidate generators expand on. The recursion is
    // declared, not hand-scheduled: Catalyst's recursive-CTE execution
    // runs one frontier×edges equi-join per level (the same physical
    // step the hand-rolled pagerank/walk loops issue), the hop guard
    // bounds depth, and the closing min/GROUP BY collapses the UNION
    // ALL path multiset to shortest distances. Work ∝ bounded-depth
    // path count (wedge-mass at depth 2, the same DF-capped quantity as
    // graph_neighbor_sim/triangles) — never all-pairs. The oracle runs
    // the IDENTICAL recursive SQL.
    QueryDef(
      "graph_bfs_2hop",
      (s, dir) => {
        val s2 = recursionSession(s)
        // the symmetric edge set is MATERIALIZED before the recursion
        // (r14): a plain temp view is re-planned at every reference, so
        // each recursion level re-ran the entire posting-join pair
        // generator; the checkpointed view makes every frontier join a
        // block read
        nearDupGraph(s2, dir).transform(Tables.materialize)
          .createOrReplaceTempView("graft_bfs_edges")
        // DISTINCT in the recursive member: the frontier is a SET of
        // (src, node) per hop, not a bag of paths — on a dense family
        // (the all-dup skew corpus is one 500-clique) path enumeration
        // is nodes x deg^hop (~125M rows, past any sane valve) while
        // the deduped frontier is <= nodes^2 per hop. min(hop) over the
        // union of per-hop sets is unchanged, so the oracle hash is
        // identical on every corpus (degenerate-corpus sweep, r8).
        s2.sql(s"WITH RECURSIVE ${reachSql("graft_bfs_edges", distinct = true)}")
      },
      // bench=false: the 2-hop reach SET is a reporting query, not a
      // pipeline stage (SCALE.md classifies closures so) — its output is
      // inherently neighborhood-quadratic (Σ|N₂(v)|, 12.6 s = 5.7% of
      // the r5 sweep), which is the honest cost of the relation, not a
      // plan defect. It stays oracle-checked at sf0.01 and measured in
      // GrowthBench; the benched pipeline form is graph_bfs_2hop_capped
      // (per-source bounded expansion, output ∝ nodes).
      bench = false,
      oracle = Some(s"""WITH RECURSIVE ${Dedup.JaccardPairsCte},
            ${Dedup.undirectedSql("e")},
            ${reachSql("e", distinct = true)}""")),

    // Bounded 2-hop expansion — the PIPELINE form of the closure: each
    // node expands only its F=4 smallest-id neighbors per hop (the
    // standard bounded-expansion trick candidate generators use), so the
    // path count is provably <= nodes x (1 + F + F^2) — LINEAR in nodes
    // by construction, where the unbounded reach set is wedge-mass
    // (Σ|N₂(v)|, neighborhood-quadratic). The cap is deterministic
    // (smallest-id neighbors via one per-u window over the edge list),
    // the recursion is the same declared WITH RECURSIVE frontier join,
    // and the oracle replays the identical SQL. The valve raise lives on
    // the cloned session exactly like graph_bfs_2hop's — the bound
    // argument (21N rows) is structural, not a config promise.
    QueryDef(
      "graph_bfs_2hop_capped",
      (s, dir) => {
        val s2 = recursionSession(s)
        // the CAPPED adjacency is MATERIALIZED before the recursion
        // (r14): a plain temp view is re-planned at every reference, so
        // each recursion level re-ran the pair generator AND the
        // per-u cap window; the checkpointed view makes every frontier
        // join a block read.
        cappedAdjacency(nearDupGraph(s2, dir), BfsCapF)
          .transform(Tables.materialize)
          .createOrReplaceTempView("graft_bfs_cap")
        s2.sql(s"WITH RECURSIVE ${reachSql("graft_bfs_cap", distinct = false)}")
      },
      Some(s"""WITH RECURSIVE ${Dedup.JaccardPairsCte},
            ${Dedup.undirectedSql("e")},
            ${cappedSql("cap", BfsCapF)},
            ${reachSql("cap", distinct = false)}""")),

    // Personalized PageRank — rank relative to a SEED SET rather than the
    // uniform prior: restart mass goes only to seeds (doc_id % 20 == 0,
    // the "trusted/curated subset" handle), so the score measures
    // proximity to the seeds through the near-dup graph. This is the
    // TrustRank / seeded-expansion primitive a curation pipeline uses to
    // grow a vetted corpus: high-PPR non-seeds are the documents most
    // entangled with the trusted set. Arithmetic is the SAME quantized-
    // integer scheme as graph_pagerank (Q = 10^12, damping 85/100,
    // 64-bit `div` only — no float in any aggregate) so the DuckDB
    // oracle replays the three iterations CTE-for-CTE; the only deltas
    // are the seed-indicator base term and the seed-count normalizer
    // (one bounded driver scalar, like pagerank's N). Scale shape is
    // unchanged: one equi-join + one map-side-combined aggregation per
    // iteration, shuffle ∝ edges, never quadratic.
    QueryDef(
      "graph_ppr",
      (s, dir) => {
        val isSeed = col("doc_id") % PprSeedMod === 0
        val nSeeds = Tables.memo(dir, "documents", "ppr_seeds")(
          Tables.load(s, dir, "documents").select("doc_id")
            .filter(isSeed).count())
        // no seeds (e.g. an empty corpus): every rank is 0 and the
        // seed-share literals are never applied to any row — guard the
        // scala-side divisions only (degenerate-corpus sweep, r8)
        val seedShare = if (nSeeds == 0) 0L else Q / nSeeds
        val restartShare = if (nSeeds == 0) 0L else 15L * Q / (100L * nSeeds)
        ranked(s, dir,
          init = when(isSeed, lit(seedShare)).otherwise(lit(0L)),
          restart = when(isSeed, lit(restartShare)).otherwise(lit(0L)),
          "ppr")
      },
      Some(PprOracleSql)),

    // Newman modularity of the label-propagation communities — the
    // standard "did the clustering find real structure?" scorecard
    // (Q = intra/m − Σ_c D_c²/(4m²); Q near 0 means the partition is no
    // better than random, Q > ~0.3 means strong community structure).
    // Runs the SAME lpaLabels rounds as graph_labelprop (shared helper,
    // shared oracle CTE) so the score can never drift from the reported
    // communities. All counts are exact integers (degree-square products
    // through 128-bit arithmetic); the closing Q is two IEEE divisions +
    // one subtraction in a pinned operand order, replayed identically by
    // the oracle. Shape: beyond the LPA rounds, one pairs×labels×labels
    // equi-join for intra counts, one degree aggregate, one per-community
    // sum — every relation after the edge list is community- or
    // 1-row-sized, and the three 1-row stats frames combine by broadcast.
    QueryDef(
      "graph_modularity",
      (s, dir) => {
        val pairs = Tables.materialize(Dedup.jaccardEdges(Dedup.shingled(s, dir)))
        // m = 0 (edgeless graph): modularity is undefined — the report
        // row still materializes with m=0, intra=0 and NULL statistics,
        // exactly what the oracle produces on the same input (sums over
        // empty relations are NULL, 0/0.0 double division is NaN which
        // the NULL sum term absorbs). Degenerate-corpus sweep, r8 —
        // this replaced a loud require that the oracle had no twin for.
        val edges = Dedup.undirected(pairs)
        val docs = Tables.load(s, dir, "documents").select("doc_id")
        val lbl = Tables.materialize(lpaLabels(docs, edges))
        val mDf = pairs.agg(count(lit(1)).as("m"))
        val intraDf = labeledPairs(pairs, lbl)
          .filter(col("la") === col("lb"))
          .agg(count(lit(1)).as("intra_edges"))
        // the degree-square sum accumulates in DECIMAL(38,0) (exact to
        // ~1e38); the BIGINT downcast for the report is GUARDED so that
        // past Long.Max the query THROWS in any ANSI mode — a silent
        // non-ANSI null here would diverge from the DuckDB oracle's
        // erroring HUGEINT->BIGINT cast (round-5 advice)
        val s2 = communityVolume(edges, lbl)
          .agg(sum(expr(
            "CAST(volume AS DECIMAL(19,0)) * CAST(volume AS DECIMAL(19,0))"))
            .as("sq_dec"))
          .select(expr(
            """CASE WHEN sq_dec IS NULL OR sq_dec <= 9223372036854775807
               THEN CAST(sq_dec AS BIGINT)
               ELSE CAST(assert_true(false,
                 'graph_modularity: sum_deg_sq exceeds BIGINT range')
                 AS BIGINT) END""").as("sum_deg_sq"))
        // nullif: m=0 (edgeless) must yield NULL like DuckDB's /0, not
        // the Spark-4 ANSI DIVIDE_BY_ZERO throw (degenerate sweep, r8)
        mDf.crossJoin(broadcast(intraDf)).crossJoin(broadcast(s2))
          .select(col("m"), col("intra_edges"), col("sum_deg_sq"),
            expr("""CAST(intra_edges AS DOUBLE)
                      / nullif(CAST(m AS DOUBLE), 0.0D)
                    - CAST(sum_deg_sq AS DOUBLE)
                      / nullif(4.0D * CAST(m AS DOUBLE) * CAST(m AS DOUBLE),
                               0.0D)""")
              .as("modularity"))
      },
      Some(ModularityOracleSql)),

    // Per-community conductance — the LOCAL cluster-quality score that
    // complements graph_modularity's single global number: for each LPA
    // community, cut edges / min(volume, 2m − volume) — low conductance
    // = a well-separated community, the score sweep-cut partitioners
    // optimize. Runs the SAME shared lpaLabels rounds (and oracle CTE)
    // as labelprop/modularity so the scores can never drift from the
    // reported communities. All inputs exact integers (cut counts,
    // degree volumes); conductance is one closing division, guarded to
    // NULL when a community holds the whole volume. Shape: beyond the
    // LPA rounds, one pairs×labels join, a per-community aggregate, a
    // 1-row volume broadcast — community-sized relations throughout.
    QueryDef(
      "graph_conductance",
      (s, dir) => {
        val pairs = Tables.materialize(Dedup.jaccardEdges(Dedup.shingled(s, dir)))
        val edges = Dedup.undirected(pairs)
        val docs = Tables.load(s, dir, "documents").select("doc_id")
        val lbl = Tables.materialize(lpaLabels(docs, edges))
        // localCheckpoint: the union below references this relation
        // TWICE (la side + lb side), and Spark's subtree reuse does not
        // fire across a self-union — without the checkpoint the
        // pairs×labels×labels join runs twice (plan-audited)
        val labeled = labeledPairs(pairs, lbl)
          .filter(col("la") =!= col("lb"))
          .transform(Tables.materialize)
        val cut = labeled.select(col("la").as("community"))
          .union(labeled.select(col("lb").as("community")))
          .groupBy("community").agg(count(lit(1)).as("cut_edges"))
        val vol = communityVolume(edges, lbl)
        val tot = vol.agg(sum(col("volume")).as("vol_total"))
        vol.join(cut, Seq("community"), "left")
          .crossJoin(broadcast(tot))
          .select(col("community"), col("volume"),
            coalesce(col("cut_edges"), lit(0L)).as("cut_edges"),
            col("vol_total"))
          .withColumn("conductance",
            expr("""CASE WHEN least(volume, vol_total - volume) > 0
                    THEN CAST(cut_edges AS DOUBLE)
                         / CAST(least(volume, vol_total - volume) AS DOUBLE)
                    END"""))
          .orderBy("community")
      },
      Some(ConductanceOracleSql))
  )

  /** The undirected near-dup graph (u, v), both orientations of every
    * Dedup.jaccardEdges pair; its oracle form is Dedup.undirectedSql's
    * `e` over Dedup.JaccardPairsCte. */
  private def nearDupGraph(s: SparkSession, dir: String): DataFrame =
    Dedup.undirected(Dedup.jaccardEdges(Dedup.shingled(s, dir)))

  /** (u, deg): each vertex's edge count in an undirected (u, v) frame.
    * Its oracle form is [[DegSql]]. */
  private def degrees(edges: DataFrame): DataFrame =
    edges.groupBy("u").agg(count(lit(1)).as("deg"))

  /** The degree CTE deg(u, deg) over the oracle's `e` (a literal: the
    * oracles built while `defs` initializes read it). */
  private final val DegSql = "deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM e GROUP BY u)"

  /** Each vertex's `f` smallest-id neighbors in an undirected (u, v)
    * frame: one per-u window, so the expansion from any vertex is
    * bounded by `f`. Its oracle form is [[cappedSql]]. */
  private def cappedAdjacency(edges: DataFrame, f: Int): DataFrame =
    edges.withColumn("rn", row_number().over(Window.partitionBy("u").orderBy("v")))
      .filter(col("rn") <= f).select("u", "v")

  /** The SQL mirror of [[cappedAdjacency]] over the oracle's `e`: the
    * MATERIALIZED CTE `rel`(u, v). */
  private def cappedSql(rel: String, f: Int): String =
    s"""$rel AS MATERIALIZED (
          SELECT u, v FROM (
            SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY v) AS rn
            FROM e) t
          WHERE rn <= $f)"""

  /** graph_neighbor_sim over an undirected (u, v) frame, and with a
    * `cap` its pipeline form graph_neighbor_sim_capped (see that
    * QueryDef's comment for the reverse-cap Jaccard and its (0,1]
    * argument). The wedges run over the adjacency, capped or not; the
    * RA weight keeps z's true degree. The Jaccard's endpoint sizes are
    * |R(x)|, x's count in the adjacency's v column: with no cap R(x) is
    * x's neighbor set, so the degree relation serves both. Its oracle
    * form is [[neighborSimSql]]. */
  private[graft] def neighborSim(edges: DataFrame, cap: Option[Int]): DataFrame = {
    val deg = degrees(edges)
    val adj = cap.fold(edges)(cappedAdjacency(edges, _))
    // (x, |R(x)|) and its column names
    val (ends, x, dx) = cap.fold((deg, "u", "deg"))(_ =>
      (adj.groupBy("v").agg(count(lit(1)).as("rdeg")), "v", "rdeg"))
    val wedges = adj.toDF("z", "a")
      .join(deg.select(col("u").as("z"), col("deg").as("deg_z")), "z")
      .join(adj.toDF("z", "b"), "z")
      .filter(col("a") < col("b"))
    val scored = wedges.groupBy("a", "b").agg(
      count(lit(1)).as("common_neighbors"),
      sum(expr("1000000000 div deg_z")).as("ra_index_q"))
    scored
      .join(ends.select(col(x).as("a"), col(dx).as(s"${dx}_a")), "a")
      .join(ends.select(col(x).as("b"), col(dx).as(s"${dx}_b")), "b")
      .select(col("a").as("a_id"), col("b").as("b_id"),
        col("common_neighbors"), col("ra_index_q"),
        (col("common_neighbors").cast("double") /
          (col(s"${dx}_a") + col(s"${dx}_b") - col("common_neighbors"))
            .cast("double")).as("nbr_jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** The SQL mirror of [[neighborSim]]. The endpoint sizes come from
    * the CTE `dx`(x, dx): deg(u, deg), or with a cap rdeg(v, rdeg). */
  private def neighborSimSql(cap: Option[Int]): String = {
    val (adj, capCtes, x, dx) = cap.fold(("e", "", "u", "deg"))(f =>
      ("cap", s"""${cappedSql("cap", f)},
          rdeg AS (SELECT v, count(*) AS rdeg FROM cap GROUP BY v),""", "v", "rdeg"))
    s"""WITH ${Dedup.JaccardPairsCte},
          ${Dedup.undirectedSql("e")},
          $DegSql,
          $capCtes
          w AS (
            SELECT e1.v AS a, e2.v AS b, d.deg AS deg_z
            FROM $adj e1 JOIN $adj e2 ON e1.u = e2.u AND e1.v < e2.v
                 JOIN deg d ON d.u = e1.u),
          sc AS (
            SELECT a, b, count(*) AS common_neighbors,
              CAST(sum(1000000000 // deg_z) AS BIGINT) AS ra_index_q
            FROM w GROUP BY a, b)
        SELECT sc.a AS a_id, sc.b AS b_id,
          sc.common_neighbors, sc.ra_index_q,
          CAST(sc.common_neighbors AS DOUBLE)
            / CAST(da.$dx + db.$dx - sc.common_neighbors AS DOUBLE)
            AS nbr_jaccard
        FROM sc JOIN $dx da ON da.$x = sc.a
                JOIN $dx db ON db.$x = sc.b
        ORDER BY a_id, b_id"""
  }

  /** A clone of `s` for a hop-bounded recursive CTE. Spark guards
    * recursive CTEs with a cumulative-row safety valve
    * (spark.sql.cteRecursionRowLimit, default 10^6) against unbounded
    * recursion. [[reachSql]]'s recursion is hop-bounded, so its total
    * row count is at most nodes x the 2-hop neighborhood size — finite
    * by construction — and the sf0.1 corpus's duplicate families already
    * exceed the default (first seen as a bench-only failure: sf0.01 fit
    * under 10^6, sf0.1 did not). The valve is raised on a CLONED session
    * (shared SparkContext, isolated SQLConf + temp-view catalog): the
    * limit must still be raised when the lazy DataFrame actually
    * executes, so a set-and-restore around plan construction would break
    * the query — while a raise on the caller's session would weaken the
    * runaway-recursion valve for every later query sharing it (round-5
    * advice). A DataFrame built on the clone executes under the raised
    * limit; the caller's session is untouched. */
  private def recursionSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.cteRecursionRowLimit", "100000000")
    s2
  }

  /** Multi-source BFS over the (u, v) relation `rel`, up to BfsHops hops:
    * the recursive CTE reach(src, node, hop), then each (src, node)'s
    * shortest distance. `distinct` makes each hop's frontier a set. The
    * text follows a caller's WITH RECURSIVE: Spark runs it over a temp
    * view, and the oracle replays it over its CTE. */
  private def reachSql(rel: String, distinct: Boolean): String =
    s"""reach(src, node, hop) AS (
          SELECT u, u, 0 FROM (SELECT DISTINCT u FROM $rel)
          UNION ALL
          SELECT ${if (distinct) "DISTINCT " else ""}r.src, e.v, r.hop + 1
          FROM reach r JOIN $rel e ON e.u = r.node
          WHERE r.hop < $BfsHops)
        SELECT src, node, CAST(min(hop) AS BIGINT) AS dist
        FROM reach GROUP BY src, node
        ORDER BY src, node"""

  /** The quantized-integer rank loop graph_pagerank and graph_ppr share:
    * `Iters` rounds of r(v) = restart(v) + Σ over edges u→v of
    * (85 · r(u)) div (100 · deg(u)) on the undirected near-dup graph,
    * starting from r(v) = init(v). `init` and `restart` are columns over
    * `doc_id`. Only edge-bearing vertices iterate (r14, the
    * connectedComponents treatment): an untouched document never
    * receives a contribution, so its rank is exactly its restart term,
    * attached once at the end instead of carrying the corpus-scale docs
    * frame through every round. Returns (doc_id, <out>_q, <out>): the
    * quantized rank and its double value, over every document. */
  private def ranked(s: SparkSession, dir: String, init: Column,
      restart: Column, out: String): DataFrame = {
    val edges = nearDupGraph(s, dir)
    // (u, v, deg_u) is re-read every round: materialize once
    val eD = Tables.materialize(edges.join(degrees(edges), "u"))
    val touched = eD.select(col("u").as("doc_id")).distinct()
      .transform(Tables.materialize)
    var r = touched.select(col("doc_id"), init.as("r"))
    for (_ <- 0 until Iters) {
      val contrib = eD
        .join(r.select(col("doc_id").as("u"), col("r")), "u")
        .select(col("v"), expr("(85 * r) div (100 * deg)").as("c"))
        .groupBy("v").agg(sum(col("c")).as("cs"))
      r = touched
        .join(contrib.select(col("v").as("doc_id"), col("cs")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), (restart + coalesce(col("cs"), lit(0L))).as("r"))
      // with a FIXED small round count the chained plan executes as one
      // job (edges read from the checkpoint blocks each time); a
      // long-running production loop would localCheckpoint every ~10
      // generations to bound lineage, as connectedComponents does
    }
    val rAll = coalesce(col("r"), restart)
    Tables.load(s, dir, "documents").select("doc_id")
      .join(r, Seq("doc_id"), "left")
      .select(col("doc_id"), rAll.as(s"${out}_q"),
        (rAll.cast("double") / lit(Q.toDouble)).as(out))
      .orderBy("doc_id")
  }

  /** The SQL mirror of [[ranked]]: `Iters` rounds over every document
    * from r0 = `init`, each r = `restart` + the damped contributions
    * along `e`, with `init` and `restart` expressions over doc_id. `//`
    * and Spark's `div` agree on positive operands (truncation); sums are
    * cast back to BIGINT because DuckDB widens integer sums to HUGEINT. */
  private def rankedSql(init: String, restart: String, out: String): String = {
    val iters = (1 to Iters).map { i =>
      s"""r$i AS MATERIALIZED (
            SELECT doc_id, ($restart) + COALESCE(c.cs, 0) AS r
            FROM documents doc LEFT JOIN (
              SELECT e.v, CAST(sum((85 * r.r) // (100 * dg.deg)) AS BIGINT) AS cs
              FROM e JOIN deg dg ON e.u = dg.u
                     JOIN r${i - 1} r ON r.doc_id = e.u
              GROUP BY e.v) c ON c.v = doc.doc_id)"""
    }.mkString(",\n")
    s"""WITH ${Dedup.JaccardPairsCte},
          ${Dedup.undirectedSql("e")},
          $DegSql,
          r0 AS MATERIALIZED (SELECT doc_id, $init AS r FROM documents),
          $iters
        SELECT doc_id, CAST(r AS BIGINT) AS ${out}_q,
          CAST(r AS DOUBLE) / ${Q.toDouble} AS $out
        FROM r$Iters ORDER BY doc_id"""
  }

  /** DuckDB replay of the quantized iterations — generated so iteration
    * count and arithmetic can never drift from the Spark loop. */
  private lazy val PagerankOracleSql: String = {
    val n = "(SELECT count(*) FROM documents)"
    rankedSql(init = s"$Q // $n", restart = s"15 * $Q // (100 * $n)", "pagerank")
  }

  /** DuckDB replay of the seeded iterations — generated like
    * PagerankOracleSql so iteration count, seed rule, and integer
    * arithmetic can never drift from the Spark loop. */
  private lazy val PprOracleSql: String = {
    val seedCount =
      s"(SELECT count(*) FROM documents WHERE doc_id % $PprSeedMod = 0)"
    // COALESCE around the seed-share divisions: when the corpus has no
    // seeds the predicate never selects the THEN branch, so the NULL
    // that DuckDB's `$Q // 0` produces can only leak if an engine folds
    // the branch eagerly — the coalesce pins both readings to the same
    // all-zero ranks the Spark guard emits (nSeeds==0 → seedShare=0L).
    // On any corpus with ≥1 seed the divisions are non-NULL and the
    // coalesce is an identity, so healthy hashes are unchanged (r9
    // advice, Graph.scala graph_ppr seedless guard).
    def seeded(share: String) =
      s"CASE WHEN doc_id % $PprSeedMod = 0 THEN COALESCE($share, 0) ELSE 0 END"
    rankedSql(init = seeded(s"$Q // $seedCount"),
      restart = seeded(s"15 * $Q // (100 * $seedCount)"), "ppr")
  }

  /** DuckDB replay of graph_hits, generated from HitsIters like the other
    * iterative oracles. The half-step `x` sums the previous score `prev`
    * along `e` (`from` -> `to`), fills 0 over every document and
    * max-norm rescales, exactly as the Spark loop's `half`. */
  private lazy val HitsOracleSql: String = {
    def half(x: String, prev: String, from: String, to: String): String = {
      val (c, pc) = (x.take(1), prev.take(1))
      s"""${x}r AS MATERIALIZED (SELECT e.$to AS doc_id, sum($prev.$pc) AS $c
              FROM e JOIN $prev ON $prev.doc_id = e.$from GROUP BY e.$to),
          ${x}f AS MATERIALIZED (SELECT nd.doc_id, COALESCE(${x}r.$c, 0) AS $c
              FROM nd LEFT JOIN ${x}r USING (doc_id)),
          $x AS MATERIALIZED (SELECT doc_id,
              ($c * $HitsQ) // (SELECT max($c) FROM ${x}f) AS $c
            FROM ${x}f)"""
    }
    val iters = (1 to HitsIters).map { i =>
      s"${half(s"a$i", s"h${i - 1}", "u", "v")},\n${half(s"h$i", s"a$i", "v", "u")}"
    }.mkString(",\n")
    val (a, h) = (s"a$HitsIters", s"h$HitsIters")
    s"""WITH ${Dedup.JaccardPairsCte},
          nd AS MATERIALIZED (SELECT doc_id FROM documents),
          e AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM pairs),
          h0 AS MATERIALIZED (SELECT doc_id, CAST($HitsQ AS BIGINT) AS h FROM nd),
          $iters
        SELECT $a.doc_id,
          CAST($a.a AS BIGINT) AS auth_q,
          CAST($h.h AS BIGINT) AS hub_q,
          CAST($a.a AS DOUBLE) / $HitsQ.0 AS authority,
          CAST($h.h AS DOUBLE) / $HitsQ.0 AS hub
        FROM $a JOIN $h USING (doc_id)
        ORDER BY doc_id"""
  }

  /** One synchronous k-core peel round over an undirected (u, v) edge
    * frame: degree count + two node-id semi-joins — never cartesian.
    * Extracted (r14) so the QueryDef can materialize each round
    * (un-checkpointed rounds tripled the plan per round) while PlanSpec
    * still asserts the round's semi-join shape directly. */
  private[graft] def kcorePeelRound(edges: DataFrame, k: Int): DataFrame = {
    val keep = degrees(edges).filter(col("deg") >= k).select("u")
    edges
      .join(keep, Seq("u"), "left_semi")
      .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
      .select("u", "v")
  }

  /** The synchronous label-propagation rounds — shared by
    * graph_labelprop and graph_modularity so the communities scored are
    * exactly the communities reported. One edges×labels equi-join, one
    * (v,label) count, one per-v argmax window per round. */
  private def lpaLabels(docs: DataFrame, edges: DataFrame): DataFrame = {
    // r14 restructure, results identical:
    //  - edges materialized once, so no round recomputes the pair
    //    generator;
    //  - rounds iterate ONLY over edge-bearing vertices (the
    //    connectedComponents treatment): a vertex with no edges never
    //    receives a winner, so its label stays its own id — attached
    //    once at the end instead of joining the corpus-scale docs frame
    //    into every round;
    //  - per-round labels localCheckpoint'ed: lbl otherwise feeds both
    //    the neighbor join and the carry-forward, doubling the logical
    //    plan per round (the round-3 plan held 2^3 copies of round 0,
    //    re-running the edge join each — plan-audited in r14). A
    //    stride-2 variant (checkpoint every other round, parallel
    //    recompute of the skipped round) was A/B-measured 13%
    //    WORSE on all three LPA queries: unlike a map-only subtree, the
    //    duplicated round carries its own window EXCHANGE, so the
    //    recompute doubles shuffled bytes rather than soaking idle
    //    cores. Per-round barriers are the measured optimum here.
    val e = Tables.materialize(edges)
    var lbl = e.select(col("v").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"))
    for (_ <- 0 until Iters) {
      val neigh = e
        .join(lbl.select(col("doc_id").as("u"), col("label")), "u")
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("v")
        .orderBy(col("c").desc, col("label"))
      val winner = neigh.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("v").as("doc_id"), col("label").as("new_label"))
      lbl = lbl.join(winner, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("new_label"), col("label")).as("label"))
        .transform(Tables.materialize)
    }
    docs.join(lbl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("label"))
  }

  /** The LPA rounds as DuckDB CTEs (l0..lIters over relations `e` and
    * `documents`) — shared by the labelprop and modularity oracles. */
  private lazy val LpaRoundsCte: String = {
    val rounds = (1 to Iters).map { i =>
      s"""l$i AS MATERIALIZED (
            SELECT d.doc_id, COALESCE(w.new_label, p.label) AS label
            FROM documents d
            JOIN l${i - 1} p ON p.doc_id = d.doc_id
            LEFT JOIN (
              SELECT v, label AS new_label FROM (
                SELECT e.v, l.label, count(*) AS c,
                  row_number() OVER (PARTITION BY e.v
                    ORDER BY count(*) DESC, l.label) AS rn
                FROM e JOIN l${i - 1} l ON l.doc_id = e.u
                GROUP BY e.v, l.label) t
              WHERE rn = 1) w ON w.v = d.doc_id)"""
    }.mkString(",\n")
    s"""l0 AS MATERIALIZED (SELECT doc_id, doc_id AS label FROM documents),
        $rounds"""
  }

  /** (b_id, a_id, la, lb): each (a_id, b_id) pair with its endpoints'
    * labels in `lbl` (doc_id, label). Its oracle form is
    * [[LabeledPairsSql]]. */
  private def labeledPairs(pairs: DataFrame, lbl: DataFrame): DataFrame =
    pairs
      .join(lbl.select(col("doc_id").as("a_id"), col("label").as("la")), "a_id")
      .join(lbl.select(col("doc_id").as("b_id"), col("label").as("lb")), "b_id")

  /** The SQL mirror of [[labeledPairs]] over the oracle's `pairs` and
    * the last LPA round: the CTE lab(a_id, b_id, la, lb). */
  private lazy val LabeledPairsSql: String =
    s"""lab AS (
          SELECT p.a_id, p.b_id, x.label AS la, y.label AS lb
          FROM pairs p
          JOIN l$Iters x ON x.doc_id = p.a_id
          JOIN l$Iters y ON y.doc_id = p.b_id)"""

  /** (community, volume): each label's degree mass in the undirected
    * (u, v) `edges`. Its oracle form is [[CommunityVolumeSql]]. */
  private def communityVolume(edges: DataFrame, lbl: DataFrame): DataFrame =
    degrees(edges)
      .join(lbl.select(col("doc_id").as("u"), col("label")), "u")
      .groupBy("label").agg(sum(col("deg")).as("volume"))
      .withColumnRenamed("label", "community")

  /** The SQL mirror of [[communityVolume]] over the oracle's `e` and the
    * last LPA round: the CTEs deg and vol(community, volume). */
  private lazy val CommunityVolumeSql: String =
    s"""$DegSql,
        vol AS (
          SELECT l.label AS community, CAST(sum(d.deg) AS BIGINT) AS volume
          FROM deg d JOIN l$Iters l ON l.doc_id = d.u
          GROUP BY l.label)"""

  /** DuckDB replay of the synchronous LPA rounds — generated like
    * PagerankOracleSql so round count and tie-break can never drift. */
  private lazy val LabelPropOracleSql: String =
    s"""WITH ${Dedup.JaccardPairsCte},
          ${Dedup.undirectedSql("e")},
          $LpaRoundsCte
        SELECT f.doc_id, f.label AS community,
          sz.community_size
        FROM l$Iters f JOIN (
          SELECT label, CAST(count(*) AS BIGINT) AS community_size
          FROM l$Iters GROUP BY label) sz ON sz.label = f.label
        ORDER BY f.doc_id"""

  /** DuckDB replay of the modularity scorecard over the SAME LPA rounds
    * CTE the labelprop oracle uses. The closing arithmetic is written
    * with the identical operand order as the Spark expr (two divisions,
    * one left-associated product, one subtraction — all IEEE double), so
    * the score matches bit-for-bit. */
  private lazy val ModularityOracleSql: String =
    s"""WITH ${Dedup.JaccardPairsCte},
          ${Dedup.undirectedSql("e")},
          $LpaRoundsCte,
          $LabeledPairsSql,
          $CommunityVolumeSql,
          mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
          intra AS (
            SELECT CAST(count(*) AS BIGINT) AS intra_edges
            FROM lab WHERE la = lb),
          s2 AS (
            SELECT CAST(sum(CAST(volume AS HUGEINT) * volume) AS BIGINT)
              AS sum_deg_sq
            FROM vol)
        SELECT mm.m, intra.intra_edges, s2.sum_deg_sq,
          CAST(intra.intra_edges AS DOUBLE) / CAST(mm.m AS DOUBLE)
            - CAST(s2.sum_deg_sq AS DOUBLE)
              / (4.0 * CAST(mm.m AS DOUBLE) * CAST(mm.m AS DOUBLE))
            AS modularity
        FROM mm, intra, s2"""

  /** DuckDB replay of the conductance scorecard over the SAME LPA
    * rounds CTE — labels, cut, volume, and the guarded closing division
    * in the identical operand order. */
  private lazy val ConductanceOracleSql: String =
    s"""WITH ${Dedup.JaccardPairsCte},
          ${Dedup.undirectedSql("e")},
          $LpaRoundsCte,
          $LabeledPairsSql,
          $CommunityVolumeSql,
          cut AS (
            SELECT community, CAST(count(*) AS BIGINT) AS cut_edges
            FROM (SELECT la AS community FROM lab WHERE la != lb
                  UNION ALL SELECT lb FROM lab WHERE la != lb)
            GROUP BY community),
          tot AS (SELECT CAST(sum(volume) AS BIGINT) AS vol_total FROM vol)
        SELECT v.community, v.volume,
          COALESCE(c.cut_edges, 0) AS cut_edges, tot.vol_total,
          CASE WHEN least(v.volume, tot.vol_total - v.volume) > 0
            THEN CAST(COALESCE(c.cut_edges, 0) AS DOUBLE)
                 / CAST(least(v.volume, tot.vol_total - v.volume) AS DOUBLE)
          END AS conductance
        FROM vol v LEFT JOIN cut c ON c.community = v.community
        CROSS JOIN tot
        ORDER BY v.community"""

  /** DuckDB replay of the hash-driven walk — generated per step like the
    * pagerank/LPA oracles so step count and the md5 step-draw can never
    * drift from the Spark loop. */
  private lazy val RandomWalkOracleSql: String = {
    val steps = (1 to WalkSteps).map { k =>
      val prev = (1 until k).map(j => s"step$j, ").mkString
      s"""w$k AS MATERIALIZED (
            SELECT doc_id, ${prev}v AS step$k, v AS cur FROM (
              SELECT s.doc_id, ${(1 until k).map(j => s"s.step$j, ").mkString}e.v,
                row_number() OVER (PARTITION BY s.doc_id ORDER BY
                  ${hash31Sql(s"concat('$k:', CAST(s.cur AS VARCHAR), ':', CAST(e.v AS VARCHAR))")},
                  e.v) AS rn
              FROM w${k - 1} s JOIN e ON e.u = s.cur) t
            WHERE rn = 1)"""
    }.mkString(",\n")
    s"""WITH ${Dedup.JaccardPairsCte},
          ${Dedup.undirectedSql("e")},
          w0 AS MATERIALIZED (SELECT DISTINCT u AS doc_id, u AS cur FROM e),
          $steps
        SELECT doc_id, ${(1 to WalkSteps).map(j => s"step$j").mkString(", ")}
        FROM w$WalkSteps ORDER BY doc_id"""
  }

  /** DuckDB replay of the synchronous peel rounds (k=2) — generated like
    * the other iterative oracles so round count cannot drift. */
  private lazy val KcoreOracleSql: String = {
    val rounds = (1 to KcoreRounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT u FROM e${i - 1} GROUP BY u HAVING count(*) >= 2),
          e$i AS MATERIALIZED (
            SELECT e.u, e.v FROM e${i - 1} e
            WHERE e.u IN (SELECT u FROM k$i)
              AND e.v IN (SELECT u FROM k$i))"""
    }.mkString(",\n")
    s"""WITH ${Dedup.JaccardPairsCte},
          ${Dedup.undirectedSql("e0")},
          $rounds
        SELECT u AS doc_id, count(*) AS core_degree
        FROM e$KcoreRounds GROUP BY u ORDER BY doc_id"""
  }
}
