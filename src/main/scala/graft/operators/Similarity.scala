package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}
import graft.functions.EngineFns._
import graft.functions.CosineSimilarity

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * exact and approximate cosine top-k (brute force, hyperplane LSH,
  * IVF, binary quantization, graph beam search), their recall
  * scorecards, embedding near-duplicate pairs and the k-NN graph, and
  * the per-vector embedding analytics (centroids, drift, quantization,
  * health, projection, PCA).
  *
  * Every search is built from one skeleton, each step one Spark helper
  * with its DuckDB mirror beside it:
  *  - the query set: [[probeRows]], [[queriesOf]] and [[keyedQueriesOf]],
  *    mirrored by [[queriesSql]] — the first NumQueries vectors, so no
  *    search is ever all-pairs;
  *  - the per-query cosine top-k: [[rankTopK]] / [[topKOf]] and
  *    [[topKSql]]; [[ExactTopKSql]] is the exact brute-force oracle;
  *  - the IVF lists: [[ivfCentroids]], [[ivfAssign]] / [[ivfAssignTop1]]
  *    and [[ivfCandidatesOn]], mirrored by [[IvfRankedSql]] and
  *    [[ivfCandidatesSql]];
  *  - the LSH bucket: [[bucketColFor]] and [[BucketedSql]];
  *  - the recall scorecard: [[hitsOf]] / [[recallScorecard]] and
  *    [[hitsSql]] / [[recallSql]];
  *  - the banded-LSH pairs and k-NN graph: [[nearDupPairs]] /
  *    [[knnGraphEdges]] and [[nearDupPairsSql]] / [[KnnGraphSql]].
  *
  * Cosine is computed with a left-to-right double fold (EngineFns.dot), so
  * the DuckDB oracle values are bit-identical — rank order included.
  */
object Similarity {

  private val TopK = 5
  private val NumQueries = 10
  private val MrlDims = 16 // Matryoshka prefix length for emb_mrl_eval
  private val NearDupThreshold = 0.4
  private val RandProjDims = 8 // emb_rand_proj's fixed 64→8 JL reduction
  private val KnnGraphK = 3 // neighbors per vector in the k-NN graph
  // Planted near-neighbor id base of the clustered CorpusGen mode — the
  // in-band marker: vec_id >= PlantBase declares "perturbed copy of
  // vec_id − PlantBase". Declared ABOVE defs (interpolated into oracle
  // SQL at defs-init time; a val below defs would read as 0).
  private val PlantBase: Long = graft.sources.CorpusGen.PlantBase

  /** IVF coarse-quantizer stride, √N-scaled (r12): the original fixed
    * `vec_id % 50` sample made the centroid count 2% OF THE CORPUS, so
    * the assignment pass was N·(N/50) cosines — O(N²/50), the scale bug
    * the clustered sf10 decade run exposed (525 k vectors × 10.5 k
    * centroids ≈ 5.5 × 10⁹ cosines, unmeasurable). The standard IVF
    * sizing is k ≈ √N lists (the FAISS 4√N–16√N guideline), i.e.
    * stride = max(50, ⌊√N⌋): assignment is N^1.5, probe lists stay
    * ~√N-sized, and at the gate scales (N ≤ 2500) the floor keeps the
    * sample at the historical stride-50 so every small-corpus result is
    * unchanged. Engine-portable: both sides compute ⌊√N⌋ with the
    * correctly-rounded IEEE sqrt of an exact BIGINT count. */
  private val CentStrideSql =
    "(SELECT greatest(50, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM embeddings)"

  private def centStride(n: Long): Long =
    math.max(50L, math.floor(math.sqrt(n.toDouble)).toLong)

  private val BeamWidth = 8 // graph-search beam (> TopK + 1: self-cut room)
  private val GraphSearchRounds = 3 // synchronous beam expansions

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Embeddings spread across cores: one parquet file = one input split,
    * which would serialize all pairwise work onto a single task. The
    * repartition is conditional on the scan actually being under-split
    * (round-2 advice) — a pre-split 100 TB input skips the shuffle.
    * Deterministic — every output has a total-order sort. */
  private def embParallel(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, emb(s, dir))

  /** Corpus-scaled hyperplane count (r13, the IVF-√N treatment for the
    * hash-bucket LSH family): p = max(8, ⌊log₂ N⌋ − 6), i.e. 2^p
    * buckets ≈ N/64 — expected bucket occupancy pinned near 64 as the
    * corpus grows, instead of the historical FIXED 256 buckets whose
    * occupancy (and therefore per-query candidate cost) grows linearly
    * with N. ⌊log₂ N⌋ is computed in EXACT integer arithmetic on both
    * engines — Scala: 63 − numberOfLeadingZeros(n); DuckDB:
    * length(bin(n)) − 1 — never an IEEE log2, so the plane count (and
    * every bucket downstream) cannot drift cross-engine at a power-of-2
    * boundary. At gate scales (N < 16 384) the floor keeps the
    * historical 8 planes, so every small-corpus result is unchanged.
    * Recall note (SCALE.md r13): per-PAIR home-bucket collision decays
    * slowly as planes grow (each plane is a ~1.5% flip chance on the
    * clustered corpus's planted pairs); the serving path that stays
    * flat under this sizing is MULTIPROBE (home + 1-bit flips —
    * sim_ann_lsh_multiprobe, measured by sim_planted_recall's
    * lsh_probe1 row), whose candidate cost is (p+1)·occupancy ≈
    * (p+1)·64 — logarithmic in N, the 100 TB shape. */
  private def planesFor(n: Long): Int =
    math.max(8,
      (63 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L))) - 6)

  /** DuckDB mirror of planesFor over the embeddings table: a scalar
    * subquery every consumer oracle interpolates (the CentStrideSql
    * recipe). length(bin(n)) − 1 = ⌊log₂ n⌋ exactly. */
  private val PlanesSql =
    "(SELECT greatest(8, length(bin(greatest(count(*), 1))) - 7) FROM embeddings)"

  /** Spark-side plane count for a corpus dir — one bounded driver
    * scalar per query build, same pre-flight discipline as
    * centStride. */
  private def planesOf(s: SparkSession, dir: String): Int =
    planesFor(Tables.rowCount(s, dir, "embeddings"))

  /** Hyperplane component r(j, k) in [-1.0, 1.0], derived from the
    * md5-based hash31 of "j_k" — engine-portable (the DuckDB oracle
    * recomputes the identical value from md5 in SQL). Folded to literal
    * constants HERE because higher-order-function lambdas are
    * interpreted per row: leaving the md5 inside the lambda re-hashed
    * planes x 64 strings for every input row. Memoized per plane count
    * (the count is now corpus-scaled). */
  private val planeConstCache =
    scala.collection.concurrent.TrieMap[Int, IndexedSeq[IndexedSeq[Double]]]()

  private def planeConstsFor(p: Int): IndexedSeq[IndexedSeq[Double]] =
    planeConstCache.getOrElseUpdate(p,
      IndexedSeq.tabulate(p, 64) { (j, k) =>
        (hash31Value(s"${j}_$k") % 2001 - 1000).toDouble / 1000.0
      })

  /** The 64→RandProjDims projection family (emb_rand_proj): a FIXED
    * feature dimensionality, deliberately not corpus-scaled — a JL
    * reduction is a schema choice, not an occupancy knob. */
  private lazy val planeConsts: IndexedSeq[IndexedSeq[Double]] =
    planeConstsFor(RandProjDims)

  /** LSH bucket id over p corpus-scaled planes: bit j = sign of
    * dot(v, r_j). The dot folds left-to-right in double (zero seed),
    * same recipe as cosine, so the bucket — and everything downstream —
    * is oracle-checkable. */
  private def bucketColFor(p: Int): Column =
    (0 until p).map { j =>
      val dot = aggregate(
        zip_with(col("embedding"),
          array(planeConstsFor(p)(j).map(lit): _*),
          (v, r) => v.cast("double") * r),
        lit(0.0), (a, x) => a + x)
      when(dot > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** DuckDB mirror of bucketColFor (same hash family, same fold order):
    * CTE `b` (vec_id, embedding, bucket). The plane count is the
    * PlanesSql scalar, evaluated by the oracle engine itself so it can
    * never drift from the corpus. */
  private val BucketedSql =
    s"""b AS (SELECT vec_id, embedding,
          CAST(list_sum(list_transform(range(0, $PlanesSql), j ->
          CASE WHEN list_reduce(list_transform(list_zip(embedding, range(0, 64)), p ->
                 CAST(p[1] AS DOUBLE) * (((${hash31Sql("concat(CAST(j AS VARCHAR), '_', CAST(p[2] AS VARCHAR))")} % 2001) - 1000) / 1000.0)),
                 (x, y) -> x + y) > 0
               THEN (1 << CAST(j AS INTEGER)) ELSE 0 END)) AS BIGINT) AS bucket
          FROM embeddings)"""

  val defs: Seq[QueryDef] = Seq(

    // Exact brute-force cosine top-k for the first NumQueries vectors.
    QueryDef(
      "sim_topk_bruteforce",
      (s, dir) => {
        // CosineSimilarity is a native codegen expression: one fused loop
        // per pair (dot + both norms), bit-identical to the oracle SQL.
        val e = embParallel(s, dir)
        topKOf(e.join(broadcast(keyedQueriesOf(e)), col("vec_id") =!= col("q_id"))
          .select(
            col("q_id"), col("vec_id"),
            CosineSimilarity(s, col("q_emb"), col("embedding")).as("cos")))
      },
      Some(ExactOracleSql)),

    // Approximate top-k via random-hyperplane LSH buckets (scale path).
    // The hash family is md5-derived, so buckets — and therefore the
    // entire approximate result — are oracle-checked bit-for-bit; recall
    // vs brute force is additionally asserted in SimilaritySpec.
    QueryDef(
      "sim_ann_lsh",
      (s, dir) => {
        val bucketed = embParallel(s, dir)
          .withColumn("bucket", bucketColFor(planesOf(s, dir)).cast("long"))
        val q = keyedQueriesOf(bucketed, col("bucket"))
        topKOf(bucketed.join(broadcast(q), Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(
            col("q_id"), col("vec_id"), col("bucket"),
            CosineSimilarity(s, col("q_emb"), col("embedding")).as("cos")))
      },
      Some(s"""WITH $LshCandidatesSql
               SELECT q_id, vec_id, bucket, cos, rank
               FROM ${topKSql("lshcand")} ORDER BY q_id, rank"""),
      ),

    // Custom whole-operator top-k (LogicalPlan + SparkStrategy +
    // SparkPlan): per-partition bounded heaps instead of materializing
    // and sorting the full query x candidate cross product. Same oracle
    // as the brute-force window form — results are bit-identical.
    QueryDef(
      "sim_topk_custom_op",
      (s, dir) => {
        val e = embParallel(s, dir)
        val queries = queriesOf(e).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
          .sortBy(_._1).toSeq
        // empty corpus -> no probe vectors: searching for nothing finds
        // nothing (degenerate sweep, r8). The OPERATOR keeps its loud
        // nonEmpty contract (SimilaritySpec); the registry entry decides
        // the no-input policy.
        // limit(0): the guard must be a typed EMPTY relation regardless
        // of the corpus side — `e.select(...)` alone would fabricate one
        // row per corpus vector if embeddings were nonempty while no
        // vec_id < NumQueries (r9 advice; today queries.isEmpty implies
        // e.isEmpty, but the branch shouldn't depend on that invariant)
        if (queries.isEmpty)
          e.limit(0).select(col("vec_id").as("q_id"), col("vec_id"),
            lit(0.0).as("cos"), lit(0L).as("rank"))
        else
          graft.plans.CosineTopKOp
            .topK(s, e.select("vec_id", "embedding"), queries, TopK)
            .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
            .orderBy("q_id", "rank")
      },
      Some(ExactOracleSql)),

    // Approximate top-k via multi-probe LSH: each query probes its home
    // bucket PLUS all 8 Hamming-1 neighbor buckets, recovering most of
    // the recall a sign flip on one near-zero dot costs — the standard
    // recall/cost knob (probing beats building more tables because the
    // candidate set grows without another pass over the corpus). The
    // probe set is built on the tiny broadcast query side; candidate-side
    // work is still one bucket equi-join, so the 100 TB shape is
    // unchanged. Recall vs brute force at probes=0/8 is asserted in
    // SimilaritySpec and tabulated in SCALE.md.
    QueryDef(
      "sim_ann_lsh_multiprobe",
      (s, dir) => {
        val p = planesOf(s, dir)
        val bucketed = embParallel(s, dir)
          .withColumn("bucket", bucketColFor(p).cast("long"))
        // flip = -1 denotes the home bucket; 0..p-1 flip one plane bit
        val probes = keyedQueriesOf(bucketed, col("bucket"),
            explode(sequence(lit(-1), lit(p - 1))).as("flip"))
          .select(col("q_id"), col("q_emb"),
            when(col("flip") < 0, col("bucket"))
              .otherwise(expr("bucket ^ cast(shiftleft(1, flip) as bigint)"))
              .as("bucket"))
        topKOf(bucketed.join(broadcast(probes), Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            CosineSimilarity(s, col("q_emb"), col("embedding")).as("cos")))
      },
      Some(s"""WITH $BucketedSql,
               probes AS (
                 SELECT q_id, q_emb,
                   CASE WHEN f < 0 THEN bucket
                        ELSE xor(bucket, CAST(1 << f AS BIGINT)) END AS bucket
                 FROM (${queriesSql("b", ", bucket")}) q,
                   (SELECT unnest(range(-1, $PlanesSql)) AS f) fs),
               c AS (SELECT p.q_id, b.vec_id,
                       ${cosineSql("p.q_emb", "b.embedding")} AS cos
                     FROM b JOIN probes p
                       ON b.bucket = p.bucket AND b.vec_id != p.q_id)
               SELECT q_id, vec_id, cos, rank
               FROM ${topKSql("c")} ORDER BY q_id, rank""")),

    // ANN recall scorecard as a FIRST-CLASS operator (the dedup_eval
    // pattern applied to similarity search): recall@5 of the LSH path
    // against the exact brute-force top-k, per query. In production the
    // index you ship is only as good as its measured recall — so the
    // measurement itself must be a scale-safe, oracle-checked query,
    // not a notebook afterthought. Both sub-pipelines are the registry
    // operators re-invoked (single definition — the scorecard can never
    // drift from what it scores); the exact side is the gated
    // fixed-query broadcast join (10 queries — never all-pairs), the
    // hit probe a LEFT SEMI on (q_id, vec_id), and the only IEEE op is
    // the closing recall division per query row.
    QueryDef(
      "sim_ann_recall",
      (s, dir) => recallScorecard(exactTopK(s, dir),
        graft.Registry.byName("sim_ann_lsh").run(s, dir), "n_exact", "recall"),
      Some(s"""WITH $ExactTopKSql,
               $LshCandidatesSql,
               ann AS (SELECT q_id, vec_id FROM ${topKSql("lshcand")})
               ${recallSql("exact", "ann", "n_exact", "recall")}""")),

    // Matryoshka-truncation evaluation: recall@k of PREFIX-dimension
    // cosine (first 16 of 64 dims) against full-dimension cosine, per
    // query — the measurement behind shipping truncated (MRL-style)
    // embeddings to cut index cost 4×. Same scorecard discipline as
    // sim_ann_recall: both rankings come from the one gated broadcast
    // join (10 fixed queries — never all-pairs), the prefix ranking
    // just slices the arrays before the same codegen'd cosine fold, and
    // the only IEEE ops are the per-pair cosines (deterministic row-
    // local folds) and the closing recall division.
    QueryDef(
      "emb_mrl_eval",
      (s, dir) => {
        val e = embParallel(s, dir)
        val q = broadcast(keyedQueriesOf(e))
        val joined = e.join(q, col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            CosineSimilarity(s, col("q_emb"), col("embedding"))
              .as("cos_full"),
            CosineSimilarity(s, slice(col("q_emb"), 1, MrlDims),
              slice(col("embedding"), 1, MrlDims)).as("cos_pre"))
        val wf = Window.partitionBy("q_id")
          .orderBy(col("cos_full").desc, col("vec_id"))
        val wp = Window.partitionBy("q_id")
          .orderBy(col("cos_pre").desc, col("vec_id"))
        val full = joined.withColumn("rk", row_number().over(wf))
          .filter(col("rk") <= TopK).select("q_id", "vec_id")
        val pre = joined.withColumn("rk", row_number().over(wp))
          .filter(col("rk") <= TopK)
        recallScorecard(full, pre, "n_full", "recall_at_k")
      },
      Some(s"""WITH c AS (SELECT q_id, vec_id,
                       ${cosineSql("q_emb", "embedding")} AS cos_full,
                       ${cosineSql(s"q_emb[1:$MrlDims]", s"embedding[1:$MrlDims]")} AS cos_pre
                     FROM (${queriesSql()}) qv, embeddings WHERE vec_id != q_id),
               fullk AS (SELECT q_id, vec_id FROM ${topKSql("(SELECT q_id, vec_id, cos_full AS cos FROM c)")}),
               prek AS (SELECT q_id, vec_id FROM ${topKSql("(SELECT q_id, vec_id, cos_pre AS cos FROM c)")})
               ${recallSql("fullk", "prek", "n_full", "recall_at_k")}""")),

    // Binary-quantized search with exact rerank — the modern 1-bit
    // embedding pipeline (32× memory cut): every vector packs its 64
    // sign bits into two BIGINT words via an exact base-2 fold (acc*2 +
    // bit, left fold — identical in DuckDB's list_reduce because
    // 0*2+b1 = b1), candidates rank by Hamming distance
    // (bit_count(xor) over the words), and the top-20 per query are
    // re-ranked by TRUE cosine to a final top-5. The gated 10-query
    // broadcast keeps this suite-exact; the production scale path for
    // the Hamming stage is the chunk-pigeonhole equi-join the
    // HammingJoinRewrite rule derives automatically (q_hamming_join_rule)
    // or an IVF route — packing and rerank stay identical there.
    QueryDef(
      "sim_binary_rerank",
      (s, dir) => {
        def word(lo: Int): org.apache.spark.sql.Column = expr(
          s"""aggregate(transform(slice(embedding, $lo, 32),
                x -> IF(x > CAST(0 AS FLOAT), 1L, 0L)),
              0L, (acc, b) -> acc * 2 + b)""")
        val packed = embParallel(s, dir)
          .select(col("vec_id"), col("embedding"),
            word(1).as("w1"), word(33).as("w2"))
        val q = broadcast(keyedQueriesOf(packed,
          col("w1").as("qw1"), col("w2").as("qw2")))
        val wh = Window.partitionBy("q_id")
          .orderBy(col("hamming").asc, col("vec_id").asc)
        val cand = packed.join(q, col("vec_id") =!= col("q_id"))
          .withColumn("hamming",
            bit_count(col("w1").bitwiseXOR(col("qw1"))).cast("long") +
              bit_count(col("w2").bitwiseXOR(col("qw2"))).cast("long"))
          .withColumn("hrk", row_number().over(wh))
          .filter(col("hrk") <= 20)
        rankTopK(cand.withColumn("cos",
            CosineSimilarity(s, col("q_emb"), col("embedding"))))
          .select(col("q_id"), col("rank"), col("vec_id"), col("cos"),
            col("hamming"))
          .orderBy("q_id", "rank")
      },
      Some {
        def wordSql(e: String, lo: Int, hi: Int): String =
          s"""list_reduce(list_transform($e[$lo:$hi],
                x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE 0 END),
              (acc, b) -> acc * 2 + b)"""
        s"""WITH p AS (
              SELECT vec_id, embedding,
                ${wordSql("embedding", 1, 32)} AS w1,
                ${wordSql("embedding", 33, 64)} AS w2
              FROM embeddings),
            q AS (${queriesSql("p", ", w1 AS qw1, w2 AS qw2")}),
            c AS (SELECT q.q_id, p.vec_id, p.embedding, q.q_emb,
                    CAST(bit_count(xor(p.w1, q.qw1))
                       + bit_count(xor(p.w2, q.qw2)) AS BIGINT) AS hamming
                  FROM p, q WHERE p.vec_id != q.q_id),
            h AS (SELECT q_id, vec_id, embedding, q_emb, hamming,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY hamming, vec_id) AS hrk
                  FROM c),
            r AS (SELECT q_id, vec_id, hamming,
                    ${cosineSql("q_emb", "embedding")} AS cos
                  FROM h WHERE hrk <= 20)
            SELECT q_id, rank, vec_id, cos, hamming
            FROM ${topKSql("r")} ORDER BY q_id, rank"""
      }),

    // IVF-style ANN (scale path #2): a deterministic centroid sample
    // partitions the space (assign = argmax cosine to centroid, i.e.
    // nprobe=1 inverted list); queries search only their own list. Two
    // broadcast joins + one window — no all-pairs work.
    QueryDef(
      "sim_ann_ivf",
      (s, dir) => ivfTopK(s, dir, nprobe = 1),
      // nprobe=1 IVF is pure relational algebra over the portable cosine
      // fold, so the approximate result is oracle-checked exactly
      Some(ivfOracleSql(nprobe = 1)),
      ),

    // IVF with nprobe=2 — the recall/cost knob: each query searches its
    // TWO nearest centroid lists (candidates stay in exactly one list,
    // so the probe fan-out multiplies only the tiny broadcast query
    // side). Same oracle construction with the assignment rank <= 2.
    QueryDef(
      "sim_ann_ivf_nprobe2",
      (s, dir) => ivfTopK(s, dir, nprobe = 2),
      Some(ivfOracleSql(nprobe = 2)),
      ),

    // FILTERED vector search — the metadata-constrained ANN problem
    // (retrieve top-k among vectors satisfying a predicate; here:
    // label % 2 = 0, the "only corpus documents from allowed sources"
    // shape every RAG/retrieval deployment hits). Strategy is
    // PRE-filter: the predicate lands on the inverted lists BEFORE
    // scoring, so ranking never sees a disallowed candidate and the
    // top-k is always full (post-filtering a plain top-k under-fills
    // whenever > (k/selectivity) of the head is disallowed — the
    // classic filtered-search failure). nprobe=2 keeps recall at the
    // halved list density. Shape: the predicate is one vec_id-grain
    // equi-join against the allowed-id set (at scale: a filter column
    // STORED in the lists — zero extra join); everything else is the
    // standard broadcast-query probe, corpus touched once.
    QueryDef(
      "sim_ann_filtered",
      (s, dir) => {
        val e = embParallel(s, dir)
        val centroids = ivfCentroids(s, dir)
        val assigned = ivfAssignTop1(s, e, broadcast(centroids))
        val allowed = e
          .filter(pmod(col("label").cast("long"), lit(2L)) === 0L)
          .select(col("vec_id"))
        topKOf(ivfCandidatesOn(s, nprobe = 2, queriesOf(e), centroids,
          assigned.join(allowed, Seq("vec_id"))))
      },
      Some(ivfOracleSql(nprobe = 2, keep = "e.label % 2 = 0")),
      ),

    // IVF SERVING path — searches the PERSISTED index (build-once /
    // save / load; see ivfIndexDir): centroids and list_id-partitioned
    // inverted lists load from parquet, only query routing runs at
    // serve time. Result is bit-identical to the inline sim_ann_ivf
    // (same oracle; equality asserted in SimilaritySpec), but the cost
    // model is the real pipeline's: the corpus-side assignment is paid
    // once at build, and each probe's scan prunes to its own lists'
    // files via the partition key. Bench note: the first (warm-up)
    // execution builds+saves the index, so the measured passes price
    // pure serving — exactly the quantity a serving fleet cares about.
    QueryDef(
      "sim_ann_ivf_served",
      (s, dir) => ivfServedTopK(s, dir, nprobe = 1,
        queriesOf(embParallel(s, dir))),
      Some(ivfOracleSql(nprobe = 1)),
      ),

    // The served path's recall knob: same persisted index, each query
    // routed to its TWO nearest lists — the probe fan-out multiplies
    // only the broadcast query side and the partition-pruned list scan,
    // exactly like the inline sim_ann_ivf_nprobe2.
    QueryDef(
      "sim_ann_ivf_served_nprobe2",
      (s, dir) => ivfServedTopK(s, dir, nprobe = 2,
        queriesOf(embParallel(s, dir))),
      Some(ivfOracleSql(nprobe = 2)),
      ),

    // IVF index-health scorecard — the inspection leg of the index
    // lifecycle (build/save/serve above): per inverted list, its
    // population and corpus share, read from the SAVED index files.
    // Serving fleets alert on exactly this relation (an empty or
    // hot list means the coarse quantizer no longer fits the corpus
    // and the index needs a refresh/rebuild). Output is k rows (one
    // per nonempty list); shares are one closing division off exact
    // counts. Scale shape: one map-side-combined count over the
    // list-partitioned index files + a 1-row broadcast total.
    QueryDef(
      "sim_ann_ivf_index_stats",
      (s, dir) => {
        val idx = ivfIndexDir(s, dir)
        val lists = s.read
          .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, list_id BIGINT")
          .parquet(s"$idx/lists")
        val counts = lists.groupBy(col("list_id").cast("long").as("list_id"))
          .agg(count(lit(1)).as("n_vectors"))
        val tot = counts.agg(sum(col("n_vectors")).as("total"))
        counts.crossJoin(broadcast(tot))
          .select(col("list_id"), col("n_vectors"),
            (col("n_vectors").cast("double") /
              nullif(col("total").cast("double"), lit(0.0))).as("share"))
          .orderBy("list_id")
      },
      Some(s"""WITH $IvfRankedSql,
               counts AS (
                 SELECT c_id AS list_id, CAST(count(*) AS BIGINT) AS n_vectors
                 FROM ranked WHERE arn = 1 GROUP BY c_id),
               tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total
                       FROM counts)
               SELECT list_id, n_vectors,
                 CAST(n_vectors AS DOUBLE) / CAST(total AS DOUBLE) AS share
               FROM counts, tot ORDER BY list_id"""),
      ),

    // Index REFRESH semantics (r9, VERDICT task 7) — the missing leg of
    // the build/save/serve/inspect lifecycle: a batch is APPENDED to the
    // corpus, the embeddings files' fingerprint changes, the next
    // serve triggers a rebuild against the appended corpus, and the
    // served results must equal an inline build over base+batch — the
    // dedup_incremental discipline applied to ANN. Mechanics: the
    // original embeddings are split 12:1 (vec_id % 13) into a private
    // corpus dir; the base slice is written and indexed (build #1), the
    // batch slice is appended as new parquet files, and serving the
    // SAME dir again rebuilds (build #2) because Tables.memo keys the
    // index on file size/mtime, not the path. The operator
    // asserts the rebuild actually happened (distinct index dirs) and
    // returns the post-refresh served top-k. Since base ∪ batch is
    // exactly the original corpus, the oracle is the standard inline
    // IVF SQL over `embeddings` — bit-equality here proves
    // refresh-then-serve ≡ rebuild-from-scratch. At 100 TB "refresh" is
    // this same shape: rebuild into a fresh dir keyed by the new
    // corpus state and swap the serving path atomically.
    QueryDef(
      "sim_ann_ivf_refresh",
      (s, dir) => {
        val e = embParallel(s, dir)
        val tmp = graft.jvmScratchDir("graft_ivf_refresh").toString
        e.filter(pmod(col("vec_id"), lit(13)) =!= 0)
          .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
        val idxBase = ivfIndexDir(s, tmp) // build #1: base corpus
        e.filter(pmod(col("vec_id"), lit(13)) === 0)
          .write.mode("append").parquet(s"$tmp/embeddings.parquet")
        val idxFresh = ivfIndexDir(s, tmp) // fingerprint changed → rebuild
        require(idxFresh != idxBase,
          "sim_ann_ivf_refresh: append did not trigger an index rebuild " +
            s"(stale cache key? base=$idxBase fresh=$idxFresh)")
        ivfServedTopK(s, tmp, nprobe = 1, queriesOf(e))
      },
      Some(ivfOracleSql(nprobe = 1)),
      ),

    // Hard-negative mining — the contrastive-training data op: for each
    // query vector, the most similar vectors with a DIFFERENT label
    // (the negatives that actually teach an embedding model, vs easy
    // random ones). Rides the SAME IVF candidate relation as the ANN
    // serving path (nprobe=2 for recall on near-boundary negatives), so
    // mining cost is candidates-scanned — never corpus×corpus; labels
    // attach by one vec_id equi-join on the candidate relation (∝
    // collisions), the query labels as a NumQueries-row broadcast.
    // Top-NegK per query by exact cosine, vec_id tie-break.
    QueryDef(
      "sample_hardneg",
      (s, dir) => {
        val labels = emb(s, dir)
          .select(col("vec_id"), col("label").cast("long").as("label"))
        val queries = queriesOf(embParallel(s, dir))
        val qLab = broadcast(probeRows(labels)
          .select(col("vec_id").as("q_id"), col("label").as("q_label")))
        val cand = ivfCandidatesFor(s, dir, nprobe = 2, queries)
          .join(labels.withColumnRenamed("label", "neg_label"), "vec_id")
          .join(qLab, "q_id")
          .filter(col("neg_label") =!= col("q_label"))
        rankTopK(cand)
          .select(col("q_id"), col("rank"), col("vec_id"), col("cos"),
            col("q_label"), col("neg_label"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH ${ivfCandidatesSql(Seq(2))},
               lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
                       FROM embeddings),
               f AS (SELECT c.q_id, c.vec_id, c.cos,
                       ql.label AS q_label, nl.label AS neg_label
                     FROM cand2 c
                     JOIN lab ql ON ql.vec_id = c.q_id
                     JOIN lab nl ON nl.vec_id = c.vec_id
                     WHERE ql.label != nl.label)
               SELECT q_id, rank, vec_id, cos, q_label, neg_label
               FROM ${topKSql("f")} ORDER BY q_id, rank""")),

    // Embedding-cosine near-duplicate pairs — exact baseline (all-pairs
    // broadcast join). Kept as the oracle-checked reference the bucketed
    // scale path below is measured against; usable in production only
    // for corpora small enough to broadcast.
    QueryDef(
      "sim_embed_neardup_exact",
      (s, dir) => {
        // Declared all-pairs baseline: O(n^2) compare + full broadcast.
        // Hard registry-level gate (like CosineTopK's <= 4096 query
        // gate) so the baseline cannot be pointed at a large corpus by
        // accident — the production path is sim_embed_neardup (LSH).
        Dedup.requireAllPairsSmall(
          Tables.rowCount(s, dir, "embeddings"),
          "sim_embed_neardup_exact", "vectors", "sim_embed_neardup")
        val base = embParallel(s, dir)
        val a = base.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
        val b = base.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
        a.join(broadcast(b), col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            CosineSimilarity(s, col("a_emb"), col("b_emb")).as("cos"))
          .filter(col("cos") >= NearDupThreshold)
          .orderBy("a_id", "b_id")
      },
      Some(s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 ${cosineSql("a.embedding", "b.embedding")} AS cos
               FROM embeddings a, embeddings b
               WHERE a.vec_id < b.vec_id
                 AND ${cosineSql("a.embedding", "b.embedding")} >= $NearDupThreshold
               ORDER BY a_id, b_id""")),

    // Embedding-cosine near-duplicate pairs — the 100 TB path: banded
    // random-hyperplane LSH. 16 hyperplanes = 4 bands x 4 bits; a pair is
    // a candidate iff SOME band's 4 sign-bits agree, so candidate
    // generation is an equi-join on (band, band_val) — work proportional
    // to bucket collisions, never |corpus|^2 — and candidates are then
    // verified with the exact cosine, so precision is 1.0 by
    // construction. Recall is the LSH collision probability
    // 1-(1-p^4)^4 with p = 1 - theta/pi: ~0.95 at cos 0.9 (the realistic
    // near-dup regime), lower at this corpus's permissive 0.4 threshold —
    // measured and asserted against the exact baseline in SimilaritySpec.
    // The band keys are md5-derived with exact decimal dots, so the
    // approximate result itself is ALSO oracle-checked bit-for-bit.
    QueryDef(
      "sim_embed_neardup",
      (s, dir) => nearDupPairs(s, dir).orderBy("a_id", "b_id"),
      Some(s"""WITH ${nearDupPairsSql()}
               SELECT a_id, b_id, cos FROM epairs ORDER BY a_id, b_id""")),

    // Exact per-label centroids, flattened to (label, dim, centroid, n).
    // Vector mean per group is the building block for IVF training /
    // cluster quality checks; the per-dimension sum goes through DECIMAL
    // so the centroid is identical under any partitioning (float
    // addition order would differ run-to-run), with one double division
    // at the end. One hash shuffle on (label, dim), map-side partials —
    // the same shape at 100 TB.
    QueryDef(
      "emb_centroid",
      (s, dir) =>
        embParallel(s, dir)
          .select(col("label").cast("long").as("label"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy("label", "dim")
          // float -> double is exact in both engines; double ->
          // DECIMAL(38,25) rounds 25 digits below the float's own
          // precision, where both engines see the same binary expansion
          // (a cast straight from FLOAT rounded at 1e-10 and the two
          // engines' float-to-decimal routes disagreed in the 10th digit)
          .agg(
            (sum(col("v").cast("double").cast("decimal(38,25)")).cast("double") /
              count(lit(1)).cast("double")).as("centroid"),
            count(lit(1)).as("n"))
          .select(col("label"), col("dim").cast("long").as("dim"),
            col("centroid"), col("n"))
          .orderBy("label", "dim"),
      // decimal<->double parity: Spark's double->decimal cast quantizes
      // the double's SHORTEST STRING representation (BigDecimal.valueOf),
      // not its binary expansion, and its decimal->double cast rounds
      // correctly once; DuckDB does the opposite on both (binary
      // expansion in, int128*10^-k double-rounding out). Routing both
      // DuckDB conversions through VARCHAR reproduces Spark's semantics
      // exactly (verified bit-exact on all 640 sf0.01 and 640 sf0.1
      // centroid values).
      Some("""SELECT CAST(label AS BIGINT) AS label,
                CAST(i - 1 AS BIGINT) AS dim,
                CAST(CAST(sum(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(38,25))) AS VARCHAR) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS centroid,
                count(*) AS n
              FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) idx
              GROUP BY label, i
              ORDER BY label, dim""")),

    // Embedding drift monitor — the retraining tripwire: per label, the
    // cosine between the centroid of one data half and the other
    // (vec_id parity as the deterministic stand-in for yesterday/today;
    // production keys the halves on an ingest date). Cosine is
    // scale-invariant, so it runs on the SUM vectors directly — no
    // per-dim division — with emb_centroid's bit-exact DECIMAL(38,25)
    // summation recipe, the components then quantized to 2^18 integers
    // (the kmeans discipline) so dot and norms are exact DECIMAL(38,0)
    // folds and the single closing IEEE division is engine-identical.
    // A raw half-vs-half cosine is UNINTERPRETABLE alone: for iid
    // zero-mean vectors E‖Σv‖² = Σ‖v‖², so each half also reports its
    // mean-mass ratio ‖Σv‖²/Σ‖v‖² — ≈1 when the label mean is sampling
    // noise (the cosine is then meaningless and the dashboard must not
    // alarm on it; THIS corpus's labels sit there by construction) and
    // ≫1 when a real mean exists — the null calibration computed from
    // the same exact integer folds, no distributions, no libm. An
    // absent or zero-norm half reports NULL, never a throw. Shape:
    // (label, half, dim)-grain and (label, half)-grain hash aggregates
    // plus a label-grain fold — comparison state is labels × 64 dims
    // regardless of corpus size.
    QueryDef(
      "emb_drift",
      (s, dir) => {
        val d38 = "decimal(38,0)"
        val e = embParallel(s, dir)
          .select(col("label").cast("long").as("label"),
            pmod(col("vec_id"), lit(2L)).as("half"),
            col("vec_id"), col("embedding"))
        val sums = e
          .select(col("label"), col("half"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy("label", "half", "dim")
          .agg(sum(col("v").cast("double").cast("decimal(38,25)")).as("sd"))
          .select(col("label"), col("half"), col("dim"),
            floor(col("sd").cast("double") * 262144.0 + 0.5)
              .cast("long").as("qd"))
        val piv = sums.groupBy("label", "dim").agg(
          max(when(col("half") === 0L, col("qd"))).as("qa"),
          max(when(col("half") === 1L, col("qd"))).as("qb"))
        val folded = piv.groupBy("label").agg(
          sum((col("qa") * col("qb")).cast(d38)).as("dot"),
          sum((col("qa") * col("qa")).cast(d38)).as("n2a"),
          sum((col("qb") * col("qb")).cast(d38)).as("n2b"))
        val cnt = e.groupBy("label").agg(
          sum(when(col("half") === 0L, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("half") === 1L, 1L).otherwise(0L)).as("n_b"))
        // per-half total squared mass Σ‖v‖² on the same 2^18 grid — the
        // null expectation of ‖Σv‖² for iid zero-mean vectors
        val ssq = e
          .select(col("label"), col("half"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("label"), col("half"),
            floor(col("v").cast("double") * 262144.0 + 0.5)
              .cast("long").as("qv"))
          .groupBy("label")
          .agg(
            sum(when(col("half") === 0L,
              (col("qv") * col("qv")).cast(d38)).otherwise(lit(0).cast(d38)))
              .as("ssq_a"),
            sum(when(col("half") === 1L,
              (col("qv") * col("qv")).cast(d38)).otherwise(lit(0).cast(d38)))
              .as("ssq_b"))
        folded.join(cnt, Seq("label")).join(ssq, Seq("label"))
          .select(col("label"), col("n_a"), col("n_b"),
            when(col("ssq_a") === 0, lit(null)).otherwise(
              coalesce(col("n2a"), lit(0).cast(d38)).cast("double") /
                col("ssq_a").cast("double")).as("mean_mass_a"),
            when(col("ssq_b") === 0, lit(null)).otherwise(
              coalesce(col("n2b"), lit(0).cast(d38)).cast("double") /
                col("ssq_b").cast("double")).as("mean_mass_b"),
            when(coalesce(col("n2a"), lit(0)) === 0 ||
                 coalesce(col("n2b"), lit(0)) === 0, lit(null))
              .otherwise(col("dot").cast("double") /
                sqrt(col("n2a").cast("double") * col("n2b").cast("double")))
              .as("drift_cos"))
          .orderBy("label")
      },
      Some("""WITH ex AS (
                SELECT CAST(label AS BIGINT) AS label, vec_id % 2 AS half,
                  i - 1 AS dim,
                  CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR)
                    AS DECIMAL(38,25)) AS v
                FROM embeddings,
                  (SELECT unnest(generate_series(1, 64)) AS i) idx),
              sums AS (
                SELECT label, half, dim,
                  CAST(floor(CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE)
                    * 262144.0 + 0.5) AS BIGINT) AS qd
                FROM ex GROUP BY label, half, dim),
              piv AS (
                SELECT label, dim,
                  max(CASE WHEN half = 0 THEN qd END) AS qa,
                  max(CASE WHEN half = 1 THEN qd END) AS qb
                FROM sums GROUP BY label, dim),
              f AS (
                SELECT label,
                  sum(CAST(qa AS HUGEINT) * qb) AS dot,
                  sum(CAST(qa AS HUGEINT) * qa) AS n2a,
                  sum(CAST(qb AS HUGEINT) * qb) AS n2b
                FROM piv GROUP BY label),
              cnt AS (
                SELECT CAST(label AS BIGINT) AS label,
                  CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
                  CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b
                FROM embeddings GROUP BY label),
              qv AS (
                SELECT CAST(label AS BIGINT) AS label, vec_id % 2 AS half,
                  CAST(floor(CAST(embedding[i] AS DOUBLE)
                    * 262144.0 + 0.5) AS BIGINT) AS qv
                FROM embeddings,
                  (SELECT unnest(generate_series(1, 64)) AS i) idx),
              ssq AS (
                SELECT label,
                  sum(CASE WHEN half = 0
                    THEN CAST(qv AS HUGEINT) * qv ELSE 0 END) AS ssq_a,
                  sum(CASE WHEN half = 1
                    THEN CAST(qv AS HUGEINT) * qv ELSE 0 END) AS ssq_b
                FROM qv GROUP BY label)
              SELECT f.label, cnt.n_a, cnt.n_b,
                CASE WHEN ssq.ssq_a = 0 THEN NULL
                     ELSE CAST(coalesce(f.n2a, 0) AS DOUBLE)
                       / CAST(ssq.ssq_a AS DOUBLE) END AS mean_mass_a,
                CASE WHEN ssq.ssq_b = 0 THEN NULL
                     ELSE CAST(coalesce(f.n2b, 0) AS DOUBLE)
                       / CAST(ssq.ssq_b AS DOUBLE) END AS mean_mass_b,
                CASE WHEN coalesce(f.n2a, 0) = 0 OR coalesce(f.n2b, 0) = 0
                     THEN NULL
                     ELSE CAST(f.dot AS DOUBLE)
                       / sqrt(CAST(f.n2a AS DOUBLE)
                              * CAST(f.n2b AS DOUBLE)) END AS drift_cos
              FROM f JOIN cnt ON cnt.label = f.label
              JOIN ssq ON ssq.label = f.label
              ORDER BY f.label""")),

    // Out-of-distribution score per embedding — the mislabeled/outlier
    // flag a training-data curation loop runs before contrastive
    // training: each vector's cosine to its OWN label's centroid, with
    // the bottom ~5% per label (lowest cosine, vec_id tie-break)
    // flagged. Centroids use emb_centroid's proven bit-exact decimal
    // recipe; the cosine then runs on 2^18-quantized integers (the
    // kmeans discipline) so every aggregate is an exact long sum and
    // the one double division closes it — deterministic under any
    // partitioning, NULL (not a throw) on a zero-norm vector via
    // nullif, asc_nulls_last matching DuckDB's default NULLS LAST.
    // Shape: one (label, dim) centroid aggregate, one (label, dim)
    // equi-join back, one per-vector aggregate, a label-sized broadcast
    // of centroid norms, one per-label rank window.
    QueryDef(
      "emb_ood_score",
      (s, dir) => {
        val dims = embParallel(s, dir).select(col("vec_id"),
          col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("k", "v")))
        val cent = dims.groupBy("label", "k").agg(
          (sum(col("v").cast("double").cast("decimal(38,25)")).cast("double") /
            count(lit(1)).cast("double")).as("c"))
        val q = dims.join(cent, Seq("label", "k"))
          .select(col("vec_id"), col("label"),
            floor(col("v").cast("double") * 262144.0 + 0.5).cast("long")
              .as("xi"),
            floor(col("c") * 262144.0 + 0.5).cast("long").as("ci"))
        val per = q.groupBy("vec_id", "label").agg(
          sum(col("xi") * col("ci")).as("dot_q"),
          sum(col("xi") * col("xi")).as("nv_q"))
        val nc = broadcast(cent.select(col("label"),
            floor(col("c") * 262144.0 + 0.5).cast("long").as("ci"))
          .groupBy("label").agg(sum(col("ci") * col("ci")).as("nc_q")))
        val sc = per.join(nc, "label")
          .select(col("vec_id"), col("label"),
            (col("dot_q").cast("double") /
              nullif(sqrt(col("nv_q").cast("double") *
                col("nc_q").cast("double")), lit(0.0))).as("cos_centroid"))
        val w = Window.partitionBy("label")
          .orderBy(col("cos_centroid").asc_nulls_last, col("vec_id"))
        val wn = Window.partitionBy("label")
        sc.withColumn("rn", row_number().over(w))
          .withColumn("nl", count(lit(1)).over(wn))
          .select(col("vec_id"), col("label"), col("cos_centroid"),
            (col("rn") <= expr("(nl + 19) div 20")).as("ood"))
          .orderBy("vec_id")
      },
      Some("""WITH dims AS (
                SELECT vec_id, CAST(label AS BIGINT) AS label, i - 1 AS k,
                  CAST(embedding[i] AS DOUBLE) AS v
                FROM embeddings,
                     (SELECT unnest(generate_series(1, 64)) AS i) ix),
              cent AS (
                SELECT label, k,
                  CAST(CAST(sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(38,25))) AS VARCHAR) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS c
                FROM dims GROUP BY label, k),
              q AS (
                SELECT d.vec_id, d.label,
                  CAST(floor(d.v * 262144.0 + 0.5) AS BIGINT) AS xi,
                  CAST(floor(c.c * 262144.0 + 0.5) AS BIGINT) AS ci
                FROM dims d JOIN cent c ON c.label = d.label AND c.k = d.k),
              per AS (
                SELECT vec_id, label,
                  CAST(sum(xi * ci) AS BIGINT) AS dot_q,
                  CAST(sum(xi * xi) AS BIGINT) AS nv_q
                FROM q GROUP BY vec_id, label),
              nc AS (
                SELECT label,
                  CAST(sum(CAST(floor(c * 262144.0 + 0.5) AS BIGINT)
                         * CAST(floor(c * 262144.0 + 0.5) AS BIGINT)) AS BIGINT)
                    AS nc_q
                FROM cent GROUP BY label),
              sc AS (
                SELECT p.vec_id, p.label,
                  CAST(p.dot_q AS DOUBLE)
                    / nullif(sqrt(CAST(p.nv_q AS DOUBLE)
                                  * CAST(n.nc_q AS DOUBLE)), 0.0)
                    AS cos_centroid
                FROM per p JOIN nc n ON n.label = p.label),
              r AS (
                SELECT vec_id, label, cos_centroid,
                  row_number() OVER (PARTITION BY label
                    ORDER BY cos_centroid ASC, vec_id) AS rn,
                  count(*) OVER (PARTITION BY label) AS nl
                FROM sc)
              SELECT vec_id, label, cos_centroid,
                rn <= (nl + 19) // 20 AS ood
              FROM r ORDER BY vec_id""")),

    // L2-normalize + int8 quantization, flattened to (vec_id, dim, q) —
    // the storage/transfer compression step in front of ANN serving.
    // Map-only: the norm is one fold per vector (computed once, carried
    // through the explode), and the quantizer uses floor(x + 0.5) so the
    // rounding rule is the same IEEE op in every engine (plain round()
    // differs: half-up in Spark, half-even in DuckDB). No shuffle except
    // the presentation sort.
    QueryDef(
      "emb_quantize",
      (s, dir) =>
        embParallel(s, dir)
          .select(col("vec_id"),
            sqrt(dot(col("embedding"), col("embedding"))).as("nrm"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("vec_id"), col("dim").cast("long").as("dim"),
            floor(lit(127.0) * col("v").cast("double") / col("nrm") + lit(0.5))
              .cast("long").as("q"))
          .orderBy("vec_id", "dim"),
      Some(s"""SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
                 CAST(floor(127.0 * CAST(embedding[i] AS DOUBLE)
                   / sqrt(${dotSql("embedding", "embedding")}) + 0.5) AS BIGINT) AS q
               FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) idx
               ORDER BY vec_id, dim""")),

    // Embedding-health QA scorecard: per-label vector counts, wrong-width
    // vectors, non-finite components, zero-norm vectors, and norm
    // min/mean/max — the validation gate an embedding pipeline runs
    // before an index build ingests a new batch (a NaN that reaches the
    // ANN index poisons every distance it touches). Map-only per-vector
    // checks (one codegen'd fold each: width, non-finite scan, dot) +
    // ONE map-side-combined aggregate on label — the same shape at
    // 100 TB. min/max of doubles are partitioning-independent; the mean
    // routes through DECIMAL(38,25) like emb_centroid so the sum is
    // exact under any partitioning; non-finite = isnan OR |x| beyond
    // float range, the identical predicate on both engines.
    QueryDef(
      "emb_health",
      (s, dir) => {
        val nrm = sqrt(dot(col("embedding"), col("embedding")))
        val nonfinite = exists(col("embedding"), v =>
          isnan(v.cast("double")) ||
            abs(v.cast("double")) > lit(3.4028235e38))
        embParallel(s, dir)
          .select(col("label").cast("long").as("label"),
            size(col("embedding")).as("nd"),
            nonfinite.as("bad"), nrm.as("nrm"))
          .groupBy("label")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("nd") =!= 64, 1L).otherwise(0L)).as("n_bad_dim"),
            sum(when(col("bad"), 1L).otherwise(0L)).as("n_nonfinite"),
            sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
            min(col("nrm")).as("min_norm"),
            (sum(col("nrm").cast("decimal(38,25)")).cast("double") /
              count(lit(1)).cast("double")).as("mean_norm"),
            max(col("nrm")).as("max_norm"))
          .orderBy("label")
      },
      Some(s"""WITH v AS (
                 SELECT CAST(label AS BIGINT) AS label,
                   len(embedding) AS nd,
                   len(list_filter(embedding, x ->
                     isnan(CAST(x AS DOUBLE)) OR
                     abs(CAST(x AS DOUBLE)) > 3.4028235e38)) > 0 AS bad,
                   sqrt(${dotSql("embedding", "embedding")}) AS nrm
                 FROM embeddings)
               SELECT label, count(*) AS n,
                 CAST(sum(CASE WHEN nd != 64 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bad_dim,
                 CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nonfinite,
                 CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero,
                 min(nrm) AS min_norm,
                 CAST(CAST(sum(CAST(CAST(nrm AS VARCHAR) AS DECIMAL(38,25))) AS VARCHAR) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS mean_norm,
                 max(nrm) AS max_norm
               FROM v GROUP BY label ORDER BY label""")),

    // Random-projection dimensionality reduction 64 → 8: project every
    // embedding onto the 8 md5-derived hyperplanes (the same family the
    // LSH bucketer uses, folded to plan-time literal constants so codegen
    // sees plain double arithmetic). This is the standard cheap front-end
    // before ANN — an 8x smaller vector that preserves cosine structure
    // (Johnson-Lindenstrauss). Map-only, zero shuffle before the
    // presentation sort; the left-to-right double fold makes every
    // projection value bit-identical to the DuckDB oracle.
    QueryDef(
      "emb_rand_proj",
      (s, dir) => {
        val projections = (0 until RandProjDims).map { j =>
          aggregate(
            zip_with(col("embedding"),
              array(planeConsts(j).map(lit): _*),
              (v, r) => v.cast("double") * r),
            lit(0.0), (a, x) => a + x)
        }
        embParallel(s, dir)
          .select(col("vec_id"), posexplode(array(projections: _*)).as(Seq("j", "proj")))
          .select(col("vec_id"), col("j").cast("long").as("j"), col("proj"))
          .orderBy("vec_id", "j")
      },
      Some(s"""SELECT vec_id, CAST(j AS BIGINT) AS j,
                 list_reduce(list_transform(list_zip(embedding, range(0, 64)), p ->
                   CAST(p[1] AS DOUBLE) * (((${hash31Sql("concat(CAST(j AS VARCHAR), '_', CAST(p[2] AS VARCHAR))")} % 2001) - 1000) / 1000.0)),
                   (x, y) -> x + y) AS proj
               FROM embeddings, (SELECT unnest(range(0, $RandProjDims)) AS j) js
               ORDER BY vec_id, j""")),

    // Corpus-wide k-NN GRAPH (every vector's top-KnnGraphK neighbors, not
    // just a query set's): candidates from the same banded sign-bit LSH
    // the near-dup pairs use — directed this time (x != y, both
    // orientations), because "a is b's neighbor" is not symmetric once
    // ranked — then exact-cosine re-rank within each source's candidate
    // set. This is the graph SemDeDup-style pipelines and graph-based
    // ANN indexes are built from. Work ∝ band collisions (one equi-join)
    // + one window over the candidate set, never |corpus|^2; vectors
    // whose bands collide with nothing simply have no row, exactly as an
    // index build would treat an isolated point. Band keys are
    // md5-derived with exact decimal dots, so the whole approximate
    // graph is oracle-checked bit-for-bit.
    QueryDef(
      "sim_knn_graph",
      (s, dir) =>
        knnGraphEdges(s, embParallel(s, dir), emb(s, dir))
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("src_id", "rank"),
      Some(s"""WITH $KnnGraphSql
               SELECT src_id, nbr_id, cos, rank FROM knn ORDER BY src_id, rank""")),

    // Graph-based ANN serving — the THIRD index family after
    // hash-bucket LSH (sim_ann_lsh) and coarse-quantizer IVF
    // (sim_ann_ivf): greedy BEAM SEARCH over the corpus k-NN graph,
    // the navigation pattern HNSW/NSW indexes serve with, expressed
    // relationally. Every query starts at one fixed entry point (the
    // corpus min vec_id — HNSW's fixed entry, obtained as a 1-row
    // broadcast aggregate, never a driver round-trip), then
    // GraphSearchRounds synchronous expansions: candidates = beam ∪
    // beam's graph neighbors (one equi-join of the ≤ |Q|·BeamWidth-row
    // beam against the knn edges, beam side broadcast), exact-cosine
    // score against the query, keep the best BeamWidth per query
    // (one row_number window on the tiny candidate set). Scores never
    // change, so a candidate dropped from the beam is dominated
    // forever — by induction the final beam IS the top-BeamWidth of
    // everything visited, and the final top-k (k < BeamWidth) is the
    // true top-k of the visited set. Per-round work is bounded by
    // |Q| x BeamWidth x KnnGraphK candidate rows — corpus size enters
    // only through the graph build (the same band-capped relation as
    // sim_knn_graph, localCheckpointed so 3 rounds scan it once). At
    // 100 TB the graph is a built-once artifact (the ivfIndexDir
    // lifecycle applies verbatim) and serving cost is per-query
    // constant. Band keys, cosine folds, and tie-breaks are all
    // md5/exact-decimal deterministic, so the oracle replays the graph
    // build AND every beam round bit-for-bit.
    QueryDef(
      "sim_ann_graph_search",
      (s, dir) => {
        val e = embParallel(s, dir)
        graphBeamSearch(s, dir, knnGraphEdges(s, e, e).select("src_id", "nbr_id")
          .transform(Tables.materialize)) // all rounds expand against ONE build
      },
      Some(graphSearchSql())),

    // The graph family's SERVED form (r12, adjudication #5 follow-up):
    // sim_ann_graph_search rebuilds the k-NN graph inline on every
    // execution, so its measured wall is ~95% graph BUILD (the band
    // self-join + pairwise cosine over collisions) and only ~5% the
    // beam search the operator exists to demonstrate — the one place
    // the graph family's cost model still diverged from serving, and
    // the root of the operator's 2.6–3.8 s high-variance watch row
    // (12 small re-planned stages riding a rebuilt graph). This form
    // persists the edge relation once per corpus (the ivfIndexDir
    // build-once/save/load lifecycle verbatim) and serves every query
    // from the loaded parquet: measured passes price pure navigation —
    // the per-query constant cost a serving fleet actually pays.
    // Results are bit-identical to the inline form (same oracle).
    QueryDef(
      "sim_ann_graph_served",
      (s, dir) => {
        val idx = knnIndexDir(s, dir)
        val knn = s.read.schema("src_id BIGINT, nbr_id BIGINT")
          .parquet(s"$idx/edges")
        graphBeamSearch(s, dir, knn)
      },
      Some(graphSearchSql())),

    // Top principal direction by QUANTIZED power iteration — the "what
    // axis does this corpus vary along" pass (PCA top component) done
    // Spark-shaped: each of the 3 iterations is one map pass (per-row
    // dot with the broadcast direction, folded left-to-right in double)
    // plus one (dim)-keyed aggregation of 2^18-quantized INTEGER
    // products summed in DECIMAL(38,0) — exact in any engine, immune to
    // float summation order, overflow-free (DuckDB's BIGINT sum widens,
    // Spark's wraps — decimal sums sidestep the difference). The 64
    // per-dimension totals come back to the driver (bounded: one row per
    // dimension, never corpus-sized), are normalized with a fixed fold
    // order, and feed the next iteration as plan-time literals. The
    // oracle replays all 3 iterations in chained CTEs, bit-for-bit.
    QueryDef(
      "emb_pca_power",
      (s, dir) => {
        val Q = 262144.0 // 2^18 quantization of both factors
        val e = embParallel(s, dir).select("vec_id", "embedding")
          .transform(Tables.materialize) // 3 iterations re-read the corpus; scan once
        var v = Array.fill(64)(0.125) // deterministic unit start: 1/sqrt(64)
        for (_ <- 0 until 3) {
          val vCol = array(v.map(lit): _*)
          val sDot = aggregate(
            zip_with(col("embedding"), vCol, (x, w) => x.cast("double") * w),
            lit(0.0), (a, x) => a + x)
          val u = e.select(
              floor(sDot * Q + 0.5).cast("long").as("si"),
              posexplode(col("embedding")).as(Seq("k", "x")))
            .select(col("k"),
              (col("si") * floor(col("x").cast("double") * Q + 0.5).cast("long"))
                .cast("decimal(38,0)").as("p"))
            .groupBy("k").agg(sum(col("p")).cast("double").as("u"))
            .orderBy("k").collect().map(_.getDouble(1))
          val norm = math.sqrt(u.map(x => x * x).sum)
          v = u.map(_ / norm)
        }
        import s.implicits._
        v.zipWithIndex.map { case (w, k) => (k.toLong, w) }.toSeq
          .toDF("dim", "weight").orderBy("dim")
      },
      Some(PcaPowerOracleSql)),

    // The IVF recall/cost CURVE — the table an engineer actually reads
    // when setting nprobe: one row per probe count with macro recall@k
    // against exact brute force AND the true scan cost (candidates
    // touched, counted from the IDENTICAL candidate relation the search
    // ranks — ivfCandidatesFor feeds both, so the cost shown is the
    // cost paid). Same scorecard discipline as sim_ann_recall /
    // dedup_eval: sub-pipelines are the registry's own building blocks
    // re-invoked, every count exact, one IEEE division per row. Shape:
    // the exact side is the gated NumQueries broadcast join; each leg
    // adds one inverted-list equi-join (work ∝ probed-list sizes) and
    // three 1-row aggregates combined by broadcast.
    QueryDef(
      "sim_ivf_tradeoff",
      (s, dir) => {
        val exact = exactTopK(s, dir).transform(Tables.materialize)
        val queries = probeRows(embParallel(s, dir))
        // ONE corpus assignment pass shared by every nprobe leg (r13,
        // verdict task #4): ivfCandidatesFor builds the N·√N
        // ivfAssignTop1 per call, so the 2-leg sweep paid the
        // quantizer twice — the dominant real cost after the r12 √N
        // rewrite. The assignment is leg-invariant (only the QUERY
        // probe count varies), so hoisting it is lossless.
        val centroids = ivfCentroids(s, dir)
        val assigned =
          ivfAssignTop1(s, embParallel(s, dir), broadcast(centroids))
        def leg(nprobe: Int): DataFrame = {
          val cand = ivfCandidatesOn(s, nprobe, queries, centroids, assigned)
            .transform(Tables.materialize) // feeds both the top-k and the cost count
          val hits = hitsOf(exact, topKOf(cand)).agg(count(lit(1)).as("n_hit"))
          val nCand = cand.agg(count(lit(1)).as("n_candidates"))
          exact.agg(count(lit(1)).as("n_exact"))
            .crossJoin(broadcast(hits)).crossJoin(broadcast(nCand))
            .select(lit(nprobe.toLong).as("nprobe"), col("n_exact"),
              col("n_hit"), col("n_candidates"),
              // nullif: empty corpus -> n_exact=0; NULL recall matches
              // DuckDB's /0 (Spark-4 ANSI would throw; degenerate r8)
              (col("n_hit").cast("double") /
                nullif(col("n_exact").cast("double"), lit(0.0)))
                .as("recall"))
        }
        Nprobes.map(leg).reduce(_ union _).orderBy("nprobe")
      },
      Some(IvfTradeoffOracleSql)),

    // Recall against PLANTED ground truth (round-12 verdict task #1,
    // the dedup_planted_recall recipe applied to vectors): the
    // clustered CorpusGen mode plants near-neighbor provenance IN-BAND
    // — a planted perturbed copy's vec_id is PlantBase + src_id, so
    // ground truth is recoverable from the data alone, by ANY
    // evaluator, with no generator-seed knowledge. This scores the
    // registry's three candidate-generation scale paths — did the
    // bucketed/probed generator co-locate the pairs we KNOW are
    // nearest neighbors? One row per method: the corpus-scaled-plane
    // LSH home bucket (sim_ann_lsh's generator), its ≤1-bit multiprobe
    // surface (sim_ann_lsh_multiprobe's — the row that stays flat as
    // planes scale, r13), and the IVF inverted lists at
    // nprobe=1/2 (sim_ann_ivf's). sim_ann_recall scores ANN against
    // brute force on 10 FIXED queries; this is corpus-wide recall
    // against an independent, generator-planted answer key — the
    // number that was previously only measurable on uniform-sphere
    // vectors where every cell is equidistant and the knob degenerate.
    // On corpora without planted ids truth is empty and the
    // zero-convention rows document that. Shape: the bucket/assignment
    // pipelines are the registry's own building blocks (bucketCol,
    // ivfCentroids/ivfAssign — single definition, can't drift);
    // truth is ~5% of corpus rows; every probe is a vec_id- or
    // list-keyed equi-join; the close is three 1-row broadcast
    // aggregates. No all-pairs anything.
    QueryDef(
      "sim_planted_recall",
      (s, dir) => {
        val e = embParallel(s, dir)
        val truth = e.filter(col("vec_id") >= PlantBase)
          .select((col("vec_id") - PlantBase).as("src"),
            col("vec_id").as("dup"))
          .transform(Tables.materialize)
        val buck = e
          .withColumn("bucket", bucketColFor(planesOf(s, dir)).cast("long"))
          .select("vec_id", "bucket")
        // arn <= 2 covers both nprobe legs from ONE assignment pass.
        // Assignment input is RESTRICTED to the rows the scorecard
        // touches (truth dups + their sources, ~10% of the corpus) via
        // one id semi-join BEFORE the window: per-row centroid ranks
        // are row-local, so filtering first is lossless — and it keeps
        // the arn<=2 window (which cannot map-side combine) off the
        // full N x sqrt(N) scored relation (r12 assignment-shuffle fix)
        val involved = truth.select(col("src").as("vec_id"))
          .unionAll(truth.select(col("dup").as("vec_id")))
        val ranked = ivfAssign(s,
            e.join(involved, Seq("vec_id"), "left_semi"),
            broadcast(ivfCentroids(s, dir)))
          .filter(col("arn") <= 2).select("vec_id", "c_id", "arn")
          .transform(Tables.materialize)
        val nTruth = truth.agg(count(lit(1)).as("n_truth"))
        // one bucket join feeds BOTH lsh rows: home-bucket equality
        // (sim_ann_lsh's generator) and the ≤1-bit multiprobe surface
        // (sim_ann_lsh_multiprobe's — a pair is reachable iff the two
        // buckets differ in at most one plane bit). The probe1 row is
        // the one that stays flat under corpus-scaled planes (r13):
        // per-pair home-bucket collision decays ~1.5%/plane, while
        // home+1-flip absorbs exactly the single-plane flips that
        // dominate that loss.
        val bucketPairs = truth
          .join(buck.select(col("vec_id").as("dup"),
            col("bucket").as("bd")), "dup")
          .join(buck.select(col("vec_id").as("src"),
            col("bucket").as("bs")), "src")
          .transform(Tables.materialize)
        val lshHit = bucketPairs
          .filter(col("bd") === col("bs"))
          .agg(count(lit(1)).as("n_hit"))
        val probe1Hit = bucketPairs
          .filter(expr("bit_count(bd ^ bs) <= 1"))
          .agg(count(lit(1)).as("n_hit"))
        val srcList = ranked.filter(col("arn") === 1)
          .select(col("vec_id").as("src"), col("c_id").as("src_list"))
        val iv = truth.join(srcList, "src")
          .join(ranked.select(col("vec_id").as("dup"),
            col("c_id").as("probe"), col("arn")), "dup")
          .groupBy("dup")
          .agg(
            max(when(col("arn") === 1 && col("probe") === col("src_list"),
              1L).otherwise(0L)).as("h1"),
            max(when(col("probe") === col("src_list"), 1L).otherwise(0L))
              .as("h2"))
          .transform(Tables.materialize)
        def row(m: String, hits: DataFrame) =
          nTruth.crossJoin(broadcast(hits))
            .select(lit(m).as("method"), col("n_truth"), col("n_hit"),
              when(col("n_truth") === 0, lit(0.0))
                .otherwise(col("n_hit").cast("double") /
                  col("n_truth").cast("double")).as("recall"))
        row("ivf_nprobe1",
            iv.agg(coalesce(sum("h1"), lit(0L)).cast("long").as("n_hit")))
          .unionAll(row("ivf_nprobe2",
            iv.agg(coalesce(sum("h2"), lit(0L)).cast("long").as("n_hit"))))
          .unionAll(row("lsh_bucket", lshHit))
          .unionAll(row("lsh_probe1", probe1Hit))
          .orderBy("method")
      },
      Some(s"""WITH $IvfRankedSql,
        $BucketedSql,
        truth AS (SELECT vec_id - $PlantBase AS src, vec_id AS dup
                  FROM embeddings WHERE vec_id >= $PlantBase),
        bp AS (SELECT t.dup, bd.bucket AS bdb, bs.bucket AS bsb
               FROM truth t
               JOIN b bd ON bd.vec_id = t.dup
               JOIN b bs ON bs.vec_id = t.src),
        lsh AS (SELECT dup FROM bp WHERE bdb = bsb),
        lshp1 AS (SELECT dup FROM bp
                  WHERE bit_count(xor(bdb, bsb)) <= 1),
        sl AS (SELECT vec_id, c_id AS src_list FROM ranked WHERE arn = 1),
        iv AS (SELECT t.dup,
                 max(CASE WHEN r.arn = 1 AND r.c_id = s.src_list
                     THEN 1 ELSE 0 END) AS h1,
                 max(CASE WHEN r.c_id = s.src_list THEN 1 ELSE 0 END) AS h2
               FROM truth t
               JOIN sl s ON s.vec_id = t.src
               JOIN ranked r ON r.vec_id = t.dup AND r.arn <= 2
               GROUP BY t.dup),
        c AS (SELECT
                (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
                (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS lsh_hit,
                (SELECT CAST(count(*) AS BIGINT) FROM lshp1) AS lshp1_hit,
                (SELECT CAST(coalesce(sum(h1), 0) AS BIGINT) FROM iv)
                  AS iv1_hit,
                (SELECT CAST(coalesce(sum(h2), 0) AS BIGINT) FROM iv)
                  AS iv2_hit)
        SELECT method, n_truth, n_hit,
          CASE WHEN n_truth = 0 THEN 0.0
            ELSE CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
            END AS recall
        FROM (
          SELECT 'ivf_nprobe1' AS method, n_truth, iv1_hit AS n_hit FROM c
          UNION ALL SELECT 'ivf_nprobe2', n_truth, iv2_hit FROM c
          UNION ALL SELECT 'lsh_bucket', n_truth, lsh_hit FROM c
          UNION ALL SELECT 'lsh_probe1', n_truth, lshp1_hit FROM c)
        ORDER BY method"""))
  )

  /** The fixed query set every search here probes with: the rows of `e`
    * with vec_id < NumQueries (10 — never all-pairs). */
  private def probeRows(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NumQueries)

  /** The query set as (vec_id, embedding): the input of ivfSearchFor,
    * the served IVF and CosineTopKOp; StreamOps.streamAnnProbe streams
    * it. */
  private[graft] def queriesOf(e: DataFrame): DataFrame =
    probeRows(e).select("vec_id", "embedding")

  /** The query set keyed for a join against the corpus: (q_id, q_emb),
    * then the `extra` columns of `e`. */
  private def keyedQueriesOf(e: DataFrame, extra: Column*): DataFrame =
    probeRows(e).select(
      Seq(col("vec_id").as("q_id"), col("embedding").as("q_emb")) ++ extra: _*)

  /** DuckDB mirror of [[keyedQueriesOf]]: a SELECT of the query set of
    * relation `from` as (q_id, q_emb) and the `extra` select items. */
  private def queriesSql(from: String = "embeddings", extra: String = ""): String =
    s"SELECT vec_id AS q_id, embedding AS q_emb$extra FROM $from WHERE vec_id < $NumQueries"

  /** Per-query cosine top-k of a candidate relation (q_id, `id`, cos,
    * ...): each q_id's TopK rows by (cos DESC, `id`), with their long
    * `rank` from 1. */
  private def rankTopK(cand: DataFrame, id: String = "vec_id"): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col(id))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
  }

  /** [[rankTopK]] ordered by (q_id, rank): the result of every search. */
  private def topKOf(cand: DataFrame): DataFrame =
    rankTopK(cand).orderBy("q_id", "rank")

  /** DuckDB mirror of [[rankTopK]] over the relation `cand`: a
    * parenthesized relation with every column of `cand` and `rank`. */
  private def topKSql(cand: String, id: String = "vec_id"): String =
    s"""(SELECT * FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                                            ORDER BY cos DESC, $id) AS BIGINT) AS rank
          FROM $cand) WHERE rank <= $TopK)"""

  /** The exact side of every recall scorecard: sim_topk_bruteforce's
    * (q_id, vec_id). */
  private def exactTopK(s: SparkSession, dir: String): DataFrame =
    graft.Registry.byName("sim_topk_bruteforce").run(s, dir)
      .select(col("q_id"), col("vec_id"))

  /** DuckDB mirror of sim_topk_bruteforce: CTE `exact` (q_id, vec_id,
    * cos, rank). */
  private lazy val ExactTopKSql: String =
    s"""exact AS (SELECT * FROM ${topKSql(
          s"""(SELECT q_id, vec_id, ${cosineSql("q_emb", "embedding")} AS cos
               FROM (${queriesSql()}) qv, embeddings WHERE vec_id != q_id)""")})"""

  /** The oracle of both exact top-k forms, window and custom operator. */
  private lazy val ExactOracleSql: String =
    s"""WITH $ExactTopKSql
        SELECT q_id, vec_id, cos, rank FROM exact ORDER BY q_id, rank"""

  /** DuckDB mirror of sim_ann_lsh's candidates: [[BucketedSql]]'s `b`,
    * then `lshcand` (q_id, vec_id, bucket, cos), every query against
    * its home bucket. */
  private lazy val LshCandidatesSql: String =
    s"""$BucketedSql,
        lshcand AS (
          SELECT q.q_id, b.vec_id, b.bucket,
            ${cosineSql("q.q_emb", "b.embedding")} AS cos
          FROM b JOIN (${queriesSql("b", ", bucket")}) q
            ON b.bucket = q.bucket AND b.vec_id != q.q_id)"""

  /** The rows of `exact` (q_id, vec_id) that `approx` also holds: the
    * hit join of every recall scorecard. */
  private def hitsOf(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.join(approx.select(col("q_id").as("a_qid"), col("vec_id").as("a_vid")),
      col("q_id") === col("a_qid") && col("vec_id") === col("a_vid"), "left_semi")

  /** DuckDB mirror of [[hitsOf]] over the relations `exact` and `approx`. */
  private def hitsSql(exact: String, approx: String): String =
    s"""SELECT e.q_id FROM $exact e JOIN $approx a
        ON e.q_id = a.q_id AND e.vec_id = a.vec_id"""

  /** Per-query recall of `approx` against `exact`, both (q_id, vec_id):
    * (q_id, `nExact`, n_hit, `recall`), ordered by q_id. Every count is
    * exact; the recall division is the one IEEE op. */
  private def recallScorecard(exact: DataFrame, approx: DataFrame,
      nExact: String, recall: String): DataFrame = {
    val hits = hitsOf(exact, approx).groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("q_id").agg(count(lit(1)).as(nExact))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col(nExact),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col(nExact).cast("double")).as(recall))
      .orderBy("q_id")
  }

  /** DuckDB mirror of [[recallScorecard]]: the closing SELECT over the
    * relations `exact` and `approx`. */
  private def recallSql(exact: String, approx: String,
      nExact: String, recall: String): String =
    s"""SELECT e.q_id, CAST(count(*) AS BIGINT) AS $nExact,
          COALESCE(any_value(h.n_hit), 0) AS n_hit,
          CAST(COALESCE(any_value(h.n_hit), 0) AS DOUBLE) /
            CAST(count(*) AS DOUBLE) AS $recall
        FROM $exact e LEFT JOIN (
          SELECT q_id, CAST(count(*) AS BIGINT) AS n_hit
          FROM (${hitsSql(exact, approx)}) GROUP BY q_id) h ON e.q_id = h.q_id
        GROUP BY e.q_id ORDER BY e.q_id"""

  /** The probe counts the tradeoff curve sweeps — ONE list shared by the
    * Spark legs and the oracle generator (legs, the candidate CTEs and
    * the closing union are all derived from it), so extending the sweep
    * cannot silently truncate the oracle's probed lists (round-5
    * advice). */
  private lazy val Nprobes: Seq[Int] = Seq(1, 2)

  /** DuckDB replay of the nprobe sweep: the exact top-k and one
    * candidates/ann/leg CTE triple per probe count, from the same SQL as
    * sim_topk_bruteforce's and sim_ann_ivf's oracles, so the probed
    * lists can never drift from what sim_ann_ivf itself searches. */
  private lazy val IvfTradeoffOracleSql: String = {
    val legs = Nprobes.map { np =>
      s"""ann$np AS (SELECT q_id, vec_id FROM ${topKSql(s"cand$np")}),
          leg$np AS (
            SELECT CAST($np AS BIGINT) AS nprobe,
              (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
              (SELECT CAST(count(*) AS BIGINT) FROM (${hitsSql("exact", s"ann$np")}))
                AS n_hit,
              (SELECT CAST(count(*) AS BIGINT) FROM cand$np)
                AS n_candidates)"""
    }.mkString(",\n")
    s"""WITH $ExactTopKSql,
          ${ivfCandidatesSql(Nprobes)},
          $legs,
          u AS (${Nprobes.map(np => s"SELECT * FROM leg$np")
            .mkString(" UNION ALL ")})
        SELECT nprobe, n_exact, n_hit, n_candidates,
          CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
        FROM u ORDER BY nprobe"""
  }

  /** DuckDB replay of the 3 quantized power iterations (same folds, same
    * integer quantization, same decimal sums) — built programmatically so
    * the Spark loop and the SQL can never disagree on iteration count. */
  private lazy val PcaPowerOracleSql: String = {
    val iters = (1 to 3).map { i =>
      val vList =
        if (i == 1) "list_transform(range(0, 64), z -> 0.125)"
        else s"(SELECT list(v ORDER BY k) FROM v${i - 1})"
      s"""s$i AS (
            SELECT vec_id,
              list_reduce(list_transform(list_zip(embedding, $vList),
                p -> CAST(p[1] AS DOUBLE) * p[2]), (a, b) -> a + b) AS sdot
            FROM embeddings),
          u$i AS (
            SELECT d.k,
              CAST(sum(CAST(CAST(floor(s$i.sdot * 262144.0 + 0.5) AS BIGINT)
                * d.xi AS DECIMAL(38,0))) AS DOUBLE) AS u
            FROM dims d JOIN s$i ON s$i.vec_id = d.vec_id
            GROUP BY d.k),
          n$i AS (
            SELECT sqrt(list_reduce(list_transform(
              (SELECT list(u ORDER BY k) FROM u$i), z -> z * z),
              (a, b) -> a + b)) AS nrm FROM (SELECT 1)),
          v$i AS (SELECT k, u / (SELECT nrm FROM n$i) AS v FROM u$i)"""
    }.mkString(",\n")
    s"""WITH dims AS (
          SELECT vec_id, i - 1 AS k,
            CAST(floor(CAST(embedding[i] AS DOUBLE) * 262144.0 + 0.5) AS BIGINT) AS xi
          FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) idx),
        $iters
        SELECT CAST(k AS BIGINT) AS dim, v AS weight
        FROM v3 ORDER BY dim"""
  }

  /** IVF top-k with a tunable probe count: vectors are assigned to their
    * single nearest centroid list (arn = 1); each query searches its
    * `nprobe` nearest lists. nprobe = 1 reproduces sim_ann_ivf exactly;
    * higher values trade one more broadcast-join probe per query for
    * recall — the candidate side is still partitioned by list, so the
    * 100 TB shape (broadcast centroids + one equi-join) is unchanged. */
  private def ivfTopK(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    ivfSearchFor(s, dir, nprobe, queriesOf(embParallel(s, dir)))

  /** Centroid assignment with rank: every caller (inline build, saved-
    * index build, query routing at serve time) runs THESE expressions,
    * so an index built-and-saved is bit-identical to the inline
    * computation by construction. */
  private def ivfAssign(s: SparkSession, df: DataFrame,
      centroids: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_cos").desc, col("c_id"))
    df.join(centroids)
      .select(col("vec_id"), col("embedding"),
        col("c_id"), CosineSimilarity(s, col("embedding"), col("c_emb")).as("c_cos"))
      .withColumn("arn", row_number().over(wAssign))
  }

  /** CORPUS-side rank-1 assignment as a THIN partial-aggregated argmax
    * (r12): the window form shuffled and sorted the full vec × centroid
    * scored relation CARRYING THE EMBEDDING — N·√N rows × ~300 B
    * (≈ 114 GB at the clustered sf10: 525 k × 725 centroids — measured
    * 710–728 s, all in the fat sort). Two changes: (a) the scored
    * relation is projected down to (vec_id, c_id, c_cos) BEFORE any
    * wide operator, so the N·√N stream is 24 B/row (~9 GB at sf10) and
    * the chosen embedding joins back at N-row cost afterwards; (b) the
    * argmax is max_by over (c_cos, −c_id) — its struct ordering buffer
    * compiles to a partial-then-final SortAggregate, so only N rows
    * cross the exchange, and the ordering replays the window's
    * (c_cos DESC, c_id ASC) tie-break exactly (c_id unique → total
    * order → deterministic; same oracle). Queries keep the window form
    * (they need arn ≤ nprobe and are NumQueries-sized). */
  private def ivfAssignTop1(s: SparkSession, df: DataFrame,
      centroids: DataFrame): DataFrame = {
    // (r14 note: carrying the embedding THROUGH the aggregate with
    // first() was tried and measured WORSE — the checkpoint then
    // stores the full vector payload and the partial-agg rows widen by
    // 64 floats; the thin-assignment + join-back shape below is the
    // faster one. Kept as-is.)
    val thin = df.join(centroids)
      .select(col("vec_id"), col("c_id"),
        CosineSimilarity(s, col("embedding"), col("c_emb")).as("c_cos"))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"),
        struct(col("c_cos"), (lit(0L) - col("c_id")).as("nid")))
        .as("list_id"))
      // materialize the N-row assignment ONCE: downstream sort-sampling
      // and join planning otherwise re-execute the N·√N scoring subtree
      // 2–3× inside one query (measured 264 s vs 83 s for the aggregate
      // itself at the clustered sf10)
      .transform(Tables.materialize)
    thin.join(df.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("list_id"))
  }

  /** The deterministic centroid sample (c_id, c_emb) — the index's
    * coarse quantizer. */
  private def ivfCentroids(s: SparkSession, dir: String): DataFrame = {
    val e = embParallel(s, dir)
    // √N stride (see CentStrideSql)
    e.filter(col("vec_id") % centStride(Tables.rowCount(s, dir, "embeddings")) === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
  }

  /** Search given a (possibly LOADED) index: corpus-side inverted lists
    * (vec_id, embedding, list_id) + centroids for query routing. Query
    * assignment always runs at serve time — the index persists corpus
    * state, never query state. */
  private def ivfCandidatesOn(s: SparkSession, nprobe: Int,
      queries: DataFrame, centroids: DataFrame,
      assigned: DataFrame): DataFrame = {
    val q = broadcast(
      ivfAssign(s, queries, broadcast(centroids)).filter(col("arn") <= nprobe)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("c_id").as("list_id")))
    assigned.join(q, Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("list_id").cast("long"),
        CosineSimilarity(s, col("q_emb"), col("embedding")).as("cos"))
  }

  /** The scanned (query, candidate, cos) relation at the given probe
    * count — everything ivfSearchFor does except the closing top-k, so
    * the tradeoff scorecard can count the TRUE cost (candidates scanned)
    * of each nprobe setting from the identical plan. */
  private[graft] def ivfCandidatesFor(s: SparkSession, dir: String,
      nprobe: Int, queries: DataFrame): DataFrame = {
    val centroids = ivfCentroids(s, dir)
    val assigned = ivfAssignTop1(s, embParallel(s, dir), broadcast(centroids))
    ivfCandidatesOn(s, nprobe, queries, centroids, assigned)
  }

  /** Build-once/save/load lifecycle for the IVF index (round-7 verdict
    * task #5): a real serving pipeline builds the index ONE time,
    * persists it, and answers every query from the saved artifact — the
    * inline registry entries above recompute it per query, which is the
    * one place the ANN family's cost model diverged from serving. The
    * index is two parquet relations (the q_zorder_layout write-then-read
    * discipline): centroids/ (k rows — the coarse quantizer) and
    * lists/ (corpus rows keyed by list_id — the inverted lists, written
    * PARTITIONED BY list_id so a served probe reads only its own
    * lists' files, the on-disk analog of the list-keyed equi-join). At
    * 100 TB the build is one assignment pass; refresh = rebuild into a
    * new dir and swap the path, which the memo does once the embeddings
    * files change (sim_ann_ivf_refresh). */
  private[graft] def ivfIndexDir(s: SparkSession, dir: String): String =
    Tables.memo(dir, "embeddings", "ivf_index") {
      val p = graft.jvmScratchDir("graft_ivf_index")
      val centroids = ivfCentroids(s, dir)
      // from the scan's own partitions: funnelling the √N rows into one
      // file would run the whole scan and its stride filter in one task
      centroids.write.mode("overwrite").parquet(s"$p/centroids")
      // an explicit partition count, which AQE does not coalesce: the
      // lists are written from every core, one file per list
      ivfAssignTop1(s, embParallel(s, dir), broadcast(centroids))
        .repartition(s.sparkContext.defaultParallelism, col("list_id"))
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$p/lists")
      p.toString
    }

  /** Search the SAVED index: loads centroids + inverted lists from
    * parquet (first call per corpus builds and saves them) and routes
    * the queries against the loaded frames — no corpus-side recompute. */
  private[graft] def ivfServedTopK(s: SparkSession, dir: String,
      nprobe: Int, queries: DataFrame): DataFrame = {
    val idx = ivfIndexDir(s, dir)
    // explicit schemas: the index layout is OURS, so serving never
    // depends on footer inference — and an index built from an EMPTY
    // corpus (no part files at all under the partitioned lists/) still
    // reads back as a typed empty relation (degenerate sweep, r8)
    val centroids = s.read.schema("c_id BIGINT, c_emb ARRAY<FLOAT>")
      .parquet(s"$idx/centroids")
    // partitionBy writes list_id as a directory key; restore the long
    // type and column order the search expects
    val assigned = s.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, list_id BIGINT")
      .parquet(s"$idx/lists")
      .select(col("vec_id"), col("embedding"),
        col("list_id").cast("long").as("list_id"))
    topKOf(ivfCandidatesOn(s, nprobe, queries, centroids, assigned))
  }

  /** The IVF search against the static corpus index for an ARBITRARY
    * query frame (vec_id, embedding): centroid assignment runs the
    * identical scoring expressions on the query side, so the searched
    * lists match what corpus-side assignment would produce — the batch
    * registry entries pass a corpus slice, the streaming probe
    * (StreamOps.streamAnnProbe) passes each micro-batch. Queries
    * broadcast; the corpus is touched once per call through the
    * list-keyed equi-join. */
  private[graft] def ivfSearchFor(s: SparkSession, dir: String,
      nprobe: Int, queries: DataFrame): DataFrame =
    topKOf(ivfCandidatesFor(s, dir, nprobe, queries))

  /** DuckDB mirror of ivfCentroids + ivfAssign over the corpus: CTEs
    * `cent` (c_id, c_emb), `scored` and the thin `ranked` (vec_id, c_id,
    * arn), every vector's centroids ranked by (c_cos DESC, c_id) — the
    * order ivfAssignTop1's argmax replays. */
  private lazy val IvfRankedSql: String =
    s"""cent AS (SELECT vec_id AS c_id, embedding AS c_emb
                 FROM embeddings WHERE vec_id % $CentStrideSql = 0),
        scored AS (SELECT e.vec_id, cent.c_id,
                     ${cosineSql("e.embedding", "cent.c_emb")} AS c_cos
                   FROM embeddings e, cent),
        ranked AS (
          SELECT vec_id, c_id,
            row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS arn
          FROM scored)"""

  /** DuckDB mirror of ivfCandidatesFor: [[IvfRankedSql]]'s CTEs, then
    * `assigned` (vec_id, embedding, list_id), every corpus row `e` that
    * satisfies `keep` in its nearest list, and for each probe count np
    * `cand<np>` (q_id, vec_id, list_id, cos): every query against the
    * lists of its np nearest centroids. */
  private def ivfCandidatesSql(nprobes: Seq[Int], keep: String = "TRUE"): String = {
    val cands = nprobes.map { np =>
      s"""cand$np AS (
            SELECT q.q_id, a.vec_id, a.list_id,
              ${cosineSql("q.q_emb", "a.embedding")} AS cos
            FROM assigned a JOIN (
              SELECT qv.q_id, qv.q_emb, r.c_id AS list_id
              FROM (${queriesSql()}) qv JOIN ranked r ON r.vec_id = qv.q_id
              WHERE r.arn <= $np) q
              ON a.list_id = q.list_id AND a.vec_id != q.q_id)"""
    }
    s"""$IvfRankedSql,
        assigned AS (
          SELECT r.vec_id, e.embedding, r.c_id AS list_id
          FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id
          WHERE r.arn = 1 AND $keep),
        ${cands.mkString(",\n")}"""
  }

  /** DuckDB mirror of ivfTopK at the given probe count, over the corpus
    * rows `e` that satisfy `keep`. */
  private[graft] def ivfOracleSql(nprobe: Int, keep: String = "TRUE"): String =
    s"""WITH ${ivfCandidatesSql(Seq(nprobe), keep)}
        SELECT q_id, vec_id, CAST(list_id AS BIGINT) AS list_id, cos, rank
        FROM ${topKSql(s"cand$nprobe")} ORDER BY q_id, rank"""

  /** Viral-bucket cap for the banded-LSH SELF-join paths (near-dup
    * candidates, knn graph). The r8 sf1 growth run measured the uncapped
    * band join at e≈2.0: with 4-bit bands (16 bucket values) a uniform
    * corpus puts N/16 vectors in EVERY bucket, so the self-join is
    * N²/16 coincidence pairs — none of which survive the exact-cosine
    * verify. A bucket beyond the cap carries ~zero discrimination
    * signal (the same argument as MaxShingleDF / CdcMaxChunkDf, the
    * suite's other generators' caps); true near-dup pairs lost with a
    * dropped bucket re-collide in another band when buckets are sized
    * sanely — and production sizes them by raising numPlanes (the
    * bandKeys knob). Cap = 1000: far above every healthy bucket at the
    * gate/bench scales (~31 at sf0.01, ~312 at sf0.1 — hashes
    * unchanged), below the sf1 coincidence floor (~3125). The oracle
    * replays the cap (bandkept CTE). `final val` (compile-time
    * constant): this object initializes `defs` FIRST, so a plain val
    * declared here would still be 0 when the oracle strings interpolate
    * it — the round-7 "lazy val below defs" gotcha, Int edition. */
  private[graft] final val BandBucketCap = 1000

  /** The bucket key of [[bandKeys]]' rows. */
  private val BandKey = Seq("band", "band_val")

  /** (a_id, b_id, cos): embedding-cosine near-duplicate pairs above
    * NearDupThreshold via banded LSH candidates + exact-cosine
    * verification — the body of sim_embed_neardup, exposed so the
    * multi-generator cluster collapse (Dedup.dedup_cluster_multi) can
    * union these pairs with the text-based candidate generators. */
  private[graft] def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    // band keys materialized ONCE (r14): the banded frame feeds the
    // viral-bucket aggregate, the anti-join, and BOTH self-join sides —
    // without the checkpoint the N×1024-row plane aggregation ran ~4x
    // per query (sim_embed_neardup, emb_dbscan, dedup_cluster_multi all
    // ride this generator). At scale the checkpointed relation is
    // (vec_id, band, band_val) — 16 slim rows per vector, no payload.
    val bands = Tables.materialize(bandKeys(embParallel(s, dir)))
    // kept stays lazy: it is a broadcast anti-join PROJECTION of the
    // materialized bands — recomputing it per self-join side is a block
    // read, cheaper than a second eager barrier (r14 measured)
    val kept = Dedup.dropViral(bands, BandKey, BandBucketCap)
    val cand = Dedup.bucketPairs(kept, "vec_id", BandKey).distinct()
    val e = emb(s, dir)
    cand
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")), Seq("a_id"))
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        CosineSimilarity(s, col("a_emb"), col("b_emb")).as("cos"))
      .filter(col("cos") >= NearDupThreshold)
  }

  /** DuckDB mirror of nearDupPairs: CTE list producing epairs(a_id,
    * b_id, cos) — the same banded-LSH candidates + exact-cosine verification.
    * Compose after bandKeysSql's CTEs. */
  private[graft] def nearDupPairsSql(): String =
    s"""${bandKeysSql()},
        ecand AS (
          SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
          FROM bandkept x JOIN bandkept y
            ON x.band = y.band AND x.band_val = y.band_val
             AND x.vec_id < y.vec_id),
        epairs AS (
          SELECT * FROM (
            SELECT c.a_id, c.b_id,
              ${cosineSql("a.embedding", "b.embedding")} AS cos
            FROM ecand c
            JOIN embeddings a ON a.vec_id = c.a_id
            JOIN embeddings b ON b.vec_id = c.b_id)
          WHERE cos >= $NearDupThreshold)"""

  /** (vec_id, band, band_val): banded sign-bit LSH keys on the whole-
    * stage-codegen path — explode dimensions, broadcast-join the
    * deterministic hyperplane components, aggregate per-plane dots, then
    * pack each band's 4 sign bits.
    *
    * Numeric contract: the per-plane dot is sum(v_decimal * n) with
    * v_decimal = the double-widened float quantized through its shortest
    * string representation to DECIMAL(30,20) and n an INTEGER hyperplane
    * component in [-1000, 1000] from the md5-based hash31 of "j_k" —
    * exact and commutative, so the sign (hence the bucket) is identical
    * under any partitioning AND reproducible in DuckDB (float addition
    * would flip near-zero dots between runs; an engine-private hash
    * would make the bands uncheckable). sign(sum(v*n)) equals
    * sign(dot(v, n/1000)), the usual hyperplane test. */
  private[graft] def bandKeys(
      e: DataFrame, numPlanes: Int = 16, bitsPerBand: Int = 4): DataFrame = {
    val s = e.sparkSession
    // one flat range, not range x range: a crossJoin would plan a (tiny
    // but assert-tripping) CartesianProduct
    val planes = s.range(numPlanes.toLong * 64)
      .select((col("id") / 64).cast("long").as("j"),
        pmod(col("id"), lit(64L)).as("k"))
      .select(col("j"), col("k"), expr(
        "pmod(cast(conv(substr(md5(cast(concat(cast(j as string), '_', cast(k as string)) as binary)), 1, 15), 16, 10) as bigint), 2147483647) % 2001 - 1000"
      ).cast("decimal(4,0)").as("n"))
    val dims = e.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("k", "v")))
    dims.join(broadcast(planes), Seq("k"))
      .groupBy("vec_id", "j")
      .agg(sum(col("v").cast("double").cast("decimal(30,20)") * col("n"))
        .as("dot"))
      .select(col("vec_id"),
        (col("j") / bitsPerBand).cast("int").as("band"),
        when(col("dot") > 0,
            expr(s"shiftleft(1, cast(pmod(j, $bitsPerBand) as int))"))
          .otherwise(lit(0)).as("bitval"))
      .groupBy("vec_id", "band")
      .agg(sum(col("bitval")).cast("long").as("band_val"))
  }

  /** DuckDB mirror of bandKeys (same hash family, exact decimal dots). */
  private[graft] def bandKeysSql(numPlanes: Int = 16, bitsPerBand: Int = 4): String =
    s"""grid AS (
          SELECT j, k,
            CAST(${hash31Sql("concat(CAST(j AS VARCHAR), '_', CAST(k AS VARCHAR))")} % 2001 - 1000 AS DECIMAL(4,0)) AS n
          FROM (SELECT unnest(range(0, $numPlanes)) AS j) js,
               (SELECT unnest(range(0, 64)) AS k) ks),
        dims AS (
          SELECT vec_id, i - 1 AS k,
            CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(30,20)) AS v
          FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) idx),
        dots AS (
          SELECT d.vec_id, g.j, sum(d.v * g.n) AS dot
          FROM dims d JOIN grid g ON g.k = d.k
          GROUP BY d.vec_id, g.j),
        bandvals AS (
          SELECT vec_id, CAST(j // $bitsPerBand AS INTEGER) AS band,
            CAST(sum(CASE WHEN dot > 0 THEN (1 << CAST(j % $bitsPerBand AS INTEGER)) ELSE 0 END) AS BIGINT) AS band_val
          FROM dots GROUP BY vec_id, j // $bitsPerBand),
        viralbands AS (
          SELECT band, band_val FROM bandvals
          GROUP BY band, band_val HAVING count(*) > $BandBucketCap),
        bandkept AS (
          SELECT v.vec_id, v.band, v.band_val
          FROM bandvals v LEFT JOIN viralbands w
            ON w.band = v.band AND w.band_val = v.band_val
          WHERE w.band IS NULL)"""

  /** The k-NN graph (src_id, nbr_id, cos, rank): for each vector of
    * `e`, its top KnnGraphK band-colliding neighbors by exact cosine, the
    * embeddings read from `vecs`; rank is an int from 1. ONE definition
    * feeding sim_knn_graph, the inline search and the served index
    * build. The candidates are directed (x != y, both orientations),
    * unlike [[Dedup.bucketPairs]]' a_id < b_id: "a is b's neighbor" is
    * not symmetric once ranked. */
  private def knnGraphEdges(s: SparkSession, e: DataFrame, vecs: DataFrame): DataFrame = {
    val bands = Dedup.dropViral(bandKeys(e), BandKey, BandBucketCap)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src_id"), col("y.vec_id").as("nbr_id"))
      .distinct()
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    cand
      .join(vecs.select(col("vec_id").as("src_id"),
        col("embedding").as("s_emb")), Seq("src_id"))
      .join(vecs.select(col("vec_id").as("nbr_id"),
        col("embedding").as("n_emb")), Seq("nbr_id"))
      .select(col("src_id"), col("nbr_id"),
        CosineSimilarity(s, col("s_emb"), col("n_emb")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnGraphK)
  }

  /** DuckDB mirror of knnGraphEdges: [[bandKeysSql]]'s CTEs, then `knn`
    * (src_id, nbr_id, cos, rank), MATERIALIZED because every beam round
    * of graphSearchSql probes it. */
  private lazy val KnnGraphSql: String =
    s"""${bandKeysSql()},
        kcand AS (
          SELECT DISTINCT x.vec_id AS src_id, y.vec_id AS nbr_id
          FROM bandkept x JOIN bandkept y
            ON x.band = y.band AND x.band_val = y.band_val
             AND x.vec_id != y.vec_id),
        kscored AS (
          SELECT c.src_id, c.nbr_id,
            ${cosineSql("a.embedding", "b.embedding")} AS cos
          FROM kcand c
          JOIN embeddings a ON a.vec_id = c.src_id
          JOIN embeddings b ON b.vec_id = c.nbr_id),
        knn AS MATERIALIZED (
          SELECT * FROM (
            SELECT src_id, nbr_id, cos,
              CAST(row_number() OVER (PARTITION BY src_id
                                      ORDER BY cos DESC, nbr_id) AS BIGINT) AS rank
            FROM kscored) WHERE rank <= $KnnGraphK)"""

  /** Build-once/save/load for the k-NN graph index — the ivfIndexDir
    * lifecycle applied to the graph family. */
  private[graft] def knnIndexDir(s: SparkSession, dir: String): String =
    Tables.memo(dir, "embeddings", "knn_index") {
      val p = graft.jvmScratchDir("graft_knn_index")
      val e = embParallel(s, dir)
      knnGraphEdges(s, e, e).select("src_id", "nbr_id")
        .write.mode("overwrite").parquet(s"$p/edges")
      p.toString
    }

  /** GraphSearchRounds synchronous beam expansions over a prebuilt edge
    * relation, then the closing top-k — the serving half of the graph
    * ANN family, shared by the inline and served registry entries.
    *
    * The beam's lineage is truncated EVERY round (r12, adjudication
    * #5): each round references the previous beam TWICE (expand + the
    * union), so the lazy plan duplicated round N−1's subtree 2^N-ish
    * times — ~12 small re-planned, re-broadcast stages whose driver
    * scheduling was the inline operator's 2.6–3.8 s variance band. The
    * beam is ≤ |Q|·BeamWidth rows; materializing it per round
    * (1 partition) makes every round one flat tiny job and the
    * per-round broadcast input a materialized ~80-row partition
    * instead of a nested subplan. Deterministic — contents unchanged,
    * same oracle. */
  private def graphBeamSearch(s: SparkSession, dir: String,
      knn: DataFrame): DataFrame = {
    val e = embParallel(s, dir)
    val q = keyedQueriesOf(e)
    val cv = e.select(col("vec_id").as("cand"),
      col("embedding").as("c_emb"))
    val entry = e.agg(min(col("vec_id")).as("cand"))
    var beam = q.select("q_id").crossJoin(broadcast(entry))
    var scored: DataFrame = null
    for (_ <- 1 to GraphSearchRounds) {
      val expand = broadcast(beam)
        .join(knn, col("cand") === col("src_id"))
        .select(col("q_id"), col("nbr_id").as("cand"))
      val cands = beam.union(expand).distinct()
      scored = cands
        .join(q, Seq("q_id"))
        .join(cv, Seq("cand"))
        .select(col("q_id"), col("cand"),
          CosineSimilarity(s, col("q_emb"), col("c_emb")).as("cos"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("cand"))
      beam = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= BeamWidth).select("q_id", "cand")
        .coalesce(1).transform(Tables.materialize)
    }
    // top-k of the final round's candidate set = top-k of the final
    // beam (BeamWidth > TopK + 1 leaves room for the self-match cut)
    rankTopK(scored.filter(col("cand") =!= col("q_id")), id = "cand")
      .select(col("q_id"), col("cand").as("vec_id"),
        col("cos"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** DuckDB replay of sim_ann_graph_search: the sim_knn_graph edge CTEs
    * ([[KnnGraphSql]]), then each
    * beam round as a cand/scored/beam CTE triple, built programmatically
    * so the Spark loop and the oracle can never disagree on round count
    * (the graph_pagerank oracle discipline). */
  private def graphSearchSql(): String = {
    val rounds = (1 to GraphSearchRounds).map { t =>
      val prev = if (t == 1) "beam0" else s"beam${t - 1}"
      s"""cand$t AS MATERIALIZED (
            SELECT DISTINCT q_id, cand FROM (
              SELECT q_id, cand FROM $prev
              UNION ALL
              SELECT b.q_id, k.nbr_id AS cand
              FROM $prev b JOIN knn k ON k.src_id = b.cand)),
          scored$t AS MATERIALIZED (
            SELECT c.q_id, c.cand,
              ${cosineSql("q.q_emb", "e.embedding")} AS cos
            FROM cand$t c
            JOIN q ON q.q_id = c.q_id
            JOIN embeddings e ON e.vec_id = c.cand),
          beam$t AS (
            SELECT q_id, cand FROM (
              SELECT q_id, cand,
                row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos DESC, cand) AS rn
              FROM scored$t) WHERE rn <= $BeamWidth)"""
    }.mkString(",\n")
    s"""WITH $KnnGraphSql,
        q AS (${queriesSql()}),
        entry AS (SELECT min(vec_id) AS cand FROM embeddings),
        beam0 AS (SELECT q.q_id, entry.cand FROM q, entry),
        $rounds
        SELECT q_id, cand AS vec_id, cos, rank
        FROM ${topKSql(s"(SELECT * FROM scored$GraphSearchRounds WHERE cand != q_id)", "cand")}
        ORDER BY q_id, rank"""
  }
}
