package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.EngineFns._

/** Deduplication operators for LLM training-data pipelines over the
  * `documents` table:
  *
  *  - exact dedup (hash group-by),
  *  - n-gram (3-word shingle) Jaccard similarity via an *inverted-index
  *    join* — only pairs sharing at least one shingle are materialized, so
  *    at 100 TB the shuffle is proportional to sum(posting-list^2), never
  *    |docs|^2 (the cross-join is only used by the small-scale oracle SQL,
  *    which is semantically identical for any threshold > 0),
  *  - MinHash signatures (md5-based, oracle-checkable) + LSH banding for
  *    candidate generation (the 100 TB scale path: band-bucket shuffle
  *    instead of pairwise comparison),
  *  - SimHash (16-bit) + Hamming-distance candidate pairs.
  *
  * Embedding-cosine near-dup lives in Similarity.scala.
  */
object Dedup {

  private[graft] val NumPerms = 16
  private[graft] val BandRows = 2 // 8 bands x 2 rows — recall-biased for low-J corpora
  /** The bucket key of [[bandsOf]]'s rows. */
  private val BandKey = Seq("band_id", "band_key")
  private[graft] val JaccardThreshold = 0.015

  /** The prefix-filter join's similarity bar (dedup_prefix_filter):
    * 0.8 is the realistic "near-duplicate" threshold (the planted
    * duplicate families sit above it) and yields a ~20%-of-doc prefix
    * (n - ceil(0.8n) + 1), i.e. ~4% of the full inverted index's
    * candidate mass. */
  private[graft] val PrefixJaccardT = 0.8

  // Hard input-size gate for the declared all-pairs/saturating baseline
  // variants (dedup_simhash_pairs here, sim_embed_neardup_exact in
  // Similarity): far above every test SF, far below any corpus where
  // the quadratic shape would hurt.
  private[graft] val MaxAllPairsRows = 100000L

  /** Registry-level gate for declared all-pairs baselines (mirrors
    * CosineTopK's <= 4096 query gate): throws before any quadratic work
    * is planned, naming the production-shaped alternative. */
  private[graft] def requireAllPairsSmall(
      n: Long, name: String, unit: String, alternative: String): Unit =
    require(n <= MaxAllPairsRows,
      s"$name is an all-pairs baseline, capped at $MaxAllPairsRows " +
        s"$unit (got $n); use $alternative")

  // Bloom front gate (dedup_bloom_probe): 4096-bit filter, 3 hash
  // positions per document text — small enough that the planted corpus
  // exercises real false positives, large enough that they stay rare.
  private val BloomBits = 4096
  private val BloomK = 3

  // Directed-containment acceptance (dedup_containment): a document with
  // half its shingles inside another is a containment suspect.
  private val ContainmentThreshold = 0.5
  // Stop-shingle document-frequency cap (SCALE.md): a shingle that occurs
  // in more documents than this is dropped from the inverted index before
  // the posting self-join. The join shuffle is sum(DF^2) over shingles, so
  // one viral shingle ("and of the") otherwise costs DF^2 ~ |corpus|^2 at
  // 100 TB. Dropping ultra-common shingles is the standard approximation:
  // they carry no near-dup signal (they appear in unrelated docs) while
  // dominating the candidate count. The default is far above this
  // corpus's max DF (sf0.1 max ~ 60), so the local oracle comparison is
  // byte-exact; production sets it to ~0.1% of corpus size.
  private[graft] val MaxShingleDF = 10000
  // Per-shingle posting-sample cap for dedup_tfidf_nn_capped (r9,
  // VERDICT task 2): the uncapped posting self-join's shuffle is
  // Σdf² and this corpus's 31-word vocabulary makes df grow ∝ N/V —
  // measured e(0.1→1) = 1.42 with the sf1 point at 119 s, the r8
  // suite's one perf-weak row. A FIXED df cap cannot fix the exponent
  // here (the whole df distribution crosses any constant together — a
  // cliff, not a knee), so the pipeline form samples each shingle's
  // posting list down to this many entries, chosen by the engine-
  // portable hash31(shingle:doc_id) (deterministic, unbiased across
  // doc ids, oracle-replayable). Dot-join work is then ≤ V·cap² —
  // CONSTANT per shingle — while norms/weights stay exact and linear;
  // the cap is a candidate-recall knob exactly like BandBucketCap.
  private[graft] val TfidfPostingCap = 32
  // Per-shingle posting sample for the PREFIX-filter collision join
  // (dedup_prefix_filter_capped) — the same cliff-not-knee argument as
  // TfidfPostingCap: on a saturated shingle vocabulary EVERY shingle's
  // df crosses any fixed cap together (measured at sf10: 29,791
  // possible trigrams, min df ≈ 880, Σdf² = 2.3 × 10^10 candidate rows,
  // > 77 GB single-node shuffle spill — the uncapped self-join is
  // unmeasurable on one machine), so a df CUTOFF would return zero
  // candidates while posting SAMPLING keeps Σ ≤ V·cap² bounded with
  // recall degrading gracefully on viral shingles.
  private[graft] val PrefixPostingCap = 32
  // Edit-distance acceptance bound for sketch-candidate verification
  // (dedup_edit_verify): planted near-dups in this corpus sit at dist ~4
  // while sketch false-positives land in the hundreds; 50 separates them
  // with a wide margin at every SF.
  private val MaxEditDist = 50

  /** Documents spread across all cores: the corpus ships as one parquet
    * file (= one input split), which would serialize the md5/shingle
    * expression work onto a single task. The round-robin repartition is
    * CONDITIONAL on the scan actually being under-split (round-2 advice:
    * it was an unconditional extra full shuffle baked into every dedup
    * operator — pure waste on a pre-split 100 TB input). Results stay
    * deterministic — every query ends in a total-order sort. */
  private def docsParallel(s: SparkSession, dir: String): DataFrame =
    Tables.loadParallel(s, dir, "documents")

  /** (doc_id, p_idx, para): fixed 4-token pseudo-paragraph relation of a
    * documents frame — shared by the batch window pass
    * (text_dedup_paragraph) and the streaming first-writer gate
    * (StreamOps.streamParagraphDedup) so the two chunkings can never
    * drift. Stateless column work; runs on batch and streaming frames. */
  private[graft] def paragraphs(d: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nChunks = ((size(toks) + lit(3)) / lit(4)).cast("int")
    d.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1), i =>
          array_join(slice(toks, i * 4 + 1, lit(4)), " "))))
      .select(col("doc_id"), col("pos").cast("long").as("p_idx"),
        col("col").as("para"))
  }

  /** Rebuild per-document outputs from the kept paragraph occurrences:
    * (doc_id, n_paras, n_kept, clean_text), empty-text for documents
    * whose every paragraph was a repeat. */
  private[graft] def rebuildFromKept(d: DataFrame, kept: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val agg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("p_idx"), col("para")))),
          x => x.getField("para")), " ").as("clean_text"))
    d.select(col("doc_id"),
        ((size(toks) + lit(3)) / lit(4)).cast("long").as("n_paras"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Shared oracle for the batch and streaming paragraph-dedup forms. */
  private[graft] val ParagraphDedupOracleSql: String =
    """WITH tk AS (
         SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       p AS (
         SELECT doc_id, i AS p_idx,
           array_to_string(w[(i*4 + 1):(i*4 + 4)], ' ') AS para
         FROM tk, LATERAL (SELECT unnest(range(0,
           CAST((len(w) + 3) // 4 AS INT))) AS i) ix),
       r AS (
         SELECT doc_id, p_idx, para,
           row_number() OVER (PARTITION BY para
             ORDER BY doc_id, p_idx) AS rk
         FROM p),
       kept AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
           string_agg(para, ' ' ORDER BY p_idx) AS clean_text
         FROM r WHERE rk = 1 GROUP BY doc_id)
       SELECT tk.doc_id,
         CAST((len(tk.w) + 3) // 4 AS BIGINT) AS n_paras,
         COALESCE(kept.n_kept, 0) AS n_kept,
         COALESCE(kept.clean_text, '') AS clean_text
       FROM tk LEFT JOIN kept ON tk.doc_id = kept.doc_id
       ORDER BY tk.doc_id"""

  /** Doc-id gap bounds for the TTL streaming dedup variants. The
    * streamed corpus carries a synthetic ingest timestamp (doc_id
    * minutes apart — see StreamOps.docEventTime), so "state older than
    * the TTL watermark" is exactly "previous occurrence more than
    * TtlDocs documents earlier": a repeated paragraph re-emits past
    * ParaTtlDocs, and a band collision only pairs documents within
    * NeardupTtlDocs of each other. Both oracles replay the same rule
    * as doc_id arithmetic. */
  private[graft] val ParaTtlDocs = 30
  private[graft] val NeardupTtlDocs = 100

  /** Oracle for the TTL paragraph gate: an occurrence is kept iff the
    * IMMEDIATELY PRECEDING occurrence of the same paragraph (the gate
    * refreshes its last-seen state on every occurrence, emitted or
    * suppressed) is more than ParaTtlDocs documents earlier — the
    * lag-window form of watermark-evicted first-writer-wins. */
  private[graft] val ParagraphDedupTtlOracleSql: String =
    s"""WITH tk AS (
         SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       p AS (
         SELECT doc_id, i AS p_idx,
           array_to_string(w[(i*4 + 1):(i*4 + 4)], ' ') AS para
         FROM tk, LATERAL (SELECT unnest(range(0,
           CAST((len(w) + 3) // 4 AS INT))) AS i) ix),
       r AS (
         SELECT doc_id, p_idx, para,
           lag(doc_id) OVER (PARTITION BY para
             ORDER BY doc_id, p_idx) AS prev_doc
         FROM p),
       kept AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
           string_agg(para, ' ' ORDER BY p_idx) AS clean_text
         FROM r WHERE prev_doc IS NULL OR doc_id - prev_doc > $ParaTtlDocs
         GROUP BY doc_id)
       SELECT tk.doc_id,
         CAST((len(tk.w) + 3) // 4 AS BIGINT) AS n_paras,
         COALESCE(kept.n_kept, 0) AS n_kept,
         COALESCE(kept.clean_text, '') AS clean_text
       FROM tk LEFT JOIN kept ON tk.doc_id = kept.doc_id
       ORDER BY tk.doc_id"""

  /** (doc_id, sh) with sh = distinct 3-word shingles. */
  private[graft] def shingled(s: SparkSession, dir: String): DataFrame =
    docsParallel(s, dir)
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))

  /** The SQL mirror of [[shingled]] over `src`'s (doc_id, text): the
    * MATERIALIZED CTE d(doc_id, sh). */
  private[graft] def shingledSql(src: String = "documents"): String =
    s"""d AS MATERIALIZED (
         SELECT doc_id, list_distinct(list_transform(
           range(1, len(string_split(text,' ')) - 1),
           i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS sh
         FROM $src)"""

  /** (doc_id, sig): MinHash signatures computed on the fully
    * whole-stage-codegen path — explode shingles to rows, hash each with
    * the scalar (codegen'd) md5 expression, then take the 16 permutation
    * minima as plain min aggregates. Higher-order-function lambdas are
    * interpreted in Spark, so the HOF formulation (minhashSig, still used
    * for per-row signatures in tests) evaluates 480k md5s in the
    * interpreter; this shape keeps everything in generated code and
    * map-side partial aggregation. Values are identical: per-doc per-perm
    * min over the same distinct-shingle hash multiset.
    *
    * The shingle expression appears exactly ONCE in the resulting plan
    * (round-2 advice: the former formulation joined the signature
    * aggregate back to the full shingle frame, so every doc was shingled
    * twice). The doc_id-completing left join below prunes to the doc_id
    * column, which Catalyst strips the shingle projection from entirely;
    * shingle-less docs keep their 16-NULL-slot signature. */
  private def signaturesFrom(sh: DataFrame): DataFrame = {
    val hashed = sh
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), hash31(col("shingle")).as("h"))
    val permMins = (0 until NumPerms).map { p =>
      min((lit(p * 2 + 3).cast("long") * col("h") + p) % 2147483647L).as(s"sig_$p")
    }
    val sig = hashed.groupBy("doc_id")
      .agg(permMins.head, permMins.tail: _*)
      .select(col("doc_id"),
        array((0 until NumPerms).map(p => col(s"sig_$p")): _*).as("sig"))
    sh.select("doc_id").join(sig, Seq("doc_id"), "left")
      .withColumn("sig",
        coalesce(col("sig"),
          array_repeat(lit(null).cast("long"), NumPerms)))
  }

  private def signatures(s: SparkSession, dir: String): DataFrame =
    signaturesFrom(shingled(s, dir))

  /** The SQL mirror of [[signaturesFrom]] over [[shingledSql]]'s d: the
    * MATERIALIZED CTE sig(doc_id, sg), NULL minima for a shingle-less
    * document. */
  private[graft] val SignaturesSql: String =
    s"""sig AS MATERIALIZED (
         SELECT doc_id, list_transform(range(0, $NumPerms), p ->
           list_aggregate(list_transform(sh, s ->
             ((2*p + 3) * ${hash31Sql("s")} + p) % 2147483647),
           'min')) AS sg
         FROM d)"""

  /** (doc_id, band_id, band_key): the NumPerms / `rows` LSH band keys of
    * each signature, `rows` minima comma-joined — engine-portable
    * (mirrors MinhashBandsCte at the default 8 bands x 2 rows). The one
    * band explode of every batch minhash candidate generator, the
    * incremental corpus probe and dedup_lsh_tune's legs. */
  private[graft] def bandsOf(withSig: DataFrame, rows: Int = BandRows): DataFrame =
    withSig.select(
      col("doc_id"),
      // band count is a compile-time constant: unroll to an array
      // literal of codegen'd slices instead of a transform() lambda
      // (higher-order lambdas run interpreted)
      explode(array((0 until NumPerms / rows).map { b =>
        struct(
          lit(b.toLong).as("band_id"),
          concat_ws(",", slice(col("sig"), b * rows + 1, rows))
            .as("band_key"))
      }: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_key"))

  /** The SQL mirror of [[bandsOf]] over [[SignaturesSql]]'s sig: the
    * MATERIALIZED CTE `name`(doc_id, b, band_key). */
  private[graft] def bandsSql(rows: Int = BandRows, name: String = "bands"): String =
    s"""$name AS MATERIALIZED (
         SELECT doc_id, b,
           array_to_string(sg[$rows*b + 1 : $rows*b + $rows], ',') AS band_key
         FROM sig, (SELECT unnest(range(0, ${NumPerms / rows})) AS b) bs)"""

  /** The shared MinHash band-key CTE prefix (shingles → signatures →
    * 8 two-row band keys): every LSH-banding oracle — batch pairs,
    * streaming near-dup, and incremental corpus probe — derives from this
    * one definition so the candidate generators cannot drift apart. */
  private[graft] val MinhashBandsCte: String =
    s"""WITH ${shingledSql()},
       $SignaturesSql,
       ${bandsSql()}"""

  /** (a_id, b_id) with a_id < b_id: one row per bucket of `rel` (rows
    * equal on every column of `keys`) that the two `id`s share — the
    * self-equi-join of every bucketed candidate generator. No DISTINCT:
    * a pair sharing k buckets comes out k times, and the caller dedups
    * (the star-capped generator unions its star edges first). */
  private[graft] def bucketPairs(rel: DataFrame, id: String, keys: Seq[String]): DataFrame =
    rel.as("x").join(rel.as("y"),
        keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
          col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("a_id"), col(s"y.$id").as("b_id"))

  /** The SQL mirror of [[bucketPairs]] + distinct over a band relation:
    * the MATERIALIZED CTE `name`(a_id, b_id) of the pairs sharing a
    * bucket of `bands`, restricted by `where` when it is given. */
  private[graft] def bandPairsSql(name: String, bands: String = "bands",
      where: String = ""): String = {
    val restrict = if (where.isEmpty) "" else s"\n         WHERE $where"
    s"""$name AS MATERIALIZED (
         SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         FROM $bands x JOIN $bands y
           ON x.b = y.b AND x.band_key = y.band_key
            AND x.doc_id < y.doc_id$restrict)"""
  }

  /** `rel` without the rows of its viral keys, the `keys` values shared
    * by more than `cap` rows: a stop-word cap that keeps one boilerplate
    * key from making a bucket self-join quadratic. The viral-key set
    * ships as a broadcast left-anti join. Its bound: each viral key
    * covers at least cap + 1 rows of `rel`, so there are at most
    * |rel| / (cap + 1) of them. The count behind it is map-side
    * combined. */
  private[graft] def dropViral(rel: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val viral = rel.groupBy(keys.head, keys.tail: _*)
      .agg(count(lit(1)).as("df")).filter(col("df") > cap)
      .select(keys.head, keys.tail: _*)
    rel.join(broadcast(viral), keys, "left_anti")
  }

  /** Viral band-bucket cap for the TEXT banded-LSH self-join candidate
    * generators (r13, verdict task #2 — Similarity.BandBucketCap ported
    * to minhash banding). On a viral-template corpus (the `clique`
    * CorpusGen mode: m near-identical family members) every band bucket
    * of the family holds all m members, so the band self-join emits
    * C(m,2) candidate rows PER BAND — one-key-quadratic at sf10 even
    * where the verified OUTPUT needn't be. A bucket past the cap
    * carries ~zero discrimination signal (the MaxShingleDF argument at
    * the band grain): its members are either one template family —
    * recovered wholesale by the cluster-representative forms — or a
    * band-key coincidence that exact-Jaccard verification would reject
    * anyway. Cap = 1000: far above every healthy/heaps bucket at the
    * gate scales (every sf0.01 corpus bucket ≤ ~50 members, so every
    * standing hash is unchanged), below the clique family size from
    * sf1 up (m = 1%·N = 5 000 at sf1). Recall cost is MEASURED, not
    * argued: dedup_planted_recall / dedup_recall_curve carry capped
    * columns scored against planted truth on every corpus.
    * `final val` (compile-time constant): interpolated into oracle
    * strings below — the round-7 "val below defs" gotcha applies. */
  private[graft] final val TextBandBucketCap = 1000

  /** The SQL mirror of [[dropViral]] on the bands at TextBandBucketCap;
    * compose after MinhashBandsCte. kbands is the band relation with
    * viral buckets (df > TextBandBucketCap) dropped wholesale. */
  private[graft] val MinhashCappedBandsCte: String =
    s""",
       viralbands AS MATERIALIZED (
         SELECT b, band_key FROM bands
         GROUP BY b, band_key HAVING count(*) > $TextBandBucketCap),
       kbands AS MATERIALIZED (
         SELECT v.doc_id, v.b, v.band_key
         FROM bands v LEFT JOIN viralbands w
           ON w.b = v.b AND w.band_key = v.band_key
         WHERE w.b IS NULL)"""

  /** Jaccard similarity of two distinct-shingle array columns. */
  private[graft] def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      (size(a) + size(b) - size(array_intersect(a, b))).cast("double")

  /** The SQL mirror of [[jaccard]] over two shingle lists, parenthesized. */
  private[graft] def jaccardSql(a: String, b: String): String =
    s"(CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"CAST(len($a) + len($b) - len(list_intersect($a, $b)) AS DOUBLE))"

  /** The banding pairs oracle: the MinhashBandsCte chain, then `ctes`
    * (ending in the candidate CTE cand), then each candidate with its
    * exact Jaccard. */
  private def bandPairsOracleSql(ctes: String): String =
    MinhashBandsCte + ctes + s"""
       SELECT c.a_id, c.b_id, ${jaccardSql("da.sh", "db.sh")} AS jaccard
       FROM cand c
       JOIN d da ON da.doc_id = c.a_id
       JOIN d db ON db.doc_id = c.b_id
       ORDER BY a_id, b_id"""

  /** Banding pairs oracle: pairs sharing >= 1 band key, with the exact
    * Jaccard attached. */
  private[graft] val MinhashPairsOracleSql: String =
    bandPairsOracleSql(s",\n       ${bandPairsSql("cand")}")

  /** TTL variant of the banding pairs oracle: a collision only counts
    * while BOTH documents are inside the NeardupTtlDocs ingest window —
    * the relation the watermark-evicted streaming bucket state emits. */
  private[graft] val MinhashPairsTtlOracleSql: String =
    bandPairsOracleSql(s",\n       ${bandPairsSql("cand",
      where = s"y.doc_id - x.doc_id <= $NeardupTtlDocs")}")

  /** Capped banding pairs oracle: dedup_minhash_pairs' relation with the
    * viral-bucket cap applied to candidate generation. */
  private[graft] val MinhashPairsCappedOracleSql: String =
    bandPairsOracleSql(MinhashCappedBandsCte +
      s",\n       ${bandPairsSql("cand", "kbands")}")

  /** Build-once/save for dedup_minhash_served's band index: the
    * EXISTING corpus's (doc_id, band_key, band_id) relation persisted as
    * parquet partitioned by band_id (a served probe reads only its own
    * band's files); the same lifecycle as Similarity.ivfIndexDir. */
  private[graft] def minhashIndexDir(s: SparkSession, dir: String): String =
    Tables.memo(dir, "documents", "minhash_index") {
      val p = graft.jvmScratchDir("graft_minhash_index")
      bandsOf(signatures(s, dir))
        .filter(pmod(col("doc_id"), lit(13)) =!= 0)
        .write.mode("overwrite").partitionBy("band_id")
        .parquet(s"$p/bands")
      p.toString
    }

  /** (doc_id, simhash): 16-bit SimHash on the whole-stage-codegen path —
    * explode tokens, hash with the scalar md5 expression, take the 16
    * bit-votes as conditional sum aggregates, assemble bits in the final
    * projection. Same values as the interpreted HOF fold (same ±1 vote
    * sum over the same token multiset), ~an order of magnitude cheaper. */
  private def simhashed(s: SparkSession, dir: String): DataFrame = {
    val hashed = docsParallel(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), hash31(col("t")).as("h"))
    val votes = (0 until 16).map { j =>
      sum(when(expr(s"(shiftright(h, $j) & 1) = 1"), 1).otherwise(-1)).as(s"v_$j")
    }
    hashed.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 16)
          .map(j => when(col(s"v_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** The SQL mirror of [[simhashed]]: the MATERIALIZED CTE sg(doc_id,
    * simhash) of each document's 16-bit SimHash. */
  private[graft] val SimhashSql: String =
    s"""sg AS MATERIALIZED (
         SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 16), j ->
             CASE WHEN bits[j + 1] = 1 THEN 1 << j ELSE 0 END)) AS BIGINT) AS simhash
         FROM (
           SELECT doc_id,
             list_transform(range(0, 16), j ->
               CASE WHEN list_sum(list_transform(string_split(text, ' '), t ->
                 CASE WHEN (${hash31Sql("t")} >> j) & 1 = 1
                      THEN 1 ELSE -1 END)) > 0
               THEN 1 ELSE 0 END) AS bits
           FROM documents) v)"""

  /** Exact Jaccard for pairs sharing >= 1 shingle, via inverted index.
    * Shingles with document frequency above `maxDf` are dropped from the
    * index (stop-shingle cap — see MaxShingleDF, applied by
    * [[dropViral]]). Package-visible so DedupSpec can exercise the cap
    * with a synthetic viral shingle. */
  private[graft] def jaccardPairs(
      shIn: DataFrame, maxDf: Int = MaxShingleDF): DataFrame = {
    // the shingle frame feeds four subtrees (sizes, DF count, and both
    // sides of the posting self-join — alias renames defeat exchange
    // reuse); one localCheckpoint computes the shingle expression once
    // and every consumer reads the materialized blocks (a frame the
    // caller already materialized is read as it is)
    val sh = Tables.materialize(shIn)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n_sh"))
    // the posting relation feeds the DF aggregate and both sides of the
    // self-join; locally the three computes run in parallel inside one
    // job over the sh checkpoint blocks (r14, measured: materializing
    // it costs more wall than the redundant explode)
    val postings = dropViral(
      sh.select(col("doc_id"), explode(col("sh")).as("shingle")), Seq("shingle"), maxDf)
    val a = postings.select(col("shingle"), col("doc_id").as("a_id"))
    val b = postings.select(col("shingle"), col("doc_id").as("b_id"))
    a.join(b, Seq("shingle"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("n_a")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("n_b")), Seq("b_id"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
  }

  /** The near-duplicate graph's edge list: (a_id, b_id) with a_id < b_id
    * for every pair of `sh` at or above [[JaccardThreshold]]. Every dedup
    * and graph query over that graph starts here; only the queries that
    * report the scores (n_common, jaccard) or use every candidate pair
    * call [[jaccardPairs]] themselves. */
  private[graft] def jaccardEdges(sh: DataFrame): DataFrame =
    jaccardPairs(sh)
      .filter(col("jaccard") >= JaccardThreshold).select("a_id", "b_id")

  /** The SQL mirror of [[jaccardEdges]] over [[shingledSql]]'s d: the
    * MATERIALIZED CTE `name`(a_id, b_id), as the all-pairs form. */
  private[graft] def jaccardEdgesSql(name: String): String =
    s"""$name AS MATERIALIZED (
         SELECT a.doc_id AS a_id, b.doc_id AS b_id
         FROM d a, d b
         WHERE a.doc_id < b.doc_id
           AND ${jaccardSql("a.sh", "b.sh")} >= $JaccardThreshold)"""

  /** The shared exact-Jaccard pair CTE (shingles -> thresholded pairs):
    * the same relation the cluster-collapse and PageRank oracles close
    * over, defined once so the graph consumers cannot drift from the
    * pair generator.
    *
    * AS MATERIALIZED (round-10, VERDICT r9 task #2): DuckDB inlines
    * CTEs at every reference, and the iteration-REPLAY oracles
    * (labelprop/modularity/conductance/pagerank/ppr/hits/kcore/walk)
    * reference each round's CTE twice — so the O(N²) all-pairs join
    * here was re-executed an EXPONENTIAL number of times per unrolled
    * iteration, which is why the sf0.1 oracle checks timed out. The
    * hint pins every oracle to exactly ONE pairs pass; results are
    * identical (materialization is an execution strategy, not a
    * semantic change — proven by the unchanged sf0.01 hashes). */
  private[graft] val JaccardPairsCte: String =
    s"""${shingledSql()},
       ${jaccardEdgesSql("pairs")}"""

  /** An (a_id, b_id) edge list in both orientations as (u, v). Both
    * union legs read `pairs`: each recomputes its plan unless the
    * caller checkpointed it. Locally the two legs run in parallel
    * inside one job, which r14 measured cheaper than a barrier before
    * the union; at 100 TB the recompute doubles the pair generator's
    * shuffle, a trade-off for a size-measured materialization policy. */
  private[graft] def undirected(pairs: DataFrame): DataFrame =
    pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(pairs.select(col("b_id").as("u"), col("a_id").as("v")))

  /** The SQL mirror of [[undirected]]: the MATERIALIZED CTE `name`(u,
    * v) holding both orientations of every row of the oracle's (a_id,
    * b_id) CTE `pairs`. */
  private[graft] def undirectedSql(name: String, pairs: String = "pairs"): String =
    s"""$name AS MATERIALIZED (
          SELECT a_id AS u, b_id AS v FROM $pairs
          UNION ALL SELECT b_id, a_id FROM $pairs)"""

  /** Each shingle's postings in `rel` (shingle, doc_id, ...) sampled down
    * to `cap` rows, the smallest hash31(shingle:doc_id) first (doc_id
    * breaks ties): deterministic, unbiased across doc ids, and replayed
    * by [[postingSampleSql]]. */
  private[graft] def samplePostings(rel: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy("shingle").orderBy(
      hash31(concat_ws(":", col("shingle"), col("doc_id"))).asc,
      col("doc_id").asc)
    rel.withColumn("prn", row_number().over(w))
      .filter(col("prn") <= cap).drop("prn")
  }

  /** The SQL mirror of [[samplePostings]]: the MATERIALIZED CTE
    * `name`(`cols`) of `src`'s sampled postings. */
  private[graft] def postingSampleSql(name: String, src: String, cols: String,
      cap: Int): String =
    s"""$name AS MATERIALIZED (
         SELECT $cols FROM (
           SELECT $cols,
             row_number() OVER (PARTITION BY shingle ORDER BY
               ${hash31Sql("concat(shingle, ':', CAST(doc_id AS VARCHAR))")},
               doc_id) AS prn
           FROM $src) t
         WHERE prn <= $cap)"""

  /** The planted near-duplicate pairs (a_id < b_id) of a heaps corpus: a
    * planted document's `source` is 'dupof<src_id>'. Empty on corpora
    * without planted duplicates. */
  private def plantedTruth(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .filter(col("source").startsWith("dupof"))
      .select(
        least(col("doc_id"),
          substring(col("source"), 6, 30).cast("long")).as("a_id"),
        greatest(col("doc_id"),
          substring(col("source"), 6, 30).cast("long")).as("b_id"))

  /** The SQL mirror of [[plantedTruth]]: the MATERIALIZED CTE
    * truth(a_id, b_id). */
  private val PlantedTruthSql: String =
    """truth AS MATERIALIZED (
         SELECT least(doc_id,
             CAST(substr(source, 6) AS BIGINT)) AS a_id,
           greatest(doc_id,
             CAST(substr(source, 6) AS BIGINT)) AS b_id
         FROM documents WHERE source LIKE 'dupof%')"""

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup: canonical representative (min doc_id) per identical text.
    QueryDef(
      "dedup_exact",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .groupBy("text")
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id", "text")
          .orderBy("doc_id"),
      Some("""SELECT min(doc_id) AS doc_id, text FROM documents
              GROUP BY text ORDER BY doc_id""")),

    // Paragraph-level dedup (the C4/RefinedWeb within-corpus pass):
    // documents split into fixed 4-token pseudo-paragraphs (the corpus
    // is unpunctuated word soup; real pipelines split on newlines),
    // every paragraph beyond its FIRST corpus occurrence dropped, and
    // each document rebuilt from its surviving paragraphs in order —
    // so exact-duplicate documents keep one full copy and later copies
    // collapse to empty, while partial overlaps lose only the shared
    // spans. Shape: chunking is in-scan lambda work (no explode until
    // the paragraph relation), first-occurrence is ONE window shuffle
    // on hash(para) — work ∝ corpus paragraphs, state ∝ nothing — and
    // the rebuild is one groupBy(doc_id) with an order-restoring
    // array_sort, never a self-join. The oracle replays chunking,
    // ranking, and reassembly with DuckDB's 1-based list slices.
    QueryDef(
      "text_dedup_paragraph",
      (s, dir) => {
        val d = docsParallel(s, dir)
        val w = Window.partitionBy("para")
          .orderBy(col("doc_id").asc, col("p_idx").asc)
        val kept = paragraphs(d)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
        rebuildFromKept(d, kept)
      },
      Some(ParagraphDedupOracleSql)),

    // Corpus-frequency line removal (the CCNet/RefinedWeb boilerplate
    // pass): a chunk appearing in >= 3 DISTINCT documents is boilerplate
    // (nav bars, cookie banners, license headers) and EVERY occurrence
    // is dropped — the complement of paragraph dedup, which keeps the
    // first copy. Same shared 4-token chunking (`paragraphs`) so the
    // two passes can never disagree on what a "line" is. Shape: one
    // map-side-combined distinct-doc-frequency aggregate on hash(para),
    // one equi-join of the chunk relation against the surviving-chunk
    // frequencies on the SAME para key (exchange reuse, no second
    // chunking pass), one groupBy(doc_id) rebuild — work ∝ corpus
    // chunks, no self-join, no broadcast of anything corpus-sized. At
    // 100 TB the frequency table is the distinct-chunk relation —
    // orders of magnitude smaller than the corpus, and only its
    // BELOW-threshold rows flow into the join.
    QueryDef(
      "text_dedup_lines",
      (s, dir) => {
        val d = docsParallel(s, dir)
        val p = paragraphs(d)
        val rare = p.groupBy("para")
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") < 3)
          .select("para")
        val kept = p.join(rare, Seq("para"))
        rebuildFromKept(d, kept)
          .select(col("doc_id"), col("n_paras").as("n_lines"),
            col("n_kept"), col("clean_text"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              p AS (
                SELECT doc_id, i AS p_idx,
                  array_to_string(w[(i*4 + 1):(i*4 + 4)], ' ') AS para
                FROM tk, LATERAL (SELECT unnest(range(0,
                  CAST((len(w) + 3) // 4 AS INT))) AS i) ix),
              rare AS (
                SELECT para FROM p GROUP BY para
                HAVING count(DISTINCT doc_id) < 3),
              kept AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                  string_agg(para, ' ' ORDER BY p_idx) AS clean_text
                FROM p JOIN rare USING (para) GROUP BY doc_id)
              SELECT tk.doc_id,
                CAST((len(tk.w) + 3) // 4 AS BIGINT) AS n_lines,
                COALESCE(kept.n_kept, 0) AS n_kept,
                COALESCE(kept.clean_text, '') AS clean_text
              FROM tk LEFT JOIN kept ON tk.doc_id = kept.doc_id
              ORDER BY tk.doc_id""")),

    // TF-IDF weighted nearest neighbor over 3-token shingles — the
    // weighted-overlap similarity family (Jaccard treats every shingle
    // equally; here rare shingles dominate, the signal real template/
    // boilerplate detection needs). Everything stays EXACT integer
    // arithmetic so the oracle replays bit-for-bit: idf is the
    // floor-scaled rational (1000*(2N-2df+1)) div (2df+1) (the BM25
    // rational-idf trick, no log), weights tf*idf are BIGINTs, dot and
    // squared norms are 128-bit sums (Spark DECIMAL(38,0) / DuckDB
    // HUGEINT — exact to ~1e38, past which both engines ERROR rather
    // than silently wrap), and the reported cos² =
    // dot²/(‖a‖²·‖b‖²) divides two exactly-computed DECIMAL(38,0)
    // integers as one IEEE double division (sqrt never needed —
    // weights are positive so cos² ranks identically to cos).
    // Shape: inverted-index self-join on shingle with the stop-shingle
    // DF cap (shuffle ∝ sum(df²), never |docs|²), one window for the
    // per-doc argmax. Docs sharing no capped shingle have no neighbor
    // and drop out — deterministic on both engines.
    QueryDef(
      "dedup_tfidf_nn",
      (s, dir) => tfidfNn(s, dir, "dedup_tfidf_nn", None),
      Some(tfidfNnOracleSql(None)),
      // bench=false (r9, VERDICT task 2): the posting self-join is
      // Σdf² and df ∝ N/V on this vocabulary — measured e(0.1→1)=1.42,
      // 119 s at sf1, superlinear BEYOND the overhead floor. Stays
      // oracle-checked as the exact reporting form; the benched
      // pipeline form is dedup_tfidf_nn_capped below (posting-sample
      // cap, V·cap² joins) — the neighbor_sim/bfs_2hop treatment.
      bench = false),

    // TF-IDF nearest neighbor — the PIPELINE form: identical exact
    // rational-idf weights, 128-bit norm/dot arithmetic, and cos²
    // argmax as dedup_tfidf_nn above, but the posting list of every
    // shingle is first sampled down to TfidfPostingCap entries by the
    // engine-portable hash31(shingle:doc_id) order (ties impossible —
    // doc_id is unique within a shingle's postings). The dot self-join
    // is then provably ≤ V·cap² rows where the exact form's Σdf² grows
    // quadratically on dense vocabularies; norms are taken over the
    // SAME sampled relation so the cosine is self-consistent (each
    // shingle contributes to ≤ cap documents' vectors — the DISCO /
    // sampled-posting similarity-join discipline). On sparse corpora
    // (df ≤ cap everywhere) the sample is the identity and this equals
    // the exact form; as density grows, recall degrades gracefully
    // instead of the runtime blowing up. Oracle replays the identical
    // md5 sample order, so results stay bit-exact.
    QueryDef(
      "dedup_tfidf_nn_capped",
      (s, dir) =>
        tfidfNn(s, dir, "dedup_tfidf_nn_capped", Some(TfidfPostingCap)),
      Some(tfidfNnOracleSql(Some(TfidfPostingCap)))),

    // N-gram Jaccard near-dup pairs. Spark side: inverted-index join
    // (scale path); oracle: cross-join over distinct shingle lists —
    // identical output for threshold > 0.
    QueryDef(
      "dedup_ngram_jaccard",
      (s, dir) =>
        jaccardPairs(shingled(s, dir))
          .filter(col("jaccard") >= JaccardThreshold)
          .select("a_id", "b_id", "n_common", "jaccard")
          .orderBy("a_id", "b_id"),
      Some(s"""WITH $JaccardPairsCte
               SELECT p.a_id, p.b_id,
                 CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
                 ${jaccardSql("a.sh", "b.sh")} AS jaccard
               FROM pairs p
               JOIN d a ON a.doc_id = p.a_id
               JOIN d b ON b.doc_id = p.b_id
               ORDER BY a_id, b_id""")),

    // Prefix-filtered set-similarity join (the SSJoin/PPJoin family,
    // Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08): for Jaccard >= t,
    // any qualifying pair must share a shingle inside each side's
    // (n - ceil(t*n) + 1)-prefix under a GLOBAL shingle order — so only
    // prefixes are indexed, not full posting lists. With the canonical
    // rarest-first order (ascending document frequency, shingle
    // tie-break), prefix postings carry the corpus's RARE shingles:
    // viral shingles sort last and fall out of every prefix, which is
    // why this path needs no lossy stop-shingle DF cap — the candidate
    // reduction is PROVABLY lossless for the threshold (asserted against
    // the all-pairs oracle, and against jaccardPairs in DedupTextSpec).
    // At t=0.8 (the realistic near-dup bar; this corpus's planted
    // families sit above it) the prefix is ~20% of each doc, so the
    // candidate join mass is ~4% of the full inverted index's sum(df²).
    // Shape: one explode, one map-side-combined DF count, one join back
    // on the SAME shingle key (exchange reuse), one per-doc rank window,
    // a prefix-postings self-join, and a verify join of the ~matches-
    // sized candidate set against the checkpointed shingle arrays —
    // work ∝ corpus shingles + prefix collisions, never |docs|².
    // Body lives in prefixPairsFrom (cap=None — the lossless form);
    // shared verbatim with the capped pipeline form and both
    // dedup_cap_recall legs. Pipeline notes that apply here:
    // - df=1 shingles drop before the self-join (a candidate needs the
    //   SAME shingle in both prefixes; a df=1 shingle can never collide)
    //   — on word-soup corpora that lossless prune cuts the join input
    //   to the df>=2 sliver.
    // - the post-prune prefix relation is checkpointed: the self-join's
    //   alias renames would otherwise defeat subtree reuse and run the
    //   df-count + rank-window pipeline TWICE (plan-audited).
    // - SSJoin's length filter drops size-incompatible candidates
    //   LOSSLESSLY before verification (J >= t forces t·max(n_a,n_b)
    //   <= min(n_a,n_b)).
    // - verification COUNTS common shingles via two codegen'd
    //   equi-joins back to the posting relation — never a per-pair
    //   interpreted array_intersect (~70% of the query's CPU in the
    //   first formulation).
    QueryDef(
      "dedup_prefix_filter",
      (s, dir) =>
        prefixPairsFrom(shingled(s, dir).transform(Tables.materialize), None)
          .orderBy("a_id", "b_id"),
      Some(prefixFilterOracleSql(None)),
      // bench=false (r10, the sf1→sf10 decade): the prefix self-join is
      // Σ prefix-df² and this vocabulary SATURATES at scale — at sf10
      // all 29,791 possible trigrams carry df ≈ 880+, the join input is
      // 2.3 × 10^10 rows, and the single-node run dies on spill (first
      // attempt OOM-killed the VM through tmpfs, the disk-backed retry
      // filled 77 GB). e(0.1→1) measured 1.13 only because the floor
      // hides the df² term one decade longer than tfidf's. Stays
      // oracle-checked as the exact SSJoin reporting form (prefix
      // filtering is LOSSLESS for J ≥ t, the property the capped form
      // trades away); the benched pipeline form is
      // dedup_prefix_filter_capped below. Round-11 counterpoint: on the
      // Heaps-law corpus (realistic vocabulary, Σdf² = 2.4×10⁸ at sf10)
      // this exact form COMPLETES sf10 in 22.7 s at e(1→10)=0.47 — the
      // df² blowup is a property of saturated vocabularies, not of the
      // operator (SCALE.md round-11).
      bench = false),

    // The PIPELINE form of the SSJoin prefix filter — identical ranking,
    // prefix selection, length filter, and exact counting verification,
    // but the collision self-join runs on a per-shingle SAMPLE of at
    // most PrefixPostingCap prefix postings, chosen by the engine-
    // portable hash31(shingle:doc_id) order (deterministic, unbiased,
    // oracle-replayable — the dedup_tfidf_nn_capped recipe). Join work
    // is ≤ V·cap² at ANY corpus size; a true near-dup pair survives if
    // the two docs co-land in any shared prefix shingle's sample, so
    // recall degrades only on shingles past the cap — which on a
    // NON-saturated (real-text, Heaps-law) vocabulary is the viral tail
    // that carries no discrimination signal anyway. Verification still
    // counts common shingles on the FULL posting relation: every
    // emitted pair carries its exact Jaccard.
    // Body lives in prefixPairsFrom (cap=Some — the pipeline form); the
    // sample window shares the shingle partitioning with the collision
    // join it feeds, so at scale the sample and the join share one
    // exchange.
    QueryDef(
      "dedup_prefix_filter_capped",
      (s, dir) =>
        prefixPairsFrom(shingled(s, dir).transform(Tables.materialize),
            Some(PrefixPostingCap))
          .orderBy("a_id", "b_id"),
      Some(prefixFilterOracleSql(Some(PrefixPostingCap)))),

    // MinHash signatures, flattened to (doc_id, perm_id, sig_val) for the
    // oracle hash-compare. md5-based permutation hashes are engine-portable.
    QueryDef(
      "dedup_minhash",
      (s, dir) =>
        signatures(s, dir)
          .select(col("doc_id"), posexplode(col("sig")))
          .select(
            col("doc_id"),
            col("pos").cast("long").as("perm_id"),
            col("col").as("sig_val"))
          // plain parallel range sort. With AQE on, the sort's range-
          // sampling pass reads the child's materialized shuffle output
          // rather than recomputing the signature pipeline, so the former
          // repartition(1) single-task funnel (a scale-killer: all rows
          // through one task) is not needed to avoid double execution.
          .orderBy("doc_id", "perm_id"),
      Some(s"""WITH ${shingledSql()},
              $SignaturesSql
              SELECT doc_id, CAST(i - 1 AS BIGINT) AS perm_id, sg[i] AS sig_val
              FROM sig, (SELECT unnest(generate_series(1, $NumPerms)) AS i) idx
              ORDER BY doc_id, perm_id""")),

    // MinHash + LSH banding: candidate pairs from band-bucket collisions,
    // then exact Jaccard verification. This is the 100 TB dedup path —
    // the only shuffle is groupBy(band_id, band_key). The band keys are
    // engine-portable (md5-derived signatures, comma-joined), so the
    // whole candidate relation is oracle-checked in DuckDB.
    QueryDef(
      "dedup_minhash_pairs",
      (s, dir) => minhashPairs(s, dir, None),
      Some(MinhashPairsOracleSql)),

    // The CAPPED banding pair generator (r13 — the embedding family's
    // BandBucketCap ported to text banding): identical to
    // dedup_minhash_pairs except band buckets holding more than
    // TextBandBucketCap postings are dropped wholesale before the
    // self-join. On every healthy/Heaps corpus at gate scales the cap
    // never fires (buckets ≤ ~50 members) and the output is
    // bit-identical to the uncapped form; on a viral-template corpus
    // (clique mode) it is the form that survives sf10 — the uncapped
    // band self-join there is one-key-quadratic (C(m,2) candidates per
    // band for an m-member family) while this one's candidate count
    // stays ∝ N·cap. Recall cost is measured per-J-decile by
    // dedup_recall_curve's capped columns against planted truth.
    QueryDef(
      "dedup_minhash_pairs_capped",
      (s, dir) => minhashPairs(s, dir, Some(TextBandBucketCap)),
      Some(MinhashPairsCappedOracleSql)),

    // b-bit MinHash (Li & König, CACM 2011): keep only the low b=3 bits
    // of each of the 16 permutation minima, packed into ONE 48-bit
    // BIGINT per document — a 16× signature-storage compression
    // (16 longs → 1), the trick web-scale dedup indexes use to hold
    // billions of signatures in memory. Similarity is re-estimated from
    // the packed form alone: P[low-b bits agree] = J + (1-J)/2^b, so
    // Ĵ = (A/k − 2⁻ᵇ)/(1 − 2⁻ᵇ) with A the agreeing-permutation count —
    // emitted as the exact rational (8A−16)/112 in one closing IEEE
    // division. Candidates come from the SAME banded-LSH join as
    // dedup_minhash_pairs (band keys derive from the full minima,
    // upstream of compression), so this def is the storage-tier
    // readout: signatures ship compressed and estimation is pure
    // codegen bit arithmetic on two BIGINTs — no arrays in the
    // comparison path at all.
    QueryDef(
      "dedup_minhash_bbit",
      (s, dir) => {
        val sh = Tables.materialize(shingled(s, dir))
        // signatures feed the band keys AND the packed form: checkpoint
        // so the 16-permutation min-aggregate runs once
        val withSig = Tables.materialize(signaturesFrom(sh))
        val cand = bucketPairs(bandsOf(withSig), "doc_id", BandKey).distinct()
        val packedExpr = (0 until NumPerms).map(p =>
          shiftleft(pmod(element_at(col("sig"), p + 1), lit(8L)), 3 * p))
          .reduce(_ + _)
        val packed = withSig
          .select(col("doc_id"), packedExpr.as("packed"))
          .filter(col("packed").isNotNull)
        val agree = (0 until NumPerms).map { p =>
          when(shiftright(col("packed_a"), 3 * p).bitwiseAND(lit(7L)) ===
            shiftright(col("packed_b"), 3 * p).bitwiseAND(lit(7L)), 1L)
            .otherwise(0L)
        }.reduce(_ + _)
        cand
          .join(packed.select(col("doc_id").as("a_id"),
            col("packed").as("packed_a")), Seq("a_id"))
          .join(packed.select(col("doc_id").as("b_id"),
            col("packed").as("packed_b")), Seq("b_id"))
          .select(col("a_id"), col("b_id"), col("packed_a"),
            col("packed_b"), agree.as("agree"))
          .withColumn("j_bbit",
            (col("agree") * 8L - 16L).cast("double") / lit(112.0))
          .orderBy("a_id", "b_id")
      },
      Some(MinhashBandsCte + s""",
         pk AS (
           SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 16), p ->
               (sg[CAST(p AS INTEGER) + 1] % 8) << CAST(3*p AS INTEGER)))
               AS BIGINT) AS packed
           FROM sig),
         ${bandPairsSql("cand")},
         ag AS (
           SELECT c.a_id, c.b_id,
             pa.packed AS packed_a, pb.packed AS packed_b,
             CAST(list_sum(list_transform(range(0, 16), p ->
               CASE WHEN ((pa.packed >> CAST(3*p AS INTEGER)) & 7)
                       = ((pb.packed >> CAST(3*p AS INTEGER)) & 7)
                    THEN 1 ELSE 0 END)) AS BIGINT) AS agree
           FROM cand c
           JOIN pk pa ON pa.doc_id = c.a_id
           JOIN pk pb ON pb.doc_id = c.b_id
           WHERE pa.packed IS NOT NULL AND pb.packed IS NOT NULL)
         SELECT a_id, b_id, packed_a, packed_b, agree,
           CAST(agree * 8 - 16 AS DOUBLE) / 112.0 AS j_bbit
         FROM ag ORDER BY a_id, b_id""")),

    // Corpus-level MinHash via a typed custom Aggregator: element-wise
    // min over per-document signatures = the signature of each source's
    // concatenated shingle set (minhash union property). Associative +
    // commutative, so Spark runs it with map-side partial aggregation.
    QueryDef(
      "dedup_minhash_by_source",
      (s, dir) => {
        import s.implicits._
        val minhashUnion = udaf(new graft.functions.MinHashAgg(NumPerms))
        signatures(s, dir)
          .join(broadcast(docsParallel(s, dir).select("doc_id", "source")), Seq("doc_id"))
          .groupBy("source")
          .agg(minhashUnion(col("sig")).as("src_sig"))
          .select(col("source"), posexplode(col("src_sig")))
          .select(col("source"), col("pos").cast("long").as("perm_id"),
            col("col").as("sig_val"))
          .orderBy("source", "perm_id")
      },
      Some(s"""WITH ${shingledSql()},
              $SignaturesSql
              SELECT doc.source, CAST(i - 1 AS BIGINT) AS perm_id, min(sig.sg[i]) AS sig_val
              FROM sig
              JOIN documents doc USING (doc_id),
                   (SELECT unnest(generate_series(1, $NumPerms)) AS i) idx
              GROUP BY doc.source, i
              ORDER BY source, perm_id""")),

    // SimHash signature per document (16-bit, engine-portable arithmetic).
    QueryDef(
      "dedup_simhash",
      (s, dir) =>
        simhashed(s, dir).orderBy("doc_id"),
      Some(s"""WITH $SimhashSql
              SELECT doc_id, simhash FROM sg ORDER BY doc_id""")),

    // SimHash near-dup pairs by Hamming distance <= 3, via 4-bit chunk
    // blocking (pigeonhole): split each 16-bit signature into 4 chunks;
    // two signatures within Hamming distance 3 differ in at most 3 bits,
    // so at least one of the 4 chunks is IDENTICAL. Equi-join on
    // (chunk_idx, chunk_val) produces every qualifying pair as a hash-
    // join candidate — candidates ~ sum(bucket^2) over 64 buckets, never
    // |docs|^2, and no BroadcastNestedLoopJoin anywhere in the plan.
    // (The naive all-pairs form survives only in DedupSpec as the
    // equivalence check.) Exact Hamming is verified on candidates.
    QueryDef(
      "dedup_simhash_pairs",
      (s, dir) => {
        // 16-bit signatures SATURATE (result set grows ~quadratically
        // with corpus size), so this didactic variant gets a hard
        // registry-level gate; the production 60-bit
        // dedup_simhash_wide_pairs has no such cliff.
        requireAllPairsSmall(Tables.rowCount(s, dir, "documents"),
          "dedup_simhash_pairs (16-bit, saturating)", "docs",
          "dedup_simhash_wide_pairs")
        simhashChunkPairs(simhashed(s, dir))
      },
      // cross-join oracle is fine for DuckDB at sf0.01; the Spark plan is
      // the chunk-blocked equi-join, identical output for distance <= 3.
      // bench=false: 16 bits SATURATE — at sf0.1 ~22% of all pairs sit
      // within Hamming 3, so the RESULT SET is quadratic-ish in corpus
      // size regardless of blocking. Kept as the didactic variant
      // (oracle-checked + chunk-vs-naive equivalence in DedupTextSpec);
      // the production 60-bit dedup_simhash_wide_pairs is benched.
      bench = false,
      oracle = Some(s"""WITH $SimhashSql,
              ${hammingPairsSql("pairs")}
              SELECT a_id, b_id, hamming FROM pairs ORDER BY a_id, b_id""")),

    // Wide (60-bit) SimHash signature per document — the scale variant;
    // see simhashedWide. Oracle mirrors the two md5-derived hashes.
    QueryDef(
      "dedup_simhash_wide",
      (s, dir) => simhashedWide(s, dir).orderBy("doc_id"),
      Some(s"""WITH ${simhashWideSql()}
              SELECT doc_id, simhash FROM sg ORDER BY doc_id""")),

    // Wide-SimHash near-dup pairs: 4 x 15-bit chunk pigeonhole equi-join
    // (Hamming <= 3 => one 15-bit chunk identical). 32768 bucket values
    // per chunk keep collisions - and therefore the join - sparse at any
    // corpus size; this is the shipped 100 TB shape. The cross-join
    // oracle is for the small-scale check only.
    QueryDef(
      "dedup_simhash_wide_pairs",
      (s, dir) =>
        simhashChunkPairs(simhashedWide(s, dir), numChunks = 4, chunkBits = 15),
      Some(s"""WITH ${simhashWideSql()},
              ${hammingPairsSql("pairs")}
              SELECT a_id, b_id, hamming FROM pairs ORDER BY a_id, b_id""")),

    // The DECLARATIVE Hamming join: the same wide-SimHash pair relation
    // as dedup_simhash_wide_pairs, but written the way a user naturally
    // would — `join(..., bit_count(ha ^ hb) <= 3)` — which Spark alone
    // can only plan as a cartesian/BNLJ. The session-installed
    // HammingJoinRewrite optimizer rule (plans/HammingJoinRewrite.scala)
    // turns it into the union of 4 first-equal-chunk equi-joins
    // automatically; PlanSpec asserts the final plan has NO cartesian
    // and DedupTextSpec asserts bit-identical output to the
    // hand-blocked operator. This is the rule-makes-naive-code-scale
    // demonstration: the 100 TB shape no longer depends on the user
    // knowing the pigeonhole trick.
    QueryDef(
      "q_hamming_join_rule",
      (s, dir) => {
        val sig = Tables.materialize(simhashedWide(s, dir))
        val x = sig.select(col("doc_id").as("a_id"), col("simhash").as("ha"))
        val y = sig.select(col("doc_id").as("b_id"), col("simhash").as("hb"))
        x.join(y, expr("bit_count(ha ^ hb) <= 3") && col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            expr("bit_count(ha ^ hb)").cast("long").as("hamming"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH ${simhashWideSql()},
              ${hammingPairsSql("pairs")}
              SELECT a_id, b_id, hamming FROM pairs ORDER BY a_id, b_id""")),

    // The declarative Hamming join promoted to a full DEDUP PIPELINE
    // (r13, verdict task #7): user-shaped code end to end — write the
    // near-dup predicate the naive way (`bit_count(ha ^ hb) <= 3`),
    // let the session-installed HammingJoinRewrite rule plan it as the
    // union of 4 chunk equi-joins (PlanSpec asserts: no cartesian, no
    // BNLJ), then collapse the resulting pair relation to the
    // (doc_id, rep_id) representative map with connected components —
    // the same end product as dedup_cluster, driven by the 60-bit
    // SimHash modality. q_hamming_join_rule demonstrates the rewrite
    // on the bare pair relation; this entry is the benched proof that
    // a COMPLETE user pipeline (candidate join → closure → rep map)
    // keeps the 100 TB shape with zero hand-blocking.
    QueryDef(
      "dedup_simhash_declarative",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select("doc_id")
        connectedComponents(docs, declarativeHammingPairs(s, dir))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${simhashWideSql()},
              ${hammingPairsSql("pairs")},
              ${componentsSql("pairs", "documents")}
              SELECT doc_id, rep_id FROM cc ORDER BY doc_id""")),

    // Cluster collapse: near-dup candidate pairs -> connected components
    // -> one representative (min doc_id) per component -> the (doc_id,
    // rep_id) map over the WHOLE corpus (rep_id = self for docs with no
    // near-dup). This is the end product an LLM-data pipeline wants:
    // filter doc_id = rep_id and you have the deduplicated corpus.
    QueryDef(
      "dedup_cluster",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select("doc_id")
        connectedComponents(docs, jaccardEdges(shingled(s, dir)))
          .orderBy("doc_id")
      },
      // transitive closure via recursive CTE: rep = min reachable id
      Some(s"""WITH RECURSIVE $JaccardPairsCte,
               ${componentsSql("pairs", "documents")}
               SELECT doc_id, rep_id FROM cc ORDER BY doc_id""")),

    // Multi-generator cluster collapse — the pipeline's real end product:
    // ONE representative map over the union of all three candidate
    // generators (text n-gram Jaccard ∪ 60-bit wide-SimHash ∪ embedding-
    // cosine near-dup; vec_id and doc_id share the corpus id space), so a
    // document chained to another by ANY modality collapses into the same
    // cluster. Each generator is its scale-safe shape (inverted-index
    // join / chunk-blocked equi-join / banded LSH); the union adds no
    // shuffle of its own and connected components runs once over the
    // combined edge set. The oracle replays the identical three pair
    // relations (including the LSH band keys, so candidate MISSES match
    // too) and closes them with a recursive CTE.
    QueryDef(
      "dedup_cluster_multi",
      (s, dir) => {
        val jac = jaccardEdges(shingled(s, dir))
        val sim = simhashChunkPairs(simhashedWide(s, dir), numChunks = 4, chunkBits = 15)
          .select("a_id", "b_id")
        val embp = Similarity.nearDupPairs(s, dir).select("a_id", "b_id")
        val docs = Tables.load(s, dir, "documents").select("doc_id")
        connectedComponents(docs, jac.union(sim).union(embp))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${shingledSql()},
               ${jaccardEdgesSql("jpairs")},
               ${simhashWideSql()},
               ${hammingPairsSql("spairs")},
               ${Similarity.nearDupPairsSql()},
               pairs AS (
                 SELECT a_id, b_id FROM jpairs
                 UNION SELECT a_id, b_id FROM spairs
                 UNION SELECT a_id, b_id FROM epairs),
               ${componentsSql("pairs", "documents")}
               SELECT doc_id, rep_id FROM cc ORDER BY doc_id""")),

    // Incremental dedup: the realistic production loop is not "dedup the
    // whole corpus from scratch" but "probe a NEW BATCH against the
    // standing corpus and keep only the novel documents". Docs with
    // doc_id % 5 == 0 play the new batch, the rest the standing corpus; a
    // new doc is dropped iff it shares >= 1 LSH band key with any corpus
    // doc. Scale shape: the corpus side is a pre-computed band-key index
    // at 100 TB (built once, stored banded), the batch is small — so the
    // BATCH bands broadcast and the corpus index STREAMS past them in one
    // pass, never shuffling on band keys (PlanSpec asserts this); only
    // the collided batch doc_ids (∝ collisions) and the final anti-join
    // on batch doc_ids ever shuffle.
    QueryDef(
      "dedup_incremental",
      (s, dir) => {
        // bands feed both sides of the probe; one localCheckpoint keeps
        // the signature pipeline from running twice
        val bands = Tables.materialize(bandsOf(signatures(s, dir)))
        val isNew = pmod(col("doc_id"), lit(5)) === 0
        val batchBands = bands.filter(isNew)
          .select(col("band_id"), col("band_key"), col("doc_id").as("new_id"))
        val collided = bands.filter(!isNew)
          .join(broadcast(batchBands), Seq("band_id", "band_key"))
          .select(col("new_id").as("doc_id")).distinct()
        Tables.load(s, dir, "documents").select("doc_id").filter(isNew)
          .join(collided, Seq("doc_id"), "left_anti")
          .orderBy("doc_id")
      },
      Some(MinhashBandsCte + """,
         coll AS (
           SELECT DISTINCT x.doc_id
           FROM bands x JOIN bands y
             ON x.b = y.b AND x.band_key = y.band_key
            AND x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0)
         SELECT doc_id FROM documents
         WHERE doc_id % 5 = 0
           AND doc_id NOT IN (SELECT doc_id FROM coll)
         ORDER BY doc_id""")),

    // SERVED incremental dedup — dedup_incremental's probe against a
    // PERSISTED band index (the sim_ann_ivf_served lifecycle applied to
    // text dedup): the existing corpus's (doc_id, band_id, band_key)
    // relation is built ONCE and saved as parquet partitioned by
    // band_id; each incoming batch (doc_id % 13 == 0 stands in for the
    // new shard) computes only ITS OWN signatures, probes the loaded
    // index by band-key equi-join, and exact-Jaccard-verifies the
    // collisions — emitting the (batch doc, existing dup, jaccard)
    // evidence an ingest gate acts on. Index build cost is paid once
    // per corpus version (refresh = rebuild + path swap, same as the
    // IVF index); per-batch cost ∝ batch bands + collisions. The
    // exact-verify join re-reads only MATCHED docs' shingles (point
    // lookups at serving time). Oracle replays index+probe+verify.
    QueryDef(
      "dedup_minhash_served",
      (s, dir) => {
        val idx = minhashIndexDir(s, dir)
        val index = s.read
          .schema("doc_id BIGINT, band_key STRING, band_id BIGINT")
          .parquet(s"$idx/bands")
          .select(col("doc_id").as("corpus_id"), col("band_id"),
            col("band_key"))
        val sh = Tables.materialize(shingled(s, dir)) // verify legs x2
        val batchBands =
          bandsOf(signaturesFrom(sh.filter(pmod(col("doc_id"), lit(13)) === 0)))
            .select(col("doc_id").as("batch_id"), col("band_id"),
              col("band_key"))
        val cand = index.join(broadcast(batchBands), Seq("band_id", "band_key"))
          .select(col("batch_id"), col("corpus_id")).distinct()
        cand
          .join(sh.select(col("doc_id").as("batch_id"), col("sh").as("sh_b")),
            Seq("batch_id"))
          .join(sh.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c")),
            Seq("corpus_id"))
          .select(col("batch_id"), col("corpus_id").as("dup_of"),
            jaccard(col("sh_b"), col("sh_c")).as("jaccard"))
          .filter(col("jaccard") >= JaccardThreshold)
          .orderBy("batch_id", "dup_of")
      },
      Some(MinhashBandsCte + s""",
         probe AS (
           SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS dup_of
           FROM bands x JOIN bands y
             ON x.b = y.b AND x.band_key = y.band_key
           WHERE x.doc_id % 13 = 0 AND y.doc_id % 13 <> 0)
         SELECT p.batch_id, p.dup_of, ${jaccardSql("da.sh", "db.sh")} AS jaccard
         FROM probe p
         JOIN d da ON da.doc_id = p.batch_id
         JOIN d db ON db.doc_id = p.dup_of
         WHERE ${jaccardSql("da.sh", "db.sh")} >= $JaccardThreshold
         ORDER BY batch_id, dup_of""")),

    // Verbatim-substring dedup (the Lee-et-al. "duplicated training
    // substring" signal): doc pairs sharing >= 1 exact 8-token window,
    // with the count of shared distinct windows AND the LONGEST shared
    // verbatim run in tokens. Shape: positional windows → inverted-index
    // equi-join on the window (shuffle ∝ postings², viral windows capped
    // by the same broadcast anti-join as Jaccard), then the run length
    // falls out of gaps-and-islands per (pair, a_pos − b_pos) diagonal —
    // two window passes over only the MATCHED rows (∝ collisions, never
    // corpus-sized). A 31-bit-hash join key would halve the shuffle at
    // 100 TB; the window string keeps the oracle byte-exact here.
    QueryDef(
      "dedup_substring",
      (s, dir) => {
        val W = 8
        // positional postings feed the viral-DF count and both join
        // sides; checkpoint so the corpus is windowed exactly once
        val postings = docsParallel(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("ts"))
          .select(col("doc_id"),
            posexplode(TextAnalysis.tokenWindows(col("ts"), W)).as(Seq("pos", "w")))
          .transform(Tables.materialize)
        val kept = dropViral(postings, Seq("w"), MaxShingleDF)
        val m = kept.select(col("w"), col("doc_id").as("a_id"), col("pos").as("a_pos"))
          .join(kept.select(col("w"), col("doc_id").as("b_id"), col("pos").as("b_pos")),
            Seq("w"))
          .filter(col("a_id") < col("b_id"))
        val island = col("a_pos") - row_number().over(
          Window.partitionBy(col("a_id"), col("b_id"), col("a_pos") - col("b_pos"))
            .orderBy("a_pos"))
        // matched rows feed both aggregates (distinct-window count and
        // the island streaks) — checkpoint the small matched set once
        val mm = Tables.materialize(m)
        val nsh = mm.groupBy("a_id", "b_id")
          .agg(count_distinct(col("w")).as("n_shared"))
        val runs = mm.withColumn("island", island)
          .groupBy(col("a_id"), col("b_id"),
            (col("a_pos") - col("b_pos")).as("g"), col("island"))
          .agg(count(lit(1)).as("streak"))
          .groupBy("a_id", "b_id")
          .agg((max(col("streak")) + (W - 1)).as("max_run_tokens"))
        nsh.join(runs, Seq("a_id", "b_id"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH p AS (
                SELECT doc_id, i - 1 AS pos,
                  array_to_string(string_split(text, ' ')[i:i+7], ' ') AS w
                FROM documents, LATERAL (SELECT unnest(range(1,
                  len(string_split(text, ' ')) - 6)) AS i) ix),
              m AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                  a.pos AS a_pos, b.pos AS b_pos, a.w
                FROM p a JOIN p b ON a.w = b.w AND a.doc_id < b.doc_id),
              r AS (
                SELECT a_id, b_id, w, a_pos - b_pos AS g,
                  a_pos - row_number() OVER
                    (PARTITION BY a_id, b_id, a_pos - b_pos ORDER BY a_pos)
                    AS island
                FROM m),
              isl AS (
                SELECT a_id, b_id, g, island, count(*) AS streak
                FROM r GROUP BY 1, 2, 3, 4),
              nsh AS (
                SELECT a_id, b_id, count(DISTINCT w) AS n_shared
                FROM m GROUP BY 1, 2),
              runs AS (
                SELECT a_id, b_id, max(streak) + 7 AS max_run_tokens
                FROM isl GROUP BY 1, 2)
              SELECT nsh.a_id, nsh.b_id,
                CAST(n_shared AS BIGINT) AS n_shared,
                CAST(max_run_tokens AS BIGINT) AS max_run_tokens
              FROM nsh JOIN runs
                ON nsh.a_id = runs.a_id AND nsh.b_id = runs.b_id
              ORDER BY nsh.a_id, nsh.b_id""")),

    // Candidate generation + EXACT verification — the two-stage shape
    // every production near-dup pipeline ends with: cheap sketch blocking
    // (60-bit wide SimHash, Hamming <= 3) proposes candidates, then the
    // expensive exact measure (Levenshtein edit distance, built-in codegen
    // expression) confirms or rejects each one. Edit distance is O(len_a x
    // len_b) per pair, so it must NEVER see the corpus cross product —
    // here it runs on the collision set only (21 candidate pairs at
    // sf0.01, of which 2 are sketch false-positives that the exact check
    // rejects). Texts join onto candidates by doc_id (two hash joins),
    // so the corpus is scanned, not collected.
    QueryDef(
      "dedup_edit_verify",
      (s, dir) => {
        val docs = docsParallel(s, dir).select("doc_id", "text")
        simhashChunkPairs(simhashedWide(s, dir), numChunks = 4, chunkBits = 15)
          .join(docs.select(col("doc_id").as("a_id"), col("text").as("t_a")), Seq("a_id"))
          .join(docs.select(col("doc_id").as("b_id"), col("text").as("t_b")), Seq("b_id"))
          .withColumn("edit_dist", levenshtein(col("t_a"), col("t_b")).cast("long"))
          .filter(col("edit_dist") <= MaxEditDist)
          .select("a_id", "b_id", "hamming", "edit_dist")
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH ${simhashWideSql()},
              ${hammingPairsSql("pairs")}
              SELECT p.a_id, p.b_id, p.hamming,
                CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
              FROM pairs p
              JOIN documents da ON da.doc_id = p.a_id
              JOIN documents db ON db.doc_id = p.b_id
              WHERE levenshtein(da.text, db.text) <= $MaxEditDist
              ORDER BY a_id, b_id""")),

    // The capstone: the full corpus-cleaning pipeline composed END-TO-END
    // in one plan — quality gate (map-only) → exact dedup (one text-key
    // window) → near-dup drop (wide-SimHash candidates over the
    // SURVIVORS; greedy rule: any doc with a smaller-id near-dup
    // neighbor is dropped — a deterministic single-pass stand-in for the
    // full cluster collapse, which dedup_cluster_multi ships separately)
    // → stable 90/5/5 split → per-(split, lang) corpus statistics.
    // Every stage is the scale shape it ships as individually; composing
    // them adds no new shuffle beyond each stage's own. The oracle
    // replays the entire pipeline in one CTE chain.
    QueryDef(
      "pipeline_corpus_clean",
      (s, dir) => {
        import graft.operators.TextAnalysis.{qualityGate, splitBucket, splitOf}
        val kept = docsParallel(s, dir).filter(qualityGate(col("text")))
        val deduped = kept
          .withColumn("rep",
            min(col("doc_id")).over(Window.partitionBy("text")))
          .filter(col("doc_id") === col("rep")).drop("rep")
          .transform(Tables.materialize) // feeds the simhash pipeline AND the anti-join
        val drops = simhashChunkPairs(
            simhashWideOf(deduped), numChunks = 4, chunkBits = 15)
          .select(col("b_id").as("doc_id")).distinct()
        deduped.join(drops, Seq("doc_id"), "left_anti")
          .withColumn("split", splitOf(splitBucket(col("doc_id"))))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
          .orderBy("split", "lang")
      },
      Some(s"""WITH ${TextAnalysis.qualityGateSql("doc_id, text, lang")},
              dd AS (
                SELECT doc_id, text, lang FROM (
                  SELECT k.*, min(doc_id) OVER (PARTITION BY text) AS rep
                  FROM kept k)
                WHERE doc_id = rep),
              ${simhashWideSql("dd")},
              ${hammingPairsSql("drops")},
              surv AS (
                SELECT * FROM dd
                WHERE doc_id NOT IN (SELECT b_id FROM drops)),
              sp AS (
                SELECT lang, text, ${TextAnalysis.splitSql("doc_id")} AS split
                FROM surv)
              SELECT split, lang, count(*) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
              FROM sp GROUP BY split, lang
              ORDER BY split, lang""")),

    // The VIRAL-SAFE capstone (r13, verdict stretch #8): the corpus-
    // cleaning pipeline a platform team runs when the corpus is
    // suspected of boilerplate/template families — quality gate
    // (map-only) → STAR-capped banded-LSH candidates (viral buckets
    // emit anchor→member edges: m−1 rows, never C(m,2) — see
    // bandCandidatesStarCapped) → exact-Jaccard verify → connected-
    // components cluster collapse to one representative per family →
    // token-budget sample over the representative corpus (the
    // sample_token_budget allocator: B = ⌊Σtok/5⌋, per-source share
    // ∝ ⌊√tok_s⌋, greedy fill by the md5 uniform). Output is the run
    // MANIFEST — one row of exact stage counts (docs → kept → candidate
    // pairs → verified pairs → representatives → sampled docs/tokens),
    // which is what a pipeline orchestrator records per run and what
    // the oracle replays end to end. Unlike pipeline_corpus_clean
    // (exact dedup + wide-SimHash greedy drop), every stage here keeps
    // its 100 TB shape ON A VIRAL CORPUS: the candidate join is bounded
    // per bucket, the collapse still merges the whole template family
    // through the star edges, and the budget never materializes
    // corpus-sized state (k-row source aggregate + one window).
    QueryDef(
      "pipeline_viral_clean",
      (s, dir) => viralCleanRun(s, dir),
      Some(s"""WITH RECURSIVE ${TextAnalysis.qualityGateSql("doc_id, text, source")},
              ${shingledSql("kept")},
              $SignaturesSql,
              ${bandsSql()},
              bstat AS MATERIALIZED (
                SELECT doc_id, b, band_key,
                  count(*) OVER (PARTITION BY b, band_key) AS bdf,
                  min(doc_id) OVER (PARTITION BY b, band_key) AS anchor
                FROM bands),
              cand AS MATERIALIZED (
                SELECT DISTINCT a_id, b_id FROM (
                  SELECT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM bstat x JOIN bstat y
                    ON x.b = y.b AND x.band_key = y.band_key
                     AND x.doc_id < y.doc_id
                  WHERE x.bdf <= $TextBandBucketCap
                  UNION ALL
                  SELECT anchor, doc_id FROM bstat
                  WHERE bdf > $TextBandBucketCap AND doc_id != anchor)),
              pairs AS MATERIALIZED (
                SELECT c.a_id, c.b_id
                FROM cand c
                JOIN d da ON da.doc_id = c.a_id
                JOIN d db ON db.doc_id = c.b_id
                WHERE ${jaccardSql("da.sh", "db.sh")} >= $JaccardThreshold),
              ${componentsSql("pairs", "kept")},
              reps AS MATERIALIZED (
                SELECT k.doc_id, k.text, k.source
                FROM kept k JOIN cc ON cc.doc_id = k.doc_id
                WHERE cc.rep_id = k.doc_id),
              ${TextAnalysis.tokenBudgetSql("samp", "reps", "pclean")}
              SELECT
                (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
                (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_kept,
                (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
                (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs,
                (SELECT CAST(count(*) AS BIGINT) FROM reps) AS n_reps,
                (SELECT CAST(count(*) AS BIGINT) FROM samp) AS n_sampled,
                (SELECT CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM samp)
                  AS n_toks_sampled""")),

    // Candidate-generator QA — the eval every dedup deployment needs
    // before trusting a sketch: precision/recall of each approximate
    // generator's CANDIDATE set against the exact n-gram-Jaccard truth
    // (threshold = the production JaccardThreshold). All counts are
    // exact integers and the two ratios are single IEEE divisions, so
    // the whole scorecard is oracle-checked; at 100 TB the same query
    // runs over a sampled stratum. (Counts are driver-side scalars —
    // three bounded aggregates per generator, never row data.)
    QueryDef(
      "dedup_eval",
      (s, dir) => {
        val sh = Tables.materialize(shingled(s, dir))
        val (truth, Seq(nTruth)) =
          Tables.checkpointMeasured(jaccardEdges(sh), count(lit(1)))
        // bands materialized once (r14): the signature pipeline
        // otherwise ran twice — once per join side
        val bands = bandsOf(signaturesFrom(sh)).transform(Tables.materialize)
        val mhCand = bucketPairs(bands, "doc_id", BandKey).distinct()
        val shCand = simhashChunkPairs(
            simhashedWide(s, dir), numChunks = 4, chunkBits = 15)
          .select("a_id", "b_id")
        // one pass per generator: candidate count and truth-hit count
        // fold into a single aggregate over a broadcast-truth left join
        // (truth is pair-scale, ≪ corpus), so each candidate frame has
        // exactly ONE consumer and never needs materializing. The two
        // scorecards stay LAZY 1-row frames unioned into the final
        // result (r14): the previous per-generator collect() serialized
        // them as two driver actions — now both generators compute in
        // parallel inside the one closing job. Same values, same types.
        def scorecard(name: String, cand: DataFrame): DataFrame =
          cand
            .join(broadcast(truth.withColumn("t", lit(1))),
              Seq("a_id", "b_id"), "left")
            .agg(count(lit(1)).as("n"),
              coalesce(sum(coalesce(col("t"), lit(0))), lit(0L)).as("hit"))
            .select(lit(name).as("generator"),
              col("n").as("n_cand"),
              lit(nTruth).as("n_truth"),
              col("hit").as("n_hit"),
              when(col("n") === 0, lit(0.0))
                .otherwise(col("hit").cast("double") / col("n").cast("double"))
                .as("precision"),
              (if (nTruth == 0) lit(0.0)
               else col("hit").cast("double") / lit(nTruth.toDouble))
                .as("recall"))
        scorecard("minhash_lsh", mhCand)
          .unionAll(scorecard("simhash_wide", shCand))
          .orderBy("generator")
      },
      Some(DedupEvalOracleSql)),

    // Bloom-filter dedup probe: the constant-memory front gate of an
    // incremental ingest loop. The standing corpus is summarized as a
    // Bloom filter (m = 4096 bits, k = 3 md5-derived positions per
    // document text); a new-batch document is flagged as a duplicate iff
    // ALL THREE of its positions are set — the textbook membership test,
    // INCLUDING its false positives, which is exactly what the output's
    // `collided` flag exposes (BloomSpec plants one). The bit array is
    // modeled as the distinct-position set, so the whole filter is
    // <= m rows and ships as a broadcast: at 100 TB the corpus side
    // aggregates to m bits once (map-side distinct), and the batch probe
    // is a map-only broadcast join — no shuffle of either corpus or
    // batch. Everything is md5-portable, so even the false positives
    // hash-match the oracle.
    QueryDef(
      "dedup_bloom_probe",
      (s, dir) => {
        val posCols = (0 until BloomK).map(i =>
          hash31(concat(lit(s"bf${i}_"), col("text"))) % BloomBits)
        // one position index feeds both the filter build and the probe
        val positions = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(array(posCols: _*)).as("pos"))
          .distinct()
          .transform(Tables.materialize)
        val isNew = pmod(col("doc_id"), lit(5)) === 0
        val bits = positions.filter(!isNew).select("pos").distinct()
        positions.filter(isNew)
          .join(broadcast(bits.withColumn("hit", lit(1))), Seq("pos"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("npos"),
            sum(coalesce(col("hit"), lit(0))).as("nmatch"))
          .select(col("doc_id"), (col("nmatch") === col("npos")).as("collided"))
          .orderBy("doc_id")
      },
      Some(s"""WITH pos AS (
                 SELECT DISTINCT doc_id,
                   ${hash31Sql("concat('bf', CAST(i AS VARCHAR), '_', text)")} % $BloomBits AS pos
                 FROM documents, (SELECT unnest(range(0, $BloomK)) AS i) ks),
               bits AS (
                 SELECT DISTINCT pos FROM pos WHERE doc_id % 5 <> 0),
               probe AS (
                 SELECT p.doc_id, count(*) AS npos,
                   sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS nmatch
                 FROM pos p LEFT JOIN bits b ON p.pos = b.pos
                 WHERE p.doc_id % 5 = 0
                 GROUP BY p.doc_id)
               SELECT doc_id, nmatch = npos AS collided
               FROM probe ORDER BY doc_id""")),

    // Directed containment pairs: C(A -> B) = |A ∩ B| / |A| — catches a
    // document mostly CONTAINED in a larger one (quote inclusion,
    // template wrapping), which symmetric Jaccard under-scores when the
    // sizes differ. Both directions fall out of the SAME inverted-index
    // pair aggregation Jaccard uses (n_common with both set sizes), so
    // the 100 TB shape is identical — one posting self-join, candidates
    // ∝ shared-shingle collisions, viral shingles capped.
    QueryDef(
      "dedup_containment",
      (s, dir) => {
        // the pair relation feeds BOTH direction projections — checkpoint
        // so the posting self-join + aggregation runs once, not twice
        val p = Tables.materialize(jaccardPairs(shingled(s, dir)))
        val ab = p.select(col("a_id").as("src_id"), col("b_id").as("dst_id"),
          (col("n_common").cast("double") / col("n_a").cast("double"))
            .as("containment"))
        val ba = p.select(col("b_id").as("src_id"), col("a_id").as("dst_id"),
          (col("n_common").cast("double") / col("n_b").cast("double"))
            .as("containment"))
        ab.union(ba).filter(col("containment") >= ContainmentThreshold)
          .orderBy("src_id", "dst_id")
      },
      Some(s"""WITH ${shingledSql()}
               SELECT a.doc_id AS src_id, b.doc_id AS dst_id,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / CAST(len(a.sh) AS DOUBLE) AS containment
               FROM d a, d b
               WHERE a.doc_id != b.doc_id AND len(a.sh) > 0
                 AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / CAST(len(a.sh) AS DOUBLE) >= $ContainmentThreshold
               ORDER BY src_id, dst_id""")),

    // Soft dedup by REWEIGHTING instead of dropping: every document gets
    // training weight 1/|near-dup cluster| (the "count duplicates once in
    // expectation" alternative to hard removal — preserves coverage while
    // de-biasing repeated content), plus its cluster id and canonical
    // flag so a sampler can choose either policy from one table. Clusters
    // are the same Jaccard-pair connected components dedup_cluster
    // collapses (scale-safe inverted-index candidates + pointer-doubled
    // propagation); the only addition is one window count over rep_id.
    // The weight is CAST(1)/CAST(size) — a single IEEE division, so the
    // whole table is oracle-exact.
    QueryDef(
      "dedup_weighting",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select("doc_id")
        val w = Window.partitionBy("rep_id")
        connectedComponents(docs, jaccardEdges(shingled(s, dir)))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .select(col("doc_id"), col("rep_id"), col("cluster_size"),
            (col("doc_id") === col("rep_id")).as("canonical"),
            (lit(1.0) / col("cluster_size").cast("double")).as("weight"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $JaccardPairsCte,
               ${componentsSql("pairs", "documents")}
               SELECT doc_id, rep_id,
                 CAST(count(*) OVER w AS BIGINT) AS cluster_size,
                 doc_id = rep_id AS canonical,
                 CAST(1 AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE) AS weight
               FROM cc
               WINDOW w AS (PARTITION BY rep_id)
               ORDER BY doc_id""")),

    // Duplication profile — the curation-report view of the cluster map:
    // how many near-dup families exist at each size, and how many
    // documents they absorb. size 1 = unique documents; a heavy tail
    // here (one family of 10⁶ copies) is the signal that triggers
    // template-capping. Shape: the same connected-components loop as
    // dedup_cluster, then TWO map-side-combined count aggregations
    // (rep_id → family size → size histogram); the histogram relation is
    // at most distinct-sizes rows, so the final sort is over a tiny
    // relation at any corpus scale.
    QueryDef(
      "dedup_cluster_sizes",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select("doc_id")
        connectedComponents(docs, jaccardEdges(shingled(s, dir)))
          .groupBy("rep_id").agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size")
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("cluster_size")).as("n_docs"))
          .orderBy("cluster_size")
      },
      Some(s"""WITH RECURSIVE $JaccardPairsCte,
               ${componentsSql("pairs", "documents")},
               fam AS (
                 SELECT rep_id, count(*) AS cluster_size
                 FROM cc GROUP BY rep_id)
               SELECT cluster_size,
                 CAST(count(*) AS BIGINT) AS n_clusters,
                 CAST(sum(cluster_size) AS BIGINT) AS n_docs
               FROM fam GROUP BY cluster_size
               ORDER BY cluster_size""")),

    // LSH banding tradeoff CURVE — the table an engineer reads to set
    // (bands, rows): one row per rows-per-band setting (1/2/4 over the
    // 16 permutations) with the candidate count the banding join would
    // materialize (the TRUE cost — band collisions are the shuffle) and
    // precision/recall of those candidates against the exact-Jaccard
    // truth. More rows per band → fewer, higher-precision candidates;
    // fewer rows → recall. Same scorecard discipline as dedup_eval /
    // sim_ivf_tradeoff: the signatures and the truth come from ONE
    // shared checkpointed shingle frame (the registry's own building
    // blocks re-invoked), counts exact, divisions guarded. Shape per
    // leg: one bands self-equi-join (shuffle ∝ bucket collisions) +
    // three 1-row aggregates combined by broadcast; the truth relation
    // is computed once for all legs.
    QueryDef(
      "dedup_lsh_tune",
      (s, dir) => {
        val sh = Tables.materialize(shingled(s, dir))
        val withSig = Tables.materialize(signaturesFrom(sh))
        val (truth, Seq(nTruth)) =
          Tables.checkpointMeasured(jaccardEdges(sh), count(lit(1)))
        // one pass per leg (r14, the dedup_eval scorecard shape):
        // candidate count and truth-hit count fold into a single
        // aggregate over a broadcast-truth left join, so each leg's
        // banding self-join has exactly ONE consumer — the previous
        // per-leg cand localCheckpoint (3 eager barriers serializing
        // the legs) is gone and all three legs compute in parallel
        // inside the one closing job. Same counts, same types.
        def leg(rows: Int): DataFrame =
          bucketPairs(bandsOf(withSig, rows), "doc_id", BandKey).distinct()
            .join(broadcast(truth.withColumn("t", lit(1))),
              Seq("a_id", "b_id"), "left")
            .agg(count(lit(1)).as("n_candidates"),
              coalesce(sum(coalesce(col("t"), lit(0))), lit(0L)).as("hit"))
            .select(lit(rows.toLong).as("band_rows"),
              lit((NumPerms / rows).toLong).as("n_bands"),
              col("n_candidates"),
              lit(nTruth).as("n_truth"),
              col("hit").as("n_hit"),
              when(col("n_candidates") === 0, lit(0.0))
                .otherwise(col("hit").cast("double") /
                  col("n_candidates").cast("double")).as("prec"),
              (if (nTruth == 0) lit(0.0)
               else col("hit").cast("double") / lit(nTruth.toDouble))
                .as("recall"))
        LshTuneRows.map(leg).reduce(_ union _).orderBy("band_rows")
      },
      Some(LshTuneOracleSql)),

    // Exact-vs-capped recall scorecard (round-11 verdict task #8): the
    // cap discipline (PrefixPostingCap=32 sampled postings per prefix
    // shingle) is what lets the SSJoin pipeline run at ANY corpus size
    // — the sf10 saturation experiment proved the exact form dies —
    // but until now its quality cost was a design argument, not a
    // measured number. This operator runs BOTH forms over one shared
    // shingle checkpoint and scores the capped candidate generator
    // against the exact (lossless) one: n_hit / n_exact is the recall
    // the cap trades for its V·cap² join bound. Because the capped
    // prefix relation is a strict subset of the exact one and
    // verification recounts every pair on the FULL posting relation,
    // capped pairs ⊆ exact pairs structurally — the emitted
    // precision = 1.0 row PROVES the subset property held on this
    // corpus rather than asserting it. Shape: the two pipelines share
    // one shingled()/postings scan; each leg is the established
    // Σ prefix-df² (exact) / V·cap² (capped) join; the close is three
    // 1-row broadcast aggregates (the dedup_lsh_tune recipe). On a
    // Heaps-law corpus the viral tail past the cap carries no
    // discrimination signal, so recall should sit near 1; on the
    // saturated fixture vocabulary it measures the worst case.
    QueryDef(
      "dedup_cap_recall",
      (s, dir) => {
        val sh = Tables.materialize(shingled(s, dir))
        val exact = prefixPairsFrom(sh, None)
          .select("a_id", "b_id").transform(Tables.materialize)
        val capped = prefixPairsFrom(sh, Some(PrefixPostingCap))
          .select("a_id", "b_id").transform(Tables.materialize)
        val nExact = exact.agg(count(lit(1)).as("n_exact"))
        val nCapped = capped.agg(count(lit(1)).as("n_capped"))
        val nHit = capped.join(exact, Seq("a_id", "b_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
        nExact.crossJoin(broadcast(nCapped)).crossJoin(broadcast(nHit))
          .select(col("n_exact"), col("n_capped"), col("n_hit"),
            when(col("n_capped") === 0, lit(0.0))
              .otherwise(col("n_hit").cast("double") /
                col("n_capped").cast("double")).as("prec"),
            when(col("n_exact") === 0, lit(0.0))
              .otherwise(col("n_hit").cast("double") /
                col("n_exact").cast("double")).as("recall"))
      },
      Some(CapRecallOracleSql),
      // bench=false (r12 advice): the exact leg is the same
      // Σ prefix-df² self-join that makes dedup_prefix_filter
      // bench=false — on the SATURATED fixture vocabulary at sf10 that
      // join provably dies (77 GB spill, r10), and a default growth
      // sweep would rerun the blowup inside the scorecard. Same
      // reporting-class posture as dedup_prefix_filter: oracle-checked
      // on every gate corpus, and its decade rows are measured
      // explicitly (SPARK_GRAFT_ONLY) on Heaps-law corpora where the
      // exact leg is known to run (SCALE.md r11: e(1→10)=0.42).
      bench = false),

    // Recall against PLANTED ground truth (round-11, rides the Heaps
    // corpus): the heaps CorpusGen mode writes dup provenance IN-BAND —
    // a planted near-duplicate's `source` column is 'dupof<src_id>' —
    // so ground truth is recoverable from the data alone, by ANY
    // evaluator, with no generator-seed knowledge. This scores the
    // LSH banding candidate generator (the 100 TB scale path: 8 bands
    // × 2 rows over 16 minhash perms) against that truth: did the
    // bucketed generator surface the pairs we KNOW are near-dups?
    // dedup_lsh_tune scores candidates against the THRESHOLDED Jaccard
    // relation (self-referential truth — whatever the corpus happens
    // to contain); this is the independent, generator-planted answer
    // key. On corpora without dupof markers truth is empty and the
    // zero-convention row documents that. Shape: signature pipeline +
    // band-bucket equi-join + three 1-row broadcast aggregates — no
    // all-pairs anything.
    QueryDef(
      "dedup_planted_recall",
      (s, dir) => {
        val sh = Tables.materialize(shingled(s, dir))
        // ONE banded checkpoint shared by both generator legs (r14):
        // the exact and capped legs previously each rebuilt the whole
        // signature pipeline and eagerly checkpointed their candidate
        // sets — 4 serialized jobs; now both legs stay lazy over the
        // shared bands and compute in parallel inside the closing job.
        val bands0 = bandRowsChk(sh)
        val cand = bandCandidatesFromRows(bands0, None)
        // the CAPPED generator scored side by side (r13): what does the
        // TextBandBucketCap cost against planted truth? On unplanted or
        // sub-cap corpora the two columns are identical by construction.
        val candC = bandCandidatesFromRows(bands0, Some(TextBandBucketCap))
        val truth = plantedTruth(s, dir).transform(Tables.materialize)
        val nCand = cand.agg(count(lit(1)).as("n_candidates"))
        val nTruth = truth.agg(count(lit(1)).as("n_truth"))
        val nHit = truth.join(cand, Seq("a_id", "b_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
        val nCandC = candC.agg(count(lit(1)).as("n_cand_capped"))
        val nHitC = truth.join(candC, Seq("a_id", "b_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit_capped"))
        nTruth.crossJoin(broadcast(nCand)).crossJoin(broadcast(nHit))
          .crossJoin(broadcast(nCandC)).crossJoin(broadcast(nHitC))
          .select(col("n_truth"), col("n_candidates"), col("n_hit"),
            when(col("n_truth") === 0, lit(0.0))
              .otherwise(col("n_hit").cast("double") /
                col("n_truth").cast("double")).as("recall"),
            col("n_cand_capped"), col("n_hit_capped"),
            when(col("n_truth") === 0, lit(0.0))
              .otherwise(col("n_hit_capped").cast("double") /
                col("n_truth").cast("double")).as("recall_capped"))
      },
      Some(MinhashBandsCte + MinhashCappedBandsCte + s""",
           ${bandPairsSql("cand")},
           ${bandPairsSql("candc", "kbands")},
           $PlantedTruthSql,
           c AS (
             SELECT
               (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
               (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
               (SELECT CAST(count(*) AS BIGINT) FROM truth t
                  WHERE EXISTS (SELECT 1 FROM cand c
                    WHERE c.a_id = t.a_id AND c.b_id = t.b_id)) AS n_hit,
               (SELECT CAST(count(*) AS BIGINT) FROM candc)
                 AS n_cand_capped,
               (SELECT CAST(count(*) AS BIGINT) FROM truth t
                  WHERE EXISTS (SELECT 1 FROM candc c
                    WHERE c.a_id = t.a_id AND c.b_id = t.b_id))
                 AS n_hit_capped)
           SELECT n_truth, n_candidates, n_hit,
             CASE WHEN n_truth = 0 THEN 0.0
               ELSE CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
               END AS recall,
             n_cand_capped, n_hit_capped,
             CASE WHEN n_truth = 0 THEN 0.0
               ELSE CAST(n_hit_capped AS DOUBLE) / CAST(n_truth AS DOUBLE)
               END AS recall_capped
           FROM c""")),

    // Per-J recall CURVE for the banding generator (round-12 stretch
    // task #8) — the final calibration artifact for the 100 TB banding
    // parameters: dedup_planted_recall reports ONE aggregate recall;
    // this buckets the planted truth pairs by their TRUE trigram
    // Jaccard (computed exactly from the texts — the pairs are ~5% of
    // docs, so the verify join is linear) into deciles and scores the
    // 8-band × 2-row LSH candidate generator per decile, next to the
    // analytic S-curve 1 − (1 − J²)^8 evaluated at each decile's mean J
    // (the x8 power is three squarings — one identical IEEE sequence on
    // both engines; per-pair J is quantized to 1e-6 before the decile
    // mean so the mean is an integer sum, partition-order-free). An
    // engineer reads this table to see exactly WHERE the banding knee
    // sits versus where their dup families live. Shape: the planted
    // truth relation + two posting equi-joins (exact J), the band
    // self-join candidates (shared generator code with
    // dedup_planted_recall), one decile hash aggregate. No all-pairs.
    QueryDef(
      "dedup_recall_curve",
      (s, dir) => {
        val sh = Tables.materialize(shingled(s, dir))
        // shared banded checkpoint + lazy legs (r14) — see
        // dedup_planted_recall; here each candidate set has exactly one
        // consumer (its withJ join), so laziness costs no recompute.
        val bands0 = bandRowsChk(sh)
        val cand = bandCandidatesFromRows(bands0, None)
        // capped generator scored per decile next to the exact one
        // (r13): WHERE on the J axis does the viral-bucket cap cost
        // recall? Identical to cand wherever no bucket exceeds the cap.
        val candC = bandCandidatesFromRows(bands0, Some(TextBandBucketCap))
        val truth = plantedTruth(s, dir).transform(Tables.materialize)
        val posts = sh.select(col("doc_id"), explode(col("sh")).as("shingle"))
        val sizes = sh.select(col("doc_id"), size(col("sh")).as("n_sh"))
        val common = truth
          .join(posts.select(col("doc_id").as("a_id"), col("shingle")),
            Seq("a_id"))
          .join(posts.select(col("doc_id").as("b_id"), col("shingle")),
            Seq("b_id", "shingle"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_common"))
        // inner size joins: a truth side with < 3 tokens has no shingle
        // row and drops — unreachable on planted corpora (n_words >= 10)
        val withJ = truth
          .join(common, Seq("a_id", "b_id"), "left")
          .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("n_a")),
            Seq("a_id"))
          .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("n_b")),
            Seq("b_id"))
          .select(col("a_id"), col("b_id"),
            (coalesce(col("n_common"), lit(0L)).cast("double") /
              (col("n_a") + col("n_b")
                - coalesce(col("n_common"), lit(0L))).cast("double")).as("j"))
          .join(cand.withColumn("hit", lit(1L)), Seq("a_id", "b_id"), "left")
          .withColumn("hit", coalesce(col("hit"), lit(0L)))
          .join(candC.withColumn("hitc", lit(1L)), Seq("a_id", "b_id"),
            "left")
          .withColumn("hitc", coalesce(col("hitc"), lit(0L)))
          .withColumn("jq", floor(col("j") * 1000000.0).cast("long"))
          .withColumn("j_lo", floor(col("j") * 10.0) / 10.0)
        val agg = withJ.groupBy("j_lo").agg(
          count(lit(1)).as("n_truth"),
          sum(col("hit")).as("n_hit"),
          sum(col("hitc")).as("n_hit_capped"),
          sum(col("jq")).as("sum_jq"))
        val curve = agg
          .withColumn("avg_j",
            (col("sum_jq").cast("double") / col("n_truth").cast("double"))
              / 1000000.0)
          .withColumn("recall",
            col("n_hit").cast("double") / col("n_truth").cast("double"))
          .withColumn("recall_capped",
            col("n_hit_capped").cast("double") /
              col("n_truth").cast("double"))
          // analytic banding S-curve at the decile mean: three squarings
          // — the same IEEE op sequence as the oracle text
          .withColumn("x1", lit(1.0) - col("avg_j") * col("avg_j"))
          .withColumn("x8", col("x1") * col("x1") * (col("x1") * col("x1"))
            * (col("x1") * col("x1") * (col("x1") * col("x1"))))
          .select(col("j_lo"), col("n_truth"), col("n_hit"),
            col("n_hit_capped"), col("avg_j"),
            col("recall"), col("recall_capped"),
            (lit(1.0) - col("x8")).as("expected"))
        // zero-convention row on corpora without planted truth (the
        // dedup_planted_recall discipline): the curve is empty, and one
        // all-zero row documents that instead of an empty relation
        val fallback = truth.agg(count(lit(1)).as("nt"))
          .filter(col("nt") === 0)
          .select(lit(0.0).as("j_lo"), lit(0L).as("n_truth"),
            lit(0L).as("n_hit"), lit(0L).as("n_hit_capped"),
            lit(0.0).as("avg_j"), lit(0.0).as("recall"),
            lit(0.0).as("recall_capped"), lit(0.0).as("expected"))
        curve.unionAll(fallback).orderBy("j_lo")
      },
      Some(MinhashBandsCte + MinhashCappedBandsCte + s""",
           ${bandPairsSql("cand")},
           ${bandPairsSql("candc", "kbands")},
           $PlantedTruthSql,
           sz AS (SELECT doc_id, len(sh) AS n_sh FROM d),
           p AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
           com AS (
             SELECT t.a_id, t.b_id, count(*) AS n_common
             FROM truth t
             JOIN p pa ON pa.doc_id = t.a_id
             JOIN p pb ON pb.doc_id = t.b_id AND pb.shingle = pa.shingle
             GROUP BY t.a_id, t.b_id),
           wj AS (
             SELECT t.a_id, t.b_id,
               CAST(coalesce(c.n_common, 0) AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - coalesce(c.n_common, 0)
                     AS DOUBLE) AS j,
               CASE WHEN EXISTS (SELECT 1 FROM cand cd
                 WHERE cd.a_id = t.a_id AND cd.b_id = t.b_id)
                 THEN 1 ELSE 0 END AS hit,
               CASE WHEN EXISTS (SELECT 1 FROM candc cc
                 WHERE cc.a_id = t.a_id AND cc.b_id = t.b_id)
                 THEN 1 ELSE 0 END AS hitc
             FROM truth t
             LEFT JOIN com c ON c.a_id = t.a_id AND c.b_id = t.b_id
             JOIN sz sa ON sa.doc_id = t.a_id
             JOIN sz sb ON sb.doc_id = t.b_id),
           bkt AS (
             SELECT floor(j * 10.0) / 10.0 AS j_lo,
               CAST(count(*) AS BIGINT) AS n_truth,
               CAST(sum(hit) AS BIGINT) AS n_hit,
               CAST(sum(hitc) AS BIGINT) AS n_hit_capped,
               CAST(sum(CAST(floor(j * 1000000.0) AS BIGINT)) AS BIGINT)
                 AS sum_jq
             FROM wj GROUP BY 1),
           fin AS (
             SELECT j_lo, n_truth, n_hit, n_hit_capped,
               (CAST(sum_jq AS DOUBLE) / CAST(n_truth AS DOUBLE))
                 / 1000000.0 AS avg_j,
               CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall,
               CAST(n_hit_capped AS DOUBLE) / CAST(n_truth AS DOUBLE)
                 AS recall_capped
             FROM bkt)
           SELECT j_lo, n_truth, n_hit, n_hit_capped, avg_j, recall,
             recall_capped,
             1.0 - ((1.0 - avg_j * avg_j) * (1.0 - avg_j * avg_j)
                 * ((1.0 - avg_j * avg_j) * (1.0 - avg_j * avg_j))
                 * ((1.0 - avg_j * avg_j) * (1.0 - avg_j * avg_j)
                 * ((1.0 - avg_j * avg_j) * (1.0 - avg_j * avg_j))))
               AS expected
           FROM fin
           UNION ALL
           SELECT 0.0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), 0.0, 0.0, 0.0, 0.0
           WHERE (SELECT count(*) FROM truth) = 0
           ORDER BY j_lo"""))
  )

  /** The USER-SHAPED declarative Hamming pair relation (a_id, b_id)
    * feeding dedup_simhash_declarative: naive `bit_count(ha ^ hb) <= 3`
    * join text, planned through the session-installed HammingJoinRewrite
    * into the union of 4 chunk equi-joins. Exposed so PlanSpec can
    * assert the rewritten shape on the PAIR stage directly (the
    * downstream connected-components loop localCheckpoints its input,
    * which truncates this subtree out of the final plan string). */
  private[graft] def declarativeHammingPairs(
      s: SparkSession, dir: String): DataFrame = {
    val sig = Tables.materialize(simhashedWide(s, dir))
    val x = sig.select(col("doc_id").as("a_id"), col("simhash").as("ha"))
    val y = sig.select(col("doc_id").as("b_id"), col("simhash").as("hb"))
    x.join(y, expr("bit_count(ha ^ hb) <= 3") && col("a_id") < col("b_id"))
      .select("a_id", "b_id")
  }

  /** The TF-IDF nearest-neighbour body of dedup_tfidf_nn (cap = None,
    * the exact form) and dedup_tfidf_nn_capped (cap = Some(k): each
    * shingle's postings sampled to k by [[samplePostings]] before the
    * norms and the dot self-join). */
  private def tfidfNn(s: SparkSession, dir: String, name: String,
      cap: Option[Int]): DataFrame = {
    val d = docsParallel(s, dir)
    val toks = tokens(col("text"))
    // Pre-flight weight-magnitude guard (round-5 task): norm/dot
    // sums accumulate in DECIMAL(38,0), and idf grows with the
    // corpus (df=1 ceiling: 1000*(2N-1) div 3), so at some corpus
    // size the accumulation overflows — ANSI makes that a THROW
    // (loud, never wrong), but a stack trace is a poor diagnosis.
    // Bound the worst case up front: per-doc Σw <= maxW * maxTokens,
    // and both n2 and dot are <= (Σw)² by Cauchy-Schwarz, so
    // requiring maxW * maxTokens < sqrt(10^37) guarantees every
    // DECIMAL(38,0) accumulator fits. (This bound does NOT keep the
    // factors inside the < 2^64 correctly-rounded int→double cast
    // range — that tighter, per-VALUE bound is enforced loudly by
    // the DECIMAL(19,0) routing at the cos2 step below; r12 advice.)
    // Two bounded driver scalars, same discipline as
    // requireAllPairsSmall.
    val pre = d.agg(count(lit(1)).as("n"),
      max(size(toks)).cast("long").as("mt")).head()
    val nDocs = pre.getLong(0)
    // max over an empty corpus is NULL (degenerate sweep, r8)
    val maxToks = if (pre.isNullAt(1)) 0L else pre.getLong(1)
    val maxW = BigInt(1000) * (2 * BigInt(nDocs) - 1) / 3
    require(maxW * maxToks < BigInt("3162277660168379331"),
      s"$name: idf-weight bound maxW*maxTokens = " +
        s"${maxW * maxToks} (n_docs=$nDocs, max_tokens=$maxToks) " +
        "exceeds the sqrt(10^37) DECIMAL(38,0) accumulation range — " +
        "lower the idf scale factor")
    val sh = d.filter(size(toks) >= 3).select(col("doc_id"),
      explode(transform(sequence(lit(0), size(toks) - lit(3)), i =>
        array_join(slice(toks, i + 1, lit(3)), " "))).as("shingle"))
    // materialize the posting relation and dots ONCE (r14): without
    // it every downstream consumer re-runs the scan + shingle explode
    // + aggregates — the r13 before-plan of the capped form was 1,580
    // lines with 36 parquet scans and 140 exchanges, because the
    // postings feed norms + both dot-join sides and dots feeds both
    // directed legs (driver-measured taskCpu 40.7 s → 24.8 s). Only
    // TWO eager barriers: each extra localCheckpoint is a serialized
    // job (measured — the 4-checkpoint variant was wall-slower).
    val tf = sh.groupBy("doc_id", "shingle").agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxShingleDF)
    val w = tf.join(dfr, "shingle")
      .select(col("doc_id"), col("shingle"),
        (col("tf") *
          expr(s"(1000 * (2*${nDocs}L - 2*df + 1)) div (2*df + 1)")).as("w"))
    // norm/dot sums in DECIMAL(38,0) (oracle: HUGEINT): weights
    // scale with 1000*2N/df, so at corpus sizes far beyond this
    // suite a 64-bit sum could exceed Long range — Spark would wrap
    // silently while DuckDB's HUGEINT errors on the downcast, a
    // divergence rather than a clean mismatch. 128-bit accumulation
    // on BOTH engines keeps the arithmetic exact to ~1e38, and past
    // that Spark's ANSI decimal overflow THROWS — loud, never wrong.
    val w19 = col("w").cast("decimal(19,0)")
    // the exact form's postings are w itself; the capped form's are
    // each shingle's sample, which shares the dot join's shingle
    // partitioning (no extra exchange at scale)
    val wc = cap.fold(w)(samplePostings(w, _)).transform(Tables.materialize)
    val norms = wc.groupBy("doc_id")
      .agg(sum(w19 * w19).as("n2"))
    val dots = wc.as("a").join(wc.as("b"), Seq("shingle"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(sum(col("a.w").cast("decimal(19,0)") *
        col("b.w").cast("decimal(19,0)")).as("dot"))
      .transform(Tables.materialize)
    val directed = dots
      .select(col("a_id").as("src"), col("b_id").as("dst"), col("dot"))
      .unionAll(dots
        .select(col("b_id").as("src"), col("a_id").as("dst"), col("dot")))
    val wv = Window.partitionBy("src")
      .orderBy(col("cos2").desc, col("dst").asc)
    directed
      .join(norms.select(col("doc_id").as("src"), col("n2").as("s_n2")),
        "src")
      .join(norms.select(col("doc_id").as("dst"), col("n2").as("d_n2")),
        "dst")
      // nullif: an all-duplicate corpus drives every idf weight to
      // 0 (df = n_docs makes the quantized idf 1000 div (2n+1) = 0),
      // zeroing the norms — Spark-4 ANSI throws on double /0 where
      // DuckDB returns NULL; ranks then fall to the dst tie-break
      // on BOTH engines (degenerate-corpus sweep, r8)
      // cos2 is formed FACTOR-FIRST, each factor ROUTED THROUGH
      // DECIMAL(19,0) before the double cast: values < 1e19 < 2^64
      // sit in the range where int->double casts are correctly
      // rounded in BOTH engines (DuckDB's HUGEINT half-splitting is
      // exact when the upper 64-bit limb is 0), so dbl(dot)*dbl(dot)
      // / (dbl(s_n2)*dbl(d_n2)) is one identical IEEE op sequence
      // cross-engine — and a factor >= 1e19 overflows the
      // DECIMAL(19,0) cast LOUDLY on both engines (Spark ANSI throw,
      // DuckDB conversion error) instead of silently re-entering the
      // half-splitting range (r12 advice: the sqrt(10^37) pre-flight
      // bounds the 38-digit accumulators, not these factors).
      // The previous product-first form converted the 38-digit
      // products (dot^2 up to 1e38) via DuckDB's HUGEINT
      // half-splitting cast, which is NOT correctly rounded there —
      // a 1-ULP cos2 divergence surfaced on the round-11 Heaps
      // corpus (and could silently flip the rank-1 tie-break).
      .withColumn("cos2",
        expr("""(CAST(CAST(dot AS DECIMAL(19,0)) AS DOUBLE) *
                 CAST(CAST(dot AS DECIMAL(19,0)) AS DOUBLE)) /
                nullif(CAST(CAST(s_n2 AS DECIMAL(19,0)) AS DOUBLE) *
                     CAST(CAST(d_n2 AS DECIMAL(19,0)) AS DOUBLE), 0.0D)"""))
      .withColumn("rk", row_number().over(wv))
      .filter(col("rk") === 1)
      .select(col("src").as("doc_id"), col("dst").as("nn_id"),
        col("cos2"))
      .orderBy("doc_id")
  }

  /** The DuckDB replay of [[tfidfNn]] at the same `cap`. */
  private def tfidfNnOracleSql(cap: Option[Int]): String = {
    val wc = cap.fold("wt")(_ => "wc")
    val sample = cap.fold("")(k =>
      s"\n               ${postingSampleSql("wc", "wt", "doc_id, shingle, w", k)},")
    s"""WITH tk AS (
         SELECT doc_id, string_split(text, ' ') AS w
         FROM documents WHERE len(string_split(text, ' ')) >= 3),
       sh AS (
         SELECT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
         FROM tk, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) ix),
       tf AS (
         SELECT doc_id, shingle, CAST(count(*) AS BIGINT) AS tf
         FROM sh GROUP BY 1, 2),
       dfr AS (
         SELECT shingle, CAST(count(*) AS BIGINT) AS df
         FROM tf GROUP BY 1 HAVING count(*) <= $MaxShingleDF),
       n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       wt AS (
         SELECT doc_id, shingle,
           tf * ((1000 * (2*n.n_docs - 2*df + 1)) // (2*df + 1)) AS w
         FROM tf JOIN dfr USING (shingle), n),$sample
       norms AS (
         SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2
         FROM $wc GROUP BY doc_id),
       dots AS (
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           sum(CAST(a.w AS HUGEINT) * b.w) AS dot
         FROM $wc a JOIN $wc b ON a.shingle = b.shingle
          AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       directed AS (
         SELECT a_id AS src, b_id AS dst, dot FROM dots
         UNION ALL
         SELECT b_id, a_id, dot FROM dots),
       scored AS (
         SELECT d.src, d.dst,
           (CAST(CAST(d.dot AS DECIMAL(19,0)) AS DOUBLE) *
            CAST(CAST(d.dot AS DECIMAL(19,0)) AS DOUBLE)) /
             nullif(CAST(CAST(sa.n2 AS DECIMAL(19,0)) AS DOUBLE) *
               CAST(CAST(sb.n2 AS DECIMAL(19,0)) AS DOUBLE),
               0.0) AS cos2
         FROM directed d
         JOIN norms sa ON d.src = sa.doc_id
         JOIN norms sb ON d.dst = sb.doc_id),
       r AS (
         SELECT src, dst, cos2,
           row_number() OVER (PARTITION BY src
             ORDER BY cos2 DESC, dst ASC) AS rk
         FROM scored)
       SELECT src AS doc_id, dst AS nn_id, cos2
       FROM r WHERE rk = 1 ORDER BY doc_id"""
  }

  /** The banding pairs of dedup_minhash_pairs (cap = None) and
    * dedup_minhash_pairs_capped (cap = Some(TextBandBucketCap)), each
    * verified by its exact Jaccard. The shingles feed two consumers
    * (the signature pipeline and the verification), so they are
    * materialized once. */
  private def minhashPairs(s: SparkSession, dir: String, cap: Option[Int]): DataFrame = {
    val sh = Tables.materialize(shingled(s, dir))
    bandCandidatesFrom(sh, cap)
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** The 8-band × 2-row minhash banding candidate generator over a
    * shared shingle frame — ONE definition for dedup_minhash_pairs,
    * dedup_minhash_pairs_capped, dedup_planted_recall and
    * dedup_recall_curve (the same can't-drift discipline as
    * prefixPairsFrom), with the viral-bucket cap as a knob: cap=None is
    * the exact (spec-output) generator, cap=Some(c) drops band buckets
    * with more than c members before the self-join — the form whose
    * candidate count stays bounded on viral-template corpora. */
  private[graft] def bandCandidatesFrom(
      sh: DataFrame, cap: Option[Int] = None): DataFrame =
    bandCandidatesFromRows(bandRowsChk(sh), cap)

  /** The banded relation materialized ONCE (r14): it feeds both
    * self-join sides (plus the viral aggregate + anti-join in the capped
    * form), so the un-checkpointed signature pipeline ran 2–4x per call.
    * Exposed separately so scorecards that run the exact AND capped
    * generators side by side (dedup_planted_recall, dedup_recall_curve)
    * share ONE checkpoint instead of rebuilding the signature pipeline
    * per leg. */
  private[graft] def bandRowsChk(sh: DataFrame): DataFrame =
    Tables.materialize(bandsOf(signaturesFrom(sh)))

  private[graft] def bandCandidatesFromRows(
      bands0: DataFrame, cap: Option[Int]): DataFrame =
    bucketPairs(cap.fold(bands0)(dropViral(bands0, BandKey, _)), "doc_id", BandKey)
      .distinct()

  /** STAR-capped banding candidates — the third viral posture (r13),
    * for CLUSTER-collapse consumers. The wholesale-drop cap
    * (bandCandidatesFrom(cap)) is right for a pair-EMITTING operator:
    * a viral bucket's C(m,2) pairs are the quadratic output itself, so
    * dropping the bucket is the point. A downstream connected-components
    * collapse has the opposite need — it must keep the viral family
    * CONNECTED (one representative for the whole template family) while
    * refusing the quadratic join. Star topology does both: buckets at or
    * under the cap self-join exactly as the exact generator; buckets
    * past it emit (anchor=min doc_id, member) edges — m−1 rows instead
    * of C(m,2), and the family stays one component by construction (a
    * sampled cap would strand the ~(1−c/m)^bands fraction of members
    * no sampled bucket retains). Per-bucket stats come from ONE window
    * pass (count + min over the bucket partition — a single hash
    * shuffle on (band_id, band_key); a viral bucket makes a large
    * window partition but the work is linear in it, never joined
    * against itself). Precision note: a star edge still passes exact-
    * Jaccard verification downstream, so a band-key COINCIDENCE bucket
    * (members not actually similar) contributes nothing — same as the
    * all-pairs form, minus the within-bucket sub-family pairs a
    * coincidence bucket would have surfaced (those co-land in their own
    * non-viral buckets anyway). */
  private[graft] def bandCandidatesStarCapped(
      sh: DataFrame, cap: Int): DataFrame = {
    val wB = Window.partitionBy("band_id", "band_key")
    // materialized ONCE (r14): stat feeds the small-bucket self-join
    // (both sides) and the star leg — un-checkpointed, the whole
    // signature pipeline (shingle explode → md5 → 16 min-aggregates →
    // band explode) ran three times.
    val stat = bandsOf(signaturesFrom(sh))
      .withColumn("bdf", count(lit(1)).over(wB))
      .withColumn("anchor", min("doc_id").over(wB))
      .transform(Tables.materialize)
    val smallPairs = bucketPairs(
      stat.filter(col("bdf") <= cap).select("doc_id", "band_id", "band_key"),
      "doc_id", BandKey)
    val starPairs = stat.filter(col("bdf") > cap &&
        col("doc_id") =!= col("anchor"))
      .select(col("anchor").as("a_id"), col("doc_id").as("b_id"))
    smallPairs.unionAll(starPairs).distinct()
  }

  /** The pipeline_viral_clean stage driver — ONE implementation shared
    * by the registry operator and the stage-wall harness
    * (graft.PipelineBench), so the benched walls measure exactly the
    * operator the oracle checks. Each stage that a later one reads is
    * materialized; the last, the token-budget sample, is only counted.
    * Every stage's row count is reported through the callback
    * (stage, rowsOut, wallSeconds); every count is a bounded driver
    * scalar (the same class as the manifest itself — this is the run
    * record a pipeline orchestrator keeps, not row data). Returns the
    * one-row manifest frame. */
  private[graft] def viralCleanRun(
      s: SparkSession, dir: String,
      onStage: (String, Long, Double) => Unit = (_, _, _) => ()): DataFrame = {
    import graft.operators.TextAnalysis.{qualityGate, tokenBudget}
    def timed[T](name: String, rowsOut: T => Long)(run: => T): T = {
      val t0 = System.nanoTime()
      val out = run
      onStage(name, rowsOut(out), (System.nanoTime() - t0) / 1e9)
      out
    }
    def stage(name: String, more: Column*)(f: => DataFrame)
        : (DataFrame, Seq[Long]) =
      timed[(DataFrame, Seq[Long])](name, _._2.head)(
        Tables.checkpointMeasured(f, count(lit(1)) +: more: _*))
    val nDocs = Tables.rowCount(s, dir, "documents")
    // read → quality gate → shingle is map-only after the read's
    // repartition: one barrier for the frame every later stage reuses
    val (gated, Seq(nKept)) = stage("read_gate_shingle")(
      docsParallel(s, dir)
        .filter(qualityGate(col("text")))
        .select(col("doc_id"), col("text"), col("source"),
          shingles(col("text"), 3).as("sh")))
    val kept = gated.select("doc_id", "text", "source")
    val sh = gated.select("doc_id", "sh")
    // the Jaccard test rides the candidate checkpoint as a column, so
    // n_cand and n_pairs come from one job
    val (cand, Seq(nCand, nPairs)) = stage("band_candidates_verify",
        sum(when(col("ok"), 1L).otherwise(0L)))(
      bandCandidatesStarCapped(sh, TextBandBucketCap)
        .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a")), Seq("a_id"))
        .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          (jaccard(col("sh_a"), col("sh_b")) >= JaccardThreshold).as("ok")))
    val verified = cand.filter(col("ok")).select("a_id", "b_id")
    val (reps, Seq(nReps)) = stage("cluster_collapse")(
      connectedComponents(kept.select("doc_id"), verified)
        .filter(col("doc_id") === col("rep_id")).select("doc_id"))
    val sampled = timed[Row]("token_budget_sample", _.getLong(0)) {
      tokenBudget(kept.join(reps, Seq("doc_id"), "left_semi"), "pclean")
        .agg(count(lit(1)), coalesce(sum("n_toks"), lit(0L))).head()
    }
    val (nSampled, nToks) = (sampled.getLong(0), sampled.getLong(1))
    import s.implicits._
    Seq((nDocs, nKept, nCand, nPairs, nReps, nSampled, nToks))
      .toDF("n_docs", "n_kept", "n_cand", "n_pairs", "n_reps",
        "n_sampled", "n_toks_sampled")
  }

  /** THE SSJoin prefix-filter pipeline over a shared shingle frame,
    * with the posting sample as a knob: cap=None is the exact
    * (lossless) form, cap=Some(k) the pipeline form. This is the ONE
    * implementation — dedup_prefix_filter, dedup_prefix_filter_capped,
    * AND both legs of the dedup_cap_recall scorecard call it (r12
    * advice: it used to be a third copy, with agreement only
    * test-enforced; now the scorecard structurally scores the exact
    * operators it claims to). Emits (a_id, b_id, n_common, jaccard)
    * for pairs with verified Jaccard >= PrefixJaccardT. */
  private def prefixPairsFrom(sh: DataFrame, cap: Option[Int]): DataFrame = {
    val postings = sh
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    val dfreq = postings.groupBy("shingle")
      .agg(count(lit(1)).as("df"))
    val ranked = postings.join(dfreq, Seq("shingle"))
      .withColumn("r", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("df").asc, col("shingle").asc)))
      .join(sh.select(col("doc_id"), size(col("sh")).as("n_sh")),
        Seq("doc_id"))
    val pre0 = ranked
      .filter(col("r") <= col("n_sh").cast("long")
        - ceil(col("n_sh") * lit(PrefixJaccardT)) + 1)
      .filter(col("df") >= 2)
      .select("shingle", "doc_id")
    val prefix = cap.fold(pre0)(samplePostings(pre0, _)).transform(Tables.materialize)
    val cand = prefix.select(col("shingle"), col("doc_id").as("a_id"))
      .join(prefix.select(col("shingle"), col("doc_id").as("b_id")),
        Seq("shingle"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val candLen = cand
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("n_a")),
        Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("n_b")),
        Seq("b_id"))
      .filter(col("n_b").cast("double") >=
        col("n_a").cast("double") * lit(PrefixJaccardT))
      .filter(col("n_a").cast("double") >=
        col("n_b").cast("double") * lit(PrefixJaccardT))
      .transform(Tables.materialize)
    candLen
      .join(postings.select(col("doc_id").as("a_id"), col("shingle")),
        Seq("a_id"))
      .join(postings.select(col("doc_id").as("b_id"), col("shingle")),
        Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id", "n_a", "n_b")
      .agg(count(lit(1)).as("n_common"))
      .select(col("a_id"), col("b_id"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= PrefixJaccardT)
  }

  /** The SQL mirror of [[prefixPairsFrom]]'s shared stages: the
    * shingles d, sizes sz, postings p, document frequencies f, the
    * rarest-first rank r and preE, the exact prefix postings. */
  private def prefixPostingsSql: String =
    s"""${shingledSql()},
       sz AS (SELECT doc_id, len(sh) AS n_sh FROM d),
       p AS MATERIALIZED (
         SELECT doc_id, unnest(sh) AS shingle FROM d),
       f AS (SELECT shingle, count(*) AS df FROM p GROUP BY shingle),
       r AS (
         SELECT p.doc_id, p.shingle,
           row_number() OVER (PARTITION BY p.doc_id
             ORDER BY f.df ASC, p.shingle ASC) AS r,
           sz.n_sh
         FROM p JOIN f USING (shingle) JOIN sz USING (doc_id)),
       preE AS MATERIALIZED (
         SELECT r.doc_id, r.shingle FROM r JOIN f USING (shingle)
         WHERE r.r <= r.n_sh
             - CAST(CEIL(r.n_sh * $PrefixJaccardT) AS BIGINT) + 1
           AND f.df >= 2)"""

  /** The SQL mirror of [[prefixPairsFrom]]'s collision join, length
    * filter and verification over the prefix postings `pre`: the CTE
    * pairs`tag`(a_id, b_id, n_common, jaccard). */
  private def prefixVerifySql(tag: String, pre: String): String =
    s"""cand$tag AS (
         SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM $pre a JOIN $pre b USING (shingle)
         WHERE a.doc_id < b.doc_id),
       candl$tag AS MATERIALIZED (
         SELECT c.a_id, c.b_id, sa.n_sh AS n_a, sb.n_sh AS n_b
         FROM cand$tag c
         JOIN sz sa ON sa.doc_id = c.a_id
         JOIN sz sb ON sb.doc_id = c.b_id
         WHERE CAST(sb.n_sh AS DOUBLE)
             >= CAST(sa.n_sh AS DOUBLE) * $PrefixJaccardT
           AND CAST(sa.n_sh AS DOUBLE)
             >= CAST(sb.n_sh AS DOUBLE) * $PrefixJaccardT),
       pairs$tag AS MATERIALIZED (
         SELECT cl.a_id, cl.b_id, count(*) AS n_common,
           CAST(count(*) AS DOUBLE)
             / CAST(cl.n_a + cl.n_b - count(*) AS DOUBLE) AS jaccard
         FROM candl$tag cl
         JOIN p pa ON pa.doc_id = cl.a_id
         JOIN p pb ON pb.doc_id = cl.b_id AND pb.shingle = pa.shingle
         GROUP BY cl.a_id, cl.b_id, cl.n_a, cl.n_b
         HAVING CAST(count(*) AS DOUBLE)
           / CAST(cl.n_a + cl.n_b - count(*) AS DOUBLE)
           >= $PrefixJaccardT)"""

  /** DuckDB replay of [[prefixPairsFrom]] at the same `cap`. */
  private def prefixFilterOracleSql(cap: Option[Int]): String = {
    val sample = cap.fold("")(k =>
      s"\n       ${postingSampleSql("preC", "preE", "doc_id, shingle", k)},")
    s"""WITH $prefixPostingsSql,$sample
       ${prefixVerifySql("", cap.fold("preE")(_ => "preC"))}
       SELECT a_id, b_id, n_common, jaccard FROM pairs
       ORDER BY a_id, b_id"""
  }

  /** DuckDB replay of the scorecard: ONE shared shingle/posting/rank
    * chain, the exact and capped prefix relations diverging only at
    * the sample window (as in the Spark legs), each verified on the
    * full posting relation, then the three counts. */
  private lazy val CapRecallOracleSql: String =
    s"""WITH $prefixPostingsSql,
       ${postingSampleSql("preC", "preE", "doc_id, shingle", PrefixPostingCap)},
       ${prefixVerifySql("E", "preE")},
       ${prefixVerifySql("C", "preC")},
       hit AS (
         SELECT CAST(count(*) AS BIGINT) AS n_hit
         FROM pairsC c JOIN pairsE e
           ON e.a_id = c.a_id AND e.b_id = c.b_id)
       SELECT
         (SELECT CAST(count(*) AS BIGINT) FROM pairsE) AS n_exact,
         (SELECT CAST(count(*) AS BIGINT) FROM pairsC) AS n_capped,
         hit.n_hit,
         CASE WHEN (SELECT count(*) FROM pairsC) = 0 THEN 0.0
           ELSE CAST(hit.n_hit AS DOUBLE)
             / (SELECT CAST(count(*) AS DOUBLE) FROM pairsC) END AS prec,
         CASE WHEN (SELECT count(*) FROM pairsE) = 0 THEN 0.0
           ELSE CAST(hit.n_hit AS DOUBLE)
             / (SELECT CAST(count(*) AS DOUBLE) FROM pairsE) END AS recall
       FROM hit"""

  /** The rows-per-band settings the tuning curve sweeps — ONE list
    * shared by the Spark legs and the oracle generator (the Nprobes
    * discipline), so extending the sweep cannot desynchronize them.
    * Every value must divide NumPerms. */
  private lazy val LshTuneRows: Seq[Int] = Seq(1, 2, 4)

  /** DuckDB replay of the banding sweep: shared shingle/signature/truth
    * CTEs, one bands/cand/leg chain generated per rows-per-band value —
    * the same construction as the Spark legs so the band keys can never
    * drift from what the banding join actually buckets on. */
  private lazy val LshTuneOracleSql: String = {
    val legs = LshTuneRows.map { r =>
      val nb = NumPerms / r
      s"""${bandsSql(r, s"bands$r")},
         ${bandPairsSql(s"cand$r", s"bands$r")},
         leg$r AS (
           SELECT CAST($r AS BIGINT) AS band_rows,
             CAST($nb AS BIGINT) AS n_bands,
             (SELECT CAST(count(*) AS BIGINT) FROM cand$r) AS n_candidates,
             (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT) FROM cand$r c
                JOIN truth t ON t.a_id = c.a_id AND t.b_id = c.b_id)
               AS n_hit)"""
    }.mkString(",\n")
    s"""WITH ${shingledSql()},
       $SignaturesSql,
       ${jaccardEdgesSql("truth")},
       $legs,
       u AS (${LshTuneRows.map(r => s"SELECT * FROM leg$r")
         .mkString(" UNION ALL ")})
       SELECT band_rows, n_bands, n_candidates, n_truth, n_hit,
         CASE WHEN n_candidates = 0 THEN 0.0
              ELSE CAST(n_hit AS DOUBLE) / CAST(n_candidates AS DOUBLE)
              END AS prec,
         CASE WHEN n_truth = 0 THEN 0.0
              ELSE CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
              END AS recall
       FROM u ORDER BY band_rows"""
  }

  /** Oracle for dedup_eval: exact-Jaccard truth + both generators'
    * candidate sets, assembled from the same CTE pieces the individual
    * operators are checked with. */
  private lazy val DedupEvalOracleSql: String =
    MinhashBandsCte + s""",
       ${jaccardEdgesSql("tp")},
       ${bandPairsSql("mcand")},
       ${simhashWideSql()},
       ${hammingPairsSql("scand")},
       stats AS (
         SELECT 'minhash_lsh' AS generator,
           (SELECT count(*) FROM mcand) AS n_cand,
           (SELECT count(*) FROM tp) AS n_truth,
           (SELECT count(*) FROM mcand JOIN tp USING (a_id, b_id)) AS n_hit
         UNION ALL
         SELECT 'simhash_wide',
           (SELECT count(*) FROM scand),
           (SELECT count(*) FROM tp),
           (SELECT count(*) FROM scand JOIN tp USING (a_id, b_id)))
       SELECT generator, n_cand, n_truth, n_hit,
         CASE WHEN n_cand = 0 THEN 0.0
              ELSE CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS precision,
         CASE WHEN n_truth = 0 THEN 0.0
              ELSE CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE) END AS recall
       FROM stats ORDER BY generator"""

  /** (doc_id, simhash): 60-bit wide SimHash — the production-scale
    * variant. Bits 0-29 vote on hash31(token), bits 30-59 on
    * hash31('x' || token) (two independent md5-derived 30-bit hashes;
    * both engine-portable). Same codegen shape as the 16-bit form:
    * explode tokens, two scalar hashes, 60 conditional-sum votes,
    * assemble in the final projection. The 16-bit signature saturates on
    * large corpora (at sf0.1, 22% of ALL pairs land within Hamming 3, so
    * any blocking still materializes a quadratic-ish result); 60 bits
    * keeps Hamming-<=3 pairs to genuine near-duplicates and the 15-bit
    * chunk buckets sparse (32768 values per chunk). */
  private def simhashedWide(s: SparkSession, dir: String): DataFrame =
    simhashWideOf(docsParallel(s, dir))

  /** Wide SimHash over any (doc_id, text) frame — the pipeline composes
    * this over its quality-gated, exact-deduped survivor set. */
  private[graft] def simhashWideOf(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"),
        hash31(col("t")).as("h1"),
        hash31(concat(lit("x"), col("t"))).as("h2"))
    val votes = (0 until 60).map { j =>
      val src = if (j < 30) s"h1, $j" else s"h2, ${j - 30}"
      sum(when(expr(s"(shiftright($src) & 1) = 1"), 1).otherwise(-1)).as(s"v_$j")
    }
    hashed.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 60)
          .map(j => when(col(s"v_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** The SQL mirror of [[simhashWideOf]] over `src`'s (doc_id, text):
    * the MATERIALIZED CTE sg(doc_id, simhash). */
  private[graft] def simhashWideSql(src: String = "documents"): String =
    s"""sg AS MATERIALIZED (
         SELECT doc_id,
           CAST(sum(CASE WHEN vote > 0
                         THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                         ELSE 0 END) AS BIGINT) AS simhash
         FROM (
           SELECT doc_id, j,
             sum(CASE WHEN ((CASE WHEN j < 30 THEN h1 >> CAST(j AS INTEGER)
                                  ELSE h2 >> CAST(j - 30 AS INTEGER) END) & 1) = 1
                      THEN 1 ELSE -1 END) AS vote
           FROM (
             SELECT doc_id, ${hash31Sql("t")} AS h1,
               ${hash31Sql("concat('x', t)")} AS h2
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                   FROM $src) tok) h,
             (SELECT unnest(range(0, 60)) AS j) js
           GROUP BY doc_id, j) v
         GROUP BY doc_id)"""

  /** SimHash Hamming-<=3 pairs by pigeonhole chunk blocking; see the
    * dedup_simhash_pairs QueryDef. Package-visible for the DedupSpec
    * equivalence check against the naive all-pairs form. */
  private[graft] def simhashChunkPairs(
      sig: DataFrame, numChunks: Int = 4, chunkBits: Int = 4): DataFrame = {
    val mask = (1L << chunkBits) - 1
    // the signature frame feeds BOTH sides of the self-join; without a
    // barrier the whole vote pipeline (explode tokens → md5 → 60
    // conditional sums) executes twice — once for the streamed side,
    // once for the broadcast build. One localCheckpoint materializes the
    // tiny (doc_id, simhash) frame (16 bytes/row at any corpus size) so
    // the corpus is hashed exactly once.
    val sigOnce = Tables.materialize(sig)
    val chunks = sigOnce.select(
        col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(numChunks - 1))).as("chunk_idx"))
      .withColumn("chunk_val",
        expr(s"shiftright(simhash, chunk_idx * $chunkBits) & $mask"))
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") &&
          col("x.chunk_val") === col("y.chunk_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        expr("bit_count(x.simhash ^ y.simhash)").cast("long").as("hamming"))
      // a pair can collide on several chunks — dedup, but AFTER the
      // Hamming filter: the filter is a cheap map-side expression while
      // distinct is a shuffle, so it should see only qualifying pairs,
      // not every chunk collision
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  /** The SQL mirror of [[simhashChunkPairs]] over the CTE sg(doc_id,
    * simhash), as the all-pairs form: the MATERIALIZED CTE
    * `name`(a_id, b_id, hamming). */
  private[graft] def hammingPairsSql(name: String): String =
    s"""$name AS MATERIALIZED (
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM sg a, sg b
         WHERE a.doc_id < b.doc_id
           AND bit_count(xor(a.simhash, b.simhash)) <= 3)"""

  /** Connected components by min-label propagation WITH pointer doubling,
    * entirely in DataFrames (no driver-side graph state; the driver only
    * runs the convergence loop). Each iteration (a) takes the min label
    * over each vertex's neighbors (one shuffle join against the edge
    * list) and (b) chases one level of label indirection — rep :=
    * label(rep) — which halves the remaining distance to the component
    * minimum each round, so iterations are O(log diameter) instead of
    * O(diameter). A 50-iteration cap therefore covers components of
    * diameter ~2^49; chain-shaped corpora (sliding-window/template docs)
    * that would exceed a plain-propagation cap converge in ~log2 rounds.
    * Labels are localCheckpoint'ed per generation so lineage stays
    * bounded at 100 TB.
    *
    * If the cap is ever hit without convergence the method THROWS —
    * a silently non-converged representative map looks valid but
    * mislabels documents, which for a dedup pipeline means silently
    * dropping non-duplicates (round-2 advice).
    *
    * [[componentsSql]] is its DuckDB mirror: every oracle over a
    * component map closes its pairs through it.
    *
    * @param vertices (doc_id) — the full corpus
    * @param pairs    (a_id, b_id) undirected near-dup candidate edges
    * @return (doc_id, rep_id) with rep_id = min doc_id of the component */
  private[graft] def connectedComponents(
      vertices: DataFrame, pairs: DataFrame): DataFrame = {
    // localCheckpoint (NOT persist) per generation: persist caches data
    // but keeps the logical plan, so an iterative join loop builds a
    // plan that doubles every iteration — planning (and plan-string
    // logging) goes exponential and the job wedges around iteration 15.
    // Checkpointing rewrites each generation to a scan of its blocks, keeping
    // every iteration's plan O(1). Local (executor-block) checkpoints
    // are the right scale choice too: one extra generation of blocks,
    // no HDFS round-trip; a 100 TB deployment with preemptible
    // executors would switch to reliable checkpoint() on the same loop.
    val edges = Tables.materialize(undirected(pairs))
    // iterate ONLY over vertices that appear in an edge: every other
    // document is trivially its own representative and joins back in at
    // the end. At 100 TB the near-dup set is a small fraction of the
    // corpus, so this shrinks every per-iteration join/shuffle from
    // |corpus| to |touched vertices| (~2x pairs).
    var labels = edges.select(col("u")).distinct()
      .select(col("u"), col("u").as("rep_id")).transform(Tables.materialize)
    var changed = 1L
    var iters = 0
    val maxIters = 50
    while (changed > 0 && iters < maxIters) {
      // (a) candidate label for u = min rep over itself and its neighbors
      val neighborMin = edges
        .join(labels.select(col("u").as("v"), col("rep_id").as("n_rep")), Seq("v"))
        .groupBy("u").agg(min(col("n_rep")).as("n_rep"))
      // stepped feeds both sides of the pointer-doubling join below —
      // the two computes run IN PARALLEL inside the one checkpoint job
      // (r14 note: materializing stepped separately was measured as a
      // net wall loss — an extra eager barrier per iteration costs more
      // than the parallel recompute at any corpus this loop has seen)
      val stepped = labels.join(neighborMin, Seq("u"), "left")
        .select(col("u"), col("rep_id").as("old_rep"),
          least(col("rep_id"), coalesce(col("n_rep"), col("rep_id"))).as("rep_id"))
      // (b) pointer doubling: rep := label(rep). Every rep_id is some
      // vertex's id (labels only ever take existing doc_id values), and
      // label(rep) is in the same component as rep, so the min-label
      // invariant is preserved while the hop count to the component
      // minimum halves.
      // the convergence count rides the checkpoint job (r14): a
      // separate filter+count job per iteration was pure fixed overhead
      // in a loop every clustering query runs 3–6 times
      val (next, Seq(nChanged)) = Tables.checkpointMeasured(stepped
        .join(
          stepped.select(col("u").as("rep_id"), col("rep_id").as("rep2")),
          Seq("rep_id"), "left")
        .select(col("u"), col("old_rep"),
          least(col("rep_id"), coalesce(col("rep2"), col("rep_id"))).as("rep_id")),
        sum(when(col("rep_id") =!= col("old_rep"), 1L).otherwise(0L)))
      changed = nChanged
      labels = next.select("u", "rep_id")
      iters += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents failed to converge after $maxIters iterations " +
          s"($changed labels still changing) — refusing to return a " +
          "non-converged (wrong) representative map")
    // untouched vertices rejoin as their own representative
    vertices.join(labels.select(col("u").as("doc_id"), col("rep_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("rep_id"))
  }

  /** The SQL mirror of [[connectedComponents]] over the oracle's (a_id,
    * b_id) CTE `pairs` and the relation `vertices` keyed by `id`. Three
    * CTEs: `edges`, both orientations of `pairs`; `reach`(u, v), their
    * transitive closure (UNION, so the set semantics end the
    * recursion); and `cc`(`id`, `rep`), every vertex with the smallest
    * id its component holds, itself when it has no edge. The caller's
    * query opens with WITH RECURSIVE. */
  private[graft] def componentsSql(pairs: String, vertices: String,
      id: String = "doc_id", rep: String = "rep_id"): String =
    s"""${undirectedSql("edges", pairs)},
       reach(u, v) AS (
         SELECT u, v FROM edges
         UNION
         SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       cc AS (
         SELECT x.$id, COALESCE(m.rep, x.$id) AS $rep
         FROM $vertices x LEFT JOIN (
           SELECT u, least(u, min(v)) AS rep FROM reach GROUP BY u) m
           ON m.u = x.$id)"""
}
