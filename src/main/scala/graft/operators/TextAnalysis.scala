package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftSession, QueryDef, Tables}
import graft.functions.EngineFns.{hash31, hash31Sql, shingles, tokens}

/** Text-analysis operators for LLM training-data pipelines over the
  * `documents` table: token counting, quality scoring, language
  * identification (word-gram marker heuristic), and document
  * fingerprinting. All are pure Catalyst column expressions (whole-stage
  * codegen, no UDFs), so at 100 TB they run embarrassingly parallel per
  * partition with no shuffle except the final presentation sort.
  *
  * Determinism: all ratios are (exact int) / (exact int) in double — the
  * single division is IEEE-identical across engines, so the DuckDB oracle
  * hash-matches without rounding tricks.
  */
object TextAnalysis {

  /** BPE merge-round count. Each round is ONE Spark job collecting ONE
    * argmax row to the driver, so this constant is the
    * driver-serialization knob of the whole BPE family: the loop's
    * wall time is rounds x (pair-count shuffle + rewrite), serialized
    * through the driver. A production tokenizer trains thousands of
    * merges OFFLINE on a sampled sub-corpus, not inline in the query
    * engine — the guard below keeps a future edit from silently
    * turning this into a thousand-job loop (and the DuckDB oracle CTE,
    * which grows one chained subquery per round, from exploding). */
  private[graft] val BpeMergeRounds = 3
  private val MaxBpeMergeRounds = 8
  require(BpeMergeRounds >= 1 && BpeMergeRounds <= MaxBpeMergeRounds,
    s"BpeMergeRounds=$BpeMergeRounds outside [1, $MaxBpeMergeRounds]: " +
      "each round is a driver-serialized Spark job; train big vocabularies " +
      "offline, not inline")
  private[graft] def maxBpeMergeRounds: Int = MaxBpeMergeRounds


  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** The `w`-token windows of a token-array column, each space-joined,
    * in position order; empty when `ts` has fewer than `w` tokens. The
    * lambda runs interpreted, so `ts` should be a materialized column,
    * not a split inside the lambda (the bpeRounds CPU hazard). */
  def tokenWindows(ts: Column, w: Int): Column =
    when(size(ts) >= w,
      transform(sequence(lit(0), size(ts) - w),
        i => concat_ws(" ", slice(ts, i + lit(1), lit(w)))))
      .otherwise(slice(ts, lit(1), lit(0)))

  private val stopwords = Seq("the", "a", "and", "of", "to", "is", "in")

  // Temperature sampling (sample_temperature): keep-probability
  // C / sqrt(n_source) with the draw quantized to M = 2^20 cells.
  private val TempM = 1048576L
  private val TempC = 2L // rate = 2/sqrt(n_source): 0.4 at 25 docs/source

  // DSIR importance resampling (sample_dsir): hashed word-bigram
  // features in DsirB buckets, per-bucket target/raw ratio scaled to
  // integers by DsirScale, keep-draw quantized to DsirM cells with an
  // expected budget of 1/4 of the scored corpus.
  private val DsirB = 64L
  private val DsirScale = 1000L
  private val DsirM = 1048576L
  private val DsirBudget = DsirM / 4L

  /** Fraction of tokens that are stopwords — a classic quality signal. */
  def stopwordRatio(c: Column): Column = {
    val toks = tokens(c)
    size(filter(toks, t => t.isin(stopwords.map(x => x: Any): _*)))
      .cast("double") / size(toks).cast("double")
  }

  /** Mean token length (chars excluding spaces / token count). */
  def avgWordLen(c: Column): Column =
    length(regexp_replace(c, " ", "")).cast("double") /
      size(tokens(c)).cast("double")

  /** Fraction of characters outside [a-z ] — noise signal. */
  def noiseRatio(c: Column): Column =
    length(regexp_replace(c, "[a-z ]", "")).cast("double") /
      length(c).cast("double")

  /** The DuckDB mirror of tokenCount, stopwordRatio, avgWordLen and
    * noiseRatio over a bare `text` column: the select-list items
    * n_tokens, stop_ratio, avg_word_len and noise_ratio. */
  private[graft] val QualitySignalsSql: String =
    """CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to','is','in'))) AS DOUBLE)
         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
       CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
       CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
         / CAST(length(text) AS DOUBLE) AS noise_ratio"""

  /** The cleaning pipelines' quality gate over a text column: at least 8
    * tokens, stopword ratio ≤ 0.35, noise ratio ≤ 0.25, mean word
    * length ≥ 3. */
  def qualityGate(c: Column): Column =
    tokenCount(c) >= 8 && stopwordRatio(c) <= 0.35 &&
      noiseRatio(c) <= 0.25 && avgWordLen(c) >= 3.0

  /** The SQL mirror of [[qualityGate]]: the MATERIALIZED CTE kept(`cols`)
    * of the documents whose text passes it. */
  private[graft] def qualityGateSql(cols: String): String =
    s"""kept AS MATERIALIZED (
         SELECT $cols FROM (
           SELECT $cols, $QualitySignalsSql
           FROM documents) q
         WHERE n_tokens >= 8 AND stop_ratio <= 0.35
           AND noise_ratio <= 0.25 AND avg_word_len >= 3.0)"""

  /** A document's md5 split draw in [0, 100). */
  def splitBucket(docId: Column): Column =
    hash31(concat_ws("|", lit("split"), docId.cast("string"))) % 100L

  /** The 90/5/5 train/valid/test label of a split draw. */
  def splitOf(bucket: Column): Column =
    when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")

  /** The SQL mirror of [[splitBucket]] over the id expression `docId`. */
  private[graft] def splitBucketSql(docId: String): String =
    s"${hash31Sql(s"concat('split', '|', CAST($docId AS VARCHAR))")} % 100"

  /** The SQL mirror of [[splitOf]]([[splitBucket]](`docId`)). */
  private[graft] def splitSql(docId: String): String = {
    val b = splitBucketSql(docId)
    s"CASE WHEN $b < 90 THEN 'train' WHEN $b < 95 THEN 'valid' ELSE 'test' END"
  }

  /** Language marker word lists (word-gram heuristic). Order matters for
    * deterministic tie-breaking: en > de > fr > es. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "de" -> Seq("der", "die", "und", "das", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "las", "por", "una"))

  def markerCount(c: Column, markers: Seq[String]): Column =
    size(filter(tokens(c), t => t.isin(markers.map(x => x: Any): _*)))
      .cast("long")

  /** BIGINT-exact linear quality margin — text_quality_model's scorer
    * (hashing-trick token weights + integer count features), exposed so
    * the streaming gate applies the identical model. */
  private[graft] def qualityMargin(c: Column): Column = {
    val toksC = tokens(c)
    val lex = aggregate(
      transform(toksC, t => hash31(t) % 201L - 100L),
      lit(0L), (a, x) => a + x)
    val nStop = size(filter(toksC, t => t.isin(stopwords.map(x => x: Any): _*)))
      .cast("long")
    lex + lit(8L) * nStop - size(toksC).cast("long")
  }

  /** DuckDB mirror of qualityMargin over a bare `text` column. */
  private[graft] val QualityMarginSql: String =
    s"""(CAST(list_sum(list_transform(string_split(text, ' '),
         t -> ${hash31Sql("t")} % 201 - 100)) AS BIGINT)
       + 8 * CAST(len(list_filter(string_split(text, ' '),
           t -> t IN ('the','a','and','of','to','is','in'))) AS BIGINT)
       - CAST(len(string_split(text, ' ')) AS BIGINT))"""

  /** The token-budget allocator over `docs` (doc_id, source, text),
    * shared by sample_token_budget and pipeline_viral_clean: B =
    * ⌊Σtok/5⌋ split across sources ∝ ⌊√tok_s⌋ (`budget_toks`), and
    * each source's documents, ordered by the md5 uniform salted with
    * `salt`, kept while the running token sum before them is under
    * their source's budget. Returns (doc_id, source, n_toks, cum_toks,
    * budget_toks). */
  private[graft] def tokenBudget(docs: DataFrame, salt: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val toks = docs.withColumn("n_toks", tokenCount(col("text")))
    val st = toks.groupBy("source")
      .agg(sum(col("n_toks").cast(d38)).as("tok_s"))
      .withColumn("wq",
        floor(sqrt(col("tok_s").cast("double"))).cast("long"))
    val tot = st.agg(sum(col("wq").cast(d38)).as("wtot"),
      sum(col("tok_s")).as("btot"))
    val budget = st.crossJoin(broadcast(tot))
      .select(col("source"), expr(
        """CAST(((btot div 5) * CAST(wq AS DECIMAL(38,0)))
             div nullif(wtot, 0) AS BIGINT)""").as("budget_toks"))
    val u = hash31(concat_ws("|", lit(salt), col("doc_id").cast("string")))
    val w = Window.partitionBy("source").orderBy(u.asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("cum_toks", sum(col("n_toks")).over(w))
      .join(broadcast(budget), Seq("source"))
      .filter(col("cum_toks") - col("n_toks") < col("budget_toks"))
      .select(col("doc_id"), col("source"), col("n_toks"),
        col("cum_toks"), col("budget_toks"))
  }

  /** DuckDB mirror of [[tokenBudget]] over the relation `src` (doc_id,
    * source, text): CTEs ending in `name` (doc_id, source, n_toks,
    * cum_toks, budget_toks). */
  private[graft] def tokenBudgetSql(name: String, src: String, salt: String): String =
    s"""tok AS MATERIALIZED (
          SELECT doc_id, source,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
          FROM $src),
        tokst AS (
          SELECT source, sum(CAST(n_toks AS HUGEINT)) AS tok_s,
            CAST(floor(sqrt(CAST(sum(n_toks) AS DOUBLE))) AS BIGINT) AS wq
          FROM tok GROUP BY source),
        toktot AS (SELECT sum(CAST(wq AS HUGEINT)) AS wtot,
                     sum(tok_s) AS btot FROM tokst),
        tokbdg AS (
          SELECT source,
            CAST(((t.btot // 5) * CAST(wq AS HUGEINT))
              // nullif(t.wtot, 0) AS BIGINT) AS budget_toks
          FROM tokst CROSS JOIN toktot t),
        tokcum AS (
          SELECT doc_id, source, n_toks,
            sum(n_toks) OVER (PARTITION BY source ORDER BY
              ${hash31Sql(s"concat('$salt', '|', CAST(doc_id AS VARCHAR))")} ASC, doc_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
          FROM tok),
        $name AS MATERIALIZED (
          SELECT c.doc_id, c.source, c.n_toks,
            CAST(c.cum_toks AS BIGINT) AS cum_toks, b.budget_toks
          FROM tokcum c JOIN tokbdg b ON b.source = c.source
          WHERE c.cum_toks - c.n_toks < b.budget_toks)"""

  val defs: Seq[QueryDef] = Seq(

    // Token counting: whitespace tokens + a BPE-ish sub-word regex
    // (letter runs / digit runs / single punctuation, the shape of a
    // byte-pair pre-tokenizer).
    QueryDef(
      "text_tokens",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(
            col("doc_id"),
            tokenCount(col("text")).as("n_tokens"),
            size(expr("regexp_extract_all(text, '([a-z]+|[0-9]+|[^a-z0-9 ])', 0)"))
              .cast("long").as("n_bpeish"),
            length(col("text")).cast("long").as("len_chars"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(regexp_extract_all(text, '([a-z]+|[0-9]+|[^a-z0-9 ])')) AS BIGINT) AS n_bpeish,
                CAST(length(text) AS BIGINT) AS len_chars
              FROM documents ORDER BY doc_id""")),

    QueryDef(
      "text_quality",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(
            col("doc_id"),
            tokenCount(col("text")).as("n_tokens"),
            stopwordRatio(col("text")).as("stop_ratio"),
            avgWordLen(col("text")).as("avg_word_len"),
            noiseRatio(col("text")).as("noise_ratio"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, $QualitySignalsSql
              FROM documents ORDER BY doc_id""")),

    QueryDef(
      "text_langid",
      (s, dir) => {
        val scored = Tables.load(s, dir, "documents")
          .select(
            col("doc_id") +:
              langMarkers.map { case (lang, ms) =>
                markerCount(col("text"), ms).as(s"c_$lang")
              }: _*)
        val m = greatest(langMarkers.map { case (l, _) => col(s"c_$l") }: _*)
        val pred = langMarkers
          .foldLeft(when(m === 0, lit("und"))) { case (acc, (l, _)) =>
            acc.when(col(s"c_$l") === m, lit(l))
          }
          .otherwise(lit("und"))
        scored
          .select(
            col("doc_id"), pred.as("pred_lang"),
            col("c_en"), col("c_de"), col("c_fr"), col("c_es"))
          .orderBy("doc_id")
      },
      Some("""WITH scored AS (
                SELECT doc_id,
                  CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','and','of','is','to'))) AS BIGINT) AS c_en,
                  CAST(len(list_filter(string_split(text,' '), t -> t IN ('der','die','und','das','nicht'))) AS BIGINT) AS c_de,
                  CAST(len(list_filter(string_split(text,' '), t -> t IN ('le','la','et','les','des'))) AS BIGINT) AS c_fr,
                  CAST(len(list_filter(string_split(text,' '), t -> t IN ('el','los','las','por','una'))) AS BIGINT) AS c_es
                FROM documents)
              SELECT doc_id,
                CASE WHEN greatest(c_en,c_de,c_fr,c_es) = 0 THEN 'und'
                     WHEN c_en = greatest(c_en,c_de,c_fr,c_es) THEN 'en'
                     WHEN c_de = greatest(c_en,c_de,c_fr,c_es) THEN 'de'
                     WHEN c_fr = greatest(c_en,c_de,c_fr,c_es) THEN 'fr'
                     WHEN c_es = greatest(c_en,c_de,c_fr,c_es) THEN 'es'
                     ELSE 'und' END AS pred_lang,
                c_en, c_de, c_fr, c_es
              FROM scored ORDER BY doc_id""")),

    // Fingerprints: md5 of the sorted token multiset (order-invariant,
    // catches shuffled duplicates) + an order-SENSITIVE polynomial
    // rolling hash over token hashes, h = fold((acc*65599 + h31(t)) mod
    // 2^31-1). The zero seed collapses to the first element, so Spark's
    // aggregate(0, ...) and DuckDB's seedless list_reduce fold
    // identically.
    QueryDef(
      "text_fingerprint",
      (s, dir) =>
        Tables.loadParallel(s, dir, "documents")
          .select(
            col("doc_id"),
            md5(concat_ws(" ", array_sort(split(lower(col("text")), " ")))
              .cast("binary")).as("fp"),
            substring(
              md5(concat_ws(" ", array_sort(split(lower(col("text")), " ")))
                .cast("binary")), 1, 8).as("fp_short"),
            aggregate(
              transform(tokens(col("text")), t => hash31(t)),
              lit(0L),
              (acc, h) => (acc * 65599L + h) % 2147483647L).as("rolling_fp"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
                md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' ')) AS fp,
                substr(md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' ')), 1, 8) AS fp_short,
                list_reduce(list_transform(string_split(text, ' '),
                  t -> ${hash31Sql("t")}),
                  (acc, h) -> (acc * 65599 + h) % 2147483647) AS rolling_fp
              FROM documents ORDER BY doc_id""")),

    // Sequence packing: assign documents to fixed-token-budget training
    // packs (next-fit by doc_id order within each source). pack_id =
    // floor(cumulative-tokens-before / budget) — a pure window running
    // sum, so the whole operator is one shuffle on source + an ordered
    // scan per partition; at 100 TB that is the same shape as any
    // windowed query and the pack assignment is deterministic under any
    // parallelism (integer arithmetic only).
    QueryDef(
      "text_pack",
      (s, dir) => {
        val budget = 2048L
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            tokenCount(col("text")).as("n_tokens"))
          .withColumn("cum_before",
            coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            expr(s"cum_before div $budget").as("pack_id"))
          .orderBy("source", "doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id, source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                FROM documents),
              c AS (
                SELECT doc_id, source, n_tokens,
                  COALESCE(sum(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                FROM t)
              SELECT doc_id, source, n_tokens,
                CAST(cum_before // 2048 AS BIGINT) AS pack_id
              FROM c ORDER BY source, doc_id""")),

    // Stratified sampling: deterministic hash-bucket sampling with a
    // per-language rate (downsample the dominant language — the standard
    // corpus-balancing step). The keep decision is a pure function of
    // (source, doc_id) via the engine-portable md5 hash, so the sample
    // is reproducible across engines, partitionings and reruns, and the
    // operator is map-only (no shuffle, no RNG state).
    QueryDef(
      "sample_stratified",
      (s, dir) => {
        val bucket = pmod(
          hash31(concat_ws("|", col("source"), col("doc_id").cast("string"))),
          lit(100L))
        val rate = when(col("lang") === "en", 30L)
          .when(col("lang") === "zh", 80L)
          .otherwise(60L)
        Tables.load(s, dir, "documents")
          .withColumn("bucket", bucket)
          .filter(col("bucket") < rate)
          .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
          .orderBy("doc_id")
      },
      Some(s"""WITH b AS (
                SELECT doc_id, lang, source,
                  ${hash31Sql("concat(source, '|', CAST(doc_id AS VARCHAR))")} % 100 AS bucket
                FROM documents)
              SELECT doc_id, lang, source, bucket
              FROM b
              WHERE bucket < CASE WHEN lang = 'en' THEN 30
                                  WHEN lang = 'zh' THEN 80
                                  ELSE 60 END
              ORDER BY doc_id""")),

    // Neyman-allocation stratified sampling — the variance-OPTIMAL
    // version of sample_stratified's fixed rates: a k=200 budget is
    // split across language strata ∝ N_h·σ_h (strata that are big AND
    // internally varied get more rows — the survey-sampling optimum for
    // estimating the corpus mean), then filled by the deterministic
    // md5-rank gate. Exactness discipline: per-stratum moments are
    // exact DECIMAL(38,0); σ_h·N_h goes through ONE pinned-order IEEE
    // chain (sqrt, two mults) and is immediately quantized to an
    // integer weight (floor(w·2⁸ + 0.5)), so the allocation arithmetic
    // — Σw and k·w carried in DECIMAL(38,0)/HUGEINT, div exact — is
    // identical on both engines; a strata-grain DOUBLE sum would be
    // fold-order-dependent. Overflow posture (r9 advice): the one
    // double→int64 conversion left is the floor itself, exact while
    // σ_h·N_h·2⁸ < 2⁶³, i.e. σ_h·N_h < 3.6e16 — at σ~1e3 chars that is
    // a 36-exabyte stratum, far past the 100 TB design point (the old
    // 2²⁰ factor crossed it at ~9e12, a real 100 TB en-stratum size);
    // everything after the floor (Σwq, 200·wq, the integral div) is
    // DECIMAL(38,0) on Spark and HUGEINT in DuckDB, so nothing wraps
    // and only the final ≤200 quota is cast back to BIGINT. All-zero
    // weights (σ_h = 0 everywhere — constant-length or single-row
    // strata) degrade to PROPORTIONAL allocation, Neyman's σ-equal
    // limit; the truly empty corpus hits the nullif guard and yields
    // NULL quotas on BOTH engines, never an ANSI divide-by-zero. One
    // stratum-keyed aggregate + one broadcast of the ≤|langs| quota
    // relation + one per-stratum rank window — the sample_fixed_k
    // shuffle shape.
    QueryDef(
      "sample_neyman",
      (s, dir) => {
        val d38 = "decimal(38,0)"
        val docs = Tables.load(s, dir, "documents")
        val st = docs.groupBy("lang").agg(
          count(lit(1)).as("n_h"),
          sum(col("n_chars").cast(d38)).as("s_h"),
          sum((col("n_chars") * col("n_chars")).cast(d38)).as("q_h"))
        val varH = (col("n_h").cast(d38) * col("q_h") -
          col("s_h") * col("s_h")).cast("double") /
          (col("n_h") * (col("n_h") - 1L)).cast("double")
        val wq = st.select(col("lang"), col("n_h"),
          when(col("n_h") > 1,
            floor(sqrt(varH) * col("n_h").cast("double") * 256.0 + 0.5)
              .cast("long"))
            .otherwise(0L).as("wq"))
        val tot = wq.agg(sum(col("wq").cast(d38)).as("wtot"),
          sum(col("n_h").cast(d38)).as("ntot"))
        // all-zero weights (every stratum constant-length or single-row:
        // σ_h = 0 everywhere) degrade Neyman to PROPORTIONAL allocation
        // — the σ-equal limit of the formula — instead of sampling
        // nothing; the nullif still covers the empty corpus
        val quota = wq.crossJoin(broadcast(tot))
          .select(col("lang"), expr(
            """(200 * (CASE WHEN wtot = 0 THEN CAST(n_h AS DECIMAL(38,0))
                            ELSE CAST(wq AS DECIMAL(38,0)) END))
               div nullif(CASE WHEN wtot = 0 THEN ntot ELSE wtot END, 0)""")
            .as("quota"))
        val u = hash31(concat_ws("|", lit("ney"), col("doc_id").cast("string")))
        val w = Window.partitionBy("lang").orderBy(u.asc, col("doc_id").asc)
        docs.withColumn("rk", row_number().over(w).cast("long"))
          .join(broadcast(quota), Seq("lang"))
          .filter(col("rk") <= col("quota"))
          .select(col("doc_id"), col("lang"), col("rk"), col("quota"))
          .orderBy("lang", "rk")
      },
      Some(s"""WITH st AS (
                SELECT lang, CAST(count(*) AS BIGINT) AS n_h,
                  sum(n_chars) AS s_h, sum(n_chars * n_chars) AS q_h
                FROM documents GROUP BY lang),
              w AS (
                SELECT lang, n_h,
                  CASE WHEN n_h > 1 THEN
                    CAST(floor(sqrt(CAST(n_h * q_h - s_h * s_h AS DOUBLE)
                        / CAST(n_h * (n_h - 1) AS DOUBLE))
                      * CAST(n_h AS DOUBLE) * 256.0 + 0.5) AS BIGINT)
                  ELSE 0 END AS wq
                FROM st),
              t AS (SELECT sum(CAST(wq AS HUGEINT)) AS wtot,
                           sum(CAST(n_h AS HUGEINT)) AS ntot FROM w),
              quota AS (
                SELECT lang,
                  CAST((200 * (CASE WHEN t.wtot = 0 THEN CAST(n_h AS HUGEINT)
                                    ELSE CAST(wq AS HUGEINT) END))
                    // nullif(CASE WHEN t.wtot = 0 THEN t.ntot
                             ELSE t.wtot END, 0) AS BIGINT) AS quota
                FROM w CROSS JOIN t),
              r AS (
                SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang ORDER BY
                    ${hash31Sql("concat('ney', '|', CAST(doc_id AS VARCHAR))")} ASC, doc_id ASC) AS rk
                FROM documents)
              SELECT r.doc_id, r.lang, CAST(r.rk AS BIGINT) AS rk, q.quota
              FROM r JOIN quota q ON q.lang = r.lang
              WHERE r.rk <= q.quota
              ORDER BY r.lang, r.rk""")),

    // Token-budget mixture allocator — the TOKEN-grain companion to the
    // doc-count planners (sample_mixture water-fills document counts;
    // sample_temperature Bernoulli-thins documents): what an LLM
    // training run actually budgets is tokens, and what it fixes per
    // source is an exact token allocation. Global budget B = ⌊Σtok/5⌋
    // (a 20% epoch); per-source share ∝ ⌊√tok_s⌋ — α = 0.5 temperature
    // flattening on token MASS, exact in both engines because IEEE
    // sqrt is correctly rounded (the same portability argument as the
    // Neyman allocator, and the same DECIMAL(38,0) product/division
    // discipline so B·wq never touches int64). Membership is greedy:
    // docs ordered by the md5 uniform within each source fill the
    // budget by cumulative token count; the first document CROSSING
    // the boundary is kept whole (documents are atomic — a training
    // pipeline does not split a doc across the budget line). Shape:
    // one k-row source aggregate broadcast back, one window shuffle on
    // source for the running sum — no corpus-sized state, no driver
    // collect; the budget table is k rows at any corpus size.
    QueryDef(
      "sample_token_budget",
      (s, dir) =>
        tokenBudget(Tables.load(s, dir, "documents"), "tokb")
          .orderBy("source", "cum_toks", "doc_id"),
      Some(s"""WITH ${tokenBudgetSql("tb", "documents", "tokb")}
              SELECT doc_id, source, n_toks, cum_toks, budget_toks
              FROM tb ORDER BY source, cum_toks, doc_id""")),

    // Benchmark decontamination: flag training documents that overlap an
    // evaluation set by 3-word shingles — the standard pre-training
    // hygiene step (a doc sharing >= 3 shingles with any benchmark item
    // is suspect). The benchmark stand-in is the deterministic doc_id %
    // 97 subset; its distinct shingle set is tiny relative to the corpus
    // and ships as a BROADCAST to the inverted-index probe, so the
    // corpus side is one map-side join + one hash aggregation — at
    // 100 TB the eval set is still a few thousand documents, so the
    // broadcast shape holds exactly.
    QueryDef(
      "text_decontaminate",
      (s, dir) => {
        val docs = Tables.loadParallel(s, dir, "documents")
        // the shingle frame feeds three subtrees (benchmark set, probe
        // side, doc_id completion) — checkpoint it once so the shingle
        // expression runs one pass over the corpus
        val sh = docs.select(col("doc_id"), shingles(col("text"), 3).as("sh"))
          .transform(Tables.materialize)
        val benchSet = sh.filter(col("doc_id") % 97 === 0)
          .select(explode(col("sh")).as("shingle")).distinct()
        val overlap = sh.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), explode(col("sh")).as("shingle"))
          .join(broadcast(benchSet), Seq("shingle"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
        sh.filter(col("doc_id") % 97 =!= 0).select("doc_id")
          .join(overlap, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
            (coalesce(col("n_overlap"), lit(0L)) >= 3).as("contaminated"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${Dedup.shingledSql()},
              bset AS (
                SELECT DISTINCT unnest(sh) AS shingle FROM d WHERE doc_id % 97 = 0),
              ov AS (
                SELECT doc_id, count(*) AS n_overlap
                FROM (SELECT doc_id, unnest(sh) AS shingle
                      FROM d WHERE doc_id % 97 != 0) x
                JOIN bset USING (shingle)
                GROUP BY doc_id)
              SELECT d.doc_id,
                CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
                COALESCE(ov.n_overlap, 0) >= 3 AS contaminated
              FROM d LEFT JOIN ov USING (doc_id)
              WHERE d.doc_id % 97 != 0
              ORDER BY doc_id""")),

    // Within-document repetition ratio (Gopher-style quality rule):
    // fraction of 2-grams that are repeats of an earlier 2-gram in the
    // same document. Shaped for whole-stage codegen: explode 2-grams to
    // rows and take two hash aggregations (per (doc, gram), then per
    // doc) — higher-order-function lambdas (transform/array_distinct)
    // are interpreted in Spark and cost ~5x on this path. One hash
    // shuffle on (doc_id, gram); docs shorter than 2 tokens rejoin with
    // ratio 0 through the completion join.
    QueryDef(
      "text_repetition",
      (s, dir) => {
        val docs = Tables.loadParallel(s, dir, "documents")
        // bigram strings from two shifted slices zipped — stays in
        // codegen; a tokens() call inside a transform() lambda would
        // run interpreted and re-tokenize per element
        val ts = tokens(col("text"))
        val grams = when(size(ts) >= 2,
          transform(
            arrays_zip(
              slice(ts, lit(1), size(ts) - 1).as("a"),
              slice(ts, lit(2), size(ts) - 1).as("b")),
            s2 => concat_ws(" ", s2.getField("a"), s2.getField("b"))))
          .otherwise(slice(ts, lit(1), lit(0)))
        val perGram = docs
          .select(col("doc_id"), explode(grams).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
        val perDoc = perGram.groupBy("doc_id")
          .agg(sum(col("n")).as("n_grams"), count(lit(1)).as("n_distinct"))
        docs.select("doc_id")
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
          .select(col("doc_id"), col("n_grams"), col("n_distinct"),
            when(col("n_grams") > 0,
              (col("n_grams") - col("n_distinct")).cast("double") /
                col("n_grams").cast("double"))
              .otherwise(lit(0.0)).as("dup_ratio"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
                SELECT doc_id, list_transform(
                  range(1, len(string_split(text,' '))),
                  i -> array_to_string(string_split(text,' ')[i:i+1], ' ')) AS g
                FROM documents)
              SELECT doc_id,
                CAST(len(g) AS BIGINT) AS n_grams,
                CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
                CASE WHEN len(g) > 0
                     THEN CAST(len(g) - len(list_distinct(g)) AS DOUBLE)
                            / CAST(len(g) AS DOUBLE)
                     ELSE 0.0 END AS dup_ratio
              FROM g ORDER BY doc_id""")),

    // Quality filtering: the decision step on top of text_quality's
    // signals — every document gets a verdict and the FIRST failing
    // reason (short-circuit order matters and is identical in both
    // engines). Map-only; at 100 TB this is the gate in front of every
    // downstream stage.
    QueryDef(
      "text_filter_quality",
      (s, dir) => {
        val nTokens = tokenCount(col("text"))
        val reason = when(nTokens < 8, "too_short")
          .when(stopwordRatio(col("text")) > 0.35, "too_stoppy")
          .when(noiseRatio(col("text")) > 0.25, "noisy")
          .when(avgWordLen(col("text")) < 3.0, "short_words")
          .otherwise("keep")
        Tables.loadParallel(s, dir, "documents")
          .select(col("doc_id"), reason.as("verdict"),
            (reason === "keep").as("kept"))
          .orderBy("doc_id")
      },
      Some(s"""WITH q AS (
                SELECT doc_id, $QualitySignalsSql FROM documents)
              SELECT doc_id,
                CASE WHEN n_tokens < 8 THEN 'too_short'
                     WHEN stop_ratio > 0.35 THEN 'too_stoppy'
                     WHEN noise_ratio > 0.25 THEN 'noisy'
                     WHEN avg_word_len < 3.0 THEN 'short_words'
                     ELSE 'keep' END AS verdict,
                CASE WHEN n_tokens < 8 THEN 'too_short'
                     WHEN stop_ratio > 0.35 THEN 'too_stoppy'
                     WHEN noise_ratio > 0.25 THEN 'noisy'
                     WHEN avg_word_len < 3.0 THEN 'short_words'
                     ELSE 'keep' END = 'keep' AS kept
              FROM q ORDER BY doc_id""")),

    // PII masking: the corpus is synthetic word-soup with no real PII, so
    // the operator PLANTS deterministic addresses/phones derived from
    // doc_id (two emails + one phone per doc — two, to prove the replace
    // is global), then masks them with regexp_replace. Map-only codegen;
    // the oracle re-plants the identical strings and masks with RE2's 'g'
    // flag. The masked text is compared by md5 so the dumped parquet stays
    // small.
    QueryDef(
      "text_pii_mask",
      (s, dir) => {
        val planted = concat_ws("",
          col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.com or admin"), col("doc_id"),
          lit("@dev.org tel +1-555-"),
          lpad(pmod(col("doc_id") * 7919, lit(10000)).cast("string"), 4, "0"))
        val emailPat = "[a-z0-9._]+@[a-z][a-z.]+"
        val phonePat = "\\+1-[0-9]{3}-[0-9]{4}"
        val masked = regexp_replace(
          regexp_replace(planted, emailPat, "<EMAIL>"),
          phonePat, "<PHONE>")
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(regexp_extract_all(planted, lit(emailPat), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(planted, lit(phonePat), lit(0)))
              .cast("long").as("n_phones"),
            length(masked).cast("long").as("masked_len"),
            md5(masked.cast("binary")).as("masked_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
                SELECT doc_id,
                  text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.com or admin' || CAST(doc_id AS VARCHAR)
                    || '@dev.org tel +1-555-'
                    || lpad(CAST((doc_id * 7919) % 10000 AS VARCHAR), 4, '0')
                    AS full_text
                FROM documents),
              m AS (
                SELECT doc_id, full_text,
                  regexp_replace(
                    regexp_replace(full_text, '[a-z0-9._]+@[a-z][a-z.]+', '<EMAIL>', 'g'),
                    '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS masked
                FROM p)
              SELECT doc_id,
                CAST(len(regexp_extract_all(full_text, '[a-z0-9._]+@[a-z][a-z.]+')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(full_text, '\+1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
                CAST(length(masked) AS BIGINT) AS masked_len,
                md5(masked) AS masked_md5
              FROM m ORDER BY doc_id""")),

    // BM25 term scoring: top-3 characteristic terms per document under a
    // rational-idf BM25 (k1 = 1.2, b = 0.75; idf = (N - df + 0.5) /
    // (df + 0.5) — the monotone ln is dropped so the whole score is a
    // ratio of two EXACT bigint products, and the single double division
    // is IEEE-identical in any engine; see SCALE.md for the overflow
    // bound). Distributed shape: explode → per-(doc, term) count with
    // map-side partials, vocabulary-partitioned df join, 1-row corpus
    // stats broadcast, then one doc_id window for the top-k — the
    // canonical 100 TB "characteristic terms" pass.
    QueryDef(
      "text_bm25",
      (s, dir) => {
        val docs = Tables.loadParallel(s, dir, "documents")
        val stats = docs.agg(
          count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text"))).cast("long")).as("s_tokens"))
        val terms = docs.select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("dl"),
          explode(tokens(col("text"))).as("term"))
        // tf feeds both the scored join and the df aggregation; column
        // pruning strips the df branch to keys-only, which defeats
        // exchange reuse (two non-identical subtrees would each rescan
        // and re-explode the corpus) — one localCheckpoint materializes
        // the (doc, term, tf) frame so the corpus is tokenized ONCE
        val tf = terms.groupBy("doc_id", "dl", "term")
          .agg(count(lit(1)).as("tf")).transform(Tables.materialize)
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val scored = tf.join(df, "term")
          .crossJoin(broadcast(stats))
          .withColumn("score",
            ((lit(2) * col("n_docs") - lit(2) * col("df") + lit(1)) *
              lit(12) * col("tf") * col("s_tokens")).cast("double") /
            ((lit(2) * col("df") + lit(1)) *
              (lit(10) * col("s_tokens") * col("tf") +
                lit(3) * col("s_tokens") +
                lit(9) * col("dl") * col("n_docs"))).cast("double"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term").asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("term"),
            col("tf"), col("df"), col("score"))
          .orderBy("doc_id", "rank")
      },
      Some("""WITH tk AS (
                SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
                  unnest(string_split(text, ' ')) AS term
                FROM documents),
              tf AS (SELECT doc_id, dl, term, count(*) AS tf
                     FROM tk GROUP BY 1, 2, 3),
              df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
              st AS (SELECT count(*) AS n_docs,
                       sum(len(string_split(text, ' '))) AS s_tokens
                     FROM documents),
              sc AS (
                SELECT tf.doc_id, tf.term, tf.tf, df.df,
                  CAST((2*st.n_docs - 2*df.df + 1) * 12 * tf.tf * st.s_tokens AS DOUBLE)
                  / CAST((2*df.df + 1) * (10*st.s_tokens*tf.tf + 3*st.s_tokens + 9*tf.dl*st.n_docs) AS DOUBLE)
                    AS score
                FROM tf JOIN df ON tf.term = df.term CROSS JOIN st),
              rk AS (SELECT *, row_number() OVER
                       (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
                     FROM sc)
              SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, score
              FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // Weighted (quality-proportional) sampling: each document keeps with
    // probability ∝ its length (capped at 500 chars → weight 1.0), using
    // the deterministic md5-derived uniform draw — so the sample is
    // reproducible across engines, partitionings, and reruns. Map-only,
    // no shuffle; the standard "sample long documents preferentially"
    // pre-training knob.
    QueryDef(
      "sample_weighted",
      (s, dir) => {
        val weight = least(col("n_chars"), lit(500)).cast("double") / 500.0
        val u = (hash31(concat_ws("|", lit("wsamp"), col("doc_id").cast("string")))
          % 1000000L).cast("double") / 1000000.0
        Tables.load(s, dir, "documents")
          .withColumn("weight", weight)
          .filter(u < col("weight"))
          .select(col("doc_id"), col("lang"), col("n_chars"), col("weight"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (
                SELECT doc_id, lang, n_chars,
                  CAST(least(n_chars, 500) AS DOUBLE) / 500.0 AS weight,
                  CAST(${hash31Sql("concat('wsamp', '|', CAST(doc_id AS VARCHAR))")} % 1000000 AS DOUBLE) / 1000000.0 AS u
                FROM documents)
              SELECT doc_id, lang, n_chars, weight
              FROM w WHERE u < weight ORDER BY doc_id""")),

    // Corpus vocabulary statistics: per-language token/type counts,
    // type-token ratio, and the top-10 terms by frequency (term-asc
    // tie-break). Shape: explode → one hash shuffle on (lang, term) with
    // map-side partials (the vocabulary aggregate), then per-lang windows
    // over the VOCABULARY rows (≪ corpus) — the Zipf-profile pass every
    // corpus audit runs.
    QueryDef(
      "text_vocab_stats",
      (s, dir) => {
        val tc = Tables.load(s, dir, "documents")
          .select(col("lang"), explode(tokens(col("text"))).as("term"))
          .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
        val wl = Window.partitionBy("lang")
        val wr = Window.partitionBy("lang")
          .orderBy(col("cnt").desc, col("term").asc)
        tc.withColumn("n_types", count(lit(1)).over(wl))
          .withColumn("n_tokens", sum(col("cnt")).over(wl))
          .withColumn("rank", row_number().over(wr).cast("long"))
          .filter(col("rank") <= 10)
          .select(col("lang"), col("rank"), col("term"), col("cnt"),
            col("n_tokens"), col("n_types"),
            (col("n_types").cast("double") / col("n_tokens").cast("double"))
              .as("ttr"))
          .orderBy("lang", "rank")
      },
      Some("""WITH tc AS (
                SELECT lang, unnest(string_split(text, ' ')) AS term
                FROM documents),
              v AS (SELECT lang, term, count(*) AS cnt FROM tc GROUP BY 1, 2),
              st AS (
                SELECT lang, term, cnt,
                  CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_types,
                  CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n_tokens,
                  row_number() OVER
                    (PARTITION BY lang ORDER BY cnt DESC, term ASC) AS rank
                FROM v)
              SELECT lang, CAST(rank AS BIGINT) AS rank, term, cnt,
                n_tokens, n_types,
                CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr
              FROM st WHERE rank <= 10 ORDER BY lang, rank""")),

    // Deterministic train/valid/test split: hash-bucket each document
    // into 100 cells (90/5/5) with the md5-derived draw — stable under
    // corpus growth (a document's split never changes when other docs
    // arrive), reproducible on any engine, map-only. The salt string
    // keeps this draw independent of sample_weighted's.
    QueryDef(
      "split_train_test",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .withColumn("bucket", splitBucket(col("doc_id")))
          .withColumn("split", splitOf(col("bucket")))
          .select(col("doc_id"), col("bucket"), col("split"), col("n_chars"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${splitBucketSql("doc_id")} AS bucket,
                ${splitSql("doc_id")} AS split, n_chars
              FROM documents ORDER BY doc_id""")),

    // Fixed-size context-window chunking WITH overlap — the step that
    // turns documents into training sequences (chunk 40 tokens, stride
    // 30, so consecutive chunks share a 10-token overlap and no token is
    // lost at a boundary). Map-only: the chunk spine is a per-row
    // `sequence` generator exploded inside the scan stage, so at 100 TB
    // this is embarrassingly parallel with zero shuffle before the
    // presentation sort. Chunk starts are derived from the token count
    // (integer `div`), so every engine agrees on the chunk set exactly.
    QueryDef(
      "text_chunk_overlap",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .withColumn("n", size(col("toks")).cast("long"))
        d.select(col("doc_id"), col("toks"), col("n"),
            posexplode(sequence(lit(0L), expr("(n - 1) div 30"))))
          .select(
            col("doc_id"),
            col("pos").cast("long").as("chunk_id"),
            least(lit(40L), col("n") - col("pos") * 30L).as("n_toks"),
            array_join(slice(col("toks"), col("pos") * 30 + 1, lit(40)), " ")
              .as("chunk_text"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS toks,
                  len(string_split(text, ' ')) AS n
                FROM documents)
              SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
                CAST(least(40, n - i * 30) AS BIGINT) AS n_toks,
                array_to_string(toks[i * 30 + 1 : least(i * 30 + 40, n)], ' ')
                  AS chunk_text
              FROM t, LATERAL (SELECT unnest(range(0, ((n - 1) // 30) + 1)) AS i) ix
              ORDER BY doc_id, chunk_id""")),

    // Exactly-k-per-group sampling (k = 50 per language): the
    // deterministic distributed replacement for reservoir sampling —
    // rank by an md5-derived uniform draw within each group and keep the
    // first k. One hash shuffle on the group key; the draw is a pure
    // column expression, so the chosen sample is identical on any
    // engine, partitioning, or rerun (true reservoir sampling is
    // RNG-order-dependent and irreproducible across engines).
    QueryDef(
      "sample_fixed_k",
      (s, dir) => {
        val u = hash31(concat_ws("|", lit("fixk"), col("doc_id").cast("string")))
        val w = Window.partitionBy("lang").orderBy(u.asc, col("doc_id").asc)
        Tables.load(s, dir, "documents")
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 50)
          .select(col("doc_id"), col("lang"), col("rk"))
          .orderBy("lang", "rk")
      },
      Some(s"""WITH r AS (
                SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang ORDER BY
                    ${hash31Sql("concat('fixk', '|', CAST(doc_id AS VARCHAR))")} ASC, doc_id ASC) AS rk
                FROM documents)
              SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
              FROM r WHERE rk <= 50 ORDER BY lang, rk""")),

    // Priority sampling (Duffield–Lund–Thorup): weighted sampling
    // WITHOUT replacement of exactly k documents, with the
    // Horvitz–Thompson threshold estimator that makes any subset-sum
    // over the sample unbiased — the principled way to keep a k-row
    // sketch of a 100 TB corpus for downstream weighted statistics
    // (sample_weighted keeps a ∝-weight BERNOULLI sample whose size
    // floats; this keeps EXACTLY k and ships the estimator with it).
    // Priority q_i = w_i / u_i with w = the capped length weight and
    // u the md5-derived uniform in (0, 1] — both exact integers
    // widened to double, so the single IEEE division is bit-identical
    // on any engine and the ranked order is deterministic (doc_id
    // tie-break). Estimator weight = max(w, tau) with tau = the
    // (k+1)-th priority, a 1-row broadcast — never a driver value.
    // Scale shape: top-(k+1) via orderBy().limit() — Spark plans
    // TakeOrderedAndProject (per-partition heaps + one (k+1)-row
    // merge); the rank window runs on the bounded survivor set only.
    QueryDef(
      "sample_priority",
      (s, dir) => {
        val k = 100
        val w0 = least(col("n_chars"), lit(500L)).cast("double")
        val u = ((hash31(concat_ws("|", lit("prio"),
          col("doc_id").cast("string"))) % 1000000L) + 1L).cast("double") / 1000000.0
        val top = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            w0.as("weight"), (w0 / u).as("priority"))
          .orderBy(col("priority").desc, col("doc_id").asc)
          .limit(k + 1) // TakeOrderedAndProject: distributed top-(k+1),
        //   per-partition bounded heaps — NEVER a doc-grain global sort
        val wr = Window.orderBy(col("priority").desc, col("doc_id").asc)
        val ranked = top // bounded: the window ranks <= k+1 rows only
          .withColumn("rk", row_number().over(wr).cast("long"))
        val tau = ranked.filter(col("rk") === k + 1)
          .select(col("priority").as("tau"))
        // LEFT join: a corpus of <= k docs has no (k+1)-th priority —
        // every row is kept and the estimator is the raw weight
        ranked.filter(col("rk") <= k)
          .join(broadcast(tau), lit(true), "left")
          .select(col("doc_id"), col("lang"), col("weight"), col("rk"),
            greatest(col("weight"), coalesce(col("tau"), col("weight")))
              .as("est_weight"))
          .orderBy("rk")
      },
      Some(s"""WITH p AS (
                SELECT doc_id, lang,
                  CAST(least(n_chars, 500) AS DOUBLE) AS weight,
                  CAST(least(n_chars, 500) AS DOUBLE) /
                    (CAST(${hash31Sql("concat('prio', '|', CAST(doc_id AS VARCHAR))")} % 1000000 + 1 AS DOUBLE) / 1000000.0)
                    AS priority
                FROM documents),
              r AS (SELECT *, row_number() OVER
                      (ORDER BY priority DESC, doc_id ASC) AS rk FROM p),
              t AS (SELECT priority AS tau FROM r WHERE rk = 101)
              SELECT doc_id, lang, weight, CAST(rk AS BIGINT) AS rk,
                greatest(weight, coalesce(t.tau, weight)) AS est_weight
              FROM r LEFT JOIN t ON true WHERE rk <= 100 ORDER BY rk""")),

    // Class-balanced downsampling — the classifier-training prep that
    // equalizes label populations: every label keeps exactly
    // min(label count) rows (the data-derived target — a 1-row
    // broadcast), chosen by the same deterministic md5-rank gate as
    // sample_fixed_k so the kept set is identical on any engine,
    // partitioning, or rerun. One label-keyed window shuffle; the
    // target never returns to the driver.
    QueryDef(
      "sample_class_balanced",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"))
        val target = e.groupBy("label").agg(count(lit(1)).as("n"))
          .agg(min(col("n")).as("k_target"))
        val u = hash31(concat_ws("|", lit("bal"), col("vec_id").cast("string")))
        val w = Window.partitionBy("label").orderBy(u.asc, col("vec_id").asc)
        e.withColumn("rk", row_number().over(w).cast("long"))
          .crossJoin(broadcast(target))
          .filter(col("rk") <= col("k_target"))
          .select(col("vec_id"), col("label"), col("rk"), col("k_target"))
          .orderBy("label", "rk")
      },
      Some(s"""WITH t AS (
                SELECT CAST(min(n) AS BIGINT) AS k_target FROM (
                  SELECT label, count(*) AS n FROM embeddings GROUP BY label)),
              r AS (
                SELECT vec_id, CAST(label AS BIGINT) AS label,
                  row_number() OVER (PARTITION BY label ORDER BY
                    ${hash31Sql("concat('bal', '|', CAST(vec_id AS VARCHAR))")} ASC, vec_id ASC) AS rk
                FROM embeddings)
              SELECT vec_id, label, CAST(rk AS BIGINT) AS rk, t.k_target
              FROM r CROSS JOIN t WHERE rk <= t.k_target
              ORDER BY label, rk""")),

    // Token-rarity scoring: each document's mean corpus collection-
    // frequency (how common its tokens are corpus-wide) — the cheap
    // unigram stand-in for LM perplexity filtering (rare-token docs ~
    // high perplexity), kept log-free so the score is (exact int)/(exact
    // int) in one IEEE division and hash-matches any engine. Shape:
    // tokenize once (localCheckpoint — the frame feeds both the
    // vocabulary aggregate and the scoring join), vocabulary-partitioned
    // count, hash join back, per-doc sum — all shuffles are ∝ corpus
    // tokens, map-side-combined.
    QueryDef(
      "text_rarity",
      (s, dir) => {
        val terms = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .transform(Tables.materialize)
        val ctf = terms.groupBy("term").agg(count(lit(1)).as("ctf"))
        terms.join(ctf, "term")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum(col("ctf")).as("sum_ctf"))
          .withColumn("avg_ctf",
            col("sum_ctf").cast("double") / col("n_tokens").cast("double"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents),
              ctf AS (SELECT term, count(*) AS ctf FROM tk GROUP BY 1)
              SELECT tk.doc_id, count(*) AS n_tokens,
                CAST(sum(ctf.ctf) AS BIGINT) AS sum_ctf,
                CAST(sum(ctf.ctf) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_ctf
              FROM tk JOIN ctf ON tk.term = ctf.term
              GROUP BY tk.doc_id ORDER BY tk.doc_id""")),

    // Markup/boilerplate stripping — the first pass over any web-crawled
    // corpus: wrap each document in deterministic HTML in-plan (tags +
    // sentence-split paragraphs, built from the document itself so the
    // ground truth is known), then strip tags with the standard
    // regexp-replace + whitespace-squeeze recipe. `clean_ok` proves the
    // strip recovered the original text byte-for-byte on every row —
    // a tag regex that eats content or leaks fragments fails the oracle.
    // Pure codegen regexp expressions, map-only at any scale.
    QueryDef(
      "text_strip_markup",
      (s, dir) => {
        val html = concat(lit("<html><body><p>"),
          regexp_replace(col("text"), lit("\\. "), lit(".</p><p>")),
          lit("</p></body></html>"))
        val stripped = trim(regexp_replace(
          regexp_replace(html, lit("<[^>]+>"), lit(" ")),
          lit("  +"), lit(" ")))
        Tables.load(s, dir, "documents")
          .withColumn("html_len", length(html).cast("long"))
          .withColumn("n_para",
            ((length(regexp_replace(col("text"), lit("\\. "), lit(".</p><p>"))) -
              length(col("text"))) / 6 + 1).cast("long"))
          .withColumn("clean", stripped)
          .withColumn("clean_ok", stripped === col("text"))
          .select("doc_id", "html_len", "n_para", "clean_ok", "clean")
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
                SELECT doc_id, text,
                  concat('<html><body><p>',
                    regexp_replace(text, '\. ', '.</p><p>', 'g'),
                    '</p></body></html>') AS html
                FROM documents),
              c AS (
                SELECT doc_id, text, html,
                  trim(regexp_replace(regexp_replace(html, '<[^>]+>', ' ', 'g'),
                    '  +', ' ', 'g')) AS clean
                FROM h)
              SELECT doc_id,
                CAST(length(html) AS BIGINT) AS html_len,
                CAST((length(regexp_replace(text, '\. ', '.</p><p>', 'g'))
                  - length(text)) / 6 + 1 AS BIGINT) AS n_para,
                clean = text AS clean_ok,
                clean
              FROM c ORDER BY doc_id""")),

    // Numericalization — the final tokenize→ids step before tensors:
    // build the frequency-ranked vocabulary (id 0 = most frequent term,
    // ties broken by term — the standard, fully deterministic
    // assignment), then map every document to its id sequence. Shapes:
    // one (term) hash shuffle for the vocabulary, one vocabulary-keyed
    // join back to the exploded corpus (both sides hash-partitioned on
    // term), and a per-doc sort_array rebuild of the ordered sequence —
    // ∝ corpus tokens at any scale, vocabulary never driver-side.
    QueryDef(
      "text_to_ids",
      (s, dir) => {
        // plain load (r14): the r13 repartition regressed this query
        // 0.79x — the split/posexplode here is too light to amortize
        // the added round-robin exchange before the checkpoint
        val terms = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(tokens(col("text"))).as(Seq("pos", "term")))
          .transform(Tables.materialize) // feeds vocab count and the id join once
        // global rank over the VOCABULARY (the aggregated distinct-term
        // set, ≪ corpus) — the one place a single-partition window is
        // the right call; the corpus itself never funnels
        val w = Window.orderBy(col("cnt").desc, col("term").asc)
        val vocab = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
          .withColumn("id", row_number().over(w).cast("long") - 1)
        terms.join(vocab.select("term", "id"), "term")
          .groupBy("doc_id")
          .agg(
            array_join(
              transform(
                array_sort(collect_list(struct(col("pos"), col("id")))),
                e => e.getField("id").cast("string")),
              " ").as("ids"),
            count(lit(1)).cast("long").as("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (
                SELECT doc_id, i - 1 AS pos, string_split(text, ' ')[i] AS term
                FROM documents,
                  LATERAL (SELECT unnest(range(1, len(string_split(text, ' ')) + 1)) AS i) ix),
              vocab AS (
                SELECT term,
                  row_number() OVER (ORDER BY count(*) DESC, term ASC) - 1 AS id
                FROM tk GROUP BY term)
              SELECT doc_id,
                array_to_string(list_transform(
                  list_sort(list({'pos': pos, 'id': id})),
                  e -> CAST(e.id AS VARCHAR)), ' ') AS ids,
                count(*) AS n_tokens
              FROM tk JOIN vocab USING (term)
              GROUP BY doc_id ORDER BY doc_id""")),

    // BPE merge-rule training — the tokenizer-training inner loop, run
    // corpus-parallel: each of the 3 rounds counts adjacent token pairs
    // (map-only pair generator, one hash shuffle with map-side partials),
    // the argmax merge rule comes back to the driver (ONE row, bounded),
    // and the merge applies as a literal string replace with the
    // double-space trick — doubling delimiters makes the 6-char pattern
    // ' a␣␣b ' consume one space per side, so plain leftmost
    // non-overlapping replace() implements exactly BPE's greedy
    // left-to-right merge (self-overlapping chains like 'a a a' merge
    // once, as BPE requires) with no lookahead regex (portable to RE2
    // engines). '~' is the merge joiner — the corpus alphabet is
    // [a-z0-9 ], so it can never collide. The oracle replays all three
    // rounds in chained CTEs, including the tie-break (cnt DESC, a, b).
    QueryDef(
      "text_bpe_merges",
      (s, dir) => {
        import s.implicits._
        bpeRounds(s, dir)._2.toDF("iter", "a", "b", "cnt").orderBy("iter")
      },
      Some(BpeMergesOracleSql)),

    // BPE ENCODING — the other half of the tokenizer: the corpus
    // rewritten by the trained merge rules. Each learned rule applies as
    // the same map-only double-space literal replace the trainer uses
    // (greedy leftmost, one merge per overlap chain), so encode cost is
    // |rules| map passes over the corpus with zero shuffles — at 100 TB
    // the rounds pipeline inside one whole-stage-codegen projection per
    // localCheckpoint generation. Output is the per-document token count
    // and the merged token string; the oracle replays the identical
    // rounds (training AND encoding) in chained CTEs.
    QueryDef(
      "text_bpe_encode",
      (s, dir) =>
        bpeRounds(s, dir)._1
          .select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("n_tokens"),
            col("text").as("text_bpe"))
          .orderBy("doc_id"),
      Some(BpeEncodeOracleSql)),

    // Temperature-flattened source mixture (the multi-source training-mix
    // knob): keep each document with probability C / sqrt(n_source) —
    // i.e. alpha = 0.5 temperature sampling, so a source 100x larger
    // contributes only 10x the documents. The irrational sqrt never
    // materializes: the Bernoulli test `u < C*M/sqrt(n)` is evaluated as
    // the INTEGER comparison u*u*n < C^2*M^2 (exact in any engine — u is
    // the md5-derived uniform draw, all operands stay under 2^61).
    // Shape: one tiny per-source count aggregate broadcast back over the
    // corpus, then a map-only gate — no corpus shuffle at any scale.
    QueryDef(
      "sample_temperature",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val counts = d.groupBy("source").agg(count(lit(1)).as("n_source"))
        val u = hash31(
          concat_ws("|", lit("tsamp"), col("doc_id").cast("string"))) % TempM
        d.join(broadcast(counts), "source")
          .withColumn("u", u)
          .filter(col("u") * col("u") * col("n_source") <
            lit(TempC * TempC * TempM * TempM))
          .select(col("doc_id"), col("source"), col("n_source"))
          .orderBy("doc_id")
      },
      Some(s"""WITH c AS (
                 SELECT source, count(*) AS n_source FROM documents
                 GROUP BY source),
               u AS (
                 SELECT doc_id, source,
                   ${hash31Sql("concat('tsamp', '|', CAST(doc_id AS VARCHAR))")} % $TempM AS u
                 FROM documents)
               SELECT u.doc_id, u.source, c.n_source
               FROM u JOIN c USING (source)
               WHERE u.u * u.u * c.n_source < ${TempC * TempC * TempM * TempM}
               ORDER BY doc_id""")),

    // Bigram language-model scoring — the perplexity-style fluency
    // signal: score(doc) = mean over its bigrams of the corpus-estimated
    // P(w2 | w1) = c(w1 w2) / c(w1). Probabilities are scaled to
    // integers (1e6 * c_bi) div c_uni BEFORE summation, so the aggregate
    // is a plain long sum — deterministic under any partitioning; the
    // single closing division is one IEEE op. Shape: two count
    // aggregates (unigram, bigram — both map-side combined), two
    // hash joins back to the bigram stream keyed on the token — at
    // 100 TB the model tables are corpus-vocabulary-sized, far smaller
    // than the corpus itself, and everything else is map-only.
    QueryDef(
      "text_lm_score",
      (s, dir) => {
        // plain load (r14): the r13 repartition regressed this 0.73x —
        // the bigram slice work is light relative to the extra exchange
        val d = Tables.load(s, dir, "documents")
        val ts = tokens(col("text"))
        // slice+arrays_zip, NOT a transform() lambda: higher-order
        // lambdas run interpreted and re-evaluate the split per element
        // (the same hazard measured at 300 s CPU in bpeRounds)
        val bg = d.select(col("doc_id"),
            explode(when(size(ts) >= 2,
              arrays_zip(
                slice(ts, lit(1), size(ts) - 1).as("w1"),
                slice(ts, lit(2), size(ts) - 1).as("w2")))
              .otherwise(expr(
                "cast(array() as array<struct<w1:string,w2:string>>)")))
              .as("b"))
          .select(col("doc_id"), col("b.w1"), col("b.w2"))
          .transform(Tables.materialize) // feeds the bigram model AND the scoring join
        val cUni = d.select(explode(ts).as("w1"))
          .groupBy("w1").agg(count(lit(1)).as("cu"))
        val cBi = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        val scored = bg
          .join(cBi, Seq("w1", "w2"))
          .join(cUni, Seq("w1"))
          .select(col("doc_id"),
            expr("(1000000 * cb) div cu").as("p_scaled"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("p_scaled")).as("ss"))
        d.select("doc_id").join(scored, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            (col("ss").cast("double") / col("n_bigrams")).as("lm_score"))
          .orderBy("doc_id")
      },
      Some("""WITH bg AS (
                SELECT doc_id,
                  string_split(text, ' ')[i] AS w1,
                  string_split(text, ' ')[i + 1] AS w2
                FROM documents, LATERAL (SELECT unnest(range(1,
                  len(string_split(text, ' ')))) AS i) ix),
              cu AS (
                SELECT unnest(string_split(text, ' ')) AS w1 FROM documents),
              cuc AS (SELECT w1, count(*) AS cu FROM cu GROUP BY w1),
              cbc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
              sc AS (
                SELECT bg.doc_id, count(*) AS n_bigrams,
                  CAST(sum((1000000 * cbc.cb) // cuc.cu) AS BIGINT) AS ss
                FROM bg JOIN cbc USING (w1, w2) JOIN cuc USING (w1)
                GROUP BY bg.doc_id)
              SELECT d.doc_id,
                COALESCE(sc.n_bigrams, 0) AS n_bigrams,
                CAST(sc.ss AS DOUBLE) / sc.n_bigrams AS lm_score
              FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
              ORDER BY d.doc_id""")),

    // Custom Generator UDTF (graft.functions.NGramsGenerator): positional
    // word trigrams emitted by a user-defined table function — the third
    // Catalyst extension point after the scalar Expression
    // (CosineSimilarity) and the typed Aggregator (MinHashAgg). Catalyst
    // plans it into the same in-stage Generate node as posexplode, so
    // the fan-out is map-only (PlanSpec-asserted); output volume, not
    // shuffle, is the 100 TB cost. The generator is registered on a
    // child session.
    QueryDef(
      "text_ngrams_gen",
      (s, dir) => {
        val c = GraftSession.child(s)
        Tables.load(c, dir, "documents")
          .select(col("doc_id"),
            graft.functions.NGramsGenerator(c, col("text"), 3))
          .orderBy("doc_id", "pos")
      },
      Some("""SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                array_to_string(string_split(text, ' ')[i:i+2], ' ') AS gram
              FROM documents, LATERAL (SELECT unnest(range(1,
                len(string_split(text, ' ')) - 1)) AS i) ix
              ORDER BY doc_id, pos""")),

    // Model-based quality scoring — the fasttext-style linear classifier
    // step of a data pipeline, made engine-exact: each token contributes
    // a hashing-trick weight (hash31(token) mod 201 - 100, the standard
    // feature-hashing construction with a fixed public hash), plus
    // engineered count features (stopword count, token count) with
    // integer coefficients. The margin is a pure BIGINT dot product —
    // no sigmoid, because exp() is not bit-portable across engines and
    // the keep decision only needs the margin's sign; a production
    // deployment swaps the md5-derived weights for trained ones, same
    // plan. Map-only (one pass, no shuffle before the presentation
    // sort), whole-stage-codegen except the per-token lambda.
    QueryDef(
      "text_quality_model",
      (s, dir) => {
        val toksC = tokens(col("text"))
        val lex = aggregate(
          transform(toksC, t => hash31(t) % 201L - 100L),
          lit(0L), (a, x) => a + x)
        Tables.loadParallel(s, dir, "documents")
          .select(col("doc_id"),
            tokenCount(col("text")).as("n_tokens"),
            size(filter(toksC, t => t.isin(stopwords.map(x => x: Any): _*)))
              .cast("long").as("n_stop"),
            lex.as("lex_score"))
          .withColumn("margin",
            col("lex_score") + lit(8L) * col("n_stop") - col("n_tokens"))
          .withColumn("keep", col("margin") >= 0L)
          .orderBy("doc_id")
      },
      Some(s"""WITH f AS (
                SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('the','a','and','of','to','is','in'))) AS BIGINT) AS n_stop,
                  CAST(list_sum(list_transform(string_split(text, ' '),
                    t -> ${hash31Sql("t")} % 201 - 100)) AS BIGINT) AS lex_score
                FROM documents)
              SELECT doc_id, n_tokens, n_stop, lex_score,
                lex_score + 8 * n_stop - n_tokens AS margin,
                lex_score + 8 * n_stop - n_tokens >= 0 AS keep
              FROM f ORDER BY doc_id""")),

    // Reciprocal-rank fusion of two independent quality signals — the
    // standard way to combine heterogeneous rankers (BM25 + ANN in
    // retrieval, model score + heuristics in data curation) without
    // calibrating their score scales: each signal contributes
    // 1 / (60 + rank), so only rank order matters. Signals here: the
    // text_quality_model linear margin (shared Column builder) and the
    // type-token ratio (vocabulary diversity — a repetition penalty).
    // Ranks are PER LANGUAGE (row_number windows partitioned by lang),
    // which is both the realistic curation unit and the scale-safe shape:
    // a global rank would funnel the corpus through one partition, while
    // per-lang windows shuffle once on lang. All-integer ranks + two IEEE
    // divisions make the fused score engine-exact.
    QueryDef(
      "text_rank_fusion",
      (s, dir) => {
        val toksC = tokens(col("text"))
        val ttr = size(array_distinct(toksC)).cast("double") /
          size(toksC).cast("double")
        val w1 = Window.partitionBy("lang")
          .orderBy(col("margin").desc, col("doc_id").asc)
        val w2 = Window.partitionBy("lang")
          .orderBy(col("ttr").desc, col("doc_id").asc)
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            qualityMargin(col("text")).as("margin"), ttr.as("ttr"))
          .withColumn("r_margin", row_number().over(w1).cast("long"))
          .withColumn("r_ttr", row_number().over(w2).cast("long"))
          .withColumn("rrf",
            lit(1.0) / (lit(60).cast("double") + col("r_margin")) +
              lit(1.0) / (lit(60).cast("double") + col("r_ttr")))
          .select("doc_id", "lang", "r_margin", "r_ttr", "rrf")
          .orderBy("doc_id")
      },
      Some(s"""WITH f AS (
                 SELECT doc_id, lang,
                   $QualityMarginSql AS margin,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
                 FROM documents),
               r AS (
                 SELECT doc_id, lang,
                   CAST(row_number() OVER (PARTITION BY lang
                     ORDER BY margin DESC, doc_id) AS BIGINT) AS r_margin,
                   CAST(row_number() OVER (PARTITION BY lang
                     ORDER BY ttr DESC, doc_id) AS BIGINT) AS r_ttr
                 FROM f)
               SELECT doc_id, lang, r_margin, r_ttr,
                 1.0 / (60.0 + r_margin) + 1.0 / (60.0 + r_ttr) AS rrf
               FROM r ORDER BY doc_id""")),

    // Training-mix planner: water-filling source balancing under a global
    // budget (half the corpus here). Every source gets an equal share of
    // the budget unless it has fewer documents than the common level L —
    // then it keeps everything and its unused share redistributes to the
    // larger sources (the classic max-min fair allocation; the integer
    // level is the largest L with sum(min(n_s, L)) <= budget). Per-source
    // counts are a k-row aggregate (k = #sources, never corpus-sized), L
    // is O(k) arithmetic on those counts, and membership is the
    // deterministic hash-rank gate sample_fixed_k uses — one window
    // shuffle on source. The oracle derives the identical level from
    // sorted prefix sums, so quotas and membership replay exactly.
    QueryDef(
      "sample_mixture",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val counts = docs.groupBy("source")
          .agg(count(lit(1)).as("n")).collect()
          .map(r => r.getString(0) -> r.getLong(1))
          .sortBy { case (src, n) => (n, src) }
        val k = counts.length
        val budget = counts.map(_._2).sum / 2
        // max-min fair integer level: i saturated smallest sources,
        // L_i = (budget - prefix_i) / (k - i), valid while c_i <= L_i.
        // Clamped at 0: Scala's `/` truncates toward zero while the
        // oracle's DuckDB `//` floors, so the two disagree on negative
        // candidates (budget - prefix < 0 on late iterations). A
        // negative candidate is never a valid level anyway (counts are
        // >= 1 > it), and clamping makes that invariant explicit
        // instead of relying on both engines rejecting it.
        var level = 0L
        var prefix = 0L
        for (i <- 0 until k) {
          val li = math.max(0L, (budget - prefix) / (k - i))
          if (i == 0 || counts(i - 1)._2 <= li) level = li
          prefix += counts(i)._2
        }
        val quotas = counts.toSeq
          .map { case (src, n) => (src, n, math.min(n, level)) }
          .toDF("source", "n_source", "quota")
        val u = hash31(concat_ws("|", lit("mix"), col("doc_id").cast("string")))
        val w = Window.partitionBy("source").orderBy(u.asc, col("doc_id").asc)
        docs.join(broadcast(quotas), "source")
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= col("quota"))
          .select(col("doc_id"), col("source"), col("n_source"),
            col("quota"), col("rk"))
          .orderBy("doc_id")
      },
      Some(s"""WITH c AS (
                 SELECT source, count(*) AS n FROM documents GROUP BY source),
               t AS (SELECT sum(n) // 2 AS budget, count(*) AS k FROM c),
               sorted AS (
                 SELECT source, n,
                   row_number() OVER (ORDER BY n, source) AS i,
                   COALESCE(sum(n) OVER (ORDER BY n, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
                 FROM c),
               cand AS (
                 SELECT i, n, (t.budget - p) // (t.k - i + 1) AS lvl,
                   lag(n) OVER (ORDER BY i) AS prev_n
                 FROM sorted, t),
               lvl AS (
                 SELECT lvl FROM cand
                 WHERE prev_n IS NULL OR prev_n <= lvl
                 ORDER BY i DESC LIMIT 1),
               q AS (
                 SELECT source, n AS n_source,
                   CAST(least(n, (SELECT lvl FROM lvl)) AS BIGINT) AS quota
                 FROM c),
               r AS (
                 SELECT d.doc_id, d.source, q.n_source, q.quota,
                   row_number() OVER (PARTITION BY d.source ORDER BY
                     ${hash31Sql("concat('mix', '|', CAST(d.doc_id AS VARCHAR))")} ASC, d.doc_id ASC) AS rk
                 FROM documents d JOIN q USING (source))
               SELECT doc_id, source, n_source, quota, CAST(rk AS BIGINT) AS rk
               FROM r WHERE rk <= quota ORDER BY doc_id""")),

    // Balanced shard packing: assign every document to one of 8 output
    // shards so per-shard TOKEN totals come out near-equal — the
    // assignment step before writing fixed-count training shards.
    // Scale shape: docs are banded by coarse size (n_tok div 8, so a
    // band's members differ by <8 tokens) and sub-salted into groups of
    // ~256 docs (salt cardinality = corpus_count/2048, a bounded
    // driver-side scalar like sample_mixture's quota table); a
    // round-robin over the hash-ranked members of each (band, salt)
    // group balances token mass within every group, hence globally.
    // The window key (band, salt) has cardinality that GROWS with the
    // corpus — no single-partition funnel, no global sort, group size
    // ~constant at any scale. A per-group hash offset rotates the
    // round-robin start so remainder rows do not systematically favor
    // low shard ids. Deterministic: rerun-, engine- and
    // partitioning-invariant (hash ranks, not RNG).
    QueryDef(
      "text_shard_pack",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val nSalt = math.max(1L, Tables.rowCount(s, dir, "documents") / 2048L)
        val nTok = tokenCount(col("text"))
        val u = hash31(concat_ws("|", lit("spack"), col("doc_id").cast("string")))
        val salt = hash31(concat_ws("|", lit("ssalt"), col("doc_id").cast("string"))) % nSalt
        val w = Window.partitionBy("band", "salt").orderBy(col("u").asc, col("doc_id").asc)
        val goff = hash31(concat_ws("|", lit("soff"),
          col("band").cast("string"), col("salt").cast("string"))) % 8L
        docs
          .select(col("doc_id"), nTok.as("n_tok"), u.as("u"), salt.as("salt"))
          .withColumn("band", expr("n_tok div 8"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("n_tok"),
            ((col("rk") - 1L + goff) % 8L).as("shard"))
          .orderBy("doc_id")
      },
      Some(s"""WITH s AS (
                SELECT greatest(1, count(*) // 2048) AS n_salt FROM documents),
              t AS (
                SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                  ${hash31Sql("concat('spack', '|', CAST(doc_id AS VARCHAR))")} AS u,
                  ${hash31Sql("concat('ssalt', '|', CAST(doc_id AS VARCHAR))")} % (SELECT n_salt FROM s) AS salt
                FROM documents),
              b AS (
                SELECT doc_id, n_tok, u, salt, n_tok // 8 AS band FROM t),
              r AS (
                SELECT doc_id, n_tok, band, salt,
                  row_number() OVER (PARTITION BY band, salt
                    ORDER BY u ASC, doc_id ASC) AS rk,
                  ${hash31Sql("concat('soff', '|', CAST(band AS VARCHAR), '|', CAST(salt AS VARCHAR))")} % 8 AS goff
                FROM b)
              SELECT doc_id, n_tok,
                CAST((rk - 1 + goff) % 8 AS BIGINT) AS shard
              FROM r ORDER BY doc_id"""))
  ) ++ Seq(

    // Per-document keyword extraction: top-3 tokens by TF-IDF, the
    // KeyBERT/YAKE-shaped primitive a retrieval pipeline runs to tag
    // every document. idf is the same floor-scaled rational as
    // dedup_tfidf_nn ((1000*(2N-2df+1)) div (2df+1) — log-free, exact),
    // weights are BIGINTs, and the top-3 is a per-doc window argmax with
    // a total tie-break (weight desc, token asc) — never a global sort.
    // Shape: one token explode, two map-side-combined aggregations (tf,
    // df), one broadcast of the 1-row corpus count, one window shuffle
    // on doc_id — work ∝ corpus tokens at any scale.
    QueryDef(
      "text_keywords",
      (s, dir) => {
        // plain load (r14): the r13 repartition regressed this 0.88x —
        // tf/df are map-side combined, so the scan work is one explode
        val d = Tables.load(s, dir, "documents")
        val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfr = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val n = d.agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("w").desc, col("tok").asc)
        tf.join(dfr, "tok").crossJoin(broadcast(n))
          .select(col("doc_id"), col("tok"),
            (col("tf") *
              expr("(1000 * (2*n_docs - 2*df + 1)) div (2*df + 1)")).as("w"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank").cast("long").as("rank"),
            col("tok").as("keyword"), col("w").as("tfidf_q"))
          .orderBy("doc_id", "rank")
      },
      Some("""WITH tf AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents),
              tfc AS (
                SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                FROM tf GROUP BY 1, 2),
              dfr AS (
                SELECT tok, CAST(count(*) AS BIGINT) AS df
                FROM tfc GROUP BY 1),
              n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
              wt AS (
                SELECT doc_id, tok,
                  tf * ((1000 * (2*n.n_docs - 2*df + 1)) // (2*df + 1)) AS w
                FROM tfc JOIN dfr USING (tok), n),
              r AS (
                SELECT doc_id, tok, w,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY w DESC, tok) AS rank
                FROM wt)
              SELECT doc_id, CAST(rank AS BIGINT) AS rank,
                tok AS keyword, w AS tfidf_q
              FROM r WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // Collocation mining: top-20 adjacent-token bigrams by pointwise
    // mutual information — the phrase detector (word2vec's phrase pass,
    // NLTK collocations) run before tokenizer training. PMI is kept
    // EXACT as the scaled rational (10^6 * c_xy * T) div (c_x * c_y)
    // (= 10^6 · p_xy/(p_x·p_y) up to the corpus-constant bigram/token
    // ratio, which shifts every score equally and cannot reorder), with
    // 128-bit products so a web-scale corpus cannot overflow. A min
    // pair count of 5 drops the noise tail. Shape: one bigram explode +
    // one unigram explode, three map-side-combined counts, two
    // equi-joins of the bigram relation against the unigram counts, one
    // top-k sort-limit (TakeOrdered, never a global sort).
    QueryDef(
      "text_pmi",
      (s, dir) => {
        val d = Tables.loadParallel(s, dir, "documents")
        val toks = tokens(col("text"))
        val ug = d.select(explode(toks).as("tok"))
        val cx = ug.groupBy("tok").agg(count(lit(1)).as("c"))
        val tot = ug.agg(count(lit(1)).as("t_total"))
        val bi = d.filter(size(toks) >= 2)
          .select(explode(transform(sequence(lit(0), size(toks) - 2), i =>
            struct(element_at(toks, (i + 1).cast("int")).as("a"),
              element_at(toks, (i + 2).cast("int")).as("b")))).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
        val cxy = bi.groupBy("a", "b").agg(count(lit(1)).as("c_xy"))
          .filter(col("c_xy") >= 5)
        cxy
          .join(cx.select(col("tok").as("a"), col("c").as("c_a")), "a")
          .join(cx.select(col("tok").as("b"), col("c").as("c_b")), "b")
          .crossJoin(broadcast(tot))
          .select(col("a"), col("b"), col("c_xy"),
            expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * c_xy * t_total)
                        div (CAST(c_a AS DECIMAL(38,0)) * c_b)
                      AS BIGINT)""").as("pmi_q"))
          .orderBy(col("pmi_q").desc, col("a").asc, col("b").asc)
          .limit(20)
      },
      Some("""WITH tk AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              ug AS (SELECT unnest(w) AS tok FROM tk),
              cx AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
                     FROM ug GROUP BY tok),
              tot AS (SELECT CAST(count(*) AS BIGINT) AS t_total FROM ug),
              bi AS (
                SELECT w[i] AS a, w[i+1] AS b
                FROM tk, LATERAL (SELECT unnest(range(1, len(w))) AS i) ix),
              cxy AS (
                SELECT a, b, CAST(count(*) AS BIGINT) AS c_xy
                FROM bi GROUP BY a, b HAVING count(*) >= 5)
              SELECT cxy.a, cxy.b, cxy.c_xy,
                CAST((1000000 * CAST(cxy.c_xy AS HUGEINT) * tot.t_total)
                     // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS pmi_q
              FROM cxy JOIN cx ca ON ca.tok = cxy.a
                       JOIN cx cb ON cb.tok = cxy.b, tot
              ORDER BY pmi_q DESC, cxy.a, cxy.b LIMIT 20""")),

    // DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): select raw-corpus
    // documents that LOOK LIKE a target distribution, scored in a cheap
    // hashed n-gram feature space rather than with a model. Features are
    // word bigrams hashed into DsirB=64 buckets; the target distribution
    // is the English subset (the stand-in for "trusted domain"), the raw
    // distribution is the whole corpus. Per-bucket importance ratio
    // lambda_b = (DsirScale * (t_b+1)) div (r_b+1) — add-one smoothed,
    // integer-scaled, and since target ⊆ raw it is bounded by DsirScale,
    // so per-doc scores (sum of lambda over the doc's bigram
    // occurrences) stay far below 2^63. Selection replaces DSIR's
    // Gumbel-top-k (a global sort) with the scale-safe equivalent: a
    // deterministic md5 uniform u and the Bernoulli gate
    // u * s_sum < score * n_docs * DsirBudget — expected keep rate
    // budget/M weighted by score, evaluated EXACTLY with both products
    // in DECIMAL(38,0) (oracle: HUGEINT), so no float enters the gate.
    // Shape: one bigram explode feeding two 64-row aggregates (broadcast
    // back), one doc-keyed map-side-combined score aggregate, one 1-row
    // stats broadcast, then a map-only gate — no corpus-scale shuffle
    // beyond the single score aggregation at any corpus size.
    QueryDef(
      "sample_dsir",
      (s, dir) => {
        val d = Tables.loadParallel(s, dir, "documents")
        val ts = tokens(col("text"))
        // slice+arrays_zip, not a transform() lambda (the interpreted-
        // lambda hazard documented at text_lm_score)
        val bg = d.select(col("doc_id"), col("lang"),
            explode(when(size(ts) >= 2,
              arrays_zip(
                slice(ts, lit(1), size(ts) - 1).as("w1"),
                slice(ts, lit(2), size(ts) - 1).as("w2")))
              .otherwise(expr(
                "cast(array() as array<struct<w1:string,w2:string>>)")))
              .as("b"))
          .select(col("doc_id"), col("lang"),
            (hash31(concat(lit("dsir|"), col("b.w1"), lit(" "), col("b.w2")))
              % DsirB).as("bucket"))
          .transform(Tables.materialize) // feeds raw counts, target counts, scoring
        val raw = bg.groupBy("bucket").agg(count(lit(1)).as("r_b"))
        val tgt = bg.filter(col("lang") === "en")
          .groupBy("bucket").agg(count(lit(1)).as("t_b"))
        val lam = raw.join(tgt, Seq("bucket"), "left")
          .select(col("bucket"),
            expr(s"($DsirScale * (coalesce(t_b, 0) + 1)) div (r_b + 1)")
              .as("lam"))
        val score = bg.join(broadcast(lam), "bucket")
          .groupBy("doc_id").agg(sum(col("lam")).as("score_q"))
        // s_sum accumulates in DECIMAL(38,0): a plain LongType sum wraps
        // silently in non-ANSI mode while the oracle's DuckDB sum widens
        // to HUGEINT — at the corpus sizes this gate targets the two
        // could silently diverge. Decimal accumulation is exact to ~1e38
        // and THROWS past that on both engines (round-5 advice).
        val stats = score
          .agg(count(lit(1)).as("n_docs"),
            sum(col("score_q").cast("decimal(38,0)")).as("s_sum"))
          .select(col("s_sum"), (col("n_docs") * lit(DsirBudget)).as("nb"))
        val u = hash31(concat(lit("dsir|"), col("doc_id").cast("string"))) %
          DsirM
        d.select(col("doc_id"), col("lang"))
          .join(score, "doc_id") // bigram-less docs carry no evidence: drop
          .crossJoin(broadcast(stats))
          .withColumn("u", u)
          .filter(col("u").cast("decimal(19,0)") * col("s_sum") <
            col("score_q").cast("decimal(19,0)") *
              col("nb").cast("decimal(19,0)"))
          .select(col("doc_id"), col("lang"), col("score_q"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (
                 SELECT doc_id, lang, string_split(text, ' ') AS w
                 FROM documents),
               bg AS (
                 SELECT doc_id, lang,
                   (${hash31Sql("concat('dsir|', w[i], ' ', w[i+1])")} % $DsirB) AS bucket
                 FROM tk, LATERAL
                   (SELECT unnest(range(1, len(w))) AS i) ix),
               rawc AS (SELECT bucket, count(*) AS r_b FROM bg
                        GROUP BY bucket),
               tgtc AS (SELECT bucket, count(*) AS t_b FROM bg
                        WHERE lang = 'en' GROUP BY bucket),
               lam AS (
                 SELECT rawc.bucket,
                   ($DsirScale * (COALESCE(t_b, 0) + 1)) // (r_b + 1) AS lam
                 FROM rawc LEFT JOIN tgtc USING (bucket)),
               sc AS (
                 SELECT doc_id, CAST(sum(lam) AS BIGINT) AS score_q
                 FROM bg JOIN lam USING (bucket) GROUP BY doc_id),
               st AS (
                 SELECT CAST(sum(score_q) AS BIGINT) AS s_sum,
                        count(*) * $DsirBudget AS nb
                 FROM sc)
               SELECT d.doc_id, d.lang, sc.score_q
               FROM documents d JOIN sc USING (doc_id), st
               WHERE CAST(${hash31Sql("concat('dsir|', CAST(d.doc_id AS VARCHAR))")} % $DsirM AS HUGEINT)
                   * CAST(st.s_sum AS HUGEINT)
                 < CAST(sc.score_q AS HUGEINT) * CAST(st.nb AS HUGEINT)
               ORDER BY d.doc_id""")),

    // Benchmark decontamination — the train-set hygiene pass every LLM
    // pipeline runs before training: held-out/eval documents (doc_id %
    // 11 == 0 stands in for the benchmark manifest; production swaps in
    // the real eval-set table) are checked for VERBATIM 8-token window
    // overlap against the training side, and every contaminated training
    // doc is reported with its evidence — which benchmark doc, how many
    // distinct shared windows. The 8-token window is the published
    // decontamination granularity (a 13-gram in GPT-3's report, 8 here
    // to match dedup_substring's chunking). Shape: the corpus is
    // windowed ONCE (distinct windows per doc, in-scan lambda), split
    // into train/bench sides by the id rule, and matched by ONE
    // inverted-index equi-join on the window string — shuffle ∝
    // colliding windows, never train × bench; a stop-window DF cap
    // (same MaxShingleDF discipline, far above this corpus's max DF so
    // the oracle comparison stays byte-exact) keeps one viral
    // boilerplate window from exploding the posting join at 100 TB.
    QueryDef(
      "text_contamination",
      (s, dir) => {
        val postings = Tables.loadParallel(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("ts"))
          .select(col("doc_id"), explode(array_distinct(tokenWindows(col("ts"), 8))).as("w"))
          .transform(Tables.materialize) // windows feed the DF cap and both join sides
        val kept = Dedup.dropViral(postings, Seq("w"), 10000)
        val bench = kept.filter(col("doc_id") % 11 === 0)
          .select(col("w"), col("doc_id").as("bench_id"))
        kept.filter(col("doc_id") % 11 =!= 0)
          .join(bench, Seq("w"))
          .groupBy("doc_id", "bench_id")
          .agg(count(lit(1)).as("n_shared_windows"))
          .orderBy("doc_id", "bench_id")
      },
      // the window DF cap is REPLAYED (keptw) so the check stays exact
      // even on a corpus where a window's df exceeds the cap — the same
      // discipline mm_contamination's chunk cap uses (round-7 advice)
      Some("""WITH p AS MATERIALIZED (
                SELECT DISTINCT doc_id,
                  array_to_string(string_split(text, ' ')[i:i+7], ' ') AS w
                FROM documents, LATERAL (SELECT unnest(range(1,
                  len(string_split(text, ' ')) - 6)) AS i) ix),
              keptw AS MATERIALIZED (
                SELECT doc_id, w FROM p
                WHERE w NOT IN (SELECT w FROM p
                  GROUP BY w HAVING count(*) > 10000))
              SELECT t.doc_id AS doc_id, b.doc_id AS bench_id,
                CAST(count(*) AS BIGINT) AS n_shared_windows
              FROM keptw t JOIN keptw b ON t.w = b.w
              WHERE t.doc_id % 11 != 0 AND b.doc_id % 11 = 0
              GROUP BY t.doc_id, b.doc_id
              ORDER BY t.doc_id, bench_id""")),

    // Per-document n-gram novelty — the memorization-risk / marginal-
    // value score data-curation loops rank shards by: the fraction of a
    // document's distinct 3-gram shingles whose FIRST corpus occurrence
    // (min doc_id, the ingestion-order stand-in) is the document itself.
    // A novelty near 0 means the doc is assembled from already-seen
    // text (near-dup families score lowest); near 1 means fresh
    // material. Shape: one shingle explode, ONE map-side-combined
    // min(doc_id) aggregate on the shingle key, one equi-join of the
    // postings back on the SAME shingle key (exchange reuse — the join
    // reads the aggregate's own partitioning), one per-doc aggregate —
    // work ∝ corpus shingles, no self-join, no broadcast of anything
    // corpus-sized. novelty = exact-int n_new / n_sh in double, same
    // division the oracle runs.
    QueryDef(
      "text_ngram_novelty",
      (s, dir) => {
        val postings = Tables.loadParallel(s, dir, "documents")
          .select(col("doc_id"), explode(shingles(col("text"), 3)).as("sh"))
          .transform(Tables.materialize) // feeds the first-seen agg AND the probe side
        val firstSeen = postings.groupBy("sh")
          .agg(min(col("doc_id")).as("first_doc"))
        postings.join(firstSeen, Seq("sh"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_sh"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_new"))
          .select(col("doc_id"), col("n_sh"), col("n_new"),
            (col("n_new").cast("double") / col("n_sh").cast("double"))
              .as("novelty"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
                SELECT DISTINCT doc_id,
                  array_to_string(string_split(text, ' ')[i:i+2], ' ') AS sh
                FROM documents, LATERAL (SELECT unnest(range(1,
                  len(string_split(text, ' ')) - 1)) AS i) ix),
              f AS (SELECT sh, min(doc_id) AS first_doc FROM p GROUP BY sh)
              SELECT p.doc_id,
                CAST(count(*) AS BIGINT) AS n_sh,
                CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
                CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
              FROM p JOIN f USING (sh)
              GROUP BY p.doc_id ORDER BY p.doc_id""")),

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    // the MOSS algorithm): from each doc's positional 3-gram hash
    // stream, every w=4-gram window contributes its minimal hash
    // (leftmost on ties — deterministic and replayed identically by
    // the oracle), and the union of selected (pos, hash) pairs is the
    // document fingerprint. The guarantee production systems buy with
    // this: any shared token run of length ≥ w+2 yields at least one
    // SHARED fingerprint hash, at an expected density of only
    // 2/(w+1) ≈ 0.4 of the grams — the provable-coverage alternative
    // to random MinHash sampling. Shape: the gram stream is the same
    // map-only Generate as text_ngrams_gen, window membership is a
    // constant w-row expansion (never data × data), the per-window
    // argmin is ONE doc_id-hashed rank window, and the final dedup is
    // a hash aggregate — work ∝ corpus grams × w at any scale. The
    // generator is registered on a child session.
    QueryDef(
      "text_winnowing",
      (s, dir) => {
        val W = 4
        val c = GraftSession.child(s)
        val grams = Tables.loadParallel(c, dir, "documents")
          .select(col("doc_id"),
            (size(tokens(col("text"))) - 2).cast("long").as("n_grams"),
            graft.functions.NGramsGenerator(c, col("text"), 3))
          .filter(col("n_grams") >= W)
          .select(col("doc_id"), col("n_grams"), col("pos"),
            hash31(col("gram")).as("h"))
        val exp = grams.select(col("doc_id"), col("pos"), col("h"),
          explode(sequence(
            greatest(lit(0L), col("pos") - (W - 1)),
            least(col("pos"), col("n_grams") - W))).as("ws"))
        exp.withColumn("rk", row_number().over(
            Window.partitionBy("doc_id", "ws")
              .orderBy(col("h").asc, col("pos").asc)))
          .filter(col("rk") === 1)
          .select("doc_id", "pos", "h").distinct()
          .orderBy("doc_id", "pos")
      },
      Some(s"""WITH g AS (
                SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                  ${hash31Sql("array_to_string(string_split(text,' ')[i:i+2], ' ')")} AS h,
                  CAST(len(string_split(text,' ')) - 2 AS BIGINT) AS n_grams
                FROM documents, LATERAL (SELECT unnest(range(1,
                  len(string_split(text,' ')) - 1)) AS i) ix
                WHERE len(string_split(text,' ')) - 2 >= 4),
              e AS (
                SELECT doc_id, pos, h, ws
                FROM g, LATERAL (SELECT unnest(range(
                  GREATEST(0, pos - 3), LEAST(pos, n_grams - 4) + 1)) AS ws) wx),
              r AS (
                SELECT doc_id, pos, h,
                  row_number() OVER (PARTITION BY doc_id, ws
                    ORDER BY h ASC, pos ASC) AS rk
                FROM e)
              SELECT DISTINCT doc_id, pos, h FROM r WHERE rk = 1
              ORDER BY doc_id, pos""")),

    // Sequence-length histogram + padding-waste profile — the report
    // that decides context length and whether packing (text_pack) is
    // worth running: token counts bucketed by 64, and per bucket the
    // exact tokens a naive pad-to-512 batching would burn as padding
    // ((512 − len mod 512) mod 512 per doc — pure integer arithmetic).
    // waste_share is the number an engineer reads: >30% says pack.
    // Shape: map-only length arithmetic + one bounded hash aggregate
    // (bucket domain ≤ max_len/64), broadcast-free.
    QueryDef(
      "text_seqlen_hist",
      (s, dir) => {
        val toks = size(tokens(col("text"))).cast("long")
        Tables.load(s, dir, "documents")
          .select(toks.as("len"))
          .select(col("len"), expr("len div 64").as("bucket"),
            expr("(512 - len % 512) % 512").as("waste"))
          .groupBy("bucket").agg(
            count(lit(1)).as("n_docs"),
            sum(col("len")).as("sum_tokens"),
            sum(col("waste")).as("sum_pad_waste"))
          .select(col("bucket"), col("n_docs"), col("sum_tokens"),
            col("sum_pad_waste"),
            (col("sum_pad_waste").cast("double") /
              (col("sum_tokens") + col("sum_pad_waste")).cast("double"))
              .as("waste_share"))
          .orderBy("bucket")
      },
      Some("""WITH d AS (
                SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS len
                FROM documents),
              b AS (
                SELECT len, len // 64 AS bucket,
                  (512 - len % 512) % 512 AS waste
                FROM d),
              g AS (
                SELECT bucket, count(*) AS n_docs,
                  CAST(sum(len) AS BIGINT) AS sum_tokens,
                  CAST(sum(waste) AS BIGINT) AS sum_pad_waste
                FROM b GROUP BY bucket)
              SELECT bucket, n_docs, sum_tokens, sum_pad_waste,
                CAST(sum_pad_waste AS DOUBLE)
                  / CAST(sum_tokens + sum_pad_waste AS DOUBLE)
                  AS waste_share
              FROM g ORDER BY bucket""")),

    // Vocabulary-growth (Heaps) curve (round-11, the corpus-science
    // companion of the heaps CorpusGen mode): distinct-vocabulary size
    // measured at 8 doubling corpus prefixes in doc_id order. The naive
    // form — a distinct count per prefix — is 8 corpus-wide distincts;
    // this is ONE: a token's first_doc = min(doc_id) determines exactly
    // which prefixes count it, so one vocabulary-grain aggregate plus
    // an 8-row broadcast spine yields every prefix's (n_docs, n_tokens,
    // n_vocab) triple. All outputs are exact BIGINTs — the log-log
    // slope (Heaps' β) is one ln-ratio away, but transcendentals stay
    // OFF the cross-engine data path (the q_dp_release discipline).
    // Shape: one explode + one (token) hash agg + two tiny
    // broadcast-spine aggregates; prefix bounds come from the doc_id
    // range (contiguous in every corpus this suite generates), via one
    // 1-row min/max aggregate.
    QueryDef(
      "text_heaps_curve",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("n_toks"))
        val stats = d.agg(min(col("doc_id")).as("lo"),
          max(col("doc_id")).as("hi"))
        // k = 1..8 → prefix of ceil(n / 2^(8-k)) docs (sizes n/128 … n)
        val spine = s.range(1, 9).select(col("id").as("k"))
          .crossJoin(broadcast(stats))
          .select(col("k"),
            (col("lo") + ceil((col("hi") - col("lo") + 1).cast("double") /
              pow(lit(2.0), (lit(8) - col("k")).cast("double")))
              .cast("long") - 1).as("bound"))
        val words = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        val firstDoc = words.groupBy("w")
          .agg(min(col("doc_id")).as("first_doc"))
        val perPrefixDocs = d.crossJoin(broadcast(spine))
          .filter(col("doc_id") <= col("bound"))
          .groupBy("k").agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_tokens"))
        val perPrefixVocab = firstDoc.crossJoin(broadcast(spine))
          .filter(col("first_doc") <= col("bound"))
          .groupBy("k").agg(count(lit(1)).as("n_vocab"))
        s.range(1, 9).select(col("id").as("k"))
          .join(broadcast(perPrefixDocs), Seq("k"), "left")
          .join(broadcast(perPrefixVocab), Seq("k"), "left")
          .select(col("k").as("prefix_id"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
            coalesce(col("n_vocab"), lit(0L)).as("n_vocab"))
          .orderBy("prefix_id")
      },
      Some("""WITH d AS (
                SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
                FROM documents),
              st AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM d),
              spine AS (
                SELECT k, lo + CAST(CEIL(
                    CAST(hi - lo + 1 AS DOUBLE) / POWER(2.0, 8 - k))
                  AS BIGINT) - 1 AS bound
                FROM st, (SELECT unnest(range(1, 9)) AS k) ks),
              toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents),
              fd AS (SELECT w, min(doc_id) AS first_doc
                     FROM toks GROUP BY w),
              pd AS (
                SELECT s.k, count(*) AS n_docs,
                  CAST(sum(d.n_toks) AS BIGINT) AS n_tokens
                FROM d JOIN spine s ON d.doc_id <= s.bound GROUP BY s.k),
              pv AS (
                SELECT s.k, count(*) AS n_vocab
                FROM fd JOIN spine s ON fd.first_doc <= s.bound
                GROUP BY s.k)
              SELECT ks.k AS prefix_id,
                COALESCE(pd.n_docs, 0) AS n_docs,
                COALESCE(pd.n_tokens, 0) AS n_tokens,
                COALESCE(pv.n_vocab, 0) AS n_vocab
              FROM (SELECT unnest(range(1, 9)) AS k) ks
              LEFT JOIN pd ON pd.k = ks.k
              LEFT JOIN pv ON pv.k = ks.k
              ORDER BY prefix_id""")),

    // Rank-frequency (Zipf) curve: the corpus's word-frequency
    // distribution probed at 13 doubling ranks (1, 2, 4, … 4096) —
    // the standard log-log diagnostic for whether a corpus (or a
    // synthetic generator, like the heaps mode whose inverse-CDF draw
    // targets pdf ∝ 1/rank) actually follows a power law. Rank ties
    // break by token text so the probe is deterministic. Exact counts
    // only; the slope fit stays off the data path. Shape: one explode
    // + one (token) hash agg, then a TakeOrderedAndProject top-4096
    // (per-partition 4096-row heaps merged on the driver — NEVER a
    // global sort or a vocabulary-wide single-partition window; a
    // 100 TB corpus's vocabulary is ~10^8 tokens under Heaps) and the
    // rank window runs inside that bounded 4096-row set.
    QueryDef(
      "text_zipf_curve",
      (s, dir) => {
        val freq = Tables.load(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("freq"))
        val top = freq
          .orderBy(col("freq").desc, col("w").asc).limit(4096)
        val ranked = top.withColumn("rank",
          row_number().over(Window.orderBy(col("freq").desc, col("w").asc))
            .cast("long"))
        ranked
          .filter(col("rank").isin((0 to 12).map(1L << _): _*))
          .select(col("rank"), col("w").as("word"), col("freq"))
          .orderBy("rank")
      },
      Some("""WITH f AS (
                SELECT w, CAST(count(*) AS BIGINT) AS freq
                FROM (SELECT unnest(string_split(text, ' ')) AS w
                      FROM documents) t
                GROUP BY w),
              r AS (
                SELECT w, freq, CAST(row_number() OVER (
                    ORDER BY freq DESC, w ASC) AS BIGINT) AS rank
                FROM f)
              SELECT rank, w AS word, freq
              FROM r
              WHERE rank IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512,
                1024, 2048, 4096)
              ORDER BY rank"""))
  )

  /** Run the BPE merge-training rounds corpus-parallel; returns the
    * final rewritten corpus (doc_id, text with '~'-joined merges) and
    * the learned rules. Each round: one pair-count aggregate (map-side
    * combined, one hash shuffle), ONE argmax row back to the driver
    * (bounded state), one map-only literal-replace rewrite. */
  private def bpeRounds(
      s: SparkSession,
      dir: String): (DataFrame, Seq[(Long, String, String, Long)]) = {
    // single-file corpus = one input split: without the conditional
    // repartition every pair-count and rewrite round runs on ONE
    // core (measured 1.2x parallelism); pre-split inputs skip it
    var docs = Tables.materialize(
      Tables.loadParallel(s, dir, "documents").select(col("doc_id"), col("text")))
    val learned = Seq.newBuilder[(Long, String, String, Long)]
    // empty corpus: no pairs to count, nothing to learn or rewrite —
    // skip the rounds (the argmax head() would fail) and return the
    // empty corpus with zero rules (degenerate sweep, r8)
    val rounds = if (docs.isEmpty) 0 else BpeMergeRounds
    for (iter <- 1 to rounds) {
      // adjacent-pair extraction stays inside whole-stage codegen:
      // slice+arrays_zip are codegen'd collection expressions, unlike a
      // transform() lambda (interpreted, and it re-evaluates the split
      // per element — measured ~300 s CPU per sweep at sf0.1 before)
      val toks = tokens(col("text"))
      val pairCol = when(size(toks) >= 2,
        arrays_zip(
          slice(toks, lit(1), size(toks) - 1).as("a"),
          slice(toks, lit(2), size(toks) - 1).as("b")))
        .otherwise(expr("cast(array() as array<struct<a:string,b:string>>)"))
      val bestRows = docs.select(explode(pairCol).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      // a corpus with no adjacent pair anywhere (all docs <= 1 token)
      // has nothing left to merge; stop learning (degenerate-safe)
      if (bestRows.nonEmpty) {
        val best = bestRows(0)
        val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
        learned += ((iter.toLong, a, b, cnt))
        docs = docs.select(col("doc_id"),
            expr(s"trim(replace(replace(concat('  ', replace(text, ' ', '  '), '  '), " +
              s"' $a  $b ', ' $a~$b '), '  ', ' '))").as("text"))
          .transform(Tables.materialize)
      }
    }
    (docs, learned.result())
  }

  /** Shared DuckDB replay of the BPE rounds (same pair counts, same
    * tie-break, same double-space literal replace). Built
    * programmatically so both engines always run the same round count;
    * the trainer and encoder oracles close over the same CTE chain. */
  private lazy val BpeRoundsCte: String = {
    val iters = (1 to BpeMergeRounds).map { i =>
      s"""p$i AS (
            SELECT z[1] AS a, z[2] AS b, count(*) AS cnt
            FROM (SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
                  FROM (SELECT string_split(text, ' ') AS toks FROM d${i - 1}) q
                  WHERE len(toks) >= 2) r
            GROUP BY 1, 2),
          best$i AS (SELECT a, b, cnt FROM p$i
                     ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
          d$i AS (
            SELECT doc_id,
              trim(replace(replace('  ' || replace(text, ' ', '  ') || '  ',
                ' ' || (SELECT a FROM best$i) || '  ' || (SELECT b FROM best$i) || ' ',
                ' ' || (SELECT a FROM best$i) || '~' || (SELECT b FROM best$i) || ' '),
                '  ', ' ')) AS text
            FROM d${i - 1})"""
    }.mkString(",\n")
    s"""d0 AS (SELECT doc_id, text FROM documents),
        $iters"""
  }

  private lazy val BpeMergesOracleSql: String =
    s"""WITH $BpeRoundsCte
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS iter, a, b, cnt FROM best1
          UNION ALL SELECT 2, a, b, cnt FROM best2
          UNION ALL SELECT 3, a, b, cnt FROM best3) ORDER BY iter"""

  private lazy val BpeEncodeOracleSql: String =
    s"""WITH $BpeRoundsCte
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          text AS text_bpe
        FROM d3 ORDER BY doc_id"""
}
