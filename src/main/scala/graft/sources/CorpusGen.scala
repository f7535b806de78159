package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second-seed corpus generator (round-6 verdict task #2).
  *
  * Every one of the registry's 270+ oracle-green results was verified
  * against ONE driver fixture corpus (seed=42, TESTDATA.md) — so any
  * threshold tuned while building (JaccardThreshold, DF caps, prefix
  * lengths) could in principle be fixture-fit. This main regenerates
  * the full 10-table corpus with the SAME schemas and value
  * distributions but a DIFFERENT seed, so `graft.Verify` +
  * `scripts/check_oracle.py` can re-sweep the whole registry on data
  * no threshold ever saw.
  *
  * Distribution notes (cloned from the driver corpus, sampled at
  * sf0.01): TPC-H-ish dimension/fact tables with the standard value
  * domains; `events` strictly increasing ts (so (user_id, ts) is
  * unique — the as-of ops' documented invariant); `documents` is
  * uniform word salad over the same 31-word vocabulary (near-dup
  * pairs arise from shingle overlap exactly as in the original);
  * `embeddings` unit-norm 64-dim vectors with uniform labels 0-9.
  *
  * Spark-first determinism: every value is a hash of (table-tag, row
  * id, seed) — generation is distributed, partition-count-independent,
  * and reproducible (same discipline as DataGen.testTableDF; rand(seed)
  * is per-partition and would not be).
  *
  * Usage: runMain graft.sources.CorpusGen <outDir> [scale=0.01] [seed=7]
  *        [mode=healthy|heaps|clique|clustered|minimal|skew|edgeless]
  */
object CorpusGen {

  private val Vocab: Seq[String] = Seq(
    "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "spark", "a", "part",
    "group", "big", "sort", "query", "fast", "the", "grow")

  private val Segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PTypes =
    Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val PAdjs = Seq("small", "red", "blue", "hot", "green", "dim")
  private val PNouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "cog")
  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Langs = Seq("en", "en", "en", "en", "es", "de", "fr", "zh")

  /** 64-bit nonneg hash of (row id, tag, seed) mod m. */
  private def pm(tag: String, seed: Long, m: Long) =
    pmod(xxhash64(col("id"), lit(tag), lit(seed)), lit(m))

  /** Uniform-ish double in [0,1). */
  private def hd(tag: String, seed: Long) =
    pm(tag, seed, 1000000000L).cast("double") / 1e9

  private def pick(vals: Seq[String], tag: String, seed: Long) =
    element_at(array(vals.map(lit): _*), (pm(tag, seed, vals.size) + 1).cast("int"))

  def tables(spark: SparkSession, scale: Double, seed: Long)
      : Seq[(String, DataFrame)] = {
    val nCust = math.max((150000 * scale).toLong, 10L)
    val nSupp = math.max((10000 * scale).toLong, 5L)
    val nPart = math.max((200000 * scale).toLong, 20L)
    val nOrders = math.max((1500000 * scale).toLong, 50L)
    val nLine = nOrders * 4
    val nEvents = math.max((1000000 * scale).toLong, 200L)
    val nUsers = math.max((15000 * scale).toLong, 10L)
    val nDocs = math.max((50000 * scale).toLong, 50L)

    val region = spark.range(5).select(
      col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), col("id").cast("int") + 1).as("r_name"))

    val nation = spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

    val customer = spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pm("cnat", seed, 25).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + hd("cbal", seed) * 11000.0, 2).as("c_acctbal"),
      pick(Segments, "cseg", seed).as("c_mktsegment"))

    val supplier = spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pm("snat", seed, 25).cast("int").as("s_nationkey"),
      round(hd("sbal", seed) * 10000.0, 2).as("s_acctbal"))

    val part = spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(pick(PAdjs, "padj", seed), lit(" "),
        pick(PNouns, "pnoun", seed)).as("p_name"),
      concat(lit("Brand#"), pm("pbrand", seed, 25) + 1).as("p_brand"),
      pick(PTypes, "ptype", seed).as("p_type"),
      (pm("psize", seed, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pm("pprice", seed, 1000).cast("double") / 10.0, 2)
        .as("p_retailprice"))

    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      pm("ocust", seed, nCust).as("o_custkey"),
      // ~45% F / 45% O / 10% P, like TPC-H's pending-order share
      when(pm("ostat", seed, 20) < 9, "F")
        .when(pm("ostat", seed, 20) < 18, "O").otherwise("P")
        .as("o_orderstatus"),
      round(lit(1000.0) + hd("oprice", seed) * 499000.0, 2).as("o_totalprice"),
      date_add(to_date(lit("1995-01-01")), pm("odate", seed, 2405).cast("int"))
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(Priorities, "oprio", seed).as("o_orderpriority"))

    val lineitem = spark.range(nLine).select(
      pm("lord", seed, nOrders).as("l_orderkey"),
      pm("lpart", seed, nPart).as("l_partkey"),
      pm("lsupp", seed, nSupp).as("l_suppkey"),
      (pm("lnum", seed, 7) + 1).cast("int").as("l_linenumber"),
      (pm("lqty", seed, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + hd("lext", seed) * 104100.0, 2).as("l_extendedprice"),
      (pm("ldisc", seed, 11).cast("double") / 100.0).as("l_discount"),
      (pm("ltax", seed, 9).cast("double") / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), "lret", seed).as("l_returnflag"),
      pick(Seq("F", "O"), "lstat", seed).as("l_linestatus"),
      date_add(to_date(lit("1995-01-02")), pm("lship", seed, 2500).cast("int"))
        .cast("timestamp_ntz").as("l_shipdate"))

    // strictly increasing ts (80s base gap + sub-gap jitter) keeps
    // (user_id, ts) globally unique — the as-of joins' invariant
    val events = spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 80000000L +
        pm("tsj", seed, 79999999L)).cast("timestamp_ntz").as("ts"),
      pm("euser", seed, nUsers).as("user_id"),
      pick(EventTypes, "etype", seed).as("event_type"),
      // heavy-tailed like the driver corpus (exponential, mean 50 —
      // sampled min 0.01 / avg 49.6 / p99 224 / max 490 at sf0.01);
      // a uniform range here silently degenerates q_ab_test's
      // value >= 99 conversion rule to zero converters
      greatest(lit(0.01),
        round(-lit(50.0) * log(lit(1.0) - hd("eval", seed)), 2)).as("value"),
      format_string("{\"k\": %d}", pm("eprop", seed, 100)).as("props"))

    val vocabSql = Vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    val documents = spark.range(nDocs)
      .withColumn("n_words", (pm("dlen", seed, 90) + 10).cast("int"))
      .select(
        col("id").as("doc_id"),
        expr(s"""array_join(transform(sequence(1, n_words), i ->
             element_at($vocabSql,
               int(pmod(xxhash64(id, i, ${seed}L), ${Vocab.size})) + 1)),
           ' ')""").as("text"),
        pick(Langs, "dlang", seed).as("lang"),
        concat(lit("src"), pm("dsrc", seed, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    val embeddings = spark.range(nDocs)
      .withColumn("raw", expr(s"""transform(sequence(0, 63), i ->
           (pmod(xxhash64(id, i, ${seed}L), 2000001) - 1000000) / 1000000.0)"""))
      .withColumn("nrm", expr(
        "sqrt(aggregate(raw, 0.0D, (acc, x) -> acc + x * x))"))
      .select(
        col("id").as("vec_id"),
        expr("transform(raw, x -> float(x / nrm))").as("embedding"),
        pm("elab", seed, 10).cast("int").as("label"))

    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Heaps-law corpus (round-11 verdict task #1): the fixed 31-word
    * vocabulary saturates at scale — by sf10 every one of the 29,791
    * possible trigram shingles exists with df ≈ 880+ (Σdf² ≈ 2.3×10¹⁰
    * candidate pairs), so the exact prefix-filter/tfidf dedup forms
    * provably cannot run and the 1→10 decade exponents for the whole
    * text/dedup family were measured on an adversarially dense shingle
    * distribution no real corpus has. This mode regrows the vocabulary
    * with the corpus (Heaps' law, V = K·Tᵝ with K=30, β=0.5 — mid-range
    * of the published English fits) and draws each token Zipf(1) over
    * it via the inverse-CDF identity rank = ⌊exp(u·ln V)⌋ for u∈[0,1)
    * (P(rank=r) = ln(1+1/r)/ln V ∝ 1/r from rank 1; ranks span
    * 1..V−1 — the r11 form added a spurious +1, shifting the head to
    * rank 2 and making the effective vocabulary V−1 off-brand, r12
    * advice). Transcendentals only at GENERATION time — operators
    * never see them. sf0.01 → V≈5k, sf0.1 → ≈16k, sf1 → ≈50k,
    * sf10 → ≈157k.
    *
    * Near-dup ground truth is PLANTED, not accidental: docs with
    * doc_id % 20 == 19 (5%) re-derive the base token stream of a source
    * 1–18 ids back — offsets 1..18 from an id ≡ 19 (mod 20) can never
    * land on another dup id, so every source's text IS its own base
    * stream — and mutate ~5% of positions to a token from their own
    * stream. Positional overlap ≈ 0.95 → trigram-shingle Jaccard ≈
    * 0.95³/(2−0.95³) ≈ 0.74, far above JaccardThreshold. Because every
    * token is a pure hash of (id, position, seed), the "copy" is a
    * closed-form recomputation — no self-join at generation time, and
    * the planted pair set (dup_id, dup_id − off) is recoverable by any
    * evaluator from doc_id arithmetic alone. All non-document tables
    * stay healthy. */
  /** Template doc id of the `clique` mode's viral family. 57 ≡ 17
    * (mod 20), so clique ids (≡ 57 mod 100) are arithmetically disjoint
    * from the regular planted-dup ids (≡ 19 mod 20). */
  val CliqueTemplate = 57L

  def heapsDocuments(spark: SparkSession, nDocs: Long, seed: Long,
      clique: Boolean = false): DataFrame = {
    val meanWords = (10 + 99) / 2.0
    val vocab = math.max(500L,
      math.round(30.0 * math.sqrt(nDocs * meanWords)))
    val lnV = math.log(vocab.toDouble)
    val grid = 1073741824L // 2^30 — u-grid for the Zipf inverse CDF
    // base token stream: pure function of (id, position, seed); the
    // `o` offset gives mutated positions a fresh draw decoupled from
    // the copied position index
    def tok(id: String, pos: String, o: Int) =
      s"""concat('z', int(exp(
         |  (pmod(xxhash64($id, $pos + $o, ${seed}L), ${grid}L) / ${grid}.0D)
         |  * ${lnV}D)))""".stripMargin.replaceAll("\n", " ")
    spark.range(nDocs)
      // viral-clique overlay (round-12 verdict task #2): 1% of docs
      // (id ≡ 57 mod 100, the single most common real-world dedup
      // pathology — one boilerplate template duplicated ∝ corpus) are
      // near-identical copies of ONE template with ~1% own mutations,
      // so member-pairwise trigram Jaccard ≈ 0.98²·³ ≈ 0.89 — above
      // PrefixJaccardT and far above JaccardThreshold. The true
      // near-dup pair relation gains a C(m,2) clique component that
      // grows QUADRATICALLY with the corpus — pair-materializing forms
      // must, by correctness, emit it; cluster-representative forms
      // must collapse it to one family.
      .withColumn("is_clq", lit(clique) &&
        col("id") % 100 === CliqueTemplate &&
        col("id") =!= CliqueTemplate)
      .withColumn("is_dup",
        col("id") % 20 === 19 && col("id") >= 19)
      .withColumn("src_id",
        when(col("is_clq"), lit(CliqueTemplate))
          .when(col("is_dup"), col("id") - 1 - pm("hoff", seed, 18))
          .otherwise(col("id")))
      // n_words follows the SOURCE (a near-dup keeps its source's
      // length); same 10..99 domain as the healthy mode
      .withColumn("n_words",
        (pmod(xxhash64(col("src_id"), lit("dlen"), lit(seed)), lit(90)) + 10)
          .cast("int"))
      .select(
        col("id").as("doc_id"),
        expr(s"""array_join(transform(sequence(1, n_words), i ->
             if(is_dup AND pmod(xxhash64(id, i, 'hmut', ${seed}L), 100) < 5,
                ${tok("id", "i", 500)},
                if(is_clq AND pmod(xxhash64(id, i, 'cmut', ${seed}L), 100) < 1,
                   ${tok("id", "i", 700)},
                   ${tok("src_id", "i", 0)}))), ' ')""").as("text"),
        pick(Langs, "dlang", seed).as("lang"),
        // planted provenance is IN-BAND: a dup doc declares its source
        // in the `source` column, so ground truth is recoverable from
        // the data alone (dedup_planted_recall) — no knowledge of the
        // generator seed needed by any evaluator. Side effect, accepted:
        // `source` cardinality grows with the corpus (~5% of docs are
        // unique dupof values) instead of the healthy mode's fixed 20 —
        // closer to real web-corpus domain keys; the source-keyed
        // samplers' per-source state is rows-in-an-aggregate, not
        // driver memory, so the posture holds. Clique members declare
        // the shared template, so the planted truth for them is the
        // (member, template) star — the C(m,2) member-pair relation is
        // deliberately NOT declared (it is what the pair generators
        // must discover, and what makes them quadratic here).
        when(col("is_clq"),
          concat(lit("dupof"), lit(CliqueTemplate)))
          .when(col("is_dup"), concat(lit("dupof"), col("src_id")))
          .otherwise(concat(lit("src"), pm("dsrc", seed, 20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** The healthy tables with `documents` regrown under Heaps/Zipf;
    * clique=true additionally plants the viral template family. */
  def heapsTables(spark: SparkSession, scale: Double, seed: Long,
      clique: Boolean = false): Seq[(String, DataFrame)] = {
    val nDocs = math.max((50000 * scale).toLong, 50L)
    tables(spark, scale, seed).map {
      case ("documents", _) =>
        "documents" -> heapsDocuments(spark, nDocs, seed, clique)
      case other => other
    }
  }

  /** Planted near-neighbor ids live at PlantBase + src_id — the in-band
    * marker for the clustered-embeddings corpus: `vec_id >= PlantBase`
    * IS the declaration "this row is a planted perturbed copy of
    * vec_id − PlantBase", recoverable by any evaluator (Spark or the
    * DuckDB oracle) from the data alone, no generator-seed knowledge —
    * the `dupof` discipline of the heaps corpus without a schema
    * change. Far above any source id (sf1000 would be 5×10⁷ vectors).
    * Planted ids are odd (PlantBase + v with v ≡ 19 mod 20), so the
    * historical even samplers (stride-50 seeds, vec_id % 2) never pick
    * them; the r12 √N-strided IVF quantizer CAN sample a planted row
    * at odd strides — harmless (a centroid is just a sample point) and
    * mirrored exactly by the oracle. */
  val PlantBase = 1000000000L

  /** Mixture-of-clusters embeddings with planted near-neighbor ground
    * truth (round-12 verdict task #1 — the heaps treatment for the
    * ANN/embedding family). The healthy/seed-7 embeddings are uniform
    * on the 64-dim sphere: on such data IVF cells are equidistant,
    * nprobe trade-offs degenerate, and kmeans/silhouette/dbscan measure
    * noise — so every sim_ / emb_ recall and clustering number
    * transferred poorly to real (heavily clustered) embedding estates.
    *
    * This mode draws vectors from k = max(8, ⌊√n⌋) corpus-scaled
    * clusters (topic count grows with corpus size, the Heaps analogy
    * for vectors): cluster centers are hash-derived points with
    * components uniform in [-1,1] (pairwise near-orthogonal at 64
    * dims), members are center + 0.5·noise then unit-normalized —
    * within-cluster cosine ≈ 0.8, between ≈ 0 ± 0.12. `label` IS the
    * cluster id (so label-grain ops measure real structure and
    * clustering quality has a ground-truth partition to score against).
    *
    * Near-neighbor truth is PLANTED: every source with vec_id ≡ 19
    * (mod 20) gets a companion row at PlantBase + vec_id whose vector
    * is the source's raw vector + 0.05·perturbation (cos ≈ 0.997 —
    * far above the ≈ 0.8 in-cluster background, so each planted pair
    * is mutually rank-1) and whose label is the source's cluster.
    * Every coordinate is a pure hash of (cluster | base id | vec id,
    * dim, seed): generation is distributed, partition-count-
    * independent, reproducible, and the planted copy is a closed-form
    * recomputation — no join at generation time. All non-embeddings
    * tables stay healthy. */
  def clusteredEmbeddings(spark: SparkSession, nVecs: Long, seed: Long)
      : DataFrame = {
    val k = math.max(8L, math.round(math.sqrt(nVecs.toDouble)))
    val src = spark.range(nVecs).select(
      col("id").as("vec_id"), col("id").as("base_id"),
      lit(false).as("planted"))
    val dup = spark.range(nVecs).filter(col("id") % 20 === 19).select(
      (col("id") + PlantBase).as("vec_id"), col("id").as("base_id"),
      lit(true).as("planted"))
    src.unionAll(dup)
      .withColumn("c",
        pmod(xxhash64(col("base_id"), lit("eclu"), lit(seed)), lit(k)))
      .withColumn("raw", expr(s"""transform(sequence(0, 63), i ->
           (pmod(xxhash64(c, i, 'ecent', ${seed}L), 2001) - 1000) / 1000.0
           + 0.5 * ((pmod(xxhash64(base_id, i, 'enoz', ${seed}L), 2001)
                     - 1000) / 1000.0)
           + if(planted,
               0.05 * ((pmod(xxhash64(vec_id, i, 'epert', ${seed}L), 2001)
                        - 1000) / 1000.0),
               0.0D))"""))
      .withColumn("nrm", expr(
        "sqrt(aggregate(raw, 0.0D, (acc, x) -> acc + x * x))"))
      .select(
        col("vec_id"),
        expr("transform(raw, x -> float(x / nrm))").as("embedding"),
        col("c").cast("int").as("label"))
  }

  /** The healthy tables with `embeddings` regrown as a planted-truth
    * cluster mixture. */
  def clusteredTables(spark: SparkSession, scale: Double, seed: Long)
      : Seq[(String, DataFrame)] = {
    val nVecs = math.max((50000 * scale).toLong, 50L)
    tables(spark, scale, seed).map {
      case ("embeddings", _) =>
        "embeddings" -> clusteredEmbeddings(spark, nVecs, seed)
      case other => other
    }
  }

  /** Degenerate corpora (round-7 verdict task #2): every green to date
    * is a healthy-distribution green — these two modes exercise the
    * boundaries production data actually hits (guarded divisions,
    * empty-relation windows, viral-key caps, min/argmax tie-breaks).
    *
    * `minimal`: documents/events/embeddings EMPTY (schema preserved),
    * the TPC-H facts/dims single-row, region/nation intact — empty
    * scans, empty windows, 0-denominator aggregates.
    *
    * `skew`: every document the SAME text (one corpus-wide dup cluster;
    * every shingle's DF = corpus size, so DF caps all fire), one user
    * holding ~50% of events (hot-key aggregates/sessions), ~50% of
    * lineitems on one (orderkey, partkey) and ~50% of orders on one
    * custkey (max-skew join keys), and half of all embeddings the
    * IDENTICAL unit vector (zero-distance ANN ties). Invariants the
    * operators document are preserved: events.ts stays globally
    * strictly increasing so (user_id, ts) is unique.
    *
    * `edgeless` (r9 advice): documents NONEMPTY but pairwise
    * token-disjoint — every word embeds its doc_id, so no two documents
    * share a single shingle and the near-dup pair relation is EMPTY
    * while the node set is not. This is the shape neither r8 mode
    * covered (minimal has zero docs, skew is one big clique) and it is
    * exactly where graph_hits' edgeless fallback diverged from its
    * oracle. Everything except documents stays healthy. */
  def degenerate(spark: SparkSession, mode: String, scale: Double,
      seed: Long): Seq[(String, DataFrame)] = {
    val base = tables(spark, scale, seed)
    mode match {
      case "minimal" =>
        // pin the surviving row by primary key: a bare limit(1) takes
        // whatever row the scan yields first, so regenerated corpora
        // could differ across Spark versions/partitionings despite the
        // same-seed determinism claim (r9 advice)
        val pk = Map(
          "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
          "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
          "lineitem" -> Seq("l_orderkey", "l_linenumber"))
        base.map {
          case (n @ ("documents" | "events" | "embeddings"), df) =>
            n -> df.limit(0)
          case (n @ ("customer" | "supplier" | "part" | "orders" |
              "lineitem"), df) =>
            n -> df.orderBy(pk(n).map(col): _*).limit(1)
          case other => other
        }
      case "skew" =>
        val dupText = ("the big hash join " * 12).trim // 48 words, shared
        base.map {
          case ("documents", df) => "documents" ->
            df.withColumn("text", lit(dupText))
              .withColumn("n_chars", length(col("text")).cast("long"))
          case ("events", df) => "events" ->
            df.withColumn("user_id",
              when(pmod(xxhash64(col("event_id"), lit("hotuser")), lit(2)) === 0,
                lit(0L)).otherwise(col("user_id")))
          case ("orders", df) => "orders" ->
            df.withColumn("o_custkey",
              when(pmod(xxhash64(col("o_orderkey"), lit("hotcust")), lit(2)) === 0,
                lit(0L)).otherwise(col("o_custkey")))
          case ("lineitem", df) => "lineitem" ->
            df.withColumn("hot",
              pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
                lit("hotkey")), lit(2)) === 0)
              .withColumn("l_orderkey",
                when(col("hot"), lit(0L)).otherwise(col("l_orderkey")))
              .withColumn("l_partkey",
                when(col("hot"), lit(0L)).otherwise(col("l_partkey")))
              .drop("hot")
          case ("embeddings", df) => "embeddings" ->
            df.withColumn("embedding",
              when(col("vec_id") % 2 === 0,
                expr("transform(sequence(0, 63), i -> float(if(i = 0, 1.0, 0.0)))"))
                .otherwise(col("embedding")))
          case other => other
        }
      case "edgeless" => base.map {
        case ("documents", df) => "documents" ->
          // each word carries its doc_id -> token sets are pairwise
          // disjoint -> zero shared shingles -> an edgeless near-dup
          // graph over a nonempty node set; n_words keeps the healthy
          // length distribution so per-doc stats stay exercised
          df.withColumn("n_words",
              (length(col("text")) - length(regexp_replace(col("text"),
                lit(" "), lit(""))) + 1).cast("int"))
            .withColumn("text",
              expr("""array_join(transform(sequence(1, n_words), i ->
                   concat('w', doc_id, 'q', i)), ' ')"""))
            .withColumn("n_chars", length(col("text")).cast("long"))
            .drop("n_words")
        case other => other
      }
      case other =>
        throw new IllegalArgumentException(s"unknown degenerate mode $other")
    }
  }

  /** Write each table as a SINGLE parquet file `<out>/<name>.parquet`
    * (the driver corpus layout — DuckDB's oracle reads plain files). */
  def write(spark: SparkSession, out: String, scale: Double, seed: Long,
      mode: String = "healthy"): Unit = {
    Files.createDirectories(Paths.get(out))
    val ts = mode match {
      case "healthy" => tables(spark, scale, seed)
      case "heaps" => heapsTables(spark, scale, seed)
      case "clique" => heapsTables(spark, scale, seed, clique = true)
      case "clustered" => clusteredTables(spark, scale, seed)
      case other => degenerate(spark, other, scale, seed)
    }
    ts.foreach { case (name, df) =>
      val tmp = s"$out/.tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator()
      var src: java.nio.file.Path = null
      while (part.hasNext) {
        val p = part.next()
        if (p.toString.endsWith(".parquet")) src = p
      }
      require(src != null, s"no part file for $name")
      Files.move(src, Paths.get(s"$out/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      // best-effort temp-dir cleanup
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "target/testdata_seed7/sf0.01"
    val scale = if (args.length > 1) args(1).toDouble else 0.01
    val seed = if (args.length > 2) args(2).toLong else 7L
    val mode = if (args.length > 3) args(3) else "healthy"
    val spark = graft.GraftSession.local("graft-corpusgen", cores = 8,
      conf = Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    write(spark, out, scale, seed, mode)
    println(s"[corpusgen] wrote ${Tablesn.mkString(",")} to $out " +
      s"(scale=$scale seed=$seed mode=$mode)")
    spark.stop()
  }

  private def Tablesn = graft.Tables.names
}
