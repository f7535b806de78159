package graft

import java.nio.file.Files

import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.EngineFns._

/** Dedup + text analysis on a planted corpus: write a documents.parquet
  * with known exact and near duplicates into a temp sf-dir and run the
  * registered queries end-to-end against it. */
class DedupTextSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("observe-backed counts ride the checkpoint job and match direct counts") {
    // r14: connectedComponents' convergence check and viralCleanRun's
    // stage counts read an Observation collected DURING localCheckpoint
    // materialization instead of running a second count job. The
    // fallback counter must not move: the metric actually DELIVERED.
    val f0 = Tables.observeFallbacks
    val (df, Seq(n)) = Tables.checkpointMeasured(
      (0L until 1000L).toDF("x").filter(col("x") % 3 === 0), count(lit(1)))
    assert(n === df.count())
    // empty frame: a sum-style metric comes back null -> reads as 0
    val (empty, Seq(c)) = Tables.checkpointMeasured(
      (0L until 10L).toDF("x").filter(col("x") > 100),
      sum(when(col("x") > 5, 1L).otherwise(0L)))
    assert(empty.count() === 0L)
    assert(c === 0L)
    assert(Tables.observeFallbacks - f0 === 0L)
  }

  test("paragraph dedup empties an exact-duplicate doc, keeps the first") {
    val out = Registry.byName("text_dedup_paragraph").run(spark, plantedDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_paras"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text")))
      .toMap
    // doc 0 is the first corpus occurrence of every one of its
    // paragraphs; doc 1 is its exact duplicate, so every paragraph is
    // a repeat and the cleaned document is empty
    val (p0, k0, t0) = out(0L)
    assert(k0 === p0 && t0.nonEmpty, "first copy must keep all paragraphs")
    val (p1, k1, t1) = out(1L)
    assert(p1 === p0 && k1 === 0L && t1 === "",
      s"exact dup must collapse to empty, got kept=$k1 text='$t1'")
  }

  test("tfidf nearest neighbor pairs the planted exact duplicates at cos2=1") {
    val out = Registry.byName("dedup_tfidf_nn").run(spark, plantedDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("nn_id"), r.getAs[Double]("cos2")))
      .toMap
    // docs 0 and 1 are byte-identical: identical weight vectors give
    // cos² exactly 1.0 (same exact integers in numerator/denominator)
    assert(out(0L)._1 === 1L && out(0L)._2 === 1.0)
    assert(out(1L)._1 === 0L && out(1L)._2 === 1.0)
  }

  test("capped tfidf nn equals the exact form when every df <= the cap") {
    // on sparse corpora the per-shingle posting sample is the identity
    // (nothing to drop), so the pipeline form must reproduce the exact
    // reporting form bit-for-bit — the cap only ever bites when a
    // shingle's posting list exceeds TfidfPostingCap
    val exact = Registry.byName("dedup_tfidf_nn").run(spark, plantedDir)
      .collect().toSeq
    val capped = Registry.byName("dedup_tfidf_nn_capped")
      .run(spark, plantedDir).collect().toSeq
    assert(exact.nonEmpty)
    assert(capped === exact,
      "sampled-posting form must equal the exact form on a sparse corpus")
  }

  test("BPE merge-round count stays inside the driver-serialization guard") {
    // each merge round is one driver-serialized Spark job AND one more
    // chained subquery in the oracle CTE — the require in TextAnalysis
    // throws at class-load if a future edit raises the count past the
    // cap; this pins both the guard and the cap itself
    assert(graft.operators.TextAnalysis.BpeMergeRounds >= 1)
    assert(graft.operators.TextAnalysis.BpeMergeRounds <=
      graft.operators.TextAnalysis.maxBpeMergeRounds)
    assert(graft.operators.TextAnalysis.maxBpeMergeRounds <= 8,
      "driver-loop cap must stay single-digit")
  }

  test("all-pairs baselines are hard-gated on input size") {
    // the declared quadratic baselines must refuse a large corpus at
    // the registry level, naming the production-shaped alternative
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.Dedup.requireAllPairsSmall(
        graft.operators.Dedup.MaxAllPairsRows + 1,
        "dedup_simhash_pairs (16-bit, saturating)", "docs",
        "dedup_simhash_wide_pairs")
    }
    assert(e1.getMessage.contains("dedup_simhash_wide_pairs"))
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Dedup.requireAllPairsSmall(
        500000L, "sim_embed_neardup_exact", "vectors", "sim_embed_neardup")
    }
    assert(e2.getMessage.contains("sim_embed_neardup"))
    // at-the-cap passes (every test SF is far below it)
    graft.operators.Dedup.requireAllPairsSmall(
      graft.operators.Dedup.MaxAllPairsRows, "x", "rows", "y")
  }

  private lazy val plantedDir: String = {
    val dir = Files.createTempDirectory("graft_planted").toString
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep green forest while the sun sets slowly behind tall hills"
    val near = base.replace("sun", "moon") // one token differs
    val other = "completely different words describing an unrelated subject " +
      "with zero overlap in any shingle of this meaningless placeholder prose"
    val docs = Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src1", base.length.toLong), // exact dup of 0
      (2L, near, "en", "src2", near.length.toLong), // near dup of 0
      (3L, other, "en", "src3", other.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_exact collapses exact duplicates to min doc_id") {
    val out = Registry.byName("dedup_exact").run(spark, plantedDir).collect()
    assert(out.length === 3) // 4 docs, one exact dup removed
    assert(out.map(_.getAs[Long]("doc_id")).toSet === Set(0L, 2L, 3L))
  }

  test("ngram jaccard finds exact and near dup pairs, not the unrelated doc") {
    val pairs = Registry.byName("dedup_ngram_jaccard").run(spark, plantedDir)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("jaccard"))).toSeq
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((0L, 1L)) === 1.0) // exact dup
    assert(byPair((0L, 2L)) > 0.7) // near dup: 1 of ~24 tokens changed
    assert(!byPair.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhash LSH candidates include the planted near-dup pair") {
    val pairs = Registry.byName("dedup_minhash_pairs").run(spark, plantedDir)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
  }

  test("simhash: identical docs equal, near dups within 3 bits, distinct docs far") {
    val sig = Registry.byName("dedup_simhash").run(spark, plantedDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sig(0L) === sig(1L))
    val pairs = Registry.byName("dedup_simhash_pairs").run(spark, plantedDir)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(pairs.contains((0L, 1L)))
  }

  test("minhash signature estimates jaccard roughly") {
    val sh = Seq((0L, "a b c d e f g h i j k l"), (1L, "a b c d e f g h i j k z"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
    val sigs = sh.select(col("doc_id"), minhashSig(col("sh"), 64).as("sig"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    val agree = sigs(0L).zip(sigs(1L)).count { case (a, b) => a == b } / 64.0
    // true shingle jaccard here is 7/13 ~ 0.54; 64 perms => wide tolerance
    assert(agree > 0.25 && agree < 0.85)
  }

  /** All (a_id, b_id, hamming) with a_id < b_id and hamming <= 3, computed
    * in Scala over the collected signatures: a Spark join here would itself
    * be rewritten by the session's HammingJoinRewrite into the very
    * pigeonhole blocking it is meant to check. */
  private def allPairsWithin3(sig: DataFrame): Set[(Long, Long, Long)] = {
    val s = sig.select("doc_id", "simhash").collect()
      .filterNot(r => r.isNullAt(0) || r.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1)))
    (for {
      (a, sa) <- s.iterator; (b, sb) <- s.iterator if a < b
      h = java.lang.Long.bitCount(sa ^ sb).toLong if h <= 3
    } yield (a, b, h)).toSet
  }

  test("simhash chunk-blocking produces exactly the all-pairs pair set") {
    // the naive quadratic form, kept ONLY here as the equivalence check
    // for the shipped pigeonhole equi-join
    val naive = allPairsWithin3(
      Registry.byName("dedup_simhash").run(spark, TestSpark.sf))
    val chunked = Registry.byName("dedup_simhash_pairs").run(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(chunked === naive)
    assert(chunked.nonEmpty)
  }

  test("wide simhash: identical docs equal, chunk pairs equal the all-pairs set") {
    val sig = Registry.byName("dedup_simhash_wide").run(spark, plantedDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) === sig(1L)) // exact dup -> identical 60-bit signature
    val pairs = Registry.byName("dedup_simhash_wide_pairs").run(spark, plantedDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
    // equivalence on the real corpus: chunk-blocked == naive all-pairs
    val naive = allPairsWithin3(
      Registry.byName("dedup_simhash_wide").run(spark, TestSpark.sf))
    val chunked = Registry.byName("dedup_simhash_wide_pairs").run(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(chunked === naive)
  }

  test("stop-shingle DF cap drops viral shingles from the inverted index") {
    // 12 docs all share one viral shingle ("spam spam spam"); docs 0/1
    // additionally share a genuine near-dup shingle set
    val a = "alpha beta gamma delta epsilon zeta"
    val docs = (0L until 12L).map { i =>
      val body = if (i <= 1) a else s"unique$i words$i here$i now$i filler$i tail$i"
      (i, s"$body spam spam spam")
    }.toDF("doc_id", "text")
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
    // cap 10 < DF(spam-shingles)=12: viral postings are dropped, so only
    // the genuine 0-1 overlap survives as a candidate pair
    val capped = operators.Dedup.jaccardPairs(docs, maxDf = 10)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((0L, 1L)))
    // without the cap every one of the 66 pairs is a candidate
    val uncapped = operators.Dedup.jaccardPairs(docs, maxDf = 1000)
      .select("a_id", "b_id").collect().length
    assert(uncapped === 66)
  }

  test("bucketPairs: one row per shared bucket, a_id < b_id, no self-pairs") {
    // docs 3 and 7 share buckets (0, "x") and (1, "y"); doc 5 shares
    // (1, "y") only; doc 9 is alone in its bucket
    val rel = Seq((7L, 0L, "x"), (3L, 0L, "x"), (7L, 1L, "y"), (3L, 1L, "y"),
      (5L, 1L, "y"), (9L, 2L, "z")).toDF("doc_id", "band_id", "band_key")
    val pairs = operators.Dedup.bucketPairs(rel, "doc_id", Seq("band_id", "band_key"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.sorted === Seq((3L, 5L), (3L, 7L), (3L, 7L), (5L, 7L)))
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("dropViral keeps a key with df == cap and drops one with df == cap + 1") {
    val cap = 3
    val rel = ((0L until cap.toLong).map(_ -> "at_cap") ++
      (0L to cap.toLong).map(_ -> "past_cap") :+ (0L -> "rare"))
      .toDF("doc_id", "w")
    val kept = operators.Dedup.dropViral(rel, Seq("w"), cap)
      .groupBy("w").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept === Map("at_cap" -> cap.toLong, "rare" -> 1L))
  }

  test("jaccardPairs reads an already-checkpointed shingle frame as it is") {
    // dedup_eval and dedup_lsh_tune checkpoint the shingle frame they
    // share; checkpointing it again inside jaccardPairs would be one more
    // eager job copying the query's largest frame
    val sc = spark.sparkContext
    val sh = operators.Dedup.shingled(spark, TestSpark.sf).localCheckpoint()
    assert(JobCount(sc)(operators.Dedup.jaccardPairs(sh)) === 0)
    // a frame that is not materialized yet is still checkpointed once
    assert(JobCount(sc)(operators.Dedup.jaccardPairs(
      operators.Dedup.shingled(spark, TestSpark.sf))) >= 1)
  }

  test("connected components: chain, triangle and singleton collapse to min id") {
    val vertices = (0L to 6L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L))
      .toDF("a_id", "b_id")
    val rep = operators.Dedup.connectedComponents(vertices, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("connected components converges on a long chain (pointer doubling)") {
    // a 300-vertex path has diameter 299 — plain min-label propagation
    // would need 299 iterations and trip the 50-iteration cap (the
    // round-2 silent-wrong-labels advice); pointer doubling converges in
    // ~log2(299) rounds and every vertex must still land on rep 0
    val n = 300L
    val vertices = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val rep = operators.Dedup.connectedComponents(vertices, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep.size === n)
    assert(rep.values.forall(_ === 0L))
  }

  test("cluster collapse merges chains ACROSS candidate generators") {
    // pairs arriving from three different generators: doc 1-2 from text
    // Jaccard, 2-3 from wide SimHash, 3-4 from embedding near-dup. No
    // single generator links 1 to 4; the union must collapse all four
    // into one cluster (the dedup_cluster_multi contract).
    val vertices = (0L to 5L).toDF("doc_id")
    val jac = Seq((1L, 2L)).toDF("a_id", "b_id")
    val sim = Seq((2L, 3L)).toDF("a_id", "b_id")
    val embp = Seq((3L, 4L)).toDF("a_id", "b_id")
    val rep = operators.Dedup
      .connectedComponents(vertices, jac.union(sim).union(embp))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep === Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 1L, 5L -> 5L))
  }

  test("dedup_cluster collapses the planted 3-way duplicate group") {
    // docs 0, 1 (exact dup) and 2 (near dup) form one cluster; 3 is alone
    val rep = Registry.byName("dedup_cluster").run(spark, plantedDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L))
  }

  test("minhash by_source survives shingle-less documents (null signatures)") {
    val dir = Files.createTempDirectory("graft_short").toString
    Seq(
      (0L, "only two", "en", "srcA", 8L), // < 3 tokens -> all-NULL signature
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "srcA", 46L),
      (2L, "alpha beta gamma delta epsilon zeta eta iota", "en", "srcB", 45L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.byName("dedup_minhash_by_source").run(spark, dir).collect()
    // srcA's signature = srcB's doc-1-only signature ignoring the null doc-0
    assert(out.length === 32) // 2 sources x 16 perms
    val bySrc = out.groupBy(_.getString(0))
    assert(bySrc("srcA").forall(r => !r.isNullAt(2)))
  }

  test("hash31 is deterministic, positive, engine-portable range") {
    val vals = Seq("a", "b", "a").toDF("s").select(hash31(col("s")).as("h"))
      .collect().map(_.getLong(0))
    assert(vals(0) === vals(2))
    assert(vals.forall(v => v >= 0 && v < 2147483647L))
  }

  test("hash31Value agrees with the hash31 column on fixed strings") {
    val strs = Seq("", "a", "the cat sat", "split|42", "naïve café 日本語")
    val byCol = strs.toDF("s").select(col("s"), hash31(col("s")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    strs.foreach(x => assert(hash31Value(x) === byCol(x), x))
    // the md5-digest form the byte-payload operators use
    strs.foreach(x => assert(hash31Digest(java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))) === byCol(x), x))
    // md5("") = d41d8cd98f00b204..., 0xd41d8cd98f00b20 mod 2^31 - 1
    assert(hash31Value("") === 863222971L)
  }

  test("language id picks the marker-heavy language") {
    val docs = Seq(
      (0L, "der hund und die katze das haus und der baum", "x", "s", 1L),
      (1L, "the cat and the dog of the house is to be", "x", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = Files.createTempDirectory("graft_lang").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.byName("text_langid").run(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(out(0L) === "de")
    assert(out(1L) === "en")
  }

  test("token count and quality ratios on a known sentence") {
    val df = Seq((0L, "aa bb cc", "x", "s", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = Files.createTempDirectory("graft_tok").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val tok = Registry.byName("text_tokens").run(spark, dir).collect()(0)
    assert(tok.getAs[Long]("n_tokens") === 3L)
    assert(tok.getAs[Long]("len_chars") === 8L)
    val q = Registry.byName("text_quality").run(spark, dir).collect()(0)
    assert(q.getAs[Double]("avg_word_len") === 2.0)
    assert(q.getAs[Double]("stop_ratio") === 0.0)
  }

  test("fingerprint is word-order invariant") {
    val df = Seq(
      (0L, "alpha beta gamma", "x", "s", 1L),
      (1L, "gamma alpha beta", "x", "s", 1L),
      (2L, "alpha beta delta", "x", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = Files.createTempDirectory("graft_fp").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fp = Registry.byName("text_fingerprint").run(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fp")).toMap
    assert(fp(0L) === fp(1L))
    assert(fp(0L) !== fp(2L))
  }

  test("line dedup drops EVERY occurrence of a df>=3 chunk, keeps rare ones") {
    // plantedDir: docs 0,1 identical, doc 2 differs by one token (sun ->
    // moon), doc 3 unrelated. Every base chunk appears in 3 docs (df=3,
    // boilerplate -> dropped from ALL of them, including the first) except
    // the 4-token chunk containing the changed word (df=2 / df=1 -> kept);
    // doc 3's chunks are unique (df=1 -> fully kept).
    val out = Registry.byName("text_dedup_lines").run(spark, plantedDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text")))
      .toMap
    assert(out(0L)._3 === "sun sets slowly behind")
    assert(out(1L)._3 === "sun sets slowly behind") // NOT first-writer-wins
    assert(out(2L)._3 === "moon sets slowly behind")
    assert(out(0L)._2 === 1L && out(1L)._2 === 1L && out(2L)._2 === 1L)
    // the unrelated doc passes through untouched
    val other = "completely different words describing an unrelated subject " +
      "with zero overlap in any shingle of this meaningless placeholder prose"
    assert(out(3L)._3 === other)
    assert(out(3L)._1 === out(3L)._2)
  }

  test("prefix filter keeps the exact-dup pair, drops the sub-threshold near dup") {
    // plantedDir jaccards: (0,1) = 1.0 exact dups; (0,2)/(1,2) ≈ 0.76 —
    // one changed token flips 3 of 22 shingles, BELOW the 0.8 bar; doc 3
    // shares nothing. The t=0.8 prefix join must return exactly (0,1).
    val out = Registry.byName("dedup_prefix_filter").run(spark, plantedDir)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("jaccard")))
    assert(out.length === 1)
    assert(out.head._1 === 0L && out.head._2 === 1L && out.head._3 === 1.0)
  }

  test("prefix filter is lossless vs the full inverted-index join at t=0.8") {
    // the prefix theorem says candidates can only be LOST by an
    // implementation bug; compare against the uncapped inverted index
    // (maxDf = MaxValue disables the stop-shingle cap so the baseline
    // is the pure Jaccard relation) on the real sf0.001 corpus
    val got = Registry.byName("dedup_prefix_filter").run(spark, TestSpark.sf)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    val want = graft.operators.Dedup.jaccardPairs(
        graft.operators.Dedup.shingled(spark, TestSpark.sf),
        maxDf = Int.MaxValue)
      .filter(col("jaccard") >= graft.operators.Dedup.PrefixJaccardT)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    assert(want.nonEmpty, "corpus must contain pairs above the bar")
    assert(got === want)
  }

  test("capped prefix filter: subset of the exact form, exact jaccards, planted recall") {
    // the sampled-posting collision join can only LOSE candidates, and
    // every emitted pair carries its exact Jaccard (verification runs
    // on the FULL posting relation)
    val exact = Registry.byName("dedup_prefix_filter")
      .run(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Double]("jaccard")).toMap
    val capped = Registry.byName("dedup_prefix_filter_capped")
      .run(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(capped.nonEmpty, "capped form found no pairs at test scale")
    capped.foreach { case (pair, j) =>
      assert(exact.contains(pair), s"pair $pair not in the exact relation")
      assert(exact(pair) === j, s"jaccard drifted for $pair")
    }
    // on the planted corpus every shingle's df is far below the cap, so
    // the capped form IS the exact form there
    val planted = Registry.byName("dedup_prefix_filter_capped")
      .run(spark, plantedDir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("jaccard")))
    assert(planted.length === 1)
    assert(planted.head === ((0L, 1L, 1.0)))
  }

  test("dedup_cap_recall scorecard agrees with the two pipelines it scores") {
    // the scorecard must equal counting the operators directly — and
    // its precision column is the subset-property proof (capped pairs
    // are verified on the full posting relation, so they can never be
    // pairs the exact form rejects)
    val row = Registry.byName("dedup_cap_recall")
      .run(spark, TestSpark.sf).collect().head
    val nExact = Registry.byName("dedup_prefix_filter")
      .run(spark, TestSpark.sf).count()
    val nCapped = Registry.byName("dedup_prefix_filter_capped")
      .run(spark, TestSpark.sf).count()
    assert(row.getAs[Long]("n_exact") === nExact)
    assert(row.getAs[Long]("n_capped") === nCapped)
    assert(row.getAs[Long]("n_hit") === row.getAs[Long]("n_capped"))
    if (nCapped > 0) assert(row.getAs[Double]("prec") === 1.0)
    assert(row.getAs[Double]("recall") <= 1.0)
  }

  test("heaps corpus: vocabulary grows with scale, planted dups recoverable") {
    // round-11 verdict task #1: the growth corpora's text/dedup decade
    // exponents are only transferable if the vocabulary actually obeys
    // Heaps' law — distinct-token count must grow ~sqrt(corpus) — and
    // the planted near-dup structure (doc_id % 20 == 19 copies a source
    // 1-18 back with ~5% mutations) must be recoverable as
    // above-threshold Jaccard pairs.
    def vocabOf(scale: Double): (Long, Long) = {
      val docs = graft.sources.CorpusGen
        .heapsTables(spark, scale, 7L).toMap.apply("documents")
      val v = docs.select(explode(split(col("text"), " ")).as("w"))
        .agg(countDistinct(col("w"))).head.getLong(0)
      (v, docs.count())
    }
    val (v1, n1) = vocabOf(0.002)
    val (v2, n2) = vocabOf(0.02)
    assert(n2 === n1 * 10)
    // sqrt growth: a decade of corpus should give ~3.2x vocab; allow
    // saturation slack at tiny scales (observed ~2.4-2.9x)
    assert(v2 > v1 * 2, s"vocab did not grow: $v1 -> $v2")
    assert(v2 < v1 * 6, s"vocab grew too fast for Heaps: $v1 -> $v2")
    // planted dups: every doc_id%20==19 doc shares >= threshold Jaccard
    // trigram overlap with at least one doc in [id-18, id-1]
    val docs = graft.sources.CorpusGen
      .heapsTables(spark, 0.002, 7L).toMap.apply("documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[String]]("t")
          .sliding(3).map(_.mkString(" ")).toSet)
      .toMap
    val dupIds = docs.keys.filter(id => id % 20 == 19 && id >= 19)
    assert(dupIds.nonEmpty)
    dupIds.foreach { id =>
      val best = (math.max(0L, id - 18) until id).map { s =>
        val (a, b) = (docs(id), docs(s))
        a.intersect(b).size.toDouble / a.union(b).size.toDouble
      }.max
      assert(best > 0.3, s"dup $id has no near-source (best J=$best)")
    }
  }

  test("clique corpus: one viral template family, quadratic pair mass, one cluster") {
    // round-12 verdict task #2: the clique heaps variant plants ONE
    // boilerplate template (id 57) copied with ~1% mutations into every
    // id ≡ 57 (mod 100) — so the true near-dup pair relation gains a
    // C(m,2) clique component. The declared truth is the (member,
    // template) star; the member-pair mass is what the pair generators
    // must DISCOVER (and what makes them quadratic at scale).
    val docs = graft.sources.CorpusGen
      .heapsTables(spark, 0.01, 7L, clique = true).toMap.apply("documents")
      .localCheckpoint()
    val t = graft.sources.CorpusGen.CliqueTemplate
    val members = docs.filter(col("doc_id") % 100 === t)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[String]]("tk"))
    assert(members.length === 5) // 500 docs, 1% on the 57-residue
    // every member: same length as the template, <= 5% token diffs
    val tmpl = members.toMap.apply(t)
    members.foreach { case (id, tk) =>
      assert(tk.size === tmpl.size, s"member $id length drifted")
      val diff = tk.zip(tmpl).count { case (a, b) => a != b }
      assert(diff <= math.max(2, tmpl.size / 10),
        s"member $id mutated too much: $diff/${tmpl.size}")
    }
    // members declare the template IN-BAND; regular planted dups keep
    // their own source ids; clique and dup residues never collide
    val srcs = docs.filter(col("source") === s"dupof$t")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(srcs === members.map(_._1).toSet - t)
    // the clique arrives as ONE family in the cluster-representative
    // form: every member labeled with the same representative
    val d = java.nio.file.Files.createTempDirectory("graft_clq").toString
    docs.coalesce(1).write.mode("overwrite")
      .parquet(s"$d/documents.parquet")
    val reps = Registry.byName("dedup_cluster").run(spark, d)
    // one representative for ALL members (incidental low-J edges may
    // root the component below the template id — size is the claim)
    val memberReps = reps
      .filter(col("doc_id") % 100 === t)
      .select("rep_id").collect().map(_.getLong(0)).toSet
    assert(memberReps.size === 1,
      s"clique split across representatives: $memberReps")
  }

  test("recall curve: deciles ordered, recall and S-curve in [0,1], truth totals match") {
    // round-12 stretch: the per-J banding scorecard on a planted corpus
    val d = java.nio.file.Files.createTempDirectory("graft_curve").toString
    graft.sources.CorpusGen.heapsDocuments(spark, 1000L, 7L)
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = Registry.byName("dedup_recall_curve").run(spark, d).collect()
    assert(rows.nonEmpty)
    val los = rows.map(_.getAs[Double]("j_lo"))
    assert(los.sorted.toSeq === los.toSeq) // ordered by decile
    rows.foreach { r =>
      val (lo, aj) = (r.getAs[Double]("j_lo"), r.getAs[Double]("avg_j"))
      assert(aj >= lo && aj < lo + 0.1 + 1e-9, s"mean $aj outside [$lo, ${lo + 0.1})")
      val (rec, exp) = (r.getAs[Double]("recall"), r.getAs[Double]("expected"))
      assert(rec >= 0.0 && rec <= 1.0 && exp >= 0.0 && exp <= 1.0)
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_truth"))
      // capped column (r13): a strict candidate subset — never MORE hits;
      // on this Heaps corpus (1000 docs, every bucket far below the cap)
      // the capped generator is bit-identical to the exact one
      assert(r.getAs[Long]("n_hit_capped") === r.getAs[Long]("n_hit"))
      assert(r.getAs[Double]("recall_capped") === rec)
    }
    // decile totals = the planted-pair population (47 dups in 1000 docs:
    // ids 19,39,...,999 — every one lands in exactly one bucket)
    val planted = Registry.byName("dedup_planted_recall").run(spark, d)
      .collect().head.getAs[Long]("n_truth")
    assert(rows.map(_.getAs[Long]("n_truth")).sum === planted)
    // the fixture corpus plants nothing: one zero-convention row
    val zr = Registry.byName("dedup_recall_curve")
      .run(spark, TestSpark.sf).collect()
    assert(zr.length === 1 && zr.head.getAs[Long]("n_truth") === 0L)
  }

  test("band bucket cap: viral family dropped from candidates, rest intact") {
    // r13 (verdict task #2): a synthetic viral clique — 10 identical
    // template docs (every band bucket holds all 10) plus one genuinely
    // near-dup pair of distinct text. With cap=3 the template buckets
    // exceed the cap and are dropped WHOLESALE; the near-dup pair's
    // buckets (2 members) survive. The registry value (1000) is gate-
    // checked against the oracle on every corpus; this exercises the
    // MECHANISM at a unit scale where the cap actually fires.
    import spark.implicits._
    val template = "the viral template body repeats across the family " +
      "with enough words to shingle cleanly and evenly"
    val docs = (0 until 10).map(i => (i.toLong, template)) ++ Seq(
      (100L, "a genuinely unique document about alpine marmots and their burrows"),
      (101L, "a genuinely unique document about alpine marmots and their dens"))
    val d = java.nio.file.Files.createTempDirectory("graft_cap").toString
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val sh = graft.operators.Dedup.shingled(spark, d).localCheckpoint()
    val exact = graft.operators.Dedup.bandCandidatesFrom(sh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = graft.operators.Dedup.bandCandidatesFrom(sh, Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact), "cap invented candidate pairs")
    // every template pair is in the exact set (identical signatures)...
    assert(exact.contains((0L, 1L)) && exact.contains((8L, 9L)))
    // ...and none survives the cap (family size 10 > cap 3 in all bands)
    assert(!capped.exists { case (a, b) => a < 10L && b < 10L },
      s"viral family pair survived the cap: $capped")
    // the sub-cap near-dup pair is untouched
    assert(exact.contains((100L, 101L)) && capped.contains((100L, 101L)),
      s"sub-cap near-dup pair lost: exact=$exact capped=$capped")
    // STAR cap (r13, the cluster-pipeline posture): the viral family is
    // NOT dropped — it collapses to anchor->member edges (9 rows for the
    // 10-member family, vs C(10,2)=45 in the exact set), so a downstream
    // connected-components still merges the whole family while the
    // candidate count stays linear in the bucket
    val star = graft.operators.Dedup.bandCandidatesStarCapped(sh, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val famStar = star.filter { case (a, b) => a < 10L && b < 10L }
    assert(famStar === (1L to 9L).map(i => (0L, i)).toSet,
      s"expected the 9 anchor edges of the viral family, got $famStar")
    assert(star.contains((100L, 101L)), "sub-cap near-dup pair lost in star form")
    // and on buckets under the cap the star form IS the exact form
    assert(graft.operators.Dedup.bandCandidatesStarCapped(sh, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === exact)
  }

  test("ngram novelty scores first occurrence 1.0 and exact dup 0.0") {
    val out = Registry.byName("text_ngram_novelty").run(spark, plantedDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("novelty"))
      .toMap
    assert(out(0L) === 1.0)  // doc 0 first-sees every one of its shingles
    assert(out(1L) === 0.0)  // exact dup: every shingle first seen in doc 0
    assert(out(2L) > 0.0 && out(2L) < 1.0) // near dup: only flipped shingles new
    assert(out(3L) === 1.0)  // unrelated doc is all-new
  }

  test("winnowing: shared runs yield shared fingerprints at the guaranteed density") {
    // plantedDir docs 0/1 are identical and doc 2 shares long token runs
    // with them; the winnowing guarantee (any shared run of >= w+2 = 6
    // tokens shares a fingerprint hash) must fire for both pairs, and
    // selection density must sit between the 1/w floor and 1
    val fp = Registry.byName("text_winnowing").run(spark, plantedDir)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("h")).toSet).toMap
    assert(fp(0L) === fp(1L), "identical docs must fingerprint identically")
    assert((fp(0L) & fp(2L)).nonEmpty,
      "docs sharing >= 6-token runs must share a fingerprint hash")
    assert((fp(0L) & fp(3L)).isEmpty,
      "no shared grams -> no shared fingerprints")
    // density: base has 24 tokens -> 22 grams, 19 full windows; the
    // selected count lies in [ceil(19/4), 19] (w=4 windows overlap)
    assert(fp(0L).size >= 5 && fp(0L).size <= 19, s"density off: ${fp(0L).size}")
  }

  test("item co-occurrence: lift reconciles with a local basket replay") {
    val rows = Registry.byName("q_item_cooccurrence").run(spark, TestSpark.sf)
      .collect()
    assert(rows.nonEmpty)
    // local replay: per-user distinct items from the raw events
    val baskets = Tables.load(spark, TestSpark.sf, "events")
      .selectExpr("user_id", "CAST(get_json_object(props, '$.k') AS LONG) AS item")
      .distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byItem = baskets.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val nUsers = baskets.map(_._1).distinct.length.toLong
    rows.take(20).foreach { r =>
      val (a, b) = (r.getAs[Long]("a_item"), r.getAs[Long]("b_item"))
      assert(a < b)
      val nab = (byItem(a) & byItem(b)).size.toLong
      assert(r.getAs[Long]("n_ab") === nab)
      assert(r.getAs[Long]("n_a") === byItem(a).size.toLong)
      val lift = (nab * nUsers).toDouble /
        (byItem(a).size.toLong * byItem(b).size.toLong).toDouble
      assert(r.getAs[Double]("lift") === lift)
    }
  }
}
