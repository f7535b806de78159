package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered operator constructs, plans, and executes on the smoke
  * corpus; queries with a DuckDB oracle must also return rows there (an
  * operator whose oracle-checked result is empty proves nothing). */
class RegistrySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("registry has no duplicate names and full oracle wiring") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql.keySet.subsetOf(names.toSet))
  }

  // Queries whose correct result may legitimately be empty at sf0.001.
  private val mayBeEmpty = Set("dedup_minhash_pairs",
    "dedup_minhash_pairs_capped", "dedup_simhash_pairs")

  // Conf keys an operator may legitimately leave set on the shared
  // session: the idempotent corpus-wide parquet-nanos read requirement
  // (set by Tables.load itself — every reader needs it, the value never
  // varies). Everything else is residue: a query that weakens a safety
  // valve (e.g. cteRecursionRowLimit) for every later query sharing the
  // session is a bug (round-5 advice) — scope such raises to a cloned
  // session (see graph_bfs_2hop).
  private val allowedResidue = Set("spark.sql.legacy.parquet.nanosAsLong")

  Registry.all.foreach { d =>
    test(s"${d.name} executes on sf0.001") {
      val before = spark.conf.getAll
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val n = Tables.scoped {
        val df = d.run(spark, TestSpark.sf)
        assert(df.columns.nonEmpty)
        df.count()
      }
      if (!mayBeEmpty(d.name)) assert(n > 0, s"${d.name} returned no rows")
      // every block the query materialized (on its own thread or a
      // streaming query's) is released when its scope closes
      val left = spark.sparkContext.getPersistentRDDs.keySet -- persisted
      assert(left.isEmpty, s"${d.name} left persisted RDDs $left")
      val residue = (spark.conf.getAll.toSet -- before.toSet)
        .filterNot { case (k, _) => allowedResidue(k) }
      assert(residue.isEmpty,
        s"${d.name} left session-config residue $residue — operators " +
          "must leave the session as they found it (clone the session " +
          "or snapshot-and-restore)")
    }
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** A non-comment operator-source line, with the lines above and below
    * it, the name of the registry query whose body holds it ("" outside
    * one), the name of the nearest `def` above it and the name of the
    * object member (`def` or `val`) whose body holds it. */
  private case class SourceHit(path: String, lineNo: Int, line: String,
      above: String, below: String, query: String, definition: String,
      member: String) {
    override def toString: String = s"$path:$lineNo: ${line.trim}"
  }

  private val QueryName = "\"([a-z0-9_]+)\",".r
  private val DefName = """\s*(?:(?:private|protected)(?:\[\w+\])?\s+)?def (\w+).*""".r

  private val MemberName =
    """  (?:(?:private|protected)(?:\[\w+\])?\s+)?(?:final\s+)?(?:lazy\s+)?(?:def|val) (\w+).*""".r

  /** The name of the object member (a two-space-indented `def` or `val`)
    * at or above line `i`. */
  private def enclosingMember(lines: IndexedSeq[String], i: Int): String =
    (i to 0 by -1).iterator.map(lines(_)).collectFirst { case MemberName(n) => n }
      .getOrElse("")

  /** `h` is in the body of an object member that `allowed` names for its
    * file. */
  private def inMember(allowed: Set[(String, String)])(h: SourceHit): Boolean =
    allowed(java.nio.file.Paths.get(h.path).getFileName.toString -> h.member)

  /** The name of the nearest `def` at or above line `i`. */
  private def enclosingDef(lines: IndexedSeq[String], i: Int): String =
    (i to 0 by -1).iterator.map(lines(_)).collectFirst { case DefName(n) => n }
      .getOrElse("")

  /** `h` is in the body of a def that `allowed` names for its file. */
  private def inDef(allowed: Set[(String, String)])(h: SourceHit): Boolean =
    allowed(java.nio.file.Paths.get(h.path).getFileName.toString -> h.definition)

  /** The registry query whose body holds line `i`: the nearest
    * `QueryDef(` + `"name",` above it, unless a top-level member of the
    * enclosing object (two-space indent) comes first. */
  private def enclosingQuery(lines: IndexedSeq[String], i: Int): String =
    (i to 1 by -1).iterator.map { j =>
      (lines(j).trim, lines(j - 1).trim) match {
        case (QueryName(n), prev) if prev.endsWith("QueryDef(") => Some(n)
        case _ if lines(j).matches("  [^ ].*") => Some("")
        case _ => None
      }
    }.collectFirst { case Some(n) => n }.getOrElse("")

  /** Non-comment lines of the operator sources (or of the `dirs` under
    * src/main/scala/graft, "" for all of it) containing any `needles`. */
  private def operatorSourceHits(needles: Seq[String],
      dirs: Seq[String] = OperatorDirs): Seq[SourceHit] =
    operatorSources(dirs).flatMap { case (p, lines) =>
      lines.indices.collect {
        case i if needles.exists(lines(i).contains) &&
          !lines(i).trim.startsWith("//") =>
          SourceHit(p, i + 1, lines(i), lines.lift(i - 1).getOrElse(""),
            lines.lift(i + 1).getOrElse(""), enclosingQuery(lines, i),
            enclosingDef(lines, i), enclosingMember(lines, i))
      }
    }

  private val OperatorDirs = Seq("operators", "sources", "functions", "streaming")

  /** (path, lines) of every Scala source under the `dirs` of
    * src/main/scala/graft ("" for all of it). */
  private def operatorSources(dirs: Seq[String])
      : Seq[(String, IndexedSeq[String])] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    dirs.map(d => Paths.get("src/main/scala/graft", d))
      .filter(Files.isDirectory(_))
      .flatMap { root =>
        val walk = Files.walk(root)
        try walk.iterator().asScala
          .filter(_.toString.endsWith(".scala"))
          .map(p => (p.toString, Files.readAllLines(p).asScala.toIndexedSeq))
          .toList
        finally walk.close()
      }
  }

  /** `h` is on, or just below, a line one of its file's `allowed`
    * entries names, or in the body of the query an entry names. */
  private def allowlisted(allowed: Iterable[(String, String)])(
      h: SourceHit): Boolean = {
    val file = java.nio.file.Paths.get(h.path).getFileName.toString
    allowed.exists { case (f, e) =>
      f == file && (h.line.contains(e) || h.above.contains(e) || h.query == e)
    }
  }

  // Session-scoped-state contract guard (r9 advice): graft.Verify runs
  // operators concurrently, one newSession() per worker over a SHARED
  // SparkContext — an operator mutating SparkContext-global state would
  // race across workers and corrupt the correctness record
  // non-deterministically. Grep every operator source file for the
  // forbidden global mutations; the contract itself is documented on
  // QueryDef (Registry.scala). Add a justified exclusion here only for
  // an operator that also forces SPARK_GRAFT_VERIFY_WORKERS=1.
  test("operator sources avoid SparkContext-global state mutations") {
    val forbidden = Seq(
      "setCheckpointDir",          // global checkpoint dir on the context
      "hadoopConfiguration.set",   // shared Hadoop conf mutation
      "createGlobalTempView",      // cross-session namespace
      "createOrReplaceGlobalTempView",
      "setJobGroup",               // context-thread-global job metadata
      "setLocalProperty",          // ditto (Cancel.scala owns its session)
      "setJobDescription")
    val hits = operatorSourceHits(forbidden)
    assert(hits.isEmpty,
      "SparkContext-global state mutation in operator code (races " +
        "under the parallel Verify — see the QueryDef contract):\n" +
        hits.mkString("\n"))
  }

  // Corpus metadata is memoized in one place, Tables.memo, keyed on the
  // files' size+mtime fingerprint: an operator owning its own cache or
  // building its own key can go stale in ways the memo cannot.
  test("operator sources own no caches and build no corpus fingerprints") {
    // the only caches left hold no corpus metadata
    val allowed = Map(
      // a pure function of the plane count
      "Similarity.scala" -> "val planeConstCache",
      // keyed by format name
      "Formats.scala" -> "val scratchDirs")
    val hits = operatorSourceHits(Seq("TrieMap", "corpusFingerprint"))
      .filterNot(allowlisted(allowed))
    assert(hits.isEmpty,
      "operator-owned cache or fingerprint (route it through " +
        "Tables.memo):\n" + hits.mkString("\n"))
  }

  // A corpus table is read through Tables.load, or its raw schema taken
  // from Tables.fileSchema: both reuse the schema inferred once per file
  // set, while a direct read of `$dir/<table>.parquet` pays a footer-
  // inference job at every query build. An operator's own index or
  // scratch directories are not corpus tables; they pass explicit
  // schemas or test a write→read round trip, and stay allowed.
  test("operator sources read corpus tables only through Tables") {
    val files = Tables.names.map(t => s"$t.parquet\"")
    // a corpus file path that no Spark reader reads
    val allowed = Map(
      // copies the events file's bytes into a streaming stage directory
      "StreamOps.scala" -> "Files.copy(")
    val hits = operatorSourceHits(files)
      .filter { h =>
        // a path literal to the table, or a batch read that globs it
        !h.line.contains(".write") &&
          (files.exists(f => h.line.contains("/" + f)) ||
            h.line.contains(".read."))
      }
      .filterNot(allowlisted(allowed))
    assert(hits.isEmpty,
      "direct read of a corpus table (call Tables.load or " +
        "Tables.fileSchema):\n" + hits.mkString("\n"))
  }

  // An operator's behaviour is set by its query and the session's Spark
  // confs, never by a project-private knob: a default-off
  // `spark.graft.*` switch doubles the configurations the operator must
  // be tested under while no test, benchmark or tool sets it.
  test("operator sources read no spark.graft.* session conf") {
    val hits = operatorSourceHits(Seq("\"spark.graft."))
    assert(hits.isEmpty,
      "spark.graft.* conf key in operator code:\n" + hits.mkString("\n"))
  }

  // The near-duplicate graph has one source: Dedup.jaccardEdges filters
  // jaccardPairs at JaccardThreshold. A query that filters the scored
  // pairs itself is a second definition of the edge list.
  test("the Jaccard edge list is built only by Dedup.jaccardEdges") {
    val allowed = Seq(
      "Dedup.scala" -> "def jaccardPairs(",  // the definition
      "Dedup.scala" -> "def jaccardEdges(",  // the one edge-list builder
      // report the scores (n_common, jaccard), not just the edges
      "Dedup.scala" -> "dedup_ngram_jaccard",
      "Multimodal.scala" -> "mm_crossmodal_audit",
      // uses every candidate pair, unfiltered, for containment scores
      "Dedup.scala" -> "dedup_containment")
    val hits = operatorSourceHits(Seq("jaccardPairs("))
      .filterNot(allowlisted(allowed))
    assert(hits.isEmpty,
      "near-dup edge list built outside Dedup.jaccardEdges (call it, or " +
        "allowlist a query that needs the scores):\n" + hits.mkString("\n"))
  }

  // Materialization has one primitive, Tables.materialize: it keeps the
  // operator's call site and registers the blocks with the caller's
  // Tables.scoped, so a query's intermediates are released when it ends.
  // A raw localCheckpoint() would hold its blocks until the GC notices;
  // a persist()/cache() at a StorageLevel is a second way to do the same
  // job, and a lazy one that builds its cache inside the first consumer.
  test("operator sources materialize only through Tables.materialize") {
    val hits = operatorSourceHits(
      Seq("localCheckpoint(", ".persist(", ".cache()", "StorageLevel"))
    assert(hits.isEmpty,
      "raw localCheckpoint, persist or cache in operator code " +
        "(call Tables.materialize):\n" + hits.mkString("\n"))
  }

  // Tables.scoped releases what its body materialized and nothing else.
  // A sweep over the context's persisted RDDs frees other queries' blocks
  // under a concurrent Verify and has no place in a long-lived server.
  test("only Tables releases persisted blocks") {
    val hits = operatorSourceHits(Seq("getPersistentRDDs", "unpersist("),
      dirs = Seq(""))
      .filterNot(h => h.path.endsWith("/Tables.scala"))
    assert(hits.isEmpty,
      "persisted-RDD release outside Tables (run the query in " +
        "Tables.scoped):\n" + hits.mkString("\n"))
  }

  // A scan is spread across cores through Tables.parallel (or
  // loadParallel), which memoizes the split count per file set;
  // `getNumPartitions` pays a second planning pass at every query build.
  test("operator sources measure a scan's splits only through Tables.parallel") {
    val hits = operatorSourceHits(Seq("getNumPartitions"))
    assert(hits.isEmpty,
      "split count measured in operator code (call Tables.parallel or " +
        "Tables.loadParallel):\n" + hits.mkString("\n"))
  }

  // The stop-key cap of every bucketed candidate join is Dedup.dropViral,
  // whose scaladoc states the broadcast's bound: at most |rel| / (cap + 1)
  // viral keys. A broadcast left-anti join written elsewhere is a second
  // copy of the cap whose bound nobody stated.
  test("the viral-key cap's broadcast anti-join lives only in Dedup.dropViral") {
    val hits = operatorSourceHits(Seq("broadcast("))
      .filter(h => (h.line + h.below).contains("\"left_anti\""))
      .filterNot(inDef(Set("Dedup.scala" -> "dropViral")))
    assert(hits.isEmpty,
      "broadcast left-anti join outside Dedup.dropViral (call it):\n" +
        hits.mkString("\n"))
  }

  // The MinHash band layout is decided once: Dedup.bandsOf for every
  // batch generator and StreamOps.bandStream for the two streaming
  // near-dup forms, whose int band_id feeds the state schema.
  test("the MinHash band explode lives only in Dedup.bandsOf and StreamOps.bandStream") {
    val hits = operatorSourceHits(Seq("slice(col(\"sig\")"))
      .filterNot(inDef(Set("Dedup.scala" -> "bandsOf", "StreamOps.scala" -> "bandStream")))
    assert(hits.isEmpty,
      "MinHash band explode outside Dedup.bandsOf (call it):\n" +
        hits.mkString("\n"))
  }

  // A stream runs to completion through one driver, StreamOps.drain
  // (start on the calling thread, process, stop in a finally), or
  // through the two-phase SentinelStage.drainClosing. A copy elsewhere is
  // one more place a streaming fix has to be made again.
  test("a stream is drained only by StreamOps.drain and SentinelStage.drainClosing") {
    val hits = operatorSourceHits(Seq("processAllAvailable("), dirs = Seq(""))
      .filterNot(inDef(Set("StreamOps.scala" -> "drain", "StreamOps.scala" -> "drainClosing")))
    assert(hits.isEmpty,
      "stream run to completion outside StreamOps.drain (call it, or " +
        "StreamOps.toMemory):\n" + hits.mkString("\n"))
  }

  test("a memory sink is written only by StreamOps.toMemory") {
    val allowed = Map(
      // reads the state store back from an explicit checkpoint location
      "StreamOps.scala" -> "stream_state_read")
    val hits = operatorSourceHits(Seq(".format(\"memory\")"), dirs = Seq(""))
      .filterNot(inDef(Set("StreamOps.scala" -> "toMemory")))
      .filterNot(allowlisted(allowed))
    assert(hits.isEmpty,
      "memory sink outside StreamOps.toMemory (call it):\n" + hits.mkString("\n"))
  }

  test("a corpus table is streamed only by StreamOps.tableStream and SentinelStage") {
    val hits = operatorSourceHits(Seq(".readStream"), dirs = Seq(""))
      .filterNot(inDef(Set("StreamOps.scala" -> "tableStream", "StreamOps.scala" -> "stream")))
    assert(hits.isEmpty,
      "corpus readStream outside StreamOps.tableStream (call it):\n" +
        hits.mkString("\n"))
  }

  // Operator scratch directories come from graft.jvmScratchDir, which
  // deletes them at JVM exit; a bare temp directory outlives the run.
  test("operator sources make scratch directories only through jvmScratchDir") {
    val hits = operatorSourceHits(Seq("createTempDirectory"))
    assert(hits.isEmpty,
      "bare temp directory in operator code (call graft.jvmScratchDir):\n" +
        hits.mkString("\n"))
  }

  // Each rule the Spark plan and its DuckDB oracle share has its SQL
  // written by one function, next to the Spark helper it mirrors. A
  // hand-written copy of the rule's SQL is one more place the two
  // engines can drift apart.
  test("the DuckDB hash31 is written only by EngineFns.hash31Sql") {
    val allowed = Map(
      // an 8-hex md5 prefix reported as a fingerprint, not hash31
      "TextAnalysis.scala" -> "AS fp_short",
      // Spark SQL text (conv/pmod), planned by Spark, not DuckDB
      "Similarity.scala" -> "pmod(cast(conv(substr(md5(")
    val hits = operatorSourceHits(Seq("substr(md5("), dirs = Seq(""))
      .filterNot(inMember(Set("EngineFns.scala" -> "hash31Sql")))
      .filterNot(allowlisted(allowed))
    assert(hits.isEmpty,
      "hand-written DuckDB hash31 (call EngineFns.hash31Sql):\n" +
        hits.mkString("\n"))
  }

  test("the oracle's 3-shingle CTE is written only by Dedup.shingledSql") {
    val hits = operatorSourceHits(
        Seq("range(1, len(string_split(text,' ')) - 1)"), dirs = Seq(""))
      .filterNot(inMember(Set("Dedup.scala" -> "shingledSql")))
    assert(hits.isEmpty,
      "hand-written shingle CTE (call Dedup.shingledSql):\n" +
        hits.mkString("\n"))
  }

  test("the oracle's 60-bit SimHash is written only by Dedup.simhashWideSql") {
    val hits = operatorSourceHits(Seq("unnest(range(0, 60))"), dirs = Seq(""))
      .filterNot(inMember(Set(
        "Dedup.scala" -> "simhashWideSql",
        // a different signature: 4-char byte grams, keyed by format
        "Multimodal.scala" -> "PhashWideSigCte")))
    assert(hits.isEmpty,
      "hand-written 60-bit SimHash CTE (call Dedup.simhashWideSql):\n" +
        hits.mkString("\n"))
  }

  // Each graph step has one Spark helper and one SQL mirror. A copied
  // closure, BFS or degree count is one more place a round structure
  // has to be changed and the two engines can drift apart.
  test("the component closure is written only by Dedup.componentsSql") {
    val hits = operatorSourceHits(Seq("least(u, min("), dirs = Seq(""))
      .filterNot(inMember(Set("Dedup.scala" -> "componentsSql")))
    assert(hits.isEmpty,
      "hand-written component closure (call Dedup.componentsSql):\n" +
        hits.mkString("\n"))
  }

  test("the hop-bounded reach is written only by Graph.reachSql, in a Graph.recursionSession") {
    val hits = operatorSourceHits(Seq("reach(src, node, hop) AS ("), dirs = Seq(""))
      .filterNot(inMember(Set("Graph.scala" -> "reachSql"))) ++
      operatorSourceHits(Seq("\"spark.sql.cteRecursionRowLimit\""), dirs = Seq(""))
        .filterNot(inMember(Set("Graph.scala" -> "recursionSession")))
    assert(hits.isEmpty,
      "hand-written bounded reach or recursion valve (call Graph.reachSql " +
        "in a Graph.recursionSession):\n" + hits.mkString("\n"))
  }

  test("the vertex degree is counted only by Graph.degrees and Graph.DegSql") {
    val hits = operatorSourceHits(Seq("count(*) AS deg FROM", ".as(\"deg\")"), dirs = Seq(""))
      .filterNot(inMember(Set("Graph.scala" -> "degrees", "Graph.scala" -> "DegSql")))
    assert(hits.isEmpty,
      "hand-written degree count (call Graph.degrees or use Graph.DegSql):\n" +
        hits.mkString("\n"))
  }

  // The similarity searches share one skeleton: one query set, one
  // cosine top-k and one IVF assignment, each with its DuckDB mirror in
  // Similarity. A copy elsewhere is a search whose probe set, ranking or
  // lists can drift from the others'.
  test("the IVF centroid sample is written only by Similarity.IvfRankedSql") {
    val hits = operatorSourceHits(Seq("vec_id % $CentStrideSql"), dirs = Seq(""))
      .filterNot(inMember(Set("Similarity.scala" -> "IvfRankedSql")))
    assert(hits.isEmpty,
      "hand-written IVF assignment CTE (call Similarity.IvfRankedSql):\n" +
        hits.mkString("\n"))
  }

  test("the oracle's cosine top-k is written only by Similarity.topKSql") {
    val hits = operatorSourceHits(Seq("ORDER BY cos DESC, vec_id"), dirs = Seq(""))
      .filterNot(inMember(Set("Similarity.scala" -> "topKSql")))
    assert(hits.isEmpty,
      "hand-written cosine top-k (call Similarity.topKSql):\n" + hits.mkString("\n"))
  }

  test("the similarity query set is filtered only by Similarity.probeRows") {
    val probe = """col\("vec_id"\) < (?:[\w.]+\.)?NumQueries\b""".r
    val hits = operatorSourceHits(Seq("NumQueries"), dirs = Seq("operators", "streaming"))
      .filter(h => probe.findFirstIn(h.line).nonEmpty)
      .filterNot(inMember(Set("Similarity.scala" -> "probeRows")))
    assert(hits.isEmpty,
      "hand-written query set (call Similarity.queriesOf or keyedQueriesOf):\n" +
        hits.mkString("\n"))
  }

  test("hash31Sql is one parenthesized operand") {
    val h = graft.functions.EngineFns.hash31Sql("x")
    val e = s"2 * $h"
    assert(e === "2 * (CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 2147483647)")
    // the parenthesis opened after `2 * ` closes at the very end
    val open = e.indexOf('(')
    val depths = e.drop(open).scanLeft(0) {
      case (d, '(') => d + 1
      case (d, ')') => d - 1
      case (d, _) => d
    }.tail
    assert(depths.indexOf(0) === e.length - open - 1)
  }

  // Scaladoc attaches to the definition right below it; a block directly
  // above another block documents nothing and has lost its definition.
  test("no scaladoc block sits directly above another in src/main") {
    val hits = operatorSources(Seq("")).flatMap { case (p, lines) =>
      lines.indices.drop(1).collect {
        case i if lines(i - 1).trim.endsWith("*/") && lines(i).trim.startsWith("/**") =>
          // name the orphan: the block that ends on line i - 1
          val j = lines.lastIndexWhere(_.trim.startsWith("/**"), i - 1)
          s"$p:${j + 1}: ${lines(j).trim}"
      }
    }
    assert(hits.isEmpty,
      "orphaned scaladoc (move it onto its definition, or delete it):\n" +
        hits.mkString("\n"))
  }

  /** A `repartition(`/`repartitionByRange(` with column arguments; a
    * bare count such as `repartition(p)` does not match. */
  private val KeyedRepartition = """repartition(?:ByRange)?\((?!\s*[\w.]+\s*\))""".r

  /** Offsets in `src` of each keyed repartition whose frame is
    * materialized: the innermost call around it is `materialize(`, or
    * a call chained after it names `materialize`. */
  private def keyedRepartitionsMaterialized(src: String): Seq[Int] = {
    // index just past the parenthesis that closes the one at `open`
    def close(open: Int): Int = {
      var depth = 1
      var i = open + 1
      while (depth > 0 && i < src.length) {
        if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
        i += 1
      }
      i
    }
    // the name of the innermost unclosed call before `at`
    def enclosingCall(at: Int): String = {
      var depth = 0
      var i = at - 1
      while (i >= 0 && !(src(i) == '(' && depth == 0)) {
        if (src(i) == ')') depth += 1 else if (src(i) == '(') depth -= 1
        i -= 1
      }
      src.take(math.max(i, 0)).reverse
        .takeWhile(c => c.isLetterOrDigit || c == '.').reverse
    }
    val call = """\A\s*\.\s*\w+\s*\(""".r
    // the calls chained after `from`, in source form
    def chained(from: Int): String =
      call.findPrefixMatchOf(src.substring(from)).fold("") { m =>
        val end = close(from + m.end - 1)
        src.substring(from, end) + chained(end)
      }
    KeyedRepartition.findAllMatchIn(src).map(_.start).filter { o =>
      enclosingCall(o).endsWith("materialize") ||
        chained(close(src.indexOf('(', o))).contains("materialize")
    }.toSeq
  }

  // A checkpoint keeps no partitioning under adaptive query execution
  // (TablesSpec pins it), so a keyed repartition in front of
  // Tables.materialize shuffles the relation once more and no consumer
  // sees that shuffle. A count-only repartition(p), which spreads a
  // single-split scan across cores, stays allowed.
  test("no keyed repartition feeds Tables.materialize in operator sources") {
    Seq("""Tables.materialize(edges.join(deg, "u").repartition(col("u")))""",
        "edges\n  .repartition(col(\"u\"), col(\"v\"))\n  .select(\"u\")\n" +
          "  .transform(Tables.materialize)",
        """x.repartitionByRange(8, col("k")).transform(Tables.materialize)""")
      .foreach(p => assert(keyedRepartitionsMaterialized(p).size === 1, p))
    Seq("""docs.repartition(p).transform(Tables.materialize)""",
        """x.repartition(4, col("k")).write.parquet(out)""",
        """Tables.materialize(x.join(y.repartition(col("k")), "k"))""")
      .foreach(p => assert(keyedRepartitionsMaterialized(p).isEmpty, p))
    val hits = operatorSources(OperatorDirs).flatMap { case (p, lines) =>
      val src = lines.map(l => if (l.trim.startsWith("//")) "" else l)
        .mkString("\n")
      keyedRepartitionsMaterialized(src).map { o =>
        val i = src.take(o).count(_ == '\n')
        s"$p:${i + 1}: ${lines(i).trim}"
      }
    }
    assert(hits.isEmpty,
      "keyed repartition in front of Tables.materialize (the checkpoint " +
        "drops its partitioning; materialize the frame as it is):\n" +
        hits.mkString("\n"))
  }
}
