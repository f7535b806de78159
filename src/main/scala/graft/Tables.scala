package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Table access for the driver corpus (TESTDATA.md).
  *
  * Mirrors the reference's ListingTable registration (reference
  * main.rs:131-144): parquet under a directory becomes a named table;
  * schema is inferred from the parquet footers. Spark's vectorized
  * parquet reader gives the same columnar scan with column pruning and
  * row-group skipping (reference main.rs:126,131) built in.
  *
  * Metadata derived from the corpus files (schemas, row counts, split
  * counts, the directories of indexes built from a table) is memoized
  * here and nowhere else: see `memo`. Like the reference, which infers
  * a table's schema once when it registers the ListingTable, a table's
  * schema is inferred once per file set (`fileSchema`), keyed on the
  * files' fingerprint plus the session's values of the confs that
  * change parquet schema inference (`schemaConfs`); every later `load`
  * passes it to the reader and launches no footer-inference job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else read(spark, dir, name)

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(fileSchema(spark, dir, name))
      .parquet(s"$dir/$name.parquet")

  /** Session confs whose values change the schema parquet inference
    * returns for the same files. */
  private val schemaConfs: Seq[String] = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong")

  /** Session confs that change how a file scan is split. */
  private val splitConfs: Seq[String] = Seq(
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
    "spark.sql.files.maxPartitionNum")

  /** `what` qualified by the session's values of `confs`, so a memo
    * entry measured under one setting is never served under another. */
  private def confKeyed(spark: SparkSession, what: String,
      confs: Seq[String]): String =
    confs.map(k => s"$k=${spark.conf.getOption(k).getOrElse("")}")
      .mkString(s"$what@", ",", "")

  /** The schema `spark.read.parquet` infers for `dir/name.parquet` under
    * the session's confs; for events that is the raw file schema (ts not
    * normalized). See `parquetSchema`. */
  def fileSchema(spark: SparkSession, dir: String, name: String): StructType =
    parquetSchema(spark, s"$dir/$name.parquet")

  /** The schema `spark.read.options(options).parquet(path)` infers under
    * the session's confs. Inference reads footers in a Spark job (about
    * 100 ms at local[4]), so it runs once per file set under `path`,
    * `options` and `schemaConfs` values, in any session of the JVM; pass
    * the result to the reader's `schema` and the load launches no job. */
  def parquetSchema(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): StructType =
    memo(path, confKeyed(spark,
      ("schema" +: options.toSeq.sorted.map { case (k, v) => s"$k=$v" })
        .mkString(","), schemaConfs))(
      spark.read.options(options).parquet(path).schema)

  /** Spread an under-split scan across every core before heavy per-row
    * expression work (md5 ladders, shingle explosion, image decode).
    * The corpus ships each table as ONE parquet file = one input split,
    * so everything upstream of the first exchange otherwise runs on a
    * single task — measured in round 13 as ~89 s of serial wall across
    * 56 benched queries. Conditional exactly like Dedup.docsParallel
    * (round-2 advice): a pre-split production input (a 100 TB table is
    * thousands of splits) skips the repartition entirely, so this is a
    * no-op at scale and never an extra shuffle there. Results are
    * unaffected: every registry query closes with a total-order sort or
    * a keyed aggregate, neither of which sees input partitioning. */
  def parallel(spark: SparkSession, df: DataFrame): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    if (scanPartitions(df, p) >= p) df else df.repartition(p)
  }

  /** Measured scan partition count. `df.rdd.getNumPartitions` pays a
    * second analyze/optimize/physical-planning pass per call (r13
    * advice), so a file scan's count is memoized on its input files,
    * the parallelism and the session's `splitConfs`. A frame with no
    * input files (checkpointed, in-memory) has nothing to key on and is
    * measured directly. */
  private def scanPartitions(df: DataFrame, p: Int): Int = {
    val files = df.inputFiles
    if (files.isEmpty) df.rdd.getNumPartitions
    else {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val stats = files.toSeq.map { f =>
        val path = new org.apache.hadoop.fs.Path(new java.net.URI(f))
        val st = path.getFileSystem(conf).getFileStatus(path)
        (f, st.getLen, st.getModificationTime)
      }
      memoOn(filesFingerprint(stats),
        confKeyed(df.sparkSession, s"splits@$p", splitConfs))(
        df.rdd.getNumPartitions)
    }
  }

  /** load + parallel — for operators whose scan feeds heavy map work. */
  def loadParallel(spark: SparkSession, dir: String, name: String): DataFrame =
    parallel(spark, load(spark, dir, name))

  /** Table row count (memoized: registry-gate pre-flights and plane or
    * stride sizing otherwise launch a count job at every query build). */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    memo(dir, name, "rows")(load(spark, dir, name).count())

  /** Corpus metadata memo: `compute` runs once per (fingerprint of the
    * files under `dir/table.parquet`, `what`) and JVM, where `what`
    * names the derived value ("rows", "ivf_index", "ppr_seeds", ...)
    * and, for a value that depends on session confs, their values
    * ("schema@spark.sql.parquet.binaryAsString=false,...").
    *
    * The fingerprint is every file's relative path, size and mtime, so
    * a table rewritten in place (a test regenerating data, the refresh
    * lifecycle appending a batch) recomputes instead of serving a stale
    * value; keying on `dir` or on file names alone would not (r9
    * advice). Listing the files is O(#files) driver metadata work, the
    * same cost Spark pays to plan the scan.
    *
    * A path with no local files to list (absent, or not on the local
    * file system) has nothing to key on: `compute` runs every call.
    *
    * Only metadata is memoized — schemas, counts, split counts, the
    * directory of an index built from the corpus — never a query's
    * result. */
  def memo[T](dir: String, table: String, what: String)(compute: => T): T =
    memo(s"$dir/$table.parquet", what)(compute)

  /** `memo` keyed on the files under `root`, any directory of Parquet
    * files: a corpus table's `dir/table.parquet` or a flat directory
    * such as the reference's test_table. */
  def memo[T](root: String, what: String)(compute: => T): T =
    filesUnder(root).fold(compute)(memoOn(_, what)(compute))

  private val memos = scala.collection.concurrent.TrieMap[(String, String), Any]()

  private def memoOn[T](fingerprint: String, what: String)(compute: => T): T =
    memos.getOrElseUpdate((fingerprint, what), compute).asInstanceOf[T]

  /** Order-independent digest of (file, size, mtime) triples. */
  private def filesFingerprint(files: Seq[(String, Long, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    files.sorted.foreach { case (f, size, mtime) =>
      md.update(s"$f:$size:$mtime|".getBytes("UTF-8"))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def filesUnder(path: String): Option[String] = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(path)
    if (!Files.exists(root)) None
    else {
      val walk = Files.walk(root)
      val files =
        try walk.iterator().asScala.filter((p: Path) => Files.isRegularFile(p))
          .map(p => (root.relativize(p).toString, Files.size(p),
            Files.getLastModifiedTime(p).toMillis))
          .toList
        finally walk.close()
      Some(s"$path#${filesFingerprint(files)}")
    }
  }

  /** `df` computed once into executor storage (`localCheckpoint`) for
    * every later consumer to read: the one way operator code materializes
    * an intermediate. A frame that already scans a checkpoint is returned
    * as it is. The checkpoint's RDD, job and SQL execution carry the call
    * site of the operator line that called `materialize`, directly or
    * through `checkpointMeasured` (`localCheckpoint at Dedup.scala:457`),
    * so a barrier stays attributed to its operator. Its blocks are
    * released when the enclosing `scoped` closes; with no scope open,
    * when Spark's `ContextCleaner` drops the unreachable RDD.
    *
    * The materialized frame carries no partitioning: under adaptive
    * query execution (Spark's default, which `GraftSession.local`
    * keeps), the checkpoint's `LogicalRDD` reports
    * `UnknownPartitioning`, so a consumer that needs
    * the rows on a key exchanges them whatever shuffle fed the
    * checkpoint. A keyed `repartition` in front of `materialize` is one
    * shuffle more for nothing (TablesSpec pins the Spark behaviour). */
  def materialize(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case r: LogicalRDD if r.rdd.isCheckpointed => df
    case _ =>
      val sc = df.sparkSession.sparkContext
      val keys = Seq("callSite.short", "callSite.long")
      val saved = keys.map(sc.getLocalProperty)
      keys.zip(callerSite()).foreach { case (k, v) => sc.setLocalProperty(k, v) }
      val frame =
        try df.localCheckpoint()
        finally keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
      val r = frame.queryExecution.logical.asInstanceOf[LogicalRDD]
      Option(scope.get).foreach(_.add(r.rdd))
      frame
  }

  /** The short and long call-site forms Spark would record for a
    * checkpoint taken where `materialize` was called: from the first
    * frame past `materialize` outside Spark, Scala and `Tables`. */
  private def callerSite(): Seq[String] = {
    val user = Thread.currentThread.getStackTrace.toSeq
      .dropWhile(_.getMethodName != "materialize")
      .dropWhile(f => Seq("org.apache.spark.", "scala.", "graft.Tables$")
        .exists(f.getClassName.startsWith))
    Seq(s"localCheckpoint at ${user.head.getFileName}:${user.head.getLineNumber}",
      user.take(20).mkString("\n"))
  }

  /** The RDDs materialized in this thread's innermost `scoped` body; a
    * thread the body starts (a stream running `foreachBatch`) inherits it. */
  private val scope = new InheritableThreadLocal[java.util.Queue[RDD[_]]]

  /** `body`, after which every RDD `materialize` checkpointed while it
    * ran (on this thread or one it started) is unpersisted, non-blocking,
    * on return, throw or cancel alike: a harness runs each query, build
    * and action, in one scope. Concurrent scopes keep their own RDDs; one
    * registered after its scope closed is left to the `ContextCleaner`. */
  def scoped[T](body: => T): T = {
    val outer = scope.get
    val rdds = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]
    scope.set(rdds)
    try body
    finally {
      scope.set(outer)
      rdds.forEach(_.unpersist(blocking = false))
    }
  }

  private val obsFallbacks = new java.util.concurrent.atomic.AtomicLong

  /** Process-wide count of checkpointMeasured fallbacks so far. */
  def observeFallbacks: Long = obsFallbacks.get

  /** `df` materialized, plus `metrics` — Long aggregates over its
    * rows, in order — collected during the checkpoint job via
    * `Dataset.observe` instead of by a second job. Listener delivery is
    * asynchronous: if the metrics have not landed within 2 s, the same
    * aggregates run over the checkpointed blocks (same values, one spare
    * job) and `observeFallbacks` goes up. A null metric (a sum over zero
    * rows) reads as 0. */
  def checkpointMeasured(df: DataFrame, metrics: Column*)
      : (DataFrame, Seq[Long]) = {
    import scala.concurrent.Await
    import scala.concurrent.duration.DurationInt
    val obs = new Observation()
    val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
    val frame = materialize(df.observe(obs, named.head, named.tail: _*))
    val row =
      try Await.result(obs.future, 2.seconds)
      catch { case _: java.util.concurrent.TimeoutException =>
        obsFallbacks.incrementAndGet()
        frame.agg(metrics.head, metrics.tail: _*).head()
      }
    (frame, row.toSeq.map(asLong))
  }

  private def asLong(v: Any): Long = v match {
    case null => 0L
    case n: Long => n
  }

  /** events.ts normalized to TimestampType micros whatever the parquet
    * physical type. The corpus has shipped it two ways across driver
    * rounds: timestamp[ns] (which Spark 4 refuses to read natively —
    * read nanos as long via the legacy conf and truncate to micros with
    * integer division; a double division would lose precision on
    * 2^60-ns epoch values) and timestamp[us] (TIMESTAMP_NTZ in Spark 4
    * — cast to TIMESTAMP, a micros-identity under the pinned UTC
    * session timezone). Both match DuckDB's CAST(ts AS TIMESTAMP)
    * exactly, so oracle comparisons stay bit-for-bit either way. */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read(spark, dir, "events")
    df.withColumn("ts", normTsCol(df.schema))
  }

  /** The ts-normalizing column for an events schema (see loadEvents). */
  def normTsCol(schema: StructType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr}
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("timestamp_micros(ts div 1000)")
      case _ => col("ts").cast("timestamp")
    }
  }

  /** Register every corpus table as a temp view (idempotent), so SQL-text
    * queries (scalar subqueries, correlated EXISTS) can run verbatim. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
