package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.{QueryDef, Tables}
import graft.functions.EngineFns.hash31Sql

/** Source/sink coverage beyond parquet: CSV, JSON-lines, ORC, Avro and
  * XML file round-trips. Each operator writes a lineitem projection to a scratch
  * directory in the chosen format, reads it back (explicit schema — no
  * inference pass at scale), and aggregates; the oracle computes the same
  * aggregate from the original parquet, so the round-trip must preserve
  * values exactly (doubles survive via shortest-representation text in
  * CSV/JSON and natively in ORC).
  */
object Formats {

  private val RoundTripAgg: String =
    """SELECT l_returnflag, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // one round-trip scratch dir per format, REUSED across invocations
  // within the process: a dir per call held a lineitem-sized directory
  // for every bench pass / verify run
  private val scratchDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def scratchFor(fmt: String): String =
    scratchDirs.getOrElseUpdate(fmt, graft.jvmScratchDir(s"graft_fmt_$fmt").toString)

  private def roundTrip(s: SparkSession, dir: String, fmt: String,
      opts: Map[String, String] = Map.empty,
      parallel: Boolean = false): DataFrame = {
    // Parallelize the under-split scan so BOTH legs of the round-trip
    // spread across cores — but ONLY for formats whose per-row
    // encode/decode is heavy enough to amortize the added round-robin
    // exchange. XML is (4.45 s wall ≈ 4.0 s single-task CPU in the
    // round-13 baseline; the repartition bought 2.8x); the binary/cheap
    // text codecs are not (r13 measured orc 0.77x, json 0.82x when
    // repartitioned — the exchange cost more than the spread bought).
    // The aggregate output is unchanged either way.
    val loaded =
      if (parallel) Tables.loadParallel(s, dir, "lineitem")
      else Tables.load(s, dir, "lineitem")
    val sub = loaded
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    val scratch = scratchFor(fmt)
    sub.write.mode("overwrite").options(opts).format(fmt).save(scratch)
    val schema = StructType.fromDDL(
      "l_orderkey BIGINT, l_linenumber INT, l_returnflag STRING, l_quantity DOUBLE")
    s.read.format(fmt).options(opts).schema(schema).load(scratch)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty"))
      .orderBy("l_returnflag")
  }

  val defs: Seq[QueryDef] = Seq(
    // csv/avro keep the r13 parallel write path (measured flat-to-
    // positive there); json/orc revert to the plain scan (r13 measured
    // 0.82x/0.77x with the repartition — VERDICT r13 task #3)
    QueryDef("q_fmt_csv", (s, dir) => roundTrip(s, dir, "csv", parallel = true),
      Some(RoundTripAgg)),
    QueryDef("q_fmt_json", (s, dir) => roundTrip(s, dir, "json"), Some(RoundTripAgg)),
    QueryDef("q_fmt_orc", (s, dir) => roundTrip(s, dir, "orc"), Some(RoundTripAgg)),
    // Avro (row-oriented interchange — the Kafka/stream-bus format) and
    // XML (rowTag-delimited — the legacy-feed format) ship in Spark 4's
    // sql module; same write→read→aggregate contract, doubles surviving
    // via Avro's binary encoding and XML's text encoding. The Avro
    // FileFormat class is present but not service-registered in this
    // distribution (no spark-avro jar), so it is addressed by class name.
    QueryDef("q_fmt_avro", (s, dir) =>
      roundTrip(s, dir, "org.apache.spark.sql.avro.AvroFileFormat",
        parallel = true),
      Some(RoundTripAgg)),
    QueryDef("q_fmt_xml", (s, dir) =>
      roundTrip(s, dir, "xml", Map("rowTag" -> "row"), parallel = true),
      Some(RoundTripAgg)),

    // Line-oriented text round-trip — the raw-log shape. One string
    // column per line out and back; a `lang|text` line plus a limit-2
    // split recovers the fields (document text is letter/space word
    // soup, so the first '|' is always the delimiter). The oracle
    // aggregates the original table, so any byte lost or mangled in the
    // write→read path breaks the hash match.
    QueryDef(
      "q_fmt_text",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, concat_ws, count, length, lit, split, sum}
        val scratch = scratchFor("text")
        // plain load (r14): the r13 repartition regressed this 0.81x —
        // a concat_ws + text write is too light for the extra exchange
        Tables.load(s, dir, "documents")
          .select(concat_ws("|", col("lang"), col("text")).as("value"))
          .write.mode("overwrite").text(scratch)
        val parts = split(col("value"), "\\|", 2)
        s.read.text(scratch)
          .select(parts.getItem(0).as("lang"), parts.getItem(1).as("text"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            sum(length(col("text"))).cast("long").as("n_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n,
                CAST(sum(length(text)) AS BIGINT) AS n_chars
              FROM documents GROUP BY lang ORDER BY lang""")),

    // Hive-style partitioned layout + partition pruning: events written
    // once per invocation partitioned by event_type, then read back with
    // an event_type predicate. The filter resolves against DIRECTORY
    // NAMES — the pruned partitions' files are never listed, opened or
    // decoded (PlanSpec asserts the PartitionFilters entry), which is
    // the mechanism that turns a 100 TB scan into a single-partition
    // scan when the predicate matches the layout. The oracle computes
    // the same aggregate from the unpartitioned original, so the
    // write→prune→read path must preserve values exactly.
    QueryDef(
      "q_partitioned_prune",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, count, lit, sum}
        val scratch = scratchFor("part")
        Tables.load(s, dir, "events")
          .select("event_id", "user_id", "event_type", "value")
          .write.mode("overwrite").partitionBy("event_type").parquet(scratch)
        // explicit schema: a partitioned write of an EMPTY table leaves
        // no part files, and footer inference would fail on read-back
        // (degenerate-corpus sweep, r8); the layout is ours, so the
        // schema is known — pruning behavior is unchanged
        s.read
          .schema("event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING")
          .parquet(scratch)
          .filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n"),
            sum(col("value").cast("decimal(12,2)")).cast("double").as("total"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id ORDER BY user_id""")),

    // Parquet schema evolution: two file generations with different
    // schemas (generation 2 adds l_discount) read together under
    // mergeSchema — the footer-merge path every long-lived 100 TB table
    // hits when columns are added over time. Old-generation rows surface
    // the new column as NULL; the oracle recomputes the same aggregate
    // from the unsplit original, so the merge must neither drop rows nor
    // misalign columns. bench=false: an I/O-layout feature, not a
    // throughput path (the format round-trips cover sink throughput).
    QueryDef(
      "q_schema_evolution",
      (s, dir) => {
        import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
        val scratch = scratchFor("evo")
        val li = Tables.load(s, dir, "lineitem")
        li.filter(col("l_linenumber") % 2 === 0)
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
          .write.mode("overwrite").parquet(s"$scratch/gen1")
        li.filter(col("l_linenumber") % 2 =!= 0)
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
            "l_discount")
          .write.mode("overwrite").parquet(s"$scratch/gen2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$scratch/gen1", s"$scratch/gen2")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty"),
            sum(coalesce(col("l_discount"), lit(0.0)).cast("decimal(12,2)"))
              .cast("double").as("disc"))
          .orderBy("l_returnflag")
      },
      bench = false,
      oracle = Some("""SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
                CAST(sum(CASE WHEN l_linenumber % 2 != 0
                              THEN CAST(l_discount AS DECIMAL(12,2))
                              ELSE CAST(0.0 AS DECIMAL(12,2)) END) AS DOUBLE) AS disc
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Small-file compaction — the table-maintenance pass every streaming
    // or incremental 100 TB ingest needs: a fragmented write (64 files
    // here, the shape a per-microbatch sink leaves behind) is rewritten
    // into size-targeted files, with the output file count derived from
    // the MEASURED input bytes (ceil(bytes / 4 MiB), min 1), not a
    // hard-coded number — the same sizing rule works at any scale. The
    // aggregate runs over the COMPACTED copy, and the oracle recomputes
    // it from the original table, so compaction must lose/duplicate
    // nothing. File counts before/after are asserted in AggFormatsSpec.
    QueryDef(
      "q_compact_files",
      (s, dir) => {
        val scratch = scratchFor("compact")
        val frag = s"$scratch/fragmented"
        val comp = s"$scratch/compacted"
        Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
          .repartition(64)
          .write.mode("overwrite").parquet(frag)
        val bytes = listParquet(frag).map(_.length).sum
        val target = 4L * 1024 * 1024
        val nOut = math.max(1L, (bytes + target - 1) / target).toInt
        s.read.parquet(frag).coalesce(nOut)
          .write.mode("overwrite").parquet(comp)
        s.read.parquet(comp)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty"))
          .orderBy("l_returnflag")
      },
      bench = false, // I/O-maintenance path; sink throughput is covered by q_fmt_*
      oracle = Some(RoundTripAgg)),

    // Z-order clustered layout — multi-column data skipping: interleave
    // the low 16 bits of l_partkey and l_suppkey into one 32-bit Morton
    // key, range-partition + sort the write on it, so files become
    // rectangles in (partkey, suppkey) space and a predicate on EITHER
    // column prunes most files via parquet min/max stats (per-file
    // disjointness is asserted in AggFormatsSpec). The registry query
    // reads the clustered copy back under a z-range predicate and
    // aggregates; the oracle recomputes the identical Morton arithmetic
    // in DuckDB over the original table — bit-for-bit, since the
    // interleave is pure integer shifts.
    QueryDef(
      "q_zorder_layout",
      (s, dir) => {
        val scratch = scratchFor("zorder")
        val z = (0 until 16).map { i =>
          expr(s"shiftleft(shiftright(l_partkey, $i) & 1, ${2 * i}) + " +
            s"shiftleft(shiftright(l_suppkey, $i) & 1, ${2 * i + 1})")
        }.reduce(_ + _).cast("long")
        Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"), z.as("zval"))
          .repartitionByRange(8, col("zval"))
          .sortWithinPartitions("zval")
          .write.mode("overwrite").parquet(scratch)
        s.read.parquet(scratch)
          .filter(col("zval") < 1000000L)
          .agg(count(lit(1)).as("n"),
            sum(col("zval")).as("sum_z"),
            min(col("zval")).as("min_z"),
            max(col("zval")).as("max_z"))
      },
      bench = false, // layout pass; scan throughput is covered elsewhere
      oracle = Some(s"""WITH z AS (
                 SELECT ${zOrderSqlExpr("l_partkey", "l_suppkey")} AS zval
                 FROM lineitem)
               SELECT count(*) AS n,
                 CAST(sum(zval) AS BIGINT) AS sum_z,
                 min(zval) AS min_z, max(zval) AS max_z
               FROM z WHERE zval < 1000000""")),

    // Hilbert-curve clustered layout — the data-skipping sibling of
    // q_zorder_layout with strictly better locality: the Hilbert index
    // never makes the long diagonal jumps Morton interleave does (every
    // consecutive pair of cells is grid-adjacent), so range predicates
    // on either column touch fewer, tighter file rectangles — the
    // layout modern table formats offer as OPTIMIZE ... BY HILBERT.
    // Implementation is the textbook xy2d transform unrolled to 16
    // levels of pure integer CASE/AND/subtract steps: the SAME
    // generated step strings build the Spark plan (withColumn chain —
    // one codegen'd projection, no UDF) and the DuckDB oracle's CTE
    // chain, so the two curves cannot drift; the test-side check is an
    // INDEPENDENT imperative xy2d replay (AggFormatsSpec). Layout =
    // range partition + in-file sort on the index, as q_zorder_layout.
    QueryDef(
      "q_hilbert_layout",
      (s, dir) => {
        val scratch = scratchFor("hilbert")
        var df = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"),
            expr("l_partkey & 65535").as("hx0"),
            expr("l_suppkey & 65535").as("hy0"),
            lit(0L).as("hd0"))
        for (i <- 0 until 16) {
          val (xN, yN, dN) = hilbertStep(i)
          df = df.withColumn(s"hx${i + 1}", expr(xN))
            .withColumn(s"hy${i + 1}", expr(yN))
            .withColumn(s"hd${i + 1}", expr(dN))
        }
        df.select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"), col("hd16").as("hval"))
          .repartitionByRange(8, col("hval"))
          .sortWithinPartitions("hval")
          .write.mode("overwrite").parquet(scratch)
        s.read.parquet(scratch)
          .filter(col("hval") < 1000000000L)
          .agg(count(lit(1)).as("n"), sum(col("hval")).as("sum_h"),
            min(col("hval")).as("min_h"), max(col("hval")).as("max_h"))
      },
      bench = false, // layout pass; scan throughput is covered elsewhere
      oracle = Some(hilbertOracleSql)),

    // Custom DataSourceV2 connector (GenSource.scala): a deterministic
    // generated table read through Spark's connector API with real
    // range-predicate pushdown (the id bounds narrow the GENERATION
    // interval — rows outside are never produced) and source-level
    // column pruning; the residual `val > 0.5` stays a Spark filter.
    // The row recipe is the md5 hash31 family, so DuckDB regenerates
    // the identical table from generate_series and the whole connector
    // path — partition planning, pushdown arithmetic, pruned readers —
    // is oracle-gated. Plan shape asserted in PlanSpec.
    QueryDef(
      "q_custom_source",
      (s, dir) =>
        s.read.format("graft.sources.GenSource")
          .option("rows", "100000").option("partitions", "8").load()
          .filter(col("id") >= 1000L && col("id") < 60000L && col("val") > 0.5)
          .groupBy("cat")
          .agg(
            count(lit(1)).as("n"),
            sum(col("val").cast("decimal(18,6)")).cast("double").as("sum_val"),
            min(col("id")).as("min_id"),
            max(col("id")).as("max_id"))
          .orderBy("cat"),
      Some(s"""WITH g AS (
                SELECT i AS id,
                  CAST(${hash31Sql("CAST(i AS VARCHAR)")} % 1000000 AS DOUBLE) / 1000000.0 AS val,
                  concat('c', CAST(i % 7 AS VARCHAR)) AS cat
                FROM (SELECT unnest(range(1000, 60000)) AS i) ix)
              SELECT cat, count(*) AS n,
                CAST(sum(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS sum_val,
                min(id) AS min_id, max(id) AS max_id
              FROM g WHERE val > 0.5
              GROUP BY cat ORDER BY cat""")),

    // Bucketed warehouse tables + co-located join: both fact tables are
    // written through the session catalog pre-shuffled into 8 buckets on
    // the join key (bucketBy + sortBy), so the subsequent join reads
    // bucket i against bucket i with NO exchange on either side — the
    // layout investment that converts every repeated fact-fact join on
    // the key from a full 100 TB shuffle into a local zip of buckets
    // (BucketingSpec asserts the exchange-free plan). External-table
    // paths keep the warehouse in per-process scratch; the oracle
    // computes the same aggregate from the original parquet, so the
    // bucketed write→catalog→join path must preserve every row.
    QueryDef(
      "q_bucketed_join",
      (s, dir) => {
        val scratch = scratchFor("bucket")
        s.sql("DROP TABLE IF EXISTS graft_li_bucketed")
        s.sql("DROP TABLE IF EXISTS graft_o_bucketed")
        Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_quantity")
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$scratch/li")
          .mode("overwrite").saveAsTable("graft_li_bucketed")
        Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority")
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$scratch/o")
          .mode("overwrite").saveAsTable("graft_o_bucketed")
        s.table("graft_li_bucketed")
          .join(s.table("graft_o_bucketed"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty"))
          .orderBy("o_orderpriority")
      },
      bench = false, // layout pass: the write dominates; join throughput is covered by q_join_*
      oracle = Some("""SELECT o_orderpriority, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Corrupt-input salvage scan (round-11 verdict task #4): at 100 TB,
    // truncated parquet footers and malformed rows are ROUTINE — a
    // petabyte estate always has a few bad files in flight — and an
    // engine that aborts the job on the first one doesn't run in
    // production. This operator builds a 4-shard mixed estate from
    // `events` (shards 0-2 JSON-lines via a partitionBy write, shard 3
    // parquet), PLANTS deterministic corruption (7 malformed JSON lines
    // appended into shard 1; the shard-3 parquet file truncated to half
    // — footer destroyed, whole file unreadable), then runs the audited
    // salvage scan: PERMISSIVE JSON with _corrupt_record capture, and a
    // per-read ignoreCorruptFiles=true parquet scan (the read-local
    // option, NOT the session conf — a lingering session flag would
    // silently mask real corruption in later queries on the same
    // Verify worker session). The audit reconciles salvaged rows per
    // shard against the expected counts from the source relation and
    // classifies each shard from OBSERVATION: zero salvaged with
    // nonzero expected => corrupt_file (quarantine = the whole shard's
    // expected rows), _corrupt_record rows => malformed_rows
    // (quarantine = the bad-line count), else clean. The oracle replays
    // the classification arithmetic over the intact source — the
    // salvage path must lose EXACTLY the planted rows and nothing else.
    // Scale shape: one partitionBy write + two file scans + one
    // group-by; the quarantined rows never route through the driver.
    QueryDef(
      "q_corrupt_salvage",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val scratch = scratchFor("salvage")
        val jsonDir = s"$scratch/json_estate"
        val pqDir = s"$scratch/pq_estate"
        val ev = Tables.loadEvents(s, dir).select(
          col("event_id").cast("long").as("event_id"),
          col("event_type").cast("string").as("event_type"),
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("cents"),
          pmod(col("event_id"), lit(4)).cast("int").as("shard"))
        ev.filter(col("shard") < 3)
          .write.mode("overwrite").partitionBy("shard").json(jsonDir)
        ev.filter(col("shard") === 3).drop("shard")
          .coalesce(1).write.mode("overwrite").parquet(pqDir)
        // plant the corruption — deterministic bytes, planted AFTER the
        // writes so overwrite-mode re-runs (bench passes) are idempotent
        val badShardDir = java.nio.file.Paths.get(jsonDir, "shard=1")
        java.nio.file.Files.createDirectories(badShardDir)
        val badLines = (1 to 7)
          .map(i => s"""{"event_id": $i, "event_type": "click", "cen""")
          .mkString("", "\n", "\n")
        java.nio.file.Files.write(
          badShardDir.resolve("part-99999-malformed.json"),
          badLines.getBytes("UTF-8"))
        listParquet(pqDir).foreach { f =>
          val ch = java.nio.channels.FileChannel.open(f.toPath,
            java.nio.file.StandardOpenOption.WRITE)
          try ch.truncate(math.max(1L, f.length() / 2)) finally ch.close()
        }
        // salvage scan: clean rows out, corrupt captured — never abort
        val jsonSchema = StructType(Seq(
          StructField("event_id", LongType),
          StructField("event_type", StringType),
          StructField("cents", LongType),
          StructField("_corrupt_record", StringType)))
        val salvagedJson = s.read.schema(jsonSchema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(jsonDir)
          .select(col("shard").cast("long").as("shard"), col("cents"),
            col("_corrupt_record").isNotNull.as("bad"))
        val salvagedPq = s.read
          .schema(StructType(jsonSchema.dropRight(1)))
          .option("ignoreCorruptFiles", "true")
          .parquet(pqDir)
          .select(lit(3L).as("shard"), col("cents"), lit(false).as("bad"))
        val observed = salvagedJson.unionByName(salvagedPq)
          .groupBy("shard").agg(
            count(when(!col("bad"), 1)).as("n_salvaged"),
            count(when(col("bad"), 1)).as("n_bad_rows"),
            sum(when(!col("bad"), col("cents"))).as("salvaged_cents"))
        val expected = ev.groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("n_expected"))
        // 4-row spine so the audit emits every shard even when a whole
        // shard (or the whole source) vanished
        val spine = s.range(4).select(col("id").as("shard"))
        spine.join(expected, Seq("shard"), "left")
          .join(observed, Seq("shard"), "left")
          .select(col("shard"),
            coalesce(col("n_expected"), lit(0L)).as("n_expected"),
            coalesce(col("n_salvaged"), lit(0L)).as("n_salvaged"),
            coalesce(col("n_bad_rows"), lit(0L)).as("n_bad_rows"),
            coalesce(col("salvaged_cents"), lit(0L)).as("salvaged_cents"))
          .withColumn("error_class",
            when(col("n_salvaged") === 0 && col("n_expected") > 0,
              lit("corrupt_file"))
              .when(col("n_bad_rows") > 0, lit("malformed_rows"))
              .otherwise(lit("clean")))
          .withColumn("n_quarantined",
            when(col("error_class") === "corrupt_file", col("n_expected"))
              .when(col("error_class") === "malformed_rows",
                col("n_bad_rows"))
              .otherwise(lit(0L)))
          .select("shard", "n_expected", "n_salvaged", "n_quarantined",
            "salvaged_cents", "error_class")
          .orderBy("shard")
      },
      bench = false, // write-dominated like q_bucketed_join; the scan paths it proves are benched via q_fmt_*
      oracle = Some("""WITH ev AS (
                SELECT event_id % 4 AS shard,
                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    AS cents
                FROM events),
              spine AS (SELECT unnest(range(0, 4)) AS shard),
              agg AS (
                SELECT shard, count(*) AS n_expected,
                  sum(cents) AS s_cents
                FROM ev GROUP BY shard),
              audit AS (
                SELECT sp.shard,
                  COALESCE(a.n_expected, 0) AS n_expected,
                  -- shard 3's file is truncated: ignoreCorruptFiles
                  -- drops it whole; shards 0-2 salvage every real row
                  CASE WHEN sp.shard = 3 THEN 0
                    ELSE COALESCE(a.n_expected, 0) END AS n_salvaged,
                  -- shard 1 carries the 7 planted malformed lines
                  CASE WHEN sp.shard = 1 THEN 7 ELSE 0 END AS n_bad_rows,
                  CASE WHEN sp.shard = 3 THEN 0
                    ELSE COALESCE(a.s_cents, 0) END AS salvaged_cents
                FROM spine sp LEFT JOIN agg a ON a.shard = sp.shard)
              SELECT CAST(shard AS BIGINT) AS shard,
                CAST(n_expected AS BIGINT) AS n_expected,
                CAST(n_salvaged AS BIGINT) AS n_salvaged,
                CAST(CASE
                  WHEN n_salvaged = 0 AND n_expected > 0 THEN n_expected
                  WHEN n_bad_rows > 0 THEN n_bad_rows
                  ELSE 0 END AS BIGINT) AS n_quarantined,
                CAST(salvaged_cents AS BIGINT) AS salvaged_cents,
                CASE
                  WHEN n_salvaged = 0 AND n_expected > 0
                    THEN 'corrupt_file'
                  WHEN n_bad_rows > 0 THEN 'malformed_rows'
                  ELSE 'clean' END AS error_class
              FROM audit ORDER BY shard""")))

  /** All part-*.parquet files under a local scratch dir. */
  private def listParquet(path: String): Seq[java.io.File] = {
    val d = new java.io.File(path)
    Option(d.listFiles()).fold(Seq.empty[java.io.File])(_.toSeq)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
  }

  /** One xy2d Hilbert step (s = 2^(15−i)): SQL for (hx, hy, hd) at step
    * i+1 in terms of the step-i columns — rx/ry tests inlined so no
    * lateral column aliases are needed. Quadrant code (3·rx) XOR ry is
    * written as a CASE (DuckDB's ^ is exponentiation, so the XOR is
    * spelled portably); the rotation is the standard reflect-then-swap.
    * The SAME strings build the Spark withColumn chain and the oracle's
    * CTE chain. */
  private def hilbertStep(i: Int): (String, String, String) = {
    val s = 1 << (15 - i)
    val s2 = s.toLong * s
    val (x, y, d) = (s"hx$i", s"hy$i", s"hd$i")
    val rx = s"(($x & $s) <> 0)"
    val ry = s"(($y & $s) <> 0)"
    val dN = s"$d + $s2 * (CASE WHEN NOT $rx AND NOT $ry THEN 0 " +
      s"WHEN NOT $rx THEN 1 WHEN $ry THEN 2 ELSE 3 END)"
    val xN = s"CASE WHEN $ry THEN $x WHEN $rx THEN 65535 - $y ELSE $y END"
    val yN = s"CASE WHEN $ry THEN $y WHEN $rx THEN 65535 - $x ELSE $x END"
    (xN, yN, dN)
  }

  private lazy val hilbertOracleSql: String = {
    // AS MATERIALIZED is load-bearing: every step's columns reference
    // the previous step's 3-4 times, so letting DuckDB inline the CTE
    // chain multiplies the expression tree ~3x per level — 16 levels
    // deep that is tens of millions of nodes (measured: a 47 GB
    // planner explosion). Materializing each step keeps it linear.
    val ctes = (0 until 16).map { i =>
      val (xN, yN, dN) = hilbertStep(i)
      s"""h${i + 1} AS MATERIALIZED (SELECT $xN AS hx${i + 1},
           $yN AS hy${i + 1}, $dN AS hd${i + 1} FROM h$i)"""
    }.mkString(",\n")
    s"""WITH h0 AS MATERIALIZED (
          SELECT (l_partkey & 65535) AS hx0, (l_suppkey & 65535) AS hy0,
            CAST(0 AS BIGINT) AS hd0
          FROM lineitem),
        $ctes
        SELECT count(*) AS n, CAST(sum(hd16) AS BIGINT) AS sum_h,
          min(hd16) AS min_h, max(hd16) AS max_h
        FROM h16 WHERE hd16 < 1000000000"""
  }

  /** DuckDB SQL for the 16+16-bit Morton interleave of two int columns
    * (same shift arithmetic as the Spark expression). */
  private def zOrderSqlExpr(a: String, b: String): String =
    "CAST(" + (0 until 16).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ") + " AS BIGINT)"

  /** Scratch roots for the layout specs (package-visible so
    * AggFormatsSpec can count files after running the registry query). */
  private[graft] def scratchRoot(fmt: String): String = scratchFor(fmt)
}
