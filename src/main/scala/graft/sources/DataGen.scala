package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Reference-parity data generation and table registration.
  *
  * The reference generates NUM_FILES=7 parquet files x ROWS_PER_FILE=5M
  * rows of an 11-column schema — A,B,C Float64 uniform [0,1); D Boolean;
  * E..K 10-char alphanumeric Utf8 (reference main.rs:27-29, 233-245,
  * 268-282) — then registers the directory as SQL table `test_table` with
  * a `.parquet` extension filter (main.rs:131-144) and serves scans from
  * memory (main.rs:205-223).
  *
  * Spark-first design: values are column expressions over spark.range —
  * generation is distributed and never materializes driver-side arrays
  * (100 TB safe). Values are hash-seeded per row id, so generation is
  * deterministic and partition-count-independent (unlike rand(seed)).
  */
object DataGen {

  val ColumnsABC = Seq("A", "B", "C")
  val StringCols = Seq("E", "F", "G", "H", "I", "J", "K")

  /** Uniform-ish double in [0, 1) from a 64-bit hash of (id, tag, seed). */
  private def hashedDouble(tag: String, seed: Long) =
    (pmod(xxhash64(col("id"), lit(tag), lit(seed)), lit(1000000000L))
      .cast("double") / 1e9)

  /** 10-char alphanumeric string: base64 of sha2 bytes with the three
    * non-alphanumeric base64 chars translated out (reference
    * main.rs:277-279 uses fastrand::alphanumeric x 10). */
  private def alnum10(tag: String, seed: Long) =
    substring(
      translate(
        base64(unhex(sha2(concat_ws("|", col("id"), lit(tag), lit(seed)), 256))),
        "+/=", "xyz"),
      1, 10)

  /** The reference's 11-column test_table as a distributed DataFrame. */
  def testTableDF(spark: SparkSession, rows: Long, seed: Long = 42L): DataFrame = {
    val base = spark.range(rows)
    val cols =
      ColumnsABC.map(c => hashedDouble(c, seed).as(c)) ++
        Seq((pmod(xxhash64(col("id"), lit("D"), lit(seed)), lit(2L)) === 0L).as("D")) ++
        StringCols.map(c => alnum10(c, seed).as(c))
    base.select(cols: _*)
  }

  /** Write `numFiles` parquet files under `dir` (reference main.rs:249-262
    * writes one 5M-row batch per file; here one task per file). */
  def generate(spark: SparkSession, dir: String, numFiles: Int,
      rowsPerFile: Long, seed: Long = 42L): Unit =
    testTableDF(spark, numFiles * rowsPerFile, seed)
      .repartition(numFiles)
      .write.mode("overwrite").parquet(dir)

  /** Reference main.rs:187-203: list *.parquet under dir. */
  def findParquet(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else Files.walk(p).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
      .map(_.toString).toSeq.sorted
  }

  /** Reference main.rs:166-203: generate only if no parquet present. */
  def findOrGenerate(spark: SparkSession, dir: String, numFiles: Int,
      rowsPerFile: Long): Unit = {
    if (findParquet(dir).isEmpty) {
      generate(spark, dir, numFiles, rowsPerFile)
      require(findParquet(dir).nonEmpty, s"generation produced no parquet in $dir")
    }
  }

  /** Register dir as `test_table`, extension-filtered (reference
    * main.rs:131-144), and, with `persist`, served from memory: the
    * reference copies the files into an in-memory object store once,
    * before any query runs (main.rs:205-223). Here that copy is one
    * eager `Tables.materialize` of the scanned rows, stored as rows
    * (MEMORY_AND_DISK: a table larger than storage memory spills to
    * local disk instead of being re-read from Parquet). Its blocks stay
    * stored while the view is registered; call it outside any
    * `Tables.scoped`, which would release them when it closes. The
    * schema is inferred once per file set
    * (`Tables.parquetSchema`), so a second load launches no inference
    * job. */
  def loadTestTable(spark: SparkSession, dir: String,
      persist: Boolean = true): DataFrame = {
    val parquetOnly = Map("pathGlobFilter" -> "*.parquet")
    val read = spark.read.options(parquetOnly)
      .schema(Tables.parquetSchema(spark, dir, parquetOnly)).parquet(dir)
    val df = if (persist) Tables.materialize(read) else read
    df.createOrReplaceTempView("test_table")
    df
  }

  /** The reference's one query (main.rs:122) + CoalescePartitions wrapper
    * (main.rs:150-152): DISTINCT over 5 mixed-type columns, single output
    * partition. */
  def distinctQuery(spark: SparkSession): DataFrame =
    spark.sql("""SELECT DISTINCT A, B, C, D, E FROM test_table""").coalesce(1)
}
