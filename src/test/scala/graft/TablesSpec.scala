package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tables' corpus-metadata memo: a split count or row count must follow
  * the frame and the files it was measured on, never a shared or stale
  * key. */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Write `rows` random longs as `dir/t.parquet/data.parquet`, always
    * under that one file name. */
  private def writeTable(dir: Path, rows: Long): Unit = {
    val tmp = dir.resolve(s"tmp_$rows")
    spark.range(rows).selectExpr("id", "hash(id) * id AS v").coalesce(1)
      .write.parquet(tmp.toString)
    val ls = Files.list(tmp)
    val file =
      try ls.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally ls.close()
    val table = Files.createDirectories(dir.resolve("t.parquet"))
    Files.move(file, table.resolve("data.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("parallel measures each frame without input files on its own") {
    val p = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 100, 1, p).toDF().localCheckpoint()
    assert(Tables.parallel(spark, wide).rdd.getNumPartitions === p)
    // a one-partition frame must not reuse the wide frame's count
    val narrow = spark.range(0, 100, 1, 1).toDF().localCheckpoint()
    assert(Tables.parallel(spark, narrow).rdd.getNumPartitions === p)
  }

  test("parallel re-measures a table rewritten in place under the same file name") {
    val dir = Files.createTempDirectory("graft_tables_splits")
    // small splits so that the larger rewrite scans as several of them
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    val p = s.sparkContext.defaultParallelism
    writeTable(dir, 100)
    val small = Tables.load(s, dir.toString, "t")
    assert(small.rdd.getNumPartitions < p)
    assert(Tables.parallel(s, small).rdd.getNumPartitions === p)
    writeTable(dir, 100000)
    val large = Tables.load(s, dir.toString, "t")
    val splits = large.rdd.getNumPartitions
    assert(splits > p)
    assert(Tables.parallel(s, large).rdd.getNumPartitions === splits)
  }

  test("rowCount re-counts a table rewritten in place") {
    val dir = Files.createTempDirectory("graft_tables_rows")
    writeTable(dir, 100)
    assert(Tables.rowCount(spark, dir.toString, "t") === 100L)
    writeTable(dir, 250)
    assert(Tables.rowCount(spark, dir.toString, "t") === 250L)
  }
}
