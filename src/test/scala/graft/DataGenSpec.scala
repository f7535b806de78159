package graft

import java.nio.file.Files

import org.apache.spark.JobCount
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.DataGen

/** Reference-parity generator: schema, value domains, write/read
  * round-trip, idempotent discovery, and the distinct pipeline
  * (reference main.rs:122-164, 225-282). */
class DataGenSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("schema matches the reference's 11 columns and types") {
    val df = DataGen.testTableDF(spark, 10)
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    DataGen.ColumnsABC.foreach(c => assert(fields(c) === DoubleType))
    assert(fields("D") === BooleanType)
    DataGen.StringCols.foreach(c => assert(fields(c) === StringType))
    assert(df.schema.fields.length === 11)
  }

  test("value domains: doubles in [0,1), strings 10-char alphanumeric") {
    val rows = DataGen.testTableDF(spark, 1000).collect()
    rows.foreach { r =>
      Seq("A", "B", "C").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v < 1.0)
      }
      DataGen.StringCols.foreach { c =>
        val s = r.getAs[String](c)
        assert(s.length === 10)
        assert(s.forall(_.isLetterOrDigit), s"non-alnum in $s")
      }
    }
  }

  test("generation is deterministic and partition-independent") {
    val a = DataGen.testTableDF(spark, 100).collect().map(_.toString).sorted
    val b = DataGen.testTableDF(spark, 100).repartition(7)
      .collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("find-or-generate writes parquet once, then reuses it") {
    val dir = Files.createTempDirectory("graft_gen").toString
    DataGen.findOrGenerate(spark, dir, numFiles = 2, rowsPerFile = 500)
    val files = DataGen.findParquet(dir)
    assert(files.nonEmpty)
    DataGen.findOrGenerate(spark, dir, numFiles = 2, rowsPerFile = 500)
    assert(DataGen.findParquet(dir) === files) // unchanged: no regeneration
    val df = DataGen.loadTestTable(spark, dir, persist = false)
    assert(df.count() === 1000)
    assert(DataGen.distinctQuery(spark).rdd.getNumPartitions === 1)
  }

  test("a persisted test_table is served from memory and outlives a scoped query") {
    val dir = Files.createTempDirectory("graft_loaded").toString
    DataGen.generate(spark, dir, numFiles = 2, rowsPerFile = 500)
    val df = DataGen.loadTestTable(spark, dir, persist = true)
    val rdd = df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    val q = DataGen.distinctQuery(spark)
    val n = Tables.scoped(q.count())
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), plan)
    assert(plan.contains("Scan ExistingRDD"), plan)
    val expected = DataGen.testTableDF(spark, 1000)
    assert(n === expected.select("A", "B", "C", "D", "E").distinct().count())
    assert(spark.table("test_table").collect().map(_.toString).sorted.toSeq ===
      expected.collect().map(_.toString).sorted.toSeq)
  }

  test("a second load of the same files infers no schema") {
    val dir = Files.createTempDirectory("graft_reload").toString
    DataGen.generate(spark, dir, numFiles = 2, rowsPerFile = 500)
    val sc = spark.sparkContext
    def inferences(): Int =
      JobCount.jobs(sc)(DataGen.loadTestTable(spark, dir, persist = true))
        .count(_._1.startsWith("parquet at"))
    assert(inferences() >= 1)
    assert(inferences() === 0)
  }

  test("distinct pipeline: |distinct| <= |input| and idempotent") {
    // Property over a seeded sample of sizes (no scalatest-scalacheck
    // bridge available offline).
    val sizes = org.scalacheck.Gen.choose(1L, 400L)
    val seed = org.scalacheck.rng.Seed(42L)
    val ns = Iterator.iterate(seed)(_.next).take(8).toSeq
      .flatMap(s => sizes.apply(org.scalacheck.Gen.Parameters.default, s))
    assert(ns.nonEmpty)
    ns.foreach { n =>
      val df = DataGen.testTableDF(spark, n).select("A", "B", "C", "D", "E")
      val d = df.distinct()
      val dc = d.count()
      assert(dc <= n)
      assert(d.distinct().count() === dc)
    }
  }

  test("distinct of a union equals distinct of distinct inputs unioned") {
    val x = DataGen.testTableDF(spark, 200, seed = 1).select("A", "D", "E")
    val y = DataGen.testTableDF(spark, 200, seed = 2).select("A", "D", "E")
    val lhs = x.union(y).distinct().count()
    val rhs = x.distinct().union(y.distinct()).distinct().count()
    assert(lhs === rhs)
  }
}
