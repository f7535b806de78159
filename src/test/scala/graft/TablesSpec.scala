package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

import scala.jdk.CollectionConverters._

import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, count, lit, sum, udf, when}
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Signals that a task of the cancelled action in TablesSpec has started;
  * a top-level object, so the task reaches this instance, not a copy. */
private object SlowTask {
  @volatile var started = new CountDownLatch(1)
}

/** Tables' corpus-metadata memo: a schema, split count or row count must
  * follow the frame, the files and the session confs it was measured
  * on, never a shared or stale key. Its materialization: a checkpoint
  * keeps its caller's call site and lives as long as its scope. */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Write `rows` rows of `cols` (SQL expressions over `id`; by default
    * random longs) as `dir/t.parquet/data.parquet`, always under that
    * one file name. */
  private def writeTable(dir: Path, rows: Long,
      cols: Seq[String] = Seq("id", "hash(id) * id AS v")): Unit = {
    val tmp = Files.createTempDirectory(dir, "tmp").resolve("out")
    spark.range(rows).selectExpr(cols: _*).coalesce(1)
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

  test("parallel re-measures a table after the file-split confs change") {
    val dir = Files.createTempDirectory("graft_tables_split_confs")
    writeTable(dir, 100000)
    val s = spark.newSession()
    val p = s.sparkContext.defaultParallelism
    val whole = Tables.load(s, dir.toString, "t")
    assert(whole.rdd.getNumPartitions < p)
    assert(Tables.parallel(s, whole).rdd.getNumPartitions === p)
    s.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    val split = Tables.load(s, dir.toString, "t")
    val splits = split.rdd.getNumPartitions
    assert(splits > p)
    assert(Tables.parallel(s, split).rdd.getNumPartitions === splits)
  }

  test("load gives every corpus table the schema parquet inference gives") {
    val s = spark.newSession()
    Tables.names.foreach { n =>
      // the raw events read needs the nanos conf GraftSession.local sets
      val loaded = Tables.load(s, TestSpark.sf, n).schema
      val raw = s.read.parquet(s"${TestSpark.sf}/$n.parquet")
      assert(Tables.fileSchema(s, TestSpark.sf, n) === raw.schema, n)
      val expected =
        if (n == "events") raw.withColumn("ts", Tables.normTsCol(raw.schema))
        else raw
      assert(loaded === expected.schema, n)
    }
  }

  test("a second load of the same files launches no Spark job") {
    val dir = Files.createTempDirectory("graft_tables_schema").toString
    writeTable(Path.of(dir), 100)
    val sc = spark.sparkContext
    // fresh sessions: the shared one may carry a keyed conf set earlier
    val s = spark.newSession()
    assert(JobCount(sc)(Tables.load(s, dir, "t")) >= 1)
    assert(JobCount(sc)(Tables.load(s, dir, "t")) === 0)
    assert(JobCount(sc)(Tables.load(spark.newSession(), dir, "t")) === 0)
  }

  test("a table rewritten in place with other columns is inferred again") {
    val dir = Files.createTempDirectory("graft_tables_rewrite")
    writeTable(dir, 100)
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq === Seq("id", "v"))
    writeTable(dir, 100, Seq("id", "CAST(id AS STRING) AS w", "id * 2 AS x"))
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq ===
      Seq("id", "w", "x"))
  }

  test("flipping a schema-inference conf infers again") {
    // a raw binary column, without the Spark schema Spark's own writer
    // stores in the footer (which would override binaryAsString)
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_tables_binary")
    val file = Files.createDirectories(dir.resolve("t.parquet"))
      .resolve("data.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required binary b; }")
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(schema).build()
    try (0 until 3).foreach { i =>
      w.write(groups.newGroup().append("id", i.toLong).append("b", s"v$i"))
    } finally w.close()
    val s = spark.newSession()
    def bType = Tables.load(s, dir.toString, "t").schema("b").dataType
    s.conf.set("spark.sql.parquet.binaryAsString", "false")
    assert(bType === BinaryType)
    s.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(bType === StringType)
    s.conf.set("spark.sql.parquet.binaryAsString", "false")
    assert(bType === BinaryType)
  }

  test("checkpointMeasured returns several metrics, in order, from one job") {
    val f0 = Tables.observeFallbacks
    val sc = spark.sparkContext
    var measured: (DataFrame, Seq[Long]) = null
    val jobs = JobCount(sc) {
      measured = Tables.checkpointMeasured(spark.range(100).toDF(),
        count(lit(1)), sum(when(col("id") % 2 === 0, 1L).otherwise(0L)),
        sum(when(col("id") < 0, 1L)))
    }
    assert(jobs === 1)
    assert(measured._2 === Seq(100L, 50L, 0L))
    assert(measured._1.count() === 100L)
    assert(Tables.observeFallbacks - f0 === 0L)
  }

  private def rddId(df: DataFrame): Int =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  test("a scope frees what its body materialized, on return and on a throw") {
    var id = -1
    val n = Tables.scoped {
      val m = Tables.materialize(spark.range(100).toDF())
      id = rddId(m)
      assert(persisted(id))
      m.count()
    }
    assert(n === 100L)
    assert(!persisted(id))
    val e = intercept[IllegalStateException] {
      Tables.scoped {
        id = rddId(Tables.materialize(spark.range(10).toDF()))
        assert(persisted(id))
        throw new IllegalStateException("planted")
      }
    }
    assert(e.getMessage === "planted")
    assert(!persisted(id))
  }

  test("a scope whose action is cancelled by job tag frees its checkpoint") {
    val sc = spark.sparkContext
    val tag = "tables-spec-cancel"
    SlowTask.started = new CountDownLatch(1)
    val slow = udf { (x: Long) =>
      SlowTask.started.countDown(); Thread.sleep(50); x
    }
    @volatile var id = -1
    @volatile var thrown: Throwable = null
    val worker = new Thread(() => {
      sc.addJobTag(tag)
      sc.setInterruptOnCancel(true)
      try Tables.scoped {
        val m = Tables.materialize(spark.range(0, 400, 1, 4).toDF())
        id = rddId(m)
        m.select(slow(col("id"))).write.format("noop").mode("overwrite").save()
      } catch { case t: Throwable => thrown = t }
      finally sc.clearJobTags()
    })
    worker.start()
    assert(SlowTask.started.await(60, java.util.concurrent.TimeUnit.SECONDS))
    sc.cancelJobsWithTag(tag)
    worker.join(60000)
    assert(!worker.isAlive)
    assert(thrown != null, "the action ran to completion, not cancelled")
    assert(id >= 0 && !persisted(id))
  }

  test("concurrent scopes on two threads each free only their own RDDs") {
    val ids = new ConcurrentHashMap[String, Int]()
    val seen = new ConcurrentHashMap[String, Boolean]()
    val errors = new ConcurrentHashMap[String, Throwable]()
    val bothMaterialized = new CountDownLatch(2)
    val firstClosed = new CountDownLatch(1)
    def worker(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => errors.put(name, e) })
      t.start(); t
    }
    val first = worker("first") {
      Tables.scoped {
        ids.put("first", rddId(Tables.materialize(spark.range(50).toDF())))
        bothMaterialized.countDown()
        bothMaterialized.await()
      }
      firstClosed.countDown()
    }
    val second = worker("second") {
      Tables.scoped {
        val m = Tables.materialize(spark.range(60).toDF())
        ids.put("second", rddId(m))
        bothMaterialized.countDown()
        bothMaterialized.await()
        firstClosed.await()
        seen.put("first after its scope", persisted(ids.get("first")))
        seen.put("second in its scope", persisted(ids.get("second")))
        seen.put("second readable", m.count() == 60L)
      }
    }
    Seq(first, second).foreach(_.join(60000))
    assert(errors.isEmpty, errors)
    assert(seen.get("first after its scope") === false)
    assert(seen.get("second in its scope") === true)
    assert(seen.get("second readable") === true)
    assert(!persisted(ids.get("first")) && !persisted(ids.get("second")))
  }

  test("materialize keeps the calling file as the checkpoint's call site") {
    val sc = spark.sparkContext
    // an RDD prints as `<class>[<id>] at <creation site>`
    def site(df: DataFrame): String =
      df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.toString
        .split("] at ", 2)(1)
    Tables.scoped {
      val direct = Tables.materialize(spark.range(5).toDF())
      assert(site(direct).startsWith("localCheckpoint at TablesSpec.scala:"),
        site(direct))
      val chained = spark.range(5).toDF().transform(Tables.materialize)
      assert(site(chained).startsWith("localCheckpoint at TablesSpec.scala:"),
        site(chained))
      // through checkpointMeasured, the site is still its caller's
      val (measured, _) =
        Tables.checkpointMeasured(spark.range(5).toDF(), count(lit(1)))
      assert(site(measured).startsWith("localCheckpoint at TablesSpec.scala:"),
        site(measured))
      // the caller's own call-site properties are back as they were
      assert(sc.getLocalProperty("callSite.short") === null)
      assert(sc.getLocalProperty("callSite.long") === null)
      // an already-materialized frame is returned as it is, with no job
      var again: DataFrame = null
      assert(JobCount(sc) { again = Tables.materialize(direct) } === 0)
      assert(again eq direct)
    }
  }

  // Operator code materializes without a keyed repartition in front
  // (RegistrySpec guards it) because Spark keeps no partitioning across
  // the checkpoint under adaptive query execution. Should a Spark
  // upgrade start keeping it, this fails: revisit that rule.
  test("a materialized frame carries no partitioning: a keyed consumer exchanges again") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    Tables.scoped {
      // an explicit count, which adaptive execution does not coalesce,
      // so the checkpoint holds several partitions
      val m = Tables.materialize(spark.range(1000)
        .select((col("id") % 7).as("k"), col("id")).repartition(4, col("k")))
      val r = m.queryExecution.logical.asInstanceOf[LogicalRDD]
      assert(r.rdd.getNumPartitions === 4)
      assert(r.outputPartitioning.isInstanceOf[UnknownPartitioning],
        r.outputPartitioning)
      val plan = m.groupBy("k").count().queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(plan.collect { case e: ShuffleExchangeExec => e }.nonEmpty,
        s"no exchange over the checkpoint:\n$plan")
    }
  }
}
