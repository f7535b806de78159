package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamOps

/** Streaming parity with batch, multimodal decode, and cancellation. */
class StreamCancelSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("stream_hourly equals the batch event aggregation") {
    val streamed = StreamOps.hourlyByType(spark, TestSpark.sf)
      .collect().map(_.toString).sorted.toSeq
    val batch = Registry.byName("q_events_hourly").run(spark, TestSpark.sf)
      .withColumnRenamed("hour", "hour")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
  }

  test("mm_decode is deterministic and covers every document") {
    val docs = Tables.load(spark, TestSpark.sf, "documents").count()
    val a = Registry.byName("mm_decode").run(spark, TestSpark.sf).collect()
    val b = Registry.byName("mm_decode").run(spark, TestSpark.sf).collect()
    assert(a.length === docs)
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    val formats = a.map(_.getAs[String]("format")).toSet
    assert(formats.subsetOf(Set("png", "jpeg", "wav")))
  }

  test("stream_sessionize equals the batch window sessionization") {
    val streamed = StreamOps.sessionizeStream(spark, TestSpark.sf)
      .collect().map(_.toString).sorted.toSeq
    val batch = Registry.byName("q_sessionize").run(spark, TestSpark.sf)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
  }

  test("sessionization state carries across micro-batches") {
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.operators.Analytics.{Ev, SessionRow}
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = input.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[StreamOps.SessState, SessionRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(StreamOps.sessionizeGroup)
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_xbatch_sessions").start()
    try {
      input.addData(Ev(1L, 7L, 0L), Ev(2L, 7L, 10L * 1000000L))
      q.processAllAvailable()
      // 2nd batch: 4000s later — past the 30-min gap, same user
      input.addData(Ev(3L, 7L, 4000L * 1000000L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("graft_xbatch_sessions")
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("session_idx"))
      .toMap
    assert(out(1L) === 0L && out(2L) === 0L)
    assert(out(3L) === 1L) // new session, state remembered across batches
  }

  test("cancellation latency is finite and bounded") {
    val li = Tables.load(spark, TestSpark.sf, "lineitem")
    li.persist(); li.count()
    val r = Cancel.runWithCancel(spark, waitMs = 50,
      q => { q.sql("SELECT 1").count(); li.distinct().count(); () })
    li.unpersist()
    assert(r.cancelMs >= 0 && r.cancelMs < 30000,
      s"cancel took ${r.cancelMs} ms")
  }

  test("cancelling one tag leaves concurrent queries unperturbed") {
    // the multi-tenant isolation property (round-7 verdict task #7):
    // 3 neighbor queries run under their own job tags while the victim
    // is cancelled mid-flight — neighbors must COMPLETE successfully
    // and the victim's cancel latency must stay bounded
    val li = Tables.load(spark, TestSpark.sf, "lineitem")
    li.persist(); li.count()
    val r = Cancel.runConcurrentCancel(spark, waitMs = 30,
      q => { li.distinct().count(); () }, nOthers = 3,
      neighbor = q => {
        val n = li.groupBy("l_returnflag").count().count()
        assert(n > 0)
      })
    li.unpersist()
    assert(r.victim.cancelMs >= 0 && r.victim.cancelMs < 30000,
      s"victim cancel took ${r.victim.cancelMs} ms")
    assert(r.othersOk === Seq(true, true, true),
      s"neighbors must complete despite the victim's cancellation: $r")
    r.otherWallMs.foreach(w => assert(w < 60000, s"neighbor wall $w ms"))
  }

  test("markdown report renders the reference's table shape") {
    val table = Cancel.markdownTable(Seq(Cancel.Result(10, 17), Cancel.Result(11, 317)))
    assert(table.startsWith("| Wait time (ms) | Cancel duration (ms) |"))
    assert(table.linesIterator.size === 4)
  }

  test("watermark drops late rows and reports them in state metrics") {
    // two micro-batches through a MemoryStream: batch 1 advances the
    // watermark to (max ts - 10 min); batch 2 delivers an event an hour
    // older, which the windowed aggregation must DROP (and account for
    // in numRowsDroppedByWatermark) — the state-eviction contract that
    // bounds memory at 100 TB rates.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val sink = "graft_late_drop_sink"
    val q = ms.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("k"))
      .count()
      .writeStream.outputMode("update").format("memory").queryName(sink).start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    try {
      ms.addData((t(0), "a"), (t(60), "a")) // watermark → 10:50
      q.processAllAvailable()
      ms.addData((t(5), "late"))            // 10:05 ≪ watermark: dropped
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1, "late row was not dropped by the watermark")
      val ks = spark.table(sink).select("k").as[String].collect()
      assert(!ks.contains("late"), "late row leaked into the result")
    } finally q.stop()
  }

  test("left-outer interval join null-pads only after the watermark passes") {
    // purchase 201 (user 2) has no clicks: it must NOT appear while the
    // watermark could still admit a matching click, and must appear
    // null-padded once later data on BOTH sides (the query watermark is
    // the min across inputs) pushes the watermark past its join window.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + min * 60000L)
    val clicksIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val purchIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val clicks = clicksIn.toDF().toDF("c_user", "c_ts", "c_id")
      .withWatermark("c_ts", "1 hour")
    val purchases = purchIn.toDF().toDF("p_user", "p_ts", "p_id")
      .withWatermark("p_ts", "2 hours")
    val sink = "graft_loj_spec"
    val q = purchases.join(clicks,
        expr("""p_user = c_user AND
                c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"""),
        "leftOuter")
      .writeStream.outputMode("append").format("memory").queryName(sink)
      .start()
    try {
      clicksIn.addData((1L, ts(0), 100L))
      purchIn.addData((1L, ts(30), 200L), (2L, ts(40), 201L))
      q.processAllAvailable()
      val r1 = spark.table(sink).collect()
      assert(r1.map(_.getAs[Long]("p_id")).toSet === Set(200L),
        "only the matched purchase may emit before the watermark passes")
      // unrelated users far in the future advance both watermarks
      clicksIn.addData((8L, ts(600), 101L))
      purchIn.addData((9L, ts(600), 202L))
      q.processAllAvailable()
      val padded = spark.table(sink).collect()
        .filter(_.getAs[Long]("p_id") == 201L)
      assert(padded.length === 1, "clickless purchase must null-pad exactly once")
      assert(padded.head.isNullAt(padded.head.fieldIndex("c_id")),
        "padded row must carry a null click side")
    } finally q.stop()
  }

  test("ttl sessionizer emits on timeout and evicts the state row") {
    // user 7's open session must NOT emit while the watermark could
    // still extend it; once later data advances the watermark past
    // lastEvent + gap, the event-time timeout fires, the closed
    // session emits, and the state row is REMOVED (store shrinks) —
    // the eviction contract that bounds state at production rates.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + min * 60000L)
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val sink = "graft_sess_ttl_spec"
    val q = in.toDF().toDF("event_id", "user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[StreamOps.EvWithTime]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[StreamOps.OpenSession, StreamOps.ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        StreamOps.sessionTtlGroup)
      .writeStream.outputMode("append").format("memory").queryName(sink)
      .start()
    try {
      in.addData((1L, 7L, ts(0)), (2L, 7L, ts(10)))
      q.processAllAvailable()
      assert(spark.table(sink).isEmpty,
        "open session must not emit before its timeout")
      in.addData((3L, 99L, ts(600))) // watermark → 19:50, far past 10:40
      q.processAllAvailable()
      val rows = spark.table(sink).as[StreamOps.ClosedSession].collect()
        .filter(_.user_id == 7L)
      assert(rows.length === 1, "exactly one closed session for user 7")
      assert(rows.head.n_events === 2)
      assert(rows.head.end_us - rows.head.start_us ===
        10L * 60000000L + graft.operators.Analytics.SessionGapUs)
      val lastState = q.recentProgress.last.stateOperators.head
      assert(lastState.numRowsRemoved >= 1 || lastState.numRowsTotal <= 2,
        "timed-out session state was not evicted")
    } finally q.stop()
  }

  test("ttl sessionizer runs on the RocksDB state store provider") {
    // the HDFS-backed default keeps state in executor heap; RocksDB is
    // the provider a 100 TB deployment uses (state spills to local
    // disk, bounded memory). Same handler, same emissions — and the
    // progress metrics prove RocksDB actually backed the store.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(min: Int) = new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + min * 60000L)
      val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val sink = "graft_sess_rocksdb_spec"
      val q = in.toDF().toDF("event_id", "user_id", "ts")
        .withWatermark("ts", "10 minutes")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("ts"))
        .as[StreamOps.EvWithTime]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[StreamOps.OpenSession, StreamOps.ClosedSession](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
          StreamOps.sessionTtlGroup)
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .start()
      try {
        in.addData((1L, 7L, ts(0)), (2L, 7L, ts(10)))
        q.processAllAvailable()
        in.addData((3L, 99L, ts(600)))
        q.processAllAvailable()
        val rows = spark.table(sink).as[StreamOps.ClosedSession].collect()
          .filter(_.user_id == 7L)
        assert(rows.length === 1 && rows.head.n_events === 2,
          "RocksDB-backed run must emit the same closed session")
        import scala.jdk.CollectionConverters._
        val custom = q.recentProgress.flatMap(_.stateOperators)
          .flatMap(_.customMetrics.keySet.asScala)
        assert(custom.exists(_.toLowerCase.contains("rocksdb")),
          s"state store was not RocksDB-backed: ${custom.distinct.mkString(",")}")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("ttl paragraph gate evicts expired state and re-admits past the TTL") {
    // batch 1: paragraph P emits (first writer). batch 2: P again
    // inside the TTL — suppressed, state refreshed. batch 3: unrelated
    // data advances the watermark past lastSeen+TTL — P's state row is
    // EVICTED (store shrinks: numRowsTotal drops). batch 4: P again —
    // RE-emits, proving the gate forgot it. This is the state-bound
    // contract that lets the gate run continuously at 100 TB rates.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1704067200000000L
    def ts(min: Long) = new java.sql.Timestamp((t0 + min * 60000000L) / 1000L)
    val in = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val sink = "graft_para_ttl_spec"
    val q = in.toDF().toDF("doc_id", "p_idx", "para", "ts")
      .withWatermark("ts", "1 minute")
      .as[StreamOps.ParaOccT]
      .groupByKey(_.para)
      .flatMapGroupsWithState[Long, StreamOps.ParaOccT](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        StreamOps.paraGateTtl)
      .writeStream.outputMode("update").format("memory").queryName(sink)
      .start()
    try {
      def emitted() = spark.table(sink).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("para"))).toSeq
      in.addData((1L, 0L, "dup para", ts(0)))
      q.processAllAvailable()
      assert(emitted() === Seq((1L, "dup para")), "first occurrence must emit")
      in.addData((10L, 0L, "dup para", ts(10))) // 10 min later — inside TTL
      q.processAllAvailable()
      assert(emitted() === Seq((1L, "dup para")), "in-TTL repeat must be suppressed")
      val before = q.recentProgress.last.stateOperators.head.numRowsTotal
      // unrelated paragraph far in the future: watermark passes 10min+TTL
      in.addData((500L, 0L, "other para", ts(500)))
      q.processAllAvailable()
      val after = q.recentProgress.last.stateOperators.head.numRowsTotal
      assert(after <= before,
        s"expired paragraph state not evicted: $before -> $after")
      in.addData((510L, 0L, "dup para", ts(510))) // past the TTL
      q.processAllAvailable()
      assert(emitted().toSet === Set((1L, "dup para"), (500L, "other para"),
        (510L, "dup para")), "post-TTL repeat must re-emit")
    } finally q.stop()
  }

  test("ttl band bucket pairs only within the TTL window and evicts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1704067200000000L
    def ts(min: Long) = new java.sql.Timestamp((t0 + min * 60000000L) / 1000L)
    val in = MemoryStream[(Int, String, Long, java.sql.Timestamp)]
    val sink = "graft_band_ttl_spec"
    val q = in.toDF().toDF("band_id", "band_key", "doc_id", "ts")
      .withWatermark("ts", "1 minute")
      .as[StreamOps.BandDocT]
      .groupByKey(b => (b.band_id, b.band_key))
      .flatMapGroupsWithState[Seq[(Long, Long)], StreamOps.CandPair](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        StreamOps.bandBucketTtl)
      .writeStream.outputMode("update").format("memory").queryName(sink)
      .start()
    try {
      def pairs() = spark.table(sink).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
      in.addData((0, "k", 1L, ts(1)), (0, "k", 50L, ts(50)))
      q.processAllAvailable()
      assert(pairs() === Set((1L, 50L)), "in-window collision must pair")
      val before = q.recentProgress.last.stateOperators.head.numRowsTotal
      // doc 500 collides on the same band key but is 450 min after doc
      // 50 — far past the 100-min TTL: no pair, and the watermark it
      // carries evicts the stale bucket occupants
      in.addData((0, "k", 500L, ts(500)))
      q.processAllAvailable()
      assert(pairs() === Set((1L, 50L)),
        "out-of-TTL collision must not pair")
      in.addData((0, "k", 520L, ts(520))) // within TTL of doc 500
      q.processAllAvailable()
      assert(pairs() === Set((1L, 50L), (500L, 520L)))
      val after = q.recentProgress.last.stateOperators.head.numRowsTotal
      assert(after <= before,
        s"expired bucket state not evicted: $before -> $after")
    } finally q.stop()
  }

  test("ttl sessionizer closes trailing sessions on an int64-NANOS corpus") {
    // the driver has shipped events.ts both as timestamp[us] and as
    // int64 nanos; the sentinel row must round-trip through the
    // CORPUS's physical type. A timestamp->long CAST yields epoch
    // SECONDS, which the ns-normalizer divides by 1000 — the sentinel
    // lands in ~1970, the watermark never advances, and every TRAILING
    // session is silently withheld. This pins the LongType branch.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nsevents").toString
    val t0 = 1704103200000000L // 2024-01-01 10:00:00 UTC, micros
    def ns(min: Long) = (t0 + min * 60000000L) * 1000L
    val rows = Seq(
      (1L, ns(0), 1L, "click", 0.0, ""),
      (2L, ns(10), 1L, "click", 0.0, ""),
      (3L, ns(120), 1L, "click", 0.0, ""), // past the 30-min gap
      (4L, ns(5), 2L, "view", 0.0, ""))
    val scratch = s"$dir/scratch"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(scratch)
    val part = new java.io.File(scratch).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val out = StreamOps.sessionizeTtl(spark, dir)
      .withColumn("start_us", unix_micros(col("session_start")))
      .withColumn("end_us", unix_micros(col("session_end")))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_events")))
    val gap = graft.operators.Analytics.SessionGapUs
    def us(min: Long) = t0 + min * 60000000L
    assert(out.toSet === Set(
      (1L, us(0), us(10) + gap, 2L), // closed in-corpus by event 3
      (1L, us(120), us(120) + gap, 1L), // trailing — needs the sentinel
      (2L, us(5), us(5) + gap, 1L))) // trailing — needs the sentinel
  }

  test("file-sink stream resumes from checkpoint exactly-once") {
    // stop → new data → restart with the same checkpoint: the restarted
    // query must process ONLY the new files (offset log) and the file
    // sink must commit without duplicating chunk 1 (sink metadata log) —
    // the recovery contract a 100 TB continuous ingest depends on.
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val ev = Tables.load(spark, TestSpark.sf, "events")
      .select("event_id", "user_id", "event_type")
    ev.filter(col("event_id") % 2 === 0).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val n1 = spark.read.parquet(out).count()
    ev.filter(col("event_id") % 2 =!= 0).write.mode("append").parquet(in)
    runOnce()
    val outDf = spark.read.parquet(out)
    val total = ev.count()
    assert(n1 < total, "first run should only see chunk 1")
    assert(outDf.count() === total, "restart lost or duplicated rows")
    assert(outDf.select("event_id").distinct().count() === total,
      "restart duplicated event ids")
  }

  test("full-outer interval join = left form's purchase side + real orphan clicks") {
    val full = Registry.byName("stream_interval_join_full")
      .run(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val purchaseSide = full.filter(_._1 == "purchase")
      .map { case (_, id, n) => (id, n) }.sortBy(_._1)
    val left = Registry.byName("stream_interval_join_left")
      .run(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // the purchase half of the FULL join is exactly the LEFT join
    assert(purchaseSide.toSeq === left.toSeq)
    // and the extra half is non-empty: clicks no purchase window claimed,
    // each a real click event id, scored 0
    val orphans = full.filter(_._1 == "click")
    assert(orphans.nonEmpty, "full outer emitted no orphan clicks")
    assert(orphans.forall(_._3 == 0L))
    val clickIds = graft.Tables.loadEvents(spark, TestSpark.sf)
      .filter(col("event_type") === "click")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(orphans.forall(o => clickIds.contains(o._2)))
  }

  test("transformWithState accumulates ValueState across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // the RocksDB provider transformWithState requires lives on a CLONE
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[StreamOps.TwsIn]
    val q = input.toDS()
      .groupByKey(_.user_id)
      .transformWithState(new StreamOps.UserStatsProcessor,
        TimeMode.None(), OutputMode.Update())
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_xbatch_tws").start()
    try {
      input.addData(StreamOps.TwsIn(7L, 100L, 1.5),
        StreamOps.TwsIn(7L, 50L, 9.0))
      q.processAllAvailable()
      input.addData(StreamOps.TwsIn(7L, 200L, 4.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = s.table("graft_xbatch_tws").collect()
      .map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("max_value"),
        r.getAs[Long]("first_us"), r.getAs[Long]("last_us")))
    // update mode emits one row per batch; the SECOND row proves the
    // ValueState survived the batch boundary and kept accumulating
    assert(rows.toSet === Set((2L, 9.0, 50L, 100L), (3L, 9.0, 50L, 200L)))
  }

  test("a failing stream run through toMemory throws, stops and frees its scope") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val input = MemoryStream[Long]
    input.addData(1L, 2L, -1L)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Tables.scoped {
        Tables.materialize(spark.range(10).toDF()).count()
        StreamOps.toMemory(spark, "failing", "append")(input.toDS()
          .map(x => if (x < 0) throw new IllegalStateException("bad row") else x))
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("bad row")), e)
    assert(spark.streams.active.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet === persisted)
  }

  test("stream_tv_drift converges to the batch histogram bit-for-bit") {
    val st = Registry.byName("stream_tv_drift")
      .run(spark, TestSpark.sf).collect().map(_.toSeq).toSeq
    val ba = Registry.byName("q_hist_drift")
      .run(spark, TestSpark.sf).collect().map(_.toSeq).toSeq
    assert(st === ba)
  }

  test("stream_changepoint finds the batch operator's split bit-for-bit") {
    val st = Registry.byName("stream_changepoint")
      .run(spark, TestSpark.sf).collect().map(_.toSeq).toSeq
    val ba = Registry.byName("q_changepoint")
      .run(spark, TestSpark.sf).collect().map(_.toSeq).toSeq
    assert(st === ba)
  }

  test("stream_backfill_merge reconciles to the one-shot batch aggregate") {
    import org.apache.spark.sql.functions._
    val merged = Registry.byName("stream_backfill_merge")
      .run(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val events = Tables.load(spark, TestSpark.sf, "events")
    val full = events.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === full)
    // the cut must actually SPLIT the corpus on this fixture — both the
    // batch backfill and the streamed increment sides are nonempty, so
    // the equality above proves the merge, not a degenerate all-batch
    // (or all-stream) path
    val cut = events.agg(max(date_trunc("day", col("ts")))).collect()(0)
      .getTimestamp(0)
    assert(events.filter(col("ts") < lit(cut)).count() > 0,
      "backfill side empty — fixture does not exercise the merge")
    assert(events.filter(col("ts") >= lit(cut)).count() > 0,
      "increment side empty — fixture does not exercise the merge")
  }

  test("statestore reader surfaces exactly the batch aggregate") {
    // the state store's raw rows, read back as a batch DataFrame, must
    // BE the aggregate the stream computed — no residue, no drift
    val st = Registry.byName("stream_state_read")
      .run(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ba = Tables.load(spark, TestSpark.sf, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st === ba)
  }

  test("rate limiter admits exactly the 3 earliest events per user-day") {
    val got = Registry.byName("stream_rate_limit")
      .run(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("day"),
        r.getAs[Long]("event_id"), r.getAs[Long]("rk")))
    assert(got.nonEmpty)
    got.groupBy(t => (t._1, t._2)).foreach { case (k, g) =>
      assert(g.length <= 3, s"quota exceeded for $k")
      assert(g.map(_._4).sorted.toSeq === (1L to g.length).toSeq,
        s"ranks not contiguous for $k")
    }
    // the fixture must actually exercise rejection
    val nAll = Tables.load(spark, TestSpark.sf, "events").count()
    assert(got.length < nAll, "no event was ever rejected")
    // batch replay: admitted ids are the earliest by (ts, event_id)
    val ev = Tables.loadEvents(spark, TestSpark.sf)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
    val want = ev.groupBy(t => (t._1, t._2)).toSeq.flatMap { case (k, g) =>
      g.sortBy(x => (x._3, x._4)).take(3).map(x => (k._1, k._2, x._4)).toSeq
    }.toSet
    assert(got.map(t => (t._1, t._2, t._3)).toSet === want)
  }

  test("streaming SCD2 versions tile each user's timeline with no no-op rows") {
    val rows = Registry.byName("stream_scd2_apply")
      .run(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("band"),
        r.getAs[Long]("valid_from_us"),
        Option(r.get(r.fieldIndex("valid_to_us"))).map(_.asInstanceOf[Long])))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (u, g) =>
      val vs = g.sortBy(_._3)
      // exactly one open version, and it is the last
      assert(vs.count(_._4.isEmpty) === 1, s"user $u open versions")
      assert(vs.last._4.isEmpty, s"user $u open version not last")
      // closed versions abut the successor exactly (no gap, no overlap)
      vs.toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._4.contains(b._3), s"user $u: versions do not tile")
          assert(a._2 !== b._2, s"user $u: consecutive equal bands kept")
        case _ => ()
      }
    }
    // version count replays the batch change-point count
    val nChanges = Tables.loadEvents(spark, TestSpark.sf)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) div 5000")
          .as("band"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).values.map { g =>
        val bands = g.sortBy(x => (x._2, x._3)).map(_._4).toSeq
        1 + bands.sliding(2).count {
          case Seq(a, b) => a != b
          case _ => false
        }
      }.sum[Int]
    assert(rows.length === nChanges)
  }
}
