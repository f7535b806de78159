package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import graft.QueryDef
import graft.functions.EngineFns.tokens
import graft.operators.Analytics.{Ev, SessionRow}

/** Structured Streaming surface: event-time windowed aggregation with a
  * watermark over the `events` table, driven synchronously from its
  * parquet file (file source → memory sink) so the result is a plain,
  * deterministic DataFrame the oracle can check against the equivalent
  * batch aggregation.
  *
  * Every operator reads its corpus table through one source,
  * [[tableStream]] (the sentinel-closed operators through
  * [[SentinelStage]]'s staged copy), and runs its query to completion
  * through one driver, [[drain]]: start on the calling thread, process
  * everything available, stop. [[toMemory]] is that driver into a memory
  * sink, returning the sink table.
  *
  * The reference has no event streaming (SURVEY.md §2c) — this is part of
  * the north-star pipeline surface. At scale the same plan runs
  * continuously: readStream over an object-store path, watermark bounds
  * state, shuffle is hash(window, event_type).
  */
object StreamOps {

  private val nameCounter = new AtomicInteger(0)

  /** The raw file schema of a corpus table. `events` ts is read as raw
    * nanos (a long) when the corpus ships it as parquet timestamp[ns];
    * `Tables.normTsCol(schema)` turns it into a µs timestamp in-plan. */
  private def streamSchema(s: SparkSession, dir: String, table: String): StructType = {
    if (table == "events")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.fileSchema(s, dir, table)
  }

  /** A corpus table as a file stream. The file source wants a
    * directory: the sf dir is streamed with a glob that selects just
    * `<table>.parquet`. `events` comes with ts normalized to a µs
    * timestamp. */
  private def tableStream(s: SparkSession, dir: String, table: String): DataFrame = {
    val schema = streamSchema(s, dir, table)
    val src = s.readStream
      .schema(schema)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(dir)
    if (table == "events") src.withColumn("ts", graft.Tables.normTsCol(schema))
    else src
  }

  /** Start `writer`'s query, process everything its sources hold, and
    * stop it, also when a batch throws. The query starts on the calling
    * thread, so its stream thread inherits the caller's `Tables.scoped`
    * (stream_ann_probe's batches materialize into it). */
  private def drain(writer: DataStreamWriter[_]): Unit = {
    val q = writer.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** `stream` run into a fresh memory sink `graft_stream_<name>_<n>` in
    * output `mode` by `run` ([[drain]] unless the query needs a second
    * phase, see [[SentinelStage.drainClosing]]); returns the sink
    * table. */
  private[graft] def toMemory(s: SparkSession, name: String, mode: String,
      run: DataStreamWriter[_] => Unit = drain)(stream: Dataset[_]): DataFrame = {
    val sink = s"graft_stream_${name}_${nameCounter.incrementAndGet()}"
    run(stream.writeStream.outputMode(mode).format("memory").queryName(sink))
    s.table(sink)
  }

  /** Run the windowed aggregation as a real streaming query to completion
    * and return the final (complete-mode) result as a batch DataFrame. */
  def hourlyByType(s: SparkSession, dir: String): DataFrame =
    toMemory(s, "hourly", "complete")(tableStream(s, dir, "events")
      .withWatermark("ts", "1 hour")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value")))
      .orderBy("hour", "event_type")

  /** Streaming drift monitor: q_hist_drift's bucketed purchase-value
    * histogram runs INCREMENTALLY — the (bucket, arm) counting state is
    * bounded at 20 rows forever (the bucket domain, not the stream), so
    * complete mode is the deployable choice — and the total-variation
    * statistic is finished batch-side on the tiny sink table, exactly
    * the stream_topk "unbounded part incremental, tiny part batch"
    * split. Converges to the SAME table as the batch operator: the
    * oracle is Numerics.HistDriftOracleSql verbatim. */
  def tvDriftStreaming(s: SparkSession, dir: String): DataFrame = {
    val hist = toMemory(s, "tv", "complete")(tableStream(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(
        least(expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) div 5000"),
          lit(9L)).cast("long").as("bucket"),
        pmod(col("user_id"), lit(2L)).as("arm"))
      .groupBy("bucket", "arm")
      .agg(count(lit(1)).as("n")))
    val b = hist.groupBy("bucket").agg(
      sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("c_a"),
      sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("c_b"))
    val tot = b.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    val terms = b.crossJoin(broadcast(tot))
      .withColumn("tv_num",
        abs(col("c_a") * col("n_b") - col("c_b") * col("n_a")))
    val tv = terms.agg(sum(col("tv_num")).as("tv_total"))
    terms.crossJoin(broadcast(tv))
      .select(col("bucket"), col("c_a"), col("c_b"),
        col("n_a"), col("n_b"), col("tv_num"),
        (col("tv_total").cast("double") /
          (lit(2L) * col("n_a") * col("n_b")).cast("double")).as("tv"))
      .orderBy("bucket")
  }

  /** Streaming changepoint monitor: the daily purchase counts run
    * incrementally (state = the calendar-bounded day domain, complete
    * mode deployable), and the CUSUM argmax finishes batch-side through
    * the SAME Numerics.changepointFinish the batch operator uses — one
    * detector, two execution modes. */
  def changepointStreaming(s: SparkSession, dir: String): DataFrame = {
    val DayUs = 86400000000L
    graft.operators.Numerics.changepointFinish(
      toMemory(s, "cp", "complete")(tableStream(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(expr(s"unix_micros(ts) div $DayUs").as("day"))
        .groupBy("day")
        .agg(count(lit(1)).as("n"))))
  }

  /** Streaming 6-hour OHLC: q_ohlc's one-pass min_by/max_by aggregate as
    * an incremental streaming aggregation (see the stream_ohlc def). */
  def ohlcStreaming(s: SparkSession, dir: String): DataFrame = {
    val BucketUs = 21600000000L // 6 hours — same constant as q_ohlc
    toMemory(s, "ohlc", "complete")(tableStream(s, dir, "events")
      .withColumn("bucket_us",
        expr(s"unix_micros(ts) div $BucketUs") * BucketUs)
      .withColumn("ok",
        (unix_micros(col("ts")) - col("bucket_us")) * lit(1000000L)
          + col("event_id"))
      .groupBy("event_type", "bucket_us")
      .agg(
        expr("min_by(value, ok)").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        expr("max_by(value, ok)").as("close"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double")
          .as("total_value")))
      .orderBy("event_type", "bucket_us")
  }

  /** Streaming hopping (sliding) windows: the same 1h/30min overlapping
    * windows as the batch q_hopping_window, run incrementally — each
    * event expands into its 2 windows map-side, state is one counter per
    * (window, type) bounded by the 1-hour watermark, and the complete-
    * mode sink holds only the aggregated table (∝ windows x types,
    * never ∝ events). */
  def hoppingByType(s: SparkSession, dir: String): DataFrame =
    toMemory(s, "hopping", "complete")(tableStream(s, dir, "events")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n")))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"))
      .orderBy("win_start", "event_type")

  /** foreachBatch merge-writer: the custom-sink escape hatch. Each
    * micro-batch is first reduced to its per-key argmax (map-side
    * combined), then MERGEd into a keyed parquet snapshot — union with
    * the previous snapshot + one more argmax, written to a NEW
    * versioned directory (never overwriting what is being read, the
    * same copy-on-write discipline every table format applies). The
    * argmax is associative, so merge order across batches cannot change
    * the result. State lives in the snapshot files, not the state
    * store — the pattern for sinks Spark has no native writer for; at
    * 100 TB the snapshot is a real table format and the merge is its
    * MERGE INTO, but the per-batch plan is exactly this one. */
  def foreachBatchMerge(s: SparkSession, dir: String): DataFrame = {
    // read lazily by the returned frame: deleted at JVM exit, not here
    val tableRoot = graft.jvmScratchDir("graft_fb_merge").toString
    @volatile var current: Option[String] = None
    def argmax(df: DataFrame): DataFrame =
      df.groupBy("user_id")
        .agg(max(struct(col("ts_us"), col("event_id"))).as("m"))
        .select(col("user_id"), col("m.ts_us").as("ts_us"),
          col("m.event_id").as("event_id"))
    drain(tableStream(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val delta = argmax(batch)
        val merged = current match {
          case None => delta
          case Some(p) =>
            argmax(batch.sparkSession.read.parquet(p).unionByName(delta))
        }
        merged.write.mode("overwrite").parquet(s"$tableRoot/v$batchId")
        current = Some(s"$tableRoot/v$batchId")
        ()
      })
    s.read.parquet(current.get)
      .select(col("user_id"), col("event_id").as("latest_event_id"),
        col("ts_us").as("latest_ts_us"))
      .orderBy("user_id")
  }

  /** Streaming deduplication: dropDuplicates over the event-id key keeps
    * per-key state in the state store (bounded by the watermark at 100 TB
    * rates); the deduped append stream lands in a memory sink and is
    * summarized batch-side. */
  def streamingDedup(s: SparkSession, dir: String): DataFrame =
    toMemory(s, "dedup", "append")(tableStream(s, dir, "events")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")

  /** The production variant of streaming dedup:
    * dropDuplicatesWithinWatermark guarantees state EVICTION — a key's
    * dedup state is dropped once the watermark passes it, so the state
    * store is bounded by (event rate x watermark delay) BY CONTRACT,
    * where plain dropDuplicates only evicts when the dedup keys include
    * the event-time column itself. The trade: duplicates are only
    * suppressed when they arrive within the watermark delay of the
    * first copy — exactly the at-least-once-delivery retry window the
    * operator exists to absorb. Bounded replay here fits in one
    * micro-batch, so the batch DISTINCT oracle is exact. */
  def streamingDedupWm(s: SparkSession, dir: String): DataFrame =
    toMemory(s, "dedup_wm", "append")(tableStream(s, dir, "events")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Carried session state per user: last event time and current
    * session index. */
  final case class SessState(lastTsUs: Long, idx: Long)

  private def SessionGapUs: Long = graft.operators.Analytics.SessionGapUs

  /** flatMapGroupsWithState handler: assign gap-based session indexes,
    * carrying (lastTs, idx) across micro-batches. Within a batch the
    * group's events are sorted; across batches correctness relies on
    * time-ordered arrival per key (standard for log ingestion). */
  def sessionizeGroup(uid: Long, it: Iterator[Ev],
      state: GroupState[SessState]): Iterator[SessionRow] = {
    val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
    var (prev, idx) = state.getOption
      .map(s => (s.lastTsUs, s.idx)).getOrElse((Long.MinValue, 0L))
    val out = evs.map { e =>
      if (prev != Long.MinValue && e.ts_us - prev > SessionGapUs) idx += 1
      prev = e.ts_us
      SessionRow(e.event_id, uid, idx)
    }
    if (evs.nonEmpty) state.update(SessState(prev, idx))
    out.iterator
  }

  /** Typed streaming events (raw ns long → µs) for stateful operators. */
  def eventStream(s: SparkSession, dir: String): Dataset[Ev] = {
    import s.implicits._
    tableStream(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
      .as[Ev]
  }

  /** Streaming sessionization via flatMapGroupsWithState: per-user state
    * store carries (lastTs, sessionIdx) across micro-batches; update
    * mode emits each event's session assignment as it arrives. With the
    * whole file in one batch this equals the batch window form — which
    * is exactly what the oracle checks. */
  def sessionizeStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    toMemory(s, "sessionize", "update")(eventStream(s, dir)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(sessionizeGroup))
      .select(col("event_id"), col("user_id"), col("session_idx"))
      .orderBy("event_id")
  }

  /** Latest-row-per-key state: the streaming half of CDC/upsert — a
    * mapGroupsWithState store holds each user's most recent event
    * ((ts, event_id)-max, tie-free since (user, ts) is unique with
    * event_id as a total-order fallback) and update mode re-emits a
    * key's row whenever it advances. At scale this is the standard
    * "materialized latest view" over a change stream; eviction hangs
    * off a watermark in a continuous deployment. The memory sink keeps
    * every update — the batch side takes each key's final state, which
    * the arg_max oracle checks. */
  final case class LatestState(tsUs: Long, eventId: Long)

  def latestByKey(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val latest = toMemory(s, "latest", "update")(eventStream(s, dir)
      .groupByKey(_.user_id)
      .mapGroupsWithState[LatestState, (Long, Long, Long)](
        GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        var cur = state.getOption.getOrElse(LatestState(Long.MinValue, Long.MinValue))
        it.foreach { e =>
          if (e.ts_us > cur.tsUs ||
              (e.ts_us == cur.tsUs && e.event_id > cur.eventId))
            cur = LatestState(e.ts_us, e.event_id)
        }
        state.update(cur)
        (uid, cur.eventId, cur.tsUs)
      }
      .toDF("user_id", "latest_event_id", "latest_ts_us"))
    // a key may be re-emitted across micro-batches — keep its final row
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    latest
      .withColumn("mx", max(col("latest_ts_us")).over(w))
      .filter(col("latest_ts_us") === col("mx"))
      .select(col("user_id"), col("latest_event_id"), col("latest_ts_us"))
      .distinct()
      .orderBy("user_id")
  }

  /** Typed rows for the transformWithState per-user stats processor. */
  final case class TwsIn(user_id: Long, us: Long, value: Double)
  final case class TwsOut(user_id: Long, n_events: Long, max_value: Double,
      first_us: Long, last_us: Long)
  final case class TwsState(n: Long, mx: Double, lo: Long, hi: Long)

  /** Spark 4 arbitrary-state processor (the transformWithState /
    * state-API-v2 replacement for [flat]mapGroupsWithState): per-user
    * running stats held in a typed ValueState. State is one fixed-size
    * record per user — bounded by key cardinality, not stream length —
    * and lives in the RocksDB state store the new API requires, so at
    * deployment scale it spills off-heap instead of occupying executor
    * memory. Counters/min/max are associative, so re-processing a key
    * across microbatches converges to the same final state under any
    * batch split. */
  private[graft] final class UserStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TwsIn, TwsOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[TwsState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[TwsState]("stats",
        org.apache.spark.sql.Encoders.product[TwsState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TwsIn],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[TwsOut] = {
      var acc =
        if (st.exists()) st.get()
        else TwsState(0L, Double.NegativeInfinity, Long.MaxValue, Long.MinValue)
      rows.foreach { r =>
        acc = TwsState(acc.n + 1L, math.max(acc.mx, r.value),
          math.min(acc.lo, r.us), math.max(acc.hi, r.us))
      }
      st.update(acc)
      Iterator.single(TwsOut(key, acc.n, acc.mx, acc.lo, acc.hi))
    }
  }

  /** Per-user lifetime stats via transformWithState (see the
    * stream_transform_state def). The RocksDB provider the API requires
    * is set on a CLONED session so the shared session keeps its default
    * provider (config-hygiene discipline). */
  def transformStateStats(s0: SparkSession, dir: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val stats = toMemory(s, "tws", "update")(tableStream(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .as[TwsIn]
      .groupByKey(_.user_id)
      .transformWithState(new UserStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update()))
    // each microbatch emits that batch's running state per touched key;
    // the final value per field is the monotone extreme, so this fold is
    // batch-split-invariant (one batch here — the corpus is one file)
    stats.groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"),
        max(col("max_value")).as("max_value"),
        min(col("first_us")).as("first_us"),
        max(col("last_us")).as("last_us"))
      .orderBy("user_id")
  }

  /** Typed rows for the ListState top-k / MapState counter processors. */
  final case class TwsEvIn(user_id: Long, event_id: Long, value: Double,
      event_type: String)
  final case class TopKOut(user_id: Long, rank: Long, value: Double,
      event_id: Long)
  final case class TopKEntry(value: Double, event_id: Long)
  final case class TypeCountOut(user_id: Long, event_type: String, n: Long)

  /** State-API-v2 LISTSTATE coverage: per-user running top-K events by
    * value (K=3, ties to the smaller event_id). The typed ListState
    * holds at most K entries per user — the processor trims on every
    * batch, so state is K rows per key REGARDLESS of stream length (the
    * unbounded-collect anti-pattern this primitive exists to avoid).
    * Each batch re-emits the key's current top-K; the batch-side fold
    * keeps, per (user, rank), the lexicographic max of (value,
    * -event_id) — the rank-r element only ever improves under that
    * order as data arrives, so the fold is batch-split-invariant. */
  private[graft] final class TopKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TwsEvIn, TopKOut] {
    @transient private var st: org.apache.spark.sql.streaming.ListState[TopKEntry] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getListState[TopKEntry]("topk",
        org.apache.spark.sql.Encoders.product[TopKEntry],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TwsEvIn],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[TopKOut] = {
      val cur = collection.mutable.ArrayBuffer.empty[TopKEntry]
      val it = st.get()
      while (it.hasNext) cur += it.next()
      rows.foreach(r => cur += TopKEntry(r.value, r.event_id))
      val top = cur.sortBy(e => (-e.value, e.event_id)).take(k).toArray
      st.put(top)
      top.iterator.zipWithIndex.map { case (e, i) =>
        TopKOut(key, i + 1L, e.value, e.event_id)
      }
    }
  }

  /** State-API-v2 MAPSTATE coverage: per-user event-type counters held
    * in a typed MapState[String, Long] — one map entry per (user, type)
    * ever seen, the per-composite-key point-update shape that would
    * need a whole serialized map rewrite under ValueState. Counts are
    * monotone, so the per-batch re-emissions fold batch-side with a
    * plain max. */
  private[graft] final class TypeCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TwsEvIn, TypeCountOut] {
    @transient private var st: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("cnt",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TwsEvIn],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeCountOut] = {
      val batch = collection.mutable.Map.empty[String, Long]
      rows.foreach(r => batch(r.event_type) = batch.getOrElse(r.event_type, 0L) + 1L)
      batch.toSeq.sortBy(_._1).iterator.map { case (t, c) =>
        val n = (if (st.containsKey(t)) st.getValue(t) else 0L) + c
        st.updateValue(t, n)
        TypeCountOut(key, t, n)
      }
    }
  }

  /** Per-user top-K via transformWithState ListState (see the
    * stream_transform_state_list def). RocksDB provider on a CLONE. */
  def transformStateTopK(s0: SparkSession, dir: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val topk = toMemory(s, "tws_topk", "update")(tableStream(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"), col("event_type"))
      .as[TwsEvIn]
      .groupByKey(_.user_id)
      .transformWithState(new TopKProcessor(3),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update()))
    // per (user, rank) the final emission is the lexicographic max of
    // (value, -event_id) — see TopKProcessor's invariance note
    topk
      .groupBy("user_id", "rank")
      .agg(max(struct(col("value"), (-col("event_id")).as("nid"))).as("m"))
      .select(col("user_id"), col("rank"),
        col("m.value").as("value"), (-col("m.nid")).as("event_id"))
      .orderBy("user_id", "rank")
  }

  /** Per-user per-type counters via transformWithState MapState (see
    * the stream_transform_state_map def). RocksDB provider on a CLONE. */
  def transformStateTypeCounts(s0: SparkSession, dir: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    toMemory(s, "tws_map", "update")(tableStream(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"), col("event_type"))
      .as[TwsEvIn]
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update()))
      .groupBy("user_id", "event_type")
      .agg(max(col("n")).as("n_events"))
      .orderBy("user_id", "event_type")
  }

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks in the preceding hour. Both sides carry watermarks
    * and the join condition bounds event-time distance, so the state
    * store only retains one hour of clicks per user — the canonical
    * bounded-state stream-stream join. The memory sink's append output
    * is aggregated batch-side into clicks-per-purchase for the
    * deterministic oracle comparison (the batch join is the oracle). */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val clicks = tableStream(s, dir, "events")
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val purchases = tableStream(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "2 hours")
    toMemory(s, "ivj", "append")(purchases.join(clicks,
        expr("""p_user = c_user AND
                c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts""")))
      .groupBy(col("p_id").as("purchase_id"))
      .agg(count(lit(1)).as("n_clicks_1h"))
      .orderBy("purchase_id")
  }

  /** Staged file-source dir for watermark-closure runs: the corpus
    * parquet is copied in as the first file; `drainClosing` later
    * drops a file with one sentinel event per requested type, 10 hours
    * past the corpus max event time (user_id -1, event_ids -1, -2, …),
    * advancing every event-time watermark derived from this source
    * past all real data so held state (outer-join rows, open sessions)
    * flushes. Finite-corpus closure only — a continuous deployment
    * simply never closes. */
  private final class SentinelStage(s: SparkSession, dir: String) {
    private val schema = streamSchema(s, dir, "events")
    private val stage: String = graft.jvmScratchDir("graft_sentinel_stage").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$stage/00_events.parquet"))

    /** The staged events as a file stream, ts normalized as in
      * [[tableStream]]. */
    def stream: DataFrame =
      s.readStream
        .schema(schema)
        .parquet(stage)
        .withColumn("ts", graft.Tables.normTsCol(schema))

    /** Run `writer`'s query over the corpus, drop the sentinel events
      * of `eventTypes`, and run it again, so the watermarks pass every
      * real event and held state flushes; then stop the query and
      * delete the stage, also when a batch throws. */
    def drainClosing(eventTypes: String*)(writer: DataStreamWriter[_]): Unit = {
      val q = writer.start()
      try {
        q.processAllAvailable() // phase 1: the real corpus
        addSentinel(eventTypes: _*) // phase 2: the sentinels close the tail
        q.processAllAvailable()
      } finally {
        q.stop()
        cleanup()
      }
    }

    private def addSentinel(eventTypes: String*): Unit = {
      val maxRow = graft.Tables.load(s, dir, "events")
        .agg(max(unix_micros(col("ts")))).head()
      // empty corpus: max(ts) is NULL — any base works, the sentinel
      // only exists to push watermarks past (nonexistent) real data
      // (degenerate-corpus sweep, r8)
      val maxUs = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      val sentUs = maxUs + 10L * 3600L * 1000000L
      // The sentinel must round-trip through the CORPUS's physical ts
      // type. When the corpus ships ts as int64 NANOS, a
      // timestamp->long CAST would yield epoch SECONDS (which
      // normTsCol then divides by 1000 as nanos, landing the sentinel
      // in ~1970 and freezing every watermark); emit the raw nanos
      // long directly instead. Timestamp-typed corpora take the plain
      // cast, a micros identity.
      val sentTs = schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => lit(sentUs * 1000L)
        case dt => timestamp_micros(lit(sentUs)).cast(dt)
      }
      val sent = eventTypes.zipWithIndex.map { case (et, i) =>
        s.range(1).select(
          lit(-1L - i).as("event_id"), sentTs.as("ts"),
          lit(-1L).as("user_id"), lit(et).as("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
      }.reduce(_.unionAll(_))
      val sentOut = s"${stage}_sent"
      sent.coalesce(1).write.mode("overwrite").parquet(sentOut)
      val part = new java.io.File(sentOut).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/10_sentinel.parquet"))
    }

    /** Delete the stage (and sentinel scratch) dirs — repeated
      * correctness sweeps in one JVM must not leak a corpus-sized copy
      * per invocation. */
    private def cleanup(): Unit =
      Seq(stage, s"${stage}_sent").foreach { d =>
        val p = java.nio.file.Paths.get(d)
        if (java.nio.file.Files.exists(p)) {
          val walk = java.nio.file.Files.walk(p)
          try
            walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(f => java.nio.file.Files.deleteIfExists(f))
          finally walk.close()
        }
      }
  }

  /** Stream-stream LEFT OUTER interval join — the null-padding-on-
    * watermark-expiry shape CDC enrichment pipelines hit first: every
    * purchase emits, clicks attached when they exist, null-padded
    * otherwise — but the null-padded row may only be emitted once the
    * watermark has passed the purchase's join window (no earlier click
    * can still arrive). State stays bounded exactly as in the inner
    * form: one hour of clicks per user plus unresolved purchases, both
    * evicted at the watermark.
    *
    * To make the finite-corpus run equal the batch LEFT JOIN oracle,
    * the source is staged into a scratch dir and, after the corpus is
    * consumed, a sentinel click+purchase pair far past the corpus max
    * event time lands as a second file: it advances BOTH sides'
    * watermarks (the query watermark is the min) past every real
    * purchase, so every real unmatched purchase null-pads. The sentinel
    * purchase itself stays unresolved in state (nothing is ever later
    * than it) and the sentinel click matches no purchase — neither
    * reaches the output, and both carry user_id -1 which is filtered
    * defensively anyway. The per-batch emission order (padded rows only
    * after the watermark passes) is proven in StreamCancelSpec. */
  def intervalJoinLeftOuter(s: SparkSession, dir: String): DataFrame = {
    val staged = new SentinelStage(s, dir)
    val ev = staged.stream
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "2 hours")
    // sentinels of both sides close the tail: both watermarks advance
    val joined = toMemory(s, "loj", "append", staged.drainClosing("click", "purchase"))(
      purchases.join(clicks,
        expr("""p_user = c_user AND
                c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"""),
        "leftOuter"))
    // count(c_id) counts matches only — a null-padded purchase scores 0,
    // exactly the batch LEFT JOIN + count(c.event_id) oracle
    joined
      .filter(col("p_user") >= 0)
      .groupBy(col("p_id").as("purchase_id"))
      .agg(count(col("c_id")).as("n_clicks_1h"))
      .orderBy("purchase_id")
  }

  /** FULL OUTER stream-stream interval join — completing the join
    * matrix (inner / left / full). Both sides hold state bounded by
    * their watermark + the interval; an unmatched PURCHASE null-pads
    * when the click watermark passes its lookback window, an unmatched
    * CLICK null-pads when the purchase watermark passes the last
    * purchase that could still claim it — so sentinels must advance
    * BOTH watermarks before the tail emits. The result folds both
    * emission classes into one relation: per-purchase click counts
    * (unmatched purchases scoring 0, as in the left form) plus the
    * orphaned clicks that belonged to no purchase window. */
  def intervalJoinFullOuter(s: SparkSession, dir: String): DataFrame = {
    val staged = new SentinelStage(s, dir)
    val ev = staged.stream
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "2 hours")
    val t = toMemory(s, "foj", "append", staged.drainClosing("click", "purchase"))(
      purchases.join(clicks,
        expr("""p_user = c_user AND
                c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"""),
        "fullOuter"))
      .filter(coalesce(col("p_user"), col("c_user")) >= 0) // drop sentinels
    val perPurchase = t.filter(col("p_id").isNotNull)
      .groupBy(col("p_id").as("event_id"))
      .agg(count(col("c_id")).as("n_matched"))
      .select(lit("purchase").as("side"), col("event_id"), col("n_matched"))
    val orphanClicks = t.filter(col("p_id").isNull)
      .select(lit("click").as("side"), col("c_id").as("event_id"),
        lit(0L).as("n_matched"))
    perPurchase.unionAll(orphanClicks).orderBy("side", "event_id")
  }

  /** The currently-open session held in the state store. */
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  /** A session emitted once it can no longer grow. */
  final case class ClosedSession(
      user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** flatMapGroupsWithState handler with EVENT-TIME TIMEOUT — the
    * production form of stateful sessionization (the NoTimeout variant
    * `sessionizeGroup` holds every user's state forever; this one's
    * state store contains ONLY open sessions, each carrying a timeout
    * at lastEvent + gap). Sessions that close inside a batch (a later
    * event arrives past the gap) emit immediately; the trailing open
    * session emits when the WATERMARK passes its timeout — Spark calls
    * the handler once more with an empty iterator and hasTimedOut set,
    * the state is removed, and the store shrinks. That timeout-driven
    * eviction is the property that bounds state at 100 TB rates. */
  def sessionTtlGroup(uid: Long, it: Iterator[EvWithTime],
      state: GroupState[OpenSession]): Iterator[ClosedSession] = {
    import graft.operators.Analytics.{SessionGapUs => Gap}
    if (!it.hasNext && state.hasTimedOut) {
      val o = state.get
      state.remove()
      Iterator.single(ClosedSession(uid, o.startUs, o.lastUs + Gap, o.n))
    } else {
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      var cur = state.getOption
      it.map(_.ts_us).toArray.sorted.foreach { t =>
        cur = cur match {
          case Some(o) if t - o.lastUs <= Gap =>
            // max(): a cross-batch late event admitted by the watermark
            // can have t < o.lastUs — it joins the session (gap test is
            // against the session END) but must never REGRESS the end
            Some(OpenSession(o.startUs, math.max(o.lastUs, t), o.n + 1))
          case Some(o) =>
            out += ClosedSession(uid, o.startUs, o.lastUs + Gap, o.n)
            Some(OpenSession(t, t, 1))
          case None => Some(OpenSession(t, t, 1))
        }
      }
      cur.foreach { o =>
        state.update(o)
        state.setTimeoutTimestamp((o.lastUs + Gap) / 1000L)
      }
      out.iterator
    }
  }

  /** Sessionization with watermark-driven state expiry: same session
    * relation as `q_session_window_native` / `stream_session_window`,
    * but sessions EMIT on close (append semantics) and closed state is
    * EVICTED — the deployable form. The sentinel stage closes every
    * trailing session so the finite run equals the batch
    * gaps-and-islands oracle exactly. */
  def sessionizeTtl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val staged = new SentinelStage(s, dir)
    // gap-closed sessions emit on the corpus; the sentinel moves the
    // watermark past every open session, whose timeouts then fire
    toMemory(s, "sess_ttl", "append", staged.drainClosing("click"))(staged.stream
      .withWatermark("ts", "1 hour")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[EvWithTime]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(sessionTtlGroup))
      .filter(col("user_id") >= 0) // drop the sentinel's own session
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** Typed row keeping the event-time column for the watermark. */
  final case class EvWithTime(
      event_id: Long, user_id: Long, ts_us: Long, ts: java.sql.Timestamp)

  /** Open-session record for the state-API-v2 sessionizer. */
  final case class TwsSession(start_us: Long, end_us: Long, n: Long)

  /** Event-time-TIMER sessionization on the state API v2 — the same
    * session relation as sessionTtlGroup, re-expressed with
    * transformWithState primitives: a typed ValueState holds the one
    * open session per user, in-batch gap closes emit immediately, and
    * the trailing session emits from handleExpiredTimer when the
    * WATERMARK passes lastEvent + gap (the registered timer). Timers
    * are re-armed per batch (old ones deleted), so the state store
    * holds exactly one record + one timer per ACTIVE user — the
    * bounded-state property, now with the API that also offers
    * per-state TTL and off-heap RocksDB state. The per-key per-batch
    * sort buffer is bounded by one batch's rows for that key. */
  private[graft] final class SessionTimerProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EvWithTime, ClosedSession] {
    import graft.operators.Analytics.{SessionGapUs => Gap}
    @transient private var st: org.apache.spark.sql.streaming.ValueState[TwsSession] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[TwsSession]("open",
        org.apache.spark.sql.Encoders.product[TwsSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EvWithTime],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[ClosedSession] = {
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      var cur: Option[TwsSession] = if (st.exists()) Some(st.get()) else None
      rows.map(_.ts_us).toArray.sorted.foreach { t =>
        cur = cur match {
          case Some(o) if t - o.end_us <= Gap =>
            // max(): same late-event guard as sessionTtlGroup — an
            // in-gap event older than the current end extends the
            // count without regressing end_us (or the armed timer)
            Some(TwsSession(o.start_us, math.max(o.end_us, t), o.n + 1L))
          case Some(o) =>
            out += ClosedSession(key, o.start_us, o.end_us + Gap, o.n)
            Some(TwsSession(t, t, 1L))
          case None => Some(TwsSession(t, t, 1L))
        }
      }
      cur.foreach { o =>
        st.update(o)
        getHandle.registerTimer((o.end_us + Gap) / 1000L)
      }
      out.iterator
    }
    override def handleExpiredTimer(key: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ClosedSession] =
      if (st.exists()) {
        val o = st.get()
        // only the CURRENT session's timer closes it (a stale timer
        // from a superseded arm would fire before lastEvent + gap)
        if (expired.getExpiryTimeInMs >= (o.end_us + Gap) / 1000L) {
          st.clear()
          Iterator.single(ClosedSession(key, o.start_us, o.end_us + Gap, o.n))
        } else Iterator.empty
      } else Iterator.empty
  }

  /** Timer-driven sessionization via transformWithState (see the
    * stream_transform_state_timers def). RocksDB provider on a CLONE. */
  def transformStateSessions(s0: SparkSession, dir: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val staged = new SentinelStage(s, dir)
    // as sessionizeTtl, with timers in place of the timeouts
    toMemory(s, "tws_sess", "append", staged.drainClosing("click"))(staged.stream
      .withWatermark("ts", "1 hour")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[EvWithTime]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append()))
      .filter(col("user_id") >= 0) // drop the sentinel's own session
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** Streaming ANN serving: query vectors STREAM IN and each
    * micro-batch is searched against the STATIC IVF index via
    * foreachBatch — the model-serving split (index built offline,
    * queries online) on the same `ivfSearchFor` plan the batch
    * registry entries use, so batch and serving results can never
    * drift. Stateless: the index is a static side re-read per batch
    * (at 100 TB it is a published, bucketed index table); no state
    * store, and results append to a keyed sink. Identical output to
    * sim_ann_ivf — shared oracle. */
  def streamAnnProbe(s: SparkSession, dir: String): DataFrame = {
    // read lazily by the returned frame: deleted at JVM exit, not here
    val outDir = graft.jvmScratchDir("graft_ann_probe").toString + "/out"
    drain(graft.operators.Similarity.queriesOf(tableStream(s, dir, "embeddings"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Similarity
          .ivfSearchFor(batch.sparkSession, dir, 1, batch)
          .write.mode("append").parquet(outDir)
        ()
      })
    s.read.parquet(outDir).orderBy("q_id", "rank")
  }

  /** One paragraph occurrence of a streamed document. */
  final case class ParaOcc(doc_id: Long, p_idx: Long, para: String)

  /** flatMapGroupsWithState handler keyed by paragraph text: the FIRST
    * corpus occurrence (min (doc_id, p_idx) within the batch, earliest
    * batch across batches) claims the paragraph and emits; every later
    * occurrence is suppressed by the occupied state — the streaming
    * first-writer-wins form of the batch window's rk = 1. State is one
    * marker per DISTINCT paragraph (the standing dedup index, exactly
    * what a production ingest gate persists); with the whole corpus in
    * one batch the winner matches the batch total order, so the two
    * forms share one oracle. */
  def paraGateState(para: String, it: Iterator[ParaOcc],
      state: GroupState[Long]): Iterator[ParaOcc] = {
    if (state.exists) Iterator.empty
    else {
      val w = it.minBy(o => (o.doc_id, o.p_idx))
      state.update(w.doc_id)
      Iterator.single(w)
    }
  }

  /** Streaming paragraph-level dedup — the streaming half of
    * Dedup.text_dedup_paragraph, on the SAME chunking and rebuild
    * helpers and the SAME oracle: documents stream in, each paragraph
    * passes the per-paragraph state gate exactly once, and the kept
    * occurrences are reassembled batch-side into cleaned documents. */
  def streamParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kept = toMemory(s, "paradedup", "update")(
      graft.operators.Dedup.paragraphs(tableStream(s, dir, "documents"))
        .as[ParaOcc]
        .groupByKey(_.para)
        .flatMapGroupsWithState[Long, ParaOcc](
          OutputMode.Update, GroupStateTimeout.NoTimeout)(paraGateState))
    graft.operators.Dedup.rebuildFromKept(
      graft.Tables.load(s, dir, "documents"), kept)
  }

  /** Synthetic ingest event-time of a streamed document: documents
    * arrive in doc_id order, one minute apart, from a fixed epoch. On a
    * real deployment this is the ingest timestamp the source already
    * carries; deriving it from doc_id keeps the TTL semantics
    * oracle-replayable as plain doc_id arithmetic (Dedup.ParaTtlDocs /
    * NeardupTtlDocs). */
  private[graft] val DocBaseUs = 1704067200000000L // 2024-01-01 UTC
  private[graft] val DocStepUs = 60L * 1000000L
  private[graft] def docEventTime =
    timestamp_micros(lit(DocBaseUs) + col("doc_id") * lit(DocStepUs))
  private[graft] val ParaTtlUs =
    graft.operators.Dedup.ParaTtlDocs * DocStepUs
  private[graft] val NeardupTtlUs =
    graft.operators.Dedup.NeardupTtlDocs * DocStepUs

  /** One paragraph occurrence with its document's ingest time. */
  final case class ParaOccT(
      doc_id: Long, p_idx: Long, para: String, ts: java.sql.Timestamp)

  /** TTL paragraph gate — the WATERMARK-EVICTED form of paraGateState:
    * state is the last-seen ingest time of the paragraph (refreshed on
    * EVERY occurrence, emitted or suppressed), an occurrence emits iff
    * the previous one is more than the TTL older, and the state row
    * carries an event-time timeout at lastSeen + TTL so the store only
    * ever holds paragraphs seen within the TTL window — the property
    * that bounds state in a CONTINUOUS deployment, where the NoTimeout
    * gate grows with every distinct paragraph ever ingested. */
  def paraGateTtl(para: String, it: Iterator[ParaOccT],
      state: GroupState[Long]): Iterator[ParaOccT] = {
    if (!it.hasNext && state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val out = scala.collection.mutable.ArrayBuffer.empty[ParaOccT]
      var last = state.getOption
      it.toArray.sortBy(o => (o.doc_id, o.p_idx)).foreach { o =>
        val t = o.ts.getTime * 1000L
        if (last.forall(l => t - l > ParaTtlUs)) out += o
        last = Some(t)
      }
      last.foreach { l =>
        state.update(l)
        state.setTimeoutTimestamp(l / 1000L + ParaTtlUs / 1000L)
      }
      out.iterator
    }
  }

  /** Streaming paragraph dedup with TTL state eviction — the deployable
    * form of streamParagraphDedup: same chunking/rebuild helpers, but a
    * repeated paragraph is only suppressed within ParaTtlDocs documents
    * of its previous occurrence, and the state store evicts expired
    * paragraphs at the watermark (eviction proven in StreamCancelSpec).
    * Oracle: the lag-window TTL rule in doc_id arithmetic. */
  def streamParagraphDedupTtl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kept = toMemory(s, "paradedup_ttl", "update")(
      graft.operators.Dedup.paragraphs(tableStream(s, dir, "documents"))
        .withColumn("ts", docEventTime)
        .withWatermark("ts", "1 minute")
        .as[ParaOccT]
        .groupByKey(_.para)
        .flatMapGroupsWithState[Long, ParaOccT](
          OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(paraGateTtl))
    graft.operators.Dedup.rebuildFromKept(
      graft.Tables.load(s, dir, "documents"), kept.drop("ts"))
  }

  /** One LSH band assignment of a streamed document. */
  final case class BandDoc(band_id: Int, band_key: String, doc_id: Long)
  /** A near-dup candidate pair (a_id < b_id). */
  final case class CandPair(a_id: Long, b_id: Long)

  /** flatMapGroupsWithState handler keyed by (band_id, band_key): state
    * is the sorted set of doc_ids already seen in this LSH bucket; each
    * newly arriving document emits one candidate pair per prior
    * occupant. State per bucket is bounded by bucket occupancy — the
    * same collision count that bounds the batch equi-join's shuffle. */
  def bandBucketState(key: (Int, String), it: Iterator[BandDoc],
      state: GroupState[Seq[Long]]): Iterator[CandPair] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
    var acc = state.getOption.getOrElse(Seq.empty)
    it.map(_.doc_id).toSeq.distinct.sorted.foreach { d =>
      acc.foreach { s =>
        if (s != d) out += CandPair(math.min(s, d), math.max(s, d))
      }
      if (!acc.contains(d)) acc = acc :+ d
    }
    state.update(acc)
    out.iterator
  }

  /** (band_id, band_key, doc_id) streamed from the documents file: each
    * row's 16-perm MinHash signature computed map-side (the per-row HOF
    * form — no streaming aggregation needed), exploded into the 8
    * two-row LSH band keys of the batch [[graft.operators.Dedup.bandsOf]]
    * with an int band_id. The band source of both streaming near-dup
    * forms. */
  private def bandStream(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.EngineFns.{minhashSig, shingles}
    import graft.operators.Dedup.{BandRows, NumPerms}
    tableStream(s, dir, "documents")
      .select(col("doc_id"),
        minhashSig(shingles(col("text"), 3), NumPerms).as("sig"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(NumPerms / BandRows - 1)), b =>
          struct(
            b.cast("int").as("band_id"),
            concat_ws(",", slice(col("sig"), b * BandRows + lit(1), lit(BandRows)))
              .as("band_key")))).as("band"))
      .select(col("band.band_id"), col("band.band_key"), col("doc_id"))
  }

  /** Streaming MinHash near-dup — the streaming half of the pipeline's
    * flagship dedup operator: documents stream in, each row computes its
    * 16-perm MinHash signature map-side (the per-row HOF form — no
    * streaming aggregation needed), explodes into 8 two-row LSH band
    * keys, and a per-bucket state store emits a candidate pair the
    * moment two documents collide on any band. Candidates are then
    * verified batch-side with the exact Jaccard, so the end-to-end
    * result is EXACTLY the batch dedup_minhash_pairs relation (shared
    * oracle) — arriving incrementally instead of via a corpus-wide
    * equi-join. At 100 TB rates the state store holds one doc_id list
    * per occupied bucket — fine for a finite suite; the CONTINUOUS
    * deployment uses streamingNearDupTtl below, whose buckets evict at
    * the ingest-time watermark. */
  def streamingNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = toMemory(s, "neardup", "update")(bandStream(s, dir).as[BandDoc]
      .groupByKey(b => (b.band_id, b.band_key))
      .flatMapGroupsWithState[Seq[Long], CandPair](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(bandBucketState))
    // batch-side exact-Jaccard verification of the streamed candidates
    // (a pair can surface from several bands and several micro-batches —
    // distinct first)
    jaccardVerify(s, dir, pairs)
  }

  /** Batch-side exact-Jaccard verification of streamed candidate pairs:
    * distinct-dedup the (multi-band, multi-batch) emissions, then attach
    * the exact shingle Jaccard — shared by the NoTimeout and TTL
    * near-dup forms so their outputs differ ONLY by the candidate set. */
  private def jaccardVerify(
      s: SparkSession, dir: String, pairs: DataFrame): DataFrame = {
    import graft.functions.EngineFns.shingles
    val sh = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
    pairs.distinct()
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.operators.Dedup.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** One LSH band assignment with the document's ingest time. */
  final case class BandDocT(
      band_id: Int, band_key: String, doc_id: Long, ts: java.sql.Timestamp)

  /** TTL band-bucket state — the WATERMARK-EVICTED form of
    * bandBucketState: occupants carry their ingest time, a newly
    * arriving document pairs only with occupants within the TTL (older
    * ones are pruned as it scans — they can never pair again because
    * ingest time is monotone in doc_id), and the whole bucket times out
    * at newestOccupant + TTL. State per bucket is bounded by the
    * collisions inside ONE TTL window, not all-time occupancy. */
  def bandBucketTtl(key: (Int, String), it: Iterator[BandDocT],
      state: GroupState[Seq[(Long, Long)]]): Iterator[CandPair] = {
    if (!it.hasNext && state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
      var acc = state.getOption.getOrElse(Seq.empty) // (doc_id, ts_us)
      it.toArray.distinctBy(_.doc_id).sortBy(_.doc_id).foreach { d =>
        val tUs = d.ts.getTime * 1000L
        acc = acc.filter { case (_, t0) => t0 >= tUs - NeardupTtlUs }
        acc.foreach { case (occ, _) =>
          if (occ != d.doc_id)
            out += CandPair(math.min(occ, d.doc_id), math.max(occ, d.doc_id))
        }
        if (!acc.exists(_._1 == d.doc_id)) acc = acc :+ (d.doc_id, tUs)
      }
      state.update(acc)
      acc.map(_._2).maxOption.foreach { newest =>
        state.setTimeoutTimestamp(newest / 1000L + NeardupTtlUs / 1000L)
      }
      out.iterator
    }
  }

  /** Streaming MinHash near-dup with TTL state eviction — the
    * deployable form of streamingNearDup: collisions only pair
    * documents ingested within NeardupTtlDocs of each other, and
    * expired buckets leave the state store at the watermark (the answer
    * to the unbounded band-bucket growth the NoTimeout form accepts for
    * finite suites). Same map-side signature/banding, same batch-side
    * exact-Jaccard verification; oracle adds the ingest-gap predicate. */
  def streamingNearDupTtl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    jaccardVerify(s, dir, toMemory(s, "neardup_ttl", "update")(bandStream(s, dir)
      .withColumn("ts", docEventTime)
      .withWatermark("ts", "1 minute")
      .as[BandDocT]
      .groupByKey(b => (b.band_id, b.band_key))
      .flatMapGroupsWithState[Seq[(Long, Long)], CandPair](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(bandBucketTtl)))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "stream_neardup",
      (s, dir) => streamingNearDup(s, dir),
      Some(graft.operators.Dedup.MinhashPairsOracleSql),
      bench = false),

    // Spark 4 state API v2 (transformWithState): per-user lifetime
    // stats in a typed ValueState on the RocksDB provider — the modern
    // replacement for [flat]mapGroupsWithState, with per-state TTL,
    // timers, and off-heap state. State per key is ONE fixed record;
    // the oracle is the equivalent batch aggregate.
    QueryDef(
      "stream_transform_state",
      (s, dir) => transformStateStats(s, dir),
      Some("""SELECT user_id, count(*) AS n_events,
                max(value) AS max_value,
                min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
                max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
              FROM events GROUP BY user_id ORDER BY user_id"""),
      // streaming family: wall is query-setup-dominated (source listing,
      // state-store init), off the headline sweep like its 24 siblings
      bench = false),
    QueryDef(
      "stream_interval_join",
      (s, dir) => intervalJoin(s, dir),
      Some("""SELECT p.event_id AS purchase_id, count(*) AS n_clicks_1h
              FROM events p JOIN events c
                ON c.user_id = p.user_id
               AND p.event_type = 'purchase' AND c.event_type = 'click'
               AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
               AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
              GROUP BY purchase_id ORDER BY purchase_id"""),
      bench = false),
    QueryDef(
      "stream_interval_join_left",
      (s, dir) => intervalJoinLeftOuter(s, dir),
      // batch LEFT JOIN oracle: count(c.event_id) scores a clickless
      // purchase as 0 — the row the streaming side emits null-padded
      // once the watermark passes its join window
      Some("""SELECT p.event_id AS purchase_id,
                count(c.event_id) AS n_clicks_1h
              FROM events p LEFT JOIN events c
                ON c.user_id = p.user_id
               AND c.event_type = 'click'
               AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
               AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
              WHERE p.event_type = 'purchase'
              GROUP BY purchase_id ORDER BY purchase_id"""),
      bench = false),
    QueryDef(
      "stream_interval_join_full",
      (s, dir) => intervalJoinFullOuter(s, dir),
      // batch FULL OUTER oracle: the purchase side replays the LEFT
      // form's per-purchase click count; the click side surfaces every
      // click no purchase window claimed (the rows only a FULL join
      // emits). Sentinel rows never reach the sink aggregate.
      Some("""WITH p AS (SELECT user_id, ts, event_id FROM events
                         WHERE event_type = 'purchase'),
                   c AS (SELECT user_id, ts, event_id FROM events
                         WHERE event_type = 'click'),
                   j AS (SELECT p.event_id AS p_id, c.event_id AS c_id
                         FROM p FULL OUTER JOIN c
                           ON c.user_id = p.user_id
                          AND CAST(c.ts AS TIMESTAMP) >=
                              CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
                          AND CAST(c.ts AS TIMESTAMP) <=
                              CAST(p.ts AS TIMESTAMP))
              SELECT side, event_id, n_matched FROM (
                SELECT 'purchase' AS side, p_id AS event_id,
                  count(c_id) AS n_matched
                FROM j WHERE p_id IS NOT NULL GROUP BY p_id
                UNION ALL
                SELECT 'click', c_id, CAST(0 AS BIGINT)
                FROM j WHERE p_id IS NULL)
              ORDER BY side, event_id"""),
      bench = false),
    QueryDef(
      "stream_sessionize",
      (s, dir) => sessionizeStream(s, dir),
      Some(graft.operators.Analytics.SessionizeOracleSql),
      bench = false),
    QueryDef(
      "stream_dedup",
      (s, dir) => streamingDedup(s, dir),
      Some("""SELECT event_type, count(DISTINCT event_id) AS n
              FROM events GROUP BY event_type ORDER BY event_type"""),
      bench = false),
    QueryDef(
      "stream_dedup_wm",
      (s, dir) => streamingDedupWm(s, dir),
      Some("""SELECT event_type, count(DISTINCT event_id) AS n
              FROM events GROUP BY event_type ORDER BY event_type"""),
      bench = false),
    QueryDef(
      "stream_hopping",
      (s, dir) => hoppingByType(s, dir),
      Some("""WITH b AS (
                SELECT make_timestamp((epoch_ms(ts) // 1800000) * 1800000000)
                         AS s1,
                       event_type
                FROM events),
              h AS (
                SELECT s1 AS win_start, event_type FROM b
                UNION ALL
                SELECT s1 - INTERVAL 30 MINUTE, event_type FROM b)
              SELECT win_start, event_type, count(*) AS n
              FROM h GROUP BY win_start, event_type
              ORDER BY win_start, event_type"""),
      bench = false),
    // Streaming OHLC resampling — the batch q_ohlc aggregate run
    // incrementally: open/close stay min_by/max_by on the same packed
    // bucket-relative time key (associative argmin/argmax, so partial
    // streaming aggregation applies unchanged), state is one OHLC row
    // per (type, 6h-bucket) — ∝ distinct buckets, never ∝ events — and
    // the oracle is SHARED VERBATIM with the batch operator, so the
    // incremental and batch resamplers can never drift.
    QueryDef(
      "stream_ohlc",
      (s, dir) => ohlcStreaming(s, dir),
      Some(graft.operators.Analytics.OhlcOracleSql),
      bench = false),
    QueryDef(
      "stream_state_read",
      (s, dir) => {
        // State-store INTROSPECTION (Spark 4 `statestore` batch reader):
        // run a complete-mode streaming aggregation against an explicit
        // checkpoint, then read the operator's state store back as a
        // BATCH DataFrame and surface (event_type, n) from the raw
        // state rows. This is the debugging/repair surface a 100 TB
        // streaming deployment lives by — inspect what the store
        // actually holds without replaying the stream — and the oracle
        // (plain batch GROUP BY over the same input) proves the store's
        // content IS the aggregate, bit-for-bit. State is domain-
        // bounded (one row per event type), so complete mode is the
        // deployable choice exactly as in stream_tv_drift.
        // the returned DataFrame reads the checkpoint LAZILY (the caller
        // materializes it after we return), so an eager finally-delete
        // would yank the store out from under the scan; clean up at JVM
        // exit instead, so repeated verify/test runs stop accumulating
        // state-store files (r9 advice)
        val ckpt = graft.jvmScratchDir("graft_state_rd").toString
        val sink = s"graft_stream_strd_${nameCounter.incrementAndGet()}"
        drain(tableStream(s, dir, "events")
          .groupBy("event_type").agg(count(lit(1)).as("n"))
          .writeStream.outputMode("complete").format("memory")
          .queryName(sink).option("checkpointLocation", ckpt))
        val st = s.read.format("statestore").load(ckpt)
        // the value struct's buffer field name is engine-internal
        // (count(1) today) — resolve it from the schema, not a literal,
        // and by the count-field NAME PATTERN, not position: if the
        // streaming aggregate ever gains a second buffer field, .head
        // would silently read the wrong column (r9 advice)
        val valueFields = st.schema("value").dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
        val valueField = valueFields
          .find(_.toLowerCase.contains("count"))
          .getOrElse {
            require(valueFields.length == 1,
              s"stream_state_read: no count-named buffer field and " +
                s"${valueFields.length} candidates " +
                s"(${valueFields.mkString(", ")}) — refusing to guess")
            valueFields.head
          }
        st.select(col("key.event_type").as("event_type"),
            col(s"value.`$valueField`").cast("long").as("n"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY event_type ORDER BY event_type"""),
      bench = false),

    // Lambda-architecture reconciliation — the backfill+increment merge
    // every migrating estate runs: HISTORY (events strictly before the
    // latest day) is aggregated as a plain batch pass, TODAY streams
    // through the same aggregate incrementally, and the serving view is
    // the keyed merge of the two — proven ≡ one batch aggregate over
    // everything by the oracle. The count aggregate is associative, so
    // batch/stream SPLIT POINT choice cannot change the merged result
    // (that invariance is exactly what makes the cutover safe to deploy
    // gradually). Shape: one batch hash aggregate + one complete-mode
    // streaming aggregate whose state is domain-bounded (one row per
    // event type — the stream_tv_drift argument) + a type-grain outer
    // join; the cut is a 1-row max(day) pre-flight. At 100 TB the
    // stream side only ever holds one day of increments' WORTH OF
    // GROUPS (not rows), and the batch side is the existing warehouse
    // aggregate.
    QueryDef(
      "stream_backfill_merge",
      (s, dir) => {
        val batch = graft.Tables.load(s, dir, "events")
        val cutRow = batch
          .agg(max(date_trunc("day", col("ts"))).as("cut")).collect()
        val cut = cutRow(0).getAs[java.sql.Timestamp]("cut")
        if (cut == null) // empty events: typed empty relation
          batch.limit(0).select(col("event_type"), lit(0L).as("n"))
        else {
          val hist = batch.filter(col("ts") < lit(cut))
            .groupBy("event_type").agg(count(lit(1)).as("n_hist"))
          val live = toMemory(s, "bfm", "complete")(tableStream(s, dir, "events")
            .filter(col("ts") >= lit(cut))
            .groupBy("event_type").agg(count(lit(1)).as("n_live")))
          hist.join(live, Seq("event_type"), "full_outer")
            .select(col("event_type"),
              (coalesce(col("n_hist"), lit(0L)) +
                coalesce(col("n_live"), lit(0L))).as("n"))
            .orderBy("event_type")
        }
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY event_type ORDER BY event_type"""),
      bench = false),

    QueryDef(
      "stream_hourly",
      (s, dir) => hourlyByType(s, dir),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
              FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""),
      bench = false),

    // Streaming top-k: the hourly event-type counts stream (state bounded
    // by the 1-hour watermark at scale) finished with a per-hour top-3
    // rank batch-side — the standard "dashboard leaderboard" split: the
    // UNBOUNDED part runs incrementally in the stream; the tiny top-k
    // over the aggregated (hours x types) table is a batch window pass
    // over the sink, ∝ distinct groups, never ∝ events.
    QueryDef(
      "stream_topk",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("hour").orderBy(col("n").desc, col("event_type").asc)
        hourlyByType(s, dir)
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select("hour", "rk", "event_type", "n")
          .orderBy("hour", "rk")
      },
      Some("""WITH a AS (
                SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                  event_type, count(*) AS n
                FROM events GROUP BY 1, 2),
              r AS (
                SELECT hour, event_type, n,
                  row_number() OVER (PARTITION BY hour
                    ORDER BY n DESC, event_type ASC) AS rk
                FROM a)
              SELECT hour, CAST(rk AS BIGINT) AS rk, event_type, n
              FROM r WHERE rk <= 3 ORDER BY hour, rk"""),
      bench = false),

    // Streaming drift monitor — q_hist_drift run incrementally: the
    // (bucket, arm) histogram state is domain-bounded (20 rows forever),
    // the TV statistic finishes batch-side on the sink. Same oracle as
    // the batch form, so the two alarms can never disagree.
    QueryDef(
      "stream_tv_drift",
      (s, dir) => tvDriftStreaming(s, dir),
      Some(graft.operators.Numerics.HistDriftOracleSql),
      bench = false),

    // Streaming changepoint — q_changepoint's daily series maintained
    // incrementally (calendar-bounded state), argmax finished by the
    // SAME shared builder; oracle shared verbatim with the batch form.
    QueryDef(
      "stream_changepoint",
      (s, dir) => changepointStreaming(s, dir),
      Some(graft.operators.Numerics.ChangepointOracleSql),
      bench = false),

    // Native session windows under Structured Streaming: the SAME
    // session_window aggregation as the batch form runs incrementally —
    // the session-merge state lives in the state store and sessions
    // extend/merge as events arrive. Complete mode keeps every session
    // in state here so the final table is the full corpus's sessions
    // (deterministic, oracle = the batch gaps-and-islands recipe); a
    // production deployment adds a watermark and append mode to evict
    // closed sessions instead.
    QueryDef(
      "stream_session_window",
      (s, dir) =>
        toMemory(s, "sesswin", "complete")(tableStream(s, dir, "events")
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events")))
          .select(col("user_id"),
            col("sw.start").as("session_start"),
            col("sw.end").as("session_end"),
            col("n_events"))
          .orderBy("user_id", "session_start"),
      Some(graft.operators.Analytics.SessionWindowOracleSql),
      bench = false),

    // The deployable form of stateful sessionization: EVENT-TIME
    // TIMEOUT + watermark. Closed sessions emit (append) and their
    // state is evicted — the store holds only OPEN sessions, unlike
    // stream_sessionize's NoTimeout handler which retains every user
    // forever. Same session relation, same gaps-and-islands oracle;
    // the sentinel stage closes trailing sessions so the finite run
    // is exact.
    QueryDef(
      "stream_session_ttl",
      (s, dir) => sessionizeTtl(s, dir),
      Some(graft.operators.Analytics.SessionWindowOracleSql),
      bench = false),

    // The state-API-v2 re-expression of stream_session_ttl: event-time
    // TIMERS (registerTimer / handleExpiredTimer) instead of
    // GroupStateTimeout, typed ValueState on RocksDB instead of
    // GroupState. Same session relation, same shared gaps-and-islands
    // oracle — API migration must not change semantics.
    QueryDef(
      "stream_transform_state_timers",
      (s, dir) => transformStateSessions(s, dir),
      Some(graft.operators.Analytics.SessionWindowOracleSql),
      bench = false),

    // ListState coverage (the v2 primitive stream_transform_state's
    // ValueState form can't express without serializing a whole list
    // per update): bounded per-user top-K by value.
    QueryDef(
      "stream_transform_state_list",
      (s, dir) => transformStateTopK(s, dir),
      Some("""SELECT user_id, rank, value, event_id FROM (
                SELECT user_id, value, event_id,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY value DESC, event_id) AS rank
                FROM events) t
              WHERE rank <= 3 ORDER BY user_id, rank"""),
      bench = false),

    // MapState coverage: per-(user, event_type) counters as map entries
    // with point updates.
    QueryDef(
      "stream_transform_state_map",
      (s, dir) => transformStateTypeCounts(s, dir),
      Some("""SELECT user_id, event_type,
                CAST(count(*) AS BIGINT) AS n_events
              FROM events GROUP BY user_id, event_type
              ORDER BY user_id, event_type"""),
      bench = false),

    // Streaming paragraph dedup: per-paragraph first-writer state gate,
    // shared chunking/rebuild/oracle with batch text_dedup_paragraph.
    QueryDef(
      "stream_paragraph_dedup",
      (s, dir) => streamParagraphDedup(s, dir),
      Some(graft.operators.Dedup.ParagraphDedupOracleSql),
      bench = false),

    // TTL forms of the standing-state streaming dedups: same relations
    // as their NoTimeout siblings restricted to the ingest-time TTL
    // window, with state-store EVICTION at the watermark — the
    // deployable shapes (state ∝ one TTL window, not all history).
    QueryDef(
      "stream_paragraph_dedup_ttl",
      (s, dir) => streamParagraphDedupTtl(s, dir),
      Some(graft.operators.Dedup.ParagraphDedupTtlOracleSql),
      bench = false),
    QueryDef(
      "stream_neardup_ttl",
      (s, dir) => streamingNearDupTtl(s, dir),
      Some(graft.operators.Dedup.MinhashPairsTtlOracleSql),
      bench = false),

    // Streaming ANN serving: offline IVF index, online query stream,
    // foreachBatch search — same plan and oracle as batch sim_ann_ivf.
    QueryDef(
      "stream_ann_probe",
      (s, dir) => streamAnnProbe(s, dir),
      Some(graft.operators.Similarity.ivfOracleSql(nprobe = 1)),
      bench = false),

    QueryDef(
      "stream_foreach_merge",
      (s, dir) => foreachBatchMerge(s, dir),
      // same argmax relation as stream_latest_by_key: (user_id, ts) is
      // unique in this corpus, so the ts-argmax is tie-free
      Some("""SELECT user_id,
                arg_max(event_id, epoch_us(CAST(ts AS TIMESTAMP))) AS latest_event_id,
                max(epoch_us(CAST(ts AS TIMESTAMP))) AS latest_ts_us
              FROM events GROUP BY user_id ORDER BY user_id"""),
      bench = false),

    QueryDef(
      "stream_latest_by_key",
      (s, dir) => latestByKey(s, dir),
      // (user_id, ts) is unique in this corpus, so the ts-argmax is
      // tie-free; event_id in the Spark state is only a defensive
      // fallback that never decides here
      Some("""SELECT user_id,
                arg_max(event_id, epoch_us(CAST(ts AS TIMESTAMP))) AS latest_event_id,
                max(epoch_us(CAST(ts AS TIMESTAMP))) AS latest_ts_us
              FROM events GROUP BY user_id ORDER BY user_id"""),
      bench = false),

    // Stream-static join: the event stream enriched against the STATIC
    // customer dimension (re-read per micro-batch, broadcast because the
    // dim is small) and aggregated by market segment — the canonical
    // "enrich the firehose with reference data" shape. The static side
    // never enters the state store: only the post-join aggregate is
    // stateful, so state is ∝ (segment x type) groups regardless of
    // stream volume. At 100 TB rates the same plan holds — broadcast dim
    // + map-side enrichment + windowed/keyed aggregation.
    QueryDef(
      "stream_static_enrich",
      (s, dir) => {
        val cust = broadcast(graft.Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")))
        toMemory(s, "enrich", "complete")(tableStream(s, dir, "events")
          .join(cust, col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment", "event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(12,2)")).cast("double")
              .as("total_value")))
          .orderBy("c_mktsegment", "event_type")
      },
      Some("""SELECT c_mktsegment, event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
              FROM events JOIN customer ON user_id = c_custkey
              GROUP BY c_mktsegment, event_type
              ORDER BY c_mktsegment, event_type"""),
      bench = false),

    // Streaming ingest dedup against a STANDING corpus: the incoming
    // document stream is fingerprinted (md5 of the text bytes) and
    // checked against the static fingerprint index of what the corpus
    // already holds (docs with doc_id % 7 == 0 stand in for the
    // previously-ingested set); only novel documents pass. STATELESS —
    // the standing index is a static side (broadcast at this size,
    // re-readable per micro-batch), so unlike stream_dedup there is no
    // state store at all: the state IS the standing index, exactly how a
    // production ingest gate holds its fingerprint table. Implemented as
    // a stream-static LEFT OUTER join + null filter (the anti-join
    // formulation Structured Streaming supports for static right sides);
    // append mode, each novel doc emitted exactly once.
    QueryDef(
      "stream_ingest_dedup",
      (s, dir) => {
        val standing = broadcast(
          graft.Tables.load(s, dir, "documents")
            .filter(col("doc_id") % 7 === 0)
            .select(md5(col("text").cast("binary")).as("fp"))
            .distinct()
            .withColumn("seen", lit(1)))
        toMemory(s, "ingest", "append")(tableStream(s, dir, "documents")
          .filter(col("doc_id") % 7 =!= 0)
          .withColumn("fp", md5(col("text").cast("binary")))
          .join(standing, Seq("fp"), "left_outer")
          .filter(col("seen").isNull)
          .select(col("doc_id"), col("fp")))
          .orderBy("doc_id")
      },
      Some("""SELECT d.doc_id, md5(d.text) AS fp
              FROM documents d
              WHERE d.doc_id % 7 != 0
                AND NOT EXISTS (
                  SELECT 1 FROM documents x
                  WHERE x.doc_id % 7 = 0 AND md5(x.text) = md5(d.text))
              ORDER BY d.doc_id"""),
      bench = false),

    // Streaming model-based quality gate: the text_quality_model linear
    // scorer (shared Column builder — the batch and streaming gates
    // cannot drift) applied to the document stream as a pure map-only
    // filter. No aggregation, no watermark, no state store: each doc is
    // scored and passed/dropped in the micro-batch it arrives in —
    // the shape of every stateless ingest transform at 100 TB rates.
    QueryDef(
      "stream_quality_gate",
      (s, dir) =>
        toMemory(s, "qgate", "append")(tableStream(s, dir, "documents")
          .withColumn("margin",
            graft.operators.TextAnalysis.qualityMargin(col("text")))
          .filter(col("margin") >= 0L)
          .select("doc_id", "margin"))
          .orderBy("doc_id"),
      Some(s"""WITH f AS (
                 SELECT doc_id,
                   ${graft.operators.TextAnalysis.QualityMarginSql} AS margin
                 FROM documents)
               SELECT doc_id, margin FROM f
               WHERE margin >= 0 ORDER BY doc_id"""),
      bench = false),

    // The STREAMING capstone — the ingest half of pipeline_corpus_clean
    // composed end-to-end on one stream: quality gate (stateless map,
    // the same Column builders as batch) → exact first-writer dedup
    // (per-text state gate, the paraGateState shape keyed on the whole
    // document) → stable 90/5/5 split (stateless hash) → per-(split,
    // lang) corpus statistics. The near-dup stage deliberately stays
    // batch-side (pipeline_corpus_clean): a streaming near-dup needs
    // either the standing-index pattern (stream_ingest_dedup) or TTL
    // banding (stream_neardup_ttl), both shipped separately — composing
    // them here would hide that design choice. State ∝ distinct kept
    // texts (a production gate persists fingerprints, not text — see
    // stream_ingest_dedup for the stateless form); everything after the
    // gate is stateless, so 100 TB/day rates stress only the dedup
    // store. With the whole corpus in one batch the min-doc_id winner
    // matches the batch total order, so the oracle is the batch CTE
    // chain minus the simhash stage.
    QueryDef(
      "stream_pipeline_clean",
      (s, dir) => {
        import s.implicits._
        import graft.operators.TextAnalysis.{qualityGate, splitBucket, splitOf}
        val kept = toMemory(s, "pipeclean", "update")(tableStream(s, dir, "documents")
          .filter(qualityGate(col("text")))
          .select(col("doc_id"), col("text"), col("lang"))
          .as[CleanDoc]
          .groupByKey(_.text)
          .flatMapGroupsWithState[Long, CleanDoc](
            OutputMode.Update, GroupStateTimeout.NoTimeout)(docGateState))
        kept
          .withColumn("split", splitOf(splitBucket(col("doc_id"))))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
          .orderBy("split", "lang")
      },
      Some(s"""WITH ${graft.operators.TextAnalysis.qualityGateSql("doc_id, text, lang")},
              dd AS (
                SELECT doc_id, text, lang FROM (
                  SELECT k.*, min(doc_id) OVER (PARTITION BY text) AS rep
                  FROM kept k)
                WHERE doc_id = rep),
              sp AS (
                SELECT lang, text, ${graft.operators.TextAnalysis.splitSql("doc_id")} AS split
                FROM dd)
              SELECT split, lang, count(*) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
              FROM sp GROUP BY split, lang
              ORDER BY split, lang"""),
      bench = false),

    // Streaming ingest rate limiter — per-(user, day) quota enforcement
    // at the door: every principal may land at most 3 events per
    // calendar day; the 4th and later are dropped IN the stream, before
    // any downstream state or storage sees them (the standard abuse /
    // cost-control gate in front of a 100 TB/day ingest). Admission is
    // deterministic: earliest events by (event time, event_id) win the
    // quota, so the admitted set is replayable and the batch oracle is
    // the plain row_number gate. State is ONE long per (user, day) —
    // the consumed count — not the events themselves; a production
    // deployment adds EventTimeTimeout to expire closed days (the
    // stream_session_ttl pattern, kept separate here for the same
    // reason stream_dedup and stream_dedup_wm ship separately). With
    // the whole corpus in one micro-batch the per-group sort makes
    // admission match the batch total order bit-for-bit; per-group
    // input is bounded by a single principal's one-day event volume.
    QueryDef(
      "stream_rate_limit",
      (s, dir) => {
        import s.implicits._
        toMemory(s, "rlimit", "update")(tableStream(s, dir, "events")
          .select(col("event_id").cast("long").as("event_id"),
            col("user_id").cast("long").as("user_id"),
            unix_micros(date_trunc("day", col("ts"))).as("day_us"),
            unix_micros(col("ts")).as("ts_us"))
          .as[RlEv]
          .groupByKey(e => (e.user_id, e.day_us))
          .flatMapGroupsWithState[Long, RlAdmit](
            OutputMode.Update, GroupStateTimeout.NoTimeout)(rateLimitState))
          .select(col("user_id"), timestamp_micros(col("day_us")).as("day"),
            col("event_id"), col("rk"))
          .orderBy("user_id", "day", "rk")
      },
      Some("""WITH e AS (
                SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t,
                  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                    AS day
                FROM events),
              r AS (
                SELECT user_id, day, event_id,
                  row_number() OVER (PARTITION BY user_id, day
                    ORDER BY t, event_id) AS rk
                FROM e)
              SELECT user_id, day, event_id, CAST(rk AS BIGINT) AS rk
              FROM r WHERE rk <= 3
              ORDER BY user_id, day, rk"""),
      bench = false),

    // Streaming SCD2 maintenance — the INCREMENTAL form of
    // q_scd2_versions: a dimension attribute (the $50 spend band of
    // each signup/purchase) tracked as type-2 history rows
    // (value, valid_from, valid_to) maintained IN the stream, the way
    // a production dimension table absorbs a CDC feed without a
    // nightly rebuild. Per key, consecutive equal bands collapse
    // (no-op updates produce no version); each change closes the open
    // version and opens a new one. State is ONE (band, from) pair per
    // key — the open version — never the history (closed versions are
    // emitted and leave the store). With the whole corpus in one
    // micro-batch the per-group sort makes version boundaries match
    // the batch total order bit-for-bit, so the oracle is the plain
    // lag/lead window chain.
    QueryDef(
      "stream_scd2_apply",
      (s, dir) => {
        import s.implicits._
        val versions = toMemory(s, "scd2", "update")(tableStream(s, dir, "events")
          .filter(col("event_type").isin("signup", "purchase"))
          .select(col("user_id").cast("long").as("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            col("event_id").cast("long").as("event_id"),
            expr("""CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    div 5000""").as("band"))
          .as[ScdEv]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState[(Long, Long), ScdVer](
            OutputMode.Update, GroupStateTimeout.NoTimeout)(scd2State))
        // the memory sink APPENDS update-mode emissions: across 2+
        // micro-batches the open version (valid_to_us NULL) emitted in
        // batch k is not retracted when batch k+1 closes it, so the
        // sink can hold both rows for one (user_id, valid_from_us).
        // Collapse to the latest: max(valid_to_us) ignores NULL and
        // keeps the close when one exists; band is identical across
        // the pair (a version's value never changes, only its close).
        versions
          .groupBy(col("user_id"), col("valid_from_us"))
          .agg(max(col("band")).as("band"),
            max(col("valid_to_us")).as("valid_to_us"))
          .select(col("user_id"), col("band"), col("valid_from_us"),
            col("valid_to_us"))
          .orderBy("user_id", "valid_from_us")
      },
      Some("""WITH e AS (
                SELECT user_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    // 5000 AS band
                FROM events WHERE event_type IN ('signup', 'purchase')),
              o AS (
                SELECT user_id, us, event_id, band,
                  lag(band) OVER (PARTITION BY user_id
                    ORDER BY us, event_id) AS pband
                FROM e),
              c AS (
                SELECT user_id, band, us, event_id FROM o
                WHERE pband IS NULL OR band != pband),
              v AS (
                SELECT user_id, band, us AS valid_from_us,
                  lead(us) OVER (PARTITION BY user_id
                    ORDER BY us, event_id) AS valid_to_us
                FROM c)
              SELECT user_id, band, valid_from_us, valid_to_us
              FROM v ORDER BY user_id, valid_from_us"""),
      bench = false)
  )

  /** Per-day admission quota for stream_rate_limit. */
  val RateLimitN: Long = 3L

  /** One candidate event at the rate-limit gate (key: user_id, day_us). */
  final case class RlEv(event_id: Long, user_id: Long, day_us: Long,
      ts_us: Long)

  /** One admitted event with its within-quota rank. */
  final case class RlAdmit(user_id: Long, day_us: Long, event_id: Long,
      rk: Long)

  /** One dimension-attribute observation for stream_scd2_apply. */
  final case class ScdEv(user_id: Long, ts_us: Long, event_id: Long,
      band: Long)

  /** One emitted type-2 version row (valid_to_us = None while open). */
  final case class ScdVer(user_id: Long, band: Long, valid_from_us: Long,
      valid_to_us: Option[Long])

  /** flatMapGroupsWithState body for stream_scd2_apply: state is the
    * OPEN version's (band, valid_from); each micro-batch sorts its
    * slice, collapses no-op updates, closes versions on change, and
    * leaves exactly the open pair behind. */
  def scd2State(key: Long, it: Iterator[ScdEv],
      state: GroupState[(Long, Long)]): Iterator[ScdVer] = {
    val sorted = it.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
    var open = state.getOption // (band, valid_from_us)
    val out = Vector.newBuilder[ScdVer]
    sorted.foreach { e =>
      open match {
        case Some((b, from)) if b != e.band =>
          out += ScdVer(key, b, from, Some(e.ts_us))
          open = Some((e.band, e.ts_us))
        case None =>
          open = Some((e.band, e.ts_us))
        case _ => () // no-op update: same band, no version
      }
    }
    open.foreach { o =>
      state.update(o)
      out += ScdVer(key, o._1, o._2, None)
    }
    out.result().iterator
  }

  /** flatMapGroupsWithState body for stream_rate_limit: state is the
    * count already consumed by this (user, day); each micro-batch sorts
    * its group slice by event time (bounded: one principal's one-day
    * volume), continues the count, and admits ranks ≤ RateLimitN. */
  def rateLimitState(key: (Long, Long), it: Iterator[RlEv],
      state: GroupState[Long]): Iterator[RlAdmit] = {
    val taken = if (state.exists) state.get else 0L
    val sorted = it.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
    state.update(taken + sorted.size)
    sorted.iterator.zipWithIndex.collect {
      case (e, i) if taken + i + 1 <= RateLimitN =>
        RlAdmit(e.user_id, e.day_us, e.event_id, taken + i + 1)
    }
  }

  /** One quality-gated document flowing through the streaming capstone. */
  final case class CleanDoc(doc_id: Long, text: String, lang: String)

  /** Per-text first-writer gate (the paraGateState shape on whole
    * documents): the min-doc_id arrival wins the key, later exact
    * duplicates are suppressed by the stored marker. */
  def docGateState(text: String, it: Iterator[CleanDoc],
      state: GroupState[Long]): Iterator[CleanDoc] = {
    if (state.exists) Iterator.empty
    else {
      val w = it.minBy(_.doc_id)
      state.update(w.doc_id)
      Iterator.single(w)
    }
  }
}
