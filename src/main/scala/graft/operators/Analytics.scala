package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}
import graft.functions.EngineFns.tokens
import graft.operators.Relational.dec

/** Advanced analytics: pivot, exact percentiles, array scalar functions,
  * as-of join (composed from union + window — Spark has no native as-of),
  * and gap-based sessionization (declarative window form plus a typed
  * flatMapGroups form, cross-checked in tests).
  *
  * Scale notes: the as-of composition is shuffle-optimal — one hash
  * shuffle on the join key, then a per-partition ordered window scan;
  * equivalent to a sort-merge as-of without materializing candidate
  * ranges. Sessionization shuffles once on user_id; the window scan is
  * linear per user.
  */
object Analytics {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Typed record for the flatMapGroups sessionizer. */
  final case class Ev(event_id: Long, user_id: Long, ts_us: Long)
  final case class SessionRow(event_id: Long, user_id: Long, session_idx: Long)

  /** Session inactivity gap, shared by all three sessionization forms
    * (window, flatMapGroups, streaming flatMapGroupsWithState). */
  val SessionGapUs: Long = 1800L * 1000000L // 30 min

  /** The sessionization oracle — shared verbatim by q_sessionize and
    * stream_sessionize so the three forms cannot drift apart. */
  val SessionizeOracleSql: String =
    s"""WITH x AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t,
            lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) AS pt
          FROM events)
        SELECT event_id, user_id,
          CAST(sum(CASE WHEN pt IS NOT NULL AND epoch_us(t) - epoch_us(pt) > $SessionGapUs THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        FROM x ORDER BY event_id"""

  val defs: Seq[QueryDef] = Seq(

    // Pivot: group-by with column-per-category aggregation.
    QueryDef(
      "q_pivot",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(sum(dec(col("l_quantity"))).cast("double"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS "F",
                CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS "O"
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Exact interpolated percentiles (Spark `percentile` == DuckDB
    // quantile_cont; l_quantity is integral so interpolation is exact).
    QueryDef(
      "q_percentile",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("percentile(l_quantity, 0.25)").as("p25"),
            expr("percentile(l_quantity, 0.5)").as("p50"),
            expr("percentile(l_quantity, 0.75)").as("p75"),
            expr("percentile(l_quantity, 0.95)").as("p95"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                quantile_cont(l_quantity, 0.25) AS p25,
                quantile_cont(l_quantity, 0.5) AS p50,
                quantile_cont(l_quantity, 0.75) AS p75,
                quantile_cont(l_quantity, 0.95) AS p95
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Array scalar functions over the embedding column.
    QueryDef(
      "q_array_fns",
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(
            col("vec_id"),
            size(col("embedding")).cast("long").as("n_dims"),
            element_at(col("embedding"), 1).cast("double").as("first_val"),
            array_max(col("embedding")).cast("double").as("max_val"),
            array_min(col("embedding")).cast("double").as("min_val"))
          .orderBy("vec_id"),
      Some("""SELECT vec_id,
                CAST(len(embedding) AS BIGINT) AS n_dims,
                CAST(embedding[1] AS DOUBLE) AS first_val,
                CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_val,
                CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS min_val
              FROM embeddings ORDER BY vec_id""")),

    // As-of join: each error event matched to the latest purchase event of
    // the same user at-or-before it. Composed as union + ordered window
    // (last non-null carry-forward) — one shuffle on user_id, no range
    // explosion. Oracle uses DuckDB's native ASOF JOIN.
    QueryDef(
      "q_asof_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("src_id"),
            lit(0).as("kind"))
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts"), col("event_id").as("src_id"),
            lit(1).as("kind"))
        // (user_id, ts) is unique; kind orders a purchase before an error
        // at an identical timestamp, matching ASOF's inclusive >=.
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("kind"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        purchases.unionAll(errors)
          .withColumn("p_event_id",
            last(when(col("kind") === 0, col("src_id")), ignoreNulls = true).over(w))
          .withColumn("p_ts",
            last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
          .filter(col("kind") === 1 && col("p_event_id").isNotNull)
          .select(
            col("src_id").as("event_id"),
            col("p_event_id"),
            ((unix_micros(col("ts")) - unix_micros(col("p_ts"))).cast("double")
              / 1000000.0).as("gap_seconds"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, p.event_id AS p_event_id,
                CAST(epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(CAST(p.ts AS TIMESTAMP)) AS DOUBLE) / 1000000.0 AS gap_seconds
              FROM (SELECT * FROM events WHERE event_type = 'error') e
              ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
                ON e.user_id = p.user_id AND CAST(e.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)
              ORDER BY e.event_id""")),

    // NEAREST as-of join — the bidirectional variant feature pipelines
    // need when "most recent" is wrong (sensor alignment, label
    // attachment): each error matches the purchase closest in TIME,
    // before or after, ties to the earlier one. Same single-shuffle
    // composition as q_asof_join — one union, one (user_id; ts, kind)
    // sort serving BOTH window frames (backward last-carry + forward
    // first-carry), then a pure projection picks the closer side. No
    // range explosion, no self-join; the oracle is the quadratic
    // per-user LATERAL argmin the window form replaces.
    QueryDef(
      "q_asof_nearest",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id").as("src_id"), lit(0).as("kind"))
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id").as("src_id"), lit(1).as("kind"))
        // src_id is the final tie-break: (user_id, ts) is unique on this
        // corpus, but two purchases at one microsecond must still pick
        // deterministically — back frame's last() then takes the LARGEST
        // src_id among equal-us purchases, fwd frame's first() the
        // smallest; the oracle's CASE tie-break replays exactly that.
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("kind"), col("src_id"))
        val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val isP = col("kind") === 0
        val picked = purchases.unionAll(errors)
          .withColumn("pb_id",
            last(when(isP, col("src_id")), ignoreNulls = true).over(back))
          .withColumn("pb_us",
            last(when(isP, col("us")), ignoreNulls = true).over(back))
          .withColumn("pf_id",
            first(when(isP, col("src_id")), ignoreNulls = true).over(fwd))
          .withColumn("pf_us",
            first(when(isP, col("us")), ignoreNulls = true).over(fwd))
          .filter(col("kind") === 1)
        val takeBack = col("pf_id").isNull ||
          (col("pb_id").isNotNull &&
            (col("us") - col("pb_us")) <= (col("pf_us") - col("us")))
        picked
          .withColumn("p_event_id",
            when(takeBack, col("pb_id")).otherwise(col("pf_id")))
          .withColumn("p_us",
            when(takeBack, col("pb_us")).otherwise(col("pf_us")))
          .filter(col("p_event_id").isNotNull)
          .select(col("src_id").as("event_id"), col("p_event_id"),
            ((col("us") - col("p_us")).cast("double") / 1000000.0)
              .as("gap_seconds"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (
                SELECT event_id, user_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
                FROM events WHERE event_type = 'error'),
              p AS (
                SELECT event_id, user_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
                FROM events WHERE event_type = 'purchase')
              SELECT e.event_id, sel.p_event_id, sel.gap_seconds
              FROM e JOIN LATERAL (
                SELECT p.event_id AS p_event_id,
                  CAST(e.us - p.us AS DOUBLE) / 1000000.0 AS gap_seconds
                FROM p WHERE p.user_id = e.user_id
                ORDER BY abs(e.us - p.us) ASC, p.us ASC,
                  CASE WHEN p.us <= e.us THEN -p.event_id
                       ELSE p.event_id END ASC LIMIT 1) sel ON true
              ORDER BY event_id""")),

    // Gap-based sessionization (30-min inactivity) — declarative window
    // form: flag session starts with lag, then a running sum numbers the
    // sessions per user.
    QueryDef(
      "q_sessionize",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        val run = Window.partitionBy(col("user_id")).orderBy(col("ts"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("new_sess",
            when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
              > SessionGapUs, 1).otherwise(0))
          .select(
            col("event_id"), col("user_id"),
            sum(col("new_sess")).over(run).cast("long").as("session_idx"))
          .orderBy("event_id")
      },
      Some(SessionizeOracleSql)),

    // Range join with an equi-key anchor: lineitems shipped within 30
    // days of their order's date. The equi-key keeps it a hash join with
    // a residual range predicate — never a cartesian range explosion.
    QueryDef(
      "q_range_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        li.join(o, col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 30 DAY"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_fast_lines"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_fast_lines
              FROM lineitem JOIN orders
                ON l_orderkey = o_orderkey
               AND l_shipdate >= o_orderdate
               AND l_shipdate < o_orderdate + INTERVAL 30 DAY
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Multiset set-operations (bag semantics).
    QueryDef(
      "q_set_ops_all",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_nationkey").as("nkey"))
        val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nkey"))
        c.intersectAll(sup).groupBy("nkey").agg(count(lit(1)).as("n"))
          .withColumn("op", lit("intersect_all"))
          .unionAll(
            c.exceptAll(sup).groupBy("nkey").agg(count(lit(1)).as("n"))
              .withColumn("op", lit("except_all")))
          .select("op", "nkey", "n")
          .orderBy("op", "nkey")
      },
      Some("""SELECT 'except_all' AS op, nkey, count(*) AS n FROM
                (SELECT c_nationkey AS nkey FROM customer
                 EXCEPT ALL SELECT s_nationkey FROM supplier)
              GROUP BY nkey
              UNION ALL
              SELECT 'intersect_all' AS op, nkey, count(*) AS n FROM
                (SELECT c_nationkey AS nkey FROM customer
                 INTERSECT ALL SELECT s_nationkey FROM supplier)
              GROUP BY nkey
              ORDER BY op, nkey""")),

    // Sketch aggregates: HLL distinct counts and t-digest percentiles.
    // The sketch ESTIMATES are engine-private (no SQL oracle can replay
    // HLL register merges), so the driver-facing row folds each
    // estimate into an oracle-expressible VALIDITY FLAG instead of a
    // rows-only entry: hll_ok = the HLL count lands within a generous
    // bound of the exact count computed in the same aggregate
    // (rsd 0.05 sketch, 20%+32 slack); median_rank_ok = the RANK of the
    // t-digest median inside its group sits within 5% of 0.5 (Spark's
    // approx_percentile guarantees rank error <= 1/accuracy = 0.001 —
    // the check is distribution-free, unlike a value-error bound). The
    // oracle asserts exact_cust bit-for-bit and both flags TRUE, so a
    // broken sketch now FAILS CORRECTNESS rather than hiding in a
    // rows-only row. Tight bounds stay in AnalyticsSpec over
    // `approxSketchesRaw`. Shape: one grouped aggregate (exact +
    // sketches in a single pass) + one broadcast of the 3-row result
    // back over orders for the rank count — scale-safe at any corpus.
    QueryDef(
      "q_approx_sketches",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val agg = o.groupBy("o_orderstatus")
          .agg(
            countDistinct(col("o_custkey")).as("exact_cust"),
            approx_count_distinct(col("o_custkey")).as("approx_cust"),
            expr("approx_percentile(o_totalprice, 0.5, 1000)")
              .as("approx_median"),
            count(lit(1)).as("n_rows"))
        val below = o
          .join(broadcast(agg.select("o_orderstatus", "approx_median")),
            Seq("o_orderstatus"))
          .groupBy("o_orderstatus")
          .agg(sum(when(col("o_totalprice") <= col("approx_median"), 1L)
            .otherwise(0L)).as("n_below"))
        agg.join(below, Seq("o_orderstatus"))
          .select(col("o_orderstatus"), col("exact_cust"),
            (abs(col("approx_cust") - col("exact_cust")) <=
              greatest(col("exact_cust") * lit(0.2), lit(32.0))).as("hll_ok"),
            (abs(col("n_below") - col("n_rows") * lit(0.5)) <=
              col("n_rows") * lit(0.05) + lit(1.0)).as("median_rank_ok"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
                count(DISTINCT o_custkey) AS exact_cust,
                TRUE AS hll_ok, TRUE AS median_rank_ok
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Exact companions of the sketch aggregates, split into their own
    // oracle-checked query (round-2 advice: exact columns hidden inside
    // the rows-only sketch query could regress unnoticed). The median is
    // computed over integral CENTS so the 0.5-interpolation midpoint is
    // exact in double regardless of each engine's interpolation formula;
    // the final /100.0 is the same IEEE division in both engines.
    QueryDef(
      "q_sketch_exact",
      (s, dir) =>
        // spread the under-split scan feeding the distinct/percentile
        // partials (conditional; no-op on a pre-split input)
        Tables.parallel(s, t(s, dir, "orders"))
          .groupBy("o_orderstatus")
          .agg(
            countDistinct(col("o_custkey")).as("exact_cust"),
            expr("percentile(cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint), 0.5) / 100.0")
              .as("exact_median"))
          .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
                count(DISTINCT o_custkey) AS exact_cust,
                quantile_cont(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT), 0.5) / 100.0 AS exact_median
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Map-typed columns: per-user event_type→count maps built with
    // map_from_entries over an aggregation, then consumed with
    // element_at / size. The map itself is unordered, so the outputs are
    // LOOKUPS (deterministic regardless of collect order); the oracle
    // computes the same lookups as conditional counts. One shuffle on
    // (user_id, event_type) with map-side partials, then a narrow
    // regroup to user_id.
    QueryDef(
      "q_map_fns",
      (s, dir) => {
        val perType = t(s, dir, "events")
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n"))
        perType.groupBy("user_id")
          .agg(map_from_entries(
            collect_list(struct(col("event_type"), col("n")))).as("m"))
          .select(col("user_id"),
            size(col("m")).cast("long").as("n_types"),
            coalesce(element_at(col("m"), "click"), lit(0L)).as("clicks"),
            coalesce(element_at(col("m"), "purchase"), lit(0L)).as("purchases"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
                count(DISTINCT event_type) AS n_types,
                CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS clicks,
                CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchases
              FROM events GROUP BY user_id ORDER BY user_id""")),

    // Unpivot (wide → long melt), the inverse of q_pivot: per-returnflag
    // aggregates melted to (key, metric, value) rows with the native
    // Dataset.unpivot operator — a zero-shuffle projection-side expansion
    // (each input row emits one row per value column, no exchange beyond
    // the aggregation that feeds it). Oracle is the portable UNION ALL
    // formulation of the same melt.
    QueryDef(
      "q_unpivot",
      (s, dir) => {
        val agg = t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
            sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
            count(lit(1)).cast("double").as("n_rows"))
        agg.unpivot(
            Array(col("l_returnflag")),
            Array(col("sum_qty"), col("sum_price"), col("n_rows")),
            "metric", "value")
          .orderBy("l_returnflag", "metric")
      },
      Some("""WITH a AS (
                SELECT l_returnflag,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
                  CAST(count(*) AS DOUBLE) AS n_rows
                FROM lineitem GROUP BY l_returnflag)
              SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
              UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM a
              UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM a
              ORDER BY l_returnflag, metric""")),

    // Positional explode (lateral view): every document flattened to
    // (doc_id, pos, token) rows with posexplode — the generator runs
    // inside the scan stage (map-only, no shuffle before the presentation
    // sort), which is how a 100 TB tokenize-and-flatten pass must behave.
    // Oracle indexes the split array through a LATERAL range.
    QueryDef(
      "q_explode_pos",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), posexplode(tokens(col("text"))))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("col").as("token"))
          .orderBy("doc_id", "pos"),
      Some("""SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                string_split(text, ' ')[i] AS token
              FROM documents, LATERAL (SELECT unnest(range(1,
                len(string_split(text, ' ')) + 1)) AS i) ix
              ORDER BY doc_id, pos""")),

    // Time-series gap fill: per-user hourly event counts with MISSING
    // hours materialized as zero rows — sequence(min_hour, max_hour,
    // 1 hour) exploded per user, left-joined to the observed counts.
    // Both sides are partitioned by user_id (one shuffle each), so the
    // join co-locates; the dense hour spine never leaves the executors.
    QueryDef(
      "q_gapfill",
      (s, dir) => {
        val e = t(s, dir, "events")
          .filter(col("user_id") < 50)
          .select(col("user_id"),
            date_trunc("hour", col("ts")).as("h"), col("value"))
        val counts = e.groupBy("user_id", "h")
          .agg(count(lit(1)).as("n"),
            sum(dec(col("value"))).cast("double").as("total_value"))
        val spine = e.groupBy("user_id")
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("user_id"),
            explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
        spine.join(counts, Seq("user_id", "h"), "left")
          .select(col("user_id"), col("h"),
            coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("total_value"), lit(0.0)).as("total_value"))
          .orderBy("user_id", "h")
      },
      Some("""WITH e AS (
                SELECT user_id,
                  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, value
                FROM events WHERE user_id < 50),
              c AS (
                SELECT user_id, h, count(*) AS n,
                  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
                FROM e GROUP BY 1, 2),
              b AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM e GROUP BY 1),
              g AS (SELECT user_id,
                unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b)
              SELECT g.user_id, g.h,
                coalesce(c.n, 0) AS n,
                coalesce(c.total_value, 0.0) AS total_value
              FROM g LEFT JOIN c ON g.user_id = c.user_id AND g.h = c.h
              ORDER BY g.user_id, g.h""")),

    // Statistical aggregates (corr / covariance / stddev) computed from
    // EXACT integer moments: x = quantity (integral), y = price in cents
    // (exact via DECIMAL(12,2)), then n/Sx/Sy/Sxy/Sx2 as bigints and Sy2
    // in DECIMAL(38,0) (y² reaches 1e14, so its sf0.1 group sums exceed
    // 2^63). The finishing formulas run in double with ONE canonical
    // operation order mirrored in the oracle — exact-integer → double
    // casts are correctly rounded in both engines, so the result is
    // bit-identical without any decimal-division drift. Scale shape: one
    // hash shuffle with map-side partial moments, exactly like any sum.
    QueryDef(
      "q_stats_agg",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(
          col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("y"))
        val m = li.groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("sy2"))
        val dn = col("n").cast("double")
        val dsx = col("sx").cast("double")
        val dsy = col("sy").cast("double")
        val dsxy = col("sxy").cast("double")
        val dsx2 = col("sx2").cast("double")
        // sy2 = sum(cents^2) is the registry's tightest 2^64 margin
        // (r12 cast audit: 7.4e18 at sf0.1, 2.5x headroom) and a 100 TB
        // group legitimately exceeds 2^64, where DuckDB's direct
        // HUGEINT->DOUBLE half-splitting cast is not correctly rounded.
        // Split-cast hi/lo at 2^32 on BOTH engines: each cast input
        // stays < 2^64 (correctly rounded) up to sy2 < 2^95 — the hard
        // edge is Spark's DIV yielding LongType, so the quotient
        // overflows (loud, ANSI) at sy2 >= 2^95 while DuckDB's HUGEINT
        // // succeeds; below that the float sequence is identical
        // cross-engine and nothing throws at scale. For sy2 < 2^53 this reconstructs the direct cast
        // bit-exactly.
        val dsy2 =
          expr("CAST(sy2 DIV 4294967296 AS DOUBLE) * 4294967296.0D" +
            " + CAST(sy2 % 4294967296 AS DOUBLE)")
        // nullif guards: n=1 groups zero the (n-1) sample denominator,
        // and constant columns zero the variance product — Spark-4 ANSI
        // throws on double /0 where DuckDB returns NULL (degenerate
        // sweep, r8); healthy groups pass through bit-identically
        val dn1 = nullif(dn - 1.0, lit(0.0))
        val varX = (dsx2 - dsx * dsx / dn) / dn1
        val varY = (dsy2 - dsy * dsy / dn) / dn1
        val cov = (dsxy - dsx * dsy / dn) / dn1
        m.select(
            col("l_returnflag"), col("n"),
            cov.as("covar_xy"),
            sqrt(varX).as("stddev_x"),
            sqrt(varY).as("stddev_y"),
            (cov / nullif(sqrt(varX * varY), lit(0.0))).as("corr_xy"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (
                SELECT l_returnflag,
                  count(*) AS n,
                  sum(CAST(l_quantity AS BIGINT)) AS sx,
                  sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT)) AS sy,
                  sum(CAST(l_quantity AS BIGINT)
                      * CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT)) AS sxy,
                  sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sx2,
                  sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT) AS HUGEINT)
                      * CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT)) AS sy2
                FROM lineitem GROUP BY l_returnflag),
              d AS (
                SELECT l_returnflag, n,
                  CAST(n AS DOUBLE) AS dn, CAST(sx AS DOUBLE) AS dsx,
                  CAST(sy AS DOUBLE) AS dsy, CAST(sxy AS DOUBLE) AS dsxy,
                  CAST(sx2 AS DOUBLE) AS dsx2,
                  CAST(sy2 // 4294967296 AS DOUBLE) * 4294967296.0
                    + CAST(sy2 % 4294967296 AS DOUBLE) AS dsy2
                FROM m)
              SELECT l_returnflag, n,
                (dsxy - dsx*dsy/dn)/(dn - 1.0) AS covar_xy,
                sqrt((dsx2 - dsx*dsx/dn)/(dn - 1.0)) AS stddev_x,
                sqrt((dsy2 - dsy*dsy/dn)/(dn - 1.0)) AS stddev_y,
                ((dsxy - dsx*dsy/dn)/(dn - 1.0))
                  / sqrt(((dsx2 - dsx*dsx/dn)/(dn - 1.0))
                       * ((dsy2 - dsy*dsy/dn)/(dn - 1.0))) AS corr_xy
              FROM d ORDER BY l_returnflag""")),

    // Fixed-width histogram of document lengths: integer-division
    // binning (map-only), one hash shuffle for the per-bucket counts,
    // and the corpus total joined back as a 1-row broadcast — never a
    // single-partition window. share/avg are double divisions of exact
    // bigints (IEEE-identical in any engine).
    QueryDef(
      "q_histogram",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(expr("n_chars div 64").as("bucket"), col("n_chars"))
        val total = d.agg(count(lit(1)).as("total"))
        d.groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("schars"))
          .crossJoin(broadcast(total))
          .select(
            col("bucket"),
            (col("bucket") * 64).as("lo_chars"),
            col("n_docs"),
            (col("n_docs").cast("double") / col("total").cast("double"))
              .as("share"),
            (col("schars").cast("double") / col("n_docs").cast("double"))
              .as("avg_chars"))
          .orderBy("bucket")
      },
      Some("""WITH d AS (SELECT n_chars // 64 AS bucket, n_chars FROM documents),
              tt AS (SELECT count(*) AS total FROM d)
              SELECT bucket, bucket * 64 AS lo_chars,
                count(*) AS n_docs,
                CAST(count(*) AS DOUBLE) / CAST(tt.total AS DOUBLE) AS share,
                CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
              FROM d CROSS JOIN tt
              GROUP BY bucket, tt.total ORDER BY bucket""")),

    // Anomaly detection: per-user daily event counts whose z-score
    // against that user's own daily-count distribution exceeds |2σ|.
    // Moments (days, Σn, Σn²) are exact bigints computed by a window
    // over the daily aggregate; the z formula runs in double with one
    // canonical operation order. Two shuffles (daily keys, then user
    // key) — both map-side-combined, no driver involvement.
    QueryDef(
      "q_outliers",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
          .groupBy("user_id", "d")
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("user_id")
        val st = daily
          .withColumn("days", count(lit(1)).over(w))
          .withColumn("s", sum(col("n")).over(w))
          .withColumn("s2", sum(col("n") * col("n")).over(w))
          .filter(col("days") >= 7)
        val dd = col("days").cast("double")
        val ds = col("s").cast("double")
        val ds2 = col("s2").cast("double")
        val variance = (ds2 - ds * ds / dd) / (dd - 1.0)
        val z = (col("n").cast("double") - ds / dd) / sqrt(variance)
        st.filter(variance > 0.0 && abs(z) > 2.0)
          .select(col("user_id"), col("d"), col("n"), z.as("z"))
          .orderBy("user_id", "d")
      },
      Some("""WITH daily AS (
                SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                  count(*) AS n
                FROM events GROUP BY 1, 2),
              st AS (
                SELECT user_id, d, n,
                  CAST(count(*) OVER (PARTITION BY user_id) AS DOUBLE) AS dd,
                  CAST(sum(n) OVER (PARTITION BY user_id) AS DOUBLE) AS ds,
                  CAST(sum(n*n) OVER (PARTITION BY user_id) AS DOUBLE) AS ds2
                FROM daily)
              SELECT user_id, d, n,
                (CAST(n AS DOUBLE) - ds/dd)
                  / sqrt((ds2 - ds*ds/dd)/(dd - 1.0)) AS z
              FROM st
              WHERE dd >= 7.0
                AND (ds2 - ds*ds/dd)/(dd - 1.0) > 0.0
                AND abs((CAST(n AS DOUBLE) - ds/dd)
                      / sqrt((ds2 - ds*ds/dd)/(dd - 1.0))) > 2.0
              ORDER BY user_id, d""")),

    // Event funnel: users who viewed, then clicked after their first
    // view, then purchased after their first qualifying click. Stage
    // timestamps come from running conditional-min windows (one shuffle
    // on user_id; the two window passes and the final per-user aggregate
    // all share that partitioning), then one global 1-row count — the
    // standard scalable funnel shape, no self-joins. (user_id, ts) is
    // unique, so a stage event never ties with its qualifier.
    QueryDef(
      "q_funnel",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val q = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_type"))
          .withColumn("vfirst",
            min(when(col("event_type") === "view", col("ts"))).over(w))
        val q2 = q.withColumn("cfirst",
          min(when(col("event_type") === "click" && col("vfirst").isNotNull,
            col("ts"))).over(w))
        q2.groupBy("user_id").agg(
            min(when(col("event_type") === "view", col("ts"))).as("t1"),
            min(when(col("event_type") === "click" && col("vfirst").isNotNull,
              col("ts"))).as("t2"),
            min(when(col("event_type") === "purchase" && col("cfirst").isNotNull,
              col("ts"))).as("t3"))
          .agg(
            count(col("t1")).cast("long").as("n_view"),
            count(col("t2")).cast("long").as("n_view_click"),
            count(col("t3")).cast("long").as("n_funnel_complete"))
      },
      Some("""WITH e AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                FROM events),
              q AS (
                SELECT user_id, ts, event_type,
                  min(CASE WHEN event_type = 'view' THEN ts END) OVER
                    (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vfirst
                FROM e),
              q2 AS (
                SELECT *, min(CASE WHEN event_type = 'click'
                                AND vfirst IS NOT NULL THEN ts END) OVER
                  (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cfirst
                FROM q),
              u AS (
                SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
                  min(CASE WHEN event_type = 'click'
                        AND vfirst IS NOT NULL THEN ts END) AS t2,
                  min(CASE WHEN event_type = 'purchase'
                        AND cfirst IS NOT NULL THEN ts END) AS t3
                FROM q2 GROUP BY user_id)
              SELECT CAST(count(t1) AS BIGINT) AS n_view,
                CAST(count(t2) AS BIGINT) AS n_view_click,
                CAST(count(t3) AS BIGINT) AS n_funnel_complete
              FROM u""")),

    // Skew-mitigation salted join: events (fact, skewed by user) joined
    // to a derived per-user dimension through Salting.saltedJoin. The
    // oracle is the PLAIN join — salting must not change semantics.
    QueryDef(
      "q_salted_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val userDim = ev.groupBy("user_id")
          .agg(count(lit(1)).as("user_events"),
            sum(dec(col("value"))).cast("double").as("user_value"))
        graft.functions.Salting
          .saltedJoin(ev, userDim, "user_id", col("event_id"), saltBuckets = 8)
          .select(col("event_id"), col("user_id"), col("user_events"),
            col("user_value"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, e.user_id, u.user_events, u.user_value
              FROM events e
              JOIN (SELECT user_id, count(*) AS user_events,
                      CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS user_value
                    FROM events GROUP BY user_id) u
                ON e.user_id = u.user_id
              ORDER BY e.event_id""")),

    // Semi-structured round-trip: rows serialized to JSON text and parsed
    // back in-plan (to_json / from_json), then aggregated — the values
    // must survive the text round-trip exactly.
    QueryDef(
      "q_json_roundtrip",
      (s, dir) => {
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, event_type STRING, value DOUBLE")
        t(s, dir, "events")
          .select(to_json(struct(col("event_id"), col("event_type"), col("value"))).as("js"))
          .select(from_json(col("js"), schema).as("r"))
          .select(col("r.event_type").as("event_type"), col("r.value").as("value"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(dec(col("value"))).cast("double").as("total_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // Delimited-text round-trip (to_csv / from_csv) with the same
    // invariant.
    QueryDef(
      "q_csv_roundtrip",
      (s, dir) =>
        t(s, dir, "events")
          .select(to_csv(struct(col("event_id"), col("event_type"), col("value"))).as("c"))
          .select(from_csv(col("c"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "event_id BIGINT, event_type STRING, value DOUBLE"),
            Map.empty[String, String]).as("r"))
          .select(col("r.event_type").as("event_type"), col("r.value").as("value"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(dec(col("value"))).cast("double").as("total_value"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // Same sessionization via typed groupByKey + flatMapGroups — the
    // imperative per-key escape hatch. (user_id, ts) is unique in the
    // events corpus, so the per-key (ts, event_id) sort here and the
    // window form's ts ordering agree and this shares q_sessionize's
    // oracle (also cross-checked in AnalyticsSpec). At 100 TB the
    // in-memory per-user sort bounds state by events-per-user, not
    // partition size.
    QueryDef(
      "sessionize_stateful",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"))
          .as[Ev]
          .groupByKey(_.user_id)
          .flatMapGroups { (uid: Long, it: Iterator[Ev]) =>
            val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
            var idx = 0L
            var prev = Long.MinValue
            evs.iterator.map { e =>
              if (prev != Long.MinValue && e.ts_us - prev > SessionGapUs) idx += 1
              prev = e.ts_us
              SessionRow(e.event_id, uid, idx)
            }
          }
          .toDF()
          .orderBy("event_id")
      },
      Some(SessionizeOracleSql)),

    // Slowly-changing-dimension (SCD type 2) versioning — the CDC/merge
    // shape every warehouse ingest needs: each customer's orders become
    // validity-interval versions (valid_from = this order's date,
    // valid_to = the next order's date, open-ended current row last).
    // One hash shuffle on the dimension key, then a single ordered
    // window scan per key builds every interval — the same two lead/
    // row_number passes at any scale, no self-join. The (date, key)
    // orderBy is a total order per customer, so version numbers are
    // deterministic under any partitioning.
    QueryDef(
      "q_scd2_versions",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("version", row_number().over(w).cast("long"))
          .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
          .withColumn("is_current", col("valid_to").isNull)
          .select(col("o_custkey"), col("version"), col("o_orderkey"),
            col("o_orderdate").as("valid_from"), col("valid_to"),
            col("is_current"))
          .orderBy("o_custkey", "version")
      },
      Some("""SELECT o_custkey,
                CAST(row_number() OVER w AS BIGINT) AS version,
                o_orderkey,
                o_orderdate AS valid_from,
                lead(o_orderdate, 1) OVER w AS valid_to,
                lead(o_orderdate, 1) OVER w IS NULL AS is_current
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate ASC, o_orderkey ASC)
              ORDER BY o_custkey, version""")),

    // Native session windows: Spark's session_window merges per-key
    // events into gap-bounded sessions INSIDE the aggregation operator
    // (start = first event, end = last event + gap) — no window-function
    // pass, no self-join, and the same operator runs incrementally under
    // Structured Streaming (stream_session_window). The oracle rebuilds
    // identical sessions with the gaps-and-islands recipe, so the native
    // operator's merge semantics are correctness-gated against the
    // manual form. One hash shuffle on user_id at any scale.
    // Argmax/argmin aggregation without a window pass: max_by/min_by
    // pick each customer's highest- and lowest-priced order in the SAME
    // partial/final hash aggregate as the plain max — one shuffle, no
    // sort, no row_number. The ordering key packs (price-cents, orderkey)
    // into one BIGINT so ties are impossible and both engines pick the
    // identical row.
    QueryDef(
      "q_minmax_by",
      (s, dir) => {
        val ordKey = (floor(col("o_totalprice") * 100 + 0.5).cast("long") *
          10000000L + col("o_orderkey")).as("ok")
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), ordKey)
          .groupBy("o_custkey")
          .agg(
            expr("max_by(o_orderkey, ok)").as("top_order"),
            expr("min_by(o_orderkey, ok)").as("bottom_order"),
            count(lit(1)).as("n_orders"))
          .orderBy("o_custkey")
      },
      Some("""WITH o AS (
                SELECT o_custkey, o_orderkey,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 10000000
                    + o_orderkey AS ok
                FROM orders)
              SELECT o_custkey,
                arg_max(o_orderkey, ok) AS top_order,
                arg_min(o_orderkey, ok) AS bottom_order,
                count(*) AS n_orders
              FROM o GROUP BY o_custkey ORDER BY o_custkey""")),

    // Time-bucket resampling with OHLC semantics — the downsample step
    // every metrics/telemetry pipeline runs: per (event_type, 6-hour
    // bucket), the first and last value BY EVENT TIME (open/close via
    // min_by/max_by on a packed tie-free (relative-us, event_id) key —
    // relative to the bucket start so the product stays far inside
    // int64), the min/max values (order-independent doubles), and
    // exact-decimal volume. ONE partial/final hash aggregate on the
    // (type, bucket) key — no window pass, no sort; the 100 TB shape is
    // the shuffle ∝ distinct buckets, not events.
    QueryDef(
      "q_ohlc",
      (s, dir) => {
        val BucketUs = 21600000000L // 6 hours
        val us = unix_micros(col("ts"))
        val bucket = expr(s"unix_micros(ts) div $BucketUs") * BucketUs
        val ok = ((us - bucket) * lit(1000000L) + col("event_id")).as("ok")
        Tables.loadEvents(s, dir)
          .select(col("event_type"), bucket.as("bucket_us"),
            col("value"), ok)
          .groupBy("event_type", "bucket_us")
          .agg(
            expr("min_by(value, ok)").as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            expr("max_by(value, ok)").as("close"),
            count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(12,2)")).cast("double")
              .as("total_value"))
          .orderBy("event_type", "bucket_us")
      },
      Some(OhlcOracleSql)),

    // Table profiling — the ANALYZE/stats-collection pass every catalog
    // and optimizer depends on: per column, null count, exact distinct
    // count, and min/max, computed in ONE partial/final aggregation over
    // a single scan (count_distinct plans as partial sets per partition;
    // Spark expands the multi-distinct into one Expand + aggregate, not
    // N scans). Long-typed min/max keep the output schema uniform across
    // profiled columns; doubles profile through their DECIMAL(12,2) cast.
    QueryDef(
      "q_profile_table",
      (s, dir) => {
        val li = Tables.parallel(s, t(s, dir, "lineitem"))
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        val aggs = cols.flatMap { c =>
          Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
            count_distinct(col(c)).as(s"${c}_ndv"),
            min(col(c)).cast("long").as(s"${c}_min"),
            max(col(c)).cast("long").as(s"${c}_max"))
        }
        li.agg(aggs.head, aggs.tail: _*)
          .select(lit("lineitem").as("tbl") +: aggs.indices.map { i =>
            val c = cols(i / 4)
            val kind = Seq("nulls", "ndv", "min", "max")(i % 4)
            col(s"${c}_$kind")
          }: _*)
      },
      Some("""SELECT 'lineitem' AS tbl,
                CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_orderkey_nulls,
                count(DISTINCT l_orderkey) AS l_orderkey_ndv,
                CAST(min(l_orderkey) AS BIGINT) AS l_orderkey_min,
                CAST(max(l_orderkey) AS BIGINT) AS l_orderkey_max,
                CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_partkey_nulls,
                count(DISTINCT l_partkey) AS l_partkey_ndv,
                CAST(min(l_partkey) AS BIGINT) AS l_partkey_min,
                CAST(max(l_partkey) AS BIGINT) AS l_partkey_max,
                CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_suppkey_nulls,
                count(DISTINCT l_suppkey) AS l_suppkey_ndv,
                CAST(min(l_suppkey) AS BIGINT) AS l_suppkey_min,
                CAST(max(l_suppkey) AS BIGINT) AS l_suppkey_max,
                CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_linenumber_nulls,
                count(DISTINCT l_linenumber) AS l_linenumber_ndv,
                CAST(min(l_linenumber) AS BIGINT) AS l_linenumber_min,
                CAST(max(l_linenumber) AS BIGINT) AS l_linenumber_max
              FROM lineitem""")),

    QueryDef(
      "q_session_window_native",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            col("sw.start").as("session_start"),
            col("sw.end").as("session_end"),
            col("n_events"))
          .orderBy("user_id", "session_start"),
      Some(SessionWindowOracleSql)),

    // Count-min sketch frequency estimation (custom mergeable typed
    // aggregate, functions/CountMinAgg.scala): the bounded-memory answer
    // to "how often does each key occur" when the key domain is too
    // large for an exact groupBy — 32 KB of counters per partial
    // regardless of cardinality, map-side combined, partitioning-
    // independent by construction (counter sums commute). The query
    // builds ONE sketch over all 6M+ line items, then probes it for the
    // exact top-20 keys so estimate quality is visible next to ground
    // truth: est >= exact always, est - exact <= 2N/width w.h.p.
    // (bounds asserted in AnalyticsSpec). The sketch ESTIMATE is
    // engine-private state no SQL oracle can replay, so — like
    // q_approx_sketches above — the driver-facing row folds it into an
    // oracle-expressible VALIDITY FLAG: cms_ok = (est >= exact, the
    // count-min HARD guarantee) AND (est - exact <= 16N/width, Markov
    // at 16x the per-row expectation, miss probability 16^-4 per key).
    // The exact top-20 keys/counts are hashed bit-for-bit; a broken
    // sketch (undercount, collision blow-up) now fails CORRECTNESS.
    // The tight 8N/width bound stays in AnalyticsSpec over `cmsFreqRaw`;
    // q_cms_exact keeps the estimate-free companion shape.
    QueryDef(
      "q_cms_freq",
      (s, dir) => {
        val nTot = t(s, dir, "lineitem").agg(count(lit(1)).as("n_total"))
        cmsFreqRaw(s, dir)
          .crossJoin(broadcast(nTot))
          .select(col("l_partkey"), col("n_exact"),
            (col("n_est") >= col("n_exact") &&
              (col("n_est") - col("n_exact")).cast("double") <=
                col("n_total") * lit(16.0) / lit(CmsWidth)).as("cms_ok"))
          .orderBy(col("n_exact").desc, col("l_partkey"))
      },
      Some("""SELECT l_partkey, n_exact, TRUE AS cms_ok FROM (
                SELECT l_partkey, count(*) AS n_exact
                FROM lineitem GROUP BY l_partkey
                ORDER BY n_exact DESC, l_partkey LIMIT 20)
              ORDER BY n_exact DESC, l_partkey""")),

    // Half-oracle companion to q_cms_freq (same split q_sketch_exact
    // provides for q_approx_sketches): the probe's exact top-20 keys and
    // exact counts ARE DuckDB-expressible, so they get their own
    // bit-for-bit gate; only the sketch estimates stay rows-only
    // (bound-checked in AnalyticsSpec). A regression in the exact
    // key/count selection now fails CORRECTNESS instead of hiding
    // inside the rows-only entry.
    QueryDef(
      "q_cms_exact",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_partkey").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("l_partkey")).limit(20),
      Some("""SELECT l_partkey, count(*) AS n_exact
              FROM lineitem GROUP BY l_partkey
              ORDER BY n_exact DESC, l_partkey LIMIT 20""")),

    // Pipeline observability (Dataset.observe / CollectMetrics): named
    // counters ride the SAME scan as the transformation they audit —
    // accumulator-backed per-task metrics, zero extra pass, the
    // production alternative to a second validation scan over 100 TB.
    // The observed totals (rows seen, exact-decimal revenue, rows
    // matching the downstream filter) are emitted NEXT TO the actual
    // filter outcome, so the oracle proves the counters agree with the
    // data they audited (n_large == n_kept).
    QueryDef(
      "q_observe",
      (s, dir) => {
        import s.implicits._
        val obs = org.apache.spark.sql.Observation()
        val audited = t(s, dir, "lineitem")
          .observe(obs,
            count(lit(1)).as("rows_seen"),
            sum(col("l_extendedprice").cast("decimal(12,2)"))
              .cast("double").as("sum_price"),
            sum(when(col("l_quantity") > 45, 1L).otherwise(0L))
              .as("n_large"))
          .filter(col("l_quantity") > 45)
        val kept = audited.count() // one action: filter + counters together
        val m = obs.get
        Seq((m("rows_seen").asInstanceOf[Long],
          m("sum_price").asInstanceOf[Double],
          m("n_large").asInstanceOf[Long], kept))
          .toDF("rows_seen", "sum_price", "n_large", "n_kept")
      },
      Some("""SELECT count(*) AS rows_seen,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                  AS sum_price,
                CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_large,
                (SELECT count(*) FROM lineitem WHERE l_quantity > 45)
                  AS n_kept
              FROM lineitem""")),

    // HLL sketch UNION (Datasketches hll_sketch_agg / hll_union_agg,
    // Spark 3.5+): the production sketch workflow is not one global
    // estimate but MERGE — per-partition/per-day sketches stored as
    // bytes, unioned later without touching the raw data again. Here
    // per-status customer sketches union to the corpus-wide distinct;
    // per-status and merged estimates fold into validity flags against
    // exact counts computed in the same aggregates (the
    // q_approx_sketches pattern), so the driver row is fully
    // oracle-checkable. lgK=14 gives ~0.8% standard error; the flag
    // allows 5%+32 — a broken merge (double-count, dropped sketch)
    // fails CORRECTNESS. Shape: two hash aggregates + a 1-row
    // broadcast; sketch bytes (~16 KB each) never exceed kilobytes per
    // group at ANY corpus size.
    QueryDef(
      "q_hll_union",
      (s, dir) => {
        val o = Tables.parallel(s, t(s, dir, "orders"))
        val perStatus = o.groupBy("o_orderstatus")
          .agg(expr("hll_sketch_agg(o_custkey, 14)").as("sk"),
            countDistinct(col("o_custkey")).as("exact_cust"))
        val merged = perStatus
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
            .as("est_total"))
        val exactTotal = o.agg(countDistinct(col("o_custkey"))
          .as("exact_total"))
        val statusRows = perStatus.select(
          concat(lit("status:"), col("o_orderstatus")).as("scope"),
          col("exact_cust"),
          (abs(expr("hll_sketch_estimate(sk)") - col("exact_cust")) <=
            greatest(col("exact_cust") * lit(0.05), lit(32.0)))
            .as("hll_ok"))
        val totalRow = exactTotal.crossJoin(broadcast(merged)).select(
          lit("total").as("scope"),
          col("exact_total").as("exact_cust"),
          (abs(col("est_total") - col("exact_total")) <=
            greatest(col("exact_total") * lit(0.05), lit(32.0)))
            .as("hll_ok"))
        statusRows.unionAll(totalRow).orderBy("scope")
      },
      Some("""SELECT * FROM (
                SELECT concat('status:', o_orderstatus) AS scope,
                  count(DISTINCT o_custkey) AS exact_cust, TRUE AS hll_ok
                FROM orders GROUP BY o_orderstatus
                UNION ALL
                SELECT 'total', count(DISTINCT o_custkey), TRUE
                FROM orders)
              ORDER BY scope""")),

    // Typed cogroup (KeyValueGroupedDataset.cogroup): the two event
    // streams of a user merged by ARBITRARY per-key Scala logic — the
    // escape hatch when a per-key reconciliation has no SQL form (here
    // it does, which is exactly what makes it oracle-checkable). Shape:
    // each side shuffles once on user_id and the runtime co-partitions
    // them; the merge function sees both iterators together, state ∝
    // one key's rows. At 100 TB this is the same cost as a full-outer
    // join + aggregate — which is why the comment, like the plan,
    // says: use cogroup only when the merge logic genuinely cannot be
    // declared.
    QueryDef(
      "q_cogroup",
      (s, dir) => {
        import s.implicits._
        val ev = graft.Tables.loadEvents(s, dir)
        def side(tpe: String) = ev.filter(col("event_type") === tpe)
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
          .as[(Long, Long)]
        side("click").groupByKey(_._1)
          .cogroup(side("purchase").groupByKey(_._1)) { (uid, cs, ps) =>
            val c = cs.map(_._2).toArray
            val p = ps.map(_._2).toArray
            Iterator.single((uid, c.length.toLong, p.length.toLong,
              if (c.isEmpty) -1L else c.min,
              if (p.isEmpty) -1L else p.max))
          }
          .toDF("user_id", "n_clicks", "n_purchases",
            "first_click_us", "last_purchase_us")
          .orderBy("user_id")
      },
      Some("""WITH c AS (
                SELECT user_id, count(*) AS n_clicks,
                  min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_click_us
                FROM events WHERE event_type = 'click' GROUP BY 1),
              p AS (
                SELECT user_id, count(*) AS n_purchases,
                  max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_purchase_us
                FROM events WHERE event_type = 'purchase' GROUP BY 1)
              SELECT COALESCE(c.user_id, p.user_id) AS user_id,
                COALESCE(n_clicks, 0) AS n_clicks,
                COALESCE(n_purchases, 0) AS n_purchases,
                COALESCE(first_click_us, -1) AS first_click_us,
                COALESCE(last_purchase_us, -1) AS last_purchase_us
              FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
              ORDER BY user_id""")),

    // Markov transition matrix over per-user event sequences — the
    // "what follows what" relation behind next-event features, session
    // modeling, and bot detection (a user whose transition row
    // concentrates on one edge is a script). src→dst bigrams come from
    // ONE lead() window on the same (user_id; ts, event_id) shuffle
    // every sequence operator here pays — no self-join — and the
    // normalizing row-total window runs on the AGGREGATED matrix, which
    // is |event_types|²-sized (25 rows), not data-sized, so the
    // per-src partition is trivially bounded at any corpus scale.
    // p = n / row_total in double from exact bigints, same op order as
    // the oracle.
    QueryDef(
      "q_transition_matrix",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val bi = t(s, dir, "events")
          .select(col("user_id"), col("event_type").as("src"),
            lead(col("event_type"), 1).over(w).as("dst"))
          .filter(col("dst").isNotNull)
        bi.groupBy("src", "dst").agg(count(lit(1)).as("n"))
          .withColumn("p", col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy("src")).cast("double"))
          .orderBy("src", "dst")
      },
      Some("""WITH x AS (
                SELECT user_id, event_type AS src,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst
                FROM events),
              c AS (
                SELECT src, dst, count(*) AS n
                FROM x WHERE dst IS NOT NULL GROUP BY src, dst)
              SELECT src, dst, n,
                CAST(n AS DOUBLE)
                  / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE) AS p
              FROM c ORDER BY src, dst""")),

    // A/B experiment scorecard: deterministic hash-bucket assignment
    // (variant = user_id % 2 — the stable modulo assignment experiment
    // frameworks use, so a user's arm never flaps between runs) and a
    // pooled two-proportion z-test on conversion (>= 1 purchase with
    // value >= 99 — non-degenerate at every SF: both arms convert,
    // neither fully). Shape: per-user conversion is ONE user_id-hashed
    // aggregate (map-side combined), the variant fold is a 2-row
    // aggregate, and the z statistic is a 1-row projection from EXACT
    // bigint counts with a canonical op order — bit-identical in any
    // engine, nothing driver-side, work ∝ events.
    QueryDef(
      "q_ab_test",
      (s, dir) => {
        val conv = when(col("event_type") === "purchase" &&
          col("value") >= 99.0, 1L).otherwise(0L)
        val perUser = t(s, dir, "events")
          .groupBy("user_id")
          .agg(max(conv).as("conv"))
          .withColumn("variant", pmod(col("user_id"), lit(2L)))
        perUser.agg(
            sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("c_a"),
            sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
            sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("c_b"))
          .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
            (col("c_a").cast("double") / col("n_a").cast("double")).as("p_a"),
            (col("c_b").cast("double") / col("n_b").cast("double")).as("p_b"),
            ((col("c_a") + col("c_b")).cast("double") /
              (col("n_a") + col("n_b")).cast("double")).as("p_pool"))
          .select(col("n_a"), col("c_a"), col("p_a"),
            col("n_b"), col("c_b"), col("p_b"),
            ((col("p_b") - col("p_a")) /
              sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
                (lit(1.0) / col("n_a").cast("double") +
                  lit(1.0) / col("n_b").cast("double")))).as("z"))
      },
      Some("""WITH u AS (
                SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' AND value >= 99.0
                           THEN 1 ELSE 0 END) AS conv,
                  user_id % 2 AS variant
                FROM events GROUP BY user_id),
              v AS (
                SELECT
                  CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
                  CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                  CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
                FROM u),
              w AS (
                SELECT n_a, c_a, n_b, c_b,
                  CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
                  CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
                  CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p_pool
                FROM v)
              SELECT n_a, c_a, p_a, n_b, c_b, p_b,
                (p_b - p_a) / sqrt(p_pool * (1.0 - p_pool)
                  * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS z
              FROM w""")),

    // Item co-occurrence with lift — the association-rule / "bought
    // together" primitive: items are the JSON props.k payload (parsed
    // with the codegen'd get_json_object, ~100-item catalog), baskets
    // are per-user DISTINCT item sets, and lift(a,b) =
    // P(a,b)/(P(a)P(b)) = n_ab·N / (n_a·n_b) from exact bigints
    // (multiplications BEFORE the one division, so both engines run the
    // identical IEEE op). Shape: basket building is one user-hashed
    // distinct; the pair join is a per-user self-join whose mass is
    // Σ(per-user basket²) — bounded by catalog size per user, NOT data-
    // sized — and the aggregated matrix is at most |catalog|² rows
    // (≤ 4950 pairs here) at any corpus scale; item totals and the
    // 1-row user count attach as broadcasts. Support floor n_ab ≥ 2
    // mirrors production min-support pruning.
    QueryDef(
      "q_item_cooccurrence",
      (s, dir) => {
        // plain load (r14): the r13 repartition regressed this 0.88x —
        // the JSON extraction feeds a distinct() that shuffles anyway
        val ev = t(s, dir, "events")
        val baskets = ev.select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
          .distinct()
        val nUsers = ev.select(countDistinct(col("user_id")).as("n_users"))
        val itemCnt = baskets.groupBy("item")
          .agg(count(lit(1)).as("n_i"))
        baskets.select(col("user_id"), col("item").as("a_item"))
          .join(baskets.select(col("user_id"), col("item").as("b_item")),
            Seq("user_id"))
          .filter(col("a_item") < col("b_item"))
          .groupBy("a_item", "b_item")
          .agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 2)
          .join(broadcast(itemCnt.select(col("item").as("a_item"),
            col("n_i").as("n_a"))), Seq("a_item"))
          .join(broadcast(itemCnt.select(col("item").as("b_item"),
            col("n_i").as("n_b"))), Seq("b_item"))
          .crossJoin(broadcast(nUsers))
          .select(col("a_item"), col("b_item"), col("n_ab"),
            col("n_a"), col("n_b"),
            ((col("n_ab") * col("n_users")).cast("double") /
              (col("n_a") * col("n_b")).cast("double")).as("lift"))
          .orderBy("a_item", "b_item")
      },
      Some("""WITH b AS (
                SELECT DISTINCT user_id,
                  CAST(props->>'$.k' AS BIGINT) AS item
                FROM events),
              ic AS (SELECT item, count(*) AS n_i FROM b GROUP BY item),
              nu AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
              p AS (
                SELECT a.item AS a_item, b2.item AS b_item,
                  count(*) AS n_ab
                FROM b a JOIN b b2 USING (user_id)
                WHERE a.item < b2.item
                GROUP BY a.item, b2.item
                HAVING count(*) >= 2)
              SELECT p.a_item, p.b_item, CAST(p.n_ab AS BIGINT) AS n_ab,
                CAST(ia.n_i AS BIGINT) AS n_a, CAST(ib.n_i AS BIGINT) AS n_b,
                CAST(p.n_ab * nu.n_users AS DOUBLE)
                  / CAST(ia.n_i * ib.n_i AS DOUBLE) AS lift
              FROM p
              JOIN ic ia ON ia.item = p.a_item
              JOIN ic ib ON ib.item = p.b_item
              CROSS JOIN nu
              ORDER BY a_item, b_item""")),

    // Decile lift / gains table — the model-eval artifact behind every
    // targeting decision ("if we act on the top 10% by score, how much
    // better than random?"). Score = per-user click count, outcome =
    // conversion (the q_ab_test rule, shared semantics). The equi-depth
    // decile assignment is the usual scale trap (ntile() OVER () funnels
    // every user through one task); here it rides the q_ks_drift CDF
    // scaffold instead: per-score counts (∝ distinct scores), exclusive
    // prefix sums on the score grain, decile = (users_below·10) div N —
    // ties share a decile deterministically, at any data size. Lift
    // numbers are exact-integer products with one closing division each,
    // cumulated from the best decile over the ≤10-row aggregate.
    QueryDef(
      "q_decile_lift",
      (s, dir) => {
        val perUser = t(s, dir, "events")
          .groupBy("user_id")
          .agg(
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("score"),
            max(when(col("event_type") === "purchase" &&
              col("value") >= 99.0, 1L).otherwise(0L)).as("conv"))
        val perScore = perUser.groupBy("score").agg(
          count(lit(1)).as("cnt"), sum(col("conv")).as("cv"))
        val tot = perUser.agg(count(lit(1)).as("n_total"),
          sum(col("conv")).as("conv_total"))
        // exclusive prefix over the score grain (distinct click counts —
        // bounded, never user-sized)
        val ws = Window.orderBy("score")
          .rowsBetween(Window.unboundedPreceding, -1)
        val deciled = perScore
          .withColumn("below", coalesce(sum(col("cnt")).over(ws), lit(0L)))
          .crossJoin(broadcast(tot))
          .withColumn("decile", expr("(below * 10) div n_total"))
        val agg = deciled.groupBy("decile").agg(
          sum(col("cnt")).as("n_users"), sum(col("cv")).as("n_conv"),
          max(col("n_total")).as("n_total"),
          max(col("conv_total")).as("conv_total"))
        val wd = Window.orderBy(col("decile").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        agg
          .withColumn("cum_users", sum(col("n_users")).over(wd))
          .withColumn("cum_conv", sum(col("n_conv")).over(wd))
          .select(col("decile"), col("n_users"), col("n_conv"),
            (col("n_conv").cast("double") / col("n_users").cast("double"))
              .as("conv_rate"),
            col("cum_users"), col("cum_conv"),
            ((col("cum_conv") * col("n_total")).cast("double") /
              (col("cum_users") * col("conv_total")).cast("double"))
              .as("cum_lift"))
          .orderBy(col("decile").desc)
      },
      Some("""WITH u AS (
                SELECT user_id,
                  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS score,
                  CAST(max(CASE WHEN event_type = 'purchase'
                                 AND value >= 99.0
                               THEN 1 ELSE 0 END) AS BIGINT) AS conv
                FROM events GROUP BY user_id),
              ps AS (
                SELECT score, count(*) AS cnt,
                  CAST(sum(conv) AS BIGINT) AS cv
                FROM u GROUP BY score),
              tt AS (
                SELECT count(*) AS n_total,
                  CAST(sum(conv) AS BIGINT) AS conv_total
                FROM u),
              d AS (
                SELECT score, cnt, cv, n_total, conv_total,
                  (coalesce(sum(cnt) OVER (ORDER BY score
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   * 10) // n_total AS decile
                FROM ps CROSS JOIN tt),
              a AS (
                SELECT decile, CAST(sum(cnt) AS BIGINT) AS n_users,
                  CAST(sum(cv) AS BIGINT) AS n_conv,
                  max(n_total) AS n_total, max(conv_total) AS conv_total
                FROM d GROUP BY decile),
              c AS (
                SELECT decile, n_users, n_conv, n_total, conv_total,
                  CAST(sum(n_users) OVER (ORDER BY decile DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
                  CAST(sum(n_conv) OVER (ORDER BY decile DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_conv
                FROM a)
              SELECT CAST(decile AS BIGINT) AS decile, n_users, n_conv,
                CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)
                  AS conv_rate,
                cum_users, cum_conv,
                CAST(cum_conv * n_total AS DOUBLE)
                  / CAST(cum_users * conv_total AS DOUBLE) AS cum_lift
              FROM c ORDER BY decile DESC""")),

    // Time-to-convert distribution — the funnel-latency artifact
    // ("how long from first click to first purchase?") whose deciles
    // product teams read off dashboards. Another GLOBAL order
    // statistic built scale-safe: per-user deltas (first purchase at
    // or after the first click, exact microsecond arithmetic, floored
    // to seconds), then per-second counts with the q_ks_drift
    // bucket-offset prefix discipline (the only unpartitioned window
    // runs on the hour-bucket grain), and all nine decile boundaries
    // read off ONE pass over the cumulative relation as exact integer
    // gates cum·10 ≥ k·n — no percentile_approx, no sort of the users.
    QueryDef(
      "q_time_to_convert",
      (s, dir) => {
        val ev = Tables.loadEvents(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val firstClick = ev.filter(col("event_type") === "click")
          .groupBy("user_id").agg(min(col("us")).as("c_us"))
        val conv = ev.filter(col("event_type") === "purchase")
          .join(firstClick, "user_id")
          .filter(col("us") >= col("c_us"))
          .groupBy("user_id")
          .agg(min(col("us") - col("c_us")).as("delta_us"))
        val perD = conv.select(expr("delta_us div 1000000").as("delta_s"))
          .groupBy("delta_s").agg(count(lit(1)).as("cnt"))
        val withB = perD.withColumn("bucket", expr("delta_s div 3600"))
        val bTot = withB.groupBy("bucket").agg(sum(col("cnt")).as("bc"))
        val bOff = bTot
          .withColumn("off",
            coalesce(sum(col("bc")).over(Window.orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("bucket", "off")
        val wIn = Window.partitionBy("bucket").orderBy("delta_s")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = withB.join(broadcast(bOff), Seq("bucket"))
          .withColumn("cum", col("off") + sum(col("cnt")).over(wIn))
        val tot = conv.agg(count(lit(1)).as("n_conv"))
        val aggs = max(col("n_conv")).as("n_conv") +:
          (1 to 9).map(k =>
            min(when(col("cum") * 10 >= col("n_conv") * k, col("delta_s")))
              .as(s"p${k * 10}_s"))
        cum.crossJoin(broadcast(tot)).agg(aggs.head, aggs.tail: _*)
      },
      Some("""WITH e AS (
                SELECT user_id, event_type,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
                FROM events),
              fc AS (
                SELECT user_id, min(us) AS c_us
                FROM e WHERE event_type = 'click' GROUP BY user_id),
              cv AS (
                SELECT p.user_id,
                  CAST(min(p.us - fc.c_us) AS BIGINT) AS delta_us
                FROM e p JOIN fc ON p.user_id = fc.user_id
                WHERE p.event_type = 'purchase' AND p.us >= fc.c_us
                GROUP BY p.user_id),
              c AS (
                SELECT delta_us // 1000000 AS delta_s, count(*) AS cnt
                FROM cv GROUP BY 1),
              cc AS (
                SELECT delta_s, sum(cnt) OVER (ORDER BY delta_s
                  ROWS UNBOUNDED PRECEDING) AS cum
                FROM c),
              tt AS (SELECT count(*) AS n_conv FROM cv)
              SELECT CAST(max(n_conv) AS BIGINT) AS n_conv,
                min(CASE WHEN cum * 10 >= n_conv * 1 THEN delta_s END) AS p10_s,
                min(CASE WHEN cum * 10 >= n_conv * 2 THEN delta_s END) AS p20_s,
                min(CASE WHEN cum * 10 >= n_conv * 3 THEN delta_s END) AS p30_s,
                min(CASE WHEN cum * 10 >= n_conv * 4 THEN delta_s END) AS p40_s,
                min(CASE WHEN cum * 10 >= n_conv * 5 THEN delta_s END) AS p50_s,
                min(CASE WHEN cum * 10 >= n_conv * 6 THEN delta_s END) AS p60_s,
                min(CASE WHEN cum * 10 >= n_conv * 7 THEN delta_s END) AS p70_s,
                min(CASE WHEN cum * 10 >= n_conv * 8 THEN delta_s END) AS p80_s,
                min(CASE WHEN cum * 10 >= n_conv * 9 THEN delta_s END) AS p90_s
              FROM cc CROSS JOIN tt""")),

    // RFM segmentation — the classic customer-value grid (recency ×
    // frequency × monetary, each coded into tertiles): per purchasing
    // user, last-purchase time / purchase count / exact cents total,
    // each dimension coded 1-3 by the SAME distributed-CDF discipline
    // as q_decile_lift (exclusive prefix counts on the VALUE grain,
    // code = (below·3) div n + 1 — ties share a code, no ntile()
    // funnel). Codes join back by value (hash joins ∝ users — the
    // value→code maps are value-grain relations, deliberately NOT
    // broadcast: monetary is near-unique per user). Output is the ≤27-
    // cell segment table with exact user counts and monetary totals.
    QueryDef(
      "q_rfm_segmentation",
      (s, dir) => {
        val p = Tables.loadEvents(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            (col("value").cast("decimal(12,2)") * 100).cast("long")
              .as("cents"))
        val rfm = p.groupBy("user_id").agg(
          max(col("us")).as("r_us"),
          count(lit(1)).as("f_n"),
          sum(col("cents")).as("m_cents"))
        val tot = rfm.agg(count(lit(1)).as("n_users"))
        def codeOf(dim: String): DataFrame = {
          val perV = rfm.groupBy(dim).agg(count(lit(1)).as("cnt"))
          val w = Window.orderBy(dim)
            .rowsBetween(Window.unboundedPreceding, -1)
          perV.withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
            .crossJoin(broadcast(tot))
            .select(col(dim),
              (expr("(below * 3) div n_users") + 1L).as(s"${dim.head}_code"))
        }
        rfm.join(codeOf("r_us"), "r_us")
          .join(codeOf("f_n"), "f_n")
          .join(codeOf("m_cents"), "m_cents")
          .groupBy("r_code", "f_code", "m_code")
          .agg(count(lit(1)).as("n_users"),
            sum(col("m_cents")).as("segment_cents"))
          .orderBy("r_code", "f_code", "m_code")
      },
      Some("""WITH p AS (
                SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    AS cents
                FROM events WHERE event_type = 'purchase'),
              rfm AS (
                SELECT user_id, max(us) AS r_us, count(*) AS f_n,
                  CAST(sum(cents) AS BIGINT) AS m_cents
                FROM p GROUP BY user_id),
              tt AS (SELECT count(*) AS n_users FROM rfm),
              rc AS (
                SELECT r_us,
                  (coalesce(sum(cnt) OVER (ORDER BY r_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   * 3) // n_users + 1 AS r_code
                FROM (SELECT r_us, count(*) AS cnt FROM rfm GROUP BY r_us)
                CROSS JOIN tt),
              fc AS (
                SELECT f_n,
                  (coalesce(sum(cnt) OVER (ORDER BY f_n
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   * 3) // n_users + 1 AS f_code
                FROM (SELECT f_n, count(*) AS cnt FROM rfm GROUP BY f_n)
                CROSS JOIN tt),
              mc AS (
                SELECT m_cents,
                  (coalesce(sum(cnt) OVER (ORDER BY m_cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   * 3) // n_users + 1 AS m_code
                FROM (SELECT m_cents, count(*) AS cnt FROM rfm GROUP BY m_cents)
                CROSS JOIN tt)
              SELECT CAST(r_code AS BIGINT) AS r_code,
                CAST(f_code AS BIGINT) AS f_code,
                CAST(m_code AS BIGINT) AS m_code,
                count(*) AS n_users,
                CAST(sum(m_cents) AS BIGINT) AS segment_cents
              FROM rfm
              JOIN rc USING (r_us) JOIN fc USING (f_n) JOIN mc USING (m_cents)
              GROUP BY r_code, f_code, m_code
              ORDER BY r_code, f_code, m_code""")),

    // Top user journeys — the Sankey/path-analysis feed: each user's
    // first three events (total event-time order, event_id tie-break)
    // concatenated into a path string, counted across users. The pivot
    // is three conditional max() columns off ONE rank window on the
    // same (user_id; ts, event_id) shuffle every sequence operator
    // pays; the path aggregate is at most |types|³ rows. Top-20 by
    // count with a total path tie-break.
    QueryDef(
      "q_funnel_paths",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val firsts = Tables.loadEvents(s, dir)
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
        val paths = firsts.groupBy("user_id").agg(
            max(when(col("rn") === 1, col("event_type"))).as("e1"),
            max(when(col("rn") === 2, col("event_type"))).as("e2"),
            max(when(col("rn") === 3, col("event_type"))).as("e3"))
          .select(concat_ws(">", col("e1"), col("e2"), col("e3"))
            .as("path"))
        paths.groupBy("path").agg(count(lit(1)).as("n_users"))
          .orderBy(col("n_users").desc, col("path").asc)
          .limit(20)
      },
      Some("""WITH e AS (
                SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
                FROM events),
              u AS (
                SELECT user_id,
                  max(CASE WHEN rn = 1 THEN event_type END) AS e1,
                  max(CASE WHEN rn = 2 THEN event_type END) AS e2,
                  max(CASE WHEN rn = 3 THEN event_type END) AS e3
                FROM e WHERE rn <= 3 GROUP BY user_id),
              p AS (
                SELECT concat_ws('>', e1, e2, e3) AS path FROM u)
              SELECT path, count(*) AS n_users
              FROM p GROUP BY path
              ORDER BY n_users DESC, path ASC LIMIT 20""")),

    // Cohort LTV curves — the finance-side sibling of q_retention: per
    // signup-week cohort, cumulative purchase revenue by account age in
    // weeks, normalized to exact-cents LTV per cohort user (the curve a
    // payback-period model is fit to). Age arithmetic is pure integer
    // microseconds; revenue accumulates as exact cents; the cumulative
    // window runs per cohort over the AGE grid (calendar-bounded), and
    // cohort sizes attach by a calendar-sized broadcast. One user-keyed
    // join (purchases × signups), everything after is cohort-grain.
    QueryDef(
      "q_cohort_ltv",
      (s, dir) => {
        val WeekUs = 604800000000L
        val ev = Tables.loadEvents(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"),
            (col("value").cast("decimal(12,2)") * 100).cast("long")
              .as("cents"))
        val signup = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("us")).as("s_us"))
        val cohortSize = signup
          .select(expr(s"s_us div $WeekUs").as("cohort_week"))
          .groupBy("cohort_week").agg(count(lit(1)).as("cohort_users"))
        val cells = ev.filter(col("event_type") === "purchase")
          .join(signup, "user_id")
          .filter(col("us") >= col("s_us"))
          .select(expr(s"s_us div $WeekUs").as("cohort_week"),
            expr(s"(us - s_us) div $WeekUs").as("age_week"), col("cents"))
          .groupBy("cohort_week", "age_week")
          .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("cents"))
        val wc = Window.partitionBy("cohort_week").orderBy("age_week")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cells
          .withColumn("cum_cents", sum(col("cents")).over(wc))
          .join(broadcast(cohortSize), "cohort_week")
          .select(col("cohort_week"), col("age_week"), col("n_purchases"),
            col("cents"), col("cum_cents"), col("cohort_users"),
            (col("cum_cents").cast("double") /
              (col("cohort_users") * lit(100L)).cast("double"))
              .as("ltv_per_user"))
          .orderBy("cohort_week", "age_week")
      },
      Some("""WITH e AS (
                SELECT user_id, event_type,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    AS cents
                FROM events),
              su AS (
                SELECT user_id, min(us) AS s_us
                FROM e WHERE event_type = 'signup' GROUP BY user_id),
              cs AS (
                SELECT s_us // 604800000000 AS cohort_week,
                  count(*) AS cohort_users
                FROM su GROUP BY 1),
              cells AS (
                SELECT su.s_us // 604800000000 AS cohort_week,
                  (p.us - su.s_us) // 604800000000 AS age_week,
                  count(*) AS n_purchases,
                  CAST(sum(p.cents) AS BIGINT) AS cents
                FROM e p JOIN su ON p.user_id = su.user_id
                WHERE p.event_type = 'purchase' AND p.us >= su.s_us
                GROUP BY 1, 2),
              cum AS (
                SELECT cohort_week, age_week, n_purchases, cents,
                  CAST(sum(cents) OVER (PARTITION BY cohort_week
                    ORDER BY age_week ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS cum_cents
                FROM cells)
              SELECT c.cohort_week, c.age_week, c.n_purchases, c.cents,
                c.cum_cents, CAST(cs.cohort_users AS BIGINT)
                  AS cohort_users,
                CAST(c.cum_cents AS DOUBLE)
                  / CAST(cs.cohort_users * 100 AS DOUBLE) AS ltv_per_user
              FROM cum c JOIN cs ON cs.cohort_week = c.cohort_week
              ORDER BY c.cohort_week, c.age_week""")),

    // DAU/MAU stickiness — the product-health ratio every growth team
    // tracks: per active day, distinct daily actives over distinct
    // 28-day-trailing actives, exactly. The trailing-window distinct is
    // the scale trap (a naive 28-day sliding COUNT DISTINCT re-scans
    // events); here the (user, day)-distinct relation is built ONCE
    // (shuffle ∝ active pairs), and the trailing window is a bounded
    // range join of that relation against the day spine (≤28 candidate
    // days per pair — calendar-bounded fan-out, the q_hopping_window
    // expansion discipline; at petabyte scale the same shape feeds
    // per-day HLL sketches merged over the window, q_hll_union). One
    // closing division per day.
    QueryDef(
      "q_dau_mau",
      (s, dir) => {
        val DayUs = 86400000000L
        val ud = Tables.loadEvents(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
          .select(col("user_id"), expr(s"us div $DayUs").as("day"))
          .distinct()
        val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
        val days = ud.select("day").distinct()
        val mau = ud.toDF("user_id", "a_day")
          .join(days, col("a_day").between(col("day") - 27, col("day")))
          .groupBy("day")
          .agg(count_distinct(col("user_id")).as("mau"))
        dau.join(mau, "day")
          .select(col("day"), col("dau"), col("mau"),
            (col("dau").cast("double") / col("mau").cast("double"))
              .as("stickiness"))
          .orderBy("day")
      },
      Some("""WITH ud AS (
                SELECT DISTINCT user_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
                FROM events),
              dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
              days AS (SELECT DISTINCT day FROM ud),
              mau AS (
                SELECT d.day,
                  CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
                FROM days d JOIN ud u
                  ON u.day BETWEEN d.day - 27 AND d.day
                GROUP BY d.day)
              SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau, mau.mau,
                CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE)
                  AS stickiness
              FROM dau JOIN mau ON mau.day = dau.day
              ORDER BY dau.day""")),

    // DAU/MAU via per-day HLL sketch merges — the PETABYTE form of
    // q_dau_mau above, promised in that operator's comment since r7 and
    // now a tested variant (r9, VERDICT task 6). The exact form's MAU
    // join replays USER-GRAIN rows for each of 28 window days; here
    // each day is first collapsed to ONE ~16 KB HLL sketch
    // (hll_sketch_agg, lgK=14, map-side combined), and the trailing-28-
    // day MAU is hll_union_agg over ≤ 28 sketch ROWS per day — the
    // window join's input is #days × 28 sketches regardless of user
    // count, so at 100 TB the heavy pass is one linear sketch build and
    // the windowed merge costs kilobytes. The estimate folds into a
    // validity flag against the exact count_distinct computed in the
    // same query (the q_hll_union / q_approx_sketches sketch
    // discipline: lgK=14 ≈ 0.8% stderr, flag allows 5% + 32, so a
    // broken merge — double-count, dropped day — fails CORRECTNESS
    // while legitimate estimator noise never does).
    QueryDef(
      "q_dau_mau_hll",
      (s, dir) => {
        val DayUs = 86400000000L
        val ud = Tables.loadEvents(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
          .select(col("user_id"), expr(s"us div $DayUs").as("day"))
          .distinct()
        val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
        val days = ud.select("day").distinct()
        // the scale path: per-day sketches, then a sketch-grain merge
        val perDay = ud.groupBy(col("day").as("a_day"))
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        val mauEst = perDay
          .join(days, col("a_day").between(col("day") - 27, col("day")))
          .groupBy("day")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("mau_est"))
        // the exact twin (the q_dau_mau join) — oracle-checkable anchor
        val mauExact = ud.toDF("user_id", "a_day")
          .join(days, col("a_day").between(col("day") - 27, col("day")))
          .groupBy("day")
          .agg(count_distinct(col("user_id")).as("mau_exact"))
        dau.join(mauExact, "day").join(mauEst, "day")
          .select(col("day"), col("dau"), col("mau_exact"),
            (abs(col("mau_est") - col("mau_exact")) <=
              greatest(col("mau_exact") * lit(0.05), lit(32.0)))
              .as("hll_ok"))
          .orderBy("day")
      },
      Some("""WITH ud AS (
                SELECT DISTINCT user_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
                FROM events),
              dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
              days AS (SELECT DISTINCT day FROM ud),
              mau AS (
                SELECT d.day,
                  CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau_exact
                FROM days d JOIN ud u
                  ON u.day BETWEEN d.day - 27 AND d.day
                GROUP BY d.day)
              SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau,
                mau.mau_exact, TRUE AS hll_ok
              FROM dau JOIN mau ON mau.day = dau.day
              ORDER BY dau.day""")),

    // Last-touch attribution — the revenue-accounting complement to
    // q_funnel (did they convert?) and q_time_to_convert (how fast?):
    // WHICH channel gets credit for each purchase. Per user, each
    // purchase attributes to the most recent PRIOR view/click (the
    // last-touch rule; purchases with no prior touch report 'none'),
    // computed with one ignore-nulls last_value window over the
    // user's event stream — no self-join of events to events, no
    // per-purchase scan-back. Shape: one hash shuffle on user_id, a
    // linear per-user window pass, then a channel-grain aggregate;
    // revenue sums in exact DECIMAL cents.
    QueryDef(
      "q_attribution",
      (s, dir) => {
        val e = Tables.loadEvents(s, dir)
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"), col("value"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        e.withColumn("channel",
            coalesce(last(
              when(col("event_type").isin("view", "click"), col("event_type")),
              ignoreNulls = true).over(w), lit("none")))
          .filter(col("event_type") === "purchase")
          .groupBy("channel").agg(
            count(lit(1)).as("n_purchases"),
            sum(dec(col("value"))).cast("double").as("total_value"))
          .orderBy("channel")
      },
      Some("""WITH e AS (
                SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t,
                  event_id, value
                FROM events),
              a AS (
                SELECT event_type, value,
                  coalesce(last_value(CASE WHEN event_type IN ('view', 'click')
                      THEN event_type END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY t, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    'none') AS channel
                FROM e)
              SELECT channel, count(*) AS n_purchases,
                CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                  AS total_value
              FROM a WHERE event_type = 'purchase'
              GROUP BY channel ORDER BY channel""")),

    // Floor-at-zero running balance — the credits/inventory ledger
    // semantics (y_i = max(0, y_{i-1} + Δ_i): a spend can empty the
    // account but never overdraw it). The naive form is a per-row
    // recurrence — state, not SQL — but the clamp has a closed form:
    //   y_i = p_i − min(0, min_{j≤i} p_j)
    // (p = plain prefix sum; proof by induction on whether the clamp
    // fires), so the whole ledger is TWO stacked window functions over
    // one user-keyed sort — declarative, codegen'd, one shuffle, and
    // bit-identical on any engine because every operand is exact
    // integer cents. Credits: signup +$10, view/click +$0.10,
    // purchase −price. Output is event-grain (the full audited ledger).
    QueryDef(
      "q_clamped_balance",
      (s, dir) => {
        val delta = when(col("event_type") === "signup", 1000L)
          .when(col("event_type").isin("view", "click"), 10L)
          .when(col("event_type") === "purchase",
            -(dec(col("value")) * 100).cast("long"))
          .otherwise(0L)
        val wRun = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.loadEvents(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            delta.as("delta_cents"))
          .withColumn("p", sum(col("delta_cents")).over(wRun))
          .withColumn("balance_cents",
            col("p") - least(lit(0L), min(col("p")).over(wRun)))
          .select(col("user_id"), col("event_id"), col("delta_cents"),
            col("balance_cents"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH e AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id,
                  CASE WHEN event_type = 'signup' THEN 1000
                       WHEN event_type IN ('view', 'click') THEN 10
                       WHEN event_type = 'purchase' THEN
                         -CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                       ELSE 0 END AS delta_cents
                FROM events),
              pw AS (
                SELECT user_id, t, event_id, delta_cents,
                  sum(delta_cents) OVER (PARTITION BY user_id
                    ORDER BY t, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
                FROM e),
              w AS (
                SELECT user_id, event_id, delta_cents, p,
                  min(p) OVER (PARTITION BY user_id ORDER BY t, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mp
                FROM pw)
              SELECT user_id, event_id, CAST(delta_cents AS BIGINT)
                  AS delta_cents,
                CAST(p - least(0, mp) AS BIGINT) AS balance_cents
              FROM w ORDER BY user_id, event_id"""))
  )

  /** Count-min sketch geometry: 4 rows x 1024 counters = 32 KB. With
    * |lineitem| = N, the estimate error is <= 2N/1024 with probability
    * 1 - 2^-4 per key. */
  private val CmsDepth = 4
  private val CmsWidth = 1024

  /** Raw HLL/t-digest estimates behind q_approx_sketches — the
    * engine-private values the registry row folds into validity flags;
    * bound-checked against q_sketch_exact in AnalyticsSpec. */
  private[graft] def approxSketchesRaw(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        approx_count_distinct(col("o_custkey")).as("approx_cust"),
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("approx_median"))
      .orderBy("o_orderstatus")

  /** Raw count-min probe behind q_cms_freq: (l_partkey, n_exact,
    * n_est) for the exact top-20 keys. ONE bounded-memory sketch (32 KB
    * per partial regardless of key cardinality, map-side combined,
    * partitioning-independent — counter sums commute) built over all
    * line items, probed with min-over-depth-rows. */
  private[graft] def cmsFreqRaw(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CountMinAgg
    // the depth-row md5 slot ladder is the dominant cost and ran on the
    // single input split (round-13 baseline: 3.0 s wall ≈ 2.7 s serial
    // CPU) — spread it; the sketch merge is depth*width ints per partial
    val li = Tables.parallel(s,
      t(s, dir, "lineitem").select(col("l_partkey")))
    val cms = udaf(new CountMinAgg(CmsDepth, CmsWidth))
    // the depth hash slots are computed in the codegen projection
    // feeding the aggregate — the typed reduce is pure increments
    val sk = li
      .select(CountMinAgg.slots(col("l_partkey"), CmsDepth, CmsWidth)
        .as("slots"))
      .agg(cms(col("slots")).as("sk"))
    val top = li.groupBy("l_partkey").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("l_partkey")).limit(20)
    // probe: min over the depth rows of the counter each hash selects
    val est = (0 until CmsDepth).map { i =>
      element_at(col("sk"),
        (lit(i * CmsWidth) +
          CountMinAgg.slot(i, col("l_partkey"), CmsWidth) + 1)
          .cast("int"))
    }
    top.crossJoin(broadcast(sk))
      .select(col("l_partkey"), col("n_exact"),
        least(est: _*).as("n_est"))
      .orderBy(col("n_exact").desc, col("l_partkey"))
  }

  /** Gaps-and-islands oracle for the native session-window operators
    * (batch + streaming): session end = last event + 30-minute gap.
    * (lazy: declared below `defs`, which captures it at object init.) */
  lazy val SessionWindowOracleSql: String =
    s"""WITH x AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
            lag(CAST(ts AS TIMESTAMP)) OVER
              (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) AS pt
          FROM events),
        sx AS (
          SELECT user_id, t,
            sum(CASE WHEN pt IS NOT NULL AND epoch_us(t) - epoch_us(pt) > $SessionGapUs
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM x)
        SELECT user_id, min(t) AS session_start,
          max(t) + INTERVAL 30 MINUTE AS session_end,
          count(*) AS n_events
        FROM sx GROUP BY user_id, sid
        ORDER BY user_id, session_start"""

  /** q_ohlc's oracle — shared verbatim by the streaming form
    * (stream_ohlc), so batch and incremental resampling can never
    * drift. (lazy for the same object-init reason as above.) */
  lazy val OhlcOracleSql: String =
    """WITH e AS (
         SELECT event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us, value, event_id
         FROM events),
       b AS (
         SELECT event_type,
           (us // 21600000000) * 21600000000 AS bucket_us,
           (us - (us // 21600000000) * 21600000000) * 1000000
             + event_id AS ok,
           value
         FROM e)
       SELECT event_type, bucket_us,
         arg_min(value, ok) AS open,
         max(value) AS high,
         min(value) AS low,
         arg_max(value, ok) AS close,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
           AS total_value
       FROM b GROUP BY event_type, bucket_us
       ORDER BY event_type, bucket_us"""
}
