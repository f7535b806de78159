package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.EngineFns.hash31Sql
import graft.operators.Relational.dec

/** The numeric-aggregate surface a warehouse user expects beyond plain
  * sum/avg — regression aggregates, bitwise/boolean reductions, ordered
  * string aggregation, deterministic mode — plus the order-sensitive
  * time-series kernels (EWMA, TWAP) an event-stream consumer runs daily.
  * The reference's engine family exposes these as built-in SQL aggregate
  * functions (the regr_/bit_and/bool_and/string_agg families of its
  * DataFusion lineage — implicit surface, reference main.rs:122 routes
  * arbitrary SQL); here
  * each is expressed as Catalyst aggregates/windows so Tungsten codegen
  * and partial aggregation apply unchanged.
  *
  * Oracle determinism follows the house rules (SCALE.md "Numeric
  * determinism"): moment sums are exact integers (BIGINT / DECIMAL(38,0)
  * vs DuckDB HUGEINT), doubles enter only in a final expression whose
  * operation order is written identically on both engines, and every
  * order-sensitive window carries a total tie-break (event_id).
  *
  * Scale shapes: the aggregates are one partial/final hash aggregation
  * each (map-side combined, shuffle ∝ groups); the window kernels are one
  * hash shuffle on the partition key with per-row constant work (lag/lead
  * over a bounded frame — no unbounded running state, no self-join).
  * `q_listagg`'s collect_list is bounded by group cardinality (nations
  * per region — catalog-sized); an unbounded-group string_agg at 100 TB
  * would instead shard via the text_shard_pack pattern.
  */
object Numerics {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** l_extendedprice in exact integer cents. */
  private def cents(c: Column): Column = (dec(c) * 100).cast("long")

  /** q_bootstrap_ci: resample count and the Poisson(1) inverse-CDF
    * threshold ladder on the 2^20 md5-uniform grid (the q_dp_release
    * literal-table recipe — no transcendentals on the data path;
    * P(k) = e^-1/k! computed ONCE on the driver). P(X ≤ 8) ≈ 1 − 1e-6,
    * beyond the grid's resolution, so the ELSE arm caps at 8. */
  private final val BootB = 32
  private final val BootGrid = 1048576L
  private lazy val BootLadder: Seq[(Long, Int)] = {
    var cdf = 0.0
    var fact = 1.0
    (0 to 8).map { k =>
      if (k > 0) fact *= k
      cdf += math.exp(-1.0) / fact
      (math.round(cdf * BootGrid), k)
    }
  }
  private lazy val BootCaseSql: String =
    BootLadder.map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 8 END")

  val defs: Seq[QueryDef] = Seq(

    // Poisson-bootstrap confidence intervals — the ONE-PASS distributed
    // bootstrap (classical resampling needs `n` draws WITH replacement
    // per replicate — a shuffle per replicate; the Poisson trick gives
    // each row an independent Poisson(1) multiplicity per replicate,
    // which converges to the same bootstrap distribution and needs no
    // resampling pass at all). B = 32 replicates of per-event-type
    // purchase revenue: each row contributes w_b · cents to replicate b
    // with w_b drawn from the driver-computed Poisson inverse-CDF
    // ladder keyed on md5(b, event_id) — deterministic, engine-exact,
    // log-free (the q_dp_release discipline). Report per type: the
    // exact total, the replicate mean, and the [2nd, 31st] order
    // statistics of the 32 replicate sums as the ~90% CI. Shape: one
    // map-only 32× expansion fused into the scan, one (type, b) hash
    // aggregate (map-side combined), then a 32-row-per-type window —
    // the close is replicate-grain, never row-grain.
    QueryDef(
      "q_bootstrap_ci",
      (s, dir) => {
        // under-split scan feeds a 32x explode + md5 ladder: parallelize
        // (round-13 baseline: 3.4 s wall ≈ 3.1 s single-task CPU)
        val e = Tables.parallel(s, Tables.loadEvents(s, dir))
          .filter(col("event_type").isin("purchase", "signup", "click"))
          .select(col("event_type"), col("event_id"),
            (dec(col("value")) * 100).cast("long").as("cents"))
        // the 32× expansion is a plain explode and the draw is a
        // PROJECTED column, so both the md5 and the ladder run inside
        // whole-stage codegen exactly once per (row, replicate) — a
        // transform() lambda here would re-run the md5 interpreted per
        // CASE branch (the round-3 text_bpe_encode trap)
        val expanded = e.select(col("event_type"), col("event_id"),
          col("cents"), explode(sequence(lit(0), lit(BootB - 1))).as("b"))
        val u = graft.functions.EngineFns.hash31(
          concat_ws("|", lit("boot"), col("b").cast("string"),
            col("event_id").cast("string"))) % BootGrid
        val wCol = BootLadder.init.foldRight(lit(8).cast("long")) {
          case ((t, k), rest) => when(col("u") < t, k.toLong).otherwise(rest)
        }
        val sums = expanded
          .withColumn("u", u)
          .withColumn("w", wCol)
          .groupBy(col("event_type"), col("b"))
          // w·cents ≤ 8e7 per row but a 1e12-row type would wrap an
          // int64 SUM — DECIMAL(38,0), the suite's standing discipline
          .agg(sum((col("w") * col("cents")).cast("decimal(38,0)")).as("s"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("s").asc, col("b").asc)
        val exact = e.groupBy("event_type")
          .agg(sum(col("cents")).as("total_cents"))
        sums
          .withColumn("rk", row_number().over(w))
          .groupBy("event_type").agg(
            (sum(col("s")).cast("double") / BootB.toDouble).as("boot_mean_cents"),
            // the long cast is bounded, not decorative: w ≤ 8 and
            // cents ≤ ~5e4 (value ≤ ~500), so a replicate sum fits
            // int64 up to ~2.3e13 rows per event_type — ~75× past a
            // 100 TB events estate (~1e12 rows / ~3e11 per type).
            // Beyond that, Spark's non-ANSI cast would wrap silently
            // while DuckDB's HUGEINT→BIGINT raises; keep the columns
            // DECIMAL past ~1e13 rows/type.
            max(when(col("rk") === 2, col("s"))).cast("long").as("ci_lo_cents"),
            max(when(col("rk") === BootB - 1, col("s"))).cast("long")
              .as("ci_hi_cents"))
          .join(exact, Seq("event_type"))
          .select(col("event_type"), col("total_cents"),
            col("boot_mean_cents"), col("ci_lo_cents"), col("ci_hi_cents"))
          .orderBy("event_type")
      },
      Some(s"""WITH e AS (
                 SELECT event_type, event_id,
                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                     AS cents
                 FROM events
                 WHERE event_type IN ('purchase', 'signup', 'click')),
               x AS (
                 SELECT e.event_type, e.cents, b.b,
                   ${hash31Sql("concat('boot', '|', CAST(b.b AS VARCHAR), '|', CAST(e.event_id AS VARCHAR))")} % $BootGrid AS u
                 FROM e CROSS JOIN
                   (SELECT unnest(range(0, $BootB)) AS b) b),
               sums AS (
                 SELECT event_type, b,
                   sum(CAST(($BootCaseSql) * cents AS HUGEINT)) AS s
                 FROM x GROUP BY event_type, b),
               rk AS (
                 SELECT event_type, b, s, row_number() OVER
                   (PARTITION BY event_type ORDER BY s ASC, b ASC) AS rk
                 FROM sums),
               agg AS (
                 SELECT event_type,
                   CAST(sum(s) AS DOUBLE) / $BootB AS boot_mean_cents,
                   CAST(max(CASE WHEN rk = 2 THEN s END) AS BIGINT)
                     AS ci_lo_cents,
                   CAST(max(CASE WHEN rk = ${BootB - 1} THEN s END)
                     AS BIGINT) AS ci_hi_cents
                 FROM rk GROUP BY event_type),
               ex AS (
                 SELECT event_type, CAST(sum(cents) AS BIGINT)
                   AS total_cents
                 FROM e GROUP BY event_type)
               SELECT a.event_type, ex.total_cents, a.boot_mean_cents,
                 a.ci_lo_cents, a.ci_hi_cents
               FROM agg a JOIN ex ON ex.event_type = a.event_type
               ORDER BY a.event_type"""),
      ),

    // Simple linear regression y~x per group from exact integer moment
    // sums (the regr_slope/regr_intercept/regr_r2 family) — one scan,
    // one partial/final aggregation, doubles only in the final centered
    // formulas, operation order mirrored in the oracle text. sy2/sxy go
    // through DECIMAL(38,0): y is price-cents (~1e7), y^2 ~ 1e14, and a
    // 1e9-row 100 TB group would overflow BIGINT where decimal128 keeps
    // the sum exact (DuckDB's HUGEINT does the same on the oracle side).
    QueryDef(
      "q_regr_fns",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(
          col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          cents(col("l_extendedprice")).as("y"))
        val m = li.groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
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
        // centered second moments, each rounded ONCE before reuse so the
        // oracle's CTE replays the identical double sequence
        val sxyC = dn * dsxy - dsx * dsy
        val sxxC = dn * dsx2 - dsx * dsx
        val syyC = dn * dsy2 - dsy * dsy
        // nullif guards: an n=1 group (or constant x) zeroes the
        // centered moments; Spark-4 ANSI throws on 0.0/0.0 where DuckDB
        // returns NULL — nullif makes both engines emit NULL, and on
        // healthy groups the doubles pass through bit-identically
        // (degenerate-corpus sweep, r8)
        val slope = sxyC / nullif(sxxC, lit(0.0))
        m.select(
            col("l_returnflag"), col("n"),
            (dsx / dn).as("avg_x"),
            (dsy / dn).as("avg_y"),
            slope.as("slope"),
            ((dsy - slope * dsx) / dn).as("intercept"),
            ((sxyC * sxyC) / nullif(sxxC * syyC, lit(0.0))).as("r2"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (
                SELECT l_returnflag,
                  count(*) AS n,
                  sum(CAST(l_quantity AS BIGINT)) AS sx,
                  sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT)) AS sy,
                  sum(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)
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
                FROM m),
              c AS (
                SELECT l_returnflag, n, dn, dsx, dsy,
                  dn*dsxy - dsx*dsy AS sxy_c,
                  dn*dsx2 - dsx*dsx AS sxx_c,
                  dn*dsy2 - dsy*dsy AS syy_c
                FROM d)
              SELECT l_returnflag, n,
                dsx/dn AS avg_x,
                dsy/dn AS avg_y,
                sxy_c/sxx_c AS slope,
                (dsy - (sxy_c/sxx_c)*dsx)/dn AS intercept,
                (sxy_c*sxy_c)/(sxx_c*syy_c) AS r2
              FROM c ORDER BY l_returnflag""")),

    // Bitwise and boolean aggregate reductions — AND/OR/XOR folds over
    // the key domain and predicate columns. Exact integer/boolean
    // semantics, so the oracle matches bit-for-bit; one map-side-combined
    // hash aggregation (bitwise folds are associative+commutative, so
    // partial aggregation applies — shuffle ∝ groups at any scale).
    QueryDef(
      "q_bitbool_agg",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("bit_and(l_partkey)").as("pk_and"),
            expr("bit_or(l_partkey)").as("pk_or"),
            expr("bit_xor(l_partkey)").as("pk_xor"),
            expr("bool_and(l_quantity > 0)").as("all_positive"),
            expr("bool_or(l_discount > 0.09)").as("any_deep_discount"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                bit_and(l_partkey) AS pk_and,
                bit_or(l_partkey) AS pk_or,
                bit_xor(l_partkey) AS pk_xor,
                bool_and(l_quantity > 0) AS all_positive,
                bool_or(l_discount > 0.09) AS any_deep_discount,
                count(*) AS n
              FROM lineitem GROUP BY l_returnflag
              ORDER BY l_returnflag""")),

    // Ordered string aggregation (LISTAGG / string_agg): nations rolled
    // up per region as a sorted delimited string. collect_list is
    // unordered under parallelism, so the sort happens INSIDE the
    // aggregate value (array_sort) — the engine-portable way to get
    // deterministic listagg without a single-partition window. Group
    // cardinality bounds the array (catalog-sized here); corpus-scale
    // concatenation goes through text_shard_pack instead.
    QueryDef(
      "q_listagg",
      (s, dir) =>
        t(s, dir, "nation")
          .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(
            count(lit(1)).as("n_nations"),
            array_join(array_sort(collect_list(col("n_name"))), "|")
              .as("nations"))
          .orderBy("r_name"),
      Some("""SELECT r_name,
                count(*) AS n_nations,
                string_agg(n_name, '|' ORDER BY n_name) AS nations
              FROM nation JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name ORDER BY r_name""")),

    // Deterministic MODE per group: the most frequent l_linenumber, ties
    // broken toward the smallest value. Built-in mode() breaks ties
    // arbitrarily in both engines, so the portable form is count + one
    // window argmax with a total order — two hash shuffles, both
    // group-key-partitioned, no global sort.
    QueryDef(
      "q_mode",
      (s, dir) => {
        val c = t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linenumber")
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("cnt").desc, col("l_linenumber").asc)
        c.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("l_returnflag"),
            col("l_linenumber").cast("long").as("mode_linenumber"),
            col("cnt").as("mode_count"))
          .orderBy("l_returnflag")
      },
      Some("""WITH c AS (
                SELECT l_returnflag, l_linenumber, count(*) AS cnt
                FROM lineitem GROUP BY l_returnflag, l_linenumber),
              r AS (
                SELECT l_returnflag, l_linenumber, cnt,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY cnt DESC, l_linenumber) AS rn
                FROM c)
              SELECT l_returnflag,
                CAST(l_linenumber AS BIGINT) AS mode_linenumber,
                cnt AS mode_count
              FROM r WHERE rn = 1 ORDER BY l_returnflag""")),

    // Exponentially weighted moving average over each user's event-value
    // series — finite 8-term kernel with power-of-two weights (128..1),
    // so every weight multiplication is an exact exponent shift and the
    // left-associated term sum is the identical IEEE sequence on both
    // engines. One hash shuffle on user_id; the frame is bounded (8
    // lags), so state per row is constant — this is the scale-safe EWMA
    // (an infinite-memory recurrence would need a sequential scan).
    QueryDef(
      "q_ewma",
      (s, dir) => {
        val e = Tables.loadEvents(s, dir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), col("value"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("us").asc, col("event_id").asc)
        val lags = (0 until 8).map(k => lag(col("value"), k).over(w))
        val weights = (0 until 8).map(k => (128 >> k).toDouble)
        val num = lags.zip(weights).map { case (x, m) =>
            when(x.isNull, lit(0.0)).otherwise(x * lit(m))
          }.reduceLeft(_ + _)
        val den = lags.zip(weights).map { case (x, m) =>
            when(x.isNull, lit(0L)).otherwise(lit(m.toLong))
          }.reduceLeft(_ + _)
        e.select(col("event_id"), col("user_id"), col("us"),
            (num / den.cast("double")).as("ewma"))
          .orderBy("event_id")
      },
      Some {
        val lagSql = (0 until 8).map { k =>
          val m = 128 >> k
          (s"CASE WHEN lag(value, $k) OVER w IS NULL THEN 0.0 " +
            s"ELSE lag(value, $k) OVER w * $m.0 END",
            s"CASE WHEN lag(value, $k) OVER w IS NULL THEN 0 ELSE $m END")
        }
        val num = lagSql.map(_._1).mkString(" + ")
        val den = lagSql.map(_._2).mkString(" + ")
        s"""WITH e AS (
              SELECT event_id, user_id,
                epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
              FROM events),
            k AS (
              SELECT event_id, user_id, us,
                ($num) / CAST(($den) AS DOUBLE) AS ewma
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
            SELECT event_id, user_id, us, ewma FROM k ORDER BY event_id"""
      }),

    // Time-weighted average (TWAP): each event's value weighted by the
    // microseconds until the user's next event, summed exactly (cents ×
    // µs in DECIMAL(38,0) / HUGEINT), one double division at the end.
    // The lead() frame is one row, the shuffle is one hash exchange on
    // user_id, and the final per-user aggregate is map-side combined —
    // the standard irregular-series TWAP without resampling.
    QueryDef(
      "q_twap",
      (s, dir) => {
        val e = Tables.loadEvents(s, dir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), cents(col("value")).as("vc"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("us").asc, col("event_id").asc)
        e.withColumn("dt", lead(col("us"), 1).over(w) - col("us"))
          .filter(col("dt").isNotNull)
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_intervals"),
            sum(col("dt")).as("span_us"),
            sum(col("vc").cast("decimal(38,0)") * col("dt")).as("svw"))
          .select(col("user_id"), col("n_intervals"), col("span_us"),
            (col("svw").cast("double") / col("span_us").cast("double") / 100.0)
              .as("twap"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
                SELECT event_id, user_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                  CAST(CAST(value AS DECIMAL(12,2))*100 AS BIGINT) AS vc
                FROM events),
              d AS (
                SELECT user_id, us, vc,
                  lead(us, 1) OVER (PARTITION BY user_id
                    ORDER BY us, event_id) - us AS dt
                FROM e),
              g AS (
                SELECT user_id, count(*) AS n_intervals,
                  CAST(sum(dt) AS BIGINT) AS span_us,
                  sum(CAST(vc AS HUGEINT) * dt) AS svw
                FROM d WHERE dt IS NOT NULL GROUP BY user_id)
              SELECT user_id, n_intervals, span_us,
                CAST(svw AS DOUBLE) / CAST(span_us AS DOUBLE) / 100.0 AS twap
              FROM g ORDER BY user_id""")),

    // Growth-dashboard counters: per (event_type, day) the event count,
    // distinct active users, FIRST-TIME users, and the cumulative
    // distinct-user total. The cumulative distinct is the classic trap —
    // a running count_distinct window holds every user in window state;
    // the scale-safe identity used here is cum_distinct(day) =
    // running_sum(first-occurrences per day), where first occurrence is
    // one min(day) aggregate per (type, user). The running sum then
    // operates on the DAY-GRAIN relation (∝ days × types, catalog-sized),
    // so the only per-event work is two hash aggregations.
    QueryDef(
      "q_daily_active",
      (s, dir) => {
        val e = Tables.loadEvents(s, dir)
          .select(col("event_type"), col("user_id"),
            date_trunc("day", col("ts")).as("day"))
        val daily = e.groupBy("event_type", "day").agg(
          count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_active"))
        val news = e.groupBy("event_type", "user_id")
          .agg(min(col("day")).as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("n_new"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.join(news, Seq("event_type", "day"), "left")
          .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
          .withColumn("cum_users", sum(col("n_new")).over(w))
          .select("event_type", "day", "n_events", "n_active", "n_new",
            "cum_users")
          .orderBy("event_type", "day")
      },
      Some("""WITH e AS (
                SELECT event_type, user_id,
                  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                    AS day
                FROM events),
              daily AS (
                SELECT event_type, day, count(*) AS n_events,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
                FROM e GROUP BY 1, 2),
              fo AS (
                SELECT event_type, user_id, min(day) AS day
                FROM e GROUP BY 1, 2),
              news AS (
                SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_new
                FROM fo GROUP BY 1, 2)
              SELECT d.event_type, d.day, d.n_events, d.n_active,
                COALESCE(n.n_new, 0) AS n_new,
                CAST(sum(COALESCE(n.n_new, 0)) OVER (
                  PARTITION BY d.event_type ORDER BY d.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_users
              FROM daily d LEFT JOIN news n
                ON d.event_type = n.event_type AND d.day = n.day
              ORDER BY d.event_type, d.day""")),

    // Peak concurrent sessions per day — the capacity-planning sweep
    // line, done as a DISTRIBUTED PREFIX SUM: session intervals (native
    // session_window, 30-min gap) become ±1 deltas; each UTC day
    // computes its internal running sum independently (one hash
    // shuffle on day, window ordered by the unique (us, delta, user)
    // key with ends-before-starts half-open semantics); and the
    // cross-day carry is a running total over the DAY-GRAIN relation
    // (∝ days — the one place a single-partition window is correct,
    // because its input is already aggregated to calendar size). This
    // is the textbook two-pass parallel scan: no global sort of the
    // event-scale delta relation ever happens, yet sessions spanning
    // midnight count correctly via the carry.
    QueryDef(
      "q_peak_concurrency",
      (s, dir) => {
        val DayUs = 86400000000L
        // spread the under-split scan feeding the session_window partial
        // aggregate (conditional; no-op on a pre-split input)
        val sess = Tables.parallel(s, Tables.loadEvents(s, dir))
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"), unix_micros(col("sw.start")).as("s_us"),
            unix_micros(col("sw.end")).as("e_us"))
        val deltas = sess
          .select(col("user_id"), col("s_us").as("us"), lit(1L).as("delta"))
          .unionAll(sess.select(col("user_id"), col("e_us").as("us"),
            lit(-1L).as("delta")))
          .withColumn("day_us", expr(s"(us div $DayUs) * $DayUs"))
        val dayTot = deltas.groupBy("day_us")
          .agg(sum(col("delta")).as("day_total"))
        val wCarry = Window.orderBy("day_us")
          .rowsBetween(Window.unboundedPreceding, -1)
        val carry = dayTot.withColumn("carry",
            coalesce(sum(col("day_total")).over(wCarry), lit(0L)))
          .select("day_us", "carry")
        val wRun = Window.partitionBy("day_us")
          .orderBy(col("us").asc, col("delta").asc, col("user_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val run = deltas.join(carry, "day_us")
          .withColumn("conc", col("carry") + sum(col("delta")).over(wRun))
        val peaks = run.groupBy("day_us").agg(
          max(col("conc")).as("peak_concurrency"),
          sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"))
        run.join(peaks, "day_us")
          .filter(col("conc") === col("peak_concurrency"))
          .groupBy("day_us", "peak_concurrency", "n_starts")
          .agg(min(col("us")).as("peak_at_us"))
          .select("day_us", "peak_concurrency", "n_starts", "peak_at_us")
          .orderBy("day_us")
      },
      Some("""WITH x AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
              g AS (
                SELECT user_id, t,
                  lag(t) OVER (PARTITION BY user_id ORDER BY t) AS pt
                FROM x),
              sx AS (
                SELECT user_id, t,
                  sum(CASE WHEN pt IS NOT NULL
                            AND epoch_us(t) - epoch_us(pt) > 1800000000
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sid
                FROM g),
              sess AS (
                SELECT user_id, epoch_us(min(t)) AS s_us,
                  epoch_us(max(t)) + 1800000000 AS e_us
                FROM sx GROUP BY user_id, sid),
              d AS (
                SELECT user_id, s_us AS us, CAST(1 AS BIGINT) AS delta
                FROM sess
                UNION ALL
                SELECT user_id, e_us, CAST(-1 AS BIGINT) FROM sess),
              dd AS (
                SELECT user_id, us, delta,
                  (us // 86400000000) * 86400000000 AS day_us
                FROM d),
              tot AS (
                SELECT day_us, CAST(sum(delta) AS BIGINT) AS day_total
                FROM dd GROUP BY day_us),
              cr AS (
                SELECT day_us,
                  COALESCE(CAST(sum(day_total) OVER (ORDER BY day_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT), 0) AS carry
                FROM tot),
              run AS (
                SELECT dd.day_us, dd.us, dd.delta, dd.user_id,
                  cr.carry + CAST(sum(dd.delta) OVER (
                    PARTITION BY dd.day_us
                    ORDER BY dd.us, dd.delta, dd.user_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS conc
                FROM dd JOIN cr USING (day_us)),
              pk AS (
                SELECT day_us, max(conc) AS peak_concurrency,
                  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_starts
                FROM run GROUP BY day_us)
              SELECT r.day_us, p.peak_concurrency, p.n_starts,
                min(r.us) AS peak_at_us
              FROM run r JOIN pk p ON r.day_us = p.day_us
                AND r.conc = p.peak_concurrency
              GROUP BY r.day_us, p.peak_concurrency, p.n_starts
              ORDER BY r.day_us""")),

    // Robust outlier profile per group: median, MAD (median absolute
    // deviation), and the count of robust-z outliers (|x - med| >
    // 3·1.4826·MAD) — the heavy-tail-safe companion to q_outliers'
    // moment-based z-scores, which a single billionaire row can wash
    // out. MAD is inherently two-pass (the deviation needs the median
    // first); each pass is one partial/final percentile aggregate plus
    // a BROADCAST join of the 3-row per-group medians back onto the
    // fact — the fact never re-shuffles on the group key. A production
    // run caches the projected scan across the three passes.
    QueryDef(
      "q_mad_outliers",
      (s, dir) => {
        // plain load (r14): the r13 repartition regressed this 0.80x —
        // the percentile passes aggregate immediately, so the extra
        // round-robin exchange cost more than the scan spread bought
        val li = t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_quantity").as("x"))
        val med = li.groupBy("l_returnflag")
          .agg(expr("percentile(x, 0.5)").as("med"))
        val dev = li.join(broadcast(med), "l_returnflag")
        val mad = dev.groupBy("l_returnflag", "med")
          .agg(expr("percentile(abs(x - med), 0.5)").as("mad"))
        dev.join(broadcast(mad), Seq("l_returnflag", "med"))
          .groupBy("l_returnflag", "med", "mad")
          .agg(
            count(lit(1)).as("n"),
            sum(when(abs(col("x") - col("med")) >
              lit(3.0) * lit(1.4826) * col("mad"), 1L).otherwise(0L))
              .as("n_outliers"))
          .select("l_returnflag", "n", "med", "mad", "n_outliers")
          .orderBy("l_returnflag")
      },
      Some("""WITH li AS (
                SELECT l_returnflag, l_quantity AS x FROM lineitem),
              med AS (
                SELECT l_returnflag, quantile_cont(x, 0.5) AS med
                FROM li GROUP BY 1),
              dev AS (
                SELECT li.l_returnflag, li.x, med.med
                FROM li JOIN med USING (l_returnflag)),
              mad AS (
                SELECT l_returnflag, med,
                  quantile_cont(abs(x - med), 0.5) AS mad
                FROM dev GROUP BY 1, 2)
              SELECT d.l_returnflag, count(*) AS n, m.med, m.mad,
                CAST(sum(CASE WHEN abs(d.x - d.med) > 3.0 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
              FROM dev d JOIN mad m
                ON d.l_returnflag = m.l_returnflag AND d.med = m.med
              GROUP BY d.l_returnflag, m.med, m.mad
              ORDER BY d.l_returnflag""")),

    // Benford first-digit audit — the fraud/data-quality screen over a
    // monetary column: observed share of each leading digit of the
    // exact price-in-cents integer against the Benford expectation
    // log10(1 + 1/d). The leading digit comes from the DECIMAL STRING
    // of an exact integer (no float log10 on the data path), and the
    // expectation constants are Scala-computed literals injected into
    // BOTH plans via shortest-roundtrip formatting — so no libm
    // difference between engines can ever flip a bit. One map-side-
    // combined 9-group aggregate + a broadcast total.
    QueryDef(
      "q_benford",
      (s, dir) => {
        val d = t(s, dir, "lineitem")
          .select(cents(col("l_extendedprice")).as("c"))
          .filter(col("c") > 0)
          .select(substring(col("c").cast("string"), 1, 1)
            .cast("long").as("digit"))
        val byDigit = d.groupBy("digit").agg(count(lit(1)).as("n"))
        val tot = d.agg(count(lit(1)).as("total"))
        val expected = (1 to 9).map(i =>
          (i.toLong, math.log10(1.0 + 1.0 / i)))
        val expCol = expected.tail.foldLeft(
            when(col("digit") === expected.head._1, lit(expected.head._2))) {
          case (acc, (dg, e)) => acc.when(col("digit") === dg, lit(e))
        }
        byDigit.crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            (col("n").cast("double") / col("total").cast("double"))
              .as("share"),
            expCol.as("benford_expected"))
          .orderBy("digit")
      },
      Some {
        // CAST('<shortest-repr>' AS DOUBLE): a bare decimal literal
        // would parse as DECIMAL in DuckDB and round differently in the
        // last ulp; the string cast is IEEE strtod on both engines
        val cases = (1 to 9).map(i =>
            s"WHEN $i THEN CAST('${math.log10(1.0 + 1.0 / i)}' AS DOUBLE)")
          .mkString(" ")
        s"""WITH c AS (
              SELECT CAST(substr(CAST(
                  CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT)
                  AS VARCHAR), 1, 1) AS BIGINT) AS digit
              FROM lineitem
              WHERE CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT) > 0),
            g AS (SELECT digit, count(*) AS n FROM c GROUP BY digit),
            t AS (SELECT count(*) AS total FROM c)
            SELECT digit, n,
              CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
              CASE digit $cases END AS benford_expected
            FROM g, t ORDER BY digit"""
      }),

    // Time-of-week activity profile — the seasonality matrix behind
    // every traffic dashboard: events and distinct users per (day-of-
    // week, hour-of-day) cell, with each cell's share of total. Both
    // calendar coordinates are INTEGER arithmetic on epoch micros
    // ((epoch_day + 4) mod 7 pins Sunday=0 identically on both engines
    // — no locale/ISO dayofweek() drift), so the profile is exact. Two
    // map-side-combined aggregates + one broadcast 1-row total; cells
    // are bounded at 168 forever.
    QueryDef(
      "q_time_profile",
      (s, dir) => {
        val DayUs = 86400000000L
        val HourUs = 3600000000L
        val e = Tables.loadEvents(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
          .select(col("user_id"),
            expr(s"((us div $DayUs) + 4) % 7").as("dow"),
            expr(s"(us % $DayUs) div $HourUs").as("hour"))
        val cells = e.groupBy("dow", "hour").agg(
          count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("n_users"))
        val tot = e.agg(count(lit(1)).as("total"))
        cells.crossJoin(broadcast(tot))
          .select(col("dow"), col("hour"), col("n"), col("n_users"),
            (col("n").cast("double") / col("total").cast("double"))
              .as("share"))
          .orderBy("dow", "hour")
      },
      Some("""WITH e AS (
                SELECT user_id,
                  ((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) + 4) % 7
                    AS dow,
                  (epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000)
                    // 3600000000 AS hour
                FROM events),
              g AS (
                SELECT dow, hour, count(*) AS n,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
                FROM e GROUP BY dow, hour),
              t AS (SELECT count(*) AS total FROM e)
              SELECT dow, hour, n, n_users,
                CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
              FROM g, t ORDER BY dow, hour""")),

    // Welch's unequal-variance t-test on purchase VALUES between the
    // two deterministic A/B arms — the continuous-metric sibling of
    // q_ab_test's two-proportion z (revenue-per-purchase moves are what
    // pricing experiments actually read). Sufficient statistics are
    // exact: per-arm n (BIGINT), Σcents and Σcents² in DECIMAL(38,0) —
    // cents² ~ 1e9 and a 1e9-row 100 TB arm would overflow BIGINT where
    // decimal128/HUGEINT stay exact — one map-side-combined hash
    // aggregate over the events scan, a 2-row fold, a 1-row projection.
    // Doubles enter only in the closing formulas (means, the two
    // variance quotients, t, and the Welch–Satterthwaite df), each
    // written as the IDENTICAL expression tree in the oracle so every
    // IEEE op matches bit-for-bit; arms with n < 2 yield NULL t/df via
    // the same CASE guard on both engines (never an engine-specific
    // divide-by-zero policy).
    QueryDef(
      "q_welch_ttest",
      (s, dir) => {
        val cts = (col("value").cast("decimal(12,2)") * 100).cast("long")
        val d38 = "decimal(38,0)"
        val p = t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(pmod(col("user_id"), lit(2L)).as("arm"), cts.as("c"))
        val m = p.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 0, col("c")).otherwise(0L).cast(d38)).as("s_a"),
          // square in DECIMAL, not BIGINT: cents reach ~1e12 in the
          // declared DECIMAL(12,2) domain, so c*c can pass int64 —
          // Spark would wrap silently where DuckDB raises (r9 advice)
          sum(when(col("arm") === 0, col("c").cast(d38) * col("c").cast(d38))
            .otherwise(0L).cast(d38)).as("q_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === 1, col("c")).otherwise(0L).cast(d38)).as("s_b"),
          sum(when(col("arm") === 1, col("c").cast(d38) * col("c").cast(d38))
            .otherwise(0L).cast(d38)).as("q_b"))
        // exact centered numerators first (decimal), doubles only after
        val va = ((col("n_a").cast(d38) * col("q_a") - col("s_a") * col("s_a"))
          .cast("double") /
          (col("n_a") * (col("n_a") - 1L)).cast("double")) / col("n_a").cast("double")
        val vb = ((col("n_b").cast(d38) * col("q_b") - col("s_b") * col("s_b"))
          .cast("double") /
          (col("n_b") * (col("n_b") - 1L)).cast("double")) / col("n_b").cast("double")
        m.select(col("n_a"), col("n_b"),
            when(col("n_a") > 0,
              col("s_a").cast("double") / col("n_a").cast("double")).as("mean_a"),
            when(col("n_b") > 0,
              col("s_b").cast("double") / col("n_b").cast("double")).as("mean_b"),
            when(col("n_a") > 1 && col("n_b") > 1, va).as("va"),
            when(col("n_a") > 1 && col("n_b") > 1, vb).as("vb"))
          .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
            ((col("mean_a") - col("mean_b")) / sqrt(col("va") + col("vb")))
              .as("t_stat"),
            (((col("va") + col("vb")) * (col("va") + col("vb"))) /
              (col("va") * col("va") / (col("n_a") - 1L).cast("double") +
                col("vb") * col("vb") / (col("n_b") - 1L).cast("double")))
              .as("df"))
      },
      Some("""WITH p AS (
                SELECT user_id % 2 AS arm,
                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
                FROM events WHERE event_type = 'purchase'),
              m AS (
                SELECT
                  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS s_a,
                  sum(CASE WHEN arm = 0 THEN
                    CAST(c AS HUGEINT) * CAST(c AS HUGEINT) ELSE 0 END) AS q_a,
                  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                  sum(CASE WHEN arm = 1 THEN c ELSE 0 END) AS s_b,
                  sum(CASE WHEN arm = 1 THEN
                    CAST(c AS HUGEINT) * CAST(c AS HUGEINT) ELSE 0 END) AS q_b
                FROM p),
              v AS (
                SELECT n_a, n_b,
                  CASE WHEN n_a > 0 THEN
                    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS mean_a,
                  CASE WHEN n_b > 0 THEN
                    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) END AS mean_b,
                  CASE WHEN n_a > 1 AND n_b > 1 THEN
                    (CAST(n_a * q_a - s_a * s_a AS DOUBLE)
                      / CAST(n_a * (n_a - 1) AS DOUBLE)) / CAST(n_a AS DOUBLE)
                  END AS va,
                  CASE WHEN n_a > 1 AND n_b > 1 THEN
                    (CAST(n_b * q_b - s_b * s_b AS DOUBLE)
                      / CAST(n_b * (n_b - 1) AS DOUBLE)) / CAST(n_b AS DOUBLE)
                  END AS vb
                FROM m)
              SELECT n_a, n_b, mean_a, mean_b,
                (mean_a - mean_b) / sqrt(va + vb) AS t_stat,
                ((va + vb) * (va + vb)) /
                  (va * va / CAST(n_a - 1 AS DOUBLE) +
                   vb * vb / CAST(n_b - 1 AS DOUBLE)) AS df
              FROM v""")),

    // Two-sample Kolmogorov–Smirnov drift statistic — the distribution-
    // shift alarm a training pipeline runs between data slices (here
    // purchase values of the two deterministic A/B arms; in production,
    // train vs serve or yesterday vs today). D = max_c |F_A(c) − F_B(c)|
    // is a GLOBAL-order statistic, usually a scale problem; here the
    // CDFs are built with the q_peak_concurrency discipline: per-cents
    // counts (one hash aggregate on exact DECIMAL cents, relation ∝
    // distinct values), bucket subtotals with a window over the ~50-row
    // bucket grain (the textbook-correct SinglePartition: bucket-count-
    // sized, never data-sized), and within-bucket running sums that add
    // the bucket offset — no global sort of the raw sample. The
    // comparison is EXACT: |c_A·n_B − c_B·n_A| is integer, so the argmax
    // (and its min-cents tie-break) involves no floats; D itself is one
    // closing IEEE division. The oracle replays the plain global-window
    // form — same integers, same maximum, engine-identical.
    QueryDef(
      "q_ks_drift",
      (s, dir) => {
        val cents = (col("value").cast("decimal(12,2)") * 100)
          .cast("long").as("cents")
        val p = t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(cents, pmod(col("user_id"), lit(2L)).as("arm"))
        val perC = p.groupBy("cents").agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na_c"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb_c"))
        val withB = perC.withColumn("bucket", expr("cents div 1000"))
        val bTot = withB.groupBy("bucket").agg(
          sum(col("na_c")).as("ba"), sum(col("nb_c")).as("bb"))
        val bOff = bTot
          .withColumn("off_a",
            coalesce(sum(col("ba")).over(Window.orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("off_b",
            coalesce(sum(col("bb")).over(Window.orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("bucket", "off_a", "off_b")
        val wIn = Window.partitionBy("bucket").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = withB.join(broadcast(bOff), Seq("bucket"))
          .withColumn("ca", col("off_a") + sum(col("na_c")).over(wIn))
          .withColumn("cb", col("off_b") + sum(col("nb_c")).over(wIn))
        val tot = p.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
        cum.crossJoin(broadcast(tot))
          .select(col("cents"), col("n_a"), col("n_b"),
            abs(col("ca") * col("n_b") - col("cb") * col("n_a")).as("d_num"))
          .orderBy(col("d_num").desc, col("cents").asc)
          .limit(1)
          .select(col("n_a"), col("n_b"),
            col("d_num"), col("cents").as("d_at_cents"),
            (col("d_num").cast("double") /
              (col("n_a") * col("n_b")).cast("double")).as("d_stat"))
      },
      Some("""WITH p AS (
                SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    AS cents,
                  user_id % 2 AS arm
                FROM events WHERE event_type = 'purchase'),
              c AS (
                SELECT cents,
                  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS na_c,
                  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS nb_c
                FROM p GROUP BY cents),
              cc AS (
                SELECT cents,
                  sum(na_c) OVER (ORDER BY cents
                    ROWS UNBOUNDED PRECEDING) AS ca,
                  sum(nb_c) OVER (ORDER BY cents
                    ROWS UNBOUNDED PRECEDING) AS cb
                FROM c),
              tt AS (
                SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_a,
                  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_b
                FROM p)
              SELECT n_a, n_b,
                CAST(abs(ca * n_b - cb * n_a) AS BIGINT) AS d_num,
                cents AS d_at_cents,
                CAST(abs(ca * n_b - cb * n_a) AS DOUBLE)
                  / CAST(n_a * n_b AS DOUBLE) AS d_stat
              FROM cc, tt
              ORDER BY d_num DESC, cents ASC LIMIT 1""")),

    // Distributed ROC-AUC via the Mann–Whitney U statistic — the
    // model-eval staple ("does this score separate the classes?"):
    // here, does the event value separate purchases (positives) from
    // clicks (negatives). AUC = P(score_pos > score_neg) + ½P(=), a
    // GLOBAL rank statistic usually computed by sorting all N scores;
    // here it rides the same no-global-sort CDF discipline as
    // q_ks_drift: per-cents class counts (one hash aggregate, relation
    // ∝ distinct scores), bucket-grain offsets (window over the ~50-row
    // bucket relation), within-bucket running sums. U is assembled in
    // HALF-UNITS so ties need no floats: u2 = Σ_v p_v·(2·neg_below(v)
    // + neg_at(v)) is an exact BIGINT, and AUC = u2/(2·n_pos·n_neg) is
    // one closing IEEE division. The oracle replays the plain global-
    // window form — same integers, same division.
    QueryDef(
      "q_roc_auc",
      (s, dir) => {
        val cents = (col("value").cast("decimal(12,2)") * 100)
          .cast("long").as("cents")
        val p = t(s, dir, "events")
          .filter(col("event_type").isin("purchase", "click"))
          .select(cents,
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
        val perC = p.groupBy("cents").agg(
          sum(col("pos")).as("np_c"),
          sum(lit(1L) - col("pos")).as("nn_c"))
        val withB = perC.withColumn("bucket", expr("cents div 1000"))
        val bTot = withB.groupBy("bucket").agg(sum(col("nn_c")).as("bn"))
        val bOff = bTot
          .withColumn("off_n",
            coalesce(sum(col("bn")).over(Window.orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("bucket", "off_n")
        val wIn = Window.partitionBy("bucket").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = withB.join(broadcast(bOff), Seq("bucket"))
          .withColumn("cn", col("off_n") + sum(col("nn_c")).over(wIn))
        val tot = p.agg(
          sum(col("pos")).as("n_pos"),
          sum(lit(1L) - col("pos")).as("n_neg"))
        // GROUP BY the totals (mirroring the oracle's GROUP BY n_pos,
        // n_neg) instead of a global agg: an empty corpus then yields 0
        // rows on both engines, where a global agg would fabricate one
        // all-NULL Spark row the oracle doesn't have (degenerate r8);
        // nullif guards the one-class corpus (n_pos or n_neg = 0)
        cum
          .select((col("np_c") *
            (lit(2L) * (col("cn") - col("nn_c")) + col("nn_c"))).as("u2_c"))
          .crossJoin(broadcast(tot))
          .groupBy("n_pos", "n_neg")
          .agg(sum(col("u2_c")).as("u2"))
          .select(col("n_pos"), col("n_neg"), col("u2"),
            (col("u2").cast("double") /
              nullif((lit(2L) * col("n_pos") * col("n_neg")).cast("double"),
                lit(0.0)))
              .as("auc"))
      },
      Some("""WITH p AS (
                SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    AS cents,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
                FROM events WHERE event_type IN ('purchase', 'click')),
              c AS (
                SELECT cents,
                  CAST(sum(pos) AS BIGINT) AS np_c,
                  CAST(sum(1 - pos) AS BIGINT) AS nn_c
                FROM p GROUP BY cents),
              cc AS (
                SELECT cents, np_c, nn_c,
                  sum(nn_c) OVER (ORDER BY cents
                    ROWS UNBOUNDED PRECEDING) AS cn
                FROM c),
              tt AS (
                SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                  CAST(sum(1 - pos) AS BIGINT) AS n_neg
                FROM p)
              SELECT n_pos, n_neg,
                CAST(sum(np_c * (2 * (cn - nn_c) + nn_c)) AS BIGINT) AS u2,
                CAST(sum(np_c * (2 * (cn - nn_c) + nn_c)) AS DOUBLE)
                  / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
              FROM cc, tt GROUP BY n_pos, n_neg""")),

    // Pearson chi-square independence test — the categorical drift /
    // A/B-balance check (is event_type distributed independently of the
    // experiment arm?). All inputs are exact: observed cells O, row
    // totals R, column totals C, and N are BIGINTs from three hash
    // aggregates over the same scan; chi² = Σ (O·N − R·C)²/(N·R·C) is
    // assembled per cell as the QUANTIZED integer ((O·N−R·C)²·10⁹) div
    // (N·R·C) in DECIMAL(38,0) (numerator ≤ ~10²⁹ at any plausible SF —
    // never overflows; DuckDB runs the identical arithmetic in HUGEINT),
    // summed exactly over the |types|×2 cells, with ONE closing IEEE
    // division. The cell matrix is catalog-sized (10 rows here), so the
    // totals attach as broadcasts and nothing data-sized shuffles twice.
    QueryDef(
      "q_chisq",
      (s, dir) => {
        val e = t(s, dir, "events")
          .select(col("event_type"), pmod(col("user_id"), lit(2L)).as("arm"))
        val cells = e.groupBy("event_type", "arm").agg(count(lit(1)).as("o"))
        val rowT = e.groupBy("event_type").agg(count(lit(1)).as("r"))
        val colT = e.groupBy("arm").agg(count(lit(1)).as("cl"))
        val tot = e.agg(count(lit(1)).as("n"))
        cells
          .join(broadcast(rowT), Seq("event_type"))
          .join(broadcast(colT), Seq("arm"))
          .crossJoin(broadcast(tot))
          .withColumn("d", col("o") * col("n") - col("r") * col("cl"))
          .withColumn("term_q",
            expr("""CAST((CAST(d AS DECIMAL(38,0)) * d * 1000000000)
                        div (CAST(n AS DECIMAL(38,0)) * r * cl) AS BIGINT)"""))
          .agg(max(col("n")).as("n"), count(lit(1)).as("n_cells"),
            sum(col("term_q")).as("chi2_q"))
          .select(col("n"), col("n_cells"), col("chi2_q"),
            (col("chi2_q").cast("double") / lit(1e9)).as("chi2"))
      },
      Some("""WITH e AS (
                SELECT event_type, user_id % 2 AS arm FROM events),
              cells AS (
                SELECT event_type, arm, count(*) AS o
                FROM e GROUP BY event_type, arm),
              rt AS (SELECT event_type, count(*) AS r FROM e GROUP BY 1),
              ct AS (SELECT arm, count(*) AS cl FROM e GROUP BY 1),
              tt AS (SELECT count(*) AS n FROM e),
              terms AS (
                SELECT n,
                  CAST((CAST(o * n - r * cl AS HUGEINT)
                          * (o * n - r * cl) * 1000000000)
                       // (CAST(n AS HUGEINT) * r * cl) AS BIGINT) AS term_q
                FROM cells
                JOIN rt USING (event_type)
                JOIN ct USING (arm)
                CROSS JOIN tt)
              SELECT CAST(max(n) AS BIGINT) AS n,
                count(*) AS n_cells,
                CAST(sum(term_q) AS BIGINT) AS chi2_q,
                CAST(CAST(sum(term_q) AS BIGINT) AS DOUBLE) / 1e9 AS chi2
              FROM terms""")),

    // Histogram drift scorecard — the bucketed complement of q_ks_drift
    // for monitoring dashboards: purchase values of the two A/B arms
    // over 10 fixed-width buckets, with the total-variation distance
    // TV = Σ|c_a·n_b − c_b·n_a| / (2·n_a·n_b) attached. Deliberately
    // LOG-FREE (house discipline — SCALE.md "Numeric determinism"): PSI
    // needs ln(p/q), whose libm rounding is not engine-portable, while
    // TV's numerator is an exact BIGINT fold over the 10-row bucket
    // relation and the statistic is one closing IEEE division. Shape:
    // one hash aggregate ∝ events, a 10-row pivot, broadcast totals.
    QueryDef(
      "q_hist_drift",
      (s, dir) => {
        val cents = (col("value").cast("decimal(12,2)") * 100)
          .cast("long").as("cents")
        val p = t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(cents, pmod(col("user_id"), lit(2L)).as("arm"))
          .select(least(expr("cents div 5000"), lit(9L))
            .cast("long").as("bucket"), col("arm"))
        val buckets = p.groupBy("bucket").agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("c_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c_b"))
        val tot = p.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
        val terms = buckets.crossJoin(broadcast(tot))
          .withColumn("tv_num",
            abs(col("c_a") * col("n_b") - col("c_b") * col("n_a")))
        val tv = terms.agg(sum(col("tv_num")).as("tv_total"))
        terms.crossJoin(broadcast(tv))
          .select(col("bucket"), col("c_a"), col("c_b"),
            col("n_a"), col("n_b"), col("tv_num"),
            (col("tv_total").cast("double") /
              (lit(2L) * col("n_a") * col("n_b")).cast("double")).as("tv"))
          .orderBy("bucket")
      },
      Some(HistDriftOracleSql)),

    // Changepoint detection — "when did this metric shift?": the daily
    // purchase-count series split at the day maximizing the scaled
    // mean-difference |S_d·N_days − S_total·d| (the CUSUM argmax in the
    // same cross-multiplied exact-integer discipline as q_ks_drift — no
    // per-day division, no floats until the closing statistic). d
    // indexes days in order, S_d is the prefix sum of counts — built on
    // the DAY grain (bounded: the calendar, not the events), so the
    // one full-order window is over ~tens of rows at any corpus size.
    // Output: the argmax day, its before/after exact means as one
    // closing division each, and the normalized shift statistic.
    // Robust outlier audit (Tukey fences on exact order statistics) —
    // the data-quality gate that flags anomalous event values without
    // assuming normality: per event type, the exact q1/q3 value-cents
    // (k-th order statistics, ties included) and how many events fall
    // beyond 1.5×IQR. Quartiles come from the house VALUE-GRAIN prefix
    // pattern (per-(type, cents) counts + one cumulative window over the
    // bounded cents domain — never a full-order sort of the event
    // relation), and the fences stay in integers by comparing 2·cents
    // against 2·q ± 3·iqr (1.5×iqr is a half-integer; doubling both
    // sides keeps the test exact on both engines). All positive
    // operands, so Spark's truncating div == DuckDB's floor //.
    QueryDef(
      "q_iqr_outliers",
      (s, dir) => {
        // plain load (r14): the r13 repartition regressed this 0.87x
        val g = Tables.loadEvents(s, dir)
          .select(col("event_type"),
            (col("value").cast("decimal(12,2)") * 100).cast("long")
              .as("cents"))
          .groupBy("event_type", "cents").agg(count(lit(1)).as("cnt"))
          .transform(Tables.materialize) // feeds the quartile scan AND the fence count
        val w = Window.partitionBy("event_type").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = g.withColumn("cum", sum(col("cnt")).over(w))
        val tot = g.groupBy("event_type").agg(sum(col("cnt")).as("n"))
        val j = cum.join(tot, "event_type")
        val q1 = j.filter(col("cum") >= expr("(n + 3) div 4"))
          .groupBy("event_type").agg(min(col("cents")).as("q1_cents"))
        val q3 = j.filter(col("cum") >= expr("(3 * n + 3) div 4"))
          .groupBy("event_type").agg(min(col("cents")).as("q3_cents"))
        val fences = broadcast(q1.join(q3, "event_type")
          .withColumn("iqr_cents", col("q3_cents") - col("q1_cents")))
        g.join(fences, "event_type")
          .groupBy("event_type", "q1_cents", "q3_cents", "iqr_cents")
          .agg(sum(col("cnt")).as("n"),
            sum(when(
              col("cents") * 2 < col("q1_cents") * 2 - col("iqr_cents") * 3 ||
              col("cents") * 2 > col("q3_cents") * 2 + col("iqr_cents") * 3,
              col("cnt")).otherwise(0L)).as("n_outliers"))
          .select(col("event_type"), col("n"), col("q1_cents"),
            col("q3_cents"), col("iqr_cents"), col("n_outliers"))
          .orderBy("event_type")
      },
      Some("""WITH g AS (
                SELECT event_type,
                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
                  CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY event_type, cents),
              c AS (
                SELECT event_type, cents, cnt,
                  sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
                    ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(cnt) OVER (PARTITION BY event_type) AS n
                FROM g),
              q1 AS (
                SELECT event_type, min(cents) AS q1_cents FROM c
                WHERE cum >= (n + 3) // 4 GROUP BY event_type),
              q3 AS (
                SELECT event_type, min(cents) AS q3_cents FROM c
                WHERE cum >= (3 * n + 3) // 4 GROUP BY event_type),
              f AS (
                SELECT q1.event_type, q1_cents, q3_cents,
                  q3_cents - q1_cents AS iqr_cents
                FROM q1 JOIN q3 ON q1.event_type = q3.event_type)
              SELECT g.event_type, CAST(sum(g.cnt) AS BIGINT) AS n,
                f.q1_cents, f.q3_cents, f.iqr_cents,
                CAST(sum(CASE WHEN g.cents * 2 < f.q1_cents * 2 - f.iqr_cents * 3
                            OR g.cents * 2 > f.q3_cents * 2 + f.iqr_cents * 3
                          THEN g.cnt ELSE 0 END) AS BIGINT) AS n_outliers
              FROM g JOIN f ON g.event_type = f.event_type
              GROUP BY g.event_type, f.q1_cents, f.q3_cents, f.iqr_cents
              ORDER BY g.event_type""")),

    QueryDef(
      "q_changepoint",
      (s, dir) => {
        val DayUs = 86400000000L
        val daily = Tables.loadEvents(s, dir)
          .filter(col("event_type") === "purchase")
          .select(unix_micros(col("ts")).as("us"))
          .select(expr(s"us div $DayUs").as("day"))
          .groupBy("day").agg(count(lit(1)).as("n"))
        changepointFinish(daily)
      },
      Some(ChangepointOracleSql)),

    // Forecast-baseline backtest — the scorecard every demand-forecast
    // model must beat before shipping: the seasonal-naive (lag-7) and
    // persistence (lag-1) baselines replayed over the daily purchase
    // series with EXACT integer errors and one closing division per
    // MAE. All windows run on the calendar-bounded day grain; a day
    // without the needed history contributes no error row (both
    // engines: lag returns NULL, the conditional sums skip it). The
    // per-day rows carry both baselines so a dashboard can plot them;
    // the attached MAEs are the numbers a model's backtest compares to.
    QueryDef(
      "q_forecast_backtest",
      (s, dir) => {
        val DayUs = 86400000000L
        val daily = Tables.loadEvents(s, dir)
          .filter(col("event_type") === "purchase")
          .select(unix_micros(col("ts")).as("us"))
          .select(expr(s"us div $DayUs").as("day"))
          .groupBy("day").agg(count(lit(1)).as("n"))
        val wd = Window.orderBy("day")
        val withF = daily
          .withColumn("f7", lag(col("n"), 7).over(wd))
          .withColumn("f1", lag(col("n"), 1).over(wd))
          .withColumn("err7",
            when(col("f7").isNotNull, abs(col("n") - col("f7"))))
          .withColumn("err1",
            when(col("f1").isNotNull, abs(col("n") - col("f1"))))
        val totals = withF.agg(
          sum(when(col("err7").isNotNull, 1L).otherwise(0L)).as("n_eval7"),
          sum(col("err7")).as("sae7"),
          sum(when(col("err1").isNotNull, 1L).otherwise(0L)).as("n_eval1"),
          sum(col("err1")).as("sae1"))
        withF.crossJoin(broadcast(totals))
          .select(col("day"), col("n"), col("f7"), col("f1"),
            col("err7"), col("err1"),
            (col("sae7").cast("double") / col("n_eval7").cast("double"))
              .as("mae7"),
            (col("sae1").cast("double") / col("n_eval1").cast("double"))
              .as("mae1"))
          .orderBy("day")
      },
      Some("""WITH daily AS (
                SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                    AS day,
                  count(*) AS n
                FROM events WHERE event_type = 'purchase' GROUP BY 1),
              f AS (
                SELECT day, n,
                  lag(n, 7) OVER (ORDER BY day) AS f7,
                  lag(n, 1) OVER (ORDER BY day) AS f1
                FROM daily),
              e AS (
                SELECT day, n, f7, f1,
                  CASE WHEN f7 IS NOT NULL THEN abs(n - f7) END AS err7,
                  CASE WHEN f1 IS NOT NULL THEN abs(n - f1) END AS err1
                FROM f),
              t AS (
                SELECT
                  CAST(sum(CASE WHEN err7 IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_eval7,
                  CAST(sum(err7) AS BIGINT) AS sae7,
                  CAST(sum(CASE WHEN err1 IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_eval1,
                  CAST(sum(err1) AS BIGINT) AS sae1
                FROM e)
              SELECT day, n, f7, f1, CAST(err7 AS BIGINT) AS err7,
                CAST(err1 AS BIGINT) AS err1,
                CAST(sae7 AS DOUBLE) / CAST(n_eval7 AS DOUBLE) AS mae7,
                CAST(sae1 AS DOUBLE) / CAST(n_eval1 AS DOUBLE) AS mae1
              FROM e CROSS JOIN t ORDER BY day"""))
  )

  /** The CUSUM argmax finisher over a (day, n) relation — shared by
    * q_changepoint and the incremental stream_changepoint so the batch
    * and streaming alarms compute the identical split. The relation is
    * calendar-bounded, so its full-order window is safe at any scale. */
  private[graft] def changepointFinish(daily: DataFrame): DataFrame = {
    val wd = Window.orderBy("day")
    val idx = daily
      .withColumn("d", row_number().over(wd).cast("long"))
      .withColumn("s_d", sum(col("n")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = daily.agg(count(lit(1)).as("n_days"),
      sum(col("n")).as("s_total"))
    idx.crossJoin(broadcast(tot))
      .filter(col("d") < col("n_days")) // a split needs both sides
      .withColumn("stat_num",
        abs(col("s_d") * col("n_days") - col("s_total") * col("d")))
      .orderBy(col("stat_num").desc, col("day").asc)
      .limit(1)
      .select(col("day").as("split_day"), col("d").as("split_idx"),
        col("n_days"), col("s_total"), col("stat_num"),
        (col("s_d").cast("double") / col("d").cast("double"))
          .as("mean_before"),
        ((col("s_total") - col("s_d")).cast("double") /
          (col("n_days") - col("d")).cast("double")).as("mean_after"),
        (col("stat_num").cast("double") /
          (col("n_days") * col("s_total")).cast("double"))
          .as("shift_stat"))
  }

  /** q_changepoint's oracle — shared VERBATIM with stream_changepoint,
    * whose incremental daily counts must converge to the identical
    * split. lazy: declared below `defs`. */
  lazy val ChangepointOracleSql: String =
    """WITH daily AS (
         SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
             AS day,
           count(*) AS n
         FROM events WHERE event_type = 'purchase' GROUP BY 1),
       idx AS (
         SELECT day, n,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS d,
           CAST(sum(n) OVER (ORDER BY day
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_d
         FROM daily),
       tt AS (
         SELECT count(*) AS n_days, CAST(sum(n) AS BIGINT) AS s_total
         FROM daily)
       SELECT day AS split_day, d AS split_idx, n_days, s_total,
         CAST(abs(s_d * n_days - s_total * d) AS BIGINT) AS stat_num,
         CAST(s_d AS DOUBLE) / CAST(d AS DOUBLE) AS mean_before,
         CAST(s_total - s_d AS DOUBLE)
           / CAST(n_days - d AS DOUBLE) AS mean_after,
         CAST(abs(s_d * n_days - s_total * d) AS DOUBLE)
           / CAST(n_days * s_total AS DOUBLE) AS shift_stat
       FROM idx CROSS JOIN tt
       WHERE d < n_days
       ORDER BY stat_num DESC, day ASC LIMIT 1"""

  /** q_hist_drift's oracle — shared VERBATIM with stream_tv_drift, whose
    * incremental bucket counts must converge to the identical table.
    * lazy: declared below `defs`, which captures it at build time. */
  lazy val HistDriftOracleSql: String =
    """WITH p AS (
         SELECT least(CAST(CAST(value AS DECIMAL(12,2)) * 100
                        AS BIGINT) // 5000, 9) AS bucket,
           user_id % 2 AS arm
         FROM events WHERE event_type = 'purchase'),
       b AS (
         SELECT bucket,
           CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS c_a,
           CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS c_b
         FROM p GROUP BY bucket),
       tt AS (
         SELECT
           CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_a,
           CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_b
         FROM p),
       terms AS (
         SELECT bucket, c_a, c_b, n_a, n_b,
           CAST(abs(c_a * n_b - c_b * n_a) AS BIGINT) AS tv_num
         FROM b CROSS JOIN tt),
       tv AS (SELECT CAST(sum(tv_num) AS BIGINT) AS tv_total FROM terms)
       SELECT bucket, c_a, c_b, n_a, n_b, tv_num,
         CAST(tv_total AS DOUBLE)
           / CAST(2 * n_a * n_b AS DOUBLE) AS tv
       FROM terms CROSS JOIN tv ORDER BY bucket"""
}
