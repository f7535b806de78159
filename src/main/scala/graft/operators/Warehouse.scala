package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.EngineFns.{hash31Sql, tokens}
import graft.operators.Relational.{dec, one}

/** Warehouse-grade analytics flagships: multi-fact TPC-H join plans (Q5,
  * Q18), recursive-CTE hierarchy traversal (SQL:1999 WITH RECURSIVE —
  * Spark 4 native), hopping (sliding) time windows, interval-overlap
  * joins, exact-arithmetic correlation matrices, and heavy-hitter
  * frequency ranking.
  *
  * These extend the relational closure in Relational.scala (reference
  * surface: projection/DISTINCT/scan, main.rs:122-144) with the deeper
  * plan shapes a warehouse workload exercises: bushy multi-join trees
  * where the optimizer must pick broadcast vs shuffle per edge, recursion
  * with a per-iteration shuffle, and windowed/interval temporal joins.
  *
  * Scale stance (100 TB):
  *  - Q5/Q18 shuffle ONLY on the fact-fact keys (orderkey, custkey);
  *    every dimension edge (supplier, nation, region, part) is an
  *    explicit `broadcast()` — the classic star-join plan.
  *  - The recursive CTE's per-step work is a map (halving walk), so each
  *    recursion level is one narrow stage; Catalyst unions the levels.
  *    Depth is log2(maxKey) — 11 levels here, ~40 at any realistic key
  *    domain — far under spark.sql.cteRecursionLevelLimit.
  *  - Hopping windows are map-only bucket assignment (each row lands in
  *    exactly windowSize/slide buckets) + one hash aggregate with
  *    map-side partials — shuffle volume = |rows| x 2 tiny keys, never
  *    a range sort.
  *  - The interval-overlap join is keyed on the equi-bucket (calendar
  *    day) with the interval predicate applied inside the hash match,
  *    and the window side (error bursts) is aggregated first — tiny —
  *    then broadcast: zero shuffle of the span side beyond its own
  *    aggregation.
  *  - The correlation matrix is ONE pass: all five sufficient statistics
  *    (n, Σx, Σy, Σx², Σy², Σxy) accumulate as exact decimals in a
  *    single map-side-combined aggregate; the closing corr/covar/stddev
  *    arithmetic is per-group scalar math on the driver-bound 3-row
  *    result. No second scan, no double summation anywhere.
  */
object Warehouse {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** q_dp_release's uniform-draw grid (matches the quantized CDF). */
  private val DpGrid = 1048576L // 2^20

  /** Inverse-CDF threshold ladder for the two-sided geometric (discrete
    * Laplace) mechanism at ε = 0.5: T(k) = round(CDF(k) · 2^20), where
    * CDF(k) = α^(−k)/(1+α) for k < 0 and 1 − α^(k+1)/(1+α) for k ≥ 0,
    * α = e^−ε. Computed ONCE on the driver (math.exp/pow never run on
    * the data path) and emitted as integer literals into the SAME
    * generated CASE text both engines evaluate, so the sampled noise is
    * exact-integer-identical everywhere. |k| ≤ 32 covers the grid: the
    * tail mass beyond ±32 is α^33/(1+α) ≈ 4·10⁻⁸ < 2⁻²⁰, so the extreme
    * WHEN branches are unreachable and the ELSE arm is dead — the
    * ladder is total over u ∈ [0, 2^20). */
  private lazy val DpCaseSql: String = {
    val eps = 0.5
    val alpha = math.exp(-eps)
    val whens = (-32 to 32).map { k =>
      val cdf =
        if (k < 0) math.pow(alpha, -k) / (1.0 + alpha)
        else 1.0 - math.pow(alpha, k + 1) / (1.0 + alpha)
      s"WHEN u < ${math.round(cdf * DpGrid)} THEN $k"
    }
    whens.mkString("CASE ", " ", " ELSE 32 END")
  }

  val defs: Seq[QueryDef] = Seq(

    // Incremental aggregate maintenance — the materialized-view merge
    // every 100 TB warehouse lives by: yesterday's per-group aggregate
    // STATE plus today's DELTA partials re-aggregated must equal the
    // full recompute, because sum/count are commutative monoids and the
    // merge is exact-integer. At scale the state is group-grain (5 event
    // types here, thousands in production — never event-grain), the
    // delta scans ONLY the new partition, and the full-history rescan
    // this query also runs exists purely as the in-query proof; a real
    // pipeline drops it, which is the point. Output carries both sides
    // plus a consistent flag, so the oracle hash-checks the maintenance
    // identity itself. Cents sums ride DECIMAL(38,0)/HUGEINT internally
    // (overflow-safe at any history length) and surface as BIGINT on
    // the 5-row output grain.
    QueryDef(
      "q_incr_agg_maintain",
      (s, dir) => {
        val cutoff = to_timestamp(lit("2024-01-21"))
        val cents = (col("value").cast("decimal(12,2)") * 100).cast("long")
        val ev = t(s, dir, "events")
          .select(col("event_type"), col("ts"), cents.as("c"))
        def agg(df: DataFrame): DataFrame = df.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("c").cast("decimal(38,0)")).as("sc"))
        val state = agg(ev.filter(col("ts") < cutoff))
          .select(col("event_type"), col("n").as("n_state"), col("sc"))
        val delta = agg(ev.filter(col("ts") >= cutoff))
          .select(col("event_type"), col("n").as("n_delta"), col("sc"))
        val merged = state.select(col("event_type"), col("n_state").as("n"), col("sc"))
          .union(delta.select(col("event_type"), col("n_delta").as("n"), col("sc")))
          .groupBy("event_type")
          .agg(sum(col("n")).as("n_merged"),
            sum(col("sc")).as("s_merged"))
        val full = agg(ev).select(col("event_type"),
          col("n").as("n_full"), col("sc").as("s_full"))
        merged.join(full, Seq("event_type"))
          .join(state.select(col("event_type"), col("n_state")),
            Seq("event_type"), "left")
          .join(delta.select(col("event_type"), col("n_delta")),
            Seq("event_type"), "left")
          .select(col("event_type"),
            coalesce(col("n_state"), lit(0L)).as("n_state"),
            coalesce(col("n_delta"), lit(0L)).as("n_delta"),
            col("n_merged"), col("n_full"),
            col("s_merged").cast("long").as("s_merged"),
            col("s_full").cast("long").as("s_full"),
            (col("n_merged") === col("n_full") &&
              col("s_merged") === col("s_full")).as("consistent"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (
                SELECT event_type, ts,
                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
                FROM events),
              state AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(c) AS sc
                FROM ev WHERE ts < TIMESTAMP '2024-01-21' GROUP BY event_type),
              delta AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(c) AS sc
                FROM ev WHERE ts >= TIMESTAMP '2024-01-21' GROUP BY event_type),
              merged AS (
                SELECT event_type, CAST(sum(n) AS BIGINT) AS n_merged,
                  sum(sc) AS s_merged
                FROM (SELECT * FROM state UNION ALL SELECT * FROM delta) u
                GROUP BY event_type),
              f AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS n_full,
                  sum(c) AS s_full
                FROM ev GROUP BY event_type)
              SELECT m.event_type,
                coalesce(s.n, 0) AS n_state,
                coalesce(d.n, 0) AS n_delta,
                m.n_merged, f.n_full,
                CAST(m.s_merged AS BIGINT) AS s_merged,
                CAST(f.s_full AS BIGINT) AS s_full,
                (m.n_merged = f.n_full AND m.s_merged = f.s_full)
                  AS consistent
              FROM merged m
              JOIN f ON f.event_type = m.event_type
              LEFT JOIN state s ON s.event_type = m.event_type
              LEFT JOIN delta d ON d.event_type = m.event_type
              ORDER BY m.event_type""")),

    // TPC-H Q5 (local supplier volume): the canonical 6-table star join.
    // Plan: orders(filtered year) JOIN lineitem on orderkey (one fact
    // shuffle) JOIN customer on custkey (second fact shuffle) — then
    // supplier/nation/region all broadcast, with the Q5 signature
    // c_nationkey = s_nationkey "local supplier" equi-filter evaluated
    // inside the broadcast hash join. Revenue sums as exact decimal.
    QueryDef(
      "q_tpch_q5",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1997-01-01")))
          .select("o_orderkey", "o_custkey")
        val l = t(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
        val su = broadcast(
          t(s, dir, "supplier").select("s_suppkey", "s_nationkey"))
        val n = broadcast(
          t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey"))
        val r = broadcast(
          t(s, dir, "region").filter(col("r_name") === "ASIA")
            .select("r_regionkey"))
        val rev = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
        o.join(l, col("o_orderkey") === col("l_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(su, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(n, col("s_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum(rev).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         (CAST(1 AS DECIMAL(12,2)) -
                          CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
                  AS revenue
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                   JOIN customer ON o_custkey = c_custkey
                   JOIN supplier ON l_suppkey = s_suppkey
                                AND c_nationkey = s_nationkey
                   JOIN nation ON s_nationkey = n_nationkey
                   JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'
                AND o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1997-01-01'
              GROUP BY n_name
              ORDER BY revenue DESC, n_name""")),

    // TPC-H Q6 (forecasting revenue change): the canonical pure
    // scan-filter-aggregate — three predicates (date range, discount
    // band, quantity cap) all push into the parquet reader (row-group
    // min/max skipping decides before decode), then ONE partial/final
    // global aggregate. No shuffle beyond the 1-row final combine; at
    // 100 TB the scan itself is the entire query, which is the point.
    QueryDef(
      "q_tpch_q6",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
            col("l_discount").between(0.04, 0.08) &&
            col("l_quantity") < 24)
          .agg(
            sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
              .cast("double").as("revenue"),
            count(lit(1)).as("n")),
      Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                              CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
                       AS revenue,
                     count(*) AS n
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'
                AND l_discount BETWEEN 0.04 AND 0.08
                AND l_quantity < 24""")),

    // TPC-H Q13 (customer order-count distribution): the count-of-counts
    // DOUBLE aggregation — the histogram-of-group-sizes shape every
    // engagement/skew analysis needs. Plan: aggregate the filtered
    // orders per customer FIRST (map-side combined, shuffle ∝ distinct
    // custkeys, never raw orders), left-join customer so zero-order
    // customers survive as c_count=0, then the second aggregate groups
    // on c_count — whose cardinality is O(max orders per customer),
    // a few hundred values at ANY corpus scale, so the second shuffle
    // is constant-size. The first join's probe side is the customer
    // key column only (one bigint per customer).
    QueryDef(
      "q_tpch_q13",
      (s, dir) => {
        val perCust = t(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"))
        t(s, dir, "customer").select("c_custkey")
          .join(perCust, col("c_custkey") === col("o_custkey"), "left")
          .select(coalesce(col("n"), lit(0L)).as("c_count"))
          .groupBy("c_count").agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, count(*) AS custdist
              FROM (SELECT c_custkey, count(o_orderkey) AS c_count
                    FROM customer LEFT OUTER JOIN orders
                         ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
                    GROUP BY c_custkey) cc
              GROUP BY c_count
              ORDER BY custdist DESC, c_count DESC""")),

    // TPC-H Q7 (volume shipping): the role-playing-dimension pattern —
    // the SAME nation table joins twice under different roles (supplier
    // nation via supplier, customer nation via orders->customer), with
    // the symmetric two-nation predicate evaluated across the roles.
    // Plan: lineitem->orders (fact-fact shuffle on orderkey) ->customer
    // (shuffle on custkey); supplier and both nation roles broadcast.
    // Filtering each broadcast nation copy to the 2 relevant rows BEFORE
    // the join turns the cross-role OR predicate into two tiny
    // broadcast hash joins plus one residual inequality — at 100 TB the
    // fact side is never re-shuffled for either dimension role. Revenue
    // sums as exact decimal; the year key comes from the shipdate.
    QueryDef(
      "q_tpch_q7",
      (s, dir) => {
        val pair = Seq("NATION_1", "NATION_2", "NATION_3", "NATION_4")
        val l = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1997-01-01")))
          .select("l_orderkey", "l_suppkey", "l_extendedprice",
            "l_discount", "l_shipdate")
        val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
        val su = broadcast(
          t(s, dir, "supplier").select("s_suppkey", "s_nationkey"))
        val n1 = broadcast(t(s, dir, "nation")
          .filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation")))
        val n2 = broadcast(t(s, dir, "nation")
          .filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation")))
        val rev = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(su, col("l_suppkey") === col("s_suppkey"))
          .join(n1, col("s_nationkey") === col("n1_key"))
          .join(n2, col("c_nationkey") === col("n2_key"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(sum(rev).cast("double").as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l_shipdate) AS BIGINT) AS l_year,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         (CAST(1 AS DECIMAL(12,2)) -
                          CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
                  AS revenue
              FROM lineitem
                   JOIN orders ON l_orderkey = o_orderkey
                   JOIN customer ON o_custkey = c_custkey
                   JOIN supplier ON l_suppkey = s_suppkey
                   JOIN nation n1 ON s_nationkey = n1.n_nationkey
                   JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
                AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
                AND n1.n_name <> n2.n_name
                AND l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'
              GROUP BY 1, 2, 3
              ORDER BY 1, 2, 3""")),

    // TPC-H Q18 (large-volume customer): aggregate-then-join instead of
    // the textbook join-then-reaggregate — the per-order quantity sum is
    // computed ONCE on lineitem (map-side combined, one shuffle on
    // orderkey), the >180 filter shrinks it to the rare big orders, and
    // only those join orders (same orderkey partitioning — no extra
    // exchange) and then customer. Identical results, one fewer
    // fact-sized shuffle than the literal SQL shape at any scale.
    QueryDef(
      "q_tpch_q18",
      (s, dir) => {
        val big = t(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(dec(col("l_quantity"))).as("qty"))
          .filter(col("qty") > 180)
        val o = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        val c = t(s, dir, "customer").select("c_custkey", "c_name")
        big.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"),
            col("qty").cast("double").as("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                o_totalprice, CAST(qty AS DOUBLE) AS total_qty
              FROM (SELECT l_orderkey,
                      sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty
                    FROM lineitem GROUP BY l_orderkey
                    HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 180) b
                   JOIN orders ON l_orderkey = o_orderkey
                   JOIN customer ON o_custkey = c_custkey
              ORDER BY o_totalprice DESC, o_orderkey
              LIMIT 100""")),

    // TPC-H Q4 (priority checking), adapted: the corpus has no
    // l_commitdate/l_receiptdate, so "order with a late lineitem"
    // becomes l_shipdate > o_orderdate + 60 days — the same EXISTS
    // shape the literal query plans: a LEFT SEMI join (first matching
    // lineitem short-circuits, no fan-out, no dedup pass) on the
    // orderkey with the lateness inequality as the residual, then a
    // 5-group aggregate. The quarter predicate prunes orders before
    // the join at any scale.
    QueryDef(
      "q_tpch_q4",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-07-01")) &&
            col("o_orderdate") < to_timestamp(lit("1996-10-01")))
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        val l = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
        o.join(l,
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") >
                col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
              FROM orders o
              WHERE o_orderdate >= TIMESTAMP '1996-07-01'
                AND o_orderdate < TIMESTAMP '1996-10-01'
                AND EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_orderkey = o.o_orderkey
                              AND l.l_shipdate >
                                  o.o_orderdate + INTERVAL 60 DAY)
              GROUP BY o_orderpriority
              ORDER BY o_orderpriority""")),

    // TPC-H Q10 (returned-item revenue): which customers returned the
    // most revenue in a half-year window. Plan: lineitem pre-filtered
    // to returnflag='R' (pushed to the scan) joins date-pruned orders
    // fact-fact on orderkey, the result re-shuffles once on custkey
    // for the customer join + aggregate, and the 25-row nation
    // dimension broadcasts. Revenue folds in exact decimal; top-20 by
    // revenue runs as TakeOrderedAndProject (never a global sort).
    QueryDef(
      "q_tpch_q10",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_extendedprice", "l_discount")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1996-07-01")))
          .select("o_orderkey", "o_custkey")
        val c = t(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey")
        val n = broadcast(t(s, dir, "nation").select("n_nationkey", "n_name"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(expr("""CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                               CAST(1.0 - l_discount AS DECIMAL(3,2)))
                        AS DOUBLE)""").as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         CAST(1.0 - l_discount AS DECIMAL(3,2))) AS DOUBLE)
                  AS revenue
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                   JOIN customer ON o_custkey = c_custkey
                   JOIN nation ON c_nationkey = n_nationkey
              WHERE l_returnflag = 'R'
                AND o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1996-07-01'
              GROUP BY c_custkey, c_name, n_name
              ORDER BY revenue DESC, c_custkey
              LIMIT 20""")),

    // TPC-H Q15 (top supplier): per-supplier quarter revenue, keep the
    // supplier(s) hitting the maximum. The per-supplier aggregate is
    // one map-side-combined shuffle ∝ distinct suppliers; the max is a
    // 1-row aggregate OF that tiny table, broadcast back as the filter
    // — never a second pass over lineitem. The equality compares exact
    // DECIMALs (bit-stable under any partitioning), so "the max" is
    // well-defined cross-engine; the double cast happens only at
    // output.
    QueryDef(
      "q_tpch_q15",
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1996-04-01")))
          .groupBy(col("l_suppkey"))
          .agg(expr("""sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                           CAST(1.0 - l_discount AS DECIMAL(3,2)))""")
            .as("total_rev"))
        val top = rev.agg(max(col("total_rev")).as("max_rev"))
        val su = t(s, dir, "supplier").select("s_suppkey", "s_name")
        rev.crossJoin(broadcast(top))
          .filter(col("total_rev") === col("max_rev"))
          .join(su, col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("total_rev").cast("double").as("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some("""WITH rev AS (
                SELECT l_suppkey,
                  sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      CAST(1.0 - l_discount AS DECIMAL(3,2))) AS total_rev
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey)
              SELECT s_suppkey, s_name,
                CAST(total_rev AS DOUBLE) AS total_revenue
              FROM rev JOIN supplier ON l_suppkey = s_suppkey
              WHERE total_rev = (SELECT max(total_rev) FROM rev)
              ORDER BY s_suppkey""")),

    // TPC-H Q19 (discounted revenue), adapted: the corpus has no
    // p_container/l_shipmode, so the three disjunctive branches pair
    // p_brand/p_size with l_quantity bands. The point of Q19 is what
    // Catalyst does with an OR-of-ANDs join predicate: the part-only
    // disjunction (brand+size) pushes THROUGH the join to the part
    // scan, the lineitem-only quantity disjunction pushes to the
    // lineitem scan, and only the cross-side residual stays on the
    // broadcast hash join — so both scans prune before any join work
    // at 100 TB.
    QueryDef(
      "q_tpch_q19",
      (s, dir) => {
        val p = broadcast(t(s, dir, "part")
          .select("p_partkey", "p_brand", "p_size"))
        val l = t(s, dir, "lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        def branch(brand: String, maxSize: Int, qLo: Int, qHi: Int) =
          col("p_brand") === brand &&
            col("p_size").between(1, maxSize) &&
            col("l_quantity").between(qLo, qHi)
        val cond = branch("Brand#12", 15, 1, 11) ||
          branch("Brand#23", 25, 10, 20) ||
          branch("Brand#3", 35, 20, 30)
        l.join(p, col("l_partkey") === col("p_partkey") && cond)
          .agg(count(lit(1)).as("n_items"),
            expr("""CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                             CAST(1.0 - l_discount AS DECIMAL(3,2)))
                     AS DOUBLE)""").as("revenue"))
      },
      Some("""SELECT count(*) AS n_items,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         CAST(1.0 - l_discount AS DECIMAL(3,2))) AS DOUBLE)
                  AS revenue
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                     AND l_quantity BETWEEN 1 AND 11)
                 OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                     AND l_quantity BETWEEN 10 AND 20)
                 OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                     AND l_quantity BETWEEN 20 AND 30)""")),

    // TPC-H Q12 (shipping modes and order priority), adapted: the
    // corpus has no l_shipmode/commit/receipt dates, so the mode axis
    // becomes l_returnflag and "late" becomes shipped >60 days after
    // the order date. The shape is Q12's exactly: fact-fact join on
    // orderkey with the lateness residual, then CONDITIONAL SUMS
    // splitting each group by order priority class — one scan each
    // side, one join shuffle, a 3-row aggregate. Oracle integer sums
    // are cast back to BIGINT (DuckDB widens to HUGEINT — the round-3
    // failure class).
    QueryDef(
      "q_tpch_q12",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_shipdate")
        val o = t(s, dir, "orders")
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        val urgent = col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH"
        l.join(o, col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy(col("l_returnflag"))
          .agg(
            sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(urgent, 0L).otherwise(1L)).as("low_line_count"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
              GROUP BY l_returnflag
              ORDER BY l_returnflag""")),

    // TPC-H Q22 (global sales opportunity), adapted: the corpus has no
    // phone country codes and almost every customer has SOME order, so
    // the cohort becomes "above-average-balance customers with no
    // order since 2000" (the lapsed-high-value churn query) grouped by
    // market segment — preserving Q22's whole shape: an
    // uncorrelated scalar aggregate as the filter threshold, a
    // NOT EXISTS anti join against the fact, and a small-group
    // summary. The threshold compare is CROSS-MULTIPLIED
    // (bal*n > sum, all exact decimals) so no engine's avg() rounding
    // can flip a boundary customer; the anti join's probe side is the
    // date-pruned orders key column.
    QueryDef(
      "q_tpch_q22",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val stats = c.filter(col("c_acctbal") > 0)
          .agg(count(lit(1)).as("n_pos"),
            sum(dec(col("c_acctbal"))).as("sum_pos"))
        val lapsed = c
          .crossJoin(broadcast(stats))
          .filter(dec(col("c_acctbal")) * col("n_pos") > col("sum_pos"))
          .join(t(s, dir, "orders")
              .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
              .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
        lapsed.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_lapsed"),
            sum(dec(col("c_acctbal"))).cast("double").as("total_bal"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH stats AS (
                SELECT CAST(count(*) AS BIGINT) AS n_pos,
                  sum(CAST(c_acctbal AS DECIMAL(12,2))) AS sum_pos
                FROM customer WHERE c_acctbal > 0)
              SELECT c_mktsegment, count(*) AS n_lapsed,
                CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                  AS total_bal
              FROM customer c, stats
              WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n_pos > sum_pos
                AND NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = c.c_custkey
                                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
              GROUP BY c_mktsegment
              ORDER BY c_mktsegment""")),

    // TPC-H Q17 (small-quantity-order revenue), adapted: the corpus has
    // no p_container, so the cohort is two brands and the 7-year /7.0
    // divisor matches this corpus's actual 1995-2001 ship span. The
    // SHAPE is the point: a correlated scalar subquery ("0.2 * avg
    // qty of THIS part") decorrelated into a per-part aggregate joined
    // back to lineitem — the pattern every "vs its own group's average"
    // warehouse query hits. The threshold compare is CROSS-MULTIPLIED
    // in exact decimals (5*qty*n < sum_qty ⟺ qty < 0.2*sum/n) so no
    // avg() rounding can flip a boundary row on either engine; the only
    // double op is the final CAST + one IEEE division by 7.0. Plan:
    // per-part agg shuffles on l_partkey (same key the join needs — one
    // exchange reused), brand-filtered part is a broadcast dim.
    QueryDef(
      "q_tpch_q17",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"), dec(col("l_quantity")).as("qty"),
            dec(col("l_extendedprice")).as("price"))
        val perPart = li.groupBy("l_partkey")
          .agg(count(lit(1)).as("n_l"), sum(col("qty")).as("sum_qty"))
        val brands = t(s, dir, "part")
          .filter(col("p_brand").isin("Brand#12", "Brand#23"))
          .select(col("p_partkey"), col("p_brand"))
        li.join(perPart, Seq("l_partkey"))
          .filter(col("qty") * lit(5) * col("n_l") < col("sum_qty"))
          .join(broadcast(brands), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_small"),
            (sum(col("price")).cast("double") / lit(7.0)).as("avg_yearly"))
          .orderBy("p_brand")
      },
      Some("""WITH pp AS (
                SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_l,
                  sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
                FROM lineitem GROUP BY 1)
              SELECT p_brand, count(*) AS n_small,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                  / 7.0 AS avg_yearly
              FROM lineitem l
              JOIN pp ON l.l_partkey = pp.l_partkey
              JOIN part ON p_partkey = l.l_partkey
              WHERE p_brand IN ('Brand#12', 'Brand#23')
                AND CAST(l_quantity AS DECIMAL(12,2)) * 5 * n_l < sum_qty
              GROUP BY p_brand ORDER BY p_brand""")),

    // TPC-H Q20 (potential part promotion), adapted: the corpus has no
    // partsupp, so "availqty > half of shipped volume" becomes
    // "suppliers who concentrated an outsized share of a red part's
    // all-time shipped volume into 1995" — preserving Q20's defining
    // NESTED SEMI-JOIN chain: a name-pattern part filter semi-joined
    // into lineitem, a nested aggregate threshold comparing a
    // (supplier, part) aggregate against a per-part aggregate
    // (cross-multiplied, exact decimal: 16*q95 > qtot — i.e. the
    // supplier moved over a sixteenth of the part's all-time volume in
    // that one year; chosen so the cohort is non-empty yet selective
    // at every corpus SF), and the
    // surviving supplier keys semi-joined into supplier with a
    // broadcast nation filter. Plan: both aggregates shuffle on
    // l_partkey-rooted keys over the SEMI-PRUNED lineitem; supplier
    // side is broadcast-scale; no correlated per-row subquery anywhere.
    QueryDef(
      "q_tpch_q20",
      (s, dir) => {
        val red = t(s, dir, "part")
          .filter(col("p_name").startsWith("red"))
          .select(col("p_partkey"))
        val li = t(s, dir, "lineitem")
          .join(broadcast(red), col("l_partkey") === col("p_partkey"), "left_semi")
          .select(col("l_partkey"), col("l_suppkey"), col("l_shipdate"),
            dec(col("l_quantity")).as("qty"))
        val q95 = li
          .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1996-01-01")))
          .groupBy("l_suppkey", "l_partkey")
          .agg(sum(col("qty")).as("q95"))
        val qtot = li.groupBy("l_partkey").agg(sum(col("qty")).as("qtot"))
        val hot = q95.join(qtot, Seq("l_partkey"))
          .filter(col("q95") * lit(16) > col("qtot"))
          .select(col("l_suppkey")).distinct()
        t(s, dir, "supplier")
          .join(hot, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .join(broadcast(t(s, dir, "nation")
              .filter(col("n_nationkey") < 13)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
          .orderBy("s_name")
      },
      Some("""SELECT s_suppkey, s_name, n_name
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              WHERE n_nationkey < 13
                AND s_suppkey IN (
                  SELECT l_suppkey FROM lineitem
                  WHERE l_partkey IN (SELECT p_partkey FROM part
                                      WHERE p_name LIKE 'red%')
                    AND l_shipdate >= TIMESTAMP '1995-01-01'
                    AND l_shipdate < TIMESTAMP '1996-01-01'
                  GROUP BY l_suppkey, l_partkey
                  HAVING 16 * sum(CAST(l_quantity AS DECIMAL(12,2))) > (
                    SELECT sum(CAST(l2.l_quantity AS DECIMAL(12,2)))
                    FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey))
              ORDER BY s_name""")),

    // TPC-H Q21 (suppliers who kept orders waiting), adapted: the
    // corpus has no l_commitdate/l_receiptdate, so "late" becomes
    // shipped more than 90 days after the order date. The defining
    // multi-(NOT-)EXISTS shape is intact: on a FINALIZED ('F')
    // multi-supplier order, find the supplier who was the ONLY late
    // shipper — EXISTS(another supplier on the order) decorrelates to a
    // LEFT SEMI join on orderkey with a suppkey-inequality residual,
    // NOT EXISTS(another LATE supplier) to a LEFT ANTI on the same key.
    // Plan: one orderkey-shuffle join l1⋈orders, then semi/anti probes
    // reusing the orderkey partitioning; supplier and nation close the
    // name out as broadcast dims; count ranks with a deterministic
    // (numwait DESC, s_name) total order before the top-100.
    QueryDef(
      "q_tpch_q21",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        val o = t(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate"))
        val late = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 90 DAYS"))
          .select(col("l_orderkey"), col("l_suppkey"))
        val others = l
          .select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
        val lateOthers = late
          .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
        late
          .join(others, col("l_orderkey") === col("o2") &&
            col("l_suppkey") =!= col("s2"), "left_semi")
          .join(lateOthers, col("l_orderkey") === col("o3") &&
            col("l_suppkey") =!= col("s3"), "left_anti")
          .join(broadcast(t(s, dir, "supplier")),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy("s_name", "n_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(100)
      },
      Some("""SELECT s_name, n_name, count(*) AS numwait
              FROM lineitem l1
              JOIN orders ON o_orderkey = l1.l_orderkey
              JOIN supplier ON s_suppkey = l1.l_suppkey
              JOIN nation ON n_nationkey = s_nationkey
              WHERE o_orderstatus = 'F'
                AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
                AND EXISTS (
                  SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
                AND NOT EXISTS (
                  SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
              GROUP BY s_name, n_name
              ORDER BY numwait DESC, s_name
              LIMIT 100""")),

    // TPC-H Q2 (minimum-cost supplier), adapted: the corpus has no
    // partsupp, so the part-supplier catalog is DERIVED from lineitem —
    // supplycost(part, supplier) = min extended price that supplier ever
    // charged for that part. The defining SHAPE is intact: a correlated
    // scalar MIN subquery ("cost = the cheapest EUROPE offer for THIS
    // part") decorrelated into a per-part min aggregate joined back on
    // (partkey, cost). Plan: the part filter is broadcast-SEMI-joined
    // into lineitem BEFORE the pair aggregate (legal because min is
    // per-part — dropping other parts can't change it), so both the
    // pair aggregate and the min reuse one l_partkey-rooted exchange
    // over the pruned fact; supplier⋈nation⋈region is a broadcast dim.
    // At 100 TB the only large shuffle is the pruned pair aggregate.
    QueryDef(
      "q_tpch_q2",
      (s, dir) => {
        val wanted = t(s, dir, "part")
          .filter(col("p_size") <= 15 && col("p_type") === "LARGE")
          .select(col("p_partkey"), col("p_brand"))
        val eu = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")
              .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
            col("n_name"))
        val ps = t(s, dir, "lineitem")
          .join(broadcast(wanted.select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(dec(col("l_extendedprice"))).as("cost"))
          .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
        val cheapest = ps.groupBy(col("l_partkey").as("mk"))
          .agg(min(col("cost")).as("min_cost"))
        ps.join(cheapest, col("l_partkey") === col("mk") &&
            col("cost") === col("min_cost"))
          .join(broadcast(wanted), col("l_partkey") === col("p_partkey"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("p_brand"),
            col("cost").cast("double").as("supplycost"))
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
            col("p_partkey"))
          .limit(100)
      },
      Some("""WITH ps AS (
                SELECT l_partkey, l_suppkey,
                  min(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
                FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_size <= 15 AND p_type = 'LARGE')
                GROUP BY 1, 2),
              eu AS (
                SELECT s_suppkey, s_name, s_acctbal, n_name
                FROM supplier JOIN nation ON s_nationkey = n_nationkey
                     JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE')
              SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
                CAST(cost AS DOUBLE) AS supplycost
              FROM part, ps, eu
              WHERE p_partkey = ps.l_partkey AND eu.s_suppkey = ps.l_suppkey
                AND p_size <= 15 AND p_type = 'LARGE'
                AND cost = (SELECT min(ps2.cost) FROM ps ps2
                            JOIN eu eu2 ON eu2.s_suppkey = ps2.l_suppkey
                            WHERE ps2.l_partkey = part.p_partkey)
              ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
              LIMIT 100""")),

    // TPC-H Q8 (national market share): the two-role nation join with a
    // conditional-share aggregate — numerator and denominator in ONE
    // aggregate pass (sum(CASE supplier-nation)/sum(vol)), never two
    // scans. Plan: part (type filter) broadcast-prunes lineitem at the
    // scan; orders (date-pushed) joins on orderkey, customer on custkey
    // — the only two fact shuffles; supplier + both nation roles +
    // region are broadcast dims. Exact-decimal volumes; the single
    // IEEE division happens per output year (≤ a few rows).
    QueryDef(
      "q_tpch_q8",
      (s, dir) => {
        val p = broadcast(t(s, dir, "part")
          .filter(col("p_type") === "ECONOMY").select(col("p_partkey")))
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1997-01-01")))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val su = broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")))
        val n1 = broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("n1_key"),
            col("n_name").as("supp_nation")))
        val n2 = broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("n2_key"), col("n_regionkey")))
        val r = broadcast(t(s, dir, "region")
          .filter(col("r_name") === "AMERICA").select(col("r_regionkey")))
        val c = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val vol = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"))
          .join(p, col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(n2, col("c_nationkey") === col("n2_key"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .join(su, col("l_suppkey") === col("s_suppkey"))
          .join(n1, col("s_nationkey") === col("n1_key"))
          .withColumn("vol", vol)
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg((sum(when(col("supp_nation") === "NATION_7", col("vol")))
            .cast("double") / sum(col("vol")).cast("double"))
            .as("mkt_share"))
          .orderBy(col("o_year"))
      },
      Some("""SELECT year(o_orderdate) AS o_year,
                CAST(sum(CASE WHEN n1.n_name = 'NATION_7' THEN
                    CAST(l_extendedprice AS DECIMAL(12,2)) *
                    (CAST(1 AS DECIMAL(12,2)) -
                     CAST(l_discount AS DECIMAL(12,2))) END) AS DOUBLE) /
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                    (CAST(1 AS DECIMAL(12,2)) -
                     CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
                  AS mkt_share
              FROM lineitem JOIN part ON p_partkey = l_partkey
                   JOIN orders ON o_orderkey = l_orderkey
                   JOIN customer ON c_custkey = o_custkey
                   JOIN nation n2 ON n2.n_nationkey = c_nationkey
                   JOIN region ON r_regionkey = n2.n_regionkey
                   JOIN supplier ON s_suppkey = l_suppkey
                   JOIN nation n1 ON n1.n_nationkey = s_nationkey
              WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
                AND o_orderdate >= TIMESTAMP '1995-01-01'
                AND o_orderdate < TIMESTAMP '1997-01-01'
              GROUP BY 1 ORDER BY o_year""")),

    // TPC-H Q9 (product type profit), adapted: no partsupp, so unit
    // supply cost is the part's retail price (profit = revenue −
    // retailprice×qty — synthetic but exact-decimal on both engines).
    // The SHAPE is Q9's: a part NAME-substring filter pruning the fact
    // via broadcast, profit arithmetic inside the aggregate, grouped by
    // the supplier-nation role × order year. Plan: lineitem⋈orders is
    // the one fact-fact shuffle (orderkey); part/supplier/nation all
    // broadcast; the name filter lands in the part scan as a contains
    // pushdown and prunes lineitem before the orders join.
    QueryDef(
      "q_tpch_q9",
      (s, dir) => {
        val p = broadcast(t(s, dir, "part")
          .filter(col("p_name").contains("bolt"))
          .select(col("p_partkey"), col("p_retailprice")))
        val su = broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")))
        val n = broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name")))
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"))
        val amount = dec(col("l_extendedprice")) *
          (one - dec(col("l_discount"))) -
          dec(col("p_retailprice")) * dec(col("l_quantity"))
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"))
          .join(p, col("l_partkey") === col("p_partkey"))
          .join(su, col("l_suppkey") === col("s_suppkey"))
          .join(n, col("s_nationkey") === col("n_nationkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name"),
            year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(sum(amount).cast("double").as("sum_profit"))
          .orderBy(col("n_name"), col("o_year").desc)
      },
      Some("""SELECT n_name, year(o_orderdate) AS o_year,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         (CAST(1 AS DECIMAL(12,2)) -
                          CAST(l_discount AS DECIMAL(12,2))) -
                         CAST(p_retailprice AS DECIMAL(12,2)) *
                         CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                  AS sum_profit
              FROM lineitem JOIN part ON p_partkey = l_partkey
                   JOIN supplier ON s_suppkey = l_suppkey
                   JOIN nation ON n_nationkey = s_nationkey
                   JOIN orders ON o_orderkey = l_orderkey
              WHERE p_name LIKE '%bolt%'
              GROUP BY 1, 2 ORDER BY n_name, o_year DESC""")),

    // TPC-H Q11 (important stock), adapted: part "value" = revenue
    // shipped by ASIA-region suppliers (no partsupp), and the Q11
    // HAVING-vs-global-scalar shape is made SCALE-FREE: keep parts
    // whose value exceeds 2× the average (val·n_parts > 2·total,
    // cross-multiplied in exact decimals — TPC-H's own fraction/SF
    // trick without baking a row count into the constant). Plan: the
    // supplier⋈nation⋈region gate broadcast-semi-prunes lineitem at
    // the scan; ONE l_partkey aggregate; the global (total, n) scalar
    // is a 1-row broadcast crossJoin — no second pass over the fact,
    // no driver round-trip.
    QueryDef(
      "q_tpch_q11",
      (s, dir) => {
        val asia = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")
              .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"))
        val v = t(s, dir, "lineitem")
          .join(broadcast(asia), col("l_suppkey") === col("s_suppkey"),
            "left_semi")
          .groupBy(col("l_partkey"))
          .agg(sum(dec(col("l_extendedprice"))).as("val"))
        val tot = v.agg(sum(col("val")).as("total"),
          count(lit(1)).as("n_parts"))
        v.crossJoin(broadcast(tot))
          .filter(col("val") * col("n_parts") > col("total") * lit(2))
          .select(col("l_partkey"), col("val").cast("double").as("part_value"))
          .orderBy(col("part_value").desc, col("l_partkey"))
      },
      Some("""WITH v AS (
                SELECT l_partkey,
                  sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS val
                FROM lineitem
                WHERE l_suppkey IN (
                  SELECT s_suppkey FROM supplier
                  JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
                  WHERE r_name = 'ASIA')
                GROUP BY 1)
              SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
              FROM v
              WHERE val * (SELECT count(*) FROM v) >
                    2 * (SELECT sum(val) FROM v)
              ORDER BY part_value DESC, l_partkey""")),

    // TPC-H Q16 (parts/supplier relationship), adapted: the
    // part-supplier catalog is lineitem's observed (part, supplier)
    // pairs, and "customer complaints" becomes a negative account
    // balance. The SHAPE is intact: a NOT-IN supplier exclusion
    // (broadcast ANTI join — the excluded set is tiny), a
    // brand/type/size part gate, and a COUNT(DISTINCT supplier) per
    // (brand, type, size). Plan: part gate broadcasts and prunes the
    // fact scan; the distinct-count plans as Spark's two-phase
    // partial/final distinct aggregate — shuffle ∝ surviving distinct
    // (group, supplier) pairs, never raw lineitem.
    QueryDef(
      "q_tpch_q16",
      (s, dir) => {
        val parts = broadcast(t(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#45" &&
            col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
            col("p_size")))
        val bad = broadcast(t(s, dir, "supplier")
          .filter(col("s_acctbal") < 0).select(col("s_suppkey")))
        t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
          .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(parts, col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"),
            col("p_type"), col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
                count(DISTINCT l_suppkey) AS supplier_cnt
              FROM lineitem JOIN part ON p_partkey = l_partkey
              WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
                AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
                AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                      WHERE s_acctbal < 0)
              GROUP BY 1, 2, 3
              ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    // SQL:1999 recursive CTE (Spark 4 native WITH RECURSIVE): every part
    // walks the binary-halving ancestor chain key -> key DIV 2 -> ... ->
    // 1, yielding its depth in the implied binary tree. Each recursion
    // level is a map-only narrow stage over the previous level's
    // survivors (the WHERE cur > 1 frontier shrinks geometrically);
    // the closing depth aggregate is one hash shuffle. Submitted as SQL
    // TEXT so the parser/analyzer recursion machinery itself is under
    // test; DuckDB replays the identical recursion with `//` division.
    QueryDef(
      "q_recursive_cte",
      (s, dir) => {
        t(s, dir, "part").createOrReplaceTempView("part")
        s.sql("""
          WITH RECURSIVE walk(p_partkey, cur, steps) AS (
            SELECT p_partkey, CAST(p_partkey AS BIGINT), 0 FROM part
            UNION ALL
            SELECT p_partkey, cur DIV 2, steps + 1 FROM walk WHERE cur > 1
          )
          SELECT p_partkey, CAST(max(steps) AS BIGINT) AS depth
          FROM walk GROUP BY p_partkey ORDER BY p_partkey""")
      },
      Some("""WITH RECURSIVE walk(p_partkey, cur, steps) AS (
                SELECT p_partkey, CAST(p_partkey AS BIGINT), 0 FROM part
                UNION ALL
                SELECT p_partkey, cur // 2, steps + 1 FROM walk WHERE cur > 1
              )
              SELECT p_partkey, CAST(max(steps) AS BIGINT) AS depth
              FROM walk GROUP BY p_partkey ORDER BY p_partkey""")),

    // Hopping (sliding) window: 1-hour windows advancing every 30
    // minutes, so each event lands in exactly 2 windows. Spark's
    // `window()` is a map-only bucket expansion (epoch-aligned starts)
    // followed by one map-side-combined hash aggregate — shuffle volume
    // is 2x the event keys, independent of window width. The DuckDB
    // oracle materializes the same 2 buckets per event arithmetically.
    QueryDef(
      "q_hopping_window",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(
            window(col("ts"), "1 hour", "30 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("win_start"), col("event_type"),
            col("n"))
          .orderBy("win_start", "event_type"),
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
              ORDER BY win_start, event_type""")),

    // Interval-overlap join: per-(user, day) activity spans [first event,
    // last event] matched against the 8 worst error-burst hours — "who
    // was active during each incident". The incident set is a top-k
    // (count desc, hour) rather than a fixed threshold, so it is
    // scale-invariant: burstiness flattens as event volume grows, but
    // the worst hours are always defined. The join is keyed on the
    // calendar-day equi-bucket with the overlap predicate (span_start <
    // win_end AND span_end >= win_start) inside the hash match; spans
    // never cross days by construction, so day-bucketing is lossless.
    // The burst side is 8 rows and broadcasts — the span side is touched
    // exactly once after its own aggregation. At 100 TB: spans ~ |users
    // x days| (already reduced), bursts bounded by k, candidates ∝
    // same-day pairs only.
    QueryDef(
      "q_overlap_activity",
      (s, dir) => {
        val e = t(s, dir, "events")
        val spans = e
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
        val bursts = e
          .filter(col("event_type") === "error")
          .groupBy(date_trunc("hour", col("ts")).as("win_start"))
          .agg(count(lit(1)).as("n_err"))
          .orderBy(col("n_err").desc, col("win_start"))
          .limit(8)
          .withColumn("win_end",
            col("win_start") + expr("INTERVAL 1 HOUR"))
          .withColumn("day", to_date(col("win_start")))
        spans
          .join(broadcast(bursts),
            spans("day") === bursts("day") &&
              col("s_start") < col("win_end") &&
              col("s_end") >= col("win_start"))
          .groupBy(col("win_start"), col("n_err"))
          .agg(count(lit(1)).as("n_users_active"))
          .orderBy("win_start")
      },
      Some("""WITH spans AS (
                SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                       min(ts) AS s_start, max(ts) AS s_end
                FROM events GROUP BY 1, 2),
              bursts AS (
                SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
                       count(*) AS n_err
                FROM events WHERE event_type = 'error'
                GROUP BY 1 ORDER BY n_err DESC, win_start LIMIT 8)
              SELECT b.win_start, b.n_err, count(*) AS n_users_active
              FROM spans s JOIN bursts b
                ON s.day = CAST(date_trunc('day', b.win_start) AS DATE)
               AND s.s_start < b.win_start + INTERVAL 1 HOUR
               AND s.s_end >= b.win_start
              GROUP BY b.win_start, b.n_err
              ORDER BY b.win_start""")),

    // One-pass correlation matrix: corr/covar/stddev of (quantity,
    // extendedprice) per return flag from exact-decimal sufficient
    // statistics — Σx, Σy, Σx², Σy², Σxy accumulate as decimals (exact,
    // associative, partition-order-free), and ONLY the closing
    // per-group scalar formulas touch IEEE doubles, rounded to 6 dp.
    // Spark's built-in corr()/covar_samp() stream doubles and are not
    // bit-reproducible across partitionings; this shape is, at the cost
    // of one widening multiply per row — the right trade for a
    // regression-tested 100 TB pipeline.
    QueryDef(
      "q_corr_matrix",
      (s, dir) => {
        val x = dec(col("l_quantity"))
        val y = dec(col("l_extendedprice"))
        // spread the under-split scan feeding the widening-multiply
        // moment partials (conditional; no-op on a pre-split input)
        val g = Tables.parallel(s, t(s, dir, "lineitem"))
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"),
            sum(x * x).as("sxx"), sum(y * y).as("syy"),
            sum(x * y).as("sxy"))
        val nD = col("n").cast("double")
        val sxD = col("sx").cast("double")
        val syD = col("sy").cast("double")
        val sxxD = col("sxx").cast("double")
        val syyD = col("syy").cast("double")
        val sxyD = col("sxy").cast("double")
        // nullif guards (degenerate sweep, r8): n=1 groups and constant
        // columns zero these denominators; Spark-4 ANSI throws on
        // double /0 where DuckDB returns NULL — nullif aligns both, and
        // nonzero denominators pass through bit-identically
        val dn1 = nullif(nD * (nD - 1), lit(0.0))
        g.select(
            col("l_returnflag"), col("n"),
            round((nD * sxyD - sxD * syD) /
              nullif(sqrt((nD * sxxD - sxD * sxD) * (nD * syyD - syD * syD)),
                lit(0.0)), 6)
              .as("corr_qty_price"),
            round((sxyD - sxD * syD / nD) / nullif(nD - 1, lit(0.0)), 6)
              .as("covar_qty_price"),
            round(sqrt((nD * sxxD - sxD * sxD) / dn1), 6)
              .as("stddev_qty"),
            round(sqrt((nD * syyD - syD * syD) / dn1), 6)
              .as("stddev_price"))
          .orderBy("l_returnflag")
      },
      Some("""WITH g AS (
                SELECT l_returnflag, count(*) AS n,
                  sum(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
                  sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
                  sum(CAST(l_quantity AS DECIMAL(12,2)) *
                      CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
                  sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      CAST(l_extendedprice AS DECIMAL(12,2))) AS syy,
                  sum(CAST(l_quantity AS DECIMAL(12,2)) *
                      CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy
                FROM lineitem GROUP BY l_returnflag)
              SELECT l_returnflag, n,
                round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                  AS corr_qty_price,
                round((CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                         / CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) - 1), 6) AS covar_qty_price,
                round(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))), 6)
                  AS stddev_qty,
                round(sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))), 6)
                  AS stddev_price
              FROM g ORDER BY l_returnflag""")),

    // Heavy hitters: the top-20 most-ordered parts with exact counts and
    // quantities, dimension attributes attached AFTER the aggregate+limit
    // (broadcast join against 20 rows, not 6M). The aggregate is
    // map-side combined on l_partkey; the global top-20 is a
    // TakeOrderedAndProject — no full sort. Companion to the CMS sketch
    // estimate in Analytics (q_cms_freq), which answers the same
    // question in bounded memory when the key domain explodes.
    QueryDef(
      "q_heavy_hitters",
      (s, dir) => {
        val top = t(s, dir, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n_lines"),
            sum(dec(col("l_quantity"))).cast("double").as("total_qty"))
          .orderBy(col("n_lines").desc, col("l_partkey"))
          .limit(20)
        top.join(broadcast(t(s, dir, "part").select("p_partkey", "p_name")),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"), col("p_name"), col("n_lines"),
            col("total_qty"))
          .orderBy(col("n_lines").desc, col("l_partkey"))
      },
      Some("""SELECT l_partkey, p_name, n_lines, total_qty
              FROM (SELECT l_partkey, count(*) AS n_lines,
                      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                        AS total_qty
                    FROM lineitem GROUP BY l_partkey
                    ORDER BY n_lines DESC, l_partkey LIMIT 20) t
                   JOIN part ON l_partkey = p_partkey
              ORDER BY n_lines DESC, l_partkey""")),

    // SQL-language scalar UDF (SQL:2016 / Spark 4 CREATE FUNCTION ...
    // RETURN expr): user-defined abstraction with ZERO execution cost —
    // the analyzer inlines the body into the plan as ordinary Catalyst
    // expressions, so the aggregate below stays fully inside whole-stage
    // codegen (no ScalaUDF / no serialization boundary; asserted in
    // PlanSpec). The body keeps the engine's exact-decimal money policy,
    // so the UDF is safe to sum at any parallelism. The oracle inlines
    // the same expression — which is exactly what Spark itself does.
    QueryDef(
      "q_sql_udf",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_net(
                   p DOUBLE, d DOUBLE) RETURNS DECIMAL(25,4)
                 RETURN CAST(p AS DECIMAL(12,2)) *
                   (CAST(1 AS DECIMAL(12,2)) - CAST(d AS DECIMAL(12,2)))""")
        s.sql("""SELECT l_returnflag,
                   CAST(sum(graft_net(l_extendedprice, l_discount))
                     AS DOUBLE) AS net_revenue,
                   count(*) AS n
                 FROM lineitem GROUP BY l_returnflag
                 ORDER BY l_returnflag""")
      },
      Some("""SELECT l_returnflag,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         (CAST(1 AS DECIMAL(12,2)) -
                          CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
                  AS net_revenue,
                count(*) AS n
              FROM lineitem GROUP BY l_returnflag
              ORDER BY l_returnflag""")),

    // 2-D skyline (Pareto frontier): parts no other part beats on BOTH
    // (cheaper-or-equal price, bigger-or-equal size, one strict). The
    // quadratic NOT-EXISTS formulation is replaced by the scan shape:
    // (1) aggregate to the distinct-price domain with the max size per
    // price (one map-side-combined shuffle — collapses 6M rows to the
    // price domain); (2) one prefix-max window over that aggregated
    // domain (same "window over the already-aggregated tiny table"
    // posture as stream_topk — the domain is |distinct prices|, not
    // |rows|; a domain too big for one partition would switch to the
    // two-pass range-partitioned prefix scan); (3) broadcast the
    // surviving frontier back against `part` to recover the rows.
    QueryDef(
      "q_skyline",
      (s, dir) => {
        val p = t(s, dir, "part")
        val byPrice = p.groupBy(col("p_retailprice"))
          .agg(max(col("p_size")).as("m"))
        val w = Window.orderBy(col("p_retailprice"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val frontier = byPrice
          .withColumn("cm_prev", max(col("m")).over(w))
          // on the frontier iff the best size at this price strictly
          // beats every strictly-cheaper point
          .filter(col("cm_prev").isNull || col("m") > col("cm_prev"))
          // rename: the frontier derives from `part`, so keeping the
          // original column names would make the join self-ambiguous
          .select(col("p_retailprice").as("f_price"), col("m"))
        p.join(broadcast(frontier),
            col("p_retailprice") === col("f_price") &&
              col("p_size") === col("m"))
          .select(col("p_partkey"), col("p_name"), col("p_retailprice"),
            col("p_size"))
          .orderBy("p_partkey")
      },
      Some("""WITH bp AS (
                SELECT p_retailprice, max(p_size) AS m
                FROM part GROUP BY p_retailprice),
              f AS (
                SELECT p_retailprice, m,
                  max(m) OVER (ORDER BY p_retailprice
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS cm_prev
                FROM bp)
              SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
              FROM part p JOIN f ON p.p_retailprice = f.p_retailprice
                               AND p.p_size = f.m
              WHERE f.cm_prev IS NULL OR f.m > f.cm_prev
              ORDER BY p.p_partkey""")),

    // Data-quality audit (Deequ/dbt-test style): a fixed rule catalog
    // evaluated in one pass per table — null checks and domain checks
    // compile to conditional-sum aggregates over a single scan;
    // referential-integrity rules are left-anti joins (orphan probes)
    // where the dimension side broadcasts. Each rule emits (rule,
    // n_violations, n_checked); a clean corpus yields all-zero
    // violations, which is itself the assertion a pipeline gates on.
    // At 100 TB every rule is embarrassingly parallel and the rule
    // results are one row each — the audit output never grows.
    QueryDef(
      "q_constraints",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val e = t(s, dir, "events")
        def rule(name: String, violations: Column): DataFrame => DataFrame =
          df => df.agg(count(lit(1)).as("n_checked"),
            sum(when(violations, 1L).otherwise(0L)).as("n_violations"))
            .select(lit(name).as("rule"), col("n_violations"),
              col("n_checked"))
        val scans = Seq(
          rule("lineitem_qty_domain",
            col("l_quantity") < 1 || col("l_quantity") > 50)(li),
          rule("lineitem_price_positive", col("l_extendedprice") <= 0)(li),
          rule("customer_name_not_null", col("c_name").isNull)(c),
          rule("events_user_not_null", col("user_id").isNull)(e),
          rule("orders_date_range",
            col("o_orderdate") < to_timestamp(lit("1990-01-01")))(o))
        val orphanLi = li.select(col("l_orderkey"))
          .join(o.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("lineitem_orderkey_fk").as("rule"),
            col("n_violations"), lit(null).cast("long").as("n_checked"))
        val orphanO = o.select(col("o_custkey"))
          .join(c.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("orders_custkey_fk").as("rule"),
            col("n_violations"), lit(null).cast("long").as("n_checked"))
        (scans :+ orphanLi :+ orphanO)
          .reduce(_.unionAll(_))
          .orderBy("rule")
      },
      // Every integer sum() is cast back to BIGINT: DuckDB widens
      // integer sums to HUGEINT (int128), which fails the driver's
      // typed-hash compare against Spark's int64 (same pattern as
      // PagerankOracleSql). NULL literals are typed explicitly too.
      Some("""SELECT * FROM (
                SELECT 'lineitem_qty_domain' AS rule,
                  CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
                  count(*) AS n_checked FROM lineitem
                UNION ALL
                SELECT 'lineitem_price_positive',
                  CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
                    AS BIGINT),
                  count(*) FROM lineitem
                UNION ALL
                SELECT 'customer_name_not_null',
                  CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  count(*) FROM customer
                UNION ALL
                SELECT 'events_user_not_null',
                  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  count(*) FROM events
                UNION ALL
                SELECT 'orders_date_range',
                  CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                      THEN 1 ELSE 0 END) AS BIGINT),
                  count(*) FROM orders
                UNION ALL
                SELECT 'lineitem_orderkey_fk',
                  (SELECT count(*) FROM lineitem
                   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
                  CAST(NULL AS BIGINT)
                UNION ALL
                SELECT 'orders_custkey_fk',
                  (SELECT count(*) FROM orders
                   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
                  CAST(NULL AS BIGINT))
              ORDER BY rule""")),

    // Higher-order array functions with lambdas (SQL:2016 / Spark
    // transform / filter / exists / aggregate): per-document token
    // statistics computed INSIDE the array domain — no explode, no
    // shuffle, the entire row stays one codegen projection. This is the
    // pattern that replaces explode+groupBy for per-row collection
    // math at scale (explode multiplies the shuffle by array length;
    // a lambda pipeline multiplies nothing).
    QueryDef(
      "q_higher_order",
      (s, dir) => {
        val toks = tokens(col("text"))
        val lens = transform(toks, t => length(t))
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            size(filter(toks, t => length(t) > 4)).cast("long")
              .as("n_long"),
            aggregate(lens, lit(0), (acc, x) => acc + x).cast("long")
              .as("sum_len"),
            exists(toks, t => t === "the").as("has_the"),
            array_join(transform(slice(toks, 1, 3), t => upper(t)), "-")
              .as("head3"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(string_split(text, ' '),
                  t -> len(t) > 4)) AS BIGINT) AS n_long,
                CAST(list_sum(list_transform(string_split(text, ' '),
                  t -> len(t))) AS BIGINT) AS sum_len,
                list_contains(string_split(text, ' '), 'the') AS has_the,
                array_to_string(list_transform(
                  string_split(text, ' ')[1:3], t -> upper(t)), '-')
                  AS head3
              FROM documents ORDER BY doc_id""")),

    // Right-to-be-forgotten (GDPR/CCPA erasure) audit — the governance
    // pass a data platform runs before a deletion batch: given a
    // deletion cohort (here the deterministic user_id % 97 = 0 stand-in
    // for an uploaded erasure list), report per event-type how many
    // rows will be purged vs retained, plus the cohort's user count —
    // the numbers a DPO signs off on before the actual anti-join
    // rewrite ships. Shape: the cohort is data-derived but tiny, so the
    // purge test is a map-only predicate here (a real uploaded list
    // becomes a broadcast LEFT SEMI join on user_id — same plan shape);
    // the report is one hash aggregate ∝ events with map-side partials.
    // The retained relation itself is what q_merge_upsert-style rewrite
    // jobs consume; the audit never materializes it twice.
    QueryDef(
      "q_erasure",
      (s, dir) => {
        val e = t(s, dir, "events")
          .withColumn("purge", pmod(col("user_id"), lit(97L)) === 0)
        e.groupBy("event_type").agg(
            sum(when(col("purge"), 1L).otherwise(0L)).as("n_purged"),
            sum(when(col("purge"), lit(0L)).otherwise(1L)).as("n_retained"),
            count_distinct(when(col("purge"), col("user_id"))).as("n_users_purged"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
                CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purged,
                CAST(sum(CASE WHEN user_id % 97 = 0 THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_retained,
                CAST(count(DISTINCT CASE WHEN user_id % 97 = 0
                  THEN user_id END) AS BIGINT) AS n_users_purged
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // k-anonymity audit — the privacy gate run before releasing a
    // quasi-identifier projection: every equivalence class of
    // (nation, market segment, account-balance band) smaller than k = 5
    // re-identifies its members and must be suppressed or generalized.
    // The report returns each violating class with its size plus the
    // suppression tally (classes, rows) every class row carries — the
    // exact artifact an anonymization pipeline consumes to decide which
    // cells to coarsen. The balance band is integer arithmetic on exact
    // cents (floor to $1000 bands — engine-portable, no float binning).
    // Shape: one hash aggregate ∝ customers (map-side combined), then a
    // 1-row broadcast of the violation totals; nothing data-sized moves
    // twice, and at 100 TB the class relation is bounded by the
    // quasi-identifier domain, not the row count.
    QueryDef(
      "q_kanon",
      (s, dir) => {
        val k = 5L
        val c = t(s, dir, "customer")
          .select(col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("segment"),
            // +100000 first: balances go to -1000.00, and Spark's div
            // truncates toward zero while DuckDB's // floors — shifting
            // the cents nonnegative makes the two agree on every row
            expr("""((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                      + 100000) div 100000) * 1000 - 1000""").as("bal_band"))
        val classes = c.groupBy("nation", "segment", "bal_band")
          .agg(count(lit(1)).as("class_size"))
        val viol = classes.filter(col("class_size") < k)
        val tot = viol.agg(
          coalesce(count(lit(1)), lit(0L)).as("n_violating_classes"),
          coalesce(sum(col("class_size")), lit(0L)).as("n_rows_at_risk"))
        viol.crossJoin(broadcast(tot))
          .select(col("nation"), col("segment"), col("bal_band"),
            col("class_size"), col("n_violating_classes"),
            col("n_rows_at_risk"))
          .orderBy("nation", "segment", "bal_band")
      },
      Some("""WITH c AS (
                SELECT CAST(c_nationkey AS BIGINT) AS nation,
                  c_mktsegment AS segment,
                  ((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                      + 100000) // 100000) * 1000 - 1000 AS bal_band
                FROM customer),
              cls AS (
                SELECT nation, segment, bal_band, count(*) AS class_size
                FROM c GROUP BY nation, segment, bal_band),
              v AS (SELECT * FROM cls WHERE class_size < 5),
              t AS (
                SELECT count(*) AS n_violating_classes,
                  CAST(coalesce(sum(class_size), 0) AS BIGINT)
                    AS n_rows_at_risk
                FROM v)
              SELECT nation, segment, bal_band, class_size,
                n_violating_classes, n_rows_at_risk
              FROM v CROSS JOIN t
              ORDER BY nation, segment, bal_band""")),

    // l-diversity audit — k-anonymity's companion gate (q_kanon bounds
    // RE-IDENTIFICATION; this bounds ATTRIBUTE DISCLOSURE): a
    // quasi-identifier class where every member shares one sensitive
    // value leaks that value even when the class is k-large. Each
    // (nation, balance-band) class must see at least l = 3 distinct
    // market segments; smaller-diversity classes are reported with
    // their distinct-count and size, plus the carried suppression
    // totals, exactly the q_kanon report shape so the two gates compose
    // into one anonymization decision. The band reuses q_kanon's exact
    // integer cents binning (shift-then-div so Spark's truncating div
    // and DuckDB's flooring // agree below zero). Shape: one
    // count_distinct hash aggregate ∝ customers (two-phase under
    // distinct expansion), then a 1-row broadcast of totals — the class
    // relation is bounded by the QI domain at any corpus size.
    QueryDef(
      "q_l_diversity",
      (s, dir) => {
        val l = 3L
        val c = t(s, dir, "customer")
          .select(col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("segment"),
            expr("""((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                      + 100000) div 100000) * 1000 - 1000""").as("bal_band"))
        val classes = c.groupBy("nation", "bal_band").agg(
          count_distinct(col("segment")).as("l_distinct"),
          count(lit(1)).as("class_size"))
        val viol = classes.filter(col("l_distinct") < l)
        val tot = viol.agg(
          coalesce(count(lit(1)), lit(0L)).as("n_violating_classes"),
          coalesce(sum(col("class_size")), lit(0L)).as("n_rows_at_risk"))
        viol.crossJoin(broadcast(tot))
          .select(col("nation"), col("bal_band"), col("l_distinct"),
            col("class_size"), col("n_violating_classes"),
            col("n_rows_at_risk"))
          .orderBy("nation", "bal_band")
      },
      Some("""WITH c AS (
                SELECT CAST(c_nationkey AS BIGINT) AS nation,
                  c_mktsegment AS segment,
                  ((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                      + 100000) // 100000) * 1000 - 1000 AS bal_band
                FROM customer),
              cls AS (
                SELECT nation, bal_band,
                  CAST(count(DISTINCT segment) AS BIGINT) AS l_distinct,
                  count(*) AS class_size
                FROM c GROUP BY nation, bal_band),
              v AS (SELECT * FROM cls WHERE l_distinct < 3),
              t AS (
                SELECT count(*) AS n_violating_classes,
                  CAST(coalesce(sum(class_size), 0) AS BIGINT)
                    AS n_rows_at_risk
                FROM v)
              SELECT nation, bal_band, l_distinct, class_size,
                n_violating_classes, n_rows_at_risk
              FROM v CROSS JOIN t
              ORDER BY nation, bal_band""")),

    // Differentially-private count release — the other half of the
    // privacy surface next to q_kanon: the per-(event_type, day) event
    // histogram released under ε = 0.5 via the GEOMETRIC mechanism
    // (the discrete Laplace — the standard integer-valued DP noise for
    // counting queries). House numeric discipline (SCALE.md "Numeric
    // determinism"): the continuous Laplace needs ln(u), whose libm
    // rounding is not engine-portable, so the noise here is drawn by
    // inverse-CDF lookup against a DRIVER-COMPUTED literal threshold
    // ladder (the q_benford literal-table pattern): the two-sided
    // geometric CDF at α = e^-ε is quantized once in Scala to the same
    // 2^20 grid as the md5-derived uniform draw, and both engines
    // evaluate the identical generated CASE ladder — integer compares
    // only, zero transcendentals on the data path. The draw is keyed on
    // the released CELL (type + day-epoch), not on row data, exactly as
    // a production DP release seeds per-cell noise. Shape: one map-side-
    // combined hash aggregate ∝ events, then map-only noise on the
    // cell-grain relation (∝ types × days, catalog-sized at any corpus
    // scale); released = max(0, n + noise) post-processing preserves ε.
    QueryDef(
      "q_dp_release",
      (s, dir) => {
        val e = Tables.loadEvents(s, dir)
          .select(col("event_type"), date_trunc("day", col("ts")).as("day"))
        val daily = e.groupBy("event_type", "day").agg(count(lit(1)).as("n"))
          .withColumn("day_us", unix_micros(col("day")))
        daily
          .withColumn("u", graft.functions.EngineFns.hash31(
            concat_ws("|", lit("dp"), col("event_type"),
              col("day_us").cast("string"))) % DpGrid)
          .withColumn("noise", expr(DpCaseSql).cast("long"))
          .select(col("event_type"), col("day"), col("n"), col("noise"),
            greatest(lit(0L), col("n") + col("noise")).as("released"),
            lit(0.5).as("epsilon"))
          .orderBy("event_type", "day")
      },
      Some(s"""WITH e AS (
                SELECT event_type,
                  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                    AS day
                FROM events),
              daily AS (
                SELECT event_type, day, count(*) AS n,
                  epoch_us(day) AS day_us
                FROM e GROUP BY 1, 2),
              h AS (
                SELECT *, ${hash31Sql("concat('dp', '|', event_type, '|', CAST(day_us AS VARCHAR))")} % $DpGrid AS u
                FROM daily),
              z AS (SELECT *, CAST($DpCaseSql AS BIGINT) AS noise FROM h)
              SELECT event_type, day, n, noise,
                greatest(0, n + noise) AS released,
                CAST(0.5 AS DOUBLE) AS epsilon
              FROM z ORDER BY event_type, day""")),

    // Snapshot diff audit — the table-format staple (what changed
    // between two versions of a 100 TB table?) that q_merge_upsert /
    // q_scd2_versions apply and this operator REPORTS: rows added,
    // removed, value-changed, and unchanged, with the changed rows'
    // absolute price drift. Version 2 derives deterministically from
    // version 1 (keys % 97 deleted, % 13 repriced +$1, % 101 mirrored
    // to a fresh negative key-space as inserts), so the diff exercises
    // all four classes on any corpus. The comparison is one full-outer
    // equi-join on the key with exact integer cents — never a row hash
    // of floats — and the report aggregates to the 4-row class grain.
    // Shape: one hash shuffle on the key (or zero with both versions
    // bucketed by key, the production layout), one tiny aggregate;
    // nothing key-grain ever returns to the driver.
    QueryDef(
      "q_snapshot_diff",
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_orderkey").cast("long").as("k"),
          (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
        val v2 = o.filter(pmod(col("k"), lit(97L)) =!= 0L)
          .select(col("k"),
            (col("cents") + when(pmod(col("k"), lit(13L)) === 0L, 100L)
              .otherwise(0L)).as("cents"))
          .unionAll(o.filter(pmod(col("k"), lit(101L)) === 0L)
            .select((-col("k")).as("k"), col("cents")))
        val d = o.select(col("k"), col("cents").as("c1"))
          .join(v2.select(col("k"), col("cents").as("c2")), Seq("k"), "full_outer")
          .select(
            when(col("c1").isNull, "added")
              .when(col("c2").isNull, "removed")
              .when(col("c1") =!= col("c2"), "changed")
              .otherwise("unchanged").as("class"),
            coalesce(abs(col("c2") - col("c1")), lit(0L)).as("drift_cents"))
        d.groupBy("class").agg(
            count(lit(1)).as("n_rows"),
            (sum(col("drift_cents")).cast("double") / 100.0).as("price_drift"))
          .orderBy("class")
      },
      Some("""WITH o AS (
                SELECT CAST(o_orderkey AS BIGINT) AS k,
                  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                    AS cents
                FROM orders),
              v2 AS (
                SELECT k, cents + CASE WHEN k % 13 = 0 THEN 100 ELSE 0 END
                  AS cents
                FROM o WHERE k % 97 != 0
                UNION ALL
                SELECT -k AS k, cents FROM o WHERE k % 101 = 0),
              d AS (
                SELECT CASE WHEN a.k IS NULL THEN 'added'
                            WHEN b.k IS NULL THEN 'removed'
                            WHEN a.cents != b.cents THEN 'changed'
                            ELSE 'unchanged' END AS class,
                  coalesce(abs(b.cents - a.cents), 0) AS drift_cents
                FROM o a FULL OUTER JOIN v2 b ON a.k = b.k)
              SELECT class, count(*) AS n_rows,
                CAST(sum(drift_cents) AS DOUBLE) / 100.0 AS price_drift
              FROM d GROUP BY class ORDER BY class""")),

    // Join-key skew audit — the diagnostic run BEFORE shuffling 100 TB
    // on a key: per-key count distribution of lineitem.l_partkey as
    // exact order statistics (max, p50, p99) plus the skew ratio
    // max·keys/rows (1.0 = perfectly uniform; the number that decides
    // between a plain shuffle join, AQE skew splitting, and the
    // q_salted_join treatment). Percentiles of the COUNT distribution
    // come from the CDF scaffold on the count grain (distinct count
    // values — bounded, never key-sized): cum·100 ≥ 99·n_keys is an
    // exact integer gate, no percentile_approx, no global sort of the
    // keys. Shape: one hash aggregate ∝ rows, one ∝ distinct counts,
    // one bounded window, a 1-row fold.
    QueryDef(
      "q_skew_audit",
      (s, dir) => {
        val perKey = t(s, dir, "lineitem")
          .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
        val perCnt = perKey.groupBy("cnt").agg(count(lit(1)).as("freq"))
        val wc = Window.orderBy("cnt")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = perCnt.withColumn("cum", sum(col("freq")).over(wc))
        val tot = perKey.agg(count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("n_rows"), max(col("cnt")).as("max_cnt"),
          min(col("cnt")).as("min_cnt"))
        val pct = cum.crossJoin(broadcast(tot))
          .agg(
            min(when(col("cum") * 2 >= col("n_keys"), col("cnt")))
              .as("p50_cnt"),
            min(when(col("cum") * 100 >= col("n_keys") * 99, col("cnt")))
              .as("p99_cnt"))
        tot.crossJoin(broadcast(pct))
          .select(col("n_keys"), col("n_rows"), col("min_cnt"),
            col("p50_cnt"), col("p99_cnt"), col("max_cnt"),
            ((col("max_cnt") * col("n_keys")).cast("double") /
              col("n_rows").cast("double")).as("skew_ratio"))
      },
      Some("""WITH k AS (
                SELECT l_partkey, count(*) AS cnt
                FROM lineitem GROUP BY l_partkey),
              c AS (SELECT cnt, count(*) AS freq FROM k GROUP BY cnt),
              cc AS (
                SELECT cnt, sum(freq) OVER (ORDER BY cnt
                  ROWS UNBOUNDED PRECEDING) AS cum
                FROM c),
              tt AS (
                SELECT count(*) AS n_keys,
                  CAST(sum(cnt) AS BIGINT) AS n_rows,
                  max(cnt) AS max_cnt, min(cnt) AS min_cnt
                FROM k),
              p AS (
                SELECT
                  min(CASE WHEN cum * 2 >= n_keys THEN cnt END) AS p50_cnt,
                  min(CASE WHEN cum * 100 >= n_keys * 99 THEN cnt END)
                    AS p99_cnt
                FROM cc CROSS JOIN tt)
              SELECT n_keys, n_rows, min_cnt, p50_cnt, p99_cnt, max_cnt,
                CAST(max_cnt * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
                  AS skew_ratio
              FROM tt CROSS JOIN p""")),

    // Order-to-ship latency aging — the fulfillment-ops report: days
    // from order date to FIRST shipment per order (exact integer date
    // arithmetic — datediff/date_diff agree on calendar days), bucketed
    // into the standard aging bands, plus the never-shipped backlog as
    // its own band via a left join. Revenue carried in exact cents.
    // Shape: one per-order min aggregate on the lineitem side, one
    // orderkey join, a 5-row aging aggregate — shuffle ∝ lineitem once.
    QueryDef(
      "q_ship_latency_aging",
      (s, dir) => {
        val firstShip = t(s, dir, "lineitem")
          .groupBy("l_orderkey").agg(min(col("l_shipdate")).as("ship"))
        val aged = t(s, dir, "orders")
          .join(firstShip, col("o_orderkey") === col("l_orderkey"), "left")
          .select(col("o_orderkey"),
            (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
              .as("cents"),
            datediff(col("ship"), col("o_orderdate")).cast("long")
              .as("lat_days"))
          .withColumn("bucket",
            when(col("lat_days").isNull, "5_never_shipped")
              .when(col("lat_days") <= 7, "1_week")
              .when(col("lat_days") <= 30, "2_month")
              .when(col("lat_days") <= 90, "3_quarter")
              .otherwise("4_older"))
        aged.groupBy("bucket").agg(
            count(lit(1)).as("n_orders"),
            sum(col("cents")).as("revenue_cents"),
            min(col("lat_days")).as("min_days"),
            max(col("lat_days")).as("max_days"))
          .orderBy("bucket")
      },
      Some("""WITH fs AS (
                SELECT l_orderkey, min(l_shipdate) AS ship
                FROM lineitem GROUP BY l_orderkey),
              aged AS (
                SELECT o.o_orderkey,
                  CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                    AS BIGINT) AS cents,
                  CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(fs.ship AS DATE)) AS BIGINT) AS lat_days
                FROM orders o
                LEFT JOIN fs ON fs.l_orderkey = o.o_orderkey),
              b AS (
                SELECT *,
                  CASE WHEN lat_days IS NULL THEN '5_never_shipped'
                       WHEN lat_days <= 7 THEN '1_week'
                       WHEN lat_days <= 30 THEN '2_month'
                       WHEN lat_days <= 90 THEN '3_quarter'
                       ELSE '4_older' END AS bucket
                FROM aged)
              SELECT bucket, count(*) AS n_orders,
                CAST(sum(cents) AS BIGINT) AS revenue_cents,
                min(lat_days) AS min_days, max(lat_days) AS max_days
              FROM b GROUP BY bucket ORDER BY bucket"""))
  )
}
