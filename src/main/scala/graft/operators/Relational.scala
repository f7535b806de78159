package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}

/** Core relational surface: scan, projection, filter pushdown, DISTINCT,
  * joins (broadcast / shuffle / semi / anti / outer / correlated),
  * aggregation (group-by, distinct-agg, having, rollup, cube), window
  * functions, sorts / limits / offsets, set operations, scalar functions
  * (string / date / math / conditional), scalar and correlated subqueries.
  *
  * Reference surface covered here: parquet listing scan (reference
  * main.rs:131-144), projection (main.rs:122), DISTINCT-as-aggregate
  * (main.rs:122 — Catalyst's ReplaceDistinctWithAggregate produces the same
  * partial/final hash-aggregate shape DataFusion does), plus the natural
  * relational closure the oracle suite exercises.
  *
  * Scale notes (100 TB design stance):
  *  - dimension tables (region/nation/supplier) are explicitly
  *    `broadcast()` so the big fact joins never shuffle the small side;
  *  - fact-fact joins (lineitem x orders) shuffle on the join key once and
  *    aggregate map-side first (Catalyst partial aggregation);
  *  - every filter/projection is expressed declaratively so it reaches the
  *    parquet scan (PushedFilters / ReadSchema — asserted in PlanSpec).
  *
  * Numeric determinism policy: double summation order differs between
  * engines (and between Spark partitions), so any aggregated money value is
  * cast to DECIMAL(12,2) first — exact, associative, identical in Spark and
  * DuckDB — and the exact decimal result is cast back to DOUBLE at the end.
  * Averages are computed as exact-decimal-sum / count in double.
  */
object Relational {

  /** Exact-decimal cast for money/quantity columns (see class doc). */
  private[operators] def dec(c: Column): Column = c.cast("decimal(12,2)")
  private[operators] val one = lit(1).cast("decimal(12,2)")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------------- defs

  val defs: Seq[QueryDef] = Seq(

    // Reference parity: SELECT DISTINCT over mixed types (main.rs:122).
    QueryDef(
      "ref_distinct",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select("l_returnflag", "l_linestatus", "l_quantity")
          .distinct()
          .orderBy("l_returnflag", "l_linestatus", "l_quantity"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus, l_quantity
              FROM lineitem
              ORDER BY l_returnflag, l_linestatus, l_quantity""")),

    // Scan + projection: only 3 of 11 columns decoded (main.rs:122 analog).
    QueryDef(
      "q_scan_project",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          // (l_orderkey, l_linenumber) is NOT unique in the synthetic
          // lineitem — sort all output columns for a total order.
          .orderBy("l_orderkey", "l_linenumber", "l_extendedprice"),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
              FROM lineitem ORDER BY l_orderkey, l_linenumber, l_extendedprice""")),

    // Filter pushdown: timestamp + numeric predicates reach the scan.
    QueryDef(
      "q_filter_pushdown",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= to_timestamp(lit("1999-01-01")) &&
            col("l_quantity") > 45)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
          .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_quantity > 45
              ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate""")),

    // TPC-H Q1 shape: partial+final hash aggregation over the fact table.
    QueryDef(
      "q1_agg",
      (s, dir) =>
        // spread the under-split scan feeding the exact-decimal partial
        // aggregate (conditional; no-op on a pre-split 100 TB input)
        Tables.parallel(s, t(s, dir, "lineitem"))
          .filter(col("l_shipdate") <= to_timestamp(lit("2001-09-02")))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
            sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
            sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
              .cast("double").as("sum_disc_price"),
            sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))) *
              (one + dec(col("l_tax")))).cast("double").as("sum_charge"),
            (sum(dec(col("l_quantity"))).cast("double") / count(lit(1)))
              .as("avg_qty"),
            (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1)))
              .as("avg_price"),
            (sum(dec(col("l_discount"))).cast("double") / count(lit(1)))
              .as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
                CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_disc,
                count(*) AS count_order
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '2001-09-02'
              GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus""")),

    // Broadcast join chain over dimensions (no shuffle of small sides).
    QueryDef(
      "q_join_broadcast",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val n = broadcast(t(s, dir, "nation"))
        val r = broadcast(t(s, dir, "region"))
        c.join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(
            count(lit(1)).as("n_customers"),
            sum(dec(col("c_acctbal"))).cast("double").as("total_bal"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name, count(*) AS n_customers,
                CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
              FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name, n_name
              ORDER BY r_name, n_name""")),

    // TPC-H Q5 shape: fact-fact shuffle join + broadcast dims, 5 tables.
    QueryDef(
      "q_join_5way",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1998-01-01")))
        val c = t(s, dir, "customer")
        val n = broadcast(t(s, dir, "nation"))
        val r = broadcast(t(s, dir, "region"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
            .cast("double").as("revenue"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
              GROUP BY r_name, n_name
              ORDER BY r_name, n_name""")),

    // Explicit sort-merge join (hint) on the two largest tables.
    QueryDef(
      "q_join_shuffle",
      (s, dir) => {
        val li = t(s, dir, "lineitem").hint("merge")
        val o = t(s, dir, "orders")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_lines"),
            sum(dec(col("l_extendedprice"))).cast("double").as("gross"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_lines,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS gross
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Left-semi join (EXISTS).
    QueryDef(
      "q_semi_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
              ORDER BY c_custkey""")),

    // Left-anti join (NOT EXISTS).
    QueryDef(
      "q_anti_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
              ORDER BY c_custkey""")),

    // NOT IN with a NULLABLE probe key — SQL's three-valued anti join:
    // a NULL probe (negative-balance customers here) is never NOT IN a
    // non-empty set, so those rows drop silently, a semantics plain
    // left_anti gets WRONG. Catalyst plans this as the null-aware anti
    // join (BroadcastHashJoin ... NAAJ) rather than a nested loop over
    // the whole subquery — broadcast of the build side plus one
    // null-flag, so 100 TB probe sides stream map-only. PlanSpec pins
    // the NAAJ shape.
    QueryDef(
      "q_null_aware_anti",
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT c_custkey, c_name FROM customer
                 WHERE (CASE WHEN c_acctbal < 0 THEN NULL
                             ELSE c_custkey END) NOT IN
                   (SELECT o_custkey FROM orders
                    WHERE o_totalprice > 400000.0)
                 ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE (CASE WHEN c_acctbal < 0 THEN NULL
                          ELSE c_custkey END) NOT IN
                (SELECT o_custkey FROM orders
                 WHERE o_totalprice > 400000.0)
              ORDER BY c_custkey""")),

    // Left outer join + null-skipping count aggregate.
    QueryDef(
      "q_outer_join_agg",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("n_pending"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, count(o_orderkey) AS n_pending
              FROM customer LEFT JOIN orders
                ON c_custkey = o_custkey AND o_orderstatus = 'P'
              GROUP BY c_custkey ORDER BY c_custkey""")),

    // Full outer join with nulls on both sides.
    QueryDef(
      "q_full_outer",
      (s, dir) => {
        val n = t(s, dir, "nation").filter(col("n_nationkey") < 13)
        val sup = t(s, dir, "supplier").filter(col("s_nationkey") >= 7)
        n.join(sup, col("n_nationkey") === col("s_nationkey"), "full_outer")
          .select("n_nationkey", "n_name", "s_suppkey")
          .orderBy(asc_nulls_first("n_nationkey"), asc_nulls_first("s_suppkey"))
      },
      Some("""SELECT n_nationkey, n_name, s_suppkey
              FROM (SELECT * FROM nation WHERE n_nationkey < 13) n
              FULL OUTER JOIN (SELECT * FROM supplier WHERE s_nationkey >= 7) s
                ON n_nationkey = s_nationkey
              ORDER BY n_nationkey NULLS FIRST, s_suppkey NULLS FIRST""")),

    // Window: ranking + lag within partitions, top-3 per customer.
    QueryDef(
      "q_window_rank",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .select(
            col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(w).cast("long").as("rn"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"))
          .filter(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn, prev_price
              FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
                      lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS prev_price
                    FROM orders)
              WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    // Window: running sum over an ordered frame (exact decimal inside).
    QueryDef(
      "q_window_running",
      (s, dir) => {
        // (l_orderkey, l_linenumber) ties exist: adding l_extendedprice to
        // the frame order makes the running-sum multiset deterministic,
        // and sorting the output by running_rev resolves the remaining
        // tie-pair ordering identically in both engines.
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "lineitem")
          .select(
            col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            sum(dec(col("l_extendedprice"))).over(w).cast("double")
              .as("running_rev"))
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "running_rev")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) OVER (
                  PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev
              FROM lineitem
              ORDER BY l_suppkey, l_orderkey, l_linenumber, running_rev""")),

    // Global sort + limit + offset (top-k with pagination).
    QueryDef(
      "q_sort_limit",
      (s, dir) =>
        t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .offset(5)
          .limit(20),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 5""")),

    // Set operations: INTERSECT / EXCEPT (set semantics) + UNION ALL glue.
    QueryDef(
      "q_set_ops",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_nationkey").as("nkey"))
        val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nkey"))
        c.intersect(sup).withColumn("op", lit("both"))
          .unionAll(c.except(sup).withColumn("op", lit("cust_only")))
          .select("op", "nkey")
          .orderBy("op", "nkey")
      },
      Some("""SELECT 'both' AS op, nkey FROM
                (SELECT c_nationkey AS nkey FROM customer
                 INTERSECT SELECT s_nationkey FROM supplier)
              UNION ALL
              SELECT 'cust_only' AS op, nkey FROM
                (SELECT c_nationkey AS nkey FROM customer
                 EXCEPT SELECT s_nationkey FROM supplier)
              ORDER BY op, nkey""")),

    // String scalar functions.
    QueryDef(
      "q_string_fns",
      (s, dir) =>
        t(s, dir, "customer")
          .select(
            col("c_custkey"),
            upper(col("c_name")).as("uname"),
            substring(col("c_name"), 1, 8).as("prefix"),
            length(col("c_name")).cast("long").as("name_len"),
            concat_ws("-", col("c_mktsegment"), col("c_name")).as("tagged"),
            when(col("c_name").like("%1%"), lit(1)).otherwise(lit(0))
              .cast("long").as("has_one"))
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, upper(c_name) AS uname, substr(c_name, 1, 8) AS prefix,
                CAST(length(c_name) AS BIGINT) AS name_len,
                concat_ws('-', c_mktsegment, c_name) AS tagged,
                CAST(CASE WHEN c_name LIKE '%1%' THEN 1 ELSE 0 END AS BIGINT) AS has_one
              FROM customer ORDER BY c_custkey""")),

    // Date/time scalar functions.
    QueryDef(
      "q_date_fns",
      (s, dir) =>
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("y"),
            month(col("o_orderdate")).cast("long").as("m"),
            dayofmonth(col("o_orderdate")).cast("long").as("d"),
            date_trunc("month", col("o_orderdate")).as("month_start"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y,
                CAST(month(o_orderdate) AS BIGINT) AS m,
                CAST(day(o_orderdate) AS BIGINT) AS d,
                date_trunc('month', o_orderdate) AS month_start
              FROM orders ORDER BY o_orderkey""")),

    // Math scalar functions (rounded — libm last-ulp differences).
    QueryDef(
      "q_math_fns",
      (s, dir) =>
        Tables.parallel(s, t(s, dir, "lineitem"))
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
            round(log(col("l_extendedprice")), 6).as("ln_price"),
            round(pow(col("l_discount"), 2), 6).as("disc_sq"),
            abs(col("l_discount") - col("l_tax")).as("rate_gap"),
            greatest(col("l_tax"), col("l_discount")).as("max_rate"))
          .orderBy("l_orderkey", "l_linenumber", "sqrt_qty", "ln_price",
            "disc_sq", "rate_gap", "max_rate"),
      Some("""SELECT l_orderkey, l_linenumber,
                round(sqrt(l_quantity), 6) AS sqrt_qty,
                round(ln(l_extendedprice), 6) AS ln_price,
                round(power(l_discount, 2), 6) AS disc_sq,
                abs(l_discount - l_tax) AS rate_gap,
                greatest(l_tax, l_discount) AS max_rate
              FROM lineitem
              ORDER BY l_orderkey, l_linenumber, sqrt_qty, ln_price,
                disc_sq, rate_gap, max_rate""")),

    // CASE WHEN bucketing + aggregation.
    QueryDef(
      "q_case_agg",
      (s, dir) =>
        t(s, dir, "orders")
          .select(
            when(col("o_totalprice") < 50000.0, lit("low"))
              .when(col("o_totalprice") < 150000.0, lit("mid"))
              .otherwise(lit("high")).as("bucket"),
            col("o_totalprice"))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("n"),
            sum(dec(col("o_totalprice"))).cast("double").as("total"))
          .orderBy("bucket"),
      Some("""SELECT CASE WHEN o_totalprice < 50000.0 THEN 'low'
                          WHEN o_totalprice < 150000.0 THEN 'mid'
                          ELSE 'high' END AS bucket,
                count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
              FROM orders GROUP BY 1 ORDER BY bucket""")),

    // ROLLUP grouping sets.
    QueryDef(
      "q_rollup",
      (s, dir) =>
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("n"),
            sum(dec(col("l_quantity"))).cast("double").as("qty"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
              FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
              ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // CUBE grouping sets.
    QueryDef(
      "q_cube",
      (s, dir) =>
        t(s, dir, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
              FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
              ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // Explicit GROUPING SETS (beyond rollup/cube): the Spark 4 Dataset
    // groupingSets API — same Expand + single-shuffle plan shape as cube.
    QueryDef(
      "q_grouping_sets",
      (s, dir) =>
        t(s, dir, "orders")
          .groupingSets(
            Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
              Seq(col("o_orderpriority")), Seq.empty),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(dec(col("o_totalprice"))).cast("double").as("total"))
          .orderBy(asc_nulls_first("o_orderstatus"),
            asc_nulls_first("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
              FROM orders
              GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                      (o_orderpriority), ())
              ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // RANGE window frame (value-based, not row-based): running sum of
    // order totals within a sliding price band per customer. One hash
    // shuffle on the partition key + an ordered scan, like any window.
    QueryDef(
      "q_window_range",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice"))
          .rangeBetween(-1000L, 0L)
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .withColumn("band_total",
            sum(dec(col("o_totalprice"))).over(w).cast("double"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
                CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                  PARTITION BY o_custkey ORDER BY o_totalprice
                  RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS band_total
              FROM orders ORDER BY o_custkey, o_orderkey""")),

    // COUNT(DISTINCT) aggregate.
    QueryDef(
      "q_distinct_agg",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(
            countDistinct(col("o_custkey")).as("n_cust"),
            count(lit(1)).as("n_orders"))
          .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // HAVING (post-aggregation filter).
    QueryDef(
      "q_having",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_partkey")
          .agg(
            count(lit(1)).as("n"),
            sum(dec(col("l_quantity"))).cast("double").as("qty"))
          .filter(col("n") > 30)
          .orderBy("l_partkey"),
      Some("""SELECT l_partkey, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
              FROM lineitem GROUP BY l_partkey HAVING count(*) > 30
              ORDER BY l_partkey""")),

    // Scalar subquery in a predicate (same SQL text runs on both engines).
    QueryDef(
      "q_scalar_subquery",
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT c_custkey, c_name, c_acctbal FROM customer
                 WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) FROM customer)
                 ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
              WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) FROM customer)
              ORDER BY c_custkey""")),

    // Correlated EXISTS subquery.
    QueryDef(
      "q_exists_correlated",
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT p_partkey, p_name FROM part p
                 WHERE EXISTS (SELECT 1 FROM lineitem l
                               WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49)
                 ORDER BY p_partkey""")
      },
      Some("""SELECT p_partkey, p_name FROM part p
              WHERE EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49)
              ORDER BY p_partkey""")),

    // Window functions, second batch: dense_rank / ntile / first / cume_dist.
    QueryDef(
      "q_window_more",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .select(
            col("o_orderkey"), col("o_orderstatus"),
            dense_rank().over(w).cast("long").as("dr"),
            ntile(4).over(w).cast("long").as("nt"),
            first(col("o_orderkey")).over(w).as("fv"),
            cume_dist().over(w).as("cd"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus,
                CAST(dense_rank() OVER w AS BIGINT) AS dr,
                CAST(ntile(4) OVER w AS BIGINT) AS nt,
                first_value(o_orderkey) OVER w AS fv,
                CAST(cume_dist() OVER w AS DOUBLE) AS cd
              FROM orders
              WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
              ORDER BY o_orderkey""")),

    // Window functions, third batch: nth_value, last_value over the full
    // frame, lead with an explicit default — the remaining navigation
    // forms. Same single hash shuffle on the partition key as every
    // window query.
    QueryDef(
      "q_window_nth",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "orders")
          .select(
            col("o_orderkey"), col("o_orderstatus"),
            nth_value(col("o_orderkey"), 2).over(w).as("nv2"),
            last(col("o_orderkey")).over(wFull).as("lastv"),
            lead(col("o_orderkey"), 1, -1L).over(w).as("nxt"),
            // (rank-1)/(n-1): both engines divide the same two integers
            percent_rank().over(w).as("pr"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus,
                nth_value(o_orderkey, 2) OVER w AS nv2,
                last_value(o_orderkey) OVER
                  (PARTITION BY o_orderstatus
                   ORDER BY o_totalprice DESC, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                  AS lastv,
                lead(o_orderkey, 1, -1) OVER w AS nxt,
                CAST(percent_rank() OVER w AS DOUBLE) AS pr
              FROM orders
              WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
              ORDER BY o_orderkey""")),

    // Grouping diagnostics: grouping_id() / grouping() expose WHICH
    // rollup level produced each row — required to disambiguate real
    // NULL group values from subtotal rows in any rollup/cube consumer.
    QueryDef(
      "q_grouping_id",
      (s, dir) =>
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("n"),
            grouping_id().cast("long").as("gid"),
            grouping(col("l_returnflag")).cast("long").as("g_rf"),
            grouping(col("l_linestatus")).cast("long").as("g_ls"))
          .orderBy(col("gid"),
            asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
                CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
              FROM lineitem
              GROUP BY ROLLUP (l_returnflag, l_linestatus)
              ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // String scalar functions, second batch.
    QueryDef(
      "q_string_more",
      (s, dir) =>
        t(s, dir, "customer")
          .select(
            col("c_custkey"),
            lpad(col("c_name"), 25, "*").as("lp"),
            rpad(col("c_name"), 25, "-").as("rp"),
            translate(col("c_name"), "0", "O").as("tr"),
            expr("replace(c_name, 'Customer', 'C')").as("rep"),
            instr(col("c_name"), "1").cast("long").as("pos1"),
            reverse(col("c_name")).as("rev"),
            expr("left(c_name, 4)").as("l4"),
            expr("right(c_name, 3)").as("r3"))
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
                lpad(c_name, 25, '*') AS lp,
                rpad(c_name, 25, '-') AS rp,
                translate(c_name, '0', 'O') AS tr,
                replace(c_name, 'Customer', 'C') AS rep,
                CAST(instr(c_name, '1') AS BIGINT) AS pos1,
                reverse(c_name) AS rev,
                left(c_name, 4) AS l4,
                right(c_name, 3) AS r3
              FROM customer ORDER BY c_custkey""")),

    // Timestamp interval arithmetic.
    QueryDef(
      "q_date_arith",
      (s, dir) =>
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            (col("o_orderdate") + expr("INTERVAL 5 DAYS")).as("plus5"),
            (col("o_orderdate") - expr("INTERVAL 2 DAYS")).as("minus2"),
            datediff(col("o_orderdate").cast("date"),
              lit("1995-01-01").cast("date")).cast("long").as("days_since"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
                o_orderdate + INTERVAL 5 DAY AS plus5,
                o_orderdate - INTERVAL 2 DAY AS minus2,
                CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
              FROM orders ORDER BY o_orderkey""")),

    // Null-handling scalar functions over real outer-join nulls.
    QueryDef(
      "q_null_fns",
      (s, dir) => {
        val n = t(s, dir, "nation").filter(col("n_nationkey") < 13)
        val sup = t(s, dir, "supplier").filter(col("s_nationkey") >= 7)
        n.join(sup, col("n_nationkey") === col("s_nationkey"), "full_outer")
          .select(
            coalesce(col("n_name"), lit("NONE")).as("nm"),
            coalesce(col("s_suppkey"), lit(-1L)).cast("long").as("sk"),
            expr("nullif(coalesce(n_nationkey, s_nationkey), 7)")
              .cast("long").as("key_not7"))
          .orderBy("nm", "sk")
      },
      Some("""SELECT coalesce(n_name, 'NONE') AS nm,
                CAST(coalesce(s_suppkey, -1) AS BIGINT) AS sk,
                CAST(nullif(coalesce(n_nationkey, s_nationkey), 7) AS BIGINT) AS key_not7
              FROM (SELECT * FROM nation WHERE n_nationkey < 13) n
              FULL OUTER JOIN (SELECT * FROM supplier WHERE s_nationkey >= 7) s
                ON n_nationkey = s_nationkey
              ORDER BY nm, sk""")),

    // Semi-structured: JSON field extraction from the events payload.
    QueryDef(
      "q_events_json",
      (s, dir) =>
        t(s, dir, "events")
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .orderBy("event_id"),
      // real JSON parse on both sides (DuckDB's bundled json extension),
      // not a regex stand-in — escaped quotes or reordered keys would
      // make a regex diverge from Spark's get_json_object
      Some("""SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events ORDER BY event_id""")),

    // Semi-structured JSON through Spark 4's VARIANT type: parse once
    // into the binary variant encoding, then typed path extraction
    // (variant_get) — the engine-native semi-structured story (no
    // per-access string re-parsing, pushdown-friendly shredding at
    // scale). The oracle reads the same paths with DuckDB's JSON
    // operators, so the variant encode/decode round-trip is
    // correctness-gated.
    QueryDef(
      "q_variant_json",
      (s, dir) =>
        Tables.parallel(s, t(s, dir, "events"))
          .select(
            col("event_id"),
            expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k_long"),
            expr("variant_get(parse_json(props), '$.k', 'double')").as("k_double"),
            expr("variant_get(parse_json(props), '$.k', 'string')").as("k_str"),
            expr("variant_get(parse_json(props), '$.missing', 'bigint')").as("k_missing"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
                CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_double,
                json_extract_string(props, '$.k') AS k_str,
                CAST(json_extract_string(props, '$.missing') AS BIGINT) AS k_missing
              FROM events ORDER BY event_id""")),

    // Event-time bucketing aggregation (batch form of the streaming query).
    QueryDef(
      "q_events_hourly",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(
            date_trunc("hour", col("ts")).as("hour"),
            col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(dec(col("value"))).cast("double").as("total_value"))
          .orderBy("hour", "event_type"),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
              FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // MERGE / upsert semantics without a table format: base rows (keys
    // not divisible by 3) merged with an update batch (even keys, price
    // bumped by 100) — matched rows take the update's values, unmatched
    // updates are inserts, untouched base rows pass through, each row
    // labeled with its merge action. One full-outer hash join on the
    // key, coalesce picks sides — exactly the join MERGE INTO plans to
    // under every table format, so this is the scale shape; a real
    // deployment adds the format's commit protocol around it.
    QueryDef(
      "q_merge_upsert",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val base = orders.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey").as("b_key"),
            dec(col("o_totalprice")).as("b_price"))
        val updates = orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").as("u_key"),
            dec(col("o_totalprice") + 100.0).as("u_price"))
        base.join(updates, col("b_key") === col("u_key"), "full_outer")
          .select(
            coalesce(col("b_key"), col("u_key")).as("o_orderkey"),
            coalesce(col("u_price"), col("b_price")).cast("double").as("price"),
            when(col("b_key").isNull, "insert")
              .when(col("u_key").isNull, "keep")
              .otherwise("update").as("action"))
          .orderBy("o_orderkey")
      },
      Some("""WITH base AS (
                SELECT o_orderkey AS b_key,
                  CAST(o_totalprice AS DECIMAL(12,2)) AS b_price
                FROM orders WHERE o_orderkey % 3 != 0),
              upd AS (
                SELECT o_orderkey AS u_key,
                  CAST(o_totalprice + 100.0 AS DECIMAL(12,2)) AS u_price
                FROM orders WHERE o_orderkey % 2 = 0)
              SELECT coalesce(b_key, u_key) AS o_orderkey,
                CAST(coalesce(u_price, b_price) AS DOUBLE) AS price,
                CASE WHEN b_key IS NULL THEN 'insert'
                     WHEN u_key IS NULL THEN 'keep'
                     ELSE 'update' END AS action
              FROM base FULL OUTER JOIN upd ON b_key = u_key
              ORDER BY o_orderkey""")),

    // TPC-H Q3 (shipping-priority), adapted to this schema — the classic
    // analytics flagship: selective dim filter → two fact joins →
    // revenue aggregation → top-10. Submitted as SQL TEXT through
    // spark.sql over temp views, exercising the parser → Catalyst →
    // physical pipeline end-to-end (the reference's own query enters as
    // SQL text the same way). Revenue stays exact: DECIMAL(12,2) price ×
    // DECIMAL(3,2) discount complement — decimal×decimal is exact in
    // both engines, so no float-summation or rounding ambiguity anywhere.
    QueryDef(
      "q_tpch_q3",
      (s, dir) => {
        Seq("customer", "orders", "lineitem")
          .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
        s.sql("""
          SELECT l_orderkey,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                          CAST(1.0 - l_discount AS DECIMAL(3,2))) AS DOUBLE)
                   AS revenue,
                 o_orderdate
          FROM customer JOIN orders ON c_custkey = o_custkey
                        JOIN lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1998-01-01'
            AND l_shipdate > TIMESTAMP '1998-01-01'
          GROUP BY l_orderkey, o_orderdate
          ORDER BY revenue DESC, l_orderkey
          LIMIT 10""")
      },
      Some("""SELECT l_orderkey,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         CAST(1.0 - l_discount AS DECIMAL(3,2))) AS DOUBLE)
                  AS revenue,
                o_orderdate
              FROM customer JOIN orders ON c_custkey = o_custkey
                            JOIN lineitem ON l_orderkey = o_orderkey
              WHERE c_mktsegment = 'BUILDING'
                AND o_orderdate < TIMESTAMP '1998-01-01'
                AND l_shipdate > TIMESTAMP '1998-01-01'
              GROUP BY l_orderkey, o_orderdate
              ORDER BY revenue DESC, l_orderkey
              LIMIT 10""")),

    // LATERAL correlated subquery join (SQL:1999 / Spark 3.2+): per
    // nation, the top-2 customers by account balance, expressed as a
    // correlated LIMIT subquery in the FROM clause — the canonical
    // "top-N per key as the driver sees it" SQL surface. Catalyst
    // decorrelates the lateral subquery into a ranked window join, so
    // the physical plan is the same single hash shuffle + per-partition
    // rank-limit as the window formulation — no per-row re-execution at
    // any scale. Submitted as SQL TEXT (parser -> analyzer
    // decorrelation -> physical, end-to-end); DuckDB runs the identical
    // text.
    // TPC-H Q14 (promo-revenue share), adapted: the part x lineitem join
    // — the one corpus table no other query touched. The part dimension
    // broadcasts (never shuffles the fact side); revenue stays exact
    // decimal until the single closing share division (two
    // decimal-derived doubles, one multiply, one divide — same literal
    // op order in both engines).
    QueryDef(
      "q_tpch_q14",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= to_timestamp(lit("1999-03-01")) &&
            col("l_shipdate") < to_timestamp(lit("1999-04-01")))
        val p = broadcast(t(s, dir, "part").select("p_partkey", "p_type"))
        val rev = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
        l.join(p, col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO", rev)
              .otherwise(lit(0).cast("decimal(12,2)")))
              .cast("double").as("promo_revenue"),
            sum(rev).cast("double").as("total_revenue"))
          .select(col("promo_revenue"), col("total_revenue"),
            (lit(100.0) * col("promo_revenue") / col("total_revenue"))
              .as("promo_share"))
      },
      Some("""SELECT
                CAST(sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue,
                100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                  / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS promo_share
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= TIMESTAMP '1999-03-01'
                AND l_shipdate < TIMESTAMP '1999-04-01'""")),

    // Cohort retention matrix — the canonical product-analytics rollup:
    // users bucketed by first-activity day, then distinct returning
    // users at day offsets 0/1/3/7. Two hash aggregations and one join,
    // ALL keyed on user_id (the first-day aggregate, the join back, and
    // the activity distinct all share one partitioning — Catalyst reuses
    // the exchange), then a final small aggregate over (cohort, offset)
    // cells. At 100 TB: shuffle ∝ distinct (user, day) activity, never
    // the raw event count, because the day-dedup runs map-side first.
    QueryDef(
      "q_retention",
      (s, dir) => {
        val e = t(s, dir, "events")
          .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
          .distinct()
        val first = e.groupBy("user_id").agg(min(col("d")).as("cohort"))
        e.join(first, "user_id")
          .select(col("cohort"),
            datediff(col("d"), col("cohort")).cast("long").as("day_offset"))
          .filter(col("day_offset").isin(0L, 1L, 3L, 7L))
          .groupBy("cohort", "day_offset")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort", "day_offset")
      },
      Some("""WITH e AS (
                SELECT DISTINCT user_id,
                  CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
                FROM events),
              f AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY user_id),
              r AS (
                SELECT f.cohort,
                  date_diff('day', f.cohort, e.d) AS day_offset
                FROM e JOIN f USING (user_id)
                WHERE date_diff('day', f.cohort, e.d) IN (0, 1, 3, 7))
              SELECT cohort, CAST(day_offset AS BIGINT) AS day_offset,
                count(*) AS n_users
              FROM r GROUP BY cohort, day_offset
              ORDER BY cohort, day_offset""")),

    QueryDef(
      "q_lateral_join",
      (s, dir) => {
        Seq("nation", "customer")
          .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
        s.sql(LateralSql)
      },
      Some(LateralSql)),

    // Runtime bloom-filter join pruning — the 100 TB shuffle-join
    // optimization this engine must prove it can plan: when a selective
    // dimension filter can't broadcast, Spark's InjectRuntimeFilter
    // builds a bloom filter over the dimension's join keys at runtime
    // and pushes a might_contain() probe onto the FACT side, so fact
    // rows that can't join are dropped BEFORE the shuffle (at cluster
    // scale that's the difference between shuffling 100 TB and shuffling
    // the matching fraction). The local[32] corpus is far below the
    // production injection thresholds, so the knobs are lowered on a
    // CLONED session (config-residue-free, the graph_bfs_2hop
    // discipline) with broadcast disabled to force the shuffle-join
    // shape; PlanSpec asserts the might_contain probe actually lands on
    // the lineitem scan side. Blooms admit false positives only, so the
    // result equals the plain join — which is exactly what the oracle
    // checks.
    QueryDef(
      "q_runtime_filter",
      (s, dir) => {
        val s2 = s.newSession()
        s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        s2.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val li = t(s2, dir, "lineitem")
        val p = t(s2, dir, "part").filter(col("p_size") <= 5)
        li.join(p, col("l_partkey") === col("p_partkey"))
          .groupBy("p_size")
          .agg(count(lit(1)).as("n_items"),
            sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
          .orderBy("p_size")
      },
      Some("""SELECT p.p_size,
                count(*) AS n_items,
                CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                  AS sum_qty
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE p.p_size <= 5
              GROUP BY p.p_size
              ORDER BY p.p_size""")),

    // SQL pipe syntax (Spark 4 / the SQL:2023-era |> operator chain):
    // the same relational algebra written as a linear pipeline —
    // FROM |> WHERE |> JOIN |> WHERE |> AGGREGATE |> ORDER BY — which
    // Catalyst parses into the IDENTICAL logical plan as the nested
    // form, so every optimizer rule (pushdown, pruning, join selection)
    // applies unchanged. The oracle is the equivalent classic SQL: the
    // engine contract is that surface syntax must not change semantics.
    QueryDef(
      "q_pipe_syntax",
      (s, dir) => {
        Seq("lineitem", "part")
          .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
        s.sql("""
          FROM lineitem
          |> WHERE l_quantity > 10
          |> JOIN part ON l_partkey = p_partkey
          |> WHERE p_size <= 10
          |> AGGREGATE count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 AS revenue
             GROUP BY p_brand
          |> ORDER BY p_brand""")
      },
      Some("""SELECT p.p_brand, count(*) AS n_items,
                CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                  AS revenue
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE l.l_quantity > 10 AND p.p_size <= 10
              GROUP BY p.p_brand
              ORDER BY p.p_brand""")),

    // Exchange reuse — the "shuffle once, read twice" property that
    // keeps diamond-shaped plans affordable at 100 TB: both branches of
    // the outlier screen (customers with unusually many / few orders)
    // consume the SAME per-customer count aggregate, and because the two
    // subtrees canonicalize identically Spark materializes ONE hash
    // exchange and wires the second branch to a ReusedExchange /
    // reused shuffle stage (PlanSpec-asserted after execution, where
    // AQE's stage reuse is visible). Written naively this query would
    // scan + shuffle the fact table twice.
    QueryDef(
      "q_exchange_reuse",
      (s, dir) => {
        val cnt = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"))
        cnt.filter(col("n_orders") >= 15)
          .withColumn("side", lit("heavy"))
          .union(cnt.filter(col("n_orders") <= 2)
            .withColumn("side", lit("light")))
          .orderBy("o_custkey")
      },
      Some("""WITH c AS (
                SELECT o_custkey, count(*) AS n_orders
                FROM orders GROUP BY o_custkey)
              SELECT o_custkey, n_orders, 'heavy' AS side
              FROM c WHERE n_orders >= 15
              UNION ALL
              SELECT o_custkey, n_orders, 'light' AS side
              FROM c WHERE n_orders <= 2
              ORDER BY o_custkey""")),

    // Scale-safe GLOBAL row numbering — the pattern that replaces the
    // classic scale killer `row_number() OVER (ORDER BY …)`, whose
    // empty PARTITION BY funnels the entire relation through ONE task.
    // Here the sort stays a parallel range partition and the numbering
    // is RDD zipWithIndex: one extra count-per-partition job computes
    // partition offsets, then each partition numbers its rows locally —
    // 2 passes, zero funnels, deterministic because the sort key
    // (o_orderkey) is unique. This is the justified imperative escape
    // hatch (per-partition offset arithmetic has no Catalyst form); the
    // oracle is the window form the pattern replaces.
    QueryDef(
      "q_global_rownum",
      (s, dir) => {
        import s.implicits._
        val sorted = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
        sorted.rdd.zipWithIndex()
          .map { case (r, i) =>
            (i + 1L, r.getLong(0), r.getLong(1), r.getDouble(2))
          }
          .toDF("rn", "o_orderkey", "o_custkey", "o_totalprice")
      },
      Some("""SELECT row_number() OVER (ORDER BY o_orderkey) AS rn,
                o_orderkey, o_custkey, o_totalprice
              FROM orders ORDER BY rn""")),

    // Spark 4 collation-aware grouping — the SQL:2023-style collation
    // surface (CREATE TABLE ... COLLATE / collate(expr, 'UTF8_LCASE'))
    // that replaces the lower()-wrapping idiom for case-insensitive
    // semantics: grouping happens on a string column whose COLLATION is
    // case-insensitive, so equality, hashing, and the aggregate all
    // honor it engine-side (and unlike lower(), a collated column keeps
    // its original bytes for display and range predicates). Case
    // diversity is synthesized deterministically (even event_ids
    // upper-case the type); the output representative is min() under
    // BINARY collation — deterministic — never the grouping value
    // itself, which an engine may surface as any class member. Oracle:
    // the lower()-grouping form, which UTF8_LCASE coincides with on
    // ASCII. One hash aggregate; collation support is metadata, not a
    // plan change, so the shape is q1_agg's.
    QueryDef(
      "q_collation",
      (s, dir) => {
        val kRaw = when(col("event_id") % 2 === 0, upper(col("event_type")))
          .otherwise(col("event_type")).as("k_raw")
        t(s, dir, "events").select(kRaw)
          .groupBy(expr("collate(k_raw, 'UTF8_LCASE')").as("kc"))
          .agg(min(col("k_raw")).as("k"), count(lit(1)).as("n"),
            count_distinct(col("k_raw")).as("n_variants"))
          .select(col("k"), col("n"), col("n_variants"))
          .orderBy("k")
      },
      Some("""WITH e AS (
                SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                            ELSE event_type END AS k_raw
                FROM events)
              SELECT min(k_raw) AS k, count(*) AS n,
                CAST(count(DISTINCT k_raw) AS BIGINT) AS n_variants
              FROM e GROUP BY lower(k_raw) ORDER BY k"""))
  )

  private lazy val LateralSql =
    """SELECT n_name, top.c_name, top.bal
       FROM nation,
         LATERAL (SELECT c_name, CAST(c_acctbal AS DOUBLE) AS bal
                  FROM customer
                  WHERE c_nationkey = n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey
                  LIMIT 2) AS top
       ORDER BY n_name, bal DESC, c_name"""
}
