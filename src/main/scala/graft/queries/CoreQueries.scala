package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational surface: scans, projections/filters (SURVEY.md §2 B),
  * joins incl. broadcast/semi/anti (§2 C), unions/distinct (§2 G), hash
  * aggregation (§2 E), and window functions — exercised TPC-H-style on the
  * driver's tables.
  *
  * Scale notes per query are inline; the common discipline: filters and
  * projections sit directly on the parquet scan (pushdown), dimension sides
  * of joins are broadcast, aggregates are partial-aggregated map-side by
  * Catalyst.
  */
object CoreQueries {

  private val ts = (s: String) => lit(java.sql.Timestamp.valueOf(s))

  /** q14/q15's exact distinct order count per return flag, aggregated on
    * its own. Beside the percentile aggregates, the distinct is planned as
    * an Expand whose first aggregation keys on every (flag, orderkey), and
    * merging the percentile buffers there took minutes per task on a 10×
    * copy of sf0.1 (0.15 s at 1×).
    */
  private def exactOrders(li: org.apache.spark.sql.DataFrame) =
    li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"))

  val defs: Seq[QueryDef] = Seq(

    // ---- E: grouped aggregation (TPC-H Q1 shape) -------------------------
    QueryDef.sql("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= ts("2001-09-01 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- B: filter + projection pushed into the parquet scan ------------
    QueryDef.sql("q02_filter_project",
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-06-01 00:00:00' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") < ts("1995-06-01 00:00:00") && col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ---- C: 3-way join + agg + top-k (TPC-H Q3 shape) --------------------
    // customer is the small side → broadcast; lineitem⋈orders shuffles on
    // the (high-cardinality) order key.
    QueryDef.sql("q03_top_revenue",
      """SELECT o.o_orderkey,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY o.o_orderkey, o.o_orderdate
        |ORDER BY revenue DESC, o.o_orderkey
        |LIMIT 10""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    // ---- C: left-semi join (EXISTS) --------------------------------------
    QueryDef.sql("q04_semi_join",
      """SELECT o.o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d).where(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    // ---- C: 6-way join through the dimension chain (TPC-H Q5 shape) ------
    // region/nation/supplier/customer all broadcast; only fact tables shuffle.
    QueryDef.sql("q05_revenue_by_nation",
      """SELECT n.n_name, r.r_name,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |GROUP BY n.n_name, r.r_name
        |ORDER BY n.n_name, r.r_name""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d); val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d); val su = Tables.supplier(s, d)
      val n = Tables.nation(s, d); val r = Tables.region(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(su),
          col("s_suppkey") === col("l_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(n), col("n_nationkey") === col("s_nationkey"))
        .join(broadcast(r), col("r_regionkey") === col("n_regionkey"))
        .groupBy(col("n_name"), col("r_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("n_name"), col("r_name"))
    },

    // ---- E: scalar aggregate over a pushed-down range filter (Q6 shape) --
    QueryDef.sql("q06_revenue_filter",
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 25""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 25)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
    },

    // ---- C: left-anti join (NOT EXISTS) ----------------------------------
    QueryDef.sql("q07_anti_join",
      """SELECT c.c_custkey, c.c_name
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // ---- G: union ---------------------------------------------------------
    QueryDef.sql("q08_union",
      """SELECT o_orderkey AS k, o_totalprice AS v, 'HI' AS src
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey AS k, o_totalprice AS v, 'LO' AS src
        |FROM orders WHERE o_orderpriority = '5-LOW'
        |ORDER BY src, k""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val hi = o.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"), lit("HI").as("src"))
      val lo = o.where(col("o_orderpriority") === "5-LOW")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"), lit("LO").as("src"))
      hi.unionByName(lo).orderBy(col("src"), col("k"))
    },

    // ---- E: distinct ------------------------------------------------------
    QueryDef.sql("q09_distinct",
      """SELECT DISTINCT c_mktsegment AS mktsegment FROM customer
        |ORDER BY mktsegment""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_mktsegment").as("mktsegment"))
        .distinct().orderBy(col("mktsegment"))
    },

    // ---- window: top-k per group ------------------------------------------
    QueryDef.sql("q10_window_topk",
      """SELECT c_mktsegment, o_orderkey, o_totalprice FROM (
        |  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
        |    row_number() OVER (PARTITION BY c.c_mktsegment
        |                       ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey) t
        |WHERE rn <= 3
        |ORDER BY c_mktsegment, o_totalprice DESC, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_mktsegment"), col("o_totalprice").desc, col("o_orderkey"))
    },

    // ---- window: running aggregate -----------------------------------------
    QueryDef.sql("q11_window_running",
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .withColumn("running_spend", round(sum(col("o_totalprice")).over(w), 2))
        .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // ---- E: group + having --------------------------------------------------
    QueryDef.sql("q12_group_having",
      """SELECT c_mktsegment, round(avg(c_acctbal), 2) AS avg_bal, count(*) AS n
        |FROM customer
        |GROUP BY c_mktsegment
        |HAVING count(*) > 20
        |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(round(avg(col("c_acctbal")), 2).as("avg_bal"), count(lit(1)).as("n"))
        .where(col("n") > 20)
        .orderBy(col("c_mktsegment"))
    },

    // ---- E: exact percentiles (interpolated, = DuckDB quantile_cont) --------
    QueryDef.sql("q13_percentiles",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
        .orderBy(col("l_returnflag"))
    },

    // ---- C: correlated EXISTS subquery -------------------------------------
    QueryDef.sql("q18_correlated_exists",
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |              AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).as("c")
        .join(Tables.orders(s, d).where(col("o_totalprice") > 400000).as("o"),
          col("o.o_custkey") === col("c.c_custkey"), "left_semi")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey"))
    },

    // ---- E: ROLLUP grouping sets with subtotal disambiguation --------------
    // The total sums exact integer cents: a double sum's last bits follow
    // the summation order, and on a 10x copy of sf0.1 round(sum, 2) flipped
    // a cent between runs.
    QueryDef.sql("q19_rollup",
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
        |    AS total,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_p,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_s
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY g_p, g_s, priority, status""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double")
            / 100).as("total"),
          grouping(col("o_orderpriority")).cast("int").as("g_p"),
          grouping(col("o_orderstatus")).cast("int").as("g_s"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("total"), col("g_p"), col("g_s"))
        .orderBy(col("g_p"), col("g_s"), col("priority"), col("status"))
    },

    // ---- G: intersect / except ---------------------------------------------
    QueryDef.sql("q17_set_ops",
      """WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |b AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
        |      WHERE o_orderstatus = 'O')
        |SELECT 'except' AS op, count(*) AS n
        |FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |UNION ALL
        |SELECT 'intersect' AS op, count(*) AS n
        |FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |ORDER BY op""".stripMargin) { (s, d) =>
      val a = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val b = Tables.orders(s, d).where(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("c_custkey")).distinct()
      // one lazy DAG instead of two EAGER count() jobs (r18): EXCEPT and
      // INTERSECT over the same pair share the distinct-a ⟕ distinct-b
      // probe, so both counts come from one aggregate over one join —
      // half the scans, no driver-side actions in the query path. The
      // null-safe join condition mirrors set-op equality (NULL <=> NULL),
      // and both ops count DISTINCT left rows exactly as EXCEPT/INTERSECT
      // do; `stack` unpivots the one aggregate row into the same
      // (op, n) rows the eager form produced.
      a.distinct()
        .join(b.withColumn("__inb", lit(1)),
          a("c_custkey") <=> b("c_custkey"), "left")
        .agg(sum(when(col("__inb").isNull, 1L).otherwise(0L)).as("__ex"),
          sum(when(col("__inb").isNotNull, 1L).otherwise(0L)).as("__in"))
        .selectExpr(
          "stack(2, 'except', coalesce(__ex, 0L), " +
            "'intersect', coalesce(__in, 0L)) AS (op, n)")
        .orderBy(col("op"))
    },

    // ---- custom physical operator: grouped top-k via bounded heaps --------
    // (graft.plans.GroupedTopK - LogicalPlan + SparkStrategy + ExecNode; the
    // total order struct(totalprice, orderkey) makes the heap result equal
    // the window-rank oracle exactly)
    QueryDef.sql("q16_grouped_topk",
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_totalprice, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price
        |FROM r WHERE rn <= 3
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      graft.plans.GroupedTopK.perGroup(
          Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
          Seq(col("o_custkey")),
          struct(col("o_totalprice"), col("o_orderkey")), k = 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // ---- E: sketch aggregates, the 100TB substitutes for exact distinct /
    //      percentile. HLL++/KLL values are engine-specific, so the oracle
    //      is a CONTRACT (the q15 pattern): exact aggregates hash-compared
    //      plus literal TRUE per bound, failing iff a sketch leaves its
    //      contract. q14 pins the DEFAULT-rsd HLL (3-sigma of rsd=0.05)
    //      and the multi-quantile approx_percentile battery (monotone
    //      p25<=p50<=p75, each inside a +-5-percentile exact window);
    //      q15 pins the tuned rsd=0.02 HLL and the single-quantile p50 ----
    QueryDef.sql("q14_approx_agg",
      """SELECT l_returnflag, count(*) AS n,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  true AS hll_default_ok, true AS p_monotone,
        |  true AS p25_ok, true AS p75_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          approx_count_distinct(col("l_orderkey")).as("hll_d"),
          expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)")
            .as("ap"),
          expr("percentile(l_extendedprice, array(0.20, 0.30, 0.70, 0.80))")
            .as("ep"))
        .join(exactOrders(li), "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("exact_orders"),
          (abs(col("hll_d") - col("exact_orders"))
            / col("exact_orders") <= 0.15).as("hll_default_ok"),
          (col("ap")(0) <= col("ap")(1) && col("ap")(1) <= col("ap")(2))
            .as("p_monotone"),
          col("ap")(0).between(col("ep")(0), col("ep")(1)).as("p25_ok"),
          col("ap")(2).between(col("ep")(2), col("ep")(3)).as("p75_ok"))
        .orderBy(col("l_returnflag"))
    },

    // ---- sketch CONTRACT oracle: the HLL++/KLL values are engine-specific
    // (q14 stays rows-only), but their error bounds are not. The oracle
    // emits the exact aggregates plus literal TRUE for each bound; the hash
    // gate then fails iff a sketch violates its contract (HLL within 5% of
    // exact at rsd=0.02; approx p50 between exact p45 and p55).
    QueryDef.sql("q15_approx_bounds",
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  true AS hll_ok, true AS kll_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("hll"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50a"),
          expr("percentile(l_extendedprice, 0.45)").as("p45"),
          expr("percentile(l_extendedprice, 0.55)").as("p55"))
        .join(exactOrders(li), "l_returnflag")
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("hll") - col("exact_orders"))
            / col("exact_orders") <= 0.05).as("hll_ok"),
          col("p50a").between(col("p45"), col("p55")).as("kll_ok"))
        .orderBy(col("l_returnflag"))
    },

    // ---- one-pass dataset profile (the first query anyone runs on an
    //      unfamiliar table). Determinism-first metric set: counts exact,
    //      min/max summation-free — replays bit-for-bit ------------------
    QueryDef.sql("q54_profile",
      """SELECT 'l_discount' AS col_name, count(l_discount) AS n,
        |  count(*) - count(l_discount) AS n_null,
        |  round(CAST(min(l_discount) AS DOUBLE), 6) AS min_v,
        |  round(CAST(max(l_discount) AS DOUBLE), 6) AS max_v
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice', count(l_extendedprice),
        |  count(*) - count(l_extendedprice),
        |  round(CAST(min(l_extendedprice) AS DOUBLE), 6),
        |  round(CAST(max(l_extendedprice) AS DOUBLE), 6)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', count(l_quantity), count(*) - count(l_quantity),
        |  round(CAST(min(l_quantity) AS DOUBLE), 6),
        |  round(CAST(max(l_quantity) AS DOUBLE), 6)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_tax', count(l_tax), count(*) - count(l_tax),
        |  round(CAST(min(l_tax) AS DOUBLE), 6),
        |  round(CAST(max(l_tax) AS DOUBLE), 6)
        |FROM lineitem
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      graft.operators.Profile.numeric(Tables.lineitem(s, d),
          Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
        .orderBy(col("col_name"))
    }
  )
}
