package graft.queries

import Qf.DumpSortOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Declared OLAP query inventory (SURVEY.md §2.B/§2.C/§2.D): the host-engine
  * capability surface the reference inherits from DuckDB, re-declared as
  * idiomatic Spark DataFrame plans and conformance-tested against a DuckDB
  * oracle over the same parquet tables.
  *
  * Conventions (driver hash-compares after sorting rows and columns):
  *  - every computed column is aliased identically in Spark and oracle SQL;
  *  - floating aggregates are `Qf.dround(..., n)` on both sides so summation
  *    order can never flip a bit;
  *  - integer-typed results are pinned to BIGINT/INT on both sides (DuckDB
  *    `sum(BIGINT)` is HUGEINT, `length()` is BIGINT, Spark `floor` is LONG…);
  *  - every query ends in a total deterministic ORDER BY;
  *  - LIMIT/top-k sorts use rounded keys + unique tiebreakers so the selected
  *    row set is engine-independent.
  */
object OlapQueries {
  import Registry.table

  private def q(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): NamedQuery =
    NamedQuery(name, run, Option(oracle).filter(_.nonEmpty))

  /** The file-format round-trips' output directories as their oracle SQL
    * names them; [[roundtripDir]] keys each by the sf dir.
    */
  private val RoundtripDirs = Seq("/tmp/graft_conformance/q57_csv", "/tmp/graft_conformance/q58_json")

  /** A round-trip's output directory for the tables in `dir`, keyed by
    * the sf dir as q62's Derby database is, so runs at different scales
    * never share files. Not a `Registry.scratchDir`: the DuckDB oracle
    * reads it after the run's JVM has exited.
    */
  def roundtripDir(base: String, dir: String): String = s"${base}_${dir.hashCode.toHexString}"

  /** `oracle` with each round-trip directory replaced by the one a run
    * over the tables in `dir` writes.
    */
  def oracleFor(oracle: String, dir: String): String =
    RoundtripDirs.foldLeft(oracle)((sql, base) => sql.replace(base + "/", roundtripDir(base, dir) + "/"))

  val all: Seq[NamedQuery] = Seq(
    // ---------------------------------------------------------------- scans + aggregation
    q("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Qf.dround(sum(col("l_quantity")), 2).as("sum_qty"),
          Qf.dround(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          Qf.dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          Qf.dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          Qf.dround(avg(col("l_quantity")), 4).as("avg_qty"),
          Qf.dround(avg(col("l_extendedprice")), 4).as("avg_price"),
          Qf.dround(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        // q01 stays on the global orderBy ON PURPOSE: it is the suite's
      // fixed calm anchor (Bench normalizes committed sweeps by
      // q01Calm = 0.21, measured against THIS plan) — changing its
      // plan would silently re-base every cross-round comparison.
      .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    q("q02_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_discount > 0.06 AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp")
          && col("l_discount") > 0.06 && col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    },

    q("q06_forecast_revenue",
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp")
          && col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(Qf.dround(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
    },

    q("q08_distinct_agg",
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .dumpSorted("l_returnflag")
    },

    q("q09_agg_filter",
      """SELECT o_orderstatus,
        |  count(*) AS n_orders,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        |  round(sum(o_totalprice) FILTER (WHERE year(o_orderdate) = 1996), 2) AS rev_1996,
        |  round(avg(o_totalprice) FILTER (WHERE o_totalprice > 1000), 2) AS avg_big
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          count(when(col("o_orderpriority") === "1-URGENT", 1)).as("n_urgent"),
          Qf.dround(sum(when(year(col("o_orderdate")) === 1996, col("o_totalprice"))), 2).as("rev_1996"),
          Qf.dround(avg(when(col("o_totalprice") > 1000, col("o_totalprice"))), 2).as("avg_big"))
        .dumpSorted("o_orderstatus")
    },

    // ---------------------------------------------------------------- joins
    q("q03_shipping_priority",
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01' AND l_shipdate > TIMESTAMP '1999-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = table(s, dir, "orders").filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      val l = table(s, dir, "lineitem").filter(col("l_shipdate") > lit("1999-01-01").cast("timestamp"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(Qf.dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    q("q04_order_priority",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
      val l = table(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey") && l("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .dumpSorted("o_orderpriority")
    },

    q("q05_local_supplier_volume",
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      val l = table(s, dir, "lineitem")
      val su = table(s, dir, "supplier")
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region").filter(col("r_name") === "ASIA")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(Qf.dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .dumpSortedBy(col("revenue").desc, col("n_name"))
    },

    q("q07_broadcast_dims",
      """SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, dir) =>
      table(s, dir, "customer")
        .join(broadcast(table(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), Qf.dround(sum(col("c_acctbal")), 2).as("sum_acctbal"))
        .dumpSorted("r_name")
    },

    q("q10_returned_items",
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, dir) =>
      table(s, dir, "customer")
        .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(table(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(table(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(Qf.dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    q("q37_left_join_counts",
      """SELECT c_custkey, c_name, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      table(s, dir, "customer")
        .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          Qf.dround(coalesce(sum(col("o_totalprice")), lit(0)), 2).as("total_spent"))
        .orderBy("c_custkey")
    },

    q("q38_anti_join",
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey AND l_suppkey = 1)
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      table(s, dir, "part")
        .join(table(s, dir, "lineitem").filter(col("l_suppkey") === 1),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    },

    q("q39_full_outer",
      """SELECT coalesce(a.nk, b.nk) AS nk,
        |  coalesce(a.n_cust, 0) AS n_cust, coalesce(b.n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1) a
        |FULL OUTER JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1) b
        |ON a.nk = b.nk ORDER BY nk""".stripMargin) { (s, dir) =>
      val a = table(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      val b = table(s, dir, "supplier").groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_supp"))
      a.join(b, Seq("nk"), "full_outer")
        .select(col("nk"), coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .dumpSorted("nk")
    },

    q("q36_range_join",
      """SELECT p_brand, count(*) AS n_in_band,
        |  round(sum(l_extendedprice), 2) AS band_revenue
        |FROM part JOIN lineitem ON l_partkey = p_partkey
        |  AND l_extendedprice BETWEEN p_retailprice * 0.5 AND p_retailprice * 20.0
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
      val p = table(s, dir, "part")
      val l = table(s, dir, "lineitem")
      broadcast(p).join(l, col("l_partkey") === col("p_partkey")
          && col("l_extendedprice").between(col("p_retailprice") * 0.5, col("p_retailprice") * 20.0))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_in_band"), Qf.dround(sum(col("l_extendedprice")), 2).as("band_revenue"))
        .dumpSorted("p_brand")
    },

    // ---------------------------------------------------------------- grouping sets / rollup / cube
    q("q11_rollup",
      """SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (s, dir) =>
      table(s, dir, "customer")
        .join(broadcast(table(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), Qf.dround(sum(col("c_acctbal")), 2).as("acctbal"))
        .dumpSortedBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    },

    q("q12_cube",
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(Qf.dround(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .dumpSortedBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    q("q13_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, dir) =>
      table(s, dir, "orders").createOrReplaceTempView("orders_gs")
      // sign/floor formula = DuckDB round semantics (see Qf.dround)
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          |  cast(sign(sum(o_totalprice)) * floor(abs(sum(o_totalprice)) * 100 + 0.5) / 100 AS DOUBLE) AS total
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    },

    // ---------------------------------------------------------------- window functions
    q("q14_window_rownum",
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      table(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn").cast("int").as("rn"))
        .orderBy("o_custkey", "rn")
    },

    q("q15_window_lag_lead",
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey) OVER w AS prev_order,
        |  lead(o_orderkey) OVER w AS next_order,
        |  CAST(date_diff('day',
        |    lag(o_orderdate) OVER w, o_orderdate) AS INTEGER) AS days_since_prev
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"),
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)).as("days_since_prev"))
        .orderBy("o_custkey", "o_orderkey")
    },

    q("q16_window_running",
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
        |  round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS moving_avg3
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          Qf.dround(sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_total"),
          Qf.dround(avg(col("o_totalprice")).over(w.rowsBetween(-2, Window.currentRow)), 2)
            .as("moving_avg3"))
        .orderBy("o_custkey", "o_orderkey")
    },

    q("q17_window_rank",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity DESC, l_orderkey, l_linenumber)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber"))
      table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          rank().over(w).cast("int").as("rnk"),
          dense_rank().over(w).cast("int").as("drnk"),
          ntile(4).over(w).cast("int").as("quartile"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // q15's SCALE face: lag/lead over the 3-value order-status key —
    // the shift form of the window skew trap. partitionedShift runs
    // lag/lead per (slice, group) at full width; a row within k of a
    // slice edge completes its shift from the neighbor slices'
    // broadcast head/tail carries (k=2 here so boundary shifts cross
    // one AND two rows). Order is total (orderdate, orderkey), so the
    // built-in's oracle matches row-for-row.
    q("q15b_lag_lead_dist",
      """SELECT o_orderkey, o_orderstatus,
        |  lag(o_orderkey, 2) OVER w AS prev2_order,
        |  lead(o_orderkey, 2) OVER w AS next2_order,
        |  CAST(date_diff('day',
        |    lag(o_orderdate, 2) OVER w, o_orderdate) AS INTEGER) AS days_since_prev2
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      graft.operators.WindowRankOps.partitionedShift(
        table(s, dir, "orders"), Seq("o_orderstatus"),
        Seq(("o_orderdate", true), ("o_orderkey", true)),
        Seq("o_orderkey", "o_orderdate"), k = 2)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("lag2.o_orderkey").as("prev2_order"),
          col("lead2.o_orderkey").as("next2_order"),
          datediff(col("o_orderdate"), col("lag2.o_orderdate"))
            .as("days_since_prev2"))
        .orderBy("o_orderkey")
    },

    // q16's SCALE face for a LOW-cardinality partition key: a running
    // total per order-STATUS (3 values) clusters by status — the
    // running-aggregate skew trap. partitionedRunning computes the
    // same running + moving sums at full shuffle width (range slices,
    // per-slice local windows, driver-folded offsets + boundary tail
    // values so frames straddling slices stay exact). The measure is
    // integer CENTS so the distributed re-association of additions is
    // bit-identical to the sequential built-in (float folds would
    // drift ulps across slice boundaries — enforced by the operator).
    q("q16b_running_dist",
      """WITH c AS (SELECT o_orderkey, o_orderstatus, o_orderdate,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, o_orderstatus,
        |  CAST(sum(cents) OVER (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents,
        |  CAST(sum(cents) OVER (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving_cents3
        |FROM c ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      graft.operators.WindowRankOps.partitionedRunning(c,
        Seq("o_orderstatus"), Seq(("o_orderdate", true), ("o_orderkey", true)),
        "cents", movingK = 3)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("running_total").as("running_cents"),
          col("moving_sum3").as("moving_cents3"))
        .orderBy("o_orderkey")
    },

    // q17's SCALE path: rank/dense_rank/ntile over a 3-value partition
    // key clusters by that key — parallelism 3 at ANY cluster size (one
    // task sorts ~33 B rows at 100 TB). partitionedRanks computes the
    // same values at full shuffle width: range-partition + per-slice
    // local ranks + driver-merged boundary offsets (the histogram-
    // percentile playbook applied to ranking). Same oracle as q17 —
    // the hash match IS the parity proof.
    q("q17b_window_rank_dist",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity DESC, l_orderkey, l_linenumber)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      graft.operators.WindowRankOps.partitionedRanks(
        table(s, dir, "lineitem"), Seq("l_returnflag"),
        Seq(("l_quantity", false), ("l_orderkey", true), ("l_linenumber", true)),
        ntileN = 4, ntileCol = "quartile")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("rnk").cast("int").as("rnk"),
          col("drnk").cast("int").as("drnk"),
          col("quartile").cast("int").as("quartile"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // q46's SCALE path, closing the distributed-window family (q17b
    // ranking, q16b running aggregates): percent_rank/cume_dist/ntile
    // over the 3-value status key at full shuffle width.
    // partitionedDistribution folds exact integer numerators (forward
    // rank for percent_rank; a reverse-direction rank gives the
    // last-peer position for cume_dist — peers are the same set both
    // ways) and divides once, so the doubles are bit-identical to the
    // built-in window's. Same oracle as q46 — the hash match IS the
    // parity proof.
    q("q46b_distribution_dist",
      """SELECT o_orderkey,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      graft.operators.WindowRankOps.partitionedDistribution(
        table(s, dir, "orders"), Seq("o_orderstatus"),
        Seq(("o_totalprice", true), ("o_orderkey", true)),
        ntileN = 4, ntileCol = "quartile")
        .select(col("o_orderkey"),
          col("quartile").cast("int").as("quartile"),
          Qf.dround(col("pct_rank"), 6).as("pct_rank"),
          Qf.dround(col("cume_dist"), 6).as("cume"))
        .orderBy("o_orderkey")
    },

    q("q18_topk",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // ---------------------------------------------------------------- set operations
    q("q19_union_counts",
      """SELECT nk, count(*) AS n FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nk FROM supplier)
        |GROUP BY nk ORDER BY nk""".stripMargin) { (s, dir) =>
      table(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .unionByName(table(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .groupBy("nk").agg(count(lit(1)).as("n"))
        .dumpSorted("nk")
    },

    q("q20_intersect",
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin) { (s, dir) =>
      table(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .intersect(table(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .dumpSorted("nk")
    },

    q("q21_except",
      """SELECT n_nationkey AS nk FROM nation
        |EXCEPT
        |SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin) { (s, dir) =>
      table(s, dir, "nation").select(col("n_nationkey").as("nk"))
        .except(table(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .dumpSorted("nk")
    },

    // ---------------------------------------------------------------- scalar function batteries
    q("q22_string_battery",
      """SELECT p_partkey,
        |  upper(p_name) AS uname,
        |  lower(p_brand) AS lbrand,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  substring(p_name, 1, 5) AS name5,
        |  replace(p_name, ' ', '_') AS name_us,
        |  concat(p_brand, '/', p_type) AS brand_type,
        |  trim(concat(' ', p_name, ' ')) AS trimmed,
        |  lpad(p_brand, 12, '*') AS padded,
        |  regexp_replace(p_name, '[aeiou]', '.', 'g') AS devoweled,
        |  CAST(strpos(p_name, 'e') AS INTEGER) AS first_e,
        |  reverse(p_brand) AS rbrand,
        |  CAST(starts_with(p_name, 'small') AS BOOLEAN) AS is_small
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      table(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        lower(col("p_brand")).as("lbrand"),
        length(col("p_name")).cast("int").as("name_len"),
        substring(col("p_name"), 1, 5).as("name5"),
        regexp_replace(col("p_name"), lit(" "), lit("_")).as("name_us"),
        concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
        trim(concat(lit(" "), col("p_name"), lit(" "))).as("trimmed"),
        lpad(col("p_brand"), 12, "*").as("padded"),
        regexp_replace(col("p_name"), lit("[aeiou]"), lit(".")).as("devoweled"),
        instr(col("p_name"), "e").cast("int").as("first_e"),
        reverse(col("p_brand")).as("rbrand"),
        col("p_name").startsWith("small").as("is_small"))
        .orderBy("p_partkey")
    },

    q("q23_date_battery",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
        |  o_orderdate + INTERVAL 1 MONTH AS next_month,
        |  CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER) AS days_since_epoch95
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      table(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("int").as("yr"),
        month(col("o_orderdate")).cast("int").as("mo"),
        dayofmonth(col("o_orderdate")).cast("int").as("dom"),
        quarter(col("o_orderdate")).cast("int").as("qtr"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        last_day(col("o_orderdate").cast("date")).as("month_end"),
        (col("o_orderdate") + expr("INTERVAL 1 MONTH")).as("next_month"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since_epoch95"))
        .orderBy("o_orderkey")
    },

    q("q24_math_battery",
      """SELECT l_orderkey, l_linenumber,
        |  round(abs(l_extendedprice - 1000.0), 2) AS abs_delta,
        |  round(sqrt(l_quantity), 6) AS sqrt_qty,
        |  CAST(floor(l_extendedprice / 100) AS BIGINT) AS price_bucket,
        |  CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_ceil7,
        |  CAST(l_orderkey % 7 AS BIGINT) AS key_mod7,
        |  round(l_discount * l_discount, 6) AS disc_sq,
        |  round(greatest(l_quantity, l_discount * 100), 2) AS g,
        |  round(least(l_quantity, l_tax * 100), 2) AS l
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        Qf.dround(abs(col("l_extendedprice") - 1000.0), 2).as("abs_delta"),
        Qf.dround(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
        floor(col("l_extendedprice") / 100).as("price_bucket"),
        ceil(col("l_quantity") / 7.0).as("qty_ceil7"),
        (col("l_orderkey") % 7).as("key_mod7"),
        Qf.dround(col("l_discount") * col("l_discount"), 6).as("disc_sq"),
        Qf.dround(greatest(col("l_quantity"), col("l_discount") * 100), 2).as("g"),
        Qf.dround(least(col("l_quantity"), col("l_tax") * 100), 2).as("l"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    q("q25_case_in_null",
      """SELECT o_orderkey,
        |  CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished' ELSE 'partial' END AS status_word,
        |  (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS is_hot,
        |  (o_totalprice BETWEEN 500 AND 2000) AS mid_price,
        |  coalesce(nullif(o_orderstatus, 'P'), 'was_partial') AS denulled,
        |  (o_custkey IS NULL) AS cust_missing
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      table(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "O", "open")
          .when(col("o_orderstatus") === "F", "finished")
          .otherwise("partial").as("status_word"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("is_hot"),
        col("o_totalprice").between(500, 2000).as("mid_price"),
        coalesce(nullif(col("o_orderstatus"), lit("P")), lit("was_partial")).as("denulled"),
        col("o_custkey").isNull.as("cust_missing"))
        .orderBy("o_orderkey")
    },

    q("q26_like_battery",
      """SELECT
        |  count(*) FILTER (WHERE p_name LIKE '%widget%') AS n_widget,
        |  count(*) FILTER (WHERE p_name LIKE 'small%') AS n_small,
        |  count(*) FILTER (WHERE p_name LIKE '_old%') AS n_old2,
        |  count(*) FILTER (WHERE p_name ILIKE 'COLD%') AS n_cold_i,
        |  count(*) FILTER (WHERE regexp_matches(p_name, '^(cold|blue)')) AS n_regex
        |FROM part""".stripMargin) { (s, dir) =>
      table(s, dir, "part").agg(
        count(when(col("p_name").like("%widget%"), 1)).as("n_widget"),
        count(when(col("p_name").like("small%"), 1)).as("n_small"),
        count(when(col("p_name").like("_old%"), 1)).as("n_old2"),
        count(when(col("p_name").ilike("COLD%"), 1)).as("n_cold_i"),
        count(when(col("p_name").rlike("^(cold|blue)"), 1)).as("n_regex"))
    },

    // ---------------------------------------------------------------- subqueries
    q("q27_scalar_subquery",
      """SELECT count(*) AS n_above, round(sum(o_totalprice), 2) AS sum_above
        |FROM orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin) { (s, dir) =>
      table(s, dir, "orders").createOrReplaceTempView("orders_sq")
      // sign/floor formula = DuckDB round semantics (see Qf.dround)
      s.sql(
        """SELECT count(*) AS n_above,
          |  cast(sign(sum(o_totalprice)) * floor(abs(sum(o_totalprice)) * 100 + 0.5) / 100 AS DOUBLE) AS sum_above
          |FROM orders_sq WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders_sq)""".stripMargin)
    },

    q("q28_correlated_subquery",
      """SELECT c_custkey, c_name FROM customer
        |WHERE (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) >= 15
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      table(s, dir, "customer").createOrReplaceTempView("customer_cs")
      table(s, dir, "orders").createOrReplaceTempView("orders_cs")
      s.sql(
        """SELECT c_custkey, c_name FROM customer_cs
          |WHERE (SELECT count(*) FROM orders_cs WHERE o_custkey = c_custkey) >= 15
          |ORDER BY c_custkey""".stripMargin)
    },

    // ---------------------------------------------------------------- approx / sketches
    // HLL implementations differ per engine, so the ESTIMATE is never
    // hashed — what hash-matches is the DECISION RELATION (the r15
    // d119 regime): exact distinct counts (oracle-expressible) plus
    // per-group verdicts that the engine's HLL landed within 10% of
    // exact (2× the AccuracySpec gate's 5%, headroom documented there;
    // Spark's HLL is deterministic, so the verdict is stable). An
    // estimator that drifted out of its error contract flips a row to
    // false and the hash goes red.
    q("q29_approx_distinct",
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  TRUE AS parts_est_ok, TRUE AS orders_est_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      def ok(approx: Column, exact: Column) =
        (abs(approx.cast("double") - exact.cast("double"))
          <= lit(0.10) * exact.cast("double"))
      val li = table(s, dir, "lineitem")
      // separate single-pass aggs instead of one mixed
      // distinct+HLL agg: two distinct columns force an Expand ×3 of
      // the scan, and the group count is 3 — the joins are broadcasts
      val approx = li.groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("__ap"),
          approx_count_distinct(col("l_orderkey")).as("__ao"))
      def exactOf(c: String, as: String) =
        li.select(col("l_returnflag"), col(c)).distinct()
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as(as))
      approx
        .join(broadcast(exactOf("l_partkey", "n_parts")), Seq("l_returnflag"))
        .join(broadcast(exactOf("l_orderkey", "n_orders")), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n_parts"), col("n_orders"),
          ok(col("__ap"), col("n_parts")).as("parts_est_ok"),
          ok(col("__ao"), col("n_orders")).as("orders_est_ok"))
        .dumpSorted("l_returnflag")
    },

    // ---------------------------------------------------------------- semi-structured / arrays / strings agg
    q("q30_json_extract",
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      table(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy("event_id")
    },

    q("q31_string_agg",
      """SELECT s_nationkey, string_agg(s_name, ',' ORDER BY s_name) AS names
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
      table(s, dir, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(array_join(array_sort(collect_list(col("s_name"))), ",").as("names"))
        .dumpSorted("s_nationkey")
    },

    // ---------------------------------------------------------------- events (stream-shaped table, batch path)
    q("q32_events_hourly",
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin) { (s, dir) =>
      table(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("n"), Qf.dround(sum(col("value")), 2).as("sum_value"))
        .orderBy("hour_ts", "event_type")
    },

    q("q33_events_pivot",
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = table(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      pivoted.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
        .orderBy("user_id")
    },

    // ---------------------------------------------------------------- unpivot (inverse of q33's pivot)
    q("q34_unpivot",
      """SELECT l_orderkey, l_linenumber, measure, round(v, 2) AS v FROM (
        |  SELECT l_orderkey, l_linenumber, 'discount' AS measure, l_discount AS v FROM lineitem WHERE l_quantity < 3
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem WHERE l_quantity < 3
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'quantity', l_quantity FROM lineitem WHERE l_quantity < 3
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem WHERE l_quantity < 3)
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_quantity") < 3)
        .select("l_orderkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_discount").as("discount"), col("l_extendedprice").as("price"),
            col("l_quantity").as("quantity"), col("l_tax").as("tax")),
          variableColumnName = "measure", valueColumnName = "__v")
        .select(col("l_orderkey"), col("l_linenumber"), col("measure"),
          Qf.dround(col("__v"), 2).as("v"))
        .orderBy("l_orderkey", "l_linenumber", "measure")
    },

    // ---------------------------------------------------------------- ordered-set / statistical aggregates
    q("q40_percentiles",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(median(l_quantity), 4) AS med_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      // NOT the built-in `percentile` aggregate: that buffers every value
      // of a group in one executor hash map (OOM at scale, GC churn at
      // bench scale). Histogram selection: one fused scan builds bounded
      // per-group histograms for both measures, the driver locates the
      // target-rank buckets, a second scan collects only those buckets'
      // values — near-unique measures never shuffle their full
      // distinct-value set (the window form in exactQuantilesMulti does,
      // and an sbt test pins both forms bit-identical).
      val li = table(s, dir, "lineitem")
      graft.operators.PercentileOps.exactQuantilesHist(
        li, Seq("l_returnflag"), Seq(
          ("price", col("l_extendedprice"),
            Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9)),
          ("qty", col("l_quantity"), Seq("med_qty" -> 0.5))))
        .select(col("l_returnflag"),
          Qf.dround(col("p25"), 4).as("p25"),
          Qf.dround(col("p50"), 4).as("p50"),
          Qf.dround(col("p90"), 4).as("p90"),
          Qf.dround(col("med_qty"), 4).as("med_qty"))
        .dumpSorted("l_returnflag")
    },

    // linear-regression aggregate family (SQL-standard regr_*): slope /
    // intercept / r² plus corr and sample covariance of
    // (quantity, price) per flag — all one-pass moment aggregates that
    // partial-combine map-side like any sum. Rounded: the two engines
    // accumulate moments in different orders.
    q("q68_regression_agg",
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
        |  round(covar_samp(l_extendedprice, l_quantity), 4) AS cov_pq
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Qf.dround(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
          Qf.dround(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("icept"),
          Qf.dround(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
          Qf.dround(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_pq"),
          Qf.dround(covar_samp(col("l_extendedprice"), col("l_quantity")), 4).as("cov_pq"))
        .dumpSorted("l_returnflag")
    },

    // bitwise / boolean aggregate battery — exact integer semantics, no
    // rounding: bit_and/or/xor over the line numbers and order keys,
    // bool_and/bool_or over derived predicates.
    q("q69_bit_bool_agg",
      """SELECT l_returnflag,
        |  CAST(bit_and(l_linenumber) AS BIGINT) AS band,
        |  CAST(bit_or(l_linenumber) AS BIGINT) AS bor,
        |  CAST(bit_xor(l_orderkey) AS BIGINT) AS bxor,
        |  bool_and(l_quantity > 0) AS all_pos,
        |  bool_or(l_discount > 0.09) AS any_deep_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("bit_and(l_linenumber)").cast("bigint").as("band"),
          expr("bit_or(l_linenumber)").cast("bigint").as("bor"),
          expr("bit_xor(l_orderkey)").cast("bigint").as("bxor"),
          expr("bool_and(l_quantity > 0)").as("all_pos"),
          expr("bool_or(l_discount > 0.09)").as("any_deep_disc"))
        .dumpSorted("l_returnflag")
    },

    // the DISCONTINUOUS ordered-set aggregate (SQL-standard
    // percentile_disc: smallest value whose cume_dist >= q — an actual
    // data element, never an interpolation; DuckDB's quantile_disc is
    // the same definition). No rounding needed: both engines return an
    // element of the column verbatim.
    q("q67_percentile_disc",
      """SELECT l_returnflag,
        |  quantile_disc(l_extendedprice, 0.25) AS p25,
        |  quantile_disc(l_extendedprice, 0.5) AS p50,
        |  quantile_disc(l_extendedprice, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      // written as the SQL-standard syntax a user would type; the
      // session's PercentileAggregateRewrite (injected by
      // GraftSparkExtensions at session build — never registered from
      // inside a query body, which would make plans order-dependent)
      // routes it onto the histogram-selection plan (occupied-bucket
      // counts + a candidates-only ranking window — no per-group
      // value-map buffering), so this query is the rewrite's end-to-end
      // conformance proof: same oracle, optimizer-substituted plan.
      // GraftSparkExtensionsSpec pins the plan shape (no ObjectHash
      // aggregate) and the negative case (mixed aggregates untouched).
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)").as("p25"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)").as("p90"))
        .dumpSorted("l_returnflag")
    },

    // The built-in above buffers per-group (value,count) maps — three
    // aggregates each materializing the near-unique price column (the
    // slowest 1× query in the bench, see SCALE.md). This is the SAME
    // oracle answered by the distributed histogram-selection machinery
    // (q40's exactQuantilesHist with disc semantics): the shuffle
    // carries occupied buckets, never the value set, and all three
    // quantile points share one fused scan. percentile_disc returns an
    // element verbatim — no rounding needed, hash-exact.
    q("q67b_percentile_disc_hist",
      """SELECT l_returnflag,
        |  quantile_disc(l_extendedprice, 0.25) AS p25,
        |  quantile_disc(l_extendedprice, 0.5) AS p50,
        |  quantile_disc(l_extendedprice, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      graft.operators.PercentileOps.exactQuantilesHist(
        table(s, dir, "lineitem"), Seq("l_returnflag"), Seq(
          ("price", col("l_extendedprice"),
            Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9))),
        disc = true)
        .dumpSorted("l_returnflag")
    },

    // The ARRAY-percentage reporting form — `percentile(c, array(...))`,
    // the multi-quantile syntax most reporting SQL uses — now rides the
    // same optimizer substitution: each fraction becomes one column of
    // the single-pass histogram plan and the final Project re-assembles
    // the array. Elements are extracted here so the oracle compares
    // scalar columns (DuckDB's quantile_cont list form computes the
    // same three points in one pass). Rounded: interpolation arithmetic
    // order differs across engines.
    q("q67c_percentile_array",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.25, 0.5, 0.9))").as("ps"))
        .select(col("l_returnflag"),
          Qf.dround(element_at(col("ps"), 1), 4).as("p25"),
          Qf.dround(element_at(col("ps"), 2), 4).as("p50"),
          Qf.dround(element_at(col("ps"), 3), 4).as("p90"))
        .dumpSorted("l_returnflag")
    },

    // DESC within-group ordering — `WITHIN GROUP (ORDER BY c DESC)` for
    // both ordered-set aggregates, optimizer-routed onto the histogram
    // plan with mirrored pick ranks (a reverse rank r in an n-element
    // multiset is forward rank n-1-r; interpolation weights carry over
    // exactly). The oracle derives the same semantics from DuckDB's
    // ascending quantiles via negation: DESC order of x IS ASC order of
    // -x, and quantile_cont is linear, so -quantile_*(-x, q) is the
    // DESC answer element-for-element (negation is exact in IEEE-754).
    q("q67d_percentile_desc",
      """SELECT l_returnflag,
        |  -quantile_disc(-l_extendedprice, 0.4) AS d40,
        |  round(-quantile_cont(-l_extendedprice, 0.25), 4) AS c25,
        |  -quantile_disc(-l_quantity, 0.5) AS t50
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_disc(0.4) WITHIN GROUP (ORDER BY l_extendedprice DESC)").as("d40"),
          Qf.dround(expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice DESC)"), 4).as("c25"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity DESC)").as("t50"))
        .dumpSorted("l_returnflag")
    },

    // ---------------------------------------------------------------- recursive CTE
    // WITH RECURSIVE (Spark 4 / SQL:1999) generating a 12-month calendar
    // spine, left-joined to pre-aggregated monthly order stats so absent
    // months surface as zeros. Scale shape: the recursion produces a
    // constant-size spine on the driver; the fact side aggregates FIRST
    // (shuffle on month, ~thousands of groups), then the tiny spine
    // broadcast-joins it — the recursion never touches fact-table rows.
    q("q70_recursive_months",
      """WITH RECURSIVE months(m) AS (SELECT 0 UNION ALL SELECT m + 1 FROM months WHERE m < 11),
        |om AS (SELECT date_trunc('month', o_orderdate) AS mo, count(*) AS n, sum(o_totalprice) AS rev
        |       FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |       AND o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1)
        |SELECT make_date(1995, m + 1, 1) AS month,
        |       CAST(coalesce(n, 0) AS BIGINT) AS n_orders,
        |       round(coalesce(rev, 0), 2) AS revenue
        |FROM months LEFT JOIN om ON om.mo = CAST(make_date(1995, m + 1, 1) AS TIMESTAMP)
        |ORDER BY month""".stripMargin) { (s, dir) =>
      table(s, dir, "orders").createOrReplaceTempView("orders_rec")
      s.sql(
        """WITH RECURSIVE months(m) AS (SELECT 0 UNION ALL SELECT m + 1 FROM months WHERE m < 11),
          |om AS (SELECT date_trunc('month', o_orderdate) AS mo, count(*) AS n, sum(o_totalprice) AS rev
          |       FROM orders_rec WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |       AND o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1)
          |SELECT make_date(1995, m + 1, 1) AS month,
          |       CAST(coalesce(n, 0) AS BIGINT) AS n_orders,
          |       coalesce(rev, CAST(0 AS DOUBLE)) AS rev_raw
          |FROM months LEFT JOIN om ON om.mo = CAST(make_date(1995, m + 1, 1) AS TIMESTAMP)""".stripMargin)
        .select(col("month"), col("n_orders"), Qf.dround(col("rev_raw"), 2).as("revenue"))
        .dumpSorted("month")
    },

    // ---------------------------------------------------------------- arg-min/max aggregates
    // max_by/min_by with a DETERMINISTIC tie-break: the ordering key is
    // struct(s_acctbal, s_name), so a balance tie resolves to the
    // larger/smaller name instead of whichever row an engine saw last —
    // definition-exact at any scale factor, never fixture luck (DuckDB's
    // max_by can't order by a struct, so the oracle spells the same
    // tie-break out as window-max + name filter). One-pass, map-side
    // combinable: each partial keeps only the current best pair.
    q("q71_arg_minmax",
      """WITH r AS (SELECT s_nationkey, s_name, s_acctbal,
        |  max(s_acctbal) OVER (PARTITION BY s_nationkey) AS mxb,
        |  min(s_acctbal) OVER (PARTITION BY s_nationkey) AS mnb FROM supplier)
        |SELECT s_nationkey,
        |  max(s_name) FILTER (WHERE s_acctbal = mxb) AS richest,
        |  min(s_name) FILTER (WHERE s_acctbal = mnb) AS poorest,
        |  round(max(s_acctbal), 2) AS top_bal,
        |  round(min(s_acctbal), 2) AS low_bal
        |FROM r GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
      table(s, dir, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(
          expr("max_by(s_name, struct(s_acctbal, s_name))").as("richest"),
          expr("min_by(s_name, struct(s_acctbal, s_name))").as("poorest"),
          Qf.dround(max(col("s_acctbal")), 2).as("top_bal"),
          Qf.dround(min(col("s_acctbal")), 2).as("low_bal"))
        .dumpSorted("s_nationkey")
    },

    // ---------------------------------------------------------------- deterministic mode
    // Spark's mode(col, true) pins ties to the LOWEST value; the oracle
    // spells that tie-break out (max count, then min value) so the match
    // is definition-exact, never fixture-luck. Distributed as a two-level
    // count-then-argmax — no per-group value buffering.
    q("q72_mode_agg",
      """WITH c AS (SELECT l_returnflag, l_linenumber AS v, count(*) AS n FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT l_returnflag, max(n) AS mx FROM c GROUP BY 1)
        |SELECT c.l_returnflag, CAST(min(v) AS BIGINT) AS mode_ln
        |FROM c JOIN m ON c.l_returnflag = m.l_returnflag AND c.n = m.mx
        |GROUP BY c.l_returnflag ORDER BY c.l_returnflag""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("mode(l_linenumber, true)").cast("bigint").as("mode_ln"))
        .dumpSorted("l_returnflag")
    },

    // ---------------------------------------------------------------- time-series gap fill
    // Calendar densification + forward fill — the resample/ffill of every
    // metrics pipeline. sequence() builds the day spine from the observed
    // bounds, the sparse daily aggregate left-joins it, and
    // last(ignoreNulls) carries the previous observation across gaps.
    // Scale shape: facts aggregate to one row per day BEFORE the join and
    // the window runs over the spine (rows = days, not events), so the
    // single-partition window is bounded by the calendar, never the data.
    q("q73_gapfill_ffill",
      """WITH b AS (SELECT CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
        |                  CAST(max(CAST(ts AS TIMESTAMP)) AS DATE) AS d1 FROM events),
        |spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n_raw, sum(value) AS rev_raw
        |          FROM events WHERE event_type = 'purchase' AND value > 150 GROUP BY 1)
        |SELECT s.day AS day, CAST(coalesce(n_raw, 0) AS BIGINT) AS n,
        |       round(last_value(rev_raw IGNORE NULLS) OVER (
        |         ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS rev_filled
        |FROM spine s LEFT JOIN daily d ON s.day = d.day
        |ORDER BY s.day""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events")
      val spine = ev
        .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val daily = ev
        .filter(col("event_type") === "purchase" && col("value") > 150)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_raw"), sum(col("value")).as("rev_raw"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("day"), "left")
        .select(
          col("day"),
          coalesce(col("n_raw"), lit(0L)).as("n"),
          Qf.dround(last(col("rev_raw"), ignoreNulls = true).over(w), 4).as("rev_filled"))
        .dumpSorted("day")
    },

    // ---------------------------------------------------------------- bucketed co-located join
    // Both fact tables written once with bucketBy(8, orderkey); the join
    // then reads them pre-hash-distributed — ZERO Exchange in the join
    // subtree (PlanShapeSpec gates this with broadcast disabled). The
    // write-once/join-many layout that turns a repeated 100 TB fact-fact
    // shuffle into a one-time cost. Bucketing is purely physical, so the
    // oracle is the same join on the original parquet.
    q("q74_bucketed_join",
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      graft.operators.LayoutOps.bucketedJoin(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          Qf.dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("rev"))
        .dumpSorted("o_orderpriority")
    },

    // The exact form above is already distributed (distinct-value counts +
    // sort-based window — no per-group buffering); this variant is the
    // sketch alternative for when even the distinct-value set is too wide:
    // approx_percentile keeps constant per-group state, map-side
    // combinable. Sketch VALUES differ per engine, so they are never
    // hashed — the hash-matched DECISION RELATION (the r15 d119
    // regime) is the group's exact row count plus per-quantile
    // verdicts that the sketch landed within 2% of the exact
    // percentile (2× the AccuracySpec gate's 1%; deterministic sketch
    // → stable verdict). Drift out of contract flips a row red.
    q("q40b_percentiles_approx",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  TRUE AS ok_p25, TRUE AS ok_p50, TRUE AS ok_p90, TRUE AS ok_med_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      def ok(approx: Column, exact: Column) =
        abs(approx - exact) <= lit(0.02) * abs(exact)
      val li = table(s, dir, "lineitem")
      val approx = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          expr("approx_percentile(l_extendedprice, 0.25, 10000)").as("__a25"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("__a50"),
          expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("__a90"),
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("__amq"))
      // exact side via the histogram-selection plan (q40's own scale
      // form) — NOT the built-in `percentile` aggregate, which buffers
      // whole groups and drags the mixed agg to a sort fallback
      // (measured 1.1 → 4.8 s at sf0.1 before this split)
      val exact = graft.operators.PercentileOps.exactQuantilesHist(
        li, Seq("l_returnflag"), Seq(
          ("price", col("l_extendedprice"),
            Seq("__e25" -> 0.25, "__e50" -> 0.5, "__e90" -> 0.9)),
          ("qty", col("l_quantity"), Seq("__emq" -> 0.5))))
      approx.join(broadcast(exact), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"),
          ok(col("__a25"), col("__e25")).as("ok_p25"),
          ok(col("__a50"), col("__e50")).as("ok_p50"),
          ok(col("__a90"), col("__e90")).as("ok_p90"),
          ok(col("__amq"), col("__emq")).as("ok_med_qty"))
        .dumpSorted("l_returnflag")
    },

    q("q41_stats_agg",
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
        |  round(min(l_extendedprice), 4) AS min_price,
        |  round(max(l_extendedprice), 4) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Qf.dround(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          Qf.dround(var_samp(col("l_quantity")), 4).as("var_qty"),
          Qf.dround(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          Qf.dround(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qp"),
          Qf.dround(min(col("l_extendedprice")), 4).as("min_price"),
          Qf.dround(max(col("l_extendedprice")), 4).as("max_price"))
        .dumpSorted("l_returnflag")
    },

    // ---------------------------------------------------------------- typed UDAF (Aggregator)
    q("q42_weighted_avg",
      """SELECT l_returnflag,
        |  round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(Qf.dround(
          graft.functions.Aggregators.weightedMean(col("l_extendedprice"), col("l_quantity")),
          4).as("wavg_price"))
        .dumpSorted("l_returnflag")
    },

    // ---------------------------------------------------------------- range frames + value window functions
    q("q43_range_frame",
      """SELECT o_orderkey, o_custkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT)
        |    RANGE BETWEEN 90 PRECEDING AND CURRENT ROW), 2) AS rev_90d
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long"))
        .rangeBetween(-90, Window.currentRow)
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Qf.dround(sum(col("o_totalprice")).over(w), 2).as("rev_90d"))
        .orderBy("o_orderkey")
    },

    q("q44_value_windows",
      """SELECT o_orderkey, o_custkey,
        |  first_value(o_orderkey) OVER w AS first_order,
        |  last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
        |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_order,
        |  round(o_totalprice - avg(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS delta_from_avg
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val ordered = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          first(col("o_orderkey")).over(ordered).as("first_order"),
          last(col("o_orderkey")).over(full).as("last_order"),
          nth_value(col("o_orderkey"), 2).over(full).as("second_order"),
          Qf.dround(col("o_totalprice") -
            avg(col("o_totalprice")).over(Window.partitionBy(col("o_custkey"))), 2)
            .as("delta_from_avg"))
        .orderBy("o_orderkey")
    },

    // ---------------------------------------------------------------- sampling
    // Deterministic hash-mod sampling (SURVEY §2.C sort/limit/sample row):
    // the engine-portable form of `df.sample` — Bernoulli `df.sample(f)` is
    // RNG/seed/partition-layout-dependent and can never hash-match another
    // engine, so the conformance surface pins sampling semantics to a
    // content hash: ~5% of orders, reproducible everywhere, pushed to the
    // scan as a cheap per-row predicate (no shuffle, no state).
    q("q45_hash_sample",
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
        |FROM orders
        |WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 20 = 0
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .filter(graft.operators.DedupOps.md5Hash32(col("o_orderkey").cast("string"), "") % 20 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          Qf.dround(col("o_totalprice"), 2).as("total"))
        .orderBy("o_orderkey")
    },

    // ---------------------------------------------------------------- pure range join (no equi key)
    // q36 is equi+residual-range (hash-joinable); THIS is the hard case —
    // point-in-interval with no equality key, which Spark would otherwise
    // plan as a nested loop. IntervalJoin bins the range dimension into an
    // equi-join (see operator Scaladoc).
    q("q49_interval_join",
      """WITH i AS (
        |  SELECT o_orderkey AS i_key,
        |    CAST(date_diff('day', TIMESTAMP '1990-01-01', o_orderdate) AS BIGINT) AS lo
        |  FROM orders
        |  WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 100 = 0),
        |p AS (
        |  SELECT o_orderkey AS p_key,
        |    CAST(date_diff('day', TIMESTAMP '1990-01-01', o_orderdate) AS BIGINT) AS p_day
        |  FROM orders)
        |SELECT i_key, count(*) AS n_in_window
        |FROM i JOIN p ON p.p_day BETWEEN i.lo AND i.lo + 7
        |GROUP BY i_key ORDER BY i_key""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
      val day = datediff(col("o_orderdate"), lit("1990-01-01").cast("date")).cast("long")
      val intervals = o
        .filter(graft.operators.DedupOps.md5Hash32(col("o_orderkey").cast("string"), "") % 100 === 0)
        .select(col("o_orderkey").as("i_key"), day.as("lo"), (day + 7).as("hi"))
      val points = o.select(col("o_orderkey").as("p_key"), day.as("p_day"))
      graft.operators.IntervalJoin.pointInInterval(points, "p_day", intervals, "lo", "hi",
          binWidth = 7)
        .groupBy(col("i_key"))
        .agg(count(lit(1)).as("n_in_window"))
        .orderBy("i_key")
    },

    // ---------------------------------------------------------------- salted aggregation (skew mitigation)
    // identical results to a plain GROUP BY (the oracle IS the plain
    // GROUP BY) — the salted two-phase shape is the explicit hot-key
    // mitigation for when AQE can't help (it only splits join partitions)
    q("q52_salted_agg",
      """SELECT user_id, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value,
        |  round(min(value), 4) AS min_value,
        |  round(max(value), 4) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      import graft.operators.SkewOps._
      saltedAgg(table(s, dir, "events"), Seq("user_id"), salts = 8, Seq(
        CountAgg("n_events"),
        SumAgg(col("value"), "__sum_value"),
        MinAgg(col("value"), "__min_value"),
        MaxAgg(col("value"), "__max_value")))
        .select(col("user_id"), col("n_events"),
          Qf.dround(col("__sum_value"), 2).as("sum_value"),
          Qf.dround(col("__min_value"), 4).as("min_value"),
          Qf.dround(col("__max_value"), 4).as("max_value"))
        .orderBy("user_id")
    },

    // ---------------------------------------------------------------- Z-order clustering key
    // Morton interleave of (partkey, suppkey) low bits — the multi-
    // dimensional clustering key a Z-ORDER write sorts by (LayoutOps
    // .zorderBy). Pure codegen'd bitwise arithmetic; the oracle runs the
    // IDENTICAL formula (generated from the same constants). The top-100
    // scan shape is TakeOrderedAndProject: per-partition heaps, no
    // global sort.
    q("q53_zorder_key", {
      val z = graft.operators.LayoutOps.sqlZValue("l_partkey % 1024", "l_suppkey % 1024")
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(l_partkey % 1024 AS BIGINT) AS px,
         |  CAST(l_suppkey % 1024 AS BIGINT) AS sx,
         |  $z AS z
         |FROM lineitem
         |ORDER BY z, l_orderkey, l_linenumber LIMIT 100""".stripMargin
    }) { (s, dir) =>
      import graft.operators.LayoutOps
      table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_partkey"), lit(1024)).cast("long").as("px"),
          pmod(col("l_suppkey"), lit(1024)).cast("long").as("sx"))
        .withColumn("z", LayoutOps.zValue(col("px"), col("sx")))
        .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    },

    // ---------------------------------------------------------------- salted join (hot-key skew, non-broadcastable dim)
    // identical rows to the plain equi-join (the oracle IS the plain
    // join): the big side salts deterministically, the dim replicates
    // salts×, the join runs on (key, salt) — a hot user's events spread
    // over 8 partitions instead of one. For when AQE's skew split can't
    // apply and the dim is too big to broadcast.
    q("q54_salted_join",
      """SELECT c_nationkey, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events")
      val cust = table(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      graft.operators.SkewOps.saltedJoin(ev, cust, "user_id", salts = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_events"),
          Qf.dround(sum(col("value")), 2).as("sum_value"))
        .dumpSorted("c_nationkey")
    },

    // ---------------------------------------------------------------- LATERAL correlated subquery
    // per-customer top-2 orders via SQL LATERAL — the correlated-
    // derived-table surface (both engines parse the identical query).
    // Catalyst decorrelates it into the same window/top-k shape as the
    // DataFrame form, so no nested-loop survives in the plan.
    q("q56_lateral_topk",
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin) { (s, dir) =>
      table(s, dir, "customer").createOrReplaceTempView("customer_lat")
      table(s, dir, "orders").createOrReplaceTempView("orders_lat")
      s.sql("""SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer_lat c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders_lat o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
    },

    // ---------------------------------------------------------------- metadata-only aggregation
    // COUNT/MIN/MAX answered from parquet FOOTER STATISTICS — zero data
    // pages read. At 100 TB this is the difference between a full scan
    // and reading a few MB of metadata. Needs the DSv2 parquet path +
    // aggregatePushdown, enabled on a cloned session (newSession shares
    // the context but isolates the SQLConf from concurrently-planning
    // queries); plan shows `PushedAggregation: [COUNT(*), MIN(...)]`
    // (asserted in PlanShapeSpec).
    q("q55_metadata_agg",
      """SELECT count(*) AS n_rows,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.useV1SourceList", "")
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      table(s2, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"),
        min(col("l_extendedprice")).as("min_price"), max(col("l_extendedprice")).as("max_price"))
    },

    // ---------------------------------------------------------------- runtime bloom-filter join pruning
    // Catalyst's InjectRuntimeFilter builds a bloom filter from the
    // SELECTIVE dim side (part filtered to one brand) and evaluates it
    // at the FACT scan — lineitem rows for other brands die before the
    // shuffle. At 100 TB this is the difference between shuffling the
    // whole fact table and shuffling the ~1/25 that can possibly join.
    // Thresholds are lowered on a cloned session because the feature is
    // sized for real clusters (10 GB scan-side default); broadcast is
    // disabled so the join actually shuffles — at production scale this
    // dim side would exceed the broadcast threshold anyway. PlanShapeSpec
    // asserts the BloomFilterMightContain is present and pruning.
    q("q60_runtime_bloom_join",
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#23'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      table(s2, dir, "lineitem").join(
          table(s2, dir, "part").filter(col("p_brand") === "Brand#23"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          Qf.dround(sum(col("l_extendedprice")), 2).as("sum_price"))
        .dumpSorted("l_returnflag")
    },

    // ---------------------------------------------------------------- batch sessionization
    // gap-based sessions (2h inactivity): new-session flags via lag,
    // session numbers via running sum, per-session rollup. One shuffle
    // on user_id serves both windows AND the final agg (same
    // partitioning); per-user state is O(1) per row. The streaming dual
    // lives in EventStreams (watermarked session windows).
    // NOTE the oracle truncates ts to whole seconds (date_trunc) because
    // the Spark side compares floor-second longs: without identical
    // truncation on both sides, a raw gap in (7200, 7201) seconds whose
    // endpoints floor to a 7200s difference would classify differently
    // and conformance would be fixture-dependent.
    q("q61_sessionization",
      """WITH ev AS (SELECT user_id, date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts, event_id FROM events),
        |g AS (SELECT *, CASE WHEN ts - lag(ts) OVER w > INTERVAL 2 HOUR
        |         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |        AS INTEGER) AS session_no FROM g)
        |SELECT user_id, session_no, count(*) AS n_events,
        |  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS dur_s
        |FROM s GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("__new",
          when(col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long") > 7200
            || lag(col("ts"), 1).over(w).isNull, 1).otherwise(0))
        .withColumn("session_no", sum(col("__new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("int"))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("ts").cast("long")) - min(col("ts").cast("long"))).as("dur_s"))
        .orderBy("user_id", "session_no")
    },

    // ---------------------------------------------------------------- distribution window functions
    q("q46_distribution_windows",
      """SELECT o_orderkey,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      table(s, dir, "orders")
        .select(col("o_orderkey"),
          ntile(4).over(w).cast("int").as("quartile"),
          Qf.dround(percent_rank().over(w), 6).as("pct_rank"),
          Qf.dround(cume_dist().over(w), 6).as("cume"))
        .orderBy("o_orderkey")
    },

    // ---------------------------------------------------------------- structured JSON parse (from_json, vs q30's path extraction)
    q("q47_from_json",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
        |  CAST(json_extract_string(props, '$.src') AS VARCHAR) AS src
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("src", org.apache.spark.sql.types.StringType)))
      table(s, dir, "events")
        .withColumn("__j", from_json(col("props"), schema))
        .select(col("event_id"),
          col("__j.k").as("k_val"),
          col("__j.src").as("src"))
        .orderBy("event_id")
    },

    // ---------------------------------------------------------------- EXISTS predicate subquery (SQL-parsed path; q38 is the DataFrame anti analog)
    q("q48_exists_subquery",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      table(s, dir, "customer").createOrReplaceTempView("customer")
      table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT c_custkey, c_name FROM customer c
              |WHERE EXISTS (SELECT 1 FROM orders o
              |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
              |ORDER BY c_custkey""".stripMargin)
    },

    // ---------------------------------------------------------------- file-format conformance: CSV round-trip
    // events → write csv → read back (explicit schema, no inferSchema
    // second pass) → aggregate. The oracle reads the SAME part files with
    // DuckDB's read_csv, so BOTH the writer's encoding and the reader's
    // parsing are conformance-checked, not just the aggregate. The write
    // path stays parallel (one part per task). The path is keyed by the
    // sf dir, and Verify writes that path into the oracle SQL
    // (`oracleFor`), so each scale's oracle reads its own run's files.
    q("q57_csv_roundtrip",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  round(sum(value), 2) AS sum_value
        |FROM read_csv('/tmp/graft_conformance/q57_csv/*.csv', header=true,
        |  columns={'event_id': 'BIGINT', 'user_id': 'BIGINT',
        |           'event_type': 'VARCHAR', 'value': 'DOUBLE'})
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val out = roundtripDir("/tmp/graft_conformance/q57_csv", dir)
      table(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
        .option("header", "true").csv(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("user_id")).as("sum_uid"),
          Qf.dround(sum(col("value")), 2).as("sum_value"))
        .dumpSorted("event_type")
    },

    // ---------------------------------------------------------------- file-format conformance: JSON-lines round-trip
    q("q58_json_roundtrip",
      """SELECT event_type, count(*) AS n,
        |  CAST(min(event_id) AS BIGINT) AS min_id,
        |  CAST(max(event_id) AS BIGINT) AS max_id,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  round(avg(value), 4) AS avg_value
        |FROM read_json('/tmp/graft_conformance/q58_json/*.json',
        |  format='newline_delimited',
        |  columns={'event_id': 'BIGINT', 'user_id': 'BIGINT',
        |           'event_type': 'VARCHAR', 'value': 'DOUBLE'})
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val out = roundtripDir("/tmp/graft_conformance/q58_json", dir)
      table(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").json(out)
      s.read.schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
        .json(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"),
          countDistinct(col("user_id")).as("n_users"),
          Qf.dround(avg(col("value")), 4).as("avg_value"))
        .dumpSorted("event_type")
    },

    // ---------------------------------------------------------------- explicit grouping sets
    // the general form rollup/cube desugar to, with the GROUPING()
    // marker distinguishing "NULL because aggregated away" from a data
    // NULL — one pass, Expand-based, same shape as q11/q12 but with an
    // arbitrary user-chosen set list
    q("q65_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin) { (s, dir) =>
      table(s, dir, "orders").createOrReplaceTempView("orders_gs")
      // Qf.dround in SQL form: Spark's round() HALF_UPs the exact binary
      // value where DuckDB rounds half away from zero on the double
      s.sql("""SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |  count(*) AS n,
        |  CAST(signum(sum(o_totalprice))
        |    * floor(abs(sum(o_totalprice)) * 100 + 0.5) / 100 AS DOUBLE) AS sum_price
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin)
    },

    // ---------------------------------------------------------------- exact decimal arithmetic
    // money math must be EXACT, not double-rounded: cast to DECIMAL,
    // sum and multiply in decimal, compare the full-precision string
    // representation — any float shortcut in either engine's decimal
    // path breaks the hash. (Spark's sum(decimal(12,2)) widens to
    // (22,2) and the product to (17,5); string forms match DuckDB's.)
    q("q64_decimal_exact",
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS sum_exact,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * CAST(l_discount AS DECIMAL(4,3))) AS VARCHAR) AS disc_exact
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("string").as("sum_exact"),
          sum(col("l_extendedprice").cast("decimal(12,2)")
            * col("l_discount").cast("decimal(4,3)")).cast("string").as("disc_exact"))
        .dumpSorted("l_returnflag")
    },

    // ---------------------------------------------------------------- NULL-semantics battery
    // the cross-engine hazard area: aggregate null-skipping, count(col)
    // vs count(*), coalesce/nullif, null-safe equality, and DISTINCT
    // over a null-bearing expression — all on a derived null-injected
    // column so the behaviors actually execute
    q("q63_null_battery",
      """WITH o AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS p FROM orders)
        |SELECT count(*) AS n_rows, count(p) AS n_nonnull,
        |  CAST(count(DISTINCT p IS NULL) AS BIGINT) AS null_groups,
        |  round(sum(coalesce(p, 0)), 2) AS sum_c,
        |  round(avg(p), 4) AS avg_skipnull,
        |  CAST(sum(CASE WHEN p IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe,
        |  round(max(nullif(p, 0)), 2) AS max_nn
        |FROM o""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .select(when(col("o_orderkey") % 7 === 0, lit(null))
          .otherwise(col("o_totalprice")).as("p"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("p")).as("n_nonnull"),
          countDistinct(col("p").isNull).as("null_groups"),
          Qf.dround(sum(coalesce(col("p"), lit(0))), 2).as("sum_c"),
          Qf.dround(avg(col("p")), 4).as("avg_skipnull"),
          sum(when(col("p") <=> lit(null), 1).otherwise(0)).as("n_nullsafe"),
          Qf.dround(max(nullif(col("p"), lit(0))), 2).as("max_nn"))
    },

    // ---------------------------------------------------------------- jdbc round-trip (embedded Derby)
    // spark.read/write.jdbc conformance against the embedded Derby that
    // ships with Spark: write a projection over JDBC, read it back,
    // aggregate. The oracle aggregates the same source rows from
    // parquet — the check passes only if the JDBC writer + reader
    // preserve every value. Predicate pushdown applies on the read
    // (the WHERE becomes a JDBC filter); partitioned reads via
    // partitionColumn bounds are the scale path for a real DBMS.
    q("q62_jdbc_roundtrip",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  round(sum(value), 2) AS sum_value
        |FROM events WHERE event_id % 5 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val db = s"/tmp/graft_conformance/q62_derby_${dir.hashCode.toHexString}"
      val url = s"jdbc:derby:$db;create=true"
      // keep Derby's boot log out of the process CWD
      System.setProperty("derby.stream.error.file", "/tmp/graft_conformance/derby.log")
      val props = new java.util.Properties()
      table(s, dir, "events")
        .filter(col("event_id") % 5 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").jdbc(url, "events_rt", props)
      s.read.jdbc(url, "events_rt", props)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("user_id")).as("sum_uid"),
          Qf.dround(sum(col("value")), 2).as("sum_value"))
        .dumpSorted("event_type")
    },

    // the PARTITIONED read form — the pattern to copy against a real
    // DBMS: an unpartitioned read.jdbc is ONE task pulling the whole
    // table over one connection (q62 keeps that form only as the
    // round-trip oracle). partitionColumn/bounds/numPartitions splits
    // the scan into stride-ranged queries that run in parallel; bounds
    // come from a metadata-only min/max over the source (rows outside
    // the bounds still arrive — they land in the edge partitions).
    // PlanShapeSpec asserts the scan really fans out to >1 partition.
    q("q62b_jdbc_partitioned",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  round(sum(value), 2) AS sum_value
        |FROM events WHERE event_id % 5 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val db = s"/tmp/graft_conformance/q62b_derby_${dir.hashCode.toHexString}"
      val url = s"jdbc:derby:$db;create=true"
      System.setProperty("derby.stream.error.file", "/tmp/graft_conformance/derby.log")
      val props = new java.util.Properties()
      val src = table(s, dir, "events")
        .filter(col("event_id") % 5 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      src.write.mode("overwrite").jdbc(url, "events_rtp", props)
      // empty filter match => min/max are NULL; fall back to an
      // unpartitioned read of the (empty) table instead of NPEing on
      // getLong
      val bounds = src.agg(min("event_id"), max("event_id")).head()
      val reader =
        if (bounds.isNullAt(0)) s.read.jdbc(url, "events_rtp", props)
        else s.read.jdbc(url, "events_rtp", "event_id",
          bounds.getLong(0), bounds.getLong(1) + 1, 4, props)
      reader
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("user_id")).as("sum_uid"),
          Qf.dround(sum(col("value")), 2).as("sum_value"))
        .dumpSorted("event_type")
    },

    // ---------------------------------------------------------------- avro round-trip (graft-avro on the core library)
    // The one big-data interchange format the q57-q66 battery lacked.
    // DuckDB 1.0 has no Avro reader, so (the q59 ORC pattern) the oracle
    // re-derives the SAME projection straight from parquet: the check
    // passes only if the writer+reader preserve every value — longs,
    // doubles, strings, injected NULLs, and the three LOGICAL types
    // (timestamp-micros, date, decimal-as-bytes) plus raw binary —
    // bit-exactly through the container-file round trip. Write is one
    // file per partition from the executors; read plans one partition
    // per file (AvroSources.scala scale notes).
    q("q75_avro_roundtrip",
      """WITH src AS (
        |  SELECT event_id, ts, CAST(ts AS DATE) AS d, event_type, value AS v,
        |    CAST(event_id AS DECIMAL(12,2)) AS dec,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE props END AS props_n,
        |    unhex(md5(coalesce(props, ''))) AS bin
        |  FROM events)
        |SELECT event_type, count(*) AS n, CAST(count(props_n) AS BIGINT) AS n_props,
        |  round(sum(v), 2) AS sum_value, CAST(sum(dec) AS DOUBLE) AS sum_dec,
        |  min(ts) AS min_ts, max(ts) AS max_ts, min(d) AS min_d, max(d) AS max_d,
        |  CAST(sum(octet_length(bin)) AS BIGINT) AS bin_bytes,
        |  min(lower(hex(bin))) AS bin_min
        |FROM src GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val out = "/tmp/graft_conformance/q75_avro"
      val src = table(s, dir, "events").select(
        col("event_id"), col("ts"), to_date(col("ts")).as("d"), col("event_type"),
        col("value").as("v"),
        col("event_id").cast("decimal(12,2)").as("dec"),
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("props")).as("props_n"),
        unhex(md5(coalesce(col("props"), lit("")))).as("bin"))
      graft.sources.AvroIO.write(src, out)
      s.read.format("graft-avro").load(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(col("props_n")).as("n_props"),
          Qf.dround(sum(col("v")), 2).as("sum_value"),
          sum(col("dec")).cast("double").as("sum_dec"),
          min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
          min(col("d")).as("min_d"), max(col("d")).as("max_d"),
          sum(length(col("bin"))).cast("long").as("bin_bytes"),
          min(lower(hex(col("bin")))).as("bin_min"))
        .dumpSorted("event_type")
    },

    // ---------------------------------------------------------------- file-format conformance: ORC round-trip
    // DuckDB has no ORC reader, so the oracle aggregates the SAME source
    // rows straight from parquet: the check passes only if Spark's ORC
    // writer+reader preserve every value (types, nulls, decimals-as-double)
    // bit-exactly through the round trip. Write stays parallel.
    q("q59_orc_roundtrip",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        |  CAST(max(l_orderkey) AS BIGINT) AS max_ok
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val out = "/tmp/graft_conformance/q59_orc"
      table(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          Qf.dround(sum(col("l_quantity")), 2).as("sum_qty"),
          Qf.dround(sum(col("l_extendedprice")), 2).as("sum_price"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
        .dumpSorted("l_returnflag", "l_linestatus")
    },

    // ---------------------------------------------------------------- file-format conformance: XML round-trip
    // Spark 4 ships the XML source in core (the spark-xml merge); DuckDB
    // has no XML reader, so — like q59's ORC — the oracle aggregates the
    // SAME source rows from parquet and the check passes only if the XML
    // writer+reader preserve every value through the round trip.
    q("q66_xml_roundtrip",
      """SELECT s_nationkey, count(*) AS n,
        |  round(sum(s_acctbal), 2) AS sum_bal,
        |  min(s_name) AS min_name
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
      // pid+dir-scoped like d41's ledger: Bench and Verify can run this
      // concurrently in separate JVMs, and a shared fixed path would let
      // one overwrite while the other reads
      val out = Registry.scratchDir(
        s"/tmp/graft_conformance/q66_xml_${ProcessHandle.current.pid}_${dir.hashCode.toHexString}")
      table(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite").option("rowTag", "supplier").xml(out)
      s.read.option("rowTag", "supplier").xml(out)
        // XML schema inference widens integers to LONG; restore the
        // source's INTEGER so the round-trip proves value preservation
        // under the original schema
        .groupBy(col("s_nationkey").cast("int").as("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          Qf.dround(sum(col("s_acctbal")), 2).as("sum_bal"),
          min(col("s_name")).as("min_name"))
        .dumpSorted("s_nationkey")
    },
  )
}
