package graft.operators

import graft.{QueryDef, Tables => T}
import graft.functions.ExactAgg._
import org.apache.spark.sql.functions._

/** Multi-dimensional grouping (rollup / cube / grouping sets), set
  * operations, and distinct — all absent from the reference
  * (SURVEY.md §2.9/§2.6); declared extension surface.
  *
  * NULL ordering: Spark's ASC default is NULLS FIRST, DuckDB's is NULLS
  * LAST — every oracle ORDER BY over a rollup/cube column says NULLS
  * FIRST explicitly.
  */
object Grouping {

  /** q16 — rollup over the region→nation hierarchy of customers. */
  val q16 = QueryDef.sql("q16_rollup_region_nation",
    """SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer c
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY ROLLUP(r.r_name, n.n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (s, d) =>
    Seq("customer", "nation", "region").foreach(t =>
      T.load(s, d, t).createOrReplaceTempView(t))
    s.sql(
      """SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY ROLLUP(r.r_name, n.n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
  }

  /** q17 — cube over return flag × line status. */
  val q17 = QueryDef.sql("q17_cube_flag_status",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
    // widened: CUBE expands every row 4× before the partial agg, all of
    // it fused into the single-row-group scan task (guide §2.5)
    T.widened(T.lineitem(s, d).select("l_returnflag", "l_linestatus", "l_quantity"))
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  /** q18 — GROUPING SETS via the SQL surface (spark.sql over temp views). */
  val q18 = QueryDef.sql("q18_grouping_sets",
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, o_orderpriority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((CAST(year(o_orderdate) AS INTEGER)), (o_orderpriority), ())
      |ORDER BY order_year NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
    T.orders(s, d).createOrReplaceTempView("orders")
    s.sql(
      """SELECT year(o_orderdate) AS order_year, o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderpriority), ())
        |ORDER BY order_year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  /** q19 — set algebra: symmetric difference of two customer cohorts
    * (BUILDING-segment vs big-spender) via UNION / INTERSECT / EXCEPT. */
  val q19 = QueryDef.sql("q19_cohort_symmetric_diff",
    """WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
      |     b AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice >= 300000e0)
      |SELECT k FROM (
      |  (SELECT k FROM a UNION SELECT k FROM b)
      |  EXCEPT
      |  (SELECT k FROM a INTERSECT SELECT k FROM b)) t
      |ORDER BY k""".stripMargin) { (s, d) =>
    val a = T.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val b = T.orders(s, d).filter(col("o_totalprice") >= 300000.0)
      .select(col("o_custkey").as("k")).distinct()
    a.union(b).distinct()
      .except(a.intersect(b))
      .orderBy("k")
  }

  /** q20 — distinct projection (shuffle-dedup on the pair). */
  val q20 = QueryDef.sql("q20_distinct_brand_type",
    """SELECT DISTINCT p_brand, p_type FROM part
      |ORDER BY p_brand, p_type""".stripMargin) { (s, d) =>
    T.part(s, d).select("p_brand", "p_type").distinct().orderBy("p_brand", "p_type")
  }

  /** q21r — approx distinct (HLL++): the sketches differ per engine
    * (Spark HLL++ rsd=0.01 vs DuckDB's HLL), so the oracled columns are
    * the exact distincts plus BOOLEAN "estimate within 5% of exact"
    * computed identically on each engine — true when the sketches
    * behave, an alarm if either drifts (same pattern as q57). Both
    * estimates are deterministic functions of the data, so the booleans
    * are stable. */
  val q21r = QueryDef.sql("q21r_approx_distinct",
    """SELECT
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  COUNT(DISTINCT l_suppkey) AS exact_supps,
      |  (abs(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
      |     <= 0.05e0 * COUNT(DISTINCT l_partkey)) AS approx_parts_ok,
      |  (abs(approx_count_distinct(l_orderkey) - COUNT(DISTINCT l_orderkey))
      |     <= 0.05e0 * COUNT(DISTINCT l_orderkey)) AS approx_orders_ok
      |FROM lineitem""".stripMargin) { (s, d) =>
    // N distinct-counts over DIFFERENT columns as ONE scan + a manual
    // unpivot (NOTES.md Round 11, r10 verdict sf1 plan-audit item):
    // posexplode the three key columns to (gid, v) — 3× the rows but
    // only two longs wide — partial-dedup groupBy(gid, v) (map-side
    // combine shrinks the shuffle to the per-partition distinct
    // pairs), then per-gid exact count + HLL over the DEDUPED values
    // (HLL of distinct values ≡ HLL of raw values), and a
    // conditional-agg pivot back to one row. sf1 A/B/C: the old
    // crossJoin-of-3-aggregates 34 s, all-in-one Aggregate (N-way
    // Expand) 131 s, this 1.9 s — and it keeps ONE pass over the
    // data, which is the shape that survives 100 TB.
    // NOT widened: measured +0.60 s at sf0.1 — the partial dedup
    // groupBy(gid, v) compresses best map-side inside the scan task
    // (near-unique keys make the pre-agg exchange pure added bytes)
    val li = T.lineitem(s, d)
    val per = li.select(posexplode(array(
        col("l_partkey").cast("long"), col("l_orderkey").cast("long"),
        col("l_suppkey").cast("long"))).as(Seq("gid", "v")))
      .filter(col("v").isNotNull) // COUNT(DISTINCT) / HLL ignore NULLs
      .groupBy("gid", "v").agg(count(lit(1)).as("_n"))
      .groupBy("gid").agg(
        count(lit(1)).as("exact"),
        approx_count_distinct(col("v"), 0.01).as("approx"))
    per.agg(
      max(when(col("gid") === 0, col("exact"))).as("exact_parts"),
      max(when(col("gid") === 1, col("exact"))).as("exact_orders"),
      max(when(col("gid") === 2, col("exact"))).as("exact_supps"),
      max(when(col("gid") === 0, col("approx"))).as("ap"),
      max(when(col("gid") === 1, col("approx"))).as("ao"))
      .select(col("exact_parts"), col("exact_orders"), col("exact_supps"),
        (abs(col("ap") - col("exact_parts")) <= col("exact_parts") * 0.05)
          .as("approx_parts_ok"),
        (abs(col("ao") - col("exact_orders")) <= col("exact_orders") * 0.05)
          .as("approx_orders_ok"))
  }

  val defs: Seq[QueryDef] = Seq(q16, q17, q18, q19, q20, q21r)
}
