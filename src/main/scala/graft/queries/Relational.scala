package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.{Q, Tables}

/** Core relational operator inventory (SURVEY.md §2) re-expressed over the
  * driver's TPC-H-ish tables, each with a DuckDB oracle.
  *
  * Determinism rules (SURVEY.md §7): every output is totally ordered (ORDER
  * BY with tie-breaks on both sides), and aggregate sums go through DECIMAL
  * internally so results are exact and order-independent — but every FINAL
  * numeric output column is cast to DOUBLE on both engine and oracle sides.
  * Identical exact decimal → identical IEEE double → identical driver hash;
  * leaving DECIMAL in the output makes the hash depend on each engine's
  * trailing-zero rendering ('253942.00' vs '253942.0').
  */
object Relational {

  private val D182 = DecimalType(18, 2)

  /** A1 + pricing-summary aggregation (reference counts at
    * transform_raw_data.py:201,217,233 generalized to grouped aggregates).
    * Scale note: partial (map-side) aggregation on 2 low-cardinality keys
    * makes the shuffle tiny regardless of input size.
    */
  val q_a1_agg: Q = Q(
    "q_a1_agg",
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             COUNT(*) AS count_order,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """),
  ) { (s, d) =>
    // Aggregate in exact DECIMAL (order-independent), then emit DOUBLE:
    // identical exact sum → identical IEEE double on both engines, and the
    // driver's string-hash never sees a trailing-zero scale artifact.
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(D182)).cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(D182)).cast(DoubleType).as("sum_base_price"),
        count(lit(1)).as("count_order"),
      )
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** T1 global top-k (generate_report.py:35): orderBy+limit plans as
    * TakeOrderedAndProject — a true distributed top-k (per-partition heap +
    * single k-row gather), never a full sort, at any scale.
    */
  val q_t1_topk: Q = Q(
    "q_t1_topk",
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 10
    """),
  ) { (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
  }

  /** Multi-way join with broadcast dimensions (§2.3): revenue per nation.
    * nation/region/customer/supplier are small dims → broadcast-hash joins;
    * only the lineitem↔orders join shuffles. At 100 TB the fact-fact join is
    * the one shuffle you cannot avoid; AQE handles skew.
    */
  val q_join_revenue_by_nation: Q = Q(
    "q_join_revenue_by_nation",
    Some("""
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name
      ORDER BY n_name
    """),
  ) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val o  = Tables.orders(s, d)
    val c  = Tables.customer(s, d)
    val n  = Tables.nation(s, d)
    val r  = Tables.region(s, d).filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(
        sum(col("l_extendedprice").cast(D182) * (lit(1) - col("l_discount").cast(D182)))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"),
      )
      .orderBy("n_name")
  }

  /** S10+P6+P7: projection + filter, both pushed into the parquet scan
    * (PushedFilters + ReadSchema pruning — the reference reads everything
    * then filters, generate_report.py:21,34; Catalyst gets this free).
    */
  val q_p6_filter_project: Q = Q(
    "q_p6_filter_project",
    Some("""
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders
      WHERE o_orderstatus = 'F' AND o_totalprice > 400000
      ORDER BY o_orderkey
    """),
  ) { (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 400000)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  /** Left-semi join (EXISTS): customers having at least one big order.
    * Semi joins never materialize the probe side's payload — at scale this
    * beats join+distinct by the width of the orders row.
    */
  val q_join_semi: Q = Q(
    "q_join_semi",
    Some("""
      SELECT c_custkey, c_name
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      ORDER BY c_custkey
    """),
  ) { (s, d) =>
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 450000)
    Tables.customer(s, d)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti join (NOT EXISTS): customers with no pending ('P') order. */
  val q_join_anti: Q = Q(
    "q_join_anti",
    Some("""
      SELECT c_custkey, c_name
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      ORDER BY c_custkey
    """),
  ) { (s, d) =>
    val pending = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
    Tables.customer(s, d)
      .join(pending, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** NOT IN vs NOT EXISTS under a nullable subquery — the three-valued-logic
    * trap pinned as an executed query: `x NOT IN (…NULL…)` can never be TRUE
    * (x <> NULL is unknown, so the conjunction is at best unknown), while
    * NOT EXISTS with an equality correlate treats the NULL row as simply
    * non-matching. A migration that rewrites one into the other silently
    * changes results; both engines must agree on all three counts. Spark
    * plans the NOT IN as a null-aware anti join (a broadcast when the
    * subquery is small — the only safe distributed strategy for null-aware
    * semantics) and the NOT EXISTS as a plain left-anti.
    */
  val q_not_in_nulls: Q = Q(
    "q_not_in_nulls",
    Some("""
      WITH probe AS (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        UNION ALL SELECT NULL
      )
      SELECT
        (SELECT COUNT(*) FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM probe)) AS n_not_in_with_null,
        (SELECT COUNT(*) FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM probe WHERE probe.o_custkey = c_custkey))
          AS n_not_exists,
        (SELECT COUNT(*) FROM customer
         WHERE c_custkey NOT IN
           (SELECT o_custkey FROM probe WHERE o_custkey IS NOT NULL))
          AS n_not_in_clean
    """),
  ) { (s, d) =>
    Tables.registerViews(s, d)
    s.sql("""
      WITH probe AS (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        UNION ALL SELECT NULL
      )
      SELECT
        (SELECT COUNT(*) FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM probe)) AS n_not_in_with_null,
        (SELECT COUNT(*) FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM probe WHERE probe.o_custkey = c_custkey))
          AS n_not_exists,
        (SELECT COUNT(*) FROM customer
         WHERE c_custkey NOT IN
           (SELECT o_custkey FROM probe WHERE o_custkey IS NOT NULL))
          AS n_not_in_clean
    """)
  }

  /** Left-outer join + aggregation with empty-group semantics: per-customer
    * count/sum over only the very largest orders (most customers have none →
    * count 0, sum NULL — exercised null handling on both sides).
    */
  val q_join_outer_agg: Q = Q(
    "q_join_outer_agg",
    Some("""
      SELECT c_custkey,
             COUNT(o_orderkey) AS n_big_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_big
      FROM customer
      LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 490000) o
        ON o_custkey = c_custkey
      GROUP BY c_custkey
      ORDER BY c_custkey
    """),
  ) { (s, d) =>
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 490000)
    Tables.customer(s, d)
      .join(big, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_big_orders"),
        sum(col("o_totalprice").cast(D182)).cast(DoubleType).as("sum_big"),
      )
      .orderBy("c_custkey")
  }

  /** Equi + range join (§2.3): lineitems shipped within 90 days of their
    * order's date. The equi key keeps this a sort-merge join — the range
    * predicate is evaluated inside the merge, no nested loop.
    */
  val q_range_join: Q = Q(
    "q_range_join",
    Some("""
      SELECT o_orderkey, COUNT(*) AS n_quick_ship
      FROM orders
      JOIN lineitem
        ON l_orderkey = o_orderkey
       AND l_shipdate >= o_orderdate
       AND l_shipdate < o_orderdate + INTERVAL 90 DAY
      GROUP BY o_orderkey
      ORDER BY o_orderkey
    """),
  ) { (s, d) =>
    val o  = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    o.join(
        li,
        col("l_orderkey") === col("o_orderkey")
          && col("l_shipdate") >= col("o_orderdate")
          && col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 90 DAYS"),
      )
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_quick_ship"))
      .orderBy("o_orderkey")
  }

  /** ROLLUP (subtotals + grand total). Spark plans one Expand + single
    * aggregate — no repeated scans.
    */
  val q_rollup: Q = Q(
    "q_rollup",
    Some("""
      SELECT l_returnflag, l_linestatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
    """),
  ) { (s, d) =>
    // NOT balanced (r18): the same Balance.ifNarrow call that bought q_cube
    // 0.75x cost q_rollup 1.22x in the r17 driver bench — rollup's Expand is
    // 3 rows/input vs cube's 4, too little compute to amortize the forced
    // exchange. Reverted per the r17 verdict (item 7).
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(D182)).cast(DoubleType).as("sum_qty"),
      )
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  /** Exact COUNT(DISTINCT) per group (partial-aggregated two-phase plan). */
  val q_distinct_agg: Q = Q(
    "q_distinct_agg",
    Some("""
      SELECT l_returnflag,
             COUNT(DISTINCT l_partkey) AS n_parts,
             COUNT(DISTINCT l_suppkey) AS n_supps
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """),
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
      )
      .orderBy("l_returnflag")
  }

  /** UNION with dedup semantics (reference's list.extend merge → unionByName,
    * SURVEY §2.5) — SQL UNION = union + distinct.
    */
  val q_union: Q = Q(
    "q_union",
    Some("""
      SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION
      SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 9000
      ORDER BY c_custkey
    """),
  ) { (s, d) =>
    val c = Tables.customer(s, d)
    c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey", "c_mktsegment")
      .unionByName(c.filter(col("c_acctbal") > 9000).select("c_custkey", "c_mktsegment"))
      .distinct()
      .orderBy("c_custkey")
  }

  /** Star join over the supplier side: economy-part revenue per supplier
    * nation. All three dims (supplier, nation, filtered part) broadcast —
    * the fact table never shuffles before aggregation; the filter on
    * p_type prunes the broadcast build side, not the probe.
    */
  val q_parts_by_supplier_nation: Q = Q(
    "q_parts_by_supplier_nation",
    Some("""
      SELECT n_name,
             COUNT(DISTINCT l_partkey) AS n_econ_parts,
             COUNT(*) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS econ_revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN part     ON l_partkey = p_partkey AND p_type = 'ECONOMY'
      GROUP BY n_name
      ORDER BY n_name
    """),
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.part(s, d).filter(col("p_type") === "ECONOMY")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("n_name")
      .agg(
        countDistinct(col("l_partkey")).as("n_econ_parts"),
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(D182)).cast(DoubleType).as("econ_revenue"),
      )
      .orderBy("n_name")
  }

  /** Exact top-3 order totals per market segment via the custom typed
    * Aggregator (graft.functions.TopKAgg): partial aggregation keeps a
    * k-element buffer per group map-side, so the shuffle carries k doubles
    * per (group × partition) — the window row_number() formulation the
    * oracle uses shuffles and sorts every row. Same rows, k-sized shuffle.
    */
  val q_topk_by_group: Q = Q(
    "q_topk_by_group",
    Some("""
      SELECT c_mktsegment, rnk, price
      FROM (SELECT c_mktsegment, o_totalprice AS price,
                   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                      ORDER BY o_totalprice DESC) AS rnk
            FROM orders JOIN customer ON o_custkey = c_custkey)
      WHERE rnk <= 3
      ORDER BY c_mktsegment, rnk
    """),
  ) { (s, d) =>
    val top3 = udaf(new graft.functions.TopKAgg(3))
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(top3(col("o_totalprice")).as("tops"))
      .select(col("c_mktsegment"), posexplode(col("tops")).as(Seq("pos", "price")))
      .select(col("c_mktsegment"), (col("pos") + 1).cast(LongType).as("rnk"), col("price"))
      .orderBy("c_mktsegment", "rnk")
  }

  /** CUBE: all grouping-set combinations in one Expand + aggregate pass
    * (completes the rollup family; same single-scan property).
    */
  val q_cube: Q = Q(
    "q_cube",
    Some("""
      SELECT l_returnflag, l_linestatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
    """),
  ) { (s, d) =>
    // balanced when the scan is narrower than the core count (r17): CUBE
    // plans an Expand (4 rows out per row in) on the map side — a
    // compute-dense stage a single-row-group file serialized to one task
    graft.util.Balance.ifNarrow(Tables.lineitem(s, d), col("l_orderkey"))
      .cube("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(D182)).cast(DoubleType).as("sum_qty"),
      )
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  /** INTERSECT / EXCEPT set operations (distinct semantics on both engines):
    * customers in BUILDING with a big order, minus those with any pending
    * order.
    */
  val q_setops: Q = Q(
    "q_setops",
    Some("""
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT c_custkey FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey
                    AND o_totalprice > 300000)
      EXCEPT
      SELECT c_custkey FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey
                    AND o_orderstatus = 'P')
      ORDER BY c_custkey
    """),
  ) { (s, d) =>
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val big = c.join(o.filter(col("o_totalprice") > 300000),
      col("c_custkey") === col("o_custkey"), "left_semi").select("c_custkey")
    val pending = c.join(o.filter(col("o_orderstatus") === "P"),
      col("c_custkey") === col("o_custkey"), "left_semi").select("c_custkey")
    building.intersect(big).except(pending).orderBy("c_custkey")
  }

  /** Ranking/offset window suite: rank, dense_rank, ntile, lag, lead over
    * one keyed sort — all share a single shuffle+sort (one Window exec).
    */
  val q_window_suite: Q = Q(
    "q_window_suite",
    Some("""
      SELECT o_custkey, o_orderkey,
             RANK() OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk,
             NTILE(4) OVER w AS quartile,
             LAG(o_totalprice) OVER w AS prev_price,
             LEAD(o_totalprice) OVER w AS next_price
      FROM orders
      WHERE o_custkey < 100
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      ORDER BY o_custkey, rnk, o_orderkey
    """),
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_custkey") < 100)
      .select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
      )
      .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
  }

  /** Distribution window functions — percent_rank / cume_dist (int-ratio
    * doubles, bit-identical cross-engine) plus first/last/nth_value over an
    * explicit full-partition frame (the default ORDER BY frame stops at
    * CURRENT ROW, making last_value a silent identity — the classic window
    * bug, pinned here with the frame spelled out on both engines).
    */
  val q_window_distribution: Q = Q(
    "q_window_distribution",
    Some("""
      SELECT o_custkey, o_orderkey,
             PERCENT_RANK() OVER w AS pr,
             CUME_DIST() OVER w AS cd,
             FIRST_VALUE(o_totalprice) OVER wf AS cheapest,
             LAST_VALUE(o_totalprice) OVER wf AS priciest,
             NTH_VALUE(o_totalprice, 2) OVER wf AS second_cheapest
      FROM orders
      WHERE o_custkey < 100
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
             wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY o_custkey, pr, o_orderkey
    """),
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .filter(col("o_custkey") < 100)
      .select(
        col("o_custkey"), col("o_orderkey"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first(col("o_totalprice")).over(wf).as("cheapest"),
        last(col("o_totalprice")).over(wf).as("priciest"),
        nth_value(col("o_totalprice"), 2).over(wf).as("second_cheapest"),
      )
      .orderBy(col("o_custkey"), col("pr"), col("o_orderkey"))
  }

  /** PIVOT: order counts by status per market segment — Spark's pivot and
    * the oracle's conditional aggregation are the same single-pass plan.
    */
  val q_pivot: Q = Q(
    "q_pivot",
    Some("""
      SELECT c_mktsegment,
             COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_final,
             COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment
    """),
  ) { (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .withColumnsRenamed(Map("O" -> "n_open", "F" -> "n_final", "P" -> "n_pending"))
      .na.fill(0, Seq("n_open", "n_final", "n_pending"))
      .orderBy("c_mktsegment")
  }

  /** UNPIVOT — the inverse reshape of q_pivot: four metric columns melt
    * into (metric, val) long format in the scan projection (an Expand of 4
    * rows per input row, no shuffle), then a 4-group aggregate summarizes
    * each metric. The long layout is what profilers and per-metric
    * histogram jobs consume.
    */
  val q_unpivot: Q = Q(
    "q_unpivot",
    Some("""
      SELECT metric, COUNT(*) AS n, MIN(val) AS min_v, MAX(val) AS max_v,
             CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      FROM (UNPIVOT lineitem ON l_quantity, l_extendedprice, l_discount, l_tax
            INTO NAME metric VALUE val)
      GROUP BY metric
      ORDER BY metric
    """),
  ) { (s, d) =>
    // NOT balanced (r18): the r17 balance exchange bought only 0.93x here
    // and broke the "melts in the scan stage, no extra shuffle" plan pin —
    // the unpivot Expand must stay in the scan stage. Reverted per the r17
    // verdict (item 1).
    Tables.lineitem(s, d)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "val")
      .groupBy("metric")
      .agg(
        count(lit(1)).as("n"),
        min(col("val")).as("min_v"),
        max(col("val")).as("max_v"),
        sum(col("val").cast(D182)).cast(DoubleType).as("sum_v"),
      )
      .orderBy("metric")
  }

  /** CDC-style keyed upsert — MERGE INTO semantics without a table format:
    * full-outer join on the key, change rows win via coalesce. The change
    * set here is derived deterministically (every 10th order re-priced, one
    * synthetic insert) so the oracle can rebuild it; in production the
    * change side is the incoming batch. One shuffle on the merge key; both
    * sides hash-partition, so the plan co-locates at any scale (or goes
    * zero-Exchange over bucketed layouts, io/Layout).
    */
  val q_upsert: Q = Q(
    "q_upsert",
    Some("""
      WITH changes AS (
        SELECT o_orderkey, o_totalprice + 1000.0 AS c_price, 'repriced' AS c_note
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT -1, 999.0, 'inserted'
      )
      SELECT COALESCE(o.o_orderkey, c.o_orderkey) AS o_orderkey,
             COALESCE(c.c_price, o.o_totalprice) AS price,
             COALESCE(c.c_note, 'unchanged') AS note
      FROM orders o FULL OUTER JOIN changes c ON o.o_orderkey = c.o_orderkey
      ORDER BY o_orderkey
    """),
  ) { (s, d) =>
    val orders = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    val changes = orders
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("c_key"),
        (col("o_totalprice") + 1000.0).as("c_price"), lit("repriced").as("c_note"))
      .unionByName {
        import s.implicits._
        Seq((-1L, 999.0, "inserted")).toDF("c_key", "c_price", "c_note")
      }
    orders.join(changes, col("o_orderkey") === col("c_key"), "full_outer")
      .select(
        coalesce(col("o_orderkey"), col("c_key")).as("o_orderkey"),
        coalesce(col("c_price"), col("o_totalprice")).as("price"),
        coalesce(col("c_note"), lit("unchanged")).as("note"),
      )
      .orderBy("o_orderkey")
  }

  /** Bloom-filter pre-join reduction: sketch the dim-side key set, broadcast
    * the sketch, and prefilter the fact rows BEFORE the join shuffle. The
    * tool for a selective dim too large to broadcast-join exactly: at 100 TB
    * the fact shuffle drops to ~the matching fraction (plus the configured
    * false-positive rate), while the exact join downstream clears the false
    * positives — so the composition is row-identical to the plain join,
    * which is exactly what the oracle verifies. (AQE's runtime bloom filter
    * does this opportunistically; this is the declarative form that also
    * composes with operators AQE won't rewrite.)
    */
  def bloomPreJoin(
      fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
      expectedItems: Long = 1000000L, numBits: Long = 8388608L): DataFrame = {
    // might_contain demands a CONSTANT (or scalar subquery) sketch, so the
    // aggregate materializes at plan-build time and embeds as a literal —
    // one distributed pass over the dim keys whose only driver payload is
    // the numBits/8-byte sketch itself (the same shape AQE's runtime bloom
    // filter produces; rows never reach the driver).
    val sketch = dim.agg(graft.functions.BloomFunctions
        .bloomAgg(xxhash64(col(dimKey)), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val prefiltered =
      if (sketch == null) fact.limit(0) // empty dim: nothing can match
      else fact.filter(graft.functions.BloomFunctions
        .mightContain(lit(sketch), xxhash64(col(factKey))))
    prefiltered.join(dim, col(factKey) === col(dimKey))
  }

  /** Revenue by line status for urgent orders through the bloom prefilter —
    * the oracle is the PLAIN join (false positives must be invisible).
    */
  val q_bloom_prejoin: Q = Q(
    "q_bloom_prejoin",
    Some("""
      SELECT l_linestatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY l_linestatus
      ORDER BY l_linestatus
    """),
  ) { (s, d) =>
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    bloomPreJoin(Tables.lineitem(s, d), urgent, "l_orderkey", "o_orderkey")
      .groupBy("l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast(DoubleType).as("revenue"),
      )
      .orderBy("l_linestatus")
  }

  /** Correlated scalar subquery with a NON-equi correlation predicate —
    * top-3 suppliers per nation phrased as "fewer than 3 richer suppliers in
    * my nation". Catalyst decorrelates this into a self-join + aggregate
    * (DecorrelateInnerQuery; SURVEY §4 claims decorrelation "free" — this
    * query pins it). Counts only, so the comparison is exact; the oracle
    * runs the identical SQL. At scale the decorrelated plan is one shuffle
    * of supplier by nation — no per-row re-execution of the subquery, which
    * is what the rewrite buys.
    */
  val q_subquery_correlated: Q = {
    val sql = """
      SELECT s.s_nationkey, s.s_suppkey, s.s_name
      FROM supplier s
      WHERE (SELECT COUNT(*) FROM supplier s2
             WHERE s2.s_nationkey = s.s_nationkey
               AND s2.s_acctbal > s.s_acctbal) < 3
      ORDER BY s.s_nationkey, s.s_suppkey
    """
    Q("q_subquery_correlated", Some(sql)) { (s, d) =>
      Tables.registerViews(s, d)
      s.sql(sql)
    }
  }

  /** Shuffled-hash join, selected explicitly — the third physical
    * equi-join strategy alongside the broadcast (q_join_revenue_by_nation)
    * and sort-merge (q_range_join) queries, completing the strategy
    * matrix. SHJ wins when both sides are too big to broadcast but the
    * build side's PER-PARTITION hash table fits memory: it skips
    * sort-merge's two sorts, at the price of no graceful spill-to-merge.
    * The hint pins the choice; PlanSpec asserts it reached the plan (hints
    * are requests, not commands — an unverified hint is a no-op).
    */
  val q_join_shuffle_hash: Q = Q(
    "q_join_shuffle_hash",
    Some("""
      SELECT o_orderpriority,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """),
  ) { (s, d) =>
    shuffleHashRevenue(s, d)
      .orderBy("o_orderpriority")
  }

  /** Shared with PlanSpec's ShuffledHashJoin pin. */
  def shuffleHashRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).hint("SHUFFLE_HASH"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast(DoubleType).as("revenue"),
      )

  /** LISTAGG / string_agg — the reporting reshape that folds a group's
    * values into one delimited string. Spark has no ordered string_agg
    * aggregate, so the deterministic form is collect_list → sort_array →
    * array_join: the sort happens INSIDE the row after the aggregation, so
    * partition order cannot leak into the output (collect_list alone is
    * nondeterministic — the pitfall this operator exists to pin). The
    * oracle's string_agg(... ORDER BY ...) declares the same order.
    * Scale: one partial-aggregated groupBy; group payloads are
    * bounded (nations per region), never a whole-table concat.
    */
  val q_string_agg: Q = Q(
    "q_string_agg",
    Some("""
      SELECT r_name,
             string_agg(n_name, ',' ORDER BY n_name) AS nations,
             count(*) AS n_nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
      ORDER BY r_name
    """),
  ) { (s, d) =>
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy("r_name")
  }

  def all: Seq[Q] = Seq(
    q_a1_agg, q_t1_topk, q_join_revenue_by_nation,
    q_p6_filter_project, q_join_semi, q_join_anti, q_join_outer_agg,
    q_range_join, q_rollup, q_distinct_agg, q_union, q_parts_by_supplier_nation,
    q_topk_by_group, q_cube, q_setops, q_window_suite, q_window_distribution,
    q_pivot, q_unpivot, q_not_in_nulls,
    q_upsert, q_bloom_prejoin, q_subquery_correlated, q_join_shuffle_hash,
    q_string_agg,
  )
}
