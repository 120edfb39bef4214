package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import Shared._

/** TPC-H shaped relational queries (joins, semi/anti joins, windows,
  * grouping sets) over the lineitem/orders/customer/part/supplier tables. */
object TpchQueries {
  private val PriceFloor = 450000.0                 // semi/anti join threshold

  private def q1Pricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") < lit("2001-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
           dsum(col("l_extendedprice")).as("sum_base_price"),
           dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
           count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  val Q1Pricing = QueryDef("q1_pricing", q1Pricing, () =>
    """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(CAST(CAST(l_quantity AS DOUBLE) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(CAST(CAST(l_extendedprice AS DOUBLE) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS sum_base_price,
                CAST(sum(CAST(CAST(CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE)) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS sum_disc_price,
                count(*) AS count_order
         FROM lineitem WHERE l_shipdate < TIMESTAMP '2001-01-01'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")

  // customer/supplier SCALE WITH SF (unlike nation/region/1-row aggregates),
  // so they carry no forced broadcast() hint anywhere in the TPC-H family:
  // size-based planning broadcasts them at bench scale (same plan) and
  // correctly shuffles them at 100 TB where they cannot fit a broadcast.
  private def q3Revenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
           count_distinct(col("o_orderkey")).as("n_orders"))
      .orderBy("c_mktsegment")
  val Q3Revenue = QueryDef("q3_revenue", q3Revenue, () =>
    """SELECT c_mktsegment,
                CAST(sum(CAST(CAST(CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE)) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
                count(DISTINCT o_orderkey) AS n_orders
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""")

  private def q5Revenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"), // SF-scaling: no forced hint (see q3 note)
            col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
      // nation/region are BOUNDED dims (25/5 rows at any SF): hints stay
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("r_name", "n_name")
  val Q5Revenue = QueryDef("q5_revenue", q5Revenue, () =>
    """SELECT r_name, n_name,
                CAST(sum(CAST(CAST(CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE)) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""")

  /** Q2-style: for each part, the supplier(s) offering it at the minimum
    * lineitem price — correlated-aggregate join (the classic decorrelated
    * min-subquery shape). */
  private def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
    val minPrice = li.groupBy(col("l_partkey"))
      .agg(min(col("l_extendedprice")).as("min_price"))
    li.join(minPrice, Seq("l_partkey"))
      .filter(col("l_extendedprice") === col("min_price"))
      .groupBy(col("l_partkey"))
      .agg(min(col("l_suppkey")).as("cheapest_suppkey"), // deterministic among ties
           min(col("min_price")).as("min_price"))
      .orderBy("l_partkey")
  }
  val Q2MinCostSupplier = QueryDef("q2_min_cost_supplier", q2MinCostSupplier, () =>
    """WITH m AS (SELECT l_partkey, min(CAST(l_extendedprice AS DOUBLE)) AS min_price
                    FROM lineitem GROUP BY l_partkey)
         SELECT l.l_partkey, min(l.l_suppkey) AS cheapest_suppkey,
                min(m.min_price) AS min_price
         FROM lineitem l JOIN m ON l.l_partkey = m.l_partkey
                              AND CAST(l.l_extendedprice AS DOUBLE) = m.min_price
         GROUP BY l.l_partkey ORDER BY l.l_partkey""")

  private def bigSpenders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_totalprice") > PriceFloor)
      .select(col("o_custkey").as("c_custkey"))

  private def semiCustomers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(bigSpenders(s, dir), Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  val SemiCustomers = QueryDef("semi_customers", semiCustomers, () =>
    s"""SELECT c_custkey, c_name, c_mktsegment FROM customer
          WHERE EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND CAST(o_totalprice AS DOUBLE) > $PriceFloor)
          ORDER BY c_custkey""")

  private def antiCustomers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(bigSpenders(s, dir), Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  val AntiCustomers = QueryDef("anti_customers", antiCustomers, () =>
    s"""SELECT c_custkey, c_name, c_mktsegment FROM customer
          WHERE NOT EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey AND CAST(o_totalprice AS DOUBLE) > $PriceFloor)
          ORDER BY c_custkey""")

  private def windowTop2Orders(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rnk")
  }
  val WindowTop2Orders = QueryDef("window_top2_orders", windowTop2Orders, () =>
    """SELECT o_custkey, rnk, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
         FROM (SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
                      row_number() OVER (PARTITION BY o_custkey
                                         ORDER BY CAST(o_totalprice AS DOUBLE) DESC, o_orderkey) AS rnk
               FROM orders)
         WHERE rnk <= 2 ORDER BY o_custkey, rnk""")

  /** TPC-H Q14 shape — promoted-part revenue share for one ship month:
    * conditional decimal aggregation + one final pinned ratio. */
  private def q14Promo(s: SparkSession, dir: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
      .join(t(s, dir, "part").select(col("p_partkey"), col("p_type")),
            col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type").startsWith("PROMO"), disc.cast("decimal(27,6)"))
                 .otherwise(lit(0).cast("decimal(27,6)")))
             .cast("double").as("promo_revenue"),
           dsum(disc).as("total_revenue"),
           count(lit(1)).as("n_items"))
      .withColumn("promo_pct",
        lit(100.0) * col("promo_revenue") / col("total_revenue"))
  }
  // Q14 ratio: identical decimal conditional sums, identical final ops.
  val Q14Promo = QueryDef("q14_promo", q14Promo, () =>
    """WITH j AS (
           SELECT p_type, CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE)) AS disc
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-02-01'),
         a AS (
           SELECT CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                                THEN CAST(CAST(disc AS VARCHAR) AS DECIMAL(27,6))
                                ELSE CAST(CAST(0 AS VARCHAR) AS DECIMAL(27,6)) END) AS DOUBLE)
                    AS promo_revenue,
                  CAST(sum(CAST(CAST(disc AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE)
                    AS total_revenue,
                  count(*) AS n_items
           FROM j)
         SELECT promo_revenue, total_revenue, n_items,
                100.0 * promo_revenue / total_revenue AS promo_pct
         FROM a""")

  /** TPC-H Q17 shape — revenue lost to small-quantity orders of one brand:
    * the correlated `l_quantity < 0.2 · avg(quantity) per part` subquery
    * decorrelated into a per-part aggregate joined back (broadcast — one
    * row per brand part). The threshold is computed through the exact
    * decimal sum + digit string, so its double bits — and therefore every
    * boundary comparison — are identical in any engine. */
  private def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val brandParts = t(s, dir, "part")
      .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))
    val thresh = li
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"))
      .agg(((sum(col("l_quantity").cast("decimal(27,6)"))
               .cast("string").cast("double")
             / count(lit(1)).cast("double")) * lit(0.2)).as("qty_thresh"))
    li.select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(thresh), Seq("l_partkey"))
      .filter(col("l_quantity") < col("qty_thresh"))
      .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
           count(lit(1)).as("n_rows"))
  }
  // Q17: the per-part threshold reproduces bit-for-bit (decimal sum →
  // digit string → one division, one multiply), so the < comparison and
  // the final sums agree exactly.
  val Q17SmallQty = QueryDef("q17_small_qty", q17SmallQty, () =>
    """WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
         th AS (SELECT l_partkey,
                       (CAST(CAST(sum(CAST(CAST(CAST(l_quantity AS DOUBLE) AS VARCHAR) AS DECIMAL(27,6)))
                                  AS VARCHAR) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE)) * 0.2 AS qty_thresh
                FROM lineitem JOIN bp ON l_partkey = p_partkey
                GROUP BY l_partkey)
         SELECT CAST(sum(CAST(CAST(CAST(l.l_extendedprice AS DOUBLE) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE)
                  / 7.0 AS avg_yearly,
                count(*) AS n_rows
         FROM lineitem l JOIN th ON l.l_partkey = th.l_partkey
         WHERE CAST(l.l_quantity AS DOUBLE) < th.qty_thresh""")

  /** TPC-H Q11 shape — group-HAVING against a scalar-threshold subquery
    * (the "important stock" pattern; adapted to the generated tables:
    * supply value = extendedprice·quantity of lines from the nation-subset
    * suppliers, partsupp not being generated). The classic hazard is the
    * fractional threshold (total·0.0001): computed in floats it can
    * mis-classify boundary parts per engine, so the whole comparison stays
    * in exact scaled INTEGERS — cents·quantity sums as decimals, and
    * `10000·part_value > total` replaces `part_value > total·0.0001`
    * (same inequality, zero rounding anywhere). Dims broadcast; one
    * fact-table aggregate, then a 1-row total broadcast back. */
  private def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("l_extendedprice").cast("string").cast("decimal(12,2)")
                   * lit(100)).cast("decimal(14,0)")
    val qty = col("l_quantity").cast("string").cast("decimal(4,0)")
    val supp = t(s, dir, "supplier")
      .filter(col("s_nationkey").isin(1, 3, 5)).select(col("s_suppkey"))
    val parts = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), (cents * qty).as("v"))
      // supp is a supplier FRACTION (3 of 25 nations) — still SF-scaling:
      // no forced hint (see q3 note); the 1-row total below stays hinted
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("v")).as("val_cq"))
    val total = parts.agg(sum(col("val_cq")).as("tot"))
    parts.crossJoin(broadcast(total))
      .filter(col("val_cq") * lit(10000) > col("tot"))
      .select(col("l_partkey"), col("val_cq").cast("long").as("value_cents"))
      .orderBy(col("value_cents").desc, col("l_partkey"))
  }
  // Q11 shape: the fractional HAVING threshold replayed as the exact
  // integer inequality 10000·part > total — cents·quantity HUGEINT-exact.
  val Q11ImportantParts = QueryDef("q11_important_parts", q11ImportantParts, () =>
    """WITH f AS (SELECT l_partkey,
                           CAST(CAST(CAST(CAST(l_extendedprice AS DOUBLE) AS VARCHAR)
                                     AS DECIMAL(12,2)) * 100 AS HUGEINT)
                           * CAST(CAST(CAST(CAST(l_quantity AS DOUBLE) AS VARCHAR)
                                       AS DECIMAL(4,0)) AS HUGEINT) AS v
                    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                    WHERE s_nationkey IN (1, 3, 5)),
         p AS (SELECT l_partkey, sum(v) AS val_cq FROM f GROUP BY 1),
         t AS (SELECT sum(val_cq) AS tot FROM p)
         SELECT l_partkey, CAST(val_cq AS BIGINT) AS value_cents
         FROM p, t WHERE val_cq * 10000 > tot
         ORDER BY value_cents DESC, l_partkey""")

  /** TPC-H Q12 shape — two-way conditional aggregation over the
    * lineitem ⋈ orders join (the q14 CASE-sum pattern, keyed by a line
    * attribute while counting an ORDER attribute; shipmode not being
    * generated, returnflag classes stand in): per flag in a ship-year
    * window, how many lines belong to high- vs low-priority orders. Both
    * sides are fact-sized — the one honest shuffle join — with the date
    * filter pushed to the lineitem scan. */
  private def q12ShipPriority(s: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
              col("l_returnflag").isin("A", "R"))
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
           sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }
  // Q12 shape: two-way conditional aggregation over the fact-fact join,
  // all-integer outputs.
  val Q12ShipPriority = QueryDef("q12_ship_priority", q12ShipPriority, () =>
    """SELECT l_returnflag,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1996-01-01'
           AND l_returnflag IN ('A', 'R')
         GROUP BY 1 ORDER BY 1""")

  /** TPC-H Q19 shape — disjunctive multi-attribute join predicates (OR of
    * brand/size/quantity conjuncts), the classic pushdown-through-OR test. */
  private def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
       col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(10, 30) &&
       col("l_quantity").between(10, 40))
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
             .as("revenue"),
           count(lit(1)).as("n_items"))
  }
  val Q19Disjunctive = QueryDef("q19_disjunctive", q19Disjunctive, () =>
    """SELECT CAST(sum(CAST(CAST(CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE)) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                AND CAST(l_quantity AS DOUBLE) BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
                AND CAST(l_quantity AS DOUBLE) BETWEEN 10 AND 40)""")

  /** TPC-H Q7 shape — bilateral shipping volume between two nations per
    * ship year: the 6-way star join (lineitem ⋈ orders ⋈ customer ⋈
    * supplier ⋈ nation×2) with a symmetric nation-pair predicate; dims
    * broadcast, the fact table never reshuffles before the final
    * small-key aggregate. */
  private def q7Volume(s: SparkSession, dir: String): DataFrame = {
    val (na, nb) = ("NATION_1", "NATION_2")
    val nations = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val supp = t(s, dir, "supplier")
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = t(s, dir, "customer")
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    // cust/supp are customer/supplier-sized (SF-scaling): no forced hint —
    // size-based planning broadcasts them here, shuffles them at 100 TB
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
              (col("supp_nation") === nb && col("cust_nation") === na))
      .groupBy(col("supp_nation"), col("cust_nation"),
               year(col("l_shipdate")).as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
             .as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }
  val Q7Volume = QueryDef("q7_volume", q7Volume, () =>
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                CAST(year(l_shipdate) AS INT) AS l_year,
                CAST(sum(CAST(CAST(CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE)) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
            OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")

  /** TPC-H Q10 shape — top-20 customers by returned-item revenue: 3-way
    * join, exact decimal revenue (so the TakeOrdered boundary is
    * bit-stable), custkey tie-break. */
  private def q10ReturnedTop(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer")
              .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
            col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
             .as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  // Exact decimal revenue makes the top-20 boundary bit-stable; ties
  // break on custkey identically in both engines.
  val Q10ReturnedTop20 = QueryDef("q10_returned_top20", q10ReturnedTop, () =>
    """SELECT c_custkey, c_name,
                CAST(sum(CAST(CAST(CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE)) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_returnflag = 'R'
         GROUP BY 1, 2
         ORDER BY revenue DESC, c_custkey LIMIT 20""")

  /** TPC-H Q15 shape — the top revenue supplier(s) for one ship quarter:
    * revenue "view" + max-subquery join-back. Revenue goes through the
    * exact decimal sum, so the max and the equality against it are
    * bit-stable; ties (multiple suppliers at the max) all surface. */
  private def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
             .as("total_rev"))
    val top = rev.agg(max(col("total_rev")).as("max_rev"))
    t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(top), col("total_rev") === col("max_rev"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy("s_suppkey")
  }
  // Q15: exact decimal revenue makes max and its equality bit-stable.
  val Q15TopSupplier = QueryDef("q15_top_supplier", q15TopSupplier, () =>
    """WITH rev AS (
           SELECT l_suppkey,
                  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE)) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS total_rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_rev
         FROM supplier JOIN rev ON s_suppkey = l_suppkey
         WHERE total_rev = (SELECT max(total_rev) FROM rev)
         ORDER BY s_suppkey""")

  /** TPC-H Q18 shape — large-volume orders: the HAVING-subquery join
    * (orders whose lineitems total > 200 units), top-100 by price. All
    * sums integral-exact (quantity is integral), price is a raw data
    * double — every boundary bit-stable. */
  private def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(27,6)")).cast("double").as("sum_qty"))
      .filter(col("sum_qty") > 200.0)
    t(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
              col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }
  val Q18LargeOrders = QueryDef("q18_large_orders", q18LargeOrders, () =>
    """WITH big AS (
           SELECT l_orderkey,
                  CAST(sum(CAST(CAST(CAST(l_quantity AS DOUBLE) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
           FROM lineitem GROUP BY 1 HAVING sum_qty > 200.0)
         SELECT c_custkey, c_name, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, sum_qty
         FROM orders
         JOIN big ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY CAST(o_totalprice AS DOUBLE) DESC, o_orderkey LIMIT 100""")

  /** TPC-H Q21 shape — "suppliers who kept orders waiting": the multi
    * EXISTS / NOT-EXISTS SELF-JOIN family (reference capability J1
    * generalized to correlated self-subqueries). The testdata has no
    * l_receiptdate/l_commitdate, so `l_returnflag = 'R'` plays the "late
    * line" role: for finished orders, a supplier is solely to blame when
    * its line is flagged, ANOTHER supplier's line exists in the order
    * (EXISTS → left-semi self-join with an inequality conjunct on the
    * orderkey hash join), and NO other supplier's line is flagged
    * (NOT EXISTS → left-anti self-join, same shape). Both correlated
    * subqueries become hash joins on `l_orderkey` with the suppkey
    * inequality as a post-probe conjunct — no nested-loop anywhere; the
    * classic aggregate rewrite (per-order distinct-supplier counts) trades
    * one lineitem shuffle for this plan's two and loses the shape this
    * query exists to exercise. Top-k via TakeOrdered on a total order. */
  private def q21WaitingSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val l1 = li.filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
              .select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"))
    val l2 = li.select(col("l_orderkey").as("l2_orderkey"),
                       col("l_suppkey").as("l2_suppkey"))
    val l3 = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("l3_orderkey"),
              col("l_suppkey").as("l3_suppkey"))
    l1.join(l2, col("l_orderkey") === col("l2_orderkey") &&
                col("l_suppkey") =!= col("l2_suppkey"), "left_semi")
      .join(l3, col("l_orderkey") === col("l3_orderkey") &&
                col("l_suppkey") =!= col("l3_suppkey"), "left_anti")
      .join(t(s, dir, "supplier") // SF-scaling: no forced hint (see q3 note)
              .select(col("s_suppkey"), col("s_name")),
            col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }
  // Q21 shape: both correlated self-subqueries expressed as EXISTS /
  // NOT EXISTS; numwait ties at the LIMIT boundary break on s_name, so
  // the top-100 cut is a total order in both engines.
  val Q21WaitingSupplier = QueryDef("q21_waiting_supplier", q21WaitingSupplier, () =>
    """WITH l1 AS (
           SELECT l.l_orderkey, l.l_suppkey
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           WHERE l.l_returnflag = 'R' AND o.o_orderstatus = 'F')
         SELECT s.s_name, count(*) AS numwait
         FROM l1
         JOIN supplier s ON l1.l_suppkey = s.s_suppkey
         WHERE EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""")

  /** TPC-H Q22 shape — "global sales opportunity": NOT EXISTS + scalar
    * subquery. `c_nationkey` stands in for the phone country code (the
    * testdata has no c_phone): among customers of seven nations, those with
    * above-average positive balance (the scalar AVG bound — computed as a
    * 1-row sum/count frame cross-joined back, the q15 bound-seeding shape,
    * with the division done identically in both engines) who have never
    * placed an URGENT-priority order (left-anti against the filtered orders
    * keys — broadcast at contract scale, a shuffled anti join at 100 TB,
    * same plan shape either way). */
  private def q22SalesOpportunity(s: SparkSession, dir: String): DataFrame = {
    val cset = t(s, dir, "customer")
      .filter(col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val stats = cset.filter(col("c_acctbal") > 0.0)
      .agg(dsum(col("c_acctbal")).as("s"), count(lit(1)).as("n"))
    cset
      .crossJoin(broadcast(stats))
      .filter(col("c_acctbal") > col("s") / col("n"))
      .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
              .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntry"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntry")
  }
  // Q22 shape: scalar AVG bound kept as sum/count so the double division
  // is the identical IEEE operation in both engines; c_acctbal viewed at
  // the engine's canonical DOUBLE width, sums through the digit string.
  val Q22SalesOpportunity = QueryDef("q22_sales_opportunity", q22SalesOpportunity, () =>
    """WITH cset AS (
           SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DOUBLE) AS bal
           FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
         stats AS (
           SELECT CAST(sum(CAST(CAST(bal AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS s,
                  count(*) AS n
           FROM cset WHERE bal > 0)
         SELECT c_nationkey AS cntry, count(*) AS numcust,
                CAST(sum(CAST(CAST(bal AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS totacctbal
         FROM cset c, stats
         WHERE c.bal > stats.s / stats.n
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
         GROUP BY 1 ORDER BY 1""")

  /** TPC-H Q8 shape — national market share: the 8-table star join (fact ⋈
    * part ⋈ orders ⋈ customer ⋈ nation ⋈ REGION ⋈ supplier ⋈ nation again)
    * with a conditional-numerator share aggregate per order year. All dims
    * broadcast; lineitem reshuffles once for the year aggregate. Share =
    * decimal-exact numerator / decimal-exact denominator, divided in
    * double — the identical IEEE operation the oracle performs. */
  private def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val nations = t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val custAsia = t(s, dir, "customer")
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val supp = t(s, dir, "supplier")
      .join(broadcast(nations.select(col("n_nationkey"),
                                     col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val volume = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").filter(col("p_type") === "ECONOMY")
              .select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
                                       col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
      // custAsia/supp are customer/supplier-sized (SF-scaling, a fixed
      // region FRACTION is still linear in SF): no forced hint — a shuffled
      // semi/hash join is the correct 100 TB plan, broadcast at bench scale
      .join(custAsia, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((dsum(when(col("supp_nation") === "NATION_5", volume).otherwise(lit(0.0)))
              / dsum(volume)).as("mkt_share"))
      .orderBy("o_year")
  }
  // Q8 shape: both share legs are decimal-exact sums cast to double, so
  // the division is the identical IEEE operation in both engines.
  val Q8MarketShare = QueryDef("q8_market_share", q8MarketShare, () =>
    """WITH vol AS (
           SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                  CAST(CAST(CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE)) AS VARCHAR) AS DECIMAL(27,6)) AS volume,
                  sn.n_name AS supp_nation
           FROM lineitem
           JOIN part     ON l_partkey = p_partkey
           JOIN orders   ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           JOIN region r  ON cn.n_regionkey = r.r_regionkey
           JOIN supplier s ON l_suppkey = s.s_suppkey
           JOIN nation sn ON s.s_nationkey = sn.n_nationkey
           WHERE r.r_name = 'ASIA' AND p_type = 'ECONOMY')
         SELECT o_year,
                CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume
                              ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE)
                / CAST(sum(volume) AS DOUBLE) AS mkt_share
         FROM vol GROUP BY 1 ORDER BY 1""")

  /** TPC-H Q13 shape — customer order-count distribution: the LEFT OUTER
    * join with a join-side predicate (so zero-order customers survive with
    * count 0) under a two-level aggregate. The outer join shuffles once on
    * custkey; the second aggregate runs over the #distinct-counts-sized
    * frame. o_orderpriority plays the q13 comment-filter role. */
  private def q13OrderDistribution(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    t(s, dir, "customer").select(col("c_custkey"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }
  // Q13 shape: the join-side predicate keeps zero-order customers in the
  // outer join; all quantities integral.
  val Q13OrderDistribution = QueryDef("q13_order_distribution", q13OrderDistribution, () =>
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
           SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
           GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")

  /** TPC-H Q16 shape — supplier count by part attributes with a NOT-IN
    * exclusion: lineitem's (partkey, suppkey) pairs stand in for partsupp;
    * suppliers with negative balance are excluded via an anti join (the
    * NOT IN keys are non-null, so anti-join semantics coincide), then
    * count(DISTINCT suppkey) per (brand, type, size) bucket. */
  private def q16SupplierCnt(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(t(s, dir, "part")
              .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
                      col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
              .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
            col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "supplier").filter(col("s_acctbal") < 0.0)
              .select(col("s_suppkey")), // supplier fraction: SF-scaling, no hint
            col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  // Q16 shape: lineitem (partkey, suppkey) pairs play partsupp; the
  // NOT IN keys are non-null so anti-join semantics coincide.
  val Q16SupplierCnt = QueryDef("q16_supplier_cnt", q16SupplierCnt, () =>
    """SELECT p_brand, p_type, p_size,
                CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
           AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE CAST(s_acctbal AS DOUBLE) < 0)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")

  /** TPC-H Q20 shape — the nested IN chain: suppliers who DOMINATE a
    * STANDARD part's shipments (pair quantity > 2.5× the part's mean
    * per-supplier quantity — the scale-invariant rendition of q20's
    * half-of-availqty test, since share thresholds dilute as supplier
    * count grows) feed an IN-subquery semi join against the supplier dim.
    * lineitem is scanned ONCE: the per-part totals derive from the
    * per-pair DECIMAL sums (decimal addition is exact, so the two-level
    * sum equals the direct one the oracle computes, and the pair row
    * count IS the distinct-supplier count); the tiny per-part frame then
    * broadcasts back onto the pairs, and the dominant supplier-id set
    * broadcasts into the semi join. */
  private def q20DominantSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").filter(col("p_type") === "STANDARD")
              .select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val pairDec = li.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(27,6)")).as("pair_dec"))
    val tot = pairDec.groupBy(col("l_partkey"))
      .agg(sum(col("pair_dec")).as("tot_dec"), count(lit(1)).as("ns"))
    val dominant = pairDec.join(broadcast(tot), Seq("l_partkey"))
      .filter(col("pair_dec").cast("double") * col("ns") >
              lit(2.5) * col("tot_dec").cast("double"))
      .select(col("l_suppkey")).distinct()
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
              .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(dominant), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy("s_suppkey")
  }
  // Q20 shape: the dominance test multiplies decimal-exact-sum doubles
  // the same way on both sides, so the strict > boundary is bit-stable.
  val Q20DominantSupplier = QueryDef("q20_dominant_supplier", q20DominantSupplier, () =>
    """WITH li AS (
           SELECT l_partkey, l_suppkey,
                  CAST(CAST(CAST(l_quantity AS DOUBLE) AS VARCHAR) AS DECIMAL(27,6)) AS qty
           FROM lineitem
           WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'STANDARD')),
         pair AS (
           SELECT l_partkey, l_suppkey, CAST(sum(qty) AS DOUBLE) AS pair_qty
           FROM li GROUP BY 1, 2),
         tot AS (
           SELECT l_partkey, CAST(sum(qty) AS DOUBLE) AS tot_qty,
                  count(DISTINCT l_suppkey) AS ns
           FROM li GROUP BY 1),
         dominant AS (
           SELECT DISTINCT pair.l_suppkey
           FROM pair JOIN tot ON pair.l_partkey = tot.l_partkey
           WHERE pair.pair_qty * tot.ns > 2.5 * tot.tot_qty)
         SELECT s_suppkey, s_name, n_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
         ORDER BY s_suppkey""")

  /** TPC-H Q9 shape — product-type profit by nation and year: the 6-way
    * join with a part-NAME pattern filter and a two-measure profit
    * expression, aggregated over (nation, year). The testdata has no
    * partsupp, so supply cost proxies as 0.6 × p_retailprice (the plan
    * shape — fact ⋈ part[LIKE] ⋈ supplier ⋈ orders ⋈ nation with dims
    * broadcast and one fact shuffle into the small-key aggregate — is what
    * this query exercises, not the cost constant). The profit expression
    * evaluates left-associated in double on both engines, then sums
    * decimal-exact. */
  private def q9ProductProfit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").filter(col("p_name").like("%red%"))
              .select(col("p_partkey"), col("p_retailprice"))),
            col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "supplier") // SF-scaling: no forced hint (see q3 note)
              .select(col("s_suppkey"), col("s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "nation")
              .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
                lit(0.6) * col("p_retailprice") * col("l_quantity")).as("profit"),
           count(lit(1)).as("n_items"))
      .orderBy(col("nation"), col("o_year").desc)
  // Q9 shape: the profit expression evaluates left-associated in double
  // on both sides, then sums decimal-exact through the digit string.
  val Q9ProductProfit = QueryDef("q9_product_profit", q9ProductProfit, () =>
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
                CAST(sum(CAST(CAST(
                  CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE))
                  - 0.6 * CAST(p_retailprice AS DOUBLE) * CAST(l_quantity AS DOUBLE)
                AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS profit,
                count(*) AS n_items
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%red%'
         GROUP BY 1, 2 ORDER BY nation, o_year DESC""")

  private def q6Revenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
              col("l_discount").between(0.02, 0.06) &&
              col("l_quantity") < 10)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
           count(lit(1)).as("n"))
  val Q6Revenue = QueryDef("q6_revenue", q6Revenue, () =>
    """SELECT CAST(sum(CAST(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_discount AS DOUBLE) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
                count(*) AS n
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
           AND CAST(l_discount AS DOUBLE) BETWEEN 0.02 AND 0.06 AND CAST(l_quantity AS DOUBLE) < 10""")

  /** Q4-style: orders with at least one lineitem shipped more than 30 days
    * after the order date (semi join with a non-equi conjunct + interval
    * arithmetic, F5). */
  private def q4LateShipments(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    t(s, dir, "orders")
      .join(li.select(col("l_orderkey"), col("l_shipdate")),
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("interval 30 days"),
            "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }
  val Q4LateShipments = QueryDef("q4_late_shipments", q4LateShipments, () =>
    """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")

  private def rollupPricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  val RollupPricing = QueryDef("rollup_pricing", rollupPricing, () =>
    """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(CAST(CAST(l_quantity AS DOUBLE) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")

  private def cubePricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  val CubePricing = QueryDef("cube_pricing", cubePricing, () =>
    """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")

  /** GROUPING SETS through the SQL surface (the generalization rollup/cube
    * specialize): per-flag totals, per-status totals, and the grand total in
    * one scan. */
  private def groupingSetsPricing(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    s.sql("""
      SELECT l_returnflag, l_linestatus, count(*) AS n
      FROM lineitem_gs
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
  }
  val GroupingSetsPricing = QueryDef("grouping_sets_pricing", groupingSetsPricing, () =>
    """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")

  private def top10Customers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      // customer is SF-scaling: no forced hint (see q3 note)
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)
  val Top10Customers = QueryDef("top10_customers", top10Customers, () =>
    """SELECT c_custkey, c_name,
                CAST(sum(CAST(CAST(CAST(o_totalprice AS DOUBLE) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey, c_name
         ORDER BY revenue DESC, c_custkey LIMIT 10""")

  /** ntile quartiles by order value — distributed rank ([[Ranks.ntileExact]]),
    * not a global single-task window; semantics identical to SQL ntile(4). */
  private def ntileOrders(s: SparkSession, dir: String): DataFrame =
    Ranks.ntileExact(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 4, out = "quartile")
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("quartile")
  val NtileOrders = QueryDef("ntile_orders", ntileOrders, () =>
    """SELECT quartile, count(*) AS n,
                CAST(sum(CAST(CAST(CAST(o_totalprice AS DOUBLE) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS sum_price
         FROM (SELECT CAST(o_totalprice AS DOUBLE) AS o_totalprice,
                      ntile(4) OVER (ORDER BY CAST(o_totalprice AS DOUBLE) DESC, o_orderkey) AS quartile
               FROM orders)
         GROUP BY quartile ORDER BY quartile""")

  private def outerJoinNationSuppliers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .join(t(s, dir, "supplier"), col("n_nationkey") === col("s_nationkey"), "left_outer")
      .groupBy(col("n_name"))
      .agg(count(col("s_suppkey")).as("n_suppliers"))
      .orderBy("n_name")
  val OuterNationSuppliers = QueryDef("outer_nation_suppliers", outerJoinNationSuppliers, () =>
    """SELECT n_name, count(s_suppkey) AS n_suppliers
         FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
         GROUP BY n_name ORDER BY n_name""")

  /** lag/lead analytics: days since each customer's previous order. */
  private def windowOrderGaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("gap_days", datediff(col("o_orderdate"), col("prev_date")))
      .select(col("o_custkey"), col("o_orderkey"), col("gap_days"))
      .orderBy("o_custkey", "o_orderkey")
  }
  val WindowOrderGaps = QueryDef("window_order_gaps", windowOrderGaps, () =>
    """SELECT o_custkey, o_orderkey,
                datediff('day', lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey), o_orderdate) AS gap_days
         FROM orders ORDER BY o_custkey, o_orderkey""")

  /** Correlated scalar subquery through the SQL surface. */
  private def sqlOrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer_v")
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql("""
      SELECT c_custkey,
             (SELECT count(*) FROM orders_v o WHERE o.o_custkey = c.c_custkey) AS n_orders
      FROM customer_v c ORDER BY c_custkey""")
  }
  val SqlOrdersPerCustomer = QueryDef("sql_orders_per_customer", sqlOrdersPerCustomer, () =>
    """SELECT c_custkey,
                (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
         FROM customer c ORDER BY c_custkey""")

  /** ClickHouse `quantileExactWeighted(0.5)(price, quantity)` per return
    * flag ([[RobustStats.weightedQuantile]]): the smallest price whose
    * cumulative quantity reaches half the group total. The result is a
    * data value — no interpolation, exact in any engine. */
  private def weightedMedianPrice(s: SparkSession, dir: String): DataFrame =
    RobustStats.weightedQuantiles(t(s, dir, "lineitem"), "l_returnflag",
        "l_extendedprice", "l_quantity", qs = Seq(0.25, 0.5, 0.75))
      .withColumnRenamed("wq_0.25", "p25_price")
      .withColumnRenamed("wq_0.5", "weighted_median")
      .withColumnRenamed("wq_0.75", "p75_price")
      .orderBy("l_returnflag")
  // Weighted exact median: identical cumulative-weight fold; the min-value-
  // reaching-the-target result is invariant to intra-tie order (see
  // RobustStats.weightedQuantile).
  val WeightedMedianPrice = QueryDef("weighted_median_price", weightedMedianPrice, () =>
    """WITH clean AS (SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v,
                               CAST(CAST(l_quantity AS DOUBLE) AS BIGINT) AS wt
                        FROM lineitem
                        WHERE CAST(l_extendedprice AS DOUBLE) IS NOT NULL AND CAST(l_quantity AS DOUBLE) > 0),
         r AS (SELECT l_returnflag, v,
                      sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS cumw,
                      sum(wt) OVER (PARTITION BY l_returnflag) AS tw
               FROM clean)
         SELECT l_returnflag, CAST(max(tw) AS BIGINT) AS total_weight,
                min(CASE WHEN cumw >= CAST(ceil(0.25 * tw - 1e-9) AS BIGINT)
                         THEN v END) AS p25_price,
                min(CASE WHEN cumw >= CAST(ceil(0.5 * tw - 1e-9) AS BIGINT)
                         THEN v END) AS weighted_median,
                min(CASE WHEN cumw >= CAST(ceil(0.75 * tw - 1e-9) AS BIGINT)
                         THEN v END) AS p75_price
         FROM r GROUP BY 1 ORDER BY 1""")
}
