package graft

import graft.ext._
import graft.ops.{Analytics, BloomJoin, Cardinality, Checksum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Extension operators beyond reference parity (north star, BASELINE.json):
  * classic relational analytics the engine must have at 100 TB (grouped
  * aggregation, broadcast/shuffle joins, tumbling windows, top-k), plus the
  * LLM-training-data ops (dedup family, ANN similarity, text analysis,
  * multimodal plumbing). Same contract as the parity set: deterministic
  * output + a DuckDB oracle.
  */
object ExtQueries {

  private def read(s: SparkSession, dir: String, table: String): DataFrame =
    graft.sources.Tables.table(s, dir, table)

  /** Exact decimal sum of a clean-2dp double column, surfaced as double:
    * bit-identical across engines regardless of add order. */
  private def dsum2(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact decimal sum of a product of two clean-2dp columns. */
  private def dsumProd(a: Column, b: Column): Column =
    sum(a.cast(DecimalType(18, 2)) * b.cast(DecimalType(18, 2))).cast(DoubleType)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ───────── relational analytics ─────────
    "q_agg_group" -> ((s, dir) => {
      // TPC-H Q1-shaped grouped aggregation: partial (map-side) agg +
      // one hash shuffle on the 6-value group key; decimal-exact sums.
      read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum2(col("l_quantity")).as("sum_qty"),
          dsum2(col("l_extendedprice")).as("sum_base"),
          dsumProd(col("l_extendedprice"), lit(1) - col("l_discount")).as("sum_disc"),
          (dsum2(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q_tpch_q1" -> ((s, dir) => {
      // The full TPC-H Q1 pricing summary (q_agg_group's complete
      // form): shipdate cutoff, the three-factor charge sum, and the
      // three averages. Charge is an EXACT decimal product with TIGHT
      // factor precisions — (18,2)·(3,2)·(3,2) widens to (26,6), inside
      // precision 38 on both engines (a naive (18,2)³ overflows 38 and
      // the overflow-rounding rules differ; per-row double rounding
      // measurably knife-edges against DuckDB — both tried and
      // rejected). (3,2) fits because discount and tax are sub-1.
      val li = read(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-06-01").cast("date"))
      val charge = col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1) - col("l_discount")).cast(DecimalType(3, 2)) *
        (lit(1) + col("l_tax")).cast(DecimalType(3, 2))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum2(col("l_quantity")).as("sum_qty"),
          dsum2(col("l_extendedprice")).as("sum_base_price"),
          dsumProd(col("l_extendedprice"), lit(1) - col("l_discount"))
            .as("sum_disc_price"),
          sum(charge).cast(DoubleType).as("sum_charge"),
          round(dsum2(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          round(dsum2(col("l_extendedprice")) / count(lit(1)), 6).as("avg_price"),
          round(dsum2(col("l_discount")) / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q_tpch_q3" -> ((s, dir) => {
      // TPC-H Q3 (shipping-priority revenue): selective dimension
      // filter, two key joins, decimal-exact revenue, top-10 via
      // TakeOrdered — the canonical mid-size analytic join. Catalyst
      // pushes both date filters to the scans; AQE picks the join
      // strategy from runtime sizes.
      val cust = read(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = read(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1997-01-01").cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = read(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1997-01-01").cast("date"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsumProd(col("l_extendedprice"), lit(1) - col("l_discount"))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q_tpch_q5" -> ((s, dir) => {
      // TPC-H Q5 (local-supplier revenue by nation): the six-table
      // snowflake with the c_nationkey = s_nationkey locality
      // constraint — broadcast dims, shuffle joins for the fact
      // tables, decimal-exact close.
      val cust = read(s, dir, "customer").select("c_custkey", "c_nationkey")
      val ord = read(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1998)
        .select("o_orderkey", "o_custkey")
      val li = read(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val sup = read(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val nat = read(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val reg = read(s, dir, "region")
        .filter(col("r_name") === "EUROPE").select("r_regionkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsumProd(col("l_extendedprice"), lit(1) - col("l_discount"))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "q_tpch_q10" -> ((s, dir) => {
      // TPC-H Q10 (returned-item revenue): one quarter of orders, the
      // 'R' lineitems, customer + broadcast nation — top-20 customers
      // by lost revenue. The two fact filters reach both scans; the
      // wide customer attributes ride the group key, not a re-join.
      val cust = read(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val ord = read(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate") < lit("1996-04-01").cast("date"))
        .select("o_orderkey", "o_custkey")
      val li = read(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val nat = read(s, dir, "nation").select("n_nationkey", "n_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(dsumProd(col("l_extendedprice"), lit(1) - col("l_discount"))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    "q_tpch_q7" -> ((s, dir) => {
      // TPC-H Q7 (volume shipping between two nations): both directions
      // of the NATION_1↔NATION_2 pair, revenue by (supp nation, cust
      // nation, ship year). Dims broadcast; the pair filter applies
      // AFTER the nation names attach, pruning to two combinations.
      val li = read(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"),
          year(col("l_shipdate")).as("l_year"))
      val ord = read(s, dir, "orders").select("o_orderkey", "o_custkey")
      val cust = read(s, dir, "customer").select("c_custkey", "c_nationkey")
      val sup = read(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val n1 = read(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = read(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(dsumProd(col("l_extendedprice"), lit(1) - col("l_discount"))
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    "q_tpch_q14" -> ((s, dir) => {
      // TPC-H Q14 (promotion revenue share): one month of lineitems
      // against the part dim — promo revenue over total as a single
      // conditional/unconditional aggregate pair, one scalar row.
      val li = read(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1996-02-01").cast("date"))
        .select("l_partkey", "l_extendedprice", "l_discount")
      val part = read(s, dir, "part").select("p_partkey", "p_type")
      val d = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      val disc = col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1) - col("l_discount")).cast(DecimalType(18, 2))
      d.agg(
          sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0)))
            .cast(DoubleType).as("__p"),
          sum(disc).cast(DoubleType).as("__t"))
        .select(round(lit(100.0) * col("__p") / col("__t"), 6)
          .as("promo_share"))
    }),

    "q_tpch_q18" -> ((s, dir) => {
      // TPC-H Q18 (large-volume customers): the having-subquery shape —
      // a full lineitem pre-aggregation gates the join, so only the
      // handful of >300-qty orders ever shuffle toward orders/customer.
      // The pre-agg is map-side combinable on l_orderkey; AQE sees the
      // tiny survivor set and broadcasts it into both joins.
      val big = read(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dsum2(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 300.0)
      val ord = read(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val cust = read(s, dir, "customer").select("c_custkey", "c_name")
      big.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    "q_tpch_q9" -> ((s, dir) => {
      // TPC-H Q9 (product-type profit by nation and year) ADAPTED to
      // the testdata's columns: there is no partsupp table, so supply
      // cost is modeled as 60% of p_retailprice per unit (same join
      // graph, same expression-heavy aggregate — the 5-way join-reorder
      // stressor is the point, not the cost constant). Plan story: the
      // p_name filter prunes part to ~1/6 and BROADCASTS it into the
      // lineitem scan FIRST — the selective dim cuts the fact before
      // either shuffle join — then supplier rides a second broadcast,
      // orders is the one big shuffle join, nation closes broadcast.
      // A reordering that joined orders first would shuffle 6× the
      // rows; at 100× scale that is the Q9 cliff. Decimal precisions
      // kept tight so the profit sum stays exact inside precision 38
      // on both engines (the Q1 lesson).
      val li = read(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount")
      val part = read(s, dir, "part")
        .filter(col("p_name").contains("bolt"))
        .select("p_partkey", "p_retailprice")
      val sup = read(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val ord = read(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      val nat = read(s, dir, "nation").select("n_nationkey", "n_name")
      val amount =
        col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1) - col("l_discount")).cast(DecimalType(3, 2)) -
        col("p_retailprice").cast(DecimalType(12, 2)) *
          lit(0.60).cast(DecimalType(3, 2)) *
          col("l_quantity").cast(DecimalType(12, 2))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(sum(amount).cast(DoubleType).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    "q_tpch_q21" -> ((s, dir) => {
      // TPC-H Q21 (suppliers who kept orders waiting) ADAPTED to the
      // testdata's columns: no receipt/commit dates, so "late" =
      // l_shipdate more than 90 days after o_orderdate. The shape is
      // the real stressor: the EXISTS (another supplier in the order)
      // becomes a LEFT SEMI join, the NOT EXISTS (no OTHER supplier
      // late) a LEFT ANTI join — the double anti-join pattern whose
      // naive per-row-subquery plan is quadratic at scale. Join order:
      // the nation-filtered supplier broadcast prunes l1 to 1/5 BEFORE
      // the semi/anti shuffles — the cheap filter runs first, the two
      // l_orderkey shuffles only carry the candidate slice against the
      // (orderkey, suppkey, shipdate)-narrow full lineitem side.
      val lateBy = expr("INTERVAL 90 DAYS")
      val ordF = read(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val li = read(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val sup = read(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey")
      // NATION_12 (not TPC-H's SAUDI ARABIA, which the synthetic data
      // lacks): the one nation non-empty at sf0.001/0.01/0.1 alike, so
      // the plan pins and the rows>0 smoke hold at every harness SF.
      val nat = read(s, dir, "nation")
        .filter(col("n_name") === "NATION_12").select("n_nationkey")
      val l1 = li.join(ordF, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + lateBy)
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select("l_orderkey", "l_suppkey", "o_orderdate", "s_name")
      val l2 = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val l3 = li.select(col("l_orderkey").as("ok3"),
        col("l_suppkey").as("sk3"), col("l_shipdate").as("sd3"))
      l1.join(l2, col("ok2") === col("l_orderkey") &&
          col("sk2") =!= col("l_suppkey"), "left_semi")
        .join(l3, col("ok3") === col("l_orderkey") &&
          col("sk3") =!= col("l_suppkey") &&
          col("sd3") > col("o_orderdate") + lateBy, "left_anti")
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    "q_tpch_q4" -> ((s, dir) => {
      // TPC-H Q4 (order-priority checking) ADAPTED: no commit/receipt
      // dates in the testdata, so "late" = a lineitem shipped more
      // than 90 days after the order date (the Q21 convention). The
      // EXISTS compiles to a LEFT SEMI join on l_orderkey whose extra
      // non-equi term references o_orderdate — never a per-order
      // subquery. The quarter filter prunes orders BEFORE the semi
      // shuffle; lineitem ships only (l_orderkey, l_shipdate).
      val ord = read(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("date") &&
          col("o_orderdate") < lit("1996-10-01").cast("date"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val li = read(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      ord.join(li, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    "q_tpch_q6" -> ((s, dir) => {
      // TPC-H Q6 (forecast revenue change): pure scan bandwidth —
      // every predicate and the 4-column projection reach the parquet
      // scan (PushedFilters + ReadSchema), one partial agg, one
      // single-row exchange. The at-scale story is ONLY pruning; a
      // plan that read all 16 lineitem columns for this would be the
      // bug, and the PlanShapeSpec pin would catch it.
      read(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1997-01-01").cast("date") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsumProd(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))
    }),

    "q_tpch_q13" -> ((s, dir) => {
      // TPC-H Q13 (customer order-count distribution) ADAPTED: the
      // reference excludes "special request" comments; there is no
      // comment column, so the excluded class is URGENT orders. LEFT
      // OUTER keeps zero-order customers — the c_count = 0 bucket IS
      // the point of Q13 — and the priority term sits in the JOIN
      // condition (a post-filter would silently fake an inner join).
      // Two aggs: per-customer count, then count-of-counts; both are
      // map-side combinable and the second input is ≤ |customers|.
      val cust = read(s, dir, "customer").select("c_custkey")
      val ord = read(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_orderkey", "o_custkey")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    "q_tpch_q17" -> ((s, dir) => {
      // TPC-H Q17 (small-quantity-order revenue) ADAPTED: brand-only
      // filter (no container column, and brand+size is empty at
      // sf0.001). The correlated per-part avg subquery is DECORRELATED
      // into ONE window over the brand-filtered slice — broadcast the
      // tiny part dim, one hash shuffle on l_partkey, never a per-part
      // subquery or a second lineitem scan. The threshold l_quantity <
      // 0.2·avg(qty) is rewritten 5·qty·cnt < sum(qty): division-free
      // and decimal-exact, so both engines compare identical values.
      val part = read(s, dir, "part")
        .filter(col("p_brand") === "Brand#23").select("p_partkey")
      val li = read(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val w = Window.partitionBy(col("l_partkey"))
      val q = col("l_quantity").cast(DecimalType(12, 2))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .withColumn("__sq", sum(q).over(w))
        .withColumn("__ct", count(lit(1)).over(w))
        .filter(q * lit(5) * col("__ct") < col("__sq"))
        .agg((dsum2(col("l_extendedprice")) / 7.0).as("avg_yearly"))
    }),

    "q_tpch_q22" -> ((s, dir) => {
      // TPC-H Q22 (global sales opportunity) ADAPTED: no phone column,
      // so the country code is c_nationkey over an odd-key set; and
      // "never places orders" is vacuous in the synthetic data (every
      // customer orders), so the anti-join target is HIGH-VALUE orders
      // (> 450k — ~10% of orders, leaving ~35% of customers without
      // one). Shape preserved exactly: scalar avg threshold as a
      // broadcast single-row cross join with the division-free
      // acctbal·n > sum compare, then LEFT ANTI, then the final group.
      // The anti side ships only o_custkey after its selective filter.
      val sel = read(s, dir, "customer")
        .filter(col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val bal = col("c_acctbal").cast(DecimalType(12, 2))
      val thresh = sel.filter(col("c_acctbal") > 0)
        .agg(sum(bal).as("__s"), count(lit(1)).as("__n"))
      val bigOrders = read(s, dir, "orders")
        .filter(col("o_totalprice") > 450000.0).select("o_custkey")
      sel.crossJoin(broadcast(thresh))
        .filter(bal * col("__n") > col("__s"))
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(bal).cast(DoubleType).as("totacctbal"))
        .orderBy("cntrycode")
    }),

    "q_tpch_q2" -> ((s, dir) => {
      // TPC-H Q2 (min-cost supplier per part in a region) ADAPTED: no
      // partsupp table, so the supply relation is the distinct
      // (l_partkey, l_suppkey) pairs observed in lineitem and the
      // supply cost is MIN(l_extendedprice) per pair — an exact double
      // (no arithmetic), so the min-equality compare is bit-identical
      // across engines. The correlated-MIN subquery is the canonical
      // decorrelation cliff: a per-row re-execution is Θ(parts·pairs).
      // Decorrelated here to ONE pass — the region-restricted pair
      // table is computed once and the per-part minimum is a window
      // over it (partitioned by partkey), NOT an agg + self-join that
      // would scan lineitem twice. Join order: the part filter
      // (size ≤ 15 AND one of six types ⇒ ~1/12 of parts) and the
      // region-filtered supplier dim both broadcast into the pair agg
      // before the window, so the window input is already the pruned
      // slice. One lineitem shuffle (the pair agg) + one partkey
      // window shuffle total.
      val ps = read(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("supply_cost"))
      val eu = read(s, dir, "supplier")
        .join(broadcast(read(s, dir, "nation")
          .join(broadcast(read(s, dir, "region")
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
      val pf = read(s, dir, "part")
        .filter(col("p_size") <= 15 && col("p_type") === "LARGE")
        .select("p_partkey", "p_name")
      val w = Window.partitionBy(col("l_partkey"))
      ps.join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
        .withColumn("__mc", min(col("supply_cost")).over(w))
        .filter(col("supply_cost") === col("__mc"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
          "supply_cost")
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    "q_tpch_q8" -> ((s, dir) => {
      // TPC-H Q8 (national market share): NATION_6's share of ECONOMY
      // volume sold to AMERICA-region customers per year. Plan story:
      // the p_type filter (1/6 of parts) broadcasts into lineitem
      // FIRST; orders (date-pruned) is the one big shuffle join;
      // customer rides a second shuffle keyed o_custkey; nation ×2 and
      // region close as broadcasts (supplier is a broadcast too — 100
      // rows). The share division happens on decimal-exact sums cast
      // to double, rounded to 6dp so the compare is bit-stable.
      val vol = col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1) - col("l_discount")).cast(DecimalType(3, 2))
      val pf = read(s, dir, "part")
        .filter(col("p_type") === "ECONOMY").select("p_partkey")
      val ord = read(s, dir, "orders")
        .filter(col("o_orderdate").between("1996-01-01", "1997-12-31"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val amNat = read(s, dir, "nation")
        .join(broadcast(read(s, dir, "region")
          .filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val cust = read(s, dir, "customer")
        .join(broadcast(amNat), col("c_nationkey") === col("cn_key"))
        .select("c_custkey")
      val supNat = read(s, dir, "supplier")
        .join(broadcast(read(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("sn_name"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "sn_name")
      read(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_discount")
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          sum(when(col("sn_name") === "NATION_6", vol)
            .otherwise(lit(0).cast(DecimalType(18, 2)))).cast(DoubleType) /
          sum(vol).cast(DoubleType), 6).as("mkt_share"))
        .orderBy("o_year")
    }),

    "q_tpch_q11" -> ((s, dir) => {
      // TPC-H Q11 (important stock for one nation) ADAPTED: no
      // partsupp, so a part's "value" held by NATION_7's suppliers is
      // the decimal-exact sum of l_extendedprice over that nation's
      // lineitems. Shape preserved: GROUP BY part HAVING value above a
      // fraction of the nation total — the scalar-subquery threshold is
      // a broadcast ONE-ROW cross join (never an unpartitioned window,
      // which would serialize every part through one reducer at scale),
      // and `value·1000 > total` keeps the compare in exact decimal
      // arithmetic with no fraction cast. The nation's supplier dim
      // (~4 of 100 rows) broadcasts into the fact before the partkey
      // shuffle, so the agg only shuffles the 1/25 slice.
      val sup7 = read(s, dir, "supplier")
        .join(broadcast(read(s, dir, "nation")
          .filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      // Eager pin of the per-part agg (bounded by part cardinality):
      // the total-side and filter-side consumers would otherwise each
      // re-run the lineitem scan + partkey shuffle (the isnotnull
      // pushed under the join defeats exchange reuse).
      val pv = read(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(broadcast(sup7), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("__v"))
        .localCheckpoint()
      val tot = pv.agg(sum(col("__v")).as("__tot"))
      pv.crossJoin(broadcast(tot))
        .filter(col("__v") * 1000 > col("__tot"))
        .select(col("l_partkey").as("p_partkey"),
          col("__v").cast(DoubleType).as("part_value"))
        .orderBy(col("part_value").desc, col("p_partkey"))
    }),

    "q_tpch_q12" -> ((s, dir) => {
      // TPC-H Q12 (shipmode / priority matrix) ADAPTED: no
      // shipmode/commit/receipt columns, so the bucketing dimension is
      // lateness severity under the repo's established rule (late =
      // shipped >90d after order date; critical = >180d), restricted to
      // 1997 shipments. The shape is the point: one big
      // lineitem⋈orders shuffle on orderkey (both sides large — the one
      // join in the suite that cannot broadcast either side before the
      // date filters) feeding a two-way CASE pivot aggregate. The
      // year filter is pushed to the lineitem scan; only three narrow
      // columns survive the scan on each side.
      val li = read(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1997)
        .select("l_orderkey", "l_shipdate")
      val ord = read(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 180 DAYS"), "critical")
          .otherwise("late").as("sev"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("sev")
    }),

    "q_tpch_q15" -> ((s, dir) => {
      // TPC-H Q15 (top supplier): revenue per supplier over 1997-Q1,
      // then the supplier(s) whose revenue EQUALS the max. The view +
      // scalar-max shape decorrelates to: one suppkey agg over the
      // date-pruned scan, a broadcast one-row MAX cross join, and an
      // exact-decimal equality (sums are decimal, never double, so
      // max-equality cannot be lost to float association order). The
      // 100-row supplier dim broadcasts for the name at the end.
      // Eager pin of the per-supplier agg (bounded by supplier
      // cardinality): the max side and the filter side would otherwise
      // each re-run the lineitem scan + suppkey shuffle (the isnotnull
      // pushed under the join defeats exchange reuse).
      val rev = read(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-01-01" &&
          col("l_shipdate") < "1997-04-01")
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1) - col("l_discount")).cast(DecimalType(3, 2))).as("__rev"))
        .localCheckpoint()
      val mx = rev.agg(max(col("__rev")).as("__mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("__rev") === col("__mx"))
        .join(broadcast(read(s, dir, "supplier").select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("__rev").cast(DoubleType).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    "q_tpch_q16" -> ((s, dir) => {
      // TPC-H Q16 (supplier count by part attributes) ADAPTED: the
      // supply relation is lineitem's distinct pairs; the excluded
      // "complaint" suppliers are those with negative balance (no
      // comment column). Plan order matters: the part attribute filter
      // (8 of 50 sizes, brand/type excludes) BROADCASTS into lineitem
      // BEFORE the distinct — the dedup shuffle carries ~1/6 of the
      // pairs, not all of them. The supplier blacklist is a broadcast
      // LEFT ANTI (6 rows). COUNT(DISTINCT suppkey) re-shuffles on the
      // 3-col group key; both shuffles are narrow-key only.
      val pf = read(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val bad = read(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      read(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .select("p_brand", "p_type", "p_size", "l_suppkey").distinct()
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    "q_tpch_q19" -> ((s, dir) => {
      // TPC-H Q19 (disjunctive OR-of-ANDs predicate join) ADAPTED to
      // the available columns (no shipmode/shipinstruct): three
      // brand×size×quantity conjunctions OR'd together. The stressor is
      // predicate placement: the part-only disjunction (brand+size) is
      // pre-applied to the part side so the broadcast carries ~3/50 of
      // brands, and the lineitem-only envelope (qty ∈ [1,30]) is pushed
      // to the fact scan; the full mixed-table residual stays on the
      // join. A planner that kept the whole OR as a post-join filter
      // would broadcast all 2000 parts and filter late — at 100× scale
      // that's the Q19 cliff.
      val pf = read(s, dir, "part")
        .filter((col("p_brand") === "Brand#11" && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#22" && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#33" && col("p_size").between(1, 15)))
        .select("p_partkey", "p_brand")
      read(s, dir, "lineitem")
        .filter(col("l_quantity").between(1, 30))
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(broadcast(pf), col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#11" && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#22" && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#33" && col("l_quantity").between(20, 30))))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1) - col("l_discount")).cast(DecimalType(3, 2)))
          .cast(DoubleType).as("revenue"))
    }),

    "q_tpch_q20" -> ((s, dir) => {
      // TPC-H Q20 (suppliers holding excess stock of a part family)
      // ADAPTED: no partsupp/availqty, so "excess" = the supplier
      // shipped MORE THAN HALF of a PROMO part's total 1997 volume.
      // The canonical two-level nested IN (supplier IN pairs WHERE part
      // IN family AND qty > 0.5·(correlated SUM)) decorrelates to ONE
      // aggregate pass: group the PROMO-pruned 1997 slice by
      // (part, supplier), get the part total as a window over the SAME
      // aggregate (partitioned by partkey — never a second lineitem
      // scan), compare in integer-exact decimal (sq·2 > tot), then ONE
      // distinct-suppkey semi join into the nation-filtered supplier
      // dim. The PROMO part list broadcasts before the pair shuffle.
      val promo = read(s, dir, "part")
        .filter(col("p_type") === "PROMO").select("p_partkey")
      val pairs = read(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1997)
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(broadcast(promo), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(12, 2))).as("__sq"))
      val w = Window.partitionBy(col("l_partkey"))
      val excess = pairs
        .withColumn("__tot", sum(col("__sq")).over(w))
        .filter(col("__sq") * 2 > col("__tot"))
        .select("l_suppkey")
      read(s, dir, "supplier")
        .join(broadcast(read(s, dir, "nation")
          .filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    }),

    "q_rolling_mean" -> ((s, dir) => {
      // Frame window: trailing 7-row mean per event type — the rolling
      // analytic beyond the reference's lag-1. (event_id breaks ts ties
      // for a total order.)
      Analytics.rollingMean(
          read(s, dir, "events").select("event_id", "event_type", "ts", "value"),
          "value", Seq("event_type"), Seq("ts", "event_id"), 7, "roll_avg")
        .select("event_id", "event_type", "roll_avg")
        .orderBy("event_id")
    }),

    "q_rolling_mean_salted" -> ((s, dir) => {
      // The SALTED-window recipe on the real corpus: the same trailing
      // 7-row mean as q_rolling_mean, but each event_type's sequence is
      // chunked by calendar day (monotone in ts) and the window runs per
      // (key, chunk) with ghost rows carrying the cross-boundary frame
      // context — the skew escape hatch for a hot key whose plain window
      // would serialize one reducer. The oracle is the PLAIN
      // trailing-frame AVG OVER: a hash match proves the salted plan is
      // value-identical to the unsalted window on real data, not just
      // on the spec's fixtures.
      Analytics.rollingMeanSalted(
          read(s, dir, "events").select("event_id", "event_type", "ts", "value"),
          "value", Seq("event_type"), Seq("ts", "event_id"), 7, "roll_avg",
          chunk = to_date(col("ts")))
        .select("event_id", "event_type", "roll_avg")
        .orderBy("event_id")
    }),

    "q_chunk_budget" -> ((s, dir) => {
      // Long-document splitting: every doc into 64-token chunks (the
      // stage BEFORE packByBudget packs the pieces). Map-only HOF —
      // zero shuffles.
      TextAnalysis.chunkByBudget(read(s, dir, "documents"),
          "doc_id", "text", ChunkBudget)
        .orderBy("doc_id", "chunk_idx")
    }),

    "q_rolling_std" -> ((s, dir) => {
      // Rolling 30-row sample volatility of the value series per event
      // type — exact decimal moments, IEEE closing tree (see
      // Analytics.rollingStd).
      Analytics.rollingStd(
          read(s, dir, "events").select("event_id", "event_type", "ts", "value"),
          "value", Seq("event_type"), Seq("ts", "event_id"),
          RollCorrWindow, "roll_std")
        .select("event_id", "event_type", "roll_std")
        .orderBy("event_id")
    }),

    "q_rolling_corr" -> ((s, dir) => {
      // Rolling lag-1 autocorrelation of the value series per event type
      // over a trailing 30-row window — the co-movement analytic past
      // rollingMean. The lag rides the SAME (event_type, ts, event_id)
      // window the correlation uses, so the plan stays one shuffle.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("ts", "event_id")
      val withLag = read(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("ts"), col("value"))
        .withColumn("value_lag", lag(col("value"), 1).over(w))
      Analytics.rollingCorr(withLag, "value", "value_lag",
          Seq("event_type"), Seq("ts", "event_id"), RollCorrWindow, "roll_corr")
        .select("event_id", "event_type", "roll_corr")
        .orderBy("event_id")
    }),

    "q_drawdown" -> ((s, dir) => {
      // Running peak + drawdown of the value series per event type — the
      // risk analytic over a price-shaped feed. One window shuffle; peak
      // is a raw input (exact), drawdown one rounded IEEE divide.
      Analytics.drawdown(
          read(s, dir, "events").select("event_id", "event_type", "ts", "value"),
          "value", Seq("event_type"), Seq("ts", "event_id"))
        .select("event_id", "event_type", "value", "peak", "drawdown")
        .orderBy("event_id")
    }),

    "q_cum_return" -> ((s, dir) => {
      // Growth since series start per event type: ratio-to-first-value,
      // not a running product — one exact division per row.
      Analytics.cumReturn(
          read(s, dir, "events").select("event_id", "event_type", "ts", "value"),
          "value", Seq("event_type"), Seq("ts", "event_id"))
        .select("event_id", "event_type", "cum_return")
        .orderBy("event_id")
    }),

    "q_ohlc_bars" -> ((s, dir) => {
      // Tick → daily OHLCV+VWAP bars per event type: ONE combine-enabled
      // hash aggregate (min_by/max_by pick the endpoints — no window
      // sort), decimal-exact vwap. The canonical finance downsample.
      Analytics.ohlcBars(
          read(s, dir, "events")
            .select(col("event_type").as("symbol"), col("ts"), col("event_id"),
              col("value"), (col("user_id") + 1).as("qty")),
          Seq(col("symbol")), to_date(col("ts")).as("day"), col("ts"),
          col("event_id"), col("value"), col("qty"), bucketName = "day")
        .orderBy("symbol", "day")
    }),

    "q_bollinger" -> ((s, dir) => {
      // Trailing 20-row mean ± 2σ bands per event type in one window
      // pass — same exact decimal moments as q_rolling_std, three
      // outputs off one shared closing tree.
      Analytics.bollinger(
          read(s, dir, "events").select("event_id", "event_type", "ts", "value"),
          "value", Seq("event_type"), Seq("ts", "event_id"),
          BollingerWindow, 2.0)
        .select("event_id", "event_type", "bb_mid", "bb_upper", "bb_lower")
        .orderBy("event_id")
    }),

    "q_rsi" -> ((s, dir) => {
      // Cutler's 14-diff RSI per event type — the bounded-window
      // momentum oscillator; exact decimal gain/loss sums via the O(n)
      // growing-frame form, one closing double expression.
      Analytics.rsi(
          read(s, dir, "events").select("event_id", "event_type", "ts", "value"),
          "value", Seq("event_type"), Seq("ts", "event_id"), RsiWindow)
        .select("event_id", "event_type", "rsi")
        .orderBy("event_id")
    }),

    "q_partition_diff" -> ((s, dir) => {
      // Partition-level snapshot diff: v2 drops one partition, edits the
      // 'R' partitions' qty, appends a synthetic partition — the diff
      // reports exactly those keys as removed/changed/added from two
      // aggregate scans + a tiny summary join (never a row compare).
      val base = read(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast(DecimalType(19, 2)).as("qty"))
      val edited = base
        .filter(!(col("l_returnflag") === "A" && col("l_linestatus") === "F"))
        .withColumn("qty", when(col("l_returnflag") === "R",
          col("qty") + 1).otherwise(col("qty")).cast(DecimalType(19, 2)))
      val extra = s.range(5).select(
        col("id").as("l_orderkey"), lit(1).cast(IntegerType).as("l_linenumber"),
        lit("Z").as("l_returnflag"), lit("Z").as("l_linestatus"),
        lit(1).cast(DecimalType(19, 2)).as("qty"))
      Checksum.diffPartitions(base, edited.unionByName(extra),
          Seq("l_returnflag", "l_linestatus"),
          Seq("l_orderkey", "l_linenumber", "qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q_expectations" -> ((s, dir) => {
      // Data contract over lineitem: the pre-publish gate every
      // pipeline runs — null bounds, value ranges, domain membership,
      // composite-key uniqueness. The WHOLE contract is one aggregate
      // pass (partial aggs map-side, a one-row shuffle, plus one
      // expand for the uniqueness countDistinct); the report is
      // O(#rules) rows however big the table.
      import graft.ops.Validate
      Validate.expectationReport(read(s, dir, "lineitem"),
          Seq(Validate.notNull("l_shipdate"),
            Validate.inRange("l_quantity", 1, 50),
            Validate.inRange("l_discount", 0, 0.1),
            Validate.positive("l_extendedprice"),
            Validate.inSet("l_returnflag", Seq("A", "N", "R"))),
          uniqueKeys = Seq(Seq("l_orderkey", "l_linenumber")))
        .orderBy("rule")
    }),

    "q_ref_integrity" -> ((s, dir) => {
      // Referential integrity across the star: orphan counts for the
      // two fact→dim edges, each ONE anti join against the distinct
      // parent keys (AQE broadcasts the small side) — never a
      // driver-side key diff.
      import graft.ops.Validate
      Validate.refIntegrityReport(read(s, dir, "orders"), "o_custkey",
          read(s, dir, "customer"), "c_custkey")
        .unionByName(Validate.refIntegrityReport(
          read(s, dir, "lineitem"), "l_orderkey",
          read(s, dir, "orders"), "o_orderkey"))
        .orderBy("rule")
    }),

    "q_profile" -> ((s, dir) => {
      // Per-column dataset profile (rows/nulls/exact distinct/numeric
      // min-max) in ONE aggregate pass over orders — the datasheet for
      // arbitrary tables where corpusDatasheet is the documents-
      // specific one. Non-numeric min/max stays NULL: cross-engine
      // string/timestamp rendering is a minefield the range checks
      // never need.
      graft.ops.Validate.profile(read(s, dir, "orders"))
        .orderBy("column")
    }),

    "q_linear_trend" -> ((s, dir) => {
      // Per-symbol OLS drift: slope/intercept/r² of value against its
      // observation rank — exact decimal moments, one key shuffle (the
      // moment groupBy reuses the rank window's partitioning).
      Analytics.linearTrend(
          read(s, dir, "events").select("event_id", "event_type", "ts", "value"),
          "value", Seq("event_type"), Seq("ts", "event_id"))
        .orderBy("event_type")
    }),

    "q_key_skew" -> ((s, dir) => {
      // Hot-key diagnostic: top-25 users by event count with share and
      // ratio-to-mean-key — what decides which keys need salting at
      // 100 TB. Bounded top-k runs as TakeOrdered, never a full sort.
      Analytics.keySkewProfile(read(s, dir, "events"), Seq("user_id"), SkewTopK)
        .orderBy(col("n").desc, col("user_id"))
    }),

    "q_rollup" -> ((s, dir) => {
      // Multi-level aggregation (ROLLUP): per (flag, status), per flag,
      // and grand total in one pass — Catalyst expands the grouping sets;
      // 'ALL' sentinel keeps the dump hash-stable across engines.
      read(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum2(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"))
        .orderBy("flag", "status")
    }),

    "q_approx_distinct" -> ((s, dir) => {
      // HLL++ distinct-user sketch per event type: the mergeable-sketch
      // path for 100 TB distincts (exact distinct = full key shuffle; the
      // sketch is map-side combinable and constant-size). DuckDB's approx
      // sketch differs bit-wise, so the hash-matchable contract is: emit
      // the exact count plus a boolean asserting the sketch landed within
      // 2% of it — both deterministic (Spark's HLL++ is deterministic for
      // a given input set), so the oracle (exact + literal TRUE) matches.
      // Two-stage shape: distinct (type, user) pairs first (map-side
      // partial dedup, one narrow shuffle), then ONE plain agg — mixing a
      // distinct aggregate with the sketch in a single agg would Expand
      // every input row 2×. The sketch over the deduped pairs is the same
      // HLL estimate (a function of the SET); in production the sketch
      // runs alone over raw rows, constant-size and map-side combinable —
      // the exact count exists here only to ground the oracle.
      read(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
          // count(user_id), not count(1): a NULL user must not count as a
          // distinct user — the sketch and the oracle's COUNT(DISTINCT)
          // both exclude NULLs, so the exact side must too.
          count(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          // Equality short-circuits first: a group whose users are all
          // NULL has exact = approx = 0, and 0/0 would yield NULL where
          // the oracle emits TRUE.
          (col("approx_users") === col("exact_users") ||
            abs(col("approx_users") - col("exact_users")).cast(DoubleType)
              / col("exact_users") <= 0.02).as("within_2pct"))
        .orderBy("event_type")
    }),

    "q_agg_salted" -> ((s, dir) => {
      // Skew-safe two-stage aggregation: salt from the unique orderkey
      // spreads any hot group over 16 reducers; algebraic sums make the
      // two-stage result exactly the one-stage result (the oracle is the
      // PLAIN group-by — equivalence is the point).
      Analytics.saltedSumCount(read(s, dir, "lineitem"), Seq("l_returnflag"),
          col("l_extendedprice").cast(DecimalType(18, 2)), col("l_orderkey"), 16)
        .select(col("l_returnflag"),
          col("sum_v").cast(DoubleType).as("sum_v"), col("n"))
        .orderBy("l_returnflag")
    }),

    "q_join_broadcast" -> ((s, dir) => {
      // Dimension join: part is tiny → explicit broadcast, so the 100 TB
      // fact side never shuffles; agg after join is map-side combinable.
      val li = read(s, dir, "lineitem")
      val p = read(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(dsumProd(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    }),

    "q_join_agg" -> ((s, dir) => {
      // Fact-to-dimension join + rollup by segment: customer is broadcast-
      // size here; at scale both sides hash-shuffle on the key and AQE
      // picks the strategy.
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")
    }),

    "q_window_hourly" -> ((s, dir) => {
      // Tumbling-window aggregation (batch twin of the Structured
      // Streaming path in graft.streaming): window() → hash shuffle on
      // (bucket, type), map-side partials first.
      read(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_v"))
        .select(col("w.start").as("bucket"), col("event_type"), col("n"), col("sum_v"))
        .orderBy("bucket", "event_type")
    }),

    "q_category_drift" -> ((s, dir) => {
      // Categorical PSI: did the event-type MIX shift between the two
      // halves of the month? scoreDrift's twin for label columns —
      // the monitoring check before numeric drift even matters.
      val ev = read(s, dir, "events")
      Classify.categoryDrift(
          ev.filter(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp")),
          ev.filter(col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp")),
          "event_type")
        .orderBy("category")
    }),

    "q_event_transitions" -> ((s, dir) => {
      // Event-path mining: consecutive event-type transitions per user
      // (lead over the per-user time order), global transition counts +
      // the per-source-state probability — the product's Markov
      // transition matrix. One user-keyed window + a bounded
      // (types × types) agg.
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      read(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("__next", lead(col("event_type"), 1).over(w))
        .filter(col("__next").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("__next").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n").cast(DoubleType) /
          sum(col("n")).over(Window.partitionBy("from_type")), 6))
        .orderBy("from_type", "to_type")
    }),

    "q_json_extract" -> ((s, dir) => {
      // Semi-structured extraction at scale: events.props is a JSON
      // property bag; pull `k` with the codegen'd path extractor and
      // aggregate per value — telemetry analysis without a schema
      // migration, map-only until the combine-enabled agg.
      read(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
          col("value"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_v"))
        .orderBy("k")
    }),

    "q_moment_stats" -> ((s, dir) => {
      // Distribution profile per event type in ONE combine-enabled agg:
      // mean/variance/skewness/excess-kurtosis from four algebraic
      // power sums — no percentile sort, no second pass.
      Analytics.momentStats(
          read(s, dir, "events").select("event_type", "value"),
          "value", Seq("event_type"))
        .orderBy("event_type")
    }),

    "q_asof_tolerance" -> ((s, dir) => {
      // Tolerance-bounded as-of join (pandas merge_asof(tolerance=1d)):
      // the latest signup at or before each purchase counts only within
      // a day — stale context must not attach. Same one-shuffle
      // union+window plan; the age gate nulls after the window.
      val ev = read(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value"))
      Analytics.asOfJoinBackward(purchases, signups, "user_id", "ts",
          Map("value" -> "sig_val"), toleranceSec = Some(86400L))
        .select(col("event_id"), col("user_id"), col("sig_val"))
        .orderBy("event_id")
    }),

    "q_anomaly_zscore" -> ((s, dir) => {
      // Rolling outlier detection: trailing 20-row z-score per event
      // type with the |z| > 3 flag — the standard metric-series anomaly
      // gate, O(n) growing-frame moments, flag compared on the ROUNDED z.
      Analytics.rollingZScore(
          read(s, dir, "events").select("event_id", "event_type", "ts", "value"),
          "value", Seq("event_type"), Seq("ts", "event_id"),
          k = ZScoreWindow, out = "zscore")
        .select("event_id", "event_type", "zscore", "zscore_anomaly")
        .orderBy("event_id")
    }),

    "q_attribution" -> ((s, dir) => {
      // First/last-touch attribution per purchase: earliest + latest
      // click/view/signup by the same user in the 3-day lookback —
      // ONE user-key window over a range frame, never the naive
      // conversion×touch range join (Θ(convs · touches-per-user)).
      // Tie-break at equal ts is lexicographic on the channel label,
      // deterministic on both engines.
      Analytics.attributeConversions(read(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"), col("value"),
          isConversion = col("event_type") === "purchase",
          isTouch = col("event_type").isin("click", "view", "signup"),
          touchLabel = col("event_type"),
          lookbackSeconds = AttributionLookbackSec)
        .select(col("conv_id").as("event_id"), col("user_id"),
          col("first_touch"), col("last_touch"))
        .orderBy("event_id")
    }),

    "q_attribution_report" -> ((s, dir) => {
      // Channel-level close over the same attribution rows: conversions
      // and decimal-exact revenue credited to each LAST touch channel
      // ('(none)' = no touch in the window). Tiny post-agg on top of
      // the one-window op.
      Analytics.attributeConversions(read(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"), col("value"),
          isConversion = col("event_type") === "purchase",
          isTouch = col("event_type").isin("click", "view", "signup"),
          touchLabel = col("event_type"),
          lookbackSeconds = AttributionLookbackSec)
        .groupBy(coalesce(col("last_touch"), lit("(none)")).as("channel"))
        .agg(count(lit(1)).as("conversions"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("revenue"))
        .orderBy("channel")
    }),

    "q_attr_linear" -> ((s, dir) => {
      // Multi-touch credit, LINEAR model: each purchase's value splits
      // equally across its in-window touches. Same one-window scale
      // shape as q_attribution (zero joins); the oracle recomputes the
      // split through the naive pair join DuckDB can afford at sf0.01.
      Analytics.attributionReport(read(s, dir, "events"),
        col("user_id"), col("ts"), col("value"),
        isConversion = col("event_type") === "purchase",
        isTouch = col("event_type").isin("click", "view", "signup"),
        touchLabel = col("event_type"),
        lookbackSeconds = AttributionLookbackSec, model = "linear")
    }),

    "q_attr_position" -> ((s, dir) => {
      // Multi-touch credit, POSITION (U-shaped 40/20/40) model: 40% to
      // the first touch's channel, 40% to the last, 20% split across
      // the middles (100% / 50-50 when only one / two touches exist).
      Analytics.attributionReport(read(s, dir, "events"),
        col("user_id"), col("ts"), col("value"),
        isConversion = col("event_type") === "purchase",
        isTouch = col("event_type").isin("click", "view", "signup"),
        touchLabel = col("event_type"),
        lookbackSeconds = AttributionLookbackSec, model = "position")
    }),

    "q_attr_decay" -> ((s, dir) => {
      // Multi-touch credit, TIME-DECAY model: half-life bucketed decay
      // (a touch k day-buckets before the purchase weighs 2^-k). The
      // bucket trick keeps the weights window-computable (per-channel
      // × bucket-residue counts over ONE shared frame) and exact —
      // every weight is a negative power of two, so channel sums are
      // order-independent and hash-match the oracle's pair-join sum.
      Analytics.attributionReport(read(s, dir, "events"),
        col("user_id"), col("ts"), col("value"),
        isConversion = col("event_type") === "purchase",
        isTouch = col("event_type").isin("click", "view", "signup"),
        touchLabel = col("event_type"),
        lookbackSeconds = AttributionLookbackSec, model = "decay",
        halflifeSeconds = 24L * 3600)
    }),

    "q_attr_shapley" -> ((s, dir) => {
      // Multi-touch credit, ORDERED-SHAPLEY model: position k of n
      // in-window touches earns (H(n) − H(n−k))/n of the value — the
      // airport-game closed form, recency-monotone but nowhere zero.
      // Same one-window zero-join shape as the other models; weights
      // are 1e18-scaled exact longs folded per channel with HOFs, so
      // the oracle's pair-join + weight-table replay hash-matches.
      Analytics.attributionShapley(read(s, dir, "events"),
        col("user_id"), col("ts"), col("value"),
        isConversion = col("event_type") === "purchase",
        isTouch = col("event_type").isin("click", "view", "signup"),
        touchLabel = col("event_type"),
        lookbackSeconds = AttributionLookbackSec)
    }),

    "q_profile_drift" -> ((s, dir) => {
      // Freshness/volume contract between two snapshot versions: v1 =
      // the even docs, v2 = the full corpus; the drift report reads
      // both PUBLISHED versions of the sink and diffs their profiles —
      // row growth, null-rate delta, distinct drift per column. The
      // oracle recomputes both profiles straight from the logical
      // table. (The r14 gate item: Upsert.writeSnapshotGated runs
      // driftViolations over exactly this report BEFORE publishing.)
      val (path, _) = freshScratch(s, dir, "snap_drift")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path, docs, Seq("doc_id"), Seq("doc_id"))
      graft.ops.Validate.profileDrift(
          graft.ops.Validate.profile(
            graft.ops.Upsert.readSnapshot(s, path, 2)),
          graft.ops.Validate.profile(
            graft.ops.Upsert.readSnapshot(s, path, 1)))
        .orderBy("column")
    }),

    "q_time_travel_ts" -> ((s, dir) => {
      // AS-OF time travel: read the sink at the wall-clock instant v1
      // was published — after v2 exists — and get exactly v1's content.
      // The publish stamps are written by the sink itself (v<N>.meta);
      // the 15 ms pause guarantees v2's stamp is strictly later even at
      // clock granularity, so the resolver's answer is deterministic.
      val (path, _) = freshScratch(s, dir, "snap_ttts")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      val t1 = graft.ops.Upsert.publishedAtMs(s, path, 1)
      Thread.sleep(15)
      graft.ops.Upsert.writeSnapshot(s, path, docs, Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.readSnapshotAsOf(s, path, t1).orderBy("doc_id")
    }),

    "q_snap_point_lookup" -> ((s, dir) => {
      // Key-range-pruned POINT READ: the sink lands as two disjoint
      // key-range batches (low/high doc_id halves); looking up a
      // handful of low keys must open ONLY the low dir — asserted via
      // the probe audit (a wrong candidate set fails loudly here, and
      // UpsertPartitionedSpec pins it structurally). Oracle: a plain
      // filter on the logical table.
      val (path, _) = freshScratch(s, dir, "snap_point")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      val mid = 250L // non-empty halves at every SF (doc_id 0..499 at sf0.01)
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") < mid), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") >= mid), Seq("doc_id"), Seq("doc_id"))
      val probe = docs.filter(col("doc_id") % 100 === 7 &&
        col("doc_id") < mid).select("doc_id") // 7, 107, 207 at every SF
      val out = graft.ops.Upsert.readSnapshotForKeys(s, path, 2, probe,
        Seq("doc_id")).orderBy("doc_id")
      val probed = graft.ops.Upsert.lastProbedDirs.get()
      require(probed == Seq("batch-1"),
        s"point lookup probed $probed, expected only batch-1 — " +
          "key-range pruning regressed")
      out
    }),

    "q_snap_optimize" -> ((s, dir) => {
      // Bin-pack OPTIMIZE: three trickle batches pack into ONE dir
      // while the big first batch carries by reference — maintenance
      // cost proportional to the new data, not the corpus. The query
      // itself requires the manifest shape (pack + carried big dir);
      // the oracle pins the content: identical to the full table.
      val (path, fs) = freshScratch(s, dir, "snap_opt")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 4 =!= 0), Seq("doc_id"), Seq("doc_id"))
      for (r <- 1 to 3)
        graft.ops.Upsert.writeSnapshot(s, path,
          docs.filter(col("doc_id") % 4 === 0 && col("doc_id") % 3 === r % 3),
          Seq("doc_id"), Seq("doc_id"))
      val bigSize = fs.getContentSummary(
        new org.apache.hadoop.fs.Path(path, "batch-1")).getLength
      val v = graft.ops.Upsert.compactSnapshots(s, path,
        smallBytes = bigSize - 1)
      val dirs = graft.table.Protocol.manifestDirs(fs, path, v)
      require(dirs.sorted == List("batch-1", s"compact-$v"),
        s"optimize must pack the trickle dirs and carry the big one: $dirs")
      graft.ops.Upsert.readSnapshot(s, path, v).orderBy("doc_id")
    }),

    "q_snap_write_pruned" -> ((s, dir) => {
      // WRITE-PATH pruning (the r16 verdict's last corpus-proportional
      // sink cost): an append's keep-existing anti join probes only the
      // dirs the batch's key range can overlap — here the high half,
      // never the low dir. The query requires the probe audit; the
      // oracle pins the keep-existing CONTENT (the re-sent high rows
      // must lose to the sink's copies, the genuinely-new low rows
      // land), which a wrong candidate set would corrupt.
      val (path, _) = freshScratch(s, dir, "snap_wp")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      val mid = 250L
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") < mid && col("doc_id") % 2 === 0),
        Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") >= mid), Seq("doc_id"), Seq("doc_id"))
      // High-keys-only append: re-sends of existing high rows (doctored
      // n_chars that MUST lose) plus nothing new — probed = high dir.
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") >= mid && col("doc_id") % 3 === 0)
          .withColumn("n_chars",
            lit(-1).cast(docs.schema("n_chars").dataType)),
        Seq("doc_id"), Seq("doc_id"))
      val probed = graft.ops.Upsert.lastProbedDirs.get()
      require(probed == Seq("batch-2"),
        s"append probed $probed, expected only batch-2 — write-path " +
          "keep-existing pruning regressed")
      // Low-keys append of the odd low half: disjoint from batch-2 and
      // batch-3 ranges, overlaps batch-1's range but not its (even)
      // keys — all rows are fresh and land.
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") < mid && col("doc_id") % 2 === 1),
        Seq("doc_id"), Seq("doc_id"))
      val probed2 = graft.ops.Upsert.lastProbedDirs.get()
      require(probed2.forall(_ == "batch-1"),
        s"low append probed $probed2 — must never open the high dirs")
      graft.ops.Upsert.readSnapshot(s, path,
        graft.ops.Upsert.latestVersion(s, path)).orderBy("doc_id")
    }),

    "q_snap_retention" -> ((s, dir) => {
      // Wall-clock retention: three versions, then "keep what a reader
      // at v3's instant could see" — v1/v2 expire, v3 survives whole
      // (its manifest still references the shared early dirs, so their
      // bytes stay). Oracle: the full table — retention changes which
      // VERSIONS resolve, never the surviving version's content.
      val (path, fs) = freshScratch(s, dir, "snap_ret")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 3 === 0), Seq("doc_id"), Seq("doc_id"))
      Thread.sleep(15)
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 3 === 1), Seq("doc_id"), Seq("doc_id"))
      Thread.sleep(15)
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 3 === 2), Seq("doc_id"), Seq("doc_id"))
      val t3 = graft.ops.Upsert.publishedAtMs(s, path, 3)
      graft.ops.Upsert.expireSnapshotsOlderThan(s, path, t3)
      val versions = graft.table.SnapLog.list(fs, path).versions
      require(!versions.contains(1) && versions.contains(3),
        "retention must expire v1/v2 and keep the as-of horizon v3")
      graft.ops.Upsert.readSnapshot(s, path, 3).orderBy("doc_id")
    }),

    "q_snap_count" -> ((s, dir) => {
      // COUNT(*) from driver metadata: three appends + a merge build a
      // four-dir version whose row count must come entirely from the
      // `__rows` sidecar lines — the in-query require proves NO dir was
      // scanned. Oracle: plain count of the logical table (the merge
      // deletes the %100==3 keys and the appends cover the rest).
      val (path, _) = freshScratch(s, dir, "snap_cnt")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 1), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.mergeSnapshot(s, path,
        docs.filter(col("doc_id") % 100 === 3).withColumn("__op", lit("D")),
        Seq("doc_id"), Seq("doc_id"), "__op")
      val v = graft.ops.Upsert.latestVersion(s, path)
      val n = graft.ops.Upsert.countSnapshot(s, path, v)
      require(graft.ops.Upsert.lastCountScanned.get().isEmpty,
        s"metadata count scanned dirs: " +
          s"${graft.ops.Upsert.lastCountScanned.get()}")
      import s.implicits._
      Seq(n).toDF("n_rows")
    }),

    "q_snap_history" -> ((s, dir) => {
      // DESCRIBE HISTORY at metadata cost: every version's dir count
      // and row count, the counts answered from the __rows sidecars
      // (required below — no scan). published_ms is wall-clock and
      // excluded from the oracle'd columns.
      val (path, _) = freshScratch(s, dir, "snap_hist")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 1), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.mergeSnapshot(s, path,
        docs.filter(col("doc_id") % 100 === 3).withColumn("__op", lit("D")),
        Seq("doc_id"), Seq("doc_id"), "__op")
      val h = graft.ops.Upsert.snapshotHistory(s, path)
        .select("version", "n_dirs", "n_rows").orderBy("version")
      require(graft.ops.Upsert.lastCountScanned.get().isEmpty,
        "history must count from sidecars alone")
      h
    }),

    "q_snap_changes" -> ((s, dir) => {
      // CHANGE FEED (Delta CDF read-side parity): v1 = the even docs;
      // v2 = a merge updating the %10==0 keys (+1000 chars), deleting
      // the %10==2 keys and inserting the %10==1 odds. The key-diff
      // change feed between the two versions must be EXACTLY those
      // I/U/D rows — unchanged keys (%10 ∈ {4,6,8}) absent, D rows
      // carrying the OLD values, U rows the new. One full-outer key
      // join of the two versions; no history walk.
      val (path, _) = freshScratch(s, dir, "snap_cdf")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      val changes =
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("__op", lit("U"))
        .unionByName(docs.filter(col("doc_id") % 10 === 2)
          .withColumn("__op", lit("D")))
        .unionByName(docs.filter(col("doc_id") % 10 === 1)
          .withColumn("__op", lit("I")))
      graft.ops.Upsert.mergeSnapshot(s, path, changes,
        Seq("doc_id"), Seq("doc_id"), "__op")
      graft.ops.Upsert.snapshotChanges(s, path, 1, 2, Seq("doc_id"))
        .orderBy("doc_id")
    }),

    "q_snap_feed_stream" -> ((s, dir) => {
      // The change feed as a REAL Structured Streaming source:
      // readStream.format("graft") with snapshot VERSIONS as the
      // checkpointed offsets. Run 1 delivers the CDC initial snapshot
      // (v1 as I rows) and commits its offset; a COW merge lands while
      // the stream is down; run 2 resumes FROM THE CHECKPOINT and
      // delivers exactly the merge's I/U/D span (recorded O(changes)
      // path) — the requires pin the resume (no re-delivered
      // snapshot) and the recorded mode. Output = the sink-as-state
      // accumulation of every micro-batch; the oracle recomputes the
      // same I + I/U/D multiset.
      val (path, fs) = freshScratch(s, dir, "feed_stream")
      val ckpt = s"${path}_ckpt"; val out = s"${path}_out"
      Seq(ckpt, out).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 10 isin (0, 2, 4)),
        Seq("doc_id"), Seq("doc_id"))
      def run(): Unit = {
        val q = s.readStream.format("graft").option("changeFeed", "true")
          .load(path)
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.write.mode("append").parquet(out); ()
          }.start()
        q.processAllAvailable(); q.stop()
      }
      run()
      val afterInit = s.read.parquet(out).count()
      graft.ops.Upsert.mergeSnapshot(s, path,
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("__op", lit("U"))
        .unionByName(docs.filter(col("doc_id") % 10 === 2)
          .withColumn("__op", lit("D")))
        .unionByName(docs.filter(col("doc_id") % 10 === 6)
          .withColumn("__op", lit("I"))),
        Seq("doc_id"), Seq("doc_id"), "__op")
      run()
      val rows = s.read.parquet(out)
      // Resume proof: the UNCHANGED class (%10==4) was delivered once,
      // by the initial snapshot — a replayed snapshot would double it.
      require(rows.count() > afterInit &&
        rows.filter(col("doc_id") % 10 === 4).count() == afterInit / 3,
        s"restart must RESUME from the committed version, not replay " +
          s"the snapshot: $afterInit -> ${rows.count()}")
      require(graft.ops.Upsert.lastChangesMode.get().startsWith("recorded:"),
        s"the resumed span must ride the recorded path: ${
          graft.ops.Upsert.lastChangesMode.get()}")
      rows.orderBy("doc_id", "op")
    }),

    "q_gate_incremental" -> ((s, dir) => {
      // The drift gate at BATCH cost: after one bootstrap profile pass,
      // every later gated publish diffs the maintained v<N>.profile
      // sidecar against the fresh rows' one-pass sketch — required via
      // the gate-mode audit ("maintained" = no corpus scan). The oracle
      // pins the published content; a gate that refused a clean batch
      // (sketch drift where there is none) would fail it.
      val (path, _) = freshScratch(s, dir, "snap_gate")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      def gated(batch: DataFrame): Int =
        graft.ops.Upsert.writeSnapshotGated(s, path, batch,
          Seq("doc_id"), Seq("doc_id"),
          maxNullRateJump = 0.1, maxRowGrowthPct = 1000.0)
      gated(docs.filter(col("doc_id") % 3 === 0))
      gated(docs.filter(col("doc_id") % 3 === 1)) // bootstraps the sidecar
      val v = gated(docs.filter(col("doc_id") % 3 === 2))
      require(graft.ops.Upsert.lastGateMode.get() == "maintained",
        s"third gated publish ran '${graft.ops.Upsert.lastGateMode.get()}' " +
          "— the maintained-profile path regressed to corpus scans")
      graft.ops.Upsert.readSnapshot(s, path, v).orderBy("doc_id")
    }),

    "q_snap_changes_compacted" -> ((s, dir) => {
      // CHANGE FEED ACROSS A FULL COMPACTION, at O(changes) cost: the
      // span v1→v4 crosses a compactSnapshots boundary, where the
      // key-diff degrades to joining both full corpora (every dir
      // renamed). The write-time change records compose instead — the
      // in-query require pins the recorded path (no version dirs read
      // by the feed); the oracle pins the exact endpoint I/U/D set.
      val (path, _) = freshScratch(s, dir, "snap_cdr")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      val changes =
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("__op", lit("U"))
        .unionByName(docs.filter(col("doc_id") % 10 === 2)
          .withColumn("__op", lit("D")))
        .unionByName(docs.filter(col("doc_id") % 10 === 1)
          .withColumn("__op", lit("I")))
      graft.ops.Upsert.mergeSnapshot(s, path, changes,
        Seq("doc_id"), Seq("doc_id"), "__op")           // v2: the merge
      graft.ops.Upsert.compactSnapshots(s, path)        // v3: boundary
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 10 === 5),
        Seq("doc_id"), Seq("doc_id"))                   // v4: append
      val out = graft.ops.Upsert.snapshotChanges(s, path, 1, 4,
        Seq("doc_id")).orderBy("doc_id")
      val mode = graft.ops.Upsert.lastChangesMode.get()
      require(mode == "recorded:2,3,4",
        s"feed ran '$mode' — the recorded composition regressed to the " +
          "key-diff (full-corpus join across the compaction)")
      val (oldSide, newSide) = graft.ops.Upsert.lastDiffDirs.get()
      require(oldSide.isEmpty && newSide.isEmpty,
        s"recorded feed must read no version dirs: $oldSide / $newSide")
      out
    }),

    "q_snap_skip" -> ((s, dir) => {
      // VALUE-COLUMN data skipping: the sink's two dirs separate on a
      // declared skip column (score = doc_id % 100) while their KEY
      // ranges fully overlap — key stats cannot prune, the value box
      // can. A bounded read [60,70] must open ONLY the high-score
      // dir — required via the probe audit — while both dirs' doc_id
      // KEY ranges interleave across the whole domain (key stats alone
      // cannot prune); the oracle pins the exact filtered rows, which
      // a wrong candidate set would lose. Bounds [60,70] sit inside
      // the high band at every SF (doc_id is dense from 0).
      val (path, _) = freshScratch(s, dir, "snap_skip")
      val docs = read(s, dir, "documents")
        .select("doc_id", "source", "n_chars")
        .withColumn("score", col("doc_id") % 100)
      graft.ops.Upsert.declareSkipCols(s, path, Seq("score"))
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("score") < 50), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("score") >= 50), Seq("doc_id"), Seq("doc_id"))
      val out = graft.ops.Upsert.readSnapshotWhere(s, path, 2,
        Map("score" -> ((60L, 70L)))).orderBy("doc_id")
      val probed = graft.ops.Upsert.lastProbedDirs.get()
      require(probed == Seq("batch-2"),
        s"bounded read probed $probed, expected only batch-2 — " +
          "value-column skipping regressed")
      out
    }),

    "q_snap_rename" -> ((s, dir) => {
      // DECLARED schema evolution as metadata: after renameColumn +
      // addColumn, old dirs heal at read time (n_chars surfaces as
      // len), a producer still emitting the dead name is normalized
      // into the live column (required structurally below — no fork),
      // and the added column reads as typed NULL. Zero data rewritten.
      val (path, _) = freshScratch(s, dir, "snap_ren")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.renameColumn(s, path, "n_chars", "len")
      graft.ops.Upsert.addColumn(s, path, "lang",
        org.apache.spark.sql.types.StringType)
      // The odd batch still uses the DEAD name — write-side
      // normalization must land it under `len`.
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 1), Seq("doc_id"), Seq("doc_id"))
      val b2 = s.read.parquet(s"$path/batch-2").columns.toSeq
      require(b2.contains("len") && !b2.contains("n_chars"),
        s"dead-name batch forked the physical schema: $b2")
      graft.ops.Upsert.readSnapshot(s, path, 2)
        .select("doc_id", "source", "len", "lang").orderBy("doc_id")
    }),

    "q_snap_vacuum" -> ((s, dir) => {
      // Crashed-rewriter hygiene: a claim-named dir that never
      // published (here: a doctored copy injected beside the sink) is
      // referenced by NO manifest — expiry can never reclaim it. The
      // graced vacuum must delete EXACTLY it (required below: count 1
      // + the dir gone + the data dirs intact) and the read — the
      // oracle'd surface — is unchanged: hygiene touches storage,
      // never content.
      val (path, fs) = freshScratch(s, dir, "snap_vac")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 1), Seq("doc_id"), Seq("doc_id"))
      // The orphan: rows that must NEVER surface, under a rewrite-
      // class name (what a crashed merge leaves behind).
      docs.filter(col("doc_id") < 50)
        .withColumn("n_chars", lit(-999L))
        .write.parquet(s"$path/batch-1-m9")
      val n = graft.ops.Upsert.vacuumOrphans(s, path, minAgeMs = 0L)
      require(n == 1 &&
        !fs.exists(new org.apache.hadoop.fs.Path(path, "batch-1-m9")) &&
        fs.exists(new org.apache.hadoop.fs.Path(path, "batch-1")) &&
        fs.exists(new org.apache.hadoop.fs.Path(path, "batch-2")),
        s"vacuum must reclaim exactly the orphan (got $n)")
      graft.ops.Upsert.readSnapshot(s, path, 2).orderBy("doc_id")
    }),

    "q_snap_minmax" -> ((s, dir) => {
      // MIN/MAX at driver-metadata cost (the COUNT(*) sibling): the
      // `.stats` sidecars already carry each dir's key bounds, and
      // min-of-mins over disjoint dirs IS the version's min. The
      // require pins the no-scan path; the oracle the exact values.
      val (path, _) = freshScratch(s, dir, "snap_mm")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 1), Seq("doc_id"), Seq("doc_id"))
      val (lo, hi) = graft.ops.Upsert.minMaxSnapshot(s, path, 2, "doc_id")
      require(graft.ops.Upsert.lastMinMaxScanned.get().isEmpty,
        s"metadata min/max scanned dirs: " +
          s"${graft.ops.Upsert.lastMinMaxScanned.get()}")
      import s.implicits._
      Seq((lo.get.asInstanceOf[Long], hi.get.asInstanceOf[Long]))
        .toDF("min_id", "max_id")
    }),

    "q_snap_consume" -> ((s, dir) => {
      // Cursor-tracked feed consumption: the first consume delivers
      // the initial snapshot (I rows, cursor → v1); after the merge,
      // the second consume delivers EXACTLY the v1→v2 span — the
      // oracle is the same exact I/U/D set as q_snap_changes, now
      // arriving through the consumer loop with its durable cursor.
      // The v1 slice is ONLY the classes the pins need — %10∈{0,2}
      // present for U/D, %10==4 carried untouched (absent from the
      // span), %10==1 absent for the I — the initial-snapshot consume
      // was the suite's most expensive fixture read and the evens'
      // other classes bought nothing.
      val (path, _) = freshScratch(s, dir, "snap_cons")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter((col("doc_id") % 10).isin(0, 2, 4)),
        Seq("doc_id"), Seq("doc_id"))
      val cursor = s"$path/_consumer/main.cursor"
      var span: org.apache.spark.sql.DataFrame = null
      require(graft.ops.Upsert.consumeChanges(s, path, cursor,
        Seq("doc_id"))(df => span = df) == 1, "initial snapshot covers v1")
      val changes =
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("__op", lit("U"))
        .unionByName(docs.filter(col("doc_id") % 10 === 2)
          .withColumn("__op", lit("D")))
        .unionByName(docs.filter(col("doc_id") % 10 === 1)
          .withColumn("__op", lit("I")))
      graft.ops.Upsert.mergeSnapshot(s, path, changes,
        Seq("doc_id"), Seq("doc_id"), "__op")
      require(graft.ops.Upsert.consumeChanges(s, path, cursor,
        Seq("doc_id"))(df => span = df) == 2, "span consume covers v2")
      span.orderBy("doc_id")
    }),

    "q_snap_merge_mor" -> ((s, dir) => {
      // MERGE-ON-READ: the same I/U/D apply as q_snap_changes' fixture
      // but via deletion vectors — the requires pin that NO data dir
      // was rewritten (only the landing dir + dv dirs appear, the
      // touched dir's entry gains a `\tdv-…` annotation) and that the
      // change feed still emits the exact span; the oracle pins the
      // merged table state (same logical result as copy-on-write).
      val (path, fs) = freshScratch(s, dir, "snap_mor")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      def dirs() = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .toSeq.map(_.getPath.getName)
        .filter(n => !n.startsWith("_")).toSet
      val before = dirs()
      val changes =
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("__op", lit("U"))
        .unionByName(docs.filter(col("doc_id") % 10 === 2)
          .withColumn("__op", lit("D")))
        .unionByName(docs.filter(col("doc_id") % 10 === 1)
          .withColumn("__op", lit("I")))
      val v2 = graft.ops.Upsert.mergeSnapshotMoR(s, path, changes,
        Seq("doc_id"), Seq("doc_id"), "__op")
      val added = dirs() -- before
      require(added.forall(d => d.startsWith("merge-") ||
          d.startsWith("dv-")) && added.exists(_.startsWith("dv-")),
        s"MoR merge must not rewrite data dirs, added: $added")
      val feed = graft.ops.Upsert.snapshotChanges(s, path, 1, v2,
        Seq("doc_id"))
      val opCounts = feed.groupBy("op").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val uN = docs.filter(col("doc_id") % 10 === 0).count()
      val dN = docs.filter(col("doc_id") % 10 === 2).count()
      val iN = docs.filter(col("doc_id") % 10 === 1).count()
      require(opCounts == Map("U" -> uN, "D" -> dN, "I" -> iN),
        s"feed classes $opCounts != U:$uN D:$dN I:$iN")
      graft.ops.Upsert.readSnapshot(s, path, v2).orderBy("doc_id")
    }),

    "q_incr_agg_feed" -> ((s, dir) => {
      // CHANGE-FEED-DRIVEN aggregate maintenance: the downstream agg
      // sink consumes the merge's exact span (with update pre-images)
      // and applies it INCREMENTALLY — the require pins the feed path
      // (no recompute despite the merge, which refreshAggregate's
      // name-based purity could never allow); the oracle recomputes
      // the same grouped aggregate from the merged logical table.
      val (path, fs) = freshScratch(s, dir, "feed_src")
      val aggP = scratchPath(dir, "feed_agg")
      fs.delete(new org.apache.hadoop.fs.Path(aggP), true)
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      // Same fixture-slimming as q_snap_consume: v1 carries only the
      // classes the span needs (%10∈{0,2} touched, 4 carried, 1 absent).
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter((col("doc_id") % 10).isin(0, 2, 4)),
        Seq("doc_id"), Seq("doc_id"))
      graft.streaming.EventStream.changeFeedAggregatePoll(s, path,
        Seq("doc_id"), aggP, Seq("source"), "n_chars") // bootstrap
      val changes =
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("__op", lit("U"))
        .unionByName(docs.filter(col("doc_id") % 10 === 2)
          .withColumn("__op", lit("D")))
        .unionByName(docs.filter(col("doc_id") % 10 === 1)
          .withColumn("__op", lit("I")))
      graft.ops.Upsert.mergeSnapshot(s, path, changes,
        Seq("doc_id"), Seq("doc_id"), "__op")
      graft.streaming.EventStream.changeFeedAggregatePoll(s, path,
        Seq("doc_id"), aggP, Seq("source"), "n_chars")
      val mode = graft.ops.Upsert.lastFeedRefresh.get()
      require(mode.startsWith("feed:"),
        s"merge span must apply incrementally from the feed, got '$mode'")
      // Bounds ride the same feed apply: arrivals extend min_v/max_v
      // arithmetically; only groups whose DEPARTING value equals a
      // maintained bound point-recompute (audited ≥ 0 = the bounds
      // logic ran on the feed path). The oracle recomputes MIN/MAX
      // from the merged table — maintained == recompute, exactly.
      require(graft.ops.Upsert.lastFeedBoundRecomputed.get() >= 0L,
        "feed apply must run the maintained-bounds path")
      graft.ops.Upsert.readSnapshot(s, aggP,
          graft.ops.Upsert.latestVersion(s, aggP))
        .select(col("source"), col("n"), col("n_val"),
          col("sum_v").cast("double").as("sum_v"),
          col("min_v"), col("max_v"))
        .orderBy("source")
    }),

    "q_snap_zorder" -> ((s, dir) => {
      // Z-ORDER compaction end-to-end: the sink re-lays out under the
      // Morton interleave of two declared skip columns, and a bounded
      // read on the SECOND column still answers exactly (content
      // identity through the z path) with the bound pushed to the
      // scan — the require pins the pushdown; the file-level skipping
      // win itself is spec-pinned (UpsertPartitionedSpec measures the
      // skip fractions).
      val (path, _) = freshScratch(s, dir, "snap_zo")
      val docs = read(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("doc_id") % 16).as("score_a"),
          (floor(col("doc_id") / 16).cast("long") % 16).as("score_b"))
      graft.ops.Upsert.declareSkipCols(s, path, Seq("score_a", "score_b"))
      graft.ops.Upsert.writeSnapshot(s, path, docs,
        Seq("doc_id"), Seq("doc_id"))
      val v = graft.ops.Upsert.compactSnapshots(s, path,
        zOrderBy = Seq("score_a", "score_b"), zBits = 4, zShards = 4)
      val out = graft.ops.Upsert.readSnapshotWhere(s, path, v,
        Map("score_b" -> ((4L, 7L)))).orderBy("doc_id")
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("PushedFilters") &&
        plan.contains("GreaterThanOrEqual(score_b,4)"),
        s"second-column bound must push into the z-laid scan:\n${
          plan.take(600)}")
      out
    }),

    "q_snap_dsv2_write" -> ((s, dir) => {
      // The WHOLE loop through the generic API: bootstrap + CDC merge
      // land via df.write.format("graft") (keys/mergeOp/mor options —
      // the same publish paths as the library calls, V1Write bridge),
      // and the read back rides the DSv2 relation. Same logical result
      // as q_snap_merge_mor; the require pins that the mor write went
      // through deletion vectors, not rewrites.
      val (path, fs) = freshScratch(s, dir, "snap_dsv2w")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      docs.filter(col("doc_id") % 2 === 0)
        .write.format("graft").option("keys", "doc_id")
        .mode("append").save(path)
      val changes =
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("__op", lit("U"))
        .unionByName(docs.filter(col("doc_id") % 10 === 2)
          .withColumn("__op", lit("D")))
        .unionByName(docs.filter(col("doc_id") % 10 === 1)
          .withColumn("__op", lit("I")))
      changes.write.format("graft").option("keys", "doc_id")
        .option("mergeOp", "__op").option("mor", "true")
        .mode("append").save(path)
      require(fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
          .exists(_.getPath.getName.startsWith("dv-")),
        "the mor write must publish deletion vectors")
      s.read.format("graft").load(path).orderBy("doc_id")
    }),

    "q_snap_dsv2" -> ((s, dir) => {
      // PLAN-INTEGRATED snapshot read: the same two-dir skip-column
      // sink as q_snap_skip, probed through the generic DSv2 path —
      // spark.read.format("graft") + a PLAIN .filter, no library call.
      // The requires pin that Catalyst's pushdown reached the sidecar
      // machinery: only the high-score dir is opened (probe audit) and
      // the bounds surface as PushedFilters on the scan node; the
      // oracle is the same BETWEEN filter (what is returned never
      // depends on what was pruned).
      val (path, _) = freshScratch(s, dir, "snap_dsv2")
      val docs = read(s, dir, "documents")
        .select("doc_id", "source", "n_chars")
        .withColumn("score", col("doc_id") % 100)
      graft.ops.Upsert.declareSkipCols(s, path, Seq("score"))
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("score") < 50), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("score") >= 50), Seq("doc_id"), Seq("doc_id"))
      val out = s.read.format("graft").load(path)
        .filter(col("score") >= 60 && col("score") <= 70)
        .orderBy("doc_id")
      out.count() // plans + executes the inner read → probe audit set
      val probed = graft.ops.Upsert.lastProbedDirs.get()
      require(probed == Seq("batch-2"),
        s"DSv2 filter probed $probed, expected only batch-2 — the " +
          "generic path lost the sidecar pruning")
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("PushedFilters") &&
        plan.contains("GreaterThanOrEqual(score,60)"),
        s"bounds must surface as PushedFilters on the DSv2 scan:\n${
          plan.take(800)}")
      // An OR of two ranges on one column folds to the union box and
      // still prunes to the high-score dir (the residual keeps the gap
      // between the branches exact — same count as the plain filter).
      val orRead = s.read.format("graft").load(path)
        .filter((col("score") >= 60 && col("score") <= 62) ||
          (col("score") >= 68 && col("score") <= 70))
      val orN = orRead.count()
      require(graft.ops.Upsert.lastProbedDirs.get() == Seq("batch-2"),
        s"Or union box must prune: ${graft.ops.Upsert.lastProbedDirs.get()}")
      require(orN == docs.filter((col("score") >= 60 && col("score") <= 62)
          || (col("score") >= 68 && col("score") <= 70)).count(),
        "Or residual must stay exact")
      out
    }),

    "q_snap_dsv2_agg" -> ((s, dir) => {
      // Complete aggregate pushdown through the DSv2 relation: a plain
      // SQL COUNT/MIN/MAX over the snapshot answers from the `.stats`
      // sidecars — the requires pin zero scanned dirs on both audits
      // and no aggregate exec in the plan (the metadata row IS the
      // answer); the oracle recomputes the same aggregates.
      val (path, _) = freshScratch(s, dir, "snap_dsv2a")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 1), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.lastCountScanned.set(Seq("sentinel"))
      graft.ops.Upsert.lastMinMaxScanned.set(Seq("sentinel"))
      s.read.format("graft").load(path).createOrReplaceTempView("snap_dsv2a")
      val out = s.sql(
        """SELECT count(*) AS n, min(doc_id) AS min_id,
                  max(doc_id) AS max_id FROM snap_dsv2a""")
      out.collect()
      require(graft.ops.Upsert.lastCountScanned.get().isEmpty &&
        graft.ops.Upsert.lastMinMaxScanned.get().isEmpty,
        s"metadata aggregates scanned dirs: ${
          graft.ops.Upsert.lastCountScanned.get()} / ${
          graft.ops.Upsert.lastMinMaxScanned.get()}")
      require(!out.queryExecution.executedPlan.toString
          .contains("HashAggregate"),
        "aggregate must push down completely (no HashAggregate)")
      out
    }),

    "q_snap_dsv2_join" -> ((s, dir) => {
      // RUNTIME dir pruning through Spark's own dynamic pruning — the
      // classic warehouse shape, fact snapshot ⋈ filtered dim, where
      // the fact-side key set exists only at EXECUTION time (the dim
      // filter is on `band`, a non-key column, so no static bound ever
      // reaches the scan builder). The DSv2 Batch path advertises the
      // sink's key as runtime-filterable (SupportsRuntimeFiltering);
      // Spark plans a DPP subquery over the broadcast build side and
      // feeds the collected keys to the scan, which routes them
      // through the same range+bloom sidecar admission as the library
      // probes — of the four key-range dirs only the one holding the
      // dim's quartile opens. The requires pin the runtime-filter plan
      // node and the one-dir probe audit; the oracle is the plain join
      // (what is returned never depends on pruning).
      val (path, fs) = freshScratch(s, dir, "snap_dsv2j")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      val quarter = math.max(docs.count() / 4, 1L)
      for (b <- 0L until 4L) {
        val hi = if (b == 3L) Long.MaxValue else (b + 1) * quarter
        graft.ops.Upsert.writeSnapshot(s, path,
          docs.filter(col("doc_id") >= b * quarter && col("doc_id") < hi),
          Seq("doc_id"), Seq("doc_id"))
      }
      // The dim is FILE-backed (a scratch parquet) so its filter is a
      // real selective scan predicate — the shape dynamic pruning
      // triggers on, same as any warehouse dim table.
      val dimPath = path + "_dim"
      fs.delete(new org.apache.hadoop.fs.Path(dimPath), true)
      docs.select(col("doc_id").as("did"),
          (col("doc_id") / lit(quarter)).cast("long").as("band"))
        .write.mode("overwrite").parquet(dimPath)
      val dim = s.read.parquet(dimPath).filter(col("band") === 2)
      val out = s.read.format("graft").load(path)
        .join(broadcast(dim), col("doc_id") === col("did"))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
      out.count() // executes → runtime filter fires → probe audit set
      val probed = graft.ops.Upsert.lastProbedDirs.get()
      require(probed == Seq("batch-3"),
        s"runtime join-key pruning probed $probed, expected only " +
          "batch-3 — the build side's keys never reached the sidecars")
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("dynamicpruningexpression"),
        s"the scan must carry Spark's runtime filter:\n${plan.take(800)}")
      out
    }),

    "q_snap_catalog_sql" -> ((s, dir) => {
      // The PURE-SQL face: a named catalog table (CREATE TABLE with a
      // declared key, SQL INSERTs as keyed publishes, VERSION AS OF
      // time travel) must equal the path API bit-for-bit — the catalog
      // returns the same GraftTable, so scans, pushdown and the probe
      // audits ride unchanged. The requires pin keep-existing
      // semantics (the overlapping second INSERT does not clobber) and
      // the time-traveled v1 count.
      val (wh, _) = freshScratch(s, dir, "cat_wh")
      s.conf.set("spark.sql.catalog.graft_cat",
        "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
      s.sql("CREATE TABLE graft_cat.db.docs " +
        "(doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "OPTIONS ('keys' = 'doc_id')")
      read(s, dir, "documents").select("doc_id", "source", "n_chars")
        .createOrReplaceTempView("catalog_docs_src")
      s.sql("INSERT INTO graft_cat.db.docs " +
        "SELECT doc_id, source, n_chars FROM catalog_docs_src " +
        "WHERE doc_id % 2 = 0")
      // Overlaps on %4==0 (already present): keep-existing must hold.
      s.sql("INSERT INTO graft_cat.db.docs " +
        "SELECT doc_id, source, n_chars + 777 FROM catalog_docs_src " +
        "WHERE doc_id % 4 IN (0, 1)")
      val v1 = s.sql(
        "SELECT count(*) AS n FROM graft_cat.db.docs VERSION AS OF 1")
        .collect()(0).getLong(0)
      val evens = s.sql("SELECT count(*) AS n FROM catalog_docs_src " +
        "WHERE doc_id % 2 = 0").collect()(0).getLong(0)
      require(v1 == evens, s"VERSION AS OF 1 must see the first " +
        s"INSERT only: $v1 vs $evens")
      s.sql("SELECT doc_id, source, n_chars FROM graft_cat.db.docs " +
        "ORDER BY doc_id")
    }),

    "q_markov_transitions" -> ((s, dir) => {
      // First-order journey chain over the events stream: per user,
      // conversions close journeys; exact (from, to) transition counts
      // including the (start)/(conv)/(null) boundary states. One
      // user-key shuffle; three windows share one sort; output bounded
      // by (channels+2)².
      Analytics.markovTransitions(read(s, dir, "events"),
        col("user_id"), col("ts"), col("event_id"),
        isConversion = col("event_type") === "purchase",
        isTouch = col("event_type").isin("click", "view", "signup"),
        touchLabel = col("event_type"))
    }),

    // NOTE deliberate non-entry: Analytics.attributionMarkov (the
    // removal-effect solve over this chain) has no SQL form — exact
    // rational Gaussian elimination — and this suite's contract is
    // full-strength (every query hash-matches an oracle; no rows-only
    // fallback, ContractSpec). The chain feeding it IS oracle-verified
    // here, and the solve is pinned by OpsSpec's hand-solved fixture.

    "q_event_funnel" -> ((s, dir) => {
      // Ordered-step funnel per user: first view, first click at or
      // after it, first purchase at or after that — NULLs from the
      // first step a user never reached. All shuffles on the user key;
      // no per-user event list ever materializes.
      Analytics.funnel(read(s, dir, "events"), col("user_id"), col("ts"),
          Seq("first_view" -> (col("event_type") === "view"),
            "first_click" -> (col("event_type") === "click"),
            "first_purchase" -> (col("event_type") === "purchase")))
        .select(col("k").as("user_id"), col("first_view"),
          col("first_click"), col("first_purchase"))
        .orderBy("user_id")
    }),

    "q_cohort_retention" -> ((s, dir) => {
      // Cohort retention: users keyed by first-event day, counted once
      // per day-offset they returned on — the explicit distinct-triple
      // two-stage shape, not COUNT(DISTINCT) under a hot reducer.
      Analytics.cohortRetention(read(s, dir, "events"), col("user_id"),
          col("ts"))
        .orderBy("cohort_day", "day_offset")
    }),

    "q_retention_curve" -> ((s, dir) => {
      // The aggregate retention CURVE with censoring handled honestly:
      // rate(offset) = active users at that offset / users whose cohort
      // is OLD ENOUGH to have reached it (a late cohort can't show
      // day-29 retention — counting it in the denominator fakes decay).
      // Everything past cohortRetention is bounded (offsets × cohorts).
      val r = Dedup.pin(Analytics.cohortRetention(
        read(s, dir, "events"), col("user_id"), col("ts")))
      val sizes = r.filter(col("day_offset") === 0)
        .select(col("cohort_day"), col("n_users").as("cohort_size"))
      val maxDay = read(s, dir, "events")
        .agg(max(to_date(col("ts"))).as("max_day"))
      val active = r.groupBy("day_offset")
        .agg(sum(col("n_users")).as("n_active"))
      val eligible = r.select("day_offset").distinct()
        .crossJoin(sizes).crossJoin(broadcast(maxDay))
        .filter(datediff(col("max_day"), col("cohort_day")) >= col("day_offset"))
        .groupBy("day_offset")
        .agg(sum(col("cohort_size")).as("n_eligible"))
      active.join(eligible, Seq("day_offset"))
        .select(col("day_offset"), col("n_active"), col("n_eligible"),
          round(col("n_active").cast(DoubleType) /
            col("n_eligible").cast(DoubleType), 6).as("rate"))
        .orderBy("day_offset")
    }),

    "q_funnel_windowed" -> ((s, dir) => {
      // Time-boxed funnel: each step must land within 6 hours of the
      // previous one — the product-analytics default ("clicked within N
      // hours of viewing"), same plan as q_event_funnel plus the exact
      // integer-µs gap gate.
      Analytics.funnel(read(s, dir, "events"), col("user_id"), col("ts"),
          Seq("first_view" -> (col("event_type") === "view"),
            "first_click" -> (col("event_type") === "click"),
            "first_purchase" -> (col("event_type") === "purchase")),
          maxGapSec = Some(21600L))
        .select(col("k").as("user_id"), col("first_view"),
          col("first_click"), col("first_purchase"))
        .orderBy("user_id")
    }),

    "q_funnel_rates" -> ((s, dir) => {
      // The funnel's published summary: users per step + conversion
      // rates vs step 1 — one bounded agg over the per-user funnel
      // table (COUNT of a nullable column counts completions).
      Analytics.funnel(read(s, dir, "events"), col("user_id"), col("ts"),
          Seq("first_view" -> (col("event_type") === "view"),
            "first_click" -> (col("event_type") === "click"),
            "first_purchase" -> (col("event_type") === "purchase")))
        .agg(count(lit(1)).as("n_view"),
          count(col("first_click")).as("n_click"),
          count(col("first_purchase")).as("n_purchase"))
        .select(col("n_view"), col("n_click"), col("n_purchase"),
          round(col("n_click").cast(DoubleType) /
            col("n_view").cast(DoubleType), 6).as("rate_click"),
          round(col("n_purchase").cast(DoubleType) /
            col("n_view").cast(DoubleType), 6).as("rate_purchase"))
    }),

    "q_winsorize" -> ((s, dir) => {
      // Outlier clipping: events.value clipped to per-type [p05, p95].
      graft.ops.Cleaning.winsorize(
          read(s, dir, "events").select("event_id", "event_type", "value"),
          "value", Seq("event_type"), lo = 0.05, hi = 0.95)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("clipped"))
        .orderBy("event_id")
    }),

    "q_winsorize_approx" -> ((s, dir) => {
      // The sketch-percentile contract (the q_approx_distinct trick,
      // applied to approx_percentile — SCALING.md's 100 TB path for every
      // percentile operator): emit the EXACT per-type bounds (oracle-
      // reproducible via quantile_cont) plus booleans asserting the
      // sketch bound's EMPIRICAL RANK lands within ε of the target
      // percentile. Rank, not value, is what the sketch guarantees
      // (≤ 1/accuracy of the group), so the check is robust to
      // partitioning while ε = 2% leaves orders of magnitude of margin —
      // the oracle emits the exact bounds + literal TRUE.
      val ev = read(s, dir, "events").select("event_type", "value")
      val bounds = ev.groupBy("event_type").agg(
          percentile(col("value"), array(lit(0.05), lit(0.95))).as("__ex"),
          approx_percentile(col("value"), array(lit(0.05), lit(0.95)),
            lit(PctSketchAccuracy)).as("__ap"))
        .withColumnRenamed("event_type", "__g_type")
      // Null-safe group join (the winsorize convention): a NULL event_type
      // group must keep its rows — plain using-column equality would drop
      // them while the oracle's GROUP BY emits the NULL group.
      ev.join(broadcast(bounds), col("event_type") <=> col("__g_type"))
        .groupBy("event_type")
        .agg(
          round(min(element_at(col("__ex"), 1)), 6).as("lo_exact"),
          round(min(element_at(col("__ex"), 2)), 6).as("hi_exact"),
          // Empirical CDF at the sketch bound, over non-null values only
          // (percentile and quantile_cont both ignore NULLs).
          (sum(when(col("value") <= element_at(col("__ap"), 1), 1).otherwise(0))
            / count(col("value"))).as("__f_lo"),
          (sum(when(col("value") <= element_at(col("__ap"), 2), 1).otherwise(0))
            / count(col("value"))).as("__f_hi"))
        .select(col("event_type"), col("lo_exact"), col("hi_exact"),
          // A group with zero non-null values has no bounds to miss
          // (f = NULL) — that's vacuously within ε, like 0-vs-0 in
          // q_approx_distinct, not a NULL where the oracle says TRUE.
          coalesce(abs(col("__f_lo") - 0.05) <= PctRankEps, lit(true))
            .as("lo_within_eps"),
          coalesce(abs(col("__f_hi") - 0.95) <= PctRankEps, lit(true))
            .as("hi_within_eps"))
        .orderBy("event_type")
    }),

    "q_join_salted" -> ((s, dir) => {
      // Skew-safe join (the join twin of q_agg_salted): events' hot user
      // keys spread over 8 salted reducers, customer replicated 8×; the
      // oracle is the PLAIN join — algebraic equivalence is the point.
      val ev = read(s, dir, "events")
        .select(col("user_id").as("c_custkey"), col("value"), col("event_id"))
      val c = read(s, dir, "customer").select("c_custkey", "c_mktsegment")
      Analytics.saltedJoin(ev, c, "c_custkey", col("event_id"), 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_v"))
        .orderBy("c_mktsegment")
    }),

    "q_join_bucketed" -> ((s, dir) => {
      // Co-located bucketed join: both sides bucketed+sorted on the join
      // key at WRITE time (build-once, memoized), so the join consumes
      // the bucket layout with no Exchange (BucketingSpec pins the
      // shuffle-free SMJ plan). The oracle is the PLAIN join — layout
      // equivalence is the point.
      val (liT, ordT) = bucketedTablesFor(s, dir)
      s.table(liT).join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"), dsum2(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_orderkey")
    }),

    "q_window_sliding" -> ((s, dir) => {
      // SLIDING-window aggregation (1 h window every 15 min): each event
      // lands in 4 overlapping buckets — Spark's window() expands them
      // map-side, then it is one ordinary (bucket, type) hash shuffle
      // with partial aggregation, 4× the rows of the tumbling twin.
      read(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_v"))
        .select(col("w.start").as("bucket"), col("event_type"), col("n"), col("sum_v"))
        .orderBy("bucket", "event_type")
    }),

    "q_pivot" -> ((s, dir) => {
      // Pivot with an EXPLICIT value list: per-day revenue by event type.
      // Naming the columns up front matters at scale — it skips the
      // distinct-values discovery job and keeps the plan one conditional
      // aggregation (the same single-scan trick the forex feed uses).
      read(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(dsum2(col("value")))
        .orderBy("day")
    }),

    "q_topk_per_group" -> ((s, dir) => {
      // Top-3 per group via ranked window: one shuffle on the group key;
      // at scale this beats global sort by never ordering across keys.
      Analytics.topKPerGroup(read(s, dir, "lineitem"), Seq("l_returnflag"),
          Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")), 3)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("rn"))
        .orderBy("l_returnflag", "rn")
    }),

    // ───────── text analysis ─────────
    "q_lang_id" -> ((s, dir) => {
      read(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    }),

    "q_quality_score" -> ((s, dir) => {
      val t = col("text")
      read(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.nWords(t).as("n_words"),
          TextAnalysis.stopRatio(t).as("stop_ratio"),
          TextAnalysis.digitRatio(t).as("digit_ratio"),
          TextAnalysis.qualityScore(t).as("quality"))
        .orderBy("doc_id")
    }),

    "q_char_stats" -> ((s, dir) => {
      // Character-level junk signals: Shannon entropy of the char
      // distribution + non-printable share. Every 7th doc gets planted
      // non-ASCII (the corpus is pure-ASCII word soup, so the ratio
      // would otherwise be identically 0) — same planted-fixture
      // pattern as q_redact_pii. Map-only HOFs, zero shuffles.
      val planted = read(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" \u00e9\u00fc\u00f1")))
          .otherwise(col("text")))
      planted.select(col("doc_id"),
          TextAnalysis.charEntropy(col("text")).as("entropy"),
          TextAnalysis.nonPrintableRatio(col("text")).as("non_printable"))
        .orderBy("doc_id")
    }),

    "q_token_count" -> ((s, dir) => {
      read(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_ws"),
          TextAnalysis.tokenCountBpe(col("text")).as("n_bpe"))
        .orderBy("doc_id")
    }),

    "q_fingerprint" -> ((s, dir) => {
      read(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    "q_length_stats" -> ((s, dir) => {
      // Per-source length distribution — where curation thresholds come
      // from. Exact interpolated percentiles (R-7, same as DuckDB's
      // quantile_cont; quarter-fraction interpolations of ints are
      // FP-exact, so the hashes match). The 100 TB path swaps in
      // approx_percentile — a mergeable sketch, same query shape, no
      // per-group sort — verified against this exact twin in ExtSpec.
      read(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          percentile(col("n_chars"),
            array(lit(0.25), lit(0.5), lit(0.75))).as("__p"))
        .select(col("source"), col("n_docs"), col("min_chars"), col("max_chars"),
          round(element_at(col("__p"), 1), 6).as("p25"),
          round(element_at(col("__p"), 2), 6).as("p50"),
          round(element_at(col("__p"), 3), 6).as("p75"))
        .orderBy("source")
    }),

    "q_nfc_normalize" -> ((s, dir) => {
      // Unicode NFC canonicalization (UAX #15 on both engines) + the
      // content fingerprint of the NORMALIZED text — the dedup-key
      // discipline for multilingual corpora: combining-mark and
      // precomposed spellings of the same text must hash identically.
      val n = TextAnalysis.normalizeNfc(read(s, dir, "documents"),
        "doc_id", "text")
      n.select(col("doc_id"), md5(col("text")).as("nfc_hash"),
          length(col("text")).as("nfc_len"))
        .orderBy("doc_id")
    }),

    "q_clean_text" -> ((s, dir) => {
      // C4-style cleaning over a deterministically-noised feed (every
      // 10th doc gains a URL + email suffix so the redaction visibly
      // bites): URL/email → placeholder tokens, whitespace collapsed.
      read(s, dir, "documents")
        .withColumn("noisy", when(col("doc_id") % 10 === 0,
          concat(col("text"),
            lit(" see https://ex.com/a?b=1 or mail bob@ex.com now")))
          .otherwise(col("text")))
        .select(col("doc_id"), TextAnalysis.cleanText(col("noisy")).as("clean"))
        .orderBy("doc_id")
    }),

    "q_gopher_rules" -> ((s, dir) => {
      // Gopher-style quality gate: word-count bounds, mean word length
      // bounds, repetition ratio — each a map-only expression; `keep` is
      // the conjunction a 100 TB curation pass would filter on.
      val t = col("text")
      val nW = TextAnalysis.nWords(t)
      val mwl = round(TextAnalysis.meanWordLen(t), 6)
      val rep = round(TextAnalysis.repetitionRatio(t), 6)
      read(s, dir, "documents")
        .select(col("doc_id"), nW.as("n_words"), mwl.as("mean_wlen"),
          rep.as("rep_ratio"),
          (nW.between(50, 100000) && mwl.between(3, 10) && rep < 0.5).as("keep"))
        .orderBy("doc_id")
    }),

    "q_rep_lines" -> ((s, dir) => {
      // Gopher duplicate line / line-char fractions: the corpus has no
      // natural newlines, so docs are re-chunked into ParaChunkWords-word
      // "lines" (the q_dedup_paragraph convention) and both signals are
      // pure higher-order expressions over the chunk array — map-only,
      // zero shuffles, whole-stage codegen.
      val ws = split(col("text"), " ")
      val chunks = transform(
        sequence(lit(0),
          ceil(size(ws) / lit(ParaChunkWords.toDouble)).cast("int") - 1),
        i => array_join(slice(ws, i * ParaChunkWords + 1, lit(ParaChunkWords)), " "))
      read(s, dir, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.dupElemFraction(chunks), 6).as("dup_line_frac"),
          round(TextAnalysis.dupElemCharFraction(chunks), 6).as("dup_line_char_frac"))
        .orderBy("doc_id")
    }),

    "q_rep_ngram_top" -> ((s, dir) => {
      // Gopher top-2-gram character fraction: one map-side gram build +
      // one (doc, gram) combinable aggregation; the per-doc window and
      // final agg share the doc-hash partitioning (no third shuffle).
      TextAnalysis.ngramRepetition(read(s, dir, "documents"),
          "doc_id", "text", n = RepTopN)
        .select(col("doc_id"), col("top_frac"))
        .orderBy("doc_id")
    }),

    "q_rep_ngram_dup" -> ((s, dir) => {
      // Gopher duplicated-5-gram character fraction (overlap-counting
      // upper bound — see TextAnalysis.ngramRepetition): same plan shape
      // as q_rep_ngram_top at the dedup-filter gram order.
      TextAnalysis.ngramRepetition(read(s, dir, "documents"),
          "doc_id", "text", n = RepDupN)
        .select(col("doc_id"), col("dup_frac"))
        .orderBy("doc_id")
    }),

    "q_tfidf" -> ((s, dir) => {
      // Corpus-statistics text op: top-3 TF-IDF terms per document
      // (rational smoothed idf — see TextAnalysis.tfidfTopK).
      TextAnalysis.tfidfTopK(read(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")
    }),

    // ───────── dedup family ─────────
    "q_dedup_exact" -> ((s, dir) => {
      // Exact dedup on content hash: narrow md5 shuffle key, deterministic
      // winner per group.
      Dedup.exactByKey(read(s, dir, "documents"), md5(col("text")), Seq("doc_id"))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "q_minhash_sig" -> ((s, dir) => {
      // 4-seed shingle MinHash signature: explode → map-side-combined min
      // aggregates, narrow shuffle rows.
      Dedup.minhashSignature(read(s, dir, "documents"), "doc_id", "text", 4)
        .select(col("doc_id"), col("mh0"), col("mh1"), col("mh2"), col("mh3"))
        .orderBy("doc_id")
    }),

    "q_lsh_pairs" -> ((s, dir) => {
      // MinHash-LSH candidate pairs: 2 bands × 2 rows — shuffle on band
      // hash, join only within buckets (never all-pairs).
      val sigs = Dedup.minhashSignature(read(s, dir, "documents"), "doc_id", "text", 4)
      Dedup.lshCandidatePairs(Dedup.lshBands(sigs, "doc_id", 2, 2), "doc_id")
        .orderBy("a", "b")
    }),

    "q_jaccard_pairs" -> ((s, dir) => {
      // Word-set Jaccard verification of the LSH candidates (the
      // candidate→verify pattern: exact similarity only inside buckets).
      val docs = read(s, dir, "documents")
      val sigs = Dedup.minhashSignature(docs, "doc_id", "text", 4)
      val pairs = Dedup.lshCandidatePairs(Dedup.lshBands(sigs, "doc_id", 2, 2), "doc_id")
      val da = docs.select(col("doc_id").as("a"), col("text").as("ta"))
      val db = docs.select(col("doc_id").as("b"), col("text").as("tb"))
      pairs.join(da, "a").join(db, "b")
        .select(col("a"), col("b"), round(Dedup.jaccard(col("ta"), col("tb")), 6).as("jac"))
        .orderBy("a", "b")
    }),

    "q_containment_pairs" -> ((s, dir) => {
      // Asymmetric doc-in-doc detection: >= 60% of a's distinct
      // 3-gram shingles occur in b (Jaccard misses the short-quote-
      // inside-long-article case this catches). Candidates only meet
      // inside shared-shingle buckets. Runs the DEFAULT operator shape
      // — the generous df-cap (10k) is ACTIVE, mirrored in the oracle:
      // the safe-at-100-TB form is what ships, not an opt-in.
      Dedup.containmentPairs(read(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = ContainmentTau)
        .orderBy("a", "b")
    }),

    "q_containment_capped" -> ((s, dir) => {
      // Same doc-in-doc detector with the O(D²)-per-hot-shingle hazard
      // capped INSIDE the operator: shingles in more than 8 docs leave
      // both join sides (boilerplate stops generating df² bucket rows),
      // |A| still counts them — containment only shrinks, a recall
      // trade the softer tau absorbs.
      Dedup.containmentPairs(read(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = ContainmentCapTau,
          maxShingleDf = ContainmentMaxDf)
        .orderBy("a", "b")
    }),

    "q_curation_pipeline" -> ((s, dir) => {
      // The WHOLE training-data curation pass composed end-to-end from
      // the library's operators: quality gate (Gopher-style bounds) →
      // near-dup eviction (MinHash → LSH → Jaccard verify → greedy
      // removal) → stratified domain mixing → train/val/test labels.
      // One scan feeds the quality filter; dedup adds its narrow
      // candidate→verify joins; sampling and splitting are map-only.
      val docs = read(s, dir, "documents")
      val t = col("text")
      // The filtered corpus feeds four branches (signatures, both verify
      // sides, the eviction anti-join) — without a materialization each
      // branch re-scans and re-evaluates the quality expressions. At
      // 100 TB this point IS the pipeline's materialization point: a
      // curation pass persists its post-filter corpus anyway (it is the
      // output), so the demo materialization stands in for that parquet
      // write. Eager pin, not .cache(): no CacheManager
      // entry → no session-lifetime leak, no substitution into later
      // plans; blocks free with the result frame (ContextCleaner).
      // Dedup.pin routes through graft.checkpoint.reliable, so one conf
      // makes this executor-loss-safe on a real cluster.
      val quality = Dedup.pin(docs.filter(
        TextAnalysis.nWords(t).between(20, 100000) &&
        round(TextAnalysis.repetitionRatio(t), 6) < 0.8))
      val verified = Dedup.verifiedNearDupPairs(quality, "doc_id", "text",
        k = 4, bands = 2, rowsPerBand = 2, threshold = NearDupJaccard)
      val deduped = Dedup.removeNearDups(quality, verified, "doc_id")
      Sampling.stratifiedHashSample(deduped, col("source"), col("doc_id"),
          Map("src0" -> 80, "src1" -> 80, "src2" -> 10), defaultPct = 50)
        .select(col("doc_id"), col("source"),
          Sampling.splitLabel(col("doc_id"), 90, 5, salt = "split").as("split"))
        .orderBy("doc_id")
    }),

    "q_curation_fates" -> ((s, dir) => {
      // The pipeline's EXPLAINABILITY table: every doc (dropped ones
      // included) with the FIRST stage that would remove it — 'length',
      // 'repetitious', 'near_dup', or 'kept'. Same stages, same
      // constants as q_curation_pipeline, so the two queries reconcile
      // row for row; the audit a 100 TB curation run publishes next to
      // its output so "why did my doc disappear?" is a lookup, not a
      // re-run. The eviction set is bounded (verified near-dup losers)
      // → rides to every doc as a broadcast left join.
      val docs = read(s, dir, "documents")
      val t = col("text")
      val lengthOk = TextAnalysis.nWords(t).between(20, 100000)
      val repOk = round(TextAnalysis.repetitionRatio(t), 6) < 0.8
      val quality = Dedup.pin(docs.filter(lengthOk && repOk))
      val verified = Dedup.verifiedNearDupPairs(quality, "doc_id", "text",
        k = 4, bands = 2, rowsPerBand = 2, threshold = NearDupJaccard)
      val evicted = verified.select(col("b").as("doc_id")).distinct()
        .withColumn("__evicted", lit(true))
      docs.join(broadcast(evicted), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          when(!lengthOk, lit("length"))
            .when(!repOk, lit("repetitious"))
            .when(col("__evicted"), lit("near_dup"))
            .otherwise(lit("kept")).as("fate"))
        .orderBy("doc_id")
    }),

    "q_dedup_near" -> ((s, dir) => {
      // The full near-dup CLEANING pipeline end-to-end: MinHash → LSH
      // candidates → Jaccard verify → greedy eviction of the higher id of
      // every verified pair. What remains is the deduplicated corpus.
      val docs = read(s, dir, "documents")
      val verified = Dedup.verifiedNearDupPairs(docs, "doc_id", "text",
        k = 4, bands = 2, rowsPerBand = 2, threshold = NearDupJaccard)
      Dedup.removeNearDups(docs, verified, "doc_id")
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),

    "q_simhash" -> ((s, dir) => {
      // SimhashBits-bit SimHash: explode words → one map-side-combinable
      // shuffle keyed on doc_id.
      Dedup.simhash(read(s, dir, "documents"), "doc_id", "text", SimhashBits)
        .orderBy("doc_id")
    }),

    "q_simhash_pairs" -> ((s, dir) => {
      // SimHash near-dup pairs without all-pairs: (SimhashBits/4)-bit
      // slice buckets (pigeonhole: hamming ≤ 3 over 4 bands → one
      // identical slice), exact bit_count(xor) verify inside buckets only.
      val sigs = Dedup.simhash(read(s, dir, "documents"), "doc_id", "text", SimhashBits)
      Dedup.simhashDupPairs(sigs, "doc_id", "simhash", SimhashBits,
          bands = 4, maxHamming = 3)
        .orderBy("a", "b")
    }),

    "q_dup_clusters_sig" -> ((s, dir) => {
      // Cluster labeling WITHOUT doc-pair expansion: cluster the simhash
      // SIGNATURE graph (nodes bounded by distinct signatures), then label
      // docs through one (sig → component) join + a component-window min.
      // Semantics pinned to dupClusters-over-expanded-pairs (ExtSpec);
      // cost is Θ(docs + sig pairs) instead of Θ(cluster²) — the dedup
      // default at 100 TB.
      // sigs feed two consumers (the sig-pair graph and the doc labeling
      // join) — materialized once for the same reason
      // dedupAgainstReference materializes its survivors: per-branch
      // pruning de-canonicalizes the shared simhash aggregation, so
      // without it the aggregation runs twice. Eager conf-routed pin,
      // not .cache(): no CacheManager entry means no release-point
      // problem and no canonical subtree that could substitute into a
      // later query's plan; the blocks are freed by the ContextCleaner
      // when the result frame is dropped (reliable mode writes files
      // instead — executor-loss-safe).
      val sigs = Dedup.pin(
        Dedup.simhash(read(s, dir, "documents"), "doc_id", "text", SimhashBits))
      val sigPairs = Dedup.simhashSigPairs(sigs, "simhash", SimhashBits,
        bands = 4, maxHamming = 3)
      Dedup.dupClustersFromSigPairs(sigPairs, sigs, "doc_id", "simhash")
        .select(col("node").as("doc_id"), col("cluster").as("cluster_id"))
        .orderBy("doc_id")
    }),

    "q_simhash_wide" -> ((s, dir) => {
      // WIDE (banded-array) SimHash: 2 bands × 12 bits under band-salted
      // word hashes — the construction that scales past the single-long
      // width cap. Bands surface as separate columns (portable across
      // engines where array renders are not).
      val sigs = Dedup.simhashWide(read(s, dir, "documents"), "doc_id", "text",
        bands = WideBands, sliceBits = WideSliceBits)
      // Band columns derive from WideBands so query and oracle move in
      // lockstep when the constant changes.
      sigs.select(col("doc_id") +: (0 until WideBands).map(b =>
          element_at(col("simhash_bands"), b + 1).as(s"band$b")): _*)
        .orderBy("doc_id")
    }),

    "q_simhash_wide_pairs" -> ((s, dir) => {
      // Near-dup PAIRS over the wide banded signatures — the operator the
      // wide construction exists for. Bucket key = the band element itself
      // (no cross-word bit slicing); pigeonhole needs maxHamming < bands,
      // so 2 bands → hamming ≤ 1, and the bucket join returns EXACTLY all
      // pairs at that radius (verify inside buckets only).
      val sigs = Dedup.simhashWide(read(s, dir, "documents"), "doc_id", "text",
        bands = WideBands, sliceBits = WideSliceBits)
      Dedup.simhashWideDupPairs(sigs, "doc_id", "simhash_bands",
          bands = WideBands, maxHamming = WideMaxHamming)
        .orderBy("a", "b")
    }),

    // ───────── similarity search ─────────
    "q_ann_topk" -> ((s, dir) => {
      // Brute-force cosine top-5: exact baseline; query set broadcast,
      // corpus streams (no corpus shuffle).
      val e = read(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.bruteForceTopK(queries, e.select("vec_id", "embedding"), 5)
        .orderBy("q_id", "rank")
    }),

    "q_ann_recall" -> ((s, dir) => {
      // Recall@3 of the pruned IVF search against the brute-force truth
      // — the ANN quality number as a first-class query (the metric
      // every nProbe/nLists tuning decision reads).
      val e = read(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = e.select("vec_id", "embedding")
      val cents = IvfCentCache.getOrElseUpdate(dir,
        Similarity.ivfCentroidsLloyd(corpus, IvfLists))
      val res = Similarity.ivfTopKWith(queries, corpus, k = 3, cents,
        nProbe = IvfProbes)
      val truth = Similarity.bruteForceTopK(queries, corpus, 3)
      Retrieval.recallAtK(res, truth, k = 3).orderBy("q_id")
    }),

    "q_embed_rp" -> ((s, dir) => {
      // Johnson–Lindenstrauss random projection 64 → 16: seeded ±6dp
      // hyperplanes inlined as literals, scale 0.25 = 1/√16 (binary-
      // exact, so both engines multiply the same double). Map-only,
      // zero shuffles — the projected corpus is 1/4 the scan bytes of
      // every downstream distance pass. The vector is EXPLODED to
      // (vec_id, dim_idx, value) scalar rows at the query boundary:
      // the oracle harness hashes scalar cells only (array columns
      // crash its pandas sort), and the op itself still returns the
      // packed array for downstream consumers (q_rp_recall).
      Similarity.randomProject(
          read(s, dir, "embeddings").select("vec_id", "embedding"),
          "embedding", RpPlanes, "projected", scale = RpScale)
        .select(col("vec_id"),
          posexplode(col("projected")).as(Seq("dim_idx", "value")))
        .orderBy("vec_id", "dim_idx")
    }),

    "q_embed_center" -> ((s, dir) => {
      // Mean-centering the embedding corpus (removes the common bias
      // direction that inflates every cosine) + the centered norm the
      // downstream cosine must renormalize by. One decimal-exact
      // aggregate pass broadcast back over the corpus — no corpus
      // shuffle. Exploded to scalar rows for the oracle harness (see
      // q_embed_rp); centered_norm repeats per dim row by design.
      Similarity.centerEmbeddings(
          read(s, dir, "embeddings").select("vec_id", "embedding"),
          "embedding", AnnDim, "centered")
        .select(col("vec_id"),
          posexplode(col("centered")).as(Seq("dim_idx", "value")),
          col("centered_norm"))
        .orderBy("vec_id", "dim_idx")
    }),

    "q_rp_recall" -> ((s, dir) => {
      // The projection's distortion, measured not assumed: exact top-3
      // in the 16-dim projected space scored against exact top-3 in the
      // original 64-dim space, recall@3 per query. The corpus projects
      // once and feeds both the query and corpus sides.
      val e = read(s, dir, "embeddings").select("vec_id", "embedding")
      val p = Similarity.randomProject(e, "embedding", RpPlanes,
          "projected", scale = RpScale)
        .select(col("vec_id"), col("projected").as("embedding"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val pq = p.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val truth = Similarity.bruteForceTopK(q, e, 3)
      val res = Similarity.bruteForceTopK(pq, p, 3)
      Retrieval.recallAtK(res, truth, k = 3).orderBy("q_id")
    }),

    "q_center_recall" -> ((s, dir) => {
      // Centering's retrieval effect, measured not assumed: exact top-3
      // over the mean-centered corpus scored against exact top-3 over
      // the raw corpus. Centering rotates similarity toward
      // discriminative directions — recall < 1 here is the point (it
      // quantifies how much the common-bias direction was distorting
      // raw cosine).
      val e = read(s, dir, "embeddings").select("vec_id", "embedding")
      val c = Similarity.centerEmbeddings(e, "embedding", AnnDim, "centered")
        .select(col("vec_id"), col("centered").as("embedding"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val cq = c.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val truth = Similarity.bruteForceTopK(q, e, 3)
      val res = Similarity.bruteForceTopK(cq, c, 3)
      Retrieval.recallAtK(res, truth, k = 3).orderBy("q_id")
    }),

    "q_ann_mrr" -> ((s, dir) => {
      // Reciprocal rank@3 of the same IVF-vs-brute pairing as
      // q_ann_recall — the order-sensitive companion metric.
      val e = read(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = e.select("vec_id", "embedding")
      val cents = IvfCentCache.getOrElseUpdate(dir,
        Similarity.ivfCentroidsLloyd(corpus, IvfLists))
      val res = Similarity.ivfTopKWith(queries, corpus, k = 3, cents,
        nProbe = IvfProbes)
      val truth = Similarity.bruteForceTopK(queries, corpus, 3)
      Retrieval.reciprocalRankAtK(res, truth, k = 3).orderBy("q_id")
    }),

    "q_ann_ndcg" -> ((s, dir) => {
      // Binary-relevance nDCG@3 of the same pairing — the position-
      // weighted metric between recall (position-blind) and MRR
      // (first-hit-only).
      val e = read(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = e.select("vec_id", "embedding")
      val cents = IvfCentCache.getOrElseUpdate(dir,
        Similarity.ivfCentroidsLloyd(corpus, IvfLists))
      val res = Similarity.ivfTopKWith(queries, corpus, k = 3, cents,
        nProbe = IvfProbes)
      val truth = Similarity.bruteForceTopK(queries, corpus, 3)
      Retrieval.ndcgAtK(res, truth, k = 3).orderBy("q_id")
    }),

    "q_bm25" -> ((s, dir) => {
      // Okapi BM25 top-10: first-6-word pseudo-queries from the first
      // 5 docs against the whole corpus. Query terms broadcast into
      // the tf table — the corpus never shuffles for the search.
      val docs = read(s, dir, "documents")
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("q_id"),
          array_join(slice(split(col("text"), " "), 1, 6), " ").as("q_text"))
      Retrieval.bm25TopK(queries, docs.select("doc_id", "text"), k = 10)
        .orderBy("q_id", "rank")
    }),

    "q_contrastive_triplets" -> ((s, dir) => {
      // (anchor, hardest positive, hardest negative) triplets with the
      // margin — ONE combine-enabled agg per anchor, no windows;
      // negative-margin anchors are the batch-mining targets.
      val e = read(s, dir, "embeddings")
      val anchors = e.filter(col("vec_id") < TripletAnchors)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      Similarity.contrastiveTriplets(anchors,
          e.select("vec_id", "embedding", "label"))
        .orderBy("q_id")
    }),

    "q_hard_negatives" -> ((s, dir) => {
      // Contrastive hard-negative mining: top-5 most-similar vectors
      // carrying a DIFFERENT label than the query — the negatives at
      // the decision boundary.
      val e = read(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      Similarity.hardNegatives(queries,
          e.select("vec_id", "embedding", "label"), 5)
        .orderBy("q_id", "rank")
    }),

    "q_ann_lsh" -> ((s, dir) => {
      // Sign-LSH bucketed ANN: candidates only within equal 4-bit bucket
      // (seeded random hyperplanes, inlined as literals) — the scale path
      // (bucket-key shuffle instead of cross product).
      val e = read(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.lshTopK(queries, e.select("vec_id", "embedding"), 3, AnnPlanes)
        .orderBy("q_id", "rank")
    }),

    "q_ann_multiprobe" -> ((s, dir) => {
      // Multi-probe sign-LSH: two independent plane sets, union of
      // bucket matches — the recall-recovery path at fixed bits.
      val e = read(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.lshTopKMulti(queries, e.select("vec_id", "embedding"), 3,
          Seq(AnnPlanes, AnnPlanes2))
        .orderBy("q_id", "rank")
    }),

    "q_ann_ivf" -> ((s, dir) => {
      // IVF ANN: Lloyd-refined centroids (one k-means step as a DataFrame
      // job over seed samples), then map-only nearest-centroid assignment
      // (centroids inlined as literals), top-nProbe probes per query,
      // exact cosine only within probed lists — the other classic scale
      // path next to LSH.
      val e = read(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = e.select("vec_id", "embedding")
      // Train ONCE per corpus (memoized): index build is per-index work,
      // not per-search work — fusing Lloyd into every search doubled the
      // measured per-search cost. Training is deterministic (decimal-exact
      // component means), so the memo returns the same centroids the
      // oracle recomputes.
      val cents = IvfCentCache.getOrElseUpdate(dir,
        Similarity.ivfCentroidsLloyd(corpus, IvfLists))
      Similarity.ivfTopKWith(queries, corpus, k = 3, cents, nProbe = IvfProbes)
        .orderBy("q_id", "rank")
    }),

    "q_cluster_quality" -> ((s, dir) => {
      // IVF cohesion report: per list, member count + mean cosine to
      // the own centroid — q_ivf_skew's semantic companion (skew says a
      // list is too big; this says whether its members even belong
      // together). Same memoized Lloyd centroids as every IVF query.
      val corpus = read(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = IvfCentCache.getOrElseUpdate(dir,
        Similarity.ivfCentroidsLloyd(corpus, IvfLists))
      Similarity.clusterQuality(corpus, cents).orderBy("list")
    }),

    "q_cos_dup_pairs" -> ((s, dir) => {
      // Embedding-cosine near-dup pairs above threshold, within sign-LSH
      // buckets.
      Similarity.cosineDupPairs(read(s, dir, "embeddings")
          .select("vec_id", "embedding"), "vec_id", "embedding", AnnPlanes, CosDupThreshold)
        .orderBy("a", "b")
    }),

    "q_src_csv" -> ((s, dir) => {
      // CSV source round trip: documents written as quoted CSV once per
      // corpus (memoized), read back through the schema-pinned reader,
      // compared against DuckDB's view of the ORIGINAL parquet — any
      // quoting/escaping/type bug in either half breaks the hash.
      val path = csvDocsFor(s, dir)
      graft.sources.Tables.readCsv(s, path,
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id LONG, text STRING, lang STRING, source STRING, n_chars INT"))
        .orderBy("doc_id")
    }),

    "q_export_manifest" -> ((s, dir) => {
      // Training-data export: hash-sharded parquet write + a manifest
      // computed from the data READ BACK off the sink. The oracle
      // computes the same manifest from the logical corpus directly —
      // a hash match proves the write+read round trip preserved every
      // row of every shard (receiver-side validation with zero row
      // comparisons).
      val path = scratchPath(dir, "export")
      Export.writeShardedCorpus(s,
          read(s, dir, "documents").select("doc_id", "text", "n_chars"),
          col("doc_id"), ExportShards, path, Seq("doc_id", "text", "n_chars"))
        .orderBy("shard")
    }),

    "q_time_travel" -> ((s, dir) => {
      // Snapshot-versioned sink (table-format lite): v1 = the even half,
      // v2 = the full corpus (odds land as v2's delta). Reading v1 AFTER
      // v2 exists must return exactly the even half — history stays
      // readable forever because batch dirs are immutable and manifests
      // are published atomically.
      val (path, _) = freshScratch(s, dir, "snap_tt")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path, docs, Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.readSnapshot(s, path, 1).orderBy("doc_id")
    }),

    "q_snapshot_delta" -> ((s, dir) => {
      // The incremental consumer's read: rows ADDED between v1 and v2 —
      // the delta IS v2's immutable batch dir, plus an idempotence
      // check: v3 replays the full corpus and must add nothing, so the
      // (1, 3] delta still equals the odd half.
      val (path, _) = freshScratch(s, dir, "snap_delta")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path, docs, Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path, docs, Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.readSnapshotDelta(s, path, from = 1, to = 3)
        .orderBy("doc_id")
    }),

    "q_snap_merge" -> ((s, dir) => {
      // The CDC apply: copy-on-write MERGE of an I/U/D change batch
      // against the even-docs snapshot. Disjoint op classes by
      // construction: every 20th key deleted, other %4 keys updated
      // (+1e6 chars marker), odd keys inserted, and an I on present
      // %20==2 keys that keep-existing must drop. The oracle replays
      // the final state straight from the logical table — one SQL
      // expression, no sink — so the hash pins delete, update, insert,
      // AND the dropped clobber at once.
      val (path, _) = freshScratch(s, dir, "snap_merge")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      val changes = docs.withColumn("op",
          when(col("doc_id") % 2 === 1, "I")
            .when(col("doc_id") % 20 === 0, "D")
            .when(col("doc_id") % 4 === 0, "U")
            .when(col("doc_id") % 20 === 2, "I"))
        .filter(col("op").isNotNull)
        .withColumn("n_chars", when(col("op") === "U",
          col("n_chars") + 1000000).otherwise(col("n_chars")))
      graft.ops.Upsert.mergeSnapshot(s, path, changes,
        Seq("doc_id"), Seq("doc_id"), "op")
      graft.ops.Upsert.readSnapshot(s, path,
          graft.ops.Upsert.latestVersion(s, path))
        .orderBy("doc_id")
    }),

    "q_snap_erase" -> ((s, dir) => {
      // Right-to-be-forgotten: erase every %10 doc from the snapshot
      // sink and read VERSION 1 — the hash pins that HISTORY lost the
      // subject too (time travel must not resurrect an erased key),
      // which is what separates erasure from a delete-merge.
      val (path, _) = freshScratch(s, dir, "snap_erase")
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, path,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.writeSnapshot(s, path, docs, Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.eraseKeys(s, path,
        docs.filter(col("doc_id") % 10 === 0).select("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.readSnapshot(s, path, 1).orderBy("doc_id")
    }),

    "q_incr_agg" -> ((s, dir) => {
      // Incremental materialized aggregate: the per-source doc count +
      // exact char sum maintained across TWO source versions (evens,
      // then everything) with the second refresh reading ONLY the
      // odd-docs delta. The oracle recomputes the aggregate from the
      // full logical table — the hash proves increment == recompute
      // bit-for-bit (decimal sums, never float).
      val (src, fs) = freshScratch(s, dir, "incr_src")
      val agg = scratchPath(dir, "incr_agg")
      fs.delete(new org.apache.hadoop.fs.Path(agg), true)
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, src,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.refreshAggregate(s, src, agg, Seq("source"), "n_chars")
      graft.ops.Upsert.writeSnapshot(s, src, docs, Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.refreshAggregate(s, src, agg, Seq("source"), "n_chars")
      graft.ops.Upsert.readSnapshot(s, agg,
          graft.ops.Upsert.latestVersion(s, agg))
        .select(col("source"), col("n"),
          col("sum_v").cast(DoubleType).as("sum_chars"))
        .orderBy("source")
    }),

    "q_incr_agg_minmax" -> ((s, dir) => {
      // The maintained aggregate's FULL stat row: count + exact sum +
      // min/max, incremented across two source versions (the second
      // refresh reads only the odd-docs delta; min/max merge via
      // least/greatest — safe exactly because every non-append
      // mutation is routed to the recompute path by the generation
      // fingerprint). Oracle recomputes all four from the logical
      // table: increment == recompute bit-for-bit.
      val (src, fs) = freshScratch(s, dir, "incrmm_src")
      val agg = scratchPath(dir, "incrmm_agg")
      fs.delete(new org.apache.hadoop.fs.Path(agg), true)
      val docs = read(s, dir, "documents").select("doc_id", "source", "n_chars")
      graft.ops.Upsert.writeSnapshot(s, src,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.refreshAggregate(s, src, agg, Seq("source"), "n_chars")
      graft.ops.Upsert.writeSnapshot(s, src, docs, Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.refreshAggregate(s, src, agg, Seq("source"), "n_chars")
      require(graft.ops.Upsert.lastRefresh.get().startsWith("incremental:"),
        s"second refresh must be delta-only, was " +
          graft.ops.Upsert.lastRefresh.get())
      graft.ops.Upsert.readSnapshot(s, agg,
          graft.ops.Upsert.latestVersion(s, agg))
        .select(col("source"), col("n"),
          col("sum_v").cast(DoubleType).as("sum_chars"),
          col("min_v").cast(DoubleType).as("min_chars"),
          col("max_v").cast(DoubleType).as("max_chars"))
        .orderBy("source")
    }),

    "q_incr_agg_distinct" -> ((s, dir) => {
      // APPROX-DISTINCT maintained incrementally: each group carries a
      // KMV sketch (k smallest value fingerprints — union-then-recap
      // equals the recompute's sketch bit-for-bit), and below k
      // distinct values the estimate is EXACT — the fixture's value
      // domain (n_chars % 200 < k = 256) keeps it in the exact regime
      // at every SF, so the oracle is a plain COUNT(DISTINCT). The
      // require pins the delta-only path on the second refresh.
      val (src, fs) = freshScratch(s, dir, "incrd_src")
      val agg = scratchPath(dir, "incrd_agg")
      fs.delete(new org.apache.hadoop.fs.Path(agg), true)
      val docs = read(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          (col("n_chars") % 200).as("val"))
      graft.ops.Upsert.writeSnapshot(s, src,
        docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.refreshAggregate(s, src, agg, Seq("source"), "val")
      graft.ops.Upsert.writeSnapshot(s, src, docs, Seq("doc_id"), Seq("doc_id"))
      graft.ops.Upsert.refreshAggregate(s, src, agg, Seq("source"), "val")
      require(graft.ops.Upsert.lastRefresh.get().startsWith("incremental:"),
        s"second refresh must be delta-only, was " +
          graft.ops.Upsert.lastRefresh.get())
      graft.ops.Upsert.readSnapshot(s, agg,
          graft.ops.Upsert.latestVersion(s, agg))
        .select(col("source"), col("n"), col("distinct_v"))
        .orderBy("source")
    }),

    "q_bloom_index_lookup" -> ((s, dir) => {
      // Secondary-index point lookup: the corpus is CONTENT-sharded
      // (md5 of text), so specific doc_ids would otherwise need a
      // full-corpus scan; per-shard blooms prune to the might-contain
      // shards (driver-side filter test), the exact re-filter closes,
      // and one absent key exercises the miss path.
      val path = scratchPath(dir, "bloomidx")
      Export.writeBloomIndexed(s,
        read(s, dir, "documents").select("doc_id", "source", "n_chars", "text"),
        shardBy = col("text"), keyCol = "doc_id", nShards = ExportShards,
        path = path, expectedPerShard = 1024L)
      Export.readBloomIndexed(s, path, "doc_id", BloomLookupKeys)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    "q_export_jsonl" -> ((s, dir) => {
      // The JSONL last mile: gzipped JSONL shards under the SAME pure
      // md5 shard key as the parquet export, manifest computed from the
      // sink read back through the schema-pinned JSONL reader. The
      // oracle recomputes the manifest from the logical corpus — and is
      // TEXT-IDENTICAL to q_export_manifest's, which is the
      // shard-compatibility claim stated as a testable fact: parquet
      // and JSONL deliveries of one corpus carry one manifest.
      val path = scratchPath(dir, "export_jsonl")
      Export.writeJsonlCorpus(s,
          read(s, dir, "documents").select("doc_id", "text", "n_chars"),
          col("doc_id"), ExportShards, path, Seq("doc_id", "text", "n_chars"))
        .orderBy("shard")
    }),

    "q_export_jsonl_sized" -> ((s, dir) => {
      // SIZE-targeted zstd JSONL shards: boundaries fall on cumulative
      // BYTES over the striped (md5(key), key) order — ~targetBytes per
      // shard whatever the size distribution — written through the
      // bundled pure-Java zstd codec (`.json.zst` part files). Manifest
      // from the sink read back through the schema-pinned reader; the
      // oracle replays the prefix-sum shard rule on the logical corpus.
      val path = scratchPath(dir, "export_jsonl_sized")
      Export.writeJsonlCorpusSized(s,
          read(s, dir, "documents").select("doc_id", "text", "n_chars"),
          col("doc_id"), octet_length(col("text")), ExportTargetBytes,
          ExportStripes, path, Seq("doc_id", "text", "n_chars"))
        .orderBy("shard")
    }),

    "q_export_shuffled" -> ((s, dir) => {
      // Global-shuffle export: rows sorted by their md5-derived
      // position, range-cut into near-equal shards — a dataloader
      // reading shards in order sees a reproducible pseudo-random
      // permutation. Oracle recomputes positions, cuts, membership,
      // and the per-shard count/checksum/position-range.
      val path = scratchPath(dir, "export_shuffled")
      Export.writeShuffledCorpus(s,
          read(s, dir, "documents").select("doc_id", "text", "n_chars"),
          col("doc_id"), ExportShards, path, Seq("doc_id", "text", "n_chars"))
        .orderBy("shard")
    }),

    "q_export_tar" -> ((s, dir) => {
      // WebDataset-style tar shards: one <doc_id>.txt member per doc,
      // deterministic ustar bytes (mtime 0, checksummed headers,
      // 512-block padding). The manifest's tar_bytes is the LANDED
      // file size; the oracle predicts it to the byte from text
      // lengths alone — Σ (512 + ceil(bytes/512)·512) + 1024 — so any
      // header/padding/member-count drift breaks the hash.
      val path = scratchPath(dir, "export_tar")
      Export.writeTarShards(s, read(s, dir, "documents"),
          col("doc_id"), col("text"), ExportShards, path)
        .orderBy("shard")
    }),

    "q_export_parquet_sized" -> ((s, dir) => {
      // Parquet delivery of the SAME size-targeted shards: shard rule
      // shared verbatim with q_export_jsonl_sized (sizedShards), zstd
      // parquet part files, manifest from the sink read-back — and the
      // oracle is TEXT-IDENTICAL to q_export_jsonl_sized's, which is
      // the format-independence claim stated as a testable fact.
      val path = scratchPath(dir, "export_pq_sized")
      Export.writeShardedCorpusSized(s,
          read(s, dir, "documents").select("doc_id", "text", "n_chars"),
          col("doc_id"), octet_length(col("text")), ExportTargetBytes,
          ExportStripes, path, Seq("doc_id", "text", "n_chars"))
        .orderBy("shard")
    }),

    "q_export_sorted" -> ((s, dir) => {
      // Range-partitioned SORTED export: shard k holds exactly the keys
      // in [cut_{k-1}, cut_k) (cuts = exact integer interpolation over
      // the key range — deterministic, engine-replayable), every part
      // file is key-sorted, and the manifest carries each shard's
      // [key_min, key_max] so a receiver binary-searches shards. The
      // oracle recomputes cuts + shard membership + per-shard
      // count/checksum/range from the logical corpus — a hash match
      // proves the sorted layout landed content-complete.
      val docs = read(s, dir, "documents").select("doc_id", "text", "n_chars")
      val cuts = Export.valueRangeCuts(docs, col("doc_id"), ExportShards)
      val path = scratchPath(dir, "export_sorted")
      Export.writeSortedCorpus(s, docs, "doc_id", cuts, path,
          Seq("doc_id", "text", "n_chars"))
        .orderBy("shard")
    }),

    "q_src_jsonl" -> ((s, dir) => {
      // JSONL source round trip: documents written as gzipped JSONL once
      // per corpus (memoized), read back through the schema-pinned
      // reader, compared against DuckDB's view of the ORIGINAL parquet —
      // any escaping/type bug in either half breaks the hash.
      val path = jsonlDocsFor(s, dir)
      graft.sources.Tables.readJsonl(s, path,
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id LONG, text STRING, lang STRING, source STRING, n_chars INT"))
        .orderBy("doc_id")
    }),

    "q_src_evolving" -> ((s, dir) => {
      // Schema-evolution read: the corpus's shards were written under
      // two pipeline generations (gen-1 part files lack `lang`), and the
      // merged read must null-fill the missing column per file — DuckDB's
      // union_by_name semantics, which the oracle states over the
      // original table directly. Exercises the mergeSchema footer-union
      // path; EvolvingSchemaSpec pins that a catalog-pinned superset
      // schema reads the identical rows without the footer sweep.
      val path = evolvedDocsFor(s, dir)
      graft.sources.Tables.readParquetEvolved(s, path)
        .select("doc_id", "source", "n_chars", "lang")
        .orderBy("doc_id")
    }),

    "q_window_sliding_rule" -> ((s, dir) => {
      // The optimizer rule exercised END-TO-END against the engine
      // oracle: a NAIVE trailing ROW-frame decimal sum — exactly what
      // ad-hoc user SQL writes — submitted through a GraftExtensions
      // session, where OptimizeSlidingWindowSums rewrites the O(n·k)
      // frame into a difference of two O(n) growing frames
      // (SlidingRewriteSpec pins that the frame is gone from this very
      // plan). The oracle computes the naive frame in DuckDB, so a hash
      // match proves the REWRITTEN plan is value-identical on the real
      // corpus — Spark-vs-engine, not just Spark-vs-Spark.
      val es = extensionSession(s)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
      graft.sources.Tables.table(es, dir, "events")
        .select(col("event_id"), col("event_type"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .over(w).cast("double").as("win_sum"),
          count(col("value")).over(w).as("win_n"))
        .orderBy("event_id")
    }),

    "q_chunk_bpe" -> ((s, dir) => {
      // Long-doc chunking under a REAL-BPE budget — chunkByBudget's
      // word-count proxy replaced by the merge-table tokenizer, same
      // exclusive-prefix-sum chunk rule as packByBudget (a chunk
      // overflows only by part of its final pre-token). Map-only
      // mapPartitions; the oracle replays the per-word merge CTE plus
      // the same prefix-sum assignment.
      Bpe.chunkByBpeBudget(read(s, dir, "documents"), "doc_id", "text",
          ChunkBudget)
        .orderBy("doc_id", "chunk_idx")
    }),

    "q_token_bpe" -> ((s, dir) => {
      // REAL merge-table BPE token counts (greedy segmenter over the
      // inlined merge table, mapPartitions with a per-partition compiled
      // rank map — map-only, zero shuffles). The oracle replays the SAME
      // merge loop as a recursive CTE: one recursion step = one merge of
      // the best-ranked (leftmost on ties) adjacent pair, so Spark and
      // DuckDB converge on identical segmentations, not just counts.
      Bpe.withTokenCount(read(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q_lm_perplexity" -> ((s, dir) => {
      // CCNet-style quality scoring: every 10th doc stands in for the
      // clean reference corpus; an add-one-smoothed bigram LM trained
      // on it scores every document's perplexity. The oracle retrains
      // the same model and replays the 6dp-rounded decimal-exact
      // log-prob sums from the parquet alone.
      val docs = read(s, dir, "documents")
      TextAnalysis.perplexity(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 10 === 0), "text")
        .orderBy("doc_id")
    }),

    "q_lm_perplexity_jm" -> ((s, dir) => {
      // Jelinek-Mercer interpolation (λ=0.75 on the ML bigram, add-one
      // unigram back-off) — the smoothing upgrade over q_lm_perplexity's
      // add-one model; same reference corpus, same determinism contract.
      val docs = read(s, dir, "documents")
      TextAnalysis.perplexityInterpolated(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 10 === 0), "text", JmLambdaHundredths)
        .orderBy("doc_id")
    }),

    "q_lm_perplexity_kn" -> ((s, dir) => {
      // Interpolated Kneser–Ney (D = 0.75): the classical
      // state-of-the-art smoother — continuation-count novelty backoff
      // instead of raw frequency; same reference slice, same
      // determinism contract as the add-one and JM models.
      val docs = read(s, dir, "documents")
      TextAnalysis.perplexityKneserNey(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 10 === 0), "text",
          KnDiscountHundredths)
        .orderBy("doc_id")
    }),

    "q_quality_buckets" -> ((s, dir) => {
      // CCNet's head/middle/tail: perplexity scores binned at the
      // corpus 0.33/0.67 quantiles via percentileBins — the
      // scale-correct ntile (one bounds aggregate broadcast to a
      // map-side when-chain; a global ntile window would sort the
      // corpus in one task). Sub-2-word docs carry NULL ppl → NULL bin.
      val docs = read(s, dir, "documents")
      // percentileBins reads its input twice (bounds agg + the binning
      // join) — pin the scores so the bigram scoring chain runs once.
      // Conf-routed (Dedup.pin): graft.checkpoint.reliable flips this
      // to a checkpoint-FS pin, surviving executor loss on a cluster.
      val scored = Dedup.pin(TextAnalysis.perplexity(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 10 === 0), "text"))
      graft.ops.Cleaning.percentileBins(scored, "ppl", Seq.empty,
          Seq(0.33, 0.67))
        .orderBy("doc_id")
    }),

    "q_token_bpe_bytes" -> ((s, dir) => {
      // Byte-fallback BPE over deterministically internationalized
      // text: each doc's ASCII prefix gains a CJK run (数据 repeated
      // 1 + doc_id%3 times) and an accented é. Non-ASCII runs
      // pre-tokenize WHOLE and explode to UTF-8 <0xHH> byte symbols,
      // which the table's byte merges reassemble — each 数据 costs ONE
      // token (below per-character, per-code-point mode's floor) and
      // é one. The oracle replays the same byte explosion
      // (hex(encode(run)) pairs) through the same recursive merge CTE.
      val docs = read(s, dir, "documents").withColumn("itext",
        concat(substring(col("text"), 1, 80), lit(" "),
          expr("repeat('数据', CAST(doc_id % 3 + 1 AS INT))"),
          lit(" é")))
      Bpe.withTokenCount(docs, "doc_id", "itext", Bpe.ByteMerges,
          byteFallback = true)
        .orderBy("doc_id")
    }),

    "q_token_roundtrip" -> ((s, dir) => {
      // The tokenize-then-detokenize-losslessly check a training-data
      // pipeline ships with: encode each doc to token IDS (lossless
      // pre-tokenization — case and whitespace preserved, byte
      // fallback for non-ASCII) and decode back IN THE SAME PASS;
      // roundtrip_ok is measured, not asserted. The mixed-case + CJK +
      // punctuation + double-space suffix exercises every pre-token
      // class. Output is scalarized at the boundary (first-4 ids as
      // t0..t3) per the oracle-harness contract; the DuckDB oracle
      // replays the same segmentation ORDERED and maps symbols through
      // the same induced vocabulary, pinning the id stream itself.
      val docs2 = read(s, dir, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 80), lit("  Mixed CASE 数据 é!"))
          .as("itext"))
      Bpe.encodeTokens(docs2, "doc_id", "itext", Bpe.ByteMerges)
        .select(col("doc_id"), col("n_tokens"),
          element_at(col("token_ids"), 1).as("t0"),
          element_at(col("token_ids"), 2).as("t1"),
          element_at(col("token_ids"), 3).as("t2"),
          element_at(col("token_ids"), 4).as("t3"),
          col("roundtrip_ok"))
        .orderBy("doc_id")
    }),

    "q_token_compression" -> ((s, dir) => {
      // Bytes-per-token by source — the tokenizer-fit metric a training
      // pipeline reports per corpus slice (where the vocabulary's
      // merges were learned shows up as a lower ratio). Lossless
      // encoder over a 120-char prefix (bounds the DuckDB replay);
      // ratio over exact integer sums, never avg-of-ratios.
      val docs2 = read(s, dir, "documents").select(col("source"),
        substring(col("text"), 1, 120).as("itext"))
      Bpe.tokenCompression(docs2, "source", "itext")
        .orderBy("source")
    }),

    "q_url_normalize" -> ((s, dir) => {
      // URL canonicalization + registered domain over a deterministic
      // gnarly URL-space synthesized from the corpus (mixed-case
      // scheme/host, default port, tracking params, fragment). The
      // oracle rebuilds the same raw strings and runs the same
      // Java-regex ∩ RE2 pipeline plus the same suffix-rule join.
      Curation.withRegisteredDomain(
          urlSpace(read(s, dir, "documents")), col("host"), "domain")
        .select("doc_id", "url", "host", "domain").orderBy("doc_id")
    }),

    "q_domain_block" -> ((s, dir) => {
      // Blocklist eviction — the reject half of per-domain curation: the
      // synthesized corpus minus two blocked registered domains, via one
      // broadcast anti-join (the corpus never shuffles).
      val dom = Curation.withRegisteredDomain(
          urlSpace(read(s, dir, "documents")), col("host"), "domain")
        .select("doc_id", "domain")
      Curation.filterBlockedDomains(dom, col("domain"), BlockedDomains)
        .orderBy("doc_id")
    }),

    "q_domain_cap" -> ((s, dir) => {
      // The anti-dominance curation step: at most DomainCap docs per
      // registered domain, winners a pure hash function of the doc key
      // (samplePerGroup) — no site floods the training mix however
      // large it grows.
      val dom = Curation.withRegisteredDomain(
          urlSpace(read(s, dir, "documents")), col("host"), "domain")
        .select("doc_id", "domain")
      Sampling.samplePerGroup(dom, col("domain"), col("doc_id"), DomainCap)
        .orderBy("doc_id")
    }),

    "q_export_compacted" -> ((s, dir) => {
      // Small-files compaction, PROVEN content-preserving: the sharded
      // export rewritten to one file per shard, re-manifested from the
      // compacted sink's read-back. Oracle text is identical to
      // q_export_manifest's — compaction must be invisible to the
      // receiver's validation token.
      val src = scratchPath(dir, "export")
      Export.writeShardedCorpus(s,
        read(s, dir, "documents").select("doc_id", "text", "n_chars"),
        col("doc_id"), ExportShards, src, Seq("doc_id", "text", "n_chars"))
      val out = s"${src}_compacted"
      Export.compactShards(s, src, out, filesPerShard = 1)
      Export.manifestOf(s.read.parquet(out), Seq("doc_id", "text", "n_chars"))
        .orderBy("shard")
    }),

    "q_hash_split" -> ((s, dir) => {
      // Deterministic sampling + train/val/test split (Sampling.scala):
      // every decision is a pure function of the row key, so the split
      // survives reshuffles, reruns, and corpus growth — unlike
      // rand(seed), whose draws depend on partition layout.
      read(s, dir, "documents")
        .select(col("doc_id"),
          Sampling.hashBucket(col("doc_id"), 100).as("bucket"),
          Sampling.splitLabel(col("doc_id"), 80, 10).as("split"))
        .orderBy("doc_id")
    }),

    "q_stratified_sample" -> ((s, dir) => {
      // Domain mixing: keep 80% of src0/src1 docs, 10% of src2, 30% of
      // everything else — deterministic per-key rates, one map-only pass.
      Sampling.stratifiedHashSample(read(s, dir, "documents"),
          col("source"), col("doc_id"),
          Map("src0" -> 80, "src1" -> 80, "src2" -> 10), defaultPct = 30)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    "q_mixture_sample" -> ((s, dir) => {
      // Pretraining mixture: per-source token budgets → deterministic
      // hash-ordered prefix selection, sharded so a dominant source
      // never serializes one window reducer.
      val docs = read(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      Sampling.mixtureByTokenBudget(docs, col("source"), col("doc_id"),
          col("n_tokens"), MixtureBudgets.toMap, shards = MixtureShards)
        .orderBy("doc_id")
    }),

    "q_mixture_report" -> ((s, dir) => {
      // The mixture's published accounting: achieved vs target tokens
      // and shares per source (src2's budget exceeds supply at sf0.01,
      // so its achieved share falls short — visible, not silent).
      val docs = read(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      val selected = Sampling.mixtureByTokenBudget(docs, col("source"),
        col("doc_id"), col("n_tokens"), MixtureBudgets.toMap,
        shards = MixtureShards)
      Sampling.mixtureReport(selected, col("source"), col("n_tokens"),
          MixtureBudgets.toMap)
        .orderBy("source")
    }),

    "q_mixture_redistributed" -> ((s, dir) => {
      // Shortfall redistribution end-to-end against the engine oracle:
      // src2's budget exceeds its supply at sf0.01, so its unused mass
      // flows pro-rata (by target share, integer-exact, remainder to
      // the first absorbers in name order) to the sources that still
      // have unselected docs, and the final selection is the prefix
      // rule under the ADJUSTED budgets. The oracle recomputes the
      // whole chain — pass-1 selection, achieved/supply, the division
      // arithmetic, pass-2 selection — from the parquet alone.
      val docs = read(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      Sampling.mixtureByTokenBudgetRedistributed(docs, col("source"),
          col("doc_id"), col("n_tokens"), MixtureBudgets.toMap,
          shards = MixtureShards)
        .orderBy("doc_id")
    }),

    "q_mixture_redistributed_report" -> ((s, dir) => {
      // The redistribution's published accounting: achieved-vs-ADJUSTED
      // budgets per source — "src2 ran dry, its unused mass moved to
      // src0/src1/src3 and they delivered it" as a verifiable table.
      // Shares use the adjusted targets, so a fully-absorbed
      // redistribution reads ~1.0 achieved/target across the board.
      val docs = read(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      val adjusted = Sampling.redistributedBudgets(docs, col("source"),
        col("doc_id"), col("n_tokens"), MixtureBudgets.toMap, MixtureShards)
      val selected = Sampling.mixtureByTokenBudget(docs, col("source"),
        col("doc_id"), col("n_tokens"), adjusted, MixtureShards)
      Sampling.mixtureReport(selected, col("source"), col("n_tokens"), adjusted)
        .orderBy("source")
    }),

    "q_mixture_temp" -> ((s, dir) => {
      // α-temperature mixture end-to-end: supplies → floor(supply^α·10⁶)
      // integer weights → largest-remainder apportionment of the total
      // → mixture selection with one shortfall-redistribution pass
      // (α 0.5 hands src8 more than its supply at sf0.01, so the
      // redistribution genuinely fires). The oracle replays the whole
      // arithmetic from the parquet alone — power() is the single
      // double step on either side, quantized to integers immediately.
      val docs = read(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      Sampling.mixtureByTemperature(docs, col("source"), col("doc_id"),
          col("n_tokens"), TempSources, TempTotal, TempAlphaHundredths,
          shards = MixtureShards)
        .orderBy("doc_id")
    }),

    "q_mixture_by_lang" -> ((s, dir) => {
      // LANGUAGE-conditioned α-temperature mixture — the multilingual
      // recipe (XLM-R/mT5 line): budgets apportioned over the DETECTED
      // language, upsampling low-supply languages against the dominant
      // one. langId composes straight into the mixture machinery as
      // the stratum column; nothing else changes.
      val docs = read(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("source"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      Sampling.mixtureByTemperature(docs, col("source"), col("doc_id"),
          col("n_tokens"), MixtureLangs, TempTotal, TempAlphaHundredths,
          shards = MixtureShards)
        .orderBy("doc_id")
    }),

    "q_semantic_dedup" -> ((s, dir) => {
      // Cross-modal near-dup removal: a document is evicted when its
      // EMBEDDING is a verified cosine near-duplicate of a lower-id
      // document's (vec_id keys doc_id in the testdata). The text-blind
      // twin of q_dedup_near — the path that catches paraphrases the
      // exact/n-gram methods miss. Threshold is the demo knob; real
      // semantic dedup runs at 0.9+ on purpose-built embeddings.
      val pairs = Similarity.cosineDupPairs(read(s, dir, "embeddings")
          .select("vec_id", "embedding"), "vec_id", "embedding", AnnPlanes, CosDupThreshold)
      Dedup.removeNearDups(read(s, dir, "documents"), pairs, "doc_id")
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),

    "q_semdedup" -> ((s, dir) => {
      // SemDeDup (Abbas et al. 2023): cluster with the SAME Lloyd
      // centroids the IVF index trains, pair only within clusters,
      // flag the higher-centroid-cosine member of every ε-near pair
      // (keep cluster-edge outliers). Threshold is the demo knob on
      // these random synthetic embeddings; purpose-built embedding
      // spaces run 0.9+.
      val emb = read(s, dir, "embeddings").select("vec_id", "embedding")
      Similarity.semDeDupFlags(emb,
          Similarity.ivfCentroidsLloyd(emb, IvfLists, "vec_id", "embedding"),
          SemDedupCos)
        .orderBy("vec_id")
    }),

    "q_ann_quantized" -> ((s, dir) => {
      // MIPS top-5 over the int8-quantized corpus: the compressed-ANN
      // composition (quantize → integer dot → rescale). Scores are
      // bit-exact (integer dot + two IEEE multiplies), so the oracle
      // match needs no epsilon.
      val e = read(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.quantizedTopK(queries, e.select("vec_id", "embedding"), 5)
        .orderBy("q_id", "rank")
    }),

    "q_ann_pq" -> ((s, dir) => {
      // Product quantization + asymmetric distance: corpus stored as
      // m=8 four-bit-scale codes (64x compression vs float — the
      // memory-bound ANN regime), queries full-precision with
      // per-subspace lookup tables. Seed codebooks (first PqK corpus
      // rows) so the oracle replays training exactly.
      val e = read(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val books = Similarity.pqCodebooks(e.select("vec_id", "embedding"),
        PqM, PqK)
      Similarity.pqTopK(queries, e.select("vec_id", "embedding"), 5, books)
        .orderBy("q_id", "rank")
    }),

    "q_ivf_skew" -> ((s, dir) => {
      // The incremental-index RETRAIN TRIGGER, operationalized: per-list
      // counts of the persisted IVF index through the generic key-skew
      // profiler — the `skew` column (ratio to mean list size) is the
      // number appendToIvfIndex's contract says to watch (rebuild past
      // ~4×). Scans only the `list` partition column of `lists/`.
      val path = ivfIndexFor(s, dir)
      Analytics.keySkewProfile(
          s.read.parquet(s"$path/lists").select(col("list").cast("long").as("list")),
          Seq("list"), IvfLists)
        .orderBy(col("n").desc, col("list"))
    }),

    "q_ann_ivf_persisted" -> ((s, dir) => {
      // Full-precision search of the PERSISTED index: probed lists come
      // back partition-pruned with their stored norms, ranked under the
      // shared contract — must reproduce the in-memory Lloyd IVF search
      // (q_ann_ivf) bit-for-bit, which is exactly what the shared oracle
      // asserts.
      val e = read(s, dir, "embeddings")
      val path = ivfIndexFor(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.searchIvfIndex(s, path, queries, k = 3, nProbe = IvfProbes)
        .orderBy("q_id", "rank")
    }),

    "q_ann_ivf_quantized" -> ((s, dir) => {
      // The production ANN composition: persisted IVF index (Lloyd-trained,
      // list-partitioned, int8 payload stored at build time) searched with
      // integer MIPS over ONLY the stored (__scale, __codes) columns of
      // the probed lists — partition pruning keeps the scan to nProbe
      // lists, column pruning keeps it to the 4×-smaller compressed
      // payload. Index built once per corpus (memoized — build/search
      // split, like IvfCentCache); scores are bit-exact integer MIPS.
      val e = read(s, dir, "embeddings")
      val path = ivfIndexFor(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.searchIvfIndexQuantized(s, path, queries, k = 5,
          nProbe = IvfProbes)
        .orderBy("q_id", "rank")
    }),

    "q_ann_ivf_refined" -> ((s, dir) => {
      // Two-stage ANN over the persisted index: integer-MIPS shortlist of
      // AnnRefine×k per query from the compressed payload, then exact
      // cosine re-rank of the shortlist alone against the float vectors
      // of the probed partitions. The production recall/bandwidth trade.
      val e = read(s, dir, "embeddings")
      val path = ivfIndexFor(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.searchIvfIndexRefined(s, path, queries, k = 5,
          nProbe = IvfProbes, refine = AnnRefine)
        .orderBy("q_id", "rank")
    }),

    "q_ann_ivf_pq" -> ((s, dir) => {
      // IVF-PQ — the standard production ANN layout: PQ codes stored per
      // IVF list at build time (same persisted index as the other
      // searches, memoized), search = partition-pruned probed lists →
      // per-query ADC lookup tables → rank. The corpus scan touches
      // nProbe/nLists partitions × ONLY the m-int code column —
      // q_ann_pq's full code-table scan is gone.
      val e = read(s, dir, "embeddings")
      val path = ivfIndexFor(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.searchIvfIndexPq(s, path, queries, k = 5, nProbe = IvfProbes)
        .orderBy("q_id", "rank")
    }),

    "q_ann_ivf_pq_refined" -> ((s, dir) => {
      // Two-stage IVF-PQ: ADC shortlist of AnnRefine×k per query from
      // the 64×-compressed stored codes of the probed lists, then exact
      // cosine over the shortlist alone against the float vectors of
      // the same pruned partitions — the recall/bandwidth trade at PQ
      // compression (q_ann_ivf_refined's shape with a 16× smaller
      // stage-1 payload).
      val e = read(s, dir, "embeddings")
      val path = ivfIndexFor(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.searchIvfIndexPqRefined(s, path, queries, k = 5,
          nProbe = IvfProbes, refine = AnnRefine)
        .orderBy("q_id", "rank")
    }),

    "q_ann_ivf_pq_residual" -> ((s, dir) => {
      // IVFADC proper: the stored __pqr codes quantize RESIDUALS
      // (x − centroid_of_list) under codebooks trained on residual
      // space, and search ranks by asymmetric squared distance from
      // per-(query, probe) lookup tables built from q − centroid_list.
      // Same m×k budget as q_ann_ivf_pq, spent on the within-list
      // variance instead of the corpus-global spread — the canonical
      // production layout (and on these unit-norm embeddings, distance
      // ranking = cosine ranking on exact vectors).
      val e = read(s, dir, "embeddings")
      val path = ivfIndexFor(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.searchIvfIndexPqResidual(s, path, queries, k = 5,
          nProbe = IvfProbes)
        .orderBy("q_id", "rank")
    }),

    "q_ann_ivf_pq_residual_refined" -> ((s, dir) => {
      // The full IVFADC production shape: residual-ADC shortlist
      // (the best stage-1 the m×k budget buys) + exact re-rank of
      // refine×k candidates — completing the search matrix
      // {raw, residual} × {plain, refined}.
      val e = read(s, dir, "embeddings")
      val path = ivfIndexFor(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.searchIvfIndexPqResidualRefined(s, path, queries, k = 5,
          nProbe = IvfProbes, refine = AnnRefine)
        .orderBy("q_id", "rank")
    }),

    "q_quantize_int8" -> ((s, dir) => {
      // Per-vector symmetric int8 quantization of the embedding corpus:
      // codes, the 6dp scale, and the realized reconstruction bound —
      // all bit-exact across engines (correctly-rounded IEEE ops only).
      Similarity.quantizeInt8(read(s, dir, "embeddings"),
          col("vec_id"), col("embedding"))
        .orderBy("vec_id")
    }),

    // ───────── multimodal plumbing ─────────
    "q_multimodal_decode" -> ((s, dir) => {
      // REAL image decode end-to-end: every doc gets an actual PNG
      // (javax.imageio, pixels an analytic function of doc_id), the
      // decoder parses the compressed bytes back per partition, and the
      // oracle predicts dimensions + exact channel sums from the pixel
      // formula WITHOUT decoding — a codec, channel-order, or roundtrip
      // bug breaks the hash.
      val m = Multimodal.withSyntheticPng(read(s, dir, "documents"), "doc_id")
      Multimodal.decodeImages(m, "doc_id")
        .orderBy("doc_id")
    }),

    "q_multimodal_audio" -> ((s, dir) => {
      // REAL audio decode end-to-end: every doc gets a raw s16le PCM
      // ramp clip, the decoder parses bytes back per partition into
      // exact integers (n, Σs², peak), and duration/RMS close over them
      // as rounded expressions. The oracle predicts every feature from
      // the ramp's closed forms without touching bytes — an endianness,
      // width, or offset bug breaks the hash.
      Multimodal.audioMetrics(
          Multimodal.decodeAudio(
            Multimodal.withSyntheticPcm(read(s, dir, "documents"), "doc_id"),
            "doc_id"))
        .orderBy("doc_id")
    }),

    "q_audio_wav" -> ((s, dir) => {
      // REAL WAV container decode end-to-end: every doc gets a genuine
      // RIFF/WAVE file (fmt chunk, an odd-sized JUNK chunk exercising
      // the chunk walk + pad rule, interleaved s16le frames; channels,
      // sample rate, and samples all analytic in doc_id), the JDK's
      // javax.sound codec parses it back per partition, and per-channel
      // exact integers close to duration/RMS. The oracle predicts every
      // stat from the shifted-ramp closed forms without touching bytes.
      Multimodal.wavMetrics(
          Multimodal.decodeWav(
            Multimodal.withSyntheticWav(read(s, dir, "documents"), "doc_id"),
            "doc_id"))
        .orderBy("doc_id", "channel")
    }),

    "q_image_resize" -> ((s, dir) => {
      // REAL resize: decode each PNG, nearest-neighbor resample to 8×8,
      // exact channel sums of the resized raster. Nearest neighbor means
      // every output pixel copies one input pixel — the oracle recomputes
      // the sums from the pixel formula + the floor index mapping.
      Multimodal.resizeImages(
          Multimodal.withSyntheticPng(read(s, dir, "documents"), "doc_id"),
          "doc_id", outW = 8, outH = 8)
        .orderBy("doc_id")
    }),

    "q_image_phash" -> ((s, dir) => {
      // REAL perceptual hashing: decode each PNG, dHash the luminance
      // gradient signs into a 56-bit long — the image-dedup key. The
      // oracle replays the sample grid + sign bits from the pixel
      // formula without decoding; a codec, channel, or bit-order bug
      // breaks the hash.
      Multimodal.perceptualHash(
          Multimodal.withSyntheticPng(read(s, dir, "documents"), "doc_id"),
          "doc_id", hw = PhashW, hh = PhashH)
        .orderBy("doc_id")
    }),

    "q_image_dup_families" -> ((s, dir) => {
      // Image dedup by perceptual hash: equal-dHash families (count +
      // min-id representative) — one hash shuffle on the long key,
      // never pairwise. The scale shape: families bound the output,
      // not the corpus square.
      Multimodal.perceptualHash(
          Multimodal.withSyntheticPng(read(s, dir, "documents"), "doc_id"),
          "doc_id", hw = PhashW, hh = PhashH)
        .groupBy("phash")
        .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("rep_id"))
        .filter(col("n_images") >= 2)
        .orderBy("phash")
    }),

    "q_image_dup_pairs" -> ((s, dir) => {
      // Hamming-tolerant image near-dup pairs: the SAME pigeonhole
      // banding machinery as simhash (2 bands of 28 bits; hamming ≤ 1
      // guarantees one identical slice) over the 56-bit dHash —
      // re-encoded/slightly-altered copies pair without an all-pairs
      // scan.
      val sigs = Multimodal.perceptualHash(
        Multimodal.withSyntheticPng(read(s, dir, "documents"), "doc_id"),
        "doc_id", hw = PhashW, hh = PhashH)
      Dedup.simhashDupPairs(sigs, "doc_id", "phash", PhashW * PhashH,
          bands = 2, maxHamming = 1)
        .orderBy("a", "b")
    }),

    "q_video_frames" -> ((s, dir) => {
      // REAL video frame sampling over a REAL container: an animated
      // GIF per doc (javax.imageio writes and re-reads it — logical
      // screen, frame directory, LZW rasters), every 2nd frame decoded
      // to exact channel sums. Palettes are exact per frame, so the
      // encode is lossless and the oracle predicts each sampled
      // frame's stats from the pixel formula (seed doc_id·31 +
      // frame_idx at the clip-wide w/h) without touching bytes.
      Multimodal.sampleFramesDecoded(
          Multimodal.withSyntheticGif(read(s, dir, "documents"), "doc_id"),
          "doc_id", every = 2)
        .orderBy("doc_id", "frame_idx")
    }),

    "q_frame_sample" -> ((s, dir) => {
      // Video-style frame sampling: explode one row per sampled frame.
      Multimodal.sampleFrames(
          Multimodal.withFakeMedia(read(s, dir, "documents"), "text"),
          "doc_id", FrameEvery)
        .orderBy("doc_id", "frame_idx")
    }),

    "q_multimodal_batch" -> ((s, dir) => {
      // Partition-batched decode via mapPartitions (per-partition codec
      // state) — deterministic, so the SQL oracle still applies.
      Multimodal.decodePartitioned(
          Multimodal.withFakeMedia(read(s, dir, "documents"), "text"), "doc_id")
        .orderBy("doc_id")
    }),

    "q_contamination" -> ((s, dir) => {
      // Benchmark decontamination: every 50th doc stands in for the eval
      // set; train docs sharing >= 3 distinct 3-gram shingles (after the
      // bench-side df-cap) are flagged with their hit count.
      val docs = read(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 50 === 0)
      val train = docs.filter(col("doc_id") % 50 =!= 0)
      Contamination.contaminatedPairs(train, bench, "doc_id", "text",
          n = 3, minHits = ContamMinHits, maxShingleDf = ContamMaxDf)
        .orderBy("train_id", "bench_id")
    }),

    "q_decontaminate" -> ((s, dir) => {
      // The stage q_contamination's flags exist FOR: drop flagged train
      // docs via a broadcast anti-join, survivors pass through untouched.
      val docs = read(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 50 === 0)
      val train = docs.filter(col("doc_id") % 50 =!= 0)
      Contamination.decontaminate(train, bench, "doc_id", "text",
          n = 3, minHits = ContamMinHits, maxShingleDf = ContamMaxDf)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "q_distinct_kmv" -> ((s, dir) => {
      // Engine-independent cardinality sketch: the k smallest distinct
      // md5 fingerprints of l_partkey (one scan, capped per-partition
      // buffers, no distinct-key shuffle) and the (k-1)/R_k estimate —
      // a set-valued fact of the data plus one IEEE divide, so DuckDB
      // reproduces it bit-for-bit where HLL sketches never agree.
      Cardinality.kmvEstimate(read(s, dir, "lineitem"), col("l_partkey"), 64)
    }),

    "q_anti_join_bloom" -> ((s, dir) => {
      // Incremental curation's exact pass at corpus scale: keep batch
      // docs (every 10th) whose content hash appears NOWHERE in the
      // accepted corpus (the other 9/10) — but instead of anti-joining
      // against the corpus's full hash set (a corpus-wide shuffle), the
      // corpus scan is reduced map-side by a bloom of the BATCH's keys;
      // only matches + fpp residue reach the exact tail. Result is
      // row-identical to the plain anti-join, so the oracle is NOT IN.
      // Key = md5 of the 60-char head (the edit-dup family's prefix
      // fingerprint): the templated corpus shares heads across the
      // split, so both outcomes are populated — full-text md5 has zero
      // exact dups in this testdata and would make the check trivial.
      val docs = read(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("__ck", md5(substring(col("text"), 1, 60)))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        .select(md5(substring(col("text"), 1, 60)).as("__ck"))
      BloomJoin.antiJoinViaBloom(batch, corpus, "__ck", expectedItems = 10000L)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "q_semi_join_bloom" -> ((s, dir) => {
      // The complement surface of q_anti_join_bloom: batch docs whose
      // content hash IS present in the accepted corpus (the dup report a
      // curation run logs), same bloom-reduced corpus scan and the same
      // 60-char-head fingerprint key.
      val docs = read(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("__ck", md5(substring(col("text"), 1, 60)))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        .select(md5(substring(col("text"), 1, 60)).as("__ck"))
      BloomJoin.semiJoinViaBloom(batch, corpus, "__ck", expectedItems = 10000L)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "q_corpus_overlap" -> ((s, dir) => {
      // One-number leakage check between two corpus halves: exact
      // Jaccard + containment over content fingerprints — one
      // fingerprint shuffle, a 1-row close, no join. The templated
      // testdata duplicates texts across sources, so overlap is real.
      val docs = read(s, dir, "documents")
      Contamination.corpusOverlap(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "text")
    }),

    "q_source_overlap_kmv" -> ((s, dir) => {
      // Sketch-estimated pairwise SOURCE overlap (bottom-k/KMV over
      // 3-gram shingle hashes) next to its exact referee, with the
      // within-3/√k agreement flag — the cross-source similarity
      // matrix at sources×k metadata cost.
      Contamination.sourceOverlapKmv(read(s, dir, "documents"),
          "source", "text", n = 3, k = KmvOverlapK)
        .orderBy("src_a", "src_b")
    }),

    "q_oov_ratio" -> ((s, dir) => {
      // Corpus-statistics quality signal: per-doc share of word
      // occurrences outside the global top-200 vocabulary.
      TextAnalysis.oovRatio(read(s, dir, "documents"), "doc_id", "text", OovVocab)
        .orderBy("doc_id")
    }),

    "q_dup_cluster_sizes" -> ((s, dir) => {
      // Duplicate-FAMILY size histogram: how many clusters of each
      // size the verified near-dup graph contains — the one-table
      // answer to "is my duplication a few huge families or a long
      // tail of pairs?", which decides eviction strategy (keep-best
      // per family vs pair-greedy) and sizes the CC work itself.
      val docs = read(s, dir, "documents")
      val verified = Dedup.verifiedNearDupPairs(docs, "doc_id", "text",
        k = 4, bands = 2, rowsPerBand = 2, threshold = NearDupJaccard)
      Dedup.dupClusters(verified)
        .groupBy(col("cluster")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy("size")
    }),

    "q_excise_report" -> ((s, dir) => {
      // Per-source EXCISION accounting: what the span-removal pass
      // would delete, as a corpus-shrink table (docs touched, spans,
      // words, chars, and the removed-char share of the normalized
      // corpus) — the go/no-go partner to q_duplication_report, now
      // measured on the actual transform output.
      val docs = read(s, dir, "documents")
      Dedup.exciseDuplicateSpans(docs, "doc_id", "text", DupGramWords)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("n_spans_removed") > 0).cast("long")).as("docs_touched"),
          sum(col("n_spans_removed")).as("spans_removed"),
          sum(col("n_words_removed")).as("words_removed"),
          sum(col("n_chars_removed").cast("long")).as("chars_removed"),
          sum(length(col("text")).cast("long")).as("chars_kept"))
        .withColumn("removed_share", round(
          col("chars_removed").cast("double") /
            (col("chars_removed") + col("chars_kept")), 6))
        .orderBy("source")
    }),

    "q_dup_clusters" -> ((s, dir) => {
      // Transitive duplicate CLUSTERS over the verified near-dup graph:
      // min-label propagation to the component minimum (a distributed
      // loop of join+min rounds, bounded by cluster diameter). The
      // cluster view is what "keep one copy per duplicate group" means —
      // greedy pair eviction can over-evict chains.
      val docs = read(s, dir, "documents")
      val verified = Dedup.verifiedNearDupPairs(docs, "doc_id", "text",
        k = 4, bands = 2, rowsPerBand = 2, threshold = NearDupJaccard)
      Dedup.dupClusters(verified)
        .select(col("node").as("doc_id"), col("cluster").as("cluster_id"))
        .orderBy("doc_id")
    }),

    "q_dup_centrality" -> ((s, dir) => {
      // PageRank-style centrality over the verified near-dup graph:
      // CentralityIters fixed power-iteration rounds, decimal-exact
      // contribution sums — which member of each duplicate family is
      // most similar to the rest (the natural representative), as a
      // first-class table.
      val docs = read(s, dir, "documents")
      val verified = Dedup.verifiedNearDupPairs(docs, "doc_id", "text",
        k = 4, bands = 2, rowsPerBand = 2, threshold = NearDupJaccard)
      Dedup.pairCentrality(verified, "a", "b", iters = CentralityIters)
        .select(col("u").as("doc_id"), col("deg"), col("centrality"))
        .orderBy("doc_id")
    }),

    "q_central_representatives" -> ((s, dir) => {
      // The composition q_dup_centrality exists for: per duplicate
      // CLUSTER, keep the most central member (ties to the smallest
      // id) — a principled alternative to min-id (q_dup_clusters) and
      // heuristic-quality (q_dedup_keep_best) survivor selection. The
      // verified pair table is pinned once and feeds both the cluster
      // rounds and the centrality rounds.
      val docs = read(s, dir, "documents")
      val verified = Dedup.pin(Dedup.verifiedNearDupPairs(docs, "doc_id",
        "text", k = 4, bands = 2, rowsPerBand = 2, threshold = NearDupJaccard))
      val clusters = Dedup.dupClusters(verified)
      val cent = Dedup.pairCentrality(verified, "a", "b",
        iters = CentralityIters)
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("centrality").desc, col("node"))
      clusters.join(cent, clusters("node") === cent("u"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster").as("cluster_id"), col("node").as("doc_id"),
          col("centrality"))
        .orderBy("cluster_id")
    }),

    "q_dup_triangles" -> ((s, dir) => {
      // Per-node triangle counts over the verified near-dup graph: how
      // clique-like each duplicate family is (triangle-rich = safe to
      // collapse; triangle-free chains are the over-eviction hazard).
      // One wedge join + a semi-join close, never enumerating beyond
      // the graph's wedge count.
      val docs = read(s, dir, "documents")
      val verified = Dedup.verifiedNearDupPairs(docs, "doc_id", "text",
        k = 4, bands = 2, rowsPerBand = 2, threshold = NearDupJaccard)
      Dedup.pairTriangles(verified, "a", "b")
        .select(col("node").as("doc_id"), col("n_triangles"))
        .orderBy("doc_id")
    }),

    "q_dedup_keep_best" -> ((s, dir) => {
      // Quality-aware survivor selection: per near-dup cluster keep the
      // HIGHEST-quality member (ties to the smallest id), not the
      // arbitrary min-id copy — the curation policy that decides which
      // variant of each boilerplate family a model actually trains on.
      // Survivors = unclustered docs + one argmax per cluster.
      val docs = read(s, dir, "documents")
      val verified = Dedup.verifiedNearDupPairs(docs, "doc_id", "text",
        k = 4, bands = 2, rowsPerBand = 2, threshold = NearDupJaccard)
      Dedup.keepBestPerCluster(docs, Dedup.dupClusters(verified), "doc_id",
          TextAnalysis.qualityScore(col("text")))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "q_dup_clusters_star" -> ((s, dir) => {
      // Same cluster contract computed by alternating large-star /
      // small-star contraction — O(log n) rounds instead of
      // O(diameter), the variant for graphs that may be DEEP (drift
      // chains). Shares the q_dup_clusters oracle: both must produce
      // the component-minimum labeling.
      val docs = read(s, dir, "documents")
      val verified = Dedup.verifiedNearDupPairs(docs, "doc_id", "text",
        k = 4, bands = 2, rowsPerBand = 2, threshold = NearDupJaccard)
      Dedup.dupClustersStar(verified)
        .select(col("node").as("doc_id"), col("cluster").as("cluster_id"))
        .orderBy("doc_id")
    }),

    "q_pack_budget" -> ((s, dir) => {
      // Sequence packing: whitespace token counts → hash-sharded
      // first-fit packs under a 2048-token budget.
      val docs = read(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      Sampling.packByBudget(docs, col("doc_id"), col("n_tokens"),
          budget = PackBudget, shards = PackShards)
        .orderBy("doc_id")
    }),

    "q_chunk_sliding" -> ((s, dir) => {
      // Overlapping context windows: 32-token chunks every 24 tokens —
      // 25% overlap carried across boundaries, the LM training-window
      // shape (demo-scale constants: testdata docs average ~58 ws
      // tokens; real corpora run 1024/768+). stride == size
      // degenerates to q_chunk_budget's disjoint split. Map-only
      // posexplode, zero shuffles.
      TextAnalysis.chunkSliding(read(s, dir, "documents"), "doc_id", "text",
          size = SlideSize, stride = SlideStride)
        .orderBy("doc_id", "chunk_idx")
    }),

    "q_upsample_epochs" -> ((s, dir) => {
      // Fractional-epoch upsampling: src0 at 2.30x (2 copies + a ~30%
      // hash-selected third), src1 at 0.50x (half the docs, hash-
      // selected), src2 dropped, everything else at 1x — the mixing
      // knob that repeats curated sources. Map-only explode; the
      // oracle replays the bucket arithmetic with generate_series.
      Sampling.upsampleByEpochs(read(s, dir, "documents")
          .select("doc_id", "source", "n_chars"),
          col("source"), col("doc_id"), UpsampleEpochsBp.toMap)
        .orderBy("doc_id", "copy")
    }),

    "q_pack_examples" -> ((s, dir) => {
      // The packing last mile: packs materialized as concatenated
      // training examples (EOS-joined member texts in the exact pack
      // order) with per-pack doc/token accounting — what a dataloader
      // consumes. One (shard, pack) agg on top of the map-only
      // assignment; the oracle replays the prefix rule and re-joins
      // with string_agg under the same order.
      val docs = read(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      Sampling.packToExamples(docs, col("doc_id"), col("n_tokens"), "text",
          budget = PackBudget, shards = PackShards, sep = PackSep)
        .orderBy("shard", "pack_id")
    }),

    "q_pack_boundaries" -> ((s, dir) => {
      // The packing's attention-mask companion: per member doc, its
      // pack, 0-based slot, and the token offset where it starts
      // inside the example — what a dataloader needs to stop
      // cross-document attention. Same prefix rule, same order as
      // q_pack_examples; token_start is the within-pack exclusive
      // prefix sum.
      val docs = read(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      Sampling.packBoundaries(docs, col("doc_id"), col("n_tokens"),
          budget = PackBudget, shards = PackShards)
        .orderBy("shard", "pack_id", "seq")
    }),

    "q_interleave_sources" -> ((s, dir) => {
      // Deterministic source-interleaved training order: round-robin
      // across sources so adjacent examples come from different
      // corpora — pos = rank_within_source × n_sources + source_index,
      // a pure function of (doc_id, source).
      Sampling.interleaveBySource(read(s, dir, "documents"),
          col("source"), col("doc_id"))
        .select("doc_id", "source", "pos")
        .orderBy("pos")
    }),

    "q_sample_per_group" -> ((s, dir) => {
      // Fixed-count domain cap: at most 12 docs per source, winners
      // chosen by stable key hash (reproducible on any partitioning).
      Sampling.samplePerGroup(read(s, dir, "documents"),
          col("source"), col("doc_id"), SamplePerSource)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    "q_dedup_incremental" -> ((s, dir) => {
      // Incremental curation: the odd-id half of the corpus arrives as
      // a "new crawl" and dedups against the even-id half already
      // curated — exact content-hash anti-join first, then cross-table
      // LSH near-dup (batch bands vs ref bands, never batch × ref).
      val docs = read(s, dir, "documents")
      val ref = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 =!= 0)
      Dedup.dedupAgainstReference(batch, ref, "doc_id", "text",
          k = 4, bands = 2, rowsPerBand = 2, threshold = NearDupJaccard)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    "q_edit_dup_pairs" -> ((s, dir) => {
      // Character-level near-dup pairs over the doc HEAD (first 60
      // chars — the templated-prefix field where word-set Jaccard is
      // too coarse): banded minhash candidates, bounded-Levenshtein
      // verify (threshold form, O(len·d) per pair). The oracle rebuilds
      // the same signatures over the same prefix and verifies with
      // DuckDB's levenshtein.
      val docs = read(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 60).as("head"))
      Dedup.editDistanceDupPairs(docs, "doc_id", "head",
          k = 4, bands = 2, rowsPerBand = 2, maxDist = EditDupMaxDist)
        .orderBy("a", "b")
    }),

    "q_dedup_paragraph" -> ((s, dir) => {
      // Corpus-wide paragraph dedup — the boilerplate-removal shape
      // (repeated headers/license blocks across docs that are not dups
      // of each other). Docs are re-chunked into ParaChunkWords-word
      // paragraphs (the corpus has no natural newlines; its small
      // vocabulary makes cross-doc chunk repetition real), each distinct
      // paragraph keeps only its first (doc, position) occurrence,
      // survivors reassemble in order, fully-emptied docs drop.
      val ws = split(col("text"), " ")
      val chunked = read(s, dir, "documents").select(col("doc_id"),
        array_join(transform(
            sequence(lit(0),
              ceil(size(ws) / lit(ParaChunkWords.toDouble)).cast("int") - 1),
            i => array_join(slice(ws, i * ParaChunkWords + 1, lit(ParaChunkWords)), " ")),
          "\n").as("text"))
      Dedup.dedupParagraphs(chunked, "doc_id", "text", "\n")
        .orderBy("doc_id")
    }),

    "q_chunk_cdc" -> ((s, dir) => {
      // Content-defined chunking (Rabin rolling hash): boundaries move
      // with the content, so chunk-hash dedup survives edits that
      // shift offsets. Map-only; expected chunk ~2^5 chars here.
      TextAnalysis.chunkContentDefined(read(s, dir, "documents"),
          "doc_id", "text", CdcWindow, CdcBits)
        .orderBy("doc_id", "chunk_idx")
    }),

    "q_dedup_cdc" -> ((s, dir) => {
      // Chunk-level keep-first dedup over the content-defined chunks —
      // mid-line boilerplate dedups without any separator convention.
      TextAnalysis.dedupCdcChunks(read(s, dir, "documents"),
          "doc_id", "text", CdcWindow, CdcBits)
        .orderBy("doc_id")
    }),

    "q_gram_novelty" -> ((s, dir) => {
      // Per-doc 8-gram novelty (1 − duplication exposure): boilerplate
      // docs score near 0, original text near 1; sub-8-word docs carry
      // no evidence → NULL.
      Dedup.gramNovelty(read(s, dir, "documents"), "doc_id", "text",
          DupGramWords)
        .orderBy("doc_id")
    }),

    "q_duplication_report" -> ((s, dir) => {
      // Per-source duplication exposure: how much volume sits under
      // corpus-duplicated 8-gram spans — the go/no-go number for the
      // substring-removal pass.
      Dedup.duplicationReport(read(s, dir, "documents"), "doc_id", "text",
          "source", DupGramWords)
        .orderBy("source")
    }),

    "q_dup_spans" -> ((s, dir) => {
      // Substring-level duplication report (the Lee et al. 2022 span
      // shape): maximal runs of word 8-grams occurring more than once
      // corpus-wide, at 1-based word-index resolution. Gram generation
      // is map-only; counts shuffle combine-reduced 32-byte keys; span
      // assembly windows per doc.
      Dedup.duplicateSpans(read(s, dir, "documents"), "doc_id", "text",
          DupGramWords)
        .orderBy("doc_id", "span_start")
    }),

    "q_dedup_substring" -> ((s, dir) => {
      // Keep-first substring removal over the same 8-gram instances:
      // non-canonical duplicated grams drop every word they cover,
      // survivors reassemble in order, fully-emptied docs drop.
      Dedup.removeDuplicateSubstrings(read(s, dir, "documents"),
          "doc_id", "text", DupGramWords)
        .orderBy("doc_id")
    }),

    "q_dedup_spans_removed" -> ((s, dir) => {
      // Span EXCISION (the Lee et al. 2022 transform itself): every
      // corpus-duplicated 8-gram span — merged maximal intervals, ALL
      // copies — cut out of the text; every doc survives with exact
      // spans/words/chars-removed accounting (docs excised to '' stay,
      // so the corpus-shrink number is reportable).
      Dedup.exciseDuplicateSpans(read(s, dir, "documents"), "doc_id",
          "text", DupGramWords)
        .orderBy("doc_id")
    }),

    "q_dedup_lrs" -> ((s, dir) => {
      // Exact CHARACTER-level longest-repeated-substring per doc via a
      // per-row suffix automaton — the self-repetition detector beyond
      // fixed-width gram spans (generation loops, in-doc boilerplate).
      // Map-only, O(chars) memory per row. The 150-char prefix bounds
      // the DuckDB oracle's brute-force replay (every substring of
      // length ≤ LrsClamp); lrs_len clamps to LrsClamp because a
      // length-L repeat implies repeats at every shorter length, so
      // both engines agree exactly at and below the clamp. Docs with
      // lrs_len ≥ 20 route into the span-excision machinery.
      Dedup.longestRepeatedSubstring(read(s, dir, "documents"), "doc_id",
          "text", maxChars = LrsPrefix)
        .select(col("doc_id"),
          least(col("lrs_len"), lit(LrsClamp)).cast("int").as("lrs_len"),
          (col("lrs_len") >= LrsRepetitiveFloor).as("is_repetitive"))
        .orderBy("doc_id")
    }),

    "q_quality_classifier" -> ((s, dir) => {
      // Learned quality scoring, the third leg next to Gopher rules
      // and LM perplexity: fastText-shaped hashed unigram+bigram
      // features, a BROADCAST 6dp weight table (deterministic fixture
      // standing in for a trained model), decimal-exact per-doc dot,
      // 6dp mean/sigmoid close. Map-only but the one per-doc agg.
      Classify.scoreLinear(read(s, dir, "documents"), "doc_id", "text",
          Classify.fixtureWeights(s, ClsBuckets), ClsBuckets,
          bias = ClsBias)
        .orderBy("doc_id")
    }),

    "q_classifier_buckets" -> ((s, dir) => {
      // Head/middle/tail over the LEARNED scorer (the CCNet curriculum
      // split driven by the classifier instead of perplexity):
      // probabilities binned at the corpus 0.33/0.67 quantiles. Scores
      // pin conf-routed (Dedup.pin) so the scoring chain runs once
      // under percentileBins' two reads.
      val scored = Dedup.pin(Classify.scoreLinear(read(s, dir, "documents"),
        "doc_id", "text", Classify.fixtureWeights(s, ClsBuckets),
        ClsBuckets, bias = ClsBias))
      graft.ops.Cleaning.percentileBins(scored, "prob", Seq.empty,
          Seq(0.33, 0.67))
        .orderBy("doc_id")
    }),

    "q_c4_lines" -> ((s, dir) => {
      // C4 cleaning (Raffel et al. 2020 §2.2) at LINE resolution, on
      // deterministically line-structured text (the corpus is one-line
      // word soup, so the fixture builds 7-word lines with a
      // (doc_id+i)%4-cycled terminal mark, poisons the (doc_id+i)%11==5
      // lines with 'javascript', and appends 'lorem ipsum' / '{' doc
      // poisons on the %23 / %29 wheels — every rule fires). The
      // filter itself is map-only higher-order work: zero shuffles.
      val docs = read(s, dir, "documents")
      val ws = split(col("text"), " ")
      // Column `/` is TRUE division (double) — cast back for sequence's
      // integral bound; nonnegative, so the cast truncation IS floor.
      val lines = transform(
        sequence(lit(0), ((size(ws) - 1) / 7).cast("int")), i => {
        val base = concat(array_join(slice(ws, i * 7 + 1, lit(7)), " "),
          when((col("doc_id") + i) % 4 === 0, ".")
            .when((col("doc_id") + i) % 4 === 1, "!")
            .when((col("doc_id") + i) % 4 === 2, "?")
            .otherwise(""))
        when((col("doc_id") + i) % 11 === 5,
          concat(lit("javascript "), base)).otherwise(base)
      })
      val fixture = docs.select(col("doc_id"),
        concat(array_join(lines, "\n"),
          when(col("doc_id") % 23 === 5, "\nlorem ipsum filler line.")
            .otherwise(""),
          when(col("doc_id") % 29 === 7, "\ncode { block }.")
            .otherwise("")).as("itext"))
      TextAnalysis.c4LineFilter(fixture, "doc_id", "itext")
        .orderBy("doc_id")
    }),

    "q_score_drift" -> ((s, dir) => {
      // PSI between the even- and odd-id halves' classifier scores —
      // the model-monitoring drift number, per 0.1-wide probability
      // bin (two halves of one synthetic corpus ⇒ the PSI should read
      // "stable"; the arithmetic is what the oracle pins).
      val docs = read(s, dir, "documents")
      def half(m: Int) = Classify.scoreLinear(
        docs.filter(col("doc_id") % 2 === m), "doc_id", "text",
        Classify.fixtureWeights(s, ClsBuckets), ClsBuckets, bias = ClsBias)
      Classify.scoreDrift(half(0), half(1), "prob", bins = 10)
        .orderBy("bin")
    }),

    "q_uncertain_sample" -> ((s, dir) => {
      // Active-learning draw: the 50 docs nearest the classifier's
      // decision boundary — what a labeling pass should read first.
      // Bounded-k heap (TakeOrdered), never a full sort.
      Classify.mostUncertain(
          Classify.scoreLinear(read(s, dir, "documents"), "doc_id", "text",
            Classify.fixtureWeights(s, ClsBuckets), ClsBuckets,
            bias = ClsBias),
          "doc_id", k = 50)
        .orderBy("doc_id")
    }),

    "q_gate_agreement" -> ((s, dir) => {
      // Gate AGREEMENT audit: the (gopher, classifier) confusion
      // counts per source — where the heuristic and learned legs
      // disagree is exactly the slice to hand-audit before trusting
      // either gate (systematic disagreement on one source means a
      // domain the heuristics or the model misread).
      val docs = read(s, dir, "documents")
      val t = col("text")
      val gopher = docs.select(col("doc_id"), col("source"),
        (TextAnalysis.nWords(t).between(50, 100000) &&
          round(TextAnalysis.meanWordLen(t), 6).between(3, 10) &&
          round(TextAnalysis.repetitionRatio(t), 6) < 0.5).as("gopher_keep"))
      val cls = Classify.scoreLinear(docs, "doc_id", "text",
          Classify.fixtureWeights(s, ClsBuckets), ClsBuckets, bias = ClsBias)
        .select(col("doc_id"), (col("label") === "keep").as("cls_keep"))
      gopher.join(cls, Seq("doc_id"))
        .groupBy(col("source"), col("gopher_keep"), col("cls_keep"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("agree", col("gopher_keep") === col("cls_keep"))
        .orderBy("source", "gopher_keep", "cls_keep")
    }),

    "q_quality_ensemble" -> ((s, dir) => {
      // The three quality legs VOTING together — heuristics (Gopher
      // bounds), LM perplexity (head/middle of the corpus by the
      // add-one model), learned classifier — with per-leg accounting:
      // the ensemble gate a production curation pass actually ships
      // (any single leg both over- and under-fires; the conjunction
      // is the standard conservative gate). Perplexity scores pin
      // conf-routed; everything else is map-side over broadcasts.
      val docs = read(s, dir, "documents")
      val t = col("text")
      val gopher = docs.select(col("doc_id"),
        (TextAnalysis.nWords(t).between(50, 100000) &&
          round(TextAnalysis.meanWordLen(t), 6).between(3, 10) &&
          round(TextAnalysis.repetitionRatio(t), 6) < 0.5).as("gopher_keep"))
      val scored = Dedup.pin(TextAnalysis.perplexity(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 10 === 0), "text"))
      val bucketed = graft.ops.Cleaning.percentileBins(scored, "ppl",
          Seq.empty, Seq(0.33, 0.67))
        .select(col("doc_id"), col("bin").as("ppl_bin"))
      val cls = Classify.scoreLinear(docs, "doc_id", "text",
          Classify.fixtureWeights(s, ClsBuckets), ClsBuckets, bias = ClsBias)
        .select(col("doc_id"), col("label").as("cls_label"))
      gopher.join(bucketed, Seq("doc_id")).join(cls, Seq("doc_id"))
        .withColumn("n_pass", (col("gopher_keep").cast("int")
          + when(col("ppl_bin") <= 1, 1).otherwise(0)
          + (col("cls_label") === "keep").cast("int")).cast("int"))
        .withColumn("keep", col("n_pass") === 3)
        .orderBy("doc_id")
    }),

    "q_heavy_hitters" -> ((s, dir) => {
      // Exact frequent-word report: one combine-reduced vocab shuffle +
      // a broadcast total — stop-word / boilerplate-token discovery
      // without a sketch (exact beats count-min until the vocabulary
      // itself stops fitting).
      TextAnalysis.heavyHitterWords(read(s, dir, "documents"), "text",
          minShare = HeavyShare)
        .orderBy("word")
    }),

    "q_collocations" -> ((s, dir) => {
      // PMI-ranked collocations: strongest two-word associations seen
      // ≥ CollocMinCount times — phrase-mining / tokenizer diagnostics.
      // Count tables meet in keyed joins; totals broadcast; top-k heap.
      TextAnalysis.collocations(read(s, dir, "documents"), "text",
          minCount = CollocMinCount, k = CollocTopK)
    }),

    "q_label_balance" -> ((s, dir) => {
      // Deterministic class balancing: every label keeps exactly
      // min-class-count members by stable hash order — the skew fix
      // before classifier training, stable under corpus growth.
      Sampling.balanceClasses(read(s, dir, "embeddings"),
          col("label"), col("vec_id"))
        .select("vec_id", "label")
        .orderBy("vec_id")
    }),

    "q_length_quantiles" -> ((s, dir) => {
      // Per-source doc-length quantiles (p50/p90/p99 words) — the
      // sequence-length planning table (context-window budgeting,
      // packing shard sizing). Exact percentile per bounded group.
      read(s, dir, "documents")
        .select(col("source"), TextAnalysis.nWords(col("text")).as("__w"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(element_at(percentile(col("__w"),
            array(lit(0.5), lit(0.9), lit(0.99))), 1), 6).as("p50_words"),
          round(element_at(percentile(col("__w"),
            array(lit(0.5), lit(0.9), lit(0.99))), 2), 6).as("p90_words"),
          round(element_at(percentile(col("__w"),
            array(lit(0.5), lit(0.9), lit(0.99))), 3), 6).as("p99_words"))
        .orderBy("source")
    }),

    "q_dedup_threshold_sweep" -> ((s, dir) => {
      // Near-dup threshold CALIBRATION: the verified-Jaccard histogram
      // over LSH candidates in 0.1 bins — the sweep you read BEFORE
      // committing a 100 TB corpus to one threshold (how many pairs
      // does each notch admit?). Candidates only from band buckets;
      // the histogram is a bounded 11-row agg.
      val docs = read(s, dir, "documents")
      val sigs = Dedup.minhashSignature(docs, "doc_id", "text", 4)
      val cand = Dedup.lshCandidatePairs(
        Dedup.lshBands(sigs, "doc_id", 2, 2), "doc_id")
      val da = docs.select(col("doc_id").as("a"), col("text").as("__ta"))
      val db = docs.select(col("doc_id").as("b"), col("text").as("__tb"))
      cand.join(da, "a").join(db, "b")
        .withColumn("__j", round(Dedup.jaccard(col("__ta"), col("__tb")), 6))
        .withColumn("bin", floor(col("__j") * 10) / 10)
        .groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
        .orderBy("bin")
    }),

    "q_leakage_cross_source" -> ((s, dir) => {
      // Cross-source duplicate-family LEAKAGE report: verified near-dup
      // pairs joined to their sources, normalized (least, greatest) so
      // each unordered source combination counts once. Off-diagonal
      // rows are the canary that breaks source-keyed splits: a family
      // straddling sources leaks between train and eval no matter how
      // the split wheel is keyed.
      val docs = read(s, dir, "documents")
      val verified = Dedup.verifiedNearDupPairs(docs, "doc_id", "text",
        k = 4, bands = 2, rowsPerBand = 2, threshold = NearDupJaccard)
      val src = docs.select(col("doc_id"), col("source"))
      verified
        .join(src.toDF("a", "sa"), Seq("a"))
        .join(src.toDF("b", "sb"), Seq("b"))
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("cross_source", col("source_a") =!= col("source_b"))
        .orderBy("source_a", "source_b")
    }),

    "q_token_fertility" -> ((s, dir) => {
      // Tokenizer FERTILITY report: chars per BPE token per source —
      // the budgeting number that converts corpus bytes to training
      // tokens, and the drift canary for domains the tokenizer
      // fragments (high fertility = out-of-vocabulary-heavy). The
      // segmenter is the real merge-table BPE (map-only); one bounded
      // per-source agg closes.
      val docs = read(s, dir, "documents")
      Bpe.withTokenCount(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source"),
          length(col("text")).as("__nc")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__nc").cast("long")).as("n_chars"),
          sum(col("n_tokens_bpe").cast("long")).as("n_tokens"))
        .withColumn("chars_per_token",
          when(col("n_tokens") > 0,
            round(col("n_chars").cast("double") / col("n_tokens"), 6)))
        .orderBy("source")
    }),

    "q_split_by_cluster" -> ((s, dir) => {
      // Leakage-safe splitting: the hash wheel keys on the near-dup
      // CLUSTER representative, so a duplicate family can never
      // straddle train/test — the contamination mode doc-keyed
      // splitting cannot prevent.
      val docs = read(s, dir, "documents")
      val verified = Dedup.verifiedNearDupPairs(docs, "doc_id", "text",
        k = 4, bands = 2, rowsPerBand = 2, threshold = NearDupJaccard)
      Sampling.splitByCluster(docs.select("doc_id", "source"),
          Dedup.dupClusters(verified), "doc_id", "node", "cluster",
          trainPct = 80, valPct = 10, salt = "clsplit")
        .select("doc_id", "source", "cluster_id", "split")
        .orderBy("doc_id")
    }),

    "q_importance_weights" -> ((s, dir) => {
      // DSIR (Xie et al. 2023): hashed-unigram importance log-weights
      // of every doc against the src0 target domain — two bounded
      // bucket-count aggs, a broadcast llr table, one per-doc agg.
      val docs = read(s, dir, "documents")
      Sampling.importanceWeights(docs, "doc_id", "text",
          docs.filter(col("source") === DsirTargetSource), "text", DsirBuckets)
        .orderBy("doc_id")
    }),

    "q_importance_sample" -> ((s, dir) => {
      // Gumbel-top-k importance resampling over those weights —
      // deterministic draw ∝ exp(logw), runs as a per-partition k-heap.
      val docs = read(s, dir, "documents")
      Sampling.importanceResample(docs, "doc_id", "text",
          docs.filter(col("source") === DsirTargetSource), "text",
          DsirBuckets, DsirSampleK)
        .orderBy("doc_id")
    }),

    "q_zorder_key" -> ((s, dir) => {
      // Morton key interleaving customer and order-day-of-year — the
      // OPTIMIZE ZORDER BY layout key as a pure codegen'd integer
      // expression (the writeZOrdered sort key).
      read(s, dir, "orders").select(col("o_orderkey"),
          Export.zorderKey(Seq(col("o_custkey"),
            dayofyear(col("o_orderdate")).cast("long")), ZorderBits).as("zkey"))
        .orderBy("o_orderkey")
    }),

    "q_html_extract" -> ((s, dir) => {
      // HTML → text extraction over a deterministic page per doc (the
      // urlSpace fixture convention): script/style/comment removal,
      // block closers → paragraph breaks, tag strip, entity unescape,
      // whitespace normalization — the step between a crawl and every
      // text op here.
      val h = htmlSpace(read(s, dir, "documents"))
      h.select(col("doc_id"), TextAnalysis.stripHtml(col("raw_html")).as("text"))
        .orderBy("doc_id")
    }),

    "q_lang_audit" -> ((s, dir) => {
      // Stored-label vs re-detected language, per source — the canary
      // for mislabeled shards or detector drift; NULL labels count as
      // mismatches (unlabeled rows are what the audit surfaces).
      TextAnalysis.langAudit(read(s, dir, "documents"), "text", "lang",
          "source")
        .orderBy("group")
    }),

    "q_script_profile" -> ((s, dir) => {
      // Unicode-script ratios + dominant script per doc — the
      // multilingual routing signal upstream of langId. Map-only
      // regexp delete-and-diff counting.
      TextAnalysis.scriptProfile(read(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q_corpus_datasheet" -> ((s, dir) => {
      // Per-source release datasheet: doc/char/token counts, shares,
      // and exact-dup exposure — bounded aggs + one hash semi-join,
      // the mixtureReport totals shape.
      TextAnalysis.corpusDatasheet(read(s, dir, "documents"),
          "doc_id", "text", "source")
        .orderBy("source")
    }),

    "q_winnow_fp" -> ((s, dir) => {
      // Winnowing fingerprint selection (Schleimer et al., MOSS):
      // window-min over rolling 16-char gram hashes, rightmost-min
      // ties, per-doc distinct before the explode — map-only, zero
      // shuffles.
      TextAnalysis.winnowFingerprints(read(s, dir, "documents"),
          "doc_id", "text", WinnowGram, WinnowWindow)
        .orderBy("doc_id", "pos")
    }),

    "q_winnow_pairs" -> ((s, dir) => {
      // Fingerprint-bucket pair detection: docs sharing >= minShared
      // selected hashes, overlap = shared / min fingerprint-set size.
      // Any >= w+k-1-char common substring guarantees a meeting.
      TextAnalysis.winnowSimilarPairs(read(s, dir, "documents"),
          "doc_id", "text", WinnowGram, WinnowWindow, WinnowMinShared)
        .orderBy("a", "b")
    }),

    "q_length_bins" -> ((s, dir) => {
      // Scale-correct ntile: per-source quartile binning of doc length
      // via broadcast percentile bounds + a map-only when-chain (a
      // corpus-wide ntile(4) window would sort everything in ONE task).
      graft.ops.Cleaning.percentileBins(read(s, dir, "documents")
          .select("doc_id", "source", "n_chars"),
        "n_chars", Seq("source"), Seq(0.25, 0.5, 0.75))
        .orderBy("doc_id")
    }),

    "q_weighted_sample" -> ((s, dir) => {
      // Length-weighted deterministic sample (Efraimidis–Spirakis
      // top-k): longer docs proportionally likelier, yet every draw is
      // a pure function of doc_id — reproducible on any cluster. Runs
      // as a per-partition k-heap, never a full sort.
      Sampling.weightedSample(read(s, dir, "documents"),
          col("doc_id"), col("n_chars"), WeightedSampleK, salt = "ws")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    "q_k_anonymity" -> ((s, dir) => {
      // Structural re-identification risk: equivalence classes over
      // (nation, segment) quasi-identifiers, histogrammed by class
      // size with the below-k flag — redaction's counterpart (scrubbed
      // text can still leak through a class of one). Two cascaded
      // aggs, second input ≤ |classes|.
      Privacy.kAnonymityReport(read(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 10)
        .orderBy("class_size")
    }),

    "q_l_diversity" -> ((s, dir) => {
      // k-anonymity's refinement: a large class whose members all
      // share the sensitive value (here: debt vs credit standing)
      // still leaks it. Distinct-sensitive-count per class,
      // histogrammed with the below-l flag.
      Privacy.lDiversityReport(
          read(s, dir, "customer").withColumn("balance_sign",
            when(col("c_acctbal") < 0, "debt").otherwise("credit")),
          Seq("c_nationkey", "c_mktsegment"), "balance_sign", l = 2)
        .orderBy("diversity")
    }),

    "q_t_closeness" -> ((s, dir) => {
      // l-diversity's refinement: a class can be diverse yet leak when
      // its sensitive DISTRIBUTION skews from the table's. Variational
      // distance per nation class over the market-segment distribution,
      // computed in exact integer arithmetic over a common denominator
      // (no order-dependent float sums) — one double division at the
      // end, rounded to 6dp.
      Privacy.tClosenessReport(read(s, dir, "customer"),
          Seq("c_nationkey"), "c_mktsegment", t = 0.1)
        .orderBy("c_nationkey")
    }),

    "q_t_closeness_ordered" -> ((s, dir) => {
      // Ordered-attribute variant: priority is a RANKED scale, so the
      // right distance is the adjacent-rank EMD (cumulative mass
      // differences), not the variational distance that reads "one
      // band off" and "four bands off" the same. Priority-mix drift
      // per order year vs the whole table; exact integer cumulative
      // sums, one division, 6dp.
      Privacy.tClosenessOrderedReport(
          read(s, dir, "orders")
            .withColumn("o_year", year(col("o_orderdate"))),
          Seq("o_year"), "o_orderpriority", t = 0.05)
        .orderBy("o_year")
    }),

    "q_redact_pii" -> ((s, dir) => {
      // PII scrubber end-to-end: the synthetic corpus carries no PII,
      // so the query plants a deterministic contact block per doc (both
      // engines build the identical string) and proves the typed masks
      // plus the per-category audit counts.
      val planted = concat(col("text"),
        lit(" Contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-4567, ssn 123-45-6789, host 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".7."))
      read(s, dir, "documents")
        .select(col("doc_id") +:
          TextAnalysis.redactPii(planted).as("clean_text") +:
          TextAnalysis.piiCounts(planted).map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    })
  )

  private val NearDupJaccard = 0.8
  /** Fixed power-iteration rounds for the pair-graph centrality — the
    * oracle unrolls exactly this many. */
  private val CentralityIters = 3
  // Paragraph dedup re-chunks the newline-less word-soup corpus into
  // fixed word-count "paragraphs"; 8 words is small enough that the
  // ~30-word vocabulary produces real cross-document repetition.
  private val ParaChunkWords = 8
  private val RollCorrWindow = 30
  /** Trailing window for the rolling z-score anomaly gate. */
  private val ZScoreWindow = 20
  private val BollingerWindow = 20
  private val RsiWindow = 14
  private val SkewTopK = 25
  private val ChunkBudget = 64
  // Gopher repetition gram orders: top-gram char fraction is most
  // informative at small n (2..4), duplicated-gram char fraction at the
  // dedup-filter orders (5..10) — one representative of each family.
  private val RepTopN = 2
  private val RepDupN = 5
  // 32 bits / 4 bands = 8-bit slices → 256 bucket values per band. The
  // SCALING.md sizing rule in action: at 16 bits the 4-bit slices gave only
  // 16 bucket values, so candidate pairs grew ~n²/16 (3M+ candidates at
  // sf0.1); 8-bit slices cut that ~16× and hamming ≤ 3 over 32 bits is the
  // tighter (better) near-dup definition.
  private val SimhashBits = 32
  private val AnnBits = 4
  private val AnnDim = 64   // testdata embeddings are 64-dim float
  private val AnnSeed = 42L
  private val CosDupThreshold = 0.25
  private val IvfLists = 8
  /** Z-order: 14 bits per dimension × 2 dims = 28-bit keys (well under
    * zorderKey's 62-bit bound). 14 bits covers custkey at sf0.1
    * (max 15,000 < 2^14 = 16,384) — at 12 bits the high custkey bits
    * silently truncated, colliding distant customers into one Morton
    * key; day-of-year (≤ 366) needs only 9 but shares the width. */
  private val ZorderBits = 14

  /** Content-defined chunking: 8-char rolling window, 5 boundary bits
    * (expected chunk ~32 chars), Karp-Rabin base/modulus. */
  private val CdcWindow = 8
  private val CdcBits = 5
  private val CdcM = 1000000007L
  private def cdcTermsSql: String = (0 until CdcWindow).map { j =>
    val p = BigInt(257).modPow(BigInt(CdcWindow - 1 - j), BigInt(CdcM)).toLong
    s"(CAST(ascii(substr(tt, CAST(i AS INTEGER)-$CdcWindow+$j+1, 1)) AS BIGINT)" +
      s" % $CdcM * $p) % $CdcM"
  }.mkString(" + ")

  /** Contrastive triplet mining: first 100 vectors as anchors. */
  private val TripletAnchors = 100

  /** SemDeDup in-cluster cosine threshold — demo-scaled to the random
    * synthetic embeddings (max pairwise cosine ≈ 0.51); purpose-built
    * embedding spaces run 0.9+. */
  private val SemDedupCos = 0.35
  private val IvfProbes = 2
  // Two-stage search shortlist factor: stage 1 keeps AnnRefine×k MIPS
  // candidates per query, stage 2 re-ranks them at full precision. 2×
  // keeps the shortlist well under the probed candidate count at every
  // test SF, so the refined path is exercised as a genuine subset.
  private val AnnRefine = 2
  // approx_percentile sketch: rank error ≤ group/accuracy (≈ 2 ranks at
  // sf0.1's 20k-row groups) — far inside the 2% rank ε the oracle pins.
  // Shared with the winsorizeApprox operator default so the certified
  // accuracy IS the accuracy the operator runs with.
  private val PctSketchAccuracy = graft.ops.Cleaning.DefaultSketchAccuracy
  private val PctRankEps = 0.02
  /** Lloyd-trained IVF centroids per corpus dir — deterministic, so the
    * memo is a pure build/search split, not a semantic change. */
  /** Per-JVM unique scratch root for every on-disk artifact the queries
    * build (CSV cache, export sink, IVF index, bucketed tables). A fixed
    * `java.io.tmpdir` path derived only from the corpus dir name let two
    * concurrent harness runs (or a stale previous run) share a sink: one
    * run's mode(overwrite) could race another's read-back and mix shard
    * contents (r6 ADVICE). A `createTempDirectory` root keeps the
    * build-once memoization within a run while isolating runs from each
    * other; the shutdown hook reclaims the scratch on JVM exit. */
  private lazy val RunScratch: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_run_")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(p.toFile)
    }
    p.toString
  }

  /** A query's per-run scratch path: `tag` names the query, the slug of
    * `dir` the input it was built from. */
  private def scratchPath(dir: String, tag: String): String =
    s"$RunScratch/graft_${tag}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** [[scratchPath]] emptied of an earlier run's files, with its
    * filesystem. */
  private def freshScratch(s: SparkSession, dir: String,
      tag: String): (String, org.apache.hadoop.fs.FileSystem) = {
    val path = scratchPath(dir, tag)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    (path, fs)
  }
  private val IvfCentCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, Seq[Double])]]
  /** Persisted IVF index per corpus dir — same build/search split for the
    * on-disk form. One dir per corpus under the per-run scratch, so
    * repeated builds within a run reuse one location and concurrent runs
    * never share one. */
  private val IvfIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  /** Bucketed-table pair per corpus dir (build-once like the IVF index):
    * lineitem and orders bucketed+sorted on the join key into EXTERNAL
    * tables under tmp — the pay-the-shuffle-at-write-time layout whose
    * join needs no Exchange (BucketingSpec pins the shuffle-free SMJ). */
  private val BucketedCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private def bucketedTablesFor(s: SparkSession, dir: String): (String, String) =
    BucketedCache.getOrElseUpdate(dir, {
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = s"$RunScratch/graft_bucketed_$slug"
      val (liT, ordT) = (s"li_bucketed$slug", s"ord_bucketed$slug")
      s.sql(s"DROP TABLE IF EXISTS $liT")
      s.sql(s"DROP TABLE IF EXISTS $ordT")
      read(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/li").mode("overwrite").saveAsTable(liT)
      read(s, dir, "orders").select("o_orderkey", "o_custkey")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/ord").mode("overwrite").saveAsTable(ordT)
      (liT, ordT)
    })
  private def ivfIndexFor(s: SparkSession, dir: String): String =
    IvfIndexCache.getOrElseUpdate(dir, {
      val p = scratchPath(dir, "ivf_index")
      Similarity.writeIvfIndex(
        read(s, dir, "embeddings").select("vec_id", "embedding"), IvfLists, p,
        pq = Some((PqM, PqK)))
      p
    })
  private val ExportShards = 8
  /** Point-lookup key set for the bloom-indexed export (one absent key
    * exercises the miss path); oracle-shared. */
  private val BloomLookupKeys = Seq(3L, 17L, 41L, 401L, 499L, 987654L)
  /** Bottom-k sketch size for the pairwise source-overlap estimate. */
  private val KmvOverlapK = 64
  /** Size-targeted export: ~16 KiB of text bytes per shard, 4 stripes
    * (≈9 shards at sf0.01's 149 KB corpus — the boundary rule is
    * exercised with several packs per stripe). Shared verbatim by the
    * Spark query and the generated oracle. */
  private val ExportTargetBytes = 16384L
  private val ExportStripes = 4

  /** The sized-export manifest oracle — shared VERBATIM by the JSONL
    * and parquet sized exports (one shard rule, one manifest). */
  private lazy val sizedExportOracleSql: String =
    s"""WITH t AS (SELECT doc_id, text, n_chars,
           CAST(strlen(text) AS BIGINT) AS bytes,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'pack'), 1, 8))
             AS BIGINT) % $ExportStripes AS stripe,
           md5(CAST(doc_id AS VARCHAR)) AS h
         FROM documents),
         c AS (SELECT *, COALESCE(SUM(bytes) OVER (PARTITION BY stripe
             ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
         FROM t),
         sh AS (SELECT doc_id, text, n_chars,
           CAST((before // $ExportTargetBytes) * $ExportStripes + stripe
             AS INTEGER) AS shard
         FROM c)
       SELECT shard, COUNT(*) AS n_rows,
         CAST(CAST(SUM(CAST(('0x' || substr(md5(concat_ws(chr(1),
             COALESCE(CAST(doc_id AS VARCHAR), chr(2)),
             COALESCE(CAST(text AS VARCHAR), chr(2)),
             COALESCE(CAST(n_chars AS VARCHAR), chr(2)))), 1, 12))
           AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
       FROM sh GROUP BY 1 ORDER BY shard"""
  private val CsvDocsCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def csvDocsFor(s: SparkSession, dir: String): String =
    CsvDocsCache.getOrElseUpdate(dir, {
      val p = scratchPath(dir, "csv_docs")
      graft.sources.Tables.writeCsv(read(s, dir, "documents"), p)
      p
    })
  /** One extension-enabled session per JVM, sharing the harness
    * session's SparkContext. `spark.sql.extensions` is a STATIC conf —
    * inert once a context exists — so the builder's `withExtensions`
    * hook injects the same `GraftExtensions` a fresh cluster names in
    * the conf (the SlidingRewriteSpec pattern). The active/default
    * session is cleared so getOrCreate mints a NEW session rather than
    * returning the harness one, then both are restored. */
  @volatile private var ExtSess: SparkSession = null
  private def extensionSession(s: SparkSession): SparkSession = synchronized {
    if (ExtSess == null || ExtSess.sparkContext.isStopped) {
      s.sparkContext
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      ExtSess = SparkSession.builder()
        .withExtensions(new GraftExtensions())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
      SparkSession.setDefaultSession(s)
      SparkSession.setActiveSession(s)
    }
    ExtSess
  }
  /** Two-generation parquet layout for the schema-evolution source:
    * generation 1 (even doc_ids) written WITHOUT `lang` — the column a
    * later pipeline version added — generation 2 (odd doc_ids) with it,
    * both as plain part files of one dataset directory, the way a
    * long-lived corpus actually accretes on a lake. Memoized per corpus
    * under the per-run scratch. */
  private val EvolvedDocsCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def evolvedDocsFor(s: SparkSession, dir: String): String =
    EvolvedDocsCache.getOrElseUpdate(dir, {
      val p = scratchPath(dir, "evolved_docs")
      val docs = read(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "source", "n_chars")
        .write.mode("overwrite").parquet(p)
      docs.filter(col("doc_id") % 2 =!= 0)
        .select("doc_id", "source", "n_chars", "lang")
        .write.mode("append").parquet(p)
      p
    })
  private val JsonlDocsCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def jsonlDocsFor(s: SparkSession, dir: String): String =
    JsonlDocsCache.getOrElseUpdate(dir, {
      val p = scratchPath(dir, "jsonl_docs")
      graft.sources.Tables.writeJsonl(read(s, dir, "documents"), p)
      p
    })
  private val FrameEvery = 100
  private val ContamMinHits = 3
  private val EditDupMaxDist = 8
  /** The URL fixture's TLD wheel — cycles suffix-rule widths 1..3. */
  /** Mix of bare TLDs, multi-label exact suffixes, and WILDCARD
    * suffixes (`*.ck` base width 1, `*.kawasaki.jp` base width 2) so
    * the oracle-verified domain queries exercise the PSL wildcard join
    * arms, not just exact matches (exceptions are pinned by the ExtSpec
    * goldens — the fixture's `www.{src}.example.{tld}` shape cannot
    * reach one). */
  private val UrlTlds = Seq("com", "co.uk", "org", "github.io", "de",
    "nsw.edu.au", "ck", "kawasaki.jp")
  private val DomainCap = 30
  /** Registered domains the blocklist query evicts (the example.{tld}
    * fixture yields six domains; two are blocked). */
  private val BlockedDomains = Seq("example.co.uk", "example.github.io")
  /** Deterministic HTML page per doc — the crawl-space fixture both
    * engines rebuild from the parquet: head with title/script/style, a
    * comment, an h1, and the doc's words split into two paragraphs
    * carrying escaped entities. Exercises every stripHtml stage. */
  private def htmlSpace(docs: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    val half = (size(ws) / 2).cast("int")
    val p1 = array_join(slice(ws, lit(1), half), " ")
    val p2 = array_join(slice(ws, half + 1, size(ws)), " ")
    val raw = concat(
      lit("<html><head><title>"), col("source"),
      lit("</title><script type=\"text/javascript\">var id = "),
      col("doc_id").cast("string"),
      lit(";</script><style>p { margin: 0 }</style></head>\n<body><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><!-- generated -->\n<p>"), p1,
      lit(" &amp; more</p><p>"), p2,
      lit(" &lt;end&gt;</p></body></html>"))
    docs.select(col("doc_id"), raw.as("raw_html"))
  }

  /** Deterministic gnarly URL per doc (mixed case, default port,
    * tracking params, fragment) + its canonical form and host — the
    * URL-space fixture both engines rebuild from the parquet. */
  private def urlSpace(docs: DataFrame): DataFrame = {
    val tld = element_at(array(UrlTlds.map(lit): _*),
      (col("doc_id") % UrlTlds.size).cast("int") + 1)
    val raw = concat(lit("HTTPS://WWW."), upper(col("source")), lit(".EXAMPLE."),
      upper(tld), lit(":443/Page/"), col("doc_id").cast("string"),
      lit("?utm_source=feed&id="), col("doc_id").cast("string"),
      lit("&fbclid=zz&x=Y#Frag"))
    docs.select(col("doc_id"), raw.as("raw_url"))
      .withColumn("url", Curation.normalizeUrl(col("raw_url")))
      .withColumn("host", Curation.hostOf(col("url")))
  }

  /** The Lloyd-IVF search oracle: seed centroids (lowest ids) → one
    * decimal-exact refinement → assignment, probes, rounded-cosine rank.
    * Shared verbatim by q_ann_ivf (in-memory) and q_ann_ivf_persisted
    * (on-disk index) — the two paths' equality is the point. */
  /** The Lloyd assignment chain alone (ends at `assign`): shared by the
    * search oracle below and the index-skew profile oracle. */
  private lazy val IvfAssignSqlChain: String =
    s"""WITH cent0 AS (SELECT vec_id AS list, embedding AS c_vec
            FROM embeddings WHERE vec_id < $IvfLists),
          assign0 AS (SELECT vec_id, embedding, list FROM (
            SELECT e.vec_id, e.embedding, cent0.list,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosSql("e.embedding", "c_vec")} DESC, list) AS rn
            FROM embeddings e CROSS JOIN cent0) WHERE rn = 1),
          comp AS (SELECT list,
              unnest(generate_series(1, len(embedding))) AS pos,
              unnest(list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 6))) AS x
            FROM assign0),
          cmean AS (SELECT list, pos,
              ROUND(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) AS m
            FROM comp GROUP BY 1, 2),
          cent AS (SELECT list, list(m ORDER BY pos) AS c_vec FROM cmean GROUP BY list),
          assign AS (SELECT vec_id, embedding, list FROM (
            SELECT e.vec_id, e.embedding, cent.list,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosSql("e.embedding", "c_vec")} DESC, list) AS rn
            FROM embeddings e CROSS JOIN cent) WHERE rn = 1)"""
  private lazy val IvfLloydOracleSql: String =
    s"""$IvfAssignSqlChain,
          probes AS (SELECT q_id, q_vec, list FROM (
            SELECT q.vec_id AS q_id, q.embedding AS q_vec, cent.list,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${cosSql("q.embedding", "c_vec")} DESC, list) AS rn
            FROM embeddings q CROSS JOIN cent WHERE q.vec_id < 5) WHERE rn <= $IvfProbes)
          SELECT q_id, vec_id, ${cosSql("q_vec", "embedding")} AS cos,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY ${cosSql("q_vec", "embedding")} DESC, vec_id) AS INTEGER) AS rank
          FROM assign JOIN probes USING (list)
          QUALIFY rank <= 3 ORDER BY q_id, rank"""
  private val ContamMaxDf = 3
  /** Containment pair threshold (share of a's shingles found in b). */
  private val ContainmentTau = 0.6
  /** Capped-containment variant: lower tau (the cap can only SHRINK
    * containment, so a softer threshold keeps the fixture's pairs
    * visible) and an in-operator hot-shingle df-cap. */
  private val ContainmentCapTau = 0.4
  private val ContainmentMaxDf = 8
  /** Learned quality classifier: fastText-shaped hashed unigram+bigram
    * buckets, deterministic fixture weights, small positive bias. */
  private val ClsBuckets = 1024
  private val ClsBias = 0.05
  /** Language strata for the lang-keyed mixture (marker codes + the
    * detector's 'und' fallback). */
  private val MixtureLangs =
    graft.ext.TextAnalysis.LangMarkers.map(_._1) :+ "und"
  /** Heavy-hitter share floor (0.4% of word instances at any SF). */
  private val HeavyShare = 0.004
  /** Collocation gate + report size (oracle-shared). */
  private val CollocMinCount = 5L
  private val CollocTopK = 30
  /** dHash grid: 8×7 = 56 bits keeps the long positive (simhash cap). */
  private val PhashW = 8
  private val PhashH = 7

  /** Closed-form dHash CTE chain ending at `b(doc_id, phash)`: the NN
    * sample grid (x ∈ [0, hw], y ∈ [0, hh)) over the synthetic pixel
    * formula, gradient-sign bits summed as distinct powers of two. */
  private def phashCtes: String =
    s"""dims AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
            FROM documents),
          gx AS (SELECT doc_id, w, h,
            unnest(generate_series(0, $PhashW)) AS x FROM dims),
          gxy AS (SELECT doc_id, w, h, x,
            unnest(generate_series(0, ${PhashH - 1})) AS y FROM gx),
          l AS (SELECT doc_id, x, y,
              ((doc_id * 7 + ((x * w) // ${PhashW + 1}) * 3
                + ((y * h) // $PhashH) * 5) % 256)
            + ((doc_id * 11 + ((x * w) // ${PhashW + 1}) * 13
                + ((y * h) // $PhashH) * 17) % 256)
            + ((doc_id * 19 + ((x * w) // ${PhashW + 1}) * 23
                + ((y * h) // $PhashH) * 29) % 256) AS lum
            FROM gxy),
          b AS (SELECT a.doc_id,
              CAST(SUM(CASE WHEN a.lum > c.lum
                THEN CAST(1 AS BIGINT) << (a.y * $PhashW + a.x)
                ELSE 0 END) AS BIGINT) AS phash
            FROM l a JOIN l c ON a.doc_id = c.doc_id AND a.y = c.y
              AND c.x = a.x + 1
            WHERE a.x < $PhashW
            GROUP BY a.doc_id)"""
  /** Kneser–Ney absolute discount (hundredths): the 0.75 default the
    * literature converged on (Chen & Goodman 1999). */
  private val KnDiscountHundredths = 75
  private val OovVocab = 200
  /** PQ: 8 subspaces × 16 entries over the 64-dim embeddings. */
  private val PqM = 8
  private val PqK = 16

  /** PQ oracle fragment builders — generated from PqM/PqK/AnnDim and
    * shared VERBATIM by the flat (q_ann_pq) and IVF-composed
    * (q_ann_ivf_pq) oracles, so the subspace slicing, assignment formula
    * (argmax of round(2·x·c − ‖c‖², 6), tie smallest j), and the
    * left-to-right ADC sum cannot drift between them or from the Spark
    * expressions. All assume CTEs `ev(vec_id, v)`, `cb(j, cv)`, and a
    * scored scope with `c` = codes and `cb0..cb{m-1}` joined. */
  private def pqSl(c: String, mi: Int): String = {
    val sub = AnnDim / PqM
    s"$c[${mi * sub + 1}:${(mi + 1) * sub}]"
  }
  private def pqCodeColsFor(v: String, cb: String): String = (0 until PqM).map { mi =>
    s"""(SELECT j FROM $cb ORDER BY
          round(2 * list_dot_product(${pqSl(v, mi)}, ${pqSl(s"$cb.cv", mi)})
            - list_dot_product(${pqSl(s"$cb.cv", mi)}, ${pqSl(s"$cb.cv", mi)}), 6) DESC,
          j LIMIT 1) AS code_$mi""" }.mkString(",\n          ")
  private def pqCodeCols: String = pqCodeColsFor("ev.v", "cb")
  private def pqJoinsOn(cb: String): String = (0 until PqM).map(mi =>
    s"JOIN $cb cb$mi ON cb$mi.j = c.code_$mi").mkString(" ")
  private def pqJoins: String = pqJoinsOn("cb")
  private def pqAdc(qv: String): String = (0 until PqM).map(mi =>
    s"list_dot_product(${pqSl(qv, mi)}, ${pqSl(s"cb$mi.cv", mi)})")
    .mkString("\n            + ")

  /** DuckDB twin of `Similarity.pqCodebooks(rounds=0)` + `pqEncode` +
    * `pqTopK`. */
  private def pqOracleSql: String =
    s"""WITH ev AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
          cb AS (SELECT vec_id AS j, v AS cv FROM ev WHERE vec_id < $PqK),
          codes AS (SELECT vec_id,
          $pqCodeCols
          FROM ev),
          q AS (SELECT vec_id AS q_id, v AS qv FROM ev WHERE vec_id < 5),
          scored AS (SELECT q.q_id, c.vec_id,
            round(${pqAdc("q.qv")}, 6) AS score
          FROM q CROSS JOIN codes c $pqJoins)
          SELECT q_id, vec_id, score,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY score DESC, vec_id) AS INTEGER) AS rank
          FROM scored QUALIFY rank <= 5 ORDER BY q_id, rank"""

  /** The shared IVF-PQ oracle prefix — the Lloyd assignment chain,
    * probe selection, and the PQ codebook/code CTEs (ends at
    * `qt(q_id, qv)`) — factored so the plain and refined IVF-PQ
    * oracles cannot drift on the probe tie-break or codebook
    * seeding. */
  private def ivfPqChainSql: String =
    s"""$IvfAssignSqlChain,
          probes AS (SELECT q_id, list FROM (
            SELECT q.vec_id AS q_id, cent.list,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${cosSql("q.embedding", "c_vec")} DESC, list) AS rn
            FROM embeddings q CROSS JOIN cent WHERE q.vec_id < 5) WHERE rn <= $IvfProbes),
          ev AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
          cb AS (SELECT vec_id AS j, v AS cv FROM ev WHERE vec_id < $PqK),
          codes AS (SELECT vec_id,
          $pqCodeCols
          FROM ev),
          qt AS (SELECT vec_id AS q_id, v AS qv FROM ev WHERE vec_id < 5)"""

  /** DuckDB twin of `Similarity.searchIvfIndexPq` over the persisted
    * IVF-PQ index: Lloyd centroids + assignment + probe selection exactly
    * as q_ann_ivf (`IvfAssignSqlChain`), PQ codebooks + codes + ADC
    * scoring exactly as q_ann_pq (the shared fragments) — restricted to
    * (query, candidate) pairs whose candidate sits in a probed list. The
    * composition is the only new thing. */
  private def ivfPqOracleSql: String =
    s"""$ivfPqChainSql,
          scored AS (SELECT p.q_id, a.vec_id,
            round(${pqAdc("q.qv")}, 6) AS score
          FROM probes p JOIN assign a USING (list)
          JOIN codes c ON c.vec_id = a.vec_id
          JOIN qt q ON q.q_id = p.q_id
          $pqJoins)
          SELECT q_id, vec_id, score,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY score DESC, vec_id) AS INTEGER) AS rank
          FROM scored QUALIFY rank <= 5 ORDER BY q_id, rank"""

  /** DuckDB twin of `Similarity.searchIvfIndexPqRefined`: the IVF-PQ
    * chain's ADC scores kept to an AnnRefine×k shortlist, then the
    * q_ann_ivf exact-cosine contract over the shortlist alone — every
    * fragment verified elsewhere, the composition the only new thing. */
  private def ivfPqRefinedOracleSql: String =
    s"""$ivfPqChainSql,
          short AS (SELECT q_id, vec_id FROM (
            SELECT p.q_id, a.vec_id,
              row_number() OVER (PARTITION BY p.q_id
                ORDER BY round(${pqAdc("q.qv")}, 6) DESC, a.vec_id) AS srank
            FROM probes p JOIN assign a USING (list)
            JOIN codes c ON c.vec_id = a.vec_id
            JOIN qt q ON q.q_id = p.q_id
            $pqJoins) WHERE srank <= ${AnnRefine * 5})
          SELECT s.q_id, s.vec_id, ${cosSql("q.embedding", "c.embedding")} AS cos,
            CAST(row_number() OVER (PARTITION BY s.q_id
              ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, s.vec_id) AS INTEGER) AS rank
          FROM short s JOIN embeddings c ON s.vec_id = c.vec_id
                       JOIN embeddings q ON s.q_id = q.vec_id
          QUALIFY rank <= 5 ORDER BY q_id, rank"""

  /** DuckDB twin of `Similarity.searchIvfIndexPqResidual` — the IVFADC
    * layout under the module's inner-product contract. Chain: residuals
    * are exact IEEE differences v[i] − c_vec[i] against the Lloyd
    * centroids; seed residual codebooks are the first-PqK rows'
    * residual sub-slices; ONE decimal-exact Lloyd refinement in
    * residual space (assign unrounded sub-residuals with the shared
    * formula, average 6dp-rounded components per cell, empty cells keep
    * their seed — `pqRefineBooks` verbatim); codes assign against the
    * REFINED books; score = q·centroid_list + the m per-subspace table
    * dots, summed left-to-right, rounded 6dp, ranked DESC with ties on
    * vec_id. */
  /** The residual chain through `scored` (per-candidate IVFADC scores
    * over the probed lists) — shared by the plain and REFINED residual
    * search oracles so the training/encoding/scoring arithmetic cannot
    * drift between them. */
  private def ivfPqResidualChainSql: String = {
    val sub = AnnDim / PqM
    // Per-subspace code columns vs a (mi, j, cv)-shaped SUB-VECTOR
    // codebook table (refined entries are per-subspace, unlike the
    // full-vector seed tables pqCodeColsFor slices).
    def subCodeCols(cb: String): String = (0 until PqM).map { mi =>
      s"""(SELECT j FROM $cb WHERE mi = $mi ORDER BY
            round(2 * list_dot_product(${pqSl("res.rv", mi)}, cv)
              - list_dot_product(cv, cv), 6) DESC,
            j LIMIT 1) AS code_$mi""" }.mkString(",\n          ")
    val caseJ = (0 until PqM).map(mi => s"WHEN $mi THEN a.code_$mi").mkString(" ")
    val scoreTerms = (("list_dot_product(qv.v, ct.c_vec)") +:
      (0 until PqM).map(mi =>
        s"list_dot_product(${pqSl("qv.v", mi)}, cb$mi.cv)")).mkString("\n            + ")
    val cbJoins = (0 until PqM).map(mi =>
      s"JOIN rcb cb$mi ON cb$mi.mi = $mi AND cb$mi.j = c.code_$mi").mkString(" ")
    s"""$IvfAssignSqlChain,
          probes AS (SELECT q_id, list FROM (
            SELECT q.vec_id AS q_id, cent.list,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${cosSql("q.embedding", "c_vec")} DESC, list) AS rn
            FROM embeddings q CROSS JOIN cent WHERE q.vec_id < 5) WHERE rn <= $IvfProbes),
          ev AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
          res AS (SELECT a.vec_id, a.list,
            list_transform(generate_series(1, $AnnDim),
              i -> e.v[i] - cent.c_vec[i]) AS rv
          FROM assign a JOIN ev e USING (vec_id) JOIN cent USING (list)),
          mis AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS mi),
          rcb0 AS (SELECT m.mi, res.vec_id AS j,
            list_slice(res.rv, m.mi * $sub + 1, (m.mi + 1) * $sub) AS cv
          FROM res CROSS JOIN mis m WHERE res.vec_id < $PqK),
          rass AS (SELECT vec_id,
          ${subCodeCols("rcb0")}
          FROM res),
          rexp AS (SELECT vec_id, unnest(generate_series(1, $AnnDim)) AS pos,
            unnest(list_transform(rv, x -> round(x, 6))) AS x FROM res),
          rcell AS (SELECT CAST((e.pos - 1) // $sub AS INTEGER) AS mi, e.pos, e.x,
            CASE (e.pos - 1) // $sub $caseJ END AS j
          FROM rexp e JOIN rass a USING (vec_id)),
          rmu AS (SELECT mi, j, pos,
            ROUND(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) AS mu
          FROM rcell GROUP BY 1, 2, 3),
          rcbm AS (SELECT mi, j, list(mu ORDER BY pos) AS cv
          FROM rmu GROUP BY mi, j),
          grid AS (SELECT m.mi, j.j FROM mis m CROSS JOIN
            (SELECT unnest(generate_series(0, ${PqK - 1})) AS j) j),
          rcb AS (SELECT g.mi, g.j, COALESCE(rm.cv, s.cv) AS cv
          FROM grid g LEFT JOIN rcbm rm ON rm.mi = g.mi AND rm.j = g.j
                      LEFT JOIN rcb0 s ON s.mi = g.mi AND s.j = g.j),
          rcodes AS (SELECT vec_id,
          ${subCodeCols("rcb")}
          FROM res),
          scored AS (SELECT p.q_id, a.vec_id,
            round($scoreTerms, 6) AS score
          FROM probes p
          JOIN cent ct ON ct.list = p.list
          JOIN ev qv ON qv.vec_id = p.q_id
          JOIN assign a ON a.list = p.list
          JOIN rcodes c ON c.vec_id = a.vec_id
          $cbJoins)"""
  }

  private def ivfPqResidualOracleSql: String =
    s"""$ivfPqResidualChainSql
          SELECT q_id, vec_id, score,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY score DESC, vec_id) AS INTEGER) AS rank
          FROM scored QUALIFY rank <= 5 ORDER BY q_id, rank"""

  /** Residual shortlist (top refine×k by IVFADC score), exact cosine
    * re-rank — the ivfPqRefinedOracleSql tail over the residual chain. */
  private def ivfPqResidualRefinedOracleSql: String =
    s"""$ivfPqResidualChainSql,
          short AS (SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
              row_number() OVER (PARTITION BY q_id
                ORDER BY score DESC, vec_id) AS srank
            FROM scored) WHERE srank <= ${AnnRefine * 5})
          SELECT s.q_id, s.vec_id, ${cosSql("q.embedding", "c.embedding")} AS cos,
            CAST(row_number() OVER (PARTITION BY s.q_id
              ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, s.vec_id) AS INTEGER) AS rank
          FROM short s JOIN embeddings c ON s.vec_id = c.vec_id
                       JOIN embeddings q ON s.q_id = q.vec_id
          QUALIFY rank <= 5 ORDER BY q_id, rank"""
  private val SamplePerSource = 12
  private val WeightedSampleK = 120
  private val PackBudget = 2048L
  private val PackShards = 4
  /** EOS-style separator for the packed-example materialization —
    * ASCII, SQL-literal-safe, shared by both engines. */
  private val PackSep = "<|endoftext|>"
  /** Upsampling epochs in hundredths: 2.30×, 0.50×, dropped. */
  private val UpsampleEpochsBp: Seq[(String, Int)] =
    Seq("src0" -> 230, "src1" -> 50, "src2" -> 0)
  /** Sliding chunking: 32-token windows advancing 24 (25% overlap). */
  private val SlideSize = 32
  private val SlideStride = 24
  /** Substring (span) dedup gram width in words — the corpus's injected
    * near-dup runs repeat well past 8 words, so spans are non-trivial
    * while random 8-grams from the synthetic vocabulary stay unique. */
  private val DupGramWords = 8

  /** Attribution lookback: 3 days — long enough that most purchases
    * find a touch in the synthetic stream, short enough that '(none)'
    * is non-empty too (both branches exercised). */
  private val AttributionLookbackSec = 3L * 24 * 3600

  /** LRS query bounds: prefix scanned, clamp (= oracle brute-force max
    * substring length), and the routing floor for "self-repetitive". */
  private val LrsPrefix = 150
  private val LrsClamp = 50
  private val LrsRepetitiveFloor = 20
  /** Winnowing: 16-char grams, window of 8 — guarantees detection of
    * shared substrings >= 23 chars; at these sizes the pair query
    * isolates the injected near-dup families (24 pairs at sf0.01)
    * instead of the synthetic vocabulary's chance-level 8-char
    * collisions. */
  private val WinnowGram = 16
  private val WinnowWindow = 8
  private val WinnowMinShared = 10
  /** DSIR importance weighting: 256 hashed-unigram feature buckets,
    * src0 as the target domain, 100-doc Gumbel-top-k resample. */
  private val DsirBuckets = 256
  private val DsirTargetSource = "src0"
  private val DsirSampleK = 100

  /** The importance-weight table both DSIR oracles share (weights alone,
    * and weights + Gumbel draw). */
  private def dsirWeightsSql: String =
    s"""WITH b AS (SELECT doc_id,
            CAST(('0x' || substr(md5(word || 'dsir'), 1, 8)) AS BIGINT)
              % $DsirBuckets AS bk
          FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
                FROM documents)),
        tb AS (SELECT
            CAST(('0x' || substr(md5(word || 'dsir'), 1, 8)) AS BIGINT)
              % $DsirBuckets AS bk
          FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
                FROM documents WHERE source = '$DsirTargetSource')),
        cr AS (SELECT bk, count(*) AS c FROM b GROUP BY bk),
        ct AS (SELECT bk, count(*) AS c FROM tb GROUP BY bk),
        tr AS (SELECT count(*) AS t FROM b),
        tt AS (SELECT count(*) AS t FROM tb),
        tab AS (SELECT cr.bk,
            ROUND(ln(CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE)
                / CAST(tt.t + $DsirBuckets AS DOUBLE))
              - ln(CAST(cr.c + 1 AS DOUBLE)
                / CAST(tr.t + $DsirBuckets AS DOUBLE)), 6) AS llr
          FROM cr LEFT JOIN ct ON cr.bk = ct.bk, tr, tt)
        SELECT b.doc_id, count(*) AS n_words,
          CAST(SUM(CAST(llr AS DECIMAL(25,6))) AS DOUBLE) AS logw
        FROM b JOIN tab ON b.bk = tab.bk GROUP BY b.doc_id"""
  /** Mixture targets (tokens): src2's budget exceeds its sf0.01 supply,
    * so the report shows a genuine shortfall; unlisted sources are
    * excluded. Shared verbatim by the Spark query and the oracle SQL. */
  private val MixtureShards = 4
  private val MixtureBudgets: Seq[(String, Long)] = Seq(
    "src0" -> 800L, "src1" -> 400L, "src2" -> 2600L, "src3" -> 600L)

  /** DuckDB twin of `Sampling.mixtureByTokenBudget` over `documents`
    * with ws token counts — generated from MixtureBudgets/MixtureShards
    * (see the q_mixture_sample oracle comment). Ends defining `sel`. */
  private def mixtureSelSql: String = {
    val cases = MixtureBudgets
      .map { case (s, b) => s"WHEN '$s' THEN $b" }.mkString(" ")
    s"""t AS (SELECT doc_id, source,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 8)) AS BIGINT)
           % $MixtureShards AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         CAST(CASE source $cases ELSE 0 END AS BIGINT) AS budget
       FROM documents),
       c AS (SELECT *, budget // $MixtureShards +
           CASE WHEN shard < budget % $MixtureShards THEN 1 ELSE 0 END AS shard_budget,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
       FROM t),
       sel AS (SELECT doc_id, source, n_tokens FROM c WHERE before < shard_budget)"""
  }

  /** DuckDB twin of `Sampling.mixtureByTokenBudgetRedistributed` —
    * extends `mixtureSelSql` with the full redistribution chain:
    * achieved/supply per targeted source, unused = Σ(b − achieved)₊,
    * absorbers = sources with supply left, extras = floor pro-rata by
    * original budget with the remainder spread one token to the
    * leading absorbers in name order (EXACTLY `redistributedBudgets`'
    * integer arithmetic), then the pass-2 prefix selection under the
    * adjusted budgets. */
  /** Redistribution + pass-2 selection tail shared by the
    * literal-budget and temperature oracles. Assumes CTEs
    * `t(doc_id, source, n_tokens, shard, h, ...)`,
    * `sel(doc_id, source, n_tokens)` (the pass-1 selection),
    * `tgt(source, b)` (the pass-1 budgets), and `sup(source, s)`
    * (per-source token supply) are already defined; ends defining
    * `adj(source, b2)` and `sel2`. */
  private def mixtureRedistTailSql: String =
    s"""ach AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS a
         FROM sel GROUP BY 1),
       st AS (SELECT tgt.source, tgt.b,
           COALESCE(ach.a, 0) AS a, COALESCE(sup.s, 0) AS s
         FROM tgt LEFT JOIN ach USING (source) LEFT JOIN sup USING (source)),
       un AS (SELECT CAST(SUM(GREATEST(0, b - a)) AS BIGINT) AS unused FROM st),
       absb AS (SELECT source, b,
           row_number() OVER (ORDER BY source) AS rk,
           SUM(b) OVER () AS babs
         FROM st WHERE s > a AND b > 0),
       ext AS (SELECT source, rk,
           CAST((SELECT unused FROM un) * b // babs AS BIGINT) AS extra
         FROM absb),
       rem AS (SELECT (SELECT unused FROM un)
           - CAST(COALESCE(SUM(extra), 0) AS BIGINT) AS r FROM ext),
       adj AS (SELECT st.source,
           st.b + COALESCE(ext.extra, 0)
                + CASE WHEN ext.rk <= (SELECT r FROM rem) THEN 1 ELSE 0 END AS b2
         FROM st LEFT JOIN ext USING (source)),
       t2 AS (SELECT t.doc_id, t.source, t.n_tokens, t.shard, t.h,
           COALESCE(adj.b2, 0) AS budget2
         FROM t LEFT JOIN adj ON t.source = adj.source),
       c2 AS (SELECT *, budget2 // $MixtureShards +
           CASE WHEN shard < budget2 % $MixtureShards THEN 1 ELSE 0 END AS shard_budget2,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before2
       FROM t2),
       sel2 AS (SELECT doc_id, source, n_tokens FROM c2 WHERE before2 < shard_budget2)"""

  private def mixtureRedistSql: String = {
    val keysIn = MixtureBudgets.map { case (s, _) => s"'$s'" }.mkString(", ")
    s"""$mixtureSelSql,
       tgt AS (SELECT * FROM (VALUES ${
      MixtureBudgets.map { case (s, b) =>
        s"('$s', CAST($b AS BIGINT))" }.mkString(", ")
    }) AS v(source, b)),
       sup AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS s
         FROM t WHERE source IN ($keysIn) GROUP BY 1),
       $mixtureRedistTailSql"""
  }

  /** α-temperature mixture over `documents`: shared verbatim by the
    * Spark query and the generated oracle. total 5000 with α 0.50 over
    * these four sources makes src8 (the thinnest supply at sf0.01) run
    * dry, so the redistribution tail is genuinely exercised. */
  private val TempSources = Seq("src0", "src2", "src8", "src19")
  private val TempTotal = 5000L
  private val TempAlphaHundredths = 50

  /** DuckDB twin of `Sampling.mixtureByTemperature`: per-source
    * supplies → integer milli-weights `floor(supply^α · 10⁶)` (the one
    * double step, quantized immediately — `power` is the only
    * non-integer arithmetic either engine runs) → largest-remainder
    * apportionment of the total (floor shares in HUGEINT, leftover
    * tokens one each to the largest remainders, remainder DESC / name
    * ASC, zero-weight sources never bumped) → the literal-budget
    * mixture chain under those budgets, redistribution pass included. */
  /** The α-temperature chain over an arbitrary `base` CTE (must yield
    * base(doc_id, source, n_tokens, shard, h)) and stratum list —
    * shared by the source-keyed and language-keyed mixtures. */
  private def mixtureTempChainSql(baseCtes: String,
                                  sources: Seq[String]): String = {
    val srcVals = sources.map(s => s"('$s')").mkString(", ")
    val keysIn = sources.map(s => s"'$s'").mkString(", ")
    val alphaLit = TempAlphaHundredths / 100.0
    s"""$baseCtes,
       srcs AS (SELECT * FROM (VALUES $srcVals) AS v(source)),
       sup0 AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS s
         FROM base WHERE source IN ($keysIn) GROUP BY 1),
       sup AS (SELECT srcs.source, COALESCE(sup0.s, 0) AS s
         FROM srcs LEFT JOIN sup0 USING (source)),
       wts AS (SELECT source,
           CAST(floor(power(CAST(s AS DOUBLE), $alphaLit) * 1000000) AS HUGEINT) AS w
         FROM sup),
       wtot AS (SELECT SUM(w) AS wt FROM wts),
       bfl AS (SELECT source, w,
           CAST(CAST($TempTotal AS HUGEINT) * w // (SELECT wt FROM wtot) AS BIGINT) AS bf,
           CAST($TempTotal AS HUGEINT) * w % (SELECT wt FROM wtot) AS fr
         FROM wts),
       rnk AS (SELECT source, row_number() OVER (ORDER BY fr DESC, source) AS rk
         FROM bfl WHERE w > 0),
       lft AS (SELECT $TempTotal - CAST(SUM(bf) AS BIGINT) AS r FROM bfl),
       tgt AS (SELECT bfl.source, bf +
           CASE WHEN rnk.rk IS NOT NULL AND rnk.rk <= (SELECT r FROM lft)
             THEN 1 ELSE 0 END AS b
         FROM bfl LEFT JOIN rnk USING (source)),
       t AS (SELECT base.doc_id, base.source, base.n_tokens, base.shard, base.h,
           CAST(COALESCE(tgt.b, 0) AS BIGINT) AS budget
         FROM base LEFT JOIN tgt ON base.source = tgt.source),
       c AS (SELECT *, budget // $MixtureShards +
           CASE WHEN shard < budget % $MixtureShards THEN 1 ELSE 0 END AS shard_budget,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
       FROM t),
       sel AS (SELECT doc_id, source, n_tokens FROM c WHERE before < shard_budget),
       $mixtureRedistTailSql"""
  }

  private def mixtureBaseSql: String =
    s"""base AS (SELECT doc_id, source,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 8)) AS BIGINT)
           % $MixtureShards AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
       FROM documents)"""

  private def mixtureTempSql: String =
    mixtureTempChainSql(mixtureBaseSql, TempSources)

  /** Language-keyed base: the q_lang_id marker-score CASE as the
    * stratum, everything else identical. */
  private def mixtureLangBaseSql: String = {
    val scores = MarkerSql.map { case (code, arr) =>
      s"len(list_intersect(str_split(lower(text), ' '), $arr)) AS s_$code"
    }.mkString(", ")
    val best = MarkerSql.keys.map(c => s"s_$c").mkString("greatest(", ", ", ")")
    val pick = TextAnalysis.LangMarkers.map(_._1)
      .map(c => s"WHEN s_$c = best AND s_$c > 0 THEN '$c'").mkString(" ")
    s"""lsc AS (SELECT doc_id, text, $scores FROM documents),
       lb AS (SELECT *, $best AS best FROM lsc),
       base AS (SELECT doc_id, CASE $pick ELSE 'und' END AS source,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 8)) AS BIGINT)
           % $MixtureShards AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
       FROM lb)"""
  }

  private def mixtureLangSql: String =
    mixtureTempChainSql(mixtureLangBaseSql, MixtureLangs)
  private val WideBands = 2
  private val WideSliceBits = 12
  // Pigeonhole recall guarantee requires maxHamming < WideBands.
  private val WideMaxHamming = 1

  /** Seeded hyperplanes shared by the Spark queries and the generated
    * DuckDB oracle text — same doubles on both sides by construction. */
  private lazy val AnnPlanes = Similarity.randomPlanes(AnnBits, AnnDim, AnnSeed)
  /** Second independent set for the multi-probe query. */
  private lazy val AnnPlanes2 = Similarity.randomPlanes(AnnBits, AnnDim, AnnSeed + 1)

  /** JL projection target dim — 16 so the 1/√k scale (0.25) is
    * binary-exact and both engines multiply the identical double. */
  private val RpDim = 16
  private val RpScale = 0.25
  /** Projection matrix shared by the Spark queries and the generated
    * oracle text — [[Similarity.randomPlanes]]' 6dp literals. */
  private lazy val RpPlanes = Similarity.randomPlanes(RpDim, AnnDim, AnnSeed + 7)

  // DuckDB mirrors. The multi-line/generated ones are built with Scala
  // string ops; they are still plain ANSI-ish SQL at the driver.
  private val MarkerSql: Map[String, String] = TextAnalysis.LangMarkers.map {
    case (code, ms) => code -> ms.map(m => s"'$m'").mkString("[", ", ", "]")
  }.toMap

  /** Shared simhash CTE chain ending in `sig(doc_id, simhash)`. */
  private def simhashCtes: String = {
    val bitSums = (0 until SimhashBits)
      .map(i => s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i")
      .mkString(", ")
    val sig = (0 until SimhashBits)
      .map(i => s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""w AS (SELECT doc_id,
          unnest(list_distinct(str_split(lower(text), ' '))) AS word FROM documents),
        h AS (SELECT doc_id,
          CAST(('0x' || substr(md5(word), 1, ${(SimhashBits + 3) / 4})) AS BIGINT) AS h FROM w),
        s AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
        sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM s)"""
  }

  private def simhashSql: String =
    s"WITH $simhashCtes SELECT doc_id, simhash FROM sig ORDER BY doc_id"

  /** Wide (banded) simhash CTE chain ending in
    * `wsig(doc_id, band0..band{WideBands-1})`: band-salted word hashes, one
    * signature column per band — same construction as `Dedup.simhashWide`.
    * Shared by the signature query and the pair query. */
  private def simhashWideCtes: String = {
    val hexChars = (WideSliceBits + 3) / 4
    val hashes = (0 until WideBands).map(b =>
      s"CAST(('0x' || substr(md5('$b:' || word), 1, $hexChars)) AS BIGINT) AS h$b")
      .mkString(", ")
    val sums = (for { b <- 0 until WideBands; i <- 0 until WideSliceBits } yield
      s"SUM(CASE WHEN (h$b >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s${b}_$i")
      .mkString(", ")
    val bands = (0 until WideBands).map { b =>
      val sig = (0 until WideSliceBits)
        .map(i => s"CASE WHEN s${b}_$i > 0 THEN ${1L << i} ELSE 0 END")
        .mkString(" + ")
      s"CAST($sig AS BIGINT) AS band$b"
    }.mkString(", ")
    s"""w AS (SELECT doc_id,
          unnest(list_distinct(str_split(lower(text), ' '))) AS word FROM documents),
        h AS (SELECT doc_id, $hashes FROM w),
        s AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
        wsig AS (SELECT doc_id, $bands FROM s)"""
  }

  private def simhashWideSql: String = {
    val cols = (0 until WideBands).map(b => s"band$b").mkString(", ")
    s"WITH $simhashWideCtes SELECT doc_id, $cols FROM wsig ORDER BY doc_id"
  }

  /** Pair mirror over the wide signatures: band-element bucket join +
    * exact per-band popcount hamming, same two-stage shape as the Spark
    * side (pigeonhole: hamming ≤ WideMaxHamming < WideBands → some band
    * element identical, so the bucket join is lossless). */
  private def simhashWidePairsSql: String = {
    val slice = (0 until WideBands)
      .map(b => s"WHEN $b THEN band$b").mkString("CASE band_id ", " ", " END")
    val hamming = (0 until WideBands)
      .map(b => s"bit_count(xor(l.band$b, r.band$b))").mkString(" + ")
    s"""WITH $simhashWideCtes,
        bandids AS (SELECT unnest(generate_series(0, ${WideBands - 1})) AS band_id),
        banded AS (SELECT *, $slice AS slice FROM wsig CROSS JOIN bandids),
        cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
            CAST($hamming AS INTEGER) AS hamming
          FROM banded l JOIN banded r USING (band_id, slice)
          WHERE l.doc_id < r.doc_id)
        SELECT a, b, hamming FROM cand WHERE hamming <= $WideMaxHamming
        ORDER BY a, b"""
  }

  /** Shared CTE fragments for the ANN oracles. */
  private def cosSql(a: String, b: String): String =
    s"""ROUND(list_dot_product(list_transform($a, x -> CAST(x AS DOUBLE)),
                               list_transform($b, x -> CAST(x AS DOUBLE)))
        / (sqrt(list_dot_product(list_transform($a, x -> CAST(x AS DOUBLE)),
                                 list_transform($a, x -> CAST(x AS DOUBLE))))
         * sqrt(list_dot_product(list_transform($b, x -> CAST(x AS DOUBLE)),
                                 list_transform($b, x -> CAST(x AS DOUBLE))))), 6)"""

  /** Sign-LSH bucket in DuckDB: the SAME seeded planes as the Spark side,
    * rendered as list literals; list_dot_product is bit-identical to the
    * codegen'd vec_dot (strict in-order accumulation, VecMathSpec). */
  private def bucketSqlWith(v: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = p.mkString("[", ", ", "]")
      s"""(CASE WHEN list_dot_product(
            list_transform($v, x -> CAST(x AS DOUBLE)), $plane) > 0
          THEN ${1L << i} ELSE 0 END)"""
    }.mkString(" + ")

  private def bucketSql(v: String): String = bucketSqlWith(v, AnnPlanes)

  /** Shared centering chain ending at `c(vec_id, embedding, centered)`:
    * per-dimension means by the same 6dp-round → DECIMAL(25,6) sum →
    * one double divide ladder Similarity.centerEmbeddings pins. */
  private def centerCtes: String = {
    val meanExprs = (1 to AnnDim).map(i =>
      s"""CAST(SUM(CAST(ROUND(CAST(embedding[$i] AS DOUBLE), 6)
           AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)""").mkString(",\n ")
    s"""m AS (SELECT [$meanExprs] AS mean FROM embeddings),
          c AS (SELECT vec_id, embedding,
              list_transform(generate_series(1, $AnnDim),
                i -> ROUND(ROUND(CAST(embedding[i] AS DOUBLE), 6) - mean[i], 6))
                AS centered
            FROM embeddings CROSS JOIN m)"""
  }

  /** Shared funnel step chain (view → click → purchase, each step's
    * first event at or after the previous step's) ending at s1/s2/s3. */
  private val funnelCtes: String =
    """s1 AS (SELECT user_id, MIN(ts) AS first_view FROM events
            WHERE event_type = 'view' GROUP BY user_id),
          s2 AS (SELECT e.user_id, MIN(e.ts) AS first_click
            FROM events e JOIN s1 USING (user_id)
            WHERE e.event_type = 'click' AND e.ts >= s1.first_view
            GROUP BY e.user_id),
          s3 AS (SELECT e.user_id, MIN(e.ts) AS first_purchase
            FROM events e JOIN s2 USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts >= s2.first_click
            GROUP BY e.user_id)"""

  /** JL projection of `v` as a DuckDB list literal expression: the
    * SAME RpPlanes rows the Spark query inlines, the same binary-exact
    * 0.25 scale, the same 6dp round per component. */
  private def rpProjSql(v: String): String =
    RpPlanes.map { p =>
      val plane = p.mkString("[", ", ", "]")
      s"""ROUND(list_dot_product(
            list_transform($v, x -> CAST(x AS DOUBLE)), $plane) * $RpScale, 6)"""
    }.mkString("[", ",\n ", "]")

  /** 3-gram shingle list of `lower(text)` in DuckDB. */
  private def shinglesSqlOf(expr: String): String =
    s"""list_transform(generate_series(1, len(str_split(lower($expr), ' ')) - 2),
       i -> array_to_string(str_split(lower($expr), ' ')[i:i+2], ' '))"""
  private val ShinglesSql = shinglesSqlOf("text")

  private def minhashSqlColOf(seed: Int, expr: String): String =
    s"""list_aggregate(list_transform(list_distinct(${shinglesSqlOf(expr)}),
        w -> md5('$seed:' || w)), 'min') AS mh$seed"""
  private def minhashSqlCol(seed: Int): String = minhashSqlColOf(seed, "text")

  /** Shared CTE chain for the n-gram repetition oracles: per-doc word
    * n-gram counts → deterministic top (count desc, gram asc) + the
    * duplicated-gram char sum, both normalized by length(text). Ends at
    * CTE `a(doc_id, top_frac, dup_frac)`; the caller SELECTs the column
    * it asserts and COALESCEs docs shorter than n words to 0. */
  private def ngramRepSql(n: Int): String =
    s"""WITH w AS (SELECT doc_id, length(text) AS tlen,
            str_split(lower(text), ' ') AS ws FROM documents),
          ix AS (SELECT doc_id, tlen, ws,
              unnest(generate_series(1, len(ws) - ${n - 1})) AS i
            FROM w WHERE len(ws) >= $n),
          g AS (SELECT doc_id, tlen,
              array_to_string(ws[i : i + ${n - 1}], ' ') AS gram FROM ix),
          c AS (SELECT doc_id, tlen, gram, COUNT(*) AS cnt,
              length(gram) AS glen
            FROM g GROUP BY 1, 2, 3),
          r AS (SELECT doc_id, tlen, cnt, glen,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY cnt DESC, gram) AS rn
            FROM c),
          a AS (SELECT doc_id,
              ROUND(CAST(MAX(CASE WHEN rn = 1 THEN cnt * glen END) AS DOUBLE)
                / tlen, 6) AS top_frac,
              ROUND(CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * glen ELSE 0 END)
                AS DOUBLE) / tlen, 6) AS dup_frac
            FROM r GROUP BY doc_id, tlen)"""

  /** Shared by `q_dup_clusters` and `q_dup_clusters_star`: both
    * algorithms (min-label propagation, star contraction) must produce
    * the same component-minimum labeling of the verified near-dup
    * graph, pinned by one recursive-CTE connected-components oracle. */
  /** The recursive-CTE chain computing near-dup clusters (ends at `cc`:
    * (node, label) rows whose per-node MIN(label) is the cluster id) —
    * shared by the cluster-labeling oracles and the keep-best oracle. */
  /** The banded-minhash candidate + Jaccard-verify chain, ending in
    * `verified(a, b)` — shared by the CC oracles and the cross-source
    * leakage report. */
  private def verifiedPairsCte: String =
    s"""sig AS (SELECT doc_id,
            ${(0 until 4).map(minhashSqlCol).mkString(", ")} FROM documents),
          bands AS (
            SELECT doc_id, 0 AS band_id, md5(concat_ws('|', mh0, mh1)) AS band_hash FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band_id, md5(concat_ws('|', mh2, mh3)) AS band_hash FROM sig),
          pairs AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r USING (band_id, band_hash)
            WHERE l.doc_id < r.doc_id),
          verified AS (
            SELECT a, b FROM pairs
            JOIN documents da ON pairs.a = da.doc_id
            JOIN documents db ON pairs.b = db.doc_id
            WHERE ROUND(
              CAST(len(list_intersect(list_distinct(str_split(lower(da.text), ' ')),
                                      list_distinct(str_split(lower(db.text), ' ')))) AS DOUBLE)
              / len(list_distinct(list_concat(list_distinct(str_split(lower(da.text), ' ')),
                                              list_distinct(str_split(lower(db.text), ' '))))), 6)
              >= $NearDupJaccard)"""

  private def dupClustersCte: String =
    s"""WITH RECURSIVE $verifiedPairsCte,
          edges AS (SELECT a AS src, b AS dst FROM verified
            UNION SELECT b AS src, a AS dst FROM verified),
          cc AS (
            SELECT DISTINCT src AS node, src AS label FROM edges
            UNION
            SELECT e.dst AS node, cc.label FROM cc JOIN edges e ON cc.node = e.src)"""

  private def dupClustersOracleSql: String =
    s"""$dupClustersCte
          SELECT node AS doc_id, MIN(label) AS cluster_id
          FROM cc GROUP BY node ORDER BY doc_id"""

  /** Unrolled power-iteration CTEs over `edges(src, dst)` (the
    * symmetric closure dupClustersCte already builds): the SAME
    * rounding ladder as Dedup.pairCentrality — contributions round to
    * 12dp then sum as exact DECIMAL(20,12), each round's rank rounds
    * to 12dp, damping written as (1 - 0.85) so both engines evaluate
    * the identical IEEE expression tree. Ends at `pr$iters(u, deg, pr)`. */
  private def pairCentralityCtes(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""pr$k AS (SELECT x.u, d.deg, x.pr FROM (
            SELECT e.dst AS u,
              ROUND((1 - 0.85) / nn.n + 0.85 * CAST(SUM(
                CAST(ROUND(p.pr / p.deg, 12) AS DECIMAL(20,12))) AS DOUBLE), 12) AS pr
            FROM edges e JOIN pr${k - 1} p ON e.src = p.u CROSS JOIN nn
            GROUP BY e.dst, nn.n) x JOIN d ON x.u = d.u)"""
    }.mkString(",\n          ")
    s"""d AS (SELECT src AS u, COUNT(*) AS deg FROM edges GROUP BY src),
          nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM d),
          pr0 AS (SELECT u, deg, 1.0 / n AS pr FROM d CROSS JOIN nn),
          $rounds"""
  }

  /** Keep-best oracle: rank each cluster's members by (quality DESC,
    * doc_id ASC) — quality is the same single-divide double chain as
    * q_quality_score, bit-identical cross-engine — and evict everything
    * past rank 1; unclustered docs pass through. */
  private def dedupKeepBestOracleSql: String =
    s"""$dupClustersCte,
          clus AS (SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM cc GROUP BY node),
          scored AS (SELECT doc_id,
              least(1.0, CAST(len(str_split(text, ' ')) AS DOUBLE) / 100)
                * (1.0 - CAST(length(text) -
                    length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                  / length(text)) AS q
            FROM documents),
          ranked AS (SELECT c.doc_id,
              row_number() OVER (PARTITION BY c.cluster_id
                                 ORDER BY s.q DESC, c.doc_id ASC) AS rn
            FROM clus c JOIN scored s USING (doc_id))
          SELECT doc_id, n_chars FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
          ORDER BY doc_id"""

  /** Shared CTE chain for the URL-curation oracles: rebuild the
    * deterministic raw URL-space, then mirror `Curation.normalizeUrl` /
    * `hostOf` step for step (same RE2 ∩ Java patterns) and resolve the
    * registered domain with the SAME publicsuffix.org algorithm over
    * the SAME parsed rule groups (`Curation.exactRulesByWidth` /
    * `wildcardRulesByBaseWidth` / `exceptionRulesByWidth` inlined as
    * VALUES — one generated join arm per kind×width, exception beats
    * all, else longest match, else the default rule). Ends at `dom`
    * (doc_id, url, host, domain). */
  private def pslVals(rules: Seq[String]): String =
    rules.sorted.map(r => s"('$r')").mkString(", ")

  /** The generated registered-domain SQL tail: candidates → rule joins
    * → prevailing-width CASE → domain slice. Derived from the same
    * Curation rule groups the Spark operator joins against, so the two
    * engines cannot drift. Input CTE must expose
    * (doc_id, url, host, labels, n). */
  private lazy val pslDomainSqlTail: String = {
    val exact = Curation.exactRulesByWidth
    val wild = Curation.wildcardRulesByBaseWidth
    val exc = Curation.exceptionRulesByWidth
    val candWidths = (exact.keySet ++ wild.keySet ++ exc.keySet).toSeq.sorted
    val candCols = candWidths.map(w =>
      s"CASE WHEN n >= $w THEN array_to_string(list_slice(labels, n - ${w - 1}, n), '.') END AS c$w")
      .mkString(",\n            ")
    val tables =
      (exact.toSeq.sortBy(_._1).map { case (w, rs) =>
        s"psl_e$w(sfx) AS (VALUES ${pslVals(rs)})" } ++
       wild.toSeq.sortBy(_._1).map { case (b, rs) =>
        s"psl_w$b(sfx) AS (VALUES ${pslVals(rs)})" } ++
       exc.toSeq.sortBy(_._1).map { case (w, rs) =>
        s"psl_x$w(sfx) AS (VALUES ${pslVals(rs)})" }).mkString(",\n        ")
    val joins =
      (exact.keys.toSeq.sorted.map(w =>
        s"LEFT JOIN psl_e$w e$w ON cw.c$w = e$w.sfx") ++
       wild.keys.toSeq.sorted.map(b =>
        s"LEFT JOIN psl_w$b w$b ON cw.c$b = w$b.sfx") ++
       exc.keys.toSeq.sorted.map(w =>
        s"LEFT JOIN psl_x$w x$w ON cw.c$w = x$w.sfx")).mkString("\n          ")
    val sel =
      (exact.keys.toSeq.sorted.map(w => s"e$w.sfx AS m_e$w") ++
       wild.keys.toSeq.sorted.map(b => s"w$b.sfx AS m_w$b") ++
       exc.keys.toSeq.sorted.map(w => s"x$w.sfx AS m_x$w")).mkString(", ")
    def maxOf(arms: Seq[String]) = arms match {
      case Nil      => "CAST(NULL AS INTEGER)"
      case Seq(one) => one
      case many     => s"GREATEST(${many.mkString(", ")})"
    }
    val excExpr = maxOf(exc.keys.toSeq.sorted.map(w =>
      s"CASE WHEN m_x$w IS NOT NULL THEN ${w - 1} END"))
    val normExpr = maxOf(
      exact.keys.toSeq.sorted.map(w =>
        s"CASE WHEN m_e$w IS NOT NULL THEN $w END") ++
      wild.keys.toSeq.sorted.map(b =>
        s"CASE WHEN m_w$b IS NOT NULL AND n >= ${b + 1} THEN ${b + 1} END"))
    s"""cw AS (SELECT *,
            $candCols
          FROM cand),
        $tables,
        j AS (SELECT cw.*, $sel FROM cw
          $joins),
        sfxw AS (SELECT *, COALESCE($excExpr, $normExpr, 1) AS sw FROM j),
        dom AS (SELECT doc_id, url, host,
            CASE WHEN n >= sw + 1
              THEN array_to_string(list_slice(labels, n - sw, n), '.') END AS domain
          FROM sfxw)"""
  }
  private lazy val UrlDomainSqlChain: String =
    s"""WITH raw AS (SELECT doc_id,
            'HTTPS://WWW.' || upper(source) || '.EXAMPLE.' ||
            upper(list_extract([${UrlTlds.map(t => s"'$t'").mkString(", ")}],
              CAST(doc_id % ${UrlTlds.size} AS INTEGER) + 1)) ||
            ':443/Page/' || CAST(doc_id AS VARCHAR) ||
            '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) ||
            '&fbclid=zz&x=Y#Frag' AS raw_url
          FROM documents),
        nf AS (SELECT doc_id, regexp_replace(trim(raw_url), '#.*$$', '') AS u
          FROM raw),
        pp AS (SELECT doc_id, u,
            regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*') AS prefix
          FROM nf),
        pr AS (SELECT doc_id,
            regexp_replace(regexp_replace(lower(prefix),
              '^(http://[^:/?#]*):80$$', '\\1'),
              '^(https://[^:/?#]*):443$$', '\\1') AS lowpre,
            substr(u, length(prefix) + 1) AS rest FROM pp),
        pq AS (SELECT doc_id, lowpre,
            regexp_extract(rest, '^[^?]*') AS path,
            regexp_extract(rest, '^[^?]*\\?(.*)$$', 1) AS q FROM pr),
        nq AS (SELECT doc_id, lowpre, path,
            array_to_string(list_filter(string_split(q, '&'),
              p -> NOT regexp_matches(p,
                '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|ref|ref_src)=')
                AND p <> ''), '&') AS kept FROM pq),
        urls AS (SELECT doc_id,
            lowpre || path ||
            CASE WHEN kept <> '' THEN '?' || kept ELSE '' END AS url FROM nq),
        hosts AS (SELECT doc_id, url,
            regexp_replace(regexp_replace(
              lower(regexp_extract(url,
                '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
              '^[^@]*@', ''), ':[0-9]+$$', '') AS host FROM urls),
        cand AS (SELECT doc_id, url, host,
            string_split(host, '.') AS labels,
            len(string_split(host, '.')) AS n FROM hosts),
        $pslDomainSqlTail"""

  /** The BPE oracle's merge table, inlined from the one Scala constant
    * so query and oracle can never drift. */
  private lazy val BpeMergeValues: String =
    Bpe.Merges.zipWithIndex
      .map { case ((l, r), i) => s"('$l $r', ${i + 1})" }.mkString(", ")

  /** The byte-fallback table ([[graft.ext.Bpe.ByteMerges]]), same
    * inlining. */
  private lazy val BpeByteMergeValues: String =
    Bpe.ByteMerges.zipWithIndex
      .map { case ((l, r), i) => s"('$l $r', ${i + 1})" }.mkString(", ")

  /** (symbol, id) VALUES of the encode vocabulary — merge outputs get
    * 256+i, first rank winning duplicate output strings, exactly
    * [[graft.ext.Bpe.vocabOf]]; single chars/byte markers fall through
    * to ascii()/hex rules in the oracle, exactly `idOfSymbol`. */
  private lazy val BpeVocabValues: String = {
    val seen = scala.collection.mutable.Set.empty[String]
    Bpe.ByteMerges.zipWithIndex.flatMap { case ((a, b), i) =>
      val out = a + b
      if (seen.add(out)) Some(s"('$out', ${256 + i})") else None
    }.mkString(", ")
  }

  /** Shared CTE chain for the bigram-LM oracles: retrain the add-one
    * model on the every-10th-doc reference slice and score every
    * document — ends defining `scored(doc_id, n_bigrams, ppl)`. */
  /** JM interpolation weight (hundredths of λ on the ML bigram). 75
    * keeps both λ and 1−λ exactly representable doubles, so the SQL
    * literals and the Scala-side lit()s are bit-identical. */
  private val JmLambdaHundredths = 75

  /** The interpolated twin of [[lmPerplexitySql]]: same reference
    * corpus, P = λ·c12/c1 + (1−λ)·(c(w2)+1)/(T+V). */
  private def lmPerplexityJmSql: String = {
    val lam = JmLambdaHundredths / 100.0
    s"""refd AS (SELECT str_split(lower(text), ' ') AS ws
          FROM documents WHERE doc_id % 10 = 0),
        rb0 AS (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
          FROM refd WHERE len(ws) >= 2),
        rbi AS (SELECT ws[i] AS w1, ws[i+1] AS w2, COUNT(*) AS c12
          FROM rb0 GROUP BY 1, 2),
        runi AS (SELECT w1, COUNT(*) AS c1
          FROM (SELECT unnest(ws) AS w1 FROM refd) GROUP BY 1),
        tot AS (SELECT COUNT(*) AS v, CAST(SUM(c1) AS BIGINT) AS t FROM runi),
        d AS (SELECT doc_id, str_split(lower(text), ' ') AS ws
          FROM documents),
        db0 AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
          FROM d WHERE len(ws) >= 2),
        dbi AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM db0),
        lp AS (SELECT doc_id,
            CAST(ROUND(ln(
              $lam * (CASE WHEN COALESCE(ru1.c1, 0) > 0
                THEN CAST(COALESCE(rbi.c12, 0) AS DOUBLE) / ru1.c1
                ELSE 0.0 END)
              + ${1 - lam} * (CAST(COALESCE(ru2.c1, 0) + 1 AS DOUBLE)
                / CAST((SELECT t FROM tot) + (SELECT v FROM tot) AS DOUBLE))
            ), 6) AS DECIMAL(25,6)) AS lp
          FROM dbi LEFT JOIN rbi USING (w1, w2)
            LEFT JOIN runi ru1 ON dbi.w1 = ru1.w1
            LEFT JOIN runi ru2 ON dbi.w2 = ru2.w1),
        agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lp) AS slp
          FROM lp GROUP BY 1),
        scored AS (SELECT d0.doc_id,
            CAST(COALESCE(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
            ROUND(exp((-CAST(agg.slp AS DOUBLE)) / agg.n_bigrams), 6) AS ppl
          FROM documents d0 LEFT JOIN agg USING (doc_id))"""
  }

  private def lmPerplexityKnSql: String = {
    val d = KnDiscountHundredths / 100.0
    s"""refd AS (SELECT str_split(lower(text), ' ') AS ws
          FROM documents WHERE doc_id % 10 = 0),
        rb0 AS (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
          FROM refd WHERE len(ws) >= 2),
        rbi AS (SELECT ws[i] AS w1, ws[i+1] AS w2, COUNT(*) AS c12
          FROM rb0 GROUP BY 1, 2),
        runi AS (SELECT w1, COUNT(*) AS c1
          FROM (SELECT unnest(ws) AS w1 FROM refd) GROUP BY 1),
        tot AS (SELECT COUNT(*) AS v FROM runi),
        rhist AS (SELECT w1, COUNT(*) AS n1p FROM rbi GROUP BY 1),
        rcont AS (SELECT w2, COUNT(*) AS nc FROM rbi GROUP BY 1),
        btot AS (SELECT COUNT(*) AS b FROM rbi),
        d AS (SELECT doc_id, str_split(lower(text), ' ') AS ws
          FROM documents),
        db0 AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
          FROM d WHERE len(ws) >= 2),
        dbi AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM db0),
        lp AS (SELECT doc_id,
            CAST(ROUND(ln(
              CASE WHEN COALESCE(ru1.c1, 0) > 0 AND COALESCE(rh.n1p, 0) > 0
                THEN GREATEST(CAST(COALESCE(rbi.c12, 0) AS DOUBLE) - $d, 0.0)
                       / ru1.c1
                     + $d * rh.n1p / ru1.c1 *
                       (CAST(COALESCE(rc.nc, 0) + 1 AS DOUBLE)
                         / CAST((SELECT b FROM btot) + (SELECT v FROM tot)
                             AS DOUBLE))
                ELSE (CAST(COALESCE(rc.nc, 0) + 1 AS DOUBLE)
                       / CAST((SELECT b FROM btot) + (SELECT v FROM tot)
                           AS DOUBLE)) END
            ), 6) AS DECIMAL(25,6)) AS lp
          FROM dbi LEFT JOIN rbi USING (w1, w2)
            LEFT JOIN runi ru1 ON dbi.w1 = ru1.w1
            LEFT JOIN rhist rh ON dbi.w1 = rh.w1
            LEFT JOIN rcont rc ON dbi.w2 = rc.w2),
        agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lp) AS slp
          FROM lp GROUP BY 1),
        scored AS (SELECT d0.doc_id,
            CAST(COALESCE(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
            ROUND(exp((-CAST(agg.slp AS DOUBLE)) / agg.n_bigrams), 6) AS ppl
          FROM documents d0 LEFT JOIN agg USING (doc_id))"""
  }

  private def lmPerplexitySql: String =
    """refd AS (SELECT str_split(lower(text), ' ') AS ws
          FROM documents WHERE doc_id % 10 = 0),
        rb0 AS (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
          FROM refd WHERE len(ws) >= 2),
        rbi AS (SELECT ws[i] AS w1, ws[i+1] AS w2, COUNT(*) AS c12
          FROM rb0 GROUP BY 1, 2),
        runi AS (SELECT w1, COUNT(*) AS c1
          FROM (SELECT unnest(ws) AS w1 FROM refd) GROUP BY 1),
        v AS (SELECT COUNT(*) AS v FROM runi),
        d AS (SELECT doc_id, str_split(lower(text), ' ') AS ws
          FROM documents),
        db0 AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
          FROM d WHERE len(ws) >= 2),
        dbi AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM db0),
        lp AS (SELECT doc_id,
            CAST(ROUND(ln(CAST(COALESCE(rbi.c12, 0) + 1 AS DOUBLE)
              / (COALESCE(runi.c1, 0) + (SELECT v FROM v))), 6)
              AS DECIMAL(25,6)) AS lp
          FROM dbi LEFT JOIN rbi USING (w1, w2)
            LEFT JOIN runi USING (w1)),
        agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lp) AS slp
          FROM lp GROUP BY 1),
        scored AS (SELECT d0.doc_id,
            CAST(COALESCE(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
            ROUND(exp((-CAST(agg.slp AS DOUBLE)) / agg.n_bigrams), 6) AS ppl
          FROM documents d0 LEFT JOIN agg USING (doc_id))"""

  /** fastText-shaped classifier scoring, as a reusable CTE chain ending
    * in `cls(doc_id, n_feats, logit, prob, label)` — the exact twin of
    * [[graft.ext.Classify.scoreLinear]] over [[graft.ext.Classify.fixtureWeights]]:
    * same md5 bucket wheel on unigram+bigram terms, same md5-derived 6dp
    * fixture weights, decimal-exact dot, 6dp mean/sigmoid. */
  private def classifierScoreCte: String =
    s"""cws AS (SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM documents),
          ct AS (SELECT doc_id, unnest(w) AS t FROM cws
                UNION ALL
                SELECT doc_id, w[CAST(i AS INTEGER)] || ' '
                    || w[CAST(i AS INTEGER) + 1] AS t
                FROM cws, LATERAL (SELECT unnest(
                  generate_series(1, len(w) - 1)) AS i)
                WHERE len(w) >= 2),
          cf AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(t || 'qcls'), 1, 8)) AS BIGINT)
                    % $ClsBuckets AS b FROM ct),
          cwt AS (SELECT CAST(b AS BIGINT) AS b,
                  CAST(ROUND(CAST(('0x' || substr(md5(CAST(b AS VARCHAR)
                      || 'qcls:w'), 1, 8)) AS BIGINT)
                    / 4294967296.0 - 0.5, 6) AS DECIMAL(18, 6)) AS wgt
                FROM (SELECT unnest(generate_series(0, $ClsBuckets - 1)) AS b)),
          cper AS (SELECT doc_id, COUNT(*) AS n_feats,
                  SUM(COALESCE(wgt, CAST(0 AS DECIMAL(18, 6)))) AS dot
                FROM cf LEFT JOIN cwt USING (b) GROUP BY doc_id),
          csc AS (SELECT doc_id, n_feats,
                  ROUND($ClsBias + CAST(dot AS DOUBLE) / n_feats, 6) AS logit
                FROM cper),
          cls AS (SELECT doc_id, n_feats, logit,
                  ROUND(1 / (1 + exp(-logit)), 6) AS prob,
                  CASE WHEN ROUND(1 / (1 + exp(-logit)), 6) >= 0.5
                    THEN 'keep' ELSE 'drop' END AS label
                FROM csc)"""

  def oracles: Map[String, String] = Map(
    // The NAIVE frame, deliberately: Spark executes the REWRITTEN plan
    // (two growing frames), DuckDB the original sliding frame — equality
    // is the rule's exactness claim checked engine-to-engine.
    "q_window_sliding_rule" ->
      """SELECT event_id, event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS win_sum,
           COUNT(value) OVER w AS win_n
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    // The BPE merge CTE extended with per-word identity (wid), then the
    // packByBudget prefix-sum chunk rule: before = exclusive prefix sum
    // of per-word counts, chunk = before div budget, chunk text =
    // order-preserving re-join of pre-tokens.
    "q_chunk_bpe" ->
      s"""WITH RECURSIVE merges(pair, rank) AS (VALUES $BpeMergeValues),
          words AS (
            SELECT doc_id,
              unnest(regexp_extract_all(lower(text),
                '${Bpe.PreTokenPattern}')) AS word,
              unnest(range(1, len(regexp_extract_all(lower(text),
                '${Bpe.PreTokenPattern}')) + 1)) AS wid
            FROM documents),
          seg(doc_id, wid, toks, done) AS (
            SELECT doc_id, wid, string_split(word, ''), false FROM words
            UNION ALL
            SELECT s.doc_id, s.wid,
              CASE WHEN b.bi IS NULL THEN s.toks
                   ELSE list_concat(list_concat(
                     s.toks[1:b.bi-1], [s.toks[b.bi] || s.toks[b.bi+1]]),
                     s.toks[b.bi+2:len(s.toks)]) END,
              b.bi IS NULL
            FROM seg s LEFT JOIN LATERAL (
              SELECT gs.i AS bi
              FROM (SELECT unnest(range(1, len(s.toks))) AS i) gs
              JOIN merges m ON m.pair = s.toks[gs.i] || ' ' || s.toks[gs.i+1]
              ORDER BY m.rank, gs.i LIMIT 1
            ) b ON true
            WHERE NOT s.done),
          counts AS (SELECT doc_id, wid, len(toks) AS t FROM seg WHERE done),
          wc AS (SELECT w.doc_id, w.wid, w.word, c.t
                 FROM words w JOIN counts c USING (doc_id, wid)),
          pre AS (SELECT *, COALESCE(SUM(t) OVER (PARTITION BY doc_id
                    ORDER BY wid ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS before FROM wc)
          SELECT doc_id, CAST(before // $ChunkBudget AS INTEGER) AS chunk_idx,
            string_agg(word, ' ' ORDER BY wid) AS text,
            CAST(SUM(t) AS INTEGER) AS n_tokens_bpe
          FROM pre GROUP BY doc_id, chunk_idx ORDER BY doc_id, chunk_idx""",

    // Replays Bpe.tokenCount as a recursive CTE: each word starts as its
    // character list; every recursion step merges the best-ranked
    // (leftmost on ties) adjacent pair, or marks the word done when no
    // table pair remains. Rows recurse independently (UNION ALL keeps
    // duplicate words); the final count left-joins back to documents so
    // wordless docs report 0 like the Spark side.
    "q_token_bpe" ->
      s"""WITH RECURSIVE merges(pair, rank) AS (VALUES $BpeMergeValues),
          words AS (
            SELECT doc_id, unnest(regexp_extract_all(lower(text),
              '${Bpe.PreTokenPattern}')) AS word
            FROM documents),
          seg(doc_id, toks, done) AS (
            SELECT doc_id, string_split(word, ''), false FROM words
            UNION ALL
            SELECT s.doc_id,
              CASE WHEN b.bi IS NULL THEN s.toks
                   ELSE list_concat(list_concat(
                     s.toks[1:b.bi-1], [s.toks[b.bi] || s.toks[b.bi+1]]),
                     s.toks[b.bi+2:len(s.toks)]) END,
              b.bi IS NULL
            FROM seg s LEFT JOIN LATERAL (
              SELECT gs.i AS bi
              FROM (SELECT unnest(range(1, len(s.toks))) AS i) gs
              JOIN merges m ON m.pair = s.toks[gs.i] || ' ' || s.toks[gs.i+1]
              ORDER BY m.rank, gs.i LIMIT 1
            ) b ON true
            WHERE NOT s.done)
          SELECT d.doc_id, CAST(COALESCE(t.n, 0) AS INTEGER) AS n_tokens_bpe
          FROM documents d LEFT JOIN
            (SELECT doc_id, SUM(len(toks)) AS n FROM seg WHERE done
             GROUP BY doc_id) t
            USING (doc_id)
          ORDER BY doc_id""",

    // Bigram-LM perplexity: retrain the add-one model on the same
    // reference slice, join counts onto each doc's bigrams, 6dp-round
    // each ln P (absorbing last-ulp ln disagreement), sum as exact
    // decimals, close with one exp/divide/round tree.
    "q_lm_perplexity" ->
      s"""WITH $lmPerplexitySql
         SELECT doc_id, n_bigrams, ppl FROM scored ORDER BY doc_id""",

    "q_lm_perplexity_jm" ->
      s"""WITH $lmPerplexityJmSql
         SELECT doc_id, n_bigrams, ppl FROM scored ORDER BY doc_id""",

    "q_lm_perplexity_kn" ->
      s"""WITH $lmPerplexityKnSql
         SELECT doc_id, n_bigrams, ppl FROM scored ORDER BY doc_id""",

    // Quality buckets over the same scores: percentileBins' rule
    // (bin = count of 6dp-rounded quantile bounds at or below ppl;
    // NULL ppl -> NULL bin) at the corpus 0.33/0.67 quantiles.
    "q_quality_buckets" ->
      s"""WITH $lmPerplexitySql,
          b AS (SELECT ROUND(quantile_cont(ppl, 0.33), 6) AS q1,
              ROUND(quantile_cont(ppl, 0.67), 6) AS q2
            FROM scored)
         SELECT doc_id, n_bigrams, ppl,
           CASE WHEN ppl IS NULL THEN NULL
                ELSE CAST((CASE WHEN ppl >= q1 THEN 1 ELSE 0 END)
                   + (CASE WHEN ppl >= q2 THEN 1 ELSE 0 END) AS INTEGER) END
             AS bin
         FROM scored CROSS JOIN b ORDER BY doc_id""",

    // Byte-fallback twin: non-ASCII pre-tokens seed as their UTF-8
    // bytes — hex(encode(run)) split into '<0xHH>' pairs — and run
    // through the SAME recursive merge CTE under the byte-extended
    // table. ASCII words seed as characters, exactly like q_token_bpe.
    "q_token_bpe_bytes" ->
      s"""WITH RECURSIVE merges(pair, rank) AS (VALUES $BpeByteMergeValues),
          docs2 AS (
            SELECT doc_id,
              substr(text, 1, 80) || ' ' ||
                repeat('数据', CAST(doc_id % 3 + 1 AS INTEGER)) || ' é'
                AS itext
            FROM documents),
          words AS (
            SELECT doc_id, unnest(regexp_extract_all(lower(itext),
              '${Bpe.PreTokenPatternBytes}')) AS word
            FROM docs2),
          seg(doc_id, toks, done) AS (
            SELECT doc_id,
              CASE WHEN regexp_matches(word, '[^\\x00-\\x7f]')
                THEN list_transform(
                  range(1, len(hex(encode(word))) // 2 + 1),
                  i -> '<0x' || substr(hex(encode(word)), 2*i - 1, 2) || '>')
                ELSE string_split(word, '') END,
              false
            FROM words
            UNION ALL
            SELECT s.doc_id,
              CASE WHEN b.bi IS NULL THEN s.toks
                   ELSE list_concat(list_concat(
                     s.toks[1:b.bi-1], [s.toks[b.bi] || s.toks[b.bi+1]]),
                     s.toks[b.bi+2:len(s.toks)]) END,
              b.bi IS NULL
            FROM seg s LEFT JOIN LATERAL (
              SELECT gs.i AS bi
              FROM (SELECT unnest(range(1, len(s.toks))) AS i) gs
              JOIN merges m ON m.pair = s.toks[gs.i] || ' ' || s.toks[gs.i+1]
              ORDER BY m.rank, gs.i LIMIT 1
            ) b ON true
            WHERE NOT s.done)
          SELECT d.doc_id, CAST(COALESCE(t.n, 0) AS INTEGER) AS n_tokens_bpe
          FROM documents d LEFT JOIN
            (SELECT doc_id, SUM(len(toks)) AS n FROM seg WHERE done
             GROUP BY doc_id) t
            USING (doc_id)
          ORDER BY doc_id""",

    // Ordered token-ID stream: the same recursive merge CTE but with
    // word POSITION threaded through (wpos), flattened in (wpos,
    // symbol) order and mapped to ids via the induced vocabulary —
    // merge outputs by the VALUES table, '<0xHH>' markers by hex, bare
    // chars by ascii(). roundtrip_ok is literal true here: the decode
    // inverse is Spark-measured per row and property-pinned in
    // BpePropertySpec; DuckDB pins the id stream itself.
    "q_token_roundtrip" ->
      s"""WITH RECURSIVE merges(pair, rank) AS (VALUES $BpeByteMergeValues),
          vocab(sym, vid) AS (VALUES $BpeVocabValues),
          docs2 AS (
            SELECT doc_id, substr(text, 1, 80) || '  Mixed CASE 数据 é!'
              AS itext
            FROM documents),
          words AS (
            SELECT doc_id, gs.i AS wpos, ws[gs.i] AS word
            FROM (SELECT doc_id,
                regexp_extract_all(itext, '${Bpe.EncodePattern}') AS ws
              FROM docs2) w,
              LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) gs),
          seg(doc_id, wpos, toks, done) AS (
            SELECT doc_id, wpos,
              CASE WHEN regexp_matches(word, '[^\\x00-\\x7f]')
                THEN list_transform(
                  range(1, len(hex(encode(word))) // 2 + 1),
                  i -> '<0x' || substr(hex(encode(word)), 2*i - 1, 2) || '>')
                ELSE string_split(word, '') END,
              false
            FROM words
            UNION ALL
            SELECT s.doc_id, s.wpos,
              CASE WHEN b.bi IS NULL THEN s.toks
                   ELSE list_concat(list_concat(
                     s.toks[1:b.bi-1], [s.toks[b.bi] || s.toks[b.bi+1]]),
                     s.toks[b.bi+2:len(s.toks)]) END,
              b.bi IS NULL
            FROM seg s LEFT JOIN LATERAL (
              SELECT gs.i AS bi
              FROM (SELECT unnest(range(1, len(s.toks))) AS i) gs
              JOIN merges m ON m.pair = s.toks[gs.i] || ' ' || s.toks[gs.i+1]
              ORDER BY m.rank, gs.i LIMIT 1
            ) b ON true
            WHERE NOT s.done),
          flat AS (
            SELECT doc_id, wpos, gs.i AS spos, toks[gs.i] AS sym
            FROM seg,
              LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) gs
            WHERE done),
          ids AS (
            SELECT f.doc_id,
              row_number() OVER (PARTITION BY f.doc_id
                ORDER BY f.wpos, f.spos) AS tpos,
              COALESCE(v.vid,
                CASE WHEN len(f.sym) = 6 AND substr(f.sym, 1, 3) = '<0x'
                  THEN (strpos('0123456789ABCDEF', substr(f.sym, 4, 1)) - 1) * 16
                     + (strpos('0123456789ABCDEF', substr(f.sym, 5, 1)) - 1)
                  ELSE ascii(f.sym) END) AS tid
            FROM flat f LEFT JOIN vocab v ON f.sym = v.sym)
          SELECT d.doc_id, CAST(COALESCE(t.n, 0) AS INTEGER) AS n_tokens,
            t.t0, t.t1, t.t2, t.t3, true AS roundtrip_ok
          FROM documents d LEFT JOIN (
            SELECT doc_id, count(*) AS n,
              CAST(MAX(CASE WHEN tpos = 1 THEN tid END) AS INTEGER) AS t0,
              CAST(MAX(CASE WHEN tpos = 2 THEN tid END) AS INTEGER) AS t1,
              CAST(MAX(CASE WHEN tpos = 3 THEN tid END) AS INTEGER) AS t2,
              CAST(MAX(CASE WHEN tpos = 4 THEN tid END) AS INTEGER) AS t3
            FROM ids GROUP BY doc_id) t USING (doc_id)
          ORDER BY d.doc_id""",

    // Same recursive-merge segmentation as q_token_roundtrip (wpos keeps
    // duplicate words distinct), summed per doc then per source; bytes
    // via octet_length of the UTF-8 prefix; ratio over exact integer
    // sums on both engines.
    "q_token_compression" ->
      s"""WITH RECURSIVE merges(pair, rank) AS (VALUES $BpeByteMergeValues),
          docs2 AS (
            SELECT doc_id, source, substr(text, 1, 120) AS itext
            FROM documents),
          words AS (
            SELECT doc_id, gs.i AS wpos, ws[gs.i] AS word
            FROM (SELECT doc_id,
                regexp_extract_all(itext, '${Bpe.EncodePattern}') AS ws
              FROM docs2) w,
              LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) gs),
          seg(doc_id, wpos, toks, done) AS (
            SELECT doc_id, wpos,
              CASE WHEN regexp_matches(word, '[^\\x00-\\x7f]')
                THEN list_transform(
                  range(1, len(hex(encode(word))) // 2 + 1),
                  i -> '<0x' || substr(hex(encode(word)), 2*i - 1, 2) || '>')
                ELSE string_split(word, '') END,
              false
            FROM words
            UNION ALL
            SELECT s.doc_id, s.wpos,
              CASE WHEN b.bi IS NULL THEN s.toks
                   ELSE list_concat(list_concat(
                     s.toks[1:b.bi-1], [s.toks[b.bi] || s.toks[b.bi+1]]),
                     s.toks[b.bi+2:len(s.toks)]) END,
              b.bi IS NULL
            FROM seg s LEFT JOIN LATERAL (
              SELECT gs.i AS bi
              FROM (SELECT unnest(range(1, len(s.toks))) AS i) gs
              JOIN merges m ON m.pair = s.toks[gs.i] || ' ' || s.toks[gs.i+1]
              ORDER BY m.rank, gs.i LIMIT 1
            ) b ON true
            WHERE NOT s.done),
          cnt AS (SELECT doc_id, SUM(len(toks)) AS n
            FROM seg WHERE done GROUP BY doc_id)
          SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(SUM(COALESCE(octet_length(encode(d.itext)), 0)) AS BIGINT)
              AS total_bytes,
            CAST(SUM(COALESCE(cnt.n, 0)) AS BIGINT) AS total_tokens,
            ROUND(
              CAST(SUM(COALESCE(octet_length(encode(d.itext)), 0)) AS DOUBLE)
              / CAST(SUM(COALESCE(cnt.n, 0)) AS DOUBLE), 6) AS bytes_per_token
          FROM docs2 d LEFT JOIN cnt USING (doc_id)
          GROUP BY d.source ORDER BY d.source""",

    "q_url_normalize" ->
      s"""$UrlDomainSqlChain
          SELECT doc_id, url, host, domain FROM dom ORDER BY doc_id""",

    "q_domain_cap" ->
      s"""$UrlDomainSqlChain
          SELECT doc_id, domain FROM dom
          QUALIFY row_number() OVER (PARTITION BY domain
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= $DomainCap
          ORDER BY doc_id""",

    "q_domain_block" ->
      s"""$UrlDomainSqlChain
          SELECT doc_id, domain FROM dom
          WHERE domain IS NULL OR domain NOT IN
            (${BlockedDomains.map(d => s"'$d'").mkString(", ")})
          ORDER BY doc_id""",

    "q_agg_group" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS n
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",

    // Charge is the exact (18,2)·(3,2)·(3,2) decimal product — see the
    // Spark-side precision note.
    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l_discount AS DECIMAL(3,2))
             * CAST(1 + l_tax AS DECIMAL(3,2))) AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*), 6) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= DATE '2001-06-01'
         GROUP BY 1, 2
         ORDER BY l_returnflag, l_linestatus""",

    "q_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < DATE '1997-01-01'
           AND l_shipdate > DATE '1997-01-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",

    "q_tpch_q5" ->
      """SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'EUROPE' AND year(o_orderdate) = 1998
         GROUP BY n_name ORDER BY revenue DESC, n_name""",

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= DATE '1996-01-01'
           AND o_orderdate < DATE '1996-04-01'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey LIMIT 20""",

    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         GROUP BY 1, 2, 3
         ORDER BY supp_nation, cust_nation, l_year""",

    "q_tpch_q14" ->
      """SELECT ROUND(100.0 *
           CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))
             ELSE 0 END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 6)
           AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= DATE '1996-01-01'
           AND l_shipdate < DATE '1996-02-01'""",

    "q_tpch_q18" ->
      """WITH big AS (
           SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300.0)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
         FROM big
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",

    // Q9 adapted (no partsupp in testdata): supply cost = 60% of
    // p_retailprice per unit; same tight decimal ladder as the Spark
    // side — (18,2)·(3,2) minus (12,2)·(3,2)·(12,2), exact inside 38.
    "q_tpch_q9" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(3,2))
             - CAST(p_retailprice AS DECIMAL(12,2))
               * CAST(0.60 AS DECIMAL(3,2))
               * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%bolt%'
         GROUP BY 1, 2
         ORDER BY nation, o_year DESC""",

    // Q21 adapted (no receipt/commit dates): late = shipped more than
    // 90 days after order date; orders restricted to status 'F'.
    "q_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
         FROM lineitem l1
         JOIN orders ON o_orderkey = l1.l_orderkey
         JOIN supplier ON s_suppkey = l1.l_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE o_orderstatus = 'F'
           AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
           AND n_name = 'NATION_12'
           AND EXISTS (SELECT 1 FROM lineitem l2
             WHERE l2.l_orderkey = l1.l_orderkey
               AND l2.l_suppkey != l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
             WHERE l3.l_orderkey = l1.l_orderkey
               AND l3.l_suppkey != l1.l_suppkey
               AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
         GROUP BY s_name
         ORDER BY numwait DESC, s_name LIMIT 100""",

    // Q4 adapted: late = shipped >90d after order date (Q21's rule).
    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= DATE '1996-07-01'
           AND o_orderdate < DATE '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey
               AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
         GROUP BY 1 ORDER BY 1""",

    "q_tpch_q6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= DATE '1996-01-01'
           AND l_shipdate < DATE '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",

    // Q13 adapted: excluded class = URGENT orders (no comment column).
    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority != '1-URGENT'
           GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",

    // Q17 adapted: brand-only filter; threshold replayed DIVISION-FREE
    // (qty·5·cnt < sum(qty)) via the same window decorrelation, so the
    // compare is decimal-exact on both engines.
    "q_tpch_q17" ->
      """WITH f AS (
           SELECT l_partkey, l_quantity, l_extendedprice
           FROM lineitem JOIN part ON p_partkey = l_partkey
           WHERE p_brand = 'Brand#23'),
         w AS (
           SELECT l_extendedprice,
             CAST(l_quantity AS DECIMAL(12,2)) AS q,
             SUM(CAST(l_quantity AS DECIMAL(12,2)))
               OVER (PARTITION BY l_partkey) AS sq,
             COUNT(*) OVER (PARTITION BY l_partkey) AS ct
           FROM f)
         SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0 AS avg_yearly
         FROM w WHERE q * 5 * ct < sq""",

    // Q22 adapted: cntrycode = c_nationkey (odd keys), anti target =
    // orders > 450k; threshold compare division-free (bal·n > sum).
    "q_tpch_q22" ->
      """WITH sel AS (
           SELECT c_custkey, c_nationkey, c_acctbal FROM customer
           WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
         t AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS s,
             COUNT(*) AS n FROM sel WHERE c_acctbal > 0)
         SELECT c_nationkey AS cntrycode, count(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
         FROM sel, t
         WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n > s
           AND NOT EXISTS (SELECT 1 FROM orders
             WHERE o_custkey = c_custkey AND o_totalprice > 450000)
         GROUP BY 1 ORDER BY 1""",

    // Q2 adapted (no partsupp): supply cost = MIN(l_extendedprice) per
    // observed (part, supplier) pair; correlated MIN kept literal here
    // so DuckDB exercises the canonical nested shape.
    "q_tpch_q2" ->
      """WITH ps AS (SELECT l_partkey AS pk, l_suppkey AS sk,
             MIN(l_extendedprice) AS supply_cost
           FROM lineitem GROUP BY 1, 2),
         eu AS (SELECT s_suppkey, s_acctbal, s_name, n_name
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE')
         SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
         FROM ps ps1 JOIN part ON pk = p_partkey JOIN eu ON sk = s_suppkey
         WHERE p_size <= 15 AND p_type = 'LARGE'
           AND supply_cost = (SELECT MIN(ps2.supply_cost)
             FROM ps ps2 JOIN eu eu2 ON ps2.sk = eu2.s_suppkey
             WHERE ps2.pk = ps1.pk)
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",

    "q_tpch_q8" ->
      """SELECT year(o_orderdate) AS o_year,
           ROUND(CAST(SUM(CASE WHEN sn.n_name = 'NATION_6'
               THEN CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(3,2))
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(3,2))) AS DOUBLE),
             6) AS mkt_share
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         JOIN region ON cn.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
           AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
         GROUP BY 1 ORDER BY 1""",

    // Q11 adapted (no partsupp): part value for a nation = exact sum of
    // that nation's lineitem extended prices; threshold = 1/1000 of the
    // nation total, compared as value*1000 > total (exact decimal).
    "q_tpch_q11" ->
      """WITH pv AS (SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS v
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_7' GROUP BY 1)
         SELECT l_partkey AS p_partkey, CAST(v AS DOUBLE) AS part_value
         FROM pv, (SELECT SUM(v) AS tot FROM pv)
         WHERE v * 1000 > tot
         ORDER BY part_value DESC, p_partkey""",

    // Q12 adapted (no shipmode/receipt): severity buckets under the
    // repo's late rule (>90d after order date; critical >180d).
    "q_tpch_q12" ->
      """SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 180 DAY
             THEN 'critical' ELSE 'late' END AS sev,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE year(l_shipdate) = 1997
           AND l_shipdate > o_orderdate + INTERVAL 90 DAY
         GROUP BY 1 ORDER BY 1""",

    "q_tpch_q15" ->
      """WITH rev AS (SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(3,2))) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= DATE '1997-01-01'
             AND l_shipdate < DATE '1997-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name,
           CAST(total_revenue AS DOUBLE) AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey,
           (SELECT MAX(total_revenue) AS mx FROM rev)
         WHERE total_revenue = mx
         ORDER BY s_suppkey""",

    // Q16 adapted (no partsupp/comment): pairs from lineitem; the
    // excluded suppliers are the negative-balance ones.
    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
           AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",

    // Q19 adapted (no shipmode/shipinstruct): three brand×size×qty
    // conjunctions OR'd across the part-lineitem join.
    "q_tpch_q19" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
             AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 10
             AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 20 AND 30)""",

    // Q20 adapted (no availqty): excess = supplier shipped more than
    // half a PROMO part's total 1997 quantity; nested-IN kept literal.
    "q_tpch_q20" ->
      """SELECT s_name, s_acctbal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_3' AND s_suppkey IN (
           SELECT l_suppkey FROM (
             SELECT l_suppkey,
               SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
               SUM(SUM(CAST(l_quantity AS DECIMAL(12,2))))
                 OVER (PARTITION BY l_partkey) AS tot
             FROM lineitem
             WHERE year(l_shipdate) = 1997 AND l_partkey IN
               (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
             GROUP BY l_partkey, l_suppkey)
           WHERE sq * 2 > tot)
         ORDER BY s_name""",

    "q_rolling_mean" ->
      """SELECT event_id, event_type,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE)
             / COUNT(*) OVER w, 6) AS roll_avg
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    // The salted recipe must be value-identical to the PLAIN unsalted
    // trailing window — the oracle is deliberately the same SQL as
    // q_rolling_mean's.
    "q_rolling_mean_salted" ->
      """SELECT event_id, event_type,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE)
             / COUNT(*) OVER w, 6) AS roll_avg
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    // DuckDB slices are 1-based inclusive and clamp at the end, matching
    // Spark's slice(arr, start, length) — same parity q_dedup_paragraph
    // relies on.
    "q_chunk_budget" ->
      s"""WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
          ch AS (SELECT doc_id, ws,
              unnest(generate_series(0,
                CAST(ceil(len(ws) / ${ChunkBudget}.0) AS INT) - 1)) AS chunk_idx
            FROM w),
          c AS (SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
              array_to_string(
                ws[chunk_idx*$ChunkBudget+1 : chunk_idx*$ChunkBudget+$ChunkBudget],
                ' ') AS text
            FROM ch)
          SELECT doc_id, chunk_idx, text,
            CAST(len(str_split(text, ' ')) AS INTEGER) AS n_tokens
          FROM c ORDER BY doc_id, chunk_idx""",

    // Same slicing chain as q_chunk_budget with stride-spaced starts;
    // a doc of <= size tokens is one chunk, the last chunk may run
    // short, starts past n never generate.
    "q_chunk_sliding" ->
      s"""WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
          ch AS (SELECT doc_id, ws,
              unnest(generate_series(0,
                CASE WHEN len(ws) <= $SlideSize THEN 0
                     ELSE CAST(ceil((len(ws) - $SlideSize) / ${SlideStride}.0) AS INT)
                END)) AS chunk_idx
            FROM w),
          c AS (SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
              array_to_string(
                ws[chunk_idx*$SlideStride+1 : chunk_idx*$SlideStride+$SlideSize],
                ' ') AS text
            FROM ch)
          SELECT doc_id, chunk_idx, text,
            CAST(len(str_split(text, ' ')) AS INTEGER) AS n_tokens
          FROM c ORDER BY doc_id, chunk_idx""",

    "q_rolling_std" ->
      s"""SELECT event_id, event_type,
            CASE WHEN n >= 2
              THEN ROUND(sqrt(greatest(n * sxx - sx * sx, 0.0) / (n * (n - 1))), 6)
            END AS roll_std
          FROM (SELECT event_id, event_type,
              CAST(COUNT(value) OVER w AS DOUBLE) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx,
              CAST(SUM(CAST(value AS DECIMAL(18,6))
                * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sxx
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
              ROWS BETWEEN ${RollCorrWindow - 1} PRECEDING AND CURRENT ROW))
          ORDER BY event_id""",

    // Same moment/closing arithmetic as Analytics.rollingCorr: exact
    // DECIMAL(18,6) window sums (products fit (38,12)) cast to double
    // once, then one double expression tree — every op correctly-rounded
    // IEEE, so the rounded corr hash-matches bit-for-bit. greatest(·, 0)
    // clamps the tiny negative variance double rounding can leave where
    // the exact value is 0 (a bare sqrt would give engine-dependent NaN).
    "q_rolling_corr" ->
      s"""WITH l AS (SELECT event_id, event_type, ts, value,
            lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id)
              AS value_lag
          FROM events),
          m AS (SELECT event_id, event_type,
            CAST(COUNT(CASE WHEN value IS NOT NULL AND value_lag IS NOT NULL
              THEN 1 END) OVER w AS DOUBLE) AS n,
            CAST(SUM(CASE WHEN value IS NOT NULL AND value_lag IS NOT NULL
              THEN CAST(value AS DECIMAL(18,6)) END) OVER w AS DOUBLE) AS sx,
            CAST(SUM(CASE WHEN value IS NOT NULL AND value_lag IS NOT NULL
              THEN CAST(value_lag AS DECIMAL(18,6)) END) OVER w AS DOUBLE) AS sy,
            CAST(SUM(CAST(value AS DECIMAL(18,6))
              * CAST(value_lag AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sxy,
            CAST(SUM(CASE WHEN value_lag IS NOT NULL
              THEN CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
              END) OVER w AS DOUBLE) AS sxx,
            CAST(SUM(CASE WHEN value IS NOT NULL
              THEN CAST(value_lag AS DECIMAL(18,6)) * CAST(value_lag AS DECIMAL(18,6))
              END) OVER w AS DOUBLE) AS syy
          FROM l
          WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
            ROWS BETWEEN ${RollCorrWindow - 1} PRECEDING AND CURRENT ROW))
          SELECT event_id, event_type,
            CASE WHEN n >= 2 AND sqrt(greatest(n * sxx - sx * sx, 0.0)
                * greatest(n * syy - sy * sy, 0.0)) > 0
              THEN ROUND((n * sxy - sx * sy)
                / sqrt(greatest(n * sxx - sx * sx, 0.0)
                     * greatest(n * syy - sy * sy, 0.0)), 6)
            END AS roll_corr
          FROM m ORDER BY event_id""",

    "q_drawdown" ->
      """SELECT event_id, event_type, value,
           MAX(value) OVER w AS peak,
           ROUND(value / MAX(value) OVER w - 1, 6) AS drawdown
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    "q_cum_return" ->
      """SELECT event_id, event_type,
           ROUND(value / FIRST_VALUE(value) OVER
             (PARTITION BY event_type ORDER BY ts, event_id) - 1, 6)
             AS cum_return
         FROM events ORDER BY event_id""",

    // open/close via per-bar window endpoints (DuckDB's arg_min/arg_max
    // take a single scalar ordering, so the (ts, event_id) tie-broken
    // endpoint needs the window form); the Spark side is the one-agg
    // min_by/max_by plan.
    "q_ohlc_bars" ->
      """WITH t AS (SELECT event_type AS symbol, CAST(ts AS DATE) AS day,
             value, user_id + 1 AS qty,
             FIRST_VALUE(value) OVER w AS o,
             LAST_VALUE(value) OVER (PARTITION BY event_type, CAST(ts AS DATE)
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
           FROM events
           WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE)
             ORDER BY ts, event_id))
         SELECT symbol, day, MIN(o) AS open, MAX(value) AS high,
           MIN(value) AS low, MIN(c) AS close,
           CAST(SUM(qty) AS BIGINT) AS volume,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))
               * CAST(qty AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(qty AS DECIMAL(18,6))) AS DOUBLE), 6) AS vwap
         FROM t GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_bollinger" ->
      s"""SELECT event_id, event_type,
            ROUND(sx / n, 6) AS bb_mid,
            CASE WHEN n >= 2 THEN ROUND(sx / n
              + 2.0 * sqrt(greatest(n * sxx - sx * sx, 0.0) / (n * (n - 1))), 6)
            END AS bb_upper,
            CASE WHEN n >= 2 THEN ROUND(sx / n
              - 2.0 * sqrt(greatest(n * sxx - sx * sx, 0.0) / (n * (n - 1))), 6)
            END AS bb_lower
          FROM (SELECT event_id, event_type,
              CAST(COUNT(value) OVER w AS DOUBLE) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx,
              CAST(SUM(CAST(value AS DECIMAL(18,6))
                * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sxx
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
              ROWS BETWEEN ${BollingerWindow - 1} PRECEDING AND CURRENT ROW))
          ORDER BY event_id""",

    "q_rsi" ->
      s"""WITH d AS (SELECT event_id, event_type, ts,
            CAST(value - LAG(value) OVER
              (PARTITION BY event_type ORDER BY ts, event_id)
              AS DECIMAL(18,6)) AS diff
          FROM events),
          m AS (SELECT event_id, event_type,
            SUM(CASE WHEN diff > 0 THEN diff
                ELSE CAST(0 AS DECIMAL(18,6)) END) OVER w AS sg,
            SUM(CASE WHEN diff < 0 THEN -diff
                ELSE CAST(0 AS DECIMAL(18,6)) END) OVER w AS sl
          FROM d
          WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
            ROWS BETWEEN ${RsiWindow - 1} PRECEDING AND CURRENT ROW))
          SELECT event_id, event_type,
            CASE WHEN sg + sl > 0
              THEN ROUND(100 * CAST(sg AS DOUBLE) / CAST(sg + sl AS DOUBLE), 6)
            END AS rsi
          FROM m ORDER BY event_id""",

    // Same row-hash render as q_table_checksum, grouped per partition
    // key on each snapshot, then a summary-level full outer join.
    "q_partition_diff" ->
      """WITH base AS (SELECT l_orderkey, l_linenumber, l_returnflag,
             l_linestatus, CAST(l_quantity AS DECIMAL(19,2)) AS qty
           FROM lineitem),
         v2 AS (SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
             CAST(CASE WHEN l_returnflag = 'R' THEN qty + 1 ELSE qty END
               AS DECIMAL(19,2)) AS qty
           FROM base WHERE NOT (l_returnflag = 'A' AND l_linestatus = 'F')
           UNION ALL
           SELECT i, 1, 'Z', 'Z', CAST(1 AS DECIMAL(19,2)) FROM range(5) t(i)),
         ca AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n_a,
             CAST(SUM(CAST(('0x' || substr(md5(concat_ws(chr(1),
                 COALESCE(CAST(l_orderkey AS VARCHAR), chr(2)),
                 COALESCE(CAST(l_linenumber AS VARCHAR), chr(2)),
                 COALESCE(CAST(qty AS VARCHAR), chr(2)))), 1, 12))
               AS BIGINT)) AS DECIMAL(38,0)) AS c
           FROM base GROUP BY 1, 2),
         cb AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n_b,
             CAST(SUM(CAST(('0x' || substr(md5(concat_ws(chr(1),
                 COALESCE(CAST(l_orderkey AS VARCHAR), chr(2)),
                 COALESCE(CAST(l_linenumber AS VARCHAR), chr(2)),
                 COALESCE(CAST(qty AS VARCHAR), chr(2)))), 1, 12))
               AS BIGINT)) AS DECIMAL(38,0)) AS c
           FROM v2 GROUP BY 1, 2),
         j AS (SELECT COALESCE(ca.l_returnflag, cb.l_returnflag) AS l_returnflag,
             COALESCE(ca.l_linestatus, cb.l_linestatus) AS l_linestatus,
             ca.n_a AS n_a, cb.n_b AS n_b,
             CASE WHEN cb.c IS NULL THEN 'removed'
                  WHEN ca.c IS NULL THEN 'added'
                  WHEN ca.c <> cb.c THEN 'changed' END AS status
           FROM ca FULL OUTER JOIN cb
             ON ca.l_returnflag = cb.l_returnflag
            AND ca.l_linestatus = cb.l_linestatus)
         SELECT * FROM j WHERE status IS NOT NULL
         ORDER BY l_returnflag, l_linestatus""",

    // Contract replay: same NULL-pred-is-violation semantics (CASE WHEN
    // <pred> THEN 0 ELSE 1 — a NULL compare falls to ELSE on both
    // engines); uniqueness counts only all-non-null key rows.
    "q_expectations" ->
      """SELECT rule, CAST(checked AS BIGINT) AS checked,
           CAST(violations AS BIGINT) AS violations,
           violations = 0 AS pass
         FROM (
           SELECT 'not_null(l_shipdate)' AS rule, count(*) AS checked,
             SUM(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END)
               AS violations FROM lineitem
           UNION ALL
           SELECT 'in_range(l_quantity)', count(*),
             SUM(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
               THEN 0 ELSE 1 END) FROM lineitem
           UNION ALL
           SELECT 'in_range(l_discount)', count(*),
             SUM(CASE WHEN l_discount >= 0 AND l_discount <= 0.1
               THEN 0 ELSE 1 END) FROM lineitem
           UNION ALL
           SELECT 'positive(l_extendedprice)', count(*),
             SUM(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END)
             FROM lineitem
           UNION ALL
           SELECT 'in_set(l_returnflag)', count(*),
             SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END)
             FROM lineitem
           UNION ALL
           SELECT 'unique(l_orderkey,l_linenumber)',
             count(CASE WHEN l_orderkey IS NOT NULL
               AND l_linenumber IS NOT NULL THEN 1 END),
             count(CASE WHEN l_orderkey IS NOT NULL
               AND l_linenumber IS NOT NULL THEN 1 END)
               - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem)
         ORDER BY rule""",

    "q_ref_integrity" ->
      """SELECT rule, CAST(checked AS BIGINT) AS checked,
           CAST(violations AS BIGINT) AS violations,
           violations = 0 AS pass
         FROM (
           SELECT 'ref(o_custkey -> c_custkey)' AS rule,
             count(*) AS checked,
             SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS violations
           FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             ON o_custkey = c_custkey
           WHERE o_custkey IS NOT NULL
           UNION ALL
           SELECT 'ref(l_orderkey -> o_orderkey)', count(*),
             SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
           FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
             ON l_orderkey = o_orderkey
           WHERE l_orderkey IS NOT NULL)
         ORDER BY rule""",

    // Per-column profile of orders; numeric min/max only (timestamps/
    // strings stay NULL by design — see the op's doc).
    "q_profile" ->
      """SELECT "column", CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_nulls AS BIGINT) AS n_nulls,
           CAST(n_distinct AS BIGINT) AS n_distinct, min_num, max_num
         FROM (
           SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
             SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_nulls,
             count(DISTINCT o_orderkey) AS n_distinct,
             CAST(min(o_orderkey) AS DOUBLE) AS min_num,
             CAST(max(o_orderkey) AS DOUBLE) AS max_num FROM orders
           UNION ALL
           SELECT 'o_custkey', count(*),
             SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT o_custkey),
             CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
           FROM orders
           UNION ALL
           SELECT 'o_orderstatus', count(*),
             SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT o_orderstatus), NULL, NULL FROM orders
           UNION ALL
           SELECT 'o_totalprice', count(*),
             SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT o_totalprice),
             CAST(min(o_totalprice) AS DOUBLE),
             CAST(max(o_totalprice) AS DOUBLE) FROM orders
           UNION ALL
           SELECT 'o_orderdate', count(*),
             SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT o_orderdate), NULL, NULL FROM orders
           UNION ALL
           SELECT 'o_orderpriority', count(*),
             SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT o_orderpriority), NULL, NULL FROM orders)
         ORDER BY "column"""",

    "q_linear_trend" ->
      """WITH r AS (SELECT event_type, value,
             CAST(ROW_NUMBER() OVER
               (PARTITION BY event_type ORDER BY ts, event_id)
               AS DECIMAL(12,0)) AS x,
             CAST(value AS DECIMAL(18,6)) AS y
           FROM events WHERE value IS NOT NULL),
         m AS (SELECT event_type, COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
           FROM r GROUP BY 1)
         SELECT event_type, n,
           CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
             THEN ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS slope,
           CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
             THEN ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
               / n, 6) END AS intercept,
           CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
                 AND greatest(n * syy - sy * sy, 0.0) > 0
             THEN ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
               / ((n * sxx - sx * sx) * greatest(n * syy - sy * sy, 0.0)), 6)
           END AS r2
         FROM m ORDER BY event_type""",

    "q_key_skew" ->
      s"""WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
          t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total,
                  CAST(COUNT(*) AS DOUBLE) AS nkeys FROM c)
          SELECT user_id, n, ROUND(n / total, 6) AS share,
            ROUND(n * nkeys / total, 6) AS skew
          FROM c, t ORDER BY n DESC, user_id LIMIT $SkewTopK""",

    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
           COALESCE(l_linestatus, 'ALL') AS status,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY flag, status""",

    "q_approx_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_2pct
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_agg_salted" ->
      """SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
           COUNT(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q_join_broadcast" ->
      """SELECT p_brand,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY 1""",

    "q_join_agg" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",

    "q_window_hourly" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_winsorize" ->
      """WITH b AS (SELECT event_type,
             ROUND(quantile_cont(value, 0.05), 6) AS lo,
             ROUND(quantile_cont(value, 0.95), 6) AS hi
           FROM events GROUP BY 1)
         SELECT event_id, e.event_type,
           CASE WHEN value IS NULL THEN NULL
                ELSE ROUND(LEAST(GREATEST(value, lo), hi), 6) END AS clipped
         FROM events e JOIN b ON e.event_type IS NOT DISTINCT FROM b.event_type
         ORDER BY event_id""",

    "q_join_salted" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1 ORDER BY 1""",

    // The bucketed layout must be INVISIBLE in the result: the oracle is
    // the plain join + group-by over the raw tables.
    "q_join_bucketed" ->
      """SELECT l_orderkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY l_orderkey""",

    // Exact bounds are engine-reproducible; the sketch side is asserted
    // as a rank-ε boolean (TRUE on the oracle side) — the
    // q_approx_distinct contract applied to approx_percentile.
    "q_winsorize_approx" ->
      """SELECT event_type,
           ROUND(quantile_cont(value, 0.05), 6) AS lo_exact,
           ROUND(quantile_cont(value, 0.95), 6) AS hi_exact,
           TRUE AS lo_within_eps, TRUE AS hi_within_eps
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_window_sliding" ->
      """WITH x AS (SELECT event_type, value,
             time_bucket(INTERVAL 15 MINUTE, ts) - (s.i * INTERVAL 15 MINUTE) AS bucket
           FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) s)
         SELECT bucket, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         FROM x GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_topk_per_group" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
           CAST(rn AS INTEGER) AS rn
         FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
           FROM lineitem) WHERE rn <= 3
         ORDER BY l_returnflag, rn""",

    "q_lang_id" -> {
      val scores = MarkerSql.map { case (code, arr) =>
        s"len(list_intersect(str_split(lower(text), ' '), $arr)) AS s_$code"
      }.mkString(", ")
      val best = MarkerSql.keys.map(c => s"s_$c").mkString("greatest(", ", ", ")")
      val pick = TextAnalysis.LangMarkers.map(_._1)
        .map(c => s"WHEN s_$c = best AND s_$c > 0 THEN '$c'").mkString(" ")
      s"""WITH sc AS (SELECT doc_id, $scores FROM documents),
          b AS (SELECT *, $best AS best FROM sc)
          SELECT doc_id, CASE $pick ELSE 'und' END AS pred_lang
          FROM b ORDER BY doc_id"""
    },

    // Same marker-score chain as q_lang_id, compared null-safely (IS
    // DISTINCT FROM == Spark's !(<=>)) against the stored label.
    "q_lang_audit" -> {
      val scores = MarkerSql.map { case (code, arr) =>
        s"len(list_intersect(str_split(lower(text), ' '), $arr)) AS s_$code"
      }.mkString(", ")
      val best = MarkerSql.keys.map(c => s"s_$c").mkString("greatest(", ", ", ")")
      val pick = TextAnalysis.LangMarkers.map(_._1)
        .map(c => s"WHEN s_$c = best AND s_$c > 0 THEN '$c'").mkString(" ")
      s"""WITH sc AS (SELECT doc_id, source, lang, $scores FROM documents),
          b AS (SELECT *, $best AS best FROM sc),
          p AS (SELECT doc_id, source, lang,
              CASE $pick ELSE 'und' END AS pred FROM b)
          SELECT source AS "group", count(*) AS n_docs,
            CAST(SUM(CASE WHEN pred IS DISTINCT FROM lang THEN 1 ELSE 0 END)
              AS BIGINT) AS n_mismatch,
            ROUND(CAST(SUM(CASE WHEN pred IS DISTINCT FROM lang
              THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS mismatch_rate
          FROM p GROUP BY source ORDER BY source"""
    },

    // Entropy terms: 6dp-rounded p·log2(p) per char, summed as exact
    // DECIMAL — order-free, so the GROUP BY form here equals the Spark
    // side's in-array fold term for term.
    "q_char_stats" ->
      """WITH p AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' éüñ'
               ELSE text END AS text
           FROM documents),
         c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM p),
         h AS (SELECT doc_id, ch, COUNT(*) AS cnt FROM c GROUP BY 1, 2),
         e AS (SELECT h.doc_id,
             CAST(-SUM(CAST(ROUND(
               (CAST(cnt AS DOUBLE) / length(p.text))
                 * log2(CAST(cnt AS DOUBLE) / length(p.text)), 6)
               AS DECIMAL(18,6))) AS DOUBLE) AS entropy
           FROM h JOIN p ON h.doc_id = p.doc_id GROUP BY 1)
         SELECT p.doc_id,
           CASE WHEN length(p.text) > 0 THEN e.entropy END AS entropy,
           CASE WHEN length(p.text) > 0 THEN ROUND(
             CAST(length(p.text) - length(regexp_replace(p.text,
               '[^\x20-\x7E]', '', 'g')) AS DOUBLE) / length(p.text), 6)
           END AS non_printable
         FROM p LEFT JOIN e ON p.doc_id = e.doc_id
         ORDER BY p.doc_id""",

    "q_quality_score" -> {
      val en = MarkerSql("en")
      s"""WITH t AS (SELECT doc_id, text,
            len(str_split(text, ' ')) AS n_words,
            CAST(len(list_filter(str_split(lower(text), ' '),
              w -> list_contains($en, w))) AS DOUBLE)
              / len(str_split(lower(text), ' ')) AS stop_ratio,
            CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
              / length(text) AS digit_ratio
          FROM documents)
          SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, stop_ratio, digit_ratio,
            least(1.0, CAST(n_words AS DOUBLE) / 100) * (1.0 - digit_ratio) AS quality
          FROM t ORDER BY doc_id"""
    },

    "q_token_count" ->
      """SELECT doc_id, CAST(len(str_split(text, ' ')) AS INTEGER) AS n_ws,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe
         FROM documents ORDER BY doc_id""",

    "q_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(
           list_filter(str_split(lower(text), ' '), w -> w <> ''), ' ')) AS fp
         FROM documents ORDER BY doc_id""",

    "q_length_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
           ROUND(quantile_cont(n_chars, 0.25), 6) AS p25,
           ROUND(quantile_cont(n_chars, 0.50), 6) AS p50,
           ROUND(quantile_cont(n_chars, 0.75), 6) AS p75
         FROM documents GROUP BY 1 ORDER BY 1""",

    "q_clean_text" ->
      """WITH noised AS (SELECT doc_id,
           CASE WHEN doc_id % 10 = 0
             THEN text || ' see https://ex.com/a?b=1 or mail bob@ex.com now'
             ELSE text END AS noisy
         FROM documents)
         SELECT doc_id, trim(regexp_replace(
             regexp_replace(
               regexp_replace(noisy, 'https?://\S+', '<URL>', 'g'),
               '\S+@\S+', '<EMAIL>', 'g'),
             ' +', ' ', 'g')) AS clean
         FROM noised ORDER BY doc_id""",

    "q_gopher_rules" ->
      """WITH t AS (SELECT doc_id,
           len(str_split(text, ' ')) AS n_words,
           ROUND((length(text) - (len(str_split(text, ' ')) - 1.0))
             / len(str_split(text, ' ')), 6) AS mean_wlen,
           ROUND(1.0 - CAST(len(list_distinct(str_split(lower(text), ' '))) AS DOUBLE)
             / len(str_split(lower(text), ' ')), 6) AS rep_ratio
         FROM documents)
         SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, mean_wlen, rep_ratio,
           (n_words BETWEEN 50 AND 100000) AND (mean_wlen BETWEEN 3 AND 10)
             AND rep_ratio < 0.5 AS keep
         FROM t ORDER BY doc_id""",

    // Chunking mirrors q_dedup_paragraph's (DuckDB slices are 1-based
    // inclusive and clamp, matching Spark's slice(arr, start, length));
    // the two fractions are pure list arithmetic over the chunk array.
    "q_rep_lines" ->
      s"""WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
          ch AS (SELECT doc_id,
              list_transform(
                generate_series(0, CAST(ceil(len(ws) / ${ParaChunkWords}.0) AS INT) - 1),
                i -> array_to_string(
                  ws[i*$ParaChunkWords+1 : i*$ParaChunkWords+$ParaChunkWords], ' '))
                AS chunks
            FROM w)
          SELECT doc_id,
            ROUND(CAST(len(chunks) - len(list_distinct(chunks)) AS DOUBLE)
              / len(chunks), 6) AS dup_line_frac,
            ROUND(CAST(list_sum(list_transform(chunks, x -> length(x)))
                - list_sum(list_transform(list_distinct(chunks), x -> length(x)))
                AS DOUBLE)
              / list_sum(list_transform(chunks, x -> length(x))), 6)
              AS dup_line_char_frac
          FROM ch ORDER BY doc_id""",

    "q_rep_ngram_top" ->
      s"""${ngramRepSql(RepTopN)}
          SELECT d.doc_id, COALESCE(a.top_frac, 0.0) AS top_frac
          FROM documents d LEFT JOIN a USING (doc_id) ORDER BY doc_id""",

    "q_rep_ngram_dup" ->
      s"""${ngramRepSql(RepDupN)}
          SELECT d.doc_id, COALESCE(a.dup_frac, 0.0) AS dup_frac
          FROM documents d LEFT JOIN a USING (doc_id) ORDER BY doc_id""",

    "q_tfidf" ->
      """WITH w AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS word
             FROM documents),
           tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
           dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
           n AS (SELECT COUNT(*) AS n FROM documents),
           s AS (SELECT doc_id, tf.word AS word,
               ROUND(CAST(tf AS DOUBLE) * (n + 1) / (df + 1), 6) AS score
             FROM tf JOIN dfreq ON tf.word = dfreq.word CROSS JOIN n)
         SELECT doc_id, word, score,
           CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, word) AS INTEGER) AS rank
         FROM s QUALIFY rank <= 3 ORDER BY doc_id, rank""",

    "q_dedup_exact" ->
      """SELECT doc_id, n_chars FROM documents
         QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
         ORDER BY doc_id""",

    "q_nfc_normalize" ->
      """SELECT doc_id, md5(nfc_normalize(text)) AS nfc_hash,
           CAST(length(nfc_normalize(text)) AS INTEGER) AS nfc_len
         FROM documents ORDER BY doc_id""",

    "q_edit_dup_pairs" ->
      s"""WITH d AS (SELECT doc_id, substr(text, 1, 60) AS head FROM documents),
          sig AS (SELECT doc_id, head,
            ${(0 until 4).map(i => minhashSqlColOf(i, "head")).mkString(", ")}
            FROM d),
          bands AS (
            SELECT doc_id, 0 AS band_id, md5(concat_ws('|', mh0, mh1)) AS band_hash FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band_id, md5(concat_ws('|', mh2, mh3)) AS band_hash FROM sig),
          cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r USING (band_id, band_hash)
            WHERE l.doc_id < r.doc_id)
          SELECT a, b FROM cand
          JOIN d da ON cand.a = da.doc_id
          JOIN d db ON cand.b = db.doc_id
          WHERE levenshtein(da.head, db.head) <= $EditDupMaxDist
          ORDER BY a, b""",

    "q_minhash_sig" ->
      s"""SELECT doc_id, ${(0 until 4).map(minhashSqlCol).mkString(", ")}
          FROM documents ORDER BY doc_id""",

    "q_lsh_pairs" ->
      s"""WITH sig AS (SELECT doc_id,
            ${(0 until 4).map(minhashSqlCol).mkString(", ")} FROM documents),
          bands AS (
            SELECT doc_id, 0 AS band_id, md5(concat_ws('|', mh0, mh1)) AS band_hash FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band_id, md5(concat_ws('|', mh2, mh3)) AS band_hash FROM sig)
          SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
          FROM bands l JOIN bands r USING (band_id, band_hash)
          WHERE l.doc_id < r.doc_id ORDER BY a, b""",

    "q_jaccard_pairs" ->
      s"""WITH sig AS (SELECT doc_id,
            ${(0 until 4).map(minhashSqlCol).mkString(", ")} FROM documents),
          bands AS (
            SELECT doc_id, 0 AS band_id, md5(concat_ws('|', mh0, mh1)) AS band_hash FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band_id, md5(concat_ws('|', mh2, mh3)) AS band_hash FROM sig),
          pairs AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r USING (band_id, band_hash)
            WHERE l.doc_id < r.doc_id)
          SELECT a, b, ROUND(
            CAST(len(list_intersect(list_distinct(str_split(lower(da.text), ' ')),
                                    list_distinct(str_split(lower(db.text), ' ')))) AS DOUBLE)
            / len(list_distinct(list_concat(list_distinct(str_split(lower(da.text), ' ')),
                                            list_distinct(str_split(lower(db.text), ' '))))), 6) AS jac
          FROM pairs JOIN documents da ON pairs.a = da.doc_id
                     JOIN documents db ON pairs.b = db.doc_id
          ORDER BY a, b""",

    "q_curation_pipeline" ->
      s"""WITH q AS (SELECT doc_id, text, source FROM documents
            WHERE len(str_split(text, ' ')) BETWEEN 20 AND 100000
              AND ROUND(1.0 - CAST(len(list_distinct(str_split(lower(text), ' '))) AS DOUBLE)
                / len(str_split(lower(text), ' ')), 6) < 0.8),
          sig AS (SELECT doc_id, ${(0 until 4).map(minhashSqlCol).mkString(", ")} FROM q),
          bands AS (
            SELECT doc_id, 0 AS band_id, md5(concat_ws('|', mh0, mh1)) AS band_hash FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band_id, md5(concat_ws('|', mh2, mh3)) AS band_hash FROM sig),
          pairs AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r USING (band_id, band_hash)
            WHERE l.doc_id < r.doc_id),
          verified AS (
            SELECT a, b FROM pairs
            JOIN q da ON pairs.a = da.doc_id
            JOIN q db ON pairs.b = db.doc_id
            WHERE ROUND(
              CAST(len(list_intersect(list_distinct(str_split(lower(da.text), ' ')),
                                      list_distinct(str_split(lower(db.text), ' ')))) AS DOUBLE)
              / len(list_distinct(list_concat(list_distinct(str_split(lower(da.text), ' ')),
                                              list_distinct(str_split(lower(db.text), ' '))))), 6)
              >= $NearDupJaccard),
          dedup AS (SELECT doc_id, source FROM q
            WHERE doc_id NOT IN (SELECT b FROM verified)),
          sampled AS (SELECT doc_id, source FROM dedup
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
              < CASE WHEN source = 'src0' THEN 80 WHEN source = 'src1' THEN 80
                     WHEN source = 'src2' THEN 10 ELSE 50 END)
          SELECT doc_id, source,
            CASE WHEN b2 < 90 THEN 'train' WHEN b2 < 95 THEN 'val' ELSE 'test' END AS split
          FROM (SELECT doc_id, source,
              CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 8)) AS BIGINT) % 100 AS b2
            FROM sampled)
          ORDER BY doc_id""",

    // Same CTE chain as q_curation_pipeline up through `verified`, then
    // every doc classified by its FIRST failing stage.
    "q_curation_fates" ->
      s"""WITH q AS (SELECT doc_id, text, source FROM documents
            WHERE len(str_split(text, ' ')) BETWEEN 20 AND 100000
              AND ROUND(1.0 - CAST(len(list_distinct(str_split(lower(text), ' '))) AS DOUBLE)
                / len(str_split(lower(text), ' ')), 6) < 0.8),
          sig AS (SELECT doc_id, ${(0 until 4).map(minhashSqlCol).mkString(", ")} FROM q),
          bands AS (
            SELECT doc_id, 0 AS band_id, md5(concat_ws('|', mh0, mh1)) AS band_hash FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band_id, md5(concat_ws('|', mh2, mh3)) AS band_hash FROM sig),
          pairs AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r USING (band_id, band_hash)
            WHERE l.doc_id < r.doc_id),
          verified AS (
            SELECT a, b FROM pairs
            JOIN q da ON pairs.a = da.doc_id
            JOIN q db ON pairs.b = db.doc_id
            WHERE ROUND(
              CAST(len(list_intersect(list_distinct(str_split(lower(da.text), ' ')),
                                      list_distinct(str_split(lower(db.text), ' ')))) AS DOUBLE)
              / len(list_distinct(list_concat(list_distinct(str_split(lower(da.text), ' ')),
                                              list_distinct(str_split(lower(db.text), ' '))))), 6)
              >= $NearDupJaccard)
          SELECT d.doc_id, d.source,
            CASE WHEN NOT (len(str_split(d.text, ' ')) BETWEEN 20 AND 100000)
                   THEN 'length'
                 WHEN NOT (ROUND(1.0 - CAST(len(list_distinct(str_split(lower(d.text), ' '))) AS DOUBLE)
                     / len(str_split(lower(d.text), ' ')), 6) < 0.8)
                   THEN 'repetitious'
                 WHEN d.doc_id IN (SELECT b FROM verified) THEN 'near_dup'
                 ELSE 'kept' END AS fate
          FROM documents d ORDER BY doc_id""",

    "q_dedup_near" ->
      s"""WITH sig AS (SELECT doc_id,
            ${(0 until 4).map(minhashSqlCol).mkString(", ")} FROM documents),
          bands AS (
            SELECT doc_id, 0 AS band_id, md5(concat_ws('|', mh0, mh1)) AS band_hash FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band_id, md5(concat_ws('|', mh2, mh3)) AS band_hash FROM sig),
          pairs AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r USING (band_id, band_hash)
            WHERE l.doc_id < r.doc_id),
          verified AS (
            SELECT a, b FROM pairs
            JOIN documents da ON pairs.a = da.doc_id
            JOIN documents db ON pairs.b = db.doc_id
            WHERE ROUND(
              CAST(len(list_intersect(list_distinct(str_split(lower(da.text), ' ')),
                                      list_distinct(str_split(lower(db.text), ' ')))) AS DOUBLE)
              / len(list_distinct(list_concat(list_distinct(str_split(lower(da.text), ' ')),
                                              list_distinct(str_split(lower(db.text), ' '))))), 6)
              >= $NearDupJaccard)
          SELECT doc_id, n_chars FROM documents
          WHERE doc_id NOT IN (SELECT b FROM verified)
          ORDER BY doc_id""",

    "q_simhash" -> simhashSql,

    "q_simhash_wide" -> simhashWideSql,

    "q_simhash_wide_pairs" -> simhashWidePairsSql,

    "q_simhash_pairs" ->
      s"""WITH $simhashCtes,
          bandids AS (SELECT unnest(generate_series(0, 3)) AS band_id),
          banded AS (SELECT doc_id, simhash, band_id,
              (simhash >> (band_id * ${SimhashBits / 4})) & ${(1L << (SimhashBits / 4)) - 1} AS slice
            FROM sig CROSS JOIN bandids),
          cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
              CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
            FROM banded l JOIN banded r USING (band_id, slice)
            WHERE l.doc_id < r.doc_id)
          SELECT a, b, hamming FROM cand WHERE hamming <= 3 ORDER BY a, b""",

    // Connected components over the simhash near-dup DOC graph (the
    // oracle may expand pairs — it is the 500-doc referee, not the scale
    // path): same banding as q_simhash_pairs, then the same recursive-CTE
    // min-label CC as the q_dup_clusters oracle.
    "q_dup_clusters_sig" ->
      s"""WITH RECURSIVE $simhashCtes,
          bandids AS (SELECT unnest(generate_series(0, 3)) AS band_id),
          banded AS (SELECT doc_id, simhash, band_id,
              (simhash >> (band_id * ${SimhashBits / 4})) & ${(1L << (SimhashBits / 4)) - 1} AS slice
            FROM sig CROSS JOIN bandids),
          pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM banded l JOIN banded r USING (band_id, slice)
            WHERE l.doc_id < r.doc_id
              AND bit_count(xor(l.simhash, r.simhash)) <= 3),
          edges AS (SELECT a AS src, b AS dst FROM pairs
            UNION SELECT b AS src, a AS dst FROM pairs),
          cc AS (
            SELECT DISTINCT src AS node, src AS label FROM edges
            UNION
            SELECT e.dst AS node, cc.label FROM cc JOIN edges e ON cc.node = e.src)
          SELECT node AS doc_id, MIN(label) AS cluster_id
          FROM cc GROUP BY node ORDER BY doc_id""",

    "q_ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 5)
          SELECT q_id, vec_id, ${cosSql("q_vec", "embedding")} AS cos,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY ${cosSql("q_vec", "embedding")} DESC, vec_id) AS INTEGER) AS rank
          FROM embeddings CROSS JOIN q
          QUALIFY rank <= 5 ORDER BY q_id, rank""",

    // Truth = brute-force top-3, result = the full IVF Lloyd chain's
    // top-3; per-query hit counting over the two bounded tables.
    "q_ann_recall" ->
      s"""WITH res0 AS ($IvfLloydOracleSql),
          tr0 AS (SELECT q_id, vec_id,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY ${cosSql("q_vec", "embedding")} DESC, vec_id)
                AS INTEGER) AS rank
            FROM embeddings CROSS JOIN
              (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5) q
            QUALIFY rank <= 3),
          r AS (SELECT q_id, vec_id FROM res0 WHERE rank <= 3)
          SELECT tr0.q_id, COUNT(*) AS n_truth,
            CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit,
            ROUND(CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / COUNT(*), 6) AS recall
          FROM tr0 LEFT JOIN r
            ON tr0.q_id = r.q_id AND tr0.vec_id = r.vec_id
          GROUP BY tr0.q_id ORDER BY tr0.q_id""",

    "q_embed_rp" ->
      s"""WITH p AS (SELECT vec_id, ${rpProjSql("embedding")} AS projected
               FROM embeddings)
          SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim_idx,
            projected[i] AS value
          FROM p CROSS JOIN generate_series(1, ${RpPlanes.size}) AS t(i)
          ORDER BY vec_id, dim_idx""",

    // Per-dimension means re-derived with the same 6dp-round →
    // DECIMAL(25,6) sum → one double divide ladder the Spark op pins.
    "q_embed_center" ->
      s"""WITH $centerCtes
          SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim_idx,
            centered[i] AS value,
            ROUND(sqrt(list_dot_product(centered, centered)), 6) AS centered_norm
          FROM c CROSS JOIN generate_series(1, $AnnDim) AS t(i)
          ORDER BY vec_id, dim_idx""",

    // Centering's retrieval effect, measured: centered-space exact top-3
    // vs raw-space exact top-3, the recall@k close over both chains.
    "q_center_recall" ->
      s"""WITH $centerCtes,
          tr AS (SELECT q_id, vec_id,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY ${cosSql("q_vec", "embedding")} DESC, vec_id)
                AS INTEGER) AS rank
            FROM embeddings CROSS JOIN
              (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5) q
            QUALIFY rank <= 3),
          rc AS (SELECT q_id, vec_id,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY ${cosSql("q_vec", "centered")} DESC, vec_id)
                AS INTEGER) AS rank
            FROM c CROSS JOIN
              (SELECT vec_id AS q_id, centered AS q_vec FROM c
               WHERE vec_id < 5) q
            QUALIFY rank <= 3)
          SELECT tr.q_id, COUNT(*) AS n_truth,
            CAST(SUM(CASE WHEN rc.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit,
            ROUND(CAST(SUM(CASE WHEN rc.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / COUNT(*), 6) AS recall
          FROM tr LEFT JOIN rc
            ON tr.q_id = rc.q_id AND tr.vec_id = rc.vec_id
          GROUP BY tr.q_id ORDER BY tr.q_id""",

    // scoreDrift's smoothing ladder with k = |category union| as the
    // bin count; the same single psi expression tree.
    "q_category_drift" ->
      """WITH ca AS (SELECT event_type AS category, COUNT(*) AS n_a
            FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
            GROUP BY 1),
          cb AS (SELECT event_type AS category, COUNT(*) AS n_b
            FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
            GROUP BY 1),
          j AS (SELECT category, n_a, n_b FROM ca FULL JOIN cb USING (category)),
          k AS (SELECT CAST(COUNT(*) AS BIGINT) AS kk FROM j),
          ta AS (SELECT CAST(SUM(n_a) AS BIGINT) AS t FROM ca),
          tb AS (SELECT CAST(SUM(n_b) AS BIGINT) AS t FROM cb)
          SELECT category,
            CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
            CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
            ROUND(CAST(COALESCE(n_a, 0) + 1 AS DOUBLE)
              / CAST(ta.t + k.kk AS DOUBLE), 6) AS share_a,
            ROUND(CAST(COALESCE(n_b, 0) + 1 AS DOUBLE)
              / CAST(tb.t + k.kk AS DOUBLE), 6) AS share_b,
            ROUND((CAST(COALESCE(n_a, 0) + 1 AS DOUBLE)
                / CAST(ta.t + k.kk AS DOUBLE)
              - CAST(COALESCE(n_b, 0) + 1 AS DOUBLE)
                / CAST(tb.t + k.kk AS DOUBLE))
              * ln((CAST(COALESCE(n_a, 0) + 1 AS DOUBLE)
                  / CAST(ta.t + k.kk AS DOUBLE))
                / (CAST(COALESCE(n_b, 0) + 1 AS DOUBLE)
                  / CAST(tb.t + k.kk AS DOUBLE))), 6) AS psi_contrib
          FROM j CROSS JOIN k CROSS JOIN ta CROSS JOIN tb
          ORDER BY category""",

    "q_event_transitions" ->
      """WITH t AS (SELECT event_type AS from_type,
            lead(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS to_type
          FROM events),
          c AS (SELECT from_type, to_type, COUNT(*) AS n
            FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
          SELECT from_type, to_type, n,
            ROUND(CAST(n AS DOUBLE) /
              SUM(n) OVER (PARTITION BY from_type), 6) AS p
          FROM c ORDER BY from_type, to_type""",

    "q_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         FROM events GROUP BY 1 ORDER BY k""",

    // Same power-sum ladder and the same +,−,×,÷,sqrt-only closing tree
    // as Analytics.momentStats (no pow() — libm last-ulp hazard).
    "q_moment_stats" ->
      """WITH s AS (SELECT event_type,
            COUNT(value) AS n,
            CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE), 6)
              AS DECIMAL(38,6))) AS DOUBLE) AS s1,
            CAST(SUM(CAST(ROUND(ROUND(CAST(value AS DOUBLE), 6)
              * ROUND(CAST(value AS DOUBLE), 6), 6)
              AS DECIMAL(38,6))) AS DOUBLE) AS s2,
            CAST(SUM(CAST(ROUND(ROUND(CAST(value AS DOUBLE), 6)
              * ROUND(CAST(value AS DOUBLE), 6)
              * ROUND(CAST(value AS DOUBLE), 6), 6)
              AS DECIMAL(38,6))) AS DOUBLE) AS s3,
            CAST(SUM(CAST(ROUND(ROUND(CAST(value AS DOUBLE), 6)
              * ROUND(CAST(value AS DOUBLE), 6)
              * ROUND(CAST(value AS DOUBLE), 6)
              * ROUND(CAST(value AS DOUBLE), 6), 6)
              AS DECIMAL(38,6))) AS DOUBLE) AS s4
          FROM events GROUP BY event_type),
          c AS (SELECT event_type, n,
            CAST(n AS DOUBLE) AS nd, s1, s2, s3, s4,
            s1 / CAST(n AS DOUBLE) AS mean,
            s2 / CAST(n AS DOUBLE)
              - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m2
          FROM s)
          SELECT event_type, n,
            ROUND(mean, 6) AS mean,
            ROUND(m2, 6) AS variance,
            CASE WHEN n >= 2 AND m2 > 0 THEN
              ROUND((s3 / nd - 3.0 * mean * (s2 / nd)
                + 2.0 * mean * mean * mean) / (sqrt(m2) * m2), 6)
            END AS skewness,
            CASE WHEN n >= 2 AND m2 > 0 THEN
              ROUND((s4 / nd - 4.0 * mean * (s3 / nd)
                + 6.0 * mean * mean * (s2 / nd)
                - 3.0 * mean * mean * mean * mean) / (m2 * m2) - 3.0, 6)
            END AS kurtosis_excess
          FROM c ORDER BY event_type""",

    // Native ASOF match, then the 1-day age gate as a CASE — the same
    // null-after-match rule the Spark op applies.
    "q_asof_tolerance" ->
      """SELECT l.event_id, l.user_id,
           CASE WHEN l.ts - r.ts <= INTERVAL 1 DAY THEN r.value END AS sig_val
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase') l
         ASOF LEFT JOIN
              (SELECT user_id, ts, value FROM events
               WHERE event_type = 'signup') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY event_id""",

    // Same moment ladder as q_rolling_std; z and its flag close over the
    // ROUNDED value so both engines compare the identical double.
    "q_anomaly_zscore" ->
      s"""SELECT event_id, event_type,
            CASE WHEN n >= 2 AND
                sqrt(greatest(n * sxx - sx * sx, 0.0) / (n * (n - 1))) > 0
              THEN ROUND((CAST(value AS DOUBLE) - sx / n)
                / sqrt(greatest(n * sxx - sx * sx, 0.0) / (n * (n - 1))), 6)
            END AS zscore,
            abs(CASE WHEN n >= 2 AND
                sqrt(greatest(n * sxx - sx * sx, 0.0) / (n * (n - 1))) > 0
              THEN ROUND((CAST(value AS DOUBLE) - sx / n)
                / sqrt(greatest(n * sxx - sx * sx, 0.0) / (n * (n - 1))), 6)
            END) > 3.0 AS zscore_anomaly
          FROM (SELECT event_id, event_type, value,
              CAST(COUNT(value) OVER w AS DOUBLE) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx,
              CAST(SUM(CAST(value AS DECIMAL(18,6))
                * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sxx
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
              ROWS BETWEEN ${ZScoreWindow - 1} PRECEDING AND CURRENT ROW))
          ORDER BY event_id""",

    // Attribution replayed with correlated min/max subqueries (the
    // oracle needn't be scale-shaped); ORDER BY ts, event_type mirrors
    // the op's lexicographic struct(ts, label) tie-break exactly.
    "q_attribution" ->
      """WITH conv AS (SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase'),
          tch AS (SELECT user_id, ts, event_type FROM events
            WHERE event_type IN ('click', 'view', 'signup'))
          SELECT c.event_id, c.user_id,
            (SELECT t.event_type FROM tch t WHERE t.user_id = c.user_id
               AND t.ts <= c.ts AND t.ts >= c.ts - INTERVAL 3 DAY
               ORDER BY t.ts, t.event_type LIMIT 1) AS first_touch,
            (SELECT t.event_type FROM tch t WHERE t.user_id = c.user_id
               AND t.ts <= c.ts AND t.ts >= c.ts - INTERVAL 3 DAY
               ORDER BY t.ts DESC, t.event_type DESC LIMIT 1) AS last_touch
          FROM conv c ORDER BY c.event_id""",

    "q_attribution_report" ->
      """WITH conv AS (SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'purchase'),
          tch AS (SELECT user_id, ts, event_type FROM events
            WHERE event_type IN ('click', 'view', 'signup')),
          attr AS (SELECT c.event_id, c.value,
            (SELECT t.event_type FROM tch t WHERE t.user_id = c.user_id
               AND t.ts <= c.ts AND t.ts >= c.ts - INTERVAL 3 DAY
               ORDER BY t.ts DESC, t.event_type DESC LIMIT 1) AS last_touch
          FROM conv c)
          SELECT COALESCE(last_touch, '(none)') AS channel,
            CAST(count(*) AS BIGINT) AS conversions,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          FROM attr GROUP BY 1 ORDER BY 1""",

    // Linear credit via the naive conversion×touch pair join (fine in
    // DuckDB at sf0.01; the Spark side must NEVER take this shape).
    // Double ops mirror the operator expression order exactly; credits
    // round to 6dp then sum as DECIMAL(20,6).
    "q_attr_linear" ->
      """WITH conv AS (SELECT event_id AS cid, user_id, ts AS cts, value
            FROM events WHERE event_type = 'purchase'),
          tch AS (SELECT user_id, ts AS tts, event_type AS ch FROM events
            WHERE event_type IN ('click', 'view', 'signup')),
          p AS (SELECT cid, value, ch FROM conv JOIN tch USING (user_id)
            WHERE tts <= cts AND tts >= cts - INTERVAL 3 DAY),
          n AS (SELECT cid, count(*) AS nn FROM p GROUP BY 1),
          cr AS (SELECT p.cid, p.ch,
              ROUND(any_value(p.value) * count(*) / any_value(n.nn), 6) AS rc
            FROM p JOIN n USING (cid) GROUP BY p.cid, p.ch),
          att AS (SELECT ch AS channel, CAST(count(*) AS BIGINT) AS conversions,
              CAST(SUM(CAST(rc AS DECIMAL(20,6))) AS DOUBLE) AS credit
            FROM cr WHERE rc > 0 GROUP BY 1),
          un AS (SELECT '(none)' AS channel,
              CAST(count(*) AS BIGINT) AS conversions,
              CAST(SUM(COALESCE(CAST(ROUND(value, 6) AS DECIMAL(20,6)), 0)) AS DOUBLE) AS credit
            FROM conv c WHERE NOT EXISTS (SELECT 1 FROM tch t
              WHERE t.user_id = c.user_id AND t.tts <= c.cts
                AND t.tts >= c.cts - INTERVAL 3 DAY)
            HAVING count(*) > 0)
          SELECT * FROM att UNION ALL SELECT * FROM un ORDER BY channel""",

    // U-shaped 40/20/40: first/last tie-break is (ts, label) /
    // (ts DESC, label DESC) — the operator's struct min/max order.
    "q_attr_position" ->
      """WITH conv AS (SELECT event_id AS cid, user_id, ts AS cts, value
            FROM events WHERE event_type = 'purchase'),
          tch AS (SELECT user_id, ts AS tts, event_type AS ch FROM events
            WHERE event_type IN ('click', 'view', 'signup')),
          p AS (SELECT cid, value, ch, tts FROM conv JOIN tch USING (user_id)
            WHERE tts <= cts AND tts >= cts - INTERVAL 3 DAY),
          fl AS (SELECT cid, value, ch,
              count(*) OVER (PARTITION BY cid) AS nn,
              first_value(ch) OVER (PARTITION BY cid ORDER BY tts, ch) AS fch,
              first_value(ch) OVER (PARTITION BY cid ORDER BY tts DESC, ch DESC) AS lch
            FROM p),
          g AS (SELECT cid, ch, any_value(value) AS v, any_value(nn) AS nn,
              count(*) AS nc, any_value(fch) AS fch, any_value(lch) AS lch
            FROM fl GROUP BY cid, ch),
          cr AS (SELECT cid, ch, ROUND(CASE
              WHEN nn = 1 THEN v * (CASE WHEN fch = ch THEN 1.0 ELSE 0.0 END)
              WHEN nn = 2 THEN
                v * 0.5 * (CASE WHEN fch = ch THEN 1.0 ELSE 0.0 END)
                + v * 0.5 * (CASE WHEN lch = ch THEN 1.0 ELSE 0.0 END)
              ELSE v * 0.4 * (CASE WHEN fch = ch THEN 1.0 ELSE 0.0 END)
                + v * 0.4 * (CASE WHEN lch = ch THEN 1.0 ELSE 0.0 END)
                + v * 0.2 * (nc - (CASE WHEN fch = ch THEN 1.0 ELSE 0.0 END)
                  - (CASE WHEN lch = ch THEN 1.0 ELSE 0.0 END)) / (nn - 2)
              END, 6) AS rc FROM g),
          att AS (SELECT ch AS channel, CAST(count(*) AS BIGINT) AS conversions,
              CAST(SUM(CAST(rc AS DECIMAL(20,6))) AS DOUBLE) AS credit
            FROM cr WHERE rc > 0 GROUP BY 1),
          un AS (SELECT '(none)' AS channel,
              CAST(count(*) AS BIGINT) AS conversions,
              CAST(SUM(COALESCE(CAST(ROUND(value, 6) AS DECIMAL(20,6)), 0)) AS DOUBLE) AS credit
            FROM conv c WHERE NOT EXISTS (SELECT 1 FROM tch t
              WHERE t.user_id = c.user_id AND t.tts <= c.cts
                AND t.tts >= c.cts - INTERVAL 3 DAY)
            HAVING count(*) > 0)
          SELECT * FROM att UNION ALL SELECT * FROM un ORDER BY channel""",

    // Journey chain replay: same prior-conversion journey split, same
    // lag/terminal semantics, exact integer counts.
    "q_markov_transitions" ->
      """WITH e AS (SELECT user_id AS u, ts, event_id AS tie,
            event_type = 'purchase' AS conv,
            CASE WHEN event_type = 'purchase' THEN '(conv)'
              ELSE event_type END AS st
          FROM events
          WHERE event_type IN ('click', 'view', 'signup', 'purchase')),
         j AS (SELECT *, COALESCE(SUM(CASE WHEN conv THEN 1 ELSE 0 END)
             OVER (PARTITION BY u ORDER BY ts, tie
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid
           FROM e),
         s AS (SELECT *,
             COALESCE(LAG(st) OVER (PARTITION BY u, jid ORDER BY ts, tie),
               '(start)') AS frm,
             ROW_NUMBER() OVER (PARTITION BY u, jid ORDER BY ts, tie) AS rn,
             COUNT(*) OVER (PARTITION BY u, jid) AS cnt
           FROM j),
         pairs AS (
           SELECT frm AS f, st AS t FROM s
           UNION ALL
           SELECT st AS f, '(null)' AS t FROM s WHERE rn = cnt AND NOT conv)
         SELECT f AS from_state, t AS to_state,
           CAST(count(*) AS BIGINT) AS n
         FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""",

    // Half-life bucket decay: weight = 2^-(conv_bucket - touch_bucket)
    // with day buckets of the epoch-micros line — exact powers of two,
    // so the pair-join sum here equals the operator's windowed
    // residue-count reconstruction bit-for-bit.
    "q_attr_decay" ->
      """WITH conv AS (SELECT event_id AS cid, user_id, ts AS cts, value
            FROM events WHERE event_type = 'purchase'),
          tch AS (SELECT user_id, ts AS tts, event_type AS ch FROM events
            WHERE event_type IN ('click', 'view', 'signup')),
          p AS (SELECT cid, value, ch,
              (epoch_us(cts) // 86400000000) - (epoch_us(tts) // 86400000000) AS dist
            FROM conv JOIN tch USING (user_id)
            WHERE tts <= cts AND tts >= cts - INTERVAL 3 DAY),
          wt AS (SELECT cid, value, ch,
              1.0 / (1::BIGINT << dist) AS w FROM p),
          tot AS (SELECT cid, SUM(w) AS wtot FROM wt GROUP BY 1),
          cw AS (SELECT cid, ch, any_value(value) AS v, SUM(w) AS wc
            FROM wt GROUP BY cid, ch),
          cr AS (SELECT cid, ch, ROUND(v * wc / wtot, 6) AS rc
            FROM cw JOIN tot USING (cid)),
          att AS (SELECT ch AS channel, CAST(count(*) AS BIGINT) AS conversions,
              CAST(SUM(CAST(rc AS DECIMAL(20,6))) AS DOUBLE) AS credit
            FROM cr WHERE rc > 0 GROUP BY 1),
          un AS (SELECT '(none)' AS channel,
              CAST(count(*) AS BIGINT) AS conversions,
              CAST(SUM(COALESCE(CAST(ROUND(value, 6) AS DECIMAL(20,6)), 0)) AS DOUBLE) AS credit
            FROM conv c WHERE NOT EXISTS (SELECT 1 FROM tch t
              WHERE t.user_id = c.user_id AND t.tts <= c.cts
                AND t.tts >= c.cts - INTERVAL 3 DAY)
            HAVING count(*) > 0)
          SELECT * FROM att UNION ALL SELECT * FROM un ORDER BY channel""",

    "q_event_funnel" ->
      s"""WITH $funnelCtes
          SELECT s1.user_id, s1.first_view, s2.first_click, s3.first_purchase
          FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
          ORDER BY user_id""",

    // Same distinct-triple cohort chain; the denominator counts only
    // cohorts old enough to reach each offset.
    "q_retention_curve" ->
      """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id),
          du AS (SELECT DISTINCT f.cohort_day,
              CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE))
                AS INTEGER) AS day_offset,
              e.user_id
            FROM events e JOIN f USING (user_id)),
          r AS (SELECT cohort_day, day_offset, COUNT(*) AS n_users
            FROM du GROUP BY 1, 2),
          sizes AS (SELECT cohort_day, n_users AS cohort_size FROM r
            WHERE day_offset = 0),
          md AS (SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events),
          active AS (SELECT day_offset, SUM(n_users) AS n_active
            FROM r GROUP BY 1),
          eligible AS (SELECT o.day_offset, SUM(s.cohort_size) AS n_eligible
            FROM (SELECT DISTINCT day_offset FROM r) o
            CROSS JOIN sizes s CROSS JOIN md
            WHERE date_diff('day', s.cohort_day, md.max_day) >= o.day_offset
            GROUP BY 1)
          SELECT a.day_offset,
            CAST(a.n_active AS BIGINT) AS n_active,
            CAST(e.n_eligible AS BIGINT) AS n_eligible,
            ROUND(CAST(a.n_active AS DOUBLE)
              / CAST(e.n_eligible AS DOUBLE), 6) AS rate
          FROM active a JOIN eligible e USING (day_offset)
          ORDER BY day_offset""",

    // Same step chain with the 6-hour gap gate on each transition.
    "q_funnel_windowed" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS first_view FROM events
            WHERE event_type = 'view' GROUP BY user_id),
          s2 AS (SELECT e.user_id, MIN(e.ts) AS first_click
            FROM events e JOIN s1 USING (user_id)
            WHERE e.event_type = 'click' AND e.ts >= s1.first_view
              AND e.ts <= s1.first_view + INTERVAL 6 HOUR
            GROUP BY e.user_id),
          s3 AS (SELECT e.user_id, MIN(e.ts) AS first_purchase
            FROM events e JOIN s2 USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts >= s2.first_click
              AND e.ts <= s2.first_click + INTERVAL 6 HOUR
            GROUP BY e.user_id)
          SELECT s1.user_id, s1.first_view, s2.first_click, s3.first_purchase
          FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
          ORDER BY user_id""",

    "q_funnel_rates" ->
      s"""WITH $funnelCtes,
          j AS (SELECT s1.user_id, s2.first_click, s3.first_purchase
            FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id))
          SELECT COUNT(*) AS n_view,
            COUNT(first_click) AS n_click,
            COUNT(first_purchase) AS n_purchase,
            ROUND(CAST(COUNT(first_click) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 6) AS rate_click,
            ROUND(CAST(COUNT(first_purchase) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 6) AS rate_purchase
          FROM j""",

    "q_cohort_retention" ->
      """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id),
          du AS (SELECT DISTINCT f.cohort_day,
              CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE))
                AS INTEGER) AS day_offset,
              e.user_id
            FROM events e JOIN f USING (user_id))
          SELECT cohort_day, day_offset, COUNT(*) AS n_users
          FROM du GROUP BY 1, 2 ORDER BY 1, 2""",

    // Both ranking tables re-derived from scratch: truth over the raw
    // embeddings, result over the projected lists computed by the SAME
    // inlined plane literals; then the standard recall@k close.
    "q_rp_recall" ->
      s"""WITH p AS (SELECT vec_id, ${rpProjSql("embedding")} AS pvec
            FROM embeddings),
          tr AS (SELECT q_id, vec_id,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY ${cosSql("q_vec", "embedding")} DESC, vec_id)
                AS INTEGER) AS rank
            FROM embeddings CROSS JOIN
              (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5) q
            QUALIFY rank <= 3),
          rp AS (SELECT q_id, vec_id,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY ${cosSql("q_vec", "pvec")} DESC, vec_id)
                AS INTEGER) AS rank
            FROM p CROSS JOIN
              (SELECT vec_id AS q_id, pvec AS q_vec FROM p
               WHERE vec_id < 5) q
            QUALIFY rank <= 3)
          SELECT tr.q_id, COUNT(*) AS n_truth,
            CAST(SUM(CASE WHEN rp.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit,
            ROUND(CAST(SUM(CASE WHEN rp.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / COUNT(*), 6) AS recall
          FROM tr LEFT JOIN rp
            ON tr.q_id = rp.q_id AND tr.vec_id = rp.vec_id
          GROUP BY tr.q_id ORDER BY tr.q_id""",

    // Discount/ideal constants inlined from the SAME driver derivation
    // the Spark op uses (Retrieval.ndcgDiscounts/ndcgIdeals).
    "q_ann_ndcg" -> {
      val disc = graft.ext.Retrieval.ndcgDiscounts(3)
      val ideal = graft.ext.Retrieval.ndcgIdeals(3)
      val discCase = (1 to 3).map(r => s"WHEN $r THEN ${disc(r - 1)}").mkString(" ")
      val idealCase = (1 to 3).map(n => s"WHEN $n THEN ${ideal(n - 1)}").mkString(" ")
      s"""WITH res0 AS ($IvfLloydOracleSql),
          tr0 AS (SELECT q_id, vec_id,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY ${cosSql("q_vec", "embedding")} DESC, vec_id)
                AS INTEGER) AS rank
            FROM embeddings CROSS JOIN
              (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5) q
            QUALIFY rank <= 3),
          nt AS (SELECT q_id, COUNT(*) AS n_truth FROM tr0 GROUP BY q_id),
          dcg AS (SELECT res0.q_id,
              SUM(CAST(CASE res0.rank $discCase END AS DECIMAL(18,6))) AS d
            FROM res0 JOIN tr0
              ON res0.q_id = tr0.q_id AND res0.vec_id = tr0.vec_id
            WHERE res0.rank <= 3 GROUP BY res0.q_id)
          SELECT nt.q_id, nt.n_truth,
            ROUND(COALESCE(CAST(dcg.d AS DOUBLE), 0.0)
              / (CASE least(nt.n_truth, 3) $idealCase END), 6) AS ndcg
          FROM nt LEFT JOIN dcg ON nt.q_id = dcg.q_id ORDER BY nt.q_id"""
    },

    "q_ann_mrr" ->
      s"""WITH res0 AS ($IvfLloydOracleSql),
          tr0 AS (SELECT q_id, vec_id,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY ${cosSql("q_vec", "embedding")} DESC, vec_id)
                AS INTEGER) AS rank
            FROM embeddings CROSS JOIN
              (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5) q
            QUALIFY rank <= 3),
          h AS (SELECT res0.q_id, MIN(res0.rank) AS first_hit_rank
            FROM res0 JOIN tr0
              ON res0.q_id = tr0.q_id AND res0.vec_id = tr0.vec_id
            WHERE res0.rank <= 3 GROUP BY res0.q_id)
          SELECT qd.q_id, h.first_hit_rank,
            COALESCE(ROUND(1.0 / h.first_hit_rank, 6), 0.0) AS rr
          FROM (SELECT DISTINCT q_id FROM tr0) qd
          LEFT JOIN h ON qd.q_id = h.q_id ORDER BY qd.q_id""",

    // BM25 replayed: same Lucene idf (6dp), same fixed IEEE tree per
    // term (k1=1.2, b=0.75 inlined as identical literals), decimal
    // term sums, rank ties on doc id.
    "q_bm25" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
            FROM documents),
          tf AS (SELECT doc_id, t, count(*) AS tf FROM w GROUP BY 1, 2),
          dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1),
          dft AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
          st AS (SELECT (SELECT count(*) FROM documents) AS n,
              CAST((SELECT SUM(dl) FROM dl) AS DOUBLE)
                / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
          q AS (SELECT doc_id AS q_id, unnest(list_distinct(string_split(
                lower(array_to_string((string_split(text, ' '))[1:6], ' ')),
                ' '))) AS t
            FROM documents WHERE doc_id < 5),
          sc AS (SELECT q.q_id, tf.doc_id,
              CAST(ROUND(
                ROUND(ln((st.n - dft.df + 0.5) / (dft.df + 0.5) + 1), 6)
                * (CAST(tf.tf AS DOUBLE) * ${1.2 + 1})
                / (CAST(tf.tf AS DOUBLE)
                   + ${1.2} * (${1 - 0.75} + ${0.75}
                     * (CAST(dl.dl AS DOUBLE) / st.avgdl))), 6)
                AS DECIMAL(25,6)) AS s
            FROM tf JOIN q ON tf.t = q.t
            JOIN dft ON tf.t = dft.t
            JOIN dl ON tf.doc_id = dl.doc_id, st)
          SELECT q_id, doc_id, ROUND(CAST(SUM(s) AS DOUBLE), 6) AS score,
            COUNT(*) AS n_terms,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY ROUND(CAST(SUM(s) AS DOUBLE), 6) DESC, doc_id)
              AS INTEGER) AS rank
          FROM sc GROUP BY q_id, doc_id
          QUALIFY rank <= 10 ORDER BY q_id, rank""",

    // Conditional-argmax twins of the Spark agg: per (anchor, side)
    // rank by (cos DESC, id ASC), keep rank 1, join the two sides.
    "q_contrastive_triplets" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
            FROM embeddings WHERE vec_id < $TripletAnchors),
          p AS (SELECT q_id, vec_id, label, q_label,
              ${cosSql("q_vec", "embedding")} AS cos
            FROM embeddings CROSS JOIN q WHERE vec_id != q_id),
          pos AS (SELECT q_id, vec_id AS pos_id, cos AS pos_cos FROM p
            WHERE label = q_label
            QUALIFY row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id) = 1),
          neg AS (SELECT q_id, vec_id AS neg_id, cos AS neg_cos FROM p
            WHERE label != q_label
            QUALIFY row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id) = 1)
          SELECT pos.q_id, pos_id, pos_cos, neg_id, neg_cos,
            pos_cos - neg_cos AS margin
          FROM pos JOIN neg ON pos.q_id = neg.q_id ORDER BY pos.q_id""",

    "q_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
            FROM embeddings WHERE vec_id < 5)
          SELECT q_id, vec_id, ${cosSql("q_vec", "embedding")} AS cos,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY ${cosSql("q_vec", "embedding")} DESC, vec_id) AS INTEGER) AS rank
          FROM embeddings CROSS JOIN q
          WHERE label != q_label
          QUALIFY rank <= 5 ORDER BY q_id, rank""",

    "q_ann_lsh" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec,
            ${bucketSql("embedding")} AS bucket FROM embeddings WHERE vec_id < 5),
          c AS (SELECT vec_id, embedding,
            ${bucketSql("embedding")} AS bucket FROM embeddings)
          SELECT q_id, vec_id, ${cosSql("q_vec", "embedding")} AS cos,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY ${cosSql("q_vec", "embedding")} DESC, vec_id) AS INTEGER) AS rank
          FROM c JOIN q USING (bucket)
          QUALIFY rank <= 3 ORDER BY q_id, rank""",

    "q_ann_multiprobe" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 5),
          qb AS (SELECT q_id, 0 AS ps, ${bucketSqlWith("q_vec", AnnPlanes)} AS bucket FROM q
            UNION ALL
            SELECT q_id, 1 AS ps, ${bucketSqlWith("q_vec", AnnPlanes2)} AS bucket FROM q),
          cb AS (SELECT vec_id, 0 AS ps, ${bucketSqlWith("embedding", AnnPlanes)} AS bucket
              FROM embeddings
            UNION ALL
            SELECT vec_id, 1 AS ps, ${bucketSqlWith("embedding", AnnPlanes2)} AS bucket
              FROM embeddings),
          cand AS (SELECT DISTINCT q_id, vec_id FROM cb JOIN qb USING (ps, bucket)),
          scored AS (SELECT cand.q_id, cand.vec_id,
              ${cosSql("qe.embedding", "ce.embedding")} AS cos
            FROM cand JOIN embeddings qe ON cand.q_id = qe.vec_id
                      JOIN embeddings ce ON cand.vec_id = ce.vec_id)
          SELECT q_id, vec_id, cos,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
          FROM scored QUALIFY rank <= 3 ORDER BY q_id, rank""",

    // Assignment chain shared with every IVF oracle; the mean is the
    // exact-decimal-sum-of-rounded-cosines / count ladder.
    "q_cluster_quality" ->
      s"""$IvfAssignSqlChain
          SELECT a.list, COUNT(*) AS n_vectors,
            ROUND(CAST(SUM(CAST(${cosSql("a.embedding", "c.c_vec")}
              AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6) AS mean_cos
          FROM assign a JOIN cent c USING (list)
          GROUP BY a.list ORDER BY list""",

    "q_ann_ivf" -> IvfLloydOracleSql,

    // SemDeDup over the SAME Lloyd assignment chain as the IVF oracles:
    // centroid cosine per member, in-cluster ε-pairs, flag the
    // higher-(ccos, id) side of each pair.
    "q_semdedup" ->
      s"""$IvfAssignSqlChain,
          wc AS (SELECT a.vec_id, a.embedding, a.list,
              ${cosSql("a.embedding", "cent.c_vec")} AS ccos
            FROM assign a JOIN cent ON a.list = cent.list),
          dup AS (SELECT DISTINCT x.vec_id FROM wc x JOIN wc y
            ON x.list = y.list AND x.vec_id != y.vec_id
            AND ${cosSql("x.embedding", "y.embedding")} >= $SemDedupCos
            AND (x.ccos > y.ccos OR (x.ccos = y.ccos AND x.vec_id > y.vec_id)))
          SELECT wc.vec_id, wc.list, wc.ccos,
            (dup.vec_id IS NOT NULL) AS is_dup
          FROM wc LEFT JOIN dup ON wc.vec_id = dup.vec_id
          ORDER BY wc.vec_id""",

    // The persisted index stores the SAME Lloyd centroids (rounds = 1)
    // and the same ranking contract, so the full-precision search of the
    // on-disk index must reproduce the in-memory search bit-for-bit —
    // the oracle IS q_ann_ivf's.
    "q_ann_ivf_persisted" -> IvfLloydOracleSql,

    // The assignment chain alone, profiled: per-list counts + share +
    // ratio-to-mean — the q_key_skew math over the index's lists.
    "q_ivf_skew" ->
      s"""$IvfAssignSqlChain,
          c AS (SELECT list, COUNT(*) AS n FROM assign GROUP BY 1),
          t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total,
                  CAST(COUNT(*) AS DOUBLE) AS nkeys FROM c)
          SELECT list, n, ROUND(n / total, 6) AS share,
            ROUND(n * nkeys / total, 6) AS skew
          FROM c, t ORDER BY n DESC, list LIMIT $IvfLists""",

    "q_cos_dup_pairs" ->
      s"""WITH b AS (SELECT vec_id, embedding,
            ${bucketSql("embedding")} AS bucket FROM embeddings)
          SELECT l.vec_id AS a, r.vec_id AS b,
            ${cosSql("l.embedding", "r.embedding")} AS cos
          FROM b l JOIN b r USING (bucket)
          WHERE l.vec_id < r.vec_id
            AND ${cosSql("l.embedding", "r.embedding")} >= $CosDupThreshold
          ORDER BY a, b""",

    "q_src_csv" ->
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents ORDER BY doc_id""",

    // Gen-1 shards (even ids) predate the lang column: the merged read
    // must surface exactly a null there and the value everywhere else.
    "q_src_evolving" ->
      """SELECT doc_id, source, n_chars,
           CASE WHEN doc_id % 2 <> 0 THEN lang END AS lang
         FROM documents ORDER BY doc_id""",

    // The receiver-side manifest recomputation: same md5 shard bucket,
    // same per-shard row-hash checksum as q_table_checksum, grouped.
    // Same cut arithmetic as Export.valueRangeCuts (integer-exact, so
    // both engines place every key in the same shard), same row hash as
    // the manifest family, plus the per-shard key range.
    "q_export_sorted" -> {
      val shardExpr = (1 until ExportShards)
        .map(i => s"(CASE WHEN doc_id >= lo + (($i * (hi - lo)) // $ExportShards) THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH mm AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
          sh AS (SELECT doc_id, text, n_chars,
              CAST($shardExpr AS INTEGER) AS shard
            FROM documents CROSS JOIN mm)
          SELECT shard, COUNT(*) AS n_rows,
            CAST(CAST(SUM(CAST(('0x' || substr(md5(concat_ws(chr(1),
                COALESCE(CAST(doc_id AS VARCHAR), chr(2)),
                COALESCE(CAST(text AS VARCHAR), chr(2)),
                COALESCE(CAST(n_chars AS VARCHAR), chr(2)))), 1, 12))
              AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum,
            MIN(doc_id) AS key_min, MAX(doc_id) AS key_max
          FROM sh GROUP BY 1 ORDER BY shard"""
    },

    // q_export_sorted's oracle shape with the md5-derived shuffle
    // position as the range key (and checksummed as a data column —
    // the order is part of the delivery).
    "q_export_shuffled" -> {
      val shardExpr = (1 until ExportShards)
        .map(i => s"(CASE WHEN pos_hi >= lo + (($i * (hi - lo)) // $ExportShards) THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH s AS (SELECT doc_id, text, n_chars,
            md5(CAST(doc_id AS VARCHAR) || 'shuffle') AS shuffle_pos,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'shuffle'), 1, 15))
              AS BIGINT) AS pos_hi
          FROM documents),
          mm AS (SELECT MIN(pos_hi) AS lo, MAX(pos_hi) AS hi FROM s),
          sh AS (SELECT doc_id, text, n_chars, shuffle_pos,
              CAST($shardExpr AS INTEGER) AS shard
            FROM s CROSS JOIN mm)
          SELECT shard, COUNT(*) AS n_rows,
            CAST(CAST(SUM(CAST(('0x' || substr(md5(concat_ws(chr(1),
                COALESCE(CAST(doc_id AS VARCHAR), chr(2)),
                COALESCE(CAST(text AS VARCHAR), chr(2)),
                COALESCE(CAST(n_chars AS VARCHAR), chr(2)),
                COALESCE(CAST(shuffle_pos AS VARCHAR), chr(2)))), 1, 12))
              AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum,
            MIN(shuffle_pos) AS key_min, MAX(shuffle_pos) AS key_max
          FROM sh GROUP BY 1 ORDER BY shard"""
    },

    // ustar size closed form: header 512 + data padded to 512-blocks
    // per member, plus the two terminating zero blocks per tar.
    "q_export_tar" ->
      """WITH sh AS (SELECT doc_id, octet_length(encode(text)) AS nb,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 8 AS INTEGER) AS shard
           FROM documents)
         SELECT shard, COUNT(*) AS n_files,
           CAST(SUM(512 + ((nb + 511) // 512) * 512) + 1024 AS BIGINT)
             AS tar_bytes
         FROM sh GROUP BY 1 ORDER BY shard""",

    // The index must change WHAT IS READ, never what is returned: the
    // oracle is the plain point lookup on the logical table.
    "q_bloom_index_lookup" ->
      s"""SELECT doc_id, source, n_chars FROM documents
          WHERE doc_id IN (${BloomLookupKeys.mkString(", ")})
          ORDER BY doc_id""",

    // Version 1 is the even half, whatever was written after it.
    "q_time_travel" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 2 = 0 ORDER BY doc_id""",

    // The (1, 3] delta is the odd half: v2 added it, the v3 replay
    // added nothing (keep-existing idempotence).
    "q_snapshot_delta" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 2 <> 0 ORDER BY doc_id""",

    // Final state after the I/U/D merge: odds inserted; evens survive
    // unless %20==0 (deleted); surviving %4 evens carry the +1e6 update
    // marker; the %20==2 clobber attempt left no trace (keep-existing).
    "q_snap_merge" ->
      """SELECT doc_id, source,
           CASE WHEN doc_id % 2 = 0 AND doc_id % 4 = 0 AND doc_id % 20 <> 0
             THEN n_chars + 1000000 ELSE n_chars END AS n_chars
         FROM documents
         WHERE doc_id % 2 = 1 OR doc_id % 20 <> 0
         ORDER BY doc_id""",

    // Version 1 (the evens) after erasing every %10 key — history
    // itself must lose the subject.
    "q_snap_erase" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 2 = 0 AND doc_id % 10 <> 0
         ORDER BY doc_id""",

    // Packing must change HOW rows are stored, never which rows exist:
    // the oracle is the whole logical table.
    "q_snap_optimize" ->
      """SELECT doc_id, source, n_chars FROM documents
         ORDER BY doc_id""",

    // As-of time travel resolves to version 1 — the even half — because
    // the probe instant is v1's own publish stamp and v2 published
    // strictly later.
    "q_time_travel_ts" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 2 = 0 ORDER BY doc_id""",

    // Pruning must change WHAT IS OPENED, never what is returned: the
    // oracle is the plain key filter on the logical table (the probe
    // keys are %100==7 below the low/high split at 250).
    "q_snap_point_lookup" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 100 = 7 AND doc_id < 250
         ORDER BY doc_id""",

    // Write-path pruning: the four appends cover the whole table
    // exactly once (low evens, highs, doctored high re-sends that must
    // LOSE keep-existing, low odds) — so the sink equals the plain
    // table iff the pruned anti join kept the originals and admitted
    // the fresh rows.
    "q_snap_write_pruned" ->
      """SELECT doc_id, source, n_chars FROM documents
         ORDER BY doc_id""",

    // Wall-clock retention never edits the surviving version's content:
    // v3 (the as-of horizon) reads the full three-batch union.
    "q_snap_retention" ->
      """SELECT doc_id, source, n_chars FROM documents
         ORDER BY doc_id""",

    // Version ledger of the three-publish fixture: v1 = evens (1 dir),
    // v2 = + odds (2 dirs), v3 = the D-merge (both batch dirs
    // rewritten + the empty landing dir = 3) minus the %100==3 keys.
    "q_snap_history" ->
      """SELECT CAST(1 AS INTEGER) AS version, CAST(1 AS INTEGER) AS n_dirs,
           CAST(count(*) AS BIGINT) AS n_rows
         FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT 2, 2, CAST(count(*) AS BIGINT) FROM documents
         UNION ALL
         SELECT 3, 3, CAST(count(*) AS BIGINT) FROM documents
         WHERE doc_id % 100 <> 3
         ORDER BY version""",

    // Metadata-only count of the post-merge version: everything except
    // the deleted %100==3 keys.
    "q_snap_count" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows FROM documents
         WHERE doc_id % 100 <> 3""",

    // The exact I/U/D set of the v1→v2 fixture: inserts are the %10==1
    // odds, deletes carry the OLD %10==2 rows, updates the NEW (+1000)
    // %10==0 rows; untouched evens produce nothing.
    "q_snap_changes" ->
      """SELECT 'I' AS op, doc_id, source, n_chars FROM documents
         WHERE doc_id % 10 = 1
         UNION ALL
         SELECT 'D', doc_id, source, n_chars FROM documents
         WHERE doc_id % 10 = 2
         UNION ALL
         SELECT 'U', doc_id, source,
           CAST(n_chars + 1000 AS BIGINT) FROM documents
         WHERE doc_id % 10 = 0
         ORDER BY doc_id""",

    // The streamed feed's accumulated micro-batches: the initial
    // snapshot (v1 = %10 ∈ {0,2,4} as I) plus the merge's exact span.
    "q_snap_feed_stream" ->
      """SELECT 'I' AS op, doc_id, source, n_chars FROM documents
         WHERE doc_id % 10 IN (0, 2, 4)
         UNION ALL
         SELECT 'U', doc_id, source,
           CAST(n_chars + 1000 AS BIGINT) FROM documents
         WHERE doc_id % 10 = 0
         UNION ALL
         SELECT 'D', doc_id, source, n_chars FROM documents
         WHERE doc_id % 10 = 2
         UNION ALL
         SELECT 'I', doc_id, source, n_chars FROM documents
         WHERE doc_id % 10 = 6
         ORDER BY doc_id, op""",

    // Three clean gated publishes (one per doc_id mod-3 class) must all
    // pass the drift gate — the maintained-sidecar diff sees the same
    // no-drift a recompute would — and land the whole table.
    "q_gate_incremental" ->
      """SELECT doc_id, source, n_chars FROM documents
         ORDER BY doc_id""",

    // Endpoint diff of the v1→v4 span (merge, compaction, append),
    // composed from write-time records: inserts are the %10==1 odds
    // (merge) and %10==5 odds (append), deletes carry the OLD %10==2
    // rows, updates the NEW (+1000) %10==0 rows; the compaction
    // contributes nothing (pure repackaging); untouched evens absent.
    "q_snap_changes_compacted" ->
      """SELECT 'I' AS op, doc_id, source, n_chars FROM documents
         WHERE doc_id % 10 = 1
         UNION ALL
         SELECT 'I', doc_id, source, n_chars FROM documents
         WHERE doc_id % 10 = 5
         UNION ALL
         SELECT 'D', doc_id, source, n_chars FROM documents
         WHERE doc_id % 10 = 2
         UNION ALL
         SELECT 'U', doc_id, source,
           CAST(n_chars + 1000 AS BIGINT) FROM documents
         WHERE doc_id % 10 = 0
         ORDER BY doc_id""",

    // The bounded read equals a plain filter on the logical table —
    // dir pruning changes what is OPENED, never what is returned.
    "q_snap_skip" ->
      """SELECT doc_id, source, n_chars, doc_id % 100 AS score
         FROM documents
         WHERE doc_id % 100 BETWEEN 60 AND 70
         ORDER BY doc_id""",

    // Declared evolution is a read-time projection: the whole table
    // under the renamed column, the added column as NULL.
    "q_snap_rename" ->
      """SELECT doc_id, source, n_chars AS len,
           CAST(NULL AS VARCHAR) AS lang
         FROM documents
         ORDER BY doc_id""",

    // Vacuum is storage hygiene: content never changes (the doctored
    // orphan's -999 rows must be absent — they were never published).
    "q_snap_vacuum" ->
      """SELECT doc_id, source, n_chars FROM documents
         ORDER BY doc_id""",

    // Metadata-only bounds of the two-batch sink = plain MIN/MAX.
    "q_snap_minmax" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id
         FROM documents""",

    // The consumer's second delivery is exactly the v1→v2 span — the
    // same I/U/D classes as q_snap_changes.
    "q_snap_consume" ->
      """SELECT 'I' AS op, doc_id, source, n_chars FROM documents
         WHERE doc_id % 10 = 1
         UNION ALL
         SELECT 'D', doc_id, source, n_chars FROM documents
         WHERE doc_id % 10 = 2
         UNION ALL
         SELECT 'U', doc_id, source,
           CAST(n_chars + 1000 AS BIGINT) FROM documents
         WHERE doc_id % 10 = 0
         ORDER BY doc_id""",

    // Merge-on-read applies the same logical I/U/D as copy-on-write:
    // evens survive minus the deleted %10==2, the %10==0 updates show
    // the new value, the %10==1 odds insert.
    "q_snap_merge_mor" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 2 = 0 AND doc_id % 10 NOT IN (0, 2)
         UNION ALL
         SELECT doc_id, source, CAST(n_chars + 1000 AS BIGINT)
         FROM documents WHERE doc_id % 10 = 0
         UNION ALL
         SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 10 = 1
         ORDER BY doc_id""",

    // The feed-maintained aggregate equals a recompute over the merged
    // logical table (the %10==4 carried class, %10==0 bumped by the
    // update, %10==1 inserted; %10==2 deleted).
    "q_incr_agg_feed" ->
      """WITH merged AS (
           SELECT doc_id, source, n_chars FROM documents
           WHERE doc_id % 10 = 4
           UNION ALL
           SELECT doc_id, source, CAST(n_chars + 1000 AS BIGINT)
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id, source, n_chars FROM documents
           WHERE doc_id % 10 = 1)
         SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(count(n_chars) AS BIGINT) AS n_val,
           CAST(SUM(n_chars) AS DOUBLE) AS sum_v,
           CAST(MIN(n_chars) AS BIGINT) AS min_v,
           CAST(MAX(n_chars) AS BIGINT) AS max_v
         FROM merged GROUP BY source ORDER BY source""",

    // The z-compacted sink answers the second-column bound exactly —
    // layout changes what is SKIPPED, never what is returned.
    "q_snap_zorder" ->
      """SELECT doc_id, source, n_chars, doc_id % 16 AS score_a,
           (doc_id // 16) % 16 AS score_b
         FROM documents
         WHERE (doc_id // 16) % 16 BETWEEN 4 AND 7
         ORDER BY doc_id""",

    // Writer-path twin of q_snap_merge_mor: the same merged state,
    // landed and read entirely through format("graft").
    "q_snap_dsv2_write" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 2 = 0 AND doc_id % 10 NOT IN (0, 2)
         UNION ALL
         SELECT doc_id, source, CAST(n_chars + 1000 AS BIGINT)
         FROM documents WHERE doc_id % 10 = 0
         UNION ALL
         SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 10 = 1
         ORDER BY doc_id""",

    // The DSv2 filtered read equals the plain filter — same contract
    // as q_snap_skip, now through the generic format("graft") path.
    "q_snap_dsv2" ->
      """SELECT doc_id, source, n_chars, doc_id % 100 AS score
         FROM documents
         WHERE doc_id % 100 BETWEEN 60 AND 70
         ORDER BY doc_id""",

    // Complete aggregate pushdown = the same plain aggregates.
    "q_snap_dsv2_agg" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id
         FROM documents""",

    // Runtime-pruned join = the plain join: the dim's quartile band
    // recomputed inline (same integer math as the scratch dim).
    "q_snap_dsv2_join" ->
      """SELECT d.doc_id AS doc_id, d.source AS source,
                d.n_chars AS n_chars
         FROM documents d
         JOIN (SELECT doc_id AS did FROM documents
               WHERE doc_id // (SELECT greatest(count(*) // 4, 1)
                                FROM documents) = 2) m
           ON d.doc_id = m.did
         ORDER BY d.doc_id""",

    // SQL-inserted catalog table: evens land first (keep-existing wins
    // on the %4==0 overlap — NO +777 there), %4==1 odds insert fresh
    // (the +777 sticks for them).
    "q_snap_catalog_sql" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, source, CAST(n_chars + 777 AS BIGINT)
         FROM documents WHERE doc_id % 4 = 1
         ORDER BY doc_id""",

    // Per-column drift between the full corpus (v2) and the even half
    // (v1): recomputed straight from the logical table, exact longs +
    // ROUND(·,6) rates like the engine report.
    "q_profile_drift" ->
      """WITH curp AS (
           SELECT 'doc_id' AS colname, CAST(count(*) AS BIGINT) AS r,
             CAST(COALESCE(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nl,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS d FROM documents
           UNION ALL
           SELECT 'n_chars', CAST(count(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST(count(DISTINCT n_chars) AS BIGINT) FROM documents
           UNION ALL
           SELECT 'source', CAST(count(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST(count(DISTINCT source) AS BIGINT) FROM documents),
         prevp AS (
           SELECT 'doc_id' AS colname, CAST(count(*) AS BIGINT) AS r,
             CAST(COALESCE(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nl,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS d
             FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT 'n_chars', CAST(count(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST(count(DISTINCT n_chars) AS BIGINT)
             FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT 'source', CAST(count(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST(count(DISTINCT source) AS BIGINT)
             FROM documents WHERE doc_id % 2 = 0)
         SELECT curp.colname AS "column", 'common' AS status,
           prevp.r AS n_rows_prev, curp.r AS n_rows_cur,
           curp.r - prevp.r AS row_growth,
           ROUND(CAST(prevp.nl AS DOUBLE) / prevp.r, 6) AS null_rate_prev,
           ROUND(CAST(curp.nl AS DOUBLE) / curp.r, 6) AS null_rate_cur,
           ROUND(CAST(curp.nl AS DOUBLE) / curp.r
             - CAST(prevp.nl AS DOUBLE) / prevp.r, 6) AS null_rate_delta,
           prevp.d AS n_distinct_prev, curp.d AS n_distinct_cur,
           curp.d - prevp.d AS distinct_delta
         FROM curp JOIN prevp USING (colname)
         ORDER BY "column"""",

    // Ordered-Shapley credit via the naive pair join + the SAME exact
    // 1e18-scaled weight table the engine embeds (generated from one
    // Scala function — engine map literal and oracle VALUES can never
    // drift apart). Position = arrival rank (ts, channel); summing
    // BIGINT weights is exact on both engines, and the single
    // long→double→÷1e18 conversion is IEEE-identical.
    "q_attr_shapley" -> {
      val rows = (for { n <- 1 to 32; k <- 1 to n } yield
        s"($n,$k,${graft.ops.Analytics.shapleyWeightScaled(k, n)})")
        .mkString(", ")
      s"""WITH conv AS (SELECT event_id AS cid, user_id, ts AS cts, value
            FROM events WHERE event_type = 'purchase'),
          tch AS (SELECT user_id, ts AS tts, event_type AS ch FROM events
            WHERE event_type IN ('click', 'view', 'signup')),
          p AS (SELECT cid, value, ch,
              ROW_NUMBER() OVER (PARTITION BY cid ORDER BY tts, ch) AS kk,
              COUNT(*) OVER (PARTITION BY cid) AS nn
            FROM conv JOIN tch USING (user_id)
            WHERE tts <= cts AND tts >= cts - INTERVAL 3 DAY),
          wts(nn, kk, wt) AS (VALUES $rows),
          cw AS (SELECT cid, ch, any_value(value) AS v,
              CAST(SUM(wt) AS BIGINT) AS ws
            FROM p JOIN wts ON wts.nn = p.nn AND wts.kk = p.kk
            GROUP BY cid, ch),
          cr AS (SELECT cid, ch,
              ROUND(v * (CAST(ws AS DOUBLE) / 1e18), 6) AS rc FROM cw),
          att AS (SELECT ch AS channel, CAST(count(*) AS BIGINT) AS conversions,
              CAST(SUM(CAST(rc AS DECIMAL(20,6))) AS DOUBLE) AS credit
            FROM cr WHERE rc > 0 GROUP BY 1),
          un AS (SELECT '(none)' AS channel,
              CAST(count(*) AS BIGINT) AS conversions,
              CAST(SUM(COALESCE(CAST(ROUND(value, 6) AS DECIMAL(20,6)), 0)) AS DOUBLE) AS credit
            FROM conv c WHERE NOT EXISTS (SELECT 1 FROM tch t
              WHERE t.user_id = c.user_id AND t.tts <= c.cts
                AND t.tts >= c.cts - INTERVAL 3 DAY)
            HAVING count(*) > 0)
          SELECT * FROM att UNION ALL SELECT * FROM un ORDER BY channel"""
    },

    // Increment == recompute: the maintained aggregate must equal the
    // one-shot group over the full logical table.
    "q_incr_agg" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DECIMAL(28,6))
             AS DOUBLE) AS sum_chars
         FROM documents GROUP BY source ORDER BY source""",

    // Full stat row: min/max merged via least/greatest across the
    // incremental refreshes must equal the one-shot bounds.
    "q_incr_agg_minmax" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DECIMAL(28,6))
             AS DOUBLE) AS sum_chars,
           CAST(MIN(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS min_chars,
           CAST(MAX(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS max_chars
         FROM documents GROUP BY source ORDER BY source""",

    // Below the sketch's k the KMV estimate is exact — the oracle is a
    // plain COUNT(DISTINCT) over the bounded value domain.
    "q_incr_agg_distinct" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT n_chars % 200) AS BIGINT) AS distinct_v
         FROM documents GROUP BY source ORDER BY source""",

    "q_export_manifest" ->
      """WITH sh AS (SELECT doc_id, text, n_chars,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 8 AS INTEGER) AS shard
           FROM documents)
         SELECT shard, COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(('0x' || substr(md5(concat_ws(chr(1),
               COALESCE(CAST(doc_id AS VARCHAR), chr(2)),
               COALESCE(CAST(text AS VARCHAR), chr(2)),
               COALESCE(CAST(n_chars AS VARCHAR), chr(2)))), 1, 12))
             AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
         FROM sh GROUP BY 1 ORDER BY shard""",

    // TEXT-IDENTICAL to q_export_manifest on purpose: one corpus, one
    // manifest, regardless of the wire format (parquet vs JSONL).
    "q_export_jsonl" ->
      """WITH sh AS (SELECT doc_id, text, n_chars,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 8 AS INTEGER) AS shard
           FROM documents)
         SELECT shard, COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(('0x' || substr(md5(concat_ws(chr(1),
               COALESCE(CAST(doc_id AS VARCHAR), chr(2)),
               COALESCE(CAST(text AS VARCHAR), chr(2)),
               COALESCE(CAST(n_chars AS VARCHAR), chr(2)))), 1, 12))
             AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
         FROM sh GROUP BY 1 ORDER BY shard""",

    // The packByBudget prefix-sum shard rule over BYTES (strlen = UTF-8
    // octets, Spark's octet_length), flattened to pack*stripes + stripe;
    // manifest checksum identical to q_export_manifest's convention.
    "q_export_jsonl_sized" -> sizedExportOracleSql,

    // TEXT-IDENTICAL to q_export_jsonl_sized on purpose: one sized-shard
    // membership, one manifest, regardless of the wire format.
    "q_export_parquet_sized" -> sizedExportOracleSql,

    "q_src_jsonl" ->
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents ORDER BY doc_id""",

    // TEXT-IDENTICAL to q_export_manifest: compaction must not move the
    // receiver's validation token.
    "q_export_compacted" ->
      """WITH sh AS (SELECT doc_id, text, n_chars,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 8 AS INTEGER) AS shard
           FROM documents)
         SELECT shard, COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(('0x' || substr(md5(concat_ws(chr(1),
               COALESCE(CAST(doc_id AS VARCHAR), chr(2)),
               COALESCE(CAST(text AS VARCHAR), chr(2)),
               COALESCE(CAST(n_chars AS VARCHAR), chr(2)))), 1, 12))
             AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
         FROM sh GROUP BY 1 ORDER BY shard""",

    "q_hash_split" ->
      """WITH b AS (SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
         FROM documents)
         SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",

    "q_stratified_sample" ->
      """SELECT doc_id, source FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
           < CASE WHEN source = 'src0' THEN 80 WHEN source = 'src1' THEN 80
                  WHEN source = 'src2' THEN 10 ELSE 30 END
         ORDER BY doc_id""",

    // Mixture selection CTE shared by both mixture oracles — GENERATED
    // from the same MixtureBudgets/MixtureShards constants the Spark
    // queries use, so the two engines cannot drift. Replays the op
    // exactly: hash shard, per-(source, shard) budget with remainder
    // spread, stable (md5(key), key) order, exclusive-prefix-sum rule.
    "q_mixture_sample" ->
      s"""WITH $mixtureSelSql
          SELECT doc_id, source, n_tokens FROM sel ORDER BY doc_id""",

    "q_mixture_redistributed" ->
      s"""WITH $mixtureRedistSql
          SELECT doc_id, source, n_tokens FROM sel2 ORDER BY doc_id""",

    "q_mixture_temp" ->
      s"""WITH $mixtureTempSql
          SELECT doc_id, source, n_tokens FROM sel2 ORDER BY doc_id""",

    "q_mixture_by_lang" ->
      s"""WITH $mixtureLangSql
          SELECT doc_id, source, n_tokens FROM sel2 ORDER BY doc_id""",

    // The q_mixture_report tail over the ADJUSTED budgets and pass-2
    // selection — the redistribution chain's accounting.
    "q_mixture_redistributed_report" ->
      s"""WITH $mixtureRedistSql,
          ach2 AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS achieved_tokens
            FROM sel2 GROUP BY 1)
          SELECT adj.source,
            CAST(COALESCE(a.achieved_tokens, 0) AS BIGINT) AS achieved_tokens,
            CAST(adj.b2 AS BIGINT) AS target_tokens,
            ROUND(CAST(COALESCE(a.achieved_tokens, 0) AS DOUBLE)
              / CAST(SUM(COALESCE(a.achieved_tokens, 0)) OVER () AS DOUBLE), 6)
              AS achieved_share,
            ROUND(CAST(adj.b2 AS DOUBLE)
              / CAST(SUM(adj.b2) OVER () AS DOUBLE), 6) AS target_share
          FROM adj LEFT JOIN ach2 a USING (source)
          ORDER BY source""",

    "q_mixture_report" ->
      s"""WITH $mixtureSelSql,
          tgt AS (SELECT * FROM (VALUES ${
            MixtureBudgets.map { case (s, b) =>
              s"('$s', CAST($b AS BIGINT))" }.mkString(", ")
          }) AS v(source, target_tokens)),
          ach AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS achieved_tokens
            FROM sel GROUP BY 1)
          SELECT t.source,
            CAST(COALESCE(a.achieved_tokens, 0) AS BIGINT) AS achieved_tokens,
            t.target_tokens,
            ROUND(CAST(COALESCE(a.achieved_tokens, 0) AS DOUBLE)
              / CAST(SUM(COALESCE(a.achieved_tokens, 0)) OVER () AS DOUBLE), 6)
              AS achieved_share,
            ROUND(CAST(t.target_tokens AS DOUBLE)
              / CAST(SUM(t.target_tokens) OVER () AS DOUBLE), 6) AS target_share
          FROM tgt t LEFT JOIN ach a USING (source)
          ORDER BY source""",

    "q_semantic_dedup" ->
      s"""WITH b AS (SELECT vec_id, embedding,
            ${bucketSql("embedding")} AS bucket FROM embeddings),
          pairs AS (SELECT l.vec_id AS a, r.vec_id AS b
            FROM b l JOIN b r USING (bucket)
            WHERE l.vec_id < r.vec_id
              AND ${cosSql("l.embedding", "r.embedding")} >= $CosDupThreshold)
          SELECT doc_id, n_chars FROM documents
          WHERE doc_id NOT IN (SELECT b FROM pairs)
          ORDER BY doc_id""",

    "q_ann_pq" -> pqOracleSql,

    "q_ann_ivf_pq" -> ivfPqOracleSql,

    "q_ann_ivf_pq_refined" -> ivfPqRefinedOracleSql,
    "q_ann_ivf_pq_residual" -> ivfPqResidualOracleSql,
    "q_ann_ivf_pq_residual_refined" -> ivfPqResidualRefinedOracleSql,

    // Quantize both sides with the q_quantize_int8 arithmetic, score by
    // scale_q*scale_c*dot(codes) — list_dot_product over int codes is
    // exact in double, so scores match bit-for-bit.
    "q_ann_quantized" ->
      """WITH m AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv,
            list_max(list_transform(embedding,
              x -> abs(CAST(x AS DOUBLE)))) AS mx
          FROM embeddings),
          s AS (SELECT vec_id, dv,
            CASE WHEN mx = 0 THEN 0.0
                 ELSE greatest(ROUND(mx / 127.0, 6), 0.000001) END AS scale
          FROM m),
          qt AS (SELECT vec_id, scale,
            CASE WHEN scale = 0 THEN list_transform(dv, x -> 0)
                 ELSE list_transform(dv, x -> CAST(least(greatest(
                   round(x / scale, 0), -127.0), 127.0) AS INTEGER)) END AS codes
          FROM s),
          q AS (SELECT vec_id AS q_id, scale AS qs, codes AS qc
          FROM qt WHERE vec_id < 5)
          SELECT q_id, vec_id,
            ROUND(qs * scale * list_dot_product(qc, codes), 6) AS score,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY ROUND(qs * scale * list_dot_product(qc, codes), 6) DESC,
                vec_id) AS INTEGER) AS rank
          FROM qt CROSS JOIN q
          QUALIFY rank <= 5 ORDER BY q_id, rank""",

    // Persisted-index quantized search: Lloyd centroids + assignment +
    // probe selection exactly as q_ann_ivf, per-vector quantization
    // exactly as q_quantize_int8, MIPS scoring exactly as q_ann_quantized
    // — the composition is the only new thing, so the oracle composes the
    // same three verified fragments.
    "q_ann_ivf_quantized" ->
      s"""WITH cent0 AS (SELECT vec_id AS list, embedding AS c_vec
            FROM embeddings WHERE vec_id < $IvfLists),
          assign0 AS (SELECT vec_id, embedding, list FROM (
            SELECT e.vec_id, e.embedding, cent0.list,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosSql("e.embedding", "c_vec")} DESC, list) AS rn
            FROM embeddings e CROSS JOIN cent0) WHERE rn = 1),
          comp AS (SELECT list,
              unnest(generate_series(1, len(embedding))) AS pos,
              unnest(list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 6))) AS x
            FROM assign0),
          cmean AS (SELECT list, pos,
              ROUND(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) AS m
            FROM comp GROUP BY 1, 2),
          cent AS (SELECT list, list(m ORDER BY pos) AS c_vec FROM cmean GROUP BY list),
          assign AS (SELECT vec_id, list FROM (
            SELECT e.vec_id, cent.list,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosSql("e.embedding", "c_vec")} DESC, list) AS rn
            FROM embeddings e CROSS JOIN cent) WHERE rn = 1),
          probes AS (SELECT q_id, list FROM (
            SELECT q.vec_id AS q_id, cent.list,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${cosSql("q.embedding", "c_vec")} DESC, list) AS rn
            FROM embeddings q CROSS JOIN cent WHERE q.vec_id < 5) WHERE rn <= $IvfProbes),
          m AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv,
            list_max(list_transform(embedding,
              x -> abs(CAST(x AS DOUBLE)))) AS mx
          FROM embeddings),
          sc AS (SELECT vec_id, dv,
            CASE WHEN mx = 0 THEN 0.0
                 ELSE greatest(ROUND(mx / 127.0, 6), 0.000001) END AS scale
          FROM m),
          qt AS (SELECT vec_id, scale,
            CASE WHEN scale = 0 THEN list_transform(dv, x -> 0)
                 ELSE list_transform(dv, x -> CAST(least(greatest(
                   round(x / scale, 0), -127.0), 127.0) AS INTEGER)) END AS codes
          FROM sc),
          cand AS (SELECT p.q_id, a.vec_id FROM assign a JOIN probes p USING (list))
          SELECT cand.q_id, cand.vec_id,
            ROUND(q.scale * c.scale * list_dot_product(q.codes, c.codes), 6) AS score,
            CAST(row_number() OVER (PARTITION BY cand.q_id
              ORDER BY ROUND(q.scale * c.scale * list_dot_product(q.codes, c.codes), 6) DESC,
                cand.vec_id) AS INTEGER) AS rank
          FROM cand JOIN qt c ON cand.vec_id = c.vec_id
                    JOIN qt q ON cand.q_id = q.vec_id
          QUALIFY rank <= 5 ORDER BY q_id, rank""",

    // Two-stage refined search: the q_ann_ivf_quantized chain kept to an
    // AnnRefine×k MIPS shortlist, then the q_ann_ivf exact-cosine contract
    // over the shortlist alone — both stages are verified fragments, the
    // composition is the only new thing.
    "q_ann_ivf_refined" ->
      s"""WITH cent0 AS (SELECT vec_id AS list, embedding AS c_vec
            FROM embeddings WHERE vec_id < $IvfLists),
          assign0 AS (SELECT vec_id, embedding, list FROM (
            SELECT e.vec_id, e.embedding, cent0.list,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosSql("e.embedding", "c_vec")} DESC, list) AS rn
            FROM embeddings e CROSS JOIN cent0) WHERE rn = 1),
          comp AS (SELECT list,
              unnest(generate_series(1, len(embedding))) AS pos,
              unnest(list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 6))) AS x
            FROM assign0),
          cmean AS (SELECT list, pos,
              ROUND(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) AS m
            FROM comp GROUP BY 1, 2),
          cent AS (SELECT list, list(m ORDER BY pos) AS c_vec FROM cmean GROUP BY list),
          assign AS (SELECT vec_id, list FROM (
            SELECT e.vec_id, cent.list,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosSql("e.embedding", "c_vec")} DESC, list) AS rn
            FROM embeddings e CROSS JOIN cent) WHERE rn = 1),
          probes AS (SELECT q_id, list FROM (
            SELECT q.vec_id AS q_id, cent.list,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${cosSql("q.embedding", "c_vec")} DESC, list) AS rn
            FROM embeddings q CROSS JOIN cent WHERE q.vec_id < 5) WHERE rn <= $IvfProbes),
          m AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv,
            list_max(list_transform(embedding,
              x -> abs(CAST(x AS DOUBLE)))) AS mx
          FROM embeddings),
          sc AS (SELECT vec_id, dv,
            CASE WHEN mx = 0 THEN 0.0
                 ELSE greatest(ROUND(mx / 127.0, 6), 0.000001) END AS scale
          FROM m),
          qt AS (SELECT vec_id, scale,
            CASE WHEN scale = 0 THEN list_transform(dv, x -> 0)
                 ELSE list_transform(dv, x -> CAST(least(greatest(
                   round(x / scale, 0), -127.0), 127.0) AS INTEGER)) END AS codes
          FROM sc),
          cand AS (SELECT p.q_id, a.vec_id FROM assign a JOIN probes p USING (list)),
          short AS (SELECT q_id, vec_id FROM (
            SELECT cand.q_id, cand.vec_id,
              row_number() OVER (PARTITION BY cand.q_id
                ORDER BY ROUND(q.scale * c.scale * list_dot_product(q.codes, c.codes), 6) DESC,
                  cand.vec_id) AS srank
            FROM cand JOIN qt c ON cand.vec_id = c.vec_id
                      JOIN qt q ON cand.q_id = q.vec_id) WHERE srank <= ${AnnRefine * 5})
          SELECT s.q_id, s.vec_id, ${cosSql("q.embedding", "c.embedding")} AS cos,
            CAST(row_number() OVER (PARTITION BY s.q_id
              ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, s.vec_id) AS INTEGER) AS rank
          FROM short s JOIN embeddings c ON s.vec_id = c.vec_id
                       JOIN embeddings q ON s.q_id = q.vec_id
          QUALIFY rank <= 5 ORDER BY q_id, rank""",

    // Same arithmetic step for step: double casts, ROUND(·, 6) scale,
    // clamp(round(x/scale), ±127). Every op is correctly-rounded IEEE,
    // so codes agree bit-for-bit.
    "q_quantize_int8" ->
      """WITH d AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
          FROM embeddings),
          m AS (SELECT vec_id, dv,
            list_max(list_transform(dv, x -> abs(x))) AS mx FROM d),
          s AS (SELECT vec_id, dv,
            CASE WHEN mx = 0 THEN 0.0
                 ELSE greatest(ROUND(mx / 127.0, 6), 0.000001) END AS scale
          FROM m)
          SELECT vec_id, scale,
            array_to_string(
              CASE WHEN scale = 0 THEN list_transform(dv, x -> '0')
                   ELSE list_transform(dv, x -> CAST(CAST(
                     least(greatest(round(x / scale, 0), -127.0), 127.0)
                     AS INTEGER) AS VARCHAR))
              END, ',') AS qcodes,
            CASE WHEN scale = 0 THEN 0.0
                 ELSE ROUND(list_max(list_transform(dv, x ->
                   abs(least(greatest(round(x / scale, 0), -127.0), 127.0) * scale - x))), 6)
            END AS max_err
          FROM s ORDER BY vec_id""",

    // The analytic twin of the PNG pixel formula (Multimodal.synthImage):
    // the Spark side ENCODES then DECODES real compressed images; the
    // oracle never touches a codec — it recomputes what the decoded
    // raster must sum to.
    "q_multimodal_decode" ->
      """WITH dims AS (SELECT doc_id,
            CAST(4 + doc_id % 5 AS INTEGER) AS width,
            CAST(3 + doc_id % 4 AS INTEGER) AS height
          FROM documents),
          px AS (SELECT doc_id, width, height,
            unnest(generate_series(0, width - 1)) AS x FROM dims),
          pxy AS (SELECT doc_id, width, height, x,
            unnest(generate_series(0, height - 1)) AS y FROM px)
          SELECT doc_id, width, height,
            CAST(SUM((doc_id * 7 + x * 3 + y * 5) % 256) AS BIGINT) AS r_sum,
            CAST(SUM((doc_id * 11 + x * 13 + y * 17) % 256) AS BIGINT) AS g_sum,
            CAST(SUM((doc_id * 19 + x * 23 + y * 29) % 256) AS BIGINT) AS b_sum
          FROM pxy GROUP BY 1, 2, 3 ORDER BY doc_id""",

    "q_multimodal_batch" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           md5(text) AS content_sig
         FROM documents ORDER BY doc_id""",

    // Ramp-PCM closed forms: Σs² = (n−1)n(2n−1)/6 (exactly divisible by
    // 6 → integer //), peak = n−1; duration/RMS repeat the Spark side's
    // one-divide-one-sqrt rounded trees.
    "q_multimodal_audio" ->
      """WITH a AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents)
         SELECT doc_id, CAST(n AS INTEGER) AS n_samples,
           CAST((n - 1) * n * (2 * n - 1) // 6 AS BIGINT) AS sum_sq,
           CAST(n - 1 AS INTEGER) AS peak,
           ROUND(CAST(n AS DOUBLE) / 16000, 6) AS duration_s,
           ROUND(sqrt(CAST((n - 1) * n * (2 * n - 1) // 6 AS DOUBLE) / n), 6)
             AS rms
         FROM a ORDER BY doc_id""",

    // WAV closed forms: channel ch of an n-frame clip carries samples
    // i + ch, so Σs² = S(n−1+ch) − S(ch−1) with S(m) = m(m+1)(2m+1)/6
    // (each S exactly divisible by 6 → integer //), peak = n−1+ch;
    // channels/sample rate replay the synthesis arithmetic, and
    // duration/RMS repeat the Spark side's rounded trees.
    "q_audio_wav" ->
      """WITH a AS (SELECT doc_id,
            64 + doc_id % 64 AS n,
            1 + doc_id % 2 AS c,
            8000 + 4000 * (doc_id % 3) AS sr
          FROM documents),
         ch AS (SELECT doc_id, n, c, sr,
            unnest(generate_series(0, c - 1)) AS channel FROM a),
         s AS (SELECT doc_id, n, c, sr, channel,
            ((n - 1 + channel) * (n + channel) * (2 * (n - 1 + channel) + 1)) // 6
              - CASE WHEN channel > 0
                  THEN ((channel - 1) * channel * (2 * channel - 1)) // 6
                  ELSE 0 END AS ssq
          FROM ch)
         SELECT doc_id,
           CAST(c AS INTEGER) AS channels,
           CAST(sr AS INTEGER) AS sample_rate,
           CAST(channel AS INTEGER) AS channel,
           CAST(n AS BIGINT) AS n_frames,
           CAST(ssq AS BIGINT) AS sum_sq,
           CAST(n - 1 + channel AS INTEGER) AS peak,
           ROUND(CAST(n AS DOUBLE) / sr, 6) AS duration_s,
           ROUND(sqrt(CAST(ssq AS DOUBLE) / n), 6) AS rms
         FROM s ORDER BY doc_id, channel""",

    // Resized stats: output pixel (x, y) copies input pixel
    // (x·w // 8, y·h // 8) of the analytic raster.
    "q_image_resize" ->
      """WITH dims AS (SELECT doc_id,
             4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
           FROM documents),
         px AS (SELECT doc_id, w, h,
             unnest(generate_series(0, 7)) AS x FROM dims),
         pxy AS (SELECT doc_id, w, h, x,
             unnest(generate_series(0, 7)) AS y FROM px),
         m AS (SELECT doc_id, (x * w) // 8 AS sx, (y * h) // 8 AS sy
           FROM pxy)
         SELECT doc_id, CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
           CAST(SUM((doc_id * 7 + sx * 3 + sy * 5) % 256) AS BIGINT) AS r_sum,
           CAST(SUM((doc_id * 11 + sx * 13 + sy * 17) % 256) AS BIGINT) AS g_sum,
           CAST(SUM((doc_id * 19 + sx * 23 + sy * 29) % 256) AS BIGINT) AS b_sum
         FROM m GROUP BY 1 ORDER BY doc_id""",

    "q_image_phash" ->
      s"""WITH $phashCtes
          SELECT b.doc_id, CAST(4 + b.doc_id % 5 AS INTEGER) AS width,
            CAST(3 + b.doc_id % 4 AS INTEGER) AS height, b.phash
          FROM b ORDER BY doc_id""",

    "q_image_dup_families" ->
      s"""WITH $phashCtes
          SELECT phash, COUNT(*) AS n_images, MIN(doc_id) AS rep_id
          FROM b GROUP BY phash HAVING COUNT(*) >= 2 ORDER BY phash""",

    // Same banding arithmetic as q_simhash_pairs, over the dHash chain.
    "q_image_dup_pairs" ->
      s"""WITH $phashCtes,
          bandids AS (SELECT unnest(generate_series(0, 1)) AS band_id),
          banded AS (SELECT doc_id, phash, band_id,
              (phash >> (band_id * ${PhashW * PhashH / 2}))
                & ${(1L << (PhashW * PhashH / 2)) - 1} AS slice
            FROM b CROSS JOIN bandids),
          cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
              CAST(bit_count(xor(l.phash, r.phash)) AS INTEGER) AS hamming
            FROM banded l JOIN banded r USING (band_id, slice)
            WHERE l.doc_id < r.doc_id)
          SELECT a, b, hamming FROM cand WHERE hamming <= 1 ORDER BY a, b""",

    // Sampled frames: nFrames = 2 + doc_id % 3, sampled idx ∈ {0, 2} ∩
    // [0, nFrames); frame id = doc_id·31 + idx feeds the same pixel
    // formula q_multimodal_decode pins.
    // Animated-GIF clips: frame size is CLIP-wide (the GIF logical
    // screen), pixels seeded per frame.
    "q_video_frames" ->
      """WITH f AS (SELECT doc_id, unnest([0, 2]) AS frame_idx,
             2 + doc_id % 3 AS n_frames
           FROM documents),
         s AS (SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
             doc_id * 31 + frame_idx AS fid,
             CAST(4 + doc_id % 5 AS INTEGER) AS width,
             CAST(5 + doc_id % 4 AS INTEGER) AS height
           FROM f WHERE frame_idx < n_frames),
         px AS (SELECT doc_id, frame_idx, fid, width, height,
             unnest(generate_series(0, width - 1)) AS x FROM s),
         pxy AS (SELECT doc_id, frame_idx, fid, width, height, x,
             unnest(generate_series(0, height - 1)) AS y FROM px)
         SELECT doc_id, frame_idx, width, height,
           CAST(SUM((fid * 7 + x * 3 + y * 5) % 256) AS BIGINT) AS r_sum,
           CAST(SUM((fid * 11 + x * 13 + y * 17) % 256) AS BIGINT) AS g_sum,
           CAST(SUM((fid * 19 + x * 23 + y * 29) % 256) AS BIGINT) AS b_sum
         FROM pxy GROUP BY 1, 2, 3, 4
         ORDER BY doc_id, frame_idx""",

    "q_frame_sample" ->
      s"""SELECT doc_id,
            CAST(unnest(generate_series(0,
              greatest(octet_length(encode(text)) // $FrameEvery - 1, 0))) AS BIGINT) AS frame_idx,
            md5(text) AS frame_sig
          FROM documents ORDER BY doc_id, frame_idx""",

    "q_dup_clusters" -> dupClustersOracleSql,

    // Wedge + close over the canonical a<b verified pairs; each triangle
    // generated once, exploded to its three corners.
    "q_dup_triangles" ->
      s"""WITH $verifiedPairsCte,
          e AS (SELECT DISTINCT a, b FROM verified),
          t AS (SELECT ab.a, ab.b, bc.b AS c
            FROM e ab JOIN e bc ON ab.b = bc.a
            WHERE EXISTS (SELECT 1 FROM e ac
              WHERE ac.a = ab.a AND ac.b = bc.b)),
          n AS (SELECT unnest([a, b, c]) AS node FROM t)
          SELECT node AS doc_id, COUNT(*) AS n_triangles
          FROM n GROUP BY node ORDER BY doc_id""",

    "q_dup_centrality" ->
      s"""$dupClustersCte,
          ${pairCentralityCtes(CentralityIters)}
          SELECT u AS doc_id, deg, ROUND(pr, 6) AS centrality
          FROM pr$CentralityIters ORDER BY doc_id""",

    "q_central_representatives" ->
      s"""$dupClustersCte,
          clus AS (SELECT node, MIN(label) AS cluster FROM cc GROUP BY node),
          ${pairCentralityCtes(CentralityIters)},
          ranked AS (SELECT c.cluster, c.node, ROUND(p.pr, 6) AS centrality,
              row_number() OVER (PARTITION BY c.cluster
                ORDER BY ROUND(p.pr, 6) DESC, c.node) AS rn
            FROM clus c JOIN pr$CentralityIters p ON c.node = p.u)
          SELECT cluster AS cluster_id, node AS doc_id, centrality
          FROM ranked WHERE rn = 1 ORDER BY cluster_id""",

    // Cluster labels to sizes to the size histogram.
    "q_dup_cluster_sizes" ->
      s"""$dupClustersCte,
          cl AS (SELECT node, MIN(label) AS cluster FROM cc GROUP BY node),
          sz AS (SELECT cluster, COUNT(*) AS size FROM cl GROUP BY cluster)
          SELECT size, COUNT(*) AS n_clusters
          FROM sz GROUP BY size ORDER BY size""",

    "q_dedup_keep_best" -> dedupKeepBestOracleSql,

    // The star-contraction variant must produce the identical
    // component-minimum labeling, so it shares the oracle verbatim.
    "q_dup_clusters_star" -> dupClustersOracleSql,

    // Mirrors the operator's DEFAULT df-cap (10k): |A| over the
    // uncapped per-doc shingles, then hot shingles leave both join
    // sides. At test SF no shingle approaches the cap, so this equals
    // the exact form — the QUALIFY pins the semantics, not the data.
    "q_containment_pairs" ->
      s"""WITH s AS (SELECT doc_id,
              unnest(list_distinct($ShinglesSql)) AS sh
            FROM documents),
          l0 AS (SELECT doc_id, sh,
              count(*) OVER (PARTITION BY doc_id) AS na FROM s),
          l AS (SELECT doc_id, sh, na FROM l0
            QUALIFY count(*) OVER (PARTITION BY sh) <= ${Dedup.DefaultMaxShingleDf}),
          p AS (SELECT l.doc_id AS a, r.doc_id AS b, l.na,
              count(*) AS n_shared
            FROM l JOIN l r ON l.sh = r.sh AND l.doc_id != r.doc_id
            GROUP BY 1, 2, 3)
          SELECT a, b, n_shared,
            ROUND(CAST(n_shared AS DOUBLE) / na, 6) AS containment
          FROM p WHERE ROUND(CAST(n_shared AS DOUBLE) / na, 6) >= $ContainmentTau
          ORDER BY a, b""",

    // df-cap replayed: |A| over the UNCAPPED per-doc shingles, hot
    // shingles (df > cap) leave both join sides before candidates form.
    "q_containment_capped" ->
      s"""WITH s AS (SELECT doc_id,
              unnest(list_distinct($ShinglesSql)) AS sh
            FROM documents),
          n AS (SELECT doc_id, sh,
              count(*) OVER (PARTITION BY doc_id) AS na FROM s),
          k AS (SELECT doc_id, sh, na FROM n
            QUALIFY count(*) OVER (PARTITION BY sh) <= $ContainmentMaxDf),
          p AS (SELECT l.doc_id AS a, r.doc_id AS b, l.na,
              count(*) AS n_shared
            FROM k l JOIN k r ON l.sh = r.sh AND l.doc_id != r.doc_id
            GROUP BY 1, 2, 3)
          SELECT a, b, n_shared,
            ROUND(CAST(n_shared AS DOUBLE) / na, 6) AS containment
          FROM p
          WHERE ROUND(CAST(n_shared AS DOUBLE) / na, 6) >= $ContainmentCapTau
          ORDER BY a, b""",

    "q_contamination" ->
      s"""WITH bsh AS (SELECT doc_id AS bench_id,
              unnest(list_distinct($ShinglesSql)) AS sh
            FROM documents WHERE doc_id % 50 = 0),
          kept AS (SELECT bench_id, sh FROM (
              SELECT bench_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM bsh)
            WHERE df <= $ContamMaxDf),
          tsh AS (SELECT doc_id AS train_id,
              unnest(list_distinct($ShinglesSql)) AS sh
            FROM documents WHERE doc_id % 50 <> 0)
          SELECT train_id, bench_id, COUNT(*) AS hits
          FROM tsh JOIN kept USING (sh)
          WHERE train_id <> bench_id
          GROUP BY 1, 2 HAVING COUNT(*) >= $ContamMinHits
          ORDER BY 1, 2""",

    "q_distinct_kmv" ->
      """WITH sk AS (
           SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS fp
           FROM lineitem ORDER BY fp LIMIT 64),
         p AS (SELECT fp,
             CAST((SELECT SUM(((strpos('0123456789abcdef', substr(fp, i, 1)) - 1)::BIGINT
                          << (4*(15-i)))::BIGINT)
              FROM generate_series(1,15) AS t(i)) AS BIGINT) AS pref
           FROM sk),
         a AS (SELECT COUNT(*) AS n_sketch, CAST(MAX(pref) AS BIGINT) AS kth_prefix FROM p)
         SELECT CAST(n_sketch AS BIGINT) AS n_sketch, kth_prefix,
           CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE)
                ELSE ROUND(63.0 * 1152921504606846976.0 / kth_prefix, 6)
           END AS n_est
         FROM a""",

    "q_anti_join_bloom" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE doc_id % 10 = 0
           AND md5(substr(text, 1, 60)) NOT IN
             (SELECT md5(substr(text, 1, 60)) FROM documents WHERE doc_id % 10 <> 0)
         ORDER BY doc_id""",

    "q_semi_join_bloom" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE doc_id % 10 = 0
           AND md5(substr(text, 1, 60)) IN
             (SELECT md5(substr(text, 1, 60)) FROM documents WHERE doc_id % 10 <> 0)
         ORDER BY doc_id""",

    "q_corpus_overlap" ->
      """WITH s AS (
           SELECT md5(text) AS fp, 0 AS side FROM documents WHERE doc_id % 2 = 0
           UNION
           SELECT md5(text) AS fp, 1 AS side FROM documents WHERE doc_id % 2 <> 0),
         p AS (SELECT fp,
             MAX(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS in_b
           FROM s GROUP BY fp),
         t AS (SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
             CAST(SUM(in_b) AS BIGINT) AS n_b,
             CAST(SUM(in_a * in_b) AS BIGINT) AS n_both FROM p)
         SELECT n_a, n_b, n_both,
           ROUND(n_both / (n_a + n_b - n_both), 6) AS jaccard,
           ROUND(n_both / n_a, 6) AS containment_a,
           ROUND(n_both / n_b, 6) AS containment_b
         FROM t""",

    // Same bottom-k estimator ladder as the Spark op: per-source rank
    // window, union k-min per pair, both-sources fraction; exact values
    // from the h-keyed self-join; the flag compares ROUNDED doubles.
    "q_source_overlap_kmv" ->
      s"""WITH sh AS (SELECT DISTINCT src,
            CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h
          FROM (SELECT source AS src, unnest(${shinglesSqlOf("text")}) AS g
                FROM documents)),
          sizes AS (SELECT src, COUNT(*) AS n FROM sh GROUP BY src),
          prs AS (SELECT a.src AS src_a, b.src AS src_b,
              a.n AS n_a, b.n AS n_b
            FROM sizes a JOIN sizes b ON a.src < b.src),
          inter AS (SELECT x.src AS src_a, y.src AS src_b,
              COUNT(*) AS n_both
            FROM sh x JOIN sh y ON x.h = y.h AND x.src < y.src
            GROUP BY 1, 2),
          sk AS (SELECT src, h FROM (SELECT src, h,
              row_number() OVER (PARTITION BY src ORDER BY h) AS rn FROM sh)
            WHERE rn <= $KmvOverlapK),
          u AS (SELECT p.src_a, p.src_b, s.h,
              MAX(CASE WHEN s.src = p.src_a THEN 1 ELSE 0 END) AS ia,
              MAX(CASE WHEN s.src = p.src_b THEN 1 ELSE 0 END) AS ib
            FROM prs p JOIN sk s ON s.src IN (p.src_a, p.src_b)
            GROUP BY 1, 2, 3),
          km AS (SELECT src_a, src_b, ia, ib,
              row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
            FROM u),
          est AS (SELECT src_a, src_b,
              CAST(SUM(ia * ib) AS DOUBLE) / COUNT(*) AS je
            FROM km WHERE rn <= $KmvOverlapK GROUP BY 1, 2),
          f AS (SELECT p.src_a, p.src_b, p.n_a, p.n_b,
              COALESCE(i.n_both, 0) AS n_both,
              ROUND(CAST(COALESCE(i.n_both, 0) AS DOUBLE)
                / (p.n_a + p.n_b - COALESCE(i.n_both, 0)), 6) AS j_exact,
              ROUND(e.je, 6) AS j_est
            FROM prs p
            LEFT JOIN inter i ON p.src_a = i.src_a AND p.src_b = i.src_b
            JOIN est e ON p.src_a = e.src_a AND p.src_b = e.src_b)
          SELECT src_a, src_b, n_a, n_b, n_both, j_exact, j_est,
            abs(j_est - j_exact) <= ${3.0 / math.sqrt(KmvOverlapK)} AS est_ok
          FROM f ORDER BY src_a, src_b""",

    "q_decontaminate" ->
      s"""WITH bsh AS (SELECT doc_id AS bench_id,
              unnest(list_distinct($ShinglesSql)) AS sh
            FROM documents WHERE doc_id % 50 = 0),
          kept AS (SELECT bench_id, sh FROM (
              SELECT bench_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM bsh)
            WHERE df <= $ContamMaxDf),
          tsh AS (SELECT doc_id AS train_id,
              unnest(list_distinct($ShinglesSql)) AS sh
            FROM documents WHERE doc_id % 50 <> 0),
          flagged AS (SELECT train_id
            FROM tsh JOIN kept USING (sh)
            WHERE train_id <> bench_id
            GROUP BY train_id, bench_id HAVING COUNT(*) >= $ContamMinHits)
          SELECT doc_id, n_chars FROM documents
          WHERE doc_id % 50 <> 0
            AND doc_id NOT IN (SELECT DISTINCT train_id FROM flagged)
          ORDER BY doc_id""",

    "q_oov_ratio" ->
      s"""WITH w AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS word
            FROM documents),
          vocab AS (SELECT word FROM (
              SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1)
            ORDER BY cnt DESC, word LIMIT $OovVocab)
          SELECT doc_id, COUNT(*) AS n_words,
            CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
            ROUND(CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(*), 6) AS oov_ratio
          FROM w LEFT JOIN vocab v ON w.word = v.word
          GROUP BY doc_id ORDER BY doc_id""",

    "q_pack_budget" ->
      s"""WITH t AS (SELECT doc_id,
            CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'pack'), 1, 8)) AS BIGINT)
              % $PackShards AS shard,
            md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents),
          c AS (SELECT doc_id, n_tokens, shard,
            COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
          FROM t)
          SELECT doc_id, n_tokens, shard,
            CAST(before // $PackBudget AS BIGINT) AS pack_id
          FROM c ORDER BY doc_id""",

    // The epoch bucket arithmetic replayed: floor copies + one extra
    // under the bp%100 hash gate, materialized with generate_series.
    "q_upsample_epochs" -> {
      val cases = UpsampleEpochsBp
        .map { case (s, e) => s"WHEN '$s' THEN $e" }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, source, n_chars,
            CASE source $cases ELSE 100 END AS bp,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'epoch'), 1, 8))
              AS BIGINT) % 100 AS b
          FROM documents),
          n AS (SELECT *, bp // 100 +
            CASE WHEN b < bp % 100 THEN 1 ELSE 0 END AS copies FROM t)
          SELECT doc_id, source, n_chars,
            CAST(unnest(generate_series(1, copies)) - 1 AS BIGINT) AS copy
          FROM n WHERE copies >= 1
          ORDER BY doc_id, copy"""
    },

    // Same prefix-rule chain as q_pack_budget; string_agg under the
    // identical (h, doc_id) order materializes the packs as examples.
    "q_pack_examples" ->
      s"""WITH t AS (SELECT doc_id, text,
            CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'pack'), 1, 8)) AS BIGINT)
              % $PackShards AS shard,
            md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents),
          c AS (SELECT doc_id, text, n_tokens, shard, h,
            COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
          FROM t)
          SELECT shard, CAST(before // $PackBudget AS BIGINT) AS pack_id,
            string_agg(text, '$PackSep' ORDER BY h, doc_id) AS text,
            COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
          FROM c GROUP BY 1, 2 ORDER BY shard, pack_id""",

    // Same prefix-rule chain as q_pack_budget; seq and token_start are
    // windows inside each (shard, pack) under the identical order.
    "q_pack_boundaries" ->
      s"""WITH t AS (SELECT doc_id,
            CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'pack'), 1, 8)) AS BIGINT)
              % $PackShards AS shard,
            md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents),
          c AS (SELECT doc_id, n_tokens, shard, h,
            CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $PackBudget
              AS BIGINT) AS pack_id
          FROM t)
          SELECT shard, pack_id,
            CAST(row_number() OVER (PARTITION BY shard, pack_id
              ORDER BY h, doc_id) - 1 AS INTEGER) AS seq,
            doc_id,
            CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard, pack_id
              ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS token_start,
            n_tokens
          FROM c ORDER BY shard, pack_id, seq""",

    "q_interleave_sources" ->
      """WITH t AS (SELECT doc_id, source,
            row_number() OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
          FROM documents),
          s AS (SELECT source,
            CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS sidx
          FROM (SELECT DISTINCT source FROM documents)),
          n AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM s)
          SELECT doc_id, t.source, CAST((r - 1) * ns + sidx AS BIGINT) AS pos
          FROM t JOIN s ON t.source = s.source CROSS JOIN n
          ORDER BY pos""",

    "q_sample_per_group" ->
      s"""SELECT doc_id, source, n_chars FROM (
            SELECT doc_id, source, n_chars,
              row_number() OVER (PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents) WHERE rn <= $SamplePerSource
          ORDER BY doc_id""",

    // Mirrors dedupAgainstReference pass for pass: exact anti-join via
    // NOT EXISTS (null-safe, like Spark's left_anti), then cross-table
    // banding and the standard word-set Jaccard verify.
    "q_dedup_incremental" ->
      s"""WITH ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
          batch AS (SELECT * FROM documents WHERE doc_id % 2 <> 0),
          fresh AS (SELECT * FROM batch b WHERE NOT EXISTS (
            SELECT 1 FROM ref r WHERE md5(r.text) = md5(b.text))),
          sigb AS (SELECT doc_id,
            ${(0 until 4).map(minhashSqlCol).mkString(", ")} FROM fresh),
          sigr AS (SELECT doc_id,
            ${(0 until 4).map(minhashSqlCol).mkString(", ")} FROM ref),
          bandsb AS (
            SELECT doc_id, 0 AS band_id, md5(concat_ws('|', mh0, mh1)) AS band_hash FROM sigb
            UNION ALL
            SELECT doc_id, 1 AS band_id, md5(concat_ws('|', mh2, mh3)) AS band_hash FROM sigb),
          bandsr AS (
            SELECT doc_id, 0 AS band_id, md5(concat_ws('|', mh0, mh1)) AS band_hash FROM sigr
            UNION ALL
            SELECT doc_id, 1 AS band_id, md5(concat_ws('|', mh2, mh3)) AS band_hash FROM sigr),
          cand AS (
            SELECT DISTINCT l.doc_id AS b, r.doc_id AS a
            FROM bandsb l JOIN bandsr r USING (band_id, band_hash)),
          flagged AS (
            SELECT DISTINCT cand.b FROM cand
            JOIN fresh fb ON cand.b = fb.doc_id
            JOIN ref ra ON cand.a = ra.doc_id
            WHERE ROUND(
              CAST(len(list_intersect(list_distinct(str_split(lower(ra.text), ' ')),
                                      list_distinct(str_split(lower(fb.text), ' ')))) AS DOUBLE)
              / len(list_distinct(list_concat(list_distinct(str_split(lower(ra.text), ' ')),
                                              list_distinct(str_split(lower(fb.text), ' '))))), 6)
              >= $NearDupJaccard)
          SELECT doc_id, source, n_chars FROM fresh f
          WHERE NOT EXISTS (SELECT 1 FROM flagged WHERE flagged.b = f.doc_id)
          ORDER BY doc_id""",

    // Same chunking arithmetic (ceil(words/n), 1-based clamped slices),
    // first occurrence = min (doc_id, position) via the row_number twin
    // of Spark's min(struct), reassembly ordered by position. DuckDB list
    // slices are 1-based inclusive and clamp at the end, matching
    // Spark's slice(arr, start, length).
    "q_dedup_paragraph" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          pages AS (SELECT doc_id,
              array_to_string(list_transform(
                generate_series(0, CAST(ceil(len(ws) / ${ParaChunkWords}.0) AS INT) - 1),
                i -> array_to_string(
                  ws[i*$ParaChunkWords+1 : i*$ParaChunkWords+$ParaChunkWords], ' ')),
                chr(10)) AS text
            FROM w),
          paras AS (SELECT doc_id,
              unnest(generate_series(1, len(string_split(text, chr(10))))) AS idx,
              unnest(string_split(text, chr(10))) AS para
            FROM pages),
          keep AS (SELECT doc_id, para, idx,
              row_number() OVER (PARTITION BY md5(para)
                ORDER BY doc_id, idx) AS rn
            FROM paras)
          SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS text
          FROM keep WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",

    // Same Karp-Rabin arithmetic (B=257, M=1e9+7, BIGINT casts), sorted
    // distinct boundary list, 1-based substr slicing.
    "q_chunk_cdc" ->
      s"""WITH t AS (SELECT doc_id, text AS tt, len(text) AS n FROM documents),
          b AS (SELECT doc_id, tt, n,
              CASE WHEN n >= $CdcWindow THEN
                list_filter(generate_series($CdcWindow, n), i ->
                  ((${cdcTermsSql}) % ${CdcM}) % ${1L << CdcBits} = 0)
              ELSE [] END AS cuts
            FROM t),
          ba AS (SELECT doc_id, tt, n,
              list_sort(list_distinct(
                list_concat(list_concat([0], cuts), [n]))) AS bs FROM b),
          c AS (SELECT doc_id,
              unnest(generate_series(1, len(bs)-1)) AS ci, tt, bs FROM ba)
          SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
            substr(tt, CAST(bs[ci] AS INTEGER) + 1,
              CAST(bs[ci+1] - bs[ci] AS INTEGER)) AS chunk,
            CAST(len(substr(tt, CAST(bs[ci] AS INTEGER) + 1,
              CAST(bs[ci+1] - bs[ci] AS INTEGER))) AS INTEGER) AS n_chars,
            md5(substr(tt, CAST(bs[ci] AS INTEGER) + 1,
              CAST(bs[ci+1] - bs[ci] AS INTEGER))) AS chunk_hash
          FROM c ORDER BY doc_id, chunk_idx""",

    // The CDC chain + the dedupParagraphs keep-first/reassemble tail
    // (row_number over the chunk hash, byte-exact string_agg).
    "q_dedup_cdc" ->
      s"""WITH t AS (SELECT doc_id, text AS tt, len(text) AS n FROM documents),
          b AS (SELECT doc_id, tt, n,
              CASE WHEN n >= $CdcWindow THEN
                list_filter(generate_series($CdcWindow, n), i ->
                  ((${cdcTermsSql}) % ${CdcM}) % ${1L << CdcBits} = 0)
              ELSE [] END AS cuts
            FROM t),
          ba AS (SELECT doc_id, tt, n,
              list_sort(list_distinct(
                list_concat(list_concat([0], cuts), [n]))) AS bs FROM b),
          c AS (SELECT doc_id,
              unnest(generate_series(1, len(bs)-1)) AS ci, tt, bs FROM ba),
          ch AS (SELECT doc_id, CAST(ci AS INTEGER) AS ci,
              substr(tt, CAST(bs[ci] AS INTEGER) + 1,
                CAST(bs[ci+1] - bs[ci] AS INTEGER)) AS chunk
            FROM c),
          keep AS (SELECT doc_id, ci, chunk,
              row_number() OVER (PARTITION BY md5(chunk)
                ORDER BY doc_id, ci) AS rn
            FROM ch)
          SELECT doc_id, string_agg(chunk, '' ORDER BY ci) AS text
          FROM keep WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",

    "q_gram_novelty" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          g AS (SELECT doc_id, CAST(i AS INTEGER) AS p,
                  md5(array_to_string(ws[i:i+$DupGramWords-1], ' ')) AS h
                FROM w, LATERAL (SELECT unnest(
                  generate_series(1, len(ws)-$DupGramWords+1)) AS i)
                WHERE len(ws) >= $DupGramWords),
          sc AS (SELECT doc_id, count(*) AS n_grams,
                  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS unique_grams
                FROM (SELECT doc_id, count(*) OVER (PARTITION BY h) AS cnt
                      FROM g)
                GROUP BY doc_id)
          SELECT d.doc_id, COALESCE(sc.n_grams, 0) AS n_grams,
            COALESCE(sc.unique_grams, 0) AS unique_grams,
            ROUND(CAST(sc.unique_grams AS DOUBLE) / sc.n_grams, 6) AS novelty
          FROM (SELECT DISTINCT doc_id FROM documents) d
          LEFT JOIN sc ON d.doc_id = sc.doc_id ORDER BY d.doc_id""",

    "q_duplication_report" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                FROM documents),
          g AS (SELECT doc_id, CAST(i AS INTEGER) AS p,
                  md5(array_to_string(ws[i:i+$DupGramWords-1], ' ')) AS h
                FROM w, LATERAL (SELECT unnest(
                  generate_series(1, len(ws)-$DupGramWords+1)) AS i)
                WHERE len(ws) >= $DupGramWords),
          f AS (SELECT doc_id, p, count(*) OVER (PARTITION BY h) AS cnt FROM g),
          ga AS (SELECT w.source, count(*) AS n_grams,
                  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS dup_grams
                FROM f JOIN w ON f.doc_id = w.doc_id GROUP BY w.source),
          cov AS (SELECT DISTINCT doc_id, wi FROM
                  (SELECT doc_id,
                     unnest(generate_series(p, p+$DupGramWords-1)) AS wi
                   FROM f WHERE cnt > 1)),
          words AS (SELECT doc_id, source,
              unnest(generate_series(1, len(ws))) AS wi FROM w),
          wa AS (SELECT words.source, count(*) AS n_words,
                  CAST(SUM(CASE WHEN cov.wi IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS dup_words
                FROM words LEFT JOIN cov
                  ON words.doc_id = cov.doc_id AND words.wi = cov.wi
                GROUP BY words.source)
          SELECT COALESCE(ga.source, wa.source) AS source,
            COALESCE(n_grams, 0) AS n_grams,
            COALESCE(dup_grams, 0) AS dup_grams,
            COALESCE(n_words, 0) AS n_words,
            COALESCE(dup_words, 0) AS dup_words,
            CASE WHEN COALESCE(n_grams, 0) > 0 THEN
              ROUND(CAST(dup_grams AS DOUBLE) / n_grams, 6) END AS dup_gram_rate,
            CASE WHEN COALESCE(n_words, 0) > 0 THEN
              ROUND(CAST(dup_words AS DOUBLE) / n_words, 6) END AS dup_word_rate
          FROM ga FULL JOIN wa ON ga.source = wa.source ORDER BY source""",

    // Word 8-gram instances (docs shorter than the gram emit none), dup
    // = corpus count > 1, islands merge instances whose [p, p+n-1]
    // intervals overlap or touch (gap <= n). lag NULL on the first
    // instance falls through CASE to 1 — the same null-falsy island
    // opener as the Spark when/otherwise.
    "q_dup_spans" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          g AS (SELECT doc_id, CAST(i AS INTEGER) AS p,
                  md5(array_to_string(ws[i:i+$DupGramWords-1], ' ')) AS h
                FROM w, LATERAL (SELECT unnest(
                  generate_series(1, len(ws)-$DupGramWords+1)) AS i)
                WHERE len(ws) >= $DupGramWords),
          d AS (SELECT doc_id, p FROM g
                QUALIFY count(*) OVER (PARTITION BY h) > 1),
          i AS (SELECT doc_id, p,
                  CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                         <= $DupGramWords THEN 0 ELSE 1 END AS nw FROM d),
          s AS (SELECT doc_id, p,
                  SUM(nw) OVER (PARTITION BY doc_id ORDER BY p) AS isl FROM i)
          SELECT doc_id, CAST(MIN(p) AS INTEGER) AS span_start,
            CAST(MAX(p) + $DupGramWords - 1 AS INTEGER) AS span_end,
            CAST(MAX(p) - MIN(p) + $DupGramWords AS INTEGER) AS span_words,
            COUNT(*) AS n_grams
          FROM s GROUP BY doc_id, isl ORDER BY doc_id, span_start""",

    // Same gram table; removable = duplicated AND not the canonical
    // minimum-(doc, p) instance; covered word indices drop; fully
    // emptied docs vanish with their group.
    "q_dedup_substring" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          g AS (SELECT doc_id, CAST(i AS INTEGER) AS p,
                  md5(array_to_string(ws[i:i+$DupGramWords-1], ' ')) AS h
                FROM w, LATERAL (SELECT unnest(
                  generate_series(1, len(ws)-$DupGramWords+1)) AS i)
                WHERE len(ws) >= $DupGramWords),
          r AS (SELECT doc_id, p FROM
                  (SELECT doc_id, p, count(*) OVER (PARTITION BY h) AS cnt,
                     row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
                   FROM g)
                WHERE cnt > 1 AND rn > 1),
          cov AS (SELECT DISTINCT doc_id, wi FROM
                  (SELECT doc_id,
                     unnest(generate_series(p, p+$DupGramWords-1)) AS wi FROM r)),
          words AS (SELECT doc_id,
              unnest(generate_series(1, len(ws))) AS wi, unnest(ws) AS word
            FROM w)
          SELECT doc_id, string_agg(word, ' ' ORDER BY wi) AS text
          FROM words x WHERE NOT EXISTS
            (SELECT 1 FROM cov c WHERE c.doc_id = x.doc_id AND c.wi = x.wi)
          GROUP BY doc_id ORDER BY doc_id""",

    // Span EXCISION replayed: the q_dup_spans island arithmetic down to
    // disjoint [s, e] word intervals, covered words cut, survivors
    // rejoin; counts close against the space-NORMALIZED original.
    "q_dedup_spans_removed" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          g AS (SELECT doc_id, CAST(i AS INTEGER) AS p,
                  md5(array_to_string(ws[i:i+$DupGramWords-1], ' ')) AS h
                FROM w, LATERAL (SELECT unnest(
                  generate_series(1, len(ws)-$DupGramWords+1)) AS i)
                WHERE len(ws) >= $DupGramWords),
          d AS (SELECT doc_id, p FROM g
                QUALIFY count(*) OVER (PARTITION BY h) > 1),
          i AS (SELECT doc_id, p,
                  CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                         <= $DupGramWords THEN 0 ELSE 1 END AS nw FROM d),
          si AS (SELECT doc_id, p,
                  SUM(nw) OVER (PARTITION BY doc_id ORDER BY p) AS isl FROM i),
          sp AS (SELECT doc_id, MIN(p) AS s, MAX(p) + $DupGramWords - 1 AS e
                FROM si GROUP BY doc_id, isl),
          agg AS (SELECT doc_id, COUNT(*) AS nsp, SUM(e - s + 1) AS nwr
                FROM sp GROUP BY doc_id),
          words AS (SELECT doc_id,
              unnest(generate_series(1, len(ws))) AS wi, unnest(ws) AS word
            FROM w),
          kept AS (SELECT x.doc_id, string_agg(word, ' ' ORDER BY wi) AS ktext
                FROM words x WHERE NOT EXISTS
                  (SELECT 1 FROM sp WHERE sp.doc_id = x.doc_id
                     AND x.wi BETWEEN sp.s AND sp.e)
                GROUP BY x.doc_id)
          SELECT w.doc_id, COALESCE(k.ktext, '') AS text,
            CAST(COALESCE(a.nsp, 0) AS BIGINT) AS n_spans_removed,
            CAST(COALESCE(a.nwr, 0) AS BIGINT) AS n_words_removed,
            CAST(len(array_to_string(ws, ' ')) - len(COALESCE(k.ktext, ''))
              AS INTEGER) AS n_chars_removed
          FROM w LEFT JOIN kept k ON w.doc_id = k.doc_id
            LEFT JOIN agg a ON w.doc_id = a.doc_id
          ORDER BY w.doc_id""",

    // The excision chain closed per source: same spans/kept arithmetic,
    // rolled up with the removed-char share of the normalized corpus.
    "q_excise_report" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          g AS (SELECT doc_id, CAST(i AS INTEGER) AS p,
                  md5(array_to_string(ws[i:i+$DupGramWords-1], ' ')) AS h
                FROM w, LATERAL (SELECT unnest(
                  generate_series(1, len(ws)-$DupGramWords+1)) AS i)
                WHERE len(ws) >= $DupGramWords),
          d AS (SELECT doc_id, p FROM g
                QUALIFY count(*) OVER (PARTITION BY h) > 1),
          i AS (SELECT doc_id, p,
                  CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                         <= $DupGramWords THEN 0 ELSE 1 END AS nw FROM d),
          si AS (SELECT doc_id, p,
                  SUM(nw) OVER (PARTITION BY doc_id ORDER BY p) AS isl FROM i),
          sp AS (SELECT doc_id, MIN(p) AS s, MAX(p) + $DupGramWords - 1 AS e
                FROM si GROUP BY doc_id, isl),
          agg AS (SELECT doc_id, COUNT(*) AS nsp, SUM(e - s + 1) AS nwr
                FROM sp GROUP BY doc_id),
          words AS (SELECT doc_id,
              unnest(generate_series(1, len(ws))) AS wi, unnest(ws) AS word
            FROM w),
          kept AS (SELECT x.doc_id, string_agg(word, ' ' ORDER BY wi) AS ktext
                FROM words x WHERE NOT EXISTS
                  (SELECT 1 FROM sp WHERE sp.doc_id = x.doc_id
                     AND x.wi BETWEEN sp.s AND sp.e)
                GROUP BY x.doc_id),
          per AS (SELECT w.doc_id,
              COALESCE(a.nsp, 0) AS nsp, COALESCE(a.nwr, 0) AS nwr,
              len(array_to_string(ws, ' ')) - len(COALESCE(k.ktext, ''))
                AS ncr,
              len(COALESCE(k.ktext, '')) AS nck
            FROM w LEFT JOIN kept k ON w.doc_id = k.doc_id
              LEFT JOIN agg a ON w.doc_id = a.doc_id)
          SELECT d0.source, COUNT(*) AS n_docs,
            CAST(SUM(CASE WHEN nsp > 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS docs_touched,
            CAST(SUM(nsp) AS BIGINT) AS spans_removed,
            CAST(SUM(nwr) AS BIGINT) AS words_removed,
            CAST(SUM(ncr) AS BIGINT) AS chars_removed,
            CAST(SUM(nck) AS BIGINT) AS chars_kept,
            ROUND(CAST(SUM(ncr) AS DOUBLE) / (SUM(ncr) + SUM(nck)), 6)
              AS removed_share
          FROM per JOIN documents d0 ON per.doc_id = d0.doc_id
          GROUP BY d0.source ORDER BY d0.source""",

    // Suffix-automaton LRS replayed by brute force, bounded by the
    // clamp: enumerate EVERY substring of length ≤ LrsClamp in the
    // 150-char lowercased prefix, find lengths with a duplicate
    // occurrence, take the max. A length-L repeat implies repeats at
    // all shorter lengths, so max-over-duplicated-lengths below the
    // clamp equals the automaton's clamped answer exactly.
    "q_dedup_lrs" ->
      s"""WITH t AS (SELECT doc_id, lower(substr(text, 1, $LrsPrefix)) AS s
            FROM documents),
          dup AS (
            SELECT doc_id, l FROM (
              SELECT t.doc_id, gs.l AS l, substr(t.s, p.i, gs.l) AS sub
              FROM t,
                LATERAL (SELECT unnest(range(1, len(s) + 1)) AS i) p,
                LATERAL (SELECT unnest(range(1, $LrsClamp + 1)) AS l) gs
              WHERE p.i + gs.l - 1 <= len(t.s))
            GROUP BY doc_id, l, sub HAVING count(*) >= 2),
          mx AS (SELECT doc_id, MAX(l) AS lrs FROM dup GROUP BY doc_id)
          SELECT d.doc_id, CAST(COALESCE(mx.lrs, 0) AS INTEGER) AS lrs_len,
            COALESCE(mx.lrs, 0) >= $LrsRepetitiveFloor AS is_repetitive
          FROM documents d LEFT JOIN mx USING (doc_id)
          ORDER BY d.doc_id""",

    // fastText-shaped scorer replayed: the same md5 bucket wheel on
    // unigram + bigram terms, the same md5-derived fixture weights,
    // decimal-exact dot, 6dp mean/sigmoid (round absorbing last-ulp
    // exp() drift — the perplexity convention).
    "q_quality_classifier" ->
      s"""WITH $classifierScoreCte
          SELECT doc_id, n_feats, logit, prob, label
          FROM cls ORDER BY doc_id""",

    // The classifier-driven curriculum split: quantile bounds over the
    // same scored table, 6dp-rounded, >= bin rule (percentileBins').
    "q_classifier_buckets" ->
      s"""WITH $classifierScoreCte,
          cb AS (SELECT ROUND(quantile_cont(prob, 0.33), 6) AS q1,
              ROUND(quantile_cont(prob, 0.67), 6) AS q2 FROM cls)
          SELECT doc_id, n_feats, logit, prob, label,
            CASE WHEN prob IS NULL THEN NULL
                 ELSE CAST((CASE WHEN prob >= q1 THEN 1 ELSE 0 END)
                    + (CASE WHEN prob >= q2 THEN 1 ELSE 0 END) AS INTEGER) END
              AS bin
          FROM cls CROSS JOIN cb ORDER BY doc_id""",

    // Fixture rebuilt verbatim (7-word lines, %4 punctuation wheel,
    // %11 javascript poison, %23/%29 doc poisons), then the C4 line
    // rules and doc gates replayed with list_filter.
    "q_c4_lines" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          li AS (SELECT doc_id, i,
                  array_to_string(ws[CAST(i*7+1 AS INTEGER):CAST(i*7+7 AS INTEGER)], ' ')
                    || CASE (doc_id + i) % 4 WHEN 0 THEN '.' WHEN 1 THEN '!'
                         WHEN 2 THEN '?' ELSE '' END AS line0
                FROM w, LATERAL (SELECT unnest(
                  generate_series(0, (len(ws) - 1) // 7)) AS i)),
          li2 AS (SELECT doc_id, i,
                  CASE WHEN (doc_id + i) % 11 = 5 THEN 'javascript ' || line0
                       ELSE line0 END AS line FROM li),
          doc AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i)
                  || CASE WHEN doc_id % 23 = 5
                       THEN chr(10) || 'lorem ipsum filler line.' ELSE '' END
                  || CASE WHEN doc_id % 29 = 7
                       THEN chr(10) || 'code { block }.' ELSE '' END AS itext
                FROM li2 GROUP BY doc_id),
          flt AS (SELECT doc_id, itext,
                  list_filter(string_split(itext, chr(10)), x ->
                    right(x, 1) IN ('.', '!', '?')
                    AND len(string_split(trim(x), ' ')) >= 3
                    AND position('javascript' IN lower(x)) = 0) AS kept,
                  len(string_split(itext, chr(10))) AS nl
                FROM doc)
          SELECT doc_id, array_to_string(kept, chr(10)) AS itext,
            CAST(len(kept) AS INTEGER) AS n_lines_kept,
            CAST(nl - len(kept) AS INTEGER) AS n_lines_dropped
          FROM flt
          WHERE len(kept) >= 3 AND position('{' IN itext) = 0
            AND position('lorem ipsum' IN lower(itext)) = 0
          ORDER BY doc_id""",

    // Cluster labels from the shared recursive-CC chain; singleton docs
    // represent themselves; the split wheel hashes the representative
    // (CAST || salt — the hash32 convention).
    "q_split_by_cluster" ->
      s"""$dupClustersCte,
          clus AS (SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM cc GROUP BY node),
          rep AS (SELECT d.doc_id, d.source,
              COALESCE(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN clus c USING (doc_id))
          SELECT doc_id, source, cluster_id,
            CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)
                   || 'clsplit'), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                 WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)
                   || 'clsplit'), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
                 ELSE 'test' END AS split
          FROM rep ORDER BY doc_id""",

    // The classifier chain split even/odd, binned on the 10-bin spine,
    // add-one smoothed shares, 6dp PSI contributions.
    "q_score_drift" ->
      s"""WITH $classifierScoreCte,
          ha AS (SELECT CAST(LEAST(FLOOR(prob * 10), 9) AS INTEGER) AS bin
            FROM cls WHERE doc_id % 2 = 0),
          hb AS (SELECT CAST(LEAST(FLOOR(prob * 10), 9) AS INTEGER) AS bin
            FROM cls WHERE doc_id % 2 = 1),
          ca AS (SELECT bin, COUNT(*) AS n_a FROM ha GROUP BY bin),
          cb AS (SELECT bin, COUNT(*) AS n_b FROM hb GROUP BY bin),
          ta AS (SELECT CAST(SUM(n_a) AS BIGINT) AS t FROM ca),
          tb AS (SELECT CAST(SUM(n_b) AS BIGINT) AS t FROM cb),
          spine AS (SELECT CAST(unnest(generate_series(0, 9)) AS INTEGER) AS bin)
          SELECT spine.bin,
            CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
            CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
            ROUND(CAST(COALESCE(n_a, 0) + 1 AS DOUBLE)
              / CAST((SELECT t FROM ta) + 10 AS DOUBLE), 6) AS share_a,
            ROUND(CAST(COALESCE(n_b, 0) + 1 AS DOUBLE)
              / CAST((SELECT t FROM tb) + 10 AS DOUBLE), 6) AS share_b,
            ROUND((CAST(COALESCE(n_a, 0) + 1 AS DOUBLE)
                / CAST((SELECT t FROM ta) + 10 AS DOUBLE)
              - CAST(COALESCE(n_b, 0) + 1 AS DOUBLE)
                / CAST((SELECT t FROM tb) + 10 AS DOUBLE))
              * ln((CAST(COALESCE(n_a, 0) + 1 AS DOUBLE)
                  / CAST((SELECT t FROM ta) + 10 AS DOUBLE))
                / (CAST(COALESCE(n_b, 0) + 1 AS DOUBLE)
                  / CAST((SELECT t FROM tb) + 10 AS DOUBLE))), 6)
              AS psi_contrib
          FROM spine LEFT JOIN ca ON spine.bin = ca.bin
            LEFT JOIN cb ON spine.bin = cb.bin
          ORDER BY spine.bin""",

    // Margin = |prob - 0.5| at 6dp, k-smallest with doc-key ties.
    "q_uncertain_sample" ->
      s"""WITH $classifierScoreCte,
          m AS (SELECT doc_id, n_feats, logit, prob, label,
              ROUND(ABS(prob - 0.5), 6) AS margin FROM cls),
          top AS (SELECT * FROM m ORDER BY margin, doc_id LIMIT 50)
          SELECT doc_id, n_feats, logit, prob, label, margin
          FROM top ORDER BY doc_id""",

    // Gopher CASE + classifier CTE joined, confusion-rolled per source.
    "q_gate_agreement" ->
      s"""WITH $classifierScoreCte,
          gq AS (SELECT doc_id, source,
              (len(str_split(text, ' ')) BETWEEN 50 AND 100000)
              AND (ROUND((length(text) - (len(str_split(text, ' ')) - 1.0))
                    / len(str_split(text, ' ')), 6) BETWEEN 3 AND 10)
              AND (ROUND(1.0 - CAST(len(list_distinct(str_split(lower(text), ' ')))
                    AS DOUBLE) / len(str_split(lower(text), ' ')), 6) < 0.5)
                AS gopher_keep
            FROM documents)
          SELECT gq.source, gq.gopher_keep,
            cls.label = 'keep' AS cls_keep, COUNT(*) AS n_docs,
            gq.gopher_keep = (cls.label = 'keep') AS agree
          FROM gq JOIN cls ON gq.doc_id = cls.doc_id
          GROUP BY 1, 2, 3
          ORDER BY gq.source, gq.gopher_keep, cls_keep""",

    // All three legs replayed from their pinned fragments; NULL ppl_bin
    // (sub-2-word docs) falls to the ELSE 0 vote on both engines.
    "q_quality_ensemble" ->
      s"""WITH $lmPerplexitySql,
          eb AS (SELECT ROUND(quantile_cont(ppl, 0.33), 6) AS q1,
              ROUND(quantile_cont(ppl, 0.67), 6) AS q2 FROM scored),
          pb AS (SELECT doc_id,
              CASE WHEN ppl IS NULL THEN NULL
                   ELSE CAST((CASE WHEN ppl >= q1 THEN 1 ELSE 0 END)
                      + (CASE WHEN ppl >= q2 THEN 1 ELSE 0 END) AS INTEGER) END
                AS ppl_bin
            FROM scored CROSS JOIN eb),
          $classifierScoreCte,
          gq AS (SELECT doc_id,
              (len(str_split(text, ' ')) BETWEEN 50 AND 100000)
              AND (ROUND((length(text) - (len(str_split(text, ' ')) - 1.0))
                    / len(str_split(text, ' ')), 6) BETWEEN 3 AND 10)
              AND (ROUND(1.0 - CAST(len(list_distinct(str_split(lower(text), ' ')))
                    AS DOUBLE) / len(str_split(lower(text), ' ')), 6) < 0.5)
                AS gopher_keep
            FROM documents)
          SELECT gq.doc_id, gq.gopher_keep, pb.ppl_bin,
            cls.label AS cls_label,
            CAST(CAST(gq.gopher_keep AS INTEGER)
              + (CASE WHEN pb.ppl_bin <= 1 THEN 1 ELSE 0 END)
              + (CASE WHEN cls.label = 'keep' THEN 1 ELSE 0 END)
              AS INTEGER) AS n_pass,
            (CAST(gq.gopher_keep AS INTEGER)
              + (CASE WHEN pb.ppl_bin <= 1 THEN 1 ELSE 0 END)
              + (CASE WHEN cls.label = 'keep' THEN 1 ELSE 0 END)) = 3 AS keep
          FROM gq JOIN pb ON gq.doc_id = pb.doc_id
            JOIN cls ON gq.doc_id = cls.doc_id
          ORDER BY gq.doc_id""",

    // Exact integer quotient, 6dp round, share floor replayed.
    "q_heavy_hitters" ->
      s"""WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents),
          c AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
          t AS (SELECT SUM(n) AS tot FROM c)
          SELECT word, n, ROUND(CAST(n AS DOUBLE) / tot, 6) AS share
          FROM c CROSS JOIN t
          WHERE ROUND(CAST(n AS DOUBLE) / tot, 6) >= $HeavyShare
          ORDER BY word""",

    // The SAME single pmi double-expression tree as the Spark side
    // (one ln over nested divides), totals taken BEFORE the min-count
    // filter.
    "q_collocations" ->
      s"""WITH ws AS (SELECT str_split(lower(text), ' ') AS w FROM documents),
          b0 AS (SELECT unnest(list_transform(
              generate_series(1, len(w) - 1),
              i -> w[i] || ' ' || w[i + 1])) AS bg FROM ws),
          bc AS (SELECT str_split(bg, ' ')[1] AS w1, str_split(bg, ' ')[2] AS w2,
              COUNT(*) AS n_pair FROM b0 GROUP BY 1, 2),
          uc AS (SELECT unnest(w) AS wd FROM ws),
          u AS (SELECT wd, COUNT(*) AS n_w FROM uc GROUP BY wd),
          m AS (SELECT CAST(SUM(n_pair) AS DOUBLE) AS mm FROM bc),
          n AS (SELECT CAST(SUM(n_w) AS DOUBLE) AS nn FROM u)
          SELECT bc.w1, bc.w2, bc.n_pair,
            ROUND(ln((CAST(bc.n_pair AS DOUBLE) / m.mm) /
              ((CAST(a.n_w AS DOUBLE) / n.nn) *
               (CAST(b.n_w AS DOUBLE) / n.nn))), 6) AS pmi
          FROM bc JOIN u a ON bc.w1 = a.wd JOIN u b ON bc.w2 = b.wd
          CROSS JOIN m CROSS JOIN n
          WHERE bc.n_pair >= $CollocMinCount
          ORDER BY pmi DESC, w1, w2 LIMIT $CollocTopK""",

    "q_label_balance" ->
      """WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
          m AS (SELECT MIN(n) AS mn FROM c),
          r AS (SELECT vec_id, label,
              row_number() OVER (PARTITION BY label
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM embeddings)
          SELECT vec_id, label FROM r CROSS JOIN m
          WHERE rn <= mn ORDER BY vec_id""",

    // quantile_cont is DuckDB's exact interpolated percentile — the
    // twin of Spark's percentile() (both 6dp-rounded).
    "q_length_quantiles" ->
      s"""SELECT source, COUNT(*) AS n_docs,
            ROUND(quantile_cont(len(string_split(text, ' ')), 0.5), 6) AS p50_words,
            ROUND(quantile_cont(len(string_split(text, ' ')), 0.9), 6) AS p90_words,
            ROUND(quantile_cont(len(string_split(text, ' ')), 0.99), 6) AS p99_words
          FROM documents GROUP BY source ORDER BY source""",

    // Candidate generation as q_lsh_pairs, verified Jaccard binned at
    // 0.1 — floor on the 6dp-rounded value, both engines.
    "q_dedup_threshold_sweep" ->
      s"""WITH sig AS (SELECT doc_id,
            ${(0 until 4).map(minhashSqlCol).mkString(", ")} FROM documents),
          bands AS (
            SELECT doc_id, 0 AS band_id, md5(concat_ws('|', mh0, mh1)) AS band_hash FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band_id, md5(concat_ws('|', mh2, mh3)) AS band_hash FROM sig),
          pairs AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r USING (band_id, band_hash)
            WHERE l.doc_id < r.doc_id),
          jac AS (SELECT ROUND(
              CAST(len(list_intersect(list_distinct(str_split(lower(da.text), ' ')),
                                      list_distinct(str_split(lower(db.text), ' ')))) AS DOUBLE)
              / len(list_distinct(list_concat(list_distinct(str_split(lower(da.text), ' ')),
                                              list_distinct(str_split(lower(db.text), ' '))))), 6) AS j
            FROM pairs
            JOIN documents da ON pairs.a = da.doc_id
            JOIN documents db ON pairs.b = db.doc_id)
          SELECT FLOOR(j * 10) / 10 AS bin, COUNT(*) AS n_pairs
          FROM jac GROUP BY 1 ORDER BY 1""",

    // Same verified-pairs chain, closed by a source-pair rollup; the
    // cross flag derives from the grouped keys.
    "q_leakage_cross_source" ->
      s"""WITH $verifiedPairsCte,
          srcp AS (SELECT da.source AS sa, db.source AS sb
            FROM verified v
            JOIN documents da ON v.a = da.doc_id
            JOIN documents db ON v.b = db.doc_id)
          SELECT LEAST(sa, sb) AS source_a, GREATEST(sa, sb) AS source_b,
            COUNT(*) AS n_pairs,
            LEAST(sa, sb) != GREATEST(sa, sb) AS cross_source
          FROM srcp GROUP BY 1, 2 ORDER BY 1, 2""",

    // The q_token_bpe recursive segmenter, closed by a per-source agg;
    // chars counted fresh from text on both engines.
    "q_token_fertility" ->
      s"""WITH RECURSIVE merges(pair, rank) AS (VALUES $BpeMergeValues),
          words AS (
            SELECT doc_id, unnest(regexp_extract_all(lower(text),
              '${Bpe.PreTokenPattern}')) AS word
            FROM documents),
          seg(doc_id, toks, done) AS (
            SELECT doc_id, string_split(word, ''), false FROM words
            UNION ALL
            SELECT s.doc_id,
              CASE WHEN b.bi IS NULL THEN s.toks
                   ELSE list_concat(list_concat(
                     s.toks[1:b.bi-1], [s.toks[b.bi] || s.toks[b.bi+1]]),
                     s.toks[b.bi+2:len(s.toks)]) END,
              b.bi IS NULL
            FROM seg s LEFT JOIN LATERAL (
              SELECT gs.i AS bi
              FROM (SELECT unnest(range(1, len(s.toks))) AS i) gs
              JOIN merges m ON m.pair = s.toks[gs.i] || ' ' || s.toks[gs.i+1]
              ORDER BY m.rank, gs.i LIMIT 1
            ) b ON true
            WHERE NOT s.done),
          per AS (SELECT d.doc_id, d.source, len(d.text) AS nc,
              COALESCE(t.n, 0) AS nt
            FROM documents d LEFT JOIN
              (SELECT doc_id, SUM(len(toks)) AS n FROM seg WHERE done
               GROUP BY doc_id) t USING (doc_id))
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(nc) AS BIGINT) AS n_chars,
            CAST(SUM(nt) AS BIGINT) AS n_tokens,
            CASE WHEN SUM(nt) > 0 THEN
              ROUND(CAST(SUM(nc) AS DOUBLE) / SUM(nt), 6) END AS chars_per_token
          FROM per GROUP BY source ORDER BY source""",

    // DSIR replayed: the same md5 bucket wheel (word || salt — the
    // hash32 convention), add-one-smoothed bucket distributions, llr
    // rounded 6dp per bucket (absorbing ln() last-ulp drift) and
    // decimal-summed per doc.
    "q_importance_weights" -> (dsirWeightsSql + " ORDER BY doc_id"),

    "q_importance_sample" ->
      s"""WITH w AS (${dsirWeightsSql}),
          s AS (SELECT doc_id, n_words, logw,
                  ROUND(logw + ROUND(-ln(-ln(
                    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                      || 'dsir:gumbel'), 1, 8)) AS BIGINT) + 1 AS DOUBLE)
                    / 4294967296.0)), 6), 6) AS score
                FROM w),
          top AS (SELECT * FROM s ORDER BY score DESC, doc_id LIMIT $DsirSampleK)
          SELECT * FROM top ORDER BY doc_id""",

    // Bit-for-bit Morton interleave: bit b of column i at position
    // b*2 + i, generated for the same ZorderBits.
    "q_zorder_key" ->
      s"""SELECT o_orderkey, CAST(${(0 until ZorderBits).map(b =>
            s"((o_custkey >> $b) & 1) * ${1L << (2 * b)} + " +
              s"((dayofyear(o_orderdate) >> $b) & 1) * ${1L << (2 * b + 1)}")
            .mkString(" + ")} AS BIGINT) AS zkey
          FROM orders ORDER BY o_orderkey""",

    // Fixture rebuilt verbatim, then the stripHtml stages replayed in
    // RE2 (same patterns — RE2 ∩ Java syntax; chr(10) is the literal
    // newline Spark's replacement strings carry).
    "q_html_extract" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
            FROM documents),
          h AS (SELECT doc_id,
              '<html><head><title>' || source ||
              '</title><script type="text/javascript">var id = ' ||
              CAST(doc_id AS VARCHAR) ||
              ';</script><style>p { margin: 0 }</style></head>' || chr(10) ||
              '<body><h1>Doc ' || CAST(doc_id AS VARCHAR) ||
              '</h1><!-- generated -->' || chr(10) || '<p>' ||
              array_to_string(ws[1:len(ws)//2], ' ') ||
              ' &amp; more</p><p>' ||
              array_to_string(ws[len(ws)//2+1:len(ws)], ' ') ||
              ' &lt;end&gt;</p></body></html>' AS raw
            FROM w),
          s1 AS (SELECT doc_id, regexp_replace(raw,
              '(?is)<(script|style)\\b[^>]*>.*?</(script|style)>', ' ', 'g') AS t
            FROM h),
          s2 AS (SELECT doc_id,
              regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1),
          s3 AS (SELECT doc_id, regexp_replace(t,
              '(?i)<(br|/p|/div|/h[1-6]|/li|/tr)\\b[^>]*>', chr(10), 'g') AS t
            FROM s2),
          s4 AS (SELECT doc_id,
              regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM s3),
          s5 AS (SELECT doc_id,
              replace(replace(replace(replace(replace(t,
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', CHR(39)), '&amp;', '&') AS t FROM s4),
          s6 AS (SELECT doc_id, regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(t, '[ \\t]+', ' ', 'g'),
                ' ?\\n ?', chr(10), 'g'),
              '\\n{2,}', chr(10), 'g'),
              '^\\s+|\\s+$$', '', 'g') AS text FROM s5)
          SELECT doc_id, text FROM s6 ORDER BY doc_id""",

    // Same Unicode script properties (Java \p{IsX} == RE2 \p{X}), same
    // delete-and-diff counting, same fixed tie order.
    "q_script_profile" ->
      s"""WITH c AS (SELECT doc_id, len(text) AS n,
            len(text) - len(regexp_replace(text, '\\p{Arabic}', '', 'g')) AS ar,
            len(text) - len(regexp_replace(text, '\\p{Cyrillic}', '', 'g')) AS cy,
            len(text) - len(regexp_replace(text, '\\p{Han}', '', 'g')) AS ha,
            len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS dg,
            len(text) - len(regexp_replace(text, '\\p{Latin}', '', 'g')) AS la
          FROM documents)
          SELECT doc_id,
            CASE WHEN n > 0 THEN ROUND(CAST(ar AS DOUBLE) / n, 6) END AS arabic_ratio,
            CASE WHEN n > 0 THEN ROUND(CAST(cy AS DOUBLE) / n, 6) END AS cyrillic_ratio,
            CASE WHEN n > 0 THEN ROUND(CAST(ha AS DOUBLE) / n, 6) END AS han_ratio,
            CASE WHEN n > 0 THEN ROUND(CAST(la AS DOUBLE) / n, 6) END AS latin_ratio,
            CASE WHEN n > 0 THEN ROUND(CAST(dg AS DOUBLE) / n, 6) END AS digit_ratio,
            CASE WHEN n IS NULL THEN NULL
                 WHEN n = 0 THEN 'none'
                 WHEN greatest(ar, cy, ha, la) = 0 THEN 'other'
                 WHEN ar = greatest(ar, cy, ha, la) THEN 'arabic'
                 WHEN cy = greatest(ar, cy, ha, la) THEN 'cyrillic'
                 WHEN ha = greatest(ar, cy, ha, la) THEN 'han'
                 ELSE 'latin' END AS dominant_script
          FROM c ORDER BY doc_id""",

    "q_corpus_datasheet" ->
      """WITH b AS (SELECT source, md5(text) AS h,
              len(string_split(text, ' ')) AS tok, len(text) AS nc
            FROM documents),
          duph AS (SELECT h FROM b GROUP BY h HAVING count(*) > 1),
          per AS (SELECT source, count(*) AS n_docs,
              CAST(SUM(nc) AS BIGINT) AS n_chars,
              CAST(SUM(tok) AS BIGINT) AS n_tokens,
              CAST(SUM(CASE WHEN duph.h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS dup_docs
            FROM b LEFT JOIN duph ON b.h = duph.h GROUP BY source),
          tot AS (SELECT SUM(n_docs) AS td, SUM(n_tokens) AS tt FROM per)
          SELECT source, n_docs, n_chars, n_tokens, dup_docs,
            ROUND(CAST(n_tokens AS DOUBLE) / n_docs, 6) AS avg_tokens,
            ROUND(CAST(n_docs AS DOUBLE) / td, 6) AS share_docs,
            ROUND(CAST(n_tokens AS DOUBLE) / tt, 6) AS share_tokens
          FROM per, tot ORDER BY source""",

    // Winnowing selection replayed list-for-list: 60-bit md5-prefix gram
    // hashes, window min with rightmost ties via list_reverse +
    // list_position, DISTINCT standing in for the Spark side's per-doc
    // array_distinct (same set, and the output re-sorts).
    "q_winnow_fp" ->
      s"""WITH t AS (SELECT doc_id, lower(text) AS tt,
              CAST(len(lower(text)) AS INTEGER) - $WinnowGram + 1 AS m
            FROM documents),
          g AS (SELECT doc_id, m,
              list_transform(generate_series(1, m), i ->
                CAST(('0x' || substr(md5(substr(tt, CAST(i AS INTEGER),
                  $WinnowGram)), 1, 15)) AS BIGINT)) AS hs
            FROM t WHERE m >= 1),
          sel AS (SELECT doc_id,
              unnest(list_transform(
                generate_series(1, greatest(m - $WinnowWindow + 1, 1)), i ->
                struct_pack(
                  pos := CAST(i + len(hs[i:i+$WinnowWindow-1])
                    - list_position(list_reverse(hs[i:i+$WinnowWindow-1]),
                                    list_min(hs[i:i+$WinnowWindow-1]))
                    AS INTEGER),
                  fp := list_min(hs[i:i+$WinnowWindow-1])))) AS s
            FROM g)
          SELECT DISTINCT doc_id, s.pos AS pos, s.fp AS fp FROM sel
          ORDER BY doc_id, pos""",

    "q_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id, lower(text) AS tt,
              CAST(len(lower(text)) AS INTEGER) - $WinnowGram + 1 AS m
            FROM documents),
          g AS (SELECT doc_id, m,
              list_transform(generate_series(1, m), i ->
                CAST(('0x' || substr(md5(substr(tt, CAST(i AS INTEGER),
                  $WinnowGram)), 1, 15)) AS BIGINT)) AS hs
            FROM t WHERE m >= 1),
          sel AS (SELECT doc_id,
              unnest(list_transform(
                generate_series(1, greatest(m - $WinnowWindow + 1, 1)), i ->
                list_min(hs[i:i+$WinnowWindow-1]))) AS fp
            FROM g),
          d AS (SELECT DISTINCT doc_id, fp FROM sel),
          n AS (SELECT doc_id, count(*) AS nf FROM d GROUP BY doc_id),
          p AS (SELECT da.doc_id AS a, db.doc_id AS b, count(*) AS n_shared
                FROM d da JOIN d db ON da.fp = db.fp AND da.doc_id < db.doc_id
                GROUP BY 1, 2)
          SELECT p.a, p.b, p.n_shared,
            ROUND(CAST(p.n_shared AS DOUBLE) / least(na.nf, nb.nf), 6) AS overlap
          FROM p JOIN n na ON na.doc_id = p.a JOIN n nb ON nb.doc_id = p.b
          WHERE p.n_shared >= $WinnowMinShared ORDER BY p.a, p.b""",

    // Quartile boundaries per source (quantile_cont == Spark percentile
    // interpolation, both 6dp-rounded); bin = count of boundaries at or
    // below the value — the same when-chain as the Spark side.
    "q_length_bins" ->
      """WITH b AS (SELECT source,
            ROUND(quantile_cont(n_chars, 0.25), 6) AS b0,
            ROUND(quantile_cont(n_chars, 0.50), 6) AS b1,
            ROUND(quantile_cont(n_chars, 0.75), 6) AS b2
          FROM documents GROUP BY 1)
          SELECT doc_id, d.source, n_chars,
            CASE WHEN n_chars IS NULL THEN NULL ELSE
              (CASE WHEN n_chars >= b0 THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars >= b1 THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars >= b2 THEN 1 ELSE 0 END) END AS bin
          FROM documents d JOIN b ON d.source IS NOT DISTINCT FROM b.source
          ORDER BY doc_id""",

    // A-ES weighted sample in the log domain: u exact in both engines
    // (32-bit int + 1 over 2^32), -ln(u) rounded to 6dp per the
    // cross-engine convention (the engines' ln may differ in the last
    // ulp), the divide by the weight exact IEEE — so the key never
    // saturates at large weights. k SMALLEST keys win, ties broken on
    // doc_id. Inner ORDER BY ... LIMIT picks the sample; outer re-sorts
    // for the row-set compare.
    "q_weighted_sample" ->
      s"""SELECT doc_id, source, n_chars FROM (
            SELECT doc_id, source, n_chars,
              ROUND(-ln(
                (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ws'), 1, 8)) AS BIGINT) + 1)
                  / 4294967296.0), 6) / CAST(n_chars AS DOUBLE) AS wkey
            FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
            ORDER BY wkey ASC, doc_id LIMIT $WeightedSampleK)
          ORDER BY doc_id""",

    "q_k_anonymity" ->
      """WITH c AS (SELECT c_nationkey, c_mktsegment,
            count(*) AS class_size
          FROM customer GROUP BY 1, 2)
         SELECT CAST(class_size AS BIGINT) AS class_size,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_rows,
           class_size < 10 AS below_k
         FROM c GROUP BY class_size ORDER BY class_size""",

    // NULL acctbal falls to 'credit' on both engines (NULL < 0 is
    // NULL -> CASE else / when-otherwise alike).
    "q_l_diversity" ->
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
            CASE WHEN c_acctbal < 0 THEN 'debt' ELSE 'credit' END AS sign
          FROM customer),
         cl AS (SELECT c_nationkey, c_mktsegment, count(*) AS nrows,
            count(DISTINCT sign)
              + MAX(CASE WHEN sign IS NULL THEN 1 ELSE 0 END) AS diversity
          FROM b GROUP BY 1, 2)
         SELECT CAST(diversity AS BIGINT) AS diversity,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(SUM(nrows) AS BIGINT) AS n_rows,
           diversity < 2 AS below_l
         FROM cl GROUP BY diversity ORDER BY diversity""",

    // Variational distance per class in exact integer arithmetic over
    // the common denominator n_c·N (absent values contribute
    // (N − Σ_present n_v)·n_c), one double division, ROUND 6 — mirrors
    // the operator's decimal pipeline term for term.
    "q_t_closeness" ->
      """WITH cv AS (SELECT c_nationkey,
            COALESCE(CAST(c_mktsegment AS VARCHAR), '(null)') AS v,
            count(*) AS ncv
          FROM customer GROUP BY 1, 2),
         cls AS (SELECT c_nationkey, SUM(ncv) AS nc FROM cv GROUP BY 1),
         vals AS (SELECT v, SUM(ncv) AS nv FROM cv GROUP BY 1),
         tot AS (SELECT SUM(ncv) AS nn FROM cv),
         per AS (SELECT c_nationkey,
            SUM(ABS(CAST(ncv AS DECIMAL(19,0)) * CAST(nn AS DECIMAL(19,0))
              - CAST(nv AS DECIMAL(19,0)) * CAST(nc AS DECIMAL(19,0)))) AS s1,
            CAST(SUM(nv) AS BIGINT) AS s2,
            CAST(MAX(nc) AS BIGINT) AS c, CAST(MAX(nn) AS BIGINT) AS t
          FROM cv JOIN cls USING (c_nationkey) JOIN vals USING (v), tot
          GROUP BY 1)
         SELECT c_nationkey, c AS class_size,
           ROUND(CAST(s1 + CAST(t - s2 AS DECIMAL(19,0))
               * CAST(c AS DECIMAL(19,0)) AS DOUBLE)
             / CAST(CAST(c AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))
               * 2 AS DOUBLE), 6) AS t_distance,
           ROUND(CAST(s1 + CAST(t - s2 AS DECIMAL(19,0))
               * CAST(c AS DECIMAL(19,0)) AS DOUBLE)
             / CAST(CAST(c AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))
               * 2 AS DOUBLE), 6) > 0.1 AS above_t
         FROM per ORDER BY c_nationkey""",

    // Ordered EMD over priority ranks: cumulative integer mass diffs,
    // densified against the global value list, normalized by
    // (m-1)·n_c·N — mirrors the operator's decimal pipeline.
    "q_t_closeness_ordered" ->
      """WITH b AS (SELECT year(o_orderdate) AS o_year,
            o_orderpriority AS v FROM orders),
         cv AS (SELECT o_year, v, count(*) AS ncv FROM b GROUP BY 1, 2),
         vals AS (SELECT v, SUM(ncv) AS nv,
             ROW_NUMBER() OVER (ORDER BY v NULLS FIRST) AS rk
           FROM cv GROUP BY v),
         cls AS (SELECT o_year, SUM(ncv) AS nc FROM cv GROUP BY 1),
         tot AS (SELECT SUM(ncv) AS nn FROM cv),
         dense AS (SELECT cls.o_year, vals.rk, vals.nv, cls.nc,
             COALESCE(cv.ncv, 0) AS ncv
           FROM cls CROSS JOIN vals
           LEFT JOIN cv ON cv.o_year = cls.o_year AND cv.v = vals.v),
         cum AS (SELECT o_year, nc, nn,
             SUM(CAST(ncv AS DECIMAL(19,0)) * CAST(nn AS DECIMAL(19,0))
               - CAST(nv AS DECIMAL(19,0)) * CAST(nc AS DECIMAL(19,0)))
               OVER (PARTITION BY o_year ORDER BY rk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM dense, tot),
         per AS (SELECT o_year, CAST(MAX(nc) AS BIGINT) AS c2,
             CAST(MAX(nn) AS BIGINT) AS t2, SUM(ABS(c)) AS s
           FROM cum GROUP BY 1)
         SELECT o_year, c2 AS class_size,
           ROUND(CAST(s AS DOUBLE)
             / CAST(CAST(c2 AS DECIMAL(19,0)) * CAST(t2 AS DECIMAL(19,0))
               * (SELECT count(*) - 1 FROM vals) AS DOUBLE), 6) AS t_distance,
           ROUND(CAST(s AS DOUBLE)
             / CAST(CAST(c2 AS DECIMAL(19,0)) * CAST(t2 AS DECIMAL(19,0))
               * (SELECT count(*) - 1 FROM vals) AS DOUBLE), 6) > 0.05
             AS above_t
         FROM per ORDER BY o_year""",

    // Same planted contact block, same Java∩RE2 patterns (interpolated
    // from the TextAnalysis constants — one source of truth), same
    // replace order, and the same STAGED counting as piiCounts (each
    // category counted with earlier categories already masked). DuckDB
    // regexp_replace masks only the first match without the 'g' flag.
    "q_redact_pii" ->
      s"""WITH planted AS (SELECT doc_id,
            text || ' Contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-'
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-4567, ssn 123-45-6789, host 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.7.' AS t
          FROM documents),
          st AS (SELECT doc_id, t,
            regexp_replace(t, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g') AS r1
          FROM planted),
          st2 AS (SELECT doc_id, t, r1,
            regexp_replace(r1, '${TextAnalysis.SsnRe}', '<SSN>', 'g') AS r2
          FROM st),
          st3 AS (SELECT doc_id, t, r1, r2,
            regexp_replace(r2, '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS r3
          FROM st2)
          SELECT doc_id,
            regexp_replace(r3, '${TextAnalysis.Ipv4Re}', '<IP>', 'g') AS clean_text,
            CAST(len(regexp_extract_all(t, '${TextAnalysis.EmailRe}')) AS INTEGER) AS n_email,
            CAST(len(regexp_extract_all(r1, '${TextAnalysis.SsnRe}')) AS INTEGER) AS n_ssn,
            CAST(len(regexp_extract_all(r2, '${TextAnalysis.PhoneRe}')) AS INTEGER) AS n_phone,
            CAST(len(regexp_extract_all(r3, '${TextAnalysis.Ipv4Re}')) AS INTEGER) AS n_ipv4
          FROM st3 ORDER BY doc_id"""
  )
}
