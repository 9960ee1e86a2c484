package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}

/** Relational operator coverage (SURVEY.md §2.3): equi/semi/anti joins,
  * hash aggregation + distinct, window top-k, set operations, scalar string
  * /math/date functions, sort+limit — the extension surface the reference
  * delegates to its remote engines, implemented as declarative DataFrame
  * plans so Catalyst does pushdown, pruning, and join selection.
  *
  * Money columns use exact integer cents (`round(x*100) AS BIGINT`) instead
  * of floating sums so both engines agree bit-for-bit at any scale and the
  * aggregates stay map-side combinable.
  */
object RelationalQueries {

  /** Exact cents expression shared by Spark and oracle sides. */
  private def cents(c: String) = expr(s"CAST(round($c * 100) AS BIGINT)")
  /** discount/tax as exact integer percent — same ×100 rounding as cents. */
  private val pct: String => org.apache.spark.sql.Column = cents

  val pack: QueryPack = QueryPack(
    queries = Map(
      // TPC-H Q1 shape: scan → filter → hash agg, fully codegen'd,
      // partial-aggregated map-side before one shuffle on the group keys.
      "q1_pricing_summary" -> ((s, dir) => {
        Tables.load(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
          .withColumn("qty", expr("CAST(round(l_quantity) AS BIGINT)"))
          .withColumn("base_cents", cents("l_extendedprice"))
          .withColumn("disc_pct", pct("l_discount"))
          .withColumn("tax_pct", pct("l_tax"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("qty")).as("sum_qty"),
            sum(col("base_cents")).as("sum_base_cents"),
            sum(col("base_cents") * (lit(100L) - col("disc_pct")))
              .as("sum_disc_x10k"),
            sum(col("base_cents") * (lit(100L) - col("disc_pct")) *
              (lit(100L) + col("tax_pct"))).as("sum_charge_x1m"),
            count(lit(1)).as("count_order"))
      }),

      // TPC-H Q6 shape: every predicate pushed into the parquet scan,
      // single partial+final agg — the canonical scan-efficiency plan.
      "q6_forecast_revenue" -> ((s, dir) =>
        Tables.load(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz") &&
            col("l_discount") >= 0.03 && col("l_discount") <= 0.05 &&
            col("l_quantity") < 24)
          .agg(
            sum(cents("l_extendedprice") * pct("l_discount")).as("revenue_x10k"),
            count(lit(1)).as("n_items"))),

      // TPC-H Q3 shape: selective dim filter → broadcast join into the
      // fact, agg, global top-k (orderBy+limit = TakeOrderedAndProject).
      "q3_shipping_priority" -> ((s, dir) => {
        val cust = Tables.load(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val ord = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            expr("unix_millis(CAST(o_orderdate AS TIMESTAMP))")
              .as("o_orderdate_ms"))
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"),
            (cents("l_extendedprice") * (lit(100L) - pct("l_discount")))
              .as("rev_x10k"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate_ms"))
          .agg(sum(col("rev_x10k")).as("revenue_x10k"))
          .orderBy(col("revenue_x10k").desc, col("o_orderkey"))
          .limit(10)
      }),

      // TPC-H Q5 shape: multi-join across dims + fact with an agg by
      // nation; dims broadcast, fact shuffles once.
      "q5_region_revenue" -> ((s, dir) => {
        val region = Tables.load(s, dir, "region")
          .filter(col("r_regionkey") < 2).select("r_regionkey")
        val nation = Tables.load(s, dir, "nation")
          .select("n_nationkey", "n_name", "n_regionkey")
        val cust = Tables.load(s, dir, "customer")
          .select("c_custkey", "c_nationkey")
        val sup = Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")
        val ord = Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_custkey")
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            (cents("l_extendedprice") * (lit(100L) - pct("l_discount")))
              .as("rev_x10k"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("rev_x10k")).as("revenue_x10k"))
      }),

      // TPC-H Q7 shape: volume shipping between a nation PAIR, both
      // directions, split by ship year — the disjunctive cross-nation
      // predicate fuses into one broadcast join pass over the fact.
      "q7_volume_shipping" -> ((s, dir) => {
        val nation = Tables.load(s, dir, "nation")
          .filter(col("n_nationkey") < 2)
          .select("n_nationkey", "n_name")
        val cust = Tables.load(s, dir, "customer")
          .select("c_custkey", "c_nationkey")
        val sup = Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")
        val ord = Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_custkey")
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            year(col("l_shipdate")).cast("long").as("l_year"),
            (cents("l_extendedprice") * (lit(100L) - pct("l_discount")))
              .as("rev_x10k"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .filter((col("s_nationkey") === 0 && col("c_nationkey") === 1) ||
            (col("s_nationkey") === 1 && col("c_nationkey") === 0))
          .join(broadcast(nation.select(
              col("n_nationkey").as("sn_key"),
              col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("sn_key"))
          .join(broadcast(nation.select(
              col("n_nationkey").as("cn_key"),
              col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("cn_key"))
          .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
          .agg(sum(col("rev_x10k")).as("revenue_x10k"))
      }),

      // TPC-H Q10 shape: returned-item revenue per customer over one
      // quarter-window, global top-20 (TakeOrderedAndProject — the
      // distributed top-k, never a global sort).
      "q10_returned_items" -> ((s, dir) => {
        val cust = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"),
            cents("c_acctbal").as("acctbal_cents"), col("c_nationkey"))
        val nation = Tables.load(s, dir, "nation")
          .select("n_nationkey", "n_name")
        val ord = Tables.load(s, dir, "orders")
          .filter(col("o_orderdate") >=
              lit("1997-01-01").cast("timestamp_ntz") &&
            col("o_orderdate") < lit("1997-07-01").cast("timestamp_ntz"))
          .select("o_orderkey", "o_custkey")
        val li = Tables.load(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            (cents("l_extendedprice") * (lit(100L) - pct("l_discount")))
              .as("rev_x10k"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("acctbal_cents"),
            col("n_name"))
          .agg(sum(col("rev_x10k")).as("revenue_x10k"))
          .orderBy(col("revenue_x10k").desc, col("c_custkey"))
          .limit(20)
      }),

      // EXISTS via left-semi: never multiplies rows, no fact shuffle of
      // the orders side beyond the join itself.
      "join_semi" -> ((s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val ord = Tables.load(s, dir, "orders").select("o_custkey")
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_customers_with_orders"))
      }),

      // NOT EXISTS via left-anti (filter the right side first so the
      // anti-join is selective and broadcastable).
      "join_anti" -> ((s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val ord = Tables.load(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_custkey")
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_customers_without_urgent"))
      }),

      // TPC-H Q18 shape (large-volume orders): pre-aggregate lineitem to
      // per-order quantity BEFORE joining — the having-filter runs on the
      // aggregate's output (tiny), so the 3-way join only ever sees
      // qualifying orders, never the raw lineitem fact table twice.
      "q18_large_orders" -> ((s, dir) => {
        val bigOrders = Tables.load(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
          .filter(col("sum_qty") > 250)
        val ord = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            cents("o_totalprice").as("totalprice_cents"))
        val cust = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"))
        ord.join(bigOrders, col("o_orderkey") === col("l_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("o_orderkey"),
            col("totalprice_cents"), col("sum_qty"))
      }),

      // Skew-safe equi-join: orders salted into 8 sub-keys, customer
      // replicated per salt ([[graft.ops.Skew]]). The aggregate result is
      // salt-invariant, so the oracle is the plain join — verifying the
      // rewrite changes the plan, not the semantics.
      "join_salted" -> ((s, dir) => {
        val ord = Tables.load(s, dir, "orders")
          .select(col("o_custkey").as("custkey"),
            cents("o_totalprice").as("price_cents"))
        val cust = Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_nationkey"))
        graft.ops.Skew.saltedEquiJoin(ord, cust, "custkey", saltBuckets = 8)
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("price_cents")).as("revenue_cents"))
      }),

      // The diagnostic that precedes join_salted: per-key row counts,
      // per-mille share, and the salt-bucket recommendation for the
      // hottest join keys ([[graft.ops.Skew.skewReport]]).
      "skew_report" -> ((s, dir) =>
        graft.ops.Skew.skewReport(
          Tables.load(s, dir, "orders")
            .select(col("o_custkey").as("custkey")),
          "custkey")),

      // Per-group top-k via ranking window (no global sort).
      "window_topk" -> ((s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.load(s, dir, "orders")
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("rank"),
            cents("o_totalprice").as("totalprice_cents"))
      }),

      // Same result through the NATIVE bounded top-k aggregate
      // (functions.TopKPairs): map-side partial aggregation ships at
      // most k rows per (group, mapper) into the exchange, where the
      // window form above shuffles and per-group-sorts EVERY row —
      // same oracle, the 100 TB-honest plan. Cents ranking is exact
      // for 2-decimal prices, so ordering matches the raw-price window.
      "topk_agg" -> ((s, dir) => {
        val tk = graft.functions.TopKAgg.top_k_pairs(
          cents("o_totalprice"), col("o_orderkey"), 3)
        Tables.load(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(tk.as("tk"))
          .select(col("o_custkey"), posexplode(col("tk")))
          .select(col("o_custkey"),
            col("col.payload").as("o_orderkey"),
            (col("pos") + 1).cast("int").as("rank"),
            col("col.ord").as("totalprice_cents"))
      }),

      // TPC-H Q17 shape (small-quantity-order revenue): the correlated
      // scalar subquery `l_quantity < 0.2 * avg(l_quantity per part)`
      // becomes a per-part pre-aggregate + equi-join, and the fractional
      // threshold is cleared to integers (5·qty·cnt < sum_qty) so both
      // engines compare exactly. Per-part aggregate output is tiny →
      // broadcast; the fact side never shuffles.
      "q17_small_qty_revenue" -> ((s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_partkey"),
            col("l_quantity").cast("long").as("qty"),
            cents("l_extendedprice").as("price_cents"))
        val perPart = li.groupBy(col("l_partkey"))
          .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
        li.join(broadcast(perPart), "l_partkey")
          .filter(col("qty") * 5 * col("cnt") < col("sum_qty"))
          .agg(sum(col("price_cents")).as("revenue_cents"),
            count(lit(1)).as("n_lineitems"))
      }),

      // TPC-H Q4 shape (order-priority check): the correlated EXISTS —
      // "some lineitem shipped more than 60 days after the order was
      // placed" — is a LEFT SEMI join with the inequality evaluated as
      // the join's residual condition, so orders are never multiplied by
      // their lineitems and only the quarter's orders reach the join.
      "q4_order_priority" -> ((s, dir) => {
        val ord = Tables.load(s, dir, "orders")
          .filter(col("o_orderdate") >=
              lit("1997-01-01").cast("timestamp_ntz") &&
            col("o_orderdate") < lit("1997-04-01").cast("timestamp_ntz"))
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        val li = Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_shipdate")
        ord.join(li,
            col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") >
                col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      }),

      // TPC-H Q12 shape (shipping-channel priority split): one fact →
      // orders equi-join, then BOTH priority buckets come out of a single
      // conditional aggregation pass — never two scans or a pivot.
      // l_linestatus stands in for the fixture's missing l_shipmode.
      "q12_ship_priority" -> ((s, dir) => {
        val ord = Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority")
        val li = Tables.load(s, dir, "lineitem")
          .filter(col("l_shipdate") >=
              lit("1997-01-01").cast("timestamp_ntz") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
          .select("l_orderkey", "l_linestatus")
        val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_linestatus"))
          .agg(
            sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      }),

      // TPC-H Q14 shape (promotion effect): month of fact joined to the
      // part dim (broadcast — the month filter reaches the parquet scan
      // first), promo and total revenue from one conditional-sum pass,
      // and the headline ratio in exact basis points via integer DIV so
      // both engines agree bit-for-bit.
      "q14_promo_revenue" -> ((s, dir) => {
        val part = Tables.load(s, dir, "part")
          .select("p_partkey", "p_type")
        val li = Tables.load(s, dir, "lineitem")
          .filter(col("l_shipdate") >=
              lit("1997-03-01").cast("timestamp_ntz") &&
            col("l_shipdate") < lit("1997-04-01").cast("timestamp_ntz"))
          .select(col("l_partkey"),
            (cents("l_extendedprice") * (lit(100L) - pct("l_discount")))
              .as("rev_x10k"))
        li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO", col("rev_x10k"))
              .otherwise(0L)).as("promo_rev_x10k"),
            sum(col("rev_x10k")).as("total_rev_x10k"))
          .withColumn("promo_bp",
            expr("promo_rev_x10k * 10000 DIV total_rev_x10k"))
      }),

      // TPC-H Q16 shape (supplier count by part attributes): the
      // part-supplier bridge is DISTINCTed out of the fact table before
      // any join (the fixture has no partsupp), "complaint" suppliers
      // (negative balance) drop via a broadcast anti-join, and the count
      // is distinct suppliers per surviving attribute combination.
      "q16_supplier_cnt" -> ((s, dir) => {
        val bridge = Tables.load(s, dir, "lineitem")
          .select("l_partkey", "l_suppkey").distinct()
        val part = Tables.load(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#1" &&
            col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49))
          .select("p_partkey", "p_brand", "p_type", "p_size")
        val complaints = Tables.load(s, dir, "supplier")
          .filter(col("s_acctbal") < 0).select("s_suppkey")
        bridge
          .join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .join(broadcast(complaints),
            col("l_suppkey") === col("s_suppkey"), "left_anti")
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      }),

      // TPC-H Q19 shape (disjunctive bracket predicate): three
      // (brand, size-range, quantity-range) brackets OR'd together.
      // The part side is pre-filtered with the IMPLIED conjunctive
      // relaxation (brand ∈ {…} AND size ≤ max) so the dim scan prunes
      // before the broadcast; the exact disjunction then runs once over
      // the joined rows — never three passes over the fact.
      "q19_bracket_revenue" -> ((s, dir) => {
        val part = Tables.load(s, dir, "part")
          .filter(col("p_brand").isin("Brand#2", "Brand#13", "Brand#24") &&
            col("p_size") >= 1 && col("p_size") <= 15)
          .select("p_partkey", "p_brand", "p_size")
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_partkey"),
            col("l_quantity").cast("long").as("qty"),
            (cents("l_extendedprice") * (lit(100L) - pct("l_discount")))
              .as("rev_x10k"))
        val brackets =
          (col("p_brand") === "Brand#2" &&
            col("p_size").between(1, 5) && col("qty").between(1, 11)) ||
          (col("p_brand") === "Brand#13" &&
            col("p_size").between(1, 10) && col("qty").between(10, 20)) ||
          (col("p_brand") === "Brand#24" &&
            col("p_size").between(1, 15) && col("qty").between(20, 30))
        li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .filter(brackets)
          .agg(sum(col("rev_x10k")).as("revenue_x10k"),
            count(lit(1)).as("n_items"))
      }),

      // TPC-H Q15 shape (top supplier): quarter revenue per supplier,
      // then the argmax via a 1-row broadcast of max(total) equi-joined
      // back onto the same aggregate — the fact is scanned once (the
      // aggregate exchange is reused for the max probe) and ties all
      // surface, which is the spec's stated tie rule.
      "q15_top_supplier" -> ((s, dir) => {
        val rev = Tables.load(s, dir, "lineitem")
          .filter(col("l_shipdate") >=
              lit("1997-01-01").cast("timestamp_ntz") &&
            col("l_shipdate") < lit("1997-04-01").cast("timestamp_ntz"))
          .groupBy(col("l_suppkey"))
          .agg(sum(cents("l_extendedprice") * (lit(100L) - pct("l_discount")))
            .as("total_rev_x10k"))
        val top = rev.agg(max(col("total_rev_x10k")).as("max_rev_x10k"))
        val sup = Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_name")
        rev.join(broadcast(top),
            col("total_rev_x10k") === col("max_rev_x10k"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_rev_x10k"))
      }),

      // TPC-H Q21 shape (suppliers who kept orders waiting): the classic
      // EXISTS + NOT-EXISTS self-join pair collapses into ONE conditional
      // aggregation per finished order — supplier count, distinct late
      // suppliers, the sole late supplier (min == the supplier when the
      // distinct count is 1) and its late-line tally — so the fact is
      // never self-joined. Lateness adapts to the fixture's columns as
      // shipping >90 days after the order date (q4's convention).
      "q21_waiting_supplier" -> ((s, dir) => {
        val ord = Tables.load(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate")
        val li = Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_shipdate")
        val late = col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 90 DAYS")
        // r18: the two countDistincts + two plain aggregates in ONE
        // groupBy planned an Expand(×3) over the joined fact (every row
        // tripled into the exchange). Pre-aggregating at the natural
        // (orderkey, suppkey) grain first computes the same four values
        // exactly (nsupp = rows per order at that grain, nlate_supp =
        // suppliers with a late line, late_supp/n_late_items fold the
        // same way) with plain map-side-combined hash aggregates:
        // measured shuffle 8.6→3.9 MB, task time −50%, output
        // bit-identical (OPTIMIZATION_r18.md §8).
        val perSupp = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("l_suppkey"))
          .agg(max(when(late, 1L).otherwise(0L)).as("has_late"),
            sum(when(late, 1L).otherwise(0L)).as("n_late"))
        val perOrder = perSupp
          .groupBy(col("l_orderkey"))
          .agg(
            count(lit(1)).as("nsupp"),
            sum(col("has_late")).as("nlate_supp"),
            min(when(col("has_late") === 1L, col("l_suppkey")))
              .as("late_supp"),
            sum(col("n_late")).as("n_late_items"))
          .filter(col("nsupp") > 1 && col("nlate_supp") === 1)
        val sup = Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_name")
        perOrder.groupBy(col("late_supp"))
          .agg(sum(col("n_late_items")).as("numwait"))
          .join(broadcast(sup), col("late_supp") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("numwait"))
      }),

      // TPC-H Q22 shape (global-sales opportunity): the "above average
      // positive balance" scalar is a 1-row broadcast compared in EXACT
      // integers (bal_cents·n > Σcents — no float average to disagree
      // on), the dormancy test is a left-anti join against the
      // date-filtered orders scan (every fixture customer has SOME
      // order, so Q22's no-orders-ever predicate degenerates — "no
      // order in the trailing year" keeps the shape and the pushed
      // filter), and the rollup groups by nation (standing in for the
      // fixture's missing phone country code).
      "q22_idle_customers" -> ((s, dir) => {
        val cust = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"),
            cents("c_acctbal").as("bal_cents"))
        val pos = cust.filter(col("bal_cents") > 0L)
          .agg(sum(col("bal_cents")).as("s"), count(lit(1)).as("n"))
        val ord = Tables.load(s, dir, "orders")
          .filter(col("o_orderdate") >=
            lit("2000-07-01").cast("timestamp_ntz"))
          .select("o_custkey")
        cust.filter(col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
          .crossJoin(broadcast(pos))
          .filter(col("bal_cents") * col("n") > col("s"))
          .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("numcust"),
            sum(col("bal_cents")).as("tot_cents"))
      }),

      // TPC-H Q2 shape (min-cost supplier): the fixture has no partsupp,
      // so the part×supplier cost table is DERIVED from the fact — total
      // cents supplied per (part, supplier), restricted to one region's
      // suppliers and a part slice (both broadcast, so the filters reach
      // the fact scan). The Q2 essence is the correlated per-part min:
      // computed as a second aggregate over the SAME cost frame and
      // equi-joined back on (part, cost) to pick the argmin rows — ties
      // surface, the spec's rule. Cost aggregate shuffles once; the min
      // probe is part-count-sized (corpus-order → shuffle-hash, never
      // broadcast).
      "q2_min_cost_supplier" -> ((s, dir) => {
        val nat0 = Tables.load(s, dir, "nation")
          .join(broadcast(Tables.load(s, dir, "region")
              .filter(col("r_regionkey") === 0).select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        val sup0 = Tables.load(s, dir, "supplier")
          .join(broadcast(nat0), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"),
            cents("s_acctbal").as("acctbal_cents"))
        val part = Tables.load(s, dir, "part")
          .filter(col("p_type") === "SMALL" && col("p_size") <= 10)
          .select("p_partkey")
        val ps = Tables.load(s, dir, "lineitem")
          .join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup0.select("s_suppkey")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(cents("l_extendedprice")).as("supply_cents"))
        val minCost = ps.groupBy(col("l_partkey").as("mp"))
          .agg(min(col("supply_cents")).as("min_cents"))
        ps.join(minCost.hint("shuffle_hash"),
            col("l_partkey") === col("mp") &&
              col("supply_cents") === col("min_cents"))
          .join(broadcast(sup0), col("l_suppkey") === col("s_suppkey"))
          .select(col("l_partkey").as("p_partkey"), col("s_suppkey"),
            col("s_name"), col("n_name"), col("acctbal_cents"),
            col("supply_cents"))
      }),

      // TPC-H Q8 shape (national market share): one nation's share of a
      // region's revenue for one part type, by order year. All dims
      // broadcast onto a single fact pass; the share comes out of one
      // conditional-sum aggregation, headline ratio in exact basis
      // points via integer DIV (q14's convention).
      "q8_market_share" -> ((s, dir) => {
        val part = Tables.load(s, dir, "part")
          .filter(col("p_type") === "ECONOMY").select("p_partkey")
        val custReg = Tables.load(s, dir, "customer")
          .join(broadcast(Tables.load(s, dir, "nation")
              .filter(col("n_regionkey") === 1).select("n_nationkey")),
            col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey")
        val sup = Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")
        val ord = Tables.load(s, dir, "orders")
          .filter(col("o_orderdate") >=
              lit("1996-01-01").cast("timestamp_ntz") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year"))
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            (cents("l_extendedprice") * (lit(100L) - pct("l_discount")))
              .as("rev_x10k"))
        li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(custReg), col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("o_year"))
          .agg(
            sum(when(col("s_nationkey") === 0, col("rev_x10k"))
              .otherwise(0L)).as("nation_rev_x10k"),
            sum(col("rev_x10k")).as("total_rev_x10k"))
          .withColumn("share_bp",
            expr("nation_rev_x10k * 10000 DIV total_rev_x10k"))
      }),

      // TPC-H Q9 shape (product-type profit): profit per supplier nation
      // per ship year over a part-name slice. The fixture has no
      // ps_supplycost, so cost is defined as 80% of the part's retail
      // price per unit — an exact-integer formula both engines compute
      // identically. Part + supplier broadcast, one fact pass, one agg.
      "q9_product_profit" -> ((s, dir) => {
        val part = Tables.load(s, dir, "part")
          .filter(col("p_name").contains("bolt"))
          .select(col("p_partkey"), cents("p_retailprice").as("price_cents"))
        val sup = Tables.load(s, dir, "supplier")
          .join(broadcast(Tables.load(s, dir, "nation")
              .select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "n_name")
        Tables.load(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            year(col("l_shipdate")).cast("long").as("l_year"),
            col("l_quantity").cast("long").as("qty"),
            (cents("l_extendedprice") * (lit(100L) - pct("l_discount")))
              .as("rev_x10k"))
          .join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("n_name"), col("l_year"))
          .agg(sum(col("rev_x10k") -
            col("qty") * col("price_cents") * lit(80L)).as("profit_x10k"))
      }),

      // TPC-H Q11 shape (important stock): inventory value per part held
      // by one nation group's suppliers vs a global-fraction threshold —
      // the HAVING-with-scalar-subquery shape. Value aggregate shuffles
      // once on partkey; the threshold is a 1-row broadcast compared in
      // exact integers (value·1000 > total — no float fraction).
      "q11_important_stock" -> ((s, dir) => {
        val sup = Tables.load(s, dir, "supplier")
          .filter(col("s_nationkey").isin(3, 7)).select("s_suppkey")
        val part = Tables.load(s, dir, "part")
          .select(col("p_partkey"), cents("p_retailprice").as("price_cents"))
        val value = Tables.load(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long").as("qty"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey"))
          .agg(sum(col("qty") * col("price_cents")).as("value_cents"))
        val total = value.agg(sum(col("value_cents")).as("total_cents"))
        value.crossJoin(broadcast(total))
          .filter(col("value_cents") * 1000L > col("total_cents"))
          .select(col("l_partkey").as("p_partkey"), col("value_cents"))
      }),

      // TPC-H Q13 shape (customer order-count distribution): orders are
      // pre-aggregated to per-customer counts BEFORE the outer join (map-
      // side combinable — never a row-multiplying join then count), the
      // customer side stays preserved with the aggregate brought in via
      // shuffle-hash, customers with no qualifying orders surface as
      // count 0 through the coalesce. The priority filter stands in for
      // Q13's o_comment NOT LIKE.
      "q13_customer_distribution" -> ((s, dir) => {
        val ordCnt = Tables.load(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "5-LOW")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        Tables.load(s, dir, "customer").select("c_custkey")
          .join(ordCnt.hint("shuffle_hash"),
            col("c_custkey") === col("o_custkey"), "left")
          .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      }),

      // TPC-H Q20 shape (promotion-dominant suppliers): suppliers who
      // shipped MORE THAN HALF of a promoted part's 1997 volume — the
      // nested aggregate-correlated threshold chain. Per-(part, supplier)
      // quantities roll up once; the per-part total is a second aggregate
      // over the same frame joined back shuffle-hash (part count is
      // corpus-order); the supplier set dedups before the name join, so
      // a supplier dominating many parts lists once. Oracle keeps the
      // textbook doubly-correlated EXISTS as an independent derivation.
      "q20_part_promotion" -> ((s, dir) => {
        val part = Tables.load(s, dir, "part")
          .filter(col("p_name").startsWith("red")).select("p_partkey")
        val pq = Tables.load(s, dir, "lineitem")
          .filter(col("l_shipdate") >=
              lit("1997-01-01").cast("timestamp_ntz") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
          .join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity").cast("long")).as("supp_qty"))
        val tot = pq.groupBy(col("l_partkey").as("tp"))
          .agg(sum(col("supp_qty")).as("part_qty"))
        pq.join(tot.hint("shuffle_hash"), col("l_partkey") === col("tp"))
          .filter(col("supp_qty") * 2L > col("part_qty"))
          .select("l_suppkey").distinct()
          .join(broadcast(Tables.load(s, dir, "supplier")
              .select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"))
      }),

      // MERGE INTO semantics ([[graft.ops.Merge]]): one full-outer join
      // applies a deterministic change-set (delete %10==0, update %10 in
      // 1-3, insert from %10==4 under fresh keys, plus an ignored
      // matched-insert and an ignored unmatched-update) to the customer
      // base. Oracle recomputes the merged state set-algebraically.
      "merge_upsert" -> ((s, dir) => {
        val base = Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("custkey"),
            cents("c_acctbal").as("bal_cents"),
            col("c_nationkey").as("nationkey"))
        val m = col("custkey") % 10
        val del = base.filter(m === 0)
          .select(col("custkey"), col("bal_cents"), col("nationkey"),
            lit("D").as("op"))
        val upd = base.filter(m >= 1 && m <= 3)
          .select(col("custkey"), (col("custkey") * 100).as("bal_cents"),
            col("nationkey"), lit("U").as("op"))
        val ins = base.filter(m === 4)
          .select((col("custkey") + 1000000L).as("custkey"),
            col("custkey").as("bal_cents"), col("nationkey"),
            lit("I").as("op"))
        val insMatched = base.filter(m === 5)
          .select(col("custkey"), lit(-1L).as("bal_cents"),
            col("nationkey"), lit("I").as("op"))
        val updMissing = base.filter(m === 6)
          .select((col("custkey") + 2000000L).as("custkey"),
            lit(-2L).as("bal_cents"), col("nationkey"), lit("U").as("op"))
        val changes = del.unionByName(upd).unionByName(ins)
          .unionByName(insMatched).unionByName(updMissing)
        graft.ops.Merge.applyChangeSet(base, changes, "custkey")
      }),

      // Full outer join: per-nation deep-debt customer vs negative-balance
      // supplier counts — both aggregated BEFORE the join (tiny inputs),
      // null sides surfaced as zero.
      "join_outer" -> ((s, dir) => {
        val c = Tables.load(s, dir, "customer")
          .filter(col("c_acctbal") < -800)
          .groupBy(col("c_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("nc"))
        val sp = Tables.load(s, dir, "supplier")
          .filter(col("s_acctbal") < 0)
          .groupBy(col("s_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("ns"))
        c.join(sp, Seq("nationkey"), "full_outer")
          .select(col("nationkey"),
            coalesce(col("nc"), lit(0L)).as("n_debt_customers"),
            coalesce(col("ns"), lit(0L)).as("n_neg_suppliers"))
      }),

      // RANGE-frame window: trailing-90-day order count + revenue per
      // customer (frame bounded by the ORDER BY *value*, not row offsets —
      // ties on the same day all join the frame).
      "window_range_frame" -> ((s, dir) => {
        val day = datediff(to_date(col("o_orderdate")),
          to_date(lit("1970-01-01")))
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
          .rangeBetween(-90, Window.currentRow)
        Tables.load(s, dir, "orders")
          .withColumn("day", day)
          .withColumn("cents", cents("o_totalprice"))
          .select(col("o_custkey"), col("o_orderkey"), col("day"),
            count(lit(1)).over(w).as("n_orders_90d"),
            sum(col("cents")).over(w).as("rev_90d_cents"))
      }),

      // Ranking-function family over one window pass: rank / dense_rank /
      // percent_rank / cume_dist per supplier by quantity. Only tie-stable
      // functions (all rank-derived) — row-position functions like ntile
      // would be nondeterministic under ties. Floats are floored at 1e6 on
      // both engines ((rank-1)/(n-1) is the same double everywhere).
      "window_rank_funcs" -> ((s, dir) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_quantity").desc)
        Tables.load(s, dir, "lineitem")
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("int").as("qty"),
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            floor(percent_rank().over(w) * 1000000).cast("long")
              .as("pct_rank_x1m"),
            floor(cume_dist().over(w) * 1000000).cast("long")
              .as("cume_x1m"))
          .filter(col("rnk") <= 5)
      }),

      // Value/position window family — ntile + first/last/nth_value —
      // over a TOTAL order ((qty DESC, orderkey, linenumber) — the
      // tie-break the rank-funcs key deliberately avoids needing makes
      // these row-position functions deterministic).
      "window_value_funcs" -> ((s, dir) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_quantity").desc, col("l_orderkey"),
            col("l_linenumber"))
        val wf = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        Tables.load(s, dir, "lineitem")
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("int").as("qty"),
            ntile(4).over(w).as("quartile"),
            first(col("l_orderkey")).over(wf).as("top_order"),
            last(col("l_orderkey")).over(wf).as("bottom_order"),
            nth_value(col("l_orderkey"), 2).over(wf).as("second_order"),
            row_number().over(w).as("rn"))
          .filter(col("rn") <= 5)
      }),

      // Exact distinct aggregation (Expand-based two-phase plan).
      "agg_distinct" -> ((s, dir) =>
        Tables.load(s, dir, "orders")
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n_orders"),
            countDistinct(col("o_custkey")).as("n_customers"),
            countDistinct(col("o_orderpriority")).as("n_priorities"))),

      // Set operations: symmetric difference of deep-debt customer nations
      // vs negative-balance supplier nations. One pass per table: tag each
      // side and keep nations seen from exactly one side — the naive
      // (A ∪ B) \ (A ∩ B) references A and B twice each, so customer and
      // supplier would both be scanned twice at any scale.
      "set_ops" -> ((s, dir) => {
        val cust = Tables.load(s, dir, "customer")
          .filter(col("c_acctbal") < -800)
          .select(col("c_nationkey").as("nationkey"), lit("c").as("side"))
        val sup = Tables.load(s, dir, "supplier")
          .filter(col("s_acctbal") < 0)
          .select(col("s_nationkey").as("nationkey"), lit("s").as("side"))
        cust.unionByName(sup)
          .groupBy(col("nationkey"))
          .agg(countDistinct(col("side")).as("n_sides"))
          .filter(col("n_sides") === 1)
          .select(col("nationkey"))
      }),

      // Scalar string/math expressions, single codegen'd projection.
      "scalar_funcs" -> ((s, dir) =>
        Tables.load(s, dir, "part").select(
          col("p_partkey"),
          upper(expr("substring(p_name, 1, 12)")).as("name12"),
          (col("p_size") % 7).as("size_mod7"),
          length(col("p_type")).as("type_len"),
          when(cents("p_retailprice") >= 150000L, "premium")
            .otherwise("standard").as("price_band"))),

      // Date/time bucketing + agg.
      "date_agg" -> ((s, dir) =>
        Tables.load(s, dir, "orders")
          .groupBy(
            year(col("o_orderdate")).as("o_year"),
            month(col("o_orderdate")).as("o_month"))
          .agg(
            count(lit(1)).as("n_orders"),
            sum(cents("o_totalprice")).as("total_cents")))),

    oracles = Map(
      "q1_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
          |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
          |    AS sum_base_cents,
          |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
          |      (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
          |    AS sum_disc_x10k,
          |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
          |      (100 - CAST(round(l_discount*100) AS BIGINT)) *
          |      (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT)
          |    AS sum_charge_x1m,
          |  count(*) AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus""".stripMargin,

      "q6_forecast_revenue" ->
        """SELECT
          |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
          |      CAST(round(l_discount*100) AS BIGINT)) AS BIGINT)
          |    AS revenue_x10k,
          |  count(*) AS n_items
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          |  AND l_discount >= 0.03 AND l_discount <= 0.05
          |  AND l_quantity < 24""".stripMargin,

      "q3_shipping_priority" ->
        """SELECT o_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
          |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
          |      (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
          |    AS revenue_x10k
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY o_orderkey, o_orderdate_ms
          |ORDER BY revenue_x10k DESC, o_orderkey
          |LIMIT 10""".stripMargin,

      "q5_region_revenue" ->
        """SELECT n_name,
          |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
          |      (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
          |    AS revenue_x10k
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_regionkey < 2
          |GROUP BY n_name""".stripMargin,

      "q7_volume_shipping" ->
        """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
          |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
          |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
          |      (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
          |    AS revenue_x10k
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation sn ON s_nationkey = sn.n_nationkey
          |JOIN nation cn ON c_nationkey = cn.n_nationkey
          |WHERE (s_nationkey = 0 AND c_nationkey = 1)
          |   OR (s_nationkey = 1 AND c_nationkey = 0)
          |GROUP BY 1, 2, 3""".stripMargin,

      "q10_returned_items" ->
        """SELECT c_custkey, c_name,
          |  CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
          |  n_name,
          |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
          |      (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
          |    AS revenue_x10k
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE l_returnflag = 'R'
          |  AND o_orderdate >= TIMESTAMP '1997-01-01'
          |  AND o_orderdate < TIMESTAMP '1997-07-01'
          |GROUP BY 1, 2, 3, 4
          |ORDER BY revenue_x10k DESC, c_custkey
          |LIMIT 20""".stripMargin,

      "join_semi" ->
        """SELECT c_nationkey, count(*) AS n_customers_with_orders
          |FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |GROUP BY c_nationkey""".stripMargin,

      "join_anti" ->
        """SELECT c_nationkey, count(*) AS n_customers_without_urgent
          |FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
          |GROUP BY c_nationkey""".stripMargin,

      "q4_order_priority" ->
        """SELECT o_orderpriority, count(*) AS order_count
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          |  AND o_orderdate < TIMESTAMP '1997-04-01'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |    WHERE l_orderkey = o_orderkey
          |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
          |GROUP BY o_orderpriority""".stripMargin,

      "q12_ship_priority" ->
        """SELECT l_linestatus,
          |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |  AND l_shipdate < TIMESTAMP '1998-01-01'
          |GROUP BY l_linestatus""".stripMargin,

      "q14_promo_revenue" ->
        """WITH agg AS (
          |  SELECT
          |    CAST(sum(CASE WHEN p_type = 'PROMO'
          |      THEN CAST(round(l_extendedprice*100) AS BIGINT) *
          |        (100 - CAST(round(l_discount*100) AS BIGINT))
          |      ELSE 0 END) AS BIGINT) AS promo_rev_x10k,
          |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
          |      (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
          |      AS total_rev_x10k
          |  FROM lineitem
          |  JOIN part ON l_partkey = p_partkey
          |  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
          |    AND l_shipdate < TIMESTAMP '1997-04-01')
          |SELECT promo_rev_x10k, total_rev_x10k,
          |  CAST(promo_rev_x10k * 10000 // total_rev_x10k AS BIGINT)
          |    AS promo_bp
          |FROM agg""".stripMargin,

      "q16_supplier_cnt" ->
        """SELECT p_brand, p_type, p_size,
          |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
          |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
          |JOIN part ON l_partkey = p_partkey
          |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          |  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49)
          |  AND NOT EXISTS (SELECT 1 FROM supplier
          |    WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
          |GROUP BY p_brand, p_type, p_size""".stripMargin,

      "q19_bracket_revenue" ->
        """SELECT
          |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
          |      (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
          |    AS revenue_x10k,
          |  count(*) AS n_items
          |FROM lineitem
          |JOIN part ON l_partkey = p_partkey
          |WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 5
          |    AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 11)
          |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
          |    AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20)
          |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
          |    AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30)""".stripMargin,

      "q15_top_supplier" ->
        """WITH rev AS (
          |  SELECT l_suppkey,
          |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
          |      (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
          |      AS total_rev_x10k
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |    AND l_shipdate < TIMESTAMP '1997-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_rev_x10k
          |FROM supplier JOIN rev ON s_suppkey = l_suppkey
          |WHERE total_rev_x10k = (SELECT max(total_rev_x10k) FROM rev)"""
          .stripMargin,

      // Deliberately the textbook correlated EXISTS / NOT-EXISTS
      // formulation — an independent derivation of the conditional-agg
      // rewrite on the Spark side.
      "q21_waiting_supplier" ->
        """SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
          |FROM supplier, lineitem l1, orders
          |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          |  AND o_orderstatus = 'F'
          |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
          |  AND EXISTS (SELECT 1 FROM lineitem l2
          |    WHERE l2.l_orderkey = l1.l_orderkey
          |      AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
          |    WHERE l3.l_orderkey = l1.l_orderkey
          |      AND l3.l_suppkey <> l1.l_suppkey
          |      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
          |GROUP BY s_suppkey, s_name""".stripMargin,

      "q22_idle_customers" ->
        """WITH pos AS (
          |  SELECT CAST(sum(CAST(round(c_acctbal*100) AS BIGINT))
          |      AS BIGINT) AS s,
          |    count(*) AS n
          |  FROM customer
          |  WHERE CAST(round(c_acctbal*100) AS BIGINT) > 0)
          |SELECT c_nationkey, count(*) AS numcust,
          |  CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
          |    AS tot_cents
          |FROM customer, pos
          |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
          |  AND CAST(round(c_acctbal*100) AS BIGINT) * n > s
          |  AND NOT EXISTS (SELECT 1 FROM orders
          |    WHERE o_custkey = c_custkey
          |      AND o_orderdate >= TIMESTAMP '2000-07-01')
          |GROUP BY c_nationkey""".stripMargin,

      "q18_large_orders" ->
        """WITH big AS (
          |  SELECT l_orderkey,
          |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
          |  FROM lineitem GROUP BY l_orderkey
          |  HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
          |SELECT c_name, o_orderkey,
          |  CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
          |  sum_qty
          |FROM orders
          |JOIN big ON o_orderkey = l_orderkey
          |JOIN customer ON o_custkey = c_custkey""".stripMargin,

      "join_salted" ->
        """SELECT c_nationkey, count(*) AS n_orders,
          |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |    AS revenue_cents
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_nationkey""".stripMargin,

      "skew_report" ->
        """WITH c AS (
          |  SELECT o_custkey AS custkey, count(*) AS n_rows
          |  FROM orders GROUP BY o_custkey),
          |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows FROM c)
          |SELECT custkey, n_rows, total_rows,
          |  CAST(n_rows * 1000 // total_rows AS BIGINT) AS share_x1000,
          |  CAST(greatest(1, n_rows * 32 // total_rows) AS BIGINT)
          |    AS salt_buckets
          |FROM c, t
          |ORDER BY n_rows DESC, custkey
          |LIMIT 20""".stripMargin,

      "window_topk" ->
        """SELECT o_custkey, o_orderkey,
          |  CAST(rank AS INTEGER) AS rank,
          |  CAST(round(o_totalprice*100) AS BIGINT) AS totalprice_cents
          |FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    row_number() OVER (PARTITION BY o_custkey
          |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
          |  FROM orders)
          |WHERE rank <= 3""".stripMargin,

      // the native-aggregate twin ranks by exact cents (identical order
      // for 2-decimal prices), so the oracle ranks by cents too
      "topk_agg" ->
        """SELECT o_custkey, o_orderkey,
          |  CAST(rank AS INTEGER) AS rank, totalprice_cents
          |FROM (
          |  SELECT o_custkey, o_orderkey,
          |    CAST(round(o_totalprice*100) AS BIGINT) AS totalprice_cents,
          |    row_number() OVER (PARTITION BY o_custkey
          |      ORDER BY round(o_totalprice*100) DESC, o_orderkey) AS rank
          |  FROM orders)
          |WHERE rank <= 3""".stripMargin,

      "q17_small_qty_revenue" ->
        """WITH li AS (
          |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
          |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
          |  FROM lineitem),
          |pp AS (
          |  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
          |    count(*) AS cnt
          |  FROM li GROUP BY l_partkey)
          |SELECT CAST(sum(price_cents) AS BIGINT) AS revenue_cents,
          |  count(*) AS n_lineitems
          |FROM li JOIN pp USING (l_partkey)
          |WHERE qty * 5 * cnt < sum_qty""".stripMargin,

      "merge_upsert" ->
        """WITH base AS (
          |  SELECT c_custkey AS custkey,
          |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
          |    c_nationkey AS nationkey
          |  FROM customer)
          |SELECT custkey, bal_cents, nationkey
          |FROM base WHERE custkey % 10 >= 4
          |UNION ALL
          |SELECT custkey, custkey * 100, nationkey
          |FROM base WHERE custkey % 10 BETWEEN 1 AND 3
          |UNION ALL
          |SELECT custkey + 1000000, custkey, nationkey
          |FROM base WHERE custkey % 10 = 4""".stripMargin,

      "join_outer" ->
        """WITH c AS (
          |  SELECT c_nationkey AS nationkey, count(*) AS nc
          |  FROM customer WHERE c_acctbal < -800 GROUP BY 1),
          |s AS (
          |  SELECT s_nationkey AS nationkey, count(*) AS ns
          |  FROM supplier WHERE s_acctbal < 0 GROUP BY 1)
          |SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
          |  CAST(coalesce(nc, 0) AS BIGINT) AS n_debt_customers,
          |  CAST(coalesce(ns, 0) AS BIGINT) AS n_neg_suppliers
          |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey""".stripMargin,

      "window_range_frame" ->
        """SELECT o_custkey, o_orderkey, CAST(day AS INTEGER) AS day,
          |  CAST(count(*) OVER w AS BIGINT) AS n_orders_90d,
          |  CAST(sum(cents) OVER w AS BIGINT) AS rev_90d_cents
          |FROM (SELECT o_custkey, o_orderkey,
          |        datediff('day', DATE '1970-01-01', o_orderdate) AS day,
          |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          |      FROM orders)
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
          |  RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)""".stripMargin,

      "window_rank_funcs" ->
        """SELECT l_suppkey, l_orderkey, l_linenumber,
          |  CAST(l_quantity AS INTEGER) AS qty,
          |  CAST(rnk AS INTEGER) AS rnk, CAST(drnk AS INTEGER) AS drnk,
          |  CAST(floor(pr * 1000000) AS BIGINT) AS pct_rank_x1m,
          |  CAST(floor(cd * 1000000) AS BIGINT) AS cume_x1m
          |FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
          |        rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
          |        percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
          |      FROM lineitem
          |      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_quantity DESC))
          |WHERE rnk <= 5""".stripMargin,

      "window_value_funcs" ->
        """SELECT l_suppkey, l_orderkey, l_linenumber, qty, quartile,
          |  top_order, bottom_order, second_order, CAST(rn AS INTEGER) AS rn
          |FROM (SELECT l_suppkey, l_orderkey, l_linenumber,
          |        CAST(l_quantity AS INTEGER) AS qty,
          |        CAST(ntile(4) OVER wo AS INTEGER) AS quartile,
          |        first_value(l_orderkey) OVER wf AS top_order,
          |        last_value(l_orderkey) OVER wf AS bottom_order,
          |        nth_value(l_orderkey, 2) OVER wf AS second_order,
          |        row_number() OVER wo AS rn
          |      FROM lineitem
          |      WINDOW wo AS (PARTITION BY l_suppkey
          |          ORDER BY l_quantity DESC, l_orderkey, l_linenumber),
          |        wf AS (PARTITION BY l_suppkey
          |          ORDER BY l_quantity DESC, l_orderkey, l_linenumber
          |          ROWS BETWEEN UNBOUNDED PRECEDING
          |            AND UNBOUNDED FOLLOWING))
          |WHERE rn <= 5""".stripMargin,

      "agg_distinct" ->
        """SELECT o_orderstatus,
          |  count(*) AS n_orders,
          |  count(DISTINCT o_custkey) AS n_customers,
          |  count(DISTINCT o_orderpriority) AS n_priorities
          |FROM orders GROUP BY o_orderstatus""".stripMargin,

      "set_ops" ->
        """WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer
          |           WHERE c_acctbal < -800),
          |s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier
          |      WHERE s_acctbal < 0)
          |(SELECT nationkey FROM c UNION SELECT nationkey FROM s)
          |EXCEPT
          |(SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)""".stripMargin,

      "scalar_funcs" ->
        """SELECT p_partkey,
          |  upper(substr(p_name, 1, 12)) AS name12,
          |  p_size % 7 AS size_mod7,
          |  CAST(length(p_type) AS INTEGER) AS type_len,
          |  CASE WHEN CAST(round(p_retailprice*100) AS BIGINT) >= 150000
          |       THEN 'premium' ELSE 'standard' END AS price_band
          |FROM part""".stripMargin,

      "date_agg" ->
        """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
          |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
          |  count(*) AS n_orders,
          |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
          |    AS total_cents
          |FROM orders GROUP BY 1, 2""".stripMargin,

      // Textbook correlated-min formulation — an independent derivation
      // of the Spark side's aggregate-rejoin argmin.
      "q2_min_cost_supplier" ->
        """WITH sup0 AS (
          |  SELECT s_suppkey, s_name, n_name,
          |    CAST(round(s_acctbal*100) AS BIGINT) AS acctbal_cents
          |  FROM supplier
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |  WHERE r_regionkey = 0),
          |ps AS (
          |  SELECT l_partkey, l_suppkey,
          |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT))
          |      AS BIGINT) AS supply_cents
          |  FROM lineitem
          |  JOIN part ON l_partkey = p_partkey
          |  JOIN sup0 ON l_suppkey = s_suppkey
          |  WHERE p_type = 'SMALL' AND p_size <= 10
          |  GROUP BY 1, 2)
          |SELECT ps.l_partkey AS p_partkey, s_suppkey, s_name, n_name,
          |  acctbal_cents, supply_cents
          |FROM ps JOIN sup0 ON ps.l_suppkey = sup0.s_suppkey
          |WHERE supply_cents = (SELECT min(supply_cents) FROM ps p2
          |  WHERE p2.l_partkey = ps.l_partkey)""".stripMargin,

      "q8_market_share" ->
        """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
          |  CAST(sum(CASE WHEN s_nationkey = 0
          |    THEN CAST(round(l_extendedprice*100) AS BIGINT) *
          |      (100 - CAST(round(l_discount*100) AS BIGINT))
          |    ELSE 0 END) AS BIGINT) AS nation_rev_x10k,
          |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
          |    (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
          |    AS total_rev_x10k,
          |  CAST(sum(CASE WHEN s_nationkey = 0
          |      THEN CAST(round(l_extendedprice*100) AS BIGINT) *
          |        (100 - CAST(round(l_discount*100) AS BIGINT))
          |      ELSE 0 END) * 10000 //
          |    sum(CAST(round(l_extendedprice*100) AS BIGINT) *
          |      (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
          |    AS share_bp
          |FROM lineitem
          |JOIN part ON l_partkey = p_partkey
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |WHERE p_type = 'ECONOMY' AND n_regionkey = 1
          |  AND o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |GROUP BY 1""".stripMargin,

      "q9_product_profit" ->
        """SELECT n_name, CAST(year(l_shipdate) AS BIGINT) AS l_year,
          |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
          |      (100 - CAST(round(l_discount*100) AS BIGINT)) -
          |    CAST(l_quantity AS BIGINT) *
          |      CAST(round(p_retailprice*100) AS BIGINT) * 80) AS BIGINT)
          |    AS profit_x10k
          |FROM lineitem
          |JOIN part ON l_partkey = p_partkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |WHERE p_name LIKE '%bolt%'
          |GROUP BY 1, 2""".stripMargin,

      "q11_important_stock" ->
        """WITH v AS (
          |  SELECT l_partkey,
          |    CAST(sum(CAST(l_quantity AS BIGINT) *
          |      CAST(round(p_retailprice*100) AS BIGINT)) AS BIGINT)
          |      AS value_cents
          |  FROM lineitem
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN part ON l_partkey = p_partkey
          |  WHERE s_nationkey IN (3, 7)
          |  GROUP BY 1)
          |SELECT l_partkey AS p_partkey, value_cents
          |FROM v
          |WHERE value_cents * 1000 >
          |  (SELECT sum(value_cents) FROM v)""".stripMargin,

      "q13_customer_distribution" ->
        """SELECT c_count, count(*) AS custdist
          |FROM (
          |  SELECT c_custkey,
          |    CAST(count(o_orderkey) AS BIGINT) AS c_count
          |  FROM customer
          |  LEFT JOIN orders ON c_custkey = o_custkey
          |    AND o_orderpriority <> '5-LOW'
          |  GROUP BY c_custkey)
          |GROUP BY c_count""".stripMargin,

      // Textbook doubly-correlated EXISTS — independent of the Spark
      // side's aggregate-rejoin rewrite.
      "q20_part_promotion" ->
        """WITH pq AS (
          |  SELECT l_partkey, l_suppkey,
          |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS supp_qty
          |  FROM lineitem
          |  JOIN part ON l_partkey = p_partkey
          |  WHERE p_name LIKE 'red%'
          |    AND l_shipdate >= TIMESTAMP '1997-01-01'
          |    AND l_shipdate < TIMESTAMP '1998-01-01'
          |  GROUP BY 1, 2)
          |SELECT s_suppkey, s_name FROM supplier
          |WHERE EXISTS (SELECT 1 FROM pq
          |  WHERE pq.l_suppkey = s_suppkey
          |    AND supp_qty * 2 > (SELECT sum(supp_qty) FROM pq p2
          |      WHERE p2.l_partkey = pq.l_partkey))""".stripMargin))
}
