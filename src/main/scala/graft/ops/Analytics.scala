package graft.ops

import graft.{D, Tables}
import graft.QueryDefs.Q
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Composite multi-join analytics — the two query shapes BASELINE.md
  * measures by name (`q3_shipping_priority`, `q5_local_supplier`), declared
  * as keys so the bench comparison is direct instead of by-analog.
  *
  * Scale shape: the fact-side joins (lineitem ⋈ orders [⋈ customer]) are
  * shuffle joins on their keys — at 100 TB AQE sizes/skew-splits them —
  * while every dimension chain that is provably bounded (region → nation →
  * supplier: ≤ |supplier| rows after the region filter) is broadcast, so
  * the fact table crosses the wire at most once per join key, never for a
  * dimension. Filters sit directly on the scans (pushed to parquet), so
  * selectivity lands before the first shuffle.
  */
object Analytics {

  /** Lineitem revenue contribution in exact integer 1e-4 currency units:
    * price cents × (100 − discount%). Both factors are whole by data
    * contract (2-dp price, 2-dp discount), so the long product is exact
    * and its sum is associative — partition-order- and engine-invariant,
    * unlike a double sum (the win_range_frame lesson; q10's first sf0.01
    * run flaked on a .xx5 boundary with the double-sum form). */
  private val volUnits =
    (round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long")))
      .as("vol_u")

  val queries: Map[String, Q] = Map(
    // TPC-H Q3 shape: segment-filtered customers × open orders × shipped
    // lineitems → top-10 unshipped-revenue orders. The final top-k is a
    // TakeOrderedAndProject over the rounded revenue with l_orderkey as
    // the total-order tie-break.
    "q3_shipping_priority" -> ((s, dir) => {
      val cust = Tables.table(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = Tables.table(s, dir, "orders")
        .where(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = Tables.table(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(D.r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    }),

    // TPC-H Q5 shape: 6-way join with the LOCAL-supplier equi-condition
    // (customer and supplier share a nation) — revenue per nation in one
    // region-year. region→nation→supplier is an explicit broadcast chain;
    // customer is left unhinted (at 100 TB it is fact-sized and must
    // shuffle on the join key like the facts do).
    "q5_local_supplier" -> ((s, dir) => {
      val nr = Tables.table(s, dir, "nation")
        .join(broadcast(Tables.table(s, dir, "region")
            .where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = Tables.table(s, dir, "supplier")
        .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val ord = Tables.table(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
               col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val cust = Tables.table(s, dir, "customer")
        .select("c_custkey", "c_nationkey")
      Tables.table(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(D.r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q7 shape (volume shipping): bilateral trade between two
    // nations by ship year. The nation pair predicate lands on the two
    // broadcast dimension joins (supplier→nation, customer→nation), so
    // the fact side is filtered to the two-nation traffic before the
    // group-by; year() is extracted once, map-side.
    // Revenue is summed in exact integer 1e-4 units (price cents ×
    // (100 − discount%)) — a double sum's value depends on partition
    // order, and q10's first sf0.01 run landed on a .xx5 rounding
    // boundary (the win_range_frame lesson). The final /10000.0 is IEEE
    // division of the same exact integer on both engines — no round().
    "q7_volume_shipping" -> ((s, dir) => {
      val n1 = Tables.table(s, dir, "nation")
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.table(s, dir, "nation")
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      val pair = Seq("NATION_1", "NATION_2")
      val sup = Tables.table(s, dir, "supplier")
        .join(broadcast(n1.where(col("supp_nation").isin(pair: _*))),
          col("s_nationkey") === col("n1_key"))
        .select("s_suppkey", "supp_nation")
      val cust = Tables.table(s, dir, "customer")
        .join(broadcast(n2.where(col("cust_nation").isin(pair: _*))),
          col("c_nationkey") === col("n2_key"))
        .select("c_custkey", "cust_nation")
      val ord = Tables.table(s, dir, "orders").select("o_orderkey", "o_custkey")
      Tables.table(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
               col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"), Analytics.volUnits)
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
               (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg((sum(col("vol_u")) / 10000.0).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q10 shape (returned items): customers ranked by the revenue
    // they generated on RETURNED lineitems in one quarter — the
    // churn-investigation query. Quarter filter pushes to the orders
    // scan, the R filter to the lineitem scan; nation broadcasts.
    "q10_returned_items" -> ((s, dir) => {
      val nat = Tables.table(s, dir, "nation").select("n_nationkey", "n_name")
      val ord = Tables.table(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
               col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = Tables.table(s, dir, "lineitem")
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"), Analytics.volUnits)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.table(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg((sum(col("vol_u")) / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    }),

    // TPC-H Q14 shape (promo revenue): promo-type revenue share for one
    // ship month — a single-row scalar report. Both sums run in exact
    // integer 1e-4 units, so the derived ratio divides two identical
    // exact integers (the 100.0× product stays under 2^53) — every
    // output double is bit-identical across engines with no round().
    "q14_promo_revenue" -> ((s, dir) => {
      val part = Tables.table(s, dir, "part").select("p_partkey", "p_type")
      val agg = Tables.table(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
               col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .select(col("l_partkey"), Analytics.volUnits)
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("vol_u")).otherwise(lit(0L)))
            .as("promo_u"),
          sum(col("vol_u")).as("total_u"))
      agg.select((col("promo_u") / 10000.0).as("promo_rev"),
        (col("total_u") / 10000.0).as("total_rev"),
        (lit(100.0) * col("promo_u") / col("total_u")).as("promo_pct"))
    }),

    // TPC-H Q4 shape (order priority checking): orders in one quarter
    // that had at least one returned lineitem, counted per priority. The
    // EXISTS is a LEFT SEMI join — the orders side never duplicates no
    // matter how many R lineitems an order has. The build side carries
    // only l_orderkey; it is a fact slice, so it is shuffled and
    // hash-built once per key (`Joins.existenceJoin`), never broadcast
    // row by row. Both filters sit on the scans.
    // (The corpus has no l_commitdate/l_receiptdate, so "late" is proxied
    // by l_returnflag = 'R' — same plan shape as the TPC-H original.)
    "q4_order_priority" -> ((s, dir) => {
      val ord = Tables.table(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
               col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select("o_orderkey", "o_orderpriority")
      val ret = Tables.table(s, dir, "lineitem")
        .where(col("l_returnflag") === "R")
        .select("l_orderkey")
      Joins.existenceJoin(ord, ret, col("o_orderkey") === col("l_orderkey"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q6 shape (forecast revenue): the pure-scan query — no join at
    // all; shipdate + quantity predicates push to parquet, the discount
    // band filters map-side, and one partial+final agg produces the
    // single row. At 100 TB this is the query whose entire cost is scan
    // throughput — any shuffle in the plan would be a bug (PlanAuditSpec
    // asserts the only exchange is the final single-partition gather).
    // Discount revenue in exact integer 1e-4 units: cents × discount%.
    "q6_forecast_revenue" -> ((s, dir) => {
      val discPct = round(col("l_discount") * 100, 0).cast("long")
      Tables.table(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
               col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
               col("l_quantity") < 24)
        .where(discPct.between(5, 7))
        .select((round(col("l_extendedprice") * 100, 0).cast("long") *
          discPct).as("disc_u"))
        .agg((sum(col("disc_u")) / 10000.0).as("revenue"))
    }),

    // TPC-H Q12 shape (shipping-class report): lineitems shipped in one
    // year, classified by their order's priority — one equi-join plus a
    // conditional two-column count. The priority CASE evaluates after the
    // join, map-side; the group key (l_linestatus, 2 values) makes the
    // final agg tiny while the partial agg absorbs the fact volume.
    // (No l_shipmode column in this corpus; l_linestatus is the group.)
    "q12_priority_class" -> ((s, dir) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.table(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
               col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linestatus")
        .join(Tables.table(s, dir, "orders")
            .select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }),

    // TPC-H Q13 shape (customer order distribution): LEFT OUTER customer
    // → filtered orders, count per customer (zero-order customers kept by
    // the outer join + count(o_orderkey) null-skipping), then the
    // second-level histogram over the counts. The first agg shuffles on
    // c_custkey (same key as the join — AQE coalesces), the second on the
    // tiny count domain.
    "q13_order_distribution" -> ((s, dir) => {
      val ord = Tables.table(s, dir, "orders")
        .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select("o_orderkey", "o_custkey")
      Tables.table(s, dir, "customer").select("c_custkey")
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q17 shape (small-quantity revenue): lineitems under 20% of
    // their part's average quantity, for one brand/size family. The
    // filtered part keys broadcast FIRST, so the per-part (count, sum)
    // aggregate runs only over the pruned lineitems — the TPC-H text's
    // correlated subquery over all lineitems is equivalent because the
    // aggregate is keyed by the same partkey the outer row joins on.
    // The 20% test is exact integer math: qty < avg/5 ⟺ 5·qty·cnt < sum
    // in BIGINT cents — no double avg on either engine, so no boundary
    // flake (the win_range_frame lesson applied to a comparison).
    "q17_small_qty_revenue" -> ((s, dir) => {
      val pk = Tables.table(s, dir, "part")
        .where(col("p_brand") === "Brand#3" && col("p_size") <= 10)
        .select("p_partkey")
      val li = Tables.table(s, dir, "lineitem")
        .select(col("l_partkey"),
          round(col("l_quantity") * 100, 0).cast("long").as("qty_c"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("price_c"))
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .select("l_partkey", "qty_c", "price_c")
      val perPart = li.groupBy(col("l_partkey").as("a_pkey"))
        .agg(count(lit(1)).as("a_cnt"), sum(col("qty_c")).as("a_sum"))
      li.join(perPart, col("l_partkey") === col("a_pkey"))
        .where(lit(5L) * col("qty_c") * col("a_cnt") < col("a_sum"))
        .agg((sum(col("price_c")) / 100.0 / 7.0).as("avg_yearly"))
    }),

    // TPC-H Q19 shape (disjunctive revenue): three (brand, size, qty)
    // conjunctions OR'd inside ONE broadcast equi-join — the hash probe
    // stays on p_partkey and the disjunction evaluates as the join
    // residual, so the fact table is scanned once, not three times.
    "q19_disjunctive_revenue" -> ((s, dir) => {
      val p = Tables.table(s, dir, "part")
        .select("p_partkey", "p_brand", "p_size")
      Tables.table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), Analytics.volUnits)
        .join(broadcast(p), col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))))
        .agg((sum(col("vol_u")) / 10000.0).as("revenue"))
    }),

    // TPC-H Q21 shape (suppliers who kept orders waiting): suppliers in
    // one nation that were the SOLE returning supplier on multi-supplier
    // orders. The EXISTS/NOT-EXISTS pair collapses into one per-order
    // aggregate — (distinct suppliers, distinct R-suppliers) — joined
    // back to the distinct R (order, supplier) pairs on the same
    // l_orderkey shuffle key, so lineitem crosses the wire once for each
    // of the two legs and never self-joins row-to-row. Supplier × nation
    // broadcasts. (R proxies "late" — no receipt/commit dates here.)
    "q21_waiting_supplier" -> ((s, dir) => {
      // ONE (orderkey, suppkey) pre-aggregate feeds everything: the
      // per-order supplier/R-supplier counts ride a window over the SAME
      // stream instead of a second rollup leg — the two-leg form scanned
      // and aggregated lineitem TWICE, because column pruning makes the
      // branches structurally different and AQE exchange reuse never
      // fires across them (r14: 4 parquet scans, 0 ReusedExchange in the
      // final adaptive plan; a literal dual-countDistinct is worse still,
      // planning an Expand that doubles fact rows — measured 2.0 s at
      // sf0.1 vs 1.1 s two-leg vs this single-scan form). Since exactly
      // one R pair exists per qualifying order (n_r_supp = 1), filtering
      // the windowed stream to has_r = 1 IS the r⋈g join. Window
      // partitions are per-order supplier sets (bounded ~7 rows) — safe
      // at any corpus size.
      // r21: the per-order counts ride a SECOND HASH AGGREGATE instead
      // of a window — the window form re-exchanged on l_orderkey and
      // SORTED 570k (order, supplier) rows before its frames; the
      // aggregate form takes the same exchange but hash-aggregates with
      // no sort, and since n_r_supp = 1 the qualifying R supplier is
      // recovered exactly as max(when(has_r = 1, suppkey)) — the single
      // non-null. Output-identical (KeyTime 0.87 → see after; oracle
      // re-verified).
      // r21 wave 5, evaluated and REJECTED: folding both levels into one
      // groupBy(okey) with size(collect_set(skey)) /
      // size(collect_set(when(R, skey))) removes the second (order-count
      // sized) exchange but demotes the FACT-sized aggregate to
      // ObjectHashAggregate — whole-stage codegen lost on every line row
      // (plans/r21/q21_waiting_supplier_w5_after.txt), and KeyTime was a
      // wash at sf0.1 (0.72/0.92 → 0.82/0.83 min/median). The exchange
      // it saves carries order-count PARTIAL rows (already reduced), so
      // at scale the codegen'd two-level form wins: the fact-sized
      // operator stays compiled, and the extra exchange is the small
      // one.
      val sup = Tables.table(s, dir, "supplier")
        .join(broadcast(Tables.table(s, dir, "nation")
            .where(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name")
      Tables.table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("has_r"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(col("has_r")).as("n_r_supp"),
          max(when(col("has_r") === 1L, col("l_suppkey"))).as("r_skey"))
        .where(col("n_supp") > 1 && col("n_r_supp") === 1)
        .join(broadcast(sup), col("r_skey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    // TPC-H Q22 shape (dormant high-balance customers): customers above
    // the positive-balance average with no recent orders, rolled up per
    // country code (c_nationkey here — no c_phone column). The scalar
    // average is a 1-row aggregate cross-broadcast into the filter; the
    // comparison is exact BIGINT (bal·cnt > sum — no double avg), and
    // "no recent orders" is a LEFT ANTI join against the date-pruned
    // orders scan, shuffled and hash-built on distinct o_custkey
    // (`Joins.existenceJoin`) — the recent orders are a fact slice, never
    // broadcast.
    "q22_dormant_value" -> ((s, dir) => {
      // the positive-balance population filter runs on the RAW c_acctbal
      // on both sides (r14, ADVICE fix): filtering on the rounded cents
      // would silently exclude balances in (0, 0.005) that the oracle's
      // `c_acctbal > 0` counts, shifting the average threshold.
      val cust = Tables.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"),
          col("c_nationkey").cast("int").as("cntrycode"),
          round(col("c_acctbal") * 100, 0).cast("long").as("bal_c"))
      val pos = cust.where(col("c_acctbal") > 0)
        .agg(count(lit(1)).as("p_cnt"), sum(col("bal_c")).as("p_sum"))
      val recent = Tables.table(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
      val rich = cust.crossJoin(broadcast(pos))
        .where(col("bal_c") * col("p_cnt") > col("p_sum"))
      Joins.existenceJoin(rich, recent, col("c_custkey") === col("o_custkey"),
          "left_anti")
        .groupBy("cntrycode")
        .agg(count(lit(1)).as("numcust"),
          (sum(col("bal_c")) / 100.0).as("totacctbal"))
        .orderBy("cntrycode")
    }),

    // TPC-H Q18 shape (large-volume orders): orders whose total quantity
    // clears a threshold, with their customer. The HAVING pre-aggregate
    // runs on (l_orderkey) alone — a semi-join reduction BEFORE the
    // 3-way join, so only qualifying orders (a tiny fraction) reach the
    // customer join; at 100 TB the qualifying set broadcasts.
    "q18_large_orders" -> ((s, dir) => {
      val big = Tables.table(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("big_okey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .where(col("total_qty") > 160)
      Tables.table(s, dir, "orders")
        .join(big, col("o_orderkey") === col("big_okey"))
        .join(Tables.table(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
          "o_totalprice", "total_qty")
    }),

    // TPC-H Q8 shape (national market share): one supplier nation's share
    // of revenue within one region's customer market for one part type,
    // by order year. Every dimension chain broadcasts (filtered part,
    // supplier→nation, nation→region); customer is fact-sized and
    // shuffles on its key. Share = ratio of two exact-integer vol_u sums
    // in ONE aggregate pass (conditional numerator) — no second join, and
    // the single IEEE division of exact longs is engine-identical.
    "q8_market_share" -> ((s, dir) => {
      val pt = Tables.table(s, dir, "part")
        .where(col("p_type") === "PROMO").select("p_partkey")
      val supN = Tables.table(s, dir, "supplier")
        .join(broadcast(Tables.table(s, dir, "nation")
            .select(col("n_nationkey").as("sn_key"),
              col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      val mktNations = Tables.table(s, dir, "nation")
        .join(broadcast(Tables.table(s, dir, "region")
            .where(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("mkt_nkey"))
      val cust = Tables.table(s, dir, "customer")
        .join(broadcast(mktNations), col("c_nationkey") === col("mkt_nkey"))
        .select("c_custkey")
      val ord = Tables.table(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
               col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year"))
      Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          Analytics.volUnits)
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_2", col("vol_u"))
            .otherwise(0L)).cast("double") /
          sum(col("vol_u")).cast("double")).as("mkt_share"))
        .orderBy("o_year")
    }),

    // TPC-H Q15 shape (top supplier): supplier(s) whose one-quarter
    // revenue equals the global max. The revenue relation is
    // supplier-sized (fact agg with map-side partials); the max is a
    // 1-row broadcast threshold (q22 pattern — never a whole-relation
    // window), and the ≈1-row winner set broadcasts into the supplier
    // dimension join. Exact-long revenue makes `= max` robust (double
    // sums would make equality partition-order-dependent).
    "q15_top_supplier" -> ((s, dir) => {
      // localCheckpoint: the revenue view (supplier-sized) feeds BOTH
      // the 1-row max and the winner filter — without the barrier each
      // branch re-ran the full quarter scan + aggregate (column pruning
      // makes the branches structurally different, so AQE exchange reuse
      // cannot dedupe them; r14 plan sweep: lineitem×2). Q15's own
      // definition is a materialized revenue VIEW — this is that,
      // executor-local. eager=false is only truly lazy BELOW an AQE
      // root: rev contains an exchange, so under AQE the checkpoint's
      // execute() still materializes the scan stage at
      // DataFrame-CONSTRUCTION time — plan-only consumers pay one small
      // job here (documented in PlanAuditSpec's header; the AQE-off
      // tools stay job-free). A window or packed-argmax alternative
      // would be worse: Q15 keeps ALL tied winners, and a global window
      // puts the whole supplier dim in one partition.
      val rev = Tables.table(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
               col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("l_suppkey"), Analytics.volUnits)
        .groupBy(col("l_suppkey"))
        .agg(sum(col("vol_u")).as("rev_u"))
        .localCheckpoint(false)
      val top = rev.agg(max(col("rev_u")).as("max_u"))
      val winners = rev.crossJoin(broadcast(top))
        .where(col("rev_u") === col("max_u"))
        .select("l_suppkey", "rev_u")
      Tables.table(s, dir, "supplier")
        .join(broadcast(winners), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev_u").cast("double") / 10000.0).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q2 shape (min-cost supplier, round 19): the canonical
    // CORRELATED SCALAR SUBQUERY — for each part, keep only the
    // supplier rows whose cost equals that part's regional minimum
    // (`cost = (SELECT min(...) WHERE same part)`). Declared as SQL
    // text (the join_lateral posture) because the DECORRELATION is the
    // feature under test: Catalyst must rewrite the per-row subquery
    // into ONE aggregate + join (PlanAuditSpec pins it) — a per-outer-
    // row rescan would be quadratic at scale.
    //
    // No partsupp table in this corpus, so the supply relation derives
    // from lineitem: per (part, supplier) minimum unit cost
    // (l_extendedprice / l_quantity — one IEEE division per row, no
    // accumulation, so min is partition-order-invariant and engine-
    // identical bit-for-bit). The relation is referenced TWICE (outer
    // leg + the min subquery), and static planning never reuses a
    // shared subtree (the q21/q15 rescan class) — staged per corpus
    // version so the fact-scale pair aggregate runs once; both
    // references then scan the columnar artifact.
    "q2_min_cost_supplier" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      graft.Staging.materialize(
        s, Tables.path(dir, "lineitem"), "q2_supply_v1") {
        Tables.table(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("sp_partkey"),
            col("l_suppkey").as("sp_suppkey"))
          .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
      }.createOrReplaceTempView("graft_q2_supply")
      s.sql(
        """SELECT s_acctbal, s_name, n_name, p_partkey, p_type, cost
          |FROM part, graft_q2_supply, supplier, nation, region
          |WHERE p_partkey = sp_partkey AND sp_suppkey = s_suppkey
          |  AND p_size <= 15 AND p_type = 'LARGE'
          |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          |  AND r_name = 'EUROPE'
          |  AND cost = (SELECT min(s2.cost)
          |              FROM graft_q2_supply s2, supplier sup2,
          |                   nation n2, region r2
          |              WHERE s2.sp_partkey = p_partkey
          |                AND s2.sp_suppkey = sup2.s_suppkey
          |                AND sup2.s_nationkey = n2.n_nationkey
          |                AND n2.n_regionkey = r2.r_regionkey
          |                AND r2.r_name = 'EUROPE')
          |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
          |LIMIT 100""".stripMargin)
    }),

    // TPC-H Q9 shape (product-line profit, round 19): profit per
    // supplier nation per order year over the 5-way join
    // part ⋈ lineitem ⋈ supplier ⋈ nation ⋈ orders. Unit cost proxies
    // as p_retailprice (no ps_supplycost here), so
    // profit = extprice·(1−disc) − retail·qty, computed per row in
    // EXACT integer 1e-4 units (cents × cents products) and summed in
    // DECIMAL(38,0) — per-row profit_u is bounded (~5e10) but a 100 TB
    // nation-year group crosses int64 (the agg_gini envelope class;
    // DuckDB sums BIGINT into HUGEINT, so exactness matches). The
    // name-filtered part and the supplier→nation chain broadcast;
    // orders is fact-sized and shuffles on its key — the fact table
    // crosses the wire once, post-filter.
    "q9_profit_rollup" -> ((s, dir) => {
      val pt = Tables.table(s, dir, "part")
        .where(col("p_name").like("%gizmo%"))
        .select(col("p_partkey"),
          round(col("p_retailprice") * 100, 0).cast("long").as("retail_c"))
      val supN = Tables.table(s, dir, "supplier")
        .join(broadcast(Tables.table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name")
      val ord = Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          Analytics.volUnits,
          round(col("l_quantity") * 100, 0).cast("long").as("qty_c"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("n_name").as("nation"), col("o_year"),
          (col("vol_u") - col("retail_c") * col("qty_c")).as("profit_u"))
        .groupBy(col("nation"), col("o_year"))
        .agg((sum(col("profit_u").cast("decimal(38,0)")).cast("double") /
          10000.0).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q11 shape (important stock, round 19): per-part inventory
    // value held by one nation's suppliers, keeping parts above 3× the
    // average part value — HAVING measured against a SCALAR SUBQUERY of
    // the SAME aggregate. The shared aggregate is computed ONCE behind
    // a localCheckpoint barrier (the q15/r18 shared-subtree lesson —
    // column pruning makes the two consumer branches structurally
    // different, so AQE exchange reuse never dedupes them); the 1-row
    // (total, count) side then cross-broadcasts into the filter. The
    // threshold compares in DECIMAL(38,0) (val_u × n_parts crosses
    // int64 at warehouse scale; DuckDB's HUGEINT matches exactly) and
    // is COUNT-RELATIVE (value > 3× average), so the predicate's
    // selectivity is scale-free — TPC-H's fixed 0.0001 fraction empties
    // or floods as the corpus grows.
    "q11_important_stock" -> ((s, dir) => {
      val sup = Tables.table(s, dir, "supplier")
        .join(broadcast(Tables.table(s, dir, "nation")
            .where(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val value = Tables.table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100, 0).cast("long") *
            round(col("l_quantity") * 100, 0).cast("long")).as("v_u"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(col("v_u").cast("decimal(38,0)")).as("val_u"))
        .localCheckpoint(false)
      val tot = value.agg(sum(col("val_u")).as("tot_u"),
        count(lit(1)).as("n_parts"))
      value.crossJoin(broadcast(tot))
        .where(col("val_u") * col("n_parts") > col("tot_u") * 3)
        .select(col("p_partkey"),
          (col("val_u").cast("double") / 10000.0).as("part_value"))
        .orderBy(col("part_value").desc, col("p_partkey"))
    }),

    // TPC-H Q16 shape (supplier relationship count, round 19): distinct
    // suppliers per (brand, type, size) for a size-set of parts,
    // EXCLUDING blacklisted suppliers via NOT IN — the three-valued
    // null-aware anti join (proven alone by join_null_anti) COMPOSED
    // with distinct aggregation. Declared as SQL text: the part-supplier
    // relationship is the DISTINCT (l_partkey, l_suppkey) projection of
    // lineitem (no partsupp table), which partial-aggregates map-side
    // before its shuffle; the negative-balance supplier list (the
    // complaints analog — no s_comment column) is dimension-sized and
    // broadcasts as the anti-join build side; part broadcasts behind
    // its pushed brand/type/size filters.
    "q16_not_in_distinct" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(Q16Sql)
    }),

    // TPC-H Q20 shape (excess-supply suppliers, round 19): the NESTED
    // SEMI-JOIN CHAIN — suppliers (in one nation) IN a set derived from
    // lineitem rows whose part is IN a name-filtered part set, with a
    // HAVING threshold on the inner aggregate. Declared as SQL text so
    // the planner handles the chain: both IN predicates must stay semi
    // joins (never inner joins — an inner join would duplicate supplier
    // rows per qualifying part and corrupt the count downstream), the
    // part set broadcasts into lineitem, and the (part, supplier)
    // aggregate partial-aggregates before its shuffle. Quantities sum
    // as exact integer centi-units; the date window pushes to the scan.
    "q20_nested_semi" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(Q20Sql)
    })
  )

  /** Q16's SQL — identical text runs on Spark (declared key) and DuckDB
    * (oracle): every construct is ANSI-portable. */
  private[ops] val Q16Sql =
    """SELECT p_brand, p_type, p_size,
      |       count(DISTINCT ps_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey AS ps_partkey,
      |             l_suppkey AS ps_suppkey FROM lineitem) ps, part
      |WHERE p_partkey = ps_partkey
      |  AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
      |  AND ps_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Q20's SQL — identical text on both engines (see [[Q16Sql]]). */
  private[ops] val Q20Sql =
    """SELECT s_name, s_acctbal
      |FROM supplier, nation
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE l_partkey IN (
      |    SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      |    AND l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate <  TIMESTAMP '1998-01-01'
      |  GROUP BY l_partkey, l_suppkey
      |  HAVING sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) > 2000)
      |AND s_nationkey = n_nationkey AND n_name = 'NATION_18'
      |ORDER BY s_name""".stripMargin

  // Both oracles are engine-portable SQL (identical text also replays in
  // Spark via DifferentialSpec's sweep).
  val oracles: Map[String, String] = Map(
    "q3_shipping_priority" ->
      ("SELECT l_orderkey, " +
       "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
       "o_orderdate, o_orderpriority " +
       "FROM customer, orders, lineitem " +
       "WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey " +
       "AND l_orderkey = o_orderkey " +
       "AND o_orderdate < TIMESTAMP '1998-06-01' " +
       "AND l_shipdate > TIMESTAMP '1998-06-01' " +
       "GROUP BY l_orderkey, o_orderdate, o_orderpriority " +
       "ORDER BY revenue DESC, l_orderkey LIMIT 10"),
    "q5_local_supplier" ->
      ("SELECT n_name, " +
       "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
       "FROM customer, orders, lineitem, supplier, nation, region " +
       "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
       "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
       "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
       "AND r_name = 'ASIA' " +
       "AND o_orderdate >= TIMESTAMP '1997-01-01' " +
       "AND o_orderdate < TIMESTAMP '1998-01-01' " +
       "GROUP BY n_name ORDER BY revenue DESC, n_name"),
    // vol_u replicates Analytics.volUnits: exact integer 1e-4 units so
    // the sum is associative and the final division is engine-identical.
    "q7_volume_shipping" ->
      ("SELECT supp_nation, cust_nation, l_year, " +
       "CAST(sum(vol_u) AS DOUBLE) / 10000.0 AS revenue FROM (" +
       "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
       "year(l_shipdate) AS l_year, " +
       "CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
       "(100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS vol_u " +
       "FROM supplier, lineitem, orders, customer, nation n1, nation n2 " +
       "WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey " +
       "AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey " +
       "AND c_nationkey = n2.n_nationkey " +
       "AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') " +
       "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) " +
       "AND l_shipdate >= TIMESTAMP '1996-01-01' " +
       "AND l_shipdate < TIMESTAMP '1998-01-01') " +
       "GROUP BY supp_nation, cust_nation, l_year " +
       "ORDER BY supp_nation, cust_nation, l_year"),
    "q10_returned_items" ->
      ("SELECT c_custkey, c_name, " +
       "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
       "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) " +
       "/ 10000.0 AS revenue, c_acctbal, n_name " +
       "FROM customer, orders, lineitem, nation " +
       "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
       "AND o_orderdate >= TIMESTAMP '1996-01-01' " +
       "AND o_orderdate < TIMESTAMP '1996-04-01' " +
       "AND l_returnflag = 'R' AND c_nationkey = n_nationkey " +
       "GROUP BY c_custkey, c_name, c_acctbal, n_name " +
       "ORDER BY revenue DESC, c_custkey LIMIT 20"),
    "q14_promo_revenue" ->
      ("SELECT CAST(promo_u AS DOUBLE) / 10000.0 AS promo_rev, " +
       "CAST(total_u AS DOUBLE) / 10000.0 AS total_rev, " +
       "100.0 * CAST(promo_u AS DOUBLE) / CAST(total_u AS DOUBLE) " +
       "AS promo_pct FROM (" +
       "SELECT sum(CASE WHEN p_type = 'PROMO' THEN vol_u ELSE 0 END) AS promo_u, " +
       "sum(vol_u) AS total_u FROM (" +
       "SELECT p_type, " +
       "CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
       "(100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS vol_u " +
       "FROM lineitem, part WHERE l_partkey = p_partkey " +
       "AND l_shipdate >= TIMESTAMP '1997-03-01' " +
       "AND l_shipdate < TIMESTAMP '1997-04-01'))"),
    "q4_order_priority" ->
      ("SELECT o_orderpriority, count(*) AS order_count FROM orders " +
       "WHERE o_orderdate >= TIMESTAMP '1997-01-01' " +
       "AND o_orderdate < TIMESTAMP '1997-04-01' " +
       "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
       "AND l_returnflag = 'R') " +
       "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q6_forecast_revenue" ->
      ("SELECT CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT) * " +
       "CAST(round(l_discount*100,0) AS BIGINT)) AS DOUBLE)/10000.0 " +
       "AS revenue FROM lineitem " +
       "WHERE l_shipdate >= TIMESTAMP '1997-01-01' " +
       "AND l_shipdate < TIMESTAMP '1998-01-01' " +
       "AND CAST(round(l_discount*100,0) AS BIGINT) BETWEEN 5 AND 7 " +
       "AND l_quantity < 24"),
    "q12_priority_class" ->
      ("SELECT l_linestatus, " +
       "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') " +
       "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
       "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') " +
       "THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count " +
       "FROM orders, lineitem WHERE o_orderkey = l_orderkey " +
       "AND l_shipdate >= TIMESTAMP '1997-01-01' " +
       "AND l_shipdate < TIMESTAMP '1998-01-01' " +
       "GROUP BY l_linestatus ORDER BY l_linestatus"),
    "q13_order_distribution" ->
      ("SELECT c_count, count(*) AS custdist FROM (" +
       "SELECT c_custkey, count(o_orderkey) AS c_count FROM customer " +
       "LEFT OUTER JOIN orders ON c_custkey = o_custkey " +
       "AND o_orderpriority <> '4-NOT SPECIFIED' " +
       "GROUP BY c_custkey) GROUP BY c_count " +
       "ORDER BY custdist DESC, c_count DESC"),
    // The 20% test replays as exact BIGINT: 5·qty_c·cnt < sum_c — no
    // double average on either engine.
    "q17_small_qty_revenue" ->
      ("SELECT CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) " +
       "AS DOUBLE)/100.0/7.0 AS avg_yearly FROM lineitem, part, " +
       "(SELECT l_partkey AS a_pkey, count(*) AS a_cnt, " +
       "sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS a_sum " +
       "FROM lineitem GROUP BY l_partkey) a " +
       "WHERE p_partkey = l_partkey AND l_partkey = a_pkey " +
       "AND p_brand = 'Brand#3' AND p_size <= 10 " +
       "AND 5 * CAST(round(l_quantity*100,0) AS BIGINT) * a_cnt < a_sum"),
    "q19_disjunctive_revenue" ->
      ("SELECT CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT) * " +
       "(100 - CAST(round(l_discount*100,0) AS BIGINT))) AS DOUBLE)" +
       "/10000.0 AS revenue FROM lineitem, part " +
       "WHERE p_partkey = l_partkey AND (" +
       "(p_brand='Brand#1' AND p_size BETWEEN 1 AND 5 " +
       "AND l_quantity BETWEEN 1 AND 11) " +
       "OR (p_brand='Brand#2' AND p_size BETWEEN 1 AND 10 " +
       "AND l_quantity BETWEEN 10 AND 20) " +
       "OR (p_brand='Brand#3' AND p_size BETWEEN 1 AND 15 " +
       "AND l_quantity BETWEEN 20 AND 30))"),
    "q21_waiting_supplier" ->
      ("SELECT s_name, count(*) AS numwait FROM (" +
       "SELECT DISTINCT l_orderkey AS r_okey, l_suppkey AS r_skey " +
       "FROM lineitem WHERE l_returnflag='R') r, " +
       "(SELECT l_orderkey AS g_okey, " +
       "count(DISTINCT l_suppkey) AS n_supp, " +
       "count(DISTINCT CASE WHEN l_returnflag='R' THEN l_suppkey END) " +
       "AS n_r_supp FROM lineitem GROUP BY l_orderkey) g, " +
       "supplier, nation " +
       "WHERE r_okey = g_okey AND n_supp > 1 AND n_r_supp = 1 " +
       "AND r_skey = s_suppkey AND s_nationkey = n_nationkey " +
       "AND n_name = 'NATION_3' " +
       "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"),
    "q22_dormant_value" ->
      ("SELECT cntrycode, count(*) AS numcust, " +
       "CAST(sum(bal_c) AS DOUBLE)/100.0 AS totacctbal FROM (" +
       "SELECT CAST(c_nationkey AS INT) AS cntrycode, " +
       "CAST(round(c_acctbal*100,0) AS BIGINT) AS bal_c FROM customer, " +
       "(SELECT count(*) AS p_cnt, " +
       "sum(CAST(round(c_acctbal*100,0) AS BIGINT)) AS p_sum " +
       "FROM customer WHERE c_acctbal > 0) p " +
       "WHERE CAST(round(c_acctbal*100,0) AS BIGINT) * p_cnt > p_sum " +
       "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
       "AND o_orderdate >= TIMESTAMP '1999-01-01')) " +
       "GROUP BY cntrycode ORDER BY cntrycode"),
    "q18_large_orders" ->
      ("SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, " +
       "total_qty FROM orders, customer, " +
       "(SELECT l_orderkey AS big_okey, sum(l_quantity) AS total_qty " +
       "FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 160) b " +
       "WHERE o_orderkey = big_okey AND o_custkey = c_custkey " +
       "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),
    "q8_market_share" ->
      ("SELECT o_year, " +
       "CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN vol_u ELSE 0 END) " +
       "AS DOUBLE) / CAST(sum(vol_u) AS DOUBLE) AS mkt_share FROM (" +
       "SELECT year(o_orderdate) AS o_year, n2.n_name AS supp_nation, " +
       "CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
       "(100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS vol_u " +
       "FROM part, supplier, lineitem, orders, customer, " +
       "nation n1, nation n2, region " +
       "WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey " +
       "AND l_orderkey = o_orderkey AND o_custkey = c_custkey " +
       "AND c_nationkey = n1.n_nationkey " +
       "AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA' " +
       "AND s_nationkey = n2.n_nationkey AND p_type = 'PROMO' " +
       "AND o_orderdate >= TIMESTAMP '1995-01-01' " +
       "AND o_orderdate < TIMESTAMP '1997-01-01') " +
       "GROUP BY o_year ORDER BY o_year"),
    "q15_top_supplier" ->
      ("WITH rev AS (SELECT l_suppkey, " +
       "sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
       "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS rev_u " +
       "FROM lineitem " +
       "WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
       "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey) " +
       "SELECT s_suppkey, s_name, " +
       "CAST(rev_u AS DOUBLE) / 10000.0 AS total_revenue " +
       "FROM supplier, rev WHERE s_suppkey = l_suppkey " +
       "AND rev_u = (SELECT max(rev_u) FROM rev) ORDER BY s_suppkey")
  ) ++ Map(
    // The staged supply view replays as a CTE — same grouping, same
    // single IEEE division per row, so cost is bit-identical.
    "q2_min_cost_supplier" ->
      ("WITH supply AS (SELECT l_partkey AS sp_partkey, " +
       "l_suppkey AS sp_suppkey, " +
       "min(l_extendedprice / l_quantity) AS cost " +
       "FROM lineitem GROUP BY 1, 2) " +
       "SELECT s_acctbal, s_name, n_name, p_partkey, p_type, cost " +
       "FROM part, supply, supplier, nation, region " +
       "WHERE p_partkey = sp_partkey AND sp_suppkey = s_suppkey " +
       "AND p_size <= 15 AND p_type = 'LARGE' " +
       "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
       "AND r_name = 'EUROPE' " +
       "AND cost = (SELECT min(s2.cost) " +
       "FROM supply s2, supplier sup2, nation n2, region r2 " +
       "WHERE s2.sp_partkey = p_partkey " +
       "AND s2.sp_suppkey = sup2.s_suppkey " +
       "AND sup2.s_nationkey = n2.n_nationkey " +
       "AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE') " +
       "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"),
    // profit_u replays exactly: DuckDB's BIGINT sum widens to HUGEINT,
    // matching the Spark side's DECIMAL(38,0) accumulator.
    "q9_profit_rollup" ->
      ("SELECT nation, o_year, " +
       "CAST(sum(profit_u) AS DOUBLE) / 10000.0 AS sum_profit FROM (" +
       "SELECT n_name AS nation, year(o_orderdate) AS o_year, " +
       "CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
       "(100 - CAST(round(l_discount * 100, 0) AS BIGINT)) - " +
       "CAST(round(p_retailprice * 100, 0) AS BIGINT) * " +
       "CAST(round(l_quantity * 100, 0) AS BIGINT) AS profit_u " +
       "FROM part, supplier, lineitem, orders, nation " +
       "WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey " +
       "AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey " +
       "AND p_name LIKE '%gizmo%') " +
       "GROUP BY nation, o_year ORDER BY nation, o_year DESC"),
    "q11_important_stock" ->
      ("WITH val AS (SELECT l_partkey AS p_partkey, " +
       "sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * " +
       "CAST(round(l_quantity * 100, 0) AS BIGINT)) AS val_u " +
       "FROM lineitem, supplier, nation " +
       "WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey " +
       "AND n_name = 'NATION_3' GROUP BY 1) " +
       "SELECT p_partkey, CAST(val_u AS DOUBLE) / 10000.0 AS part_value " +
       "FROM val " +
       "WHERE val_u * (SELECT count(*) FROM val) > " +
       "3 * (SELECT sum(val_u) FROM val) " +
       "ORDER BY part_value DESC, p_partkey"),
    "q16_not_in_distinct" -> Q16Sql,
    "q20_nested_semi" -> Q20Sql
  )
}
