package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Core._

/** The 22 TPC-H anchors (b1-b22) — recognizable performance reference
  * points pinned on the oracle surface, split out of Relational.scala
  * in r14 (file-size review). b18-b22 synthesize partsupp in-plan via
  * [[graft.Tables.partsupp]] / its shared DuckDB CTE twin. Money sums
  * are exact grid sums (Core.xsum / floor-form HUGEINT twins) since
  * r14 — see PLANS.md "j1_fact_dims (round 14)".
  */
object Anchors {
  private type Q = (SparkSession, String) => DataFrame

  /** The b9/b17/b19 fact prefilter: drop `big` rows whose `bigKey`
    * cannot match any of `keys` — a broadcast LEFT SEMI while the key
    * set fits the broadcast bound, the 10-bits/key bloom filter past it
    * (flat driver memory at the 100 TB design point; false positives
    * just ride through to the inner join that drops them). b9 and b17
    * gate the CALL on the orders row count, read from the parquet
    * footers (no job), so the below-gate plan stays the pre-r17 shape;
    * b19 prefilters at every scale. b5 keeps its own bloom-only form (see
    * its comment).
    */
  private def prefilterByKeys(big: DataFrame, bigKey: org.apache.spark.sql
      .Column, keys: DataFrame): DataFrame = {
    val keyName = keys.columns.head
    val nk = keys.count()
    if (nk <= 30_000_000L)
      big.join(broadcast(keys.select(col(keyName).as("__pf_key"))),
        bigKey === col("__pf_key"), "left_semi")
    else graft.plans.Expressions.bloomPrune(big, bigKey, keys, nk,
      math.max(16384L, 10L * nk))
  }

  val defs: Map[String, Q] = Map(

    // beyond-§2 benchmark anchors: the two classic TPC-H shapes, pinned
    // on the oracle surface as recognizable performance reference points
    // on the same tables the bench already reads. b1 = Q1 pricing
    // summary (the widest single-pass aggregate: one scan, one
    // partial+final hash agg, a ~97% time filter at the scan); b2 =
    // Q3-shaped shipping priority (selective dim filter + opposing time
    // filters on fact and orders + top-k — o_shippriority doesn't exist
    // in this fixture, o_orderpriority stands in).
    "b1_tpch_q1" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <=
          to_timestamp(lit("2001-08-06 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        // xsum, not dsum (r14): every input sits on the 2dp money grid
        // by schema, so qty/price are exact at dp=2, the discount
        // product at dp=4, the tax-compounded charge at dp=6 — seven
        // decimal aggregates become seven two-long codegen accumulators
        // (the measured j1 finding, tools/J1Audit; Q1 is the heaviest
        // anchor and was paying it seven times per row)
        .agg(
          xsum(col("l_quantity"), dp = 2).as("sum_qty"),
          xsum(col("l_extendedprice"), dp = 2).as("sum_base_price"),
          xsum(col("l_extendedprice") * (lit(1d) - col("l_discount")),
            dp = 4).as("sum_disc_price"),
          xsum(col("l_extendedprice") * (lit(1d) - col("l_discount"))
            * (lit(1d) + col("l_tax")), dp = 6).as("sum_charge"),
          round4(xsum(col("l_quantity"), dp = 2)
            / count(col("l_quantity"))).as("avg_qty"),
          round4(xsum(col("l_extendedprice"), dp = 2)
            / count(col("l_extendedprice"))).as("avg_price"),
          round4(xsum(col("l_discount"), dp = 2)
            / count(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // b3 = Q6 forecasting revenue change: the pure scan-filter-aggregate
    // — every predicate lands in the parquet scan, the aggregate is one
    // scalar; the cleanest measure of raw scan+filter throughput.
    "b3_tpch_q6" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1998-01-01 00:00:00"))
          && col("l_shipdate") < to_timestamp(lit("1999-01-01 00:00:00"))
          && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
          && col("l_quantity") < 24d)
        .agg(xsum(col("l_extendedprice") * col("l_discount"), dp = 4).as("revenue"),
          count(lit(1)).as("n"))
    },

    "b2_tpch_q3" -> { (s, d) =>
      val pivot = to_timestamp(lit("1998-01-01 00:00:00"))
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d).filter(col("o_orderdate") < pivot),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d).filter(col("l_shipdate") > pivot),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(xsum(col("l_extendedprice") * (lit(1d) - col("l_discount")), dp = 4)
          .as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          epochSec(col("o_orderdate")).as("odate_sec"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // b4 = Q18 large-volume customer: aggregate the fact table per key,
    // filter ON the aggregate (HAVING), then join the surviving keys back
    // to their order/customer context — the "find the heavy keys, then
    // fetch their rows" shape the whale/leaderboard routes share. Scale:
    // the HAVING reduces the fact side to the rare heavy keys BEFORE the
    // joins, so the join probe side is tiny regardless of corpus size.
    "b4_tpch_q18" -> { (s, d) =>
      val heavy = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(xsum(col("l_quantity"), dp = 2).as("total_qty"))
        .filter(col("total_qty") > 250d)
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(heavy, col("o_orderkey") === col("l_orderkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          epochSec(col("o_orderdate")).as("odate_sec"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    // b5 = Q5 local-supplier volume: the 6-way star with selective dims —
    // region prunes nation prunes customer; the c_nationkey = s_nationkey
    // equality closes the loop through the fact table. The dims broadcast
    // (planner-sized), the fact joins shuffle on their keys.
    "b5_tpch_q5" -> { (s, d) =>
      val from = to_timestamp(lit("1996-01-01 00:00:00"))
      val until = to_timestamp(lit("1997-01-01 00:00:00"))
      // r17 session 2: the b17-style gated fact prefilter, thresholds
      // from b5's OWN interleaved decade table (OPTIMIZATION_r17.md
      // item 14 — old / semi / bloom): 10× old 1.55 / 1.60 / 1.99; 100×
      // 44.8 / 23.3 / 12.9; 1000× 82.0 / 21.6 / 17.9. The bloom form
      // wins BOTH big decades (3.5× / 4.6× — unlike b17, where semi
      // won: b5's one-year ASIA key set is ~4× smaller, so the bitset
      // probe beats the broadcast hash build), the prefilter loses at
      // 10×, so the gate is 5M orders (geometric middle of 1.5M loses /
      // 15M wins), counted from the parquet footers. Bits are 10/key off
      // the exact key count; past 2e9 keys (a 2.5 GB bitset — beyond any
      // measured regime and beyond a sane broadcast) the gate falls back
      // to the plain join rather than ship an untested shape. Hence no
      // prefilterByKeys here: its semi-below-30M-keys switch would pick
      // the semi form at every measured decade, and that table has semi
      // losing to bloom (21.6 vs 17.9 s at 1000×). The prefilter only removes rows the inner
      // join drops — result identical on every path (oracle-pinned).
      val prunedOrders = Tables.region(s, d).filter(col("r_name") === "ASIA")
        .join(Tables.nation(s, d),
          col("r_regionkey") === col("n_regionkey"))
        .join(Tables.customer(s, d),
          col("n_nationkey") === col("c_nationkey"))
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= from && col("o_orderdate") < until),
          col("c_custkey") === col("o_custkey"))
      val fact =
        if (Tables.rowCount(s, d, "orders") < 5_000_000L)
          Tables.lineitem(s, d)
        else {
          val keys = prunedOrders.select(col("o_orderkey")).distinct()
          val nk = keys.count()
          if (nk <= 2_000_000_000L)
            graft.plans.Expressions.bloomPrune(Tables.lineitem(s, d),
              col("l_orderkey"), keys, math.max(1L, nk),
              math.max(16384L, 10L * nk))
          else Tables.lineitem(s, d)
        }
      prunedOrders
        .join(fact, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(xsum(col("l_extendedprice") * (lit(1d) - col("l_discount")), dp = 4)
          .as("revenue"))
    },

    // b6 = Q4 order-priority checking (shape): a date-windowed dim side
    // EXISTS-probed against the fact with a cross-table line predicate —
    // the canonical "orders with at least one late line" semi-join. The
    // fixture lacks commit/receipt dates, so lateness is l_shipdate more
    // than 60 days after o_orderdate; the plan shape (windowed scan →
    // one shuffled left-semi with an equi key + non-equi conjunct → tiny
    // group-by) is Q4's. The semi-join dedups order keys BEFORE the
    // aggregate, so the agg input is bounded by |orders in window|.
    "b6_tpch_q4" -> { (s, d) =>
      val from = to_timestamp(lit("1996-01-01 00:00:00"))
      val until = to_timestamp(lit("1996-07-01 00:00:00"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= from && col("o_orderdate") < until)
      val l = Tables.lineitem(s, d)
      o.join(l,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },

    // b7 = Q12 shipmode/priority (shape): fact⋈dim with a date-windowed
    // fact scan and a two-way conditional count by priority class —
    // grouped by l_linestatus standing in for shipmode. Every fact
    // predicate is in PushedFilters; the join shuffles on the order key
    // and the aggregate is |linestatus|-row.
    "b7_tpch_q12" -> { (s, d) =>
      val from = to_timestamp(lit("1997-01-01 00:00:00"))
      val until = to_timestamp(lit("1998-01-01 00:00:00"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= from && col("l_shipdate") < until)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          count_if(col("o_orderpriority") === "1-URGENT" ||
            col("o_orderpriority") === "2-HIGH").as("high_line_count"),
          count_if(col("o_orderpriority") =!= "1-URGENT" &&
            col("o_orderpriority") =!= "2-HIGH").as("low_line_count"))
    },

    // b8 = Q10 returned-item reporting: quarter-windowed orders joined
    // to the 'R'-flagged slice of the fact table and the customer→nation
    // context, revenue per customer, top 20. The returnflag predicate
    // and the date window both land in PushedFilters; the heavy join is
    // fact⋈orders on the order key; customer/nation context joins
    // behind the aggregate's key. Exact-decimal revenue (dsum) like b2.
    "b8_tpch_q10" -> { (s, d) =>
      val from = to_timestamp(lit("1996-01-01 00:00:00"))
      val until = to_timestamp(lit("1996-04-01 00:00:00"))
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= from && col("o_orderdate") < until),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.nation(s, d),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(xsum(col("l_extendedprice") * (lit(1d) - col("l_discount")), dp = 4)
          .as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // b9 = Q7 volume shipping: the two-nation trade-flow report — the
    // fact table joined to BOTH its supplier's and its customer's
    // nation, filtered to the (N1,N2)∪(N2,N1) pair, yearly revenue per
    // direction. Exercises the same dim twice under different keys
    // (n1/n2 aliases), a 2-year fact window in PushedFilters, and a
    // 2×2×|years| aggregate.
    "b9_tpch_q7" -> { (s, d) =>
      val from = to_timestamp(lit("1996-01-01 00:00:00"))
      val until = to_timestamp(lit("1998-01-01 00:00:00"))
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      // r17 session 2: the nation-pair predicate only keeps rows whose
      // SUPPLIER nation ∈ {N1, N2} and whose CUSTOMER nation ∈ {N1, N2}
      // — 2 of 25 nations each — so above the 50M-orders gate the fact
      // is prefiltered by the two-nation SUPPLIER keys and orders by
      // the two-nation CUSTOMER keys (broadcast semi / bloom via
      // prefilterByKeys) before the fact⋈orders exchange moves either.
      // Measured interleaved (OPTIMIZATION_r17.md item 14,
      // old/semi/bloom): 10× 2.00 / 1.75 / 2.09; 100× 19.1 / 17.7 /
      // 16.9; 1000× 245.7 / 7.6 / 7.7 — the ungated fact⋈orders shuffle
      // hits the spill wall at the 1000× decade (guide §2.2:
      // superlinear 12.9× growth for 10× data) and the prefilters
      // collapse both exchange sides ~12×, a 32× win there; below 50M
      // orders the deltas are inside host dispersion, so the gate keeps
      // the pre-r17 plan unchanged. Necessary conditions only — every
      // dropped row fails the final pair filter — so the result is
      // identical on every path (oracle-pinned).
      val twoNations = Seq("NATION_1", "NATION_2")
      val big = Tables.rowCount(s, d, "orders") >= 50_000_000L
      val fact0 = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= from && col("l_shipdate") < until)
      val fact =
        if (!big) fact0
        else prefilterByKeys(fact0, col("l_suppkey"),
          Tables.supplier(s, d)
            .join(n1.filter(col("supp_nation").isin(twoNations: _*)),
              col("s_nationkey") === col("s_nk"))
            .select(col("s_suppkey")))
      val orders =
        if (!big) Tables.orders(s, d)
        else prefilterByKeys(Tables.orders(s, d), col("o_custkey"),
          Tables.customer(s, d)
            .join(n2.filter(col("cust_nation").isin(twoNations: _*)),
              col("c_nationkey") === col("c_nk"))
            .select(col("c_custkey")))
      fact
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("s_nk"))
        .join(n2, col("c_nationkey") === col("c_nk"))
        .filter(
          (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(xsum(col("l_extendedprice") * (lit(1d) - col("l_discount")), dp = 4)
          .as("revenue"))
    },

    // b10 = Q13 customer distribution: LEFT OUTER join with a join-side
    // predicate (the comment filter stands in as a priority filter), then
    // two stacked aggregates — orders-per-customer, customers-per-count.
    // The outer join must keep orderless customers (count = 0 bucket);
    // the second aggregate's input is |customer| rows, so the heavy work
    // is the first shuffle only.
    "b10_tpch_q13" -> { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },

    // b11 = Q21 suppliers-who-kept-orders-waiting (shape): late lines on
    // finished orders where ANOTHER supplier shipped the same order
    // (EXISTS) but NO other supplier was also late (NOT EXISTS).
    // Lateness is the b6 stand-in (ship > orderdate + 60d; fixture has
    // no commit/receipt dates).
    //
    // r17 single-pass shape (r16 verdict #3 — was the slowest untouched
    // anchor, 3 lineitem + 2 orders scans): both correlated EXISTS
    // conditions depend only on per-order supplier sets, so ONE
    // lineitem ⋈ F-orders pass with a `late` flag reduces to one row
    // per (order, supplier) carrying its late-line count, and a window
    // over the order key derives both gates — EXISTS(other supplier) ⟺
    // the order has ≥ 2 distinct suppliers (supplier-row count per
    // order), NOT EXISTS(other LATE supplier) ⟺ exactly 1 distinct
    // supplier in the order has a late line (and this supplier, being
    // late, is it). Restricting the pass to F-orders loses nothing:
    // orderkeys are unique in orders, so every l2/l3 row of the SQL
    // subqueries shares l1's (finished) order. numwait = count of LATE
    // LINES per supplier over qualifying orders = Σ n_late_lines; the
    // pre-reduced frame makes both the window and the supplier join
    // move (order, supplier) rows, never raw lines.
    "b11_tpch_q21" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val perSupp = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(count(when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAYS"), lit(1)))
          .as("n_late_lines"))
      val w = Window.partitionBy(col("l_orderkey"))
      perSupp
        .withColumn("n_supp", count(lit(1)).over(w))
        .withColumn("n_late_supp",
          sum(when(col("n_late_lines") > 0, 1L).otherwise(0L)).over(w))
        .filter(col("n_late_lines") > 0 && col("n_supp") >= 2 &&
          col("n_late_supp") === 1)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(sum(col("n_late_lines")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },

    // b12 = Q22 global-sales-opportunity (shape): scalar-subquery
    // threshold (average positive balance, exact-decimal sum so both
    // engines divide identical doubles) + anti join against the order
    // fact (customers with NO urgent order; the fixture's every-customer-
    // orders density makes plain "no orders" empty, so the urgent slice
    // stands in for the Q22 "no recent orders" correlate). The 1-row
    // aggregate broadcasts; the anti join shuffles on the customer key.
    "b12_tpch_q22" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val bal = c.filter(col("c_acctbal") > 0d)
        .agg((xsum(col("c_acctbal"), dp = 2) / count(col("c_acctbal"))).as("avg_bal"))
      c.join(broadcast(bal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(Tables.orders(s, d)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          xsum(col("c_acctbal"), dp = 2).as("totacctbal"))
    },

    // b13 = Q14 promo revenue share: month-windowed fact ⋈ part dim with
    // a conditional numerator over the joined row — the share-of-total
    // pattern (one scan, one dim join, two sums in one aggregate). The
    // date window is in PushedFilters; the division happens once on two
    // exact-decimal doubles so both engines produce the identical bit.
    "b13_tpch_q14" -> { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1d) - col("l_discount"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01 00:00:00"))
          && col("l_shipdate") < to_timestamp(lit("1997-03-01 00:00:00")))
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .agg((lit(100d) * xsum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0d)), dp = 4) /
          xsum(rev, dp = 4)).as("promo_revenue"),
          count(lit(1)).as("n"))
    },

    // b14 = Q19 discounted-revenue brackets: the OR-of-ANDs predicate
    // spanning both join sides — brand/size brackets on the dim,
    // quantity brackets on the fact. The planner can push only the
    // per-side disjunction envelopes (quantity 1-30 to the fact scan,
    // brand IN (...) to the dim scan); the full bracket evaluates as a
    // post-join filter. Pinned because naive OR handling re-scans or
    // drops the pushdown entirely.
    "b14_tpch_q19" -> { (s, d) =>
      val bracket =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1d, 11d)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10d, 20d)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20d, 30d))
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .filter(bracket)
        .agg(xsum(col("l_extendedprice") * (lit(1d) - col("l_discount")), dp = 4)
          .as("revenue"),
          count(lit(1)).as("n"))
    },

    // b15 = Q17 small-quantity-order revenue: the correlated per-group
    // scalar (20% of each part's mean quantity) as a group-by + join-back
    // instead of a per-row subquery. The brand filter prunes FIRST via a
    // left-semi join on the part key, so the threshold aggregate and the
    // re-join see only the brand's lineitems — the decorrelated plan the
    // optimizer should reach, written directly. The threshold is exact
    // decimal mean × 0.2 in double (commutative with the twin's 0.2 ×
    // mean), so the < comparison cannot flip between engines.
    // r16: the threshold as a WINDOW aggregate over l_partkey instead of
    // a groupBy + join-back — the join form scanned the brand-pruned
    // fact TWICE (plan operators 1 vs 8 in
    // plans/r16/b15_tpch_q17_before.txt; the r15 verdict's two-full-
    // fact-passes finding at the 1000× decade). One fact pass, one
    // exchange on l_partkey; the mean (exact Int128 sum ÷ count) and
    // every comparison are value-identical.
    "b15_tpch_q17" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pk = Tables.part(s, d).filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, d)
        .join(pk, col("l_partkey") === col("p_partkey"), "left_semi")
      val w = Window.partitionBy(col("l_partkey"))
      li.withColumn("thr",
          (xsumOver(col("l_quantity"), dp = 2, w)
            / count(col("l_quantity")).over(w)) * 0.2d)
        .filter(col("l_quantity") < col("thr"))
        .agg((xsum(col("l_extendedprice"), dp = 2) / 7.0d).as("avg_yearly"),
          count(lit(1)).as("n"))
    },

    // b16 = Q15 top supplier: quarter-windowed revenue per supplier,
    // then keep the max-revenue row(s) — the "aggregate, then filter on
    // the aggregate's own max" shape. The max is a 1-row scalar
    // broadcast (the lint's sanctioned pattern); supplier context joins
    // after the filter, when at most a handful of rows survive.
    "b16_tpch_q15" -> { (s, d) =>
      val from = to_timestamp(lit("1996-01-01 00:00:00"))
      val until = to_timestamp(lit("1996-04-01 00:00:00"))
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= from && col("l_shipdate") < until)
        .groupBy(col("l_suppkey"))
        .agg(xsum(col("l_extendedprice") * (lit(1d) - col("l_discount")), dp = 4)
          .as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mr"))
      rev.join(broadcast(mx))
        .filter(col("total_revenue") === col("mr"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    },

    // b17 = Q8 market share: two-year revenue in one consuming region,
    // split by whether the SUPPLIER sits in the focus nation — share =
    // conditional sum / total sum per year, both exact-decimal doubles
    // divided once. The region→nation→customer chain prunes the order
    // side before the fact join; the supplier nation tags the numerator.
    //
    // r17 (r16 verdict #7): a b19-style fact prefilter, gated on scale.
    // Only ~ASIA-share × two-year-share of lineitem survives the order
    // join, so at the big decades a broadcast LEFT SEMI against the
    // pruned DISTINCT orderkeys drops the non-matching fact rows
    // map-side BEFORE the fact exchange — measured interleaved
    // (OPTIMIZATION_r17.md item 11): 36.7 → 19.0 s at 1000× (1.93×); at
    // 100× the same prefilter LOSES (10.1 → 12.8 s — the pruned chain
    // scanned twice costs more than the saved fact shuffle). The gate
    // is the orders row count from the parquet footers (no job), with
    // the threshold (50M orders) at the measured crossover's geometric
    // middle (15M loses, 150M wins) — data-derived, not a core-count
    // constant. Past the broadcast-safe key volume prefilterByKeys
    // switches to the bloom form (10 bits/key, the d12 machinery;
    // measured within 9 % of semi at 1000×, and the only shape whose
    // driver memory is flat at 100 TB). Either prefilter only removes rows the inner join drops, so
    // the result is identical on every path (oracle-pinned).
    "b17_tpch_q8" -> { (s, d) =>
      val from = to_timestamp(lit("1996-01-01 00:00:00"))
      val until = to_timestamp(lit("1998-01-01 00:00:00"))
      val rev = col("l_extendedprice") * (lit(1d) - col("l_discount"))
      val suppNation = Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))
      val prunedOrders = Tables.region(s, d).filter(col("r_name") === "ASIA")
        .join(Tables.nation(s, d),
          col("r_regionkey") === col("n_regionkey"))
        .join(Tables.customer(s, d),
          col("n_nationkey") === col("c_nationkey"))
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= from && col("o_orderdate") < until),
          col("c_custkey") === col("o_custkey"))
      val fact =
        if (Tables.rowCount(s, d, "orders") < 50_000_000L)
          Tables.lineitem(s, d)
        else prefilterByKeys(Tables.lineitem(s, d), col("l_orderkey"),
          prunedOrders.select(col("o_orderkey")).distinct())
      prunedOrders
        .join(fact, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey"))
        .join(suppNation, col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((xsum(when(col("supp_nation") === "NATION_1", rev)
            .otherwise(lit(0d)), dp = 4) / xsum(rev, dp = 4))
          .as("mkt_share"),
          count(lit(1)).as("n"))
    },

    // b18 = Q2 minimum-cost supplier: the synthesized partsupp
    // (Tables.partsupp, FIXTURES.md §A) joined through supplier→nation→
    // region, min-cost-per-part decorrelated into a grouped min + equi
    // join (Catalyst's own decorrelation of the Q2 correlated scalar).
    // min(double) is order-insensitive so no decimal detour is needed;
    // the supplier/nation/region chain is dim-sized and broadcasts.
    // Missing fixture columns (p_mfgr, s_address, s_phone, s_comment)
    // are projected out, same adaptation policy as b1-b17.
    "b18_tpch_q2" -> { (s, d) =>
      val eu = Tables.partsupp(s, d)
        .join(Tables.supplier(s, d), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("ps_partkey"), col("ps_suppkey"), col("ps_supplycost"),
          col("s_name"), col("s_acctbal"), col("n_name"))
      val mn = eu.groupBy(col("ps_partkey").as("mn_partkey"))
        .agg(min(col("ps_supplycost")).as("min_cost"))
      Tables.part(s, d)
        .filter(col("p_size") <= 15 && col("p_type") === "LARGE")
        .join(eu, col("p_partkey") === col("ps_partkey"))
        .join(mn, col("ps_partkey") === col("mn_partkey") &&
          col("ps_supplycost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_type"), col("ps_supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },

    // b19 = Q9 product-type profit: the widest partsupp shape — fact
    // joined to partsupp on BOTH keys (partkey, suppkey) for the
    // supply cost, profit = revenue − cost·qty summed exactly per
    // (supplier-nation, order-year). The partsupp side is derived, so
    // the two-key join carries the same pushdown/pruning behavior as a
    // scan-backed dim; at 100 TB the fact side shuffles on its join
    // keys once and the dims broadcast.
    "b19_tpch_q9" -> { (s, d) =>
      val profit = col("l_extendedprice") * (lit(1d) - col("l_discount")) -
        col("ps_supplycost") * col("l_quantity")
      // join ORDER is hand-set (Catalyst has no CBO stats here): the
      // name-filtered part slice prunes partsupp FIRST (~1/8 of rows),
      // so the two-key fact join's build side shrinks 8× and the fact
      // stream is cut to the matching slice BEFORE the orders join —
      // measured 4.8 → ~2 s at 100× vs joining the full partsupp and
      // filtering after (the fact⋈orders shuffle was carrying 8× rows)
      // deliberately NOT persisted/checkpointed although three
      // consumers scan it (the partsupp prune, the fact prefilter, the
      // guard count): part is a DIM and each scan is column-pruned to
      // (p_partkey, p_name) with the name filter pushed — an eager
      // checkpoint or cache would hide that pushdown behind an
      // InMemoryTableScan (PlanLintSpec pins it visible) to save three
      // ~1%-of-corpus pruned scans
      val redKeys = Tables.part(s, d)
        .filter(col("p_name").contains("red")).select(col("p_partkey"))
      val ps = Tables.partsupp(s, d)
        .join(redKeys, col("p_partkey") === col("ps_partkey"))
      // (r15 Q9 stage audit, PLANS.md) the fact⋈partsupp two-key join
      // was 44-53 s of b19's ~54 s at 1000× — ALL of lineitem (600M
      // rows, ~30 GB) shuffled into it while only ~13% survive the
      // red-part slice. A broadcast LEFT SEMI against the red part KEYS
      // (1M longs ≈ 8 MB at 1000×) drops the non-matching 87% map-side,
      // BEFORE the fact ever exchanges. prefilterByKeys GUARDS the
      // broadcast with a key count (a map-side-combined scalar agg):
      // past the shuffle-feasible broadcast size the same prefilter
      // becomes a bloom runtime filter sized at ~10 bits/key (the
      // d12/d13 decontamination machinery). Either form only removes
      // rows the inner join would drop — bloom false positives just
      // ride through to the exact two-key join — so the result is
      // identical.
      prefilterByKeys(Tables.lineitem(s, d), col("l_partkey"), redKeys)
        .join(ps, col("ps_partkey") === col("l_partkey") &&
            col("ps_suppkey") === col("l_suppkey"))
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(xsum(profit, dp = 4).as("sum_profit"), count(lit(1)).as("n"))
    },

    // b20 = Q11 important stock: one nation's partsupp value per part,
    // HAVING a share-of-total threshold — the scalar total decorrelated
    // into a 1-row broadcast cross join (never a per-group re-scan).
    // Both sides sum in exact decimal and compare as doubles, so the
    // threshold cut is bit-deterministic under any partitioning.
    "b20_tpch_q11" -> { (s, d) =>
      val value = col("ps_supplycost") * col("ps_availqty")
      val nat = Tables.partsupp(s, d)
        .join(Tables.supplier(s, d), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)
            .filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("ps_partkey"), col("ps_availqty"), col("ps_supplycost"))
      val tot = nat.agg(xsum(value, dp = 2).as("total"))
      nat.groupBy(col("ps_partkey"))
        .agg(xsum(value, dp = 2).as("value"))
        .crossJoin(broadcast(tot))
        .filter(col("value") > col("total") * 0.002d)
        .select(col("ps_partkey"), col("value"))
        .orderBy(col("value").desc, col("ps_partkey"))
    },

    // b21 = Q16 supplier-count by part attributes: distinct suppkeys
    // per (brand, type, size) with a NOT-IN exclusion — the "complaints"
    // suppliers (no s_comment in the fixture; negative balance stands
    // in) anti-joined BEFORE the distinct-count so excluded suppliers
    // never reach the aggregate. The exclusion list is dim-sized and
    // broadcasts; count_distinct shuffles once on the group keys.
    "b21_tpch_q16" -> { (s, d) =>
      val excluded = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0d).select(col("s_suppkey"))
      Tables.partsupp(s, d)
        .join(broadcast(excluded), col("ps_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(Tables.part(s, d)
            .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "MEDIUM" &&
              col("p_size").isin(1, 4, 7, 10, 15, 23, 30, 45)),
          col("p_partkey") === col("ps_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(count_distinct(col("ps_suppkey")).as("supplier_cnt"))
    },

    // b22 = Q20 potential part promotion: suppliers holding more than
    // half a year's shipped quantity of a name-matched part. The
    // correlated availqty > 0.5·sum(l_quantity) scalar decorrelates
    // into a grouped lineitem aggregate inner-joined on BOTH partsupp
    // keys (inner join reproduces the NULL-comparison drop when a
    // (part,supplier) pair shipped nothing in the window), then a
    // left-semi into supplier. l_quantity sums in exact decimal so the
    // 0.5× threshold is bit-stable; the date window prunes the fact
    // scan at the parquet level.
    "b22_tpch_q20" -> { (s, d) =>
      val from = to_timestamp(lit("1996-01-01 00:00:00"))
      val until = to_timestamp(lit("1997-01-01 00:00:00"))
      val halfq = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= from && col("l_shipdate") < until)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg((lit(0.5d) * xsum(col("l_quantity"), dp = 2)).as("half_qty"))
      val holders = Tables.partsupp(s, d)
        .join(Tables.part(s, d).filter(col("p_name").startsWith("blue")),
          col("p_partkey") === col("ps_partkey"))
        .join(halfq, col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
        .filter(col("ps_availqty") > col("half_qty"))
        .select(col("ps_suppkey"))
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name").isin(
          "NATION_1", "NATION_3", "NATION_5", "NATION_7", "NATION_9"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(holders, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
    },
  )

  val oracles: Map[String, String] = Map(
    "b1_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS sum_qty,
         CAST(SUM(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS DOUBLE)/100
           AS sum_base_price,
         CAST(SUM(CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000
           AS sum_disc_price,
         CAST(SUM(CAST(floor(l_extendedprice*(1-l_discount)*(1+l_tax)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000
           AS sum_charge,
         round((CAST(SUM(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) AS DOUBLE)/100)
           / count(l_quantity), 4) AS avg_qty,
         round((CAST(SUM(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS DOUBLE)/100)
           / count(l_extendedprice), 4) AS avg_price,
         round((CAST(SUM(CAST(floor(l_discount*100 + 0.5) AS BIGINT)) AS DOUBLE)/100)
           / count(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2001-08-06 00:00:00'
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "b3_tpch_q6" ->
      """SELECT CAST(SUM(CAST(floor(l_extendedprice*l_discount*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000
           AS revenue, count(*) AS n
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",
    "b2_tpch_q3" ->
      """SELECT l_orderkey,
         CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount))*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000 AS revenue,
         CAST(epoch(o_orderdate) AS BIGINT) AS odate_sec,
         o_orderpriority
         FROM customer
         JOIN orders ON c_custkey = o_custkey
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         JOIN lineitem ON o_orderkey = l_orderkey
           AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY 1, 3, 4
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "b4_tpch_q18" ->
      """WITH heavy AS (
           SELECT l_orderkey,
             CAST(SUM(CAST(floor((l_quantity)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100
               AS total_qty
           FROM lineitem GROUP BY 1
           HAVING CAST(SUM(CAST(floor((l_quantity)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100
             > 250)
         SELECT c_name, c_custkey, o_orderkey,
           CAST(epoch(o_orderdate) AS BIGINT) AS odate_sec,
           o_totalprice, total_qty
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN heavy ON o_orderkey = l_orderkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "b5_tpch_q5" ->
      """SELECT n_name,
         CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount))*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000 AS revenue
         FROM region
         JOIN nation ON r_regionkey = n_regionkey
         JOIN customer ON n_nationkey = c_nationkey
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
           AND c_nationkey = s_nationkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY 1 ORDER BY revenue DESC, n_name""",
    "b6_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey
               AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1 ORDER BY 1""",
    "b7_tpch_q12" ->
      """SELECT l_linestatus,
           count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
             AS high_line_count,
           count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
             AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1 ORDER BY 1""",
    "b8_tpch_q10" ->
      """SELECT c_custkey, c_name,
           CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount))*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000 AS revenue,
           c_acctbal, n_name
         FROM customer
         JOIN orders ON c_custkey = o_custkey
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         JOIN lineitem ON o_orderkey = l_orderkey AND l_returnflag = 'R'
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1, 2, 4, 5
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "b9_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount))*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000 AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         GROUP BY 1, 2, 3
         ORDER BY 1, 2, 3""",
    "b10_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             AND o_orderpriority <> '1-URGENT'
           GROUP BY 1)
         GROUP BY 1 ORDER BY custdist DESC, c_count DESC""",
    "b11_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
         FROM lineitem l1
         JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
         JOIN supplier ON l1.l_suppkey = s_suppkey
         WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
             WHERE l2.l_orderkey = l1.l_orderkey
               AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
             WHERE l3.l_orderkey = l1.l_orderkey
               AND l3.l_suppkey <> l1.l_suppkey
               AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""",
    "b12_tpch_q22" ->
      """SELECT c_mktsegment, count(*) AS numcust,
           CAST(SUM(CAST(floor((c_acctbal)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100
             AS totacctbal
         FROM customer
         WHERE c_acctbal > (
             SELECT CAST(SUM(CAST(floor((c_acctbal)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100
               / count(c_acctbal)
             FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders
             WHERE o_custkey = c_custkey
               AND o_orderpriority = '1-URGENT')
         GROUP BY 1 ORDER BY 1""",
    "b13_tpch_q14" ->
      """SELECT 100 * (CAST(SUM(CAST(floor((CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0 END)*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000)
           / (CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount))*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000) AS promo_revenue,
           count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-03-01 00:00:00'""",
    "b14_tpch_q19" ->
      """SELECT CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount))*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000 AS revenue,
           count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
             AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
             AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 20 AND 30)""",
    "b15_tpch_q17" ->
      """SELECT CAST(SUM(CAST(floor((l_extendedprice)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 / 7.0 AS avg_yearly,
           count(*) AS n
         FROM lineitem l JOIN part p ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#23'
           AND l_quantity < (
             SELECT (CAST(SUM(CAST(floor((l2.l_quantity)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 / count(l2.l_quantity)) * 0.2
             FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""",
    "b16_tpch_q15" ->
      """WITH rev AS (
           SELECT l_suppkey,
             CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount))*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000 AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         ORDER BY s_suppkey""",
    "b17_tpch_q8" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           (CAST(SUM(CAST(floor((CASE WHEN n2.n_name = 'NATION_1' THEN l_extendedprice*(1-l_discount) ELSE 0 END)*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000)
           / (CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount))*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000) AS mkt_share,
           count(*) AS n
         FROM region
         JOIN nation n1 ON r_regionkey = n1.n_regionkey
         JOIN customer ON n1.n_nationkey = c_nationkey
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1 ORDER BY 1""",
    "b18_tpch_q2" ->
      s"""WITH ${Tables.partsuppCte},
         eu AS (
           SELECT ps_partkey, ps_suppkey, ps_supplycost, s_name, s_acctbal,
             n_name
           FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE'),
         mn AS (SELECT ps_partkey AS mn_partkey,
             min(ps_supplycost) AS min_cost FROM eu GROUP BY 1)
         SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost
         FROM part JOIN eu ON p_partkey = ps_partkey
         JOIN mn ON ps_partkey = mn_partkey AND ps_supplycost = min_cost
         WHERE p_size <= 15 AND p_type = 'LARGE'
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
    "b19_tpch_q9" ->
      s"""WITH ${Tables.partsuppCte}
         SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount) - ps_supplycost*l_quantity)*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000
             AS sum_profit,
           count(*) AS n
         FROM lineitem
         JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         JOIN part ON p_partkey = l_partkey
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN orders ON o_orderkey = l_orderkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%red%'
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "b20_tpch_q11" ->
      s"""WITH ${Tables.partsuppCte},
         nat AS (
           SELECT ps_partkey, ps_availqty, ps_supplycost
           FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_7'),
         tot AS (SELECT CAST(SUM(CAST(floor((ps_supplycost*ps_availqty)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS total FROM nat)
         SELECT ps_partkey,
           CAST(SUM(CAST(floor((ps_supplycost*ps_availqty)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS value
         FROM nat, tot GROUP BY ps_partkey, total
         HAVING CAST(SUM(CAST(floor((ps_supplycost*ps_availqty)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 > total * 0.002
         ORDER BY value DESC, ps_partkey""",
    "b21_tpch_q16" ->
      s"""WITH ${Tables.partsuppCte}
         SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
         FROM partsupp JOIN part ON p_partkey = ps_partkey
         WHERE p_brand <> 'Brand#5' AND p_type <> 'MEDIUM'
           AND p_size IN (1,4,7,10,15,23,30,45)
           AND ps_suppkey NOT IN (
             SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "b22_tpch_q20" ->
      s"""WITH ${Tables.partsuppCte},
         halfq AS (
           SELECT l_partkey, l_suppkey,
             0.5 * CAST(SUM(CAST(floor((l_quantity)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100
               AS half_qty
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           GROUP BY 1, 2)
         SELECT s_suppkey, s_name, s_acctbal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name IN ('NATION_1','NATION_3','NATION_5','NATION_7',
             'NATION_9')
           AND s_suppkey IN (
             SELECT ps_suppkey FROM partsupp
             JOIN part ON p_partkey = ps_partkey
             JOIN halfq ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
             WHERE p_name LIKE 'blue%' AND ps_availqty > half_qty)
         ORDER BY s_suppkey""",
  )
}
