package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.Core._
import graft.operators.Relational._

/** Projection / predicate / join / sort / set-op queries — SURVEY §2.2
  * (P1-P6), §2.3 (J1-J9), §2.6 (O1-O6), §2.7 (U1), §2.1 (S2/S8/S10),
  * §2.5 (W1-W4) — each expressed over the driver's TPC-H-ish tables with a
  * DuckDB oracle twin in [[Relational.oracles]].
  *
  * Determinism rules (see graft.functions.Core): exact decimal sums cast
  * to double, epoch-second time outputs, unique-order tiebreaks on every
  * top-k / argmax / window.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(

    // P1: projection + rename + computed column + time predicate pushdown.
    // (reference jobs/matrix-rollups.js:30-41)
    "p1_project_rename" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") < lit("1995-06-01").cast("timestamp"))
        .select(
          col("l_orderkey").as("okey"),
          col("l_linenumber").as("line"),
          (col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("net"))
    },

    // P2: time-window predicate anchored at max event time (the batch twin
    // of the reference's `created_at >= now() - toIntervalMinute(m)`).
    // The anchor is the footer max of the stored ts, a literal, so the
    // main-scan filter is a constant predicate that prunes parquet row
    // groups — an in-plan anchor forces two full scans with zero pruning
    // at 100 TB.
    "p2_time_window" -> { (s, d) =>
      Tables.eventsWithin(s, d, 86400L)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), epochSec(col("ts")).as("ts_sec"))
    },

    // P3: enum/equality filter conjunction (jobs/leaderboards.js:35-37).
    "p3_enum_filter" -> { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "purchase" && col("value") > 50d &&
          col("user_id") =!= 0L)
        .select(col("event_id"), col("user_id"), col("value"))
    },

    // P4: pattern predicates, incl. NOT LIKE (jobs/holders-refresher.js:219).
    "p4_pattern_like" -> { (s, d) =>
      Tables.documents(s, d)
        .filter(!col("source").startsWith("src1") &&
          col("text").contains("spark"))
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // P5: dynamic predicate assembly — programmatic Column composition
    // (api/routes/trades.js:94-120). One representative instantiation.
    "p5_dynamic_predicates" -> { (s, d) =>
      val conds = Seq(
        col("event_type").isin("click", "view"),
        col("value").between(10d, 90d),
        col("user_id") <= 20L)
      Tables.events(s, d)
        .filter(conds.reduce(_ && _))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    },

    // P6: multi-key OR resolution ranked by match quality, best row wins
    // (api/util/resolve-token.js:10-28).
    "p6_or_resolve" -> { (s, d) =>
      val p = Tables.part(s, d)
      resolveFirst(p,
        Seq(
          (col("p_brand") === "Brand#3", 0),
          (lower(col("p_type")).contains("brass"), 1),
          (col("p_size") === 10, 2)),
        col("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
    },

    // J1: fact ⋈ broadcast dims star join + grouped revenue
    // (api/routes/trades.js:83-91). Dims are broadcast explicitly — at
    // 100 TB the fact side streams, dim hash tables live on executors.
    "j1_fact_dims" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val c  = Tables.customer(s, d)
      val n  = Tables.nation(s, d)
      val r  = Tables.region(s, d)
      // orders/customer SCALE with the fact side — leave them unhinted so
      // the planner (size stats + AQE) broadcasts at small SF and falls
      // back to a shuffle join at 100 TB, where a forced broadcast would
      // OOM the build side; nation/region are bounded dims, always
      // broadcast
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          // xsum, not dsum: prices are 2dp by schema so the revenue
          // product is exactly 4dp — the 128-bit long accumulator keeps
          // the sum exact at a fraction of the decimal path's per-row
          // cost (the measured whole of j1's marginal, tools/J1Audit)
          xsum(col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // J2: left join to optional aggregated facts (api/routes/tokens.js:91-101).
    "j2_left_join" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(xsum(col("l_quantity"), dp = 2).as("qty"), count(lit(1)).as("n_lines"))
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey").as("okey"), col("o_totalprice"),
          coalesce(col("qty"), lit(0d)).as("qty"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"))
    },

    // J3: join on a non-key attribute (reference joins tokens by denom,
    // api/routes/trades.js:88-89) — many-to-many on nationkey.
    "j3_nonkey_join" -> { (s, d) =>
      Tables.supplier(s, d)
        .join(Tables.customer(s, d), col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("pairs"),
          xsum(col("c_acctbal") + col("s_acctbal"), dp = 2).as("bal"))
    },

    // J4: lateral-top-1, hand-decorrelated into latestSnapshot +
    // equi-join (api/routes/trades.js:410-416); j5 below is the same
    // semantics written AS the correlated scalar through the SQL
    // surface, pinned to decorrelate to this plan.
    // No broadcast hint: `latest` is a per-user aggregate whose cardinality
    // grows with the data — forcing it into a broadcast is an OOM at 100×.
    // AQE broadcasts it anyway when it is actually small.
    "j4_lateral_top1" -> { (s, d) =>
      val latest = latestSnapshot(Tables.events(s, d), Seq("user_id"),
        col("event_id"), Seq("last_value" -> col("value")))
      Tables.customer(s, d)
        .join(latest, col("c_custkey") === col("user_id"), "left")
        .select(col("c_custkey").as("custkey"), col("last_value"))
    },

    // J5: the correlated scalar subquery ITSELF, through the SQL surface
    // (api/routes/trades.js:295,483,858 — select-list scalar per outer
    // row). Catalyst decorrelates the aggregate subquery into the same
    // per-user aggregate + left-outer equi-join that j4 hand-writes —
    // PlanLintSpec pins that the optimized plan has NO surviving
    // subquery and exactly that join shape, because the decorrelated
    // form is the one that scales (a per-row re-scan is O(n·m)).
    "j5_correlated_scalar" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("j5_customer")
      Tables.events(s, d).createOrReplaceTempView("j5_events")
      s.sql("""SELECT c_custkey AS custkey,
            (SELECT max_by(value, event_id) FROM j5_events e
             WHERE e.user_id = c.c_custkey) AS last_value
          FROM j5_customer c""")
    },

    // J6: semi-join via EXISTS (jobs/alerts.js:53-56).
    "j6_semi_join" -> { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 100000d),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },

    // J7: composite-key equi join (api/routes/trades.js:893).
    "j7_multicol_join" -> { (s, d) =>
      val e = Tables.events(s, d)
      val daily = e.groupBy(col("user_id"), col("event_type"),
          bucketSec(col("ts"), 86400L).as("day_sec"))
        .agg(count(lit(1)).as("n"))
      val totals = e.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("total"))
      daily.join(totals, Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"), col("day_sec"),
          col("n"), col("total"))
    },

    // J8: USING-style join of two aggregates on the shared bucket key
    // (api/routes/tokens.js:1482-1484).
    "j8_using_join" -> { (s, d) =>
      val e = Tables.events(s, d)
      val a = e.groupBy(bucketSec(col("ts"), 3600L).as("bucket_ts"))
        .agg(count(lit(1)).as("n"))
      val b = e.filter(col("event_type") === "purchase")
        .groupBy(bucketSec(col("ts"), 3600L).as("bucket_ts"))
        .agg(count_distinct(col("user_id")).as("buyers"))
      a.join(b, Seq("bucket_ts"), "left")
        .select(col("bucket_ts"), col("n"),
          coalesce(col("buyers"), lit(0L)).as("buyers"))
    },

    // J9: 1×1 cross join of two single-row aggregates — %-change
    // (api/util/pool-select.js:98-122).
    "j9_cross_1x1" -> { (s, d) =>
      val e = Tables.events(s, d)
      val daily = e.groupBy(bucketSec(col("ts"), 86400L).as("day"))
        .agg(xsum(col("value"), dp = 2).as("v"))
      val maxDay = daily.agg(max(col("day")).as("md"))
      val lastD = daily.join(maxDay, col("day") === col("md"))
        .select(col("v").as("last_v"))
      val prevD = daily.join(maxDay, col("day") === col("md") - 86400L)
        .select(col("v").as("prev_v"))
      lastD.crossJoin(prevD)
        .select(col("last_v"), col("prev_v"),
          round4((col("last_v") - col("prev_v")) / col("prev_v") * 100d)
            .as("change_pct"))
    },

    // J11: AS-OF join — the prevailing click value at each purchase time
    // per user, i.e. the reference's latest-price-at-trade-time lookup
    // (api/routes/trades.js price joins, core/prices.js:69-92 prevailing
    // reserves) as a single relational operator instead of a correlated
    // `ORDER BY ts DESC LIMIT 1` per row. Runs on the custom
    // AsOfJoinExec (plans/AsOfJoin.scala): ClusteredDistribution on
    // user_id + (key, ts) sort on both sides, then an O(n+m) streaming
    // merge per co-partition — the plan that survives 100 TB. The right
    // side is deduped per (user, ts) so the as-of pick is deterministic;
    // the oracle is DuckDB's native ASOF LEFT JOIN.
    "j11_asof_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user"), col("ts").as("click_ts"))
        .agg(max(col("event_id")).as("click_id"),
          max_by(col("value"), col("event_id")).as("click_value"))
      graft.plans.AsOf.joinBackward(purchases, clicks,
          Seq("user_id"), Seq("c_user"), "ts", "click_ts")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"),
          col("click_id"), unix_micros(col("click_ts")).as("click_ts_us"),
          col("click_value"))
    },

    // J11b: forward as-of — the FIRST click at-or-after each purchase
    // (follow-up-event semantics; same custom exec, direction flipped:
    // the match is the right cursor's head instead of the retained row).
    // Oracle: DuckDB ASOF with the inequality reversed (l.ts <= r.ts).
    "j11b_asof_forward" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user"), col("ts").as("click_ts"))
        .agg(max(col("event_id")).as("click_id"),
          max_by(col("value"), col("event_id")).as("click_value"))
      graft.plans.AsOf.join(purchases, clicks,
          Seq("user_id"), Seq("c_user"), "ts", "click_ts", "forward")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"),
          col("click_id"), unix_micros(col("click_ts")).as("click_ts_us"),
          col("click_value"))
    },

    // J14: the as-of join through its SQL TABLE-function surface — j11's
    // exact semantics as `FROM asof_join(TABLE(p), TABLE(c), ...)`: same
    // custom node, planner strategy, and cost-based broadcast selection,
    // reached from SQL instead of the DataFrame API, proving the TVF
    // path end-to-end through the oracle gate (same DuckDB ASOF oracle).
    "j14_asof_sql" -> { (s, d) =>
      graft.plans.AsOf.ensureRegistered(s)
      val ev = Tables.events(s, d)
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .createOrReplaceTempView("asof_purchases")
      ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user"), col("ts").as("click_ts"))
        .agg(max(col("event_id")).as("click_id"),
          max_by(col("value"), col("event_id")).as("click_value"))
        .createOrReplaceTempView("asof_clicks")
      s.sql("""SELECT user_id, unix_micros(ts) AS ts_us, event_id, value,
          click_id, unix_micros(click_ts) AS click_ts_us, click_value
        FROM asof_join(TABLE(asof_purchases), TABLE(asof_clicks),
          'user_id', 'c_user', 'ts', 'click_ts')
        ORDER BY event_id""")
    },

    // J12: interval (range) join via bucketization — clicks within the
    // hour before each purchase. A pure range predicate gives Spark a
    // BroadcastNestedLoopJoin (O(n·m) and an OOM-prone broadcast); the
    // scale form buckets both sides by the window width so the range
    // predicate rides an EQUI-join: each probe explodes to exactly two
    // candidate buckets (window length == bucket width), the bucket key
    // shuffles like any join key, and the exact range filter runs within
    // buckets. Candidate cost tracks bucket occupancy, never n·m.
    "j12_interval_bucket" -> { (s, d) =>
      val wUs = 3600L * 1000000L // 1h window == bucket width, in micros
      val e = Tables.events(s, d)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
      val c = e.filter(col("event_type") === "click")
        .select(unix_micros(col("ts")).as("c_us"))
        .withColumn("bucket", expr(s"c_us div $wUs"))
      val probes = p.withColumn("b1", expr(s"ts_us div $wUs"))
        .withColumn("bucket", explode(array(col("b1") - 1L, col("b1"))))
      val counts = probes.join(c, Seq("bucket"))
        .filter(col("c_us") >= col("ts_us") - wUs && col("c_us") <= col("ts_us"))
        .groupBy(col("event_id")).agg(count(lit(1)).as("n"))
      p.join(counts, Seq("event_id"), "left")
        .select(col("event_id"), col("ts_us"),
          coalesce(col("n"), lit(0L)).as("n_clicks"))
    },

    // W7: gap-based sessionization — split each user's event stream at
    // >30-minute silences (lag + conditional flag + running sum), then
    // aggregate per session. The classic funnel/engagement primitive; one
    // window pass + one aggregation, partitioned by user.
    "w7_sessionize" -> { (s, d) =>
      val gapUs = 1800L * 1000000L
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"))
        .withColumn("prev", lag(col("ts_us"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("ts_us") - col("prev") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
    },

    // J13: anti join — entities with NO matching facts (customers that
    // never ordered). The NOT EXISTS shape; one shuffle, no row
    // multiplication. s8/d6/d7 use the same join type internally; this
    // is its nameable entry.
    "j13_anti_join" -> { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },

    // W9: quartile assignment (ntile) of account balance WITHIN market
    // segment — partitioned windows scale (each segment sorts
    // independently after one shuffle); a global ntile would funnel every
    // row through one partition, the same trap the w3 scalar-count form
    // avoids. Total order via the custkey tiebreak.
    "w9_ntile" -> { (s, d) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          ntile(4).over(w).cast("long").as("quartile"))
    },

    // O1: dynamic sort + LIMIT/OFFSET pagination with total-order tiebreak
    // (api/routes/tokens.js:180-243).
    "o1_page_offset" -> { (s, d) =>
      page(Tables.orders(s, d).select(col("o_orderkey").as("okey"),
        col("o_totalprice")),
        Seq(col("o_totalprice").desc, col("okey")), limit = 20, offset = 10)
    },

    // O2: global top-k (jobs/token-security.js:66-75).
    "o2_topk" -> { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(10)
    },

    // O3: keyset pagination (jobs/meta-refresher.js:50-62).
    "o3_keyset_page" -> { (s, d) =>
      keysetPage(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice")),
        "o_orderkey", lastSeen = 1000L, n = 100)
    },

    // O4: staleness-first scheduling order, NULLs (never-refreshed) first
    // (jobs/holders-refresher.js:211-226). `lastSeen` is an unbounded
    // per-user aggregate — no broadcast hint; AQE decides.
    "o4_staleness_order" -> { (s, d) =>
      val lastSeen = Tables.events(s, d).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("last_seen"))
      Tables.customer(s, d)
        .join(lastSeen, col("c_custkey") === col("user_id"), "left")
        .select(col("c_custkey"), coalesce(col("last_seen"), lit(0L)).as("last_seen"))
        .orderBy(col("last_seen").asc, col("c_custkey"))
        .limit(20)
    },

    // O7: grouped top-k — top-3 customers per nation by balance
    // (the per-group form of the reference's top-10 holders pick,
    // jobs/token-security.js:66-75).
    "o7_topk_per_group" -> { (s, d) =>
      topKPerGroup(
        Tables.customer(s, d)
          .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal")),
        Seq("c_nationkey"),
        Seq(col("c_acctbal").desc, col("c_custkey")), k = 3)
    },

    // O8: the skew-safe two-stage form of o7 — same answer (the oracle
    // is o7's SQL verbatim: salting is an execution strategy, not a
    // semantics change), but a hot group's sort fans out across salt
    // buckets instead of serializing through one window task. The
    // hot-key timing pair lives in Bench (skew_topk_naive vs
    // skew_topk_salted on a 50%-hot-key frame).
    "o8_topk_salted" -> { (s, d) =>
      graft.operators.Relational.topKPerGroupSalted(
        Tables.customer(s, d)
          .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal")),
        Seq("c_nationkey"),
        Seq(col("c_acctbal").desc, col("c_custkey")), k = 3,
        saltBuckets = 8)
    },

    // O6: router-leg combine — exact groupBy instead of the reference's
    // oversample heuristic (api/routes/trades.js:237-321,469; SURVEY F10).
    "o6_router_combine" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), bucketSec(col("ts"), 60L).as("bucket_ts"))
        .agg(count(lit(1)).as("legs"),
          xsum(col("value"), dp = 2).as("total_value"),
          earliestBy(col("event_type"), col("event_id")).as("first_type"),
          latestBy(col("event_type"), col("event_id")).as("last_type"))
        .filter(col("legs") > 1)
    },

    // U1: UNION ALL of two filtered branches then aggregate
    // (core/block-processor.js:306-308).
    "u1_union" -> { (s, d) =>
      val e = Tables.events(s, d)
      val a = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("value"))
      val b = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("value"))
      a.unionByName(b)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), xsum(col("value"), dp = 2).as("v"))
    },

    // S2: tx-hash derivation — upper-hex sha256 of the base64-DECODED tx
    // bytes (core/parse.js:20): the wire form is base64, the hash input is
    // the decoded payload. Round 1 hashed the raw text and mirrored that
    // in the oracle (self-confirming); both sides now run the decode.
    "s2_txhash" -> { (s, d) =>
      val wireB64 = base64(col("text").cast("binary"))
      Tables.documents(s, d)
        .select(col("doc_id"), txHash(unbase64(wireB64)).as("tx_hash"))
    },

    // S8: dedup-on-write key projection (core/block-processor.js:64-76).
    "s8_dedup_keys" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
    },

    // S10/W1/W2: keep-latest dedupe via row_number window
    // (phase3schema.sql:377-388, core/pool_state.js:21-25).
    "w1_dedupe_keep_latest" -> { (s, d) =>
      dedupeKeepLatest(Tables.events(s, d),
        Seq("user_id", "event_type"), col("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    },

    // W2: DISTINCT ON (keys) ORDER BY ord DESC — same keep-latest
    // semantics as W1 on a different key set (api/routes/trades.js:874-879
    // dedupes (tx_hash, pool_id, direction); here (user_id, day)).
    "w2_distinct_on" -> { (s, d) =>
      dedupeKeepLatest(
        Tables.events(s, d)
          .withColumn("day", bucketSec(col("ts"), 86400L)),
        Seq("user_id", "day"), col("event_id"))
        .select(col("user_id"), col("day"), col("event_id"), col("value"))
    },

    // §1.2 hard spot: NUMERIC(78,0) raw on-chain amounts → Decimal(38,0)
    // with a lossless digit-string shadow column (SURVEY §7.1.1,
    // FIXTURES.md B). Round-trips base units through both representations.
    // The Decimal(38,0) stays INTERNAL to the plan: the output carries the
    // digit string (lossless by policy) plus the round-trip proof — decimal
    // columns in result sets hash unreliably in arrow-level harnesses, so
    // no query emits one (driver hash_match failed on decimal128 outputs).
    "x4_decimal_raw" -> { (s, d) =>
      val base = round(col("o_totalprice") * 100d, 0)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 2000L)
        .select(col("o_orderkey"),
          base.cast("string").as("amount_digits"),
          length(base.cast("string")).cast("long").as("n_digits"),
          (base === base.cast("string")
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .as("round_trip_ok"))
    },

    // W3/A13: total count alongside a page (api/routes/tokens.js:224-229).
    // `count() OVER ()` funnels every row through a single partition — the
    // scale-safe form is a scalar count (distributed agg, tiny result)
    // attached as a literal. Same output, no single-partition window.
    "w3_count_over" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val total = c.count()
      c.select(col("c_custkey"), col("c_name"), lit(total).as("total"))
        .orderBy(col("c_custkey"))
        .limit(50)
    },

    // W4: first/last per key (api/util/ohlcv.js:34-45). The window+distinct
    // form double-scans and full-row-distincts; min_by/max_by computes the
    // same thing in one hash aggregate with map-side partial agg.
    "w4_first_last" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(earliestBy(col("value"), col("event_id")).as("first_v"),
          latestBy(col("value"), col("event_id")).as("last_v"))
    },

    // (r11 ran a zz_order_probe diagnostic here — Spark ASC vs oracle
    // DESC on the same 25 nation rows. It HASH-MATCHED in
    // CORRECTNESS_r11, proving the driver's compare is row-order-
    // insensitive, so no query sorts unless the order is its answer.)
  )


  /** DuckDB oracle twins. Column names/aliases match the Spark output
    * exactly (the driver sorts columns by name before hashing).
    */
  val oracles: Map[String, String] = Map(
    "p1_project_rename" ->
      """SELECT l_orderkey AS okey, l_linenumber AS line,
         l_extendedprice * (1 - l_discount) AS net
         FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-06-01'
         ORDER BY okey, line""",
    "p2_time_window" ->
      """SELECT event_id, user_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
         FROM events
         WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 1 DAY
         ORDER BY event_id""",
    "p3_enum_filter" ->
      """SELECT event_id, user_id, value FROM events
         WHERE event_type = 'purchase' AND value > 50 AND user_id <> 0
         ORDER BY event_id""",
    "p4_pattern_like" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE source NOT LIKE 'src1%' AND text LIKE '%spark%'
         ORDER BY doc_id""",
    "p5_dynamic_predicates" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE event_type IN ('click','view') AND value BETWEEN 10 AND 90
           AND user_id <= 20
         ORDER BY event_id""",
    "p6_or_resolve" ->
      """SELECT p_partkey, p_name, p_brand FROM part
         WHERE p_brand = 'Brand#3' OR lower(p_type) LIKE '%brass%' OR p_size = 10
         ORDER BY CASE WHEN p_brand = 'Brand#3' THEN 0
                       WHEN lower(p_type) LIKE '%brass%' THEN 1
                       ELSE 2 END, p_partkey
         LIMIT 1""",
    "j1_fact_dims" ->
      """SELECT r_name,
         CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS revenue,
         count(*) AS n_lines
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "j2_left_join" ->
      """SELECT o_orderkey AS okey, o_totalprice,
         coalesce(l.qty, 0) AS qty, coalesce(l.n_lines, 0) AS n_lines
         FROM orders LEFT JOIN (
           SELECT l_orderkey,
             CAST(SUM(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS qty,
             count(*) AS n_lines
           FROM lineitem GROUP BY l_orderkey) l
         ON o_orderkey = l.l_orderkey
         ORDER BY okey""",
    "j3_nonkey_join" ->
      """SELECT s_nationkey AS nationkey, count(*) AS pairs,
         CAST(SUM(CAST(floor((c_acctbal + s_acctbal)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS bal
         FROM supplier JOIN customer ON s_nationkey = c_nationkey
         GROUP BY s_nationkey ORDER BY nationkey""",
    "j4_lateral_top1" ->
      """SELECT c_custkey AS custkey, lv.last_value
         FROM customer LEFT JOIN (
           SELECT user_id, max_by(value, event_id) AS last_value
           FROM events GROUP BY user_id) lv
         ON c_custkey = lv.user_id
         ORDER BY custkey""",
    "j5_correlated_scalar" ->
      """SELECT c_custkey AS custkey,
           (SELECT max_by(value, event_id) FROM events e
            WHERE e.user_id = c.c_custkey) AS last_value
         FROM customer c ORDER BY custkey""",
    "j6_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
         ORDER BY c_custkey""",
    "j7_multicol_join" ->
      """WITH daily AS (
           SELECT user_id, event_type,
             CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS day_sec,
             count(*) AS n
           FROM events GROUP BY 1,2,3),
         totals AS (
           SELECT user_id, event_type, count(*) AS total
           FROM events GROUP BY 1,2)
         SELECT d.user_id, d.event_type, d.day_sec, d.n, t.total
         FROM daily d JOIN totals t
           ON d.user_id = t.user_id AND d.event_type = t.event_type
         ORDER BY d.user_id, d.event_type, d.day_sec""",
    "j8_using_join" ->
      """WITH a AS (
           SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket_ts,
             count(*) AS n
           FROM events GROUP BY 1),
         b AS (
           SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket_ts,
             count(DISTINCT user_id) AS buyers
           FROM events WHERE event_type = 'purchase' GROUP BY 1)
         SELECT bucket_ts, n, coalesce(b.buyers, 0) AS buyers
         FROM a LEFT JOIN b USING (bucket_ts)
         ORDER BY bucket_ts""",
    "j9_cross_1x1" ->
      """WITH daily AS (
           SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS day,
             CAST(SUM(CAST(floor((value)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS v
           FROM events GROUP BY 1),
         lastd AS (SELECT v AS last_v FROM daily
           WHERE day = (SELECT max(day) FROM daily)),
         prevd AS (SELECT v AS prev_v FROM daily
           WHERE day = (SELECT max(day) - 86400 FROM daily))
         SELECT last_v, prev_v,
           round((last_v - prev_v) / prev_v * 100, 4) AS change_pct
         FROM lastd, prevd""",
    "j11_asof_join" ->
      """WITH p AS (SELECT user_id, ts, event_id, value FROM events
           WHERE event_type = 'purchase'),
         c AS (SELECT user_id AS c_user, ts AS click_ts,
             max(event_id) AS click_id,
             max_by(value, event_id) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.user_id, epoch_us(p.ts) AS ts_us, p.event_id, p.value,
           c.click_id, epoch_us(c.click_ts) AS click_ts_us, c.click_value
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.c_user AND p.ts >= c.click_ts
         ORDER BY p.event_id""",
    "j14_asof_sql" ->
      """WITH p AS (SELECT user_id, ts, event_id, value FROM events
           WHERE event_type = 'purchase'),
         c AS (SELECT user_id AS c_user, ts AS click_ts,
             max(event_id) AS click_id,
             max_by(value, event_id) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.user_id, epoch_us(p.ts) AS ts_us, p.event_id, p.value,
           c.click_id, epoch_us(c.click_ts) AS click_ts_us, c.click_value
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.c_user AND p.ts >= c.click_ts
         ORDER BY p.event_id""",
    "j11b_asof_forward" ->
      """WITH p AS (SELECT user_id, ts, event_id, value FROM events
           WHERE event_type = 'purchase'),
         c AS (SELECT user_id AS c_user, ts AS click_ts,
             max(event_id) AS click_id,
             max_by(value, event_id) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.user_id, epoch_us(p.ts) AS ts_us, p.event_id, p.value,
           c.click_id, epoch_us(c.click_ts) AS click_ts_us, c.click_value
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.c_user AND p.ts <= c.click_ts
         ORDER BY p.event_id""",
    "j12_interval_bucket" ->
      """WITH p AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events
           WHERE event_type = 'purchase'),
         c AS (SELECT epoch_us(ts) AS c_us FROM events
           WHERE event_type = 'click')
         SELECT p.event_id, p.ts_us, count(c.c_us) AS n_clicks
         FROM p LEFT JOIN c
           ON c.c_us >= p.ts_us - 3600000000 AND c.c_us <= p.ts_us
         GROUP BY 1, 2 ORDER BY 1""",
    "w7_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
           FROM events),
         l AS (SELECT user_id, ts_us, event_id,
             lag(ts_us) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS prev
           FROM e),
         f AS (SELECT user_id, ts_us, event_id,
             CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
               THEN 1 ELSE 0 END AS new_sess
           FROM l),
         s AS (SELECT user_id, ts_us,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS session_seq
           FROM f)
         SELECT user_id, session_seq, count(*) AS n_events,
           min(ts_us) AS start_us, max(ts_us) AS end_us
         FROM s GROUP BY 1, 2 ORDER BY 1, 2""",
    "j13_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",
    "w9_ntile" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
         CAST(ntile(4) OVER (PARTITION BY c_mktsegment
           ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS quartile
         FROM customer ORDER BY c_custkey""",
    "o1_page_offset" ->
      """SELECT o_orderkey AS okey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, okey LIMIT 20 OFFSET 10""",
    "o2_topk" ->
      """SELECT c_custkey, c_acctbal FROM customer
         ORDER BY c_acctbal DESC, c_custkey LIMIT 10""",
    "o3_keyset_page" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderkey > 1000 ORDER BY o_orderkey LIMIT 100""",
    "o4_staleness_order" ->
      """SELECT c_custkey, coalesce(lv.last_seen, 0) AS last_seen
         FROM customer LEFT JOIN (
           SELECT user_id, max(event_id) AS last_seen
           FROM events GROUP BY user_id) lv
         ON c_custkey = lv.user_id
         ORDER BY last_seen ASC, c_custkey LIMIT 20""",
    "o7_topk_per_group" ->
      """SELECT c_nationkey, c_custkey, c_acctbal FROM (
           SELECT c_nationkey, c_custkey, c_acctbal, row_number() OVER (
             PARTITION BY c_nationkey
             ORDER BY c_acctbal DESC, c_custkey) AS rn
           FROM customer) WHERE rn <= 3
         ORDER BY c_nationkey, c_acctbal DESC, c_custkey""",
    // o8 = o7's oracle verbatim: the salted two-stage plan must be
    // value-identical to the single-window plan
    "o8_topk_salted" ->
      """SELECT c_nationkey, c_custkey, c_acctbal FROM (
           SELECT c_nationkey, c_custkey, c_acctbal, row_number() OVER (
             PARTITION BY c_nationkey
             ORDER BY c_acctbal DESC, c_custkey) AS rn
           FROM customer) WHERE rn <= 3
         ORDER BY c_nationkey, c_acctbal DESC, c_custkey""",
    "o6_router_combine" ->
      """SELECT user_id,
           CAST(floor(epoch(ts)/60)*60 AS BIGINT) AS bucket_ts,
           count(*) AS legs,
           CAST(SUM(CAST(floor((value)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS total_value,
           min_by(event_type, event_id) AS first_type,
           max_by(event_type, event_id) AS last_type
         FROM events GROUP BY 1,2 HAVING count(*) > 1
         ORDER BY user_id, bucket_ts""",
    "u1_union" ->
      """SELECT user_id, count(*) AS n,
         CAST(SUM(CAST(floor((value)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS v
         FROM (
           SELECT user_id, value FROM events WHERE event_type = 'signup'
           UNION ALL
           SELECT user_id, value FROM events WHERE event_type = 'error')
         GROUP BY user_id ORDER BY user_id""",
    "s2_txhash" ->
      """SELECT doc_id,
         upper(sha256(decode(from_base64(base64(encode(text)))))) AS tx_hash
         FROM documents ORDER BY doc_id""",
    "s8_dedup_keys" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    "w1_dedupe_keep_latest" ->
      """SELECT user_id, event_type, event_id, value FROM (
           SELECT *, row_number() OVER (
             PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id, event_type""",
    "w2_distinct_on" ->
      """SELECT user_id, day, event_id, value FROM (
           SELECT user_id,
             CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS day,
             event_id, value,
             row_number() OVER (
               PARTITION BY user_id, CAST(floor(epoch(ts)/86400)*86400 AS BIGINT)
               ORDER BY event_id DESC) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id, day""",
    "x4_decimal_raw" ->
      """SELECT o_orderkey,
         CAST(CAST(round(o_totalprice * 100, 0) AS DECIMAL(38,0)) AS VARCHAR) AS amount_digits,
         CAST(length(CAST(CAST(round(o_totalprice * 100, 0) AS DECIMAL(38,0)) AS VARCHAR)) AS BIGINT) AS n_digits,
         CAST(round(o_totalprice * 100, 0) AS DECIMAL(38,0)) =
           CAST(CAST(CAST(round(o_totalprice * 100, 0) AS DECIMAL(38,0)) AS VARCHAR) AS DECIMAL(38,0)) AS round_trip_ok
         FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""",
    "w3_count_over" ->
      """SELECT c_custkey, c_name, count(*) OVER () AS total
         FROM customer ORDER BY c_custkey LIMIT 50""",
    "w4_first_last" ->
      """SELECT DISTINCT user_id,
           first_value(value) OVER w AS first_v,
           last_value(value) OVER w AS last_v
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY user_id""",
  )
}
