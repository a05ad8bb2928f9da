package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Core._
import graft.operators.Ohlcv

/** Aggregation / window / time-series queries — SURVEY §2.4 (A1-A16),
  * §2.5 (W5/W6), §2.8 time functions + gap fill. The `events` table plays
  * the `trades` role: event_type ≈ pool/direction axes, value ≈ amount,
  * event_id ≈ unique insertion order (strictly time-ordered in the
  * fixtures, verified — the determinism anchor for argmin/argmax).
  */
object TimeSeries {
  type Q = (SparkSession, String) => DataFrame

  /** Hourly candles per event_type — shared input frame (SURVEY A5). */
  private def hourly(s: SparkSession, d: String): DataFrame =
    Ohlcv.candles(Tables.events(s, d), Seq("event_type"),
      col("ts"), col("event_id"), col("value"), col("value"), 3600L)

  /** `max(bucket_ts)` of [[hourly]] without running it: hourly groups
    * every event row (no filter before its aggregate, null keys included),
    * so its latest bucket is the bucket of the latest `ts` — the footer
    * max. None on a table with no `ts`.
    */
  private def lastHour(s: SparkSession, d: String): Option[Long] =
    Tables.maxTs(s, d, "events", "ts")
      .map(t => Math.floorDiv(t.getEpochSecond, 3600L) * 3600L)

  private val duckHourly =
    """SELECT event_type,
         CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket_ts,
         min_by(value, event_id) AS open,
         max(value) AS high, min(value) AS low,
         max_by(value, event_id) AS close,
         CAST(SUM(CAST(floor((value)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS volume,
         count(*) AS trade_count
       FROM events GROUP BY 1, 2"""

  val defs: Map[String, Q] = Map(

    // A1: conditional sums/counts — ClickHouse sumIf/countIf
    // (jobs/matrix-rollups.js:33-36). "buy" := value >= 50.
    "a1_conditional_agg" -> { (s, d) =>
      val buy = col("value") >= 50d
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          xsumIf(col("value"), buy).as("vol_buy"),
          xsumIf(col("value"), !buy).as("vol_sell"),
          countIf(buy).as("tx_buy"),
          countIf(!buy).as("tx_sell"),
          count_distinct(col("user_id")).as("unique_traders"))
    },

    // A2: exact distinct count per window (jobs/matrix-rollups.js:37).
    "a2_distinct_exact" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(bucketSec(col("ts"), 86400L).as("day"))
        .agg(count_distinct(col("user_id")).as("uniq_users"),
          count(lit(1)).as("n"))
    },

    // A2 scale path: HLL approx distinct, made oracle-hashable by
    // self-verification — the sketch estimate itself has no cross-engine
    // twin (HLL++ internals are engine-specific), so the query ALSO
    // computes the exact count in the same aggregate and emits a
    // deterministic within-tolerance boolean next to it. The DuckDB
    // oracle reproduces the exact counts and asserts the boolean is TRUE:
    // if the estimate ever drifted past 5% (rsd=0.02, so ±5% ≈ 2.5σ — and
    // HLL++ is deterministic on fixed data, so this is a constant, not a
    // coin flip), the row hash would flip red.
    "a2_approx_distinct" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          count_distinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            <= col("exact_users").cast("double") * 0.05).as("approx_ok"))
    },

    // A3: argMax — latest value per key (jobs/matrix-rollups.js:48).
    "a3_argmax_latest" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(latestBy(col("value"), col("event_id")).as("last_value"),
          max(col("event_id")).as("last_event"))
    },

    // A4: argMin (api/routes/tokens.js:1460-1465).
    "a4_argmin_earliest" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(earliestBy(col("value"), col("event_id")).as("first_value"),
          min(col("event_id")).as("first_event"))
    },

    // A5: OHLCV candle build (core/ohlcv.js:32-62) — single hash aggregate.
    "a5_ohlcv_build" -> { (s, d) =>
      hourly(s, d)
    },

    // A6: candle resample 1h→6h (api/routes/tokens.js:1429-1488).
    // Oracle aggregates ticks directly at 6h — equal by the resample
    // invariant (FIXTURES.md), which OhlcvSpec property-tests.
    "a6_ohlcv_resample" -> { (s, d) =>
      Ohlcv.resample(hourly(s, d), Seq("event_type"), 21600L)
    },

    // A6 chain: 1h→6h→24h double resample ≡ direct 24h aggregation — the
    // compositionality invariant (OhlcvSpec property) surfaced as an
    // oracle-checked query: the oracle aggregates raw ticks at 24h while
    // Spark resamples twice; hash-equality proves associativity of the
    // candle algebra under the ord-follows-time precondition.
    "a6b_resample_chain" -> { (s, d) =>
      Ohlcv.resample(
        Ohlcv.resample(hourly(s, d), Seq("event_type"), 21600L),
        Seq("event_type"), 86400L)
    },

    // A7: cross-pool (here cross-type) union → one series
    // (api/routes/tokens.js:1272-1292).
    "a7_union_series" -> { (s, d) =>
      Ohlcv.candles(
        Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "click")),
        Seq.empty, col("ts"), col("event_id"), col("value"), col("value"), 21600L)
    },

    // A8: trader leaderboard (jobs/leaderboards.js:63-83).
    "a8_leaderboard" -> { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("trades_count"),
          xsum(col("value"), dp = 2).as("volume"),
          xsum(when(col("event_type") === "purchase", col("value"))
            .otherwise(-col("value")), dp = 2).as("gross_pnl"))
    },

    // A9: large-trade screen — value rows against the latest per-key price
    // then threshold (jobs/leaderboards.js:86-142). `px` is an unbounded
    // per-user aggregate: no broadcast hint (AQE decides) — forcing it is
    // an OOM at 100×.
    "a9_large_trades" -> { (s, d) =>
      val e = Tables.events(s, d)
      val px = e.groupBy(col("user_id"))
        .agg(latestBy(col("value"), col("event_id")).as("px"))
      e.filter(col("event_type") === "purchase")
        .join(px, Seq("user_id"))
        .withColumn("worth", round4(col("value") * col("px")))
        .filter(col("worth") >= 5000d)
        .select(col("event_id"), col("user_id"), col("worth"))
    },

    // A10: TVL-style coalesce over a price-source fallback chain
    // (jobs/matrix-rollups.js:123-189). ONE pass: each fallback source is a
    // conditional max_by (rows where the condition fails carry a NULL
    // ordering key, which max_by skips), so the 5-scan/3-join plan the
    // round-1 verdict flagged collapses into a single hash aggregate.
    "a10_coalesce_fallback" -> { (s, d) =>
      def latestIf(t: String) =
        latestBy(col("value"),
          when(col("event_type") === t, col("event_id")))
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(latestIf("purchase").as("p1"),
          latestIf("click").as("p2"),
          (xsum(col("value"), dp = 2) / count(col("value"))).as("p3"))
        .select(col("user_id"),
          round4(coalesce(col("p1"), col("p2"), col("p3"))).as("price"))
    },

    // A12: top-10 concentration — window rank + conditional share
    // (jobs/token-security.js:58-87).
    "a12_top10_concentration" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .withColumn("rn", row_number().over(w))
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(
          xsumIf(col("c_acctbal"), col("rn") <= 10).as("top10_bal"),
          xsum(col("c_acctbal"), dp = 2).as("total_bal"))
        .withColumn("top10_pct",
          round4(col("top10_bal") / col("total_bal") * 100d))
    },

    // A14: multi-window rollup in ONE pass — conditional windows instead of
    // the reference's 4× re-scan loop (jobs/matrix-rollups.js:6-11,342-348).
    // At 100 TB this quarters the scan cost of the rollup job.
    "a14_multi_bucket" -> { (s, d) =>
      // Literal anchor (the footer max) instead of an in-plan crossJoin,
      // and the widest (30d) window pushed into the parquet scan as a
      // raw-nanos predicate — rows older than the widest window contribute
      // to no output column, so the rollup never reads them.
      val anchor = Tables.maxTs(s, d, "events", "ts")
      def win(days: Int) = col("ts") >= cutoff(anchor, days * 86400L)
      Tables.eventsWithin(s, d, 30L * 86400L)
        .groupBy(col("event_type"))
        .agg(
          xsumIf(col("value"), win(1)).as("vol_1d"),
          xsumIf(col("value"), win(7)).as("vol_7d"),
          xsumIf(col("value"), win(30)).as("vol_30d"),
          countIf(win(1)).as("tx_1d"),
          countIf(win(7)).as("tx_7d"),
          countIf(win(30)).as("tx_30d"))
    },

    // A20: rolling unique users via MERGEABLE HLL sketches — the 100 TB
    // path for A14-style distinct counts: exact rolling uniques need the
    // full id set per (window × day) shuffled to one reducer chain,
    // while a per-day datasketches-HLL sketch aggregates map-side once
    // and every rolling window is a cheap register-max union of 7 tiny
    // sketches. Sketch registers are maxima over hashed ids — identical
    // under any partitioning or input order, so the estimate is
    // deterministic. The sketch itself has no cross-engine twin, so the
    // query self-verifies: it ALSO computes the exact rolling count (the
    // expensive path the sketch exists to avoid — fine at verify scale)
    // and emits a within-5% boolean beside it; the DuckDB oracle
    // reproduces the exact counts and asserts the boolean. CoreSpec keeps
    // the tighter error bound and the partition-stability property.
    "a20_rolling_uniques_hll" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"),
        bucketSec(col("ts"), 86400L).as("day"), col("user_id"))
      // r16: checkpoint the (tiny: types × days rows) sketch frame — it
      // feeds three subtrees (both est self-join sides + the exact
      // side's day keys) and each re-ran the corpus HLL aggregate (4
      // events scans in the before-plan). The exact side then joins
      // per-day DISTINCT users instead of raw events: the rolling
      // count_distinct sees the same distinct set per (type, day)
      // window, but the ×7 window expansion shuffles the reduced
      // per-day-distinct frame, not the corpus.
      val day = ev
        .groupBy(col("event_type"), col("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        .localCheckpoint()
      val du = ev.distinct()
      val est = day.as("a")
        .join(day.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("b.day") <= col("a.day") &&
            col("b.day") >= col("a.day") - 6L * 86400L)
        .groupBy(col("a.event_type").as("event_type"),
          col("a.day").as("day"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(b.sk))")
          .as("est_uniques"))
      val exact = day.select(col("event_type"), col("day")).as("a")
        .join(du.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("b.day") <= col("a.day") &&
            col("b.day") >= col("a.day") - 6L * 86400L)
        .groupBy(col("a.event_type").as("event_type"),
          col("a.day").as("day"))
        .agg(count_distinct(col("b.user_id")).as("exact_uniques"))
      est.join(exact, Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("exact_uniques"),
          (abs(col("est_uniques") - col("exact_uniques"))
            <= col("exact_uniques").cast("double") * 0.05).as("hll_ok"))
    },

    // A21: approximate percentile sketch (Greenwald-Khanna, Spark's
    // percentile_approx) with a SELF-VERIFIED rank bound — the sketch
    // family's third entry, same oracle pattern as a2/a20: the estimate
    // itself is legitimately nondeterministic across partition-merge
    // orders, but GK GUARANTEES the returned element's rank is within
    // eps·n of the target rank, so the query recomputes the estimate's
    // EXACT rank range in a second pass and emits the bound check as a
    // boolean — TRUE under any execution order, hash-stable, and red the
    // moment the sketch ever violates its contract. eps = 1/accuracy =
    // 1% here, checked with 2.5% slack to absorb rank-interval rounding.
    "a21_percentile_sketch" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val est = ev.groupBy(col("event_type"))
        .agg(percentile_approx(col("value"), lit(0.5), lit(100)).as("e50"),
          percentile_approx(col("value"), lit(0.9), lit(100)).as("e90"))
      def rankOk(q: Double, lt: Column, le: Column, n: Column): Column =
        (lt < n * q + n * 0.025 + lit(1d)) &&
          (le >= n * q - n * 0.025 - lit(1d))
      ev.join(broadcast(est), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countIf(col("value") < col("e50")).as("lt50"),
          countIf(col("value") <= col("e50")).as("le50"),
          countIf(col("value") < col("e90")).as("lt90"),
          countIf(col("value") <= col("e90")).as("le90"))
        .select(col("event_type"), col("n"),
          rankOk(0.5, col("lt50"), col("le50"), col("n")).as("p50_ok"),
          rankOk(0.9, col("lt90"), col("le90"), col("n")).as("p90_ok"))
    },

    // A22: skew-safe two-stage aggregation on the oracle surface — the
    // leaderboard aggregate run through saltedAggregate (stage 1 groups
    // on (key, salt) so a hot key fans out across reducers; stage 2
    // merges partials). event_type is EXACTLY the skew shape that breaks
    // a naive groupBy at 100 TB: 5 keys, each ~20% of all rows, each
    // funneling through a single reducer. Results must be identical to
    // the direct aggregate — the decimal partial-sum merge is exact —
    // so the oracle is the plain GROUP BY.
    "a22_salted_agg" -> { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      graft.operators.Relational.saltedAggregate(
        Tables.events(s, d).select(col("event_type"), col("value")),
        Seq("event_type"), saltBuckets = 16,
        partials = Seq(
          ("vol", sum(col("value").cast(DecimalType(38, 6))),
            (c: Column) => sum(c)),
          ("n", count(lit(1)), (c: Column) => sum(c)),
          ("hi", max(col("value")), (c: Column) => max(c))))
        .select(col("event_type"), col("vol").cast("double").as("vol"),
          col("n").cast("long").as("n"), col("hi").as("hi"))
    },

    // A23: heavy hitters via the native Misra–Gries mergeable aggregate
    // (plans/HeavyHittersAgg) — "which user_ids exceed 1% of a type's
    // events" (the reference's hot-wallet screens, api/routes/
    // tokens.js:1303-1332, as a sketch) WITHOUT materializing the full
    // (event_type, user_id) aggregate. Stage 1 shuffles one ≤128-counter
    // summary per group (map-side partial merge, the PODS'12 mergeable
    // form); stage 2 re-counts ONLY the ≤128 candidates per group exactly
    // via a broadcast semi-join and thresholds on exact counts. The MG
    // guarantee (every item with true count > n/129 survives the sketch,
    // under any merge order) ⊇ the n/100 threshold, so the output is
    // partition-invariant and EQUAL to the exact heavy-hitter set the
    // oracle computes. SketchSpec pins the guarantee on zipf-skewed data
    // and the merge associativity the shuffle relies on.
    "a23_heavy_hitters" -> { (s, d) =>
      // NULL user_ids are excluded EXPLICITLY on both engines (r14
      // advice): the MG update skips nulls and the candidate inner join
      // can never match a NULL key, while a bare GROUP BY user_id on the
      // oracle side would keep a NULL group — the two sides agree by
      // construction only with the filter written down.
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull)
        .select(col("event_type"), col("user_id"))
      val sk = ev.groupBy(col("event_type"))
        .agg(graft.plans.HeavyHittersAgg.heavyHitters(col("user_id"), 128)
          .as("cand"), count(lit(1)).as("n_type"))
        .select(col("event_type"), col("n_type"),
          explode(col("cand")).as("user_id"))
      // ONE broadcast inner join prunes the recount scan to candidate
      // rows AND carries n_type through (constant per group, so grouping
      // by it is free) — two scans total: the sketch pass and the
      // pruned recount; a semi-join + join-back would evaluate the
      // sketch aggregate twice
      ev.join(broadcast(sk), Seq("event_type", "user_id"))
        .groupBy(col("event_type"), col("user_id"), col("n_type"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 100L > col("n_type"))
        .select(col("event_type"), col("user_id"), col("cnt"), col("n_type"))
    },

    // A24: audience-overlap matrix via mergeable HLL sketches — |A∩B|
    // estimated by inclusion–exclusion over per-group sketches. Only one
    // tiny sketch per event_type crosses the pairs join; the per-pair
    // distinct-user sets are never shuffled — at 100 TB the sketch pass
    // is a single map-side-combined aggregate while the exact form
    // shuffles every (type, user) pair twice. Self-verified like a2/a20:
    // the exact overlap (distinct self-join — the path the sketch
    // replaces) rides along at verify scale and the estimate must land
    // within 5% + 16 absolute.
    "a24_set_overlap" -> { (s, d) =>
      val du = Tables.events(s, d)
        .select(col("event_type"), col("user_id")).distinct()
      val sk = Tables.events(s, d).groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val est = sk.as("a").join(sk.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"),
          (expr("hll_sketch_estimate(a.sk)")
            + expr("hll_sketch_estimate(b.sk)")
            - expr("hll_sketch_estimate(hll_union(a.sk, b.sk))"))
            .as("est_overlap"))
      val exact = du.as("x").join(du.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("overlap"))
      est.join(exact, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("overlap"),
          (abs(col("est_overlap") - col("overlap"))
            <= greatest(lit(16d),
              col("overlap").cast("double") * 0.05)).as("hll_ok"))
    },

    // A15: first-seen timestamps (jobs/token-security.js:89-99).
    "a15_first_seen" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(epochSec(min(col("ts"))).as("first_seen"),
          min(col("event_id")).as("first_event"))
    },

    // A16: windowed average fallback price (jobs/matrix-rollups.js:256-265).
    "a16_avg_window" -> { (s, d) =>
      Tables.eventsWithin(s, d, 86400L)
        .groupBy(col("event_type"))
        .agg(round4(xsum(col("value"), dp = 2) / count(col("value"))).as("avg_value"))
    },

    // A17: exact percentiles per group — the distribution read behind
    // "median trade size" style panels. Spark's percentile aggregate and
    // DuckDB's quantile_cont both linearly interpolate at p·(n-1); the
    // 4dp round absorbs any last-ulp interpolation difference.
    "a17_percentiles" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          round4(expr("percentile(value, 0.25)")).as("p25"),
          round4(expr("percentile(value, 0.5)")).as("p50"),
          round4(expr("percentile(value, 0.75)")).as("p75"))
    },

    // W8: 6-hour moving average over the hourly value series — RANGE
    // frame on the epoch bucket, partitioned per series. The windowed sum
    // runs on DECIMAL (exact, order-independent) and divides in double:
    // windowed double sums are a hash-mismatch trap because DuckDB
    // evaluates sliding frames with a segment tree (different addition
    // association than Spark's linear frame scan).
    "w8_moving_avg" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val h = Tables.events(s, d)
        .groupBy(col("event_type"), bucketSec(col("ts"), 3600L).as("b"))
        .agg(xsum(col("value"), dp = 2).as("v"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("b"))
        .rangeBetween(-21600L, 0L)
      h.select(col("event_type"), col("b"),
          round4(sum(col("v").cast(DecimalType(38, 6))).over(w)
            .cast("double") / count(col("v")).over(w)).as("ma6h"))
    },

    // W10: trailing-interval RANGE window over RAW event times — per
    // user, the activity count and value extremes in the 10 minutes
    // ending at each event (the burst/staleness panel shape; w8's frame
    // is over pre-bucketed hours, this one is per-row). A time-RANGE
    // frame includes ALL co-timed rows regardless of sort-tie order, and
    // count/min/max are frame-order-independent — the hash-stable choice
    // (a windowed double SUM is not: DuckDB's segment tree associates
    // additions differently than Spark's linear frame scan). Scale shape:
    // one shuffle on user_id, per-partition sort, single-pass frames.
    "w10_range_interval" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
        epochSec(col("ts")).as("sec"), col("value"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-600L, 0L)
      e.select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_10m"),
          max(col("value")).over(w).as("max_10m"),
          min(col("value")).over(w).as("min_10m"))
    },

    // A18: hierarchical rollup — per (event_type, user bucket), per
    // event_type, and grand total in ONE pass (GROUPING SETS expansion
    // with map-side partial aggregation), with grouping_id disambiguating
    // the levels. The reference computes its level rollups as separate
    // queries; rollup halves the scans.
    "a18_rollup" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("u3", col("user_id") % 3L)
        .rollup(col("event_type"), col("u3"))
        .agg(count(lit(1)).as("n"),
          expr("grouping_id()").cast("long").as("g"))
        .select(col("g"), col("event_type"), col("u3"), col("n"))
    },

    // A19: full cube — all four grouping combinations of (event_type,
    // user bucket) in one pass; rollup's complement for cross-tab panels.
    "a19_cube" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("u3", col("user_id") % 3L)
        .cube(col("event_type"), col("u3"))
        .agg(count(lit(1)).as("n"),
          expr("grouping_id()").cast("long").as("g"))
        .select(col("g"), col("event_type"), col("u3"), col("n"))
    },

    // W5/T5: prev-close continuity via lag (core/ohlcv.js:121-154).
    "w5_prev_close_carry" -> { (s, d) =>
      Ohlcv.withPrevCloseOpen(hourly(s, d), Seq("event_type"))
        .select(col("event_type"), col("bucket_ts"), col("open"), col("close"))
    },

    // W6: % change over N: last close vs close as-of cutoff
    // (api/util/pool-select.js:84-126).
    "w6_pct_change" -> { (s, d) =>
      val cut = litOrNull(lastHour(s, d).map(_ - 7L * 86400L))
      Ohlcv.pctChange(hourly(s, d), Seq("event_type"), cut)
        .select(col("event_type"), col("last_close"), col("prev_close"),
          col("change_pct"))
    },

    // O5: gainers — order by computed change desc (api/routes/tokens.js:320-416).
    "o5_gainers" -> { (s, d) =>
      val cut = litOrNull(lastHour(s, d).map(_ - 7L * 86400L))
      Ohlcv.pctChange(hourly(s, d), Seq("event_type"), cut)
        .select(col("event_type"), col("change_pct"))
    },

    // W11/T9: WS forming-bar synthesis (api/ws.js:84-91,128-140) — the
    // chart series the reference serves over websocket: closed 6h bars
    // plus one bar synthesized from the hourly candles inside the bucket
    // that "now" (batch twin: max event time) falls in, flagged `forming`.
    "w11_forming_bar" -> { (s, d) =>
      // no event time: no bar is closed or forming, as comparisons with a
      // NULL now keep no row
      val now = lastHour(s, d)
      val h = hourly(s, d)
      Ohlcv.withFormingBar(if (now.isEmpty) h.filter(lit(false)) else h,
        Seq("event_type"), 21600L, now.getOrElse(0L))
    },

    // Gap fill: sequence+explode spine, prev-fill carry
    // (api/routes/tokens.js:1491-1558; PG-era generate_series).
    "g_gapfill_prev" -> { (s, d) =>
      Ohlcv.gapFill(
        hourly(s, d).filter(col("event_type") === "purchase"),
        Seq("event_type"), 3600L, mode = "prev")
        .select(col("event_type"), col("bucket_ts"), col("open"),
          col("close"), col("volume"), col("trade_count"))
    }
  )

  val oracles: Map[String, String] = Map(
    "a1_conditional_agg" ->
      """SELECT event_type,
         CAST(SUM(CAST(floor((CASE WHEN value >= 50 THEN value ELSE 0 END)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS vol_buy,
         CAST(SUM(CAST(floor((CASE WHEN NOT (value >= 50) THEN value ELSE 0 END)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS vol_sell,
         count(*) FILTER (WHERE value >= 50) AS tx_buy,
         count(*) FILTER (WHERE NOT (value >= 50)) AS tx_sell,
         count(DISTINCT user_id) AS unique_traders
         FROM events GROUP BY event_type ORDER BY event_type""",
    "a2_distinct_exact" ->
      """SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS day,
         count(DISTINCT user_id) AS uniq_users, count(*) AS n
         FROM events GROUP BY 1 ORDER BY day""",
    // the oracle recomputes the EXACT side and asserts the self-verified
    // tolerance boolean: a drifting HLL estimate flips the row hash red
    "a2_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
         TRUE AS approx_ok
         FROM events GROUP BY 1 ORDER BY event_type""",
    "a21_percentile_sketch" ->
      """SELECT event_type, count(*) AS n, TRUE AS p50_ok, TRUE AS p90_ok
         FROM events GROUP BY 1 ORDER BY event_type""",
    // salted two-stage must be value-identical to the direct aggregate
    "a22_salted_agg" ->
      """SELECT event_type,
         CAST(SUM(CAST(floor((value)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS vol,
         count(*) AS n, max(value) AS hi
         FROM events GROUP BY 1 ORDER BY event_type""",
    "a20_rolling_uniques_hll" ->
      """WITH e AS (SELECT event_type,
           CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS day, user_id
         FROM events),
         d AS (SELECT DISTINCT event_type, day FROM e)
         SELECT d.event_type, d.day,
           count(DISTINCT e.user_id) AS exact_uniques, TRUE AS hll_ok
         FROM d JOIN e ON e.event_type = d.event_type
           AND e.day <= d.day AND e.day >= d.day - 518400
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // exact heavy-hitter set: the MG guarantee makes the sketch+recount
    // pipeline equal to this full aggregate. user_id IS NOT NULL on both
    // sides by construction (see the Spark entry's null note)
    "a23_heavy_hitters" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS cnt
           FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_type
           FROM c GROUP BY 1)
         SELECT c.event_type, c.user_id, c.cnt, t.n_type
         FROM c JOIN t USING (event_type)
         WHERE c.cnt * 100 > t.n_type
         ORDER BY event_type, user_id""",
    "a24_set_overlap" ->
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events)
         SELECT x.event_type AS type_a, y.event_type AS type_b,
           count(*) AS overlap, TRUE AS hll_ok
         FROM du x JOIN du y
           ON x.user_id = y.user_id AND x.event_type < y.event_type
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "a3_argmax_latest" ->
      """SELECT user_id, max_by(value, event_id) AS last_value,
         max(event_id) AS last_event
         FROM events GROUP BY user_id ORDER BY user_id""",
    "a4_argmin_earliest" ->
      """SELECT user_id, min_by(value, event_id) AS first_value,
         min(event_id) AS first_event
         FROM events GROUP BY user_id ORDER BY user_id""",
    "a5_ohlcv_build" ->
      (duckHourly + " ORDER BY 1, 2"),
    "a6_ohlcv_resample" ->
      """SELECT event_type,
         CAST(floor(epoch(ts)/21600)*21600 AS BIGINT) AS bucket_ts,
         min_by(value, event_id) AS open,
         max(value) AS high, min(value) AS low,
         max_by(value, event_id) AS close,
         CAST(SUM(CAST(floor((value)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS volume,
         count(*) AS trade_count
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "a6b_resample_chain" ->
      """SELECT event_type,
         CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket_ts,
         min_by(value, event_id) AS open,
         max(value) AS high, min(value) AS low,
         max_by(value, event_id) AS close,
         CAST(SUM(CAST(floor((value)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS volume,
         count(*) AS trade_count
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "a7_union_series" ->
      """SELECT CAST(floor(epoch(ts)/21600)*21600 AS BIGINT) AS bucket_ts,
         min_by(value, event_id) AS open,
         max(value) AS high, min(value) AS low,
         max_by(value, event_id) AS close,
         CAST(SUM(CAST(floor((value)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS volume,
         count(*) AS trade_count
         FROM events WHERE event_type IN ('purchase','click')
         GROUP BY 1 ORDER BY 1""",
    "a8_leaderboard" ->
      """SELECT user_id, count(*) AS trades_count,
         CAST(SUM(CAST(floor((value)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS volume,
         CAST(SUM(CAST(floor((CASE WHEN event_type = 'purchase' THEN value ELSE -value END)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS gross_pnl
         FROM events WHERE event_type IN ('purchase','click')
         GROUP BY user_id ORDER BY user_id""",
    "a9_large_trades" ->
      """SELECT e.event_id, e.user_id, round(e.value * px.px, 4) AS worth
         FROM events e JOIN (
           SELECT user_id, max_by(value, event_id) AS px
           FROM events GROUP BY user_id) px
         ON e.user_id = px.user_id
         WHERE e.event_type = 'purchase' AND round(e.value * px.px, 4) >= 5000
         ORDER BY e.event_id""",
    "a10_coalesce_fallback" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         p1 AS (SELECT user_id, max_by(value, event_id) AS p1 FROM events
                WHERE event_type = 'purchase' GROUP BY user_id),
         p2 AS (SELECT user_id, max_by(value, event_id) AS p2 FROM events
                WHERE event_type = 'click' GROUP BY user_id),
         p3 AS (SELECT user_id,
                CAST(SUM(CAST(floor((value)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100/count(value) AS p3
                FROM events GROUP BY user_id)
         SELECT u.user_id, round(coalesce(p1.p1, p2.p2, p3.p3), 4) AS price
         FROM u LEFT JOIN p1 USING (user_id) LEFT JOIN p2 USING (user_id)
                LEFT JOIN p3 USING (user_id)
         ORDER BY u.user_id""",
    "a12_top10_concentration" ->
      """WITH r AS (
           SELECT c_nationkey, c_acctbal, row_number() OVER (
             PARTITION BY c_nationkey
             ORDER BY c_acctbal DESC, c_custkey) AS rn
           FROM customer),
         agg AS (
           SELECT c_nationkey AS nationkey,
             CAST(SUM(CAST(floor((CASE WHEN rn <= 10 THEN c_acctbal ELSE 0 END)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS top10_bal,
             CAST(SUM(CAST(floor((c_acctbal)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS total_bal
           FROM r GROUP BY 1)
         SELECT nationkey, top10_bal, total_bal,
           round(top10_bal / total_bal * 100, 4) AS top10_pct
         FROM agg ORDER BY nationkey""",
    "a14_multi_bucket" ->
      """WITH a AS (SELECT max(ts) AS anchor FROM events)
         SELECT event_type,
         -- widest-window prefilter mirrored from the Spark plan (WHERE below)
         CAST(SUM(CAST(floor((CASE WHEN ts >= anchor - INTERVAL 1 DAY THEN value ELSE 0 END)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS vol_1d,
         CAST(SUM(CAST(floor((CASE WHEN ts >= anchor - INTERVAL 7 DAY THEN value ELSE 0 END)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS vol_7d,
         CAST(SUM(CAST(floor((CASE WHEN ts >= anchor - INTERVAL 30 DAY THEN value ELSE 0 END)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS vol_30d,
         count(*) FILTER (WHERE ts >= anchor - INTERVAL 1 DAY) AS tx_1d,
         count(*) FILTER (WHERE ts >= anchor - INTERVAL 7 DAY) AS tx_7d,
         count(*) FILTER (WHERE ts >= anchor - INTERVAL 30 DAY) AS tx_30d
         FROM events, a
         WHERE ts >= anchor - INTERVAL 30 DAY
         GROUP BY event_type ORDER BY event_type""",
    "a15_first_seen" ->
      """SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS first_seen,
         min(event_id) AS first_event
         FROM events GROUP BY user_id ORDER BY user_id""",
    "a16_avg_window" ->
      """SELECT event_type,
         round(CAST(SUM(CAST(floor((value)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100/count(value), 4) AS avg_value
         FROM events
         WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 1 DAY
         GROUP BY event_type ORDER BY event_type""",
    "a17_percentiles" ->
      """SELECT event_type,
         round(quantile_cont(value, 0.25), 4) AS p25,
         round(quantile_cont(value, 0.5), 4) AS p50,
         round(quantile_cont(value, 0.75), 4) AS p75
         FROM events GROUP BY event_type ORDER BY event_type""",
    "w8_moving_avg" ->
      """WITH h AS (SELECT event_type,
           CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS b,
           CAST(SUM(CAST(floor((value)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS v
         FROM events GROUP BY 1, 2)
         SELECT event_type, b,
           round(CAST(SUM(CAST(v AS DECIMAL(38,6))) OVER (
               PARTITION BY event_type ORDER BY b
               RANGE BETWEEN 21600 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(v) OVER (
               PARTITION BY event_type ORDER BY b
               RANGE BETWEEN 21600 PRECEDING AND CURRENT ROW), 4) AS ma6h
         FROM h ORDER BY 1, 2""",
    "w10_range_interval" ->
      """WITH e AS (SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events)
         SELECT event_id, user_id,
           count(*) OVER w AS n_10m,
           max(value) OVER w AS max_10m,
           min(value) OVER w AS min_10m
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec
           RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "a18_rollup" ->
      """SELECT CAST(GROUPING(event_type, u3) AS BIGINT) AS g,
           event_type, u3, count(*) AS n
         FROM (SELECT event_type, user_id % 3 AS u3 FROM events)
         GROUP BY ROLLUP(event_type, u3)
         ORDER BY g, event_type, u3""",
    "a19_cube" ->
      """SELECT CAST(GROUPING(event_type, u3) AS BIGINT) AS g,
           event_type, u3, count(*) AS n
         FROM (SELECT event_type, user_id % 3 AS u3 FROM events)
         GROUP BY CUBE(event_type, u3)
         ORDER BY g, event_type, u3""",
    "w5_prev_close_carry" ->
      s"""WITH c AS ($duckHourly)
         SELECT event_type, bucket_ts,
           coalesce(lag(close) OVER (PARTITION BY event_type ORDER BY bucket_ts), open) AS open,
           close
         FROM c ORDER BY event_type, bucket_ts""",
    "w6_pct_change" ->
      s"""WITH c AS ($duckHourly),
         cut AS (SELECT max(bucket_ts) - 7*86400 AS cut FROM c),
         lastc AS (SELECT event_type, max_by(close, bucket_ts) AS last_close
                   FROM c GROUP BY 1),
         prevc AS (SELECT event_type, max_by(close, bucket_ts) AS prev_close
                   FROM c, cut WHERE bucket_ts <= cut GROUP BY 1)
         SELECT l.event_type, l.last_close, p.prev_close,
           round((l.last_close - p.prev_close) / p.prev_close * 100, 4) AS change_pct
         FROM lastc l LEFT JOIN prevc p USING (event_type)
         ORDER BY event_type""",
    "o5_gainers" ->
      s"""WITH c AS ($duckHourly),
         cut AS (SELECT max(bucket_ts) - 7*86400 AS cut FROM c),
         lastc AS (SELECT event_type, max_by(close, bucket_ts) AS last_close
                   FROM c GROUP BY 1),
         prevc AS (SELECT event_type, max_by(close, bucket_ts) AS prev_close
                   FROM c, cut WHERE bucket_ts <= cut GROUP BY 1)
         SELECT l.event_type,
           round((l.last_close - p.prev_close) / p.prev_close * 100, 4) AS change_pct
         FROM lastc l LEFT JOIN prevc p USING (event_type)
         ORDER BY change_pct DESC, event_type""",
    "w11_forming_bar" ->
      s"""WITH c AS ($duckHourly),
         fs AS (SELECT CAST(floor(max(bucket_ts)/21600)*21600 AS BIGINT) AS fs
                FROM c)
         SELECT event_type,
           CAST(floor(bucket_ts/21600)*21600 AS BIGINT) AS bucket_ts,
           min_by(open, bucket_ts) AS open,
           max(high) AS high, min(low) AS low,
           max_by(close, bucket_ts) AS close,
           CAST(SUM(CAST(floor((volume)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS volume,
           CAST(SUM(trade_count) AS BIGINT) AS trade_count,
           false AS forming
         FROM c, fs WHERE bucket_ts < fs GROUP BY 1, 2
         UNION ALL
         SELECT event_type, fs AS bucket_ts,
           min_by(open, bucket_ts) AS open,
           greatest(max(high), min_by(open, bucket_ts)) AS high,
           least(min(low), min_by(open, bucket_ts)) AS low,
           max_by(close, bucket_ts) AS close,
           CAST(SUM(CAST(floor((volume)*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS volume,
           CAST(SUM(trade_count) AS BIGINT) AS trade_count,
           true AS forming
         FROM c, fs WHERE bucket_ts >= fs GROUP BY 1, 2
         ORDER BY event_type, bucket_ts""",
    "g_gapfill_prev" ->
      s"""WITH c AS ($duckHourly),
         cc AS (SELECT * FROM c WHERE event_type = 'purchase'),
         spine AS (
           SELECT 'purchase' AS event_type,
             unnest(generate_series(min(bucket_ts), max(bucket_ts), 3600)) AS bucket_ts
           FROM cc),
         j AS (SELECT s.event_type, s.bucket_ts, cc.open, cc.high, cc.low,
                 cc.close, cc.volume, cc.trade_count
               FROM spine s LEFT JOIN cc
                 ON s.event_type = cc.event_type AND s.bucket_ts = cc.bucket_ts),
         k AS (SELECT *, last_value(close IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY bucket_ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry
               FROM j)
         SELECT event_type, bucket_ts,
           coalesce(open, carry) AS open,
           coalesce(close, carry) AS close,
           coalesce(volume, 0) AS volume,
           coalesce(trade_count, 0) AS trade_count
         FROM k ORDER BY bucket_ts"""
  )
}
