package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Core._

/** OHLCV candle engine — the reference's time-series spine.
  *
  * Mirrors, Spark-first:
  *  - 1-minute candle build (reference core/ohlcv.js:32-62, SURVEY A5)
  *  - arbitrary-timeframe resample via epoch bucketing
  *    (api/routes/tokens.js:1429-1488, SURVEY A6)
  *  - prev-close carry: open of bucket N := close of N-1
  *    (core/ohlcv.js:121-154, SURVEY W5/T5 — batch `lag` form)
  *  - gap fill prev/zero/none (api/routes/tokens.js:1491-1558)
  *
  * All plans are single shuffle per stage: candle build is one hash
  * aggregate on (keys, bucket); resample re-aggregates candles (input is
  * already ~1/60th the ticks, so the second shuffle is cheap); continuity
  * and gap-fill are window/`sequence` ops over the aggregated frame. At
  * 100 TB the tick→candle aggregate benefits from partial aggregation
  * (map-side combine) automatically; no row ever needs to be co-located
  * except by (series, bucket), which the hash aggregate already does.
  *
  * Output schema: keyCols ++ (bucket_ts LONG epoch-sec, open, high, low,
  * close DOUBLE, volume DOUBLE, trade_count LONG).
  */
object Ohlcv {

  /** Build candles from a tick stream.
    *
    * @param ticks  input frame
    * @param keys   series identity columns (e.g. pool_id)
    * @param ts     event-time column (timestamp)
    * @param ord    unique total-order column for first/last ties (the
    *               reference relies on insertion order; we require an
    *               explicit unique key — SURVEY §7.3 hard-spot 5)
    * @param price  tick price column
    * @param vol    tick volume column
    * @param stepSec bucket width in seconds
    */
  def candles(ticks: DataFrame, keys: Seq[String], ts: Column, ord: Column,
              price: Column, vol: Column, stepSec: Long): DataFrame = {
    // One custom TypedImperativeAggregate buffer (plans/CandleAgg) instead
    // of six independent aggregates (min_by/max/min/max_by/dsum/count) —
    // same hash-aggregate shuffle with map-side partials, one state walk
    // per row. Value-identical to the six-aggregate form (all candle
    // oracles + OhlcvSpec prove it).
    val c = graft.plans.CandleAggExpr.candleAgg(ord, price, vol)
    ticks
      .groupBy((keys.map(col) :+ bucketSec(ts, stepSec).as("bucket_ts")): _*)
      .agg(c.as("c"))
      .select((keys.map(col) :+ col("bucket_ts") :+
        col("c.open").as("open") :+ col("c.high").as("high") :+
        col("c.low").as("low") :+ col("c.close").as("close") :+
        col("c.volume").as("volume") :+
        col("c.trade_count").as("trade_count")): _*)
  }

  /** Resample candles onto a coarser bucket. Invariant (FIXTURES.md):
    * resample(1m→TF) then resample(TF→coarser) ≡ resample(1m→coarser),
    * which holds because min/max/sum are associative and open/close use
    * argmin/argmax over the same total order (bucket_ts is unique per
    * series in candle frames).
    */
  def resample(candles: DataFrame, keys: Seq[String], stepSec: Long): DataFrame =
    rollUp(candles.groupBy(
      (keys.map(col) :+ rebucket(col("bucket_ts"), stepSec).as("bucket_ts")): _*))

  /** The six aggregates that roll finer candles up into one bar: open and
    * close by earliest/latest bucket_ts, high/low extremes, exact volume
    * and trade-count sums.
    */
  private def rollUp(g: RelationalGroupedDataset): DataFrame =
    g.agg(
      earliestBy(col("open"), col("bucket_ts")).as("open"),
      max(col("high")).as("high"),
      min(col("low")).as("low"),
      latestBy(col("close"), col("bucket_ts")).as("close"),
      dsum(col("volume")).as("volume"),
      sum(col("trade_count")).as("trade_count"))

  /** T9 forming-bar synthesis (reference api/ws.js:84-91,128-140): the WS
    * serving loop sends closed TF bars plus ONE bar for the not-yet-closed
    * bucket, synthesized from the finer (1m there, `fine` here) candles
    * inside it. Per `aggregateFormingFrom1m` the forming bar's high/low
    * also clamp against its open (the reference prepends `open` to the
    * high/low lists before max/min). Closed bars are a plain resample of
    * everything strictly before the forming bucket; both sides are one
    * hash aggregate over the already-reduced candle frame, so the whole
    * op adds no tick-level work at any scale. Output: resample schema +
    * `forming` boolean.
    */
  def withFormingBar(fine: DataFrame, keys: Seq[String], stepSec: Long,
                     asOfSec: Long): DataFrame = {
    val kc = keys.map(col)
    val formingStart = math.floorDiv(asOfSec, stepSec) * stepSec
    val closed = resample(
      fine.filter(col("bucket_ts") < formingStart), keys, stepSec)
      .withColumn("forming", lit(false))
    val forming = rollUp(fine.filter(col("bucket_ts") >= formingStart)
        .groupBy(kc: _*))
      .select((kc :+ lit(formingStart).as("bucket_ts") :+ col("open") :+
        greatest(col("high"), col("open")).as("high") :+
        least(col("low"), col("open")).as("low") :+
        col("close") :+ col("volume") :+ col("trade_count") :+
        lit(true).as("forming")): _*)
    closed.unionByName(forming)
  }

  /** Candle continuity: open := previous candle's close per series
    * (batch form of the reference's lastCloseByPool map). First candle
    * keeps its own open. Note FIXTURES.md: after the override only
    * close∈[low,high] is guaranteed — the reference explicitly allows the
    * carried open to fall outside [low,high] (core/ohlcv.js:142-145).
    */
  def withPrevCloseOpen(candles: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("bucket_ts"))
    candles.withColumn("open",
      coalesce(lag(col("close"), 1).over(w), col("open")))
  }

  /** Per-series gap fill. Emits one row per `stepSec` bucket between each
    * series' first and last candle. `mode`:
    *  - "prev": flat candle at previous close, volume 0 (reference 'prev')
    *  - "zero": zero-volume empty candle with null prices except carried
    *            close treated as 0 — reference 'zero' fills price 0
    *  - "none": passthrough
    * Implementation: per-series min/max bucket → `sequence`+`explode` →
    * left join candles → `last(close) ignore nulls` carry window.
    */
  def gapFill(candles: DataFrame, keys: Seq[String], stepSec: Long,
              mode: String = "prev"): DataFrame = {
    if (mode == "none") return candles
    val kc = keys.map(col)
    val spine = candles
      .groupBy(kc: _*)
      .agg(min(col("bucket_ts")).as("lo"), max(col("bucket_ts")).as("hi"))
      .select((kc :+ explode(sequence(col("lo"), col("hi"),
        lit(stepSec))).as("bucket_ts")): _*)
    val joined = spine.join(candles, keys :+ "bucket_ts", "left")
    val w = Window.partitionBy(kc: _*).orderBy(col("bucket_ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = last(col("close"), ignoreNulls = true).over(w)
    val fillPrice = if (mode == "prev") carried else lit(0d)
    joined
      .withColumn("open",  coalesce(col("open"),  fillPrice))
      .withColumn("high",  coalesce(col("high"),  fillPrice))
      .withColumn("low",   coalesce(col("low"),   fillPrice))
      .withColumn("close", coalesce(col("close"), fillPrice))
      .withColumn("volume", coalesce(col("volume"), lit(0d)))
      .withColumn("trade_count", coalesce(col("trade_count"), lit(0L)))
  }

  /** % change over the window: latest close vs close as-of `cutoff`
    * (reference api/util/pool-select.js:84-126, SURVEY W6/J9 — two
    * single-row aggregates cross-joined).
    */
  def pctChange(candles: DataFrame, keys: Seq[String], cutoff: Column): DataFrame = {
    val kc = keys.map(col)
    val lastC = candles.groupBy(kc: _*)
      .agg(latestBy(col("close"), col("bucket_ts")).as("last_close"))
    val prevC = candles.filter(col("bucket_ts") <= cutoff).groupBy(kc: _*)
      .agg(latestBy(col("close"), col("bucket_ts")).as("prev_close"))
    lastC.join(prevC, keys, "left")
      .withColumn("change_pct",
        round4(when(col("prev_close").isNotNull && col("prev_close") =!= 0d,
          (col("last_close") - col("prev_close")) / col("prev_close") * 100d)))
  }
}
