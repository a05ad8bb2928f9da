package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampType}

/** Core column-expression library — the primitives every operator in
  * SURVEY.md §2 composes from. All of these are plain Catalyst expressions
  * (whole-stage-codegen friendly); no UDFs.
  *
  * Determinism policy (drives the DuckDB oracle hash-match):
  *  - floating aggregates go through exact `DecimalType` arithmetic so the
  *    result is independent of partitioning / accumulation order, then cast
  *    back to double for a canonical output type;
  *  - every argmax/argmin/top-k uses a total order (unique tiebreak column);
  *  - timestamps leave the engine as epoch seconds (BIGINT), sidestepping
  *    engine-specific timezone/precision rendering.
  */
object Core {

  /** Exact, order-independent sum of a double column: accumulate in
    * Decimal(38,6) then cast back. `sum(double)` is not associative-stable
    * across partitionings; this is, at the cost of 6-dp input rounding.
    */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(38, 6))).cast("double")

  /** Exact order-independent sum for FIXED-POINT-valued double columns
    * — the hot-path twin of [[dsum]]: `round(x·10^dp)` recovers the
    * exact integer units (the inputs sit on a 10^-dp grid by schema —
    * TPC-H money columns are 2dp, so a price×(1−discount) product is
    * exactly 4dp), the units accumulate in a codegen'd two-long 128-bit
    * adder ([[graft.plans.Int128Sum]] — no per-row decimal boxing, the
    * measured whole of j1's marginal vs its twin, tools/J1Audit), and
    * ONE double division descales at the end. Bit-identical across
    * engines and partitionings; the DuckDB twin is
    * `CAST(SUM(CAST(round(x*1e4) AS BIGINT)) AS DOUBLE)/1e4` (HUGEINT
    * sum — exact on that side too). Use [[dsum]] when inputs are NOT
    * grid-valued (derived ratios, arbitrary doubles).
    */
  def xsum(c: Column, dp: Int = 4): Column = {
    val scale = math.pow(10d, dp)
    // floor(x+0.5), not round(x, 0): Spark's Round on DoubleType boxes a
    // BigDecimal PER ROW (the very tax this function exists to avoid);
    // floor is a bare Math.floor in codegen. Equal to nearest-integer on
    // every input within ±0.5 of the grid point — which grid-valued
    // inputs are by construction — and the same IEEE ops on both engines
    graft.plans.Int128Sum.int128Sum(
      floor(c * lit(scale) + lit(0.5d)).cast("long")) / lit(scale)
  }

  /** [[xsum]] as a WINDOW aggregate (r16): same exact-decimal Int128Sum
    * over the window's partition. Needed because xsum's Column is
    * aggregate ÷ scale — `.over` on it would wrap the division, not the
    * aggregate. Lets a correlated per-group scalar (b15's 20%-of-mean
    * threshold) compute in the SAME pass as the rows it gates instead
    * of a groupBy + join-back re-scanning the fact.
    */
  def xsumOver(c: Column, dp: Int,
               w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val scale = math.pow(10d, dp)
    graft.plans.Int128Sum.int128Sum(
      floor(c * lit(scale) + lit(0.5d)).cast("long")).over(w) / lit(scale)
  }

  /** dsum over a conditional — ClickHouse `sumIf` (SURVEY §2.4 A1). */
  def dsumIf(c: Column, cond: Column): Column =
    dsum(when(cond, c).otherwise(lit(0d)))

  /** [[xsum]] over a conditional — the grid-sum twin of [[dsumIf]]
    * (non-matching rows contribute the exact 0). */
  def xsumIf(c: Column, cond: Column, dp: Int = 2): Column =
    xsum(when(cond, c).otherwise(lit(0d)), dp)

  /** ClickHouse `countIf` (SURVEY §2.4 A1). */
  def countIf(cond: Column): Column =
    count_if(cond)

  /** Mean as double: exact decimal sum cast to double, then double
    * division by count — the division happens in IEEE double so the result
    * is bit-identical to `CAST(SUM(CAST(x AS DECIMAL)) AS DOUBLE)/COUNT(x)`
    * in any engine (SURVEY §2.4 A16).
    */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(38, 6))).cast("double") / count(c)

  /** ClickHouse `argMax(value, ord)` — latest-by (SURVEY §2.4 A3).
    * `ord` must be a total order (unique) or the result is nondeterministic.
    */
  def latestBy(value: Column, ord: Column): Column = max_by(value, ord)

  /** ClickHouse `argMin(value, ord)` (SURVEY §2.4 A4). */
  def earliestBy(value: Column, ord: Column): Column = min_by(value, ord)

  /** Timestamp → epoch seconds (BIGINT), the canonical time output type. */
  def epochSec(ts: Column): Column = unix_timestamp(ts)

  /** Epoch-second bucketing: `intDiv(toUnixTimestamp(ts), step) * step`
    * (SURVEY §2.4 A6 — the reference's arbitrary-timeframe resampler key).
    */
  def bucketSec(ts: Column, stepSec: Long): Column =
    (floor(unix_timestamp(ts) / stepSec) * stepSec).cast("long")

  /** Rebucket an epoch-second bucket column onto a coarser step. */
  def rebucket(bucket: Column, stepSec: Long): Column =
    (floor(bucket / stepSec) * stepSec).cast("long")

  /** Round a double column to 4 decimals via the multiply form:
    * round(x·10⁴)/10⁴. Engines disagree on `round(x, 4)` exactly at
    * decimal ties: Spark rounds the exact binary value of x (BigDecimal
    * HALF_UP) while DuckDB rounds the DOUBLE x·10⁴ — for a true-decimal
    * tie like 6202.45595 the two can land one ulp apart and round in
    * opposite directions. Multiplying first makes both engines round the
    * SAME double with the same ties-away rule, so results are
    * bit-identical. (Negative zero: Spark's BigDecimal path normalizes
    * -0.0 → +0.0; DuckDB keeps -0.0 — oracle SQL adds `+ 0` where an
    * exactly-zero product of a negative operand can occur.)
    */
  def round4(c: Column): Column = round(c * 10000d, 0) / 10000d

  /** [[round4]] at 1e-6 resolution — for scores whose adjacent ordering
    * increments are FINER than 1e-4 (RRF tail ranks: 1/(60+49)−1/(60+50)
    * ≈ 8.3e-5 would tie under round4 and let doc_id decide the served
    * order). Same single fixed-order IEEE construction, so results stay
    * bit-identical across engines; twins use `round(x, 6)`.
    */
  def round6(c: Column): Column = round(c * 1000000d, 0) / 1000000d

  /** Deterministic 64-bit id from a string key — the Spark analogue of the
    * reference's `cityHash64(denom)` surrogate ids (core/tokens.js:29-34,
    * core/pools.js:13-19). Only determinism matters, not CityHash compat.
    */
  def stableId(c: Column): Column = xxhash64(c)

  /** Tx-hash derivation: `upper(hex(sha256(tx_bytes)))`
    * (reference core/parse.js:20, core/block-processor.js:93-96).
    */
  def txHash(c: Column): Column = upper(sha2(c, 256))

  /** Spread a frame across the cluster's cores before a compute-heavy
    * map chain, unless the scan already oversubscribes them. A small
    * parquet file reads as ONE split, so a per-row kernel (minhash
    * signatures, scaled-long dots) serializes in a single task no
    * matter how many cores exist; at real scale the file count already
    * exceeds the cluster and this is a no-op — the conditional keeps
    * the big-data path free of a pointless full-corpus shuffle.
    *
    * The threshold is 4× the core count, NOT the core count: planned
    * splits are BYTE RANGES, not guaranteed work units — a parquet
    * reader assigns a row group to the split holding its MIDPOINT, so
    * a file with fewer row groups than splits leaves most splits
    * empty. The r16 CdcAudit caught exactly this: the 1000× fixture
    * (5M rows, ONE file, 5 × 1M-row row groups) planned 32 splits for
    * 32 cores — `32 < 32` was false, spread no-op'd, and the whole
    * CDC MD5 kernel chain ran 5-way serialized (85 s where 32-way
    * costs ~8). Demanding ≥4× oversubscription before trusting the
    * scan costs at most one corpus exchange when wrong (~3 s at that
    * decade, the measured spread stage) against a cores/rowGroups×
    * kernel serialization when right; at cluster scale (thousands of
    * files) splits ≫ 4×cores and the no-op path is unchanged.
    */
  def spreadPartitions(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < 4 * par) df.repartition(par) else df
  }

  /** `anchor - sec` as a timestamp literal. The reference anchors sliding
    * windows at `now()`; the batch twin anchors at max event time. A
    * literal, not an in-plan crossJoin of an aggregate: a non-constant
    * time predicate can never prune parquet row groups — at 100 TB that
    * is two full scans. Microsecond precision is preserved. Without an
    * anchor (an empty table) the cutoff is a typed NULL, so `ts >= cut`
    * keeps no row, as SQL's comparison with `max()` of no rows does.
    */
  def cutoff(anchor: Option[java.time.Instant], sec: Long): Column =
    anchor.fold(lit(null).cast(TimestampType))(a => lit(a.minusSeconds(sec)))

  /** [[cutoff]] anchored at `max(ts)` of a derived frame, collected by one
    * driver-side aggregate job. Base tables answer their anchor from
    * parquet footers without a job ([[graft.Tables.maxTs]]).
    */
  def anchorMinusSec(df: org.apache.spark.sql.DataFrame, ts: Column,
                     sec: Long): Column =
    cutoff(Option(df.agg(max(ts)).head().getTimestamp(0)).map(_.toInstant),
      sec)

  /** A nullable BIGINT literal: a builder's collected scalar, NULL when
    * its table is empty. */
  def litOrNull(v: Option[Long]): Column =
    v.fold(lit(null).cast(LongType))(lit(_))
}
