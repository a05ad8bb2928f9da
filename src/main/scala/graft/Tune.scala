package graft

import org.apache.spark.sql.SparkSession

/** Data-size-derived shuffle width — the partition-count policy a 100 TB
  * engine must own rather than inherit from a harness constant.
  *
  * Why it exists (r14 SCALING, note `r14_d17_1000x`): the gram/chunk
  * dedup families (d17/d18/t25) are plan-linear, but their 1000×-decade
  * marginals grew ~2× over the 100× ones purely because the harness
  * pinned `spark.sql.shuffle.partitions` to the core count (32). At
  * 1000× the substring-run gram join and the CDC fingerprint window
  * sort ~300M rows through 32 partitions — ~0.5 GB of sort run per
  * partition, which is spill territory no matter how good the plan is.
  * A real deployment sizes the shuffle from the data, exactly like
  * [[graft.sources.Sinks.compactSmallFiles]] sizes its output files:
  * `ceil(bytes / target)`.
  *
  * The rule: initial shuffle width =
  * `clamp(cores, ceil(inputBytes / bytesPerPartition), cap)` with
  * `bytesPerPartition` = 8 MB of COMPRESSED parquet input. The 8 MB
  * figure backs out of the target the policy actually protects: ≤64 MB
  * of in-flight shuffle data per partition, with snappy parquet
  * decompressing ~4× and the exploding text families (shingles, CDC
  * chunks, positional grams) expanding the scan another ~2× into
  * shuffle rows. Oversizing the width is cheap and self-correcting —
  * AQE's partition coalescing (on by default) merges small post-shuffle
  * partitions back to `advisoryPartitionSizeInBytes`, so the scan-sized
  * families pay a few empty-partition headers while the exploded
  * families keep their sort runs in memory. Undersizing is the failure
  * mode AQE cannot fix: coalescing only MERGES; nothing re-splits an
  * oversized non-skew-join sort.
  *
  * The floor is the core count (fewer tasks than cores wastes the
  * machine); the cap bounds per-task dispatch overhead on a single JVM
  * — on a real cluster the cap scales with the executor fleet instead
  * (1000 executors × a few cores ≫ 2048), so the clamp is a local-mode
  * guard, not engine semantics.
  *
  * Verify (the correctness gate) deliberately keeps the fixed width:
  * results are partitioning-independent by contract, and the gate runs
  * at sf0.01 where the floor binds anyway.
  */
object Tune {

  /** The local session every main runs on: `local[cpus]` with the
    * shuffle width at the core count (callers that measure at scale
    * re-derive it with [[applyShuffleWidth]]), UTC, raw-long NANOS
    * timestamps (the `Tables` loaders normalize them) and no UI.
    */
  def localSession(cpus: Int, logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Total on-disk bytes under `dir` (recursive; the fixture layout is
    * one parquet file/dir per table). One filesystem metadata call —
    * the same `getContentSummary` probe compactSmallFiles uses.
    */
  def inputBytes(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** `clamp(floor, ceil(bytes / bytesPerPartition), cap)` — see the
    * object scaladoc for where the default target comes from.
    */
  def shuffleWidth(bytes: Long, floor: Int,
                   bytesPerPartition: Long = 8L << 20,
                   cap: Int = 2048): Int = {
    require(floor >= 1 && bytesPerPartition >= 1 && cap >= floor,
      s"shuffleWidth: floor=$floor target=$bytesPerPartition cap=$cap")
    val need = (bytes + bytesPerPartition - 1) / bytesPerPartition
    math.min(cap.toLong, math.max(floor.toLong, need)).toInt
  }

  /** Scan-split size companion to [[shuffleWidth]]: the default 128 MB
    * `spark.sql.files.maxPartitionBytes` gives a 1.5 GB input only ~12
    * splits — a 32-core executor fleet idles 60% of the machine through
    * every scan-bound stage (measured: the 100× replica's per-unit scan
    * cost ran 2-5× the 1000× replica's purely from split count; the
    * 1000× fixture crosses 32 splits on its own). Target ≥2 splits per
    * core — `clamp(4 MB, bytes/(2·cores), 128 MB)` — so mid-sized
    * inputs parallelize fully while huge inputs keep the 128 MB
    * vectorized-reader sweet spot and small ones don't shatter into
    * per-row-group confetti. (On a real cluster `cores` is the fleet's
    * total slots, exactly like the width rule.)
    */
  def scanSplitBytes(bytes: Long, cores: Int): Long = {
    require(cores >= 1, s"scanSplitBytes: cores=$cores")
    math.min(128L << 20, math.max(4L << 20, bytes / (2L * cores)))
  }

  /** Derive shuffle width AND scan split size from `dir`'s bytes and
    * set both on the session. Returns the width so harnesses can log
    * the decision.
    */
  def applyShuffleWidth(spark: SparkSession, dir: String): Int = {
    val floor = spark.sparkContext.defaultParallelism
    val bytes = inputBytes(spark, dir)
    val w = shuffleWidth(bytes, floor)
    spark.conf.set("spark.sql.shuffle.partitions", w.toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      scanSplitBytes(bytes, floor).toString)
    w
  }
}
