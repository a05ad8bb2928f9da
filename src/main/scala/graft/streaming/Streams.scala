package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.functions.Core._

/** Structured Streaming slice — SURVEY §2.9 T1/T4/T5 re-expressed
  * Spark-first. The reference's indexer is a height-ordered RPC poller
  * with an `index_state` checkpoint (bin/start-indexer.js:36-79,
  * core/checkpoint.js:4-23), dedup-on-write (core/block-processor.js:64-76)
  * and a process-lifetime lastCloseByPool map for candle continuity
  * (core/ohlcv.js:5-7,121-154). The Spark shape: a file landing zone read
  * as a micro-batch stream (checkpointLocation = the T1 ordered-commit
  * checkpoint), `dropDuplicates` keyed like the unique index (T4), and
  * `flatMapGroupsWithState` carrying last close per series (T5).
  * StreamingSpec proves streaming ≡ batch on the fixture.
  */
object Streams {

  /** events landing-zone schema, parameterized on the physical type the
    * landing files carry for `ts`. The fixture has shipped events.ts as
    * BOTH parquet TIMESTAMP(NANOS) — readable only as a raw LONG under
    * the legacy conf — and TIMESTAMP(MICROS) no-tz (TIMESTAMP_NTZ); the
    * batch loaders adapt (Tables.normTs), and the stream must too: a
    * file stream's user schema is fixed up front, so a hard-pinned
    * wrong variant fails every micro-batch with a parquet conversion
    * error.
    */
  def eventsSchema(tsType: org.apache.spark.sql.types.DataType)
      : StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** T1: micro-batch file source over a landing directory. File arrival
    * order plays block-height order; the stream's checkpointLocation is
    * the `index_state` twin — restart resumes after the last committed
    * batch, never re-emitting it. The `ts` physical type is probed from
    * the landing files with a one-off batch read, then normalized to
    * session-zone TimestampType exactly like the batch path. An empty
    * (unprobeable) landing dir fails fast unless the caller pins the
    * producer's type via `tsTypeIfEmpty` — the file source fixes its
    * schema at creation, so a wrong guess wedges the stream for life.
    */
  def eventsStream(spark: SparkSession, landingDir: String,
                   tsTypeIfEmpty: Option[org.apache.spark.sql.types.DataType] = None)
      : DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // probe the PHYSICAL type the landing files carry and pin exactly it
    // (collapsing "not long" to NTZ would break an LTZ-micros variant the
    // batch loader passes through). The pin is for the stream's LIFETIME
    // (a file source's user schema is fixed at creation), so a guessed
    // default against an empty dir would make EVERY micro-batch fail
    // until a manual restart if the producer lands the other variant.
    // Fail fast instead: require one landed file, or an explicit
    // `tsTypeIfEmpty` pin from a caller who knows the producer's type.
    val probed: org.apache.spark.sql.types.DataType =
      try spark.read.parquet(landingDir).schema("ts").dataType
      catch {
        case e: Throwable =>
          tsTypeIfEmpty.getOrElse(throw new IllegalStateException(
            s"eventsStream: cannot probe ts type in $landingDir " +
              s"(${e.getMessage}). The file source pins its schema for " +
              "the stream's lifetime, so guessing here would wedge the " +
              "stream if the producer lands the other timestamp variant. " +
              "Land one file first, or pass tsTypeIfEmpty to pin the " +
              "producer's known type explicitly.", e))
      }
    graft.Tables.normTs(
      spark.readStream.schema(eventsSchema(probed)).parquet(landingDir), "ts")
  }

  /** T4: exactly-once-ish key dedup, the streaming twin of the existence
    * probe on (pool_id, tx_hash, msg_index). State is the seen-key set;
    * bound it with a watermark on the event-time column at scale.
    */
  def dedupeKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** T4/T8 at scale: watermarked key dedup — replays/late duplicates are
    * absorbed while the seen-key state stays bounded (keys older than the
    * watermark delay are evicted; the reference's unique index has no such
    * bound, but ClickHouse never kept the probe set in memory either).
    */
  def dedupeKeysWatermarked(df: DataFrame, tsCol: String, delay: String,
                            keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming windowed candle build (A5's streaming twin): event-time
    * window aggregate; min_by/max_by over the unique `ord` keep open/close
    * deterministic exactly as in the batch path.
    */
  def windowedCandles(df: DataFrame, keys: Seq[String], stepSec: Long)
      : DataFrame =
    df.groupBy((keys.map(col) :+
        window(col("ts"), s"$stepSec seconds").as("w")): _*)
      .agg(
        earliestBy(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        latestBy(col("value"), col("event_id")).as("close"),
        dsum(col("value")).as("volume"),
        count(lit(1)).as("trade_count"))
      .withColumn("bucket_ts", unix_timestamp(col("w.start")))
      .drop("w")

  /** Streaming sessionization (w7's streaming twin): per-user session
    * aggregates over Spark's native `session_window` — sessions merge
    * while consecutive events are less than `gapSec` apart, state is
    * evicted by the watermark. Semantics note: `session_window`'s end is
    * exclusive (an event exactly `gapSec` after the previous one starts a
    * NEW session), so the batch-equivalence spec pins the `>=` boundary
    * rule. At scale this is one keyed state store; no corpus-wide sort
    * window.
    */
  def sessionized(df: DataFrame, gapSec: Long, watermarkDelay: String)
      : DataFrame =
    df.withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapSec seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), unix_micros(col("first_ts")).as("start_us"),
        unix_micros(col("last_ts")).as("end_us"), col("n_events"))

  /** T2: two-phase intra-batch dependency — inside every micro-batch,
    * derived dimension rows (the create_pair pool tasks) are committed
    * BEFORE the fact rows (swap/liquidity tasks), so a fact never lands
    * before the dim it references (core/block-processor.js:98-101,
    * 418-443). foreachBatch makes the ordering explicit and per-batch
    * atomic-enough: phase 2 only runs after phase 1 returns.
    */
  def twoPhaseSink(stream: DataFrame, dimKey: String, dimPath: String,
                   factPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select(dimKey).distinct()
          .write.mode("append").parquet(dimPath)   // phase 1: dims
        batch.write.mode("append").parquet(factPath) // phase 2: facts
      }
      .start()

  /** Streaming as-of enrichment: every micro-batch of facts gets the
    * prevailing reference row (the price book) attached via the custom
    * as-of join — the streaming form of price-at-trade-time on the ingest
    * path (core/prices.js:35-66 reads the prevailing reserve cache per
    * trade as blocks arrive). The reference frame is a plain DataFrame
    * re-evaluated per batch, so a slowly-refreshed dim is picked up
    * between batches — the read-through-cache semantics of the reference,
    * with the lookup executed as one co-partitioned merge instead of a
    * per-row probe.
    */
  def enrichAsOfSink(facts: DataFrame, ref: DataFrame,
                     leftKeys: Seq[String], rightKeys: Seq[String],
                     leftTimeCol: String, rightTimeCol: String,
                     outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.plans.AsOf.joinBackward(batch, ref,
            leftKeys, rightKeys, leftTimeCol, rightTimeCol)
          .write.mode("append").parquet(outPath)
      }
      .start()

  final case class AsOfEvent(key: Long, t: Long, isLeft: Boolean,
                             id: Long, v: Double)
  final case class AsOfMatch(key: Long, t: Long, id: Long, ref: Option[Double])

  /** STREAM-STREAM as-of join: both the fact stream and the reference
    * stream arrive incrementally (trades and price updates are BOTH
    * unbounded in the reference's ingest path); [[enrichAsOfSink]] covers
    * stream⋈static, this covers stream⋈stream with explicit state. Spark's
    * built-in stream-stream joins support equality + range conditions but
    * not "latest at-or-before" semantics, so the state is managed
    * directly: per key, the right-side (time, value) history; each left
    * row is answered with the prevailing (largest time ≤ t) right value
    * known at processing time — the read-through price-cache semantics of
    * the reference made checkpoint-durable.
    *
    * Batch atomicity: all of a micro-batch's right rows are visible to
    * all of its left rows (like the reference, which applies a block's
    * price writes before its trade reads). A right row that arrives
    * AFTER a left row was answered does not retroactively rewrite output
    * (append mode, ingest-order semantics); streaming ≡ batch holds
    * whenever each left row's prevailing right row is ingested no later
    * than the left row's batch.
    *
    * State is bounded: history older than (newest right time − retention)
    * is dropped, except the single newest pre-cutoff entry, which stays so
    * a slowly-updating reference (a pool quoted once a day) still answers
    * — state per key = O(updates inside the retention window) + 1, never
    * the full history. Duplicate right (key, time) rows: the later-sorted
    * copy wins, input-order dependent as in the batch exec — dedupe the
    * right side for determinism.
    */
  def asOfStreamStream(facts: DataFrame, refs: DataFrame, retention: Long)
      : Dataset[AsOfMatch] = {
    import facts.sparkSession.implicits._
    val l = facts.select(col("key"), col("t"), lit(true).as("isLeft"),
      col("id"), lit(Double.NaN).as("v")).as[AsOfEvent]
    val r = refs.select(col("key"), col("t"), lit(false).as("isLeft"),
      lit(0L).as("id"), col("v")).as[AsOfEvent]
    l.union(r)
      .groupByKey(_.key)
      .flatMapGroupsWithState[List[(Long, Double)], AsOfMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[AsOfEvent], state: GroupState[List[(Long, Double)]]) =>
          val evs = it.toSeq
          val hist = (state.getOption.getOrElse(Nil) ++
            evs.filter(!_.isLeft).map(e => (e.t, e.v))).sortBy(_._1)
          val out = evs.filter(_.isLeft).sortBy(e => (e.t, e.id)).map { e =>
            AsOfMatch(key, e.t, e.id,
              hist.takeWhile(_._1 <= e.t).lastOption.map(_._2))
          }
          hist.lastOption.foreach { case (maxT, _) =>
            val (old, recent) = hist.partition(_._1 < maxT - retention)
            state.update(old.lastOption.toList ++ recent)
          }
          out.iterator
      }
  }

  final case class AsOfEventT(key: Long, t: Long, isLeft: Boolean,
                              id: Long, v: Double, ts: java.sql.Timestamp)

  /** EVENT-TIME stream-stream as-of: the watermark-gated upgrade of
    * [[asOfStreamStream]]. The processing-order form answers each fact
    * immediately — a reference row arriving LATER than a fact it should
    * have matched is silently missed. Here a fact at event time t is held
    * in state until the watermark passes t; by the watermark contract
    * every reference row with time ≤ t has arrived by then, so the answer
    * equals the batch as-of REGARDLESS of arrival interleaving (within
    * the delay). This is the difference between cache semantics and join
    * semantics: the reference's read-through price cache gives the
    * former; an engine can promise the latter.
    *
    * Mechanics: union the tagged streams, `withWatermark(ts, delay)`,
    * per-key state = (pending facts, reference history). Each invocation
    * buffers new rows, emits every pending fact whose t ≤ watermark, and
    * prunes: history older than the watermark collapses to its newest
    * entry (still the prevailing candidate for any future fact, which
    * must have t > watermark); answered facts leave state. Groups with
    * pending facts but no new data are flushed by an event-time timeout
    * set to the earliest pending t — state never waits on traffic.
    * `t` is epoch SECONDS here (ts = timestamp_seconds(t)); output order
    * within a key follows (t, id). Rows MORE than `delay` behind the
    * watermark are dropped by Spark's standard late-data filter before
    * reaching the operator — that is the contract boundary, not a bug
    * (the processing-order variant absorbs beyond-delay stragglers
    * forward-only instead; pick per pipeline).
    */
  def asOfStreamStreamEventTime(facts: DataFrame, refs: DataFrame,
                                delay: String): Dataset[AsOfMatch] = {
    import facts.sparkSession.implicits._
    val l = facts.select(col("key"), col("t"), lit(true).as("isLeft"),
      col("id"), lit(Double.NaN).as("v"),
      timestamp_seconds(col("t")).as("ts"))
    val r = refs.select(col("key"), col("t"), lit(false).as("isLeft"),
      lit(0L).as("id"), col("v"), timestamp_seconds(col("t")).as("ts"))
    l.union(r).withWatermark("ts", delay).as[AsOfEventT]
      .groupByKey(_.key)
      .flatMapGroupsWithState[(List[(Long, Long)], List[(Long, Double)]),
          AsOfMatch](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[AsOfEventT],
         state: GroupState[(List[(Long, Long)], List[(Long, Double)])]) =>
          val evs = it.toSeq
          val (pend0, hist0) = state.getOption.getOrElse((Nil, Nil))
          val hist = (hist0 ++ evs.filter(!_.isLeft).map(e => (e.t, e.v)))
            .sortBy(_._1)
          val pend = (pend0 ++ evs.filter(_.isLeft).map(e => (e.t, e.id)))
            .sorted
          val wmSec = state.getCurrentWatermarkMs() / 1000L
          val (ready, stillPend) = pend.partition(_._1 <= wmSec)
          val out = ready.map { case (t, id) =>
            AsOfMatch(key, t, id,
              hist.takeWhile(_._1 <= t).lastOption.map(_._2))
          }
          if (stillPend.isEmpty && hist.isEmpty) state.remove()
          else {
            val (oldH, newH) = hist.partition(_._1 <= wmSec)
            state.update((stillPend, oldH.lastOption.toList ++ newH))
            // flush pending facts even if this key sees no more traffic:
            // wake when the watermark passes the earliest pending time
            // (strictly above the current watermark by construction)
            stillPend.headOption.foreach { case (t, _) =>
              state.setTimeoutTimestamp(t * 1000L)
            }
          }
          out.iterator
      }
  }

  final case class AlertEvent(ruleId: Long, ts: Long)

  /** T10's scheduler half: per-rule alert throttling — emit at most one
    * alert per `throttleSec` per rule, across micro-batches (reference
    * jobs/alerts.js:8-135 + phase3schema.sql:302 `throttle_sec`). State =
    * last fired event-time per rule, persisted in the checkpoint.
    */
  def throttleAlerts(fired: Dataset[AlertEvent], throttleSec: Long)
      : Dataset[AlertEvent] = {
    import fired.sparkSession.implicits._
    fired
      .groupByKey(_.ruleId)
      .flatMapGroupsWithState[Long, AlertEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[AlertEvent], state: GroupState[Long]) =>
          val sorted = it.toSeq.sortBy(_.ts)
          var last: Option[Long] = state.getOption
          val out = sorted.filter { e =>
            val ok = last.forall(l => e.ts - l >= throttleSec)
            if (ok) last = Some(e.ts)
            ok
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** T7: event-driven fast-track — a new-entity stream (pair_created
    * notifications; here, any landing stream of dim rows) triggers the
    * refresh side-jobs for exactly the new keys instead of waiting for
    * the next full rollup sweep (lib/pg_notify.js:28-73,
    * jobs/fasttrack-listener.js). With a transactional table format this
    * is Delta CDF; on plain parquet the same shape is a landing-dir
    * stream driving per-batch refreshes.
    */
  def fastTrackSink(newEntities: DataFrame, key: String, checkpoint: String)
                   (refresh: Seq[Long] => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    newEntities.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val keys = batch.select(key).distinct()
          .collect().map(_.getLong(0)).toSeq.sorted
        if (keys.nonEmpty) refresh(keys)
      }
      .start()

  final case class Tick(key: String, bucketTs: Long, ord: Long, price: Double)
  final case class Candle(key: String, bucket_ts: Long, open: Double,
                          high: Double, low: Double, close: Double)

  /** Streaming near-dup ingest — the corpus-ingest twin of
    * [[graft.operators.Dedup.minhashNearDup]]: the production shape of
    * "dedup the corpus as documents arrive" instead of re-running the
    * batch pass over everything. Each micro-batch of (doc_id, text) is
    * shingled and LSH-banded; a doc is ACCEPTED unless it exact-verifies
    * (true Jaccard ≥ theta on shingle sets) against an already-accepted
    * index doc sharing a band bucket, or against a lower-id doc of its
    * own batch. Accepted docs append their shingle sets and band keys to
    * `indexDir/{shingles,bands}` and their ids to `outDir`.
    *
    * Semantics: greedy online dedup, deterministic given doc_id order.
    * The within-batch "lower-id mate" rule can over-reject on similarity
    * chains (A~B, B~C, A≁C drops both B and C where one-at-a-time greedy
    * keeps C) — the standard trade for one distributed pass per batch.
    *
    * Scale shape: banding is map-side (codegen'd MinHash kernel); the
    * index probe is an equi-join on (band, bh) whose SMALL side is the
    * micro-batch, so the index is scanned map-side but never shuffled or
    * broadcast, and shingle sets are joined only for candidate ids —
    * per-batch verify cost scales with bucket collisions, not index
    * size. The per-batch O(index) scan is the remaining term: a
    * bh-bucketed index layout (the [[graft.sources.Sinks]] bucketed
    * write) upgrades it to pruned buckets. Small files accumulate one
    * `batch=<id>` dir per batch — compact a SEALED batch partition in
    * place ([[graft.sources.Sinks.compactSmallFiles]] on the
    * `…/batch=N` dir itself), NEVER the index root: a root compaction
    * flattens the partition layout into plain files, after which the
    * next batch's partitioned write makes every index read fail on
    * conflicting directory structures, and replayed batches no longer
    * replace their own rows.
    *
    * Write semantics: each batch overwrites its own `batch=<id>`
    * partition of the index and output dirs, so replays converge to
    * exactly-once output ON STREAM COMPLETION. The overwrite itself is
    * delete-then-write, not atomic: a crash mid-replay leaves that one
    * partition partial until the next retry completes (the checkpoint
    * guarantees it re-runs), and a reader overlapping a replay can
    * momentarily observe the replayed partition shrink. The index probe
    * still excludes a doc's own id — a retried batch's partial index
    * partition may already be on disk when the probe reads it, and
    * without the exclusion the doc would self-reject out of its own
    * retry.
    *
    * PRECONDITION: the checkpoint is part of the index's identity.
    * Batch ids come from the checkpoint, so a FRESH checkpoint pointed
    * at dirs a previous run populated restarts at batch 0 and would
    * silently overwrite that run's partitions with unrelated data — the
    * `_stream_id` marker written into each dir turns that mistake into
    * a loud failure. Reprocessing from scratch needs fresh dirs.
    */
  /** Loud guard for the per-batch-overwrite sinks' checkpoint
    * precondition: batch ids restart at 0 under a fresh checkpoint, so
    * pointing a NEW query at dirs an old run populated would silently
    * clobber the old run's `batch=<id>` partitions. Every streaming
    * query has a stable id in `checkpoint/metadata`; stamp it into an
    * underscore-prefixed marker (invisible to parquet readers) in each
    * output dir on first contact and require a match ever after. A
    * checkpoint-resumed query keeps its id, so legitimate restarts and
    * replays pass; a fresh checkpoint fails fast instead of losing data.
    *
    * FAIL-CLOSED on unmarked dirs that already hold ANY content other
    * than negative-batch seed partitions: non-negative `batch=N` dirs
    * can only come from a run whose marker was deleted or a pre-marker
    * run (restarted batch ids would clobber them), and plain files
    * would corrupt into a mixed-depth layout once `batch=` dirs land
    * beside them. SEED data (an initial batch build the stream grows
    * from) belongs at negative batch ids (`batch=-1`), which adopt
    * cleanly — a streaming batch id is never negative, so the two
    * cannot collide.
    *
    * Validation runs over ALL dirs before any marker is stamped, and a
    * failure mid-stamping rolls back this invocation's markers — an
    * aborted query never leaves dirs claimed by an id that wrote no
    * data. Stamping is create-exclusive, which is atomic on HDFS and
    * local filesystems; object stores implement create(!overwrite) as
    * check-then-write, so two queries STARTED at the same instant can
    * both pass there — on S3-like stores, serializing first starts
    * against the same dirs is operational discipline, and the guard
    * still catches every non-simultaneous misuse.
    */
  private def guardStreamIdentity(spark: SparkSession, checkpoint: String,
                                  dirs: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val metaPath = new org.apache.hadoop.fs.Path(s"$checkpoint/metadata")
    val mfs = metaPath.getFileSystem(conf)
    // metadata is written at query start, before any batch runs —
    // proceeding without it would write UNMARKED batch partitions that
    // the fail-closed check below then rejects forever after
    require(mfs.exists(metaPath),
      s"checkpoint metadata $metaPath missing — cannot establish the " +
        "stream identity the overwrite-partition sinks require")
    def readUtf8(fs: org.apache.hadoop.fs.FileSystem,
                 p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    val metaJson = readUtf8(mfs, metaPath)
    // the id must parse: a guard that silently disables itself on a
    // corrupt metadata file is no guard at all
    val id = "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(metaJson)
      .map(_.group(1)).getOrElse(sys.error(
        s"cannot parse stream id from $metaPath — refusing to write " +
          "without the fresh-checkpoint guard"))
    def requireSameStream(dir: String, prev: String): Unit = {
      // a BLANK marker is a torn stamp (a create that materialized but
      // never got its write) — name the repair instead of comparing
      // against the empty string
      require(prev.nonEmpty,
        s"$dir/_stream_id exists but is empty — a torn marker stamp. " +
          "Delete the empty marker and restart the query.")
      require(prev == id,
        s"$dir was written by stream $prev; this query ($id, checkpoint " +
          s"$checkpoint) would overwrite its batch partitions. Resume " +
          "with the original checkpoint, or write to fresh dirs.")
    }
    def markerOf(dir: String) = new org.apache.hadoop.fs.Path(s"$dir/_stream_id")
    def requireAdoptable(dir: String,
                         fs: org.apache.hadoop.fs.FileSystem): Unit = {
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      if (fs.exists(dirPath)) {
        val foreign = fs.listStatus(dirPath).iterator
          .map(_.getPath.getName)
          .filter(nm => !nm.startsWith("_") && !nm.startsWith("."))
          .filterNot(nm => nm.startsWith("batch=") && scala.util.Try(
            nm.stripPrefix("batch=").toLong).toOption.exists(_ < 0L))
          .take(3).toList
        require(foreign.isEmpty,
          s"$dir holds pre-existing content (${foreign.mkString(", ")}" +
            ") and no _stream_id marker — adopting it could overwrite " +
            "a pre-marker streaming run's partitions or mix batch= " +
            "dirs into a plain layout. Seed partitions belong at " +
            "negative batch ids; to adopt this dir intentionally, " +
            "write the marker by hand.")
      }
    }

    // phase 1 — validate EVERY dir with no side effects: a failure on
    // the k-th dir must not leave dirs 0..k-1 already claimed
    val toStamp = dirs.map { dir =>
      dir -> markerOf(dir).getFileSystem(conf)
    }.filter { case (dir, fs) =>
      if (fs.exists(markerOf(dir))) {
        requireSameStream(dir, readUtf8(fs, markerOf(dir)))
        false
      } else {
        requireAdoptable(dir, fs)
        true
      }
    }
    // phase 2 — stamp the unmarked dirs create-exclusively (a racing
    // query's marker surfacing between the phases means we lost: fall
    // back to the compare, which fails before any data write), rolling
    // back this invocation's markers on any failure
    val created = scala.collection.mutable.ListBuffer
      .empty[(org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path)]
    try {
      toStamp.foreach { case (dir, fs) =>
        // re-check right before the stamp: content landing between the
        // phases (phase 1 is several round trips on 3 dirs) must not be
        // silently adopted — the create-exclusive only races MARKERS
        requireAdoptable(dir, fs)
        val marker = markerOf(dir)
        val won =
          try {
            val out = fs.create(marker, false)
            created += ((fs, marker))
            try out.write(id.getBytes("UTF-8")) finally out.close()
            true
          } catch {
            // only an exists-conflict means "lost the race"; a create
            // failure for any other reason propagates (and anything
            // thrown after the create is rolled back below)
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
            case _: java.io.IOException
                if !created.exists(_._2 == marker) && fs.exists(marker) =>
              false
          }
        if (!won) requireSameStream(dir, readUtf8(fs, marker))
      }
    } catch {
      case e: Throwable =>
        // best-effort rollback, but never SILENT: a marker that could
        // not be removed stays claimed by an id that wrote nothing, so
        // name it on the rethrown error
        created.foreach { case (fs, p) =>
          try {
            if (!fs.delete(p, false) && fs.exists(p))
              e.addSuppressed(new java.io.IOException(
                s"rollback left marker $p in place — delete it by hand"))
          } catch {
            case io: java.io.IOException =>
              e.addSuppressed(new java.io.IOException(
                s"rollback failed for marker $p — delete it by hand", io))
          }
        }
        throw e
    }
  }

  /** Memoized per-run wrapper for [[guardStreamIdentity]]: the identity
    * is a fixed property of the query run, so check on the first batch
    * only instead of paying 4-6 small-object round trips (metadata +
    * marker per dir — real latency on object stores) every micro-batch.
    */
  private def guardOnce(spark: SparkSession, checkpoint: String,
                        dirs: Seq[String]): () => Unit = {
    @volatile var done = false
    () => if (!done) {
      guardStreamIdentity(spark, checkpoint, dirs)
      done = true
    }
  }

  def neardupIngest(docs: DataFrame, indexDir: String, outDir: String,
                    checkpoint: String, n: Int = 3, theta: Double = 0.8,
                    numHashes: Int = 128, bands: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    val spark = docs.sparkSession
    val shPath = s"$indexDir/shingles"
    val bandPath = s"$indexDir/bands"
    def readOr(path: String, schema: String): DataFrame =
      graft.Tables.readOrEmpty(spark, path, schema)
    val ensureGuarded = guardOnce(spark, checkpoint,
      Seq(shPath, bandPath, outDir))
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ensureGuarded()
        val sfNew = Dedup.shingleFrame(batch, n).persist()
        val bNew = Dedup.bandFrame(sfNew, numHashes, bands).persist()
        // probe 1: against the accepted index (bands → verify on shingles)
        val idxSh = readOr(shPath, "doc_id BIGINT, sh ARRAY<STRING>")
          .select(col("doc_id").as("acc_id"), col("sh").as("acc_sh"))
        val idxBands = readOr(bandPath, "doc_id BIGINT, band INT, bh BIGINT")
          .select(col("doc_id").as("acc_id"), col("band"), col("bh"))
        val idxHits = bNew
          .join(idxBands, Seq("band", "bh"))
          // self-exclusion: after a checkpoint retry of a batch that died
          // between the index write and the outDir write, the doc's own
          // index entry is already present — without this filter it
          // near-dups ITSELF, is silently dropped from the accepted
          // output forever, and index and output diverge. With it, the
          // retry re-accepts and rewrites its own batch partition (the
          // exactly-once overwrite above), never loses.
          .filter(col("doc_id") =!= col("acc_id"))
          .select(col("doc_id"), col("acc_id")).distinct()
          .join(sfNew, "doc_id")
          .join(idxSh, "acc_id")
          // same verify form as minhashNearDup: 0-size union divides to
          // NULL → no match (two empty shingle sets are not near-dups)
          .filter((size(array_intersect(col("sh"), col("acc_sh"))) /
            size(array_union(col("sh"), col("acc_sh")))) >= theta)
          .select(col("doc_id")).distinct()
        // probe 2: against lower-id batch-mates — candidates from the
        // SAME persisted shingle + band frames as probe 1 (re-running
        // minhashNearDup on the raw batch would repeat the whole
        // doc→shingle→minhash chain, the dominant per-batch cost), then
        // the identical exact-Jaccard verify; pairs keep doc_a < doc_b
        val mateHits = Dedup.candidatesFromBands(bNew)
          .join(sfNew.select(col("doc_id").as("doc_a"),
            col("sh").as("sa")), "doc_a")
          .join(sfNew.select(col("doc_id").as("doc_b"),
            col("sh").as("sb")), "doc_b")
          .filter((size(array_intersect(col("sa"), col("sb"))) /
            size(array_union(col("sa"), col("sb")))) >= theta)
          .select(col("doc_b").as("doc_id")).distinct()
        // Two-phase acceptance: the decision is materialized ONCE into a
        // staging snapshot whose plan reads only the PRE-batch index;
        // the three appends then all derive from that on-disk snapshot.
        // Appending directly from the lazy frame would let a later
        // action re-read the index it just appended to — a doc then
        // near-dups ITSELF and silently drops from its own batch.
        val staging = s"$indexDir/_staging"
        val acceptedSh = sfNew
          .join(idxHits, Seq("doc_id"), "left_anti")
          .join(mateHits, Seq("doc_id"), "left_anti")
        acceptedSh.write.mode("overwrite").parquet(staging)
        val acc = spark.read.parquet(staging)
        // per-batch OVERWRITE partitions (batch=<id> dirs), not appends:
        // a checkpoint retry rewrites its own partition, so the index and
        // output are exactly-once — no duplicate rows to dedup at serve
        // time, and the batchId keys the partition deterministically
        acc.write.mode("overwrite").parquet(s"$shPath/batch=$batchId")
        // band rows for the accepted docs come from the PERSISTED batch
        // band frame (it derives only from the batch, so no self-read
        // hazard) — re-running bandFrame over the staged shingles would
        // repeat the signature chain, the dominant per-batch cost
        bNew.join(acc.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .write.mode("overwrite").parquet(s"$bandPath/batch=$batchId")
        acc.select(col("doc_id"))
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        sfNew.unpersist()
        bNew.unpersist()
        val sp = new org.apache.hadoop.fs.Path(staging)
        sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(sp, true)
        ()
      }
      .start()
  }

  /** Streaming CDC-chunk dedup ingest — [[neardupIngest]]'s structure
    * over the content-defined-chunk signal (Dedup.cdcChunks): a doc is
    * rejected when it shares >= `minShared` distinct chunk fingerprints
    * with an already-accepted doc (cross-batch, via the accumulated
    * chunk index) or with a lower-id batch-mate (the same chain-greedy
    * order as the minhash ingest). Chunk fingerprints are shift-robust
    * (an insertion re-synchronizes within one chunk), so this catches
    * the prefix/suffix-edited near-copies that fixed-window signals
    * shift past.
    *
    * Same two-phase acceptance as [[neardupIngest]]: the decision
    * materializes ONCE into a staging snapshot whose plan reads only
    * the PRE-batch index, then every artifact derives from that on-disk
    * snapshot — writing from the lazy frame would let the second action
    * re-read the index partition the first just appended, and a doc
    * would near-dup ITSELF. Same self-exclusion filter for checkpoint
    * retries, same per-batch `batch=<id>` overwrite for exactly-once,
    * same `_stream_id` guard. Like the minhash ingest, the streaming
    * form carries no boilerplate cap — the batch-side cap
    * (Dedup.cdcNearDup.maxDocsPerChunk) is where corpus-scale
    * boilerplate is excluded before data reaches an ingest.
    */
  def cdcIngest(docs: DataFrame, indexDir: String, outDir: String,
                checkpoint: String, w: Int = 8, minShared: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    val spark = docs.sparkSession
    val chPath = s"$indexDir/chunks"
    val ensureGuarded = guardOnce(spark, checkpoint, Seq(chPath, outDir))
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ensureGuarded()
        val chNew = Dedup.cdcChunks(batch, w)
          .select(col("doc_id"), col("chunk_fp")).distinct().persist()
        val idx = graft.Tables.readOrEmpty(spark, chPath,
          "doc_id BIGINT, chunk_fp STRING")
        val idxHits = chNew
          .join(idx.select(col("doc_id").as("acc_id"), col("chunk_fp")),
            Seq("chunk_fp"))
          // self-exclusion: a checkpoint retry that died between the
          // index write and the outDir write finds its own chunks
          // already indexed — without this filter it rejects ITSELF
          .filter(col("doc_id") =!= col("acc_id"))
          .groupBy(col("doc_id"), col("acc_id"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= minShared)
          .select(col("doc_id")).distinct()
        val mateHits = chNew.as("a")
          .join(chNew.as("b"),
            col("a.chunk_fp") === col("b.chunk_fp") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"),
            col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= minShared)
          .select(col("doc_b").as("doc_id")).distinct()
        // the staged decision is the accepted DOC-ID set, not the chunk
        // rows: a chunk-less doc (empty text) has no chunk rows but must
        // still be accepted — deriving acceptance from chNew would
        // silently drop it from its own batch
        val staging = s"$indexDir/_staging"
        batch.select(col("doc_id")).distinct()
          .join(idxHits, Seq("doc_id"), "left_anti")
          .join(mateHits, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(staging)
        val acc = spark.read.parquet(staging)
        // chunk rows for accepted docs come from the PERSISTED batch
        // frame (derives only from the batch — no index self-read)
        chNew.join(acc, Seq("doc_id"), "left_semi")
          .write.mode("overwrite").parquet(s"$chPath/batch=$batchId")
        acc.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        chNew.unpersist()
        val sp = new org.apache.hadoop.fs.Path(staging)
        sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(sp, true)
        ()
      }
      .start()
  }

  /** Streaming ANN index maintenance — the serving-artifact twin of
    * [[neardupIngest]] for the embedding side: arriving vectors are
    * assigned to the TRAINED IVF cells and PQ-encoded against the TRAINED
    * codebook per micro-batch, appending to the cells/codes artifacts
    * that [[graft.operators.Similarity.ivfPqTopKFromCodes]] serves from.
    * Train rarely, encode continuously — the standard index-maintenance
    * split: a batch costs one broadcast of the (k × dim) centroid and
    * (m × 256) codebook frames plus a map-side assignment/encode pass,
    * and the served index grows without retraining or rebuild. The
    * writes read only train-time artifacts, so batches cannot interfere
    * with their own writes (unlike the dedup ingest, no staging needed),
    * and each batch overwrites its own `batch=<id>` partition so a
    * checkpoint retry is idempotent — replica (vec_id, sub) code rows
    * would otherwise bloat the artifacts (the serve path's dup-safe ADC
    * collapses replicas rather than double-counting them, but idempotent
    * writes keep the index from growing with every retry). Same
    * checkpoint precondition as [[neardupIngest]]: batch ids come from
    * the checkpoint, so the `_stream_id` marker fails fast if a fresh
    * checkpoint is pointed at populated cells/codes dirs (batch ids
    * would restart at 0 and clobber served partitions).
    */
  def annIndexMaintenance(vecs: DataFrame, centroidsPath: String,
                          codebookPath: String, cellsPath: String,
                          codesPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    val spark = vecs.sparkSession
    val ensureGuarded = guardOnce(spark, checkpoint,
      Seq(cellsPath, codesPath))
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ensureGuarded()
        val cent = spark.read.parquet(centroidsPath)
        val book = spark.read.parquet(codebookPath)
        Similarity.ivfCells(batch, cent)
          .write.mode("overwrite").parquet(s"$cellsPath/batch=$batchId")
        Similarity.pqEncode(batch, book)
          .write.mode("overwrite").parquet(s"$codesPath/batch=$batchId")
        ()
      }
      .start()
  }

  /** Streaming TWO-LEVEL cell maintenance — [[annIndexMaintenance]]'s
    * cells leg at the adaptive √n geometry. Flat per-batch assignment
    * ([[graft.operators.Similarity.ivfCells]]) scores every arriving
    * vector against all nlist cells: fine at fixed nlist ≈ 16, but the
    * adaptive rule grows nlist as √n, so a flat-assigning ingest pays
    * O(√n) dots PER EVENT — the same wall the n16 build hit at 1000×
    * (SCALING `r14_decades`). Here each batch picks its route FROM THE
    * PERSISTED GEOMETRY ([[graft.operators.Similarity.autoRouteCells]],
    * r15): flat below the measured nlist crossover — where the two-hop
    * route's coarse hop is pure overhead, 2× slower at nlist=45
    * (`r14_route_scaling`) — and two-hop through the
    * [[graft.operators.Similarity.twoLevelGeom]] artifacts above it:
    * ~n^(1/4) coarse dots, then only the kept coarse groups'
    * member cells — per-event cost a power below flat, with the same
    * (vec_id, cid) output the geometry-agnostic serve paths
    * ([[graft.operators.Similarity.ivfSq8TopKFromCodes]] /
    * `ivfPqTopKFromCodes`) consume unchanged. Assignment reads only
    * train-time artifacts (no staging needed) and each batch
    * overwrites its own `batch=<id>` partition, so checkpoint retries
    * are idempotent; same `_stream_id` fail-fast as the other
    * maintenance streams.
    */
  def twoLevelIndexMaintenance(vecs: DataFrame, centroidsPath: String,
                               l1Path: String, parentsPath: String,
                               cellsPath: String, checkpoint: String,
                               wAssign: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    val spark = vecs.sparkSession
    val ensureGuarded = guardOnce(spark, checkpoint, Seq(cellsPath))
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ensureGuarded()
        val cent = spark.read.parquet(centroidsPath)
        val l1 = spark.read.parquet(l1Path)
        val parents = spark.read.parquet(parentsPath)
        // route selection from the persisted geometry (r14 verdict #7):
        // RouteScaling measured the two-hop route 2x SLOWER at small
        // nlist (its coarse hop is pure overhead when one broadcast
        // scores every cell) and 16.7x faster at nlist=1415 — the
        // stream picks the winning side per batch from the nlist it is
        // already reading, so callers configure nothing as the index
        // crosses the crossover
        Similarity.autoRouteCells(batch, cent, l1, parents, wAssign)
          .write.mode("overwrite").parquet(s"$cellsPath/batch=$batchId")
        ()
      }
      .start()
  }

  /** Compact the ANN maintenance artifacts' accumulated batch=<id>
    * slices (row-disjoint rows — plain rewrite) into one partition
    * each. Stream stopped, trigger drained — [[Compaction]]'s contract.
    */
  def compactAnnArtifacts(spark: org.apache.spark.sql.SparkSession,
                          cellsPath: String, codesPath: String): Unit = {
    Compaction.rewrite(spark, cellsPath, "vec_id BIGINT, cid BIGINT")
    Compaction.rewrite(spark, codesPath,
      "vec_id BIGINT, sub INT, code BIGINT")
  }

  /** Compact a cells-only maintenance artifact (e.g. the two-level
    * stream's, which has no codes leg of its own).
    */
  def compactAnnCells(spark: org.apache.spark.sql.SparkSession,
                      cellsPath: String): Unit =
    Compaction.rewrite(spark, cellsPath, "vec_id BIGINT, cid BIGINT")

  /** Compact the SQ8 maintenance codes slices. */
  def compactSq8Codes(spark: org.apache.spark.sql.SparkSession,
                      codesPath: String): Unit =
    Compaction.rewrite(spark, codesPath, "vec_id BIGINT, codes BINARY")

  /** Streaming PACKED-PQ index maintenance — the packed-layout twin of
    * [[annIndexMaintenance]]'s codes leg: arriving vectors are
    * PQ-encoded against the TRAINED codebook and byte-packed
    * ([[graft.operators.Similarity.pqPackCodes]]) per micro-batch,
    * appending to the binary artifact
    * [[graft.operators.Similarity.pqTopKFromPackedCodes]] serves from.
    * Train rarely, encode continuously: a batch costs one broadcast of
    * the (m × kCodes) codebook plus a map-side encode + two
    * batch-bounded pack aggregations; the served byte index grows
    * without retraining. Packing is per-vector deterministic, so the
    * union of per-batch packs is EXACTLY the one-shot pack of the union
    * (StreamingSpec pins grown-slices ≡ from-scratch on the served
    * top-k). Writes read only the train-time codebook — no staging —
    * and each batch overwrites its own `batch=<id>` partition so
    * checkpoint retries are idempotent (a replica packed row would
    * collapse in the serve's shortlist only by luck of identical
    * scores; idempotent writes keep it out of the artifact entirely).
    * Same `_stream_id` fail-fast as the other maintenance streams.
    */
  def pqPackedIndexMaintenance(vecs: DataFrame, codebookPath: String,
                               packedPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    val spark = vecs.sparkSession
    val ensureGuarded = guardOnce(spark, checkpoint, Seq(packedPath))
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ensureGuarded()
        val book = spark.read.parquet(codebookPath)
        Similarity.pqPackCodes(Similarity.pqEncode(batch, book), book)
          .write.mode("overwrite").parquet(s"$packedPath/batch=$batchId")
        ()
      }
      .start()
  }

  /** Compact the packed-PQ maintenance slices (row-disjoint — plain
    * rewrite; the binary cells pass through untouched).
    */
  def compactPackedCodes(spark: org.apache.spark.sql.SparkSession,
                         packedPath: String): Unit =
    Compaction.rewrite(spark, packedPath, "vec_id BIGINT, pcodes BINARY")

  /** Compact the BM25 maintenance index: postings rows are disjoint
    * per slice (rewrite); dict and meta are ADDITIVE partials the serve
    * path sums, so compaction pre-folds them — serve output unchanged
    * (summing is associative), fewer rows to sum per query.
    *
    * Refuses a corrupted index: compaction collapses the batch ids, so
    * [[graft.operators.Retrieval.postingsDisjointnessViolations]] (which
    * counts distinct batches per doc_id) could never again SEE a
    * re-delivered doc — compacting one would mask the double-count
    * forever, not fix it. Detect first, fail loudly.
    */
  def compactPostingsIndex(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String): Unit = {
    import graft.operators.Retrieval
    val bad = Retrieval.postingsDisjointnessViolations(spark, indexDir)
      .limit(5).collect()
    require(bad.isEmpty,
      s"compactPostingsIndex: re-delivered doc_ids ${bad.mkString(",")} — " +
        "compacting would permanently mask the double-count; repair the " +
        "index (last-wins dedup by doc_id) before compacting")
    // NOT a plain rewrite: the serve-time term pushdown prunes row
    // groups via parquet min/max over word-run-sorted files
    // (Retrieval.writeIndexSlice's layout) — re-sort during the fold so
    // compaction keeps the index an index. The shuffle width derives
    // from the ACCUMULATED slice bytes (ceil(bytes/target), the
    // compactSmallFiles rule), not the session default — a bare
    // repartition(col) would emit up to spark.sql.shuffle.partitions
    // files for a tiny index, partially defeating the file-count
    // reduction the compactor exists for.
    val (pfs, ppath) = {
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/postings")
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    val postingsFiles =
      if (pfs.exists(ppath))
        math.max(1L, (pfs.getContentSummary(ppath).getLength
          + (128L << 20) - 1) / (128L << 20)).toInt
      else 1
    Compaction.swapFolded(spark, s"$indexDir/postings",
      "word STRING, doc_id BIGINT, tf BIGINT, dl BIGINT",
      _.repartition(postingsFiles, col("word"))
        .sortWithinPartitions("word", "doc_id"))
    Compaction.swapFolded(spark, s"$indexDir/dict",
      "word STRING, df BIGINT",
      _.groupBy(col("word")).agg(sum(col("df")).as("df")))
    // meta slices carry exactly (n_docs, l_tot) — writeIndexSlice drops
    // its transient max_dl after the build-time bound check
    Compaction.swapFolded(spark, s"$indexDir/meta",
      "n_docs BIGINT, l_tot BIGINT",
      _.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("l_tot")).as("l_tot")))
  }

  /** Streaming SQ8 index maintenance — [[annIndexMaintenance]]'s twin
    * for the scalar-quantized index: arriving vectors are byte-encoded
    * against the TRAINED per-dimension bounds
    * ([[graft.operators.Similarity.sq8Stats]], persisted once) per
    * micro-batch, appending binary code slices that
    * [[graft.operators.Similarity.sq8TopKFromCodes]] serves from. Bounds
    * are train-time constants like the IVF centroids/PQ codebook (a
    * vector outside the trained range clamps to the boundary byte — the
    * standard SQ drift trade; retrain bounds when drift matters). Each
    * batch costs one broadcast of the 1-row stats frame plus a map-side
    * codegen'd encode pass; batch=<id> overwrite keeps retries
    * idempotent, and the same `_stream_id` guard refuses a fresh
    * checkpoint over populated dirs.
    */
  def sq8IndexMaintenance(vecs: DataFrame, statsPath: String,
                          codesPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    val spark = vecs.sparkSession
    val ensureGuarded = guardOnce(spark, checkpoint, Seq(codesPath))
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ensureGuarded()
        val stats = spark.read.parquet(statsPath)
        Similarity.sq8Encode(batch, stats)
          .write.mode("overwrite").parquet(s"$codesPath/batch=$batchId")
        ()
      }
      .start()
  }

  /** Streaming text-index maintenance — the third of the index-
    * maintenance triple beside [[neardupIngest]] (dedup index) and
    * [[annIndexMaintenance]] (ANN artifacts): arriving documents extend
    * the BM25 inverted index that
    * [[graft.operators.Retrieval.bm25FromPostings]] serves from. Each
    * micro-batch writes its OWN postings/dict/meta partials under a
    * `batch=<id>` partition; the serve path sums dict/meta partials, so
    * the streamed index answers queries identically to a one-shot
    * [[graft.operators.Retrieval.buildPostings]] over the union of all
    * batches (StreamingSpec pins batch ≡ stream on the served top-k).
    * The writes derive only from the batch — no read of the index being
    * written, so no staging snapshot is needed (the annIndexMaintenance
    * shape, not the neardupIngest one) — and per-batch overwrite
    * partitions make checkpoint retries idempotent: a retried batch
    * rewrites its own partition instead of double-counting df/l_tot
    * partials. Same `_stream_id` precondition as the other two: a fresh
    * checkpoint pointed at populated index dirs fails fast.
    *
    * PRECONDITION — doc_ids disjoint across micro-batches (append-only
    * corpus). The batch ≡ stream serve-equivalence holds because each
    * doc's tf/dl/n_docs/l_tot contribution lives in exactly one
    * `batch=<id>` partition. A doc RE-DELIVERED in a later batch (an
    * update or a duplicate landing file — NOT a checkpoint retry, which
    * overwrites its own partition) is summed twice at serve time,
    * silently skewing scores. Document updates need a rebuild
    * ([[graft.operators.Retrieval.buildPostings]]) or an offline
    * compaction of the offending doc's partitions;
    * [[graft.operators.Retrieval.postingsDisjointnessViolations]] is
    * the on-demand detector (RetrievalSpec pins it both ways).
    */
  def postingsMaintenance(docs: DataFrame, indexDir: String,
                          checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Retrieval
    val spark = docs.sparkSession
    val postingsPath = s"$indexDir/postings"
    val dictPath = s"$indexDir/dict"
    val metaPath = s"$indexDir/meta"
    val ensureGuarded = guardOnce(spark, checkpoint,
      Seq(postingsPath, dictPath, metaPath))
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ensureGuarded()
        // one tokenize pass per batch; dict/meta derive from the written
        // postings partition (see Retrieval.writeIndexSlice)
        Retrieval.writeIndexSlice(batch,
          s"$postingsPath/batch=$batchId",
          s"$dictPath/batch=$batchId",
          s"$metaPath/batch=$batchId")
        ()
      }
      .start()
  }

  /** Continuously maintained DSIR selection model — the streaming twin
    * of the t29 weights (see [[graft.operators.Selection]]): each
    * micro-batch appends one ADDITIVE slice of per-bucket feature
    * counts (total + target occurrences); `Selection.serve` folds the
    * slices and scores any document frame against the accumulated
    * model, bit-identically to the batch weights over the same corpus
    * (integer counts are additive under any batch split). The sixth
    * streaming-maintenance path, completing the set: every signal a
    * corpus build maintains online — near-dup, ANN, postings, card,
    * CDC, selection — has the same exactly-once slice discipline.
    * Preconditions shared with [[cardMaintenance]]: `_stream_id` guard
    * (fresh checkpoint + populated dir fails fast) and append-only
    * doc_ids (a re-delivered doc double-counts its features).
    */
  def dsirMaintenance(docs: DataFrame, isTarget: Column,
                      hash: graft.operators.Selection.FeatureHash,
                      indexDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Selection
    val spark = docs.sparkSession
    val bucketsPath = s"$indexDir/buckets"
    val ensureGuarded = guardOnce(spark, checkpoint, Seq(bucketsPath))
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ensureGuarded()
        Selection.modelSlice(Selection.features(batch, isTarget, hash))
          .write.mode("overwrite")
          .parquet(s"$bucketsPath/batch=$batchId")
        ()
      }
      .start()
  }

  /** Continuously maintained BPE training vocabulary — the seventh
    * online-signal path: the tokenizer's entire training state is the
    * (word, freq) table, additive per micro-batch, so each batch
    * appends one word-count slice and `Tokenize.serveMerges` retrains
    * the merge table from the folded counts bit-identically to batch
    * training over the ingested corpus — without re-reading a single
    * document. Same slice discipline as [[cardMaintenance]]
    * (batch=<id> overwrite exactly-once, `_stream_id` fail-fast,
    * append-only doc_ids — a re-delivered doc double-counts its words).
    */
  def bpeVocabMaintenance(docs: DataFrame, indexDir: String,
                          checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val vocabPath = s"$indexDir/vocab"
    val ensureGuarded = guardOnce(spark, checkpoint, Seq(vocabPath))
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ensureGuarded()
        graft.operators.Tokenize.wordFreq(batch)
          .write.mode("overwrite")
          .parquet(s"$vocabPath/batch=$batchId")
        ()
      }
      .start()
  }

  /** Continuously maintained dataset card — the streaming twin of the
    * batch t24 report (see [[graft.operators.CorpusCard]] for the full
    * design): each micro-batch appends three ADDITIVE slices (group
    * counters with integer-unit quality sums, the bounded word-count
    * histogram that keeps the exact median computable, and per-group
    * fingerprint counts for corpus-wide duplicate exposure);
    * `CorpusCard.serve` folds them into output bit-identical to the
    * batch card. Every slice derives from its batch alone — no read of
    * prior state, so no staging step — and writes overwrite their own
    * `batch=<id>` partition, so a checkpoint retry is exactly-once.
    * Same `_stream_id` precondition as [[neardupIngest]]: a fresh
    * checkpoint pointed at populated artifact dirs fails fast (batch
    * ids would restart at 0 and clobber served partitions). Same
    * doc_id-append-only precondition as [[postingsMaintenance]]: a
    * RE-DELIVERED doc (an update, not a retry) double-counts; the
    * fingerprint slice makes that visible as dup-exposure drift.
    */
  def cardMaintenance(docs: DataFrame, indexDir: String,
                      checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.CorpusCard
    val spark = docs.sparkSession
    val countersPath = s"$indexDir/counters"
    val histPath = s"$indexDir/hist"
    val fpPath = s"$indexDir/fp"
    val ensureGuarded = guardOnce(spark, checkpoint,
      Seq(countersPath, histPath, fpPath))
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ensureGuarded()
        // one signal pass per batch feeds all three slices
        val base = CorpusCard.signals(batch).persist()
        CorpusCard.counterSlice(base).write.mode("overwrite")
          .parquet(s"$countersPath/batch=$batchId")
        CorpusCard.histSlice(base).write.mode("overwrite")
          .parquet(s"$histPath/batch=$batchId")
        CorpusCard.fpSlice(base).write.mode("overwrite")
          .parquet(s"$fpPath/batch=$batchId")
        base.unpersist()
        ()
      }
      .start()
  }

  /** Continuously maintained heavy-hitter summaries — the streaming twin
    * of a23's Misra–Gries sketch (plans/HeavyHittersAgg): each
    * micro-batch writes one per-group MG summary slice (`entries` —
    * (grp, item, cnt) lower-bound counters, ≤k rows per group per batch)
    * plus one per-group row-count slice (`totals`). Both are additive
    * under any batch split, and the pigeonhole argument makes the folded
    * union SOUND: an item with global count > Σnᵢ/(k+1) must exceed
    * nᵢ/(k+1) in at least one batch, so it survives that batch's sketch
    * and appears in the union — [[serveHeavyHitters]] never misses a
    * true heavy hitter no matter how ingest was batched. Slice growth is
    * ≤ k·|groups| rows per batch (corpus-size-independent);
    * [[compactHeavyHitterSlices]] folds history to one ≤k·|groups|-row
    * partition. Same discipline as [[cardMaintenance]]: batch=<id>
    * overwrite exactly-once, `_stream_id` fail-fast, append-only rows
    * (a re-delivered row double-counts).
    */
  def heavyHittersMaintenance(rows: DataFrame, groupCol: String,
                              itemCol: String, k: Int, indexDir: String,
                              checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = rows.sparkSession
    val entriesPath = s"$indexDir/entries"
    val totalsPath = s"$indexDir/totals"
    val ensureGuarded = guardOnce(spark, checkpoint,
      Seq(entriesPath, totalsPath))
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ensureGuarded()
        val summary = batch
          .groupBy(col(groupCol).as("grp"))
          .agg(graft.plans.HeavyHittersAgg
            .heavyHittersSummary(col(itemCol), k).as("hh"))
          .persist()
        summary
          .select(col("grp"), explode(col("hh.entries")).as("e"))
          .select(col("grp"), col("e.item").as("item"),
            col("e.cnt").as("cnt"))
          .write.mode("overwrite").parquet(s"$entriesPath/batch=$batchId")
        summary.select(col("grp"), col("hh.n").as("n"))
          .write.mode("overwrite").parquet(s"$totalsPath/batch=$batchId")
        summary.unpersist()
        ()
      }
      .start()
  }

  /** Fold the accumulated heavy-hitter slices: per-(grp, item) summed
    * lower-bound counts beside per-group totals. The candidate set
    * (⊇ every item with global count > n/(k+1), by the maintenance
    * pigeonhole) feeds an exact recount exactly like a23's batch stage 2
    * — candidates are ≤ k·batches per group, so the recount's semi-join
    * side stays broadcastable at any corpus size.
    */
  def serveHeavyHitters(spark: SparkSession, indexDir: String): DataFrame = {
    val e = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "grp STRING, item BIGINT, cnt BIGINT, batch BIGINT"))
      .parquet(s"$indexDir/entries")
      .groupBy(col("grp"), col("item")).agg(sum(col("cnt")).as("cnt_lb"))
    val t = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "grp STRING, n BIGINT, batch BIGINT"))
      .parquet(s"$indexDir/totals")
      .groupBy(col("grp")).agg(sum(col("n")).as("n"))
    e.join(t, Seq("grp"))
  }

  /** Compact both heavy-hitter slice dirs through the shared rename-aside
    * swap; the additive fold is the same per-key sum [[serveHeavyHitters]]
    * applies, so a serve before and after compaction reads identical
    * values.
    */
  def compactHeavyHitterSlices(spark: SparkSession, indexDir: String): Unit = {
    Compaction.swapFolded(spark, s"$indexDir/entries",
      "grp STRING, item BIGINT, cnt BIGINT",
      df => df.groupBy(col("grp"), col("item"))
        .agg(sum(col("cnt")).as("cnt")))
    Compaction.swapFolded(spark, s"$indexDir/totals",
      "grp STRING, n BIGINT",
      df => df.groupBy(col("grp")).agg(sum(col("n")).as("n")))
  }

  /** T5: candle continuity with explicit state — open of the first candle
    * of each batch continues from the PREVIOUS batch's last close, exactly
    * the reference's lastCloseByPool map, surviving restarts via the
    * checkpoint instead of process memory. Emits completed candles per
    * micro-batch; state = last close per series.
    */
  def candlesWithContinuity(ticks: Dataset[Tick])
      : Dataset[Candle] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_.key)
      .flatMapGroupsWithState[Double, Candle](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Tick], state: GroupState[Double]) =>
          val ticksSorted = it.toSeq.sortBy(t => (t.bucketTs, t.ord))
          var carry: Option[Double] = state.getOption
          val out = ticksSorted.groupBy(_.bucketTs).toSeq.sortBy(_._1)
            .map { case (bucket, ts) =>
              val prices = ts.map(_.price)
              val open = carry.getOrElse(ts.head.price)
              val close = ts.last.price
              carry = Some(close)
              Candle(key, bucket, open, prices.max, prices.min, close)
            }
          carry.foreach(state.update)
          out.iterator
      }
  }
}
