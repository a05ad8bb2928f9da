package graft

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.temporal.ChronoUnit

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.statistics.LongStatistics
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, lit, max, timestamp_micros}
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] receives `(spark, sfDir)` and reads
  * through these helpers so filter/column pushdown reaches the parquet scan
  * (Catalyst handles pruning; we never cache the raw frames globally because
  * the correctness runner executes each query once).
  *
  * Reading a base table starts no Spark job, and neither does what a
  * builder asks of it before planning — its schema, its row count (scale
  * gates) and the max of a timestamp column (time anchors): the answers
  * come from the parquet footers, read once per file version on the
  * driver and cached ([[meta]]), the way the reference's ClickHouse store answers counts and
  * column bounds from part metadata. A max falls back to one aggregate job
  * only when some row group carries no min/max statistics. Spark's own
  * parquet aggregate pushdown answers the same questions, but only on DSv2
  * scans; switching the engine to DSv2 would change every scan plan
  * PlanLintSpec pins.
  *
  * Timestamp columns are schema-adaptive: the driver has shipped `ts` /
  * `l_shipdate` / `o_orderdate` both as parquet TIMESTAMP(NANOS) (which
  * Spark 4 only reads as a raw LONG under the legacy conf) and as
  * TIMESTAMP(MICROS) without timezone (which reads as TIMESTAMP_NTZ). Both
  * normalize here to session-zone TimestampType (sessions pin UTC), so
  * every downstream query and oracle sees identical instants either way.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  private def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(meta(spark, path).schema).parquet(path)

  /** What one version of a table's files says about itself: the schema
    * Spark infers, the exact row count, and for each top-level INT64
    * TIMESTAMP column its raw max (None: no non-null value) with its unit.
    * A column is absent from `tsMax` when some row group lacks min/max
    * statistics for it.
    */
  private final case class Meta(schema: StructType, rows: Long,
                                tsMax: Map[String, (Option[Long], TimeUnit)])

  /** A table version: every leaf file's path, length and modification
    * time (a rewrite changes one of them), plus the session's parquet
    * reader settings, which change the inferred types.
    */
  private final case class Version(files: Seq[(String, Long, Long)],
                                   readerConf: Map[String, String])

  /** Bounded LRU (access order): one entry per table version and reader
    * setting. 256 holds every table of a dozen fixture dirs; the entry of
    * a rewritten file is never hit again and ages out.
    */
  private val metas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Version, Meta](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Version, Meta]): Boolean = size() > 256
    })

  /** The footer metadata of the table at `path`, loaded on a miss. A
    * missing or empty path reads through Spark's inference, which fails
    * with Spark's own error.
    */
  private def meta(spark: SparkSession, path: String): Meta = {
    val (files, flat) = leafFiles(spark, path)
    if (files.isEmpty) return Meta(spark.read.parquet(path).schema, 0L, Map())
    val readerConf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }
    val v = Version(files.map(f =>
      (f.getPath.toString, f.getLen, f.getModificationTime)), readerConf)
    Option(metas.get(v)).getOrElse {
      val m = loadMeta(spark, path, files, flat)
      metas.put(v, m)
      m
    }
  }

  /** The data files Spark reads under `path` — the path itself, or every
    * file below it outside `_`/`.`-prefixed names (markers, checksums) —
    * and whether they all sit directly in it (no partition directories).
    */
  private def leafFiles(spark: SparkSession,
                        path: String): (Seq[FileStatus], Boolean) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (Nil, true)
    val st = fs.getFileStatus(p)
    if (st.isFile) return (Seq(st), true)
    val it = fs.listFiles(st.getPath, true)
    val rel = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => f -> f.getPath.toUri.getPath
        .stripPrefix(st.getPath.toUri.getPath).stripPrefix("/").split('/'))
      .filterNot(_._2.exists(n => n.startsWith("_") || n.startsWith(".")))
      .toSeq.sortBy(_._1.getPath.toString)
    (rel.map(_._1), rel.forall(_._2.length == 1))
  }

  private def loadMeta(spark: SparkSession, path: String,
                       files: Seq[FileStatus], flat: Boolean): Meta = {
    val hc = spark.sparkContext.hadoopConfiguration
    val footers = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hc))
      try new Footer(f.getPath, r.getFooter) finally r.close()
    }
    val rows = footers.iterator
      .flatMap(_.getParquetMetadata.getBlocks.asScala).map(_.getRowCount).sum
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val schemas =
      footers.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
    // The footers describe the table only when they agree and no
    // subdirectory (a partition column) adds to the schema; otherwise
    // Spark infers the schema and every max takes the job.
    if (schemas.distinct.size != 1 || !flat)
      return Meta(spark.read.parquet(path).schema, rows, Map())
    val tsCols = footers.head.getParquetMetadata.getFileMetaData.getSchema
      .getFields.asScala.toSeq.filter(f => f.isPrimitive &&
        f.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64)
      .flatMap(f => f.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => Some(f.getName -> t.getUnit)
        case _ => None
      })
    val blocks = footers.flatMap(_.getParquetMetadata.getBlocks.asScala)
      .filter(_.getRowCount > 0)
    val tsMax = tsCols.flatMap { case (c, unit) =>
      // per row group: Some(Some(max)), Some(None) when every value is
      // null, None when the statistics cannot tell
      val perGroup = blocks.map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == c)
          .map(_.getStatistics).flatMap {
            case s: LongStatistics if s.hasNonNullValue => Some(Some(s.getMax))
            case s if s != null && s.isNumNullsSet &&
                s.getNumNulls == b.getRowCount => Some(None)
            case _ => None
          }
      }
      if (perGroup.forall(_.isDefined))
        Some(c -> (perGroup.flatten.flatten.maxOption, unit))
      else None
    }.toMap
    Meta(schemas.head, rows, tsMax)
  }

  /** Exact row count of a base table, from its parquet footers. */
  def rowCount(s: SparkSession, d: String, name: String): Long =
    meta(s, s"$d/$name.parquet").rows

  /** `max(c)` of a base table's timestamp column `c`, as the instant the
    * normalized column holds (see [[normTs]]); None when the column has no
    * non-null value, which is what SQL's `max` gives an empty table. From
    * the footer statistics; one aggregate job when some row group lacks
    * them.
    */
  def maxTs(s: SparkSession, d: String, name: String,
            c: String): Option[Instant] = {
    s.conf.set(nanosAsLong, "true")
    val path = s"$d/$name.parquet"
    val m = meta(s, path)
    m.tsMax.get(c) match {
      case Some((raw, unit)) =>
        val zone =
          DateTimeUtils.getZoneId(s.sessionState.conf.sessionLocalTimeZone)
        raw.map(storedInstant(m.schema(c).dataType, unit, _, zone))
      case None =>
        Option(normTs(read(s, path), c).agg(max(col(c))).head()
          .getTimestamp(0)).map(_.toInstant)
    }
  }

  /** Normalize one timestamp-bearing column to TimestampType, whatever
    * physical type the parquet delivered:
    *   - LongType      → raw nanos (legacy conf path): floor to micros, the
    *                     same truncation DuckDB applies to TIMESTAMP_NS.
    *   - TIMESTAMP_NTZ → wall-clock micros: reinterpret in the session zone
    *                     (UTC) — a cast, same instant, no arithmetic.
    *   - TimestampType → already there.
    * [[storedInstant]] is the same conversion for one stored value, and
    * [[graft.streaming.Streams.eventsStream]] applies it to the stream.
    *
    * Pushdown caveat: on the NTZ variant, Catalyst's
    * UnwrapCastInBinaryComparison keeps literal comparisons against the
    * cast column pushable (PlanLintSpec pins b2/b3/b5/p2). On the
    * raw-nanos variant the `timestamp_micros(div)` projection is
    * arithmetic, not a cast — timestamp-literal filters written above it
    * stop reaching the scan. events has the eventsFrom stored-column
    * cutoff for exactly that case; if the driver ever ships
    * orders/lineitem as NANOS again, their date filters need the same
    * treatment (the lint will flag it).
    */
  private[graft] def normTs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case LongType =>
        df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case TimestampNTZType =>
        df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }

  /** The instant [[normTs]] makes of one stored INT64 timestamp `raw`,
    * given the column's read type `t` and parquet `unit`: nanos truncate
    * to micros as `div 1000` does (Java's `/`), and NTZ wall-clock micros
    * are placed in the session zone as the cast places them. Both maps are
    * monotone, so the converted max is the max of the converted column.
    */
  private def storedInstant(t: DataType, unit: TimeUnit, raw: Long,
                            zone: java.time.ZoneId): Instant = {
    val micros = unit match {
      case TimeUnit.NANOS => raw / 1000L
      case TimeUnit.MICROS => raw
      case TimeUnit.MILLIS => Math.multiplyExact(raw, 1000L)
    }
    val utc = Instant.EPOCH.plus(micros, ChronoUnit.MICROS)
    if (t == TimestampNTZType)
      LocalDateTime.ofInstant(utc, ZoneOffset.UTC).atZone(zone).toInstant
    else utc
  }

  /** A base table with its timestamp column `c` normalized. The legacy
    * conf is set unconditionally so the nanos variant of the fixture stays
    * readable; it is a no-op for the micros variant. Idempotent conf write,
    * not a behavior toggle mid-query (flagged in the round-1 review; this
    * is the narrowest form that keeps driver-owned sessions working, which
    * matters because the driver smoke-checks `entry` with a session it
    * builds itself).
    */
  private def withTs(s: SparkSession, d: String, name: String,
                     c: String): DataFrame = {
    s.conf.set(nanosAsLong, "true")
    normTs(apply(s, d, name), c)
  }

  /** Read a parquet artifact dir that may not exist yet, with an
    * EXPLICIT schema, never inference: a dir holding only a _stream_id
    * marker, a _staging leftover, or a crash-partial batch dir has zero
    * readable data files, and inference would throw on every retry —
    * with the schema given, those all read as the empty frame they are.
    * Shared by the streaming maintenance paths (neardupIngest,
    * cdcIngest, CorpusCard.serve) so a read-path fix lands once.
    */
  def readOrEmpty(spark: SparkSession, path: String, schemaDdl: String)
      : DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame =
    withTs(s, d, "orders", "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    withTs(s, d, "lineitem", "l_shipdate")

  /** `events.ts` normalized to TimestampType (see [[normTs]]). */
  def events(s: SparkSession, d: String): DataFrame =
    withTs(s, d, "events", "ts")

  /** events with `ts >= cut` applied on the STORED column, BEFORE any
    * normalization projection. A filter on the converted `ts` sits above a
    * derived projection and can never reach the parquet scan; filtering
    * the stored representation pushes down (PushedFilters shows the
    * cutoff) and prunes row groups — the difference between scanning a
    * day and scanning 100 TB.
    *
    *   - raw-nanos LONG: cutoffs carry micro precision, so
    *     floor_micros(nanos) ≥ cutMicros ⟺ nanos ≥ cutMicros·1000.
    *   - TIMESTAMP_NTZ: compare against the cut instant's UTC wall-clock
    *     as an NTZ literal — parquet pushes timestamp predicates natively.
    */
  private def eventsFrom(s: SparkSession, d: String,
                         cut: Instant): DataFrame = {
    s.conf.set(nanosAsLong, "true")
    val raw = apply(s, d, "events")
    val pred: Column = raw.schema("ts").dataType match {
      case LongType =>
        val cutNanos = Math.addExact(
          Math.multiplyExact(cut.getEpochSecond, 1000000000L),
          cut.getNano.toLong)
        col("ts") >= cutNanos
      case TimestampNTZType =>
        col("ts") >= lit(LocalDateTime.ofInstant(cut, ZoneOffset.UTC))
      case _ =>
        col("ts") >= lit(java.sql.Timestamp.from(cut))
    }
    normTs(raw.filter(pred), "ts")
  }

  /** events with `ts` within `sec` seconds of the table's latest `ts`
    * (`ts >= max(ts) - sec`), anchored by [[maxTs]] and cut at the scan by
    * [[eventsFrom]]. A table with no `ts` has no anchor, and the frame is
    * empty with its schema intact, as SQL's `ts >= NULL` keeps no row.
    */
  def eventsWithin(s: SparkSession, d: String, sec: Long): DataFrame =
    maxTs(s, d, "events", "ts") match {
      case Some(m) => eventsFrom(s, d, m.minusSeconds(sec))
      case None => events(s, d).filter(lit(false))
    }
  /** Synthesized `partsupp` — the driver fixture set has none, so Q2/Q9/
    * Q11/Q16/Q20 (b18-b22) derive it deterministically from part ×
    * supplier-count with pure integer arithmetic (FIXTURES.md §A). The
    * dbgen supplier-assignment step (tpch dbgen `PS_SUPPKEY`) is adapted
    * to the fixture's ZERO-based supplier keys (s_suppkey ∈ 0..S-1), and
    * all operands stay nonnegative BIGINTs so `%`/`div` agree bit-for-bit
    * across engines; every b18-b22 oracle inlines the identical derivation
    * as a SQL CTE (same rows, no fixture file written):
    *
    *   for pk in p_partkey, i in 0..3:
    *     ps_suppkey    = (pk + i*(S div 4 + pk div S)) % S
    *     ps_availqty   = (pk*37 + i*101) % 9999 + 1
    *     ps_supplycost = ((pk*53 + i*7) % 99901 + 100) / 100.0   -- 1.00..1000.00
    *
    * The one double is a single IEEE division of an exact integer —
    * bit-identical in Spark and DuckDB. Scale: the derivation is a
    * narrow projection over `part` with a broadcast 1-row supplier count
    * and a 4-way explode — no shuffle, linear in |part|, and Catalyst
    * prunes it like any scan-backed frame.
    */
  def partsupp(s: SparkSession, d: String): DataFrame = {
    val sCnt = supplier(s, d)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("s_cnt"))
    part(s, d).select(col("p_partkey"))
      .crossJoin(org.apache.spark.sql.functions.broadcast(sCnt))
      .select(col("p_partkey"), col("s_cnt"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.sequence(
            org.apache.spark.sql.functions.lit(0L),
            org.apache.spark.sql.functions.lit(3L))).as("i"))
      .select(
        col("p_partkey").as("ps_partkey"),
        ((col("p_partkey") + col("i") *
          (expr("s_cnt div 4") + expr("p_partkey div s_cnt"))) % col("s_cnt"))
          .as("ps_suppkey"),
        ((col("p_partkey") * 37L + col("i") * 101L) % 9999L + 1L)
          .as("ps_availqty"),
        (((col("p_partkey") * 53L + col("i") * 7L) % 99901L + 100L)
          .cast("double") / 100.0d).as("ps_supplycost"))
  }

  /** The b18-b22 oracles' partsupp CTE — the DuckDB-side twin of
    * [[partsupp]], kept in one place so the derivation can't drift
    * between the five anchors. `//` is DuckDB integer division; all
    * operands are nonnegative BIGINTs (count(*) promotes the INTEGER i).
    */
  val partsuppCte: String =
    """sc AS (SELECT count(*) AS s_cnt FROM supplier),
      |partsupp AS (
      |  SELECT p_partkey AS ps_partkey,
      |    (p_partkey + i * (s_cnt // 4 + p_partkey // s_cnt)) % s_cnt
      |      AS ps_suppkey,
      |    (p_partkey*37 + i*101) % 9999 + 1 AS ps_availqty,
      |    CAST((p_partkey*53 + i*7) % 99901 + 100 AS DOUBLE) / 100.0
      |      AS ps_supplycost
      |  FROM part, sc, (VALUES (CAST(0 AS BIGINT)), (1), (2), (3)) t(i))"""
      .stripMargin

  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
