package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.concurrent.TrieMap
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tune}
import graft.streaming.Streams

/** Engine side of the benchmark: sets up a session, runs one workload
  * against the engine's public entry points and writes raw records
  * (`records.jsonl`), the first result of every query (`results/<name>`)
  * and the oracle SQL of those queries (`oracle.json`) under `out=`.
  * `perfbench/run.py` prepares the inputs, checks the outputs and turns
  * the records into metrics.
  *
  * Arguments are `key=value` pairs: kind (serve | batch | ingest), fixture,
  * warm (a tiny fixture, or for ingest a tiny landing directory), out,
  * cores, seconds, seed, trace (0 | 1), launched (epoch ms at which the
  * JVM was started), and per kind: schedule + slots + queries (serve),
  * queries (batch, `name:group,...`), landing + go + done (ingest).
  * kind=train takes out, cores, warm, warm_land and queries, and only loads
  * classes for the class-data-sharing archive.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }
      .toMap
    val kind = a("kind")
    val out = a("out")
    val cores = a("cores").toInt
    val traced = a.get("trace").contains("1")
    val rec = new Records
    System.setProperty("graft.canon.sort", "false")

    if (kind == "train") return train(a, out, cores)
    val spark = session(kind, out, cores)
    warmUp(spark, kind, a)
    rec.add("rec" -> "setup",
      "s" -> (Clock.nowMs - a("launched").toDouble) / 1e3)
    if (traced) {
      spark.sparkContext.addSparkListener(new SpanListener(rec))
      spark.streams.addListener(new ProgressListener(rec))
    }

    val cpu0 = cpuMs
    val jit0 = jitMs
    kind match {
      case "serve" => serve(spark, a, rec, traced)
      case "batch" => batch(spark, a, rec, traced)
      case "ingest" => ingest(spark, a, rec, traced)
    }
    rec.add("rec" -> "cpu", "ms" -> (cpuMs - cpu0), "jit_ms" -> (jitMs - jit0))
    if (kind != "ingest") saveResults(spark, out)
    // let the listener bus deliver the last task and job events
    if (traced) Thread.sleep(300)

    if (traced) kernels(spark, a, rec)
    rec.add("rec" -> "memory", "peak_rss_mb" -> peakRssMb)
    rec.write(s"$out/records.jsonl")
    spark.stop()
  }

  private def session(kind: String, out: String, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
    if (kind == "ingest")
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def queryList(a: Map[String, String]): Seq[(String, String)] =
    a.get("queries").toSeq.flatMap(_.split(",")).map { s =>
      val Array(n, g) = s.split(":"); n -> g
    }

  /** JIT and codegen warm-up: every query of the workload once over the
    * tiny fixture, `cores` at a time; for ingest the whole chain once over
    * a tiny landing dir. */
  private def warmUp(spark: SparkSession, kind: String,
                     a: Map[String, String]): Unit = kind match {
    case "ingest" =>
      val dir = Files.createTempDirectory(Paths.get(a("out")), "warm").toString
      candleQuery(spark, a("warm"), s"$dir/ck", s"$dir/sink",
        Trigger.AvailableNow()).awaitTermination()
    case _ =>
      Tune.applyShuffleWidth(spark, a("fixture"))
      warmQueries(spark, a("warm"), queryList(a).map(_._1), a("cores").toInt)
  }

  private def warmQueries(spark: SparkSession, dir: String,
                          names: Seq[String], threads: Int): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    val runs = names.map(n => pool.submit(new Runnable {
      def run(): Unit = SparkEntry.queries(n)(spark, dir).collect()
    }))
    pool.shutdown()
    runs.foreach(_.get())
  }

  /** Training run for the class-data-sharing archive: loads the classes
    * every workload uses, over the tiny inputs, then exits. */
  private def train(a: Map[String, String], out: String, cores: Int): Unit = {
    val spark = session("ingest", out, cores)
    warmQueries(spark, a("warm"), queryList(a).map(_._1), cores)
    candleQuery(spark, a("warm_land"), s"$out/ck", s"$out/sink",
      Trigger.AvailableNow()).awaitTermination()
    spark.stop()
  }

  /** One operation: build the DataFrame, then plan, execute and collect
    * it, inside a job group named after the op so the listener can key
    * its jobs. Returns (build end, end, rows, schema, phases). */
  private def runOp(spark: SparkSession, op: String, name: String,
                    dir: String)
      : (Double, Double, Array[Row], StructType, Seq[(String, Double, Double)]) = {
    val sc = spark.sparkContext
    sc.setJobGroup(op, name, interruptOnCancel = false)
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      val built = Clock.nowMs
      val rows = df.collect()
      val end = Clock.nowMs
      val phases = df.queryExecution.tracker.phases.toSeq.map {
        case (k, p) => (k, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
      (built, end, rows, df.schema, phases)
    } finally sc.clearJobGroup()
  }

  private def rowsHash(rows: Array[Row]): String =
    Integer.toHexString(scala.util.hashing.MurmurHash3.orderedHash(
      rows.iterator.map(_.toString).toSeq.sorted))

  private val firstResult = TrieMap.empty[String, (Array[Row], StructType)]

  private def opRecord(rec: Records, traced: Boolean, op: String,
                       name: String, group: String, due: Double,
                       start: Double, r: Either[Throwable,
                         (Double, Double, Array[Row], StructType,
                          Seq[(String, Double, Double)])],
                       extra: (String, Any)*): Unit = r match {
    case Right((built, end, rows, schema, phases)) =>
      firstResult.putIfAbsent(name, (rows, schema))
      rec.add((Seq[(String, Any)]("rec" -> "op", "op" -> op, "name" -> name,
        "group" -> group, "due" -> due, "start" -> start, "built" -> built,
        "end" -> end, "rows" -> rows.length, "hash" -> rowsHash(rows)) ++
        extra): _*)
      if (traced) {
        rec.span(op, "op", op, "", due, end)
        if (start > due) rec.span(op, "queue", s"$op-queue", op, due, start)
        rec.span(op, "build", s"$op-build", op, start, built)
        rec.span(op, "execute", s"$op-execute", op, built, end)
        phases.foreach { case (k, s, e) =>
          rec.span(op, k, s"$op-$k", if (s < built) s"$op-build"
                                      else s"$op-execute", s, e)
        }
      }
    case Left(e) =>
      rec.add((Seq[(String, Any)]("rec" -> "op", "op" -> op, "name" -> name,
        "group" -> group, "due" -> due, "start" -> start,
        "end" -> Clock.nowMs, "error" -> e.toString) ++ extra): _*)
  }

  /** (due offset ms, query, warm-up request?) per line of the schedule. */
  private def scheduled(a: Map[String, String])
      : Seq[(Double, String, Boolean)] =
    Files.readAllLines(Paths.get(a("schedule"))).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(t, n, w) = l.split("\t"); (t.toDouble, n, w == "1")
      }

  /** Open loop: each request is due at its scheduled offset and is sent
    * then, whatever the state of earlier ones; at most `slots` run at
    * once and the rest queue. Latency counts from the due time. */
  private def serve(spark: SparkSession, a: Map[String, String],
                    rec: Records, traced: Boolean): Unit = {
    val sched = scheduled(a)
    val pool = Executors.newFixedThreadPool(a("slots").toInt)
    val t0 = Clock.nowMs + 100
    sched.zipWithIndex.foreach { case ((off, name, warm), i) =>
      val due = t0 + off
      val wait = due - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val sent = Clock.nowMs
      pool.submit(new Runnable {
        def run(): Unit = {
          val start = Clock.nowMs
          val r = try Right(runOp(spark, s"r$i", name, a("fixture")))
                  catch { case e: Throwable => Left(e) }
          opRecord(rec, traced, s"r$i", name, "serve", due, start, r,
            "late" -> (sent - due), "warm" -> warm)
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)
  }

  /** Closed loop: one pass over the query list in order, one query at a
    * time — the unit of work a batch user waits for. */
  private def batch(spark: SparkSession, a: Map[String, String],
                    rec: Records, traced: Boolean): Unit = {
    queryList(a).zipWithIndex.foreach { case ((name, group), i) =>
      val op = s"q$i"
      val start = Clock.nowMs
      val r = try Right(runOp(spark, op, name, a("fixture")))
              catch { case e: Throwable => Left(e) }
      opRecord(rec, traced, op, name, group, start, start, r)
    }
  }

  /** Every query's first result, written for the oracle comparison. */
  private def saveResults(spark: SparkSession, out: String): Unit = {
    firstResult.toSeq.par.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/results/$name")
    }
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$out/oracle.json"),
      Json.value(firstResult.keys.toSeq.sorted.flatMap(n =>
        sql.get(n).map(n -> _)).toMap))
  }

  /** The trade-ingest chain: file source → watermarked key dedup →
    * 60-second candles, emitted in update mode to a parquet sink that
    * tags every row with its micro-batch id. */
  private def candleQuery(spark: SparkSession, landing: String, ck: String,
                          sink: String, trigger: Trigger,
                          rec: Option[Records] = None): StreamingQuery = {
    val events = Streams.eventsStream(spark, landing)
    val deduped = Streams.dedupeKeysWatermarked(events, "ts", "10 minutes",
      Seq("event_id"))
    Streams.windowedCandles(deduped, Seq("user_id"), 60L)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ck)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val s = Clock.nowMs
        df.withColumn("batch_id", lit(id)).write.mode("append").parquet(sink)
        rec.foreach(_.span(s"batch-$id", "sink", s"sink-$id", "", s,
          Clock.nowMs))
      }
      .start()
  }

  /** Drain the pre-landed backlog, then signal the generator and follow
    * its scheduled landings until it reports done. */
  private def ingest(spark: SparkSession, a: Map[String, String],
                     rec: Records, traced: Boolean): Unit = {
    val out = a("out")
    val start = Clock.nowMs
    val q = candleQuery(spark, a("landing"), s"$out/ck", s"$out/sink",
      Trigger.ProcessingTime(0L), if (traced) Some(rec) else None)
    q.processAllAvailable()
    val drained = Clock.nowMs
    rec.add("rec" -> "drain", "start" -> start, "end" -> drained)
    val go = Paths.get(a("go"))
    Files.writeString(Paths.get(a("go") + ".tmp"),
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(drained + 100)))
    Files.move(Paths.get(a("go") + ".tmp"), go,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val deadline = drained + a("seconds").toDouble * 1e3 + 60e3
    while (!Files.exists(Paths.get(a("done"))) && Clock.nowMs < deadline)
      Thread.sleep(20)
    q.processAllAvailable()
    q.stop()
    rec.add("rec" -> "ingest_end", "end" -> Clock.nowMs,
      "generator_done" -> Files.exists(Paths.get(a("done"))))
  }

  private def kernels(spark: SparkSession, a: Map[String, String],
                      rec: Records): Unit = {
    val d = a("fixture")
    val texts = spark.read.parquet(s"$d/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val vecs = spark.read.parquet(s"$d/embeddings.parquet")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    Kernels.rates(texts, vecs, a("seed").toLong).foreach { case (k, r) =>
      rec.add("rec" -> "kernel", "name" -> k, "rows_per_s" -> r)
    }
  }

  /** CPU time of the whole engine process (all threads), ms. */
  private def cpuMs: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e6

  /** Time the JVM's JIT compiler threads have spent compiling, ms. */
  private def jitMs: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime.toDouble

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
