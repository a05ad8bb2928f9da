package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables, Tune}
import graft.operators.Dedup

/** Interleaved A/B and per-query profile harness.
  *
  *   tools/run_tool.sh graft.tools.Ab <sfDir> <passes> [spec...]
  *
  * A spec is `query[~variant][@key=value,...]`: a declared
  * `SparkEntry.queries` name, optionally replaced by a shape registered
  * in [[variants]] under `query~variant`, with Spark conf keys set for
  * that spec's runs only (the session's values are restored after each
  * run). With no specs every declared query is profiled.
  *
  * Steps, each over every spec:
  *   1. one warm-up run at sf0.001 (JIT, class loading);
  *   2. a gate: every spec with a variant or an overlay is collected at
  *      sf0.01 and its sorted rows must equal the declared query's —
  *      any difference fails the run before anything is timed;
  *   3. `passes` timed noop-sink runs, interleaved, the spec order
  *      reversed on alternate passes (this host's neighbour contention
  *      makes cross-session numbers incomparable);
  *   4. one JSON line per spec: min and median wall seconds, plus the
  *      jobs, stages, tasks, summed and max task seconds a listener
  *      counted on the fastest pass. busy = task_sec / (min · cores):
  *      near 1 the cores were busy, near 0 the wall went to dispatch,
  *      driver work or serialized single-task stages. build_sec and
  *      build_jobs are the part of that pass spent building the
  *      DataFrame, before its noop write: an eager job a builder runs
  *      shows there.
  */
object Ab {
  type Build = (SparkSession, String) => DataFrame

  private final case class Spec(text: String, query: String,
                                variant: Option[String],
                                conf: Seq[(String, String)])

  private def parse(text: String): Spec = {
    val (head, conf) = text.split("@", 2) match {
      case Array(h) => (h, Seq.empty[(String, String)])
      case Array(h, kvs) => (h, kvs.split(",").toSeq.map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"spec '$text': '$kv' is not key=value")
        (kv.take(i), kv.drop(i + 1))
      })
    }
    head.split("~", 2) match {
      case Array(q) => Spec(text, q, None, conf)
      case Array(q, v) => Spec(text, q, Some(v), conf)
    }
  }

  /** The registered alternative shapes. d17's multi-doc gram prefilter:
    * a gram occurring in one document can never pair (the self-join
    * demands a.doc_id < b.doc_id), so a min/max(doc_id) window over the
    * gram keeps only multi-doc gram rows before the join; `winck` also
    * checkpoints the filtered frame, which both join sides read.
    */
  val variants: Map[String, Build] = {
    def multiDocGrams(s: SparkSession, d: String): DataFrame = {
      val w = Window.partitionBy(col("gh"))
      Dedup.positionalGrams(Tables.documents(s, d), k = 5)
        .withColumn("_dmin", min(col("doc_id")).over(w))
        .withColumn("_dmax", max(col("doc_id")).over(w))
        .filter(col("_dmin") =!= col("_dmax"))
        .drop("_dmin", "_dmax")
    }
    Map(
      "d17_substring_runs~win" -> { (s, d) =>
        Dedup.runsFromGrams(multiDocGrams(s, d), k = 5, minRun = 10) },
      "d17_substring_runs~winck" -> { (s, d) =>
        Dedup.runsFromGrams(multiDocGrams(s, d).localCheckpoint(),
          k = 5, minRun = 10) })
  }

  private final case class Counts(jobs: Int = 0, stages: Int = 0,
                                  tasks: Int = 0, taskMs: Long = 0L,
                                  maxTaskMs: Long = 0L) {
    def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, taskMs + o.taskMs, math.max(maxTaskMs, o.maxTaskMs))
  }

  /** One timed run: wall and build seconds, the build's jobs, and the
    * counts of build and write together. */
  private final case class Timing(sec: Double, buildSec: Double,
                                  buildJobs: Int, counts: Counts)

  private class Counter extends SparkListener {
    private var c = Counts()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized { c = c.copy(jobs = c.jobs + 1) }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized { c = c.copy(stages = c.stages + 1) }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val ms = t.taskInfo.duration
      c = c.copy(tasks = c.tasks + 1, taskMs = c.taskMs + ms,
        maxTaskMs = math.max(c.maxTaskMs, ms))
    }
    /** The counts since the last take; sleeps first so the asynchronous
      * listener bus delivers the events of work that just finished. */
    def take(): Counts = {
      Thread.sleep(150)
      synchronized { val r = c; c = Counts(); r }
    }
  }

  private def withConf[T](spark: SparkSession, conf: Seq[(String, String)])
                         (body: => T): T = {
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map((r: Row) => r.toSeq.map {
      case b: Array[Byte] => b.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** Steps 1-4 on `spark`; returns the JSON lines. Leaves the session's
    * conf as it found it, so it can run on a shared session. */
  def run(spark: SparkSession, sfDir: String, passes: Int, specs: Seq[String],
          variants: Map[String, Build] = variants,
          warmDir: String = "/root/testdata/sf0.001",
          gateDir: String = "/root/testdata/sf0.01"): Seq[String] = {
    val declared = SparkEntry.queries
    val runs = specs.map(parse).map { p =>
      require(declared.contains(p.query), s"unknown query '${p.query}'")
      p -> p.variant.fold(declared(p.query)) { v =>
        variants.getOrElse(s"${p.query}~$v", throw new IllegalArgumentException(
          s"unknown variant '${p.query}~$v'; registered: " +
            variants.keys.toSeq.sorted.mkString(", ")))
      }
    }
    def exec(p: Spec, f: Build, dir: String): Unit = withConf(spark, p.conf) {
      f(spark, dir).write.format("noop").mode("overwrite").save()
    }

    runs.foreach { case (p, f) => exec(p, f, warmDir) }

    val refs = mutable.Map.empty[String, Seq[String]]
    val differ = runs
      .filter { case (p, _) => p.variant.nonEmpty || p.conf.nonEmpty }
      .filter { case (p, f) =>
        val ref = refs.getOrElseUpdate(p.query,
          sortedRows(declared(p.query)(spark, gateDir)))
        withConf(spark, p.conf)(sortedRows(f(spark, gateDir))) != ref
      }
      .map(_._1.text)
    require(differ.isEmpty, s"rows differ from the declared query at " +
      s"$gateDir: ${differ.mkString(", ")}")

    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)
    // the build's counts are taken between building and writing, so the
    // listener's delivery wait stays out of both timed spans
    def timed(p: Spec, f: Build): Timing = withConf(spark, p.conf) {
      counter.take()
      val t0 = System.nanoTime()
      val df = f(spark, sfDir)
      val built = (System.nanoTime() - t0) / 1e9
      val build = counter.take()
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val sec = built + (System.nanoTime() - t1) / 1e9
      Timing(sec, built, build.jobs, build + counter.take())
    }
    val timings = Array.fill(runs.size)(mutable.ArrayBuffer.empty[Timing])
    try for (pass <- 0 until passes) {
      val order = if (pass % 2 == 0) runs.indices else runs.indices.reverse
      order.foreach { i =>
        val (p, f) = runs(i)
        timings(i) += timed(p, f)
      }
    } finally spark.sparkContext.removeSparkListener(counter)

    val cores = spark.sparkContext.defaultParallelism
    def f3(x: Double) = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(x))
    runs.indices.map { i =>
      val ts = timings(i).sortBy(_.sec)
      val Timing(best, buildSec, buildJobs, c) = ts.head
      val n = ts.size
      val median = (ts((n - 1) / 2).sec + ts(n / 2).sec) / 2
      s"""{"spec":"${runs(i)._1.text}","passes":$n,"min":${f3(best)},""" +
        s""""median":${f3(median)},"build_sec":${f3(buildSec)},""" +
        s""""build_jobs":$buildJobs,""" +
        s""""jobs":${c.jobs},"stages":${c.stages},""" +
        s""""tasks":${c.tasks},"task_sec":${f3(c.taskMs / 1e3)},""" +
        s""""max_task_sec":${f3(c.maxTaskMs / 1e3)},""" +
        s""""busy":${f3(c.taskMs / 1e3 / (best * cores))}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Ab <sfDir> <passes> [query[~variant][@key=value,...]...]")
    val specs = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Tune.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      Tune.applyShuffleWidth(spark, args(0))
      run(spark, args(0), args(1).toInt, specs).foreach(println)
    } finally spark.stop()
  }
}
