package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch milliseconds with sub-millisecond resolution, on the same base as
  * the `System.currentTimeMillis` stamps Spark's listener events carry. */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + offsetNs) / 1e6
}

/** In-memory record store, written out once at the end of a run. One JSON
  * object per line; `perfbench/ledger.py` turns the lines into self times.
  *
  * A span has `op` (the operation it belongs to — a request, a query or a
  * micro-batch), `kind`, `id`, `parent`, `start` and `end`. Spans of one op
  * share its `op` id. A job span has no parent recorded: the listener does
  * not know which harness span started the job, so the ledger places it by
  * its interval.
  */
final class Records {
  private val lines = new ConcurrentLinkedQueue[String]()

  def add(fields: (String, Any)*): Unit = lines.add(Json.obj(fields: _*))

  def span(op: String, kind: String, id: String, parent: String,
           start: Double, end: Double, extra: (String, Any)*): Unit =
    add((Seq[(String, Any)]("rec" -> "span", "op" -> op, "kind" -> kind,
      "id" -> id, "parent" -> parent, "start" -> start, "end" -> end) ++
      extra): _*)

  def write(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try lines.forEach { l => w.write(l); w.write('\n') } finally w.close()
  }
}

/** Job, stage and task records for the traced run, keyed by the job group
  * the harness sets around each operation (streaming micro-batch jobs are
  * keyed by their batch id instead). */
final class SpanListener(rec: Records) extends SparkListener {
  private val jobOp = TrieMap.empty[Int, String]
  private val jobStart = TrieMap.empty[Int, Long]
  private val stageJob = TrieMap.empty[Int, Int]

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap { p =>
      Option(p.getProperty("streaming.sql.batchId")).map("batch-" + _)
        .orElse(Option(p.getProperty("spark.jobGroup.id")))
    }.getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobOp(e.jobId) = opOf(e.properties)
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    rec.span(jobOp.getOrElse(e.jobId, "none"), "job", s"job-${e.jobId}", "",
      jobStart.getOrElse(e.jobId, e.time).toDouble, e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val job = stageJob.getOrElse(i.stageId, -1)
    val end = i.completionTime.getOrElse(System.currentTimeMillis())
    rec.span(jobOp.getOrElse(job, "none"), "stage",
      s"stage-${i.stageId}.${i.attemptNumber()}", s"job-$job",
      i.submissionTime.getOrElse(end).toDouble, end.toDouble,
      "tasks" -> i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val job = stageJob.getOrElse(e.stageId, -1)
    rec.add("rec" -> "task", "op" -> jobOp.getOrElse(job, "none"),
      "start" -> e.taskInfo.launchTime.toDouble,
      "end" -> e.taskInfo.finishTime.toDouble,
      "run_ms" -> m.executorRunTime,
      "cpu_ms" -> m.executorCpuTime / 1e6,
      "gc_ms" -> m.jvmGCTime,
      "peak_mem" -> m.peakExecutionMemory,
      "scan_bytes" -> m.inputMetrics.bytesRead,
      "scan_rows" -> m.inputMetrics.recordsRead,
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

/** Per-micro-batch progress of the ingest query (traced run only). */
final class ProgressListener(rec: Records) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
      : Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators
    def sumOps(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long)
        : Long = ops.map(f).sum
    val dupDropped = ops.map { o =>
      Option(o.customMetrics.get("numDroppedDuplicateRows"))
        .map(_.longValue).getOrElse(0L)
    }.sum
    rec.add("rec" -> "progress", "batch" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "list_ms" -> ms("latestOffset"),
      "rows" -> p.numInputRows,
      "trigger_ms" -> ms("triggerExecution"),
      "add_batch_ms" -> ms("addBatch"),
      "planning_ms" -> ms("queryPlanning"),
      "wal_commit_ms" -> (ms("walCommit") + ms("commitOffsets")),
      "state_rows" -> sumOps(_.numRowsTotal),
      "state_mem" -> sumOps(_.memoryUsedBytes),
      "late_dropped" -> sumOps(_.numRowsDroppedByWatermark),
      "dup_dropped" -> dupDropped)
  }
}

/** Minimal JSON writer for flat records (numbers, strings, booleans). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case null => "null"
    case o => str(o.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
