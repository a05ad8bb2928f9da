package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.JobCount
import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite

/** Footer answers of [[Tables]] (schema, row count, timestamp max) equal
  * the answers of the Spark jobs they replace, on the fixtures and on
  * hand-written files, and a rewritten file is read again.
  */
class TablesMetaSpec extends AnyFunSuite {

  import SparkTestSession.spark

  private def jobMax(df: org.apache.spark.sql.DataFrame, c: String) =
    Option(df.agg(max(col(c))).head().getTimestamp(0)).map(_.toInstant)

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"footer answers equal the job answers at $sf") {
      val d = s"${new java.io.File(SparkTestSession.sfDir).getParent}/$sf"
      Tables.names.foreach { t =>
        val inferred = spark.read.parquet(s"$d/$t.parquet")
        assert(Tables(spark, d, t).schema == inferred.schema, t)
        assert(Tables.rowCount(spark, d, t) == inferred.count(), t)
      }
      val (anchors, jobs) = JobCount.of(spark.sparkContext) {
        (Tables.maxTs(spark, d, "events", "ts"),
          Tables.maxTs(spark, d, "orders", "o_orderdate"))
      }
      assert(jobs == 0, "the fixture footers carry statistics")
      assert(anchors._1.isDefined && anchors._2.isDefined)
      assert(anchors._1 == jobMax(Tables.events(spark, d), "ts"))
      assert(anchors._2 == jobMax(Tables.orders(spark, d), "o_orderdate"))
    }
  }

  /** Writes `dir/events.parquet` holding `ts` as INT64 TIMESTAMP(NANOS),
    * replacing any file there; returns `dir`. */
  private def nanosEvents(dir: String, values: Seq[Long],
                          stats: Boolean): String = {
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 event_id; " +
        "optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withStatisticsEnabled(stats)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val g = new SimpleGroupFactory(schema)
    try values.zipWithIndex.foreach { case (v, i) =>
      w.write(g.newGroup().append("event_id", i.toLong).append("ts", v))
    } finally w.close()
    dir
  }

  private def tmp() = Files.createTempDirectory("graft-meta").toString

  // a negative max with sub-micro digits pins the truncating `div 1000`
  // (-1999 ns is -1 µs; flooring would give -2 µs)
  private val nanos = Seq(-1999L, -5000001L, -3000000000L)

  test("a TIMESTAMP(NANOS) footer max converts as the loader converts ts") {
    val d = nanosEvents(tmp(), nanos, stats = true)
    val (got, jobs) = JobCount.of(spark.sparkContext) {
      Tables.maxTs(spark, d, "events", "ts")
    }
    assert(jobs == 0)
    assert(got == jobMax(Tables.events(spark, d), "ts"))
    assert(got.contains(Instant.parse("1969-12-31T23:59:59.999999Z")))
    assert(Tables.rowCount(spark, d, "events") == 3L)
  }

  test("a file without statistics takes the one-job fallback") {
    val d = nanosEvents(tmp(), nanos, stats = false)
    val (got, jobs) = JobCount.of(spark.sparkContext) {
      Tables.maxTs(spark, d, "events", "ts")
    }
    assert(jobs >= 1, "no statistics: the max must come from a job")
    assert(got == jobMax(Tables.events(spark, d), "ts"))
    assert(Tables.rowCount(spark, d, "events") == 3L)
  }

  test("overwriting a file with more rows changes the cached row count") {
    val d = nanosEvents(tmp(), nanos, stats = true)
    assert(Tables.rowCount(spark, d, "events") == 3L)
    nanosEvents(d, nanos ++ Seq(1L, 2L), stats = true)
    assert(Tables.rowCount(spark, d, "events") == 5L)
    assert(Tables.maxTs(spark, d, "events", "ts")
      .contains(Instant.parse("1970-01-01T00:00:00Z")))
    assert(Tables.events(spark, d).count() == 5L)
  }
}
