package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Ab

/** The A/B harness's contract on the shared session at sf0.001 (warm-up,
  * gate and timed passes all on the one fixture, one pass): an overlay
  * that cannot change results passes the gate, a shape that drops a row
  * fails it before anything is timed, and an overlay never leaks into
  * the next spec or past the run.
  */
class AbSpec extends AnyFunSuite {

  import SparkTestSession.{spark, sfDir}

  private val q = "b1_tpch_q1"
  private val widthKey = "spark.sql.shuffle.partitions"

  private def ab(specs: Seq[String], variants: Map[String, Ab.Build]) =
    Ab.run(spark, sfDir, passes = 1, specs, variants,
      warmDir = sfDir, gateDir = sfDir)

  test("a shuffle-width overlay passes the gate and prints one line per spec") {
    val out = ab(Seq(q, s"$q@$widthKey=7"), Map.empty)
    assert(out.size == 2)
    assert(out(1).startsWith(s"""{"spec":"$q@$widthKey=7","passes":1,"min":"""))
    assert(out.forall(_.contains(""""jobs":""")))
  }

  test("a variant that drops one row fails the gate before any timing") {
    var calls = 0
    val drop: Ab.Build = { (s, d) =>
      calls += 1
      SparkEntry.queries(q)(s, d).offset(1)
    }
    val e = intercept[IllegalArgumentException] {
      ab(Seq(s"$q~drop"), Map(s"$q~drop" -> drop))
    }
    assert(e.getMessage.contains(s"$q~drop"))
    assert(calls == 2, "only the warm-up and the gate may run the variant")
  }

  test("the session's conf is restored after each overlaid run") {
    val before = spark.conf.get(widthKey)
    val seen = Map("in" -> collection.mutable.Buffer.empty[String],
      "out" -> collection.mutable.Buffer.empty[String])
    val probes: Map[String, Ab.Build] = seen.map { case (v, buf) =>
      s"$q~$v" -> { (s: SparkSession, d: String) =>
        buf += s.conf.get(widthKey); SparkEntry.queries(q)(s, d) }
    }
    ab(Seq(s"$q~in@$widthKey=7", s"$q~out"), probes)
    assert(seen("in").toSet == Set("7"))
    assert(seen("out").nonEmpty && seen("out").forall(_ == before))
    assert(spark.conf.get(widthKey) == before)
  }

  test("api3's build starts no job once the warm-up cached its tables") {
    val out = ab(Seq("api3_ohlcv_route"), Map.empty)
    assert(out.size == 1)
    assert(out.head.contains(""""build_jobs":0,"""), out.head)
  }
}
