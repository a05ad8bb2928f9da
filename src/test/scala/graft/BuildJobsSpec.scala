package graft

import org.apache.spark.JobCount
import org.scalatest.funsuite.AnyFunSuite

/** ROADMAP's rule "building a query plan never starts an unbounded job",
  * pinned on the serving path: once a table version's footer metadata is
  * cached, building a serving query or a scale-gated anchor starts no
  * Spark job at all. Schemas, the b5/b9/b17 orders gates and every time
  * anchor come from [[Tables]]' footer cache.
  */
class BuildJobsSpec extends AnyFunSuite {

  import SparkTestSession.{spark, sfDir}

  /** The dex_serve request mix (perfbench/workloads.json) and the three
    * TPC-H anchors gated on the orders row count. */
  private val names = Seq(
    "api3_ohlcv_route", "w11_forming_bar", "api2_trades_page",
    "o3_keyset_page", "p2_time_window", "j11_asof_join", "t10_alert_rules",
    "a8_leaderboard", "a9_large_trades", "a11_token_matrix", "o5_gainers",
    "api1_token_list", "api4_token_detail", "api5_search_facets",
    "b5_tpch_q5", "b9_tpch_q7", "b17_tpch_q8")

  test("a second build of each serving query and gated anchor starts " +
      "no Spark job") {
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir))
    val started = names.flatMap { n =>
      val (_, jobs) = JobCount.of(spark.sparkContext) {
        SparkEntry.queries(n)(spark, sfDir)
      }
      if (jobs == 0) None else Some(s"$n: $jobs job(s)")
    }
    assert(started.isEmpty, started.mkString("\n", "\n", ""))
  }
}
