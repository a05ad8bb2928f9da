package graft.tools

import graft.{SparkEntry, Tune}

/** Physical-plan dump for PLANS.md: prints the optimized physical plan of
  * each named query (all queries if none given) at the given SF.
  *
  *   sbt "runMain graft.tools.PlanDoc /root/testdata/sf0.01 j11_asof_join"
  */
object PlanDoc {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Tune.localSession(8)
    names.foreach { n =>
      println(s"==== $n ====")
      try println(SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.executedPlan.toString)
      catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
    }
    spark.stop()
  }
}
