package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Tables, Tune}
import graft.operators.Similarity

/** Recall-vs-cost across scale decades for the IVF geometries (r13
  * verdict #2): at each given fixture, compute brute-force top-5 ground
  * truth for the probe batch, then recall@5 AND wall-clock for
  *   - fixed-nlist sampled training (n9/n14's ~16 cells),
  *   - adaptive-nlist sampled training (n13's ⌈√n⌉ cells, the shipped
  *     production geometry) at nprobe=8 and at the occupancy-matched
  *     nprobe (nprobe scaled so candidates/probe ≈ the fixed-16 share).
  * Prints one line per (fixture, variant); merge the numbers into
  * SCALING.json notes by hand.
  *
  *   java -cp "<classes>:<spark jars>" graft.tools.Recall \
  *     /root/testdata/sf0.1=1 /tmp/graftsf/sf1=10 ...
  */
object Recall {
  def main(args: Array[String]): Unit = {
    val dirs: Seq[(String, Double)] = args.toSeq.map { a =>
      val Array(d, f) = a.split("="); (d, f.toDouble)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tune.localSession(cpus.toInt)

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def timed[T](fn: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = fn
      (r, (System.nanoTime() - t0) / 1e9)
    }

    dirs.foreach { case (dir, factor) =>
      val v = Tables.embeddings(spark, dir)
      val n = v.count()
      val probes = v.filter(col("vec_id") < 10)
      val (truth, _) = timed(pairs(Similarity.bruteForceTopK(probes, v, 5)))
      def reportDf(name: String, nprobe: Int,
                   df: => DataFrame): Unit = {
        val (got, sec) = timed(pairs(df))
        val recall = (truth & got).size.toDouble / truth.size
        println(f"[recall] ${factor}%.0fx n=$n%d $name%-24s nprobe=$nprobe%-3d recall@5=${recall}%.3f  ${sec}%.2f s")
      }
      def report(name: String, nprobe: Int,
                 cents: => DataFrame): Unit =
        reportDf(name, nprobe,
          Similarity.ivfTopK(probes, v, cents, k = 5, nprobe = nprobe))
      val nl = Similarity.autoNlist(n)
      report("fixed16_sampled", 8,
        Similarity.sampledTrainCentroids(v, 400L, 16L, 2))
      report("adaptive_sqrt_n", 8, Similarity.adaptiveTrainCentroids(v))
      // occupancy-matched: keep candidates/probe ≈ the fixed-16 share
      // (nprobe/nlist = 8/16) as nlist grows — the recall-retention knob
      // a deployment turns when it widens nlist
      report("adaptive_matched", math.max(8, (nl / 2).toInt),
        Similarity.adaptiveTrainCentroids(v))
      // two-level coarse-routed build (n16): same adaptive cells, the
      // O(n·n^(1/4)) CORPUS assignment, flat probe bucketing — recall
      // should track adaptive_sqrt_n / adaptive_matched (identical
      // serve geometry; only coarse-boundary CORPUS assignments
      // differ). The r14 two-hop-probe variant measured 0.42 vs 0.96
      // at 100× matched — that starvation is why probes stay flat.
      reportDf("twolevel_w2", 8,
        Similarity.ivfTopKTwoLevel(probes, v, k = 5, nprobe = 8))
      reportDf("twolevel_w2_matched", math.max(8, (nl / 2).toInt),
        Similarity.ivfTopKTwoLevel(probes, v, k = 5,
          nprobe = math.max(8, (nl / 2).toInt)))
      // r15: the DEFAULTS rows — nprobe OMITTED, so the AutoProbe
      // sentinel derives the occupancy-matched value from the trained
      // cell count inside the operator (Similarity.autoNprobe). These
      // are the lines the r14 verdict asked to hold flat across
      // decades: a deployment that changes nothing as its index grows
      // should keep its recall.
      reportDf("adaptive_autoprobe", Similarity.autoNprobe(nl),
        Similarity.ivfTopK(probes, v,
          Similarity.adaptiveTrainCentroids(v), k = 5))
      reportDf("twolevel_autoprobe", Similarity.autoNprobe(nl),
        Similarity.ivfTopKTwoLevel(probes, v, k = 5))
    }
    spark.stop()
  }
}
