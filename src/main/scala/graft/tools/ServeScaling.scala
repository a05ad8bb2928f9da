package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Tables, Tune}
import graft.operators.Similarity

/** Packed-vs-long-form PQ serving cost across scale decades: at each
  * fixture, build the index artifacts ONCE (sampled codebook, long-form
  * codes, packed byte codes, sampled-centroid cells — all persisted to
  * parquet and read back, the real serving lifecycle), then time
  * min-of-2 warm serves of
  *   - pqTopKFromCodes        (long form: m-row LUT join + per-pair agg)
  *   - pqTopKFromPackedCodes  (pq_adc_cos kernel, no per-pair agg)
  *   - ivfPqTopKFromCodes / ivfPqTopKFromPackedCodes (the IVF-pruned pair)
  * Prints one line per (fixture, variant); merge into SCALING.json notes
  * by hand (the Recall tool convention). At sf0.1 all four sit on the
  * dispatch floor — the decades are where the m× row reduction shows.
  *
  *   java -cp "<classes>:<spark jars>" graft.tools.ServeScaling \
  *     /root/testdata/sf0.1=1 /tmp/graftsf/sf1=10 ...
  */
object ServeScaling {
  def main(args: Array[String]): Unit = {
    val dirs: Seq[(String, Double)] = args.toSeq.map { a =>
      val Array(d, f) = a.split("="); (d, f.toDouble)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tune.localSession(cpus.toInt)

    def t(fn: () => Unit): Double = {
      val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e9
    }
    def serve(df: DataFrame): Unit =
      df.orderBy(col("probe_id"), col("rank"))
        .write.format("noop").mode("overwrite").save()

    dirs.foreach { case (dir, factor) =>
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-servescale").toString
      try {
        // scale-derived shuffle width + scan splits (the r15 policy):
        // the fixed core-count width let the 1000× build's sorts spill
        // the disk dry
        graft.Tune.applyShuffleWidth(spark, dir)
        def step(s: String): Unit =
          System.err.println(f"[serve] ${factor}%.0fx build: $s%s")
        val v = Tables.embeddings(spark, dir)
        val n = v.count()
        val probes = v.filter(col("vec_id") < 10)
        val cents = Similarity.sampledTrainCentroids(v,
          targetSample = 400L, kCentroids = 16L, iters = 2)
        step("pq codebook")
        val cb = Similarity.pqTrainSampled(v, m = 8, iters = 2)
        cb.write.mode("overwrite").parquet(s"$tmp/codebook")
        val cbR = spark.read.parquet(s"$tmp/codebook")
        step("pq encode")
        Similarity.pqEncode(v, cbR).write.mode("overwrite")
          .parquet(s"$tmp/codes")
        val codesR = spark.read.parquet(s"$tmp/codes")
        step("pq pack")
        Similarity.pqPackCodes(codesR, cbR).write.mode("overwrite")
          .parquet(s"$tmp/packed")
        val packedR = spark.read.parquet(s"$tmp/packed")
        step("ivf cells")
        Similarity.ivfCells(v, cents).write.mode("overwrite")
          .parquet(s"$tmp/cells")
        val cellsR = spark.read.parquet(s"$tmp/cells")
        def report(name: String, fn: () => Unit): Unit = {
          fn() // warm
          val sec = math.min(t(fn), t(fn))
          println(f"[serve] ${factor}%.0fx n=$n%d $name%-16s ${sec}%.2f s")
        }
        report("pq_long", () => serve(
          Similarity.pqTopKFromCodes(probes, v, cbR, codesR, k = 5)))
        report("pq_packed", () => serve(
          Similarity.pqTopKFromPackedCodes(probes, v, cbR, packedR,
            k = 5)))
        report("ivfpq_long", () => serve(
          Similarity.ivfPqTopKFromCodes(probes, v, cents, cellsR, cbR,
            codesR, k = 5, nprobe = 8)))
        report("ivfpq_packed", () => serve(
          Similarity.ivfPqTopKFromPackedCodes(probes, v, cents, cellsR,
            cbR, packedR, k = 5, nprobe = 8)))
        // r15 (verdict #5): the SQ8 serving family's decades — n10's
        // flat byte serve, n12's filtered serve (label predicate on the
        // meta-bearing codes artifact, pushdown-pruned), and n13's
        // adaptive-geometry IVF+SQ8 serve at fixed nprobe=8 and at the
        // AutoProbe default. The n13 CELLS artifact builds through
        // autoRouteCells: flat assignment against the adaptive nlist is
        // exactly the path measured dead at 1000× (r14_decades), so the
        // build routes two-hop there and flat below the crossover.
        step("sq8 stats")
        val sqStats = Similarity.sq8Stats(v)
        sqStats.write.mode("overwrite").parquet(s"$tmp/sq8stats")
        val statsR = spark.read.parquet(s"$tmp/sq8stats")
        step("sq8 encode")
        Similarity.sq8Encode(v, statsR).write.mode("overwrite")
          .parquet(s"$tmp/sq8codes")
        val sqCodesR = spark.read.parquet(s"$tmp/sq8codes")
        step("sq8 meta encode")
        Similarity.sq8EncodeWithMeta(v, statsR, Seq("label"))
          .sortWithinPartitions("label")
          .write.mode("overwrite").parquet(s"$tmp/sq8meta")
        val sqMetaR = spark.read.parquet(s"$tmp/sq8meta")
        report("sq8_flat", () => serve(
          Similarity.sq8TopKFromCodes(probes, statsR, sqCodesR, k = 5)))
        report("sq8_filtered", () => serve(
          Similarity.sq8TopKFromCodes(probes, statsR,
            sqMetaR.filter(col("label") < 3), k = 5)))
        step("two-level geom")
        val (acent, l1, parents) = Similarity.twoLevelGeom(v)
        acent.write.mode("overwrite").parquet(s"$tmp/acents")
        l1.write.mode("overwrite").parquet(s"$tmp/al1")
        parents.write.mode("overwrite").parquet(s"$tmp/aparents")
        val acentR = spark.read.parquet(s"$tmp/acents")
        step("auto-route cells")
        Similarity.autoRouteCells(v, acentR,
            spark.read.parquet(s"$tmp/al1"),
            spark.read.parquet(s"$tmp/aparents"))
          .write.mode("overwrite").parquet(s"$tmp/acells")
        val acellsR = spark.read.parquet(s"$tmp/acells")
        report("ivfsq8_np8", () => serve(
          Similarity.ivfSq8TopKFromCodes(probes, acentR, acellsR,
            statsR, sqCodesR, k = 5, nprobe = 8)))
        report("ivfsq8_auto", () => serve(
          Similarity.ivfSq8TopKFromCodes(probes, acentR, acellsR,
            statsR, sqCodesR, k = 5)))
      } finally {
        val p = new org.apache.hadoop.fs.Path(tmp)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    }
    spark.stop()
  }
}
