package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Tables, Tune}
import graft.streaming.Streams

/** Streaming-maintenance growth measurement (r10 verdict task #9): for
  * each of the INDEX-maintenance paths — near-dup ingest (reads the
  * accumulated index every batch), ANN cells/codes and BM25 postings
  * (write-only slices), and (r14) the Misra–Gries heavy-hitter summary
  * (write-only ≤k·|groups| slices) — stream a corpus in B equal ticks and
  * record per-tick wall latency against the index size accumulated
  * BEFORE the tick. The question the curve answers: does batch N+1 pay
  * for the N batches before it? Expected from the plan shapes: neardup
  * grows (its probe joins the full accepted band/shingle index —
  * reading it is O(index)), ANN/postings stay flat (their foreachBatch
  * derives only from the batch). The measurement replaces that argument
  * with numbers.
  *
  * Usage: runMain graft.tools.StreamScaling dir=factor [dir=factor ...]
  *   [-- ticks]   (default 5 ticks)
  * Prints `[streamscale] name @Fx tick i -> T s (index_rows=N)` lines;
  * tools/merge_stream_scaling.py folds them into SCALING.json's
  * `streaming` block.
  */
object StreamScaling {

  private def ms(d: Double): Double = math.round(d * 100).toDouble / 100

  def main(args: Array[String]): Unit = {
    val (dirArgs, tail) = args.span(_ != "--")
    val ticks = tail.drop(1).headOption.map(_.toInt).getOrElse(5)
    val dirs: Seq[(String, Double)] = dirArgs.toSeq.map { a =>
      val Array(d, f) = a.split("=")
      (d, f.toDouble)
    }
    // SPARK_GRAFT_STREAMSCALE_PATHS=hh,ann — measure a subset of the
    // maintenance paths (default all); warm-up warms only selected paths
    val pathOn: String => Boolean =
      sys.env.get("SPARK_GRAFT_STREAMSCALE_PATHS") match {
        case Some(s) => s.split(",").map(_.trim).toSet
        case None => (_: String) => true
      }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tune.localSession(cpus.toInt)
    // RocksDB state store: the deployment shape (StreamingSpec's parity
    // suite runs both providers; growth curves use the one a cluster
    // would). A session conf, read when each stream starts.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")

    def tmp(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString

    def rowsIn(path: String, schema: String): Long =
      Tables.readOrEmpty(spark, path, schema).count()

    def report(name: String, factor: Double, tick: Int, sec: Double,
               indexRows: Long): Unit =
      System.err.println(String.format(java.util.Locale.ROOT,
        "[streamscale] %s @%.1fx tick %d -> %.2f s (index_rows=%d)",
        name, Double.box(factor), Int.box(tick), Double.box(ms(sec)),
        Long.box(indexRows)))

    // Warm-up: run each maintenance path once on a tiny throwaway slice
    // BEFORE any measured tick. Tick 0 would otherwise pay one-time
    // whole-stage-codegen compilation, RocksDB state-store init, and
    // classloading — inflating the denominator of growth_last_over_first
    // and masking exactly the O(index)-read growth this tool exists to
    // expose (Bench/Scaling warm up for the same reason).
    locally {
      val wdir = dirs.head._1
      val wdocs = Tables.documents(spark, wdir).limit(200)
      val wvecs = Tables.embeddings(spark, wdir).limit(100)
      val docsSchema = "doc_id BIGINT, text STRING, lang STRING, " +
        "source STRING, n_chars BIGINT"
      val vecsSchema = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
      // every warm-up dir is captured and deleted in the finally —
      // unlike the measured ticks' per-block cleanup this block runs
      // once per tool invocation, but five leaked parquet dirs per run
      // still accumulate in the host tmp (r13 ADVICE)
      val land = tmp("graft-ss-warm-land")
      val art = tmp("graft-ss-warm-art")
      val cks = Seq(tmp("graft-ss-warm-ck1"), tmp("graft-ss-warm-ck2"),
        tmp("graft-ss-warm-ck3"), tmp("graft-ss-warm-ck4"))
      try {
        wdocs.write.parquet(s"$land/docs")
        wvecs.write.parquet(s"$land/vecs")
        def dstream = spark.readStream.schema(docsSchema)
          .option("recursiveFileLookup", "true").parquet(s"$land/docs")
        val vstream = spark.readStream.schema(vecsSchema)
          .option("recursiveFileLookup", "true").parquet(s"$land/vecs")
        import graft.operators.Similarity
        if (pathOn("neardup"))
          Streams.neardupIngest(dstream, s"$art/ndidx", s"$art/accepted",
            cks(0)).awaitTermination()
        if (pathOn("ann")) {
          Similarity.sampledTrainCentroids(wvecs)
            .write.parquet(s"$art/centroids")
          Similarity.pqTrainSampled(wvecs).write.parquet(s"$art/codebook")
          Streams.annIndexMaintenance(vstream, s"$art/centroids",
            s"$art/codebook", s"$art/cells", s"$art/codes",
            cks(1)).awaitTermination()
        }
        if (pathOn("postings"))
          Streams.postingsMaintenance(dstream, s"$art/bm25",
            cks(2)).awaitTermination()
        if (pathOn("hh")) {
          val wev = Tables.events(spark, wdir)
            .select(col("event_type"), col("user_id")).limit(200)
          wev.write.parquet(s"$land/ev")
          Streams.heavyHittersMaintenance(
            spark.readStream.schema("event_type STRING, user_id BIGINT")
              .option("recursiveFileLookup", "true").parquet(s"$land/ev"),
            "event_type", "user_id", 128, s"$art/hh",
            cks(3)).awaitTermination()
        }
        System.err.println("[streamscale] warm-up done")
      } finally {
        val conf = spark.sparkContext.hadoopConfiguration
        (Seq(land, art) ++ cks).foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(conf).delete(p, true)
        }
      }
    }

    dirs.foreach { case (dir, factor) =>
      val docs = Tables.documents(spark, dir)
      val vecs = Tables.embeddings(spark, dir)
      val docsSchema = "doc_id BIGINT, text STRING, lang STRING, " +
        "source STRING, n_chars BIGINT"
      val vecsSchema = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"

      // ---- near-dup ingest: probe reads the accumulated index --------
      if (pathOn("neardup")) locally {
        val land = tmp("graft-ss-ndi-land")
        val idx = tmp("graft-ss-ndi-idx") + "/idx"
        val out = tmp("graft-ss-ndi-out") + "/accepted"
        val ckpt = tmp("graft-ss-ndi-ckpt")
        for (t <- 0 until ticks) {
          docs.filter(col("doc_id") % ticks === t)
            .write.parquet(s"$land/t$t")
          val before = rowsIn(s"$idx/bands", "doc_id BIGINT")
          val t0 = System.nanoTime()
          Streams.neardupIngest(
            spark.readStream.schema(docsSchema)
              .option("recursiveFileLookup", "true").parquet(land),
            idx, out, ckpt).awaitTermination()
          report("neardup_ingest", factor, t,
            (System.nanoTime() - t0) / 1e9, before)
        }
      }

      // ---- ANN maintenance: write-only cells/codes slices ------------
      if (pathOn("ann")) locally {
        import graft.operators.Similarity
        val art = tmp("graft-ss-ann-art")
        val land = tmp("graft-ss-ann-land")
        val ckpt = tmp("graft-ss-ann-ckpt")
        // one-time training on the first slice (the deployment shape:
        // centroids/codebook are refreshed rarely, not per batch)
        val initial = vecs.filter(col("vec_id") % ticks === 0)
        Similarity.sampledTrainCentroids(initial)
          .write.parquet(s"$art/centroids")
        Similarity.pqTrainSampled(initial).write.parquet(s"$art/codebook")
        for (t <- 0 until ticks) {
          vecs.filter(col("vec_id") % ticks === t)
            .write.parquet(s"$land/t$t")
          val before = rowsIn(s"$art/cells", "vec_id BIGINT")
          val t0 = System.nanoTime()
          Streams.annIndexMaintenance(
            spark.readStream.schema(vecsSchema)
              .option("recursiveFileLookup", "true").parquet(land),
            s"$art/centroids", s"$art/codebook",
            s"$art/cells", s"$art/codes", ckpt).awaitTermination()
          report("ann_maintenance", factor, t,
            (System.nanoTime() - t0) / 1e9, before)
        }
      }

      // ---- postings maintenance: write-only index slices -------------
      if (pathOn("postings")) locally {
        val land = tmp("graft-ss-post-land")
        val idx = tmp("graft-ss-post-idx") + "/bm25"
        val ckpt = tmp("graft-ss-post-ckpt")
        for (t <- 0 until ticks) {
          docs.filter(col("doc_id") % ticks === t)
            .write.parquet(s"$land/t$t")
          val before = rowsIn(s"$idx/postings", "doc_id BIGINT")
          val t0 = System.nanoTime()
          Streams.postingsMaintenance(
            spark.readStream.schema(docsSchema)
              .option("recursiveFileLookup", "true").parquet(land),
            idx, ckpt).awaitTermination()
          report("postings_maintenance", factor, t,
            (System.nanoTime() - t0) / 1e9, before)
        }
      }

      // ---- heavy-hitter maintenance: k-bounded summary slices --------
      // (r14) per-tick cost should track the tick's row count only: the
      // sketch aggregate is one map-side-combined pass over the batch
      // and the written slice is ≤k·|groups| rows — nothing reads the
      // accumulated index, so the curve must stay flat like ANN/postings
      if (pathOn("hh")) locally {
        val ev = Tables.events(spark, dir)
          .select(col("event_type"), col("user_id"))
        val land = tmp("graft-ss-hh-land")
        val idx = tmp("graft-ss-hh-idx") + "/hh"
        val ckpt = tmp("graft-ss-hh-ckpt")
        for (t <- 0 until ticks) {
          ev.filter(col("user_id") % ticks === t)
            .write.parquet(s"$land/t$t")
          val before = rowsIn(s"$idx/entries", "grp STRING")
          val t0 = System.nanoTime()
          Streams.heavyHittersMaintenance(
            spark.readStream.schema("event_type STRING, user_id BIGINT")
              .option("recursiveFileLookup", "true").parquet(land),
            "event_type", "user_id", 128, idx, ckpt).awaitTermination()
          report("hh_maintenance", factor, t,
            (System.nanoTime() - t0) / 1e9, before)
        }
      }
    }
    spark.stop()
  }
}
