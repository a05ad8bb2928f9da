package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Tables, Tune}
import graft.operators.Similarity

/** Per-batch ingest-assignment cost, flat vs two-level, across scale
  * decades — the measurement behind the streaming-maintenance claim
  * (r14): `annIndexMaintenance`'s flat assignment scores every arriving
  * vector against all nlist cells, so at the adaptive geometry a batch
  * pays O(batch·√n) dots and the PER-EVENT cost grows with the corpus
  * the index serves; `twoLevelIndexMaintenance` routes the same batch
  * through the persisted coarse layer in O(batch·n^(1/4)). Both paths
  * assign against the SAME trained cells (identical serve geometry;
  * only coarse-boundary assignments differ — tools/Recall pins that
  * fidelity), so the delta is pure routing cost.
  *
  * For each fixture the tool derives the adaptive geometry once
  * (train-time work a deployment pays rarely — reported but not the
  * headline), draws a deterministic ~fixed-size batch (xxhash64
  * modulus, so the batch doesn't grow with the corpus the way a
  * vec_id cutoff would under the replica offsets), and times
  *   flat:     ivfCells(batch, cent)            — O(batch·nlist)
  *   twolevel: ivfCellsTwoLevel(batch, geom...) — O(batch·n^(1/4))
  * min-of-2 each, noop sink. Merge the printed lines into SCALING.json
  * notes by hand.
  *
  *   java -cp "<classes>:<spark jars>" graft.tools.RouteScaling \
  *     /root/testdata/sf0.1=1 /tmp/scale10=10 ...
  */
object RouteScaling {
  def main(args: Array[String]): Unit = {
    val dirs: Seq[(String, Double)] = args.toSeq.map { a =>
      val Array(d, f) = a.split("="); (d, f.toDouble)
    }
    val batchTarget = sys.env.getOrElse("GRAFT_ROUTE_BATCH", "100000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tune.localSession(cpus.toInt)

    def timed(fn: => DataFrame): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        fn.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }

    dirs.foreach { case (dir, factor) =>
      val v = Tables.embeddings(spark, dir)
      val n = v.count()
      // deterministic ~batchTarget-row sample spread across replicas
      val every = math.max(1L, n / batchTarget)
      val batch = v.filter(pmod(xxhash64(col("vec_id")), lit(every)) === 0)
      val bn = batch.count()
      val t0 = System.nanoTime()
      val (cent, l1, parents) = Similarity.twoLevelGeom(v)
      val centC = cent.cache(); centC.count()
      val l1C = l1.cache(); l1C.count()
      val parC = parents.cache(); parC.count()
      val trainSec = (System.nanoTime() - t0) / 1e9
      val nlist = Similarity.autoNlist(n)
      val flat = timed(Similarity.ivfCells(batch, centC))
      val two = timed(Similarity.ivfCellsTwoLevel(batch, centC, l1C, parC))
      // r15: the shipped default — autoRouteCells picks the side from
      // the persisted geometry's nlist; its time should track
      // min(flat, twolevel) at every decade (plus one trivial count)
      val auto = timed(Similarity.autoRouteCells(batch, centC, l1C, parC))
      println(f"[routescale] ${factor}%.0fx n=$n%d nlist=$nlist%d " +
        f"batch=$bn%d train=${trainSec}%.2f s flat=${flat}%.2f s " +
        f"twolevel=${two}%.2f s auto=${auto}%.2f s")
      centC.unpersist(); l1C.unpersist(); parC.unpersist()
    }
    spark.stop()
  }
}
