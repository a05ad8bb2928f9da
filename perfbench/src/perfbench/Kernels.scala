package perfbench

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.plans._

/** Kernel micro-layer: each codegen kernel's public function called in a
  * plain loop over documents and vectors held in memory, one thread, no
  * Spark plan around it. A kernel regression moves these rates; a plan
  * regression does not.
  */
object Kernels {
  private val ShingleN = 5
  private val MinHashK = 128
  private val Buckets = 4096
  private val CdcWindow = 16
  private val Markers = Array(" the ", " a ", " of ")

  /** rows/s per kernel: one warm pass, then the median of three timed
    * passes over every input row. */
  def rates(texts: Array[String], vectors: Array[Array[Float]], seed: Long)
      : Seq[(String, Double)] = {
    val docs = texts.map(UTF8String.fromString)
    val shingles = docs.map(ShingleKernel.shingles(_, ShingleN, true))
    val vecs = vectors.map(v => ArrayData.toArrayData(v))
    val book = pqBook(vectors.headOption.map(_.length).getOrElse(64), seed)
    def each[A](in: Array[A])(f: A => Any): () => Int = () => {
      var i = 0
      while (i < in.length) { f(in(i)); i += 1 }
      in.length
    }
    val kernels = Seq[(String, () => Int)](
      "minhash" -> each(shingles)(MinHashKernel.sig(_, MinHashK)),
      "shingle_hashes" -> each(docs)(ShingleHashKernel.hashes(_, ShingleN,
        false)),
      "feature_buckets" -> each(docs)(FeatureBucketsKernel.buckets(_,
        Buckets, false)),
      "cdc_chunk_rows" -> each(docs)(CdcChunkKernel.chunkRows(_, CdcWindow)),
      "pq_assign" -> each(vecs)(PqAssignKernel.assign(_, book)),
      "text_profile" -> each(docs)(TextProfileKernel.profile(_, Markers)))
    kernels.map { case (name, run) =>
      run()
      val rs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = run()
        n / ((System.nanoTime() - t0) / 1e9)
      }.sorted
      name -> rs(1)
    }
  }

  /** A seeded 8-subspace, 256-codeword product-quantization codebook. */
  private def pqBook(dim: Int, seed: Long): PqAssignBook = {
    val m = 8
    val sub = math.max(1, dim / m)
    val rnd = new scala.util.Random(seed)
    val words = Array.fill(m, 256)(Array.fill(sub)(rnd.nextGaussian().toFloat * 0.1f))
    PqAssignBook(m, sub,
      Array.fill(m)(Array.tabulate(256)(_.toLong)),
      words,
      words.map(_.map(w => w.map(x =>
        math.floor(x.toDouble * x.toDouble * 1e16).toLong).sum)))
  }
}
