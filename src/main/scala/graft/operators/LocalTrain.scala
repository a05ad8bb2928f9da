package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Driver-local, BIT-IDENTICAL twins of the sample-bounded Lloyd
  * trainers (r16 optimization round, guide §1.2: fix the distributed
  * algorithm first — and the right distributed algorithm for a
  * training set that is ARTIFACT-SIZED BY CONTRACT is no distribution
  * at all).
  *
  * Why: the sampled training paths (n6/n7/n9/n14/n15's fixed ~400-row
  * sample, n12/n13/n16's 32·√n adaptive sample) already collect the
  * full SAMPLE ID LIST to the driver every run ([[Similarity.sampleSeedIds]]),
  * then spend 2 Lloyd iterations × ~4 exchanges each shuffling ≤ a few
  * hundred rows across every core — measured as ~25-40 of n7's 58
  * per-query Spark stages at sf0.1, pure dispatch (busy ratio 0.20).
  * Collecting the sample VECTORS too (≤ 2·targetSample rows — bytes
  * comparable to the id list the driver already holds) and running the
  * identical arithmetic in one JVM loop removes every training-loop
  * stage while producing byte-identical centroids/codebooks: the
  * downstream consumers (broadcast joins, the PqAssign kernel's
  * codebook collect) then read a LocalRelation, which broadcasts with
  * no Spark job at all.
  *
  * Scale contract: callers gate on the EXPECTED sample row count
  * (min(n, 2·targetSample+1) ≤ [[Similarity.LocalTrainMaxRows]]) and
  * fall back to the distributed loop above it — the switch is free
  * because both paths are bit-identical (LocalTrainSpec pins byte
  * equality on dense, offset, ragged and truncated-vector corpora; the
  * n4/n6/n7/n9/n13/n14/n16 DuckDB oracles replay the same training in
  * SQL and hash the end-to-end result).
  *
  * Bit-identity is the whole game; every operation replays the exact
  * engine semantics of the distributed chain:
  *  - dot/norm: Σ floor(a_i·b_i·1e16) as Long over min(len) —
  *    [[graft.plans.DotScaledKernel]] verbatim.
  *  - cosine: dot.toDouble / (sqrt(na.toDouble) · sqrt(nb.toDouble)) —
  *    [[Similarity.cosineFromScaled]]'s IEEE operation order.
  *  - argmin over struct(key, id): Spark's double ordering
  *    (SQLOrderingUtil.compareDoubles — ±0.0 equal, NaN largest and
  *    self-equal), then the Long tiebreak.
  *  - centroid mean: Core.dsum semantics — each float member casts
  *    float→double→Decimal(38,6) (HALF_UP at scale 6, via the double's
  *    shortest decimal representation, Spark's Cast/Decimal path), the
  *    decimals sum exactly, the sum casts back to double, divides by
  *    the member count in double, and narrows to float.
  */
object LocalTrain {

  /** Σ floor(a_i·b_i·1e16) as Long over min(len) — DotScaledKernel. */
  def dotScaled(a: Array[Float], b: Array[Float]): Long = {
    val n = math.min(a.length, b.length)
    var s = 0L
    var i = 0
    while (i < n) {
      s += math.floor(a(i).toDouble * b(i).toDouble * 1e16).toLong
      i += 1
    }
    s
  }

  def normScaled(a: Array[Float]): Long = dotScaled(a, a)

  /** Spark's SQL double ordering: ±0.0 compare equal, NaN is largest
    * and equal to itself (SQLOrderingUtil.compareDoubles).
    */
  @inline private def cmpDouble(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** cosineFromScaled's exact IEEE operation order. */
  @inline private def cosine(dot: Long, na: Long, nb: Long): Double =
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))

  /** Core.dsum of float members followed by `(s / n).cast("float")`:
    * each member casts float→double→Decimal(38,6) HALF_UP through the
    * double's shortest decimal form (Spark's Cast float→decimal is
    * Decimal(x.toDouble), i.e. BigDecimal(Double.toString) — NOT the
    * binary expansion `new BigDecimal(double)`), the decimals add
    * exactly, and the sum→double→÷n→float chain is plain IEEE.
    */
  private def decimalMeanFloat(values: Iterable[Float]): Float = {
    var s = JBigDecimal.ZERO
    var n = 0L
    values.foreach { x =>
      s = s.add(new JBigDecimal(java.lang.Double.toString(x.toDouble))
        .setScale(6, RoundingMode.HALF_UP))
      n += 1
    }
    (s.doubleValue() / n.toDouble).toFloat
  }

  /** [[Similarity.kmeansCentroids]] in one JVM loop: assign every
    * sample vector to the argmax-cosine centroid (min over the
    * (−csim, cid) struct order), recompute each centroid as the
    * per-dimension decimal-exact mean of its members, repeat. Empty
    * clusters drop out; ragged member lengths contribute to exactly
    * the positions they have (the posexplode semantics). Returns
    * (cid, cemb) rows.
    */
  def kmeans(sample: Array[(Long, Array[Float])],
             init: Array[(Long, Array[Float])],
             iters: Int): Array[(Long, Array[Float])] = {
    var cent: Array[(Long, Array[Float])] = init
    val sampleNorms = sample.map { case (_, e) => normScaled(e) }
    for (_ <- 1 to iters) {
      val cn = cent.map { case (_, ce) => normScaled(ce) }
      // assignment: argmin over struct(negate(csim), cid)
      val members = new java.util.TreeMap[Long,
        scala.collection.mutable.ArrayBuffer[Array[Float]]]()
      var vi = 0
      while (vi < sample.length) {
        val (_, e) = sample(vi)
        val en = sampleNorms(vi)
        var bestCid = 0L
        var bestKey = 0d
        var first = true
        var ci = 0
        while (ci < cent.length) {
          val (cid, ce) = cent(ci)
          val key = -cosine(dotScaled(e, ce), en, cn(ci))
          val better = first || {
            val c = cmpDouble(key, bestKey)
            c < 0 || (c == 0 && cid < bestCid)
          }
          if (better) { bestCid = cid; bestKey = key; first = false }
          ci += 1
        }
        if (!first) {
          val buf = members.computeIfAbsent(bestCid,
            _ => scala.collection.mutable.ArrayBuffer
              .empty[Array[Float]])
          buf += e
        }
        vi += 1
      }
      // per-dimension decimal-exact means; ragged lengths per position
      val next = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[Float])]
      members.forEach { (cid, mems) =>
        val maxLen = mems.iterator.map(_.length).max
        val cemb = Array.tabulate(maxLen) { p =>
          decimalMeanFloat(mems.iterator.filter(_.length > p)
            .map(_(p)).toSeq)
        }
        next += ((cid, cemb))
      }
      cent = next.toArray
    }
    cent
  }

  /** [[SimilarityPq]]'s sample-bounded `pqTrainSliced` in one JVM
    * loop: slice every sample vector into m subspaces (Spark slice
    * semantics — a truncated vector yields short/empty tail slices),
    * seed each subspace's codebook with the seed ids' slices, then
    * iterate: integer-domain argmin assignment
    * (d2 = normScaled(cw) − 2·dotScaled(sv, cw), (d2, code) order) and
    * the decimal-exact per-position mean. A codeword whose members all
    * have an empty slice at a position contributes no row there (the
    * posexplode semantics); a codeword with no members drops out.
    * Returns (sub, code, cw) rows.
    */
  def pqTrain(sample: Array[(Long, Array[Float])], m: Int, sub: Int,
              seeds: Array[Long], iters: Int)
      : Array[(Int, Long, Array[Float])] = {
    val seedSet = seeds.toSet
    // long-form slices: (id, sub, sv) — all m subs per id, sv possibly
    // short/empty (slice past the array end)
    def slices(e: Array[Float]): Array[Array[Float]] =
      Array.tabulate(m) { j =>
        e.slice(j * sub, math.min(e.length, j * sub + sub))
      }
    val corpus = sample.map { case (id, e) => (id, slices(e)) }
    // codebook per subspace: sorted map code -> cw
    var book: Array[scala.collection.immutable.TreeMap[Long, Array[Float]]] =
      Array.tabulate(m) { j =>
        scala.collection.immutable.TreeMap(
          corpus.collect { case (id, sl) if seedSet(id) => id -> sl(j) }
            .toSeq: _*)
      }
    for (_ <- 1 to iters) {
      val bookNorms: Array[Map[Long, Long]] =
        book.map(_.map { case (c, cw) => c -> normScaled(cw) })
      // members(sub)(code) -> member slices
      val members = Array.fill(m)(new java.util.TreeMap[Long,
        scala.collection.mutable.ArrayBuffer[Array[Float]]]())
      corpus.foreach { case (_, sl) =>
        var j = 0
        while (j < m) {
          val sv = sl(j)
          var bestCode = 0L
          var bestD2 = 0L
          var first = true
          book(j).foreach { case (code, cw) =>
            val d2 = bookNorms(j)(code) - 2L * dotScaled(sv, cw)
            if (first || d2 < bestD2 ||
                (d2 == bestD2 && code < bestCode)) {
              bestCode = code; bestD2 = d2; first = false
            }
          }
          if (!first) {
            members(j).computeIfAbsent(bestCode,
              _ => scala.collection.mutable.ArrayBuffer
                .empty[Array[Float]]) += sv
          }
          j += 1
        }
      }
      book = Array.tabulate(m) { j =>
        var next = scala.collection.immutable.TreeMap
          .empty[Long, Array[Float]]
        members(j).forEach { (code, mems) =>
          val maxLen = mems.iterator.map(_.length).max
          if (maxLen > 0) {
            val cw = Array.tabulate(maxLen) { p =>
              decimalMeanFloat(mems.iterator.filter(_.length > p)
                .map(_(p)).toSeq)
            }
            next += (code -> cw)
          }
        }
        next
      }
    }
    book.zipWithIndex.flatMap { case (bm, j) =>
      bm.map { case (code, cw) => (j, code, cw) }
    }
  }
}
