package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Core._

/** The product-quantization wing of [[Similarity]] (split out at r14 —
  * the combined file had outgrown one review pass): PQ training /
  * encoding / ADC search, packed-code serving, and the IVF+PQ composites.
  * Self-typed onto `Similarity.type` so the two files share one public
  * object and the scaled-long determinism contract documented there.
  */
trait SimilarityPq { this: Similarity.type =>
  /** Product-quantization ANN (asymmetric-distance, inner-product form).
    * The embedding splits into `m` contiguous subspaces; each subspace
    * gets its own codebook (deterministic Lloyd over the sub-vectors —
    * all m subspaces train TOGETHER in one long-form frame, so an
    * iteration is ONE broadcast join + ONE aggregation over the corpus,
    * not m of each); the corpus is then ENCODED as m small codes. That
    * encoding is the point at 100 TB: a 64-float vector becomes m=4
    * codebook ids (≈4 bytes, 64× smaller), so the searchable corpus is
    * RAM-resident where raw embeddings are not — IVF prunes candidates,
    * PQ shrinks them.
    *
    * Query path (ADC): each probe precomputes an m×|codebook| lookup
    * table of scaled-long partial dots, and every candidate scores as m
    * integer table-lookups + an integer sum. Scaled-long floors are
    * additive over the subspace concatenation, so adot and the
    * reconstruction norm are EXACTLY dotScaled/normScaled of probe ×
    * reconstructed candidate — order-independent and bit-identical across
    * partitionings. Codeword assignment minimizes L2 in the same integer
    * domain: argmin ‖sv−cw‖² = argmin (‖cw‖²·1e16 − 2·dotScaled(sv,cw)),
    * no division, (d2, code) total order. The ADC approximate cosine
    * selects a per-probe shortlist that stage 2 re-ranks exactly (see
    * [[pqTopK]]); recall vs brute force is bounded in SimilaritySpec
    * (the approximation has no SQL oracle).
    */
  /** Long-form subspace slicing: (id, sub, sv) with sub ∈ [0, m). */
  private[operators] def pqSliced(df: DataFrame, m: Int, sub: Int): DataFrame = df
    .select(col("vec_id").as("id"),
      posexplode(array((0 until m).map(j =>
        slice(col("embedding"), j * sub + 1, sub)): _*)))
    .select(col("id"), col("pos").as("sub"), col("col").as("sv"))

  /** Nearest-codeword assignment for every (id, sub) sub-vector, in the
    * scaled-long integer domain: argmin ‖sv−cw‖² = argmin
    * (normScaled(cw) − 2·dotScaled(sv, cw)) — no division, (d2, code)
    * total order, so assignments are bit-identical across partitionings.
    */
  private def pqAssign(slices: DataFrame, book: DataFrame,
                       keepSv: Boolean = false): DataFrame = {
    // aggregate argmin, not a sort window: min_by over the lexicographic
    // (d2, code) struct picks the identical codeword but partial-
    // aggregates map-side — one survivor per (id, sub) group leaves each
    // partition, the candidate rows themselves never cross the wire.
    // Default output is NARROW (id, sub, code): the sub-vector is
    // projected away before the aggregate — with sv inside the min_by
    // value struct the per-(codebook-candidate) rows carried the array
    // through the SortAggregate's sorts (the same measured 100× term as
    // ivfAssign's wide argmax), and the corpus-scale callers (encode,
    // search) never read sv. keepSv=true keeps the r8 wide form for the
    // ONE consumer that needs sv back — the Lloyd mean recompute — whose
    // input is sample-bounded by contract, where the wide struct is
    // cheaper than two extra join stages per training iteration.
    val base =
      if (keepSv) slices
      else spreadPartitions(slices)
    val scored = base
      .join(broadcast(book.withColumn("cn", normScaled(col("cw")))),
        Seq("sub"))
      .withColumn("d2", col("cn") - lit(2L) * dotScaled(col("sv"), col("cw")))
    if (keepSv)
      scored.groupBy(col("id"), col("sub"))
        .agg(min_by(struct(col("code"), col("sv")),
          struct(col("d2"), col("code"))).as("pick"))
        .select(col("id"), col("sub"),
          col("pick.code").as("code"), col("pick.sv").as("sv"))
    else
      scored.select(col("id"), col("sub"), col("code"), col("d2"))
        .groupBy(col("id"), col("sub"))
        .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
  }

  /** Corpus-scale assignment through the fused argmin kernel
    * ([[graft.plans.PqAssignKernel]]): the codebook — artifact-sized by
    * construction, m × ≤kCodes rows — is collected once to the driver,
    * packed per subspace with codes ascending, and embedded in a
    * codegen'd expression that computes all m argmins per vector in one
    * JVM loop. Emits the same (id, sub, code) long form as [[pqAssign]]
    * with bit-identical codes (same scaled-long floors, same (d2, code)
    * order, same truncation semantics — pinned in SimilaritySpec), but
    * with NO slice explode, NO m·K× candidate join, NO min_by
    * SortAggregate: the long form put ~640M rows through a sort (a
    * disk-filling spill) to encode 2M vectors at the 1000× replica,
    * for an argmin that is m·K·sub multiplies per vector. Training
    * keeps the long form — its input is sample-bounded by contract and
    * the Lloyd mean needs the sub-vectors back.
    */
  private def pqAssignViaKernel(vecs: DataFrame, book: DataFrame,
                                m: Int, sub: Int): DataFrame = {
    val pb = assignBook(collectBookRows(book), m, sub, dense = false)
    spreadPartitions(vecs)
      .select(col("vec_id").as("id"),
        posexplode_outer(
          graft.plans.Expressions.pqAssignCodes(col("embedding"), pb)))
      .select(col("id"), col("pos").as("sub"), col("col").as("code"))
  }

  /** One driver-side read of the artifact-sized codebook — shared by
    * the kernel paths and the packed-serving geometry so a query never
    * pays separate max(sub)/first(cw)/window/kMax jobs over the same
    * few-hundred-row frame (r16; on a LocalRelation codebook from the
    * local trainer this collect is job-free).
    */
  private def collectBookRows(book: DataFrame)
      : Array[(Int, Long, Array[Float])] =
    book.select(col("sub").cast("int"), col("code").cast("long"),
        col("cw"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))

  /** Build the [[graft.plans.PqAssignBook]] from collected rows; with
    * `dense` the code ids are relabeled to their per-subspace dense
    * rank (0..K−1 in code-ascending order — [[pqDenseBook]]'s exact
    * rule). The relabeling is order-preserving, so the (d2, code)
    * argmin picks the identical codeword and the kernel emits the
    * dense id directly.
    */
  private def assignBook(rows: Array[(Int, Long, Array[Float])], m: Int,
                         sub: Int, dense: Boolean)
      : graft.plans.PqAssignBook = {
    val bySub = Array.fill(m)(
      scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])])
    rows.foreach { case (s, c, w) =>
      require(s >= 0 && s < m,
        s"pqAssignViaKernel: codebook sub $s outside 0..${m - 1}")
      bySub(s) += ((c, w))
    }
    val sorted = bySub.map(_.sortBy(_._1).toArray)
    graft.plans.PqAssignBook(
      m, sub,
      if (dense) sorted.map(a => Array.tabulate(a.length)(_.toLong))
      else sorted.map(_.map(_._1)),
      sorted.map(_.map(_._2)),
      // normScaled replayed in the DotScaledKernel math: Σ floor(w²·1e16)
      sorted.map(_.map { case (_, w) =>
        w.map(x => math.floor(x.toDouble * x.toDouble * 1e16).toLong).sum
      }))
  }

  /** The collected codebook's dense geometry: (m, width of the first
    * collected codeword — the same probe the head-job form read, kMax =
    * max per-subspace codeword count, and the dense book rows
    * (sub, code, dense, cw)).
    */
  private def denseGeom(rows: Array[(Int, Long, Array[Float])])
      : (Int, Int, Long, Array[(Int, Long, Long, Array[Float])]) = {
    require(rows.nonEmpty, "pq geometry: empty codebook")
    val m = rows.iterator.map(_._1).max + 1
    val width = rows.head._3.length
    val denseRows = rows.groupBy(_._1).toArray.flatMap { case (s, rs) =>
      rs.sortBy(_._2).zipWithIndex.map { case ((_, c, w), d) =>
        (s, c, d.toLong, w) }
    }
    val kMax = denseRows.groupBy(_._1).valuesIterator.map(_.length).max
    (m, width, kMax.toLong, denseRows)
  }

  /** Encode + pack in ONE map-side kernel pass: the dense-relabeled
    * [[assignBook]] makes [[graft.plans.PqAssignKernel]] emit each
    * vector's m dense ids directly, and packBytes lays them out as the
    * binary cell — no slice explode, no dense-book join, no
    * groupBy(vec_id, sub)/groupBy(vec_id) re-assembly exchanges
    * (the two corpus-wide shuffles `pqPackCodes(pqEncode(...))` pays to
    * arrive at the same bytes; SimilaritySpec pins byte equality).
    * The long-form [[pqPackCodes]] stays for ARTIFACT codes, where
    * replica rows and truncated artifacts need the dup-safe collapse.
    */
  def pqEncodePacked(vecs: DataFrame, codebook: DataFrame): DataFrame = {
    val rows = collectBookRows(codebook)
    val (m, width, _, _) = denseGeom(rows)
    // pqEncode's loud guards, unchanged: a codebook trained on
    // different-dimension vectors must not silently slice off the tail
    val dim = vecs.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0,
      s"pqEncodePacked: dim $dim not divisible into $m subspaces")
    require(width == dim / m,
      s"pqEncodePacked: codeword width $width != subspace width ${dim / m}")
    val pb = assignBook(rows, m, dim / m, dense = true)
    spreadPartitions(vecs)
      .select(col("vec_id"),
        graft.plans.Expressions.packBytes(
          graft.plans.Expressions.pqAssignCodes(col("embedding"), pb))
          .as("pcodes"))
  }

  /** Train the m per-subspace codebooks — deterministic Lloyd, all m
    * subspaces TOGETHER in one long-form frame, so an iteration is ONE
    * broadcast join + ONE aggregation over the corpus, not m of each.
    * Seeding follows the n3/n4 convention (sub-vectors of every
    * `sampleStride`-th vec_id); empty codewords drop out. Returns
    * (sub, code, cw).
    */
  def pqTrain(vecs: DataFrame, m: Int = 4, iters: Int = 2,
              sampleStride: Long = 50L): DataFrame = {
    val dim = vecs.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"pqTrain: dim $dim not divisible into $m subspaces")
    pqTrainSliced(pqSliced(vecs, m, dim / m), iters,
      col("id") % sampleStride === 0)
  }

  /** Sample-bounded PQ codebook training — the PQ analogue of
    * [[sampledTrainCentroids]] and, since r12, the geometry [[pqTopK]]
    * and [[ivfPqTopK]] actually ship (the retired fixed-stride seed made
    * the codebook size ∝ n and ran Lloyd over the FULL corpus — O(n²)
    * training, measured 75/64 s at 10× in SCALING.json). The training
    * set is every `mod`-th vector with `mod = max(1, n/targetSample)` —
    * ≤ ~2·targetSample rows whatever the corpus size — and seeds are
    * every `max(1, sn/kCodes)`-th sample member BY RANK
    * ([[Similarity.sampleSeedIds]] — on dense ids exactly the
    * historical second modulus; on arithmetically structured id spaces
    * the modulus collapsed to seeds = the whole sample, r15), so
    * training is O(targetSample · kCodes · m · iters), CONSTANT in
    * corpus size. Encoding stays the one linear pass PQ always pays.
    * The sample modulus is COUNT(*) arithmetic and the seed ranks are
    * a window over the sample, so the DuckDB oracle replays training
    * bit-for-bit.
    */
  def pqTrainSampled(vecs: DataFrame, m: Int = 8, iters: Int = 2,
                     targetSample: Long = 400L, kCodes: Long = 40L)
      : DataFrame = {
    val dim = vecs.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0,
      s"pqTrainSampled: dim $dim not divisible into $m subspaces")
    pqSampledBook(vecs, m, dim / m, iters, targetSample, kCodes)
  }

  /** The sample-bounded codebook shared by [[pqTrainSampled]],
    * [[pqTopK]] and [[ivfPqTopK]]: below
    * [[Similarity.LocalTrainMaxRows]] expected sample rows the whole
    * train loop runs driver-local ([[LocalTrain.pqTrain]] — the sample
    * id list was already a driver collect; byte equality with the
    * distributed loop pinned in LocalTrainSpec) and the returned
    * codebook is a LocalRelation, so the two-consumer pattern
    * (pqAssignViaKernel's collect + the LUT join broadcast) costs no
    * Spark jobs at all. Above the bound: the distributed loop, with
    * rank-based seeds (see Similarity.sampleSeedIds — identical to the
    * historical second modulus on dense ids, kCodes-bounded on any id
    * structure, so the codebook can never outgrow the packed-code byte
    * domain).
    */
  private def pqSampledBook(vecs: DataFrame, m: Int, sub: Int, iters: Int,
                            targetSample: Long, kCodes: Long): DataFrame = {
    val n = vecs.select(count(lit(1))).head().getLong(0)
    val mod = math.max(1L, n / targetSample)
    if (Similarity.localTrainFits(n, targetSample, kCodes)) {
      // r17 (r16 advice): hard-bounded collect, re-gated on the ACTUAL
      // sample size — a structured id space can make the modulus filter
      // pass far more than the expected count (see
      // Similarity.collectSampleVecsBounded); overflow falls through to
      // the bit-identical distributed loop.
      collectSampleVecsBounded(vecs, mod) match {
        case Some(sample) if sample.length.toLong *
            math.max(1L, kCodes) <= Similarity.LocalTrainMaxPairs =>
          val seeds = seedsByRank(sample.map(_._1).distinct.sorted,
            kCodes, mod)
          return localBookDf(vecs.sparkSession,
            graft.operators.LocalTrain.pqTrain(sample, m, sub, seeds,
              iters))
        case _ => ()
      }
    }
    val seeds = sampleSeedIds(vecs, mod, kCodes)
    pqTrainSliced(pqSliced(vecs, m, sub).filter(col("id") % mod === 0),
      iters, col("id").isInCollection(seeds))
  }

  /** (sub, code, dense, cw) rows as a LocalRelation — [[pqDenseBook]]'s
    * output shape from already-collected rows (no window exchange).
    */
  private def localDenseBookDf(spark: org.apache.spark.sql.SparkSession,
                               rows: Array[(Int, Long, Long, Array[Float])])
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("sub", IntegerType, nullable = false),
      StructField("code", LongType, nullable = false),
      StructField("dense", LongType, nullable = false),
      StructField("cw", ArrayType(FloatType, containsNull = true),
        nullable = true)))
    spark.createDataFrame(
      rows.toSeq.map { case (s, c, d, w) => Row(s, c, d, w.toSeq) }.asJava,
      schema)
  }

  /** (sub, code, cw) rows as a LocalRelation — the codebook shape the
    * search paths consume (sub matches pqSliced's posexplode INT).
    */
  private def localBookDf(spark: org.apache.spark.sql.SparkSession,
                          rows: Array[(Int, Long, Array[Float])])
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("sub", IntegerType, nullable = false),
      StructField("code", LongType, nullable = false),
      StructField("cw", ArrayType(FloatType, containsNull = true),
        nullable = true)))
    spark.createDataFrame(
      rows.toSeq.map { case (s, c, w) => Row(s, c, w.toSeq) }.asJava,
      schema)
  }

  /** [[pqTrain]] over an already-sliced corpus — lets [[pqTopK]] share one
    * dimension probe and one slicing across train + encode instead of
    * re-deriving both (each `select(size).head` is a driver job; the
    * search path strings a dozen such stages together, so redundant ones
    * show up directly in latency).
    */
  private[operators] def pqTrainSliced(corpus: DataFrame, iters: Int,
                                       seedFilter: Column): DataFrame = {
    var cb = corpus.filter(seedFilter)
      .select(col("sub"), col("id").as("code"), col("sv").as("cw"))
    for (_ <- 1 to iters) {
      // keepSv: the training corpus is sample-bounded by contract, so
      // the wide argmin is cheaper here than two join stages per
      // iteration (the corpus-scale encode path stays narrow)
      cb = pqAssign(corpus, cb, keepSv = true)
        .select(col("sub"), col("code"), posexplode(col("sv")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(graft.functions.Core.dsum(col("col")).as("s"),
          count(lit(1)).as("n"))
        .withColumn("mv", (col("s") / col("n")).cast("float"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mv")))),
          e => e.getField("mv")).as("cw"))
        // tiny codebook, but consumers (encode + the ADC lookup table)
        // would otherwise each re-run every Lloyd iteration — truncate
        .localCheckpoint(true)
    }
    // contract: the returned frame is ALWAYS a materialized
    // localCheckpoint (iters=0 would otherwise hand back the lazy seed
    // filter), so the two-consumer pattern every search path uses —
    // pqAssignViaKernel's artifact-sized collect + pqSearch's LUT join —
    // re-reads ~m·kCodes checkpointed rows instead of re-running
    // training
    if (iters == 0) cb.localCheckpoint(true) else cb
  }

  /** Encode the corpus against a trained codebook: (vec_id, sub, code) —
    * m small ids per vector, the 64×-compressed searchable form that is
    * the artifact a real corpus build persists.
    */
  def pqEncode(vecs: DataFrame, codebook: DataFrame): DataFrame = {
    val dim = vecs.select(size(col("embedding"))).head().getInt(0)
    val head = codebook.select(max(col("sub")), size(first(col("cw")))).head()
    val m = head.getInt(0) + 1
    // mirror pqTrain's guard: a codebook trained on different-dimension
    // vectors would otherwise silently slice() off the tail dimensions
    require(dim % m == 0, s"pqEncode: dim $dim not divisible into $m subspaces")
    require(head.getInt(1) == dim / m,
      s"pqEncode: codeword width ${head.getInt(1)} != subspace width ${dim / m}")
    pqAssignViaKernel(vecs, codebook, m, dim / m)
      .select(col("id").as("vec_id"), col("sub"), col("code"))
  }

  /** Two-stage PQ search, the standard serving shape: stage 1 scores the
    * WHOLE corpus from its m-code encodings by integer table-lookup (ADC)
    * and keeps a `shortlist` per probe; stage 2 re-ranks only the
    * shortlist with the exact scaled-long cosine against raw embeddings.
    * Raw vectors are touched for shortlist rows alone — at 100 TB the
    * codes live in RAM and the embeddings on slow storage, which is the
    * entire point of PQ. Reported cosines are exact (stage 2), so hits
    * agree with brute force; recall = P(true neighbor survives the ADC
    * shortlist), bounded in SimilaritySpec.
    *
    * Training is SAMPLE-BOUNDED since r12 ([[pqTrainSampled]]'s moduli —
    * a fixed ~kCodes codebook trained on ≤ ~2·targetSample vectors), so
    * the in-query train stage is constant-cost in corpus size; the
    * retired fixed-stride geometry (codebook ∝ n, full-corpus Lloyd) was
    * measured O(n²) at 10× in SCALING.json.
    */
  def pqTopK(probes: DataFrame, vecs: DataFrame, k: Int, m: Int = 8,
             iters: Int = 2, targetSample: Long = 400L,
             kCodes: Long = 40L, shortlist: Int = 50): DataFrame = {
    val dim = vecs.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"pqTopK: dim $dim not divisible into $m subspaces")
    val cb = pqSampledBook(vecs, m, dim / m, iters, targetSample, kCodes)
    val codes = pqAssignViaKernel(vecs, cb, m, dim / m)
      .select(col("id").as("cand_id"), col("sub"), col("code"))
    pqSearch(probes, vecs, cb, codes, k, m, dim / m, shortlist)
  }

  /** PQ search against PERSISTED build artifacts — the real serving
    * lifecycle: `pqTrain` + `pqEncode` run once per corpus build and land
    * as parquet (codes are deterministic, so the artifacts are stable
    * across rebuilds — SimilaritySpec proves the write/read round-trip);
    * every query then pays ONLY the ADC scan + shortlist re-rank, never
    * retraining. `codes` is the (vec_id, sub, code) frame pqEncode
    * produces; `vecs` supplies raw embeddings for the exact re-rank of
    * shortlist rows alone. Replica code rows in the artifact (re-ingested
    * vectors, retried writes) are collapsed by the dup-safe ADC
    * ([[adcCollapse]]) instead of double-counting.
    */
  def pqTopKFromCodes(probes: DataFrame, vecs: DataFrame,
                      codebook: DataFrame, codes: DataFrame, k: Int,
                      shortlist: Int = 50): DataFrame = {
    // geometry comes from the CODEBOOK (m subspaces × codeword width),
    // never from probes.head() — an empty probe batch is routine serving
    // input and must yield an empty result, not a driver exception;
    // probes of the wrong dimension still fail loudly in pqSliced's
    // slice arithmetic via the encode-side guards
    val head = codebook.select(max(col("sub")), size(first(col("cw")))).head()
    val m = head.getInt(0) + 1
    val width = head.getInt(1)
    require(width > 0, "pqTopKFromCodes: empty codewords in codebook")
    pqSearch(probes, vecs, codebook,
      codes.select(col("vec_id").as("cand_id"), col("sub"), col("code")),
      k, m, width, shortlist, dupSafe = true)
  }

  /** Dense re-coding of a trained codebook: training names codewords by
    * their SEED vec_id (arbitrary longs), but the packed byte artifact
    * needs contiguous per-subspace ids. Ranks codes within each subspace
    * (code asc — deterministic, so the pack and every probe LUT agree)
    * and returns (sub, code, dense, cw). The window runs over the
    * codebook only (m·kCodes rows, ≤ a few hundred).
    */
  def pqDenseBook(codebook: DataFrame): DataFrame =
    codebook.withColumn("dense",
      (row_number().over(Window.partitionBy(col("sub"))
        .orderBy(col("code"))) - 1).cast("long"))

  /** Pack a long-form (vec_id, sub, code) encoding into the byte-laid-out
    * PQ artifact (vec_id, pcodes binary) — one byte per subspace in sub
    * order, dense ids from [[pqDenseBook]]. This is the form the packed
    * ADC kernel serves from: m× fewer artifact rows than the long form,
    * and a candidate's whole code word reads as one binary cell.
    * Replica rows collapse to max(dense) per subspace — the same
    * deterministic pick as the dup-safe [[adcCollapse]]'s max-code,
    * since dense ranks are monotone in code. Vectors missing a subspace
    * row (a truncated artifact) are DROPPED, mirroring the long-form
    * fold where an incomplete candidate NULLs out of the shortlist —
    * absent, never wrongly scored. >256 codewords per subspace fail
    * loudly in the byte packer, not alias.
    */
  def pqPackCodes(codes: DataFrame, codebook: DataFrame): DataFrame = {
    // dense book + m from ONE collect of the artifact-sized codebook
    // (r16) — the window/max-head form paid two extra Spark jobs per
    // call (per MICRO-BATCH on the streaming maintenance path)
    val (m, _, _, denseRows) = denseGeom(collectBookRows(codebook))
    val db = localDenseBookDf(codebook.sparkSession, denseRows)
    codes.select(col("vec_id"), col("sub"), col("code"))
      .join(broadcast(db.select(col("sub"), col("code"), col("dense"))),
        Seq("sub", "code"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(max(col("dense")).as("dense"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("nsub"),
        array_sort(collect_list(struct(col("sub"), col("dense"))))
          .as("sd"))
      .filter(col("nsub") === m)
      .select(col("vec_id"),
        graft.plans.Expressions.packBytes(
          transform(col("sd"), e => e.getField("dense").cast("long")))
          .as("pcodes"))
  }

  /** Per-probe FLATTENED lookup table for the packed ADC kernel:
    * (probe_id, pdots, cns) where both arrays index `sub·K + dense`,
    * K = max per-subspace codeword count (training drops empty
    * codewords, so subspaces can be ragged — pad slots hold 0 and are
    * never indexed, because packed codes only carry dense ids that
    * exist in the book). Values are the same scaled longs the long-form
    * LUT carries; only the layout changes.
    */
  private def pqProbeLut(probes: DataFrame, db: DataFrame, m: Int,
                         sub: Int, kMax: Long): DataFrame = {
    val slots = m * kMax
    pqSliced(probes, m, sub)
      .join(broadcast(db.withColumn("cn", normScaled(col("cw")))),
        Seq("sub"))
      .select(col("id").as("probe_id"),
        (col("sub") * kMax + col("dense")).as("slot"),
        dotScaled(col("sv"), col("cw")).as("pdot"), col("cn"))
      .groupBy(col("probe_id"))
      .agg(
        map_from_entries(collect_list(struct(col("slot"), col("pdot"))))
          .as("pm"),
        map_from_entries(collect_list(struct(col("slot"), col("cn"))))
          .as("cm"))
      .select(col("probe_id"),
        transform(sequence(lit(0L), lit(slots - 1L)),
          i => coalesce(element_at(col("pm"), i), lit(0L))).as("pdots"),
        transform(sequence(lit(0L), lit(slots - 1L)),
          i => coalesce(element_at(col("cm"), i), lit(0L))).as("cns"))
  }

  /** PQ search from the PACKED byte artifact ([[pqPackCodes]]) — the
    * RAM-layout serving twin of [[pqTopKFromCodes]]: the corpus streams
    * as ONE row per candidate (m× fewer than the long form), each pair
    * is scored by a single [[graft.plans.PqAdcKernel]] call inside
    * whole-stage codegen, and no per-pair aggregation exists at all —
    * the shuffle the long-form groupBy paid is gone; only the shortlist
    * ranking window exchanges rows. Integer sums commute, so scores —
    * and therefore the served ranking — are bit-identical to the
    * long-form path (parity pinned in SimilaritySpec); the exact
    * shortlist re-rank is shared code.
    */
  def pqTopKFromPackedCodes(probes: DataFrame, vecs: DataFrame,
                            codebook: DataFrame, packed: DataFrame,
                            k: Int, shortlist: Int = 50): DataFrame = {
    // geometry + dense book + kMax from ONE codebook collect (r16 —
    // replaces the head job, the dense-rank window and the kMax
    // aggregate, three Spark jobs over the same few-hundred-row frame)
    val (m, width, kMax, denseRows) = denseGeom(collectBookRows(codebook))
    require(width > 0, "pqTopKFromPackedCodes: empty codewords in codebook")
    val db = localDenseBookDf(codebook.sparkSession, denseRows)
    val lut = pqProbeLut(probes, db, m, width, kMax)
      .join(probes.select(col("vec_id").as("probe_id"),
        normScaled(col("embedding")).as("pn")), Seq("probe_id"))
    // spread the corpus side: the probe LUT broadcasts, so scoring
    // parallelism is the packed artifact's split count (same starvation
    // as sq8Cand / lshTopK). The fused pq_adc_cos kernel emits the
    // double cosine directly — zero per-pair allocation (the [adot,
    // rnorm] array form is the parity primitive, not the hot path).
    val adc = spreadPartitions(
        packed.select(col("vec_id").as("cand_id"), col("pcodes")))
      .join(broadcast(lut), col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        graft.plans.Expressions.pqAdcCos(col("pcodes"), col("pdots"),
          col("cns"), col("pn")).as("acos"))
    pqShortlistRerank(probes, vecs, adc, k, shortlist)
  }

  /** IVF+PQ search from PERSISTED cells + the PACKED byte artifact —
    * the composite serving twin of [[ivfPqTopKFromCodes]] on the packed
    * layout: cells prune candidates to ~nprobe/nlist of the corpus,
    * each survivor joins its ONE packed row, and the kernel scores the
    * pair with no per-pair aggregation. Replica cells rows would
    * duplicate (probe, cand) pairs and — with no aggregate to absorb
    * them — double-count shortlist slots, so the pruned pair set dedups
    * explicitly; that exchange is over the PRUNED pairs (k·probes·
    * occupancy), never the corpus.
    */
  def ivfPqTopKFromPackedCodes(probes: DataFrame, vecs: DataFrame,
                               centroids: DataFrame, cells: DataFrame,
                               codebook: DataFrame, packed: DataFrame,
                               k: Int, nprobe: Int = Similarity.AutoProbe,
                               shortlist: Int = 50)
      : DataFrame = {
    // one codebook collect for geometry + dense book + kMax (r16, same
    // as pqTopKFromPackedCodes)
    val (m, width, kMax, denseRows) = denseGeom(collectBookRows(codebook))
    require(width > 0,
      "ivfPqTopKFromPackedCodes: empty codewords in codebook")
    val db = localDenseBookDf(codebook.sparkSession, denseRows)
    val lut = pqProbeLut(probes, db, m, width, kMax)
      .join(probes.select(col("vec_id").as("probe_id"),
        normScaled(col("embedding")).as("pn")), Seq("probe_id"))
    val cands = cells.select(col("vec_id").as("cand_id"), col("cid"))
      .join(broadcast(
        ivfAssign(probes, centFrame(centroids), "probe_id",
            Similarity.resolveNprobe(nprobe, centroids))
          .select(col("probe_id"), col("cid"))), Seq("cid"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"))
      .distinct()
    val adc = cands
      .join(packed.select(col("vec_id").as("cand_id"), col("pcodes")),
        Seq("cand_id"))
      .join(broadcast(lut), Seq("probe_id"))
      .select(col("probe_id"), col("cand_id"),
        graft.plans.Expressions.pqAdcCos(col("pcodes"), col("pdots"),
          col("cns"), col("pn")).as("acos"))
    pqShortlistRerank(probes, vecs, adc, k, shortlist)
  }

  /** Collapse a candidate's m joined code rows into the ADC partials
    * (probe_id, cand_id, adot, rnorm). In-query paths use the plain sums
    * — their codes frames are unique per (cand_id, sub) by construction
    * (one pqAssign row each). The artifact-serving `*FromCodes` paths
    * set `dupSafe`: caller-provided cells/codes parquet can legitimately
    * carry replica rows (a vector re-ingested across index slices, a
    * retried artifact write), and sum() over a duplicated (cand_id, sub)
    * row inflates adot/rnorm ~2× and corrupts the shortlist. The
    * dup-safe form picks ONE row per subspace — max over the
    * (code, pdot, cn) struct — so bit-identical replicas collapse at the
    * same single shuffle (no pre-dedup exchange over the corpus-scale
    * codes frame). Conflicting duplicates (same vec re-encoded to a
    * DIFFERENT code without compaction) deterministically pick the max
    * code; a served index with conflicts needs last-wins compaction, not
    * search-side repair.
    */
  private def adcCollapse(joined: DataFrame, m: Int, dupSafe: Boolean)
      : DataFrame = {
    if (!dupSafe)
      joined.groupBy(col("probe_id"), col("cand_id"))
        .agg(sum(col("pdot")).as("adot"), sum(col("cn")).as("rnorm"))
    else {
      val picks = (0 until m).map { s =>
        max(when(col("sub") === lit(s),
          struct(col("code"), col("pdot"), col("cn")))).as(s"w$s")
      }
      val fold = (f: String) =>
        (0 until m).map(s => col(s"w$s").getField(f)).reduce(_ + _)
      joined.groupBy(col("probe_id"), col("cand_id"))
        .agg(picks.head, picks.tail: _*)
        // a candidate missing a subspace row folds to NULL adot/rnorm →
        // NULL acos, which desc-sorts last and never reaches the
        // shortlist (a truncated artifact can't fake a high score)
        .select(col("probe_id"), col("cand_id"),
          fold("pdot").as("adot"), fold("cn").as("rnorm"))
    }
  }

  /** Shared PQ query path: ADC scoring of the encoded corpus + exact
    * re-rank of the shortlist. `codes` carries (cand_id, sub, code);
    * `dupSafe` per [[adcCollapse]] for artifact-provided codes.
    */
  private def pqSearch(probes: DataFrame, vecs: DataFrame, cb: DataFrame,
                       codes: DataFrame, k: Int, m: Int, sub: Int,
                       shortlist: Int, dupSafe: Boolean = false)
      : DataFrame = {
    val book = cb.withColumn("cn", normScaled(col("cw")))
    // ADC lookup table: per-(probe, sub, code) scaled-long partial dot +
    // codeword norm — nprobes × m × |codebook| rows, tiny, broadcast
    val lut = pqSliced(probes, m, sub)
      .join(broadcast(book), Seq("sub"))
      .select(col("id").as("probe_id"), col("sub"), col("code"),
        dotScaled(col("sv"), col("cw")).as("pdot"), col("cn"))
    val pn = probes.select(col("vec_id").as("probe_id"),
      normScaled(col("embedding")).as("pn"))
    // scaled-long floors are additive over the subspace concatenation, so
    // these integer sums are EXACTLY dotScaled/normScaled of probe ×
    // reconstructed candidate — order-independent across partitionings
    val adc = adcCollapse(codes.join(broadcast(lut), Seq("sub", "code")),
        m, dupSafe)
      .filter(col("probe_id") =!= col("cand_id"))
      .join(broadcast(pn), Seq("probe_id"))
      .withColumn("acos",
        cosineFromScaled(col("adot"), col("pn"), col("rnorm")))
    pqShortlistRerank(probes, vecs, adc, k, shortlist)
  }

  /** Shared stage-2 of the PQ searches: keep the `shortlist` best ADC
    * scores per probe, exact-score ONLY those against raw embeddings,
    * return dense top-k. `adc` carries (probe_id, cand_id, acos).
    */
  private def pqShortlistRerank(probes: DataFrame, vecs: DataFrame,
                                adc: DataFrame, k: Int, shortlist: Int)
      : DataFrame = {
    val aw = Window.partitionBy(col("probe_id"))
      .orderBy(col("acos").desc, col("cand_id"))
    val short = adc.withColumn("arank", row_number().over(aw))
      .filter(col("arank") <= shortlist)
      .select(col("probe_id"), col("cand_id"))
    val pv = probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("pe"), normScaled(col("embedding")).as("pn"))
    val cv = vecs.select(col("vec_id").as("cand_id"),
      col("embedding").as("ce"), normScaled(col("embedding")).as("cn"))
    val exact = broadcast(short).join(cv, Seq("cand_id"))
      .join(broadcast(pv), Seq("probe_id"))
      .withColumn("cos", cosineFromScaled(
        dotScaled(col("pe"), col("ce")), col("pn"), col("cn")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    exact
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("cand_id").as("neighbor_id"), round4(col("cos")).as("cosine"))
  }

  /** IVF+PQ composite — the production ANN serving shape (FAISS's
    * IndexIVFPQ minus residual encoding, which would couple the codebook
    * to the partition layout): IVF bucketing prunes the candidate set to
    * the probe's `nprobe` nearest cells, PQ codes compress what remains,
    * ADC scores ONLY the pruned candidates by integer table-lookup, and
    * the shortlist re-ranks exactly. The two levers compose: at 100 TB,
    * IVF bounds how much of the corpus a query touches (~nprobe/nlist)
    * and PQ makes that slice RAM-resident. Every stage is deterministic
    * integer/decimal arithmetic, so the whole composite — bucketing,
    * training, encoding, pruned ADC, re-rank — unrolls into SQL and is
    * hash-verified like n3/n4/n6.
    */
  def ivfPqTopK(probes: DataFrame, vecs: DataFrame, centroids: DataFrame,
                k: Int, nprobe: Int = Similarity.AutoProbe,
                m: Int = 8, iters: Int = 2,
                targetSample: Long = 400L, kCodes: Long = 40L,
                shortlist: Int = 50): DataFrame = {
    val dim = vecs.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0,
      s"ivfPqTopK: dim $dim not divisible into $m subspaces")
    val cent = centFrame(centroids)
    val cands = ivfAssign(vecs, cent, "cand_id", 1)
      .join(broadcast(ivfAssign(probes, cent, "probe_id",
          Similarity.resolveNprobe(nprobe, cent))
        .select(col("probe_id"), col("cid"))), Seq("cid"))
      .filter(col("probe_id") =!= col("cand_id"))
      // (probe_id, cand_id) pairs are unique by construction — one cell
      // per candidate (keep=1), distinct cells per probe — so no dedup
      .select(col("probe_id"), col("cand_id"))
    // sample-bounded codebook training, like pqTopK (r12): fixed ~kCodes
    // codewords from ≤ ~2·targetSample vectors, constant in corpus size
    val cb = pqSampledBook(vecs, m, dim / m, iters, targetSample, kCodes)
    val codes = pqAssignViaKernel(vecs, cb, m, dim / m)
      .select(col("id").as("cand_id"), col("sub"), col("code"))
    val book = cb.withColumn("cn", normScaled(col("cw")))
    val lut = pqSliced(probes, m, dim / m)
      .join(broadcast(book), Seq("sub"))
      .select(col("id").as("probe_id"), col("sub"), col("code"),
        dotScaled(col("sv"), col("cw")).as("pdot"), col("cn"))
    val pn = probes.select(col("vec_id").as("probe_id"),
      normScaled(col("embedding")).as("pn"))
    // ADC over the IVF-pruned pairs only: candidates join their m codes,
    // each code looks up the probe's partial dot in the broadcast LUT
    val adc = cands.join(codes, Seq("cand_id"))
      .join(broadcast(lut), Seq("probe_id", "sub", "code"))
      .groupBy(col("probe_id"), col("cand_id"))
      .agg(sum(col("pdot")).as("adot"), sum(col("cn")).as("rnorm"))
      .join(broadcast(pn), Seq("probe_id"))
      .withColumn("acos",
        cosineFromScaled(col("adot"), col("pn"), col("rnorm")))
    pqShortlistRerank(probes, vecs, adc, k, shortlist)
  }

  /** Corpus→cell assignment as a persistable artifact: (vec_id, cid).
    * The third build artifact of an IVF+PQ index next to the codebook
    * and codes — a real corpus build runs this once and serves from it.
    */
  def ivfCells(vecs: DataFrame, centroids: DataFrame): DataFrame =
    ivfAssign(vecs, centFrame(centroids), "vec_id", 1)

  /** IVF+PQ search against PERSISTED build artifacts — the serving twin
    * of [[ivfPqTopK]], like [[pqTopKFromCodes]] is of [[pqTopK]]: cells
    * ([[ivfCells]]), codebook ([[pqTrain]]) and codes ([[pqEncode]]) are
    * parquet artifacts built once; a query pays only probe bucketing +
    * pruned ADC + shortlist re-rank. Centroids are still needed (tiny —
    * they bucket the probes); raw `vecs` only re-ranks the shortlist.
    */
  def ivfPqTopKFromCodes(probes: DataFrame, vecs: DataFrame,
                         centroids: DataFrame, cells: DataFrame,
                         codebook: DataFrame, codes: DataFrame, k: Int,
                         nprobe: Int = Similarity.AutoProbe,
                         shortlist: Int = 50): DataFrame = {
    // codebook carries the geometry (see pqTopKFromCodes) — empty probe
    // batches serve an empty result instead of throwing on .head()
    val head = codebook.select(max(col("sub")), size(first(col("cw")))).head()
    val m = head.getInt(0) + 1
    val width = head.getInt(1)
    require(width > 0, "ivfPqTopKFromCodes: empty codewords in codebook")
    val dim = m * width
    val cands = cells.select(col("vec_id").as("cand_id"), col("cid"))
      .join(broadcast(
        ivfAssign(probes, centFrame(centroids), "probe_id",
            Similarity.resolveNprobe(nprobe, centroids))
          .select(col("probe_id"), col("cid"))), Seq("cid"))
      .filter(col("probe_id") =!= col("cand_id"))
      // replica cells rows (re-ingested vectors across index slices)
      // duplicate (probe, cand) pairs here; they collapse in the
      // dup-safe [[adcCollapse]] below at no extra shuffle
      .select(col("probe_id"), col("cand_id"))
    val book = codebook.withColumn("cn", normScaled(col("cw")))
    val lut = pqSliced(probes, m, dim / m)
      .join(broadcast(book), Seq("sub"))
      .select(col("id").as("probe_id"), col("sub"), col("code"),
        dotScaled(col("sv"), col("cw")).as("pdot"), col("cn"))
    val pn = probes.select(col("vec_id").as("probe_id"),
      normScaled(col("embedding")).as("pn"))
    val adc = adcCollapse(cands
        .join(codes.select(col("vec_id").as("cand_id"), col("sub"),
          col("code")), Seq("cand_id"))
        .join(broadcast(lut), Seq("probe_id", "sub", "code")),
        m, dupSafe = true)
      .join(broadcast(pn), Seq("probe_id"))
      .withColumn("acos",
        cosineFromScaled(col("adot"), col("pn"), col("rnorm")))
    pqShortlistRerank(probes, vecs, adc, k, shortlist)
  }
}
