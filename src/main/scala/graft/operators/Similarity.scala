package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Core._

/** Embedding-similarity operators: deterministic cosine, brute-force
  * top-k ANN (baseline), and random-hyperplane LSH bucketed ANN (the
  * scale path).
  *
  * Determinism policy for the DuckDB oracle: dot products and norms are
  * accumulated as SCALED LONGS — each elementwise product is floored at
  * 1e16 fixed-point — so the sum is integer arithmetic, independent of
  * accumulation order and bit-identical across engines. (A double sum
  * depends on order; a decimal sum hits Spark's decimal-precision
  * promotion rules. Integers sidestep both.) The final cosine divides the
  * scaled integers in double with an expression shape mirrored exactly in
  * the oracle SQL.
  */
object Similarity extends SimilarityPq {

  /** Σ floor(a[i]·b[i]·1e16) as LONG (order-independent exact integer).
    * Backed by the codegen'd [[graft.plans.DotScaledKernel]] — the lambda
    * form (aggregate ∘ zip_with) is interpreted by Spark and was the
    * whole cost of the brute-force pair scorer at sf0.1.
    */
  def dotScaled(a: Column, b: Column): Column =
    graft.plans.Expressions.dotScaled(a, b)

  /** Σ floor(a[i]²·1e16) as LONG. */
  def normScaled(a: Column): Column = dotScaled(a, a)

  /** cosine from scaled-long dot and norms; double division exactly
    * mirrors the oracle: dot / (sqrt(na) * sqrt(nb)).
    */
  def cosineFromScaled(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** All pairs (a < b) with cosine ≥ theta — brute force. Correctness
    * baseline / small inputs; the LSH variant is the 100 TB path.
    */
  def cosinePairs(vecs: DataFrame, theta: Double): DataFrame = {
    // the nested-loop pair scorer parallelizes over the STREAM side's
    // partitions — spread it, or one small parquet split scores all n²/2
    // pairs in a single task
    val v = spreadPartitions(vecs).select(col("vec_id"), col("embedding"),
      normScaled(col("embedding")).as("nn"))
    v.as("a")
      .join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosineFromScaled(
        dotScaled(col("a.embedding"), col("b.embedding")),
        col("a.nn"), col("b.nn")))
      .filter(col("cos") >= theta)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round4(col("cos")).as("cosine"))
  }

  /** Brute-force cosine top-k: for each probe row, rank every other vector
    * by (cosine desc, vec_id) and keep k. The probe side is expected to be
    * small (broadcast); the candidate side streams — one shuffle for the
    * per-probe ranking window.
    */
  def bruteForceTopK(probes: DataFrame, vecs: DataFrame, k: Int): DataFrame =
    cosTopK(probes,
      vecs.select(col("vec_id").as("cand_id"),
        col("embedding").as("ce"), normScaled(col("embedding")).as("cn")),
      k)

  /** The shared exact-cosine ranking block behind [[bruteForceTopK]] and
    * [[sq8TopK]]/[[sq8TopKFromCodes]]: full-precision probes broadcast
    * against a prepared candidate frame (cand_id, ce, cn), scored by the
    * scaled-long cosine, ranked (cos desc, cand_id) per probe. One place
    * owns the tie-break/rounding contract the n1/n10 oracles pin — the
    * two families cannot silently diverge.
    */
  private def cosTopK(probes: DataFrame, cand: DataFrame, k: Int)
      : DataFrame = {
    val p = probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("pe"), normScaled(col("embedding")).as("pn"))
    val scored = cand.join(broadcast(p), col("probe_id") =!= col("cand_id"))
      .withColumn("cos", cosineFromScaled(
        dotScaled(col("pe"), col("ce")), col("pn"), col("cn")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("cand_id").as("neighbor_id"), round4(col("cos")).as("cosine"))
  }

  /** Per-dimension SQ8 quantization bounds over the corpus: ONE row
    * (mns, mxs) of dim-length double arrays, packed in position order.
    * One aggregate pass (posexplode → per-dim min/max → array pack);
    * the row broadcasts to every encode/search consumer. A corpus build
    * persists it beside the codes — the SQ8 twin of a PQ codebook, 2·dim
    * doubles instead of 256·dim.
    */
  def sq8Stats(vecs: DataFrame): DataFrame =
    vecs.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          e => e.getField("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          e => e.getField("mx")).as("mxs"))

  /** Dequantized embedding under SQ8 bounds: each dimension is encoded
    * to the byte code floor((x−mn)·255/(mx−mn)) clamped to [0,255], then
    * decoded back to mn + code·(mx−mn)/255 — the value an SQ8 index
    * actually scores with. The round-trip composes two fixed-order IEEE
    * chains, and the result rounds through FLOAT so the scaled-long
    * cosine kernel (array<float> input) and the DuckDB twin (CAST REAL)
    * see the identical bits. Degenerate dimensions (mx = mn) decode to
    * mn exactly.
    */
  def sq8Dequant(emb: Column, mns: Column, mxs: Column): Column =
    transform(emb, (x, i) => {
      val mn = element_at(mns, i + lit(1))
      val mx = element_at(mxs, i + lit(1))
      val span = mx - mn
      val code = when(mx === mn, lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L),
          floor((x.cast("double") - mn) * lit(255.0d) / span))))
      (mn + code.cast("double") * span / lit(255.0d)).cast("float")
    })

  /** SQ8 scalar-quantization ANN — the compression point between raw
    * floats and PQ (FAISS's ScalarQuantizer QT_8bit): the index stores
    * ONE BYTE per dimension (4× smaller than float32; PQ's m codes are
    * 32× smaller but need codebook training), candidates score by the
    * asymmetric form — full-precision probe × dequantized candidate —
    * and, unlike PQ's ADC, quantization needs NO training pass beyond
    * one per-dimension min/max aggregate. Scale shape: stats are one
    * tiny broadcast row; encode+decode+score is one map-side pass over
    * the corpus (the same single pass brute force pays, on a 4×-smaller
    * artifact when served from persisted codes); ranking is the n1
    * per-probe window. Fully deterministic integer/IEEE arithmetic →
    * complete DuckDB oracle; SimilaritySpec bounds recall vs n1 (SQ8
    * recall ≫ PQ's at the same fixture — 8 bits/dim vs 8 bits/subspace).
    */
  def sq8TopK(probes: DataFrame, vecs: DataFrame, k: Int): DataFrame =
    sq8Search(probes, sq8Cand(vecs, sq8Stats(vecs)), k)

  /** The dequantized candidate frame (cand_id, ce) shared by [[sq8TopK]]
    * and [[ivfSq8TopK]]: encode∘decode through the codegen'd kernel —
    * bit-identical to the Column-form [[sq8Dequant]] round-trip
    * (CodegenParitySpec pins it); the lambda form is interpreted, the
    * same tax dot_scaled eliminated. ONE owner of the round-trip
    * composition, so the n10/n13 entries can't drift apart.
    */
  private[operators] def sq8Cand(vecs: DataFrame, stats: DataFrame): DataFrame =
    spreadPartitions(vecs).crossJoin(broadcast(stats))
      .select(col("vec_id").as("cand_id"),
        graft.plans.Expressions.sq8Dequant(
          graft.plans.Expressions.sq8Encode(
            col("embedding"), col("mns"), col("mxs")),
          col("mns"), col("mxs")).as("ce"))

  /** Persistable SQ8 artifact: (vec_id, codes binary) — one byte per
    * dimension, the 4×-under-float32 index a corpus build writes next to
    * the one-row [[sq8Stats]] bounds. Codes must stay unique per vec_id
    * (the idempotent batch=<id> maintenance writes guarantee it);
    * replica rows would surface as visibly duplicated neighbors in the
    * served ranking, not silent score corruption.
    */
  def sq8Encode(vecs: DataFrame, stats: DataFrame): DataFrame =
    spreadPartitions(vecs).crossJoin(broadcast(stats))
      .select(col("vec_id"),
        graft.plans.Expressions.sq8Encode(
          col("embedding"), col("mns"), col("mxs")).as("codes"))

  /** [[sq8Encode]] with metadata columns CO-LOCATED in the codes
    * artifact — the production filtered-serving shape: a serve-time
    * metadata predicate (`label < 3`) then prunes the CODES scan itself
    * (parquet row-group min/max → PushedFilters), so a filtered query
    * never reads — let alone dequantizes — the excluded bytes. Without
    * co-location the filter lives on the embeddings table and the serve
    * path pays a join back to raw metadata, dragging the full codes
    * artifact through it first. Sort by the filter columns at write
    * (`.sortWithinPartitions(metaCols:_*)`) so min/max pruning bites;
    * the writer here leaves ordering to the caller — a build pipeline
    * typically has its own layout pass.
    */
  def sq8EncodeWithMeta(vecs: DataFrame, stats: DataFrame,
                        metaCols: Seq[String]): DataFrame =
    spreadPartitions(vecs).crossJoin(broadcast(stats))
      .select(col("vec_id") +: metaCols.map(col) :+
        graft.plans.Expressions.sq8Encode(
          col("embedding"), col("mns"), col("mxs")).as("codes"): _*)

  /** SQ8 search against PERSISTED artifacts — the serving twin of
    * [[sq8TopK]]: stats + codes are parquet built once; a query pays one
    * decode+score pass over the byte codes and never touches the raw
    * float embeddings at all (unlike PQ's shortlist re-rank — SQ8's
    * quantized cosine is accurate enough to serve directly, recall
    * 0.988 on the fixture vs PQ's shortlist-gated path).
    */
  def sq8TopKFromCodes(probes: DataFrame, stats: DataFrame,
                       codes: DataFrame, k: Int): DataFrame = {
    val cand = spreadPartitions(codes).crossJoin(broadcast(stats))
      .select(col("vec_id").as("cand_id"),
        graft.plans.Expressions.sq8Dequant(
          col("codes"), col("mns"), col("mxs")).as("ce"))
    sq8Search(probes, cand, k)
  }

  /** Shared SQ8 scoring: full-precision probes × dequantized candidates
    * through the [[cosTopK]] ranking block n1 uses.
    */
  private def sq8Search(probes: DataFrame, cand: DataFrame, k: Int)
      : DataFrame =
    cosTopK(probes, cand.withColumn("cn", normScaled(col("ce"))), k)

  /** LSH bucket codes: `tables` independent codes of `bits` sign-bits
    * each, as array<long> indexed by table — computed map-side per row by
    * the codegen'd [[graft.plans.LshKernel]] (the Column form —
    * tables×bits aggregate∘zip_with lambdas against a ±1 splitmix64
    * weight literal — is interpreted by Spark; same trap as the cosine).
    * Codes are bit-identical to the retired lambda form: same seeded
    * signs, same ascending-d accumulation order.
    */
  def lshCodes(emb: Column, tables: Int, bits: Int): Column =
    graft.plans.Expressions.lshCodes(emb, tables, bits)

  /** Bucketed ANN: candidates = vectors sharing any (table, code) bucket
    * with the probe, then exact cosine top-k within candidates. Recall is
    * tunable via (tables, bits): more tables → higher recall, more
    * candidates. Never scores the full n² space — the candidate join is an
    * equi-join on the bucket key, so cost tracks bucket occupancy. On
    * clustered real-world embeddings small (tables, bits) suffice; the
    * isotropic synthetic fixture needs several short-code tables (see
    * SimilaritySpec for the measured recall bound).
    */
  def lshTopK(probes: DataFrame, vecs: DataFrame, k: Int,
              tables: Int = 8, bits: Int = 4): DataFrame = {
    def coded(df: DataFrame, idName: String) = df
      .select(col("vec_id").as(idName), col("embedding"),
        normScaled(col("embedding")).as("nn"),
        posexplode(lshCodes(col("embedding"), tables, bits)))
      .select(col(idName), col("embedding"), col("nn"),
        col("pos").as("table"), col("col").as("code"))
    val p = coded(probes, "probe_id")
      .withColumnRenamed("embedding", "pe").withColumnRenamed("nn", "pn")
    // spread the corpus side: with the probe side broadcast, candidate
    // scoring parallelism is the corpus scan's split count (see knnGraph)
    val v = coded(spreadPartitions(vecs), "cand_id")
      .withColumnRenamed("embedding", "ce").withColumnRenamed("nn", "cn")
    rankBucketCands(
      v.join(broadcast(p), Seq("table", "code")), k)
  }

  /** Shared tail of the LSH bucket searches: score each bucket-join row
    * in place (norms are precomputed per VECTOR before the bucket
    * explode, not per pair), project the pairs NARROW, rank with
    * dense_rank, and dedupe only the filtered head. A pair sharing
    * several buckets appears once per bucket with an IDENTICAL
    * (cos desc, cand_id) sort key, so dense_rank gives every duplicate
    * the same rank and equals row_number over the distinct pairs —
    * which lets the pre-rank `dropDuplicates` go. That dedup was the
    * scale bottleneck of this family: it shuffled the full candidate
    * set WIDE (both embeddings per row), while the window here shuffles
    * (probe_id, cand_id, cos) rows that WindowGroupLimit has already
    * pruned to ~k per probe per map partition.
    */
  private def rankBucketCands(bucketJoin: DataFrame, k: Int): DataFrame = {
    val scored = bucketJoin
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("cos", cosineFromScaled(
        dotScaled(col("pe"), col("ce")), col("pn"), col("cn")))
      .select(col("probe_id"), col("cand_id"), col("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored
      .withColumn("rank", dense_rank().over(w))
      .filter(col("rank") <= k)
      .dropDuplicates("probe_id", "cand_id")
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("cand_id").as("neighbor_id"), round4(col("cos")).as("cosine"))
  }

  /** Multi-probe LSH ANN: like [[lshTopK]], but each probe also searches
    * the buckets whose code differs from its own in exactly ONE bit (the
    * classic multi-probe trick — a near neighbor that lands just across
    * one hyperplane is found without adding tables). Probe-side bucket
    * keys go from `tables` to `tables × (1+bits)`; the candidate set —
    * and so the cost — grows with actual bucket occupancy, while recall
    * rises at the SAME signature storage cost, which is the trade that
    * matters at 100 TB: tables cost a corpus-wide column, probes only
    * cost the (small) query side. Candidate scoring and ranking are
    * identical to the single-probe path.
    */
  def lshTopKMultiProbe(probes: DataFrame, vecs: DataFrame, k: Int,
                        tables: Int = 8, bits: Int = 4): DataFrame = {
    def coded(df: DataFrame, idName: String) = df
      .select(col("vec_id").as(idName), col("embedding"),
        normScaled(col("embedding")).as("nn"),
        posexplode(lshCodes(col("embedding"), tables, bits)))
      .select(col(idName), col("embedding"), col("nn"),
        col("pos").as("table"), col("col").as("code"))
    val flips = (0 until bits).map(b =>
      col("code").bitwiseXOR(lit(1L << b)))
    val p = coded(probes, "probe_id")
      .withColumn("code", explode(array(col("code") +: flips: _*)))
      .withColumnRenamed("embedding", "pe").withColumnRenamed("nn", "pn")
    // spread the corpus side — same starvation as lshTopK
    val v = coded(spreadPartitions(vecs), "cand_id")
      .withColumnRenamed("embedding", "ce").withColumnRenamed("nn", "cn")
    rankBucketCands(
      v.join(broadcast(p), Seq("table", "code")), k)
  }

  /** Corpus-wide k-NN GRAPH via LSH buckets: every vector is both probe
    * and candidate, so — unlike the serving paths above, where the probe
    * batch is small and broadcast — NEITHER side of the candidate join
    * fits in a broadcast. Candidates come from a self-equi-join on the
    * (table, code) bucket key with NO broadcast hint: at corpus scale
    * both sides hash-partition on the bucket (AQE may still broadcast
    * one side while it fits the threshold — fine, since the corpus side
    * is spread first so scoring stays parallel either way), cost tracks
    * Σ bucket² occupancy, and no
    * stage materializes anything corpus-sized on the driver. This is the
    * knn-graph shape SemDeDup-style clustering and graph-based dedup
    * consume; defaults trade recall down (fewer tables, longer codes)
    * relative to the serving paths because the graph pays candidates on
    * EVERY row, not a query batch.
    *
    * SCALE CONTRACT — `bits` must grow with log2(n). Σ bucket² is only
    * bounded while per-bucket occupancy is bounded; with 2^bits buckets
    * per table, occupancy is n / 2^bits, so a FIXED code width turns the
    * candidate join quadratic as the corpus grows (measured in
    * SCALING.json: the 4×6-bit default is calibrated to the sf0.1
    * fixture's 2k vectors; at 10×/30× the fixed geometry superlinearly
    * blows up while bits = 6 + log2(n/2000) holds the slope linear).
    * Callers at corpus scale pass bits ≈ log2(n) − log2(target
    * occupancy); recall lost to narrower buckets is bought back with
    * `tables`, the standard LSH trade. Output matches lshTopK: one row per
    * (probe_id, rank≤k) edge — a vector whose buckets contain no other
    * vector contributes no edges (isolated node).
    */
  def knnGraph(vecs: DataFrame, k: Int,
               tables: Int = 4, bits: Int = 6): DataFrame = {
    // spread BEFORE coding: when AQE turns the bucket self-join into a
    // broadcast join (it does whenever one coded side fits the
    // threshold), the pair scoring runs at the STREAM side's partition
    // count — a compact parquet corpus reads as a handful of splits,
    // and the 30× hump in SCALING.json was exactly this join scoring
    // 10M pairs on 3 scan partitions (41 s broadcast-starved vs 17 s
    // shuffled at 100× with 3× the pairs)
    val coded = spreadPartitions(vecs)
      .select(col("vec_id"), col("embedding"),
        normScaled(col("embedding")).as("nn"),
        posexplode(lshCodes(col("embedding"), tables, bits)))
      .select(col("vec_id"), col("embedding"), col("nn"),
        col("pos").as("table"), col("col").as("code"))
    val p = coded.select(col("vec_id").as("probe_id"),
      col("embedding").as("pe"), col("nn").as("pn"),
      col("table"), col("code"))
    val v = coded.select(col("vec_id").as("cand_id"),
      col("embedding").as("ce"), col("nn").as("cn"),
      col("table"), col("code"))
    // shuffled bucket self-join (see Scaladoc) — the only stage where
    // embeddings cross the wire is this n×tables-row exchange; the pair
    // set is scored in place and ranked narrow by rankBucketCands
    rankBucketCands(v.join(p, Seq("table", "code")), k)
  }

  /** The knnGraph scale contract, executable: bits sized so per-bucket
    * occupancy stays at `targetOccupancy` regardless of corpus size —
    * ceil(log2(n / target)), floored at 1 and capped at 24 (16M buckets;
    * code evaluation cost grows with bits, and past that width bucket
    * collisions are no longer the bottleneck). SCALING.json measured
    * the fixed 6-bit default quadratic at 10× while this rule's widths
    * held the slope near-linear through 30×.
    *
    * Integer-exact on purpose: the rule is "smallest b with
    * target·2^b ≥ n", evaluated in Long arithmetic — a float
    * ceil(log2(n/target)) can land one ulp above an exact power of two
    * and widen by a full bit, and the DuckDB oracle twin (which since
    * r11 derives the SAME width from COUNT(*) inside the query) must
    * reproduce the width bit-for-bit on corpora of any size.
    */
  def autoBits(n: Long, targetOccupancy: Int = 32): Int =
    (1 to 24).find(b => (targetOccupancy.toLong << b) >= n).getOrElse(24)

  /** [[knnGraph]] with the code width derived from the corpus count —
    * one scalar count() (a map-side-combined aggregate, never corpus
    * data on the driver), then the bucketed graph at the occupancy the
    * 1× calibration was tuned for. Since r11 this IS the shipped
    * n8/d16 geometry: the DuckDB twin inlines the sign matrix at the
    * 24-bit cap and derives the same width from COUNT(*) in SQL, so
    * the oracle tracks the adaptive width exactly (the fixed-width
    * form survives only as the labeled SCALING counterexample).
    */
  def knnGraphAuto(vecs: DataFrame, k: Int, tables: Int = 4,
                   targetOccupancy: Int = 32): DataFrame =
    knnGraph(vecs, k, tables, autoBits(vecs.count(), targetOccupancy))

  /** Deterministic Lloyd (k-means) iterations for IVF centroid training:
    * assign every vector to its nearest centroid (centroids are FEW —
    * broadcast; the corpus never self-joins), recompute each centroid as
    * the elementwise mean of its members, repeat. The train loop is
    * driver-side (iters is small); every pass over the data is one
    * broadcast join + one aggregation. Determinism: assignment uses the
    * scaled-long cosine with a (csim desc, cid) total order, and the mean
    * accumulates through dsum (exact decimal) — so trained centroids are
    * bit-identical across runs and partitionings, which makes IVF bucket
    * contents reproducible artifacts. Empty clusters drop out (k shrinks)
    * rather than being re-seeded.
    */
  def kmeansCentroids(vecs: DataFrame, init: DataFrame, iters: Int)
      : DataFrame = {
    // r16: below the driver-local bounds the whole Lloyd loop runs in
    // one JVM pass over collected rows — bit-identical (LocalTrainSpec)
    // and free of the per-iteration exchange/checkpoint stages.
    // r17 (r16 verdict #5): the routing probe is a LocalLimit count —
    // `limit(bound+1).count()` short-circuits each scan task after the
    // bound, so deciding "too big, go distributed" costs a bounded
    // probe instead of the full-corpus count the old entry gate ran
    // (which re-executed vecs' ENTIRE upstream pipeline once per call).
    // Within the bound the probe count IS the exact row count. The
    // init collect is hard-bounded too (an init frame is centroids by
    // contract, but nothing enforced it); the pair budget is checked
    // after the bounded collects: a huge init × sample product computes
    // faster on the cluster than on one driver core.
    val probe = vecs.select(lit(1))
      .limit(LocalTrainMaxRows.toInt + 1).count()
    if (probe <= LocalTrainMaxRows) {
      (collectSampleVecsBounded(vecs, 1L), collectSampleVecsBounded(
        init.select(col("vec_id"), col("embedding")), 1L)) match {
        case (Some(sample), Some(initRows))
            if sample.length.toLong * math.max(1, initRows.length)
              <= LocalTrainMaxPairs =>
          return localVecsDf(vecs.sparkSession,
            graft.operators.LocalTrain.kmeans(sample, initRows, iters))
        case _ => () // pair budget or init bound exceeded — distributed
      }
    }
    kmeansCentroidsDistributed(vecs, init, iters)
  }

  /** The distributed Lloyd loop of [[kmeansCentroids]], split out (r17)
    * so the sampled/adaptive trainers — which already decided the route
    * from counts they hold ([[localTrainFits]]) — reach it WITHOUT the
    * entry probe: no routing job at all on the go-distributed path
    * (r16 verdict #5).
    */
  private[operators] def kmeansCentroidsDistributed(vecs: DataFrame,
      init: DataFrame, iters: Int): DataFrame = {
    var cent = init.select(col("vec_id").as("cid"),
      col("embedding").as("cemb"))
    for (_ <- 1 to iters) {
      // argmax over the (csim desc, cid) total order (min_by of
      // (-csim, cid)) — same pick as the sort window it replaces, kept
      // NARROW: only (vec_id, cid, csim) enter the aggregate and the
      // member vectors join back by id (min_by's struct buffer is a
      // SortAggregate, and sorting the embedding per scored row was the
      // measured n9/n4 100× term — see ivfAssign)
      // r16: the vector's own norm projects BEFORE the broadcast join —
      // inside the joined frame it was re-evaluated once per (vector,
      // centroid) PAIR, i.e. nlist× per vector, doubling the assignment's
      // dot-product work (normScaled IS a dot; exact integer, so
      // hoisting is bit-identical)
      val picked = spreadPartitions(
          vecs.select(col("vec_id"), col("embedding")))
        .withColumn("nn", normScaled(col("embedding")))
        .join(broadcast(cent.select(col("cid"), col("cemb"),
          normScaled(col("cemb")).as("cn"))))
        .withColumn("csim", cosineFromScaled(
          dotScaled(col("embedding"), col("cemb")),
          col("nn"), col("cn")))
        .select(col("vec_id"), col("cid"), col("csim"))
        .groupBy(col("vec_id"))
        .agg(min_by(col("cid"),
          struct(negate(col("csim")), col("cid"))).as("cid"))
      val assigned = picked
        .join(vecs.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .select(col("cid"), col("embedding"))
      cent = assigned
        .select(col("cid"), posexplode(col("embedding")))
        .groupBy(col("cid"), col("pos"))
        .agg(graft.functions.Core.dsum(col("col")).as("s"),
          count(lit(1)).as("n"))
        .withColumn("m", (col("s") / col("n")).cast("float"))
        .groupBy(col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("cemb"))
        // truncate per-iteration lineage: centroids are a handful of rows,
        // but without this each iteration's plan NESTS the previous one
        // and every downstream consumer re-runs the whole Lloyd chain
        .localCheckpoint(true)
    }
    cent.select(col("cid").as("vec_id"), col("cemb").as("embedding"))
  }

  /** Production-shape IVF training: [[kmeansCentroids]] over a BOUNDED
    * deterministic sample with a FIXED centroid count — the fix for the
    * n4/n6/n7 scaling finding (SCALING.json: seeding k from the corpus
    * size via `vec_id % 50 == 0` makes Lloyd assignment O(n²/50), the
    * oracle-pinned fixture geometry). Here the training set is every
    * `mod`-th vector with `mod = max(1, n / targetSample)` — ≤
    * ~2·targetSample rows whatever the corpus size — and seeds are every
    * `max(1, sampleCount / kCentroids)`-th SAMPLE member (expressed as a
    * second modulus over vec_id, so both filters are pure arithmetic a
    * SQL oracle replays). Training cost is O(targetSample · k · iters) —
    * CONSTANT in corpus size; the downstream full-corpus assignment is
    * the one linear pass IVF always pays. The two `count()`s are
    * map-side-combined scalar aggregates (no corpus data on the driver).
    *
    * Contract: vec_ids must be dense-ish from 0 (the fixture and any
    * re-keyed corpus satisfy this); a sparse id space just makes the
    * sample smaller, never larger. kCentroids is approximate (±1: the
    * modulus stride rounds down) — callers needing an exact k would rank
    * the sample, which costs a sort the modulus form avoids.
    */
  def sampledTrainCentroids(vecs: DataFrame, targetSample: Long = 400L,
                            kCentroids: Long = 16L, iters: Int = 2)
      : DataFrame = {
    val n = vecs.select(count(lit(1))).head().getLong(0)
    val mod = math.max(1L, n / targetSample)
    if (localTrainFits(n, targetSample, kCentroids)) {
      // driver-local trainer (r16): the sample is artifact-sized by the
      // mod contract and its ID LIST was already a driver collect
      // (sampleSeedIds); collecting the vectors too and running the
      // bit-identical JVM loop removes every training-loop Spark stage
      // and makes the returned centroids a LocalRelation (downstream
      // broadcasts build with no job). Byte equality with the
      // distributed loop is pinned in LocalTrainSpec; the IVF oracles
      // replay the same training in SQL. r17 (r16 advice): the collect
      // is HARD-BOUNDED and re-gated on the ACTUAL sample size — the
      // expected-count gate assumes dense-ish ids, and a structured id
      // space (every id divisible by the derived modulus) can make the
      // filter pass the whole corpus; overflow falls through to the
      // distributed loop, which is bit-identical.
      collectSampleVecsBounded(vecs, mod) match {
        case Some(sample) if sample.length.toLong *
            math.max(1L, kCentroids) <= LocalTrainMaxPairs =>
          val seeds = seedsByRank(sample.map(_._1).distinct.sorted,
            kCentroids, mod).toSet
          return localVecsDf(vecs.sparkSession,
            graft.operators.LocalTrain.kmeans(sample,
              sample.filter { case (id, _) => seeds(id) }, iters))
        case _ => () // actual sample overflowed the expected-count gate
      }
    }
    // rank-based seeds (see sampleSeedIds): identical to the historical
    // second modulus on dense ids, kCentroids-bounded on ANY id
    // structure — the r15 ServeScaling replicas (ids offset by R·10M,
    // divisible by every derived modulus) turned the second-modulus
    // rule into seeds = the whole sample, silently training
    // ~sample-size centroids from a kCentroids=16 ask
    val seeds = sampleSeedIds(vecs, mod, kCentroids)
    kmeansCentroidsDistributed(vecs.filter(col("vec_id") % mod === 0),
      vecs.filter(col("vec_id").isInCollection(seeds)), iters)
  }

  /** The adaptive cell-count rule: nlist = max(16, ⌈√n⌉), from ONE
    * scalar corpus count — the IVF analogue of [[autoBits]] (which
    * derives the LSH code width from COUNT(*) at a target occupancy).
    * √n is the occupancy balance point: per-probe candidate volume
    * (nprobe·n/nlist) and the broadcast centroid table (nlist rows)
    * BOTH grow as √n, instead of one of them growing linearly —
    *   - fixed nlist (n9/n14's ~16): training constant, assignment
    *     linear, but candidates-per-probe grow ∝ n — at 100 TB every
    *     query rescans 1/16th of the corpus;
    *   - nlist ∝ n (the stride-50 demo geometry): occupancy constant,
    *     but training and assignment go quadratic (measured, SCALING
    *     r13_n13_ivfsq8);
    *   - nlist = √n: candidates/probe ∝ √n, assignment O(n·√n) on the
    *     ONE build-time pass (amortized over every query), training
    *     O(32·nlist²) = O(32n) — the FAISS sizing rule (nlist ≈ √n to
    *     16√n, training ≈ 30-50 points per centroid).
    * ⌈√n⌉ of an exact BIGINT count through IEEE double is deterministic
    * and identical across engines, so the rule unrolls into the SQL
    * oracle like autoBits does.
    */
  def autoNlist(n: Long): Long =
    math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong)

  /** Sentinel for "derive nprobe from the index geometry" — the default
    * of every IVF serving path since r15 (see [[autoNprobe]]).
    */
  val AutoProbe: Int = -1

  /** The recall-retention companion of [[autoNlist]]: nprobe derived
    * from the CELL COUNT at a target probed share of the index, instead
    * of a constant that silently loses recall as the index grows.
    * Measured (tools/Recall, SCALING `r14_adaptive_nlist_recall`): a
    * fixed nprobe=8 over the adaptive ⌈√n⌉-cell geometry decays
    * recall@5 from 0.56 to 0.24 across 1×→100× — the probed share
    * shrinks as 8/√n — while the occupancy-matched rule (share pinned,
    * nprobe grows with nlist) holds 0.86-0.96 across the same decades.
    *
    * The default share (1/2) is calibrated to THIS fixture's isotropic
    * embeddings, where recall@k ≈ probed share by construction (no
    * cluster structure to exploit — the honest worst case). Clustered
    * real-world corpora hold recall at far smaller shares (0.02-0.1 is
    * the usual IVF operating range); `probedShare` is the knob a
    * deployment turns DOWN as its data's clusterability earns it. The
    * floor of 8 keeps small indexes at the historical oracle-pinned
    * behavior; the nlist cap makes share=1 exactly brute force.
    */
  def autoNprobe(nlist: Long, probedShare: Double = 0.5): Int = {
    require(probedShare > 0d && probedShare <= 1d,
      s"autoNprobe: probedShare must be in (0,1], got $probedShare")
    math.min(nlist,
      math.max(8L, math.ceil(nlist * probedShare).toLong)).toInt
  }

  /** `nprobe` argument resolution shared by the IVF paths: explicit
    * values pass through; [[AutoProbe]] derives [[autoNprobe]] from the
    * centroid frame's count — nlist rows, a trivially cheap scalar job
    * against an artifact that is broadcast anyway.
    */
  private[operators] def resolveNprobe(nprobe: Int, cent: DataFrame): Int =
    if (nprobe != AutoProbe) nprobe else autoNprobe(cent.count())

  /** [[sampledTrainCentroids]] with the cell count DERIVED from the
    * corpus size by [[autoNlist]] instead of fixed — the production
    * geometry for the IVF-family entries (n12/n13): the training
    * sample tracks 32 points per centroid (bounded ≤ ~2·32·√n rows —
    * the modulus rounds down, so the sample can reach twice the
    * target), training cost stays linear in n, and per-probe candidate
    * volume grows as √n instead of linearly. All three derivations
    * (count → nlist → sample/seed moduli) are scalar-count arithmetic
    * the DuckDB oracle replays from COUNT(*).
    */
  def adaptiveTrainCentroids(vecs: DataFrame, iters: Int = 2): DataFrame =
    adaptiveTrainGeom(vecs, iters)._1

  /** [[adaptiveTrainCentroids]] plus the GEOMETRY the two-level
    * assignment path needs: (trained cells, coarse-centroid ids). The
    * coarse layer is every g-th Lloyd SEED by rank (g = max(1,
    * ⌈√nlist⌉)) — ~√nlist ≈ n^(1/4) ids, a strict subset of the
    * ≤ ~2·nlist seed ids [[sampleSeedIds]] already collected, so the
    * driver never holds more than the artifact-sized seed list. On
    * dense 0-based ids this is exactly the historical
    * `vec_id % (seedMod·g) = 0` subset (seed j has id j·mod·stride);
    * on structured id spaces the modulus form collapsed (r15 — every
    * replica id divisible by the derived modulus), which for the
    * coarse layer would have made l1 corpus-sized.
    */
  def adaptiveTrainGeom(vecs: DataFrame, iters: Int = 2)
      : (DataFrame, Array[Long]) = {
    val n = vecs.select(count(lit(1))).head().getLong(0)
    val nl = autoNlist(n)
    val mod = math.max(1L, n / targetSampleFor(nl))
    val target = targetSampleFor(nl)
    val (cent, seeds) = {
      // driver-local trainer under the same bounds as
      // sampledTrainCentroids: the adaptive sample is 32·√n rows and
      // the assignment work 32·nl² dots, so the gate trips to the
      // distributed loop around n ≈ 10⁵-10⁶ vectors — exactly where
      // one driver core would lose to the cluster. r17: the collect is
      // hard-bounded and re-gated on the ACTUAL sample size (see
      // sampledTrainCentroids) — overflow on a structured id space
      // falls through to the bit-identical distributed loop.
      val local =
        if (localTrainFits(n, target, nl))
          collectSampleVecsBounded(vecs, mod).collect {
            case sample if sample.length.toLong *
                math.max(1L, nl) <= LocalTrainMaxPairs =>
              val sd = seedsByRank(sample.map(_._1).distinct.sorted, nl, mod)
              val sdSet = sd.toSet
              (localVecsDf(vecs.sparkSession,
                graft.operators.LocalTrain.kmeans(sample,
                  sample.filter { case (id, _) => sdSet(id) }, iters)), sd)
          }
        else None
      local.getOrElse {
        val sd = sampleSeedIds(vecs, mod, nl)
        (kmeansCentroidsDistributed(vecs.filter(col("vec_id") % mod === 0),
          vecs.filter(col("vec_id").isInCollection(sd)), iters), sd)
      }
    }
    val g = math.max(1L, math.ceil(math.sqrt(nl.toDouble)).toLong).toInt
    (cent, seeds.zipWithIndex.collect { case (id, j) if j % g == 0 => id })
  }

  /** Training-sample target of the adaptive geometry: 32 points per
    * centroid (the FAISS 30-50/centroid rule), shared with the oracle
    * prelude's `prm` CTE.
    */
  private def targetSampleFor(nl: Long): Long = 32L * nl

  /** Seed ids for sampled training, selected by RANK within the sorted
    * distinct sample: every `max(1, sn/kSeeds)`-th member. On dense
    * 0-based ids this picks EXACTLY the historical second-modulus seeds
    * (sample ids are q·mod, so rank position and id share the stride
    * arithmetic — the gate fixtures and their oracles are unchanged),
    * but unlike a second modulus it is bounded at ≤ ~2·kSeeds seeds on
    * ANY id structure. The failure it fixes (r15, found by the 1000×
    * ServeScaling build): the scaled replicas offset vec_ids by
    * R·10,000,000, and because 10M is divisible by every modulus the
    * rule produced there, EVERY sample member became a seed — ~1000
    * codewords per subspace from a kCodes=40 ask, which blew
    * pqPackCodes' unsigned-byte domain (the loud-failure contract
    * fired, correctly) and the Lloyd cost with it. The sample is
    * ≤ ~2·targetSample ids by the sampling contract, so the collect is
    * an artifact-sized driver job (the PqAssignBook precedent).
    */
  private[operators] def sampleSeedIds(vecs: DataFrame, mod: Long,
                                       kSeeds: Long): Array[Long] =
    seedsByRank(
      vecs.filter(col("vec_id") % mod === 0)
        .select(col("vec_id").cast("long")).distinct()
        .orderBy(col("vec_id"))
        .collect().map(_.getLong(0)),
      kSeeds, mod)

  /** The rank-stride seed rule over an already-collected sorted distinct
    * sample id list — shared by [[sampleSeedIds]] (distributed collect)
    * and the driver-local training paths (which already hold the sample
    * rows).
    */
  private[operators] def seedsByRank(ids: Array[Long], kSeeds: Long,
                                     mod: Long): Array[Long] = {
    // loud failure AT the sampling contract: a sparse/odd id space with
    // no id divisible by `mod` would otherwise surface far downstream
    // as an empty initial codebook (PqAssignBook's "subspace has no
    // codewords" — a confusing distance from the root cause)
    require(ids.nonEmpty,
      s"sampleSeedIds: no vec_id satisfies vec_id % $mod == 0 — the " +
        "sampling contract assumes dense-ish ids from 0; re-key the " +
        "corpus or lower targetSample")
    val stride = math.max(1L, ids.length / kSeeds).toInt
    ids.zipWithIndex.collect { case (id, q) if q % stride == 0 => id }
  }

  /** Row bound for the driver-local sampled trainers ([[LocalTrain]]):
    * 2¹⁸ rows ≈ 70 MB of (id, 64-float vector) — the same order as the
    * sample ID LIST collects the sampled paths already perform, far
    * under the driver heap; past it the distributed Lloyd loop is the
    * right engine shape (the adaptive 32·√n sample crosses this around
    * n ≈ 8M vectors). Both paths are bit-identical (LocalTrainSpec), so
    * the switch never changes a result.
    */
  private[operators] val LocalTrainMaxRows: Long = 1L << 18

  /** Work bound for the driver-local trainers: sample rows × centroid
    * (or codeword) count. 2²³ pairs ≈ 0.5 G multiplies per iteration at
    * 64 dims — a fraction of a second on one core; past it the
    * cluster's parallel loop wins even with its per-stage dispatch.
    */
  private[operators] val LocalTrainMaxPairs: Long = 1L << 23

  /** The driver-local training gate: expected sample rows within the
    * collect bound AND expected assignment pairs within the work
    * budget. Pure scalar arithmetic over counts the callers already
    * hold — both trainers are bit-identical, so the route never changes
    * a result.
    */
  private[operators] def localTrainFits(n: Long, targetSample: Long,
                                        kSeeds: Long): Boolean = {
    val rows = math.min(n, 2 * targetSample + 1)
    rows <= LocalTrainMaxRows && rows * math.max(1L, kSeeds) <=
      LocalTrainMaxPairs
  }

  /** Collect the mod-sample's (vec_id, embedding) rows for the
    * driver-local trainers, HARD-BOUNDED at [[LocalTrainMaxRows]] (r17,
    * r16 advice): the callers' [[localTrainFits]] gate uses the
    * EXPECTED sample size (min(n, 2·targetSample+1)), which assumes
    * dense-ish ids — on arithmetically structured id spaces (the r15
    * ServeScaling replicas: ids offset by R·10M, divisible by every
    * derived modulus) the actual `vec_id % mod = 0` output can be the
    * WHOLE corpus, turning this into an unbounded driver collect. The
    * limit caps what can ever reach the driver; None on overflow sends
    * the caller to the distributed loop (bit-identical — the route
    * never changes a result). Within the bound, limit(k+1) returns the
    * COMPLETE filter output, and the trainers are row-order-insensitive
    * (assignment is per-row; means accumulate in exact decimal; seeds
    * rank over the SORTED id list), so the limit's arbitrary row order
    * cannot affect the trained artifact.
    */
  private[operators] def collectSampleVecsBounded(vecs: DataFrame, mod: Long)
      : Option[Array[(Long, Array[Float])]] = {
    val rows = vecs.filter(col("vec_id") % mod === 0)
      .select(col("vec_id").cast("long"), col("embedding"))
      .limit(LocalTrainMaxRows.toInt + 1)
      .collect()
    if (rows.length > LocalTrainMaxRows) None
    else Some(rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))
  }

  /** (vec_id, embedding) rows as a LocalRelation — the centroid frame
    * shape every consumer broadcasts (a LocalRelation broadcast builds
    * driver-side with no Spark job).
    */
  private[operators] def localVecsDf(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[(Long, Array[Float])]): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true),
        nullable = true)))
    spark.createDataFrame(
      rows.toSeq.map { case (id, e) => Row(id, e.toSeq) }.asJava, schema)
  }

  /** IVF-style bucketed ANN: assign every vector to its nearest centroid
    * (one pass over vecs × centroids — centroids are FEW and broadcast),
    * probe the `nprobe` nearest centroid buckets, exact-score candidates,
    * keep top-k. The scale shape of inverted-file search: the full corpus
    * is scanned once for assignment (embarrassingly parallel, map-side);
    * each query then touches ~nprobe/nlist of the corpus. Centroids here
    * are caller-provided (e.g. a deterministic sample); a production
    * build would k-means them — the engine-side plumbing is identical.
    */
  /** Nearest-centroid bucketing shared by the IVF paths. keep=1 is the
    * corpus side and returns NARROW (idName, cid) rows: the argmax is a
    * min_by over the (-csim, cid) total order with a LONG value, so only
    * (id, cid, csim) rows enter the aggregate — a min_by whose value
    * struct carried the embedding was measured 2.5× slower at 100×
    * (min_by's struct buffer falls back to SortAggregate, and the
    * partial sort then moves the 64-float array per scored row; at 100×
    * that sort spilled while the narrow rows never do). Callers that
    * need the vectors join them back by id — an equi-join of two
    * corpus-sized NARROW frames, linear. The corpus side is also
    * spread to defaultParallelism first: the centroid join is a
    * broadcast product whose parallelism is the stream side's partition
    * count, and a compact parquet corpus can read as a handful of
    * splits (the other measured term of the n9 100× cliff).
    * keep=nprobe is the probe side (few rows — ranking window, keeps
    * the embedding).
    */
  private[operators] def ivfAssign(df: DataFrame, cent: DataFrame, idName: String,
                        keep: Int): DataFrame = {
    // r16 (both branches): the vector's own norm projects BEFORE the
    // broadcast join — inside the joined frame it re-evaluated once per
    // (vector, centroid) PAIR, nlist× per vector; normScaled IS a dot
    // product, so this halves the assignment pass's arithmetic
    // (exact integer → bit-identical hoist)
    if (keep == 1) {
      spreadPartitions(df.select(col("vec_id").as(idName), col("embedding")))
        .withColumn("nn", normScaled(col("embedding")))
        .join(broadcast(cent))
        .withColumn("csim", cosineFromScaled(
          dotScaled(col("embedding"), col("cemb")),
          col("nn"), col("cn")))
        .select(col(idName), col("cid"), col("csim"))
        .groupBy(col(idName))
        .agg(min_by(col("cid"),
          struct(negate(col("csim")), col("cid"))).as("cid"))
    } else {
      val scored = df.select(col("vec_id").as(idName), col("embedding"))
        .withColumn("nn", normScaled(col("embedding")))
        .join(broadcast(cent))
        .withColumn("csim", cosineFromScaled(
          dotScaled(col("embedding"), col("cemb")),
          col("nn"), col("cn")))
      val w = Window.partitionBy(col(idName))
        .orderBy(col("csim").desc, col("cid"))
      scored
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") <= keep)
        .select(col(idName), col("cid"), col("embedding"))
    }
  }

  private[operators] def centFrame(centroids: DataFrame): DataFrame =
    centroids.select(col("vec_id").as("cid"),
      col("embedding").as("cemb"), normScaled(col("embedding")).as("cn"))

  def ivfTopK(probes: DataFrame, vecs: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int = AutoProbe): DataFrame = {
    val cent = centFrame(centroids)
    val np = resolveNprobe(nprobe, cent)
    // assignment is narrow (cand_id, cid); the candidate vectors join
    // back by id for exact scoring — narrow⋈narrow equi-join, linear
    val vecBuckets = ivfAssign(vecs, cent, "cand_id", 1)
      .join(vecs.select(col("vec_id").as("cand_id"),
        col("embedding").as("ce"),
        normScaled(col("embedding")).as("cn")), Seq("cand_id"))
    val probeBuckets = ivfAssign(probes, cent, "probe_id", np)
      .withColumnRenamed("embedding", "pe")
      .withColumn("pn", normScaled(col("pe")))
    // probe buckets are |probes|×nprobe rows — BROADCAST them: `cid` has
    // only nlist distinct values, so a shuffle join here would hash the
    // whole corpus into ≤nlist tasks (the measured n9 100× cliff). And no
    // dedup: the corpus side is one row per cand_id (keep=1 argmax) and a
    // probe's nprobe cids are distinct (row_number ranks one row per
    // (probe, cid)), so the join emits ≤1 row per (probe_id, cand_id).
    // norms are precomputed per VECTOR above (cn in the join-back, pn on
    // the probe buckets), not per candidate pair; pairs are unique so
    // rankBucketCands' tail dedup is a no-op over the ~k·|probes| head
    rankBucketCands(
      vecBuckets.join(broadcast(probeBuckets), Seq("cid")), k)
  }

  /** IVF + SQ8 composite — FAISS's "IVF,SQ8" index type, completing the
    * quantization matrix beside IVF-flat ([[ivfTopK]]) and IVF+PQ
    * ([[ivfPqTopK]]): the coarse quantizer buckets on FULL-precision
    * vectors (the standard choice — cell assignment is rare and
    * recall-critical), candidate scoring runs on the SQ8-dequantized
    * values (the byte-per-dim index, 4× under float32 — the right
    * middle ground when PQ's 32× compression costs too much recall and
    * raw floats don't fit serving RAM). Same plan scale shape as
    * ivfTopK: narrow assignment, broadcast probe buckets, candidates
    * tracked per cell; the dequant round-trip is the codegen'd
    * [[graft.plans.Sq8Kernel]] pair. Deterministic end to end → full
    * DuckDB oracle; recall bounded in SimilaritySpec.
    */
  def ivfSq8TopK(probes: DataFrame, vecs: DataFrame, centroids: DataFrame,
                 k: Int, nprobe: Int = AutoProbe): DataFrame = {
    val cent = centFrame(centroids)
    val np = resolveNprobe(nprobe, cent)
    val dq = sq8Cand(vecs, sq8Stats(vecs))
      .withColumn("cn", normScaled(col("ce")))
    val vecBuckets = ivfAssign(vecs, cent, "cand_id", 1)
      .join(dq, Seq("cand_id"))
    val probeBuckets = ivfAssign(probes, cent, "probe_id", np)
      .withColumnRenamed("embedding", "pe")
      .withColumn("pn", normScaled(col("pe")))
    rankBucketCands(
      vecBuckets.join(broadcast(probeBuckets), Seq("cid")), k)
  }

  /** IVF+SQ8 search against PERSISTED build artifacts — the serving
    * twin of [[ivfSq8TopK]], completing the serving matrix beside
    * [[pqTopKFromCodes]] / [[ivfPqTopKFromCodes]] / [[sq8TopKFromCodes]]:
    * cells ([[ivfCells]]), the one-row bounds ([[sq8Stats]]) and the
    * byte codes ([[sq8Encode]]) are parquet artifacts built once; a
    * query pays probe bucketing (centroids are tiny and still needed)
    * + one decode+score pass over ONLY the probed cells' codes. Same
    * candidate set and scores as the in-query composite
    * (SimilaritySpec pins served == in-query); raw embeddings are
    * never touched at serve time.
    */
  def ivfSq8TopKFromCodes(probes: DataFrame, centroids: DataFrame,
                          cells: DataFrame, stats: DataFrame,
                          codes: DataFrame, k: Int,
                          nprobe: Int = AutoProbe)
      : DataFrame = {
    val dq = spreadPartitions(codes).crossJoin(broadcast(stats))
      .select(col("vec_id").as("cand_id"),
        graft.plans.Expressions.sq8Dequant(
          col("codes"), col("mns"), col("mxs")).as("ce"))
      .withColumn("cn", normScaled(col("ce")))
    val vecBuckets = cells
      .select(col("vec_id").as("cand_id"), col("cid"))
      .join(dq, Seq("cand_id"))
    val probeBuckets = ivfAssign(probes, centFrame(centroids),
        "probe_id", resolveNprobe(nprobe, centroids))
      .withColumnRenamed("embedding", "pe")
      .withColumn("pn", normScaled(col("pe")))
    rankBucketCands(
      vecBuckets.join(broadcast(probeBuckets), Seq("cid")), k)
  }

  /** Two-level (coarse-quantized) IVF ANN — the 1000×+ BUILD geometry
    * for the adaptive √n-cell rule. Flat assignment against nlist =
    * ⌈√n⌉ trained cells costs O(n·√n) dot products: measured as the
    * adaptive rule's honest limit at 1000× (SCALING `r14_decades` —
    * 2M vectors × 1414 cells was killed after >12 min while the
    * fixed-16 geometry sailed through). Here the corpus assigns in two
    * hops, the FAISS coarse-quantizer / IMI shape:
    *
    *   1. coarse: every g-th SEED vector BY RANK (g = max(1, ⌈√nlist⌉);
    *      on dense ids exactly the historical `vec_id % (seedMod·g) = 0`
    *      subset) is a coarse centroid — ~√nlist ≈
    *      n^(1/4) of them; each trained cell parents to its nearest
    *      coarse centroid (nlist·√nlist dots — negligible);
    *   2. assign: a vector scores the ~n^(1/4) coarse centroids, keeps
    *      the top `wAssign`, then argmaxes among ONLY those coarse
    *      groups' member cells (~wAssign·√nlist more dots) — O(n·n^(1/4))
    *      total instead of O(n·√n): ~12× fewer dots at 1000×, ~550× at
    *      a 10^11-vector corpus.
    *
    * The two-hop argmax is approximate at coarse-group boundaries (a
    * vector's true nearest cell can parent to a coarse centroid the
    * vector didn't keep — the exact trade IMI makes; `wAssign` is the
    * recall knob and SimilaritySpec pins agreement with the flat
    * assignment). It is DETERMINISTIC end to end — the coarse subset is
    * rank arithmetic over the sorted seeds, every score is the
    * scaled-long cosine, ties
    * break on ids — so the whole build unrolls into the DuckDB twin
    * (n16's oracle).
    *
    * PROBES bucket FLAT over all nlist cells — the FAISS convention: a
    * query's cell selection scans the full coarse-centroid table. The
    * asymmetry is the point: the corpus is n vectors (two-hop routing
    * saves the O(n·√n) assignment), a probe batch is a few requests
    * paying a trivial nlist dots each — and routing probes two-hop was
    * MEASURED to starve occupancy-matched recall (wProbe=3 coarse
    * groups cannot reach ~nlist/2 spread-out cells: 0.42 recall@5 vs
    * the flat probe side's 0.96 at 100×, tools/Recall r14).
    */
  def ivfTopKTwoLevel(probes: DataFrame, vecs: DataFrame, k: Int,
                      nprobe: Int = AutoProbe, wAssign: Int = 2,
                      iters: Int = 2): DataFrame = {
    val (cent, coarseIds) = adaptiveTrainGeom(vecs, iters)
    val l1 = coarseFrame(vecs, coarseIds)
    val parCent = cellParents(cent, l1)
    val vecBuckets = twoLevelAssign(vecs, l1, parCent, "cand_id",
        wAssign, keep = 1)
      .join(vecs.select(col("vec_id").as("cand_id"),
        col("embedding").as("ce"), normScaled(col("embedding")).as("cn")),
        Seq("cand_id"))
    val probeBuckets = ivfAssign(probes, centFrame(cent), "probe_id",
        resolveNprobe(nprobe, cent))
      .withColumnRenamed("embedding", "pe")
      .withColumn("pn", normScaled(col("pe")))
    rankBucketCands(
      vecBuckets.join(broadcast(probeBuckets), Seq("cid")), k)
  }

  /** The two-level corpus assignment as a standalone artifact —
    * (vec_id, cid) cells plus the trained centroids, the
    * [[ivfCells]]-shaped pair a persisted-index build writes once. Also
    * the comparison surface SimilaritySpec uses to pin how often the
    * two-hop argmax agrees with the flat one on the same centroids.
    */
  def twoLevelCellsWithCent(vecs: DataFrame, wAssign: Int = 2,
                            iters: Int = 2): (DataFrame, DataFrame) = {
    val (cent, coarseIds) = adaptiveTrainGeom(vecs, iters)
    val l1 = coarseFrame(vecs, coarseIds)
    val parCent = cellParents(cent, l1)
    (twoLevelAssign(vecs, l1, parCent, "vec_id", wAssign, keep = 1), cent)
  }

  /** The two-level geometry as PERSISTABLE train-time artifacts:
    * (trained centroids, coarse layer (l1cid, l1emb), cell→coarse
    * parents (cid, l1cid)). A build persists all three once; incoming
    * vectors then route two-hop ([[ivfCellsTwoLevel]]) without the
    * corpus count or moduli the training derivation needed — the
    * moduli exist only to make training deterministic, the ROUTING
    * needs just the frames. l1 is ~√nlist ≈ n^(1/4) rows and parents
    * ≤ nlist rows, so both broadcast at any corpus size.
    */
  def twoLevelGeom(vecs: DataFrame, iters: Int = 2)
      : (DataFrame, DataFrame, DataFrame) = {
    val (cent, coarseIds) = adaptiveTrainGeom(vecs, iters)
    val l1 = coarseFrame(vecs, coarseIds)
    (cent, l1.select(col("l1cid"), col("l1emb")),
      cellParents(cent, l1).select(col("cid"), col("l1cid")))
  }

  /** Two-hop corpus→cell assignment against the persisted
    * [[twoLevelGeom]] artifacts — the [[ivfCells]] twin at the
    * adaptive geometry. Per-vector cost is O(|l1| + wAssign·√nlist) ≈
    * O(n^(1/4)) dots instead of flat assignment's O(nlist) = O(√n):
    * at a 10^11-vector corpus that is ~560 coarse dots + ~2·560 member
    * dots per arriving vector vs ~316k — the difference between a
    * streaming ingest that keeps up and one that cannot (the same
    * measured gap as the n16 build, SCALING `r14_n16_twolevel`).
    * Assignment is per-vector deterministic with no cross-vector
    * state, so the union of per-batch assignments IS the one-shot
    * assignment of the union (the maintenance claim StreamingSpec
    * pins).
    */
  def ivfCellsTwoLevel(vecs: DataFrame, cent: DataFrame, l1: DataFrame,
                       parents: DataFrame, wAssign: Int = 2): DataFrame = {
    val l1n = l1.select(col("l1cid"), col("l1emb"),
      normScaled(col("l1emb")).as("l1n"))
    val parCent = parents.join(centFrame(cent), Seq("cid"))
    twoLevelAssign(vecs, l1n, parCent, "vec_id", wAssign, keep = 1)
  }

  /** Route-selected cell assignment against a persisted geometry: flat
    * ([[ivfCells]]) below `flatBelowNlist` cells, two-hop
    * ([[ivfCellsTwoLevel]]) at or above it — decided from the geometry
    * the caller already holds (one count of the nlist-row centroid
    * frame), never asked of the caller. The threshold sits in the
    * measured crossover band (tools/RouteScaling, SCALING
    * `r14_route_scaling`: flat wins 2× at nlist=45 — the route's coarse
    * hop is pure overhead when one broadcast scores every cell — they
    * tie around nlist≈245-448, and the route wins 16.7× at nlist=1415;
    * flat per-vector cost grows as nlist=√n vs the route's ~n^(1/4),
    * so the gap widens a decade per decade). 256 is the power of two
    * inside the tie band.
    *
    * The two paths differ at coarse-group boundaries (the documented
    * IMI trade of [[ivfTopKTwoLevel]]), so switching routes as an index
    * grows changes SOME assignments — exactly as retraining the
    * geometry does; cells remain per-vector deterministic at any FIXED
    * geometry, which is the idempotent-retry contract the maintenance
    * stream needs.
    */
  def autoRouteCells(vecs: DataFrame, cent: DataFrame, l1: DataFrame,
                     parents: DataFrame, wAssign: Int = 2,
                     flatBelowNlist: Long = 256L): DataFrame =
    if (cent.count() < flatBelowNlist) ivfCells(vecs, cent)
    else ivfCellsTwoLevel(vecs, cent, l1, parents, wAssign)

  /** The coarse-centroid frame: every g-th Lloyd seed by rank (the id
    * subset [[adaptiveTrainGeom]] returns — a strict subset of the
    * seeds, so the coarse layer needs no training pass of its own;
    * ~n^(1/4) ids, an InSet filter over the corpus scan). RAW vectors,
    * not trained cells — a coarse quantizer only routes, and a
    * deterministic sample routes within ~1 hop of what a trained one
    * would at this fan-out.
    */
  private def coarseFrame(vecs: DataFrame, coarseIds: Array[Long])
      : DataFrame =
    vecs.filter(col("vec_id").isInCollection(coarseIds))
      .select(col("vec_id").as("l1cid"), col("embedding").as("l1emb"),
        normScaled(col("embedding")).as("l1n"))

  /** Each trained cell's nearest coarse centroid — (cid, l1cid, cemb,
    * cn). Both frames are tiny (≤ nlist rows); the argmax is the
    * narrow min_by of [[ivfAssign]].
    */
  private def cellParents(cent: DataFrame, l1: DataFrame): DataFrame = {
    val c = centFrame(cent)
    c.join(broadcast(l1))
      .withColumn("csim", cosineFromScaled(
        dotScaled(col("cemb"), col("l1emb")), col("cn"), col("l1n")))
      .select(col("cid"), col("l1cid"), col("csim"))
      .groupBy(col("cid"))
      .agg(min_by(col("l1cid"),
        struct(negate(col("csim")), col("l1cid"))).as("l1cid"))
      .join(c, Seq("cid"))
  }

  /** Top-`w` coarse centroids per vector, as NARROW (id, l1cid) rows.
    * An aggregate, not a sort window: the per-id candidate rows are
    * produced map-side by the broadcast join, so collect_list's partial
    * buffers complete map-side and only ~|L1| small structs per id
    * cross the wire (|L1| ≈ n^(1/4)); array_sort over (−csim, l1cid)
    * structs replays the oracle's (csim DESC, l1cid) row_number order.
    */
  private def coarseTopW(df: DataFrame, l1: DataFrame, idName: String,
                         w: Int): DataFrame =
    // r16: own-norm hoisted above the broadcast join (was per
    // (vector, coarse-centroid) pair — see ivfAssign)
    spreadPartitions(df.select(col("vec_id").as(idName), col("embedding")))
      .withColumn("nn", normScaled(col("embedding")))
      .join(broadcast(l1))
      .withColumn("csim", cosineFromScaled(
        dotScaled(col("embedding"), col("l1emb")),
        col("nn"), col("l1n")))
      .select(col(idName), col("l1cid"), col("csim"))
      .groupBy(col(idName))
      .agg(slice(array_sort(collect_list(struct(
        negate(col("csim")).as("nc"), col("l1cid").as("l1cid")))),
        1, w).as("tw"))
      .select(col(idName), explode(col("tw")).as("t"))
      .select(col(idName), col("t.l1cid").as("l1cid"))

  /** Two-hop cell assignment. keep=1 is the corpus side — NARROW
    * (id, cid) out of a min_by argmax over only the kept coarse groups'
    * member cells (the [[ivfAssign]] narrow-rows policy: embeddings
    * join back by id, never ride an aggregate). keep=nprobe is the
    * probe side — few rows, ranking window, keeps the embedding.
    *
    * JOIN ORDER is the 1000× lever: the embedding joins back onto the
    * wCoarse-rows-per-id coarse picks FIRST (a ~2n-row exchange), and
    * only then does the broadcast parents join expand each pick to its
    * ~√nlist member cells — map-side, inside the same codegen stage as
    * the cosine and the narrow projection, so the wAssign·√nlist·n
    * expanded rows (each dragging two embedding arrays) never cross an
    * exchange. The first cut expanded before the embedding join and
    * shuffled ~150M wide rows at 1000× (~45 GB) — measured as the
    * 0.399 s/unit 4th-decade marginal, 4× over the dot-count theory.
    */
  private def twoLevelAssign(df: DataFrame, l1: DataFrame,
                             parCent: DataFrame, idName: String,
                             wCoarse: Int, keep: Int): DataFrame = {
    // r16: own-norm computed once per vector in the join-back frame —
    // inside the scored frame it re-evaluated per (vector, member-cell)
    // pair, ~wAssign·√nlist× per vector (see ivfAssign)
    val emb = df.select(col("vec_id").as(idName), col("embedding"),
      normScaled(col("embedding")).as("nn"))
    val scored = coarseTopW(df, l1, idName, wCoarse)
      .join(emb, Seq(idName))
      .join(broadcast(parCent), Seq("l1cid"))
      .withColumn("csim", cosineFromScaled(
        dotScaled(col("embedding"), col("cemb")),
        col("nn"), col("cn")))
    if (keep == 1)
      scored.select(col(idName), col("cid"), col("csim"))
        .groupBy(col(idName))
        .agg(min_by(col("cid"),
          struct(negate(col("csim")), col("cid"))).as("cid"))
    else {
      val w = Window.partitionBy(col(idName))
        .orderBy(col("csim").desc, col("cid"))
      scored
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") <= keep)
        .select(col(idName), col("cid"), col("embedding"))
    }
  }


  /** SemDeDup-style semantic pruning: assign every vector to its nearest
    * centroid, generate candidate pairs WITHIN clusters only, exact-score
    * them with the deterministic cosine, and drop the higher vec_id of
    * every pair ≥ theta. Returns the survivors (vec_id, cluster_id).
    *
    * The scale contract: the corpus never self-joins globally — pair
    * generation is an equi-join on cluster id, so cost tracks cluster
    * occupancy (Σ|c|², tunable via the centroid count), and assignment is
    * one broadcast-join pass. Cross-cluster near-dups are missed by
    * design; that is the SemDeDup trade (recall vs the brute-force pair
    * set is bounded in SimilaritySpec).
    *
    * Input contract (r16 advice, stated): `vecs` must carry UNIQUE
    * vec_ids — the r16 shape derives the output by joining the grouped
    * assignment back onto `vecs` (so the argmin runs once, not per
    * consumer), and a duplicated input id would fan that join out into
    * duplicate (vec_id, cluster_id) rows where the pre-r16 grouped
    * projection emitted one. Every caller passes an embeddings table
    * keyed by vec_id, which satisfies this by construction.
    */
  def semanticPrune(vecs: DataFrame, centroids: DataFrame, theta: Double)
      : DataFrame = {
    val cent = centroids.select(col("vec_id").as("cid"),
      col("embedding").as("cemb"), normScaled(col("embedding")).as("cn"))
    // nearest-centroid argmax (min_by over the (-csim, cid) total order)
    // — the identical winner the sort window picked. NARROW: only
    // (vec_id, cid, csim) rows enter the aggregate, the embedding joins
    // back by id afterwards (same restructure as ivfAssign — a min_by
    // value struct carrying the embedding is a SortAggregate moving the
    // array per scored row, measured 2.5× slower at 100×). The corpus is
    // spread first so the broadcast centroid join parallelizes past the
    // parquet split count.
    val picked = spreadPartitions(vecs.select(col("vec_id"), col("embedding")))
      .withColumn("nn", normScaled(col("embedding"))) // r16: per vector,
      // not per (vector, centroid) pair — see ivfAssign
      .join(broadcast(cent))
      .withColumn("csim", cosineFromScaled(
        dotScaled(col("embedding"), col("cemb")),
        col("nn"), col("cn")))
      .select(col("vec_id"), col("cid"), col("csim"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"),
        struct(negate(col("csim")), col("cid"))).as("cid"))
    val assigned = picked
      .join(vecs.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    // r16: checkpoint the assigned frame — it feeds THREE subtrees
    // (both within-cluster self-join sides + the anti-join keep side),
    // and each otherwise re-ran the whole broadcast-centroid argmin
    // assignment over the corpus (nlist dot products per vector; 8
    // embedding scans in the d9 before-plan). The materialized frame is
    // one embedding + 24 B per vector — the same volume the cluster
    // self-join shuffles anyway.
    val v = assigned.withColumn("nn", normScaled(col("embedding")))
      .localCheckpoint()
    val drop = v.as("a")
      .join(v.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosineFromScaled(
        dotScaled(col("a.embedding"), col("b.embedding")),
        col("a.nn"), col("b.nn")))
      .filter(col("cos") >= theta)
      .select(col("b.vec_id").as("vec_id")).distinct()
    v.select(col("vec_id"), col("cid")).join(drop, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid").as("cluster_id"))
  }

  /** DuckDB oracle twin of the scaled-long cosine between two positionally
    * unnested embedding tables (shared by the d5/n1 oracle SQL).
    */
  val cosineOracleExpr: String =
    "CAST(SUM(CAST(floor(ax*bx*1e16) AS BIGINT)) AS DOUBLE) / " +
      "(sqrt(CAST(SUM(CAST(floor(ax*ax*1e16) AS BIGINT)) AS DOUBLE)) * " +
      "sqrt(CAST(SUM(CAST(floor(bx*bx*1e16) AS BIGINT)) AS DOUBLE)))"
}
