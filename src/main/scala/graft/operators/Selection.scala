package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus selection by importance resampling — DSIR (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * score every document by how much its hashed n-gram feature
  * distribution resembles a TARGET set versus the whole corpus, then
  * keep documents above a calibrated cut.
  *
  * Features are unigrams + space-joined bigrams hashed into `nBuckets`
  * buckets; a bucket's weight is the add-one-smoothed target/corpus
  * log-ratio in floor-log2 integer bit-units, DEFINED as a sum of
  * floor-logs — (flog2(cnt_t+1) + flog2(S+B)) − (flog2(cnt_a+1) +
  * flog2(T+B)) — so no product ever overflows Int64 at any corpus size
  * (the BM25 Int64 lesson applied at design time; see
  * Retrieval.MaxDocLenTokens for the incident).
  *
  * Scale shape: feature extraction is map-side (transitions via
  * arrays_zip, codegen'd); the bucket-weight table is ≤ nBuckets rows —
  * broadcast hash join, bounded by construction; the only corpus-scale
  * shuffles are the nBuckets-group aggregate (map-side partials) and
  * the per-doc sum. Kernel cost is the bucket hash on every feature
  * occurrence: the oracle-pinned query uses the t19 md5-nibble bucket
  * (DuckDB replays it bit-for-bit); deployments without a cross-engine
  * parity constraint pass an xxhash64 bucket instead — same plan, ~
  * cheaper kernel (Scaling's t29_xxhash entry measures the swap).
  */
object Selection {

  /** A feature hash CARRIES its modulus: the smoothing terms (+B) must
    * use the same bucket count the hash maps into — a separately-passed
    * nBuckets invited a silent mis-smoothing when the two disagreed
    * (r10 review finding).
    *
    * `bucketsOf` (r17, optional): a fused text → array<bucket> kernel
    * for the WHOLE feature extraction (unigrams + bigrams + hash in one
    * pass). When present, [[features]] explodes it instead of unioning
    * the two per-branch chains — the union's legs each re-ran the scan
    * + normalize + split over the corpus, and every feature string was
    * materialized only to be digested and discarded. `of` stays the
    * per-feature form (the serve/test surface and the non-fused
    * fallback); the two must agree feature-for-feature — SelectionSpec
    * pins the md5 pair.
    */
  final case class FeatureHash(nBuckets: Int, of: Column => Column,
                               bucketsOf: Option[Column => Column] = None)

  /** The t19/t29 md5-nibble bucket — cross-engine reproducible. Only 4
    * md5 nibbles (16 bits) feed the modulus, so nBuckets must divide
    * 65536 or buckets would be biased/unreachable. r17: the
    * `conv(substring(md5(c),1,4),16,10) % n` chain runs as ONE fused
    * codegen kernel (plans.Md5BucketKernel — bit-equivalent, no per-row
    * digest/hex/parse allocations; the chain was the dominant t29
    * kernel at every decade). The DuckDB twins still replay the
    * substring(md5(...)) form verbatim; SelectionSpec pins kernel ≡
    * chain.
    */
  def md5Bucket(nBuckets: Int): FeatureHash = {
    require(65536 % nBuckets == 0,
      s"md5Bucket: $nBuckets does not divide 2^16 — buckets would be " +
        "biased (non-divisor) or unreachable (> 65536)")
    FeatureHash(nBuckets,
      c => graft.plans.Expressions.md5Bucket(c, nBuckets),
      Some(c => graft.plans.Expressions.featureBuckets(c, nBuckets)))
  }

  /** Deployment bucket: codegen'd 64-bit hash, no parity twin. */
  def xxhashBucket(nBuckets: Int): FeatureHash =
    FeatureHash(nBuckets, c => pmod(xxhash64(c), lit(nBuckets.toLong)),
      Some(c => graft.plans.Expressions.xxFeatureBuckets(c, nBuckets)))

  private def flog(c: Column): Column = (length(bin(c)) - 1).cast("long")

  /** Per-occurrence bucketed features (doc_id, tgt, bkt): unigrams +
    * space-joined bigrams, all map-side (transitions via arrays_zip).
    */
  def features(docs: DataFrame, isTarget: Column,
               hash: FeatureHash): DataFrame = hash.bucketsOf match {
    case Some(fb) =>
      // fused kernel: one scan, one normalize/tokenize, buckets straight
      // off the normalized buffer. explode_OUTER (the array is never
      // empty for non-null text — empty text yields the [""] unigram —
      // and a plain explode makes the optimizer infer a size(...)>0
      // filter that re-runs the kernel per row, the t9/bandFrame
      // gotcha); a NULL text yields one null bkt row the filter drops,
      // matching the union form where explode dropped the null array.
      docs.select(col("doc_id"), isTarget.as("tgt"),
          explode_outer(fb(col("text"))).as("bkt"))
        .filter(col("bkt").isNotNull)
    case None =>
      val wl = docs.select(col("doc_id"), isTarget.as("tgt"),
        graft.functions.Text.words(col("text")).as("w"))
      val uni = wl.select(col("doc_id"), col("tgt"),
        explode(col("w")).as("f"))
      val big = wl.filter(size(col("w")) >= 2)
        .select(col("doc_id"), col("tgt"), explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1).as("p"),
          slice(col("w"), lit(2), size(col("w")) - 1).as("t"))).as("z"))
        .select(col("doc_id"), col("tgt"),
          concat(col("z.p"), lit(" "), col("z.t")).as("f"))
      uni.unionByName(big)
        .select(col("doc_id"), col("tgt"), hash.of(col("f")).as("bkt"))
  }

  /** The DSIR model state: per-bucket (cnt_a, cnt_t) occurrence counts.
    * Integer counts are ADDITIVE under any split of the corpus — per
    * partition, per micro-batch — so streamed slices fold to exactly the
    * batch model (Streams.dsirMaintenance writes one slice per batch;
    * [[foldModel]] re-sums).
    */
  def modelSlice(feats: DataFrame): DataFrame = feats
    .groupBy(col("bkt"))
    .agg(count(lit(1)).as("cnt_a"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("cnt_t"))

  def foldModel(slices: DataFrame): DataFrame = slices
    .groupBy(col("bkt"))
    .agg(sum(col("cnt_a")).as("cnt_a"), sum(col("cnt_t")).as("cnt_t"))

  /** Score a feature stream against a (bkt, cnt_a, cnt_t) model. The
    * weight table is built for EVERY bucket in [0, nBuckets) — buckets
    * absent from the model get the add-one-smoothed zero-count weight
    * flog(S+B) − flog(T+B) instead of silently dropping their features
    * (r10 review finding: an inner join on the model's occupied buckets
    * made serve() lose features — or whole documents — whose bucket the
    * accumulated model had not seen yet).
    */
  /** The smoothed per-bucket weight table (bkt, sb) for every bucket in
    * [0, nBuckets) — see [[weightsFrom]] for why absent buckets get the
    * zero-count weight instead of dropping out.
    */
  private def bucketWeights(model: DataFrame, nBuckets: Int): DataFrame = {
    val spark = model.sparkSession
    val full = spark.range(nBuckets).select(col("id").as("bkt"))
      .join(model, Seq("bkt"), "left")
      .select(col("bkt"), coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_t"), lit(0L)).as("cnt_t"))
    val tot = full.agg(coalesce(sum(col("cnt_a")), lit(0L)).as("s_tot"),
      coalesce(sum(col("cnt_t")), lit(0L)).as("t_tot"))
    full.crossJoin(broadcast(tot))
      .select(col("bkt"),
        ((flog(col("cnt_t") + 1) + flog(col("s_tot") + nBuckets))
          - (flog(col("cnt_a") + 1) + flog(col("t_tot") + nBuckets)))
          .as("sb"))
  }

  /** The shared per-doc projection from summed feature bits. */
  private def docScores(perDocBits: DataFrame, cutCentibits: Int)
      : DataFrame = perDocBits
    .select(col("doc_id"), col("n_feat"), col("score_bits"),
      graft.functions.Core.round4(
        col("score_bits").cast("double") / col("n_feat"))
        .as("avg_bits"),
      (col("score_bits") * 100 > col("n_feat") * cutCentibits)
        .as("keep"))

  private def weightsFrom(feats: DataFrame, model: DataFrame,
                          cutCentibits: Int, nBuckets: Int): DataFrame =
    docScores(
      feats.join(broadcast(bucketWeights(model, nBuckets)), Seq("bkt"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_feat"), sum(col("sb")).as("score_bits")),
      cutCentibits)

  /** Per-doc DSIR weights against the target predicate. Returns
    * (doc_id, n_feat, score_bits, avg_bits, keep) where keep applies
    * `cutCentibits` (score·100 > n_feat·cut — floor-log quantization
    * biases every bucket ~1 bit down, so the natural cut sits below 0).
    */
  def dsirWeights(docs: DataFrame, isTarget: Column, hash: FeatureHash,
                  cutCentibits: Int = -8): DataFrame = {
    // r16: reduce the feature stream to per-(doc, bkt) counts FIRST and
    // derive BOTH the model and the scoring from that one frame — the
    // two consumers share the (doc_id, tgt, bkt) exchange (Spark's
    // exchange reuse), so the md5-per-feature extraction kernel runs
    // ONCE where weightsFrom(feats, modelSlice(feats), ...) evaluated it
    // twice (model pass + scoring pass — the dominant kernel of the
    // query at every scale). Arithmetic identical: Σ_occurrences sb =
    // Σ_bkt c·sb, n_feat = Σ_bkt c, and the model counts are the same
    // integer sums one level up.
    val perDoc = features(docs, isTarget, hash)
      .groupBy(col("doc_id"), col("tgt"), col("bkt"))
      .agg(count(lit(1)).as("c"))
    val model = perDoc.groupBy(col("bkt"))
      .agg(sum(col("c")).as("cnt_a"),
        sum(when(col("tgt"), col("c")).otherwise(0L)).as("cnt_t"))
    docScores(
      perDoc
        .join(broadcast(bucketWeights(model, hash.nBuckets)), Seq("bkt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_feat"),
          sum(col("c") * col("sb")).as("score_bits")),
      cutCentibits)
  }

  /** Serve weights for `docs` from the slices a streamed
    * Streams.dsirMaintenance run accumulated under `indexDir` — folded
    * counts equal the batch model exactly (integer sums), so scoring the
    * full ingested corpus here is bit-identical to [[dsirWeights]] over
    * the same rows (StreamingSpec pins it). `docs` need not be the
    * ingested corpus: scoring NEW documents against the accumulated
    * model is the standing-selection serving shape — unseen buckets
    * score at the smoothed zero-count weight, and an empty model scores
    * every feature 0 rather than dropping rows.
    */
  def serve(docs: DataFrame, hash: FeatureHash, indexDir: String,
            cutCentibits: Int = -8): DataFrame = {
    val spark = docs.sparkSession
    val model = foldModel(graft.Tables.readOrEmpty(spark,
      s"$indexDir/buckets", "bkt BIGINT, cnt_a BIGINT, cnt_t BIGINT"))
    weightsFrom(features(docs, lit(false), hash), model,
      cutCentibits, hash.nBuckets)
  }
}
