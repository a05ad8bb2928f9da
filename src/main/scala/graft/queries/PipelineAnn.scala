package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Core._
import graft.functions.Text
import graft.operators.{Dedup, Retrieval, Similarity, Tokenize}
import PipelineSql._

/** Similarity-search / ANN family (n1-n14) — split out of
  * Pipeline.scala in r14; see [[Pipeline]] for the family map.
  */
object PipelineAnn {
  private type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(

    // N1: brute-force cosine top-k ANN (probes = vec_id < 10, k = 5).
    "n1_ann_topk" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(v.filter(col("vec_id") < 10), v, k = 5)
    },

    // N10: SQ8 scalar-quantized ANN — n1's search over a byte-per-
    // dimension index (4× smaller than float32, zero training beyond a
    // per-dim min/max pass); probes stay full-precision, candidates
    // score dequantized (the asymmetric SQ form). Every stage is
    // deterministic integer/IEEE arithmetic → full DuckDB oracle;
    // SimilaritySpec bounds recall vs n1.
    "n10_ann_sq8" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      Similarity.sq8TopK(v.filter(col("vec_id") < 10), v, k = 5)
    },

    // N2: LSH-bucketed ANN — same output shape as n1, candidates from
    // random-hyperplane buckets only. Recall < 1 by design, but the hash
    // itself is deterministic: plane weights are splitmix64 constants and
    // projections accumulate scaled-long, so the ENTIRE path (codes →
    // buckets → candidates → exact re-rank) has a full DuckDB oracle
    // (sign matrix inlined as literals); SimilaritySpec keeps the recall
    // floor vs n1.
    "n2_ann_lsh" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      Similarity.lshTopK(v.filter(col("vec_id") < 10), v, k = 5)
    },

    // N5: multi-probe LSH ANN — n2 plus Hamming-1 bucket probing on the
    // query side: recall rises at the SAME corpus-side signature cost
    // (tables cost a corpus-wide column; extra probes only cost the
    // small query side). Hash-verified like n2 (the probe expansion is
    // code XOR 1<<b — SQL-expressible); SimilaritySpec additionally
    // proves multi-probe recall dominates single-probe and clears a
    // floor single-probe doesn't.
    "n5_ann_multiprobe" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      Similarity.lshTopKMultiProbe(v.filter(col("vec_id") < 10), v, k = 5)
    },

    // N3: IVF-bucketed ANN — centroid assignment + nprobe-bucket search,
    // the TEACHING form of the inverted file (the n8_fixed_bits
    // convention: kept as a labeled counterexample, NOT the geometry
    // you'd deploy): its stride-50 centroids make nlist ∝ n/50, which
    // is measured superlinear one decade up (SCALING r13_n13_ivfsq8 —
    // the production entries are n9/n13/n14, sampled/adaptive
    // training). It stays because every stage is deterministic
    // SQL-expressible arithmetic — unlike the hash-based n2/n5 — so n3
    // carries the family's simplest FULL DuckDB oracle (assignment,
    // probe buckets, candidate join, exact re-rank); SimilaritySpec
    // additionally bounds recall vs n1.
    "n3_ann_ivf" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      Similarity.ivfTopK(v.filter(col("vec_id") < 10), v,
        centroids = v.filter(col("vec_id") % 50 === 0), k = 5, nprobe = 8)
    },

    // N12: FILTERED ANN — vector search under a metadata predicate, the
    // production "top-k among candidates WHERE label < 3" shape every
    // vector store serves: the predicate prunes candidates BEFORE the
    // bucket search (pre-filter — each probe still gets k results from
    // the filtered universe; post-filtering an unfiltered top-k would
    // return < k whenever the predicate is selective, the classic
    // filtered-search recall bug, demonstrated in SimilaritySpec). The
    // coarse quantizer stays corpus-wide (the index is built once;
    // predicates vary per query) and is the PRODUCTION geometry since
    // r14: adaptive-nlist sampled-trained centroids (nlist = ⌈√n⌉ from
    // one scalar count — the stride-50 demo form was measured
    // superlinear, SCALING r13_n12_filtered). The label predicate
    // reaches the embeddings parquet scan (PushedFilters, lint-pinned)
    // — at 100 TB the filter prunes row groups before any distance
    // math runs.
    "n12_ann_filtered" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      Similarity.ivfTopK(v.filter(col("vec_id") < 10),
        v.filter(col("label") < 3),
        centroids = Similarity.adaptiveTrainCentroids(v), k = 5,
        nprobe = 8)
    },

    // N13: IVF + SQ8 composite — FAISS's "IVF,SQ8": coarse cells prune
    // candidates (full-precision assignment), byte-per-dim SQ8 values
    // score them — the middle ground of the quantization matrix beside
    // IVF-flat and IVF+PQ (n7). Since r14 the coarse quantizer is the
    // production geometry: sample-trained centroids with nlist = ⌈√n⌉
    // derived from COUNT(*) (Similarity.autoNlist — candidates/probe
    // and the broadcast table both grow as √n; the retired stride-50
    // form was measured superlinear, SCALING r13_n13_ivfsq8). Beside
    // it, n14 pins the fixed-nlist variant of the same composite.
    // Deterministic end to end → full DuckDB oracle (the adaptive-cell
    // CTEs derive the same nlist/moduli from COUNT(*), + n10's dequant
    // CTE).
    "n13_ann_ivfsq8" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      Similarity.ivfSq8TopK(v.filter(col("vec_id") < 10), v,
        centroids = Similarity.adaptiveTrainCentroids(v), k = 5,
        nprobe = 8)
    },

    // N4: IVF with TRAINED centroids — two deterministic Lloyd iterations
    // over the deterministic sample n3 uses raw, then the same
    // nprobe-bucket search. Training is exact arithmetic (integer-domain
    // assignment, decimal-exact means), so the two iterations UNROLL into
    // SQL CTEs and n4 carries a full DuckDB oracle — the k-means itself
    // is hash-verified, not just recall-bounded (SimilaritySpec keeps the
    // recall floor and determinism checks).
    "n4_ann_ivf_trained" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      val trained = Similarity.kmeansCentroids(
        v, v.filter(col("vec_id") % 50 === 0), iters = 2)
      Similarity.ivfTopK(v.filter(col("vec_id") < 10), v,
        centroids = trained, k = 5, nprobe = 8)
    },

    // N9: IVF with SAMPLE-BOUNDED training — the production answer to the
    // n4/n6/n7 scaling finding (their oracle-pinned geometry derives the
    // centroid count from n, making Lloyd O(n²)): train the SAME two
    // deterministic Lloyd iterations on a bounded modulus sample
    // (≤ ~2·400 vectors whatever the corpus size) seeded with a FIXED
    // ~16 centroids, then run the same nprobe-bucket search over the
    // full corpus. Training cost is constant in corpus size; assignment
    // and the candidate join are the linear passes IVF always pays
    // (SCALING.json carries the measured slope). Both moduli are pure
    // arithmetic over vec_id, so the whole path — sample, seeds, two
    // Lloyd iterations, full-corpus assignment, pruned search — unrolls
    // into SQL and n9 is hash-verified against a full DuckDB oracle.
    "n9_ann_ivf_sampled" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      val trained = Similarity.sampledTrainCentroids(
        v, targetSample = 400L, kCentroids = 16L, iters = 2)
      Similarity.ivfTopK(v.filter(col("vec_id") < 10), v,
        centroids = trained, k = 5, nprobe = 8)
    },

    // N14: the PRODUCTION quantized composite — n9's sample-bounded
    // trained centroids (fixed ~16 cells whatever the corpus size; the
    // constant-cost training geometry) pruning candidates for n10's SQ8
    // byte scoring. This is the deployment shape the n12/n13 SCALING
    // notes point at: every training input is corpus-size-independent,
    // assignment is O(n·16) not O(n²/50), and the scored bytes are 4×
    // under float32. Fully deterministic → the oracle composes n9's
    // sampled-Lloyd CTE chain with n10's dequant CTE.
    "n14_ann_sq8_sampled" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      val trained = Similarity.sampledTrainCentroids(
        v, targetSample = 400L, kCentroids = 16L, iters = 2)
      Similarity.ivfSq8TopK(v.filter(col("vec_id") < 10), v,
        centroids = trained, k = 5, nprobe = 8)
    },

    // N16: two-level (coarse-quantized) IVF — the 1000×+ BUILD geometry
    // for the adaptive √n-cell rule. n13's flat assignment is O(n·√n)
    // dots (measured: killed after >12 min at 1000×, SCALING
    // r14_decades); here every g-th Lloyd SEED (g = ⌈√nlist⌉) is a
    // coarse centroid, each trained cell parents to its nearest coarse
    // centroid, and vectors assign in two ~n^(1/4)-wide hops — the
    // FAISS coarse-quantizer / IMI shape, O(n·n^(1/4)) total. The
    // two-hop argmax is approximate at coarse-group boundaries (the
    // IMI trade; SimilaritySpec pins flat-assignment agreement and the
    // recall floor) but DETERMINISTIC — modulus membership, scaled-long
    // cosines, id tie-breaks — so the whole build unrolls into SQL.
    "n16_ann_twolevel" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      Similarity.ivfTopKTwoLevel(v.filter(col("vec_id") < 10), v,
        k = 5, nprobe = 8, wAssign = 2)
    },

    // N6: product-quantization ANN — the corpus compresses to m codebook
    // ids per vector (64 floats → 8 codes, the RAM-residency lever at
    // 100 TB; IVF prunes candidates, PQ shrinks them); queries score the
    // codes by integer table-lookup (ADC), then exact-re-rank only the
    // surviving shortlist. Codebooks are deterministic Lloyd with
    // SAMPLE-BOUNDED training (r12, closing the r11 weak mark): the
    // n9-style moduli derived from COUNT(*) cap the training set at
    // ~2·400 vectors and the codebook at ~40 codes whatever the corpus
    // size, retiring the measured-O(n²) fixed-stride geometry — and
    // because every stage is integer/decimal-exact arithmetic, the WHOLE
    // path (sampled subspace training, full-corpus encoding, ADC
    // scoring, shortlist, re-rank) unrolls into SQL CTEs: n6 is
    // hash-verified against a full DuckDB oracle that derives the SAME
    // moduli from COUNT(*), with SimilaritySpec keeping code-domain
    // bounds and the recall floor.
    "n6_ann_pq" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      Similarity.pqTopK(v.filter(col("vec_id") < 10), v, k = 5)
    },

    // N15: PQ search from the PACKED byte artifact — n6's exact
    // geometry (same sampled codebook, same codes) re-laid-out as one
    // binary cell per candidate and scored by the codegen'd pq_adc
    // kernel: ONE row per (probe, candidate) with the m-step lookup
    // loop inside whole-stage codegen, where the long form pays an
    // m-row join + per-pair aggregation before the shuffle. Integer
    // sums commute, so the scores — and the served ranking — are
    // bit-identical to n6: the oracle IS n6's SQL, verbatim, and
    // SimilaritySpec additionally pins packed≡long-form row equality.
    "n15_ann_pq_packed" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      val cb = Similarity.pqTrainSampled(v, m = 8, iters = 2)
      // fused encode+pack (r16): the dense-relabeled assign kernel emits
      // each vector's packed bytes map-side — the long-form
      // pqPackCodes(pqEncode(...)) chain paid two corpus-wide reassembly
      // shuffles to reach the same bytes (SimilaritySpec pins equality)
      val packed = Similarity.pqEncodePacked(v, cb)
      Similarity.pqTopKFromPackedCodes(
        v.filter(col("vec_id") < 10), v, cb, packed, k = 5)
    },

    // N7: IVF+PQ composite — the production serving shape (FAISS
    // IndexIVFPQ minus residual encoding): IVF cells bound how much of
    // the corpus a query touches (~nprobe/nlist), PQ codes make that
    // slice RAM-resident, ADC scores only the pruned candidates, the
    // shortlist re-ranks exactly. Both training stages are
    // sample-bounded since r12: centroids come from sampledTrainCentroids
    // (fixed ~16 trained cells — nlist no longer ∝ n) and the PQ
    // codebook from the sampled moduli (fixed ~40 codes), so in-query
    // training is constant-cost and only encoding/assignment pay the
    // linear pass. Deterministic end to end, so the whole composite
    // (sampled Lloyd ×2 + bucketing + encoding + pruned ADC + re-rank)
    // unrolls into one SQL oracle deriving the same moduli from COUNT(*).
    "n7_ann_ivfpq" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(v.filter(col("vec_id") < 10), v,
        centroids = Similarity.sampledTrainCentroids(
          v, targetSample = 400L, kCentroids = 16L, iters = 2),
        k = 5, nprobe = 8)
    },

    // N8: corpus-wide k-NN GRAPH — every vector gets its LSH-bucketed
    // top-k edge list. Unlike the n1-n7 serving paths (small probe
    // batch, broadcast), both join sides here are corpus-scale: the
    // candidate join is a plain shuffled self-equi-join on the bucket
    // key, the shape SemDeDup clustering and graph dedup consume.
    // Deterministic like n2 (same splitmix64 planes, scaled-long
    // projections), so the whole graph carries a full DuckDB oracle.
    // The code width is ADAPTIVE (r11, closing the r10 weak mark): one
    // scalar count() derives bits = autoBits(n) so per-bucket occupancy
    // — and with it the Σ bucket² candidate volume — stays bounded at
    // any corpus size; the fixed 4×6-bit calibration was measured
    // quadratic one decade above its SF (SCALING.json: 1.9 → 151.5 s
    // at 10×) while this rule's widths hold the slope near-linear
    // through 100×. The oracle derives the SAME width from COUNT(*).
    "n8_knn_graph" -> { (s, d) =>
      Similarity.knnGraphAuto(Tables.embeddings(s, d), k = 5)
    },
  )

  /** The n6 oracle SQL, shared verbatim with n15_ann_pq_packed — the
    * packed ADC kernel is bit-identical to the long-form ADC chain
    * this unrolls (integer sums commute), so one string serves both.
    */
  private val n6OracleSql: String =
    s"""WITH u AS ($duckUnnest),
         sl AS (SELECT vec_id AS id, CAST((i-1)//8 AS BIGINT) AS sub,
                  (i-1)%8 AS pos, x
                FROM u),
         pm AS (SELECT greatest(1, count(*) // 400) AS md
                FROM embeddings),
         ss AS (SELECT sl.* FROM sl, pm WHERE sl.id % pm.md = 0),
         pm2 AS (SELECT greatest(1, count(DISTINCT ss.id) // 40) AS st
                 FROM ss),
         srk AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS q
                 FROM (SELECT DISTINCT id FROM ss)),
         cb0 AS (SELECT sub, sl.id AS code, pos, x AS cw
                 FROM sl JOIN srk ON sl.id = srk.id, pm2
                 WHERE srk.q % pm2.st = 0),
         d1 AS (SELECT s.id, s.sub, c.code,
                  SUM(CAST(floor(c.cw*c.cw*1e16) AS BIGINT))
                    - 2*SUM(CAST(floor(s.x*c.cw*1e16) AS BIGINT)) AS d2
                FROM ss s JOIN cb0 c ON s.sub = c.sub AND s.pos = c.pos
                GROUP BY 1, 2, 3),
         a1 AS (SELECT id, sub, code FROM (
                  SELECT id, sub, code, row_number() OVER (
                    PARTITION BY id, sub ORDER BY d2, code) AS rn FROM d1)
                WHERE rn = 1),
         cb1 AS (SELECT a.sub, a.code, s.pos,
                   CAST(CAST(SUM(CAST(s.x AS DECIMAL(38,6))) AS DOUBLE)
                     / COUNT(*) AS REAL) AS cw
                 FROM ss s JOIN a1 a ON s.id = a.id AND s.sub = a.sub
                 GROUP BY 1, 2, 3),
         d2i AS (SELECT s.id, s.sub, c.code,
                   SUM(CAST(floor(c.cw*c.cw*1e16) AS BIGINT))
                     - 2*SUM(CAST(floor(s.x*c.cw*1e16) AS BIGINT)) AS d2
                 FROM ss s JOIN cb1 c ON s.sub = c.sub AND s.pos = c.pos
                 GROUP BY 1, 2, 3),
         a2 AS (SELECT id, sub, code FROM (
                  SELECT id, sub, code, row_number() OVER (
                    PARTITION BY id, sub ORDER BY d2, code) AS rn FROM d2i)
                WHERE rn = 1),
         cb2 AS (SELECT a.sub, a.code, s.pos,
                   CAST(CAST(SUM(CAST(s.x AS DECIMAL(38,6))) AS DOUBLE)
                     / COUNT(*) AS REAL) AS cw
                 FROM ss s JOIN a2 a ON s.id = a.id AND s.sub = a.sub
                 GROUP BY 1, 2, 3),
         d3 AS (SELECT s.id, s.sub, c.code,
                  SUM(CAST(floor(c.cw*c.cw*1e16) AS BIGINT))
                    - 2*SUM(CAST(floor(s.x*c.cw*1e16) AS BIGINT)) AS d2
                FROM sl s JOIN cb2 c ON s.sub = c.sub AND s.pos = c.pos
                GROUP BY 1, 2, 3),
         enc AS (SELECT id AS cand_id, sub, code FROM (
                   SELECT id, sub, code, row_number() OVER (
                     PARTITION BY id, sub ORDER BY d2, code) AS rn FROM d3)
                 WHERE rn = 1),
         lut AS (SELECT s.id AS probe_id, c.sub, c.code,
                   SUM(CAST(floor(s.x*c.cw*1e16) AS BIGINT)) AS pdot,
                   SUM(CAST(floor(c.cw*c.cw*1e16) AS BIGINT)) AS cn
                 FROM sl s JOIN cb2 c ON s.sub = c.sub AND s.pos = c.pos
                 WHERE s.id < 10 GROUP BY 1, 2, 3),
         pn AS (SELECT vec_id AS probe_id,
                  SUM(CAST(floor(x*x*1e16) AS BIGINT)) AS pn
                FROM u WHERE vec_id < 10 GROUP BY 1),
         adc AS (SELECT l.probe_id, e.cand_id,
                   SUM(l.pdot) AS adot, SUM(l.cn) AS rnorm
                 FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.code
                 GROUP BY 1, 2),
         acs AS (SELECT a.probe_id, a.cand_id,
                   CAST(a.adot AS DOUBLE) / (sqrt(CAST(p.pn AS DOUBLE))
                     * sqrt(CAST(a.rnorm AS DOUBLE))) AS acos
                 FROM adc a JOIN pn p USING (probe_id)
                 WHERE a.probe_id <> a.cand_id),
         short AS (SELECT probe_id, cand_id FROM (
                     SELECT probe_id, cand_id, row_number() OVER (
                       PARTITION BY probe_id ORDER BY acos DESC, cand_id)
                       AS rn FROM acs) WHERE rn <= 50),
         sc AS (SELECT s.probe_id, s.cand_id,
                  ${duckCos("a.x", "b.x")} AS cos
                FROM short s
                JOIN u a ON a.vec_id = s.probe_id
                JOIN u b ON b.vec_id = s.cand_id AND a.i = b.i
                GROUP BY 1, 2),
         r AS (SELECT probe_id, cand_id, cos, row_number() OVER (
                 PARTITION BY probe_id ORDER BY cos DESC, cand_id)
                 AS rank FROM sc)
         SELECT probe_id, rank, cand_id AS neighbor_id,
           round(cos, 4) AS cosine
         FROM r WHERE rank <= 5 ORDER BY probe_id, rank"""

  val oracles: Map[String, String] = Map(
    "n2_ann_lsh" -> lshOracle(multiProbe = false),
    "n5_ann_multiprobe" -> lshOracle(multiProbe = true),
    // n8: same machinery, graph-tuned (4 tables × 6 bits) and EVERY
    // vector is a probe — the oracle is the n2 twin with the probe
    // restriction dropped
    "n8_knn_graph" -> lshOracle(multiProbe = false, tables = 4,
      probePred = "TRUE", adaptiveTarget = Some(32)),
    // n6: PQ training is restricted to the bounded modulus sample (ss)
    // seeded at the fixed-k RANK stride (pm2/srk — every st-th distinct
    // sample id by rank, the r15 structured-id-proof rule; on the dense
    // gate fixtures identical to the historical second modulus), both
    // derived from the same counts the Spark driver reads, as CTEs.
    // Only d3 (final encode) and the probe LUT see the full slice table.
    "n6_ann_pq" -> n6OracleSql,
    // n7 = n9's sampled-trained IVF bucketing CTEs (i-prefixed: the
    // centroid-training sample modulus iprm mirrors
    // sampledTrainCentroids' 400 from COUNT(*); seeds are the fixed-16
    // RANK stride over the sample — ist/isrk/isd, the same
    // structured-id-proof rule as n6's pm2/srk) + n6's sampled PQ
    // training/encoding CTEs, with the ADC stage restricted to the
    // IVF-pruned candidate pairs
    "n7_ann_ivfpq" ->
      s"""WITH u AS ($duckUnnest),
         iprm AS (SELECT greatest(1, count(*) // 400) AS md
                  FROM embeddings),
         isu AS (SELECT u.* FROM u, iprm WHERE u.vec_id % iprm.md = 0),
         ist AS (SELECT greatest(1, count(DISTINCT isu.vec_id) // 16)
                   AS st FROM isu),
         isrk AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1
                    AS q
                  FROM (SELECT DISTINCT vec_id FROM isu)),
         isd AS (SELECT isrk.vec_id FROM isrk, ist
                 WHERE isrk.q % ist.st = 0),
         ic0 AS (SELECT u.vec_id AS cid, u.x AS cx, u.i
                 FROM u JOIN isd ON u.vec_id = isd.vec_id),
         is1 AS (SELECT a.vec_id, b.cid, ${duckCos("a.x", "b.cx")} AS csim
                 FROM isu a JOIN ic0 b ON a.i = b.i GROUP BY 1, 2),
         ia1 AS (SELECT vec_id, cid FROM (
                   SELECT vec_id, cid, row_number() OVER (
                     PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
                   FROM is1) WHERE rn = 1),
         ic1 AS (SELECT ia1.cid, isu.i,
                   CAST(CAST(SUM(CAST(isu.x AS DECIMAL(38,6))) AS DOUBLE)
                     / COUNT(*) AS REAL) AS cx
                 FROM isu JOIN ia1 USING (vec_id) GROUP BY 1, 2),
         is2 AS (SELECT a.vec_id, b.cid, ${duckCos("a.x", "b.cx")} AS csim
                 FROM isu a JOIN ic1 b ON a.i = b.i GROUP BY 1, 2),
         ia2 AS (SELECT vec_id, cid FROM (
                   SELECT vec_id, cid, row_number() OVER (
                     PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
                   FROM is2) WHERE rn = 1),
         ic2 AS (SELECT ia2.cid, isu.i,
                   CAST(CAST(SUM(CAST(isu.x AS DECIMAL(38,6))) AS DOUBLE)
                     / COUNT(*) AS REAL) AS cx
                 FROM isu JOIN ia2 USING (vec_id) GROUP BY 1, 2),
         is3 AS (SELECT a.vec_id, b.cid, ${duckCos("a.x", "b.cx")} AS csim
                 FROM u a JOIN ic2 b ON a.i = b.i GROUP BY 1, 2),
         vr AS (SELECT vec_id, cid, row_number() OVER (
                  PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
                FROM is3),
         vb AS (SELECT vec_id AS cand_id, cid FROM vr WHERE rn = 1),
         pb AS (SELECT vec_id AS probe_id, cid FROM vr
                WHERE rn <= 8 AND vec_id < 10),
         cands AS (SELECT DISTINCT probe_id, cand_id
                   FROM pb JOIN vb USING (cid)
                   WHERE probe_id <> cand_id),
         sl AS (SELECT vec_id AS id, CAST((i-1)//8 AS BIGINT) AS sub,
                  (i-1)%8 AS pos, x
                FROM u),
         pm AS (SELECT greatest(1, count(*) // 400) AS md
                FROM embeddings),
         ss AS (SELECT sl.* FROM sl, pm WHERE sl.id % pm.md = 0),
         pm2 AS (SELECT greatest(1, count(DISTINCT ss.id) // 40) AS st
                 FROM ss),
         srk AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS q
                 FROM (SELECT DISTINCT id FROM ss)),
         cb0 AS (SELECT sub, sl.id AS code, pos, x AS cw
                 FROM sl JOIN srk ON sl.id = srk.id, pm2
                 WHERE srk.q % pm2.st = 0),
         d1 AS (SELECT s.id, s.sub, c.code,
                  SUM(CAST(floor(c.cw*c.cw*1e16) AS BIGINT))
                    - 2*SUM(CAST(floor(s.x*c.cw*1e16) AS BIGINT)) AS d2
                FROM ss s JOIN cb0 c ON s.sub = c.sub AND s.pos = c.pos
                GROUP BY 1, 2, 3),
         a1 AS (SELECT id, sub, code FROM (
                  SELECT id, sub, code, row_number() OVER (
                    PARTITION BY id, sub ORDER BY d2, code) AS rn FROM d1)
                WHERE rn = 1),
         cb1 AS (SELECT a.sub, a.code, s.pos,
                   CAST(CAST(SUM(CAST(s.x AS DECIMAL(38,6))) AS DOUBLE)
                     / COUNT(*) AS REAL) AS cw
                 FROM ss s JOIN a1 a ON s.id = a.id AND s.sub = a.sub
                 GROUP BY 1, 2, 3),
         d2i AS (SELECT s.id, s.sub, c.code,
                   SUM(CAST(floor(c.cw*c.cw*1e16) AS BIGINT))
                     - 2*SUM(CAST(floor(s.x*c.cw*1e16) AS BIGINT)) AS d2
                 FROM ss s JOIN cb1 c ON s.sub = c.sub AND s.pos = c.pos
                 GROUP BY 1, 2, 3),
         a2 AS (SELECT id, sub, code FROM (
                  SELECT id, sub, code, row_number() OVER (
                    PARTITION BY id, sub ORDER BY d2, code) AS rn FROM d2i)
                WHERE rn = 1),
         cb2 AS (SELECT a.sub, a.code, s.pos,
                   CAST(CAST(SUM(CAST(s.x AS DECIMAL(38,6))) AS DOUBLE)
                     / COUNT(*) AS REAL) AS cw
                 FROM ss s JOIN a2 a ON s.id = a.id AND s.sub = a.sub
                 GROUP BY 1, 2, 3),
         d3 AS (SELECT s.id, s.sub, c.code,
                  SUM(CAST(floor(c.cw*c.cw*1e16) AS BIGINT))
                    - 2*SUM(CAST(floor(s.x*c.cw*1e16) AS BIGINT)) AS d2
                FROM sl s JOIN cb2 c ON s.sub = c.sub AND s.pos = c.pos
                GROUP BY 1, 2, 3),
         enc AS (SELECT id AS cand_id, sub, code FROM (
                   SELECT id, sub, code, row_number() OVER (
                     PARTITION BY id, sub ORDER BY d2, code) AS rn FROM d3)
                 WHERE rn = 1),
         lut AS (SELECT s.id AS probe_id, c.sub, c.code,
                   SUM(CAST(floor(s.x*c.cw*1e16) AS BIGINT)) AS pdot,
                   SUM(CAST(floor(c.cw*c.cw*1e16) AS BIGINT)) AS cn
                 FROM sl s JOIN cb2 c ON s.sub = c.sub AND s.pos = c.pos
                 WHERE s.id < 10 GROUP BY 1, 2, 3),
         pn AS (SELECT vec_id AS probe_id,
                  SUM(CAST(floor(x*x*1e16) AS BIGINT)) AS pn
                FROM u WHERE vec_id < 10 GROUP BY 1),
         adc AS (SELECT cd.probe_id, cd.cand_id,
                   SUM(l.pdot) AS adot, SUM(l.cn) AS rnorm
                 FROM cands cd
                 JOIN enc e ON e.cand_id = cd.cand_id
                 JOIN lut l ON l.probe_id = cd.probe_id
                   AND l.sub = e.sub AND l.code = e.code
                 GROUP BY 1, 2),
         acs AS (SELECT a.probe_id, a.cand_id,
                   CAST(a.adot AS DOUBLE) / (sqrt(CAST(p.pn AS DOUBLE))
                     * sqrt(CAST(a.rnorm AS DOUBLE))) AS acos
                 FROM adc a JOIN pn p USING (probe_id)),
         short AS (SELECT probe_id, cand_id FROM (
                     SELECT probe_id, cand_id, row_number() OVER (
                       PARTITION BY probe_id ORDER BY acos DESC, cand_id)
                       AS rn FROM acs) WHERE rn <= 50),
         sc AS (SELECT s.probe_id, s.cand_id,
                  ${duckCos("a.x", "b.x")} AS cos
                FROM short s
                JOIN u a ON a.vec_id = s.probe_id
                JOIN u b ON b.vec_id = s.cand_id AND a.i = b.i
                GROUP BY 1, 2),
         r AS (SELECT probe_id, cand_id, cos, row_number() OVER (
                 PARTITION BY probe_id ORDER BY cos DESC, cand_id)
                 AS rank FROM sc)
         SELECT probe_id, rank, cand_id AS neighbor_id,
           round(cos, 4) AS cosine
         FROM r WHERE rank <= 5 ORDER BY probe_id, rank""",
    "n4_ann_ivf_trained" ->
      s"""WITH u AS ($duckUnnest),
         c0 AS (SELECT vec_id AS cid, x AS cx, i FROM u
                WHERE vec_id % 50 = 0),
         s1 AS (SELECT a.vec_id, b.cid, ${duckCos("a.x", "b.cx")} AS csim
                FROM u a JOIN c0 b ON a.i = b.i GROUP BY 1, 2),
         a1 AS (SELECT vec_id, cid FROM (
                  SELECT vec_id, cid, row_number() OVER (
                    PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
                  FROM s1) WHERE rn = 1),
         c1 AS (SELECT a1.cid,  u.i,
                  CAST(CAST(SUM(CAST(u.x AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(*) AS REAL) AS cx
                FROM u JOIN a1 USING (vec_id) GROUP BY 1, 2),
         s2 AS (SELECT a.vec_id, b.cid, ${duckCos("a.x", "b.cx")} AS csim
                FROM u a JOIN c1 b ON a.i = b.i GROUP BY 1, 2),
         a2 AS (SELECT vec_id, cid FROM (
                  SELECT vec_id, cid, row_number() OVER (
                    PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
                  FROM s2) WHERE rn = 1),
         c2 AS (SELECT a2.cid, u.i,
                  CAST(CAST(SUM(CAST(u.x AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(*) AS REAL) AS cx
                FROM u JOIN a2 USING (vec_id) GROUP BY 1, 2),
         s3 AS (SELECT a.vec_id, b.cid, ${duckCos("a.x", "b.cx")} AS csim
                FROM u a JOIN c2 b ON a.i = b.i GROUP BY 1, 2),
         vr AS (SELECT vec_id, cid, row_number() OVER (
                  PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
                FROM s3),
         vb AS (SELECT vec_id AS cand_id, cid FROM vr WHERE rn = 1),
         pb AS (SELECT vec_id AS probe_id, cid FROM vr
                WHERE rn <= 8 AND vec_id < 10),
         cands AS (SELECT DISTINCT probe_id, cand_id
                   FROM pb JOIN vb USING (cid)
                   WHERE probe_id <> cand_id),
         sc AS (SELECT c.probe_id, c.cand_id,
                  ${duckCos("a.x", "b.x")} AS cos
                FROM cands c
                JOIN u a ON a.vec_id = c.probe_id
                JOIN u b ON b.vec_id = c.cand_id AND a.i = b.i
                GROUP BY 1, 2),
         r AS (SELECT probe_id, cand_id, cos, row_number() OVER (
                 PARTITION BY probe_id ORDER BY cos DESC, cand_id)
                 AS rank FROM sc)
         SELECT probe_id, rank, cand_id AS neighbor_id,
           round(cos, 4) AS cosine
         FROM r WHERE rank <= 5 ORDER BY probe_id, rank""",
    // n9: the n4 oracle with training restricted to the bounded modulus
    // sample (su) and seeds to the fixed-16 RANK stride over the sample
    // (st0/srk0/sd0) — derived from the same counts the Spark driver
    // reads, as scalar CTEs. Only s3 (final assignment) sees the full
    // corpus.
    "n9_ann_ivf_sampled" ->
      s"""WITH u AS ($duckUnnest),
         $duckSampledCells,
         vb AS (SELECT vec_id AS cand_id, cid FROM vr WHERE rn = 1),
         pb AS (SELECT vec_id AS probe_id, cid FROM vr
                WHERE rn <= 8 AND vec_id < 10),
         cands AS (SELECT DISTINCT probe_id, cand_id
                   FROM pb JOIN vb USING (cid)
                   WHERE probe_id <> cand_id),
         sc AS (SELECT c.probe_id, c.cand_id,
                  ${duckCos("a.x", "b.x")} AS cos
                FROM cands c
                JOIN u a ON a.vec_id = c.probe_id
                JOIN u b ON b.vec_id = c.cand_id AND a.i = b.i
                GROUP BY 1, 2),
         r AS (SELECT probe_id, cand_id, cos, row_number() OVER (
                 PARTITION BY probe_id ORDER BY cos DESC, cand_id)
                 AS rank FROM sc)
         SELECT probe_id, rank, cand_id AS neighbor_id,
           round(cos, 4) AS cosine
         FROM r WHERE rank <= 5 ORDER BY probe_id, rank""",
    "n3_ann_ivf" ->
      s"""WITH u AS ($duckUnnest),
         $duckIvfAssign,
         vb AS (SELECT vec_id AS cand_id, cid FROM vr WHERE rn = 1),
         pb AS (SELECT vec_id AS probe_id, cid FROM vr
                WHERE rn <= 8 AND vec_id < 10),
         cands AS (SELECT DISTINCT probe_id, cand_id
                   FROM pb JOIN vb USING (cid)
                   WHERE probe_id <> cand_id),
         sc AS (SELECT c.probe_id, c.cand_id,
                  ${duckCos("a.x", "b.x")} AS cos
                FROM cands c
                JOIN u a ON a.vec_id = c.probe_id
                JOIN u b ON b.vec_id = c.cand_id AND a.i = b.i
                GROUP BY 1, 2),
         r AS (SELECT probe_id, cand_id, cos, row_number() OVER (
                 PARTITION BY probe_id ORDER BY cos DESC, cand_id)
                 AS rank FROM sc)
         SELECT probe_id, rank, cand_id AS neighbor_id,
           round(cos, 4) AS cosine
         FROM r WHERE rank <= 5 ORDER BY probe_id, rank""",
    // n14: n9's sampled-Lloyd cell chain + n10's dequant CTE — the
    // production quantized composite (fixed cells, byte scoring)
    "n14_ann_sq8_sampled" ->
      s"""WITH u AS ($duckUnnest),
         $duckSampledCells,
         vb AS (SELECT vec_id AS cand_id, cid FROM vr WHERE rn = 1),
         pb AS (SELECT vec_id AS probe_id, cid FROM vr
                WHERE rn <= 8 AND vec_id < 10),
         cands AS (SELECT DISTINCT probe_id, cand_id
                   FROM pb JOIN vb USING (cid)
                   WHERE probe_id <> cand_id),
         $duckSq8Dequant,
         sc AS (SELECT c.probe_id, c.cand_id,
                  ${duckCos("a.x", "b.xq")} AS cos
                FROM cands c
                JOIN u a ON a.vec_id = c.probe_id
                JOIN dq b ON b.vec_id = c.cand_id AND a.i = b.i
                GROUP BY 1, 2),
         r AS (SELECT probe_id, cand_id, cos, row_number() OVER (
                 PARTITION BY probe_id ORDER BY cos DESC, cand_id)
                 AS rank FROM sc)
         SELECT probe_id, rank, cand_id AS neighbor_id,
           round(cos, 4) AS cosine
         FROM r WHERE rank <= 5 ORDER BY probe_id, rank""",
    // n13: the ADAPTIVE-nlist sampled-Lloyd cell CTEs (nlist = ⌈√n⌉
    // derived from COUNT(*)) + n10's SQ8 dequant CTE — cells prune,
    // dequantized bytes score
    "n13_ann_ivfsq8" ->
      s"""WITH u AS ($duckUnnest),
         $duckAdaptiveCells,
         vb AS (SELECT vec_id AS cand_id, cid FROM vr WHERE rn = 1),
         pb AS (SELECT vec_id AS probe_id, cid FROM vr
                WHERE rn <= 8 AND vec_id < 10),
         cands AS (SELECT DISTINCT probe_id, cand_id
                   FROM pb JOIN vb USING (cid)
                   WHERE probe_id <> cand_id),
         $duckSq8Dequant,
         sc AS (SELECT c.probe_id, c.cand_id,
                  ${duckCos("a.x", "b.xq")} AS cos
                FROM cands c
                JOIN u a ON a.vec_id = c.probe_id
                JOIN dq b ON b.vec_id = c.cand_id AND a.i = b.i
                GROUP BY 1, 2),
         r AS (SELECT probe_id, cand_id, cos, row_number() OVER (
                 PARTITION BY probe_id ORDER BY cos DESC, cand_id)
                 AS rank FROM sc)
         SELECT probe_id, rank, cand_id AS neighbor_id,
           round(cos, 4) AS cosine
         FROM r WHERE rank <= 5 ORDER BY probe_id, rank""",
    // n16: the two-level tail over the same adaptive Lloyd chain —
    // coarse layer from the seed modulus, cell parents, two-hop CORPUS
    // assignment (vr) and FLAT probe ranking (vrp — the FAISS
    // asymmetry, see duckTwoLevelCells), then the usual pruned
    // exact-scoring tail
    "n16_ann_twolevel" ->
      s"""WITH u AS ($duckUnnest),
         ${duckTwoLevelCells(2)},
         vb AS (SELECT vec_id AS cand_id, cid FROM vr WHERE rn = 1),
         pb AS (SELECT vec_id AS probe_id, cid FROM vrp WHERE rn <= 8),
         cands AS (SELECT DISTINCT probe_id, cand_id
                   FROM pb JOIN vb USING (cid)
                   WHERE probe_id <> cand_id),
         sc AS (SELECT c.probe_id, c.cand_id,
                  ${duckCos("a.x", "b.x")} AS cos
                FROM cands c
                JOIN u a ON a.vec_id = c.probe_id
                JOIN u b ON b.vec_id = c.cand_id AND a.i = b.i
                GROUP BY 1, 2),
         r AS (SELECT probe_id, cand_id, cos, row_number() OVER (
                 PARTITION BY probe_id ORDER BY cos DESC, cand_id)
                 AS rank FROM sc)
         SELECT probe_id, rank, cand_id AS neighbor_id,
           round(cos, 4) AS cosine
         FROM r WHERE rank <= 5 ORDER BY probe_id, rank""",
    // n12: the adaptive-cell oracle with the label predicate pruning
    // the candidate assignments (pre-filter); probe assignments and the
    // coarse quantizer stay corpus-wide (the index is built once)
    "n12_ann_filtered" ->
      s"""WITH u AS ($duckUnnest),
         $duckAdaptiveCells,
         vb AS (SELECT vr.vec_id AS cand_id, cid FROM vr
                JOIN embeddings e ON vr.vec_id = e.vec_id
                WHERE rn = 1 AND e.label < 3),
         pb AS (SELECT vec_id AS probe_id, cid FROM vr
                WHERE rn <= 8 AND vec_id < 10),
         cands AS (SELECT DISTINCT probe_id, cand_id
                   FROM pb JOIN vb USING (cid)
                   WHERE probe_id <> cand_id),
         sc AS (SELECT c.probe_id, c.cand_id,
                  ${duckCos("a.x", "b.x")} AS cos
                FROM cands c
                JOIN u a ON a.vec_id = c.probe_id
                JOIN u b ON b.vec_id = c.cand_id AND a.i = b.i
                GROUP BY 1, 2),
         r AS (SELECT probe_id, cand_id, cos, row_number() OVER (
                 PARTITION BY probe_id ORDER BY cos DESC, cand_id)
                 AS rank FROM sc)
         SELECT probe_id, rank, cand_id AS neighbor_id,
           round(cos, 4) AS cosine
         FROM r WHERE rank <= 5 ORDER BY probe_id, rank""",
    "n1_ann_topk" ->
      s"""WITH u AS ($duckUnnest),
         sc AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                  ${duckCos("a.x", "b.x")} AS cos
                FROM u a JOIN u b
                  ON a.i = b.i AND a.vec_id < 10 AND a.vec_id <> b.vec_id
                GROUP BY 1, 2),
         r AS (SELECT probe_id, neighbor_id, cos, row_number() OVER (
                 PARTITION BY probe_id ORDER BY cos DESC, neighbor_id)
                 AS rank FROM sc)
         SELECT probe_id, rank, neighbor_id, round(cos, 4) AS cosine
         FROM r WHERE rank <= 5 ORDER BY probe_id, rank""",
    // n10: the SQ8 round-trip (encode floor((x−mn)·255/span) clamped,
    // decode mn + code·span/255, rounded through REAL like the Spark
    // side's float cast) feeding the same scaled-long cosine as n1
    "n10_ann_sq8" ->
      s"""WITH u AS ($duckUnnest),
         $duckSq8Dequant,
         sc AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                  ${duckCos("a.x", "b.xq")} AS cos
                FROM u a JOIN dq b
                  ON a.i = b.i AND a.vec_id < 10 AND a.vec_id <> b.vec_id
                GROUP BY 1, 2),
         r AS (SELECT probe_id, neighbor_id, cos, row_number() OVER (
                 PARTITION BY probe_id ORDER BY cos DESC, neighbor_id)
                 AS rank FROM sc)
         SELECT probe_id, rank, neighbor_id, round(cos, 4) AS cosine
         FROM r WHERE rank <= 5 ORDER BY probe_id, rank""",
  ) ++ Map(
    // n15 serves the SAME scores as n6 from the packed byte artifact —
    // the pq_adc kernel's integer sums commute with the long-form ADC's,
    // so the oracle is n6's SQL verbatim (the hash gate then proves the
    // packed layout changed nothing but the physical shape)
    "n15_ann_pq_packed" -> n6OracleSql
  )
}
