package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Core._
import graft.functions.Text
import graft.operators.{Dedup, Retrieval, Similarity, Tokenize}
import PipelineSql._

/** Deduplication / decontamination family (d1-d18) — split out of
  * Pipeline.scala in r14 (file-size review); the aggregate surface is
  * unchanged: [[Pipeline.defs]] concatenates the families.
  */
object PipelineDedup {
  private type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(

    // D1: exact dedup — md5-of-normalized-text hash groupBy, keep-first.
    "d1_exact_dedup" -> { (s, d) =>
      Dedup.exactDedup(Tables.documents(s, d))
    },

    // D2: MinHash+LSH near-dup (the 100 TB dedup path): banded signatures →
    // bucket equi-join candidates → exact-Jaccard verify. Never O(n²).
    "d2_minhash_neardup" -> { (s, d) =>
      Dedup.minhashNearDup(Tables.documents(s, d), n = 3, theta = 0.8)
    },

    // D3: SimHash document sketch (32-bit, md5-backed so the oracle can
    // recompute it exactly).
    "d3_simhash" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.simhash32(col("text")).as("simhash"))
    },

    // D4: n-gram Jaccard brute force — the correctness baseline d2 is
    // checked against (same pair values, lower threshold).
    "d4_ngram_jaccard" -> { (s, d) =>
      Dedup.jaccardBruteForce(Tables.documents(s, d), n = 3, theta = 0.5)
    },

    // D5: embedding-cosine near-dup, brute force over the pair space
    // (baseline; n2 is the bucketed scale path).
    "d5_embedding_neardup" -> { (s, d) =>
      Similarity.cosinePairs(Tables.embeddings(s, d), theta = 0.4)
    },

    // D6: dedup APPLY — the pipeline step that consumes d2's pairs: drop
    // every doc that appears as the non-canonical (higher-id) side of a
    // verified near-dup pair, keeping the earliest copy. The corpus-build
    // shape: detect (d2) then filter (anti-join — one shuffle, no O(n²)).
    "d6_dedup_apply" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val drop = Dedup.minhashNearDup(docs, n = 3, theta = 0.8)
        .select(col("doc_b").as("doc_id")).distinct()
      docs.join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // D7: decontamination — the corpus-build step that drops training
    // docs near-duplicating a held-out evaluation set (id % 20 == 0 plays
    // the benchmark corpus). Same banded-LSH candidate machinery as d2,
    // consumed cross-corpus: a pair with exactly one eval side names a
    // contaminated train doc; anti-join it away. At 100 TB the eval
    // fingerprints are tiny and broadcast — the train side never
    // self-joins.
    "d7_decontaminate" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashNearDup(docs, n = 3, theta = 0.8)
      val contaminated = pairs
        .filter((col("doc_a") % 20 === 0) =!= (col("doc_b") % 20 === 0))
        .select(when(col("doc_a") % 20 === 0, col("doc_b"))
          .otherwise(col("doc_a")).as("doc_id"))
        .distinct()
      docs.filter(col("doc_id") % 20 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // D11: EMBEDDING-space decontamination — d7's semantic cousin: drop
    // every train doc whose embedding sits within cosine θ of any held-out
    // eval vector (paraphrased benchmark leakage that shingle-Jaccard
    // misses). Scale shape mirrors d7: the eval set is tiny and BROADCAST;
    // the train corpus streams through one scoring pass and never
    // self-joins. Exact scaled-long cosine → full DuckDB oracle.
    "d11_semantic_decontaminate" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      val eval0 = v.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("eid"), col("embedding").as("ee"),
          Similarity.normScaled(col("embedding")).as("en"))
      val train = v.filter(col("vec_id") % 20 =!= 0)
      val contaminated = spreadPartitions(train)
        .select(col("vec_id"), col("embedding"),
          Similarity.normScaled(col("embedding")).as("tn"))
        .join(broadcast(eval0))
        .withColumn("cos", Similarity.cosineFromScaled(
          Similarity.dotScaled(col("embedding"), col("ee")),
          col("tn"), col("en")))
        .filter(col("cos") >= 0.4)
        .select(col("vec_id")).distinct()
      train.join(contaminated, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label").cast("long").as("label"))
    },

    // D8: duplicate GROUPS — connected components over d2's verified
    // near-dup pairs (iterative min-label propagation; see
    // Dedup.connectedComponents for the scale story). Pairs alone can't
    // drive a keep-one policy: a chain A-B-C needs the component minimum,
    // not per-pair minima. Output: every doc in a dup group, its group id
    // (= component min doc_id) and the group size.
    "d8_dup_groups" -> { (s, d) =>
      val pairs = Dedup.minhashNearDup(Tables.documents(s, d), n = 3, theta = 0.8)
      val comp = Dedup.connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
      val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("group_size"))
      comp.join(sizes, "comp")
        .select(col("id").as("doc_id"), col("comp").as("group_id"),
          col("group_size"))
    },

    // D10: group-correct dedup APPLY — keep exactly one doc (the minimum
    // id) per CONNECTED COMPONENT of near-dup pairs. d6's pair-based rule
    // (drop every pair's higher side) is not the same set: a doc that is
    // near-dup to the group but never a pair's higher side survives d6
    // (edges A-C, B-C with A<B<C keep both A and B) — components make
    // keep-one exact. Same anti-join shape at scale; the component labels
    // come from the d8 machinery.
    "d10_dedup_apply_groups" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashNearDup(docs, n = 3, theta = 0.8)
      val comp = Dedup.connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
      val drop = comp.filter(col("id") =!= col("comp"))
        .select(col("id").as("doc_id"))
      docs.join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // D9: SemDeDup-style semantic pruning — cluster the embedding space,
    // drop the higher id of every within-cluster pair with cosine ≥ θ.
    // Centroids here are the deterministic sample n3 uses (NOT trained),
    // which keeps the whole pipeline — assignment, candidate generation,
    // scoring, pruning — SQL-expressible, so this has a full DuckDB
    // oracle (the trained-centroid variant is n4's territory, recall-
    // bounded in ScalaTest). The scale story lives in
    // Similarity.semanticPrune: no global self-join, candidates bounded
    // by cluster occupancy.
    "d9_semantic_prune" -> { (s, d) =>
      val v = Tables.embeddings(s, d)
      Similarity.semanticPrune(v, v.filter(col("vec_id") % 50 === 0),
          theta = 0.4)
    },

    // D12: bloom-pruned exact decontamination — the 100 TB shape of a
    // fingerprint semi-join. Direct exact decontamination shuffles the
    // whole train corpus by fingerprint; here the eval side's
    // fingerprints aggregate into ONE small bloom binary (Spark's own
    // runtime-filter sketch, lifted through the bridge) that broadcasts
    // and prunes train rows MAP-SIDE, and only the might-contain
    // survivors reach the exact confirm join. Bloom false positives are
    // killed by the confirm; false negatives don't exist — so the result
    // is EXACT and carries a plain SQL oracle, while the shuffled volume
    // tracks the (tiny) contamination rate instead of the corpus size.
    // Fingerprint = md5 of the first 5 normalized words (leading-snippet
    // leakage — quoted openings/headers), which is where this fixture's
    // cross-split duplication actually lives.
    "d12_bloom_decontaminate" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val fp = md5(array_join(slice(Text.words(col("text")), 1, 5),
        " "))
      val evalFps = docs.filter(col("doc_id") % 20 === 0)
        .select(fp.as("fp"))
      val train = docs.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), col("lang"), col("source"), fp.as("fp"))
      // the bloom is a scalar subquery, planned once and broadcast as one
      // binary — the same shape as the engine's injected runtime filters
      val suspects = graft.plans.Expressions
        .bloomPrune(train, col("fp"), evalFps, 1000L, 16384L)
        .select(col("doc_id"), col("fp"))
      // no broadcast hint: the suspects side is already bloom-pruned to
      // ~contamination volume and evalFps grows with the eval battery —
      // AQE broadcasts whichever side is genuinely small at runtime
      val confirmed = suspects
        .join(evalFps, Seq("fp"), "left_semi")
        .select(col("doc_id"))
      train.join(confirmed, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // D13: exact n-gram-overlap decontamination — the GPT-3-style rule: a
    // train doc sharing ANY word n-gram with the held-out eval corpus
    // (doc_id % 20 == 0) is dropped. Stricter than d7's Jaccard-θ LSH (one
    // shared shingle suffices, no similarity floor) and wider than d12's
    // leading-snippet fingerprint (every position in the doc is checked).
    // Scale shape: the eval side's distinct n-grams are tiny relative to
    // the corpus and BROADCAST; the train side shingles map-side (codegen'd
    // kernel) into a broadcast semi-join — no shuffle ever carries
    // corpus-sized data, and a wider n (13 in the published recipes; 8
    // here to fit the fixture's 30-60-word docs) only shrinks the match
    // set.
    "d13_ngram_decontaminate" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val train = docs.filter(col("doc_id") % 20 =!= 0)
      val contaminated = Dedup.ngramContaminated(train,
        docs.filter(col("doc_id") % 20 === 0), n = 8)
      train.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // D14: canonical-doc retention — keep the BEST doc per duplicate
    // group, not the lowest id: within each connected component of
    // verified near-dup pairs the survivor is the longest doc (n_chars
    // desc, doc_id tiebreak). This is the keep-one policy real corpus
    // builds want — truncated/clipped variants of a page often carry
    // LOWER ids than the full crawl, so d10's keep-earliest discards the
    // best copy. The winner per group is a hash aggregate (min_by over
    // the (-n_chars, doc_id) total order — map-side partials, no sort
    // window); group labels come from the d8 CC machinery.
    "d14_canonical_pick" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.canonicalPick(docs,
          Dedup.minhashNearDup(docs, n = 3, theta = 0.8))
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // D15: per-source boilerplate profiling — the C4/CCNet cleaning
    // step: non-overlapping 2-word chunks; a chunk repeating in >= 3
    // distinct docs of the SAME source is boilerplate (headers, nav,
    // license banners repeat within a crawl source; body text doesn't).
    // Per-doc chunk/boilerplate counts + ratio + the mostly-boilerplate
    // drop gate. Chunking is the map-side codegen shingle kernel at
    // stride w; the profile is two hash aggregations on (source, chunk)
    // and a shuffled join back — volume tracks token count, never pairs,
    // and nothing broadcasts (a big crawl source's boilerplate set is
    // unbounded).
    "d15_boilerplate" -> { (s, d) =>
      Dedup.boilerplateProfile(Tables.documents(s, d), w = 2, minDocs = 3)
    },

    // D16: embedding-space duplicate groups — the SemDeDup-adjacent
    // composition n8's graph exists to feed: knnGraph edges at cosine
    // >= 0.3, kept only when MUTUAL (one-way edges chain a cluster hub
    // to its fringe and beyond; mutuality is the standard asymmetry
    // filter), then connected components. Every stage is deterministic
    // (n2-style LSH buckets, scaled-long cosine, min-label CC), so the
    // whole composition — graph, mutuality, grouping — hash-verifies
    // against one recursive DuckDB oracle.
    // Adaptive width since r11, same rule and rationale as n8 (the
    // fixed 4×6-bit pin measured 3.3 → 140.8 s at 10×).
    "d16_graph_dedup" -> { (s, d) =>
      Dedup.embeddingGraphGroupsAuto(Tables.embeddings(s, d), k = 5,
          theta = 0.3)
    },

    // D17: exact duplicated-substring spans — the Lee-et-al suffix-array
    // dedup signal, relationally: doc pairs sharing >= 10 CONSECUTIVE
    // tokens (one verbatim paragraph inside otherwise-different text sits
    // far below any Jaccard θ, yet is exactly the memorization-risk case).
    // Positional 5-grams → gram-hash equi-join → gaps-and-islands run
    // detection per (pair, diagonal). Join volume tracks SHARED grams,
    // never n²; the island window partitions per pair+diagonal.
    "d17_substring_runs" -> { (s, d) =>
      Dedup.substringRuns(Tables.documents(s, d), k = 5, minRun = 10)
    },

    // D18: CDC-chunk near-dup pairs — docs sharing >= 3 distinct chunk
    // fingerprints. The candidate generator CDC chunking exists for:
    // join volume tracks SHARED chunks (fingerprint equi-join). The
    // boilerplate cap (<= 16 docs per chunk) is ON and oracle-verified —
    // it is load-bearing: uncapped, stopword-run chunks shared by
    // hundreds of docs turn the self-join quadratic (measured 90 s at
    // 10× vs 3.9 s at 1× before the cap; see Dedup.cdcNearDup).
    "d18_cdc_neardup" -> { (s, d) =>
      Dedup.cdcNearDup(Tables.documents(s, d), w = 8, minShared = 3,
          maxDocsPerChunk = Some(16))
    },
  )

  val oracles: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT md5(regexp_replace(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+', ' ', 'g')) AS fp,
           min(doc_id) AS keep_doc_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keep_doc_id""",
    "d2_minhash_neardup" -> Dedup.jaccardOracleSql(3, 0.8),
    "d11_semantic_decontaminate" ->
      s"""WITH u AS ($duckUnnest),
         e AS (SELECT vec_id AS eid, x AS ex, i FROM u
               WHERE vec_id % 20 = 0),
         t AS (SELECT vec_id, x, i FROM u WHERE vec_id % 20 <> 0),
         sc AS (SELECT t.vec_id, e.eid, ${duckCos("t.x", "e.ex")} AS cos
                FROM t JOIN e ON t.i = e.i GROUP BY 1, 2),
         bad AS (SELECT DISTINCT vec_id FROM sc WHERE cos >= 0.4)
         SELECT v.vec_id, CAST(v.label AS BIGINT) AS label
         FROM embeddings v
         WHERE v.vec_id % 20 <> 0
           AND v.vec_id NOT IN (SELECT vec_id FROM bad)
         ORDER BY v.vec_id""",
    "d3_simhash" -> Text.simhash32OracleSql,
    // the bloom stage is pruning-only (no false negatives + exact
    // confirm), so the oracle is the plain fingerprint anti-join
    "d12_bloom_decontaminate" ->
      """WITH f AS (SELECT doc_id, lang, source,
           md5(array_to_string(
             (regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+'))[1:5], ' '))
             AS fp
         FROM documents),
         ev AS (SELECT DISTINCT fp FROM f WHERE doc_id % 20 = 0)
         SELECT doc_id, lang, source FROM f
         WHERE doc_id % 20 <> 0 AND fp NOT IN (SELECT fp FROM ev)
         ORDER BY doc_id""",
    "d4_ngram_jaccard" -> Dedup.jaccardOracleSql(3, 0.5),
    "d6_dedup_apply" ->
      s"""WITH p AS (${Dedup.jaccardOracleSql(3, 0.8)})
         SELECT doc_id, lang, source FROM documents
         WHERE doc_id NOT IN (SELECT doc_b FROM p)
         ORDER BY doc_id""",
    "d7_decontaminate" ->
      s"""WITH p AS (${Dedup.jaccardOracleSql(3, 0.8)}),
         bad AS (SELECT CASE WHEN doc_a % 20 = 0 THEN doc_b ELSE doc_a END
             AS doc_id
           FROM p WHERE (doc_a % 20 = 0) <> (doc_b % 20 = 0))
         SELECT doc_id, lang, source FROM documents
         WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id""",
    "d10_dedup_apply_groups" ->
      s"""WITH RECURSIVE p AS (${Dedup.jaccardOracleSql(3, 0.8)}),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         v AS (SELECT DISTINCT src AS id FROM e),
         reach AS (
           SELECT id, id AS r FROM v
           UNION
           SELECT reach.id, e.dst AS r FROM reach JOIN e ON reach.r = e.src
         ),
         comp AS (SELECT id, min(r) AS grp FROM reach GROUP BY id)
         SELECT doc_id, lang, source FROM documents
         WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> grp)
         ORDER BY doc_id""",
    "d9_semantic_prune" ->
      s"""WITH u AS ($duckUnnest),
         c AS (SELECT vec_id AS cid, x, i FROM u WHERE vec_id % 50 = 0),
         sim AS (SELECT a.vec_id AS vec_id, c.cid,
                   ${duckCos("a.x", "c.x")} AS csim
                 FROM u a JOIN c ON a.i = c.i GROUP BY 1, 2),
         asg AS (SELECT vec_id, cid FROM (
                   SELECT vec_id, cid, row_number() OVER (
                     PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
                   FROM sim)
                 WHERE rn = 1),
         pr AS (SELECT x.vec_id AS va, y.vec_id AS vb
                FROM asg x JOIN asg y
                ON x.cid = y.cid AND x.vec_id < y.vec_id),
         sc AS (SELECT pr.va, pr.vb, ${duckCos("a.x", "b.x")} AS cos
                FROM pr JOIN u a ON a.vec_id = pr.va
                        JOIN u b ON b.vec_id = pr.vb AND a.i = b.i
                GROUP BY 1, 2),
         dropped AS (SELECT DISTINCT vb FROM sc WHERE cos >= 0.4)
         SELECT a.vec_id, a.cid AS cluster_id FROM asg a
         WHERE a.vec_id NOT IN (SELECT vb FROM dropped)
         ORDER BY a.vec_id""",
    "d8_dup_groups" ->
      s"""WITH RECURSIVE p AS (${Dedup.jaccardOracleSql(3, 0.8)}),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         v AS (SELECT DISTINCT src AS id FROM e),
         reach AS (
           SELECT id, id AS r FROM v
           UNION
           SELECT reach.id, e.dst AS r FROM reach JOIN e ON reach.r = e.src
         ),
         comp AS (SELECT id AS doc_id, min(r) AS group_id
                  FROM reach GROUP BY id),
         gs AS (SELECT group_id, count(*) AS group_size
                FROM comp GROUP BY group_id)
         SELECT c.doc_id, c.group_id, g.group_size
         FROM comp c JOIN gs g USING (group_id)
         ORDER BY c.group_id, c.doc_id""",
    "d5_embedding_neardup" ->
      s"""WITH u AS ($duckUnnest),
         p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 ${duckCos("a.x", "b.x")} AS cos
               FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
               GROUP BY 1, 2)
         SELECT vec_a, vec_b, round(cos, 4) AS cosine
         FROM p WHERE cos >= 0.4 ORDER BY vec_a, vec_b""",
    "d13_ngram_decontaminate" ->
      """WITH t AS (SELECT doc_id,
           regexp_split_to_array(trim(lower(text),
             ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)),
             '[\s\x0B]+') AS w
         FROM documents),
         sh AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS g
                FROM t, unnest(generate_series(1, len(w)-7)) AS gs(i)),
         ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0),
         bad AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (g)
                 WHERE sh.doc_id % 20 <> 0)
         SELECT doc_id, lang, source FROM documents
         WHERE doc_id % 20 <> 0
           AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id""",
    "d14_canonical_pick" ->
      s"""WITH RECURSIVE p AS (${Dedup.jaccardOracleSql(3, 0.8)}),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         v AS (SELECT DISTINCT src AS id FROM e),
         reach AS (
           SELECT id, id AS r FROM v
           UNION
           SELECT reach.id, e.dst AS r FROM reach JOIN e ON reach.r = e.src
         ),
         comp AS (SELECT id AS doc_id, min(r) AS group_id
                  FROM reach GROUP BY id),
         mem AS (SELECT c.doc_id, c.group_id, d.n_chars
                 FROM comp c JOIN documents d USING (doc_id)),
         win AS (SELECT doc_id, group_id, row_number() OVER (
                   PARTITION BY group_id ORDER BY n_chars DESC, doc_id)
                   AS rn FROM mem),
         loser AS (SELECT doc_id FROM win WHERE rn > 1)
         SELECT doc_id, lang, source FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM loser)
         ORDER BY doc_id""",
    // two-arg trim: the chunker is the Java-trim shingle kernel (see
    // jaccardOracleSql); chunks are full 2-word windows at stride 2,
    // i.e. shingle positions with (i-1) % 2 = 0, tail dropped
    "d15_boilerplate" ->
      """WITH t AS (SELECT doc_id, source,
           regexp_split_to_array(trim(lower(text),
             ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)),
             '[\s\x0B]+') AS w
         FROM documents),
         sh AS (SELECT doc_id, source, array_to_string(w[i:i+1], ' ') AS g
                FROM t, unnest(generate_series(1, len(w)-1)) AS gs(i)
                WHERE (i-1) % 2 = 0),
         bp AS (SELECT source, g FROM sh GROUP BY 1, 2
                HAVING count(DISTINCT doc_id) >= 3),
         per AS (SELECT sh.doc_id, count(*) AS n_chunks,
                   count(bp.g) AS n_boiler
                 FROM sh LEFT JOIN bp
                   ON sh.source = bp.source AND sh.g = bp.g
                 GROUP BY 1)
         SELECT doc_id, n_chunks, n_boiler,
           round(CAST(n_boiler AS DOUBLE) / n_chunks, 4) AS boiler_ratio,
           n_boiler * 2 <= n_chunks AS keep
         FROM per ORDER BY doc_id""",
    // d16: the n8 oracle (probe restriction dropped) nested as a CTE —
    // the d14 pattern — then mutual-edge filter + the d8 reach-CTE CC.
    // cosine is the round4'd output column on BOTH engines, so the
    // theta cut can't straddle a representation difference.
    "d16_graph_dedup" ->
      s"""WITH RECURSIVE g AS (${lshOracle(multiProbe = false,
            tables = 4, probePred = "TRUE", adaptiveTarget = Some(32))}),
         m AS (SELECT e.probe_id AS a, e.neighbor_id AS b
               FROM g e JOIN g r ON e.probe_id = r.neighbor_id
                                AND e.neighbor_id = r.probe_id
               WHERE e.cosine >= 0.3 AND r.cosine >= 0.3
                 AND e.probe_id < e.neighbor_id),
         ed AS (SELECT a AS src, b AS dst FROM m
                UNION ALL SELECT b, a FROM m),
         v AS (SELECT DISTINCT src AS id FROM ed),
         reach AS (
           SELECT id, id AS r FROM v
           UNION
           SELECT reach.id, ed.dst AS r
           FROM reach JOIN ed ON reach.r = ed.src
         )
         SELECT id, min(r) AS comp FROM reach GROUP BY id ORDER BY id""",
    "d17_substring_runs" -> Dedup.substringRunsOracleSql(5, 10),
    "d18_cdc_neardup" -> Dedup.cdcNearDupOracleSql(8, 3, Some(16)),
  )
}
