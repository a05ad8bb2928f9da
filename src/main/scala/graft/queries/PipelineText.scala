package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Core._
import graft.functions.Text
import graft.operators.{Dedup, Retrieval, Similarity, Tokenize}
import PipelineSql._

/** Text-analysis / corpus-build family (t1-t32, api5, pipe1/pipe2) —
  * split out of Pipeline.scala in r14.
  */
object PipelineText {
  private type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(

    // T6: repetition ratio — Gopher-style boilerplate signal: the
    // fraction of word-trigram occurrences that are repeats of an
    // earlier trigram in the same doc. Both shingle forms come from the
    // codegen'd ShingleKernel (with/without distinct).
    "t6_repetition" -> { (s, d) =>
      val all = graft.plans.Expressions.shingles(col("text"), 3, distinct = false)
      val uniq = graft.plans.Expressions.shingles(col("text"), 3, distinct = true)
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(all).cast("long").as("n_shingles"),
          size(uniq).cast("long").as("n_unique"))
        .withColumn("rep_ratio",
          when(col("n_shingles") > 0L,
            round4(lit(1d) - col("n_unique").cast("double")
              / col("n_shingles").cast("double")))
            .otherwise(lit(0d)))
    },

    // T1: per-source corpus stats (doc counts, language spread, length
    // moments) — the triage pass before any filtering decision.
    "t1_text_stats" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("wc", size(Text.words(col("text"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("lang")).as("n_langs"),
          round4(davg(col("n_chars"))).as("avg_chars"),
          round4(davg(col("wc"))).as("avg_words"),
          max(col("wc")).cast("long").as("max_words"))
    },

    // T2: marker-word language-ID heuristic with fixed-precedence argmax.
    "t2_langid" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("lang_pred", Text.langPredict(col("text")))
        .select(col("doc_id"), col("lang"), col("lang_pred"),
          (col("lang") === col("lang_pred")).as("is_match"))
    },

    // T3: rational-arithmetic quality score (stopword ratio + length
    // saturation + alpha ratio).
    "t3_quality_score" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
    },

    // T4: token counting — whitespace tokens + BPE-ish greedy chunk count.
    "t4_token_count" -> { (s, d) =>
      val norm = Text.normalize(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(norm).cast("long").as("n_chars_norm"),
          size(Text.words(col("text"))).cast("long").as("ws_tokens"),
          regexp_count(norm, lit("[a-z0-9]{1,3}")).cast("long")
            .as("subword_tokens"))
    },

    // T5: document fingerprints — whole-doc md5 + min-shingle-hash
    // (winnowing-style representative hash).
    "t5_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(Text.normalize(col("text"))).as("doc_fp"),
          array_min(transform(Text.shingleSet(col("text"), 3), x => md5(x)))
            .as("min_shingle_fp"))
    },

    // T7s: deterministic content-hash sampling — the reproducible
    // corpus-split technique (membership depends only on content, never on
    // partitioning or RNG state): keep docs whose first md5 nibble < 8,
    // i.e. a 50% split stable across runs, engines and cluster sizes.
    "t7_hash_sample" -> { (s, d) =>
      Tables.documents(s, d)
        .filter(substring(md5(Text.normalize(col("text"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"))
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // T11: stratified deterministic sampling — the mixture-weighting pass
    // of a corpus build: per-language keep rates (en 100%, de/es 50%,
    // rest 25%), membership decided by a content-hash nibble, never RNG —
    // reproducible across runs, engines and cluster sizes, and nested
    // inside t7's 50% gate (same hash ⇒ the 50% sample of a stratum is a
    // subset of this one where rates allow). Pure map-side filter: no
    // shuffle, full predicate pushdown of the lang column.
    "t11_stratified_sample" -> { (s, d) =>
      val nib = substring(md5(Text.normalize(col("text"))), 1, 1)
      val half = Seq("0", "1", "2", "3", "4", "5", "6", "7")
      val keep = when(col("lang") === "en", lit(true))
        .when(col("lang").isin("de", "es"), nib.isin(half: _*))
        .otherwise(nib.isin("0", "1", "2", "3"))
      Tables.documents(s, d)
        .filter(keep)
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // T12: sequence packing — concatenate-and-split into fixed-token-
    // budget training chunks, the layout step between a cleaned corpus
    // and a pretraining dataloader. Docs are ordered by content
    // fingerprint within each (source, shard) — a deterministic global
    // shuffle, no RNG state — then a running token count assigns each
    // doc its chunk and offset: chunk = ⌊(cum-tok)/budget⌋, i.e.
    // documents span chunk boundaries exactly as GPT-style packing
    // concatenates then splits. The SHARD (first fingerprint nibble, 16
    // ways, oracle-expressible) is the 100 TB knob: partitioning the
    // cumsum by source alone makes one dominant source a single sorting
    // task — sharding bounds every window partition at 1/16th of a
    // source, and chunk ids are namespaced per (source, shard), which a
    // dataloader treats as independent pack files. One shuffle+sort, no
    // driver loop, no collect.
    "t12_seq_pack" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val budget = 512L
      val w = Window.partitionBy(col("source"), col("shard"))
        .orderBy(col("fp"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(Text.normalize(col("text"))).as("fp"),
          size(Text.words(col("text"))).cast("long").as("tok"))
        .withColumn("shard",
          expr("conv(substring(fp, 1, 1), 16, 10)").cast("long"))
        .withColumn("cum", sum(col("tok")).over(w))
        .select(col("doc_id"), col("source"), col("shard"), col("tok"),
          expr(s"(cum - tok) div $budget").as("chunk_id"),
          expr(s"(cum - tok) % $budget").as("chunk_offset"))
    },

    // T23: pack MANIFEST — the dataloader-facing artifact t12's per-doc
    // rows feed: one row per packed sequence with its ordered boundary
    // map (offset:doc:tokens triples), doc count, and used-token count —
    // exactly what a training loader needs to build attention masks that
    // stop at document boundaries. The boundary map is a canonical
    // STRING, not an array column: deterministic, and the arrow-level
    // hash compare treats strings identically across engines (list
    // field-name metadata differs). The transform lambda runs per
    // PACKED SEQUENCE (post-aggregate, budget-bounded arrays), never
    // per corpus row, so interpreted-HOF cost is off the hot path.
    "t23_pack_manifest" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val budget = 512L
      val w = Window.partitionBy(col("source"), col("shard"))
        .orderBy(col("fp"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(Text.normalize(col("text"))).as("fp"),
          size(Text.words(col("text"))).cast("long").as("tok"))
        .withColumn("shard",
          expr("conv(substring(fp, 1, 1), 16, 10)").cast("long"))
        .withColumn("cum", sum(col("tok")).over(w))
        .withColumn("chunk_id", expr(s"(cum - tok) div $budget"))
        .withColumn("off", expr(s"(cum - tok) % $budget"))
        .groupBy(col("source"), col("shard"), col("chunk_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          max(col("off") + col("tok")).as("used_tokens"),
          expr("concat_ws(',', transform(" +
            "array_sort(collect_list(struct(off, doc_id, tok))), " +
            "s -> concat(cast(s.off as string), ':', " +
            "cast(s.doc_id as string), ':', cast(s.tok as string))))")
            .as("boundaries"))
    },

    // T24: dataset card — the one-stop per-(source, lang) corpus report a
    // release ships beside the data: volume (docs, whitespace tokens),
    // quality (mean + gate-pass count reusing t3/t8's exact formula),
    // exact-duplicate exposure (docs whose d1 fingerprint occurs >1×
    // corpus-wide), and the word-count distribution (exact median + max).
    // Scale shape: one shuffle on the fingerprint (d1's), a join back
    // that reuses that partitioning, and a sort-based median via
    // partitioned window row_number — NOT exact `percentile`, whose
    // per-group value buffer is O(group) memory and dies on a
    // billion-doc (source, lang) group; the two middle ranks average in
    // double exactly like DuckDB's interpolation on integer ranks.
    // Batch and streaming share every expression through CorpusCard:
    // signals (wc/quality/fp projection) and the aggregate live there,
    // and Streams.cardMaintenance + CorpusCard.serve reproduce this
    // output bit-identically from accumulated micro-batch slices
    // (StreamingSpec pins the equality).
    "t24_dataset_card" -> { (s, d) =>
      import graft.operators.CorpusCard
      CorpusCard.card(CorpusCard.signals(Tables.documents(s, d)))
    },

    // T8s: quality-gate filter — the corpus-cleaning pass that consumes
    // t3's score: keep docs above a quality threshold in an allowed
    // language set, with the reasons projected for audit.
    "t8_quality_gate" -> { (s, d) =>
      val q = Text.qualityScore(col("text"))
      Tables.documents(s, d)
        .withColumn("quality", q)
        .filter(col("quality") >= 40d &&
          col("lang").isin("en", "de", "es"))
        .select(col("doc_id"), col("lang"), col("quality"))
    },

    // T9s: character-trigram frequency profile per language — the feature
    // input a statistical language identifier trains on (top-5 trigrams
    // per lang with a deterministic tiebreak). Trigram generation is the
    // codegen'd char_ngrams kernel (plans.CharNgramKernel): the Column form
    // (transform ∘ sequence ∘ substr) is an interpreted lambda, and
    // explode_outer instead of explode avoids the inferred size(...)>0
    // filter that would re-evaluate the normalize+ngram chain per row.
    "t9_char_ngrams" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val norm = Text.normalize(col("text"))
      val tris = Tables.documents(s, d)
        .select(col("lang"),
          explode_outer(graft.plans.Expressions.charNgrams(norm, 3))
            .as("tri"))
        .filter(col("tri").isNotNull)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("tri"))
      tris.groupBy(col("lang"), col("tri"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
    },

    // T13: corpus vocabulary statistics — document frequency per word and
    // an IDF-style rarity ratio, the corpus-level table behind stopword
    // induction and tf-idf quality features. Shape at scale: one explode
    // of per-doc DISTINCT words (array_distinct is map-side; no doc×doc
    // work), one groupBy(word) with map-side partial counts, a scalar
    // doc count broadcast in, top-50 under a total order. rarity is a
    // ratio, not ln(): IEEE division is bit-identical across engines,
    // libm logs are not.
    "t13_doc_freq" -> { (s, d) =>
      val words = Tables.documents(s, d)
        .select(explode_outer(array_distinct(Text.words(col("text"))))
          .as("word"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      words.groupBy(col("word")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .withColumn("rarity",
          round4(col("n_docs").cast("double") / col("df")))
        .select(col("word"), col("df"), col("rarity"))
        .orderBy(col("df").desc, col("word"))
        .limit(50)
    },

    // T15: per-document keyword extraction — top-3 terms per doc under a
    // rarity-weighted score, score = tf × N / df (t13's ratio-form rarity
    // reused as the idf factor: IEEE division is bit-identical across
    // engines, libm logs are not — so this is the hash-verifiable cousin
    // of tf·log(N/df)). 100 TB shape: tf is one (doc, word) aggregate
    // with map-side partials; df aggregates tf again by word; the
    // tf⋈df join is a SHUFFLE join on word — df's cardinality is the
    // vocabulary, an unbounded aggregate, exactly what the r1 review said
    // never to broadcast; only the scalar doc count is broadcast. The
    // per-doc top-3 window partitions by doc_id (already the tf
    // distribution) with a (score desc, word) total order.
    // r16: df as a count window over the tf frame instead of a
    // groupBy(word) + join back — the join form made Spark evaluate the
    // tokenize+tf corpus pipeline TWICE (two scans, two explodes: plan
    // operators 1-6 vs 7-15 in plans/r16/t15_tfidf_keywords_before.txt)
    // and AQE then BROADCAST the vocabulary-sized df side this very
    // comment says never to broadcast. The window costs one
    // reduced-frame exchange + sort on word and shares the single
    // corpus pass; df (rows per word in tf = docs containing the word)
    // is unchanged.
    "t15_tfidf_keywords" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val words = Tables.documents(s, d)
        .select(col("doc_id"), explode_outer(Text.words(col("text")))
          .as("word"))
      val tf = words.groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("word"))
      tf.withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("word"))))
        .crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * col("n_docs")).cast("double") / col("df"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("word"), col("tf"),
          round4(col("score")).as("score"))
    },

    // T14: statistical length-outlier filter — drop docs outside the
    // per-source [P5, P95] token-count band, the corpus-cleaning pass
    // driven by the corpus's OWN distribution instead of fixed cutoffs.
    // The 100 TB shape: pass 1 computes per-source thresholds (one
    // aggregate, rows = |sources|), pass 2 broadcasts them back into a
    // map-side filter — no sort, no window over the full corpus. The
    // thresholds stay internal to the predicate (no float output), and
    // integer token counts compared against interpolated thresholds are
    // ulp-robust across engines.
    "t14_length_outliers" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(Text.words(col("text"))).cast("long").as("tok"))
      val bounds = docs.groupBy(col("source"))
        .agg(expr("percentile(tok, 0.05)").as("lo"),
          expr("percentile(tok, 0.95)").as("hi"))
      docs.join(broadcast(bounds), "source")
        .filter(col("tok") >= col("lo") && col("tok") <= col("hi"))
        .select(col("doc_id"), col("source"), col("tok"))
    },

    // T25: content-defined chunking — CDC boundaries from a rolling
    // window hash (see Dedup.cdcChunks): shift-robust variable chunks,
    // the storage-dedup complement to t21's fixed windows. Map-side
    // except one per-doc boundary fold; no cross-doc shuffle.
    "t25_cdc_chunks" -> { (s, d) =>
      Dedup.cdcChunks(Tables.documents(s, d), w = 8)
    },

    // T19: hashed-linear quality classifier — the fastText-style scorer
    // the GPT-3/LLaMA data pipelines run over every candidate doc: each
    // token hashes into one of 1024 weight buckets (md5 → 16-bit → mod),
    // the model is the bucket weight vector (here a deterministic
    // pseudo-random stand-in — the real thing loads trained weights; the
    // scoring plumbing is identical), and the doc score is the mean
    // weight. Weights stay INTEGER milli-units through the aggregation —
    // a float sum would be partition-order-dependent — with ONE exact
    // long/long division at the end, so the score is engine-exact.
    // Map-side explode + one hash aggregate on doc_id: no cross-doc
    // shuffle at any corpus width.
    "t19_quality_classifier" -> { (s, d) =>
      val bkt = expr("conv(substring(md5(tok), 1, 4), 16, 10)")
        .cast("long") % 1024
      Tables.documents(s, d)
        .select(col("doc_id"), explode(Text.words(col("text"))).as("tok"))
        .select(col("doc_id"),
          ((bkt * 2654435761L) % 2001 - 1000).as("w_milli"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("w_milli")).as("s_milli"))
        .select(col("doc_id"), col("n_tok"),
          round4(col("s_milli").cast("double") /
            (col("n_tok") * 1000.0)).as("score"),
          (col("s_milli") > 0).as("keep"))
    },

    // T20: unigram-surprisal quality filter — the CCNet perplexity gate
    // with the KenLM model replaced by the corpus's own unigram LM, in
    // integer bit-units so both engines agree exactly: a token seen cnt
    // times in a total-token corpus scores floor(log2(total/cnt)) bits
    // (length(bin(total div cnt)) - 1 — integer-only, no float log whose
    // last ulp could differ across libm implementations), and a doc's
    // score is mean bits per token (exact long sum, one IEEE division).
    // Head/middle/tail banding mirrors CCNet's perplexity terciles.
    // Scale: one vocab aggregate + a shuffled join back on the token —
    // the vocab is corpus-dependent and never broadcast (AQE decides).
    "t20_unigram_surprisal" -> { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(Text.words(col("text"))).as("tok"))
      val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum(col("cnt")).as("total"))
      val bits = vocab.crossJoin(broadcast(total))
        .select(col("tok"),
          (length(bin(expr("total div cnt"))) - 1)
            .cast("long").as("bits"))
      tok.join(bits, Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("bits")).as("bits_sum"))
        .select(col("doc_id"), col("n_tok"), col("bits_sum"),
          round4(col("bits_sum").cast("double") / col("n_tok"))
            .as("avg_bits"),
          when(col("bits_sum") * 100 < col("n_tok") * 405, lit("head"))
            .when(col("bits_sum") * 100 < col("n_tok") * 425,
              lit("middle"))
            .otherwise(lit("tail")).as("band"))
    },

    // T26: interpolated BIGRAM surprisal — t20 with conditional context.
    // A self-trained pure bigram LM is degenerate at the tails (a unique
    // context seen once scores 0 bits exactly like verbatim boilerplate),
    // so each token scores under the GEOMETRIC unigram/bigram mixture
    // √(P(w|prev)·P(w)) — in bit-units: ubits(w) + bbits(prev,w), both
    // floor(log2(count ratio)) integers (t20's length(bin(a div b))-1
    // trick — no libm log in a compared value), divided by 2 only in the
    // final per-doc mean. The first token has no context and scores
    // 2·ubits. Repetitive boilerplate scores low on BOTH components;
    // unique prose keeps its unigram mass — the CCNet perplexity shape
    // with a closed-form corpus-trained model. Scale: two shuffled
    // aggregates over transitions (bigram + context counts — the context
    // table derives from the SMALLER bigram table, not the corpus), the
    // t20 vocab aggregate, and shuffled joins back — nothing broadcast
    // except the one-row total; transitions are map-side arrays_zip
    // (codegen'd, no HOF lambda, no per-doc window shuffle).
    "t26_bigram_surprisal" -> { (s, d) =>
      val wl = Tables.documents(s, d)
        .select(col("doc_id"), Text.words(col("text")).as("w"))
      val tk = wl.select(col("doc_id"), posexplode(col("w")))
        .select(col("doc_id"), (col("pos") + 1).as("i"),
          col("col").as("tok"))
      val tr = wl.filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1).as("prev"),
          slice(col("w"), lit(2), size(col("w")) - 1).as("tok"))).as("z"))
        .select(col("doc_id"), col("z.prev").as("prev"),
          col("z.tok").as("tok"))
      val bg = tr.groupBy(col("prev"), col("tok"))
        .agg(count(lit(1)).as("c_big"))
      val cx = bg.groupBy(col("prev"))
        .agg(sum(col("c_big")).as("c_ctx"))
      val tb = bg.join(cx, Seq("prev"))
        .select(col("prev"), col("tok"),
          (length(bin(expr("c_ctx div c_big"))) - 1)
            .cast("long").as("bbits"))
      val v = tk.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val tot = v.agg(sum(col("cnt")).as("total"))
      val ub = v.crossJoin(broadcast(tot))
        .select(col("tok"),
          (length(bin(expr("total div cnt"))) - 1)
            .cast("long").as("ubits"))
      val us = tk.join(ub, Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("ubits")).as("usum"))
      val fd = tk.filter(col("i") === 1).join(ub, Seq("tok"))
        .select(col("doc_id"), col("ubits").as("u1"))
      val td = tr.join(tb, Seq("prev", "tok"))
        .groupBy(col("doc_id")).agg(sum(col("bbits")).as("bsum"))
      us.join(fd, Seq("doc_id"))
        .join(td, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          (col("usum") + col("u1") + coalesce(col("bsum"), lit(0L)))
            .as("bits_sum"))
        .select(col("doc_id"), col("n_tok"), col("bits_sum"),
          round4(col("bits_sum").cast("double") / (col("n_tok") * 2))
            .as("avg_bits"),
          when(col("bits_sum") * 100 < col("n_tok") * 2 * 410, lit("head"))
            .when(col("bits_sum") * 100 < col("n_tok") * 2 * 420,
              lit("middle"))
            .otherwise(lit("tail")).as("band"))
    },

    // T27: BPE merge training — the four most-frequent adjacent-symbol
    // merges over the corpus's word-frequency table (operators/Tokenize:
    // one corpus pass, then vocab-sized iterations; self-pairs excluded
    // so application is a pure per-position map). Output carries
    // n_syms_after — the corpus symbol count after EACH rewrite — so the
    // oracle verifies every intermediate application, not just the four
    // argmaxes.
    "t27_bpe_merges" -> { (s, d) =>
      Tokenize.bpeMerges(Tables.documents(s, d), k = 4)
    },

    // T27b: the PRODUCTION trainer — one corpus pass collects the
    // bounded (word, freq) vocabulary, the merge loop runs in-process
    // with an incremental pair index (no per-step Spark jobs; a 32k
    // vocab trains in seconds where the distributed loop would pay
    // ~100k serial driver round-trips). Bit-identical to t27 by
    // construction (same counts, same UTF-8 tie order) — the same
    // DuckDB oracle verifies it, and TokenizeSpec pins local ≡
    // distributed on dense-tie corpora.
    "t27b_bpe_local" -> { (s, d) =>
      Tokenize.bpeMergesLocal(Tables.documents(s, d), k = 4)
    },

    // T28: corpus encoding under the t27 tokenizer — per-doc BPE token
    // counts via a vocab lookup (doc words ⋈ the trained segmentation),
    // the number a training-budget plan starts from. Verifies the train
    // → apply loop end to end: the oracle re-derives the segmentation
    // through its own four unrolled merge steps.
    "t28_bpe_encode" -> { (s, d) =>
      Tokenize.bpeEncode(Tables.documents(s, d), k = 4)
    },

    // T29: DSIR importance weights — data selection via importance
    // resampling (Xie et al. 2023): score every document by how much its
    // hashed n-gram feature distribution looks like a TARGET set (here
    // lang='en', the in-domain proxy) versus the whole corpus. Features
    // are unigrams + space-joined bigrams hashed into 1024 buckets (the
    // t19 md5-nibble bucket, both engines replay it); bucket weight is
    // the add-one-smoothed log-ratio in floor-log2 integer bit-units
    // (flog2(cnt_t+1) + flog2(S+B)) − (flog2(cnt_a+1) + flog2(T+B)) —
    // defined AS the sum of floor-logs, so no product ever overflows
    // Int64 at any corpus size. Scale shape: features are map-side; the
    // bucket table is ≤1024 rows (broadcast hash join, bounded by
    // construction); the only corpus shuffles are the bucket aggregate
    // (1024 groups, map-side partials) and the per-doc sum.
    // (operators/Selection.dsirWeights; the −0.08 bits/feature cut is
    // calibrated — keeps 67% of en vs ~22% of the other langs at sf0.01)
    "t29_dsir_weights" -> { (s, d) =>
      graft.operators.Selection.dsirWeights(
        Tables.documents(s, d), isTarget = col("lang") === "en",
        hash = graft.operators.Selection.md5Bucket(1024))
    },

    // T21: retrieval chunking — the RAG indexing step: overlapping
    // fixed-size token windows (16 tokens, stride 12) per doc, each with
    // its ordinal, start offset, token count, and an md5 content
    // fingerprint (the join key a downstream embedding/index stage would
    // carry). Pure map-side sequence + explode + slice — no shuffle at
    // any corpus width; chunk count derives from the doc's own length.
    "t21_chunk_windows" -> { (s, d) =>
      val W = 16; val S = 12
      val base = Tables.documents(s, d)
        .select(col("doc_id"), Text.words(col("text")).as("w"))
        .withColumn("len", size(col("w")).cast("long"))
        .withColumn("nc",
          when(col("len") <= W, lit(1L)).otherwise(
            expr(s"(len - $W + $S - 1) div $S") + 1))
      base.select(col("doc_id"), col("w"), col("len"),
          explode(sequence(lit(0L), col("nc") - 1)).as("ci"))
        .withColumn("start_tok", col("ci") * S)
        .withColumn("n_tok", least(lit(W.toLong), col("len") - col("start_tok")))
        .select(col("doc_id"), col("ci").as("chunk_idx"), col("start_tok"),
          col("n_tok"),
          md5(concat_ws(" ",
            slice(col("w"), (col("start_tok") + 1).cast("int"),
              col("n_tok").cast("int")))).as("chunk_fp"))
    },

    // T22: BM25 document retrieval — relevance-ranked full-text search
    // over the corpus (the serving counterpart of t21's chunk index; the
    // reference's nearest shape is the multi-key exact/ci token lookup,
    // api/util/resolve-token.js:10-28 — lookup, not ranking; relevance
    // ranking is builder-brief scope). Scoring is BM25 with the rational
    // Robertson idf and the k1=6/5, b=3/4 saturation term reduced to
    // L-normalized Int64-safe integer factors combined in a fixed IEEE
    // operation order, so the doubles hash-match DuckDB bit-for-bit (t15/t20
    // precedent: no libm log in a compared value). Scale shape: the tf
    // aggregate sees only `word IN terms` rows (map-side filter before
    // the shuffle); N/L/df are tiny broadcast aggregates; ranking is
    // TakeOrdered(20). The postings-artifact serving twin
    // (Retrieval.buildPostings/bm25FromPostings) is spec-pinned equal
    // and benched separately.
    "t22_bm25_topk" -> { (s, d) =>
      Retrieval.bm25TopK(Tables.documents(s, d),
        Seq("dup", "vector", "merge", "scan"), 20)
    },

    // T32: hybrid retrieval — t22's BM25 leg + n1's cosine leg fused by
    // reciprocal rank (RRF), the standard production RAG-serving
    // combiner: the query is doc 0 (its embedding = the encoded query,
    // the t22 term list = its keywords), each leg ranks its top-50, and
    // the fused score is 1/(60+rank) summed across legs (0 where a leg
    // missed the doc — the full-outer fusion). Rank-based fusion keeps
    // the incomparable BM25/cosine scales apart AND keeps the oracle
    // exact: both addends are one IEEE division of small integers, so
    // the t22 + n1 bit-exactness contracts compose. Scale shape: the
    // corpus-scale work is inside the two legs (each one pass ending in
    // top-50); the fusion join and final top-20 touch ≤100 rows at any
    // corpus size.
    "t32_hybrid_rrf" -> { (s, d) =>
      Retrieval.hybridRrfTopK(Tables.documents(s, d),
        Seq("dup", "vector", "merge", "scan"), Tables.embeddings(s, d),
        probeId = 0L, k = 20)
    },

    // API5: search-result facets — the serving composite every search
    // UI pairs with t22's ranked hits (the reference's token list route
    // returns grouped/ranked sections over joined aggregates,
    // api/routes/tokens.js:193-241; facet counts are the corpus
    // analogue): for docs matching
    // ANY query term, doc and char counts per (lang, source). Pure
    // integers (no score in the output), so the oracle is exact. Scale
    // shape: arrays_overlap is a map-side per-row membership test — no
    // explode, no shuffle before the facet aggregate, whose cardinality
    // is |langs|×|sources|, never corpus-scale.
    "api5_search_facets" -> { (s, d) =>
      val terms = Seq("dup", "vector", "merge", "scan")
      Tables.documents(s, d)
        .filter(arrays_overlap(Text.words(col("text")),
          array(terms.map(lit): _*)))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
    },

    // T18: deterministic stratified dataset split — the reproducible
    // train/val/test assignment every corpus release needs: membership
    // by a salted content-independent hash of doc_id (the t7/t11/t17
    // idiom), 80/10/10 via integer byte thresholds (204/230 of 256), so
    // the same doc lands in the same split on any engine, run, or
    // partitioning, and new docs never reshuffle old assignments. Pure
    // map-side projection — no shuffle at any corpus width.
    "t18_split_assign" -> { (s, d) =>
      val b0 = conv(substring(md5(
        concat(lit("split:"), col("doc_id").cast("string"))), 1, 2),
        16, 10).cast("long")
      Tables.documents(s, d)
        .withColumn("split",
          when(b0 < 204, lit("train"))
            .when(b0 < 230, lit("val"))
            .otherwise(lit("test")))
        .select(col("doc_id"), col("lang"), col("split"))
    },

    // T16: PII redaction — regex detect-and-mask of emails and IPv4s, the
    // compliance pass before a corpus ships. The fixture text carries no
    // PII, so the entry first INJECTS deterministic synthetic PII (derived
    // from doc_id — both engines build the identical string) and then
    // proves the detector/redactor round-trip: match counts + an md5
    // fingerprint of the redacted text. Pure map-side codegen'd regexp —
    // no shuffle at any corpus width; the patterns stay in the
    // Java∩RE2-compatible subset so the oracle evaluates them verbatim.
    "t16_pii_redact" -> { (s, d) =>
      val id = col("doc_id").cast("string")
      val aug = concat(col("text"), lit(" contact user"), id,
        lit("@example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" cc admin"), id, lit("@mail.example.org")))
          .otherwise(lit("")),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), ((col("doc_id") * 7) % 256).cast("string"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          Text.piiCount(aug, Text.emailPattern).as("n_emails"),
          Text.piiCount(aug, Text.ipv4Pattern).as("n_ips"),
          md5(Text.redactPii(aug)).as("redacted_fp"))
    },

    // T17: domain-mixture sampling — downsample each source to a target
    // mixture share (weight = srcNum % 4 + 1) of a global budget (half
    // the corpus). Membership is decided by a content-independent hash of
    // doc_id — reproducible across runs/engines/partitionings like t7/t11,
    // but RATE-DRIVEN: per-source keep thresholds derive from the observed
    // per-source counts (one tiny aggregate, broadcast back to a map-side
    // filter), so the same mixture spec rebalances any corpus snapshot.
    // All threshold math is integer — no float rate can drift between
    // engines — and a source whose target exceeds its count keeps
    // everything (threshold tops out past the 8-bit hash range).
    "t17_domain_mix" -> { (s, d) =>
      // try_cast + uncapped substring: IDENTICAL parse to the oracle's
      // TRY_CAST(substr(source,4)) — a non-'src<digits>' source yields a
      // null weight on BOTH engines (and so is dropped by both), instead
      // of Spark silently nulling where DuckDB errors
      domainMix(Tables.documents(s, d),
          expr("try_cast(substring(source, 4) AS BIGINT)") % 4 + 1)
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // PIPE1: the corpus build, COMPOSED — the capstone chain a training-
    // data release actually runs, every stage one of the independently-
    // verified operators, each applied to the SURVIVORS of the previous:
    //   1. exact dedup (d1): keep the first copy of each normalized text
    //   2. boilerplate gate (d15): drop mostly-boilerplate docs (profile
    //      computed over the deduped survivors, not the raw corpus)
    //   3. quality gate (t8): score >= 40 in an allowed language set
    //   4. domain mix (t17): rebalance sources to weight/Σw shares of
    //      half the surviving corpus
    //   5. split assign (t18): salted 80/10/10 train/val/test
    // One declarative plan end to end — Catalyst sees the whole chain
    // (the dedup/boilerplate gates are semi-joins, no materialization
    // barrier between stages) — and every stage is deterministic, so the
    // COMPOSITION hash-verifies against a single DuckDB CTE chain.
    // T30: deterministic EPOCH SHUFFLE — the training-order permutation
    // a dataloader consumes each epoch: global order = (shard, ordinal)
    // where shard is a seeded content-hash bucket and ordinal ranks
    // within the shard by the same hash. Changing the seed permutes the
    // corpus; the same seed reproduces it on any engine/partitioning.
    // The window is PARTITIONED (16 shards) — a single global
    // row_number would be one task; sharded ordinals keep the sort
    // distributed and the (shard, ordinal) pair is still a total order.
    "t30_epoch_shuffle" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val h = md5(concat(lit("ep1:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), h.as("h"))
        .withColumn("shard",
          conv(substring(col("h"), 1, 2), 16, 10).cast("long") % 16)
        .withColumn("ordinal", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("shard"), col("ordinal"))
    },

    // T31: fractional SOURCE UPSAMPLING — the Pile/LLaMA-style mixture
    // where a high-quality source runs >1 epoch (possibly fractional,
    // e.g. 1.5): integer part replicates every doc, the half-epoch
    // remainder replicates a deterministic content-hash coin-flip half.
    // Weights here derive from the source id (2..6 half-epochs → 1.0 to
    // 3.0); a real build reads them from config through the same
    // integer plumbing. Pure map-side explode — no shuffle at any
    // corpus width; replica_idx keys downstream dedup-aware stages.
    "t31_source_upsample" -> { (s, d) =>
      val wHalf = expr("try_cast(substring(source, 4) AS BIGINT)") % 5 + 2
      val b0 = conv(substring(md5(
        concat(lit("up:"), col("doc_id").cast("string"))), 1, 2),
        16, 10).cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("wh", wHalf)
        .withColumn("n_rep",
          expr("wh div 2")
            + when(col("wh") % 2 === 1 && b0 < 128, 1L).otherwise(0L))
        .select(col("doc_id"), col("source"), col("n_rep"),
          explode(sequence(lit(1L), col("n_rep"))).as("replica_idx"))
    },

    // PIPE2: the selection-era corpus build — DSIR importance gate
    // (t29's keep cut) → exact dedup (d1's keep-first rule) → sequence
    // packing (t12's budgeted cumsum). Each stage is individually
    // oracle-green; the composition verifies they COMPOSE (the gate's
    // survivors feed dedup feed packing — chunk offsets depend on every
    // upstream decision). Same scale shape as the stages themselves:
    // the selection model is a ≤1024-row broadcast, dedup is one
    // fingerprint aggregate + semi-join, packing is a partitioned
    // window over (source, 16-way shard).
    "pipe2_select_pack" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // r16: checkpoint the DSIR keep-id set, then compute the
      // (fp, tok) projection of the survivors ONCE and drive BOTH the
      // exact-dedup keep rule and the packing window from it — before,
      // the dedup stage and the final projection each re-ran the
      // normalize+md5 (and the packing the words kernel) over their
      // whole upstream chain, which itself re-ran the DSIR scoring pass
      // (14 scans in plans/r16/pipe2_select_pack_before.txt). The keep
      // rule is exactDedup's verbatim: min doc_id per normalized-text
      // md5 group.
      val dsirIds = graft.operators.Selection.dsirWeights(docs,
          isTarget = col("lang") === "en",
          hash = graft.operators.Selection.md5Bucket(1024))
        .filter(col("keep")).select(col("doc_id")).localCheckpoint()
      val ft = docs.join(dsirIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"),
          md5(Text.normalize(col("text"))).as("fp"),
          size(Text.words(col("text"))).cast("long").as("tok"))
        .localCheckpoint()
      val keepIds = ft.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val budget = 512L
      val w = Window.partitionBy(col("source"), col("shard"))
        .orderBy(col("fp"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ft.join(keepIds, Seq("doc_id"), "left_semi")
        .withColumn("shard",
          expr("conv(substring(fp, 1, 1), 16, 10)").cast("long"))
        .withColumn("cum", sum(col("tok")).over(w))
        .select(col("doc_id"), col("source"), col("shard"), col("tok"),
          expr(s"(cum - tok) div $budget").as("chunk_id"),
          expr(s"(cum - tok) % $budget").as("chunk_offset"))
    },

    "pipe1_corpus_build" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // r16: checkpoint each stage's survivor-id/key frame — the
      // composition's downstream stages each re-evaluated their whole
      // upstream chain per consumer (24 scans in
      // plans/r16/pipe1_corpus_build_before.txt: boilerplate's corpus
      // pass and the s2 semi-join both re-ran exactDedup; domainMix
      // consumed s3 twice, re-running the quality kernel). The
      // checkpointed frames are id-sets (keep1/keep2) and the
      // text-free survivor projection (s3) — each stage's kernel now
      // runs exactly once, the real-pipeline stage-materialization
      // shape.
      val keep1 = Dedup.exactDedup(docs)
        .select(col("keep_doc_id").as("doc_id")).localCheckpoint()
      val s1 = docs.join(keep1, Seq("doc_id"), "left_semi")
      val keep2 = Dedup.boilerplateProfile(s1, w = 2, minDocs = 3)
        .filter(col("keep")).select(col("doc_id")).localCheckpoint()
      val s2 = s1.join(keep2, Seq("doc_id"), "left_semi")
      // text is not needed past the quality gate — checkpoint the
      // narrow survivor rows so domainMix's two consumers share them
      val s3 = s2.filter(Text.qualityScore(col("text")) >= 40d &&
          col("lang").isin("en", "de", "es"))
        .select(col("doc_id"), col("lang"), col("source"))
        .localCheckpoint()
      val s4 = domainMix(s3,
        expr("try_cast(substring(source, 4) AS BIGINT)") % 4 + 1)
      val b0 = conv(substring(md5(
        concat(lit("split:"), col("doc_id").cast("string"))), 1, 2),
        16, 10).cast("long")
      s4.withColumn("split",
          when(b0 < 204, lit("train"))
            .when(b0 < 230, lit("val"))
            .otherwise(lit("test")))
        .select(col("doc_id"), col("lang"), col("source"), col("split"))
    },
  )

  /** t17's core, factored for testing with constructed corpora: keep each
    * source's docs at a rate targeting `weight/Σweights` of a global
    * budget (half the corpus), membership by a content-independent md5 of
    * doc_id. Thresholds derive from the observed per-source counts (one
    * tiny aggregate, broadcast back to a map-side filter); all threshold
    * math is integer so no float rate drifts between engines; a source
    * whose target exceeds its count keeps everything.
    */
  def domainMix(docs: DataFrame, weight: org.apache.spark.sql.Column)
      : DataFrame = {
    val cnts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("w", weight)
    val tot = cnts.agg(sum(col("cnt")).as("n"), sum(col("w")).as("wsum"))
    val thr = cnts.crossJoin(broadcast(tot))
      .withColumn("thr", expr("(256 * (n div 2) * w) div (wsum * cnt)"))
      .select(col("source"), col("thr"))
    val b0 = expr(
      "conv(substring(md5(cast(doc_id as string)), 1, 2), 16, 10)")
      .cast("long")
    docs.join(broadcast(thr), Seq("source"))
      .filter(b0 < col("thr"))
  }

  val oracles: Map[String, String] = Map(
    "t14_length_outliers" ->
      """WITH d AS (SELECT doc_id, source,
           len(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+')) AS tok
         FROM documents),
         b AS (SELECT source, quantile_cont(tok, 0.05) AS lo,
                 quantile_cont(tok, 0.95) AS hi
               FROM d GROUP BY source)
         SELECT d.doc_id, d.source, CAST(d.tok AS BIGINT) AS tok
         FROM d JOIN b USING (source)
         WHERE d.tok >= b.lo AND d.tok <= b.hi
         ORDER BY d.doc_id""",
    "t15_tfidf_keywords" ->
      """WITH w AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+')) AS word
         FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT tf.doc_id, tf.word, tf.tf,
                  CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
                FROM tf JOIN df USING (word), n),
         r AS (SELECT doc_id, word, tf, score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, word) AS rn
               FROM sc)
         SELECT doc_id, word, CAST(tf AS BIGINT) AS tf,
           round(score, 4) AS score
         FROM r WHERE rn <= 3 ORDER BY doc_id, score DESC, word""",
    "t13_doc_freq" ->
      """WITH w AS (SELECT DISTINCT doc_id,
           unnest(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+')) AS word
         FROM documents),
         d AS (SELECT word, count(*) AS df FROM w GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT word, df, round(CAST(n_docs AS DOUBLE) / df, 4) AS rarity
         FROM d, n ORDER BY df DESC, word LIMIT 50""",
    "t11_stratified_sample" ->
      """WITH d AS (SELECT doc_id, lang, source,
           substr(md5(regexp_replace(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+', ' ', 'g')), 1, 1)
             AS nib
         FROM documents)
         SELECT doc_id, lang, source FROM d
         WHERE CASE WHEN lang = 'en' THEN TRUE
           WHEN lang IN ('de','es')
             THEN nib IN ('0','1','2','3','4','5','6','7')
           ELSE nib IN ('0','1','2','3') END
         ORDER BY doc_id""",
    "t12_seq_pack" ->
      """WITH d AS (SELECT doc_id, source,
           md5(regexp_replace(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+', ' ', 'g')) AS fp,
           len(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+')) AS tok
         FROM documents),
         sh AS (SELECT doc_id, source, fp, tok,
           CAST(strpos('0123456789abcdef', substr(fp, 1, 1)) - 1 AS BIGINT)
             AS shard
         FROM d),
         c AS (SELECT doc_id, source, shard, tok,
           sum(tok) OVER (PARTITION BY source, shard ORDER BY fp, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM sh)
         SELECT doc_id, source, shard, CAST(tok AS BIGINT) AS tok,
           CAST((cum - tok) // 512 AS BIGINT) AS chunk_id,
           CAST((cum - tok) % 512 AS BIGINT) AS chunk_offset
         FROM c ORDER BY source, shard, chunk_id, chunk_offset, doc_id""",
    // t23 reuses t12's packing CTE; the boundary string is built with
    // the same (offset, doc_id) total order the Spark array_sort gives
    // (struct sort is field-order lexicographic: off, then doc_id)
    "t23_pack_manifest" ->
      """WITH d AS (SELECT doc_id, source,
           md5(regexp_replace(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+', ' ', 'g')) AS fp,
           len(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+')) AS tok
         FROM documents),
         sh AS (SELECT doc_id, source, fp, tok,
           CAST(strpos('0123456789abcdef', substr(fp, 1, 1)) - 1 AS BIGINT)
             AS shard
         FROM d),
         c AS (SELECT doc_id, source, shard, tok,
           sum(tok) OVER (PARTITION BY source, shard ORDER BY fp, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM sh),
         p AS (SELECT doc_id, source, shard, tok,
           (cum - tok) // 512 AS chunk_id,
           (cum - tok) % 512 AS chunk_offset
         FROM c)
         SELECT source, shard, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(chunk_offset + tok) AS BIGINT) AS used_tokens,
           string_agg(
             CAST(chunk_offset AS VARCHAR) || ':' ||
             CAST(doc_id AS VARCHAR) || ':' || CAST(tok AS VARCHAR),
             ',' ORDER BY chunk_offset, doc_id) AS boundaries
         FROM p GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "t24_dataset_card" -> {
      val stop = Text.stopwords.map(duckMarker).mkString(" + ")
      s"""WITH doc0 AS (SELECT doc_id, source, lang,
           coalesce(text, '') AS text FROM documents),
         d AS (SELECT doc_id, source, lang,
           len(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+')) AS wc,
           ($stop) AS stopc,
           len(list_filter(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+'),
             x -> regexp_full_match(x, '^[a-z]+$$'))) AS alphac,
           md5(regexp_replace(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+', ' ', 'g')) AS fp
         FROM doc0),
         q AS (SELECT doc_id, source, lang, wc, fp,
           round(100.0 * (0.5 * (CAST(stopc AS DOUBLE) / wc)
             + 0.3 * (CAST(least(wc, 50) AS DOUBLE) / 50.0)
             + 0.2 * (CAST(alphac AS DOUBLE) / wc)), 4) AS quality
         FROM d),
         c AS (SELECT fp, count(*) AS n_fp FROM q GROUP BY 1),
         j AS (SELECT q.*, c.n_fp FROM q JOIN c USING (fp)),
         agg AS (SELECT source, lang, count(*) AS n_docs,
           CAST(SUM(wc) AS BIGINT) AS total_tokens,
           round(CAST(SUM(CAST(quality AS DECIMAL(38,6))) AS DOUBLE)
             / count(quality), 4) AS avg_quality,
           count(*) FILTER (WHERE quality >= 40) AS gate_pass,
           count(*) FILTER (WHERE n_fp > 1) AS dup_docs,
           max(wc) AS max_wc
         FROM j GROUP BY 1, 2),
         r AS (SELECT source, lang, wc,
           row_number() OVER (PARTITION BY source, lang
             ORDER BY wc, doc_id) AS rn,
           count(*) OVER (PARTITION BY source, lang) AS n
         FROM q),
         med AS (SELECT source, lang, AVG(wc) AS median_wc
           FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
           GROUP BY 1, 2)
         SELECT agg.*, med.median_wc
         FROM agg JOIN med USING (source, lang)
         ORDER BY source, lang"""
    },
    "t6_repetition" ->
      """WITH t AS (SELECT doc_id,
           regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+') AS w
         FROM documents),
         sh AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS s
                FROM t, unnest(generate_series(1, len(w)-2)) AS g(i)),
         c AS (SELECT doc_id, count(*) AS n_shingles,
                 count(DISTINCT s) AS n_unique
               FROM sh GROUP BY 1)
         SELECT d.doc_id,
           coalesce(c.n_shingles, 0) AS n_shingles,
           coalesce(c.n_unique, 0) AS n_unique,
           round(CASE WHEN c.n_shingles > 0
             THEN 1 - CAST(c.n_unique AS DOUBLE) / c.n_shingles
             ELSE 0 END, 4) AS rep_ratio
         FROM documents d LEFT JOIN c USING (doc_id)
         ORDER BY doc_id""",
    "t1_text_stats" ->
      """WITH d AS (SELECT source, lang, n_chars,
           len(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+')) AS wc
         FROM documents)
         SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
           round(CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)/count(n_chars), 4) AS avg_chars,
           round(CAST(SUM(CAST(wc AS DECIMAL(38,6))) AS DOUBLE)/count(wc), 4) AS avg_words,
           max(wc) AS max_words
         FROM d GROUP BY source ORDER BY source""",
    "t2_langid" -> {
      val scores = Text.langMarkers.map { case (l, _) =>
        s"${duckLangScore(l)} AS s_$l"
      }.mkString(", ")
      s"""WITH sc AS (SELECT doc_id, lang, $scores FROM documents)
         SELECT doc_id, lang, $duckLangCase AS lang_pred,
           lang = $duckLangCase AS is_match
         FROM sc ORDER BY doc_id"""
    },
    "t3_quality_score" -> {
      val stop = Text.stopwords.map(duckMarker).mkString(" + ")
      s"""WITH d AS (SELECT doc_id,
           len(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+')) AS wc,
           ($stop) AS stopc,
           len(list_filter(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+'),
             x -> regexp_full_match(x, '^[a-z]+$$'))) AS alphac
         FROM documents)
         SELECT doc_id,
           round(100.0 * (0.5 * (CAST(stopc AS DOUBLE) / wc)
             + 0.3 * (CAST(least(wc, 50) AS DOUBLE) / 50.0)
             + 0.2 * (CAST(alphac AS DOUBLE) / wc)), 4) AS quality
         FROM d ORDER BY doc_id"""
    },
    "t4_token_count" ->
      """WITH n AS (SELECT doc_id,
           regexp_replace(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+', ' ', 'g') AS t
         FROM documents)
         SELECT doc_id, length(t) AS n_chars_norm,
           len(string_split(t, ' ')) AS ws_tokens,
           len(regexp_extract_all(t, '[a-z0-9]{1,3}')) AS subword_tokens
         FROM n ORDER BY doc_id""",
    "t5_fingerprint" ->
      """WITH t AS (SELECT doc_id, text,
           regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+') AS w
         FROM documents),
         sh AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS s
                FROM t, unnest(generate_series(1, len(w)-2)) AS g(i)),
         m AS (SELECT doc_id, min(md5(s)) AS min_shingle_fp
               FROM sh GROUP BY 1)
         SELECT d.doc_id,
           md5(regexp_replace(trim(lower(d.text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+', ' ', 'g')) AS doc_fp,
           m.min_shingle_fp
         FROM documents d JOIN m ON d.doc_id = m.doc_id
         ORDER BY d.doc_id""",
    "t9_char_ngrams" ->
      """WITH nrm AS (SELECT lang,
           regexp_replace(regexp_replace(lower(text), '^[\s\x0B]+|[\s\x0B]+$', '', 'g'),
             '[\s\x0B]+', ' ', 'g') AS t
         FROM documents),
         tri AS (SELECT lang, substr(t, i, 3) AS tri
                 FROM nrm, unnest(generate_series(1, length(t)-2)) AS g(i)),
         c AS (SELECT lang, tri, count(*) AS n FROM tri GROUP BY 1, 2),
         r AS (SELECT lang, tri, n, row_number() OVER (
                 PARTITION BY lang ORDER BY n DESC, tri) AS rn FROM c)
         SELECT lang, tri, n, rn FROM r WHERE rn <= 5
         ORDER BY lang, rn""",
    "t7_hash_sample" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE substr(md5(regexp_replace(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+', ' ', 'g')), 1, 1)
           IN ('0','1','2','3','4','5','6','7')
         ORDER BY doc_id""",
    "t8_quality_gate" -> {
      val stop = Text.stopwords.map(duckMarker).mkString(" + ")
      s"""WITH d AS (SELECT doc_id, lang,
           len(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+')) AS wc,
           ($stop) AS stopc,
           len(list_filter(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+'),
             x -> regexp_full_match(x, '^[a-z]+$$'))) AS alphac
         FROM documents),
         q AS (SELECT doc_id, lang,
           round(100.0 * (0.5 * (CAST(stopc AS DOUBLE) / wc)
             + 0.3 * (CAST(least(wc, 50) AS DOUBLE) / 50.0)
             + 0.2 * (CAST(alphac AS DOUBLE) / wc)), 4) AS quality
         FROM d)
         SELECT doc_id, lang, quality FROM q
         WHERE quality >= 40 AND lang IN ('en','de','es')
         ORDER BY doc_id"""
    },
    "t16_pii_redact" ->
      """WITH aug AS (SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@example.com'
             || CASE WHEN doc_id % 3 = 0
                  THEN ' cc admin' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.org'
                  ELSE '' END
             || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
             || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
         FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
             AS n_ips,
           md5(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'))
             AS redacted_fp
         FROM aug ORDER BY doc_id""",
    "t17_domain_mix" ->
      """WITH c AS (SELECT source, count(*) AS cnt,
           (TRY_CAST(substr(source, 4) AS BIGINT) % 4) + 1 AS w
         FROM documents GROUP BY source),
         t AS (SELECT sum(cnt) AS n, sum(w) AS wsum FROM c),
         thr AS (SELECT source, (256 * (n // 2) * w) // (wsum * cnt) AS thr
                 FROM c, t),
         h AS (SELECT doc_id, lang, source,
                 md5(CAST(doc_id AS VARCHAR)) AS m
               FROM documents),
         b AS (SELECT doc_id, lang, source,
                 16*(strpos('0123456789abcdef', substr(m, 1, 1))-1)
                   + (strpos('0123456789abcdef', substr(m, 2, 1))-1) AS b0
               FROM h)
         SELECT b.doc_id, b.lang, b.source FROM b JOIN thr USING (source)
         WHERE b.b0 < thr.thr ORDER BY doc_id""",
    "t18_split_assign" ->
      """WITH h AS (SELECT doc_id, lang,
           md5('split:' || CAST(doc_id AS VARCHAR)) AS m
         FROM documents),
         b AS (SELECT doc_id, lang,
             16*(strpos('0123456789abcdef', substr(m, 1, 1))-1)
               + (strpos('0123456789abcdef', substr(m, 2, 1))-1) AS b0
           FROM h)
         SELECT doc_id, lang,
           CASE WHEN b0 < 204 THEN 'train'
                WHEN b0 < 230 THEN 'val'
                ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",
    "t25_cdc_chunks" -> Dedup.cdcChunksOracleSql(8),
    // t19/t20/t21 tokenize via the t13 words-twin (plain trim + \s+
    // split — the fixture carries no leading control whitespace, same
    // caveat t13/t12 already document)
    "t19_quality_classifier" ->
      """WITH tok AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+')) AS tok
         FROM documents),
         b AS (SELECT doc_id,
             (16*16*16*(strpos('0123456789abcdef', substr(md5(tok),1,1))-1)
             +16*16*(strpos('0123456789abcdef', substr(md5(tok),2,1))-1)
             +16*(strpos('0123456789abcdef', substr(md5(tok),3,1))-1)
             +(strpos('0123456789abcdef', substr(md5(tok),4,1))-1))
             % 1024 AS bkt
           FROM tok),
         sc AS (SELECT doc_id, count(*) AS n_tok,
             CAST(sum((bkt * 2654435761) % 2001 - 1000) AS BIGINT)
               AS s_milli
           FROM b GROUP BY 1)
         SELECT doc_id, n_tok,
           round(CAST(s_milli AS DOUBLE)/(n_tok*1000.0), 4) AS score,
           s_milli > 0 AS keep
         FROM sc ORDER BY doc_id""",
    "t20_unigram_surprisal" ->
      """WITH tok AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+')) AS tok
         FROM documents),
         v AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
         s AS (SELECT tok,
                 CAST(length(bin(total // cnt)) - 1 AS BIGINT) AS bits
               FROM v, tot),
         per AS (SELECT doc_id, count(*) AS n_tok,
                   CAST(sum(bits) AS BIGINT) AS bits_sum
                 FROM tok JOIN s USING (tok) GROUP BY 1)
         SELECT doc_id, n_tok, bits_sum,
           round(CAST(bits_sum AS DOUBLE)/n_tok, 4) AS avg_bits,
           CASE WHEN bits_sum*100 < n_tok*405 THEN 'head'
                WHEN bits_sum*100 < n_tok*425 THEN 'middle'
                ELSE 'tail' END AS band
         FROM per ORDER BY doc_id""",
    // t26: transitions rebuilt by an (i, i+1) self-join over the
    // positioned token list (the set Spark derives map-side from
    // arrays_zip); every count stays integer until the single final
    // division, so the doubles hash-match.
    "t26_bigram_surprisal" ->
      """WITH wl AS (SELECT doc_id,
           regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+') AS w
         FROM documents),
         tk AS (SELECT doc_id, unnest(w) AS tok,
                  generate_subscripts(w, 1) AS i FROM wl),
         tr AS (SELECT a.doc_id, a.tok AS prev, b.tok AS tok
                FROM tk a JOIN tk b
                  ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         bg AS (SELECT prev, tok, count(*) AS c_big FROM tr GROUP BY 1, 2),
         cx AS (SELECT prev, CAST(sum(c_big) AS BIGINT) AS c_ctx
                FROM bg GROUP BY 1),
         tb AS (SELECT prev, tok,
                  CAST(length(bin(c_ctx // c_big)) - 1 AS BIGINT) AS bbits
                FROM bg JOIN cx USING (prev)),
         v AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
         ub AS (SELECT tok,
                  CAST(length(bin(total // cnt)) - 1 AS BIGINT) AS ubits
                FROM v, tot),
         us AS (SELECT doc_id, count(*) AS n_tok,
                  CAST(sum(ubits) AS BIGINT) AS usum
                FROM tk JOIN ub USING (tok) GROUP BY 1),
         fd AS (SELECT doc_id, ubits AS u1
                FROM tk JOIN ub USING (tok) WHERE i = 1),
         td AS (SELECT doc_id, CAST(sum(bbits) AS BIGINT) AS bsum
                FROM tr JOIN tb USING (prev, tok) GROUP BY 1),
         per AS (SELECT us.doc_id, us.n_tok,
                   us.usum + fd.u1 + COALESCE(td.bsum, 0) AS bits_sum
                 FROM us JOIN fd USING (doc_id)
                 LEFT JOIN td USING (doc_id))
         SELECT doc_id, n_tok, bits_sum,
           round(CAST(bits_sum AS DOUBLE)/(n_tok*2), 4) AS avg_bits,
           CASE WHEN bits_sum*100 < n_tok*2*410 THEN 'head'
                WHEN bits_sum*100 < n_tok*2*420 THEN 'middle'
                ELSE 'tail' END AS band
         FROM per ORDER BY doc_id""",
    "t27_bpe_merges" -> bpeOracle(4),
    // t27b runs the in-process trainer against the SAME unrolled-merge
    // oracle — identical output contract, different execution path
    "t27b_bpe_local" -> bpeOracle(4),
    // t29: same positioned-token self-join as t26 for the bigram
    // features; bucket weights are pure integer floor-log2 arithmetic
    "t29_dsir_weights" ->
      s"""WITH $dsirCtes
         SELECT doc_id, n_feat, score_bits,
           round(CAST(score_bits AS DOUBLE)/n_feat, 4) AS avg_bits,
           score_bits*100 > n_feat*(-8) AS keep
         FROM dper ORDER BY doc_id""",
    "t30_epoch_shuffle" ->
      """WITH h AS (SELECT doc_id,
           md5('ep1:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
         sh AS (SELECT doc_id, h,
           CAST((16*(strpos('0123456789abcdef', substr(h,1,1))-1)
             + (strpos('0123456789abcdef', substr(h,2,1))-1)) % 16
             AS BIGINT) AS shard
         FROM h)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard
             ORDER BY h, doc_id) AS BIGINT) AS ordinal
         FROM sh ORDER BY shard, ordinal""",
    "t31_source_upsample" ->
      """WITH b AS (SELECT doc_id, source,
           try_cast(substring(source, 4) AS BIGINT) % 5 + 2 AS wh,
           (16*(strpos('0123456789abcdef',
              substr(md5('up:' || CAST(doc_id AS VARCHAR)),1,1))-1)
            + (strpos('0123456789abcdef',
              substr(md5('up:' || CAST(doc_id AS VARCHAR)),2,1))-1))
             AS b0
         FROM documents),
         r AS (SELECT doc_id, source,
           CAST(wh // 2 + CASE WHEN wh % 2 = 1 AND b0 < 128
             THEN 1 ELSE 0 END AS BIGINT) AS n_rep
         FROM b)
         SELECT doc_id, source, n_rep,
           CAST(unnest(generate_series(1, n_rep)) AS BIGINT)
             AS replica_idx
         FROM r ORDER BY doc_id, replica_idx""",
    // pipe2: the t29 CTE chain gates the corpus, d1's keep-first rule
    // dedups the survivors, t12's packing CTEs (renamed p_*) pack them
    "pipe2_select_pack" ->
      s"""WITH $dsirCtes,
         keep0 AS (SELECT doc_id FROM dper
                   WHERE score_bits*100 > n_feat*(-8)),
         kd AS (SELECT d.* FROM documents d JOIN keep0 USING (doc_id)),
         kfp AS (SELECT doc_id,
             md5(regexp_replace(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+', ' ', 'g')) AS xfp
           FROM kd),
         kfirst AS (SELECT xfp, min(doc_id) AS doc_id
                    FROM kfp GROUP BY 1),
         uniq AS (SELECT kd.* FROM kd JOIN kfirst USING (doc_id)),
         p_d AS (SELECT doc_id, source,
           md5(regexp_replace(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+', ' ', 'g')) AS fp,
           len(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+')) AS tok
         FROM uniq),
         p_sh AS (SELECT doc_id, source, fp, tok,
           CAST(strpos('0123456789abcdef', substr(fp, 1, 1)) - 1 AS BIGINT)
             AS shard
         FROM p_d),
         p_c AS (SELECT doc_id, source, shard, tok,
           sum(tok) OVER (PARTITION BY source, shard ORDER BY fp, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM p_sh)
         SELECT doc_id, source, shard, CAST(tok AS BIGINT) AS tok,
           CAST((cum - tok) // 512 AS BIGINT) AS chunk_id,
           CAST((cum - tok) % 512 AS BIGINT) AS chunk_offset
         FROM p_c
         ORDER BY source, shard, chunk_id, chunk_offset, doc_id""",
    // t28: the same four-step chain, then doc words ⋈ w4 segmentation
    "t28_bpe_encode" ->
      s"""WITH ${bpeCtes(4)},
         seg AS (SELECT word, CAST(len(s) AS BIGINT) AS n_syms FROM w4),
         dtok AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+')) AS word
           FROM documents),
         j AS (SELECT doc_id, count(*) AS n_words,
                 CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
               FROM dtok JOIN seg USING (word)
               WHERE length(word) > 0 GROUP BY 1)
         SELECT doc_id, n_words, n_bpe_tokens,
           round(CAST(n_bpe_tokens AS DOUBLE)/n_words, 4)
             AS tokens_per_word
         FROM j ORDER BY doc_id""",
    "api5_search_facets" ->
      """SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents
         WHERE list_has_any(
           regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+'),
           ['dup', 'vector', 'merge', 'scan'])
         GROUP BY lang, source ORDER BY lang, source""",
    // t22: same L-normalized integer-factor BM25 as Retrieval.scoreCol —
    // BIGINT factors into CAST-to-DOUBLE divisions combined in the same
    // fixed operation order as the Scala expression, the four term
    // scores summed in the same left-assoc order as the reduceLeft, so
    // the doubles are bit-identical.
    "t22_bm25_topk" ->
      """WITH d AS (SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+')) AS BIGINT) AS dl
         FROM documents),
         w AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+')) AS word
         FROM documents),
         tf AS (SELECT doc_id,
             CAST(SUM(CASE WHEN word = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS tf_dup,
             CAST(SUM(CASE WHEN word = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf_vector,
             CAST(SUM(CASE WHEN word = 'merge' THEN 1 ELSE 0 END) AS BIGINT) AS tf_merge,
             CAST(SUM(CASE WHEN word = 'scan' THEN 1 ELSE 0 END) AS BIGINT) AS tf_scan
           FROM w WHERE word IN ('dup', 'vector', 'merge', 'scan')
           GROUP BY doc_id),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS l_tot FROM d),
         f AS (SELECT
             CAST(SUM(CASE WHEN tf_dup > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_dup,
             CAST(SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_vector,
             CAST(SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_merge,
             CAST(SUM(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_scan
           FROM tf),
         s AS (SELECT tf.doc_id, d.dl,
             (CAST(2*n_docs - 2*df_dup + 1 AS DOUBLE) / CAST(2*df_dup + 1 AS DOUBLE))
               * (CAST(44*tf_dup AS DOUBLE) / (CAST(20*tf_dup + 6 AS DOUBLE) + CAST(18*d.dl*n_docs AS DOUBLE) / CAST(l_tot AS DOUBLE)))
             + (CAST(2*n_docs - 2*df_vector + 1 AS DOUBLE) / CAST(2*df_vector + 1 AS DOUBLE))
               * (CAST(44*tf_vector AS DOUBLE) / (CAST(20*tf_vector + 6 AS DOUBLE) + CAST(18*d.dl*n_docs AS DOUBLE) / CAST(l_tot AS DOUBLE)))
             + (CAST(2*n_docs - 2*df_merge + 1 AS DOUBLE) / CAST(2*df_merge + 1 AS DOUBLE))
               * (CAST(44*tf_merge AS DOUBLE) / (CAST(20*tf_merge + 6 AS DOUBLE) + CAST(18*d.dl*n_docs AS DOUBLE) / CAST(l_tot AS DOUBLE)))
             + (CAST(2*n_docs - 2*df_scan + 1 AS DOUBLE) / CAST(2*df_scan + 1 AS DOUBLE))
               * (CAST(44*tf_scan AS DOUBLE) / (CAST(20*tf_scan + 6 AS DOUBLE) + CAST(18*d.dl*n_docs AS DOUBLE) / CAST(l_tot AS DOUBLE)))
             AS raw
           FROM tf JOIN d USING (doc_id), c, f)
         SELECT doc_id, dl, round(raw, 4) AS score
         FROM s ORDER BY score DESC, doc_id LIMIT 20""",
    // t32: the t22 BM25 CTEs (corpus minus the probe doc) + the n1
    // cosine CTEs (probe = vec 0) + rank windows + the RRF fusion —
    // every addend one IEEE division of small integers, so the fused
    // doubles reproduce bit-for-bit
    "t32_hybrid_rrf" ->
      s"""WITH d AS (SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+')) AS BIGINT) AS dl
         FROM documents WHERE doc_id <> 0),
         w AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+')) AS word
         FROM documents WHERE doc_id <> 0),
         tf AS (SELECT doc_id,
             CAST(SUM(CASE WHEN word = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS tf_dup,
             CAST(SUM(CASE WHEN word = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf_vector,
             CAST(SUM(CASE WHEN word = 'merge' THEN 1 ELSE 0 END) AS BIGINT) AS tf_merge,
             CAST(SUM(CASE WHEN word = 'scan' THEN 1 ELSE 0 END) AS BIGINT) AS tf_scan
           FROM w WHERE word IN ('dup', 'vector', 'merge', 'scan')
           GROUP BY doc_id),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS l_tot FROM d),
         f AS (SELECT
             CAST(SUM(CASE WHEN tf_dup > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_dup,
             CAST(SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_vector,
             CAST(SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_merge,
             CAST(SUM(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_scan
           FROM tf),
         s AS (SELECT tf.doc_id, round(
             (CAST(2*n_docs - 2*df_dup + 1 AS DOUBLE) / CAST(2*df_dup + 1 AS DOUBLE))
               * (CAST(44*tf_dup AS DOUBLE) / (CAST(20*tf_dup + 6 AS DOUBLE) + CAST(18*d.dl*n_docs AS DOUBLE) / CAST(l_tot AS DOUBLE)))
             + (CAST(2*n_docs - 2*df_vector + 1 AS DOUBLE) / CAST(2*df_vector + 1 AS DOUBLE))
               * (CAST(44*tf_vector AS DOUBLE) / (CAST(20*tf_vector + 6 AS DOUBLE) + CAST(18*d.dl*n_docs AS DOUBLE) / CAST(l_tot AS DOUBLE)))
             + (CAST(2*n_docs - 2*df_merge + 1 AS DOUBLE) / CAST(2*df_merge + 1 AS DOUBLE))
               * (CAST(44*tf_merge AS DOUBLE) / (CAST(20*tf_merge + 6 AS DOUBLE) + CAST(18*d.dl*n_docs AS DOUBLE) / CAST(l_tot AS DOUBLE)))
             + (CAST(2*n_docs - 2*df_scan + 1 AS DOUBLE) / CAST(2*df_scan + 1 AS DOUBLE))
               * (CAST(44*tf_scan AS DOUBLE) / (CAST(20*tf_scan + 6 AS DOUBLE) + CAST(18*d.dl*n_docs AS DOUBLE) / CAST(l_tot AS DOUBLE)))
             , 4) AS score
           FROM tf JOIN d USING (doc_id), c, f),
         lex AS (SELECT doc_id, CAST(row_number() OVER (
                 ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
               FROM s),
         u AS ($duckUnnest),
         sc AS (SELECT b.vec_id AS doc_id, ${duckCos("a.x", "b.x")} AS cos
                FROM u a JOIN u b
                  ON a.i = b.i AND a.vec_id = 0 AND b.vec_id <> 0
                GROUP BY b.vec_id),
         sem AS (SELECT doc_id, CAST(row_number() OVER (
                 ORDER BY cos DESC, doc_id) AS BIGINT) AS sem_rank
               FROM sc),
         fuse AS (SELECT doc_id, lex_rank, sem_rank,
             round(COALESCE(CAST(1 AS DOUBLE)/(60 + lex_rank), CAST(0 AS DOUBLE))
                 + COALESCE(CAST(1 AS DOUBLE)/(60 + sem_rank), CAST(0 AS DOUBLE)), 6) AS rrf
           FROM (SELECT * FROM lex WHERE lex_rank <= 50) l
           FULL OUTER JOIN (SELECT * FROM sem WHERE sem_rank <= 50) m
             USING (doc_id))
         SELECT doc_id, lex_rank, sem_rank, rrf FROM fuse
         ORDER BY rrf DESC, doc_id LIMIT 20""",
    "t21_chunk_windows" ->
      """WITH d AS (SELECT doc_id,
           regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+') AS w
         FROM documents),
         c AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS len,
             CASE WHEN len(w) <= 16 THEN 1
                  ELSE (len(w) - 16 + 11) // 12 + 1 END AS nc
           FROM d),
         e AS (SELECT doc_id, w, len, CAST(i AS BIGINT) AS chunk_idx
               FROM c, unnest(generate_series(0, nc - 1)) AS gs(i)),
         f AS (SELECT doc_id, chunk_idx, chunk_idx * 12 AS start_tok,
                 least(16, len - chunk_idx * 12) AS n_tok, w
               FROM e)
         SELECT doc_id, chunk_idx, start_tok, n_tok,
           md5(array_to_string(w[start_tok + 1 : start_tok + n_tok], ' '))
             AS chunk_fp
         FROM f ORDER BY doc_id, chunk_idx""",
    // pipe1: the d1 → d15 → t8 → t17 → t18 twins chained as CTEs, each
    // stage reading the previous stage's survivors — the same composition
    // the Spark entry declares
    "pipe1_corpus_build" -> {
      val stop = Text.stopwords.map(duckMarker).mkString(" + ")
      s"""WITH k1 AS (SELECT min(doc_id) AS doc_id FROM documents
           GROUP BY md5(regexp_replace(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+', ' ', 'g'))),
         s1 AS (SELECT d.* FROM documents d JOIN k1 USING (doc_id)),
         bt AS (SELECT doc_id, source,
             regexp_split_to_array(trim(lower(text),
               ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)),
               '[\\s\\x0B]+') AS w
           FROM s1),
         sh AS (SELECT doc_id, source, array_to_string(w[i:i+1], ' ') AS g
                FROM bt, unnest(generate_series(1, len(w)-1)) AS gs(i)
                WHERE (i-1) % 2 = 0),
         bp AS (SELECT source, g FROM sh GROUP BY 1, 2
                HAVING count(DISTINCT doc_id) >= 3),
         per AS (SELECT sh.doc_id, count(*) AS n_chunks,
                   count(bp.g) AS n_boiler
                 FROM sh LEFT JOIN bp
                   ON sh.source = bp.source AND sh.g = bp.g
                 GROUP BY 1),
         s2 AS (SELECT s1.* FROM s1 JOIN per USING (doc_id)
                WHERE per.n_boiler * 2 <= per.n_chunks),
         qd AS (SELECT doc_id, lang, source,
             len(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+')) AS wc,
             ($stop) AS stopc,
             len(list_filter(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+'),
               x -> regexp_full_match(x, '^[a-z]+$$'))) AS alphac
           FROM s2),
         s3 AS (SELECT doc_id, lang, source FROM qd
           WHERE round(100.0 * (0.5 * (CAST(stopc AS DOUBLE) / wc)
               + 0.3 * (CAST(least(wc, 50) AS DOUBLE) / 50.0)
               + 0.2 * (CAST(alphac AS DOUBLE) / wc)), 4) >= 40
             AND lang IN ('en','de','es')),
         c AS (SELECT source, count(*) AS cnt,
             (TRY_CAST(substr(source, 4) AS BIGINT) % 4) + 1 AS w
           FROM s3 GROUP BY source),
         t AS (SELECT sum(cnt) AS n, sum(w) AS wsum FROM c),
         thr AS (SELECT source, (256 * (n // 2) * w) // (wsum * cnt) AS thr
                 FROM c, t),
         mb AS (SELECT doc_id, lang, source,
             16*(strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))-1)
               + (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))-1) AS b0
           FROM s3),
         s4 AS (SELECT mb.doc_id, mb.lang, mb.source
                FROM mb JOIN thr USING (source) WHERE mb.b0 < thr.thr),
         sb AS (SELECT doc_id, lang, source,
             16*(strpos('0123456789abcdef',
                   substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1))-1)
               + (strpos('0123456789abcdef',
                   substr(md5('split:' || CAST(doc_id AS VARCHAR)), 2, 1))-1)
               AS b0
           FROM s4)
         SELECT doc_id, lang, source,
           CASE WHEN b0 < 204 THEN 'train'
                WHEN b0 < 230 THEN 'val'
                ELSE 'test' END AS split
         FROM sb ORDER BY doc_id"""
    },
  )
}
