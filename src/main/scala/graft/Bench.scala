package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Headline subset printed on stdout. The driver that collects
    * BENCH_r{N}.json keeps only the last ~2000 characters of the run's
    * output, and a JSON line carrying all 100+ per-query timings at full
    * double precision overflows that window — its head gets truncated and
    * the line no longer parses (BENCH_r02..r06 all record `parsed: null`).
    * So stdout carries a fixed representative subset (every query family +
    * the historically slowest entries) rounded to milliseconds, and the
    * complete per-query map is written to BENCH_FULL.json in the working
    * directory for inspection.
    */
  private val headline: Seq[String] = Seq(
    "p2_time_window", "p5_dynamic_predicates",
    "j1_fact_dims", "j2_left_join", "j4_lateral_top1", "j11_asof_join",
    "j14_asof_sql",
    "a1_conditional_agg", "a5_ohlcv_build", "a6_ohlcv_resample",
    "a10_coalesce_fallback", "a11_token_matrix", "a14_multi_bucket",
    "a17_percentiles", "a20_rolling_uniques_hll",
    "w1_dedupe_keep_latest", "w5_prev_close_carry", "w7_sessionize",
    "w8_moving_avg", "w10_range_interval", "x6_pivot",
    "o2_topk", "o5_gainers", "o6_router_combine", "u1_union",
    "s3_event_decode", "s8_dedup_keys", "f11_security_score",
    "x5_from_json", "api1_token_list", "api2_trades_page", "g_gapfill_prev",
    "d1_exact_dedup", "d2_minhash_neardup", "d5_embedding_neardup",
    "d8_dup_groups", "d9_semantic_prune", "d10_dedup_apply_groups",
    "n1_ann_topk", "n3_ann_ivf", "n4_ann_ivf_trained", "n5_ann_multiprobe",
    "n6_ann_pq", "n6_serving", "n7_serving",
    "t1_text_stats", "t3_quality_score", "t8_quality_gate",
    "t12_seq_pack", "t13_doc_freq", "t15_tfidf_keywords",
    "w11_forming_bar", "t10b_alert_wallet_tvl",
    "n7_ann_ivfpq", "d12_bloom_decontaminate", "a21_percentile_sketch",
    "a22_salted_agg", "b1_tpch_q1", "b2_tpch_q3", "b3_tpch_q6",
    "m2_media_extract", "m3_frame_sample", "m4_media_resize",
    "n8_knn_graph", "d15_boilerplate", "t18_split_assign",
    "d16_graph_dedup", "d17_substring_runs", "t19_quality_classifier",
    "t20_unigram_surprisal", "t21_chunk_windows", "t22_bm25_topk",
    "t22_serving",
    "b10_tpch_q13", "b11_tpch_q21", "b12_tpch_q22", "b13_tpch_q14",
    "b14_tpch_q19", "b15_tpch_q17", "b16_tpch_q15", "b17_tpch_q8",
    "t24_dataset_card", "t25_cdc_chunks", "d18_cdc_neardup",
    // r13: the partsupp anchors (derived-dimension joins), the
    // SQL-surface correlated scalar, and the in-process BPE trainer
    "b18_tpch_q2", "b19_tpch_q9", "b20_tpch_q11", "b21_tpch_q16",
    "b22_tpch_q20", "j5_correlated_scalar", "t27b_bpe_local",
    // r13 second session: hybrid lexical+semantic retrieval (RRF) and
    // SQ8 scalar-quantized ANN
    "t32_hybrid_rrf", "hybrid_serving", "n10_ann_sq8", "sq8_serving",
    "n12_ann_filtered", "n13_ann_ivfsq8", "n14_ann_sq8_sampled",
    // r14: the filtered byte-index serve and the adaptive IVF+SQ8 serve
    "sq8_filtered_serving", "n13_serving",
    // r14 second session: the packed-code PQ serves (pq_adc kernel) and
    // their correctness entry
    "n15_ann_pq_packed", "n6_packed_serving", "n7_packed_serving",
    // r14 third session: the two-level coarse-quantized IVF build —
    // the 1000×+ geometry for the adaptive √n-cell rule
    "n16_ann_twolevel")

  /** The 2×-criterion twin (r7 verdict #8): time the SAME SQL the oracle
    * runs, in DuckDB, over the SAME parquet — a measurable single-node
    * baseline next to the Spark numbers. Fifteen headline queries
    * spanning the families (r8 verdict #8 widened it with an as-of join,
    * a window entry, a dedup entry, a TPC-H anchor, and a serving
    * composite); python3+duckdb are driver-side tools in this container,
    * so the whole block is best-effort (absent → field omitted, Spark
    * numbers unaffected). Each twin also runs at the SMALL sf on both
    * engines so BENCH_FULL.json carries the sf0.01→sf0.1 marginal slope
    * — the per-unit-data number BASELINE.md says to watch — computed,
    * not hand-derived.
    */
  private[graft] val duckHeadline: Seq[String] = Seq(
    "p2_time_window", "j1_fact_dims", "a1_conditional_agg",
    "a5_ohlcv_build", "a11_token_matrix", "w1_dedupe_keep_latest",
    "o2_topk", "d1_exact_dedup", "t8_quality_gate", "api1_token_list",
    "j11_asof_join", "w8_moving_avg", "d2_minhash_neardup",
    "b1_tpch_q1", "api3_ohlcv_route", "d15_boilerplate",
    "d17_substring_runs", "t22_bm25_topk",
    // r9 verdict #5: the slowest surface families — exactly the queries
    // whose scaling behavior matters most (d16's oracle is the recursive
    // CC CTE; all six reuse their CORRECTNESS-green oracle SQL verbatim)
    "d16_graph_dedup", "n8_knn_graph", "pipe1_corpus_build",
    "d14_canonical_pick", "n7_ann_ivfpq", "n6_ann_pq",
    // r10 continuation: the double-correlated self-join anchor — the one
    // new TPC-H shape whose decorrelation strategy differs most between
    // engines (DuckDB rewrites the EXISTS pair; Spark plans explicit
    // semi+anti hash joins) — plus the session's flagship additions so
    // twin_slopes tracks them from the start: the dataset card, CDC
    // chunking, and the capped CDC near-dup join
    "b11_tpch_q21", "t24_dataset_card", "t25_cdc_chunks",
    "d18_cdc_neardup",
    // r10 third session: the sample-bounded-training counterexample and
    // the two tokenizer-side additions with corpus-scale joins (t27's
    // oracle replays four unrolled vocab rewrites — the interesting twin:
    // DuckDB pays the same chain single-node)
    "n9_ann_ivf_sampled", "t26_bigram_surprisal", "t27_bpe_merges",
    "t28_bpe_encode", "t29_dsir_weights", "pipe2_select_pack",
    // r13: b19 is the widest new anchor (fact ⋈ derived partsupp on two
    // keys — the twin shows what the in-plan synthesis costs each
    // engine); j5 times DuckDB's native correlated-scalar rewrite
    // against Catalyst's decorrelation on identical SQL semantics
    "b19_tpch_q9", "j5_correlated_scalar",
    // r13 second session: the fused-retrieval twin (both legs + the
    // full-outer RRF fusion in one statement on each engine)
    "t32_hybrid_rrf")

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. Bench's JSON and Verify's oracle_sql.json both use it.
    */
  private[graft] def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Strip a trailing CANONICAL `ORDER BY col [asc|desc][, col…]` from an
    * oracle SQL string. The Spark queries sort only when the order is
    * the answer (the compare is row-order-insensitive), so the twin drops
    * the oracle's canonical sort and both engines time the same shape.
    * Only a structured trailing sort list matches: comma-separated
    * identifiers (or positional ordinals), each with at most an asc/desc
    * qualifier, then end-of-string. The r11 class `[a-z0-9_,.\s]+` also swallowed
    * LIMIT/OFFSET and their arguments (all spelled from that alphabet),
    * silently deleting the semantic top-k from four headline twins
    * (o2/b11/api1/t22) while Spark kept its orderBy+limit — the
    * structural grammar here cannot cross a LIMIT (no comma precedes it),
    * and BenchSpec pins that every headline twin keeps its LIMIT.
    */
  private[graft] def stripCanonOrder(sql: String): String = {
    // NULLS FIRST/LAST and double-quoted identifiers are part of the
    // term grammar (r12 advice): a canonical sort spelled either way
    // must strip like the bare form, or the DuckDB twin would pay a
    // sort Spark doesn't — an asymmetric timing comparison
    val term = "([a-z_][a-z0-9_.]*|\"[a-z0-9_. ]+\"|[0-9]+)" +
      "(\\s+(asc|desc))?(\\s+nulls\\s+(first|last))?"
    s"(?is)\\s+ORDER\\s+BY\\s+$term(\\s*,\\s*$term)*\\s*$$".r
      .replaceFirstIn(sql, "")
  }

  private def duckTimes(sfDir: String): Map[String, Double] = try {
    val sqls = SparkEntry.oracleSql.view
      .filterKeys(duckHeadline.contains).toMap
      .map { case (k, v) => k -> stripCanonOrder(v) }
    val tmp = java.nio.file.Files.createTempDirectory("graft-duck")
    val sqlJson = sqls.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(tmp.resolve("sql.json"),
      sqlJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val script =
      """import sys, json, time, os, threading, duckdb
        |sf, sqlf = sys.argv[1], sys.argv[2]
        |con = duckdb.connect()
        |for name in ["region","nation","customer","supplier","part",
        |             "orders","lineitem","events","documents","embeddings"]:
        |    p = f"{sf}/{name}.parquet"
        |    if os.path.exists(p):
        |        con.execute(
        |            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        |qs = json.load(open(sqlf))
        |# per-query interrupt cap: a twin whose DuckDB side exceeds CAP
        |# seconds (d16's recursive-CTE CC is the known case at sf0.1)
        |# drops out of the twin map instead of wedging the whole bench;
        |# its absence from twin_slopes is the recorded signal
        |CAP = float(os.environ.get("GRAFT_DUCK_CAP_SEC", "60"))
        |dead = set()
        |def run_capped(k):
        |    fired = []
        |    def trip():
        |        fired.append(1)
        |        con.interrupt()
        |    t = threading.Timer(CAP, trip)
        |    t.start()
        |    try:
        |        con.execute(qs[k]).fetch_arrow_table()
        |        return True
        |    except Exception as e:
        |        dead.add(k)
        |        # an over-cap interrupt is the documented slow-twin
        |        # signal; anything else is a REGRESSION and must be
        |        # visible, not silently identical to the capped case
        |        if not fired:
        |            sys.stderr.write(f"[duck] {k} FAILED: {e}\n")
        |        return False
        |    finally:
        |        t.cancel()
        |        if fired:
        |            # absorb a stale interrupt that landed between the
        |            # query finishing and cancel(), so it cannot hit
        |            # the NEXT query on this shared connection
        |            try:
        |                con.execute("select 1").fetchall()
        |            except Exception:
        |                pass
        |# warm-up pass mirrors the Spark side: first execution pays
        |# parquet-read + catalog warmup that would otherwise land on
        |# whichever query sorts first
        |for k in sorted(qs):
        |    run_capped(k)
        |out = {}
        |for _ in range(2):  # min-of-2, mirroring the Spark side
        |    for k in sorted(qs):
        |        if k in dead:
        |            continue
        |        t0 = time.time()
        |        if not run_capped(k):
        |            out.pop(k, None)
        |            continue
        |        dt = round(time.time() - t0, 3)
        |        out[k] = min(out.get(k, dt), dt)
        |print(json.dumps(out))
        |""".stripMargin
    java.nio.file.Files.write(tmp.resolve("duck.py"),
      script.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val proc = new ProcessBuilder("python3",
      tmp.resolve("duck.py").toString, sfDir,
      tmp.resolve("sql.json").toString)
      // stderr flows through to the bench log so a "[duck] ... FAILED"
      // regression line is visible instead of vanishing with the twin
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val outStr = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8).trim
    if (proc.waitFor() != 0 || !outStr.startsWith("{")) Map.empty
    else // flat {"name": seconds} map — parse without a JSON library
      "\"([a-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(outStr)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
  } catch { case _: Throwable => Map.empty }

  /** Serving-path bench for the ANN composites (r8 verdict #6): the
    * n6/n7 entries train in-query because their oracle must be one
    * self-contained SQL statement, so their times are build+query; a
    * serving SLA pays only the query. Build the parquet artifacts ONCE
    * (untimed — the real lifecycle runs pqTrain/pqEncode/ivfCells per
    * corpus build), then time pqTopKFromCodes / ivfPqTopKFromCodes
    * exactly like any other entry (noop write, warm, min-of-2).
    */
  private def servingTimes(spark: SparkSession, sfDir: String)
      : Map[String, Double] = {
    val tmp = try
      java.nio.file.Files.createTempDirectory("graft-serve").toString
    catch { case _: Throwable => return Map.empty }
    try {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val v = Tables.embeddings(spark, sfDir)
    val probes = v.filter(col("vec_id") < 10)
    val centroids = v.filter(col("vec_id") % 50 === 0)
    def t(fn: () => Unit): Double = {
      val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e9
    }
    // each serving family in its OWN try: a build/plan failure in one
    // must not discard the already-measured entries of another (absent
    // key + visible cause, not a silent hole — a consumer diffing bench
    // runs must be able to tell "build broke" from "not implemented")
    def family(name: String)(build: => Map[String, Double])
        : Map[String, Double] =
      try build catch { case e: Throwable =>
        System.err.println(s"[graft] $name bench failed: $e")
        Map.empty[String, Double]
      }
    // PQ/IVF artifact build + n6/n7 (hybrid re-reads the same artifact
    // paths inside its own family, so an ann failure loses hybrid too —
    // a real dependency, not coupling)
    val ann = family("ann_serving") {
      // artifact build, untimed — n6/n7 geometry (m=8, stride-50 seeds)
      val cb = Similarity.pqTrain(v, m = 8, iters = 2)
      cb.write.mode("overwrite").parquet(s"$tmp/codebook")
      Similarity.pqEncode(v, cb).write.mode("overwrite")
        .parquet(s"$tmp/codes")
      Similarity.ivfCells(v, centroids).write.mode("overwrite")
        .parquet(s"$tmp/cells")
      val cbR = spark.read.parquet(s"$tmp/codebook")
      val codesR = spark.read.parquet(s"$tmp/codes")
      val cellsR = spark.read.parquet(s"$tmp/cells")
      def q6(): Unit = Similarity
        .pqTopKFromCodes(probes, v, cbR, codesR, k = 5)
        .orderBy(col("probe_id"), col("rank"))
        .write.format("noop").mode("overwrite").save()
      def q7(): Unit = Similarity
        .ivfPqTopKFromCodes(probes, v, centroids, cellsR, cbR, codesR,
          k = 5, nprobe = 8)
        .orderBy(col("probe_id"), col("rank"))
        .write.format("noop").mode("overwrite").save()
      q6(); q7() // warm
      // the PACKED byte artifact beside the long form: one binary cell
      // per candidate, scored by the codegen'd pq_adc kernel — the
      // m×-fewer-rows serve the packed layout exists for
      Similarity.pqPackCodes(codesR, cbR).write.mode("overwrite")
        .parquet(s"$tmp/packed")
      val packedR = spark.read.parquet(s"$tmp/packed")
      def q6p(): Unit = Similarity
        .pqTopKFromPackedCodes(probes, v, cbR, packedR, k = 5)
        .orderBy(col("probe_id"), col("rank"))
        .write.format("noop").mode("overwrite").save()
      def q7p(): Unit = Similarity
        .ivfPqTopKFromPackedCodes(probes, v, centroids, cellsR, cbR,
          packedR, k = 5, nprobe = 8)
        .orderBy(col("probe_id"), col("rank"))
        .write.format("noop").mode("overwrite").save()
      q6p(); q7p() // warm
      Map(
        "n6_serving" -> math.min(t(() => q6()), t(() => q6())),
        "n7_serving" -> math.min(t(() => q7()), t(() => q7())),
        "n6_packed_serving" -> math.min(t(() => q6p()), t(() => q6p())),
        "n7_packed_serving" -> math.min(t(() => q7p()), t(() => q7p())))
    }
    // SQ8 artifacts: one-row bounds + byte-per-dim codes (no training).
    // The second entry is the FILTERED serve: metadata co-located in
    // the codes artifact (sq8EncodeWithMeta, label-sorted so row-group
    // min/max prunes), predicate applied to the CODES scan — the
    // production "metadata filter + byte index" shape end-to-end
    // (PlanLintSpec pins the label pushdown on the codes scan).
    val sq8 = family("sq8_serving") {
      val sqStats = Similarity.sq8Stats(v)
      sqStats.write.mode("overwrite").parquet(s"$tmp/sq8stats")
      Similarity.sq8Encode(v, sqStats).write.mode("overwrite")
        .parquet(s"$tmp/sq8codes")
      Similarity.sq8EncodeWithMeta(v, sqStats, Seq("label"))
        .sortWithinPartitions("label")
        .write.mode("overwrite").parquet(s"$tmp/sq8codesmeta")
      val sqStatsR = spark.read.parquet(s"$tmp/sq8stats")
      val sqCodesR = spark.read.parquet(s"$tmp/sq8codes")
      val sqMetaR = spark.read.parquet(s"$tmp/sq8codesmeta")
      def q10(): Unit = Similarity
        .sq8TopKFromCodes(probes, sqStatsR, sqCodesR, k = 5)
        .orderBy(col("probe_id"), col("rank"))
        .write.format("noop").mode("overwrite").save()
      def q10f(): Unit = Similarity
        .sq8TopKFromCodes(probes, sqStatsR,
          sqMetaR.filter(col("label") < 3), k = 5)
        .orderBy(col("probe_id"), col("rank"))
        .write.format("noop").mode("overwrite").save()
      q10(); q10f() // warm
      Map(
        "sq8_serving" -> math.min(t(() => q10()), t(() => q10())),
        "sq8_filtered_serving" ->
          math.min(t(() => q10f()), t(() => q10f())))
    }
    // n13's serving twin: the adaptive-nlist IVF cells + SQ8 byte codes
    // as persisted artifacts; a query pays probe bucketing + a
    // decode+score pass over ONLY the probed cells' codes
    val ivfsq8 = family("n13_serving") {
      val cents = Similarity.adaptiveTrainCentroids(v)
      cents.write.mode("overwrite").parquet(s"$tmp/n13cents")
      val centsR = spark.read.parquet(s"$tmp/n13cents")
      Similarity.ivfCells(v, centsR).write.mode("overwrite")
        .parquet(s"$tmp/n13cells")
      val st = Similarity.sq8Stats(v)
      st.write.mode("overwrite").parquet(s"$tmp/n13stats")
      Similarity.sq8Encode(v, st).write.mode("overwrite")
        .parquet(s"$tmp/n13codes")
      val cellsR = spark.read.parquet(s"$tmp/n13cells")
      val stR = spark.read.parquet(s"$tmp/n13stats")
      val codesR = spark.read.parquet(s"$tmp/n13codes")
      def q13(): Unit = Similarity
        .ivfSq8TopKFromCodes(probes, centsR, cellsR, stR, codesR,
          k = 5, nprobe = 8)
        .orderBy(col("probe_id"), col("rank"))
        .write.format("noop").mode("overwrite").save()
      q13() // warm
      Map("n13_serving" -> math.min(t(() => q13()), t(() => q13())))
    }

    // t22's serving twin: inverted-index artifact built once (untimed),
    // then BM25 from postings only — the pushdown-pruned index read a
    // search SLA pays, vs the whole-corpus tokenize+aggregate in the
    // t22_bm25_topk headline entry.
    val text = family("t22_serving") {
      import graft.operators.Retrieval
      Retrieval.buildPostings(Tables.documents(spark, sfDir), s"$tmp/bm25")
      def q22(): Unit = Retrieval
        .bm25FromPostings(spark, s"$tmp/bm25",
          Seq("dup", "vector", "merge", "scan"), 20)
        .write.format("noop").mode("overwrite").save()
      q22() // warm
      Map("t22_serving" -> math.min(t(() => q22()), t(() => q22())))
    }
    // hybrid serving: BOTH legs from persisted artifacts through the
    // same rrfFuse the t32 headline entry uses — including t32's
    // probe-doc exclusion, so its postings index the corpus MINUS doc 0
    // (a separate artifact from t22's full-corpus index; reusing that
    // one would rank the probe against itself and time a different
    // query shape than the headline)
    val hybrid = family("hybrid_serving") {
      import graft.operators.Retrieval
      Retrieval.buildPostings(
        Tables.documents(spark, sfDir).filter(col("doc_id") =!= 0L),
        s"$tmp/bm25probe")
      // the semantic leg serves from the ann family's artifacts — read
      // by path (absent if that family failed → this one fails too,
      // with its own visible cause)
      val cbR = spark.read.parquet(s"$tmp/codebook")
      val codesR = spark.read.parquet(s"$tmp/codes")
      val cellsR = spark.read.parquet(s"$tmp/cells")
      def qh(): Unit = {
        val lex = Retrieval.lexRank(
          Retrieval.bm25FromPostings(spark, s"$tmp/bm25probe",
            Seq("dup", "vector", "merge", "scan"), 50), probeId = 0L)
        val sem = Similarity.ivfPqTopKFromCodes(
            v.filter(col("vec_id") === 0), v, centroids, cellsR, cbR,
            codesR, k = 50, nprobe = 8)
          .select(col("neighbor_id").as("doc_id"),
            col("rank").as("sem_rank"))
        Retrieval.rrfFuse(lex, sem, k = 20)
          .write.format("noop").mode("overwrite").save()
      }
      qh() // warm
      Map("hybrid_serving" -> math.min(t(() => qh()), t(() => qh())))
    }
    ann ++ sq8 ++ ivfsq8 ++ text ++ hybrid
    } catch { case _: Throwable => Map.empty }
    finally {
      // artifact dirs are embedding-scale parquet — delete on BOTH paths
      // (the failure path is exactly where the leak used to survive);
      // best-effort, a cleanup error must not fail the bench
      try {
        val p = new org.apache.hadoop.fs.Path(tmp)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      } catch { case _: Throwable => () }
    }
  }

  /** Skew-evidence pair (r9 verdict #6): inject a hot key — one group
    * holding 50% of lineitem, the realistic "main pool takes half the
    * trades" DEX shape — and measure the naive plan against the
    * skew-safe one at the same SF.
    *
    * Top-k side: a hot-key window (one task sorts 300k rows at sf0.1)
    * vs [[graft.operators.Relational.topKPerGroupSalted]] (the sort
    * fans out across 32 salt buckets; only k·32 survivors re-rank).
    *
    * Join side: hot-key sort-merge join with AQE skew-split OFF vs ON.
    * Broadcast is disabled for the pair — at 100 TB the build side
    * (orders) is nowhere near broadcastable, so SMJ is the honest
    * shape; at THIS sf the skewed partition is ~15 MB, far below AQE's
    * 256 MB default split threshold, so the pinned configs
    * (skewedPartitionThresholdInBytes/advisoryPartitionSizeInBytes/
    * skewedPartitionFactor) are scaled down proportionally — the same
    * knobs, the same ratio to partition size, that the defaults give a
    * real cluster. PLANS.md records the mapping.
    */
  private def skewTimes(spark: SparkSession, sfDir: String)
      : Map[String, Double] = try {
    import org.apache.spark.sql.functions._
    import graft.operators.Relational
    val li = Tables.lineitem(spark, sfDir)
      .select(
        when(col("l_orderkey") % 2 === 0, lit(1L))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val ord = Seq(col("l_extendedprice").desc, col("l_orderkey"),
      col("l_linenumber"))
    def tkNaive(): Unit =
      Relational.topKPerGroup(li, Seq("k"), ord, 10)
        .write.format("noop").mode("overwrite").save()
    def tkSalted(): Unit =
      Relational.topKPerGroupSalted(li, Seq("k"), ord, 10, 32)
        .write.format("noop").mode("overwrite").save()
    val orders = Tables.orders(spark, sfDir)
    def join(): Unit =
      li.join(orders, li("k") === orders("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("v"))
        .write.format("noop").mode("overwrite").save()
    def t(fn: () => Unit): Double = {
      val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e9
    }
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // sf-scaled pins: hot partition ~15 MB here vs 256 MB/64 MB
      // defaults on a cluster — same factor-of-N-over-median trigger
      conf.set("spark.sql.adaptive.skewJoin" +
        ".skewedPartitionThresholdInBytes", "4MB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2MB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      tkNaive(); tkSalted() // warm
      val topk = Map(
        "skew_topk_naive" -> math.min(t(() => tkNaive()), t(() => tkNaive())),
        "skew_topk_salted" ->
          math.min(t(() => tkSalted()), t(() => tkSalted())))
      conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      join() // warm
      val jNaive = math.min(t(() => join()), t(() => join()))
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      join() // warm (AQE re-plans)
      val jAqe = math.min(t(() => join()), t(() => join()))
      topk ++ Map("skew_join_naive" -> jNaive, "skew_join_aqe" -> jAqe)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  } catch { case e: Throwable =>
    System.err.println(s"[graft] skew bench failed: $e")
    Map.empty
  }

  def main(args: Array[String]): Unit = {
    // Bench measures the DEPLOYMENT shape: no query carries a trailing
    // global sort just to canonicalize the oracle hash (the r11 order
    // probe proved the compare row-order-insensitive, and such a sort
    // was the largest distortion on the measured surface: t8 at 100×,
    // 42.9 s sorted vs 14.4 s unsorted). The DuckDB twins strip the
    // oracle's trailing ORDER BY (stripCanonOrder) so the
    // engine-vs-engine comparison stays symmetric; semantic sorts
    // (top-k feeding a limit) are kept on both sides.
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tune.localSession(cpus.toInt, "WARN")
    // Scale-derived shuffle width (see Tune): at sf0.1 this resolves to
    // the core-count floor (identical to the historical fixed 32), at
    // the replica decades it grows with the data — the policy change
    // that keeps the gram/chunk families' sort runs in memory at 1000×.
    val width = Tune.applyShuffleWidth(spark, sfDir)
    System.err.println(s"[graft] shuffle width for $sfDir: $width")
    // Warm-up pass at the smallest SF: JIT-compiles the codegen'd plans so
    // the timed pass below measures steady-state execution, not first-call
    // compilation (the first few queries otherwise absorb multi-second
    // JIT/classload costs regardless of which queries they are).
    SparkEntry.queries.foreach { case (_, fn) =>
      try { fn(spark, "/root/testdata/sf0.001").write.format("noop")
        .mode("overwrite").save() }
      catch { case _: Throwable => () }
    }
    // noop-format write: executes the FULL physical plan (sorts, projections,
    // limits) unlike .count(), which lets Catalyst prune everything but the
    // row count — the round-1 verdict flagged that as under-measurement.
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    def timeAll(): Map[String, Double] = SparkEntry.queries.map {
      case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
        catch { case e: Throwable => errors += name }
        name -> (System.nanoTime() - t0) / 1e9
    }
    // Report the MIN of two timed passes per query. This box shares a
    // host: identical back-to-back runs have measured 77 s vs 362 s
    // totals purely from neighbor contention, and a single pass
    // attributes whichever queries the spike landed on. Min-of-2 measures
    // the code's steady state, not the neighbors' (GC-unlucky or
    // contended samples drop out; a real regression slows BOTH passes).
    // Dispatch-floor sentinel (r13 verdict #5): a fixed trivial query —
    // 5-row parquet scan + scalar count through the same noop sink —
    // timed min-of-2 AFTER warm-up, every round. Two rounds of uniform
    // same-direction drift (r12 +8%, r13 +18%) could not be separated
    // from host noise without a code-independent anchor; now a drifted
    // sentinel says "host", a stable sentinel under drifted queries
    // says "regression".
    def sentinelOnce(): Double = {
      val t0 = System.nanoTime()
      Tables.region(spark, sfDir)
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    sentinelOnce() // warm
    val sentinel = math.min(sentinelOnce(), sentinelOnce())
    val pass1 = timeAll()
    val pass2 = timeAll()
    val results = pass1.map { case (k, v) => k -> math.min(v, pass2(k)) } ++
      servingTimes(spark, sfDir) ++ skewTimes(spark, sfDir)
    // Spark side of the marginal slope: the duck-twin queries re-timed at
    // the small SF (already JIT-warm from the passes above; min-of-2)
    val smallSf = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL",
      "/root/testdata/sf0.01")
    val twinSparkSmall: Map[String, Double] =
      if (smallSf == sfDir) Map.empty
      else {
        // a failed run's elapsed time is meaningless — DROP the entry
        // (its twin slope then filters out below) instead of publishing a
        // bogus spark_small/marginal_ratio. Dropped silently, NOT via
        // `errors`: that list flags failed BENCHMARK queries (whose main
        // time is invalid); a query that only failed its optional small-SF
        // slope sample still carries a valid benched time, and its absence
        // from twin_slopes is the signal.
        def pass(): Map[String, Double] = duckHeadline.flatMap { name =>
          SparkEntry.queries.get(name).flatMap { fn =>
            val t0 = System.nanoTime()
            try {
              fn(spark, smallSf).write.format("noop")
                .mode("overwrite").save()
              Some(name -> (System.nanoTime() - t0) / 1e9)
            } catch { case _: Throwable => None }
          }
        }.toMap
        val p1 = pass(); val p2 = pass()
        p1.flatMap { case (k, v) => p2.get(k).map(k -> math.min(v, _)) }
      }
    val duckSmall =
      if (smallSf == sfDir) Map.empty[String, Double]
      else duckTimes(smallSf)
    // Locale.ROOT: the f-interpolator formats with the JVM default locale,
    // which under e.g. de_DE emits "0,463" and breaks the JSON (r7 advice).
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def ms2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val duck = duckTimes(sfDir)
    val duckJson = duck.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${ms2(v)}""" }
      .mkString("{", ",", "}")
    // marginal slope per twin: Δt over sf_small→sf on each engine, and
    // Spark-over-DuckDB ratio of the slopes (null when EITHER delta sits
    // inside bench jitter — a ratio against noise is meaningless, and a
    // jittery Spark delta can even go negative; errored queries carry a
    // meaningless main time, so they are excluded entirely)
    val slopesJson = duckHeadline
      .filter(k => results.contains(k) && duck.contains(k) &&
        twinSparkSmall.contains(k) && duckSmall.contains(k) &&
        !errors.contains(k))
      .map { k =>
        val ss = results(k) - twinSparkSmall(k)
        val ds = duck(k) - duckSmall(k)
        val ratio = if (math.abs(ds) < 0.01 || math.abs(ss) < 0.01) "null"
          else ms2(ss / ds)
        s""""$k":{"spark_small":${ms(twinSparkSmall(k))},"spark":${ms(results(k))},"duck_small":${ms(duckSmall(k))},"duck":${ms(duck(k))},"spark_slope":${ms(ss)},"duck_slope":${ms(ds)},"marginal_ratio":$ratio}"""
      }.mkString("{", ",", "}")
    val full = (results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""  "$k": ${ms(v)}""" } :+
      s"""  "dispatch_floor_sec": ${ms(sentinel)}""" :+
      s"""  "duckdb_headline": $duckJson""" :+
      s"""  "twin_slopes": $slopesJson""" :+
      s"""  "sf_small": "$smallSf"""")
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_FULL.json"),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // a failed query's time is meaningless — surface it instead of letting
    // a fast failure read as a fast query
    def line(qs: String) =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","sentinel":${ms(sentinel)},"queries":$qs,"duckdb":$duckJson,"nq":${results.size},"full":"BENCH_FULL.json","errors":$errs,"sf":"$sfDir"}"""
    // The collector keeps only the LAST ~2000 chars of the run's output and
    // sbt appends a ~70-char "[success] ..." line after ours, so the whole
    // stdout line (plus sbt's "[info] " prefix) must fit a hard budget or
    // its head gets truncated and the JSON never parses (r2..r7 all did).
    // Take headline entries in order while the projected line still fits.
    val budget = 1750
    val entries = headline.filter(results.contains)
      .map(k => s"\"$k\":${ms2(results(k))}")
    val kept = scala.collection.mutable.ListBuffer.empty[String]
    var len = line("{}").length
    entries.foreach { e =>
      if (len + e.length + 1 <= budget) { kept += e; len += e.length + 1 }
    }
    println(line(kept.mkString("{", ",", "}")))
    spark.stop()
  }
}
