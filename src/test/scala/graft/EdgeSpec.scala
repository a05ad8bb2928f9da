package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Ohlcv, Similarity}

/** Empty/degenerate-input behavior: operators must return empty frames
  * (with the right schema), not throw — at 100 TB a partition, a time
  * window, or a filtered source being empty is routine, not exceptional.
  */
class EdgeSpec extends AnyFunSuite {

  import SparkTestSession.spark
  import spark.implicits._

  private val noTicks = Seq.empty[(String, Long, Long, Double, Double)]
    .toDF("key", "tsec", "ord", "price", "vol")
    .select(col("key"), timestamp_seconds(col("tsec")).as("ts"),
      col("ord"), col("price"), col("vol"))

  private val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  private val noVecs = Seq.empty[(Long, Array[Float])]
    .toDF("vec_id", "embedding")

  test("candle engine on empty input: empty candles, fills, resample") {
    val c = Ohlcv.candles(noTicks, Seq("key"), col("ts"), col("ord"),
      col("price"), col("vol"), 60L)
    assert(c.count() == 0)
    assert(Ohlcv.resample(c, Seq("key"), 300L).count() == 0)
    assert(Ohlcv.withPrevCloseOpen(c, Seq("key")).count() == 0)
    assert(Ohlcv.gapFill(c, Seq("key"), 60L, "prev").count() == 0)
  }

  test("forming bar: empty input, all-forming, and all-closed degenerate cases") {
    val fine = Ohlcv.candles(noTicks, Seq("key"), col("ts"), col("ord"),
      col("price"), col("vol"), 60L)
    // empty fine frame: both branches empty, schema intact
    val empty = Ohlcv.withFormingBar(fine, Seq("key"), 3600L, 7200L)
    assert(empty.count() == 0)
    assert(empty.columns.contains("forming"))
    // every candle inside the forming bucket → exactly one forming row
    val oneBucket = Ohlcv.candles(
      Seq(("k", 30L, 1L, 5.0, 1.0), ("k", 90L, 2L, 7.0, 1.0))
        .toDF("key", "tsec", "ord", "price", "vol")
        .select(col("key"), timestamp_seconds(col("tsec")).as("ts"),
          col("ord"), col("price"), col("vol")),
      Seq("key"), col("ts"), col("ord"), col("price"), col("vol"), 60L)
    val allForming = Ohlcv.withFormingBar(oneBucket, Seq("key"), 3600L, 100L)
      .collect()
    assert(allForming.length == 1 &&
      allForming.head.getAs[Boolean]("forming"))
    // asOf one step past the data → everything closed, no forming row
    val allClosed = Ohlcv.withFormingBar(oneBucket, Seq("key"), 3600L, 3700L)
      .collect()
    assert(allClosed.length == 1 &&
      !allClosed.head.getAs[Boolean]("forming"))
  }

  test("dedup on empty corpus: no groups, no pairs") {
    assert(Dedup.exactDedup(noDocs).count() == 0)
    assert(Dedup.jaccardBruteForce(noDocs, 3, 0.5).count() == 0)
    assert(Dedup.minhashNearDup(noDocs, 3, 0.8).count() == 0)
  }

  test("short documents (fewer words than the shingle width) yield no shingles") {
    val short = Seq((1L, "only two")).toDF("doc_id", "text")
    val sh = short.select(graft.functions.Text.shingleSet(col("text"), 3))
      .head.getSeq[String](0)
    assert(sh.isEmpty)
    // and therefore no pairs, rather than an error
    assert(Dedup.jaccardBruteForce(short, 3, 0.1).count() == 0)
  }

  test("substringRuns on empty/short/self-similar input returns empty, " +
      "not errors") {
    assert(Dedup.substringRuns(noDocs, 5, 10).count() == 0)
    // below the gram width: no positional grams, no pairs
    val short = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.substringRuns(short, 5, 10).count() == 0)
    // a doc repeating its own text never pairs with itself (doc_a < doc_b)
    val self = Seq((1L, ((1 to 15) ++ (1 to 15)).map(i => s"w$i")
      .mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.substringRuns(self, 5, 10).count() == 0)
  }

  test("ANN with empty probe/candidate sides returns empty") {
    assert(Similarity.bruteForceTopK(noVecs, noVecs, 5).count() == 0)
    assert(Similarity.lshTopK(noVecs, noVecs, 5).count() == 0)
    assert(Similarity.cosinePairs(noVecs, 0.5).count() == 0)
  }

  test("kNN graph, graph groups, and boilerplate profile on empty " +
      "input return empty, not errors") {
    assert(Similarity.knnGraph(noVecs, 5).count() == 0)
    assert(Dedup.embeddingGraphGroups(noVecs, 5, 0.3).count() == 0)
    val noSrcDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "source", "text")
    assert(Dedup.boilerplateProfile(noSrcDocs, 2, 3).count() == 0)
  }

  test("served PQ searches with an EMPTY probe batch return empty — " +
      "geometry comes from the codebook, not probes.head()") {
    val vecs = Tables.embeddings(spark, SparkTestSession.sfDir)
    val centroids = vecs.filter(col("vec_id") % 50 === 0)
    val cb = Similarity.pqTrain(vecs, m = 8, iters = 1)
    val codes = Similarity.pqEncode(vecs, cb)
    val emptyProbes = vecs.filter(col("vec_id") < 0)
    assert(Similarity.pqTopKFromCodes(
      emptyProbes, vecs, cb, codes, k = 5).count() == 0)
    assert(Similarity.ivfPqTopKFromCodes(
      emptyProbes, vecs, centroids, Similarity.ivfCells(vecs, centroids),
      cb, codes, k = 5, nprobe = 8).count() == 0)
  }

  test("SQ8 search with empty probes serves empty; filtered ANN under " +
      "an impossible predicate serves empty — not errors") {
    val vecs = Tables.embeddings(spark, SparkTestSession.sfDir)
    val emptyProbes = vecs.filter(col("vec_id") < 0)
    assert(Similarity.sq8TopK(emptyProbes, vecs, 5).count() == 0)
    val stats = Similarity.sq8Stats(vecs)
    assert(Similarity.sq8TopKFromCodes(emptyProbes, stats,
      Similarity.sq8Encode(vecs, stats), 5).count() == 0)
    // a predicate matching nothing: k-starved is empty, never a throw
    assert(Similarity.ivfTopK(vecs.filter(col("vec_id") < 10),
      vecs.filter(col("label") < 0),
      centroids = vecs.filter(col("vec_id") % 50 === 0),
      k = 5, nprobe = 8).count() == 0)
  }

  test("hybrid RRF with terms absent from the corpus degrades to the " +
      "semantic leg alone (full-outer fusion, lexical ranks all null)") {
    import graft.operators.Retrieval
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val vecs = Tables.embeddings(spark, SparkTestSession.sfDir)
    val got = Retrieval.hybridRrfTopK(docs,
      Seq("zzznosuchtoken", "qqqneverappears"), vecs,
      probeId = 0L, k = 10).collect()
    assert(got.length == 10)
    assert(got.forall(_.isNullAt(1)))   // no lexical rank anywhere
    assert(got.forall(r => !r.isNullAt(2)))
    // scores are pure sem-leg reciprocals: 1/(60+sem_rank)
    got.foreach { r =>
      val want = 1.0 / (60 + r.getLong(2))
      assert(math.abs(r.getDouble(3) - want) <= 5e-5)
    }
  }

  test("saltedAggregate on an empty frame: empty result, schema intact") {
    val empty = Seq.empty[(String, Double)].toDF("k", "v")
    val out = graft.operators.Relational.saltedAggregate(
      empty, Seq("k"), saltBuckets = 8,
      partials = Seq(
        ("n", count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c)),
        ("hi", max(col("v")), (c: org.apache.spark.sql.Column) => max(c))))
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("k", "n", "hi"))
  }

  test("DSIR weights on an empty corpus: empty result, schema intact") {
    val got = graft.operators.Selection.dsirWeights(noDocs,
      isTarget = lit(false),
      hash = graft.operators.Selection.md5Bucket(1024))
    assert(got.collect().isEmpty)
    assert(got.columns.toSeq ==
      Seq("doc_id", "n_feat", "score_bits", "avg_bits", "keep"))
  }

  test("training-shard export of an empty frame: empty manifest, " +
      "no crash (all-rows-filtered gate is routine)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-shards-empty").toString + "/out"
    val manifest = graft.sources.Sinks.writeTrainingShards(
      Seq.empty[(Long, Long)].toDF("doc_id", "n_chars"),
      dir, "doc_id", "n_chars", 4)
    assert(manifest.collect().isEmpty)
    assert(manifest.columns.toSeq == Seq("shard", "n_rows", "n_tokens"))
  }

  test("partition retention / keyed delete degenerate cases") {
    // nonexistent path: nothing to drop, no exception
    assert(graft.sources.Sinks.dropPartitionsOlderThan(
      spark, "/tmp/graft-no-such-dir", "month", "2024-01") == 0)
    // delete-all leaves a READABLE empty table, not a missing one
    val dir = java.nio.file.Files.createTempDirectory("graft-delall")
      .resolve("t").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(dir)
    graft.sources.Sinks.deleteWhere(spark, dir, lit(true))
    assert(spark.read.parquet(dir).count() == 0)
    assert(spark.read.parquet(dir).columns.toSeq == Seq("id", "v"))
  }

  test("GraftExtensions wires kernels, TVF, and the as-of strategy into " +
      "a session built the way a deployment would") {
    // the production entry point: a deployment enables the extensions
    // class and gets the whole surface — scalar kernels, the asof_join
    // table function, the planner strategy, and the pushdown rule — with
    // no code calls. EdgeSpec's other tests cover the runtime
    // register(spark) path; this one drives the SparkSessionExtensions
    // injection. (The equivalent `spark.sql.extensions` conf string is
    // read from the SparkContext's conf at context creation, so it cannot
    // be exercised against this suite's shared context — withExtensions
    // applies the same class through the same injection API.)
    val orig = SparkTestSession.spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.plans.GraftExtensions)
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
      assert(s2 ne orig) // a NEW session (same context), extensions applied
      assert(s2.sql("SELECT dot_scaled(array(cast(1.0 as float), " +
        "cast(2.0 as float)), array(cast(3.0 as float), " +
        "cast(0.5 as float)))").head.getLong(0) == 4L * 1e16.toLong)
      s2.sql("CREATE OR REPLACE TEMP VIEW ext_f AS " +
        "SELECT * FROM VALUES (1, 10), (1, 20) AS t(k, t)")
      s2.sql("CREATE OR REPLACE TEMP VIEW ext_r AS " +
        "SELECT rk, rt, CAST(v AS DOUBLE) AS v " +
        "FROM VALUES (1, 5, 1.5), (1, 15, 2.5) AS t(rk, rt, v)")
      val got = s2.sql("SELECT t, v FROM asof_join(TABLE(ext_f), " +
        "TABLE(ext_r), 'k', 'rk', 't', 'rt')")
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
      assert(got == Set((10, 1.5), (20, 2.5)))
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(orig)
      org.apache.spark.sql.SparkSession.setActiveSession(orig)
    }
  }

  test("updateWhere degenerate cases: NULL predicate leaves rows, empty " +
      "assignments no-op, predicate reads a column it assigns") {
    val dir = java.nio.file.Files.createTempDirectory("graft-updw")
      .resolve("t").toString
    Seq((1L, "a", 10L), (2L, null.asInstanceOf[String], 20L),
      (3L, "c", 30L)).toDF("id", "note", "n")
      .write.parquet(dir)
    def rows() = spark.read.parquet(dir).select("id", "note", "n")
      .as[(Long, String, Long)].collect().toSet
    // SQL UPDATE semantics: a NULL predicate (note = 'a' on a null note)
    // must NOT match — row 2 keeps its value
    graft.sources.Sinks.updateWhere(spark, dir, col("note") === "a",
      Map("n" -> lit(99L)))
    assert(rows() == Set((1L, "a", 99L), (2L, null, 20L), (3L, "c", 30L)))
    // empty assignments: a no-op rewrite, table intact
    graft.sources.Sinks.updateWhere(spark, dir, lit(true),
      Map.empty[String, org.apache.spark.sql.Column])
    assert(rows() == Set((1L, "a", 99L), (2L, null, 20L), (3L, "c", 30L)))
    // predicate evaluated against PRE-update values: n := n + 1 WHERE
    // n = 30 bumps row 3 exactly once — assigning the predicate's own
    // column can't cascade into re-matching
    graft.sources.Sinks.updateWhere(spark, dir, col("n") === 30L,
      Map("n" -> (col("n") + 1L)))
    assert(rows() == Set((1L, "a", 99L), (2L, null, 20L), (3L, "c", 31L)))
    // SQL UPDATE evaluates ALL assignment RHS against pre-update values:
    // SET note=n, n=note on row 1 swaps (note="99", n fails cast → null is
    // not the shape here; use two bigint-compatible columns instead)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-updw2")
      .resolve("t").toString
    Seq((1L, 10L, 20L)).toDF("id", "a", "b").write.parquet(dir2)
    graft.sources.Sinks.updateWhere(spark, dir2, lit(true),
      Map("a" -> col("b"), "b" -> col("a")))
    assert(spark.read.parquet(dir2).select("id", "a", "b")
      .as[(Long, Long, Long)].collect().toSet == Set((1L, 20L, 10L)))
    // SQL UPDATE errors on an unknown column — a typo'd PATCH must fail
    // loudly, not silently rewrite the table unchanged
    val e = intercept[IllegalArgumentException](
      graft.sources.Sinks.updateWhere(spark, dir2, lit(true),
        Map("nope" -> lit(1L))))
    assert(e.getMessage.contains("no such column"))
  }

  test("char_ngrams: sliding codepoint windows, empty below n, multibyte") {
    def grams(t: String, n: Int): Seq[String] =
      Seq(Tuple1(t)).toDF("t")
        .select(graft.plans.Expressions.charNgrams(col("t"), n))
        .head.getSeq[String](0)
    assert(grams("abcd", 3) == Seq("abc", "bcd"))
    assert(grams("abc", 3) == Seq("abc"))
    assert(grams("ab", 3) == Seq.empty)
    assert(grams("", 3) == Seq.empty)
    // multibyte codepoints count as one character, as in SQL substr
    assert(grams("über", 3) == Seq("übe", "ber"))
    assert(grams("日本語だ", 2) == Seq("日本", "本語", "語だ"))
  }

  test("kernel scalar args are validated at analysis time, not mid-job") {
    import graft.plans.Expressions
    val doc = Seq(Tuple1("some text")).toDF("t")
    val vec = Seq(Tuple1(Array(1f, 2f))).toDF("emb")
    def analysisError(df: => org.apache.spark.sql.DataFrame): String =
      intercept[Exception](df.collect()).getMessage
    assert(analysisError(doc.select(Expressions.charNgrams(col("t"), 0)))
      .contains("must be >= 1"))
    assert(analysisError(doc.select(Expressions.shingles(col("t"), -1, true)))
      .contains("must be >= 1"))
    assert(analysisError(
      doc.select(Expressions.minhashSig(split(col("t"), " "), 0)))
      .contains("must be >= 1"))
    assert(analysisError(vec.select(Expressions.lshCodes(col("emb"), 0, 8)))
      .contains("tables must be >= 1"))
    assert(analysisError(vec.select(Expressions.lshCodes(col("emb"), 2, 64)))
      .contains("bits must be in [1, 63]"))
    // the SQL registration path hits the same check
    graft.plans.GraftExtensions.register(spark)
    assert(intercept[Exception](
      spark.sql("SELECT char_ngrams('abc', 0)").collect())
      .getMessage.contains("must be >= 1"))
    // text_profile round-trips through SQL with varargs markers
    val prof = spark.sql(
      "SELECT text_profile('the cat the dog', 'the', 'cat').counts")
      .head.getSeq[Int](0)
    assert(prof == Seq(2, 1))
    assert(intercept[Exception](
      spark.sql("SELECT text_profile('abc')").collect())
      .getMessage.contains("non-empty"))
    // scalar args to the SQL builders are evaluated at build time, so a
    // non-foldable (column-ref) or NULL marker must fail with a named
    // error, not an unbound-eval NPE (r6 review)
    def chainMsg(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    spark.range(1).selectExpr("'the' AS c").createOrReplaceTempView("edge_tp")
    assert(chainMsg(intercept[Exception](
      spark.sql("SELECT text_profile('abc', c) FROM edge_tp").collect()))
      .contains("foldable"))
    assert(chainMsg(intercept[Exception](
      spark.sql("SELECT text_profile('abc', CAST(NULL AS STRING))")
        .collect())).contains("NULL"))
    // and valid args still work
    assert(vec.select(Expressions.lshCodes(col("emb"), 2, 16))
      .head.getSeq[Long](0).length == 2)
  }

  test("m2/m4 media decode: null text rows are filtered (not an " +
      "executor NPE), empty text still decodes") {
    // drive the REAL query entries against a synthetic fixture dir —
    // the decode-only-present contract both oracles spell as
    // WHERE text IS NOT NULL
    val dir = java.nio.file.Files.createTempDirectory("graft-media-edge")
      .toString
    Seq((1L, "hello world", "en", "src1", 11L),
        (2L, null.asInstanceOf[String], "en", "src1", 0L),
        (3L, "", "de", "src2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val m2 = SparkEntry.queries("m2_media_extract")(spark, dir)
      .orderBy(col("doc_id")).collect()
    assert(m2.map(_.getLong(0)).toSeq == Seq(1L, 3L)) // null doc dropped
    assert(m2.forall(_.getBoolean(5))) // decode_ok incl. empty text
    val m4 = SparkEntry.queries("m4_media_resize")(spark, dir)
      .orderBy(col("doc_id")).collect()
    assert(m4.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(m4.forall(_.getBoolean(5)))
    // fit-to-224: the long side is exactly 224 on every row
    assert(m4.forall(r => math.max(r.getLong(3), r.getLong(4)) == 224L))
  }

  test("time-anchored builders on zero-row tables: empty results, " +
      "schema intact") {
    // max() of an empty table is NULL: the anchor is None, never an NPE
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-tables")
      .toString
    Tables.names.foreach { t =>
      spark.read.parquet(s"${SparkTestSession.sfDir}/$t.parquet").limit(0)
        .write.parquet(s"$dir/$t.parquet")
    }
    Seq("api3_ohlcv_route", "p2_time_window", "w11_forming_bar",
        "o5_gainers", "w6_pct_change", "a11_token_matrix", "api1_token_list",
        "api4_token_detail", "f11_security_score", "a14_multi_bucket",
        "a16_avg_window").foreach { n =>
      def columns(d: String) = SparkEntry.queries(n)(spark, d).schema
        .map(f => f.name -> f.dataType)
      val got = SparkEntry.queries(n)(spark, dir)
      assert(got.collect().isEmpty, n)
      assert(columns(dir) == columns(SparkTestSession.sfDir), n)
    }
  }
}
