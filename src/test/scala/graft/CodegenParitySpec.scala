package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.Similarity

/** Codegen ↔ interpreted parity for the kernel calls.
  *
  * Every kernel in plans/Expressions.scala is one Spark `StaticInvoke`:
  * under whole-stage codegen Spark emits a direct call of the kernel's
  * static method, and when it evaluates interpreted — wholeStage off,
  * 64 KB method splits, nested-expression fallback — it finds that
  * method by reflection from the argument types. A reflection lookup
  * that resolves a different overload (`ShingleHashKernel.hashes` has
  * two) or an argument that boxes differently would make results depend
  * on which plan shape a query happens to compile into. This spec runs
  * one battery per kernel over the real fixtures under the default
  * codegen session AND under `spark.sql.codegen.factoryMode=NO_CODEGEN` +
  * `spark.sql.codegen.wholeStage=false`, asserting bit-identical rows,
  * and checks that every SQL registration returns what its Column
  * wrapper returns.
  */
class CodegenParitySpec extends AnyFunSuite {

  import SparkTestSession.{spark, sfDir}

  /** Collect `df` under forced-interpreted evaluation, restoring the
    * session's codegen confs afterwards (the session is shared).
    */
  private def collectInterpreted(df: => DataFrame): Seq[String] = {
    val factory = "spark.sql.codegen.factoryMode"
    val whole = "spark.sql.codegen.wholeStage"
    val prevF = spark.conf.getOption(factory)
    val prevW = spark.conf.getOption(whole)
    spark.conf.set(factory, "NO_CODEGEN")
    spark.conf.set(whole, "false")
    try df.collect().map(_.toString).toSeq
    finally {
      prevF.fold(spark.conf.unset(factory))(spark.conf.set(factory, _))
      prevW.fold(spark.conf.unset(whole))(spark.conf.set(whole, _))
    }
  }

  private def assertParity(name: String)(df: => DataFrame): Unit = {
    val gen = df.collect().map(_.toString).toSeq
    val interp = collectInterpreted(df)
    assert(gen.nonEmpty, s"$name produced no rows")
    assert(gen == interp, s"$name: codegen and interpreted rows differ")
  }

  private lazy val docs =
    Tables.documents(spark, sfDir).orderBy("doc_id").limit(200)
  private lazy val embs =
    Tables.embeddings(spark, sfDir).orderBy("vec_id").limit(200)

  test("shingles / minhash signature: codegen == interpreted") {
    assertParity("shingles+minhash") {
      docs.select(col("doc_id"), Text.shingles(col("text"), 3).as("sh"),
        Text.minhashSig(Text.shingleSet(col("text"), 3), 16).as("sig"))
    }
  }

  test("simhash32: codegen == interpreted") {
    assertParity("simhash32") {
      docs.select(col("doc_id"), Text.simhash32(col("text")).as("h"))
    }
  }

  test("text profile (langPredict + qualityScore): codegen == interpreted") {
    assertParity("textProfile") {
      docs.select(col("doc_id"), Text.langPredict(col("text")).as("lang"),
        Text.qualityScore(col("text")).as("q"))
    }
  }

  test("char n-grams: codegen == interpreted") {
    assertParity("charNgrams") {
      docs.select(col("doc_id"),
        graft.plans.Expressions.charNgrams(Text.normalize(col("text")), 3)
          .as("grams"))
    }
  }

  test("scaled dot product / LSH codes: codegen == interpreted") {
    assertParity("dotScaled+lshCodes") {
      embs.select(col("vec_id"),
        Similarity.dotScaled(col("embedding"), col("embedding")).as("d"),
        Similarity.lshCodes(col("embedding"), 4, 8).as("codes"))
    }
  }

  test("sq8 encode/dequant kernel: codegen == interpreted == the " +
      "Column-form round-trip") {
    import graft.plans.Expressions
    val stats = Similarity.sq8Stats(embs)
    def kernel = embs.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        Expressions.sq8Dequant(
          Expressions.sq8Encode(col("embedding"), col("mns"), col("mxs")),
          col("mns"), col("mxs")).as("dq"))
    assertParity("sq8Encode∘sq8Dequant")(kernel)
    // and the kernel round-trip is bit-identical to the interpreted
    // Column-form transform the n10 oracle was pinned against — the
    // kernel can replace it in the hot path without moving a result
    val viaColumns = embs.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        Similarity.sq8Dequant(col("embedding"), col("mns"), col("mxs"))
          .as("dq"))
      .collect().map(_.toString).toSeq
    assert(kernel.collect().map(_.toString).toSeq == viaColumns)
  }

  test("pq_adc / pq_adc_cos / pack_bytes kernels: codegen == interpreted") {
    import graft.plans.Expressions
    // synthetic geometry: m=4 subspaces × K=8 dense codes, LUT literals,
    // codes derived from vec_id so every row exercises different slots
    val m = 4
    val k = 8
    val lutP = array((0 until m * k).map(i => lit((i * 7 + 3).toLong)): _*)
    val lutC = array((0 until m * k).map(i => lit((i * 11 + 5).toLong)): _*)
    assertParity("pqAdc+pqAdcCos+packBytes") {
      embs.select(col("vec_id"),
          Expressions.packBytes(array((0 until m).map(j =>
            pmod(col("vec_id") + lit(j), lit(k.toLong))): _*)).as("pc"))
        .select(col("vec_id"),
          Expressions.pqAdc(col("pc"), lutP, lutC).as("ar"),
          Expressions.pqAdcCos(col("pc"), lutP, lutC,
            col("vec_id") + lit(1L)).as("ac"))
    }
  }

  test("text kernels (normalize, shingle hashes, feature buckets, md5 " +
      "bucket): codegen == interpreted") {
    import graft.plans.Expressions
    assertParity("normalizeText+shingleHashes+buckets") {
      docs.select(col("doc_id"),
        Expressions.normalizeText(col("text")).as("norm"),
        Expressions.shingleHashes(col("text"), 3).as("h1"),
        Expressions.shingleHashes(col("text"), 3, 3).as("h3"),
        Expressions.featureBuckets(col("text"), 1024).as("fb"),
        Expressions.xxFeatureBuckets(col("text"), 1000).as("xfb"),
        Expressions.md5Bucket(col("text"), 4096).as("mb"))
    }
  }

  test("cdc ends / chunk rows: codegen == interpreted") {
    import graft.plans.Expressions
    assertParity("cdcEnds+cdcChunkRows") {
      docs.select(col("doc_id"),
        Expressions.cdcEnds(Text.normalize(col("text")), 8).as("ends"),
        Expressions.cdcChunkRows(Text.normalize(col("text")), 8).as("rows"))
    }
  }

  test("pair combos: codegen == interpreted") {
    import graft.plans.Expressions
    assertParity("pairCombos") {
      docs.groupBy((col("doc_id") % 8).as("g"))
        .agg(collect_list(col("doc_id")).as("ids"))
        .select(col("g"), Expressions.pairCombos(col("ids")).as("p"))
        .orderBy("g")
    }
  }

  test("pq assign codes: codegen == interpreted") {
    import graft.plans.{Expressions, PqAssignBook}
    // synthetic codebook: m=4 subspaces of 4 dims, 8 codewords each
    val (m, sub, k) = (4, 4, 8)
    val rnd = new scala.util.Random(7)
    val words = Array.fill(m, k, sub)(rnd.nextFloat() - 0.5f)
    val book = PqAssignBook(m, sub,
      Array.fill(m)(Array.tabulate(k)(_.toLong)), words,
      words.map(_.map(_.map(x =>
        math.floor(x.toDouble * x.toDouble * 1e16).toLong).sum)))
    assertParity("pqAssignCodes") {
      embs.select(col("vec_id"),
        Expressions.pqAssignCodes(col("embedding"), book).as("codes"))
    }
  }

  test("every SQL registration returns what its Column wrapper returns") {
    import graft.plans.{Expressions => E, GraftExtensions, HeavyHittersAgg}
    GraftExtensions.register(spark)
    val lut = (f: Int => Long) => array((0 until 32).map(i => lit(f(i))): _*)
    // the document twice over, so every shingle repeats and the
    // distinct/non-distinct shingle forms differ
    val fx = docs.limit(1).crossJoin(embs.select("embedding").limit(1))
      .withColumn("text", concat_ws(" ", col("text"), col("text")))
      .select(col("doc_id"), col("text"), col("embedding"),
        split(Text.normalize(col("text")), " ").as("words"),
        Text.shingleSet(col("text"), 3).as("sh"),
        array(lit(1L), lit(3L), lit(0L), lit(7L)).as("dense"),
        lut(i => i * 7L + 3).as("pdot"), lut(i => i * 11L + 5).as("cn"),
        lit(5L).as("pn"))
      .withColumn("pc", E.packBytes(col("dense")))
    fx.createOrReplaceTempView("kernel_fx")
    val cases: Map[String, (String, org.apache.spark.sql.Column)] = Map(
      "dot_scaled" -> ("dot_scaled(embedding, embedding)" ->
        E.dotScaled(col("embedding"), col("embedding"))),
      "minhash_sig" -> ("minhash_sig(sh, 16)" -> E.minhashSig(col("sh"), 16)),
      "shingles" -> ("shingles(text, 3)" -> E.shingles(col("text"), 3, true)),
      "simhash32" -> ("simhash32(words)" -> E.simhash32(col("words"))),
      "lsh_codes" -> ("lsh_codes(embedding, 4, 8)" ->
        E.lshCodes(col("embedding"), 4, 8)),
      "char_ngrams" -> ("char_ngrams(text, 3)" -> E.charNgrams(col("text"), 3)),
      "text_profile" -> ("text_profile(text, 'the', 'a')" ->
        E.textProfile(col("text"), Seq("the", "a"))),
      "pq_adc" -> ("pq_adc(pc, pdot, cn)" ->
        E.pqAdc(col("pc"), col("pdot"), col("cn"))),
      "pq_adc_cos" -> ("pq_adc_cos(pc, pdot, cn, pn)" ->
        E.pqAdcCos(col("pc"), col("pdot"), col("cn"), col("pn"))),
      "pack_bytes" -> ("pack_bytes(dense)" -> E.packBytes(col("dense"))),
      "heavy_hitters" -> ("heavy_hitters(doc_id, 4)" ->
        HeavyHittersAgg.heavyHitters(col("doc_id"), 4)),
      "cdc_ends" -> ("cdc_ends(text, 8)" -> E.cdcEnds(col("text"), 8)),
      "normalize_text" -> ("normalize_text(text)" ->
        E.normalizeText(col("text"))),
      "shingle_hashes" -> ("shingle_hashes(text, 3)" ->
        E.shingleHashes(col("text"), 3)))
    assert(cases.keySet == GraftExtensions.injections.map(_._1.funcName).toSet)
    def value(df: DataFrame): Any = df.head.get(0) match {
      case b: Array[Byte] => b.toSeq
      case v => v
    }
    cases.toSeq.sortBy(_._1).foreach { case (name, (sql, c)) =>
      val viaSql = value(spark.sql(s"SELECT $sql FROM kernel_fx"))
      assert(viaSql != null, s"$name returned NULL on the fixture row")
      assert(viaSql == value(fx.select(c)),
        s"$name: SQL and Column wrapper results differ")
    }
  }
}
