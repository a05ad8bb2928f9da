package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.Dedup

/** Dedup operator tests: shingling semantics, exact-dedup normalization,
  * planted near-dup recovery, and the load-bearing property behind the
  * d2 oracle — MinHash-LSH banding finds exactly the brute-force pair set
  * at the 0.8 threshold on the driver fixture.
  */
class DedupSpec extends AnyFunSuite {

  import SparkTestSession.{spark, sfDir}
  import spark.implicits._

  test("CdcKernel.ends: the zero-alloc single-block MD5 is bit-identical " +
      "to library md5 on the ASCII fast path, unicode fallback included") {
    // (r15) the boundary kernel hand-rolls one-block MD5 to kill the
    // per-window digest allocation (one per corpus CHARACTER — the
    // GC-bound stage tools/CdcAudit measured at 1000×); the boundary
    // rule must stay EXACTLY substring(md5(window),1,1)='0' because the
    // DuckDB twin replays library md5 verbatim
    val md = java.security.MessageDigest.getInstance("MD5")
    def reference(s: String, w: Int): Seq[Int] = {
      val cps = s.codePointCount(0, s.length)
      (0 until math.max(0, cps - w + 1)).flatMap { i =>
        val a = s.offsetByCodePoints(0, i)
        val b = s.offsetByCodePoints(0, i + w)
        md.reset()
        val dg = md.digest(s.substring(a, b).getBytes("UTF-8"))
        if ((dg(0) & 0xf0) == 0) Some(i + w) else None
      }
    }
    val rnd = new scala.util.Random(7)
    val samples = (1 to 60).map(_ =>
      rnd.alphanumeric.take(rnd.nextInt(400)).mkString + " tail words") ++
      Seq("", "ab", "exactly8", // shorter than / equal to the window
        "ünïcödé çhünks then a long ascii tail abcdefghijklmnop",
        "日本語テキストの境界スキャン mixed with ascii")
    for (s <- samples; w <- Seq(2, 8, 55)) {
      val got = graft.plans.CdcKernel
        .ends(org.apache.spark.unsafe.types.UTF8String.fromString(s), w)
        .toIntArray().toSeq
      assert(got == reference(s, w), s"mismatch for '${s.take(40)}' w=$w")
    }
  }

  test("CdcChunkKernel rows == the retired starts/posexplode/md5(substr) " +
      "chain, field-identical, ASCII and unicode") {
    // (r16) cdcChunks is one fused kernel; the DuckDB twin still replays
    // the starts arithmetic + md5(substr) verbatim, so the kernel must
    // reproduce the chain EXACTLY — chunk_ix, 1-based code-point start,
    // len, lowercase-hex md5 over the chunk's UTF-8 bytes
    val rnd = new scala.util.Random(11)
    val samples = (1 to 40).map(_ =>
      (1 to rnd.nextInt(60)).map(_ =>
        rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString)
        .mkString(" ")) ++
      Seq("", "ab", "exactly8", "  padded   whitespace  text here ",
        "ünïcödé çhünks then a long ascii tail abcdefghijklmnop qrs tuv",
        "日本語テキストの境界スキャン mixed with ascii words for chunks")
    for (w <- Seq(2, 8)) {
      val df = samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val kernel = Dedup.cdcChunks(df, w)
        .as[(Long, Long, Long, Long, String)].collect().toSet
      val nrm = df.select(col("doc_id"), Text.normalize(col("text")).as("t"))
      val chain = nrm
        .select(col("doc_id"), col("t"),
          concat(array(lit(1)),
            transform(graft.plans.Expressions.cdcEnds(col("t"), w),
              e => e + 1)).as("starts"))
        .select(col("doc_id"), col("t"), col("starts"),
          posexplode_outer(col("starts")))
        .withColumn("nxt",
          coalesce(try_element_at(col("starts"), col("pos") + 2),
            length(col("t")) + 1))
        .filter(col("nxt") > col("col"))
        .select(col("doc_id"), col("pos").cast("long"),
          col("col").cast("long"), (col("nxt") - col("col")).cast("long"),
          md5(col("t").substr(col("col"), col("nxt") - col("col"))))
        .as[(Long, Long, Long, Long, String)].collect().toSet
      assert(kernel == chain, s"kernel != chain at w=$w")
      assert(kernel.nonEmpty)
    }
  }

  test("cdcNearDup aggregate-explode == the fingerprint self-join, " +
      "and PairCombosKernel emits sorted a<b combinations") {
    // (r17) the capped branch replaced the fp self-join (whose two sides
    // each re-ran the whole chunk chain — ReuseExchange never fired)
    // with collect_list + the codegen'd pair-combos kernel. Same pair
    // multiset by construction; pinned here against the retired join
    // form on the fixture, plus the planted-dup recovery below.
    val docs = Tables.documents(spark, sfDir)
    def selfJoinForm(cap: Int, minShared: Int) = {
      val ch = Dedup.cdcChunks(docs, 8)
        .select(col("doc_id"), unhex(col("chunk_fp")).as("chunk_fp"))
        .distinct()
      val bounded = ch.withColumn("nd", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("chunk_fp"))))
        .filter(col("nd") <= cap)
        .select(col("doc_id"), col("chunk_fp"))
      bounded.as("a")
        .join(bounded.as("b"),
          col("a.chunk_fp") === col("b.chunk_fp") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("shared_chunks"))
        .filter(col("shared_chunks") >= minShared)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    for ((cap, ms) <- Seq((16, 3), (4, 1))) {
      assert(rows(Dedup.cdcNearDup(docs, 8, ms, Some(cap))) ==
        rows(selfJoinForm(cap, ms)), s"shape mismatch at cap=$cap ms=$ms")
    }
    // kernel: unsorted input, deterministic sorted pairs
    val got = graft.plans.PairCombosKernel.pairs(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](7L, 2L, 9L, 4L)))
    val pairs = (0 until got.numElements()).map { i =>
      val r = got.getStruct(i, 2); (r.getLong(0), r.getLong(1)) }
    assert(pairs == Seq((2L, 4L), (2L, 7L), (2L, 9L), (4L, 7L),
      (4L, 9L), (7L, 9L)))
    assert(graft.plans.PairCombosKernel.pairs(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](5L))).numElements() == 0)
  }

  test("shingleSet builds distinct space-joined word n-grams") {
    val got = Seq("The  quick quick Brown fox").toDF("text")
      .select(Text.shingleSet(col("text"), 3).as("sh"))
      .head.getSeq[String](0).toSet
    assert(got == Set("the quick quick", "quick quick brown",
      "quick brown fox"))
  }

  test("exactDedup groups case/whitespace variants, keeps first doc_id") {
    val docs = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "HELLO WORLD "),
      (4L, "something else")).toDF("doc_id", "text")
    val got = Dedup.exactDedup(docs)
      .select("keep_doc_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L), (4L, 1L)))
  }

  test("minhashNearDup recovers a planted near-dup and skips unrelated") {
    val w = (1 to 40).map(i => s"w$i")
    val doc1 = w.mkString(" ")
    val doc2 = (w.updated(20, "CHANGED")).mkString(" ") // 1 word of 40 differs
    val doc3 = (1 to 40).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDup(docs, n = 3, theta = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("LSH pair set == brute-force pair set at theta=0.8 on sf0.001") {
    val docs = Tables.documents(spark, sfDir)
    val lsh = Dedup.minhashNearDup(docs, 3, 0.8)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val brute = Dedup.jaccardBruteForce(docs, 3, 0.8)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh == brute)
    assert(lsh.nonEmpty) // the fixture plants near-dups; empty = broken
  }

  test("maxBucket drops only mega-bucket pairs; near-dups re-found via other bands") {
    // 30 docs sharing one boilerplate sentence (a hot bucket in SOME
    // bands) + a planted near-identical pair with unique text
    val boiler = "all rights reserved contact us terms of service apply"
    val docs = ((1 to 30).map(i =>
        (i.toLong, s"$boiler unique filler number $i item ${i * 7} end")) ++
      Seq((100L, "a very specific document about spark shuffles and sorts"),
          (101L, "a very specific document about spark shuffles and sort")))
      .toDF("doc_id", "text")
    val sf = Dedup.shingleFrame(docs, 3)
    val uncapped = Dedup.minhashCandidates(sf, 128, 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashCandidates(sf, 128, 32, maxBucket = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the planted pair never lands in a 30-doc boilerplate bucket on ALL
    // 32 bands — the cap must keep it
    assert(capped.contains((100L, 101L)))
    // the guard only ever shrinks the candidate set
    assert(capped.subsetOf(uncapped))
  }

  test("connectedComponents matches a union-find reference on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // driver-side union-find reference
    def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val edgeGen = for {
      n <- Gen.choose(0, 30)
      es <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 20L), Gen.choose(0L, 20L)))
    } yield es.filter(e => e._1 != e._2)
    (1 to 12).foreach { i =>
      val edges = edgeGen.apply(Gen.Parameters.default, Seed(i.toLong)).get
      val want = ufComponents(edges)
      if (edges.nonEmpty) {
        val df = edges.toDF("doc_a", "doc_b")
        assert(Dedup.connectedComponents(df)
          .as[(Long, Long)].collect().toMap == want, s"min-label: $edges")
        assert(Dedup.connectedComponentsLargeStar(df)
          .as[(Long, Long)].collect().toMap == want, s"LS/SS: $edges")
      }
    }
    // long chain: the worst case for propagation rounds — still exact
    val chain = (0L until 12L).map(i => (i, i + 1))
    val gotChain = Dedup.connectedComponents(chain.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(gotChain == (0L to 12L).map(_ -> 0L).toMap)
  }

  test("r16 driver-local CC gate ≡ the distributed min-label loop") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // the default route takes the driver-local union-find below the
    // edge bound; minLabelComponents is the distributed loop it takes
    // above it — both must land the identical component-min fixpoint
    val edgeGen = for {
      n <- Gen.choose(1, 40)
      es <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 25L)))
    } yield es.filter(e => e._1 != e._2)
    (1 to 8).foreach { i =>
      val edges = edgeGen.apply(Gen.Parameters.default, Seed(100L + i)).get
      if (edges.nonEmpty) {
        val df = edges.toDF("doc_a", "doc_b")
        val local = Dedup.connectedComponents(df)
          .as[(Long, Long)].collect().toMap
        val dist = Dedup.minLabelComponents(Dedup.symmetricEdges(df))
          .as[(Long, Long)].collect().toMap
        assert(local == dist, s"edges: $edges")
      }
    }
  }

  test("large-star/small-star collapses a deep chain within its round bound") {
    // a 60-deep chain needs 60 propagation rounds under min-label but
    // O(log² n) LS/SS rounds — maxRounds=12 would abort propagation-like
    // behavior, so passing proves the rewiring actually short-circuits
    val chain = (0L until 60L).map(i => (i, i + 1))
    val got = Dedup.connectedComponentsLargeStar(
        chain.toDF("doc_a", "doc_b"), maxRounds = 12)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 60L).map(_ -> 0L).toMap)
  }

  test("boilerplateProfile flags per-source repeated chunks, not body " +
    "text, and gates mostly-boilerplate docs") {
    // srcA: three docs share the 4-word banner (2 chunks); bodies are
    // unique. srcB: one doc repeats srcA's banner — but only once within
    // ITS source, so there it is NOT boilerplate. Doc 4 is banner-only →
    // ratio 1.0 → dropped by the keep gate. Doc 5's 5th word is a tail
    // (<w words) and must not count as a chunk.
    val banner = "all rights reserved inc"
    val docs = Seq(
      (1L, "srcA", s"$banner alpha beta gamma delta"),
      (2L, "srcA", s"$banner epsilon zeta eta theta"),
      (3L, "srcA", s"$banner iota kappa lambda mu"),
      (4L, "srcA", banner),
      (5L, "srcB", s"$banner extra"),
      (6L, "srcB", "nu xi omicron pi")
    ).toDF("doc_id", "source", "text")
    val got = Dedup.boilerplateProfile(docs, w = 2, minDocs = 3)
      .select("doc_id", "n_chunks", "n_boiler", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((4L, 2L, true)))  // banner flagged, body clean
    assert(got(2L) == ((4L, 2L, true)))
    assert(got(3L) == ((4L, 2L, true)))
    assert(got(4L) == ((2L, 2L, false))) // banner-only → gated out
    // srcB's lone banner copy is below minDocs WITHIN srcB: not flagged;
    // "extra" is a 1-word tail, not a chunk
    assert(got(5L) == ((2L, 0L, true)))
    assert(got(6L) == ((2L, 0L, true)))
  }

  test("embeddingGraphGroups = union-find over the mutual theta-cut " +
    "knnGraph edges; one-way edges contribute nothing") {
    import graft.operators.Similarity
    val vecs = Tables.embeddings(spark, sfDir)
    // driver-side union-to-min reference over ONLY the mutual edges
    def ufWant(edges: Set[(Long, Long)]): Map[Long, Long] = {
      val mutual = edges.filter { case (a, b) => a < b && edges((b, a)) }
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      mutual.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    def check(theta: Double): Set[(Long, Long)] = {
      val edges = Similarity.knnGraph(vecs, 5)
        .filter(col("cosine") >= theta)
        .select("probe_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      val got = Dedup.embeddingGraphGroups(vecs, 5, theta)
        .as[(Long, Long)].collect().toMap
      assert(got == ufWant(edges), s"theta=$theta")
      edges
    }
    assert(check(0.3).nonEmpty, "no edges survive the d16 theta cut")
    // theta=-1 keeps the WHOLE top-k edge set, where kNN asymmetry is
    // structural (a fringe point lists the hub; the hub's k is full of
    // closer points) — so the one-way-edge discard is genuinely load-
    // bearing here, not vacuous
    val all = check(-1.0)
    assert(all.exists { case (a, b) => !all((b, a)) },
      "fixture produced no one-way edges — the asymmetry filter is moot")
  }

  test("substringRuns finds a planted verbatim span that Jaccard misses") {
    // 12 shared tokens embedded in otherwise-disjoint 60-token docs:
    // Jaccard ~ 12/108 — far below any near-dup θ — but exactly the
    // memorization-risk span the suffix-array signal exists to find
    val shared = (1 to 12).map(i => s"s$i")
    val doc1 = ((1 to 24).map(i => s"a$i") ++ shared ++
      (25 to 48).map(i => s"a$i")).mkString(" ")
    val doc2 = ((1 to 10).map(i => s"b$i") ++ shared ++
      (11 to 48).map(i => s"b$i")).mkString(" ")
    val doc3 = (1 to 60).map(i => s"c$i").mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val runs = Dedup.substringRuns(docs, k = 5, minRun = 10)
      .select("doc_a", "doc_b", "max_run", "n_runs")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(runs == Set((1L, 2L, 12L, 1L)))
    val jacc = Dedup.minhashNearDup(docs, n = 3, theta = 0.8)
      .count()
    assert(jacc == 0L, "the planted span must NOT be a Jaccard near-dup")
  }

  test("substringRuns: identical docs give one full-length run; " +
      "split spans count separately") {
    val w = (1 to 30).map(i => s"w$i")
    // doc 2 = doc 1 verbatim; doc 3 shares tokens 1-12 and 19-30 but
    // breaks the middle — two runs of 12, never one of 30
    val broken = (w.take(12) ++ Seq("X", "Y", "Z", "Q", "R", "S") ++
      w.drop(18)).mkString(" ")
    val docs = Seq((1L, w.mkString(" ")), (2L, w.mkString(" ")),
      (3L, broken)).toDF("doc_id", "text")
    val got = Dedup.substringRuns(docs, k = 5, minRun = 10)
      .select("doc_a", "doc_b", "max_run", "n_runs")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got((1L, 2L)) == (30L, 1L))
    assert(got((1L, 3L)) == (12L, 2L))
    assert(got((2L, 3L)) == (12L, 2L))
  }

  test("substringRuns maxDocsPerGram drops boilerplate-gram pairs only") {
    // one 10-token boilerplate sentence in 20 docs; a planted unique
    // 15-token span between docs 100/101 whose grams appear in 2 docs
    val boiler = (1 to 10).map(i => s"t$i").mkString(" ")
    val span = (1 to 15).map(i => s"u$i")
    val docs = ((1 to 20).map(i =>
        (i.toLong, s"filler$i more$i $boiler tail$i end$i")) ++ Seq(
      (100L, (span ++ (1 to 20).map(i => s"p$i")).mkString(" ")),
      (101L, ((1 to 20).map(i => s"q$i") ++ span).mkString(" "))))
      .toDF("doc_id", "text")
    val uncapped = Dedup.substringRuns(docs, k = 5, minRun = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.substringRuns(docs, k = 5, minRun = 10,
        maxDocsPerGram = Some(5))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.contains((100L, 101L)))
    assert(capped.subsetOf(uncapped))
    assert(!capped.exists { case (a, b) => a <= 20 && b <= 20 },
      "boilerplate-only pairs must be gone under the cap")
    assert(uncapped.exists { case (a, b) => a <= 20 && b <= 20 },
      "fixture must actually produce boilerplate pairs uncapped")
  }

  test("simhash: near-identical docs are close in Hamming distance") {
    val w = (1 to 60).map(i => s"w$i")
    val df = Seq((1L, w.mkString(" ")),
      (2L, w.updated(10, "x").mkString(" ")),
      (3L, (1 to 60).map(i => s"q$i").mkString(" "))).toDF("doc_id", "text")
    val h = df.select(col("doc_id"), Text.simhash32(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) <= 6)
    assert(ham(h(1L), h(3L)) > ham(h(1L), h(2L)))
  }

  test("CorpusCard signals are total over NULL text (null == empty)") {
    import graft.operators.CorpusCard
    val df = Seq(
      (1L, null.asInstanceOf[String], "en", "web"),
      (2L, "", "en", "web"),
      (3L, "some ordinary words here", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val sig = CorpusCard.signals(df).orderBy(col("doc_id")).collect()
    // no nulls anywhere: a null doc would otherwise desync the batch
    // card (davg counts non-null), the DuckDB twin (null-fp inner join
    // drops the row), and the streaming serve fold (divides by n_docs)
    assert(sig.forall(r => !r.anyNull))
    // null text behaves exactly like empty text
    assert(sig(0).toSeq.drop(1) == sig(1).toSeq.drop(1))
    val card = CorpusCard.card(CorpusCard.signals(df)).collect()
    assert(card.length == 1 && card(0).getLong(2) == 3L) // n_docs
    assert(!card(0).anyNull)
  }

  test("CorpusCard: sliced fold == batch card on random corpora " +
      "(nulls, dups across slices, uneven groups)") {
    import graft.operators.CorpusCard
    val rnd = new scala.util.Random(42)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "the", "and",
      "of", "is", "query", "engine")
    for (trial <- 1 to 3) {
      val n = 40 + rnd.nextInt(60)
      def text(): String = rnd.nextInt(12) match {
        case 0 => null // null text (totality path)
        case 1 => "" // empty text
        case _ => Seq.fill(1 + rnd.nextInt(25))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val base0 = (0 until n).map { i =>
        (i.toLong, text(),
          Seq("en", "de", "es")(rnd.nextInt(3)),
          Seq("web", "book")(rnd.nextInt(2)))
      }
      // inject exact duplicates that land in DIFFERENT slices (doc_id
      // mod 3 splits), so dup exposure must fold across slice files
      val rows = base0 ++ (0 until 8).map { k =>
        val src = base0(rnd.nextInt(base0.size))
        ((n + k).toLong, src._2, src._3, src._4)
      }
      val df = rows.toDF("doc_id", "text", "lang", "source")
      val idx = tmpDir(s"graft-cardfold-$trial")
      for (b <- 0 until 3) {
        val slice = CorpusCard.signals(
          df.filter(col("doc_id") % 3 === b.toLong))
        CorpusCard.counterSlice(slice).write
          .parquet(s"$idx/counters/batch=$b")
        CorpusCard.histSlice(slice).write
          .parquet(s"$idx/hist/batch=$b")
        CorpusCard.fpSlice(slice).write
          .parquet(s"$idx/fp/batch=$b")
      }
      val served = CorpusCard.serve(spark, idx)
        .orderBy(col("source"), col("lang")).collect().toSeq
      val direct = CorpusCard.card(CorpusCard.signals(df))
        .orderBy(col("source"), col("lang")).collect().toSeq
      assert(served == direct, s"trial $trial diverged")
      assert(direct.nonEmpty)
    }
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
