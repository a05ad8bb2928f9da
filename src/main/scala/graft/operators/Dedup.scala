package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Core._
import graft.functions.Text

/** Deduplication operators for the training-data pipeline: exact
  * (hash-of-normalized-text), brute-force n-gram Jaccard (correctness
  * baseline), and MinHash+LSH banded near-dup (the 100 TB path).
  *
  * Scale design: the LSH path never materializes the O(n²) pair space —
  * signatures compute map-side per doc (array expressions, no explode
  * until banding), candidate pairs come from an equi-join on
  * (band, band_hash) — a hash-partitioned shuffle whose cost tracks the
  * number of colliding docs, not n² — and only candidates are verified
  * with exact Jaccard. The brute-force variant exists as the oracle-
  * checkable baseline and for small inputs.
  */
object Dedup {

  /** doc_id + distinct word-n-gram shingle set. Shingling (and everything
    * stacked on it — minhash signatures, band hashes) is the per-row
    * compute cost of the whole dedup family, so spread the input across
    * the cores first: a single small parquet split would otherwise run
    * the entire kernel chain in one task.
    */
  def shingleFrame(docs: DataFrame, n: Int): DataFrame =
    spreadPartitions(docs).select(col("doc_id"),
      Text.shingleSet(col("text"), n).as("sh"))

  /** Exact dedup: group by md5 of normalized text, keep the first doc_id
    * (one hash aggregate; at scale this is the standard
    * hash-groupBy-keep-first over the corpus).
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(Text.normalize(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))

  /** All pairs with Jaccard(shingle sets) ≥ theta, by exact computation:
    * explode shingles, self-join on shingle, count intersections, derive
    * the union size from set sizes. Correct at any scale but the shingle
    * self-join is the classic candidate explosion — use [[minhashNearDup]]
    * beyond small corpora.
    */
  def jaccardBruteForce(docs: DataFrame, n: Int, theta: Double): DataFrame = {
    // r16: checkpoint the shingle frame — it feeds FOUR subtrees (both
    // self-join sides + both size lookups), and without materialization
    // Spark re-ran the normalize+shingle kernel corpus pass once per
    // subtree (4 scans in the before-plan). One kernel pass, three
    // cache reads.
    val sf = shingleFrame(docs, n).localCheckpoint()
    // join on the shingle's 64-bit hash, not the string: same counts
    // (collision odds ~(distinct²)/2⁶⁵), far cheaper shuffle keys
    val ex = sf.select(col("doc_id"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))
    val inter = ex.as("a")
      .join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sz = sf.select(col("doc_id"), size(col("sh")).as("n"))
    inter
      .join(sz.as("x"), col("doc_a") === col("x.doc_id"))
      .join(sz.as("y"), col("doc_b") === col("y.doc_id"))
      .withColumn("jaccard_raw",
        col("inter") / (col("x.n") + col("y.n") - col("inter")))
      .filter(col("jaccard_raw") >= theta)
      .select(col("doc_a"), col("doc_b"),
        round4(col("jaccard_raw")).as("jaccard"))
  }

  /** LSH banding projection of a shingle frame: (doc_id, band, bh), one
    * row per band — the bucket keys both the batch self-join
    * ([[minhashCandidates]]) and the streaming ingest index
    * ([[graft.streaming.Streams.neardupIngest]]) join on.
    */
  def bandFrame(sf: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    // explode_OUTER: a plain explode makes the optimizer infer a
    // `size(bandHashes(minhashSig(...))) > 0` filter and push it below the
    // projections — re-evaluating the whole signature chain per row (52 s
    // of the 58 s this query took at sf0.1). The band array is a literal
    // 32-wide array, never empty, so outer semantics are identical.
    sf.select(col("doc_id"),
        Text.bandHashes(Text.minhashSig(col("sh"), numHashes), bands, r)
          .as("bh"))
      .select(col("doc_id"), explode_outer(col("bh")).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Candidate near-dup pairs via MinHash+LSH banding: signature per doc
    * (map-side), explode into `bands` (band, band_hash) keys, equi-join
    * within buckets. Output: distinct (doc_a, doc_b) with doc_a < doc_b.
    *
    * `maxBucket` (opt-in) drops buckets holding more than that many docs
    * BEFORE the self-join — the standard skew guard at corpus scale: a
    * boilerplate band (shared header/footer text) can put 10⁶ docs in one
    * bucket, and that single bucket's k² pair explosion dwarfs the rest
    * of the job. Members of a dropped mega-bucket still pair through
    * their other `bands-1` buckets, so genuinely near-identical docs are
    * re-found elsewhere with probability 1-(miss)^(bands-1); what is
    * skipped is exactly the degenerate everyone-matches-everyone cluster
    * a dedup pass handles by other means (exact dedup catches true
    * copies). Default None = exact banding semantics (the oracle-checked
    * path).
    */
  def minhashCandidates(sf: DataFrame, numHashes: Int, bands: Int,
                        maxBucket: Option[Int] = None): DataFrame = {
    // r16: checkpoint the banded frame — the self-join consumes it on
    // BOTH sides (and the maxBucket guard twice more), and each
    // consumer otherwise re-runs the whole 128-hash signature kernel
    // over the corpus (the dominant CPU of the d2/d6/d7/d8/d10 family;
    // AQE broadcast one side at sf0.1 so no exchange was ever reused).
    // The materialized frame is docs × bands × ~24 B — the same volume
    // the bucket join must move anyway. This checkpoint and the two in
    // minhashNearDup were A/B'd as every subset, interleaved through the
    // declared d2/d6/d7/d8/d10/d14 queries: all three together won in
    // every JVM state (OPTIMIZATION_r17.md item 1).
    val banded = bandFrame(sf, numHashes, bands).localCheckpoint()
    val bounded = maxBucket match {
      case Some(cap) =>
        // one aggregate over the banded keys, then a semi-join keeps only
        // rows of small-enough buckets — the count and the join share the
        // same hash partitioning, so the guard costs one cheap shuffle
        val small = banded.groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") <= cap)
          .select(col("band"), col("bh"))
        banded.join(small, Seq("band", "bh"), "left_semi")
      case None => banded
    }
    candidatesFromBands(bounded)
  }

  /** Bucket self-join over a prebuilt [[bandFrame]]: distinct candidate
    * pairs (doc_a < doc_b). Split out so callers that already hold the
    * banded frame (the streaming ingest persists it for the index probe)
    * don't recompute the signature chain.
    */
  def candidatesFromBands(banded: DataFrame): DataFrame =
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** MinHash-LSH near-dup pairs, exact-verified: candidates from banding,
    * then true Jaccard via array_intersect/array_union on the shingle sets
    * — identical values to [[jaccardBruteForce]], so the same brute-force
    * oracle checks it (miss probability at theta=0.8 with 32×4 banding is
    * ~5e-8; see Text.bandHashes).
    */
  def minhashNearDup(docs: DataFrame, n: Int, theta: Double,
                     numHashes: Int = 128, bands: Int = 32): DataFrame = {
    val sf = shingleFrame(docs, n)
    // r16: checkpoint the candidate pairs (they feed the id-set
    // extraction below AND the verify join), then build the verify-side
    // shingle sets ONLY for docs that appear in some candidate pair —
    // a semi-join on the (small, dup-bounded) candidate id set before
    // the shingle kernel. The old shape joined the FULL corpus shingle
    // frame twice, so the kernel ran over every doc 4× per query (2
    // band sides + 2 verify sides, 4 scans in the d6 before-plan);
    // now it runs over the corpus once (banded checkpoint, see
    // minhashCandidates) plus the candidate subset twice. Set values
    // per doc are unchanged, so verified pairs and Jaccards are
    // identical.
    val cands = minhashCandidates(sf, numHashes, bands).localCheckpoint()
    val candIds = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    val vs = // consumed twice (doc_a / doc_b sides)
      shingleFrame(docs.join(candIds, Seq("doc_id"), "left_semi"), n)
        .localCheckpoint()
    cands
      .join(vs.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(vs.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .withColumn("jaccard_raw",
        size(array_intersect(col("sa"), col("sb"))) /
          size(array_union(col("sa"), col("sb"))))
      .filter(col("jaccard_raw") >= theta)
      .select(col("doc_a"), col("doc_b"),
        round4(col("jaccard_raw")).as("jaccard"))
  }

  /** Connected components over an undirected (doc_a, doc_b) edge list —
    * the step that turns near-dup PAIRS into duplicate GROUPS. A corpus
    * build keeps one document per component, not per pair: with pairs
    * alone, dropping the higher id of each pair can delete every copy of
    * a chain A-B-C (B dies to A, C dies to B). Components make "keep the
    * group minimum" well defined.
    *
    * Two paths, one fixpoint — the component minimum (union-by-min-root
    * IS it; min-label propagation converges to it; DedupSpec pins
    * local ≡ distributed): a symmetric edge set of at most 4M rows runs
    * union-find driver-side in one collect, a larger one runs the
    * distributed loop [[minLabelComponents]]. Deterministic either way:
    * mins over a fixed edge set, so input order and partitioning never
    * matter.
    *
    * Output: (id, comp) for every vertex that appears in an edge, comp =
    * the component's minimum vertex id.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val sym = symmetricEdges(edges)
    // r16: the edges are already materialized (the checkpoint in
    // symmetricEdges), so the count is one cheap job; below the bound
    // (4M edges — corpus-scale dup graphs sit above it) the seed
    // aggregate + N×(join + union + groupBy + pointer-jump + checkpoint
    // + Σcomp probe) rounds — ~10-15 tiny all-core stages on
    // dup-pair-sized frames — collapse into one collect
    if (sym.count() <= (1L << 22)) unionFindComponents(sym)
    else minLabelComponents(sym)
  }

  /** The undirected edge list (first two columns) as distinct (id, nbr)
    * rows in both directions, checkpointed — the frame both
    * [[connectedComponents]] paths read.
    */
  private[graft] def symmetricEdges(edges: DataFrame): DataFrame = {
    // symmetrize via explode, NOT union of two projections: the union
    // form evaluates the whole upstream EDGE-GENERATION chain once per
    // branch inside the checkpoint job — for d8/d14 that chain is the
    // full MinHash+LSH candidate pipeline, so the union was paying the
    // corpus-scale pair generation TWICE (r16 audit finding; ~2× the
    // dominant stage at every decade)
    val c0 = edges.columns(0)
    val c1 = edges.columns(1)
    edges
      // explode_outer, not explode: the 2-element literal array is
      // never empty, and the non-outer form makes the optimizer infer
      // a size(...)>0 filter that re-builds the array per row (the t9
      // gotcha)
      .select(explode_outer(array(
        struct(col(c0).as("id"), col(c1).as("nbr")),
        struct(col(c1).as("id"), col(c0).as("nbr"))))
        .as("e"))
      .select(col("e.id"), col("e.nbr"))
      .distinct()
      .localCheckpoint(true)
  }

  /** Driver-local components of a bounded symmetric edge frame.
    * r17 (r16 verdict #4 / advice): primitive-long open-addressing
    * union-find. The boxed java.util.HashMap[Long,Long] held up to ~4M
    * boxed entries (~50 B each) near the bound — several hundred MB
    * transient where its comment claimed 64 MB — and the Row collect
    * boxed every edge on top. Now: executeCollect reads the checkpointed
    * frame as compact UnsafeRows (getLong, no boxing) in ONE job, and the
    * parent map is flat long arrays. True memory at the 4M-row bound:
    * vertices ≤ sym rows, capacity = next pow2 ≥ 2×keys = 2²³ slots →
    * keys+vals 128 MB + used flags 8 MB, plus the ≤4M-row UnsafeRow
    * batch — bounded and GC-quiet.
    */
  private def unionFindComponents(sym: DataFrame): DataFrame = {
    val rows = sym.select(col("id").cast("long"), col("nbr").cast("long"))
      .queryExecution.executedPlan.executeCollect()
    val uf = new LongUnionFind(rows.length)
    rows.foreach { r => uf.union(r.getLong(0), r.getLong(1)) }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    uf.foreachVertex { id =>
      out += org.apache.spark.sql.Row(id, uf.find(id)) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("comp",
        org.apache.spark.sql.types.LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    sym.sparkSession.createDataFrame(out.asJava, schema)
  }

  /** Distributed min-label propagation over a [[symmetricEdges]] frame:
    * each round every vertex takes the minimum label among itself and
    * its neighbors; stop when no label changed.
    *
    * Scale: one hash-shuffle groupBy per round over (edges + labels);
    * rounds = component diameter, and verified near-dup components are
    * near-cliques (every member passed a pairwise Jaccard/cosine gate),
    * so the loop converges in single digits at any corpus size. For
    * general graphs with long chains use
    * [[connectedComponentsLargeStar]], which bounds rounds by O(log² n);
    * the pair-to-group use case never needs it.
    * `localCheckpoint` truncates each round's lineage so the plan does
    * not grow with the iteration count.
    */
  private[graft] def minLabelComponents(sym: DataFrame): DataFrame = {
    // seed labels with round 1 already applied: min(id, Γ(id)) comes from
    // ONE aggregate over the symmetric edges — the identity seeding would
    // spend a full join+aggregate round computing exactly this
    var labels = sym.groupBy(col("id"))
      .agg(least(min(col("nbr")), col("id")).as("comp"))
      .localCheckpoint(true)
    // convergence probe: labels only ever DECREASE, so Σcomp (exact
    // decimal — no overflow, no float drift) strictly drops iff any label
    // changed; comparing round sums replaces the join+filter+count probe
    // with one tiny aggregate over the already-checkpointed frame
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("comp").cast(
        org.apache.spark.sql.types.DecimalType(38, 0)))).head().getDecimal(0)
      // sum over an EMPTY frame is null (an edgeless graph — e.g. a
      // theta cut that drops every kNN edge): treat as 0 so the probe
      // converges instead of NPE-ing
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSum = labelSum(labels)
    var changed = true
    while (changed) {
      val nbrLabels = sym
        .join(labels.select(col("id").as("nbr"), col("comp")), "nbr")
        .select(col("id"), col("comp"))
      val prop = labels.union(nbrLabels)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
      // pointer-jump (path doubling): additionally adopt the label OF
      // the label — propagation distance doubles per round, so rounds
      // track O(log diameter) instead of O(diameter). Every step stays a
      // monotone min, so the fixpoint (component minimum everywhere) is
      // unchanged; what shrinks is the round count, and with it the
      // per-round fixed scheduling cost that dominates chain-y graphs
      // (the d16 mutual-kNN graph cut CC wall-time ~3x). The jump join
      // touches only the label frame — one row per node IN the graph —
      // never the edge set.
      val jump = prop.select(col("id").as("jid"), col("comp").as("jcomp"))
      val next = prop.join(jump, col("comp") === col("jid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("jcomp"), col("comp")))
            .as("comp"))
        .localCheckpoint(true)
      val s = labelSum(next)
      changed = s.compareTo(prevSum) != 0
      prevSum = s
      labels = next
    }
    labels
  }

  /** Flat-array union-find over arbitrary long vertex ids (the driver-
    * local CC fast path): an open-addressing long→long parent map
    * (linear probing, fmix64-mixed slots, `used` flags instead of a key
    * sentinel so EVERY long id is legal) with union-by-min-root + path
    * compression — the surviving root of each component is its minimum
    * vertex id, identical to the distributed min-label fixpoint
    * (DedupSpec pins local ≡ distributed). Sized once from the edge-row
    * count (vertices ≤ symmetric rows; capacity = next power of two ≥
    * 2× that, load factor ≤ 0.5) — never rehashes.
    */
  private[operators] final class LongUnionFind(expectedVertices: Int) {
    private val cap: Int = {
      var c = 16
      while (c < math.max(1, expectedVertices) * 2L) c <<= 1
      c
    }
    private val mask = cap - 1
    private val keys = new Array[Long](cap)
    private val vals = new Array[Long](cap)
    private val used = new Array[Boolean](cap)
    @inline private def slot(k: Long): Int = {
      var h = k // murmur3 fmix64: sequential doc ids must spread
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
      h ^= h >>> 33
      (h & mask).toInt
    }
    /** slot holding k, or the empty slot where k belongs. */
    @inline private def probe(k: Long): Int = {
      var i = slot(k)
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      i
    }
    private def getOrInsert(k: Long): Long = {
      val i = probe(k)
      if (!used(i)) { used(i) = true; keys(i) = k; vals(i) = k }
      vals(i)
    }
    @inline private def get(k: Long): Long = vals(probe(k))
    @inline private def put(k: Long, v: Long): Unit = vals(probe(k)) = v
    def find(x: Long): Long = {
      var r = x
      while (get(r) != r) r = get(r)
      var c = x // path compression
      while (get(c) != r) { val n = get(c); put(c, r); c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      getOrInsert(a); getOrInsert(b)
      val ra = find(a); val rb = find(b)
      // union by MIN id: the surviving root is the component min,
      // so find() returns the label directly
      if (ra < rb) put(rb, ra)
      else if (rb < ra) put(ra, rb)
    }
    def foreachVertex(f: Long => Unit): Unit = {
      var i = 0
      while (i < cap) { if (used(i)) f(keys(i)); i += 1 }
    }
  }

  /** Connected components via alternating large-star / small-star
    * rewiring (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the GENERAL-graph path [[connectedComponents]]'s scaladoc
    * points to: min-label propagation needs diameter-many rounds, which
    * is fine for near-clique dup groups but pathological on long chains;
    * LS/SS converges in O(log² n) rounds on ANY topology.
    *
    * Each round, per node x with neighborhood Γ(x) and m = min(Γ(x)∪{x}):
    * large-star rewires every LARGER neighbor to m; small-star rewires
    * every not-larger neighbor (and x itself) to m. Edges stay canonical
    * (least, greatest, distinct, no self-loops); at the fixpoint the edge
    * set is a forest of stars rooted at component minima, read off as
    * (id, comp) labels. Deterministic — every step is a min over a set.
    *
    * Scale shape per round: two groupBy(node) aggregations + joins over
    * the current edge set (one shuffle each), lineage truncated per
    * round. `maxRounds` is a diverge guard, not a tuning knob.
    */
  def connectedComponentsLargeStar(edges: DataFrame, maxRounds: Int = 64)
      : DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("u"),
          greatest(col("x"), col("y")).as("v"))
        .distinct()
    var e = canon(edges.select(col(edges.columns(0)).as("x"),
        col(edges.columns(1)).as("y")))
      .localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged) {
      require(rounds < maxRounds,
        s"large-star/small-star did not converge in $maxRounds rounds")
      rounds += 1
      // large-star over Γ (both directions): larger neighbors → min(Γ⁺)
      val nbrs = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val mins = nbrs.groupBy(col("x"))
        .agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      val ls = canon(nbrs.join(mins, "x").filter(col("y") > col("x"))
        .select(col("y").as("x"), col("m").as("y")))
      // small-star over the result: smaller neighbors AND x itself → min
      val smallNbrs = ls.select(col("v").as("x"), col("u").as("y")) // y < x
      val smallMins = smallNbrs.groupBy(col("x"))
        .agg(min(col("y")).as("m")) // y < x, so min(Γ≤∪{x}) = min(y)
      val ss = canon(
        smallNbrs.join(smallMins, "x")
          .select(col("y").as("x"), col("m").as("y"))
          .union(smallMins.select(col("x"), col("m").as("y"))))
        .localCheckpoint(true)
      val grew = ss.exceptAll(e).limit(1).count() > 0
      converged = !grew && ss.count() == e.count()
      e = ss
    }
    e.select(col("v").as("id"), col("u").as("comp"))
      .union(e.select(col("u"), col("u")).distinct()
        .toDF("id", "comp"))
      .distinct()
  }

  /** Exact n-gram-overlap contamination detection (GPT-3-style): the
    * train doc_ids sharing ANY word n-gram with the eval corpus. The
    * train side shingles map-side (codegen'd kernel) into a semi-join on
    * the gram. No broadcast hint: an eval suite is usually tiny next to
    * the corpus — but its distinct-n-gram set still grows linearly with
    * eval size, so forcing a broadcast would OOM the driver on a large
    * benchmark battery. AQE converts the semi-join to broadcast at
    * runtime exactly when the eval gram set is small; the fallback is a
    * shuffled semi-join — BOTH sides move, including the corpus-scale
    * train gram frame, trading driver OOM for a corpus-sized shuffle.
    * For eval batteries too big to broadcast, the bloom-pruned map-side
    * path (the d12 query via plans.Expressions.bloomPrune) is the
    * real answer: it shuffles contamination-rate, not corpus-size,
    * volume.
    * Published recipes use n=13; the fixture's 30-60-word docs want n=8.
    */
  def ngramContaminated(train: DataFrame, evalDocs: DataFrame, n: Int)
      : DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), explode_outer(graft.plans.Expressions
        .shingles(col("text"), n, distinct = true)).as("g"))
      .filter(col("g").isNotNull)
    val evalG = grams(evalDocs).select(col("g")).distinct()
    grams(train)
      .join(evalG, Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** Canonical-doc retention: keep the BEST doc per duplicate group —
    * within each connected component of `pairs` the survivor is the
    * longest doc (n_chars desc, doc_id tiebreak); docs outside any group
    * survive untouched. The winner per group is a hash aggregate (min_by
    * over the (-n_chars, doc_id) total order — map-side partials, no
    * sort window over the corpus).
    *
    * The members⋈winners join carries NO broadcast hint: `keep` has one
    * row per duplicate component, which on a real dedup corpus is
    * O(n_dups) — corpus-scale, far past any broadcast threshold. The
    * groupBy already hash-partitioned both sides on `comp`, so the plain
    * join reuses that exchange; AQE still broadcasts when the component
    * count is genuinely small at runtime.
    */
  def canonicalPick(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
    val mem = comp.select(col("id").as("doc_id"), col("comp"))
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    val keep = mem.groupBy(col("comp"))
      .agg(min_by(col("doc_id"),
        struct(negate(col("n_chars")), col("doc_id"))).as("keep_id"))
    val dropIds = mem.join(keep, Seq("comp"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"))
    docs.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** Duplicate groups from EMBEDDING space: mutual-kNN graph clustering
    * — the SemDeDup-adjacent composition the k-NN graph exists to feed.
    * Edges are [[Similarity.knnGraph]] edges at cosine >= theta kept
    * only when MUTUAL (a in b's top-k AND b in a's top-k — the standard
    * asymmetry filter: a point on a cluster fringe lists the hub in its
    * top-k, but the hub's top-k is full of closer points, so one-way
    * edges chain unrelated regions together); groups are connected
    * components over the mutual edges. Returns (id, comp) for every
    * grouped vector — ungrouped vectors are absent (singletons).
    *
    * Scale: the graph is the shuffled-bucket kNN (no broadcast, no
    * all-pairs); the mutuality filter is a self-semi-join on the edge
    * key — both sides hash-partition on (doc_a, doc_b); CC is the
    * bounded-round min-label loop. Nothing materializes on the driver.
    */
  def embeddingGraphGroups(vecs: DataFrame, k: Int, theta: Double,
                           tables: Int = 4, bits: Int = 6)
      : DataFrame = {
    // materialize the θ-cut edge list ONCE: it feeds both sides of the
    // mutuality self-join and every CC round — without the cut, the
    // whole kNN graph (buckets, scoring, ranking) re-computes per
    // consumer. Edge volume is ≤ k rows per vector, far below the
    // corpus the graph was built from.
    val edges = Similarity.knnGraph(vecs, k, tables, bits)
      .filter(col("cosine") >= theta)
      .select(col("probe_id").as("doc_a"), col("neighbor_id").as("doc_b"))
      .localCheckpoint(true)
    val rev = edges
      .select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))
    val mutual = edges.join(rev, Seq("doc_a", "doc_b"), "left_semi")
      .filter(col("doc_a") < col("doc_b"))
    connectedComponents(mutual)
  }

  /** [[embeddingGraphGroups]] at the scale-adaptive code width — one
    * scalar count() derives bits via [[Similarity.autoBits]] so per-bucket
    * occupancy (and with it the Σ bucket² candidate volume) stays bounded
    * as the corpus grows. The shipped d16 geometry since r11 (the fixed
    * width was measured quadratic one decade above its calibration SF).
    */
  def embeddingGraphGroupsAuto(vecs: DataFrame, k: Int, theta: Double,
                               tables: Int = 4, targetOccupancy: Int = 32)
      : DataFrame =
    embeddingGraphGroups(vecs, k, theta, tables,
      Similarity.autoBits(vecs.count(), targetOccupancy))

  /** Per-source boilerplate profiling (the C4/CCNet cleaning step): a
    * doc's text is cut into non-overlapping `w`-word chunks (full
    * windows at stride `w` — the <w-word tail is not a chunk), and a
    * chunk is BOILERPLATE when it appears in >= `minDocs` distinct docs
    * of the SAME source — navigation, headers, license banners repeat
    * within a crawl source, body text doesn't. Returns one row per doc:
    * chunk count, boilerplate-chunk count, the boilerplate ratio, and a
    * keep flag (ratio <= 1/2 — a doc that is mostly boilerplate is
    * dropped outright, matching the common pipeline gate).
    *
    * Scale: chunking is the map-side codegen STRIDED shingle-hash kernel
    * (r16) — only the w-word non-overlapping windows are hashed, straight
    * off the normalized byte buffer, no gram strings. The chunk stream is
    * shuffled ONCE, into per-(source-gram-hash, doc) counts — the
    * boilerplate membership is a count window over that reduced frame
    * (r16; the former groupBy + join-back made Spark run the whole corpus
    * pipeline twice), whose row count is bounded by distinct (gram, doc)
    * pairs rather than total chunk volume. (The r14 rework, measured at 1000× ≈ 5M docs: the
    * earlier shape consumed the full exploded stream twice — once for
    * the countDistinct, once for the join — keyed on raw gram STRINGS,
    * and its per-unit cost GREW across decades, 0.023 → 0.066 → 0.164
    * s/unit at 10×/30×/1000×, as string hash tables spilled; the
    * single-shuffle pre-reduction alone was worth ~10% (165 → 150 s),
    * the hashed key the rest: 165 → 65 s at 1000×, marginal 0.047 →
    * 0.064 s/unit across 30×→1000× instead of 2.5×.) No broadcast: the
    * boilerplate set is per-source unbounded (a big crawl source can
    * contribute millions of repeated chunks).
    *
    * Hashed-key tradeoff, stated: the gram key is COMPOSED —
    * xxhash64(source, xxhash64(gram bytes)) since r16 (the strided
    * kernel emits the inner 64-bit gram hash, never the gram string) —
    * so the profile is APPROXIMATE at the 2⁻⁶⁴ level per layer: an
    * inner collision merges two distinct grams, an outer collision two
    * distinct (source, gram-hash) keys (including across sources);
    * either inflates the touched docs' n_boiler by the collided chunk's
    * counts. Two stacked 2⁻⁶⁴ layers stay ~2⁻⁶⁴ per pair overall (union
    * bound), so the birthday math below is unchanged. At fixture scale expected collisions are ~0; at
    * 100 TB (~10¹⁰ distinct grams) birthday math gives ~(10¹⁰)²/2⁶⁵
    * ≈ 2.7 expected collisions corpus-wide — a handful of single-doc
    * ratio nudges, which the keep gate at 1/2 tolerates by
    * construction. A caller needing exactness at that scale should
    * widen the key with a second independent 64-bit hash (e.g.
    * xxhash64 with a distinct seed; rate → ~2⁻¹²⁸) and pay the doubled
    * shuffle-key width; this boilerplate GATE is not that caller.
    */
  def boilerplateProfile(docs: DataFrame, w: Int, minDocs: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the ONE corpus-volume shuffle, keyed on the 64-bit hash of
    // (source, gram) rather than the strings (the d4 convention, :51):
    // 8-byte shuffle keys and integer compares where the string form
    // moved ~20-byte grams and spilled growing string hash tables.
    // r16: the stride-w hash kernel hashes ONLY the full non-overlapping
    // windows straight off the normalized byte buffer — the old
    // posexplode(shingles) + `pos % w = 0` shape built and exploded w×
    // as many gram STRINGS and filtered the surplus after the fact.
    // Duplicate grams within a doc collapse to a count, so boiler-set
    // membership (distinct docs per gram == row count here) and the
    // per-doc totals (sum of c) are both derivable without touching the
    // raw stream again
    val perDocGram = spreadPartitions(docs)
      .select(col("doc_id"), col("source"),
        explode(graft.plans.Expressions.shingleHashes(col("text"), w, w))
          .as("h"))
      .select(col("doc_id"), xxhash64(col("source"), col("h")).as("gh"))
      .groupBy(col("gh"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    // r16: boiler membership as a count window over the reduced
    // (gh, doc) frame instead of a groupBy(gh) + join back — the join
    // form made Spark evaluate the WHOLE corpus pipeline twice (two
    // scans, two explodes, two corpus-volume aggregates: plan operators
    // 1-8 vs 9-19 in plans/r16/d15_boilerplate_before.txt), and at
    // sf0.1 AQE silently BROADCAST the boiler set the scaladoc says is
    // per-source unbounded. The window costs one reduced-frame exchange
    // + sort and shares the single corpus pass; nothing broadcasts.
    perDocGram
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chunks"),
        sum(when(col("nd") >= minDocs, col("c")).otherwise(0L))
          .as("n_boiler"))
      .withColumn("boiler_ratio", round4(
        col("n_boiler").cast("double") / col("n_chunks")))
      .withColumn("keep", col("n_boiler") * 2 <= col("n_chunks"))
  }

  /** Exact duplicated-substring spans (the suffix-array dedup signal of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", re-expressed relationally): for every doc pair sharing at
    * least one run of >= `minRun` CONSECUTIVE tokens, the length of the
    * longest shared run and how many distinct runs clear the bar.
    * Jaccard-style set overlap (d2/d4) can't see this — two docs sharing
    * one verbatim 50-token paragraph inside otherwise-different text sit
    * far below any Jaccard θ, yet that paragraph is exactly what
    * memorization-risk dedup needs to find.
    *
    * Mechanics: positional `k`-grams (the codegen shingle kernel +
    * posexplode), equi-join on the gram hash across docs, then a match at
    * (pa, pb) lies on diagonal pa-pb — consecutive pa values on one
    * diagonal are one contiguous shared span, found with the classic
    * gaps-and-islands grouping (pa - row_number). A run of t tokens
    * yields t-k+1 consecutive gram matches, so run_tokens = island+k-1.
    *
    * Scale: no O(n²) — join volume tracks SHARED grams only (k=5-grams
    * collide across unrelated docs at ~(corpus grams)²/|Σ|^k odds);
    * `maxDocsPerGram` (opt-in, same shape as minhashCandidates.maxBucket)
    * drops boilerplate grams appearing in more than that many docs before
    * the self-join, bounding any bucket's pair fan-out. The island window
    * partitions by (doc_a, doc_b, diag) — bounded by a single doc's
    * length, never corpus-wide.
    */
  def substringRuns(docs: DataFrame, k: Int, minRun: Int,
                    maxDocsPerGram: Option[Int] = None): DataFrame = {
    val grams = positionalGrams(docs, k)
    val bounded = maxDocsPerGram match {
      case Some(cap) =>
        val ok = grams.groupBy(col("gh"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") <= cap).select(col("gh"))
        grams.join(ok, Seq("gh"), "left_semi")
      case None => grams
    }
    runsFromGrams(bounded, k, minRun)
  }

  /** [[substringRuns]]' positional `k`-gram rows `(doc_id, pos, gh)`. */
  private[graft] def positionalGrams(docs: DataFrame, k: Int): DataFrame =
    // fused gram hashing (r15): posexplode(shingles) + xxhash64(gram)
    // materialized ~2G shingle STRINGS at the 1000× decade, each built,
    // UTF-16→UTF-8 encoded, hashed, and discarded — the decade marginal
    // was allocation-bound. shingleHashes emits the same xxhash64 values
    // straight off slices of the one normalized buffer (equal bytes ⇒
    // equal hash; element-wise identity pinned in TextPropsSpec), so the
    // exploded rows are (doc_id, pos, long) with nothing per-gram.
    // posexplode_outer, not posexplode: the non-outer form makes the
    // optimizer infer a size(...)>0 filter that re-evaluates the hash
    // kernel per row (the cdcChunks/t9 gotcha); short docs DO produce
    // empty gram arrays here, so the outer form emits one null row for
    // them and the isNotNull filter drops it after the explode.
    spreadPartitions(docs)
      .select(col("doc_id"),
        posexplode_outer(
          graft.plans.Expressions.shingleHashes(col("text"), k)))
      .select(col("doc_id"), col("pos"), col("col").as("gh"))
      .filter(col("gh").isNotNull)

  /** [[substringRuns]]' gram self-join and run detection over a gram
    * frame shaped like [[positionalGrams]]' — split out so a filtered
    * gram frame can feed it unchanged (graft.tools.Ab's d17 variants).
    */
  private[graft] def runsFromGrams(grams: DataFrame, k: Int,
                                   minRun: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = grams.as("a")
      .join(grams.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"),
        (col("a.pos") - col("b.pos")).as("diag"))
    // (pa, diag) is unique per pair (pb = pa - diag), so row_number is
    // deterministic without a tiebreaker
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("isl", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg((count(lit(1)) + lit(k - 1)).as("run_tokens"))
      .filter(col("run_tokens") >= minRun)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("run_tokens")).as("max_run"),
        count(lit(1)).as("n_runs"))
  }

  /** DuckDB twin of [[substringRuns]] (no gram cap — the oracle path).
    * Joins on the gram STRING where the operator joins on xxhash64(gram):
    * identical match sets barring a 64-bit collision (~(grams)²/2⁶⁵).
    */
  def substringRunsOracleSql(k: Int, minRun: Int): String = {
    val span = k - 1
    s"""WITH t AS (SELECT doc_id,
          regexp_split_to_array(trim(lower(text),
            ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)),
            '[\\s\\x0B]+') AS w
        FROM documents),
      sh AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+$span], ' ') AS g
             FROM t, unnest(generate_series(1, len(w)-$span)) AS gs(i)),
      m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
              a.pos - b.pos AS diag
            FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id),
      r AS (SELECT doc_a, doc_b, diag, pa,
              pa - row_number() OVER (
                PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
            FROM m),
      runs AS (SELECT doc_a, doc_b, count(*) + $span AS run_tokens
               FROM r GROUP BY doc_a, doc_b, diag, isl)
      SELECT doc_a, doc_b, max(run_tokens) AS max_run,
        count(*) AS n_runs
      FROM runs WHERE run_tokens >= $minRun
      GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b"""
  }

  /** DuckDB oracle for the Jaccard pair queries (both the brute-force
    * baseline and — because verification is exact and band misses are
    * ~1e-8 — the LSH variant).
    */
  def jaccardOracleSql(n: Int, theta: Double): String = {
    val span = n - 1
    // two-arg trim with the explicit \s char set: DuckDB's bare trim
    // strips only spaces, while the Spark kernel (ShingleKernel) uses
    // Java String.trim — text with leading/trailing \t or \n would shift
    // every shingle under the one-arg form
    s"""WITH t AS (SELECT doc_id,
          regexp_split_to_array(trim(lower(text),
            ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)),
            '[\\s\\x0B]+') AS w
        FROM documents),
      sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+$span], ' ') AS s
             FROM t, unnest(generate_series(1, len(w)-$span)) AS g(i)),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*) AS inter
                FROM sh a JOIN sh b
                  ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT doc_a, doc_b,
        round(inter / (x.n + y.n - inter), 4) AS jaccard
      FROM pairs
      JOIN sz x ON doc_a = x.doc_id
      JOIN sz y ON doc_b = y.doc_id
      WHERE inter / (x.n + y.n - inter) >= $theta
      ORDER BY doc_a, doc_b"""
  }

  /** Content-defined chunking (the storage-dedup/FastCDC idea, reduced to
    * its relational core): chunk boundaries are the positions where the
    * hash of the trailing `w`-char window lands in a 1/16 target band
    * (first md5 hex == '0'), so boundaries are a pure function of LOCAL
    * content — an insertion early in a document shifts fixed windows
    * (t21) at every later offset but re-synchronizes CDC boundaries
    * within one chunk, which is what makes chunk fingerprints a
    * shift-robust dedup signal. Expected chunk length = 16 chars + the
    * window tail.
    *
    * Shape (r14): the whole boundary scan is ONE codegen'd kernel call
    * per doc — plans/CdcKernel.ends emits the per-doc end-position array
    * directly, so the chain is map-side from scan to chunk rows with NO
    * explode-per-character, NO boundary aggregate, and NO join back.
    * (The retired shape posexploded every w-char window — one row per
    * corpus CHARACTER, ~2.5B rows at the 1000× replica — md5'd each,
    * folded the 1/16 survivors with a hash aggregate, and joined the
    * ends back onto the text: measured 216 → 147 s at 1000× for t25 and
    * 455 → 298 s for d18 after the kernel replaced it. Boundary rule
    * and all downstream arithmetic unchanged — the DuckDB twin still
    * replays md5 windows verbatim.)
    *
    * Output: (doc_id, chunk_ix, start, len, chunk_fp), 1-based start.
    */
  def cdcChunks(docs: DataFrame, w: Int = 8): DataFrame =
    // r16: the starts/posexplode/try_element_at/md5(substr) chain is now
    // ONE fused kernel call per doc (plans/CdcChunkKernel) emitting the
    // final chunk rows — the chain form dragged the full normalized
    // text + starts array through the Generate on EVERY chunk row, ran
    // the `transform(_+1)` lambda interpreted, and paid a substring
    // copy + a fresh commons-codec digest + hex round trip per chunk.
    // Field values are bit-identical (DedupSpec pins kernel == chain).
    // explode_outer + isNotNull, NOT explode: the non-outer form makes
    // the optimizer infer a size(...)>0 filter that re-evaluates the
    // whole normalize+kernel chain per row (the t9 gotcha); the null
    // filter on the generator OUTPUT is free and reproduces the
    // zero-chunk behavior (empty text emits no rows).
    spreadPartitions(docs)
      .select(col("doc_id"),
        explode_outer(graft.plans.Expressions.cdcChunkRows(
          Text.normalize(col("text")), w)).as("c"))
      .filter(col("c").isNotNull)
      .select(col("doc_id"), col("c.chunk_ix").as("chunk_ix"),
        col("c.start").as("start"), col("c.len").as("len"),
        col("c.chunk_fp").as("chunk_fp"))

  /** CDC-chunk near-dup pairs: docs sharing >= `minShared` distinct chunk
    * fingerprints. The candidate generator the chunking exists for —
    * join volume tracks SHARED chunks (equi-join on the fingerprint),
    * never n². `maxDocsPerChunk` drops boilerplate chunks appearing in
    * more than that many docs BEFORE the self-join (same shape as
    * substringRuns' maxDocsPerGram) and is ON by default: it is load-
    * bearing, not an optimization. Measured at 10× sf0.1 the uncapped
    * join went quadratic (90 s vs 3.9 s at 1×) because common
    * stopword-run chunks are shared by hundreds of docs — one sf0.01
    * chunk sits in 156 docs, alone generating ~12k candidate rows in
    * the fingerprint join (the uncapped OUTPUT is 823 pairs); with the
    * cap the result is the 37 genuine dup-family pairs and the fan-out of any fingerprint is bounded by cap². This
    * is the C4-style boilerplate exclusion, as a safety property.
    */
  def cdcNearDup(docs: DataFrame, w: Int = 8, minShared: Int = 3,
                 maxDocsPerChunk: Option[Int] = Some(16)): DataFrame = {
    // join key is the RAW 16-byte md5 (unhex of the kernel's hex form):
    // hex is injective, so match semantics are exactly chunk_fp equality,
    // while the distinct/window shuffles carry and compare half the key
    // bytes (the SMJ sort on 32-char hex strings was the widest part of
    // the fp join at the 1000× decade)
    val ch = cdcChunks(docs, w)
      .select(col("doc_id"), unhex(col("chunk_fp")).as("chunk_fp"))
      .distinct()
    maxDocsPerChunk match {
      case Some(cap) =>
        // r17: AGGREGATE-AND-EXPLODE instead of a fingerprint self-join.
        // The r16 window form claimed the join's two sides reuse one
        // exchange; the measured plan at the 100×/1000× decades carries
        // TWO complete scan→kernel→distinct→window chains (ReuseExchange
        // never fires across the join — plans/r17/d18_cdc_neardup_before
        // .txt, and CdcAudit times the full query at ≈ 2× the cap-window
        // stage). A localCheckpoint on the capped frame fixes the double
        // chain but loses the fp partitioning, so both join sides
        // re-exchange the corpus-scale frame (measured ~parity at 1000×:
        // 84.0 vs 81.0 s). This shape removes the join outright (guide
        // §2.3-2.4): the cap window already leaves the frame partitioned
        // by chunk_fp, so collect_list(doc_id) per fp aggregates WITHOUT
        // a new exchange — groups are ≤ cap docs by the window filter,
        // so the aggregation state is bounded — and the codegen'd
        // PairCombosKernel emits each group's C(occ,2) ≤ C(cap,2)
        // pairs directly (sorted ids → deterministic (a < b) pairs under
        // any collect order). The only corpus-scale shuffles left are
        // the distinct, the window, and the final per-pair count — each
        // paid once. Pair multiset is IDENTICAL to the self-join's
        // (every fp with occ ≤ cap contributes each of its doc pairs
        // once), so the oracle is unchanged; DedupSpec pins the shapes
        // equal. explode_outer + isNotNull per the house t9 rule
        // (singleton groups emit an empty pair array).
        ch.withColumn("nd", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("chunk_fp"))))
          .filter(col("nd") <= cap)
          .groupBy(col("chunk_fp"))
          .agg(collect_list(col("doc_id")).as("docs"))
          .select(explode_outer(
            graft.plans.Expressions.pairCombos(col("docs"))).as("p"))
          .filter(col("p").isNotNull)
          .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
          .agg(count(lit(1)).as("shared_chunks"))
          .filter(col("shared_chunks") >= minShared)
      case None =>
        // capless (the labeled brute variant): the historical self-join —
        // an uncapped group can hold the whole corpus, where a collected
        // doc list would be a corpus-sized aggregation row
        ch.as("a")
          .join(ch.as("b"),
            col("a.chunk_fp") === col("b.chunk_fp") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("shared_chunks"))
          .filter(col("shared_chunks") >= minShared)
    }
  }

  private val duckNorm =
    """regexp_replace(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\s\x0B]+', ' ', 'g')"""

  /** DuckDB twin of [[cdcChunks]]. */
  def cdcChunksOracleSql(w: Int): String =
    s"""WITH nrm AS (SELECT doc_id, $duckNorm AS t FROM documents),
      b AS (SELECT doc_id, i + ${w - 1} AS e
            FROM nrm, unnest(generate_series(1, length(t) - ${w - 1}))
              AS gs(i)
            WHERE substr(md5(substr(t, i, $w)), 1, 1) = '0'),
      st AS (SELECT doc_id, 1 AS s FROM nrm
             UNION ALL SELECT doc_id, e + 1 FROM b),
      o AS (SELECT doc_id, s,
              row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1
                AS chunk_ix,
              lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
            FROM st),
      c AS (SELECT o.doc_id, chunk_ix, s AS start,
              coalesce(nxt, length(t) + 1) - s AS len,
              substr(t, s, coalesce(nxt, length(t) + 1) - s) AS chunk
            FROM o JOIN nrm ON o.doc_id = nrm.doc_id)
      SELECT doc_id, CAST(chunk_ix AS BIGINT) AS chunk_ix,
        CAST(start AS BIGINT) AS start, CAST(len AS BIGINT) AS len,
        md5(chunk) AS chunk_fp
      FROM c WHERE len > 0
      ORDER BY doc_id, chunk_ix"""

  /** DuckDB twin of [[cdcNearDup]], cap included — the oracle verifies
    * the load-bearing boilerplate exclusion, not just the join.
    */
  def cdcNearDupOracleSql(w: Int, minShared: Int,
                          maxDocsPerChunk: Option[Int] = Some(16))
      : String =
    s"""WITH nrm AS (SELECT doc_id, $duckNorm AS t FROM documents),
      b AS (SELECT doc_id, i + ${w - 1} AS e
            FROM nrm, unnest(generate_series(1, length(t) - ${w - 1}))
              AS gs(i)
            WHERE substr(md5(substr(t, i, $w)), 1, 1) = '0'),
      st AS (SELECT doc_id, 1 AS s FROM nrm
             UNION ALL SELECT doc_id, e + 1 FROM b),
      o AS (SELECT doc_id, s,
              lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
            FROM st),
      ch0 AS (SELECT DISTINCT o.doc_id,
               md5(substr(t, s, coalesce(nxt, length(t) + 1) - s))
                 AS chunk_fp
             FROM o JOIN nrm ON o.doc_id = nrm.doc_id
             WHERE coalesce(nxt, length(t) + 1) - s > 0),
      ch AS (SELECT doc_id, chunk_fp FROM ch0${maxDocsPerChunk.fold("")(
        cap => s"""
             WHERE chunk_fp IN (SELECT chunk_fp FROM ch0
               GROUP BY 1 HAVING count(*) <= $cap)""")})
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        count(*) AS shared_chunks
      FROM ch a JOIN ch b
        ON a.chunk_fp = b.chunk_fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= $minShared
      ORDER BY doc_a, doc_b"""
}
