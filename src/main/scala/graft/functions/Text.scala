package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column expressions for the training-data pipeline block:
  * normalization, tokenization, shingling, MinHash signatures, SimHash,
  * language-ID scoring, quality scoring, token counting, fingerprinting.
  *
  * Everything here is a pure Catalyst expression (array lambdas — transform/
  * aggregate/zip_with — not UDFs), so whole-stage codegen applies and the
  * work distributes with the rows: no per-doc state lives on the driver.
  * Hash choices: xxhash64 where only engine-internal determinism matters
  * (MinHash perms, LSH bands); md5 where a DuckDB oracle twin must compute
  * the identical value (SimHash bits, fingerprints).
  */
object Text {

  /** Canonical text normalization: lower, strip leading/trailing
    * whitespace, collapse interior whitespace runs to a single space. The
    * twin of the reference's string normalizers (e.g. the twitter-handle
    * regexp_replace chain, phase3schema.sql:415-431). Semantics are
    * pinned to `regexp_replace(regexp_replace(lower(c), "^\s+|\s+$", ""),
    * "\s+", " ")` — the form every DuckDB twin replays — but evaluated
    * by the single-pass byte kernel [[graft.plans.NormalizeKernel]]
    * (bit-identity property-tested in TextPropsSpec): the regex chain
    * round-tripped the whole corpus through java Strings twice per row,
    * and normalize sits under the fingerprint of EVERY document. Edge
    * stripping covers all of `\s`, NOT just spaces like SQL trim() —
    * a leading tab must not leave a collapsed space behind.
    */
  def normalize(c: Column): Column =
    graft.plans.Expressions.normalizeText(c)

  /** Whitespace tokenization over normalized text. */
  def words(c: Column): Column = split(normalize(c), " ")

  /** Word n-gram shingles, space-joined, in document order (may repeat).
    * Native kernel call — see graft.plans.ShingleKernel for why not
    * transform∘slice∘concat_ws (interpreted HOFs).
    */
  def shingles(c: Column, n: Int): Column =
    graft.plans.Expressions.shingles(c, n, distinct = false)

  /** Distinct shingle set — the unit of Jaccard similarity. */
  def shingleSet(c: Column, n: Int): Column =
    graft.plans.Expressions.shingles(c, n, distinct = true)

  /** MinHash signature: k permutations; signature[j] = min over the
    * shingle set of hash_j(shingle). One array column per doc — no
    * explode, no shuffle; the signature computes map-side wherever the
    * doc row lives.
    *
    * Evolution note: the k × array_min(transform(...)) form replicated
    * the shingle pipeline k times after projection collapse (267 s at
    * sf0.01); a single array-accumulator aggregate fixed that but still
    * ran as interpreted higher-order lambdas (~30 s at sf0.1). Now a
    * native kernel (graft.plans.MinHashKernel): one xxhash64 per
    * shingle + k splitmix mixes in a primitive JVM loop, codegen-callable.
    */
  def minhashSig(shingleSet: Column, k: Int): Column =
    graft.plans.Expressions.minhashSig(shingleSet, k)

  /** LSH banding of a MinHash signature: `bands` hashes of `r`-row slices,
    * as an array of (band, bh) structs. Two docs with Jaccard s collide in
    * at least one band with p = 1-(1-s^r)^bands — with (bands=32, r=4) the
    * miss probability at s=0.8 is ~5e-8, which is what makes the
    * LSH result safely comparable against a brute-force oracle.
    */
  def bandHashes(sig: Column, bands: Int, r: Int): Column =
    array((0 until bands).map { b =>
      val slice = (0 until r).map(j => element_at(sig, b * r + j + 1))
      struct(lit(b).as("band"), xxhash64((lit(b) +: slice): _*).as("bh"))
    }: _*)

  /** 32-bit SimHash over the word multiset. Word hash = first 8 hex digits
    * of md5 as a 32-bit integer (so a DuckDB oracle can reproduce it
    * bit-for-bit); per bit i, sum ±1 over words and set the bit when the
    * sum is positive.
    *
    * Single aggregate with a 32-long array accumulator — same rationale as
    * [[minhashSig]]: 32 separate per-bit aggregates would replicate the
    * md5 pipeline 32× after projection collapse. Bit i is extracted as
    * floor(wh / 2^i) % 2 (powers of two are exact doubles, wh < 2^32, so
    * the division is exact) because shiftright only takes literal shifts.
    */
  def simhash32(c: Column): Column =
    graft.plans.Expressions.simhash32(words(c))

  /** DuckDB oracle twin of [[simhash32]] (generated SQL over `documents`).
    * Kept beside the Spark expression so the two stay in lockstep. The
    * 32-bit word hash is recomposed from hex digits via strpos (DuckDB has
    * no base-conversion function); bit tests use integer shifts, which for
    * non-negative values equal the floor-division form the Spark side uses.
    */
  def simhash32OracleSql: String = {
    val wh = (0 until 8).map { p =>
      s"(strpos('0123456789abcdef', substr(m, ${p + 1}, 1))-1)*${1L << (4 * (7 - p))}"
    }.mkString(" + ")
    val sums = (0 until 32).map { i =>
      s"SUM(CASE WHEN (wh >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s_$i"
    }.mkString(", ")
    val recompose = (0 until 32)
      .map(i => s"CASE WHEN s_$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH w AS (SELECT doc_id,
          unnest(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)), '[\\s\\x0B]+')) AS word
        FROM documents),
      h AS (SELECT doc_id, md5(word) AS m FROM w),
      wb AS (SELECT doc_id, $wh AS wh FROM h),
      b AS (SELECT doc_id, $sums FROM wb GROUP BY doc_id)
      SELECT doc_id, $recompose AS simhash FROM b ORDER BY doc_id"""
  }

  /** Count non-overlapping occurrences of word `m` in space-padded
    * normalized text — the split-count trick, identical semantics in Spark
    * (regex split, all-literal pattern) and DuckDB (string_split).
    */
  def markerCount(c: Column, m: String): Column = {
    val padded = concat(lit(" "), normalize(c), lit(" "))
    size(split(padded, s" $m ", -1)) - 1
  }

  /** Language-marker word lists for the n-gram/stopword language-ID
    * heuristic (SURVEY-mandated text op; the heuristic itself is the spec —
    * its oracle recomputes the same counts). Deterministic precedence
    * order = list order below.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "de" -> Seq("window", "hash"),
    "es" -> Seq("data", "row"),
    "fr" -> Seq("query", "table"),
    "zh" -> Seq("spark", "stream"))

  /** Per-language marker score (Column-composition form; the hot queries
    * go through the one-pass [[langPredict]] kernel profile instead).
    */
  def langScore(c: Column, lang: String): Column =
    langMarkers.toMap.apply(lang)
      .map(m => markerCount(c, m))
      .reduce(_ + _)

  /** Predicted language: argmax of marker scores with fixed precedence
    * (earlier language wins ties — including the all-zero case). All
    * marker counts come from ONE text_profile pass (the when-chain
    * previously duplicated the 10-markerCount pipeline per branch after
    * projection collapse; TextPropsSpec pins kernel ≡ composition).
    */
  def langPredict(c: Column): Column = {
    val allMarkers = langMarkers.flatMap(_._2)
    val counts = graft.plans.Expressions.textProfile(c, allMarkers)
      .getField("counts")
    var idx = 0
    val scores = langMarkers.map { case (l, ms) =>
      l -> ms.map { _ => idx += 1; element_at(counts, idx) }.reduce(_ + _)
    }
    def chain(rest: Seq[(String, Column)]): Column = rest match {
      case (l, s) +: tail if tail.nonEmpty =>
        when(tail.map(t => s >= t._2).reduce(_ && _), lit(l))
          .otherwise(chain(tail))
      case Seq((l, _)) => lit(l)
    }
    chain(scores)
  }

  /** Stopword set for the quality score. */
  val stopwords: Seq[String] = Seq("the", "a", "of")

  /** Heuristic document-quality score in [0,100]:
    * 0.5·stopword-ratio + 0.3·length-saturation(50 words) + 0.2·alpha-ratio,
    * scaled ×100. Rational arithmetic only (no exp/log — libm rounding
    * differs across engines and would break the oracle hash-match).
    *
    * All three gauges come from ONE text_profile kernel pass. The retired
    * Column form ran the two normalize regexps + a split per stopword AND
    * an interpreted filter(rlike) lambda for the alpha ratio — the same
    * higher-order-function tax the shingle/cosine kernels eliminated.
    * Semantics are identical (TextPropsSpec pins kernel ≡ composition;
    * the DuckDB oracles are unchanged).
    */
  def qualityScore(c: Column): Column = {
    val p = graft.plans.Expressions.textProfile(c, stopwords)
    val wc = p.getField("wc")
    val stopCount = stopwords.indices
      .map(i => element_at(p.getField("counts"), i + 1)).reduce(_ + _)
    val alphaCount = p.getField("alpha")
    val stopRatio = stopCount.cast("double") / wc
    val lenSat = least(wc, lit(50)).cast("double") / 50.0d
    val alphaRatio = alphaCount.cast("double") / wc
    Core.round4(lit(100.0d) * (lit(0.5d) * stopRatio + lit(0.3d) * lenSat
      + lit(0.2d) * alphaRatio))
  }

  /** PII patterns for the t16 redaction pass. Deliberately restricted to
    * the Java∩RE2-compatible regex subset (no lookaround, no backrefs) so
    * the DuckDB oracle evaluates the SAME pattern strings verbatim.
    */
  val emailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern: String =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Count of non-overlapping matches of `pattern` in `c`. */
  def piiCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0))).cast("long")

  /** Mask every email as <EMAIL>, then every IPv4 as <IP>. Email first:
    * its pattern can span dots and digits, an already-masked IP cannot
    * resemble an email. Idempotent — the mask tokens match neither
    * pattern.
    */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, emailPattern, "<EMAIL>"),
      ipv4Pattern, "<IP>")
}
