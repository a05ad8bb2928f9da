package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression,
  GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Fixed-point dot product over two float-embedding arrays:
  * Σ floor(a[i]·b[i]·1e16) as LONG — the deterministic cosine kernel
  * (see operators/Similarity: integer accumulation makes the result
  * independent of order and bit-identical across engines).
  *
  * A JVM loop, not the Column-API form (aggregate ∘ zip_with lambdas):
  * that is a higher-order function, which Spark always interprets — at
  * sf0.1 the 12.5M-pair brute-force scorer spent 74 s in lambda
  * interpretation. Called through [[Expressions.dotScaled]], this loop
  * runs inside whole-stage codegen like any built-in, cutting the same
  * query to a few seconds. Semantics are identical to the lambda form
  * (floor of each double product, long sum).
  */
object DotScaledKernel {
  def dot(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += math.floor(x.getFloat(i).toDouble * y.getFloat(i).toDouble * 1e16)
        .toLong
      i += 1
    }
    s
  }
}

/** JVM kernel for MinHash signatures: ONE xxhash64 of each shingle's
  * bytes, then k splitmix64 finalizer mixes — instead of k full string
  * hashes per shingle (the seeded-xxhash64 lambda family). Generated and
  * interpreted evaluation both make the same one call, so the per-row
  * cost is one JVM call with a tight primitive loop either way.
  */
object MinHashKernel {
  private final val GOLDEN = 0x9e3779b97f4a7c15L

  @inline private def mix(seed: Long): Long = {
    var z = seed + GOLDEN
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def sig(arr: ArrayData, k: Int): ArrayData = {
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val base = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var j = 0
      while (j < k) {
        val h = mix(base ^ (j.toLong * GOLDEN))
        if (h < out(j)) out(j) = h
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Kernel for word-n-gram shingling of raw text: lower/trim/split on
  * whitespace runs, join n-grams with single spaces, optionally distinct
  * (first-occurrence order, matching array_distinct). Semantics mirror
  * the SQL form exactly (regexp_split_to_array(trim(lower(text)),'\s+')
  * and w[i:i+n-1] joins in the DuckDB oracles); ROOT-locale lowercasing
  * matches UTF8String/DuckDB ASCII behavior on this data.
  *
  * Whitespace is PINNED to the Java `\s` six: space \t \n \x0B \f \r —
  * edge-stripping uses that explicit class, NOT String.trim (which eats
  * every char <= U+0020: a doc starting with a C0 control would shingle
  * differently here than in Text.normalize and the two-arg-trim
  * oracles). Known residue: RE2's `\s` (DuckDB's split) excludes \x0B,
  * so an INTERIOR vertical tab still tokenizes differently — accepted,
  * documented, absent from the fixtures.
  */
object ShingleKernel {
  // precompiled: this kernel runs once per corpus row from the codegen'd
  // call — String.replaceAll/split(regex) would Pattern.compile
  // (plus re-scan) on EVERY row
  private val EdgeWs = java.util.regex.Pattern
    .compile("^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$")
  private val WsRun = java.util.regex.Pattern.compile("\\s+")

  def shingles(text: org.apache.spark.unsafe.types.UTF8String, n: Int,
               distinct: Boolean): ArrayData = {
    val words = WsRun.split(
      EdgeWs.matcher(text.toString.toLowerCase(java.util.Locale.ROOT))
        .replaceAll(""))
    val m = words.length - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val sb = new java.lang.StringBuilder(64)
    val out: Seq[String] =
      if (distinct) {
        val seen = new java.util.LinkedHashSet[String](m * 2)
        var i = 0
        while (i < m) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(words(i + j)); j += 1
          }
          seen.add(sb.toString); i += 1
        }
        import scala.jdk.CollectionConverters._
        seen.asScala.toSeq
      } else {
        (0 until m).map { i =>
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(words(i + j)); j += 1
          }
          sb.toString
        }
      }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
  }
}

/** Kernel for FUSED shingle hashing: `xxhash64(shingle)` for every word
  * n-gram of a text column, without ever materializing the shingle
  * strings. The observation that makes it free: after
  * [[NormalizeKernel]] normalization (single interior spaces, stripped
  * edges) the space-joined n-gram of words i..i+n-1 IS the contiguous
  * byte slice of the normalized text from word i's first byte to word
  * i+n-1's last byte — so each hash is one `XXH64.hashUnsafeBytes` over
  * a slice of the ONE normalized buffer, with Spark's string seed (42).
  *
  * Bit-compatibility: equal bytes → equal hash, so the output is
  * element-wise identical to `xxhash64(shingles(text, n)[i])` — pinned
  * in TextPropsSpec — and every DuckDB twin that joins on the gram
  * STRING keeps matching (the operator side joins on the hash, the
  * declared 2⁻⁶⁴ collision tradeoff). The only divergence window is
  * non-ASCII lowercasing, where this kernel follows `lower()`/ICU (via
  * NormalizeKernel) while [[ShingleKernel]] uses java ROOT-locale — on
  * the six Java `\s` whitespace chars and A-Z the two are identical.
  *
  * Why it exists (r15): d17_substring_runs exploded ~2G gram STRINGS at
  * the 1000× decade — StringBuilder + UTF-16→UTF-8 encode + one
  * UTF8String per gram, all discarded immediately after `xxhash64` —
  * and its decade marginal was allocation-bound exactly like the CDC
  * kernel before the single-block MD5 (PLANS.md r15). Here the per-row
  * allocations are the normalized buffer, one int[] of word starts, and
  * the output long[] — nothing per-gram.
  */
object ShingleHashKernel {
  def hashes(text: org.apache.spark.unsafe.types.UTF8String, n: Int,
             useICU: Boolean): ArrayData = hashes(text, n, 1, useICU)

  /** Strided variant (r16): emit only every `stride`-th window — window
    * starts 0, stride, 2·stride, … — for NON-OVERLAPPING chunkers
    * (d15's w-word boilerplate chunks use stride = n). Equivalent to
    * taking every stride-th element of the stride-1 output (pinned in
    * TextPropsSpec), but skipped windows are never hashed, so a
    * stride-n caller does 1/n of the hash work and emits 1/n of the
    * rows the old posexplode + `pos % n = 0` filter shape exploded and
    * then threw away.
    */
  def hashes(text: org.apache.spark.unsafe.types.UTF8String, n: Int,
             stride: Int, useICU: Boolean): ArrayData = {
    val norm = NormalizeKernel.normalize(text, useICU)
    val base = norm.getBaseObject
    val off = norm.getBaseOffset
    val len = norm.numBytes
    if (len == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    // word starts: byte 0 and every byte after a space (normalized text
    // has exactly single interior spaces and no edge whitespace)
    var words = 1
    var i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20)
        words += 1
      i += 1
    }
    val total = words - n + 1
    if (total <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val starts = new Array[Int](words)
    var w = 1
    i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        starts(w) = i + 1; w += 1
      }
      i += 1
    }
    val m = (total - 1) / stride + 1
    val out = new Array[Long](m)
    var gi = 0
    var g = 0
    while (gi < m) {
      val s = starts(g)
      // end of word g+n-1: next word's start minus the separating space,
      // or the buffer end for the final window
      val e = if (g + n < words) starts(g + n) - 1 else len
      out(gi) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + s, e - s, 42L)
      gi += 1
      g += stride
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Driver-side packed PQ codebook for [[PqAssignKernel]]: per subspace the
  * code ids ASCENDING (the tie order), their codewords (jagged — a seed
  * codeword sliced from a truncated vector can be shorter than `sub`,
  * and dotScaled truncates at the shorter operand), and their
  * scaled-long norms. Artifact-sized by construction (m × ≤kCodes rows),
  * so collecting it is one tiny driver job — the n15 LUT-geometry
  * precedent.
  */
case class PqAssignBook(m: Int, sub: Int,
                        codes: Array[Array[Long]],
                        words: Array[Array[Array[Float]]],
                        norms: Array[Array[Long]]) {
  require(m >= 1 && sub >= 1 && codes.length == m &&
    words.length == m && norms.length == m,
    s"PqAssignBook: inconsistent geometry m=$m sub=$sub")
  (0 until m).foreach { j =>
    require(codes(j).nonEmpty && codes(j).length == words(j).length &&
      codes(j).length == norms(j).length,
      s"PqAssignBook: subspace $j has no codewords or ragged arrays")
  }

  // case-class equality over nested Arrays degrades to reference
  // identity, which would defeat expression canonicalization /
  // subexpression elimination on two logically identical pq_assign calls
  // (r15 advice) — compare and hash by CONTENT
  override def equals(other: Any): Boolean = other match {
    case o: PqAssignBook =>
      m == o.m && sub == o.sub &&
        java.util.Arrays.deepEquals(
          codes.asInstanceOf[Array[AnyRef]], o.codes.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.deepEquals(
          words.asInstanceOf[Array[AnyRef]], o.words.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.deepEquals(
          norms.asInstanceOf[Array[AnyRef]], o.norms.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode(): Int = {
    var h = 31 * m + sub
    h = 31 * h + java.util.Arrays.deepHashCode(codes.asInstanceOf[Array[AnyRef]])
    h = 31 * h + java.util.Arrays.deepHashCode(words.asInstanceOf[Array[AnyRef]])
    31 * h + java.util.Arrays.deepHashCode(norms.asInstanceOf[Array[AnyRef]])
  }
}

/** Kernel for corpus-scale PQ code assignment: all m per-subspace
  * argmins of one vector in a single JVM loop against the broadcast-by-
  * reference codebook. Replaces the long-form shape (slice-explode to
  * m rows/vector, ×|codebook| candidate join, min_by SortAggregate) for
  * the ENCODE side — the candidate blow-up was m·K× the corpus
  * (measured: 640M in-flight rows and a disk-filling sort spill
  * encoding 2M vectors at the 1000× replica) for an argmin whose math
  * is m·K·sub multiplies per vector.
  *
  * Bit-identity with [[graft.operators.SimilarityPq]]'s pqAssign:
  * same scaled-long floors (floor(a·b·1e16) per element, the
  * DotScaledKernel math), same d2 = normScaled(cw) − 2·dotScaled(sv, cw),
  * same (d2, code) total order (codes scanned ascending, strict <
  * keeps the lowest code at ties), same truncation semantics for
  * short vectors/codewords. Pinned in SimilaritySpec.
  */
object PqAssignKernel {
  def assign(e: ArrayData, b: PqAssignBook): ArrayData = {
    val nA = e.numElements()
    val out = new Array[Long](b.m)
    var j = 0
    while (j < b.m) {
      val cs = b.codes(j)
      val ws = b.words(j)
      val ns = b.norms(j)
      val base = j * b.sub
      val avail = math.max(0, math.min(b.sub, nA - base))
      var bestD2 = Long.MaxValue
      var best = 0L
      var c = 0
      while (c < cs.length) {
        val w = ws(c)
        val lim = math.min(avail, w.length)
        var dot = 0L
        var i = 0
        while (i < lim) {
          dot += math.floor(
            e.getFloat(base + i).toDouble * w(i).toDouble * 1e16).toLong
          i += 1
        }
        val d2 = ns(c) - 2L * dot
        if (d2 < bestD2) { bestD2 = d2; best = cs(c) }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Kernel for the 32-bit SimHash over a words array — the
  * identical math to the SQL form (md5 first 8 hex digits as a 32-bit
  * word hash, per-bit ±1 sums, bit set when positive) in one JVM loop.
  */
object SimHashKernel {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def simhash32(words: ArrayData): Long = {
    val sums = new Array[Int](32)
    val md = digest.get()
    val n = words.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      val h = md.digest(words.getUTF8String(i).getBytes)
      val wh = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      var b = 0
      while (b < 32) {
        if (((wh >> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (sums(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Kernel for character n-grams of a text column: all length-n codepoint
  * windows, in order, duplicates kept (the trigram-profile input). Empty
  * array when the text has fewer than n codepoints — the same contract as
  * the SQL `generate_series(1, length(t)-n+1)` form, which emits nothing
  * for short strings. Codepoint (not UTF-16 unit) windows match Spark's
  * `substr` and DuckDB's `substr` character semantics.
  */
object CharNgramKernel {
  def ngrams(text: org.apache.spark.unsafe.types.UTF8String,
             n: Int): ArrayData = {
    val s = text.toString
    // codepoint boundaries as UTF-16 offsets: b(0)=0 .. b(cp)=s.length
    val cp = s.codePointCount(0, s.length)
    val m = cp - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val b = new Array[Int](cp + 1)
    var i = 0
    var off = 0
    while (i < cp) {
      b(i) = off
      off += Character.charCount(s.codePointAt(off))
      i += 1
    }
    b(cp) = s.length
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      out(i) = org.apache.spark.unsafe.types.UTF8String
        .fromString(s.substring(b(i), b(i + n)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Kernel for the one-pass text profile: word count,
  * all-alpha token count, and non-overlapping marker-word counts, over
  * the canonical normalization (lower, strip edges, collapse whitespace
  * runs). Semantics replicate the Column composition EXACTLY:
  *
  *  - wc = size(split(normalize(text), " ")) — empty normalized text
  *    splits to [""], so wc is 1, never 0;
  *  - alpha = count of tokens matching ^[a-z]+$ (the empty token fails);
  *  - counts(i) = size(split(" "+normalize(text)+" ", " mᵢ ", -1)) - 1 —
  *    the split-count trick, i.e. NON-overlapping left-to-right matches
  *    of the space-padded marker (adjacent repeats separated by a single
  *    space count once; the DuckDB string_split twin agrees), which is
  *    precisely Java's indexOf-advance loop.
  *
  * CONTRACT: markers are matched LITERALLY (indexOf), never as regexes.
  * The retired regex-split Column form agreed with this only for markers
  * free of regex metacharacters; the kernel is the spec now, so a marker
  * like "a.c" counts occurrences of the three characters `a.c`, not
  * "a, anything, c" (r6 review).
  *
  * Why a kernel: the quality/language queries referenced markerCount up
  * to 10× per row, each re-running the two normalize regexps plus a
  * split, and the alpha ratio used filter(_.rlike(...)) — an interpreted
  * higher-order lambda (the same tax the shingle/dot kernels already
  * eliminated). This is one normalize+scan per evaluation, inside
  * whole-stage codegen.
  */
object TextProfileKernel {
  @inline private def isWs(c: Char): Boolean = // Java regex \s
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  /** @param padded markers pre-padded as " marker " */
  def profile(text: org.apache.spark.unsafe.types.UTF8String,
              padded: Array[String]): InternalRow = {
    // UTF8String.toLowerCase is exactly what Spark's lower() evaluates, so
    // the kernel and the Column composition it replaced agree byte-for-byte
    // on every input (Locale.ROOT differed from lower() on non-ASCII text
    // under non-default JVM locales, e.g. Turkish dotted-I — r6 review).
    val lower = text.toLowerCase.toString
    // tokenize on whitespace runs; build the normalized (single-space
    // joined) form in the same pass
    val tokens = new scala.collection.mutable.ArrayBuffer[String](32)
    val sb = new java.lang.StringBuilder(lower.length + 2)
    sb.append(' ')
    var i = 0
    val n = lower.length
    var alpha = 0
    while (i < n) {
      while (i < n && isWs(lower.charAt(i))) i += 1
      if (i < n) {
        val start = i
        var allAlpha = true
        while (i < n && !isWs(lower.charAt(i))) {
          val c = lower.charAt(i)
          if (c < 'a' || c > 'z') allAlpha = false
          i += 1
        }
        if (tokens.nonEmpty) sb.append(' ')
        sb.append(lower, start, i)
        tokens += lower.substring(start, i)
        if (allAlpha) alpha += 1
      }
    }
    sb.append(' ')
    val paddedText = sb.toString // " " + normalized + " "
    val wc = if (tokens.isEmpty) 1 else tokens.length
    val counts = new Array[Int](padded.length)
    var m = 0
    while (m < padded.length) {
      val pat = padded(m)
      var cnt = 0
      var from = paddedText.indexOf(pat)
      while (from >= 0) {
        cnt += 1
        from = paddedText.indexOf(pat, from + pat.length)
      }
      counts(m) = cnt
      m += 1
    }
    new GenericInternalRow(Array[Any](wc, alpha,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)))
  }
}

/** Kernel for random-hyperplane LSH bucket codes: `tables`
  * independent sign-bit codes of `bits` bits each over a float-embedding
  * array. The ±1 plane weights are derived on the fly from a seeded
  * splitmix64 (identical to the retired Column-form planeWeights seq), so
  * the codes are fixed across runs, partitions and engines. One JVM loop
  * replaces tables×bits interpreted aggregate∘zip_with lambdas — the same
  * interpretation tax dot_scaled already eliminated for the scorer.
  */
object LshKernel {
  private final val GOLDEN = 0x9e3779b97f4a7c15L

  @inline private def mix(seed: Long): Long = {
    var z = seed + GOLDEN
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Plane-weight sign for (table, bit, dim): true = negate the
    * coordinate. Drawn from splitmix64(t·1000003 + b·131 + d) — exposed so
    * the n2/n5 DuckDB oracles can inline the identical sign matrix as SQL
    * literals (the weights are data-independent constants).
    */
  def signNeg(t: Int, b: Int, d: Int): Boolean =
    (mix(t.toLong * 1000003L + b.toLong * 131L + d) & 1L) == 0L

  /** codes(emb)[t] = Σ_b [proj_{t,b} > 0] << b, with
    * proj_{t,b} = Σ_d floor(±emb[d]·1e16) accumulated as a LONG — the
    * repo-wide scaled-long determinism policy (see Similarity.dotScaled):
    * each term is an exact integer, so the sum — and therefore the code
    * bit — is independent of accumulation order and bit-identical across
    * partitionings AND engines, which is what lets n2/n5 carry full
    * DuckDB oracles. (The double-sum form this replaces was only
    * order-deterministic within one engine.)
    */
  def codes(emb: ArrayData, tables: Int, bits: Int): ArrayData = {
    val dim = emb.numElements()
    val x = new Array[Double](dim)
    var d = 0
    while (d < dim) { x(d) = emb.getFloat(d).toDouble; d += 1 }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var code = 0L
      var b = 0
      while (b < bits) {
        var proj = 0L
        var i = 0
        while (i < dim) {
          val z = mix(t.toLong * 1000003L + b.toLong * 131L + i)
          val v = if ((z & 1L) == 0L) -x(i) else x(i)
          proj += math.floor(v * 1e16).toLong
          i += 1
        }
        if (proj > 0L) code |= (1L << b)
        b += 1
      }
      out(t) = code
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Kernel for SQ8 scalar quantization: encode an
  * array<float> embedding to ONE BYTE per dimension under broadcast
  * per-dimension (mn, mx) bounds — the true 4×-under-float32 artifact —
  * and decode the byte codes back to the float values an SQ8 index
  * scores with. The arithmetic is EXACTLY the Column-form
  * operators/Similarity.sq8Dequant round-trip (CodegenParitySpec pins
  * the equality): code = mx==mn ? 0 : clamp₀₂₅₅(floor((x−mn)·255/span)),
  * dequant = (float)(mn + code·span/255) — fixed-order IEEE, so the
  * kernel, the interpreted Column form, and the n10 DuckDB oracle agree
  * bit-for-bit. Codes 0..255 live in the raw byte (read back & 0xff).
  */
object Sq8Kernel {
  /** Bounds arrays must cover the vector exactly — a stats row trained
    * on a different dimension would otherwise read past the end of an
    * UnsafeArrayData (no bounds check → adjacent-row garbage, silently
    * wrong codes). Same fail-fast contract as pqEncode's width guard.
    */
  private def requireDim(dim: Int, mns: ArrayData, mxs: ArrayData): Unit =
    if (mns.numElements() != dim || mxs.numElements() != dim)
      throw new IllegalArgumentException(
        s"sq8: bounds length ${mns.numElements()}/${mxs.numElements()} " +
          s"!= vector dimension $dim — stats trained on a different " +
          "embedding dimension")

  def encode(emb: ArrayData, mns: ArrayData, mxs: ArrayData): Array[Byte] = {
    val dim = emb.numElements()
    requireDim(dim, mns, mxs)
    val out = new Array[Byte](dim)
    var i = 0
    while (i < dim) {
      val x = emb.getFloat(i).toDouble
      // math.floor(NaN).toLong is 0, so a NaN/Inf dimension would
      // SILENTLY encode as code 0 (decoding to mn) while the interpreted
      // Column form and the DuckDB twin propagate NULL/NaN — a corrupt
      // vector would diverge between kernel, Column, and oracle instead
      // of failing. Same loud-failure contract as requireDim.
      if (!java.lang.Double.isFinite(x))
        throw new IllegalArgumentException(
          s"sq8: non-finite embedding value $x at dimension $i — " +
            "SQ8 codes are defined only over finite inputs; clean the " +
            "vector (or drop the row) before encoding")
      val mn = mns.getDouble(i)
      val mx = mxs.getDouble(i)
      val code =
        if (mx == mn) 0L
        else math.min(255L, math.max(0L,
          math.floor((x - mn) * 255.0d / (mx - mn)).toLong))
      out(i) = code.toByte
      i += 1
    }
    out
  }

  def dequant(codes: Array[Byte], mns: ArrayData, mxs: ArrayData)
      : ArrayData = {
    val dim = codes.length
    requireDim(dim, mns, mxs)
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val mn = mns.getDouble(i)
      val mx = mxs.getDouble(i)
      val code = (codes(i) & 0xff).toDouble
      out(i) = (mn + code * (mx - mn) / 255.0d).toFloat
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Kernel for PACKED-code PQ ADC scoring — the byte-laid-out
  * serving form of the long-form (vec_id, sub, code) ADC in
  * operators/Similarity (reference behavior: api's trade-similarity
  * shortlists; layout follows FAISS's public packed-codes convention):
  * a candidate's m codebook ids live in ONE binary column (one byte per
  * subspace, dense contiguous ids), and a probe's whole lookup table is
  * two flattened long arrays — partial dots and codeword norms, indexed
  * `sub·K + dense`. One kernel call then scores a (probe, candidate)
  * pair in an m-step loop INSIDE whole-stage codegen, replacing the
  * long-form path's m-row join + per-pair aggregation — an m× row
  * reduction before the shuffle. The partial dots/norms are the same
  * scaled longs [[DotScaledKernel]] produces and integer addition
  * commutes, so the packed score is bit-identical to the long-form
  * `adcCollapse` sums (parity pinned in SimilaritySpec).
  */
object PqAdcKernel {
  /** Score one packed candidate against one probe's flattened LUT:
    * returns [adot, rnorm] (scaled-long approximate dot and
    * reconstructed-candidate norm). K is derived from the LUT length —
    * `pdot`/`cn` must be equal-length positive multiples of m, and every
    * dense code must index inside its subspace block; violations mean
    * the codes were packed against a DIFFERENT codebook than the LUT was
    * built from, and fail loudly (the requireDim contract of
    * [[Sq8Kernel]]) instead of serving garbage neighbors.
    */
  def adc(codes: Array[Byte], pdot: ArrayData, cn: ArrayData): ArrayData = {
    val m = codes.length
    val lutLen = pdot.numElements()
    if (m == 0 || lutLen == 0 || lutLen % m != 0 ||
      cn.numElements() != lutLen)
      throw new IllegalArgumentException(
        s"pq_adc: LUT lengths $lutLen/${cn.numElements()} are not equal " +
          s"positive multiples of m=$m — codes and LUT come from " +
          "different codebook geometries")
    val k = lutLen / m
    var adot = 0L
    var rnorm = 0L
    var s = 0
    while (s < m) {
      val c = codes(s) & 0xff
      if (c >= k)
        throw new IllegalArgumentException(
          s"pq_adc: dense code $c at subspace $s outside the LUT's " +
            s"per-subspace range $k — packed against a different codebook")
      adot += pdot.getLong(s * k + c)
      rnorm += cn.getLong(s * k + c)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(adot, rnorm))
  }

  /** Fused ADC cosine — [[adc]]'s lookup loop folded with the final
    * cosine division (adot / (sqrt(pn) · sqrt(rnorm)), the exact IEEE
    * operation order of Similarity.cosineFromScaled, so results are
    * bit-identical to composing the primitives): returns ONE double and
    * allocates NOTHING per scored pair. This is the serving hot path —
    * the array-returning [[adc]] stays as the parity-testable primitive
    * (the contracts spec pins adcCos ≡ cosine∘adc); the small loop is
    * duplicated rather than shared through a tuple so neither form pays
    * an allocation it doesn't need.
    */
  def adcCos(codes: Array[Byte], pdot: ArrayData, cn: ArrayData,
             pn: Long): Double = {
    val m = codes.length
    val lutLen = pdot.numElements()
    if (m == 0 || lutLen == 0 || lutLen % m != 0 ||
      cn.numElements() != lutLen)
      throw new IllegalArgumentException(
        s"pq_adc_cos: LUT lengths $lutLen/${cn.numElements()} are not " +
          s"equal positive multiples of m=$m — codes and LUT come from " +
          "different codebook geometries")
    val k = lutLen / m
    var adot = 0L
    var rnorm = 0L
    var s = 0
    while (s < m) {
      val c = codes(s) & 0xff
      if (c >= k)
        throw new IllegalArgumentException(
          s"pq_adc_cos: dense code $c at subspace $s outside the LUT's " +
            s"per-subspace range $k — packed against a different codebook")
      adot += pdot.getLong(s * k + c)
      rnorm += cn.getLong(s * k + c)
      s += 1
    }
    adot.toDouble / (java.lang.Math.sqrt(pn.toDouble) *
      java.lang.Math.sqrt(rnorm.toDouble))
  }

  /** Pack an array of dense codebook ids (sub order) into one byte each.
    * Ids must fit the unsigned byte — PQ serving packs AT MOST 256
    * codewords per subspace (the FAISS byte-code convention); a wider
    * codebook fails loudly here rather than aliasing codewords.
    */
  def pack(dense: ArrayData): Array[Byte] = {
    val m = dense.numElements()
    val out = new Array[Byte](m)
    var i = 0
    while (i < m) {
      val d = dense.getLong(i)
      if (d < 0L || d > 255L)
        throw new IllegalArgumentException(
          s"pack_bytes: dense id $d at subspace $i outside the " +
            "unsigned-byte domain — packed PQ supports ≤256 codewords " +
            "per subspace")
      out(i) = d.toByte
      i += 1
    }
    out
  }
}

/** Kernel for the CDC boundary scan (Dedup.cdcChunks): one pass over the
  * normalized text emitting the chunk END positions — code-point index +
  * w for every w-char window whose md5 hex digest starts with '0'
  * (exactly `substring(md5(window), 1, 1) === "0"`, i.e. the digest's
  * top nibble is zero — the 1/16 boundary rule the DuckDB twin replays
  * verbatim). Replaces the posexplode(charNgrams) → filter(md5) →
  * groupBy(collect_list) → join-back chain: that shape materialized one
  * row PER CHARACTER of the corpus (~2.5B rows at the 1000× replica)
  * just to throw 15/16 of them away, and the join forced a second scan
  * of the normalized frame. Here the boundary set never leaves the row.
  * ASCII fast path digests windows straight from the UTF-8 bytes with
  * zero per-window allocation; the general path walks code points like
  * CharNgramKernel.
  */
object CdcKernel {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** MD5 round constants (RFC 1321 T table) and per-round left-rotation
    * amounts — spelled out, not derived from sin(), so the kernel's
    * bit-identity with `md5` rests on the published spec alone.
    */
  private val T: Array[Int] = Array(
    0xd76aa478, 0xe8c7b756, 0x242070db, 0xc1bdceee,
    0xf57c0faf, 0x4787c62a, 0xa8304613, 0xfd469501,
    0x698098d8, 0x8b44f7af, 0xffff5bb1, 0x895cd7be,
    0x6b901122, 0xfd987193, 0xa679438e, 0x49b40821,
    0xf61e2562, 0xc040b340, 0x265e5a51, 0xe9b6c7aa,
    0xd62f105d, 0x02441453, 0xd8a1e681, 0xe7d3fbc8,
    0x21e1cde6, 0xc33707d6, 0xf4d50d87, 0x455a14ed,
    0xa9e3e905, 0xfcefa3f8, 0x676f02d9, 0x8d2a4c8a,
    0xfffa3942, 0x8771f681, 0x6d9d6122, 0xfde5380c,
    0xa4beea44, 0x4bdecfa9, 0xf6bb4b60, 0xbebfbc70,
    0x289b7ec6, 0xeaa127fa, 0xd4ef3085, 0x04881d05,
    0xd9d4d039, 0xe6db99e5, 0x1fa27cf8, 0xc4ac5665,
    0xf4292244, 0x432aff97, 0xab9423a7, 0xfc93a039,
    0x655b59c3, 0x8f0ccc92, 0xffeff47d, 0x85845dd1,
    0x6fa87e4f, 0xfe2ce6e0, 0xa3014314, 0x4e0811a1,
    0xf7537e82, 0xbd3af235, 0x2ad7d2bb, 0xeb86d391)
  private val S: Array[Int] = Array(
    7, 12, 17, 22, 7, 12, 17, 22, 7, 12, 17, 22, 7, 12, 17, 22,
    5, 9, 14, 20, 5, 9, 14, 20, 5, 9, 14, 20, 5, 9, 14, 20,
    4, 11, 16, 23, 4, 11, 16, 23, 4, 11, 16, 23, 4, 11, 16, 23,
    6, 10, 15, 21, 6, 10, 15, 21, 6, 10, 15, 21, 6, 10, 15, 21)

  /** First digest byte of MD5 over `bytes[off, off+len)` for len ≤ 55 —
    * the whole message fits ONE padded 512-bit block, so this is one
    * 64-round transform into the caller's reusable 16-int block buffer
    * with ZERO allocation. The retired MessageDigest loop allocated a
    * 16-byte digest array PER WINDOW — one allocation per corpus
    * CHARACTER, ~2.5B at the 1000× replica, measured as a GC-bound
    * kernel stage (tools/CdcAudit r15; GCLocker retry warnings in the
    * scaling log). The digest's first byte is the low byte of the final
    * little-endian A word — all the boundary rule ever reads.
    */
  private def md5FirstByte(bytes: Array[Byte], off: Int, len: Int,
                           block: Array[Int]): Int = {
    // pack message || 0x80 || zeros || bitlen into 16 little-endian words
    var wi = 0
    while (wi < 16) { block(wi) = 0; wi += 1 }
    var i = 0
    while (i < len) {
      block(i >> 2) |= (bytes(off + i) & 0xff) << ((i & 3) << 3)
      i += 1
    }
    block(len >> 2) |= 0x80 << ((len & 3) << 3)
    block(14) = len << 3 // bit length (len ≤ 55, high word stays 0)
    var a = 0x67452301
    var b = 0xefcdab89
    var c = 0x98badcfe
    var d = 0x10325476
    var r = 0
    while (r < 64) {
      var f = 0
      var g = 0
      if (r < 16) { f = (b & c) | (~b & d); g = r }
      else if (r < 32) { f = (d & b) | (~d & c); g = (5 * r + 1) & 15 }
      else if (r < 48) { f = b ^ c ^ d; g = (3 * r + 5) & 15 }
      else { f = c ^ (b | ~d); g = (7 * r) & 15 }
      val tmp = d
      d = c
      c = b
      b = b + Integer.rotateLeft(a + f + T(r) + block(g), S(r))
      a = tmp
      r += 1
    }
    (a + 0x67452301) & 0xff
  }

  def ends(text: org.apache.spark.unsafe.types.UTF8String,
           w: Int): ArrayData = {
    val bytes = text.getBytes
    val s = text.toString
    val cp = s.codePointCount(0, s.length)
    val m = cp - w + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Int])
    val out = scala.collection.mutable.ArrayBuilder.make[Int]
    if (bytes.length == cp && w <= 55) {
      // all-ASCII: code points == bytes; one-block MD5 per window from
      // the shared byte array, one reused block buffer per CALL — the
      // hot loop allocates nothing
      val block = new Array[Int](16)
      var i = 0
      while (i < m) {
        if ((md5FirstByte(bytes, i, w, block) & 0xf0) == 0) out += i + w
        i += 1
      }
    } else {
      // general path (non-ASCII text or w > one MD5 block):
      // code-point boundaries as UTF-16 offsets, library MessageDigest
      val digest = mdLocal.get()
      val b = new Array[Int](cp + 1)
      var i = 0
      var off = 0
      while (i < cp) {
        b(i) = off
        off += Character.charCount(s.codePointAt(off))
        i += 1
      }
      b(cp) = s.length
      i = 0
      while (i < m) {
        digest.reset()
        val wb = s.substring(b(i), b(i + w))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if ((digest.digest(wb)(0) & 0xf0) == 0) out += i + w
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.result())
  }
}

/** Fused CDC chunk rows (r16): the whole
  * `starts = [1] ++ (cdc_ends+1)` / `posexplode` / `try_element_at`
  * next-start probe / `md5(substr(t, start, len))` chain of
  * Dedup.cdcChunks as ONE kernel pass per document, emitting the final
  * per-chunk rows directly: array<struct<chunk_ix, start, len,
  * chunk_fp>>, 1-based code-point `start`, lowercase-hex MD5 over the
  * chunk's UTF-8 bytes — field-identical to the expression chain
  * (pinned in DedupSpec).
  *
  * Why: in the chain form every exploded row dragged the full
  * normalized text plus the starts array through the Generate, the
  * `transform(_+1)` lambda ran interpreted, and each chunk paid a
  * `substr` copy + a commons-codec MessageDigest + hex round trip
  * (t25/d18 are the only unexplained growing 1000× marginals left —
  * VERDICT r15 #1/#2). Here the ASCII fast path hashes chunk byte
  * slices straight out of the ONE normalized buffer (no substring
  * copies), one reused ThreadLocal digest, and the Generate input is
  * the compact struct array — the text never crosses the explode.
  */
object CdcChunkKernel {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HEX = "0123456789abcdef".toCharArray

  private def hex16(d: Array[Byte]): org.apache.spark.unsafe.types.UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HEX(d(i) & 0xf).toByte
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out)
  }

  def chunkRows(text: org.apache.spark.unsafe.types.UTF8String,
                w: Int): ArrayData = {
    val endsArr = CdcKernel.ends(text, w)
    val nEnds = endsArr.numElements()
    val nChars = text.numChars()
    // starts (1-based code points): 1, then each end + 1
    val starts = new Array[Int](nEnds + 1)
    starts(0) = 1
    var i = 0
    while (i < nEnds) { starts(i + 1) = endsArr.getInt(i) + 1; i += 1 }
    val md = mdLocal.get()
    val bytes = text.getBytes
    val ascii = bytes.length == nChars
    val rows = scala.collection.mutable.ArrayBuilder.make[Any]
    // general path: per-code-point byte offsets for substring slicing
    var cpOff: Array[Int] = null
    if (!ascii) {
      cpOff = new Array[Int](nChars + 1)
      var c = 0
      var o = 0
      while (c < nChars) {
        cpOff(c) = o
        o += org.apache.spark.unsafe.types.UTF8String
          .numBytesForFirstByte(bytes(o))
        c += 1
      }
      cpOff(nChars) = bytes.length
    }
    i = 0
    while (i <= nEnds) {
      val st = starts(i)
      val nxt = if (i + 1 <= nEnds) starts(i + 1) else nChars + 1
      if (nxt > st) {
        md.reset()
        if (ascii) md.update(bytes, st - 1, nxt - st)
        else md.update(bytes, cpOff(st - 1), cpOff(nxt - 1) - cpOff(st - 1))
        rows += new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](i.toLong, st.toLong,
            (nxt - st).toLong, hex16(md.digest())))
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.result())
  }
}

/** Fused md5-nibble feature bucket (r17): the DSIR/t19 feature hash
  * `conv(substring(md5(f), 1, 4), 16, 10) % nBuckets` as ONE kernel —
  * bit-equivalent by construction (the first 4 hex chars of an MD5 are
  * the hex of digest bytes 0-1, so conv's base-16 parse is exactly
  * `(d0 << 8) | d1`, unsigned; the value is in [0, 65536) so Spark's
  * sign-follows-dividend remainder matches plain %). The expression
  * chain it replaces allocated a fresh MessageDigest + a 32-char hex
  * string + a substring + a NumberConverter parse PER FEATURE
  * OCCURRENCE (unigrams + bigrams ≈ 2× corpus words — the dominant t29
  * kernel at every decade); here: one ThreadLocal digest, no hex, no
  * parse. Callers needing cross-engine parity keep the md5 semantics
  * (the DuckDB twins replay substring(md5(...),1,4) verbatim and hash
  * the same bucket values).
  */
object Md5BucketKernel {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def bucket(f: org.apache.spark.unsafe.types.UTF8String,
             nBuckets: Int): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(f.getBytes)
    ((((d(0) & 0xff) << 8) | (d(1) & 0xff)).toLong) % nBuckets
  }
}

/** Kernel for the FUSED DSIR feature extraction (r17 session 2): every
  * unigram and space-joined bigram of the normalized text, each mapped
  * to its md5-nibble bucket — one `array<long>` per document, one
  * kernel pass. Replaces the union-of-two-branches Column composition
  * in [[graft.operators.Selection.features]], whose unigram and bigram
  * legs each re-ran the scan + NormalizeKernel + split over the corpus
  * (2 scans / 2 tokenizes per feature subtree in
  * plans/r17/t29_dsir_weights_before_fused.txt) and then materialized
  * every feature as a string (bigrams via concat) only to digest and
  * discard it.
  *
  * Bit-compatibility with the Column form, term by term:
  *  - words: [[NormalizeKernel]] output has single interior spaces and
  *    stripped edges, so `split(normalize(text), " ")` elements ARE the
  *    byte slices between 0x20 bytes — including the `[""]` that split
  *    returns for empty normalized text (one empty-string unigram, no
  *    bigram: m = words−1 = 0). Same normalize entry (ICU flag and
  *    all), so no ShingleKernel-style ROOT-locale divergence window.
  *  - bigram strings: `concat(w[i], ' ', w[i+1])` over single-spaced
  *    text IS the contiguous normalized slice from w[i]'s first byte to
  *    w[i+1]'s last — digested in place, never built.
  *  - bucket: identical arithmetic to [[Md5BucketKernel.bucket]]
  *    ((d0<<8|d1) % n, value in [0, 65536) so sign conventions agree);
  *    `MessageDigest.update(bytes, off, len)` over the slice equals
  *    md5 of the materialized feature byte-for-byte.
  * SelectionSpec pins kernel ≡ Column composition (multiset per doc) on
  * random + unicode + empty + null corpora; the DuckDB twins replay the
  * explicit SQL chain verbatim and stay green.
  *
  * Per-row allocations: the normalized buffer (+1 exact-size copy), one
  * int[] of word starts, the output Long array — nothing per feature
  * (the digest writes into a ThreadLocal 16-byte scratch).
  */
object FeatureBucketsKernel {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val digLocal = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }

  def buckets(text: org.apache.spark.unsafe.types.UTF8String,
              nBuckets: Int, useICU: Boolean): ArrayData = {
    val norm = NormalizeKernel.normalize(text, useICU)
    val bytes = norm.getBytes
    val len = bytes.length
    val md = mdLocal.get()
    val dig = digLocal.get()
    md.reset()
    def bucketOf(off: Int, sliceLen: Int): Long = {
      md.update(bytes, off, sliceLen)
      md.digest(dig, 0, 16) // completes AND resets the digest
      ((((dig(0) & 0xff) << 8) | (dig(1) & 0xff)).toLong) % nBuckets
    }
    if (len == 0) // split("", " ") = [""]: one empty-string unigram
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array(bucketOf(0, 0)))
    // word starts: byte 0 and every byte after a space (normalized
    // text has exactly single interior spaces, no edge whitespace)
    var words = 1
    var i = 0
    while (i < len) {
      if (bytes(i) == 0x20) words += 1
      i += 1
    }
    val starts = new Array[Int](words + 1)
    var w = 1
    i = 0
    while (i < len) {
      if (bytes(i) == 0x20) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(words) = len + 1 // sentinel: "start of the word past the end"
    val out = new Array[Long](words + (words - 1))
    i = 0
    while (i < words) { // unigrams: [start_i, start_{i+1} - 1)
      out(i) = bucketOf(starts(i), starts(i + 1) - 1 - starts(i))
      i += 1
    }
    i = 0
    while (i < words - 1) { // bigrams: [start_i, start_{i+2} - 1), the
      out(words + i) =      // single 0x20 separator digested in place
        bucketOf(starts(i), starts(i + 2) - 1 - starts(i))
      i += 1
    }
    // primitive UnsafeArrayData: the Generate consumer reads getLong
    // straight off the backing long[] — a GenericArrayData(Array[Any])
    // here boxed every feature bucket (2× corpus words of Long churn)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** [[FeatureBucketsKernel]]'s xxhash64 twin for the no-parity-contract
  * deployment bucket: `pmod(xxhash64(f), n)` per unigram/bigram slice,
  * same extraction pass (XXH64 straight over the normalized buffer —
  * Spark's string seed 42, pmod for the sign).
  */
object XxFeatureBucketsKernel {
  def buckets(text: org.apache.spark.unsafe.types.UTF8String,
              nBuckets: Int, useICU: Boolean): ArrayData = {
    val norm = NormalizeKernel.normalize(text, useICU)
    val bytes = norm.getBytes
    val len = bytes.length
    val base: AnyRef = bytes
    val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
    def bucketOf(start: Int, sliceLen: Int): Long = {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + start, sliceLen, 42L)
      val m = h % nBuckets
      if (m < 0) m + nBuckets else m
    }
    if (len == 0)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array(bucketOf(0, 0)))
    var words = 1
    var i = 0
    while (i < len) {
      if (bytes(i) == 0x20) words += 1
      i += 1
    }
    val starts = new Array[Int](words + 1)
    var w = 1
    i = 0
    while (i < len) {
      if (bytes(i) == 0x20) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(words) = len + 1
    val out = new Array[Long](words + (words - 1))
    i = 0
    while (i < words) {
      out(i) = bucketOf(starts(i), starts(i + 1) - 1 - starts(i))
      i += 1
    }
    i = 0
    while (i < words - 1) {
      out(words + i) = bucketOf(starts(i), starts(i + 2) - 1 - starts(i))
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** Unordered-pair combinations of a long array (r17, the d18 self-join
  * replacement): sort a defensive copy, emit every (a, b) with a < b —
  * C(n,2) struct rows. Sorting first makes the output independent of
  * the collect_list accumulation order, so the pair stream is
  * deterministic under any partitioning. Duplicate ids would emit a
  * (x, x)-adjacent pair only if the input carried duplicates; the d18
  * caller feeds DISTINCT (doc, fp) rows, so ids within a group are
  * unique by construction (and a < b stays strict).
  */
object PairCombosKernel {
  def pairs(docs: ArrayData): ArrayData = {
    val n = docs.numElements()
    val ids = new Array[Long](n)
    var i = 0
    while (i < n) { ids(i) = docs.getLong(i); i += 1 }
    java.util.Arrays.sort(ids)
    val out = new Array[Any](n * (n - 1) / 2)
    var o = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(o) = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](ids(i), ids(j)))
        o += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Kernel for Text.normalize: lowercase, strip ASCII-whitespace edges,
  * collapse interior whitespace runs to a single space — bit-identical
  * to `regexp_replace(regexp_replace(lower(c), "^\s+|\s+$", ""),
  * "\s+", " ")`, the form every DuckDB twin replays. The regex chain
  * round-trips UTF8String→java String→String→UTF8String twice and
  * allocates a Matcher + StringBuffer per row per regex; with normalize
  * feeding the fingerprint of EVERY document (d1/t5/t7/t25/d18/pipe1),
  * that's four full copies of the corpus in UTF-16. Here:
  *
  *  - Java regex `\s` (no UNICODE_CHARACTER_CLASS) matches exactly the
  *    six ASCII bytes {\t \n \x0B \f \r ' '}, and in UTF-8 no byte of a
  *    multi-byte sequence is < 0x80 — so the strip/collapse pass is a
  *    plain byte scan, Unicode-safe with no decoding.
  *  - All-ASCII text (one detection scan): lowercasing fuses into the
  *    same pass — ONE output allocation total (ICU and the JVM agree
  *    on A-Z, so the fused branch is collation-exact too).
  *  - Otherwise: `CollationSupport.Lower.exec` at the UTF8_BINARY
  *    collation with the session's ICU flag — the EXACT evaluation of
  *    Spark's `lower()` (4.x maps case via ICU by default;
  *    `UTF8String.toLowerCase` diverges on Σ-final and İ) — then the
  *    byte pass: two allocations, zero java-String round-trips, zero
  *    regex state.
  */
object NormalizeKernel {
  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** Strip/collapse ASCII whitespace over raw UTF-8 bytes; `lowerAscii`
    * additionally maps A-Z → a-z in the same pass (only valid when the
    * caller established the text is all-ASCII or already lowered).
    */
  private def wsPass(bytes: Array[Byte], lowerAscii: Boolean)
      : org.apache.spark.unsafe.types.UTF8String = {
    val n = bytes.length
    val out = new Array[Byte](n)
    var o = 0
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val b = bytes(i)
      if (isWs(b)) {
        pendingSpace = o > 0 // leading run strips; interior run pends
      } else {
        if (pendingSpace) { out(o) = 0x20; o += 1; pendingSpace = false }
        out(o) = if (lowerAscii && b >= 'A' && b <= 'Z') (b + 32).toByte
                 else b
        o += 1
      }
      i += 1
    }
    // a trailing run never flushed its pending space — stripped for free
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out, 0, o)
  }

  def normalize(text: org.apache.spark.unsafe.types.UTF8String,
                useICU: Boolean)
      : org.apache.spark.unsafe.types.UTF8String = {
    val bytes = text.getBytes
    var ascii = true
    var i = 0
    while (ascii && i < bytes.length) {
      if (bytes(i) < 0) ascii = false
      i += 1
    }
    if (ascii) wsPass(bytes, lowerAscii = true)
    else wsPass(
      org.apache.spark.sql.catalyst.util.CollationSupport.Lower
        .exec(text, org.apache.spark.sql.catalyst.util.CollationFactory
          .UTF8_BINARY_COLLATION_ID, useICU)
        .getBytes,
      lowerAscii = false)
  }
}

/** Session wiring for the kernels: an injectable
  * [[org.apache.spark.sql.SparkSessionExtensions]] hook for sessions built
  * with `.withExtensions(new GraftExtensions)` (or the
  * `spark.sql.extensions` conf), plus an idempotent runtime registrar for
  * sessions the caller doesn't control (the driver builds its own).
  * After either, the kernels are callable from SQL:
  * `SELECT dot_scaled(a.embedding, b.embedding) FROM ...`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftExtensions.injections.foreach(ext.injectFunction)
    ext.injectTableFunction(AsOfTableFunction.injection)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => PushFilterThroughAsOfJoin)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  /** Scalar arguments to these SQL builders are evaluated at registration
    * time, so anything non-foldable (a column reference) or null would
    * crash with an unbound-eval/NPE deep inside `eval` — fail with a clean
    * named error instead, mirroring AsOfTableFunction.str (r6 review).
    */
  private def foldedArg(fn: String, what: String, c: Column): Any = {
    val e = Bridge.expression(c)
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: $what must be a foldable literal, got $e")
    val v = e.eval(null)
    if (v == null) throw new IllegalArgumentException(
      s"$fn: $what must not be NULL")
    v
  }

  private def intArg(c: Column): Int =
    foldedArg("function", "argument", c) match {
      case n: Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"expected an integer literal, got $other")
    }

  private def markerArg(c: Column): String =
    foldedArg("text_profile", "marker", c) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"text_profile: markers must be string literals, got $other")
    }

  /** SQL function `name` built by the same [[Expressions]] wrapper the
    * DataFrame code calls, so each kernel call is written once.
    */
  private def fn(name: String)(build: Seq[Column] => Column)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(Expressions.getClass.getName.stripSuffix("$"), name),
      (args: Seq[Expression]) =>
        Bridge.expression(build(args.map(Bridge.column))))

  val injections: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("dot_scaled")(a => Expressions.dotScaled(a(0), a(1))),
    fn("minhash_sig")(a => Expressions.minhashSig(a(0), intArg(a(1)))),
    fn("shingles")(a =>
      Expressions.shingles(a(0), intArg(a(1)), a.lift(2).forall(d =>
        foldedArg("shingles", "distinct flag", d) == true))),
    fn("simhash32")(a => Expressions.simhash32(a(0))),
    fn("lsh_codes")(a =>
      Expressions.lshCodes(a(0), intArg(a(1)), intArg(a(2)))),
    fn("char_ngrams")(a => Expressions.charNgrams(a(0), intArg(a(1)))),
    fn("text_profile")(a =>
      Expressions.textProfile(a.head, a.tail.map(markerArg))),
    fn("pq_adc")(a => Expressions.pqAdc(a(0), a(1), a(2))),
    fn("pq_adc_cos")(a => Expressions.pqAdcCos(a(0), a(1), a(2), a(3))),
    fn("pack_bytes")(a => Expressions.packBytes(a(0))),
    // the SQL arg is cast to long exactly like the Column wrapper casts it
    // (r14 advice) — the Cast carries the type contract, so a
    // non-castable argument fails at analysis instead of
    // ClassCastException-ing on executors
    (FunctionIdentifier("heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHittersAgg].getName, "heavy_hitters"),
      (args: Seq[Expression]) =>
        HeavyHittersAgg(
          org.apache.spark.sql.catalyst.expressions.Cast(args(0),
            org.apache.spark.sql.types.LongType),
          intArg(Bridge.column(args(1))))),
    fn("cdc_ends")(a => Expressions.cdcEnds(a(0), intArg(a(1)))),
    fn("normalize_text")(a => Expressions.normalizeText(a(0))),
    fn("shingle_hashes")(a => Expressions.shingleHashes(a(0), intArg(a(1)))))

  /** Register into an already-built session (idempotent). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    injections.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(id, info, builder)
    }
}

/** Column wrappers for the kernels above. Each is ONE Spark
  * `StaticInvoke` of the kernel's static method: whole-stage codegen
  * emits `graft.plans.XKernel.fn(...)` and interpreted evaluation calls
  * the same method by reflection, so there is one call per kernel and no
  * hand-written eval/codegen pair to drift apart (CodegenParitySpec pins
  * the two evaluation modes equal). Null in any column argument gives
  * null out. Column arguments are declared with their input types, so
  * the analyzer casts a coercible argument and rejects the rest; scalar
  * parameters are checked here, when the column is built, and ride along
  * as literals.
  */
object Expressions {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
  import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType,
    FloatType, IntegerType, StringType, StructField, StructType}

  private val FloatArray = ArrayType(FloatType)
  private val LongArray = ArrayType(LongType)
  private val DoubleArray = ArrayType(DoubleType)
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)
  private def field(name: String, t: DataType) =
    StructField(name, t, nullable = false)

  /** `kernel.fn(cols..., consts...)`: Int/Boolean constants become typed
    * literals, any other object an ObjectType literal.
    */
  private def invoke(kernel: AnyRef, fn: String, out: DataType,
                     cols: (Column, DataType)*)(consts: Any*): Column = {
    val lits = consts.map {
      case v @ (_: Int | _: Boolean) => Literal(v)
      case o => Literal.fromObject(o)
    }
    Bridge.column(StaticInvoke(kernel.getClass, out, fn,
      cols.map(c => Bridge.expression(c._1)) ++ lits,
      cols.map(_._2) ++ lits.map(_.dataType),
      propagateNull = true, returnNullable = false))
  }

  /** The ICU case-mapping flag `lower()` evaluates with, resolved when the
    * column is built so executors never consult SQLConf.
    */
  private def useICU: Boolean = org.apache.spark.sql.internal.SQLConf.get
    .getConf(org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  /** [[DotScaledKernel]] (inputs: array<float> ×2). */
  def dotScaled(a: Column, b: Column): Column =
    invoke(DotScaledKernel, "dot", LongType, a -> FloatArray, b -> FloatArray)()

  /** [[MinHashKernel]]: array<string> shingles → array<long> of k minima. */
  def minhashSig(shingles: Column, k: Int): Column = {
    // scalar args arrive unvalidated from the SQL registration — reject
    // when the column is built, not with an ArrayIndexOutOfBounds mid-job
    require(k >= 1, s"minhash_sig: k must be >= 1, got $k")
    invoke(MinHashKernel, "sig", Longs, shingles -> ArrayType(StringType))(k)
  }

  /** [[ShingleKernel]]: string → array<string> of word n-grams. */
  def shingles(text: Column, n: Int, distinct: Boolean): Column = {
    require(n >= 1, s"shingles: n must be >= 1, got $n")
    invoke(ShingleKernel, "shingles", Strings, text -> StringType)(n,
      distinct)
  }

  /** [[SimHashKernel]] (input: array<string> words). */
  def simhash32(words: Column): Column =
    invoke(SimHashKernel, "simhash32", LongType,
      words -> ArrayType(StringType))()

  /** [[LshKernel]]: array<float> → array<long>, index = table. */
  def lshCodes(emb: Column, tables: Int, bits: Int): Column = {
    // bits >= 64 silently overflows `1L << b`; tables/bits <= 0 produce
    // garbage codes (ADVICE r5)
    require(tables >= 1, s"lsh_codes: tables must be >= 1, got $tables")
    require(bits >= 1 && bits <= 63,
      s"lsh_codes: bits must be in [1, 63], got $bits")
    invoke(LshKernel, "codes", Longs, emb -> FloatArray)(tables, bits)
  }

  /** [[Sq8Kernel.encode]] (array<float>, array<double>, array<double> →
    * binary — one byte per dimension).
    */
  def sq8Encode(emb: Column, mns: Column, mxs: Column): Column =
    invoke(Sq8Kernel, "encode", BinaryType, emb -> FloatArray,
      mns -> DoubleArray, mxs -> DoubleArray)()

  /** [[Sq8Kernel.dequant]] (binary, array<double>, array<double> →
    * array<float>).
    */
  def sq8Dequant(codes: Column, mns: Column, mxs: Column): Column =
    invoke(Sq8Kernel, "dequant", ArrayType(FloatType, containsNull = false),
      codes -> BinaryType, mns -> DoubleArray, mxs -> DoubleArray)()

  /** [[PqAdcKernel.adc]] (binary packed codes, array<long> pdot LUT,
    * array<long> cn LUT → array<long> [adot, rnorm]).
    */
  def pqAdc(codes: Column, pdot: Column, cn: Column): Column =
    invoke(PqAdcKernel, "adc", Longs, codes -> BinaryType,
      pdot -> LongArray, cn -> LongArray)()

  /** [[PqAdcKernel.adcCos]] (binary packed codes, array<long> pdot LUT,
    * array<long> cn LUT, long probe norm → double fused ADC cosine).
    */
  def pqAdcCos(codes: Column, pdot: Column, cn: Column,
               pn: Column): Column =
    invoke(PqAdcKernel, "adcCos", DoubleType, codes -> BinaryType,
      pdot -> LongArray, cn -> LongArray, pn -> LongType)()

  /** [[PqAdcKernel.pack]] (array<long> → binary; loud range check). */
  def packBytes(dense: Column): Column =
    invoke(PqAdcKernel, "pack", BinaryType, dense -> LongArray)()

  /** Bloom prune: the `big` rows whose `bigKey` might be among the
    * first column of `keys`. The filter is Spark's own
    * BloomFilterAggregate (the engine's runtime-filter sketch — not in
    * the public FunctionRegistry, so lifted through the bridge) over
    * xxhash64 of the key, sized for `items` keys in `bits` bits.
    * `scalar()` makes it a scalar subquery: planned lazily, built once,
    * broadcast as one small binary to a map-side BloomFilterMightContain
    * probe. False positives ride through, false negatives never happen —
    * so a prune followed by the exact join stays exact.
    */
  def bloomPrune(big: org.apache.spark.sql.DataFrame, bigKey: Column,
                 keys: org.apache.spark.sql.DataFrame, items: Long,
                 bits: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate
    import org.apache.spark.sql.functions.{col, xxhash64}
    val bloom = keys.agg(Bridge.column(new BloomFilterAggregate(
        Bridge.expression(xxhash64(col(keys.columns.head))),
        Literal(items), Literal(bits)).toAggregateExpression()).as("bf"))
      .scalar()
    big.filter(Bridge.column(BloomFilterMightContain(
      Bridge.expression(bloom), Bridge.expression(xxhash64(bigKey)))))
  }

  /** [[CharNgramKernel]]: string → array<string> of codepoint n-grams. */
  def charNgrams(text: Column, n: Int): Column = {
    // n <= 0 would drive the kernel into negative substring indexes
    // (ADVICE r5)
    require(n >= 1, s"char_ngrams: n must be >= 1, got $n")
    invoke(CharNgramKernel, "ngrams", Strings, text -> StringType)(n)
  }

  /** [[CdcKernel.ends]]: string → array<int> of chunk end positions. */
  def cdcEnds(text: Column, w: Int): Column = {
    require(w >= 1, s"cdc_ends: w must be >= 1, got $w")
    invoke(CdcKernel, "ends", ArrayType(IntegerType, containsNull = false),
      text -> StringType)(w)
  }

  /** [[CdcChunkKernel.chunkRows]]: string → array<struct<chunk_ix, start,
    * len, chunk_fp>> of CDC chunks.
    */
  def cdcChunkRows(text: Column, w: Int): Column = {
    require(w >= 1, s"cdc_chunk_rows: w must be >= 1, got $w")
    invoke(CdcChunkKernel, "chunkRows", ArrayType(StructType(Seq(
        field("chunk_ix", LongType), field("start", LongType),
        field("len", LongType), field("chunk_fp", StringType))),
      containsNull = false), text -> StringType)(w)
  }

  /** [[PairCombosKernel]]: array<bigint> → array<struct<a, b>> of
    * unordered id pairs (a < b).
    */
  def pairCombos(ids: Column): Column =
    invoke(PairCombosKernel, "pairs", ArrayType(StructType(Seq(
        field("a", LongType), field("b", LongType))), containsNull = false),
      ids -> LongArray)()

  /** [[Md5BucketKernel]]: `conv(substring(md5(f),1,4),16,10) % nBuckets`
    * of a string.
    */
  def md5Bucket(f: Column, nBuckets: Int): Column = {
    require(nBuckets >= 1 && 65536 % nBuckets == 0,
      s"md5_bucket: nBuckets must divide 2^16, got $nBuckets")
    invoke(Md5BucketKernel, "bucket", LongType, f -> StringType)(nBuckets)
  }

  /** [[FeatureBucketsKernel]]: string → array<long> of md5-nibble buckets
    * of every unigram + bigram.
    */
  def featureBuckets(text: Column, nBuckets: Int): Column = {
    require(nBuckets >= 1 && 65536 % nBuckets == 0,
      s"feature_buckets: nBuckets must divide 2^16, got $nBuckets")
    invoke(FeatureBucketsKernel, "buckets", Longs, text -> StringType)(
      nBuckets, useICU)
  }

  /** [[XxFeatureBucketsKernel]]: string → array<long> of
    * pmod(xxhash64(feature), n) buckets of every unigram + bigram.
    */
  def xxFeatureBuckets(text: Column, nBuckets: Int): Column = {
    require(nBuckets >= 1,
      s"xx_feature_buckets: nBuckets must be >= 1, got $nBuckets")
    invoke(XxFeatureBucketsKernel, "buckets", Longs, text -> StringType)(
      nBuckets, useICU)
  }

  /** [[NormalizeKernel]] (string → string). */
  def normalizeText(text: Column): Column =
    invoke(NormalizeKernel, "normalize", StringType, text -> StringType)(
      useICU)

  /** [[ShingleHashKernel]]: string → array<long> of per-position gram
    * xxhash64s.
    */
  def shingleHashes(text: Column, n: Int): Column = shingleHashes(text, n, 1)

  /** Strided form: hash only every `stride`-th window (window starts 0,
    * stride, 2·stride, …) — the non-overlapping-chunk shape.
    */
  def shingleHashes(text: Column, n: Int, stride: Int): Column = {
    require(n >= 1 && stride >= 1, "shingle_hashes: n and stride must be " +
      s">= 1, got n=$n stride=$stride")
    invoke(ShingleHashKernel, "hashes", Longs, text -> StringType)(n,
      stride, useICU)
  }

  /** [[PqAssignKernel]]: embedding → array<long> of m PQ codes, index =
    * subspace, against the driver-collected `book`.
    */
  def pqAssignCodes(embedding: Column, book: PqAssignBook): Column =
    invoke(PqAssignKernel, "assign", Longs, embedding -> FloatArray)(book)

  // one padded array per marker list: a literal array compares by
  // reference, so sharing it keeps repeated calls over the same markers
  // (`text_profile(t, 'a').wc, text_profile(t, 'a').alpha` in SQL)
  // semantically equal, and subexpression elimination still runs the
  // profile once per row
  private val paddedMarkers =
    scala.collection.concurrent.TrieMap.empty[Seq[String], Array[String]]

  /** [[TextProfileKernel]]: string → struct (wc, alpha, counts) with
    * counts aligned to `markers`.
    */
  def textProfile(text: Column, markers: Seq[String]): Column = {
    require(markers.nonEmpty, "text_profile: marker list must be non-empty")
    require(!markers.exists(m => m.isEmpty || m.exists(_.isWhitespace)),
      "text_profile: markers must be non-empty and whitespace-free")
    invoke(TextProfileKernel, "profile", StructType(Seq(
        field("wc", IntegerType), field("alpha", IntegerType),
        field("counts", ArrayType(IntegerType, containsNull = false)))),
      text -> StringType)(
      paddedMarkers.getOrElseUpdate(markers, markers.map(m => s" $m ").toArray))
  }
}
