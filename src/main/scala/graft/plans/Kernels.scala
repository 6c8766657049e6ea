package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Primitive kernels behind the custom sketch expressions. One source of
  * truth for both evaluation modes: interpreted `nullSafeEval` and
  * generated code (`doGenCode` emits a static call into this object —
  * Scala objects compile to static forwarders, so the generated Java
  * resolves `graft.plans.Kernels.x(...)` directly and the JIT inlines
  * the loop into the whole-stage-codegen'd task loop).
  */
object Kernels {

  final val MinHashPrime = 4294967311L

  def minHashSig(arr: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val numHashes = as.length
    val n = arr.numElements()
    val out = new Array[Long](numHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i) & 0xFFFFFFFFL
      var j = 0
      while (j < numHashes) {
        val v = (as(j) * h + bs(j)) % MinHashPrime
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def simHash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b

  /** FNV-1a 64 per whitespace-delimited token, straight over the bytes. */
  def tokenHashArray(s: UTF8String): Array[Long] = {
    val bytes = s.getBytes
    val n = bytes.length
    var count = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        count += 1
        while (i < n && !isWs(bytes(i))) i += 1
      }
    }
    val out = new Array[Long](count)
    var k = 0
    i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        var h = 0xcbf29ce484222325L // FNV-1a 64 offset basis
        while (i < n && !isWs(bytes(i))) {
          h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
          i += 1
        }
        out(k) = h
        k += 1
      }
    }
    out
  }

  def tokenHashes(s: UTF8String): ArrayData = new GenericArrayData(tokenHashArray(s))

  /** Token count without materializing tokens: the primitive-loop form
    * of `size(regexp_extract_all(c, '\S+'))`.
    */
  def tokenCount(s: UTF8String): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    var i = 0
    var count = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        count += 1
        while (i < n && !isWs(bytes(i))) i += 1
      }
    }
    count
  }

  /** Gopher top-gram fraction in ONE pass over the text bytes: the max
    * multiplicity of the document's word n-grams divided by the gram
    * count — numerically identical to sorting the gram strings and
    * taking the longest equal run (the HOF twin
    * TextFunctions.topGramFractionHof it is property-tested against:
    * equal strings sort adjacent, so longest run == max multiplicity).
    * Tokens are \S+ runs ([[isWs]] — Java-regex \s); gram identity is
    * the exact bytes of the space-joined token window (UTF8String keys
    * hash and compare by bytes), so no hash-collision caveat — the
    * DuckDB oracle replays this on strings. 0.0 below n tokens.
    */
  def topGramFrac(s: UTF8String, n: Int): Double = {
    val bytes = s.getBytes
    val len = bytes.length
    var i = 0
    var m = 0
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        if (m == starts.length) {
          starts = java.util.Arrays.copyOf(starts, m * 2)
          ends = java.util.Arrays.copyOf(ends, m * 2)
        }
        starts(m) = i
        while (i < len && !isWs(bytes(i))) i += 1
        ends(m) = i
        m += 1
      }
    }
    if (m < n) return 0.0
    val g = m - n + 1
    val counts = new java.util.HashMap[UTF8String, Integer](g * 2)
    var best = 0
    var gi = 0
    while (gi < g) {
      var sz = n - 1
      var t = 0
      while (t < n) { sz += ends(gi + t) - starts(gi + t); t += 1 }
      val out = new Array[Byte](sz)
      var p = 0
      t = 0
      while (t < n) {
        if (t > 0) { out(p) = ' '; p += 1 }
        val l = ends(gi + t) - starts(gi + t)
        System.arraycopy(bytes, starts(gi + t), out, p, l)
        p += l
        t += 1
      }
      val c = counts.merge(UTF8String.fromBytes(out), Integer.valueOf(1),
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
      if (c.intValue > best) best = c.intValue
      gi += 1
    }
    best.toDouble / g
  }

  /** Count bytes that are members of an ASCII class (membership table
    * indexed by unsigned byte) — the primitive form of
    * `size(regexp_extract_all(c, '[<class>]'))` for ASCII-only classes.
    * Multi-byte UTF-8 sequences never match: their bytes are >= 0x80.
    */
  def asciiSetCount(s: UTF8String, table: Array[Boolean]): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    var i = 0
    var count = 0
    while (i < n) {
      val b = bytes(i) & 0xff
      if (b < 128 && table(b)) count += 1
      i += 1
    }
    count
  }

  /** Case/whitespace canonicalization in one pass:
    * lowercase, collapse each whitespace run to a single space, strip
    * leading/trailing runs — byte-identical to
    * `trim(regexp_replace(lower(s), '\s+', ' '))` (Java-regex `\s` is
    * the same 6 ASCII chars as [[isWs]]; a collapsed leading/trailing
    * run becomes the ' ' that trim would remove).
    */
  def normalizeWs(s: UTF8String): UTF8String = {
    val bytes = s.toLowerCase.getBytes
    val n = bytes.length
    val out = new Array[Byte](n)
    var i = 0
    var o = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n && o > 0) { out(o) = ' '; o += 1 }
      while (i < n && !isWs(bytes(i))) { out(o) = bytes(i); o += 1; i += 1 }
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** Fused per-document token statistics in ONE byte pass:
    * (n_tokens, total_len in characters, n_stopwords with lowercased
    * membership). total_len counts code points (non-continuation
    * bytes), matching SQL `length()` on each token.
    */
  def tokenStatsRow(s: UTF8String, set: java.util.HashSet[UTF8String]): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    var i = 0
    var nTok = 0
    var totalLen = 0
    var nStop = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      var chars = 0
      while (i < n && !isWs(bytes(i))) {
        if ((bytes(i) & 0xc0) != 0x80) chars += 1
        i += 1
      }
      if (i > start) {
        nTok += 1
        totalLen += chars
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        if (set.contains(tok.toLowerCase)) nStop += 1
      }
    }
    new GenericInternalRow(Array[Any](nTok, totalLen, nStop))
  }

  /** Pack the sign bits (x > 0) of a double vector into 64-bit words —
    * dimension i lands in bit (i mod 64) of word (i div 64), LSB-first.
    * The 1-bit member of the quantization family: a 64-dim float32
    * corpus stores as 8 bytes/vector (32x smaller than the floats, 8x
    * smaller than SQ8, m=16 PQ halved), and distance is pure
    * xor+popcount. Unlike IVF/PQ/SQ8 there is NO model state — the
    * bits are signs of the data itself — so results are engine-exact
    * and the contract query carries a full DuckDB oracle.
    */
  def signPack(v: ArrayData): ArrayData = {
    val d = v.numElements()
    val words = new Array[Long]((d + 63) >>> 6)
    var i = 0
    while (i < d) {
      if (v.getDouble(i) > 0) words(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    new GenericArrayData(words)
  }

  /** Hamming distance between packed sign words and a (driver-packed)
    * query: xor + popcount per word.
    */
  def hammingTo(words: ArrayData, query: Array[Long]): Int = {
    val n = words.numElements()
    require(n == query.length, s"packed length $n != query ${query.length}")
    var h = 0
    var i = 0
    while (i < n) {
      h += java.lang.Long.bitCount(words.getLong(i) ^ query(i))
      i += 1
    }
    h
  }

  /** Pairwise form for batch probes: both sides are packed columns. */
  def hammingPair(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(n == b.numElements(), s"packed lengths differ: $n vs ${b.numElements()}")
    var h = 0
    var i = 0
    while (i < n) {
      h += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    h
  }

  /** True iff any byte is >= 0x80 (i.e. the string contains a
    * non-ASCII code point). Early-exit byte scan.
    */
  def hasNonAscii(s: UTF8String): Boolean = {
    val bytes = s.getBytes
    val n = bytes.length
    var i = 0
    while (i < n) {
      if ((bytes(i) & 0x80) != 0) return true
      i += 1
    }
    false
  }

  /** Count whitespace-delimited tokens that are members of `set` — the
    * primitive-loop form of `size(filter(tokens(c), isin(set)))`, whose
    * HOF predicate evaluates interpreted per token. Same `\S+`
    * tokenization as [[tokenHashArray]] (isWs == Java-regex \s);
    * membership tests wrap token byte ranges in UTF8String views (no
    * per-token copy) against a prebuilt hash set.
    */
  def tokenSetCount(s: UTF8String, set: java.util.HashSet[UTF8String]): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    var i = 0
    var count = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start && set.contains(UTF8String.fromBytes(bytes, start, i - start))) count += 1
    }
    count
  }

  /** Multi-set token census in ONE tokenize pass (r19): counts each
    * set's exact-member hits and returns the label of the FIRST set
    * attaining the strict maximum (ties keep the earlier set — the
    * `when(s > best, …)` fold semantics), or the final label (the
    * fallback slot, `labels.length == sets.length + 1`) when the max
    * is 0. Replaces a CaseWhen running-max over k separate
    * tokenSetCount kernels, whose conditional branches defeat codegen
    * subexpression elimination and re-evaluate each kernel per
    * reference (measured ~7x at sf0.1).
    */
  def tokenSetBest(
      s: UTF8String,
      sets: Array[java.util.HashSet[UTF8String]],
      labels: Array[UTF8String]): UTF8String = {
    val k = sets.length
    val counts = new Array[Int](k)
    val bytes = s.getBytes
    val n = bytes.length
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        var j = 0
        while (j < k) {
          if (sets(j).contains(tok)) counts(j) += 1
          j += 1
        }
      }
    }
    var best = 0
    var j = 1
    while (j < k) {
      if (counts(j) > counts(best)) best = j
      j += 1
    }
    if (k > 0 && counts(best) > 0) labels(best) else labels(labels.length - 1)
  }

  /** Count of DISTINCT `members` present among the whitespace tokens —
    * the primitive form of Σ_w [array_contains(tokens, w)] without
    * materializing the token array or the per-member array scans.
    * Linear member probe: the lists are tiny (Gopher's required
    * stopwords).
    */
  def tokenSetDistinct(s: UTF8String, members: Array[UTF8String]): Int = {
    val k = members.length
    val seen = new Array[Boolean](k)
    val bytes = s.getBytes
    val n = bytes.length
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        var j = 0
        while (j < k) {
          if (!seen(j) && members(j).equals(tok)) seen(j) = true
          j += 1
        }
      }
    }
    var c = 0
    var j = 0
    while (j < k) { if (seen(j)) c += 1; j += 1 }
    c
  }

  /** Count of whitespace tokens containing at least one ASCII letter —
    * the primitive form of size(filter(tokens(c), _.rlike("[A-Za-z]")))
    * whose HOF predicate evaluates an interpreted regex per token.
    * Byte-exact: non-ASCII code points never contain bytes in the
    * letter ranges (UTF-8 continuation/lead bytes are >= 0x80).
    */
  def alphaTokenCount(s: UTF8String): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    var i = 0
    var count = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      var hasAlpha = false
      while (i < n && !isWs(bytes(i))) {
        val b = bytes(i)
        if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) hasAlpha = true
        i += 1
      }
      if (i > start && hasAlpha) count += 1
    }
    count
  }

  def wordNGramHashes(s: UTF8String, n: Int): ArrayData = {
    val th = tokenHashArray(s)
    val m = th.length
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m - n + 1)
    var i = 0
    while (i <= m - n) {
      var g = 0x9e3779b97f4a7c15L
      var k = 0
      while (k < n) {
        g = (g ^ th(i + k)) * 0xff51afd7ed558ccdL
        g ^= (g >>> 33)
        k += 1
      }
      out(i) = g
      i += 1
    }
    new GenericArrayData(out)
  }

  def winnow(arr: ArrayData, w: Int): ArrayData = {
    val m = arr.numElements()
    if (m == 0) return new GenericArrayData(Array.emptyLongArray)
    if (m <= w) {
      var mn = arr.getLong(0)
      var i = 1
      while (i < m) { if (arr.getLong(i) <= mn) mn = arr.getLong(i); i += 1 }
      return new GenericArrayData(Array(mn))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var lastIdx = -1
    var start = 0
    while (start <= m - w) {
      var minIdx = start
      var i = start + 1
      while (i < start + w) {
        if (arr.getLong(i) <= arr.getLong(minIdx)) minIdx = i // rightmost min
        i += 1
      }
      if (minIdx != lastIdx) {
        out += arr.getLong(minIdx)
        lastIdx = minIdx
      }
      start += 1
    }
    new GenericArrayData(out.toArray)
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Float-native variants: a float promotes to double at the multiply,
    * so results are bit-identical to casting the array first — without
    * materializing a second copy of every vector.
    */
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    s
  }

  def hyperplaneSig(v: ArrayData, planes: Array[Array[Double]]): Long = {
    val dim = v.numElements()
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val n = math.min(dim, plane.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getDouble(i) * plane(i); i += 1 }
      if (s >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  def hyperplaneSigF(v: ArrayData, planes: Array[Array[Double]]): Long = {
    val dim = v.numElements()
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val n = math.min(dim, plane.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getFloat(i).toDouble * plane(i); i += 1 }
      if (s >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** 2-D Hilbert index of cell (x, y) on a 2^bits x 2^bits grid — the
    * canonical xy2d quadrant-rotation loop (Hilbert 1891; iterative form
    * as in Warren, Hacker's Delight / the public-domain xy2d snippet):
    * per level, accumulate the quadrant's contribution and rotate the
    * frame so every sub-square is traversed in curve order. Out-of-range
    * coordinates are clamped to the grid.
    */
  def hilbert2(bits: Int, x0: Long, y0: Long): Long = {
    val n = 1L << bits
    var x = if (x0 < 0) 0L else if (x0 >= n) n - 1 else x0
    var y = if (y0 < 0) 0L else if (y0 >= n) n - 1 else y0
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) { // rotate: reflect (if rx) then transpose
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** d-dimensional Hilbert index via Skilling's transpose algorithm
    * ("Programming the Hilbert curve", AIP Conf. Proc. 707, 2004):
    * undo excess Gray-code rotations level by level, Gray-encode across
    * dimensions, then gather the interleaved bits MSB-first. Coordinates
    * are clamped to [0, 2^bits). Used for 3-4 dims; 2-D takes
    * [[hilbert2]] (whose orientation the SQL oracle reproduces).
    */
  def hilbertN(bits: Int, coords: Array[Long]): Long = {
    val dims = coords.length
    val side = 1L << bits
    val xs = new Array[Long](dims)
    var i = 0
    while (i < dims) {
      val c = coords(i)
      xs(i) = if (c < 0) 0L else if (c >= side) side - 1 else c
      i += 1
    }
    val m = 1L << (bits - 1)
    // Inverse-undo: strip the rotations the curve applies within each level.
    var q = m
    while (q > 1) {
      val p = q - 1
      i = 0
      while (i < dims) {
        if ((xs(i) & q) != 0) xs(0) ^= p
        else { val t = (xs(0) ^ xs(i)) & p; xs(0) ^= t; xs(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    // Gray-encode across dimensions.
    i = 1
    while (i < dims) { xs(i) ^= xs(i - 1); i += 1 }
    var t = 0L
    q = m
    while (q > 1) { if ((xs(dims - 1) & q) != 0) t ^= q - 1; q >>= 1 }
    i = 0
    while (i < dims) { xs(i) ^= t; i += 1 }
    // Gather: bit b of dimension i lands MSB-first at ((bits-1-b)*dims + i).
    var h = 0L
    var b = bits - 1
    while (b >= 0) {
      i = 0
      while (i < dims) { h = (h << 1) | ((xs(i) >>> b) & 1L); i += 1 }
      b -= 1
    }
    h
  }

  def hilbert3(bits: Int, x: Long, y: Long, z: Long): Long =
    hilbertN(bits, Array(x, y, z))

  def hilbert4(bits: Int, x: Long, y: Long, z: Long, w: Long): Long =
    hilbertN(bits, Array(x, y, z, w))

  // ------------------------- PII redaction ------------------------- //
  // Byte-exact replacement for the four-regexp_replace cascade in
  // TextFunctions.PiiPatterns (EMAIL -> IP -> SSN -> PHONE). Each pass
  // replicates java.util.regex semantics for its pattern — leftmost
  // match, greedy quantifiers with backtracking, \b evaluated against
  // the pass's input even across a prior match in the same pass — but
  // as a hand-rolled byte scan: no Matcher allocation, no per-char
  // generic NFA loop, no intermediate UTF8String between passes.
  // Pattern bytes are all ASCII and UTF-8 continuation bytes are
  // negative, so byte-level classification agrees with Java's
  // char-level classes on any input. Equivalence vs the real regex
  // cascade is property-tested in RedactKernelSpec.

  @inline private def isDigitB(b: Byte): Boolean = b >= '0' && b <= '9'
  @inline private def isAlphaB(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')
  @inline private def isWordB(b: Byte): Boolean = isAlphaB(b) || isDigitB(b) || b == '_'

  // Java's \b is NOT \w-based: Pattern.Bound classifies a word char as
  // '_' or Character.isLetterOrDigit — Unicode-aware even with default
  // flags. So 'é' blocks a boundary. When the adjacent byte is
  // non-ASCII the check must decode the neighboring CODE POINT — and on
  // MALFORMED bytes it must see what the regex twin sees: the String
  // the regexp path matches against comes from UTF8String.toString,
  // whose decoder substitutes U+FFFD (never a letter) for every
  // ill-formed sequence. So decodeCp validates full UTF-8
  // well-formedness (continuation bytes, overlong forms, surrogates,
  // > U+10FFFF) and returns U+FFFD on anything else, rather than
  // decoding garbage like 0xC3 '1' into a letter and suppressing a
  // boundary the regex would honor (invalid-byte cases in
  // RedactKernelSpec).

  /** Expected byte length of the sequence led by b0; -1 for a byte that
    * can never lead a well-formed sequence (continuations 0x80-0xBF,
    * the overlong leads 0xC0/0xC1, and 0xF5+).
    */
  @inline private def seqLen(b0: Int): Int =
    if (b0 < 0x80) 1
    else if (b0 >= 0xC2 && b0 <= 0xDF) 2
    else if (b0 >= 0xE0 && b0 <= 0xEF) 3
    else if (b0 >= 0xF0 && b0 <= 0xF4) 4
    else -1

  private def decodeCp(b: Array[Byte], s: Int): Int = {
    val b0 = b(s) & 0xFF
    val len = seqLen(b0)
    if (len == 1) return b0
    if (len < 0 || s + len > b.length) return 0xFFFD
    var j = 1
    while (j < len) {
      if ((b(s + j) & 0xC0) != 0x80) return 0xFFFD
      j += 1
    }
    val b1 = b(s + 1) & 0xFF
    len match {
      case 2 => ((b0 & 0x1F) << 6) | (b1 & 0x3F)
      case 3 =>
        if (b0 == 0xE0 && b1 < 0xA0) 0xFFFD // overlong
        else if (b0 == 0xED && b1 >= 0xA0) 0xFFFD // surrogate range
        else ((b0 & 0x0F) << 12) | ((b1 & 0x3F) << 6) | (b(s + 2) & 0x3F)
      case _ =>
        if (b0 == 0xF0 && b1 < 0x90) 0xFFFD // overlong
        else if (b0 == 0xF4 && b1 > 0x8F) 0xFFFD // > U+10FFFF
        else ((b0 & 0x07) << 18) | ((b1 & 0x3F) << 12) |
          ((b(s + 2) & 0x3F) << 6) | (b(s + 3) & 0x3F)
    }
  }

  // Pattern.Bound has one more clause beyond '_'/isLetterOrDigit: a
  // NON_SPACING_MARK counts as a word character iff it has a "base
  // character" — scanning BACKWARD from the mark, marks skip until a
  // letter/digit (word) or anything else (not) — JDK
  // Pattern.hasBaseCharacter. So "4" + U+0301 has no boundary after
  // the digit (the combining accent belongs to the word), which is
  // exactly the case plain isLetterOrDigit misses.

  @inline private def isNsm(cp: Int): Boolean =
    Character.getType(cp) == Character.NON_SPACING_MARK

  /** JDK Pattern.hasBaseCharacter over raw bytes: walk code points
    * backward from byte offset `off` (exclusive); marks skip, a
    * letter/digit is a base, anything else (including malformed
    * sequences — U+FFFD in the replaced string) is not.
    */
  private def hasBaseBefore(b: Array[Byte], off: Int): Boolean = {
    var i = off
    while (i > 0) {
      var s = i - 1
      while (s > 0 && (b(s) & 0xC0) == 0x80) s -= 1
      if (b(s) >= 0) {
        // ASCII followed by stray continuations decodes as char + FFFDs;
        // the char adjacent to position i is then U+FFFD — not a base.
        if (i - s != 1) return false
        return isAlphaB(b(s)) || isDigitB(b(s)) // isLetterOrDigit, NOT '_'
      }
      if (seqLen(b(s) & 0xFF) != i - s) return false
      val cp = decodeCp(b, s)
      if (Character.isLetterOrDigit(cp)) return true
      if (!isNsm(cp)) return false
      i = s
    }
    false
  }

  /** Is the character immediately BEFORE byte offset i a \b word char? */
  private def isWordBefore(b: Array[Byte], i: Int): Boolean = {
    if (i == 0) return false
    val prev = b(i - 1)
    if (prev >= 0) return isWordB(prev)
    var s = i - 1
    while (s > 0 && (b(s) & 0xC0) == 0x80) s -= 1
    // The preceding character is well-formed ONLY if the lead at s spans
    // exactly to i; a stray continuation run (s lands on ASCII or
    // another continuation) or a truncated prefix decodes as U+FFFD in
    // the replaced string the regex twin sees — never a word char.
    if (seqLen(b(s) & 0xFF) != i - s) return false
    val cp = decodeCp(b, s)
    Character.isLetterOrDigit(cp) || (isNsm(cp) && hasBaseBefore(b, s))
  }

  /** Is the character AT byte offset i (end-of-match neighbor) a \b
    * word char?
    */
  private def isWordAfter(b: Array[Byte], i: Int, n: Int): Boolean = {
    if (i >= n) return false
    val c = b(i)
    if (c >= 0) isWordB(c)
    else {
      val cp = decodeCp(b, i)
      Character.isLetterOrDigit(cp) || (isNsm(cp) && hasBaseBefore(b, i))
    }
  }
  @inline private def isLocalB(b: Byte): Boolean =
    isAlphaB(b) || isDigitB(b) || b == '.' || b == '_' || b == '%' || b == '+' || b == '-'
  @inline private def isDomainB(b: Byte): Boolean =
    isAlphaB(b) || isDigitB(b) || b == '.' || b == '-'
  @inline private def isSepB(b: Byte): Boolean = b == ' ' || b == '-'

  private val EmailTok = "[EMAIL]".getBytes("UTF-8")
  private val IpTok = "[IP]".getBytes("UTF-8")
  private val SsnTok = "[SSN]".getBytes("UTF-8")
  private val PhoneTok = "[PHONE]".getBytes("UTF-8")

  /** Exactly k digits at p (fixed-count groups backtrack nothing). */
  @inline private def kDigits(b: Array[Byte], p: Int, n: Int, k: Int): Int = {
    if (p < 0 || p + k > n) return -1
    var j = 0
    while (j < k) { if (!isDigitB(b(p + j))) return -1; j += 1 }
    p + k
  }

  /** `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`. Driven by '@'
    * positions: the local run's start is the leftmost viable match
    * start, and runs cannot span '@', so scanning '@'s left to right IS
    * leftmost-match order. The domain backtracks exactly like the
    * greedy regex: largest dot position with >=2 trailing letters wins.
    */
  private def emailPass(b: Array[Byte]): Array[Byte] = {
    val n = b.length
    var out: scala.collection.mutable.ArrayBuilder.ofByte = null
    var copyFrom = 0
    var lastEnd = 0
    var a = 0
    while (a < n) {
      if (b(a) == '@') {
        var l = a
        while (l > lastEnd && isLocalB(b(l - 1))) l -= 1
        if (l < a) {
          var e = a + 1
          while (e < n && isDomainB(b(e))) e += 1
          var end = -1
          var q = e - 3
          while (end < 0 && q >= a + 2) {
            if (b(q) == '.' && isAlphaB(b(q + 1)) && isAlphaB(b(q + 2))) {
              var le = q + 3
              while (le < e && isAlphaB(b(le))) le += 1
              end = le
            }
            q -= 1
          }
          if (end > 0) {
            if (out == null) {
              out = new scala.collection.mutable.ArrayBuilder.ofByte
              out.sizeHint(n)
            }
            out.addAll(b, copyFrom, l - copyFrom)
            out.addAll(EmailTok, 0, EmailTok.length)
            copyFrom = end
            lastEnd = end
            a = end - 1 // loop increment lands on end
          }
        }
      }
      a += 1
    }
    if (out == null) b
    else { out.addAll(b, copyFrom, n - copyFrom); out.result() }
  }

  /** `\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b`. Each `\d{1,3}` is
    * deterministic despite the range: a 4+ digit run leaves a digit
    * where '.' (or the closing \b) must sit, and shorter backtracks
    * hit digits too — so a group matches iff its full run length is
    * 1..3.
    */
  private def tryIp(b: Array[Byte], i: Int, n: Int): Int = {
    var p = i
    var g = 0
    while (g < 4) {
      var r = 0
      while (p + r < n && r <= 3 && isDigitB(b(p + r))) r += 1
      if (r == 0 || r > 3) return -1
      p += r
      if (g < 3) {
        if (p >= n || b(p) != '.') return -1
        p += 1
      } else if (isWordAfter(b, p, n)) return -1
      g += 1
    }
    p
  }

  /** `\b\d{3}-\d{2}-\d{4}\b` — fixed counts, no backtracking. */
  private def trySsn(b: Array[Byte], i: Int, n: Int): Int = {
    var p = kDigits(b, i, n, 3)
    if (p < 0 || p >= n || b(p) != '-') return -1
    p = kDigits(b, p + 1, n, 2)
    if (p < 0 || p >= n || b(p) != '-') return -1
    p = kDigits(b, p + 1, n, 4)
    if (p < 0) return -1
    if (isWordAfter(b, p, n)) return -1
    p
  }

  /** Core of the phone pattern after the optional country prefix:
    * `\(?\d{3}\)?[ -]?\d{3}[ -]?\d{4}\b`. Each optional element tries
    * consume-first then skip — Java's greedy backtracking order.
    */
  private def tryPhoneCore(b: Array[Byte], s0: Int, n: Int): Int = {
    var pv = 0
    while (pv < 2) {
      val afterParen =
        if (pv == 0) { if (s0 < n && b(s0) == '(') s0 + 1 else -1 } else s0
      if (afterParen >= 0) {
        val p1 = kDigits(b, afterParen, n, 3)
        if (p1 > 0) {
          var cv = 0
          while (cv < 2) {
            val p2 =
              if (cv == 0) { if (p1 < n && b(p1) == ')') p1 + 1 else -1 } else p1
            if (p2 >= 0) {
              var s1v = 0
              while (s1v < 2) {
                val p3s =
                  if (s1v == 0) { if (p2 < n && isSepB(b(p2))) p2 + 1 else -1 } else p2
                if (p3s >= 0) {
                  val p3 = kDigits(b, p3s, n, 3)
                  if (p3 > 0) {
                    var s2v = 0
                    while (s2v < 2) {
                      val p4s =
                        if (s2v == 0) { if (p3 < n && isSepB(b(p3))) p3 + 1 else -1 } else p3
                      if (p4s >= 0) {
                        val p4 = kDigits(b, p4s, n, 4)
                        if (p4 > 0 && !isWordAfter(b, p4, n)) return p4
                      }
                      s2v += 1
                    }
                  }
                }
                s1v += 1
              }
            }
            cv += 1
          }
        }
      }
      pv += 1
    }
    -1
  }

  /** `(?:\+?\d{1,2}[ -])?` then [[tryPhoneCore]]. Prefix variants in
    * Java order: (+, 2 digits), (+, 1), (no +, 2), (no +, 1), absent.
    */
  private def tryPhone(b: Array[Byte], i: Int, n: Int): Int = {
    var plusV = 0
    while (plusV < 2) {
      val pStart =
        if (plusV == 0) { if (i < n && b(i) == '+') i + 1 else -1 } else i
      if (pStart >= 0) {
        var dc = 2
        while (dc >= 1) {
          val afterD = kDigits(b, pStart, n, dc)
          if (afterD > 0 && afterD < n && isSepB(b(afterD))) {
            val end = tryPhoneCore(b, afterD + 1, n)
            if (end > 0) return end
          }
          dc -= 1
        }
      }
      plusV += 1
    }
    tryPhoneCore(b, i, n)
  }

  /** One find-and-replace pass for a matcher `which` (0=IP, 1=SSN,
    * 2=PHONE). IP/SSN candidates need a left `\b` (digit preceded by a
    * non-word byte); PHONE has no left boundary and starts at '+', '('
    * or a digit.
    */
  private def numericPass(b: Array[Byte], which: Int): Array[Byte] = {
    val n = b.length
    val tok = which match {
      case 0 => IpTok
      case 1 => SsnTok
      case _ => PhoneTok
    }
    var out: scala.collection.mutable.ArrayBuilder.ofByte = null
    var copyFrom = 0
    var i = 0
    while (i < n) {
      val c = b(i)
      val candidate =
        if (which == 2) c == '+' || c == '(' || isDigitB(c)
        else isDigitB(c) && !isWordBefore(b, i)
      var end = -1
      if (candidate) {
        end = which match {
          case 0 => tryIp(b, i, n)
          case 1 => trySsn(b, i, n)
          case _ => tryPhone(b, i, n)
        }
      }
      if (end > 0) {
        if (out == null) {
          out = new scala.collection.mutable.ArrayBuilder.ofByte
          out.sizeHint(n)
        }
        out.addAll(b, copyFrom, i - copyFrom)
        out.addAll(tok, 0, tok.length)
        copyFrom = end
        i = end
      } else i += 1
    }
    if (out == null) b
    else { out.addAll(b, copyFrom, n - copyFrom); out.result() }
  }

  /** Count of array elements the bloom filter might contain. False
    * positives only (bloom property): the count can overestimate, never
    * undercount.
    */
  def bloomHitCount(arr: ArrayData, bf: org.apache.spark.util.sketch.BloomFilter): Int = {
    val n = arr.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      if (bf.mightContainLong(arr.getLong(i))) hits += 1
      i += 1
    }
    hits
  }

  // ---------------------- product quantization ---------------------- //

  /** PQ encode: per subspace, the index of the L2-nearest codebook
    * centroid (strict <, so ties keep the lowest index —
    * deterministic). `cb` is flat: ((sub*kc + c)*subDim + j).
    */
  def pqEncode(v: ArrayData, cb: Array[Double], m: Int, kc: Int, subDim: Int): ArrayData = {
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      var bestC = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < kc) {
        val base = (sub * kc + c) * subDim
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val diff = v.getDouble(sub * subDim + j) - cb(base + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; bestC = c }
        c += 1
      }
      out(sub) = bestC
      sub += 1
    }
    new GenericArrayData(out)
  }

  /** PQ decode: concatenate the coded centroids back into a
    * reconstruction vector.
    */
  def pqDecode(codes: ArrayData, cb: Array[Double], m: Int, kc: Int, subDim: Int): ArrayData = {
    val out = new Array[Double](m * subDim)
    var sub = 0
    while (sub < m) {
      val base = (sub * kc + codes.getInt(sub)) * subDim
      var j = 0
      while (j < subDim) { out(sub * subDim + j) = cb(base + j); j += 1 }
      sub += 1
    }
    new GenericArrayData(out)
  }

  /** Dense mat-vec: out[i] = sum_j mat(i*d + j) * v(j) — the rotation
    * step in front of PQ encoding (OPQ-lite). Row-major flat matrix.
    */
  def matVec(v: ArrayData, mat: Array[Double], d: Int): ArrayData = {
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      var s = 0.0
      val base = i * d
      var j = 0
      while (j < d) { s += mat(base + j) * v.getDouble(j); j += 1 }
      out(i) = s
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Rectangular AFFINE mat-vec: out[i] = sum_j mat(i*cols + j) * v(j)
    * - off(i) — the PCA projection y = A·x − A·μ with the constant A·μ
    * folded into `off`, so mean-centering costs zero per-row work.
    * Row-major flat (rows × cols) matrix.
    */
  def matVecAffine(
      v: ArrayData, mat: Array[Double], off: Array[Double],
      rows: Int, cols: Int): ArrayData = {
    val out = new Array[Double](rows)
    var i = 0
    while (i < rows) {
      var s = 0.0
      val base = i * cols
      var j = 0
      while (j < cols) { s += mat(base + j) * v.getDouble(j); j += 1 }
      out(i) = s - off(i)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Ordered lookup-sum: Σ table(arr(i)) in ARRAY ORDER, left-associated
    * double addition — the DSIR scoring fold as one primitive loop,
    * bit-identical to `aggregate(arr, 0.0, (acc, b) => acc +
    * element_at(table, b + 1))` (same element order, same
    * associativity), without the interpreted per-element lambda.
    */
  def lookupSum(arr: ArrayData, table: Array[Double]): Double = {
    val n = arr.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += table(arr.getInt(i)); i += 1 }
    acc
  }

  /** Registered (pay-level) domain under a parsed public-suffix rule
    * table — the publicsuffix.org matching algorithm: among the rules
    * matching a suffix of the host, an exception rule prevails (its
    * public suffix is the rule minus its leftmost label), else the
    * longest match; wildcards extend the match one label left; the
    * implicit default rule makes any bare TLD a suffix. Registered
    * domain = public suffix + one label; a host that IS a public
    * suffix (or empty) passes through unchanged — the same convention
    * as the label heuristic it upgrades.
    *
    * `rules` maps suffix -> flag bitmask (1 = normal, 2 = wildcard
    * base, 4 = exception), prebuilt once per expression (driver-side)
    * and shipped as a codegen reference object.
    */
  def registeredDomain(
      host: UTF8String,
      rules: java.util.HashMap[String, Integer]): UTF8String = {
    val h = host.toString
    if (h.isEmpty) return host
    // label start offsets
    var nLabels = 1
    var p = h.indexOf('.')
    while (p >= 0) { nLabels += 1; p = h.indexOf('.', p + 1) }
    val starts = new Array[Int](nLabels)
    starts(0) = 0
    var li = 1
    p = h.indexOf('.')
    while (p >= 0) { starts(li) = p + 1; li += 1; p = h.indexOf('.', p + 1) }
    var psLen = 1 // the implicit "*" default rule
    var i = 0
    var done = false
    while (i < nLabels && !done) {
      val f = rules.get(h.substring(starts(i)))
      if (f != null) {
        val fi = f.intValue()
        if ((fi & 4) != 0) { psLen = nLabels - i - 1; done = true }
        else {
          if ((fi & 1) != 0 && nLabels - i > psLen) psLen = nLabels - i
          if ((fi & 2) != 0 && i >= 1 && nLabels - i + 1 > psLen) psLen = nLabels - i + 1
        }
      }
      i += 1
    }
    if (psLen < 1) psLen = 1
    if (nLabels <= psLen) host
    else UTF8String.fromString(h.substring(starts(nLabels - psLen - 1)))
  }

  /** Asymmetric distance computation: score(codes) = sum over subspaces
    * of lut(sub*kc + code). The LUT holds the query's per-centroid
    * partial dots, so a corpus scan is m table lookups per vector — no
    * float decode, no multiply.
    */
  def pqAdc(codes: ArrayData, lut: Array[Double], kc: Int): Double = {
    val m = codes.numElements()
    var s = 0.0
    var sub = 0
    while (sub < m) { s += lut(sub * kc + codes.getInt(sub)); sub += 1 }
    s
  }

  /** The full cascade with the per-kind prescan folded in: the numeric
    * passes only run when a digit exists, the email pass only when '@'
    * exists — one classification scan decides, and a clean document
    * returns the INPUT reference (zero copies), which is the dominant
    * case in a prose corpus.
    */
  def redactPii(s: UTF8String): UTF8String = {
    val b0 = s.getBytes
    val n = b0.length
    var hasDigit = false
    var hasAt = false
    var i = 0
    while (i < n && !(hasDigit && hasAt)) {
      val c = b0(i)
      if (isDigitB(c)) hasDigit = true
      else if (c == '@') hasAt = true
      i += 1
    }
    if (!hasDigit && !hasAt) return s
    var b = if (hasAt) emailPass(b0) else b0
    if (hasDigit) {
      b = numericPass(b, 0)
      b = numericPass(b, 1)
      b = numericPass(b, 2)
    }
    if (b eq b0) s else UTF8String.fromBytes(b)
  }

  /** Shannon entropy (bits) of the BYTE distribution of a string — the
    * low-entropy signal that catches repeated-character padding and
    * template noise where token-level signals see "valid words". One
    * 256-counter pass; terms fold in ASCENDING byte-value order so the
    * float sum is reproducible (and matches an oracle folding over
    * sorted distinct characters — identical on ASCII text, where byte
    * entropy IS character entropy; multi-byte UTF-8 diverges by
    * design and is documented at the column level).
    */
  def byteEntropy(s: UTF8String): Double = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0) return 0.0
    val counts = new Array[Int](256)
    var i = 0
    while (i < n) { counts(bytes(i) & 0xff) += 1; i += 1 }
    val ln2 = java.lang.Math.log(2.0)
    var h = 0.0
    var b = 0
    while (b < 256) {
      val c = counts(b)
      if (c > 0) {
        val p = c.toDouble / n
        h += -(p * (java.lang.Math.log(p) / ln2))
      }
      b += 1
    }
    h
  }

  /** Unicode NFC normalization (JDK Normalizer) — composes decomposed
    * sequences (e + combining acute -> é) so that dedup fingerprints
    * and lexicon matches don't split on encoding form. ASCII fast path:
    * the common case pays one scan and zero allocations.
    */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) { ascii = (bytes(i) & 0x80) == 0; i += 1 }
    if (ascii) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** DSIR hashed feature buckets (uni + bigrams into `buckets` slots),
    * one byte pass — the r15 re-key of the HOF pipeline that paid TWO
    * tokenize+md5 sweeps per document (one per gram order) plus
    * interpreted lambda evaluation per gram: ONE md5 per TOKEN (its
    * 60-bit prefix parse, identical to the unigram stream the oracle
    * already replays), and the bigram hash derived by the portable
    * integer mix rot17_60(h1) XOR h2 — 60-bit rotate via
    * mask-shift-or, so nothing leaves the signed-64 lane in either
    * engine. Output is the SORTED bucket multiset (ints), the order
    * canonicalization every downstream float fold relies on.
    */
  def dsirBuckets(s: UTF8String, buckets: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    var count = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        count += 1
        while (i < n && !isWs(bytes(i))) i += 1
      }
    }
    if (count == 0) return new GenericArrayData(new Array[Int](0))
    val hs = new Array[Long](count)
    val md = md5Local.get()
    var k = 0
    i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        md.reset()
        md.update(bytes, start, i - start)
        val d = md.digest()
        // top 60 bits = the conv(substring(md5_hex, 1, 15), 16, 10) parse
        val h64 = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        hs(k) = h64 >>> 4
        k += 1
      }
    }
    val out = new Array[Int](count + (count - 1))
    var j = 0
    while (j < count) {
      out(j) = (hs(j) % buckets).toInt
      j += 1
    }
    j = 0
    while (j < count - 1) {
      val rot = ((hs(j) & 8796093022207L) << 17) | (hs(j) >>> 43)
      out(count + j) = (((rot ^ hs(j + 1)) % buckets)).toInt
      j += 1
    }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  /** PORTABLE MinHash signature in ONE fused byte pass — the r15b
    * re-key of the signature stage that previously paid a regex
    * tokenize, an array_distinct, a gram explode, a 16× perm explode
    * and a (id, perm) hash aggregate per document: tokenize the `\S+`
    * spans in place, md5 each word n-gram's exact bytes (token bytes
    * joined by 0x20 — byte-identical to md5(array_join(slice(toks),
    * ' '))), parse the top 52 bits (= conv(substring(md5_hex,1,13),
    * 16,10)), then fold every gram through the affine Carter-Wegman
    * family (A_p·x + B_p) mod 2^52 in 26-bit limbs with a running
    * element-wise min. Duplicate grams need no dedup — min is
    * idempotent — so the distinct pass disappears too. Output:
    * long[perms], or empty when the doc has < n tokens (the caller
    * drops those rows, matching the explode-of-empty behavior).
    * The oracle replays the identical arithmetic in SQL (see
    * graft.contract.OracleSql.minhashCtes); DedupSpec pins the JVM
    * reference.
    */
  def minhashSig(s: UTF8String, n: Int, perms: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    var count = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        count += 1
        while (i < len && !isWs(bytes(i))) i += 1
      }
    }
    if (count < n) return new GenericArrayData(Array.emptyLongArray)
    val starts = new Array[Int](count)
    val ends = new Array[Int](count)
    var k = 0
    i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        starts(k) = i
        while (i < len && !isWs(bytes(i))) i += 1
        ends(k) = i
        k += 1
      }
    }
    val mask52 = 4503599627370495L
    val mask26 = 67108863L
    val as = new Array[Long](perms)
    val bs = new Array[Long](perms)
    var p = 0
    while (p < perms) {
      as(p) = ((2L * p + 1L) * 25214903917L) & 137438953471L
      bs(p) = p.toLong * 2654435769L
      p += 1
    }
    val sig = new Array[Long](perms)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val md = md5Local.get()
    val space = ' '.toByte
    var g = 0
    while (g <= count - n) {
      md.reset()
      var t = 0
      while (t < n) {
        if (t > 0) md.update(space)
        md.update(bytes, starts(g + t), ends(g + t) - starts(g + t))
        t += 1
      }
      val d = md.digest()
      val h0 = (((d(0) & 0xffL) << 48) | ((d(1) & 0xffL) << 40) |
        ((d(2) & 0xffL) << 32) | ((d(3) & 0xffL) << 24) |
        ((d(4) & 0xffL) << 16) | ((d(5) & 0xffL) << 8) |
        (d(6) & 0xffL)) >>> 4
      val lo = h0 & mask26
      val hi = h0 >>> 26
      p = 0
      while (p < perms) {
        val m = (((lo * as(p)) & mask52) +
          ((hi * as(p)) & mask26) * 67108864L + bs(p)) & mask52
        if (m < sig(p)) sig(p) = m
        p += 1
      }
      g += 1
    }
    new GenericArrayData(sig)
  }

  /** DEFLATE-compressed byte count of the raw UTF-8 bytes (zlib level
    * 6, default strategy — the Gopher/Chinchilla "compression ratio"
    * quality signal's denominator side). Counts only: the compressed
    * bytes are discarded buffer-by-buffer, so the kernel allocates one
    * 8 KiB scratch regardless of document size. Deterministic for a
    * fixed JDK zlib (the contract query stays rows-only — no SQL
    * engine replays zlib — with the ratio laws spec-pinned instead).
    */
  def deflateSize(s: UTF8String): Long = {
    val bytes = s.getBytes
    val d = new java.util.zip.Deflater(6, false)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }
}
