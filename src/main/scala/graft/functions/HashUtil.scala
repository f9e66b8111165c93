package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic 64-bit hashing primitives shared by the custom Catalyst
  * expressions (interpreted eval AND generated code both call these static
  * methods, so the two paths cannot drift apart).
  */
object HashUtil {

  /** FNV-1a 64-bit over raw bytes. */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Polynomial rolling hash (base 1000003, wrapping 64-bit) over the UTF-8
    * bytes of a string — a cheap order-sensitive content fingerprint. */
  def rollingHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * 1000003L + (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  /** 64-bit SimHash over an array of string tokens: each token votes its
    * FNV-1a bit pattern; the sign of each bit's tally forms the sketch.
    * Near-duplicate texts land within a small Hamming distance. */
  def simHash(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = fnv1a64(tokens.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Hamming distance between two 64-bit sketches. */
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  private val Space = UTF8String.fromString(" ")

  /** \S+ tokenization as a single byte scan — semantics identical to
    * regexp_extract_all(s, '\S+') for ASCII whitespace (which is all that
    * Java regex \s and RE2 \s match by default): runs of bytes outside
    * { space, \t, \n, \x0B, \f, \r }. UTF-8 multi-byte sequences never
    * contain these bytes, so byte-level splitting is exact. */
  /** Unicode NFC (canonical composition) via java.text.Normalizer — the
    * normalization pass every tokenizer pipeline runs before hashing or
    * dedup (decomposed "Cafe" + U+0301 and composed "Café" must collide).
    * Normalization of assigned characters is STABILIZED by Unicode policy,
    * so the JVM's tables and the oracle engine's (utf8proc) agree. ASCII
    * fast path: NFC can only change strings containing non-ASCII bytes,
    * so pure-ASCII rows never pay the String round-trip. */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) { ascii = bytes(i) >= 0; i += 1 }
    if (ascii) s
    else {
      val str = s.toString
      val n = java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC)
      if (n.equals(str)) s else UTF8String.fromString(n)
    }
  }

  def tokenize(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start)
        out.add(UTF8String.fromBytes(bytes, start, i - start))
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Distinct word k-shingles (space-joined k-token windows), first-occurrence
    * order — fused single-pass replacement for
    * transform+slice+array_join+array_distinct (whose interpreted lambdas cost
    * ~ms/row and get re-evaluated per exploded output row). */
  def wordShingles(tokens: org.apache.spark.sql.catalyst.util.ArrayData, k: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = tokens.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + k <= n) {
      var sh = if (tokens.isNullAt(i)) UTF8String.EMPTY_UTF8 else tokens.getUTF8String(i)
      var j = 1
      while (j < k) {
        val t = if (tokens.isNullAt(i + j)) UTF8String.EMPTY_UTF8 else tokens.getUTF8String(i + j)
        sh = UTF8String.concat(sh, Space, t)
        j += 1
      }
      seen.add(sh)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray.asInstanceOf[Array[Any]])
  }

  /** Distinct char k-gram count — fused replacement for
    * transform(sequence)+substr+array_distinct+size.
    *
    * One byte pass computes every char's byte offset, then each window is a
    * zero-copy UTF8String view over the backing array. The naive
    * substringSQL(i, k) loop re-scans from the string start per window
    * (O(len²) chars) and copies every window — measured 0.36 ms/doc at
    * ~300 chars vs ~0.01 ms for this shape (PERF.md). Distinctness is still
    * exact string equality, not hash-only. */
  def charShingleCount(s: UTF8String, k: Int): Int = {
    val len = s.numChars()
    if (len < k) return 0
    val bytes = s.getBytes
    val nBytes = bytes.length
    val seen = new java.util.HashSet[UTF8String]()
    if (nBytes == len) {
      // ASCII fast path: char offset == byte offset
      var i = 0
      while (i + k <= len) {
        seen.add(UTF8String.fromBytes(bytes, i, k))
        i += 1
      }
    } else {
      val starts = new Array[Int](len + 1)
      var i = 0
      var b = 0
      while (i < len) {
        starts(i) = b
        b += UTF8String.numBytesForFirstByte(bytes(b))
        i += 1
      }
      starts(len) = nBytes
      i = 0
      while (i + k <= len) {
        seen.add(UTF8String.fromBytes(bytes, starts(i), starts(i + k) - starts(i)))
        i += 1
      }
    }
    seen.size
  }

  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** MinHash signature: numHashes independent min-hash values in ONE pass over
    * the shingle array (hash family = splitmix64 over a per-slot offset of the
    * shingle's FNV-1a hash). Empty input → all Long.MaxValue. */
  def minHash(shingles: org.apache.spark.sql.catalyst.util.ArrayData, numHashes: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val h0 = fnv1a64(shingles.getUTF8String(i).getBytes)
        var j = 0
        while (j < numHashes) {
          val h = mix64(h0 + 0x9e3779b97f4a7c15L * (j + 1))
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  /** Index of the centroid with maximum dot product against a float vector
    * (centroids pre-normalized ⇒ max-dot = nearest-by-cosine). Kernel for the
    * IVF coarse quantizer. */
  def nearestCentroid(vec: ArrayData, centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val n = math.min(vec.numElements(), cent.length)
      var dot = 0.0
      var i = 0
      while (i < n) {
        dot += vec.getFloat(i).toDouble * cent(i)
        i += 1
      }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  /** Driver-side twin of the [[cosineFloor(ArrayData,ArrayData)*]] kernel —
    * identical arithmetic over plain float arrays, for bounded driver state
    * (centroid ranking in the q_ann10 recall-curve query). Kept textually
    * parallel so the two can never drift apart numerically. */
  def cosineFloor(a: Array[Float], b: Array[Float]): Double = {
    val unit = 1e15
    val n = math.min(a.length, b.length)
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += math.floor(x * y * unit).toLong
      na += math.floor(x * x * unit).toLong
      nb += math.floor(y * y * unit).toLong
      i += 1
    }
    (dot.toDouble / unit) / (math.sqrt(na.toDouble / unit) * math.sqrt(nb.toDouble / unit))
  }

  /** Bit-reproducible cosine: the floor-scaled integer-sum construction of
    * Exact.floorAvg applied element-wise (floor(term*1e15) summed as longs,
    * divided back in double) — IEEE-only ops, so any engine computes the
    * same bits in any order. Fused loop; mirrors the oracle SQL exactly. */
  def cosineFloor(a: ArrayData, b: ArrayData): Double = {
    val unit = 1e15
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += math.floor(x * y * unit).toLong
      na += math.floor(x * x * unit).toLong
      nb += math.floor(y * y * unit).toLong
      i += 1
    }
    (dot.toDouble / unit) / (math.sqrt(na.toDouble / unit) * math.sqrt(nb.toDouble / unit))
  }

  /** Symmetric per-vector int8 quantization + integer-dot cosine against a
    * pre-quantized query: q_i = floor(x_i * 127/amax + 0.5) (amax = max |x|,
    * so |q_i| ≤ 127 — int8 domain), score = dot / (sqrt(|v|²)·sqrt(|q|²))
    * over EXACT integer sums. Every step is IEEE-correctly-rounded double
    * arithmetic in a fixed order, so any engine reproduces the same bits —
    * and the stored representation is 4× smaller than float32 with
    * SIMD-friendly integer dot products (the standard serving-time
    * compression for embedding search). A zero vector scores the -2.0
    * sentinel (below any cosine) instead of dividing by zero. Fused loop:
    * one amax pass + one quantize-and-accumulate pass per row. */
  def int8Cosine(vec: ArrayData, q: Array[Long], qNorm: Long): Double = {
    // a truncated dot against the FULL-query qNorm would be a plausible-
    // but-wrong score — dimension drift must fail loudly, not rank quietly
    require(vec.numElements() == q.length,
      s"int8Cosine dimension mismatch: vector ${vec.numElements()} vs query ${q.length}")
    val n = q.length
    var amax = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(vec.getFloat(i).toDouble)
      if (v > amax) amax = v
      i += 1
    }
    if (amax == 0.0 || qNorm == 0L) return -2.0
    val scale = 127.0 / amax
    var dot = 0L
    var vn = 0L
    i = 0
    while (i < n) {
      val qi = math.floor(vec.getFloat(i).toDouble * scale + 0.5).toLong
      dot += qi * q(i)
      vn += qi * qi
      i += 1
    }
    dot.toDouble / (math.sqrt(vn.toDouble) * math.sqrt(qNorm.toDouble))
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HexChars = "0123456789abcdef".toCharArray

  /** md5 hex (lowercase) of every k-token sliding shingle, POSITIONAL (one
    * slot per start, duplicates kept — unlike [[wordShingles]]' distinct
    * set): slot i = md5 of tokens i..i+k-1 joined by a single space, byte-
    * identical to SQL md5(array_to_string(...)). One fused pass hashing
    * token bytes directly — no intermediate shingle strings, no interpreted
    * slice/array_join/transform lambdas (which evaluate a Column tree per
    * position and cost ~50x this kernel). */
  def shingleHashes(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    val m = n - k + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val md = md5Digest.get()
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(' '.toByte)
        if (!tokens.isNullAt(i + j)) md.update(tokens.getUTF8String(i + j).getBytes)
        j += 1
      }
      val dig = md.digest()
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(b * 2) = HexChars((dig(b) >> 4) & 0xf)
        hex(b * 2 + 1) = HexChars(dig(b) & 0xf)
        b += 1
      }
      out(i) = UTF8String.fromString(new String(hex))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The driver-side twin of [[int8Cosine]]'s quantization step, used to
    * quantize the query vector once with the identical arithmetic. */
  def int8Quantize(v: Array[Float]): Array[Long] = {
    var amax = 0.0
    v.foreach { x => val a = math.abs(x.toDouble); if (a > amax) amax = a }
    if (amax == 0.0) Array.fill(v.length)(0L)
    else {
      val scale = 127.0 / amax
      v.map(x => math.floor(x.toDouble * scale + 0.5).toLong)
    }
  }

  /** Random-hyperplane LSH signature over a float vector: bit b is set iff
    * dot(vec, planes(b)) >= 0. One fused pass (planes × dim) per row —
    * replaces the per-bit aggregate/zip_with lambda chains, which Spark
    * evaluates interpreted (higher-order functions never enter codegen).
    * Accumulation order is ascending i, matching the driver-side query
    * signature in [[graft.similarity.Ann.lshTopK]] bit-for-bit. */
  def hyperplaneSig(vec: ArrayData, planes: Array[Array[Double]]): Long = {
    var sig = 0L
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      val n = math.min(vec.numElements(), p.length)
      var dot = 0.0
      var i = 0
      while (i < n) {
        dot += vec.getFloat(i).toDouble * p(i)
        i += 1
      }
      if (dot >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Trailing-frame statistics from lag values: over the values of the
    * lags (`lags(i)` is lag i+1, null where `present(i)` is false), the three
    * slots of the returned row, c being the count of non-null values:
    *  - mean: the long sum as a double over c as a double;
    *  - std: `sqrt((s2 - s1*s1/c) / (c-1))` over the long sums s1 and s2 of
    *    the values and their squares (wrapping like non-ANSI Spark), null
    *    when c < 2;
    *  - median: `percentile`'s interpolation over the sorted values,
    *    `(hi-pos)*v(lo) + (pos-lo)*v(hi)` at `pos = 0.5*(c-1)`.
    * Mean and median are null on an empty frame. Each operation is the one
    * Spark's sliding-frame `count`/`sum`/`percentile` columns apply, in the
    * same order, so the doubles are bit-equal. `sorted` is scratch space of
    * at least `lags.length` slots. */
  def rollingStats(lags: Array[Long], present: Array[Boolean], sorted: Array[Long]): InternalRow = {
    val out = new Array[Any](3)
    var c = 0
    var s1 = 0L
    var s2 = 0L
    var i = 0
    while (i < lags.length) {
      if (present(i)) {
        val v = lags(i)
        s1 += v
        s2 += v * v
        var j = c // insertion sort: at most a dozen values
        while (j > 0 && sorted(j - 1) > v) { sorted(j) = sorted(j - 1); j -= 1 }
        sorted(j) = v
        c += 1
      }
      i += 1
    }
    if (c > 0) {
      val n = c.toDouble
      val d1 = s1.toDouble
      out(0) = d1 / n
      if (c >= 2) out(1) = math.sqrt((s2.toDouble - d1 * d1 / n) / (n - 1.0))
      val pos = (c - 1).toDouble * 0.5
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      val vlo = sorted(lo)
      val vhi = sorted(hi)
      out(2) =
        if (hi == lo || vhi == vlo) vlo.toDouble
        else (hi.toDouble - pos) * vlo.toDouble + (pos - lo.toDouble) * vhi.toDouble
    }
    new GenericInternalRow(out)
  }

  /** Per-list token hit counts in ONE pass: each token is looked up in
    * `lookup` (token → bitmask of which word lists contain it) and every set
    * bit increments that list's counter. Replaces numLists interpreted
    * filter/array_contains lambda passes — O(tokens) hash probes instead of
    * O(numLists × tokens × |list|) interpreted comparisons. Counts are exact
    * integers, so downstream ratio arithmetic stays bit-identical to the
    * per-list formulation. */
  def listHits(tokens: ArrayData, lookup: java.util.HashMap[UTF8String, Integer],
      numLists: Int): ArrayData = {
    val counts = new Array[Int](numLists)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val m = lookup.get(tokens.getUTF8String(i))
        if (m != null) {
          var mask = m.intValue()
          while (mask != 0) {
            counts(java.lang.Integer.numberOfTrailingZeros(mask)) += 1
            mask &= mask - 1
          }
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  /** Per-class character occurrence counts in ONE pass over the string:
    * each char is looked up in `lookup` (char → bitmask of which classes
    * contain it). Replaces numClasses regexp_replace passes; the classes are
    * BMP-only (accented Latin letters), so UTF-16 char iteration counts each
    * class member exactly once, matching
    * length(s) - length(regexp_replace(s, '[class]', '')). */
  def charClassCounts(s: UTF8String, lookup: java.util.HashMap[Character, Integer],
      numClasses: Int): ArrayData = {
    val counts = new Array[Int](numClasses)
    val str = s.toString
    var i = 0
    while (i < str.length) {
      val m = lookup.get(Character.valueOf(str.charAt(i)))
      if (m != null) {
        var mask = m.intValue()
        while (mask != 0) {
          counts(java.lang.Integer.numberOfTrailingZeros(mask)) += 1
          mask &= mask - 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  /** Cosine similarity between two float vectors with double accumulation.
    * Returns NaN when either norm is zero (propagates deterministically). */
  def cosineFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Greedy leftmost non-overlapping BPE merge: every adjacent (a, b) in the
    * symbol array becomes the single symbol a+b; after a merge the scan
    * resumes AFTER the merged token ([a,a,a] under (a,a) → [aa,a] — the
    * classic BPE apply rule). Kernel for [[expressions.BpeMergeExpr]]. */
  def bpeMerge(syms: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = syms.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      if (i < n - 1 && a.equals(syms.getUTF8String(i)) && b.equals(syms.getUTF8String(i + 1))) {
        out.add(UTF8String.concat(a, b))
        i += 2
      } else {
        out.add(syms.getUTF8String(i))
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      out.toArray(new Array[UTF8String](out.size())))
  }
}
