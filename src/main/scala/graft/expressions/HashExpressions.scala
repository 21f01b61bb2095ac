package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Static helpers callable from generated code. */
object HashUtil {

  /** First 32 bits of md5 (== parsing the first 8 hex chars) mod 2^31-1 —
    * value-identical to `conv(substr(md5(s),1,8),16,10) % 2147483647` and
    * to DuckDB `CAST('0x'||substr(md5(g),1,8) AS BIGINT) % 2147483647`,
    * without materializing the hex string. */
  def md5Prefix31(s: UTF8String): Long = {
    val b = s.getBytes
    hash31(b, 0, b.length)
  }

  /** [[md5Prefix31]] of the bytes `m(off until off + len)`. */
  private def hash31(m: Array[Byte], off: Int, len: Int): Long =
    Md5.prefix32(m, off, len) % P

  // unboxed copies of the universal-hash parameters: the k×|shingles| inner
  // loop must not pay Vector boxing per access
  private val A: Array[Long] = graft.functions.TextFunctions.MinhashA.toArray
  private val B: Array[Long] = graft.functions.TextFunctions.MinhashB.toArray
  private final val P = 2147483647L

  /** x mod (2^31−1) for 0 ≤ x < 2^63, by Mersenne folding: 2^31 ≡ 1
    * (mod p), so x = q·2^31 + r ≡ q + r. Two folds bring x under 2p; one
    * conditional subtract finishes. Value-identical to `x % p` (the DuckDB
    * oracle's form) at ~3× the throughput of hardware 64-bit modulo. */
  @inline private def modP(x: Long): Long = {
    var y = (x >>> 31) + (x & P)
    y = (y >>> 31) + (y & P)
    if (y >= P) y - P else y
  }

  // the 16-byte digest of the kernels that read past its 32-bit prefix
  private val digestBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }

  /** The first `n` longs of `hs` as an `UnsafeArrayData`. */
  private def longArray(hs: Array[Long], n: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(hs, Platform.LONG_ARRAY_OFFSET, n, 8)

  /** True when `a` is an `UnsafeArrayData` whose null bitmap is all zero,
    * so its longs can be read in place from [[valuesOffset]]; the kernels
    * keep their `ArrayData` loop for every other array. */
  private def denseUnsafe(a: ArrayData): Boolean = a match {
    case u: UnsafeArrayData =>
      val base = u.getBaseObject
      var off = u.getBaseOffset + 8
      val end = off + ((u.numElements + 63) / 64) * 8L
      while (off < end) {
        if (Platform.getLong(base, off) != 0L) return false
        off += 8
      }
      true
    case _ => false
  }

  /** Address of the first value of `u`, relative to its base object. */
  private def valuesOffset(u: UnsafeArrayData): Long =
    u.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(u.numElements)

  /** UTF-8 length of the code point starting at `b(i)` — delegated to
    * Spark's own table so char stepping is bit-identical to `substring`'s
    * (including its treatment of invalid lead bytes). */
  @inline private def cpLen(b: Array[Byte], i: Int): Int =
    UTF8String.numBytesForFirstByte(b(i))

  /** Fused char-n-gram shingle → 31-bit-hash set: one pass over the text,
    * one md5 per position, dedup + ascending sort — replaces the four-op
    * HOF pipeline (substring transform, distinct, hash transform, sort)
    * and its per-shingle string allocations. Value-identical to
    * `array_sort(array_distinct(transform(shingles, md5prefix31)))` over
    * the text's char n-grams (TextSimSpec pins it against that composed
    * form).
    *
    * Allocation profile (this sits under ~10M calls per 5k docs): the
    * text's bytes are materialized ONCE and each shingle is digested
    * where it lies in that buffer by [[Md5.prefix32]] over (offset,
    * length) — no per-shingle UTF8String or byte[], no digest object and
    * no digest buffer. Dedup+sort runs on a primitive long[] (sort +
    * unique scan) instead of a boxing TreeSet, and the set is returned
    * as an `UnsafeArrayData` copied from that long[], with no boxed
    * element. Shingle positions step CODE POINTS (the same positions
    * `substring` would produce): for pure-ASCII text byte offsets are
    * char offsets; multi-byte text walks UTF-8 lead bytes. */
  def shingleHashes31(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    // char starts: for ASCII, identity; else walk UTF-8 lead bytes once
    var nChars = 0
    var ascii = true
    var i = 0
    while (i < bytes.length) {
      val step = cpLen(bytes, i)
      if (step > 1) ascii = false
      i += step
      nChars += 1
    }
    if (nChars < n) return longArray(Array.emptyLongArray, 0)
    val nOut = nChars - n + 1
    val hs = new Array[Long](nOut)
    if (ascii) {
      var p = 0
      while (p < nOut) {
        hs(p) = hash31(bytes, p, n)
        p += 1
      }
    } else {
      // starts(c) = byte offset of char c; shingle c spans starts(c) until
      // starts(c+n) (exclusive)
      val starts = new Array[Int](nChars + 1)
      var c = 0
      var b = 0
      while (b < bytes.length) { starts(c) = b; b += cpLen(bytes, b); c += 1 }
      starts(nChars) = bytes.length
      var p = 0
      while (p < nOut) {
        hs(p) = hash31(bytes, starts(p), starts(p + n) - starts(p))
        p += 1
      }
    }
    sortedDistinct(hs)
  }

  /** `hs` sorted ascending with duplicates dropped (sorted in place, then
    * a unique scan), as an `UnsafeArrayData`. */
  private def sortedDistinct(hs: Array[Long]): ArrayData = {
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < hs.length) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    longArray(hs, w)
  }

  /** Intersection size of two SORTED long arrays by linear merge — no
    * hash-set allocation per row (Spark's `array_intersect` builds one),
    * which dominates when millions of candidate pairs each intersect
    * ~1000-element shingle sets. */
  def sortedIntersect(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    if (denseUnsafe(a) && denseUnsafe(b)) {
      val ua = a.asInstanceOf[UnsafeArrayData]
      val ub = b.asInstanceOf[UnsafeArrayData]
      val baseA = ua.getBaseObject
      val baseB = ub.getBaseObject
      val offA = valuesOffset(ua)
      val offB = valuesOffset(ub)
      while (i < na && j < nb) {
        val x = Platform.getLong(baseA, offA + 8L * i)
        val y = Platform.getLong(baseB, offB + 8L * j)
        if (x == y) { c += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    } else {
      while (i < na && j < nb) {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x == y) { c += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    c
  }

  /** Count of positions where two equal-length long arrays agree —
    * the minhash-signature agreement statistic (agree/k is an unbiased
    * jaccard estimator with sd sqrt(j(1-j)/k)). Null elements never
    * match. Two null-free `UnsafeArrayData` signatures (what a shuffle or
    * join hands over) are compared in place, one long read per side per
    * slot; any other pair goes through the `ArrayData` accessors. */
  def positionalAgree(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var c = 0L
    if (denseUnsafe(a) && denseUnsafe(b)) {
      val ua = a.asInstanceOf[UnsafeArrayData]
      val ub = b.asInstanceOf[UnsafeArrayData]
      val baseA = ua.getBaseObject
      val baseB = ub.getBaseObject
      val offA = valuesOffset(ua)
      val offB = valuesOffset(ub)
      while (i < n) {
        if (Platform.getLong(baseA, offA + 8L * i) == Platform.getLong(baseB, offB + 8L * i)) c += 1
        i += 1
      }
    } else {
      while (i < n) {
        if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
        i += 1
      }
    }
    c
  }

  /** Word boundaries of `s` under `split(s, " ", -1)` semantics — the
    * byte 0x20 never occurs inside a multi-byte UTF-8 sequence, so the
    * byte-level split is value-identical to the regex split `tokens`
    * uses (consecutive spaces yield empty words, leading/trailing
    * spaces yield leading/trailing empty words; limit −1 keeps them
    * all). Returns (starts, ends) with nWords = starts.length. */
  @inline private def wordBounds(bytes: Array[Byte]): (Array[Int], Array[Int]) = {
    var nWords = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) nWords += 1; i += 1 }
    val starts = new Array[Int](nWords)
    val ends = new Array[Int](nWords)
    var w = 0
    i = 0
    starts(0) = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { ends(w) = i; w += 1; starts(w) = i + 1 }
      i += 1
    }
    ends(w) = bytes.length
    (starts, ends)
  }

  /** Fused hash-ordered word-n-gram frame build: distinct '_'-joined word
    * n-grams of `s`, sorted under the (md5Prefix31(g), g-binary) total
    * order, returned as array<struct<h:long, g:string>>. Value-identical
    * (per struct field) to the HOF chain
    * `array_sort(transform(array_distinct(wordNgrams(s, n)), g -> struct(md5prefix31(g), g)))`
    * — one pass, no interpreted lambdas, no intermediate string arrays.
    * Key byte trick: after splitting on single spaces, the '_'-joined
    * n-gram over words p..p+n−1 equals the original byte slice
    * [starts(p), ends(p+n−1)) with each 0x20 replaced by '_' (separators
    * are exactly one space each), so grams are built by one copy + one
    * byte scan. */
  def hashOrderedGrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val (starts, ends) = wordBounds(bytes)
    val nWords = starts.length
    if (nWords < n) return new GenericArrayData(Array.empty[Any])
    val nOut = nWords - n + 1
    val seen = new java.util.HashSet[UTF8String](nOut * 2)
    val grams = new java.util.ArrayList[UTF8String](nOut)
    var p = 0
    while (p < nOut) {
      val off = starts(p)
      val len = ends(p + n - 1) - off
      val g = new Array[Byte](len)
      System.arraycopy(bytes, off, g, 0, len)
      var q = 0
      while (q < len) { if (g(q) == 0x20) g(q) = '_'; q += 1 }
      val u = UTF8String.fromBytes(g)
      if (seen.add(u)) grams.add(u)
      p += 1
    }
    val hs = new Array[Long](grams.size)
    var j = 0
    while (j < grams.size) {
      val gb = grams.get(j).getBytes
      hs(j) = hash31(gb, 0, gb.length)
      j += 1
    }
    // sort by (h, g-binary) — the exact array_sort order on struct(h, g):
    // long asc, then UTF8String.compareTo (binary) asc
    val boxed = Array.range(0, grams.size).map(Integer.valueOf)
    java.util.Arrays.sort(boxed, new java.util.Comparator[Integer] {
      override def compare(x: Integer, y: Integer): Int = {
        val xi = x.intValue(); val yi = y.intValue()
        val c = java.lang.Long.compare(hs(xi), hs(yi))
        if (c != 0) c else grams.get(xi).compareTo(grams.get(yi))
      }
    })
    val rows = new Array[Any](grams.size)
    j = 0
    while (j < grams.size) {
      val i = boxed(j).intValue()
      rows(j) = org.apache.spark.sql.catalyst.InternalRow(hs(i), grams.get(i))
      j += 1
    }
    new GenericArrayData(rows)
  }

  /** Fused distinct word-n-gram 31-bit hash set: md5Prefix31 of every
    * '_'-joined word n-gram of `s`, deduped and ascending-sorted. The
    * word-level analog of [[shingleHashes31]]; value-identical AS A SET
    * to `array_distinct(transform(array_distinct(wordNgrams(s, n)), hash31))`
    * (sorted order instead of first-occurrence order — callers explode
    * into aggregates, where element order is immaterial). The text is
    * copied once with every 0x20 turned into '_', so each gram is one
    * contiguous slice of that buffer ([[hashOrderedGrams]]' byte trick)
    * and is digested where it lies — zero per-gram allocation. */
  def wordNgramHashes31(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val (starts, ends) = wordBounds(bytes)
    val nWords = starts.length
    if (nWords < n) return longArray(Array.emptyLongArray, 0)
    val nOut = nWords - n + 1
    val joined = new Array[Byte](bytes.length)
    var q = 0
    while (q < bytes.length) {
      joined(q) = if (bytes(q) == 0x20) '_' else bytes(q)
      q += 1
    }
    val hs = new Array[Long](nOut)
    var p = 0
    while (p < nOut) {
      hs(p) = hash31(joined, starts(p), ends(p + n - 1) - starts(p))
      p += 1
    }
    sortedDistinct(hs)
  }

  /** Fused lexicographically-sorted distinct word-n-gram set — the
    * [[graft.operators.Dedup.containmentGramFrame]] shape: value-identical
    * to `array_sort(array_distinct(wordNgrams(s, n)))` (array_sort on
    * strings is UTF8String binary order). */
  def sortedDistinctNgrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val (starts, ends) = wordBounds(bytes)
    val nWords = starts.length
    if (nWords < n) return new GenericArrayData(Array.empty[Any])
    val nOut = nWords - n + 1
    val seen = new java.util.HashSet[UTF8String](nOut * 2)
    var p = 0
    while (p < nOut) {
      val off = starts(p)
      val len = ends(p + n - 1) - off
      val g = new Array[Byte](len)
      System.arraycopy(bytes, off, g, 0, len)
      var q = 0
      while (q < len) { if (g(q) == 0x20) g(q) = '_'; q += 1 }
      seen.add(UTF8String.fromBytes(g))
      p += 1
    }
    val arr = seen.toArray(new Array[UTF8String](seen.size))
    java.util.Arrays.sort(arr, new java.util.Comparator[UTF8String] {
      override def compare(a: UTF8String, b: UTF8String): Int = a.compareTo(b)
    })
    val out = new Array[Any](arr.length)
    var j = 0
    while (j < arr.length) { out(j) = arr(j); j += 1 }
    new GenericArrayData(out)
  }

  /** |A ∩ B| for two arrays of struct<h:long, g:string> BOTH sorted under
    * the (h, g-binary) order ([[hashOrderedGrams]]' output) — linear
    * merge, no per-pair hash-set build. Equal structs ⟺ equal grams
    * (h is a function of g). */
  def hashOrderedIntersect(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val ra = a.getStruct(i, 2)
      val rb = b.getStruct(j, 2)
      val ha = ra.getLong(0)
      val hb = rb.getLong(0)
      var cmp = java.lang.Long.compare(ha, hb)
      if (cmp == 0) cmp = ra.getUTF8String(1).compareTo(rb.getUTF8String(1))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** |A ∩ B| for two lexicographically sorted string arrays
    * ([[sortedDistinctNgrams]]' output) — linear merge over binary
    * comparisons, replacing `size(array_intersect(a, b))`'s per-pair
    * hash-set build. */
  def sortedStringIntersect(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** One-pass k-way minhash over pre-hashed shingles, using the fixed
    * universal-hash parameters from `TextFunctions.MinhashA/B`.
    * (A(j) < p and h < p, so A(j)·h + B(j) < 2^62 + 2^31 — no overflow.) */
  def minhashSig(hs: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = modP(A(j) * h + B(j))
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    if (n == 0) new GenericArrayData(Array.fill[Any](k)(null))
    else longArray(mins, k)
  }

  // scratch for one band's "#"-joined decimal rendering (≤ 21 bytes per
  // slot incl. sign + separators); grown on demand, reused per thread
  private val bandBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](256)
  }
  private val HexLower: Array[Byte] = "0123456789abcdef".getBytes

  /** `v` rendered as decimal ASCII at `buf(off)`, returning the new end —
    * byte-identical to `java.lang.Long.toString(v)` (what catalyst's
    * long→string cast produces), without the String. */
  @inline private def writeLongDecimal(buf: Array[Byte], off: Int, v: Long): Int = {
    if (v == 0L) { buf(off) = '0'; return off + 1 }
    var o = off
    var x = v
    if (x < 0L) {
      if (x == Long.MinValue) { // -x overflows; rare enough to fall back
        val s = java.lang.Long.toString(x)
        var i = 0
        while (i < s.length) { buf(o) = s.charAt(i).toByte; o += 1; i += 1 }
        return o
      }
      buf(o) = '-'; o += 1; x = -x
    }
    val start = o
    while (x > 0L) { buf(o) = ('0' + (x % 10L)).toByte; x /= 10L; o += 1 }
    var i = start
    var j = o - 1
    while (i < j) { val t = buf(i); buf(i) = buf(j); buf(j) = t; i += 1; j -= 1 }
    o
  }

  /** Both 60-bit token-hash arrays of a text in one pass (the
    * [[TokenHashes60Pair]] kernel): tokens split on byte 0x20 with
    * limit=-1 semantics (leading/inner/trailing empties kept; empty
    * text = one empty token — what `split(text, " ")` produces), one
    * md5 per token, lo = hex nibbles 0..14, hi = nibbles 15..29 — the
    * exact integers `conv(substring(md5(t),1,15),16,10)` /
    * `conv(substring(md5(t),16,15),16,10)` parse (60 bits, always
    * non-negative, exact in a long). */
  def tokenHashes60Pair(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) nTok += 1; i += 1 }
    val lo = new Array[Long](nTok)
    val hi = new Array[Long](nTok)
    val d16 = digestBuf.get()
    var start = 0
    var t = 0
    i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == 0x20) {
        Md5.digest(bytes, start, i - start, d16, 0)
        // nibble k of the digest: even k = high nibble of byte k/2
        var vLo = 0L
        var k = 0
        while (k < 15) {
          val nib = if ((k & 1) == 0) (d16(k >> 1) >> 4) & 0xf else d16(k >> 1) & 0xf
          vLo = (vLo << 4) | nib
          k += 1
        }
        var vHi = 0L
        k = 15
        while (k < 30) {
          val nib = if ((k & 1) == 0) (d16(k >> 1) >> 4) & 0xf else d16(k >> 1) & 0xf
          vHi = (vHi << 4) | nib
          k += 1
        }
        lo(t) = vLo
        hi(t) = vHi
        t += 1
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](longArray(lo, nTok), longArray(hi, nTok)))
  }

  /** All k/rowsPerBand LSH band keys of a minhash signature in ONE pass —
    * value-identical to `TextFunctions.lshBands`' per-band
    * `md5(concat_ws("#", element_at(sig, ·).cast(string)...))` chain:
    * same decimal rendering of each slot, same concat_ws null-skip rule
    * (null slots contribute nothing, separators only between kept slots,
    * all-null band digests the empty string), same lowercase 32-hex md5 —
    * without the k long→string casts, b concat allocations and b
    * expression-tree md5 calls per row. */
  def lshBandKeys(sig: ArrayData, k: Int, rowsPerBand: Int): ArrayData = {
    val nBands = k / rowsPerBand
    val out = new Array[Any](nBands)
    val d16 = digestBuf.get()
    var buf = bandBuf.get()
    val need = rowsPerBand * 21
    if (buf.length < need) { buf = new Array[Byte](need); bandBuf.set(buf) }
    var band = 0
    while (band < nBands) {
      var len = 0
      var first = true
      var r = 0
      while (r < rowsPerBand) {
        val idx = band * rowsPerBand + r
        if (!sig.isNullAt(idx)) {
          if (!first) { buf(len) = '#'; len += 1 }
          first = false
          len = writeLongDecimal(buf, len, sig.getLong(idx))
        }
        r += 1
      }
      Md5.digest(buf, 0, len, d16, 0)
      val hex = new Array[Byte](32)
      var i = 0
      while (i < 16) {
        hex(2 * i) = HexLower((d16(i) >> 4) & 0xf)
        hex(2 * i + 1) = HexLower(d16(i) & 0xf)
        i += 1
      }
      out(band) = UTF8String.fromBytes(hex)
      band += 1
    }
    new GenericArrayData(out)
  }
}

/** `hash31` as a native expression: md5-prefix 31-bit hash of a string. */
case class Md5Prefix31(child: Expression) extends UnaryExpression {
  // declared input contract: wrong-typed SQL input (through the
  // graft_* registry) must fail analysis, not reinterpret bytes
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"expects STRING, got ${t.simpleString}")
    }
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    HashUtil.md5Prefix31(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.HashUtil.md5Prefix31($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass k-way minhash signature over an array<bigint> of shingle
  * hashes. Replaces k separate `transform`+`array_min` passes (k·n
  * interpreted lambda calls per row) with one fused loop. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  // declared input contract: wrong-typed SQL input (through the
  // graft_* registry) must fail analysis, not reinterpret bytes
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"expects ARRAY<BIGINT>, got ${t.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(v: Any): Any =
    HashUtil.minhashSig(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.HashUtil.minhashSig($c, $k)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Both 60-bit token-hash arrays of a text column in one fused pass
  * (see HashUtil.tokenHashes60Pair): `lo` = per-token
  * `conv(substring(md5(tok),1,15),16,10)`, `hi` = the same from hex
  * chars 16..30 — the wide-simhash sketch's two halves. The composed
  * form ran TWO interpreted `transform(split(text," "), hash60*)`
  * chains, each re-digesting every token; this digests each token once
  * and reads both halves from the one digest. Token split is byte 0x20
  * with leading/inner/trailing empties kept — exactly
  * `split(text, " ")`'s limit=-1 semantics (empty text = one empty
  * token). Null text propagates (the composed transform's semantics). */
case class TokenHashes60Pair(child: Expression) extends UnaryExpression {
  // declared input contract: wrong-typed SQL input (through the
  // graft_* registry) must fail analysis, not reinterpret bytes
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"expects STRING, got ${t.simpleString}")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("lo", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("hi", ArrayType(LongType, containsNull = false), nullable = false)))

  override def nullSafeEval(v: Any): Any =
    HashUtil.tokenHashes60Pair(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.HashUtil.tokenHashes60Pair($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The LSH band keys of a minhash signature in one fused pass (see
  * HashUtil.lshBandKeys). Null-propagating like the element_at chain it
  * replaces propagates a null signature INTO each band's concat_ws —
  * `TextFunctions.lshBands` pins the null-signature case to the constant
  * the composed form produces (every band = md5 of the empty string), so
  * the composed and native forms agree on every input. */
case class LshBandKeys(child: Expression, k: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(k % rowsPerBand == 0 && rowsPerBand > 0,
    s"rowsPerBand=$rowsPerBand must divide k=$k")
  // declared input contract: wrong-typed SQL input (through the
  // graft_* registry) must fail analysis, not reinterpret bytes
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"expects ARRAY<BIGINT>, got ${t.simpleString}")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    HashUtil.lshBandKeys(v.asInstanceOf[ArrayData], k, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.HashUtil.lshBandKeys($c, $k, $rowsPerBand)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** |A ∩ B| for two sorted long-array columns (see HashUtil.sortedIntersect).
  * Callers guarantee sortedness (arrays built with `array_sort`). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"expects two ARRAY<BIGINT>, got ${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.sortedIntersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.HashUtil.sortedIntersect($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Positional agreement count of two minhash signatures (see
  * HashUtil.positionalAgree). */
case class PositionalAgree(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"expects two ARRAY<BIGINT>, got ${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.positionalAgree(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.HashUtil.positionalAgree($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Sorted distinct 31-bit shingle-hash set of a text column (see
  * HashUtil.shingleHashes31). */
case class ShingleHashes31(child: Expression, n: Int) extends UnaryExpression {
  // declared input contract: wrong-typed SQL input (through the
  // graft_* registry) must fail analysis, not reinterpret bytes
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"expects STRING, got ${t.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    HashUtil.shingleHashes31(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.HashUtil.shingleHashes31($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Hash-ordered distinct word-n-gram frame of a text column (see
  * HashUtil.hashOrderedGrams): array<struct<h:long, g:string>> sorted by
  * (h, g). NULL input yields NULL — every call site filters on
  * size(...) > 0 or explodes, where NULL and empty behave identically. */
case class HashOrderedGrams(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"expects STRING, got ${t.simpleString}")
    }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h", LongType, nullable = false),
      StructField("g", StringType, nullable = false))), containsNull = false)

  override def nullSafeEval(v: Any): Any =
    HashUtil.hashOrderedGrams(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.HashUtil.hashOrderedGrams($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sorted distinct 31-bit word-n-gram hash set of a text column (see
  * HashUtil.wordNgramHashes31). Same NULL contract as [[HashOrderedGrams]]. */
case class WordNgramHashes31(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"expects STRING, got ${t.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    HashUtil.wordNgramHashes31(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.HashUtil.wordNgramHashes31($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Lexicographically sorted distinct word-n-gram set of a text column
  * (see HashUtil.sortedDistinctNgrams). Same NULL contract as
  * [[HashOrderedGrams]]. */
case class SortedDistinctNgrams(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"expects STRING, got ${t.simpleString}")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    HashUtil.sortedDistinctNgrams(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.HashUtil.sortedDistinctNgrams($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** |A ∩ B| over two (h, g)-sorted struct arrays (see
  * HashUtil.hashOrderedIntersect). Callers guarantee both sides come
  * from [[HashOrderedGrams]] / the equivalent array_sort construction. */
case class HashOrderedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  private def ok(t: DataType): Boolean = t match {
    case ArrayType(StructType(Array(h, g)), _) =>
      h.dataType == LongType && g.dataType == StringType
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expects two ARRAY<STRUCT<h BIGINT, g STRING>>, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.hashOrderedIntersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.HashUtil.hashOrderedIntersect($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** |A ∩ B| over two lexicographically sorted string arrays (see
  * HashUtil.sortedStringIntersect). */
case class SortedStringIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"expects two ARRAY<STRING>, got ${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.sortedStringIntersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.HashUtil.sortedStringIntersect($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object HashExpressions {
  def md5prefix31(c: Column): Column = GraftShim.column(Md5Prefix31(GraftShim.expression(c)))
  def hashOrderedGramsNative(text: Column, n: Int): Column =
    GraftShim.column(HashOrderedGrams(GraftShim.expression(text), n))
  def wordNgramHashes31Native(text: Column, n: Int): Column =
    GraftShim.column(WordNgramHashes31(GraftShim.expression(text), n))
  def sortedDistinctNgramsNative(text: Column, n: Int): Column =
    GraftShim.column(SortedDistinctNgrams(GraftShim.expression(text), n))
  def hashOrderedIntersectCount(a: Column, b: Column): Column =
    GraftShim.column(HashOrderedIntersectCount(GraftShim.expression(a), GraftShim.expression(b)))
  def sortedStringIntersectCount(a: Column, b: Column): Column =
    GraftShim.column(SortedStringIntersectCount(GraftShim.expression(a), GraftShim.expression(b)))
  def shingleHashes31Native(text: Column, n: Int): Column =
    GraftShim.column(ShingleHashes31(GraftShim.expression(text), n))
  def minhashSigNative(hashes: Column, k: Int): Column =
    GraftShim.column(MinHashSig(GraftShim.expression(hashes), k))
  def lshBandKeysNative(sig: Column, k: Int, rowsPerBand: Int): Column =
    GraftShim.column(LshBandKeys(GraftShim.expression(sig), k, rowsPerBand))
  def tokenHashes60PairNative(text: Column): Column =
    GraftShim.column(TokenHashes60Pair(GraftShim.expression(text)))
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftShim.column(SortedIntersectCount(GraftShim.expression(a), GraftShim.expression(b)))
  def positionalAgree(a: Column, b: Column): Column =
    GraftShim.column(PositionalAgree(GraftShim.expression(a), GraftShim.expression(b)))
}
