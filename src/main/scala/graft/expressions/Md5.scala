package graft.expressions

import java.nio.ByteOrder

import org.apache.spark.unsafe.Platform

/** RFC 1321 MD5 in one pass over a byte range, for the hash kernels.
  *
  * `java.security.MessageDigest` costs the kernels more than the hashing:
  * every call resets the digest, copies the input into its block buffer
  * and reads each word through a `VarHandle` whose index checks the C1
  * compiler does not remove. Here the message is read where it lies,
  * four bytes at a time, and the padding (the 0x80 byte, the zeros, the
  * bit length) is computed in place for the last one or two blocks, so a
  * digest allocates nothing and keeps no state between calls. The 64
  * steps are unrolled with their constants inline.
  *
  * Byte-identical to `MessageDigest.getInstance("MD5")` on every input
  * (`HashKernelParitySpec` checks every length from 0 to 200 at random
  * offsets). Every MD5 in the engine goes through this object, and
  * `tools.Inventory` fails on a `MessageDigest` anywhere else. */
object Md5 {

  private[this] val bigEndian = ByteOrder.nativeOrder() == ByteOrder.BIG_ENDIAN

  /** Little-endian word at `m(i)`, read in place. The caller has checked
    * that the range lies inside `m`. */
  private def le(m: Array[Byte], i: Int): Int = {
    val v = Platform.getInt(m, Platform.BYTE_ARRAY_OFFSET + i)
    if (bigEndian) Integer.reverseBytes(v) else v
  }

  /** Padded-message word at message index `i` of the final blocks: the
    * message bytes, then 0x80, then zeros (the bit length is placed by
    * the caller). */
  private def tail(m: Array[Byte], off: Int, len: Int, i: Int): Int =
    if (i + 4 <= len) le(m, off + i)
    else if (i > len) 0
    else {
      // the message ends inside this word; the pad byte follows its last byte
      var v = 0x80 << ((len - i) << 3)
      var k = i
      while (k < len) { v |= (m(off + k) & 0xff) << ((k - i) << 3); k += 1 }
      v
    }

  /** Digests `m(off until off + len)`. Writes the 16-byte digest to
    * `out(outOff)` unless `out` is null; returns the first state word
    * (digest bytes 0..3, little-endian). */
  private def run(m: Array[Byte], off: Int, len: Int, out: Array[Byte], outOff: Int): Int = {
    if (off < 0 || len < 0 || off > m.length - len)
      throw new IndexOutOfBoundsException(s"range [$off, $off + $len) outside ${m.length} bytes")
    var h0 = 0x67452301
    var h1 = 0xefcdab89
    var h2 = 0x98badcfe
    var h3 = 0x10325476
    // message + 0x80 + 8 length bytes, rounded up to whole blocks
    val blocks = (len + 8) / 64 + 1
    val bits = len.toLong << 3
    var blk = 0
    var p = 0
    while (blk < blocks) {
      val full = p + 64 <= len
      val last = blk == blocks - 1
      val x0 = if (full) le(m, off + p + 0) else tail(m, off, len, p + 0)
      val x1 = if (full) le(m, off + p + 4) else tail(m, off, len, p + 4)
      val x2 = if (full) le(m, off + p + 8) else tail(m, off, len, p + 8)
      val x3 = if (full) le(m, off + p + 12) else tail(m, off, len, p + 12)
      val x4 = if (full) le(m, off + p + 16) else tail(m, off, len, p + 16)
      val x5 = if (full) le(m, off + p + 20) else tail(m, off, len, p + 20)
      val x6 = if (full) le(m, off + p + 24) else tail(m, off, len, p + 24)
      val x7 = if (full) le(m, off + p + 28) else tail(m, off, len, p + 28)
      val x8 = if (full) le(m, off + p + 32) else tail(m, off, len, p + 32)
      val x9 = if (full) le(m, off + p + 36) else tail(m, off, len, p + 36)
      val x10 = if (full) le(m, off + p + 40) else tail(m, off, len, p + 40)
      val x11 = if (full) le(m, off + p + 44) else tail(m, off, len, p + 44)
      val x12 = if (full) le(m, off + p + 48) else tail(m, off, len, p + 48)
      val x13 = if (full) le(m, off + p + 52) else tail(m, off, len, p + 52)
      val x14 = if (full) le(m, off + p + 56) else if (last) bits.toInt else tail(m, off, len, p + 56)
      val x15 = if (full) le(m, off + p + 60) else if (last) (bits >>> 32).toInt else tail(m, off, len, p + 60)
      var a = h0
      var b = h1
      var c = h2
      var d = h3
      var t = 0
      t = a + ((b & c) | (~b & d)) + x0 + (-680876936); a = b + ((t << 7) | (t >>> 25))
      t = d + ((a & b) | (~a & c)) + x1 + (-389564586); d = a + ((t << 12) | (t >>> 20))
      t = c + ((d & a) | (~d & b)) + x2 + (606105819); c = d + ((t << 17) | (t >>> 15))
      t = b + ((c & d) | (~c & a)) + x3 + (-1044525330); b = c + ((t << 22) | (t >>> 10))
      t = a + ((b & c) | (~b & d)) + x4 + (-176418897); a = b + ((t << 7) | (t >>> 25))
      t = d + ((a & b) | (~a & c)) + x5 + (1200080426); d = a + ((t << 12) | (t >>> 20))
      t = c + ((d & a) | (~d & b)) + x6 + (-1473231341); c = d + ((t << 17) | (t >>> 15))
      t = b + ((c & d) | (~c & a)) + x7 + (-45705983); b = c + ((t << 22) | (t >>> 10))
      t = a + ((b & c) | (~b & d)) + x8 + (1770035416); a = b + ((t << 7) | (t >>> 25))
      t = d + ((a & b) | (~a & c)) + x9 + (-1958414417); d = a + ((t << 12) | (t >>> 20))
      t = c + ((d & a) | (~d & b)) + x10 + (-42063); c = d + ((t << 17) | (t >>> 15))
      t = b + ((c & d) | (~c & a)) + x11 + (-1990404162); b = c + ((t << 22) | (t >>> 10))
      t = a + ((b & c) | (~b & d)) + x12 + (1804603682); a = b + ((t << 7) | (t >>> 25))
      t = d + ((a & b) | (~a & c)) + x13 + (-40341101); d = a + ((t << 12) | (t >>> 20))
      t = c + ((d & a) | (~d & b)) + x14 + (-1502002290); c = d + ((t << 17) | (t >>> 15))
      t = b + ((c & d) | (~c & a)) + x15 + (1236535329); b = c + ((t << 22) | (t >>> 10))

      t = a + ((b & d) | (c & ~d)) + x1 + (-165796510); a = b + ((t << 5) | (t >>> 27))
      t = d + ((a & c) | (b & ~c)) + x6 + (-1069501632); d = a + ((t << 9) | (t >>> 23))
      t = c + ((d & b) | (a & ~b)) + x11 + (643717713); c = d + ((t << 14) | (t >>> 18))
      t = b + ((c & a) | (d & ~a)) + x0 + (-373897302); b = c + ((t << 20) | (t >>> 12))
      t = a + ((b & d) | (c & ~d)) + x5 + (-701558691); a = b + ((t << 5) | (t >>> 27))
      t = d + ((a & c) | (b & ~c)) + x10 + (38016083); d = a + ((t << 9) | (t >>> 23))
      t = c + ((d & b) | (a & ~b)) + x15 + (-660478335); c = d + ((t << 14) | (t >>> 18))
      t = b + ((c & a) | (d & ~a)) + x4 + (-405537848); b = c + ((t << 20) | (t >>> 12))
      t = a + ((b & d) | (c & ~d)) + x9 + (568446438); a = b + ((t << 5) | (t >>> 27))
      t = d + ((a & c) | (b & ~c)) + x14 + (-1019803690); d = a + ((t << 9) | (t >>> 23))
      t = c + ((d & b) | (a & ~b)) + x3 + (-187363961); c = d + ((t << 14) | (t >>> 18))
      t = b + ((c & a) | (d & ~a)) + x8 + (1163531501); b = c + ((t << 20) | (t >>> 12))
      t = a + ((b & d) | (c & ~d)) + x13 + (-1444681467); a = b + ((t << 5) | (t >>> 27))
      t = d + ((a & c) | (b & ~c)) + x2 + (-51403784); d = a + ((t << 9) | (t >>> 23))
      t = c + ((d & b) | (a & ~b)) + x7 + (1735328473); c = d + ((t << 14) | (t >>> 18))
      t = b + ((c & a) | (d & ~a)) + x12 + (-1926607734); b = c + ((t << 20) | (t >>> 12))

      t = a + (b ^ c ^ d) + x5 + (-378558); a = b + ((t << 4) | (t >>> 28))
      t = d + (a ^ b ^ c) + x8 + (-2022574463); d = a + ((t << 11) | (t >>> 21))
      t = c + (d ^ a ^ b) + x11 + (1839030562); c = d + ((t << 16) | (t >>> 16))
      t = b + (c ^ d ^ a) + x14 + (-35309556); b = c + ((t << 23) | (t >>> 9))
      t = a + (b ^ c ^ d) + x1 + (-1530992060); a = b + ((t << 4) | (t >>> 28))
      t = d + (a ^ b ^ c) + x4 + (1272893353); d = a + ((t << 11) | (t >>> 21))
      t = c + (d ^ a ^ b) + x7 + (-155497632); c = d + ((t << 16) | (t >>> 16))
      t = b + (c ^ d ^ a) + x10 + (-1094730640); b = c + ((t << 23) | (t >>> 9))
      t = a + (b ^ c ^ d) + x13 + (681279174); a = b + ((t << 4) | (t >>> 28))
      t = d + (a ^ b ^ c) + x0 + (-358537222); d = a + ((t << 11) | (t >>> 21))
      t = c + (d ^ a ^ b) + x3 + (-722521979); c = d + ((t << 16) | (t >>> 16))
      t = b + (c ^ d ^ a) + x6 + (76029189); b = c + ((t << 23) | (t >>> 9))
      t = a + (b ^ c ^ d) + x9 + (-640364487); a = b + ((t << 4) | (t >>> 28))
      t = d + (a ^ b ^ c) + x12 + (-421815835); d = a + ((t << 11) | (t >>> 21))
      t = c + (d ^ a ^ b) + x15 + (530742520); c = d + ((t << 16) | (t >>> 16))
      t = b + (c ^ d ^ a) + x2 + (-995338651); b = c + ((t << 23) | (t >>> 9))

      t = a + (c ^ (b | ~d)) + x0 + (-198630844); a = b + ((t << 6) | (t >>> 26))
      t = d + (b ^ (a | ~c)) + x7 + (1126891415); d = a + ((t << 10) | (t >>> 22))
      t = c + (a ^ (d | ~b)) + x14 + (-1416354905); c = d + ((t << 15) | (t >>> 17))
      t = b + (d ^ (c | ~a)) + x5 + (-57434055); b = c + ((t << 21) | (t >>> 11))
      t = a + (c ^ (b | ~d)) + x12 + (1700485571); a = b + ((t << 6) | (t >>> 26))
      t = d + (b ^ (a | ~c)) + x3 + (-1894986606); d = a + ((t << 10) | (t >>> 22))
      t = c + (a ^ (d | ~b)) + x10 + (-1051523); c = d + ((t << 15) | (t >>> 17))
      t = b + (d ^ (c | ~a)) + x1 + (-2054922799); b = c + ((t << 21) | (t >>> 11))
      t = a + (c ^ (b | ~d)) + x8 + (1873313359); a = b + ((t << 6) | (t >>> 26))
      t = d + (b ^ (a | ~c)) + x15 + (-30611744); d = a + ((t << 10) | (t >>> 22))
      t = c + (a ^ (d | ~b)) + x6 + (-1560198380); c = d + ((t << 15) | (t >>> 17))
      t = b + (d ^ (c | ~a)) + x13 + (1309151649); b = c + ((t << 21) | (t >>> 11))
      t = a + (c ^ (b | ~d)) + x4 + (-145523070); a = b + ((t << 6) | (t >>> 26))
      t = d + (b ^ (a | ~c)) + x11 + (-1120210379); d = a + ((t << 10) | (t >>> 22))
      t = c + (a ^ (d | ~b)) + x2 + (718787259); c = d + ((t << 15) | (t >>> 17))
      t = b + (d ^ (c | ~a)) + x9 + (-343485551); b = c + ((t << 21) | (t >>> 11))
      h0 += a
      h1 += b
      h2 += c
      h3 += d
      blk += 1
      p += 64
    }
    if (out != null) {
      putLe(out, outOff, h0)
      putLe(out, outOff + 4, h1)
      putLe(out, outOff + 8, h2)
      putLe(out, outOff + 12, h3)
    }
    h0
  }

  private def putLe(out: Array[Byte], i: Int, v: Int): Unit = {
    out(i) = v.toByte
    out(i + 1) = (v >>> 8).toByte
    out(i + 2) = (v >>> 16).toByte
    out(i + 3) = (v >>> 24).toByte
  }

  /** The 16-byte digest of `m(off until off + len)`, written to
    * `out(outOff until outOff + 16)`. */
  def digest(m: Array[Byte], off: Int, len: Int, out: Array[Byte], outOff: Int): Unit = {
    run(m, off, len, out, outOff)
    ()
  }

  /** Digest bytes 0..3 as a big-endian unsigned 32-bit value — the
    * integer the first eight hex characters of the digest spell. */
  def prefix32(m: Array[Byte], off: Int, len: Int): Long =
    Integer.reverseBytes(run(m, off, len, null, 0)) & 0xffffffffL
}
