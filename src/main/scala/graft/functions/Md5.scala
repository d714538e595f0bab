package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.unsafe.Platform

/** The one md5 of the engine's hash kernels: shingle hashes
  * ([[graft.dedup.Dedup.shingleHash60]], [[ShingleHashSet]]), the
  * md5-SimHashes ([[SimHash32]], [[SimHash64]]) and the Count-Min
  * sketch rows ([[CountMinSketch]]). Every one of them is pinned by a
  * DuckDB oracle that recomputes `md5(x)`, so the output is exactly
  * RFC 1321 md5 of the UTF-8 bytes.
  *
  * Messages of up to [[MaxSingleBlock]] bytes (a shingle, a token, an
  * item) fit one 64-byte block with their padding. Those are digested
  * here by one unrolled compression read straight from a base
  * object/offset, so a [[org.apache.spark.unsafe.types.UTF8String]]'s
  * bytes hash in place: no `MessageDigest` reset/update/digest call,
  * no byte-array copy, no digest array. Longer messages go through
  * the JCA digest. The digest comes back as its four little-endian
  * 32-bit words in a caller-owned `Array[Int](4)`, which a per-row
  * kernel allocates once and reuses for every element.
  *
  * The hand-rolled block pays off under the client compiler (C1), which
  * has no md5 intrinsic: there every JCA digest runs the generic
  * buffered update/pad path and allocates its result. Under C2, whose
  * md5 intrinsic is faster than this block, a shingle costs the same as
  * the former `substring` + `getBytes` + JCA path (BENCH_NOTES.md). */
object Md5 {

  /** Longest message that fits one block: 64 bytes less the 0x80 pad
    * byte and the 8-byte bit length. */
  private final val MaxSingleBlock = 55

  private val jca = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** md5 of the `len` bytes at `base`/`offset` (as
    * [[org.apache.spark.unsafe.Platform.getByte]] addresses them) into
    * `out(0..3)`. */
  def digestWords(base: AnyRef, offset: Long, len: Int, out: Array[Int]): Unit =
    if (len <= MaxSingleBlock) singleBlock(base, offset, len, out)
    else {
      val bytes = new Array[Byte](len)
      Platform.copyMemory(base, offset, bytes, Platform.BYTE_ARRAY_OFFSET, len)
      val d = jca.get()
      d.reset()
      val h = d.digest(bytes)
      var i = 0
      while (i < 4) {
        out(i) = (h(4 * i) & 0xff) | ((h(4 * i + 1) & 0xff) << 8) |
          ((h(4 * i + 2) & 0xff) << 16) | ((h(4 * i + 3) & 0xff) << 24)
        i += 1
      }
    }

  def digestWords(bytes: Array[Byte], out: Array[Int]): Unit =
    digestWords(bytes, Platform.BYTE_ARRAY_OFFSET.toLong, bytes.length, out)

  /** md5 of `s`'s UTF-8 bytes. A lone surrogate encodes as `?`, as
    * `String.getBytes` does and as every caller always has. */
  def digestWords(s: String, out: Array[Int]): Unit =
    digestWords(s.getBytes(StandardCharsets.UTF_8), out)

  /** Digest bytes 0..7 big-endian: the first 16 hex chars of the md5
    * as an unsigned 64-bit value. */
  def top64(words: Array[Int]): Long =
    (Integer.reverseBytes(words(0)).toLong << 32) | (Integer.reverseBytes(words(1)) & 0xffffffffL)

  /** Digest bytes 4i..4i+3 big-endian: hex chars 8i..8i+8 of the md5.
    * Raw Int; widen unsigned (`& 0xffffffffL`) before any mod. */
  def slice32(words: Array[Int], i: Int): Int = Integer.reverseBytes(words(i))

  /** Little-endian word `w` (4w ≤ len) of the padded block: message
    * bytes, then 0x80, then zeros (the length words 14-15 are set
    * apart). */
  private def word(base: AnyRef, offset: Long, len: Int, w: Int): Int = {
    val p = w << 2
    if (p + 4 <= len) {
      val o = offset + p
      (Platform.getByte(base, o) & 0xff) | ((Platform.getByte(base, o + 1) & 0xff) << 8) |
        ((Platform.getByte(base, o + 2) & 0xff) << 16) | ((Platform.getByte(base, o + 3) & 0xff) << 24)
    } else {
      var x = 0
      var q = 0
      while (q < 4) {
        val i = p + q
        val b = if (i < len) Platform.getByte(base, offset + i) & 0xff else if (i == len) 0x80 else 0
        x |= b << (q << 3)
        q += 1
      }
      x
    }
  }

  /** RFC 1321's compression of the one padded block, unrolled. Words
    * past the message and its pad byte are 0 without a call (a 5-byte
    * shingle loads two). F and G are the 3-op forms d^(b&(c^d)) and
    * c^(d&(b^c)), and each step adds message word and constant to `a`
    * before the round function, which is the only term waiting on the
    * previous step. */
  private def singleBlock(base: AnyRef, offset: Long, len: Int, out: Array[Int]): Unit = {
    val m0 = word(base, offset, len, 0)
    val m1 = if (len >= 4) word(base, offset, len, 1) else 0
    val m2 = if (len >= 8) word(base, offset, len, 2) else 0
    val m3 = if (len >= 12) word(base, offset, len, 3) else 0
    val m4 = if (len >= 16) word(base, offset, len, 4) else 0
    val m5 = if (len >= 20) word(base, offset, len, 5) else 0
    val m6 = if (len >= 24) word(base, offset, len, 6) else 0
    val m7 = if (len >= 28) word(base, offset, len, 7) else 0
    val m8 = if (len >= 32) word(base, offset, len, 8) else 0
    val m9 = if (len >= 36) word(base, offset, len, 9) else 0
    val m10 = if (len >= 40) word(base, offset, len, 10) else 0
    val m11 = if (len >= 44) word(base, offset, len, 11) else 0
    val m12 = if (len >= 48) word(base, offset, len, 12) else 0
    val m13 = if (len >= 52) word(base, offset, len, 13) else 0
    val m14 = len << 3 // bit length, low word; the high word m15 is 0
    val m15 = 0
    var a = 0x67452301
    var b = 0xefcdab89
    var c = 0x98badcfe
    var d = 0x10325476

    a = b + Integer.rotateLeft(a + m0 + 0xd76aa478 + (d ^ (b & (c ^ d))), 7)
    d = a + Integer.rotateLeft(d + m1 + 0xe8c7b756 + (c ^ (a & (b ^ c))), 12)
    c = d + Integer.rotateLeft(c + m2 + 0x242070db + (b ^ (d & (a ^ b))), 17)
    b = c + Integer.rotateLeft(b + m3 + 0xc1bdceee + (a ^ (c & (d ^ a))), 22)
    a = b + Integer.rotateLeft(a + m4 + 0xf57c0faf + (d ^ (b & (c ^ d))), 7)
    d = a + Integer.rotateLeft(d + m5 + 0x4787c62a + (c ^ (a & (b ^ c))), 12)
    c = d + Integer.rotateLeft(c + m6 + 0xa8304613 + (b ^ (d & (a ^ b))), 17)
    b = c + Integer.rotateLeft(b + m7 + 0xfd469501 + (a ^ (c & (d ^ a))), 22)
    a = b + Integer.rotateLeft(a + m8 + 0x698098d8 + (d ^ (b & (c ^ d))), 7)
    d = a + Integer.rotateLeft(d + m9 + 0x8b44f7af + (c ^ (a & (b ^ c))), 12)
    c = d + Integer.rotateLeft(c + m10 + 0xffff5bb1 + (b ^ (d & (a ^ b))), 17)
    b = c + Integer.rotateLeft(b + m11 + 0x895cd7be + (a ^ (c & (d ^ a))), 22)
    a = b + Integer.rotateLeft(a + m12 + 0x6b901122 + (d ^ (b & (c ^ d))), 7)
    d = a + Integer.rotateLeft(d + m13 + 0xfd987193 + (c ^ (a & (b ^ c))), 12)
    c = d + Integer.rotateLeft(c + m14 + 0xa679438e + (b ^ (d & (a ^ b))), 17)
    b = c + Integer.rotateLeft(b + m15 + 0x49b40821 + (a ^ (c & (d ^ a))), 22)

    a = b + Integer.rotateLeft(a + m1 + 0xf61e2562 + (c ^ (d & (b ^ c))), 5)
    d = a + Integer.rotateLeft(d + m6 + 0xc040b340 + (b ^ (c & (a ^ b))), 9)
    c = d + Integer.rotateLeft(c + m11 + 0x265e5a51 + (a ^ (b & (d ^ a))), 14)
    b = c + Integer.rotateLeft(b + m0 + 0xe9b6c7aa + (d ^ (a & (c ^ d))), 20)
    a = b + Integer.rotateLeft(a + m5 + 0xd62f105d + (c ^ (d & (b ^ c))), 5)
    d = a + Integer.rotateLeft(d + m10 + 0x02441453 + (b ^ (c & (a ^ b))), 9)
    c = d + Integer.rotateLeft(c + m15 + 0xd8a1e681 + (a ^ (b & (d ^ a))), 14)
    b = c + Integer.rotateLeft(b + m4 + 0xe7d3fbc8 + (d ^ (a & (c ^ d))), 20)
    a = b + Integer.rotateLeft(a + m9 + 0x21e1cde6 + (c ^ (d & (b ^ c))), 5)
    d = a + Integer.rotateLeft(d + m14 + 0xc33707d6 + (b ^ (c & (a ^ b))), 9)
    c = d + Integer.rotateLeft(c + m3 + 0xf4d50d87 + (a ^ (b & (d ^ a))), 14)
    b = c + Integer.rotateLeft(b + m8 + 0x455a14ed + (d ^ (a & (c ^ d))), 20)
    a = b + Integer.rotateLeft(a + m13 + 0xa9e3e905 + (c ^ (d & (b ^ c))), 5)
    d = a + Integer.rotateLeft(d + m2 + 0xfcefa3f8 + (b ^ (c & (a ^ b))), 9)
    c = d + Integer.rotateLeft(c + m7 + 0x676f02d9 + (a ^ (b & (d ^ a))), 14)
    b = c + Integer.rotateLeft(b + m12 + 0x8d2a4c8a + (d ^ (a & (c ^ d))), 20)

    a = b + Integer.rotateLeft(a + m5 + 0xfffa3942 + (b ^ c ^ d), 4)
    d = a + Integer.rotateLeft(d + m8 + 0x8771f681 + (a ^ b ^ c), 11)
    c = d + Integer.rotateLeft(c + m11 + 0x6d9d6122 + (d ^ a ^ b), 16)
    b = c + Integer.rotateLeft(b + m14 + 0xfde5380c + (c ^ d ^ a), 23)
    a = b + Integer.rotateLeft(a + m1 + 0xa4beea44 + (b ^ c ^ d), 4)
    d = a + Integer.rotateLeft(d + m4 + 0x4bdecfa9 + (a ^ b ^ c), 11)
    c = d + Integer.rotateLeft(c + m7 + 0xf6bb4b60 + (d ^ a ^ b), 16)
    b = c + Integer.rotateLeft(b + m10 + 0xbebfbc70 + (c ^ d ^ a), 23)
    a = b + Integer.rotateLeft(a + m13 + 0x289b7ec6 + (b ^ c ^ d), 4)
    d = a + Integer.rotateLeft(d + m0 + 0xeaa127fa + (a ^ b ^ c), 11)
    c = d + Integer.rotateLeft(c + m3 + 0xd4ef3085 + (d ^ a ^ b), 16)
    b = c + Integer.rotateLeft(b + m6 + 0x04881d05 + (c ^ d ^ a), 23)
    a = b + Integer.rotateLeft(a + m9 + 0xd9d4d039 + (b ^ c ^ d), 4)
    d = a + Integer.rotateLeft(d + m12 + 0xe6db99e5 + (a ^ b ^ c), 11)
    c = d + Integer.rotateLeft(c + m15 + 0x1fa27cf8 + (d ^ a ^ b), 16)
    b = c + Integer.rotateLeft(b + m2 + 0xc4ac5665 + (c ^ d ^ a), 23)

    a = b + Integer.rotateLeft(a + m0 + 0xf4292244 + (c ^ (b | ~d)), 6)
    d = a + Integer.rotateLeft(d + m7 + 0x432aff97 + (b ^ (a | ~c)), 10)
    c = d + Integer.rotateLeft(c + m14 + 0xab9423a7 + (a ^ (d | ~b)), 15)
    b = c + Integer.rotateLeft(b + m5 + 0xfc93a039 + (d ^ (c | ~a)), 21)
    a = b + Integer.rotateLeft(a + m12 + 0x655b59c3 + (c ^ (b | ~d)), 6)
    d = a + Integer.rotateLeft(d + m3 + 0x8f0ccc92 + (b ^ (a | ~c)), 10)
    c = d + Integer.rotateLeft(c + m10 + 0xffeff47d + (a ^ (d | ~b)), 15)
    b = c + Integer.rotateLeft(b + m1 + 0x85845dd1 + (d ^ (c | ~a)), 21)
    a = b + Integer.rotateLeft(a + m8 + 0x6fa87e4f + (c ^ (b | ~d)), 6)
    d = a + Integer.rotateLeft(d + m15 + 0xfe2ce6e0 + (b ^ (a | ~c)), 10)
    c = d + Integer.rotateLeft(c + m6 + 0xa3014314 + (a ^ (d | ~b)), 15)
    b = c + Integer.rotateLeft(b + m13 + 0x4e0811a1 + (d ^ (c | ~a)), 21)
    a = b + Integer.rotateLeft(a + m4 + 0xf7537e82 + (c ^ (b | ~d)), 6)
    d = a + Integer.rotateLeft(d + m11 + 0xbd3af235 + (b ^ (a | ~c)), 10)
    c = d + Integer.rotateLeft(c + m2 + 0x2ad7d2bb + (a ^ (d | ~b)), 15)
    b = c + Integer.rotateLeft(b + m9 + 0xeb86d391 + (d ^ (c | ~a)), 21)


    out(0) = a + 0x67452301
    out(1) = b + 0xefcdab89
    out(2) = c + 0x98badcfe
    out(3) = d + 0x10325476
  }
}
