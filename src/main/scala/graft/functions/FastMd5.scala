package graft.functions

/** Allocation-free MD5 for the sketch kernels (RFC 1321 arithmetic —
  * public-domain constants and round structure).
  *
  * Why it exists: the minhash sketch is the measured wall of the dedup
  * cascade at the 100M-row slice (62.8 s of an ~85 s head in the round-15
  * dedup profile), and the cost is NOT the MD5 rounds but the per-shingle
  * allocation storm of the MessageDigest path (StringBuilder → String →
  * getBytes → digest byte[16], ~2 billion short-lived objects per 5M-doc
  * slice). This class hashes a caller-owned byte buffer in place and
  * returns only the 60-bit prefix the engine's h60 convention uses —
  * zero allocation per call.
  *
  * Output contract: [[h60]] equals
  * `conv(substr(md5hex, 1, 15), 16, 10)` — the first 15 hex digits of
  * the standard MD5 digest (bytes 0..6 and the high nibble of byte 7,
  * all from the little-endian A/B state words). DedupSpec pins the
  * kernel path byte-identical to the declarative md5() pipeline, which
  * is the cross-engine contract with DuckDB.
  *
  * One instance per thread (it carries a 128-byte tail buffer); see the
  * ThreadLocal in [[MinhashKernel]].
  */
final class FastMd5 {
  import FastMd5._

  private val tail = new Array[Byte](128)

  private var a0 = 0
  private var b0 = 0
  private var c0 = 0
  private var d0 = 0

  /** 60-bit md5 prefix of buf[0, len) — h60 convention (15 hex digits). */
  def h60(buf: Array[Byte], len: Int): Long = {
    a0 = 0x67452301
    b0 = 0xefcdab89
    c0 = 0x98badcfe
    d0 = 0x10325476
    val fullBlocks = len >>> 6
    var i = 0
    while (i < fullBlocks) { block(buf, i << 6); i += 1 }
    // pad the remainder into the reusable tail (1 or 2 blocks)
    val rem = len & 63
    var j = 0
    while (j < rem) { tail(j) = buf((fullBlocks << 6) + j); j += 1 }
    tail(rem) = 0x80.toByte
    val tlen = if (rem >= 56) 128 else 64
    j = rem + 1
    while (j < tlen - 8) { tail(j) = 0; j += 1 }
    val bits = len.toLong << 3
    var k = 0
    while (k < 8) { tail(tlen - 8 + k) = (bits >>> (8 * k)).toByte; k += 1 }
    block(tail, 0)
    if (tlen == 128) block(tail, 64)
    // digest bytes 0..7 are A then B, little-endian; h60 = bytes 0..6
    // plus the high nibble of byte 7
    val d: Int => Long = idx =>
      if (idx < 4) (a0 >>> (8 * idx)) & 0xffL else (b0 >>> (8 * (idx - 4))) & 0xffL
    var v = 0L
    var p = 0
    while (p < 7) { v = (v << 8) | d(p); p += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  private def block(m: Array[Byte], off: Int): Unit = {
    var a = a0; var b = b0; var c = c0; var d = d0
    var i = 0
    while (i < 64) {
      var f = 0
      var g = 0
      if (i < 16) { f = (b & c) | (~b & d); g = i }
      else if (i < 32) { f = (d & b) | (~d & c); g = (5 * i + 1) & 15 }
      else if (i < 48) { f = b ^ c ^ d; g = (3 * i + 5) & 15 }
      else { f = c ^ (b | ~d); g = (7 * i) & 15 }
      val p = off + (g << 2)
      val w = (m(p) & 0xff) | ((m(p + 1) & 0xff) << 8) |
        ((m(p + 2) & 0xff) << 16) | ((m(p + 3) & 0xff) << 24)
      val sum = a + f + K(i) + w
      val rot = Integer.rotateLeft(sum, S(i))
      a = d; d = c; c = b; b = b + rot
      i += 1
    }
    a0 += a; b0 += b; c0 += c; d0 += d
  }
}

object FastMd5 {
  // K[i] = floor(|sin(i+1)| * 2^32) — the RFC 1321 constant table
  private val K: Array[Int] = Array(
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
}
