package graft.functions

/** BLAKE2b (RFC 7693) — the reference's file-checksum algorithm
  * (ref: _calculate_checksum, src/scicat_dataset.py:532-551 uses
  * `hashlib.new("blake2b")`, 64-byte digest). The JDK's MessageDigest
  * has no blake2b, so this is a compact implementation of the public
  * RFC 7693 algorithm.
  */
object Blake2b {

  private val IV: Array[Long] = Array(
    0x6a09e667f3bcc908L, 0xbb67ae8584caa73bL, 0x3c6ef372fe94f82bL,
    0xa54ff53a5f1d36f1L, 0x510e527fade682d1L, 0x9b05688c2b3e6c1fL,
    0x1f83d9abfb41bd6bL, 0x5be0cd19137e2179L)

  private val SIGMA: Array[Array[Int]] = Array(
    Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15),
    Array(14, 10, 4, 8, 9, 15, 13, 6, 1, 12, 0, 2, 11, 7, 5, 3),
    Array(11, 8, 12, 0, 5, 2, 15, 13, 10, 14, 3, 6, 7, 1, 9, 4),
    Array(7, 9, 3, 1, 13, 12, 11, 14, 2, 6, 5, 10, 4, 0, 15, 8),
    Array(9, 0, 5, 7, 2, 4, 10, 15, 14, 1, 11, 12, 6, 8, 3, 13),
    Array(2, 12, 6, 10, 0, 11, 8, 3, 4, 13, 7, 5, 15, 14, 1, 9),
    Array(12, 5, 1, 15, 14, 13, 4, 10, 0, 7, 6, 3, 9, 2, 8, 11),
    Array(13, 11, 7, 14, 12, 1, 3, 9, 5, 0, 15, 4, 8, 6, 2, 10),
    Array(6, 15, 14, 9, 11, 3, 0, 8, 12, 2, 13, 7, 1, 4, 10, 5),
    Array(10, 2, 8, 4, 7, 6, 1, 5, 15, 11, 9, 14, 3, 12, 13, 0))

  /** Incremental BLAKE2b: feed the input in pieces with `update`, then
    * call `digest` once. The last block seen is held back until more
    * input arrives, because only the final block is compressed with
    * the last-block flag. */
  final class Hasher(digestSize: Int = 64) {
    require(digestSize >= 1 && digestSize <= 64)
    private val h = IV.clone()
    h(0) ^= 0x01010000L ^ digestSize.toLong
    private val block = new Array[Byte](128)
    private var filled = 0
    private var t = 0L

    def update(data: Array[Byte], off: Int, len: Int): Unit = {
      var i = off
      val end = off + len
      while (i < end) {
        if (filled == 128) {
          t += 128
          compress(h, block, t, last = false)
          filled = 0
        }
        val n = math.min(128 - filled, end - i)
        System.arraycopy(data, i, block, filled, n)
        filled += n
        i += n
      }
    }

    def digest(): Array[Byte] = {
      t += filled
      java.util.Arrays.fill(block, filled, 128, 0.toByte)
      compress(h, block, t, last = true)
      val out = new Array[Byte](digestSize)
      var j = 0
      while (j < digestSize) {
        out(j) = (h(j / 8) >>> (8 * (j % 8))).toByte
        j += 1
      }
      out
    }
  }

  def hash(data: Array[Byte], digestSize: Int = 64): Array[Byte] = {
    val hasher = new Hasher(digestSize)
    hasher.update(data, 0, data.length)
    hasher.digest()
  }

  def hex(data: Array[Byte]): String = data.map(b => f"$b%02x").mkString

  def hashHex(data: Array[Byte], digestSize: Int = 64): String =
    hex(hash(data, digestSize))

  private def compress(h: Array[Long], block: Array[Byte], t: Long, last: Boolean): Unit = {
    val m = new Array[Long](16)
    var i = 0
    while (i < 16) {
      var w = 0L
      var j = 7
      while (j >= 0) {
        w = (w << 8) | (block(i * 8 + j) & 0xffL)
        j -= 1
      }
      m(i) = w
      i += 1
    }
    val v = new Array[Long](16)
    System.arraycopy(h, 0, v, 0, 8)
    System.arraycopy(IV, 0, v, 8, 8)
    v(12) ^= t
    // t high word is 0 for inputs < 2^64 bytes
    if (last) v(14) = ~v(14)

    var r = 0
    while (r < 12) {
      val s = SIGMA(r % 10)
      g(v, 0, 4, 8, 12, m(s(0)), m(s(1)))
      g(v, 1, 5, 9, 13, m(s(2)), m(s(3)))
      g(v, 2, 6, 10, 14, m(s(4)), m(s(5)))
      g(v, 3, 7, 11, 15, m(s(6)), m(s(7)))
      g(v, 0, 5, 10, 15, m(s(8)), m(s(9)))
      g(v, 1, 6, 11, 12, m(s(10)), m(s(11)))
      g(v, 2, 7, 8, 13, m(s(12)), m(s(13)))
      g(v, 3, 4, 9, 14, m(s(14)), m(s(15)))
      r += 1
    }
    i = 0
    while (i < 8) {
      h(i) ^= v(i) ^ v(i + 8)
      i += 1
    }
  }

  @inline private def rotr(x: Long, n: Int): Long = (x >>> n) | (x << (64 - n))

  @inline private def g(v: Array[Long], a: Int, b: Int, c: Int, d: Int, x: Long, y: Long): Unit = {
    v(a) = v(a) + v(b) + x
    v(d) = rotr(v(d) ^ v(a), 32)
    v(c) = v(c) + v(d)
    v(b) = rotr(v(b) ^ v(c), 24)
    v(a) = v(a) + v(b) + y
    v(d) = rotr(v(d) ^ v(a), 16)
    v(c) = v(c) + v(d)
    v(b) = rotr(v(b) ^ v(c), 63)
  }
}
