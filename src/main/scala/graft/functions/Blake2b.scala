package graft.functions

/** BLAKE2b (RFC 7693), pure JVM, keyed mode and variable digest length.
  *
  * Exists so the sketch layer can be HASH-FAITHFUL to the reference, which
  * keys every probe through Python `hashlib.blake2b`
  * (count_min_sketch.py:49, bloom_filter.py:39-40): with the same digests,
  * the engine's CMS/Bloom produce the reference's exact per-key estimates
  * and bit indices, not merely the same (ε,δ) bounds. Verified against RFC
  * 7693's own test vector and captured `hashlib.blake2b` outputs
  * (src/test/resources/blake2b_goldens.tsv) across keyed/unkeyed cases and
  * block boundaries.
  *
  * Scope: sequential hashing of short keys (tokens/shingles), no tree mode,
  * no salt/personalization — exactly the subset `hashlib.blake2b(data,
  * digest_size=n, key=k)` uses. Allocation-light: one long[16] work vector
  * per call.
  */
object Blake2b {

  private val IV = Array(
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

  private def le64(b: Array[Byte], off: Int): Long = {
    var x = 0L
    var i = 7
    while (i >= 0) { x = (x << 8) | (b(off + i) & 0xffL); i -= 1 }
    x
  }

  /** One compression round over the 128-byte block at `off` (zero-padded
    * blocks must be materialized by the caller). `t` is the byte offset
    * counter AFTER this block; `last` marks the final block. */
  private def compress(h: Array[Long], block: Array[Byte], off: Int,
      t: Long, last: Boolean): Unit = {
    val m = new Array[Long](16)
    var i = 0
    while (i < 16) { m(i) = le64(block, off + i * 8); i += 1 }
    val v = new Array[Long](16)
    System.arraycopy(h, 0, v, 0, 8)
    System.arraycopy(IV, 0, v, 8, 8)
    v(12) ^= t // t_hi is always 0 for our input sizes (< 2^64 bytes)
    if (last) v(14) = ~v(14)
    @inline def g(a: Int, b: Int, c: Int, d: Int, x: Long, y: Long): Unit = {
      v(a) = v(a) + v(b) + x
      v(d) = java.lang.Long.rotateRight(v(d) ^ v(a), 32)
      v(c) = v(c) + v(d)
      v(b) = java.lang.Long.rotateRight(v(b) ^ v(c), 24)
      v(a) = v(a) + v(b) + y
      v(d) = java.lang.Long.rotateRight(v(d) ^ v(a), 16)
      v(c) = v(c) + v(d)
      v(b) = java.lang.Long.rotateRight(v(b) ^ v(c), 63)
    }
    var r = 0
    while (r < 12) {
      val s = SIGMA(r % 10)
      g(0, 4, 8, 12, m(s(0)), m(s(1)))
      g(1, 5, 9, 13, m(s(2)), m(s(3)))
      g(2, 6, 10, 14, m(s(4)), m(s(5)))
      g(3, 7, 11, 15, m(s(6)), m(s(7)))
      g(0, 5, 10, 15, m(s(8)), m(s(9)))
      g(1, 6, 11, 12, m(s(10)), m(s(11)))
      g(2, 7, 8, 13, m(s(12)), m(s(13)))
      g(3, 4, 9, 14, m(s(14)), m(s(15)))
      r += 1
    }
    i = 0
    while (i < 8) { h(i) ^= v(i) ^ v(i + 8); i += 1 }
  }

  /** BLAKE2b digest of `data`, `digestSize` bytes (1..64), optionally keyed
    * (key length 0..64) — the `hashlib.blake2b(data, digest_size, key)`
    * subset. */
  def hash(data: Array[Byte], digestSize: Int, key: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    require(digestSize >= 1 && digestSize <= 64, s"digestSize $digestSize out of 1..64")
    require(key.length <= 64, s"key longer than 64 bytes")
    val h = IV.clone()
    h(0) ^= 0x01010000L ^ (key.length.toLong << 8) ^ digestSize.toLong
    var t = 0L
    val keyed = key.length > 0
    if (keyed) {
      val kb = new Array[Byte](128)
      System.arraycopy(key, 0, kb, 0, key.length)
      t = 128L
      compress(h, kb, 0, t, last = data.isEmpty)
    }
    if (data.nonEmpty) {
      // all full blocks except the last one (the final block — full or
      // partial — is always compressed with the finalization flag)
      var off = 0
      while (data.length - off > 128) {
        t += 128
        compress(h, data, off, t, last = false)
        off += 128
      }
      val fin = new Array[Byte](128)
      System.arraycopy(data, off, fin, 0, data.length - off)
      t += data.length - off
      compress(h, fin, 0, t, last = true)
    } else if (!keyed) {
      // empty unkeyed input: one zero block with t = 0
      compress(h, new Array[Byte](128), 0, 0L, last = true)
    }
    val out = new Array[Byte](digestSize)
    var i = 0
    while (i < digestSize) {
      out(i) = ((h(i / 8) >>> (8 * (i % 8))) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Post-key chain state: `h` after compressing the padded key block —
    * a pure function of (key, digestSize). Hot-loop form for the sketch
    * aggregators, which hash millions of short tokens under a handful of
    * fixed keys (7 CMS salts, 2 Bloom keys): precompute this once per key
    * and each item costs ONE compression via [[hashKeyed]] instead of two
    * via [[hash]]. Only valid for continuing with non-empty data (an empty
    * message would need the key block itself flagged final). */
  def keyedState(key: Array[Byte], digestSize: Int): Array[Long] = {
    require(key.nonEmpty && key.length <= 64, s"key length ${key.length} out of 1..64")
    require(digestSize >= 1 && digestSize <= 64, s"digestSize $digestSize out of 1..64")
    val h = IV.clone()
    h(0) ^= 0x01010000L ^ (key.length.toLong << 8) ^ digestSize.toLong
    val kb = new Array[Byte](128)
    System.arraycopy(key, 0, kb, 0, key.length)
    compress(h, kb, 0, 128L, last = false)
    h
  }

  /** Keyed digest continuing from a [[keyedState]]; bit-identical to
    * `hash(data, digestSize, key)` for non-empty `data` (property-pinned in
    * SketchSpec). */
  def hashKeyed(state: Array[Long], data: Array[Byte], digestSize: Int): Array[Byte] = {
    require(data.nonEmpty, "hashKeyed requires non-empty data; use hash() for empty messages")
    val h = state.clone()
    var t = 128L
    var off = 0
    while (data.length - off > 128) {
      t += 128
      compress(h, data, off, t, last = false)
      off += 128
    }
    val fin = new Array[Byte](128)
    System.arraycopy(data, off, fin, 0, data.length - off)
    t += data.length - off
    compress(h, fin, 0, t, last = true)
    val out = new Array[Byte](digestSize)
    var i = 0
    while (i < digestSize) {
      out(i) = ((h(i / 8) >>> (8 * (i % 8))) & 0xff).toByte
      i += 1
    }
    out
  }
}
