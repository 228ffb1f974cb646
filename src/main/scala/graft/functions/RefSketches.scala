package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** HASH-FAITHFUL twins of the reference's sketch layer. The existing
  * `sketch_cms_*` / `sketch_bloom_*` queries ride Spark's built-in sketches:
  * same (ε,δ) bounds as the reference but a different hash family, so
  * per-key estimates differ (the documented divergence, r8 verdict missing
  * #2). These aggregators reproduce the reference's hashing byte-for-byte —
  *
  *  - CMS (count_min_sketch.py:28,49): per-row salt `sha256(f"{seed}-{row}")`,
  *    column = `int.from_bytes(blake2b(item, digest_size=16, key=salt), "big")
  *    % width`;
  *  - Bloom (bloom_filter.py:26-28,39-43): `m = -round(cap·ln(err)/ln²2)`,
  *    `k = max(1, round(m/cap·ln2))`, double hashing
  *    `idx_i = (h1 + i·h2 + i²) % m` with `h1/h2 = blake2b(item, 16,
  *    key="h1"/"h2")`, bits packed LSB-first per byte exactly like the
  *    reference's bytearray
  *
  * — so a user replaying the reference gets the IDENTICAL per-key estimates,
  * membership bits, and even serialized filter bytes. Pinned against
  * captured `hashlib` outputs in src/test/resources/blake2b_goldens.tsv.
  *
  * Both aggregators are partial+final (tables sum, bitsets OR), so the
  * build is one pass at any scale, like their Spark-native siblings.
  */
object RefSketches {

  /** Streaming big-endian reduction: `int.from_bytes(digest, "big") % m`
    * without materializing the 128-bit integer (valid for m < 2^55: the
    * accumulator stays < m·256). */
  private def beMod(digest: Array[Byte], m: Long): Long = {
    var acc = 0L
    var i = 0
    while (i < digest.length) {
      acc = ((acc << 8) | (digest(i) & 0xffL)) % m
      i += 1
    }
    acc
  }

  def cmsSalts(seed: Int, depth: Int): Array[Array[Byte]] =
    Array.tabulate(depth) { i =>
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"$seed-$i".getBytes("UTF-8"))
    }

  def cmsCol(itemUtf8: Array[Byte], salt: Array[Byte], width: Int): Int =
    beMod(Blake2b.hash(itemUtf8, 16, salt), width).toInt

  /** Hot-loop form of [[cmsCol]]: the salt's post-key chain state is
    * precomputed once per task (see [[Blake2b.keyedState]]), so each item
    * pays one BLAKE2b compression, not two. Non-empty items only. */
  def cmsColFast(itemUtf8: Array[Byte], saltState: Array[Long], width: Int): Int =
    beMod(Blake2b.hashKeyed(saltState, itemUtf8, 16), width).toInt

  def cmsSaltStates(seed: Int, depth: Int): Array[Array[Long]] =
    cmsSalts(seed, depth).map(Blake2b.keyedState(_, 16))

  /** Reference sizing (bloom_filter.py:26-28). Python's round() is
    * half-to-even, as is math.rint. */
  def bloomDims(capacity: Long, errorRate: Double): (Int, Int) = {
    val ln2 = math.log(2)
    val m = (-math.rint(capacity * math.log(errorRate) / (ln2 * ln2))).toInt
    val k = math.max(1, math.rint(m.toDouble / capacity * ln2).toInt)
    (m, k)
  }

  private val H1 = "h1".getBytes("US-ASCII")
  private val H2 = "h2".getBytes("US-ASCII")
  // fixed keys → the post-key states are constants; computed once per JVM
  private lazy val H1State = Blake2b.keyedState(H1, 16)
  private lazy val H2State = Blake2b.keyedState(H2, 16)

  /** The k bit indices for an item — (h1 + i·h2 + i²) % m over the two
    * keyed 16-byte digests. h1/h2 are pre-reduced mod m (modular arithmetic
    * distributes), so the per-probe math stays in Long. */
  def bloomIndices(itemUtf8: Array[Byte], m: Int, k: Int): Array[Int] = {
    val h1 =
      if (itemUtf8.nonEmpty) beMod(Blake2b.hashKeyed(H1State, itemUtf8, 16), m)
      else beMod(Blake2b.hash(itemUtf8, 16, H1), m)
    val h2 =
      if (itemUtf8.nonEmpty) beMod(Blake2b.hashKeyed(H2State, itemUtf8, 16), m)
      else beMod(Blake2b.hash(itemUtf8, 16, H2), m)
    Array.tabulate(k)(i => ((h1 + i.toLong * h2 + i.toLong * i) % m).toInt)
  }

  // ------------------------------------------------------------- CMS agg

  /** Finished CMS: the reference's table flattened row-major, probe-able on
    * the driver or via broadcast. */
  case class RefCms(width: Int, depth: Int, seed: Int, total: Long, table: Array[Long]) {
    // salts are a pure function of (seed, depth) fixed at construction —
    // computed once, not `depth` SHA-256 digests per probe (the estimate
    // UDF is broadcast and called per row; review finding). @transient:
    // recomputed on the executor after deserialization, never shipped.
    @transient private lazy val salts: Array[Array[Byte]] = cmsSalts(seed, depth)
    def estimate(item: String): Long = {
      val bytes = item.getBytes("UTF-8")
      var best = Long.MaxValue
      var r = 0
      while (r < depth) {
        val c = cmsCol(bytes, salts(r), width)
        val v = table(r * width + c)
        if (v < best) best = v
        r += 1
      }
      if (best == Long.MaxValue) 0L else best
    }
  }

  final class CmsBuf(val table: Array[Long], var total: Long) extends Serializable

  /** One-pass faithful CMS build (partial tables sum exactly). */
  def cmsAgg(seed: Int, width: Int, depth: Int): Aggregator[String, CmsBuf, RefCms] =
    new Aggregator[String, CmsBuf, RefCms] {
      // recomputed once per deserialized task closure, never shipped with
      // the 30 KB buffer; post-key chain states so each item costs one
      // compression per row, not two
      @transient private lazy val salts: Array[Array[Byte]] = cmsSalts(seed, depth)
      @transient private lazy val saltStates: Array[Array[Long]] = cmsSaltStates(seed, depth)

      override def zero: CmsBuf = new CmsBuf(new Array[Long](width * depth), 0L)

      override def reduce(b: CmsBuf, item: String): CmsBuf = {
        val bytes = item.getBytes("UTF-8")
        var r = 0
        while (r < depth) {
          val c =
            if (bytes.nonEmpty) cmsColFast(bytes, saltStates(r), width)
            else cmsCol(bytes, salts(r), width)
          b.table(r * width + c) += 1
          r += 1
        }
        b.total += 1
        b
      }

      override def merge(x: CmsBuf, y: CmsBuf): CmsBuf = {
        var i = 0
        while (i < x.table.length) { x.table(i) += y.table(i); i += 1 }
        x.total += y.total
        x
      }

      override def finish(b: CmsBuf): RefCms = RefCms(width, depth, seed, b.total, b.table)
      override def bufferEncoder: Encoder[CmsBuf] = Encoders.kryo[CmsBuf]
      override def outputEncoder: Encoder[RefCms] = Encoders.product[RefCms]
    }

  // ----------------------------------------------------------- Bloom agg

  /** Finished faithful Bloom filter; `bits` is byte-compatible with the
    * reference's bytearray (LSB-first within each byte). */
  case class RefBloom(m: Int, k: Int, inserted: Long, bits: Array[Byte]) {
    def mightContain(item: String): Boolean = {
      val idx = bloomIndices(item.getBytes("UTF-8"), m, k)
      idx.forall(i => (bits(i >> 3) & (1 << (i & 7))) != 0)
    }
  }

  final class BloomBuf(val bits: Array[Byte], var inserted: Long) extends Serializable

  /** One-pass faithful Bloom build (partial bitsets OR exactly). */
  def bloomAgg(capacity: Long, errorRate: Double): Aggregator[String, BloomBuf, RefBloom] =
    new Aggregator[String, BloomBuf, RefBloom] {
      private val (m, k) = bloomDims(capacity, errorRate)

      override def zero: BloomBuf = new BloomBuf(new Array[Byte]((m + 7) / 8), 0L)

      override def reduce(b: BloomBuf, item: String): BloomBuf = {
        val idx = bloomIndices(item.getBytes("UTF-8"), m, k)
        var i = 0
        while (i < idx.length) {
          b.bits(idx(i) >> 3) = (b.bits(idx(i) >> 3) | (1 << (idx(i) & 7))).toByte
          i += 1
        }
        b.inserted += 1
        b
      }

      override def merge(x: BloomBuf, y: BloomBuf): BloomBuf = {
        var i = 0
        while (i < x.bits.length) { x.bits(i) = (x.bits(i) | y.bits(i)).toByte; i += 1 }
        x.inserted += y.inserted
        x
      }

      override def finish(b: BloomBuf): RefBloom = RefBloom(m, k, b.inserted, b.bits)
      override def bufferEncoder: Encoder[BloomBuf] = Encoders.kryo[BloomBuf]
      override def outputEncoder: Encoder[RefBloom] = Encoders.product[RefBloom]
    }
}
