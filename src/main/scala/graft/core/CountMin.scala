package graft.core

import graft.expr.TextHash

/** Count-Min sketch (Cormode & Muthukrishnan 2005): a depth×width counter
  * grid; every update increments one counter per row, a point query takes
  * the MINIMUM over rows — an overestimate by at most εN with probability
  * 1−δ for width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉. Complements Space-Saving:
  * SS answers "which items are heavy", CMS answers "how often is THIS
  * item" for arbitrary items in O(depth) with no per-item state.
  *
  * Mergeable monoid: element-wise counter addition — partial aggregation,
  * shuffle, persist→re-aggregate all follow. Buckets are
  * splitmix64(key + row·RowMix) masked to the power-of-two width, the same
  * engine-portable construction as the sampling grid, so an external
  * engine rebuilds the identical grid from SQL.
  */
final class CountMin(val depth: Int, val width: Int) extends Serializable {
  require(depth >= 1 && depth <= 16, "depth must be in [1, 16]")
  require(width >= 2 && (width & (width - 1)) == 0 && width <= (1 << 24),
    "width must be a power of two in [2, 2^24]")
  require(depth.toLong * width <= CountMin.MaxCells,
    s"CMS($depth,$width) is too large to serialize (depth * width <= ${CountMin.MaxCells})")

  val counts = new Array[Long](depth * width)
  var total: Long = 0L

  @inline private def bucket(row: Int, key: Long): Int =
    (TextHash.avalanche(key + row.toLong * CountMin.RowMix)
      & (width - 1)).toInt

  def add(key: Long, w: Long = 1L): Unit = {
    var r = 0
    while (r < depth) {
      counts(r * width + bucket(r, key)) += w
      r += 1
    }
    total += w
  }

  /** Point estimate: ≥ the true count, ≤ true + εN w.h.p. */
  def estimate(key: Long): Long = {
    var m = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = counts(r * width + bucket(r, key))
      if (c < m) m = c
      r += 1
    }
    if (m == Long.MaxValue) 0L else m
  }

  def merge(other: CountMin): Unit = {
    require(other.depth == depth && other.width == width,
      s"cannot merge CMS($depth,$width) with CMS(${other.depth},${other.width})")
    var i = 0
    while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
    total += other.total
  }

  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(1 + 4 + 4 + 8 + counts.length * 8)
    bb.put(CountMin.Magic).putInt(depth).putInt(width).putLong(total)
    var i = 0
    while (i < counts.length) { bb.putLong(counts(i)); i += 1 }
    bb.array()
  }
}

object CountMin extends SketchCodec[CountMin] {
  /** Per-row decorrelation constant (Knuth's 32-bit golden multiplier —
    * small, so key + row·RowMix wraps identically under mod-2^64 SQL). */
  final val RowMix: Long = 2654435761L
  final val Magic: Byte = 0x43 // 'C'

  /** O(depth) point estimate straight off the serialized blob: header +
    * `depth` 8-byte reads at computed offsets. Probing n items against one
    * sketch is O(n·depth), NOT O(n·depth·width) — the full-grid deserialize
    * (128 KB at 4×4096) never happens on the query path. Called from
    * generated code (see [[graft.expr.CmsCount]]). */
  def estimateFromBlob(bytes: Array[Byte], key: Long): Long = {
    checkSerialized(bytes)
    val depth = readIntBE(bytes, 1)
    val width = readIntBE(bytes, 5)
    var m = Long.MaxValue
    var r = 0
    while (r < depth) {
      val b = (TextHash.avalanche(key + r.toLong * RowMix) & (width - 1)).toInt
      val c = readLongBE(bytes, 17 + (r * width + b) * 8)
      if (c < m) m = c
      r += 1
    }
    m
  }

  /** O(1) total straight off the serialized blob's header. */
  def totalFromBlob(bytes: Array[Byte]): Long = {
    checkSerialized(bytes)
    readLongBE(bytes, 9)
  }

  /** Inner-product estimate between two same-shaped sketches (Cormode &
    * Muthukrishnan 2005 §4.2): min over rows of Σ_j a[r][j]·b[r][j] —
    * an overestimate of Σ_k f_A(k)·f_B(k) by at most ε·N_A·N_B w.h.p.
    * This is the classic sketch-based JOIN SIZE estimate: |A ⋈_k B| for
    * a many-to-many equi-join IS Σ_k f_A(k)·f_B(k), and with a = b it is
    * the second frequency moment F2 = Σ f², the self-join size that
    * quantifies key skew. Accumulation saturates at Long.MaxValue rather
    * than wrapping (at 2^63 the answer is "do not run this join as
    * planned" regardless of the exact magnitude). O(depth·width) reads
    * straight off the blobs, once per estimate. */
  def innerProductFromBlobs(a: Array[Byte], b: Array[Byte]): Long = {
    checkSerialized(a); checkSerialized(b)
    val depthA = readIntBE(a, 1); val widthA = readIntBE(a, 5)
    val depthB = readIntBE(b, 1); val widthB = readIntBE(b, 5)
    require(depthA == depthB && widthA == widthB,
      s"cannot dot CMS($depthA,$widthA) with CMS($depthB,$widthB)")
    var best = Long.MaxValue
    var r = 0
    while (r < depthA) {
      var acc = 0L
      var j = 0
      var saturated = false
      while (j < widthA && !saturated) {
        val off = 17 + (r * widthA + j) * 8
        val ca = readLongBE(a, off)
        val cb = readLongBE(b, off)
        if (ca != 0L && cb != 0L) {
          val p = ca * cb
          // overflow checks: ca,cb > 0 so p and acc+p must stay positive
          if (p / ca != cb || acc + p < acc) saturated = true
          else acc += p
        }
        j += 1
      }
      if (!saturated && acc < best) best = acc
      r += 1
    }
    best
  }

  /** Grid cells whose serialized sketch, 17 + 8 per cell bytes, still
    * fits in one array. */
  final val MaxCells: Int = (Int.MaxValue - 17) / 8

  /** Magic, shape and length; returns depth * width. Any blob that passes
    * re-serializes to itself. */
  override def checkSerialized(bytes: Array[Byte]): Int = {
    require(bytes.length >= 17, s"CMS blob too short: ${bytes.length} bytes")
    require(bytes(0) == Magic, f"bad CMS magic 0x${bytes(0)}%02x")
    val depth = readIntBE(bytes, 1)
    val width = readIntBE(bytes, 5)
    require(depth >= 1 && depth <= 16 && width >= 2 &&
      (width & (width - 1)) == 0 && width <= (1 << 24) && depth.toLong * width <= MaxCells,
      s"corrupt CMS header: depth=$depth width=$width")
    require(bytes.length == 17 + depth * width * 8,
      s"CMS blob length ${bytes.length} != ${17 + depth * width * 8}")
    depth * width
  }

  @inline private def readIntBE(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  @inline private def readLongBE(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 56) | ((b(off + 1) & 0xffL) << 48) |
      ((b(off + 2) & 0xffL) << 40) | ((b(off + 3) & 0xffL) << 32) |
      ((b(off + 4) & 0xffL) << 24) | ((b(off + 5) & 0xffL) << 16) |
      ((b(off + 6) & 0xffL) << 8) | (b(off + 7) & 0xffL)

  override def deserialize(bytes: Array[Byte]): CountMin = {
    checkSerialized(bytes)
    val s = new CountMin(readIntBE(bytes, 1), readIntBE(bytes, 5))
    mergeBytes(s, bytes)
    s
  }

  override def serialize(s: CountMin): Array[Byte] = s.serialize()

  /** Adds the big-endian counters in place, without building the grid. */
  override def mergeBytes(into: CountMin, bytes: Array[Byte]): Unit = {
    val cells = checkSerialized(bytes)
    val depth = readIntBE(bytes, 1); val width = readIntBE(bytes, 5)
    require(depth == into.depth && width == into.width,
      s"cannot merge CMS(${into.depth},${into.width}) with CMS($depth,$width)")
    var i = 0
    while (i < cells) { into.counts(i) += readLongBE(bytes, 17 + 8 * i); i += 1 }
    into.total += readLongBE(bytes, 9)
  }

  override def mergeSketch(into: CountMin, other: CountMin): Unit = into.merge(other)
}
