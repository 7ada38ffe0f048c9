package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** KMV (k-minimum-values) distinct-value sketch.
  *
  * Keeps the `k` smallest DISTINCT 64-bit hashes seen (unsigned order —
  * hashes are uniform on [0, 2^64), so the k-th smallest normalized to
  * (0,1) estimates k/|D|). Not in the reference (crick has no distinct
  * sketch); added as the natural fourth mergeable sketch for corpus work:
  * distinct counts and set similarity between groups. Estimator and the
  * union/intersection trick follow the KMV literature (see Beyer et al.,
  * and GB-KMV, ICDE 2019, PAPERS.md).
  *
  * Monoid contract (same lifecycle as the other kernels):
  * `add` (point), `merge` (union, keep k smallest), `serialize`/
  * `deserialize` (value-only), estimators finalize. EXACT while fewer than
  * `k` distinct hashes have been seen — `estimateDistinct` then returns the
  * true distinct count of hashed inputs.
  */
final class KmvSketch(initialK: Int) extends Serializable {
  require(initialK >= 2 && initialK <= KmvSketch.MaxK, s"k must be in [2, ${KmvSketch.MaxK}]")

  /** Effective capacity: shrinks on merge with a smaller-k sketch (a union
    * is only a valid KMV at k′ = min of the inputs' capacities). */
  private var effK: Int = initialK
  def k: Int = effK

  /** Sorted (unsigned) distinct hashes, size ≤ k. */
  private val set = new java.util.TreeSet[java.lang.Long](
    (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.compareUnsigned(a, b))
  /** Cached set.last() so a saturated reject is one unsigned compare, no
    * tree walk. Valid whenever size > 0. */
  private var cachedMax: Long = 0L

  def size: Int = set.size()
  def isExact: Boolean = set.size() < effK

  def add(hash: Long): Unit = {
    val n = set.size()
    if (n < effK) {
      if (set.add(hash) &&
          (n == 0 || java.lang.Long.compareUnsigned(hash, cachedMax) > 0))
        cachedMax = hash
    } else if (java.lang.Long.compareUnsigned(hash, cachedMax) < 0 &&
        set.add(hash)) {
      set.remove(cachedMax)
      cachedMax = set.last()
    }
  }

  def merge(other: KmvSketch): Unit = {
    if (other.effK < effK) shrinkTo(other.effK)
    val it = other.set.iterator()
    while (it.hasNext) add(it.next())
  }

  /** Drop largest hashes until the set fits newK (k′ = min rule). */
  private def shrinkTo(newK: Int): Unit = {
    effK = newK
    while (set.size() > effK) set.remove(set.last())
    if (set.size() > 0) cachedMax = set.last()
  }

  /** Distinct estimate: exact size below k, else (k−1)/u_k with u_k the
    * k-th smallest hash normalized to (0,1). */
  def estimateDistinct: Double =
    if (set.size() < effK) set.size().toDouble
    else (effK - 1).toDouble / KmvSketch.toUnit(cachedMax)

  def values: Array[Long] = {
    val out = new Array[Long](set.size())
    var i = 0
    val it = set.iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  def contains(h: Long): Boolean = set.contains(h)

  /** Largest retained hash (call only when size > 0). */
  def maxHash: Long = set.last()

  def serialize(): Array[Byte] = {
    val vs = values
    val buf = ByteBuffer.allocate(8 + vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(effK); buf.putInt(vs.length)
    vs.foreach(buf.putLong)
    buf.array()
  }
}

/** Result of [[KmvSketch.setOps]]: distinct-size estimates for each side,
  * their union and intersection, the Jaccard ratio, containments
  * (|A∩B|/|A|, |A∩B|/|B| — "how much of A is inside B"), and standard
  * errors (all 0 in exact mode). */
final case class KmvSetOps(aD: Double, bD: Double, unionD: Double,
    intersectD: Double, jaccard: Double, containA: Double, containB: Double,
    unionSe: Double, intersectSe: Double, exact: Boolean)

object KmvSketch extends SketchCodec[KmvSketch] {
  final val MaxK: Int = 1 << 20

  /** Unsigned 64-bit → (0, 1]: (h + 1) / 2^64 computed in two 32-bit halves
    * to keep double rounding benign. */
  @inline def toUnit(h: Long): Double = {
    val hi = (h >>> 32).toDouble
    val lo = (h & 0xffffffffL).toDouble
    (hi * 4294967296.0 + lo + 1.0) / 1.8446744073709552e19
  }

  /** Little-endian k, n <= k, then n hashes. */
  override def checkSerialized(bytes: Array[Byte]): Int = {
    require(bytes.length >= 8, s"not a KMV sketch: ${bytes.length} bytes (need >= 8)")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val k = bb.getInt(0)
    val n = bb.getInt(4)
    require(k >= 2 && k <= MaxK, s"corrupt KMV sketch: k=$k outside [2, $MaxK]")
    require(n >= 0 && n <= k && bytes.length == 8 + 8L * n,
      s"corrupt KMV sketch: $n hashes for k=$k in ${bytes.length} bytes")
    n
  }

  /** [[checkSerialized]], then the order the encoder writes: strictly
    * increasing unsigned hashes. Returns n. */
  private def checkHashes(bytes: Array[Byte]): Int = {
    val n = checkSerialized(bytes)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var i = 1
    while (i < n) {
      require(java.lang.Long.compareUnsigned(bb.getLong(8 * i), bb.getLong(8 + 8 * i)) < 0,
        s"corrupt KMV sketch: hash $i out of increasing order")
      i += 1
    }
    n
  }

  override def admit(bytes: Array[Byte]): Unit = checkHashes(bytes)

  override def deserialize(bytes: Array[Byte]): KmvSketch = {
    val n = checkHashes(bytes)
    val s = new KmvSketch(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt(0))
    addAll(s, bytes, n)
    s
  }

  override def serialize(s: KmvSketch): Array[Byte] = s.serialize()

  /** The state depends only on the hash set and the smaller k, so shrinking
    * first and adding every stored hash equals merging the decoded sketch. */
  override def mergeBytes(into: KmvSketch, bytes: Array[Byte]): Unit = {
    val n = checkHashes(bytes)
    val k = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt(0)
    if (k < into.effK) into.shrinkTo(k)
    addAll(into, bytes, n)
  }

  override def mergeSketch(into: KmvSketch, other: KmvSketch): Unit = into.merge(other)

  private def addAll(s: KmvSketch, bytes: Array[Byte], n: Int): Unit = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) { s.add(bb.getLong(8 + 8 * i)); i += 1 }
  }

  /** Jaccard |A∩B| / |A∪B| from two sketches over the same hash function:
    * build the union's KMV (k′ = min(kA,kB)), count members present in BOTH
    * inputs over the region where membership is decidable — hashes above a
    * SATURATED sketch's max may have been evicted there, so the sample is
    * truncated at min(maxA, maxB) when either side is full (Beyer et al.'s
    * estimator). Exact when both inputs are exact and their union fits k′. */
  def jaccard(a: KmvSketch, b: KmvSketch): Double = setOps(a, b).jaccard

  /** Set-operation estimates for the sets behind two sketches of the SAME
    * hash function, after Beyer et al. (SIGMOD 2007) §4:
    *
    *  - union: the merged KMV at k′ = min(kA, kB) is exactly the union's
    *    KMV, so D̂∪ = (k′−1)/u_{k′} (exact below capacity);
    *  - intersection: ratio estimator D̂∩ = ρ̂ · D̂∪ where ρ̂ = K∩/K_valid
    *    over the union sample truncated to the region where membership in
    *    BOTH inputs is decidable (hashes above a saturated sketch's max may
    *    have been evicted there);
    *  - jaccard = ρ̂.
    *
    * Standard errors: the (k−1)/u_k estimator's coefficient of variation
    * is ≈ 1/√(k′−2); ρ̂'s is the binomial √(ρ̂(1−ρ̂)/K_valid); D̂∩
    * combines both in quadrature. All zero in exact mode (both inputs
    * exact and the union under capacity) — then the estimates ARE the true
    * set sizes. */
  def setOps(a: KmvSketch, b: KmvSketch): KmvSetOps = {
    val kk = math.min(a.k, b.k)
    val u = new KmvSketch(kk)
    u.merge(a); u.merge(b)
    val vs = u.values
    val aD = a.estimateDistinct
    val bD = b.estimateDistinct
    val exact = a.isExact && b.isExact && u.isExact
    if (vs.isEmpty) return KmvSetOps(0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0,
      0.0, 0.0, exact)
    @inline def le(x: Long, y: Long) = java.lang.Long.compareUnsigned(x, y) <= 0
    var both = 0
    var valid = 0
    var i = 0
    while (i < vs.length) {
      val v = vs(i)
      if ((a.isExact || le(v, a.maxHash)) && (b.isExact || le(v, b.maxHash))) {
        valid += 1
        if (a.contains(v) && b.contains(v)) both += 1
      }
      i += 1
    }
    val unionD = u.estimateDistinct
    val rho = if (valid == 0) 0.0 else both.toDouble / valid
    @inline def contain(d: Double, inter: Double): Double =
      if (d <= 0.0) 1.0 else math.min(1.0, inter / d)
    if (exact) {
      KmvSetOps(aD, bD, unionD, both.toDouble, rho,
        contain(aD, both.toDouble), contain(bD, both.toDouble),
        0.0, 0.0, exact = true)
    } else {
      val unionSe = if (u.isExact) 0.0 else unionD / math.sqrt(kk - 2.0)
      val jaccSe = if (valid == 0) 0.0 else math.sqrt(rho * (1 - rho) / valid)
      val interD = rho * unionD
      val interSe = math.sqrt(rho * rho * unionSe * unionSe +
        unionD * unionD * jaccSe * jaccSe)
      KmvSetOps(aD, bD, unionD, interD, rho,
        contain(aD, interD), contain(bD, interD),
        unionSe, interSe, exact = false)
    }
  }
}
