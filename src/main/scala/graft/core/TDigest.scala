package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** A t-digest's centroids in mean order, with its bounds and total weight,
  * as the queries read them: a digest's own arrays
  * ([[TDigest]], flushed first) or a checked blob read in place
  * ([[TDigest.Blob]]). The queries are crick's (tdigest_stubs.c:301-516)
  * without its prep pass: a centroid's cumulative mid-weight (the weights
  * before it, summed in centroid order, plus half its own) is accumulated
  * as a probe walks the run, in the order the prep pass summed it, so the
  * answers are the same doubles and a query allocates nothing. */
trait TDigestRun {
  def min: Double
  def max: Double
  def totalWeight: Double
  def nCentroids: Int
  def mean(i: Int): Double
  def weight(i: Int): Double
  /** Weight added but not yet merged into the run; a blob holds none. */
  def bufferedWeight: Double
  /** Merge the buffered points into the run; a blob holds none. */
  def flush(): Unit

  /** Total ingested weight including the unflushed buffer (tdigest.pyx:118-122). */
  final def totalSize: Double = totalWeight + bufferedWeight
  final def isEmpty: Boolean = totalSize == 0.0

  final def minOrNaN: Double = { flush(); if (totalWeight > 0) min else Double.NaN }
  final def maxOrNaN: Double = { flush(); if (totalWeight > 0) max else Double.NaN }

  /** Centroid i's cumulative mid-weight. */
  private def midWeight(i: Int): Double = {
    var cum = 0.0
    var j = 0
    while (j < i) { cum += weight(j); j += 1 }
    cum + weight(i) / 2.0
  }

  private def bisectLeftMean(x: Double, lo0: Int, hi0: Int): Int = {
    var lo = lo0; var hi = hi0
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (mean(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def bisectRightMean(x: Double, lo0: Int, hi0: Int): Int = {
    var lo = lo0; var hi = hi0
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (x < mean(mid)) hi = mid else lo = mid + 1
    }
    if (lo > 0 && mean(lo - 1) == x) lo -= 1
    lo
  }

  /** tdigest_quantile (tdigest_stubs.c:483-516): interpolate between the
    * mid-weights either side of q * total. Mid-weights never decrease, so
    * the first centroid whose mid-weight reaches it is the one crick's
    * bisect finds. */
  final def quantile(q: Double): Double = {
    flush()
    val n = nCentroids
    if (totalWeight == 0) return Double.NaN
    if (q <= 0) return min
    if (q >= 1) return max
    if (n == 1) return mean(0)

    val index = q * totalWeight
    var i = 0
    var cum = 0.0
    var lastMid = 0.0
    var mid = 0.0
    var found = false
    while (i < n && !found) {
      mid = cum + weight(i) / 2.0
      if (mid < index) { lastMid = mid; cum += weight(i); i += 1 } else found = true
    }
    var x0 = 0.0; var y0 = 0.0; var x1 = 0.0; var y1 = 0.0
    if (i == 0) { x0 = 0.0; y0 = min }
    else { x0 = lastMid; y0 = mean(i - 1) }
    if (i == n) { x1 = totalWeight; y1 = max }
    else { x1 = mid; y1 = mean(i) }
    y0 + (index - x0) * (y1 - y0) / (x1 - x0)
  }

  /** tdigest_cdf (tdigest_stubs.c:355-407). */
  final def cdf(x: Double): Double = {
    flush()
    val n = nCentroids
    if (n == 0) return Double.NaN
    if (n == 1) {
      if (x < min) return 0.0
      if (x > max) return 1.0
      if (max - min < TDigest.DblEpsilon) return 0.5
      return (x - min) / (max - min)
    }
    if (x >= max) return 1.0
    if (x <= min) return 0.0

    val iL = bisectLeftMean(x, 0, n)
    if (x < mean(0)) {
      val x0 = min; val x1 = mean(0)
      val dw = midWeight(0) / 2.0
      dw * (x - x0) / (x1 - x0) / totalWeight
    } else if (iL == n) {
      val x0 = mean(iL - 1); val x1 = max
      val dw = weight(iL - 1) / 2.0
      1.0 - dw * (x1 - x) / (x1 - x0) / totalWeight
    } else if (mean(iL) == x) {
      midWeight(bisectRightMean(x, iL, n)) / totalWeight
    } else if (iL == 0) {
      // x or the first mean is NaN: no centroid pair to interpolate between
      Double.NaN
    } else {
      val x0 = mean(iL - 1); val x1 = mean(iL)
      val dw = (weight(iL - 1) + weight(iL)) / 2.0
      (midWeight(iL - 1) + dw * (x - x0) / (x1 - x0)) / totalWeight
    }
  }

  final def quantiles(qs: Array[Double]): Array[Double] = {
    val out = new Array[Double](qs.length)
    var i = 0
    while (i < qs.length) { out(i) = quantile(qs(i)); i += 1 }
    out
  }

  final def cdfs(xs: Array[Double]): Array[Double] = {
    val out = new Array[Double](xs.length)
    var i = 0
    while (i < xs.length) { out(i) = cdf(xs(i)); i += 1 }
    out
  }

  /** NumPy-compatible histogram over explicit monotone bin edges
    * (tdigest.pyx:165-229): hist(i) = (cdf(e_{i+1}) - cdf(e_i)) * size. */
  final def histogram(binEdges: Array[Double]): Array[Double] = {
    val n = binEdges.length - 1
    val hist = new Array[Double](n)
    val sz = totalSize
    if (sz != 0) {
      val c = cdfs(binEdges)
      var i = 0
      while (i < n) { hist(i) = (c(i + 1) - c(i)) * sz; i += 1 }
    }
    hist
  }

  /** Equal-width edges for an int bin count, replicating numpy linspace usage
    * in tdigest.pyx:188-216 (degenerate range widened by ±0.5). */
  final def histogramEdges(bins: Int): Array[Double] = {
    var left = 0.0; var right = 0.0
    if (totalSize != 0) { left = minOrNaN; right = maxOrNaN }
    if (right == left) { left -= 0.5; right += 0.5 }
    val edges = new Array[Double](bins + 1)
    val step = (right - left) / bins
    var i = 0
    while (i <= bins) { edges(i) = left + step * i; i += 1 }
    edges(bins) = right
    edges
  }
}

/** Merging t-digest (Dunning/Ertl), ported semantically from the reference
  * kernel `crick/tdigest_stubs.c` (itself a C port of tdunning/t-digest).
  *
  * Structure: a sorted array of centroids (mean, weight) plus a small unsorted
  * ingest buffer. Adds append to the buffer (amortized O(1)); a flush merge-
  * sorts the buffer and runs one merge pass gated by the k-scale function
  * `integrate(c, q) = c*(asin(2q-1)+π/2)/π` (tdigest_stubs.c:178-189).
  * Queries (quantile/cdf) read the sorted centroid run in place
  * ([[TDigestRun]]): linear interpolation over cumulative mid-weights
  * (tdigest_stubs.c:301-316), accumulated as a probe walks the run.
  *
  * Reference contracts preserved:
  *  - compression clipped to [20, 1000]; centroid capacity 2*ceil(c);
  *    buffer capacity 7.5+0.37c-2e-4c² (tdigest_stubs.c:57-66)
  *  - non-finite x silently dropped; weights <= DBL_EPSILON dropped
  *    (tdigest_stubs.c:283-286)
  *  - quantile: empty→NaN, q<=0→min, q>=1→max, single centroid→mean
  *    (tdigest_stubs.c:483-516)
  *  - cdf: empty→NaN; single-centroid min/max ramp; duplicate-mean runs via
  *    rightmost-equal bisect (tdigest_stubs.c:355-407)
  *  - scale multiplies weights, dropping centroids whose scaled weight
  *    <= DBL_EPSILON (tdigest_stubs.c:609-629)
  *
  * One departure: merge does not re-add the other digest's centroids
  * through `add` (tdigest_stubs.c:592-606). It runs the flush's merge pass
  * once over the union of both sorted centroid runs, the MergingDigest
  * merge of arXiv:1902.04023, keeping add's drops, total and min/max fold.
  * Merged bytes therefore differ from crick's; add-built bytes do not.
  */
final class TDigest private (val compression: Double, val size: Int,
                             val bufferSize: Int) extends TDigestRun with Serializable {
  var min: Double = Double.MaxValue
  var max: Double = -Double.MaxValue

  var nCentroids: Int = 0
  var totalWeight: Double = 0.0
  // length >= nCentroids: empty until the first flush swaps in `size`-long
  // merge scratch; exactly n after deserialize
  var means: Array[Double] = TDigest.NoCentroids
  var weights: Array[Double] = TDigest.NoCentroids

  def mean(i: Int): Double = means(i)
  def weight(i: Int): Double = weights(i)

  // merge scratch, allocated on the first flush or merge
  private var mergeMeans: Array[Double] = null
  private var mergeWeights: Array[Double] = null

  // ingest buffer and its sort scratch, allocated on the first add
  private var bufN: Int = 0
  private var bufTotalWeight: Double = 0.0
  private var bufMeans: Array[Double] = null
  private var bufWeights: Array[Double] = null
  private var sortMeans: Array[Double] = null
  private var sortWeights: Array[Double] = null

  def bufferedWeight: Double = bufTotalWeight

  /** Stable bottom-up mergesort of the parallel (ms, ws) prefix [0, n) by
    * mean, through scratch (tm, tw) of length >= n — mirrors centroid_sort
    * (tdigest_stubs.c:116-175). Callers skip it for a sorted prefix. */
  private def sortByMean(ms: Array[Double], ws: Array[Double], n: Int,
                         tm: Array[Double], tw: Array[Double]): Unit = {
    var aM = ms; var aW = ws
    var bM = tm; var bW = tw
    var width = 1
    while (width < n) {
      var i = 0
      while (i < n) {
        val mid = math.min(i + width, n)
        val end = math.min(i + 2 * width, n)
        var j = i; var k = mid; var p = i
        while (j < mid && k < end) {
          if (aM(k) < aM(j)) { bM(p) = aM(k); bW(p) = aW(k); k += 1 }
          else { bM(p) = aM(j); bW(p) = aW(j); j += 1 }
          p += 1
        }
        while (j < mid) { bM(p) = aM(j); bW(p) = aW(j); j += 1; p += 1 }
        while (k < end) { bM(p) = aM(k); bW(p) = aW(k); k += 1; p += 1 }
        i = end
      }
      val tM = aM; val tW = aW; aM = bM; aW = bW; bM = tM; bW = tW
      width *= 2
    }
    if (!(aM eq ms)) {
      System.arraycopy(aM, 0, ms, 0, n)
      System.arraycopy(aW, 0, ws, 0, n)
    }
  }

  /** k-scale function (tdigest_stubs.c:178-189). Uses [[TDigest.fastAsin]]:
    * Math.asin is a non-intrinsified native call on the JVM and dominates
    * the merge pass; the polynomial is within ~2 ulp, far inside the
    * k-scale bound's tolerance. */
  @inline private def integrate(q0: Double): Double = {
    val q = if (q0 > 1) 1.0 else q0
    compression * (TDigest.fastAsin(2 * q - 1) + math.Pi / 2) / math.Pi
  }

  /** The one k-scale merge pass (tdigest_flush and centroid_merge,
    * tdigest_stubs.c:192-273) over the union of the centroids and a sorted
    * run (rm, rw)[0, rn) whose weight totalWeight already counts; on equal
    * means the centroid goes first. A step that starts a centroid takes
    * the previous step's k2 as its k1: both integrate the same weightSoFar
    * double, so the pass evaluates the k-scale once a step. */
  private def mergePass(rm: Array[Double], rw: Array[Double], rn: Int): Unit = {
    if (mergeMeans == null || mergeMeans.length < size) {
      mergeMeans = new Array[Double](size); mergeWeights = new Array[Double](size)
    }
    if (min > rm(0)) min = rm(0)
    if (max < rm(rn - 1)) max = rm(rn - 1)
    val n = nCentroids
    var out = 0
    var k1 = 0.0
    var lastK2 = 0.0
    var weightSoFar = 0.0
    var i = 0; var j = 0
    while (i < rn || j < n) {
      var u = 0.0; var w = 0.0
      if (j == n || (i < rn && rm(i) < means(j))) { u = rm(i); w = rw(i); i += 1 }
      else { u = means(j); w = weights(j); j += 1 }
      val k2 = integrate((weightSoFar + w) / totalWeight)
      if (out == 0) {
        mergeMeans(0) = u; mergeWeights(0) = w; out = 1
      } else if (k2 - k1 <= 1) {
        val c = out - 1
        mergeWeights(c) += w
        mergeMeans(c) += (u - mergeMeans(c)) * w / mergeWeights(c)
      } else {
        mergeMeans(out) = u; mergeWeights(out) = w; out += 1
        k1 = lastK2
      }
      lastK2 = k2
      weightSoFar += w
    }
    nCentroids = out
    var t = means; means = mergeMeans; mergeMeans = t
    t = weights; weights = mergeWeights; mergeWeights = t
  }

  @inline private def isSorted(ms: Array[Double], n: Int): Boolean = {
    var s = 1
    while (s < n && !(ms(s) < ms(s - 1))) s += 1
    s >= n
  }

  /** Merge the ingest buffer into the centroid array (tdigest_flush,
    * tdigest_stubs.c:219-273). */
  def flush(): Unit = {
    if (bufN == 0) return
    if (!isSorted(bufMeans, bufN)) {
      if (sortMeans == null) {
        sortMeans = new Array[Double](bufferSize); sortWeights = new Array[Double](bufferSize)
      }
      sortByMean(bufMeans, bufWeights, bufN, sortMeans, sortWeights)
    }
    totalWeight += bufTotalWeight
    bufTotalWeight = 0.0
    mergePass(bufMeans, bufWeights, bufN)
    bufN = 0
  }

  /** Point add (tdigest_add, tdigest_stubs.c:276-298). Caller guarantees
    * w finite and > 0; non-finite x and w <= DBL_EPSILON are dropped. */
  def add(x: Double, w: Double = 1.0): Unit = {
    if (java.lang.Double.isInfinite(x) || java.lang.Double.isNaN(x) ||
        w <= TDigest.DblEpsilon) return
    if (bufMeans == null) {
      bufMeans = new Array[Double](bufferSize); bufWeights = new Array[Double](bufferSize)
    }
    if (bufN == bufferSize) flush()
    bufMeans(bufN) = x
    bufWeights(bufN) = w
    bufN += 1
    bufTotalWeight += w
  }

  // the other digest's centroids as one run, kept as `add` would keep them
  private var runMeans: Array[Double] = TDigest.NoCentroids
  private var runWeights: Array[Double] = TDigest.NoCentroids
  private var runN = 0
  private var runWeight = 0.0

  private def openRun(n: Int): Unit = {
    if (runMeans.length < n) { runMeans = new Array[Double](n); runWeights = new Array[Double](n) }
    runN = 0; runWeight = 0.0
  }

  /** Keep a centroid of the run unless `add` would drop it. */
  @inline private def take(u: Double, w: Double): Unit =
    if (!(java.lang.Double.isInfinite(u) || java.lang.Double.isNaN(u) ||
          w <= TDigest.DblEpsilon)) {
      runMeans(runN) = u; runWeights(runN) = w; runN += 1; runWeight += w
    }

  /** Merge the run in one pass after the ingest buffer, sorting it first if
    * rounding left it out of order, and fold the other's min and max. */
  private def closeRun(otherMin: Double, otherMax: Double): Unit = {
    flush()
    if (runN > 0) {
      if (!isSorted(runMeans, runN))
        sortByMean(runMeans, runWeights, runN, new Array[Double](runN), new Array[Double](runN))
      totalWeight += runWeight
      mergePass(runMeans, runWeights, runN)
    }
    if (min > otherMin) min = otherMin
    if (max < otherMax) max = otherMax
  }

  /** In-place merge; `other` is flushed but not otherwise mutated. This
    * departs from crick's tdigest_merge (tdigest_stubs.c:592-606), which
    * re-adds the other's centroids through `add` and flushes once per
    * buffer-full: here one k-scale pass runs over the union of both sorted
    * centroid runs, as in the MergingDigest of Dunning & Ertl, "Computing
    * extremely accurate quantiles using t-digests" (arXiv:1902.04023). What
    * `add` does is kept: centroids with a non-finite mean or a weight
    * <= DBL_EPSILON are dropped, the total grows by the weights kept, and
    * min and max are folded. */
  def merge(other: TDigest): Unit = {
    other.flush()
    if (other.totalWeight != 0) {
      openRun(other.nCentroids)
      var i = 0
      while (i < other.nCentroids) { take(other.means(i), other.weights(i)); i += 1 }
      closeRun(other.min, other.max)
    }
  }

  /** `merge(TDigest.deserialize(bytes))` without building the other digest:
    * the same checks, then the same run read straight from the bytes, so
    * the result is byte-identical. (Each merge reads its own class: one
    * loop over the interface made the decoded merge about 1.6x slower.) */
  def mergeSerialized(bytes: Array[Byte]): Unit = {
    val b = TDigest.blob(bytes)
    if (b.totalWeight != 0) {
      openRun(b.nCentroids)
      var i = 0
      while (i < b.nCentroids) { take(b.mean(i), b.weight(i)); i += 1 }
      closeRun(b.min, b.max)
    }
  }

  /** In-place weight scaling (tdigest_scale, tdigest_stubs.c:609-629). */
  def scaleInPlace(factor: Double): Unit = {
    flush()
    if (totalWeight != 0) {
      var tw = 0.0
      var j = 0
      var i = 0
      while (i < nCentroids) {
        val w = weights(i) * factor
        if (w > TDigest.DblEpsilon) {
          means(j) = means(i)
          weights(j) = w
          tw += w
          j += 1
        }
        i += 1
      }
      totalWeight = tw
      nCentroids = j
    }
  }

  /** Flushed little-endian state: compression, min, max, totalWeight,
    * ncentroids, then (mean, weight) pairs (cf. tdigest.pyx:246-263). */
  def serialize(): Array[Byte] = {
    flush()
    val bb = ByteBuffer.allocate(8 * 4 + 4 + 16 * nCentroids)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putDouble(compression).putDouble(min).putDouble(max)
      .putDouble(totalWeight).putInt(nCentroids)
    var i = 0
    while (i < nCentroids) {
      bb.putDouble(means(i)).putDouble(weights(i)); i += 1
    }
    bb.array()
  }
}

object TDigest extends SketchCodec[TDigest] {
  val DblEpsilon: Double = java.lang.Math.ulp(1.0) // 2.220446049250313e-16
  private val NoCentroids = new Array[Double](0)

  // FDLIBM asin rational approximation R(z) = z·P(z)/Q(z) on z ∈ [0, 0.25]
  // (freely-distributable libm, Sun Microsystems; standard constants).
  private val pS0 = 1.66666666666666657415e-01
  private val pS1 = -3.25565818622400915405e-01
  private val pS2 = 2.01212532134862925881e-01
  private val pS3 = -4.00555345006794114027e-02
  private val pS4 = 7.91534994289814532176e-04
  private val pS5 = 3.47933107596021167570e-05
  private val qS1 = -2.40339491173441421878e+00
  private val qS2 = 2.02094576023350569471e+00
  private val qS3 = -6.88283971605453293030e-01
  private val qS4 = 7.70381505559019352791e-02

  @inline private def asinR(z: Double): Double = {
    val p = z * (pS0 + z * (pS1 + z * (pS2 + z * (pS3 + z * (pS4 + z * pS5)))))
    val q = 1.0 + z * (qS1 + z * (qS2 + z * (qS3 + z * qS4)))
    p / q
  }

  /** asin within a few ulp of Math.asin, ~6× faster (pure flops + one sqrt;
    * Math.asin is a non-intrinsified native call). |x| ≤ 0.5: x + x·R(x²);
    * else the half-angle identity asin(x) = π/2 − 2·asin(√((1−|x|)/2)).
    * Out-of-domain → NaN, matching Math.asin. */
  def fastAsin(x: Double): Double = {
    val a = math.abs(x)
    if (!(a <= 1.0)) return Double.NaN // also catches NaN
    val r =
      if (a <= 0.5) a + a * asinR(a * a)
      else {
        val z = (1.0 - a) * 0.5
        val s = math.sqrt(z)
        math.Pi / 2 - 2.0 * (s + s * asinR(z))
      }
    if (x < 0) -r else r
  }

  private def centroidCapacity(c: Double): Int = 2 * math.ceil(c).toInt

  def apply(compression: Double = 100.0): TDigest = {
    val c = if (compression < 20) 20.0
            else if (compression > 1000) 1000.0 else compression
    val size = centroidCapacity(c)
    val bufferSize = (7.5 + 0.37 * c - 2e-4 * c * c).toInt
    new TDigest(c, size, bufferSize)
  }

  /** Compression, centroid count and length. */
  override def checkSerialized(bytes: Array[Byte]): Int = {
    require(bytes.length >= 36,
      s"not a t-digest sketch: ${bytes.length} bytes (need >= 36)")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val c = bb.getDouble(0)
    require(c >= 20.0 && c <= 1000.0,
      s"not a t-digest sketch: compression $c outside [20, 1000]")
    val n = bb.getInt(32)
    require(n >= 0 && n <= centroidCapacity(c) && bytes.length == 36 + 16 * n,
      s"corrupt t-digest sketch: $n centroids in ${bytes.length} bytes")
    n
  }

  /** [[checkSerialized]], then the values no encoder writes: a centroid
    * weight that is NaN or <= 0, a total weight that is NaN or negative, and
    * min > max beside centroids. Mean order, means within [min, max] and
    * Σ weights == total are not checked, because rounding and weight
    * overflow let the encoder write them. Returns the centroid count. */
  private def checkValues(bytes: Array[Byte]): Int = {
    val n = checkSerialized(bytes)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val total = bb.getDouble(24)
    require(total >= 0, s"corrupt t-digest sketch: total weight $total")
    val min = bb.getDouble(8); val max = bb.getDouble(16)
    require(n == 0 || !(min > max), s"corrupt t-digest sketch: min $min > max $max")
    var off = 44
    while (off < bytes.length) {
      val w = bb.getDouble(off)
      require(w > 0, s"corrupt t-digest sketch: centroid weight $w")
      off += 16
    }
    n
  }

  override def admit(bytes: Array[Byte]): Unit = checkValues(bytes)

  /** A checked blob's centroids, read in place. */
  final class Blob private[TDigest] (bb: ByteBuffer, val nCentroids: Int) extends TDigestRun {
    val min: Double = bb.getDouble(8)
    val max: Double = bb.getDouble(16)
    val totalWeight: Double = bb.getDouble(24)
    def mean(i: Int): Double = bb.getDouble(36 + 16 * i)
    def weight(i: Int): Double = bb.getDouble(44 + 16 * i)
    def bufferedWeight: Double = 0.0
    def flush(): Unit = ()
  }

  /** [[deserialize]]'s checks, then the blob's centroids in place: what the
    * finishers query and `mergeSerialized` merges. */
  def blob(bytes: Array[Byte]): Blob =
    new Blob(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN), checkValues(bytes))

  /** Decode into centroid arrays of exactly n entries; scratch and ingest
    * buffers are allocated only if the digest is later added to or queried. */
  override def deserialize(bytes: Array[Byte]): TDigest = {
    val n = checkValues(bytes)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val t = TDigest(bb.getDouble())
    t.min = bb.getDouble(); t.max = bb.getDouble()
    t.totalWeight = bb.getDouble()
    bb.getInt() // the centroid count, checked above
    t.nCentroids = n
    val means = new Array[Double](n); val weights = new Array[Double](n)
    var i = 0
    while (i < n) { means(i) = bb.getDouble(); weights(i) = bb.getDouble(); i += 1 }
    t.means = means; t.weights = weights
    t
  }

  override def serialize(t: TDigest): Array[Byte] = t.serialize()
  override def mergeBytes(into: TDigest, bytes: Array[Byte]): Unit = into.mergeSerialized(bytes)
  override def mergeSketch(into: TDigest, other: TDigest): Unit = into.merge(other)
}
