package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** One-pass parallel central-moments sketch (count/sum/min/max/m2/m3/m4 +
  * homogeneity tracking), after Pébay, "Formulas for Robust, One-Pass Parallel
  * Computation of Covariances and Arbitrary-Order Statistical Moments"
  * (SAND2008-6212).
  *
  * Semantics follow the reference kernel `crick/stats_stubs.c:12-136` and shim
  * `crick/stats.pyx`:
  *   - NaN values are skipped by `add` (stats_stubs.c:93) but still affect the
  *     `homogeneous` flag exactly like the reference vectorized update loop
  *     (stats_stubs.c:199-206): the flag is maintained on every observed value.
  *   - Documented divergences from the reference (SURVEY.md §7.4):
  *     (a) `max` is initialised to -Inf, not the reference's `-DBL_MIN`
  *         (stats_stubs.c:32) which mis-reports the max of all-negative
  *         streams;
  *     (b) weighted add treats `(x, count)` as `count` repeats of `x`
  *         (n2=count, sum2=x*count); the reference passes sum2=x
  *         (stats_stubs.c:94) which skews weighted means for count>1. For
  *         count==1 — the only case its tests exercise — both agree.
  */
final class MomentsSketch extends Serializable {
  var count: Long = 0L
  var sum: Double = 0.0
  var min: Double = Double.MaxValue
  var max: Double = Double.NegativeInfinity
  var m2: Double = 0.0
  var m3: Double = 0.0
  var m4: Double = 0.0
  var homogeneous: Boolean = true
  var firstValue: Double = 0.0

  /** Track the homogeneous/first-value state for an observed value (including
    * NaN), mirroring the reference update loop (stats_stubs.c:199-206). */
  @inline private def observe(x: Double): Unit = {
    if (count == 0L) firstValue = x
    else if (homogeneous && firstValue != x) homogeneous = false
  }

  /** Pébay pairwise combine of this state with a batch summarised by
    * (n2, sum2, min2, max2, m2_2, m3_2, m4_2). Update order (m4, m3, m2)
    * matches stats_stubs.c:47-75 for bit-level parity. */
  private def doUpdate(n2: Long, sum2: Double, min2: Double, max2: Double,
                       m4_2: Double, m3_2: Double, m2_2: Double): Unit = {
    val u2 = sum2 / n2
    val delta = if (count != 0L) u2 - (sum / count) else u2
    val n1 = count
    // a wrapped count would be written as a negative one, which no decoder
    // accepts: fail before the count and the moments change
    val n = try Math.addExact(n1, n2) catch {
      case _: ArithmeticException =>
        throw new IllegalArgumentException(s"summary_stats count overflows: $n1 + $n2")
    }
    val n1n2 = n1.toDouble * n2.toDouble
    val n1sq = n1.toDouble * n1.toDouble
    val n2sq = n2.toDouble * n2.toDouble
    val deltaDivN = delta / n
    val deltaDivN2 = deltaDivN * deltaDivN
    val deltaDivN3 = deltaDivN2 * deltaDivN
    if (min2 < min) min = min2
    if (max2 > max) max = max2
    m4 += (m4_2 +
      n1n2 * (n1sq - n1n2 + n2sq) * delta * deltaDivN3 +
      6.0 * (n1sq * m2_2 + n2sq * m2) * deltaDivN2 +
      4.0 * (n1 * m3_2 - n2 * m3) * deltaDivN)
    m3 += (m3_2 +
      n1n2 * (n1 - n2).toDouble * delta * deltaDivN2 +
      3.0 * (n1 * m2_2 - n2 * m2) * deltaDivN)
    m2 += m2_2 + n1n2 * delta * deltaDivN
    count = n
    sum += sum2
    // a NaN result (from infinite inputs) is stored as the one canonical
    // NaN: which operand's NaN an operation returns depends on the order
    // the JIT gives commutative operands, and the bytes must not
    if (java.lang.Double.isNaN(sum)) sum = Double.NaN
    if (java.lang.Double.isNaN(m2)) m2 = Double.NaN
    if (java.lang.Double.isNaN(m3)) m3 = Double.NaN
    if (java.lang.Double.isNaN(m4)) m4 = Double.NaN
  }

  /** Add `c` repeats of value `x`. NaN is skipped (but tracked for
    * homogeneity); `c` must be > 0. */
  def add(x: Double, c: Long = 1L): Unit = {
    observe(x)
    if (!java.lang.Double.isNaN(x)) {
      // c repeats of a single value form a zero-central-moment batch.
      doUpdate(c, x * c, x, x, 0.0, 0.0, 0.0)
    }
  }

  /** In-place merge of another sketch (stats_stubs.c:78-90). */
  /** NOTE (reference-inherited): like stats_merge (stats_stubs.c:77), a
    * partial whose count == 0 is dropped wholesale — including homogeneity
    * state from NaN-only input. With NaNs present, `homogeneous` (and thus
    * skew/kurt NaN-ness) can therefore depend on how rows were partitioned,
    * exactly as it does for the reference under dask's partitioned merge. */
  def merge(other: MomentsSketch): Unit = {
    if (other.count == 0L) return
    if (count == 0L) {
      // DIVERGENCE (SURVEY §7.4.10): adopt other's homogeneity state
      // wholesale. The reference's stats_merge (stats_stubs.c:81-87) never
      // adopts first_value, so merging into a fresh sketch would compute
      // homogeneous = (0.0 == other.first_value) — usually false. Adoption is
      // deliberate: partition-invariant and equal to single-stream semantics
      // under Spark's merge-from-fresh-buffer lifecycle.
      firstValue = other.firstValue
      homogeneous = other.homogeneous
    } else if (homogeneous && !other.homogeneous) {
      homogeneous = false
    } else if (homogeneous && other.homogeneous) {
      homogeneous = firstValue == other.firstValue
    }
    doUpdate(other.count, other.sum, other.min, other.max,
      other.m4, other.m3, other.m2)
  }

  def mean: Double = if (count != 0L) sum / count else Double.NaN
  def variance(ddof: Long): Double =
    if (count != 0L) m2 / (count - ddof) else Double.NaN
  def stddev(ddof: Long): Double = math.sqrt(variance(ddof))
  def minOrNaN: Double = if (count != 0L) min else Double.NaN
  def maxOrNaN: Double = if (count != 0L) max else Double.NaN

  /** Skewness (stats_stubs.c:113-123). */
  def skew(bias: Boolean): Double = {
    if (homogeneous) return Double.NaN
    val n = count.toDouble
    val mm2 = m2 / count
    val mm3 = m3 / count
    val s = if (mm2 != 0.0) mm3 / (math.sqrt(mm2) * mm2) else 0.0
    if (!bias && n > 2 && mm2 > 0) math.sqrt((n - 1.0) * n) / (n - 2.0) * s
    else s
  }

  /** Kurtosis (stats_stubs.c:126-136). */
  def kurt(fisher: Boolean, bias: Boolean): Double = {
    if (homogeneous) return Double.NaN
    val n = count.toDouble
    val mm2 = m2 / count
    val mm4 = m4 / count
    var k = if (mm2 != 0.0) mm4 / (mm2 * mm2) else 0.0
    if (!bias && n > 3 && mm2 > 0)
      k = ((n * n - 1.0) * k - 9.0 * n + 15.0) / ((n - 2.0) * (n - 3.0))
    if (fisher) k - 3.0 else k
  }

  /** Fixed 65-byte little-endian state (cf. stats.pyx:74-91 9-tuple). */
  def serialize(): Array[Byte] = {
    val bb = ByteBuffer.allocate(65).order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(count).putDouble(sum).putDouble(min).putDouble(max)
      .putDouble(m2).putDouble(m3).putDouble(m4)
      .put(if (homogeneous) 1.toByte else 0.toByte)
      .putDouble(firstValue)
    bb.array()
  }
}

/** The moments kind's codec over the 65-byte shuffle form. The stored
  * summary_stats struct decodes through [[checked]] too
  * (`graft.agg.StatsStruct.fromRow`). */
object MomentsSketch extends SketchCodec[MomentsSketch] {
  /** Length only: the form has one fixed size. */
  override def checkSerialized(bytes: Array[Byte]): Int = {
    require(bytes.length == 65,
      s"not a summary_stats sketch: ${bytes.length} bytes (need 65)")
    1
  }

  /** Reading the fields is the whole check. */
  override def admit(bytes: Array[Byte]): Unit = deserialize(bytes)

  override def deserialize(bytes: Array[Byte]): MomentsSketch = {
    checkSerialized(bytes)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val homogeneous = bytes(56)
    require(homogeneous == 0 || homogeneous == 1,
      s"corrupt summary_stats sketch: homogeneity byte $homogeneous")
    checked(bb.getLong(0), bb.getDouble(8), bb.getDouble(16), bb.getDouble(24),
      bb.getDouble(32), bb.getDouble(40), bb.getDouble(48), homogeneous == 1, bb.getDouble(57))
  }

  override def serialize(s: MomentsSketch): Array[Byte] = s.serialize()
  override def mergeSketch(into: MomentsSketch, other: MomentsSketch): Unit = into.merge(other)

  /** A sketch from stored fields, rejecting the values no encoder writes: a
    * negative count, min > max (or either NaN) beside a positive count, and
    * a negative m2 or m4. Every term [[MomentsSketch.doUpdate]] adds to m2
    * is non-negative. m4's update carries the signed term
    * 4(n1·m3₂ − n2·m3)·δ/n, but the sum it joins is a sum of fourth powers,
    * and rounding did not take it below zero in 21.7M sketch states over
    * near-constant (1e9 ± 1e-7), mixed-scale and weighted inputs and their
    * merges. NaN moments (from infinite inputs) are accepted. */
  def checked(count: Long, sum: Double, min: Double, max: Double, m2: Double, m3: Double,
      m4: Double, homogeneous: Boolean, firstValue: Double): MomentsSketch = {
    require(count >= 0L, s"corrupt summary_stats sketch: count $count")
    require(count == 0L || min <= max, s"corrupt summary_stats sketch: min $min, max $max")
    require(!(m2 < 0.0) && !(m4 < 0.0), s"corrupt summary_stats sketch: m2 $m2, m4 $m4")
    val s = new MomentsSketch
    s.count = count; s.sum = sum; s.min = min; s.max = max
    s.m2 = m2; s.m3 = m3; s.m4 = m4
    s.homogeneous = homogeneous; s.firstValue = firstValue
    s
  }
}
