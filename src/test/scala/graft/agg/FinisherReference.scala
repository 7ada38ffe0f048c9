package graft.agg

import graft.core.TDigest
import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.DoubleType

/** The finishers as they computed before they read sketches in place and
  * became one node each, kept as test references. */
object FinisherReference {
  /** The t-digest queries over a decoded digest: a prep pass copies the
    * means and builds the cumulative mid-weights, then each probe bisects
    * them (tdigest_stubs.c:301-516). */
  final class Prepped(t: TDigest) {
    t.flush()
    private val n = t.nCentroids
    private val means = java.util.Arrays.copyOf(t.means, n)
    private val mids = {
      val out = new Array[Double](n)
      var cum = 0.0
      var i = 0
      while (i < n) { out(i) = cum + t.weights(i) / 2.0; cum += t.weights(i); i += 1 }
      out
    }

    private def bisectWeight(index: Double): Int = {
      var lo = 0; var hi = n
      while (lo < hi) { val mid = (lo + hi) / 2; if (mids(mid) < index) lo = mid + 1 else hi = mid }
      lo
    }

    private def bisectLeftMean(x: Double): Int = {
      var lo = 0; var hi = n
      while (lo < hi) { val mid = (lo + hi) / 2; if (means(mid) < x) lo = mid + 1 else hi = mid }
      lo
    }

    private def bisectRightMean(x: Double, lo0: Int): Int = {
      var lo = lo0; var hi = n
      while (lo < hi) { val mid = (lo + hi) / 2; if (x < means(mid)) hi = mid else lo = mid + 1 }
      if (lo > 0 && means(lo - 1) == x) lo -= 1
      lo
    }

    def quantile(q: Double): Double = {
      if (t.totalWeight == 0) return Double.NaN
      if (q <= 0) return t.min
      if (q >= 1) return t.max
      if (n == 1) return t.means(0)
      val index = q * t.totalWeight
      val i = bisectWeight(index)
      var x0 = 0.0; var y0 = 0.0; var x1 = 0.0; var y1 = 0.0
      if (i == 0) { x0 = 0.0; y0 = t.min } else { x0 = mids(i - 1); y0 = means(i - 1) }
      if (i == n) { x1 = t.totalWeight; y1 = t.max } else { x1 = mids(i); y1 = means(i) }
      y0 + (index - x0) * (y1 - y0) / (x1 - x0)
    }

    def cdf(x: Double): Double = {
      val (min, max, total, ws) = (t.min, t.max, t.totalWeight, t.weights)
      if (n == 0) return Double.NaN
      if (n == 1) {
        if (x < min) return 0.0
        if (x > max) return 1.0
        if (max - min < TDigest.DblEpsilon) return 0.5
        return (x - min) / (max - min)
      }
      if (x >= max) return 1.0
      if (x <= min) return 0.0
      val iL = bisectLeftMean(x)
      if (x < t.means(0)) {
        (mids(0) / 2.0) * (x - min) / (means(0) - min) / total
      } else if (iL == n) {
        val x0 = t.means(iL - 1)
        1.0 - ws(iL - 1) / 2.0 * (max - x) / (max - x0) / total
      } else if (t.means(iL) == x) {
        mids(bisectRightMean(x, iL)) / total
      } else if (iL == 0) {
        // x or the first mean is NaN: this read means(-1) and threw
        // ArrayIndexOutOfBoundsException; the finishers now answer NaN
        Double.NaN
      } else {
        val x0 = t.means(iL - 1); val x1 = t.means(iL)
        val dw = (ws(iL - 1) + ws(iL)) / 2.0
        (mids(iL - 1) + dw * (x - x0) / (x1 - x0)) / total
      }
    }

    def histogram(edges: Array[Double]): Array[Double] = {
      val sz = t.totalSize
      if (sz == 0) new Array[Double](edges.length - 1)
      else edges.sliding(2).map { case Array(a, b) => (cdf(b) - cdf(a)) * sz }.toArray
    }

    def histogramEdges(bins: Int): Array[Double] = {
      var left = 0.0; var right = 0.0
      if (t.totalSize != 0) {
        left = if (t.totalWeight > 0) t.min else Double.NaN
        right = if (t.totalWeight > 0) t.max else Double.NaN
      }
      if (right == left) { left -= 0.5; right += 0.5 }
      val step = (right - left) / bins
      val edges = Array.tabulate(bins + 1)(i => left + step * i)
      edges(bins) = right
      edges
    }
  }

  /** Hll.estimate over a decoded sketch's registers. */
  def hllEstimate(registers: Array[Byte]): Double = {
    val m = registers.length
    val mm = m.toDouble
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / mm)
    }
    val sum = registers.foldLeft(0.0)((acc, r) => acc + java.lang.Math.pow(2.0, -r.toDouble))
    val raw = alpha * mm * mm / sum
    val zeros = registers.count(_ == 0)
    if (raw <= 2.5 * mm && zeros > 0) mm * math.log(mm / zeros) else raw
  }

  /** The stats finishers as Catalyst formula trees over the struct's
    * fields, without the checked read (which has tests of its own). */
  object StatsTrees {
    private def fld(st: Expression, n: String): Expression = UnresolvedExtractValue(st, Literal(n))
    private def d(x: Double): Expression = Literal(x)
    private val nan: Expression = Literal(Double.NaN)

    private def emptyGuard(st: Expression, res: Expression): Expression =
      If(EqualTo(fld(st, "count"), Literal(0L)), nan, res)

    def field(st: Expression, name: String): Expression = fld(st, name)

    def mean(st: Expression): Expression =
      emptyGuard(st, Divide(fld(st, "sum"), Cast(fld(st, "count"), DoubleType)))

    def variance(st: Expression, ddof: Int): Expression =
      emptyGuard(st, Multiply(fld(st, "m2"),
        Pow(Cast(Subtract(fld(st, "count"), Literal(ddof.toLong)), DoubleType), Literal(-1.0))))

    def std(st: Expression, ddof: Int): Expression = Sqrt(variance(st, ddof))

    def skew(st: Expression, bias: Boolean): Expression = {
      val n = Cast(fld(st, "count"), DoubleType)
      val m2 = Divide(fld(st, "m2"), n)
      val m3 = Divide(fld(st, "m3"), n)
      val g1 = If(EqualTo(m2, d(0.0)), d(0.0), Divide(m3, Multiply(Sqrt(m2), m2)))
      val res =
        if (bias) g1
        else If(And(GreaterThan(n, d(2.0)), GreaterThan(m2, d(0.0))),
          Multiply(Divide(Sqrt(Multiply(Subtract(n, d(1.0)), n)), Subtract(n, d(2.0))), g1),
          g1)
      If(fld(st, "homogeneous"), nan, res)
    }

    def kurt(st: Expression, fisher: Boolean, bias: Boolean): Expression = {
      val n = Cast(fld(st, "count"), DoubleType)
      val m2 = Divide(fld(st, "m2"), n)
      val m4 = Divide(fld(st, "m4"), n)
      val g2 = If(EqualTo(m2, d(0.0)), d(0.0), Divide(m4, Multiply(m2, m2)))
      val corrected =
        if (bias) g2
        else If(And(GreaterThan(n, d(3.0)), GreaterThan(m2, d(0.0))),
          Divide(
            Add(Subtract(Multiply(Subtract(Multiply(n, n), d(1.0)), g2),
              Multiply(d(9.0), n)), d(15.0)),
            Multiply(Subtract(n, d(2.0)), Subtract(n, d(3.0)))),
          g2)
      val res = if (fisher) Subtract(corrected, d(3.0)) else corrected
      If(fld(st, "homogeneous"), nan, res)
    }
  }
}
