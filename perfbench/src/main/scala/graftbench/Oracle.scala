package graftbench

import scala.collection.mutable

/** Exact answers for one group of (value, item) observations, and the
  * checks a sketch's output must pass against them. Each check returns
  * None when the output is correct, or a description of the first
  * violation. */
final class ExactGroup(values: Array[Double], items: Array[Long]) {
  val sorted: Array[Double] = values.sorted
  val n: Int = values.length
  val counts: Map[Long, Long] = {
    val m = mutable.HashMap.empty[Long, Long]
    items.foreach(i => m(i) = m.getOrElse(i, 0L) + 1L)
    m.toMap
  }
  val distinct: Int = counts.size

  // two-pass central moments
  val mean: Double = values.sum / n
  private val (c2, c3, c4) = {
    var a = 0.0; var b = 0.0; var c = 0.0
    values.foreach { x => val d = x - mean; a += d * d; b += d * d * d; c += d * d * d * d }
    (a, b, c)
  }
  val variance: Double = c2 / n
  val skew: Double = (c3 / n) / math.pow(variance, 1.5)
  val kurt: Double = (c4 / n) / (variance * variance) - 3.0

  /** t-digest quantiles within `atol` of q in q-space: the rank band that
    * the estimate occupies in the exact sorted data must come within atol
    * of q. */
  def checkQuantiles(qs: Seq[Double], est: Seq[Double], atol: Double): Option[String] =
    qs.zip(est).collectFirst {
      case (q, e) if Oracle.qSpaceError(sorted, e, q) > atol =>
        f"quantile q=$q%.3f est=$e%.6f q-space error ${Oracle.qSpaceError(sorted, e, q)}%.4f > $atol"
    }

  /** Space-Saving counters bracket the truth (count - error <= actual <=
    * count), and the first k returned are the exact top-k (ties at the
    * boundary accepted). `counters` is in the sketch's output order. */
  def checkTopK(counters: Seq[(Long, Long, Long)], k: Int): Option[String] = {
    val bad = counters.collectFirst {
      case (item, c, e) if { val a = counts.getOrElse(item, 0L); a > c || a < c - e } =>
        s"item $item count=$c error=$e actual=${counts.getOrElse(item, 0L)}"
    }
    bad.orElse {
      val kk = math.min(k, distinct)
      val kth = counts.values.toArray.sorted(Ordering[Long].reverse)(kk - 1)
      val top = counters.take(kk)
      if (top.size < kk) Some(s"top-$kk returned only ${top.size} items")
      else top.collectFirst {
        case (item, _, _) if counts.getOrElse(item, 0L) < kth =>
          s"top-$kk holds item $item with actual ${counts.getOrElse(item, 0L)} < k-th actual $kth"
      }
    }
  }

  def checkMoments(count: Long, m: Double, v: Double, s: Double, k: Double,
      rtol: Double): Option[String] = {
    if (count != n) Some(s"count $count != $n")
    else Seq(("mean", m, mean), ("var", v, variance), ("skew", s, skew), ("kurt", k, kurt))
      .collectFirst {
        case (name, got, want) if !Oracle.close(got, want, rtol) =>
          s"$name $got != exact $want (rtol $rtol)"
      }
  }

  /** HyperLogLog estimate within 3 standard errors (3 * 1.04 / sqrt(m)). */
  def checkDistinct(est: Double, p: Int): Option[String] = {
    val bound = 3 * 1.04 / math.sqrt((1 << p).toDouble)
    val rel = math.abs(est - distinct) / distinct
    if (rel > bound) Some(f"hll estimate $est%.1f vs exact $distinct: rel error $rel%.4f > $bound%.4f")
    else None
  }
}

object Oracle {
  val QuantileAtol = 0.012
  val MomentsRtol = 1e-9

  def close(got: Double, want: Double, rtol: Double): Boolean =
    math.abs(got - want) <= rtol * math.max(math.abs(want), 1e-300)

  /** |cdf_exact(estimate) - q|, taking the whole rank band of ties. */
  def qSpaceError(sorted: Array[Double], est: Double, q: Double): Double = {
    def firstIdx(pred: Double => Boolean): Int = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (pred(sorted(mid))) lo = mid + 1 else hi = mid }
      lo
    }
    val rankLo = firstIdx(_ < est).toDouble / sorted.length
    val rankHi = firstIdx(_ <= est).toDouble / sorted.length
    if (q < rankLo) rankLo - q else if (q > rankHi) q - rankHi else 0.0
  }
}
