package graftbench

import java.util.SplittableRandom

/** The one seeded generator every workload draws its inputs from.
  *
  * `stream` splits the seed, so chunk `i` of a workload can be regenerated
  * on its own: a Spark task writing chunk `i` and the in-process oracle
  * reading chunk `i` see identical rows. */
final class Gen(seed: Long, stream: Long) {
  private val rng = new SplittableRandom(Gen.mix(Gen.mix(seed) ^ stream))

  def uniform(): Double = rng.nextDouble()
  def below(n: Int): Int = rng.nextInt(n)

  /** Gamma(shape, scale), Marsaglia–Tsang; shape >= 1. */
  def gamma(shape: Double, scale: Double): Double = {
    val d = shape - 1.0 / 3.0
    val c = 1.0 / math.sqrt(9.0 * d)
    var out = Double.NaN
    while (out.isNaN) {
      val x = rng.nextGaussian()
      val v0 = 1.0 + c * x
      if (v0 > 0) {
        val v = v0 * v0 * v0
        val u = rng.nextDouble()
        if (math.log(u) < 0.5 * x * x + d - d * v + d * math.log(v)) out = d * v * scale
      }
    }
    out
  }
}

object Gen {
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
}

/** Keys 0 until `cardinality` drawn with Zipf skew `skew` (0 = uniform),
  * by inverse CDF on a precomputed table. The two knobs every workload
  * exposes: how many distinct keys, and how concentrated they are. */
final class Keys(val cardinality: Int, val skew: Double) extends Serializable {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(cardinality)(i => math.pow(i + 1.0, -skew))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def draw(g: Gen): Int = {
    val u = g.uniform()
    var lo = 0
    var hi = cardinality - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}
