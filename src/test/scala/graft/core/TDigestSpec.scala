package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Ports the reference's distribution-parameterized accuracy tests
  * (crick/tests/test_tdigest.py:9-107): quantile error asserted in q-space
  * with atol 0.012, cdf with atol 0.005, plus invariants and edge cases. */
class TDigestSpec extends AnyFunSuite {
  val N = 100000
  private def rng = new Random(42)

  private def distributions: Map[String, Array[Double]] = {
    val r = rng
    def gamma(shape: Double, scale: Double): Double = {
      // Marsaglia-Tsang for shape < 1 via boost
      if (shape < 1) {
        val u = r.nextDouble()
        gammaLarge(shape + 1, scale) * math.pow(u, 1.0 / shape)
      } else gammaLarge(shape, scale)
    }
    def gammaLarge(shape: Double, scale: Double): Double = {
      val d = shape - 1.0 / 3
      val c = 1.0 / math.sqrt(9 * d)
      var res = 0.0
      var done = false
      while (!done) {
        var x = 0.0; var v = 0.0
        do { x = r.nextGaussian(); v = 1 + c * x } while (v <= 0)
        v = v * v * v
        val u = r.nextDouble()
        if (u < 1 - 0.0331 * x * x * x * x ||
            math.log(u) < 0.5 * x * x + d * (1 - v + math.log(v))) {
          res = d * v * scale; done = true
        }
      }
      res
    }
    val seq = Array.tabulate(N)(_ * 1e-5)
    val mixed = (Array.fill(N / 2)(r.nextGaussian() * 1e-5) ++
      Array.fill(N / 2)(r.nextDouble() * 2 - 1))
    val shuffledMixed = r.shuffle(mixed.toSeq).toArray
    val step = Array.tabulate(N)(i => (i / 100).toDouble)
    Map(
      "gamma" -> Array.fill(N)(gamma(0.1, 0.1)),
      "uniform" -> Array.fill(N)(r.nextDouble()),
      "normal_narrow" -> Array.fill(N)(r.nextGaussian() * 1e-5),
      "sequential" -> seq,
      "reverse_sequential" -> seq.reverse,
      "mixed" -> shuffledMixed,
      "step" -> r.shuffle(step.toSeq).toArray,
      "sorted_step" -> step
    )
  }

  private def exactQuantile(sorted: Array[Double], q: Double): Double = {
    // numpy 'linear' interpolation quantile
    val pos = q * (sorted.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

  /** q-space error: |cdf_exact(estimate) - q| (test_tdigest.py:52-69). */
  private def qSpaceError(sorted: Array[Double], est: Double, q: Double): Double = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (sorted(mid) < est) lo = mid + 1 else hi = mid
    }
    var hi2 = sorted.length; var lo2 = lo
    while (lo2 < hi2) {
      val mid = (lo2 + hi2) / 2
      if (sorted(mid) <= est) lo2 = mid + 1 else hi2 = mid
    }
    val rankLo = lo.toDouble / sorted.length
    val rankHi = lo2.toDouble / sorted.length
    if (q < rankLo) rankLo - q
    else if (q > rankHi) q - rankHi
    else 0.0
  }

  val probes = Array(0.001, 0.01, 0.1, 0.3, 0.5, 0.7, 0.9, 0.99, 0.999)

  test("quantile accuracy atol 0.012 in q-space across 8 distributions") {
    distributions.foreach { case (name, xs) =>
      val t = TDigest()
      xs.foreach(t.add(_))
      val sorted = xs.sorted
      probes.foreach { q =>
        val est = t.quantile(q)
        val err = qSpaceError(sorted, est, q)
        assert(err <= 0.012, s"$name q=$q est=$est err=$err")
      }
    }
  }

  test("cdf accuracy atol 0.005 across distributions") {
    distributions.foreach { case (name, xs) =>
      val t = TDigest()
      xs.foreach(t.add(_))
      val sorted = xs.sorted
      probes.foreach { q =>
        val x = exactQuantile(sorted, q)
        val est = t.cdf(x)
        val exact = sorted.count(_ <= x).toDouble / sorted.length
        assert(math.abs(est - exact) <= 0.005, s"$name x=$x est=$est exact=$exact")
      }
    }
  }

  test("invariants: quantiles monotone within [min,max]; cdf within [0,1]") {
    val r = rng
    val xs = Array.fill(10000)(r.nextGaussian())
    val t = TDigest()
    xs.foreach(t.add(_))
    val qs = (0 to 100).map(_ / 100.0).toArray
    val vals = t.quantiles(qs)
    vals.sliding(2).foreach(p => assert(p(0) <= p(1)))
    assert(vals.head >= xs.min && vals.last <= xs.max)
    xs.take(100).foreach { x =>
      val c = t.cdf(x)
      assert(c >= 0 && c <= 1)
    }
  }

  test("edge cases: empty, single, q<=0/q>=1 (test_tdigest.py:129-152)") {
    val empty = TDigest()
    assert(empty.quantile(0.5).isNaN && empty.cdf(1.0).isNaN)
    assert(empty.minOrNaN.isNaN && empty.maxOrNaN.isNaN)
    assert(empty.totalSize == 0)

    val single = TDigest()
    single.add(3.5)
    assert(single.quantile(0.5) == 3.5)
    assert(single.quantile(-1) == 3.5 && single.quantile(2) == 3.5)
    assert(single.cdf(3.4) == 0.0 && single.cdf(3.6) == 1.0 && single.cdf(3.5) == 0.5)

    val t = TDigest()
    Array(1.0, 2.0, 3.0).foreach(t.add(_))
    assert(t.quantile(0) == 1.0 && t.quantile(1) == 3.0)
  }

  test("non-finite x and tiny weights are dropped (tdigest_stubs.c:283-286)") {
    val t = TDigest()
    t.add(Double.NaN); t.add(Double.PositiveInfinity); t.add(Double.NegativeInfinity)
    t.add(1.0, 1e-18) // w <= DBL_EPSILON dropped
    assert(t.totalSize == 0)
    t.add(1.0)
    assert(t.totalSize == 1.0)
  }

  test("merge of split streams within tolerance; min/max folded") {
    val r = rng
    val xs = Array.fill(N)(r.nextDouble())
    val sorted = xs.sorted
    val parts = xs.grouped(N / 8).toArray
    val digests = parts.map { p => val t = TDigest(); p.foreach(t.add(_)); t }
    val merged = TDigest()
    digests.foreach(merged.merge)
    assert(merged.minOrNaN == xs.min && merged.maxOrNaN == xs.max)
    assert(math.abs(merged.totalSize - N) < 1e-6)
    probes.foreach { q =>
      val err = qSpaceError(sorted, merged.quantile(q), q)
      assert(err <= 0.02, s"q=$q err=$err") // merged tree slightly looser
    }
  }

  /** The merge crick runs (tdigest_stubs.c:592-606), rebuilt through the
    * public `add`: the other's centroids re-added one by one, then min and
    * max folded. */
  private def reAddMerge(into: TDigest, other: TDigest): Unit = {
    other.flush()
    if (other.totalWeight != 0) {
      (0 until other.nCentroids).foreach(i => into.add(other.means(i), other.weights(i)))
      if (into.min > other.min) into.min = other.min
      if (into.max < other.max) into.max = other.max
    }
  }

  /** One digest per contiguous part, merged pairwise level by level
    * (balanced) or one after another into the first (left-deep). */
  private def mergeTree(xs: Array[Double], parts: Int, balanced: Boolean,
                        merge: (TDigest, TDigest) => Unit): TDigest = {
    var level = xs.grouped(xs.length / parts).map { p => val t = TDigest(); p.foreach(t.add(_)); t }.toSeq
    if (balanced) {
      while (level.size > 1) level = level.grouped(2).map { g => g.tail.foreach(merge(g.head, _)); g.head }.toSeq
      level.head
    } else {
      level.tail.foreach(merge(level.head, _))
      level.head
    }
  }

  /** Largest quantile (q-space) and cdf errors over the probes. */
  private def errors(t: TDigest, sorted: Array[Double]): (Double, Double) = {
    val qErr = probes.map(q => qSpaceError(sorted, t.quantile(q), q)).max
    val cErr = probes.map { q =>
      val x = exactQuantile(sorted, q)
      math.abs(t.cdf(x) - sorted.count(_ <= x).toDouble / sorted.length)
    }.max
    (qErr, cErr)
  }

  test("merge trees of 2, 16 and 256 parts, balanced and left-deep, stay accurate") {
    var (oldQ, oldC, newQ, newC) = (0.0, 0.0, 0.0, 0.0)
    for ((name, xs) <- distributions; parts <- Seq(2, 16, 256); balanced <- Seq(true, false)) {
      val what = s"$name, $parts parts, ${if (balanced) "balanced" else "left-deep"}"
      val sorted = xs.sorted
      val t = mergeTree(xs, parts, balanced, _.merge(_))
      t.flush()
      assert(t.totalSize == xs.length, what)
      assert(t.minOrNaN == sorted.head && t.maxOrNaN == sorted.last, what)
      assert(t.nCentroids <= 2 * math.ceil(t.compression).toInt, what)
      val (q, c) = errors(t, sorted)
      assert(q <= 0.012, s"$what: quantile error $q")
      assert(c <= 0.005, s"$what: cdf error $c")
      newQ = math.max(newQ, q); newC = math.max(newC, c)
      val (oq, oc) = errors(mergeTree(xs, parts, balanced, reAddMerge), sorted)
      oldQ = math.max(oldQ, oq); oldC = math.max(oldC, oc)
    }
    // single trees move either way; the grid's worst case may not get worse
    assert(newQ <= oldQ, s"quantile: one-pass merge $newQ, re-add merge $oldQ")
    assert(newC <= oldC, s"cdf: one-pass merge $newC, re-add merge $oldC")
  }

  test("merge and mergeSerialized: drops, total weight, min/max and out-of-order runs as add") {
    val other = TDigest()
    (0 until 500).foreach(i => other.add(i * 0.5, 1.0 + i % 3))
    val b = other.serialize()
    val n = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(32)
    def edit(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val c = b.clone(); f(java.nio.ByteBuffer.wrap(c).order(java.nio.ByteOrder.LITTLE_ENDIAN)); c
    }
    // centroid 1 given a NaN mean, centroid 2 an infinite one, centroid 3
    // a weight of DBL_EPSILON; centroids 4 and 5 swapped
    val edited = edit { bb =>
      bb.putDouble(36 + 16, Double.NaN); bb.putDouble(36 + 32, Double.PositiveInfinity)
      bb.putDouble(36 + 48 + 8, TDigest.DblEpsilon)
      val (m4, w4) = (bb.getDouble(36 + 64), bb.getDouble(44 + 64))
      bb.putDouble(36 + 64, bb.getDouble(36 + 80)); bb.putDouble(44 + 64, bb.getDouble(44 + 80))
      bb.putDouble(36 + 80, m4); bb.putDouble(44 + 80, w4)
    }
    val stored = TDigest.deserialize(edited)
    val kept = (0 until n).filterNot(Set(1, 2, 3)).map(stored.weights(_)).sum
    for (into <- Seq(TDigest(), { val t = TDigest(50.0); (0 until 30).foreach(i => t.add(-i.toDouble)); t })) {
      val before = into.totalSize
      val (x, y) = (TDigest.deserialize(into.serialize()), TDigest.deserialize(into.serialize()))
      x.merge(TDigest.deserialize(edited)); y.mergeSerialized(edited)
      assert(x.serialize().toSeq == y.serialize().toSeq)
      assert(x.totalSize == before + kept)
      assert(x.minOrNaN == (if (into.isEmpty) 0.0 else math.min(into.minOrNaN, 0.0)))
      assert(x.maxOrNaN == 249.5)
      assert((1 until x.nCentroids).forall(i => x.means(i - 1) <= x.means(i)), "merged means out of order")
      assert(x.nCentroids <= x.size)
    }
  }

  /** SHA-256 over 400 add-built digests: compression 20 to 1000, whole and
    * fractional weights, empty to 3000 points, queried between adds. */
  private def addBuiltSha: String = {
    val r = new Random(0x7d)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (i <- 0 until 400) {
      val c = Seq(20.0, 37.5, 100.0, 333.0, 1000.0)(i % 5)
      val t = TDigest(c)
      val n = Seq(0, 1, 5, 50, 500, 3000)(i % 6)
      (0 until n).foreach { j =>
        val x = if (i % 7 == 0) r.nextGaussian() else r.nextDouble() * 100
        t.add(x, if (i % 2 == 0) 1.0 + r.nextInt(3) else 0.01 + r.nextDouble() * 3)
        if (j % 997 == 996) t.quantile(0.5)
      }
      md.update(t.serialize())
    }
    md.digest().map("%02x".format(_)).mkString
  }

  // recorded with the flush that ran before flush and merge shared one pass
  test("add-built digests keep their bytes") {
    assert(addBuiltSha == "7757992acf61b1f05093d9a2d450ac21b03768154f7f925e83e1a03d862ed5aa")
  }

  test("scale multiplies weights and drops ~zero centroids (tdigest_stubs.c:609-629)") {
    val t = TDigest()
    (1 to 1000).foreach(i => t.add(i.toDouble))
    val q50 = t.quantile(0.5)
    t.scaleInPlace(2.5)
    assert(math.abs(t.totalSize - 2500.0) < 1e-9)
    assert(math.abs(t.quantile(0.5) - q50) < 1e-9) // scaling preserves shape
    t.scaleInPlace(1e-20) // all weights now <= eps
    assert(t.totalSize == 0.0)
  }

  test("histogram: sums to size, edges exact (tdigest.pyx:165-229)") {
    val r = rng
    val xs = Array.fill(10000)(r.nextDouble() * 100)
    val t = TDigest()
    xs.foreach(t.add(_))
    val edges = t.histogramEdges(20)
    assert(edges.length == 21)
    assert(edges.head == xs.min && edges.last == xs.max)
    val hist = t.histogram(edges)
    assert(math.abs(hist.sum - 10000.0) < 1e-6)
    assert(hist.forall(_ >= -1e-9))
    // degenerate range widened ±0.5
    val one = TDigest(); one.add(7.0)
    val e1 = one.histogramEdges(10)
    assert(e1.head == 6.5 && e1.last == 7.5)
  }

  test("serialization round-trip preserves queries and allows further adds") {
    val r = rng
    val xs = Array.fill(10000)(r.nextGaussian())
    val t = TDigest()
    xs.foreach(t.add(_))
    val bytes = t.serialize()
    val t2 = TDigest.deserialize(bytes)
    probes.foreach(q => assert(t.quantile(q) == t2.quantile(q)))
    assert(t2.serialize().toSeq == bytes.toSeq)
    t2.add(0.0)
    assert(t2.totalSize == t.totalSize + 1)
  }

  test("compression clipping and buffer sizing (tdigest_stubs.c:57-66)") {
    assert(TDigest(5.0).compression == 20.0)
    assert(TDigest(5000.0).compression == 1000.0)
    val t = TDigest(100.0)
    assert(t.size == 200 && t.bufferSize == 42)
  }

  test("fastAsin within 2 ulp of Math.asin across the domain") {
    var i = -100000
    while (i <= 100000) {
      val x = i / 100000.0
      val a = TDigest.fastAsin(x)
      val b = math.asin(x)
      assert(math.abs(a - b) <= 2 * math.ulp(b), s"x=$x: $a vs $b")
      i += 1
    }
    assert(TDigest.fastAsin(1.0) == math.asin(1.0))
    assert(TDigest.fastAsin(-1.0) == math.asin(-1.0))
    assert(TDigest.fastAsin(Double.NaN).isNaN && TDigest.fastAsin(1.5).isNaN)
  }

  /** Stored digests: empty, one centroid, many centroids, an unflushed
    * tail, at the compression bounds 20 and 1000. */
  private def storedDigests: Seq[Array[Byte]] = {
    val r = new Random(9)
    for {
      c <- Seq(20.0, 100.0, 1000.0)
      n <- Seq(0, 1, 7, 3000)
    } yield {
      val t = TDigest(c)
      (0 until n).foreach(_ => t.add(r.nextGaussian() * 5, 1.0 + r.nextInt(4)))
      t.serialize()
    }
  }

  test("serialize(deserialize(b)) == b, empty and one-centroid digests included") {
    storedDigests.foreach { b =>
      assert(TDigest.deserialize(b).serialize().toSeq == b.toSeq)
      assert(TDigest.checkSerialized(b) == TDigest.deserialize(b).nCentroids)
    }
  }

  test("mergeSerialized(b) is byte-identical to merge(deserialize(b))") {
    val bs = storedDigests
    for (a <- bs; b <- bs) {
      val viaDecode = TDigest.deserialize(a)
      viaDecode.merge(TDigest.deserialize(b))
      val viaBytes = TDigest.deserialize(a)
      viaBytes.mergeSerialized(b)
      assert(viaBytes.serialize().toSeq == viaDecode.serialize().toSeq)
    }
    // into a digest with points still in its ingest buffer
    val r = new Random(4)
    val xs = Array.fill(10)(r.nextDouble())
    val (x, y) = (TDigest(), TDigest())
    xs.foreach { v => x.add(v); y.add(v) }
    bs.foreach { b => x.merge(TDigest.deserialize(b)); y.mergeSerialized(b) }
    assert(y.serialize().toSeq == x.serialize().toSeq)
  }

  test("checkSerialized and mergeSerialized reject what deserialize rejects") {
    val good = storedDigests(2)
    val bad = Seq(
      Array[Byte](1, 2, 3),
      good.updated(0, 0.toByte).updated(7, 0.toByte), // compression 0
      good.take(good.length - 1),
      good ++ Array[Byte](0))
    bad.foreach { b =>
      val want = intercept[IllegalArgumentException](TDigest.deserialize(b)).getMessage
      assert(intercept[IllegalArgumentException](TDigest.checkSerialized(b)).getMessage == want)
      assert(intercept[IllegalArgumentException](TDigest().mergeSerialized(b)).getMessage == want)
    }
  }
}
