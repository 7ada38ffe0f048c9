package graft.core

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007, 64-bit-hash
  * variant) — the industry-standard cardinality estimator: m = 2^p byte
  * registers, standard error ≈ 1.04/√m, merge = per-register max (a
  * commutative idempotent monoid, so distributed aggregation is exact
  * with respect to the sketch state).
  *
  * Complements [[KmvSketch]]: KMV is exact below k and supports set
  * algebra (union/intersection estimates); HLL holds the same accuracy
  * with ~8× less state at large cardinalities and constant-time updates —
  * the right default for per-group distinct counts over billions of keys.
  *
  * Determinism: the register array after any sequence of adds/merges is a
  * pure function of the hash SET — independent of order, partitioning, or
  * merge shape. The estimator is evaluated once at read time; its
  * harmonic sum is over at most m exact powers of two, so cross-engine
  * recomputations agree to ~1 ulp (gate-rounded).
  *
  * Bucketing: top p hash bits pick the register; ρ = leading-zero count
  * of the remaining 64−p bits + 1 (all-zero remainder → 64−p+1). The
  * 64-bit regime needs no large-range correction; below 2.5m with empty
  * registers the linear-counting estimate applies (standard practice). */
final class Hll private (val p: Int, val registers: Array[Byte]) {
  def this(p: Int) = this(p, new Array[Byte](1 << Hll.checkPrecision(p)))

  def m: Int = 1 << p

  def add(hash: Long): Unit = {
    val idx = (hash >>> (64 - p)).toInt
    val w = hash << p
    val rho =
      if (w == 0L) (64 - p + 1) else java.lang.Long.numberOfLeadingZeros(w) + 1
    if (rho > registers(idx)) registers(idx) = rho.toByte
  }

  def merge(o: Hll): Unit = {
    require(o.p == p, s"precision mismatch ($p vs ${o.p})")
    var i = 0
    while (i < registers.length) {
      if (o.registers(i) > registers(i)) registers(i) = o.registers(i)
      i += 1
    }
  }

  /** `merge(Hll.deserialize(bytes))`, reading the registers in place. */
  def mergeSerialized(bytes: Array[Byte]): Unit = {
    Hll.checkSerialized(bytes)
    val op = bytes(0).toInt
    require(op == p, s"precision mismatch ($p vs $op)")
    var i = 0
    while (i < registers.length) {
      val r = bytes(i + 1)
      if (r > registers(i)) registers(i) = r
      i += 1
    }
  }

  /** Registers with ρ > 0 — the linear-counting occupancy. */
  def nonzero: Int = Hll.nonzero(registers, 0, m)

  def estimate: Double = Hll.estimate(registers, 0, m)

  def serialize(): Array[Byte] = {
    val out = new Array[Byte](1 + registers.length)
    out(0) = p.toByte
    System.arraycopy(registers, 0, out, 1, registers.length)
    out
  }

  def copy(): Hll = new Hll(p, registers.clone())
}

object Hll extends SketchCodec[Hll] {
  /** 2^-r for every register byte r (negative bytes included), indexed by
    * `r & 0xFF`: the estimator's harmonic-sum terms, bit-for-bit. */
  private val InversePow2: Array[Double] =
    Array.tabulate(256)(i => java.lang.Math.pow(2.0, -i.toByte.toDouble))

  /** Registers with ρ > 0 among the m registers at `from`: a sketch's own
    * array, or a blob's after its precision byte. */
  private def nonzero(regs: Array[Byte], from: Int, m: Int): Int = {
    var n = 0
    var i = from
    while (i < from + m) { if (regs(i) != 0) n += 1; i += 1 }
    n
  }

  /** The estimate over the m registers at `from`. */
  private def estimate(regs: Array[Byte], from: Int, m: Int): Double = {
    val mm = m.toDouble
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / mm)
    }
    var sum = 0.0
    var i = from
    while (i < from + m) {
      sum += InversePow2(regs(i) & 0xFF)
      i += 1
    }
    val raw = alpha * mm * mm / sum
    val zeros = m - nonzero(regs, from, m)
    if (raw <= 2.5 * mm && zeros > 0) mm * math.log(mm / zeros) else raw
  }

  /** `deserialize(bytes).estimate`, reading the registers in place. */
  def estimate(bytes: Array[Byte]): Double = estimate(bytes, 1, checkSerialized(bytes))

  /** `deserialize(bytes).nonzero`, reading the registers in place. */
  def nonzero(bytes: Array[Byte]): Int = nonzero(bytes, 1, checkSerialized(bytes))

  /** `p` once it is in [4, 16], checked before the registers are allocated. */
  private def checkPrecision(p: Int): Int = {
    require(p >= 4 && p <= 16, "precision must be in [4, 16]")
    p
  }

  /** Precision byte and length; any blob that passes re-serializes to
    * itself. */
  override def checkSerialized(bytes: Array[Byte]): Int = {
    require(bytes.length >= 1, "empty HLL blob")
    val p = bytes(0).toInt
    require(p >= 4 && p <= 16, s"corrupt HLL blob (p=$p)")
    require(bytes.length == 1 + (1 << p),
      s"corrupt HLL blob (${bytes.length} bytes for p=$p)")
    1 << p
  }

  override def deserialize(bytes: Array[Byte]): Hll = {
    val regs = new Array[Byte](checkSerialized(bytes))
    System.arraycopy(bytes, 1, regs, 0, regs.length)
    new Hll(bytes(0), regs)
  }

  override def serialize(h: Hll): Array[Byte] = h.serialize()
  override def mergeBytes(into: Hll, bytes: Array[Byte]): Unit = into.mergeSerialized(bytes)
  override def mergeSketch(into: Hll, other: Hll): Unit = into.merge(other)
}
