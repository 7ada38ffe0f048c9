package graft.agg

import graft.SparkTestBase
import graft.api.{functions => gf}
import graft.core._
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import graft.expr._
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GetStructField, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.{toColumn, toExpr}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.util.{Failure, Random, Success, Try}

/** Seeded mutation property over the six sketch codecs: valid sketches of
  * every kind are truncated, extended, bit-flipped, have their length
  * fields inflated and (Space-Saving, KMV) their entries written back to
  * front or (moments) their min and max swapped; the three blobs that once
  * killed an executor ride along byte for byte, with hand-built
  * out-of-order and impossible ones. Each codec accepts exactly what its
  * encoder writes: every blob either re-encodes to itself, byte for byte,
  * or is rejected with an IllegalArgumentException naming the kind, and
  * the codec's other entry points (and the Space-Saving, t-digest and HLL
  * finishers, which read a blob in place) agree with it. The same inputs of the
  * five stored byte kinds then run through each merge aggregate (one- and
  * two-sketch groups) and each finisher in SQL; moments are stored as a
  * struct, which has tests of its own. */
class SketchCodecPropSpec extends SparkTestBase {
  import spark.implicits._

  /** A length field: byte offset, width (1 or 4) and byte order. */
  private case class Field(offset: Int, width: Int, bigEndian: Boolean = false)

  /** A stored kind's SQL: its merge aggregate and finishers. */
  private case class Sql(mergeAgg: Column => Column, finishers: (Column, Array[Byte]) => Seq[Column])

  private case class Kind(word: String, codec: SketchCodec[_ >: Null <: AnyRef],
      valid: Seq[Array[Byte]], fields: Array[Byte] => Seq[Field], sql: Option[Sql])

  private val r0 = new Random(0x5eed)

  private def tdigests: Seq[Array[Byte]] = Seq(TDigest(), TDigest(20.0), TDigest(), TDigest(300.0))
    .zipWithIndex.map { case (t, i) =>
      (0 until Seq(0, 1, 50, 700)(i)).foreach(_ => t.add(r0.nextGaussian(), 1.0 + r0.nextInt(3)))
      t.serialize()
    }

  private def spaceSavings: Seq[Array[Byte]] = {
    val long = new SpaceSavingLong(16)
    (0 until 200).foreach(_ => long.add(r0.nextInt(40).toLong))
    val dbl = new SpaceSavingLong(8, SpaceSaving.TagDouble)
    (0 until 50).foreach(_ => dbl.add(SpaceSaving.doubleKey(r0.nextInt(12) * 0.5)))
    val str = new SpaceSavingObj(8)
    (0 until 60).foreach(_ => str.add(UTF8String.fromString(s"key${r0.nextInt(15)}")))
    val bin = new SpaceSavingObj(4, SpaceSaving.TagBinary)
    (0 until 20).foreach(_ => bin.add(UTF8String.fromBytes(Array.fill(3)(r0.nextInt(4).toByte))))
    Seq(long, dbl, str, bin, new SpaceSavingLong(5)).map(SpaceSaving.serialize)
  }

  private def hlls: Seq[Array[Byte]] = Seq(4, 6, 8).map { p =>
    val h = new Hll(p)
    (0 until 30 * p).foreach(_ => h.add(r0.nextLong()))
    h.serialize()
  }

  private def kmvs: Seq[Array[Byte]] = Seq((8, 40), (32, 20), (4, 0)).map { case (k, n) =>
    val s = new KmvSketch(k)
    (0 until n).foreach(_ => s.add(r0.nextLong()))
    s.serialize()
  }

  private def cmss: Seq[Array[Byte]] = Seq((1, 2), (3, 64)).map { case (d, w) =>
    val c = new CountMin(d, w)
    (0 until 100).foreach(_ => c.add(r0.nextInt(30).toLong))
    c.serialize()
  }

  /** Empty, NaN-only, one value, Gaussian, infinite, near-constant (1e9 plus
    * noise near its ulp), and weighted. */
  private def momentss: Seq[Array[Byte]] = Seq[Seq[(Double, Long)]](
    Nil, Seq((Double.NaN, 1L)), Seq((2.5, 1L)), Seq.fill(100)((r0.nextGaussian(), 1L)),
    Seq((1.0, 1L), (Double.PositiveInfinity, 1L), (-3.0, 1L)),
    Seq.fill(20)((1e9 + r0.nextGaussian() * 1e-7, 1L)),
    Seq.fill(10)((r0.nextGaussian(), 1L + r0.nextInt(1000)))).map { xs =>
    val m = new MomentsSketch
    xs.foreach { case (x, c) => m.add(x, c) }
    m.serialize()
  }

  /** A moments blob with sum and m3 zero. */
  private def momentsBlob(count: Long, min: Double, max: Double, m2: Double, m4: Double,
      homogeneity: Byte = 0): Array[Byte] =
    ByteBuffer.allocate(65).order(ByteOrder.LITTLE_ENDIAN).putLong(count).putDouble(0.0)
      .putDouble(min).putDouble(max).putDouble(m2).putDouble(0.0).putDouble(m4)
      .put(homogeneity).putDouble(min).array()

  private def le(b: Array[Byte]) = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)

  private lazy val kinds: Seq[Kind] = Seq(
    Kind("t-digest", TDigest, tdigests, _ => Seq(Field(32, 4)), Some(Sql(gf.tdigest_merge_agg,
      (s, _) => Seq(gf.tdigest_quantile(s, 0.5), gf.tdigest_quantiles(s, Seq(0.1, 0.9)),
        gf.tdigest_cdf(s, lit(0.0)), gf.tdigest_cdfs(s, array(lit(0.0), lit(1.0))),
        gf.tdigest_histogram(s, 4), gf.tdigest_histogram_at(s, array(lit(-1.0), lit(1.0))),
        gf.tdigest_scale(s, 2.0), gf.tdigest_centroids(s), gf.tdigest_size(s),
        gf.tdigest_min(s), gf.tdigest_max(s))))),
    Kind("space-saving", SpaceSaving, spaceSavings,
      b => Seq(Field(1, 4), Field(5, 4)) ++
        (if (b(0) >= SpaceSaving.TagString && le(b).getInt(5) > 0) Seq(Field(9, 4)) else Nil),
      Some(Sql(gf.ss_merge_agg,
      (s, b) => Seq(gf.ss_size(s), gf.ss_capacity(s)) ++ (b.headOption.getOrElse(0) match {
        case SpaceSaving.TagLong => Seq(gf.ss_topk_long(s, 3), gf.ss_counters_long(s))
        case SpaceSaving.TagDouble => Seq(gf.ss_topk_double(s, 3), gf.ss_counters_double(s))
        case SpaceSaving.TagString => Seq(gf.ss_topk_string(s, 3), gf.ss_counters_string(s))
        case _ => Seq(gf.ss_topk_binary(s, 3), gf.ss_counters_binary(s))
      })))),
    Kind("HLL", Hll, hlls, _ => Seq(Field(0, 1)), Some(Sql(gf.hll_merge_agg,
      (s, _) => Seq(gf.hll_distinct(s), gf.hll_nonzero(s), gf.hll_register_xor(s),
        gf.hll_union(s, s), gf.hll_intersect_est(s, s))))),
    Kind("KMV", KmvSketch, kmvs, _ => Seq(Field(0, 4), Field(4, 4)), Some(Sql(gf.kmv_merge_agg,
      (s, _) => Seq(gf.kmv_distinct(s), gf.kmv_size(s), gf.kmv_jaccard(s, s),
        gf.kmv_set_ops(s, s))))),
    Kind("CMS", CountMin, cmss, _ => Seq(Field(1, 4, bigEndian = true),
      Field(5, 4, bigEndian = true)), Some(Sql(gf.cms_merge_agg,
      (s, _) => Seq(gf.cms_count(s, lit(7L)), gf.cms_total(s), gf.cms_dot(s, s))))),
    // the count's high word (so -1 makes it negative) and the homogeneity byte
    Kind("summary_stats", MomentsSketch, momentss, _ => Seq(Field(4, 4), Field(56, 1)), None))

  /** Little-endian header ints followed by little-endian longs. */
  private def leBlob(head: Array[Byte], ints: Seq[Int], longs: Seq[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(head.length + 4 * ints.size + 8 * longs.size).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(head); ints.foreach(bb.putInt); longs.foreach(bb.putLong)
    bb.array()
  }

  /** An object-arm Space-Saving blob of capacity 8 over string items. */
  private def stringBlob(counters: Seq[(String, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(9 + counters.map(20 + _._1.length).sum).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(SpaceSaving.TagString).putInt(8).putInt(counters.size)
    counters.foreach { case (item, count) => bb.putInt(item.length).put(item.getBytes).putLong(count).putLong(0L) }
    bb.array()
  }

  /** The blobs that ran an executor out of memory or off the end of its
    * buffer before the decoders bounded their allocations, then blobs no
    * encoder writes that decoders once accepted and re-sorted. */
  private val probes: Map[String, Seq[Array[Byte]]] = Map(
    // [tag 1][capacity 2^31-1][size 0]; then counters (item, count, error)
    // out of list order: count ascending, and error descending in a tie;
    // then a repeated item alone, with trailing bytes, before an order
    // fault (the duplicate is reported) and after one (the fault is)
    "space-saving" -> Seq(Array[Byte](1, -1, -1, -1, 127, 0, 0, 0, 0),
      leBlob(Array(SpaceSaving.TagLong), Seq(8, 2), Seq(1L, 1L, 0L, 2L, 5L, 0L)),
      leBlob(Array(SpaceSaving.TagLong), Seq(8, 2), Seq(1L, 5L, 2L, 2L, 5L, 1L)),
      leBlob(Array(SpaceSaving.TagLong), Seq(8, 2), Seq(7L, 5L, 0L, 7L, 3L, 0L)),
      stringBlob(Seq("a" -> 5L, "a" -> 3L)) :+ 0.toByte,
      leBlob(Array(SpaceSaving.TagLong), Seq(8, 3), Seq(7L, 5L, 0L, 7L, 3L, 0L, 9L, 4L, 0L)),
      leBlob(Array(SpaceSaving.TagLong), Seq(8, 3), Seq(1L, 5L, 0L, 2L, 6L, 0L, 1L, 4L, 0L))),
    // magic, depth 16, width 2^24, total 0
    "CMS" -> Seq(Array[Byte](0x43, 0, 0, 0, 16, 1, 0, 0, 0) ++ new Array[Byte](8)),
    // too short; then n > k; a repeated hash; hashes out of unsigned order
    "KMV" -> Seq(Array[Byte](1, 2, 3), leBlob(Array.empty, Seq(2, 3), Seq(1L, 2L, 3L)),
      leBlob(Array.empty, Seq(4, 2), Seq(7L, 7L)), leBlob(Array.empty, Seq(4, 2), Seq(-1L, 1L))),
    // count -5 with min > max and m2 < 0, which merged silently once; then
    // each alone: a negative count, min > max beside a positive count,
    // m2 < 0; m4 < 0; a homogeneity byte of 2; 64 and 66 bytes
    "summary_stats" -> Seq(momentsBlob(-5, 3.0, 1.0, -2.0, 1.0),
      momentsBlob(-1, Double.MaxValue, Double.NegativeInfinity, 0.0, 0.0),
      momentsBlob(3, 3.0, 1.0, 2.0, 2.0), momentsBlob(3, 1.0, 3.0, -2.0, 2.0),
      momentsBlob(3, 1.0, 3.0, 2.0, -1.0), momentsBlob(3, 1.0, 3.0, 2.0, 2.0, homogeneity = 2),
      momentsBlob(3, 1.0, 3.0, 2.0, 2.0).take(64), momentsBlob(3, 1.0, 3.0, 2.0, 2.0) :+ 0.toByte))

  /** A Space-Saving or KMV blob with its entries (counters or hashes)
    * written back to front; a moments blob with min and max swapped. */
  private def reversed(k: Kind, b: Array[Byte]): Seq[Array[Byte]] = {
    val (header, ends) = k.word match {
      case "summary_stats" => return Seq(b.take(16) ++ b.slice(24, 32) ++ b.slice(16, 24) ++ b.drop(32))
      case "KMV" => (8, (8 to b.length by 8).drop(1))
      case "space-saving" if b(0) >= SpaceSaving.TagString =>
        (9, Iterator.iterate(9)(o => o + 20 + le(b).getInt(o)).drop(1).take(le(b).getInt(5)).toSeq)
      case "space-saving" => (9, (9 to b.length by 24).drop(1))
      case _ => return Nil
    }
    val entries = (header +: ends).zip(ends).map { case (from, to) => b.slice(from, to) }
    if (entries.size < 2) Nil else Seq(b.take(header) ++ entries.reverse.flatten)
  }

  private def setField(b: Array[Byte], f: Field, v: Int): Array[Byte] = {
    val out = b.clone()
    if (f.width == 1) out(f.offset) = v.toByte
    else ByteBuffer.wrap(out).order(if (f.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      .putInt(f.offset, v)
    out
  }

  private def fieldValue(b: Array[Byte], f: Field): Int =
    if (f.width == 1) b(f.offset).toInt
    else ByteBuffer.wrap(b).order(if (f.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      .getInt(f.offset)

  /** Seeded mutations of every valid sketch of a kind, then its probes. */
  private def mutations(k: Kind): Seq[Array[Byte]] = {
    val r = new Random(k.word.hashCode)
    k.valid.flatMap { b =>
      val truncated = Seq(0, 1, b.length / 2, b.length - 1).distinct.filter(_ < b.length).map(b.take)
      val extended = Seq(b :+ 0.toByte, b ++ Array.fill[Byte](24)(1))
      val flipped = (0 until 8).map { _ =>
        val out = b.clone()
        (0 to r.nextInt(3)).foreach { _ =>
          val i = r.nextInt(out.length)
          out(i) = (out(i) ^ (1 << r.nextInt(8))).toByte
        }
        out
      }
      val inflated = k.fields(b).flatMap { f =>
        val v = fieldValue(b, f)
        val values = if (f.width == 1) Seq(v + 1, 17, 31, 127, -1)
                     else Seq(v + 1, 2 * v + 1, -1, 1 << 20, (1 << 20) + 1, 1 << 24, Int.MaxValue)
        values.map(setField(b, f, _))
      }
      truncated ++ extended ++ flipped ++ inflated ++ reversed(k, b)
    } ++ probes.getOrElse(k.word, Nil)
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private def rejects(k: Kind, e: Throwable): Boolean = e match {
    case e: IllegalArgumentException => e.getMessage.contains(k.word)
    case _ => false
  }

  private def roundTrip[S >: Null <: AnyRef](c: SketchCodec[S], b: Array[Byte]): Array[Byte] =
    c.serialize(c.deserialize(b))

  /** mergeBytes(into, b) and mergeSketch(into, deserialize(b)) into a fresh
    * decode of `into`: the merged bytes, or the IllegalArgumentException. */
  private def mergeBoth[S >: Null <: AnyRef](c: SketchCodec[S], into: Array[Byte],
      b: Array[Byte]): (Try[Seq[Byte]], Try[Seq[Byte]]) = {
    def run(f: S => Unit): Try[Seq[Byte]] = Try { val s = c.deserialize(into); f(s); c.serialize(s).toSeq }
    (run(c.mergeBytes(_, b)), run(s => c.mergeSketch(s, c.deserialize(b))))
  }

  /** The Space-Saving finishers on a blob, evaluated in place: ss_topk
    * (k = 3 and every counter) as (item, count, error) rows, ss_size and
    * ss_capacity, each as its value or its failure. */
  private def ssFinishers(b: Array[Byte]): Seq[Try[Any]] = {
    val t = if (b.nonEmpty && b(0) >= 0 && b(0) <= 3) SpaceSavingAgg.itemTypeFor(b(0)) else LongType
    def rows(k: Int) = SSTopK(Literal(b), Literal(k), t).eval().asInstanceOf[ArrayData]
      .toObjectArray(SSTopK(Literal(b), Literal(k), t).dataType.asInstanceOf[ArrayType].elementType)
      .map { case r: InternalRow => (item(r.get(0, t)), r.getLong(1), r.getLong(2)) }.toSeq
    Seq(Try(rows(3)), Try(rows(Int.MaxValue)), Try(SSSize(Literal(b)).eval()), Try(SSCapacity(Literal(b)).eval()))
  }

  private def item(x: Any): Any = x match {
    case a: Array[Byte] => a.toSeq
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  /** What the finishers read from a decoded sketch. */
  private def ssDecoded(s: SpaceSavingBase): Seq[Any] = {
    def rows(k: Int) = s.topkSlots(k).toSeq.map { p =>
      val it = s match {
        case l: SpaceSavingLong => l.items(p)
        case o: SpaceSavingObj => if (s.tag == SpaceSaving.TagBinary) o.items(p).getBytes.toSeq else o.items(p)
      }
      (it, s.counts(p), s.errors(p))
    }
    Seq(rows(3), rows(Int.MaxValue), s.size, s.capacity)
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)
  private def bits(xs: Array[Double]): Seq[Long] = xs.toSeq.map(bits)

  private val centroidType = TDigestCentroids(Literal(Array.emptyByteArray)).dataType
    .asInstanceOf[ArrayType].elementType

  /** Probes: quantiles, cdf points and histogram edges. */
  private case class TdProbes(qs: Array[Double], xs: Array[Double], edges: Array[Double])

  private val fixedProbes = TdProbes(
    Array(Double.NaN, -1.0, 0.0, 1e-9, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0, 2.0),
    Array(Double.NaN, Double.NegativeInfinity, -3.0, -1.0, -0.0, 0.0, 0.5, 1.0, 2.5, Double.PositiveInfinity),
    Array(-3.0, -1.0, 0.0, 0.5, 2.0, 10.0))

  /** The fixed probes plus, for a digest, every centroid's mean, the points
    * between neighbours, min and max and beyond, and the quantile at each
    * centroid's mid-weight. */
  private def probesFor(t: TDigest): TdProbes = {
    val n = t.nCentroids
    val means = t.means.take(n)
    val mids = means.indices.map(i => t.weights.take(i).sum + t.weights(i) / 2.0)
    val between = means.zip(means.drop(1)).map { case (a, b) => a + (b - a) / 3 }
    TdProbes(fixedProbes.qs ++ mids.map(_ / t.totalWeight),
      fixedProbes.xs ++ means ++ between ++ Seq(t.min, t.max, t.min - 1, t.max + 1), fixedProbes.edges)
  }

  /** Every t-digest finisher on a blob, evaluated in place (a constant
    * probe array and a per-row one alike), each as its bits or its failure. */
  private def tdFinishers(b: Array[Byte], p: TdProbes): Seq[Try[Any]] = {
    val s = Literal(b)
    def doubles(e: Expression, row: InternalRow = null) = bits(e.eval(row).asInstanceOf[ArrayData].toDoubleArray())
    def perRow(f: (Expression, Expression) => Expression, xs: Array[Double]) =
      doubles(f(s, BoundReference(0, ArrayType(DoubleType), nullable = false)),
        InternalRow(new GenericArrayData(xs)))
    Seq(
      Try(p.qs.toSeq.map(q => bits(TDigestQuantile(s, Literal(q)).eval().asInstanceOf[Double]))),
      Try(doubles(TDigestQuantiles(s, Literal(p.qs)))), Try(perRow(TDigestQuantiles, p.qs)),
      Try(p.xs.toSeq.map(x => bits(TDigestCdf(s, Literal(x)).eval().asInstanceOf[Double]))),
      Try(doubles(TDigestCdfs(s, Literal(p.xs)))), Try(perRow(TDigestCdfs, p.xs)),
      Try(Seq(1, 3, 8).map { n =>
        val r = TDigestHistogram(s, Literal(n)).eval().asInstanceOf[InternalRow]
        (bits(r.getArray(0).toDoubleArray()), bits(r.getArray(1).toDoubleArray()))
      }),
      Try(doubles(TDigestHistogramAt(s, Literal(p.edges)))), Try(perRow(TDigestHistogramAt, p.edges)),
      Try(TDigestCentroids(s).eval().asInstanceOf[ArrayData].toObjectArray(centroidType).toSeq
        .map { case r: InternalRow => (bits(r.getDouble(0)), bits(r.getDouble(1))) }),
      Try(Seq("size", "min", "max").map(st => bits(TDigestStat(s, st).eval().asInstanceOf[Double]))))
  }

  /** What the t-digest finishers read by decoding the digest and querying
    * it with the prep-pass queries ([[FinisherReference.Prepped]]). */
  private def tdDecoded(t: TDigest, p: TdProbes): Seq[Any] = {
    val r = new FinisherReference.Prepped(t)
    val orNaN = (x: Double) => if (t.totalWeight > 0) x else Double.NaN
    Seq(bits(p.qs.map(r.quantile)), bits(p.qs.map(r.quantile)), bits(p.qs.map(r.quantile)),
      bits(p.xs.map(r.cdf)), bits(p.xs.map(r.cdf)), bits(p.xs.map(r.cdf)),
      Seq(1, 3, 8).map { n => val e = r.histogramEdges(n); (bits(r.histogram(e)), bits(e)) },
      bits(r.histogram(p.edges)), bits(r.histogram(p.edges)),
      (0 until t.nCentroids).map(i => (bits(t.means(i)), bits(t.weights(i)))),
      Seq(bits(t.totalWeight + t.bufferedWeight), bits(orNaN(t.min)), bits(orNaN(t.max))))
  }

  private def hllFinishers(b: Array[Byte]): Seq[Try[Any]] =
    Seq(Try(bits(HllDistinct(Literal(b)).eval().asInstanceOf[Double])), Try(HllNonzero(Literal(b)).eval()))

  private def hllDecoded(h: Hll): Seq[Any] =
    Seq(bits(FinisherReference.hllEstimate(h.registers)), h.registers.count(_ != 0))

  /** The finishers that read a kind's blob in place, with what they read
    * by decoding it; None for the kinds whose finishers decode. */
  private def inPlace(k: Kind, b: Array[Byte]): Option[(Seq[Try[Any]], () => Seq[Any])] = k.word match {
    case "space-saving" => Some((ssFinishers(b), () => ssDecoded(SpaceSaving.deserialize(b))))
    case "t-digest" =>
      val t = Try(TDigest.deserialize(b))
      val p = t.map(probesFor).getOrElse(fixedProbes)
      Some((tdFinishers(b, p), () => tdDecoded(t.get, p)))
    case "HLL" => Some((hllFinishers(b), () => hllDecoded(Hll.deserialize(b))))
    case _ => None
  }

  test("kernels: every mutated blob round-trips or is rejected naming its kind") {
    for (k <- kinds; b <- mutations(k)) {
      val what = s"${k.word} blob ${b.take(40).mkString(",")} (${b.length} bytes)"
      Try(roundTrip(k.codec, b)) match {
        case Success(out) =>
          assert(out.toSeq == b.toSeq, s"$what: accepted bytes do not re-encode to themselves")
          assert(k.codec.checkSerialized(b) >= 0)
          k.codec.admit(b)
          inPlace(k, b).foreach { case (got, decoded) =>
            assert(got.map(_.get) == decoded(), s"$what: finishers differ") }
        case Failure(e) =>
          assert(rejects(k, e), s"$what: $e")
          assert(intercept[IllegalArgumentException](k.codec.admit(b)).getMessage == e.getMessage, what)
          inPlace(k, b).foreach(_._1.foreach(f => assert(f.failed.toOption.exists(t =>
            t.isInstanceOf[IllegalArgumentException] && t.getMessage == e.getMessage), s"$what: finishers fail differently")))
      }
      for (into <- k.valid) {
        val (viaBytes, viaSketch) = mergeBoth(k.codec, into, b)
        assert(viaBytes.toOption == viaSketch.toOption, s"$what: mergeBytes differs")
        assert(viaBytes.failed.map(_.getMessage).toOption == viaSketch.failed.map(_.getMessage).toOption,
          s"$what: mergeBytes fails differently")
        Seq(viaBytes, viaSketch).foreach {
          case Failure(e) => assert(e.isInstanceOf[IllegalArgumentException], s"$what: $e")
          case _ =>
        }
      }
    }
    // every probe is a blob no encoder writes: rejected, even where it
    // would re-encode to itself
    for (k <- kinds; b <- probes.getOrElse(k.word, Nil))
      assert(Try(k.codec.deserialize(b)).failed.toOption.exists(rejects(k, _)),
        s"${k.word} probe ${b.mkString(",")} accepted")
    // a Space-Saving blob with several faults reports the first in counter
    // order, a duplicate among the counters read before an order fault
    assert(probes("space-saving").takeRight(4).map(b =>
      Try(SpaceSaving.deserialize(b)).failed.get.getMessage.stripPrefix("requirement failed: ")) ==
      Seq.fill(3)("corrupt space-saving sketch: duplicate items found") :+
        "corrupt space-saving sketch: counter 1 out of list order")
  }

  test("t-digest and HLL finishers read random blobs as decoding and querying them did, bit for bit") {
    val r = new Random(0x7d1935)
    val digests = (0 until 240).map { i =>
      val t = TDigest(Seq(20.0, 50.0, 100.0, 300.0, 1000.0)(i % 5))
      val n = Seq(0, 1, 2, 3, 10, 100, 1000, 5000)(r.nextInt(8))
      // few distinct values give runs of equal means
      val distinct = if (r.nextBoolean()) 1 + r.nextInt(6) else 0
      (0 until n).foreach { _ =>
        val x = if (distinct > 0) r.nextInt(distinct).toDouble else r.nextGaussian() * math.pow(10, r.nextInt(7) - 3)
        t.add(x, if (r.nextBoolean()) 1.0 else 0.25 + r.nextDouble() * 4)
      }
      if (i % 7 == 0) { val o = TDigest(t.compression); (0 until 50).foreach(_ => o.add(r.nextGaussian())); t.merge(o) }
      t.serialize()
    }
    val tdKind = kinds.find(_.word == "t-digest").get
    for (b <- digests) {
      val (got, decoded) = inPlace(tdKind, b).get
      assert(got.map(_.get) == decoded(), s"t-digest of ${b.length} bytes")
    }
    val hllKind = kinds.find(_.word == "HLL").get
    for (p <- 4 to 16; fill <- Seq(0, 1, 10, 3 << p)) {
      val h = new Hll(p)
      (0 until fill).foreach(_ => h.add(r.nextLong()))
      val (got, decoded) = inPlace(hllKind, h.serialize()).get
      assert(got.map(_.get) == decoded(), s"HLL p=$p after $fill adds")
    }
  }

  test("t-digest: impossible weights and bounds are rejected alike by every entry point") {
    val t = TDigest(); (0 until 300).foreach(i => t.add(i % 17 * 1.5, 1.0 + i % 3))
    val good = t.serialize()
    val n = le(good).getInt(32)
    def edit(f: ByteBuffer => Unit): Array[Byte] = { val b = good.clone(); f(le(b)); b }
    val lastWeight = 36 + 16 * (n - 1) + 8
    val rejected = Seq(
      "first weight NaN" -> edit(_.putDouble(44, Double.NaN)),
      "last weight 0" -> edit(_.putDouble(lastWeight, 0.0)),
      "weight -0.0" -> edit(_.putDouble(44, -0.0)),
      "negative weight" -> edit(_.putDouble(60, -2.0)),
      "total NaN" -> edit(_.putDouble(24, Double.NaN)),
      "negative total" -> edit(_.putDouble(24, -1.0)),
      "min > max" -> edit { bb => bb.putDouble(8, 5.0); bb.putDouble(16, 4.0) })
    for ((what, b) <- rejected) {
      val e = intercept[IllegalArgumentException](TDigest.deserialize(b))
      assert(e.getMessage.contains("corrupt t-digest sketch"), s"$what: ${e.getMessage}")
      assert(intercept[IllegalArgumentException](TDigest.admit(b)).getMessage == e.getMessage, what)
      assert(intercept[IllegalArgumentException](TDigest().mergeSerialized(b)).getMessage ==
        e.getMessage, what)
    }
    // rounding and weight overflow let the encoder write these, so they decode
    val empty = TDigest().serialize()
    val accepted = Seq(
      "means out of order" -> edit { bb =>
        val m0 = bb.getDouble(36); bb.putDouble(36, bb.getDouble(52)); bb.putDouble(52, m0) },
      "mean outside [min, max]" -> edit(_.putDouble(36, -1e9)),
      "total != sum of weights" -> edit(_.putDouble(24, 1.0)),
      "infinite weight and total" -> edit { bb =>
        bb.putDouble(44, Double.PositiveInfinity); bb.putDouble(24, Double.PositiveInfinity) },
      "empty with min > max" -> empty)
    for ((what, b) <- accepted) {
      TDigest.admit(b)
      assert(TDigest.deserialize(b).serialize().toSeq == b.toSeq, what)
    }
  }

  /** A query that must fail with an IllegalArgumentException naming the
    * kind, or with `message` when one is given. */
  private def assertRejected(k: Kind, what: String, message: Option[String])(q: => Any): Unit = {
    val e = intercept[Exception](q)
    assert(causes(e).exists(t => message.fold(rejects(k, t))(m =>
      t.isInstanceOf[IllegalArgumentException] && t.getMessage == m)),
      s"$what: ${causes(e).map(_.toString).mkString(" | ")}")
  }

  /** Every input of a kind, sampled down to at most `n` rejected ones. */
  private def sqlInputs(k: Kind, n: Int): Seq[Array[Byte]] = {
    val (ok, bad) = mutations(k).partition(b => Try(k.codec.deserialize(b)).isSuccess)
    val keep = probes.getOrElse(k.word, Nil).map(_.toSeq).toSet
    ok ++ new Random(7).shuffle(bad.filterNot(b => keep(b.toSeq))).take(n) ++
      bad.filter(b => keep(b.toSeq))
  }

  test("SQL: merge aggregates over mutated sketches, one- and two-sketch groups") {
    for (k <- kinds; sql <- k.sql) {
      val partner = k.valid.head
      // (group, rows in order, expected output or the kernel's error)
      val cases = sqlInputs(k, 10).zipWithIndex.flatMap { case (b, i) =>
        val one = Try(roundTrip(k.codec, b).toSeq)
        val two = mergeBoth(k.codec, partner, b)._1
        Seq((2 * i, Seq(b), one), (2 * i + 1, Seq(partner, b), two))
      }
      val (good, bad) = cases.partition(_._3.isSuccess)
      val got = good.flatMap { case (g, bs, _) => bs.map(b => (g, b)) }.toDF("g", "b").coalesce(1)
        .groupBy("g").agg(sql.mergeAgg(col("b")).as("m")).collect()
        .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      good.foreach { case (g, bs, want) =>
        assert(got(g) == want.get, s"${k.word}: group of ${bs.size} differs from the kernel")
      }
      bad.foreach { case (g, bs, err) =>
        assertRejected(k, s"${k.word} merge of ${bs.size}", Some(err.failed.get.getMessage)) {
          bs.map(b => (g, b)).toDF("g", "b").coalesce(1).groupBy("g").agg(sql.mergeAgg(col("b"))).collect()
        }
      }
    }
  }

  test("SQL: finishers over mutated sketches succeed or reject naming the kind") {
    for (k <- kinds; sql <- k.sql) {
      val (ok, bad) = sqlInputs(k, 10).partition(b => Try(k.codec.deserialize(b)).isSuccess)
      // one query per leading byte: Space-Saving's ss_topk variant follows the tag
      ok.groupBy(_.head).values.foreach { bs =>
        val cols = sql.finishers(col("s"), bs.head)
        val rows = bs.map(Tuple1(_)).toDF("s").select(cols: _*).collect()
        assert(rows.length == bs.length)
      }
      bad.foreach { b =>
        assertRejected(k, s"${k.word} finishers on ${b.length} bytes", None) {
          Seq(Tuple1(b)).toDF("s").select(sql.finishers(col("s"), b): _*).collect()
        }
      }
    }
  }

  /** A summary_stats struct in SQL: `edits` replace fields' SQL values. */
  private def statsStruct(edits: (String, String)*): String = {
    val valid = Seq("count" -> "3", "sum" -> "6", "min" -> "1", "max" -> "3", "m2" -> "2",
      "m3" -> "0", "m4" -> "2", "homogeneous" -> "false", "first_value" -> "1")
    val fields = StatsStruct.schema.fields.zip(valid).map { case (f, (name, v)) =>
      s"'$name', CAST(${edits.toMap.getOrElse(name, v)} AS ${f.dataType.sql})"
    }
    fields.mkString("named_struct(", ", ", ")")
  }

  test("summary_stats structs: stats_merge_agg rejects NULL fields and impossible values") {
    val cases = Seq(
      Seq("count" -> "-5", "min" -> "3", "max" -> "1", "m2" -> "-2") -> "count -5",
      Seq("min" -> "3", "max" -> "1") -> "min 3.0, max 1.0",
      Seq("min" -> "'NaN'") -> "min NaN",
      Seq("m2" -> "-2") -> "m2 -2.0",
      Seq("m4" -> "-1e-300") -> "m4 -1.0E-300") ++
      StatsStruct.schema.fieldNames.map(f => Seq(f -> "NULL") -> s"struct: NULL $f")
    for ((edits, message) <- cases; order <- Seq(true, false)) {
      val (a, b) = (statsStruct(), statsStruct(edits: _*))
      val (first, second) = if (order) (a, b) else (b, a)
      val e = intercept[Exception](spark.sql(
        s"SELECT stats_merge_agg(s) FROM (SELECT $first AS s UNION ALL SELECT $second AS s)").collect())
      assert(causes(e).exists(t => t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains("corrupt summary_stats") && t.getMessage.contains(message)),
        s"$edits: ${causes(e).map(_.toString).mkString(" | ")}")
    }
  }

  /** A summary_stats struct as a Row: count 3, sum 6, min 1, max 3, m2 2,
    * m3 0, m4 2, not homogeneous, with `edits` replacing fields. */
  private def statsRow(edits: (String, Any)*): Row = {
    val valid = Seq[Any](3L, 6.0, 1.0, 3.0, 2.0, 0.0, 2.0, false, 1.0)
    Row.fromSeq(StatsStruct.schema.fieldNames.toSeq.zip(valid).map { case (f, v) => edits.toMap.getOrElse(f, v) })
  }

  private val nullableStats = StructType(StatsStruct.schema.fields.map(_.copy(nullable = true)))

  /** Rows of structs as a frame no optimizer rule evaluates at planning. */
  private def statsFrame(structs: Row*) =
    spark.createDataFrame(java.util.Arrays.asList(structs.map(Row(_)): _*),
      StructType(Seq(StructField("s", nullableStats)))).repartition(1)

  private val statsFinishers: Seq[(String, Column => Column)] = Seq(
    "stats_count" -> gf.stats_count, "stats_sum" -> gf.stats_sum, "stats_min" -> gf.stats_min,
    "stats_max" -> gf.stats_max, "stats_mean" -> gf.stats_mean,
    "stats_var" -> (gf.stats_var(_, 1)), "stats_std" -> (gf.stats_std(_, 0)),
    "stats_skew" -> (gf.stats_skew(_, false)), "stats_kurt" -> (gf.stats_kurt(_, true, false)))

  /** Whole-stage codegen, and interpreted projections. */
  private def bothPaths(f: => Unit): Unit =
    for ((wholeStage, mode) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN"))) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try f finally {
        spark.conf.unset("spark.sql.codegen.wholeStage"); spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }

  test("stats finishers reject what stats_merge_agg rejects, checking once per finisher") {
    val cases = Seq(
      Seq("count" -> -5L, "min" -> 3.0, "max" -> 1.0, "m2" -> -2.0) -> "count -5",
      Seq("min" -> 3.0, "max" -> 1.0) -> "min 3.0, max 1.0",
      Seq("min" -> Double.NaN) -> "min NaN",
      Seq("m2" -> -2.0) -> "m2 -2.0",
      Seq("m4" -> -1e-300) -> "m4 -1.0E-300") ++
      StatsStruct.schema.fieldNames.map(f => Seq(f -> null) -> s"struct: NULL $f")
    bothPaths {
      for ((edits, message) <- cases; (name, f) <- statsFinishers) {
        val e = intercept[Exception](statsFrame(statsRow(edits: _*)).select(f(col("s"))).collect())
        assert(causes(e).exists(t => t.isInstanceOf[IllegalArgumentException] &&
          t.getMessage.contains("corrupt summary_stats") && t.getMessage.contains(message)),
          s"$name $edits: ${causes(e).map(_.toString).mkString(" | ")}")
      }
      // a valid struct reads as the kernel's formulas read it, a NULL one as NULL
      val m = StatsStruct.fromRow(InternalRow.fromSeq(statsRow().toSeq))
      val got = statsFrame(statsRow(), null).select(statsFinishers.map { case (_, f) => f(col("s")) }: _*)
        .collect()
      assert(got(0).toSeq == Seq(3L, 6.0, 1.0, 3.0, m.mean, m.variance(1), m.stddev(0), m.skew(false),
        m.kurt(true, false)))
      assert(got(1).toSeq.forall(_ == null))
    }
    // SQL too; and each finisher is one node, the struct's one checked
    // read: nothing else in the plan reads a field of it
    assert(Try(spark.sql(s"SELECT stats_kurt(s) FROM (SELECT ${statsStruct("m4" -> "-1")} AS s)").collect())
      .failed.toOption.exists(causes(_).exists(_.getMessage.contains("corrupt summary_stats"))))
    for ((name, f) <- statsFinishers) {
      val plan = statsFrame(statsRow()).select(f(col("s"))).queryExecution.analyzed
      assert(plan.expressions.map(_.collect { case c: StatsFinisher => c }.size).sum == 1, name)
      assert(plan.expressions.forall(_.collect { case g: GetStructField => g }.isEmpty), name)
    }
  }

  /** Every stats finisher variant: its name, the node, and its Catalyst
    * formula tree ([[FinisherReference.StatsTrees]]). Each is built when called, under the session's ANSI mode. */
  private def statsVariants: Seq[(String, Expression => Expression, Expression => Expression)] = {
    import FinisherReference.StatsTrees
    Seq("count", "sum", "min", "max").map(f =>
      (f, (e: Expression) => StatsFinisher(e, f), (e: Expression) => StatsTrees.field(e, f))) ++
      Seq(("mean", StatsFinisher(_: Expression, "mean"), StatsTrees.mean _)) ++
      Seq(0, 1, 2, 5, -1, Int.MinValue).flatMap(d => Seq(
        (s"var ddof $d", StatsFinisher(_: Expression, "var", d), StatsTrees.variance(_: Expression, d)),
        (s"std ddof $d", StatsFinisher(_: Expression, "std", d), StatsTrees.std(_: Expression, d)))) ++
      Seq(true, false).map(b =>
        (s"skew bias $b", StatsFinisher(_: Expression, "skew", bias = b), StatsTrees.skew(_: Expression, b))) ++
      (for (f <- Seq(true, false); b <- Seq(true, false)) yield (s"kurt fisher $f bias $b",
        StatsFinisher(_: Expression, "kurt", bias = b, fisher = f), StatsTrees.kurt(_: Expression, f, b)))
  }

  /** Structs in one partition, scanned from an RDD: no exchange, and no
    * optimizer rule evaluates a projection over them at planning. */
  private def scannedStats(structs: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(structs.map(Row(_)), 1),
      StructType(Seq(StructField("s", nullableStats))))

  /** A cell as comparable bits, or the condition of the error it raised. */
  private def outcome(c: => Any): Any = Try(c) match {
    case Success(d: Double) => bits(d)
    case Success(v) => v
    case Failure(e) => causes(e).collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
      .getOrElse(e.toString)
  }

  test("stats finishers: each node computes the bits and raises the errors of the Catalyst formula trees") {
    val r = new Random(0x57a7)
    // encoder outputs: Gaussian at random scales, NaNs and infinities mixed
    // in, near-constant, constant, weighted, and counts 1-5 (= ddof)
    val input = (0 until 3000).map { i =>
      val g = i % 75
      val x = g % 5 match {
        case 0 => r.nextGaussian() * math.pow(10, r.nextInt(12) - 6)
        case 1 => if (r.nextInt(8) == 0) Double.NaN else if (r.nextInt(40) == 0) Double.PositiveInfinity else r.nextGaussian()
        case 2 => 1e9 + r.nextGaussian() * 1e-7
        case 3 => 42.0
        case _ => r.nextGaussian()
      }
      (g, x, if (r.nextBoolean()) 1L else 1L + r.nextInt(1000))
    } ++ (1 to 5).flatMap(n => (0 until n).map(j => (100 + n, j * 1.5, 1L)))
    val encoded = input.toDF("g", "x", "c").groupBy("g").agg(gf.summary_stats(col("x"), col("c")).as("s"))
      .collect().map(_.getStruct(1)).toSeq
    val nan = Double.NaN
    // hand-built structs the checked read accepts: empty, NaN and infinite
    // moments, negative zeros, m2 zero beside a spread; then those whose
    // formulas divide by zero or overflow under ANSI mode (count 0 beside a
    // spread, an m2 whose powers underflow, a count that n - ddof overflows)
    val valid = encoded ++ Seq(
      statsRow("count" -> 0L, "sum" -> 0.0, "min" -> nan, "max" -> nan, "m2" -> 0.0, "m4" -> 0.0,
        "homogeneous" -> true, "first_value" -> 0.0),
      statsRow("m2" -> nan, "m3" -> nan, "m4" -> nan), statsRow("m2" -> Double.PositiveInfinity),
      statsRow("m3" -> Double.NegativeInfinity), statsRow("sum" -> Double.PositiveInfinity),
      statsRow("m2" -> -0.0, "m4" -> -0.0), statsRow("m2" -> 0.0), statsRow("count" -> 4L, "m2" -> 0.0),
      statsRow("count" -> 5L, "m2" -> 1e-100, "m4" -> 1e-200))
    val failing = Seq(statsRow("count" -> 0L), statsRow("m2" -> 1e-300, "m4" -> 0.0),
      statsRow("count" -> Long.MaxValue))
    val variants = statsVariants
    for (ansi <- Seq(true, false)) {
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      try {
        val s = toExpr(col("s"))
        val nodes = variants.map(v => toColumn(v._2(s)))
        val trees = variants.map(v => toColumn(v._3(s)))
        bothPaths {
          // without ANSI mode nothing fails: the failing structs read as NULL or wrap
          val bulk = if (ansi) valid else valid ++ failing
          val rows = scannedStats(bulk).select(nodes ++ trees: _*).collect()
          for ((row, st) <- rows.zip(bulk); i <- variants.indices)
            assert(outcome(row.get(i)) == outcome(row.get(i + variants.size)), s"${variants(i)._1} ansi=$ansi $st")
          if (ansi) for (st <- failing; i <- variants.indices) {
            def cell(c: Column) = outcome(scannedStats(Seq(st)).select(c).collect()(0).get(0))
            assert(cell(nodes(i)) == cell(trees(i)), s"${variants(i)._1} $st")
          }
        }
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    }
    // the failing structs fail with each kind of error somewhere
    val errors = failing.flatMap(st => variants.map(v =>
      outcome(scannedStats(Seq(st)).select(toColumn(v._2(toExpr(col("s"))))).collect()(0).get(0))))
    assert(errors.contains("DIVIDE_BY_ZERO") && errors.contains("ARITHMETIC_OVERFLOW"), errors.distinct)
    // a projection of finishers alone stays in whole-stage codegen
    val df = scannedStats(valid).select(gf.stats_mean(col("s")), gf.stats_kurt(col("s")))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined && !plan.contains("CodegenFallback"), plan)
  }

  /** The unchecked decode structs once had: the fields as they are, NaN
    * bounds as the empty sketch's. */
  private def unchecked(r: Row): MomentsSketch = {
    val m = new MomentsSketch
    m.count = r.getLong(0); m.sum = r.getDouble(1)
    m.min = if (r.getDouble(2).isNaN) Double.MaxValue else r.getDouble(2)
    m.max = if (r.getDouble(3).isNaN) Double.NegativeInfinity else r.getDouble(3)
    m.m2 = r.getDouble(4); m.m3 = r.getDouble(5); m.m4 = r.getDouble(6)
    m.homogeneous = r.getBoolean(7); m.firstValue = r.getDouble(8)
    m
  }

  private def structBits(r: Row): Seq[Long] = Seq(r.getLong(0)) ++
    (1 to 6).map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i))) ++
    Seq(if (r.getBoolean(7)) 1L else 0L, java.lang.Double.doubleToRawLongBits(r.getDouble(8)))

  test("summary_stats: every output is accepted and merges to the bits of the unchecked fold") {
    val r = new Random(0x57a75)
    // each group draws from one mode: Gaussian at a random scale, NaNs mixed
    // in, one infinity, near-constant (1e9 plus noise near its ulp), all NaN,
    // constant; weights up to 1000
    val input = (0 until 4000).map { i =>
      val g = i % 60
      val x = g % 6 match {
        case 0 => r.nextGaussian() * math.pow(10, r.nextInt(12) - 6)
        case 1 => if (r.nextInt(10) == 0) Double.NaN else r.nextGaussian()
        case 2 => if (i / 60 == 7) (if (g % 12 == 2) Double.PositiveInfinity else Double.NegativeInfinity)
                  else r.nextGaussian()
        case 3 => 1e9 + r.nextGaussian() * 1e-7
        case 4 => Double.NaN
        case _ => 42.0
      }
      (g, x, if (r.nextBoolean()) 1L else 1L + r.nextInt(1000))
    }
    val stored = input.toDF("g", "x", "c").repartition(3)
      .groupBy("g").agg(gf.summary_stats(col("x"), col("c")).as("s")).orderBy("g").collect()
    assert(stored.length == 60)
    // every output decodes, and the decode is the unchecked one
    stored.foreach { row =>
      val s = row.getStruct(1)
      assert(StatsStruct.fromRow(InternalRow.fromSeq(s.toSeq)).serialize().toSeq ==
        unchecked(s).serialize().toSeq)
    }
    // merged in one partition in g order: each partial folds from the empty
    // sketch, and the final stage merges it into the empty sketch again
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("s", StatsStruct.schema)))
    val rows = stored.map(row => Row(row.getInt(0) % 4, row.getStruct(1))).toSeq
    val got = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
      .groupBy("k").agg(gf.stats_merge_agg(col("s"))).collect()
      .map(row => row.getInt(0) -> structBits(row.getStruct(1))).toMap
    (0 until 4).foreach { k =>
      val partial = new MomentsSketch
      rows.filter(_.getInt(0) == k).foreach(row => partial.merge(unchecked(row.getStruct(1))))
      val fin = new MomentsSketch
      fin.merge(partial)
      assert(got(k) == structBits(Row.fromSeq(StatsStruct.toRow(fin).toSeq(StatsStruct.schema))), s"k=$k")
    }
  }

  test("summary_stats: a count that would overflow is rejected, not wrapped") {
    val big = Long.MaxValue / 2 + 1
    def overflows(q: => Any): Unit = {
      val e = intercept[Exception](q)
      assert(causes(e).exists(t => t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains("summary_stats count overflows")), causes(e).mkString(" | "))
    }
    val df = Seq((0, 1.0, big), (1, 2.0, big)).toDF("g", "x", "c")
    overflows(df.coalesce(1).agg(gf.summary_stats(col("x"), col("c"))).collect())
    // a merge of two large partials
    overflows(df.groupBy("g").agg(gf.summary_stats(col("x"), col("c")).as("s"))
      .agg(gf.stats_merge_agg(col("s"))).collect())
    val m = new MomentsSketch
    m.add(1.0, big)
    val before = m.serialize().toSeq
    intercept[IllegalArgumentException](m.add(2.0, big))
    assert(m.count == big && m.serialize().toSeq.take(56) == before.take(56))
  }
}
