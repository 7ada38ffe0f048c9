package graft.agg

import graft.core._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, TernaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.{AbstractDataType, TypeCollection}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst aggregate wrappers for the graft sketch kernels.
  *
  * Each sketch follows the monoid contract of the reference
  * (add / merge / serialize, SURVEY.md §0), which is exactly the
  * TypedImperativeAggregate lifecycle: createAggregationBuffer → per-partition
  * update → serialize → shuffle → merge → eval. Spark plans these through
  * ObjectHashAggregateExec with partial aggregation, so per-executor state is
  * O(groups × sketch size) — row-count independent — which is what makes the
  * design hold at 100 TB (SURVEY.md §7.4 item 9). Spill safety comes from the
  * sort-based fallback (spark.sql.objectHashAggregate.sortBased.fallbackThreshold).
  *
  * All twelve sketch aggregates share one buffer lifecycle, [[SketchAgg]]:
  * a [[MergeBuffer]] whose kind's [[graft.core.SketchCodec]] (the kernel's
  * companion object) merges, serializes and deserializes it. An aggregate
  * supplies only `update` and the sketch a group starts from:
  *   - The five merge aggregates over stored sketches ([[DecodeOnceMergeAgg]])
  *     start with none. A group adopts its first sketch's bytes, checked as
  *     decoding would check them but not decoded, and decodes only when a
  *     second sketch arrives, which the codec merges from its bytes.
  *   - The six add aggregates ([[SketchAddAgg]]) and stats_merge_agg start
  *     from the kind's empty sketch and fold everything into it, shuffled
  *     partials included. Adopting a partial would change output bytes:
  *     over 200 random t-digests per size (10, 100 or 1000 values,
  *     compression 20 or 100), `TDigest(c).mergeSerialized(x)` re-encoded
  *     to x for every digest built from whole weights, but for only
  *     17-56 % of those built with fractional weights.
  * Every codec accepts exactly what its encoder writes, so kept bytes are
  * the bytes decode → serialize would return, and output stays
  * byte-identical to decoding every sketch first. A shuffled buffer's
  * deserialize checks only its header.
  *
  * The add aggregates declare their size parameters (compression,
  * capacity, p, k, depth, width) to [[SketchAddAgg]], which checks in one
  * place that each is a non-null constant; the kernels' constructors check
  * their ranges.
  */
object StatsStruct {
  val schema: StructType = StructType(Seq(
    StructField("count", LongType, nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("min", DoubleType, nullable = false),
    StructField("max", DoubleType, nullable = false),
    StructField("m2", DoubleType, nullable = false),
    StructField("m3", DoubleType, nullable = false),
    StructField("m4", DoubleType, nullable = false),
    StructField("homogeneous", BooleanType, nullable = false),
    StructField("first_value", DoubleType, nullable = false)))

  /** A struct with the summary_stats field types in order; names are free. */
  def hasFieldTypes(dt: DataType): Boolean = dt match {
    case s: StructType => s.length == schema.length &&
      s.fields.iterator.zip(schema.fields.iterator).forall { case (a, b) => a.dataType == b.dataType }
    case _ => false
  }

  def toRow(s: MomentsSketch): InternalRow = {
    val r = new GenericInternalRow(9)
    r.setLong(0, s.count); r.setDouble(1, s.sum)
    r.setDouble(2, s.minOrNaN); r.setDouble(3, s.maxOrNaN)
    r.setDouble(4, s.m2); r.setDouble(5, s.m3); r.setDouble(6, s.m4)
    r.setBoolean(7, s.homogeneous); r.setDouble(8, s.firstValue)
    r
  }

  /** The moments kind's checked decode of a stored struct: a NULL field is
    * rejected, the values as [[MomentsSketch.checked]] checks them. An
    * empty struct's min and max (NaN) read as the empty sketch's. */
  def fromRow(r: InternalRow): MomentsSketch = {
    if (r.anyNull) throw new IllegalArgumentException("corrupt summary_stats struct: NULL " +
      schema.fields.indices.filter(r.isNullAt).map(schema(_).name).mkString(", "))
    val count = r.getLong(0)
    MomentsSketch.checked(count, r.getDouble(1),
      if (count == 0L) Double.MaxValue else r.getDouble(2),
      if (count == 0L) Double.NegativeInfinity else r.getDouble(3),
      r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getBoolean(7), r.getDouble(8))
  }
}

/** A sketch aggregate's buffer: empty (both null), a sketch's checked
  * bytes, the decoded sketch, or both while the sketch is unmodified. */
final class MergeBuffer[S >: Null <: AnyRef](var bytes: Array[Byte], var sketch: S) {
  def isEmpty: Boolean = bytes == null && sketch == null
}

/** The one buffer lifecycle of the sketch aggregates (see the file header).
  * `codec` is a def returning the kernel's companion object, so it takes no
  * part in case-class equality or task serialization. */
trait SketchAgg[S >: Null <: AnyRef] extends TypedImperativeAggregate[MergeBuffer[S]] {
  protected def codec: SketchCodec[S]
  /** The sketch a group starts from: the kind's empty sketch, or null for a
    * group that adopts its first stored sketch. */
  protected def start: S

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): MergeBuffer[S] = new MergeBuffer[S](null, start)

  /** The buffer's sketch, decoded from its bytes once. */
  protected def sketch(buf: MergeBuffer[S]): S = {
    if (buf.sketch == null) buf.sketch = codec.deserialize(buf.bytes)
    buf.sketch
  }

  /** The buffer's sketch, to be added or merged into: the kept bytes no
    * longer stand for it. */
  protected def writable(buf: MergeBuffer[S]): S = { val s = sketch(buf); buf.bytes = null; s }

  override def merge(b1: MergeBuffer[S], b2: MergeBuffer[S]): MergeBuffer[S] = {
    if (b1.isEmpty) { b1.bytes = b2.bytes; b1.sketch = b2.sketch }
    else if (b2.sketch != null) codec.mergeSketch(writable(b1), b2.sketch)
    else if (b2.bytes != null) codec.mergeBytes(writable(b1), b2.bytes)
    b1
  }

  /** The buffer's bytes, null when it is empty. */
  private def encoded(buf: MergeBuffer[S]): Array[Byte] =
    if (buf.bytes != null) buf.bytes
    else if (buf.sketch != null) codec.serialize(buf.sketch)
    else null

  override def eval(buf: MergeBuffer[S]): Any = encoded(buf)
  override def serialize(buf: MergeBuffer[S]): Array[Byte] =
    if (buf.isEmpty) Array.emptyByteArray else encoded(buf)
  override def deserialize(b: Array[Byte]): MergeBuffer[S] =
    if (b.isEmpty) createAggregationBuffer()
    else { codec.checkSerialized(b); new MergeBuffer[S](b, null) }
}

/** An aggregate that adds values into a sketch, starting from the kind's
  * empty sketch. */
trait SketchAddAgg[S >: Null <: AnyRef] extends SketchAgg[S] with ImplicitCastInputTypes {
  /** The arguments that size the sketch, by name: analysis rejects any that
    * is not a non-null constant. Each aggregate reads them in a lazy val. */
  protected def sizeParams: Seq[(String, Expression)]

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else sizeParams.collectFirst {
      case (name, e) if !e.foldable || e.eval() == null =>
        TypeCheckResult.TypeCheckFailure(s"$name must be a non-null constant")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }
}

/** summary_stats(x[, count]) → moments struct (reference SummaryStats,
  * crick/stats.pyx; X1–X14 in SURVEY.md §2.3). */
case class SummaryStatsAgg(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAddAgg[MomentsSketch] with BinaryLike[Expression] {

  def this(child: Expression) = this(child, Literal(1L))

  override protected def codec = MomentsSketch
  override protected def start = new MomentsSketch
  override protected def sizeParams = Nil
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, LongType)
  override def dataType: DataType = StatsStruct.schema
  override def prettyName: String = "summary_stats"

  override def update(buf: MergeBuffer[MomentsSketch],
      input: InternalRow): MergeBuffer[MomentsSketch] = {
    val v = left.eval(input)
    if (v != null) {
      val w = right.eval(input)
      if (w != null) {
        val c = w.asInstanceOf[Long]
        if (c <= 0) throw new IllegalArgumentException("count must be > 0")
        writable(buf).add(v.asInstanceOf[Double], c)
      }
    }
    buf
  }

  override def eval(buf: MergeBuffer[MomentsSketch]): Any = StatsStruct.toRow(sketch(buf))

  override def withNewMutableAggBufferOffset(n: Int): SummaryStatsAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SummaryStatsAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SummaryStatsAgg =
    copy(left = l, right = r)
}

/** stats_merge_agg(stats_struct) → moments struct: re-aggregates stored
  * summary_stats structs (partial→final parity; reference merge X5). */
case class StatsMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAgg[MomentsSketch] with UnaryLike[Expression] {

  override protected def codec = MomentsSketch
  override protected def start = new MomentsSketch
  override def dataType: DataType = StatsStruct.schema
  override def prettyName: String = "stats_merge_agg"
  // field types must match exactly — a loose 9-field check would defer
  // the mismatch to a ClassCastException in executors
  override def checkInputDataTypes(): TypeCheckResult =
    if (StatsStruct.hasFieldTypes(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"stats_merge_agg expects a summary_stats struct " +
      s"${StatsStruct.schema.simpleString}, got ${child.dataType.simpleString}")

  override def update(buf: MergeBuffer[MomentsSketch],
      input: InternalRow): MergeBuffer[MomentsSketch] = {
    val v = child.eval(input)
    if (v != null) writable(buf).merge(StatsStruct.fromRow(v.asInstanceOf[InternalRow]))
    buf
  }

  override def eval(buf: MergeBuffer[MomentsSketch]): Any = StatsStruct.toRow(sketch(buf))

  override def withNewMutableAggBufferOffset(n: Int): StatsMergeAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): StatsMergeAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): StatsMergeAgg =
    copy(child = c)
}

/** tdigest(x[, w][, compression]) → serialized t-digest sketch (BinaryType).
  * Reference TDigest construct/add/update (T1–T4, SURVEY.md §2.1). */
case class TDigestAgg(
    first: Expression,
    second: Expression,
    third: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAddAgg[TDigest] with TernaryLike[Expression] {

  def this(child: Expression) = this(child, Literal(1.0), Literal(100.0))
  def this(child: Expression, weight: Expression) = this(child, weight, Literal(100.0))

  private lazy val compression: Double =
    third.eval().asInstanceOf[Number].doubleValue()

  override protected def codec = TDigest
  override protected def start = TDigest(compression)
  override protected def sizeParams = Seq("compression" -> third)
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType, DoubleType)
  override def prettyName: String = "tdigest"

  override def update(buf: MergeBuffer[TDigest], input: InternalRow): MergeBuffer[TDigest] = {
    val v = first.eval(input)
    if (v != null) {
      val w = second.eval(input)
      if (w != null) {
        val wd = w.asInstanceOf[Double]
        // reference contract: w must be finite and > 0 (tdigest.pyx:278-279)
        if (wd <= 0 || java.lang.Double.isInfinite(wd) || java.lang.Double.isNaN(wd))
          throw new IllegalArgumentException("weight must be finite and > 0")
        writable(buf).add(v.asInstanceOf[Double], wd)
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): TDigestAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TDigestAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): TDigestAgg =
    copy(first = f, second = s, third = t)
}

/** A merge aggregate over stored sketches: a group starts with no sketch
  * and adopts its first one (see the file header). */
trait DecodeOnceMergeAgg[S >: Null <: AnyRef] extends SketchAgg[S]
  with UnaryLike[Expression] with ImplicitCastInputTypes {

  override protected def start: S = null
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def nullable: Boolean = true

  override def update(buf: MergeBuffer[S], input: InternalRow): MergeBuffer[S] = {
    val v = child.eval(input)
    if (v != null) {
      val b = v.asInstanceOf[Array[Byte]]
      if (buf.isEmpty) { codec.admit(b); buf.bytes = b }
      else codec.mergeBytes(writable(buf), b)
    }
    buf
  }
}

/** tdigest_merge_agg(sketch_col) → merged sketch: re-aggregates stored
  * t-digest sketch columns (reference merge T11). The result takes the
  * first sketch's compression. */
case class TDigestMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends DecodeOnceMergeAgg[TDigest] {

  override protected def codec = TDigest
  override def prettyName: String = "tdigest_merge_agg"

  override def withNewMutableAggBufferOffset(n: Int): TDigestMergeAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TDigestMergeAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): TDigestMergeAgg =
    copy(child = c)
}

object SpaceSavingAgg {
  /** Each serialized-sketch key-type tag and its SQL item type. */
  private val itemTypes: Map[Byte, DataType] = Map(
    SpaceSaving.TagLong -> LongType, SpaceSaving.TagDouble -> DoubleType,
    SpaceSaving.TagString -> StringType, SpaceSaving.TagBinary -> BinaryType)

  /** The tag of the (implicitly cast) item type. */
  def tagFor(dt: DataType): Byte = itemTypes.collectFirst { case (tag, `dt`) => tag }
    .getOrElse(throw new IllegalArgumentException(s"unsupported item type $dt"))
  /** The item type of a checked sketch's tag. */
  def itemTypeFor(tag: Byte): DataType = itemTypes(tag)
}

/** ss_topk_agg(item[, count][, capacity]) → serialized Space-Saving sketch.
  * Item dtypes mirror the reference's int64 / float64(bit-cast) / object
  * arms (space_saving.pyx:179-198) as Long / Double / String. */
case class SpaceSavingAgg(
    first: Expression,
    second: Expression,
    third: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAddAgg[SpaceSavingBase] with TernaryLike[Expression] {

  def this(item: Expression) = this(item, Literal(1L), Literal(20))
  def this(item: Expression, count: Expression) = this(item, count, Literal(20))

  private lazy val capacity: Int = third.eval().asInstanceOf[Number].intValue()
  private lazy val tag: Byte = SpaceSavingAgg.tagFor(first.dataType)

  override protected def codec = SpaceSaving
  override protected def start = SpaceSaving.empty(tag, capacity)
  override protected def sizeParams = Seq("capacity" -> third)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(LongType, DoubleType, StringType, BinaryType), LongType, IntegerType)
  override def prettyName: String = "ss_topk_agg"

  override def update(buf: MergeBuffer[SpaceSavingBase],
      input: InternalRow): MergeBuffer[SpaceSavingBase] = {
    val v = first.eval(input)
    if (v != null) {
      val w = second.eval(input)
      if (w != null) {
        val c = w.asInstanceOf[Long]
        if (c <= 0) throw new IllegalArgumentException("count must be > 0")
        val s = writable(buf)
        tag match {
          case SpaceSaving.TagLong =>
            s.asInstanceOf[SpaceSavingLong].add(v.asInstanceOf[Long], c)
          case SpaceSaving.TagDouble =>
            s.asInstanceOf[SpaceSavingLong]
              .add(SpaceSaving.doubleKey(v.asInstanceOf[Double]), c)
          case SpaceSaving.TagBinary =>
            s.asInstanceOf[SpaceSavingObj].add(UTF8String.fromBytes(v.asInstanceOf[Array[Byte]]), c)
          case _ =>
            s.asInstanceOf[SpaceSavingObj].add(v.asInstanceOf[UTF8String], c)
        }
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): SpaceSavingAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SpaceSavingAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SpaceSavingAgg =
    copy(first = f, second = s, third = t)
}

/** exact_sum(x) → DoubleType: bit-reproducible distributed sum. The buffer
  * is a [[graft.core.ExactSum]] fixed-point superaccumulator, so the result
  * is the exact total rounded ONCE (ties to even) — identical bits for any
  * input order, partitioning, or merge tree, unlike the built-in `sum`
  * whose value drifts with fp addition order. Null for an empty/all-null
  * group, like stock sum. */
case class ExactSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ExactSum]
  with UnaryLike[Expression] with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "exact_sum"

  override def createAggregationBuffer(): ExactSum = new ExactSum

  override def update(buf: ExactSum, input: InternalRow): ExactSum = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }

  override def merge(b1: ExactSum, b2: ExactSum): ExactSum = {
    b1.merge(b2); b1
  }

  override def eval(buf: ExactSum): Any =
    if (buf.seen == 0L) null else buf.result()
  override def serialize(buf: ExactSum): Array[Byte] = buf.serialize()
  override def deserialize(b: Array[Byte]): ExactSum = ExactSum.deserialize(b)

  override def withNewMutableAggBufferOffset(n: Int): ExactSumAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): ExactSumAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): ExactSumAgg =
    copy(child = c)
}

/** Mutable Gram-moment buffer: per-dim sums + upper-triangle product
  * sums, as superaccumulators (`cells`, exact mode) or plain doubles
  * (`raw`). `d` is fixed by the first vector seen; exactly one of
  * cells/raw is non-null once initialized. */
final class GramBuffer(var d: Int, var n: Long, var cells: Array[ExactSum],
    var raw: Array[Double] = null)

/** gram_agg(vec) → one-pass exact second moments of a uniform-width
  * array<double> column: (n, terms[(i, −1, Σx_i) ++ (i, j≥i, Σx_i·x_j)]).
  *
  * The scan-side-explode formulation of the same moments generates
  * d(d+3)/2 structs PER ROW before the aggregation's map-side combine —
  * correct, but allocation-bound (measured 256 s for 500k×64-dim at
  * local[32]). This aggregate folds every term in place into a single
  * d(d+3)/2-cell ExactSum buffer per partition: no per-row allocation,
  * one buffer per partition ships through the shuffle, and every cell is
  * still a correctly-rounded function of the input multiset —
  * bit-identical results to the explode path under any partitioning.
  *
  * Vectors must share one width (ragged input → IllegalArgumentException;
  * nulls are skipped). Buffer size is d(d+3)/2 superaccumulators —
  * ~1–2 MB at d=64 — per PARTITION (global aggregate), not per group.
  *
  * `exact = false` swaps the superaccumulator cells for plain doubles:
  * the buffer shrinks ~16× (one double per cell — ~2.4 MB at d=768
  * instead of ~130 MB, which at 32 partitions is the difference between
  * 75 MB and 4 GB of aggregation state), at the cost of bit-exactness —
  * results then carry ordinary fp accumulation error (~1e-12 relative on
  * unit-scale embeddings) and can vary in the last ulps across
  * partitionings. Use it at encoder widths (d ≳ 128); the default stays
  * exact. */
case class GramAgg(
    child: Expression,
    exact: Boolean = true,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GramBuffer]
  with UnaryLike[Expression] with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("terms", ArrayType(StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("s", DoubleType, nullable = false)))), nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "gram_agg"

  private def nCells(d: Int): Int = d + d * (d + 1) / 2

  override def createAggregationBuffer(): GramBuffer =
    new GramBuffer(-1, 0L, null)

  private def init(buf: GramBuffer, d: Int): Unit = {
    buf.d = d
    if (exact) buf.cells = Array.fill(nCells(d))(new ExactSum)
    else buf.raw = new Array[Double](nCells(d))
  }

  override def update(buf: GramBuffer, input: InternalRow): GramBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toDoubleArray()
      if (x.length > 0) {
        if (buf.d == -1) init(buf, x.length)
        require(x.length == buf.d,
          s"gram_agg: ragged vector widths (${x.length} vs ${buf.d})")
        val d = buf.d
        var i = 0
        var tri = d
        if (exact) {
          val cells = buf.cells
          while (i < d) {
            cells(i).add(x(i))
            var j = i
            while (j < d) { cells(tri).add(x(i) * x(j)); tri += 1; j += 1 }
            i += 1
          }
        } else {
          val raw = buf.raw
          while (i < d) {
            raw(i) += x(i)
            var j = i
            while (j < d) { raw(tri) += x(i) * x(j); tri += 1; j += 1 }
            i += 1
          }
        }
        buf.n += 1
      }
    }
    buf
  }

  override def merge(b1: GramBuffer, b2: GramBuffer): GramBuffer = {
    if (b2.d == -1) b1
    else if (b1.d == -1) b2
    else {
      require(b1.d == b2.d,
        s"gram_agg: ragged vector widths (${b1.d} vs ${b2.d})")
      var k = 0
      if (exact)
        while (k < b1.cells.length) { b1.cells(k).merge(b2.cells(k)); k += 1 }
      else
        while (k < b1.raw.length) { b1.raw(k) += b2.raw(k); k += 1 }
      b1.n += b2.n
      b1
    }
  }

  override def eval(buf: GramBuffer): Any = {
    val out = new GenericInternalRow(2)
    out.setLong(0, buf.n)
    if (buf.d == -1) {
      out.update(1, new GenericArrayData(Array.empty[Any]))
    } else {
      val d = buf.d
      def cell(k: Int): Double =
        if (exact) buf.cells(k).result() else buf.raw(k)
      val terms = new Array[Any](nCells(d))
      var i = 0
      while (i < d) {
        val r = new GenericInternalRow(3)
        r.setInt(0, i); r.setInt(1, -1)
        r.setDouble(2, cell(i))
        terms(i) = r
        i += 1
      }
      var tri = d
      i = 0
      while (i < d) {
        var j = i
        while (j < d) {
          val r = new GenericInternalRow(3)
          r.setInt(0, i); r.setInt(1, j)
          r.setDouble(2, cell(tri))
          terms(tri) = r
          tri += 1; j += 1
        }
        i += 1
      }
      out.update(1, new GenericArrayData(terms))
    }
    out
  }

  override def serialize(buf: GramBuffer): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.d)
    if (buf.d != -1) {
      out.writeLong(buf.n)
      var k = 0
      if (exact) {
        while (k < buf.cells.length) {
          val b = buf.cells(k).serialize()
          out.writeInt(b.length); out.write(b)
          k += 1
        }
      } else {
        while (k < buf.raw.length) { out.writeDouble(buf.raw(k)); k += 1 }
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): GramBuffer = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val d = in.readInt()
    if (d == -1) new GramBuffer(-1, 0L, null)
    else {
      val n = in.readLong()
      if (exact) {
        val cells = Array.tabulate(nCells(d)) { _ =>
          val len = in.readInt()
          val b = new Array[Byte](len)
          in.readFully(b)
          ExactSum.deserialize(b)
        }
        new GramBuffer(d, n, cells)
      } else {
        val raw = Array.tabulate(nCells(d))(_ => in.readDouble())
        new GramBuffer(d, n, null, raw)
      }
    }
  }

  override def withNewMutableAggBufferOffset(n: Int): GramAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): GramAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): GramAgg =
    copy(child = c)
}

/** Mutable per-component exact-sum buffer: width fixed by the first
  * vector seen. */
final class VecSumBuffer(var d: Int, var n: Long, var cells: Array[ExactSum])

/** vec_exact_sum(vec) → array<double>: per-component bit-reproducible sums
  * of a uniform-width array<double> column.
  *
  * The d-separate-`exact_sum` formulation of the same reduction pays d
  * typed-imperative buffers, d serialization round-trips per partial, and
  * d expression evaluations of aggregate plumbing per row; this folds the
  * whole vector in place into ONE buffer per partition (d
  * superaccumulators, ~16 KB at d=64) — the gradient/centroid shape of
  * iterative fits. Each component is still correctly rounded, so results
  * are bit-identical to the d-aggregate path under any partitioning.
  *
  * Vectors must share one width (ragged input → IllegalArgumentException);
  * null rows are skipped; an empty/all-null group yields NULL. */
case class VecExactSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecSumBuffer]
  with UnaryLike[Expression] with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_exact_sum"

  override def createAggregationBuffer(): VecSumBuffer =
    new VecSumBuffer(-1, 0L, null)

  override def update(buf: VecSumBuffer, input: InternalRow): VecSumBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toDoubleArray()
      if (buf.d == -1) {
        buf.d = x.length
        buf.cells = Array.fill(x.length)(new ExactSum)
      }
      require(x.length == buf.d,
        s"vec_exact_sum: ragged vector widths (${x.length} vs ${buf.d})")
      var i = 0
      while (i < buf.d) { buf.cells(i).add(x(i)); i += 1 }
      buf.n += 1
    }
    buf
  }

  override def merge(b1: VecSumBuffer, b2: VecSumBuffer): VecSumBuffer = {
    if (b2.d == -1) b1
    else if (b1.d == -1) b2
    else {
      require(b1.d == b2.d,
        s"vec_exact_sum: ragged vector widths (${b1.d} vs ${b2.d})")
      var k = 0
      while (k < b1.cells.length) { b1.cells(k).merge(b2.cells(k)); k += 1 }
      b1.n += b2.n
      b1
    }
  }

  override def eval(buf: VecSumBuffer): Any =
    if (buf.d == -1) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      buf.cells.map(_.result()))

  override def serialize(buf: VecSumBuffer): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.d)
    if (buf.d != -1) {
      out.writeLong(buf.n)
      var k = 0
      while (k < buf.cells.length) {
        val b = buf.cells(k).serialize()
        out.writeInt(b.length); out.write(b)
        k += 1
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecSumBuffer = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val d = in.readInt()
    if (d == -1) new VecSumBuffer(-1, 0L, null)
    else {
      val n = in.readLong()
      val cells = Array.tabulate(d) { _ =>
        val len = in.readInt()
        val b = new Array[Byte](len)
        in.readFully(b)
        ExactSum.deserialize(b)
      }
      new VecSumBuffer(d, n, cells)
    }
  }

  override def withNewMutableAggBufferOffset(n: Int): VecExactSumAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): VecExactSumAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): VecExactSumAgg =
    copy(child = c)
}

/** ss_merge_agg(sketch_col) → merged Space-Saving sketch (Cafaro merge S8)
  * over any of the four key types. */
case class SpaceSavingMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends DecodeOnceMergeAgg[SpaceSavingBase] {

  override protected def codec: SketchCodec[SpaceSavingBase] = SpaceSaving
  override def prettyName: String = "ss_merge_agg"

  override def withNewMutableAggBufferOffset(n: Int): SpaceSavingMergeAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SpaceSavingMergeAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): SpaceSavingMergeAgg =
    copy(child = c)
}
