package graft.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graftshim.{AbstractDataType, TypeCollection}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Hll

/** hll_agg(value[, p]) → binary sketch: HyperLogLog cardinality sketch
  * over any atomic column (default precision p = 12 → 4 KiB registers,
  * ~1.6% standard error). Value hashing is [[KmvHash]]'s arms — the same
  * distinctness semantics as kmv_agg, so the two sketches are
  * drop-in-comparable. NULLs are skipped. */
case class HllAgg(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Hll]
  with BinaryLike[Expression] with ImplicitCastInputTypes {

  def this(value: Expression) = this(value, Literal(12))

  private lazy val p: Int = right.eval().asInstanceOf[Number].intValue()

  override def inputTypes: Seq[AbstractDataType] = {
    val valueType = left.dataType match {
      case FloatType | DoubleType | _: DecimalType => DoubleType
      case ByteType | ShortType | IntegerType | LongType => LongType
      case BinaryType => BinaryType
      case StringType => StringType
      case _ => TypeCollection(LongType, DoubleType, StringType, BinaryType)
    }
    Seq(valueType, IntegerType)
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_agg"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!right.foldable || right.eval() == null)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "precision must be a non-null constant")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): Hll = {
    if (p < 4 || p > 16)
      throw new IllegalArgumentException("precision must be in [4, 16]")
    new Hll(p)
  }

  override def update(buf: Hll, input: InternalRow): Hll = {
    val v = left.eval(input)
    if (v != null) {
      val h = left.dataType match {
        case LongType => KmvHash.ofLong(v.asInstanceOf[Long])
        case DoubleType => KmvHash.ofDouble(v.asInstanceOf[Double])
        case BinaryType => KmvHash.ofBytes(v.asInstanceOf[Array[Byte]])
        case _ => KmvHash.ofBytes(v.asInstanceOf[UTF8String].getBytes)
      }
      buf.add(h)
    }
    buf
  }

  override def merge(b1: Hll, b2: Hll): Hll = { b1.merge(b2); b1 }
  override def eval(buf: Hll): Any = buf.serialize()
  override def serialize(buf: Hll): Array[Byte] = buf.serialize()
  override def deserialize(b: Array[Byte]): Hll = Hll.deserialize(b)

  override def withNewMutableAggBufferOffset(n: Int): HllAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HllAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HllAgg =
    copy(left = l, right = r)
}

/** hll_merge_agg(sketch) → binary: re-aggregates stored HLL sketches
  * (persist → read → union, same shape as kmv_merge_agg). */
case class HllMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends DecodeOnceMergeAgg[Hll] with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "hll_merge_agg"

  // any valid blob re-serializes to itself, and its checks are O(1)
  override protected def admit(b: Array[Byte]): Boolean = { Hll.checkSerialized(b); true }
  override protected def checkHeader(b: Array[Byte]): Unit = Hll.checkSerialized(b)
  override protected def decode(b: Array[Byte]): Hll = Hll.deserialize(b)
  override protected def encode(h: Hll): Array[Byte] = h.serialize()
  override protected def mergeBytes(into: Hll, b: Array[Byte]): Unit = into.mergeSerialized(b)
  override protected def mergeSketch(into: Hll, other: Hll): Unit = into.merge(other)

  override def withNewMutableAggBufferOffset(n: Int): HllMergeAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HllMergeAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): HllMergeAgg =
    copy(child = c)
}
