package graft.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graftshim.{AbstractDataType, TypeCollection}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.KmvSketch
import graft.expr.TextHash

/** Value→hash for KMV: deterministic 64-bit, independent of partitioning.
  * Longs/doubles avalanche their bit pattern; strings/binaries hash their
  * bytes (FNV-1a + splitmix finish, same stable kernel as the text ops). */
object KmvHash {
  @inline def ofLong(v: Long): Long = TextHash.avalanche(v ^ 0x9e3779b97f4a7c15L)
  /** SQL DISTINCT semantics: −0.0 ≡ 0.0 (normalize before bit-casting;
    * doubleToLongBits already canonicalizes NaN). */
  @inline def ofDouble(v: Double): Long =
    ofLong(java.lang.Double.doubleToLongBits(if (v == 0.0) 0.0 else v))
  @inline def ofBytes(b: Array[Byte]): Long = TextHash.hashBytes(b, 0, b.length, 0L)

  /** Hash a value of the (routed) type `dataType`, one arm per type. */
  @inline def ofAny(dataType: DataType, v: Any): Long = dataType match {
    case LongType => ofLong(v.asInstanceOf[Long])
    case DoubleType => ofDouble(v.asInstanceOf[Double])
    case BinaryType => ofBytes(v.asInstanceOf[Array[Byte]])
    case _ => ofBytes(v.asInstanceOf[UTF8String].getBytes)
  }

  /** The input type that routes a value to the hash arm matching its SQL
    * distinctness semantics, shared by kmv_agg, hll_agg, cms_agg and
    * cms_count: fractional numerics widen to Double (a TypeCollection
    * would implicit-cast a float/decimal to the FIRST numeric member —
    * LongType — truncating 1.1/1.2/1.9 to one distinct value), integrals
    * widen to Long, strings/binaries stay byte-hashed. */
  def routedType(dataType: DataType): AbstractDataType = dataType match {
    case FloatType | DoubleType | _: DecimalType => DoubleType
    case ByteType | ShortType | IntegerType | LongType => LongType
    case BinaryType => BinaryType
    case StringType => StringType
    case _ => TypeCollection(LongType, DoubleType, StringType, BinaryType)
  }
}

/** kmv_agg(value[, k]) → binary sketch: KMV distinct-value sketch over any
  * atomic column. NULLs are skipped (Spark agg convention); the sketch is
  * EXACT (true distinct count) while under k distinct values. */
case class KmvAgg(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAddAgg[KmvSketch] with BinaryLike[Expression] {

  def this(value: Expression) = this(value, Literal(1024))

  private lazy val k: Int = right.eval().asInstanceOf[Number].intValue()

  override protected def codec = KmvSketch
  override protected def start = new KmvSketch(k)
  override protected def sizeParams = Seq("k" -> right)
  override def inputTypes: Seq[AbstractDataType] = Seq(KmvHash.routedType(left.dataType), IntegerType)
  override def prettyName: String = "kmv_agg"

  override def update(buf: MergeBuffer[KmvSketch], input: InternalRow): MergeBuffer[KmvSketch] = {
    val v = left.eval(input)
    if (v != null) writable(buf).add(KmvHash.ofAny(left.dataType, v))
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): KmvAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KmvAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvAgg =
    copy(left = l, right = r)
}

/** kmv_merge_agg(sketch) → binary: re-aggregates stored KMV sketches
  * (persist → read → union, same shape as tdigest_merge_agg). */
case class KmvMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends DecodeOnceMergeAgg[KmvSketch] {

  override protected def codec = KmvSketch
  override def prettyName: String = "kmv_merge_agg"

  override def withNewMutableAggBufferOffset(n: Int): KmvMergeAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KmvMergeAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): KmvMergeAgg =
    copy(child = c)
}
