package graft.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.graftshim.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.CountMin

/** Key→i64 for CMS bucketing: integrals use the raw value (the bucket mix
  * avalanches), fractionals bit-cast (−0.0 ≡ 0.0), strings/binaries
  * byte-hash — same arms and kernels as [[KmvHash]]/Hash64, so the DuckDB
  * oracle mirrors every arm. */
object CmsKey {
  @inline def ofAny(dataType: DataType, v: Any): Long = dataType match {
    case LongType => v.asInstanceOf[Long]
    case DoubleType => doubleKey(v.asInstanceOf[Double])
    case BinaryType => binaryKey(v.asInstanceOf[Array[Byte]])
    case _ => utf8Key(v.asInstanceOf[UTF8String])
  }

  // per-arm kernels, also called from generated code (CmsCount.doGenCode)
  @inline def doubleKey(d: Double): Long =
    java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
  @inline def binaryKey(b: Array[Byte]): Long =
    graft.expr.TextHash.hashBytes(b, 0, b.length, 0L)
  @inline def utf8Key(s: UTF8String): Long = binaryKey(s.getBytes)
}

/** cms_agg(item[, depth, width]) → binary sketch: Count-Min frequency
  * sketch over any atomic column. NULLs are skipped. */
case class CountMinAgg(
    first: Expression,
    second: Expression,
    third: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAddAgg[CountMin] with TernaryLike[Expression] {

  def this(item: Expression, depth: Expression, width: Expression) =
    this(item, depth, width, 0, 0)
  def this(item: Expression) =
    this(item, Literal(4), Literal(1 << 12), 0, 0)

  private lazy val depth: Int = second.eval().asInstanceOf[Number].intValue()
  private lazy val width: Int = third.eval().asInstanceOf[Number].intValue()

  override protected def codec = CountMin
  override protected def start = new CountMin(depth, width)
  override protected def sizeParams = Seq("depth" -> second, "width" -> third)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(KmvHash.routedType(first.dataType), IntegerType, IntegerType)
  override def prettyName: String = "cms_agg"

  override def update(buf: MergeBuffer[CountMin], input: InternalRow): MergeBuffer[CountMin] = {
    val v = first.eval(input)
    if (v != null) writable(buf).add(CmsKey.ofAny(first.dataType, v))
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): CountMinAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CountMinAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): CountMinAgg = copy(first = f, second = s, third = t)
}

/** cms_merge_agg(sketch) → binary: re-aggregates stored CMS sketches; a
  * group of one sketch never builds its grid. */
case class CountMinMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends DecodeOnceMergeAgg[CountMin] {

  override protected def codec = CountMin
  override def prettyName: String = "cms_merge_agg"

  override def withNewMutableAggBufferOffset(n: Int): CountMinMergeAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CountMinMergeAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): CountMinMergeAgg =
    copy(child = c)
}
