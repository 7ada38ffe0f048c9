package graft.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graftshim.AbstractDataType
import org.apache.spark.sql.types._

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
  extends SketchAddAgg[Hll] with BinaryLike[Expression] {

  def this(value: Expression) = this(value, Literal(12))

  private lazy val p: Int = right.eval().asInstanceOf[Number].intValue()

  override protected def codec = Hll
  override protected def start = new Hll(p)
  override protected def sizeParams = Seq("p" -> right)
  override def inputTypes: Seq[AbstractDataType] = Seq(KmvHash.routedType(left.dataType), IntegerType)
  override def prettyName: String = "hll_agg"

  override def update(buf: MergeBuffer[Hll], input: InternalRow): MergeBuffer[Hll] = {
    val v = left.eval(input)
    if (v != null) writable(buf).add(KmvHash.ofAny(left.dataType, v))
    buf
  }

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
  extends DecodeOnceMergeAgg[Hll] {

  override protected def codec = Hll
  override def prettyName: String = "hll_merge_agg"

  override def withNewMutableAggBufferOffset(n: Int): HllMergeAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HllMergeAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): HllMergeAgg =
    copy(child = c)
}
