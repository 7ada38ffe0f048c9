package graft.expr

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.AbstractDataType
import org.apache.spark.sql.types._

import graft.agg.{CmsKey, KmvHash}
import graft.core.CountMin

/** cms_count(sketch, item) → long: the Count-Min point estimate for
  * `item` — an overestimate of the true count by at most εN w.h.p.
  * The item routes through the same key arms the aggregate used.
  *
  * Probes read `depth` longs at computed offsets DIRECTLY off the
  * serialized blob ([[graft.core.CountMin.estimateFromBlob]]) — n probes
  * against one sketch cost O(n·depth), never O(n·depth·width): the old
  * full-grid deserialize paid ~128 KB of copying per row at 4×4096.
  * Participates in whole-stage codegen (no CodegenFallback). */
case class CmsCount(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, KmvHash.routedType(right.dataType))
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_count"
  override protected def nullSafeEval(sketch: Any, item: Any): Any =
    CountMin.estimateFromBlob(sketch.asInstanceOf[Array[Byte]],
      CmsKey.ofAny(right.dataType, item))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sketch, item) => {
      val key = right.dataType match {
        case LongType => item
        case DoubleType => s"graft.agg.CmsKey.doubleKey($item)"
        case BinaryType => s"graft.agg.CmsKey.binaryKey($item)"
        case _ => s"graft.agg.CmsKey.utf8Key($item)"
      }
      s"${ev.value} = graft.core.CountMin.estimateFromBlob($sketch, $key);"
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** cms_dot(a, b) → long: the Count-Min inner-product estimate
  * min_r Σ_j a[r][j]·b[r][j] — an upper bound (≤ true + ε·N_A·N_B
  * w.h.p.) on Σ_k f_A(k)·f_B(k), i.e. the equi-join output size of the
  * two sketched key columns (self-dot = F2, the skew diagnostic). Both
  * sketches must share (depth, width). O(depth·width) per call — this
  * runs once per PLANNING decision, not per row. */
case class CmsDot(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    CountMin.innerProductFromBlobs(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.core.CountMin.innerProductFromBlobs($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** cms_total(sketch) → long: total weight the sketch has absorbed — one
  * header read off the blob, codegen'd. */
case class CmsTotal(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_total"
  override protected def nullSafeEval(sketch: Any): Any =
    CountMin.totalFromBlob(sketch.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, sketch =>
      s"graft.core.CountMin.totalFromBlob($sketch)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
