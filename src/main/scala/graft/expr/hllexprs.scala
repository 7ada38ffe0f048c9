package graft.expr

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.AbstractDataType
import org.apache.spark.sql.types._

import graft.core.Hll

/** hll_distinct(sketch) → double: HyperLogLog cardinality estimate
  * (linear counting below 2.5m with empty registers, raw HLL above). */
case class HllDistinct(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "hll_distinct"
  override protected def nullSafeEval(sketch: Any): Any =
    Hll.estimate(sketch.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** hll_nonzero(sketch) → int: occupied registers — an EXACT integer
  * property of the register state (useful for engine-parity checks and
  * as the linear-counting occupancy). */
case class HllNonzero(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hll_nonzero"
  override protected def nullSafeEval(sketch: Any): Any =
    Hll.nonzero(sketch.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** hll_union(a, b) → binary: merged sketch (per-register max) — the HLL
  * union is EXACT with respect to sketch state, so
  * `hll_distinct(hll_union(a, b))` estimates |A ∪ B| with the same error
  * as a sketch built over the union stream. Intersection follows by
  * inclusion–exclusion: est(a) + est(b) − est(union) — compose it in the
  * DSL ([[graft.api.functions.hll_intersect_est]]). */
case class HllUnion(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "hll_union"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val h = Hll.deserialize(a.asInstanceOf[Array[Byte]])
    h.mergeSerialized(b.asInstanceOf[Array[Byte]])
    h.serialize()
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** hll_register_xor(sketch) → long: order-insensitive checksum of the
  * register state, Σ-free (xor of avalanche(index·256 + ρ) over occupied
  * registers) — lets an external engine verify the ENTIRE register array
  * of a distributed aggregation bit-for-bit. */
case class HllRegisterXor(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hll_register_xor"
  override protected def nullSafeEval(sketch: Any): Any = {
    val h = Hll.deserialize(sketch.asInstanceOf[Array[Byte]])
    var x = 0L
    var i = 0
    while (i < h.registers.length) {
      if (h.registers(i) != 0)
        x ^= TextHash.avalanche(i.toLong * 256L + h.registers(i))
      i += 1
    }
    x
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
