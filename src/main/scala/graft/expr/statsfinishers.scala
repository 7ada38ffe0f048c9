package graft.expr

import graft.agg.StatsStruct
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, UnresolvedExtractValue}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** The summary_stats finishers, built once as Catalyst trees for both the
  * Column DSL (graft.api.functions.stats_*) and the SQL function registry.
  * Each finisher's tree reads the struct once through [[StatsChecked]], so
  * it rejects what `stats_merge_agg` rejects, and its formula is plain
  * codegen'd arithmetic over the fields. Field extraction is left
  * unresolved so the analyzer resolves it against the actual struct, and
  * the repeated aggregate child dedups in the Aggregate operator. */
object StatsFinishers {
  private def fld(st: Expression, n: String): Expression =
    UnresolvedExtractValue(st, Literal(n))
  private def d(x: Double): Expression = Literal(x)
  private val nan: Expression = Literal(Double.NaN)

  private def emptyGuard(st: Expression, res: Expression): Expression =
    If(EqualTo(fld(st, "count"), Literal(0L)), nan, res)

  /** One stored field: count, sum, min or max. */
  def field(st: Expression, name: String): Expression = StatsChecked(st, fld(st, name))

  def mean(st: Expression): Expression =
    StatsChecked(st, emptyGuard(st, Divide(fld(st, "sum"), Cast(fld(st, "count"), DoubleType))))

  // IEEE division via pow(denom, -1): count == ddof → ±Inf/NaN (the
  // reference's C semantics) instead of an ANSI-mode DIVIDE_BY_ZERO error
  private def varianceOf(st: Expression, ddof: Int): Expression =
    emptyGuard(st, Multiply(fld(st, "m2"),
      Pow(Cast(Subtract(fld(st, "count"), Literal(ddof.toLong)), DoubleType),
        Literal(-1.0))))

  def variance(st: Expression, ddof: Int): Expression = StatsChecked(st, varianceOf(st, ddof))

  def std(st: Expression, ddof: Int): Expression = StatsChecked(st, Sqrt(varianceOf(st, ddof)))

  /** g1 = m3/m2^1.5 (0 when m2==0); bias=false applies the sample correction
    * sqrt(n(n−1))/(n−2); NaN when the stream was homogeneous
    * (stats_stubs.c:113-123). */
  def skew(st: Expression, bias: Boolean): Expression = {
    val n = Cast(fld(st, "count"), DoubleType)
    val m2 = Divide(fld(st, "m2"), n)
    val m3 = Divide(fld(st, "m3"), n)
    val g1 = If(EqualTo(m2, d(0.0)), d(0.0), Divide(m3, Multiply(Sqrt(m2), m2)))
    val res =
      if (bias) g1
      else If(And(GreaterThan(n, d(2.0)), GreaterThan(m2, d(0.0))),
        Multiply(Divide(Sqrt(Multiply(Subtract(n, d(1.0)), n)), Subtract(n, d(2.0))), g1),
        g1)
    StatsChecked(st, If(fld(st, "homogeneous"), nan, res))
  }

  /** g2 = m4/m2² (0 when m2==0); bias=false correction
    * ((n²−1)g2 − 9n + 15)/((n−2)(n−3)); fisher subtracts 3
    * (stats_stubs.c:126-136). */
  def kurt(st: Expression, fisher: Boolean, bias: Boolean): Expression = {
    val n = Cast(fld(st, "count"), DoubleType)
    val m2 = Divide(fld(st, "m2"), n)
    val m4 = Divide(fld(st, "m4"), n)
    val g2 = If(EqualTo(m2, d(0.0)), d(0.0), Divide(m4, Multiply(m2, m2)))
    val corrected =
      if (bias) g2
      else If(And(GreaterThan(n, d(3.0)), GreaterThan(m2, d(0.0))),
        Divide(
          Add(Subtract(Multiply(Subtract(Multiply(n, n), d(1.0)), g2),
            Multiply(d(9.0), n)), d(15.0)),
          Multiply(Subtract(n, d(2.0)), Subtract(n, d(3.0)))),
        g2)
    val res = if (fisher) Subtract(corrected, d(3.0)) else corrected
    StatsChecked(st, If(fld(st, "homogeneous"), nan, res))
  }
}

/** `result`, a finisher's formula over the summary_stats struct `left`,
  * evaluated after one checked read of the struct
  * ([[graft.agg.StatsStruct.fromRow]]): a NULL field, a negative count,
  * min > max beside a positive count, or a negative m2 or m4 fails the
  * row with an IllegalArgumentException. A NULL struct passes to the
  * formula, which returns NULL. The struct must have the summary_stats
  * fields, names and types; the node prints as its formula. */
case class StatsChecked(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = right.dataType
  override def nullable: Boolean = right.nullable
  override def sql: String = right.sql

  // the formula reads fields by name and the check by position
  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case s: StructType if StatsStruct.hasFieldTypes(s) &&
        s.fieldNames.sameElements(StatsStruct.schema.fieldNames) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"stats finishers expect a summary_stats struct ${StatsStruct.schema.simpleString}, " +
        s"got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any = {
    val st = left.eval(input)
    if (st != null) StatsStruct.fromRow(st.asInstanceOf[InternalRow])
    right.eval(input)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = left.genCode(ctx)
    val res = right.genCode(ctx)
    ev.copy(code = code"""
      ${st.code}
      if (!${st.isNull}) graft.agg.StatsStruct.fromRow(${st.value});
      ${res.code}""", isNull = res.isNull, value = res.value)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): StatsChecked =
    copy(left = l, right = r)
}
