package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between the public Column API and Catalyst expressions.
  * Lives inside org.apache.spark.sql to reach the private[sql]
  * classic.ExpressionUtils converters introduced in Spark 4.x. */
package object graftshim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Convert a Column into a genuine Catalyst expression TREE (nested
    * UnresolvedFunction nodes and all) instead of the opaque lazy
    * ColumnNodeExpression wrapper `toExpr` yields. Required when the
    * expression is returned from a FunctionRegistry builder: the analyzer
    * resolves unresolved nodes inside a real tree, but cannot see through
    * the wrapper (which then fails codegen as Unevaluable). */
  def toExprTree(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  // private[sql] in Spark 4; re-exported for graft's expression definitions
  type AbstractDataType = types.AbstractDataType
  val TypeCollection = types.TypeCollection

  /** Proper [WRONG_NUM_ARGS] AnalysisException for SQL builders (instead of
    * a MatchError surfacing as Spark INTERNAL_ERROR). */
  def wrongNumArgs(name: String, expected: Seq[Int], actual: Int): Throwable =
    errors.QueryCompilationErrors.wrongNumArgsError(name, expected.map(_.toString), actual)

  /** Catalyst's DIVIDE_BY_ZERO error, as its division raises it under ANSI mode. */
  def divideByZero(): ArithmeticException = errors.QueryExecutionErrors.divideByZeroError(null)

  /** Driver-side collect in INTERNAL row representation (UnsafeRow copies)
    * — used to build broadcast lookup structures without a detour through
    * external Rows. */
  def collectInternal(df: DataFrame)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    import classic.ClassicConversions.castToImpl
    df.queryExecution.executedPlan.executeCollect()
  }
}
