package graft.expr

import graft.agg.StatsStruct
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** stats_count, stats_sum, stats_min, stats_max, stats_mean, stats_var,
  * stats_std, stats_skew or stats_kurt (by `stat`) as one node, for the
  * Column DSL and SQL alike. It reads the struct once, checked
  * ([[graft.agg.StatsStruct.fromRow]]), so it rejects what
  * `stats_merge_agg` rejects; a NULL struct gives NULL. The struct must
  * have the summary_stats field names and types in order. Its code is one
  * static call, so a projection of finishers stays in whole-stage codegen.
  * `ddof` applies to var and std, `bias` to skew and kurt, `fisher` to
  * kurt; `ansi` is the session's ANSI mode when the node is built, as
  * Catalyst's arithmetic records it. */
case class StatsFinisher(child: Expression, stat: String, ddof: Int = 0, bias: Boolean = true,
    fisher: Boolean = true, ansi: Boolean = SQLConf.get.ansiEnabled) extends UnaryExpression {
  override def dataType: DataType = if (stat == "count") LongType else DoubleType
  override def nullable: Boolean = child.nullable || (!ansi && (stat == "skew" || stat == "kurt"))
  override def prettyName: String = s"stats_$stat"

  /** The call as written in SQL, options included. */
  override def sql: String = {
    val options = stat match {
      case "var" | "std" => Seq(ddof)
      case "skew" => Seq(bias)
      case "kurt" => Seq(fisher, bias)
      case _ => Nil
    }
    (child.sql +: options.map(_.toString)).mkString(s"$prettyName(", ", ", ")")
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType if StatsStruct.hasFieldTypes(s) &&
        s.fieldNames.sameElements(StatsStruct.schema.fieldNames) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"stats finishers expect a summary_stats struct ${StatsStruct.schema.simpleString}, " +
        s"got ${other.simpleString}")
  }

  override protected def nullSafeEval(st: Any): Any =
    StatsFinishers.value(st.asInstanceOf[InternalRow], stat, ddof, bias, fisher, ansi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, st => {
      val v = ctx.freshName("stat")
      s"""Object $v = graft.expr.StatsFinishers.value($st, "$stat", $ddof, $bias, $fisher, $ansi);
         |${if (nullable) s"${ev.isNull} = $v == null; if (!${ev.isNull}) " else ""}
         |${ev.value} = (${CodeGenerator.boxedType(dataType)}) $v;""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): StatsFinisher = copy(child = c)
}

/** The statistics in the arithmetic the finishers have always used, which
  * was Catalyst's (each finisher was a tree of its expressions), not
  * [[graft.core.MomentsSketch]]'s: variance is m2 * (n - ddof)^-1 through
  * StrictMath.pow (n == ddof gives ±Inf or NaN), which can differ in the
  * last bit from the kernel's m2 / (n - ddof); under ANSI mode n - ddof
  * can overflow (ARITHMETIC_OVERFLOW) and a division by zero fails
  * (DIVIDE_BY_ZERO), without it the latter reads as NULL. (Catalyst orders
  * NaN above every number, but where m2 is NaN so is g, and either branch
  * returns that NaN.) */
object StatsFinishers {
  /** `stat` of the struct `st`, after its checked read. */
  def value(st: InternalRow, stat: String, ddof: Int, bias: Boolean, fisher: Boolean,
      ansi: Boolean): Any = {
    StatsStruct.fromRow(st)
    val count = st.getLong(0)
    stat match {
      case "count" => count
      case "sum" => st.getDouble(1)
      case "min" => st.getDouble(2)
      case "max" => st.getDouble(3)
      case "mean" => if (count == 0L) Double.NaN else st.getDouble(1) / count.toDouble
      case "var" => variance(st, ddof, ansi)
      case "std" => math.sqrt(variance(st, ddof, ansi))
      case _ if st.getBoolean(7) => Double.NaN // homogeneous: no skew or kurtosis
      case _ if count == 0L => divideByZero(ansi)
      case _ =>
        // skew: g = m3/m2^1.5, kurt: g = m4/m2² (0 when m2 == 0), with m_k
        // the k-th central moment over n (stats_stubs.c:113-136)
        val skew = stat == "skew"
        val n = count.toDouble
        val m2 = st.getDouble(4) / n
        val d = if (skew) math.sqrt(m2) * m2 else m2 * m2
        if (m2 != 0.0 && d == 0.0) return divideByZero(ansi)
        val g = if (m2 == 0.0) 0.0 else st.getDouble(if (skew) 5 else 6) / n / d
        // bias=false: skew × sqrt(n(n−1))/(n−2), kurt ((n²−1)g − 9n + 15)/((n−2)(n−3))
        val unbias = !bias && n > (if (skew) 2.0 else 3.0) && m2 > 0.0
        if (skew) { if (unbias) math.sqrt((n - 1.0) * n) / (n - 2.0) * g else g }
        else {
          val k = if (unbias) ((n * n - 1.0) * g - 9.0 * n + 15.0) / ((n - 2.0) * (n - 3.0)) else g
          if (fisher) k - 3.0 else k
        }
    }
  }

  private def variance(st: InternalRow, ddof: Int, ansi: Boolean): Double = {
    val count = st.getLong(0)
    if (count == 0L) Double.NaN
    else {
      val d = if (ansi) MathUtils.subtractExact(count, ddof.toLong) else count - ddof
      st.getDouble(4) * StrictMath.pow(d.toDouble, -1.0)
    }
  }

  private def divideByZero(ansi: Boolean): Any = if (ansi) throw graftshim.divideByZero() else null
}
