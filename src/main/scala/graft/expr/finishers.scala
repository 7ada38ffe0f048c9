package graft.expr

import graft.agg.SpaceSavingAgg
import graft.core._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.AbstractDataType
import org.apache.spark.sql.types._

/** Scalar finalizer expressions over serialized sketches (SURVEY.md §2 T5–T12,
  * S5–S6). Every finisher reads a sketch through its kind's codec
  * ([[graft.core.SketchCodec]]) on one path for every key type, and reads
  * no byte of it directly. Over stored sketches a finisher runs once per
  * group, not once per aggregation: in `sketch_rollup`'s result stage
  * (6 000 groups) the finisher projection took 40 % of the JFR samples,
  * second to the merges' 47 %, when the finishers decoded what they read.
  * So no finisher decodes what it only reads: the t-digest finishers query
  * the checked blob in place ([[graft.core.TDigest.blob]]) and the
  * Space-Saving ones read the codec's checked walk. */

/** A finisher's right argument, an array of doubles: read (and checked)
  * once per expression instance when it is constant, else per row. */
trait DoublesArg { self: BinaryExpression =>
  protected def checkArg(xs: Array[Double]): Array[Double] = xs
  @transient private lazy val constant: Array[Double] =
    if (right.foldable) checkArg(right.eval().asInstanceOf[ArrayData].toDoubleArray()) else null
  protected def doubles(a: Any): Array[Double] =
    if (constant != null) constant else checkArg(a.asInstanceOf[ArrayData].toDoubleArray())
}

/** tdigest_quantile(sketch, q) → double (T5, tdigest_stubs.c:483-516). */
case class TDigestQuantile(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "tdigest_quantile"
  override protected def nullSafeEval(sketch: Any, q: Any): Any =
    TDigest.blob(sketch.asInstanceOf[Array[Byte]]).quantile(q.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** tdigest_quantiles(sketch, array<double>) → array<double> (T5 vectorized). */
case class TDigestQuantiles(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback with DoublesArg {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "tdigest_quantiles"
  override protected def nullSafeEval(sketch: Any, qs: Any): Any =
    new GenericArrayData(TDigest.blob(sketch.asInstanceOf[Array[Byte]]).quantiles(doubles(qs)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** tdigest_cdf(sketch, x) → double (T6, tdigest_stubs.c:355-407). */
case class TDigestCdf(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "tdigest_cdf"
  override protected def nullSafeEval(sketch: Any, x: Any): Any =
    TDigest.blob(sketch.asInstanceOf[Array[Byte]]).cdf(x.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** tdigest_cdfs(sketch, array<double>) → array<double>. */
case class TDigestCdfs(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback with DoublesArg {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "tdigest_cdfs"
  override protected def nullSafeEval(sketch: Any, xs: Any): Any =
    new GenericArrayData(TDigest.blob(sketch.asInstanceOf[Array[Byte]]).cdfs(doubles(xs)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** tdigest_histogram(sketch, bins) → struct(hist array<double>,
  * edges array<double>) (T7, tdigest.pyx:165-229). */
case class TDigestHistogram(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = StructType(Seq(
    StructField("hist", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("edges", ArrayType(DoubleType, containsNull = false), nullable = false)))
  override def prettyName: String = "tdigest_histogram"
  override protected def nullSafeEval(sketch: Any, bins: Any): Any = {
    val t = TDigest.blob(sketch.asInstanceOf[Array[Byte]])
    val nb = bins.asInstanceOf[Int]
    if (nb < 1) throw new IllegalArgumentException("bins must be >= 1")
    val edges = t.histogramEdges(nb)
    new GenericInternalRow(Array[Any](new GenericArrayData(t.histogram(edges)), new GenericArrayData(edges)))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** tdigest_histogram_at(sketch, array<double> edges) → array<double> hist. */
case class TDigestHistogramAt(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback with DoublesArg {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "tdigest_histogram_at"
  override protected def checkArg(edges: Array[Double]): Array[Double] = {
    require(edges.length >= 2, "need at least 2 edges")
    var i = 1
    while (i < edges.length) {
      require(edges(i) >= edges(i - 1), "bins must increase monotonically"); i += 1
    }
    edges
  }
  override protected def nullSafeEval(sketch: Any, edges: Any): Any = {
    val t = TDigest.blob(sketch.asInstanceOf[Array[Byte]])
    new GenericArrayData(t.histogram(doubles(edges)))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** tdigest_scale(sketch, factor) → sketch (T12, tdigest_stubs.c:609-629). */
case class TDigestScale(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "tdigest_scale"
  override protected def nullSafeEval(sketch: Any, factor: Any): Any = {
    val f = factor.asInstanceOf[Double]
    // reference contract (tdigest.pyx:326-340): factor must be finite and > 0
    if (f <= 0 || java.lang.Double.isNaN(f) || java.lang.Double.isInfinite(f))
      throw new IllegalArgumentException("factor must be finite and > 0")
    val t = TDigest.deserialize(sketch.asInstanceOf[Array[Byte]])
    t.scaleInPlace(f)
    t.serialize()
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** tdigest_centroids(sketch) → array<struct<mean,weight>> (T10). */
case class TDigestCentroids(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("mean", DoubleType, nullable = false),
    StructField("weight", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "tdigest_centroids"
  override protected def nullSafeEval(sketch: Any): Any = {
    val t = TDigest.blob(sketch.asInstanceOf[Array[Byte]])
    new GenericArrayData(Array.tabulate[Any](t.nCentroids) { i =>
      val r = new GenericInternalRow(2)
      r.setDouble(0, t.mean(i)); r.setDouble(1, t.weight(i))
      r
    })
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** tdigest_size/min/max(sketch) → double (T8–T9). */
case class TDigestStat(child: Expression, stat: String)
  extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = s"tdigest_$stat"
  override protected def nullSafeEval(sketch: Any): Any = {
    val t = TDigest.blob(sketch.asInstanceOf[Array[Byte]])
    stat match {
      case "size" => t.totalSize
      case "min" => t.minOrNaN
      case "max" => t.maxOrNaN
    }
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** ss_topk(sketch, k) → array<struct<item,count,error>> (S5,
  * space_saving.pyx:304-341). The item field type is fixed per function
  * variant (long/double/string), mirroring the reference's dtype arms. */
case class SSTopK(left: Expression, right: Expression, itemType: DataType)
  extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", itemType, nullable = false),
    StructField("count", LongType, nullable = false),
    StructField("error", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "ss_topk"

  override protected def nullSafeEval(sketch: Any, kAny: Any): Any = {
    val k = kAny.asInstanceOf[Int]
    if (k < 0) throw new IllegalArgumentException("k must be >= 0")
    val s = SpaceSaving.walk(sketch.asInstanceOf[Array[Byte]])
    val expected = SpaceSavingAgg.itemTypeFor(s.tag)
    require(expected == itemType,
      s"sketch holds ${expected.simpleString} items; use the matching " +
        s"ss_topk variant (got ${itemType.simpleString})")
    // the blob's counters are in list order: the first k are the top k
    new GenericArrayData(Array.tabulate[Any](math.min(k, s.size)) { p =>
      val r = new GenericInternalRow(3)
      s.tag match {
        case SpaceSaving.TagLong => r.setLong(0, s.longItem(p))
        case SpaceSaving.TagDouble => r.setDouble(0, SpaceSaving.keyToDouble(s.longItem(p)))
        case SpaceSaving.TagString => r.update(0, s.objItem(p))
        case _ => r.update(0, s.objItem(p).getBytes)
      }
      r.setLong(1, s.count(p)); r.setLong(2, s.error(p))
      r
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** ss_capacity(sketch) → int: configured capacity (S7). */
case class SSCapacity(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ss_capacity"
  override protected def nullSafeEval(sketch: Any): Any =
    SpaceSaving.walk(sketch.asInstanceOf[Array[Byte]]).capacity
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** ss_size(sketch) → int: number of active counters (S7). */
case class SSSize(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ss_size"
  override protected def nullSafeEval(sketch: Any): Any =
    SpaceSaving.walk(sketch.asInstanceOf[Array[Byte]]).size
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
