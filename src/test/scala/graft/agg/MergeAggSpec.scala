package graft.agg

import graft.SparkTestBase
import graft.api.{functions => gf}
import graft.core._
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import scala.util.Random

object MergeAggSpec {
  /** A stored summary_stats struct, field for field. */
  case class St(count: Long, sum: Double, min: Double, max: Double, m2: Double, m3: Double,
      m4: Double, homogeneous: Boolean, first_value: Double)

  /** One input row: a stored sketch of each byte kind, a weighted value,
    * an item and a stored moments struct. */
  case class In(g: Int, td: Array[Byte], ss: Array[Byte], sss: Array[Byte], hll: Array[Byte],
      kmv: Array[Byte], cms: Array[Byte], x: Double, w: Double, item: Long, st: St)
}

/** All twelve sketch aggregates against the kernels, byte for byte, on the
  * hash path and on the sort-based fallback. The five merge aggregates over
  * stored sketches equal the fold deserialize → merge → serialize, which
  * adopts a group's first sketch. The six add aggregates and
  * stats_merge_agg equal a fold from the kind's empty sketch: each partial
  * folds its rows into the empty sketch, and the final stage merges every
  * shuffled partial, decoded, into the empty sketch again. */
class MergeAggSpec extends SparkTestBase {
  import MergeAggSpec._
  import spark.implicits._

  // with the fallback threshold at 2 the hash map spills right after the
  // second group's only row, so every group is still folded in row order
  private val GroupSizes = Seq(1, 1, 50, 2, 1)

  private def tdBytes(r: Random, i: Int): Array[Byte] = {
    val t = TDigest(if (i % 7 == 3) 20.0 else 100.0)
    // every 11th stored digest is empty, every 13th holds one centroid
    val n = if (i % 11 == 5) 0 else if (i % 13 == 6) 1 else 1 + r.nextInt(400)
    (0 until n).foreach(_ => t.add(r.nextGaussian() * 10 + i, 1.0 + r.nextInt(3)))
    t.serialize()
  }

  private def ssBytes(r: Random): Array[Byte] = {
    val s = new SpaceSavingLong(16)
    (0 until 1 + r.nextInt(80)).foreach(_ => s.add(math.abs(r.nextGaussian() * 12).toLong))
    s.serialize(SpaceSaving.TagLong)
  }

  private def ssStrBytes(r: Random): Array[Byte] = {
    val s = new SpaceSavingObj(8)
    (0 until 1 + r.nextInt(40)).foreach(_ => s.add(UTF8String.fromString(s"k${r.nextInt(20)}")))
    s.serialize(SpaceSaving.TagString)
  }

  private def hllBytes(r: Random): Array[Byte] = {
    val h = new Hll(8)
    (0 until r.nextInt(300)).foreach(_ => h.add(r.nextLong()))
    h.serialize()
  }

  private def kmvBytes(r: Random, i: Int): Array[Byte] = {
    // mixed k, so merges shrink to the smaller one; many sketches saturate
    val s = new KmvSketch(if (i % 5 == 2) 8 else 32)
    (0 until r.nextInt(60)).foreach(_ => s.add(r.nextInt(200).toLong * 0x9e3779b97f4a7c15L))
    s.serialize()
  }

  private def cmsBytes(r: Random): Array[Byte] = {
    val c = new CountMin(3, 64)
    (0 until r.nextInt(200)).foreach(_ => c.add(r.nextInt(100).toLong, 1L + r.nextInt(3)))
    c.serialize()
  }

  private def stStruct(r: Random, i: Int): St = {
    val m = new MomentsSketch
    (0 until 1 + r.nextInt(30)).foreach(_ => m.add(r.nextGaussian() * 5 + i, 1L + r.nextInt(2)))
    St(m.count, m.sum, m.min, m.max, m.m2, m.m3, m.m4, m.homogeneous, m.firstValue)
  }

  /** The sketch a stored struct holds, copied field by field. */
  private def moments(st: St): MomentsSketch = {
    val m = new MomentsSketch
    m.count = st.count; m.sum = st.sum; m.min = st.min; m.max = st.max
    m.m2 = st.m2; m.m3 = st.m3; m.m4 = st.m4
    m.homogeneous = st.homogeneous; m.firstValue = st.first_value
    m
  }

  private def input(r: Random, g: Int, i: Int): In =
    In(g, tdBytes(r, i), ssBytes(r), ssStrBytes(r), hllBytes(r), kmvBytes(r, i), cmsBytes(r),
      // fractional weights: merged into the empty digest, most such digests
      // re-encode to other bytes, so adopting a partial would show
      r.nextGaussian() * 10 + i % 3, 0.5 + r.nextDouble(),
      math.abs(r.nextGaussian() * 12).toLong, stStruct(r, i))

  /** Fixed-width entries after a header written back in reverse order,
    * which no encoder writes. */
  private def reversed(canonical: Array[Byte], header: Int, width: Int): Array[Byte] = {
    val n = (canonical.length - header) / width
    val out = canonical.clone()
    (0 until n).foreach(i =>
      System.arraycopy(canonical, header + width * i, out, header + width * (n - 1 - i), width))
    out
  }
  private def reversed(canonical: Array[Byte]): Array[Byte] = reversed(canonical, 9, 24)

  /** Each group's rows, contiguous. */
  private lazy val rows: Seq[In] = {
    val r = new Random(17)
    var i = 0
    GroupSizes.zipWithIndex.flatMap { case (n, g) =>
      (0 until n).map { _ => i += 1; input(r, g, i) }
    }
  }

  /** decode → merge → serialize over stored sketches, in order. */
  private def fold[S >: Null <: AnyRef](codec: SketchCodec[S], bs: Seq[Array[Byte]]): Array[Byte] = {
    val acc = codec.deserialize(bs.head)
    bs.tail.foreach(b => codec.mergeSketch(acc, codec.deserialize(b)))
    codec.serialize(acc)
  }

  /** A merge aggregate's result for a tree of partials: the fold of each
    * partial's stored sketches, then of the partials. */
  private def merges[S >: Null <: AnyRef](codec: SketchCodec[S], bytes: In => Array[Byte])(
      parts: Seq[Seq[In]]): Array[Byte] =
    fold(codec, parts.map(p => fold(codec, p.map(bytes))))

  /** An add aggregate's sketch for a tree of partials, from the empty
    * sketch (see the class doc). */
  private def fromEmpty[S >: Null <: AnyRef](codec: SketchCodec[S], empty: => S)(
      add: (S, In) => Unit)(parts: Seq[Seq[In]]): S = {
    val fin = empty
    parts.foreach { p =>
      val partial = empty
      p.foreach(add(partial, _))
      codec.mergeSketch(fin, codec.deserialize(codec.serialize(partial)))
    }
    fin
  }

  /** [[fromEmpty]], encoded. */
  private def adds[S >: Null <: AnyRef](codec: SketchCodec[S], empty: => S)(add: (S, In) => Unit)(
      parts: Seq[Seq[In]]): Array[Byte] = codec.serialize(fromEmpty(codec, empty)(add)(parts))

  type Agg = TypedImperativeAggregate[AnyRef]

  /** A sketch aggregate in SQL and driven directly over the same input, and
    * the kernels' result for a tree of partials. */
  private case class Kind(name: String, sql: Column, agg: TypedImperativeAggregate[_],
      row: In => InternalRow, want: Seq[Seq[In]] => Any)

  private def bound(dt: org.apache.spark.sql.types.DataType) = BoundReference(0, dt, nullable = true)
  private def one(v: Any): InternalRow = new GenericInternalRow(Array[Any](v))
  private val bin = bound(BinaryType)
  private val long = bound(LongType)

  private lazy val kinds: Seq[Kind] = Seq(
    Kind("tdigest_merge_agg", gf.tdigest_merge_agg(col("td")), TDigestMergeAgg(bin),
      in => one(in.td), merges(TDigest, _.td)),
    Kind("ss_merge_agg(long)", gf.ss_merge_agg(col("ss")), SpaceSavingMergeAgg(bin),
      in => one(in.ss), merges(SpaceSaving, _.ss)),
    Kind("ss_merge_agg(string)", gf.ss_merge_agg(col("sss")), SpaceSavingMergeAgg(bin),
      in => one(in.sss), merges(SpaceSaving, _.sss)),
    Kind("hll_merge_agg", gf.hll_merge_agg(col("hll")), HllMergeAgg(bin),
      in => one(in.hll), merges(Hll, _.hll)),
    Kind("kmv_merge_agg", gf.kmv_merge_agg(col("kmv")), KmvMergeAgg(bin),
      in => one(in.kmv), merges(KmvSketch, _.kmv)),
    Kind("cms_merge_agg", gf.cms_merge_agg(col("cms")), CountMinMergeAgg(bin),
      in => one(in.cms), merges(CountMin, _.cms)),
    Kind("tdigest(x, w)", gf.tdigest(col("x"), col("w")),
      TDigestAgg(bound(DoubleType), BoundReference(1, DoubleType, nullable = true), Literal(100.0)),
      in => new GenericInternalRow(Array[Any](in.x, in.w)),
      adds(TDigest, TDigest())((t, in) => t.add(in.x, in.w))),
    Kind("ss_topk_agg", gf.ss_topk_agg(col("item")), new SpaceSavingAgg(long),
      in => one(in.item), adds(SpaceSaving, SpaceSaving.empty(SpaceSaving.TagLong, 20))(
        (s, in) => s.asInstanceOf[SpaceSavingLong].add(in.item))),
    Kind("hll_agg", gf.hll_agg(col("item")), new HllAgg(long),
      in => one(in.item), adds(Hll, new Hll(12))((h, in) => h.add(KmvHash.ofLong(in.item)))),
    Kind("kmv_agg", gf.kmv_agg(col("item"), 8), KmvAgg(long, Literal(8)),
      in => one(in.item), adds(KmvSketch, new KmvSketch(8))((s, in) => s.add(KmvHash.ofLong(in.item)))),
    Kind("cms_agg", gf.cms_agg(col("item"), 3, 64), CountMinAgg(long, Literal(3), Literal(64)),
      in => one(in.item), adds(CountMin, new CountMin(3, 64))((c, in) => c.add(in.item))),
    Kind("summary_stats", gf.summary_stats(col("x")), new SummaryStatsAgg(bound(DoubleType)),
      in => one(in.x), parts => StatsStruct.toRow(
        fromEmpty(MomentsSketch, new MomentsSketch)((m, in) => m.add(in.x))(parts))),
    Kind("stats_merge_agg", gf.stats_merge_agg(col("st")), StatsMergeAgg(bound(StatsStruct.schema)),
      in => one(StatsStruct.toRow(moments(in.st))), parts => StatsStruct.toRow(
        fromEmpty(MomentsSketch, new MomentsSketch)((m, in) => m.merge(moments(in.st)))(parts))))

  /** An output as comparable values: a sketch's bytes, or a moments
    * struct's fields with every double as its bits. */
  private def comparable(v: Any): Seq[Any] = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => comparable(InternalRow.fromSeq(r.toSeq))
    case r: InternalRow => Seq(r.getLong(0)) ++
      (1 to 6).map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i))) ++
      Seq(r.getBoolean(7), java.lang.Double.doubleToRawLongBits(r.getDouble(8)))
  }

  /** One partition, rows in group order: every group's fold order is its
    * row order, on the hash path and on the sort fallback alike. */
  private def merged(): Map[Int, Seq[Seq[Any]]] =
    rows.toDF().coalesce(1).groupBy("g").agg(kinds.head.sql, kinds.tail.map(_.sql): _*)
      .collect().map(r => r.getInt(0) -> kinds.indices.map(i => comparable(r.get(i + 1)))).toMap

  private def checkAll(): Unit = {
    val got = merged()
    assert(got.keySet == GroupSizes.indices.toSet)
    GroupSizes.indices.foreach { g =>
      val group = Seq(rows.filter(_.g == g))
      kinds.zip(got(g)).foreach { case (k, a) =>
        assert(a == comparable(k.want(group)),
          s"${k.name}: group $g (${GroupSizes(g)} rows) differs from the kernel fold")
      }
    }
  }

  test("merge aggregates equal the kernel fold byte for byte (groups of 1, 2, 50)") {
    checkAll()
  }

  test("merge aggregates equal the kernel fold under the sort fallback (threshold=2)") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val orig = spark.conf.get(key)
    try { spark.conf.set(key, "2"); checkAll() }
    finally spark.conf.set(key, orig)
  }

  test("buffer lifecycle equals the kernel fold for any partial/final tree") {
    val r = new Random(23)
    for (k <- kinds; trial <- 0 until 12) {
      val agg = k.agg.asInstanceOf[Agg]
      val ins = (0 until 1 + r.nextInt(12)).map(i => input(r, 0, i))
      // split into partials, each updated row by row and shuffled as bytes
      val cuts = (0 +: (1 until ins.length).filter(_ => r.nextInt(3) == 0) :+ ins.length).distinct
      val parts = cuts.zip(cuts.tail).map { case (a, b) => ins.slice(a, b) }
      val shuffled = parts.map { p =>
        val buf = agg.createAggregationBuffer()
        p.foreach(in => agg.update(buf, k.row(in)))
        agg.serialize(buf)
      }
      val fin = shuffled.foldLeft(agg.createAggregationBuffer())((acc, b) =>
        agg.merge(acc, agg.deserialize(b)))
      assert(comparable(agg.eval(fin)) == comparable(k.want(parts)),
        s"${k.name}: partials of ${parts.map(_.size)} differ from the kernel fold")
    }
  }

  test("ss_merge_agg decodes a group's first sketch once, and a lone sketch never") {
    // admit checks every first sketch without building it, and mergeBytes
    // merges from the bytes; what is counted is every decode
    var decodes = 0
    val counting = new SketchCodec[SpaceSavingBase] {
      override def checkSerialized(b: Array[Byte]): Int = SpaceSaving.checkSerialized(b)
      override def admit(b: Array[Byte]): Unit = SpaceSaving.admit(b)
      override def mergeBytes(into: SpaceSavingBase, b: Array[Byte]): Unit =
        SpaceSaving.mergeBytes(into, b)
      override def deserialize(b: Array[Byte]): SpaceSavingBase = {
        decodes += 1; SpaceSaving.deserialize(b)
      }
      override def serialize(s: SpaceSavingBase): Array[Byte] = SpaceSaving.serialize(s)
      override def mergeSketch(into: SpaceSavingBase, other: SpaceSavingBase): Unit =
        SpaceSaving.mergeSketch(into, other)
    }
    val agg = new SpaceSavingMergeAgg(bin) {
      override protected def codec: SketchCodec[SpaceSavingBase] = counting
    }
    val r = new Random(29)
    for (n <- Seq(1, 2)) {
      val bs = Seq.fill(n)(ssBytes(r))
      decodes = 0
      val buf = agg.createAggregationBuffer()
      bs.foreach(b => agg.update(buf, one(b)))
      val out = agg.eval(buf).asInstanceOf[Array[Byte]]
      assert(decodes == n - 1, s"a group of $n stored sketches decoded $decodes times")
      assert(out.toSeq == fold(SpaceSaving, bs).toSeq)
    }
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("corrupt bytes in a one-sketch group are still rejected") {
    val cases = Seq(
      (gf.tdigest_merge_agg _, Array[Byte](1, 2, 3), "not a t-digest sketch"),
      (gf.hll_merge_agg _, Array[Byte](3, 0, 0), "corrupt HLL blob"),
      (gf.ss_merge_agg _, Array.fill[Byte](9)(9), "not a space-saving sketch"),
      (gf.kmv_merge_agg _, Array[Byte](1, 2, 3), "not a KMV sketch"),
      (gf.cms_merge_agg _, Array.fill[Byte](17)(CountMin.Magic), "corrupt CMS header"))
    cases.foreach { case (f, bad, msg) =>
      val e = intercept[Exception](
        Seq((1, bad)).toDF("g", "b").groupBy("g").agg(f(col("b"))).collect())
      assert(messages(e).contains(msg), messages(e))
    }
  }

  /** A canonical sketch and the same one written back to front, which the
    * decoder rejects with `message`. */
  private def outOfOrder(gen: Random => Array[Byte], rev: Array[Byte] => Array[Byte],
      decode: Array[Byte] => Any, message: String): (Array[Byte], Array[Byte]) = {
    val r = new Random(5)
    Iterator.continually(gen(r)).take(100).map(b => (b, rev(b))).find { case (_, back) =>
      scala.util.Try(decode(back)).failed.toOption.exists(_.getMessage.contains(message))
    }.getOrElse(fail(s"no sketch written back to front was rejected with '$message'"))
  }

  test("out-of-order Space-Saving and KMV sketches are rejected in any group") {
    val ss = outOfOrder(ssBytes, reversed, SpaceSaving.deserialize, "out of list order")
    val kmv = outOfOrder(kmvBytes(_, 1), reversed(_, 8, 8), KmvSketch.deserialize,
      "out of increasing order")
    for (((good, back), f, decode) <- Seq((ss, gf.ss_merge_agg _, SpaceSaving.deserialize _),
        (kmv, gf.kmv_merge_agg _, KmvSketch.deserialize _))) {
      val want = intercept[IllegalArgumentException](decode(back)).getMessage
      for (group <- Seq(Seq(back), Seq(good, back), Seq(back, good))) {
        val e = intercept[Exception](
          group.map(b => (1, b)).toDF("g", "b").coalesce(1).groupBy("g").agg(f(col("b"))).collect())
        assert(messages(e).contains(want), messages(e))
      }
    }
  }

  test("ss_topk reads every counter through the codec and rejects other orders") {
    val r = new Random(5)
    val canonical = ssBytes(r)
    val s = SpaceSaving.deserializeLong(canonical)
    val want = s.topkSlots(5).map(i => (s.items(i), s.counts(i), s.errors(i))).toSeq
    val got = Seq(Tuple1(canonical)).toDF("s").select(gf.ss_topk_long(col("s"), 5)).head()
      .getSeq[Row](0).map(t => (t.getLong(0), t.getLong(1), t.getLong(2)))
    assert(got == want)
    // k beyond the size returns every counter
    val n = ByteBuffer.wrap(canonical).order(ByteOrder.LITTLE_ENDIAN).getInt(5)
    assert(Seq(Tuple1(canonical)).toDF("s").select(gf.ss_topk_long(col("s"), 1000))
      .head().getSeq[Row](0).size == n)
    val (_, back) = outOfOrder(ssBytes, reversed, SpaceSaving.deserialize, "out of list order")
    val e = intercept[Exception](
      Seq(Tuple1(back)).toDF("s").select(gf.ss_topk_long(col("s"), 5)).collect())
    assert(messages(e).contains("out of list order"), messages(e))
  }

  test("ss_topk_string keeps invalid UTF-8 items apart") {
    val raw = spark.sql("""SELECT inline(ss_topk_string(ss_topk_agg(x), 5))
        |FROM VALUES (CAST(X'FF' AS STRING)), (CAST(X'FE' AS STRING)), (CAST(X'FF' AS STRING)) AS v(x)
        |""".stripMargin).selectExpr("CAST(item AS BINARY)", "`count`").collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1))).toSeq
    assert(raw == Seq((Seq(0xFF.toByte), 2L), (Seq(0xFE.toByte), 1L)))
  }
}
