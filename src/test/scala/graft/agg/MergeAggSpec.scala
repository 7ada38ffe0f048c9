package graft.agg

import graft.SparkTestBase
import graft.api.{functions => gf}
import graft.core.{CountMin, Hll, KmvSketch, SpaceSaving, SpaceSavingLong, SpaceSavingObj, TDigest}
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import scala.util.Random

/** The decode-once merge aggregates (tdigest_merge_agg, ss_merge_agg,
  * hll_merge_agg, kmv_merge_agg, cms_merge_agg) against the kernel fold
  * deserialize → merge → serialize, byte for byte, on the hash path and on
  * the sort-based fallback. */
class MergeAggSpec extends SparkTestBase {
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

  /** Rows (g, td, ss, sss, hll, kmv, cms), each group's rows contiguous. */
  private lazy val rows: Seq[(Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte],
      Array[Byte], Array[Byte])] = {
    val r = new Random(17)
    var i = 0
    GroupSizes.zipWithIndex.flatMap { case (n, g) =>
      (0 until n).map { _ =>
        i += 1
        (g, tdBytes(r, i), ssBytes(r), ssStrBytes(r), hllBytes(r), kmvBytes(r, i), cmsBytes(r))
      }
    }
  }

  private def ssObj(b: Array[Byte]) = SpaceSaving.deserialize(b).asInstanceOf[SpaceSavingObj]

  private def fold[S](bs: Seq[Array[Byte]], de: Array[Byte] => S)(merge: (S, S) => Unit): S = {
    val acc = de(bs.head)
    bs.tail.foreach(b => merge(acc, de(b)))
    acc
  }

  private def expected(g: Int): Seq[Seq[Byte]] = {
    val rs = rows.filter(_._1 == g)
    Seq(
      fold(rs.map(_._2), TDigest.deserialize)(_.merge(_)).serialize(),
      fold(rs.map(_._3), SpaceSaving.deserializeLong)(_.merge(_)).serialize(SpaceSaving.TagLong),
      fold(rs.map(_._4), ssObj)(_.merge(_)).serialize(SpaceSaving.TagString),
      fold(rs.map(_._5), Hll.deserialize)(_.merge(_)).serialize(),
      fold(rs.map(_._6), KmvSketch.deserialize)(_.merge(_)).serialize(),
      fold(rs.map(_._7), CountMin.deserialize)(_.merge(_)).serialize()).map(_.toSeq)
  }

  /** One partition, rows in group order: every group's fold order is its
    * row order, on the hash path and on the sort fallback alike. */
  private def merged(): Map[Int, Seq[Seq[Byte]]] =
    rows.toDF("g", "td", "ss", "sss", "hll", "kmv", "cms").coalesce(1)
      .groupBy("g").agg(
        gf.tdigest_merge_agg(col("td")), gf.ss_merge_agg(col("ss")),
        gf.ss_merge_agg(col("sss")), gf.hll_merge_agg(col("hll")),
        gf.kmv_merge_agg(col("kmv")), gf.cms_merge_agg(col("cms")))
      .collect().map(r => r.getInt(0) -> (1 to 6).map(r.getAs[Array[Byte]](_).toSeq)).toMap

  private def checkAll(): Unit = {
    val got = merged()
    assert(got.keySet == GroupSizes.indices.toSet)
    val names = Seq("tdigest_merge_agg", "ss_merge_agg(long)", "ss_merge_agg(string)",
      "hll_merge_agg", "kmv_merge_agg", "cms_merge_agg")
    GroupSizes.indices.foreach { g =>
      expected(g).zip(got(g)).zip(names).foreach { case ((e, a), name) =>
        assert(a == e, s"$name: group $g (${GroupSizes(g)} sketches) differs from the kernel fold")
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
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.types.BinaryType
    val r = new Random(23)
    val in = BoundReference(0, BinaryType, nullable = true)
    type Agg = org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[AnyRef]
    val kinds: Seq[(Agg, Int => Array[Byte], Seq[Array[Byte]] => Array[Byte])] = Seq(
      (TDigestMergeAgg(in).asInstanceOf[Agg], (i: Int) => tdBytes(r, i),
        (bs: Seq[Array[Byte]]) => fold(bs, TDigest.deserialize)(_.merge(_)).serialize()),
      (SpaceSavingMergeAgg(in).asInstanceOf[Agg], (_: Int) => ssBytes(r),
        (bs: Seq[Array[Byte]]) =>
          fold(bs, SpaceSaving.deserializeLong)(_.merge(_)).serialize(SpaceSaving.TagLong)),
      (HllMergeAgg(in).asInstanceOf[Agg], (_: Int) => hllBytes(r),
        (bs: Seq[Array[Byte]]) => fold(bs, Hll.deserialize)(_.merge(_)).serialize()),
      (KmvMergeAgg(in).asInstanceOf[Agg], (i: Int) => kmvBytes(r, i),
        (bs: Seq[Array[Byte]]) => fold(bs, KmvSketch.deserialize)(_.merge(_)).serialize()),
      (CountMinMergeAgg(in).asInstanceOf[Agg], (_: Int) => cmsBytes(r),
        (bs: Seq[Array[Byte]]) => fold(bs, CountMin.deserialize)(_.merge(_)).serialize()))
    for ((agg, gen, fold1) <- kinds; trial <- 0 until 12) {
      val bs = (0 until 1 + r.nextInt(12)).map(gen)
      // split into partials, each updated row by row and shuffled as bytes
      val cuts = (0 +: (1 until bs.length).filter(_ => r.nextInt(3) == 0) :+ bs.length).distinct
      val parts = cuts.zip(cuts.tail).map { case (a, b) => bs.slice(a, b) }
      val shuffled = parts.map { p =>
        val buf = agg.createAggregationBuffer()
        p.foreach(b => agg.update(buf, new GenericInternalRow(Array[Any](b)): InternalRow))
        agg.serialize(buf)
      }
      val fin = shuffled.foldLeft(agg.createAggregationBuffer())((acc, b) =>
        agg.merge(acc, agg.deserialize(b)))
      val want = fold1(parts.map(p => fold1(p)))
      assert(agg.eval(fin).asInstanceOf[Array[Byte]].toSeq == want.toSeq,
        s"${agg.prettyName}: partials of ${parts.map(_.size)} differ from the kernel fold")
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
