package graft.agg

import graft.SparkTestBase
import graft.api.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.Row

/** End-to-end aggregate specs over the driver's sf0.001 parquet tables:
  * partial update → shuffle → merge → eval through ObjectHashAggregateExec. */
class AggregatesSpec extends SparkTestBase {

  test("summary_stats matches built-in aggregates on lineitem") {
    val li = spark.read.parquet(sf("lineitem"))
    val row = li.agg(
      summary_stats(F.col("l_quantity")).as("s"),
      F.count(F.col("l_quantity")).as("n"),
      F.sum(F.col("l_quantity")).as("sum"),
      F.min(F.col("l_quantity")).as("min"),
      F.max(F.col("l_quantity")).as("max"),
      F.var_pop(F.col("l_quantity")).as("vp"),
      F.skewness(F.col("l_quantity")).as("sk"),
      F.kurtosis(F.col("l_quantity")).as("ku")
    ).select(
      stats_count(F.col("s")), stats_sum(F.col("s")), stats_min(F.col("s")),
      stats_max(F.col("s")), stats_var(F.col("s"), 0),
      stats_skew(F.col("s"), bias = true), stats_kurt(F.col("s"), fisher = true, bias = true),
      F.col("n"), F.col("sum"), F.col("min"), F.col("max"), F.col("vp"), F.col("sk"), F.col("ku")
    ).head()

    assert(row.getLong(0) == row.getLong(7))
    assert(math.abs(row.getDouble(1) - row.getDouble(8)) < 1e-6)
    assert(row.getDouble(2) == row.getDouble(9))
    assert(row.getDouble(3) == row.getDouble(10))
    assert(math.abs(row.getDouble(4) - row.getDouble(11)) < 1e-6)
    assert(math.abs(row.getDouble(5) - row.getDouble(12)) < 1e-6)
    assert(math.abs(row.getDouble(6) - row.getDouble(13)) < 1e-6)
  }

  test("groupwise summary_stats matches built-ins per group") {
    val li = spark.read.parquet(sf("lineitem"))
    val rows = li.groupBy("l_returnflag").agg(
      summary_stats(F.col("l_extendedprice")).as("s"),
      F.avg(F.col("l_extendedprice")).as("avg"),
      F.variance(F.col("l_extendedprice")).as("vs")
    ).select(F.col("l_returnflag"), stats_mean(F.col("s")),
      stats_var(F.col("s"), 1), F.col("avg"), F.col("vs")).collect()
    assert(rows.length >= 2)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(3)) < 1e-9 * math.abs(r.getDouble(3)))
      assert(math.abs(r.getDouble(2) - r.getDouble(4)) < 1e-6 * math.abs(r.getDouble(4)))
    }
  }

  test("tdigest quantiles within tolerance of exact percentiles") {
    val li = spark.read.parquet(sf("lineitem"))
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val est = li.agg(tdigest(F.col("l_extendedprice")).as("t"))
      .select(tdigest_quantiles(F.col("t"), qs).as("q")).head()
      .getSeq[Double](0)
    val exact = li.stat.approxQuantile("l_extendedprice", qs.toArray, 0.0)
    val n = li.count().toDouble
    val sorted = li.select("l_extendedprice").collect().map(_.getDouble(0)).sorted
    qs.zip(est).foreach { case (q, e) =>
      val rank = sorted.count(_ <= e) / n
      assert(math.abs(rank - q) <= 0.012, s"q=$q est=$e rank=$rank")
    }
    // min/max exact
    val mm = li.agg(tdigest(F.col("l_extendedprice")).as("t"))
      .select(tdigest_min(F.col("t")), tdigest_max(F.col("t")),
        tdigest_size(F.col("t"))).head()
    assert(mm.getDouble(0) == sorted.head && mm.getDouble(1) == sorted.last)
    assert(mm.getDouble(2) == n)
  }

  test("tdigest cdf/histogram invariants on orders") {
    val o = spark.read.parquet(sf("orders"))
    val r = o.agg(tdigest(F.col("o_totalprice")).as("t"))
      .select(tdigest_histogram(F.col("t"), 20).as("h"),
        tdigest_cdf(F.col("t"), F.lit(0.0)).as("c0")).head()
    val h = r.getStruct(0)
    val hist = h.getSeq[Double](0)
    val edges = h.getSeq[Double](1)
    assert(hist.length == 20 && edges.length == 21)
    val n = o.count().toDouble
    assert(math.abs(hist.sum - n) < 1e-6)
  }

  test("ss_topk_agg exact at large capacity vs exact group counts") {
    val li = spark.read.parquet(sf("lineitem"))
    val topk = li.agg(ss_topk_agg(F.col("l_partkey"), F.lit(1L), 1024).as("s"))
      .select(F.explode(ss_topk_long(F.col("s"), 10)).as("c"))
      .select("c.item", "c.count", "c.error")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exact = li.groupBy("l_partkey").count()
      .orderBy(F.desc("count"), F.asc("l_partkey"))
      .limit(10).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(topk.forall(_._3 == 0L)) // capacity >= distinct → exact, zero error
    assert(topk.map(t => t._1 -> t._2).toMap.values.sum == exact.map(_._2).sum)
    // same multiset of counts and same items where counts separate
    assert(topk.map(_._2).sorted.toSeq == exact.map(_._2).sorted.toSeq)
  }

  test("ss_topk_agg string items groupwise on events") {
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val rows = ev.groupBy("user_id").agg(
      ss_topk_agg(F.col("event_type"), F.lit(1L), 64).as("s"))
      .select(F.col("user_id"), ss_topk_string(F.col("s"), 3).as("top"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val top = r.getSeq[Row](1)
      assert(top.nonEmpty && top.forall(_.getLong(1) > 0))
    }
  }

  test("SQL registration: all functions callable from spark.sql") {
    spark.read.parquet(sf("lineitem")).createOrReplaceTempView("li")
    val r = spark.sql(
      """SELECT tdigest_quantile(tdigest(l_quantity), 0.5) AS med,
        |       stats.count AS n,
        |       ss_size(ss_topk_agg(l_partkey, 1L, 100)) AS sz
        |FROM (SELECT *, 1 AS g FROM li)
        |GROUP BY g
        |HAVING n > 0
        |""".stripMargin.replace("stats.count", "summary_stats(l_quantity).count"))
      .head()
    assert(r.getDouble(0) > 0 && r.getLong(1) > 0 && r.getInt(2) == 100)
  }

  test("sketch persistence: parquet round-trip + merge-agg equivalence (Q12)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-sketch").toString
    val li = spark.read.parquet(sf("lineitem"))
    // per-group sketches written to parquet
    li.groupBy("l_returnflag").agg(
      tdigest(F.col("l_extendedprice")).as("td"),
      summary_stats(F.col("l_extendedprice")).as("st"),
      ss_topk_agg(F.col("l_partkey"), F.lit(1L), 256).as("ss"))
      .write.mode("overwrite").parquet(s"$dir/sk")
    val back = spark.read.parquet(s"$dir/sk")
    val merged = back.agg(
      tdigest_merge_agg(F.col("td")).as("td"),
      stats_merge_agg(F.col("st")).as("st"),
      ss_merge_agg(F.col("ss")).as("ss"))
      .select(tdigest_size(F.col("td")), stats_count(F.col("st")),
        tdigest_quantile(F.col("td"), 0.5)).head()
    val n = li.count()
    assert(merged.getDouble(0) == n.toDouble)
    assert(merged.getLong(1) == n)
    // median of merged sketch still within tolerance
    val sorted = li.select("l_extendedprice").collect().map(_.getDouble(0)).sorted
    val rank = sorted.count(_ <= merged.getDouble(2)).toDouble / n
    assert(math.abs(rank - 0.5) < 0.02)
  }

  test("distributed merge == single partition within invariants (Q10)") {
    val li = spark.read.parquet(sf("lineitem"))
    val s1 = li.repartition(13).agg(summary_stats(F.col("l_quantity")).as("s"))
      .select(stats_count(F.col("s")), stats_sum(F.col("s")), stats_var(F.col("s"), 0)).head()
    val s2 = li.coalesce(1).agg(summary_stats(F.col("l_quantity")).as("s"))
      .select(stats_count(F.col("s")), stats_sum(F.col("s")), stats_var(F.col("s"), 0)).head()
    assert(s1.getLong(0) == s2.getLong(0))
    assert(math.abs(s1.getDouble(1) - s2.getDouble(1)) < 1e-7)
    assert(math.abs(s1.getDouble(2) - s2.getDouble(2)) < 1e-7)
  }

  test("tdigest weighted aggregation uses the weight column") {
    val li = spark.read.parquet(sf("lineitem"))
    val sz = li.agg(tdigest(F.col("l_extendedprice"), F.col("l_quantity")).as("t"))
      .select(tdigest_size(F.col("t"))).head().getDouble(0)
    val wsum = li.agg(F.sum("l_quantity")).head().getDouble(0)
    assert(math.abs(sz - wsum) < 1e-6)
  }

  test("tdigest_scale doubles total weight exactly (T12)") {
    val li = spark.read.parquet(sf("lineitem"))
    val r = li.agg(tdigest(F.col("l_quantity")).as("t"))
      .select(tdigest_size(tdigest_scale(F.col("t"), 2.5))).head().getDouble(0)
    val n = li.count().toDouble
    assert(math.abs(r - 2.5 * n) < 1e-6)
  }

  test("ss_topk_agg binary keys round-trip raw bytes incl. >127 (S1 object arm)") {
    import spark.implicits._
    import graft.api.{functions => gf}
    import org.apache.spark.sql.functions._
    val payloads = Seq(
      Array[Byte](0, 1, -1, 127, -128), Array[Byte](0, 1, -1, 127, -128),
      Array[Byte](0, 1, -1, 127, -128), Array[Byte](42), Array[Byte](42),
      Array[Byte](-5, -6))
    val df = payloads.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("id", "payload")
    val out = df.agg(gf.ss_topk_agg(col("payload"), lit(1L), 10).as("sk"))
      .select(explode(gf.ss_topk_binary(col("sk"), 10)).as("c"))
      .select(col("c.item"), col("c.count"))
      .collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1)))
    assert(out.toSet == Set(
      (Seq[Byte](0, 1, -1, 127, -128), 3L), (Seq[Byte](42), 2L), (Seq[Byte](-5, -6), 1L)))
    // persist + merge path preserves binary tag
    val sk = df.agg(gf.ss_topk_agg(col("payload"), lit(1L), 10).as("sk"))
    val merged = sk.union(sk).agg(gf.ss_merge_agg(col("sk")).as("m"))
      .select(explode(gf.ss_topk_binary(col("m"), 10)).as("c"))
      .select(col("c.item"), col("c.count")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1)))
    assert(merged.toSet == Set(
      (Seq[Byte](0, 1, -1, 127, -128), 6L), (Seq[Byte](42), 4L), (Seq[Byte](-5, -6), 2L)))
  }

  test("an ss_topk_agg buffer allocates by the items it has seen, not by its capacity") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal}
    import org.apache.spark.sql.types.LongType
    val agg = SpaceSavingAgg(BoundReference(0, LongType, nullable = false), Literal(1L), Literal(32768))
    val rows = Seq(3L, 5L, 3L, 7L).map(x => new GenericInternalRow(Array[Any](x)))
    def fill(): Unit = {
      val buf = agg.createAggregationBuffer()
      rows.foreach(agg.update(buf, _))
      assert(buf.sketch.size == 3)
    }
    fill() // warm up: class loading and the capacity's lazy val
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val id = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(id)
    fill()
    assert(mx.getThreadAllocatedBytes(id) - before < 64 * 1024)
  }
}
