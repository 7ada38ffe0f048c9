package graft.agg

import graft.SparkTestBase
import graft.api.{functions => gf}
import graft.core.Hll
import org.apache.spark.sql.functions._

/** HyperLogLog sketch (core/Hll.scala, agg/HllAgg.scala). */
class HllSpec extends SparkTestBase {
  import spark.implicits._

  test("core: accuracy within the 3σ envelope across regimes (p=12)") {
    // σ = 1.04/√4096 ≈ 1.63% → 3σ ≈ 4.9%
    for (n <- Seq(100, 5000, 100000, 1000000)) {
      val h = new Hll(12)
      var i = 0
      while (i < n) { h.add(KmvHash.ofLong(i.toLong)); i += 1 }
      val rel = math.abs(h.estimate - n) / n
      assert(rel < 0.049, s"n=$n est=${h.estimate} rel=$rel")
    }
  }

  test("core: merge == single-stream, any split shape; serialize round-trips") {
    val all = new Hll(10)
    val parts = Seq.fill(7)(new Hll(10))
    for (i <- 0 until 20000) {
      val h = KmvHash.ofLong(i.toLong * 31)
      all.add(h)
      parts(i % 7).add(h)
    }
    val merged = parts.head.copy()
    parts.tail.foreach(merged.merge)
    assert(merged.registers.toSeq == all.registers.toSeq)
    val rt = Hll.deserialize(all.serialize())
    assert(rt.p == 10 && rt.registers.toSeq == all.registers.toSeq)
    assert(rt.estimate == all.estimate)
  }

  test("core: estimate's register table equals Math.pow for every byte value") {
    val r = new scala.util.Random(8)
    // every byte value, negative ones included, plus random register files
    val blobs = Seq(Array.tabulate[Byte](256)(_.toByte)) ++
      Seq.fill(5)(Array.tabulate[Byte](256)(_ => r.nextInt(256).toByte)) ++
      Seq(Array.fill[Byte](256)(0), Array.tabulate[Byte](256)(i => (i % 5).toByte))
    blobs.foreach { regs =>
      val h = Hll.deserialize(8.toByte +: regs)
      val mm = 256.0
      val sum = regs.map(b => java.lang.Math.pow(2.0, -b.toDouble)).foldLeft(0.0)(_ + _)
      val raw = 0.7213 / (1.0 + 1.079 / mm) * mm * mm / sum
      val zeros = regs.count(_ == 0)
      val want = if (raw <= 2.5 * mm && zeros > 0) mm * math.log(mm / zeros) else raw
      assert(h.estimate == want)
    }
  }

  test("core: mergeSerialized == merge(deserialize), precision checked") {
    val a = new Hll(6); val b = new Hll(6)
    (0 until 500).foreach { i => a.add(KmvHash.ofLong(i)); b.add(KmvHash.ofLong(i * 7L)) }
    val x = a.copy(); x.merge(Hll.deserialize(b.serialize()))
    val y = a.copy(); y.mergeSerialized(b.serialize())
    assert(y.serialize().toSeq == x.serialize().toSeq)
    assert(intercept[IllegalArgumentException](y.mergeSerialized(new Hll(7).serialize()))
      .getMessage.contains("precision mismatch"))
    assert(intercept[IllegalArgumentException](y.mergeSerialized(Array[Byte](6, 1)))
      .getMessage.contains("corrupt HLL blob"))
  }

  test("agg: small cardinalities are near-exact (linear counting)") {
    val df = (0 until 10000).map(i => i % 37).toDF("v")
    val est = df.agg(gf.hll_distinct(gf.hll_agg(col("v"), 12)))
      .head().getDouble(0)
    assert(math.abs(est - 37) < 1.0, s"est=$est")
  }

  test("agg: registers are identical across partitionings; groupwise works") {
    val df = (0 until 50000).map(i => (i % 5, i.toLong * 7)).toDF("g", "v")
    def xors(parts: Int): Map[Int, Long] =
      df.repartition(parts).groupBy("g")
        .agg(gf.hll_register_xor(gf.hll_agg(col("v"), 11)).as("x"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(xors(1) == xors(17))
  }

  test("agg: type arms match SQL distinctness (string vs numeric)") {
    // distinct STRINGS "1" and "01" differ; longs 1 and 01 don't
    val s = Seq("1", "01", "1").toDF("v")
      .agg(gf.hll_nonzero(gf.hll_agg(col("v"), 12))).head().getInt(0)
    assert(s == 2)
    val d = Seq(1.0, 1.0f.toDouble, -0.0, 0.0).toDF("v")
      .agg(gf.hll_nonzero(gf.hll_agg(col("v"), 12))).head().getInt(0)
    assert(d == 2) // {1.0, 0.0} — −0.0 ≡ 0.0
  }

  test("merge-agg re-aggregation == direct aggregation (persistence shape)") {
    val df = (0 until 30000).map(i => (i % 8, i.toLong)).toDF("b", "v")
    val perBucket = df.groupBy("b").agg(gf.hll_agg(col("v"), 12).as("sk"))
    val reagg = perBucket.agg(
      gf.hll_register_xor(gf.hll_merge_agg(col("sk"))).as("x"),
      gf.hll_distinct(gf.hll_merge_agg(col("sk"))).as("d")).head()
    val direct = df.agg(
      gf.hll_register_xor(gf.hll_agg(col("v"), 12)).as("x"),
      gf.hll_distinct(gf.hll_agg(col("v"), 12)).as("d")).head()
    assert(reagg.getLong(0) == direct.getLong(0))
    assert(reagg.getDouble(1) == direct.getDouble(1))
  }

  test("set ops: union registers == union-stream sketch; intersection tracks truth") {
    // A = [0, 60k), B = [40k, 120k) → |A∪B| = 120k, |A∩B| = 20k
    val a = (0 until 60000).map(_.toLong).toDF("v")
      .agg(gf.hll_agg(col("v"), 12).as("sk"))
    val b = (40000 until 120000).map(_.toLong).toDF("v")
      .agg(gf.hll_agg(col("v"), 12).as("sk"))
    val u = (0 until 120000).map(_.toLong).toDF("v")
      .agg(gf.hll_register_xor(gf.hll_agg(col("v"), 12)).as("x"))
      .head().getLong(0)
    val r = a.crossJoin(b.withColumnRenamed("sk", "skb")).select(
      gf.hll_register_xor(gf.hll_union(col("sk"), col("skb"))).as("ux"),
      gf.hll_distinct(gf.hll_union(col("sk"), col("skb"))).as("du"),
      gf.hll_intersect_est(col("sk"), col("skb")).as("di")).head()
    assert(r.getLong(0) == u) // union sketch ≡ sketch of union stream
    assert(math.abs(r.getDouble(1) - 120000) / 120000 < 0.05)
    assert(math.abs(r.getDouble(2) - 20000) / 20000 < 0.30,
      s"intersect est ${r.getDouble(2)}") // |A∩B| error scales with |A∪B|
    // disjoint sets clamp at 0, never negative
    val dj = (0 until 1000).map(_.toLong).toDF("v")
      .agg(gf.hll_agg(col("v"), 12).as("sk"))
      .crossJoin((1000000 until 1001000).map(_.toLong).toDF("v")
        .agg(gf.hll_agg(col("v"), 12).as("skb")))
      .select(gf.hll_intersect_est(col("sk"), col("skb"))).head().getDouble(0)
    assert(dj >= 0.0 && dj < 200.0, s"disjoint est $dj")
  }

  test("hll_union decodes one side and merges the other from its bytes") {
    val r = new scala.util.Random(31)
    def sketch(p: Int): Array[Byte] = {
      val h = new Hll(p)
      (0 until r.nextInt(3000)).foreach(_ => h.add(r.nextLong()))
      h.serialize()
    }
    val pairs = Seq.fill(20) { val p = 4 + r.nextInt(9); (sketch(p), sketch(p)) }
    // what hll_union returned when it decoded, copied and merged both sides
    val old = pairs.map { case (a, b) =>
      val h = Hll.deserialize(a).copy(); h.merge(Hll.deserialize(b)); h.serialize().toSeq
    }
    assert(pairs.toDF("a", "b").select(gf.hll_union(col("a"), col("b"))).collect()
      .map(_.getAs[Array[Byte]](0).toSeq).toSeq == old)
    val e = intercept[Exception](Seq((sketch(8), sketch(6))).toDF("a", "b")
      .select(gf.hll_union(col("a"), col("b"))).collect())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.endsWith("precision mismatch (8 vs 6)")))
  }

  test("core: precision is checked before the registers are allocated") {
    // 31 once overflowed the register count, 30 allocated 1 GB before failing
    for (p <- Seq(-1, 3, 17, 30, 31)) {
      val e = intercept[IllegalArgumentException](new Hll(p))
      assert(e.getMessage.endsWith("precision must be in [4, 16]"), s"p=$p: ${e.getMessage}")
    }
  }

  test("SQL surface and precision validation") {
    val est = spark.sql(
      "SELECT hll_distinct(hll_agg(id, 12)) FROM range(1000)")
      .head().getDouble(0)
    assert(math.abs(est - 1000) < 50, s"est=$est")
    val e = intercept[Exception](
      spark.sql("SELECT hll_agg(id, 99) FROM range(10)").collect())
    assert(e.getMessage.contains("precision") ||
      (e.getCause != null && e.getCause.getMessage.contains("precision")))
  }
}
