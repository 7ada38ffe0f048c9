package graftbench

import graft.api.{functions => gf}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** The finisher projection over the four sketch columns (td, ss, st,
  * hll), the oracle check of its rows, and the `expr` probe that times the
  * finishers alone. */
object SketchOutput {
  val Qs: Seq[Double] = Seq(0.01, 0.1, 0.5, 0.9, 0.99)

  def finishers(key: String, topN: Int): Seq[Column] = Seq(
    col(key),
    gf.tdigest_quantiles(col("td"), Qs).as("q"),
    gf.ss_topk_long(col("ss"), topN).as("top"),
    gf.stats_count(col("st")).as("n"),
    gf.stats_mean(col("st")).as("mean"),
    gf.stats_var(col("st")).as("var"),
    gf.stats_skew(col("st")).as("skew"),
    gf.stats_kurt(col("st")).as("kurt"),
    gf.hll_distinct(col("hll")).as("distinct"))

  def check(rows: Array[Row], exact: Int => ExactGroup, keys: Int, topK: Int,
      hllP: Int): Option[String] =
    if (rows.length != keys) Some(s"${rows.length} result rows, expected $keys")
    else rows.iterator.flatMap { r =>
      val k = r.getInt(0)
      val e = exact(k)
      val top = r.getSeq[Row](2).map(t => (t.getLong(0), t.getLong(1), t.getLong(2)))
      e.checkQuantiles(Qs, r.getSeq[Double](1), Oracle.QuantileAtol)
        .orElse(e.checkTopK(top, topK))
        .orElse(e.checkMoments(r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7), Oracle.MomentsRtol))
        .orElse(e.checkDistinct(r.getDouble(8), hllP))
        .map(msg => s"key $k: $msg")
    }.nextOption()

  /** Finishers alone over already-aggregated sketches, to a noop sink. */
  def finishMs(spark: SparkSession, sketches: DataFrame, key: String, topN: Int): Double = {
    val local = spark.createDataFrame(
      java.util.Arrays.asList(sketches.collect(): _*), sketches.schema).cache()
    local.count()
    val ms = Stat.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      local.select(finishers(key, topN): _*).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    })
    local.unpersist()
    ms
  }
}

/** sketch_rollup: the merge path (dask's tree-reduce of per-partition
  * sketches). Setup stores one row of four sketches per (key, hour); the
  * job merges them per key and finishes them. No `add` runs: deserialize,
  * merge, serialize, the shuffle of sketch bytes and ObjectHashAggregate's
  * sort fallback (far more than 128 keys per task) do the work. */
final class SketchRollup(seed: Long) extends BatchWorkload {
  import SketchRollup._
  val name = "sketch_rollup"
  val items: Long = P.keys.toLong * P.hours
  val tailQ = 0.75
  private var input: DataFrame = _

  def setup(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val (p, s) = (P, seed)
    spark.sparkContext.parallelize(0 until p.files, p.files)
      .flatMap(c => chunk(p, s, c))
      .toDF("key", "hour", "value", "item")
      .groupBy("key", "hour").agg(
        gf.tdigest(col("value"), lit(1.0), p.sketch.compression).as("td"),
        gf.ss_topk_agg(col("item"), lit(1L), p.sketch.capacity).as("ss"),
        gf.summary_stats(col("value")).as("st"),
        gf.hll_agg(col("item"), p.sketch.hllP).as("hll"))
      .write.parquet(dir)
    input = spark.read.parquet(dir)
  }

  /** Raw rows as cells (key, hour) -> key; chunks emit them key-major. */
  private lazy val raw: Cells = {
    val n = P.keys * P.hours * P.rowsPerCell
    val (c, v, it) = (new Array[Int](n), new Array[Double](n), new Array[Long](n))
    var i = 0
    (0 until P.files).iterator.flatMap(chunk(P, seed, _)).foreach { r =>
      c(i) = r._1 * P.hours + r._2; v(i) = r._3; it(i) = r._4; i += 1
    }
    Cells(c, v, it, P.keys * P.hours, Array.tabulate(P.keys * P.hours)(_ / P.hours), P.keys)
  }
  private lazy val exact: Array[ExactGroup] = {
    val per = P.hours * P.rowsPerCell
    Array.tabulate(P.keys)(k => new ExactGroup(raw.value.slice(k * per, (k + 1) * per),
      raw.item.slice(k * per, (k + 1) * per)))
  }

  private def merged(spark: SparkSession): DataFrame =
    input.groupBy("key").agg(
      gf.tdigest_merge_agg(col("td")).as("td"),
      gf.ss_merge_agg(col("ss")).as("ss"),
      gf.stats_merge_agg(col("st")).as("st"),
      gf.hll_merge_agg(col("hll")).as("hll"))

  def job(spark: SparkSession): DataFrame =
    merged(spark).select(SketchOutput.finishers("key", 4 * P.topK): _*)

  def check(rows: Array[Row]): Option[String] =
    SketchOutput.check(rows, exact, P.keys, P.topK, P.sketch.hllP)

  def probe(spark: SparkSession, ctx: RunCtx, lastJob: DataFrame): Map[String, Double] = {
    // the first tenth of the keys, every hour
    val n = P.keys / 10 * P.hours * P.rowsPerCell
    val c = raw.copy(cell = raw.cell.take(n), value = raw.value.take(n), item = raw.item.take(n),
      nCells = P.keys / 10 * P.hours, nTargets = P.keys / 10)
    KernelProbe.measure(c, P.sketch, ctx.tracer) + ("expr.finish_ms" -> ctx.tracer.span("finish", "expr")(
      SketchOutput.finishMs(spark, merged(spark), "key", 4 * P.topK))) ++
      new DocDedup(seed).probe(spark, ctx.tracer, ctx.scratch)
  }
}

object SketchRollup {
  final case class Params(keys: Int, hours: Int, rowsPerCell: Int, files: Int,
      items: Keys, gammaShape: Double, gammaScale: Double, sketch: SketchParams, topK: Int)
  val P: Params = Params(keys = 6000, hours = 2, rowsPerCell = 64, files = 8,
    items = new Keys(24, 1.2), gammaShape = 2.0, gammaScale = 10.0,
    sketch = SketchParams(compression = 100.0, capacity = 32, hllP = 8), topK = 3)

  /** Rows of keys [c·keys/files, (c+1)·keys/files), every hour. */
  def chunk(p: Params, seed: Long, c: Int): Iterator[(Int, Int, Double, Long)] = {
    val g = new Gen(seed, c)
    val per = p.keys / p.files
    for {
      k <- Iterator.range(c * per, (c + 1) * per)
      h <- Iterator.range(0, p.hours)
      _ <- Iterator.range(0, p.rowsPerCell)
    } yield {
      val v = g.gamma(p.gammaShape, p.gammaScale)
      (k, h, v, p.items.draw(g).toLong)
    }
  }
}
