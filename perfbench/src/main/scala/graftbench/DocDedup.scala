package graftbench

import graft.api.{functions => gf}
import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `Dedup.minhashPairs` over generated documents with planted
  * near-duplicates: shingle, minhash signature, band self-join, exact
  * Jaccard verification. It covers the `ops` and `expr` text path that the
  * sketch workloads never touch. It is not a timed workload (its job
  * latency needs a longer warm-up than the run budget leaves a third
  * workload); `sketch_rollup`'s traced run calls `probe` for the `ops` and
  * `expr.minhash_ms` layer metrics. */
final class DocDedup(seed: Long) {
  import DocDedup._
  private var input: DataFrame = _

  private def setup(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val (p, s) = (P, seed)
    spark.sparkContext.parallelize(0 until p.docs, p.files)
      .map(i => (i.toLong, text(p, s, i)))
      .toDF("id", "text").write.parquet(dir)
    input = spark.read.parquet(dir)
  }

  /** Planted pairs (base, copy); the copy's id is the larger. */
  private val planted: Set[(Long, Long)] =
    (P.docs - P.pairs until P.docs).map(j => (source(P, seed, j).toLong, j.toLong)).toSet

  private def job: DataFrame =
    Dedup.minhashPairs(input, "id", "text", P.shingle, P.hashes, P.bands, P.threshold, P.lshSeed)

  private def check(rows: Array[Row]): Option[String] = {
    val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = planted.diff(found)
    if (missed.nonEmpty) Some(s"missed ${missed.size} of ${planted.size} planted pairs, e.g. ${missed.head}")
    else rows.collectFirst {
      case r if r.getLong(0) >= r.getLong(1) || r.getDouble(2) < P.threshold => s"bad pair $r"
    }
  }

  /** Generates the documents under `dir`, runs `minhashPairs` and checks
    * it (an oracle failure throws), then measures the layers. */
  def probe(spark: SparkSession, tr: Tracer, dir: String): Map[String, Double] = {
    setup(spark, dir)
    val lastJob = job
    check(tr.span("minhash_pairs", "ops")(lastJob.collect()))
      .foreach(e => throw new IllegalStateException(s"near-duplicate pairs: $e"))
    val sig = gf.minhash_signature(col("text"), P.shingle, P.hashes, P.lshSeed)
    val minhashMs = tr.span("minhash_signature", "expr")(Stat.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      input.select(sig).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }))
    // candidates: distinct pairs colliding in at least one band, with the
    // same banding minhashPairs applies before verification
    val r = P.hashes / P.bands
    val banded = input.select(col("id"), sig.as("sig"))
      .select(col("id"), posexplode(transform(sequence(lit(0), lit(P.bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * r + lit(1), lit(r))))).as(Seq("band", "key")))
    val candidates = tr.span("candidates", "ops")(
      banded.as("a").join(banded.as("b"), Seq("band", "key"))
        .where(col("a.id") < col("b.id")).select(col("a.id"), col("b.id")).distinct().count())
    val verified = tr.span("verified", "ops")(lastJob.count())
    Map("expr.minhash_ms" -> minhashMs, "ops.candidates" -> candidates.toDouble,
      "ops.verified_pairs" -> verified.toDouble,
      "ops.candidate_precision" -> verified.toDouble / math.max(1L, candidates))
  }
}

object DocDedup {
  final case class Params(docs: Int, files: Int, pairs: Int, minTokens: Int, maxTokens: Int,
      vocab: Keys, edits: Int, shingle: Int, hashes: Int, bands: Int, threshold: Double,
      lshSeed: Long)
  val P: Params = Params(docs = 1500, files = 8, pairs = 100, minTokens = 80, maxTokens = 120,
    vocab = new Keys(5000, 1.0), edits = 2, shingle = 3, hashes = 128, bands = 32,
    threshold = 0.7, lshSeed = 42L)

  private def word(i: Int): String = "w" + Integer.toString(i, 36)

  private def tokens(p: Params, seed: Long, i: Int): Array[String] = {
    val g = new Gen(seed, i)
    Array.fill(p.minTokens + g.below(p.maxTokens - p.minTokens + 1))(word(p.vocab.draw(g)))
  }

  /** The base document a planted copy was made from. */
  def source(p: Params, seed: Long, j: Int): Int =
    new Gen(seed ^ 0x5eed, j).below(p.docs - p.pairs)

  /** Documents below docs - pairs are independent; each one above is a
    * copy of a base document with `edits` tokens replaced, spread out so
    * that its shingle Jaccard to the base stays well above the threshold. */
  def text(p: Params, seed: Long, i: Int): String =
    if (i < p.docs - p.pairs) tokens(p, seed, i).mkString(" ")
    else {
      val t = tokens(p, seed, source(p, seed, i)).clone()
      val g = new Gen(seed ^ 0xed17, i)
      (1 to p.edits).foreach(e => t(e * t.length / (p.edits + 1)) = "x" + word(p.vocab.draw(g)))
      t.mkString(" ")
    }
}
