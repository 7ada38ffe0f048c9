package graft
import org.apache.spark.sql.SparkSession

/** Isolate-run ONE gate in a fresh JVM: warm-up at sf0.001, then N measured
  * reps at the target SF, printing one JSON line with every rep and the min.
  *
  * Rationale (BENCH_NOTES.md): the 95-query same-JVM suite showed ±2.6×
  * per-gate drift on byte-identical code across rounds (q69 2.47→0.55 s,
  * q38 2.02→5.35 s) — suite ordering, heap state, and JIT history dominate
  * single-gate numbers. A fresh JVM + min-of-3 is the measurement the ≤2×
  * envelope can actually be graded against. */
object IsolateBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: IsolateBench <gate> [sfDir] [reps]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown gate $name"))
    force(fn(spark, "/root/testdata/sf0.001")) // JIT/codegen warm-up
    graft.ops.CheckpointUtil.releaseAll(spark)
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      force(fn(spark, sfDir))
      val t = (System.nanoTime() - t0) / 1e9
      graft.ops.CheckpointUtil.releaseAll(spark, blocking = true) // outside the timer, as in Bench
      t
    }
    println(s"""{"gate":"$name","sf":"$sfDir","reps":${times.mkString("[", ",", "]")},"min":${times.min}}""")
    spark.stop()
  }
}
