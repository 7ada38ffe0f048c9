package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named gates to files — the round-14
  * optimization deliverable (`plans/r14/<gate>_{before,after}.txt`).
  *
  * usage: PlanDump <outDir> <suffix> <gate>[,<gate>...] [sfDir]
  * Writes <outDir>/<gate>_<suffix>.txt for each gate. Uses the same session
  * shape as Bench so the dumped plan is the benched plan (shuffle
  * partitions = cpus, UTC, AQE defaults untouched).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <gates> [sfDir]")
    val outDir = args(0)
    val suffix = args(1)
    val gates = args(2).split(',').toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
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
    Files.createDirectories(Paths.get(outDir))
    try gates.foreach { name =>
      // resolve INSIDE the try: an unknown name must skip just this gate,
      // not abort the remaining dumps (ADVICE r14)
      try {
        val fn = SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown gate $name"))
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        System.err.println(s"[plandump] wrote $name ($suffix)")
        // inside the try too: a context left broken by this gate must not
        // abort the remaining dumps (the next gate's release frees this one's)
        graft.ops.CheckpointUtil.releaseAll(spark)
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    } finally spark.stop()
  }
}
