package graftbench

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession

/** Runs one workload once and prints, last on stdout, one JSON object:
  * {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
  * metrics are the end-to-end ones, with --trace 1 the per-layer ones.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  */
object Main {
  /** Every metric this benchmark reports, with its unit. BENCHMARK.json
    * lists the same names. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
    "rows_per_s" -> "1/s", "peak_rss_mb" -> "MB")
  val PerLayer: Seq[(String, String)] = Seq(
    "core.tdigest_add_ns" -> "ns", "core.spacesaving_add_ns" -> "ns",
    "core.moments_add_ns" -> "ns", "core.hll_add_ns" -> "ns",
    "core.tdigest_merge_us" -> "us", "core.spacesaving_merge_us" -> "us",
    "core.serialize_us" -> "us", "core.deserialize_us" -> "us",
    "core.sketch_bytes" -> "bytes", "core.tdigest_quantile_us" -> "us",
    "agg.update_ns" -> "ns", "agg.merge_update_ns" -> "ns",
    "agg.sort_fallback_tasks" -> "count", "agg.spill_bytes" -> "bytes",
    "agg.peak_memory_bytes" -> "bytes", "agg.shuffle_bytes" -> "bytes",
    "agg.shuffle_records" -> "count", "agg.fetch_wait_ms" -> "ms",
    "job.cpu_ms" -> "ms", "job.gc_ms" -> "ms", "job.tasks" -> "count",
    "job.task_skew" -> "ratio", "api.plan_ms" -> "ms",
    "expr.finish_ms" -> "ms", "expr.minhash_ms" -> "ms",
    "sources.scan_ms" -> "ms", "sources.scan_bytes" -> "bytes",
    "streaming.trigger_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.query_planning_ms_p50" -> "ms", "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.state_commit_ms_p50" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "bytes", "streaming.batches" -> "count",
    "streaming.backlog_rows_max" -> "count", "streaming.generator_late_ms_max" -> "ms",
    "ops.candidates" -> "count", "ops.verified_pairs" -> "count",
    "ops.candidate_precision" -> "ratio",
    "trace.overhead_pct" -> "%", "trace.api_self_ms" -> "ms",
    "trace.engine_self_ms" -> "ms", "trace.bench_self_ms" -> "ms")

  /** Workload constructors, from (seed, measured seconds). */
  val Workloads: Map[String, (Long, Double) => Workload] = Map(
    "sketch_rollup" -> ((s, _) => new SketchRollup(s)), "stream_window" -> (new StreamWindow(_, _)))

  private val started = System.nanoTime()
  def phase(msg: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - started) / 1e9}%6.1f s  $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val trace = opt("trace") == "1"
    val mk = Workloads.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")}; one of ${Workloads.keys.mkString(", ")}"))
    val seconds = opt("seconds").toDouble
    val w = mk(opt("seed").toLong, seconds)

    phase("jvm up")
    val calBefore = Calibration.ms()
    phase("calibrated")
    val nproc = Runtime.getRuntime.availableProcessors
    val threads = w.threads(nproc)
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graftbench-${w.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    phase("session up")

    val setups = (0 until w.setupReps).map { r =>
      val t0 = System.nanoTime()
      w.setup(spark, work.resolve(s"input-$r").toString)
      (System.nanoTime() - t0) / 1e9
    }
    phase(f"set up ${w.setupReps}x")
    val tracer = new Tracer(trace)
    val out = w.run(spark, RunCtx(seconds, tracer, listener, work.resolve("probe").toString))
    phase("measured")
    if (trace) tracer.dump(work.resolve("spans.jsonl"))
    spark.stop()
    val calAfter = Calibration.ms()
    phase("stopped")

    val metrics: Seq[(String, Double, String)] =
      if (trace) PerLayer.map { case (n, u) => (n, out.layers.getOrElse(n, 0.0), u) }
      else {
        val all = out.e2e ++ Map("setup_s" -> Stat.median(setups), "peak_rss_mb" -> peakRssMb)
        EndToEnd.map { case (n, u) => (n, all(n), u) }
      }
    val drift = (calAfter - calBefore) / calBefore
    println(f"# ${w.name} seed=${opt("seed")} local[$threads] jobs=${out.attempted} failed=${out.failed}")
    println(f"# host calibration: before $calBefore%.1f ms, after $calAfter%.1f ms, drift ${drift * 100}%+.1f%%" +
      (if (math.abs(drift) > Calibration.Tolerance) "  [FLAGGED: host load changed during the run]" else ""))
    out.firstError.foreach(e => println(s"# first failure: $e"))
    metrics.foreach { case (n, v, u) => println(f"# $n%-34s $v%16.4f $u") }
    val correct = out.failed == 0 && out.attempted > 0 && metrics.forall(m => java.lang.Double.isFinite(m._2))
    val body = metrics.map { case (n, v, u) =>
      val x = if (java.lang.Double.isFinite(v)) v.toString else "0"
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": {$body}}""")
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}

/** Host-load sentinel: a fixed amount of single-thread CPU work, timed
  * before and after a run. A run whose two timings differ by more than
  * `Tolerance` shared the host with changing load and is flagged. */
object Calibration {
  val Tolerance = 0.15

  def ms(): Double = {
    val times = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var x = 0x2545f4914f6cdd1dL
      var acc = 0.0
      var i = 0
      while (i < 20_000_000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += (x & 0xffff).toDouble * 1e-5
        i += 1
      }
      if (acc == 42.0) println("") // keeps the loop live
      (System.nanoTime() - t0) / 1e6
    }
    Stat.median(times)
  }
}
