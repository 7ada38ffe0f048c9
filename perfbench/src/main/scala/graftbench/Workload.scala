package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one measured run produced. `e2e` is reported with tracing off,
  * `layers` with it on. */
final case class Outcome(attempted: Int, failed: Int, firstError: Option[String],
    e2e: Map[String, Double], layers: Map[String, Double])

final case class RunCtx(seconds: Double, tracer: Tracer, listener: JobListener, scratch: String) {
  def trace: Boolean = tracer.enabled
}

trait Workload {
  def name: String
  /** Spark task threads for `nproc` cores: one core stays with the main
    * thread (planning, collecting, checking), the JIT and GC. */
  def threads(nproc: Int): Int = math.max(1, nproc - 1)
  /** Set-up is repeated this many times and its median reported. */
  def setupReps: Int = 3
  /** Generates the inputs under `dir` and prepares what the jobs read.
    * Called several times; the last call's inputs are the measured ones. */
  def setup(spark: SparkSession, dir: String): Unit
  def run(spark: SparkSession, ctx: RunCtx): Outcome
}

object Stat {
  /** Linear-interpolated quantile of unsorted samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}

/** A closed loop of identical batch jobs: the next job is submitted when
  * the previous one has returned, for the run's measured seconds. Latency
  * is submission to collected result, including DataFrame build and plan.
  * Every job's result, warm-up jobs included, is checked against the
  * oracle outside the timing. */
abstract class BatchWorkload extends Workload {
  /** Input rows (or stored sketches, or documents) one job consumes. */
  def items: Long
  /** The tail percentile reported: the highest with >= 10 samples beyond
    * it at this workload's job rate. It is taken within each quarter of the
    * measured jobs and the median of the four reported, so a burst of host
    * load in one quarter does not set it. */
  def tailQ: Double
  /** The job, built through graft's public API. */
  def job(spark: SparkSession): DataFrame
  def check(rows: Array[Row]): Option[String]
  /** Per-layer numbers measured outside the job loop (traced runs only);
    * an exception counts as one failed attempt. */
  def probe(spark: SparkSession, ctx: RunCtx, lastJob: DataFrame): Map[String, Double]

  /** Untimed jobs before measuring: at least this many seconds and three
    * jobs. The JIT compiles for most of a minute (over a core's worth at
    * first) and job latency falls with it; after 7 s it still fell by a
    * third over the next 20 s, and how far depended on the host's load. */
  private val WarmupSeconds = 25.0

  def run(spark: SparkSession, ctx: RunCtx): Outcome = {
    val sc = spark.sparkContext
    val tr = ctx.tracer
    var attempted = 0
    var failed = 0
    var firstError = Option.empty[String]
    val plain = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val groups = ArrayBuffer.empty[String]
    var last: DataFrame = null

    def once(i: Int, measured: Boolean): Unit = {
      val spanned = measured && ctx.trace && i % 2 == 1
      val group = s"$name-$i"
      sc.setJobGroup(group, name, interruptOnCancel = false)
      if (spanned) tr.newJob(i)
      val t = if (spanned) tr else Tracer.Off
      attempted += 1
      val err = try {
        val t0 = System.nanoTime()
        val rows = t.span("job", "bench") {
          val df = t.span("build", "api")(job(spark))
          if (spanned) t.span("plan", "api")(df.queryExecution.executedPlan)
          last = df
          t.span("execute", "engine")(df.collect())
        }
        val ms = (System.nanoTime() - t0) / 1e6
        if (measured) { (if (spanned) traced else plain) += ms; groups += group }
        t.span("check", "bench")(check(rows))
      } catch { case e: Exception => Some(s"job failed: $e") }
      if (err.isDefined) {
        failed += 1
        if (firstError.isEmpty) firstError = err
      }
    }

    val w0 = System.nanoTime()
    var w = 0
    while (w < 3 || (System.nanoTime() - w0) / 1e9 < WarmupSeconds) { once(w, measured = false); w += 1 }
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds) { once(i, measured = true); i += 1 }
    sc.clearJobGroup()

    val p50 = Stat.median(plain)
    val e2e = Map(
      "latency_p50_ms" -> p50,
      "latency_tail_ms" -> Stat.median(plain.grouped((plain.size + 3) / 4).map(Stat.quantile(_, tailQ)).toSeq),
      "rows_per_s" -> items / (p50 / 1e3))
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      ctx.listener.drain()
      val js = groups.flatMap(g => ctx.listener.stats(g))
      val ps = PlanStats.of(last.queryExecution.executedPlan)
      val self = tr.selfMsByLayer(_.job >= 0)
      val tracedJobs = traced.size.max(1).toDouble
      Map(
        "job.cpu_ms" -> Stat.median(js.map(_.cpuMs)),
        "job.gc_ms" -> Stat.median(js.map(_.gcMs)),
        "job.tasks" -> Stat.median(js.map(_.tasks.toDouble)),
        "job.task_skew" -> Stat.median(js.map(_.skew)),
        "agg.peak_memory_bytes" -> Stat.median(js.map(_.peakExecMemory.toDouble)),
        "agg.sort_fallback_tasks" -> ps.sortFallbackTasks.toDouble,
        "agg.spill_bytes" -> ps.aggSpillBytes.toDouble,
        "agg.shuffle_bytes" -> ps.shuffleBytes.toDouble,
        "agg.shuffle_records" -> ps.shuffleRecords.toDouble,
        "agg.fetch_wait_ms" -> ps.fetchWaitMs.toDouble,
        "sources.scan_ms" -> ps.scanMs.toDouble,
        "sources.scan_bytes" -> ps.scanBytes.toDouble,
        "api.plan_ms" -> Stat.median((0 until 10).map { _ =>
          val t0 = System.nanoTime(); job(spark).queryExecution.executedPlan
          (System.nanoTime() - t0) / 1e6
        }),
        "trace.overhead_pct" -> 100.0 * (Stat.median(traced) - p50) / p50,
        "trace.api_self_ms" -> self.getOrElse("api", 0.0) / tracedJobs,
        "trace.engine_self_ms" -> self.getOrElse("engine", 0.0) / tracedJobs,
        "trace.bench_self_ms" -> self.getOrElse("bench", 0.0) / tracedJobs) ++
        (try probe(spark, ctx, last) catch { case e: Exception =>
          attempted += 1
          failed += 1
          if (firstError.isEmpty) firstError = Some(s"probe failed: $e")
          Map.empty[String, Double]
        })
    }
    Outcome(attempted, failed, firstError, e2e, layers)
  }
}
