package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.FileSourceScanExec

/** Task-level totals of one benchmark job (all Spark jobs run under its
  * job group). */
final case class JobStats(cpuMs: Double, gcMs: Double, tasks: Int, skew: Double,
    peakExecMemory: Long)

/** Collects task metrics per job group: CPU, GC, task count, the skew of
  * the job's heaviest stage (max / median task duration) and the largest
  * task's peak execution memory. */
final class JobListener extends SparkListener {
  private final class Acc {
    var cpuNs = 0L; var gcMs = 0L; var tasks = 0; var peakMem = 0L
    val stageDur = new java.util.HashMap[Int, ArrayBuffer[Long]]()
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val started = new AtomicInteger()
  private val ended = new AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = groups.computeIfAbsent(g, _ => new Acc)
      a.synchronized {
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
        a.tasks += 1
        a.stageDur.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) += e.taskInfo.duration
      }
    }

  /** Wait until the listener bus has delivered every job end. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (ended.get() < started.get() && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(50) // task-end events of the last job precede its job end
  }

  def stats(group: String): Option[JobStats] = Option(groups.get(group)).map { a =>
    a.synchronized {
      val heaviest = a.stageDur.values.asScala.maxBy(_.sum).sorted
      val median = math.max(1L, heaviest(heaviest.size / 2))
      JobStats(a.cpuNs / 1e6, a.gcMs.toDouble, a.tasks, heaviest.last.toDouble / median, a.peakMem)
    }
  }
}

/** SQL metrics of an executed plan, summed over the operators of each kind. */
final case class PlanStats(sortFallbackTasks: Long, aggSpillBytes: Long,
    shuffleBytes: Long, shuffleRecords: Long, fetchWaitMs: Long,
    scanMs: Long, scanBytes: Long)

object PlanStats {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil // counted where it first ran
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def of(plan: SparkPlan): PlanStats = {
    val all = nodes(plan)
    def sum(sel: PartialFunction[SparkPlan, SparkPlan], key: String): Long =
      all.collect(sel).flatMap(_.metrics.get(key)).map(_.value).sum
    val agg: PartialFunction[SparkPlan, SparkPlan] = { case a: BaseAggregateExec => a }
    val exch: PartialFunction[SparkPlan, SparkPlan] = { case e: ShuffleExchangeExec => e }
    val scan: PartialFunction[SparkPlan, SparkPlan] = { case s: FileSourceScanExec => s }
    PlanStats(
      sortFallbackTasks = sum(agg, "numTasksFallBacked"),
      aggSpillBytes = sum(agg, "spillSize"),
      shuffleBytes = sum(exch, "shuffleBytesWritten"),
      shuffleRecords = sum(exch, "shuffleRecordsWritten"),
      fetchWaitMs = sum(exch, "fetchWaitTime"),
      scanMs = sum(scan, "scanTime"),
      scanBytes = sum(scan, "filesSize"))
  }
}
