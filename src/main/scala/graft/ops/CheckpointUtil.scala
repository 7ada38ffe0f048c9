package graft.ops

import org.apache.logging.log4j.{Level, LogManager, Marker}
import org.apache.logging.log4j.core.{Filter, LogEvent, Logger, LoggerContext}
import org.apache.logging.log4j.core.filter.AbstractFilter
import org.apache.logging.log4j.message.Message
import org.apache.spark.sql.DataFrame

/** Storage hygiene for iterative localCheckpoint chains. */
private[graft] object CheckpointUtil {

  /** Release the storage behind a localCheckpoint'd frame. Dataset.unpersist
    * is a no-op here (checkpoint blocks live on the RDD, not in the cache
    * manager), so unpersist the LogicalRDD leaf's RDD directly. Safe only
    * once nothing will read the frame again — callers free a round's state
    * AFTER the next round's checkpoint has eagerly materialized. The FINAL
    * checkpoint of a loop must stay live while its result frame is consumed;
    * the ContextCleaner reclaims it when the RDD becomes unreachable. */
  def freeCheckpoint(df: DataFrame): Unit = {
    quietLineageWarning
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  // Unpersisting a locally-checkpointed RDD logs a WARN per RDD ("... its
  // lineage has been truncated and cannot be recomputed after
  // unpersisting"), which every free here expects; a full-suite sweep frees
  // thousands. Drop that one message, once per JVM, with a context-wide
  // filter: every other WARN, from org.apache.spark.rdd included, still logs.
  private lazy val quietLineageWarning: Unit =
    try {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val f = new LineageTruncatedFilter
      f.start()
      ctx.getConfiguration.addFilter(f)
      ctx.updateLoggers()
    } catch { case _: Throwable => () }

  /** Suite-level storage hygiene: drop EVERY persisted RDD still registered
    * with the context. localCheckpoint blocks are MEMORY_AND_DISK and are
    * otherwise freed only when a full GC lets the ContextCleaner notice the
    * RDD is unreachable — a 380-gate suite in one JVM accumulates two reps'
    * worth of blocks per gate until storage pressure evicts execution memory
    * (round-14: q51–q57 ran 5–11× slower at the END of the 32-core sweep but
    * were normal at 8 cores and normal in isolation). Safe between gates:
    * every cross-gate memo in SparkEntry is a disk path or plain value,
    * never a DataFrame, so nothing re-reads a freed block. `blocking` waits
    * for the blocks to be removed, so timed runs that follow start clean. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession, blocking: Boolean = false): Unit = {
    quietLineageWarning
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking))
  }
}

/** Denies exactly Spark's lineage-truncation WARN; neutral on everything else. */
private final class LineageTruncatedFilter
  extends AbstractFilter(Filter.Result.DENY, Filter.Result.NEUTRAL) {

  private def result(msg: String): Filter.Result =
    if (msg != null && msg.contains("its lineage has been truncated")) getOnMatch
    else getOnMismatch

  override def filter(event: LogEvent): Filter.Result =
    if (event.getMessage == null) getOnMismatch
    else result(event.getMessage.getFormattedMessage)
  override def filter(logger: Logger, level: Level, marker: Marker, msg: String,
      params: AnyRef*): Filter.Result = result(msg)
  override def filter(logger: Logger, level: Level, marker: Marker, msg: AnyRef,
      t: Throwable): Filter.Result = result(if (msg == null) null else msg.toString)
  override def filter(logger: Logger, level: Level, marker: Marker, msg: Message,
      t: Throwable): Filter.Result = result(if (msg == null) null else msg.getFormattedMessage)
}
