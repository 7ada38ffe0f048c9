package graftbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import graft.core.{SpaceSaving, TDigest}
import graft.streaming.StreamingSketches
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** stream_window: an open loop into `StreamingSketches.windowedSketches`.
  *
  * A generator thread appends seeded events to a MemoryStream at a fixed
  * rate; each event's event time is its scheduled time, so event time
  * advances with the schedule and the watermark closes windows. The query
  * runs in update mode on a processing-time trigger and emits through
  * foreachBatch. An event's latency runs from when it was due to when the
  * first micro-batch that includes it has emitted, so generator lag
  * counts; the tail is the median over the open loop's seconds of each
  * second's p99. A second phase appends a fixed backlog at once and times
  * its drain. State-store round trips of serialized sketches and per-batch
  * planning dominate; kernel adds are a small share. */
final class StreamWindow(seed: Long, seconds: Double) extends Workload {
  import StreamWindow._
  val name = "stream_window"
  /** A set-up takes a few hundred ms and the first runs cold, so more
    * repeats keep the median off the warming ones. */
  override val setupReps = 7
  private var events: Array[Event] = _
  private var stream: MemoryStream[Event] = _
  private var query: StreamingQuery = _
  private val emitted = new ConcurrentHashMap[Long, java.lang.Long]()
  private val latest = mutable.HashMap.empty[(Long, Int), Row]

  private val warmEvents: Int = (P.rate * P.warmSeconds).toInt
  private val open: Int = (P.rate * seconds * OpenShare).toInt

  def setup(spark: SparkSession, dir: String): Unit = {
    if (query != null) query.stop()
    events = Array.tabulate(warmEvents + open + P.drains * P.backlog)(event(P, seed, _))
    emitted.clear()
    latest.clear()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    stream = MemoryStream[Event](sqlCtx.sparkContext.defaultParallelism)
    val sink: (DataFrame, Long) => Unit = (df, id) => {
      val rows = df.collect()
      emitted.put(id, System.nanoTime())
      latest.synchronized(rows.foreach(r => latest((r.getStruct(0).getTimestamp(0).getTime, r.getInt(1))) = r))
    }
    query = sketchesOf(stream.toDF())
      .writeStream.outputMode("update")
      .trigger(Trigger.ProcessingTime(P.triggerMs))
      .option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch(sink)
      .start()
  }

  private def sketchesOf(df: DataFrame): DataFrame =
    StreamingSketches.windowedSketches(df, "ts", P.window, "value", "item", Seq("k"),
      P.sketch.compression, P.sketch.capacity, Some(P.watermark))

  /** Add events [from, until) on their schedule; returns one record per
    * addData: (offset, first event, end event, generator lateness ns). */
  private def openLoop(from: Int, until: Int, startNs: Long): ArrayBuffer[(Long, Int, Int, Long)] = {
    val adds = ArrayBuffer.empty[(Long, Int, Int, Long)]
    var sent = from
    while (sent < until) {
      val now = System.nanoTime()
      val due = math.min(until, from + ((now - startNs) * P.rate / 1e9).toLong.toInt)
      if (due > sent) {
        val off = stream.addData(events.slice(sent, due).toSeq).asInstanceOf[LongOffset].offset
        adds += ((off, sent, due, now - dueNs(startNs, from, sent)))
        sent = due
      }
      Thread.sleep(1)
    }
    adds
  }

  private def dueNs(startNs: Long, from: Int, i: Int): Long =
    startNs + ((i - from) * 1e9 / P.rate).toLong

  def run(spark: SparkSession, ctx: RunCtx): Outcome = {
    // warm-up events, then the measured open loop on a fresh schedule
    val startNs = System.nanoTime() + 20_000_000L
    val gen = new Thread(() => { val _ = openLoop(0, warmEvents, startNs) })
    gen.start(); gen.join()
    query.processAllAvailable()
    Main.phase("stream warm")
    val firstMeasured = query.lastProgress.batchId + 1
    val openStart = System.nanoTime() + 20_000_000L
    var adds: ArrayBuffer[(Long, Int, Int, Long)] = null
    val g2 = new Thread(() => adds = openLoop(warmEvents, warmEvents + open, openStart))
    g2.start(); g2.join()
    query.processAllAvailable()
    val lastOpen = query.lastProgress.batchId
    Main.phase("stream open loop")

    // drain: a fixed backlog appended at once, `drains` times
    val drainOffsets = (0 until P.drains).map { d =>
      val from = warmEvents + open + d * P.backlog
      val off = stream.addData(events.slice(from, from + P.backlog).toSeq).asInstanceOf[LongOffset].offset
      query.processAllAvailable()
      off
    }
    Main.phase("stream drained")
    val all = query.recentProgress.toSeq.sortBy(_.batchId)
    query.stop()
    query = null
    val endOffset = all.map(p => p.batchId -> endOf(p)).toMap
    val openBatches = all.filter(p => p.batchId >= firstMeasured && p.batchId <= lastOpen)

    // latency: emission of the first batch whose end offset covers the add
    val withData = all.filter(p => p.numInputRows > 0)
    def emitOf(off: Long): Long = {
      val b = withData.find(p => endOffset(p.batchId) >= off).get.batchId
      emitted.get(b)
    }
    val lat = new Array[Double](open)
    adds.foreach { case (off, a, b, _) =>
      val e = emitOf(off)
      (a until b).foreach(i => lat(i - warmEvents) = (e - dueNs(openStart, warmEvents, i)) / 1e6)
    }
    // the tail: each second of the schedule's own p99, median over the
    // seconds, so one slow micro-batch moves it by one slice, not outright
    val tail = Stat.median(lat.grouped(P.rate).filter(_.length == P.rate)
      .map(s => Stat.quantile(s, 0.99)).toSeq)
    val drainRates = drainOffsets.map { off =>
      val p = withData.find(p => endOffset(p.batchId) >= off).get
      p.numInputRows / (p.durationMs.get("triggerExecution").toDouble / 1e3)
    }

    val (attempted, mismatches, firstError) = compare(spark)
    Main.phase("stream compared")
    val e2e = Map(
      "latency_p50_ms" -> Stat.median(lat),
      "latency_tail_ms" -> tail,
      "rows_per_s" -> Stat.median(drainRates))
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      def p50(key: String) = Stat.median(openBatches.map(_.durationMs.get(key).toDouble))
      def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
        Stat.median(openBatches.flatMap(_.stateOperators.headOption).map(f))
      Map(
        "streaming.trigger_ms_p50" -> p50("triggerExecution"),
        "streaming.add_batch_ms_p50" -> p50("addBatch"),
        "streaming.query_planning_ms_p50" -> p50("queryPlanning"),
        "streaming.wal_commit_ms_p50" -> p50("walCommit"),
        "streaming.state_commit_ms_p50" -> state(_.commitTimeMs.toDouble),
        "streaming.state_rows" -> state(_.numRowsTotal.toDouble),
        "streaming.state_bytes" -> state(_.memoryUsedBytes.toDouble),
        "streaming.batches" -> openBatches.size.toDouble,
        "streaming.backlog_rows_max" -> openBatches.map(_.numInputRows.toDouble).max,
        "streaming.generator_late_ms_max" -> adds.map(_._4 / 1e6).max) ++
        KernelProbe.measure(cellsOf(events.slice(warmEvents, warmEvents + open)), P.sketch, ctx.tracer)
    }
    Outcome(attempted, mismatches, firstError, e2e, layers)
  }

  private def endOf(p: StreamingQueryProgress): Long =
    Option(p.sources.head.endOffset).map(_.trim.toLong).getOrElse(-1L)

  /** Cells (window, key) -> window, for the kernel replay. */
  private def cellsOf(ev: Array[Event]): Cells = {
    val wMs = windowMs
    val w0 = ev.head.ts.getTime / wMs
    val win = ev.map(e => (e.ts.getTime / wMs - w0).toInt)
    val nWin = win.max + 1
    Cells(ev.indices.map(i => win(i) * P.keys.cardinality + ev(i).k).toArray,
      ev.map(_.value), ev.map(_.item), nWin * P.keys.cardinality,
      Array.tabulate(nWin * P.keys.cardinality)(_ / P.keys.cardinality), nWin)
  }

  private def windowMs: Long = P.window.split(" ")(0).toLong * 1000

  /** The streamed final state must equal batch windowedSketches over the
    * same events: the same (window, key) set; HLL registers byte-equal;
    * Space-Saving counters equal as sets; moments count/min/max equal and
    * the rest within 1e-9; t-digest count/min/max equal and both digests
    * within the quantile oracle of the exact per-window values. */
  private def compare(spark: SparkSession): (Int, Int, Option[String]) = {
    import spark.implicits._
    val batch = sketchesOf(spark.createDataset(events.toSeq).toDF()).collect()
      .map(r => (r.getStruct(0).getTimestamp(0).getTime, r.getInt(1)) -> r).toMap
    val streamed = latest.synchronized(latest.toMap)
    val wMs = windowMs
    val exact = events.groupBy(e => (e.ts.getTime / wMs * wMs, e.k))
      .view.mapValues(es => new ExactGroup(es.map(_.value), es.map(_.item))).toMap
    var bad = 0
    var first = Option.empty[String]
    def fail(msg: String): Unit = { bad += 1; if (first.isEmpty) first = Some(msg) }
    if (batch.keySet != streamed.keySet)
      fail(s"window sets differ: ${(batch.keySet diff streamed.keySet).size} missing, " +
        s"${(streamed.keySet diff batch.keySet).size} extra")
    for ((key, b) <- batch; s <- streamed.get(key)) {
      val e = exact(key)
      val err = compareRow(s, b, e)
      err.foreach(m => fail(s"window $key: $m"))
    }
    (batch.size, bad, first)
  }

  private def compareRow(s: Row, b: Row, e: ExactGroup): Option[String] = {
    def td(r: Row) = TDigest.deserialize(r.getAs[Array[Byte]]("value_tdigest"))
    def ss(r: Row) = {
      val x = SpaceSaving.deserializeLong(r.getAs[Array[Byte]]("item_topk"))
      x.topkSlots(x.size).map(i => (x.items(i), x.counts(i), x.errors(i))).toSet
    }
    val (st, bt) = (s.getAs[Row]("value_stats"), b.getAs[Row]("value_stats"))
    val (sd, bd) = (td(s), td(b))
    if (!java.util.Arrays.equals(s.getAs[Array[Byte]]("item_hll"), b.getAs[Array[Byte]]("item_hll")))
      Some("HLL registers differ")
    else if (ss(s) != ss(b)) Some("Space-Saving counters differ")
    else if (Seq(0, 2, 3).exists(i => st.get(i) != bt.get(i))) Some(s"moments count/min/max differ: $st vs $bt")
    else if (Seq(1, 4, 5, 6).exists(i => !Oracle.close(st.getDouble(i), bt.getDouble(i), Oracle.MomentsRtol)))
      Some(s"sum or central moments differ beyond ${Oracle.MomentsRtol}: $st vs $bt")
    else if (sd.totalSize != bd.totalSize || sd.minOrNaN != bd.minOrNaN || sd.maxOrNaN != bd.maxOrNaN)
      Some("t-digest weight/min/max differ")
    else e.checkQuantiles(SketchOutput.Qs, sd.quantiles(SketchOutput.Qs.toArray).toSeq, Oracle.QuantileAtol)
      .orElse(e.checkQuantiles(SketchOutput.Qs, bd.quantiles(SketchOutput.Qs.toArray).toSeq, Oracle.QuantileAtol)
        .map("batch: " + _))
  }
}

object StreamWindow {
  final case class Event(ts: Timestamp, k: Int, value: Double, item: Long)

  final case class Params(rate: Int, warmSeconds: Double, keys: Keys, items: Keys,
      gammaShape: Double, gammaScale: Double, window: String, watermark: String,
      triggerMs: Long, drains: Int, backlog: Int, sketch: SketchParams)
  val P: Params = Params(rate = 4000, warmSeconds = 20.0, keys = new Keys(8, 0.5),
    items = new Keys(48, 1.1), gammaShape = 2.0, gammaScale = 10.0,
    window = "2 seconds", watermark = "2 seconds", triggerMs = 1000L,
    drains = 5, backlog = 30000,
    sketch = SketchParams(compression = 100.0, capacity = 64, hllP = 12))
  /** Share of the measured seconds spent in the open loop; the drain
    * phase takes the rest. */
  val OpenShare = 0.6
  /** Event time of event 0; event i is due i / rate seconds later. */
  val EpochMs = 1_700_000_000_000L

  def event(p: Params, seed: Long, i: Int): Event = {
    val g = new Gen(seed, i)
    val micros = EpochMs * 1000 + (i * 1e6 / p.rate).toLong
    val ts = new Timestamp(micros / 1000)
    ts.setNanos(((micros % 1000000) * 1000).toInt)
    Event(ts, p.keys.draw(g), g.gamma(p.gammaShape, p.gammaScale), p.items.draw(g).toLong)
  }
}
