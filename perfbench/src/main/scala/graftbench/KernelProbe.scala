package graftbench

import graft.agg._
import graft.core.{Hll, MomentsSketch, SpaceSaving, SpaceSavingLong, TDigest}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType}

/** A workload's raw observations, as the sketch cells they fall into:
  * every cell becomes one sketch (a group, a (key, hour), a (window, key)),
  * and cells roll up into `target(cell)` when sketches are merged. */
final case class Cells(cell: Array[Int], value: Array[Double], item: Array[Long],
    nCells: Int, target: Array[Int], nTargets: Int)

final case class SketchParams(compression: Double, capacity: Int, hllP: Int)

/** Single-thread replays of a workload's rows through the `core` kernels
  * and through the `agg` layer's public update / merge entry points.
  * Kernel add times double as the one-thread baseline of the job. The agg
  * numbers are self times: the same rows' kernel cost is subtracted. */
object KernelProbe {
  private val Qs = Array(0.01, 0.1, 0.5, 0.9, 0.99)
  private val Reps = 3
  private val WarmRows = 300000
  private val WarmCells = 5000

  /** Median of `reps` timed runs of `body`, which handles `units` rows or
    * cells, after untimed runs over at least `warm` units so the JIT has
    * compiled the loop fully. */
  private def medianNs(reps: Int, units: Int, warm: Int = WarmRows)(body: => Unit): Double = {
    (0 until math.max(1, warm / math.max(1, units))).foreach(_ => body)
    val xs = Array.fill(reps) { val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble }
    xs.sorted.apply(reps / 2)
  }

  private def typed(a: TypedImperativeAggregate[_]): TypedImperativeAggregate[AnyRef] =
    a.asInstanceOf[TypedImperativeAggregate[AnyRef]]

  def measure(c: Cells, p: SketchParams, tr: Tracer): Map[String, Double] = {
    val n = c.cell.length
    val hashes = c.item.map(KmvHash.ofLong)

    // core: kernel adds, one sketch per cell
    var td: Array[TDigest] = null
    var ss: Array[SpaceSavingLong] = null
    var ms: Array[MomentsSketch] = null
    var hl: Array[Hll] = null
    val tdAdd = tr.span("tdigest.add", "core")(medianNs(Reps, n) {
      td = Array.fill(c.nCells)(TDigest(p.compression))
      var i = 0; while (i < n) { td(c.cell(i)).add(c.value(i), 1.0); i += 1 }
      td.foreach(_.flush())
    }) / n
    val ssAdd = tr.span("spacesaving.add", "core")(medianNs(Reps, n) {
      ss = Array.fill(c.nCells)(new SpaceSavingLong(p.capacity))
      var i = 0; while (i < n) { ss(c.cell(i)).add(c.item(i), 1L); i += 1 }
    }) / n
    val msAdd = tr.span("moments.add", "core")(medianNs(Reps, n) {
      ms = Array.fill(c.nCells)(new MomentsSketch)
      var i = 0; while (i < n) { ms(c.cell(i)).add(c.value(i), 1L); i += 1 }
    }) / n
    val hlAdd = tr.span("hll.add", "core")(medianNs(Reps, n) {
      hl = Array.fill(c.nCells)(new Hll(p.hllP))
      var i = 0; while (i < n) { hl(c.cell(i)).add(hashes(i)); i += 1 }
    }) / n

    // agg: the Catalyst aggregates' update over InternalRows (value, item)
    val aggs = Seq(
      TDigestAgg(BoundReference(0, DoubleType, false), Literal(1.0), Literal(p.compression)),
      SpaceSavingAgg(BoundReference(1, LongType, false), Literal(1L), Literal(p.capacity)),
      SummaryStatsAgg(BoundReference(0, DoubleType, false), Literal(1L)),
      HllAgg(BoundReference(1, LongType, false), Literal(p.hllP))).map(typed)
    val rows = Array.tabulate(n)(i => new GenericInternalRow(Array[Any](c.value(i), c.item(i))): InternalRow)
    val aggUpdate = tr.span("aggregates.update", "agg")(medianNs(Reps, n) {
      for (a <- aggs) {
        val bufs = Array.fill(c.nCells)(a.createAggregationBuffer())
        var i = 0; while (i < n) { a.update(bufs(c.cell(i)), rows(i)); i += 1 }
      }
    }) / n

    // core: serialize / deserialize every cell's four sketches
    val blobs = Array.tabulate(c.nCells)(j =>
      (td(j).serialize(), ss(j).serialize(SpaceSaving.TagLong), ms(j).serialize(), hl(j).serialize()))
    val ser = tr.span("serialize", "core")(medianNs(Reps, c.nCells, WarmCells) {
      var j = 0
      while (j < c.nCells) {
        td(j).serialize(); ss(j).serialize(SpaceSaving.TagLong); ms(j).serialize(); hl(j).serialize()
        j += 1
      }
    }) / c.nCells / 1e3
    val deser = tr.span("deserialize", "core")(medianNs(Reps, c.nCells, WarmCells) {
      blobs.foreach { case (a, b, m, h) =>
        TDigest.deserialize(a); SpaceSaving.deserializeLong(b); MomentsSketch.deserialize(m); Hll.deserialize(h)
      }
    }) / c.nCells / 1e3
    val bytes = blobs.map { case (a, b, m, h) => a.length + b.length + m.length + h.length }.sum.toDouble / c.nCells

    // core: merge cells into their targets (fresh copies per rep)
    val merges = math.max(1, c.nCells - c.nTargets)
    def mergeInto[T <: AnyRef](de: Int => T, merge: (T, T) => Unit): Double = {
      val xs = Array.fill(math.max(1, WarmCells / c.nCells) + Reps) {
        val copies: Array[AnyRef] = Array.tabulate[AnyRef](c.nCells)(de)
        val acc = new Array[Any](c.nTargets)
        val t0 = System.nanoTime()
        var j = 0
        while (j < c.nCells) {
          val t = c.target(j)
          if (acc(t) == null) acc(t) = copies(j) else merge(acc(t).asInstanceOf[T], copies(j).asInstanceOf[T])
          j += 1
        }
        (System.nanoTime() - t0).toDouble
      }
      xs.takeRight(Reps).sorted.apply(Reps / 2) / merges / 1e3
    }
    val tdMerge = tr.span("tdigest.merge", "core")(
      mergeInto[TDigest](j => TDigest.deserialize(blobs(j)._1), _.merge(_)))
    val ssMerge = tr.span("spacesaving.merge", "core")(
      mergeInto[SpaceSavingLong](j => SpaceSaving.deserializeLong(blobs(j)._2), _.merge(_)))

    // core: quantile queries, each on a freshly deserialized digest
    val quant = tr.span("tdigest.quantiles", "core") {
      val xs = (0 until math.max(1, WarmCells / c.nCells) + Reps).map { _ =>
        val fresh = blobs.map(b => TDigest.deserialize(b._1))
        val t0 = System.nanoTime()
        fresh.foreach(_.quantiles(Qs))
        (System.nanoTime() - t0).toDouble
      }
      xs.takeRight(Reps).sorted.apply(Reps / 2)
    } / c.nCells / 1e3

    // agg: the merge aggregates' update over stored-sketch rows, minus the
    // kernels' decode + merge of the same rows
    val stored = blobs.map { case (a, b, m, h) =>
      new GenericInternalRow(Array[Any](a, b, StatsStruct.toRow(MomentsSketch.deserialize(m)), h)): InternalRow
    }
    val mergeAggs = Seq(
      TDigestMergeAgg(BoundReference(0, BinaryType, true)),
      SpaceSavingMergeAgg(BoundReference(1, BinaryType, true)),
      StatsMergeAgg(BoundReference(2, StatsStruct.schema, false)),
      HllMergeAgg(BoundReference(3, BinaryType, true))).map(typed)
    val mergeUpdate = tr.span("merge_aggregates.update", "agg")(medianNs(Reps, c.nCells, WarmCells) {
      for (a <- mergeAggs) {
        val bufs = Array.fill(c.nTargets)(a.createAggregationBuffer())
        var j = 0; while (j < c.nCells) { a.update(bufs(c.target(j)), stored(j)); j += 1 }
      }
    }) / c.nCells
    val mergeCore = tr.span("deserialize_merge", "core")(medianNs(Reps, c.nCells, WarmCells) {
      val t = new Array[TDigest](c.nTargets); val s = new Array[SpaceSavingLong](c.nTargets)
      val m = new Array[MomentsSketch](c.nTargets); val h = new Array[Hll](c.nTargets)
      var j = 0
      while (j < c.nCells) {
        val k = c.target(j); val (a, b, _, hh) = blobs(j)
        val ta = TDigest.deserialize(a); if (t(k) == null) t(k) = ta else t(k).merge(ta)
        val sb = SpaceSaving.deserializeLong(b); if (s(k) == null) s(k) = sb else s(k).merge(sb)
        val mb = StatsStruct.fromRow(stored(j).getStruct(2, StatsStruct.schema.length))
        if (m(k) == null) m(k) = mb else m(k).merge(mb)
        val hb = Hll.deserialize(hh); if (h(k) == null) h(k) = hb else h(k).merge(hb)
        j += 1
      }
    }) / c.nCells

    Map(
      "core.tdigest_add_ns" -> tdAdd, "core.spacesaving_add_ns" -> ssAdd,
      "core.moments_add_ns" -> msAdd, "core.hll_add_ns" -> hlAdd,
      "core.tdigest_merge_us" -> tdMerge, "core.spacesaving_merge_us" -> ssMerge,
      "core.serialize_us" -> ser, "core.deserialize_us" -> deser,
      "core.sketch_bytes" -> bytes, "core.tdigest_quantile_us" -> quant,
      "agg.update_ns" -> (aggUpdate - (tdAdd + ssAdd + msAdd + hlAdd)),
      "agg.merge_update_ns" -> (mergeUpdate - mergeCore))
  }
}
