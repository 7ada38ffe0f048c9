package graft.core

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Ports the reference's space-saving tests (crick/tests/test_space_saving.py):
  * the hand-computed counter-evolution test (:67-107), exact top-k on skewed
  * data (:17-41), and the model-based Cafaro merge test (:265-363). */
class SpaceSavingSpec extends AnyFunSuite {

  private def counters(s: SpaceSavingLong): Seq[(Long, Long, Long)] =
    s.topkSlots(s.size).map(i => (s.items(i), s.counts(i), s.errors(i))).toSeq

  /** Skewed integer stream (geometric: P(k) = 2^-(k+1)) standing in for the
    * reference's gamma-skewed fixture — counts separate cleanly at the top. */
  private def skewedData(seed: Int, n: Int): Array[Long] = {
    val r = new Random(seed)
    Array.fill(n)(math.min(60, math.floor(-math.log(r.nextDouble()) / math.log(2.0)).toLong))
  }

  test("step-through algorithm (test_space_saving.py:67-107)") {
    val s = new SpaceSavingLong(5)
    assert(s.size == 0)

    (0 until 5).foreach(i => s.add(i))
    assert(counters(s) == Seq((0L, 1L, 0L), (1L, 1L, 0L), (2L, 1L, 0L), (3L, 1L, 0L), (4L, 1L, 0L)))

    // add tail item with count 2 → moves to front
    s.add(4, 2)
    assert(counters(s) == Seq((4L, 3L, 0L), (0L, 1L, 0L), (1L, 1L, 0L), (2L, 1L, 0L), (3L, 1L, 0L)))

    // add a middle one → moves to 2nd
    s.add(2)
    assert(counters(s) == Seq((4L, 3L, 0L), (2L, 2L, 0L), (0L, 1L, 0L), (1L, 1L, 0L), (3L, 1L, 0L)))

    // new element evicts tail: count = min+1, error = min (supplied count ignored)
    s.add(5)
    assert(counters(s) == Seq((4L, 3L, 0L), (2L, 2L, 0L), (5L, 2L, 1L), (0L, 1L, 0L), (1L, 1L, 0L)))

    // update more elements
    (1 to 5).foreach { _ => s.add(6); s.add(7) }
    assert(counters(s) == Seq((6L, 6L, 1L), (7L, 6L, 1L), (4L, 3L, 0L), (2L, 2L, 0L), (5L, 2L, 1L)))
  }

  test("exact top-k recovered on skewed data when counts separate") {
    val data = skewedData(42, 10000)
    val s = new SpaceSavingLong(20)
    data.foreach(s.add(_))
    val exact = data.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (item, c) => (-c, item) }
    val top = counters(s).take(10)
    // where exact counts separate cleanly, the sketch matches exactly
    val exactTop = exact.take(10)
    assert(top.map(_._1).toSet == exactTop.map(_._1).toSet)
    // error bound: count <= actual <= count + error
    val exactMap = exact.toMap
    counters(s).foreach { case (item, count, error) =>
      val actual = exactMap.getOrElse(item, 0L)
      assert(actual <= count, s"item=$item count=$count actual=$actual")
      assert(count - error <= actual, s"item=$item count=$count error=$error actual=$actual")
    }
  }

  test("output sorted by (count desc, error asc)") {
    val data = skewedData(7, 5000)
    val s = new SpaceSavingLong(16)
    data.foreach(s.add(_))
    val cs = counters(s)
    cs.sliding(2).foreach {
      case Seq((_, c1, e1), (_, c2, e2)) =>
        assert(c1 > c2 || (c1 == c2 && e1 <= e2))
      case _ =>
    }
  }

  /** Model: independent reimplementation of the Cafaro merge
    * (test_space_saving.py:271-294). */
  private def modelMerge(s1: SpaceSavingLong, s2: SpaceSavingLong): Seq[(Long, Long)] = {
    val c1 = counters(s1).map(c => c._1 -> (c._2, c._3)).toMap
    val c2 = counters(s2).map(c => c._1 -> (c._2, c._3)).toMap
    val m1 = if (s1.size == s1.capacity) counters(s1).last._2 else 0L
    val m2 = if (s2.size == s2.capacity) counters(s2).last._2 else 0L
    val out = (c1.keySet ++ c2.keySet).toSeq.map { item =>
      (c1.get(item), c2.get(item)) match {
        case (Some((ct1, e1)), Some((ct2, e2))) => (item, ct1 + ct2, e1 + e2)
        case (Some((ct1, e1)), None) => (item, ct1 + m2, e1 + m2)
        case (None, Some((ct2, e2))) => (item, ct2 + m1, e2 + m1)
        case _ => throw new IllegalStateException
      }
    }
    out.sortBy { case (_, c, e) => (-c, e) }.take(s1.capacity).map(c => (c._2, c._3))
  }

  private def build(cap: Int, data: Seq[Long]): SpaceSavingLong = {
    val s = new SpaceSavingLong(cap)
    data.foreach(s.add(_))
    s
  }

  /** The curated merge pairs (test_space_saving.py:299-342) as (capacity,
    * stream) specs: empty, self, partial and full sketches on each side. */
  private lazy val curatedSpecs: Seq[((Int, Seq[Long]), (Int, Seq[Long]))] = {
    val d1 = Seq(1L, 2, 3, 4, 5, 5, 5, 6)
    val d2 = Seq(1L, 2, 3, 5, 5, 6, 6, 7)
    val big1 = skewedData(42, 10000).toSeq
    val big2 = skewedData(7, 10000).toSeq
    Seq(
      ((5, d1), (5, d2)),
      ((5, Nil), (5, Nil)),
      ((5, d1), (5, d1)),
      ((5, d1), (5, Nil)),
      ((5, Nil), (5, d1)),
      ((7, Nil), (7, Seq(1L, 2))),
      ((20, Nil), (20, big1)),
      ((20, Seq(1L, 2)), (20, big1)),
      ((20, big1), (20, Seq(1L, 2))),
      ((10, d1), (10, d1)),
      ((20, big1), (20, big2)))
  }

  test("merge against model across curated pairs (test_space_saving.py:265-363)") {
    curatedSpecs.foreach { case ((c1, d1), (c2, d2)) =>
      val (a, b) = (build(c1, d1), build(c2, d2))
      val model = modelMerge(a, b)
      a.merge(b)
      val res = counters(a)
      // result sorted
      res.sliding(2).foreach {
        case Seq((_, c1, e1), (_, c2, e2)) => assert(c1 > c2 || (c1 == c2 && e1 <= e2))
        case _ =>
      }
      assert(res.length == model.length)
      // every returned counter could have sorted into the model's top-capacity
      if (model.nonEmpty) {
        val worst = model.last
        res.foreach { case (_, c, e) =>
          assert(c > worst._1 || (c == worst._1 && e <= worst._2) || (c, -e) == ((worst._1, -worst._2)),
            s"counter ($c,$e) below model cutoff $worst")
        }
      }
    }
  }

  /** mergeBytes(into, b) against mergeSketch into an equal sketch of
    * deserialize(b): byte for byte, or the same rejection. */
  private def assertMergeBytes(into: () => SpaceSavingBase, b: Array[Byte], what: String): Unit = {
    val (x, y) = (into(), into())
    val viaBytes = scala.util.Try { SpaceSaving.mergeBytes(x, b); SpaceSaving.serialize(x).toSeq }
    val viaSketch = scala.util.Try {
      SpaceSaving.mergeSketch(y, SpaceSaving.deserialize(b)); SpaceSaving.serialize(y).toSeq
    }
    assert(viaBytes.toOption == viaSketch.toOption, what)
    assert(viaBytes.failed.toOption.map(_.getMessage) == viaSketch.failed.toOption.map(_.getMessage), what)
  }

  /** A sketch of `tag`'s key type over small integer keys. */
  private def keyed(tag: Byte, cap: Int, data: Seq[(Int, Long)]): SpaceSavingBase = {
    val s = SpaceSaving.empty(tag, cap)
    data.foreach { case (x, c) =>
      s match {
        case l: SpaceSavingLong =>
          l.add(if (tag == SpaceSaving.TagDouble) SpaceSaving.doubleKey(x * 0.5 - 3) else x.toLong, c)
        case o: SpaceSavingObj =>
          o.add(UTF8String.fromBytes(if (tag == SpaceSaving.TagString) s"key$x".getBytes else Array(x.toByte)), c)
      }
    }
    s
  }

  private val keyTags = Seq(SpaceSaving.TagLong, SpaceSaving.TagDouble, SpaceSaving.TagString,
    SpaceSaving.TagBinary)

  test("mergeBytes equals decode-then-merge byte for byte over the curated pairs, both arms") {
    // the eleven int64 pairs, into a sketch built by adds (slots out of list
    // order) and into a decoded one (slots in list order)
    curatedSpecs.foreach { case ((c1, d1), (c2, d2)) =>
      val b = SpaceSaving.serialize(build(c2, d2))
      assertMergeBytes(() => build(c1, d1), b, s"built into ($c1, ${d1.size}) <- ($c2, ${d2.size})")
      val a = SpaceSaving.serialize(build(c1, d1))
      assertMergeBytes(() => SpaceSaving.deserialize(a), b, s"decoded into ($c1, ${d1.size})")
    }
    // the object pair: both full, partly shared, on string and binary keys
    for (tag <- Seq(SpaceSaving.TagString, SpaceSaving.TagBinary)) {
      val d1 = Seq(1, 2, 3, 4, 5, 5, 5, 6).map((_, 1L))
      val d2 = Seq(1, 2, 3, 5, 5, 6, 6, 7).map((_, 1L))
      assertMergeBytes(() => keyed(tag, 5, d1), SpaceSaving.serialize(keyed(tag, 5, d2)), s"object pair, tag $tag")
    }
  }

  test("mergeBytes equals decode-then-merge byte for byte: random full, evicting and tied pairs") {
    val r = new Random(77)
    var (full, evicting, tied) = (0, 0, 0)
    for (trial <- 0 until 400) {
      val tag = keyTags(trial % 4)
      val (c1, c2) = (1 + r.nextInt(12), 1 + r.nextInt(12))
      val keys = 1 + r.nextInt(30)
      // unit counts tie often; weighted ones tie less
      val weighted = r.nextBoolean()
      def stream = Seq.fill(r.nextInt(80))((r.nextInt(keys), if (weighted) 1L + r.nextInt(4) else 1L))
      val (d1, d2) = (stream, stream)
      val (a, o) = (keyed(tag, c1, d1), keyed(tag, c2, d2))
      if (a.size == c1 && o.size == c2) full += 1
      if (d1.map(_._1).distinct.size > c1) evicting += 1
      if (o.topkSlots(o.size).map(o.counts(_)).sliding(2).exists(c => c.length == 2 && c(0) == c(1))) tied += 1
      val b = SpaceSaving.serialize(o)
      assertMergeBytes(() => keyed(tag, c1, d1), b, s"trial $trial built into")
      val ab = SpaceSaving.serialize(a)
      assertMergeBytes(() => SpaceSaving.deserialize(ab), b, s"trial $trial decoded into")
      // a sketch of another key type is refused alike
      assertMergeBytes(() => keyed(keyTags((trial + 1) % 4), c1, d1), b, s"trial $trial other tag")
    }
    assert(full > 50 && evicting > 100 && tied > 100, s"full $full, evicting $evicting, tied $tied")
  }

  test("an item evicted during a merge is looked up anew when the other reaches it") {
    // decodable counters with error > count: X is matched, evicted for Y,
    // and then, no longer held, evicts A (spsv_merge looks each item up at
    // its turn)
    val into = bytesOf(2, Seq((1L, 1L, 1L), (2L, 1L, 5L)))
    val other = bytesOf(2, Seq((3L, 2L, 0L), (2L, 2L, 0L)))
    assertMergeBytes(() => SpaceSaving.deserialize(into), other, "evicted match")
    val s = SpaceSaving.deserializeLong(into)
    SpaceSaving.mergeBytes(s, other)
    assert(counters(s).toSet == Set((3L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("the checked walk allocates under a fixed multiple of the blob's length") {
    val r = new Random(3)
    val long = new SpaceSavingLong(4096)
    (0 until 40000).foreach(_ => long.add(r.nextInt(20000).toLong))
    val str = new SpaceSavingObj(4096)
    (0 until 40000).foreach(_ => str.add(UTF8String.fromString(s"k${r.nextInt(20000)}")))
    for (b <- Seq(SpaceSaving.serialize(long), SpaceSaving.serialize(str))) {
      (0 until 5).foreach(_ => SpaceSaving.walk(b)) // warm up
      val walked = (0 until 3).map(_ => allocated(SpaceSaving.walk(b))).min
      assert(walked < 3L * b.length, s"the walk of ${b.length} bytes allocated $walked")
      // it builds no sketch: a decode allocates more
      assert(allocated(SpaceSaving.deserialize(b)) > walked)
    }
  }

  test("serialization round-trips (long and string variants)") {
    val data = skewedData(11, 2000)
    val s = new SpaceSavingLong(20)
    data.foreach(s.add(_))
    val bytes = s.serialize(SpaceSaving.TagLong)
    val r = SpaceSaving.deserializeLong(bytes)
    assert(counters(r) == counters(s))
    // post-round-trip mutation works
    r.add(999999L)
    assert(r.size <= 20)

    val so = new SpaceSavingObj(10)
    Seq("a", "b", "a", "c", "a", "b").foreach(x => so.add(UTF8String.fromString(x)))
    val ro = SpaceSaving.deserialize(so.serialize(SpaceSaving.TagString)).asInstanceOf[SpaceSavingObj]
    assert(ro.topkSlots(3).map(i => (ro.items(i).toString, ro.counts(i))).toSeq ==
      Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("double keys use raw bit semantics (-0.0 != 0.0)") {
    val s = new SpaceSavingLong(10)
    s.add(SpaceSaving.doubleKey(0.0))
    s.add(SpaceSaving.doubleKey(-0.0))
    s.add(SpaceSaving.doubleKey(0.0))
    assert(s.size == 2)
    val top = s.topkSlots(2).map(i => (SpaceSaving.keyToDouble(s.items(i)), s.counts(i)))
    assert(top(0) == ((0.0, 2L)))
  }

  test("add matches reference eviction arithmetic at scale") {
    // random adds/evictions vs a brute-force count map: invariant holds
    val r = new Random(3)
    val data = Array.fill(5000)(r.nextInt(200).toLong)
    val s = new SpaceSavingLong(50)
    data.foreach(s.add(_))
    val exact = data.groupBy(identity).view.mapValues(_.length.toLong).toMap
    counters(s).foreach { case (item, count, error) =>
      val actual = exact(item)
      assert(actual <= count && count - error <= actual)
    }
    // total count conserved: sum of counts >= n, each overestimate bounded
    assert(counters(s).map(_._2).sum >= 0)
  }

  test("run-head skip index: identical counter order vs stepwise-walk model") {
    // Naive model replicating the reference walk literally (no skip index):
    // sorted-by-(count desc, error asc) insertion with stepwise backward walk.
    final class Model(cap: Int) {
      var list = Vector.empty[(Long, Long, Long)] // (item, count, error) head->tail
      def add(item: Long, c: Long = 1L): Unit = {
        val i = list.indexWhere(_._1 == item)
        if (i >= 0) {
          val (it, cnt, err) = list(i)
          list = reinsert(list.patch(i, Nil, 1), (it, cnt + c, err))
        } else if (list.size == cap) {
          val (_, mn, _) = list.last
          list = reinsert(list.init, (item, mn + 1, mn))
        } else list = reinsert(list, (item, c, 0L))
      }
      // insert keeping (count desc, error asc); new node goes AFTER any
      // existing node with equal (count, error) — counterGe uses <=
      private def reinsert(l: Vector[(Long, Long, Long)], x: (Long, Long, Long)) = {
        val idx = l.lastIndexWhere(n => n._2 > x._2 || (n._2 == x._2 && n._3 <= x._3))
        l.patch(idx + 1, Seq(x), 0)
      }
    }
    val r = new Random(7)
    // adversarial: near-uniform keys force maximal equal-count runs
    for (trial <- 0 until 5) {
      val cap = 64
      val s = new SpaceSavingLong(cap)
      val m = new Model(cap)
      val n = 4000
      for (_ <- 0 until n) {
        val item = r.nextInt(cap * 3).toLong
        val w = 1L + r.nextInt(2)
        s.add(item, w); m.add(item, w)
      }
      val mine = s.topkSlots(s.size).map(i => (s.items(i), s.counts(i), s.errors(i))).toSeq
      assert(mine == m.list, s"trial $trial: counter order diverged")
    }
  }

  /** Serialized int64 sketch with the given counters, in the given order. */
  private def bytesOf(cap: Int, cs: Seq[(Long, Long, Long)]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(9 + 24 * cs.size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(SpaceSaving.TagLong).putInt(cap).putInt(cs.size)
    cs.foreach { case (i, c, e) => bb.putLong(i).putLong(c).putLong(e) }
    bb.array()
  }

  /** Serialized string sketch with the given counters, in the given order. */
  private def strBytesOf(cap: Int, cs: Seq[(Array[Byte], Long, Long)]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(9 + cs.map(_._1.length + 20).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(SpaceSaving.TagString).putInt(cap).putInt(cs.size)
    cs.foreach { case (i, c, e) => bb.putInt(i.length).put(i).putLong(c).putLong(e) }
    bb.array()
  }

  /** The reference insert walk: merging into an empty sketch appends each
    * counter through spsv_counter_insert. */
  private def walkDecode(s: SpaceSavingLong): SpaceSavingLong = {
    val w = new SpaceSavingLong(s.capacity)
    w.merge(s)
    w
  }

  /** The first `size` slots of a sketch's links and items. */
  private def layout(s: SpaceSavingLong) =
    (s.head, s.items.take(s.size).toSeq, s.next.take(s.size).toSeq, s.prev.take(s.size).toSeq)

  test("canonical decode fast path matches the insert walk") {
    val r = new Random(21)
    for (trial <- 0 until 20) {
      val cap = 4 + r.nextInt(40)
      val s = new SpaceSavingLong(cap)
      (0 until r.nextInt(500)).foreach(_ => s.add(r.nextInt(cap * 2).toLong, 1L + r.nextInt(3)))
      val bytes = s.serialize(SpaceSaving.TagLong)
      SpaceSaving.admit(bytes)
      val fast = SpaceSaving.deserializeLong(bytes)
      val walk = walkDecode(s)
      assert(fast.serialize(SpaceSaving.TagLong).toSeq == bytes.toSeq)
      assert(layout(fast) == layout(walk))
      // both keep behaving identically: adds (run-head index rebuilt on
      // demand) and merges in either direction
      val other = new SpaceSavingLong(cap)
      (0 until 300).foreach(_ => other.add(r.nextInt(cap * 3).toLong))
      val more = Array.fill(200)(r.nextInt(cap * 2).toLong)
      more.foreach { x => fast.add(x); walk.add(x) }
      fast.merge(other); walk.merge(other)
      assert(counters(fast) == counters(walk), s"trial $trial diverged")
      val intoFast = SpaceSaving.deserializeLong(other.serialize(SpaceSaving.TagLong))
      intoFast.merge(SpaceSaving.deserializeLong(bytes))
      val intoWalk = walkDecode(other)
      intoWalk.merge(walkDecode(s))
      assert(counters(intoFast) == counters(intoWalk))
    }
  }

  /** The decoder's IllegalArgumentException, which admit must throw too. */
  private def rejection(b: Array[Byte]): String = {
    val e = intercept[IllegalArgumentException](SpaceSaving.deserialize(b))
    assert(intercept[IllegalArgumentException](SpaceSaving.admit(b)).getMessage == e.getMessage)
    assert(e.getMessage.contains("space-saving"), e.getMessage)
    e.getMessage
  }

  test("out-of-order counters and duplicate items are rejected, both key arms") {
    val sorted = Seq((7L, 9L, 0L), (3L, 5L, 1L), (4L, 5L, 2L), (1L, 2L, 0L))
    val canonical = bytesOf(8, sorted)
    SpaceSaving.admit(canonical)
    assert(SpaceSaving.deserializeLong(canonical).serialize(SpaceSaving.TagLong).toSeq ==
      canonical.toSeq)
    // count ascending, and in a tie error descending
    val shuffled = bytesOf(8, Seq(sorted(2), sorted(0), sorted(3), sorted(1)))
    val tieSwapped = bytesOf(8, Seq(sorted(0), sorted(2), sorted(1), sorted(3)))
    assert(rejection(shuffled).contains("counter 1 out of list order"))
    assert(rejection(tieSwapped).contains("counter 2 out of list order"))
    val dupSorted = bytesOf(8, sorted :+ ((3L, 1L, 0L)))
    val dupShuffled = bytesOf(8, ((3L, 10L, 0L)) +: sorted)
    Seq(dupSorted, dupShuffled).foreach(b => assert(rejection(b).contains("duplicate items found")))
    // header checks match the decoder's
    rejection(canonical.take(canonical.length - 1))

    val strs = Seq(("x".getBytes, 4L, 0L), ("y".getBytes, 3L, 1L), ("z".getBytes, 3L, 2L))
    val strCanonical = strBytesOf(4, strs)
    SpaceSaving.admit(strCanonical)
    assert(SpaceSaving.serialize(SpaceSaving.deserialize(strCanonical)).toSeq == strCanonical.toSeq)
    assert(rejection(strBytesOf(4, strs.reverse)).contains("counter 1 out of list order"))
    assert(rejection(strBytesOf(4, Seq(strs(0), strs(2), strs(1)))).contains("out of list order"))
    assert(rejection(strBytesOf(4, strs :+ (("x".getBytes, 1L, 0L)))).contains("duplicate items found"))
  }

  test("invalid UTF-8 string items stay distinct and round-trip byte for byte") {
    val s = new SpaceSavingObj(4)
    val ff = UTF8String.fromBytes(Array(0xFF.toByte))
    val fe = UTF8String.fromBytes(Array(0xFE.toByte))
    s.add(ff, 2L); s.add(fe); s.add(ff)
    assert(s.size == 2)
    val bytes = SpaceSaving.serialize(s)
    val back = SpaceSaving.deserialize(bytes).asInstanceOf[SpaceSavingObj]
    assert(back.topkSlots(2).map(i => (back.items(i).getBytes.toSeq, back.counts(i))).toSeq ==
      Seq((Seq(0xFF.toByte), 3L), (Seq(0xFE.toByte), 1L)))
    assert(SpaceSaving.serialize(back).toSeq == bytes.toSeq)
  }

  /** Bytes this thread allocates while running f. */
  private def allocated(f: => Unit): Long = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val id = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(id)
    f
    mx.getThreadAllocatedBytes(id) - before
  }

  test("storage grows with what is stored, not with the capacity") {
    val header = bytesOf(SpaceSaving.MaxCapacity, Nil)
    SpaceSaving.deserialize(header) // warm up
    assert(allocated(SpaceSaving.deserialize(header)) < (1 << 20))
    // growth doubles up to the capacity, and eviction keys on the capacity
    val r = new Random(9)
    val s = new SpaceSavingLong(40)
    (0 until 2000).foreach(_ => s.add(r.nextInt(120).toLong))
    assert(s.size == 40 && s.items.length == 40 && s.counts.length == 40)
    val d = SpaceSaving.deserializeLong(bytesOf(1000, Seq((1L, 5L, 0L), (2L, 4L, 0L), (3L, 1L, 0L))))
    assert(d.items.length < 16)
    (10L until 1500L).foreach(d.add(_))
    assert(d.size == 1000 && d.items.length == 1000 && d.next.length == 1000)
  }
}
