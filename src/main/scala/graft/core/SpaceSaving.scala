package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.unsafe.types.UTF8String

/** A Space-Saving sketch's counters in list order (count desc, error asc),
  * as a merge or a finisher reads them: a decoded sketch, whose positions
  * are slots, or a checked blob ([[SpaceSaving.Blob]]), whose positions
  * are counter indices. Each key arm reads its own item kind. */
trait SpaceSavingCounters {
  def tag: Byte
  def capacity: Int
  def size: Int
  /** The first counter's position, and the position after p's. */
  def first: Int
  def after(p: Int): Int
  def count(p: Int): Long
  def error(p: Int): Long
  def longItem(p: Int): Long
  def objItem(p: Int): UTF8String
}

/** Space-Saving heavy-hitter sketch (Metwally et al.) with the Cafaro et al.
  * parallel merge, ported semantically from the reference kernel
  * `crick/space_saving_stubs.c.in`.
  *
  * State: at most `capacity` counters {item, count, error} held in a circular
  * doubly-linked list over parallel arrays, kept exactly sorted by
  * (count desc, error asc) — `counter_ge` (space_saving_stubs.c.in:112-118) —
  * with head = max and head.prev = min (O(1) eviction), plus an item→slot
  * hash index.
  *
  * Reference contracts preserved:
  *  - eviction path: a new item arriving when full takes count = min_count+1,
  *    error = min_count, IGNORING the supplied count
  *    (space_saving_stubs.c.in:226-232) — replicated exactly;
  *  - merge offsets m1/m2 = each side's min count if full else 0; shared items
  *    add counts+errors; one-sided items get +m_other to both; T2-only items
  *    are inserted in descending order with early break once T1's min counter
  *    dominates (space_saving_stubs.c.in:289-364);
  *  - float64 keys are hashed/compared by raw bits (asint64,
  *    space_saving_stubs.c.in:462-466): -0.0 != 0.0, bit-identical NaNs equal.
  *
  * The int64/object template split (space_saving_stubs.c.in:46-52) maps to
  * [[SpaceSavingLong]] (int64 + bit-cast float64) and [[SpaceSavingObj]]
  * (strings / arbitrary byte keys); `tag` names the key type a sketch was
  * built over and is written with it.
  *
  * The slot arrays and both indexes are sized by what is stored and
  * doubled up to `capacity` ([[reserve]]), so a sketch costs what it holds;
  * eviction keys on `capacity`, never on the arrays' length.
  */
abstract class SpaceSavingBase(val capacity: Int, val tag: Byte)
  extends SpaceSavingCounters with Serializable {
  require(capacity > 0 && capacity <= SpaceSaving.MaxCapacity,
    s"capacity must be in [1, ${SpaceSaving.MaxCapacity}]")
  final val NIL = -1
  var size: Int = 0
  var head: Int = NIL
  var counts = new Array[Long](math.min(capacity, SpaceSaving.InitialSlots))
  var errors = new Array[Long](counts.length)
  var next = new Array[Int](counts.length)
  var prev = new Array[Int](counts.length)

  /** Grow every slot array to hold at least n counters: to n or to twice
    * the current length, whichever is larger, but never past capacity. */
  protected[core] final def reserve(n: Int): Unit = if (n > counts.length) {
    val len = math.min(capacity, math.max(n, 2 * counts.length))
    counts = java.util.Arrays.copyOf(counts, len)
    errors = java.util.Arrays.copyOf(errors, len)
    next = java.util.Arrays.copyOf(next, len)
    prev = java.util.Arrays.copyOf(prev, len)
    if (runHead != null) runHead.reserve(len)
    resizeItems(len)
  }

  /** Grow the arm's item array and item index to `len` slots. */
  protected def resizeItems(len: Int): Unit

  /** Skip index: count value → head-most slot of that count's run.
    *
    * The reference's insert walk (spsv_counter_insert) is O(run length);
    * under near-uniform frequencies runs grow to O(capacity) and ingest
    * degenerates to O(n·capacity) — at 100 TB scale the dominant cost.
    * The run-head index lets the walk hop entire equal-count runs in O(1)
    * while producing EXACTLY the same insertion position (ordering and
    * tie-breaking are unchanged; only the walk is accelerated).
    *
    * Built from the list on the first insert walk ([[runHeads]]) and kept
    * up to date from then on, so a decoded sketch that is only read or
    * merged from never pays for it. */
  private var runHead: LongIntMap = null

  private def runHeads: LongIntMap = {
    if (runHead == null) {
      runHead = new LongIntMap(counts.length)
      if (head != NIL) {
        var x = head
        do {
          if (x == head || counts(prev(x)) != counts(x)) runHead.put(counts(x), x)
          x = next(x)
        } while (x != head)
      }
    }
    runHead
  }

  /** Record slot x (just linked / repositioned) as its run's head if it is
    * the head-most node of its count run. */
  @inline private def noteLinked(x: Int): Unit =
    if (runHead != null && (x == head || counts(prev(x)) != counts(x)))
      runHead.put(counts(x), x)

  /** Fix the run-head index before slot x leaves its current count run
    * (count change or physical unlink). Must run while x is still linked
    * and still carries its OLD count. */
  @inline private def noteUnlink(x: Int): Unit = if (runHead != null) {
    val c = counts(x)
    if (runHead.get(c) == x) {
      val nx = next(x)
      if (nx != x && nx != head && counts(nx) == c) runHead.put(c, nx)
      else runHead.remove(c)
    }
  }

  /** counter_ge: list(i1) >= (count2+offset, error2+offset)?
    * (space_saving_stubs.c.in:112-118) */
  @inline protected final def counterGe(i1: Int, count2: Long, error2: Long,
                                        offset: Long): Boolean = {
    val c = count2 + offset
    val e = error2 + offset
    counts(i1) > c || (counts(i1) == c && errors(i1) <= e)
  }

  /** Insert slot c into the sorted list starting the backward walk at prevIdx
    * (spsv_counter_insert, space_saving_stubs.c.in:121-138), hopping whole
    * equal-count runs via [[runHead]] when the run's count is strictly below
    * the target (same final position as the stepwise walk). */
  protected final def counterInsert(c: Int, prevIdx0: Int): Unit = {
    var prevIdx = prevIdx0
    val tail = prev(head)
    val runHead = runHeads
    var done = false
    while (!done) {
      if (counterGe(prevIdx, counts(c), errors(c), 0L)) done = true
      else {
        if (counts(prevIdx) < counts(c)) {
          // every node of this run fails counterGe — hop to its head
          val rh = runHead.get(counts(prevIdx))
          if (rh != NIL) prevIdx = rh
        }
        prevIdx = prev(prevIdx)
        if (prevIdx == tail) { head = c; done = true }
      }
    }
    next(c) = next(prevIdx)
    prev(c) = prevIdx
    prev(next(prevIdx)) = c
    next(prevIdx) = c
    noteLinked(c)
  }

  /** Allocate + link slot for a new counter; returns the slot
    * (spsv_counter_new, space_saving_stubs.c.in:141-164). Caller stores the
    * item and the hash entry. */
  protected final def counterNew(count: Long, error: Long): Int = {
    val c = size
    reserve(c + 1)
    size += 1
    counts(c) = count
    errors(c) = error
    if (head == NIL) {
      head = c; prev(c) = c; next(c) = c
      noteLinked(c)
    } else {
      counterInsert(c, prev(head))
    }
    c
  }

  /** Set a counter's (count, error) and restore sort order — the reference's
    * `counts += c; spsv_rebalance` sequence (space_saving_stubs.c.in:167-183)
    * with run-head index maintenance fused in. */
  protected final def updateCounter(index: Int, newCount: Long, newError: Long): Unit = {
    noteUnlink(index)
    counts(index) = newCount
    errors(index) = newError
    if (head == index) { noteLinked(index); return }
    val p = prev(index)
    if (counterGe(p, newCount, newError, 0L)) { noteLinked(index); return }
    prev(next(index)) = p
    next(p) = next(index)
    counterInsert(index, p)
  }

  // --- this sketch as a merge's other side: positions are slots ---
  final def first: Int = head
  final def after(p: Int): Int = next(p)
  final def count(p: Int): Long = counts(p)
  final def error(p: Int): Long = errors(p)

  // --- item hooks: each arm stores and finds its own keys ---
  /** Slot of `other`'s item at position p in THIS sketch, or NIL. */
  protected def slotOf(other: SpaceSavingCounters, p: Int): Int
  /** Store `other`'s item at position p in slot and index it; false if the
    * index already held the item. */
  protected def putItem(slot: Int, other: SpaceSavingCounters, p: Int): Boolean
  /** Drop slot's item from the index. */
  protected def dropItem(slot: Int): Unit

  /** Link a blob's counters, read but not yet checked for duplicate items,
    * into slots 0..n-1 in one pass; false if an item repeats, which the
    * index finds as it is built. */
  private[core] final def linkAll(blob: SpaceSaving.Blob): Boolean = {
    val n = blob.size
    reserve(n)
    var i = 0
    while (i < n) {
      if (!putItem(i, blob, i)) return false
      counts(i) = blob.count(i); errors(i) = blob.error(i)
      prev(i) = if (i == 0) n - 1 else i - 1
      next(i) = if (i == n - 1) 0 else i + 1
      i += 1
    }
    size = n
    head = if (n == 0) NIL else 0
    true
  }

  /** Cafaro parallel merge, in place into this (spsv_merge,
    * space_saving_stubs.c.in:289-364), from a decoded sketch or straight
    * from a checked blob; `other` is not mutated. One implementation for
    * both key arms. Each of the other's items is looked up once, in this
    * sketch's index; the matches are applied in this sketch's slot order,
    * unmatched slots taking +m2. Then the other's counters are walked in
    * list order: one whose item this sketch holds at that moment (matched,
    * and not evicted since) adds nothing, the rest are appended or evict
    * the tail as spsv_merge does. */
  final def mergeBase(other: SpaceSavingCounters): Unit = {
    val n2 = other.size
    if (n2 == 0) return
    val m1 = minOffset

    // positions of `other` are below n2: slots of a decoded sketch,
    // counter indices of a blob
    val slotFor = new Array[Int](n2)
    val posFor = new Array[Int](size)
    java.util.Arrays.fill(posFor, NIL)
    var p = other.first
    var last = p
    var c = 0
    while (c < n2) {
      val s = slotOf(other, p)
      slotFor(p) = s
      if (s != NIL) posFor(s) = p
      last = p; p = other.after(p); c += 1
    }
    val m2 = if (n2 < other.capacity) 0L else other.count(last)
    var i1 = 0
    while (i1 < size) {
      val q = posFor(i1)
      if (q != NIL) updateCounter(i1, counts(i1) + other.count(q), errors(i1) + other.error(q))
      else updateCounter(i1, counts(i1) + m2, errors(i1) + m2)
      i1 += 1
    }

    p = other.first
    c = 0
    var break = false
    while (c < n2 && !break) {
      if (slotFor(p) == NIL) {
        val oc = other.count(p) + m1
        val oe = other.error(p) + m1
        if (size == capacity) {
          val t = prev(head)
          if (counterGe(t, oc, oe, 0L)) break = true
          else {
            // the evicted item, if the other holds it too, is no longer here
            if (t < posFor.length && posFor(t) != NIL) { slotFor(posFor(t)) = NIL; posFor(t) = NIL }
            dropItem(t); putItem(t, other, p); updateCounter(t, oc, oe)
          }
        } else {
          putItem(counterNew(oc, oe), other, p)
        }
      }
      p = other.after(p)
      c += 1
    }
  }

  /** Min count if full, else 0 (merge offset, space_saving_stubs.c.in:296-305). */
  protected final def minOffset: Long =
    if (size < capacity) 0L else counts(prev(head))

  def serialize(tag: Byte): Array[Byte]

  /** Slots in sorted order (head → tail), first min(k, size) entries. */
  final def topkSlots(k: Int): Array[Int] = {
    val n = math.min(k, size)
    val out = new Array[Int](n)
    var i = head
    var c = 0
    while (c < n) { out(c) = i; i = next(i); c += 1 }
    out
  }
}

/** Space-Saving over int64 keys (also carries bit-cast float64 keys). */
final class SpaceSavingLong(capacity0: Int, tag0: Byte = SpaceSaving.TagLong)
  extends SpaceSavingBase(capacity0, tag0) {
  var items = new Array[Long](counts.length)
  private val index = new LongIntMap(counts.length) // item → slot

  override protected def resizeItems(len: Int): Unit = {
    items = java.util.Arrays.copyOf(items, len)
    index.reserve(len)
  }

  def lookup(item: Long): Int = index.get(item)

  /** Evict slot's item and replace (spsv_swap, space_saving_stubs.c.in:186-210). */
  private def swap(index: Int, item: Long, count: Long, error: Long): Unit = {
    this.index.remove(items(index))
    items(index) = item
    this.index.put(item, index)
    updateCounter(index, count, error)
  }

  /** spsv_add (space_saving_stubs.c.in:213-250). */
  def add(item: Long, count: Long = 1L): Unit = {
    val slot = index.get(item)
    if (slot != NIL) {
      updateCounter(slot, counts(slot) + count, errors(slot))
    } else if (size == capacity) {
      // full: evict global min; NOTE supplied count is ignored (reference quirk)
      val min = prev(head)
      swap(min, item, counts(min) + 1L, counts(min))
    } else {
      val slot = counterNew(count, 0L)
      items(slot) = item
      index.put(item, slot)
    }
  }

  def merge(other: SpaceSavingLong): Unit = mergeBase(other)

  def longItem(p: Int): Long = items(p)
  def objItem(p: Int): UTF8String = throw SpaceSaving.otherArm(tag)

  override protected def slotOf(other: SpaceSavingCounters, p: Int): Int =
    index.get(other.longItem(p))
  override protected def putItem(slot: Int, other: SpaceSavingCounters, p: Int): Boolean = {
    val item = other.longItem(p)
    items(slot) = item
    index.put(item, slot)
  }
  override protected def dropItem(slot: Int): Unit = index.remove(items(slot))

  def serialize(tag: Byte): Array[Byte] = {
    val bb = ByteBuffer.allocate(1 + 4 + 4 + 24 * size)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(tag).putInt(capacity).putInt(size)
    val slots = topkSlots(size)
    var i = 0
    while (i < slots.length) {
      val s = slots(i)
      bb.putLong(items(s)).putLong(counts(s)).putLong(errors(s))
      i += 1
    }
    bb.array()
  }
}

/** Space-Saving over byte-string keys, the reference `object` template arm:
  * strings as their UTF-8 bytes and binaries as themselves, each held as a
  * [[UTF8String]], which compares and hashes by bytes. Distinct byte
  * sequences, invalid UTF-8 included, stay distinct items. */
final class SpaceSavingObj(capacity0: Int, tag0: Byte = SpaceSaving.TagString)
  extends SpaceSavingBase(capacity0, tag0) {
  var items = new Array[UTF8String](counts.length)
  private val index = new java.util.HashMap[UTF8String, Integer]()

  override protected def resizeItems(len: Int): Unit =
    items = java.util.Arrays.copyOf(items, len)

  def lookup(item: UTF8String): Int = {
    val v = index.get(item)
    if (v == null) NIL else v.intValue()
  }

  private def swap(idx: Int, item: UTF8String, count: Long, error: Long): Unit = {
    index.remove(items(idx))
    items(idx) = item
    index.put(item, idx)
    updateCounter(idx, count, error)
  }

  /** A stored item is a copy: a row's string may point into a buffer that
    * the next row reuses. */
  def add(item: UTF8String, count: Long = 1L): Unit = {
    val existing = index.get(item)
    if (existing != null) {
      val idx = existing.intValue()
      updateCounter(idx, counts(idx) + count, errors(idx))
    } else if (size == capacity) {
      val idx = prev(head)
      swap(idx, item.copy(), counts(idx) + 1L, counts(idx))
    } else {
      val idx = counterNew(count, 0L)
      items(idx) = item.copy()
      index.put(items(idx), idx)
    }
  }

  def merge(other: SpaceSavingObj): Unit = mergeBase(other)

  def longItem(p: Int): Long = throw SpaceSaving.otherArm(tag)
  def objItem(p: Int): UTF8String = items(p)

  override protected def slotOf(other: SpaceSavingCounters, p: Int): Int =
    lookup(other.objItem(p))
  override protected def putItem(slot: Int, other: SpaceSavingCounters, p: Int): Boolean = {
    val item = other.objItem(p)
    items(slot) = item
    index.put(item, slot) == null
  }
  override protected def dropItem(slot: Int): Unit = index.remove(items(slot))

  def serialize(tag: Byte): Array[Byte] = {
    val slots = topkSlots(size)
    val payload = slots.iterator.map(s => items(s).numBytes + 20).sum
    val bb = ByteBuffer.allocate(1 + 4 + 4 + payload)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(tag).putInt(capacity).putInt(size)
    slots.foreach { s =>
      bb.putInt(items(s).numBytes)
      items(s).writeTo(bb)
      bb.putLong(counts(s)).putLong(errors(s))
    }
    bb.array()
  }
}

object SpaceSaving extends SketchCodec[SpaceSavingBase] {
  /** serialized key-type tags */
  val TagLong: Byte = 0
  val TagDouble: Byte = 1 // int64-backed, items are doubleToRawLongBits
  val TagString: Byte = 2 // object arm, items are UTF-8 bytes
  val TagBinary: Byte = 3 // object arm, items are the bytes themselves

  /** Largest capacity: a stored header may not claim more. */
  final val MaxCapacity: Int = 1 << 20

  /** Slots a new sketch starts with; [[SpaceSavingBase.reserve]] doubles them. */
  private[core] final val InitialSlots = 4

  private[core] val Duplicates = "corrupt space-saving sketch: duplicate items found"

  /** float64 keys ride the int64 implementation via raw bits
    * (asint64, space_saving_stubs.c.in:462-466). */
  @inline def doubleKey(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)
  @inline def keyToDouble(k: Long): Double = java.lang.Double.longBitsToDouble(k)

  /** khash int64 hash (crick/klib/khash.h:612-613), before masking. */
  @inline private[core] def khash(k: Long): Int = ((k >> 33) ^ k ^ (k << 11)).toInt

  @inline private def isLongTag(tag: Byte): Boolean = tag == TagLong || tag == TagDouble

  /** An empty sketch on the arm that holds `tag`'s keys. */
  def empty(tag: Byte, capacity: Int): SpaceSavingBase =
    if (isLongTag(tag)) new SpaceSavingLong(capacity, tag) else new SpaceSavingObj(capacity, tag)

  /** Tag, capacity, size and length: exact for the int64 arm, at least 20
    * bytes a counter for the object arm. Returns the size. */
  override def checkSerialized(bytes: Array[Byte]): Int = {
    require(bytes.length >= 9, s"not a space-saving sketch: ${bytes.length} bytes")
    val tag = bytes(0)
    require(tag == TagLong || tag == TagDouble || tag == TagString || tag == TagBinary,
      s"not a space-saving sketch: unknown key-type tag $tag")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val cap = bb.getInt(1)
    val n = bb.getInt(5)
    require(cap > 0 && cap <= MaxCapacity && n >= 0 && n <= cap &&
      (if (isLongTag(tag)) bytes.length == 9 + 24 * n else n <= (bytes.length - 9) / 20),
      s"corrupt space-saving sketch: capacity=$cap size=$n in ${bytes.length} bytes")
    n
  }

  /** The one checked read of a blob, which `admit`, `mergeBytes` and the
    * finishers share: the header, then one walk over the counters that
    * rejects an object-arm item longer than the bytes left, counters out of
    * list order (count desc, error asc), duplicate items and trailing
    * bytes, each with the message the first fault in counter order would
    * raise. It builds no sketch: the blob's counters are read in place, and
    * it allocates O(blob length). */
  def walk(bytes: Array[Byte]): Blob = {
    val blob = scan(bytes)
    check(blob)
    blob
  }

  /** Raise the walk's first fault: duplicates among the counters read, then
    * the fault that stopped the scan. */
  private def check(blob: Blob): Unit = {
    require(!hasDuplicates(blob, blob.read), Duplicates)
    require(blob.fault == null, blob.fault)
  }

  /** The walk up to its duplicate check: the header, then the counters
    * until the first fault, which it records with the counters read. */
  private def scan(bytes: Array[Byte]): Blob = {
    val n = checkSerialized(bytes)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val long = isLongTag(bytes(0))
    val blob = new Blob(bytes, bb, bytes(0), bb.getInt(1), n, if (long) null else new Array[Int](n))
    var read = 0
    var fault: String = null
    var off = 9
    var prevCount = 0L; var prevError = 0L
    while (read < n && fault == null) {
      val i = read
      if (long) off += 8
      else {
        // an item is bounded by the bytes left after it, less the 20-byte
        // minimum of every later counter
        val len = bb.getInt(off)
        if (len >= 0 && len <= bytes.length - off - 20 - 20 * (n - 1 - i)) off += 4 + len
        else fault = s"corrupt space-saving sketch: item $i of $len bytes in ${bytes.length} bytes"
      }
      if (fault == null) {
        if (!long) blob.countAt(i) = off
        read += 1
        val c = bb.getLong(off); val e = bb.getLong(off + 8)
        if (i > 0 && !(prevCount > c || (prevCount == c && prevError <= e)))
          fault = s"corrupt space-saving sketch: counter $i out of list order"
        prevCount = c; prevError = e
        off += 16
      }
    }
    blob.read = read
    blob.fault =
      if (fault == null && off != bytes.length) s"corrupt space-saving sketch: ${bytes.length - off} trailing bytes"
      else fault
    blob
  }

  /** Do the first m items of the blob repeat one? int64 items go through
    * an item set, object items are sorted by their bytes. */
  private def hasDuplicates(b: Blob, m: Int): Boolean = {
    var i = 0
    if (isLongTag(b.tag)) {
      val seen = new LongIntMap(m)
      while (i < m && seen.put(b.longItem(i), i)) i += 1
      i < m
    } else {
      val items = new Array[UTF8String](m)
      while (i < m) { items(i) = b.objItem(i); i += 1 }
      java.util.Arrays.sort(items, (x: UTF8String, y: UTF8String) => x.binaryCompare(y))
      i = 1
      while (i < m && !items(i).equals(items(i - 1))) i += 1
      i < m
    }
  }

  /** A checked blob's counters, read in place: positions are counter
    * indices in list order. Counter p's count is at a fixed offset on the
    * int64 arm and at `countAt(p)` on the object arm; its item's bytes
    * precede it. */
  final class Blob private[SpaceSaving] (bytes: Array[Byte], bb: ByteBuffer, val tag: Byte,
      val capacity: Int, val size: Int, private[SpaceSaving] val countAt: Array[Int])
    extends SpaceSavingCounters {
    // the scan's counters read and first fault, if any
    private[SpaceSaving] var read = 0
    private[SpaceSaving] var fault: String = null
    def first: Int = 0
    def after(p: Int): Int = p + 1
    @inline private def at(p: Int): Int = if (countAt == null) 17 + 24 * p else countAt(p)
    def count(p: Int): Long = bb.getLong(at(p))
    def error(p: Int): Long = bb.getLong(at(p) + 8)
    def longItem(p: Int): Long = bb.getLong(at(p) - 8)
    /** A view of the item's bytes, not a copy. */
    def objItem(p: Int): UTF8String = {
      val start = if (p == 0) 9 else countAt(p - 1) + 16
      UTF8String.fromBytes(bytes, start + 4, countAt(p) - start - 4)
    }
  }

  private[core] def otherArm(tag: Byte): IllegalArgumentException =
    new IllegalArgumentException(s"space-saving sketch with tag $tag holds the other key arm")

  /** [[walk]]: checking needs no sketch, so none is built. */
  override def admit(bytes: Array[Byte]): Unit = walk(bytes)

  /** The one arm dispatch: int64 and float64 keys decode to
    * [[SpaceSavingLong]], strings and binaries to [[SpaceSavingObj]]. The
    * walk's checks, with a clean scan's duplicates found by the index the
    * sketch builds, not by an item set of their own. */
  override def deserialize(bytes: Array[Byte]): SpaceSavingBase = {
    val blob = scan(bytes)
    if (blob.fault != null) check(blob)
    val s = empty(blob.tag, blob.capacity)
    require(s.linkAll(blob), Duplicates)
    s
  }

  override def serialize(s: SpaceSavingBase): Array[Byte] = s.serialize(s.tag)

  /** The Cafaro merge straight from the checked bytes. */
  override def mergeBytes(into: SpaceSavingBase, bytes: Array[Byte]): Unit = merge(into, walk(bytes))
  override def mergeSketch(into: SpaceSavingBase, other: SpaceSavingBase): Unit = merge(into, other)

  private def merge(into: SpaceSavingBase, other: SpaceSavingCounters): Unit = {
    require(into.tag == other.tag, "All arguments to merge must have same dtype")
    into.mergeBase(other)
  }

  /** Decode an int64-arm sketch. */
  def deserializeLong(bytes: Array[Byte]): SpaceSavingLong = deserialize(bytes) match {
    case s: SpaceSavingLong => s
    case s => throw new IllegalArgumentException(
      s"space-saving sketch holds object keys (tag ${s.tag})")
  }
}

/** Open-addressing Long → Int map, -1 for absent: khash probing, linear,
  * with tombstone-free backward-shift deletion. The table holds 2-4 slots
  * per key for up to `maxKeys` keys, and [[reserve]] rehashes it for more;
  * a slot stores value + 1, so a fresh table is all empty without a fill. */
private[core] final class LongIntMap(maxKeys: Int) extends Serializable {
  /** Table mask for n keys: at least 2n slots, a power of two, at least 4. */
  private def maskFor(n: Int): Int = {
    var m = 4
    while (m < n * 2) m <<= 1
    m - 1
  }

  private var mask = maskFor(maxKeys)
  private var keys = new Array[Long](mask + 1)
  private var vals = new Array[Int](mask + 1)

  /** Slot holding k, or the empty slot where it would go. */
  private def find(k: Long): Int = {
    var i = SpaceSaving.khash(k) & mask
    while (vals(i) != 0 && keys(i) != k) i = (i + 1) & mask
    i
  }

  def get(k: Long): Int = vals(find(k)) - 1

  /** Map k to v; false if k was mapped already. */
  def put(k: Long, v: Int): Boolean = {
    val i = find(k)
    val absent = vals(i) == 0
    keys(i) = k; vals(i) = v + 1
    absent
  }

  /** Make room for n keys. */
  def reserve(n: Int): Unit = if (mask + 1 < 2 * n) {
    val ks = keys; val vs = vals
    mask = maskFor(n)
    keys = new Array[Long](mask + 1); vals = new Array[Int](mask + 1)
    var j = 0
    while (j < ks.length) {
      if (vs(j) != 0) { val i = find(ks(j)); keys(i) = ks(j); vals(i) = vs(j) }
      j += 1
    }
  }

  def remove(k: Long): Unit = {
    var i = find(k)
    if (vals(i) == 0) return
    vals(i) = 0
    var j = (i + 1) & mask
    while (vals(j) != 0) {
      val ideal = SpaceSaving.khash(keys(j)) & mask
      // can slot j's entry legally move to i? (ideal position not between i and j)
      val between =
        if (i <= j) ideal > i && ideal <= j
        else ideal > i || ideal <= j
      if (!between) {
        keys(i) = keys(j); vals(i) = vals(j)
        vals(j) = 0
        i = j
      }
      j = (j + 1) & mask
    }
  }
}
