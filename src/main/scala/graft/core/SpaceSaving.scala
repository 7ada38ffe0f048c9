package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.unsafe.types.UTF8String

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
abstract class SpaceSavingBase(val capacity: Int, val tag: Byte) extends Serializable {
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

  // --- item hooks for the shared merge loop (concrete arms own key storage) ---
  /** slot of other's item (at other-slot) in THIS sketch, or NIL. */
  protected def slotOfOtherItem(other: SpaceSavingBase, otherSlot: Int): Int
  /** evict this.slot's item and take other's item (at other-slot). */
  protected def replaceItemFrom(slot: Int, other: SpaceSavingBase, otherSlot: Int): Unit
  /** append other's item (at other-slot) as a new counter with (count, error). */
  protected def appendItemFrom(other: SpaceSavingBase, otherSlot: Int,
      count: Long, error: Long): Unit
  /** Store slot's item read from a checked blob at `off` (slot of n),
    * rejecting a duplicate; returns the offset of the slot's count. */
  protected def takeItem(bytes: Array[Byte], bb: ByteBuffer, slot: Int, off: Int, n: Int): Int

  /** Link a checked blob's n counters into slots 0..n-1 in one pass. The
    * encoder writes them in list order with distinct items and no byte to
    * spare, so anything else is rejected: every blob that links re-encodes
    * to itself. */
  private[core] final def linkAll(bytes: Array[Byte], n: Int): Unit = {
    reserve(n)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var off = 9
    var i = 0
    while (i < n) {
      off = takeItem(bytes, bb, i, off, n)
      val c = bb.getLong(off); val e = bb.getLong(off + 8)
      require(i == 0 || counterGe(i - 1, c, e, 0L),
        s"corrupt space-saving sketch: counter $i out of list order")
      counts(i) = c; errors(i) = e
      prev(i) = if (i == 0) n - 1 else i - 1
      next(i) = if (i == n - 1) 0 else i + 1
      off += 16; i += 1
    }
    require(off == bytes.length,
      s"corrupt space-saving sketch: ${bytes.length - off} trailing bytes")
    size = n
    head = if (n == 0) NIL else 0
  }

  /** Cafaro parallel merge, in place into this (spsv_merge,
    * space_saving_stubs.c.in:289-364). `other` is not mutated. One shared
    * implementation for both key arms. */
  final def mergeBase(other: SpaceSavingBase): Unit = {
    if (other.size == 0) return
    val m1 = minOffset
    val m2 = other.minOffset

    var i1 = 0
    while (i1 < size) {
      val i2 = other.slotOfOtherItem(this, i1)
      if (i2 != NIL) {
        updateCounter(i1, counts(i1) + other.counts(i2),
          errors(i1) + other.errors(i2))
      } else {
        updateCounter(i1, counts(i1) + m2, errors(i1) + m2)
      }
      i1 += 1
    }

    var i2 = other.head
    var c = 0
    var break = false
    while (c < other.size && !break) {
      if (slotOfOtherItem(other, i2) == NIL) {
        if (size == capacity) {
          val t = prev(head)
          if (counterGe(t, other.counts(i2), other.errors(i2), m1)) break = true
          else {
            replaceItemFrom(t, other, i2)
            updateCounter(t, other.counts(i2) + m1, other.errors(i2) + m1)
          }
        } else {
          appendItemFrom(other, i2, other.counts(i2) + m1, other.errors(i2) + m1)
        }
      }
      i2 = other.next(i2)
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

  override protected def slotOfOtherItem(other: SpaceSavingBase, otherSlot: Int): Int =
    lookup(other.asInstanceOf[SpaceSavingLong].items(otherSlot))
  override protected def replaceItemFrom(slot: Int, other: SpaceSavingBase,
      otherSlot: Int): Unit = {
    val item = other.asInstanceOf[SpaceSavingLong].items(otherSlot)
    index.remove(items(slot))
    items(slot) = item
    index.put(item, slot)
  }
  override protected def appendItemFrom(other: SpaceSavingBase, otherSlot: Int,
      count: Long, error: Long): Unit = {
    val item = other.asInstanceOf[SpaceSavingLong].items(otherSlot)
    val idx = counterNew(count, error)
    items(idx) = item
    index.put(item, idx)
  }

  override protected def takeItem(bytes: Array[Byte], bb: ByteBuffer, slot: Int,
      off: Int, n: Int): Int = {
    val item = bb.getLong(off)
    require(index.get(item) == NIL, SpaceSaving.Duplicates)
    index.put(item, slot)
    items(slot) = item
    off + 8
  }

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

  override protected def slotOfOtherItem(other: SpaceSavingBase, otherSlot: Int): Int =
    lookup(other.asInstanceOf[SpaceSavingObj].items(otherSlot))
  override protected def replaceItemFrom(slot: Int, other: SpaceSavingBase,
      otherSlot: Int): Unit = {
    val item = other.asInstanceOf[SpaceSavingObj].items(otherSlot)
    index.remove(items(slot))
    items(slot) = item
    index.put(item, slot)
  }
  override protected def appendItemFrom(other: SpaceSavingBase, otherSlot: Int,
      count: Long, error: Long): Unit = {
    val item = other.asInstanceOf[SpaceSavingObj].items(otherSlot)
    val idx = counterNew(count, error)
    items(idx) = item
    index.put(item, idx)
  }

  /** The item's length is bounded by the bytes left after it, less the
    * 20-byte minimum of every later counter. */
  override protected def takeItem(bytes: Array[Byte], bb: ByteBuffer, slot: Int,
      off: Int, n: Int): Int = {
    val len = bb.getInt(off)
    require(len >= 0 && len <= bytes.length - off - 20 - 20 * (n - 1 - slot),
      s"corrupt space-saving sketch: item $slot of $len bytes in ${bytes.length} bytes")
    val item = UTF8String.fromBytes(bytes, off + 4, len)
    require(index.putIfAbsent(item, slot) == null, SpaceSaving.Duplicates)
    items(slot) = item
    off + 4 + len
  }

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

  /** The decoder's own scan: its counters hold the item index that finds
    * duplicates, so checking costs what decoding does, and the sketch it
    * builds is handed over. */
  override def admit(bytes: Array[Byte]): SpaceSavingBase = deserialize(bytes)

  /** The one arm dispatch: int64 and float64 keys decode to
    * [[SpaceSavingLong]], strings and binaries to [[SpaceSavingObj]]. */
  override def deserialize(bytes: Array[Byte]): SpaceSavingBase = {
    val n = checkSerialized(bytes)
    val s = empty(bytes(0), ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt(1))
    s.linkAll(bytes, n)
    s
  }

  override def serialize(s: SpaceSavingBase): Array[Byte] = s.serialize(s.tag)

  override def mergeSketch(into: SpaceSavingBase, other: SpaceSavingBase): Unit = {
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

  def put(k: Long, v: Int): Unit = {
    val i = find(k)
    keys(i) = k; vals(i) = v + 1
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
