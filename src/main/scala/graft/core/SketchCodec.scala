package graft.core

/** The byte side of a sketch kind's monoid contract (value-only serialize,
  * merge; PAPER.md §0): the one owner of the kind's serialized format, so
  * every byte that crosses a storage or shuffle boundary is checked in one
  * place. Each kernel's companion object implements it, and every
  * aggregate and finisher decodes through it.
  *
  * Decoders bound what they allocate by the blob's length: anything the
  * encoder cannot have written is rejected with an IllegalArgumentException
  * naming the kind before a sketch is built. */
trait SketchCodec[S <: AnyRef] {
  /** O(1) check of a blob's header and length, as [[deserialize]] runs it
    * first; returns the number of entries the body holds (centroids,
    * counters, registers, hashes or cells). */
  def checkSerialized(bytes: Array[Byte]): Int

  /** Check a blob, throwing what [[deserialize]] would throw; true when
    * `serialize(deserialize(bytes))` equals `bytes`, so the bytes may stand
    * for the sketch until it has to be merged into. */
  def admit(bytes: Array[Byte]): Boolean = { checkSerialized(bytes); true }

  def deserialize(bytes: Array[Byte]): S
  def serialize(s: S): Array[Byte]

  /** `mergeSketch(into, deserialize(bytes))`, byte for byte. */
  def mergeBytes(into: S, bytes: Array[Byte]): Unit = mergeSketch(into, deserialize(bytes))
  def mergeSketch(into: S, other: S): Unit
}
