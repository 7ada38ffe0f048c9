package graft.core

/** The byte side of a sketch kind's monoid contract (value-only serialize,
  * merge; PAPER.md §0): the one owner of the kind's serialized format, so
  * every byte that crosses a storage or shuffle boundary is checked in one
  * place. Six kinds implement it, each in its kernel's companion object:
  * t-digest, Space-Saving, HLL, KMV, Count-Min and moments
  * ([[MomentsSketch]], whose shuffle form is 65 bytes). Every aggregate and
  * every byte finisher decodes through it.
  *
  * Each decoder accepts exactly what its encoder writes, so every blob it
  * accepts re-encodes to itself, byte for byte: anything else (a bad
  * header or length, counters or hashes out of the order the encoder
  * keeps, duplicate items, impossible values) is rejected with an
  * IllegalArgumentException naming the kind. Decoders bound what they
  * allocate by the blob's length. */
trait SketchCodec[S >: Null <: AnyRef] {
  /** O(1) check of a blob's header and length, as [[deserialize]] runs it
    * first; returns the number of entries the body holds (centroids,
    * counters, registers, hashes or cells; one for moments). */
  def checkSerialized(bytes: Array[Byte]): Int

  /** Check a blob, throwing exactly what [[deserialize]] would throw,
    * without building the sketch where the kind can read its bytes in
    * place. A blob that passes is what `serialize(deserialize(bytes))`
    * returns, so the bytes may stand for the sketch until it has to be
    * merged into. */
  def admit(bytes: Array[Byte]): Unit = checkSerialized(bytes)

  def deserialize(bytes: Array[Byte]): S
  def serialize(s: S): Array[Byte]

  /** `mergeSketch(into, deserialize(bytes))`, byte for byte. */
  def mergeBytes(into: S, bytes: Array[Byte]): Unit = mergeSketch(into, deserialize(bytes))
  def mergeSketch(into: S, other: S): Unit
}
