package graft.verify

/** FNV-1a 64-bit over bytes — the per-row hash under the commutative graph
  * checksum. FNV-1a is used for the same reason the reference uses it for
  * its property-key hashing (redb_graph.rs:49-72): it is a stable, public,
  * trivially re-implementable function — no engine-private hash can leak
  * into a frozen byte format. Wrapping multiplication is intentional (hash
  * arithmetic), hence plain JVM `*` on longs.
  */
object RowHash {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  def fnv1a64(bytes: Array[Byte]): Long = fold(FnvOffset, bytes)

  /** FNV-1a 64 of `tag` followed by `bytes`: the hash of a tagged
    * canonical row without copying it.
    */
  def fnv1a64(tag: Byte, bytes: Array[Byte]): Long =
    fold((FnvOffset ^ (tag & 0xffL)) * FnvPrime, bytes)

  private def fold(start: Long, bytes: Array[Byte]): Long = {
    var h = start
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** 8-byte big-endian encoding of a long (the canonical integer layout). */
  def longBytes(v: Long): Array[Byte] = {
    val out = new Array[Byte](8)
    var i = 0
    while (i < 8) { out(i) = ((v >>> (56 - 8 * i)) & 0xff).toByte; i += 1 }
    out
  }
}
