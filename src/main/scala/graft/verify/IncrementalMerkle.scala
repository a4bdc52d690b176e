package graft.verify

import graft.graph.GraphFrames

/** Incremental Merkle state hash (r16 verdict #3): cache the per-key-range
  * leaf summaries ([[DistributedStateHash.Leaf]] — digest, row count,
  * checksum xor) across certifies and rehash ONLY the blocks whose rows
  * changed since the last one, so `/hash`/certify cost follows the
  * MUTATION volume, not the corpus. The reference's `state_hash` is
  * monolithic (kremis certificate.rs:253-256 rebuilds the canonical
  * stream per call) — the behavior is matched, the cost is not: the
  * Merkle construction was designed for per-range reuse and this is the
  * layer that finally uses it.
  *
  * Contract: the OWNER of the graph snapshot lineage (one
  * [[graft.graph.SparkGraphSession]] — the single place snapshot swaps
  * happen) registers every mutated key through `noteNodes` /
  * `noteEdgeSrcs` / `noteProps` as it swaps snapshots. [[rootWithStats]]
  * then refreshes exactly the dirty blocks (on key-clustered storage the
  * block predicate prunes the scan itself) and reassembles the root from
  * cached + fresh leaves — counts and the commutative checksum fold from
  * the leaf summaries, touching no data. A caller that cannot guarantee
  * complete registration calls [[invalidateAll]] (the cold path — one
  * full scan per section, identical to
  * [[DistributedStateHash.merkleStateHashWithStats]], whose golden
  * vectors pin the root value this class must reproduce).
  *
  * The leaf cache and root assembly do not care where a leaf comes from:
  * [[InMemoryStateHash]] drives the same cache with leaves folded from
  * per-node row chunks of a driver-side graph.
  *
  * Thread-safety: all entry points synchronize on this instance — the
  * session mutation path and a concurrent certify cannot interleave a
  * half-registered batch.
  */
object IncrementalMerkle {
  /** (root, checksum, leaves recomputed this call, total leaves). */
  final case class Result(
      root: Array[Byte], checksum: Long, recomputed: Long, totalLeaves: Long) {
    def rootHex: String = root.map(b => f"$b%02x").mkString
  }
}

final class IncrementalMerkle(val span: Long = Canonical.MerkleBlockSpan) {
  import DistributedStateHash.Leaf
  import IncrementalMerkle.Result

  private var cold = true
  private val cache = scala.collection.mutable.Map.empty[(Byte, Long), Leaf]
  private val dirty = scala.collection.mutable.Set.empty[(Byte, Long)]

  private def blockOf(key: Long): Long = Math.floorDiv(key, span)

  def noteNodes(ids: IterableOnce[Long]): Unit = synchronized {
    ids.iterator.foreach(id => dirty += ((Canonical.TagNode, blockOf(id))))
  }
  def noteEdgeSrcs(srcs: IterableOnce[Long]): Unit = synchronized {
    srcs.iterator.foreach(s => dirty += ((Canonical.TagEdge, blockOf(s))))
  }
  def noteProps(nodeIds: IterableOnce[Long]): Unit = synchronized {
    nodeIds.iterator.foreach(id => dirty += ((Canonical.TagProp, blockOf(id))))
  }

  /** Drop every cached leaf — the next root pays one full scan per
    * section. The escape hatch for lineages this instance did not watch.
    */
  def invalidateAll(): Unit = synchronized {
    cold = true
    cache.clear()
    dirty.clear()
  }

  def root(g: GraphFrames): Array[Byte] = rootWithStats(g).root

  def rootWithStats(g: GraphFrames): Result =
    refresh((tag, only) => DistributedStateHash.foldSection(g, tag, span, only).toSeq)(
      DistributedStateHash.denseNextNodeId)

  /** Refresh the dirty blocks (every block when cold) of each section
    * through `fold`, which gets the section tag and the blocks to rebuild
    * (None: all) and returns their non-empty leaves; then assemble the
    * root with the header's `next_node_id` taken from the node leaves.
    */
  private[verify] def refresh(fold: (Byte, Option[Seq[Long]]) => Seq[Leaf])(
      nextNodeId: Seq[Leaf] => Long): Result = synchronized {
    var recomputed = 0L
    Seq(Canonical.TagNode, Canonical.TagEdge, Canonical.TagProp).foreach { tag =>
      val only =
        if (cold) None
        else Some(dirty.iterator.collect { case (t, b) if t == tag => b }.toSeq)
      if (!only.exists(_.isEmpty)) { // cold, or some blocks dirty
        val fresh = fold(tag, only)
        only match {
          // a dirty block that emptied out (all rows gone) must LOSE its
          // leaf, so stale keys are dropped before fresh ones land
          case Some(bs) => bs.foreach(b => cache.remove((tag, b)))
          case None => cache.filterInPlace { case ((t, _), _) => t != tag }
        }
        fresh.foreach(l => cache((tag, l.block)) = l)
        recomputed += fresh.length
      }
    }
    cold = false
    dirty.clear()
    def section(tag: Byte): Seq[Leaf] =
      cache.iterator.collect { case ((t, _), l) if t == tag => l }
        .toSeq.sortBy(_.block)
    val (n, e, p) = (section(Canonical.TagNode), section(Canonical.TagEdge),
      section(Canonical.TagProp))
    Result(DistributedStateHash.assembleRoot(nextNodeId(n), n, e, p),
      DistributedStateHash.checksumOf(n, e, p), recomputed, (n.size + e.size + p.size).toLong)
  }
}
