package graft.verify

import graft.graph.GraphFrames
import java.nio.ByteBuffer
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr}

/** Cryptographic state hashes computed from the distributed store.
  *
  * Two constructions:
  *   - [[stateHash]] — the flat export hash: the exact GRFX canonical byte
  *     stream (header + sorted rows) fed incrementally into SHA-256 via
  *     sorted `toLocalIterator`. O(1) driver memory but O(N) rows through
  *     the driver NIC — the integrity hash of an export payload, kept as
  *     the spec cross-check for the Merkle form.
  *   - [[merkleStateHash]] — the certify/scale path (SURVEY §4.3.6): rows
  *     are hashed into key-range block digests IN EXECUTORS, and only
  *     32 bytes per non-empty block reach the driver, which folds the
  *     ordered leaves with the header into the root. Block boundaries are
  *     a function of the data (id div span), never of the partitioning, so
  *     the root is identical on any cluster size —
  *     [[Canonical.merkleStateHash]] is the sequential twin and golden
  *     vectors freeze the spec.
  *
  * The commutative checksum in the header comes from
  * [[DistributedChecksum]] (bit_xor aggregation — fully distributed).
  */
object DistributedStateHash {

  def merkleStateHashHex(g: GraphFrames, span: Long = Canonical.MerkleBlockSpan): String =
    merkleStateHash(g, span).map(b => f"$b%02x").mkString

  def merkleStateHash(g: GraphFrames, span: Long = Canonical.MerkleBlockSpan): Array[Byte] =
    merkleStateHashWithStats(g, span)._1

  /** One key-range block's executor-computed summary: the SHA-256 leaf
    * digest, its row count (the header's section counts sum these), and
    * the block's commutative FNV-xor contribution (the header's checksum
    * xors these) — everything the root assembly needs, 48 bytes per
    * block, so a certify never re-aggregates the corpus for counts or
    * checksum in separate passes.
    */
  private[verify] final case class Leaf(
      block: Long, digest: Array[Byte], rows: Long, xor: Long)

  /** Per-section leaf fold: colocate each key-range block
    * (repartitionByRange keeps equal keys together), sort rows within
    * partitions, hash each block where it lives, ship only the
    * fixed-size [[Leaf]] summaries to the driver. With `onlyBlocks` the
    * scan restricts to those blocks BEFORE the exchange — the
    * incremental path ([[IncrementalMerkle]]) recomputes dirty ranges
    * only, and on key-clustered storage the block predicate prunes the
    * scan itself.
    */
  private[verify] def foldLeaves(
      df: DataFrame, keyCol: String, sortCols: Seq[String], tag: Byte,
      span: Long, onlyBlocks: Option[Seq[Long]] = None)(
      rowBytes: Row => Array[Byte]): Array[Leaf] = {
    // floor division, matching the driver twin's Math.floorDiv — SQL
    // `div` truncates toward zero, which would put a negative key in a
    // different block than the sequential twin and fork the root. The
    // quotient-correction form never overflows (a subtract-the-pmod
    // form computes key-1 for key = Long.MinValue under some spans)
    val blocked = df.withColumn("__block", expr(
      s"($keyCol div ${span}L) - (CASE WHEN $keyCol % ${span}L < 0 THEN 1 ELSE 0 END)"))
    val restricted = onlyBlocks match {
      case Some(bs) => blocked.filter(col("__block").isInCollection(bs))
      case None => blocked
    }
    restricted
      .repartitionByRange(col("__block"))
      .sortWithinPartitions(("__block" +: sortCols).map(col): _*)
      .rdd
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Leaf]
        var block = Long.MinValue
        var rows = 0L
        var xor = 0L
        var leaf: MessageDigest = null
        def close(): Unit =
          if (leaf != null) out += Leaf(block, leaf.digest(), rows, xor)
        it.foreach { r =>
          val b = r.getLong(r.fieldIndex("__block"))
          if (leaf == null || b != block) {
            close()
            leaf = MessageDigest.getInstance("SHA-256")
            leaf.update(tag)
            leaf.update(ByteBuffer.allocate(8).putLong(b).array())
            block = b
            rows = 0L
            xor = 0L
          }
          val bytes = rowBytes(r)
          leaf.update(bytes)
          // the commutative checksum's row hash is FNV-1a64 over the
          // TAGGED canonical bytes (Canonical.checksum / the bit_xor
          // aggregate of Fnv1a64Expr compute the identical value)
          xor ^= RowHash.fnv1a64(tag, bytes)
          rows += 1L
        }
        close()
        out.iterator
      }
      .collect()
      .sortBy(_.block)
  }

  private[verify] def foldSection(g: GraphFrames, tag: Byte, span: Long,
      onlyBlocks: Option[Seq[Long]] = None): Array[Leaf] = tag match {
    case Canonical.TagNode =>
      foldLeaves(g.nodes, "node_id", Seq("node_id"), tag, span, onlyBlocks)(r =>
        Canonical.nodeBytes(r.getLong(0), r.getLong(1)))
    case Canonical.TagEdge =>
      foldLeaves(g.edges, "src", Seq("src", "dst"), tag, span, onlyBlocks)(r =>
        Canonical.edgeBytes(r.getLong(0), r.getLong(1), r.getLong(2)))
    case Canonical.TagProp =>
      foldLeaves(g.properties, "node_id",
        Seq("node_id", "attribute", "value"), tag, span, onlyBlocks)(r =>
        Canonical.propBytes(r.getLong(0), r.getString(1), r.getString(2)))
    case t => throw new IllegalArgumentException(s"unknown section tag $t")
  }

  /** Assemble the root from per-section leaves — counts and checksum
    * come FROM the leaves (rows summed, block xors folded), so the whole
    * state hash is one scan per section, and the incremental path can
    * assemble from cached leaves without touching the data at all. The
    * header's `next_node_id` is the caller's: the graph's counter, which
    * only equals the node count when ids are dense.
    */
  private[verify] def assembleRoot(
      nextNodeId: Long, nodeLeaves: Seq[Leaf], edgeLeaves: Seq[Leaf],
      propLeaves: Seq[Leaf]): Array[Byte] = {
    val checksum = checksumOf(nodeLeaves, edgeLeaves, propLeaves)
    val nNodes = nodeLeaves.iterator.map(_.rows).sum
    val nEdges = edgeLeaves.iterator.map(_.rows).sum
    val nProps = propLeaves.iterator.map(_.rows).sum
    val md = MessageDigest.getInstance("SHA-256")
    md.update(Canonical.headerBytes(nextNodeId, nNodes, nEdges, nProps, checksum))
    nodeLeaves.foreach(l => md.update(l.digest))
    edgeLeaves.foreach(l => md.update(l.digest))
    propLeaves.foreach(l => md.update(l.digest))
    md.digest()
  }

  /** The commutative checksum: every block's FNV xor folded. */
  private[verify] def checksumOf(sections: Seq[Leaf]*): Long =
    sections.iterator.flatten.foldLeft(0L)(_ ^ _.xor)

  /** `next_node_id` of a lineage derived by [[graft.graph.GraphTables]]:
    * its node ids are dense 0..n-1 by construction (a session ingest
    * appends at the count), so the counter equals the node count.
    */
  private[verify] def denseNextNodeId(nodeLeaves: Seq[Leaf]): Long =
    nodeLeaves.iterator.map(_.rows).sum

  /** (root, non-empty leaf blocks) — the leaf count is the certify
    * rehearsal's observable: driver ingress is fixed bytes per leaf,
    * independent of row volume, so a billion-node graph at the
    * production span ships ~0.5 MB to the driver where the flat
    * [[stateHash]] would stream every row. The header's counts and
    * commutative checksum ride the same fold (per-block row counts and
    * FNV xors), so the whole certify is ONE scan per section — the
    * separate checksum aggregation pass is gone (r16 verdict #3).
    */
  def merkleStateHashWithStats(
      g: GraphFrames,
      span: Long = Canonical.MerkleBlockSpan): (Array[Byte], Long) = {
    val nodeLeaves = foldSection(g, Canonical.TagNode, span)
    val edgeLeaves = foldSection(g, Canonical.TagEdge, span)
    val propLeaves = foldSection(g, Canonical.TagProp, span)
    (assembleRoot(denseNextNodeId(nodeLeaves.toSeq), nodeLeaves.toSeq,
      edgeLeaves.toSeq, propLeaves.toSeq),
      (nodeLeaves.length + edgeLeaves.length + propLeaves.length).toLong)
  }

  /** (commutative checksum, Merkle root hex) in ONE scan per section —
    * the `/hash` surface: both values fold from the same leaf summaries,
    * so the separate checksum aggregation pass is gone.
    */
  def hashSummary(g: GraphFrames,
      span: Long = Canonical.MerkleBlockSpan): (Long, String) = {
    val n = foldSection(g, Canonical.TagNode, span).toSeq
    val e = foldSection(g, Canonical.TagEdge, span).toSeq
    val p = foldSection(g, Canonical.TagProp, span).toSeq
    (checksumOf(n, e, p),
      assembleRoot(denseNextNodeId(n), n, e, p).map(b => f"$b%02x").mkString)
  }

  def stateHashHex(g: GraphFrames): String =
    stateHash(g).map(b => f"$b%02x").mkString

  /** nextNodeId of a derived graph: ids are dense 0..n-1 by construction,
    * so the counter equals the node count.
    */
  def stateHash(g: GraphFrames): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-256")
    val nNodes = g.nodes.count()
    val nEdges = g.edges.count()
    val nProps = g.properties.count()
    val checksum = DistributedChecksum.checksum(g)

    val header = ByteBuffer.allocate(4 + 1 + 8 * 5)
    header.put(Canonical.Magic)
    header.put(Canonical.Version)
    header.putLong(nNodes) // nextNodeId == node count for dense derived ids
    header.putLong(nNodes)
    header.putLong(nEdges)
    header.putLong(nProps)
    header.putLong(checksum)
    md.update(header.array())

    val nodes = g.nodes.orderBy("node_id").toLocalIterator()
    while (nodes.hasNext) {
      val r = nodes.next()
      md.update(Canonical.nodeBytes(r.getLong(0), r.getLong(1)))
    }
    val edges = g.edges.orderBy("src", "dst").toLocalIterator()
    while (edges.hasNext) {
      val r = edges.next()
      md.update(Canonical.edgeBytes(r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    val props = g.properties.orderBy("node_id", "attribute", "value").toLocalIterator()
    while (props.hasNext) {
      val r = props.next()
      md.update(Canonical.propBytes(r.getLong(0), r.getString(1), r.getString(2)))
    }
    md.digest()
  }
}
