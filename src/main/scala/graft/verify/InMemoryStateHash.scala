package graft.verify

import graft.core.InMemoryGraph
import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.security.MessageDigest
import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable

/** Incremental Merkle state hash of an [[InMemoryGraph]]: the root and
  * checksum of `Canonical.merkleStateHash(Canonical.fromGraph(g))` at the
  * cost of the writes since the last root, not of the graph.
  *
  * Per section and per node it keeps the node's canonical row chunk: the
  * row count and the FNV xor, plus the bytes themselves for properties,
  * whose UTF-8 encoding and byte-order sort dominate a full encode (less
  * the node id every row repeats). Node and edge rows are fixed-width
  * longs, re-encoded straight from the graph when their block is folded. The graph records, from the first root on,
  * which node ids each mutator changed ([[InMemoryGraph.takeChanges]]); a
  * root re-encodes only those nodes' chunks and rebuilds only their
  * blocks' leaves, streaming every chunk of a block into one SHA-256 —
  * the same preimage as the sequential sweep, since a leaf hashes the
  * concatenation of its rows. The leaf cache and the root assembly are
  * [[IncrementalMerkle]]'s; the cold root is the same code with every
  * node changed.
  *
  * All calls synchronize on the instance; the caller keeps mutations of
  * the graph from overlapping a root, as `HttpFacade`'s lock does.
  */
final class InMemoryStateHash(val span: Long = Canonical.MerkleBlockSpan) {
  import DistributedStateHash.Leaf
  import InMemoryStateHash.{Chunk, Feed}

  private val leaves = new IncrementalMerkle(span)

  /** Roots taken, and node chunks re-encoded for them. */
  val roots = new LongAdder
  val chunksReencoded = new LongAdder

  private abstract class Section(val tag: Byte) {
    val chunks = mutable.TreeMap.empty[Long, Chunk]

    /** Node `id`'s canonical rows in this section, in canonical order. */
    def rows(g: InMemoryGraph, id: Long): Iterator[Array[Byte]]

    /** What a chunk keeps of a row (nothing by default: rows are
      * re-encoded from the graph).
      */
    def keep(row: Array[Byte], out: ByteArrayOutputStream): Unit = ()

    /** Feed node `id`'s rows, whose chunk is `c`, into a leaf. */
    def stream(g: InMemoryGraph, id: Long, c: Chunk, feed: Feed): Unit =
      rows(g, id).foreach(r => feed.bytes(r, 0, r.length))

    def reencode(g: InMemoryGraph, id: Long): Unit = {
      var count = 0
      var xor = 0L
      val kept = new ByteArrayOutputStream()
      rows(g, id).foreach { r =>
        count += 1
        xor ^= RowHash.fnv1a64(tag, r)
        keep(r, kept)
      }
      if (count == 0) chunks.remove(id)
      else chunks(id) = Chunk(count, xor, if (kept.size == 0) null else kept.toByteArray)
    }

    def blocks: Seq[Long] =
      chunks.keysIterator.map(Math.floorDiv(_, span)).distinct.toSeq

    /** The leaf of `block`, None when no node of the block has rows. */
    def leaf(g: InMemoryGraph, block: Long): Option[Leaf] = {
      // the block's first id, or Long.MinValue when block * span underflows
      val first = if (block < Long.MinValue / span) Long.MinValue else block * span
      val md = MessageDigest.getInstance("SHA-256")
      val feed = new Feed(md)
      feed.bytes(Array(tag), 0, 1)
      feed.long(block)
      var count = 0L
      var xor = 0L
      chunks.iteratorFrom(first).takeWhile { case (id, _) => Math.floorDiv(id, span) == block }
        .foreach { case (id, c) =>
          stream(g, id, c, feed)
          count += c.rows
          xor ^= c.xor
        }
      feed.flush()
      if (count == 0) None else Some(Leaf(block, md.digest(), count, xor))
    }
  }

  private val nodes = new Section(Canonical.TagNode) {
    def rows(g: InMemoryGraph, id: Long): Iterator[Array[Byte]] =
      g.lookup(id).iterator.map(n => Canonical.nodeBytes(n.id, n.entityId))
  }
  private val edges = new Section(Canonical.TagEdge) {
    def rows(g: InMemoryGraph, id: Long): Iterator[Array[Byte]] =
      g.neighbors(id).iterator.map { case (to, w) => Canonical.edgeBytes(id, to, w) }
    // the same [from][to][weight] rows, written without a row array each
    override def stream(g: InMemoryGraph, id: Long, c: Chunk, feed: Feed): Unit =
      g.foreachNeighbor(id) { (to, w) => feed.long(id); feed.long(to); feed.long(w) }
  }
  // a property row is [node][len][attribute][len][value]; the chunk keeps
  // the rows without their node id, which streaming puts back
  private val props = new Section(Canonical.TagProp) {
    def rows(g: InMemoryGraph, id: Long): Iterator[Array[Byte]] =
      g.getProperties(id).getOrElse(Vector.empty).sorted(Canonical.pairOrdering)
        .iterator.map { case (a, v) => Canonical.propBytes(id, a, v) }
    override def keep(row: Array[Byte], out: ByteArrayOutputStream): Unit =
      out.write(row, 8, row.length - 8)
    override def stream(g: InMemoryGraph, id: Long, c: Chunk, feed: Feed): Unit = {
      val b = ByteBuffer.wrap(c.bytes)
      while (b.hasRemaining) {
        val start = b.position()
        b.position(start + 4 + b.getInt(start))
        b.position(b.position() + 4 + b.getInt(b.position()))
        feed.long(id)
        feed.bytes(c.bytes, start, b.position() - start)
      }
    }
  }
  private val sections = Seq(nodes, edges, props)

  /** (root, checksum, leaves rebuilt, total leaves) of `g` now. */
  def rootWithStats(g: InMemoryGraph): IncrementalMerkle.Result = synchronized {
    val changed = g.takeChanges(this) match {
      case Some(c) => Seq(c.nodes, c.edgeSrcs, c.props)
      case None =>
        leaves.invalidateAll()
        sections.foreach(_.chunks.clear())
        val all = g.allNodes.map(_.id)
        Seq(all, all, all)
    }
    sections.zip(changed).foreach { case (s, ids) =>
      ids.foreach(s.reencode(g, _))
      chunksReencoded.add(ids.size.toLong)
    }
    leaves.noteNodes(changed(0))
    leaves.noteEdgeSrcs(changed(1))
    leaves.noteProps(changed(2))
    roots.increment()
    leaves.refresh { (tag, only) =>
      val s = sections.find(_.tag == tag).get
      only.getOrElse(s.blocks).flatMap(s.leaf(g, _))
    }(_ => g.currentNextNodeId)
  }
}

object InMemoryStateHash {
  /** One node's rows in one section: their count, FNV xor and, where the
    * section keeps them, bytes (null otherwise).
    */
  private final case class Chunk(rows: Int, xor: Long, bytes: Array[Byte])

  /** Bytes bound for one digest, gathered so that short rows cost one
    * digest update per buffer-full rather than one each.
    */
  private final class Feed(md: MessageDigest) {
    private val buf = ByteBuffer.allocate(8192)
    def long(v: Long): Unit = { room(8); buf.putLong(v) }
    def bytes(b: Array[Byte], off: Int, len: Int): Unit =
      if (len > buf.capacity) { flush(); md.update(b, off, len) }
      else { room(len); buf.put(b, off, len) }
    private def room(n: Int): Unit = if (buf.remaining < n) flush()
    def flush(): Unit = { md.update(buf.array, 0, buf.position); buf.clear() }
  }

  // one instance per graph, so one owner drains its change record; the
  // instance holds no reference to its graph, which keeps the key weak
  private val instances = new java.util.WeakHashMap[InMemoryGraph, InMemoryStateHash]()

  def of(g: InMemoryGraph): InMemoryStateHash = instances.synchronized {
    instances.computeIfAbsent(g, _ => new InMemoryStateHash())
  }

  /** [[InMemoryStateHash.rootWithStats]] of `g`'s own instance. */
  def rootWithStats(g: InMemoryGraph): IncrementalMerkle.Result = of(g).rootWithStats(g)
}
