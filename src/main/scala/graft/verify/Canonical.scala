package graft.verify

import graft.core.{Edge, GraftError, InMemoryGraph, Node}
import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Canonical graph serialization — the verification format ("GRFX" v1).
  *
  * Role-equivalent to the reference's KREX canonical export
  * (export.rs:19-42, 201-447): a fully-sorted, byte-reproducible encoding
  * of the whole graph, carrying counts and an integrity checksum that are
  * validated BEFORE payload deserialization, with import limits and
  * dangling-reference diagnostics. The byte layout itself is our own spec
  * (big-endian, length-prefixed UTF-8) — the *role* is the contract, not
  * the reference's postcard bytes.
  *
  * Layout:
  * {{{
  *   magic  "GRFX"            4 B
  *   version u8 = 1
  *   next_node_id   i64 BE
  *   node_count     i64 BE
  *   edge_count     i64 BE
  *   prop_count     i64 BE
  *   checksum       i64 BE    (commutative row checksum, see below)
  *   nodes  sorted by id:            [id i64][entity i64]
  *   edges  sorted by (from, to):    [from i64][to i64][weight i64]
  *   props  sorted by (node, a, v):  [node i64][len u32][attr][len u32][value]
  * }}}
  *
  * Checksum: XOR over all rows of FNV-1a 64 of (tag byte ++ canonical row
  * bytes). XOR commutes, so the distributed engine computes the identical
  * value with a `bit_xor` aggregation over hash-partitioned tables — no
  * global sort needed (the reference's XOR-rotate checksum commutes for
  * the same reason, export.rs:247-298). The cryptographic state hash is
  * SHA-256 over the full canonical bytes (BLAKE3 is the reference's
  * choice, certificate.rs:253-256; SHA-256 is the JDK-available,
  * equally-frozen substitute — documented, not silent).
  */
object Canonical {

  val Magic: Array[Byte] = "GRFX".getBytes(StandardCharsets.US_ASCII)
  val Version: Byte = 1

  /** Import limits, checked before deserializing the payload
    * (export.rs:25-42: 1M nodes / 10M edges / 256 MiB).
    */
  val MaxNodes = 1000000L
  val MaxEdges = 10000000L
  val MaxProps = 50000000L
  val MaxPayloadBytes = 268435456L

  /** Row-kind tags under the checksum (distinguish a node (1,2) from an
    * edge (1,2,_) byte collision).
    */
  val TagNode: Byte = 0x4e // 'N'
  val TagEdge: Byte = 0x45 // 'E'
  val TagProp: Byte = 0x50 // 'P'

  final case class CanonicalGraph(
      nextNodeId: Long,
      nodes: Vector[Node],
      edges: Vector[Edge],
      properties: Vector[(Long, String, String)])

  /** Dangling references dropped during import (export.rs LoadDiagnostics). */
  final case class LoadDiagnostics(danglingEdges: Long, danglingProperties: Long)

  /** Strings under canonical sorts compare by UTF-8 BYTES, not UTF-16 code
    * units: Spark's UTF8String ordering is binary over UTF-8, and the
    * distributed state hash sorts with Spark — Java's natural String order
    * diverges for supplementary-plane characters (surrogates sort low in
    * UTF-16, high in UTF-8). One ordering, declared here, used by both
    * paths.
    */
  val utf8Ordering: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    var cmp = 0
    val n = math.min(x.length, y.length)
    while (cmp == 0 && i < n) {
      cmp = (x(i) & 0xff) - (y(i) & 0xff)
      i += 1
    }
    if (cmp != 0) cmp else x.length - y.length
  }

  private val propOrdering: Ordering[(Long, String, String)] =
    Ordering.Tuple3(Ordering.Long, utf8Ordering, utf8Ordering)

  /** One node's (attribute, value) pairs in canonical order. */
  val pairOrdering: Ordering[(String, String)] =
    Ordering.Tuple2(utf8Ordering, utf8Ordering)

  def fromGraph(g: InMemoryGraph): CanonicalGraph =
    CanonicalGraph(
      g.currentNextNodeId,
      g.allNodes, // TreeMap order: id-ascending
      g.allEdges, // (from, to)-ascending
      g.allNodes.flatMap(n =>
        g.getProperties(n.id).toOption.get.map { case (a, v) => (n.id, a, v) })
        .sorted(propOrdering))

  // --- canonical row bytes (shared by serializer and checksum) ---

  def nodeBytes(id: Long, entity: Long): Array[Byte] =
    ByteBuffer.allocate(16).putLong(id).putLong(entity).array()

  def edgeBytes(from: Long, to: Long, weight: Long): Array[Byte] =
    ByteBuffer.allocate(24).putLong(from).putLong(to).putLong(weight).array()

  def propBytes(node: Long, attribute: String, value: String): Array[Byte] = {
    val a = attribute.getBytes(StandardCharsets.UTF_8)
    val v = value.getBytes(StandardCharsets.UTF_8)
    ByteBuffer.allocate(16 + a.length + v.length)
      .putLong(node).putInt(a.length).put(a).putInt(v.length).put(v).array()
  }

  def nodeHash(id: Long, entity: Long): Long =
    RowHash.fnv1a64(TagNode, nodeBytes(id, entity))
  def edgeHash(from: Long, to: Long, weight: Long): Long =
    RowHash.fnv1a64(TagEdge, edgeBytes(from, to, weight))
  def propHash(node: Long, attribute: String, value: String): Long =
    RowHash.fnv1a64(TagProp, propBytes(node, attribute, value))

  /** Commutative whole-graph checksum (order-independent by XOR). */
  def checksum(c: CanonicalGraph): Long = {
    var h = 0L
    c.nodes.foreach(n => h ^= nodeHash(n.id, n.entityId))
    c.edges.foreach(e => h ^= edgeHash(e.from, e.to, e.weight))
    c.properties.foreach { case (n, a, v) => h ^= propHash(n, a, v) }
    h
  }

  // --- serialization ---

  /** The 45-byte GRFX header, shared by the serializer, the streamed
    * distributed hash and both Merkle twins.
    */
  def headerBytes(nextNodeId: Long, nNodes: Long, nEdges: Long, nProps: Long, checksum: Long): Array[Byte] =
    ByteBuffer.allocate(4 + 1 + 8 * 5)
      .put(Magic).put(Version)
      .putLong(nextNodeId).putLong(nNodes).putLong(nEdges).putLong(nProps)
      .putLong(checksum)
      .array()

  def toBytes(c: CanonicalGraph): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.write(headerBytes(c.nextNodeId, c.nodes.length.toLong, c.edges.length.toLong,
      c.properties.length.toLong, checksum(c)))
    c.nodes.foreach(n => out.write(nodeBytes(n.id, n.entityId)))
    c.edges.foreach(e => out.write(edgeBytes(e.from, e.to, e.weight)))
    c.properties.foreach { case (n, a, v) => out.write(propBytes(n, a, v)) }
    out.flush()
    bos.toByteArray
  }

  /** Parse + validate: magic, version, limits BEFORE payload, count and
    * checksum verification after (export.rs:305-447).
    */
  def fromBytes(bytes: Array[Byte]): Either[GraftError, CanonicalGraph] = {
    def err(m: String) = Left(GraftError.ImportError(m))
    if (bytes.length > MaxPayloadBytes) return err(s"payload ${bytes.length} B over limit")
    if (bytes.length < 45) return err("truncated header")
    val buf = ByteBuffer.wrap(bytes)
    val magic = new Array[Byte](4); buf.get(magic)
    if (!magic.sameElements(Magic)) return err("bad magic")
    val version = buf.get()
    if (version != Version) return err(s"unsupported version $version")
    val nextNodeId = buf.getLong
    val nNodes = buf.getLong; val nEdges = buf.getLong; val nProps = buf.getLong
    if (nNodes < 0 || nNodes > MaxNodes) return err(s"node count $nNodes over limit")
    if (nEdges < 0 || nEdges > MaxEdges) return err(s"edge count $nEdges over limit")
    if (nProps < 0 || nProps > MaxProps) return err(s"property count $nProps over limit")
    val declared = buf.getLong

    try {
      val nodes = Vector.fill(nNodes.toInt)(Node(buf.getLong, buf.getLong))
      val edges = Vector.fill(nEdges.toInt)(Edge(buf.getLong, buf.getLong, buf.getLong))
      val props = Vector.fill(nProps.toInt) {
        val node = buf.getLong
        val a = new Array[Byte](buf.getInt); buf.get(a)
        val v = new Array[Byte](buf.getInt); buf.get(v)
        (node, new String(a, StandardCharsets.UTF_8), new String(v, StandardCharsets.UTF_8))
      }
      if (buf.hasRemaining) return err("trailing bytes")
      val c = CanonicalGraph(nextNodeId, nodes, edges, props)
      if (checksum(c) != declared) return err("checksum mismatch")
      Right(c)
    } catch {
      case _: java.nio.BufferUnderflowException => err("truncated payload")
      case _: NegativeArraySizeException => err("corrupt length prefix")
      case _: OutOfMemoryError => err("corrupt length prefix")
    }
  }

  /** Rebuild a graph from canonical form, dropping dangling references
    * with diagnostics instead of failing (graph.rs:926-1007).
    */
  def importCanonical(c: CanonicalGraph): (InMemoryGraph, LoadDiagnostics) = {
    val g = new InMemoryGraph
    c.nodes.foreach(g.importNode)
    var danglingEdges = 0L
    c.edges.foreach { e =>
      if (g.containsNode(e.from) && g.containsNode(e.to)) g.insertEdge(e.from, e.to, e.weight)
      else danglingEdges += 1
    }
    var danglingProps = 0L
    c.properties.foreach { case (n, a, v) =>
      if (g.containsNode(n)) g.storeProperty(n, a, v)
      else danglingProps += 1
    }
    (g, LoadDiagnostics(danglingEdges, danglingProps))
  }

  /** Round-trip equality check (export.rs:452-470). */
  def verifyCanonical(g: InMemoryGraph): Boolean =
    fromBytes(toBytes(fromGraph(g))) match {
      case Right(c) => c == fromGraph(importCanonical(c)._1)
      case Left(_) => false
    }

  /** SHA-256 of the flat canonical bytes — retained as the integrity hash
    * of the EXPORT payload (what you'd publish next to a .grfx file).
    */
  def stateHashHex(c: CanonicalGraph): String =
    MessageDigest.getInstance("SHA-256").digest(toBytes(c))
      .map(b => f"$b%02x").mkString

  def stateHash(c: CanonicalGraph): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(toBytes(c))

  // --- Merkle state hash (SURVEY §4.3.6) ---
  //
  // The flat SHA-256 above is a sequential Merkle–Damgård chain: at 100 TB
  // someone must stream every sorted row through one hasher (r03's certify
  // path did exactly that through the driver NIC). The Merkle form is the
  // scale path: rows are grouped into KEY-RANGE blocks (id div span — a
  // function of the data, never of the partitioning), each block is
  // SHA-256-hashed where the rows live, and the root digests the 45-byte
  // header plus the ordered 32-byte leaf digests. Value is identical on a
  // laptop and a 1000-executor cluster; only 32 B per non-empty block
  // crosses the network.
  //
  // Leaf preimage: tag byte ++ block-key i64 BE ++ concatenated canonical
  // row bytes in section sort order. Root preimage: header ++ node leaves
  // (block asc) ++ edge leaves ++ prop leaves. Frozen by golden vectors in
  // CanonicalSpec.

  /** Rows per key-range block: node/property blocks span `MerkleBlockSpan`
    * node ids, edge blocks span that many src ids. Part of the frozen spec
    * (changing it changes every root).
    */
  val MerkleBlockSpan = 65536L

  private final class LeafFold(root: MessageDigest, tag: Byte) {
    private var block = Long.MinValue
    private var leaf: MessageDigest = null
    def add(blockKey: Long, rowBytes: Array[Byte]): Unit = {
      if (blockKey != block || leaf == null) {
        if (leaf != null) root.update(leaf.digest())
        leaf = MessageDigest.getInstance("SHA-256")
        leaf.update(tag)
        leaf.update(ByteBuffer.allocate(8).putLong(blockKey).array())
        block = blockKey
      }
      leaf.update(rowBytes)
    }
    def finish(): Unit = if (leaf != null) root.update(leaf.digest())
  }

  /** Driver twin of [[DistributedStateHash.merkleStateHash]] — same spec,
    * computed by a sequential sweep of the sorted in-memory vectors.
    */
  def merkleStateHash(c: CanonicalGraph, span: Long = MerkleBlockSpan): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(headerBytes(c.nextNodeId, c.nodes.length.toLong, c.edges.length.toLong,
      c.properties.length.toLong, checksum(c)))
    val nf = new LeafFold(md, TagNode)
    c.nodes.foreach(n => nf.add(Math.floorDiv(n.id, span), nodeBytes(n.id, n.entityId)))
    nf.finish()
    val ef = new LeafFold(md, TagEdge)
    c.edges.foreach(e => ef.add(Math.floorDiv(e.from, span), edgeBytes(e.from, e.to, e.weight)))
    ef.finish()
    val pf = new LeafFold(md, TagProp)
    c.properties.foreach { case (n, a, v) => pf.add(Math.floorDiv(n, span), propBytes(n, a, v)) }
    pf.finish()
    md.digest()
  }

  def merkleStateHashHex(c: CanonicalGraph, span: Long = MerkleBlockSpan): String =
    merkleStateHash(c, span).map(b => f"$b%02x").mkString
}
