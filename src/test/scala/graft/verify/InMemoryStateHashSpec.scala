package graft.verify

import graft.core._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The incremental in-memory state hash must equal the full recompute
  * (`Canonical.merkleStateHash(Canonical.fromGraph(g))`, pinned by the
  * golden vectors in [[CanonicalSpec]]) after every mutation, and its
  * work must follow the writes: the budget tests count re-encoded chunks
  * and rebuilt leaves, they do not time anything.
  */
class InMemoryStateHashSpec extends AnyFunSuite {

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private def assertMatchesFull(g: InMemoryGraph, h: InMemoryStateHash, step: String): Unit = {
    val r = h.rootWithStats(g)
    val c = Canonical.fromGraph(g)
    assert(r.rootHex === Canonical.merkleStateHashHex(c, h.span), step)
    assert(r.checksum === Canonical.checksum(c), step)
  }

  /** FIXTURES.md §2, as in CanonicalSpec. */
  private def fixture: InMemoryGraph = {
    val g = new InMemoryGraph
    Seq(1L, 2L, 3L).foreach(g.insertNode)
    g.insertEdge(0, 1, 10); g.insertEdge(1, 2, 20)
    g.storeProperty(0, "name", "alpha")
    g
  }

  test("golden vector: the incremental root reproduces the frozen Merkle roots") {
    assert(hex(InMemoryStateHash.rootWithStats(fixture).root) ===
      "7d6002687f8e206755578013ea5ccf5f7eaa1e3be845f2ea834610fdb785f34d")
    assert(hex(new InMemoryStateHash(span = 2).rootWithStats(fixture).root) ===
      "297d2f7d73fb1aad2b563c4acb2303f10b2bb15676a701997d4ac7d99a180858")
  }

  // strings whose UTF-16 order differs from their UTF-8 byte order, so a
  // node's properties only come out canonical when sorted by bytes
  private val strings = Vector("a", "b", "name", "ascii", "￿", "𝄞", "😀x",
    "é", "z𐀀", "")

  /** Every mutator, weighted towards the edge cases: writes to missing
    * endpoints, decrements to and at 0, increments at Long.MaxValue,
    * duplicate and over-cap properties, imports with id gaps and at the
    * ends of the id range.
    */
  private def randomStep(g: InMemoryGraph, rnd: Random, capped: Long, late: Boolean): String = {
    // a missing id now and then; ids stay small until the late steps
    // import at the ends of the range
    def someId: Long =
      if (g.nodeCount == 0 || rnd.nextInt(8) == 0) rnd.nextLong(200)
      else g.allNodes(rnd.nextInt(g.nodeCount)).id
    def str = strings(rnd.nextInt(strings.length))
    rnd.nextInt(11) match {
      case 0 =>
        val e = rnd.nextLong(40); s"insertNode($e) = ${g.insertNode(e)}"
      case 1 =>
        // a gap above the counter, an id below it, or (late, since the
        // counter then saturates) an end of the range
        val counter = g.currentNextNodeId
        val id = rnd.nextInt(if (late) 4 else 2) match {
          case 0 => if (counter < 150) counter + 1 + rnd.nextInt(5) else rnd.nextLong(150)
          case 1 => rnd.nextLong(math.min(counter, 150) + 1)
          case 2 => Long.MinValue + rnd.nextInt(3)
          case _ => Long.MaxValue - rnd.nextInt(3)
        }
        val n = Node(id, 100 + rnd.nextLong(40))
        g.importNode(n); s"importNode($n)"
      case 2 =>
        val (f, t, w) = (someId, someId, rnd.nextLong(5)); g.insertEdge(f, t, w); s"insertEdge($f,$t,$w)"
      case 3 =>
        val (f, t) = (someId, someId); g.insertEdge(f, t, Long.MaxValue - 1)
        g.incrementEdge(f, t); g.incrementEdge(f, t); s"saturate($f,$t)"
      case 4 | 5 =>
        val (f, t) = (someId, someId); g.incrementEdge(f, t); s"incrementEdge($f,$t)"
      case 6 =>
        val (f, t) = (someId, someId); s"decrementEdge($f,$t) = ${g.decrementEdge(f, t)}"
      case 7 =>
        // an existing edge down to 0 and once more at 0
        g.allEdges.headOption.fold("no edge to drain") { e =>
          (0L to math.min(e.weight, 3L)).foreach(_ => g.decrementEdge(e.from, e.to))
          s"drain(${e.from},${e.to})"
        }
      case 8 =>
        val n = someId
        val p = g.getProperties(n).toOption.flatMap(_.headOption)
        s"duplicate property on $n = ${p.map { case (a, v) => g.storeProperty(n, a, v) }}"
      case 9 =>
        s"storeProperty on capped node = ${g.storeProperty(capped, "over", s"cap${rnd.nextInt()}")}"
      case _ =>
        val (n, a, v) = (someId, str, str); s"storeProperty($n,$a,$v) = ${g.storeProperty(n, a, v)}"
    }
  }

  private def randomEquivalence(span: Long, seed: Long): Unit = {
    val rnd = new Random(seed)
    val g = new InMemoryGraph
    val capped = g.insertNode(-1L)
    (0 until Limits.MaxPropertiesPerNode).foreach(i => g.storeProperty(capped, "fill", s"v$i"))
    val h = new InMemoryStateHash(span)
    assertMatchesFull(g, h, "initial")
    (1 to 400).foreach { i =>
      val step = randomStep(g, rnd, capped, late = i > 300)
      assertMatchesFull(g, h, s"seed $seed step $i: $step")
    }
    assert(g.nodeCount > 20 && g.edgeCount > 20, "the walk must build a real graph")
  }

  test("seeded random mutations: incremental root and checksum equal the full recompute (default span)") {
    Seq(11L, 12L).foreach(randomEquivalence(Canonical.MerkleBlockSpan, _))
  }

  test("seeded random mutations: incremental root and checksum equal the full recompute (span 2)") {
    Seq(21L, 22L).foreach(randomEquivalence(2L, _))
  }

  test("seeded random mutations at span 3: the block holding Long.MinValue starts at Long.MinValue") {
    // 3 does not divide 2^63, so that block's first id, block * span,
    // would fall below Long.MinValue
    randomEquivalence(3L, 31L)
  }

  test("a graph with id gaps binds its next_node_id, not its node count") {
    val g = new InMemoryGraph
    g.importNode(Node(0, 10)); g.importNode(Node(5, 11))
    g.insertEdge(0, 5, 3); g.storeProperty(5, "k", "v")
    val leaves = new InMemoryStateHash().rootWithStats(g)
    val full = Canonical.merkleStateHash(Canonical.fromGraph(g))
    assert(g.currentNextNodeId === 6L && g.nodeCount === 2)
    assert(leaves.root.toSeq === full.toSeq)
    // clamped import: the counter saturates at Long.MaxValue
    g.importNode(Node(Long.MaxValue, 12))
    assert(g.currentNextNodeId === Long.MaxValue)
    assert(InMemoryStateHash.rootWithStats(g).rootHex ===
      Canonical.merkleStateHashHex(Canonical.fromGraph(g)))
    // with the node count in the header slot the root would differ
    val c = Canonical.fromGraph(g)
    val dense = Canonical.merkleStateHashHex(c.copy(nextNodeId = c.nodes.length.toLong))
    assert(InMemoryStateHash.rootWithStats(g).rootHex !== dense)
  }

  test("two hashers on one graph each take the whole record they missed") {
    val g = fixture
    val (a, b) = (new InMemoryStateHash(), new InMemoryStateHash())
    assertMatchesFull(g, a, "a cold")
    g.storeProperty(1, "name", "beta")
    assertMatchesFull(g, b, "b cold, takes the record")
    g.incrementEdge(2, 0)
    assertMatchesFull(g, a, "a after b took the record")
    assertMatchesFull(g, b, "b after a took it back")
  }

  // ----------------------------------------------------------- budgets

  private def served(entities: Int): GraftSession = {
    val s = new GraftSession()
    (0 until entities).grouped(50).foreach { grp =>
      s.ingestSequence(grp.map(e => Signal(e.toLong, "name", s"entity-$e"))).fold(e => fail(e.message), _ => ())
    }
    s
  }

  test("budget: a graph whose root was never taken records nothing") {
    val s = served(200)
    s.ingestSequence(Seq(Signal(1, "x", "y"), Signal(2, "x", "y")))
    s.graph.importNode(Node(500, 9999))
    assert(s.graph.pendingChanges.isEmpty)
  }

  test("budget: a clean re-root re-encodes no chunk and rebuilds no leaf") {
    val s = served(200)
    val h = new InMemoryStateHash(span = 16)
    val cold = h.rootWithStats(s.graph)
    val before = h.chunksReencoded.sum
    val again = h.rootWithStats(s.graph)
    assert(h.chunksReencoded.sum === before)
    assert(again.recomputed === 0L && again.totalLeaves === cold.totalLeaves)
    assert(again.rootHex === cold.rootHex)
    assert(h.roots.sum === 2L)
  }

  test("budget: one 4-signal write re-encodes only the touched nodes' chunks") {
    val s = served(200)
    val h = new InMemoryStateHash(span = 16)
    h.rootWithStats(s.graph)
    val before = h.chunksReencoded.sum
    // four existing entities, each with a new property: four property
    // chunks and the three sources of the new edges between them
    val write = Seq(3L, 40L, 41L, 170L).map(e => Signal(e, "seen", "today"))
    val ids = s.ingestSequence(write).toOption.get
    val pending = s.graph.pendingChanges.get
    assert(pending.nodes.isEmpty)
    assert(pending.edgeSrcs === ids.init.toSet)
    assert(pending.props === ids.toSet)
    val r = h.rootWithStats(s.graph)
    assert(h.chunksReencoded.sum - before === 7L)
    // one edge and one property leaf per touched span-16 block
    assert(r.recomputed === ids.map(_ / 16).distinct.size + ids.init.map(_ / 16).distinct.size)
    assert(r.rootHex === Canonical.merkleStateHashHex(Canonical.fromGraph(s.graph), 16))
    // a duplicate of the same write changes nothing and records nothing
    s.ingestSequence(write.take(1))
    assert(s.graph.pendingChanges.get.props.isEmpty && s.graph.pendingChanges.get.edgeSrcs.isEmpty)
  }
}
