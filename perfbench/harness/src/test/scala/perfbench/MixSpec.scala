package perfbench

import graft.core.{InMemoryGraph, Signal}
import org.scalatest.funsuite.AnyFunSuite

class MixSpec extends AnyFunSuite {
  /** A small dense graph: 40 entities visited in a fixed pseudo-random order. */
  private val graph = {
    val g = new InMemoryGraph
    val rnd = new scala.util.Random(5)
    val signals = (0 until 2000).map(i => Signal(100L + rnd.nextInt(40), "kind", s"v${i % 7}"))
    graft.core.Ingestor.ingestSequence(g, signals).fold(e => fail(e.message), identity)
    g
  }
  private val facts = GraphFacts.of(graph)

  /** Client `client`'s requests over the first `passes` passes. */
  private def take(seed: Long, client: Int, passes: Int = 10) =
    (0 until passes).flatMap(p => Mix.pass(seed, client, p, facts)).toVector

  test("the same seed gives the same requests") {
    assert(take(7, 0) === take(7, 0))
    assert(take(7, 3).map(_.body) === take(7, 3).map(_.body))
    assert(take(7, 3).size === 10 * Mix.PerKind * Mix.kinds(3).size)
  }

  test("seeds and clients draw different requests") {
    assert(take(7, 0) !== take(8, 0))
    assert(take(7, 0) !== take(7, 1))
  }

  test("each pass holds every kind of its client equally often; client 0 certifies, the others write") {
    for (c <- 0 until Serve.Clients; p <- 0 until 5) {
      val kinds = Mix.pass(1, c, p, facts).map(_.kind).map(k => if (k == "certify_absent") "certify" else k)
      val counts = kinds.groupBy(identity).map { case (k, ks) => k -> ks.size }
      assert(counts.keySet === Mix.kinds(c).toSet)
      assert(counts.contains("certify") === (c == 0))
      assert(counts.values.toSet === Set(Mix.PerKind), counts)
    }
  }

  test("passes of one client are seeded apart") {
    assert(Mix.pass(7, 0, 0, facts) !== Mix.pass(7, 0, 1, facts))
    assert(Mix.pass(7, 1, 3, facts) === Mix.pass(7, 1, 3, facts))
  }

  test("writes touch only existing entities and draw values from a bounded pool") {
    val entities = facts.entityOfNode.toSet
    val writes = take(2, 1, 100).collect { case w: Req.Ingest => w }
    assert(writes.nonEmpty)
    writes.flatMap(_.signals).foreach { s =>
      assert(entities.contains(s.entityId))
      assert(s.attribute === Mix.TagAttribute)
    }
    assert(writes.flatMap(_.signals).map(_.value).toSet.size <= Mix.TagValues)
  }

  test("absent lookups name entities the graph does not hold") {
    val absent = take(3, 1, 100).collect { case q: Req.Query if q.absent => q }
    assert(take(3, 0, 100).exists { case c: Req.Certify => c.absent; case _ => false })
    assert(absent.nonEmpty)
    absent.foreach { q =>
      val id = graft.api.JsonCodec.long(graft.api.JsonCodec.fields(q.body), "entity_id").get
      assert(graph.getNodeByEntity(id).isEmpty)
    }
  }

  test("a lookup expects the node the graph maps its entity to") {
    take(4, 2, 40).collect { case q @ Req.Query("lookup", _, Some(n), false) => (q, n) }.foreach { case (q, n) =>
      val id = graft.api.JsonCodec.long(graft.api.JsonCodec.fields(q.body), "entity_id").get
      assert(graph.getNodeByEntity(id).contains(n))
    }
  }
}
