package graft.api

import graft.core._
import graft.graph.{GraphFrames, GraphTables}
import graft.verify.{DistributedStateHash, InMemoryStateHash}

/** The metric/health surfaces (`GET /status`, `/stage`, `/metrics`,
  * `/hash`, `/health` — handlers.rs:39-72, 404-492) as typed responses
  * plus the Prometheus text exposition. Transport-free, like
  * [[QueryApi]]: these are the handlers an HTTP facade would call.
  */
final case class StatusResponse(
    nodeCount: Long, edgeCount: Long, stableEdgeCount: Long,
    stage: String, stageOrder: Int)

final case class StageResponse(
    current: String, next: Option[String], percent: Int,
    stableEdges: Long, stableEdgesNeeded: Long)

final case class HashResponse(checksum: Long, stateHash: String)

object StatusApi {

  private val assessor = new StageAssessor()

  // --- in-memory backend ---

  def status(session: GraftSession): StatusResponse = {
    val m = GraphMetrics.fromGraph(session.graph)
    val stage = assessor.assessFromMetrics(m)
    StatusResponse(m.nodeCount, m.edgeCount, m.stableEdgeCount, stage.name, stage.order)
  }

  def stage(session: GraftSession): StageResponse = {
    val p = assessor.progressFromMetrics(GraphMetrics.fromGraph(session.graph))
    StageResponse(p.current.name, p.next.map(_.name), p.percent,
      p.stableEdgesCurrent, p.stableEdgesNeeded)
  }

  def hash(session: GraftSession): HashResponse = {
    // Merkle root (SURVEY §4.3.6) — the same value the distributed backend
    // computes executor-side; certificates bind it too. Checksum and root
    // fold from the incremental root's leaves
    val r = InMemoryStateHash.rootWithStats(session.graph)
    HashResponse(r.checksum, r.rootHex)
  }

  // --- distributed backend ---

  def metricsOf(g: GraphFrames): GraphMetrics = {
    val r = GraphTables.metrics(g, GraphMetrics.StableThreshold).first()
    // max depth is not sampled on the distributed backend (stage.rs:209)
    GraphMetrics(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), 0)
  }

  def status(g: GraphFrames): StatusResponse = {
    val m = metricsOf(g)
    val stage = assessor.assessFromMetrics(m)
    StatusResponse(m.nodeCount, m.edgeCount, m.stableEdgeCount, stage.name, stage.order)
  }

  def stage(g: GraphFrames): StageResponse = {
    val p = assessor.progressFromMetrics(metricsOf(g))
    StageResponse(p.current.name, p.next.map(_.name), p.percent,
      p.stableEdgesCurrent, p.stableEdgesNeeded)
  }

  def hash(g: GraphFrames): HashResponse = {
    // one scan per section: checksum and root fold from the same leaves
    val (checksum, rootHex) = DistributedStateHash.hashSummary(g)
    HashResponse(checksum, rootHex)
  }

  /** Liveness: the store answers a trivial read. */
  def health(g: GraphFrames): Boolean =
    try { g.nodes.limit(1).count(); true } catch { case _: Throwable => false }

  def health(session: GraftSession): Boolean =
    try { session.graph.nodeCount >= 0 } catch { case _: Throwable => false }

  /** Prometheus text exposition of the graph metrics. */
  def prometheusText(m: GraphMetrics, stage: Stage): String = {
    val sb = new StringBuilder
    def gauge(name: String, help: String, value: Long): Unit = {
      sb.append(s"# HELP $name $help\n# TYPE $name gauge\n$name $value\n")
    }
    gauge("graft_nodes_total", "Number of graph nodes", m.nodeCount)
    gauge("graft_edges_total", "Number of graph edges", m.edgeCount)
    gauge("graft_stable_edges_total",
      s"Edges at or above weight ${GraphMetrics.StableThreshold}", m.stableEdgeCount)
    gauge("graft_density_millionths", "Integer fixed-point graph density", m.densityMillionths)
    gauge("graft_stage", "Maturity stage S0..S3", stage.order.toLong)
    sb.toString
  }

  /** Prometheus counters of the in-memory state hash: roots served and
    * node chunks re-encoded for them, which shows how much each root
    * reused.
    */
  def stateHashText(session: GraftSession): String = {
    val h = InMemoryStateHash.of(session.graph)
    def counter(name: String, help: String, value: Long): String =
      s"# HELP $name $help\n# TYPE $name counter\n$name $value\n"
    counter("graft_state_hash_roots_total", "State-hash roots served", h.roots.sum) +
      counter("graft_state_hash_chunks_reencoded_total",
        "Node row chunks re-encoded for state-hash roots", h.chunksReencoded.sum)
  }
}
