package graft.api

import graft.core._
import graft.verify.{InMemoryStateHash, QueryCertificate}

/** The external query surface: the reference's `POST /query` request
  * union and response envelope (api/types.rs:239-385, handlers.rs:220-401)
  * as a typed request/response dispatcher.
  *
  * This container is zero-dependency (no HTTP stack resolvable), so the
  * transport layer stops here by design: `QueryApi.execute` is exactly the
  * handler an HTTP/MCP facade would call, with the same validation,
  * diagnostics and grounding rules. Absence is a successful response with
  * `found = false` and a diagnostic — never an error (the reference's
  * result-vs-error discipline, session.rs:653-674).
  */
sealed trait ApiRequest extends Product with Serializable
object ApiRequest {
  final case class Lookup(entityId: Long) extends ApiRequest
  final case class Traverse(nodeId: Long, depth: Int) extends ApiRequest
  final case class TraverseFiltered(
      nodeId: Long, depth: Int, minWeight: Long, topK: Option[Int] = None) extends ApiRequest
  final case class StrongestPath(start: Long, end: Long) extends ApiRequest
  final case class Intersect(nodes: Vector[Long]) extends ApiRequest
  final case class Related(nodeId: Long, depth: Int) extends ApiRequest
  final case class Properties(nodeId: Long) extends ApiRequest
}

final case class ApiResponse(
    success: Boolean,
    found: Boolean,
    path: Vector[Long],
    edges: Vector[Edge],
    properties: Vector[(String, String)],
    grounding: String,
    error: Option[String] = None,
    diagnostic: Option[String] = None)

object ApiResponse {
  def invalid(message: String): ApiResponse =
    ApiResponse(success = false, found = false, Vector.empty, Vector.empty,
      Vector.empty, Grounding.Unknown.label, error = Some(message))

  def absent(diagnostic: String): ApiResponse =
    ApiResponse(success = true, found = false, Vector.empty, Vector.empty,
      Vector.empty, Grounding.Unknown.label, diagnostic = Some(diagnostic))
}

object QueryApi {

  /** Query descriptor bound into certificates (handlers.rs:542-567 style). */
  def descriptor(req: ApiRequest): String = req match {
    case ApiRequest.Lookup(e) => s"lookup:$e"
    case ApiRequest.Traverse(n, d) => s"traverse:$n:$d"
    case ApiRequest.TraverseFiltered(n, d, w, k) =>
      // top-k is part of the answered question — a certificate for the
      // truncated result must not collide with the untruncated query's
      s"traverse_filtered:$n:$d:$w" + k.map(kk => s":top$kk").getOrElse("")
    case ApiRequest.StrongestPath(s, e) => s"strongest_path:$s:$e"
    case ApiRequest.Intersect(ns) => s"intersect:${ns.mkString(",")}"
    case ApiRequest.Related(n, d) => s"related:$n:$d"
    case ApiRequest.Properties(n) => s"properties:$n"
  }

  def execute(session: GraftSession, req: ApiRequest): ApiResponse = {
    val g = session.graph
    req match {
      case ApiRequest.Lookup(entity) =>
        g.getNodeByEntity(entity) match {
          case Some(node) => ApiResponse(success = true, found = true,
            Vector(node), Vector.empty, Vector.empty, Grounding.Fact.label)
          case None => ApiResponse.absent("entity_not_found")
        }

      case ApiRequest.Traverse(n, d) => traverseResponse(g, n, d, None, None)
      case ApiRequest.Related(n, d) => traverseResponse(g, n, d, None, None)
      case ApiRequest.TraverseFiltered(n, d, w, k) => traverseResponse(g, n, d, Some(w), k)

      case ApiRequest.StrongestPath(start, end) =>
        if (!g.containsNode(start)) ApiResponse.absent("start_not_found")
        else if (!g.containsNode(end)) ApiResponse.absent("end_not_found")
        else g.strongestPath(start, end) match {
          case None => ApiResponse.absent("no_path")
          case Some(path) =>
            val edges = path.sliding(2).collect {
              case Seq(a, b) if g.getEdge(a, b).isDefined => Edge(a, b, g.getEdge(a, b).get)
            }.toVector
            ApiResponse(success = true, found = true, path, edges, Vector.empty,
              Grounding.Inference.label)
        }

      case ApiRequest.Intersect(nodes) =>
        if (nodes.length < Limits.MinIntersectNodes || nodes.length > Limits.MaxIntersectNodes)
          ApiResponse.invalid(
            s"intersect arity ${nodes.length} outside ${Limits.MinIntersectNodes}..${Limits.MaxIntersectNodes}")
        else {
          val common = g.intersect(nodes)
          if (common.isEmpty) ApiResponse.absent("no_common_neighbors")
          else ApiResponse(success = true, found = true, common, Vector.empty,
            Vector.empty, Grounding.Inference.label)
        }

      case ApiRequest.Properties(node) =>
        g.getProperties(node) match {
          case Left(_) => ApiResponse.absent("entity_not_found")
          case Right(props) =>
            // an existing node with zero properties is still found; the
            // response orders pairs canonically by (attribute, value) so
            // both backends answer identically (the in-memory store keeps
            // values in insertion order, the distributed store doesn't
            // track it)
            ApiResponse(success = true, found = true, Vector(node), Vector.empty,
              props.sorted, Grounding.Fact.label)
        }
    }
  }

  private def traverseResponse(
      g: InMemoryGraph, node: Long, depth: Int,
      minWeight: Option[Long], topK: Option[Int]): ApiResponse = {
    if (depth > Limits.MaxTraversalDepth)
      return ApiResponse.invalid(s"depth $depth > ${Limits.MaxTraversalDepth}")
    val art = minWeight match {
      case Some(w) => g.traverseFiltered(node, depth, w)
      case None => g.traverse(node, depth)
    }
    art match {
      case None => ApiResponse.absent("entity_not_found")
      case Some(a) =>
        val cut = GroundingEngine.applyTopK(a, topK)
        ApiResponse(success = true, found = true, cut.path,
          cut.subgraph.getOrElse(Vector.empty), Vector.empty, Grounding.Inference.label)
    }
  }

  /** The `POST /signal/retract` path (handlers.rs:169-213): an entity
    * pair resolves to its edge, which is decremented; missing entity or
    * edge is a lookup failure (the HTTP 404), NOT a silent no-op — the
    * deliberate asymmetry with ingest. Returns the new weight.
    */
  def retract(session: GraftSession, fromEntity: Long, toEntity: Long): Either[GraftError, Long] = {
    val g = session.graph
    for {
      from <- g.getNodeByEntity(fromEntity).toRight(GraftError.NodeNotFound(fromEntity))
      to <- g.getNodeByEntity(toEntity).toRight(GraftError.NodeNotFound(toEntity))
      _ <- g.decrementEdge(from, to)
    } yield g.getEdge(from, to).getOrElse(0L)
  }

  /** The `/certify` path (handlers.rs:578-674): re-run the query, bind the
    * result to the state hash in a GQC1 certificate. `properties` queries
    * are rejected — the certificate format carries no property evidence.
    */
  def certify(session: GraftSession, req: ApiRequest): Either[GraftError, (ApiResponse, QueryCertificate)] = {
    req match {
      case _: ApiRequest.Properties =>
        return Left(GraftError.InvalidQuery("properties queries cannot be certified"))
      case _ => ()
    }
    val resp = execute(session, req)
    if (!resp.success)
      return Left(GraftError.InvalidQuery(resp.error.getOrElse("invalid query")))
    val stateHash = InMemoryStateHash.rootWithStats(session.graph).root
    val grounding =
      if (!resp.found) Grounding.Unknown
      else req match {
        case _: ApiRequest.Lookup => Grounding.Fact
        case _ => Grounding.Inference
      }
    val artifact =
      if (!resp.found) None
      else Some(Artifact(resp.path,
        if (resp.edges.nonEmpty) Some(resp.edges) else None))
    Right((resp, QueryCertificate.build(stateHash, descriptor(req), grounding, session.graph, artifact)))
  }
}
