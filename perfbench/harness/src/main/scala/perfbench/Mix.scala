package perfbench

import graft.core.{InMemoryGraph, Signal}

/** What the request generator may know about the served graph. */
final case class GraphFacts(
    entityOfNode: Vector[Long],
    out: Vector[Vector[(Long, Long)]],
    absentEntities: Vector[Long],
    minWeight: Long) {
  def nodes: Int = entityOfNode.size
}

object GraphFacts {
  def of(g: InMemoryGraph): GraphFacts = {
    val nodes = g.allNodes.sortBy(_.id)
    require(nodes.map(_.id) == nodes.indices.map(_.toLong), "node ids are not dense")
    val entities = nodes.map(_.entityId)
    val maxEntity = entities.max
    val weights = g.allEdges.map(_.weight)
    GraphFacts(
      entities.toVector,
      nodes.map(n => g.neighbors(n.id)).toVector,
      // ids past the largest entity are absent by construction
      (1 to 64).map(maxEntity + 1000L * _).toVector,
      // the lowest weight filter that keeps at most a tenth of the edges
      weights.distinct.sorted.find(w => weights.count(_ >= w) * 10 <= weights.size)
        .getOrElse(weights.max + 1))
  }
}

/** One scheduled request and what a correct answer must show. */
sealed trait Req {
  def kind: String
  def route: String
  def method: String = "POST"
  def body: String
}

object Req {
  final case class Query(kind: String, body: String, expectNode: Option[Long], absent: Boolean) extends Req {
    def route = "/query"
  }
  final case class Certify(kind: String, body: String, absent: Boolean) extends Req {
    def route = "/certify"
  }
  final case class Ingest(signals: Vector[Signal]) extends Req {
    def kind = "ingest"
    def route = "/signals"
    def body: String = signals.map(s =>
      s"""{"entity_id":${s.entityId},"attribute":${Json.str(s.attribute)},"value":${Json.str(s.value)}}""")
      .mkString("""{"signals":[""", ",", "]}")
  }
  case object Health extends Req {
    def kind = "health"
    def route = "/health"
    override def method = "GET"
    def body: String = null
  }
}

/** The seeded request mix of the serving workload, in passes. The seed
  * fixes each pass's order of request kinds, the ids and the write
  * payloads; nothing else reaches the server.
  */
object Mix {
  /** Write payloads draw from this many values of one attribute, so the
    * graph's size stays steady however long the loop runs.
    */
  val TagValues = 8
  val TagAttribute = "bench_tag"
  val WritePath = 4
  /** One lookup and one certify in this many name an absent entity. */
  val AbsentEvery = 4

  /** The kinds every client sends: the six reads of `/query`, and
    * `GET /health`, whose round trip under load shows the lock wait.
    */
  val Shared: Vector[String] = Vector(
    "lookup", "traverse", "traverse_filtered", "intersect", "strongest_path", "properties", "health")

  /** The kinds client `client` sends, each as often. No record
    * of real traffic to the engine exists to weight them by, so none is
    * favoured. Client 0 certifies where the others write: with one
    * certificate in flight at most, a write waits for at most one
    * whole-graph hash. When every client certifies, the write median
    * flips between the no-wait and the wait mode from run to run.
    */
  def kinds(client: Int): Vector[String] = Shared :+ (if (client == 0) "certify" else "ingest")

  /** Requests of each kind a client sends in one pass. */
  val PerKind = 6

  /** Client `client`'s requests in pass `pass`: each of its kinds exactly
    * [[PerKind]] times, in a seeded order, so every pass and every seed
    * asks the same amount of work of each kind; the seed and the pass fix
    * the order, the ids and the write payloads.
    */
  def pass(seed: Long, client: Int, pass: Int, f: GraphFacts): Vector[Req] = {
    val rnd = new scala.util.Random(seed * 7919L + client + 104729L * pass)
    rnd.shuffle(Vector.fill(PerKind)(kinds(client)).flatten).map(request(_, rnd, f))
  }

  /** One request of `kind`, its ids and payload drawn from `rnd`. */
  def request(kind: String, rnd: scala.util.Random, f: GraphFacts): Req = {
    def node(): Long = rnd.nextInt(f.nodes).toLong
    def walk(from: Long, steps: Int): Vector[Long] =
      (1 to steps).foldLeft(Vector(from)) { (path, _) =>
        val nb = f.out(path.last.toInt)
        if (nb.isEmpty) path else path :+ nb(rnd.nextInt(nb.size))._1
      }
    /** A lookup body, of an absent entity one time in [[AbsentEvery]];
      * with the node a present entity maps to.
      */
    def lookup(): (String, Option[Long]) =
      if (rnd.nextInt(AbsentEvery) == 0)
        (s"""{"type":"lookup","entity_id":${f.absentEntities(rnd.nextInt(f.absentEntities.size))}}""", None)
      else {
        val n = node()
        (s"""{"type":"lookup","entity_id":${f.entityOfNode(n.toInt)}}""", Some(n))
      }
    kind match {
      case "lookup" =>
        val (body, n) = lookup()
        Req.Query("lookup", body, n, absent = n.isEmpty)
      case "traverse" =>
        Req.Query("traverse", s"""{"type":"traverse","node_id":${node()},"depth":1}""", None, absent = false)
      case "traverse_filtered" =>
        Req.Query("traverse_filtered",
          s"""{"type":"traverse_filtered","node_id":${node()},"depth":2,"min_weight":${f.minWeight},"top_k":10}""",
          None, absent = false)
      case "intersect" =>
        Req.Query("intersect", s"""{"type":"intersect","nodes":[${node()},${node()}]}""", None, absent = false)
      case "strongest_path" =>
        val p = walk(node(), 2)
        Req.Query("strongest_path", s"""{"type":"strongest_path","start":${p.head},"end":${p.last}}""", None, absent = false)
      case "properties" =>
        Req.Query("properties", s"""{"type":"properties","node_id":${node()}}""", None, absent = false)
      case "certify" =>
        val (body, n) = lookup()
        Req.Certify(if (n.isEmpty) "certify_absent" else "certify", body, absent = n.isEmpty)
      case "ingest" =>
        Req.Ingest(walk(node(), WritePath - 1).map(n =>
          Signal(f.entityOfNode(n.toInt), TagAttribute, s"t${rnd.nextInt(TagValues)}")))
      case "health" => Req.Health
    }
  }
}
