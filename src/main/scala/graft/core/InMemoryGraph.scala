package graft.core

import scala.collection.immutable.SortedSet
import scala.collection.mutable

/** Store contract for the graft graph (graph.rs:21-244).
  *
  * Two implementations exist: this driver-side [[InMemoryGraph]] (the
  * reference-semantics gold standard, used for unit tests, bounded DFS and
  * certificate evidence) and the distributed Parquet-backed derivation in
  * `graft.graph.GraphTables` (the scale path). Cross-check tests assert the
  * two agree on traversal outputs.
  */
trait GraphOps {
  def insertNode(entity: Long): Long
  def insertEdge(from: Long, to: Long, weight: Long): Unit
  def incrementEdge(from: Long, to: Long): Unit
  def decrementEdge(from: Long, to: Long): Either[GraftError, Unit]
  def lookup(id: Long): Option[Node]
  def getNodeByEntity(entity: Long): Option[Long]
  def getEdge(from: Long, to: Long): Option[Long]
  def neighbors(node: Long): Vector[(Long, Long)]
  def containsNode(id: Long): Boolean
  def nodeCount: Int
  def edgeCount: Int
  def storeProperty(node: Long, attribute: String, value: String): Either[GraftError, Unit]
  def getProperties(node: Long): Either[GraftError, Vector[(String, String)]]
}

/** Node ids whose canonical rows changed, per section of the canonical
  * form: the node row itself, the out-edges it is the source of, and its
  * properties.
  */
final class GraphChanges {
  val nodes: mutable.Set[Long] = mutable.Set.empty
  val edgeSrcs: mutable.Set[Long] = mutable.Set.empty
  val props: mutable.Set[Long] = mutable.Set.empty
}

/** Deterministic in-memory graph — ordered maps everywhere so iteration
  * order (and therefore every query answer) is reproducible, mirroring the
  * reference's BTreeMap law (graph.rs:317-338).
  *
  * Weight arithmetic is saturating at Long.MaxValue and floored at 0
  * (types/mod.rs:37-76).
  */
final class InMemoryGraph extends GraphOps {
  private val nodes = mutable.TreeMap.empty[Long, Node]
  private val edges = mutable.TreeMap.empty[Long, mutable.TreeMap[Long, Long]]
  private val entityIndex = mutable.TreeMap.empty[Long, Long]
  // node -> attribute -> values (insertion order within attribute, like the
  // reference's Vec<Value>; set semantics enforced on insert)
  private val properties =
    mutable.TreeMap.empty[Long, mutable.TreeMap[String, mutable.ArrayBuffer[String]]]
  private var nextNodeId: Long = 0L
  // node ids changed since the last takeChanges; off (null) until a state
  // hash first asks, so a graph that is never hashed pays a null check
  private var changes: GraphChanges = null
  private var changesOwner: AnyRef = null

  private def saturatingInc(w: Long): Long =
    if (w == Long.MaxValue) w else w + 1

  /** Get-or-create with monotonic deterministic id assignment
    * (graph.rs:502-517).
    */
  override def insertNode(entity: Long): Long =
    entityIndex.getOrElse(entity, {
      val id = nextNodeId
      nextNodeId = if (nextNodeId == Long.MaxValue) nextNodeId else nextNodeId + 1
      nodes(id) = Node(id, entity)
      entityIndex(entity) = id
      if (changes != null) changes.nodes += id
      id
    })

  /** Upsert weight; silent no-op if either endpoint is missing — an explicit
    * design choice, not an error (graph.rs:29-40).
    */
  override def insertEdge(from: Long, to: Long, weight: Long): Unit =
    if (nodes.contains(from) && nodes.contains(to)) {
      edges.getOrElseUpdate(from, mutable.TreeMap.empty)(to) = weight
      if (changes != null) changes.edgeSrcs += from
    }

  /** +1 saturating; creates at 1; silent no-op on missing endpoints
    * (graph.rs:532-541).
    */
  override def incrementEdge(from: Long, to: Long): Unit =
    if (nodes.contains(from) && nodes.contains(to)) {
      val targets = edges.getOrElseUpdate(from, mutable.TreeMap.empty)
      val old = targets.get(to)
      targets(to) = saturatingInc(old.getOrElse(0L))
      if (changes != null && !old.contains(Long.MaxValue)) changes.edgeSrcs += from
    }

  /** -1 floored at 0; errors if the edge is absent — asymmetric with
    * insert/increment on purpose (graph.rs:543-550).
    */
  override def decrementEdge(from: Long, to: Long): Either[GraftError, Unit] =
    getEdge(from, to) match {
      case None => Left(GraftError.EdgeNotFound(from, to))
      case Some(w) =>
        edges(from)(to) = math.max(0L, w - 1)
        if (changes != null && w > 0) changes.edgeSrcs += from
        Right(())
    }

  override def lookup(id: Long): Option[Node] = nodes.get(id)
  override def getNodeByEntity(entity: Long): Option[Long] = entityIndex.get(entity)
  override def getEdge(from: Long, to: Long): Option[Long] =
    edges.get(from).flatMap(_.get(to))

  /** Out-edges sorted by destination id (TreeMap order) — the determinism
    * guarantee every traversal builds on (graph.rs:567-574).
    */
  override def neighbors(node: Long): Vector[(Long, Long)] =
    edges.get(node).map(_.toVector).getOrElse(Vector.empty)

  def foreachNeighbor(node: Long)(f: (Long, Long) => Unit): Unit =
    edges.get(node).foreach(_.foreachEntry(f))

  override def containsNode(id: Long): Boolean = nodes.contains(id)
  override def nodeCount: Int = nodes.size
  override def edgeCount: Int = edges.valuesIterator.map(_.size).sum

  def stableEdgeCount(threshold: Long = Limits.PromotionThreshold): Int =
    edges.valuesIterator.map(_.valuesIterator.count(_ >= threshold)).sum

  def allNodes: Vector[Node] = nodes.values.toVector
  def allEdges: Vector[Edge] =
    edges.iterator.flatMap { case (f, ts) => ts.iterator.map { case (t, w) => Edge(f, t, w) } }.toVector
  def entities: Vector[(Long, Long)] = entityIndex.toVector
  def entityOf(id: Long): Option[Long] = nodes.get(id).map(_.entityId)
  def currentNextNodeId: Long = nextNodeId

  /** Restore a node under its original id (export/import path,
    * graph.rs:489-500).
    */
  def importNode(node: Node): Unit = {
    if (node.id >= nextNodeId)
      nextNodeId = if (node.id == Long.MaxValue) node.id else node.id + 1
    entityIndex(node.entityId) = node.id
    nodes(node.id) = node
    if (changes != null) changes.nodes += node.id
  }

  /** Hand the node ids changed since `owner`'s previous call to `owner`
    * and start a fresh record. None, with every node to be counted as
    * changed, on the first call or when another owner took the last
    * record. Mutators record nothing until the first call.
    */
  def takeChanges(owner: AnyRef): Option[GraphChanges] = {
    val taken = if (owner eq changesOwner) Option(changes) else None
    changesOwner = owner
    changes = new GraphChanges
    taken
  }

  /** What the next [[takeChanges]] would hand over; None while recording
    * is off.
    */
  def pendingChanges: Option[GraphChanges] = Option(changes)

  /** Set semantics at the (attribute, value) level with a per-node cap of
    * 4096 distinct pairs; idempotent re-inserts bypass the cap because they
    * don't grow the node (graph.rs:726-769).
    */
  override def storeProperty(node: Long, attribute: String, value: String): Either[GraftError, Unit] = {
    if (!nodes.contains(node)) return Left(GraftError.NodeNotFound(node))
    val attrs = properties.get(node)
    val present = attrs.exists(_.get(attribute).exists(_.contains(value)))
    if (present) return Right(())
    val current = attrs.map(_.valuesIterator.map(_.size).sum).getOrElse(0)
    if (current >= Limits.MaxPropertiesPerNode)
      return Left(GraftError.PropertyLimitExceeded(node, Limits.MaxPropertiesPerNode))
    properties
      .getOrElseUpdate(node, mutable.TreeMap.empty)
      .getOrElseUpdate(attribute, mutable.ArrayBuffer.empty) += value
    if (changes != null) changes.props += node
    Right(())
  }

  /** All (attribute, value) pairs, attribute-ascending; error if the node is
    * missing (graph.rs:771-784).
    */
  override def getProperties(node: Long): Either[GraftError, Vector[(String, String)]] = {
    if (!nodes.contains(node)) return Left(GraftError.NodeNotFound(node))
    Right(properties.get(node) match {
      case None => Vector.empty
      case Some(attrs) =>
        attrs.iterator.flatMap { case (a, vs) => vs.iterator.map(a -> _) }.toVector
    })
  }

  // ---------------------------------------------------------------------
  // Traversals (graph.rs:580-716, 796-917)
  // ---------------------------------------------------------------------

  /** Bounded BFS: depth clamped to 100; returns the visit-order path and
    * every frontier edge seen, including edges into already-visited nodes
    * (graph.rs:580-612). None if the start node is missing.
    */
  def traverse(start: Long, depth: Int): Option[Artifact] =
    traverseImpl(start, depth, None)

  /** BFS that only expands/reports edges with weight >= minWeight
    * (graph.rs:614-654).
    */
  def traverseFiltered(start: Long, depth: Int, minWeight: Long): Option[Artifact] =
    traverseImpl(start, depth, Some(minWeight))

  private def traverseImpl(start: Long, depth: Int, minWeight: Option[Long]): Option[Artifact] = {
    val bound = math.min(math.max(depth, 0), Limits.MaxTraversalDepth)
    if (!containsNode(start)) return None
    val visited = mutable.Set(start)
    val queue = mutable.Queue((start, 0))
    val path = Vector.newBuilder[Long]
    val sub = Vector.newBuilder[Edge]
    while (queue.nonEmpty) {
      val (current, d) = queue.dequeue()
      path += current
      if (d < bound) {
        for ((n, w) <- neighbors(current) if minWeight.forall(w >= _)) {
          sub += Edge(current, n, w)
          if (!visited.contains(n)) {
            visited += n
            queue.enqueue((n, d + 1))
          }
        }
      }
    }
    Some(Artifact.withSubgraph(path.result(), sub.result()))
  }

  /** DFS variant: visited-pruned, neighbor-ascending, depth clamped
    * (graph.rs:796-855).
    */
  def traverseDfs(start: Long, depth: Int): Option[Artifact] = {
    if (!containsNode(start)) return None
    val bound = math.min(math.max(depth, 0), Limits.MaxTraversalDepth)
    val visited = mutable.Set.empty[Long]
    val path = Vector.newBuilder[Long]
    val sub = Vector.newBuilder[Edge]
    def rec(current: Long, d: Int): Unit = {
      if (visited.contains(current) || d > bound) return
      visited += current
      path += current
      if (d < bound) {
        for ((n, w) <- neighbors(current)) {
          sub += Edge(current, n, w)
          if (!visited.contains(n)) rec(n, d + 1)
        }
      }
    }
    rec(start, 0)
    Some(Artifact.withSubgraph(path.result(), sub.result()))
  }

  /** Nodes adjacent to ALL inputs — common out-neighbors, ascending
    * (graph.rs:656-677). Empty input gives empty output; arity bounds are
    * enforced at the session/API boundary, not here.
    */
  def intersect(inputs: Seq[Long]): Vector[Long] = {
    if (inputs.isEmpty) return Vector.empty
    val first = SortedSet.from(neighbors(inputs.head).map(_._1))
    if (first.isEmpty) return Vector.empty
    inputs.tail
      .foldLeft(first)((acc, n) => acc.intersect(SortedSet.from(neighbors(n).map(_._1))))
      .toVector
  }

  /** Max-total-weight simple path via exhaustive DFS with backtracking,
    * bounded by depth 100 and a global 50 000-visit budget; best-effort
    * result when the budget runs out (graph.rs:679-716, 858-917). The
    * answer is *defined by* these bounds plus neighbor-ascending visit
    * order — a distributed search would change the visit order and thus the
    * best-effort answer, so this stays a sequential driver-side algorithm
    * over a bounded subgraph (SURVEY §4.3.2).
    */
  def strongestPath(start: Long, end: Long): Option[Vector[Long]] = {
    if (!containsNode(start) || !containsNode(end)) return None
    if (start == end) return Some(Vector(start))

    var bestPath: Option[Vector[Long]] = None
    var bestWeight = Long.MinValue
    var budget = Limits.MaxVisitCount
    val visited = mutable.Set(start)
    val currentPath = mutable.ArrayBuffer(start)

    def dfs(current: Long, depth: Int, currentWeight: Long): Unit = {
      if (depth >= Limits.MaxTraversalDepth || budget == 0) return
      val it = neighbors(current).iterator
      while (it.hasNext && budget > 0) {
        val (n, w) = it.next()
        budget -= 1
        if (budget == 0) return
        val step = math.max(w, 0L)
        val newWeight =
          if (currentWeight > Long.MaxValue - step) Long.MaxValue
          else currentWeight + step
        if (n == end) {
          if (newWeight > bestWeight) {
            bestPath = Some(currentPath.toVector :+ end)
            bestWeight = newWeight
          }
        } else if (!visited.contains(n)) {
          visited += n
          currentPath += n
          dfs(n, depth + 1, newWeight)
          currentPath.remove(currentPath.length - 1)
          visited -= n
        }
      }
    }

    dfs(start, 0, 0L)
    bestPath
  }
}
