package graft.graph

import graft.SparkTestSession
import graft.core.{InMemoryGraph, Ingestor, Signal}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Cross-check: the distributed Parquet-derivation engine must agree with
  * the reference-semantics [[InMemoryGraph]] on every operator, first on the
  * canonical 9-signal example fixture (FIXTURES.md §1), then on the real
  * sf0.001 events log (1000 signals, 15 entities).
  */
class GraphTablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The reference's canonical example: 9 signals, 3 entities
    * (/root/reference/examples/sample_signals.json, FIXTURES.md §1).
    */
  private val sample: Seq[Signal] = Seq(
    Signal(1, "name", "Alice"), Signal(1, "role", "engineer"),
    Signal(2, "name", "Bob"), Signal(2, "role", "designer"),
    Signal(3, "name", "Kremis"), Signal(3, "type", "project"),
    Signal(1, "works_on", "Kremis"), Signal(2, "works_on", "Kremis"),
    Signal(1, "knows", "Bob"))

  private def framesOf(signals: Seq[Signal]): GraphFrames = {
    import spark.implicits._
    val df = signals.zipWithIndex
      .map { case (s, i) => (i.toLong, s.entityId, s.attribute, s.value) }
      .toDF("seq", "entity_id", "attribute", "value")
    GraphTables.build(GraphTables.validSignals(df))
  }

  private def memOf(signals: Seq[Signal]): InMemoryGraph = {
    val mem = new InMemoryGraph
    assert(Ingestor.ingestSequence(mem, signals).isRight)
    mem
  }

  /** BFS level sets from the in-memory graph (first-reach depth), the
    * driver-side twin of GraphTables.traverseBfs output.
    */
  private def memLevels(
      mem: InMemoryGraph, start: Long, depth: Int,
      minWeight: Option[Long] = None): Map[Long, Int] = {
    if (!mem.containsNode(start)) return Map.empty
    val levels = mutable.Map(start -> 0)
    val queue = mutable.Queue(start)
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      val d = levels(n)
      if (d < depth) {
        for ((m, w) <- mem.neighbors(n) if minWeight.forall(w >= _) && !levels.contains(m)) {
          levels(m) = d + 1
          queue.enqueue(m)
        }
      }
    }
    levels.toMap
  }

  test("sample fixture: tables match the in-memory derivation") {
    val g = framesOf(sample)
    val mem = memOf(sample)
    // 3 entities -> 3 nodes in first-appearance order
    assert(g.nodes.orderBy("node_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === mem.allNodes.map(n => (n.id, n.entityId)))
    assert(g.edges.orderBy("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === mem.allEdges.map(e => (e.from, e.to, e.weight)))
    val props = g.properties.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val memProps = mem.allNodes.flatMap(n =>
      mem.getProperties(n.id).toOption.get.map { case (a, v) => (n.id, a, v) }).toSet
    assert(props === memProps)
  }

  test("sample fixture: invalid signals are filtered by the column predicates") {
    import spark.implicits._
    val bad = Seq(
      (0L, 1L, "", "x"),                      // empty attribute
      (1L, 1L, "a" * 257, "x"),               // oversized attribute
      (2L, 1L, "ok", "a\u0000b"),               // control char in value
      (3L, 1L, "bad\nattr", "x"),             // control char in attribute
      (4L, 1L, "ok", "line1\nline2\tok\r"),   // \n\r\t allowed in value
      (5L, 1L, "ok", "x"))
    val df = bad.toDF("seq", "entity_id", "attribute", "value")
    val kept = GraphTables.validSignals(df).select("seq").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(4L, 5L))
    assert(GraphTables.invalidCount(df) === 4L)
  }

  test("sample fixture: BFS / intersect / strongest path agree with in-memory") {
    val g = framesOf(sample)
    val mem = memOf(sample)

    val levels = GraphTables.traverseBfs(g, 0L, 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(levels === memLevels(mem, 0L, 2))

    val inter = GraphTables.intersect(g, Seq(0L, 1L)).collect().map(_.getLong(0))
    assert(inter.toSeq === mem.intersect(Seq(0L, 1L)))

    val sp = GraphTables.strongestPath(g, 0L, 2L).orderBy("step")
      .collect().map(_.getLong(1))
    assert(sp.toSeq === mem.strongestPath(0L, 2L).getOrElse(Vector.empty))

    val dfs = GraphTables.traverseDfs(g, 0L, 2).orderBy("step")
      .collect().map(_.getLong(1))
    assert(dfs.toSeq === mem.traverseDfs(0L, 2).get.path)
  }

  test("sf0.001 events: full derivation + traversals agree with in-memory") {
    val g = GraphTables.forDir(spark, "/root/testdata/sf0.001")
    val signals = GraphTables.signalsFromEvents(spark, "/root/testdata/sf0.001")
      .orderBy("seq").collect()
      .map(r => Signal(r.getLong(1), r.getString(2), r.getString(3)))
    val mem = memOf(signals.toSeq)

    assert(g.nodes.orderBy("node_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === mem.allNodes.map(n => (n.id, n.entityId)))
    assert(g.edges.orderBy("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === mem.allEdges.map(e => (e.from, e.to, e.weight)))

    val levels = GraphTables.traverseBfs(g, 0L, 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(levels === memLevels(mem, 0L, 3))

    val levelsW = GraphTables.traverseBfs(g, 0L, 3, minWeight = Some(5L))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(levelsW === memLevels(mem, 0L, 3, minWeight = Some(5L)))

    val inter = GraphTables.intersect(g, Seq(0L, 1L, 2L)).collect().map(_.getLong(0))
    assert(inter.toSeq === mem.intersect(Seq(0L, 1L, 2L)))

    val nbr = GraphTables.neighbors(g, 0L).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nbr.toSeq === mem.neighbors(0L))

    val sp = GraphTables.strongestPath(g, 0L, 7L).orderBy("step").collect().map(_.getLong(1))
    assert(sp.toSeq === mem.strongestPath(0L, 7L).getOrElse(Vector.empty))

    val dfs = GraphTables.traverseDfs(g, 0L, 2).orderBy("step").collect().map(_.getLong(1))
    assert(dfs.toSeq === mem.traverseDfs(0L, 2).get.path)
  }

  test("random sequences: distributed derivation equals in-memory, every time") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genSignal: Gen[Signal] = for {
      e <- Gen.chooseNum(0L, 40L)
      a <- Gen.oneOf("kind", "dep", "name")
      v <- Gen.oneOf("x", "y", "z", "alpha", "beta")
    } yield Signal(e, a, v)
    val genSeq = Gen.listOfN(80, genSignal)

    for (seed <- 0 until 4) {
      val signals = genSeq.apply(Gen.Parameters.default, Seed(seed.toLong)).get
      val g = framesOf(signals)
      val mem = memOf(signals)
      assert(g.nodes.orderBy("node_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        === mem.allNodes.map(n => (n.id, n.entityId)), s"seed $seed nodes")
      assert(g.edges.orderBy("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        === mem.allEdges.map(e => (e.from, e.to, e.weight)), s"seed $seed edges")
      val levels = GraphTables.traverseBfs(g, 0L, 3)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(levels === memLevels(mem, 0L, 3), s"seed $seed bfs")
    }
  }

  test("missing start node yields an empty traversal (the reference's None)") {
    val g = framesOf(sample)
    assert(GraphTables.traverseBfs(g, 999L, 2).isEmpty)
    assert(GraphTables.strongestPath(g, 999L, 0L).isEmpty)
  }

  test("triangle counts: hand-checked graph with self-edge, reverse dup, isolate") {
    import spark.implicits._
    // undirected view: triangle {0,1,2}; square 2-3-4-5 with chord 3-5
    // giving triangles {2,3,5} and {3,4,5}; a self-edge and a reverse
    // duplicate that canonicalization must drop; node 6 isolated.
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 0L),
      (2L, 3L), (3L, 4L), (4L, 5L), (5L, 2L),
      (3L, 5L),
      (1L, 1L), // self-edge: ignored
      (2L, 1L)  // reverse duplicate of 1->2: one undirected edge
    ).toDF("src", "dst").withColumn("weight", lit(1L))
    val nodes = (0L to 6L).toDF("node_id").withColumn("entity_id", col("node_id"))
    val g = GraphFrames(spark.emptyDataFrame, nodes, edges, spark.emptyDataFrame)
    val counts = GraphTables.triangleCounts(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(
      0L -> 1L, 1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 2L, 6L -> 0L))
  }

  test("common neighbors: counts and Jaccard on the hand fixture; hubCap drops hub wedges") {
    import spark.implicits._
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 0L),
      (2L, 3L), (3L, 4L), (4L, 5L), (5L, 2L), (3L, 5L)
    ).toDF("src", "dst").withColumn("weight", lit(1L))
    val nodes = (0L to 5L).toDF("node_id").withColumn("entity_id", col("node_id"))
    val g = GraphFrames(spark.emptyDataFrame, nodes, edges, spark.emptyDataFrame)
    val got = GraphTables.commonNeighbors(g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // neighborhoods: 0:{1,2} 1:{0,2} 2:{0,1,3,5} 3:{2,4,5} 4:{3,5} 5:{2,3,4}
    assert(got((2L, 4L)) === ((2L, 500000L))) // share {3,5}; 2/(4+2-2)
    assert(got((3L, 5L)) === ((2L, 500000L))) // share {2,4}; 2/(3+3-2)
    assert(got((0L, 1L)) === ((1L, 333333L))) // share {2}; 1/3 floor
    assert(got((2L, 3L)) === ((1L, 166666L))) // share {5}; 1/6 floor
    assert(got.size === 13)
    // hubCap 3 excludes wedges THROUGH node 2 (degree 4): pairs whose only
    // shared neighbor is the hub disappear; pairs sharing sub-cap
    // neighbors keep exactly those
    val capped = GraphTables.commonNeighbors(g, hubCap = Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!capped.contains((0L, 1L)), "only shared neighbor is the hub")
    assert(capped((2L, 4L)) === 2L, "both shared neighbors are sub-cap")
    assert(capped((3L, 5L)) === 1L, "hub neighbor 2 dropped, neighbor 4 kept")
    // the gated g22b config: cap derived as the lower median of the degree
    // distribution {2,2,2,3,3,4} = 2, so only wedges through the three
    // degree-2 nodes (0, 1, 4) count — NON-vacuous on any distribution,
    // unlike a fixed constant on a graph where every degree exceeds it
    val med = GraphTables.commonNeighbors(g, capAtMedianDegree = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(med === Map((1L, 2L) -> 1L, (0L, 2L) -> 1L, (3L, 5L) -> 1L),
      "median cap 2 keeps exactly the wedges through nodes 0, 1, 4")
  }

  test("power-law fixture: heavy tail is real, median cap prunes >10x wedge volume") {
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.GraftTestListenerBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec

    // the g22c/g22d graph: chain + sqrt-attachment over N = 40·|V|. The
    // quantitative claim the gated pair rides on — hubs dominate the
    // uncapped wedge volume, the in-plan median cap removes them — is
    // pinned here as arithmetic over the degree distribution, not as a
    // wall-time anecdote.
    // sf0.01 (N = 6000): where the driver gate runs; the prune ratio
    // grows as sqrt(N) (7x at sf0.001, 19x here, ~110x at sf1)
    val edges = graft.queries.GraphPack.powerLawEdges(spark, "/root/testdata/sf0.01")
    val degs = edges.select(col("u").as("n")).union(edges.select(col("v").as("n")))
      .groupBy("n").count().collect().map(_.getLong(1))
    val n = degs.length.toLong
    val maxDeg = degs.max
    assert(maxDeg > 2 * math.sqrt(n.toDouble).toLong,
      s"no heavy tail: maxDeg=$maxDeg for n=$n")
    val sorted = degs.sorted
    val median = sorted((n / 2 - 1).toInt) // lower median
    assert(median <= 3, s"median degree $median — cap would keep hubs")
    def wedges(ds: Iterable[Long]): Double = ds.map(d => d.toDouble * (d - 1) / 2).sum
    val ratio = wedges(degs) / wedges(degs.filter(_ <= median))
    assert(ratio > 10.0, s"median cap prunes only ${ratio}x")
    // capped output: nonempty, and per-pair common counts never exceed
    // the uncapped ones (the cap only removes wedges)
    val capped = GraphTables.commonNeighborsFromEdges(edges, capAtMedianDegree = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = GraphTables.commonNeighborsFromEdges(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped.nonEmpty)
    capped.foreach { case (k, c) =>
      assert(full.contains(k) && c <= full(k), s"pair $k capped=$c full=${full.get(k)}")
    }

    // counting budget, uncapped: the pairs (~328k) outnumber the adjacency
    // (~24k rows) more than tenfold, so a plan that writes a shuffle record
    // per pair or per wedge breaks 3·|adj| + 2·|V|
    val und = edges.localCheckpoint()
    val adjRows = 2 * und.count()
    val sc = spark.sparkContext
    val records = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    GraftTestListenerBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    val pairs = try {
      val rows = GraphTables.commonNeighborsFromEdges(und, checkpoint = false).collect().length
      GraftTestListenerBridge.waitUntilListenerBusEmpty(sc)
      rows
    } finally sc.removeSparkListener(listener)
    assert(pairs > 10 * adjRows, s"$pairs pairs: the fixture no longer tells per-pair work apart")
    assert(records.get <= 3 * adjRows + 2 * n,
      s"${records.get} shuffle records for |adj| = $adjRows, |V| = $n")

    // the executed plan, with broadcast joins off as at scale
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children.flatMap(flatten)
    })
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try for (median <- Seq(false, true)) {
      val df = GraphTables.commonNeighborsFromEdges(und, capAtMedianDegree = median,
        checkpoint = false)
      df.collect()
      val plan = flatten(df.queryExecution.executedPlan)
      def text = df.queryExecution.executedPlan.toString
      val wedgeJoins = plan.collect {
        case j: BaseJoinExec if Seq(j.left, j.right).forall(_.output.exists(_.name == "m")) => j
      }
      assert(wedgeJoins.isEmpty, s"a join with the adjacency on both sides:\n$text")
      val pairAggs = plan.collect {
        case a: BaseAggregateExec if a.groupingExpressions.size >= 2 => a
      }
      assert(pairAggs.isEmpty, s"an aggregate keyed on a pair:\n$text")
      val broadcasts = plan.collect { case b: BroadcastExchangeLike => b.output.map(_.name) }
      assert(broadcasts === (if (median) Seq(Seq("cap")) else Nil),
        s"broadcasts other than the one-row cap:\n$text")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("random graphs: triangles, common neighbors and pageRank match sequential twins") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val genEdges: Gen[List[(Long, Long)]] = Gen.listOfN(60, for {
      s <- Gen.chooseNum(0L, 14L); d <- Gen.chooseNum(0L, 14L)
    } yield (s, d))
    def gen(seed: Long) = genEdges.apply(Gen.Parameters.default, Seed(seed)).get.distinct
    val cases = (0 until 4).map(seed => s"seed $seed" -> gen(seed.toLong)) ++ Seq(
      "seed 4, node 14 isolated" -> gen(4L).filter { case (s, d) => s != 14L && d != 14L },
      // circulant C15(1, 5): every degree is 4, so the median cap equals
      // every degree and hubCap 4 sits exactly on the `<=` boundary
      "4-regular" -> (0L to 14L).toList.flatMap(i => List((i, (i + 1) % 15), (i, (i + 5) % 15))))
    for ((label, edgeList) <- cases) {
      val nodes = (0L to 14L).toDF("node_id").withColumn("entity_id", col("node_id"))
      val edges = edgeList.toDF("src", "dst").withColumn("weight", lit(1L))
      val g = GraphFrames(spark.emptyDataFrame, nodes, edges, spark.emptyDataFrame)

      // sequential adjacency (undirected simple view)
      val und = edgeList.filter { case (s, d) => s != d }
        .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.toSet
      val nbr = (0L to 14L).map(v =>
        v -> und.collect { case (a, b) if a == v => b; case (a, b) if b == v => a }).toMap

      val tri = GraphTables.triangleCounts(g)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val triExp = (0L to 14L).map { v =>
        v -> und.toSeq.count { case (a, b) =>
          a != v && b != v && nbr(v).contains(a) && nbr(v).contains(b) }.toLong
      }.toMap
      assert(tri === triExp, s"$label triangles")

      // capped or not, common counts only the kept shared neighbors while
      // Jaccard keeps the full degrees
      def cnExp(kept: Long => Boolean) = (for {
        a <- 0L to 14L; b <- a + 1 to 14L
        common = (nbr(a).toSet & nbr(b).toSet).count(kept) if common > 0
      } yield (a, b) -> ((common.toLong,
        common.toLong * 1000000L / (nbr(a).size + nbr(b).size - common)))).toMap
      def cnOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
      assert(cnOf(GraphTables.commonNeighbors(g)) === cnExp(_ => true),
        s"$label common neighbors")
      for (cap <- Seq(4L, 7L))
        assert(cnOf(GraphTables.commonNeighbors(g, hubCap = Some(cap))) ===
          cnExp(w => nbr(w).size <= cap), s"$label common neighbors, hubCap $cap")
      // lower median over the nodes that have a neighbor (the degree
      // table holds no isolated node)
      val degs = nbr.values.map(_.size.toLong).filter(_ > 0).toSeq.sorted
      val median = degs.find(d => 2 * degs.count(_ <= d) >= degs.size).get
      assert(cnOf(GraphTables.commonNeighbors(g, capAtMedianDegree = true)) ===
        cnExp(w => nbr(w).size <= median), s"$label common neighbors, median cap $median")

      val pr = GraphTables.pageRank(g, iterations = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val base = 1000000L / 15L
      val outdeg = edgeList.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var prSeq = (0L to 14L).map(_ -> base).toMap
      for (_ <- 1 to 3) {
        val contrib = edgeList.groupBy(_._2).view
          .mapValues(_.map { case (u, _) => prSeq(u) / outdeg(u) }.sum).toMap
        prSeq = (0L to 14L).map(v =>
          v -> (base * 15 / 100 + 85 * contrib.getOrElse(v, 0L) / 100)).toMap
      }
      assert(pr === prSeq, s"$label pageRank")
    }
  }

  test("pageRank fixed-point matches a plain-Scala recurrence twin exactly") {
    import spark.implicits._
    // directed: a 2-cycle, a feeder, a dangling sink, and a self-loop
    val edgeList = Seq((0L, 1L), (1L, 0L), (2L, 0L), (2L, 3L), (4L, 4L))
    val edges = edgeList.toDF("src", "dst").withColumn("weight", lit(1L))
    val nodes = (0L to 4L).toDF("node_id").withColumn("entity_id", col("node_id"))
    val g = GraphFrames(spark.emptyDataFrame, nodes, edges, spark.emptyDataFrame)
    for (iters <- 1 to 3) {
      val got = GraphTables.pageRank(g, iterations = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // sequential twin of the documented recurrence
      val n = 5L
      val base = 1000000L / n
      val outdeg = edgeList.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var pr = (0L to 4L).map(_ -> base).toMap
      for (_ <- 1 to iters) {
        val contrib = edgeList
          .groupBy(_._2).view
          .mapValues(_.map { case (u, _) => pr(u) / outdeg(u) }.sum).toMap
        pr = (0L to 4L).map(v =>
          v -> (base * 15 / 100 + 85 * contrib.getOrElse(v, 0L) / 100)).toMap
      }
      assert(got === pr, s"iteration count $iters")
    }
  }

  test("g24 components of the thresholded subgraph match a union-find twin") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("g24_connected_components")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val g = GraphTables.forDir(spark, dir)
    val nodes = g.nodes.select("node_id").collect().map(_.getLong(0)).sorted
    val edges = g.edges.filter(col("weight") >= 3 && col("src") =!= col("dst"))
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    val members = nodes.groupBy(find)
    val expected = members.values.flatMap(ms => ms.map(_ -> ms.min)).toMap
    assert(got === expected)
  }

  test("g27 label propagation matches a sequential synchronous-LPA twin") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("g27_label_propagation")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val g = GraphTables.forDir(spark, dir)
    val nodes = g.nodes.select("node_id").collect().map(_.getLong(0)).sorted
    val und = g.edges.filter(col("weight") >= 3 && col("src") =!= col("dst"))
      .select("src", "dst").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .distinct
    val nbrs = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    und.foreach { case (u, v) =>
      nbrs.getOrElseUpdate(u, mutable.ArrayBuffer.empty) += v
      nbrs.getOrElseUpdate(v, mutable.ArrayBuffer.empty) += u
    }
    var lbl = nodes.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      // SYNCHRONOUS: every adoption reads the previous round's labels
      lbl = nodes.map { n =>
        nbrs.get(n) match {
          case None => n -> lbl(n)
          case Some(ns) =>
            val counts = ns.map(lbl).groupBy(identity).view.mapValues(_.size)
            // most frequent label, smallest label on ties
            n -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
        }
      }.toMap
    }
    assert(got === lbl)
    // sf0.001's thresholded graph converges to one community; the
    // non-vacuity premise is that propagation actually happened (the 44
    // communities at sf0.01 are the oracle gate's business)
    assert(got.exists { case (n, l) => l != n },
      "some node should have adopted a neighbor's label")
  }

  test("clustering coefficient matches a triangle/degree integer recompute") {
    val dir = "/root/testdata/sf0.001"
    val g = GraphTables.forDir(spark, dir)
    val got = GraphTables.clusteringCoefficient(g).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    val nodes = g.nodes.select("node_id").collect().map(_.getLong(0))
    val und = g.edges.filter(col("src") =!= col("dst"))
      .select("src", "dst").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    val adj = nodes.map(n => n -> und.collect {
      case (u, v) if u == n => v
      case (u, v) if v == n => u
    }).toMap
    val expected = nodes.map { n =>
      val nb = adj(n).toSeq.sorted
      val t = (for {
        i <- nb.indices; j <- (i + 1) until nb.size
        if und((math.min(nb(i), nb(j)), math.max(nb(i), nb(j))))
      } yield 1).size.toLong
      val d = nb.size.toLong
      val c = if (d >= 2) 2 * t * 1000000L / (d * (d - 1)) else 0L
      n -> ((d, t, c))
    }.toMap
    assert(got === expected)
  }

  test("k-core: hand fixture peels chain/isolate; sequential twin on the real graph") {
    import spark.implicits._
    // triangle {1,2,3} is the 2-core; the pendant chain 3-4-5 peels from
    // the 5 end in two bulk rounds; 6 is isolated (degree 0, round 1)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val nodes = (1L to 6L).toDF("node_id")
    val got = GraphTables.kCore(nodes, und, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L, 5L -> 0L, 6L -> 0L))
    // a graph deeper than maxRounds must fail loudly, not truncate: a
    // 12-node path at k=2 has an empty 2-core but peels one node pair
    // per round (5 rounds) — cap at 3 and demand the loud contract
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("u", "v")
    val pathNodes = (1L to 12L).toDF("node_id")
    val e = intercept[IllegalArgumentException] {
      GraphTables.kCore(pathNodes, path, k = 2, maxRounds = 3).collect()
    }
    assert(e.getMessage.contains("exceeded"))

    // sequential peel twin over the sf0.001 thresholded signal graph
    val dir = "/root/testdata/sf0.001"
    val g = GraphTables.forDir(spark, dir)
    val allNodes = g.nodes.select("node_id").collect().map(_.getLong(0)).toSet
    val edges = g.edges.filter(col("weight") >= 3 && col("src") =!= col("dst"))
      .select("src", "dst").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    var alive = allNodes
    var done = false
    while (!done) {
      val deg = alive.map(n => n ->
        edges.count { case (u, v) => (u == n && alive(v)) || (v == n && alive(u)) }).toMap
      val next = alive.filter(deg(_) >= 2)
      if (next == alive) done = true else alive = next
    }
    val gotReal = graft.SparkEntry.queries("g25_kcore")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotReal === allNodes.map(n => n -> (if (alive(n)) 1L else 0L)).toMap)
  }
}
