package graft.queries

import graft.QDef
import graft.core.Limits
import graft.graph.GraphTables
import org.apache.spark.sql.functions._

/** Graph operator pack (SURVEY.md §2.1) over the events table read as a
  * signal log: seq = event_id (dense sequence position), entity = user_id,
  * (attribute, value) = (event_type, props).
  *
  * Every DuckDB oracle re-derives the graph tables from the same events
  * parquet with window/recursive-CTE SQL, so the compare exercises the full
  * derivation chain (validation → id assignment → adjacency edges →
  * properties) plus the operator itself. Non-SQL-expressible operators
  * (budgeted DFS orders) ship without an oracle — the driver records a
  * rows-only check and ScalaTest cross-checks them against the in-memory
  * reference-semantics engine.
  */
object GraphPack {

  /** Shared derivation CTEs: the SQL twin of GraphTables.build. */
  private val T = """
    sig AS (
      SELECT event_id AS seq, user_id AS entity_id,
             event_type AS attribute, props AS value
      FROM events
      WHERE length(event_type) > 0 AND strlen(event_type) <= 256
        AND NOT regexp_matches(event_type, '[\x00-\x1F\x7F-\x9F]')
        AND length(props) > 0 AND strlen(props) <= 65536
        AND NOT regexp_matches(props, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]')
    ),
    nodes AS (
      SELECT entity_id,
             CAST(row_number() OVER (ORDER BY first_seq) - 1 AS BIGINT) AS node_id
      FROM (SELECT entity_id, min(seq) AS first_seq FROM sig GROUP BY entity_id) t
    ),
    sn AS (SELECT s.seq, n.node_id FROM sig s JOIN nodes n ON s.entity_id = n.entity_id),
    edges AS (
      SELECT a.node_id AS src, b.node_id AS dst, count(*) AS weight
      FROM sn a JOIN sn b ON b.seq = a.seq + 1
      GROUP BY a.node_id, b.node_id
    ),
    props AS (
      SELECT DISTINCT n.node_id, s.attribute, s.value
      FROM sig s JOIN nodes n ON s.entity_id = n.entity_id
    )"""

  private def oracle(body: String): Option[String] =
    Some(s"WITH RECURSIVE $T $body")

  /** One unrolled PageRank iteration (g23): the SQL twin of the loop body
    * in GraphTables.pageRank — per-source floor-divided contribution,
    * damped integer recombination.
    */
  private def prIterSql(i: Int): String = s""",
      c$i AS (SELECT e.dst, SUM(p.pr // o.od) AS contrib
              FROM edges e JOIN p${i - 1} p ON p.node_id = e.src
                JOIN od o ON o.src = e.src
              GROUP BY e.dst),
      p$i AS (SELECT n.node_id,
                (SELECT b FROM base) * 15 // 100
                  + 85 * COALESCE(c.contrib, 0) // 100 AS pr
              FROM nodes n LEFT JOIN c$i c ON c.dst = n.node_id)"""

  /** One unrolled synchronous label-propagation round (g27): the SQL
    * twin of GraphTables.labelPropagation's loop body — neighbor-label
    * counts, per-node argmax with (count DESC, label) tie-break,
    * isolated nodes carried by the LEFT JOIN + COALESCE.
    */
  private def lpIterSql(i: Int): String = s""",
      lc$i AS (SELECT s.a, l.lbl, count(*) AS c
               FROM sym s JOIN l${i - 1} l ON l.node_id = s.b GROUP BY 1, 2),
      lw$i AS (SELECT a, lbl FROM (
               SELECT a, lbl,
                      row_number() OVER (PARTITION BY a ORDER BY c DESC, lbl) AS rn
               FROM lc$i) WHERE rn = 1),
      l$i AS MATERIALIZED (SELECT n.node_id, COALESCE(w.lbl, n.node_id) AS lbl
               FROM nodes n LEFT JOIN lw$i w ON w.a = n.node_id)"""

  /** Oracle unroll bound for g25 — must stay ≥ the peel depth of every
    * corpus the gate runs on (GraphTables.kCore enforces it loudly on
    * the Spark side; measured depth on the thresholded events graph is
    * ≤ 2 at k = 2, ≤ 12 at k = 3 across sf0.001–sf0.1).
    */
  private[graft] val KCoreMaxRounds = 32

  /** `rounds` unrolled peel iterations over `sym`/`a0` (the SQL twin of
    * GraphTables.kCore's loop body): a_i = nodes of a_{i-1} with ≥ k
    * neighbors in a_{i-1}.
    */
  private def kCorePeelSql(k: Int, rounds: Int): String =
    (1 to rounds).map { i =>
      // AS MATERIALIZED: a_{i-1} is referenced twice per round, and
      // without the hint DuckDB inlines the whole chain into an
      // exponentially exploding scan tree (observed as "too many open
      // files" on the base parquet at 32 rounds)
      s""",
      d$i AS (SELECT s.a AS node_id, count(*) AS deg
              FROM sym s JOIN a${i - 1} x ON s.a = x.node_id
                         JOIN a${i - 1} y ON s.b = y.node_id
              GROUP BY s.a),
      a$i AS MATERIALIZED (SELECT node_id FROM d$i WHERE deg >= $k)"""
    }.mkString

  /** BFS level-set CTE from a start node with depth bound and optional
    * weight filter (the recursive twin of GraphTables.traverseBfs).
    */
  private def bfs(start: Long, depth: Int, minWeight: Long = Long.MinValue): String = {
    val w = if (minWeight == Long.MinValue) "" else s"AND e.weight >= $minWeight"
    s""",
    r(node_id, depth) AS (
      SELECT node_id, 0 FROM nodes WHERE node_id = $start
      UNION
      SELECT e.dst, r.depth + 1 FROM r JOIN edges e ON e.src = r.node_id
      WHERE r.depth < $depth $w
    ),
    lv AS (SELECT node_id, min(depth) AS depth FROM r GROUP BY node_id)"""
  }

  /** Deterministic skewed graph for g22c/g22d: N = 40·|V(events graph)|
    * nodes; chain edges i—i+1 plus sqrt-attachment edges i—floor(sqrt(i))
    * (i >= 2), canonicalized to the (u < v) simple undirected form
    * [[GraphTables.commonNeighborsFromEdges]] expects. Pure integer/IEEE
    * arithmetic — floor(sqrt(i)) is exact in double for i < 2^52 — so the
    * DuckDB oracle re-derives the identical edge set.
    */
  private[graft] def powerLawEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val n = GraphTables.forDir(s, dir).nodes.count() * 40
    val chain = s.range(0, n - 1)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val attach = s.range(2, n)
      .select(floor(sqrt(col("id").cast("double"))).cast("long").as("a"), col("id").as("b"))
    chain.union(attach)
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
  }

  /** The powerlaw fixture, derived once per (session, corpus dir) — the
    * same discipline as [[GraphTables.forDir]] memoizing the signal-log
    * graph build: the fixture IS g22c/g22d's input table, and deriving
    * it anew on every pass cost a measured ~0.6s 64-task stage per pass.
    * Each entry derives from the `events.parquet` its node count came
    * from; a regenerated event log supersedes it and the fixture is
    * derived again.
    */
  private val powerLaw = graft.SessionMemo.checkpointed[String]("graph_pack.power_law")(
    dir => Seq(graft.SessionMemo.Input.file(s"$dir/events.parquet")))

  private[graft] def powerLawEdgesMemo(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    powerLaw(s, Some(dir))(powerLawEdges(s, dir))

  val defs: Seq[QDef] = Seq(

    // ---- the graph tables themselves (ingest derivation) ----
    QDef("g01_nodes", oracle(
      "SELECT node_id, entity_id FROM nodes ORDER BY node_id")) { (s, dir) =>
      GraphTables.forDir(s, dir).nodes.orderBy("node_id")
    },

    QDef("g02_edges", oracle(
      "SELECT src, dst, weight FROM edges ORDER BY src, dst")) { (s, dir) =>
      GraphTables.forDir(s, dir).edges.orderBy("src", "dst")
    },

    QDef("g03_properties", oracle(
      "SELECT node_id, attribute, value FROM props ORDER BY node_id, attribute, value")) { (s, dir) =>
      GraphTables.forDir(s, dir).properties.orderBy("node_id", "attribute", "value")
    },

    QDef("g04_entity_index", oracle(
      "SELECT entity_id, node_id FROM nodes ORDER BY entity_id")) { (s, dir) =>
      GraphTables.forDir(s, dir).nodes.select("entity_id", "node_id").orderBy("entity_id")
    },

    // ---- point reads ----
    QDef("g05_lookup_entity", oracle(
      "SELECT node_id, entity_id FROM nodes WHERE entity_id = 8")) { (s, dir) =>
      GraphTables.lookupByEntity(GraphTables.forDir(s, dir), 8L)
        .select("node_id", "entity_id")
    },

    QDef("g06_neighbors", oracle(
      "SELECT dst AS node_id, weight FROM edges WHERE src = 0 ORDER BY node_id")) { (s, dir) =>
      GraphTables.neighbors(GraphTables.forDir(s, dir), 0L)
    },

    QDef("g07_get_edge", oracle(
      "SELECT src, dst, weight FROM edges WHERE src = 0 AND dst = 1")) { (s, dir) =>
      GraphTables.getEdge(GraphTables.forDir(s, dir), 0L, 1L)
    },

    QDef("g08_counts", oracle("""
      SELECT (SELECT count(*) FROM nodes) AS node_count,
             (SELECT count(*) FROM edges) AS edge_count,
             (SELECT count(*) FROM edges WHERE weight >= 2) AS stable_edge_count""")) { (s, dir) =>
      GraphTables.counts(GraphTables.forDir(s, dir), stableThreshold = 2L)
    },

    // ---- traversals ----
    QDef("g09_traverse", oracle(bfs(0, 2) +
      " SELECT node_id, depth FROM lv ORDER BY depth, node_id")) { (s, dir) =>
      GraphTables.traverseBfs(GraphTables.forDir(s, dir), 0L, 2)
        .orderBy("depth", "node_id")
    },

    QDef("g10_traverse_filtered", oracle(bfs(0, 3, minWeight = 3) +
      " SELECT node_id, depth FROM lv ORDER BY depth, node_id")) { (s, dir) =>
      GraphTables.traverseBfs(GraphTables.forDir(s, dir), 0L, 3, minWeight = Some(3L))
        .orderBy("depth", "node_id")
    },

    QDef("g11_frontier_edges", oracle(bfs(0, 2, minWeight = 2) + """
      SELECT e.src, e.dst, e.weight
      FROM edges e JOIN lv ON e.src = lv.node_id
      WHERE lv.depth < 2 AND e.weight >= 2
      ORDER BY src, dst""")) { (s, dir) =>
      GraphTables.frontierEdges(GraphTables.forDir(s, dir), 0L, 2, minWeight = Some(2L))
        .orderBy("src", "dst")
    },

    QDef("g12_intersect", oracle("""
      SELECT dst AS node_id FROM edges WHERE src IN (0, 1, 2)
      GROUP BY dst HAVING count(DISTINCT src) = 3
      ORDER BY node_id""")) { (s, dir) =>
      GraphTables.intersect(GraphTables.forDir(s, dir), Seq(0L, 1L, 2L))
    },

    // ---- post-processing / stability ----
    QDef("g13_top_k_edges", oracle("""
      SELECT src, dst, weight FROM edges
      ORDER BY weight DESC, src, dst LIMIT 20""")) { (s, dir) =>
      GraphTables.topKEdges(GraphTables.forDir(s, dir), 20)
    },

    QDef("g14_stable_edges", oracle(
      "SELECT src, dst, weight FROM edges WHERE weight >= 2 ORDER BY src, dst")) { (s, dir) =>
      GraphTables.forDir(s, dir).edges
        .filter(col("weight") >= 2L).orderBy("src", "dst")
    },

    QDef("g15_node_properties", oracle(
      "SELECT attribute, value FROM props WHERE node_id = 0 ORDER BY attribute, value")) { (s, dir) =>
      GraphTables.forDir(s, dir).properties
        .filter(col("node_id") === 0L)
        .select("attribute", "value").orderBy("attribute", "value")
    },

    QDef("g16_metrics", oracle("""
      SELECT node_count, edge_count, stable_edge_count,
             CASE WHEN node_count > 0
                  THEN (edge_count * 1000000) // node_count
                  ELSE 0 END AS density_millionths
      FROM (SELECT (SELECT count(*) FROM nodes) AS node_count,
                   (SELECT count(*) FROM edges) AS edge_count,
                   (SELECT count(*) FROM edges WHERE weight >= 2) AS stable_edge_count) m""")) { (s, dir) =>
      GraphTables.metrics(GraphTables.forDir(s, dir), stableThreshold = 2L)
    },

    // ---- driver-side budgeted algorithms (no SQL oracle: the answer is
    // defined by sequential visit order + the 50 000-visit budget;
    // cross-checked against InMemoryGraph in GraphTablesSpec) ----
    QDef("g17_strongest_path", None) { (s, dir) =>
      GraphTables.strongestPath(GraphTables.forDir(s, dir), 0L, 42L)
    },

    QDef("g18_traverse_dfs", None) { (s, dir) =>
      GraphTables.traverseDfs(GraphTables.forDir(s, dir), 0L, 2)
    },

    // ---- partial oracles for the budgeted algorithms: the exact answers
    // above are defined by visit order + budget (not SQL-expressible), but
    // their INVARIANTS are. Each validity entry derives a one-row summary
    // from the real algorithm output joined against the distributed graph
    // tables; the oracle states the invariant values. A broken DFS/path
    // (wrong start, revisit, off-closure node, non-edge hop, orphan visit)
    // flips a counter non-zero and the entry goes red. Set-EQUALITY with
    // the BFS closure would be wrong: depth-limited DFS legitimately
    // misses nodes first reached via a longer path (148 vs 150 at sf0.01),
    // so containment is the strongest sound set claim. ----
    QDef("g17b_strongest_path_validity", Some("""
      SELECT CAST(0 AS BIGINT) AS bad_start, CAST(0 AS BIGINT) AS bad_end,
             CAST(0 AS BIGINT) AS dup_nodes, CAST(0 AS BIGINT) AS broken_hops,
             CAST(0 AS BIGINT) AS off_closure""")) { (s, dir) =>
      val g = GraphTables.forDir(s, dir)
      val path = GraphTables.strongestPath(g, 0L, 42L)
      val closure = GraphTables.traverseBfsMemo(g, 0L, Limits.MaxTraversalDepth).select("node_id")
      // violation counts, not endpoint values: a NONEMPTY path must run
      // 0 → 42, but "no path" is itself a valid (budget-defined) answer at
      // some SFs, and then the correct output is empty — every counter 0.
      val endpoints = path.agg(
          min(struct(col("step"), col("node_id"))).getField("node_id").as("first_node"),
          max(struct(col("step"), col("node_id"))).getField("node_id").as("last_node"),
          (count(lit(1)) - countDistinct(col("node_id"))).as("dup_nodes"))
        .select(
          when(col("first_node").isNull || col("first_node") === 0L, 0L)
            .otherwise(1L).as("bad_start"),
          when(col("last_node").isNull || col("last_node") === 42L, 0L)
            .otherwise(1L).as("bad_end"),
          col("dup_nodes"))
      // consecutive (step, step+1) pairs that are NOT an existing edge
      val hops = path.as("a").join(path.as("b"), col("b.step") === col("a.step") + 1)
        .select(col("a.node_id").as("src"), col("b.node_id").as("dst"))
      val broken = hops.join(g.edges, Seq("src", "dst"), "left_anti")
        .agg(count(lit(1)).as("broken_hops"))
      val off = path.select("node_id").join(closure, Seq("node_id"), "left_anti")
        .agg(count(lit(1)).as("off_closure"))
      endpoints.crossJoin(broken).crossJoin(off)
    },

    QDef("g18b_traverse_dfs_validity", Some("""
      SELECT CAST(0 AS BIGINT) AS starts_at, CAST(0 AS BIGINT) AS dup_nodes,
             CAST(0 AS BIGINT) AS outside_closure, CAST(0 AS BIGINT) AS orphan_visits""")) { (s, dir) =>
      val g = GraphTables.forDir(s, dir)
      val visited = GraphTables.traverseDfs(g, 0L, 2)
      val closure = GraphTables.traverseBfsMemo(g, 0L, 2).select("node_id")
      val head = visited.agg(
        min(struct(col("step"), col("node_id"))).getField("node_id").as("starts_at"),
        (count(lit(1)) - countDistinct(col("node_id"))).as("dup_nodes"))
      val outside = visited.select("node_id").join(closure, Seq("node_id"), "left_anti")
        .agg(count(lit(1)).as("outside_closure"))
      // every non-start visit must have an in-edge from another visited node
      val vn = visited.select("node_id")
      val reachedFromVisited = g.edges.join(vn.withColumnRenamed("node_id", "src"), "src")
        .select(col("dst").as("node_id")).distinct()
      val orphans = visited.filter(col("step") > 0).select("node_id")
        .join(reachedFromVisited, Seq("node_id"), "left_anti")
        .agg(count(lit(1)).as("orphan_visits"))
      head.crossJoin(outside).crossJoin(orphans)
    },

    // ---- the GraphX Pregel scale path, gated by the same recursive-CTE
    // oracle as the DataFrame-loop BFS (both must answer identically) ----
    QDef("g20_pregel_traverse", oracle(bfs(0, 2) +
      " SELECT node_id, depth FROM lv ORDER BY depth, node_id")) { (s, dir) =>
      graft.graph.GraphXTraversal.bfsLevels(GraphTables.forDir(s, dir), 0L, 2)
        .orderBy("depth", "node_id")
    },

    // ---- analytics extension: per-node triangle counts. The Spark side
    // runs the degree-ordered forward-edge algorithm (hot-key bound
    // O(sqrt(E)) on the wedge join); the oracle enumerates each triangle
    // once in its id-sorted a<b<c orientation — orientation schemes differ,
    // the triangle SET cannot, so the counts must agree exactly ----
    QDef("g21_triangle_counts", oracle(""",
      und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM edges WHERE src != dst),
      tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM und e1
                JOIN und e2 ON e2.u = e1.v
                JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
      pern AS (SELECT a AS node_id FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri)
      SELECT n.node_id, CAST(count(p.node_id) AS BIGINT) AS n_triangles
      FROM nodes n LEFT JOIN pern p ON p.node_id = n.node_id
      GROUP BY n.node_id ORDER BY n.node_id""")) { (s, dir) =>
      GraphTables.triangleCountsMemo(GraphTables.forDir(s, dir), Some(dir))
        .orderBy("node_id")
    },

    // ---- analytics extension: common-neighbor similarity (link
    // prediction). Oracle = the same wedge-join derivation relationally ----
    QDef("g22_common_neighbors", oracle(""",
      und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM edges WHERE src != dst),
      adj AS (SELECT u AS n, v AS m FROM und UNION ALL SELECT v, u FROM und),
      deg AS (SELECT m AS node, count(*) AS deg FROM adj GROUP BY m),
      prs AS (SELECT x.m AS id_a, y.m AS id_b, count(*) AS common
              FROM adj x JOIN adj y ON x.n = y.n AND x.m < y.m GROUP BY 1, 2)
      SELECT p.id_a, p.id_b, p.common,
             CAST((p.common * 1000000) // (a.deg + b.deg - p.common) AS BIGINT)
               AS jaccard_millionths
      FROM prs p JOIN deg a ON a.node = p.id_a JOIN deg b ON b.node = p.id_b
      ORDER BY p.id_a, p.id_b"""), comparator = true) { (s, dir) =>
      GraphTables.commonNeighbors(GraphTables.forDir(s, dir),
        cacheKey = Some(s"$dir#und")).orderBy("id_a", "id_b")
    },

    // ---- g22b: the hub-capped PRODUCTION configuration — wedges through
    // shared neighbors above the cap are excluded from counting (the
    // wedge join's fan-out is quadratic in hub degree; at 100 TB a
    // celebrity node would dominate it). The cap is the LOWER MEDIAN of
    // the degree distribution, derived from the data in-plan (a fixed
    // constant was vacuous on this dense fixture — every degree exceeded
    // 60, so the gate compared empty to empty; round-5 advice). The
    // oracle re-derives the identical integer cap (2·cum ≥ tot over the
    // degree histogram) and applies the identical exclusion, so the
    // capped semantics are gated exactly AND non-vacuously: common counts
    // only sub-cap shared neighbors, Jaccard keeps the FULL degrees ----
    QDef("g22b_common_neighbors_capped", oracle(""",
      und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM edges WHERE src != dst),
      adj AS (SELECT u AS n, v AS m FROM und UNION ALL SELECT v, u FROM und),
      deg AS (SELECT m AS node, count(*) AS deg FROM adj GROUP BY m),
      hist AS (SELECT deg, count(*) AS c FROM deg GROUP BY deg),
      cm AS (SELECT deg, sum(c) OVER (ORDER BY deg) AS cum, sum(c) OVER () AS tot FROM hist),
      cap AS (SELECT min(deg) AS cap FROM cm WHERE cum * 2 >= tot),
      cold AS (SELECT node FROM deg, cap WHERE deg <= cap),
      adjc AS (SELECT a.n, a.m FROM adj a JOIN cold ON cold.node = a.n),
      prs AS (SELECT x.m AS id_a, y.m AS id_b, count(*) AS common
              FROM adjc x JOIN adjc y ON x.n = y.n AND x.m < y.m GROUP BY 1, 2)
      SELECT p.id_a, p.id_b, p.common,
             CAST((p.common * 1000000) // (a.deg + b.deg - p.common) AS BIGINT)
               AS jaccard_millionths
      FROM prs p JOIN deg a ON a.node = p.id_a JOIN deg b ON b.node = p.id_b
      ORDER BY p.id_a, p.id_b""")) { (s, dir) =>
      GraphTables.commonNeighbors(GraphTables.forDir(s, dir), capAtMedianDegree = true,
          cacheKey = Some(s"$dir#und"))
        .orderBy("id_a", "id_b")
    },

    // ---- g22c/g22d: the graph regime the median-degree cap EXISTS for
    // (round-6 verdict #3: g22b's win was shown only in an uncommitted
    // rehearsal — the events graph is dense and uniform, so the cap
    // merely held parity there). A deterministic skewed graph, derived
    // in-plan by BOTH engines from pure integer arithmetic: N = 40·|V|
    // nodes, a chain i—i+1 (floor degree 3 for everyone) plus
    // sqrt-attachment i—floor(sqrt(i)) (hub m collects ~2m children, max
    // degree ~2·sqrt(N) — a heavy tail the chain keeps non-vacuous:
    // median degree lands at 3, so ~all leaves stay sub-cap). Wedge
    // volume: hubs carry ~(8/3)·N^1.5 uncapped vs ~9N capped — 19x at
    // sf0.01, growing as sqrt(N) with scale (~110x at sf1), which is
    // exactly the celebrity-node blowup the cap fences off at 100 TB.
    // g22c is the capped PRODUCTION path; g22d the uncapped quadratic
    // baseline, comparator-flagged so the production bench tier skips
    // it. Both oracles re-derive the graph, the integer median cap, and
    // the capped counts relationally. ----
    QDef("g22c_common_neighbors_powerlaw", oracle(""",
      pln AS (SELECT 40 * count(*) AS n FROM nodes),
      pe AS (
        SELECT i AS a, i + 1 AS b
        FROM (SELECT unnest(range(0, (SELECT n FROM pln) - 1)) AS i)
        UNION ALL
        SELECT CAST(floor(sqrt(CAST(i AS DOUBLE))) AS BIGINT) AS a, i AS b
        FROM (SELECT unnest(range(2, (SELECT n FROM pln))) AS i)),
      und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM pe WHERE a != b),
      adj AS (SELECT u AS n, v AS m FROM und UNION ALL SELECT v, u FROM und),
      deg AS (SELECT m AS node, count(*) AS deg FROM adj GROUP BY m),
      hist AS (SELECT deg, count(*) AS c FROM deg GROUP BY deg),
      cm AS (SELECT deg, sum(c) OVER (ORDER BY deg) AS cum, sum(c) OVER () AS tot FROM hist),
      cap AS (SELECT min(deg) AS cap FROM cm WHERE cum * 2 >= tot),
      cold AS (SELECT node FROM deg, cap WHERE deg <= cap),
      adjc AS (SELECT a.n, a.m FROM adj a JOIN cold ON cold.node = a.n),
      prs AS (SELECT x.m AS id_a, y.m AS id_b, count(*) AS common
              FROM adjc x JOIN adjc y ON x.n = y.n AND x.m < y.m GROUP BY 1, 2)
      SELECT p.id_a, p.id_b, p.common,
             CAST((p.common * 1000000) // (a.deg + b.deg - p.common) AS BIGINT)
               AS jaccard_millionths
      FROM prs p JOIN deg a ON a.node = p.id_a JOIN deg b ON b.node = p.id_b
      ORDER BY p.id_a, p.id_b""")) { (s, dir) =>
      GraphTables.commonNeighborsFromEdges(powerLawEdgesMemo(s, dir),
          capAtMedianDegree = true, checkpoint = false)
        .orderBy("id_a", "id_b")
    },

    QDef("g22d_common_neighbors_powerlaw_uncapped", oracle(""",
      pln AS (SELECT 40 * count(*) AS n FROM nodes),
      pe AS (
        SELECT i AS a, i + 1 AS b
        FROM (SELECT unnest(range(0, (SELECT n FROM pln) - 1)) AS i)
        UNION ALL
        SELECT CAST(floor(sqrt(CAST(i AS DOUBLE))) AS BIGINT) AS a, i AS b
        FROM (SELECT unnest(range(2, (SELECT n FROM pln))) AS i)),
      und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM pe WHERE a != b),
      adj AS (SELECT u AS n, v AS m FROM und UNION ALL SELECT v, u FROM und),
      deg AS (SELECT m AS node, count(*) AS deg FROM adj GROUP BY m),
      prs AS (SELECT x.m AS id_a, y.m AS id_b, count(*) AS common
              FROM adj x JOIN adj y ON x.n = y.n AND x.m < y.m GROUP BY 1, 2)
      SELECT p.id_a, p.id_b, p.common,
             CAST((p.common * 1000000) // (a.deg + b.deg - p.common) AS BIGINT)
               AS jaccard_millionths
      FROM prs p JOIN deg a ON a.node = p.id_a JOIN deg b ON b.node = p.id_b
      ORDER BY p.id_a, p.id_b"""), comparator = true) { (s, dir) =>
      GraphTables.commonNeighborsFromEdges(powerLawEdgesMemo(s, dir), checkpoint = false)
        .orderBy("id_a", "id_b")
    },

    // ---- analytics extension: PageRank, 3 iterations of deterministic
    // integer fixed-point (bigint floor arithmetic is summation-order- and
    // partitioning-independent, so the oracle can unroll the identical
    // recurrence and match bit-for-bit — double-precision PageRank could
    // not be gated this way) ----
    QDef("g23_pagerank", oracle(""",
      cnt AS (SELECT count(*) AS n FROM nodes),
      base AS (SELECT (1000000 // greatest(n, 1)) AS b FROM cnt),
      od AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
      p0 AS (SELECT node_id, (SELECT b FROM base) AS pr FROM nodes)""" +
      (1 to 3).map(prIterSql).mkString + """
      SELECT node_id, CAST(pr AS BIGINT) AS pr_millionths FROM p3
      ORDER BY node_id""")) { (s, dir) =>
      GraphTables.pageRank(GraphTables.forDir(s, dir), iterations = 3).orderBy("node_id")
    },

    // ---- g24: connected components of the weight-thresholded signal
    // graph (analytics extension, completing the g21-g23 family:
    // triangles, similarity, centrality, components). The full graph is
    // one giant component BY CONSTRUCTION (sequence adjacency chains
    // every consecutive signal pair), so the meaningful object is the
    // components of the >= minWeight subgraph — the repeatedly-reinforced
    // association clusters. minWeight = 3 is non-vacuous on this fixture
    // (14 components over 228 edges at sf0.01; the reference's
    // PromotionThreshold = 10 leaves zero edges here — the g22b
    // vacuous-cap lesson). Engine: the d13 large-star/small-star
    // contraction — O(log n) rounds of equi-join rounds, star-forest
    // fixpoint validated loudly, no driver-side union-find — against the
    // oracle's recursive-CTE transitive closure. At 100 TB components is
    // THE canonical "can't do this single-node" graph op; the contraction
    // runs entirely in joins/aggregates and is the same code path the
    // GraphScaleRehearsal drives through a 2^20-node chain in 21 rounds. ----
    QDef("g24_connected_components", oracle(""",
      se AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v
             FROM edges WHERE src != dst AND weight >= 3 GROUP BY 1, 2),
      sym AS (SELECT u AS a, v AS b FROM se UNION ALL SELECT v, u FROM se),
      reach(id, r) AS (
        SELECT node_id, node_id FROM nodes
        UNION
        SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a)
      SELECT id AS node_id, min(r) AS component_id FROM reach
      GROUP BY id ORDER BY node_id""")) { (s, dir) =>
      val g = GraphTables.forDir(s, dir)
      val pairs = g.edges
        .filter(col("weight") >= 3 && col("src") =!= col("dst"))
        .select(col("src").as("doc_i"), col("dst").as("doc_j"))
      PipelinePack.connectedComponents(
          g.nodes.select(col("node_id").as("doc_id")), pairs)._1
        .select(col("doc_id").as("node_id"), col("cluster_id").as("component_id"))
        .orderBy("node_id")
    },

    // ---- g25: k-core membership (k = 2) over the same thresholded
    // signal graph as g24 — the standard "dense sub-community" peel
    // (drop sub-k nodes until stable). The oracle unrolls exactly
    // KCoreMaxRounds peel rounds as plain CTEs (rounds past the fixpoint
    // are no-ops); GraphTables.kCore asserts convergence within the same
    // bound, so the two sides compute the identical fixpoint or the
    // entry fails loudly — never a silently truncated core. ----
    QDef("g25_kcore", oracle(s""",
      se AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v
             FROM edges WHERE src != dst AND weight >= 3 GROUP BY 1, 2),
      sym AS MATERIALIZED (SELECT u AS a, v AS b FROM se UNION ALL SELECT v, u FROM se),
      a0 AS MATERIALIZED (SELECT node_id FROM nodes)${kCorePeelSql(k = 2, rounds = KCoreMaxRounds)}
      SELECT n.node_id,
             CAST(CASE WHEN a.node_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_core
      FROM nodes n LEFT JOIN a$KCoreMaxRounds a ON a.node_id = n.node_id
      ORDER BY n.node_id""")) { (s, dir) =>
      val g = GraphTables.forDir(s, dir)
      val und = g.edges
        .filter(col("weight") >= 3 && col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
      GraphTables.kCore(g.nodes, und, k = 2, maxRounds = KCoreMaxRounds)
        .orderBy("node_id")
    },

    // ---- g26: local clustering coefficient — g21's triangle counts
    // composed with degrees into the per-node neighborhood-density
    // millionths. Oracle re-derives both terms (id-sorted triangle
    // enumeration + symmetric-degree count) and the identical integer
    // division, so the composition is bit-exact. ----
    QDef("g26_clustering_coefficient", oracle(""",
      und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM edges WHERE src != dst),
      tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM und e1
                JOIN und e2 ON e2.u = e1.v
                JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
      pern AS (SELECT a AS node_id FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri),
      tcnt AS (SELECT n.node_id, count(p.node_id) AS t
               FROM nodes n LEFT JOIN pern p ON p.node_id = n.node_id
               GROUP BY n.node_id),
      adj AS (SELECT u AS n, v AS m FROM und UNION ALL SELECT v, u FROM und),
      dg AS (SELECT n AS node_id, count(*) AS deg FROM adj GROUP BY n)
      SELECT t.node_id,
             CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree,
             CAST(t.t AS BIGINT) AS n_triangles,
             CAST(CASE WHEN COALESCE(d.deg, 0) >= 2
                  THEN (2 * t.t * 1000000) // (d.deg * (d.deg - 1))
                  ELSE 0 END AS BIGINT) AS coeff_millionths
      FROM tcnt t LEFT JOIN dg d ON d.node_id = t.node_id
      ORDER BY t.node_id""")) { (s, dir) =>
      GraphTables.clusteringCoefficient(GraphTables.forDir(s, dir), Some(dir))
        .orderBy("node_id")
    },

    // ---- g27: label-propagation communities (Raghavan et al. 2007) —
    // the community-detection member of the analytics family (g21
    // triangles / g23 centrality / g24 components / g25 cores / g26
    // density). Synchronous rounds with smallest-label tie-breaks make
    // every round deterministic, so the oracle unrolls the identical
    // recurrence (same discipline as g23) and matches bit-for-bit. ----
    QDef("g27_label_propagation", oracle(s""",
      und AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v
              FROM edges WHERE src != dst AND weight >= 3 GROUP BY 1, 2),
      sym AS (SELECT u AS a, v AS b FROM und UNION ALL SELECT v, u FROM und),
      l0 AS (SELECT node_id, node_id AS lbl FROM nodes)""" +
      (1 to 3).map(lpIterSql).mkString + """
      SELECT node_id, CAST(lbl AS BIGINT) AS community FROM l3
      ORDER BY node_id""")) { (s, dir) =>
      // same weight >= 3 thresholded subgraph as g24/g25: the full
      // sequence-adjacency graph is one dense blob by construction, so
      // the community object lives on the reinforced-association edges
      val g = GraphTables.forDir(s, dir)
      val und = g.edges
        .filter(col("src") =!= col("dst") && col("weight") >= 3)
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
      GraphTables.labelPropagation(g.nodes, und, rounds = 3)
        .orderBy("node_id")
    },

    // ---- integrity: commutative distributed checksum. The oracle
    // recomputes FNV-1a64 over every tagged canonical row byte-for-byte in
    // SQL (rows as hex strings, a recursive CTE folding hex pairs with the
    // wrapping multiply in HUGEINT, XOR-reduced, re-signed) — so the
    // custom Fnv1a64Expr + bit_xor pipeline is gated end-to-end, not just
    // spec-checked against the driver twin ----
    QDef("g19_state_checksum", oracle("""
      , rows AS (
        SELECT lower('4e' || lpad(to_hex(node_id), 16, '0')
                          || lpad(to_hex(entity_id), 16, '0')) AS hx FROM nodes
        UNION ALL
        SELECT lower('45' || lpad(to_hex(src), 16, '0') || lpad(to_hex(dst), 16, '0')
                          || lpad(to_hex(weight), 16, '0')) FROM edges
        UNION ALL
        SELECT lower('50' || lpad(to_hex(node_id), 16, '0')
                          || lpad(to_hex(strlen(attribute)), 8, '0') || hex(encode(attribute))
                          || lpad(to_hex(strlen(value)), 8, '0') || hex(encode(value))) FROM props
      ),
      fnv AS (
        SELECT hx, 0 AS i, CAST(14695981039346656037 AS UBIGINT) AS h FROM rows
        UNION ALL
        SELECT hx, i + 1,
          CAST(((xor(h, CAST((strpos('0123456789abcdef', substr(hx, 2*i+1, 1)) - 1) * 16
                     + strpos('0123456789abcdef', substr(hx, 2*i+2, 1)) - 1 AS UBIGINT)))::HUGEINT
                * 1099511628211) % 18446744073709551616 AS UBIGINT)
        FROM fnv WHERE i < strlen(hx) // 2
      ),
      folded AS (SELECT bit_xor(h) AS x FROM fnv WHERE i = strlen(hx) // 2)
      SELECT (SELECT count(*) FROM nodes) AS node_count,
             (SELECT count(*) FROM edges) AS edge_count,
             (SELECT count(*) FROM props) AS property_count,
             CAST(CASE WHEN x >= 9223372036854775808 THEN x::HUGEINT - 18446744073709551616
                       ELSE x::HUGEINT END AS BIGINT) AS checksum
      FROM folded""")) { (s, dir) =>
      graft.verify.DistributedChecksum.summary(GraphTables.forDir(s, dir))
    }
  )
}
