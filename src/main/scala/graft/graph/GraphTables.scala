package graft.graph

import graft.core.{InMemoryGraph, Limits, Node}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The distributed graph: four Parquet-derivable tables.
  *
  * Mirrors the reference's store layout (redb tables NODES / EDGES /
  * PROPERTIES / ENTITY_INDEX, /root/reference/crates/kremis-core/src/storage/
  * redb_graph.rs:24-46) as DataFrames. `nodes` doubles as the entity index —
  * it is small (one row per distinct entity) and broadcastable.
  */
final case class GraphFrames(
    signals: DataFrame,    // (seq, entity_id, attribute, value)
    nodes: DataFrame,      // (node_id, entity_id)
    edges: DataFrame,      // (src, dst, weight) — hash-partitioned by src
    properties: DataFrame) // (node_id, attribute, value) distinct

/** Distributed derivation of the graft graph from a signal log, plus the
  * graph operators over it (SURVEY.md §2.1). This is the scale path; the
  * reference-semantics gold standard is [[graft.core.InMemoryGraph]] and
  * cross-check tests assert the two agree.
  *
  * Scale design (100 TB):
  *   - node-id assignment uses range-repartition + sortWithinPartitions +
  *     zipWithIndex — per-partition offsets, never a single-partition
  *     window (`row_number` over an unpartitioned window is the classic
  *     scale-killer for monotonic ids);
  *   - sequence adjacency is an equi-join on `seq + 1` (seq is the dense
  *     0..n-1 position within the ingested sequence, by definition of a
  *     sequence — ingestor.rs:118-152), which shuffles by key instead of
  *     sorting globally;
  *   - `edges` is persisted hash-partitioned by `src`, so each BFS hop
  *     shuffles only the (small) frontier, not the edge table;
  *   - every traversal is bounded by construction (depth ≤ 100, reference
  *     primitives.rs:41-45), and each hop is localCheckpoint'ed to cut
  *     lineage.
  */
object GraphTables {

  /** Control characters per Unicode Cc (what Rust `char::is_control`
    * matches): U+0000-U+001F and U+007F-U+009F (ingestor.rs:38-76).
    */
  private val CtrlAttr = "[\\x00-\\x1F\\x7F-\\x9F]"
  /** Values may keep \t \n \r (legitimate in multiline text). */
  private val CtrlValue = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]"

  /** Validation as column predicates — the distributed twin of
    * `graft.core.Ingestor.validate` (ingestor.rs:38-76). Length limits are
    * byte lengths of the UTF-8 encoding (`octet_length`), matching Rust's
    * `str::len`.
    */
  def validSignals(df: DataFrame): DataFrame =
    df.filter(
      length(col("attribute")) > 0 &&
        octet_length(col("attribute")) <= Limits.MaxAttributeLength &&
        !col("attribute").rlike(CtrlAttr) &&
        length(col("value")) > 0 &&
        octet_length(col("value")) <= Limits.MaxValueLength &&
        !col("value").rlike(CtrlValue))

  /** Count of rows `validSignals` would reject — the all-or-nothing batch
    * gate (redb_graph.rs:203-207): a batch with any invalid signal must not
    * commit.
    */
  def invalidCount(df: DataFrame): Long = df.count() - validSignals(df).count()

  /** The events table read as a signal log: the sequence position is the
    * dense event_id, the entity is the user, the (attribute, value) payload
    * is (event_type, props). Only these four columns are selected so the
    * parquet scan prunes the rest (incl. the nanos timestamp).
    */
  def signalsFromEvents(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.read(spark, s"$dir/events.parquet")
      .select(
        col("event_id").as("seq"),
        col("user_id").as("entity_id"),
        col("event_type").as("attribute"),
        col("props").as("value"))

  /** Graph tables per (session, dir), derived from the dir's
    * `events.parquet` at the fingerprint taken before the build. Each
    * entry pins its three persisted tables until the session ends or the
    * event log changes: a regenerated log supersedes the entry and
    * everything derived from it (the BFS closures, the triangle table,
    * the undirected snapshot), which all rebuild from the current rows.
    */
  private[graft] val graphs = new graft.SessionMemo[String, GraphFrames](
    "graph_tables.graphs",
    dir => Seq(graft.SessionMemo.Input.file(s"$dir/events.parquet")),
    identity,
    g => Seq(g.nodes, g.edges, g.properties).foreach(graft.SessionMemos.safeUnpersist))

  /** Build (or fetch the memoized) graph tables for a testdata dir. */
  def forDir(spark: SparkSession, dir: String): GraphFrames =
    graphs(spark, Some(dir))(build(validSignals(signalsFromEvents(spark, dir))))

  /** Drop a dir's graph tables and every memo entry derived from its
    * event log, releasing what each pinned.
    */
  def invalidate(spark: SparkSession, dir: String): Unit =
    graft.SessionMemos.invalidate(spark, s"$dir/events.parquet")

  /** The inputs a memoized graph was built from: what a memo over it
    * derives from (none for a graph [[forDir]] did not build).
    */
  private def inputsOf(g: GraphFrames): Seq[graft.SessionMemo.Input] =
    graphs.inputsBehind(g.nodes.sparkSession, g)

  /** Derive nodes / edges / properties from a validated signal log.
    *
    * Semantics are the reference's sequence ingest (ingestor.rs:91-152):
    * one node per distinct entity, ids assigned in first-appearance order
    * (graph.rs:502-517); an edge per strictly-adjacent signal pair
    * (ASSOCIATION_WINDOW = 1) with weight = co-occurrence count; properties
    * with set semantics at the (attribute, value) level.
    */
  def build(signals: DataFrame): GraphFrames = {
    val spark = signals.sparkSession
    import spark.implicits._

    // Deterministic monotonic node ids: first-appearance order of each
    // entity. Range-partition + in-partition sort preserves global order,
    // so zipWithIndex's per-partition offsets reproduce row_number exactly
    // — without the single-partition global window (SURVEY §4.3.5).
    val firsts = signals.groupBy("entity_id").agg(min("seq").as("first_seq"))
    val nodes = firsts
      .repartitionByRange(col("first_seq"))
      .sortWithinPartitions("first_seq")
      .select("entity_id").rdd.map(_.getLong(0))
      .zipWithIndex()
      .map { case (entity, id) => (id, entity) }
      .toDF("node_id", "entity_id")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // nodes is one row per distinct entity — broadcastable by size; the
    // hint keeps the big signal table from shuffling at any scale.
    val sn = signals.join(broadcast(nodes), "entity_id")
      .select(col("seq"), col("node_id"))

    // Adjacency = equi-join on consecutive seq (shuffle by key; no global
    // sort). Self-edges (same entity twice in a row) are kept — the
    // reference's increment_edge(prev, current) creates them too.
    val a = sn.as("a")
    val b = sn.as("b")
    val edges = a.join(b, col("b.seq") === col("a.seq") + 1)
      .groupBy(col("a.node_id").as("src"), col("b.node_id").as("dst"))
      .agg(count(lit(1)).as("weight"))
      .repartition(col("src")) // BFS hops join frontier against src
      .persist(StorageLevel.MEMORY_AND_DISK)

    val properties = signals.join(broadcast(nodes), "entity_id")
      .select(col("node_id"), col("attribute"), col("value"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // per-node property cap (primitives.rs:84): the sequential reference
    // errors at the 4096th distinct pair; the batch derivation is
    // all-or-nothing, so a violating log fails the whole build.
    val overCap = properties.groupBy("node_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > Limits.MaxPropertiesPerNode).limit(1).collect()
    require(overCap.isEmpty,
      s"property cap ${Limits.MaxPropertiesPerNode} exceeded for node ${overCap.headOption.map(_.getLong(0)).getOrElse(-1L)}")

    GraphFrames(signals, nodes, edges, properties)
  }

  // -----------------------------------------------------------------------
  // Point lookups / scans (graph.rs:552-578, 718-784)
  // -----------------------------------------------------------------------

  def lookup(g: GraphFrames, nodeId: Long): DataFrame =
    g.nodes.filter(col("node_id") === nodeId)

  def lookupByEntity(g: GraphFrames, entityId: Long): DataFrame =
    g.nodes.filter(col("entity_id") === entityId)

  /** Out-edges of a node, destination-ascending (the BTreeMap order the
    * reference guarantees, graph.rs:567-574).
    */
  def neighbors(g: GraphFrames, node: Long): DataFrame =
    g.edges.filter(col("src") === node)
      .select(col("dst").as("node_id"), col("weight"))
      .orderBy("node_id")

  def getEdge(g: GraphFrames, from: Long, to: Long): DataFrame =
    g.edges.filter(col("src") === from && col("dst") === to)

  /** Single-row counts summary (node/edge/stable-edge counts). The
    * stable-count sum is coalesced: SQL `sum` over zero rows is NULL, and
    * an empty, freshly-initialized store must report 0, not crash.
    */
  def counts(g: GraphFrames, stableThreshold: Long): DataFrame = {
    val n = g.nodes.agg(count(lit(1)).as("node_count"))
    val e = g.edges.agg(
      count(lit(1)).as("edge_count"),
      coalesce(sum(when(col("weight") >= stableThreshold, 1L).otherwise(0L)), lit(0L))
        .as("stable_edge_count"))
    n.crossJoin(e)
  }

  /** GraphMetrics as a single-row DataFrame: counts plus integer fixed-point
    * density in millionths (stage.rs:128-185; max-depth sampling is skipped
    * on the distributed backend, exactly as the reference skips it on redb,
    * stage.rs:209).
    */
  def metrics(g: GraphFrames, stableThreshold: Long): DataFrame =
    counts(g, stableThreshold).select(
      col("node_count"), col("edge_count"), col("stable_edge_count"),
      when(col("node_count") > 0,
        expr("edge_count * 1000000L div node_count")).otherwise(0L)
        .as("density_millionths"))

  /** Per-node triangle count over the UNDIRECTED simple graph (self-edges
    * dropped, direction and weight ignored) — the graph-analytics
    * companion to [[metrics]]; not a reference operator, part of the
    * analytics extension surface.
    *
    * Uses the degree-ordered ("forward edge") algorithm: each undirected
    * edge is directed from its lower-(degree, id) endpoint to the higher
    * one, wedges are forward 2-paths, and a triangle is a wedge whose
    * closing edge is also forward. Every triangle has exactly one
    * orientation with r(a) < r(b) < r(c), so it is counted once — and the
    * wedge join's fan-out per vertex is its FORWARD degree, which the
    * (degree, id) order bounds by O(sqrt(edges)) even on power-law graphs
    * where raw degree is unbounded. That bound on the hottest join key is
    * what makes this the 100 TB-safe plan; equi-joins only, no enumeration
    * of neighbor pairs on the driver.
    */
  /** Canonical undirected simple edge list of the signal graph:
    * self-edges dropped, direction and weight ignored, one row per
    * unordered pair as (u, v) with u < v. Shared by [[triangleCounts]],
    * [[commonNeighbors]] and the scale rehearsal so the analytics
    * operators and the invariants that measure them derive the SAME
    * graph.
    */
  def undirectedSimpleEdges(g: GraphFrames): DataFrame =
    g.edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** Degree-ordered forward orientation of an undirected edge list: each
    * edge directed from its lower-(degree, id) endpoint (`lo`) to the
    * higher (`hi`). The max forward degree of ANY vertex under this
    * orientation is O(sqrt E) — the bound [[triangleCounts]]' wedge join
    * and the rehearsal invariant both rely on.
    */
  def forwardEdges(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("node_id"))
      .union(und.select(col("v").as("node_id")))
      .groupBy("node_id").agg(count(lit(1)).as("deg"))
    val du = deg.select(col("node_id").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node_id").as("v"), col("deg").as("dv"))
    val fwdIsUV =
      col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    und.join(du, "u").join(dv, "v")
      .select(
        when(fwdIsUV, col("u")).otherwise(col("v")).as("lo"),
        when(fwdIsUV, col("v")).otherwise(col("u")).as("hi"))
  }

  def triangleCounts(g: GraphFrames): DataFrame = {
    // localCheckpoint on `und` and `fwd` cuts the shared subtrees: `und`
    // feeds the degree aggregate AND the orientation join, and `fwd` is
    // self-joined THREE times — without the cut each consumer re-plans
    // and re-executes the whole distinct/degree/orientation chain (3x the
    // shuffles, and measurably dominated by stage overhead). The
    // checkpoint is linear in |E| — the same materialization GraphX makes
    // for its edge partitions.
    // measured (r9, sf0.1, solo bench): dropping the `und` checkpoint and
    // keeping only `fwd`'s is 40% SLOWER (2.67s vs 1.90s median) — `und`'s
    // two consumers re-run the distinct over the full edge list. Both cuts
    // stay. (r8's 3.9s idle g21 was full-suite contention, not a plan
    // regression: solo median is back at r6's level.)
    val und = undirectedSimpleEdges(g).localCheckpoint()
    val fwd = forwardEdges(und).localCheckpoint()
    // fwd is materialized and und has no other reader: free its blocks now
    // rather than when the ContextCleaner gets to them
    graft.SessionMemos.releaseCheckpoints(und)
    val e1 = fwd.select(col("lo").as("x"), col("hi").as("y"))
    val e2 = fwd.select(col("lo").as("y"), col("hi").as("z"))
    val e3 = fwd.select(col("lo").as("x"), col("hi").as("z"))
    val tri = e1.join(e2, "y").join(e3, Seq("x", "z"))
    val perNode = tri.select(col("x").as("node_id"))
      .union(tri.select(col("y").as("node_id")))
      .union(tri.select(col("z").as("node_id")))
      .groupBy("node_id").agg(count(lit(1)).as("n_triangles"))
    g.nodes.select(col("node_id"))
      .join(perNode, Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Memoized per-node triangle counts per (session, key) — g26's
    * clustering coefficient is DEFINED over g21's triangle table, so the
    * two entries otherwise run the whole orientation + wedge-join chain
    * twice (the two heaviest graph entries at sf1: ~14.5s each).
    * Persisted, and released together with triangleCounts' und/fwd
    * checkpoint cuts. ScaleRehearsal checks the RAW [[triangleCounts]]
    * plan, which this wrapper never caches.
    */
  private[graft] val triangles = new graft.SessionMemo[(String, GraphFrames), DataFrame](
    "graph_tables.triangles", k => inputsOf(k._2),
    _.persist(StorageLevel.MEMORY_AND_DISK),
    df => { graft.SessionMemos.safeUnpersist(df); graft.SessionMemos.releaseCheckpoints(df) })

  def triangleCountsMemo(g: GraphFrames, cacheKey: Option[String]): DataFrame =
    triangles(g.nodes.sparkSession, cacheKey.map((_, g)))(triangleCounts(g))

  /** Memoized canonical undirected edge snapshot per (session, key) —
    * g22 and g22b both read the identical
    * `undirectedSimpleEdges(g).localCheckpoint()`, which would otherwise
    * be re-derived on every pass (a measured 32-task ~0.3s stage per pass
    * per entry at sf0.1). Released on eviction or [[invalidate]]; the
    * checkpointed plan carries no lineage, so a later caller rebuilds it.
    */
  private val undirected = graft.SessionMemo.checkpointed[(String, GraphFrames)](
    "graph_tables.undirected")(k => inputsOf(k._2))

  /** Common-neighbor similarity over the undirected simple graph: for
    * every node pair sharing at least one neighbor, the shared-neighbor
    * count and the neighbor-set Jaccard (integer millionths, floor).
    * The link-prediction companion to [[triangleCounts]].
    *
    * The work is Σ deg(w)² over shared neighbors w — inherently quadratic
    * in hub degree (no orientation trick applies: BOTH endpoints of a
    * wedge are outputs here, unlike triangles where the closing edge
    * filters). At 100 TB the standard mitigation is capping hub
    * neighborhoods (the d10b dfCap pattern); `hubCap` applies it — shared
    * neighbors with degree > cap are excluded from COUNTING, which changes
    * semantics (documented, like d10b's) and is therefore gated as its own
    * entry when used. Jaccard always keeps the FULL degrees.
    *
    * A FIXED cap is fixture-relative: on a dense graph where every degree
    * exceeds it, the capped result is vacuously empty and the gate checks
    * nothing. `capAtMedianDegree` instead derives the cap from the data —
    * the lower median of the degree distribution (the smallest degree
    * value covering at least half the nodes), computed in-plan on the
    * degree HISTOGRAM (one row per distinct degree value, so the
    * cumulative window is over a tiny table — never a single-partition
    * pass over |V|). Pure integer arithmetic (2·cum ≥ tot), so the oracle
    * re-derives the identical cap; by construction roughly half the nodes
    * stay sub-cap, so the capped entry is non-vacuous on ANY degree
    * distribution.
    */
  def commonNeighbors(
      g: GraphFrames,
      hubCap: Option[Long] = None,
      capAtMedianDegree: Boolean = false,
      cacheKey: Option[String] = None): DataFrame = {
    val und = cacheKey match {
      case Some(k) => undirected(g.nodes.sparkSession, Some((k, g)))(undirectedSimpleEdges(g))
      case None => undirectedSimpleEdges(g).localCheckpoint()
    }
    commonNeighborsFromEdges(und, hubCap, capAtMedianDegree,
      checkpoint = false)
  }

  /** [[commonNeighbors]] over an explicit canonical undirected simple
    * edge list (u < v, no loops, no dups) — lets synthetic graphs (the
    * g22c/g22d power-law fixture) run the identical capped machinery
    * without routing through a signal-log-derived [[GraphFrames]].
    *
    * Plan: common neighbors are counted per LOW endpoint, never per
    * wedge row.
    *   1. The adjacency is shuffled by center and sorted by (center,
    *      neighbor), so each center's neighbor list arrives as one sorted
    *      run; its length is the degree, so the cap is `length ≤ cap` on
    *      the run itself (no node-sized cap join).
    *   2. One typed pass emits, for each member `a` of a sub-cap list,
    *      the row (a, the members after a) — at most |adjacency| rows.
    *   3. Those rows are shuffled by `a` and sorted within partitions; a
    *      per-owner kernel counts equal `b`s across all of a's suffixes
    *      (sort + run length over a primitive array) and emits
    *      (a, b, common). Keying by the low endpoint makes every pair
    *      a < b land at exactly one owner, so the count is final there —
    *      no pair-keyed aggregate, no partial rows per pair. An owner's
    *      memory is its wedge count Σ over centers of |suffix after a|,
    *      which is ≤ deg(a)·cap on the capped path.
    *   4. The degrees (an aggregate of the symmetric adjacency) join on
    *      and give Jaccard.
    * Both shuffles are REPARTITION_BY_NUM at defaultParallelism: their
    * input is byte-tiny next to the suffix work it fans out to, and AQE
    * would otherwise coalesce it into one task.
    */
  def commonNeighborsFromEdges(
      edges: DataFrame,
      hubCap: Option[Long] = None,
      capAtMedianDegree: Boolean = false,
      checkpoint: Boolean = true): DataFrame = {
    // the two caps are alternatives, not composable: an explicit hubCap
    // used to silently win over capAtMedianDegree, so a caller asking for
    // the data-derived cap could get a fixed one instead (round-6 advice)
    require(hubCap.isEmpty || !capAtMedianDegree,
      "pass either hubCap or capAtMedianDegree, not both")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = // read by the adjacency and degree scans; false if pinned
      if (checkpoint) edges.localCheckpoint() else edges
    val parts = spark.sparkContext.defaultParallelism
    val sym = und.select(col("u").as("n"), col("v").as("m"))
      .union(und.select(col("v").as("n"), col("u").as("m")))
    val adj = sym.repartition(parts, col("n"))
    val deg = sym.groupBy(col("n").as("node")).agg(count(lit(1)).as("deg"))
    val capped = if (capAtMedianDegree) {
      import org.apache.spark.sql.expressions.Window
      val hist = deg.groupBy("deg").agg(count(lit(1)).as("c"))
      val cum = hist.select(
        col("deg"),
        sum("c").over(Window.orderBy("deg")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
        sum("c").over(Window.partitionBy()).as("tot"))
      val cap = cum.filter(col("cum") * 2 >= col("tot")).agg(min(col("deg")).as("cap"))
      adj.crossJoin(broadcast(cap)) // one row; keeps adj's partitioning
    } else adj.withColumn("cap", lit(hubCap.getOrElse(Long.MaxValue)))
    val pairs = capped.sortWithinPartitions("n", "m")
      .as[(Long, Long, Long)].mapPartitions(suffixRows)
      .toDF("a", "bs")
      .repartition(parts, col("a")).sortWithinPartitions("a")
      .as[(Long, Array[Long])].mapPartitions(commonPerOwner)
      .toDF("id_a", "id_b", "common")
    val da = deg.select(col("node").as("id_a"), col("deg").as("deg_a"))
    val db = deg.select(col("node").as("id_b"), col("deg").as("deg_b"))
    pairs.join(da, "id_a").join(db, "id_b")
      .select(col("id_a"), col("id_b"), col("common"),
        expr("common * 1000000 div (deg_a + deg_b - common)").as("jaccard_millionths"))
  }

  /** Step 2 of [[commonNeighborsFromEdges]]: over (center, neighbor, cap)
    * rows sorted by (center, neighbor), each center whose list length is
    * ≤ cap yields (a, the list after a) for every member a but the last.
    * Buffers at most `cap` members of one list.
    */
  private def suffixRows(rows: Iterator[(Long, Long, Long)]): Iterator[(Long, Array[Long])] = {
    val in = rows.buffered
    var list = new Array[Long](64)
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val (n, _, cap) = in.head
      var len = 0
      while (in.hasNext && in.head._1 == n) {
        val m = in.next()._2
        if (len < cap) {
          if (len == list.length) list = java.util.Arrays.copyOf(list, 2 * len)
          list(len) = m
        }
        len += 1
      }
      if (len > cap) Iterator.empty
      else Iterator.range(0, len - 1)
        .map(i => (list(i), java.util.Arrays.copyOfRange(list, i + 1, len)))
    }
  }

  /** Step 3 of [[commonNeighborsFromEdges]]: over (a, suffix) rows sorted
    * by a, concatenate each owner's suffixes into one array, sort it and
    * emit (a, b, run length) per distinct b. Every b > a, since suffixes
    * come from ascending lists.
    */
  private def commonPerOwner(rows: Iterator[(Long, Array[Long])]): Iterator[(Long, Long, Long)] = {
    val in = rows.buffered
    var bs = new Array[Long](1024)
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val a = in.head._1
      var w = 0
      while (in.hasNext && in.head._1 == a) {
        val s = in.next()._2
        if (w + s.length > bs.length)
          bs = java.util.Arrays.copyOf(bs, math.max(2 * bs.length, w + s.length))
        System.arraycopy(s, 0, bs, w, s.length)
        w += s.length
      }
      java.util.Arrays.sort(bs, 0, w)
      var i = 0
      Iterator.continually(()).takeWhile(_ => i < w).map { _ =>
        val b = bs(i)
        val start = i
        while (i < w && bs(i) == b) i += 1
        (a, b, (i - start).toLong)
      }
    }
  }

  /** PageRank in deterministic integer fixed-point (millionths): every
    * step is bigint multiply / floor-divide / sum, so the result is
    * independent of partitioning and summation order — which is what
    * makes a bit-exact cross-engine oracle possible (double-precision
    * PageRank is NOT reproducible under Spark's nondeterministic
    * float-sum order). Directed edges, weight-ignoring; damping 85/100;
    * dangling mass leaks (documented — the classic simplification).
    *
    * pr0 = 1e6 div N; pr'(v) = (base*15 div 100) + (85 * Σ_{u→v}
    * (pr(u) div outdeg(u))) div 100. Each iteration is one join on src +
    * one aggregate on dst — the canonical iterate-shuffle shape — with a
    * localCheckpoint per round so the plan does not grow with the
    * iteration count.
    */
  def pageRank(g: GraphFrames, iterations: Int = 3): DataFrame = {
    val n = math.max(g.nodes.count(), 1L)
    val base = 1000000L / n
    // checkpointed like pr: being lazy, the aggregate would otherwise
    // re-scan and re-shuffle the edge table inside EVERY iteration
    val outdeg = g.edges.groupBy("src").agg(count(lit(1)).as("od"))
      .localCheckpoint()
    var pr = g.nodes.select(col("node_id"), lit(base).as("pr"))
    for (_ <- 1 to iterations) {
      val contrib = g.edges.join(pr, col("node_id") === col("src"))
        .join(outdeg, "src")
        .select(col("dst"), expr("pr div od").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("contrib"))
      pr = g.nodes.select(col("node_id"))
        .join(contrib, col("node_id") === col("dst"), "left")
        .select(col("node_id"),
          (lit(base * 15 / 100) + expr("85 * coalesce(contrib, 0) div 100")).as("pr"))
        .localCheckpoint()
    }
    pr.select(col("node_id"), col("pr").as("pr_millionths"))
  }

  /** Local clustering coefficient in integer millionths:
    * 2·T(v)·10^6 div (deg(v)·(deg(v)−1)), 0 below degree 2 — the
    * per-node "how clique-like is my neighborhood" signal, composed from
    * [[triangleCounts]] (O(√E)-bounded wedge join) and one degree
    * aggregate. Integer arithmetic end to end, so the oracle is
    * bit-exact like g21/g23.
    */
  def clusteringCoefficient(g: GraphFrames, cacheKey: Option[String] = None): DataFrame = {
    val t = triangleCountsMemo(g, cacheKey)
    val und = undirectedSimpleEdges(g)
    val deg = und.select(col("u").as("node_id"))
      .union(und.select(col("v").as("node_id")))
      .groupBy("node_id").agg(count(lit(1)).as("degree"))
    t.join(deg, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        col("n_triangles"),
        when(coalesce(col("degree"), lit(0L)) >= 2,
          expr("2 * n_triangles * 1000000 div (degree * (degree - 1))"))
          .otherwise(0L).as("coeff_millionths"))
  }

  /** g27 — label-propagation communities (Raghavan et al. 2007),
    * SYNCHRONOUS variant with deterministic tie-breaks so every round is
    * engine-exact: labels start as node ids; each round every node
    * adopts the most frequent label among its undirected neighbors
    * (ties broken by the smallest label; isolated nodes keep their
    * own). Fixed `rounds` rather than run-to-convergence — synchronous
    * LPA can 2-cycle on bipartite structure, and a fixed unroll is what
    * lets the DuckDB oracle re-derive every label bit-for-bit (same
    * discipline as g23's integer PageRank).
    *
    * INPUT CONTRACT (same as [[kCore]]): `und` must be a canonical
    * undirected simple edge list — one row per edge with u < v, no
    * duplicates, no self-loops. The symmetrization below is a plain
    * UNION ALL, so an input already carrying both orientations (or
    * duplicate rows) double-counts neighbor labels and changes adoption;
    * callers canonicalize with least/greatest + distinct (as g27 does).
    *
    * Scale shape: per round, one join of the symmetric edge list
    * against the label table + one (node, label) count aggregate + one
    * per-node argmax — the iterate-shuffle shape of [[pageRank]], with
    * a localCheckpoint per round keeping the plan flat. The argmax is a
    * window over (node) on the counted table (one row per distinct
    * neighbor label, already far smaller than the edge list).
    */
  def labelPropagation(
      nodes: DataFrame, und: DataFrame, rounds: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint() // read every round
    var lbl = nodes.select(col("node_id"), col("node_id").as("lbl"))
    for (_ <- 1 to rounds) {
      val counts = sym.join(lbl, col("node_id") === col("b"))
        .select(col("a"), col("lbl"))
        .groupBy("a", "lbl").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("a").orderBy(col("c").desc, col("lbl"))
      val adopted = counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("a").as("node_id"), col("lbl"))
      lbl = nodes.select(col("node_id"))
        .join(adopted, Seq("node_id"), "left")
        .select(col("node_id"), coalesce(col("lbl"), col("node_id")).as("lbl"))
        .localCheckpoint()
    }
    lbl.select(col("node_id"), col("lbl").as("community"))
  }

  /** k-core membership by iterative peeling (Batagelj–Zaveršnik's
    * definition, computed in the Matula–Beck bulk rounds a distributed
    * engine wants): repeatedly drop every node whose degree WITHIN the
    * surviving set is below k until nothing drops. Input is an undirected
    * simple edge list (u < v, no self-loops); output flags every node
    * (node_id, in_core 0/1).
    *
    * Each round is one symmetric-edge join against the survivor set plus
    * a degree aggregate — the iterate-shuffle shape of [[pageRank]], with
    * a localCheckpoint per round so the plan stays flat. Rounds equal the
    * peel depth of the graph, not its size: a bulk round removes EVERY
    * sub-k node at once, so chains collapse from both ends and dense
    * regions resolve in O(1) rounds. `maxRounds` is a loud contract, not
    * a truncation — the DuckDB oracle unrolls exactly `maxRounds` rounds
    * (rounds past the fixpoint are no-ops), so a graph that peels deeper
    * must fail here rather than ship a result the oracle can't re-derive.
    */
  def kCore(
      nodes: DataFrame, und: DataFrame, k: Int, maxRounds: Int = 32): DataFrame = {
    val sym = und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint()
    var alive = nodes.select(col("node_id")).localCheckpoint()
    var n = alive.count()
    var rounds = 0
    var converged = false
    while (!converged) {
      val next = sym
        .join(alive.select(col("node_id").as("a")), "a")
        .join(alive.select(col("node_id").as("b")), "b")
        .groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("a").as("node_id"))
        .localCheckpoint()
      val m = next.count()
      // next ⊆ alive, so equal counts ⟺ equal sets ⟺ fixpoint
      if (m == n) converged = true
      else {
        rounds += 1
        require(rounds <= maxRounds,
          s"k-core peel exceeded $maxRounds rounds (survivors: $m) — " +
            "raise maxRounds AND the oracle unroll together")
        alive = next
        n = m
      }
    }
    nodes.select(col("node_id"))
      .join(alive.withColumn("in_core", lit(1L)), Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("in_core"), lit(0L)).as("in_core"))
  }

  // -----------------------------------------------------------------------
  // Traversals (graph.rs:580-716)
  // -----------------------------------------------------------------------

  /** Bounded BFS level sets: (node_id, depth = first-reach level), depth
    * clamped to MAX_TRAVERSAL_DEPTH (graph.rs:580-654). Empty result if the
    * start node is missing (the reference's `None`).
    *
    * Per hop: frontier ⋈ edges (frontier shuffles to edges' src
    * partitioning), distinct, anti-join against reached, localCheckpoint to
    * cut lineage. The BFS *visit order* within a level is reconstructed by
    * (depth, node_id) sort — the deterministic order the reference gets
    * from its BTreeMap queue discipline.
    */
  def traverseBfs(
      g: GraphFrames,
      start: Long,
      depth: Int,
      minWeight: Option[Long] = None): DataFrame = {
    val bound = math.min(math.max(depth, 0), Limits.MaxTraversalDepth)
    val e0 = minWeight.map(w => g.edges.filter(col("weight") >= w)).getOrElse(g.edges)
    val e = e0.select(col("src"), col("dst"))

    var frontier = g.nodes.filter(col("node_id") === start)
      .select(col("node_id")).withColumn("depth", lit(0))
      .localCheckpoint()
    var reached = frontier
    var d = 0
    var exhausted = frontier.isEmpty
    while (d < bound && !exhausted) {
      val next = frontier.join(e, frontier("node_id") === e("src"))
        .select(e("dst").as("node_id")).distinct()
        .join(reached, Seq("node_id"), "left_anti")
        .withColumn("depth", lit(d + 1))
        .localCheckpoint()
      exhausted = next.isEmpty
      if (!exhausted) reached = reached.union(next).localCheckpoint()
      frontier = next
      d += 1
    }
    reached
  }

  /** BFS with exact visit-order reconstruction: (node_id, depth, ord)
    * where `ord` is the position within the level of the reference's BFS
    * queue discipline — children enqueue at their FIRST discovering
    * parent's position, neighbors ascending (graph.rs:580-612, BTreeMap
    * order). Order key per level: (min discovering parent's ord, node_id).
    *
    * The per-level `row_number` runs over an unpartitioned window — fine
    * here because visit order is only materialized for driver-bounded
    * Artifacts (path output is collected anyway); the scale-safe level-set
    * variant is [[traverseBfs]].
    */
  def traverseBfsOrdered(
      g: GraphFrames,
      start: Long,
      depth: Int,
      minWeight: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bound = math.min(math.max(depth, 0), Limits.MaxTraversalDepth)
    val e0 = minWeight.map(w => g.edges.filter(col("weight") >= w)).getOrElse(g.edges)
    val e = e0.select(col("src"), col("dst"))

    var frontier = g.nodes.filter(col("node_id") === start)
      .select(col("node_id"), lit(0).as("depth"), lit(0L).as("ord"))
      .localCheckpoint()
    var reached = frontier
    var d = 0
    var exhausted = frontier.isEmpty
    while (d < bound && !exhausted) {
      val w = Window.orderBy(col("min_pord"), col("node_id"))
      val next = frontier.join(e, frontier("node_id") === e("src"))
        .select(e("dst").as("node_id"), frontier("ord").as("pord"))
        .groupBy("node_id").agg(min(col("pord")).as("min_pord"))
        .join(reached, Seq("node_id"), "left_anti")
        .withColumn("depth", lit(d + 1))
        .withColumn("ord", row_number().over(w).cast("long"))
        .select(col("node_id"), col("depth"), col("ord"))
        .localCheckpoint()
      exhausted = next.isEmpty
      if (!exhausted) reached = reached.union(next).localCheckpoint()
      frontier = next
      d += 1
    }
    reached
  }

  /** Collect a traversal as a reference-shaped [[graft.core.Artifact]]:
    * path in exact BFS visit order, frontier edges in parent-visit-order
    * then neighbor-ascending — bit-identical to InMemoryGraph.traverse.
    */
  def traverseArtifact(
      g: GraphFrames,
      start: Long,
      depth: Int,
      minWeight: Option[Long] = None): Option[graft.core.Artifact] = {
    val bound = math.min(math.max(depth, 0), Limits.MaxTraversalDepth)
    val lv = traverseBfsOrdered(g, start, depth, minWeight)
    val visited = lv.orderBy("depth", "ord").collect()
    if (visited.isEmpty) return None
    val path = visited.map(_.getLong(0)).toVector

    val e = minWeight.map(w => g.edges.filter(col("weight") >= w)).getOrElse(g.edges)
    val expanding = lv.filter(col("depth") < bound)
      .select(col("node_id"), col("depth"), col("ord"))
    val edges = e.join(expanding, e("src") === expanding("node_id"))
      .orderBy(col("depth"), col("ord"), col("dst"))
      .select(col("src"), col("dst"), col("weight"))
      .collect()
      .map(r => graft.core.Edge(r.getLong(0), r.getLong(1), r.getLong(2)))
      .toVector
    Some(graft.core.Artifact.withSubgraph(path, edges))
  }

  /** Every frontier edge a bounded BFS reports: edges whose source was
    * visited at depth < bound, weight-filtered the same way the expansion
    * was (graph.rs:595-607 — the artifact includes edges into
    * already-visited nodes).
    */
  def frontierEdges(
      g: GraphFrames,
      start: Long,
      depth: Int,
      minWeight: Option[Long] = None): DataFrame = {
    val bound = math.min(math.max(depth, 0), Limits.MaxTraversalDepth)
    val lv = traverseBfs(g, start, depth, minWeight).filter(col("depth") < bound)
    val e = minWeight.map(w => g.edges.filter(col("weight") >= w)).getOrElse(g.edges)
    e.join(lv, e("src") === lv("node_id"))
      .select(col("src"), col("dst"), col("weight"))
  }

  /** Common out-neighbors of ALL inputs (graph.rs:656-677): a
    * countDistinct semi-join, node-ascending. Arity bounds (2..=100) are
    * enforced at the session/API boundary.
    */
  def intersect(g: GraphFrames, inputs: Seq[Long]): DataFrame = {
    require(inputs.nonEmpty, "intersect needs at least one input")
    g.edges.filter(col("src").isin(inputs: _*))
      .groupBy(col("dst"))
      .agg(countDistinct(col("src")).as("n_src"))
      .filter(col("n_src") === inputs.distinct.length)
      .select(col("dst").as("node_id"))
      .orderBy("node_id")
  }

  /** K highest-weight edges; order weight desc then (src, dst) asc
    * (handlers.rs:248-280). Compiles to TakeOrderedAndProject — no global
    * sort materialization.
    */
  def topKEdges(g: GraphFrames, k: Int): DataFrame =
    g.edges.orderBy(col("weight").desc, col("src"), col("dst")).limit(k)

  // -----------------------------------------------------------------------
  // Driver-side bounded algorithms over a collected subgraph
  // -----------------------------------------------------------------------

  /** Memoized [[traverseBfs]] CLOSURES per (session, graph instance,
    * start, bound, minWeight) — r17, guide §1.2 step 1 (don't recompute
    * what you already have): one bench pass runs the depth-bounded BFS
    * from node 0 up to SIX times (g17 + g18 via [[collectSubgraph]],
    * g17b/g18b re-deriving the path AND checking it against the closure),
    * and every run is `depth` sequential join+checkpoint rounds. The
    * closure is a pure function of the (immutable) graph instance, so it
    * is computed once and pinned; declared queries whose RESULT is the
    * closure itself (g09/g10 and [[frontierEdges]]) deliberately do NOT
    * route through the memo — only internal re-derivations do.
    * GraphFrames is a case class over Datasets (reference equality), so a
    * rebuilt graph is a different key, never a stale hit.
    */
  private val bfsClosures =
    graft.SessionMemo.checkpointed[(GraphFrames, Long, Int, Option[Long])](
      "graph_tables.bfs_closures")(k => inputsOf(k._1))

  def traverseBfsMemo(
      g: GraphFrames,
      start: Long,
      depth: Int,
      minWeight: Option[Long] = None): DataFrame = {
    val bound = math.min(math.max(depth, 0), Limits.MaxTraversalDepth)
    bfsClosures(g.nodes.sparkSession, Some((g, start, bound, minWeight)))(
      traverseBfs(g, start, bound, minWeight))
  }

  /** Collect the BFS closure from `start` (depth-bounded) into an
    * [[InMemoryGraph]]. The reference's strongest-path / DFS answers are
    * *defined by* sequential visit order + the 50 000-visit budget
    * (graph.rs:858-917), so the distributed engine's job is to deliver the
    * bounded reachable subgraph and hand it to the identical sequential
    * algorithm (SURVEY §4.3.2). `maxEdges` guards the driver against an
    * unexpectedly dense closure — over-budget collections fail loudly
    * rather than OOM the driver.
    */
  def collectSubgraph(
      g: GraphFrames,
      start: Long,
      depth: Int = Limits.MaxTraversalDepth,
      maxEdges: Long = 5000000L): InMemoryGraph = {
    val reachable = traverseBfsMemo(g, start, depth).select("node_id")
    val sub = g.edges.join(reachable, g.edges("src") === reachable("node_id"))
      .select(col("src"), col("dst"), col("weight"))
    val nEdges = sub.count()
    require(nEdges <= maxEdges, s"subgraph too dense to collect: $nEdges > $maxEdges edges")

    val mem = new InMemoryGraph
    val nodeRows = g.nodes
      .join(
        sub.select(col("src").as("node_id"))
          .union(sub.select(col("dst").as("node_id")))
          .union(reachable).distinct(),
        Seq("node_id"))
      .orderBy("node_id")
      .collect()
    nodeRows.foreach(r => mem.importNode(Node(r.getLong(0), r.getLong(1))))
    sub.collect().foreach(r => mem.insertEdge(r.getLong(0), r.getLong(1), r.getLong(2)))
    mem
  }

  /** Budgeted max-weight simple path (graph.rs:679-716): bounded subgraph
    * collect + the exact sequential DFS. Returns (step, node_id) rows.
    */
  def strongestPath(g: GraphFrames, start: Long, end: Long): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val mem = collectSubgraph(g, start)
    // The end node must exist in the full graph even if unreachable —
    // reference returns None only when an endpoint is missing entirely.
    val endExists = !g.nodes.filter(col("node_id") === end).isEmpty
    val path =
      if (!endExists) Vector.empty[Long]
      else mem.strongestPath(start, end).getOrElse(Vector.empty)
    path.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("step", "node_id")
  }

  /** DFS visit order (graph.rs:796-855) over the collected bounded closure:
    * (step, node_id) rows.
    */
  def traverseDfs(g: GraphFrames, start: Long, depth: Int): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val mem = collectSubgraph(g, start, depth)
    val path = mem.traverseDfs(start, depth).map(_.path).getOrElse(Vector.empty)
    path.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("step", "node_id")
  }
}
