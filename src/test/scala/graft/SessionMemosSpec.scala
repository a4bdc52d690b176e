package graft

import org.scalatest.funsuite.AnyFunSuite

/** The memo caches' session lifecycle (r10 verdict #5): the per-session
  * probe/pair/codebook/graph memos must be evictable — a closed logical
  * session leaves no cached entries and no pinned RDDs behind — without
  * touching any other session's entries.
  */
class SessionMemosSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("evict(session) drops that session's memo entries, unpins its RDDs, spares others") {
    // NOTE the thresholds differ per session: Spark's CacheManager is
    // CONTEXT-wide and plan-keyed, so two sessions persisting
    // structurally-equal plans share one cache entry — an eviction test
    // must give each session a distinct plan to observe isolation.
    def pairs(s: org.apache.spark.sql.SparkSession, threshold: Double): Unit =
      queries.AnnPack.cosineNearDupBlocked(
        Tables.embeddings(s, dir), threshold = threshold,
        cacheKey = Some(s"$dir/embeddings")).collect()
    pairs(spark, 0.45)
    val sharedEntries = SessionMemos.entries(spark, "ann")
    assert(sharedEntries > 0)

    // a second logical session on the same context builds its own memos.
    // RDD accounting is by ID SET, not global count: the async
    // ContextCleaner may unpersist OTHER suites' unreferenced leftovers
    // at any moment, so a count compare is flaky — only the ids this
    // session pinned are the claim under test (they cannot be cleaned
    // while the memo holds them).
    val s2 = spark.newSession()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    pairs(s2, 0.5)
    graph.GraphTables.commonNeighbors(graph.GraphTables.forDir(s2, dir),
      cacheKey = Some(s"$dir#und")).collect()
    assert(SessionMemos.entries(s2, "ann") > 0)
    assert(SessionMemos.entries(s2, "graph_tables") === 2) // graph tables + undirected snapshot
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
    assert(pinned.nonEmpty)

    SessionMemos.evict(s2)

    assert(SessionMemos.entries(s2, "ann") === 0)
    assert(SessionMemos.entries(s2, "graph_tables") === 0)
    assert(SessionMemos.entries(s2, "pipeline") === 0)
    // every RDD the second session pinned is gone again
    val survivors = spark.sparkContext.getPersistentRDDs.keySet.intersect(pinned)
    assert(survivors.isEmpty, s"RDDs still pinned after evict: $survivors")
    // and the shared session's memos are untouched
    assert(SessionMemos.entries(spark, "ann") === sharedEntries)

    // evicted ≠ broken: the next call recomputes and re-memoizes
    pairs(s2, 0.5)
    assert(SessionMemos.entries(s2, "ann") > 0)
    SessionMemos.evict(s2)
  }

  test("invalidate(dir) drops every memo keyed on that dir and releases what it pinned") {
    val s5 = spark.newSession()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    for (name <- Seq("g22_common_neighbors", "g21_triangle_counts"))
      queries.GraphPack.defs.find(_.name == name).get.run(s5, dir).collect()
    // graph tables, g22's undirected snapshot, g21's triangle table
    assert(SessionMemos.entries(s5, "graph_tables") === 3)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
    assert(pinned.nonEmpty)
    // plus a BFS closure keyed on the dir's graph (its per-hop
    // checkpoints are not memo-owned, so it stays out of `pinned`)
    queries.GraphPack.defs.find(_.name == "g18b_traverse_dfs_validity").get.run(s5, dir).collect()
    assert(SessionMemos.entries(s5, "graph_tables") === 4)

    graph.GraphTables.invalidate(s5, dir)

    assert(SessionMemos.entries(s5, "graph_tables") === 0)
    val survivors = spark.sparkContext.getPersistentRDDs.keySet.intersect(pinned)
    assert(survivors.isEmpty, s"RDDs still pinned after invalidate: " +
      survivors.map(spark.sparkContext.getPersistentRDDs(_).toDebugString))
    // and the dir serves again, from a fresh build
    queries.GraphPack.defs.find(_.name == "g22_common_neighbors").get.run(s5, dir).collect()
    assert(SessionMemos.entries(s5, "graph_tables") === 2)
    SessionMemos.evict(s5)
  }

  test("phrase-merge memo: one induction per (session, corpus, rounds); evictable") {
    // kept out of the RDD-id-set test above: the induction's per-round
    // localCheckpoints pin RDDs the memo evictor does not own (they are
    // released by the ContextCleaner once unreferenced), so the
    // strict survivors assertion does not apply to this cache.
    val s3 = spark.newSession()
    val docs = Tables.documents(s3, dir)
    val key = Some(s"$dir/documents")
    val (m1, t1) = queries.PipelinePack.phraseMergeMemo(docs, rounds = 1, cacheKey = key)
    t1.collect()
    val entries = SessionMemos.entries(s3, "pipeline")
    assert(entries > 0)
    val (m2, t2) = queries.PipelinePack.phraseMergeMemo(docs, rounds = 1, cacheKey = key)
    // the SAME cached instances — the loop ran once for both consumers
    assert((m1 eq m2) && (t1 eq t2))
    assert(SessionMemos.entries(s3, "pipeline") === entries)
    SessionMemos.evict(s3)
    assert(SessionMemos.entries(s3, "pipeline") === 0)
  }

  test("pq index memo: one encode per (session, corpus, geometry, codebook); evictable") {
    // the r12 memo behind the PQ family: e08/e08b/e08d-baseline/e10/e10b
    // must serve from ONE encoded-codes build. Key identity is observed
    // through entry count (the tuple's DataFrames are built inside the
    // memo, so instance equality is the getOrElseUpdate contract).
    val s4 = spark.newSession()
    val emb = Tables.embeddings(s4, dir)
    val dim = emb.selectExpr("size(embedding)").head.getInt(0)
    val key = Some(s"$dir/embeddings#memospec")
    val before = SessionMemos.entries(s4, "ann")
    queries.AnnPack.pqTopK(emb, dim, cacheKey = key).collect()
    val after1 = SessionMemos.entries(s4, "ann")
    assert(after1 > before)
    queries.AnnPack.pqTopK(emb, dim, cacheKey = key).collect()
    // a second keyed call adds NO entry — the index was reused
    assert(SessionMemos.entries(s4, "ann") === after1)
    SessionMemos.evict(s4)
    assert(SessionMemos.entries(s4, "ann") === 0)
  }

  test("arm is idempotent per context") {
    val before = SessionMemos.armedCount
    SessionMemos.arm(spark)
    SessionMemos.arm(spark.newSession())
    // the shared context was already armed by the memoizing entries above
    // (and by prior suites); re-arming from any session on it adds nothing
    assert(SessionMemos.armedCount === math.max(before, 1))
  }
}
