package graft.tools

import graft.{Sessions, SparkEntry, Tables}
import org.apache.spark.sql.DataFrame

/** 10x plan-stability rehearsal (PLANS.md addendum): runs the
  * scale-critical operators against a [[ScaleUp]]-generated directory and
  * asserts the plans keep the shapes the specs pin at small SF — the
  * claim under test is not correctness (the small-SF oracles own that)
  * but that 10x the data does not flip a broadcast into a shuffle, break
  * exchange sharing, or bend a candidate pipeline toward quadratic.
  *
  * Prints one PASS/FAIL line per invariant plus a JSON summary; exits
  * non-zero on any FAIL.
  */
object ScaleRehearsal {

  /** Execute the dataframe distributed (no driver collect) and return the
    * FINAL adaptive plan, where AQE's join-strategy and reuse decisions
    * are resolved.
    */
  private def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    val s = df.queryExecution.executedPlan.toString
    val i = s.indexOf("== Initial Plan ==")
    if (i >= 0) s.substring(0, i) else s
  }

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/graft_sf1")
    val baseDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    // must match the ScaleUp factor that produced `dir` — the candidate
    // linearity band is factor +/- 20%
    val factor = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    val spark = Sessions.get()
    var failures = List.empty[String]
    def check(name: String)(cond: Boolean, detail: => String): Unit =
      if (cond) println(s"PASS $name")
      else { failures ::= name; println(s"FAIL $name: $detail") }

    try {
      // 1. as-of at 10x: still composed as union + keyed window — no join
      // operator for AQE to re-strategize, and the hash-exchange count is
      // IDENTICAL to the small-SF plan (q22 carries 2: the purchase
      // pre-aggregation plus the union's keyed window; the raw operator's
      // single-exchange shape is pinned by AsOfJoinSpec)
      val asofPlan = finalPlan(SparkEntry.queries("q22_asof_join")(spark, dir))
      val asofBase = finalPlan(SparkEntry.queries("q22_asof_join")(spark, baseDir))
      def hashExchanges(p: String): Int = "Exchange hashpartitioning".r.findAllIn(p).size
      check("asof_no_join")(!asofPlan.contains("Join"), asofPlan.take(1500))
      check("asof_exchange_count_stable")(
        hashExchanges(asofPlan) == hashExchanges(asofBase),
        s"10x plan has ${hashExchanges(asofPlan)} hash exchanges vs base ${hashExchanges(asofBase)}")

      // 2. e04 at 10x: the raw synthetic corpus is uniform (rotated
      // copies stay uniform), so the adaptive sizing probe must measure
      // nil pruning and route to the broadcast all-pairs scan (r9): ONE
      // nested-loop term over the broadcast corpus, none of the blocked
      // path's shuffle-join machinery, and never a cartesian — the
      // regime where blocking lost to its own brute baseline in r8.
      val e04Plan = finalPlan(SparkEntry.queries("e04_cosine_near_dup_blocked")(spark, dir))
      check("e04_fallback_single_bnlj")(
        "BroadcastNestedLoopJoin".r.findAllIn(e04Plan).size == 1, e04Plan.take(1500))
      check("e04_no_cartesian")(!e04Plan.contains("CartesianProduct"), e04Plan.take(1500))
      check("e04_fallback_no_shuffle_join")(
        !e04Plan.contains("SortMergeJoin") && !e04Plan.contains("ShuffledHashJoin"),
        e04Plan.take(1500))

      // 2b. e04c (clustered corpus, adaptive cells) at 10x: the BLOCKED
      // regime's shape contract — candidates through equi-joins only,
      // the one quadratic term centroid-bounded, the assignment exchange
      // shared, and the corpus derivation must not push AQE into a
      // cartesian at 960k derived vectors
      val e04cPlan = finalPlan(SparkEntry.queries("e04c_cosine_near_dup_clustered")(spark, dir))
      check("e04c_no_cartesian")(!e04cPlan.contains("CartesianProduct"), e04cPlan.take(1500))
      check("e04c_centroid_bounded_bnlj")(
        "BroadcastNestedLoopJoin".r.findAllIn(e04cPlan).size <= 3, e04cPlan.take(1500))
      check("e04c_reused_exchange")(e04cPlan.contains("ReusedExchange"), e04cPlan.take(1500))

      // 3. q02 at 10x: the dimension joins stay broadcast against the
      // 10x fact side
      val q02Plan = finalPlan(SparkEntry.queries("q02_revenue_by_nation")(spark, dir))
      check("q02_dims_broadcast")(q02Plan.contains("BroadcastHashJoin"), q02Plan.take(1500))

      // 4. d03 candidate growth: the scaled corpus is `factor` isomorphic
      // token-disjoint copies, so LSH candidates must grow linearly with
      // the copies (~factor x) and stay far under the pair space
      val candBase = graft.queries.PipelinePack.lshCandidates(
        Tables.documents(spark, baseDir)).count()
      val nBig = Tables.documents(spark, dir).count()
      val candBig = graft.queries.PipelinePack.lshCandidates(
        Tables.documents(spark, dir)).count()
      val ratio = candBig.toDouble / math.max(candBase, 1L)
      val pairSpace = nBig * (nBig - 1) / 2
      check("d03_candidates_linear")(ratio >= factor * 0.8 && ratio <= factor * 1.2,
        s"candidates $candBase -> $candBig (x$ratio) — expected ~${factor}x")
      check("d03_candidates_subquadratic")(candBig * 100 < pairSpace,
        s"$candBig candidates vs pair space $pairSpace")

      // 4b. d19/d20 at 10x (r9 additions): the cross-corpus banded join
      // and the span-coverage inverted index must stay pure equi-join
      // pipelines — scaled token-renamed copies can't push either into
      // a product or nested loop
      val d19Plan = finalPlan(SparkEntry.queries("d19_fuzzy_decontamination")(spark, dir))
      check("d19_no_product")(
        !d19Plan.contains("CartesianProduct") && !d19Plan.contains("BroadcastNestedLoopJoin"),
        d19Plan.take(1500))
      val d20Plan = finalPlan(SparkEntry.queries("d20_dup_span_coverage")(spark, dir))
      check("d20_no_product")(
        !d20Plan.contains("CartesianProduct") && !d20Plan.contains("BroadcastNestedLoopJoin"),
        d20Plan.take(1500))

      // 4c. d31 span REMOVAL at 10x (r12): same skeleton as d20, plus
      // the removal contract under the band-replicated corpus — every
      // non-first band copy is gram-for-gram owned by band 0, so rows
      // out = rows in (one per doc), removal stays position-bounded
      // (n_removed <= n_tokens on every row), and the plan stays
      // product-free. A join-key bug (gram collision, doc_id overflow)
      // breaks the bound loudly.
      val d31Df = SparkEntry.queries("d31_dup_span_removal")(spark, dir)
      val d31Plan = finalPlan(d31Df)
      check("d31_no_product")(
        !d31Plan.contains("CartesianProduct") && !d31Plan.contains("BroadcastNestedLoopJoin"),
        d31Plan.take(1500))
      val d31N = Tables.documents(spark, dir).count()
      val d31Rows = d31Df.count()
      check("d31_rows_total")(d31Rows == d31N, s"$d31Rows rows for $d31N docs")
      val d31Bad = {
        import org.apache.spark.sql.functions.col
        d31Df.filter(col("n_removed") > col("n_tokens") ||
          col("n_removed") < 0).count()
      }
      check("d31_removal_bounded")(d31Bad == 0L,
        s"$d31Bad rows with n_removed outside [0, n_tokens]")
      val d31Removed = d31Df.agg(org.apache.spark.sql.functions.sum("n_removed"))
        .head.getLong(0)

      // 4d. d32 incremental ingest dedup at 10x (r12): the ingest-cost
      // claim — the delta meets the corpus only through the (band, sig)
      // index, so candidate volume grows with the delta (~factor x under
      // the token-disjoint copies: cross-copy bands share no shingles),
      // stays far under the delta x corpus pair space, and every delta
      // doc gets exactly one decision row. Candidates measured on the
      // PRODUCTION derivation (PipelinePack.incrementalCandidates).
      val d32Df = SparkEntry.queries("d32_incremental_ingest_dedup")(spark, dir)
      val d32Plan = finalPlan(d32Df)
      check("d32_no_product")(
        !d32Plan.contains("CartesianProduct") && !d32Plan.contains("BroadcastNestedLoopJoin"),
        d32Plan.take(1500))
      val d32Delta = Tables.documents(spark, dir)
        .filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 7).count()
      val d32Rows = d32Df.count()
      check("d32_rows_total")(d32Rows == d32Delta,
        s"$d32Rows decision rows for $d32Delta delta docs")
      val d32CandBase = graft.queries.PipelinePack
        .incrementalCandidates(Tables.documents(spark, baseDir)).count()
      val d32CandBig = graft.queries.PipelinePack
        .incrementalCandidates(Tables.documents(spark, dir)).count()
      val d32Ratio = d32CandBig.toDouble / math.max(d32CandBase, 1L)
      val d32N = Tables.documents(spark, dir).count()
      val d32PairSpace = d32Delta * (d32N - 1)
      check("d32_candidates_linear")(
        d32Ratio >= factor * 0.8 && d32Ratio <= factor * 1.2,
        s"candidates $d32CandBase -> $d32CandBig (x$d32Ratio) — expected ~${factor}x")
      check("d32_candidates_subquadratic")(d32CandBig * 100 < d32PairSpace,
        s"$d32CandBig candidates vs delta-pair space $d32PairSpace")

      // 4e. d36 — d32 served from the PERSISTED signature index (r13):
      // the build/probe split's two scale claims. (1) Serving LOADS the
      // index: the first run may pay the one-time base build, but a
      // second probe over the same corpus performs ZERO builds — pure
      // metadata + bucketed table scan (the "loaded, not rebuilt"
      // contract). (2) Probe cost scales with the DELTA: candidates from
      // the served index grow ~factor x, exactly the d32 linearity band,
      // and the decision output stays one row per delta doc, identical
      // to the recomputed path's.
      val d36CandBase = graft.queries.PipelinePack
        .indexedCandidates(spark, baseDir).count()
      val buildsAfterFirst = graft.sources.SignatureIndex.buildCount
      val d36CandBig = graft.queries.PipelinePack
        .indexedCandidates(spark, dir).count()
      // warm re-probe at 10x: index must serve, never rebuild
      val d36CandBig2 = graft.queries.PipelinePack
        .indexedCandidates(spark, dir).count()
      val buildsWarm = graft.sources.SignatureIndex.buildCount - buildsAfterFirst
      check("d36_index_loaded_not_rebuilt")(buildsWarm <= 1 && d36CandBig2 == d36CandBig,
        s"$buildsWarm builds across the 10x probe + warm re-probe (want <=1: the one-time base build)")
      val d36Ratio = d36CandBig.toDouble / math.max(d36CandBase, 1L)
      check("d36_probe_scales_with_delta")(
        d36Ratio >= factor * 0.8 && d36Ratio <= factor * 1.2,
        s"indexed candidates $d36CandBase -> $d36CandBig (x$d36Ratio) — expected ~${factor}x")
      val d36Df = SparkEntry.queries("d36_indexed_ingest_dedup")(spark, dir)
      val d36Mismatch = d36Df.unionByName(d32Df).groupBy("doc_id")
        .agg(org.apache.spark.sql.functions.countDistinct(
          org.apache.spark.sql.functions.struct("dup_of", "is_new")).as("v"))
        .filter(org.apache.spark.sql.functions.col("v") =!= 1).count()
      check("d36_decisions_match_d32")(d36Mismatch == 0L,
        s"$d36Mismatch delta docs decided differently by the served index")
      // r14: the bucket count is DERIVED from measured index bytes (the
      // shardCountFor discipline), so rows/bucket stays bounded by the
      // target bucket size however the corpus grows — the receipt the
      // fixed `buckets = 32` never had
      val d36Path = s"/tmp/graft_sigindex/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}_m10r7"
      val d36Meta = graft.sources.SignatureIndex.readMeta(d36Path).get
      val d36IdxRows = graft.sources.SignatureIndex.serve(spark, d36Path).count()
      val estRow = graft.sources.SignatureIndex.EstSigRowBytes // one source of truth
      check("sig_index_buckets_derived_from_bytes")(
        d36Meta.buckets == graft.sources.VersionedIndex.bucketsFor(d36IdxRows * estRow),
        s"meta.buckets ${d36Meta.buckets} vs derived " +
          s"${graft.sources.VersionedIndex.bucketsFor(d36IdxRows * estRow)} for $d36IdxRows rows")
      check("sig_index_rows_per_bucket_bounded")(
        d36IdxRows * estRow <= d36Meta.buckets.toLong * (64L << 20),
        s"$d36IdxRows rows x ${estRow}B over ${d36Meta.buckets} buckets exceeds the 64MB target")
      // r16 verdict #7: the `_files` discipline holds for the SIGNATURE
      // leg too — the files a serve actually opens are EXACTLY the
      // committed listing's (bucketed root files + any plain segments;
      // `_stats` is its own table), so no warm index path depends on
      // directory discovery. inputFiles reads the scan's resolved
      // FileIndex — what the plan will open, not what the dir holds.
      locally {
        val v = graft.sources.SignatureIndex.currentVersion(d36Path).get
        graft.sources.VersionedIndex.readFiles(d36Path, v) match {
          case Some(listing) =>
            val vdir = java.nio.file.Paths.get(d36Path, v).toString
            val expected = listing.filterNot(_.startsWith("_stats/"))
              .map(f => s"$vdir/$f").toSet
            val split = graft.sources.SignatureIndex.serveSplit(spark, d36Path)
            val opened = (split.bucketed.inputFiles ++
              split.plain.toSeq.flatMap(_.inputFiles))
              .map(_.stripPrefix("file:")).toSet
            check("sig_serve_files_equal_listing")(opened == expected,
              s"opened ${opened.size} files vs listing ${expected.size}; " +
                s"diff ${(opened diff expected).take(2)} / ${(expected diff opened).take(2)}")
          case None =>
            check("sig_serve_files_equal_listing")(cond = false,
              "committed version carries no _files listing")
        }
      }

      // 4e2. d37 — the composed incremental ingest gate (r13): one
      // decision row per delta doc at 10x, every gate non-vacuous (a
      // vacuous branch means the fixture stopped exercising the
      // composition), and no product anywhere — the dedup leg's
      // delta-linearity is the d32/d36 invariant above; the other legs
      // are delta-bounded joins by construction (eval side benchmark-
      // sized, quota rank windowed per source over survivors only).
      // r15 verdict #6: PRICE the one-time cold build separately from
      // the warm gate — the committed bench medians are warm (the
      // warm-up pass absorbs the build), so a regression in the cold
      // path is invisible without its own receipt. The index path is
      // cleared first: cold means cold, whatever ran earlier.
      val d37IdxPath = s"/tmp/graft_sigindex/" +
        s"${dir.replaceAll("[^A-Za-z0-9._-]", "_")}_m10r7e0-noeval"
      locally {
        val root = java.nio.file.Paths.get(d37IdxPath)
        if (java.nio.file.Files.exists(root))
          graft.sources.VersionedIndex.walkAll(root).reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      val d37ColdT0 = System.nanoTime()
      val d37Df = SparkEntry.queries("d37_incremental_manifest")(spark, dir)
      val d37Plan = finalPlan(d37Df)
      check("d37_no_product")(
        !d37Plan.contains("CartesianProduct") && !d37Plan.contains("BroadcastNestedLoopJoin"),
        d37Plan.take(1500))
      val d37Agg = d37Df.agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("is_new"),
        org.apache.spark.sql.functions.sum("contaminated"),
        org.apache.spark.sql.functions.sum("admitted"),
        org.apache.spark.sql.functions.sum("in_training_set")).head
      val d37ColdMs = (System.nanoTime() - d37ColdT0) / 1000000L
      val (d37Rows, d37New, d37Cont, d37Adm, d37Train) =
        (d37Agg.getLong(0), d37Agg.getLong(1), d37Agg.getLong(2),
          d37Agg.getLong(3), d37Agg.getLong(4))
      check("d37_one_decision_per_delta_doc")(d37Rows == d32Delta,
        s"$d37Rows manifest rows for $d32Delta delta docs")
      // in_training is NOT required non-zero here: ScaleUp's copies are
      // deliberately token-disjoint, so copy-band docs fail the 'en'
      // language gate by construction and can crowd the per-source quota
      // — the training bit's non-vacuity is gated at the correctness SF
      // by the d37 oracle counts (15 of 50 at sf0.01)
      check("d37_gates_nonvacuous")(
        d37New > 0 && d37New < d37Rows && d37Cont > 0 &&
          d37Adm > 0 && d37Adm < d37New && d37Train <= d37Adm,
        s"is_new $d37New / contaminated $d37Cont / admitted $d37Adm / " +
          s"in_training $d37Train of $d37Rows")
      // r14: the gate rides the persisted infrastructure — a re-run over
      // the same corpus performs ZERO signature-index builds (probe +
      // maintained stats read, metadata only) and decides identically
      val d37BuildsAfter = graft.sources.SignatureIndex.buildCount
      val d37WarmT0 = System.nanoTime()
      val d37Agg2 = SparkEntry.queries("d37_incremental_manifest")(spark, dir).agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("is_new"),
        org.apache.spark.sql.functions.sum("contaminated"),
        org.apache.spark.sql.functions.sum("admitted"),
        org.apache.spark.sql.functions.sum("in_training_set")).head
      val d37WarmMs = (System.nanoTime() - d37WarmT0) / 1000000L
      check("d37_gate_loaded_not_rebuilt")(
        graft.sources.SignatureIndex.buildCount == d37BuildsAfter && d37Agg2 == d37Agg,
        s"builds ${graft.sources.SignatureIndex.buildCount - d37BuildsAfter}, " +
          s"decisions $d37Agg2 vs $d37Agg")
      // cold pays the one-time build; warm must never exceed it (the
      // split costs ride the receipt for round-over-round comparison)
      check("d37_warm_not_above_cold")(d37WarmMs <= d37ColdMs,
        s"warm ${d37WarmMs}ms vs cold ${d37ColdMs}ms")

      // 4f. d34 shard-count contract (r13): shards-as-parallelism means
      // rows/shard is the per-task sort volume — the SIZED form must
      // keep it bounded as the corpus grows (shards scale with bytes,
      // mean rows/shard stays ~constant) and the md5 assignment must
      // stay balanced (max/mean bounded) so no shard becomes the
      // straggler task. Fixture-scale target: base bytes / 32, so the
      // base corpus derives ~32 shards and the 10x corpus ~10x that.
      import org.apache.spark.sql.functions.{count => fCount, lit => fLit, max => fMax}
      val d34Target = math.max(1L,
        Tables.documents(spark, baseDir)
          .agg(org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.octet_length(
              org.apache.spark.sql.functions.col("text"))).cast("long"))
          .head.getLong(0) / 32L)
      def shardStats(docsDir: String): (Long, Double, Long) = {
        val perShard = graft.queries.PipelinePack
          .trainingShardShuffleSized(Tables.documents(spark, docsDir),
            targetShardBytes = d34Target, minShards = 8)
          .groupBy("shard").agg(fCount(fLit(1)).as("n"))
        val r = perShard.agg(fCount(fLit(1)), org.apache.spark.sql.functions.avg("n"),
          fMax("n")).head
        (r.getLong(0), r.getDouble(1), r.getLong(2))
      }
      val (d34ShardsBase, d34MeanBase, _) = shardStats(baseDir)
      val (d34Shards10x, d34Mean10x, d34Max10x) = shardStats(dir)
      // shards track measured BYTES, not row count: ScaleUp's rewritten
      // copy tokens are shorter than the originals', so the 10x corpus
      // carries ~7-8x the bytes — the contract is shards == the formula
      // on what the corpus actually weighs
      val d34Bytes10x = Tables.documents(spark, dir)
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.octet_length(
            org.apache.spark.sql.functions.col("text"))).cast("long"))
        .head.getLong(0)
      val d34Want10x = graft.queries.PipelinePack
        .shardCountFor(d34Bytes10x, d34Target, minShards = 8)
      check("d34_shards_scale_with_corpus")(
        d34Shards10x == d34Want10x && d34Shards10x >= d34ShardsBase * 4,
        s"shards $d34ShardsBase -> $d34Shards10x at ${factor}x " +
          s"(formula says $d34Want10x from $d34Bytes10x bytes)")
      check("d34_rows_per_shard_bounded")(
        d34Mean10x <= d34MeanBase * 1.3 + 1 && d34Max10x <= 2 * d34Mean10x + 8,
        s"mean rows/shard $d34MeanBase -> $d34Mean10x, max $d34Max10x at 10x")

      // 5. s04 stream-stream interval join's batch twin at 10x: the
      // user_id equi-key must keep the join a sort-merge/shuffled-hash
      // join — the interval predicate must never degrade it to a
      // nested-loop or cartesian plan
      val s04Plan = finalPlan(SparkEntry.queries("s04_click_attribution")(spark, dir))
      check("s04_equi_join_not_nested_loop")(
        s04Plan.contains("Join") && !s04Plan.contains("CartesianProduct") &&
          !s04Plan.contains("BroadcastNestedLoopJoin"),
        s04Plan.take(1500))

      // 6. g21 triangles at 10x: joins only (no cartesian), and the
      // degree-ordered orientation keeps the wedge join's hottest key —
      // the max FORWARD degree — within the O(sqrt E) bound that makes
      // the plan skew-proof (vs raw degree, which a hub node can blow up)
      import org.apache.spark.sql.functions._
      // RAW triangleCounts, not the g21 entry: the entry serves from the
      // r12 triangle memo, whose persisted table would print as a cached
      // scan and make the no-cartesian check vacuous
      val g21Plan = finalPlan(
        graft.graph.GraphTables.triangleCounts(graft.graph.GraphTables.forDir(spark, dir)))
      check("g21_no_cartesian")(!g21Plan.contains("CartesianProduct"), g21Plan.take(1500))
      // measured on the PRODUCTION derivation (GraphTables.forwardEdges),
      // so the invariant tracks the orientation triangleCounts actually
      // joins on — a private re-derivation here could silently diverge
      val g = graft.graph.GraphTables.forDir(spark, dir)
      val und = graft.graph.GraphTables.undirectedSimpleEdges(g).localCheckpoint()
      val undN = und.count()
      val maxFwd = graft.graph.GraphTables.forwardEdges(und)
        .groupBy("lo").agg(count(lit(1)).as("f"))
        .agg(max("f")).head.getLong(0)
      check("g21_forward_degree_sqrt_bound")(
        maxFwd <= 2 * math.sqrt(2.0 * undN).ceil.toLong + 1,
        s"max forward degree $maxFwd vs sqrt bound on $undN undirected edges")

      // 7. d14 repetition signals: a pure projection — the only exchange
      // in the plan is the final presentation sort (rangepartitioning);
      // no hash exchange may appear at any corpus size
      val d14Plan = finalPlan(SparkEntry.queries("d14_repetition_signals")(spark, dir))
      check("d14_projection_only")(
        !d14Plan.contains("Exchange hashpartitioning"), d14Plan.take(1500))

      // 8. certify / state-hash at 10x (round-6 verdict #6): the Merkle
      // state hash must stay driver-light — leaves are hashed in
      // executors and only 32 bytes per non-empty key-range block cross
      // to the driver. Leaf count is bounded by the data (3 sections x
      // ceil(maxKey/span) blocks), NEVER by row count or partitioning:
      // at a billion nodes and the production span that is ~0.5 MB of
      // driver ingress where the flat export hash would stream every row.
      val span = graft.verify.Canonical.MerkleBlockSpan
      val t0 = System.nanoTime()
      val (root, leaves) = graft.verify.DistributedStateHash.merkleStateHashWithStats(g, span)
      val hashSecs = (System.nanoTime() - t0) / 1e9
      val nNodes10x = g.nodes.count()
      val leafBound = 3 * (nNodes10x / span + 2)
      val driverBytes = leaves * 32
      check("certify_merkle_leaves_bounded")(leaves > 0 && leaves <= leafBound,
        s"$leaves leaves vs bound $leafBound (span $span, $nNodes10x nodes)")
      check("certify_root_well_formed")(root.length == 32, s"${root.length} bytes")
      // multi-block config: a span that forces many leaves must still
      // respect the same bound — the fold's block boundaries are a
      // function of ids, so shrinking the span only multiplies leaves
      val (_, leavesFine) = graft.verify.DistributedStateHash.merkleStateHashWithStats(g, 1024L)
      check("certify_merkle_many_blocks")(
        leavesFine > leaves && leavesFine <= 3 * (nNodes10x / 1024L + 2),
        s"$leavesFine fine leaves vs ${3 * (nNodes10x / 1024L + 2)}")

      // 8b. INCREMENTAL certify (r16 verdict #3): with the fine span the
      // 10x graph carries many leaves per section — a warm re-certify of
      // unchanged state must rehash ZERO of them (cost flat, pure leaf
      // fold), and after dirtying one node's range the recompute is ONE
      // leaf per affected section, not the corpus. Roots must stay
      // bit-identical to the from-scratch hash throughout.
      val inc = new graft.verify.IncrementalMerkle(span = 1024L)
      val incCold = inc.rootWithStats(g)
      val tWarm = System.nanoTime()
      val incWarm = inc.rootWithStats(g)
      val incWarmSecs = (System.nanoTime() - tWarm) / 1e9
      inc.noteNodes(Seq(1L)) // a 1-row "ingest": one node block dirty
      val tDirty = System.nanoTime()
      val incDirty = inc.rootWithStats(g)
      val incDirtySecs = (System.nanoTime() - tDirty) / 1e9
      check("certify_incremental_reuses_leaves")(
        incCold.recomputed == leavesFine && incWarm.recomputed == 0L &&
          incDirty.recomputed == 1L,
        s"cold ${incCold.recomputed}, warm ${incWarm.recomputed}, " +
          s"1-block-dirty ${incDirty.recomputed} (of $leavesFine leaves)")
      check("certify_incremental_root_stable")(
        incCold.rootHex == incWarm.rootHex && incWarm.rootHex == incDirty.rootHex,
        "incremental root drifted from the from-scratch root on unchanged state")

      // 9. e07 RHP-LSH at 10x: sub-linear retrieval must survive scale —
      // candidates keep coming from the bucket equi-join (no product
      // term), and the candidate FRACTION of the corpus (per query)
      // stays stable as the corpus grows 10x: the per-table collision
      // fraction is a geometry property (~cluster mass + 2^-B noise),
      // independent of N, so candidates grow linearly with N while the
      // corpus-scan alternative grows linearly too but with fraction
      // pinned at 100%. A fraction that JUMPS at 10x would mean the
      // bucket structure degraded (keys saturating, planes degenerate).
      import graft.queries.AnnPack
      val e07Plan = finalPlan(SparkEntry.queries("e07_ann_rhp_lsh_topk")(spark, dir))
      check("e07_no_product")(
        !e07Plan.contains("CartesianProduct") && !e07Plan.contains("BroadcastNestedLoopJoin"),
        e07Plan.take(1500))
      def rhpStats(d: String): (Long, Long) = {
        val emb = Tables.embeddings(spark, d)
        val dim = emb.select(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("embedding"))).head.getInt(0)
        val cv = AnnPack.clusteredEmbeddings(emb)
        (AnnPack.rhpCandidates(cv, dim).count(), cv.count())
      }
      val (e07CandBase, e07NBase) = rhpStats(baseDir)
      val (e07Cand10x, e07N10x) = rhpStats(dir)
      val fracBase = e07CandBase.toDouble / (e07NBase * AnnPack.NumQueries)
      val frac10x = e07Cand10x.toDouble / (e07N10x * AnnPack.NumQueries)
      check("e07_candidates_sublinear_fraction")(frac10x < 0.5,
        s"10x candidate fraction $frac10x — retrieval no better than a half-scan")
      check("e07_candidate_fraction_stable")(frac10x <= fracBase * 1.5 + 0.02,
        s"fraction grew $fracBase -> $frac10x at ${factor}x")

      // 12. e08 PQ at 10x: the compressed-domain path keeps its shape —
      // no product term — and the ENCODE is complete: exactly one code
      // per (vector, subspace) at 10x the corpus (a join miss or an
      // argmin tie bug would drop or duplicate codes; completeness is
      // what makes the ADC scan exhaustive over codes).
      val e08Plan = finalPlan(SparkEntry.queries("e08_ann_pq_topk")(spark, dir))
      check("e08_no_product")(
        !e08Plan.contains("CartesianProduct") && !e08Plan.contains("BroadcastNestedLoopJoin"),
        e08Plan.take(1500))
      val (pqN, pqCodes, pqSubspaces) = {
        val emb = Tables.embeddings(spark, dir)
        val dim = emb.select(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("embedding"))).head.getInt(0)
        val cv = AnnPack.clusteredEmbeddings(emb)
        (cv.count(), AnnPack.pqIndex(cv, dim)._3.count(), dim / AnnPack.PqSubDim)
      }
      check("e08_encode_complete")(
        pqCodes == pqN * pqSubspaces,
        s"$pqCodes codes for $pqN vectors x $pqSubspaces subspaces")

      // 12b. e10 IVF-PQ at 10x (r12): the coarse cells keep bounding the
      // scan — the candidate fraction of (queries x corpus) is a cell-
      // geometry property (~nprobe/cells on balanced cells) independent
      // of N, so it must stay flat as the corpus grows; a fraction that
      // jumps means cell assignment collapsed (centroid ties, saturated
      // d2) and the PQ scan degenerated toward the full corpus.
      val e10Plan = finalPlan(SparkEntry.queries("e10_ann_ivfpq_topk")(spark, dir))
      check("e10_no_product")(
        !e10Plan.contains("CartesianProduct") && !e10Plan.contains("BroadcastNestedLoopJoin"),
        e10Plan.take(1500))
      def ivfPqStats(d: String): (Long, Long) = {
        val emb = Tables.embeddings(spark, d)
        val cv = AnnPack.clusteredEmbeddings(emb)
        (AnnPack.ivfPqCandidates(cv).count(), cv.count())
      }
      val (e10CandBase, e10NBase) = ivfPqStats(baseDir)
      val (e10Cand10x, e10N10x) = ivfPqStats(dir)
      val e10FracBase = e10CandBase.toDouble / (e10NBase * AnnPack.NumQueries)
      val e10Frac10x = e10Cand10x.toDouble / (e10N10x * AnnPack.NumQueries)
      check("e10_candidates_sublinear_fraction")(e10Frac10x < 0.5,
        s"10x candidate fraction $e10Frac10x — cell bound no better than a half-scan")
      check("e10_candidate_fraction_stable")(e10Frac10x <= e10FracBase * 1.5 + 0.02,
        s"fraction grew $e10FracBase -> $e10Frac10x at ${factor}x")

      // 12b. e12 — e10 served from the persisted ANN index (r13): the
      // index/serve split's receipt at 10x. First serve may pay the
      // one-time build; the re-serve must be ZERO builds (pure table
      // scans), and the served decisions must match the in-session e10
      // path row for row.
      val e12First = SparkEntry.queries("e12_ann_served_topk")(spark, dir)
      val e12Rows = e12First.count()
      val annBuilds0 = graft.sources.AnnIndex.buildCount
      val e12Again = SparkEntry.queries("e12_ann_served_topk")(spark, dir).count()
      val annWarmBuilds = graft.sources.AnnIndex.buildCount - annBuilds0
      check("e12_index_loaded_not_reencoded")(annWarmBuilds == 0 && e12Again == e12Rows,
        s"$annWarmBuilds builds on the warm re-serve")
      val e10Df = SparkEntry.queries("e10_ann_ivfpq_topk")(spark, dir)
      val e12Mismatch = e12First.unionByName(e10Df).groupBy("q_id", "rank")
        .agg(org.apache.spark.sql.functions.countDistinct("neighbor_id").as("v"))
        .filter(org.apache.spark.sql.functions.col("v") =!= 1).count()
      check("e12_matches_e10")(e12Mismatch == 0L,
        s"$e12Mismatch (q_id, rank) slots served differently by the persisted index")

      // 12b'. r15: the pcell-partitioned serving layout prunes FILE IO to
      // the probed cells' directories — at 10x the cell count outgrows
      // the nprobe x |queries| probe set, so the prune must bite: the
      // files a pcell-filtered scan reads over cells+codes, as a fraction
      // of all files, tracks the probed-pcell fraction (and is < 1)
      val e12IdxPath =
        s"/tmp/graft_annindex/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}_ivfpq"
      // per-path receipt hook (ADVICE r15): attribute the probe set to
      // THIS index's serve, immune to interleaved serves of other indexes
      // getOrElse (ADVICE r16): if the serve took the flat path (or the
      // key normalization ever drifts) the check below must fail with its
      // labeled diagnostic, not a bare NoSuchElementException
      val (e12Probed, e12Pcells) = AnnPack.probedPcellsByPath.getOrElse(
        java.nio.file.Paths.get(e12IdxPath).toAbsolutePath.toString,
        (Seq.empty[Int], 0))
      val e12IdxV = graft.sources.VersionedIndex.currentVersion(e12IdxPath).get
      def pcellFiles(tbl: String, sel: Option[Set[Int]]): Int =
        graft.sources.VersionedIndex.dataFilesRecursive(
          java.nio.file.Paths.get(e12IdxPath, e12IdxV, tbl))
          .count { case (rel, _) =>
            rel.startsWith("pcell=") && sel.forall(
              _.contains(rel.split('/').head.stripPrefix("pcell=").toInt))
          }
      val probedSet = Some(e12Probed.toSet)
      val filesRead = pcellFiles("cells", probedSet) + pcellFiles("codes", probedSet)
      val filesTotal = pcellFiles("cells", None) + pcellFiles("codes", None)
      val probedFrac = e12Probed.size.toDouble / math.max(1, e12Pcells)
      val filesFrac = filesRead.toDouble / math.max(1, filesTotal)
      check("e12_files_pruned_to_probed_cells")(
        e12Pcells > 0 && filesFrac < 1.0 &&
          filesFrac <= probedFrac * 1.5 + 0.02,
        s"read $filesRead/$filesTotal files ($filesFrac) vs probed " +
          s"${e12Probed.size}/$e12Pcells pcells ($probedFrac)")
      // r16 verdict #7 (ANN leg): every served table's resolved file set
      // equals the committed `_files` listing — serving never falls back
      // to directory discovery on a post-listing version
      locally {
        graft.sources.VersionedIndex.readFiles(e12IdxPath, e12IdxV) match {
          case Some(listing) =>
            val vdir = java.nio.file.Paths.get(e12IdxPath, e12IdxV).toString
            val expected = listing.map(f => s"$vdir/$f").toSet
            val t = graft.sources.AnnIndex.serve(spark, e12IdxPath)
            val opened = (t.vectors.inputFiles ++ t.centroids.inputFiles ++
              t.cells.inputFiles ++ t.codebook.inputFiles ++
              t.bucketedCodes.inputFiles ++
              t.plainCodes.toSeq.flatMap(_.inputFiles))
              .map(_.stripPrefix("file:")).toSet
            check("ann_serve_files_equal_listing")(opened == expected,
              s"opened ${opened.size} files vs listing ${expected.size}; " +
                s"diff ${(opened diff expected).take(2)} / ${(expected diff opened).take(2)}")
          case None =>
            check("ann_serve_files_equal_listing")(cond = false,
              "committed version carries no _files listing")
        }
      }

      // 12c. e13 — the MAINTAINED index at 10x (r14): first pass pays at
      // most one base build + one delta append; the re-serve performs
      // ZERO builds and ZERO appends (the manifest is the replay ledger)
      // and answers identically — probe cost is stable as deltas arrive
      // because serving reads the same bucketed/posting-list layout
      // whatever the segment count. The drift policy receipt rides along:
      // the 10% delta slice stays under the default retrain budget.
      val e13First = SparkEntry.queries("e13_ann_maintained_topk")(spark, dir)
      val e13Rows = e13First.count()
      val e13Path = s"/tmp/graft_annindex/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}_ivfpq_m10r7"
      val e13Builds0 = graft.sources.AnnIndex.buildCount
      val e13V = graft.sources.AnnIndex.currentVersion(e13Path)
      val e13Again = SparkEntry.queries("e13_ann_maintained_topk")(spark, dir).count()
      val e13WarmBuilds = graft.sources.AnnIndex.buildCount - e13Builds0
      check("e13_maintained_loaded_not_rebuilt")(
        e13WarmBuilds == 0 &&
          graft.sources.AnnIndex.currentVersion(e13Path) == e13V &&
          e13Again == e13Rows,
        s"builds $e13WarmBuilds, " +
          s"version $e13V -> ${graft.sources.AnnIndex.currentVersion(e13Path)}")
      val e13Frac = graft.sources.AnnIndex.appendFraction(spark, e13Path)
      check("e13_append_fraction_under_retrain_budget")(
        e13Frac > 0d && !graft.sources.AnnIndex.retrainDue(spark, e13Path),
        s"append fraction $e13Frac vs 0.5 budget")

      // 12c'. e15 — the retrain escape valve's WHY, measured at 10x on a
      // genuinely DRIFTED fixture (r14 verdict #1): the growth slice is
      // shifted +2.0 in every dimension AFTER the clustered-fixture
      // blend, a cluster far outside the day-0 geometry's span. Under
      // the frozen minority geometry the drifted queries' recall must
      // DIP (their vectors pile into the nearest day-0 cells and the
      // stale codebook collapses their codes); retrainDue must fire; and
      // the full rebuild over the grown corpus must RECOVER recall to
      // the e10b floor, switching the served version atomically with the
      // superseded snapshot GC'd and the growth batch still replay-safe.
      val (e15RecPre, e15RecPost) = {
        import graft.sources.{AnnIndex, VersionedIndex}
        import org.apache.spark.sql.functions.{col => fCol, expr => fExpr, when => fWhen, size => fSize}
        val fixRoot = java.nio.file.Files.createTempDirectory("e15drift").toString
        def deleteTree(p: String): Unit = {
          import scala.jdk.CollectionConverters._
          val root = java.nio.file.Paths.get(p)
          if (java.nio.file.Files.exists(root))
            graft.sources.VersionedIndex.walkAll(root).reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
        }
        try {
          val idxPath = s"$fixRoot/idx"
          val embRaw = Tables.embeddings(spark, dir)
          val dim = embRaw.select(fSize(fCol("embedding")).as("d")).head.getInt(0)
          val isGrowth = fCol("vec_id") % 4L =!= 0L
          val cvFix = AnnPack.clusteredEmbeddings(embRaw, Some(s"$dir/embeddings"))
            .withColumn("embedding",
              fWhen(isGrowth,
                fExpr("transform(embedding, x -> CAST(x + 2.0 AS FLOAT))"))
                .otherwise(fCol("embedding")))
          // day-0: base over the undrifted minority; growth: the drifted
          // 3x volume appended against the FROZEN geometry
          AnnIndex.ensure(spark,
            AnnPack.ivfPqArtifactsFromCv(cvFix, dim, Some(!isGrowth), None),
            idxPath, "fp-base")
          val delta = cvFix.filter(isGrowth)
          AnnIndex.append(
            AnnPack.deltaArtifactsFor(delta, AnnIndex.serve(spark, idxPath)),
            "growth", idxPath)
          val due = AnnIndex.retrainDue(spark, idxPath)
          val brute = AnnPack.bruteForceTopK(cvFix)
            .select(fCol("q_id"), fCol("neighbor_id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val bruteN = brute.count()
          def recall(df: DataFrame): Double =
            df.select(fCol("q_id"), fCol("neighbor_id"))
              .join(brute, Seq("q_id", "neighbor_id")).count().toDouble / bruteN
          val pre = recall(AnnPack.serveIvfPqFrom(
            AnnIndex.serve(spark, idxPath), AnnPack.NProbe, AnnPack.PqCandidates))
          val vPre = VersionedIndex.versionNumber(idxPath)
          // RETRAIN: full rebuild over the grown corpus, ledger carried
          AnnIndex.build(AnnPack.ivfPqArtifactsFromCv(cvFix, dim, None, None),
            idxPath, "fp-retrained", carryLedger = true)
          val vPost = VersionedIndex.versionNumber(idxPath)
          val gone = VersionedIndex.gcVersions(idxPath, keep = 1)
          val post = recall(AnnPack.serveIvfPqFrom(
            AnnIndex.serve(spark, idxPath), AnnPack.NProbe, AnnPack.PqCandidates))
          brute.unpersist(false)
          check("e15_retrain_due_fired")(due,
            s"3x growth left append fraction under budget")
          check("e15_recall_dips_then_recovers")(
            post >= 0.8 && post > pre + 0.1,
            s"recall pre-retrain $pre -> post-retrain $post")
          check("e15_serving_switched_atomically")(
            vPost == vPre + 1 &&
              AnnIndex.readFingerprint(idxPath).contains("fp-retrained"),
            s"version v$vPre -> v$vPost, fp ${AnnIndex.readFingerprint(idxPath)}")
          check("e15_superseded_version_gcd")(
            gone.exists(_.startsWith("v")), s"gc removed: $gone")
          check("e15_replay_noop_after_retrain")(
            !AnnIndex.append(
              AnnPack.deltaArtifactsFor(delta, AnnIndex.serve(spark, idxPath)),
              "growth", idxPath),
            "a replayed growth batch re-committed after the retrain")
          (pre, post)
        } finally deleteTree(fixRoot)
      }

      // 12d. compaction at 10x (r14): a per-batch append cadence accrues
      // O(batches) files per bucket — probe-side scan cost follows FILE
      // COUNT, not data size. Two signature indexes over the same 10x
      // base take the same 6 micro-batches; the compacting leg
      // (compactAfter=3) must end with ONE live segment and a bounded
      // version file count while serving EXACTLY the uncompacted rows,
      // and a replayed batch must stay a no-op after compaction + GC has
      // retired its original files (the manifest ledger outlives them).
      val (cmpLive, cmpFilesPlain, cmpFilesComp, cmpRows) = {
        import graft.sources.{SignatureIndex, VersionedIndex}
        import graft.streaming.SignatureIndexStream
        import org.apache.spark.sql.functions.{col => fCol}
        val docs10x = Tables.documents(spark, dir)
        val cBase = docs10x.filter(fCol("doc_id") % 10L < 4L)
        def slice(i: Int) = docs10x.filter(fCol("doc_id") % 10L === (4L + i))
        val plain = java.nio.file.Files.createTempDirectory("cmp_plain").toString
        val comp = java.nio.file.Files.createTempDirectory("cmp_comp").toString
        // both trees hold a full 10x signature index — delete them once
        // the receipt values are captured (ADVICE r14: they leaked)
        def deleteIdx(p: String): Unit = {
          import scala.jdk.CollectionConverters._
          val root = java.nio.file.Paths.get(p)
          if (java.nio.file.Files.exists(root))
            graft.sources.VersionedIndex.walkAll(root).reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
        }
        try {
        val sigs = graft.queries.PipelinePack.bandSignatures(cBase)
        SignatureIndex.build(sigs, plain, "fp")
        SignatureIndex.build(sigs, comp, "fp")
        for (i <- 0 until 6) {
          SignatureIndexStream.processBatch(slice(i), i.toLong, plain)
          SignatureIndexStream.processBatch(slice(i), i.toLong, comp, compactAfter = 3)
        }
        def versionFiles(path: String): Int = {
          val v = SignatureIndex.currentVersion(path).get
          VersionedIndex.dataFiles(java.nio.file.Paths.get(path, v)).size
        }
        val (plainFiles, compFiles) = (versionFiles(plain), versionFiles(comp))
        val liveComp = SignatureIndex.readMeta(comp).get.live.size
        check("compaction_bounds_live_segments")(
          liveComp <= 3 && SignatureIndex.readMeta(plain).get.live.size == 7,
          s"$liveComp live segments with compactAfter=3 vs 7 uncompacted")
        check("compaction_bounds_version_files")(
          compFiles < plainFiles,
          s"$compFiles files in CURRENT with compaction vs $plainFiles without")
        val rowsPlain = SignatureIndex.serve(spark, plain).count()
        val rowsComp = SignatureIndex.serve(spark, comp).count()
        check("compaction_preserves_served_rows")(
          rowsComp == rowsPlain, s"$rowsComp vs $rowsPlain")
        VersionedIndex.gcVersions(comp, keep = 1)
        check("compaction_ledger_outlives_gc")(
          !SignatureIndexStream.processBatch(slice(0), 0L, comp) &&
            SignatureIndex.serve(spark, comp).count() == rowsPlain,
          "a replayed batch re-committed after compaction + GC")
        (liveComp, plainFiles, compFiles, rowsComp)
        } finally { deleteIdx(plain); deleteIdx(comp) }
      }

      // 12e. a WEEK OF INGEST at 10x (r14 verdict #5) — the composed
      // lifecycle the per-leg receipts above gate in isolation: a
      // signature index and an ANN index each take a base build plus 7
      // simulated days of stream-shaped appends (compactAfter=3) with a
      // daily retention GC, and at the week's end the ANN drift budget
      // has been exceeded and the retrain escape valve runs. Receipts:
      // steady-state live segments stay bounded by the cadence, the
      // serving version's file count ends FLAT (not O(days)), GC
      // actually reclaims bytes, per-day append-gate cost stays flat as
      // the corpus grows (compaction days excepted — a compaction
      // rewrite is O(live set) by design and amortizes over the cadence),
      // the maintained d37 stats equal a from-scratch re-aggregation,
      // and every day's batch replays as a no-op after the week.
      val (weekSigDays, weekAnnFrac, weekBytesReclaimed, weekSignalDay,
        weekCompactionBytes) = {
        import graft.sources.{AnnIndex, SignatureIndex, VersionedIndex}
        import graft.streaming.{AnnIndexStream, SignatureIndexStream}
        import graft.queries.AnnPack
        import org.apache.spark.sql.functions.{col => fCol, count => fCount, lit => fLit, size => fSize}
        val weekRoot = java.nio.file.Files.createTempDirectory("week").toString
        def deleteTree(p: String): Unit = {
          import scala.jdk.CollectionConverters._
          val root = java.nio.file.Paths.get(p)
          if (java.nio.file.Files.exists(root))
            graft.sources.VersionedIndex.walkAll(root).reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
        }
        def dirBytes(p: String): Long = {
          import scala.jdk.CollectionConverters._
          val root = java.nio.file.Paths.get(p)
          if (!java.nio.file.Files.exists(root)) 0L
          else graft.sources.VersionedIndex.walkAll(root)
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum
        }
        try {
          val sigPath = s"$weekRoot/sig"
          val annPath = s"$weekRoot/ann"
          val docs10x = Tables.documents(spark, dir)
          val embRaw = Tables.embeddings(spark, dir)
          val dim = embRaw.select(fSize(fCol("embedding")).as("d")).head.getInt(0)
          val cv = AnnPack.clusteredEmbeddings(embRaw, Some(s"$dir/embeddings"))
          // day-0 bases: docs residues 0..8 of 16; vectors residues 0..8
          val sigBase = docs10x.filter(fCol("doc_id") % 16L < 9L)
          SignatureIndex.build(
            graft.queries.PipelinePack.bandSignatures(sigBase),
            sigPath, "fp-week",
            stats = Some(sigBase.groupBy("source").agg(fCount(fLit(1)).as("n"))))
          AnnIndex.build(
            AnnPack.ivfPqArtifactsFromCv(cv, dim,
              Some(fCol("vec_id") % 16L < 9L), None),
            annPath, "fp-week")
          AnnIndexStream.retrainSignals.remove(annPath) // fresh drift cycle
          AnnIndexStream.retrainRebuilds.remove(annPath)
          // the drift loop closes THROUGH THE HOOK (r16 verdict #4): the
          // signal's opt-in action derives full-corpus artifacts and
          // rebuilds with carryLedger on a daemon thread — the rehearsal
          // never calls AnnIndex.build itself. Signals are captured at
          // fire time (the hook re-arms retrainSignals once the rebuild
          // lands, so the slot alone can't be the receipt).
          val firedSignals =
            new java.util.concurrent.CopyOnWriteArrayList[AnnIndexStream.RetrainSignal]
          val rebuildHook = AnnIndexStream.rebuildAction(
            () => AnnPack.ivfPqArtifactsFromCv(cv, dim, None, None),
            () => "fp-week-retrained")
          val weekHook: AnnIndexStream.RetrainSignal => Unit = { sig =>
            firedSignals.add(sig); rebuildHook(sig)
          }
          def rebuildInFlight: Boolean = AnnIndexStream.retrainRebuilds
            .get(annPath).exists(t => t._1 > t._2)
          var reclaimed = 0L
          // (rewritten bytes, base-tier bytes) per compaction event — the
          // size-tiered invariant in BYTES (r15 verdict #3): a compaction
          // rewrites the delta pile, a fraction of the base tier, never
          // the corpus. Captured while the segment files still exist
          // (GC retires them soon after).
          val compactionBytes = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long)]
          def recordCompactions(path: String, tag: String): Unit = {
            val m = VersionedIndex.readMeta(path).get
            m.live.filter(_.startsWith("compact-")).foreach { seg =>
              if (!compactionBytes.exists(c => c._1 == s"$tag/$seg")) {
                val rewritten = VersionedIndex.segmentBytes(path, seg)
                val largest = m.live.map(VersionedIndex.segmentBytes(path, _)).max
                compactionBytes += ((s"$tag/$seg", rewritten, largest))
              }
            }
          }
          val dayStats = (0 until 7).map { day =>
            val res = 9L + day
            val overlapStart = rebuildInFlight // hook rebuild racing this day?
            val live0 = SignatureIndex.readMeta(sigPath).get.live.size
              .max(VersionedIndex.readMeta(annPath).get.live.size)
            val t0 = System.nanoTime()
            val sigCommitted = SignatureIndexStream.processBatch(
              docs10x.filter(fCol("doc_id") % 16L === res), day.toLong,
              sigPath, compactAfter = 3)
            val annCommitted = AnnIndexStream.processBatch(
              cv.filter(fCol("vec_id") % 16L === res), day.toLong,
              annPath, compactAfter = 3, onRetrainDue = weekHook)
            val gateMs = (System.nanoTime() - t0) / 1000000L
            val overlap = overlapStart || rebuildInFlight
            recordCompactions(sigPath, "sig")
            recordCompactions(annPath, "ann")
            val before = dirBytes(sigPath) + dirBytes(annPath)
            VersionedIndex.gcVersions(sigPath, keep = 2)
            VersionedIndex.gcVersions(annPath, keep = 2)
            reclaimed += math.max(0L, before - (dirBytes(sigPath) + dirBytes(annPath)))
            val sigMeta = SignatureIndex.readMeta(sigPath).get
            val annMeta = VersionedIndex.readMeta(annPath).get
            val live1 = sigMeta.live.size.max(annMeta.live.size)
            // an append-only day grows live by one; anything else means a
            // compaction rewrite ran and the day paid O(live set)
            val compacted = live1 <= live0
            val vFiles = VersionedIndex.dataFiles(java.nio.file.Paths.get(
              sigPath, SignatureIndex.currentVersion(sigPath).get)).size
            val annFrac = AnnIndex.appendFraction(spark, annPath)
            (day, sigCommitted && annCommitted, gateMs, live1, vFiles, compacted,
              annFrac, overlap)
          }
          // r15 verdict #2: the STREAMING leg consults the retrain policy
          // per committed batch — the signal must fire once, with a
          // fraction over budget, on the first day whose cumulative
          // append fraction crossed 0.5: every day BEFORE the signal's
          // batch measured under budget (the crossing day's own post-hoc
          // reading may already be reset by the hook's rebuild, so the
          // fire-time capture is the receipt)
          val signal = {
            import scala.jdk.CollectionConverters._
            firedSignals.asScala.headOption
          }
          check("week_retrain_signal_on_crossing_batch")(
            firedSignals.size == 1 && signal.exists(s => s.appendFraction > 0.5 &&
              dayStats.filter(_._1 < s.batchId).forall(_._7 <= 0.5)),
            s"signals ${firedSignals.size}, first ${signal.map(s =>
              s"day ${s.batchId} frac ${s.appendFraction}")} " +
              s"(fractions ${dayStats.map(_._7).mkString(",")})")
          check("week_every_day_committed")(dayStats.forall(_._2),
            dayStats.map(d => s"day ${d._1}: ${d._2}").mkString(", "))
          check("week_live_segments_bounded")(dayStats.forall(_._4 <= 3),
            s"live per day: ${dayStats.map(_._4).mkString(",")}")
          // day-7 serving file count is in day-1's neighborhood, not 7x
          check("week_version_files_flat")(
            dayStats.last._5 <= dayStats.head._5 * 2,
            s"files day1 ${dayStats.head._5} -> day7 ${dayStats.last._5}")
          check("week_gc_reclaims_bytes")(reclaimed > 0L, s"$reclaimed bytes")
          // append-gate cost flat on NON-compaction days (a compaction
          // rewrite is O(live) by design, and a day overlapping the
          // hook's async retrain rebuild legitimately waits at the
          // write-lock boundary); 3x headroom for jitter
          val plainDays = dayStats.filter(d => !d._6 && !d._8).map(_._3)
          check("week_day_cost_flat")(
            plainDays.size >= 2 && plainDays.max <= plainDays.min * 3 + 1500,
            s"non-compaction day costs ms: ${plainDays.mkString(",")}")
          // r15 verdict #3: with SIZE-TIERED compaction a compaction day
          // rewrites the delta pile, never the whole live set. The
          // worst/best-day SECONDS ratio rides the receipt
          // (week_day_gate_ms — 1.59 measured idle, vs 1.75 for the r15
          // full rewrite at near-double the absolute cost), but is NOT a
          // hard check: identical code measured 2.47 under ambient VM
          // load (a NON-compaction day ran 1.9x its idle time), so a
          // sub-2x wall-clock bound at this fixture asserts the host,
          // not the engine. The enforceable form of the invariant is
          // BYTES (below) — deterministic whatever the neighbors do —
          // plus week_day_cost_flat's x3 catcher above.
          val allDays = dayStats.map(_._3)
          println(f"[week] day-gate max/min ${allDays.max.toDouble / allDays.min}%.2f " +
            s"(${allDays.mkString(",")} ms)")
          // the size-tiered invariant in BYTES: every compaction event
          // rewrote strictly LESS than the big tier it left in place —
          // the pile, which legitimately grows toward the base's size
          // across the week (0.33x -> 0.78x measured), but never
          // base + pile. The r15 full rewrite left nothing bigger than
          // what it wrote (rewritten == largest live) and fails loudly.
          check("week_compaction_rewrites_pile_not_corpus")(
            compactionBytes.nonEmpty &&
              compactionBytes.forall { case (_, rw, big) => rw < big },
            compactionBytes.map { case (s, rw, big) => s"$s: $rw vs $big" }
              .mkString("; "))
          // maintained d37 stats survived 7 appends + compactions + GC:
          // they equal a from-scratch aggregation of everything ingested
          val statsServed = SignatureIndex.sourceStats(spark, sigPath)
            .collect().map(r => (r.getString(0), r.getLong(1))).toMap
          // residues 0..8 (base) + 9..15 (the 7 days) = the whole corpus
          val statsWant = docs10x
            .groupBy("source").agg(fCount(fLit(1)).as("n"))
            .collect().map(r => (r.getString(0), r.getLong(1))).toMap
          check("week_maintained_stats_exact")(statsServed == statsWant,
            s"served ${statsServed.toSeq.sorted.take(3)}… vs ${statsWant.toSeq.sorted.take(3)}…")
          // the drift loop closed ITSELF mid-week (r16 verdict #4): the
          // hook's rebuild ran through the maintenance discipline (claim
          // -> carryLedger build -> publish -> GC) on its own thread —
          // wait out any still-running rebuild, then assert it happened
          // VIA THE HOOK, that ingest kept committing through it, that
          // the policy reset (signal re-armed), and that the retrained
          // geometry serves the grown corpus
          val rebuildDeadline = System.currentTimeMillis() + 300000L
          while (rebuildInFlight && System.currentTimeMillis() < rebuildDeadline)
            Thread.sleep(250L)
          val rebuilds = AnnIndexStream.retrainRebuilds
            .get(annPath).getOrElse((0L, 0L))
          check("week_retrain_rebuild_via_hook")(
            rebuilds == ((1L, 1L)) &&
              VersionedIndex.readMeta(annPath).get.fingerprint == "fp-week-retrained",
            s"rebuilds (started, completed) $rebuilds, fingerprint " +
              s"${VersionedIndex.readMeta(annPath).get.fingerprint}")
          // ingest never stalled: every day AFTER the signal's batch
          // still committed (racing or trailing the rebuild)
          check("week_ingest_continues_through_rebuild")(
            signal.forall(s => dayStats.filter(_._1 > s.batchId).forall(_._2)),
            dayStats.map(d => s"day ${d._1}: ${d._2}").mkString(", "))
          check("week_retrain_resets_policy")(
            !AnnIndex.retrainDue(spark, annPath) &&
              !AnnIndexStream.retrainSignals.contains(annPath),
            s"fraction ${AnnIndex.appendFraction(spark, annPath)}, " +
              s"signal slot ${AnnIndexStream.retrainSignals.get(annPath)}")
          // every day replays as a no-op — even after compaction, GC and
          // the retrain retired the original files (the ledger outlives)
          val replays = (0 until 7).map { day =>
            val res = 9L + day
            !SignatureIndexStream.processBatch(
              docs10x.filter(fCol("doc_id") % 16L === res), day.toLong,
              sigPath, compactAfter = 3) &&
            !AnnIndexStream.processBatch(
              cv.filter(fCol("vec_id") % 16L === res), day.toLong,
              annPath, compactAfter = 3)
          }
          check("week_replays_all_noop")(replays.forall(identity),
            s"replay no-op by day: ${replays.mkString(",")}")
          (dayStats.map(_._3).mkString("|"),
            signal.map(_.appendFraction).getOrElse(-1d), reclaimed,
            signal.map(_.batchId).getOrElse(-1L),
            compactionBytes.map { case (s, rw, big) => s"$s:$rw/$big" }
              .mkString("|"))
        } finally deleteTree(weekRoot)
      }

      // 13. e09 k-means at 10x: every Lloyd round stays broadcast
      // equi-joins (no product), and the trained assignment is total —
      // one cluster per vector, more than one cluster used (training on
      // 10x data must not collapse).
      val e09Df = SparkEntry.queries("e09_kmeans_train")(spark, dir)
      val e09Plan = finalPlan(e09Df)
      check("e09_no_product")(
        !e09Plan.contains("CartesianProduct") && !e09Plan.contains("BroadcastNestedLoopJoin"),
        e09Plan.take(1500))
      val e09N = Tables.embeddings(spark, dir).count()
      val e09Rows = e09Df.count()
      val e09Clusters = e09Df.select("cluster").distinct().count()
      check("e09_assignment_total")(e09Rows == e09N,
        s"$e09Rows assignments for $e09N vectors")
      check("e09_multi_cluster")(e09Clusters > 1 && e09Clusters <= AnnPack.KmClusters,
        s"$e09Clusters clusters")

      // 14. g25 k-core at 10x: the peel must still converge inside the
      // 32-round contract (kCore throws otherwise — running IS the
      // check) and the membership flags are total over the node set.
      val g25 = SparkEntry.queries("g25_kcore")(spark, dir)
      val g25Rows = g25.count()
      val g25Nodes = graft.graph.GraphTables.forDir(spark, dir).nodes.count()
      check("g25_flags_total")(g25Rows == g25Nodes, s"$g25Rows flags for $g25Nodes nodes")

      // 15. m07d 64-bit image-dedup index at 10x (r10 verdict #6): the
      // Manku 4x16-bit block join must stay product-free, its candidate
      // set a vanishing fraction of the pair space (64-bit hashes don't
      // pigeonhole at this corpus size — the failure mode m07's 16-bit
      // comparator exists to illustrate), and the planted twin recovery
      // must survive the scale-up (ids shift, the pixel functions change,
      // the hamming<=3 neighborhood must still be found).
      val m07dDf = SparkEntry.queries("m07d_image_ahash64_pairs")(spark, dir)
      val m07dPlan = finalPlan(m07dDf)
      check("m07d_no_product")(!m07dPlan.contains("CartesianProduct") &&
        !m07dPlan.contains("BroadcastNestedLoopJoin"), m07dPlan.take(1500))
      val m07dPairs = m07dDf.collect()
      val m07dPlanted = Tables.documents(spark, dir)
        .filter(col("doc_id") % 7 === 0).count()
      val twinOff = graft.multimodal.Multimodal.TwinOffset
      // only PLANTED twins count: the source must be an every=7 multiple
      // (a coincidental hash-near pair of two originals exactly
      // TwinOffset apart must not inflate the recovery count; ADVICE r11)
      val m07dRecovered = m07dPairs.count(r =>
        r.getLong(1) == r.getLong(0) + twinOff && r.getLong(0) % 7 == 0)
      check("m07d_twin_recovery")(m07dRecovered * 2 > m07dPlanted,
        s"$m07dRecovered twin pairs recovered of $m07dPlanted planted")
      // r14: m08 — the image gate served from the persisted block index.
      // First pass may pay the one-time base build (decode + hash the
      // base corpus ONCE); the re-probe performs zero builds and decides
      // identically, and every m07d twin pair (twin = the arriving
      // batch) survives the indexed path.
      val m08First = SparkEntry.queries("m08_indexed_image_dedup")(spark, dir)
      val m08Pairs = m08First.count()
      val m08Builds0 = graft.sources.SignatureIndex.buildCount
      val m08Again = SparkEntry.queries("m08_indexed_image_dedup")(spark, dir).count()
      val m08WarmBuilds = graft.sources.SignatureIndex.buildCount - m08Builds0
      check("m08_image_index_loaded_not_rebuilt")(
        m08WarmBuilds == 0 && m08Again == m08Pairs,
        s"$m08WarmBuilds builds on the warm re-probe")
      val m08Recovered = m08First.collect().count(r =>
        r.getLong(1) == r.getLong(0) + twinOff && r.getLong(0) % 7 == 0)
      check("m08_recovers_m07d_twins")(m08Recovered == m07dRecovered,
        s"indexed path recovered $m08Recovered twin pairs vs m07d's $m07dRecovered")
      // Candidate volume straight from the block index (pre-hamming-
      // check), at BOTH scales. The pixel function salts per id-band
      // (r11 verdict #4: un-salted, band-shifted copies re-rendered
      // near-identical rasters — 1e8 ≡ 0 mod 256 — and the 10x run
      // measured a degenerate hot-bucket corpus, 101x candidate growth,
      // ~410 candidates/doc), so bucket occupancy at 10x now behaves
      // like a real heterogeneous image corpus and the invariants can be
      // ABSOLUTE: bounded candidates per document, and total candidate
      // growth at worst linear in the scale factor. A banding regression
      // (fewer/wider blocks, a collapsed hash) reproduces the degenerate
      // signature and fails both. Measured under the salt: base
      // ~40.5 cand/doc (the base band is internally correlated by
      // construction), 10x ~6.2 cand/doc, growth 1.53x.
      def m07dCandidates(docsDir: String): (Long, Long, Long) = {
        val hs = graft.multimodal.Multimodal.imageAHash(
          graft.multimodal.Multimodal.pngMediaWithTwins(
            Tables.documents(spark, docsDir), base = 8, every = 7), grid = 8)
          .localCheckpoint()
        val n = hs.count()
        val blocks = hs.select(col("doc_id"),
            explode(expr("transform(sequence(0, 3), " +
              "f -> named_struct('blk', f, 'bv', shiftright(ahash, 16 * f) & 65535))")).as("x"))
          .select(col("doc_id"), col("x.blk").as("blk"), col("x.bv").as("bv"))
        val cand = blocks.select(col("doc_id").as("ida"), col("blk"), col("bv"))
          .join(blocks.select(col("doc_id").as("idb"), col("blk"), col("bv")),
            Seq("blk", "bv"))
          .filter(col("ida") < col("idb"))
          .select("ida", "idb").distinct().count()
        (cand, n, n * (n - 1) / 2)
      }
      val (m07dCandBase, m07dNBase, m07dSpaceBase) = m07dCandidates(baseDir)
      val (m07dCand, m07dN, imgPairSpace) = m07dCandidates(dir)
      val m07dFracBase = m07dCandBase.toDouble / m07dSpaceBase
      val m07dFrac10x = m07dCand.toDouble / imgPairSpace
      val m07dPerDoc10x = m07dCand.toDouble / m07dN
      // absolute per-document bound: 80 is ~13x headroom over the
      // measured 6.2 and far under the pre-salt degenerate ~410
      check("m07d_candidates_per_doc_bounded")(m07dPerDoc10x <= 80.0,
        s"$m07dPerDoc10x candidates/doc at 10x ($m07dCand over $m07dN docs)")
      // total growth at worst linear in the factor (measured 1.53x;
      // the pre-salt hot-bucket corpus grew 101x and fails loudly)
      check("m07d_candidate_growth_linear")(
        m07dCand <= m07dCandBase * factor,
        s"candidates $m07dCandBase -> $m07dCand at ${factor}x (superlinear)")

      // 16. q35 funnel at 10x (r10 verdict #6): the stage tables stay
      // keyed aggregates — no window over the event stream, no product —
      // and the output is exactly one row per user, factor x the base
      // corpus's users (ScaleUp shifts user ids): per-user funnel state
      // is three timestamps, linear in users, never event history.
      val q35Df = SparkEntry.queries("q35_funnel_conversion")(spark, dir)
      val q35Plan = finalPlan(q35Df)
      check("q35_no_window")(!q35Plan.contains("Window"), q35Plan.take(1500))
      check("q35_no_product")(!q35Plan.contains("CartesianProduct") &&
        !q35Plan.contains("BroadcastNestedLoopJoin"), q35Plan.take(1500))
      val q35Rows = q35Df.count()
      val q35Base = SparkEntry.queries("q35_funnel_conversion")(spark, baseDir).count()
      check("q35_rows_linear")(q35Rows == factor.toLong * q35Base,
        s"$q35Rows rows at 10x vs $factor x $q35Base base users")

      println(s"""{"dir":"$dir","d03_cand_base":$candBase,"d03_cand_10x":$candBig,""" +
        s""""d03_ratio":$ratio,"pair_space":$pairSpace,"g21_max_fwd":$maxFwd,""" +
        s""""g21_und_edges":$undN,"certify_leaves":$leaves,""" +
        s""""certify_driver_bytes":$driverBytes,"certify_hash_secs":$hashSecs,""" +
        s""""certify_leaves_span1024":$leavesFine,""" +
        s""""certify_incremental_warm_secs":$incWarmSecs,""" +
        s""""certify_incremental_dirty1_secs":$incDirtySecs,""" +
        s""""e07_cand_base":$e07CandBase,"e07_cand_10x":$e07Cand10x,""" +
        s""""e07_frac_base":$fracBase,"e07_frac_10x":$frac10x,""" +
        s""""e10_cand_base":$e10CandBase,"e10_cand_10x":$e10Cand10x,""" +
        s""""e10_frac_base":$e10FracBase,"e10_frac_10x":$e10Frac10x,""" +
        s""""d31_rows_10x":$d31Rows,"d31_removed_tokens_10x":$d31Removed,""" +
        s""""d32_cand_base":$d32CandBase,"d32_cand_10x":$d32CandBig,""" +
        s""""d32_ratio":$d32Ratio,"d32_delta_docs_10x":$d32Delta,""" +
        s""""d32_delta_pair_space":$d32PairSpace,""" +
        s""""d36_cand_base":$d36CandBase,"d36_cand_10x":$d36CandBig,""" +
        s""""d36_ratio":$d36Ratio,"d36_warm_builds":$buildsWarm,""" +
        s""""sig_index_buckets_10x":${d36Meta.buckets},"sig_index_rows_10x":$d36IdxRows,""" +
        s""""e12_rows_10x":$e12Rows,"e12_warm_builds":$annWarmBuilds,""" +
        s""""e12_probed_pcell_fraction":$probedFrac,""" +
        s""""e12_files_read_fraction":$filesFrac,""" +
        s""""e13_rows_10x":$e13Rows,"e13_warm_builds":$e13WarmBuilds,""" +
        s""""e13_append_fraction":$e13Frac,""" +
        s""""e15_recall_pre_retrain":$e15RecPre,""" +
        s""""e15_recall_post_retrain":$e15RecPost,""" +
        s""""week_day_gate_ms":"$weekSigDays",""" +
        s""""week_ann_fraction_at_retrain":$weekAnnFrac,""" +
        s""""week_retrain_signal_day":$weekSignalDay,""" +
        s""""week_gc_bytes_reclaimed":$weekBytesReclaimed,""" +
        s""""week_compaction_rewritten_vs_big_tier":"$weekCompactionBytes",""" +
        s""""compaction_live_segments":$cmpLive,"compaction_files_plain":$cmpFilesPlain,""" +
        s""""compaction_files_comp":$cmpFilesComp,"compaction_rows":$cmpRows,""" +
        s""""d37_rows_10x":$d37Rows,"d37_admitted_10x":$d37Adm,""" +
        s""""d37_cold_build_ms":$d37ColdMs,"d37_warm_ms":$d37WarmMs,""" +
        s""""d34_shards_base":$d34ShardsBase,"d34_shards_10x":$d34Shards10x,""" +
        s""""d34_mean_rows_per_shard_10x":$d34Mean10x,"d34_max_rows_per_shard_10x":$d34Max10x,""" +
        s""""e08_codes":$pqCodes,"e09_clusters":$e09Clusters,""" +
        s""""g25_nodes":$g25Nodes,""" +
        s""""m07d_cand_base":$m07dCandBase,"m07d_cand_10x":$m07dCand,""" +
        s""""m07d_frac_base":$m07dFracBase,"m07d_frac_10x":$m07dFrac10x,""" +
        s""""m07d_per_doc_base":${m07dCandBase.toDouble / m07dNBase},""" +
        s""""m07d_per_doc_10x":$m07dPerDoc10x,""" +
        s""""m07d_pairs_10x":${m07dPairs.length},"m07d_twins_recovered":$m07dRecovered,""" +
        s""""m08_pairs_10x":$m08Pairs,"m08_warm_builds":$m08WarmBuilds,""" +
        s""""q35_rows_base":$q35Base,"q35_rows_10x":$q35Rows,""" +
        s""""failures":${failures.size}}""")
      if (failures.nonEmpty) {
        println(s"FAILURES: ${failures.reverse.mkString(", ")}")
        sys.exit(1)
      }
    } finally spark.stop()
  }
}
