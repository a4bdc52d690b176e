package graft.tools

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guards for the scale-critical pipeline operators: the
  * assertions encode what PLANS.md promises (candidates through equi-joins,
  * the only nested-loop term over broadcast centroids, no vector-table
  * cartesian product).
  */
class ExplainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** The FINAL adaptive plan (after execution), where exchange reuse is
    * resolved — the initial plan prints every consumer's copy of a shared
    * subtree.
    */
  private def planOf(name: String): String = {
    val q = (graft.queries.AnnPack.defs ++ graft.queries.PipelinePack.defs ++
        graft.queries.GraphPack.defs)
      .find(_.name == name).getOrElse(fail(s"no qdef $name"))
    val df = q.run(spark, dir)
    df.collect()
    // AdaptiveSparkPlan.toString prints Final AND Initial sections; reuse
    // is only resolved in the final one
    val s = df.queryExecution.executedPlan.toString
    val i = s.indexOf("== Initial Plan ==")
    if (i >= 0) s.substring(0, i) else s
  }

  private def withoutPairMemo[A](body: => A): A =
    graft.SessionMemos.bypassing(graft.queries.AnnPack.pairSets)(body) // see its scaladoc

  /** Same contract for PipelinePack's Jaccard pair memo: a memoized
    * persisted pair set would print as an InMemoryTableScan where the
    * shingle join tree should be, making plan-shape assertions depend on
    * which suite ran first (ADVICE r11).
    */
  private def withoutJacMemo[A](body: => A): A =
    graft.SessionMemos.bypassing(graft.queries.PipelinePack.jaccardPairs)(body)

  /** Same contract for the PQ index memo (r12): a persisted codes/el
    * table would print as an InMemoryTableScan where the encode join
    * tree should be. The code arrays and coarse cells read through the
    * index's corpus checkpoint, so they are bypassed with it.
    */
  private def withoutPqIdxMemo[A](body: => A): A =
    graft.SessionMemos.bypassing(graft.queries.AnnPack.pqIndexes,
      graft.queries.AnnPack.pqCodeArrays, graft.queries.AnnPack.coarseCells)(body)

  /** And for the band-signature index memo (r12): d03/d32's candidate
    * joins must be observed over the real signature subtree.
    */
  private def withoutSigMemo[A](body: => A): A =
    graft.SessionMemos.bypassing(graft.queries.PipelinePack.bandSigs)(body)

  /** And for the triangle-count memo (ADVICE r12): g21/g26 called through
    * the entry surface would otherwise print the memo's
    * InMemoryTableScan where the wedge-join tree should be.
    */
  private def withoutTriMemo[A](body: => A): A =
    graft.SessionMemos.bypassing(graft.graph.GraphTables.triangles)(body)

  /** Every EXECUTED node of the final adaptive plan. ReusedExchange
    * subtrees are NOT traversed: a reused exchange reads the original's
    * shuffle files, so nodes under it never re-execute — counting them
    * would double-charge shared work.
    */
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children.flatMap(flatten)
    })
  }

  /** Run `body` with broadcast joins disabled — the 100 TB posture,
    * where neither join side broadcasts and bucket layouts are what
    * spare the index tables their shuffles.
    */
  private def withoutBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("d36: the index side is a bucketed scan with no Exchange; the corpus is never re-minhashed") {
    // run the full entry once so the index is committed, then pin the
    // candidate PROBE stage — since r18 it executes eagerly (the verify
    // leg reads materialized candidates, VERDICT r17 #4), so the plan
    // claims attach to the probe DataFrame itself
    graft.queries.PipelinePack.defs
      .find(_.name == "d36_indexed_ingest_dedup").get.run(spark, dir).collect()
    pinIndexProbePlan(
      graft.queries.PipelinePack.indexedCandidates(spark, dir), deltaRes = 7L)
  }

  test("d38: the compacted maintained index keeps d36's probe shape") {
    // same pins over the full lifecycle: the served snapshot has been
    // appended to and compacted, and must still meet the delta through
    // its bucket layout with only the delta minhashed
    graft.queries.PipelinePack.defs
      .find(_.name == "d38_maintained_ingest_dedup").get.run(spark, dir).collect()
    val path = s"/tmp/graft_sigindex/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}" +
      "_m10d7r8-maint"
    pinIndexProbePlan(
      graft.queries.PipelinePack.probeIndexCandidates(
        graft.Tables.documents(spark, dir), 10L, 8L,
        graft.sources.SignatureIndex.serveSplit(spark, path)), deltaRes = 8L)
  }

  private def pinIndexProbePlan(
      candidates: => org.apache.spark.sql.DataFrame, deltaRes: Long): Unit = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}

    // broadcast off: at fixture scale AQE would broadcast the delta side
    // (and skip the bucketed scan as useless); the claim under pin is the
    // 100 TB shape, where neither side broadcasts and the index's bucket
    // layout is what spares it the shuffle.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = candidates
      df.collect()
      val all = flatten(df.queryExecution.executedPlan)

      // 1. the probe join meets the index through its bucket layout:
      //    the index-side subtree has a bucketed file scan and NO shuffle
      val probeJoins = all.collect {
        case j: SortMergeJoinExec
          if j.leftKeys.map(_.toString).exists(_.contains("band")) => (j.left, j.right)
        case j: ShuffledHashJoinExec
          if j.leftKeys.map(_.toString).exists(_.contains("band")) => (j.left, j.right)
      }
      assert(probeJoins.nonEmpty, s"no (band, sig) candidate join found:\n$df")
      def bucketScans(p: SparkPlan) = flatten(p).collect {
        case f: FileSourceScanExec if f.bucketedScan => f
      }
      val idxSides = probeJoins.map { case (l, r) =>
        Seq(l, r).find(s => bucketScans(s).nonEmpty)
      }
      assert(idxSides.exists(_.isDefined),
        s"no bucketed index-side scan under the candidate join:\n${df.queryExecution.executedPlan}")
      idxSides.flatten.foreach { side =>
        val shuffles = flatten(side).collect { case s: ShuffleExchangeLike => s }
        assert(shuffles.isEmpty,
          s"Exchange above the bucketed index scan — bucket layout unused:\n$side")
      }

      // 2. only the DELTA is minhashed: the delta's signatures are
      //    computed, and every signature generator reads the delta slice
      //    alone — a corpus-side recompute would add one over the whole
      //    store; none sits on the index side of a probe join
      val gens = minhashGenerators(all)
      assert(gens.nonEmpty, s"the delta's signatures are not computed:\n$df")
      assertDeltaOnly(gens, deltaRes)
      idxSides.flatten.foreach(side => assert(minhashGenerators(flatten(side)).isEmpty,
        s"the index side is minhashed:\n$side"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** The band-signature generators (one per signature derivation) among
    * executed nodes.
    */
  private def minhashGenerators(nodes: Seq[org.apache.spark.sql.execution.SparkPlan]) =
    nodes.collect {
      case g: org.apache.spark.sql.execution.GenerateExec
        if g.generator.find(_.isInstanceOf[graft.functions.MinHashBands]).isDefined => g
    }

  /** Every generator reads documents filtered to `doc_id % 10 = deltaRes`. */
  private def assertDeltaOnly(
      gens: Seq[org.apache.spark.sql.execution.GenerateExec], deltaRes: Long): Unit = {
    val delta = s"% 10) = $deltaRes)"
    gens.foreach { g =>
      val filters = flatten(g).collect {
        case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
      }
      assert(filters.exists(_.contains(delta)),
        s"a signature generator reads more than the delta slice — corpus side re-minhashed?\n$g")
    }
  }

  test("d37: admission counts read the maintained stats table; only the delta is minhashed") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val q = graft.queries.PipelinePack.defs
      .find(_.name == "d37_incremental_manifest").getOrElse(fail("no d37"))
    val df = q.run(spark, dir)
    df.collect()
    val all = flatten(df.queryExecution.executedPlan)

    // 1. the per-source admission counts arrive from the index's
    //    maintained _stats table (metadata committed with the base and
    //    appended per batch), visible as a file scan of the index path —
    //    the r13 O(corpus)-aggregate-per-batch seam is closed
    val scans = all.collect { case f: FileSourceScanExec => f }
    assert(scans.exists(_.relation.location.rootPaths
        .exists(p => p.toString.contains("graft_sigindex") && p.toString.contains("_stats"))),
      s"no maintained-stats scan in the gate plan:\n${df.queryExecution.executedPlan}")

    // 2. no count-by-source aggregate reads the corpus: every aggregate
    //    grouping on `source` must sit over the stats scan, never over
    //    documents.parquet
    val srcAggs = all.collect {
      case a: BaseAggregateExec
        if a.groupingExpressions.map(_.toString).exists(_.contains("source")) => a
    }
    srcAggs.foreach { a =>
      val aggScans = flatten(a).collect { case f: FileSourceScanExec => f }
      val corpusScans = aggScans.flatMap(_.relation.location.rootPaths.map(_.toString))
        .filter(_.contains("documents"))
      assert(corpusScans.isEmpty,
        s"per-source aggregate rescans the corpus: $corpusScans\n$a")
    }

    // 3. only the DELTA is ever minhashed (the corpus side is the served
    //    index; d36's discipline holds in the composed gate)
    assertDeltaOnly(minhashGenerators(all), deltaRes = 7L)
  }

  test("e12: serving reads ONLY index tables — no corpus scan, no encode, bucketed codes") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.window.WindowExec
    withoutBroadcast {
      val q = graft.queries.AnnPack.defs
        .find(_.name == "e12_ann_served_topk").getOrElse(fail("no e12"))
      val df = q.run(spark, dir)
      df.collect()
      val all = flatten(df.queryExecution.executedPlan)

      // 1. every file scan reads the PERSISTED index — the source corpus
      //    (embeddings.parquet) never appears in a serving plan
      val scans = all.collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty, "no file scans — expected index-table reads")
      val outside = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
        .filterNot(_.contains("graft_annindex"))
      assert(outside.isEmpty, s"serving scanned non-index paths: $outside")

      // 2. no encode: the PQ encode's signature is a window partitioned
      //    by (vec_id, m) ranking centroids per corpus element — serving
      //    windows rank per QUERY only
      val encodeWindows = all.collect {
        case w: WindowExec
          if w.partitionSpec.size >= 2 &&
            w.partitionSpec.map(_.toString).exists(_.contains("vec_id")) => w
      }
      assert(encodeWindows.isEmpty,
        s"corpus encode window in a serving plan:\n${encodeWindows.mkString("\n")}")

      // 3. the candidate ⋈ codes join reads the code table bucket-aligned
      assert(all.exists { case f: FileSourceScanExec => f.bucketedScan; case _ => false },
        "codes scan not bucketed — the vec_id bucket layout is unused")

      // 4. the posting-list and code scans carry STATIC pcell partition
      //    filters (r14 verdict #2): file IO follows the probed-cell
      //    fraction, not the index size. At this fixture the 40-probe
      //    batch covers every cell, so the filter selects all dirs —
      //    the files-read-fraction ≈ probed-fraction receipt lives in
      //    ScaleRehearsal, where the cell count outgrows the batch.
      val pruned = scans.filter(_.partitionFilters.exists(_.toString.contains("pcell")))
      assert(pruned.size >= 2,
        s"expected pcell partition filters on cells AND codes scans, found ${pruned.size}")
    }
  }

  test("g21: triangles meet through wedge equi-joins, never a product") {
    // the oriented wedge join IS the scale mechanism (each triangle
    // counted once via lo<hi orientation); a product term means the
    // orientation degenerated into all-pairs
    val plan = withoutTriMemo(planOf("g21_triangle_counts"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
  }

  test("e04c (blocked regime): every nested-loop term is centroid-bounded; vector work is shared") {
    // e04c is the entry whose corpus has prunable structure, so the
    // adaptive choice takes the BLOCKED path — the plan-shape claims
    // attach there. (e04's raw corpus is adversarially uniform; see the
    // fallback test below.) Memo off: a memoized persisted result would
    // print as a cached scan instead of the plan under test.
    val plan = withoutPairMemo(planOf("e04c_cosine_near_dup_clustered"))
    // scale invariant: vector rows only meet other vector rows through
    // equi-joins. Nested-loop terms are allowed ONLY against a broadcast
    // of the centroid subset (vec_id < cells) — each BNLJ's build side
    // must be that filtered scan (directly or via ReusedExchange).
    // ≤3 instances: the full-width assignment (shared by all verify-join
    // sides via ReusedExchange), its column-pruned twin feeding the radii
    // aggregate, and the centroid x centroid pair prune.
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nested <= 3, s"vector x centroid assignment re-executed:\n$plan")
    assert(plan.contains("ReusedExchange"), s"no exchange sharing in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian product in:\n$plan")
    assert("LessThan\\(vec_id,".r.findAllIn(plan).nonEmpty,
      s"centroid bound not pushed to the broadcast scan:\n$plan")
  }

  test("e04 (unprunable corpus): the probe routes to the broadcast scan, not blocked overhead") {
    // the raw synthetic corpus is uniform on the sphere — the sizing
    // probe measures partners ≈ C (nil pruning) and the adaptive path
    // must choose the single broadcast all-pairs scan: same exact
    // output, none of the assignment/radii/shuffle-join machinery that
    // made e04 SLOWER than the brute comparator on this fixture
    // (r8 verdict #6: 31s vs 26s at sf1).
    val plan = withoutPairMemo(planOf("e04_cosine_near_dup_blocked"))
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nested === 1, s"fallback should be one broadcast scan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian product in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"blocked-path shuffle joins present in what should be the scan fallback:\n$plan")
  }

  test("d10: candidates come from shuffle equi-joins, never a product") {
    val plan = planOf("d10_ngram_jaccard")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
  }

  test("d20: span coverage is inverted-index aggregates + semi-join, never a product") {
    val plan = planOf("d20_dup_span_coverage")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
  }

  test("d19: cross-corpus banded candidates are equi-joins, never a product") {
    val plan = planOf("d19_fuzzy_decontamination")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
  }

  test("d03: banded candidates are equi-joins, never a product") {
    val plan = withoutSigMemo(planOf("d03_minhash_near_dup"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
  }

  test("d31: span removal has no doc x doc term; the rebuild meets intervals once by doc_id") {
    // the d20-family scale claim carried over to the removal pass: the
    // inverted index and gaps-and-islands keep everything keyed — any
    // product term means the gram index degenerated into pairwise compare
    val plan = planOf("d31_dup_span_removal")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
  }

  test("e10: IVF-PQ candidates come from the cell equi-join; ADC meets codes by key") {
    // the composed index's scale claim: vectors reach queries ONLY via
    // cells ⋈ probes, the ADC table is a broadcast met by (q_id, m, cid)
    // equi-keys, and the exact re-rank touches just the shortlist — any
    // product term means a stage degenerated into the scan it bounds
    val plan = withoutPqIdxMemo(planOf("e10_ann_ivfpq_topk"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
  }

  test("e07: LSH candidates come from bucket equi-joins, never a scan product") {
    // the entire point of the bucketed index: query vectors meet corpus
    // vectors ONLY through the (table, key) equi-join; the exact re-rank
    // joins candidates back by id. Any nested-loop/cartesian term means
    // the index degenerated into the brute scan it exists to avoid.
    val plan = planOf("e07_ann_rhp_lsh_topk")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
  }

  test("m07b: image-hash pairs meet through the half-block equi-join, never a product") {
    // the Manku half-block index IS the point: a hamming<=1 pair must
    // arrive via the equi-join on (blk, bv), not an all-pairs comparison
    val q = graft.queries.ExtensionsPack.defs
      .find(_.name == "m07b_image_ahash_pairs").getOrElse(fail("no m07b"))
    val df = q.run(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
  }

  test("m07d: 64-bit hash pairs meet through the 4-block equi-join, never a product") {
    // the production-scale image-dedup index: hamming<=3 pigeonholes into
    // one of 4 shared 16-bit blocks; candidates must come from the
    // (blk, bv) equi-join at 4 rows/doc, never an all-pairs comparison
    val q = graft.queries.ExtensionsPack.defs
      .find(_.name == "m07d_image_ahash64_pairs").getOrElse(fail("no m07d"))
    val df = q.run(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
  }

  test("q35: funnel stages are aggregates + joins on user_id — no window over the event stream") {
    val q = graft.queries.Relational.defs
      .find(_.name == "q35_funnel_conversion").getOrElse(fail("no q35"))
    val df = q.run(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // rangepartitioning's sort is the output ORDER BY; the funnel itself
    // must contain no Window node (a window formulation would sort every
    // user's full history) and no non-equi join
    assert(!plan.contains("Window ["), s"window over events in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
  }

  test("e02d: integer-IVF candidates come from the cell equi-join; shortlists are group limits") {
    val plan = planOf("e02d_ann_ivf_int_topk")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"assignment/probe argmax should push partial group limits:\n$plan")
  }

  test("d32: incremental dedup meets the corpus only through (band, sig) equi-joins") {
    val plan = withoutSigMemo(planOf("d32_incremental_ingest_dedup"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
  }

  test("d33: the quality cap becomes a map-side window group limit") {
    // same contract as d24: rank<=cap must prune per input partition
    // BEFORE the source-key exchange — a hot domain's rows must not all
    // cross the wire to be sorted and then dropped
    val plan = planOf("d33_source_quality_cap")
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in:\n$plan")
  }

  test("d34: the training shuffle never range-partitions (no global sort)") {
    // the permutation's whole point at scale: one hashpartitioning
    // exchange on the shard key + per-shard local sort. The orderBy in
    // the QDef is dump determinism, not part of the operator — assert
    // on the raw operator plan.
    val df = graft.queries.PipelinePack
      .trainingShardShuffle(graft.Tables.documents(spark, dir))
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    val plan = { val i = s.indexOf("== Initial Plan =="); if (i >= 0) s.substring(0, i) else s }
    assert(!plan.contains("rangepartitioning"),
      s"global sort exchange in the shard shuffle:\n$plan")
    assert(plan.contains("hashpartitioning"), s"expected one shard-key exchange in:\n$plan")
  }

  test("d35: the classifier's apply leg reaches the corpus via a broadcast join") {
    val plan = planOf("d35_token_quality_classifier")
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab should broadcast onto the token stream:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not shuffle on the token key:\n$plan")
  }

  test("e11: filtered-IVF candidates stay a cell equi-join with the label pre-filter") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val q = (graft.queries.AnnPack.defs ++ graft.queries.PipelinePack.defs)
      .find(_.name == "e11_ann_ivf_filtered_topk").getOrElse(fail("no e11"))
    val df = q.run(spark, dir)
    df.collect()
    val plan = planOf("e11_ann_ivf_filtered_topk")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"assignment/probe argmax should push partial group limits:\n$plan")
    // the label predicate must prune the index side before the probe
    // join — it reaches the embeddings scan as a pushed filter, never a
    // post-filter on ranked output. Asserted on the plan TREE: since the
    // coarse-cells memo (r13), the label scan lives inside a broadcast
    // query stage the executed-plan STRING no longer expands.
    val labelPushed = flatten(df.queryExecution.executedPlan).exists {
      case f: FileSourceScanExec =>
        f.metadata.get("PushedFilters").exists(_.contains("EqualTo(label,3)"))
      case _ => false
    }
    assert(labelPushed, s"label filter not pushed to any embeddings scan:\n$plan")
  }

  test("d24: the rank<=k quota becomes a map-side window group limit") {
    // the optimizer must turn `row_number() <= 5` into WindowGroupLimit
    // (partial top-k per input partition BEFORE the stratum shuffle) —
    // without it every stratum is fully sorted, which at 100 TB means
    // sorting the whole corpus to pick 5 docs per source
    val plan = planOf("d24_stratified_sample")
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing (full per-stratum sort) in:\n$plan")
  }

  test("e08: PQ codes/ADC meet the corpus only through broadcast joins") {
    // encode = elements ⋈ broadcast codebook on d; serve (r17) = one
    // code-ARRAY row per vector paired with the broadcast per-query
    // lookup table, ADC computed as an in-projection zip_with over the
    // 8-nibble code vector — the compressed-domain scan. The ONLY
    // permitted nested-loop term is that codes x query-table pairing
    // (broadcast side = Q rows); a second one — or any cartesian —
    // would mean the scan degenerated into the vector product it
    // exists to avoid (the re-rank must stay an equi-join by id).
    val plan = withoutPqIdxMemo(planOf("e08_ann_pq_topk"))
    assert(!plan.contains("CartesianProduct"), s"cartesian product in:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      s"more than the ADC codes x queries pairing is nested-loop in:\n$plan")
    assert(plan.contains("zip_with(cd"),
      s"ADC is not the in-projection array-lookup form:\n$plan")
    // the ADC shortlist (rank <= 80) must plan as a partial top-k per
    // partition, not a full per-query sort of all scored candidates
    assert(plan.contains("WindowGroupLimit"),
      s"ADC shortlist missing WindowGroupLimit pushdown:\n$plan")
  }

  test("e09: every Lloyd round is broadcast equi-joins + aggregates") {
    val plan = planOf("e09_kmeans_train")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
  }

  test("d25: the per-cluster keep argmax is an aggregate, not a window") {
    // min_by over (-quality, doc_id) partial-combines to one candidate
    // per cluster per partition before the exchange; a Window node here
    // would mean every cluster member is shuffled and ranked just to
    // flag one keeper
    val plan = withoutJacMemo(planOf("d25_dedup_keep_best"))
    assert(!plan.contains("Window"), s"window sort in the keep argmax:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian product in:\n$plan")
    assert(plan.contains("partial_min_by") || plan.contains("min_by"),
      s"keeper aggregate missing in:\n$plan")
  }

  test("d22: the bloom probe leg is scan + filter + aggregate — no join node") {
    // the production pipeline runs ONLY the probe leg (flag train docs
    // against the broadcast filter); the report's exact/flagged compare
    // joins exist to gate it. Build the probe leg standalone — same
    // construction as bloomDecontaminationReport — and pin that the eval
    // table never appears as a join: the whole point of the sketch is
    // that the train side stays a scan.
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, dir)
    val sh = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), org.apache.spark.sql.functions.explode(
        expr("transform(sequence(0, size(ts) - 5), i -> concat_ws(' ', slice(ts, i + 1, 5)))"))
        .as("g"))
    val evG = sh.filter(col("doc_id") % 10 === 0).select("g").distinct()
    val bfBytes = graft.functions.BloomProbe.serialize(
      evG.stat.bloomFilter("g", math.max(evG.count(), 1L), 1e-4))
    val flagged = sh.filter(col("doc_id") % 10 =!= 0)
      .filter(graft.functions.BloomProbe.containsCol(col("g"), bfBytes))
      .select("doc_id").distinct()
    flagged.collect()
    val plan = flagged.queryExecution.executedPlan.toString
    for (join <- Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!plan.contains(join), s"$join on the probe leg:\n$plan")
    // the probe is the NATIVE expression, not a ScalaUDF (r12 advice)
    assert(plan.contains("bloomcontains"), s"native probe missing:\n$plan")
    assert(!plan.contains("UDF"), s"ScalaUDF on the probe leg:\n$plan")
  }

  test("s11: the stream-side probe is a UDF-free codegen'd projection") {
    // the decontamination gate's per-document probe must stay inside
    // whole-stage codegen: one native expression, no ScalaUDF conversion,
    // no join node anywhere in the report plan
    val plan = planOf("s11_streaming_decontamination")
    assert(plan.contains("contaminationprobe"), s"native probe missing:\n$plan")
    assert(!plan.contains("UDF"), s"ScalaUDF on the stream side:\n$plan")
    for (join <- Seq("SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!plan.contains(join), s"$join in the report plan:\n$plan")
  }

  test("d30c: the merge-apply pass is map-only — no corpus shuffle, no window") {
    // The 100 TB leg of phrase-merge: the learned table meets the corpus
    // only as a broadcast of ONE aggregated array row; each document is
    // rebuilt by a per-row fold. Build the apply leg standalone (the
    // table a learned artifact, as in production where it is read from a
    // model store, not re-induced) and pin: the ONLY join is the 1-row
    // broadcast (a BNLJ by construction — cross join with no keys), and
    // the corpus side is never exchanged, sorted, or windowed.
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, dir)
    val table = spark.createDataFrame(Seq(
      (1L, "the", "of", 10L), (2L, "the+of", "a", 5L), (3L, "b", "c", 2L)))
      .toDF("round", "l", "r", "c")
    val applied = graft.queries.PipelinePack.applyMergeTable(docs, table)
    applied.collect()
    val s = applied.queryExecution.executedPlan.toString
    val plan = { val i = s.indexOf("== Initial Plan =="); if (i >= 0) s.substring(0, i) else s }
    for (bad <- Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct", "Window"))
      assert(!plan.contains(bad), s"$bad in the apply pass:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size === 1,
      s"apply pass should meet the table exactly once, via broadcast:\n$plan")
    // the corpus leg must be scan -> project: any Exchange beyond the
    // 1-row table's broadcast would mean the corpus itself is shuffled
    assert("Exchange".r.findAllIn(plan).size <= 2, // table agg + broadcast
      s"corpus-side exchange in the apply pass:\n$plan")
  }
}
