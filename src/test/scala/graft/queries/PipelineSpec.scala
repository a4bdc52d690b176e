package graft.queries

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.security.MessageDigest

/** Pipeline-operator verification beyond the DuckDB oracle: the SimHash
  * plain-Scala twin (bit-for-bit), LSH near-dup vs a brute-force recompute,
  * and keep-first dedup semantics on a corpus with actual duplicates.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  test("simhash matches a plain-Scala recompute bit for bit") {
    val docs = graft.Tables.documents(spark, dir)
    val got = PipelinePack.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(texts.nonEmpty)
    val expected = texts.map { case (id, text) =>
      val counts = new Array[Long](60)
      for (tok <- text.split(' ')) {
        val h = java.lang.Long.parseLong(md5hex(tok).take(15), 16)
        for (i <- 0 until 60)
          counts(i) += (if (((h >> i) & 1L) == 1L) 1L else -1L)
      }
      val sim = (0 until 60).map(i => if (counts(i) > 0) 1L << i else 0L).sum
      id -> sim
    }.toMap
    assert(got === expected)
  }

  test("simhash near-dup (3-of-6 block index) equals brute force end to end") {
    val docs = graft.Tables.documents(spark, dir)
    val got = PipelinePack.simhashNearDup(docs, maxHam = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val sh = PipelinePack.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (i, si) <- sh; (j, sj) <- sh if i < j
      ham = java.lang.Long.bitCount(si ^ sj)
      if ham <= 3
    } yield (i, j, ham.toLong)).toSet
    assert(got === expected)
  }

  test("simhash block index: pigeonhole recall and exact Hamming filter") {
    import spark.implicits._
    // Engineered block-level difference patterns against a fixed base:
    //   id 1  base
    //   id 2  == base                       (distance 0 — always found)
    //   id 3  1 bit flipped in block 0      (distance 1)
    //   id 4  3 bits across blocks 0,2,5    (distance 3 — the guarantee
    //         boundary: exactly one clean 3-combo, {1,3,4}, remains)
    //   id 5  4 bits inside block 1         (candidate via any combo
    //         avoiding block 1, but Hamming 4 > 3 — verify must drop it)
    //   id 6  4 bits across blocks 0,1,2,3  (vs base: every 3-combo hits
    //         a dirty block when paired with... still has clean {4,5}+
    //         one of {0..3}? no — needs 3 clean blocks and only {4,5}
    //         are clean → not even a candidate; excluded either way)
    val base = 0x0ABCDEF123456L & ((1L << 60) - 1)
    def flip(h: Long, bits: Seq[Int]): Long = bits.foldLeft(h)((x, b) => x ^ (1L << b))
    val rows = Seq(
      1L -> base,
      2L -> base,
      3L -> flip(base, Seq(5)),
      4L -> flip(base, Seq(3, 25, 57)),
      5L -> flip(base, Seq(11, 13, 16, 19)),
      6L -> flip(base, Seq(2, 12, 22, 32)))
    val sh = rows.toDF("doc_id", "simhash")
    val got = PipelinePack.simhashNearDupFromHashes(sh, maxHam = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (for {
      (i, si) <- rows; (j, sj) <- rows if i < j
      ham = java.lang.Long.bitCount(si ^ sj)
      if ham <= 3
    } yield (i, j, ham.toLong)).toSet
    // the fixture must actually exercise the boundary cases
    assert(expected.contains((1L, 4L, 3L)), "distance-3 pair present")
    assert(rows.toMap.apply(5L) != rows.toMap.apply(1L))
    assert(!expected.exists(p => p._1 == 5L || p._2 == 5L || p._1 == 6L || p._2 == 6L),
      "distance-4 variants excluded from expectation")
    assert(got === expected)
  }

  test("simhash near-dup plan: equi-join candidate generation, never a product") {
    val docs = graft.Tables.documents(spark, dir)
    val plan = PipelinePack.simhashNearDup(docs, maxHam = 3)
      .queryExecution.executedPlan.toString
    // candidates must come from the (combo, 30-bit key) equi-join — an
    // all-pairs product anywhere here defeats the index at scale
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("LSH near-dup equals the brute-force all-pairs recompute") {
    val docs = graft.Tables.documents(spark, dir)
    val got = PipelinePack.nearDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def sh(t: String): Set[String] = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val expected = (for {
      (i, ti) <- texts; (j, tj) <- texts if i < j
      si = sh(ti); sj = sh(tj)
      inter = (si & sj).size
      jac = inter.toDouble / (si.size + sj.size - inter)
      if jac >= 0.5
    } yield (i, j, jac)).toSet
    assert(expected.nonEmpty, "fixture should contain near-dup pairs")
    assert(got === expected)
  }

  test("exact n-gram Jaccard equals brute force; dfCap prunes candidates only") {
    val docs = graft.Tables.documents(spark, dir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = pairs(PipelinePack.ngramJaccardPairs(docs, 0.3))

    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def sh(t: String): Set[String] = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val expected = (for {
      (i, ti) <- texts; (j, tj) <- texts if i < j
      si = sh(ti); sj = sh(tj)
      inter = (si & sj).size
      jac = inter.toDouble / (si.size + sj.size - inter)
      if jac >= 0.3
    } yield (i, j, jac)).toSet
    assert(expected.nonEmpty, "fixture should contain similar pairs at 0.3")
    assert(got === expected)

    // the scale knob: a DF cap may only LOSE pairs (candidate pruning),
    // never change a score, and a cap above every DF changes nothing
    val capped = pairs(PipelinePack.ngramJaccardPairs(docs, 0.3, dfCap = Some(2)))
    assert(capped.subsetOf(got))
    assert(pairs(PipelinePack.ngramJaccardPairs(docs, 0.3, dfCap = Some(1000000L))) === got)

    // adaptive engagement (the d10b production config): on this corpus
    // max df is far below cap x factor, so the cap DISENGAGES and the
    // output is exactly the uncapped set — no recall loss, no capped-path
    // joins; a factor of 0 forces engagement and reproduces the capped set
    assert(pairs(PipelinePack.ngramJaccardPairs(docs, 0.3, dfCap = Some(2),
      capEngageFactor = Some(1000000L))) === got)
    assert(pairs(PipelinePack.ngramJaccardPairs(docs, 0.3, dfCap = Some(2),
      capEngageFactor = Some(0L))) === capped)
  }

  test("fuzzy decontamination equals the exhaustive train x eval recompute") {
    val docs = graft.Tables.documents(spark, dir)
    val got = PipelinePack.fuzzyDecontaminationPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def sh(t: String): Set[String] = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val expected = (for {
      (i, ti) <- texts if i % 10 != 0
      (j, tj) <- texts if j % 10 == 0
      si = sh(ti); sj = sh(tj)
      inter = (si & sj).size
      jac = inter.toDouble / (si.size + sj.size - inter)
      if jac >= 0.5
    } yield (i, j, jac)).toSet
    assert(expected.nonEmpty, "fixture should contain contaminated train docs")
    // banding can only LOSE pairs; on this fixture every pair is
    // near-verbatim (J >= 0.89), so recall must be exhaustive
    assert(got === expected)
    // and direction matters: train on the left, eval on the right
    got.foreach { case (t, e, _) =>
      assert(t % 10 != 0 && e % 10 == 0, s"pair ($t,$e) crosses the split wrongly")
    }
  }

  test("incremental ingest dedup equals the exhaustive delta-vs-earlier recompute") {
    val docs = graft.Tables.documents(spark, dir)
    val got = PipelinePack.incrementalIngestDedup(docs).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))).toSet

    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def sh(t: String): Set[String] = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val deltaIds = texts.map(_._1).filter(_ % 10 == 7)
    val expected = deltaIds.map { d =>
      val sd = sh(texts.toMap.apply(d))
      val partners = for {
        (p, tp) <- texts
        // eligible: already-ingested corpus doc, or an earlier delta row
        if p != d && (p % 10 != 7 || p < d)
        sp = sh(tp)
        inter = (sd & sp).size
        if inter.toDouble / (sd.size + sp.size - inter) >= 0.5
      } yield p
      (d, partners.minOption, if (partners.isEmpty) 1L else 0L)
    }.toSet
    assert(expected.exists(_._3 == 0L), "fixture should flag some delta doc as dup")
    assert(expected.exists(_._3 == 1L), "fixture should keep some delta doc")
    assert(got === expected)
    // exactly one decision row per delta doc
    assert(got.map(_._1) === deltaIds.toSet)
  }

  test("verifyPairsMaterialized above its cap falls back to the shared plan, bit-identical (d32, d38)") {
    import graft.sources.SignatureIndex
    val docs = graft.Tables.documents(spark, dir)
    def same(cands: org.apache.spark.sql.DataFrame): Unit = {
      assert(cands.count() > 1L, "the tiny cap must be exceeded")
      val local = PipelinePack.verifyPairsMaterialized(docs, cands)
      val shared = PipelinePack.verifyPairsMaterialized(docs, cands, cap = 1)
      // the fallback plan reads the lazy candidates, not local relations
      assert(local.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
      assert(!shared.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
      assert(shared.collect().map(_.toString).sorted === local.collect().map(_.toString).sorted)
      assert(local.count() > 0L)
    }
    // d32: delta x corpus candidates from the in-flight signatures
    same(PipelinePack.incrementalCandidates(docs))
    // d38: the delta probing an index that was built, appended to and
    // compacted
    val root = java.nio.file.Files.createTempDirectory("graft-verify-cap")
    try {
      PipelinePack.maintainedIngestDedup(spark, dir, indexRoot = root.toString).collect()
      val path = s"$root/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}_m10d7r8-maint"
      same(PipelinePack.probeIndexCandidates(docs, 10L, 8L,
        SignatureIndex.serveSplit(spark, path)))
    } finally graft.sources.VersionedIndex.walkAll(root).reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  test("d33 source cap keeps exactly the top-10 per source by (quality desc, doc_id)") {
    val docs = graft.Tables.documents(spark, dir)
    val got = PipelinePack.sourceCap(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val rows = docs.select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val expected = rows.toSeq.groupBy(_._1).flatMap { case (src, grp) =>
      val ranked = grp.map { case (_, id, text) =>
        val ws = text.split(' ')
        (id, ws.distinct.length.toLong * 1000000L / ws.length)
      }.sortBy { case (id, qm) => (-qm, id) }.take(10)
      ranked.zipWithIndex.map { case ((id, qm), i) => (src, id, qm, i + 1L) }
    }.toSet
    assert(got === expected)
    // the cap must actually bite: every source has more docs than the cap
    assert(rows.groupBy(_._1).forall(_._2.length > 10))
  }

  test("d34 shard shuffle is a permutation with dense hash-ordered positions") {
    val docs = graft.Tables.documents(spark, dir)
    val got = PipelinePack.trainingShardShuffle(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val expected = ids.toSeq.map { id =>
      val h = md5hex(s"$id:shuffle:v1")
      (id, h, java.lang.Long.parseLong(h.take(8), 16) % 32)
    }.groupBy(_._3).flatMap { case (shard, grp) =>
      grp.sortBy { case (id, h, _) => (h, id) }.zipWithIndex
        .map { case ((id, _, _), i) => (id, shard, i + 1L) }
    }.toSet
    assert(got.toSet === expected)
    assert(got.map(_._1).distinct.length === ids.length, "every doc exactly once")
    assert(got.map(_._2).distinct.length > 1, "fixture spans multiple shards")
  }

  test("d35 minDf probe: base rung on natural vocab, escalation under a tiny budget") {
    val docs = graft.Tables.documents(spark, dir)
    // the synthetic corpus's df>=5 vocabulary is far under the production
    // budget — the base rung wins and d35's behavior is unchanged
    assert(PipelinePack.chooseMinDf(docs) === 5L)
    // a pathological budget forces the ladder up: the chosen rung must be
    // the SMALLEST whose vocabulary fits, and the classifier still runs
    // (every token OOV -> the 500000 prior)
    val rung = PipelinePack.chooseMinDf(docs, vocabBudget = 3L)
    assert(rung > 5L, s"ladder did not escalate under budget 3 (got $rung)")
    val vocabAtRung = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("ct"))
      .filter(col("ct") >= rung).count()
    assert(vocabAtRung <= 3L || rung == 50000L,
      s"rung $rung leaves $vocabAtRung words over budget 3")
    val scored = PipelinePack.tokenQualityClassifier(docs, minDf = rung)
    assert(scored.count() === docs.count())
  }

  test("d34 sized form: shard count derives from bytes/target, same permutation law") {
    val docs = graft.Tables.documents(spark, dir)
    // the contract arithmetic (r13): shards = max(min, ceil(bytes/target))
    assert(PipelinePack.shardCountFor(0L) === 32)
    assert(PipelinePack.shardCountFor(100L << 40) === (100L << 40) / (256L << 20))
    assert(PipelinePack.shardCountFor((256L << 20) + 1, minShards = 1) === 2)
    // the sized form is trainingShardShuffle at the derived modulus —
    // only the shard count changes, never the permutation law
    val bytes = docs.agg(sum(octet_length(col("text"))).cast("long")).head.getLong(0)
    val target = math.max(1L, bytes / 7L) // fixture-scale: derive ~7 shards
    val n = PipelinePack.shardCountFor(bytes, target, minShards = 1)
    assert(n >= 7 && n <= 8, s"derived $n shards from $bytes bytes / $target target")
    val sized = PipelinePack.trainingShardShuffleSized(docs, target, minShards = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = PipelinePack.trainingShardShuffle(docs, n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sized === direct)
  }

  test("d34 output is invariant to input partitioning (the executor-count claim)") {
    // the operator's scale contract: shard + position derive from the
    // salted hash alone, so however the corpus arrives partitioned the
    // output rows are identical — re-run under three layouts and compare
    val docs = graft.Tables.documents(spark, dir)
    def run(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      PipelinePack.trainingShardShuffle(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val base = run(docs)
    assert(run(docs.repartition(1)) === base)
    assert(run(docs.repartition(17, col("source"))) === base)
  }

  test("d35 classifier scores equal a plain-Scala retrain + rescore") {
    // the entry's rare-token augmentation, so the OOV branch is live
    val docs = graft.Tables.documents(spark, dir).withColumn("text",
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" xq"), col("doc_id").cast("string")))
        .otherwise(col("text")))
    val got = PipelinePack.tokenQualityClassifier(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rows = docs.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val occ = rows.flatMap { case (id, src, text) =>
      val good = src.drop(3).toLong % 2 == 0
      text.split(' ').map(w => (id, w, good))
    }
    val vocab = occ.groupBy(_._2).collect {
      case (w, os) if os.length >= 5 =>
        w -> (os.count(_._3) + 1L) * 1000000L / (os.length + 2L)
    }
    // OOV prior path must be exercised: some occurrence's token is below minDf
    assert(occ.exists { case (_, w, _) => !vocab.contains(w) },
      "fixture should have at least one out-of-vocabulary occurrence")
    val expected = occ.groupBy(_._1).map { case (id, os) =>
      val scores = os.map { case (_, w, _) => vocab.getOrElse(w, 500000L) }
      (id, os.length.toLong, scores.sum / os.length)
    }.toSet
    assert(got === expected)
  }

  test("dup-span coverage equals a plain-Scala exhaustive recompute") {
    val docs = graft.Tables.documents(spark, dir)
    val n = 10
    val got = PipelinePack.dupSpanCoverage(docs, n).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(' '))
    // gram -> set of docs containing it
    val docsOf = scala.collection.mutable.Map.empty[String, Set[Long]]
    for ((id, ws) <- texts; i <- 0 to ws.length - n)
      docsOf.updateWith(ws.slice(i, i + n).mkString(" "))(o => Some(o.getOrElse(Set.empty) + id))
    val expected = texts.map { case (id, ws) =>
      val covered = (for {
        i <- (0 to ws.length - n)
        if docsOf(ws.slice(i, i + n).mkString(" ")).size > 1
        p <- i until i + n
      } yield p).toSet.size.toLong
      id -> ((ws.length.toLong, covered, covered * 1000000L / ws.length))
    }.toMap
    assert(expected.values.exists(_._2 > 0), "fixture should contain duplicated spans")
    assert(expected.values.exists(_._2 == 0), "fixture should contain clean docs")
    assert(got === expected)
  }

  test("dup-span removal: keep-first, exact positions, text rebuilt byte-for-byte") {
    val docs = graft.Tables.documents(spark, dir)
    val n = 10
    val got = PipelinePack.dupSpanRemoval(docs, n).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(' '))
    // gram -> earliest doc containing it (the keep-first owner)
    val firstOf = scala.collection.mutable.Map.empty[String, Long]
    for ((id, ws) <- texts; i <- 0 to ws.length - n) {
      val g = ws.slice(i, i + n).mkString(" ")
      firstOf.updateWith(g)(o => Some(o.fold(id)(math.min(_, id))))
    }
    val expected = texts.map { case (id, ws) =>
      val removed = (for {
        i <- 0 to ws.length - n
        if firstOf(ws.slice(i, i + n).mkString(" ")) < id
        p <- i until i + n
      } yield p).toSet
      val kept = ws.indices.filterNot(removed).map(ws)
      id -> ((ws.length.toLong, removed.size.toLong, kept.mkString(" ")))
    }.toMap
    assert(expected.values.exists(_._2 > 0), "fixture should remove some spans")
    assert(expected.values.exists(_._2 == 0), "fixture should keep some docs whole")
    assert(got === expected)
  }

  test("template corpus: dfCap is non-vacuous, loses only footer-only pairs, prunes >5x volume") {
    val docs = PipelinePack.templateDocs(graft.Tables.documents(spark, dir))
    def sh(t: String): Set[String] = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1))

    // the footer's shingles really are hot (df >> cap) while organic
    // shingles stay cold — the separation the cap rides on
    val df = texts.toSeq.flatMap { case (_, t) => sh(t).toSeq }
      .groupBy(identity).view.mapValues(_.size).toMap
    val footerGrams = PipelinePack.TemplateFooter.split(' ').sliding(3).map(_.mkString(" ")).toSet
    footerGrams.foreach { g =>
      assert(df(g) > PipelinePack.TemplateDfCap,
        s"footer shingle '$g' df=${df(g)} not above cap — fixture regression")
    }

    // join volume = sum over shingles of df*(df-1)/2; the cap must buy a
    // real reduction (the entire point of d10c vs d10d)
    def volume(m: Iterable[Int]): Double = m.map(d => d.toDouble * (d - 1) / 2).sum
    val all = volume(df.values)
    val coldVol = volume(df.collect { case (_, d) if d <= PipelinePack.TemplateDfCap => d })
    assert(all / coldVol > 5.0, s"cap prunes only ${all / coldVol}x of $all joined rows")

    // the exclusion's recall loss is EXACTLY the boilerplate-only pairs:
    // every pair the cap drops shares no cold shingle (similar only via
    // the footer — the classic boilerplate false-dup a dedup pipeline
    // WANTS excluded), and every pair sharing at least one cold shingle
    // survives with an identical score
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = pairs(PipelinePack.ngramJaccardPairs(docs, 0.3, dfCap = Some(PipelinePack.TemplateDfCap)))
    val uncapped = pairs(PipelinePack.ngramJaccardPairs(docs, 0.3))
    assert(capped.subsetOf(uncapped))
    assert(capped.nonEmpty, "organic near-dups must survive the cap")
    val shOf = texts.toMap.map { case (id, t) => id -> sh(t) }
    val coldSet = df.collect { case (g, d) if d <= PipelinePack.TemplateDfCap => g }.toSet
    (uncapped -- capped).foreach { case (i, j, _) =>
      assert((shOf(i) & shOf(j) & coldSet).isEmpty,
        s"pair ($i,$j) shares a cold shingle but was dropped by the cap")
    }
    assert((uncapped -- capped).nonEmpty,
      "fixture should demonstrate the boilerplate-only exclusion non-vacuously")
  }

  test("near-dup pins nothing in executor storage and reuses the shingle exchange") {
    val docs = graft.Tables.documents(spark, dir)
    // other suites sharing this session cache legitimately (BFS edge
    // snapshots); what must hold is that nearDupPairs adds NOTHING
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val df = PipelinePack.nearDupPairs(docs)
    df.collect()
    // r03's leak: a persist() inside nearDupPairs pinned a shingle-table
    // copy per invocation for the session lifetime. The shared computation
    // now rides on shuffle reuse instead of the block manager.
    assert(spark.sparkContext.getPersistentRDDs.keySet === pinnedBefore,
      "nearDupPairs must not leave cached RDDs behind")
    // and the sharing is real: the distinct-shingle exchange appears as a
    // reused exchange in the executed plan, not as four separate scans
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("TableCacheQueryStage"),
      s"expected a reused exchange in:\n$plan")
  }

  test("decontamination equals a brute-force gram-set intersection; eval side broadcasts") {
    val docs = graft.Tables.documents(spark, dir)
    val dfOut = PipelinePack.decontaminationPairs(docs, n = 4, evalMod = 10L)
    val got = dfOut.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    // sequential twin: distinct 4-gram sets per doc, pairwise intersect
    val texts = docs.select("doc_id", "text").collect()
      // split(" ", -1) keeps trailing empty tokens like Spark's split();
      // sliding yields one SHORT window on <4-token docs where grams()
      // emits none — hence the length filter
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).sliding(4)
        .filter(_.length == 4)
        .map(_.mkString(" ")).toSet)
    val (ev, tr) = texts.partition(_._1 % 10 == 0)
    val expected = (for {
      (t, tg) <- tr; (e, eg) <- ev
      shared = (tg & eg).size if shared > 0
    } yield (t, e) -> shared.toLong).toMap
    assert(got === expected)
    assert(got.nonEmpty, "fixture must actually contain contamination")
    assert(got.keys.forall { case (t, e) => t % 10 != 0 && e % 10 == 0 })
    // the mod-slice configuration carries NO broadcast hint (the slice
    // scales with the corpus — r5 advice); at this tiny SF AQE still
    // picks broadcast on its own, which is exactly the point
    val plan = dfOut.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // the PRODUCTION shape (external benchmark-sized eval table) hints
    // the broadcast explicitly: one broadcast-hash join over the
    // training scan at any corpus size
    val sh = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("g"))
    val prod = PipelinePack.decontaminationAgainst(
      sh.filter("doc_id >= 20"), sh.filter("doc_id < 20"))
    prod.collect()
    val prodPlan = prod.queryExecution.executedPlan.toString
    assert(prodPlan.contains("BroadcastHashJoin"), prodPlan.take(800))
  }

  test("dedup clusters close pairs transitively: a chain is one family") {
    import spark.implicits._
    // a 5-link chain: doc k shares a 4-token run with doc k+1 only —
    // adjacent Jaccard is exactly 2/10 = 0.2 (2 shared of 6+6 shingles),
    // cleared at threshold 0.15 — while the chain ends share
    // nothing — label propagation must walk the full diameter (the
    // 3-doc closure case A~B~C with A!~C lives inside it), and two
    // far-away docs must stay singleton clusters
    val runs = (0 to 5).map(k => s"run${k}a run${k}b run${k}c run${k}d")
    val chain = (0 until 5).map(k => (10L + k, runs(k) + " " + runs(k + 1)))
    val docs = (chain ++ Seq((50L, "lonely text one entirely"), (60L, "other text two entirely")))
      .toDF("doc_id", "text")

    val got = PipelinePack.nearDupClusters(docs, threshold = 0.15).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (10L until 15L).map(_ -> 10L).toMap ++ Map(50L -> 50L, 60L -> 60L)
    assert(got === expected)

    // sanity on the premise: adjacent pairs only (no shortcut edges)
    val pairs = PipelinePack.ngramJaccardPairs(docs, threshold = 0.15)
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (10L until 14L).map(k => (k, k + 1)).toSet)
  }

  test("dedup clusters: 320-doc near-dup chain converges in O(log n) rounds") {
    import spark.implicits._
    // Template-drift shape: doc k = tokens [10k, 10k+30) of one long
    // distinct-token stream, so consecutive docs share 20 tokens
    // (Jaccard 18/38 ≈ 0.47 ≥ 0.3) and docs two apart share 10
    // (8/48 ≈ 0.17 < 0.3) — a pure 320-link chain, diameter 319. Round
    // 5's min-label propagation was O(diameter) with a 100-round guard
    // and COULD NOT finish this fixture; star contraction must close it
    // in logarithmic rounds.
    val n = 320
    val docs = (0 until n).map { k =>
      (k.toLong, (10 * k until 10 * k + 30).map(i => s"w$i").mkString(" "))
    }.toDF("doc_id", "text")

    val pairs = PipelinePack.ngramJaccardPairs(docs, threshold = 0.3)
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (0L until (n - 1).toLong).map(k => (k, k + 1)).toSet,
      "premise: adjacent pairs only — the component is a pure chain")

    val (labels, rounds) = PipelinePack.connectedComponents(
      docs.select(col("doc_id")), PipelinePack.ngramJaccardPairs(docs, threshold = 0.3)
        .select("doc_i", "doc_j"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0 until n).map(k => k.toLong -> 0L).toMap,
      "the whole chain is one family labeled by its minimum")
    val bound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt + 2
    assert(rounds <= bound, s"expected O(log n) convergence: $rounds rounds > bound $bound")
  }

  test("connected components match a sequential union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      val nNodes = 30
      val edges = Seq.fill(40)((rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      val nodesDf = (0 until nNodes).map(_.toLong).toDF("doc_id")
      val pairsDf = edges.toDF("doc_i", "doc_j")
      val (labels, _) = PipelinePack.connectedComponents(nodesDf, pairsDf)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      // sequential union-find twin
      val parent = Array.tabulate(nNodes)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt)); if (ra != rb) parent(ra) = rb
      }
      val roots = (0 until nNodes).groupBy(find).map { case (_, ms) => ms.map(_.toLong) }
      val expected = roots.flatMap(ms => ms.map(_ -> ms.min)).toMap
      assert(got === expected, s"trial $trial: labels diverge from union-find")
    }
  }

  test("keep-first dedup keeps the lowest doc_id per normalized content") {
    import spark.implicits._
    val df = Seq(
      (10L, "Hello  World"),
      (3L, "hello world"),   // same normalized content, lower id -> keeper
      (7L, "other doc"),
      (8L, "hello world "))  // trailing space normalizes away
      .toDF("doc_id", "text")
    val kept = df.groupBy(md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(3L, 7L))
  }

  test("pii redaction handles boundary positions, multiples and clean text") {
    import spark.implicits._
    val df = Seq(
      (1L, "a@b.co starts and ends x.y@z-1.example.org"), // start + end of string
      (2L, "two hosts 1.2.3.4 and 255.255.255.255 here"),
      (3L, "no pii in this perfectly ordinary sentence"),
      (4L, "mixed bob_smith+tag@mail.co at 10.0.0.1"),
      (5L, "dots 1.2.3 are not an address nor is v1.2.3.x4"), // quad needs 4 digit groups
      (6L, "bad quads 999.1.2.3 and 256.1.1.1 and 1234.5.6.7 stay whole"),
      (7L, "edge octets 0.0.0.0 and 250.199.99.9 but not 025.1.1.1"))
      .toDF("doc_id", "text")
    val got = PipelinePack.piiRedact(df, "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got(0) === ((1L, 2L, 0L, "<EMAIL> starts and ends <EMAIL>")))
    assert(got(1) === ((2L, 0L, 2L, "two hosts <IP> and <IP> here")))
    assert(got(2) === ((3L, 0L, 0L, "no pii in this perfectly ordinary sentence")))
    assert(got(3) === ((4L, 1L, 1L, "mixed <EMAIL> at <IP>")))
    assert(got(4) === ((5L, 0L, 0L, "dots 1.2.3 are not an address nor is v1.2.3.x4")))
    // out-of-range octets and digit runs must stay untouched end-to-end —
    // the unanchored pattern used to redact 3 digits OUT OF THE MIDDLE of
    // "1234.5.6.7890"-style runs (round-6 advice)
    assert(got(5) === ((6L, 0L, 0L, "bad quads 999.1.2.3 and 256.1.1.1 and 1234.5.6.7 stay whole")))
    assert(got(6) === ((7L, 0L, 2L, "edge octets <IP> and <IP> but not 025.1.1.1")))
  }

  private def docTexts(): Array[(Long, String)] =
    graft.Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))

  private def grams5(t: String): Set[String] =
    t.split(' ').sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet

  test("bloom decontamination: zero false negatives, fp in bound, counts match twin") {
    val row = PipelinePack.bloomDecontaminationReport(
      graft.Tables.documents(spark, dir)).collect().head
    val texts = docTexts()
    val ev = texts.filter(_._1 % 10 == 0).flatMap(t => grams5(t._2)).toSet
    val nTrain = texts.count(t => t._1 % 10 != 0 && grams5(t._2).nonEmpty)
    val nExact = texts.count(t => t._1 % 10 != 0 && grams5(t._2).exists(ev.contains))
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ===
      ((nTrain.toLong, nExact.toLong, 0L, 0L)))
  }

  test("bloom decontamination: the eval-gram filter memoizes; a warm plan-build runs zero jobs") {
    // r18 (VERDICT r17 #7): the Bloom bit array is a pure function of the
    // corpus — the first keyed call pays the two eager build jobs (count +
    // OR-fold aggregate), a second call with the same key must construct
    // its plan from the memoized bytes with ZERO Spark jobs, and the
    // memoized report must equal the memo-free one bit-for-bit.
    val docs = graft.Tables.documents(spark, dir)
    val free = PipelinePack.bloomDecontaminationReport(docs)
      .collect().head.toSeq
    val key = Some(s"$dir/documents#spec")
    PipelinePack.bloomDecontaminationReport(docs, cacheKey = key) // warm the memo
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen = new java.util.concurrent.atomic.AtomicReference[String]("")
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case g @ ("graft-bloom-pre" | "graft-bloom-post") => seen.set(g)
          case _ => ()
        }
      }
    }
    def marker(group: String): Unit = {
      spark.sparkContext.setJobGroup(group, group)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (seen.get() != group && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.get() === group, s"$group never reached the listener")
    }
    spark.sparkContext.addSparkListener(listener)
    val warm =
      try {
        marker("graft-bloom-pre")
        jobs.set(0)
        val df = PipelinePack.bloomDecontaminationReport(docs, cacheKey = key)
        marker("graft-bloom-post")
        assert(jobs.get() === 1,
          s"warm bloom plan-build ran ${jobs.get() - 1} Spark job(s); expected 0")
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(warm.collect().head.toSeq === free)
  }

  test("tfidf top terms match a plain-Scala recompute") {
    val got = graft.SparkEntry.queries("d23_tfidf_top_terms")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val texts = docTexts()
    val tf = texts.flatMap { case (id, t) =>
      t.split(' ').groupBy(identity).map { case (w, a) => ((id, w), a.length.toLong) }
    }.toMap
    val dfm = tf.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
    val n = texts.length.toLong
    val expected = texts.map(_._1).sorted.flatMap { id =>
      tf.collect { case ((i, w), c) if i == id => (w, c) }.toSeq
        .map { case (w, c) => (w, c, dfm(w), c * (1000000L * n / dfm(w))) }
        .sortBy { case (w, _, _, sc) => (-sc, w) }
        .take(3).zipWithIndex
        .map { case ((w, c, d, sc), i) => (id, w, c, d, sc, (i + 1).toLong) }
    }
    assert(got === expected)
  }

  test("stratified sample is the md5-ranked quota per source, reproducibly") {
    val docs = graft.Tables.documents(spark, dir)
    val got = graft.SparkEntry.queries("d24_stratified_sample")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val rows = docs.select("source", "doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (src, ds) =>
      ds.map(_._2).sortBy(id => (md5hex(s"$id:sample:v1"), id)).take(5)
        .zipWithIndex.map { case (id, i) => (src, id, (i + 1).toLong) }
    }
    assert(got === expected)
    // a second run draws the identical sample (no RNG state anywhere)
    val again = graft.SparkEntry.queries("d24_stratified_sample")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(again === got)
  }

  test("phrase merge: greedy non-overlap, deterministic winner, cross-round compounding") {
    import spark.implicits._
    // doc 1: (x,y) x3 — wins round 2, compounds in round 3;
    // doc 2: (z,z) x4 — wins round 1 and exercises the overlapping-run
    //        rule (z z z z z merges greedily to [z+z, z+z, z]);
    // doc 3: single token — must pass through untouched.
    val docs = Seq(
      (1L, "x y x y x y"),
      (2L, "z z z z z"),
      (3L, "solo")).toDF("doc_id", "text")
    val (merged, table) = PipelinePack.phraseMerge(docs, rounds = 3)
    val got = merged.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(2L) === Seq("z+z", "z+z", "z"))
    assert(got(1L) === Seq("x+y+x+y", "x+y"))
    assert(got(3L) === Seq("solo"))
    val gotTable = table.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    assert(gotTable === Seq((1L, "z", "z", 4L), (2L, "x", "y", 3L),
      (3L, "x+y", "x+y", 2L)))

    // sequential plain-Scala twin of the same three rounds — the per-doc
    // window formulation must equal a literal left-to-right greedy scan
    def round(ds: Map[Long, Vector[String]]): (Map[Long, Vector[String]], (String, String, Long)) = {
      val counts = ds.values.flatMap(ts => ts.zip(ts.drop(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val ((l, r), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      val nd = ds.view.mapValues { ts =>
        val out = Vector.newBuilder[String]; var i = 0
        while (i < ts.length) {
          if (i + 1 < ts.length && ts(i) == l && ts(i + 1) == r) {
            out += s"$l+$r"; i += 2
          } else { out += ts(i); i += 1 }
        }
        out.result()
      }.toMap
      (nd, (l, r, c))
    }
    var tw = Map(1L -> Vector("x", "y", "x", "y", "x", "y"),
      2L -> Vector("z", "z", "z", "z", "z"), 3L -> Vector("solo"))
    val twTable = (1 to 3).map { i =>
      val (nd, w) = round(tw); tw = nd; (i.toLong, w._1, w._2, w._3)
    }
    assert(got === tw.view.mapValues(_.toSeq).toMap)
    assert(gotTable === twTable)
  }

  test("keep-best dedup flags exactly the max-quality member of every cluster") {
    val docs = graft.Tables.documents(spark, dir)
    val got = PipelinePack.dedupKeepBest(docs, threshold = 0.3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // twin: clusters from the (separately verified) cluster op, quality
    // recomputed in plain Scala with the same integer-millionths rule
    val clusters = PipelinePack.nearDupClusters(docs, threshold = 0.3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qm = docs.select("doc_id", "text").collect().map { r =>
      val toks = r.getString(1).split(' ')
      r.getLong(0) -> toks.distinct.length.toLong * 1000000L / toks.length
    }.toMap
    val kept = clusters.groupBy(_._2).values.map { members =>
      members.keys.minBy(id => (-qm(id), id))
    }.toSet
    val expected = clusters.map { case (id, cl) =>
      id -> (cl, if (kept(id)) 1L else 0L)
    }
    assert(got === expected)
    // exactly one keeper per cluster, and the corpus has real multi-doc
    // clusters so the argmax is exercised
    val byCluster = got.groupBy(_._2._1)
    assert(byCluster.exists(_._2.size > 1), "premise: a multi-doc cluster exists")
    assert(byCluster.forall(_._2.count(_._2._2 == 1L) == 1))
  }

  test("sequence packing fills per-source windows greedily in stream order") {
    val docs = graft.Tables.documents(spark, dir)
    val got = graft.SparkEntry.queries("d27_sequence_packing")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

    val rows = docs.select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(' ').length.toLong))
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (src, ds) =>
      var cum = 0L
      ds.sortBy(_._2).map { case (_, id, n) =>
        val start = cum; cum += n
        (src, id, n, start / 2048, start % 2048)
      }
    }
    assert(got.toSeq === expected)

    // bin rollover on a synthetic shard: 1500-token docs pack 0/0/1 —
    // the real corpus at sf0.001 never fills a 2048 window per source
    import spark.implicits._
    val synth = Seq(
      ("s", 1L, Seq.fill(1500)("w").mkString(" ")),
      ("s", 2L, Seq.fill(1500)("w").mkString(" ")),
      ("s", 3L, Seq.fill(1500)("w").mkString(" "))
    ).toDF("source", "doc_id", "text")
    val bins = PipelinePack.packSequences(synth).orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(bins.toSeq === Seq((1L, 0L, 0L), (2L, 0L, 1500L), (3L, 1L, 952L)))
  }

  test("semantic dedup matches a brute-cosine + union-find + argmax twin") {
    val docs = graft.Tables.documents(spark, dir)
    val emb = graft.Tables.embeddings(spark, dir)
    val got = PipelinePack.semanticDedup(docs, emb, threshold = 0.45).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dab = 0.0; var daa = 0.0; var dbb = 0.0
      var i = 0
      while (i < a.length) {
        dab += a(i).toDouble * b(i).toDouble
        daa += a(i).toDouble * a(i).toDouble
        dbb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dab / math.sqrt(daa) / math.sqrt(dbb)
    }
    val parent = scala.collection.mutable.Map(vecs.map(v => v._1 -> v._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for {
      (a, va) <- vecs; (b, vb) <- vecs
      if a < b && cos(va, vb) >= 0.45
    } { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    val clusters = vecs.map(_._1).groupBy(find)
      .values.flatMap(ms => ms.map(_ -> ms.min)).toMap
    val qm = docs.select("doc_id", "text").collect().map { r =>
      val toks = r.getString(1).split(' ')
      r.getLong(0) -> toks.distinct.length.toLong * 1000000L / toks.length
    }.toMap
    val kept = clusters.groupBy(_._2).values
      .map(ms => ms.keys.minBy(id => (-qm(id), id))).toSet
    val expected = clusters.map { case (id, cl) =>
      id -> (cl, if (kept(id)) 1L else 0L)
    }
    assert(got === expected)
  }
}
