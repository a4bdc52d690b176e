package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import java.nio.file.{Files, Paths}

/** The MAINTAINED MinHash signature index as a PERSISTED, versioned,
  * bucketed table — the build/probe split d32's contract describes
  * (reference analogue: the persistent entity index kept warm beside the
  * store, kremis redb_graph.rs:84-86,149-162). A real pipeline ingests
  * daily deltas across sessions; without this, every session re-minhashes
  * the full corpus to rebuild the (band, sig) side before it can probe.
  *
  * Storage, versioning, locking and catalog discipline live in
  * [[VersionedIndex]] (one CURRENT-pointer/hardlink-snapshot core shared
  * by the whole index family — r14 verdict #4); this object binds them to
  * the (doc_id, band, sig) schema:
  *
  *   - segments are written `bucketBy(buckets, band, sig)`, and [[serve]]
  *     registers the committed version as an external bucketed catalog
  *     table, so the probe join reads the index as already
  *     hash-partitioned — NO Exchange on the index side of delta ⋈ index,
  *     whatever the index size (ExplainSpec pins this for d36). The
  *     bucket count is derived from estimated index bytes at build
  *     ([[VersionedIndex.bucketsFor]] — thousands at 100 TB, the minimum
  *     on a fixture) unless the caller pins one.
  *   - [[append]] is manifest-gated (a replayed foreachBatch micro-batch
  *     commits exactly once) and additionally SEMANTICALLY idempotent
  *     downstream: candidate generation `.distinct()`s, so even an
  *     at-least-once writer would only cost storage, never correctness.
  *   - beside each segment's signatures rides an optional per-source
  *     STATS table (`_stats`: source, n — hidden from the bucketed
  *     listing) committed in the SAME publish, so admission-quota serving
  *     reads maintained metadata instead of re-aggregating the corpus
  *     (d37's gate; reference analogue: metadata maintained in the same
  *     txn as the data, kremis redb_graph.rs:34,355-358).
  *
  * Locks are scoped (r14 verdict #6): builds/appends hold the per-path
  * write lock; [[serve]] and a warm [[ensure]] never take it, so a build
  * of version N+1 never blocks serving committed version N.
  */
object SignatureIndex {

  /** Estimated on-disk footprint per signature row (doc_id + band + sig
    * + columnar overhead) — feeds [[VersionedIndex.bucketsFor]] when the
    * caller doesn't pin a bucket count. `private[graft]` so the scale
    * rehearsal's derived-buckets receipt reads the SAME constant instead
    * of a drifting copy.
    */
  private[graft] val EstSigRowBytes = 24L

  /** Build invocations this JVM has run — rehearsal/spec receipt that
    * serving from a committed index does NOT rebuild it.
    */
  @volatile private[graft] var buildCount: Long = 0L

  def currentVersion(path: String): Option[String] =
    VersionedIndex.currentVersion(path)

  def readMeta(path: String): Option[VersionedIndex.Meta] =
    VersionedIndex.readMeta(path)

  def dirFingerprint(dataPath: String): String =
    VersionedIndex.dirFingerprint(dataPath)

  /** Segment tables: signatures at the segment root, per-source stats
    * hidden beside them; PLAIN small-delta signatures under the hidden
    * `_plain` name (the "_" prefix keeps them out of the bucketed
    * catalog table's recursive LOCATION listing, exactly like `_stats`).
    */
  private val Tables = Seq("", "_stats", "_plain")

  /** The schemas segments are written with (the casts in [[writeSegment]]
    * and the plain-delta leg of `append`): serve-path reads pass them, so
    * a warm serve infers nothing from the files.
    */
  private val SigSchema = "doc_id BIGINT, band INT, sig BIGINT"
  private val StatsSchema = "source STRING, n BIGINT"

  /** Row ceiling under which a delta's signatures are written PLAIN
    * (r16 verdict #1 — the [[AnnIndex.PlainDeltaMaxRows]] move for the
    * signature leg): 256k (doc_id, band, sig) rows ≈ 6 MB on disk,
    * broadcast-sized by definition. A plain append is one single-file
    * parquet write instead of the bucketed-catalog machinery whose
    * fixed ~4s toll dominates a tiny segment; probes meet plain
    * segments through a broadcast join leg ([[serveSplit]]) and the
    * next size-tiered [[compact]] folds them into the bucket layout.
    */
  val PlainDeltaMaxRows: Long = 262144L

  private def writeSegment(sigs: DataFrame, path: String, segName: String,
      buckets: Int, stats: Option[DataFrame]): Unit = {
    VersionedIndex.writeBucketedFiles(
      sigs.selectExpr("CAST(doc_id AS BIGINT) AS doc_id",
        "CAST(band AS INT) AS band", "CAST(sig AS BIGINT) AS sig"),
      s"$path/seg/$segName", buckets, Seq("band", "sig"), Seq("band", "sig"),
      kind = "sigseg")
    stats.foreach { st =>
      st.selectExpr("CAST(source AS STRING) AS source", "CAST(n AS BIGINT) AS n")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/seg/$segName/_stats")
    }
  }

  /** Full (re)build: one corpus-wide signature pass, committed as the new
    * base. Existing versions keep serving until the CURRENT swap. With
    * `buckets = 0` (the default) the count derives from the measured
    * signature rows and a target bucket size; `stats` (source, n rows for
    * the SAME base corpus) commits in the same publish.
    */
  /** `carryLedger` as in [[AnnIndex.build]]: true preserves the append
    * ledger across a retrain-shaped rebuild (the new base derives from
    * the grown corpus, replayed batches must still no-op); the default
    * false frees old segment names after a changed-corpus rebuild.
    */
  def build(sigs: DataFrame, path: String, fingerprint: String,
      buckets: Int = 0, stats: Option[DataFrame] = None,
      carryLedger: Boolean = false): Unit =
    VersionedIndex.withWriteLock(path) {
      // measured-then-decide: one count over the pinned signature set
      // (build-time only — serves never touch this). The sizing count
      // runs INSIDE the try so its failure cannot leak the pinned blocks
      // (persist() itself is lazy metadata, not a job).
      val pinned = if (buckets > 0) None else Some(
        sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      try {
        val s = pinned.getOrElse(sigs)
        val b =
          if (buckets > 0) buckets
          else VersionedIndex.bucketsFor(s.count() * EstSigRowBytes)
        val next = VersionedIndex.claimNext(path) // optimistic commit (r14 #3)
        try {
          val segName = s"base-v$next"
          writeSegment(s, path, segName, b, stats)
          val ledger =
            if (carryLedger)
              VersionedIndex.readMeta(path).map(_.segments).getOrElse(Nil)
            else Nil
          VersionedIndex.publish(path, next,
            VersionedIndex.Meta(b, fingerprint, ledger :+ segName,
              Seq(segName), 0L), Tables)
        } finally VersionedIndex.releaseClaim(path, next)
        buildCount += 1
      } finally pinned.foreach(_.unpersist(blocking = false))
    }

  /** Idempotently append a delta's signatures as segment `segName`
    * (callers use deterministic names — "batch-<batchId>" from a
    * foreachBatch maintenance leg). Returns false (and writes nothing)
    * when that segment is already committed: the exactly-once contract a
    * replayed micro-batch needs. Cost is O(delta), never a base rewrite.
    * `stats` (the DELTA's per-source counts) commits in the same publish,
    * so the maintained stats stay transactionally consistent with the
    * signatures.
    */
  def append(sigs: DataFrame, segName: String, path: String,
      stats: Option[DataFrame] = None,
      plainMaxRows: Long = PlainDeltaMaxRows): Boolean =
    VersionedIndex.withWriteLock(path) {
      val meta = readMeta(path).getOrElse(
        throw new IllegalStateException(s"signature index not initialized: $path"))
      if (meta.segments.contains(segName)) false
      else {
        val next = VersionedIndex.claimNext(path)
        try {
          // rebase on the claim's frozen predecessor — another PROCESS
          // may have committed between the check above and the claim
          val m = readMeta(path).get
          if (m.segments.contains(segName)) false
          else {
            // one O(delta) count decides the layout and records the
            // manifest row count (see Meta.liveRows); the signatures are
            // pinned across the count and the write, so the delta is
            // derived once (the build discipline)
            val pinned = sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val segRows = pinned.count()
              val usePlain = segRows <= plainMaxRows
              if (usePlain) {
                pinned.selectExpr("CAST(doc_id AS BIGINT) AS doc_id",
                    "CAST(band AS INT) AS band", "CAST(sig AS BIGINT) AS sig")
                  .repartition(1).sortWithinPartitions("band", "sig")
                  .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
                  .parquet(s"$path/seg/$segName/_plain")
                stats.foreach { st =>
                  st.selectExpr("CAST(source AS STRING) AS source",
                      "CAST(n AS BIGINT) AS n")
                    .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
                    .parquet(s"$path/seg/$segName/_stats")
                }
              } else writeSegment(pinned, path, segName, m.buckets, stats)
              val liveRows =
                if (m.liveRows.size == m.live.size) m.liveRows :+ segRows
                else Nil
              VersionedIndex.publish(path, next,
                m.copy(segments = m.segments :+ segName,
                  live = m.live :+ segName, liveRows = liveRows,
                  plain = if (usePlain) m.plain :+ segName else m.plain),
                Tables)
              true
            } finally pinned.unpersist(blocking = false)
          }
        } finally VersionedIndex.releaseClaim(path, next)
      }
    }

  /** Compaction — the small-files leg of the maintenance contract: a
    * long-running stream commits one segment per micro-batch, and while
    * each append is O(delta), the COMMITTED version accumulates
    * O(batches) files per bucket; probe-side scan cost follows file
    * count, not data size (the small-files problem an Iceberg
    * `rewriteDataFiles` exists for). SIZE-TIERED (r15 verdict #3):
    * rewrites the smallest [[VersionedIndex.compactionCandidates]] tier
    * of live segments into ONE (same bucket layout, so probes stay
    * Exchange-free) and publishes it under the CURRENT swap — a
    * cadence-triggered compact rewrites the delta pile, never the whole
    * live set, and the base only when the pile reaches its size tier.
    * Readers keep the version they resolved, and the append LEDGER is
    * preserved verbatim, so a micro-batch replayed after its original
    * files are gone still no-ops. The tier's maintained per-source stats
    * compact with its signatures in the same publish. No-op (false)
    * below `minLive` segments. Old segment files become GC-collectable,
    * not deleted — retention stays [[VersionedIndex.gcVersions]]'s
    * contract.
    */
  def compact(spark: SparkSession, path: String, minLive: Int = 2): Boolean =
    VersionedIndex.withWriteLock(path) {
      val meta0 = readMeta(path).getOrElse(
        throw new IllegalStateException(s"signature index not initialized: $path"))
      if (meta0.live.size < minLive) false
      else {
        // claim BEFORE resolving the segments to rewrite: the claim
        // freezes CURRENT, so the lazy rewrite scan cannot race a
        // concurrent process's publish onto a superseded snapshot
        val next = VersionedIndex.claimNext(path)
        try {
          val meta = readMeta(path).get
          val tier = VersionedIndex.compactionCandidates(path, meta.live, minLive)
          if (tier.isEmpty) false
          else {
            val segName = s"compact-v$next"
            // the tier's stats fold into one (source, n) table committed
            // with its signatures; segments without stats contribute none
            val statDirs = tier.map(seg => Paths.get(path, "seg", seg, "_stats"))
              .filter(Files.isDirectory(_))
            val stats =
              if (statDirs.isEmpty) None
              else Some(spark.read.parquet(statDirs.map(_.toString): _*)
                .groupBy(col("source")).agg(sum(col("n")).as("n")))
            // read the tier's raw segment files, NOT the bucketed catalog
            // table: against a bucketed scan the writer-side repartition
            // is elided as redundant and the rewrite fans back out to
            // mixed-bucket tasks — a plain scan lets writeBucketedFiles
            // route every row to its bucket's single task (spec pins
            // <= 1 file per bucket). A PLAIN segment's signatures live
            // under its hidden `_plain` dir (a root read skips "_" names)
            // — the rewrite always emits the bucketed layout, folding
            // plain small deltas back in (r16 verdict #1).
            def segSigDir(seg: String): String = {
              val plainDir = Paths.get(path, "seg", seg, "_plain")
              if (Files.isDirectory(plainDir)) plainDir.toString
              else s"$path/seg/$seg"
            }
            writeSegment(
              tier.map(seg => spark.read.parquet(segSigDir(seg)))
                .reduce(_ unionByName _),
              path, segName, meta.buckets, stats)
            // carry/record per-segment rows (see Meta.liveRows); a tier
            // with unrecorded members leaves the lineage unrecorded
            val recorded = meta.live.zip(meta.liveRows).toMap
            val retained = meta.live.filterNot(tier.contains)
            val liveRows =
              if (meta.liveRows.size == meta.live.size)
                retained.map(recorded) :+ tier.map(recorded).sum
              else Nil
            VersionedIndex.publish(path, next,
              meta.copy(segments = meta.segments :+ segName,
                live = retained :+ segName, liveRows = liveRows,
                plain = meta.plain.filterNot(tier.contains)),
              Tables)
            true
          }
        } finally VersionedIndex.releaseClaim(path, next)
      }
    }

  /** One committed version's signatures, split by layout: the BUCKETED
    * catalog table (probe joins meet it Exchange-free through the
    * (band, sig) bucket layout) and, when plain small-delta segments are
    * live, their union as a separate broadcast-sized leg. Probes join
    * each leg with the matching strategy ([[graft.queries.PipelinePack
    * .probeIndexCandidates]]); whole-table consumers use [[serve]].
    */
  final case class ServedSig(bucketed: DataFrame, plain: Option[DataFrame]) {
    /** The complete table (results-equivalent union of both legs). */
    def all: DataFrame = plain.fold(bucketed)(bucketed.unionByName(_))
  }

  /** Serve the committed index split by segment layout — see
    * [[ServedSig]]. Lock-free apart from the cheap catalog registration;
    * the bucketed leg's probe plan scans the files bucket-aligned with
    * no Exchange. The plain leg reads the version's committed `_files`
    * listing (never a directory walk) where present.
    */
  def serveSplit(spark: SparkSession, path: String): ServedSig = {
    val v = currentVersion(path).getOrElse(
      throw new IllegalStateException(s"signature index not initialized: $path"))
    // version-pinned (ADVICE r16): one CURRENT resolution governs the
    // whole served snapshot — the buckets below must be v's, not a
    // concurrently published newer version's
    val meta = VersionedIndex.readMetaAt(path, v)
    val bucketed = VersionedIndex.serveBucketed(spark, "sig_idx", path, v,
      SigSchema,
      Seq("band", "sig"), Seq("band", "sig"), meta.buckets, s"$path/$v")
    val plain = VersionedIndex.readFiles(path, v) match {
      case Some(listing) =>
        val fs = listing.filter(_.startsWith("_plain/")).map(f => s"$path/$v/$f")
        if (fs.nonEmpty) Some(spark.read.schema(SigSchema).parquet(fs: _*)) else None
      case None =>
        val d = Paths.get(path, v, "_plain")
        if (Files.isDirectory(d) && VersionedIndex.dataFiles(d).nonEmpty)
          Some(spark.read.schema(SigSchema).parquet(d.toString))
        else None
    }
    ServedSig(bucketed, plain)
  }

  /** The committed index as ONE DataFrame (both layout legs) — the
    * whole-table read. Probe joins should use [[serveSplit]] so the
    * bucketed leg keeps its Exchange-free layout (a union erases the
    * output partitioning Spark derives from the bucket spec).
    */
  def serve(spark: SparkSession, path: String): DataFrame =
    serveSplit(spark, path).all

  /** The MAINTAINED per-source document counts of the committed version —
    * one tiny (source, n) row per source, summed over the base's and
    * every appended segment's `_stats` files. This is the metadata table
    * d37's admission quota reads instead of re-aggregating the corpus per
    * ingest batch: O(sources × segments) rows whatever the corpus size.
    */
  def sourceStats(spark: SparkSession, path: String): DataFrame = {
    val v = currentVersion(path).getOrElse(
      throw new IllegalStateException(s"signature index not initialized: $path"))
    val statsDir = Paths.get(path, v, "_stats")
    if (!Files.isDirectory(statsDir))
      throw new IllegalStateException(s"index has no maintained stats: $path/$v")
    // the _-prefixed ROOT keeps the stats out of the bucketed table's
    // recursive LOCATION listing; reading it explicitly is supported
    // (DataSource warns "all paths were ignored" but proceeds with the
    // given root — the leaf part-files have normal names)
    spark.read.schema(StatsSchema).parquet(statsDir.toString)
      .groupBy(col("source")).agg(sum(col("n")).as("n"))
  }

  /** Serve if a committed version matches `fingerprint`; build from
    * `sigs` (and `stats`) first when absent or stale. The by-name plans
    * are only forced on a build — a warm serve is pure LOCK-FREE metadata
    * (fingerprint check + catalog lookup), so an in-progress build of the
    * next version never blocks it; cold ensures double-check under the
    * write lock and build exactly once.
    */
  def ensure(spark: SparkSession, sigs: => DataFrame, path: String,
      fingerprint: String, buckets: Int = 0,
      stats: => Option[DataFrame] = None): DataFrame = {
    def fresh = readMeta(path).exists(_.fingerprint == fingerprint)
    if (!fresh) VersionedIndex.withWriteLock(path) {
      if (!fresh) build(sigs, path, fingerprint, buckets, stats)
    }
    serve(spark, path)
  }
}
