package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.Paths

/** The ANN serving index as PERSISTED, versioned tables — the index/serve
  * split for the IVF-PQ family (r12 verdict #2): e10's codes + codebook
  * and the coarse cell assignments were session memos (`pqIndexes`,
  * `coarseCells`), so every fresh session re-encoded the corpus before it
  * could answer a query. A deployment builds the index ONCE per corpus
  * snapshot, keeps it CURRENT with delta appends as the vector corpus
  * grows (r14 verdict #2 — the maintenance leg [[SignatureIndex]] already
  * had), and serves top-k from the tables across sessions; only the query
  * batch is quantized at serve time.
  *
  * One version = five tables under `<path>/v<N>/` (hardlinked segment
  * snapshots via [[VersionedIndex]], which owns the CURRENT-pointer,
  * locking and catalog discipline):
  *
  *   - `vectors`   (vec_id, embedding)  — the raw store, read by the
  *     exact re-rank and the query batch (a vector index OWNS its
  *     vectors; serving never touches the source corpus);
  *   - `centroids` (ccid, d, ccq)       — coarse int8 centroid elements
  *     (IMMUTABLE after the base build — appends assign to them);
  *   - `cells`     (vec_id, cell)       — coarse assignment posting
  *     lists, clustered by cell;
  *   - `codebook`  (m, cid, d, cq)      — PQ per-subspace centroids
  *     (immutable like the centroids);
  *   - `codes`     (vec_id, m, cid)     — PQ codes, BUCKETED by vec_id
  *     so the candidate ⋈ codes join reads the big side shuffle-free.
  *
  * [[append]] is the maintenance contract: a delta batch's vectors are
  * assigned to the COMMITTED centroids and encoded against the COMMITTED
  * codebook (never a retrain — quantization of a new point against a
  * frozen codebook is O(delta), the standard IVF maintenance move), then
  * committed as one manifest-gated segment under the CURRENT swap, so a
  * replayed micro-batch commits exactly once. The quality escape valve is
  * [[retrainDue]]: when appended vectors outgrow `maxAppendFraction` of
  * the base, the geometry was trained on a minority of the corpus and the
  * operator should schedule a full [[build]] (which re-derives √N cells
  * over everything); until then appends preserve EXACT build-equivalence
  * — assignment and encoding are per-vector functions of the frozen
  * geometry, so serve-after-appends is bit-identical to a rebuild that
  * uses the same centroids/codebook (e13's oracle gate).
  *
  * Locks are scoped (r14 verdict #6): builds/appends hold the per-path
  * write lock; [[serve]] and warm [[ensure]]s never take it.
  */
object AnnIndex {

  /** The served tables of one committed version. `pcells` is the
    * directory-partition modulus of cells/codes (0 = legacy flat
    * layout): the serving plan uses it to prune FILES to the probed
    * cells' `pcell=K` directories instead of scanning the full posting
    * and code tables per query batch (r14 verdict #2). `path`/`version`
    * identify the snapshot, so per-serve derivations (the query batch,
    * the probe receipt) can be memoized and attributed by index instead
    * of through process-global slots (ADVICE r15).
    *
    * `vectors` and `cells` are COMPLETE (bucketed-layout segments
    * unioned with any plain small-delta segments — the plain files
    * carry `pcell` as a regular column, so the probed-cell filter
    * applies uniformly). Codes come SPLIT BY LAYOUT: `bucketedCodes`
    * is the bucketed catalog table, `plainCodes` any plain small-delta
    * segments' codes, so the candidate ⋈ codes join keeps its
    * shuffle-free bucketed big leg and meets the broadcast-sized plain
    * leg as a broadcast join (r16 verdict #1 — a union would erase the
    * bucket layout's output partitioning and shuffle the whole code
    * table); [[Served.codes]] is the complete union for whole-table
    * consumers.
    */
  final case class Served(
      vectors: DataFrame, centroids: DataFrame, cells: DataFrame,
      codebook: DataFrame, bucketedCodes: DataFrame, pcells: Int,
      path: String, version: String,
      plainCodes: Option[DataFrame] = None) {
    /** The COMPLETE code table (both layout legs) — correct for any
      * consumer; probe plans use the split fields to keep their shape.
      */
    def codes: DataFrame = plainCodes.fold(bucketedCodes)(p =>
      bucketedCodes.unionByName(
        p.select(bucketedCodes.columns.map(col).toIndexedSeq: _*)))
  }

  /** The artifacts a base build persists (same shapes as [[Served]]). */
  final case class Artifacts(
      vectors: DataFrame, centroids: DataFrame, cells: DataFrame,
      codebook: DataFrame, codes: DataFrame)

  /** A delta batch's contribution: new vectors with their assignments to
    * the committed centroids and codes against the committed codebook.
    * The immutable centroid/codebook tables have no delta form.
    */
  final case class Delta(vectors: DataFrame, cells: DataFrame, codes: DataFrame)

  /** Estimated bytes per (vec_id, m, cid) code row — feeds
    * [[VersionedIndex.bucketsFor]] when the caller doesn't pin a count.
    */
  private val EstCodeRowBytes = 24L

  /** Builds this JVM ran — the rehearsal receipt that serving is reads. */
  @volatile private[graft] var buildCount: Long = 0L

  def currentVersion(path: String): Option[String] =
    VersionedIndex.currentVersion(path)

  def readFingerprint(path: String): Option[String] =
    VersionedIndex.readMeta(path).map(_.fingerprint)

  private val Tables = Seq("vectors", "centroids", "cells", "codebook", "codes",
    "vectors_plain", "cells_plain", "codes_plain")

  /** Row ceiling under which a delta segment is written in the PLAIN
    * layout (r16 verdict #1): single-file parquet per table, no bucketed
    * catalog write, no per-pcell fan-out. Spark's bucketBy/saveAsTable
    * machinery costs a FIXED ~4s per append at the 10x fixture
    * regardless of delta size (PLANS.md §26) — a toll that caps a
    * maintenance stream at ~1 segment per 8s per index. A 64k-vector
    * delta is ≤ ~16 MB of embeddings at 64-dim fp32 plus ~10 MB of
    * codes: broadcast-sized by definition, so serving joins it on the
    * broadcast side and the next size-tiered compaction folds it into
    * the bucketed layout. Deployments with fatter rows pass their own
    * ceiling per append.
    */
  val PlainDeltaMaxRows: Long = 65536L

  /** Per-table row ceiling for serving a plain delta leg as a LOCAL
    * relation (see `localized` in [[serve]]'s buildServed): covers the
    * append contract's per-segment bound with headroom for a small
    * uncompacted pile (codes = vectors × M sub-codes rows); a pile past
    * this is overdue for [[compact]] and serves from its files instead.
    */
  private[graft] val MaxLocalPlainRows: Int = 1 << 20

  /** Directory-partition cap: a 100 TB index's √N cells fold onto the
    * cap by modulus, trading exactness of the prune for a bounded
    * namespace — object-store listings and partition-index recovery stay
    * O(thousands) whatever the corpus.
    */
  private[graft] val MaxPcells = 4096

  /** Byte FLOOR per `pcell=K` directory. Granularity is governed by the
    * cell count (pruning IO follows probed-cells/pcells, so a dir per
    * cell is ideal) up to [[MaxPcells]]; this floor only bites on toy
    * corpora, collapsing them to fewer directories instead of pcells ×
    * buckets micro-files per segment. At production volumes bytes/floor
    * far exceeds the cell count and the effective layout is
    * min(√N cells, 4096) dirs of `buckets` ≈ 64 MB files each.
    *
    * 256 KB (r16, was 64 KB): the r15 floor made EVERY lifecycle write
    * O(pcells × buckets) tiny files at fixture scale — a measured 6.5s
    * of the 12s per-delta append was the 1,264-file codes write alone.
    * Pruning stays observable (the 10x receipt needs probed/pcells < 1)
    * while segment writes and serve-time listings shed ~4x the files.
    */
  private[graft] val TargetPcellBytes = 256L << 10

  private[graft] def pcellsFor(codeBytes: Long, nCells: Int): Int =
    math.max(1L, math.min(math.min(nCells.toLong, MaxPcells.toLong),
      codeBytes / TargetPcellBytes)).toInt

  private def withPcell(df: DataFrame, pcells: Int): DataFrame =
    df.withColumn("pcell", org.apache.spark.sql.functions
      .pmod(col("cell"), org.apache.spark.sql.functions.lit(pcells.toLong))
      .cast("int"))

  private def writeTables(path: String, segName: String, buckets: Int,
      pcells: Int, vectors: DataFrame, cells: DataFrame, codes: DataFrame,
      centroids: Option[DataFrame], codebook: Option[DataFrame]): Unit = {
    val segDir = s"$path/seg/$segName"
    centroids.foreach(_.write.mode(SaveMode.Overwrite).parquet(s"$segDir/centroids"))
    val codesTyped = codes.selectExpr("CAST(vec_id AS BIGINT) AS vec_id",
      "CAST(m AS BIGINT) AS m", "CAST(cid AS BIGINT) AS cid")
    if (pcells > 0) {
      // pcell=K directory layout (r14 verdict #2): a probe prunes its
      // scan to the probed cells' directories — IO follows the probed
      // fraction, not the index size. One task per pcell keeps it at one
      // file per (dir) for cells/vectors and ≤ buckets per dir for codes.
      // The assignment is PINNED across the three writes (r16 — each
      // write otherwise re-executes the cells derivation, a measured
      // ~2s/segment at the 10x fixture).
      val cellsP = withPcell(cells, pcells)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      cellsP.repartition(col("pcell")).sortWithinPartitions("cell", "vec_id")
        .write.partitionBy("pcell").mode(SaveMode.Overwrite)
        .parquet(s"$segDir/cells")
      // codes AND vectors ride their vector's cell directory, so the
      // candidate ⋈ codes leg and the exact re-rank's vector fetch prune
      // identically (candidates only come from probed cells); the vec_id
      // bucket layout inside each code directory keeps that join
      // shuffle-free on the code side. The query-batch read stays a
      // metadata-pruned scan (vec_id min/max footer stats), since the
      // batch's own cells aren't known until it is quantized.
      // LEFT join + in-plan guard (ADVICE r15): the one-cell-per-vector
      // invariant holds by construction (cells is an rn=1 argmin), but a
      // future artifact source violating it would silently DROP vectors
      // from the persisted store under an inner join — corrupting the
      // exact re-rank. raise_error fails the write loudly per offending
      // row, with zero extra jobs on the healthy path.
      val pmap = cellsP.select(col("vec_id"), col("pcell"))
      vectors.join(pmap, Seq("vec_id"), "left")
        .withColumn("pcell",
          org.apache.spark.sql.functions.when(col("pcell").isNull,
            org.apache.spark.sql.functions.raise_error(
              org.apache.spark.sql.functions.concat(
                org.apache.spark.sql.functions.lit("vector without a cell assignment: vec_id="),
                col("vec_id").cast("string"))))
            .otherwise(col("pcell")))
        .repartition(col("pcell")).sortWithinPartitions("vec_id")
        .write.partitionBy("pcell").mode(SaveMode.Overwrite)
        .parquet(s"$segDir/vectors")
      VersionedIndex.writeBucketedFiles(codesTyped.join(pmap, "vec_id"),
        s"$segDir/codes", buckets,
        Seq("vec_id"), Seq("vec_id"), kind = "annseg",
        partitionCols = Seq("pcell"))
      } finally cellsP.unpersist(blocking = false)
    } else {
      // legacy flat layout (pre-pcell manifests): appends must keep the
      // committed version's layout, so this branch stays writable
      vectors.write.mode(SaveMode.Overwrite).parquet(s"$segDir/vectors")
      cells.repartition(col("cell")).sortWithinPartitions("cell", "vec_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$segDir/cells")
      VersionedIndex.writeBucketedFiles(codesTyped, s"$segDir/codes", buckets,
        Seq("vec_id"), Seq("vec_id"), kind = "annseg")
    }
    codebook.foreach(_.write.mode(SaveMode.Overwrite).parquet(s"$segDir/codebook"))
  }

  /** The PLAIN small-delta layout (r16 verdict #1): one parquet file per
    * table under `<table>_plain`, written with a plain partitioned write
    * — none of the bucketed-catalog machinery whose fixed toll dominates
    * a tiny append. `pcell` rides as a REGULAR column (same value the
    * partitioned layout encodes as a directory), so serving can union
    * plain cells/vectors with the bucketed tables and apply the
    * probed-cell filter uniformly; codes stay a separate broadcast join
    * leg (see [[Served]]). `repartition(1)` keeps the upstream delta
    * derivation parallel while landing exactly one file per table.
    */
  private def writePlainTables(path: String, segName: String, pcells: Int,
      vectors: DataFrame, cells: DataFrame, codes: DataFrame): Unit = {
    val segDir = s"$path/seg/$segName"
    val codesTyped = codes.selectExpr("CAST(vec_id AS BIGINT) AS vec_id",
      "CAST(m AS BIGINT) AS m", "CAST(cid AS BIGINT) AS cid")
    if (pcells > 0) {
      val cellsP = withPcell(cells, pcells)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        cellsP.repartition(1).sortWithinPartitions("cell", "vec_id")
          .write.mode(SaveMode.Overwrite).parquet(s"$segDir/cells_plain")
        // same one-cell-per-vector guard as the bucketed path: a vector
        // without an assignment must fail the write, not vanish
        val pmap = cellsP.select(col("vec_id"), col("pcell"))
        vectors.join(pmap, Seq("vec_id"), "left")
          .withColumn("pcell",
            org.apache.spark.sql.functions.when(col("pcell").isNull,
              org.apache.spark.sql.functions.raise_error(
                org.apache.spark.sql.functions.concat(
                  org.apache.spark.sql.functions.lit("vector without a cell assignment: vec_id="),
                  col("vec_id").cast("string"))))
              .otherwise(col("pcell")))
          .repartition(1).sortWithinPartitions("vec_id")
          .write.mode(SaveMode.Overwrite).parquet(s"$segDir/vectors_plain")
        codesTyped.join(pmap, "vec_id")
          .repartition(1).sortWithinPartitions("vec_id", "m")
          .write.mode(SaveMode.Overwrite).parquet(s"$segDir/codes_plain")
      } finally cellsP.unpersist(blocking = false)
    } else {
      vectors.repartition(1).sortWithinPartitions("vec_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$segDir/vectors_plain")
      cells.repartition(1).sortWithinPartitions("cell", "vec_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$segDir/cells_plain")
      codesTyped.repartition(1).sortWithinPartitions("vec_id", "m")
        .write.mode(SaveMode.Overwrite).parquet(s"$segDir/codes_plain")
    }
  }

  /** Full (re)build: commits the artifacts as the new base segment (any
    * previously appended segments are superseded — a rebuild re-derives
    * everything from the current corpus). With `buckets = 0` the count
    * derives from the measured code rows and a target bucket size.
    */
  /** `carryLedger = true` preserves the prior append LEDGER across the
    * rebuild — the retrain shape (the new base was derived from the GROWN
    * corpus, so a micro-batch replayed afterwards must still no-op).
    * The default `false` is the changed-corpus shape (the new base knows
    * nothing of old deltas; their names must be free to re-append).
    */
  def build(a: Artifacts, path: String, fingerprint: String,
      buckets: Int = 0,
      carryLedger: Boolean = false): Unit = VersionedIndex.withWriteLock(path) {
    // measured-then-decide layout (build-time only; the caller's codes
    // table is memo-persisted on every production path, so the count
    // reads the cache the write is about to read anyway): the partition
    // modulus derives from measured code bytes vs a per-directory
    // target, capped at one dir per cell; the bucket count is then sized
    // per DIRECTORY — total files ≈ pcells × buckets. Bucketed-scan
    // parallelism equals the bucket count, so deployments with huge
    // per-dir volumes lower targetBucketBytes rather than pcells.
    val nCells = a.centroids.select(col("ccid")).distinct().count().toInt
    val codeBytes = a.codes.count() * EstCodeRowBytes
    val pcells = pcellsFor(codeBytes, nCells)
    val b =
      if (buckets > 0) buckets
      else VersionedIndex.bucketsFor(codeBytes / math.max(1, pcells))
    val next = VersionedIndex.claimNext(path) // optimistic commit (r14 #3)
    try {
      val segName = s"base-v$next"
      writeTables(path, segName, b, pcells, a.vectors, a.cells, a.codes,
        Some(a.centroids), Some(a.codebook))
      // the drift denominator, recorded in the manifest so appendFraction
      // survives compaction/GC retiring the base segment's FILES: a
      // footer-only count over the just-written vectors table
      val baseRows = a.vectors.sparkSession.read
        .parquet(s"$path/seg/$segName/vectors").count()
      val ledger =
        if (carryLedger)
          VersionedIndex.readMeta(path).map(_.segments).getOrElse(Nil)
        else Nil
      VersionedIndex.publish(path, next,
        VersionedIndex.Meta(b, fingerprint, ledger :+ segName, Seq(segName),
          baseRows, pcells, liveRows = Seq(baseRows)),
        Tables)
    } finally VersionedIndex.releaseClaim(path, next)
    buildCount += 1
  }

  /** Idempotently append a delta segment (deterministic `segName` —
    * "batch-<batchId>" from [[graft.streaming.AnnIndexStream]]'s
    * foreachBatch leg). Returns false (and writes nothing) when the
    * segment is already committed — the exactly-once contract a replayed
    * micro-batch needs. Cost is O(delta): assignment/encoding happened
    * caller-side against the committed geometry; this is three delta
    * writes plus an O(files) hardlink publish, never a base rewrite.
    *
    * A delta at or under `plainMaxRows` vectors lands in the PLAIN
    * layout (r16 verdict #1 — [[writePlainTables]]): the bucketed write
    * machinery's fixed per-append toll is skipped, the layout is marked
    * in the manifest's `plain` set, serving joins the segment broadcast-
    * side, and the next size-tiered [[compact]] folds it into the
    * bucketed layout.
    */
  def append(d: Delta, segName: String, path: String,
      plainMaxRows: Long = PlainDeltaMaxRows): Boolean =
    VersionedIndex.withWriteLock(path) {
      val meta = VersionedIndex.readMeta(path).getOrElse(
        throw new IllegalStateException(s"ANN index not initialized: $path"))
      if (meta.segments.isEmpty) // a pre-segment-layout version: its base
        throw new IllegalStateException( // files carry no manifest entry
          s"index at $path predates segmented layout — run a full build first")
      if (meta.segments.contains(segName)) false
      else {
        val next = VersionedIndex.claimNext(path)
        try {
          // rebase on the claim's frozen predecessor — another PROCESS
          // may have committed between the check above and the claim
          val m = VersionedIndex.readMeta(path).get
          if (m.segments.contains(segName)) false
          else {
            // one O(delta) count decides the layout AND records the
            // manifest row count (ADVICE r16: recorded rows make every
            // later appendFraction a pure manifest read, zero jobs)
            val segRows = d.vectors.count()
            val usePlain = segRows <= plainMaxRows
            if (usePlain)
              writePlainTables(path, segName, m.pcells,
                d.vectors, d.cells, d.codes)
            else
              writeTables(path, segName, m.buckets, m.pcells,
                d.vectors, d.cells, d.codes,
                centroids = None, codebook = None)
            val liveRows =
              if (m.liveRows.size == m.live.size) m.liveRows :+ segRows
              else Nil
            VersionedIndex.publish(path, next,
              m.copy(segments = m.segments :+ segName,
                live = m.live :+ segName, liveRows = liveRows,
                plain = if (usePlain) m.plain :+ segName else m.plain),
              Tables)
            true
          }
        } finally VersionedIndex.releaseClaim(path, next)
      }
    }

  /** Compaction — [[SignatureIndex.compact]]'s contract for the ANN
    * tables, SIZE-TIERED (r15 verdict #3): rewrite the smallest
    * [[VersionedIndex.compactionCandidates]] tier of live segments into
    * one (codes keep the bucket layout, so the candidate ⋈ codes join
    * stays shuffle-free; the immutable centroids/codebook are carried
    * only when their owning base segment is in the tier), publish under
    * the CURRENT swap, preserve the append ledger and `baseRows` so
    * replay-idempotence and the drift measure both survive the old
    * files' retirement. A cadence-triggered compact therefore rewrites
    * the delta pile — O(appends since the last compact) — and touches
    * the base only when the pile has grown to its size tier.
    */
  def compact(spark: SparkSession, path: String, minLive: Int = 2): Boolean =
    VersionedIndex.withWriteLock(path) {
      val meta0 = VersionedIndex.readMeta(path).getOrElse(
        throw new IllegalStateException(s"ANN index not initialized: $path"))
      if (meta0.live.size < minLive) false
      else {
        // claim BEFORE resolving the segments to rewrite: the claim
        // freezes CURRENT, so the lazy scans below cannot race a
        // concurrent process's publish onto a superseded snapshot
        val next = VersionedIndex.claimNext(path)
        try {
          val meta = VersionedIndex.readMeta(path).get
          val tier = VersionedIndex.compactionCandidates(path, meta.live, minLive)
          if (tier.isEmpty) false
          else {
            // PLAIN scans of the tier's segment files, not serve(): the
            // bucketed catalog table would both elide the rewrite's
            // bucket-routing repartition (see [[SignatureIndex.compact]])
            // and churn the session catalog. The partitioned scans
            // re-surface pcell as a discovered column (plain segments
            // carry it as a regular one); writeTables re-derives it from
            // cell, so it is dropped here. A segment holds each table in
            // exactly ONE layout — `<name>` (bucketed/partitioned) or
            // `<name>_plain` — and the rewrite always emits the bucketed
            // layout, which is how plain small deltas fold back in (r16
            // verdict #1).
            def tbl(name: String): DataFrame = tier
              .flatMap(seg => Seq(name, s"${name}_plain")
                .map(n => Paths.get(path, "seg", seg, n)))
              .filter(java.nio.file.Files.isDirectory(_))
              .map(d => spark.read.parquet(d.toString).drop("pcell"))
              .reduceOption(_ unionByName _)
              .getOrElse(throw new IllegalStateException(
                s"compaction tier ${tier.mkString(",")} at $path carries no " +
                  s"'$name' table — refusing to rewrite an empty table"))
            // a legacy (pre-baseRows) manifest records 0: backfill it from
            // the base segment's footers NOW — its files are still live
            // (nothing can GC a live-referenced segment), and after this
            // rewrite they may not be, which would leave appendFraction's
            // legacy branch counting the compacted segment as appended
            val baseRows =
              if (meta.baseRows > 0L) meta.baseRows
              else spark.read.parquet(s"$path/seg/${meta.segments.head}/vectors").count()
            // the immutable geometry rides with whichever segment owns it:
            // carried into the rewrite iff that segment is being retired
            val hasGeometry = tier.exists(seg =>
              java.nio.file.Files.isDirectory(Paths.get(path, "seg", seg, "centroids")))
            val segName = s"compact-v$next"
            writeTables(path, segName, meta.buckets, meta.pcells,
              tbl("vectors"), tbl("cells"), tbl("codes"),
              if (hasGeometry) Some(tbl("centroids")) else None,
              if (hasGeometry) Some(tbl("codebook")) else None)
            // per-live-segment rows (ADVICE r16): carried for retained
            // segments, summed for the merged tier when recorded, footer-
            // counted otherwise — so compaction HEALS an unrecorded
            // lineage and appendFraction is a pure manifest read after
            val recorded = meta.live.zip(meta.liveRows).toMap
            def rowsOf(seg: String): Long = recorded.getOrElse(seg,
              Seq("vectors", "vectors_plain")
                .map(n => Paths.get(path, "seg", seg, n))
                .find(java.nio.file.Files.isDirectory(_))
                .map(d => spark.read.parquet(d.toString).count())
                .getOrElse(0L))
            val retained = meta.live.filterNot(tier.contains)
            val liveRows = retained.map(rowsOf) :+ tier.map(rowsOf).sum
            VersionedIndex.publish(path, next,
              meta.copy(segments = meta.segments :+ segName,
                live = retained :+ segName,
                baseRows = baseRows, liveRows = liveRows,
                plain = meta.plain.filterNot(tier.contains)),
              Tables)
            true
          }
        } finally VersionedIndex.releaseClaim(path, next)
      }
    }

  /** The drift-triggered-retrain policy: appended vectors per committed
    * base vector. The frozen centroids/codebook stay EXACT under appends
    * (per-vector quantization), but recall degrades as the corpus drifts
    * from the geometry's training set; when this ratio exceeds the
    * operator's budget (0.5 is a common default), schedule a full
    * [[build]]. On a lineage whose manifest records per-segment rows
    * (every build/append/compact since r17 does) this is a PURE manifest
    * read — zero Spark jobs, which is what lets a maintenance stream
    * evaluate it after every committed micro-batch (ADVICE r16); legacy
    * lineages fall back to parquet-footer counts (no data scan).
    */
  def appendFraction(spark: SparkSession, path: String): Double = {
    val meta = VersionedIndex.readMeta(path).getOrElse(
      throw new IllegalStateException(s"ANN index not initialized: $path"))
    def rows(seg: String): Long =
      Seq("vectors", "vectors_plain").map(n => Paths.get(path, "seg", seg, n))
        .find(java.nio.file.Files.isDirectory(_))
        .map(d => spark.read.parquet(d.toString).count())
        .getOrElse(0L)
    if (meta.baseRows > 0L) {
      // compaction-stable form: appended = live total minus the manifest's
      // recorded base count (the base segment's FILES may be long retired)
      val total =
        if (meta.liveRows.size == meta.live.size) meta.liveRows.sum // 0 jobs
        else meta.live.map(rows).sum
      math.max(0L, total - meta.baseRows).toDouble / meta.baseRows
    } else {
      // pre-baseRows layout: the base segment's own files are the denominator
      if (meta.segments.isEmpty) // pre-segment layout: same guidance append gives
        throw new IllegalStateException(
          s"index at $path predates segmented layout — run a full build first")
      val base = rows(meta.segments.head)
      if (base == 0L) Double.PositiveInfinity
      else meta.segments.tail.map(rows).sum.toDouble / base
    }
  }

  def retrainDue(spark: SparkSession, path: String,
      maxAppendFraction: Double = 0.5): Boolean =
    appendFraction(spark, path) > maxAppendFraction

  /** Serve the committed version: plain Parquet reads for the small
    * tables, an external BUCKETED catalog table for codes — a fresh
    * session answers top-k from these five scans, with no corpus encode
    * anywhere in the plan (ExplainSpec pins it for e12). Lock-free apart
    * from the cheap catalog registration, so an in-progress build of the
    * next version never blocks serving this one.
    */
  /** Served-table memo per (session, path, committed version): a serve
    * of an unchanged committed version is pure map lookup, and any
    * publish (append/compact/rebuild) supersedes the older version's
    * entry. The value is only immutable plan metadata (no persisted
    * blocks), so dropping it releases nothing. Without this, every serve
    * re-ran partition discovery over the pcell=K directories of three
    * tables — ~1s of driver listing per call at the 10x fixture.
    */
  private val served = graft.SessionMemo.plain[(String, String), Served]("ann_index.served")(
    k => Seq(graft.SessionMemo.Input(k._1, k._2)))

  def serve(spark: SparkSession, path: String): Served = {
    val v = currentVersion(path).getOrElse(
      throw new IllegalStateException(s"ANN index not initialized: $path"))
    served(spark, Some((canonicalServeKey(path), v)))(buildServed(spark, path, v))
  }

  private def canonicalServeKey(path: String): String =
    Paths.get(path).toAbsolutePath.toString

  private def buildServed(spark: SparkSession, path: String, v: String): Served = {
    val vdir = s"$path/$v"
    // version-pinned reads (ADVICE r16): serve() resolved CURRENT once;
    // every metadata read below uses that same v, so a concurrent
    // process publishing mid-serve can never pair v's directory with the
    // newer version's _files listing or pcells/buckets
    val meta = VersionedIndex.readMetaAt(path, v)
    val partitioned = meta.pcells > 0
    // the committed file listing (r15 verdict #1): every table reads its
    // manifest-held file set, so a cold serve is a manifest read + file
    // opens — never a directory walk over the pcell=K tree (the
    // partition-discovery toll that cost e12/e13/e14 2.3-2.7x at sf1;
    // at 100 TB, an O(pcells x buckets) object-store LIST per serve).
    // Pre-`_files` versions (None) fall back to directory discovery.
    val listing = VersionedIndex.readFiles(path, v)
    def tableFiles(tbl: String): Option[Seq[String]] =
      listing.map(_.filter(f => f.startsWith(s"$tbl/")).map(f => s"$vdir/$f"))
        .filter(_.nonEmpty)
    def readTable(tbl: String): DataFrame = tableFiles(tbl) match {
      // basePath pins partition inference to the table root, so the
      // pcell=K path component still surfaces as the pruning column
      case Some(fs) => spark.read.option("basePath", s"$vdir/$tbl").parquet(fs: _*)
      case None => spark.read.parquet(s"$vdir/$tbl")
    }
    // plain small-delta tables (r16 verdict #1): flat single-file reads
    // from the listing (pcell is a regular column where partitioned);
    // absent from most versions. Pre-`_files` fallback checks the dir.
    //
    // r18 (VERDICT r17 #2 — the e13 warm-serve regression): the plain
    // legs are LOCALIZED once per served version. A plain segment is
    // broadcast-sized BY the append contract (≤ [[PlainDeltaMaxRows]]
    // vectors ≈ 16 MB of embeddings — the serving plan already built a
    // broadcast of these rows on every pass), so pinning them as a local
    // relation inside the version-keyed serve memo turns every warm
    // pass's plain-leg work (three file scans + a broadcast-build job)
    // into driver-local constants: a LocalTableScan costs no job, no
    // file open, and broadcasts without an exchange subtree. Bounded by
    // [[MaxLocalPlainRows]] per table; a delta pile that outgrows it
    // (overdue for compaction) falls back to the plain file scans.
    def localized(df: DataFrame): DataFrame = {
      val rows = df.take(MaxLocalPlainRows + 1)
      if (rows.length > MaxLocalPlainRows) df
      else spark.createDataFrame(
        java.util.Arrays.asList(rows.toIndexedSeq: _*), df.schema)
    }
    def readPlain(tbl: String): Option[DataFrame] = (listing match {
      case Some(l) =>
        val fs = l.filter(_.startsWith(s"${tbl}_plain/")).map(f => s"$vdir/$f")
        if (fs.nonEmpty) Some(spark.read.parquet(fs: _*)) else None
      case None =>
        val d = Paths.get(vdir, s"${tbl}_plain")
        if (java.nio.file.Files.isDirectory(d) &&
            VersionedIndex.dataFiles(d).nonEmpty)
          Some(spark.read.parquet(d.toString))
        else None
    }).map(localized)
    def withPlain(tbl: String, bucketed: DataFrame): DataFrame =
      readPlain(tbl) match {
        case Some(p) => bucketed.unionByName(p.select(
          bucketed.columns.map(col).toIndexedSeq: _*))
        case None => bucketed
      }
    val codePartDirs = tableFiles("codes").map(_.flatMap { f =>
      val rel = f.stripPrefix(s"$vdir/codes/")
      if (rel.contains('/')) Some(rel.substring(0, rel.lastIndexOf('/'))) else None
    }.distinct)
    Served(
      vectors = withPlain("vectors", readTable("vectors")),
      centroids = readTable("centroids"),
      cells = withPlain("cells", readTable("cells")),
      codebook = readTable("codebook"),
      bucketedCodes = VersionedIndex.serveBucketed(spark, "ann_idx", path, v,
        if (partitioned) "vec_id BIGINT, m BIGINT, cid BIGINT, pcell INT"
        else "vec_id BIGINT, m BIGINT, cid BIGINT",
        Seq("vec_id"), Seq("vec_id"), meta.buckets, s"$vdir/codes",
        partitionCols = if (partitioned) Seq("pcell") else Nil,
        partitionDirs = if (partitioned) codePartDirs else None),
      pcells = meta.pcells,
      path = canonicalServeKey(path), version = v,
      plainCodes = readPlain("codes"))
  }

  /** Serve a committed version matching `fingerprint`, building from the
    * by-name `artifacts` only when absent or stale — a warm serve is
    * pure LOCK-FREE metadata, never an encode; cold ensures double-check
    * under the write lock and build exactly once.
    */
  def ensure(spark: SparkSession, artifacts: => Artifacts, path: String,
      fingerprint: String, buckets: Int = 0): Served = {
    def fresh = readFingerprint(path).contains(fingerprint)
    if (!fresh) VersionedIndex.withWriteLock(path) {
      if (!fresh) build(artifacts, path, fingerprint, buckets)
    }
    serve(spark, path)
  }
}
