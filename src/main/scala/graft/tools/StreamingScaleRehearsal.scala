package graft.tools

import graft.{Sessions, Tables}
import graft.streaming.EventsStream
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming state-size rehearsal (round-6 verdict #5): runs the s03
  * session-window and s05 outer-attribution queries under the RocksDB
  * state store against a `factor`x event stream replayed in event-time
  * order, and asserts from `StreamingQueryProgress.stateOperators` that
  * state rows track the LIVE working set (open sessions / join rows
  * within the watermark + interval horizon), not total input — the
  * invariant that makes both queries runnable forever at 100 TB/day:
  * input grows without bound, state must not.
  *
  * Mechanics: the scaled events are written as one parquet file per
  * event-time chunk (ascending modification times), then consumed by a
  * file-source stream with maxFilesPerTrigger=1, so each micro-batch
  * advances the watermark by one chunk and eviction actually runs —
  * `processAllAvailable` over a single unordered file would test nothing.
  *
  * Prints PASS/FAIL per invariant plus one JSON line with the per-batch
  * (cumulative input, state rows) curves; non-zero exit on any FAIL.
  * Optional second JSON copy to SPARK_GRAFT_STREHEARSAL_OUT.
  */
object StreamingScaleRehearsal {

  val Offset = 100000000L

  /** Write `factor` id-shifted copies of the events table (same time
    * horizon — denser stream, disjoint users) as `chunks` single-file
    * parquet chunks in event-time order. Returns (streamDir, totalRows).
    */
  def prepareChunks(
      spark: SparkSession,
      srcDir: String,
      work: String,
      factor: Int,
      chunks: Int): (String, Long) = {
    val ev = Tables.events(spark, srcDir)
      .select("event_id", "user_id", "event_type", "ts", "value")
    val scaled = (0 until factor).map(i => ev
        .withColumn("event_id", col("event_id") + lit(Offset * i))
        .withColumn("user_id", col("user_id") + lit(Offset * i)))
      .reduce(_ unionByName _)
    writeTimeChunks(spark, scaled, work, chunks)
  }

  /** Write `scaled` (any schema with a `ts` timestamp column) as `chunks`
    * single-file parquet chunks under `work/stream`, ordered by
    * `orderCol` (default: event time — in-order replay). Passing a
    * separate ARRIVAL-time column replays out-of-order input: a row
    * whose arrival lags its event time lands in a later chunk, arriving
    * after the watermark advanced past newer events — the late-but-
    * admissible regime a watermarked operator must absorb.
    * Returns (streamDir, totalRows).
    */
  def writeTimeChunks(
      spark: SparkSession,
      scaled: DataFrame,
      work: String,
      chunks: Int,
      orderCol: String = "ts"): (String, Long) = {
    val b = scaled.agg(min(unix_micros(col(orderCol))), max(unix_micros(col(orderCol))))
      .head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val width = (hi - lo) / chunks + 1
    val withChunk = scaled
      .withColumn("__chunk", ((unix_micros(col(orderCol)) - lo) / width).cast("int"))
      .localCheckpoint() // one derivation, `chunks` filtered writes

    val streamDir = java.nio.file.Paths.get(work, "stream")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    java.nio.file.Files.createDirectories(streamDir)
    var total = 0L
    (0 until chunks).foreach { i =>
      val tmp = s"$work/tmp_chunk_$i"
      val part = withChunk.filter(col("__chunk") === i).drop("__chunk")
        .sort(orderCol) // within-chunk order: realistic arrival, tighter state
      part.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      total += spark.read.parquet(tmp).count()
      val src = graft.sources.VersionedIndex
        .listDir(java.nio.file.Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet")).head
      // sequential moves => strictly ascending modification times, the
      // order FileStreamSource replays under maxFilesPerTrigger=1
      java.nio.file.Files.move(src, streamDir.resolve(f"chunk_$i%05d.parquet"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    (streamDir.toString, total)
  }

  /** Run `build(stream)` to completion over the chunked dir, one file per
    * micro-batch, and return the per-batch curve as (cumulative input
    * rows, state rows summed over stateful operators).
    */
  def runWithCurve(
      spark: SparkSession,
      streamDir: String,
      work: String,
      name: String,
      format: String = "noop")(build: DataFrame => DataFrame): Seq[(Long, Long)] = {
    val schema = spark.read.parquet(streamDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir)
    val q = build(stream).writeStream
      .format(format)
      .queryName(name)
      .option("checkpointLocation", s"$work/ckpt_$name")
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .start()
    try {
      q.awaitTermination()
    } finally if (q.isActive) q.stop()
    // AvailableNow + awaitTermination: every chunk processed, then the
    // query stops on its own; recentProgress holds one entry per batch
    // (spark.sql.streaming.numRecentProgressUpdates >= chunk count is
    // asserted by the caller via curve length)
    var cum = 0L
    q.recentProgress.toIndexedSeq.map { p =>
      cum += p.numInputRows
      val state = Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
      (cum, state)
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val work = args.lift(1).getOrElse("/tmp/graft_stream10")
    val factor = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    val chunks = args.lift(3).flatMap(_.toIntOption).getOrElse(48)
    val spark = Sessions.get()
    // the production state store for large state: RocksDB keeps state off
    // the executor heap and checkpoints incrementally (changelog), so
    // state size is bounded by disk, not JVM heap
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", (chunks + 16).toString)

    var failures = List.empty[String]
    def check(name: String)(cond: Boolean, detail: => String): Unit =
      if (cond) println(s"PASS $name")
      else { failures ::= name; println(s"FAIL $name: $detail") }

    try {
      val (streamDir, total) = prepareChunks(spark, srcDir, work, factor, chunks)
      val spanMicros = {
        val b = spark.read.parquet(streamDir)
          .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
        b.getLong(1) - b.getLong(0)
      }

      // ---- s03: session windows (gap 10m, watermark 30m). Live state at
      // a batch boundary = sessions in the watermark+gap horizon PLUS the
      // current batch's rows: the watermark only advances BETWEEN
      // micro-batches, so nothing ingested in batch i is evictable until
      // batch i+1. The bound is therefore horizon + one batch (at
      // production trigger intervals of seconds-to-minutes the batch term
      // vanishes; here each chunk spans span/chunks of event time). The
      // claim that matters for 100 TB/day: neither term grows with
      // cumulative input.
      val s03Curve = runWithCurve(spark, streamDir, work, "s03_rehearsal")(
        EventsStream.sessionized(_))
      val s03Max = s03Curve.map(_._2).max
      val horizonS03 = (30 + 10) * 60L * 1000000L
      val steadyS03 = math.max(1L, (total.toDouble * horizonS03 / spanMicros).toLong)
      val batchRows = total / chunks
      check("s03_batches_cover_chunks")(s03Curve.length >= chunks,
        s"${s03Curve.length} progress entries < $chunks chunks")
      check("s03_state_tracks_horizon_plus_batch")(s03Max <= 4 * (steadyS03 + batchRows),
        s"max state $s03Max vs 4x(steady $steadyS03 + batch $batchRows) " +
          s"(horizon 40m of ${spanMicros / 86400000000L}d)")
      check("s03_state_not_input")(s03Max * 10 <= total,
        s"max state $s03Max vs total input $total")

      // ---- s05: outer click attribution (interval 12h, watermark 30m).
      // Live state = views within click-horizon + watermark (12.5h) plus
      // clicks within watermark, plus (as above) the current batch on
      // both sides — the interval predicate is what lets Spark evict;
      // without it state would equal history. Note the join scans the
      // source twice (views/clicks branches), so the curve's cumulative
      // numInputRows is 2x total; bounds are against actual event rows.
      val s05Curve = runWithCurve(spark, streamDir, work, "s05_rehearsal")(
        EventsStream.clickAttribution(_, joinType = "left_outer"))
      val s05Max = s05Curve.map(_._2).max
      val horizonS05 = (12 * 60 + 30 + 30) * 60L * 1000000L
      val steadyS05 = math.max(1L, (total.toDouble * horizonS05 / spanMicros).toLong)
      check("s05_batches_cover_chunks")(s05Curve.length >= chunks,
        s"${s05Curve.length} progress entries < $chunks chunks")
      check("s05_state_tracks_horizon_plus_batch")(s05Max <= 4 * (steadyS05 + batchRows),
        s"max state $s05Max vs 4x(steady $steadyS05 + batch $batchRows)")
      check("s05_state_not_input")(s05Max * 10 <= total,
        s"max state $s05Max vs total input $total")

      // ---- s08: TTL near-dup dedup bucket state (r9 verdict #4). A
      // document-signature stream where event time advances 1 doc/second
      // across factor x N seconds (copies are id-shifted AND time-shifted
      // so the stream keeps rolling), run through candidatePairsTtl with
      // a 600s horizon. Live state = buckets touched by docs inside the
      // horizon (32 bands/doc) + the current batch — NOT total history,
      // which is what the NoTimeout variant would accumulate (32 x N x
      // factor buckets). The timeout eviction is what bends the curve.
      val dedupHorizonMs = 600000L
      val docsBase = Tables.documents(spark, srcDir)
      val nDocs = docsBase.count()
      val baseSigs = graft.queries.PipelinePack.bandSignatures(docsBase)
        .localCheckpoint() // one signature derivation for all copies
      val sigsScaled = (0 until factor).map(i => baseSigs
          .select((col("doc_id") + lit(Offset * i)).as("docId"),
            col("band").cast("int").as("band"), col("sig"),
            timestamp_seconds(col("doc_id") + lit(nDocs * i)).as("ts")))
        .reduce(_ unionByName _)
      val dedupWork = s"$work/dedup"
      val (dedupDir, sigTotal) = writeTimeChunks(spark, sigsScaled, dedupWork, chunks)
      val s08Curve = runWithCurve(spark, dedupDir, dedupWork, "s08_rehearsal") { df =>
        import spark.implicits._
        graft.streaming.StreamingDedup
          .candidatePairsTtl(df.as[graft.streaming.StreamingDedup.BandSigTs], dedupHorizonMs)
          .toDF()
      }
      val s08Max = s08Curve.map(_._2).max
      val horizonDocs = dedupHorizonMs / 1000L // 1 doc/second
      val steadyS08 = 32L * horizonDocs
      val sigBatchRows = sigTotal / chunks
      check("s08_batches_cover_chunks")(s08Curve.length >= chunks,
        s"${s08Curve.length} progress entries < $chunks chunks")
      check("s08_bucket_state_plateaus")(s08Max <= 4 * (steadyS08 + sigBatchRows),
        s"max state $s08Max vs 4x(steady $steadyS08 + batch $sigBatchRows)")
      check("s08_state_not_input")(s08Max * 10 <= sigTotal,
        s"max state $s08Max vs total signature rows $sigTotal — " +
          "without eviction state would approach the input")

      // ---- s12: the TTL image-dedup gate's state bound (r13) — the
      // multimodal member of the ingest gate run at factor x: real PNG
      // decode + 64-bit aHash once on the base corpus (with planted
      // twins), copies id- and time-shifted like s08, streamed through
      // imagePairsTtl (hash-in-state, verified hamming inside the
      // transition) with the same 600s horizon. Live state = in-horizon
      // docs x 4 block buckets + the current batch — the eviction law is
      // identical to s08's, and the copies sit nDocs seconds apart so
      // cross-copy self-pairs are horizon-rejected.
      val imgBase = graft.multimodal.Multimodal.imageAHash(
          graft.multimodal.Multimodal.pngMediaWithTwins(docsBase, base = 8, every = 7),
          grid = 8)
        .select(col("doc_id"), col("ahash"))
        .localCheckpoint() // one decode for all copies
      val nImg = imgBase.count()
      val imgSigsScaled = (0 until factor).map { i =>
        graft.streaming.ImageDedupStream.blockSignaturesTs(
          imgBase.select((col("doc_id") + lit(Offset * 2 * i)).as("doc_id"),
            col("ahash"))
            .withColumn("rn0", row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy("doc_id")))
            .withColumn("ts", timestamp_seconds(col("rn0") + lit(nImg * i)))
            .drop("rn0"))
      }.reduce(_ unionByName _)
      val imgWork = s"$work/imgdedup"
      val (imgDir, imgTotal) = writeTimeChunks(spark, imgSigsScaled, imgWork, chunks)
      val s12Curve = runWithCurve(spark, imgDir, imgWork, "s12_rehearsal") { df =>
        import spark.implicits._
        graft.streaming.ImageDedupStream
          .imagePairsTtl(df.as[graft.streaming.ImageDedupStream.BlockSigTs], dedupHorizonMs)
          .toDF()
      }
      val s12Max = s12Curve.map(_._2).max
      val steadyS12 = 4L * (dedupHorizonMs / 1000L) // 1 image/second, 4 blocks each
      val imgBatchRows = imgTotal / chunks
      check("s12_batches_cover_chunks")(s12Curve.length >= chunks,
        s"${s12Curve.length} progress entries < $chunks chunks")
      check("s12_bucket_state_plateaus")(s12Max <= 4 * (steadyS12 + imgBatchRows),
        s"max state $s12Max vs 4x(steady $steadyS12 + batch $imgBatchRows)")
      check("s12_state_not_input")(s12Max * 10 <= imgTotal,
        s"max state $s12Max vs total block rows $imgTotal")

      // ---- s09: trending top-k at window close under OUT-OF-ORDER
      // arrival (r10 verdict #6). A synthetic 20-events/second stream
      // (factor x the events table, copies extending the timeline) where
      // every 7th event ARRIVES 3000s late — inside the 3600s watermark
      // delay, so the operator must land it in its EVENT-TIME window even
      // though newer events already advanced the watermark past it.
      // Checks: (a) every emitted window's final top-k equals the batch
      // recompute over ALL events — counts included, so one dropped
      // admissible late event shifts n and fails loudly; (b) per-window
      // state is bounded by the OPEN window count (watermark lag + one
      // chunk, in window units), never cumulative input; (c) each window
      // is emitted exactly once (append at close).
      import spark.implicits._
      val s09WindowMs = 3600000L
      val s09WmS = 3600L
      val evB = Tables.events(spark, srcDir).select(col("event_id"), col("event_type"))
      val nEv = evB.count()
      // the +86400 base keeps the synthetic timeline OFF the epoch:
      // Spark's stateful late-row filter drops rows with event time <=
      // the watermark and the INITIAL watermark is 0, so a timeline
      // anchored at ts=0 loses its first-second rows by construction
      // (TrendingLateReproSpec pins the artifact) — real event times
      // never sit at the epoch.
      val s09Scaled = (0 until factor).map(i => evB.select(
          (col("event_id") + lit(nEv * i)).as("seq"), col("event_type")))
        .reduce(_ unionByName _)
        .select(
          timestamp_seconds(expr("seq div 20") + lit(86400L)).as("ts"),
          col("event_type").as("eventType"),
          timestamp_seconds(expr("seq div 20") + lit(86400L) +
            when(col("seq") % 7 === 0, 3000L).otherwise(0L)).as("arrival"))
      val s09Work = s"$work/trending"
      val (s09Dir, _) = writeTimeChunks(spark, s09Scaled, s09Work, chunks,
        orderCol = "arrival")
      val s09Name = "s09_rehearsal"
      val s09Curve = runWithCurve(spark, s09Dir, s09Work, s09Name, format = "memory") { df =>
        EventsStream.trendingAtClose(
          df.select(col("ts"), col("eventType")).as[EventsStream.TypedEvent],
          windowMs = s09WindowMs, k = 3, watermarkDelay = s"$s09WmS seconds").toDF()
      }
      val s09Streamed = spark.table(s09Name).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getString(2), r.getLong(3)))
      val s09Emitted = s09Streamed.map(_._1).toSet
      // key on (window, rank) exactly as claimed: a window re-emitted
      // with a CHANGED count/type would slip a full-tuple distinct
      // (ADVICE r11) — it must fail here, not only in the parity check
      check("s09_emitted_once")(
        s09Streamed.length == s09Streamed.map(t => (t._1, t._2)).distinct.length,
        "duplicate (window, rank) emissions")
      val s09All = spark.read.parquet(s09Dir)
      val s09ExpectedAll = {
        val counts = s09All.groupBy(
            expr(s"(unix_millis(ts) div $s09WindowMs) * $s09WindowMs").as("w"),
            col("eventType"))
          .agg(count(lit(1)).as("n"))
        val wSpec = org.apache.spark.sql.expressions.Window
          .partitionBy("w").orderBy(col("n").desc, col("eventType"))
        counts.withColumn("rank", row_number().over(wSpec).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("w"), col("rank"), col("eventType"), col("n")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      }
      val s09WindowsTotal = s09ExpectedAll.map(_._1).toSet.size
      check("s09_most_windows_closed")(s09Emitted.size * 10 >= s09WindowsTotal * 8,
        s"${s09Emitted.size} windows emitted of $s09WindowsTotal " +
          "(only the final watermark lag may stay open)")
      val s09ExpectedEmitted = s09ExpectedAll.filter(e => s09Emitted.contains(e._1)).toSet
      check("s09_closed_window_parity_with_late_events")(
        s09Streamed.toSet == s09ExpectedEmitted,
        s"streamed ${s09Streamed.length} tuples != expected " +
          s"${s09ExpectedEmitted.size} on emitted windows; " +
          s"missing=${(s09ExpectedEmitted -- s09Streamed.toSet).take(3)} " +
          s"extra=${(s09Streamed.toSet -- s09ExpectedEmitted).take(3)}")
      val s09Max = s09Curve.map(_._2).max
      val s09ArrSpanMs = {
        val b = s09All.agg(min(unix_millis(col("arrival"))),
          max(unix_millis(col("arrival")))).head()
        b.getLong(1) - b.getLong(0)
      }
      val s09OpenBound = (s09ArrSpanMs / chunks + s09WmS * 1000L) / s09WindowMs + 2
      check("s09_state_open_windows_only")(s09Max <= 4 * s09OpenBound,
        s"max state $s09Max window rows vs 4 x open-window bound $s09OpenBound")
      check("s09_batches_cover_chunks")(s09Curve.length >= chunks,
        s"${s09Curve.length} progress entries < $chunks chunks")

      // ---- s10: windowed adjacent-pair counts (r12) — the vocabulary-
      // drift aggregate under the s09 discipline: a timestamped document
      // stream (factor x the documents table, timeline extended, every
      // 7th doc arriving 1800s late inside the 3600s watermark), one
      // windowed hash aggregate. Checks: (a) each (window, l, r) emitted
      // once; (b) closed-window parity against an INDEPENDENT batch
      // recompute (index-arithmetic pair construction, unix_millis
      // bucketing — not the shared transform); (c) state bounded by
      // (open windows x pair vocabulary), never document volume.
      val s10WindowMs = 3600000L
      val docsB = Tables.documents(spark, srcDir).select(col("doc_id"), col("text"))
      val nDocsB = docsB.count()
      val s10Scaled = (0 until factor).map(i => docsB.select(
          (col("doc_id") + lit(nDocsB * i)).as("seq"), col("text")))
        .reduce(_ unionByName _)
        .select(
          timestamp_seconds(expr("seq div 2") + lit(86400L)).as("ts"),
          col("text"),
          timestamp_seconds(expr("seq div 2") + lit(86400L) +
            when(col("seq") % 7 === 0, 1800L).otherwise(0L)).as("arrival"))
      val s10Work = s"$work/paircounts"
      val (s10Dir, _) = writeTimeChunks(spark, s10Scaled, s10Work, chunks,
        orderCol = "arrival")
      val s10Name = "s10_rehearsal"
      val s10Curve = runWithCurve(spark, s10Dir, s10Work, s10Name, format = "memory") { df =>
        graft.streaming.PhraseStream.windowedPairCounts(
          df.select(col("ts"), col("text")).as[graft.streaming.PhraseStream.TimedDoc],
          windowMs = s10WindowMs, watermarkDelay = "3600 seconds")
      }
      val s10Streamed = spark.table(s10Name).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getString(2), r.getLong(3)))
      val s10Emitted = s10Streamed.map(_._1).toSet
      check("s10_emitted_once")(
        s10Streamed.length == s10Streamed.map(t => (t._1, t._2, t._3)).distinct.length,
        "duplicate (window, l, r) emissions")
      val s10All = spark.read.parquet(s10Dir)
      val s10ExpectedAll = s10All
        .select(expr(s"(unix_millis(ts) div $s10WindowMs) * $s10WindowMs").as("w"),
          split(col("text"), " ").as("tk"))
        .select(col("w"), explode(when(size(col("tk")) >= 2,
            expr("transform(sequence(0, size(tk) - 2), i -> struct(tk[i] AS l, tk[i + 1] AS r))"))
          .otherwise(expr("CAST(array() AS array<struct<l: string, r: string>>)"))).as("p"))
        .groupBy(col("w"), col("p.l"), col("p.r")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      val s10WindowsTotal = s10ExpectedAll.map(_._1).toSet.size
      // at horizon, exactly the windows within (watermark + window) of
      // max event time may stay open — an ABSOLUTE bound of 2 here, not
      // s09's 80% ratio (s10's 7-window timeline makes 2 open = 29%)
      check("s10_all_but_open_windows_closed")(
        s10WindowsTotal >= 5 && s10Emitted.size >= s10WindowsTotal - 2,
        s"${s10Emitted.size} windows emitted of $s10WindowsTotal")
      val s10ExpectedEmitted = s10ExpectedAll.filter(e => s10Emitted.contains(e._1)).toSet
      check("s10_closed_window_parity_with_late_docs")(
        s10Streamed.toSet == s10ExpectedEmitted,
        s"streamed ${s10Streamed.length} != expected ${s10ExpectedEmitted.size}; " +
          s"missing=${(s10ExpectedEmitted -- s10Streamed.toSet).take(3)} " +
          s"extra=${(s10Streamed.toSet -- s10ExpectedEmitted).take(3)}")
      val s10Max = s10Curve.map(_._2).max
      val s10Vocab = s10ExpectedAll.map(t => (t._2, t._3)).toSet.size
      val s10ArrSpanMs = {
        val b = s10All.agg(min(unix_millis(col("arrival"))),
          max(unix_millis(col("arrival")))).head()
        b.getLong(1) - b.getLong(0)
      }
      val s10OpenBound = (s10ArrSpanMs / chunks + 3600000L) / s10WindowMs + 2
      check("s10_state_open_windows_x_vocab")(s10Max <= 4 * s10OpenBound * s10Vocab,
        s"max state $s10Max rows vs 4 x $s10OpenBound open windows x $s10Vocab pair vocab")
      // r14: the vocab bound is now a MEASURED probe, not just this
      // receipt — at rehearsal scale the worst window fits the budget at
      // support 1 (the no-filter branch the parity checks above ran on)
      val s10Support = graft.streaming.PhraseStream.choosePairMinSupport(
        s10All.select(col("ts"), col("text")), windowMs = s10WindowMs)
      check("s10_measured_support_is_nofilter_branch")(s10Support == 1L,
        s"probe chose support $s10Support — pair vocab outgrew the budget at rehearsal scale")
      check("s10_batches_cover_chunks")(s10Curve.length >= chunks,
        s"${s10Curve.length} progress entries < $chunks chunks")

      // ---- s11: streaming decontamination (r12) — the ingest gate
      // under the s10 discipline: factor x timestamped documents
      // (original doc_id % 10 == 0 held out as the eval side, every 7th
      // arriving 1800s late inside the 3600s watermark), eval grams
      // built ONCE driver-side (the d15b size contract), each doc a
      // stateless broadcast probe, ONE windowed aggregate. Checks:
      // (a) one report row per closed window; (b) n_docs and
      // n_exact_contaminated match an INDEPENDENT batch recompute (a
      // gram equi-join — not the shared probe); (c) the error-direction
      // gates hold on every emitted row (missed = 0, FP bound); (d)
      // state is bounded by OPEN WINDOWS ALONE (one row each) — the
      // tightest state contract of any streaming entry.
      val s11Work = s"$work/decontam"
      val s11EvalGrams: Set[String] = docsB.filter(col("doc_id") % 10 === 0)
        .select("text").collect()
        .flatMap(_.getString(0).split(' ').sliding(5).filter(_.length == 5)
          .map(_.mkString(" "))).toSet
      val s11Scaled = (0 until factor).map(i =>
          docsB.filter(col("doc_id") % 10 =!= 0).select(
            (col("doc_id") + lit(nDocsB * i)).as("seq"), col("text")))
        .reduce(_ unionByName _)
        .select(col("seq"),
          timestamp_seconds(expr("seq div 2") + lit(86400L)).as("ts"),
          col("text"),
          timestamp_seconds(expr("seq div 2") + lit(86400L) +
            when(col("seq") % 7 === 0, 1800L).otherwise(0L)).as("arrival"))
      val (s11Dir, _) = writeTimeChunks(spark, s11Scaled, s11Work, chunks,
        orderCol = "arrival")
      val s11Name = "s11_rehearsal"
      val s11Curve = runWithCurve(spark, s11Dir, s11Work, s11Name, format = "memory") { df =>
        graft.streaming.DecontaminationStream.windowedContaminationReport(
          df.select(col("ts"), col("text")), s11EvalGrams,
          windowMs = 3600000L, watermarkDelay = "3600 seconds")
      }
      val s11Streamed = spark.table(s11Name).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      val s11Emitted = s11Streamed.map(_._1).toSet
      check("s11_emitted_once")(
        s11Streamed.length == s11Emitted.size, "duplicate window emissions")
      check("s11_error_directions_per_window")(
        s11Streamed.forall(t => t._4 == 0L && t._5 == 0L),
        s"rows violating missed=0/FP bound: " +
          s"${s11Streamed.filter(t => t._4 != 0L || t._5 != 0L).take(3).mkString(",")}")
      val s11All = spark.read.parquet(s11Dir)
      val s11EvalDf = s11EvalGrams.toSeq.toDF("g")
      val s11Contam = s11All
        .select(col("seq"), split(col("text"), " ").as("tk"))
        .select(col("seq"), explode(when(size(col("tk")) >= 5,
            expr("transform(sequence(0, size(tk) - 5), i -> concat_ws(' ', slice(tk, i + 1, 5)))"))
          .otherwise(expr("CAST(array() AS array<string>)"))).as("g"))
        .join(s11EvalDf, "g").select("seq").distinct()
        .withColumn("c", lit(1L))
      val s11ExpectedAll = s11All
        .select(col("seq"), expr("(unix_millis(ts) div 3600000) * 3600000").as("w"))
        .join(s11Contam, Seq("seq"), "left")
        .groupBy("w").agg(count(lit(1)).as("n"),
          sum(coalesce(col("c"), lit(0L))).as("x"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val s11WindowsTotal = s11ExpectedAll.map(_._1).toSet.size
      check("s11_all_but_open_windows_closed")(
        s11WindowsTotal >= 5 && s11Emitted.size >= s11WindowsTotal - 2,
        s"${s11Emitted.size} windows emitted of $s11WindowsTotal")
      val s11ExpectedEmitted = s11ExpectedAll
        .filter(e => s11Emitted.contains(e._1)).map(e => (e._1, e._2, e._3)).toSet
      check("s11_closed_window_parity_with_late_docs")(
        s11Streamed.map(t => (t._1, t._2, t._3)).toSet == s11ExpectedEmitted,
        s"streamed ${s11Streamed.length} != expected ${s11ExpectedEmitted.size}; " +
          s"missing=${(s11ExpectedEmitted -- s11Streamed.map(t => (t._1, t._2, t._3))).take(3)} " +
          s"extra=${(s11Streamed.map(t => (t._1, t._2, t._3)).toSet -- s11ExpectedEmitted).take(3)}")
      val s11Max = s11Curve.map(_._2).max
      val s11ArrSpanMs = {
        val b = s11All.agg(min(unix_millis(col("arrival"))),
          max(unix_millis(col("arrival")))).head()
        b.getLong(1) - b.getLong(0)
      }
      val s11OpenBound = (s11ArrSpanMs / chunks + 3600000L) / 3600000L + 2
      check("s11_state_open_windows_only")(s11Max <= 4 * s11OpenBound,
        s"max state $s11Max rows vs 4 x $s11OpenBound open windows (no vocab term)")
      check("s11_batches_cover_chunks")(s11Curve.length >= chunks,
        s"${s11Curve.length} progress entries < $chunks chunks")

      // ---- maintenance soak under ProcessingTime (r16 verdict #5): the
      // zero-job replay and pile-bounded compaction claims are proven
      // under AvailableNow; a long-lived deployment runs a short trigger
      // interval, where the costs that matter are the TICKS — empty
      // ticks and crash-replayed batches must run ZERO Spark jobs, live
      // segments must stay bounded by the compaction cadence, and the
      // process must not leak file descriptors across the soak (the r15
      // leak class: unclosed directory streams under exactly this loop).
      val (soakSegs, soakIdleJobs, soakReplayJobs, soakLive, soakFdDelta,
        soakHeapMb) = {
        import graft.sources.{SignatureIndex, VersionedIndex}
        import graft.streaming.SignatureIndexStream
        import org.apache.spark.sql.streaming.Trigger
        def openFds: Int =
          Option(new java.io.File("/proc/self/fd").list()).map(_.length).getOrElse(-1)
        def heapUsedMb: Long = {
          System.gc(); Thread.sleep(200L); System.gc()
          val r = Runtime.getRuntime
          (r.totalMemory() - r.freeMemory()) >> 20
        }
        val soakWork = s"$work/soak"
        val root = java.nio.file.Paths.get(soakWork)
        if (java.nio.file.Files.exists(root))
          graft.sources.VersionedIndex.walkAll(root).reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        val soakIn = s"$soakWork/in"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(soakIn))
        val soakChunks = 12
        val docsAll = Tables.documents(spark, srcDir)
          .select(col("doc_id"), col("text"), col("source"))
        // base = residue 0 of 1+soakChunks; chunk i streams residue i+1
        val mod = (soakChunks + 1).toLong
        val sigPath = s"$soakWork/sig"
        SignatureIndex.build(
          graft.queries.PipelinePack.bandSignatures(
            docsAll.filter(col("doc_id") % mod === 0L)),
          sigPath, "fp-soak")
        (1 to soakChunks).foreach { i =>
          docsAll.filter(col("doc_id") % mod === i.toLong)
            .coalesce(1).write.mode("overwrite").parquet(s"$soakIn/chunk_$i")
        }
        val fd0 = openFds
        val heap0 = heapUsedMb
        val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); ()
          }
        }
        val schema = spark.read.parquet(s"$soakIn/chunk_1").schema
        def sourceDf = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(s"$soakIn/chunk_*")
        def segCount: Int = SignatureIndex.readMeta(sigPath).get
          .segments.count(_.startsWith("soak-"))
        // phase 1: drain the 12 fresh batches on a 500 ms cadence, then
        // idle ~8 s of EMPTY ticks with a job listener armed
        val q1 = SignatureIndexStream.start(sourceDf, sigPath, "sig_soak",
          Some(s"$soakWork/ckpt"), segPrefix = "soak", compactAfter = 3,
          trigger = Trigger.ProcessingTime("500 milliseconds"))
        val drainDeadline = System.currentTimeMillis() + 240000L
        while (segCount < soakChunks && System.currentTimeMillis() < drainDeadline)
          Thread.sleep(250L)
        val drained = segCount
        // segCount flips when the append publishes, but the same
        // foreachBatch call may still be running its compaction — settle
        // before arming, so trailing batch-12 work isn't counted as idle
        Thread.sleep(4000L)
        spark.sparkContext.addSparkListener(listener)
        val idleJobs =
          try {
            org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
            jobs.set(0)
            Thread.sleep(8000L) // ~16 empty ticks
            org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
            jobs.get()
          } finally spark.sparkContext.removeSparkListener(listener)
        q1.stop()
        // phase 2: crash-replay under the live trigger — drop the LAST
        // batch's commit marker so the restart replays it; the ledger
        // gates the replay to a no-op and the replayed tick runs ZERO
        // jobs (IndexMaintenance consults the manifest before isEmpty)
        val commits = java.nio.file.Paths.get(s"$soakWork/ckpt/commits")
        val lastCommit = graft.sources.VersionedIndex.listDir(commits)
          .filter(_.getFileName.toString.forall(_.isDigit))
          .maxBy(_.getFileName.toString.toLong)
        val replayedId = lastCommit.getFileName.toString.toLong
        java.nio.file.Files.delete(lastCommit)
        val segsBefore = SignatureIndex.readMeta(sigPath).get.segments
        spark.sparkContext.addSparkListener(listener)
        val replayJobs =
          try {
            org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
            jobs.set(0)
            val q2 = SignatureIndexStream.start(sourceDf, sigPath, "sig_soak2",
              Some(s"$soakWork/ckpt"), segPrefix = "soak", compactAfter = 3,
              trigger = Trigger.ProcessingTime("500 milliseconds"))
            val replayDeadline = System.currentTimeMillis() + 120000L
            while (!Option(q2.lastProgress).exists(_.batchId >= replayedId) &&
                System.currentTimeMillis() < replayDeadline)
              Thread.sleep(250L)
            q2.stop()
            org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
            jobs.get()
          } finally spark.sparkContext.removeSparkListener(listener)
        val segsAfter = SignatureIndex.readMeta(sigPath).get.segments
        val live = SignatureIndex.readMeta(sigPath).get.live.size
        val fdDelta = openFds - fd0
        val heap1 = heapUsedMb
        check("soak_fresh_batches_all_committed")(drained == soakChunks,
          s"$drained of $soakChunks chunk batches committed")
        check("soak_empty_ticks_job_free")(idleJobs == 0,
          s"$idleJobs Spark jobs across ~16 empty ProcessingTime ticks")
        check("soak_replayed_tick_job_free")(
          replayJobs == 0 && segsAfter == segsBefore,
          s"$replayJobs jobs on the replayed tick; segments " +
            s"${segsBefore.size} -> ${segsAfter.size}")
        check("soak_live_segments_bounded")(live <= 4,
          s"$live live segments (compactAfter 3)")
        check("soak_no_fd_leak")(fd0 > 0 && fdDelta <= 128,
          s"open fds $fd0 -> ${fd0 + fdDelta} (+$fdDelta)")
        (segsAfter.size, idleJobs, replayJobs, live, fdDelta, heap1 - heap0)
      }

      def curveJson(c: Seq[(Long, Long)]): String =
        c.map { case (in, st) => s"[$in,$st]" }.mkString("[", ",", "]")
      val json =
        s"""{"src":"$srcDir","factor":$factor,"chunks":$chunks,"total_rows":$total,""" +
          s""""span_days":${spanMicros / 86400000000L},""" +
          s""""s03_max_state":$s03Max,"s03_steady_estimate":$steadyS03,""" +
          s""""s05_max_state":$s05Max,"s05_steady_estimate":$steadyS05,""" +
          s""""s08_max_state":$s08Max,"s08_steady_estimate":$steadyS08,""" +
          s""""s08_sig_rows":$sigTotal,"s08_horizon_ms":$dedupHorizonMs,""" +
          s""""s12_max_state":$s12Max,"s12_steady_estimate":$steadyS12,""" +
          s""""s12_block_rows":$imgTotal,""" +
          s""""s09_max_state":$s09Max,"s09_open_bound":$s09OpenBound,""" +
          s""""s09_windows_emitted":${s09Emitted.size},"s09_windows_total":$s09WindowsTotal,""" +
          s""""s09_tuples":${s09Streamed.length},""" +
          s""""s10_max_state":$s10Max,"s10_open_bound":$s10OpenBound,""" +
          s""""s10_pair_vocab":$s10Vocab,"s10_measured_support":$s10Support,""" +
          s""""s10_windows_emitted":${s10Emitted.size},"s10_windows_total":$s10WindowsTotal,""" +
          s""""s10_tuples":${s10Streamed.length},""" +
          s""""s11_max_state":$s11Max,"s11_open_bound":$s11OpenBound,""" +
          s""""s11_windows_emitted":${s11Emitted.size},"s11_windows_total":$s11WindowsTotal,""" +
          s""""s11_eval_grams":${s11EvalGrams.size},""" +
          s""""soak_segments":$soakSegs,"soak_idle_jobs":$soakIdleJobs,""" +
          s""""soak_replay_jobs":$soakReplayJobs,"soak_live":$soakLive,""" +
          s""""soak_fd_delta":$soakFdDelta,"soak_heap_delta_mb":$soakHeapMb,""" +
          s""""s11_curve":${curveJson(s11Curve)},""" +
          s""""s03_curve":${curveJson(s03Curve)},"s05_curve":${curveJson(s05Curve)},""" +
          s""""s08_curve":${curveJson(s08Curve)},"s09_curve":${curveJson(s09Curve)},""" +
          s""""s10_curve":${curveJson(s10Curve)},""" +
          s""""failures":${failures.size}}"""
      println(json)
      sys.env.get("SPARK_GRAFT_STREHEARSAL_OUT").foreach { p =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p), (json + "\n").getBytes("UTF-8"))
      }
      if (failures.nonEmpty) {
        println(s"FAILURES: ${failures.reverse.mkString(", ")}")
        sys.exit(1)
      }
    } finally spark.stop()
  }
}
