package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** s10 — streaming phrase/vocab statistics: the windowed form of the
  * phrase-merge family's round-1 aggregate (adjacent token-pair counts,
  * [[graft.queries.PipelinePack.phraseMerge]] step 1) over a stream of
  * timestamped documents. A tokenizer-training pipeline watching a live
  * corpus runs exactly this to track vocabulary drift window by window.
  *
  * Shape: per-document pair explosion is stateless and map-side (slice +
  * arrays_zip, no shuffle), then ONE windowed hash aggregate keyed by
  * (event-time window, l, r) — partial counts combine inside each
  * micro-batch before the shuffle, and state per window is bounded by
  * the pair vocabulary, never the document volume. With a watermark and
  * append mode, each window's counts emit exactly once when the
  * watermark passes its close — the same closed-window discipline as
  * s09's leaderboard, here with the plain windowed-aggregate operator
  * because final-answer-per-window needs no custom state. The gated
  * batch twin is `s10_windowed_pair_counts` (ExtensionsPack); the spec
  * asserts closed-window parity between the two.
  *
  * The pair-vocabulary BOUND is measured, not assumed (r14, the leftover
  * third of r12's stretch item): [[choosePairMinSupport]] probes the
  * worst window's vocabulary at each rung of a support ladder and picks
  * the smallest rung that fits the budget — [[windowedPairCounts]] then
  * emits only pairs at or above it. A natural corpus fits at support 1
  * (no filtering — the fixture branch); a pathological one (machine ids,
  * hashes) escalates instead of blowing the state store. The DuckDB
  * oracle mirrors the ladder decision (the d10b/d35 discipline), so BOTH
  * branches stay gated.
  */
object PhraseStream {

  final case class TimedDoc(ts: Timestamp, text: String)

  /** Adjacent-pair explosion shared by the operator and the probe. */
  private def pairsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("ts"), split(col("text"), " ").as("w"))
      .select(col("ts"), explode(expr(
        // adjacent pairs as zip(w[0..n-2], w[1..n-1]); the CASE keeps
        // single-token and empty documents from slicing negatively
        "CASE WHEN size(w) < 2 THEN CAST(array() AS array<struct<l: string, r: string>>) " +
          "ELSE transform(arrays_zip(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)), " +
          "x -> struct(x['0'] AS l, x['1'] AS r)) END")).as("p"))

  /** The measured support ladder (see [[choosePairMinSupport]]). */
  private[graft] val PairSupportLadder = Seq(1L, 2L, 5L, 50L)

  /** The measured support per (session, corpus key, budget). */
  private val supports = graft.SessionMemo.plain[(String, Long), Long](
    "phrase_stream.support")(k => graft.SessionMemo.tableOf(k._1))

  /** Measure the worst window's pair vocabulary at each ladder rung over
    * a BATCH slice (history or a sample — the stream is configured from
    * it, the d35 probe discipline) and return the smallest support whose
    * worst window fits `vocabBudget`. Two aggregates, memoized per
    * (session, corpus key, budget); the key names the table it derives
    * from ([[graft.SessionMemo.tableOf]]), so a rewritten corpus
    * supersedes the entry and is probed again.
    */
  private[graft] def choosePairMinSupport(
      docs: DataFrame, vocabBudget: Long = 1000000L,
      windowMs: Long = 3600000L, cacheKey: Option[String] = None): Long = {
    def probe(): Long = {
      val perWindow = pairsOf(docs)
        .groupBy(window(col("ts"), s"$windowMs milliseconds"),
          col("p.l").as("l"), col("p.r").as("r"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("window"))
        .agg(sum(when(col("n") >= PairSupportLadder.head, 1L).otherwise(0L))
            .as(s"v${PairSupportLadder.head}"),
          PairSupportLadder.tail.map(k =>
            sum(when(col("n") >= k, 1L).otherwise(0L)).as(s"v$k")): _*)
      val worst = perWindow
        .agg(max(col(s"v${PairSupportLadder.head}")),
          PairSupportLadder.tail.map(k => max(col(s"v$k"))): _*)
        .head
      PairSupportLadder.zipWithIndex
        .collectFirst { case (k, i)
          if !worst.isNullAt(i) && worst.getLong(i) <= vocabBudget => k }
        .getOrElse(PairSupportLadder.last)
    }
    supports(docs.sparkSession, cacheKey.map((_, vocabBudget)))(probe())
  }

  def windowedPairCounts(
      docs: Dataset[TimedDoc],
      windowMs: Long = 3600000L,
      watermarkDelay: String = "10 minutes",
      minSupport: Long = 1L): DataFrame = {
    val counts = pairsOf(docs.toDF().withWatermark("ts", watermarkDelay))
      .groupBy(
        window(col("ts"), s"$windowMs milliseconds"),
        col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("l"), col("r"), col("n"))
    // the measured budget gate: a stateless post-aggregate filter (valid
    // in append-mode streaming — it drops rows at emission)
    if (minSupport <= 1L) counts else counts.filter(col("n") >= minSupport)
  }
}
