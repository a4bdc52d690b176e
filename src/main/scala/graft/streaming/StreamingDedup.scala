package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection — the continuous form of d03's
  * MinHash-LSH dedup, the shape a 100 TB/day ingestion pipeline actually
  * runs: documents ARRIVE, and each must be checked against everything
  * seen so far without ever joining the full history.
  *
  * The index is the same banded substrate as the batch path
  * (PipelinePack.bandSignatures: 32 band keys per doc, each over 4 of
  * its 128 minhashes, computed per row by graft.functions.MinHashBands):
  * state lives per (band, sig) BUCKET and holds only the doc ids that
  * hashed there, so per-bucket state is tiny (collisions are what
  * buckets exist to make rare) and the arriving doc meets history
  * through a state lookup, not a join. Candidates then flow to the same
  * exact-Jaccard verification as d03 (PipelinePack.verifyPairs).
  *
  * Batch execution of the SAME function feeds each bucket's full
  * iterator through one state transition — emitting exactly the
  * within-bucket pair set of d03's candidate equi-join (the s07 entry
  * drives this; StreamingSpec drives the cross-batch form, where a doc
  * in batch 2 must pair with bucket-mates from batch 1 out of state).
  *
  * Production state discipline: [[candidatePairsTtl]] is the
  * horizon-bounded form a continuous deployment runs — keyed state
  * carries an event-time TTL (GroupStateTimeout.EventTimeTimeout + a
  * watermark) bounding the dedup horizon: ids older than the horizon
  * can no longer be claimed as the "earlier" copy and are evicted, so
  * bucket state is proportional to the horizon's arrivals, not to
  * history. [[candidatePairs]] (no TTL) remains the exact unbounded
  * twin of d03 for gated batch entries and bounded replays.
  */
object StreamingDedup {

  final case class BandSig(docId: Long, band: Int, sig: Long)
  final case class BucketState(ids: Seq[Long])
  final case class CandPair(docI: Long, docJ: Long)

  /** [[BandSig]] with the document's event time (`ts` drives the
    * watermark; `tsMs` is carried into state as plain millis).
    */
  final case class BandSigTs(docId: Long, band: Int, sig: Long, ts: java.sql.Timestamp)
  final case class TimedEntry(id: Long, tsMs: Long)
  final case class BucketStateTs(entries: Seq[TimedEntry])

  /** Candidate pairs from band-bucket keyed state: every arriving doc id
    * is paired (smaller id first) with each id already remembered in its
    * bucket, plus the within-batch bucket-mates. Downstream must
    * `distinct` (a pair can collide in several bands) and exact-verify.
    */
  def candidatePairs(sigs: Dataset[BandSig]): Dataset[CandPair] = {
    import sigs.sparkSession.implicits._
    sigs
      .groupByKey(s => (s.band, s.sig))
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_, it, state: GroupState[BucketState]) =>
          val prior = state.getOption.map(_.ids).getOrElse(Vector.empty)
          val incoming = it.map(_.docId).toVector.distinct.sorted
          val cross = for { n <- incoming; o <- prior if o != n }
            yield CandPair(math.min(o, n), math.max(o, n))
          val intra = for {
            i <- incoming.indices; j <- (i + 1) until incoming.size
          } yield CandPair(incoming(i), incoming(j))
          state.update(BucketState((prior ++ incoming).distinct))
          (cross ++ intra).iterator
      }
  }

  /** Horizon-bounded candidate pairs — the production TTL discipline the
    * scaladoc above describes, implemented: two docs are candidates only
    * when their event times are within `horizonMs` of each other, and
    * bucket entries older than `watermark - horizonMs` are EVICTED (they
    * can never again satisfy the horizon predicate against any
    * admissible future arrival, whose event time is >= the watermark).
    * A bucket with no arrivals expires whole via
    * `GroupStateTimeout.EventTimeTimeout` once the watermark passes its
    * newest entry + horizon, so idle-bucket state does not linger.
    *
    * Eviction is sound, not just bounded: evicting e with
    * `e.tsMs < watermark - horizonMs` loses only pairs
    * `|t_new - e.tsMs| > horizonMs` — pairs the horizon predicate
    * rejects anyway. So the TTL output equals the batch twin's output
    * restricted to admissible (non-late) arrivals.
    *
    * Batch execution of the SAME function (no watermark, timeouts never
    * fire) degenerates to the pure horizon predicate over each bucket's
    * full iterator — which is how the s08 entry oracle-gates the
    * semantics in DuckDB.
    */
  def candidatePairsTtl(
      sigs: Dataset[BandSigTs],
      horizonMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[CandPair] = {
    import sigs.sparkSession.implicits._
    // EventTimeTimeout requires the watermark on the streaming plan; on a
    // batch plan withWatermark is a no-op analysis-wise but keep the call
    // unconditional so stream/batch run the identical plan prefix
    val wmed = sigs.withWatermark("ts", watermarkDelay)
    wmed
      .groupByKey(s => (s.band, s.sig))
      .flatMapGroupsWithState[BucketStateTs, CandPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (_, it, state: GroupState[BucketStateTs]) =>
          if (state.hasTimedOut) {
            // watermark passed every entry's ts + horizon: nothing here
            // can pair again
            state.remove()
            Iterator.empty
          } else {
            // batch mode has no watermark — GroupStateImpl throws
            // UnsupportedOperationException ("Cannot get event time
            // watermark timestamp without setting watermark ...") on
            // access — there, nothing is ever evicted and the horizon
            // predicate alone defines the output. The catch is EXACTLY
            // that type so a genuine state error still propagates.
            val wm =
              try state.getCurrentWatermarkMs()
              catch { case _: UnsupportedOperationException => Long.MinValue }
            val keepFrom = if (wm == Long.MinValue) Long.MinValue else wm - horizonMs
            val prior = state.getOption.map(_.entries).getOrElse(Vector.empty)
              .filter(_.tsMs >= keepFrom)
            // one entry per doc id, newest event time wins (a re-arrival
            // refreshes its TTL)
            val incoming = it.map(s => (s.docId, s.ts.getTime)).toVector
              .groupBy(_._1).map { case (id, xs) => TimedEntry(id, xs.map(_._2).max) }
              .toVector.sortBy(_.id)
            val cross = for {
              n <- incoming; o <- prior
              if o.id != n.id && math.abs(n.tsMs - o.tsMs) <= horizonMs
            } yield CandPair(math.min(o.id, n.id), math.max(o.id, n.id))
            val intra = for {
              i <- incoming.indices; j <- (i + 1) until incoming.size
              if math.abs(incoming(i).tsMs - incoming(j).tsMs) <= horizonMs
            } yield CandPair(incoming(i).id, incoming(j).id)
            val kept = (prior ++ incoming)
              .groupBy(_.id).map { case (id, xs) => TimedEntry(id, xs.map(_.tsMs).max) }
              .toVector.filter(_.tsMs >= keepFrom).sortBy(_.id)
            if (kept.isEmpty) state.remove()
            else {
              state.update(BucketStateTs(kept))
              if (wm != Long.MinValue) {
                // expire the whole bucket when no entry can pair anymore;
                // must be beyond the current watermark or Spark rejects it
                val expireAt = kept.map(_.tsMs).max + horizonMs + 1L
                state.setTimeoutTimestamp(math.max(expireAt, wm + 1L))
              }
            }
            (cross ++ intra).iterator
          }
      }
  }
}
