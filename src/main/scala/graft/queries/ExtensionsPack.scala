package graft.queries

import graft.{QDef, Tables}
import graft.multimodal.Multimodal
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._

/** Streaming-equivalent and multimodal query surfaces.
  *
  * s01 runs the exact transform the streaming path uses
  * ([[EventsStream.windowedCounts]]) against the batch events table — the
  * two paths share one function, so the oracle gates both. Multimodal
  * metadata is oracle-gated; the stubbed feature decode and frame sampling
  * are rows-only (verified against deterministic expectations in
  * MultimodalSpec).
  */
object ExtensionsPack {

  // The multimodal oracles encode Multimodal.pixel's per-band salt
  // directly (ADVICE r12, resolved the other way after the r13 rehearsal
  // showed entries must legitimately RUN on band-shifted corpora): each
  // channel formula carries the (doc_id // ScaleUp.Offset)-derived
  // nonlinear term, so oracle parity holds at ANY id band — no runtime
  // guard needed, and pointing verify at a ScaleUp output now compares
  // correctly instead of failing.

  /** One oracle for the q34 family: all three written orientations ask
    * the identical point-in-session-interval question, so DuckDB answers
    * it once in the canonical form.
    */
  private val q34OracleSql = """
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      m AS (SELECT user_id, ts,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL '10 minutes' THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      s AS (SELECT user_id, ts,
              sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
            FROM m),
      sess AS (SELECT user_id, min(ts) AS session_start,
                      max(ts) + INTERVAL '10 minutes' AS session_end
               FROM s GROUP BY user_id, sid)
      SELECT e.user_id, e.ts, x.session_start
      FROM e JOIN sess x ON e.user_id = x.user_id
        AND e.ts >= x.session_start AND e.ts < x.session_end
      ORDER BY 1, 2, 3"""

  /** Run the q34 range-join SQL with the given ON-clause bound predicate
    * under the conf-gated [[graft.plans.RangeJoinBinning]] rule, and
    * REQUIRE the rewrite fired (the __graft_ bin attributes appear in
    * the executed plan) — the q34 family gates the optimizer arms, and
    * an unmatched orientation silently answered by the naive join would
    * otherwise still pass the row compare.
    */
  private def q34Variant(
      s: org.apache.spark.sql.SparkSession, dir: String,
      boundPredicate: String): org.apache.spark.sql.DataFrame = {
    import graft.plans.RangeJoinBinning
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("v"))
      .createOrReplaceTempView("q34_points")
    EventsStream.sessionized(Tables.events(s, dir))
      .select(col("user_id").as("s_user"), col("session_start"),
        unix_micros(col("session_start")).as("lo"),
        unix_micros(col("session_end")).as("hi"))
      .createOrReplaceTempView("q34_sess")
    val prev = s.conf.getOption(RangeJoinBinning.BinSizeKey)
    s.conf.set(RangeJoinBinning.BinSizeKey, "3600000000") // 1-hour bins, q23's choice
    try {
      val df = s.sql(s"""
        SELECT p.user_id, p.ts, x.session_start
        FROM q34_points p JOIN q34_sess x
          ON p.user_id = x.s_user AND $boundPredicate
        ORDER BY p.user_id, p.ts, x.session_start""")
      // freeze the rewritten plan under the conf (QueryExecution memoizes)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("__graft_"),
        s"RangeJoinBinning did not rewrite `$boundPredicate`:\n${plan.take(2000)}")
      df
    } finally prev.fold(s.conf.unset(RangeJoinBinning.BinSizeKey))(
      v => s.conf.set(RangeJoinBinning.BinSizeKey, v))
  }

  /** Shared oracle chain for the 64-bit image-hash family (m07d / s12 /
    * m08): re-derives the twin-planted PNG corpus pixel-by-pixel, the
    * 8x8 aHash, the four 16-bit Manku block rows (`vr`) and the banded
    * candidate pairs with both hashes (`pr`) — the exhaustive substrate
    * each member filters differently.
    */
  private val imgAHash64Ctes: String = """ids AS (SELECT doc_id, doc_id AS src, FALSE AS tw FROM documents
                   UNION ALL
                   SELECT doc_id + 1000000, doc_id, TRUE FROM documents WHERE doc_id % 7 = 0),
      d AS (SELECT doc_id, src, tw, src % 13 + 8 AS w, src % 11 + 8 AS h FROM ids),
      px AS (SELECT doc_id, src, tw, w, h, unnest(range(0, w * h)) AS i FROM d),
      c AS (SELECT doc_id, w, h, i,
              CASE WHEN tw AND i = 0 THEN 255
                   ELSE (src * 31 + (i % w) * 7 + (i // w) * 13 + (src // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1)) % 256 END AS r,
              CASE WHEN tw AND i = 0 THEN 255
                   ELSE (src * 17 + (i % w) * 3 + (i // w) * 29 + (src // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1) * 3) % 256 END AS g,
              CASE WHEN tw AND i = 0 THEN 255
                   ELSE (src * 53 + (i % w) * 11 + (i // w) * 5 + (src // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1) * 7) % 256 END AS b
            FROM px),
      cell AS (SELECT doc_id,
                 ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS cl,
                 r + g + b AS l
               FROM c),
      cm AS (SELECT doc_id, cl, sum(l) // count(*) AS m FROM cell GROUP BY 1, 2),
      gm AS (SELECT doc_id, sum(m) // 64 AS g FROM cm GROUP BY 1),
      hs AS (SELECT cm.doc_id,
               CAST(sum(CASE WHEN cm.m <= gm.g THEN 0
                             WHEN cl = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                             ELSE CAST(CAST(1 AS BIGINT) << cl AS HUGEINT) END)
                 AS BIGINT) AS ahash
             FROM cm JOIN gm ON gm.doc_id = cm.doc_id GROUP BY cm.doc_id),
      vr AS (SELECT doc_id, ahash, f AS blk,
               (ahash >> (16 * f)) & 65535 AS bv
             FROM hs, (SELECT unnest(range(0, 4)) AS f)),
      pr AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.ahash AS ha, b.ahash AS hb
             FROM vr a JOIN vr b
               ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)"""

  val defs: Seq[QDef] = Seq(

    QDef("s01_windowed_events", Some("""
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
             event_type,
             count(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY window_start, event_type
      ORDER BY window_start, event_type""")) { (s, dir) =>
      EventsStream.windowedCounts(Tables.events(s, dir))
        .orderBy("window_start", "event_type")
    },

    QDef("s02_dedup_events", Some("""
      SELECT count(*) AS n_events, count(DISTINCT event_id) AS n_distinct
      FROM events""")) { (s, dir) =>
      // batch twin of EventsStream.dedupedEvents — the watermark-bounded
      // streaming variant is exercised in StreamingSpec (it is
      // streaming-only by definition)
      val deduped = Tables.events(s, dir).dropDuplicates("event_id")
      Tables.events(s, dir).agg(count(lit(1)).as("n_events"))
        .crossJoin(deduped.agg(count(lit(1)).as("n_distinct")))
    },

    // batch twin of EventsStream.sessionized (built-in session_window);
    // the oracle re-derives gap sessions with lag + running sum. A session
    // ends at last event + gap, and a new one starts when the inter-event
    // gap reaches the 10-minute gap exactly (Spark merges only OVERLAPPING
    // [ts, ts+gap) windows — hence >= in the oracle's split condition).
    QDef("s03_session_windows", Some("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      m AS (SELECT user_id, ts,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL '10 minutes' THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      s AS (SELECT user_id, ts,
              sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
            FROM m)
      SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL '10 minutes' AS session_end,
             count(*) AS n_events
      FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""")) { (s, dir) =>
      EventsStream.sessionized(Tables.events(s, dir))
        .orderBy("user_id", "session_start")
    },

    // batch twin of EventsStream.clickAttribution — the stream-stream
    // interval join (both sides watermarked, state bounded by the
    // time-range predicate under readStream; StreamingSpec exercises the
    // genuine two-stream form and its batch parity). The oracle is the
    // raw inequality self-join with identical inclusive bounds.
    QDef("s04_click_attribution", Some("""
      SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
             epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP)) AS gap_micros
      FROM events c JOIN events v
        ON c.event_type = 'click' AND v.event_type = 'view'
       AND v.user_id = c.user_id
       AND CAST(v.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
       AND CAST(v.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP) - INTERVAL '12 hours'
      ORDER BY click_id, view_id""")) { (s, dir) =>
      EventsStream.clickAttribution(Tables.events(s, dir))
        .orderBy("click_id", "view_id")
    },

    // s05: the LEFT OUTER form — clicks with no in-horizon view survive
    // with null view_id/gap (under streaming, the null is emitted exactly
    // when the watermark closes the click's window; StreamingSpec drives
    // that). Oracle = the same inequality join LEFT-preserved.
    QDef("s05_click_attribution_outer", Some("""
      SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
             epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP)) AS gap_micros
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON v.user_id = c.user_id
       AND CAST(v.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
       AND CAST(v.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP) - INTERVAL '12 hours'
      ORDER BY click_id, view_id""")) { (s, dir) =>
      EventsStream.clickAttribution(Tables.events(s, dir), joinType = "left_outer")
        .orderBy("click_id", "view_id")
    },

    // s06: the CUSTOM-STATE operator itself under the driver's oracle —
    // EventsStream.userActivity (mapGroupsWithState) run over the batch
    // events Dataset. Batch execution feeds each key's full iterator
    // through the same state-transition code the stream runs per
    // micro-batch (StreamingSpec pins the cross-batch parity and the
    // transformWithState twin); the oracle re-derives the final state
    // relationally. The processor orders a batch by (epoch ms, type) —
    // Timestamp.getTime is millisecond-precision — so the oracle's
    // last-event window uses the identical ms-truncated key, not raw
    // micros. ----
    QDef("s06_user_activity_state", Some("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      r AS (SELECT user_id, event_type,
              row_number() OVER (PARTITION BY user_id
                ORDER BY epoch_ms(ts) DESC, event_type DESC) AS rn,
              count(*) OVER (PARTITION BY user_id) AS n
            FROM e)
      SELECT user_id, n AS n_events, event_type AS last_type
      FROM r WHERE rn = 1 ORDER BY user_id""")) { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id").as("userId"), col("ts"),
          col("event_type").as("eventType"))
        .as[EventsStream.UserEvent]
      EventsStream.userActivity(ev)
        .select(col("userId").as("user_id"), col("nEvents").as("n_events"),
          col("lastType").as("last_type"))
        .orderBy("user_id")
    },

    // s07: STREAMING near-dup dedup — the continuous form of d03, run
    // through the real band-bucket keyed-state operator
    // (StreamingDedup.candidatePairs, flatMapGroupsWithState over
    // (band, sig) buckets) + the shared exact-Jaccard verification,
    // flagging every doc that near-duplicates an EARLIER one (keep-first
    // stream semantics). The oracle recomputes pairs exhaustively, so
    // the bucket state machinery's recall is gated, not assumed;
    // StreamingSpec drives the cross-batch form where batch-2 docs must
    // pair with bucket-mates remembered from batch 1. ----
    QDef("s07_streaming_dedup_flags", Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      idx AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) i FROM tok),
      sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g FROM idx),
      pairs AS (
        SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS inter
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      dup AS (SELECT DISTINCT p.doc_j AS doc_id FROM pairs p
              JOIN sizes sa ON sa.doc_id = p.doc_i
              JOIN sizes sb ON sb.doc_id = p.doc_j
              WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.5)
      SELECT d.doc_id,
             CAST(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS dup_of_earlier
      FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
      ORDER BY d.doc_id""")) { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamingDedup
      val docs = Tables.documents(s, dir)
      val sigs = PipelinePack.bandSignaturesMemo(docs, Some(PipelinePack.documentsKey(s, dir)))
        .select(col("doc_id").as("docId"), col("band").cast("int").as("band"),
          col("sig"))
        .as[StreamingDedup.BandSig]
      val cands = StreamingDedup.candidatePairs(sigs)
        .select(col("docI").as("doc_i"), col("docJ").as("doc_j")).distinct()
      val dups = PipelinePack.verifyPairs(docs, cands)
        .select(col("doc_j").as("doc_id")).distinct()
        .withColumn("f", lit(1L))
      docs.select(col("doc_id")).join(dups, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("f"), lit(0L)).as("dup_of_earlier"))
        .orderBy("doc_id")
    },

    // s08: the TTL (horizon-bounded) form of s07 — the state discipline a
    // CONTINUOUS deployment needs (r9 verdict #4): candidatePairsTtl runs
    // EventTimeTimeout keyed state where two docs pair only when their
    // event times sit within the dedup horizon, and entries behind
    // (watermark - horizon) are evicted as unable to ever pair again.
    // Batch execution of the same function reduces to the pure horizon
    // predicate, which is what the oracle re-derives (event time :=
    // epoch + doc_id seconds, horizon 250s ⇒ |doc_i − doc_j| <= 250).
    // StreamingSpec drives the streaming form: watermark advance evicts,
    // evicted ids stop pairing; STREAM_REHEARSAL_r10 holds the
    // state-plateau receipt. ----
    QDef("s08_streaming_dedup_ttl_flags", Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      idx AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) i FROM tok),
      sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g FROM idx),
      pairs AS (
        SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS inter
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      dup AS (SELECT DISTINCT p.doc_j AS doc_id FROM pairs p
              JOIN sizes sa ON sa.doc_id = p.doc_i
              JOIN sizes sb ON sb.doc_id = p.doc_j
              WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.5
                AND p.doc_j - p.doc_i <= 250)
      SELECT d.doc_id,
             CAST(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS dup_of_recent
      FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
      ORDER BY d.doc_id""")) { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamingDedup
      val docs = Tables.documents(s, dir)
      val sigs = PipelinePack.bandSignaturesMemo(docs, Some(PipelinePack.documentsKey(s, dir)))
        .select(col("doc_id").as("docId"), col("band").cast("int").as("band"),
          col("sig"), timestamp_seconds(col("doc_id")).as("ts"))
        .as[StreamingDedup.BandSigTs]
      val cands = StreamingDedup.candidatePairsTtl(sigs, horizonMs = 250000L)
        .select(col("docI").as("doc_i"), col("docJ").as("doc_j")).distinct()
      val dups = PipelinePack.verifyPairs(docs, cands)
        .select(col("doc_j").as("doc_id")).distinct()
        .withColumn("f", lit(1L))
      docs.select(col("doc_id")).join(dups, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("f"), lit(0L)).as("dup_of_recent"))
        .orderBy("doc_id")
    },

    // s09: TRENDING top-k — the per-closed-window ranked leaderboard
    // (top 3 event types per hour). This batch twin is the gated form;
    // EventsStream.trendingAtClose is the streaming form (keyed
    // per-window state, final top-k emitted exactly once when the
    // watermark passes the close — a shape append-mode rank-over-
    // aggregate cannot express), and StreamingSpec asserts closed-window
    // parity between the two. Tie-break (count DESC, type ASC) in both.
    // Scale shape: one map-side-combined hash aggregate on (hour, type)
    // + a per-hour WindowGroupLimit — never a sort of the event
    // stream. ----
    QDef("s09_trending_types", Some("""
      WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
                        event_type
                 FROM events),
      c AS (SELECT window_start, event_type, count(*) AS n FROM h GROUP BY 1, 2),
      r AS (SELECT window_start, event_type, n,
              row_number() OVER (PARTITION BY window_start
                ORDER BY n DESC, event_type) AS rank
            FROM c)
      SELECT window_start, CAST(rank AS BIGINT) AS rank, event_type, n
      FROM r WHERE rank <= 3
      ORDER BY window_start, rank""")) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("window_start").orderBy(col("n").desc, col("event_type").asc)
      Tables.events(s, dir)
        .select(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
        .groupBy("window_start", "event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("window_start", "rank", "event_type", "n")
        .orderBy("window_start", "rank")
    },

    // s10: windowed adjacent-pair counts — the phrase-merge family's
    // round-1 aggregate (d30 step 1) as an event-time-windowed entry: a
    // tokenizer pipeline watching a live corpus tracks vocabulary drift
    // with exactly this. The batch twin runs the SHARED streaming
    // transform (PhraseStream.windowedPairCounts — watermark is a no-op
    // on a static frame) over documents with the deterministic event
    // time ts := epoch + doc_id minutes (the s06/s08 derivation), so the
    // oracle gates the one transform both modes execute; StreamingSpec
    // asserts closed-window parity for the incremental form. Scale
    // shape: stateless map-side pair explosion, one windowed hash
    // aggregate with micro-batch partial combine, state bounded by
    // (windows x pair vocabulary). ----
    // The pair-vocab bound is MEASURED (r14): the probe picks the
    // smallest support-ladder rung whose worst window fits the budget,
    // and the oracle mirrors the ladder decision in SQL (the d10b/d35
    // oracle-mirrored-conditional discipline) so both the no-filter
    // branch (any natural corpus — support 1) and the escalation branch
    // stay gated. StreamingSpec exercises the escalation with a tiny
    // budget.
    QDef("s10_windowed_pair_counts", Some("""
      WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      p AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tk),
      q AS (SELECT doc_id, toks[i] AS l, toks[i + 1] AS r FROM p),
      wc AS (SELECT make_timestamp((doc_id // 60) * 3600 * 1000000) AS window_start,
               l, r, count(*) AS n
             FROM q GROUP BY 1, 2, 3),
      lad AS (SELECT max(v1) AS m1, max(v2) AS m2, max(v5) AS m5 FROM (
              SELECT window_start,
                     sum(CASE WHEN n >= 1 THEN 1 ELSE 0 END) AS v1,
                     sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS v2,
                     sum(CASE WHEN n >= 5 THEN 1 ELSE 0 END) AS v5
              FROM wc GROUP BY 1)),
      ms AS (SELECT CASE WHEN m1 <= 1000000 THEN 1
                         WHEN m2 <= 1000000 THEN 2
                         WHEN m5 <= 1000000 THEN 5
                         ELSE 50 END AS k FROM lad)
      SELECT window_start, l, r, n FROM wc
      WHERE n >= (SELECT k FROM ms)
      ORDER BY window_start, l, r""")) { (s, dir) =>
      import s.implicits._
      val timed = Tables.documents(s, dir)
        .select(timestamp_millis(col("doc_id") * 60000L).as("ts"), col("text"))
      val k = graft.streaming.PhraseStream.choosePairMinSupport(
        timed, cacheKey = Some(PipelinePack.documentsKey(s, dir) + "#s10"))
      graft.streaming.PhraseStream.windowedPairCounts(
          timed.as[graft.streaming.PhraseStream.TimedDoc], minSupport = k)
        .orderBy("window_start", "l", "r")
    },

    // as-of join (graft.operators.AsOfJoin): every click matched to the
    // user's most recent purchase at or before it — DuckDB's native ASOF
    // LEFT JOIN is the oracle, so the inclusive-tie and no-match-null
    // semantics are gated, not just spec'd. Purchases are pre-aggregated
    // per (user, ts) to satisfy the right-side uniqueness contract.
    QDef("q22_asof_join", Some("""
      WITH a AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
                 WHERE event_type = 'click'),
      b AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, max(value) AS purchase_value
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      SELECT a.user_id, a.ts, b.pts AS asof_pts, b.purchase_value
      FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND b.pts <= a.ts
      ORDER BY a.user_id, a.ts""")) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click").select(col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("pts"))
        .agg(max(col("value")).as("purchase_value"))
      graft.operators.AsOfJoin.asof(clicks, purchases, Seq("user_id"), "ts", "pts")
        .orderBy("user_id", "ts")
    },

    // range join (graft.operators.RangeJoin): every event assigned to the
    // session interval containing it. The oracle is the raw inequality
    // join over the same session derivation — the binned equi-join rewrite
    // must reproduce it exactly.
    QDef("q23_range_join_sessions", Some("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      m AS (SELECT user_id, ts,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL '10 minutes' THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      s AS (SELECT user_id, ts,
              sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
            FROM m),
      sess AS (SELECT user_id, min(ts) AS session_start,
                      max(ts) + INTERVAL '10 minutes' AS session_end
               FROM s GROUP BY user_id, sid)
      SELECT e.user_id, e.ts, x.session_start
      FROM e JOIN sess x ON e.user_id = x.user_id
        AND e.ts >= x.session_start AND e.ts < x.session_end
      ORDER BY 1, 2, 3""")) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
        .withColumn("v", unix_micros(col("ts")))
      val sess = EventsStream.sessionized(Tables.events(s, dir))
        .select(col("user_id"), col("session_start"),
          unix_micros(col("session_start")).as("lo"),
          unix_micros(col("session_end")).as("hi"))
      graft.operators.RangeJoin.binned(ev, sess, Seq("user_id"), "v", "lo", "hi",
          binSize = 3600000000L) // 1-hour bins vs 10-minute-gap sessions
        .select(col("user_id"), col("ts"), col("session_start"))
        .orderBy("user_id", "ts", "session_start")
    },

    // q34: the SAME point-in-session-interval question as q23, but
    // written as the NAIVE raw-inequality SQL a user actually types —
    // the injected optimizer rule (graft.plans.RangeJoinBinning,
    // conf-gated) must produce the binned equi-join plan q23 builds by
    // hand. The entry sets the bin-size conf, freezes the optimized
    // plan (QueryExecution memoizes it), and restores the conf, so the
    // rewrite is active for exactly this query; the driver's oracle
    // gates the rewritten plan's RESULTS against the same inequality
    // join, and RangeJoinBinningSpec pins the plan shape + exactness
    // fixtures (boundaries, degenerate intervals, orientation).
    QDef("q34_range_join_rule", Some(q34OracleSql)) { (s, dir) =>
      q34Variant(s, dir, "p.v >= x.lo AND p.v < x.hi")
    },

    // q34b/q34c (r10 verdict #8): the rule accepts the plain BETWEEN
    // shape and bound-first SQL — these twins DRIVE those written
    // orientations from a gated entry, with the identical oracle answer
    // (`v BETWEEN lo AND hi - 1` ≡ `v >= lo AND v < hi` on the integer
    // micros domain; `lo <= v AND hi > v` is the flipped reading). Each
    // run REQUIRES the rewrite actually fired (__graft_ bins in the
    // plan), so a silently-unmatched arm fails the gate rather than
    // passing through the naive join. ----
    QDef("q34b_range_join_rule_between", Some(q34OracleSql)) { (s, dir) =>
      q34Variant(s, dir, "p.v BETWEEN x.lo AND x.hi - 1")
    },
    QDef("q34c_range_join_rule_bound_first", Some(q34OracleSql)) { (s, dir) =>
      q34Variant(s, dir, "x.lo <= p.v AND x.hi > p.v")
    },

    // Every m-entry's DuckDB oracle re-derives pixels from the UNSALTED
    // (doc_id, x, y) formula, but Multimodal.pixel adds a per-band salt
    // for doc_id >= ScaleUp.Offset (the band-shifted rehearsal corpora).
    // oracleDocs makes that invariant ENFORCED rather than assumed
    // (ADVICE r12): the guard lives inside the doc_id expression itself
    // (so column pruning can't drop it) and raises at execution if the
    // verify harness is ever pointed at a salted band — a loud failure
    // instead of 100% hash mismatches.
    QDef("m01_media_meta", Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'png'
                  WHEN doc_id % 3 = 1 THEN 'wav'
                  ELSE 'mp4' END AS format,
             doc_id % 640 + 1 AS width,
             doc_id % 480 + 1 AS height,
             length(text) * 10 AS duration_ms,
             strlen(text) AS n_bytes
      FROM documents ORDER BY doc_id""")) { (s, dir) =>
      Multimodal.mediaFromDocuments(Tables.documents(s, dir))
        .select(
          col("doc_id"),
          col("meta.format").as("format"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.duration_ms").as("duration_ms"),
          octet_length(col("media")).cast("long").as("n_bytes"))
        .orderBy("doc_id")
    },

    // m02: feature extraction through a REAL codec — the payloads are
    // genuine ImageIO-encoded PNGs and decodeFeatures runs an actual
    // bytes→pixels decode before histogramming the channel bytes. The
    // oracle never touches the codec: it re-derives every channel value
    // from the pure (doc_id, x, y) pixel function the fixture renders —
    // PNG is lossless, so decode must reproduce it exactly, and any
    // encode/decode bug breaks the compare. The gated projection recovers
    // the integer channel counts from the float features (count =
    // round(value * n) — exact for n < 2^24); the raw array<float> form
    // stays spec-covered in MultimodalSpec (a float-array column can't be
    // sorted/hashed by the driver's pandas compare — r03's one red row).
    QDef("m02_media_features", Some(s"""
      WITH d AS (SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h FROM documents),
      px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d),
      xy AS (SELECT doc_id, i % w AS x, i // w AS y FROM px),
      ch AS (SELECT doc_id,
               unnest([(doc_id * 31 + x * 7 + y * 13 + (doc_id // 100000000) * 1009 * (x * y + x + 1)) % 256,
                       (doc_id * 17 + x * 3 + y * 29 + (doc_id // 100000000) * 1009 * (x * y + x + 1) * 3) % 256,
                       (doc_id * 53 + x * 11 + y * 5 + (doc_id // 100000000) * 1009 * (x * y + x + 1) * 7) % 256]) AS v
             FROM xy),
      cnt AS (SELECT doc_id, v % ${Multimodal.FeatureDim} AS dim, count(*) AS c
              FROM ch GROUP BY 1, 2),
      dims AS (SELECT doc_id, unnest(range(0, ${Multimodal.FeatureDim})) AS dim FROM documents)
      SELECT d.doc_id, d.dim, COALESCE(c.c, 0) AS channel_count
      FROM dims d LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.dim = d.dim
      ORDER BY d.doc_id, d.dim""")) { (s, dir) =>
      Multimodal.decodeFeatures(
          Multimodal.pngMediaFromDocuments(Tables.documents(s, dir)))
        .select(col("doc_id"), col("n_channel_bytes"),
          posexplode(col("features")).as(Seq("dim", "value")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"),
          round(col("value") * col("n_channel_bytes")).cast("long").as("channel_count"))
        .orderBy("doc_id", "dim")
    },

    // m06: the decode roundtrip gated end-to-end — real PNG bytes through
    // ImageIO back to pixels, reduced to integer metadata (dims, channel
    // sums, a position-weighted raster checksum). The oracle regenerates
    // the raster from the same pure pixel function relationally; checksum
    // terms are ≤ 224·2^24, well inside BIGINT.
    QDef("m06_png_decode", Some("""
      WITH d AS (SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h FROM documents),
      px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d),
      c AS (SELECT doc_id, w, h, i,
              (doc_id * 31 + (i % w) * 7 + (i // w) * 13 + (doc_id // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1)) % 256 AS r,
              (doc_id * 17 + (i % w) * 3 + (i // w) * 29 + (doc_id // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1) * 3) % 256 AS g,
              (doc_id * 53 + (i % w) * 11 + (i // w) * 5 + (doc_id // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1) * 7) % 256 AS b
            FROM px)
      SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             count(*) AS n_pixels,
             CAST(sum(r) AS BIGINT) AS sum_r,
             CAST(sum(g) AS BIGINT) AS sum_g,
             CAST(sum(b) AS BIGINT) AS sum_b,
             CAST(sum((i + 1) * (r + 256 * g + 65536 * b)) AS BIGINT) AS pixel_checksum
      FROM c GROUP BY doc_id, w, h
      ORDER BY doc_id""")) { (s, dir) =>
      Multimodal.decodeImage(
          Multimodal.pngMediaFromDocuments(Tables.documents(s, dir)))
        .orderBy("doc_id")
    },

    // m07: perceptual average-hash over the REAL PNG decode — the
    // image-domain dedup index (the d08-SimHash idea on rasters):
    // integer luminance, 4x4 block means, threshold at the global mean.
    // The oracle re-derives every hash bit from the pixel function with
    // no codec; the decode side exercises actual ImageIO. ----
    QDef("m07_image_ahash", Some("""
      WITH d AS (SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h FROM documents),
      px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d),
      c AS (SELECT doc_id, w, h, i,
              (doc_id * 31 + (i % w) * 7 + (i // w) * 13 + (doc_id // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1)) % 256 AS r,
              (doc_id * 17 + (i % w) * 3 + (i // w) * 29 + (doc_id // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1) * 3) % 256 AS g,
              (doc_id * 53 + (i % w) * 11 + (i // w) * 5 + (doc_id // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1) * 7) % 256 AS b
            FROM px),
      cell AS (SELECT doc_id,
                 ((i // w) * 4 // h) * 4 + ((i % w) * 4 // w) AS cl,
                 r + g + b AS l
               FROM c),
      cm AS (SELECT doc_id, cl, sum(l) // count(*) AS m FROM cell GROUP BY 1, 2),
      gm AS (SELECT doc_id, sum(m) // 16 AS g FROM cm GROUP BY 1)
      SELECT cm.doc_id,
             CAST(sum(CASE WHEN cm.m > gm.g THEN CAST(1 AS BIGINT) << cl ELSE 0 END)
               AS BIGINT) AS ahash
      FROM cm JOIN gm ON gm.doc_id = cm.doc_id
      GROUP BY cm.doc_id ORDER BY cm.doc_id""")) { (s, dir) =>
      Multimodal.imageAHash(
          Multimodal.pngMediaFromDocuments(Tables.documents(s, dir)))
        .orderBy("doc_id")
    },

    // m07b: image near-dup pairs at hamming <= 1 over the m07 hashes —
    // EXACT without an all-pairs scan, Manku-style half-block banding
    // (Manku/Jain/Sarma WWW'07): split the 16-bit hash into two 8-bit
    // half-blocks; a pair at hamming <= 1 has its one differing bit in
    // at most one half, so the (block, value) equi-join IS the candidate
    // generator — 2 rows/doc where r10's one-bit-flip variant index paid
    // 17 (same exactness, the true-hamming re-check unchanged).
    // PAST ~2^16 docs this entry's 16-bit hash space itself saturates:
    // at sf1 (50k docs) the TRUE answer is 14.8M pairs — the index is
    // fine, the hash is too short to discriminate. That is by design the
    // comparator-scale illustration for m07c/m07d, the production 64-bit
    // hash whose banded join recovers only genuine near-duplicates. ----
    QDef("m07b_image_ahash_pairs", Some("""
      WITH d AS (SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h FROM documents),
      px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d),
      c AS (SELECT doc_id, w, h, i,
              (doc_id * 31 + (i % w) * 7 + (i // w) * 13 + (doc_id // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1)) % 256 AS r,
              (doc_id * 17 + (i % w) * 3 + (i // w) * 29 + (doc_id // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1) * 3) % 256 AS g,
              (doc_id * 53 + (i % w) * 11 + (i // w) * 5 + (doc_id // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1) * 7) % 256 AS b
            FROM px),
      cell AS (SELECT doc_id,
                 ((i // w) * 4 // h) * 4 + ((i % w) * 4 // w) AS cl,
                 r + g + b AS l
               FROM c),
      cm AS (SELECT doc_id, cl, sum(l) // count(*) AS m FROM cell GROUP BY 1, 2),
      gm AS (SELECT doc_id, sum(m) // 16 AS g FROM cm GROUP BY 1),
      hs AS (SELECT cm.doc_id,
               CAST(sum(CASE WHEN cm.m > gm.g THEN CAST(1 AS BIGINT) << cl ELSE 0 END)
                 AS BIGINT) AS ahash
             FROM cm JOIN gm ON gm.doc_id = cm.doc_id GROUP BY cm.doc_id),
      vr AS (SELECT doc_id, ahash, f AS blk,
               (ahash >> (8 * f)) & 255 AS bv
             FROM hs, (SELECT unnest(range(0, 2)) AS f)),
      pr AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.ahash AS ha, b.ahash AS hb
             FROM vr a JOIN vr b
               ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)
      SELECT id_a, id_b,
             CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      FROM pr WHERE bit_count(xor(ha, hb)) <= 1
      ORDER BY id_a, id_b""")) { (s, dir) =>
      val hs = Multimodal.imageAHash(
        Multimodal.pngMediaFromDocuments(Tables.documents(s, dir)))
      val blocks = hs.select(col("doc_id"), col("ahash"),
        explode(expr("transform(sequence(0, 1), " +
          "f -> named_struct('blk', f, 'bv', shiftright(ahash, 8 * f) & 255))")).as("x"))
        .select(col("doc_id"), col("ahash"), col("x.blk").as("blk"), col("x.bv").as("bv"))
      val a = blocks.select(col("doc_id").as("id_a"), col("ahash").as("ha"),
        col("blk"), col("bv"))
      val b = blocks.select(col("doc_id").as("id_b"), col("ahash").as("hb"),
        col("blk"), col("bv"))
      a.join(b, Seq("blk", "bv")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          expr("CAST(bit_count(ha ^ hb) AS BIGINT)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 1)
        .orderBy("id_a", "id_b")
    },

    // m07c: the PRODUCTION image hash — standard 64-bit aHash (8x8 grid)
    // over a base-8 PNG corpus (every grid cell non-empty). m07's 16-bit
    // index saturates at 100 TB (>= 2^16 docs pigeonhole every bucket);
    // 64 bits is the grid the literature and a real image-dedup index
    // ship with. Bit 63 is the sign bit of a BIGINT, so the oracle sums
    // HUGEINT with the min-long literal for cl=63 (DuckDB rejects 1<<63)
    // and casts back — two's complement makes the lane values identical. ----
    QDef("m07c_image_ahash64", Some("""
      WITH d AS (SELECT doc_id, doc_id % 13 + 8 AS w, doc_id % 11 + 8 AS h FROM documents),
      px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d),
      c AS (SELECT doc_id, w, h, i,
              (doc_id * 31 + (i % w) * 7 + (i // w) * 13 + (doc_id // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1)) % 256 AS r,
              (doc_id * 17 + (i % w) * 3 + (i // w) * 29 + (doc_id // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1) * 3) % 256 AS g,
              (doc_id * 53 + (i % w) * 11 + (i // w) * 5 + (doc_id // 100000000) * 1009 * ((i % w) * (i // w) + (i % w) + 1) * 7) % 256 AS b
            FROM px),
      cell AS (SELECT doc_id,
                 ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS cl,
                 r + g + b AS l
               FROM c),
      cm AS (SELECT doc_id, cl, sum(l) // count(*) AS m FROM cell GROUP BY 1, 2),
      gm AS (SELECT doc_id, sum(m) // 64 AS g FROM cm GROUP BY 1)
      SELECT cm.doc_id,
             CAST(sum(CASE WHEN cm.m <= gm.g THEN 0
                           WHEN cl = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                           ELSE CAST(CAST(1 AS BIGINT) << cl AS HUGEINT) END)
               AS BIGINT) AS ahash
      FROM cm JOIN gm ON gm.doc_id = cm.doc_id
      GROUP BY cm.doc_id ORDER BY cm.doc_id""")) { (s, dir) =>
      Multimodal.imageAHash(
          Multimodal.pngMediaFromDocuments(Tables.documents(s, dir), base = 8), grid = 8)
        .orderBy("doc_id")
    },

    // m07d: image near-dup pairs at hamming <= 3 over the 64-bit m07c
    // hash — the index that actually ships at 100 TB. Manku 4-block
    // banding: hamming <= 3 pigeonholes the differing bits into at most
    // 3 of the 4 16-bit blocks, so a pair always shares one block and
    // the (block, value) equi-join generates candidates at 4 rows/doc;
    // the true-hamming re-check bounds exactly. The corpus plants a
    // near-duplicate twin (one saturated pixel) for every 7th document,
    // so the gate covers real recovered pairs, not an empty result. ----
    QDef("m07d_image_ahash64_pairs", Some(s"""
      WITH $imgAHash64Ctes
      SELECT id_a, id_b,
             CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      FROM pr WHERE bit_count(xor(ha, hb)) <= 3
      ORDER BY id_a, id_b""")) { (s, dir) =>
      val hs = Multimodal.imageAHash(
        Multimodal.pngMediaWithTwins(Tables.documents(s, dir), base = 8, every = 7),
        grid = 8)
      val blocks = hs.select(col("doc_id"), col("ahash"),
        explode(expr("transform(sequence(0, 3), " +
          "f -> named_struct('blk', f, 'bv', shiftright(ahash, 16 * f) & 65535))")).as("x"))
        .select(col("doc_id"), col("ahash"), col("x.blk").as("blk"), col("x.bv").as("bv"))
      val a = blocks.select(col("doc_id").as("id_a"), col("ahash").as("ha"),
        col("blk"), col("bv"))
      val b = blocks.select(col("doc_id").as("id_b"), col("ahash").as("hb"),
        col("blk"), col("bv"))
      a.join(b, Seq("blk", "bv")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          expr("CAST(bit_count(ha ^ hb) AS BIGINT)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy("id_a", "id_b")
    },

    // m08: m07d's banded image near-dup served from the PERSISTED
    // signature index (r13 verdict #3) — the base corpus's block rows
    // are a maintained bucketed table (SignatureIndex, reused verbatim:
    // the index is generic over (doc_id, band, sig)); the arriving batch
    // (the twin slice) probes it d36-style, and TRUE hamming verifies
    // from the four aligned block rows themselves (they ARE the 64-bit
    // hash), so serving never touches base image bytes. Oracle: m07d's
    // exhaustive chain restricted to pairs whose LATER member arrives in
    // the batch. ----
    QDef("m08_indexed_image_dedup", Some(s"""
      WITH $imgAHash64Ctes
      SELECT id_a, id_b,
             CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      FROM pr WHERE bit_count(xor(ha, hb)) <= 3 AND id_b >= 1000000
      ORDER BY id_a, id_b""")) { (s, dir) =>
      Multimodal.indexedImagePairs(s, dir).orderBy("id_a", "id_b")
    },

    // s12: the STREAMING image-dedup gate — m07d's banded aHash near-dup
    // as the multimodal member of the ingest gate, run through the real
    // band-bucket keyed-state operator (ImageDedupStream.imagePairs:
    // flatMapGroupsWithState over (block, value) buckets with the hash
    // in state, verified hamming <= 3 inside the transition), flagging
    // every image that near-duplicates an EARLIER one (keep-first, the
    // s07 discipline). Oracle: m07d's exhaustive hash re-derivation +
    // the flag law — so bucket recall is gated, not assumed.
    // StreamingSpec drives the cross-batch form; StreamingScaleRehearsal
    // holds the TTL state-plateau receipt. ----
    QDef("s12_streaming_image_dedup_flags", Some(s"""
      WITH $imgAHash64Ctes,
      dup AS (SELECT DISTINCT id_b AS doc_id FROM pr
              WHERE bit_count(xor(ha, hb)) <= 3)
      SELECT ids.doc_id,
             CAST(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS dup_of_earlier
      FROM ids LEFT JOIN dup USING (doc_id)
      ORDER BY ids.doc_id""")) { (s, dir) =>
      graft.streaming.ImageDedupStream.dupOfEarlierFlags(
          Multimodal.imageAHash(
            Multimodal.pngMediaWithTwins(Tables.documents(s, dir), base = 8, every = 7),
            grid = 8))
        .orderBy("doc_id")
    },

    // Frame sampling is pure offset arithmetic over the payload length
    // (n = min(4, max(len/32, 1)); offset_f = len*f/n; the slice stops at
    // the payload end), so the gated projection is integer-only and DuckDB
    // re-derives it exactly; the binary slices themselves stay
    // spec-covered in MultimodalSpec.
    QDef("m03_frame_sample", Some("""
      WITH d AS (SELECT doc_id, strlen(text) AS len FROM documents),
      n AS (SELECT doc_id, len, least(4, greatest(len // 32, 1)) AS nf FROM d),
      x AS (SELECT doc_id, len, nf, unnest(range(0, nf)) AS frame FROM n),
      o AS (SELECT doc_id, frame, (len * frame) // nf AS off, len FROM x)
      SELECT doc_id, frame, off AS "offset", least(off + 32, len) - off AS n_bytes
      FROM o ORDER BY doc_id, frame""")) { (s, dir) =>
      Multimodal.frameSample(Multimodal.mediaFromDocuments(Tables.documents(s, dir)), frames = 4)
        .select(col("doc_id"), col("frame").cast("long").as("frame"), col("offset"),
          octet_length(col("frame_bytes")).cast("long").as("n_bytes"))
        .orderBy("doc_id", "frame")
    },

    // resize: evenly-strided byte resampling to a 16x16-byte target. The
    // stride rule (src = len*i/n) is pure integer arithmetic, so DuckDB
    // reassembles the exact resized payload and the md5 gates it
    // byte-for-byte — clamped dims and length included.
    QDef("m04_resize", Some("""
      WITH d AS (SELECT doc_id, text, strlen(text) AS len,
                        least(strlen(text), 256) AS n FROM documents),
      idx AS (SELECT doc_id, n, len, text, unnest(range(0, n)) AS i FROM d),
      ch AS (SELECT doc_id, i,
                    substr(text, CAST((len * i) // greatest(n, 1) AS BIGINT) + 1, 1) AS c
             FROM idx)
      SELECT d.doc_id,
             least(d.doc_id % 640 + 1, 16) AS out_w,
             least(d.doc_id % 480 + 1, 16) AS out_h,
             d.n AS n_bytes,
             md5(coalesce(string_agg(ch.c, '' ORDER BY ch.i), '')) AS resized_md5
      FROM d LEFT JOIN ch ON ch.doc_id = d.doc_id
      GROUP BY d.doc_id, d.n
      ORDER BY d.doc_id""")) { (s, dir) =>
      Multimodal.resize(Multimodal.mediaFromDocuments(Tables.documents(s, dir)),
          targetW = 16, targetH = 16)
        .select(col("doc_id"),
          col("out_w").cast("long").as("out_w"),
          col("out_h").cast("long").as("out_h"),
          octet_length(col("resized")).cast("long").as("n_bytes"),
          md5(col("resized")).as("resized_md5"))
        .orderBy("doc_id")
    },

    // m05: per-frame energy/peak over the raw payload bytes — real
    // integer byte math (no codec needed), 32-byte frames. The oracle
    // re-derives every sample via ascii() on the source text; like m04's
    // substr/strlen oracle this equates characters with payload bytes,
    // valid because the corpus is pure ASCII (the m02 premise) — a
    // non-ASCII doc would need an octet-level oracle instead.
    QDef("m05_frame_energy", Some("""
      WITH d AS (SELECT doc_id, text, strlen(text) AS len FROM documents),
      idx AS (SELECT doc_id, text, unnest(range(0, len)) AS i FROM d),
      b AS (SELECT doc_id, i // 32 AS frame,
                   ascii(substr(text, CAST(i AS BIGINT) + 1, 1)) AS v
            FROM idx)
      SELECT doc_id, CAST(frame AS BIGINT) AS frame,
             count(*) AS n_samples,
             CAST(SUM(v * v) AS BIGINT) AS energy,
             CAST(MAX(v) AS BIGINT) AS peak
      FROM b GROUP BY doc_id, frame
      ORDER BY doc_id, frame""")) { (s, dir) =>
      Multimodal.frameEnergy(Multimodal.mediaFromDocuments(Tables.documents(s, dir)))
        .orderBy("doc_id", "frame")
    },
  )
}
