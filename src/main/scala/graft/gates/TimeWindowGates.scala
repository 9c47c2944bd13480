package graft.gates

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.windows.TimeWindows
import GateSupport._

/** Time-window gates (W3/W4, E9 timers as event-time windows), the
  * watermark replays and the stream-stream interval joins. */
object TimeWindowGates {

  val gates: Seq[Gate] = Seq(

    Gate("q_time_tumbling", (s, d) =>
      TimeWindows.tumbling(ev(s, d), col("ts"), "1 hour",
          Seq(col("event_type")),
          Seq(count(lit(1)).as("n"), round(sum("value"), 4).as("sv")))
        .select(unix_timestamp(col("window.start")).as("ws"),
          col("event_type"), col("n"), col("sv"))
        .orderBy("ws", "event_type"),
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS ws, event_type,
        |       count(*) AS n, round(sum(value), 4) AS sv
        |FROM events GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin),

    Gate("q_time_sliding", (s, d) =>
      TimeWindows.sliding(ev(s, d), col("ts"), "2 hours", "1 hour", Nil,
          Seq(count(lit(1)).as("n"), round(sum("value"), 4).as("sv")))
        .select(unix_timestamp(col("window.start")).as("ws"), col("n"), col("sv"))
        .orderBy("ws"),
      """SELECT ws, count(*) AS n, round(sum(value), 4) AS sv FROM (
        |  SELECT epoch(date_trunc('hour', ts))::BIGINT AS ws, value FROM events
        |  UNION ALL
        |  SELECT epoch(date_trunc('hour', ts))::BIGINT - 3600 AS ws, value
        |  FROM events)
        |GROUP BY ws ORDER BY ws""".stripMargin),

    // Watermark late-data gate: REAL Structured Streaming execution.
    // Events are replayed as 4 arrival micro-batches (md5-hash chunks, so
    // every chunk spans the whole month and chunks 2-4 carry genuinely
    // late rows), with a 45-minute watermark over 1-hour windows. A late
    // row (window end <= watermark at its arrival batch) is dropped; a
    // window emits (append mode) only once the watermark passes its end.
    // Both rules are pure functions of the data under this deterministic
    // replay, so DuckDB SQL can oracle-check actual streaming semantics —
    // the CORRECTNESS row behind the "watermarks bound streaming state"
    // scale claim (SCALE.md W3/W4).
    Gate("q_watermark_late", (s, d) => {
      implicit val ss: SparkSession = s
      graft.streaming.Watermarks.lateDataReplay(ev(s, d), "ts", "value",
          TF.hashBucket(col("event_id").cast("string"), 4), 4,
          "45 minutes", "1 hour")
        .select(unix_timestamp(col("window.start")).as("ws"), col("n"),
          round(col("sv"), 4).as("sv"))
        .orderBy("ws")
    },
      // Deterministic replay makes streaming watermark semantics batch-SQL
      // expressible: the watermark in force while chunk k loads is
      // max(event time over chunks < k) - 45 min (ms-floored, as Spark
      // floors event-time stats to milliseconds); a row is dropped iff its
      // window end <= that watermark, and a window is emitted iff its end
      // <= the final watermark.
      """WITH c AS (
        |  SELECT ts, value,
        |         ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 4
        |           AS chunk
        |  FROM events),
        |mx AS (SELECT chunk, max(ts) AS mxts FROM c GROUP BY chunk),
        |wm AS (SELECT k.chunk,
        |         (SELECT epoch_ms(max(mxts)) - 2700000 FROM mx
        |          WHERE mx.chunk < k.chunk) AS wm_ms
        |       FROM (SELECT DISTINCT chunk FROM c) k),
        |kept AS (
        |  SELECT c.ts, c.value FROM c JOIN wm USING (chunk)
        |  WHERE wm.wm_ms IS NULL
        |     OR epoch_ms(date_trunc('hour', c.ts) + INTERVAL 1 HOUR)
        |          > wm.wm_ms),
        |fin AS (SELECT epoch_ms(max(ts)) - 2700000 AS wm_ms FROM c)
        |SELECT epoch(date_trunc('hour', ts))::BIGINT AS ws, count(*) AS n,
        |       round(sum(value), 4) AS sv
        |FROM kept, fin
        |WHERE epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR) <= fin.wm_ms
        |GROUP BY ws ORDER BY ws""".stripMargin),

    // W4×W5 STREAMING composition: keyed sliding event-time windows
    // under a watermark, executed as real Structured Streaming via the
    // same deterministic 4-chunk replay as q_watermark_late. Sliding
    // panes make lateness per WINDOW INSTANCE (a late row's older pane
    // can be expired while its newer pane still absorbs it) — the rule
    // the oracle replays per (row, pane) pair.
    Gate("q_keyed_time_sliding", (s, d) => {
      implicit val ss: SparkSession = s
      graft.streaming.Watermarks.keyedSlidingReplay(ev(s, d), "ts",
          "event_type", "value",
          TF.hashBucket(col("event_id").cast("string"), 4), 4,
          "45 minutes", "2 hours", "1 hour")
        .select(unix_timestamp(col("window.start")).as("ws"),
          col("key").as("event_type"), col("n"),
          round(col("sv"), 4).as("sv"))
        .orderBy("ws", "event_type")
    },
      // the keyed SLIDING replay: each event expands to its two 2h/1h
      // panes (a static UNION ALL — no engine-specific lateral), then the
      // same per-chunk watermark rules apply PER PANE: a pane is dropped
      // iff its end <= the watermark in force at the row's arrival chunk,
      // and emitted iff its end <= the final watermark
      """WITH c AS (
        |  SELECT ts, event_type, value,
        |         ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 4
        |           AS chunk
        |  FROM events),
        |mx AS (SELECT chunk, max(ts) AS mxts FROM c GROUP BY chunk),
        |wm AS (SELECT k.chunk,
        |         (SELECT epoch_ms(max(mxts)) - 2700000 FROM mx
        |          WHERE mx.chunk < k.chunk) AS wm_ms
        |       FROM (SELECT DISTINCT chunk FROM c) k),
        |x AS (
        |  SELECT ts, event_type, value, chunk,
        |         date_trunc('hour', ts) AS wstart FROM c
        |  UNION ALL
        |  SELECT ts, event_type, value, chunk,
        |         date_trunc('hour', ts) - INTERVAL 1 HOUR AS wstart FROM c),
        |kept AS (
        |  SELECT x.wstart, x.event_type, x.value FROM x JOIN wm USING (chunk)
        |  WHERE wm.wm_ms IS NULL
        |     OR epoch_ms(x.wstart + INTERVAL 2 HOUR) > wm.wm_ms),
        |fin AS (SELECT epoch_ms(max(ts)) - 2700000 AS wm_ms FROM c)
        |SELECT epoch(wstart)::BIGINT AS ws, event_type, count(*) AS n,
        |       round(sum(value), 4) AS sv
        |FROM kept, fin
        |WHERE epoch_ms(wstart + INTERVAL 2 HOUR) <= fin.wm_ms
        |GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin),

    // Stream-STREAM watermarked interval join (StreamingJoins): clicks
    // correlated with the same user's purchases within 2 hours, run as
    // REAL Structured Streaming over two file sources advanced in
    // lockstep time-ordered chunks (one ReplayChunks.byTime axis over
    // ALL events, so a chunk is the same time range on both inputs).
    // The inner join's time-bound condition gives Spark an eviction
    // rule for both state buffers — state is genuinely dropped as the
    // watermark advances mid-replay — yet with time-ordered arrival the
    // emission set provably equals the batch interval join (proof
    // sketch in StreamingJoins' scaladoc), which DuckDB replays as a
    // plain join. lag_us is exact integer microseconds (no FP).
    // INNER = both-ids-non-null projection of the ONE shared
    // full-outer replay (see ssjFullReplay's soundness note)
    Gate("q_stream_interval_join", (s, d) =>
      ssjFullReplay(s, d)
        .where(col("l_id").isNotNull && col("r_id").isNotNull)
        .select(col("l_id").as("click_id"), col("r_id").as("purchase_id"),
          col("key").as("user_id"), col("lag_us"))
        .orderBy("click_id", "purchase_id"),
      // stream-stream interval join under time-ordered lockstep replay:
      // nothing arrives after its partner's state eviction (see
      // StreamingJoins scaladoc), so the streaming emission set IS the
      // batch interval join — replayed here directly
      """SELECT l.event_id::BIGINT AS click_id,
        |       r.event_id::BIGINT AS purchase_id,
        |       l.user_id::BIGINT AS user_id,
        |       (epoch_us(r.ts) - epoch_us(l.ts))::BIGINT AS lag_us
        |FROM events l JOIN events r
        |  ON l.event_type = 'click' AND r.event_type = 'purchase'
        | AND l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 2 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin),

    // LEFT-OUTER stream-stream interval join: its OWN real left_outer
    // chunked replay (NOT a projection of the shared full-outer one —
    // r16 ADVICE: the gate battery keeps a second join-type code path
    // running through the actual streaming plan), plus the append-mode
    // outer subtlety pinned in StreamingJoinsSpec — an unmatched click
    // emits its null-padded row ONLY when the final watermark strictly
    // passes click_ts + 2h (eviction is the proof that no purchase can
    // come); unmatched clicks still alive in state at end-of-stream
    // emit nothing. The oracle replays exactly that rule: batch join ∪
    // (unmatched ∧ evicted-by-final-watermark).
    Gate("q_stream_interval_join_left", (s, d) =>
      ssjReplay(s, d, "left_outer")
        .select(col("l_id").as("click_id"), col("r_id").as("purchase_id"),
          col("key").as("user_id"), col("lag_us"))
        .orderBy("click_id", "purchase_id"),
      // outer form: matches are the inner join; a null row appears iff
      // the click has no match AND the final watermark (min over both
      // inputs' ms-floored max ts, minus the 1 h delay) STRICTLY passes
      // click_ts + 2 h — the spec-pinned eviction rule
      """WITH l AS (SELECT * FROM events WHERE event_type = 'click'),
        |r AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT epoch_ms(max(ts)) FROM l),
        |                    (SELECT epoch_ms(max(ts)) FROM r))
        |              - 3600000 AS wm_ms),
        |m AS (SELECT l.event_id::BIGINT AS click_id,
        |             r.event_id::BIGINT AS purchase_id,
        |             l.user_id::BIGINT AS user_id,
        |             (epoch_us(r.ts) - epoch_us(l.ts))::BIGINT AS lag_us
        |      FROM l JOIN r ON l.user_id = r.user_id
        |        AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 2 HOUR),
        |u AS (SELECT l.event_id::BIGINT AS click_id,
        |             NULL::BIGINT AS purchase_id,
        |             l.user_id::BIGINT AS user_id,
        |             NULL::BIGINT AS lag_us
        |      FROM l, wm
        |      WHERE l.event_id NOT IN (SELECT click_id FROM m)
        |        AND epoch_us(l.ts) < (wm.wm_ms - 7200000) * 1000)
        |SELECT * FROM m UNION ALL SELECT * FROM u
        |ORDER BY click_id, purchase_id""".stripMargin),

    // RIGHT-OUTER form: the eviction bound is ASYMMETRIC (the time
    // condition r_ts ∈ [l_ts, l_ts+2h] is) — an unmatched purchase's
    // null-padded row emits iff the final watermark strictly passes
    // purchase_ts ITSELF (any later click sits above the watermark,
    // hence past it). Spec-pinned in StreamingJoinsSpec; the oracle
    // replays batch join ∪ (unmatched ∧ r_ts < final wm).
    Gate("q_stream_interval_join_right", (s, d) =>
      ssjFullReplay(s, d)
        .where(col("r_id").isNotNull)
        .select(col("l_id").as("click_id"), col("r_id").as("purchase_id"),
          col("key").as("user_id"), col("lag_us"))
        .orderBy("click_id", "purchase_id"),
      // right-outer: the purchase side's eviction bound is its OWN ts
      // (asymmetric condition — see the gate comment); null row iff
      // unmatched AND r_ts strictly below the final watermark
      """WITH l AS (SELECT * FROM events WHERE event_type = 'click'),
        |r AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT epoch_ms(max(ts)) FROM l),
        |                    (SELECT epoch_ms(max(ts)) FROM r))
        |              - 3600000 AS wm_ms),
        |m AS (SELECT l.event_id::BIGINT AS click_id,
        |             r.event_id::BIGINT AS purchase_id,
        |             l.user_id::BIGINT AS user_id,
        |             (epoch_us(r.ts) - epoch_us(l.ts))::BIGINT AS lag_us
        |      FROM l JOIN r ON l.user_id = r.user_id
        |        AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 2 HOUR),
        |u AS (SELECT NULL::BIGINT AS click_id,
        |             r.event_id::BIGINT AS purchase_id,
        |             r.user_id::BIGINT AS user_id,
        |             NULL::BIGINT AS lag_us
        |      FROM r, wm
        |      WHERE r.event_id NOT IN (SELECT purchase_id FROM m)
        |        AND epoch_us(r.ts) < wm.wm_ms * 1000)
        |SELECT * FROM m UNION ALL SELECT * FROM u
        |ORDER BY click_id, purchase_id""".stripMargin),

    // FULL-OUTER form: the shared replay itself, unprojected — both
    // sides' eviction rules apply (the union of the left and right
    // oracles' unmatched sets over one replay).
    Gate("q_stream_interval_join_full", (s, d) =>
      ssjFullReplay(s, d)
        .select(col("l_id").as("click_id"), col("r_id").as("purchase_id"),
          col("key").as("user_id"), col("lag_us"))
        .orderBy("click_id", "purchase_id"),
      // full-outer: both unmatched sets, each under its own side's
      // eviction bound, over the one shared replay
      """WITH l AS (SELECT * FROM events WHERE event_type = 'click'),
        |r AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT epoch_ms(max(ts)) FROM l),
        |                    (SELECT epoch_ms(max(ts)) FROM r))
        |              - 3600000 AS wm_ms),
        |m AS (SELECT l.event_id::BIGINT AS click_id,
        |             r.event_id::BIGINT AS purchase_id,
        |             l.user_id::BIGINT AS user_id,
        |             (epoch_us(r.ts) - epoch_us(l.ts))::BIGINT AS lag_us
        |      FROM l JOIN r ON l.user_id = r.user_id
        |        AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 2 HOUR),
        |ul AS (SELECT l.event_id::BIGINT AS click_id,
        |              NULL::BIGINT AS purchase_id,
        |              l.user_id::BIGINT AS user_id,
        |              NULL::BIGINT AS lag_us
        |       FROM l, wm
        |       WHERE l.event_id NOT IN (SELECT click_id FROM m)
        |         AND epoch_us(l.ts) < (wm.wm_ms - 7200000) * 1000),
        |ur AS (SELECT NULL::BIGINT AS click_id,
        |              r.event_id::BIGINT AS purchase_id,
        |              r.user_id::BIGINT AS user_id,
        |              NULL::BIGINT AS lag_us
        |       FROM r, wm
        |       WHERE r.event_id NOT IN (SELECT purchase_id FROM m)
        |         AND epoch_us(r.ts) < wm.wm_ms * 1000)
        |SELECT * FROM m UNION ALL SELECT * FROM ul
        |UNION ALL SELECT * FROM ur
        |ORDER BY click_id, purchase_id""".stripMargin),

    // W5 map-shaped keyed output (reference emits map[key]agg,
    // windows.go:469-479). The map column itself is exercised via
    // toMapShape; for the driver's compare (which cannot hash map columns)
    // the entries — already key-sorted by toMapShape's array_sort — are
    // flattened to a deterministic "k=v,..." string on both sides.
    Gate("q_keyed_map_shape", (s, d) => {
      val hourly = TimeWindows.tumbling(ev(s, d), col("ts"), "1 hour",
        Seq(col("event_type")), Seq(count(lit(1)).as("n")))
        .select(unix_timestamp(col("window.start")).as("ws"),
          col("event_type"), col("n").cast("double").as("n"))
      TimeWindows.toMapShape(hourly, "ws", "event_type", "n")
        .select(col("ws"),
          concat_ws(",", transform(map_entries(col("result")),
            e => concat(e.getField("key"), lit("="),
              e.getField("value").cast("decimal(18,1)").cast("string"))))
            .as("kv"))
        .orderBy("ws")
    },
      """SELECT ws, string_agg(event_type || '=' || n::DECIMAL(18,1)::VARCHAR,
        |                      ',' ORDER BY event_type) AS kv
        |FROM (SELECT epoch(date_trunc('hour', ts))::BIGINT AS ws, event_type,
        |             count(*)::DOUBLE AS n
        |      FROM events GROUP BY 1, 2)
        |GROUP BY ws ORDER BY ws""".stripMargin)
  )
}
