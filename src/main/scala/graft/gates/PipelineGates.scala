package graft.gates

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.{Dsl, Pipelines}
import graft.operators
import GateSupport._

/** DSL-pipeline gates (the JSON stage API end to end, E1-E6) and the
  * event-analytics operators filed with them: as-of and range joins,
  * sessions, rate caps, paths, funnels, retention, salted skew. */
object PipelineGates {

  val gates: Seq[Gate] = Seq(

    // count tumbling window via DSL: groupBy discriminator + stall/emit
    Gate("q_dsl_tumbling", (s, d) => {
      val p = Dsl.parsePipeline("dsl_tumbling",
        """{
          |"metadata": {"input": [{"name":"k","type":"string"},
          |                       {"name":"value","type":"double"}],
          |             "output": [{"name":"k","type":"string"},
          |                        {"name":"emit_seq","type":"long"},
          |                        {"name":"result","type":"double"}]},
          |"stages": [{"ref":"#aggregate",
          |            "settings":{"function":"sum","windowType":"tumbling",
          |                        "windowSize":"10"},
          |            "input":{"value":"=$.value"},
          |            "output":{"pipeline.emit_seq":"=$.__seq",
          |                      "pipeline.result":"=number.round($.result, 4)"}}]
          |}""".stripMargin).copy(groupBy = Some("k"))
      val in = ev(s, d).select(col("user_id").cast("string").as("k"),
        col("value"), col("event_id").as("__seq"))
      Pipelines.compileBatch(p, in).orderBy("k", "emit_seq")
    },
      """SELECT CAST(user_id AS VARCHAR) AS k, event_id AS emit_seq,
        |       round(s, 4) AS result FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
        |         sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |                          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS s
        |  FROM events)
        |WHERE rn % 10 = 0 ORDER BY k, emit_seq""".stripMargin),

    // int-avg compat (divergence #1): avg over an int stream truncates
    // like Go integer division (average.go:75-76), opted in via the
    // avgCompat=int pipeline setting
    Gate("q_dsl_avg_int", (s, d) => {
      val p = Dsl.parsePipeline("dsl_avg_int",
        """{
          |"metadata": {"input": [{"name":"k","type":"string"},
          |                       {"name":"value","type":"long"}],
          |             "output": [{"name":"k","type":"string"},
          |                        {"name":"emit_seq","type":"long"},
          |                        {"name":"result","type":"long"}]},
          |"stages": [{"ref":"#aggregate",
          |            "settings":{"function":"avg","windowType":"tumbling",
          |                        "windowSize":"10","avgCompat":"int"},
          |            "input":{"value":"=$.value"},
          |            "output":{"pipeline.emit_seq":"=$.__seq",
          |                      "pipeline.result":"=$.result"}}]
          |}""".stripMargin).copy(groupBy = Some("k"))
      val in = ev(s, d).select(col("user_id").cast("string").as("k"),
        col("value").cast("long").as("value"), col("event_id").as("__seq"))
      Pipelines.compileBatch(p, in).orderBy("k", "emit_seq")
    },
      """SELECT CAST(user_id AS VARCHAR) AS k, event_id AS emit_seq,
        |       (s // 10)::BIGINT AS result FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY event_id) AS rn,
        |         sum(trunc(value)::BIGINT) OVER (
        |           PARTITION BY user_id ORDER BY event_id
        |           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS s
        |  FROM events)
        |WHERE rn % 10 = 0 ORDER BY k, emit_seq""".stripMargin),

    // expression mapper + non-zero filter via DSL
    Gate("q_dsl_filter", (s, d) => {
      val p = Dsl.parsePipeline("dsl_filter",
        """{
          |"metadata": {"input": [{"name":"event_id","type":"long"},
          |                       {"name":"value","type":"double"}],
          |             "output": [{"name":"event_id","type":"long"},
          |                        {"name":"v","type":"double"}]},
          |"stages": [{"ref":"#filter",
          |            "settings":{"type":"non-zero"},
          |            "input":{"value":"=if($.value > 50, 0.0d, $.value)"},
          |            "output":{"pipeline.v":"=$.value"}}]
          |}""".stripMargin)
      val in = ev(s, d).select(col("event_id"), col("value"))
      Pipelines.compileBatch(p, in).orderBy("event_id")
    },
      """SELECT event_id, v FROM (
        |  SELECT event_id, CASE WHEN value > 50 THEN 0.0 ELSE value END AS v
        |  FROM events) WHERE v <> 0.0 ORDER BY event_id""".stripMargin),

    // timeTumbling window via DSL (timer emission = last event of pane)
    Gate("q_dsl_time_agg", (s, d) => {
      val p = Dsl.parsePipeline("dsl_time_agg",
        """{
          |"metadata": {"input": [{"name":"event_type","type":"string"},
          |                       {"name":"value","type":"double"}],
          |             "output": [{"name":"k","type":"string"},
          |                        {"name":"emit_seq","type":"long"},
          |                        {"name":"result","type":"double"}]},
          |"stages": [{"ref":"#aggregate",
          |            "settings":{"function":"sum","windowType":"timeTumbling",
          |                        "windowSize":"3600000"},
          |            "input":{"value":"=$.value"},
          |            "output":{"pipeline.k":"=$.event_type",
          |                      "pipeline.emit_seq":"=$.__seq",
          |                      "pipeline.result":"=number.round($.result, 4)"}}]
          |}""".stripMargin).copy(groupBy = Some("event_type"))
      val in = ev(s, d).select(col("event_type"), col("value"),
        col("event_id").as("__seq"), col("ts").as("__ts"))
      Pipelines.compileBatch(p, in).orderBy("k", "emit_seq")
    },
      """SELECT k, emit_seq, round(s, 4) AS result FROM (
        |  SELECT event_type AS k, event_id AS emit_seq,
        |         row_number() OVER (PARTITION BY event_type,
        |                            date_trunc('hour', ts)
        |                            ORDER BY event_id DESC) AS rdesc,
        |         sum(value) OVER (PARTITION BY event_type,
        |                          date_trunc('hour', ts)) AS s
        |  FROM events)
        |WHERE rdesc = 1 ORDER BY k, emit_seq""".stripMargin),

    // as-of join: each purchase enriched with the user's latest
    // preceding click (the time-series operator Spark lacks natively)
    Gate("q_asof_join", (s, d) => {
      val e = ev(s, d)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      operators.AsOfJoin.asOf(purchases, clicks, "user_id", "ts",
          Map("click_id" -> "event_id", "click_value" -> "value"))
        .select(col("event_id"), col("user_id"), col("click_id"),
          col("click_value"))
        .orderBy("event_id")
    },
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS click_id, user_id, ts,
        |                  value AS click_value FROM events
        |           WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, c.click_id, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),

    // FORWARD as-of join: each click enriched with the user's next
    // purchase at-or-after it (pandas merge_asof direction="forward");
    // the same union-and-carry plan mirrored in time
    Gate("q_asof_forward", (s, d) => {
      val e = ev(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      operators.AsOfJoin.asOfForward(clicks, purchases, "user_id", "ts",
          Map("purchase_id" -> "event_id", "purchase_value" -> "value"))
        .select(col("event_id"), col("user_id"), col("purchase_id"),
          col("purchase_value"))
        .orderBy("event_id")
    },
      // the mirrored direction: smallest purchase ts at-or-after the click
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |     p AS (SELECT event_id AS purchase_id, user_id, ts,
        |                  value AS purchase_value FROM events
        |           WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, p.purchase_id, p.purchase_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin),

    // NEAREST as-of: each click matched to the user's closest purchase
    // in either direction, ties to the preceding one — the backward and
    // forward carries chained with a µs-distance pick
    Gate("q_asof_nearest", (s, d) => {
      val e = ev(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      operators.AsOfJoin.asOfNearest(clicks, purchases, "user_id", "ts",
          Map("purchase_id" -> "event_id", "purchase_value" -> "value"))
        .select(col("event_id"), col("user_id"), col("purchase_id"),
          col("purchase_value"))
        .orderBy("event_id")
    },
      // both ASOF directions joined, the CASE picks by µs distance with
      // ties to the preceding row — exactly the operator's contract
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |     p AS (SELECT event_id AS pid, user_id, ts,
        |                  value AS pv FROM events
        |           WHERE event_type = 'purchase'),
        |b AS (SELECT c.event_id, c.user_id, c.ts,
        |             p.pid AS bpid, p.pv AS bpv, p.ts AS bt
        |      FROM c ASOF LEFT JOIN p
        |        ON c.user_id = p.user_id AND c.ts >= p.ts),
        |f AS (SELECT c.event_id, p.pid AS fpid, p.pv AS fpv, p.ts AS ft
        |      FROM c ASOF LEFT JOIN p
        |        ON c.user_id = p.user_id AND c.ts <= p.ts)
        |SELECT b.event_id, b.user_id,
        |       CASE WHEN bt IS NOT NULL AND (ft IS NULL OR
        |                 epoch_us(b.ts) - epoch_us(bt)
        |                   <= epoch_us(ft) - epoch_us(b.ts))
        |            THEN bpid ELSE fpid END AS purchase_id,
        |       CASE WHEN bt IS NOT NULL AND (ft IS NULL OR
        |                 epoch_us(b.ts) - epoch_us(bt)
        |                   <= epoch_us(ft) - epoch_us(b.ts))
        |            THEN bpv ELSE fpv END AS purchase_value
        |FROM b JOIN f USING (event_id)
        |ORDER BY b.event_id""".stripMargin),

    // gap-based sessionization: a 12 h inactivity gap splits a user's
    // event stream; one summary row per session (single-shuffle plan,
    // boundary rule pinned to session_window in SessionizeSpec)
    Gate("q_sessionize", (s, d) =>
      operators.Sessionize.summarize(ev(s, d), "user_id", "ts", 43200L,
          "value", Seq("event_id"))
        .orderBy("user_id", "session_idx"),
      // same break rule as Sessionize.assign: a µs-precision gap
      // STRICTLY over 12 h starts a new session (an event exactly 12 h
      // after its predecessor merges — session_window's inclusive
      // boundary); first event's null lag falls to ELSE 0
      """WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |              OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > 43200000000 THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM g)
        |SELECT user_id, session_idx::BIGINT AS session_idx,
        |       epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms,
        |       count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM s GROUP BY user_id, s.session_idx
        |ORDER BY user_id, session_idx""".stripMargin),

    // STREAMING sessionization through a real file-source replay:
    // session_window + 1 h watermark over 6 ts-ordered arrival chunks —
    // append mode emits exactly the sessions whose end (last event +
    // 12 h gap) the final watermark passed; a pure function of the data,
    // so batch SQL oracles real streaming semantics
    Gate("q_sessionize_stream", (s, d) => {
      implicit val ss: SparkSession = s
      val e = ev(s, d)
      graft.streaming.StreamingSessions.sessionReplay(e, "user_id",
          "ts", "value",
          graft.streaming.ReplayChunks.byTime(e, "ts", 6), 6,
          "1 hour", "12 hours")
        .select(col("k").as("user_id"), col("start_ms"), col("n_events"),
          col("total_value"))
        .orderBy("user_id", "start_ms")
    },
      // batch sessions + the append-mode flush rule: a session emits iff
      // its end (last event + 12 h gap) <= final watermark (max ts - 1 h);
      // gap AND emission compare at µs — Spark's full timestamp precision
      """WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |              OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > 43200000000 THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g),
        |sess AS (
        |  SELECT user_id, epoch_ms(min(ts)) AS start_ms,
        |         epoch_us(max(ts)) AS end_us,
        |         count(*) AS n_events, round(sum(value), 4) AS total_value
        |  FROM s GROUP BY user_id, sid),
        |fin AS (SELECT epoch_us(max(ts)) - 3600000000 AS wm_us FROM events)
        |SELECT user_id, start_ms, n_events, total_value
        |FROM sess, fin WHERE end_us + 43200000000 <= wm_us
        |ORDER BY user_id, start_ms""".stripMargin),

    // at-ingest per-key rate cap: each user's FIRST 8 events by (ts,
    // event_id) survive, the rest drop at the state-store counter — a
    // REAL chunked Structured Streaming replay (6 ts-monotone arrival
    // chunks), so the kept set pins cross-batch state carry; equals the
    // batch row_number()<=8 by the determinism contract
    Gate("q_rate_cap_stream", (s, d) => {
      implicit val ss: SparkSession = s
      val e = ev(s, d)
      graft.streaming.StreamingCaps.capReplay(e, "user_id",
          "ts", "event_id", 8,
          graft.streaming.ReplayChunks.byTime(e, "ts", 6), 6)
        .select(col("k").as("user_id"), col("tsUs").as("ts_us"),
          col("id").as("event_id"))
        .orderBy("user_id", "ts_us", "event_id")
    },
      // the determinism contract makes the streaming cap a pure function
      // of the data: first 8 per key in (ts, event_id) order (NULL keys
      // form their own capped group on both engines)
      """SELECT user_id, ts_us, event_id FROM (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn <= 8
        |ORDER BY user_id, ts_us, event_id""".stripMargin),

    // strictly-ordered first-touch funnel: users reaching each stage of
    // funnel DISCOVERY: the 20 most frequent 3-step event-type paths,
    // per-user order by event_id (unique, so paths are deterministic)
    Gate("q_event_paths", (s, d) =>
      operators.EventAnalytics.topPaths(ev(s, d), "user_id", "event_id",
          "event_type", n = 3, k = 20)
        .orderBy("rk"),
      // lead-window replication: per-user event_id order, complete
      // 3-paths only, global top-20 by (count desc, path). The null-key
      // filter mirrors EventAnalytics.topPaths' documented contract
      // (anonymous events form no paths) — without it DuckDB would lump
      // all NULL user_ids into one partition and manufacture paths
      // across unrelated anonymous events the moment the fixture gains
      // a null actor
      """WITH s AS (SELECT user_id, event_id, event_type,
        |             lead(event_type, 1) OVER (PARTITION BY user_id
        |                                       ORDER BY event_id) AS t1,
        |             lead(event_type, 2) OVER (PARTITION BY user_id
        |                                       ORDER BY event_id) AS t2
        |           FROM events WHERE user_id IS NOT NULL),
        |p AS (SELECT event_type || '>' || t1 || '>' || t2 AS path
        |      FROM s WHERE t2 IS NOT NULL),
        |c AS (SELECT path, count(*) AS n_paths FROM p GROUP BY path
        |      ORDER BY n_paths DESC, path LIMIT 20)
        |SELECT row_number() OVER (ORDER BY n_paths DESC, path)::BIGINT
        |         AS rk,
        |       path, n_paths
        |FROM c ORDER BY rk""".stripMargin),

    // view -> click -> purchase (each stage strictly after the key's
    // earliest completion of the previous one)
    Gate("q_funnel", (s, d) =>
      operators.EventAnalytics.funnel(ev(s, d), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy("stage_idx"),
      """WITH s1 AS (SELECT user_id, min(ts) t FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) t FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) t FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 1 AS stage_idx, 'view' AS stage,
        |         (SELECT count(*) FROM s1) AS n_keys
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
        |ORDER BY stage_idx""".stripMargin),

    // windowed funnel: each stage must convert within 1 hour of the
    // previous stage's first touch (prev_t < t <= prev_t + 1h, compared
    // at epoch µs on both sides). Same cascade plan, one extra scalar
    // band per stage join
    Gate("q_funnel_windowed", (s, d) =>
      operators.EventAnalytics.funnel(ev(s, d), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          maxLagMs = Some(3600000L))
        .orderBy("stage_idx"),
      // the 1-hour band compares at epoch µs on both sides: Spark's
      // session timestamps are µs (nanos div 1000 at load), DuckDB's
      // epoch_us over TIMESTAMP_NS truncates the same way
      """WITH s1 AS (SELECT user_id, min(ts) t FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) t FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t
        |         AND epoch_us(e.ts) <= epoch_us(s1.t) + 3600000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) t FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |         AND epoch_us(e.ts) <= epoch_us(s2.t) + 3600000000 GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 1 AS stage_idx, 'view' AS stage,
        |         (SELECT count(*) FROM s1) AS n_keys
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
        |ORDER BY stage_idx""".stripMargin),

    // weekly cohort retention: distinct users per (first-event week,
    // week offset) — pure epoch math over Monday-truncated weeks
    Gate("q_retention", (s, d) =>
      operators.EventAnalytics.retention(ev(s, d), "user_id", "ts")
        .orderBy("cohort_ms", "week_offset"),
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) cw
        |           FROM events GROUP BY 1)
        |SELECT epoch_ms(cw) AS cohort_ms,
        |       ((epoch(date_trunc('week', e.ts))::BIGINT
        |         - epoch(cw)::BIGINT) // 604800)::BIGINT AS week_offset,
        |       count(DISTINCT e.user_id) AS n_keys
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // windowed retention: only returns within 2 weeks of the user's
    // exact first event count (inclusive at the horizon, compared at
    // epoch µs on both sides) — the bounded-tail variant of q_retention
    Gate("q_retention_windowed", (s, d) =>
      operators.EventAnalytics.retention(ev(s, d), "user_id", "ts",
          horizonMs = Some(1209600000L))
        .orderBy("cohort_ms", "week_offset"),
      // the 2-week horizon anchors on the user's EXACT first-event
      // timestamp (not its truncated cohort week) and compares at epoch
      // µs on both sides, like q_funnel_windowed's band
      """WITH f AS (SELECT user_id, min(ts) ft,
        |                  date_trunc('week', min(ts)) cw
        |           FROM events GROUP BY 1)
        |SELECT epoch_ms(cw) AS cohort_ms,
        |       ((epoch(date_trunc('week', e.ts))::BIGINT
        |         - epoch(cw)::BIGINT) // 604800)::BIGINT AS week_offset,
        |       count(DISTINCT e.user_id) AS n_keys
        |FROM events e JOIN f USING (user_id)
        |WHERE epoch_us(e.ts) <= epoch_us(ft) + 1209600000000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // range join: purchases paired with same-user clicks within +-1 hour
    Gate("q_range_join", (s, d) => {
      val e = ev(s, d)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      operators.RangeJoin.timeRange(purchases, clicks, "user_id", "ts",
          3600000L, 3600000L)
        .select(col("event_id"), col("user_id"),
          col("r_event_id").as("click_id"))
        .orderBy("event_id", "click_id")
    },
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS click_id, user_id, ts FROM events
        |           WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, c.click_id
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR
        |  AND c.ts <= p.ts + INTERVAL 1 HOUR
        |ORDER BY p.event_id, c.click_id""".stripMargin),

    // skew-mitigated aggregation: two-phase salted shuffle, same answer
    // as the direct groupBy (the oracle), hot keys fanned over 32 salts
    Gate("q_skew_salted", (s, d) =>
      operators.Skew.saltedSumCount(ev(s, d), col("user_id"), col("value"),
          "sv_raw")
        .select(col("key").as("user_id"), round(col("sv_raw"), 4).as("sv"),
          col("n"))
        .orderBy("user_id"),
      """SELECT user_id, round(sum(value), 4) AS sv, count(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
  )
}
