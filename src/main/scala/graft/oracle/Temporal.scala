package graft.oracle

/** DuckDB oracle SQL for [[graft.queries.Temporal]]'s queries. */
object Temporal {
  /** Per event: its event-time micro-seconds (us) and whether it opens a new
    * session (gap = 1 after more than 30 minutes of user inactivity) — the
    * gap rule every session oracle shares.
    */
  private lazy val sessionGapCte: String = """
      WITH g AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                      - lag(epoch_us(CAST(ts AS TIMESTAMP)), 1)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS gap
        FROM events)"""

  /** The streaming sessionizer answers the identical question as the batch
    * window version, so it shares w3's oracle SQL verbatim.
    */
  private val sessionizeSql = s"""
      $sessionGapCte,
      sess AS (
        SELECT user_id, us,
               CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM g)
      SELECT user_id, session_id, count(*) AS n_events,
             (max(us) - min(us)) / 1000000.0 AS duration_sec
      FROM sess GROUP BY user_id, session_id"""

  /** Gaps-and-islands replay of session_window's merge rule — shared by
    * the batch (`w3b_session_window`) and streaming
    * (`stream_session_window`) variants: one SQL truth for both engines'
    * session semantics.
    */
  private val sessionWindowSql = s"""
      $sessionGapCte,
      sess AS (
        SELECT user_id, us,
               sum(gap) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM g)
      SELECT user_id, count(*) AS n_events,
             (max(us) - min(us)) / 1000000.0 AS duration_sec
      FROM sess GROUP BY user_id, sid"""


  /** The chain's per-batch two-operator state replay, parameterized by
    * the dedup watermark delay (minutes; session gap fixed at 30 min) —
    * single source for the standard metrics oracle (delay 119) and every
    * block of the stream_session_dedup_sweep oracle. The rules replayed:
    * batch 0 holds all N dedup keys + one row per merged session; batch 1
    * evicts dedup to the 2*delay horizon and flushes sessions with close
    * (last event + gap) <= wm = max - delay; batch 2's re-deliveries are
    * raw-ts late-dropped or dedup-suppressed (no state movement); batch
    * 3's U per-user sentinels add U keys and U open sessions.
    */
  private def sessionDedupMetricsSql(delayMin: Int): String = s"""
      WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS t, user_id FROM events),
      wm AS (SELECT max(t) - INTERVAL $delayMin MINUTES AS w FROM e),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
      u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS u FROM e),
      ded1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e, wm
               WHERE t + INTERVAL $delayMin MINUTES >= wm.w),
      g AS (SELECT user_id, event_id, epoch_us(t) AS us,
                   CASE WHEN epoch_us(t) - lag(epoch_us(t), 1)
                          OVER (PARTITION BY user_id ORDER BY t, event_id)
                        > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS gap
            FROM e),
      sess AS (SELECT user_id, us,
                      sum(gap) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM g),
      sgrp AS (SELECT user_id, sid, max(us) AS last_us
               FROM sess GROUP BY 1, 2),
      s_all AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sgrp),
      s_open AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sgrp, wm
                 WHERE last_us + 30 * 60 * 1000000 > epoch_us(wm.w)),
      sl AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e WHERE event_id % 10 = 3),
      drp AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e, wm
              WHERE event_id % 10 = 3 AND t < wm.w)
      SELECT CAST(0 AS INTEGER) AS batch_ord, n.n AS input_rows,
             CAST(0 AS BIGINT) AS dropped_rows, n.n AS dedup_state,
             s_all.n AS session_state
      FROM n, s_all
      UNION ALL
      SELECT CAST(1 AS INTEGER), CAST(1 AS BIGINT), CAST(0 AS BIGINT),
             ded1.n, s_open.n
      FROM ded1, s_open
      UNION ALL
      SELECT CAST(2 AS INTEGER), sl.n, drp.n, ded1.n, s_open.n
      FROM sl, drp, ded1, s_open
      UNION ALL
      SELECT CAST(3 AS INTEGER), u.u, CAST(0 AS BIGINT),
             ded1.n + u.u, s_open.n + u.u
      FROM u, ded1, s_open"""

  /** The SCD2 dimension build replayed in SQL — shared verbatim by the
    * batch query (cdc_scd2) and its streaming twin (stream_scd2).
    */
  private val scd2Ctes: String = """
      e AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
               CAST(floor(value) AS BIGINT) % 5 AS tier
        FROM events),
      lagged AS (
        SELECT *, lag(tier) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_tier
        FROM e),
      changes AS (SELECT * FROM lagged WHERE prev_tier IS NULL OR tier <> prev_tier),
      v AS (
        SELECT user_id, tier, us,
               row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS version,
               coalesce(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id),
                        9223372036854775807) AS valid_to_us
        FROM changes)"""

  private val scd2Sql: String = s"""
      WITH $scd2Ctes
      SELECT user_id, CAST(version AS INTEGER) AS version, tier,
             us AS valid_from_us, valid_to_us,
             valid_to_us = 9223372036854775807 AS is_current
      FROM v"""

  /** One oracle for both erasure surfaces (`cdc_forget_keys` and
    * `stream_forget_keys`): the per-bucket before/after census re-derived
    * from the live table and the md5 forget rule alone.
    */
  private val forgetKeysOracleSql: String = """
      WITH e AS (SELECT user_id, user_id % 16 AS bkt,
                        ('0x' || substr(md5('fg' || user_id::VARCHAR), 1, 15))::BIGINT
                          % 10 = 0 AS fg
                 FROM events)
      SELECT CAST(bkt AS INTEGER) AS bkt,
             CAST(count(*) AS BIGINT) AS n_before,
             CAST(sum(CASE WHEN NOT fg THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
             CAST(sum(CASE WHEN fg THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
             bool_or(fg) AS rewritten
      FROM e GROUP BY 1"""

  /** One oracle for both retraction-IVM surfaces (`agg_incremental_retract`
    * and `stream_retract_fold`): the retracted rollup re-derived by a plain
    * recompute over the surviving rows, flags from the retraction rule.
    */
  private val retractOracleSql: String = """
      WITH e AS (SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                        event_type, event_id,
                        CAST(round(value * 100) AS BIGINT) AS cents,
                        ('0x' || substr(md5('rt' || event_id::VARCHAR), 1, 15))::BIGINT
                          % 20 = 0 AS is_rt
                 FROM events),
      touched AS (SELECT DISTINCT day, event_type FROM e WHERE is_rt)
      SELECT e.day, e.event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             min(cents) AS min_cents, max(cents) AS max_cents,
             (t.day IS NOT NULL) AS recomputed,
             round(CAST(sum(cents) AS DOUBLE) / count(*) / 100.0, 6) AS avg_value
      FROM e LEFT JOIN touched t
        ON e.day = t.day AND e.event_type = t.event_type
      WHERE NOT is_rt
      GROUP BY e.day, e.event_type, (t.day IS NOT NULL)"""

  val oracle: Map[String, String] = Map(
    // the merged state must equal a single-pass re-scan of the whole
    // table — the incremental merge algebra's correctness contract
    "agg_incremental_merge" -> """
      WITH e AS (SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                        event_type,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT day, event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             min(cents) AS min_cents, max(cents) AS max_cents,
             round(CAST(sum(cents) AS DOUBLE) / count(*) / 100.0, 6) AS avg_value
      FROM e GROUP BY 1, 2""",
    // the retracted rollup must equal a plain recompute over the surviving
    // rows, with the recomputed flag re-derived from the retraction rule —
    // proving the subtract path (n, sum) and the bounded-rescan path
    // (min/max) both exact
    "agg_incremental_retract" -> retractOracleSql,
    // the STREAMED fold must land on the identical rollup: one shared SQL
    // string with the batch retraction (arrival batching and the
    // in-stream ± fold change nothing about the answer)
    "stream_retract_fold" -> retractOracleSql,
    // the gated merged state must equal a single-pass gated re-scan: error
    // rows excluded and counted, warn rows kept and counted — gating
    // commutes with the incremental merge
    "agg_incremental_merge_gated" -> """
      WITH doc AS (
        SELECT source, n_chars,
               (text IS NULL OR trim(text) = '' OR n_chars <> length(text)
                OR n_chars < 60) AS err,
               (n_chars < 100) AS warn
        FROM documents)
      SELECT source,
             CAST(sum(CASE WHEN NOT err THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN NOT err THEN n_chars END) AS BIGINT)
               AS sum_chars,
             min(CASE WHEN NOT err THEN n_chars END) AS min_chars,
             max(CASE WHEN NOT err THEN n_chars END) AS max_chars,
             CAST(sum(CASE WHEN NOT err AND warn THEN 1 ELSE 0 END) AS BIGINT)
               AS n_warn,
             CAST(sum(CASE WHEN err THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quarantined,
             CASE WHEN sum(CASE WHEN NOT err THEN 1 ELSE 0 END) > 0
                  THEN round(CAST(sum(CASE WHEN NOT err THEN n_chars END)
                                  AS DOUBLE)
                             / sum(CASE WHEN NOT err THEN 1 ELSE 0 END), 6)
             END AS avg_chars
      FROM doc GROUP BY 1""",
    "w13_time_weighted_avg" -> """
      WITH e AS (SELECT user_id, event_id,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                        CAST(round(value * 100) AS BIGINT) AS vc
                 FROM events WHERE value IS NOT NULL),
      s AS (SELECT user_id, vc, us,
                   lead(us) OVER w AS nus, lead(vc) OVER w AS nvc
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      g AS (SELECT user_id,
                   sum((vc + nvc)::HUGEINT * (nus - us)) AS num,
                   sum((nus - us)::HUGEINT) AS den,
                   CAST(count(*) AS BIGINT) AS n_seg
            FROM s WHERE nus IS NOT NULL GROUP BY 1)
      SELECT user_id, n_seg,
             round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 2.0 / 100.0, 6)
               AS twa
      FROM g WHERE den > 0""",
    "stream_sessionize_stateful" -> sessionizeSql,
    // drop-late replay: b0 = on-time rows (event_id % 20 != 7), watermark
    // after b0 = max(b0.ts) − 119 min; a straggler is admitted iff its
    // hour-window END is past that watermark (the state-eviction rule),
    // and the sentinel-advanced final flush emits every real window.
    "stream_drop_late" -> """
      WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS t, event_type, value
                 FROM events),
      wm AS (SELECT max(t) - INTERVAL 119 MINUTES AS wm1 FROM e
             WHERE event_id % 20 <> 7),
      adm AS (SELECT t, event_type, value FROM e WHERE event_id % 20 <> 7
              UNION ALL
              SELECT t, event_type, value FROM e, wm
              WHERE event_id % 20 = 7
                AND date_trunc('hour', t) + INTERVAL 1 HOUR > wm.wm1)
      SELECT strftime(date_trunc('hour', t), '%Y-%m-%d %H:00') AS hour_start,
             event_type, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
      FROM adm GROUP BY 1, 2""",
    // the same run's monitoring counters: per-data-batch observe() input
    // rows, the batch-2 numRowsDroppedByWatermark, and numRowsTotal (the
    // state-boundedness contract), all replayed from the split + watermark
    // rules (batches 0/1 = the even/odd on-time halves, batch 2 = the
    // stragglers, batch 3 = the one-row sentinel). State replay: batch 1
    // evicts by the EVEN half's max (the eviction watermark lags the late
    // filter by one batch), batch 2 by the full on-time max; each batch's
    // state is the distinct (hour, type) groups of admitted rows whose
    // window end survives that eviction mark.
    "stream_late_metrics" -> """
      WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS t, event_type FROM events),
      wm1 AS (SELECT max(t) - INTERVAL 119 MINUTES AS w FROM e
              WHERE event_id % 20 <> 7 AND event_id % 2 = 0),
      wm2 AS (SELECT max(t) - INTERVAL 119 MINUTES AS w FROM e
              WHERE event_id % 20 <> 7),
      g0 AS (SELECT DISTINCT date_trunc('hour', t) AS h, event_type FROM e
             WHERE event_id % 20 <> 7 AND event_id % 2 = 0),
      g1 AS (SELECT DISTINCT date_trunc('hour', t) AS h, event_type FROM e
             WHERE event_id % 20 <> 7),
      s1 AS (SELECT count(*) AS n FROM g1, wm1 WHERE g1.h + INTERVAL 1 HOUR > wm1.w),
      adm AS (SELECT t, event_type FROM e WHERE event_id % 20 <> 7
              UNION ALL
              SELECT t, event_type FROM e, wm2
              WHERE event_id % 20 = 7
                AND date_trunc('hour', t) + INTERVAL 1 HOUR > wm2.w),
      g2 AS (SELECT DISTINCT date_trunc('hour', t) AS h, event_type FROM adm),
      s2 AS (SELECT count(*) AS n FROM g2, wm2 WHERE g2.h + INTERVAL 1 HOUR > wm2.w),
      b0 AS (SELECT count(*) AS n FROM e
             WHERE event_id % 20 <> 7 AND event_id % 2 = 0),
      b1 AS (SELECT count(*) AS n FROM e
             WHERE event_id % 20 <> 7 AND event_id % 2 <> 0),
      b2 AS (SELECT count(*) AS n FROM e WHERE event_id % 20 = 7),
      drp AS (SELECT count(*) AS n FROM e, wm2
              WHERE event_id % 20 = 7
                AND date_trunc('hour', t) + INTERVAL 1 HOUR <= wm2.w)
      SELECT CAST(0 AS INTEGER) AS batch_ord,
             CAST(b0.n AS BIGINT) AS input_rows,
             CAST(0 AS BIGINT) AS dropped_rows,
             CAST((SELECT count(*) FROM g0) AS BIGINT) AS state_rows FROM b0
      UNION ALL
      SELECT CAST(1 AS INTEGER), CAST(b1.n AS BIGINT), CAST(0 AS BIGINT),
             CAST(s1.n AS BIGINT) FROM b1, s1
      UNION ALL
      SELECT CAST(2 AS INTEGER), CAST(b2.n AS BIGINT), CAST(drp.n AS BIGINT),
             CAST(s2.n AS BIGINT) FROM b2, drp, s2
      UNION ALL
      SELECT CAST(3 AS INTEGER), CAST(1 AS BIGINT), CAST(0 AS BIGINT),
             CAST(s2.n + 1 AS BIGINT) FROM s2""",
    // ingest dedup: in-horizon re-deliveries are suppressed by state,
    // beyond-horizon ones are late-dropped — either way the drained set
    // is exactly the distinct events, so the oracle is the batch answer.
    "stream_dedup_ingest" -> """
      SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00')
               AS hour_start,
             event_type, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
      FROM events GROUP BY 1, 2""",
    // dedup-state boundedness replay: batch 0 holds every key (eviction
    // watermark still 0); batch 1 evicts to the 2·delay horizon (expiry
    // ts+delay ≥ wm = max−delay ⟺ ts ≥ max−2·delay); batch 2's late
    // filter drops re-deliveries on RAW event time behind the watermark
    // (ts < wm — the standard watermark filter, pinned in
    // DedupIngestSpec), and every admitted re-delivery is necessarily
    // still in state (expiry ≥ wm + delay), so state_rows is unchanged.
    "stream_dedup_metrics" -> """
      WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS t FROM events),
      wm AS (SELECT max(t) - INTERVAL 119 MINUTES AS w FROM e),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
      s1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e, wm
             WHERE t + INTERVAL 119 MINUTES >= wm.w),
      sl AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e WHERE event_id % 10 = 3),
      drp AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e, wm
              WHERE event_id % 10 = 3 AND t < wm.w)
      SELECT CAST(0 AS INTEGER) AS batch_ord, n.n AS input_rows,
             CAST(0 AS BIGINT) AS dropped_rows, n.n AS state_rows FROM n
      UNION ALL
      SELECT CAST(1 AS INTEGER), CAST(1 AS BIGINT), CAST(0 AS BIGINT), s1.n
      FROM s1
      UNION ALL
      SELECT CAST(2 AS INTEGER), sl.n, drp.n, s1.n FROM sl, drp, s1""",
    // the latest-state stream must reproduce the batch per-key argmax
    "stream_latest_state" -> """
      WITH e AS (SELECT user_id, event_id,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
                 FROM events),
      l AS (SELECT user_id, us AS last_us, value AS last_value FROM e
            QUALIFY row_number() OVER (PARTITION BY user_id
              ORDER BY us DESC, event_id DESC) = 1),
      n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
            FROM e GROUP BY 1)
      SELECT l.user_id, CAST(l.last_us AS BIGINT) AS last_us, l.last_value,
             n.n_events
      FROM l JOIN n USING (user_id)""",
    "w3_sessionize" -> sessionizeSql,
    "w9_ema_decay" -> """
      WITH v AS (SELECT event_id, user_id, ts,
                        CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      l AS (SELECT event_id, user_id, vc,
                   lag(vc, 1) OVER w AS v1, lag(vc, 2) OVER w AS v2,
                   lag(vc, 3) OVER w AS v3, lag(vc, 4) OVER w AS v4,
                   lag(vc, 5) OVER w AS v5, lag(vc, 6) OVER w AS v6,
                   lag(vc, 7) OVER w AS v7
            FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT event_id, user_id,
             round((vc * 128 + coalesce(v1 * 64, 0) + coalesce(v2 * 32, 0)
                    + coalesce(v3 * 16, 0) + coalesce(v4 * 8, 0)
                    + coalesce(v5 * 4, 0) + coalesce(v6 * 2, 0)
                    + coalesce(v7, 0))
                   / (128 + CASE WHEN v1 IS NULL THEN 0 ELSE 64 END
                          + CASE WHEN v2 IS NULL THEN 0 ELSE 32 END
                          + CASE WHEN v3 IS NULL THEN 0 ELSE 16 END
                          + CASE WHEN v4 IS NULL THEN 0 ELSE 8 END
                          + CASE WHEN v5 IS NULL THEN 0 ELSE 4 END
                          + CASE WHEN v6 IS NULL THEN 0 ELSE 2 END
                          + CASE WHEN v7 IS NULL THEN 0 ELSE 1 END)
                   / 100.0, 4) AS ema
      FROM l""",
    "w10_streak" -> """
      WITH days AS (SELECT DISTINCT user_id,
                           CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
                    FROM events),
      runs AS (SELECT user_id,
                      day - CAST(row_number() OVER
                        (PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
               FROM days),
      st AS (SELECT user_id, anchor, count(*) AS len
             FROM runs GROUP BY user_id, anchor)
      SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
             max(len) AS longest_streak, count(*) AS n_streaks
      FROM st GROUP BY user_id""",
    "w11_anomaly_days" -> """
      WITH daily AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               count(*) AS c
        FROM events GROUP BY 1, 2),
      st AS (SELECT user_id, count(*) AS nd, sum(c) AS sc,
                    sum(CAST(c AS HUGEINT) * c) AS sc2
             FROM daily GROUP BY user_id),
      j AS (SELECT daily.user_id, day, c,
                   CAST(nd AS HUGEINT) * c - sc AS num,
                   CAST(nd AS HUGEINT) * sc2 - CAST(sc AS HUGEINT) * sc AS varn
            FROM daily JOIN st ON daily.user_id = st.user_id)
      SELECT user_id, strftime(day, '%Y-%m-%d') AS day, c AS n_events,
             round(CAST(num AS DOUBLE) / sqrt(CAST(varn AS DOUBLE)), 4) AS z
      FROM j WHERE num > 0 AND num * num > varn * 4""",
    "w12_rolling_active" -> """
      WITH ud AS (SELECT DISTINCT user_id,
                         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
                  FROM events),
      mx AS (SELECT max(day) AS mx FROM ud),
      w AS (SELECT user_id, day + CAST(o AS INTEGER) AS wday
            FROM ud, LATERAL (SELECT unnest(range(0, 7)) AS o) r)
      SELECT strftime(wday, '%Y-%m-%d') AS day,
             count(DISTINCT user_id) AS active_7d
      FROM w, mx WHERE wday <= mx GROUP BY 1""",
    "w6_transitions" -> """
      WITH st AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS next_type
        FROM events),
      c AS (SELECT event_type, next_type, count(*) AS n
            FROM st WHERE next_type IS NOT NULL GROUP BY 1, 2)
      SELECT event_type, next_type, n,
             round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type), 6) AS p
      FROM c""",
    "w4_funnel" -> """
      WITH fv AS (SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS v_us
                  FROM events WHERE event_type = 'view' GROUP BY user_id),
      p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
            FROM events WHERE event_type = 'purchase'),
      j AS (SELECT fv.user_id, fv.v_us, min(p.p_us) AS p_us
            FROM fv LEFT JOIN p
              ON fv.user_id = p.user_id
             AND p.p_us >= fv.v_us AND p.p_us <= fv.v_us + 1800000000
            GROUP BY 1, 2)
      SELECT user_id, p_us IS NOT NULL AS converted, p_us - v_us AS us_to_convert
      FROM j""",
    // session_window windows are [start, start+gap] end-inclusive for
    // merging: an event exactly gap-after still merges (pinned by
    // ExtendedSpec), so the split condition is strictly-greater — the SAME
    // rule as the hand-rolled w3 sessionizer.
    "w3b_session_window" -> sessionWindowSql,
    // the streaming session_window must reproduce the batch answer
    "stream_session_window" -> sessionWindowSql,
    // …and so must the dedup→session chain: re-deliveries leave no trace
    "stream_session_dedup" -> sessionWindowSql,
    // the streamed per-row PQ encode must land on the exact code table
    // DuckDB derives by replaying the train/encode pipeline itself
    "stream_pq_encode" -> Similarity.pqStreamCodesSql,
    // the two-source fan-in must leave no trace: same oracle exactly
    "stream_pq_encode_fanin" -> Similarity.pqStreamCodesSql,
    // the full streaming index row: coarse cell + codes, independently
    // re-derived (assignment argmin over the 16 raw seed vectors)
    "stream_ivfpq_index" -> Similarity.ivfpqStreamIndexSql,
    // the streamed serving path must produce the batch ADC top-5 exactly
    "stream_adc_probe" -> Similarity.oracle("sim_pq_adc"),
    // the compacted-layout probe must produce the batch IVF-PQ top-5:
    // the physical layout and the streamed ADC leg change NOTHING
    "stream_compacted_probe" -> Similarity.oracle("sim_ivfpq_topk"),
    "stream_graph_probe" -> Similarity.knnHierWalkOracle,
    // the streamed per-row media decode must land on the batch decode's
    // closed-form table exactly
    "stream_media_decode" -> Extended.oracle("mm_decode_meta"),
    // the streamed bucket-routed posting append must land on the exact
    // logical posting inventory the batch compaction oracles
    "stream_postings_ingest" -> TextOps.oracle("text_postings_compaction"),
    // the streamed sketch must equal the batch sketch counter-for-counter,
    // so the probe table shares a23_countmin's oracle VERBATIM
    "stream_countmin" -> TextOps.oracle("a23_countmin"),
    // base ∪ streamed delta is the whole events table — one shared SQL
    // string with the batch layout's query
    "stream_zonemap_ingest" -> Relational.oracle("s14_zonemap_scan"),
    "zonemap_recompaction" -> Relational.oracle("s14_zonemap_scan"),
    // per-batch PSI replayed from the deterministic user-parity arrival
    // slices against the even-event_id reference histogram; same
    // nano-unit term discipline as diag_psi_drift. The spine is the FULL
    // OUTER union of reference and batch types per batch (a missing side
    // = the all-smoothing n=0 histogram), replaying the gate's
    // novel-type alarm — the event_id % 89 slice arrives relabeled
    // 'launch', a type the reference has never seen.
    "stream_psi_gate" -> """
      WITH ev AS (SELECT event_id, user_id, event_type, value FROM events),
      ref AS (SELECT event_type,
                     least(19, CAST(floor(value / 25) AS BIGINT)) AS b,
                     count(*) AS cref
              FROM ev WHERE event_id % 2 = 0 GROUP BY 1, 2),
      rt AS (SELECT event_type, CAST(sum(cref) AS BIGINT) AS n_ref
             FROM ref GROUP BY 1),
      cur0 AS (SELECT batch_ord, et AS event_type, b, count(*) AS ccur
               FROM (SELECT CAST(user_id % 2 AS INTEGER) AS batch_ord,
                            CASE WHEN event_id % 89 = 0 THEN 'launch'
                                 ELSE event_type END AS et,
                            least(19, CAST(floor(
                              (CASE WHEN event_type = 'purchase' THEN value * 1.5
                                    ELSE value END) / 25) AS BIGINT)) AS b
                     FROM ev WHERE event_id % 2 = 1)
               GROUP BY 1, 2, 3),
      ct AS (SELECT batch_ord, event_type, CAST(sum(ccur) AS BIGINT) AS n_cur
             FROM cur0 GROUP BY 1, 2),
      batches AS (SELECT DISTINCT batch_ord FROM ct),
      tps AS (SELECT batch_ord, event_type FROM ct
              UNION
              SELECT b.batch_ord, r.event_type FROM batches b, rt r),
      tspine AS (SELECT t.batch_ord, t.event_type,
                        coalesce(rt.n_ref, 0) AS n_ref,
                        coalesce(ct.n_cur, 0) AS n_cur
                 FROM tps t
                 LEFT JOIN rt ON t.event_type = rt.event_type
                 LEFT JOIN ct ON ct.batch_ord = t.batch_ord
                   AND ct.event_type = t.event_type),
      spine AS (SELECT s.batch_ord, s.event_type, s.n_ref, s.n_cur, x.b
                FROM tspine s,
                     LATERAL (SELECT unnest(range(0, 20)) AS b) x),
      terms AS (SELECT s.batch_ord, s.event_type, s.n_ref, s.n_cur,
                       (coalesce(r.cref, 0) + 1) / CAST(s.n_ref + 20 AS DOUBLE) AS p,
                       (coalesce(c.ccur, 0) + 1) / CAST(s.n_cur + 20 AS DOUBLE) AS q
                FROM spine s
                LEFT JOIN ref r ON s.event_type = r.event_type AND s.b = r.b
                LEFT JOIN cur0 c ON s.batch_ord = c.batch_ord
                  AND s.event_type = c.event_type AND s.b = c.b),
      tn AS (SELECT batch_ord, event_type, n_ref, n_cur,
                    CAST(round((p - q) * ln(p / q) * 1000000000) AS BIGINT) AS term_nano
             FROM terms)
      SELECT batch_ord, event_type, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
             round(CAST(sum(term_nano) AS DOUBLE) / 1000000000, 6) AS psi,
             CAST(sum(term_nano) AS BIGINT) > 100000000 AS drifted
      FROM tn GROUP BY 1, 2""",
    // the serving state contract: complete-mode agg state = one row per
    // (probe, candidate) group — probes-so-far × (corpus − 1) per batch,
    // inputs the parity split
    "stream_probe_metrics" -> """
      WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
      p AS (SELECT vec_id FROM embeddings WHERE vec_id < 10),
      b0 AS (SELECT CAST(count(*) AS BIGINT) AS k FROM p WHERE vec_id % 2 = 0),
      b1 AS (SELECT CAST(count(*) AS BIGINT) AS k FROM p WHERE vec_id % 2 = 1)
      SELECT CAST(0 AS INTEGER) AS batch_ord, b0.k AS input_rows,
             b0.k * (n.n - 1) AS state_rows FROM b0, n
      UNION ALL
      SELECT CAST(1 AS INTEGER), b1.k, (b0.k + b1.k) * (n.n - 1)
      FROM b0, b1, n""",
    // the edge-expectation verdicts must equal the batch suite's
    // documents rows — same predicates, cumulative over the replay
    "stream_expectations" -> """
      WITH doc AS (
        SELECT CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS blank,
               CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS len,
               CAST(sum(CASE WHEN n_chars < 60 THEN 1 ELSE 0 END) AS BIGINT) AS floor60,
               CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS floor100
        FROM documents)
      SELECT 'text_nonblank' AS check_name, 'error' AS severity,
             blank AS n_violations FROM doc
      UNION ALL SELECT 'n_chars_consistent', 'error', len FROM doc
      UNION ALL SELECT 'text_len_ge_60', 'error', floor60 FROM doc
      UNION ALL SELECT 'text_len_ge_100', 'warn', floor100 FROM doc""",
    // the streamed quarantine audit = diag_quarantine's documents rows,
    // re-derived from the raw table (same predicates, same audit shape)
    "stream_quarantine" -> """
      WITH q AS (
        SELECT doc_id::VARCHAR AS row_key,
               'text_nonblank' AS check_name, 'error' AS severity
        FROM documents WHERE text IS NULL OR trim(text) = ''
        UNION ALL
        SELECT doc_id::VARCHAR, 'n_chars_consistent', 'error'
        FROM documents WHERE n_chars <> length(text)
        UNION ALL
        SELECT doc_id::VARCHAR, 'text_len_ge_60', 'error'
        FROM documents WHERE n_chars < 60
        UNION ALL
        SELECT doc_id::VARCHAR, 'text_len_ge_100', 'warn'
        FROM documents WHERE n_chars < 100)
      SELECT check_name, severity, CAST(count(*) AS BIGINT) AS n_rows,
             min(row_key) AS min_key, max(row_key) AS max_key
      FROM q GROUP BY 1, 2""",
    // the streamed as-of fold replayed as one ordered window pass: the
    // latest strictly-prior view per purchase under the (us, event_id)
    // total order — IGNORE NULLS last() over the 1-PRECEDING frame
    "stream_asof_enrich" -> """
      WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                        event_type, CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events
                 WHERE event_type IN ('view', 'purchase')),
      w AS (SELECT *,
                   last(CASE WHEN event_type = 'view' THEN us END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS v_us,
                   last(CASE WHEN event_type = 'view' THEN cents END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS v_cents
            FROM e)
      SELECT user_id, event_id, us AS p_us, v_us, v_cents
      FROM w WHERE event_type = 'purchase'""",

    // the streamed left-outer funnel drained to pairs then rolled up —
    // the oracle replays the identical per-view earliest-purchase left
    // join from the raw table (the sentinel joins nothing and is absent)
    "stream_funnel" -> """
      WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                        event_id, event_type
                 FROM events),
      v AS (SELECT user_id, event_id, us AS v_us FROM e WHERE event_type = 'view'),
      p AS (SELECT user_id, us AS p_us FROM e WHERE event_type = 'purchase'),
      j AS (SELECT v.user_id, v.event_id, v.v_us, min(p.p_us) AS p_us
            FROM v LEFT JOIN p ON v.user_id = p.user_id
                               AND p.p_us >= v.v_us
                               AND p.p_us <= v.v_us + 1800000000
            GROUP BY 1, 2, 3)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_views,
             CAST(sum(CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_conv,
             CAST(min(p_us - v_us) AS BIGINT) AS min_latency_us
      FROM j GROUP BY 1""",
    // the latency contract over the same parity split: two data batches,
    // phases reported and ordered, no negative durations — the raw
    // milliseconds stay un-oracled (wall-clock is not reproducible)
    "stream_probe_latency" -> """
      WITH p AS (SELECT vec_id FROM embeddings WHERE vec_id < 10),
      b0 AS (SELECT CAST(count(*) AS BIGINT) AS k FROM p WHERE vec_id % 2 = 0),
      b1 AS (SELECT CAST(count(*) AS BIGINT) AS k FROM p WHERE vec_id % 2 = 1)
      SELECT CAST(0 AS INTEGER) AS batch_ord, b0.k AS input_rows,
             true AS phases_reported, true AS addbatch_within_trigger,
             true AS durations_nonneg FROM b0
      UNION ALL
      SELECT CAST(1 AS INTEGER), b1.k, true, true, true FROM b1""",
    // the chain's per-batch two-operator state replay: batch 0 holds all
    // N dedup keys and one state row per MERGED session; batch 1 evicts
    // dedup to the 2·delay horizon and flushes sessions whose close
    // (last event + gap) ≤ the watermark; batch 2's re-deliveries are
    // raw-ts late-dropped or dedup-suppressed (no state movement);
    // batch 3's U per-user sentinels add U keys and U open sessions.
    "stream_session_dedup_metrics" -> sessionDedupMetricsSql(119),
    // the delay-vs-gap horizon sweep: the same parameterized replay at
    // delays on both sides of the 30-min session gap, one delay_min-keyed
    // block per configuration
    "stream_session_dedup_sweep" ->
      graft.streaming.SessionDedupStream.SweepDelays.map(d =>
        s"""SELECT CAST($d AS INTEGER) AS delay_min, m.*
      FROM (${sessionDedupMetricsSql(d)}) m""").mkString("\n      UNION ALL\n      "),
    "w7_attribution" -> """
      WITH w AS (
        SELECT event_type, value,
               last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr
        FROM events)
      SELECT coalesce(attr, 'direct') AS channel,
             count(*) AS n_purchases,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
      FROM w WHERE event_type = 'purchase'
      GROUP BY 1""",
    "w8_position_attribution" -> """
      WITH ev AS (
        SELECT user_id, event_id, ts, event_type, value,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS conv
        FROM events),
      pe AS (SELECT * FROM ev WHERE conv > 0),
      paths AS (
        SELECT user_id, conv,
               sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS k,
               max(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT) END) AS vcents
        FROM pe GROUP BY 1, 2),
      touches AS (
        SELECT user_id, conv, event_type AS channel, count(*) AS n_ch
        FROM pe WHERE event_type <> 'purchase' GROUP BY 1, 2, 3),
      cr AS (
        SELECT t.channel,
               CAST(round(p.vcents * 10000.0 * t.n_ch / p.k) AS BIGINT) AS micros
        FROM touches t JOIN paths p ON t.user_id = p.user_id AND t.conv = p.conv
        UNION ALL
        SELECT 'direct' AS channel, vcents * 10000 AS micros
        FROM paths WHERE k = 0)
      SELECT channel, count(*) AS n_paths, sum(micros) / 1000000.0 AS credit
      FROM cr GROUP BY channel""",
    "w5_retention" -> """
      WITH ev AS (SELECT DISTINCT user_id,
                         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
                  FROM events),
      c AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY user_id)
      SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_day,
             CAST(date_diff('day', c.cohort, ev.day) AS INTEGER) AS day_offset,
             count(DISTINCT ev.user_id) AS n_users
      FROM ev JOIN c ON ev.user_id = c.user_id
      GROUP BY 1, 2""",
    "j8_interpolate_asof" -> """
      WITH curve AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us, min(value) AS v
        FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      probes AS (
        SELECT event_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events WHERE event_type = 'purchase'),
      br AS (
        SELECT p.event_id, p.day, p.us,
               (SELECT max(c.us) FROM curve c WHERE c.day = p.day AND c.us <= p.us) AS pus,
               (SELECT min(c.us) FROM curve c WHERE c.day = p.day AND c.us > p.us) AS nus
        FROM probes p)
      SELECT b.event_id,
             round(CASE WHEN pus IS NULL THEN nv.v
                        WHEN nus IS NULL THEN pv.v
                        ELSE pv.v + (nv.v - pv.v) * (b.us - pus) / (nus - pus)
                   END, 6) AS interp_value
      FROM br b
      LEFT JOIN curve pv ON b.day = pv.day AND b.pus = pv.us
      LEFT JOIN curve nv ON b.day = nv.day AND b.nus = nv.us""",
    "stream_hourly_agg" -> """
      SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00') AS hour_start,
             event_type, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
      FROM events GROUP BY 1, 2""",
    "j9_nearest_asof" -> """
      WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_probe
        FROM events WHERE event_type IN ('view', 'purchase')),
      w AS (
        SELECT *,
               max(CASE WHEN is_probe = 0 THEN us END)
                 OVER (PARTITION BY user_id ORDER BY us, is_probe, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pus,
               min(CASE WHEN is_probe = 0 THEN us END)
                 OVER (PARTITION BY user_id ORDER BY us, is_probe, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nus
        FROM ev),
      n AS (
        SELECT event_id, us,
               CASE WHEN pus IS NULL THEN nus
                    WHEN nus IS NULL THEN pus
                    WHEN us - pus <= nus - us THEN pus
                    ELSE nus END AS nearest_us
        FROM w WHERE is_probe = 1)
      SELECT event_id, nearest_us, abs(nearest_us - us) AS delta_us FROM n""",
    "stream_topk" -> """
      WITH h AS (
        SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00')
                 AS hour_start,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT hour_start, event_type, n,
             CAST(row_number() OVER (PARTITION BY hour_start
               ORDER BY n DESC, event_type) AS INTEGER) AS rk
      FROM h QUALIFY rk <= 3""",
    "stream_sliding_agg" -> """
      WITH e AS (SELECT event_type, value,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      w AS (SELECT event_type, value,
                   (us // 900000000) * 900000000 - k * 900000000 AS start_us
            FROM e, LATERAL (SELECT unnest(range(0, 4)) AS k) r)
      SELECT strftime(make_timestamp(start_us), '%Y-%m-%d %H:%M') AS win_start,
             event_type, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
      FROM w GROUP BY 1, 2""",
    "cdc_scd2" -> scd2Sql,
    // the as-of read shares the SCD2 CTEs verbatim — one SQL definition of
    // the dimension; the cutoff list is a 3-row VALUES joined on interval
    // containment (DuckDB's planner handles the tiny cross product)
    // the purge audit replayed from the raw table: same bucket map, same
    // md5 forget rule — the rewritten layout must census identically
    "cdc_forget_keys" -> forgetKeysOracleSql,
    // the STREAMED erasure must land on the identical purged layout: one
    // shared SQL string with the batch purge (the two arrival batches
    // partition the same md5 forget set — arrival batching changes
    // nothing about what ends up erased)
    "stream_forget_keys" -> forgetKeysOracleSql,
    "cdc_asof_snapshot" -> s"""
      WITH $scd2Ctes,
      c(asof_us) AS (VALUES (1704672000000000), (1705363200000000),
                            (1706054400000000))
      SELECT strftime(make_timestamp(c.asof_us), '%Y-%m-%d') AS asof_day,
             v.user_id, CAST(v.version AS INTEGER) AS version, v.tier,
             v.us AS valid_from_us
      FROM v, c
      WHERE v.us <= c.asof_us AND c.asof_us < v.valid_to_us""",
    // the streaming SCD2 must reproduce the batch dimension exactly —
    // same oracle by construction
    "stream_scd2" -> scd2Sql,
    "cdc_merge_upsert" -> """
      WITH e AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      base AS (
        SELECT user_id, us, event_id, cents, FALSE AS tomb, CAST(0 AS BIGINT) AS is_chg
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY us DESC, event_id DESC) AS rn
              FROM e WHERE us < 1705708800000000 AND event_type <> 'error')
        WHERE rn = 1),
      delta AS (
        SELECT user_id, us, event_id, cents, event_type = 'error' AS tomb,
               CAST(1 AS BIGINT) AS is_chg
        FROM e WHERE us >= 1705708800000000),
      merged AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY us DESC, event_id DESC) AS rn,
               CAST(sum(is_chg) OVER (PARTITION BY user_id) AS BIGINT) AS n_changes
        FROM (SELECT * FROM base UNION ALL SELECT * FROM delta))
      SELECT user_id, cents, us AS last_us, is_chg = 1 AS updated, n_changes
      FROM merged WHERE rn = 1 AND NOT tomb""",
  )
}
