"""Streaming section of the declared query registry: every ``stream_*``
query, each a drained Structured Streaming job from
``streaming/jobs.py`` whose oracle is its batch equivalent."""

from __future__ import annotations

from .core import (
    _EVTS,
    _QUALITY_EXPR,
    _QUALITY_MEASURES_CTE,
    _register,
    _SESSION_WINDOW_SQL,
    _WORDS_CTE,
)


@_register(
    "stream_wordcount",
    _WORDS_CTE + "SELECT word, count(*) AS cnt FROM words GROUP BY word",
    note="Structured Streaming over the bounded fixture == batch result",
)
def _stream_wordcount(spark, sf):
    from ...streaming.jobs import stream_wordcount

    return stream_wordcount(spark, sf)


@_register(
    "stream_kvtext_wordcount",
    _WORDS_CTE + "SELECT word, count(*) AS cnt FROM words GROUP BY word",
    note="the custom kvtext source driven by Structured Streaming "
    "(partition-per-new-file microbatches through the Python "
    "DataSourceStreamReader); bounded drain == batch wordcount",
)
def _stream_kvtext_wordcount(spark, sf):
    from ...streaming.jobs import stream_kvtext_wordcount

    return stream_kvtext_wordcount(spark, sf)


@_register(
    "stream_sessionize",
    _SESSION_WINDOW_SQL,
    note="streaming session_window state; bounded input == batch session_window_agg",
)
def _stream_sessionize(spark, sf):
    from ...streaming.jobs import stream_sessionize

    return stream_sessionize(spark, sf)


@_register(
    "stream_dedup_state",
    """
    SELECT md5(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    note="native streaming groupBy(min, count) dedup state (r13: replaced "
    "the applyInPandasWithState form -- same per-key state, no Python "
    "boundary); bounded final state == dedup_exact",
)
def _stream_dedup_state(spark, sf):
    from ...streaming.jobs import stream_dedup_state

    return stream_dedup_state(spark, sf)


@_register(
    "stream_dedup_incremental",
    None,
    note="streaming ingest dedup (continuous-crawl shape): arriving docs "
    "sketched row-locally per microbatch (foreachBatch) and LSH-probed "
    "against the persisted bucketed MinHash index; bounded drain equals the "
    "batch incremental probe (asserted in tests/test_streaming.py) -> "
    "rows-only",
)
def _stream_dedup_incremental(spark, sf):
    from ...streaming.jobs import stream_dedup_incremental

    return stream_dedup_incremental(spark, sf)


@_register(
    "stream_index_ingest",
    """
    SELECT doc_id, TRUE AS ingest_match
    FROM documents WHERE doc_id % 10 = 0
    """,
    note="the FULL growing-corpus ingest lifecycle as a stream: each "
    "microbatch LSH-probed against the persisted index, survivors "
    "appended back inside the same foreachBatch, so later batches "
    "dedup against earlier batches' survivors with no re-index; "
    "verdict emitted AS DATA (per-doc stream == sequential-replay "
    "agreement, oracle pins every row TRUE); slice order pinned by "
    "staged mtimes + maxFilesPerTrigger=1; cross-batch dedup forced "
    "on a crafted corpus in tests/test_streaming.py; staged once per "
    "fixture generation (_DONE_FP)",
)
def _stream_index_ingest(spark, sf):
    from ...streaming.jobs import stream_index_ingest

    return stream_index_ingest(spark, sf)


@_register(
    "stream_dedup_watermarked",
    f"""
    SELECT DISTINCT user_id, event_type FROM {_EVTS}
    """,
    note="native dropDuplicatesWithinWatermark dedup (bounded state by the "
    "duplicate horizon); key-only projection makes the bounded drain equal "
    "SELECT DISTINCT; eviction semantics exercised in tests/test_streaming.py",
)
def _stream_dedup_watermarked(spark, sf):
    from ...streaming.jobs import stream_dedup_watermarked

    return stream_dedup_watermarked(spark, sf)


@_register(
    "stream_static_join",
    """
    SELECT c_mktsegment, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    note="stateless stream-static broadcast join == batch join on bounded input",
)
def _stream_static_join(spark, sf):
    from ...streaming.jobs import stream_static_join

    return stream_static_join(spark, sf)


@_register(
    "stream_tumbling_window",
    f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM {_EVTS} GROUP BY date_trunc('hour', ts), event_type
    """,
    note="streaming window agg over bounded fixture == batch result",
)
def _stream_tumbling_window(spark, sf):
    from ...streaming.jobs import stream_tumbling_window

    return stream_tumbling_window(spark, sf)


@_register(
    "stream_tumbling_window_watermarked",
    f"""
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
    agg AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n_events, round(sum(value), 2) AS total_value
      FROM e GROUP BY 1, 2)
    SELECT window_start, event_type, n_events, total_value
    FROM agg
    WHERE window_start + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 30 MINUTE FROM e)
    """,
    note=(
        "unbounded posture: watermark + append mode + parquet sink, sink read "
        "back; emits exactly the windows closed by the final watermark "
        "(end <= max ts - delay), oracle applies the same cutoff"
    ),
)
def _stream_tumbling_window_watermarked(spark, sf):
    from ...streaming.jobs import stream_tumbling_window_watermarked

    return stream_tumbling_window_watermarked(spark, sf)


@_register(
    "stream_sliding_window",
    f"""
    SELECT CAST(to_timestamp(s) AS TIMESTAMP) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM (SELECT event_type, value,
           unnest([CAST(floor(epoch(ts)/1800)*1800 AS BIGINT),
                   CAST(floor(epoch(ts)/1800)*1800 - 1800 AS BIGINT)]) AS s
          FROM {_EVTS})
    GROUP BY s, event_type
    """,
    note="streaming hop-window agg over bounded fixture == batch sliding_window_agg",
)
def _stream_sliding_window(spark, sf):
    from ...streaming.jobs import stream_sliding_window

    return stream_sliding_window(spark, sf)


@_register(
    "stream_stream_join",
    """
    WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
               FROM events)
    SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id
    FROM e c
    JOIN e v ON c.user_id = v.user_id
            AND c.event_type = 'click' AND v.event_type = 'view'
            AND v.ts BETWEEN c.ts - INTERVAL 30 MINUTE AND c.ts
    """,
    note="watermarked stream-stream inner join (attribution shape); "
    "bounded drain == batch self-join oracle",
)
def _stream_stream_join(spark, sf):
    from ...streaming.jobs import stream_stream_join

    return stream_stream_join(spark, sf)


@_register(
    "stream_stream_join_left",
    """
    WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
               FROM events),
    c AS (SELECT user_id, event_id AS click_id, ts AS click_ts FROM e
          WHERE event_type = 'click'),
    v AS (SELECT user_id AS vuid, event_id AS view_id, ts AS view_ts FROM e
          WHERE event_type = 'view'),
    j AS (SELECT c.user_id, c.click_id, c.click_ts, v.view_id
          FROM c LEFT JOIN v
            ON c.user_id = v.vuid
           AND v.view_ts BETWEEN c.click_ts - INTERVAL 30 MINUTE AND c.click_ts),
    wm AS (SELECT least((SELECT max(ts) FROM e WHERE event_type = 'click'),
                        (SELECT max(ts) FROM e WHERE event_type = 'view'))
                  - INTERVAL 60 MINUTE AS w)
    SELECT user_id, click_id, view_id FROM j, wm
    WHERE view_id IS NOT NULL OR click_ts < w
    """,
    note="watermarked stream-stream LEFT OUTER join; null rows only for "
    "clicks the joint watermark closed (min of per-side watermarks -- "
    "each side watermarks its own filtered event stream)",
)
def _stream_stream_join_left(spark, sf):
    from ...streaming.jobs import stream_stream_join_left

    return stream_stream_join_left(spark, sf)


@_register(
    "stream_foreachbatch_idempotent",
    "SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type",
    note="foreachBatch exactly-once file sink: batch-id keyed dynamic "
    "partition overwrite; the declared run REPLAYS the full drain and "
    "counts must still match the batch oracle",
)
def _stream_foreachbatch_idempotent(spark, sf):
    from ...streaming.jobs import stream_foreachbatch_idempotent

    return stream_foreachbatch_idempotent(spark, sf)


@_register(
    "stream_session_window_watermarked",
    f"""
    SELECT * FROM ({_SESSION_WINDOW_SQL})
    WHERE session_end <= (SELECT max(CAST(ts AS TIMESTAMP))
                          - INTERVAL 60 MINUTE FROM events)
    """,
    note="unbounded sessionization posture: watermark + session_window "
    "+ append mode; sink holds sessions the watermark closed "
    "(last event <= max ts - delay - gap)",
)
def _stream_session_window_watermarked(spark, sf):
    from ...streaming.jobs import stream_session_window_watermarked

    return stream_session_window_watermarked(spark, sf)


@_register(
    "stream_quality_filter",
    f"""
    WITH {_QUALITY_MEASURES_CTE.lstrip().rstrip()}
    SELECT doc_id, n_tokens,
           round(n_punct * 1.0 / greatest(n_chars, 1), 4) AS punct_ratio,
           round(stop_hits * 1.0 / greatest(n_tokens, 1), 4) AS stopword_ratio,
           {_QUALITY_EXPR} AS quality
    FROM m
    WHERE {_QUALITY_EXPR} >= 0.5
    """,
    note="batch quality_score operator applied UNCHANGED to a stream "
    "(map-only => stateless append mode, no state store/watermark); "
    "bounded drain == the filtered batch result",
)
def _stream_quality_filter(spark, sf):
    from ...streaming.jobs import stream_quality_filter

    return stream_quality_filter(spark, sf)


@_register(
    "stream_topk_windowed",
    f"""
    WITH counts AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM {_EVTS} GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events,
           CAST(row_number() OVER (PARTITION BY window_start
                ORDER BY n_events DESC, event_type) AS INT) AS rnk
    FROM counts
    QUALIFY rnk <= 3
    """,
    note="streaming trending-now: unbounded tier maintains windowed "
    "counts, rank tier is a bounded batch query over the drained "
    "aggregate (windows x type-alphabet sized)",
)
def _stream_topk_windowed(spark, sf):
    from ...streaming.jobs import stream_topk_windowed

    return stream_topk_windowed(spark, sf)


@_register(
    "stream_session_timeout",
    f"""
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
               FROM events),
    lg AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM lg),
    sess AS (
      SELECT user_id, sid, min(ts) AS session_start,
             max(ts) AS session_end, CAST(count(*) AS BIGINT) AS n_events
      FROM s GROUP BY 1, 2),
    mx AS (SELECT max(epoch_us(ts)) AS mxus FROM e),
    lastsess AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY 1)
    SELECT user_id, session_start, session_end, n_events,
           CASE WHEN sid <> last_sid THEN 'gap' ELSE 'timeout' END
             AS closed_by
    FROM sess JOIN lastsess USING (user_id), mx
    WHERE sid <> last_sid
       OR (epoch_us(session_end) + 1800000000) // 1000
          < mxus // 1000 - 1800000
    """,
    note="timer-driven session closure (r13: native session_window "
    "drain + the declared emission rule as a batch post-pass -- no "
    "Python state boundary): in-stream-closed sessions emit 'gap', "
    "the trailing open session emits 'timeout' iff the final "
    "watermark (max - 30min, ms granularity) passes its timer at "
    "last+gap; oracle = batch sessions minus the withheld tail",
)
def _stream_session_timeout(spark, sf):
    from ...streaming.jobs import stream_session_timeout

    return stream_session_timeout(spark, sf)


@_register(
    "stream_cdc_upsert",
    f"""
    WITH base AS (SELECT event_id, ts, user_id, event_type, value,
                         0 AS version
                  FROM {_EVTS}),
    upd AS (SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id,
                   event_type, round(value * 2, 2) AS value,
                   1 AS version
            FROM {_EVTS} WHERE event_id % 10 = 0),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
    r AS (SELECT *, row_number() OVER (PARTITION BY event_id
                                       ORDER BY version DESC, ts DESC)
                      AS rnk
          FROM u)
    SELECT event_id, ts, user_id, event_type,
           round(value, 2) AS value, version
    FROM r WHERE rnk = 1
    """,
    note="MERGE INTO as a stream: change-batch files upsert into a "
    "persisted parquet target inside foreachBatch by versioned "
    "copy-on-write (newest complete version + batch -> "
    "latest-(version, ts)-wins -> target/v<batch_id>) -- "
    "cdc_latest_wins' kernel made continuous. Latest-wins is "
    "associative over batches, so the drained target equals the "
    "batch oracle regardless of microbatch slicing "
    "(maxFilesPerTrigger=2 forces several), and a replayed batch "
    "whose version is already complete is skipped (restart safety)",
)
def _stream_cdc_upsert(spark, sf):
    from ...streaming.jobs import stream_cdc_upsert

    return stream_cdc_upsert(spark, sf)


@_register(
    "stream_daily_active_users",
    f"""
    SELECT date_trunc('day', ts) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau
    FROM {_EVTS} GROUP BY 1
    """,
    note="streaming exact DAU, bounded state: a watermarked (1 day) "
    "streaming dropDuplicates on (day, user_id) drained in append mode, "
    "then a per-day count over the deduped pairs (streaming rejects "
    "count_distinct; the watermark evicts closed days, so state is "
    "~2 days of users); bounded drain == batch count(DISTINCT user_id)",
)
def _stream_daily_active_users(spark, sf):
    from ...streaming.jobs import stream_daily_active_users

    return stream_daily_active_users(spark, sf)


@_register(
    "stream_hll_dau",
    None,
    note="streaming approximate DAU via per-day approx_count_distinct "
    "(ONE constant-size HLL sketch per day as streaming state -- the "
    "bounded-at-any-cardinality scale path next to "
    "stream_daily_active_users' exact watermarked-dedup form); "
    "approximate by design -> rows-only, relative error bounded in "
    "RECALL.json",
)
def _stream_hll_dau(spark, sf):
    from ...streaming.jobs import stream_hll_dau

    return stream_hll_dau(spark, sf)
