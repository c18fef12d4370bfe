"""mixed section of the declared query registry -- bodies verbatim
from the monolithic plans/registry.py (round-8 maintainability split;
identical registry() output, zero plan changes)."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ...operators import (  # noqa: F401
    analytics,
    dedup,
    ml,
    multimodal,
    relational,
    similarity,
    temporal,
    text,
)
from ...sources.tables import load_table  # noqa: F401
from .core import (  # noqa: F401
    _EVTS,
    _QUALITY_EXPR,
    _QUALITY_MEASURES_CTE,
    _TOKS,
    _WORDS_CTE,
    _register,
    _t,
)
from .jobapi import _kv_documents  # noqa: F401
from .multimodal import _PAYLOAD_CTE  # noqa: F401
from .relational import _SPLIT_A, _SPLIT_B, _orders_split  # noqa: F401
from .temporal import _SESSION_WINDOW_SQL  # noqa: F401


# ------------------------------------------- source round-trips (M1)


@_register(
    "source_orc_roundtrip",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(length(text)) AS BIGINT) AS total_len
    FROM documents GROUP BY lang ORDER BY lang
    """,
    note="documents staged to ORC (second columnar container: stripes, "
    "pushdown, pruning) and read back via the self-describing footer; "
    "content-sum oracle over the original parquet",
)
def _source_orc_roundtrip(spark, sf):
    from ...sources.roundtrip import read_documents_orc

    df = read_documents_orc(spark, sf)
    return (
        df.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_len"),
        )
        .orderBy("lang")
    )


@_register(
    "source_csv_roundtrip",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(length(text)) AS BIGINT) AS total_len
    FROM documents GROUP BY lang ORDER BY lang
    """,
    note="documents staged to quoted CSV, read back with declared "
    "schema; content-sum oracle over the original parquet",
)
def _source_csv_roundtrip(spark, sf):
    from ...sources.roundtrip import read_documents_csv

    df = read_documents_csv(spark, sf)
    return (
        df.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_len"),
        )
        .orderBy("lang")
    )


@_register(
    "source_kvtext_datasource",
    """
    SELECT CAST(doc_id AS VARCHAR) AS key,
           CAST(length(text) AS BIGINT) AS n_chars,
           substring(text, 1, 16) AS head
    FROM documents
    """,
    note="the reference's key\\tvalue format as a REGISTERED Spark "
    "data source (Spark 4 Python DataSource API, format('kvtext')): "
    "partition-per-file distributed scan, streamed line reads; "
    "content-exact roundtrip oracle over the original parquet",
)
def _source_kvtext_datasource(spark, sf):
    from ...sources.kvtext_datasource import register_kvtext
    from ..jobs import documents_kv_dir

    in_dir = documents_kv_dir(spark, sf)
    register_kvtext(spark)
    kv = spark.read.format("kvtext").load(str(in_dir))
    return kv.select(
        "key",
        F.length("value").cast("bigint").alias("n_chars"),
        F.substring("value", 1, 16).alias("head"),
    )


@_register(
    "source_jsonl_roundtrip",
    """
    SELECT source, count(*) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(length(text)) AS BIGINT) AS total_len
    FROM documents GROUP BY source ORDER BY source
    """,
    note="documents staged to JSON-lines, read back with declared schema",
)
def _source_jsonl_roundtrip(spark, sf):
    from ...sources.roundtrip import read_documents_jsonl

    df = read_documents_jsonl(spark, sf)
    return (
        df.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum(F.length("text")).alias("total_len"),
        )
        .orderBy("source")
    )


@_register(
    "source_partitioned_pruned",
    """
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE event_type = 'click' GROUP BY event_type
    """,
    note="events staged partitioned by event_type; the filter prunes "
    "partition directories at the scan (PartitionFilters plan-asserted)",
)
def _source_partitioned_pruned(spark, sf):
    from ...sources.roundtrip import read_events_partitioned

    df = read_events_partitioned(spark, sf).filter(F.col("event_type") == "click")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@_register(
    "sink_compaction_roundtrip",
    """
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note="64-tiny-file layout compacted to block-sized files (round-"
    "robin repartition, file count from source bytes); content oracle",
)
def _sink_compaction_roundtrip(spark, sf):
    from ...sources.roundtrip import compacted_events

    df = compacted_events(spark, sf)
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


@_register(
    "sink_dynamic_overwrite",
    """
    WITH d AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
             event_type, value
      FROM events),
    mx AS (SELECT max(event_date) AS maxd FROM d)
    SELECT CAST(event_date AS TIMESTAMP) AS event_date,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(CASE WHEN event_date = (SELECT maxd FROM mx)
                          THEN value * 2 ELSE value END), 2)
             AS total_value
    FROM d GROUP BY event_date
    """,
    note="dynamic-partition-overwrite round-trip (the idempotent "
    "daily-rerun write pattern): last day's slice recomputed "
    "(values doubled, derived from the ORIGINAL fixture so reruns "
    "are idempotent) and overwritten with per-write "
    "partitionOverwriteMode=dynamic -- the oracle verifies every "
    "untouched day survived by content",
)
def _sink_dynamic_overwrite(spark, sf):
    from ...sources.roundtrip import dynamic_overwrite_events

    df = dynamic_overwrite_events(spark, sf)
    return (
        df.groupBy("event_date")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        # day shipped as midnight TIMESTAMP (the window_twap
        # discipline): the comparator renders DATE differently across
        # engines
        .select(
            F.col("event_date").cast("timestamp").alias("event_date"),
            "n_events",
            "total_value",
        )
    )


@_register(
    "text_feature_hashing",
    f"""
    {_WORDS_CTE},
    f AS (SELECT doc_id,
                 CAST(CAST(concat('0x', substr(md5(word), 1, 4)) AS BIGINT) % 64
                      AS INT) AS dim,
                 CASE WHEN CAST(concat('0x', substr(md5(word), 5, 1)) AS BIGINT) % 2 = 0
                      THEN 1 ELSE -1 END AS sign
          FROM words)
    SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS feat_val
    FROM f GROUP BY doc_id, dim
    """,
    note="hashing-trick bag-of-words vectors, sparse long form; "
    "md5-derived dims/signs are engine-portable integers",
)
def _text_feature_hashing(spark, sf):
    return text.text_feature_hashing(_t(spark, sf, "documents"))


@_register(
    "sketch_countmin_topk",
    _WORDS_CTE
    + """
    SELECT word, count(*) AS cnt,
           CAST(row_number() OVER (ORDER BY count(*) DESC, word) AS INT) AS rnk
    FROM words GROUP BY word HAVING count(*) >= 20
    ORDER BY cnt DESC, word LIMIT 25
    """,
    note="count-min-sketch-accelerated heavy hitters: CMS prunes the "
    "vocabulary (one-sided error -> no false negatives), exact "
    "re-count on candidates only, so the result hash-matches the "
    "plain GROUP BY oracle",
)
def _sketch_countmin_topk(spark, sf):
    return text.countmin_heavy_hitters(_t(spark, sf, "documents"))


@_register(
    "sql_null_aware_anti",
    """
    SELECT 'null_free' AS variant, count(*) AS n FROM lineitem
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    UNION ALL
    SELECT 'null_bearing' AS variant, count(*) AS n FROM lineitem
    WHERE l_suppkey NOT IN (SELECT CASE WHEN s_acctbal < 0 THEN NULL
                                        ELSE s_suppkey END
                            FROM supplier)
    """,
    note="null-aware anti join semantics: NOT IN over a NULL-bearing "
    "subquery yields UNKNOWN for every probe row (count 0), vs the "
    "null-free variant's plain anti join -- the Catalyst "
    "NullAwareAntiJoin path, agreed with the oracle engine",
)
def _sql_null_aware_anti(spark, sf):
    from ..sql import run_sql

    return run_sql(
        spark,
        sf,
        """
        SELECT 'null_free' AS variant, count(*) AS n FROM lineitem
        WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        UNION ALL
        SELECT 'null_bearing' AS variant, count(*) AS n FROM lineitem
        WHERE l_suppkey NOT IN (SELECT CASE WHEN s_acctbal < 0 THEN NULL
                                            ELSE s_suppkey END
                                FROM supplier)
        """,
    )


@_register(
    "time_heatmap",
    f"""
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hour_of_day,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM {_EVTS}
    GROUP BY 1, 2
    """,
    note="dow x hour activity heatmap; 7x24-bounded output",
)
def _time_heatmap(spark, sf):
    from ...operators import analytics

    return analytics.time_heatmap(_t(spark, sf, "events"))


@_register(
    "hourly_anomaly_zscore",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_hour,
             count(*) AS n_events
      FROM {_EVTS} GROUP BY 1, 2),
    stats AS (
      SELECT event_type, count(*) AS n, sum(n_events) AS sx,
             sum(n_events * n_events) AS sxx
      FROM hourly GROUP BY event_type
      HAVING count(*) > 1
         AND count(*) * sum(n_events * n_events)
             - sum(n_events) * sum(n_events) > 0)
    SELECT event_type, CAST(bucket_hour AS TIMESTAMP) AS bucket_hour, n_events,
           round((n_events - sx * 1.0 / n)
                 / sqrt((sxx - sx * 1.0 * sx / n) / (n - 1)), 4) AS zscore
    FROM hourly JOIN stats USING (event_type)
    WHERE abs(round((n_events - sx * 1.0 / n)
                    / sqrt((sxx - sx * 1.0 * sx / n) / (n - 1)), 4)) >= 2.5
    """,
    note="hourly count anomalies vs per-type moments (z >= 2.5); "
    "stats side is one row per type, broadcast",
)
def _hourly_anomaly_zscore(spark, sf):
    from ...operators import analytics

    return analytics.hourly_anomaly_zscore(_t(spark, sf, "events"))


@_register(
    "retention_cohorts",
    f"""
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
      FROM {_EVTS} GROUP BY user_id),
    active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM {_EVTS})
    SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(date_diff('day', cohort_week, active_week) / 7 AS INT)
               AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM active JOIN first_seen USING (user_id)
    GROUP BY 1, 2
    """,
    note="weekly retention cohorts; output bounded by weeks^2",
)
def _retention_cohorts(spark, sf):
    from ...operators import analytics

    return analytics.retention_cohorts(_t(spark, sf, "events"))


@_register(
    "funnel_conversion",
    f"""
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
    s1 AS (SELECT user_id, min(ts) AS t FROM e
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'view' AND e.ts >= s1.t GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'click' AND e.ts >= s2.t GROUP BY e.user_id),
    s4 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s3 ON e.user_id = s3.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= s3.t GROUP BY e.user_id)
    SELECT 'L1_signup' AS stage, count(*) AS n_users FROM s1
    UNION ALL SELECT 'L2_view', count(*) FROM s2
    UNION ALL SELECT 'L3_click', count(*) FROM s3
    UNION ALL SELECT 'L4_purchase', count(*) FROM s4
    """,
    note="strict-order conversion funnel via min-ts chaining; "
    "fixed plan depth, all shuffles keyed on user_id",
)
def _funnel_conversion(spark, sf):
    from ...operators import analytics

    return analytics.funnel_conversion(_t(spark, sf, "events"))


@_register(
    "funnel_time_to_convert",
    f"""
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
    s1 AS (SELECT user_id, min(ts) AS t FROM e
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'view' AND e.ts >= s1.t GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'click' AND e.ts >= s2.t GROUP BY e.user_id),
    s4 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s3 ON e.user_id = s3.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= s3.t GROUP BY e.user_id),
    d AS (
      SELECT 'L1_signup->L2_view' AS step,
             (epoch_us(s2.t) - epoch_us(s1.t)) / 1000000.0 AS delay_s
      FROM s1 JOIN s2 USING (user_id)
      UNION ALL
      SELECT 'L2_view->L3_click',
             (epoch_us(s3.t) - epoch_us(s2.t)) / 1000000.0
      FROM s2 JOIN s3 USING (user_id)
      UNION ALL
      SELECT 'L3_click->L4_purchase',
             (epoch_us(s4.t) - epoch_us(s3.t)) / 1000000.0
      FROM s3 JOIN s4 USING (user_id))
    SELECT step, CAST(count(*) AS BIGINT) AS n_users,
           round(quantile_cont(delay_s, 0.5), 4) AS p50_s,
           round(quantile_cont(delay_s, 0.9), 4) AS p90_s
    FROM d GROUP BY step
    """,
    note="time-to-convert distribution per funnel step (latency "
    "companion to funnel_conversion): min-ts chaining reused "
    "verbatim, exact integer-micros delays, median/p90 through the "
    "distributed grouped order-statistic kernel (no per-group "
    "buffer)",
)
def _funnel_time_to_convert(spark, sf):
    from ...operators import analytics

    return analytics.funnel_time_to_convert(_t(spark, sf, "events"))


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
    "source_schema_evolution",
    """
    SELECT event_type, count(*) AS n_events,
           CAST(count(*) FILTER (WHERE event_id % 2 = 1 AND props IS NOT NULL)
                AS BIGINT) AS n_with_props
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note="mergeSchema read over batches written before/after a column "
    "was added; old rows surface NULL for the new column (oracle "
    "counts props on the odd half exactly as the query does, robust "
    "to fixtures with natural NULL props)",
)
def _source_schema_evolution(spark, sf):
    from ...sources.roundtrip import read_events_schema_evolved

    df = read_events_schema_evolved(spark, sf)
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count("props").alias("n_with_props"),
        )
        .orderBy("event_type")
    )


@_register(
    "dedup_edit_distance",
    """
    WITH keys AS (
      SELECT doc_id, lower(substr(text, 1, 24)) AS s FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
    FROM keys a JOIN keys b ON a.doc_id < b.doc_id
    WHERE abs(length(a.s) - length(b.s)) <= 2
      AND levenshtein(a.s, b.s) <= 2
    """,
    note="PassJoin pigeonhole-segment filter (provably complete) + "
    "exact levenshtein verify on candidates only; oracle brute-forces "
    "all pairs — equal output proves the filtered plan exact",
)
def _dedup_edit_distance(spark, sf):
    return dedup.dedup_edit_distance(_t(spark, sf, "documents"))


@_register(
    "activity_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    isl AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
      FROM days
    )
    SELECT user_id,
           CAST(min(day) AS TIMESTAMP) AS streak_start,
           CAST(max(day) AS TIMESTAMP) AS streak_end,
           CAST(count(*) AS INTEGER) AS streak_days
    FROM isl
    GROUP BY user_id, anchor
    """,
    note="gaps-and-islands consecutive-day streaks; island anchor = "
    "day - row_number, one user-keyed shuffle end to end",
)
def _activity_streaks(spark, sf):
    return temporal.activity_streaks(_t(spark, sf, "events"))


@_register(
    "stratified_split",
    f"""
    SELECT lang, source,
           CASE
             WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)
                  < '{text.hash_threshold(text.SPLIT_TRAIN)}' THEN 'train'
             WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)
                  < '{text.hash_threshold(text.SPLIT_VAL)}' THEN 'val'
             ELSE 'test'
           END AS split,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1, 2, 3
    """,
    note="deterministic md5-hash train/val/test split audited per "
    "(lang, source) stratum; same hash-threshold encoding as "
    "sample_deterministic",
)
def _stratified_split(spark, sf):
    return text.stratified_split(_t(spark, sf, "documents"))


@_register(
    "embedding_gram",
    """
    WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    idx AS (SELECT CAST(range AS INTEGER) AS i FROM range(1, 65)),
    cells AS (
      SELECT ia.i - 1 AS i, ja.i - 1 AS j, v[ia.i] * v[ja.i] AS prod
      FROM e, idx ia, idx ja
      WHERE ia.i <= len(v) AND ja.i <= len(v)
    )
    SELECT i, j, round(sum(prod), 6) AS gram
    FROM cells GROUP BY 1, 2
    """,
    note="distributed X^T X: per-task numpy GEMM partials -> one "
    "grouped SUM; shuffle is d^2 rows per task regardless of corpus "
    "size (oracle unrolls the outer product row-wise)",
)
def _embedding_gram(spark, sf):
    return similarity.embedding_gram(_t(spark, sf, "embeddings"))


@_register(
    "embedding_pca_project",
    """
    WITH f AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    mom AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM f),
    e AS (
      SELECT n, sx / n AS mx, sy / n AS my,
             sxx / n - (sx / n) * (sx / n) AS a,
             syy / n - (sy / n) * (sy / n) AS c,
             sxy / n - (sx / n) * (sy / n) AS b
      FROM mom),
    ax AS (
      SELECT mx, my,
             cos(atan2(2.0 * b, a - c) / 2.0) AS cs,
             sin(atan2(2.0 * b, a - c) / 2.0) AS sn
      FROM e),
    sgn AS (
      SELECT mx, my, cs, sn,
             CASE WHEN cs < 0 OR (cs = 0 AND sn < 0)
                  THEN -1.0 ELSE 1.0 END AS s1,
             CASE WHEN -sn < 0 OR (sn = 0 AND cs < 0)
                  THEN -1.0 ELSE 1.0 END AS s2
      FROM ax),
    p AS (
      SELECT f.vec_id,
             round(s1 * ((f.x - mx) * cs + (f.y - my) * sn), 6) AS p1v,
             round(s2 * ((f.y - my) * cs - (f.x - mx) * sn), 6) AS p2v
      FROM f CROSS JOIN sgn)
    SELECT vec_id, CAST(0 AS INTEGER) AS pc, p1v AS value FROM p
    UNION ALL
    SELECT vec_id, CAST(1 AS INTEGER) AS pc, p2v AS value FROM p
    """,
    note="HASH-ORACLED since round 10 (VERDICT r09 item 5): the "
    "declared query is the closed-form 2-dim PCA projection -- a 2x2 "
    "covariance eigendecomposition (theta = atan2(2b, a-c)/2) runs "
    "as pure Spark expressions with the eigenvector sign pinned "
    "(x-component non-negative), so the BLAS-arbitrary sign/rotation "
    "that forced rows-only is gone and DuckDB replays the identical "
    "arithmetic. The general top-k numpy form stays in "
    "operators/similarity.embedding_pca_project with parity pinned "
    "in tests/test_similarity.py + RECALL.json.",
)
def _embedding_pca_project(spark, sf):
    return similarity.embedding_pca_project2(_t(spark, sf, "embeddings"))


@_register(
    "doc_chunking",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, t,
             CAST(unnest(range(1, len(t) + 1, {text.CHUNK_STRIDE})) AS INTEGER) AS start
      FROM toks
      WHERE len(t) >= 1
    )
    SELECT doc_id,
           CAST((start - 1) / {text.CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           CAST(least({text.CHUNK_SIZE}, len(t) - start + 1) AS INTEGER)
             AS n_chunk_tokens,
           array_to_string(
             list_slice(t, start, start + {text.CHUNK_SIZE} - 1), ' '
           ) AS chunk
    FROM chunks
    """,
    note="RAG overlapping token-window chunker; map-only, no shuffle "
    "(chunk construction is row-local)",
)
def _doc_chunking(spark, sf):
    return text.doc_chunking(_t(spark, sf, "documents"))


@_register(
    "key_skew_profile",
    """
    WITH per_key AS (
      SELECT user_id, count(*) AS c FROM events GROUP BY user_id
    )
    SELECT CAST(floor(log2(c + 0.5)) AS INTEGER) AS count_bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_events,
           CAST(max(c) AS BIGINT) AS max_key_count
    FROM per_key GROUP BY 1
    """,
    note="log2 count-of-counts key-skew diagnostic; +0.5 keeps float "
    "log2 off power-of-two boundaries so both engines bucket "
    "identically",
)
def _key_skew_profile(spark, sf):
    return text.key_skew_profile(_t(spark, sf, "events"))


@_register(
    "group_sample_topk",
    """
    WITH ranked AS (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5('sample|' || CAST(event_id AS VARCHAR)), event_id
             ) AS sample_rank
      FROM events
    )
    SELECT event_type, event_id, CAST(sample_rank AS INTEGER) AS sample_rank
    FROM ranked WHERE sample_rank <= 5
    """,
    note="deterministic per-group k-sample by md5 rank: the sample is "
    "a pure function of the data, stable across engines/retries",
)
def _group_sample_topk(spark, sf):
    return text.group_sample_topk(_t(spark, sf, "events"))


@_register(
    "lm_bigram_score",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    words AS (SELECT doc_id, unnest(t) AS word FROM toks),
    big AS (
      SELECT doc_id, unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    c1 AS (SELECT word, count(*) AS c1 FROM words GROUP BY word),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
    v AS (SELECT count(DISTINCT word) * 1.0 AS v FROM words)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(log2((c2 + 0.5) / (c1 + 0.5 * v))), 4) AS avg_log2p
    FROM big JOIN c2 USING (w1, w2) JOIN c1 ON big.w1 = c1.word, v
    GROUP BY doc_id
    """,
    note="add-k smoothed bigram LM (k=0.5); bigram stream is a "
    "row-local array-zip expression, counts are keyed shuffles, V is "
    "the only broadcast",
)
def _lm_bigram_score(spark, sf):
    return text.lm_bigram_score(_t(spark, sf, "documents"))


@_register(
    "lm_trigram_backoff",
    f"""
    WITH ttoks AS (SELECT doc_id, {_TOKS} AS t FROM documents
                   WHERE doc_id % 2 = 0),
    htoks AS (SELECT doc_id, {_TOKS} AS t FROM documents
              WHERE doc_id % 2 = 1),
    twords AS (SELECT unnest(t) AS word FROM ttoks),
    uni AS (SELECT word, count(*) AS cu FROM twords GROUP BY word),
    bi AS (
      SELECT w1, w2, count(*) AS cb FROM (
        SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
        FROM ttoks WHERE len(t) >= 2)
      GROUP BY w1, w2),
    tri AS (
      SELECT w1, w2, w3, count(*) AS ct FROM (
        SELECT unnest(t[1:len(t) - 2]) AS w1,
               unnest(t[2:len(t) - 1]) AS w2,
               unnest(t[3:len(t)]) AS w3
        FROM ttoks WHERE len(t) >= 3)
      GROUP BY w1, w2, w3),
    consts AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
                      CAST(count(DISTINCT word) AS DOUBLE) AS vv
               FROM twords),
    hstream AS (
      SELECT doc_id,
             unnest(t[1:len(t) - 2]) AS w1,
             unnest(t[2:len(t) - 1]) AS w2,
             unnest(t[3:len(t)]) AS w3
      FROM htoks WHERE len(t) >= 3),
    scored AS (
      SELECT h.doc_id,
             CASE WHEN t.ct IS NOT NULL THEN 0
                  WHEN b23.cb IS NOT NULL THEN 1
                  ELSE 2 END AS br,
             CASE WHEN t.ct IS NOT NULL THEN
                    CAST(round((ln(CAST(t.ct AS DOUBLE))
                                - ln(CAST(b12.cb AS DOUBLE)))
                               * 1000000.0) AS BIGINT)
                  WHEN b23.cb IS NOT NULL THEN
                    {text._BACKOFF_MNAT}
                    + CAST(round((ln(CAST(b23.cb AS DOUBLE))
                                  - ln(CAST(u2.cu AS DOUBLE)))
                                 * 1000000.0) AS BIGINT)
                  ELSE
                    {2 * text._BACKOFF_MNAT}
                    + CAST(round((ln(CAST(coalesce(u3.cu, 0) + 1 AS DOUBLE))
                                  - ln(c.nn + c.vv))
                                 * 1000000.0) AS BIGINT)
             END AS mnat
      FROM hstream h
      LEFT JOIN tri t ON t.w1 = h.w1 AND t.w2 = h.w2 AND t.w3 = h.w3
      LEFT JOIN bi b12 ON b12.w1 = h.w1 AND b12.w2 = h.w2
      LEFT JOIN bi b23 ON b23.w1 = h.w2 AND b23.w2 = h.w3
      LEFT JOIN uni u2 ON u2.word = h.w2
      LEFT JOIN uni u3 ON u3.word = h.w3
      CROSS JOIN consts c)
    SELECT doc_id, count(*) AS n_scored,
           CAST(sum(CASE WHEN br = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
           CAST(sum(CASE WHEN br = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bi_backoff,
           CAST(sum(CASE WHEN br = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_uni_backoff,
           round(sum(mnat) / (count(*) * 1000000.0), 6) AS avg_logp
    FROM scored
    GROUP BY doc_id
    """,
    note="trigram stupid-backoff LM score (Brants 2007) on a held-out "
    "split (train = even doc_id, scored = odd): scoring a corpus "
    "against its own counts never backs off, the held-out shape is "
    "the production quality-filter shape; one rounded transcendental "
    "per token (integer micro-nats, the ulm discipline), fixed "
    "integer 0.4-discounts, per-doc integer sums + one double "
    "division; branch usage counts ride along",
)
def _lm_trigram_backoff(spark, sf):
    return text.lm_trigram_backoff(_t(spark, sf, "documents"))


@_register(
    "incremental_agg_merge",
    """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, value FROM events
    )
    SELECT event_type,
           CAST(count(DISTINCT day) AS INTEGER) AS n_days,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value) / count(*), 4) AS avg_value,
           round((sum(value * value) - sum(value) * sum(value) / count(*))
                 / count(*), 4) AS var_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value
    FROM base GROUP BY event_type
    """,
    note="per-(type, day) partial moment states merged to exact "
    "per-type totals — merge == direct computation proves the state "
    "design mergeable (oracle computes direct)",
)
def _incremental_agg_merge(spark, sf):
    return relational.incremental_agg_merge(_t(spark, sf, "events"))


def _zorder_oracle(bits: int = 16) -> str:
    x = f"(user_id % {1 << bits})"
    y = (
        "(CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 60000000) AS BIGINT)"
        f" % {1 << bits})"
    )
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    z = " | ".join(terms)
    return f"""
    SELECT (({z}) >> {bits}) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """


@_register(
    "zorder_index",
    _zorder_oracle(),
    note="Morton bit-interleave of (user_id, epoch-minute) -> "
    "2-D data-skipping layout key; oracle SQL generated from the "
    "same unrolled bit loop",
)
def _zorder_index(spark, sf):
    return relational.zorder_index(_t(spark, sf, "events"))


@_register(
    "join_bloom_pruned",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority
    """,
    note="explicit runtime filter: dim-key Bloom bitmap (bit_or word "
    "fold, 8 KB broadcast) prunes fact rows before the join exchange; "
    "no false negatives by construction, so output == plain join "
    "(which is what the oracle runs)",
)
def _join_bloom_pruned(spark, sf):
    return relational.join_bloom_pruned(
        _t(spark, sf, "orders"), _t(spark, sf, "customer")
    )


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
    "multimodal_video_frames",
    f"""
    WITH {_PAYLOAD_CTE},
    fr AS (SELECT doc_id, n, bytes,
                  CAST(unnest(range(0, 2 + (n % 3))) AS INT) AS f
           FROM pbytes WHERE n > 0),
    geo AS (SELECT doc_id, n, bytes, f,
                   8 + ((n + f) % 9) AS w,
                   8 + (((n + f) * 3) % 9) AS h
            FROM fr),
    px AS (SELECT doc_id, f, w, h,
                  list_transform(range(0, w * h * 3),
                                 k -> bytes[CAST((k + f) % n AS INT) + 1]) AS flat
           FROM geo)
    SELECT doc_id, f AS frame_idx,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT) AS frame_bytes,
           CAST(list_sum(flat) AS BIGINT) AS sum_px,
           CAST(list_min(flat) AS INT) AS px_min,
           CAST(list_max(flat) AS INT) AS px_max
    FROM px
    """,
    note="REAL video path: chunked container (magic + count + "
    "length-prefixed spec-compliant BMP frames) walked by a real "
    "bounds-checked parse loop, every frame decoded by the pure-numpy "
    "BMP parser; oracle reconstructs every pixel of every frame from "
    "the text column, so geometry, frame sizes, and per-frame pixel "
    "stats prove the container walk AND the per-frame decode",
)
def _multimodal_video_frames(spark, sf):
    return multimodal.decode_video_frames(
        multimodal.attach_video_payload(_t(spark, sf, "documents"))
    )


@_register(
    "jobapi_grep",
    """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
    FROM documents WHERE text LIKE '%dup%'
    """,
    note="Dean & Ghemawat's other canonical example through the Job "
    "API: matching records pass through a multi-emit map and an "
    "identity reduce untouched",
)
def _jobapi_grep(spark, sf):
    from ..jobs import DistributedGrepJob, run_job

    out = run_job(DistributedGrepJob, _kv_documents(spark, sf))
    return out.select(F.col("key").alias("doc_id"), F.col("value").alias("text"))


@_register(
    "corr_matrix",
    """
    WITH m AS (
      SELECT CAST(l_quantity AS DOUBLE) AS quantity,
             CAST(l_extendedprice AS DOUBLE) AS extendedprice,
             CAST(l_discount AS DOUBLE) AS discount
      FROM lineitem
    ),
    pairs AS (
      SELECT 'quantity' AS metric_a, 'quantity' AS metric_b, quantity AS x, quantity AS y FROM m
      UNION ALL SELECT 'quantity', 'extendedprice', quantity, extendedprice FROM m
      UNION ALL SELECT 'quantity', 'discount', quantity, discount FROM m
      UNION ALL SELECT 'extendedprice', 'extendedprice', extendedprice, extendedprice FROM m
      UNION ALL SELECT 'extendedprice', 'discount', extendedprice, discount FROM m
      UNION ALL SELECT 'discount', 'discount', discount, discount FROM m
    )
    SELECT metric_a, metric_b, CAST(count(*) AS BIGINT) AS n,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / sqrt((count(*) * sum(x * x) - sum(x) * sum(x))
                        * (count(*) * sum(y * y) - sum(y) * sum(y))), 4) AS corr
    FROM pairs GROUP BY metric_a, metric_b
    """,
    note="full Pearson matrix in one pass: row-local pair explode + "
    "mergeable moment sums; shuffle carries O(p^2) rows at any scale",
)
def _corr_matrix(spark, sf):
    return analytics.corr_matrix(_t(spark, sf, "lineitem"))


@_register(
    "ks_drift",
    """
    WITH flagged AS (
      SELECT value,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib
      FROM events WHERE event_type IN ('view', 'click')
    ),
    per_val AS (
      SELECT value, sum(ia) AS ca, sum(ib) AS cb FROM flagged GROUP BY value
    ),
    cdf AS (
      SELECT sum(ca) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             sum(cb) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
             sum(ca) OVER () AS na,
             sum(cb) OVER () AS nb
      FROM per_val
    )
    SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
           round(max(abs(cuma * 1.0 / na - cumb * 1.0 / nb)), 4) AS ks_stat
    FROM cdf
    """,
    note="exact two-sample KS: CDFs over the distinct-value-compressed "
    "stream (global window runs on distinct values, not rows); "
    "tie-exact by absorbing all rows at each value",
)
def _ks_drift(spark, sf):
    return analytics.ks_drift(_t(spark, sf, "events"))


@_register(
    "psi_drift",
    """
    WITH per_bucket AS (
      SELECT floor(value / 25.0) * 25.0 AS bucket_lo,
             sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS n_cur
      FROM events GROUP BY 1
    ),
    props AS (
      SELECT bucket_lo, n_ref, n_cur,
             greatest(n_ref * 1.0 / sum(n_ref) OVER (), 1e-6) AS p_ref,
             greatest(n_cur * 1.0 / sum(n_cur) OVER (), 1e-6) AS p_cur
      FROM per_bucket
    ),
    contribs AS (
      SELECT bucket_lo, n_ref, n_cur,
             (p_cur - p_ref) * ln(p_cur / p_ref) AS contrib
      FROM props
    )
    SELECT bucket_lo, CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           round(contrib, 6) AS psi_contrib,
           round(sum(contrib) OVER (), 4) AS psi_total
    FROM contribs
    """,
    note="Population Stability Index over a deterministic even/odd "
    "event_id split; epsilon-clamped proportions, bucket-cardinality "
    "work after one aggregation",
)
def _psi_drift(spark, sf):
    return analytics.psi_drift(_t(spark, sf, "events"))


@_register(
    "window_time_decay",
    """
    WITH e AS (
      SELECT user_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    w AS (
      SELECT user_id, value, us,
             max(us) OVER (PARTITION BY user_id) AS last_us
      FROM e
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * pow(2.0,
                 -((last_us - us) / 86400000000.0))), 4) AS decayed_score,
           make_timestamp(max(last_us)) AS last_ts
    FROM w GROUP BY user_id
    """,
    note="recency-weighted engagement score; age measured from the "
    "user's own latest event (no wall clock in the plan), integer-"
    "micros exponent, one user-keyed exchange",
)
def _window_time_decay(spark, sf):
    return temporal.window_time_decay(_t(spark, sf, "events"))


@_register(
    "cdc_scd2",
    f"""
    SELECT user_id, value,
           CAST(ts AS TIMESTAMP) AS valid_from,
           lead(CAST(ts AS TIMESTAMP)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
    FROM {_EVTS}
    """,
    note="SCD type-2 historization of a change stream: validity "
    "intervals via one lead window, open-ended current rows",
)
def _cdc_scd2(spark, sf):
    return temporal.cdc_scd2(_t(spark, sf, "events"))


@_register(
    "attribution_last_touch",
    f"""
    WITH marked AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS attributed_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS attributed_ts
      FROM {_EVTS}
    )
    SELECT event_id, user_id, ts AS purchase_ts,
           attributed_type, attributed_ts
    FROM marked WHERE event_type = 'purchase'
    """,
    note="last-touch attribution as a carry-forward window (zero "
    "joins): purchases credit the latest preceding non-purchase "
    "touch; no-prior-touch purchases keep NULL (the direct bucket)",
)
def _attribution_last_touch(spark, sf):
    return temporal.attribution_last_touch(_t(spark, sf, "events"))


@_register(
    "vocab_coverage",
    _WORDS_CTE
    + """,
    cnt AS (SELECT word, count(*) AS cnt FROM words GROUP BY word),
    ranked AS (
      SELECT row_number() OVER (ORDER BY cnt DESC, word) AS rank,
             word, cnt,
             sum(cnt) OVER (ORDER BY cnt DESC, word
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(cnt) OVER () AS total
      FROM cnt
    )
    SELECT CAST(rank AS INT) AS rank, word, CAST(cnt AS BIGINT) AS cnt,
           round(cum * 1.0 / total, 6) AS cum_coverage
    FROM ranked WHERE rank <= 64
    """,
    note="tokenizer-prep vocabulary curve: rank + cumulative corpus "
    "coverage; windows run over the aggregate-compressed vocabulary, "
    "not corpus rows",
)
def _vocab_coverage(spark, sf):
    return text.vocab_coverage(_t(spark, sf, "documents"))


@_register(
    "vocab_zipf_fit",
    f"""
    WITH words AS (SELECT unnest({_TOKS}) AS word FROM documents),
    counts AS (SELECT word, count(*) AS cnt FROM words GROUP BY word),
    ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rank
      FROM counts),
    xy AS (SELECT log2(rank) AS x, log2(cnt) AS y
           FROM ranked WHERE rank <= 64),
    m AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM xy)
    SELECT CAST(n AS BIGINT) AS n_words,
           round(-((n * sxy - sx * sy) / (n * sxx - sx * sx)), 4)
             AS zipf_exponent,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 4) AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
    FROM m
    WHERE n > 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
    note="Zipf-exponent fit over the top-64 rank-frequency curve "
    "(corpus-composition drift monitor): vocab_coverage's count + "
    "TakeOrderedAndProject cut, trend_regression's closed form over "
    "the <=64 surviving rows; one-row result",
)
def _vocab_zipf_fit(spark, sf):
    return text.vocab_zipf_fit(_t(spark, sf, "documents"))


@_register(
    "pair_pmi",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    words AS (SELECT doc_id, unnest(t) AS word FROM toks),
    big AS (
      SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    c1 AS (SELECT word, count(*) AS c1 FROM words GROUP BY word),
    c2 AS (SELECT w1, w2, count(*) AS n_pair FROM big GROUP BY w1, w2
           HAVING count(*) >= 5),
    tot AS (SELECT count(*) * 1.0 AS n_tokens FROM words),
    scored AS (
      SELECT w1, w2, n_pair,
             round(log2(n_pair * n_tokens / (a.c1 * b.c1)), 4) AS pmi
      FROM c2
      JOIN c1 a ON c2.w1 = a.word
      JOIN c1 b ON c2.w2 = b.word, tot
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rnk
      FROM scored
    )
    SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, pmi
    FROM ranked WHERE rnk <= 30
    """,
    note="Church & Hanks collocation mining: top-k adjacent pairs by "
    "PMI; reuses the row-local bigram zip, min-count low-frequency "
    "guard, 1-row total broadcast",
)
def _pair_pmi(spark, sf):
    return text.pair_pmi(_t(spark, sf, "documents"))


@_register(
    "pair_llr",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    big AS (
      SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    c2 AS (SELECT w1, w2, count(*) AS k11 FROM big GROUP BY w1, w2
           HAVING count(*) >= 5),
    r AS (SELECT w1, count(*) AS r1 FROM big GROUP BY w1),
    c AS (SELECT w2, count(*) AS c1 FROM big GROUP BY w2),
    tot AS (SELECT count(*) AS n FROM big),
    sc AS (
      SELECT w1, w2, k11, r1, c1, n,
             r1 - k11 AS k12, c1 - k11 AS k21,
             n - r1 - c1 + k11 AS k22
      FROM c2 JOIN r USING (w1) JOIN c USING (w2) CROSS JOIN tot
    ),
    scored AS (
      SELECT w1, w2, CAST(k11 AS BIGINT) AS n_pair,
             round(2.0 * (
               CASE WHEN k11 > 0 THEN k11 * ln((k11 * 1.0 * n)
                    / (r1 * 1.0 * c1)) ELSE 0.0 END
             + CASE WHEN k12 > 0 THEN k12 * ln((k12 * 1.0 * n)
                    / (r1 * 1.0 * (n - c1))) ELSE 0.0 END
             + CASE WHEN k21 > 0 THEN k21 * ln((k21 * 1.0 * n)
                    / ((n - r1) * 1.0 * c1)) ELSE 0.0 END
             + CASE WHEN k22 > 0 THEN k22 * ln((k22 * 1.0 * n)
                    / ((n - r1) * 1.0 * (n - c1))) ELSE 0.0 END
             ), 4) AS llr
      FROM sc
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY llr DESC, w1, w2) AS rnk
      FROM scored
    )
    SELECT w1, w2, n_pair, llr FROM ranked WHERE rnk <= 30
    """,
    note="Dunning log-likelihood-ratio collocations (significance-"
    "aware companion to pair_pmi): full 2x2 contingency from three "
    "combinable bigram-stream aggregations, G^2 as four guarded "
    "k*ln terms in FIXED order, top-k via TakeOrderedAndProject",
)
def _pair_llr(spark, sf):
    return text.pair_llr(_t(spark, sf, "documents"))


@_register(
    "source_csv_malformed",
    """
    SELECT CAST(count(*) FILTER (WHERE doc_id % 10 <> 0) AS BIGINT) AS n_good,
           CAST(count(*) FILTER (WHERE doc_id % 10 = 0) AS BIGINT) AS n_corrupt,
           CAST(sum(n_chars) FILTER (WHERE doc_id % 10 <> 0) AS BIGINT)
             AS chars_good
    FROM documents
    """,
    note="ingest reality: deterministically corrupted CSV read in "
    "PERMISSIVE mode with an explicit _corrupt_record column — bad "
    "rows quarantine-and-count instead of crashing (FAILFAST) or "
    "silently vanishing (DROPMALFORMED); oracle mirrors the "
    "corruption rule over the original parquet",
)
def _source_csv_malformed(spark, sf):
    from ...sources.roundtrip import read_documents_csv_malformed

    df = read_documents_csv_malformed(spark, sf)
    # doc_id must survive into the AGGREGATE's references: CSV
    # corruption is detected per PARSED field, and column pruning
    # would otherwise drop the very field the corruption lives in
    # (the planted unparseable doc_id) — rows would read as clean.
    # count(doc_id) ties the good-row count to the parse result.
    return df.agg(
        F.count("doc_id").alias("n_good"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.sum(
            F.when(F.col("doc_id").isNotNull(), F.col("n_chars"))
        ).alias("chars_good"),
    )


@_register("set_intersect_all", f"{_SPLIT_A} INTERSECT ALL {_SPLIT_B}")
def _set_intersect_all(spark, sf):
    return relational.set_intersect_all(*_orders_split(spark, sf))


@_register("set_except_all", f"{_SPLIT_A} EXCEPT ALL {_SPLIT_B}")
def _set_except_all(spark, sf):
    return relational.set_except_all(*_orders_split(spark, sf))


@_register(
    "flatmap_explode_outer",
    """
    WITH e AS (
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS INT) % 3 AS m
      FROM events
    )
    SELECT event_id,
           CAST(unnest(CASE WHEN m IS NULL OR m = 0
                            THEN [CAST(NULL AS INT)]
                            ELSE range(1, m + 1) END) AS INT) AS step
    FROM e
    """,
    note="null-preserving flatMap (explode_outer): empty-array rows "
    "survive as one NULL-element row — the trap a plain explode "
    "silently drops",
)
def _flatmap_explode_outer(spark, sf):
    return relational.flatmap_explode_outer(_t(spark, sf, "events"))


@_register(
    "audience_overlap",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM ut a JOIN ut b ON a.user_id = b.user_id
      AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    note="co-engagement matrix: distinct-(user, type) compression "
    "FIRST, so self-join fan-out per user is bounded by the type "
    "alphabet; |types|-choose-2 output rows at any scale",
)
def _audience_overlap(spark, sf):
    return relational.audience_overlap(_t(spark, sf, "events"))


@_register(
    "audience_overlap_kmv",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM ut a JOIN ut b ON a.user_id = b.user_id
      AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    note="co-engagement through mergeable KMV sketches: audiences "
    "shrink to k-minimum-hash arrays BEFORE pairing (exact-k via "
    "per-cell top-k merge, never a whole-audience sort); below k "
    "the sketch is full membership so the intersection is EXACT -- "
    "the fixture regime, hence the same oracle as the exact "
    "operator; the theta estimator path is error-bounded in unit "
    "tests on synthetic large audiences",
)
def _audience_overlap_kmv(spark, sf):
    return relational.audience_overlap_kmv(_t(spark, sf, "events"))


@_register(
    "split_leakage_audit",
    f"""
    WITH s AS (
      SELECT md5(lower(substr(text, 1, 24))) AS fp,
             CASE
               WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)
                    < '{text.hash_threshold(text.SPLIT_TRAIN)}' THEN 'train'
               WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)
                    < '{text.hash_threshold(text.SPLIT_VAL)}' THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    ),
    g AS (
      SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
             array_to_string(list_sort(list_distinct(list(split))), ',') AS splits
      FROM s GROUP BY fp
    )
    SELECT fp, n_docs, splits FROM g
    WHERE len(string_split(splits, ',')) > 1
    """,
    note="train/test contamination audit: content fingerprints "
    "spanning more than one split of stratified_split; the "
    "exact-duplicate leakage check a dataset release gates on",
)
def _split_leakage_audit(spark, sf):
    return text.split_leakage_audit(_t(spark, sf, "documents"))


@_register(
    "bpe_merge_step",
    f"""
    WITH words AS (SELECT unnest({_TOKS}) AS word FROM documents),
    vocab AS (
      SELECT word, count(*) AS word_freq FROM words
      GROUP BY word HAVING length(word) >= 2
    ),
    pairs AS (
      SELECT substr(word, CAST(i AS INT), 1) AS sym_a,
             substr(word, CAST(i AS INT) + 1, 1) AS sym_b,
             word_freq
      FROM vocab, unnest(range(1, length(word))) AS r(i)
    ),
    counts AS (
      SELECT sym_a, sym_b, sum(word_freq) AS n_pair
      FROM pairs GROUP BY sym_a, sym_b
    )
    SELECT CAST(row_number() OVER (ORDER BY n_pair DESC, sym_a, sym_b)
                AS INT) AS rank,
           sym_a, sym_b, CAST(n_pair AS BIGINT) AS n_pair
    FROM counts ORDER BY rank LIMIT 20
    """,
    note="one BPE trainer iteration: top merge-pair candidates; pair "
    "explode runs over the distinct-word vocabulary (weighted by word "
    "frequency), never the corpus",
)
def _bpe_merge_step(spark, sf):
    return text.bpe_merge_step(_t(spark, sf, "documents"))


@_register(
    "chi2_feature_select",
    f"""
    WITH dw AS (
      SELECT DISTINCT doc_id, lang, unnest({_TOKS}) AS word FROM documents
    ),
    wl AS (SELECT word, lang, count(*) AS df_wl FROM dw GROUP BY word, lang),
    wt AS (SELECT word, sum(df_wl) AS df_w FROM wl GROUP BY word),
    lt AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
    g AS (SELECT CAST(sum(n_lang) AS DOUBLE) AS n_total FROM lt),
    cells AS (
      SELECT wl.word, wl.lang,
             CAST(df_wl AS DOUBLE) AS o11,
             CAST(df_w - df_wl AS DOUBLE) AS o12,
             CAST(n_lang - df_wl AS DOUBLE) AS o21,
             n_total - df_w - n_lang + df_wl AS o22,
             n_total
      FROM wl JOIN wt USING (word) JOIN lt USING (lang) CROSS JOIN g
      WHERE df_w >= 10
    ),
    scored AS (
      SELECT word, lang,
             round(CASE
               WHEN (o11 + o12) * (o21 + o22) * (o11 + o21) * (o12 + o22) > 0
               THEN n_total * pow(o11 * o22 - o12 * o21, 2)
                    / ((o11 + o12) * (o21 + o22) * (o11 + o21) * (o12 + o22))
               ELSE 0.0 END, 4) AS chi2_wl
      FROM cells
    ),
    best AS (
      SELECT word, max(struct_pack(chi2_wl := chi2_wl, lang := lang)) AS m
      FROM scored GROUP BY word
    )
    SELECT CAST(row_number() OVER (ORDER BY m.chi2_wl DESC, word)
                AS INT) AS rank,
           word, m.chi2_wl AS chi2, m.lang AS best_lang
    FROM best ORDER BY rank LIMIT 25
    """,
    note="chi-squared word-vs-language association over per-document "
    "presence; everything after the first agg is vocab x label sized",
)
def _chi2_feature_select(spark, sf):
    return text.chi2_feature_select(_t(spark, sf, "documents"))


@_register(
    "target_encoding",
    """
    WITH per_cat AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             sum(n_chars) AS sum_t
      FROM documents GROUP BY source
    ),
    g AS (SELECT sum(sum_t) * 1.0 / sum(n_docs) AS mean_global FROM per_cat)
    SELECT source, n_docs,
           round(sum_t * 1.0 / n_docs, 4) AS mean_target,
           round((sum_t + 10.0 * mean_global) / (n_docs + 10.0), 4) AS encoded
    FROM per_cat CROSS JOIN g
    """,
    note="smoothed mean-target encoding (empirical-Bayes shrinkage); "
    "category-cardinality output, exact integer sums until the final "
    "division",
)
def _target_encoding(spark, sf):
    return analytics.target_encoding(_t(spark, sf, "documents"))


@_register(
    "mad_outliers",
    """
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             abs(e.value - m.med) AS abs_dev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, median(abs_dev) AS mad FROM dev
      GROUP BY event_type HAVING median(abs_dev) > 0
    )
    SELECT d.event_id, d.event_type, d.value,
           round(d.med, 4) AS med, round(m.mad, 4) AS mad,
           round(abs(d.value - d.med) / m.mad, 4) AS mad_score
    FROM dev d JOIN mad m USING (event_type)
    WHERE round(abs(d.value - d.med) / m.mad, 4) > 3.5
    """,
    note="robust MAD outlier gate: two exact-median aggregations + "
    "broadcast stats join; heavy tails no longer drag the scale they "
    "are scored against",
)
def _mad_outliers(spark, sf):
    return analytics.mad_outliers(_t(spark, sf, "events"))


@_register(
    "dedup_containment",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    com AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, round(c * 1.0 / least(na.n, nb.n), 4) AS containment
    FROM com
    JOIN sizes na ON com.doc_a = na.doc_id
    JOIN sizes nb ON com.doc_b = nb.doc_id
    WHERE c * 1.0 / least(na.n, nb.n) >= 0.9
    """,
    note="asymmetric doc-in-doc detection: common/min(|A|,|B|) catches "
    "short docs embedded in long ones that Jaccard's union denominator "
    "misses; same inverted-index mechanics and df_cap scale guard",
)
def _dedup_containment(spark, sf):
    return dedup.containment_pairs(_t(spark, sf, "documents"))


@_register(
    "skyline_pareto",
    """
    WITH pts AS (
      SELECT p_retailprice, p_size, CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_retailprice, p_size
    ),
    sweep AS (
      SELECT *, max(p_size) OVER (ORDER BY p_retailprice ASC, p_size DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
      FROM pts
    )
    SELECT p_retailprice, p_size, n_parts FROM sweep
    WHERE run_max IS NULL OR p_size > run_max
    """,
    note="2-D Pareto frontier (min price, max size): grid-prune by "
    "price bucket discards dominated points map-side before the exact "
    "sweep window ever sees them; oracle runs the unpruned sweep",
)
def _skyline_pareto(spark, sf):
    return relational.skyline_pareto(_t(spark, sf, "part"))


@_register(
    "join_interval_overlap",
    """
    WITH quarters AS (
      SELECT unnest(generate_series(DATE '1992-01-01', DATE '1998-10-01',
                                    INTERVAL 3 MONTH))::DATE AS q_start
    ),
    q AS (
      SELECT q_start, (q_start + INTERVAL 3 MONTH - INTERVAL 1 DAY)::DATE AS q_end
      FROM quarters
    )
    SELECT CAST(q_start AS TIMESTAMP) AS q_start,
           CAST(count(*) AS BIGINT) AS n_in_transit,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
    FROM (
      SELECT CAST(l_shipdate AS DATE) AS ship_day,
             CAST(l_shipdate AS DATE) + CAST(1 + l_linenumber * 5 AS INT)
               AS receipt_day,
             l_quantity
      FROM lineitem
    ) iv JOIN q
      ON ship_day <= q_end AND receipt_day >= q_start
    GROUP BY q_start
    """,
    note="interval-overlap join vs a generated quarter calendar "
    "(in-transit occupancy per period): broadcast nested-loop with a "
    "28-row dim; large-x-large interval joins band the axis instead",
)
def _join_interval_overlap(spark, sf):
    return relational.join_interval_overlap(_t(spark, sf, "lineitem"))


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
    "weighted_sample_es",
    """
    WITH keyed AS (
      SELECT lang, doc_id, n_chars AS weight,
             ln((
               (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)
               + 0.5) / 65536.0) / n_chars AS es_key
      FROM (
        SELECT lang, doc_id, n_chars,
               md5('es|' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
      )
    )
    SELECT lang,
           CAST(row_number() OVER (PARTITION BY lang
                ORDER BY es_key DESC, doc_id) AS INT) AS rank,
           doc_id, weight
    FROM keyed
    QUALIFY rank <= 10
    """,
    note="Efraimidis-Spirakis weighted sample without replacement: "
    "deterministic hash uniform, rank by ln(u)/w per language — "
    "reproducible across retries and engines, unlike rand()",
)
def _weighted_sample_es(spark, sf):
    return text.weighted_sample_es(_t(spark, sf, "documents"))


@_register(
    "dedup_tfidf_cosine",
    f"""
    WITH words AS (
      SELECT doc_id, unnest({_TOKS}) AS word FROM documents
    ),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word),
    dfc AS (SELECT word, count(*) AS df FROM tf GROUP BY word HAVING count(*) <= 64),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    w AS (
      SELECT doc_id, word, tf * ln(n_docs / df) AS w
      FROM tf JOIN dfc USING (word) CROSS JOIN n
    ),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
      FROM w a JOIN w b USING (word)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots
    JOIN norms na ON dots.doc_a = na.doc_id
    JOIN norms nb ON dots.doc_b = nb.doc_id
    WHERE dot / (na.nrm * nb.nrm) >= 0.6
    """,
    note="exact tf-idf cosine near-dup on the df_cap-capped vocabulary "
    "(Bayardo all-pairs shape); capping df bounds inverted-index "
    "fan-out at df_cap^2 — the stop-words it drops carry ~zero idf",
)
def _dedup_tfidf_cosine(spark, sf):
    return dedup.tfidf_cosine_pairs(_t(spark, sf, "documents"))


@_register(
    "snapshot_diff",
    f"""
    WITH upto2 AS (
      SELECT * FROM {_EVTS} WHERE ts <= TIMESTAMP '2024-01-31 00:00:00'
    ),
    marked AS (
      SELECT user_id, event_id, event_type, value,
             ts <= TIMESTAMP '2024-01-15 00:00:00' AS in_t1,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn2,
             sum(CASE WHEN ts <= TIMESTAMP '2024-01-15 00:00:00'
                 THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn1
      FROM upto2
    ),
    new_state AS (
      SELECT user_id, event_type AS new_type, round(value, 2) AS new_value,
             event_id AS new_eid
      FROM marked WHERE rn2 = 1
    ),
    old_state AS (
      SELECT user_id, event_type AS old_type, round(value, 2) AS old_value,
             event_id AS old_eid
      FROM marked WHERE in_t1 AND rn1 = 1
    )
    SELECT n.user_id,
           CASE WHEN o.old_eid IS NULL THEN 'added' ELSE 'changed' END AS status,
           o.old_type, o.old_value, n.new_type, n.new_value
    FROM new_state n LEFT JOIN old_state o USING (user_id)
    WHERE o.old_eid IS NULL OR o.old_eid <> n.new_eid
    """,
    note="time-travel snapshot diff (latest-wins state at two cuts): "
    "one scan, one window shuffle — both snapshots via conditional "
    "ranks down the same ordering, no self-join of the raw stream",
)
def _snapshot_diff(spark, sf):
    return temporal.snapshot_diff(_t(spark, sf, "events"))


@_register(
    "multimodal_image_ahash",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    pxg AS (
      SELECT doc_id, w, h,
             ((p // w) * 8 // h) * 8 + ((p % w) * 8 // w) AS cell,
             bytes[CAST((3 * p) % n AS INT) + 1]
               + bytes[CAST((3 * p + 1) % n AS INT) + 1]
               + bytes[CAST((3 * p + 2) % n AS INT) + 1] AS gray
      FROM geo, unnest(range(0, w * h)) AS r(p)
    ),
    cells AS (
      SELECT doc_id, cell, sum(gray) AS s, count(*) AS cn
      FROM pxg GROUP BY doc_id, cell
    ),
    tot AS (
      SELECT doc_id, cell, s, cn,
             sum(s) OVER (PARTITION BY doc_id) AS ts,
             sum(cn) OVER (PARTITION BY doc_id) AS tn
      FROM cells
    ),
    hashes AS (
      SELECT doc_id,
             string_agg(CASE WHEN s * tn >= ts * cn THEN '1' ELSE '0' END,
                        '' ORDER BY cell) AS ahash
      FROM tot GROUP BY doc_id
    )
    SELECT ahash, min(doc_id) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM hashes GROUP BY ahash
    """,
    note="perceptual average-hash dedup over REAL decoded BMP pixels: "
    "8x8 block-mean bits via exact integer cross-multiplication; "
    "oracle recomputes the hash from the text bytes the pixels tile "
    "from, so a fake decode cannot pass",
)
def _multimodal_image_ahash(spark, sf):
    docs = _t(spark, sf, "documents")
    return multimodal.image_ahash(multimodal.attach_image_payload(docs))


@_register(
    "join_asof_nearest",
    f"""
    WITH o1 AS (
      SELECT o_custkey, o_orderdate, min(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    scored AS (
      SELECT evts.event_id, evts.user_id, o.o_orderkey,
             abs(epoch_us(evts.ts)
                 - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))) AS dist_us,
             row_number() OVER (PARTITION BY evts.event_id
               ORDER BY abs(epoch_us(evts.ts)
                            - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))),
                        o.o_orderkey) AS rn
      FROM {_EVTS} JOIN o1 o ON o.o_custkey = evts.user_id
    )
    SELECT evts.event_id, evts.user_id, s.o_orderkey, s.dist_us
    FROM {_EVTS}
    LEFT JOIN (SELECT * FROM scored WHERE rn = 1) s USING (event_id)
    """,
    note="nearest-as-of join (either direction): backward and forward "
    "candidates from ONE sorted timeline pass, exact integer "
    "microsecond struct-min; oracle is the brute-force per-event rank "
    "over all the user's orders — a genuinely independent computation",
)
def _join_asof_nearest(spark, sf):
    return temporal.join_asof_nearest(
        _t(spark, sf, "events"), _t(spark, sf, "orders")
    )


@_register(
    "time_resample_gapfill",
    f"""
    WITH spine_h AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR))
             AS bucket_hour
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    spine AS (SELECT * FROM spine_h CROSS JOIN types),
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_hour,
             CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS hour_value
      FROM {_EVTS} GROUP BY 1, 2
    )
    SELECT s.event_type, s.bucket_hour,
           coalesce(h.n, 0) AS n_events,
           last_value(h.hour_value IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.bucket_hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
    FROM spine s LEFT JOIN hourly h USING (event_type, bucket_hour)
    """,
    note="gap-filled hourly resample + LOCF per type: generated spine "
    "left-joined to one combinable aggregate; only the aggregate "
    "touches the corpus, the window runs over the spine",
)
def _time_resample_gapfill(spark, sf):
    return analytics.time_resample_gapfill(_t(spark, sf, "events"))


#: Shared two-proportion z-test CTE chain (hash A/B split -> per-type
#: z): ab_test_ztest's oracle selects ztab directly; stats_fdr_bh's
#: step-up builds on the SAME text, so the test definition (the
#: conv >= 10 threshold, the 'ab|' split, the z formula) can never
#: drift between them.
_ZTEST_CTES = """
    users AS (
      SELECT DISTINCT user_id,
             CASE WHEN substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant
      FROM events
    ),
    conv AS (
      SELECT user_id, event_type FROM events
      GROUP BY user_id, event_type HAVING count(*) >= 10
    ),
    per_type AS (
      SELECT c.event_type, u.variant, count(*) AS n_conv
      FROM users u JOIN conv c USING (user_id)
      GROUP BY c.event_type, u.variant
    ),
    tot_wide AS (
      SELECT sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b
      FROM users
    ),
    wide AS (
      SELECT event_type,
             coalesce(max(CASE WHEN p.variant = 'A' THEN p.n_conv END), 0)
               AS conv_a,
             coalesce(max(CASE WHEN p.variant = 'B' THEN p.n_conv END), 0)
               AS conv_b,
             t.n_a, t.n_b
      FROM per_type p CROSS JOIN tot_wide t
      GROUP BY event_type, t.n_a, t.n_b
    ),
    scored AS (
      SELECT *,
             (conv_a + conv_b) * 1.0 / (n_a + n_b) AS pp,
             conv_a * 1.0 / n_a - conv_b * 1.0 / n_b AS diff
      FROM wide
    ),
    ztab AS (
      SELECT event_type,
             CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             CAST(conv_a AS BIGINT) AS conv_a,
             CAST(conv_b AS BIGINT) AS conv_b,
             round(diff / sqrt(pp * (1 - pp) * (1.0 / n_a + 1.0 / n_b)), 4)
               AS zscore,
             abs(diff / sqrt(pp * (1 - pp) * (1.0 / n_a + 1.0 / n_b))) >= 1.96
               AS significant
      FROM scored WHERE pp > 0 AND pp < 1
    )
"""


@_register(
    "ab_test_ztest",
    f"""
    WITH {_ZTEST_CTES.strip()}
    SELECT event_type, n_a, n_b, conv_a, conv_b, zscore, significant
    FROM ztab
    """,
    note="two-proportion z-test per event type over a deterministic "
    "hash A/B split: per-user compression first, everything after is "
    "type-alphabet sized",
)
def _ab_test_ztest(spark, sf):
    return analytics.ab_test_ztest(_t(spark, sf, "events"))


@_register(
    "stats_ttest_welch",
    """
    WITH base AS (
      SELECT event_type,
             CASE WHEN substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant,
             value
      FROM events
    ),
    mu AS (
      SELECT event_type, variant, round(avg(value), 6) AS mu
      FROM base GROUP BY 1, 2
    ),
    cell AS (
      SELECT b.event_type, b.variant, count(*) AS n, max(m.mu) AS mu,
             sum((b.value - m.mu) * (b.value - m.mu)) AS css
      FROM base b
      JOIN mu m ON m.event_type = b.event_type AND m.variant = b.variant
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT event_type,
             max(CASE WHEN variant = 'A' THEN n END) AS n_a,
             max(CASE WHEN variant = 'B' THEN n END) AS n_b,
             max(CASE WHEN variant = 'A' THEN mu END) AS mean_a,
             max(CASE WHEN variant = 'B' THEN mu END) AS mean_b,
             max(CASE WHEN variant = 'A' THEN css END) AS css_a,
             max(CASE WHEN variant = 'B' THEN css END) AS css_b
      FROM cell GROUP BY event_type
    ),
    scored AS (
      SELECT *,
             css_a / (n_a - 1) / n_a AS va,
             css_b / (n_b - 1) / n_b AS vb
      FROM wide
      WHERE n_a > 1 AND n_b > 1 AND css_a + css_b > 0
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           mean_a, mean_b,
           round((mean_a - mean_b) / sqrt(va + vb), 4) AS t_stat,
           round((va + vb) * (va + vb)
                 / (va * va / (n_a - 1) + vb * vb / (n_b - 1)), 2) AS df,
           abs((mean_a - mean_b) / sqrt(va + vb)) >= 1.96 AS significant
    FROM scored
    """,
    note="Welch unequal-variance t-test per event type over the same "
    "deterministic hash A/B split as ab_test_ztest: per-arm means "
    "rounded 6 to pin the centering constant (stats_moments "
    "discipline), one centered-squares pass, Welch-Satterthwaite dof "
    "as row-local arithmetic on the alphabet-sized result",
)
def _stats_ttest_welch(spark, sf):
    return analytics.welch_ttest(_t(spark, sf, "events"))


@_register(
    "stats_anova",
    """
    WITH mu AS (
      SELECT event_type, round(avg(value), 6) AS mu, count(*) AS n
      FROM events GROUP BY event_type
    ),
    cell AS (
      SELECT e.event_type, max(m.n) AS n, max(m.mu) AS mu,
             sum((e.value - m.mu) * (e.value - m.mu)) AS css
      FROM events e JOIN mu m USING (event_type)
      GROUP BY e.event_type
    ),
    g AS (
      SELECT *, round(sum(mu * n) OVER () / sum(n) OVER (), 6) AS grand
      FROM cell
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k_groups,
             CAST(sum(n) AS BIGINT) AS n_total,
             sum(n * (mu - grand) * (mu - grand)) AS ssb,
             sum(css) AS ssw
      FROM g
    )
    SELECT k_groups, n_total,
           round(ssb, 4) AS ss_between,
           round(ssw, 4) AS ss_within,
           round((ssb / (k_groups - 1)) / (ssw / (n_total - k_groups)), 4)
             AS f_stat,
           round(ssb / (ssb + ssw), 4) AS eta_sq
    FROM agg
    WHERE k_groups > 1 AND n_total > k_groups AND ssw > 0
    """,
    note="one-way ANOVA F across the full event-type alphabet: "
    "per-type means rounded 6 (stats_moments centering discipline), "
    "one centered-squares pass for SSW, grand mean re-derived from "
    "the SAME pinned means; F and eta-squared row-local on the "
    "one-row result",
)
def _stats_anova(spark, sf):
    return analytics.anova_oneway(_t(spark, sf, "events"))


@_register(
    "stats_levene",
    """
    WITH med AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY event_type
    ),
    z AS (
      SELECT e.event_type, abs(e.value - m.med) AS z
      FROM events e JOIN med m USING (event_type)
    ),
    mu AS (
      SELECT event_type, round(avg(z), 6) AS mu, count(*) AS n
      FROM z GROUP BY event_type
    ),
    cell AS (
      SELECT z.event_type, max(m.n) AS n, max(m.mu) AS mu,
             sum((z.z - m.mu) * (z.z - m.mu)) AS css
      FROM z JOIN mu m USING (event_type)
      GROUP BY z.event_type
    ),
    g AS (
      SELECT *, round(sum(mu * n) OVER () / sum(n) OVER (), 6) AS grand
      FROM cell
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k_groups,
             CAST(sum(n) AS BIGINT) AS n_total,
             sum(n * (mu - grand) * (mu - grand)) AS ssb,
             sum(css) AS ssw
      FROM g
    ),
    crit AS (
      SELECT *,
             round(COALESCE(
               CASE k_groups - 1
                 WHEN 1 THEN 3.8415 WHEN 2 THEN 2.9957 WHEN 3 THEN 2.6049
                 WHEN 4 THEN 2.3719 WHEN 5 THEN 2.2141 WHEN 6 THEN 2.0986
                 WHEN 7 THEN 2.0096 WHEN 8 THEN 1.9384 WHEN 9 THEN 1.8799
                 WHEN 10 THEN 1.8307 WHEN 11 THEN 1.7886 WHEN 12 THEN 1.7522
               END,
               pow(1.0 - 2.0 / (9.0 * (k_groups - 1))
                   + 1.6448536 * sqrt(2.0 / (9.0 * (k_groups - 1))), 3.0)
             ), 4) AS f_crit
      FROM agg
    )
    SELECT k_groups, n_total,
           round((ssb / (k_groups - 1))
                 / (ssw / (n_total - k_groups)), 4) AS w_stat,
           f_crit,
           round((ssb / (k_groups - 1))
                 / (ssw / (n_total - k_groups)), 4) < f_crit
             AS var_homogeneous
    FROM crit
    WHERE k_groups > 1 AND n_total > k_groups AND ssw > 0
    """,
    note="Brown-Forsythe variance-homogeneity test (the assumption "
    "check behind stats_anova): exact per-type medians rounded 6 as "
    "the robust centers, then the anova machinery verbatim on "
    "|v - med|; one-row result, alphabet-sized tail",
)
def _stats_levene(spark, sf):
    return analytics.levene_brownforsythe(_t(spark, sf, "events"))


@_register(
    "window_ohlc",
    """
    WITH r AS (
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             value,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS r_open,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS r_close
      FROM events)
    SELECT user_id, day,
           max(CASE WHEN r_open = 1 THEN value END) AS open,
           max(value) AS high, min(value) AS low,
           max(CASE WHEN r_close = 1 THEN value END) AS close,
           count(*) AS n_readings
    FROM r GROUP BY user_id, day
    """,
    note="per-(user, day) OHLC candle resample -- order-sensitive "
    "companion of window_twap: open/close pinned by the (ts, "
    "event_id) total order, one (user, day) exchange shared by both "
    "rank windows and the final aggregate; days as midnight "
    "TIMESTAMP",
)
def _window_ohlc(spark, sf):
    return temporal.window_ohlc(_t(spark, sf, "events"))


@_register(
    "events_dau_wau_mau",
    """
    WITH du AS (
      SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
                      user_id
      FROM events),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, count(DISTINCT user_id) AS dau
            FROM du GROUP BY day),
    wfan AS (SELECT du.day + i * INTERVAL 1 DAY AS day, du.user_id
             FROM du, range(0, 7) t(i)),
    wau AS (SELECT f.day, count(DISTINCT f.user_id) AS wau
            FROM wfan f JOIN days USING (day) GROUP BY f.day),
    mfan AS (SELECT du.day + i * INTERVAL 1 DAY AS day, du.user_id
             FROM du, range(0, 30) t(i)),
    mau AS (SELECT f.day, count(DISTINCT f.user_id) AS mau
            FROM mfan f JOIN days USING (day) GROUP BY f.day)
    SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           CAST(mau AS BIGINT) AS mau,
           round(dau / mau, 4) AS stickiness
    FROM dau JOIN wau USING (day) JOIN mau USING (day)
    """,
    note="rolling distinct-user engagement (DAU/WAU/MAU + DAU/MAU "
    "stickiness): a rolling DISTINCT, not a rolling sum -- ONE "
    "distinct (day, user) collapse first, then x7/x30 fan-out on "
    "DISTINCT pairs (never raw events) to trailing window anchors, "
    "one count-distinct per anchor; days ship as midnight TIMESTAMP",
)
def _events_dau_wau_mau(spark, sf):
    return temporal.dau_wau_mau(_t(spark, sf, "events"))


@_register(
    "survival_kaplan_meier",
    """
    WITH u AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS f,
             max(CAST(ts AS TIMESTAMP)) AS l
      FROM events GROUP BY user_id),
    m AS (SELECT max(epoch_us(l)) AS mx_us FROM u),
    per AS (
      SELECT (epoch_us(l) - epoch_us(f)) // 86400000000 AS duration_d,
             CASE WHEN epoch_us(l) <= mx_us - 86400000000
                  THEN 1 ELSE 0 END AS observed
      FROM u, m),
    dur AS (
      SELECT duration_d, count(*) AS n_at_d, sum(observed) AS n_events,
             count(*) - sum(observed) AS n_censored
      FROM per GROUP BY duration_d),
    n AS (SELECT count(*) AS n_users FROM per),
    base AS (
      SELECT d.*,
             n.n_users - coalesce(sum(n_at_d) OVER (
               ORDER BY duration_d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM dur d, n),
    st AS (
      SELECT *,
             CASE WHEN n_events = 0 THEN 0
                  WHEN n_events < n_risk THEN
                    CAST(round((ln(CAST(n_risk - n_events AS DOUBLE))
                                - ln(CAST(n_risk AS DOUBLE)))
                               * 1000000.0) AS BIGINT)
             END AS f_mnat,
             max(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END) OVER (
               ORDER BY duration_d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wiped
      FROM base)
    SELECT duration_d, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_censored AS BIGINT) AS n_censored,
           CASE WHEN wiped = 1 THEN 0.0
                ELSE round(exp(sum(f_mnat) OVER (
                       ORDER BY duration_d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / 1000000.0), 6)
           END AS survival
    FROM st
    """,
    note="Kaplan-Meier survival over user activity lifetimes (churn "
    "observed after a 1-day silence before the observation edge -- "
    "the window that bisects this fixture's near-continuous users; "
    "30 days censors everyone, the join_asof_ttl lesson): KM factors "
    "as integer micro-nats, product as an exact integer prefix sum "
    "over the days-bounded duration table, one exp per row rounded "
    "6; risk-set wipe-out rows pin survival 0.0",
)
def _survival_kaplan_meier(spark, sf):
    return analytics.survival_kaplan_meier(_t(spark, sf, "events"))


@_register(
    "stats_fdr_bh",
    f"""
    WITH {_ZTEST_CTES.strip()},
    ptab AS (
      SELECT event_type, zscore,
             round(least(1.0, 2.0 * exp(-0.717 * abs(zscore)
                   - 0.416 * zscore * zscore)), 8) AS p_approx
      FROM ztab
    ),
    ranked AS (
      SELECT *,
             CAST(row_number() OVER (ORDER BY p_approx, event_type)
                  AS INTEGER) AS p_rank,
             count(*) OVER () AS m
      FROM ptab
    ),
    flagged AS (
      SELECT event_type, zscore, p_approx, p_rank,
             round(0.1e0 * p_rank / m, 8) AS bh_crit
      FROM ranked
    )
    SELECT event_type, zscore, p_approx, p_rank, bh_crit,
           p_rank <= coalesce(max(CASE WHEN p_approx <= bh_crit
                                       THEN p_rank END) OVER (), 0)
             AS rejected
    FROM flagged
    """,
    note="Benjamini-Hochberg FDR step-up over the per-type A/B "
    "z-tests (ab_test_ztest's CTE reused verbatim): closed-form "
    "normal-tail p (elementary ops only, identical doubles both "
    "engines, rounded 8 before ranking), two global windows over the "
    "ALPHABET-sized test table",
)
def _stats_fdr_bh(spark, sf):
    return analytics.fdr_bh(_t(spark, sf, "events"))


@_register(
    "train_shuffle_shard",
    """
    WITH keyed AS (
      SELECT doc_id,
             CAST((strpos('0123456789abcdef',
                   substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                  % 8 AS INT) AS shard,
             md5('order|' || CAST(doc_id AS VARCHAR)) AS h_order
      FROM documents
    )
    SELECT shard,
           CAST(row_number() OVER (PARTITION BY shard
                ORDER BY h_order, doc_id) AS INT) AS pos,
           doc_id
    FROM keyed
    """,
    note="deterministic global training shuffle: independent hash "
    "draws for shard and order; per-shard rank windows sort "
    "corpus/n_shards rows each — the physical shard write consumes "
    "this plan with zero extra shuffles",
)
def _train_shuffle_shard(spark, sf):
    return text.train_shuffle_shard(_t(spark, sf, "documents"))


@_register(
    "chunk_dedup",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(t, CAST(start AS INT),
                                 CAST(start AS INT) + 15), ' ')) AS chash
      FROM toks, unnest(range(1, len(t) + 1, 16)) AS r(start)
      WHERE len(t) >= 1
    ),
    dfreq AS (
      SELECT chash, count(DISTINCT doc_id) AS n_docs
      FROM chunks GROUP BY chash
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           round(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS dup_ratio
    FROM chunks c JOIN dfreq d USING (chash)
    GROUP BY c.doc_id
    """,
    note="C4/CCNet-style sub-document duplication profile: "
    "non-overlapping 16-token chunks, chunk document-frequency, "
    "per-doc dup ratio — the signal document-level dedup misses; "
    "shuffles 16-byte chunk hashes, never chunk text",
)
def _chunk_dedup(spark, sf):
    return text.chunk_dedup(_t(spark, sf, "documents"))


@_register(
    "embedding_knn_graph",
    """
    WITH scored AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6)
               AS cosine
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    )
    SELECT vec_id,
           CAST(row_number() OVER (PARTITION BY vec_id
                ORDER BY cosine DESC, neighbor_id) AS INT) AS rank,
           neighbor_id, cosine
    FROM scored
    QUALIFY rank <= 5
    """,
    note="exact cosine k-NN graph (declared-exact baseline; the ANN "
    "bucketed family is the corpus-scale candidate generator): "
    "precomputed norms, one rank window per source, rank keyed on "
    "the 6-decimal cosine for engine-deterministic order",
)
def _embedding_knn_graph(spark, sf):
    return similarity.embedding_knn_graph(_t(spark, sf, "embeddings"))


_SQL_LATERAL = """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
"""


@_register(
    "sql_lateral_top_orders",
    _SQL_LATERAL,
    note="LATERAL correlated subquery with per-row ORDER BY ... LIMIT "
    "(top-N per key in pure SQL): Catalyst decorrelates to a rank "
    "window — same text runs verbatim on the oracle engine",
)
def _sql_lateral_top_orders(spark, sf):
    from ..sql import run_sql

    return run_sql(spark, sf, _SQL_LATERAL)


_SQL_RECURSIVE_SPINE = """
    WITH RECURSIVE spine(m) AS (
      SELECT CAST(DATE '1995-01-01' AS DATE)
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
      WHERE m < DATE '1996-12-01'
    ),
    mo AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
      FROM orders
      WHERE o_orderdate >= DATE '1995-01-01'
        AND o_orderdate < DATE '1997-01-01'
      GROUP BY 1
    )
    SELECT CAST(s.m AS TIMESTAMP) AS month,
           COALESCE(mo.n_orders, 0) AS n_orders,
           COALESCE(mo.total_price, 0.0) AS total_price
    FROM spine s LEFT JOIN mo ON mo.m = s.m
"""


@_register(
    "sql_recursive_month_spine",
    _SQL_RECURSIVE_SPINE,
    note="WITH RECURSIVE intake (Spark 4 recursive CTE): bounded "
    "monotone date-spine generation LEFT-JOINed to a grouped "
    "aggregate so empty months survive as zero rows — the gap-"
    "preserving reporting shape; same text runs verbatim on the "
    "oracle engine. Recursion depth is the calendar span (24), "
    "independent of data volume; the aggregate side stays "
    "partial->final with the date filter pushed to the scan",
)
def _sql_recursive_month_spine(spark, sf):
    from ..sql import run_sql

    return run_sql(spark, sf, _SQL_RECURSIVE_SPINE)


#: Shared SQL fragment: the exact-Jaccard near-dup connected-components
#: chain (same construction as the dedup_cluster_components oracle),
#: parameterized by whichever ``toks`` CTE precedes it. Ends with
#: ``comp(doc_id, component_id)``.
_CC_CHAIN_SQL = """
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    com AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    prs AS (
      SELECT doc_a, doc_b
      FROM com
      JOIN sizes na ON com.doc_a = na.doc_id
      JOIN sizes nb ON com.doc_b = nb.doc_id
      WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM prs
      UNION ALL SELECT doc_b, doc_a FROM prs),
    reach(node, root) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node),
    comp AS (
      SELECT node AS doc_id, min(root) AS component_id
      FROM reach GROUP BY node)
"""


@_register(
    "dedup_cluster_keep_best",
    f"""
    WITH RECURSIVE {_QUALITY_MEASURES_CTE},
    {_CC_CHAIN_SQL},
    q AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM m),
    labeled AS (
      SELECT q.doc_id,
             coalesce(c.component_id, q.doc_id) AS component_id,
             q.quality
      FROM q LEFT JOIN comp c ON q.doc_id = c.doc_id),
    ranked AS (
      SELECT doc_id, component_id, quality,
             row_number() OVER (PARTITION BY component_id
                                ORDER BY quality DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY component_id) AS cluster_size
      FROM labeled)
    SELECT doc_id, component_id, quality,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM ranked WHERE rn = 1
    """,
    note="cluster representative selection: highest-quality doc "
    "survives each near-dup component (singletons survive trivially); "
    "rank + size share one window shuffle",
)
def _dedup_cluster_keep_best(spark, sf):
    return dedup.cluster_keep_best(_t(spark, sf, "documents"))


@_register(
    "split_by_cluster",
    f"""
    WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    {_CC_CHAIN_SQL},
    labeled AS (
      SELECT d.doc_id,
             coalesce(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
    SELECT doc_id, component_id,
           CASE
             WHEN substr(md5('csplit|' || CAST(component_id AS VARCHAR)), 1, 4)
                  < '{text.hash_threshold(text.SPLIT_TRAIN)}' THEN 'train'
             WHEN substr(md5('csplit|' || CAST(component_id AS VARCHAR)), 1, 4)
                  < '{text.hash_threshold(text.SPLIT_VAL)}' THEN 'val'
             ELSE 'test'
           END AS split
    FROM labeled
    """,
    note="leakage-free split: assignment hashes the near-dup COMPONENT "
    "id, so duplicate clusters can never straddle train/test -- the "
    "constructive fix for what split_leakage_audit measures",
)
def _split_by_cluster(spark, sf):
    return dedup.split_by_cluster(_t(spark, sf, "documents"))


@_register(
    "attribution_linear",
    f"""
    WITH staged AS (
      SELECT user_id, event_type,
             count(CASE WHEN event_type = 'purchase' THEN 1 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seg
      FROM {_EVTS}
    ),
    segd AS (
      SELECT event_type,
             count(CASE WHEN event_type <> 'purchase' THEN 1 END) OVER (
               PARTITION BY user_id, seg) AS n_touch,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id, seg) AS closed
      FROM staged
    )
    SELECT event_type AS attributed_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           round(sum(CAST(1.0 AS DOUBLE) / n_touch), 4) AS total_credit
    FROM segd
    WHERE event_type <> 'purchase' AND closed = 1
    GROUP BY 1
    """,
    note="linear multi-touch attribution: running purchase count "
    "segments each user's stream, every touch in a purchase-closed "
    "segment earns 1/n credit -- two windows, zero joins",
)
def _attribution_linear(spark, sf):
    return temporal.attribution_linear(_t(spark, sf, "events"))


@_register(
    "corpus_mix_temperature",
    """
    WITH agg AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS total,
             sum(sqrt(CAST(n_docs AS DOUBLE))) AS ptot
      FROM agg
    )
    SELECT lang, n_docs,
           round(n_docs / CAST(total AS DOUBLE), 6) AS natural_share,
           round(sqrt(CAST(n_docs AS DOUBLE)) / ptot, 6) AS temp_share,
           round((sqrt(CAST(n_docs AS DOUBLE)) / ptot)
                 / (n_docs / CAST(total AS DOUBLE)), 4) AS sample_factor
    FROM agg CROSS JOIN tot
    """,
    note="XLM-R temperature sampling plan (p ~ n^alpha, alpha=0.5): "
    "alphabet-sized after the first agg; sqrt because it is IEEE-"
    "correctly-rounded on every engine, unlike general pow",
)
def _corpus_mix_temperature(spark, sf):
    return text.corpus_mix_temperature(_t(spark, sf, "documents"))


@_register(
    "k_anonymity_audit",
    f"""
    SELECT lang, source,
           CAST(floor(n_chars / {text.KANON_BUCKET}.0) AS INTEGER) AS size_bucket,
           CAST(count(*) AS BIGINT) AS group_size,
           count(*) < {text.KANON_K} AS at_risk
    FROM documents
    GROUP BY 1, 2, 3
    """,
    note="k-anonymity audit over quasi-identifiers (lang, source, "
    "size bracket): groups smaller than k are the re-identification "
    "risk surface pii_redact alone cannot close; QI-cardinality output",
)
def _k_anonymity_audit(spark, sf):
    return text.k_anonymity_audit(_t(spark, sf, "documents"))


@_register(
    "l_diversity_audit",
    f"""
    SELECT lang,
           CAST(floor(n_chars / {text.KANON_BUCKET}.0) AS INTEGER) AS size_bucket,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT source) AS BIGINT) AS l_distinct,
           count(DISTINCT source) < 3 AS at_risk
    FROM documents
    GROUP BY 1, 2
    """,
    note="l-diversity audit (homogeneity-attack companion to "
    "k_anonymity_audit): QI = (lang, size bracket), sensitive = "
    "source; groups with < 3 distinct sources flagged; one "
    "partial->final aggregate, QI-cardinality output",
)
def _l_diversity_audit(spark, sf):
    return text.l_diversity_audit(_t(spark, sf, "documents"))


@_register(
    "t_closeness_audit",
    f"""
    WITH base AS (
      SELECT lang,
             CAST(floor(n_chars / {text.KANON_BUCKET}.0) AS INTEGER)
               AS size_bucket,
             source
      FROM documents),
    gs AS (SELECT lang, size_bucket, source, count(*) AS cnt_g
           FROM base GROUP BY 1, 2, 3),
    gmarg AS (SELECT source, count(*) AS cnt_all FROM base GROUP BY 1),
    n AS (SELECT count(*) AS n_big FROM base),
    cells AS (SELECT lang, size_bucket, sum(cnt_g) AS group_size
              FROM gs GROUP BY 1, 2),
    expanded AS (
      SELECT c.lang, c.size_bucket, c.group_size,
             abs(coalesce(g.cnt_g, 0) * n.n_big
                 - gl.cnt_all * c.group_size) AS num,
             n.n_big
      FROM cells c
      CROSS JOIN gmarg gl
      LEFT JOIN gs g ON g.lang = c.lang AND g.size_bucket = c.size_bucket
                    AND g.source = gl.source
      CROSS JOIN n)
    SELECT lang, size_bucket,
           CAST(max(group_size) AS BIGINT) AS group_size,
           round(sum(num) / (CAST(2 AS DOUBLE) * max(group_size)
                             * max(n_big)), 6) AS t_closeness,
           round(sum(num) / (CAST(2 AS DOUBLE) * max(group_size)
                             * max(n_big)), 6) > 0.45 AS at_risk
    FROM expanded
    GROUP BY lang, size_bucket
    """,
    note="t-closeness audit (Li et al. 2007; third rung after "
    "k-anonymity and l-diversity): per-QI-cell total-variation "
    "distance of the sensitive (source) distribution vs the corpus "
    "marginal, computed EXACTLY over integer cross-products "
    "(fold-order-free numerator, one division rounded 6); absent "
    "sources contribute their |0 - q| mass via the cells x sources "
    "expansion; threshold 0.45 bisects the fixture tvd range",
)
def _t_closeness_audit(spark, sf):
    return text.t_closeness_audit(_t(spark, sf, "documents"))


@_register(
    "embedding_standardize",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    u AS (
      SELECT vec_id, unnest(emb) AS v, generate_subscripts(emb, 1) AS dim
      FROM e
    ),
    s AS (
      SELECT dim, avg(v) AS mu, stddev_pop(v) AS sd FROM u GROUP BY dim
    )
    SELECT vec_id,
           dim - 1 AS dim,
           round(CASE WHEN sd <> 0 THEN (v - mu) / sd END, 6) AS std_value
    FROM u JOIN s USING (dim)
    """,
    note="column-wise z-score: per-dim partial->final stats collapse "
    "to one broadcast array row; constant dims standardize to NULL "
    "not Inf on both engines; LONG output (vec_id, dim, std_value) so "
    "every column is scalar -- an array<double> result column crashes "
    "a raw-column sort_values canonicalizer (driver ERR r07)",
)
def _embedding_standardize(spark, sf):
    return similarity.embedding_standardize(_t(spark, sf, "embeddings"))


@_register(
    "jobapi_reduce_side_join",
    """
    SELECT CAST(o_custkey AS VARCHAR) AS custkey,
           c_name,
           CAST(o_orderkey AS VARCHAR) AS orderkey
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    note="THE canonical hand-written MapReduce join through the Job "
    "API: tagged inputs, identity map, secondary-sort reduce (the dim "
    "record sorts first, fact side streams with O(1) state)",
)
def _jobapi_reduce_side_join(spark, sf):
    from ..jobs import ReduceSideJoinJob, run_job

    customers = _t(spark, sf, "customer").select(
        F.col("c_custkey").cast("string").alias("key"),
        F.concat(F.lit("C\t"), F.col("c_name")).alias("value"),
    )
    orders = _t(spark, sf, "orders").select(
        F.col("o_custkey").cast("string").alias("key"),
        F.concat(F.lit("O\t"), F.col("o_orderkey").cast("string")).alias("value"),
    )
    out = run_job(ReduceSideJoinJob, customers.unionByName(orders))
    sp = F.split("value", "\t")
    return out.select(
        F.col("key").alias("custkey"),
        sp.getItem(0).alias("c_name"),
        sp.getItem(1).alias("orderkey"),
    )


@_register(
    "equidepth_histogram",
    """
    WITH bounds AS (
      SELECT list_transform(
               quantile_cont(l_extendedprice,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
               b -> round(b, 4)) AS bs
      FROM lineitem
    ),
    assigned AS (
      SELECT l_extendedprice,
             CAST(len(list_filter(bs, b -> l_extendedprice >= b)) AS INTEGER)
               AS bucket
      FROM lineitem CROSS JOIN bounds
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
           round(min(l_extendedprice), 2) AS lo_price,
           round(max(l_extendedprice), 2) AS hi_price,
           round(avg(l_extendedprice), 4) AS avg_price
    FROM assigned GROUP BY bucket
    """,
    note="equi-depth histogram WITHOUT the global-ntile single-"
    "partition sort trap: exact percentile cut points (parallel "
    "partial->final), boundary array broadcast, assignment is a pure "
    "row expression",
)
def _equidepth_histogram(spark, sf):
    return relational.equidepth_histogram(_t(spark, sf, "lineitem"))


@_register(
    "winsorize_stats",
    f"""
    WITH ev AS (SELECT event_type, value FROM {_EVTS}),
    fences AS (
      SELECT event_type,
             round(quantile_cont(value, 0.01), 4) AS f_lo,
             round(quantile_cont(value, 0.99), 4) AS f_hi
      FROM ev GROUP BY event_type
    )
    SELECT ev.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN value < f_lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(sum(CASE WHEN value > f_hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           round(avg(value), 4) AS mean_raw,
           round(avg(least(greatest(value, f_lo), f_hi)), 4) AS mean_winsorized
    FROM ev JOIN fences USING (event_type)
    GROUP BY ev.event_type
    """,
    note="p01/p99 winsorization readout: clip-don't-drop outlier "
    "treatment; alphabet-sized fences broadcast back, fences rounded "
    "BEFORE clamping so clip decisions never hinge on float noise",
)
def _winsorize_stats(spark, sf):
    return temporal.winsorize_stats(_t(spark, sf, "events"))


@_register(
    "trend_regression",
    f"""
    WITH ev AS (
      SELECT event_type,
             (epoch(ts) - {temporal.TREND_EPOCH}) / 3600.0 AS x,
             value AS y
      FROM {_EVTS}
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(regr_slope(y, x), 6) AS slope_per_hour,
           round(regr_intercept(y, x), 4) AS intercept,
           round(regr_r2(y, x), 4) AS r2
    FROM ev GROUP BY event_type
    """,
    note="per-type least-squares trend (metric-drift monitor): one "
    "partial->final regr_* aggregate; x anchored near the data range "
    "so covariance accumulation is well-conditioned on both engines",
)
def _trend_regression(spark, sf):
    return temporal.trend_regression(_t(spark, sf, "events"))


@_register(
    "interval_merge",
    """
    WITH base AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
             epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s_us, e_us,
             CASE WHEN max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR s_us > max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS new_island
      FROM base
    ),
    islands AS (
      SELECT user_id, s_us, e_us,
             CAST(sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS INTEGER) AS island
      FROM flagged
    )
    SELECT user_id, island,
           make_timestamp(min(s_us)) AS span_start,
           make_timestamp(max(e_us)) AS span_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round((max(e_us) - min(s_us)) / 1000000.0, 4) AS span_s
    FROM islands GROUP BY user_id, island
    """,
    note="gaps-and-islands interval coalescing: running-max-of-ends "
    "window decides island starts, island id by running count in the "
    "SAME total order; all boundary math in integer microseconds",
)
def _interval_merge(spark, sf):
    return temporal.interval_merge(_t(spark, sf, "events"))


@_register(
    "curriculum_order",
    f"""
    WITH {_QUALITY_MEASURES_CTE},
    q AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM m),
    cuts AS (
      SELECT list_transform(
               quantile_cont(quality,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
               c -> round(c, 4)) AS cuts
      FROM q
    ),
    b AS (
      SELECT doc_id, quality,
             CAST(len(list_filter(cuts, c -> quality >= c)) AS INTEGER)
               AS bucket,
             md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM q CROSS JOIN cuts
    )
    SELECT doc_id, quality, bucket,
           CAST(row_number() OVER (
             PARTITION BY bucket ORDER BY shuffle_key, doc_id
           ) AS INTEGER) AS pos_in_bucket
    FROM b
    """,
    note="easy-to-hard curriculum by quality decile with deterministic "
    "md5 within-bucket shuffle: exact cut points broadcast (no global "
    "ntile sort), per-bucket row_number windows run parallel across "
    "buckets",
)
def _curriculum_order(spark, sf):
    return text.curriculum_order(_t(spark, sf, "documents"))


@_register(
    "stats_moments",
    f"""
    WITH ev AS (SELECT event_type, value FROM {_EVTS}),
    mu AS (
      SELECT event_type, round(avg(value), 6) AS mu FROM ev GROUP BY event_type
    ),
    cent AS (
      SELECT ev.event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             max(mu) AS mu,
             sum((value - mu) * (value - mu)) AS m2s,
             sum((value - mu) * (value - mu) * (value - mu)) AS m3s,
             sum((value - mu) * (value - mu) * (value - mu) * (value - mu)) AS m4s
      FROM ev JOIN mu USING (event_type)
      GROUP BY ev.event_type
    )
    SELECT event_type, n_events,
           round(mu, 4) AS mean,
           round(sqrt(m2s / n_events), 4) AS stddev,
           round((m3s / n_events) / pow(m2s / n_events, 1.5), 4) AS skewness,
           round((m4s / n_events) / pow(m2s / n_events, 2) - 3.0, 4) AS kurt_excess
    FROM cent
    """,
    note="per-type skewness/excess kurtosis from mean-centered power "
    "sums (built-in skewness/kurtosis differ cross-engine in sample "
    "corrections; the explicit population formula is engine-exact); "
    "centering constant pinned at 6 decimals, alphabet-sized broadcast "
    "join, both aggregations partial->final",
)
def _stats_moments(spark, sf):
    return temporal.stats_moments(_t(spark, sf, "events"))


@_register(
    "customer_rfm_segments",
    """
    WITH cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(max(o_orderdate) AS DATE)) AS INTEGER) AS r_v,
             CAST(count(*) AS BIGINT) AS f_v,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS m_dec
      FROM orders GROUP BY 1),
    th AS (
      SELECT round(quantile_cont(CAST(r_v AS DOUBLE), 0.25), 4) AS r1,
             round(quantile_cont(CAST(r_v AS DOUBLE), 0.50), 4) AS r2,
             round(quantile_cont(CAST(r_v AS DOUBLE), 0.75), 4) AS r3,
             round(quantile_cont(CAST(f_v AS DOUBLE), 0.25), 4) AS f1,
             round(quantile_cont(CAST(f_v AS DOUBLE), 0.50), 4) AS f2,
             round(quantile_cont(CAST(f_v AS DOUBLE), 0.75), 4) AS f3,
             round(quantile_cont(CAST(m_dec AS DOUBLE), 0.25), 4) AS m1,
             round(quantile_cont(CAST(m_dec AS DOUBLE), 0.50), 4) AS m2,
             round(quantile_cont(CAST(m_dec AS DOUBLE), 0.75), 4) AS m3
      FROM cust),
    seg AS (
      SELECT m_dec,
             CAST(1 + (CASE WHEN CAST(r_v AS DOUBLE) > r1 THEN 1 ELSE 0 END)
                    + (CASE WHEN CAST(r_v AS DOUBLE) > r2 THEN 1 ELSE 0 END)
                    + (CASE WHEN CAST(r_v AS DOUBLE) > r3 THEN 1 ELSE 0 END)
               AS INTEGER) AS r_q,
             CAST(1 + (CASE WHEN CAST(f_v AS DOUBLE) > f1 THEN 1 ELSE 0 END)
                    + (CASE WHEN CAST(f_v AS DOUBLE) > f2 THEN 1 ELSE 0 END)
                    + (CASE WHEN CAST(f_v AS DOUBLE) > f3 THEN 1 ELSE 0 END)
               AS INTEGER) AS f_q,
             CAST(1 + (CASE WHEN CAST(m_dec AS DOUBLE) > m1 THEN 1 ELSE 0 END)
                    + (CASE WHEN CAST(m_dec AS DOUBLE) > m2 THEN 1 ELSE 0 END)
                    + (CASE WHEN CAST(m_dec AS DOUBLE) > m3 THEN 1 ELSE 0 END)
               AS INTEGER) AS m_q
      FROM cust CROSS JOIN th)
    SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(m_dec) AS DOUBLE), 2) AS revenue
    FROM seg GROUP BY 1, 2, 3
    """,
    note="RFM quartile segmentation: all nine cut points from ONE "
    "grouped exact-quantile kernel call over the long-form (metric, "
    "value) stream (no global ntile sort), cut arrays broadcast back, "
    "bucket assignment a pure row expression, monetary exact DECIMAL "
    "end to end",
)
def _customer_rfm_segments(spark, sf):
    return analytics.customer_rfm_segments(_t(spark, sf, "orders"))


@_register(
    "event_paths_topk",
    f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM {_EVTS}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_type || '>' || e2 || '>' || e3 AS path,
           CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1 ORDER BY n_paths DESC, path LIMIT 20
    """,
    note="top-20 3-step event-type paths: one user-keyed window "
    "shuffle (two leads over the (ts, event_id) total order), "
    "alphabet^3-bounded count, TakeOrderedAndProject top-k (no "
    "global sort)",
)
def _event_paths_topk(spark, sf):
    return temporal.event_paths_topk(_t(spark, sf, "events"))


@_register(
    "stats_bootstrap_ci",
    """
    WITH hashed AS (
      SELECT l_returnflag, l_extendedprice,
             md5('bs|' || CAST(l_orderkey AS VARCHAR) || '|'
                 || CAST(l_linenumber AS VARCHAR)) AS h
      FROM lineitem),
    base AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
             + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
             + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
             + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) AS h8
      FROM hashed),
    full_s AS (
      SELECT l_returnflag, count(*) AS n, sum(x) AS sx,
             round(CAST(sum(x) AS DOUBLE) / 100.0 / count(*), 6) AS c
      FROM base GROUP BY 1),
    weighted AS (
      SELECT l_returnflag, x, b,
             CASE WHEN s2 < 385750 THEN 0
                  WHEN s2 < 771499 THEN 1
                  WHEN s2 < 964374 THEN 2
                  WHEN s2 < 1028665 THEN 3
                  WHEN s2 < 1044738 THEN 4
                  WHEN s2 < 1047953 THEN 5
                  WHEN s2 < 1048489 THEN 6
                  WHEN s2 < 1048565 THEN 7
                  WHEN s2 < 1048575 THEN 8
                  ELSE 9 END AS w
      FROM (
        SELECT l_returnflag, x, b,
               ((((h8 * 1000003 + b * 999999937) % 1048576) * 48271 + 11)
                  % 1048576) AS s2
        FROM base CROSS JOIN (SELECT unnest(range(0, 24)) AS b) r)),
    reps AS (
      SELECT l_returnflag, b, sum(w * x) AS swx, sum(w) AS sw
      FROM weighted GROUP BY 1, 2),
    means AS (
      SELECT r.l_returnflag, f.c,
             CAST(r.swx AS DOUBLE) / 100.0 / r.sw - f.c AS dev
      FROM reps r JOIN full_s f USING (l_returnflag)
      WHERE r.sw > 0),
    spread AS (
      SELECT l_returnflag, c, count(*) AS nb,
             sum(dev) AS sd, sum(dev * dev) AS sdd
      FROM means GROUP BY 1, 2)
    SELECT l_returnflag,
           round(c, 4) AS mean_price,
           round(sqrt((sdd - sd * sd / nb) / (nb - 1)), 4) AS se_boot,
           round(c - 1.96 * sqrt((sdd - sd * sd / nb) / (nb - 1)), 4) AS ci_lo,
           round(c + 1.96 * sqrt((sdd - sd * sd / nb) / (nb - 1)), 4) AS ci_hi
    FROM spread
    """,
    note="Poissonized bootstrap: per-(row, replicate) Poisson(1) "
    "weights from overflow-safe modular scrambles of an md5-derived "
    "integer (deterministic across engines/retries); replicate sums "
    "in exact DECIMAL, variance centered on the pinned full mean",
)
def _stats_bootstrap_ci(spark, sf):
    return analytics.stats_bootstrap_ci(_t(spark, sf, "lineitem"))


@_register(
    "dedup_sorted_neighborhood",
    f"""
    WITH keyed AS (
      SELECT doc_id,
             substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                       1, 16) AS sort_key
      FROM documents),
    ranked AS (
      SELECT doc_id, row_number() OVER (ORDER BY sort_key, doc_id) AS rn
      FROM keyed),
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(b.rn - a.rn AS INT) AS gap
      FROM ranked a
      JOIN ranked b ON b.rn > a.rn AND b.rn <= a.rn + 3),
    com AS (
      SELECT p.doc_a, p.doc_b, p.gap, count(*) AS c
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.doc_a
      JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2, 3)
    SELECT doc_a, doc_b, gap,
           round(c * 1.0 / (na.n + nb.n - c), 4) AS jaccard
    FROM com JOIN sizes na ON com.doc_a = na.doc_id
             JOIN sizes nb ON com.doc_b = nb.doc_id
    WHERE round(c * 1.0 / (na.n + nb.n - c), 4) >= 0.4
    """,
    note="sorted-neighborhood blocking: exact two-phase global rank "
    "on the normalized prefix key (no single-partition window), "
    "rank-equi candidate join bounded by window * N, row-local "
    "array_intersect Jaccard verify; rounded-then-filtered on both "
    "sides (oracle's range join is the brute-force mirror)",
)
def _dedup_sorted_neighborhood(spark, sf):
    return dedup.dedup_sorted_neighborhood(_t(spark, sf, "documents"))


