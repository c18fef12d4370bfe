"""Sources section of the declared query registry: reads and writes
through ``sources.roundtrip`` and ``sources.kvtext_datasource`` (file
formats, partition pruning, schema evolution, compaction, dynamic
overwrite)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .core import _register


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
