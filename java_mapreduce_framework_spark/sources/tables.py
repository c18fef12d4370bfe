"""Table sources.

Two source families, mirroring the reference's single source plus the
engine's canonical fixture format:

1. ``read_kv_text_dir`` -- the reference's native source: a directory
   of plain-text files, one ``key\\tvalue`` record per line
   (scan at ``worker/WorkerServlet.java:510-530``, parse at
   ``worker/MapThread.java:50-51``). Kept for Job-API fidelity tests.
2. ``load_table`` -- parquet fixture tables (TESTDATA.md). Columnar,
   predicate-pushdown- and column-pruning-friendly; this is the 100 TB
   path (a directory of parquet files partitioned on disk behaves
   identically).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: session -> {(parquet path, source_fingerprint): footer schema}; see
#: ``load_table``. Weak keys: a stopped session's schemas go with it.
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], StructType]] = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table through ``spark.read.schema(...)`` so no
    call after the first pays a schema-inference job, and Catalyst
    still gets pushdown and pruning. No data is cached here (operators
    decide).

    Schema cache: ``_SCHEMAS`` maps a live session to the footer
    schemas it has inferred, keyed by ``(path,
    source_fingerprint(sf_dir, name))``. The first load in a session
    infers the footer once (one Spark job); later loads reuse the
    ``StructType``. A new session infers again: inference depends on
    session conf (``nanosAsLong`` below). The fingerprint (size +
    mtime_ns) is in the key so a regenerated fixture is re-inferred
    instead of being read under its old columns. Only the schema is
    kept -- metadata, not a result: every scan still reads the current
    file inside the caller's timed region, so this is not result
    memoization.

    ``events.ts`` has shipped under two physical parquet types across
    fixture generations: TIMESTAMP(NANOS) (which Spark cannot
    represent -- read nanos as long, floor-divide to microseconds) and
    plain TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark
    reads as TIMESTAMP_NTZ -- cast to the session-zone TIMESTAMP,
    identical instants under the engine's pinned UTC session). Both
    normalize to the same microsecond instants the DuckDB oracle sees
    via ``CAST(ts AS TIMESTAMP)``, so the choice is detected from the
    cached schema, not assumed. ``nanosAsLong`` is set on every events
    load: the scan needs it with an explicit ``LongType`` too.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schemas = _SCHEMAS.setdefault(spark, {})
    key = (path, source_fingerprint(sf_dir, name))
    if key not in schemas:
        schemas[key] = spark.read.parquet(path).schema
    schema = schemas[key]
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        ts_type = schema["ts"].dataType.typeName()
        if ts_type == "long":  # TIMESTAMP(NANOS) read as raw nanos
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if ts_type == "timestamp_ntz":
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def source_fingerprint(sf_dir: str, *names: str) -> str:
    """Cheap content key for staged-artifact invalidation: size and
    mtime of each source parquet file. ``sources.staging`` records it
    (``_STAGED`` in directory stages, ``_SOURCE_FP`` in warehouse
    tables) and re-stages when it changes, so a regenerated fixture
    can never be silently shadowed by a stale staged copy (the
    failure mode: queries read the stage, the DuckDB oracle reads the
    fresh parquet). ``load_table`` also keys its schema cache on it."""
    import pathlib

    parts = []
    for name in names:
        st = pathlib.Path(f"{sf_dir}/{name}.parquet").stat()
        parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


#: optimized-plan node classes a leaf scan may contain: projections
#: and filters over a source relation -- none of them adds an exchange
_LEAF_SCAN_NODES = frozenset(
    {
        "Project",
        "Filter",
        "LogicalRelation",
        "DataSourceV2Relation",
        "DataSourceV2ScanRelation",
        "LocalRelation",
        "LogicalRDD",
    }
)


def _is_leaf_scan(df: DataFrame) -> bool:
    """True iff every node of ``df``'s optimized logical plan is a
    projection, a filter or a source relation (walks node classes;
    plan-string matching misreads aliases and literals)."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() not in _LEAF_SCAN_NODES:
            return False
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return True


def spread_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Input-skew guard for operators with heavy PRE-SHUFFLE work
    (optimization guide §2.5: "one huge unsplittable file ...
    repartition immediately after the read").

    The fixture tables are single-file single-ROW-GROUP parquet, so a
    scan is ONE task regardless of cores or ``maxPartitionBytes`` --
    and every expensive map-side chain above it (explode+hash streams,
    wide md5 fan-outs, Arrow kernels) serializes on one core while the
    other N-1 idle. Measured on stats_permutation_test at sf0.1 /
    local[32]: 4.4 s -> 1.4 s from this guard alone.

    The guard is CONDITIONAL on the scan's actual split count, so at
    production scale (splits >= cores -- any healthy 100 TB layout) it
    returns the input unchanged and adds NO exchange. When it fires,
    it hash-repartitions on ``key_cols`` (deterministic under task
    retry, and no sort-before-repartition cost -- round-robin
    ``repartition(n)`` pays a per-partition sort, measured +50% on a
    600k-row spread) to ``default_parallelism()`` partitions. Pass a
    high-cardinality key (the table's id column); callers should
    project to the needed columns FIRST so the exchange carries only
    those bytes.
    """
    from ..session import default_parallelism

    n = default_parallelism()
    # INPUT CONTRACT (ADVICE r12): the split probe below uses .rdd,
    # which under AQE finalizes the adaptive plan -- on a plan that
    # contains exchanges that means EXECUTING the upstream shuffle
    # stages as real jobs during what looks like plan inspection. So
    # the probe only runs on LEAF SCANS (projections/filters over a
    # source relation, where .rdd just builds the physical RDD chain,
    # ~50 ms, no job); any other input (a join, aggregate, sort,
    # window, repartition, limit ...) established its own parallelism
    # and passes through unchanged -- the same no-op contract as a
    # production multi-split layout.
    if not _is_leaf_scan(df):
        return df
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *[F.col(c) for c in key_cols])


def read_csv(
    spark: SparkSession, path: str, schema: str | None = None, header: bool = True
) -> DataFrame:
    """CSV interchange source. Pass an explicit DDL ``schema`` in
    production -- schema inference is a full extra pass over the data
    and type-drifts between runs; at 100 TB both are unacceptable."""
    r = spark.read.option("header", str(header).lower())
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", "true")
    return r.csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """JSON-lines interchange source; same explicit-schema guidance as
    CSV. Corrupt records land in ``_corrupt_record`` (PERMISSIVE mode)
    instead of failing the scan -- filter them, don't crash a 100 TB
    read on one bad line."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar source — same pushdown/pruning posture as parquet;
    completes the read side of the ``write_table`` format matrix."""
    return spark.read.orc(path)


def read_kv_text_dir(spark: SparkSession, path: str) -> DataFrame:
    """Reference-native source: directory of text files of
    ``key\\tvalue`` lines -> DataFrame(key string, value string).

    Mirrors the semantics of the reference scan: every line is one
    record, split at the first tab (``worker/MapThread.java:50-51``
    uses ``split("\\t")`` and takes fields 0 and 1, so content after a
    second tab is dropped -- we reproduce the two-field contract by
    limiting the split).
    """
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), "\t", 2)
    # F.get, not getItem: a tabless line has no second field, and
    # under ANSI semantics getItem(1) would fail the whole scan on
    # one malformed line — get() degrades it to a null value instead
    return lines.select(
        F.get(parts, 0).alias("key"),
        F.get(parts, 1).alias("value"),
    )
