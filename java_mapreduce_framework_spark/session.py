"""SparkSession construction for the engine.

Local-mode defaults mirror the test/bench environment (one JVM,
``local[N]`` threads); every knob here is chosen so the same plan
shape survives a real multi-executor cluster at 100 TB:

- AQE on: runtime coalescing, skew-join splitting, and dynamic join
  strategy selection replace any hand-scheduling (the reference has
  none either -- SURVEY.md section 4.1).
- ``spark.sql.shuffle.partitions`` ~= cores locally; on a cluster this
  should be 2-3x total cores (or left to AQE's coalescing).
- Arrow on: every Pandas-UDF operator (Job API, multimodal decode)
  rides vectorized Arrow batches instead of row pickling.
- Session timezone pinned UTC so timestamp semantics match the
  DuckDB oracle (UTC-naive) and are cluster-location-independent.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Sizing basis for scale-adaptive partitioning (spread_scan,
    iterative-loop widths, stream state partitions).

    Priority: the harness env (``SPARK_GRAFT_CPUS`` -- the bench
    driver's contract) > the LIVE cluster's
    ``sparkContext.defaultParallelism`` (total cores across executors
    -- the real fact on a cluster where the env is unset; r13, VERDICT
    item 3: clamping to a constant 32 at 100 TB is exactly the
    "constant tuned for the wrong environment" these helpers exist to
    remove) > 32 (the local bench default, no session yet)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        return sc.defaultParallelism
    return 32


#: target state rows per shuffle partition inside iterative loops --
#: small enough that a partition is always a few MB, large enough that
#: a production-scale graph still fans out to every core
_LOOP_ROWS_PER_PARTITION = 100_000


@contextlib.contextmanager
def _loop_shuffle_partitions(spark, n_state_rows: int):
    """Scale-adaptive shuffle partitioning for ITERATIVE loops
    (optimization guide §2: derive partitioning from input size, not a
    constant tuned for either local mode or the cluster).

    Every round of an iterative graph op runs joins/aggregates over a
    state table of ~n_state_rows rows, and every exchange inherits the
    session-wide ``spark.sql.shuffle.partitions`` -- sized for corpus
    scans, not for the (usually far smaller) loop state. AQE coalesces
    the post-shuffle READ side but each ``localCheckpoint`` still
    materializes, schedules, and re-reads the full partition count
    every round, so rounds pay task-scheduling cost proportional to
    the constant, not the data (measured at sf0.1 / local[32]:
    pagerank 9.5 s -> 6.0 s from this alone).

    The partition count derives from the MEASURED state size
    (ceil(rows / _LOOP_ROWS_PER_PARTITION), clamped to
    [1, default_parallelism()]), so a 100 TB graph still uses every
    core while a small one stops paying per-round scheduling for idle
    partitions. The sizing probe is a single scalar the callers
    already materialize (vertex/label counts). Conf is restored on
    exit -- the loop's exchanges bind it at plan time."""
    # size up from the state (ceil(rows / target)), but keep a floor
    # of 8-way parallelism (or all cores when fewer) so each round's
    # real join/aggregate work still runs multi-core at small state
    # sizes -- the floor is what the measured 9.5 s -> 6.0 s pagerank
    # win used; 1 partition re-serializes the per-round work
    parts = min(
        default_parallelism(),
        max(8, -(-int(n_state_rows) // _LOOP_ROWS_PER_PARTITION)),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def get_spark(app_name: str = "jmrf-spark", cpus: int | None = None) -> SparkSession:
    n = cpus or default_parallelism()
    return (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12 (guide §3.1/§9): allow shuffled-hash join where its size
        # conditions hold -- equality joins never benefit from
        # sort-merge's ordering, and skipping both sorts measured -18%
        # across the SQL intake family at sf0.1. The planner still
        # guards the build side (canBuildLocalHashMap: per-partition
        # build must fit under the broadcast threshold), AQE skew-join
        # splitting applies to SHJ too, and SMJ remains the fallback
        # for oversized builds -- the production posture the guide
        # recommends outright.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # default generated-class cache is 100 entries; an engine
        # session serving the full registry compiles more distinct
        # plans than that, and eviction re-pays 2-10s codegen per
        # plan. Sized at ~10x the registry's ~300 queries (each query
        # compiles several WholeStageCodegen fragments plus per-run
        # variants) so a full bench sweep never cycles the cache.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session.

    The verification driver owns its SparkSession; these are the
    confs whose defaults would silently change semantics (timezone)
    or performance (AQE, Arrow). All are runtime-mutable.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # see get_spark: shuffled-hash join where it fits (guide §3.1)
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    return spark
