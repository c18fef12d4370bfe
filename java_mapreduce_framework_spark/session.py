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

import os
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


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


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    *,
    probe: Sequence[Column] = (),
    every: int = 1,
) -> tuple[DataFrame, bool]:
    """Run ``state = step(state, i)`` for ``i`` in ``range(rounds)``: the
    one runner of every iterative DataFrame loop in the package (the
    reference's chain of map/reduce jobs through its FIFO job queue,
    SURVEY.md section 2A). Operators write the round body; this owns
    the three decisions every loop makes about its state:

    - **Lineage.** The initial state is checkpointed eagerly
      (``localCheckpoint``), then the state again every ``every``
      rounds and always after the last, so a round plans against at
      most ``every`` rounds of lineage (unbounded plan growth is what
      kills naive iterative DataFrame code) and the returned state is
      materialized. ``localCheckpoint`` keeps the blocks on the
      executors, unreplicated: losing an executor fails the query
      instead of recomputing -- the same trade as
      ``operators.graph._undirected``'s pair checkpoint.
    - **Shuffle width.** Every exchange in a round inherits
      ``spark.sql.shuffle.partitions``, sized for corpus scans, not for
      the (usually far smaller) loop state; AQE coalesces only the read
      side, so each checkpoint would schedule the full count every
      round (measured at sf0.1 / local[32]: pagerank 9.5 s -> 6.0 s
      from sizing alone). The width is derived from the initial
      state's row count n: ``min(default_parallelism(), max(8,
      ceil(n / _LOOP_ROWS_PER_PARTITION)))`` -- a floor of 8-way (or
      all cores, when fewer) so small states still run multi-core,
      and every core for a production-scale state. The conf is
      restored in a ``finally``: the loop's exchanges bind it when
      each checkpoint plans.
    - **Stop test.** ``probe`` is a list of aggregate columns over the
      state. With a probe the state is checkpointed every round
      (``every`` is ignored) and the loop stops at the first round
      whose probe row equals the previous round's -- a single-row
      scalar fetch, never row data.

    n and the probe ride in one aggregate per fetch. Returns ``(state,
    converged)``: ``converged`` is True iff the probe reached a
    fixpoint within ``rounds``, and always False without a probe
    (fixed-round loops have no stop test)."""

    def fetch(df: DataFrame) -> tuple:
        row = df.agg(F.count("*"), *probe).first()
        return row[0], tuple(row[1:])

    state = state.localCheckpoint()
    n, last = fetch(state)
    spark = state.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    parts = min(default_parallelism(), max(8, -(-n // _LOOP_ROWS_PER_PARTITION)))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        for i in range(rounds):
            state = step(state, i)
            if probe or (i + 1) % every == 0 or i == rounds - 1:
                state = state.localCheckpoint()
            if probe:
                _, cur = fetch(state)
                if cur == last:
                    return state, True
                last = cur
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return state, False


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
