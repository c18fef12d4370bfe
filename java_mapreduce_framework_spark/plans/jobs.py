"""The ``Job(map, reduce)`` API analog (SURVEY.md section 2C, M2).

The reference's entire extensibility surface is a two-method class:

    map(String key, String value, Context)      Job.java:19
    reduce(String key, String[] values, Context) Job.java:31

instantiated reflectively by fully-qualified class name
(``worker/MapThread.java:64-68``, ``worker/ReduceThread.java:67-73``)
-- per record/group, so user functions are stateless by construction.

Engine mapping:

- ``Job`` protocol: ``map(key, value) -> Iterable[(k, v)]`` and
  ``reduce(key, values) -> Iterable[(k, v)]`` over strings.
- ``run_job``: map via ``mapInPandas`` (Arrow batches, multi-emit),
  shuffle via hash repartition on key (the reference's
  SHA-1-range partitioner, ``job/WordCountContext.java:84-91``, is
  just Spark's HashPartitioning contract: equal keys co-locate),
  reduce via sort-within-partition + streaming group coalescing in
  ``mapInPandas`` -- the literal analog of the reference's external
  sort then contiguous-group scan (``worker/WorkerServlet.java:
  449-496``), and ~10x faster than a per-group ``applyInPandas``
  call when keys are many and groups small (one Python/Arrow
  round-trip per PARTITION, not per KEY).
- ``resolve_job``: dotted-path import, mirroring ``Class.forName``.
- ``JobQueue``: the master's single-job FIFO scheduler semantics
  (``master/MasterServlet.java:325-351``) as a thin sequential runner
  with the status page's counters.

Scale caveat (documented contract, like the reference's): ``reduce``
receives all values of a key materialized -- fine for bounded groups,
hostile for mega-keys. Algebraic aggregations should use declared
operators (``operators/relational.py``) which keep partial
aggregation; ``run_job`` exists for arbitrary user logic parity.
"""

from __future__ import annotations

import importlib
import pathlib
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field
from typing import Protocol

import pandas as pd

from pyspark.sql import DataFrame

_REPO_ROOT = pathlib.Path(__file__).resolve().parents[2]


class Job(Protocol):
    """User job: both methods must be pure/stateless (the reference
    re-instantiates the class per record/group, enforcing the same)."""

    def map(self, key: str, value: str) -> Iterable[tuple[str, str]]: ...

    def reduce(self, key: str, values: list[str]) -> Iterable[tuple[str, str]]: ...


def resolve_job(path: str) -> type:
    """Dotted-path class loading, the ``Class.forName`` analog."""
    module, _, cls = path.rpartition(".")
    return getattr(importlib.import_module(module), cls)


@dataclass
class JobCounters:
    """The status page's per-job counters (keysRead / keysWritten,
    updated by ``worker/MapThread.java:56-63`` and
    ``worker/ReduceThread.java:51-58,81-89``), as Spark accumulators:
    updates flow back with task results, no extra pass over the data.
    Same contract as the reference's single-run counters; Spark task
    retries/speculation can over-count (standard accumulator caveat),
    which the reference avoided only by having no retries at all."""

    keys_read: object  # pyspark Accumulator[int]
    keys_written: object

    @classmethod
    def create(cls, df: DataFrame) -> "JobCounters":
        sc = df.sparkSession.sparkContext
        return cls(sc.accumulator(0), sc.accumulator(0))


def run_job(
    job_cls: type | str,
    input_df: DataFrame,
    num_partitions: int | None = None,
    counters: JobCounters | None = None,
    combine: bool = False,
) -> DataFrame:
    """Execute a Job over DataFrame(key string, value string) ->
    DataFrame(key string, value string).

    Phases mirror the reference dataflow: map (multi-emit, Arrow
    batched) -> hash shuffle on key -> grouped reduce. Parallelism is
    partitions x cores instead of the reference's mapthreads /
    reducethreads worker pools (``worker/WorkerServlet.java:541-569``).
    ``counters``, when given, accumulate records-in and emissions per
    phase, mirroring the reference's counter semantics (map: one read
    per record; reduce: one read per group; writes per emit).

    **Secondary-sort contract**: reduce receives ``values`` in
    lexicographic order. The reference guarantees this incidentally —
    its external sort orders whole ``key\\tvalue`` lines
    (``worker/WorkerServlet.java:449-471``, ``runsort.sh``), so equal
    keys sort by value before group coalescing (``:472-496``) — and
    MapReduce jobs classically rely on it (the secondary-sort idiom).
    Python's code-point sort matches the C-locale bytewise sort for
    UTF-8 (UTF-8 preserves code-point order).

    **Combiner** (``combine=True``): the Hadoop-style map-side
    pre-aggregation the reference never had -- the job's ``reduce``
    runs once per key WITHIN each Arrow batch before the shuffle, so
    the exchange carries one partial per (batch, key) instead of one
    row per map emission. Correct exactly when ``reduce`` is
    associative and emits values mergeable by another ``reduce`` pass
    (the classic combiner-eligibility contract; WordCount's sum
    qualifies). This matches Hadoop's "combiner may run zero or more
    times" semantics -- the final reduce still sees a valid value
    multiset, just pre-folded.
    """
    if isinstance(job_cls, str):
        job_cls = resolve_job(job_cls)

    def map_phase(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        job = job_cls()
        for pdf in batches:
            keys, values = [], []
            for k, v in zip(pdf["key"], pdf["value"]):
                for ok, ov in job.map(k, v):
                    keys.append(ok)
                    values.append(ov)
            if counters is not None:
                counters.keys_read.add(len(pdf))
            if combine and keys:
                groups: dict[str, list] = {}
                for ok, ov in zip(keys, values):
                    groups.setdefault(ok, []).append(ov)
                keys, values = [], []
                for gk in groups:
                    vs = sorted(groups[gk], key=lambda v: (v is not None, v))
                    for ck, cv in job.reduce(gk, vs):
                        keys.append(ck)
                        values.append(cv)
            if counters is not None:
                counters.keys_written.add(len(keys))
            yield pd.DataFrame({"key": pd.Series(keys, dtype="object"),
                                "value": pd.Series(values, dtype="object")})

    def reduce_phase(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Streaming group coalescing over a (key, value)-sorted
        # partition: the reduce sees each key's values exactly once,
        # in lexicographic order (Spark's ascending UTF8String sort is
        # bytewise == code-point order for UTF-8, NULLs first -- same
        # total order the old in-Python sort produced). Groups that
        # straddle Arrow batch boundaries carry over; emissions flush
        # per batch so held state is one group + one batch of output.
        job = job_cls()
        cur_key: str | None = None
        cur_vals: list = []
        in_group = False
        out_k: list = []
        out_v: list = []

        def fold_current() -> None:
            for ok, ov in job.reduce(cur_key, cur_vals):
                out_k.append(ok)
                out_v.append(ov)
            if counters is not None:
                counters.keys_read.add(1)

        for pdf in batches:
            for k, v in zip(pdf["key"], pdf["value"]):
                if not in_group or k != cur_key:
                    if in_group:
                        fold_current()
                    cur_key, cur_vals, in_group = k, [], True
                cur_vals.append(v)
            if out_k:
                if counters is not None:
                    counters.keys_written.add(len(out_k))
                yield pd.DataFrame({"key": pd.Series(out_k, dtype="object"),
                                    "value": pd.Series(out_v, dtype="object")})
                out_k, out_v = [], []
        if in_group:
            fold_current()
        if out_k:
            if counters is not None:
                counters.keys_written.add(len(out_k))
            yield pd.DataFrame({"key": pd.Series(out_k, dtype="object"),
                                "value": pd.Series(out_v, dtype="object")})

    mapped = input_df.select("key", "value").mapInPandas(
        map_phase, schema="key string, value string"
    )
    shuffled = (
        mapped.repartition(num_partitions, "key")
        if num_partitions
        else mapped.repartition("key")
    )
    # NULLs-first ascending sort: a job emitting None must not crash
    # the ordering (the reference can't express null values, so their
    # position is engine-defined); matches the old Python key
    # ``(v is not None, v)``.
    return shuffled.sortWithinPartitions("key", "value").mapInPandas(
        reduce_phase, schema="key string, value string"
    )


def documents_kv_dir(spark, sf_dir: str) -> pathlib.Path:
    """The documents fixture as the reference's input format: a
    directory of ``doc_id\\ttext`` lines (fixture text contains no tabs
    or newlines, so lines round-trip exactly), staged at
    ``.tmp/jobapi/<sf>_documents_kv`` once per fixture generation by
    ``sources.staging.stage_once``. Its ``_STAGED`` marker is invisible
    to both kv readers (``_``-prefixed files are skipped)."""
    from pyspark.sql import functions as F

    from ..sources import staging
    from ..sources.sinks import write_kv_text_dir
    from ..sources.tables import load_table, source_fingerprint

    def build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("string").alias("key"), F.col("text").alias("value")
        )
        write_kv_text_dir(docs, tmp)

    sf_name = pathlib.Path(sf_dir).name
    stage = _REPO_ROOT / ".tmp" / "jobapi" / f"{sf_name}_documents_kv"
    return staging.stage_once(stage, source_fingerprint(sf_dir, "documents"), build)


def wordcount_job_e2e(spark, sf_dir: str) -> DataFrame:
    """The literal reference job lifecycle, disk-to-disk: a directory
    of ``key\\tvalue`` text lines (scan contract:
    ``worker/WorkerServlet.java:510-530``, parse:
    ``worker/MapThread.java:50-51``) through ``run_job(WordCountJob)``
    into the ``key\\tvalue`` text sink
    (``job/WordCountContext.java:115-127``), then read back from the
    sink. Exercises source, Job API, and sink as one pipeline -- the
    exact path a reference user's job takes, with Spark supplying the
    shuffle/barrier the master/worker servlets implemented.

    The kv input directory is ``documents_kv_dir`` (re-staged when the
    documents fixture changes). The sink is one directory per fixture,
    ``.tmp/jobapi/<sf>_wordcount_out``, which the overwrite-mode text
    sink wipes before each run, as the reference wipes its output
    directory (``worker/WorkerServlet.java:654-669``). A returned
    DataFrame therefore reads its run's output only until the next
    call on the same fixture.
    """
    from pyspark.sql import functions as F

    from ..sources.sinks import write_kv_text_dir
    from ..sources.tables import read_kv_text_dir

    in_dir = documents_kv_dir(spark, sf_dir)
    out_dir = _REPO_ROOT / ".tmp" / "jobapi" / f"{pathlib.Path(sf_dir).name}_wordcount_out"
    kv_in = read_kv_text_dir(spark, str(in_dir))
    write_kv_text_dir(run_job(WordCountJob, kv_in), str(out_dir))
    back = read_kv_text_dir(spark, str(out_dir))
    return back.select(
        F.col("key").alias("word"), F.col("value").cast("bigint").alias("cnt")
    )


class WordCountJob:
    """The engine's WordCount through the Job API: map pre-aggregates
    per record (the reference's combiner pattern,
    ``job/WordCount.java:25-42``) and reduce sums the partial counts
    -- standard total-occurrence semantics."""

    def map(self, key: str, value: str) -> Iterable[tuple[str, str]]:
        from ..functions.text import tokenize_py

        counts: dict[str, int] = {}
        for tok in tokenize_py(value):
            counts[tok] = counts.get(tok, 0) + 1
        return [(w, str(n)) for w, n in counts.items()]

    def reduce(self, key: str, values: list[str]) -> Iterable[tuple[str, str]]:
        return [(key, str(sum(int(v) for v in values)))]


class LiteralWordCountJob(WordCountJob):
    """Bug-for-bug reference semantics: reduce returns values.length
    (``job/WordCount.java:51``) = number of records containing the
    word, since map emits each word once per record."""

    def reduce(self, key: str, values: list[str]) -> Iterable[tuple[str, str]]:
        return [(key, str(len(values)))]


class InvertedIndexJob:
    """Second worked Job example (beyond the reference's shipped
    WordCount): word -> sorted distinct posting list. map emits each
    distinct word of a record once with the record key; reduce
    deduplicates and sorts the postings. Exercises the multi-emit map
    and a non-algebraic reduce over the full value set -- exactly the
    contract the reference's ``reduce(key, values[])`` hands users."""

    def map(self, key: str, value: str) -> Iterable[tuple[str, str]]:
        from ..functions.text import tokenize_py

        return [(w, key) for w in sorted(set(tokenize_py(value)))]

    def reduce(self, key: str, values: list[str]) -> Iterable[tuple[str, str]]:
        postings = sorted(set(values), key=int)
        return [(key, ",".join(postings))]


class CountOfCountsJob:
    """Stage-2 job for the classic chained-MapReduce demo: consumes
    WordCount output (word, count) and produces the frequency
    histogram (count, how many words occur that often). map re-keys
    each record by its count; reduce sums the ones — the same
    pattern the reference composes by pointing job N+1's inputdir at
    job N's outputdir through the FIFO queue
    (``master/MasterServlet.java:98-105``)."""

    def map(self, key: str, value: str) -> Iterable[tuple[str, str]]:
        return [(value, "1")]

    def reduce(self, key: str, values: list[str]) -> Iterable[tuple[str, str]]:
        return [(key, str(sum(int(v) for v in values)))]


class DistributedGrepJob:
    """Distributed grep, the other canonical MapReduce example from
    Dean & Ghemawat's paper (the reference ships only WordCount --
    `src/edu/upenn/cis455/mapreduce/job/WordCount.java` -- but its
    Job API expresses grep directly): map emits the record unchanged
    when the value matches the pattern, reduce is the identity. The
    map-only shape means the engine's combiner/shuffle machinery sees
    a degenerate (key-unique) grouping -- a deliberate contract probe:
    jobs with identity reduces must round-trip values untouched."""

    PATTERN = "dup"

    def map(self, key: str, value: str) -> Iterable[tuple[str, str]]:
        return [(key, value)] if self.PATTERN in value else []

    def reduce(self, key: str, values: list[str]) -> Iterable[tuple[str, str]]:
        return [(key, v) for v in values]


class ReduceSideJoinJob:
    """Classic tagged reduce-side equi-join — THE canonical MapReduce
    join a user of the reference framework would hand-write (the
    reference ships no join operator; its Job API is how you'd get
    one). Inputs arrive pre-tagged: dimension records as ``C\\t<name>``
    and fact records as ``O\\t<id>``, keyed by the join key; map is the
    identity.

    The reduce exploits the engine's **secondary-sort contract**
    (values arrive lexicographically sorted, see ``run_job``): ``C``
    sorts before ``O``, so the single dimension record is read FIRST
    and the fact side streams through with O(1) held state — the
    textbook secondary-sort join optimization that makes reduce-side
    joins viable when one key has millions of fact records. Keys with
    no dimension record emit nothing (inner-join semantics).

    NOT combiner-eligible: the reduce is stateful across the group's
    value order, the opposite of the associative-fold contract
    ``combine=True`` requires."""

    def map(self, key: str, value: str) -> Iterable[tuple[str, str]]:
        return [(key, value)]

    def reduce(self, key: str, values: list[str]) -> Iterable[tuple[str, str]]:
        dim = None
        for v in values:
            if v.startswith("C\t"):
                dim = v[2:]
            elif dim is not None:
                yield key, dim + "\t" + v[2:]


@dataclass
class QueuedJob:
    name: str
    job_cls: type | str
    input_df: DataFrame
    status: str = "pending"  # pending -> mapping/reducing -> done (WorkerStatus states)
    result: DataFrame | None = None
    counters: JobCounters | None = None


@dataclass
class JobQueue:
    """Single-job-at-a-time FIFO, the master's scheduling contract
    (one in-process job, head-of-queue dispatch on completion --
    ``master/MasterServlet.java:145-178,325-351``). Spark supplies the
    phase barrier the master implemented with worker heartbeats."""

    _queue: list[QueuedJob] = field(default_factory=list)
    history: list[QueuedJob] = field(default_factory=list)

    def submit(self, name: str, job_cls: type | str, input_df: DataFrame) -> QueuedJob:
        qj = QueuedJob(name, job_cls, input_df)
        self._queue.append(qj)
        return qj

    def run_all(self) -> list[QueuedJob]:
        while self._queue:
            qj = self._queue.pop(0)
            qj.status = "running"
            qj.counters = JobCounters.create(qj.input_df)
            qj.result = run_job(qj.job_cls, qj.input_df, counters=qj.counters)
            # Force completion so FIFO semantics are real, not lazy --
            # and so the counters are final when status_page is read.
            qj.result = qj.result.localCheckpoint(eager=True)
            qj.status = "done"
            self.history.append(qj)
        return self.history

    def status_page(self) -> list[dict]:
        """The master status page's job table, as data
        (``master/MasterServlet.java:257-317``), including the
        keysRead/keysWritten counters the reference renders per
        worker (here: per job, summed across tasks)."""
        return [
            {
                "name": j.name,
                "status": j.status,
                "keys_read": j.counters.keys_read.value if j.counters else 0,
                "keys_written": j.counters.keys_written.value if j.counters else 0,
            }
            for j in (*self.history, *self._queue)
        ]
