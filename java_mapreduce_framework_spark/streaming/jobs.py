"""Structured Streaming forms of the batch operators (SURVEY.md M6): the
unbounded analog of the reference's continuous job queue
(``master/MasterServlet.java:145-178``), which runs the same map/reduce
logic as its batch jobs.

The queries are built from three shared pieces:

- **one source** -- ``_read_stream`` opens a fixture table as a
  parquet file-source stream (staged directory, schema from
  ``load_table``'s cache, never inferred); only the kvtext, CDC and
  index-ingest queries read sources of their own;
- **one drain** -- every query runs through ``_drain``, which runs a
  bounded query to completion with ``trigger(availableNow)`` under
  the streaming partition count and removes its checkpoint however
  the run ends; ``_drain_to_memory`` is its memory-sink form;
- **the batch twin** -- a query with a batch operator returns that
  operator applied to the stream (``stream_wordcount`` is
  ``text.wordcount`` over the documents stream), so on bounded input
  the drained result equals the batch run: the declared equivalence
  check, SURVEY.md section 5.2.

Production shape at scale: source = Kafka/files arriving, sink =
parquet/Delta with a durable checkpoint, outputMode=update or append +
watermark on event time for bounded state. The memory sink + complete
mode is the bounded-fixture harness, not the deployment posture; the
watermarked queries (``stream_tumbling_window_watermarked``,
``stream_session_window_watermarked``, ``stream_dedup_watermarked``,
``stream_daily_active_users``) exercise it.
"""

from __future__ import annotations

import contextlib
import os
import pathlib
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators import dedup, relational, temporal, text
from ..sources import staging
from ..sources.tables import load_table, source_fingerprint

_REPO_ROOT = pathlib.Path(__file__).resolve().parents[2]


def _stage_stream_dir(spark: SparkSession, sf_dir: str, table: str) -> str:
    """The parquet file source requires a *directory*; fixtures are
    single files. Stage each (sf, table) under .tmp/stream/ with
    ``sources.staging.stage_once``: a symlink for plain tables, a
    rewritten microsecond-timestamp copy for events (whose
    TIMESTAMP(NANOS) physical type Spark cannot scan -- see
    sources.tables.load_table). Keyed by the source parquet's
    fingerprint, so a regenerated fixture re-stages instead of being
    shadowed by the stale copy."""

    def build(tmp: str) -> None:
        if table == "events":
            load_table(spark, sf_dir, table).write.mode("overwrite").parquet(
                f"{tmp}/data"
            )
        else:
            src = os.path.abspath(f"{sf_dir}/{table}.parquet")
            os.symlink(src, f"{tmp}/{table}.parquet")

    sf_name = pathlib.Path(sf_dir).name
    stage = _REPO_ROOT / ".tmp" / "stream" / f"{sf_name}_{table}"
    staging.stage_once(stage, source_fingerprint(sf_dir, table), build)
    return str(stage / "data") if table == "events" else str(stage)


def _read_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """The one stream source: fixture ``table`` as a parquet
    file-source stream over its staged directory, with the schema
    ``load_table`` resolved for the batch operators."""
    path = _stage_stream_dir(spark, sf_dir, table)
    return spark.readStream.schema(load_table(spark, sf_dir, table).schema).parquet(path)


def _ckpt_root() -> pathlib.Path:
    """Checkpoint parent for bounded drains: state-store and commit-log
    I/O dominates small-batch stateful queries, so prefer tmpfs
    (/dev/shm) when present. Production deployments pass a durable
    checkpointLocation instead (see stream_tumbling_window_watermarked);
    this root only serves the bounded-equivalence harness, where the
    checkpoint is discarded after the drain."""
    shm = pathlib.Path("/dev/shm")
    base = shm if shm.is_dir() else (_REPO_ROOT / ".tmp")
    return base / "jmrf_ckpt"


def stream_state_partitions(spark) -> int:
    """Shuffle/state partition count for streaming queries.

    A stateful streaming operator creates ONE state-store instance per
    shuffle partition, and every microbatch commits a delta file (plus
    periodic snapshot + maintenance) per store; streaming also has no
    AQE, so nothing coalesces the constant away. The per-partition
    fixed cost therefore scales with ``spark.sql.shuffle.partitions``
    itself, not with data (measured at sf0.1 / local[32]:
    stream_tumbling_window_watermarked 7.1 s @ 32 partitions -> 2.7 s
    @ 8 -> 1.7 s @ 4; stream_stream_join 6.4 s -> 4.4 s @ 8).

    State partitions are PINNED by the checkpoint at first start, so
    production sizes them for peak state volume up front --
    ``JMRF_STREAM_STATE_PARTITIONS`` (typically 2-3x total cores on a
    cluster; cannot be changed without a new checkpoint). The local
    default min(8, cores) suits the bounded fixture drains, whose
    state is KB-scale."""
    env = os.environ.get("JMRF_STREAM_STATE_PARTITIONS")
    if env:
        return int(env)
    from ..session import default_parallelism

    return min(8, default_parallelism())


@contextlib.contextmanager
def _stream_conf(spark):
    """Scope the streaming partition count to one bounded drain: the
    query binds ``spark.sql.shuffle.partitions`` when it starts; the
    session-wide (batch) value is restored on exit."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(stream_state_partitions(spark))
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    ckpt: pathlib.Path | None = None,
    keep_ckpt: bool = False,
) -> None:
    """The one bounded drain: start ``writer`` (sink and output mode
    already chosen) under the streaming partition count, run it to
    completion with ``trigger(availableNow)``, and remove its
    checkpoint -- a fresh one under ``_ckpt_root()`` unless ``ckpt``
    is given -- however the run ends. ``keep_ckpt`` leaves it for a
    following resume."""
    ckpt = ckpt or _ckpt_root() / f"ckpt_{uuid.uuid4().hex[:12]}"
    try:
        with _stream_conf(spark):
            writer.option("checkpointLocation", str(ckpt)).trigger(
                availableNow=True
            ).start().awaitTermination()
    finally:
        if not keep_ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)


def _drain_to_memory(stream_df: DataFrame, mode: str = "complete") -> DataFrame:
    """Drain into a memory sink and return its rows. The sink's
    ``mem_<uuid>`` view is dropped once the returned DataFrame holds
    the sink, so the rows live only as long as that DataFrame."""
    spark = stream_df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    _drain(spark, stream_df.writeStream.outputMode(mode).format("memory").queryName(name))
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming flagship: ``text.wordcount`` over the documents stream."""
    return _drain_to_memory(text.wordcount(_read_stream(spark, sf_dir, "documents")))


def stream_kvtext_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole lifecycle, streaming: its ``key\\tvalue``
    directory format consumed through the REGISTERED custom source
    (``readStream.format("kvtext")`` — partition-per-new-file
    microbatches, sources/kvtext_datasource.py) into ``text.wordcount``.
    Bounded drain of the staged directory equals the batch wordcount —
    the declared oracle."""
    from ..plans.jobs import documents_kv_dir
    from ..sources.kvtext_datasource import register_kvtext

    in_dir = documents_kv_dir(spark, sf_dir)
    register_kvtext(spark)
    kv = spark.readStream.format("kvtext").load(str(in_dir))
    docs = kv.select(F.col("key").alias("doc_id"), F.col("value").alias("text"))
    return _drain_to_memory(text.wordcount(docs))


def stream_sessionize(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Streaming gap-based sessionization: ``temporal.session_window_agg``
    over the events stream -- true streaming session state (windows
    merge as late events arrive; SURVEY.md section 7 stretch item).

    Unbounded posture: add ``withWatermark('ts', ...)`` + update mode
    so closed sessions emit and their state is dropped
    (``stream_session_window_watermarked``); complete mode here keeps
    the bounded-equality contract."""
    events = _read_stream(spark, sf_dir, "events")
    return _drain_to_memory(temporal.session_window_agg(events, gap))


def stream_dedup_watermarked(
    spark: SparkSession, sf_dir: str, delay: str = "3650 days"
) -> DataFrame:
    """Streaming dedup via the NATIVE bounded-state API,
    ``dropDuplicatesWithinWatermark`` -- the production answer when
    "duplicates arrive close together in event time" (retries,
    at-least-once sources): state per key lives only until the
    watermark passes its event time + delay, so the store is bounded
    by the duplicate horizon, not by stream history. Its sibling
    ``stream_dedup_state`` keeps a per-key aggregate forever; when the
    need is plain dedup-within-horizon, this operator's state eviction
    is engine-managed.

    Emits the KEY COLUMNS ONLY: within one horizon the operator
    guarantees exactly one row per key, but WHICH physical row
    survives is arrival-order-dependent -- projecting the key makes
    the output deterministic, and on bounded input (delay spanning
    the whole fixture) it equals ``SELECT DISTINCT`` over the keys,
    the declared oracle. Short-delay eviction behavior is exercised
    in tests/test_streaming.py with a two-file forced batch order."""
    deduped = (
        _read_stream(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts")
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _drain_to_memory(deduped, mode="append")


def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup against the PERSISTED corpus index --
    the continuous-crawl production shape: documents arrive as a
    stream, each microbatch is sketched row-locally and LSH-probed
    against the bucketed MinHash index, emitting the new-vs-corpus
    near-dup pairs as they surface.

    Composition per microbatch (via ``foreachBatch``, so full batch
    semantics apply inside): ``minhash_signatures_rowlocal`` (no
    shuffle -- per-doc state is bounded by doc length, exactly right
    for streaming where each doc is one arriving row) feeds
    ``probe_minhash_index`` (exchange-free on the index side). Pair
    dedup within the batch is EXACT across the whole stream because
    candidates are keyed by the arriving doc: each doc_a's pairs are
    produced entirely in the microbatch that carries doc_a.

    Batch-stream equivalence: a doc's signature and band hashes are
    bit-identical to the batch aggregation path (asserted in tests),
    so the bounded drain equals ``dedup_incremental_minhash`` on the
    same batch -- the declared check. Output goes to a parquet sink
    per batch (append; batch-id idempotence is demonstrated separately
    by ``stream_foreachbatch_idempotent``)."""
    sf_name = pathlib.Path(sf_dir).name
    name = f"mh_idx_{sf_name.replace('.', '_')}"
    corpus = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 != 0)
    dedup.build_minhash_index(
        spark, corpus, name, source_fp=source_fingerprint(sf_dir, "documents")
    )
    sink = _REPO_ROOT / ".tmp" / "stream" / f"{sf_name}_increment_sink" / "sink"
    shutil.rmtree(sink, ignore_errors=True)

    def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        sigs = dedup.minhash_signatures_rowlocal(
            batch_df.filter(F.col("doc_id") % 10 == 0)
        ).select("doc_id", "sig")
        dedup.probe_minhash_index(spark, sigs, name).write.mode("append").parquet(str(sink))

    docs = _read_stream(spark, sf_dir, "documents")
    _drain(spark, docs.writeStream.foreachBatch(probe_batch))
    return spark.read.parquet(str(sink))


def stream_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact streaming dedup: ``dedup.dedup_exact`` over the documents
    stream -- a native streaming ``groupBy(content_hash).agg(min,
    count)`` whose state store keeps, per content hash, the lowest
    doc_id seen and the copy count across microbatches.

    Complete mode emits each key's current (keep_doc_id, n_copies), so
    on bounded input the final state equals the batch ``dedup_exact``
    aggregation -- the declared oracle. State per key is two int64s:
    at 100 TB the state store scales with DISTINCT hashes only, and a
    production deployment would add state TTL via the timeout conf."""
    return _drain_to_memory(dedup.dedup_exact(_read_stream(spark, sf_dir, "documents")))


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static equi-join: the event stream enriched with the
    static customer dimension, aggregated per market segment.

    Stream-static joins are *stateless* on the stream side -- every
    microbatch joins against the current static snapshot, so no
    watermark or join state store is involved (contrast stream-stream
    joins, which buffer both sides). The dim is explicitly broadcast:
    per microbatch the stream partitions never shuffle for the join,
    which is the only sane shape for a 100 TB/day stream against a
    dimension that fits in memory; a big dimension would instead be a
    bucketed/Delta table co-partitioned with the stream's shuffle.
    """
    customer = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    agg = (
        _read_stream(spark, sf_dir, "events")
        .join(customer, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    return _drain_to_memory(agg)


def stream_tumbling_window(
    spark: SparkSession, sf_dir: str, duration: str = "1 hour"
) -> DataFrame:
    """Streaming tumbling-window aggregation: ``temporal.tumbling_window_agg``
    over the events stream. On an unbounded source this would add
    ``withWatermark('ts', ...)`` and update/append mode
    (``stream_tumbling_window_watermarked``); complete mode keeps
    bounded-input equality."""
    events = _read_stream(spark, sf_dir, "events")
    return _drain_to_memory(temporal.tumbling_window_agg(events, duration))


def stream_tumbling_window_watermarked(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "1 hour",
    delay: str = "30 minutes",
) -> DataFrame:
    """The *unbounded-deployment* posture as a declared operator:
    ``temporal.tumbling_window_agg`` over the watermarked events stream
    in APPEND mode into a real file sink (parquet + checkpoint), then
    the sink read back.

    This is what the complete-mode bounded-equality queries don't
    exercise: ``withWatermark`` bounds the window state store (closed
    windows are evicted), append mode emits each window exactly once
    -- when the watermark passes its end -- and the parquet sink +
    checkpoint is the restartable production shape of the reference's
    continuous job queue.

    Bounded-equivalence contract: emissions accumulate in the sink
    regardless of microbatch slicing, so on a bounded fixture the sink
    holds exactly the windows whose end <= final watermark
    (max event time - delay); trailing windows stay in state and are
    deliberately withheld. The oracle applies the same cutoff.

    One run directory per fixture, ``.tmp/stream/<sf>_wm_tumbling``
    (sink ``out/``, checkpoint ``ckpt/``): it is wiped before each
    run, so every drain starts from an empty sink and a fresh
    checkpoint, and the checkpoint is removed once the drain ends. A
    returned DataFrame therefore reads its run's output only until the
    next call on the same fixture.
    """
    events = _read_stream(spark, sf_dir, "events").withWatermark("ts", delay)
    agg = temporal.tumbling_window_agg(events, duration)
    run = _REPO_ROOT / ".tmp" / "stream" / f"{pathlib.Path(sf_dir).name}_wm_tumbling"
    shutil.rmtree(run, ignore_errors=True)
    writer = agg.writeStream.outputMode("append").format("parquet").option("path", str(run / "out"))
    _drain(spark, writer, run / "ckpt")
    # explicit schema: a zero-emission run leaves no data files to
    # infer from (cannot happen on the fixtures, but fail loud > flaky)
    return spark.read.schema(agg.schema).parquet(str(run / "out"))


def stream_sliding_window(
    spark: SparkSession, sf_dir: str, size: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Streaming hopping-window aggregation: ``temporal.sliding_window_agg``
    over the events stream -- the SAME ``window(size, slide)`` generator
    plan runs under the microbatch executor, each event expanding into
    size/slide overlapping windows before the partial aggregation.
    Unbounded deployment adds ``withWatermark`` to bound window state;
    complete mode keeps bounded-input equality with the batch
    operator."""
    events = _read_stream(spark, sf_dir, "events")
    return _drain_to_memory(temporal.sliding_window_agg(events, size, slide))


def stream_stream_join(
    spark: SparkSession, sf_dir: str, lookback: str = "30 minutes", delay: str = "1 hour"
) -> DataFrame:
    """Watermarked stream-stream inner join: click events joined to
    the same user's view events within a ``lookback`` window -- the
    attribution-join shape (view precedes click by at most 30 min).

    Both sides carry watermarks and the join predicate bounds
    ``view_ts`` on BOTH sides of ``click_ts``, which is what lets the
    state store evict buffered rows once the watermark passes --
    without the time bound, a stream-stream join buffers forever.
    Inner-join rows emit as soon as both sides arrive (the watermark
    gates only state cleanup, not emission), so on the bounded fixture
    the drained result equals the equivalent batch self-join -- the
    declared oracle.

    100 TB posture: both streams shuffle-partition on ``user_id``;
    per-key buffered state is bounded by rate x (lookback + delay).
    The join keeps 4 state stores per shuffle partition (key/value x
    left/right), sized like every drain by ``stream_state_partitions``.
    """
    return _click_view_join(spark, sf_dir, lookback, delay, "inner")


def _click_view_join(spark, sf_dir, lookback, delay, how):
    events = _read_stream(spark, sf_dir, "events")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("view_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", delay)
    )
    joined = clicks.join(
        views,
        F.expr(
            f"""
            user_id = view_user_id
            AND view_ts BETWEEN click_ts - INTERVAL {lookback} AND click_ts
            """
        ),
        how,
    ).select("user_id", "click_id", "view_id")
    return _drain_to_memory(joined, mode="append")


def stream_stream_join_left(
    spark: SparkSession, sf_dir: str, lookback: str = "30 minutes", delay: str = "1 hour"
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join -- the attribution
    shape of ``stream_stream_join`` plus the semantics users get wrong:
    an unmatched click emits its null-view row only when the joint
    watermark proves no matching view can still arrive (watermark past
    ``click_ts``, the top of the click's match window), at which point
    its buffered state is evicted. Matched pairs emit immediately,
    exactly as in the inner join.

    Bounded-equivalence contract: the drained sink holds every matched
    pair, but ONLY those null rows whose click cleared the final
    watermark (max event time - ``delay``); trailing unmatched clicks
    are withheld, as on a live stream. The declared oracle is the batch
    left join with the null rows restricted to that cutoff. The final
    no-data microbatch (on by default) is what flushes the last
    evictions; without it the drain would under-emit.

    Same 100 TB posture as the inner form -- see ``stream_stream_join``
    (state keyed on user_id, bounded by rate x (lookback + delay)).
    """
    return _click_view_join(spark, sf_dir, lookback, delay, "left_outer")


def stream_session_window_watermarked(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    delay: str = "30 minutes",
) -> DataFrame:
    """Unbounded-posture sessionization: ``temporal.session_window_agg``
    over the watermarked events stream in APPEND mode -- a session
    emits exactly once, when the watermark passes its merged window end
    (last event + gap), and its state is dropped. Completes the
    streaming window matrix next to the watermarked tumbling query
    (fixed windows) and complete-mode ``stream_sessionize``
    (bounded-equality form).

    Bounded-equivalence contract: the drained sink holds exactly the
    batch sessions whose last event <= max event time - delay - gap
    (window end = last event + gap, watermark = max - delay) --
    verified empirically against the batch plan and encoded in the
    declared oracle's HAVING cutoff. Trailing open sessions are
    deliberately withheld, as on a live stream."""
    events = _read_stream(spark, sf_dir, "events").withWatermark("ts", delay)
    return _drain_to_memory(temporal.session_window_agg(events, gap), mode="append")


def stream_foreachbatch_idempotent(
    spark: SparkSession, sf_dir: str, replays: int = 1, resumes: int = 0
) -> DataFrame:
    """Exactly-once file sink via ``foreachBatch`` + batch-id keyed
    dynamic partition overwrite -- the production recovery posture for
    sinks without transactional streaming support.

    Each microbatch writes its rows into a ``batch_id=<n>`` partition
    with ``partitionOverwriteMode=dynamic``: a replayed batch (restart
    after failure, checkpoint rollback) OVERWRITES its own partition
    instead of appending a duplicate -- idempotence comes from the
    (deterministic) batch id keying the write, not from the sink being
    transactional. An append-mode sink here would double-count on every
    replay; that is precisely the mistake this pattern exists to avoid.

    The declared query makes the claim falsifiable: it drains the
    bounded stream once, then REPLAYS the whole drain ``replays`` more
    times from a fresh checkpoint (same files, same availableNow
    batching, so the same batch ids rewrite the same partitions), and
    returns per-type counts read back from the sink. Any duplication
    would show up against the batch ``GROUP BY`` oracle. ``resumes``
    adds drains from the previous drain's KEPT checkpoint: the commit
    log marks the source files done, so a resume processes zero
    batches and leaves the sink untouched.

    100 TB posture: the sink write inherits the stream's parallelism
    (one file per task per partition), dynamic overwrite touches only
    the replayed batch's partition directory, and recovery cost is one
    batch rewrite -- nothing rescans the sink. ``batch_id`` is a
    physical recovery key, not a query dimension; readers prune it out.
    """
    root = _REPO_ROOT / ".tmp" / "stream" / f"{pathlib.Path(sf_dir).name}_fbsink"
    sink = root / "sink"
    shutil.rmtree(root, ignore_errors=True)
    events = _read_stream(spark, sf_dir, "events").select("event_id", "user_id", "event_type")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(str(sink))
        )

    n = 1 + replays + resumes
    for i in range(n):
        # a replay starts from no checkpoint; a resume from the one the
        # drain before it kept
        writer = events.writeStream.foreachBatch(write_batch)
        _drain(spark, writer, root / "ckpt", keep_ckpt=replays <= i < n - 1)
    return spark.read.parquet(str(sink)).groupBy("event_type").agg(F.count("*").alias("n_events"))


def stream_quality_filter(
    spark: SparkSession, sf_dir: str, min_quality: float = 0.5
) -> DataFrame:
    """Streaming ingest curation: the BATCH ``text.quality_score``
    operator applied UNCHANGED to a document stream, filtered at the
    keep threshold — the unified batch/stream contract in one line.
    Because the operator is map-only (pure row expressions), the
    streaming plan is stateless append mode: no state store, no
    watermark, unbounded-safe at any rate, and each microbatch is
    embarrassingly parallel. This is the production shape for
    score-and-drop at ingest time (dedup against the corpus index is
    the stateful sibling, ``stream_dedup_incremental``)."""
    docs = _read_stream(spark, sf_dir, "documents")
    kept = text.quality_score(docs).filter(F.col("quality") >= min_quality)
    return _drain_to_memory(kept, mode="append")


def stream_topk_windowed(
    spark: SparkSession, sf_dir: str, duration: str = "1 hour", k: int = 3
) -> DataFrame:
    """Streaming "trending now": top-k event types per tumbling
    window. Structured Streaming cannot rank inside an unbounded
    aggregation (rank needs the window CLOSED), so this is the
    standard two-tier topology: the stream maintains the windowed
    counts — the unbounded, high-volume half — and the rank runs as a
    bounded batch query over the drained aggregate, whose size is
    windows × type-alphabet regardless of input rate. In a live
    deployment the rank tier reads the continuously-updated sink
    (or runs in foreachBatch on each update); bounded-input drain
    keeps the result equal to the batch oracle.

    Emits (window_start, event_type, n_events, rnk).
    """
    agg = (
        _read_stream(spark, sf_dir, "events")
        .groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    counts = _drain_to_memory(agg)
    rank_w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        counts.withColumn("rnk", F.row_number().over(rank_w))
        .filter(F.col("rnk") <= k)
    )


def stream_index_ingest(
    spark: SparkSession, sf_dir: str, n_slices: int = 4
) -> DataFrame:
    """The FULL growing-corpus ingest lifecycle as a stream -- the
    step past ``stream_dedup_incremental``'s probe-only shape: each
    microbatch is LSH-probed against the persisted index, its
    SURVIVORS (docs with no near-dup in the corpus-so-far) are
    appended back into the index inside the same ``foreachBatch``,
    so LATER microbatches deduplicate against EARLIER microbatches'
    survivors with no re-index ever. This is the continuous-crawl
    loop ``dedup_index_append`` stages once, run end to end under
    streaming semantics.

    Verdict AS DATA (the dedup_index_append oracle discipline): the
    streamed survivor set must equal a sequential batch replay of the
    same slices (probe -> ``dedup_incremental_apply`` ->
    ``dedup_index_append``, same order); one row per streamed doc,
    ``ingest_match`` TRUE iff stream and replay agreed on its fate --
    so the plain SQL oracle pins every row TRUE. Docs WITHIN one
    microbatch are probed against the index only, not each other --
    in BOTH paths, by the same incremental-apply contract.

    Microbatch order is pinned: the streamed tenth of the corpus is
    staged as ``n_slices`` parquet files with strictly increasing
    mtimes, and the file source runs ``maxFilesPerTrigger=1`` with
    ``latestFirst=false``, so slices arrive oldest-first exactly as
    the replay consumes them.

    Staged once per fixture generation (``_DONE_FP`` marker): a rerun
    on the same fixture reads the persisted verdict parquet; a
    regenerated fixture drops both ingest indexes and replays the
    whole lifecycle. 100 TB posture: per microbatch the corpus never
    reshuffles (both index joins bucketed on the index side), and the
    append writes stay bucket-spec-preserving -- state grows with
    survivors only."""
    sf_name = pathlib.Path(sf_dir).name
    tag = sf_name.replace(".", "_")
    fp = source_fingerprint(sf_dir, "documents")
    root = _REPO_ROOT / ".tmp" / "stream" / f"{sf_name}_index_ingest"
    src, sink = root / "src", root / "sink"
    done = root / "_DONE_FP"
    verdict_path = str(root / "verdict")
    if done.exists() and done.read_text() == fp:
        return spark.read.parquet(verdict_path)

    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    name_s, name_r = f"mh_ing_s_{tag}", f"mh_ing_r_{tag}"
    for nm in (name_s, name_r):
        for suffix in ("_bands", "_sigs"):
            spark.sql(f"DROP TABLE IF EXISTS {nm}{suffix}")

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    streamed = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "slice", (F.col("doc_id") / 10 % n_slices).cast("int")
    )
    for i in range(n_slices):
        p = src / f"slice_{i}.parquet"
        streamed.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.mode("overwrite").parquet(str(p))
        t = time.time() + i  # strictly increasing mtimes, slice order
        for f_ in pathlib.Path(p).rglob("*"):
            os.utime(f_, (t, t))
        os.utime(p, (t, t))

    dedup.build_minhash_index(spark, corpus, name_s)
    dedup.build_minhash_index(spark, corpus, name_r)

    schema = spark.read.parquet(str(src / "slice_0.parquet")).schema

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        survivors = dedup.dedup_incremental_apply(spark, batch_df, name_s)
        dedup.dedup_index_append(spark, survivors, name_s)
        # the append's saveAsTable runs on the MICROBATCH CLONE
        # session (batch_df's lineage), which refreshes the clone's
        # relation cache only -- without an explicit refresh the
        # OUTER session's probe would read a stale file listing and
        # the next batch would silently miss this batch's survivors
        # (observed, not hypothetical: the crafted cross-batch dup
        # survived until this line existed)
        spark.catalog.refreshTable(f"{name_s}_bands")
        spark.catalog.refreshTable(f"{name_s}_sigs")
        survivors.select("doc_id").write.mode("append").parquet(str(sink))

    slices = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(src) + "/*.parquet")
    )
    _drain(spark, slices.writeStream.foreachBatch(ingest_batch))

    # sequential batch replay, same slice order, same per-slice contract
    replay_parts = []
    for i in range(n_slices):
        sl = spark.read.parquet(str(src / f"slice_{i}.parquet"))
        sv = dedup.dedup_incremental_apply(spark, sl, name_r)
        dedup.dedup_index_append(spark, sv, name_r)
        replay_parts.append(sv.select("doc_id").localCheckpoint())
    replay = replay_parts[0]
    for p_ in replay_parts[1:]:
        replay = replay.unionByName(p_)

    stream_sv = spark.read.parquet(str(sink)).withColumn(
        "in_stream", F.lit(True)
    )
    replay_sv = replay.withColumn("in_replay", F.lit(True))
    verdict = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
        .join(stream_sv, "doc_id", "left")
        .join(replay_sv, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.coalesce("in_stream", F.lit(False))
                == F.coalesce("in_replay", F.lit(False))
            ).alias("ingest_match"),
        )
    )
    verdict.write.mode("overwrite").parquet(verdict_path)
    done.write_text(fp)
    return spark.read.parquet(verdict_path)


#: milliseconds per unit of a ``"<n> <unit>[s]"`` delay string
_DELAY_UNIT_MS = {
    "millisecond": 1,
    "second": 1_000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def _delay_ms(delay: str) -> int:
    """Parse a watermark-style delay (``"30 minutes"``, ``"1 day"``,
    ``"500 milliseconds"``) into integer milliseconds."""
    units = "|".join(_DELAY_UNIT_MS)
    m = re.fullmatch(rf"(\d+)\s+({units})s?", delay.strip())
    if not m:
        raise ValueError(f"unsupported delay {delay!r}")
    return int(m.group(1)) * _DELAY_UNIT_MS[m.group(2)]


def stream_session_timeout(
    spark: SparkSession,
    sf_dir: str,
    gap_s: int = 1800,
    delay: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessions per user (the ``sessionize`` contract) with
    the emission rule of a timer-driven session close: a trailing
    session emits only once the final watermark (max event time -
    ``delay``) has passed its timeout at last_event + gap; earlier
    sessions, closed by a later event of the same user, always emit.

    How it runs: a complete-mode drain of ``temporal.session_window_agg``
    over the events stream (the ``stream_sessionize`` plan) into an
    in-memory table, then a batch post-pass over that small session
    table:

    - session boundaries: native ``session_window`` merges an event
      into the open session when ``t - last <= gap`` (inclusive --
      pinned by tests/test_opt_r13.py's exact-boundary fixture),
      which is exactly the declared contract (``t - last > gap``
      starts a new session);
    - ``closed_by``: a session later followed by another in-stream
      event of the same user was closed by that event ('gap'); only
      each user's chronologically LAST session can time out;
    - emission: 'gap' sessions always emit; the trailing session
      emits iff max event time - delay (ms granularity) passed
      last_event + gap -- the exact integer arithmetic of the
      declared oracle, so the bounded drain == batch sessions minus
      the withheld tail.

    What it does not do: the stream sets no watermark and fires no
    timer. Complete mode keeps every session in state, so state grows
    without bound on an unbounded stream, and no session is closed
    mid-stream; the timeout labels are decided after the drain. No
    registered query exercises timer-driven mid-stream closure.
    """
    delay_ms = _delay_ms(delay)
    gap_us = gap_s * 1_000_000
    events = _read_stream(spark, sf_dir, "events")
    out = _drain_to_memory(temporal.session_window_agg(events, f"{gap_us} microseconds"))
    end_us = F.unix_micros(F.col("session_end"))
    # max event time == max session end: every event lies in a session
    mx = out.agg(F.max(F.unix_micros("session_end")).alias("mxus"))
    is_last = end_us == F.max(end_us).over(Window.partitionBy("user_id"))
    # integer ms arithmetic, exactly the declared oracle's `// 1000`
    timer_fired = F.expr(
        f"(unix_micros(session_end) + {gap_us}) div 1000"
    ) < F.expr("mxus div 1000") - F.lit(delay_ms)
    return (
        out.crossJoin(F.broadcast(mx))
        .withColumn("is_last", is_last)
        .filter(~F.col("is_last") | timer_fired)
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            F.when(~F.col("is_last"), F.lit("gap"))
            .otherwise(F.lit("timeout"))
            .alias("closed_by"),
        )
    )


def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE INTO kernel as a stream: change batches arrive as
    files (base snapshot rows at version 0, ``relational.cdc_update_batch``
    rows at version 1), and every microbatch upserts into a persisted
    parquet target inside ``foreachBatch`` -- union the batch onto the
    current target, keep ``relational.latest_wins``, write the next
    version. The batch ``cdc_latest_wins`` is the same two helpers run
    once, and this is the production shape of a continuously-maintained
    mutable table on an immutable store (Delta/Iceberg MERGE does
    exactly this per commit).

    Versioned copy-on-write: microbatch ``k`` writes ``target/v<k>``
    from the newest complete version below ``k`` (one with
    ``_SUCCESS``), so a merge never reads the directory it writes and
    needs no eager materialization. The swap is crash-atomic: a
    version counts only once its ``_SUCCESS`` exists, and older
    versions are deleted only after that. A replayed batch whose
    version is already complete is skipped, which keeps restarts
    idempotent. After every batch the target is one deduplicated
    table on disk.

    Latest-wins is associative and commutative over batches, so the
    final target is INDEPENDENT of how the file source slices
    microbatches (``maxFilesPerTrigger=2`` forces several) -- which
    is what makes the bounded drain equal to the batch oracle.

    Schemas are known, never inferred: the source schema is the
    analysed build DataFrame's, and the target and the result are
    read with it.

    At 100 TB the full-target rewrite becomes partition-pruned
    (dynamic partition overwrite on the touched keys' partitions --
    exercised by sink_dynamic_overwrite); the MERGE logic here is
    unchanged.

    Emits the final table (event_id, ts, user_id, event_type, value,
    version).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    base = ev.withColumn("version", F.lit(0))

    def build(tmp: str) -> None:
        base.repartition(3).write.mode("overwrite").parquet(f"{tmp}/data")
        relational.cdc_update_batch(ev).repartition(1).write.mode("append").parquet(f"{tmp}/data")

    stage = _REPO_ROOT / ".tmp" / "stream" / f"{pathlib.Path(sf_dir).name}_cdc_upsert"
    staging.stage_once(stage, source_fingerprint(sf_dir, "events"), build)
    schema = base.schema
    sink = stage / "target"
    shutil.rmtree(sink, ignore_errors=True)

    def versions(below: int | None = None) -> list[pathlib.Path]:
        """Complete target versions (those with ``_SUCCESS``), oldest first."""
        ids = sorted(int(p.parent.name[1:]) for p in sink.glob("v*/_SUCCESS"))
        return [sink / f"v{k}" for k in ids if below is None or k < below]

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        out = sink / f"v{batch_id}"
        if (out / "_SUCCESS").exists():
            return  # replay of an applied batch
        prev = versions(below=batch_id)
        merged_in = batch_df
        if prev:
            target = batch_df.sparkSession.read.schema(schema).parquet(str(prev[-1]))
            merged_in = target.unionByName(batch_df)
        relational.latest_wins(merged_in).write.mode("overwrite").parquet(str(out))
        for old in prev:
            shutil.rmtree(old, ignore_errors=True)

    changes = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(
        str(stage / "data")
    )
    _drain(spark, changes.writeStream.foreachBatch(merge))
    return spark.read.schema(schema).parquet(str(versions()[-1])).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.col("version").cast("int").alias("version"),
    )


def stream_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact DAU, bounded-state form: a watermarked streaming
    ``dropDuplicates`` on (day, user_id) emits each pair exactly once
    in append mode, and the per-day count is an agg over the deduped
    emission. State is one entry per distinct (day, user) *inside the
    lateness horizon* -- the 1-day watermark evicts closed days, so
    state is ~2 days of users regardless of stream length.

    The count here runs on the drained sink rather than as a chained
    windowed agg because append mode only emits windows the watermark
    has closed -- the in-flight final day would be silently missing
    from a bounded drain (and from the count-distinct oracle). At
    scale the downstream count is the same one-shuffle agg whether it
    reads the dedup emission from a sink or a chained stage.

    Exactness: dedup emission is exact (the bounded drain processes
    the backlog in one availableNow batch, where the watermark is
    still at its initial floor, so no fixture row can be
    late-dropped); the per-day count of exact distinct pairs equals
    batch ``count(DISTINCT user_id)``.
    """
    pairs = (
        _read_stream(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .withWatermark("day", "1 day")
        .dropDuplicates(["day", "user_id"])
    )
    drained = _drain_to_memory(pairs, mode="append")
    return drained.groupBy("day").agg(F.count("*").cast("long").alias("dau"))


def stream_hll_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming approximate DAU -- the HLL-state scale path that
    ``stream_daily_active_users``'s docstring names: per-day
    ``approx_count_distinct`` keeps ONE constant-size HyperLogLog
    sketch per day as the streaming state (vs one entry per distinct
    (day, user) for the exact form), so state is bounded by the
    calendar alone at ANY user cardinality -- the form you deploy
    when a day can hold a billion distinct users.

    rsd = 0.02 (the engine's approx_count_distinct default posture);
    the drained counts' relative error against the exact per-day
    distinct is bounded in RECALL.json (<= 0.06, the 3-sigma
    ceiling), which is why this op is rows-only rather than
    hash-oracled: the sketch estimate is approximate BY DESIGN.

    Emits (day, dau_approx).
    """
    agg = (
        _read_stream(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.approx_count_distinct("user_id", rsd=0.02).cast("long").alias("dau_approx"))
    )
    return _drain_to_memory(agg)
