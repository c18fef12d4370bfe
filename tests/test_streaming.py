import pytest

from java_mapreduce_framework_spark.sources.tables import TABLES, load_table
from java_mapreduce_framework_spark.streaming.jobs import (
    _delay_ms,
    _stage_stream_dir,
    stream_static_join,
    stream_tumbling_window,
    stream_wordcount,
)


@pytest.mark.parametrize("table", TABLES)
def test_stream_dir_schema_equals_load_table(spark, sf_small, table):
    """Stream sources take their schema from load_table's cache, so the
    staged directory (a symlink, or events' rewritten microsecond copy)
    must carry exactly that schema in its footer."""
    path = _stage_stream_dir(spark, sf_small, table)
    assert spark.read.parquet(path).schema == load_table(spark, sf_small, table).schema


def test_stage_stream_dir_relative_fixture_dir(spark, sf_small, tmp_path, monkeypatch):
    """A fixture dir given relative to the cwd stages a link that
    resolves from the stage dir. Stage paths key on the fixture dir's
    basename, so the copy gets a unique one."""
    import os
    import pathlib
    import shutil
    import uuid

    rel = f"relsf_{uuid.uuid4().hex[:8]}"
    (tmp_path / rel).mkdir()
    shutil.copy(f"{sf_small}/region.parquet", tmp_path / rel)
    monkeypatch.chdir(tmp_path)
    stage = pathlib.Path(_stage_stream_dir(spark, rel, "region"))
    try:
        assert os.path.exists(stage / "region.parquet")
        assert spark.read.parquet(str(stage)).count() == load_table(spark, sf_small, "region").count()
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@pytest.mark.parametrize(
    "delay, ms",
    [
        ("30 minutes", 1_800_000),
        ("1 minute", 60_000),
        ("45 seconds", 45_000),
        ("2 hours", 7_200_000),
        ("1 day", 86_400_000),
        ("3 days", 259_200_000),
        ("500 milliseconds", 500),
        ("1 millisecond", 1),
        (" 10  seconds ", 10_000),
    ],
)
def test_session_timeout_delay_ms(delay, ms):
    assert _delay_ms(delay) == ms


@pytest.mark.parametrize("delay", ["30", "minutes", "1 week", "1.5 hours", "-1 second"])
def test_session_timeout_delay_rejects_unknown(delay):
    with pytest.raises(ValueError):
        _delay_ms(delay)


def test_stream_static_join_equals_batch(spark, sf_small):
    from pyspark.sql import functions as F
    from java_mapreduce_framework_spark.sources.tables import load_table

    events = load_table(spark, sf_small, "events")
    customer = load_table(spark, sf_small, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = {
        (r["c_mktsegment"]): (r["n_events"], r["total_value"])
        for r in events.join(customer, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .collect()
    }
    streamed = {
        (r["c_mktsegment"]): (r["n_events"], r["total_value"])
        for r in stream_static_join(spark, sf_small).collect()
    }
    assert streamed == batch


def test_stream_wordcount_equals_batch(spark, sf_small):
    from java_mapreduce_framework_spark.operators.text import wordcount
    from java_mapreduce_framework_spark.sources.tables import load_table

    batch = {r["word"]: r["cnt"] for r in wordcount(load_table(spark, sf_small, "documents")).collect()}
    streamed = {r["word"]: r["cnt"] for r in stream_wordcount(spark, sf_small).collect()}
    assert streamed == batch


def test_stream_tumbling_equals_batch(spark, sf_small):
    from java_mapreduce_framework_spark.operators.temporal import tumbling_window_agg
    from java_mapreduce_framework_spark.sources.tables import load_table

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in tumbling_window_agg(load_table(spark, sf_small, "events")).collect()
    }
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in stream_tumbling_window(spark, sf_small).collect()
    }
    assert streamed == batch


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Late-data contract: with a 5-minute watermark, an event arriving
    a batch after its 10-minute window closed is dropped, and append
    mode emits a window exactly once, when the watermark passes its
    end. This is the unbounded-stream posture the bounded-equality
    queries (complete mode) don't exercise."""
    import os
    import time
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()

    def write_batch(name, ts_minutes):
        t = pa.table(
            {
                "ts": pa.array(
                    [
                        datetime.datetime(2026, 1, 1) + datetime.timedelta(minutes=m)
                        for m in ts_minutes
                    ],
                    type=pa.timestamp("us", tz="UTC"),
                ),
                "v": pa.array([1.0] * len(ts_minutes)),
            }
        )
        pq.write_table(t, src / name)

    # The watermark computed from batch N's max event time takes
    # effect in batch N+2 (it is committed after N and applied to the
    # NEXT planned batch), so the late event goes in a third file.
    write_batch("b1.parquet", [0, 5, 60])  # sets watermark 01:00 - 5min = 00:55
    time.sleep(1.1)  # file source orders batches by modification time
    write_batch("b2.parquet", [61])  # commit makes the 00:55 watermark effective
    time.sleep(1.1)
    write_batch("b3.parquet", [2])  # late: window [00:00,00:10) closed at wm 00:55
    os.utime(src / "b3.parquet")

    from pyspark.sql import functions as F

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r["ws"]: r["n"] for r in spark.table("wm_test").collect()}
    base = datetime.datetime(2026, 1, 1, 0, 0)
    # window [00:00,00:10) emitted once with the 2 on-time events; the
    # late 00:02 event was dropped, and the still-open [01:00,01:10)
    # window was never emitted (watermark never passed its end)
    assert out.get(base) == 2
    assert datetime.datetime(2026, 1, 1, 1, 0) not in out


def test_stream_sliding_equals_batch(spark, sf_small):
    from java_mapreduce_framework_spark.operators.temporal import sliding_window_agg
    from java_mapreduce_framework_spark.sources.tables import load_table
    from java_mapreduce_framework_spark.streaming.jobs import stream_sliding_window

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in sliding_window_agg(load_table(spark, sf_small, "events")).collect()
    }
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in stream_sliding_window(spark, sf_small).collect()
    }
    assert streamed == batch


def test_watermarked_tumbling_window_emits_closed_windows(spark, sf_small):
    """Declared unbounded posture: append mode + watermark + file sink
    holds exactly the windows the final watermark closed
    (window end <= max event time - delay), with batch-equal values."""
    import datetime

    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.sources.tables import load_table
    from java_mapreduce_framework_spark.streaming.jobs import (
        stream_tumbling_window_watermarked,
    )

    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in stream_tumbling_window_watermarked(spark, sf_small).collect()
    }
    ev = load_table(spark, sf_small, "events")
    wm = ev.agg(F.max("ts")).first()[0] - datetime.timedelta(minutes=30)
    batch = {
        (r["w"]["start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in (
            ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
            .filter(F.col("w.end") <= F.lit(wm))
        ).collect()
    }
    assert streamed == batch
    # the trailing (still-open) windows are withheld by design
    total = ev.select(F.window("ts", "1 hour"), "event_type").distinct().count()
    assert len(streamed) < total


def test_watermarked_tumbling_window_reuses_one_run_dir(spark, sf_small):
    """Two calls leave one run directory per fixture, and it holds no
    checkpoint: the directory is wiped before each drain and the
    checkpoint removed after it."""
    import pathlib

    from java_mapreduce_framework_spark.streaming.jobs import (
        _REPO_ROOT,
        stream_tumbling_window_watermarked,
    )

    stream = _REPO_ROOT / ".tmp" / "stream"
    sf = pathlib.Path(sf_small).name
    run = stream / f"{sf}_wm_tumbling"

    def names():
        return {p.name for p in stream.iterdir()} if stream.is_dir() else set()

    before = names()
    runs = [
        sorted(tuple(r) for r in stream_tumbling_window_watermarked(spark, sf_small).collect())
        for _ in range(2)
    ]
    assert runs[0] == runs[1]
    assert names() - before - {f"{sf}_events"} <= {run.name}
    assert run.is_dir()
    assert not (run / "ckpt").exists()


def test_stream_stream_join_equals_batch_self_join(spark, sf_small):
    """Watermarked stream-stream inner join on bounded input emits
    exactly the batch self-join's pairs (emission is match-driven;
    the watermark gates only state cleanup)."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.sources.tables import load_table
    from java_mapreduce_framework_spark.streaming.jobs import stream_stream_join

    streamed = {
        (r["user_id"], r["click_id"], r["view_id"])
        for r in stream_stream_join(spark, sf_small).collect()
    }
    ev = load_table(spark, sf_small, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vuid"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    batch = {
        (r["user_id"], r["click_id"], r["view_id"])
        for r in clicks.join(
            views,
            F.expr(
                "user_id = vuid AND view_ts BETWEEN click_ts - INTERVAL 30 MINUTES"
                " AND click_ts"
            ),
        ).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_foreachbatch_sink_is_idempotent_under_replay(spark, sf_small):
    """The exactly-once claim: wiped-checkpoint replays overwrite
    their own batch partitions (an append sink would have tripled the
    counts here), and kept-checkpoint resumes process zero batches --
    either way the sink equals the source exactly once."""
    import pathlib

    from java_mapreduce_framework_spark.sources.tables import load_table
    from java_mapreduce_framework_spark.streaming.jobs import (
        _REPO_ROOT,
        stream_foreachbatch_idempotent,
    )

    n_events = load_table(spark, sf_small, "events").count()
    # two wiped-checkpoint replays + two kept-checkpoint resumes
    out = stream_foreachbatch_idempotent(spark, sf_small, replays=2, resumes=2)
    total = sum(r["n_events"] for r in out.collect())
    assert total == n_events, f"replay duplicated rows: {total} != {n_events}"

    # the sink really is batch-id partitioned (the idempotence key)
    root = _REPO_ROOT / ".tmp" / "stream" / f"{pathlib.Path(sf_small).name}_fbsink"
    parts = {p.name for p in (root / "sink").iterdir() if p.name.startswith("batch_id=")}
    assert parts, "sink has no batch_id partitions"
    assert spark.read.parquet(str(root / "sink")).count() == n_events


def test_stream_stream_left_join_null_emission_respects_watermark(spark, sf_small):
    """Left-outer stream-stream join: every null-view row's click must
    be strictly below the joint watermark (min of per-side max event
    times - delay); matched rows are exactly the batch join's."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.sources.tables import load_table
    from java_mapreduce_framework_spark.streaming.jobs import stream_stream_join_left

    out = stream_stream_join_left(spark, sf_small).collect()
    ev = load_table(spark, sf_small, "events")
    sides = {
        r["event_type"]: r["m"]
        for r in ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .collect()
    }
    import datetime

    wm = min(sides.values()) - datetime.timedelta(hours=1)
    clicks = {
        r["event_id"]: r["ts"]
        for r in ev.filter(F.col("event_type") == "click").collect()
    }
    nulls = [r for r in out if r["view_id"] is None]
    assert nulls, "no null rows emitted; fixture degenerate"
    for r in nulls:
        assert clicks[r["click_id"]] < wm, (r["click_id"], clicks[r["click_id"]], wm)


def test_dropduplicates_within_watermark_cross_batch(spark, tmp_path):
    """The native bounded-state dedup guarantee: a duplicate key whose
    event time lands within the watermark delay of the original is
    dropped even when it arrives in a LATER microbatch. Two parquet
    files with forced mtime order + maxFilesPerTrigger=1 give a
    deterministic two-batch drain."""
    import os
    import shutil
    import uuid

    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01 10:00:00")

    def write(name, rows, mtime):
        p = src / name
        # pandas defaults to TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects (the fixture gotcha); force microseconds
        pd.DataFrame(rows, columns=["user_id", "event_type", "ts"]).to_parquet(
            p, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(p, (mtime, mtime))

    write(
        "a.parquet",
        [(1, "click", t0), (9, "x", t0 + pd.Timedelta(minutes=5))],
        1_700_000_000,
    )
    write(
        "b.parquet",
        [
            (1, "click", t0 + pd.Timedelta(minutes=2)),  # dup within delay
            (2, "click", t0 + pd.Timedelta(minutes=4)),  # fresh key
        ],
        1_700_000_100,
    )

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    deduped = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = tmp_path / "ckpt"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["user_id"], r["event_type"]) for r in spark.table(name).collect()}
    rows = spark.table(name).count()
    shutil.rmtree(ckpt, ignore_errors=True)
    assert got == {(1, "click"), (9, "x"), (2, "click")}
    assert rows == 3  # the cross-batch duplicate emitted no second row


def test_stream_incremental_dedup_equals_batch_probe(spark, sf_small):
    """The streaming ingest dedup's bounded drain must equal the batch
    incremental probe on the same new-batch set: row-local signatures
    and array-form band hashes are bit-identical to the aggregation
    path, and per-microbatch pair dedup is exact because candidates
    are keyed by the arriving doc."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators import dedup
    from java_mapreduce_framework_spark.sources.tables import (
        load_table,
        source_fingerprint,
    )
    from java_mapreduce_framework_spark.streaming.jobs import stream_dedup_incremental

    got = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in stream_dedup_incremental(spark, sf_small).collect()
    }
    docs = load_table(spark, sf_small, "documents")
    name = "mh_idx_eqv_stream"
    dedup.build_minhash_index(
        spark,
        docs.filter(F.col("doc_id") % 10 != 0),
        name,
        source_fp=source_fingerprint(sf_small, "documents"),
    )
    expect = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in dedup.dedup_incremental_minhash(
            spark, docs.filter(F.col("doc_id") % 10 == 0), name
        ).collect()
    }
    assert got == expect
    assert got, "fixture plants no cross-boundary dups; test vacuous"


def test_stream_quality_filter_equals_batch(spark, sf_small):
    """Stateless streaming reuse of the batch operator: drained stream
    == batch quality_score + filter, row for row."""
    from java_mapreduce_framework_spark.operators.text import quality_score
    from java_mapreduce_framework_spark.sources.tables import load_table
    from java_mapreduce_framework_spark.streaming.jobs import stream_quality_filter
    from pyspark.sql import functions as F

    got = sorted(map(tuple, stream_quality_filter(spark, sf_small).collect()))
    docs = load_table(spark, sf_small, "documents")
    want = sorted(
        map(tuple, quality_score(docs).filter(F.col("quality") >= 0.5).collect())
    )
    assert got == want and len(got) > 0


def test_stream_topk_windowed_ranks_within_hour(spark, sf_small):
    from java_mapreduce_framework_spark.streaming.jobs import stream_topk_windowed

    out = stream_topk_windowed(spark, sf_small, k=3).collect()
    assert out, "expected ranked rows"
    by_w = {}
    for r in out:
        by_w.setdefault(r["window_start"], []).append(r)
    for w, rows in by_w.items():
        rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 3
        # counts non-increasing down the rank
        counts = [r["n_events"] for r in rows]
        assert counts == sorted(counts, reverse=True)


def test_stream_index_ingest_cross_batch_dedup_and_replay_equality(
    spark, tmp_path
):
    """The ingest loop's defining property, forced on a crafted
    corpus: doc 20 (slice 2) is an exact dup of doc 10 (slice 1) with
    NO match in the base corpus -- it can only be dropped because an
    EARLIER microbatch's survivor was appended to the index; doc 40
    near-dups the corpus and drops on the ordinary probe; the verdict
    must be all-TRUE (stream == sequential replay)."""
    from java_mapreduce_framework_spark.streaming.jobs import (
        stream_index_ingest,
    )

    def words(seed, n=24):
        return " ".join(f"w{seed}x{i}" for i in range(n))

    dup_text = words("dup")
    corpus_text = words("corp")
    rows = [(i, words(f"c{i}"), "en", "t", 1) for i in range(1, 10)]
    rows[4] = (5, corpus_text, "en", "t", 1)
    rows += [
        (10, dup_text, "en", "t", 1),        # slice 1: survives, appended
        (20, dup_text, "en", "t", 1),        # slice 2: dup of 10 -> cross-batch drop
        (30, words("solo"), "en", "t", 1),   # slice 3: survives
        (40, corpus_text, "en", "t", 1),     # slice 0: dup of corpus doc 5
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {r["doc_id"]: r["ingest_match"]
           for r in stream_index_ingest(spark, str(tmp_path)).collect()}
    assert out == {10: True, 20: True, 30: True, 40: True}
    sink = spark.read.parquet(
        f"/root/repo/.tmp/stream/{tmp_path.name}_index_ingest/sink"
    )
    survivors = {r["doc_id"] for r in sink.collect()}
    assert survivors == {10, 30}, survivors


def test_stream_index_ingest_fixture_verdict_all_true(spark, sf_small):
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.streaming.jobs import (
        stream_index_ingest,
    )

    out = stream_index_ingest(spark, sf_small)
    agg = out.agg(
        F.count("*").alias("n"),
        F.sum(F.col("ingest_match").cast("int")).alias("m"),
    ).collect()[0]
    assert agg["n"] == agg["m"] > 0


def test_stream_session_timeout_crafted_timer_semantics(spark, tmp_path):
    """The timer's defining property on a crafted corpus: a session
    whose user NEVER sends another event still closes ('timeout')
    once the watermark passes last+gap; in-stream-closed sessions
    report 'gap'; the stream-global trailing session (inside the
    final watermark's reach + gap) stays withheld like on a live
    stream."""
    import datetime as dt

    from java_mapreduce_framework_spark.streaming.jobs import (
        stream_session_timeout,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: two events 10min apart (one session), then a lone
        # event 50min later -- a second session nothing ever closes
        # in-stream
        (1, at(0), 1, "x", 1.0, "{}"),
        (2, at(10), 1, "x", 1.0, "{}"),
        (3, at(60), 1, "x", 1.0, "{}"),
        # user 2: one early event, then the stream-global max ts ten
        # days out (keeps the final watermark far past user 1's tail)
        (4, at(5), 2, "x", 1.0, "{}"),
        (5, at(14400), 2, "x", 1.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    events.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = [
        (r["user_id"], r["n_events"], r["closed_by"])
        for r in stream_session_timeout(spark, str(tmp_path))
        .orderBy("user_id", "session_start")
        .collect()
    ]
    assert out == [
        (1, 2, "gap"),       # closed in-stream by event 3
        (1, 1, "timeout"),   # closed only by the watermark timer
        (2, 1, "gap"),       # closed in-stream by event 5
        # user 2's trailing session: withheld (watermark never passes)
    ]


def test_memory_drains_leave_no_view_and_equal_batch(spark, sf_small):
    """A memory drain drops its ``mem_<uuid>`` sink view once the result
    DataFrame holds the sink; the DataFrame still reads the drained
    rows, which equal the batch twin's on every call."""
    from java_mapreduce_framework_spark.operators.temporal import session_window_agg
    from java_mapreduce_framework_spark.operators.text import wordcount
    from java_mapreduce_framework_spark.streaming.jobs import stream_sessionize

    def mem_views():
        return {r.viewName for r in spark.sql("SHOW VIEWS").collect() if r.viewName.startswith("mem_")}

    cases = [
        (stream_wordcount, wordcount(load_table(spark, sf_small, "documents"))),
        (stream_sessionize, session_window_agg(load_table(spark, sf_small, "events"))),
    ]
    before = mem_views()
    for stream_fn, batch in cases:
        want = sorted(map(tuple, batch.collect()))
        for _ in range(2):
            got = stream_fn(spark, sf_small)
            assert mem_views() == before
            assert sorted(map(tuple, got.collect())) == want


def test_stream_hll_dau_within_recall_bound(spark, sf_small):
    """stream_hll_dau is rows-only in the oracle sweep; RECALL.json bounds
    each day's relative error against the exact per-day distinct count
    at 0.06 (the 3-sigma ceiling for rsd 0.02)."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.streaming.jobs import stream_hll_dau

    exact = {
        r["day"]: r["dau"]
        for r in load_table(spark, sf_small, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count_distinct("user_id").alias("dau"))
        .collect()
    }
    approx = {r["day"]: r["dau_approx"] for r in stream_hll_dau(spark, sf_small).collect()}
    assert approx.keys() == exact.keys() and exact
    for day, n in exact.items():
        assert abs(approx[day] - n) / n <= 0.06, (day, approx[day], n)
