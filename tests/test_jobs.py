from pyspark.sql import Row

from java_mapreduce_framework_spark.plans.jobs import (
    JobQueue,
    LiteralWordCountJob,
    WordCountJob,
    resolve_job,
    run_job,
)


def _kv(spark):
    rows = [Row(key="1", value="a b a"), Row(key="2", value="a c")]
    return spark.createDataFrame(rows)


def test_run_job_wordcount(spark):
    out = {r["key"]: r["value"] for r in run_job(WordCountJob, _kv(spark)).collect()}
    assert out == {"a": "3", "b": "1", "c": "1"}


def test_run_job_literal_reference_semantics(spark):
    # reduce = values.length => records containing (reference quirk)
    out = {r["key"]: r["value"] for r in run_job(LiteralWordCountJob, _kv(spark)).collect()}
    assert out == {"a": "2", "b": "1", "c": "1"}


def test_resolve_job_dotted_path(spark):
    cls = resolve_job("java_mapreduce_framework_spark.plans.jobs.WordCountJob")
    assert cls is WordCountJob
    out = {r["key"]: r["value"] for r in run_job(
        "java_mapreduce_framework_spark.plans.jobs.WordCountJob", _kv(spark)
    ).collect()}
    assert out["a"] == "3"


def test_job_queue_fifo(spark):
    q = JobQueue()
    q.submit("first", WordCountJob, _kv(spark))
    q.submit("second", LiteralWordCountJob, _kv(spark))
    assert [j["status"] for j in q.status_page()] == ["pending", "pending"]
    done = q.run_all()
    assert [j.name for j in done] == ["first", "second"]
    assert all(j.status == "done" for j in done)
    assert {r["key"]: r["value"] for r in done[1].result.collect()}["a"] == "2"
    # status-page counters (reference: keysRead/keysWritten): map reads
    # 2 records and emits 4 per-record partials; reduce reads 3 groups
    # and emits one line each
    for j in q.status_page():
        assert j["keys_read"] == 2 + 3
        assert j["keys_written"] == 4 + 3


def test_jobapi_matches_declared_wordcount(spark, sf_small):
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators.text import wordcount
    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    kv = docs.select(F.col("doc_id").cast("string").alias("key"), F.col("text").alias("value"))
    via_job = {
        r["key"]: int(r["value"]) for r in run_job(WordCountJob, kv).collect()
    }
    declared = {r["word"]: r["cnt"] for r in wordcount(docs).collect()}
    assert via_job == declared


def test_chained_jobs_count_of_counts(spark):
    from java_mapreduce_framework_spark.plans.jobs import CountOfCountsJob

    # corpus: a->3, b->2, c->1  =>  histogram: 1 word thrice, 1 twice, 1 once
    rows = [Row(key="1", value="a b a"), Row(key="2", value="a b c")]
    stage1 = run_job(WordCountJob, spark.createDataFrame(rows))
    stage2 = run_job(CountOfCountsJob, stage1)
    got = {int(r["key"]): int(r["value"]) for r in stage2.collect()}
    assert got == {3: 1, 2: 1, 1: 1}


def test_reduce_values_arrive_in_lexicographic_order(spark):
    """Secondary-sort fidelity: the reference's whole-line external
    sort hands reduce its values lexicographically sorted
    (worker/WorkerServlet.java:449-496); order-sensitive jobs rely on
    it, so the engine must guarantee it across shuffle partitions."""

    class ConcatJob:
        def map(self, key, value):
            return [(key, value)]

        def reduce(self, key, values):
            return [(key, "|".join(values))]

    rows = [Row(key="k", value=f"v{i:03d}") for i in range(40)]
    import random

    random.Random(7).shuffle(rows)
    out = run_job(ConcatJob, spark.createDataFrame(rows).repartition(8)).collect()
    assert len(out) == 1
    assert out[0]["value"] == "|".join(f"v{i:03d}" for i in range(40))


def test_reduce_handles_none_values(spark):
    """A job emitting None values must not crash the group sort;
    Nones order first (their position is engine-defined — the
    reference's text format cannot express null at all)."""

    class NullEmitJob:
        def map(self, key, value):
            return [(key, None), (key, value)]

        def reduce(self, key, values):
            return [(key, ",".join("∅" if v is None else v for v in values))]

    rows = [Row(key="k", value="x")]
    out = run_job(NullEmitJob, spark.createDataFrame(rows)).collect()
    assert out[0]["value"] == "∅,x"


def test_wordcount_e2e_disk_to_disk_matches_batch(spark, sf_small):
    # the full reference lifecycle: kv text dir -> run_job -> kv text
    # sink -> read back; result equals the declared batch wordcount
    from java_mapreduce_framework_spark.operators.text import wordcount
    from java_mapreduce_framework_spark.plans.jobs import wordcount_job_e2e
    from java_mapreduce_framework_spark.sources.tables import load_table

    e2e = {r["word"]: r["cnt"] for r in wordcount_job_e2e(spark, sf_small).collect()}
    batch = {
        r["word"]: r["cnt"]
        for r in wordcount(load_table(spark, sf_small, "documents")).collect()
    }
    assert e2e == batch


def test_kv_stage_follows_regenerated_fixture(spark, sf_small, tmp_path):
    """The staged documents kv dir is keyed by the documents
    fingerprint: after the fixture is rewritten, the disk-to-disk job
    and the kvtext data source both read the NEW text, never the stale
    stage. Stage paths key on the fixture dir's basename, so the copy
    gets a unique one."""
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from java_mapreduce_framework_spark.plans.jobs import _REPO_ROOT
    from java_mapreduce_framework_spark.plans.registry import registry

    reg = registry()
    sf = tmp_path / f"regen_{uuid.uuid4().hex[:8]}"
    shutil.copytree(sf_small, sf)
    stage = _REPO_ROOT / ".tmp" / "jobapi" / f"{sf.name}_documents_kv"

    def rows(name):
        return sorted(tuple(r) for r in reg[name].fn(spark, str(sf)).collect())

    try:
        before = rows("jobapi_wordcount_e2e")
        docs = pq.read_table(sf / "documents.parquet")
        text = pa.array(
            [f"regenerated fixture doc {i}" for i in range(docs.num_rows)],
            docs.schema.field("text").type,
        )
        docs = docs.set_column(docs.schema.get_field_index("text"), "text", text)
        pq.write_table(docs, sf / "documents.parquet")

        expect_kv = sorted(
            (str(doc_id), len(t), t[:16])
            for doc_id, t in zip(docs.column("doc_id").to_pylist(), text.to_pylist())
        )
        assert rows("source_kvtext_datasource") == expect_kv
        after = rows("jobapi_wordcount_e2e")
        assert after == rows("jobapi_wordcount")
        assert after != before
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(stage.parent / f"{sf.name}_wordcount_out", ignore_errors=True)


def test_wordcount_e2e_reuses_one_sink(spark, sf_small):
    """The disk-to-disk job writes one sink per fixture and overwrites
    it on every run: two calls leave one sink directory, not two."""
    import pathlib

    from java_mapreduce_framework_spark.plans.jobs import _REPO_ROOT, wordcount_job_e2e

    jobapi = _REPO_ROOT / ".tmp" / "jobapi"
    sf = pathlib.Path(sf_small).name

    def names():
        return {p.name for p in jobapi.iterdir()} if jobapi.is_dir() else set()

    before = names()
    runs = [sorted(tuple(r) for r in wordcount_job_e2e(spark, sf_small).collect()) for _ in range(2)]
    assert runs[0] == runs[1]
    assert names() - before - {f"{sf}_documents_kv"} <= {f"{sf}_wordcount_out"}
    assert (jobapi / f"{sf}_wordcount_out").is_dir()


def test_combiner_result_equals_uncombined(spark, sf_small):
    """combine=True must be result-invariant for an associative job
    while pre-folding map output (the Hadoop combiner contract)."""
    from java_mapreduce_framework_spark.plans.jobs import WordCountJob, run_job
    from java_mapreduce_framework_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_small, "documents")
    kv = docs.select(
        F.col("doc_id").cast("string").alias("key"), F.col("text").alias("value")
    )
    plain = {(r["key"], r["value"]) for r in run_job(WordCountJob, kv).collect()}
    combined = {
        (r["key"], r["value"]) for r in run_job(WordCountJob, kv, combine=True).collect()
    }
    assert combined == plain


def test_jobapi_grep_identity_roundtrip(spark):
    """Matching records pass through map + identity reduce untouched;
    non-matching records vanish."""
    from java_mapreduce_framework_spark.plans.jobs import DistributedGrepJob, run_job

    kv = spark.createDataFrame(
        [("1", "a dup line"), ("2", "clean line"), ("3", "dup dup"), ("4", "")],
        "key string, value string",
    )
    out = {r["key"]: r["value"] for r in run_job(DistributedGrepJob, kv).collect()}
    assert out == {"1": "a dup line", "3": "dup dup"}


def test_reduce_side_join_inner_semantics_and_dim_first(spark):
    """Tagged reduce-side join: facts with a dim record join (all of
    them, order-independent), keys with no dim emit nothing, and a
    dim with no facts emits nothing -- inner-join semantics riding on
    the secondary-sort contract (C-tagged dim sorts before O-tagged
    facts)."""
    from java_mapreduce_framework_spark.plans.jobs import (
        ReduceSideJoinJob,
        run_job,
    )

    kv = spark.createDataFrame(
        [
            ("7", "O\t700"),     # fact arrives "before" its dim in input
            ("7", "C\tGretel"),  # ...but sorts after C in the reduce
            ("7", "O\t701"),
            ("8", "O\t800"),     # no dim record -> dropped
            ("9", "C\tHansel"),  # dim with no facts -> no emission
        ],
        "key string, value string",
    )
    out = {(r["key"], r["value"]) for r in run_job(ReduceSideJoinJob, kv).collect()}
    assert out == {("7", "Gretel\t700"), ("7", "Gretel\t701")}
