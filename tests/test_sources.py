from pyspark.sql import functions as F

from java_mapreduce_framework_spark.sources.tables import TABLES, load_table, read_kv_text_dir


def test_read_kv_text_dir(spark, tmp_path):
    (tmp_path / "part1.txt").write_text("apple\t1\nbanana\t2\n")
    (tmp_path / "part2.txt").write_text("cherry\twith\ttabs\n")
    df = read_kv_text_dir(spark, str(tmp_path))
    rows = {r["key"]: r["value"] for r in df.collect()}
    assert rows == {"apple": "1", "banana": "2", "cherry": "with\ttabs"}


def test_kvtext_datasource_contract_and_partitioning(spark, tmp_path):
    """The registered kvtext format must (a) parse exactly like
    read_kv_text_dir — first-tab split, tabs preserved in the value,
    tabless line -> null value — and (b) scan one partition per data
    file, skipping marker files."""
    from java_mapreduce_framework_spark.sources.kvtext_datasource import (
        register_kvtext,
    )

    (tmp_path / "part1.txt").write_text("apple\t1\nbanana\t2\n\n")
    (tmp_path / "part2.txt").write_text("cherry\twith\ttabs\nnotab\n")
    (tmp_path / "part3.txt").write_text("dupe\tx\n")
    (tmp_path / "_SUCCESS").write_text("")
    register_kvtext(spark)
    df = spark.read.format("kvtext").load(str(tmp_path))
    rows = {r["key"]: r["value"] for r in df.collect()}
    assert rows == {
        "apple": "1",
        "banana": "2",
        "cherry": "with\ttabs",
        "notab": None,
        "dupe": "x",
        "": None,  # blank line: empty key, null value (both readers)
    }
    assert df.rdd.getNumPartitions() == 3
    # parse contract equivalence with the projection-based reader
    legacy = {
        r["key"]: r["value"]
        for r in read_kv_text_dir(spark, str(tmp_path)).collect()
    }
    assert legacy == rows


def test_kvtext_datasource_write_roundtrip(spark, tmp_path):
    """format('kvtext') write -> read roundtrip: raw lines, no
    escaping, null value = bare key; overwrite wipes prior files."""
    from java_mapreduce_framework_spark.sources.kvtext_datasource import (
        register_kvtext,
    )

    register_kvtext(spark)
    out = str(tmp_path / "kv_out")
    df = spark.createDataFrame(
        [("a", "1"), ("b", "x\ty"), ("c", None)], "key string, value string"
    )
    df.write.format("kvtext").mode("overwrite").save(out)
    back = {
        r["key"]: r["value"]
        for r in spark.read.format("kvtext").load(out).collect()
    }
    assert back == {"a": "1", "b": "x\ty", "c": None}
    # overwrite semantics: second write replaces, never appends
    df2 = spark.createDataFrame([("z", "9")], "key string, value string")
    df2.write.format("kvtext").mode("overwrite").save(out)
    back2 = {
        r["key"]: r["value"]
        for r in spark.read.format("kvtext").load(out).collect()
    }
    assert back2 == {"z": "9"}


def test_kvtext_stream_reader_offsets_and_drain(spark, tmp_path):
    """Streaming kvtext: offset bookkeeping hands each file to exactly
    one microbatch partition, and a bounded drain equals the batch
    read of the same directory."""
    from java_mapreduce_framework_spark.sources.kvtext_datasource import (
        KvTextStreamReader,
        register_kvtext,
    )

    (tmp_path / "a.txt").write_text("x\t1\ny\t2\n")
    (tmp_path / "b.txt").write_text("x\t3\n")
    rdr = KvTextStreamReader({"path": str(tmp_path)})
    assert rdr.initialOffset() == {"files": []}
    end = rdr.latestOffset()
    assert end == {"files": ["a.txt", "b.txt"]}
    parts = rdr.partitions(rdr.initialOffset(), end)
    assert sorted(p.path.rsplit("/", 1)[1] for p in parts) == ["a.txt", "b.txt"]
    # a later batch sees only files beyond the committed offset
    (tmp_path / "c.txt").write_text("z\t9\n")
    parts2 = rdr.partitions(end, rdr.latestOffset())
    assert [p.path.rsplit("/", 1)[1] for p in parts2] == ["c.txt"]
    assert list(rdr.read(parts2[0])) == [("z", "9")]

    register_kvtext(spark)
    from pyspark.sql import functions as F  # noqa: F811

    stream = (
        spark.readStream.format("kvtext")
        .load(str(tmp_path))
        .groupBy("key")
        .agg(F.count("*").alias("n"))
    )
    from java_mapreduce_framework_spark.streaming.jobs import _drain_to_memory

    got = {r["key"]: r["n"] for r in _drain_to_memory(stream).collect()}
    assert got == {"x": 2, "y": 1, "z": 1}


def test_load_table_events_timestamp_us(spark, sf_small):
    events = load_table(spark, sf_small, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    # microsecond floor of the nanos fixture: values must be non-null
    assert events.filter(F.col("ts").isNull()).count() == 0


def test_load_table_warm_session_launches_no_job(spark, sf_small):
    """Each fixture schema is inferred once per session: after one load
    of every table, loading them all again runs no Spark job."""
    for name in TABLES:
        load_table(spark, sf_small, name)
    sc = spark.sparkContext
    sc.setJobGroup("load_table_warm", "load_table_warm")
    try:
        for name in TABLES:
            load_table(spark, sf_small, name)
        assert sc.statusTracker().getJobIdsForGroup("load_table_warm") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_load_table_reinfers_regenerated_fixture(spark, sf_small, tmp_path):
    """The cached schema is keyed by the fixture's size + mtime: a
    fixture rewritten with other columns is read under its new schema,
    not the cached one."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.copy(f"{sf_small}/region.parquet", tmp_path / "region.parquet")
    before = load_table(spark, str(tmp_path), "region")
    assert "r_name" in before.columns
    assert before.count() > 0

    pq.write_table(
        pa.table({"r_regionkey": [7, 8], "r_label": ["x", "y"]}),
        tmp_path / "region.parquet",
    )
    after = load_table(spark, str(tmp_path), "region")
    assert after.columns == ["r_regionkey", "r_label"]
    assert sorted(tuple(r) for r in after.collect()) == [(7, "x"), (8, "y")]


def test_load_table_pushdown_projection(spark, sf_small):
    df = load_table(spark, sf_small, "lineitem").select("l_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "l_orderkey" in plan


def test_csv_roundtrip_preserves_rows_exactly(spark, sf_small):
    from java_mapreduce_framework_spark.sources.roundtrip import (
        read_documents_csv,
        read_documents_jsonl,
    )
    from java_mapreduce_framework_spark.sources.tables import load_table

    orig = {
        (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
        for r in load_table(spark, sf_small, "documents").collect()
    }
    via_csv = {
        (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
        for r in read_documents_csv(spark, sf_small).collect()
    }
    via_jsonl = {
        (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
        for r in read_documents_jsonl(spark, sf_small).collect()
    }
    assert via_csv == orig
    assert via_jsonl == orig


def test_staged_artifacts_refresh_on_fixture_change(spark, sf_small, tmp_path):
    """Fingerprint-keyed staging: a staged copy re-derives when the
    source parquet changes (size/mtime), instead of silently shadowing
    the regenerated fixture."""
    import pathlib

    import pytest

    from java_mapreduce_framework_spark.sources.roundtrip import _stage
    from java_mapreduce_framework_spark.sources.staging import stage_once
    from java_mapreduce_framework_spark.sources.tables import source_fingerprint

    # stage_once contract directly
    builds = []

    def build(tmp):
        builds.append(tmp)
        (pathlib.Path(tmp) / "part").write_text(str(len(builds)))

    stage = tmp_path / "stage"
    assert stage_once(stage, "fp1", build) == stage  # absent -> build
    assert len(builds) == 1 and (stage / "_STAGED").read_text() == "fp1"
    stage_once(stage, "fp1", build)  # fresh -> reuse
    assert len(builds) == 1
    stage_once(stage, "fp2", build)  # changed -> rebuilt
    assert len(builds) == 2 and (stage / "part").read_text() == "2"
    assert (stage / "_STAGED").read_text() == "fp2"

    def broken(tmp):
        (pathlib.Path(tmp) / "part").write_text("half")
        raise RuntimeError("build failed")

    failed = tmp_path / "failed"
    with pytest.raises(RuntimeError, match="build failed"):
        stage_once(failed, "fp1", broken)
    assert not failed.exists()
    assert not list(tmp_path.glob(".build-*"))

    # end to end: stage, fake a regeneration by rewriting the marker,
    # and observe the staged data directory actually rebuild
    data = _stage(spark, sf_small, "documents_jsonl")
    marker = data.parent / "_STAGED"
    assert marker.read_text() == source_fingerprint(sf_small, "documents")
    marker.write_text("stale-fingerprint")
    old_parts = {p.name for p in data.iterdir() if p.name.startswith("part-")}
    data2 = _stage(spark, sf_small, "documents_jsonl")
    assert data2 == data
    assert marker.read_text() == source_fingerprint(sf_small, "documents")
    new_parts = {p.name for p in data2.iterdir() if p.name.startswith("part-")}
    # rewritten files carry fresh write UUIDs: proof the stage re-derived
    assert new_parts and new_parts.isdisjoint(old_parts)


def test_malformed_csv_quarantines_not_drops(spark, sf_small):
    """PERMISSIVE + _corrupt_record: every 10th record surfaces as a
    corrupt row carrying the raw line; good rows parse completely."""
    from java_mapreduce_framework_spark.sources.roundtrip import (
        read_documents_csv_malformed,
    )
    from pyspark.sql import functions as F

    df = read_documents_csv_malformed(spark, sf_small).cache()
    try:
        total = df.count()
        corrupt = df.filter(F.col("_corrupt_record").isNotNull()).collect()
        assert len(corrupt) == total // 10
        assert all(r["doc_id"] is None for r in corrupt)
        assert all(r["_corrupt_record"].startswith("X") for r in corrupt)
        good = df.filter(F.col("_corrupt_record").isNull())
        assert good.filter(F.col("doc_id").isNull()).count() == 0
        # round-trip fidelity on the good rows
        assert good.filter(F.length("text") != F.col("n_chars")).count() == 0
    finally:
        df.unpersist()
