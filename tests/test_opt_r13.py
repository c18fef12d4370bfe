"""Round-13 optimization guards.

- ``default_parallelism`` must honor the harness env when set and fall
  back to the LIVE SparkContext's defaultParallelism (not a constant)
  when unset -- VERDICT r12 item 3.
- ``spread_scan`` must pass NON-LEAF plans through unchanged without
  probing ``.rdd`` (which would execute upstream shuffle stages under
  AQE) -- ADVICE r12.
- ``stream_session_timeout``'s native session_window rewrite must keep
  the DECLARED gap semantics: events exactly ``gap`` apart merge into
  one session, events ``gap + 1 us`` apart split (native
  session_window's merge boundary is inclusive, measured here).
"""

import pandas as pd
from pyspark.sql import functions as F

from java_mapreduce_framework_spark.session import default_parallelism
from java_mapreduce_framework_spark.sources.tables import load_table, spread_scan


def test_default_parallelism_env_override(monkeypatch, spark):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "17")
    assert default_parallelism() == 17


def test_default_parallelism_cluster_fallback(monkeypatch, spark):
    """With the env unset, the sizing basis is the live context's
    defaultParallelism (8 in the test session), NOT a constant 32 --
    loop widths and spread targets then track the real cluster."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == spark.sparkContext.defaultParallelism


def test_spread_scan_non_leaf_passthrough(spark, sf_small):
    """A plan with an aggregate (or any exchange-bearing operator)
    established its own parallelism; spread_scan must return it AS-IS
    (same object) instead of probing .rdd, which would run the
    upstream shuffle as a real job during plan inspection."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    agg = docs.groupBy("doc_id").agg(F.count("*").alias("n"))
    assert spread_scan(agg, "doc_id") is agg
    joined = docs.join(agg, "doc_id")
    assert spread_scan(joined, "doc_id") is joined


def test_spread_scan_sorted_input_launches_no_job(spark, sf_small):
    """A Sort-topped input (orderBy) is not a leaf scan either: it must
    come back AS-IS without a single Spark job -- probing .rdd would
    run the range partitioner's sampling job during plan inspection.
    A leaf scan whose column alias merely contains an operator name
    is still spread."""
    sc = spark.sparkContext
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    ordered = docs.orderBy("doc_id")
    sc.setJobGroup("spread_scan_sorted", "spread_scan_sorted")
    try:
        assert spread_scan(ordered, "doc_id") is ordered
        assert sc.statusTracker().getJobIdsForGroup("spread_scan_sorted") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    named = docs.select("doc_id", F.col("text").alias("Join_Aggregate_text"))
    spread = spread_scan(named, "doc_id")
    assert spread.rdd.getNumPartitions() == default_parallelism()


def test_session_timeout_merges_exact_gap_boundary(spark, tmp_path):
    """Declared contract: a new session starts only when the gap is
    STRICTLY greater than gap_s -- two events exactly gap_s apart
    belong to one session, two events gap_s + 1 us apart do not. The
    native session_window's merge boundary is inclusive (t - last <=
    gap merges), which matches; this pins that boundary with a
    crafted fixture so an engine-version change cannot silently flip
    it."""
    import os

    from java_mapreduce_framework_spark.streaming import jobs as sjobs

    gap_s = 1800
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        # user 1: two events exactly gap apart -> ONE session (gap ==
        # not >), then a third event far later closes it as 'gap'
        (1, base, 101),
        (1, base + pd.Timedelta(seconds=gap_s), 102),
        (1, base + pd.Timedelta(hours=6), 103),
        # user 2: gap + 1us apart -> TWO sessions
        (2, base, 201),
        (2, base + pd.Timedelta(seconds=gap_s, microseconds=1), 202),
        # watermark driver: a late event so earlier timers fire
        (3, base + pd.Timedelta(hours=12), 301),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id"])
    pdf["event_type"] = "click"
    pdf["value"] = 1.0
    sf_dir = tmp_path / "sf_gap"
    os.makedirs(sf_dir)
    pdf.to_parquet(sf_dir / "events.parquet", index=False)

    out = sjobs.stream_session_timeout(spark, str(sf_dir)).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 1: first session spans both exact-gap events (n_events=2)
    u1 = sorted(by_user[1], key=lambda r: r["session_start"])
    assert u1[0]["n_events"] == 2
    assert u1[0]["closed_by"] == "gap"
    # user 2: the two events split into two sessions; the first closed
    # by the second ('gap'), the second by timer ('timeout')
    u2 = sorted(by_user[2], key=lambda r: r["session_start"])
    assert [r["n_events"] for r in u2] == [1, 1]
    assert [r["closed_by"] for r in u2] == ["gap", "timeout"]
