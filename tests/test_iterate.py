"""Contract of ``session.iterate``, the one runner of the package's
iterative DataFrame loops, on small in-memory frames."""

import pytest
from pyspark.sql import functions as F

from java_mapreduce_framework_spark.session import iterate

KEY = "spark.sql.shuffle.partitions"


def _is_checkpoint(df):
    return df._jdf.queryExecution().logical().getClass().getSimpleName() == "LogicalRDD"


def _climb(df, _):
    """x -> min(x + 1, 3): over 0..4 the sum goes 10, 12, 14, 15, 15."""
    return df.select(F.least(F.col("x") + 1, F.lit(3)).alias("x"))


@pytest.fixture
def xs(spark):
    return spark.range(5).select(F.col("id").alias("x"))


@pytest.fixture
def conf7(spark):
    """Session default of 7 for the test, the fixture's value after."""
    prev = spark.conf.get(KEY)
    spark.conf.set(KEY, "7")
    yield
    spark.conf.set(KEY, prev)


def test_width_set_inside_and_restored_after(spark, xs, conf7, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    seen = []

    def step(df, _):
        seen.append(spark.conf.get(KEY))
        return df

    big = spark.range(900_001).select(F.col("id").alias("x"))
    iterate(xs, step, 1)
    iterate(big, step, 1)
    # 8-way floor for a small state; ceil(n / 100k) for a large one
    assert seen == ["8", "10"]
    assert spark.conf.get(KEY) == "7"


def test_conf_restored_when_a_step_raises(spark, xs, conf7):
    def step(df, i):
        if i == 1:
            raise ValueError("boom")
        return df

    with pytest.raises(ValueError, match="boom"):
        iterate(xs, step, 3)
    assert spark.conf.get(KEY) == "7"


def test_stops_at_first_unchanged_probe(xs):
    rounds = []

    def step(df, i):
        rounds.append(i)
        return _climb(df, i)

    out, converged = iterate(xs, step, 10, probe=[F.sum("x")])
    assert converged and rounds == [0, 1, 2, 3]
    assert sorted(r["x"] for r in out.collect()) == [3] * 5


def test_exhausted_budget_is_not_converged(xs):
    out, converged = iterate(xs, _climb, 2, probe=[F.sum("x")])
    assert not converged
    assert sorted(r["x"] for r in out.collect()) == [2, 3, 3, 3, 3]
    # a fixed-round loop has no stop test, so it never reports one
    assert iterate(xs, _climb, 5)[1] is False


def test_cadence_and_checkpoint_leaf(xs):
    inputs = []

    def step(df, i):
        inputs.append(_is_checkpoint(df))
        return _climb(df, i)

    out, _ = iterate(xs, step, 4, every=3)
    # initial state, then after round 3 (i = 2); the last round always
    assert inputs == [True, False, False, True]
    assert _is_checkpoint(out)
    inputs.clear()
    out, _ = iterate(xs, step, 3, probe=[F.sum("x")], every=3)
    assert inputs == [True, True, True] and _is_checkpoint(out)
