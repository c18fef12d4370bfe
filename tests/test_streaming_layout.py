"""Layout guard for ``streaming/jobs.py``: one drain owns
``awaitTermination`` and the streaming partition count, and every
``stream_*`` query with a batch twin calls that twin instead of
re-spelling its plan."""

import ast
import inspect
import pathlib

import pytest

from java_mapreduce_framework_spark.streaming import jobs

TREE = ast.parse(pathlib.Path(jobs.__file__).read_text())
FUNCS = {n.name: n for n in TREE.body if isinstance(n, ast.FunctionDef)}

# (stream query, the batch operator it applies to the stream)
BATCH_TWINS = [
    ("stream_wordcount", "wordcount"),
    ("stream_kvtext_wordcount", "wordcount"),
    ("stream_sessionize", "session_window_agg"),
    ("stream_session_window_watermarked", "session_window_agg"),
    ("stream_session_timeout", "session_window_agg"),
    ("stream_sliding_window", "sliding_window_agg"),
    ("stream_tumbling_window", "tumbling_window_agg"),
    ("stream_tumbling_window_watermarked", "tumbling_window_agg"),
    ("stream_dedup_state", "dedup_exact"),
    ("stream_cdc_upsert", "cdc_update_batch"),
    ("stream_cdc_upsert", "latest_wins"),
]


def _calls(node, attr):
    return [
        c
        for c in ast.walk(node)
        if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute) and c.func.attr == attr
    ]


def test_one_await_termination_site():
    assert len(_calls(TREE, "awaitTermination")) == 1
    assert [name for name, fn in FUNCS.items() if _calls(fn, "awaitTermination")] == ["_drain"]


def test_shuffle_partitions_set_only_by_stream_conf():
    sets = [
        fn
        for fn, node in FUNCS.items()
        for c in _calls(node, "set")
        if c.args
        and isinstance(c.args[0], ast.Constant)
        and c.args[0].value == "spark.sql.shuffle.partitions"
    ]
    assert sets and set(sets) == {"_stream_conf"}


@pytest.mark.parametrize("query, twin", BATCH_TWINS)
def test_stream_query_calls_its_batch_twin(query, twin):
    assert _calls(FUNCS[query], twin), f"{query} does not call {twin}"


@pytest.mark.parametrize("query", ["stream_stream_join", "stream_stream_join_left"])
def test_stream_stream_joins_take_no_state_partitions(query):
    assert "state_partitions" not in inspect.signature(getattr(jobs, query)).parameters
