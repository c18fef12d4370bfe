"""Self-tests of the benchmark's own arithmetic, inputs and output
schema. No Spark session; runs in seconds:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import pathlib
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

BENCH_DIR = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH_DIR))

sys.path.insert(0, str(BENCH_DIR.parent / "tests"))

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle_check  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((BENCH_DIR.parent / "BENCHMARK.json").read_text())


# ------------------------------------------------------------ tail rule


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    pct, value = metrics.tail_percentile(xs)
    assert (pct, value) == (90.0, 90)
    assert sum(x > value for x in xs) == 10


def test_tail_order_does_not_matter_and_counts_exactly_ten():
    xs = [float(x) for x in range(21, 0, -1)]  # 21..1, unsorted
    pct, value = metrics.tail_percentile(xs)
    assert value == 11.0
    assert pct == pytest.approx(100 * 11 / 21)
    assert sum(x > value for x in xs) == 10


def test_tail_never_reads_below_the_median():
    # 20 samples: the rank with ten beyond it would sit below the median
    xs = [float(x) for x in range(1, 21)]
    assert metrics.tail_percentile(xs) == (100.0, 20.0)
    assert metrics.tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)
    with pytest.raises(ValueError):
        metrics.tail_percentile([])


# ------------------------------------------------------------ spans


def test_union_length_merges_overlaps_and_gaps():
    assert metrics.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert metrics.union_length([(0, 10), (2, 3)]) == 10
    assert metrics.union_length([]) == 0
    assert metrics.union_length([(3, 3)]) == 0


def test_self_time_subtracts_clipped_children():
    # children overlap each other and one spills past the parent's end
    assert metrics.self_time((0, 10), [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5)
    assert metrics.self_time((0, 10), []) == 10


def test_span_self_times_over_a_tree():
    spans = [
        {"id": 1, "name": "query", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 2, "name": "plans.build", "start": 0.0, "end": 6.0, "parent": 1},
        {"id": 3, "name": "sources.load_table", "start": 1.0, "end": 2.0, "parent": 2},
        {"id": 4, "name": "sources.load_table", "start": 3.0, "end": 5.0, "parent": 2},
        {"id": 5, "name": "spark.job", "start": 1.5, "end": 1.9, "parent": 3},
        {"id": 6, "name": "operators.exec", "start": 6.0, "end": 9.5, "parent": 1},
    ]
    st = metrics.span_self_times(spans)
    assert st["query"] == pytest.approx(0.5)
    assert st["plans.build"] == pytest.approx(3.0)
    assert st["sources.load_table"] == pytest.approx(0.6 + 2.0)
    assert st["spark.job"] == pytest.approx(0.4)
    assert st["operators.exec"] == pytest.approx(3.5)
    # self times partition the root span exactly
    assert sum(st.values()) == pytest.approx(10.0)


# ------------------------------------------------------------ ratios


def test_slot_busy_frac():
    assert metrics.slot_busy_frac(8.0, 4, 4.0) == 0.5
    assert metrics.slot_busy_frac(16.0, 4, 4.0) == 1.0
    assert metrics.slot_busy_frac(1.0, 4, 0.0) == 0.0
    assert metrics.slot_busy_frac(1.0, 0, 1.0) == 0.0


def test_calls_per_table():
    assert metrics.calls_per_table(["orders", "lineitem"]) == 1.0
    assert metrics.calls_per_table(["orders", "orders", "lineitem", "orders"]) == 2.0
    assert metrics.calls_per_table([]) == 0.0


# ------------------------------------------------------------ inputs


def test_datagen_is_a_function_of_the_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows = datagen.generate(a, 7, 0.001)
    datagen.generate(b, 7, 0.001)
    datagen.generate(c, 8, 0.001)
    assert set(rows) == {p.stem for p in a.iterdir()} and len(rows) == 10
    for t in rows:
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes()
    assert (a / "lineitem.parquet").read_bytes() != (c / "lineitem.parquet").read_bytes()


def test_datagen_schema_matches_the_engine_tables(tmp_path):
    datagen.generate(tmp_path, 1, 0.001)
    want = {
        "orders": {"o_orderkey": "int64", "o_orderdate": "timestamp[us]", "o_totalprice": "double"},
        "lineitem": {"l_linenumber": "int32", "l_shipdate": "timestamp[us]", "l_discount": "double"},
        "events": {"ts": "timestamp[us]", "user_id": "int64", "props": "string"},
        "embeddings": {"embedding": "list<element: float>", "label": "int32"},
        "nation": {"n_nationkey": "int32", "n_regionkey": "int32"},
    }
    for table, cols in want.items():
        schema = pq.read_schema(tmp_path / f"{table}.parquet")
        for col, typ in cols.items():
            assert str(schema.field(col).type) == typ, (table, col)
        assert pq.ParquetFile(tmp_path / f"{table}.parquet").metadata.num_row_groups == 1
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    assert (docs.n_chars == docs.text.str.len()).all()
    assert docs.text.str.endswith(" dup").any()  # near-duplicates present


# ------------------------------------------------------------ oracle


def test_canonical_rows_ignore_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": [0.1 + 0.2, None]})
    b = pd.DataFrame({"y": [None, 0.3], "x": [2, 1]})
    assert oracle_check.canonical_rows(a) == oracle_check.canonical_rows(b)
    c = pd.DataFrame({"x": [1, 2], "y": [0.31, None]})
    assert oracle_check.canonical_rows(a) != oracle_check.canonical_rows(c)


# ------------------------------------------------------------ output schema


def test_benchmark_json_matches_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_every_metric_is_emitted_with_its_unit(capsys):
    # the metric set does not depend on the workload: a layer a workload
    # never touches reports 0
    setup = {"setup_reps_s": [3.0, 1.0, 2.0], "session.start_s": 1.0,
             "session.cold_setup_s": 3.0, "session.warm_s": 1.0}
    untraced = {"passes": [2.0, 3.0], "latencies": [0.5, 0.7, 0.9]}

    e2e = run.end_to_end(setup, untraced)
    assert set(e2e) == set(metrics.END_TO_END_UNITS)
    assert e2e["setup_s"] == 2.0 and e2e["query_s_p50"] == 0.7
    wide, tail_info = run.unbounded(untraced, 2**30)
    assert wide == {"query_s_tail": 0.9, "peak_rss_mb": 1024.0}
    assert set(wide) <= set(metrics.PER_LAYER_UNITS) and tail_info["query_samples"] == 3
    traced = {"passes": [2.0], "per_pass": [{"plans.build.jobs": 7.0}], "overhead_s": 0.1}
    layer = tracing.per_layer(setup, traced)
    assert set(layer) == set(metrics.PER_LAYER_UNITS)
    assert layer["plans.build.jobs"] == 7.0 and layer["session.cold_setup_s"] == 3.0
    for values, units in ((e2e, metrics.END_TO_END_UNITS), (layer, metrics.PER_LAYER_UNITS)):
        run.print_result(True, 5, 0, values, units)
        line = json.loads(capsys.readouterr().out.splitlines()[-1])
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert {k: v["unit"] for k, v in line["metrics"].items()} == units
