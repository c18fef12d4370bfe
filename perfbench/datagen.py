"""Seeded fixture generator.

Writes the ten parquet tables the engine reads (``region`` ...
``embeddings``) into one directory, with the schemas and value
distributions of the engine's reference fixtures: a TPC-H-like star
schema, an ``events`` stream table, a ``documents`` corpus with ~5%
near-duplicates and unit-norm 64-d ``embeddings``. Each table is one
file with one row group, like the reference fixtures.

The same ``(seed, scale)`` always yields the same bytes, so a run's
inputs are a function of its ``--seed`` alone.
"""

from __future__ import annotations

import datetime as dt
import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "anvil"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _days(rng, n: int, first: dt.date, last: dt.date) -> pa.Array:
    span = (last - first).days
    d = rng.integers(0, span + 1, n).astype(np.float64) * 86400.0
    return _ts(dt.datetime.combine(first, dt.time()), d)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def generate(out_dir: str | pathlib.Path, seed: int, scale: float) -> dict[str, int]:
    """Write all tables for ``(seed, scale)`` under ``out_dir``; return
    row counts. ``scale`` follows the reference fixtures' sf: 1.0 would
    be 6M lineitem rows; ``documents`` and ``embeddings`` keep their
    reference floor of 500 rows."""
    out = pathlib.Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 10)
    n_ord = max(int(1_500_000 * scale), 10)
    n_line = max(int(6_000_000 * scale), 10)
    n_evt = max(int(1_000_000 * scale), 10)
    n_users = max(int(15_000 * scale), 10)
    n_docs = max(int(50_000 * scale), 500)
    n_vecs = max(int(20_000 * scale), 500)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": _keys(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": _keys(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": _keys(n_part),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": _keys(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(_STATUS, n_ord).tolist(),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(_PRIORITY, n_ord).tolist(),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    gaps = rng.exponential(30 * 86400 / n_evt, n_evt)
    tables["events"] = pa.table(
        {
            "event_id": _keys(n_evt),
            "ts": _ts(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n_evt).tolist(),
            "value": np.clip(np.round(rng.exponential(50.0, n_evt), 2), 0.01, None),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, n_words).tolist()))
    tables["documents"] = pa.table(
        {
            "doc_id": _keys(n_docs),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": _keys(n_vecs),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, vecs.size + 1, 64, dtype=np.int32)),
                pa.array(vecs.ravel()),
            ),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, out / f"{name}.parquet", row_group_size=len(table) + 1)
    return {name: len(t) for name, t in tables.items()}
