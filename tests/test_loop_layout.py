"""Layout guard for iterative loops: ``session.iterate`` is the one
place that checkpoints loop state and sizes the loop's shuffles, and
every DataFrame state loop in ``operators/`` runs through it."""

import ast
import pathlib

import pytest

from java_mapreduce_framework_spark import session
from java_mapreduce_framework_spark.operators import graph

TREES = {
    p.name: ast.parse(p.read_text())
    for p in sorted(pathlib.Path(graph.__file__).parent.glob("*.py"))
}

# (operator module, the state-loop function that must call iterate)
LOOPS = [
    ("graph.py", "_components"),
    ("graph.py", "connected_components_star"),
    ("graph.py", "bfs_hops"),
    ("graph.py", "pagerank"),
    ("graph.py", "eigenvector_centrality"),
    ("graph.py", "kcore"),
    ("text.py", "_bpe_loop"),
    ("text.py", "_ulm_loop"),
    ("temporal.py", "event_markov_stationary"),
]


def _calls(node, attr):
    return [
        c
        for c in ast.walk(node)
        if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute) and c.func.attr == attr
    ]


@pytest.mark.parametrize("module", sorted(TREES))
def test_no_checkpoint_inside_a_loop_body(module):
    loops = [n for n in ast.walk(TREES[module]) if isinstance(n, (ast.For, ast.While))]
    assert [c.lineno for loop in loops for c in _calls(loop, "localCheckpoint")] == []


@pytest.mark.parametrize("module", sorted(TREES))
def test_operators_never_touch_shuffle_partitions(module):
    assert not [
        n.lineno
        for n in ast.walk(TREES[module])
        if isinstance(n, ast.Constant) and n.value == "spark.sql.shuffle.partitions"
    ]


def test_loop_shuffle_partitions_is_gone():
    assert not hasattr(session, "_loop_shuffle_partitions")


@pytest.mark.parametrize("module, fn", LOOPS)
def test_state_loop_runs_through_iterate(module, fn):
    (node,) = [n for n in TREES[module].body if isinstance(n, ast.FunctionDef) and n.name == fn]
    assert [
        c
        for c in ast.walk(node)
        if isinstance(c, ast.Call) and isinstance(c.func, ast.Name) and c.func.id == "iterate"
    ], f"{fn} does not call iterate"
