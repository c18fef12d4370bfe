"""Layout guard for ``operators/multimodal.py``: every operator's Python
step is an ``emit`` function run by the one row substrate ``_rows``,
which holds the module's only ``mapInPandas`` call and its only
``pd.DataFrame(`` construction (AST only, no Spark)."""

import ast
import pathlib

from java_mapreduce_framework_spark.operators import multimodal

TREE = ast.parse(pathlib.Path(multimodal.__file__).read_text())
FUNCS = {node.name: node for node in TREE.body if isinstance(node, ast.FunctionDef)}


def _calls(node, attr, owner=None):
    return [
        c
        for c in ast.walk(node)
        if isinstance(c, ast.Call)
        and isinstance(c.func, ast.Attribute)
        and c.func.attr == attr
        and (owner is None or (isinstance(c.func.value, ast.Name) and c.func.value.id == owner))
    ]


def _calls_name(node, name):
    return [c for c in ast.walk(node) if isinstance(c, ast.Call) and isinstance(c.func, ast.Name) and c.func.id == name]


def test_one_map_in_pandas_call_in_rows():
    assert len(_calls(TREE, "mapInPandas")) == 1
    assert len(_calls(FUNCS["_rows"], "mapInPandas")) == 1


def test_one_pandas_frame_construction_in_rows():
    assert len(_calls(TREE, "DataFrame", owner="pd")) == 1
    assert len(_calls(FUNCS["_rows"], "DataFrame", owner="pd")) == 1


def test_every_python_step_is_an_emit_on_rows():
    """Each of the 34 operators with a nested function runs it through
    ``_rows``, directly or through ``_perceptual_groups``."""
    runs_python = [
        name
        for name, node in FUNCS.items()
        if not name.startswith("_") and any(isinstance(n, ast.FunctionDef) for n in ast.walk(node) if n is not node)
    ]
    assert len(runs_python) == 34
    for name in runs_python:
        assert _calls_name(FUNCS[name], "_rows") or _calls_name(FUNCS[name], "_perceptual_groups"), name
