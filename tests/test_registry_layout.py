"""Layout guard for the declared query registry: one module per
operator family beside ``core`` and ``__init__``, family modules that
share fragments only through ``core``, and a package namespace with
no private names."""

import ast
import pathlib

from java_mapreduce_framework_spark.plans import registry

FAMILIES = {
    "relational",
    "temporal",
    "text",
    "dedup",
    "graph",
    "similarity",
    "multimodal",
    "analytics",
    "ml",
    "sqlintake",
    "jobapi",
    "sources",
    "streaming",
}
PKG = pathlib.Path(registry.__file__).parent


def test_registry_has_one_module_per_family():
    modules = {p.stem for p in PKG.glob("*.py")}
    assert modules == FAMILIES | {"core", "__init__"}


def test_registry_exports_no_private_names():
    private = sorted(n for n in vars(registry) if n.startswith("_") and not n.startswith("__"))
    assert private == []


def test_family_modules_import_no_other_family():
    for fam in sorted(FAMILIES):
        tree = ast.parse((PKG / f"{fam}.py").read_text())
        siblings = {
            node.module or alias.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and node.level == 1
            for alias in node.names
        }
        assert siblings <= {"core"}, f"{fam} imports {sorted(siblings - {'core'})}"
