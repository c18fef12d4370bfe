"""Layout guard for the rank/A/B statistics in ``operators/analytics.py``:
the md5 A/B split, the per-type value alphabet, the dense user x
type midrank grid and the rank-window doubled midrank are each spelled
once, in their kernel, and every statistic built on them calls that
kernel (AST only, no Spark)."""

import ast
import pathlib

import pytest

from java_mapreduce_framework_spark.operators import analytics

OPERATORS = pathlib.Path(analytics.__file__).parent
TREES = {p.name: ast.parse(p.read_text()) for p in sorted(OPERATORS.glob("*.py"))}
FUNCS = {
    (module, node.name): node
    for module, tree in TREES.items()
    for node in tree.body
    if isinstance(node, ast.FunctionDef)
}

# (statistic, the kernel or registered component it must call)
CALLS = [
    ("ab_test_ztest", "_ab_conversions"),
    ("odds_ratio_ab", "_ab_conversions"),
    ("welch_ttest", "_ab_moments"),
    ("cohens_d", "_ab_moments"),
    ("mannwhitney_utest", "_ab_value_counts"),
    ("mannwhitney_utest", "_midrank2"),
    ("ansari_bradley", "_ab_value_counts"),
    ("ks_two_sample", "_ab_value_counts"),
    ("cliff_delta", "_ab_value_counts"),
    ("cvm_two_sample", "_ab_value_counts"),
    ("brunner_munzel", "_ab_value_counts"),
    ("brunner_munzel", "_midrank2"),
    ("mood_median_test", "_ab_arm"),
    ("friedman_ranks", "_block_midranks"),
    ("page_trend", "_block_midranks"),
    ("quade_ranks", "_block_midranks"),
    ("cronbach_alpha", "_block_midranks"),
    ("kruskal_wallis", "_midrank2"),
    ("spearman_corr", "_midrank2"),
    ("wilcoxon_signed_rank", "_midrank2"),
    ("fdr_bh", "ab_test_ztest"),
    ("lepage_test", "mannwhitney_utest"),
    ("lepage_test", "ansari_bradley"),
    ("_ab_value_counts", "_ab_arm"),
    ("_ab_moments", "_ab_arm"),
    ("_ab_conversions", "_ab_arm"),
    ("_block_midranks", "_rank_midrank2"),
    ("quade_ranks", "_rank_midrank2"),
    ("bartels_rank_test", "_rank_midrank2"),
]


def _method_calls(node, attr):
    return [
        c
        for c in ast.walk(node)
        if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute) and c.func.attr == attr
    ]


def _str_args(call):
    return [a.value for a in call.args if isinstance(a, ast.Constant)]


def _where(pred):
    """Sorted names of the operator functions for which ``pred`` holds."""
    return sorted(name for (_, name), node in FUNCS.items() if pred(node))


def test_ab_salt_is_spelled_once_in_ab_arm():
    def salts(node):
        return [c for c in _method_calls(node, "lit") if _str_args(c) == ["ab"]]

    everywhere = [c for tree in TREES.values() for c in salts(tree)]
    assert len(everywhere) == 1
    assert everywhere == salts(FUNCS[("analytics.py", "_ab_arm")])


def test_value_alphabet_with_arm_counts_only_in_ab_value_counts():
    def builds_it(node):
        return any(
            isinstance(agg.func.value, ast.Call)
            and isinstance(agg.func.value.func, ast.Attribute)
            and agg.func.value.func.attr == "groupBy"
            and _str_args(agg.func.value) == ["event_type", "value"]
            and any(_str_args(a) == ["cnt_a"] for a in _method_calls(agg, "alias"))
            for agg in _method_calls(node, "agg")
        )

    assert _where(builds_it) == ["_ab_value_counts"]


def test_rank_within_user_only_in_block_midranks():
    def ranks_within_user(node):
        if any(
            "user_id" in _str_args(c)
            for c in ast.walk(node)
            if isinstance(c, ast.Call) and isinstance(c.func, ast.Name) and c.func.id == "_rank_midrank2"
        ):
            return True
        windows = {
            t.id: a.value
            for a in ast.walk(node)
            if isinstance(a, ast.Assign)
            for t in a.targets
            if isinstance(t, ast.Name)
        }
        for over in _method_calls(node, "over"):
            fn = over.func.value
            if not (isinstance(fn, ast.Call) and isinstance(fn.func, ast.Attribute) and fn.func.attr == "rank"):
                continue
            spec = over.args[0]
            spec = windows.get(spec.id, spec) if isinstance(spec, ast.Name) else spec
            if any("user_id" in _str_args(p) for p in _method_calls(spec, "partitionBy")):
                return True
        return False

    assert _where(ranks_within_user) == ["_block_midranks"]


@pytest.mark.parametrize("fn, kernel", CALLS)
def test_statistic_calls_its_kernel(fn, kernel):
    node = FUNCS[("analytics.py", fn)]
    assert [
        c
        for c in ast.walk(node)
        if isinstance(c, ast.Call) and isinstance(c.func, ast.Name) and c.func.id == kernel
    ], f"{fn} does not call {kernel}"


def test_rank_midrank_form_only_in_rank_midrank2():
    """``2 * rank() + ties - 1`` is spelled once: every ``F.rank()`` of
    the statistics module is inside ``_rank_midrank2``."""

    def ranks(node):
        return bool(_method_calls(node, "rank"))

    assert [name for (module, name), node in FUNCS.items() if module == "analytics.py" and ranks(node)] == [
        "_rank_midrank2"
    ]
