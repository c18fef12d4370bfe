"""Engine-local semantics tests for the round-11 operators: each pins
the operator's math on a crafted input against a hand-computed
reference (the DuckDB oracle sweep covers fixture parity; these cover
the SEMANTICS on inputs chosen to exercise the edges -- Aroon's
tied-high tie rule, Allen relation boundaries, the rank-sum AUC on a
tied score column, eigenvector centrality on a path graph, the
stickiness trailing window straddling a gap)."""

import datetime
import math

import numpy as np
from pyspark.sql import functions as F

from java_mapreduce_framework_spark.operators import (
    analytics,
    graph,
    ml,
    temporal,
    text,
)


def _events(spark, rows):
    """rows: (event_id, iso_ts, user_id, event_type, value)"""
    return spark.createDataFrame(
        [
            (i, datetime.datetime.fromisoformat(ts), u, t, float(v), "{}")
            for (i, ts, u, t, v) in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def _docs(spark, rows):
    """rows: (doc_id, text, lang, source)"""
    return spark.createDataFrame(
        [(i, t, lg, s, len(t)) for (i, t, lg, s) in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )


def _daily(spark, closes, user=1):
    """One event per day at the given integer close values."""
    return _events(
        spark,
        [
            (i, f"2024-01-{i + 1:02d}T12:00:00", user, "click", c)
            for i, c in enumerate(closes)
        ],
    )


# ------------------------------------------------ technical indicators


def test_williams_r_endpoints_and_flat_null(spark):
    ev = _daily(spark, [10.0, 20.0, 15.0])
    rows = {r["day"].day: r["pct_r"]
            for r in temporal.window_williams_r(ev).collect()}
    assert rows[1] is None  # 1-day window is flat
    assert rows[2] == 0.0  # close at the rolling high
    # close 1500c inside [1000c, 2000c]: (2000-1500)*-100/1000 = -50
    assert rows[3] == -50.0


def test_aroon_tied_high_pins_latest_row(spark):
    # highs: 20, 20 (tie), 10 -- the tied high must resolve to day 2,
    # so on day 3 aroon_up = 100*(13 - 1)/13
    ev = _daily(spark, [20.0, 20.0, 10.0])
    rows = {r["day"].day: r for r in temporal.window_aroon(ev).collect()}
    assert rows[2]["aroon_up"] == 100.0  # tie -> latest row IS today
    expected = round((13 - 1) * 100.0 / 13 * 1e4) / 1e4
    assert rows[3]["aroon_up"] == expected
    assert rows[3]["aroon_down"] == 100.0  # low printed today


def test_vortex_hand_computed(spark):
    # closes 10, 12, 11 -> day2: vm+=|1200-1000|=200, vm-=|1200-1000|
    # =200 (single event/day: high=low=close), tr=|1200-1000|=200
    ev = _daily(spark, [10.0, 12.0, 11.0])
    rows = {r["day"].day: r for r in temporal.window_vortex(ev).collect()}
    assert rows[1]["vi_plus"] is None  # no TR yet
    assert rows[2]["vi_plus"] == 1.0 and rows[2]["vi_minus"] == 1.0
    # day3 adds vm+=|1100-1200|=100, vm-=|1100-1200|=100, tr=100
    assert rows[3]["vi_plus"] == 1.0 and rows[3]["vi_minus"] == 1.0


def test_chande_momentum_symmetric(spark):
    # deltas: +200, -100 -> cmo = 100*(200-100)/300
    ev = _daily(spark, [10.0, 12.0, 11.0])
    rows = {r["day"].day: r["cmo"]
            for r in temporal.window_chande_momentum(ev).collect()}
    assert rows[1] is None
    assert rows[2] == 100.0
    assert rows[3] == round(100.0 * 100 / 300 * 1e4) / 1e4


def test_force_index_counts_only_force_bearing_days(spark):
    # two events on day2 -> volume 2; delta +200c -> force 400
    ev = _events(
        spark,
        [
            (0, "2024-01-01T12:00:00", 1, "click", 10.0),
            (1, "2024-01-02T10:00:00", 1, "click", 12.0),
            (2, "2024-01-02T11:00:00", 1, "click", 12.0),
        ],
    )
    rows = {r["day"].day: r["force_13"]
            for r in temporal.window_force_index(ev).collect()}
    assert rows[1] is None  # no delta yet -> window count 0
    assert rows[2] == 400.0  # one force-bearing day, mean = itself


# --------------------------------------------------------- statistics


def test_mann_kendall_monotone_series(spark):
    # strictly increasing daily counts 1,2,3,4 -> S = 6, no ties
    rows = []
    eid = 0
    for d in range(1, 5):
        for _ in range(d):
            rows.append((eid, f"2024-01-{d:02d}T12:00:00", 1, "click", 1.0))
            eid += 1
    out = analytics.mann_kendall_daily(_events(spark, rows)).collect()[0]
    assert out["n_days"] == 4 and out["s_stat"] == 6
    var_s = 4 * 3 * 13 / 18.0
    assert out["z"] == round((6 - 1) / math.sqrt(var_s), 4)


def test_hellinger_identical_distributions_is_zero(spark):
    # same type mix on weekday (Mon Jan 1) and weekend (Sat Jan 6)
    rows = [
        (0, "2024-01-01T12:00:00", 1, "a", 1.0),
        (1, "2024-01-01T12:00:00", 1, "b", 1.0),
        (2, "2024-01-06T12:00:00", 1, "a", 1.0),
        (3, "2024-01-06T12:00:00", 1, "b", 1.0),
    ]
    out = analytics.hellinger_weekpart(_events(spark, rows)).collect()[0]
    assert out["hellinger"] == 0.0 and out["bc"] == 1.0


def test_dagostino_skew_symmetric_is_zero_g1(spark):
    # symmetric daily counts around 5 over 11 days -> m3 = 0 -> g1 = 0
    counts = [1, 2, 3, 4, 5, 5, 5, 6, 7, 8, 9]
    rows = []
    eid = 0
    for d, c in enumerate(counts, start=1):
        for _ in range(c):
            rows.append((eid, f"2024-01-{d:02d}T12:00:00", 1, "x", 1.0))
            eid += 1
    out = analytics.dagostino_skew_daily(_events(spark, rows)).collect()[0]
    assert out["n_days"] == 11 and out["g1"] == 0.0 and out["z"] == 0.0


def test_odds_ratio_cells_consistent(spark, sf_small):
    from java_mapreduce_framework_spark.sources.tables import load_table

    ev = load_table(spark, sf_small, "events")
    out = {r["event_type"]: r
           for r in analytics.odds_ratio_ab(ev).collect()}
    za = {r["event_type"]: r for r in analytics.ab_test_ztest(ev).collect()}
    # ztest drops degenerate pools; compare on its surviving types
    for t in za:
        r = out[t]
        assert r["conv_a"] + r["miss_a"] == za[t]["n_a"]
        assert r["conv_b"] + r["miss_b"] == za[t]["n_b"]
        assert r["conv_a"] == za[t]["conv_a"]
    for r in out.values():
        if r["odds_ratio"] is not None:
            assert r["ci_low"] <= r["odds_ratio"] <= r["ci_high"]


# ------------------------------------------------- engagement / shape


def test_stickiness_window_straddles_gap(spark):
    # user 1 active day 1 and day 30; user 2 active day 30 only.
    rows = [
        (0, "2024-01-01T12:00:00", 1, "click", 1.0),
        (1, "2024-01-30T12:00:00", 1, "click", 1.0),
        (2, "2024-01-30T12:00:00", 2, "click", 1.0),
    ]
    out = {r["day"].day: r
           for r in analytics.stickiness_dau_mau(_events(spark, rows)).collect()}
    assert out[1]["dau"] == 1 and out[1]["mau"] == 1
    # day 30 trailing 28d window = [Jan 3, Jan 30]: excludes Jan 1
    assert out[30]["dau"] == 2 and out[30]["mau"] == 2
    assert out[30]["stickiness"] == 1.0


def test_lorenz_curve_total_share_is_one(spark, sf_small):
    from java_mapreduce_framework_spark.sources.tables import load_table

    ev = load_table(spark, sf_small, "events")
    rows = sorted(
        analytics.lorenz_curve_users(ev).collect(),
        key=lambda r: r["decile"],
    )
    assert rows[-1]["cum_share"] == 1.0
    shares = [r["cum_share"] for r in rows]
    assert shares == sorted(shares)  # monotone curve
    assert 0.0 < shares[0] < 1.0
    # Lorenz curve lies on or below the diagonal in EVENT terms: the
    # lightest k deciles of USERS hold at most their user share
    # (ntile's remainder rule can make that share exceed k/10, so
    # compare against the realized user fraction, not 0.1 * k)
    n_users = sum(r["n_users"] for r in rows)
    cum_u = 0
    for r in rows:
        cum_u += r["n_users"]
        assert r["cum_share"] <= cum_u / n_users + 1e-9


# ------------------------------------------------ ML evaluation kernels


def test_roc_auc_matches_naive_pair_count(spark):
    # scores with ties across labels; brute-force AUC =
    # (wins + 0.5 * ties) / (n_pos * n_neg)
    docs = [
        (1, "a", "en", "s"),
        (2, "bb", "en", "s"),
        (3, "bb", "fr", "s"),
        (4, "cccc", "fr", "s"),
        (5, "ddddd", "en", "s"),
    ]
    df = _docs(spark, docs)
    out = ml.roc_auc_lang_length(df).collect()[0]
    pos = [1, 2, 5]
    neg = [2, 4]
    scores = {1: 1, 2: 2, 3: 2, 4: 4, 5: 5}
    wins = ties = 0
    for p in pos:
        for n in (3, 4):
            if scores[p] > scores[n]:
                wins += 1
            elif scores[p] == scores[n]:
                ties += 1
    auc = (wins + 0.5 * ties) / (len(pos) * 2)
    assert out["auc"] == round(auc * 1e6) / 1e6
    assert out["n_pos"] == 3 and out["n_neg"] == 2


def test_pr_curve_last_cut_is_base_rate(spark, sf_small):
    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    rows = {r["cut_pct"]: r for r in ml.pr_curve_lang_length(docs).collect()}
    n = docs.count()
    n_pos = docs.filter(F.col("lang") == "en").count()
    full = rows[100]
    assert full["rank_cut"] == n
    assert full["recall"] == 1.0
    assert full["precision"] == round(n_pos / n * 1e6) / 1e6
    # precision is within [0,1] and recall monotone in the cut
    cuts = sorted(rows)
    recalls = [rows[k]["recall"] for k in cuts]
    assert recalls == sorted(recalls)


def test_ridge_two_feature_matches_numpy(spark, sf_small):
    from java_mapreduce_framework_spark.sources.tables import load_table

    li = load_table(spark, sf_small, "lineitem")
    out = ml.ridge_two_feature(li).collect()[0]
    pdf = li.select("l_quantity", "l_discount", "l_extendedprice").toPandas()
    x1 = pdf["l_quantity"].to_numpy(dtype=np.float64)
    x2 = np.round(pdf["l_discount"].to_numpy(dtype=np.float64) * 10000)
    y = np.round(pdf["l_extendedprice"].to_numpy(dtype=np.float64) * 100)
    xc = np.column_stack([x1 - x1.mean(), x2 - x2.mean()])
    yc = y - y.mean()
    lam = 1000.0
    beta = np.linalg.solve(xc.T @ xc + lam * np.eye(2), xc.T @ yc)
    assert abs(out["beta_qty"] - beta[0]) < 1e-4
    assert abs(out["beta_disc"] - beta[1]) < 1e-4
    icpt = y.mean() - beta[0] * x1.mean() - beta[1] * x2.mean()
    assert abs(out["intercept"] - icpt) < 1e-2


# ------------------------------------------------------ graph / text


def test_eigenvector_centrality_path_graph(spark):
    # path 1-2-3 plus isolated 4: replay the exact (A + I) iteration
    # in numpy (plain A oscillates on bipartite graphs -- the +I
    # shift is the point) and compare bit-for-bit after round 6.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    verts = spark.createDataFrame([(1,), (2,), (3,), (4,)], "doc_id long")
    out = {r["doc_id"]: r["centrality"]
           for r in graph.eigenvector_centrality(pairs, verts).collect()}
    a = np.array([
        [1, 1, 0, 0],
        [1, 1, 1, 0],
        [0, 1, 1, 0],
        [0, 0, 0, 1],
    ], dtype=np.float64)  # A + I
    x = np.ones(4)
    for _ in range(8):
        x = a @ x
        x = x / x.max()
    assert out[2] == 1.0  # the hub normalizes to the max
    for i in range(4):
        # the operator emits round(x, 6) -- compare at that grain
        assert abs(out[i + 1] - x[i]) < 1e-6
    assert out[1] == out[3]
    # limit is the A-eigenvector (1, sqrt(2), 1)/sqrt(2); 8 shifted
    # rounds get within ~1e-3 of it
    assert abs(out[1] - 1 / math.sqrt(2)) < 1e-2


def test_skipgram_pairs_gap_semantics(spark):
    docs = _docs(spark, [(i, "a b c a b c a b c", "en", "s")
                         for i in range(5)])
    rows = {(r["w1"], r["w2"], r["gap"]): r["n_pair"]
            for r in text.skipgram_pmi(docs, min_count=5).collect()}
    # per doc: adjacent (a,b) x3; gap-2 (a,c) x3 etc.
    assert rows[("a", "b", 1)] == 15
    assert rows[("a", "c", 2)] == 15
    assert ("a", "c", 1) not in rows  # never adjacent


def test_allen_relations_boundaries(spark):
    # type a [10:00, 12:00], type b [12:00, 13:00] -> a meets b;
    # type c [10:30, 11:00] is during a; a overlaps d [11:00, 14:00]
    rows = [
        (0, "2024-01-01T10:00:00", 1, "a", 1.0),
        (1, "2024-01-01T12:00:00", 1, "a", 1.0),
        (2, "2024-01-01T12:00:00", 2, "b", 1.0),
        (3, "2024-01-01T13:00:00", 2, "b", 1.0),
        (4, "2024-01-01T10:30:00", 3, "c", 1.0),
        (5, "2024-01-01T11:00:00", 3, "c", 1.0),
        (6, "2024-01-01T11:00:00", 4, "d", 1.0),
        (7, "2024-01-01T14:00:00", 4, "d", 1.0),
    ]
    out = {(r["type_a"], r["type_b"]): r["relation"]
           for r in temporal.allen_relation_profile(_events(spark, rows)).collect()}
    assert out[("a", "b")] == "meets"
    assert out[("a", "c")] == "contains"
    assert out[("a", "d")] == "overlaps"
    assert out[("b", "c")] == "after"
    assert out[("b", "d")] == "during"
    assert out[("c", "d")] == "meets"


# ------------------------------------------------------- batch 2


def test_seasonality_strength_pure_weekly_cycle(spark):
    # two full weeks with counts determined ONLY by dow -> eta² = 1
    rows = []
    eid = 0
    for d in range(1, 15):
        dow = (d - 1) % 7
        for _ in range(dow + 1):
            rows.append((eid, f"2024-01-{d:02d}T12:00:00", 1, "x", 1.0))
            eid += 1
    out = analytics.seasonality_strength_dow(_events(spark, rows)).collect()[0]
    assert out["n_days"] == 14 and out["eta_squared"] == 1.0


def test_mood_median_balanced_split_is_zero(spark, sf_small):
    from java_mapreduce_framework_spark.sources.tables import load_table

    ev = load_table(spark, sf_small, "events")
    out = analytics.mood_median_test(ev).collect()[0]
    n_above = out["a_above"] + out["b_above"]
    n_below = out["a_below"] + out["b_below"]
    # pooled median splits the pooled sample evenly (up to ties)
    assert abs(n_above - n_below) <= max(2, 0.01 * (n_above + n_below))
    assert out["chi2"] >= 0.0


def test_gini_by_nation_bounds_and_equality_case(spark):
    orders = spark.createDataFrame(
        [(i, i % 4 + 1, 100.0) for i in range(8)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(i, 1) for i in range(1, 5)],
        "c_custkey long, c_nationkey long",
    )
    nation = spark.createDataFrame(
        [(1, "FRANCE")], "n_nationkey long, n_name string"
    )
    from java_mapreduce_framework_spark.operators import relational

    out = relational.revenue_gini_by_nation(orders, customer, nation).collect()
    # four customers with identical totals -> gini 0
    assert len(out) == 1
    assert out[0]["n_customers"] == 4 and out[0]["gini"] == 0.0


def test_sax_words_symbols_and_order(spark):
    # week of 7 days, counts 1..7 ascending -> symbols monotone
    # non-decreasing a..d in day order
    rows = []
    eid = 0
    for d in range(1, 8):
        for _ in range(d):
            rows.append((eid, f"2024-01-{d:02d}T12:00:00", 1, "x", 1.0))
            eid += 1
    out = temporal.sax_weekly_words(_events(spark, rows)).collect()
    words = {r["week"].day: r for r in out}
    # Jan 1 2024 is a Monday: one full ISO week
    assert words[1]["n_days"] == 7
    w = words[1]["sax_word"]
    assert len(w) == 7
    assert list(w) == sorted(w)  # ascending counts -> ascending symbols
    assert w[0] == "a" and w[-1] == "d"


def test_lang_rebalance_rarest_keeps_all(spark):
    docs = _docs(
        spark,
        [(i, "x", "en" if i < 6 else ("fr" if i < 9 else "de"), "s")
         for i in range(10)],
    )
    out = {r["lang"]: r for r in text.corpus_lang_rebalance(docs).collect()}
    assert out["de"]["keep_prob"] == 1.0 and out["de"]["expected_kept"] == 1
    assert out["fr"]["keep_prob"] == round(1 / 3 * 1e6) / 1e6
    assert out["en"]["expected_kept"] == 1


def test_self_repetition_loop_vs_unique(spark):
    docs = _docs(
        spark,
        [
            (1, "a b c a b c a b c", "en", "s"),  # period-3 loop
            (2, "one two three four five", "en", "s"),  # all unique
            (3, "a b", "en", "s"),  # too short -> dropped
        ],
    )
    out = {r["doc_id"]: r for r in text.text_self_repetition(docs).collect()}
    # doc 1: 7 grams, 3 distinct -> rep 4/7
    assert out[1]["n_grams"] == 7
    assert out[1]["rep_frac"] == round(4 / 7 * 1e6) / 1e6
    assert out[2]["rep_frac"] == 0.0
    assert 3 not in out


def test_quantize_error_audit_bound(spark, sf_small):
    from java_mapreduce_framework_spark.operators import similarity
    from java_mapreduce_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    rows = similarity.embedding_quantize_error_audit(emb).collect()
    assert len(rows) > 0
    for r in rows:
        # symmetric int8 rounding error is at most scale/254 per
        # element (half a quantization step)
        assert r["max_abs_err"] <= r["scale"] / 254.0 + 1e-9
        assert 0.0 <= r["mean_abs_err"] <= r["max_abs_err"] + 1e-12


# ------------------------------------------------------- batch 3


def test_trix_constant_series_is_zero(spark):
    # constant closes -> every EWMA stage equals the close -> RoC 0
    ev = _daily(spark, [10.0] * 5)
    rows = {r["day"].day: r["trix"]
            for r in temporal.window_trix(ev).collect()}
    assert rows[1] is None  # no previous e3
    assert all(rows[d] == 0.0 for d in range(2, 6))


def test_trix_matches_pandas_replay(spark):
    import pandas as pd

    closes = [10.0, 12.0, 11.0, 15.0, 13.0, 14.0, 16.0]
    ev = _daily(spark, closes)
    out = {r["day"].day: r["trix"]
           for r in temporal.window_trix(ev).collect()}
    cents = pd.Series([c * 100 for c in closes])

    def ewma(s):
        # normalized bounded-frame EWMA, decay 3/4, 12-lag frame
        vals = []
        for i in range(len(s)):
            lo = max(0, i - 11)
            fr = s[lo:i + 1]
            wts = [0.75 ** (len(fr) - 1 - j) for j in range(len(fr))]
            vals.append(sum(v * w for v, w in zip(fr, wts))
                        / ((1 - 0.75 ** len(fr)) / 0.25))
        return vals

    e = ewma(ewma(ewma(list(cents))))
    for d in range(2, 8):
        exp = (e[d - 1] - e[d - 2]) / e[d - 2]
        assert abs(out[d] - round(exp * 1e6) / 1e6) < 2e-6


def test_quade_perfect_agreement_null_stat(spark):
    # every user prefers types identically and spreads identically:
    # A == B -> statistic undefined -> NULL
    rows = []
    eid = 0
    for u in (1, 2):
        for t, c in (("a", 1), ("b", 2), ("c", 3)):
            for _ in range(c):
                rows.append((eid, "2024-01-01T12:00:00", u, t, 1.0))
                eid += 1
    out = analytics.quade_ranks(_events(spark, rows)).collect()
    assert len(out) == 3
    assert all(r["quade_stat"] is None for r in out)
    # quarter-lattice scores: type c gets the max positive sum
    sums = {r["event_type"]: r["s4_sum"] for r in out}
    assert sums["c"] > 0 > sums["a"] and sums["b"] == 0


# ------------------------------------------------------- batch 4


def test_markov_transitions_rows_sum_to_one(spark):
    rows = [
        (0, "2024-01-01T10:00:00", 1, "a", 1.0),
        (1, "2024-01-01T10:01:00", 1, "b", 1.0),
        (2, "2024-01-01T10:02:00", 1, "a", 1.0),
        (3, "2024-01-01T10:03:00", 1, "b", 1.0),
        (4, "2024-01-01T10:00:00", 2, "a", 1.0),
        (5, "2024-01-01T10:01:00", 2, "a", 1.0),
    ]
    out = analytics.markov_transitions(_events(spark, rows)).collect()
    trans = {(r["from_type"], r["to_type"]): r for r in out}
    # user 1: a->b, b->a, a->b; user 2: a->a
    assert trans[("a", "b")]["n_transitions"] == 2
    assert trans[("a", "a")]["n_transitions"] == 1
    assert trans[("b", "a")]["n_transitions"] == 1
    a_row = [r for r in out if r["from_type"] == "a"]
    assert abs(sum(r["p"] for r in a_row) - 1.0) < 1e-5
    assert trans[("a", "b")]["p"] == round(2 / 3 * 1e6) / 1e6


def test_interpurchase_cv_buckets(spark):
    import datetime as dt

    # cust 1: perfectly regular 10-day gaps -> cv 0 -> regular;
    # cust 2: gaps 1 and 99 -> cv = 49/50 -> intermediate (0.98)
    orders = spark.createDataFrame(
        [
            (1, 1, dt.datetime(2024, 1, 1)),
            (2, 1, dt.datetime(2024, 1, 11)),
            (3, 1, dt.datetime(2024, 1, 21)),
            (4, 2, dt.datetime(2024, 1, 1)),
            (5, 2, dt.datetime(2024, 1, 2)),
            (6, 2, dt.datetime(2024, 4, 11)),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    customer = spark.createDataFrame(
        [(1, "BUILDING"), (2, "BUILDING")],
        "c_custkey long, c_mktsegment string",
    )
    out = {(r["c_mktsegment"], r["bucket"]): r["n_customers"]
           for r in analytics.interpurchase_cv(customer, orders).collect()}
    assert out[("BUILDING", "regular")] == 1
    assert out[("BUILDING", "intermediate")] == 1


def test_hull_ma_constant_series_is_close(spark):
    # constant closes: every WMA equals the close, 2a-b = close,
    # HMA = close exactly
    ev = _daily(spark, [10.0] * 6)
    rows = {r["day"].day: r["hma"]
            for r in temporal.window_hull_ma(ev).collect()}
    assert all(v == 10.0 for v in rows.values())


def test_peak_days_flags_strict_local_max(spark):
    # counts: 1,1,1,1,5,1,1,1,1 -> day 5 is the only local peak
    rows = []
    eid = 0
    for d, c in enumerate([1, 1, 1, 1, 5, 1, 1, 1, 1], start=1):
        for _ in range(c):
            rows.append((eid, f"2024-01-{d:02d}T12:00:00", 1, "x", 1.0))
            eid += 1
    out = analytics.peak_days(_events(spark, rows)).collect()
    assert len(out) == 1 and out[0]["day"].day == 5
    assert out[0]["n_events"] == 5 and out[0]["prev_n"] == 1


# ------------------------------------------------------- batch 5


def test_dpo_constant_series_and_warmup_null(spark):
    ev = _daily(spark, [10.0] * 10)
    rows = {r["day"].day: r["dpo"]
            for r in temporal.window_dpo(ev).collect()}
    # displacement is span/2 + 1 = 8: first 8 days NULL, then exact 0
    assert all(rows[d] is None for d in range(1, 9))
    assert rows[9] == 0.0 and rows[10] == 0.0


def test_bartels_rank_alternating_series(spark):
    # strictly alternating counts 1,5,1,5,... -> max oscillation:
    # rvn -> 4-ish, z strongly positive
    rows = []
    eid = 0
    for d in range(1, 11):
        c = 5 if d % 2 == 0 else 1
        for _ in range(c):
            rows.append((eid, f"2024-01-{d:02d}T12:00:00", 1, "x", 1.0))
            eid += 1
    out = analytics.bartels_rank_test(_events(spark, rows)).collect()[0]
    assert out["n_days"] == 10
    assert out["rvn"] > 3.0
    assert out["z"] > 1.96 and out["random_order"] is False


def test_cusum_break_finds_level_shift(spark):
    # counts: 5 days of 2, then 5 days of 10 -> break at day 5
    rows = []
    eid = 0
    for d in range(1, 11):
        c = 2 if d <= 5 else 10
        for _ in range(c):
            rows.append((eid, f"2024-01-{d:02d}T12:00:00", 1, "x", 1.0))
            eid += 1
    out = analytics.cusum_break(_events(spark, rows)).collect()[0]
    assert out["break_day"].day == 5
    assert out["cusum_stat"] > 0.5  # decisive shift


def test_novelty_saturation_monotone_on_repeats(spark):
    # doc 0 introduces everything; docs 1..9 repeat it verbatim ->
    # decile 1 (containing doc 0) is the only novelty carrier
    docs = _docs(
        spark,
        [(i, "alpha beta gamma delta epsilon", "en", "s")
         for i in range(10)],
    )
    out = {r["decile"]: r for r in text.novelty_saturation(docs).collect()}
    assert out[1]["novelty"] == 1.0
    assert all(out[d]["novelty"] == 0.0 for d in range(2, 11))
    assert out[1]["n_grams"] == 3  # 5 tokens -> 3 trigram slots


def test_acf_table_alternating_series(spark):
    # alternating 1,5 series: lag-1 acf strongly negative, lag-2
    # strongly positive
    rows = []
    eid = 0
    for d in range(1, 13):
        c = 5 if d % 2 == 0 else 1
        for _ in range(c):
            rows.append((eid, f"2024-01-{d:02d}T12:00:00", 1, "x", 1.0))
            eid += 1
    out = {r["lag"]: r for r in analytics.acf_table(_events(spark, rows)).collect()}
    assert len(out) == 7
    assert out[1]["acf"] < -0.8 and out[2]["acf"] > 0.7
    assert out[1]["n_pairs"] == 11 and out[7]["n_pairs"] == 5


def test_stopword_profile_shares_and_crafted_diagonal(spark):
    # crafted corpus where the label matches the vocabulary -- the
    # diagonal must dominate (the FIXTURE's synthetic es/de docs
    # carry no real Spanish/German stopwords, which is exactly the
    # mislabel signal this profile exists to expose, so the fixture
    # is asserted only through the oracle sweep)
    docs = _docs(
        spark,
        [
            (1, "the cat of the house and a dog", "en", "s"),
            (2, "el gato de la casa y es un", "es", "s"),
            (3, "der hund und die katze ist ein", "de", "s"),
        ],
    )
    out = {r["lang"]: r for r in text.stopword_profile(docs).collect()}
    assert out["en"]["en_share"] > max(out["en"]["es_share"],
                                       out["en"]["de_share"])
    assert out["es"]["es_share"] > max(out["es"]["en_share"],
                                       out["es"]["de_share"])
    assert out["de"]["de_share"] > max(out["de"]["en_share"],
                                       out["de"]["es_share"])
    for r in out.values():
        assert 0.0 <= r["en_share"] <= 1.0


def test_weekend_lift_hand_computed(spark):
    # Mon Jan 1 + Sat Jan 6 2024: type a fires 2/day weekday, 4 on
    # the weekend day -> lift = (4 * 1) / (2 * 1) = 2
    rows = [
        (0, "2024-01-01T10:00:00", 1, "a", 1.0),
        (1, "2024-01-01T11:00:00", 1, "a", 1.0),
        (2, "2024-01-06T10:00:00", 1, "a", 1.0),
        (3, "2024-01-06T11:00:00", 1, "a", 1.0),
        (4, "2024-01-06T12:00:00", 1, "a", 1.0),
        (5, "2024-01-06T13:00:00", 1, "a", 1.0),
        (6, "2024-01-01T10:00:00", 1, "b", 1.0),
    ]
    out = {r["event_type"]: r
           for r in analytics.weekend_lift(_events(spark, rows)).collect()}
    assert out["a"]["lift"] == 2.0
    assert out["b"]["n_weekend"] == 0 and out["b"]["lift"] == 0.0
