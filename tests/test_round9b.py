"""Engine-local semantics tests for the round-9 batch-3 operators:
each pins the operator's math on a crafted input against a hand-
computed reference (the DuckDB oracle sweep covers fixture parity;
these cover the SEMANTICS on inputs chosen to exercise the edges --
discordant-pair-only signal, constant blocks, midnight-crossing
sessions, flat channels, breach boundaries)."""

import datetime
import math

from pyspark.sql import functions as F

from java_mapreduce_framework_spark.operators import (
    analytics,
    graph,
    temporal,
    text,
)


def _events(spark, rows):
    """rows: (event_id, iso_ts, user_id, event_type, value)"""
    return spark.createDataFrame(
        [
            (
                i,
                datetime.datetime.fromisoformat(ts),
                u,
                t,
                float(v),
                "{}",
            )
            for (i, ts, u, t, v) in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


# ------------------------------------------------------------- stats


def test_mcnemar_only_discordant_pairs_count(spark):
    # user 1: early+late (concordant, no signal); user 2: early only
    # (b); users 3,4: late only (c) -> b=1, c=2, chi2=(1-2)^2/3
    rows = [
        (0, "2024-01-05T10:00:00", 1, "purchase", 1.0),
        (1, "2024-01-20T10:00:00", 1, "purchase", 1.0),
        (2, "2024-01-05T10:00:00", 2, "purchase", 1.0),
        (3, "2024-01-20T10:00:00", 2, "click", 1.0),
        (4, "2024-01-20T10:00:00", 3, "purchase", 1.0),
        (5, "2024-01-02T10:00:00", 3, "click", 1.0),
        (6, "2024-01-22T10:00:00", 4, "purchase", 1.0),
        (7, "2024-01-02T10:00:00", 4, "view", 1.0),
    ]
    out = analytics.mcnemar_paired(_events(spark, rows)).collect()[0]
    assert out["n_users"] == 4
    assert out["b_early_only"] == 1
    assert out["c_late_only"] == 2
    assert out["mcnemar_chi2"] == round(1.0 / 3.0, 4)


def test_mcnemar_no_disagreement_is_null(spark):
    rows = [
        (0, "2024-01-05T10:00:00", 1, "purchase", 1.0),
        (1, "2024-01-20T10:00:00", 1, "purchase", 1.0),
    ]
    out = analytics.mcnemar_paired(_events(spark, rows)).collect()[0]
    assert out["mcnemar_chi2"] is None


def test_cochran_q_hand_computed(spark):
    # 3 users x 3 treatments: u1 all three, u2 click only, u3 click+
    # purchase. C=(3,2,1), R=(3,1,2), T=6.
    # Q = 2*(3*(9+4+1) - 36)/(3*6 - (9+1+4)) = 2*6/4 = 3.0
    rows = [
        (0, "2024-01-05T10:00:00", 1, "click", 1.0),
        (1, "2024-01-05T11:00:00", 1, "purchase", 1.0),
        (2, "2024-01-05T12:00:00", 1, "error", 1.0),
        (3, "2024-01-05T10:00:00", 2, "click", 1.0),
        (4, "2024-01-05T10:00:00", 3, "click", 1.0),
        (5, "2024-01-05T11:00:00", 3, "purchase", 1.0),
    ]
    out = analytics.cochran_q(_events(spark, rows)).collect()[0]
    assert out["n_users"] == 3 and out["t_total"] == 6
    assert out["q_stat"] == 3.0


def test_friedman_identical_blocks_max_stat(spark):
    # every user ranks the 3 types identically (a < b < c counts) ->
    # rank sums maximally spread; with no ties mr2 = 2r-1+0 lattice
    rows = []
    i = 0
    for u in (1, 2):
        for t, reps in (("a", 1), ("b", 2), ("c", 3)):
            for _ in range(reps):
                rows.append((i, "2024-01-05T10:00:00", u, t, 1.0))
                i += 1
    out = analytics.friedman_ranks(_events(spark, rows)).collect()
    by_type = {r["event_type"]: r for r in out}
    # per user: ranks 1,2,3 -> mr2 = 2*rank + 1 - 1 = 2,4,6; x2 users
    assert by_type["a"]["rank_sum_x2"] == 4
    assert by_type["b"]["rank_sum_x2"] == 8
    assert by_type["c"]["rank_sum_x2"] == 12
    # chi2_F = 12/(2*3*4) * (1+4+9)*... = 12/(24)*(2^2+4^2+6^2)/4*... ->
    # classic N=2,k=3 perfect agreement = N*(k-1)*W with W=1 -> 4.0
    assert by_type["a"]["friedman_stat"] == 4.0


def test_durbin_watson_alternating_residuals(spark):
    # counts 2,1,2,1,2 around a flat trend -> strong negative serial
    # correlation -> DW near 4
    rows = []
    i = 0
    for d, n in enumerate((2, 1, 2, 1, 2)):
        for _ in range(n):
            rows.append((i, f"2024-01-0{d+1}T09:00:00", 1, "a", 1.0))
            i += 1
    out = analytics.durbin_watson_daily(_events(spark, rows)).collect()[0]
    assert out["n_days"] == 5
    assert out["dw_stat"] > 3.0


def test_mutual_information_independent_is_zero(spark):
    # type x dow perfectly proportional -> MI = 0 exactly
    rows = []
    i = 0
    for day in ("2024-01-01", "2024-01-02"):  # Mon, Tue
        for t, reps in (("a", 2), ("b", 4)):
            for _ in range(reps):
                rows.append((i, f"{day}T10:00:00", 1, t, 1.0))
                i += 1
    out = analytics.mutual_information(_events(spark, rows)).collect()[0]
    assert out["n_obs"] == 12 and out["n_cells"] == 4
    assert out["mi_nanonats"] == 0 and out["mi_nats"] == 0.0


def test_pacf_ar1_like_series(spark):
    # smooth ramp: r1 high; phi22 must equal (r2-r1^2)/(1-r1^2)
    rows = []
    i = 0
    for d, n in enumerate((1, 2, 3, 4, 5, 6)):
        for _ in range(n):
            rows.append((i, f"2024-01-0{d+1}T09:00:00", 1, "a", 1.0))
            i += 1
    out = analytics.pacf_daily(_events(spark, rows)).collect()[0]
    assert out["n_days"] == 6
    r1, r2 = out["r1"], out["r2"]
    expect = (r2 - r1 * r1) / (1 - r1 * r1)
    assert abs(out["pacf_lag2"] - expect) < 1e-4


# -------------------------------------------------- product analytics


def test_growth_accounting_ledger(spark):
    # u1 active d1,d2,d4 (new, retained, resurrected; churn on d3, d5)
    # u2 active d1 only (new; churn on d2) -- but d5 churn only if
    # d5 <= last day (last day = d4, so u1's d4 exit is not counted)
    rows = [
        (0, "2024-01-01T10:00:00", 1, "a", 1.0),
        (1, "2024-01-02T10:00:00", 1, "a", 1.0),
        (2, "2024-01-04T10:00:00", 1, "a", 1.0),
        (3, "2024-01-01T10:00:00", 2, "a", 1.0),
    ]
    out = {
        r["day"].day: r
        for r in analytics.growth_accounting(_events(spark, rows)).collect()
    }
    assert out[1]["n_new"] == 2
    assert out[2]["n_retained"] == 1 and out[2]["n_churned"] == 1
    assert out[3]["n_churned"] == 1  # u1 absent on d3
    assert out[4]["n_resurrected"] == 1
    assert 5 not in out  # last-day edge: no churn attributed past d4


def test_time_to_nth_exact_gap(spark):
    # u1 reaches 5 events in exactly 40 s; u2 has only 2 events
    rows = [(i, f"2024-01-01T10:00:{i*10:02d}", 1, "a", 1.0) for i in range(5)]
    rows += [(10, "2024-01-01T10:00:00", 2, "a", 1.0),
             (11, "2024-01-01T10:00:10", 2, "a", 1.0)]
    out = analytics.time_to_nth_event(_events(spark, rows)).collect()[0]
    assert out["n_users"] == 2 and out["n_reached"] == 1
    assert out["median_s"] == 40.0 and out["p90_s"] == 40.0


def test_concurrency_peak_overlapping_sessions(spark):
    # three users online 10:00-10:05; one more at 23:50 crossing to
    # next day 00:10 -> day1 peak 3, day2 carry-over peak 1
    rows = []
    i = 0
    for u in (1, 2, 3):
        rows.append((i, "2024-01-01T10:00:00", u, "a", 1.0)); i += 1
        rows.append((i, "2024-01-01T10:05:00", u, "a", 1.0)); i += 1
    rows.append((i, "2024-01-01T23:50:00", 4, "a", 1.0)); i += 1
    rows.append((i, "2024-01-02T00:10:00", 4, "a", 1.0)); i += 1
    out = {
        r["day"].day: r
        for r in analytics.concurrency_peak(_events(spark, rows)).collect()
    }
    assert out[1]["peak_concurrent"] == 3
    assert out[1]["n_sessions_touching"] == 4
    assert out[2]["peak_concurrent"] == 1
    assert out[2]["n_sessions_touching"] == 1


def test_concurrency_closed_interval_at_equal_ts(spark):
    # closed-interval semantics: u1's 40-min gap splits them into two
    # zero-length sessions, the second coinciding with u2's
    # single-event session at 09:40 -- both genuinely alive at that
    # instant, so peak 2 (ends-first ordering would report 0: the
    # -1s of zero-length sessions would land before their +1s)
    rows = [
        (0, "2024-01-01T09:00:00", 1, "a", 1.0),
        (1, "2024-01-01T09:40:00", 1, "a", 1.0),
        (2, "2024-01-01T09:40:00", 2, "a", 1.0),
    ]
    out = analytics.concurrency_peak(_events(spark, rows)).collect()
    assert out[0]["peak_concurrent"] == 2
    # disjoint instants never overlap
    rows2 = [
        (0, "2024-01-01T09:00:00", 1, "a", 1.0),
        (1, "2024-01-01T10:00:00", 2, "a", 1.0),
    ]
    out2 = analytics.concurrency_peak(_events(spark, rows2)).collect()
    assert out2[0]["peak_concurrent"] == 1


# -------------------------------------------------- technical indicators


def test_obv_accumulates_signed_volume(spark):
    # u1 closes: d1=100 (dir 0, vol 1), d2=200 (up, vol 2),
    # d3=100 (down, vol 1) -> obv 0, +2, +1
    rows = [
        (0, "2024-01-01T10:00:00", 1, "a", 1.00),
        (1, "2024-01-02T10:00:00", 1, "a", 9.00),
        (2, "2024-01-02T11:00:00", 1, "a", 2.00),
        (3, "2024-01-03T10:00:00", 1, "a", 1.00),
    ]
    out = sorted(
        temporal.window_obv(_events(spark, rows)).collect(),
        key=lambda r: r["day"],
    )
    assert [r["direction"] for r in out] == [0, 1, -1]
    assert [r["obv"] for r in out] == [0, 2, 1]


def test_donchian_flat_channel_null(spark):
    rows = [
        (0, "2024-01-01T10:00:00", 1, "a", 5.00),
        (1, "2024-01-02T10:00:00", 1, "a", 5.00),
        (2, "2024-01-03T10:00:00", 1, "a", 8.00),
    ]
    out = sorted(
        temporal.window_donchian(_events(spark, rows)).collect(),
        key=lambda r: r["day"],
    )
    assert out[0]["chan_pos"] is None and out[1]["chan_pos"] is None
    assert out[2]["don_high_c"] == 800 and out[2]["don_low_c"] == 500
    assert out[2]["chan_pos"] == 1.0


def test_mfi_all_up_is_100(spark):
    rows = [
        (0, "2024-01-01T10:00:00", 1, "a", 1.00),
        (1, "2024-01-02T10:00:00", 1, "a", 2.00),
        (2, "2024-01-03T10:00:00", 1, "a", 3.00),
    ]
    out = sorted(
        temporal.window_mfi(_events(spark, rows)).collect(),
        key=lambda r: r["day"],
    )
    assert out[0]["mfi"] is None  # first day: no direction yet
    assert out[1]["mfi"] == 100.0 and out[2]["mfi"] == 100.0


def test_keltner_flat_series_never_breaches(spark):
    rows = [
        (i, f"2024-01-0{i+1}T10:00:00", 1, "a", 5.00) for i in range(5)
    ]
    out = temporal.window_keltner(_events(spark, rows)).collect()
    assert all(r["breach"] == 0 for r in out)
    assert all(r["center"] == 5.0 for r in out)
    assert all(r["upper"] == 5.0 and r["lower"] == 5.0 for r in out)


def test_keltner_spike_breaches_up(spark):
    rows = [
        (i, f"2024-01-0{i+1}T10:00:00", 1, "a", 5.00) for i in range(4)
    ]
    rows.append((9, "2024-01-05T10:00:00", 1, "a", 50.00))
    out = sorted(
        temporal.window_keltner(_events(spark, rows)).collect(),
        key=lambda r: r["day"],
    )
    assert out[-1]["breach"] == 1


# ------------------------------------------------------------- graph


def test_preferential_attachment_path_graph(spark):
    # path a-b-c (as near-dup pairs): only non-adjacent wedge pair is
    # (a, c) with deg(a)=deg(c)=1 -> pa_score 1
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = graph.preferential_attachment(pairs).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 3)
    assert r["deg_a"] == 1 and r["deg_b"] == 1 and r["pa_score"] == 1


def test_preferential_attachment_star_scores(spark):
    # star: hub 1 with leaves 2,3,4 -> leaf pairs score 1*1; deg(hub)=3
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    out = graph.preferential_attachment(pairs).collect()
    assert len(out) == 3  # (2,3), (2,4), (3,4)
    assert all(r["pa_score"] == 1 for r in out)


# ------------------------------------------------------------- text


def test_char_js_divergence_identical_source_is_zero(spark):
    # one source == the corpus -> P = Q -> JS exactly 0
    docs = spark.createDataFrame(
        [(1, "abcabc", "en", "s1", 6), (2, "abc", "en", "s1", 3)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = text.char_js_divergence(docs).collect()
    assert len(out) == 1
    assert out[0]["js_nanonats"] == 0 and out[0]["js_nats"] == 0.0


def test_char_js_divergence_disjoint_alphabets_ln2(spark):
    # two sources with disjoint alphabets, equal mass: each source's
    # JS vs the pooled corpus is ln(2)/2 + ln(2)/2 ... per-char:
    # p=1/k vs q=1/(2k): JS = 0.5*ln(4/3)+... -- just pin symmetry
    # and positivity
    docs = spark.createDataFrame(
        [(1, "aaaa", "en", "s1", 4), (2, "bbbb", "en", "s2", 4)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = {r["source"]: r for r in text.char_js_divergence(docs).collect()}
    assert out["s1"]["js_nanonats"] == out["s2"]["js_nanonats"]
    # P=delta(a), Q=(a:1/2, b:1/2) -> JS = 0.5 ln(4/3) + ... compute:
    # a-term: 0.5*1*ln(1/0.75) + 0.5*0.5*ln(0.5/0.75); b: 0.5*0.5*ln(2)
    expect = (
        0.5 * math.log(1 / 0.75)
        + 0.5 * 0.5 * math.log(0.5 / 0.75)
        + 0.5 * 0.5 * math.log(2.0)
    )
    assert abs(out["s1"]["js_nats"] - round(expect, 6)) < 2e-6


# ------------------------------------------------------ batch 4


def _docs(spark, rows):
    """rows: (doc_id, text, lang, source)"""
    return spark.createDataFrame(
        [(i, t, lg, s, len(t)) for (i, t, lg, s) in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )


def test_cohens_kappa_perfect_agreement(spark):
    # every doc's stopword prediction matches the label -> kappa 1
    rows = [
        (1, "the a of and to", "en", "s1"),
        (2, "el la de y es", "es", "s1"),
        (3, "der die das und ist", "de", "s1"),
    ]
    out = text.lang_id_kappa(_docs(spark, rows)).collect()[0]
    assert out["n_docs"] == 3 and out["n_agree"] == 3
    assert out["kappa"] == 1.0


def test_cohens_kappa_chance_only_is_zero_or_less(spark):
    # labels uncorrelated with predictions: all predicted en (tie
    # preference), labels split -> kappa <= 0
    rows = [
        (1, "xyz xyz", "en", "s1"),
        (2, "xyz xyz", "de", "s1"),
    ]
    out = text.lang_id_kappa(_docs(spark, rows)).collect()[0]
    assert out["n_agree"] == 1
    # n*diag - rc = 2*1 - (1*2) = 0 -> kappa 0
    assert out["kappa"] == 0.0


def test_cronbach_alpha_perfectly_correlated_items(spark):
    # two users, each doing every type in proportion 1:2 (u2 doubles
    # u1) -> items perfectly correlated -> alpha 1... compute: items
    # a: (1, 2), b: (2, 4). V_a ~ (n*ssq - s^2) = 2*5 - 9 = 1,
    # V_b = 2*20 - 36 = 4; tot = (3, 6): V_t = 2*45 - 81 = 9.
    # alpha = 2/1 * (1 - 5/9) = 8/9
    rows = []
    i = 0
    for u, mult in ((1, 1), (2, 2)):
        for t, base in (("a", 1), ("b", 2)):
            for _ in range(base * mult):
                rows.append((i, "2024-01-05T10:00:00", u, t, 1.0))
                i += 1
    out = analytics.cronbach_alpha(_events(spark, rows)).collect()[0]
    assert out["n_users"] == 2 and out["k"] == 2
    assert out["alpha"] == round(8.0 / 9.0, 4)


def test_ulcer_index_monotone_rise_is_zero(spark):
    rows = [
        (i, f"2024-01-0{i+1}T10:00:00", 1, "a", 1.0 + i) for i in range(5)
    ]
    out = temporal.window_ulcer_index(_events(spark, rows)).collect()
    assert all(r["dd_micro_pct"] == 0 for r in out)
    assert all(r["ulcer_index"] == 0.0 for r in out)


def test_ulcer_index_half_drawdown(spark):
    # close 200 then 100 -> drawdown 50% on day 2;
    # UI(day2) = sqrt((0 + 50e6^2)/2)/1e6
    rows = [
        (0, "2024-01-01T10:00:00", 1, "a", 2.0),
        (1, "2024-01-02T10:00:00", 1, "a", 1.0),
    ]
    out = sorted(
        temporal.window_ulcer_index(_events(spark, rows)).collect(),
        key=lambda r: r["day"],
    )
    assert out[1]["dd_micro_pct"] == 50_000_000
    expect = round(math.sqrt((50e6 ** 2) / 2) / 1e6, 6)
    assert out[1]["ulcer_index"] == expect


def test_active_days_histogram(spark):
    rows = [
        (0, "2024-01-01T10:00:00", 1, "a", 1.0),
        (1, "2024-01-02T10:00:00", 1, "a", 1.0),
        (2, "2024-01-01T10:00:00", 2, "a", 1.0),
        (3, "2024-01-01T11:00:00", 2, "a", 1.0),  # same day, still 1
        (4, "2024-01-01T10:00:00", 3, "a", 1.0),
    ]
    out = {
        r["active_days"]: r
        for r in analytics.active_days_histogram(
            _events(spark, rows)
        ).collect()
    }
    assert out[1]["n_users"] == 2 and out[2]["n_users"] == 1
    assert out[1]["share"] == round(2e6 / 3) / 1e6


def test_simpson_diversity_extremes(spark):
    rows = [
        (1, "w w w w", "en", "mono"),   # all same token -> 0
        (2, "a b c d", "en", "poly"),   # all distinct -> 1
    ]
    out = {r["source"]: r for r in text.simpson_diversity(_docs(spark, rows)).collect()}
    assert out["mono"]["simpson_diversity"] == 0.0
    assert out["poly"]["simpson_diversity"] == 1.0


def test_word_burstiness_content_vs_function(spark):
    # 'the' appears once per doc (burstiness 1); 'zebra' appears 3x
    # in its single doc (mean 3, repeat share 1)
    rows = [
        (1, "the zebra zebra zebra", "en", "s"),
        (2, "the cat", "en", "s"),
        (3, "the dog", "en", "s"),
    ]
    out = {r["word"]: r for r in text.word_burstiness(_docs(spark, rows)).collect()}
    assert out["the"]["df"] == 3 and out["the"]["mean_per_doc"] == 1.0
    assert out["the"]["repeat_doc_share"] == 0.0
    assert out["zebra"]["df"] == 1 and out["zebra"]["mean_per_doc"] == 3.0
    assert out["zebra"]["repeat_doc_share"] == 1.0


def test_source_cross_entropy_uniform_corpus(spark):
    # both sources share the identical uniform unigram distribution
    # -> each source's cross entropy equals the corpus entropy ln(2)
    rows = [
        (1, "a b", "en", "s1"),
        (2, "a b", "en", "s2"),
    ]
    out = {r["source"]: r for r in text.source_cross_entropy(_docs(spark, rows)).collect()}
    for s in ("s1", "s2"):
        assert abs(out[s]["cross_entropy_nats"] - round(math.log(2), 6)) < 2e-6


def test_degree_gini_regular_vs_star(spark):
    # triangle (regular, every deg 2) -> gini 0
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "doc_a long, doc_b long"
    )
    out = graph.degree_gini(tri).collect()[0]
    assert out["n_nodes"] == 3 and out["gini"] == 0.0
    # star on 4 nodes: degs (1,1,1,3) -> gini = (2*(1+2+3+12) - 5*6)
    # / (4*6) = (36-30)/24 = 0.25
    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    out2 = graph.degree_gini(star).collect()[0]
    assert out2["gini"] == 0.25


def test_image_contrast_matches_numpy(spark):
    from java_mapreduce_framework_spark.operators import multimodal as mm
    import numpy as np

    docs = _docs(spark, [(1, "contrast test payload bytes!", "en", "s")])
    out = mm.image_contrast(mm.attach_image_payload(docs)).collect()[0]
    px = mm.real_decode(
        bytes(
            mm.attach_image_payload(docs).select("payload").collect()[0][0]
        )
    )
    gray = px.astype(np.int64).sum(axis=2).ravel()
    n, s1, s2 = gray.size, int(gray.sum()), int((gray * gray).sum())
    assert out["n_px"] == n and out["lum_sum"] == s1
    expect = math.sqrt(n * s2 - s1 * s1) / n
    assert abs(out["rms_contrast"] - round(expect, 4)) < 1e-9


def test_audio_dynamic_range_constant_tone_is_zero_db(spark):
    # constant |amplitude| -> peak == rms -> 0 dB
    from java_mapreduce_framework_spark.operators import multimodal as mm

    docs = _docs(spark, [(1, "zzzz", "en", "s")])  # constant bytes
    out = mm.audio_dynamic_range(mm.attach_audio_payload(docs)).collect()[0]
    assert out["crest_db"] == 0.0


# ------------------------------------------------------ batch 5


def test_permutation_test_null_effect_high_p(spark):
    # identical values in both groups -> every permutation diff is 0
    # >= |obs| = 0 -> p = 1
    rows = [(i, "2024-01-05T10:00:00", 1, "a", 5.0) for i in range(40)]
    out = analytics.permutation_test(_events(spark, rows)).collect()[0]
    assert out["k_perms"] == 64
    assert out["obs_diff"] == 0.0
    assert out["n_perms_ge"] == 64 and out["p_value"] == 1.0


def test_hodges_lehmann_constant_shift(spark):
    # first half days all 100 cents, second half all 300 -> every
    # pair difference 200 -> HL = 2.00
    rows = []
    i = 0
    for d in (1, 2, 3):
        rows.append((i, f"2024-01-{d:02d}T10:00:00", 1, "a", 1.0)); i += 1
    for d in (20, 21, 22):
        rows.append((i, f"2024-01-{d:02d}T10:00:00", 1, "a", 3.0)); i += 1
    out = analytics.hodges_lehmann_shift(_events(spark, rows)).collect()[0]
    assert out["n_pairs"] == 9
    assert out["hl_shift"] == 2.0


def test_ichimoku_flat_series(spark):
    # constant closes: tenkan = kijun = close, spans null before row
    # 27, chikou null in the last 26 rows (short series -> all null)
    rows = [
        (i, f"2024-01-{i+1:02d}T10:00:00", 1, "a", 4.0) for i in range(5)
    ]
    out = sorted(
        temporal.window_ichimoku(_events(spark, rows)).collect(),
        key=lambda r: r["day"],
    )
    assert all(r["tenkan"] == 4.0 and r["kijun"] == 4.0 for r in out)
    assert all(r["senkou_a"] is None and r["chikou"] is None for r in out)


def test_yule_k_uniform_text_is_zero_for_singletons(spark):
    # all words distinct -> m2 == n -> K = 0
    docs = _docs(spark, [(1, "a b c d e", "en", "s1")])
    out = text.yule_k(docs).collect()[0]
    assert out["yule_k"] == 0.0
    # one word repeated r times: K = 1e4 * (r^2 - r)/r^2
    docs2 = _docs(spark, [(2, "w w w w", "en", "s2")])
    out2 = text.yule_k(docs2).collect()[0]
    assert out2["yule_k"] == round(1e4 * (16 - 4) / 16.0, 4)


def test_heaps_fit_pure_power_law(spark):
    # every doc = 4 tokens, all globally distinct -> V = N exactly ->
    # beta 1, K 1
    docs = _docs(
        spark,
        [(d, " ".join(f"w{d}_{j}" for j in range(4)), "en", "s") for d in range(6)],
    )
    out = text.heaps_fit(docs).collect()[0]
    assert out["n_points"] == 6
    assert out["heaps_beta"] == 1.0
    assert out["heaps_k"] == 1.0


def test_resource_allocation_star(spark):
    # star: hub 1 (deg 3) joins leaves pairwise -> RA = 1e6/3 per pair
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    out = graph.resource_allocation(pairs).collect()
    assert len(out) == 3
    assert all(r["ra_micro"] == round(1e6 / 3) for r in out)
    assert all(r["common_neighbors"] == 1 for r in out)


def test_open_backlog_ledger(spark):
    orders = spark.createDataFrame(
        [
            (1, 10, "O", 5.0, datetime.datetime(1995, 1, 1), "1-URGENT"),
            (2, 11, "O", 5.0, datetime.datetime(1995, 1, 2), "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    li = spark.createDataFrame(
        [
            (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
             datetime.datetime(1995, 1, 3)),
            (1, 2, 2, 2, 1.0, 1.0, 0.0, 0.0, "N", "O",
             datetime.datetime(1995, 1, 5)),
            (2, 3, 3, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
             datetime.datetime(1995, 1, 2)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    out = {
        r["day"].day: r
        for r in analytics.open_order_backlog(orders, li).collect()
    }
    # order 1 open 1/1 -> closes 1/5 (LAST ship); order 2 open+close 1/2
    assert out[1]["open_backlog"] == 1
    assert out[2]["n_opened"] == 1 and out[2]["n_closed"] == 1
    assert out[2]["open_backlog"] == 1
    assert out[5]["n_closed"] == 1 and out[5]["open_backlog"] == 0


def test_image_quadrants_sum_to_total(spark):
    from java_mapreduce_framework_spark.operators import multimodal as mm
    import numpy as np

    docs = _docs(spark, [(1, "quadrant balance probe text", "en", "s")])
    out = mm.image_quadrants(mm.attach_image_payload(docs)).collect()[0]
    px = mm.real_decode(
        bytes(mm.attach_image_payload(docs).select("payload").collect()[0][0])
    )
    total = int(px.astype(np.int64).sum())
    assert out["q_tl"] + out["q_tr"] + out["q_bl"] + out["q_br"] == total


def test_audio_envelope_segments_partition_clip(spark):
    from java_mapreduce_framework_spark.operators import multimodal as mm

    docs = _docs(spark, [(1, "abcdefghijk", "en", "s")])  # n = 11
    out = sorted(
        mm.audio_envelope(mm.attach_audio_payload(docs)).collect(),
        key=lambda r: r["seg"],
    )
    assert [r["seg"] for r in out] == [0, 1, 2, 3]
    # floor boundaries of 11: sizes 2, 3, 3, 3
    assert [r["n_in_seg"] for r in out] == [2, 3, 3, 3]
    assert all(r["rms"] is not None and r["rms"] > 0 for r in out)


# ------------------------------------------------------ batch 6


def test_g_test_independent_table_is_zero(spark):
    rows = []
    i = 0
    for day in ("2024-01-01", "2024-01-02"):
        for t, reps in (("a", 2), ("b", 4)):
            for _ in range(reps):
                rows.append((i, f"{day}T10:00:00", 1, t, 1.0))
                i += 1
    out = analytics.g_test_independence(_events(spark, rows)).collect()[0]
    assert out["dof"] == 1 and out["g_stat"] == 0.0


def test_bartlett_equal_variances_near_zero(spark):
    # identical value multisets per type -> identical variances ->
    # statistic 0 (up to the nano rounding of identical terms: exact 0)
    rows = []
    i = 0
    for t in ("a", "b"):
        for v in (1.0, 2.0, 3.0, 4.0):
            rows.append((i, "2024-01-05T10:00:00", 1, t, v))
            i += 1
    out = analytics.bartlett_test(_events(spark, rows)).collect()[0]
    assert out["k"] == 2 and out["n_total"] == 8
    assert abs(out["bartlett_stat"]) < 1e-6


def test_zscore_rolling_flat_is_null_spike_positive(spark):
    rows = [
        (i, f"2024-01-{i+1:02d}T10:00:00", 1, "a", 5.0) for i in range(4)
    ]
    rows.append((9, "2024-01-05T10:00:00", 1, "a", 50.0))
    out = sorted(
        temporal.window_zscore_rolling(_events(spark, rows)).collect(),
        key=lambda r: r["day"],
    )
    assert out[0]["zscore"] is None  # n == 1
    assert all(r["zscore"] is None for r in out[1:4])  # flat window
    assert out[4]["zscore"] > 1.5  # the spike


def test_supplier_leadtime_exact(spark):
    orders = spark.createDataFrame(
        [(1, 1, "O", 1.0, datetime.datetime(1995, 1, 1), "x")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    li = spark.createDataFrame(
        [
            (1, 1, 7, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
             datetime.datetime(1995, 1, 3)),
            (1, 2, 7, 2, 1.0, 1.0, 0.0, 0.0, "N", "O",
             datetime.datetime(1995, 1, 7)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    out = analytics.supplier_leadtime(li, orders).collect()[0]
    # gaps 2 and 6 days: mean 4, sample var = ((2-4)^2+(6-4)^2)/1 = 8
    assert out["n_items"] == 2
    assert out["mean_days"] == 4.0 and out["var_days"] == 8.0


def test_transitivity_triangle_vs_path(spark):
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "doc_a long, doc_b long"
    )
    out = graph.global_transitivity(tri).collect()[0]
    assert out["n_wedges"] == 3 and out["n_closed_wedges"] == 3
    assert out["transitivity"] == 1.0
    path = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    out2 = graph.global_transitivity(path).collect()[0]
    assert out2["n_wedges"] == 1 and out2["n_closed_wedges"] == 0
    assert out2["transitivity"] == 0.0


def test_dp_exponential_median_near_true(spark):
    # strong epsilon and a long run of identical central values ->
    # the mechanism lands on (or adjacent to) the true median
    rows = [(i, "2024-01-05T10:00:00", 1, "a", 5.0) for i in range(50)]
    rows += [(100 + i, "2024-01-05T11:00:00", 1, "a", 1.0) for i in range(5)]
    rows += [(200 + i, "2024-01-05T12:00:00", 1, "a", 9.0) for i in range(5)]
    out = analytics.dp_exponential_median(_events(spark, rows)).collect()[0]
    assert out["n_obs"] == 60 and out["n_candidates"] == 3
    assert out["true_median"] == 5.0
    assert out["dp_median"] in (1.0, 5.0, 9.0)


def test_stream_cdc_upsert_batch_boundary_invariance(
    spark, sf_small, tmp_path, monkeypatch
):
    """The drained streaming target must equal the batch latest-wins
    kernel row for row (associativity over microbatches), and
    re-running the drain (fresh checkpoint, already-staged files)
    must be idempotent. A call removes its stream checkpoint and
    leaves exactly one target version on disk."""
    import pathlib

    from java_mapreduce_framework_spark.operators.relational import (
        cdc_latest_wins,
    )
    from java_mapreduce_framework_spark.sources.tables import load_table
    from java_mapreduce_framework_spark.streaming import jobs
    from java_mapreduce_framework_spark.streaming.jobs import (
        stream_cdc_upsert,
    )

    monkeypatch.setattr(jobs, "_ckpt_root", lambda: tmp_path)

    got = {
        r["event_id"]: (r["value"], r["version"])
        for r in stream_cdc_upsert(spark, sf_small).collect()
    }
    want = {
        r["event_id"]: (round(r["value"], 2), r["version"])
        for r in cdc_latest_wins(
            load_table(spark, sf_small, "events")
        ).collect()
    }
    assert got == want
    again = {
        r["event_id"]: (r["value"], r["version"])
        for r in stream_cdc_upsert(spark, sf_small).collect()
    }
    assert again == got
    assert not list(tmp_path.glob("cdc_upsert_*"))
    target = (
        jobs._REPO_ROOT / ".tmp" / "stream"
        / f"{pathlib.Path(sf_small).name}_cdc_upsert" / "target"
    )
    assert len(list(target.glob("v*"))) == 1


# ------------------------------------------------------ batch 7


def test_daily_type_entropy_extremes(spark):
    rows = [
        (0, "2024-01-01T10:00:00", 1, "a", 1.0),
        (1, "2024-01-01T11:00:00", 1, "a", 1.0),  # day 1: one type -> 0
        (2, "2024-01-02T10:00:00", 1, "a", 1.0),
        (3, "2024-01-02T11:00:00", 1, "b", 1.0),  # day 2: even -> ln 2
    ]
    out = {
        r["day"].day: r
        for r in analytics.daily_type_entropy(_events(spark, rows)).collect()
    }
    assert out[1]["entropy_nats"] == 0.0
    assert abs(out[2]["entropy_nats"] - round(math.log(2), 6)) < 2e-6


def test_discount_depth_brackets(spark):
    li = spark.createDataFrame(
        [
            (1, 1, 1, 1, 5.0, 100.0, 0.10, 0.0, "N", "O",
             datetime.datetime(1995, 1, 3)),
            (1, 2, 1, 2, 25.0, 200.0, 0.20, 0.0, "N", "O",
             datetime.datetime(1995, 1, 3)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    out = {
        r["qty_bracket"]: r
        for r in analytics.discount_depth_profile(li).collect()
    }
    assert out[0]["avg_discount_bps"] == 1000.0
    assert out[0]["revenue"] == 90.0
    assert out[2]["avg_discount_bps"] == 2000.0
    assert out[2]["revenue"] == 160.0


def test_word_length_histogram_shares(spark):
    docs = _docs(spark, [(1, "a bb bb cccc", "en", "s")])
    out = {
        r["word_len"]: r
        for r in text.word_length_histogram(docs).collect()
    }
    assert out[1]["n_tokens"] == 1 and out[2]["n_tokens"] == 2
    assert out[4]["n_tokens"] == 1
    assert out[2]["share"] == 0.5
