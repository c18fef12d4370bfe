"""Engine-local semantics tests for the round-12 operators: each pins
the operator's math on a crafted input against a hand-computed
reference (the DuckDB oracle sweep covers fixture parity; these cover
the SEMANTICS on inputs chosen to exercise the edges -- CMF's flat
day, Coppock's lookback gate, Cliff's delta at total separation, CvM
on identical samples, JT on a perfectly monotone grid, edge support
on a clique-plus-bridge graph, the Sobel flat-image zero)."""

import datetime
import math

import numpy as np
from pyspark.sql import functions as F

from java_mapreduce_framework_spark.operators import (
    analytics,
    dedup,
    graph,
    multimodal,
    temporal,
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


def _daily(spark, closes, user=1):
    return _events(
        spark,
        [
            (i, f"2024-01-{i + 1:02d}T12:00:00", user, "click", c)
            for i, c in enumerate(closes)
        ],
    )


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, lg, s, len(t)) for (i, t, lg, s) in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )


# ------------------------------------------------ technical indicators


def test_elder_ray_single_day_is_range_around_close(spark):
    """With one candle the EMA equals the close, so bull/bear power
    are exactly (high - close) and (low - close) -- here one event:
    all three coincide, both powers 0."""
    ev = _daily(spark, [12.0])
    row = temporal.window_elder_ray(ev).collect()[0]
    assert row["bull_power"] == 0.0 and row["bear_power"] == 0.0


def test_elder_ray_rising_series_bullish(spark):
    """On a strictly rising close series the EMA lags below the
    current day's level, so bull power (high over EMA) is positive
    every day after the first."""
    rows = temporal.window_elder_ray(
        _daily(spark, [10.0, 20.0, 30.0, 40.0])
    ).collect()
    by_day = sorted(rows, key=lambda r: r["day"])
    assert all(r["bull_power"] > 0 for r in by_day[1:])


def test_cmf_flat_day_contributes_volume_but_no_flow(spark):
    """Two events on one day at the same value: high == low, so the
    multiplier is undefined -> flow 0 by convention, CMF 0."""
    ev = _events(
        spark,
        [
            (0, "2024-01-01T10:00:00", 1, "click", 7.0),
            (1, "2024-01-01T11:00:00", 1, "click", 7.0),
        ],
    )
    assert temporal.window_cmf(ev).collect()[0]["cmf"] == 0.0


def test_cmf_close_at_high_is_plus_one(spark):
    """A day whose close sits at the high has multiplier +1, so a
    single-day CMF is +1 regardless of volume."""
    ev = _events(
        spark,
        [
            (0, "2024-01-01T10:00:00", 1, "click", 5.0),
            (1, "2024-01-01T11:00:00", 1, "click", 10.0),
        ],
    )
    assert temporal.window_cmf(ev).collect()[0]["cmf"] == 1.0


def test_coppock_needs_full_lookback(spark):
    """15 daily closes: only day 15 has both ROC(14) and ROC(11)
    defined, so exactly one row emits; constant +1/day closes give a
    hand-computable value."""
    closes = [float(100 + i) for i in range(15)]
    rows = temporal.window_coppock(_daily(spark, closes)).collect()
    assert len(rows) == 1
    r14 = (closes[14] - closes[0]) / closes[0]
    r11 = (closes[14] - closes[3]) / closes[3]
    expected = round(round((r14 + r11) * 1e8) / 1e8, 6)
    assert abs(rows[0]["coppock"] - expected) < 1e-9


# ----------------------------------------------------------- stats


def test_cliff_delta_total_separation(spark):
    """Find a user pair whose md5 split lands one in A and one in B,
    give A strictly larger values: delta must be +1 (every A beats
    every B)."""
    import hashlib

    def is_a(u):
        return hashlib.md5(f"ab|{u}".encode()).hexdigest()[0] < "8"

    ua = next(u for u in range(100) if is_a(u))
    ub = next(u for u in range(100) if not is_a(u))
    ev = _events(
        spark,
        [
            (0, "2024-01-01T10:00:00", ua, "click", 10.0),
            (1, "2024-01-01T11:00:00", ua, "click", 11.0),
            (2, "2024-01-01T12:00:00", ub, "click", 1.0),
            (3, "2024-01-01T13:00:00", ub, "click", 2.0),
        ],
    )
    row = analytics.cliff_delta(ev).collect()[0]
    assert row["cliff_delta"] == 1.0
    assert row["gt_pairs"] == 4 and row["lt_pairs"] == 0


def test_cvm_identical_samples_zero(spark):
    """A and B drawn as the SAME value multiset (one A user and one B
    user, identical values): the ECDFs coincide at every pooled
    value, so the statistic is exactly 0."""
    import hashlib

    def is_a(u):
        return hashlib.md5(f"ab|{u}".encode()).hexdigest()[0] < "8"

    ua = next(u for u in range(100) if is_a(u))
    ub = next(u for u in range(100) if not is_a(u))
    ev = _events(
        spark,
        [
            (0, "2024-01-01T10:00:00", ua, "click", 1.0),
            (1, "2024-01-01T11:00:00", ua, "click", 2.0),
            (2, "2024-01-01T12:00:00", ub, "click", 1.0),
            (3, "2024-01-01T13:00:00", ub, "click", 2.0),
        ],
    )
    assert analytics.cvm_two_sample(ev).collect()[0]["cvm_stat"] == 0.0


def test_jonckheere_monotone_grid_maximal(spark):
    """Quantities strictly increasing with month: JT equals its
    maximum (every cross-month pair concordant), so 2U = 2 * n1*n2
    summed over ordered month pairs and the z-score is positive."""
    rows = []
    for m, q in ((1, 1.0), (2, 2.0), (3, 3.0)):
        for i in range(2):
            rows.append((m * 10 + i, q))
    li = spark.createDataFrame(
        [
            (
                k,
                datetime.date(1995, m, 1),
                float(q),
            )
            for k, (m, q) in enumerate(
                [(1, 1), (1, 1), (2, 2), (2, 2), (3, 3), (3, 3)]
            )
        ],
        "l_orderkey long, l_shipdate date, l_quantity double",
    )
    row = analytics.jonckheere_terpstra(li).collect()[0]
    # 3 ordered month pairs x 2x2 concordant pairs x2 (doubled)
    assert row["jt2"] == 2 * 3 * 4
    assert row["zscore"] > 0


def test_jonckheere_ties_half_credit(spark):
    """Equal quantities across two months: every cross pair is a tie
    (half credit -> doubled statistic equals n1*n2), z exactly 0."""
    li = spark.createDataFrame(
        [
            (0, datetime.date(1995, 1, 1), 5.0),
            (1, datetime.date(1995, 2, 1), 5.0),
        ],
        "l_orderkey long, l_shipdate date, l_quantity double",
    )
    row = analytics.jonckheere_terpstra(li).collect()[0]
    assert row["jt2"] == 1 and row["zscore"] == 0.0


# ------------------------------------------------ cohort economics


def test_retention_halflife_exact_geometric(spark):
    """Four users in one cohort, active-week survival 4 -> 2 -> 1:
    pooled rates at offsets 1 and 2 are 1/2 and 1/4 -- exactly one
    halving per week, so the fitted half-life is 1.0 weeks."""
    rows = []
    eid = 0
    # cohort week: all four users seen in week of 2024-01-01
    for u in range(4):
        rows.append((eid, "2024-01-01T10:00:00", u, "click", 1.0))
        eid += 1
    for u in range(2):  # offset 1: two retained
        rows.append((eid, "2024-01-08T10:00:00", u, "click", 1.0))
        eid += 1
    rows.append((eid, "2024-01-15T10:00:00", 0, "click", 1.0))  # offset 2
    out = analytics.retention_halflife(_events(spark, rows)).collect()[0]
    assert out["n_points"] == 2
    assert abs(out["half_life_weeks"] - 1.0) < 1e-3


def test_gini_trend_equal_vs_concentrated(spark):
    """Month 1: two users with equal counts (gini 0 by the closed
    form's small-n convention: 2*six/(n*sx) - (n+1)/n = 0). Month 2:
    one user holds almost everything -> strictly larger gini."""
    rows = []
    eid = 0
    for u in (1, 2):
        for _ in range(5):
            rows.append((eid, "2024-01-05T10:00:00", u, "click", 1.0))
            eid += 1
    rows.append((eid, "2024-02-05T10:00:00", 1, "click", 1.0))
    eid += 1
    for _ in range(9):
        rows.append((eid, "2024-02-05T11:00:00", 2, "click", 1.0))
        eid += 1
    out = {
        r["month"].month: r["gini"]
        for r in analytics.gini_trend(_events(spark, rows)).collect()
    }
    assert out[1] == 0.0 and out[2] > out[1]


def test_cohort_ltv_cumulative_monotone(spark):
    """One customer, two orders in consecutive months: the curve is
    cumulative, so offset 1 carries the sum of both orders."""
    orders = spark.createDataFrame(
        [
            (1, 10, datetime.date(1995, 1, 10), 100.0),
            (2, 10, datetime.date(1995, 2, 10), 50.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate date,"
        " o_totalprice double",
    )
    rows = {
        r["month_offset"]: r["cum_ltv"]
        for r in analytics.cohort_ltv_curve(orders).collect()
    }
    assert rows[0] == 100.0 and rows[1] == 150.0


# ------------------------------------------------------------- graph


def test_edge_support_clique_and_bridge(spark):
    """Triangle {1,2,3} plus bridge 3-4: every triangle edge has
    support 1 (the third vertex), the bridge has support 0."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)],
        "doc_a long, doc_b long",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["support"]
        for r in graph.edge_triangle_support(pairs).collect()
    }
    assert out[(1, 2)] == 1 and out[(1, 3)] == 1 and out[(2, 3)] == 1
    assert out[(3, 4)] == 0


# ------------------------------------------------------------- dedup


def test_prefix_exact_separates_template_from_copy(spark):
    """Three docs sharing a 64-char head: two full copies + one that
    diverges after the prefix -> one cluster, n_docs 3,
    n_distinct_full 2. A short doc never participates."""
    head = "x" * 64
    docs = _docs(
        spark,
        [
            (1, head + " tail one", "en", "s"),
            (2, head + " tail one", "en", "s"),
            (3, head + " different tail", "en", "s"),
            (4, "short doc", "en", "s"),
        ],
    )
    rows = dedup.dedup_prefix_exact(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_docs"] == 3 and r["n_distinct_full"] == 2
    assert r["keep_doc_id"] == 1


# -------------------------------------------------------- multimodal


def test_image_edge_density_flat_vs_striped(spark):
    """A constant-byte document decodes to a flat image (all
    gradients 0 -> density 0); two-pixel-wide high-contrast stripes
    yield edges. (Stripes must be >= 2 pixels wide: a 1-pixel
    checkerboard is INVISIBLE to Sobel, whose column/row taps sit 2
    apart -- measured, hence this fixture.)"""
    docs = _docs(
        spark,
        [
            (1, "a" * 300, "en", "s"),
            (2, ("a" * 6 + "~" * 6) * 25, "en", "s"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in multimodal.image_edge_density(
            multimodal.attach_image_payload(docs)
        ).collect()
    }
    assert out[1]["n_edges"] == 0 and out[1]["edge_density"] == 0.0
    assert out[2]["n_edges"] > 0


def test_image_edge_density_matches_numpy_reference(spark):
    """Cross-check the kernel against an independent per-pixel numpy
    Sobel on the reconstructed tiled luminance."""
    text = "The quick brown fox jumps over the lazy dog" * 4
    docs = _docs(spark, [(7, text, "en", "s")])
    row = multimodal.image_edge_density(
        multimodal.attach_image_payload(docs)
    ).collect()[0]
    b = np.frombuffer(text.encode(), dtype=np.uint8).astype(np.int64)
    n = len(b)
    w, h = 8 + (n % 9), 8 + ((n * 3) % 9)
    flat = b[np.arange(w * h * 3) % n]
    lum = flat.reshape(h, w, 3).sum(axis=2)
    gx = (
        lum[:-2, 2:] + 2 * lum[1:-1, 2:] + lum[2:, 2:]
        - lum[:-2, :-2] - 2 * lum[1:-1, :-2] - lum[2:, :-2]
    )
    gy = (
        lum[2:, :-2] + 2 * lum[2:, 1:-1] + lum[2:, 2:]
        - lum[:-2, :-2] - 2 * lum[:-2, 1:-1] - lum[:-2, 2:]
    )
    edges = int((gx * gx + gy * gy >= 40000).sum())
    assert row["n_edges"] == edges
    assert row["n_interior"] == (h - 2) * (w - 2)


# ------------------------------------------------- batch 2 semantics


def test_lepage_composes_component_zscores(spark, sf_small):
    """L must equal z_W^2 + z_AB^2 of the two component ops run
    standalone on the same fixture."""
    from java_mapreduce_framework_spark.sources.tables import load_table

    ev = load_table(spark, sf_small, "events")
    w = {r["event_type"]: r["zscore"]
         for r in analytics.mannwhitney_utest(ev).collect()}
    a = {r["event_type"]: r["zscore"]
         for r in analytics.ansari_bradley(ev).collect()}
    for r in analytics.lepage_test(ev).collect():
        t = r["event_type"]
        # lepage_l ships rounded to 6 decimals
        assert abs(r["lepage_l"] - (w[t] ** 2 + a[t] ** 2)) < 5.1e-7


def test_power_law_alpha_known_tail(spark):
    """Hand-computable: users with counts (2, 4, 8) and xmin=2 --
    alpha = 1 + 3 / sum(ln(x/1.5)) with micro-nat term rounding."""
    rows, eid = [], 0
    for u, cnt in ((1, 2), (2, 4), (3, 8), (4, 1)):  # u=4 below xmin
        for _ in range(cnt):
            rows.append((eid, "2024-01-01T10:00:00", u, "click", 1.0))
            eid += 1
    out = analytics.power_law_alpha(_events(spark, rows)).collect()[0]
    s6 = sum(round(math.log(x / 1.5) * 1e6) for x in (2, 4, 8))
    assert out["n_users"] == 3
    assert abs(out["alpha"] - round(1.0 + 3 * 1e6 / s6, 6)) < 1e-9


def test_seasonality_index_mean_is_one(spark):
    """Within each year the index averages to 1 by construction
    (month revenue / yearly mean): two equal months -> both 1.0."""
    import datetime as dt

    orders = spark.createDataFrame(
        [
            (1, 1, dt.date(1995, 1, 5), 100.0),
            (2, 1, dt.date(1995, 2, 5), 100.0),
            (3, 1, dt.date(1995, 3, 5), 400.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate date,"
        " o_totalprice double",
    )
    out = {r["month"]: r["seasonality_index"]
           for r in analytics.seasonality_index(orders).collect()}
    assert out[1] == out[2] == 0.5 and out[3] == 2.0


def test_mass_index_flat_series_is_window_count(spark):
    """Constant-range candles: EMA(range) == EMA(EMA(range)) exactly,
    so every day's ratio is 1 and the mass index equals the window's
    row count (capped at 25)."""
    rows = []
    for i in range(6):
        rows.append((2 * i, f"2024-01-{i + 1:02d}T10:00:00", 1, "c", 5.0))
        rows.append((2 * i + 1, f"2024-01-{i + 1:02d}T11:00:00", 1, "c", 9.0))
    out = sorted(
        temporal.window_mass_index(_events(spark, rows)).collect(),
        key=lambda r: r["day"],
    )
    assert [r["mass_index"] for r in out] == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]


def test_audio_tempo_detects_period(spark):
    """A document whose bytes pulse every 128 chars (frame=64 -> a
    2-frame loudness period) must put the energy autocorrelation's
    best lag at 2."""
    text = ("A" * 64 + "\x7f" * 64) * 4  # quiet/loud alternating frames
    docs = _docs(spark, [(1, text, "en", "s")])
    row = multimodal.audio_tempo_autocorr(
        multimodal.attach_audio_payload(docs)
    ).collect()[0]
    assert row["n_frames"] == 8
    assert row["best_lag"] == 2


# ------------------------------------------------- batch 3 semantics


def test_brunner_munzel_matches_scipy_shape(spark):
    """Crafted two-group sample with unequal spread: p_hat must be
    the exact pair probability P(A < B) + ties/2 computed by brute
    force, and W's sign must match the direction (B stochastically
    larger -> positive W)."""
    import hashlib
    import itertools

    def is_a(u):
        return hashlib.md5(f"ab|{u}".encode()).hexdigest()[0] < "8"

    ua = [u for u in range(200) if is_a(u)][:3]
    ub = [u for u in range(200) if not is_a(u)][:3]
    a_vals = [1.0, 2.0, 3.0]
    b_vals = [2.0, 4.0, 6.0]
    rows, eid = [], 0
    for u, v in zip(ua, a_vals):
        rows.append((eid, "2024-01-01T10:00:00", u, "click", v))
        eid += 1
    for u, v in zip(ub, b_vals):
        rows.append((eid, "2024-01-01T10:00:00", u, "click", v))
        eid += 1
    out = analytics.brunner_munzel(_events(spark, rows)).collect()[0]
    brute = sum(
        1.0 if a < b else (0.5 if a == b else 0.0)
        for a, b in itertools.product(a_vals, b_vals)
    ) / 9.0
    assert abs(out["p_hat"] - round(brute, 6)) < 1e-9
    assert out["w_stat"] > 0


def test_choppiness_straight_line_is_low(spark):
    """A monotone close series: true ranges tile the envelope
    exactly, so sum(TR)/range stays near 1 and CHOP sits near 0;
    an oscillating series within a band scores much higher."""
    trend = temporal.window_choppiness(
        _daily(spark, [float(10 * (i + 1)) for i in range(14)])
    ).collect()
    churn = temporal.window_choppiness(
        _daily(spark, [10.0, 20.0] * 7, user=2)
    ).collect()
    t_last = sorted(trend, key=lambda r: r["day"])[-1]["chop"]
    c_last = sorted(churn, key=lambda r: r["day"])[-1]["chop"]
    assert t_last is not None and c_last is not None
    assert c_last > t_last


def test_ultimate_oscillator_close_at_high_is_100(spark):
    """Every day closing on its high with no gaps: BP == TR on every
    horizon, so the oscillator pins at 100."""
    rows = []
    for i in range(10):
        rows.append((2 * i, f"2024-01-{i + 1:02d}T10:00:00", 1, "c", 5.0))
        rows.append((2 * i + 1, f"2024-01-{i + 1:02d}T11:00:00", 1, "c", 9.0))
    out = temporal.window_ultimate_oscillator(_events(spark, rows)).collect()
    assert all(r["ultimate_osc"] == 100.0 for r in out)


def test_cluster_size_histogram_partitions_corpus(spark):
    """Two exact near-dup pairs + one unique doc: histogram must show
    one 2-cluster count of 2 and a singleton row of 1 -- and the
    sizes weighted by counts must sum to the corpus size."""
    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta", "en", "s"),
            (2, "alpha beta gamma delta epsilon zeta", "en", "s"),
            (3, "one two three four five six seven", "en", "s"),
            (4, "one two three four five six seven", "en", "s"),
            (5, "totally different words entirely here now", "en", "s"),
        ],
    )
    rows = {r["cluster_size"]: r["n_clusters"]
            for r in dedup.cluster_size_histogram(docs).collect()}
    assert rows[2] == 2 and rows[1] == 1
    assert sum(k * v for k, v in rows.items()) == 5


def test_seasonal_naive_error_perfect_weekly_cycle(spark):
    """A strict 7-day-periodic daily series: the lag-7 forecast is
    exact, so MAE and WAPE are 0."""
    rows, eid = [], 0
    base = datetime.date(2024, 1, 1)
    for d in range(21):
        day = base + datetime.timedelta(days=d)
        for _ in range(1 + (d % 7)):  # weekly-periodic volume
            rows.append(
                (eid, f"{day.isoformat()}T10:00:00", 1, "c", 1.0)
            )
            eid += 1
    out = analytics.seasonal_naive_error(_events(spark, rows)).collect()[0]
    assert out["n_days"] == 14
    assert out["mae"] == 0.0 and out["wape"] == 0.0
