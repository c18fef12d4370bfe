"""ML section of the declared query registry: model fitting and
evaluation (naive Bayes, linear and logistic regression, k-means,
ranking metrics), written over ``operators/ml.py``."""

from __future__ import annotations

from ...operators import ml
from .core import _register, _t


#: Char-bigram occurrence stream + naive-Bayes model CTEs, shared
#: verbatim by the ml_naive_bayes_train / ml_naive_bayes_confusion
#: oracles (mirror of operators/ml.py::_char_bigrams / _nb_model).
#: range(1, length) == Spark's sequence(1, length-1); the length >= 2
#: guard keeps the row universe identical (Spark sequence(1, 0)
#: DESCENDS -- house gotcha).
_NB_MODEL_CTE = """
    grams AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, length(lower(text))),
                                   i -> substring(lower(text), i, 2))) AS bigram
      FROM documents WHERE length(text) >= 2),
    counts AS (SELECT lang, bigram, count(*) AS cnt FROM grams GROUP BY 1, 2),
    tot AS (SELECT lang, sum(cnt) AS tot FROM counts GROUP BY 1),
    vocab AS (SELECT count(DISTINCT bigram) AS v FROM counts),
    pri AS (
      -- priors over the scored (length >= 2) population, mirroring
      -- operators/ml.py::_nb_model
      SELECT lang,
             round(ln(count(*) * 1.0 /
                      (SELECT count(*) FROM documents
                       WHERE length(text) >= 2)), 6) AS prior
      FROM documents WHERE length(text) >= 2 GROUP BY 1),
    model AS (
      SELECT c.lang, c.bigram, c.cnt,
             round(ln((c.cnt + 1.0) / (t.tot + v.v)), 6) AS log_prob
      FROM counts c JOIN tot t ON t.lang = c.lang CROSS JOIN vocab v)
"""


@_register(
    "ml_naive_bayes_train",
    f"""
    WITH {_NB_MODEL_CTE},
    ranked AS (
      SELECT lang, bigram, cnt, log_prob,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, bigram) AS rn
      FROM model)
    SELECT r.lang, r.bigram, CAST(r.cnt AS BIGINT) AS cnt, r.log_prob, p.prior
    FROM ranked r JOIN pri p ON p.lang = r.lang
    WHERE r.rn <= 10
    """,
    note="multinomial NB language model head: Laplace-smoothed "
    "char-bigram log-probs + class priors, top-10 bigrams per lang; "
    "the rank window runs over the vocab-bounded count table, not the "
    "corpus",
)
def _ml_naive_bayes_train(spark, sf):
    return ml.naive_bayes_train(_t(spark, sf, "documents"))


@_register(
    "ml_naive_bayes_confusion",
    f"""
    WITH {_NB_MODEL_CTE},
    langs AS (
      SELECT t.lang, p.prior, round(ln(1.0 / (t.tot + v.v)), 6) AS dflt
      FROM tot t CROSS JOIN vocab v JOIN pri p ON p.lang = t.lang),
    docb AS (
      SELECT doc_id, lang AS lang_true, bigram, count(*) AS m
      FROM grams GROUP BY 1, 2, 3),
    scored AS (
      SELECT d.doc_id, d.lang_true, l.lang AS cls,
             round(l.prior + sum(d.m * coalesce(mo.log_prob, l.dflt)), 6)
               AS score
      FROM docb d CROSS JOIN langs l
      LEFT JOIN model mo ON mo.lang = l.lang AND mo.bigram = d.bigram
      GROUP BY 1, 2, 3, l.prior),
    pred AS (
      SELECT doc_id, lang_true, cls,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cls) AS rn
      FROM scored)
    SELECT lang_true AS lang, cls AS pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
    note="NB train + inference in one declarative plan: per-doc "
    "bigram multiplicities cross the |langs|-row class table "
    "(broadcast by design), vocab-bounded model broadcast-left-joined, "
    "scores rounded 6 pre-ranking; emits the |langs|^2 confusion matrix",
)
def _ml_naive_bayes_confusion(spark, sf):
    return ml.naive_bayes_confusion(_t(spark, sf, "documents"))


@_register(
    "ml_knn_link_prediction",
    """
    WITH scored AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6)
               AS cosine
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
    nn AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= 5),
    edges AS (
      SELECT DISTINCT * FROM (
        SELECT vec_id, neighbor_id FROM nn
        UNION ALL
        SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM nn)),
    deg AS (SELECT vec_id, count(*) AS deg FROM edges GROUP BY 1),
    wedges AS (
      SELECT e1.neighbor_id AS a, e2.neighbor_id AS b, count(*) AS common
      FROM edges e1 JOIN edges e2 ON e1.vec_id = e2.vec_id
      WHERE e1.neighbor_id < e2.neighbor_id
      GROUP BY 1, 2),
    nonadj AS (
      SELECT w.a, w.b, w.common FROM wedges w
      WHERE NOT EXISTS (SELECT 1 FROM edges e
                        WHERE e.vec_id = w.a AND e.neighbor_id = w.b))
    SELECT a AS doc_a, b AS doc_b, CAST(common AS BIGINT) AS common,
           round(common * 1.0 / (da.deg + db.deg - common), 4) AS jaccard
    FROM nonadj JOIN deg da ON da.vec_id = a JOIN deg db ON db.vec_id = b
    ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20
    """,
    note="common-neighbor link prediction on the knn graph: wedge "
    "join fan-out bounded by the <=2k vertex degree, anti-join "
    "removes existing edges, TakeOrderedAndProject top-20; oracle is "
    "the brute-force N^2 graph mirror",
)
def _ml_knn_link_prediction(spark, sf):
    return ml.knn_link_prediction(_t(spark, sf, "embeddings"))


@_register(
    "ml_knn_classify",
    """
    WITH scored AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id, b.label AS nb_label,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6)
               AS cosine
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
    nn AS (
      SELECT vec_id, nb_label,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored),
    tally AS (
      SELECT vec_id, nb_label, count(*) AS votes
      FROM nn WHERE rank <= 5 GROUP BY 1, 2),
    pred AS (
      SELECT vec_id, nb_label AS pred_label,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY votes DESC, nb_label) AS rn
      FROM tally)
    SELECT e.label, p.pred_label, CAST(count(*) AS BIGINT) AS n_vecs
    FROM pred p JOIN embeddings e USING (vec_id)
    WHERE p.rn = 1 GROUP BY 1, 2
    """,
    note="leave-one-out k-NN majority-vote classification composed on "
    "the exact block-GEMM knn graph (engine-deterministic (cosine, id) "
    "rank); vote argmax tie-broken (count desc, label asc); oracle is "
    "the brute-force N^2 mirror",
)
def _ml_knn_classify(spark, sf):
    return ml.knn_classify(_t(spark, sf, "embeddings"))


@_register(
    "ml_linreg_normal",
    """
    WITH f AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS x,
             CAST(label AS DOUBLE) AS y
      FROM embeddings),
    r AS (
      SELECT regr_slope(y, x) AS f0,
             regr_intercept(y, x) AS bias,
             regr_r2(y, x) AS r2,
             CAST(count(*) AS DOUBLE) AS n
      FROM f)
    SELECT 'f0' AS term, round(f0, 6) AS value FROM r
    UNION ALL SELECT 'bias', round(bias, 6) FROM r
    UNION ALL SELECT 'r2', round(r2, 6) FROM r
    UNION ALL SELECT 'n', n FROM r
    """,
    note="HASH-ORACLED since round 10 (VERDICT r09 item 5): the "
    "declared query is the single-feature projection (n_feat=1), so "
    "the normal-equation fit collapses to simple regression and "
    "DuckDB's regr_slope/regr_intercept/regr_r2 oracle it exactly "
    "(the engine's moment-matrix GEMM + 2x2 solve lands within fp "
    "drift of the covariance formulas, inside the 1e-6 rounding). "
    "The general multi-feature form stays in operators/ml.py with "
    "numpy-lstsq parity pinned in tests/test_ml.py + RECALL.json.",
)
def _ml_linreg_normal(spark, sf):
    return ml.linreg_normal(_t(spark, sf, "embeddings"), n_feat=1)


def _irls_feat_cte(n_feat: int) -> str:
    """Shared feature projection: first n_feat embedding dims +
    intercept, target = (label >= 5)."""
    d = n_feat + 1
    feat_sel = ",\n             ".join(
        [
            f"CAST(embedding[{i + 1}] AS DOUBLE) AS x{i}"
            for i in range(n_feat)
        ]
        + [f"1.0 AS x{d - 1}", "CAST(label >= 5 AS INT) + 0.0 AS y"]
    )
    return f"""f AS MATERIALIZED (
      SELECT {feat_sel}
      FROM embeddings)"""


def _irls_chain(pfx: str, lam: float, n_feat: int, iters: int) -> str:
    """One unrolled IRLS/Newton chain (CTE fragment; assumes the
    shared ``f`` feature CTE): per round, one corpus moment pass
    (gradient + Hessian as 1-row sums under the previous beta) and a
    GENERATED closed-form Cholesky solve of the (d+1)-dim Newton
    step, written as lateral column aliases (H + lam*I is SPD, so
    unpivoted Cholesky is stable; vs numpy's pivoted LU the betas
    differ at ~1e-13, far inside the 1e-6 output rounding). The L2
    term enters exactly as the engine's driver-side step: H += lam*I
    and g -= lam*beta with the INTERCEPT unpenalized."""
    d = n_feat + 1

    def chol_exprs() -> str:
        # ridge-adjusted moments, L entries, forward solve u, back
        # solve step s0..s{d-1} -- all lateral aliases in one SELECT
        lines = []
        for i in range(d):
            for j in range(i, d):
                adj = f" + {lam}" if (i == j and i < d - 1 and lam) else ""
                lines.append(f"h{i}{j}{adj} AS a{i}{j}")
        for i in range(d):
            adj = f" - {lam} * b{i}" if (i < d - 1 and lam) else ""
            lines.append(f"g{i}{adj} AS e{i}")
        for i in range(d):
            for j in range(i + 1):
                dots = " - ".join(
                    [f"a{min(i, j)}{max(i, j)}"]
                    + [f"l{i}{t} * l{j}{t}" for t in range(j)]
                )
                if i == j:
                    lines.append(f"sqrt({dots}) AS l{i}{i}")
                else:
                    lines.append(f"({dots}) / l{j}{j} AS l{i}{j}")
        for i in range(d):
            dots = " - ".join(
                [f"e{i}"] + [f"l{i}{t} * u{t}" for t in range(i)]
            )
            lines.append(f"({dots}) / l{i}{i} AS u{i}")
        for i in range(d - 1, -1, -1):
            dots = " - ".join(
                [f"u{i}"] + [f"l{t}{i} * s{t}" for t in range(i + 1, d)]
            )
            lines.append(f"({dots}) / l{i}{i} AS s{i}")
        return ",\n             ".join(lines)

    z = " + ".join(f"b{i} * x{i}" for i in range(d))
    hsums = ",\n             ".join(
        f"sum(w * x{i} * x{j}) AS h{i}{j}"
        for i in range(d)
        for j in range(i, d)
    )
    gsums = ",\n             ".join(
        f"sum((y - p) * x{i}) AS g{i}" for i in range(d)
    )
    b0 = ", ".join(f"0.0 AS b{i}" for i in range(d))
    parts = [f"""
    {pfx}beta0 AS (SELECT {b0})"""]
    for r in range(1, iters + 1):
        newb = ", ".join(f"b{i} + s{i} AS b{i}" for i in range(d))
        parts.append(f"""
    {pfx}m{r} AS MATERIALIZED (
      SELECT {hsums},
             {gsums}
      FROM (SELECT f.*, 1.0 / (1.0 + exp(-({z}))) AS p,
                   p * (1.0 - p) AS w
            FROM f CROSS JOIN {pfx}beta{r - 1})),
    {pfx}step{r} AS (
      SELECT {chol_exprs()}
      FROM {pfx}m{r} CROSS JOIN {pfx}beta{r - 1}),
    {pfx}beta{r} AS MATERIALIZED (
      SELECT {newb} FROM {pfx}beta{r - 1} CROSS JOIN {pfx}step{r})""")
    return ",".join(parts)


def _irls_metrics_cte(pfx: str, n_feat: int, iters: int) -> str:
    """Final-scan metrics under the fitted beta: log-loss via the
    stable softplus identity max(t,0)+ln(1+exp(-|t|)) -- numpy's
    logaddexp -- so no exp overflow at any z; accuracy by the same
    z >= 0 decision."""
    d = n_feat + 1
    z = " + ".join(f"b{i} * x{i}" for i in range(d))
    return f"""{pfx}met AS MATERIALIZED (
      SELECT sum(greatest(-z, 0.0) + ln(1.0 + exp(-abs(z)))
                 + (1.0 - y) * z) AS ll,
             sum(CASE WHEN (z >= 0.0) = (y > 0.5)
                      THEN 1 ELSE 0 END) AS acc,
             count(*) AS n
      FROM (SELECT f.y, ({z}) AS z FROM f CROSS JOIN {pfx}beta{iters}))"""


def _irls_oracle(n_feat: int = 4, iters: int = 4) -> str:
    d = n_feat + 1
    coef_rows = "\n    UNION ALL ".join(
        f"SELECT 'f{i}' AS term, round(b{i}, 6) AS value FROM beta{iters}"
        for i in range(n_feat)
    )
    return f"""
    WITH {_irls_feat_cte(n_feat)},{_irls_chain("", 0.0, n_feat, iters)},
    {_irls_metrics_cte("", n_feat, iters)}
    {coef_rows}
    UNION ALL SELECT 'bias', round(b{d - 1}, 6) FROM beta{iters}
    UNION ALL SELECT 'log_loss', round(ll / n, 6) FROM met
    UNION ALL SELECT 'accuracy', round(acc * 1.0 / n, 6) FROM met
    UNION ALL SELECT 'n', n + 0.0 FROM met
    """


@_register(
    "ml_logreg_irls",
    _irls_oracle(),
    note="fixed-iteration IRLS/Newton logistic fit, driver-side "
    "(d+1)-dim solves between broadcast scans; round-12 promotion "
    "from rows-only: the oracle unrolls each Newton round as a 1-row "
    "moment pass plus a generated closed-form Cholesky solve, so "
    "coefficients AND metrics hash-verify; numpy-IRLS parity stays "
    "pinned in tests/test_ml.py + RECALL.json",
)
def _ml_logreg_irls(spark, sf):
    return ml.logreg_irls(_t(spark, sf, "embeddings"))


def _ridge_sweep_oracle(
    lambdas=(0.0, 0.1, 1.0), n_feat: int = 4, iters: int = 4
) -> str:
    """The sweep oracle composes one ``_irls_chain`` per lambda over
    the SHARED feature CTE -- the engine runs the three fits off one
    tagged scan per round, the oracle runs three unrolled chains;
    identical per-model arithmetic either way (the L2 step enters as
    H + lam*I / g - lam*beta, intercept unpenalized)."""
    d = n_feat + 1
    chains = ",".join(
        _irls_chain(f"la{m}_", lam, n_feat, iters)
        + ",\n    "
        + _irls_metrics_cte(f"la{m}_", n_feat, iters)
        for m, lam in enumerate(lambdas)
    )
    rows = []
    for m, lam in enumerate(lambdas):
        p = f"la{m}_"
        for i in range(n_feat):
            rows.append(
                f"SELECT {lam} + 0.0 AS lam, 'f{i}' AS term, "
                f"round(b{i}, 6) AS value FROM {p}beta{iters}"
            )
        rows.append(
            f"SELECT {lam} + 0.0, 'bias', round(b{d - 1}, 6) "
            f"FROM {p}beta{iters}"
        )
        rows.append(
            f"SELECT {lam} + 0.0, 'log_loss', round(ll / n, 6) "
            f"FROM {p}met"
        )
        rows.append(
            f"SELECT {lam} + 0.0, 'accuracy', round(acc * 1.0 / n, 6) "
            f"FROM {p}met"
        )
    union = "\n    UNION ALL ".join(rows)
    return f"""
    WITH {_irls_feat_cte(n_feat)},{chains}
    {union}
    """


@_register(
    "ml_logreg_ridge_sweep",
    _ridge_sweep_oracle(),
    note="whole ridge-lambda sweep trained in SHARED scans (one pass "
    "per Newton round feeds every lambda's gradient+Hessian under a "
    "model-id tag) -- scan count independent of sweep width; "
    "round-12 promotion from rows-only: one unrolled Cholesky-Newton "
    "chain per lambda in the oracle, so all three models' "
    "coefficients AND metrics hash-verify; numpy-replay parity stays "
    "in tests/test_ml.py + RECALL.json",
)
def _ml_logreg_ridge_sweep(spark, sf):
    return ml.logreg_ridge_sweep(_t(spark, sf, "embeddings"))


@_register(
    "ml_adaboost_stumps",
    None,
    note="rows-only by declared design: fixed-round boosted-stump fit "
    "with stateless weight recompute (w = exp(-y*margin) row-locally "
    "from the broadcast ensemble -- no corpus-sized weight column); "
    "numpy-replay parity pinned in tests/test_ml.py + RECALL.json",
)
def _ml_adaboost_stumps(spark, sf):
    return ml.adaboost_stumps(_t(spark, sf, "embeddings"))


def _kmeans_oracle(k: int = 8, iters: int = 5) -> str:
    """Unrolled Lloyd k-means oracle: one (dist, argmin-assign,
    centroid-update) CTE triple per round, exactly the engine's
    md5-seeded, fixed-iteration, ties-to-lowest-cluster,
    empty-cluster-keeps-centroid semantics -- the pagerank/
    eigenvector unrolled-iteration oracle discipline. CTEs stay
    MATERIALIZED or DuckDB inlines the chain geometrically. The
    double chains differ from the engine's GEMM identity
    (|x|^2 - 2xC + |C|^2 vs sum((x-c)^2)) only at ~1e-15 -- far
    inside the 1e-6 dist rounding and the comparator's 9-digit
    canonicalization; argmin flips would need two centroids
    equidistant to ~1e-15, checked green at both gate SFs."""
    rounds = []
    for r in range(1, iters + 1):
        rounds.append(f"""
    dist{r} AS MATERIALIZED (
      SELECT u.vec_id, c.c, sum((u.x - c.cx) * (u.x - c.cx)) AS d2
      FROM u JOIN cent{r - 1} c USING (dim) GROUP BY 1, 2),
    asg{r} AS MATERIALIZED (
      SELECT vec_id, c FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, c) AS rn
        FROM dist{r}) WHERE rn = 1),
    newc{r} AS (
      SELECT a.c, u.dim, avg(u.x) AS cx
      FROM asg{r} a JOIN u USING (vec_id) GROUP BY 1, 2),
    cent{r} AS MATERIALIZED (
      SELECT p.c, p.dim, coalesce(n.cx, p.cx) AS cx
      FROM cent{r - 1} p
      LEFT JOIN newc{r} n ON p.c = n.c AND p.dim = n.dim)""")
    chain = ",".join(rounds)
    return f"""
    WITH u AS MATERIALIZED (
      SELECT vec_id, CAST(t.i - 1 AS INT) AS dim, t.v AS x
      FROM (SELECT vec_id,
                   unnest(list_transform(CAST(embedding AS DOUBLE[]),
                          (v, i) -> struct_pack(v := v, i := i))) AS t
            FROM embeddings)),
    seed AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)))
               - 1 AS c
      FROM embeddings),
    cent0 AS MATERIALIZED (
      SELECT s.c, u.dim, u.x AS cx
      FROM seed s JOIN u USING (vec_id) WHERE s.c < {k}),{chain},
    distf AS (
      SELECT u.vec_id, c.c, sum((u.x - c.cx) * (u.x - c.cx)) AS d2
      FROM u JOIN cent{iters} c USING (dim) GROUP BY 1, 2),
    asgf AS (
      SELECT vec_id, c, d2,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2, c) AS rn
      FROM distf)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(c AS INT) AS cluster_id,
           round(sqrt(d2), 6) AS dist
    FROM asgf WHERE rn = 1
    """


@_register(
    "ml_kmeans_lloyd",
    _kmeans_oracle(),
    note="driver-coordinated Lloyd fit (fixed 5 rounds, md5-seeded, "
    "argmin ties to lowest cluster, empty clusters hold position); "
    "round-12 promotion from rows-only (VERDICT r11 #3): the oracle "
    "unrolls the identical iteration as MATERIALIZED CTE rounds, so "
    "the full assignment hash-verifies; numpy-Lloyd parity stays "
    "pinned in tests/test_ml.py",
)
def _ml_kmeans_lloyd(spark, sf):
    return ml.kmeans_lloyd(_t(spark, sf, "embeddings"))


@_register(
    "ml_roc_auc",
    """
    WITH per_score AS (
      SELECT n_chars AS score, count(*) AS t,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
      FROM documents GROUP BY n_chars),
    ranked AS (
      SELECT t, pos,
             coalesce(sum(t) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS below
      FROM per_score),
    agg AS (
      SELECT sum(pos * (2 * below + t + 1)) AS sum_r2_pos,
             sum(pos) AS n_pos, sum(t - pos) AS n_neg
      FROM ranked)
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CAST(sum_r2_pos AS BIGINT) AS sum_r2_pos,
           CAST(CAST(round(CAST(sum_r2_pos - n_pos * (n_pos + 1)
                                AS DOUBLE)
                           / (2.0 * n_pos * n_neg) * 1e6) AS BIGINT)
                AS DOUBLE) / 1e6 AS auc
    FROM agg WHERE n_pos > 0 AND n_neg > 0
    """,
    note="ROC-AUC of document length as an English detector via the "
    "rank-sum (Mann-Whitney) identity -- no curve materialized; "
    "doubled midranks keep ties exact integers, AUC one integer "
    "ratio at 1e-6 scale; rank stage sees distinct score values, "
    "not documents",
)
def _ml_roc_auc(spark, sf):
    return ml.roc_auc_lang_length(_t(spark, sf, "documents"))


@_register(
    "ml_pr_curve",
    """
    WITH ranked AS (
      SELECT n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents),
    cum AS (
      SELECT score, rn,
             sum(pos) OVER (ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pos
      FROM ranked),
    tot AS (
      SELECT count(*) AS n,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_pos
      FROM documents),
    cuts AS (
      SELECT k, n_pos,
             CAST(floor(n * k / 10.0) AS INTEGER) AS rank_cut
      FROM range(1, 11) t(k), tot)
    SELECT k * 10 AS cut_pct,
           CAST(rank_cut AS BIGINT) AS rank_cut,
           CAST(score AS BIGINT) AS score_cut,
           CAST(cum_pos AS BIGINT) AS n_pos_at_cut,
           CAST(CAST(round(cum_pos * 1e6 / CAST(rank_cut AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS precision,
           CAST(CAST(round(cum_pos * 1e6 / CAST(n_pos AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS recall
    FROM cum JOIN cuts ON rn = rank_cut
    """,
    note="precision/recall of the length-as-English detector at 10 "
    "coverage cuts (roc_auc's operating-points companion): ranks "
    "deterministic via the (score DESC, doc_id) unique-key order; "
    "the rank space is compressed to distinct scores (roc_auc's "
    "discipline), each floor(N*k/10) cut located in its score "
    "bucket by a 10-row broadcast inequality join, in-bucket rank "
    "windowed per cut; ratios at integer 1e-6 scale",
)
def _ml_pr_curve(spark, sf):
    return ml.pr_curve_lang_length(_t(spark, sf, "documents"))


@_register(
    "ml_ridge_two_feature",
    """
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_discount * 10000) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    agg AS (
      SELECT count(*) AS n_i,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x1) AS DOUBLE) AS s1,
             CAST(sum(x2) AS DOUBLE) AS s2,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x1 * x1) AS DOUBLE) AS s11,
             CAST(sum(x2 * x2) AS DOUBLE) AS s22,
             CAST(sum(x1 * x2) AS DOUBLE) AS s12,
             CAST(sum(x1 * y) AS DOUBLE) AS s1y,
             CAST(sum(x2 * y) AS DOUBLE) AS s2y
      FROM base),
    cen AS (
      SELECT n_i, n, s1, s2, sy,
             s11 - s1 * s1 / n AS c11,
             s22 - s2 * s2 / n AS c22,
             s12 - s1 * s2 / n AS c12,
             s1y - s1 * sy / n AS c1y,
             s2y - s2 * sy / n AS c2y
      FROM agg),
    fit AS (
      SELECT n_i, n, s1, s2, sy, c1y, c2y, c12, c11, c22,
             (c11 + 1000.0) * (c22 + 1000.0) - c12 * c12 AS det
      FROM cen)
    SELECT CAST(n_i AS BIGINT) AS n,
           round((c1y * (c22 + 1000.0) - c2y * c12) / det, 6) AS beta_qty,
           round(((c11 + 1000.0) * c2y - c12 * c1y) / det, 6) AS beta_disc,
           round(sy / n
                 - ((c1y * (c22 + 1000.0) - c2y * c12) / det) * (s1 / n)
                 - (((c11 + 1000.0) * c2y - c12 * c1y) / det) * (s2 / n),
                 4) AS intercept,
           1000.0 AS lam
    FROM fit WHERE n_i > 2
    """,
    note="closed-form two-feature ridge fit of revenue cents on "
    "(quantity, discount-percent): exact integer moments off ONE "
    "scan, the 2x2 regularized normal equations solved as scalar "
    "double expressions in the same operation order on both engines "
    "(intercept unpenalized, centered parameterization)",
)
def _ml_ridge_two_feature(spark, sf):
    return ml.ridge_two_feature(_t(spark, sf, "lineitem"))
