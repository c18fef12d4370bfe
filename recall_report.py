#!/usr/bin/env python
"""Quantitative verdicts for the rows-only (approximate-by-design)
operators: the driver's correctness sweep records them as rows>0, so
this report attaches the number that actually matters -- recall /
error bound vs the exact ground truth, measured at a real SF -- and
writes it to RECALL.json.

Run: python recall_report.py [sf_dir]   (default /root/testdata/sf0.01)

Each entry: {metric, value, bound, pass, detail}. `bound` is the
engine's declared floor/ceiling (the same ones tests/test_similarity.py
/ tests/test_dedup.py assert); `pass` is value vs bound.
"""

from __future__ import annotations

import json
import os
import sys


def _recall(exact: set, approx: set) -> float:
    return len(exact & approx) / len(exact) if exact else float("nan")


def main(sf_dir: str) -> dict:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from java_mapreduce_framework_spark.operators import dedup, graph, relational, similarity, temporal
    from java_mapreduce_framework_spark.session import tune_session
    from java_mapreduce_framework_spark.sources.tables import load_table, source_fingerprint

    tune_session(spark)
    out: dict[str, dict] = {}

    def rec(name, metric, value, bound, op, detail):
        ok = value >= bound if op == ">=" else value <= bound
        out[name] = {
            "metric": metric,
            "value": round(value, 4),
            "bound": f"{op} {bound}",
            "pass": bool(ok),
            "detail": detail,
        }

    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # --- approx_count_distinct: HLL++ vs exact, rsd=0.02 declared
    approx = {r["l_returnflag"]: r["approx_orders"]
              for r in relational.approx_count_distinct(lineitem).collect()}
    exact = {r["l_returnflag"]: r["n"]
             for r in lineitem.groupBy("l_returnflag")
             .agg(F.countDistinct("l_orderkey").alias("n")).collect()}
    err = max(abs(approx[k] - exact[k]) / exact[k] for k in exact)
    rec("approx_count_distinct", "max_group_rel_error", err, 0.06, "<=",
        "HLL++ rsd=0.02; 3-sigma ceiling 0.06 across per-returnflag groups")

    # --- approx_percentile_stats: sketch vs exact percentiles
    ap = {r["event_type"]: r for r in temporal.approx_percentile_stats(events).collect()}
    ex = {r["event_type"]: r for r in temporal.percentile_stats(events).collect()}
    perr = max(
        abs(ap[k][q] - ex[k][q]) / max(abs(ex[k][q]), 1e-9)
        for k in ex for q in ("p50", "p95", "p100")
    )
    rec("approx_percentile_stats", "max_quantile_rel_error", perr, 0.05, "<=",
        "approx_percentile accuracy=10000 vs exact interpolated percentiles, all types x {p50,p95,p100}")

    # --- sketch_hll_mergeable: per-type estimates carry exact counts
    rows = relational.sketch_hll_mergeable(events).collect()
    per_type = [r for r in rows if r["exact_users"] is not None]
    herr = max(abs(r["approx_users"] - r["exact_users"]) / r["exact_users"] for r in per_type)
    rec("sketch_hll_mergeable", "max_group_rel_error", herr, 0.1, "<=",
        f"HLL sketch vs exact per event_type ({len(per_type)} groups); merged row checked in tests")

    # --- dedup_minhash: LSH recall vs exact Jaccard pairs (tau=0.8)
    exact_pairs = {(r["doc_a"], r["doc_b"])
                   for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    lsh_pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.dedup_minhash(docs).collect()}
    rec("dedup_minhash", "pair_recall_vs_exact", _recall(exact_pairs, lsh_pairs), 0.9, ">=",
        f"precision exact by construction (Jaccard-verified); {len(exact_pairs)} true pairs")

    # --- dedup_simhash: its contract is Hamming <= max_hamming (the
    # pigeonhole banding is COMPLETE for that truth), not Jaccard --
    # so completeness is measured against brute-force Hamming pairs,
    # with the Jaccard-0.8 overlap reported as secondary context
    sim_pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.dedup_simhash(docs).collect()}
    fps = {r["doc_id"]: r["cs"] for r in dedup.simhash_signatures(docs).collect()}
    ids = sorted(fps)
    ham_pairs = {
        (x, y)
        for i, x in enumerate(ids) for y in ids[i + 1:]
        if sum(bin(a ^ b).count("1") for a, b in zip(fps[x], fps[y])) <= 3
    }
    jac_overlap = _recall(exact_pairs, sim_pairs)
    rec("dedup_simhash", "hamming_pair_completeness", _recall(ham_pairs, sim_pairs), 1.0, ">=",
        f"pigeonhole banding is exhaustive for hamming<=3 ({len(ham_pairs)} true pairs; "
        f"bucket_cap sub-split can only drop marginal pairs); secondary: covers "
        f"{jac_overlap:.2f} of the {len(exact_pairs)} exact Jaccard>=0.8 pairs -- "
        "hamming<=3 is a STRICTER proximity than jaccard 0.8 by design")

    # --- dedup_minhash_clusters: same-cluster doc pairs vs exact CC
    def cluster_pairs(cc_rows):
        from collections import defaultdict

        by_c = defaultdict(list)
        for r in cc_rows:
            by_c[r["component_id"]].append(r["doc_id"])
        return {(a, b) for ds in by_c.values() for a in ds for b in ds if a < b}

    exact_cc = cluster_pairs(graph.connected_components(
        dedup.ngram_jaccard_pairs(docs, threshold=0.8)).collect())
    lsh_cc = cluster_pairs(graph.connected_components(dedup.dedup_minhash(docs)).collect())
    rec("dedup_minhash_clusters", "same_cluster_pair_recall", _recall(exact_cc, lsh_cc), 0.9, ">=",
        f"transitive-closure pair agreement; {len(exact_cc)} exact same-cluster pairs")

    # --- dedup_embedding_lsh: bucketed pairs vs brute-force (tau=0.35)
    got = {(r["vec_a"], r["vec_b"]) for r in dedup.embedding_lsh_pairs(emb, threshold=0.35).collect()}
    exact_emb = {(r["vec_a"], r["vec_b"])
                 for r in dedup.embedding_neardup_pairs(emb, threshold=0.35).collect()}
    # blocked baseline is per-label; brute force over all pairs:
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").cast("array<double>").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").cast("array<double>").alias("eb"))
    dot = F.aggregate(F.zip_with("ea", "eb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    exact_all = {
        (r["vec_a"], r["vec_b"])
        for r in a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", (dot / (nrm(F.col("ea")) * nrm(F.col("eb")))).alias("cos"))
        .filter(F.round("cos", 4) >= 0.35).collect()
    }
    prec = 1.0 if got <= exact_all else len(got & exact_all) / len(got)
    rec("dedup_embedding_lsh", "pair_recall_vs_brute_force", _recall(exact_all, got), 0.3, ">=",
        f"precision measured {prec:.4f} (exact cosine verify); {len(exact_all)} true pairs; "
        f"blocked-baseline overlap {len(exact_emb & exact_all)}")

    # --- dedup_semdedup: drop-set recall vs the brute-force rule
    # (drop iff a smaller-id neighbor sits at cos >= 0.35 ANYWHERE);
    # precision is 1.0 by construction (exact cosines decide inside
    # clusters), so only routing recall is at stake
    brute_drops = {vb for _, vb in exact_all}
    sem_rows = dedup.dedup_semdedup(emb).collect()
    sem_drops = {r["vec_id"] for r in sem_rows if not r["keep"]}
    sem_prec = 1.0 if sem_drops <= brute_drops else (
        len(sem_drops & brute_drops) / len(sem_drops))
    rec("dedup_semdedup", "drop_recall_vs_brute_force",
        _recall(brute_drops, sem_drops), 0.5, ">=",
        f"precision measured {sem_prec:.4f} (exact within-cluster cosine); "
        f"{len(brute_drops)} brute-force droppable vectors; 16 k-means "
        "clusters route the quadratic search")

    # --- ANN family: recall@5 vs exact top-k
    exact_nn = {(r["qid"], r["nid"]) for r in similarity.similarity_topk(emb, k=5).collect()}
    for name, df in (
        ("similarity_ann_lsh", similarity.ann_lsh(emb, k=5)),
        ("similarity_ann_lsh_multiprobe", similarity.ann_lsh(emb, k=5, probe_bits=1)),
        ("similarity_ann_ivf", similarity.ann_ivf(emb, k=5)),
        ("similarity_ann_pq", similarity.similarity_ann_pq(emb, k=5)),
        ("similarity_ann_ivfpq", similarity.similarity_ann_ivfpq(emb, k=5)),
    ):
        approx_nn = {(r["qid"], r["nid"]) for r in df.collect()}
        floor = {"similarity_ann_lsh": 0.3,
                 "similarity_ann_lsh_multiprobe": 0.6,
                 "similarity_ann_ivf": 0.5,
                 "similarity_ann_pq": 0.8,
                 # ann_pq's floor at HALF its scan fraction (16/32
                 # probed cells vs the full code scan)
                 "similarity_ann_ivfpq": 0.8}[name]
        note = f"{len(exact_nn)} exact (query, neighbor) pairs"
        if name == "similarity_ann_ivfpq":
            note += "; scan fraction 16/32 cells vs ann_pq's full scan"
        rec(name, "recall_at_5_vs_brute_force", _recall(exact_nn, approx_nn), floor, ">=",
            note)

    # --- embedding_pq_quantize: reconstruction quality of the code
    # assignment (the per-vector signal the ADC search trusts)
    mean_rc = (
        similarity.embedding_pq_quantize(emb)
        .agg(F.avg("recon_cos").alias("m")).collect()[0]["m"]
    )
    rec("embedding_pq_quantize", "mean_reconstruction_cosine", mean_rc, 0.7, ">=",
        "m=16 subspaces x 16 codes, codebooks trained on the bounded sample")

    # --- similarity_incremental_lsh: recall of new-vs-corpus top-5
    corpus_e = emb.filter(F.col("vec_id") >= 10)
    new_e = emb.filter(F.col("vec_id") < 10)
    similarity.build_ann_index(spark, corpus_e, "ann_idx_recall",
                               source_fp=source_fingerprint(sf_dir, "embeddings"))
    inc_nn = {(r["qid"], r["nid"])
              for r in similarity.similarity_incremental_lsh(spark, new_e, "ann_idx_recall").collect()}
    from pyspark.sql import Window as _W

    from java_mapreduce_framework_spark.functions.vectors import l2_norm, vec_dot
    qs = new_e.select(F.col("vec_id").alias("qid"),
                      F.col("embedding").cast("array<double>").alias("qe"))
    cs = corpus_e.select(F.col("vec_id").alias("nid"),
                         F.col("embedding").cast("array<double>").alias("ne"))
    exact_inc = {
        (r["qid"], r["nid"])
        for r in cs.crossJoin(F.broadcast(qs))
        .select("qid", "nid",
                (vec_dot(F.col("qe"), F.col("ne"))
                 / (l2_norm(F.col("qe")) * l2_norm(F.col("ne")))).alias("cos"))
        .withColumn("rnk", F.row_number().over(
            _W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))))
        .filter(F.col("rnk") <= 5).collect()
    }
    rec("similarity_incremental_lsh", "recall_at_5_vs_brute_force",
        _recall(exact_inc, inc_nn), 0.6, ">=",
        f"{len(exact_inc)} exact new-vs-corpus (query, neighbor) pairs; "
        "multi-probe (1 bit), corpus index persisted+bucketed")

    # --- dedup_incremental_minhash: agreement with batch-mode run
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    dedup.build_minhash_index(spark, corpus, "mh_idx_recall",
                              source_fp=source_fingerprint(sf_dir, "documents"))
    inc = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
           for r in dedup.dedup_incremental_minhash(spark, batch, "mh_idx_recall", threshold=0.5).collect()}
    full = {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dedup.dedup_minhash(docs, threshold=0.5).collect()}
    cross = {}
    for (x, y), j in full.items():
        if (x % 10 == 0) != (y % 10 == 0):
            cross[(x, y) if x % 10 == 0 else (y, x)] = j
    agree = len(set(inc) & set(cross)) / len(cross) if cross else float("nan")
    mae = (sum(abs(inc[p] - cross[p]) for p in set(inc) & set(cross))
           / max(1, len(set(inc) & set(cross))))
    rec("dedup_incremental_minhash", "batch_mode_pair_agreement", agree, 1.0, ">=",
        f"candidate sets identical by shared band hashing; est-Jaccard MAE {mae:.4f} "
        f"over {len(cross)} cross pairs (128-perm estimator stderr <= 0.045)")

    # --- dedup_incremental_apply: does the ingest decision actually
    # drop the batch docs that have an exact near-dup in the corpus?
    # Ground truth is the exact Jaccard>=0.8 pair set computed above,
    # restricted to cross-boundary pairs (one side batch, one corpus).
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    true_dup_batch = {x for p in exact_pairs for x in p if x in batch_ids
                      and any(q not in batch_ids for q in p)}
    kept = {r["doc_id"]
            for r in dedup.dedup_incremental_apply(spark, batch, "mh_idx_recall").collect()}
    dropped = batch_ids - kept
    false_drops = dropped - true_dup_batch
    rec("dedup_incremental_apply", "true_dup_drop_recall",
        _recall(true_dup_batch, dropped), 0.9, ">=",
        f"{len(true_dup_batch)} batch docs with an exact cross Jaccard>=0.8 dup; "
        f"{len(false_drops)} false drops (est-Jaccard threshold, 128-perm stderr); "
        "kept == batch - matched asserted exactly in tests/test_dedup.py")

    # --- dedup_index_append: probing a batch against an index that had
    # earlier survivors APPENDED must equal probing a from-scratch
    # index over corpus UNION survivors (set equality incl. estimates)
    corpus3 = docs.filter((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 5))
    b1 = docs.filter(F.col("doc_id") % 10 == 5)
    b2 = docs.filter(F.col("doc_id") % 10 == 0)
    fp3 = source_fingerprint(sf_dir, "documents")
    dedup.build_minhash_index(spark, corpus3, "mh_recall_app", source_fp=fp3)
    surv = dedup.dedup_incremental_apply(spark, b1, "mh_recall_app")
    dedup.dedup_index_append(spark, surv, "mh_recall_app", append_fp=fp3)
    appended = {(r["doc_a"], r["doc_b"], r["est_jaccard"])
                for r in dedup.dedup_incremental_minhash(spark, b2, "mh_recall_app").collect()}
    dedup.build_minhash_index(spark, corpus3.unionByName(surv), "mh_recall_app_b",
                              source_fp=fp3)
    scratch = {(r["doc_a"], r["doc_b"], r["est_jaccard"])
               for r in dedup.dedup_incremental_minhash(spark, b2, "mh_recall_app_b").collect()}
    eq = 1.0 - (len(appended ^ scratch) / max(1, len(appended | scratch)))
    rec("dedup_index_append", "appended_vs_scratch_probe_equality", eq, 1.0, ">=",
        f"{len(scratch)} from-scratch corpus-union-survivors pairs; append keeps "
        "bucket spec so probe plans and results are identical by construction")

    # --- stream_dedup_incremental: the bounded drain must emit exactly
    # the pairs the batch-mode probe finds on the same batch (the
    # declared batch-stream equivalence; also asserted with est_jaccard
    # values in tests/test_streaming.py)
    from java_mapreduce_framework_spark.streaming.jobs import stream_dedup_incremental

    stream_pairs = {(r["doc_a"], r["doc_b"])
                    for r in stream_dedup_incremental(spark, sf_dir).collect()}
    batch_pairs = {(r["doc_a"], r["doc_b"])
                   for r in dedup.dedup_incremental_minhash(spark, batch, "mh_idx_recall").collect()}
    sym = 1.0 - (len(stream_pairs ^ batch_pairs)
                 / max(1, len(stream_pairs | batch_pairs)))
    rec("stream_dedup_incremental", "batch_stream_pair_set_equality", sym, 1.0, ">=",
        f"{len(batch_pairs)} batch-mode pairs; row-local streaming signatures are "
        "bit-identical to the aggregation path, so the drain equals the batch probe")

    # --- embedding_pca_project: sign-aligned agreement with a local
    # exact numpy PCA (rows-only because eigenvector sign/rotation is
    # BLAS-arbitrary; after per-component sign alignment the numbers
    # must agree to fp tolerance)
    import numpy as np

    emb_rows = emb.collect()
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in emb_rows])
    Xc = X - X.mean(axis=0)
    _, _, Vt = np.linalg.svd(Xc, full_matrices=False)
    local = Xc @ Vt[:8].T
    proj = {}
    for r in similarity.embedding_pca_project(emb, k=8).collect():
        proj.setdefault(r["vec_id"], {})[r["dim"]] = r["value"]
    P = np.stack(
        [np.array([proj[r["vec_id"]][c] for c in range(8)]) for r in emb_rows]
    )
    err = 0.0
    for c in range(8):
        s = 1.0 if float(np.dot(P[:, c], local[:, c])) >= 0 else -1.0
        err = max(err, float(np.max(np.abs(P[:, c] * s - local[:, c]))))
    rec("embedding_pca_project", "max_abs_projection_error_vs_numpy", err, 1e-4, "<=",
        "distributed Gram+mean stats -> driver eigh vs single-shot numpy SVD, "
        "per-component sign aligned, all 8 components x all rows")

    # --- embedding_whiten: rows-only because of the driver-side
    # eigendecomposition, but ZCA's symmetric W is unique (no sign
    # freedom) -- the verdict is the DEFINITION of whitening:
    # covariance of the whitened corpus == identity to fp tolerance
    wh = {r["vec_id"]: None for r in emb_rows}
    wrows = similarity.embedding_whiten(emb).collect()
    dW = 1 + max(r["dim"] for r in wrows)
    Wm = np.zeros((len(emb_rows), dW))
    idpos = {r["vec_id"]: p for p, r in enumerate(emb_rows)}
    for r in wrows:
        Wm[idpos[r["vec_id"]], r["dim"]] = r["white_value"]
    cw = np.cov(Wm, rowvar=False, bias=True)
    werr = float(np.max(np.abs(cw - np.eye(dW))))
    rec("embedding_whiten", "max_abs_deviation_of_whitened_cov_from_identity",
        werr, 1e-2, "<=",
        f"{len(emb_rows)} vectors x {dW} dims; ZCA W = U diag(1/sqrt(l+eps)) U^T "
        "applied distributed; identity-covariance is whitening's defining property")

    # --- ML-fit primitives: distributed moment/iterative fits vs the
    # identical serial numpy algorithm on the collected fixture
    # (rows-only because the driver-side solves are not
    # SQL-expressible; the algorithms themselves are deterministic)
    from java_mapreduce_framework_spark.operators import ml as mlops

    ids = np.array([r["vec_id"] for r in emb_rows], dtype=np.int64)
    y = np.array([r["label"] for r in emb_rows], dtype=np.float64)

    Z = np.column_stack([X[:, :8], np.ones(len(X))])
    beta_ref, *_ = np.linalg.lstsq(Z, y, rcond=None)
    lin = {r["term"]: r["value"] for r in mlops.linreg_normal(emb).collect()}
    lin_got = np.array([lin[f"f{i}"] for i in range(8)] + [lin["bias"]])
    rec("ml_linreg_normal", "max_abs_coef_error_vs_numpy_lstsq",
        float(np.max(np.abs(lin_got - beta_ref))), 1e-5, "<=",
        "one distributed extended-GEMM moment scan + driver solve vs "
        "serial numpy lstsq on the full fixture, all 9 coefficients")

    yb = (y >= 5).astype(np.float64)
    Z4 = np.column_stack([X[:, :4], np.ones(len(X))])
    bref = np.zeros(5)
    for _ in range(4):
        p = 1.0 / (1.0 + np.exp(-(Z4 @ bref)))
        H = (Z4 * (p * (1.0 - p))[:, None]).T @ Z4
        bref = bref + np.linalg.solve(H, Z4.T @ (yb - p))
    lg = {r["term"]: r["value"] for r in mlops.logreg_irls(emb).collect()}
    lg_got = np.array([lg[f"f{i}"] for i in range(4)] + [lg["bias"]])
    rec("ml_logreg_irls", "max_abs_coef_error_vs_numpy_irls",
        float(np.max(np.abs(lg_got - bref))), 1e-5, "<=",
        "4 distributed Newton rounds (broadcast beta, folded "
        "gradient+Hessian partials) vs identical serial numpy IRLS")

    import hashlib as _hl

    order = np.argsort(np.array(
        [_hl.md5(str(i).encode()).hexdigest() for i in ids]))
    C = X[order[:8]].copy()
    for _ in range(5):
        d2 = ((X * X).sum(1)[:, None] - 2.0 * X @ C.T
              + (C * C).sum(1)[None, :])
        a = np.argmin(d2, axis=1)
        for c in range(8):
            if (a == c).any():
                C[c] = X[a == c].mean(axis=0)
    d2 = ((X * X).sum(1)[:, None] - 2.0 * X @ C.T + (C * C).sum(1)[None, :])
    a = np.argmin(d2, axis=1)
    inertia_ref = float(np.maximum(d2[np.arange(len(X)), a], 0.0).sum())
    km = {r["vec_id"]: r for r in mlops.kmeans_lloyd(emb).collect()}
    agree = float(np.mean(
        [km[int(v)]["cluster_id"] == a[i] for i, v in enumerate(ids)]))
    inertia_got = float(sum(r["dist"] ** 2 for r in km.values()))
    rec("ml_kmeans_lloyd", "assignment_agreement_vs_numpy_lloyd",
        agree, 1.0, ">=",
        "identical md5 seeding + 5 Lloyd rounds, distributed partial-sum "
        "centroids vs serial numpy; inertia ratio %.6f (want ~1)"
        % (inertia_got / inertia_ref if inertia_ref else float("nan")))

    # --- multimodal_audio_spectrogram: pure-tone dominant-bin physics
    from java_mapreduce_framework_spark.operators import multimodal as mm
    import pandas as _pd  # noqa: F401

    rate, n_fft = 16000, 256
    t_ax = np.arange(rate) / rate
    tone_rows = [
        (int(freq), mm.encode_wav(
            (np.sin(2 * np.pi * freq * t_ax) * 20000).astype(np.int16), rate))
        for freq in (500, 1000, 2000, 3000, 5000)
    ]
    tones = spark.createDataFrame(tone_rows, "doc_id long, payload binary")
    spec_rows = mm.audio_spectrogram(tones).collect()
    hits = [abs(r["dominant_bin"] - round(r["doc_id"] / rate * n_fft)) <= 1
            for r in spec_rows]
    rec("multimodal_audio_spectrogram", "pure_tone_bin_accuracy",
        float(np.mean(hits)) if hits else 0.0, 1.0, ">=",
        "5 synthesized sines 500-5000 Hz through the full "
        "attach->RIFF-decode->Hann->rFFT path; every frame's dominant "
        "bin within 1 of freq/rate*n_fft")

    # --- similarity_mmr: diversity gain of the greedy MMR selection
    # vs the plain relevance top-k (mean pairwise cosine ratio < 1)
    mmr_rows = similarity.similarity_mmr(emb).collect()
    topk_rows = similarity.similarity_topk_pandas(emb, k=10, n_queries=3).collect()
    Vd = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
          for r in emb_rows}

    def _mean_pair(ids):
        ids = list(ids)
        ps = [float(np.dot(Vd[a], Vd[b])
                    / (np.linalg.norm(Vd[a]) * np.linalg.norm(Vd[b])))
              for i, a in enumerate(ids) for b in ids[i + 1:]]
        return sum(ps) / len(ps)

    ratios = []
    for qid in range(3):
        sel = [r["nid"] for r in mmr_rows if r["qid"] == qid]
        top = [r["nid"] for r in topk_rows if r["qid"] == qid]
        ratios.append(_mean_pair(sel) / _mean_pair(top))
    rec("similarity_mmr", "mean_pairwise_cosine_ratio_vs_topk",
        sum(ratios) / len(ratios), 1.0, "<=",
        "greedy lam=0.7 MMR over the exact 50-candidate shortlist; "
        "selection replay asserted equal to serial numpy in "
        "tests/test_similarity.py")

    # --- ml_logreg_ridge_sweep: shared-scan sweep vs serial replay
    sweep = mlops.logreg_ridge_sweep(emb).collect()
    by_lam = {}
    for r in sweep:
        by_lam.setdefault(r["lam"], {})[r["term"]] = r["value"]
    Z4s = np.column_stack([X[:, :4], np.ones(len(X))])
    max_err = 0.0
    for lam, vals in by_lam.items():
        bref2 = np.zeros(5)
        for _ in range(4):
            p = 1.0 / (1.0 + np.exp(-(Z4s @ bref2)))
            g = Z4s.T @ (yb - p) - lam * np.append(bref2[:-1], 0.0)
            Hm = (Z4s * (p * (1.0 - p))[:, None]).T @ Z4s + lam * np.diag(
                [1.0] * 4 + [0.0])
            bref2 = bref2 + np.linalg.solve(Hm, g)
        got2 = np.array([vals[f"f{i}"] for i in range(4)] + [vals["bias"]])
        max_err = max(max_err, float(np.max(np.abs(got2 - bref2))))
    rec("ml_logreg_ridge_sweep", "max_abs_coef_error_vs_numpy_all_lambdas",
        max_err, 1e-5, "<=",
        "3 lambdas x 4 Newton rounds trained in 5 shared scans; every "
        "coefficient of every model equals the serial replay")

    # --- ml_adaboost_stumps: distributed boosted-stump selection vs
    # identical serial numpy replay (same grid, rounding, tie-breaks)
    from tests.test_ml import _adaboost_numpy

    ab_rows = mlops.adaboost_stumps(emb).collect()
    got_st = [(r["feature"], r["polarity"]) for r in
              sorted((r for r in ab_rows if r["round"] >= 0),
                     key=lambda r: r["round"])]
    ref_st, ref_acc = _adaboost_numpy(X, y)
    match = float(np.mean([g == (r[0], r[2])
                           for g, r in zip(got_st, ref_st)]))
    rec("ml_adaboost_stumps", "stump_selection_agreement_vs_numpy",
        match, 1.0, ">=",
        "5 boosting rounds, stateless exp(-y*margin) weights; all "
        "(feature, polarity) selections equal the serial replay; "
        "ensemble train accuracy %.4f" % ref_acc)

    # --- stream_hll_dau: streaming per-day HLL sketch vs exact DAU
    from java_mapreduce_framework_spark.streaming.jobs import stream_hll_dau

    approx_dau = {r["day"]: r["dau_approx"]
                  for r in stream_hll_dau(spark, sf_dir).collect()}
    exact_dau = {r["day"]: r["n"]
                 for r in events.groupBy(
                     F.date_trunc("day", "ts").alias("day"))
                 .agg(F.countDistinct("user_id").alias("n")).collect()}
    dau_err = max(
        abs(approx_dau[k] - exact_dau[k]) / exact_dau[k] for k in exact_dau
    )
    rec("stream_hll_dau", "max_day_rel_error", dau_err, 0.06, "<=",
        "streaming approx_count_distinct rsd=0.02 (one constant-size "
        "HLL sketch per day as state); 3-sigma ceiling 0.06 across "
        "per-day counts vs exact distinct")

    return out


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    report = {"sf_dir": sf, "ops": main(sf)}
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "RECALL.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report, indent=1))
    sys.exit(0 if all(v["pass"] for v in report["ops"].values()) else 1)
