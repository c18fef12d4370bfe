"""Similarity search over embedding columns (SURVEY.md M5):

- ``similarity_topk``        -- brute-force cosine top-k (exactness baseline).
- ``similarity_topk_pandas`` -- same semantics on the numpy/Arrow path.
- ``ann_lsh``                -- random-hyperplane LSH bucketed ANN (scale path).

Scale shape: the query set is small and broadcast; the corpus side
stays partitioned and is scanned once. Brute force is O(Q x N) work
spread over corpus partitions with no shuffle until top-k selection;
LSH replaces the full scan with bucket-equi-join candidate generation.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import l2_norm, vec_dot


def _queries(embeddings: DataFrame, n_queries: int) -> DataFrame:
    return embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        l2_norm(F.col("embedding")).alias("qn"),
    )


#: cosine from pre-hoisted norms: HOF expressions are interpreted, so
#: the per-pair work is ONE dot product; norms ride each side's scan.
def _cos_hoisted() -> F.Column:
    return vec_dot(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn"))


def _corpus(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("ne"),
        l2_norm(F.col("embedding")).alias("nn"),
    )


def similarity_topk(
    embeddings: DataFrame, k: int = 5, n_queries: int = 10
) -> DataFrame:
    """Exact cosine top-k per query vector via broadcast cross join +
    rank window. The cross join replicates only the tiny query side;
    TakeOrdered semantics come from the rank filter. Deterministic:
    ties broken on neighbor id."""
    q = _queries(embeddings, n_queries)
    cand = _corpus(embeddings)
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", F.round(_cos_hoisted(), 6).alias("cos_sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        scored.select("qid", "nid", "cos_sim", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", F.round("cos_sim", 4).alias("cos_sim"), "rnk")
    )


def similarity_topk_pandas(
    embeddings: DataFrame, k: int = 5, n_queries: int = 10
) -> DataFrame:
    """Brute-force top-k on the vectorized Python path: one numpy
    matmul per Arrow batch against the broadcast query matrix, local
    top-k per partition, global top-k by window. This is the hot-path
    pattern for when expression-tree vector math becomes the
    bottleneck; semantics identical to ``similarity_topk``."""
    import numpy as np
    import pandas as pd

    q_rows = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )  # tiny query set only; the corpus is never collected
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qm = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    qm_n = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((qids, qm_n))

    def score_batches(batches):
        b_qids, b_qm = bc.value
        for pdf in batches:
            cm = np.array(list(pdf["embedding"]), dtype=np.float64)
            cm_n = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cm_n @ b_qm.T  # (batch, Q)
            nids = pdf["vec_id"].to_numpy(dtype=np.int64)
            out = pd.DataFrame(
                {
                    "qid": np.repeat(b_qids, len(nids)),
                    "nid": np.tile(nids, len(b_qids)),
                    "cos_sim": np.round(sims.T.ravel(), 6),
                }
            )
            yield out[out.qid != out.nid]

    scored = embeddings.select("vec_id", "embedding").mapInPandas(
        score_batches, schema="qid long, nid long, cos_sim double"
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        scored.select("qid", "nid", "cos_sim", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", F.round("cos_sim", 4).alias("cos_sim"), "rnk")
    )


def _ivf_train(x, n_cells: int, iters: int, seed: int):
    """Spherical Lloyd k-means on a bounded driver-side sample of
    L2-NORMALIZED rows -- numpy only, seeded init, fixed iteration
    count (deterministic for a fixed (data, seed)). Shared coarse
    quantizer of ``ann_ivf`` and ``similarity_ann_ivfpq``; returns the
    (n_cells x dim) unit-norm centroid matrix."""
    import numpy as np

    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cent[c] = m / np.linalg.norm(m)
    return cent


def ann_ivf(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    sample_cap: int = 2048,
    iters: int = 5,
    seed: int = 11,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: k-means
    cells as the coarse quantizer, exact cosine + rank inside the
    ``n_probe`` nearest cells only.

    Train/assign/search split mirrors FAISS-style IVF on Spark
    primitives:
    1. *Train*: a seeded, size-capped sample is collected to the
       driver (bounded by ``sample_cap`` rows -- the one sanctioned
       collect: centroid training needs a dense solver, and the
       sample is tiny relative to the corpus) and Lloyd-iterated in
       numpy; the centroid matrix (n_cells x dim) broadcasts to
       executors.
    2. *Assign*: one ``mapInPandas`` scan tags every corpus vector
       with its nearest cell -- a matmul per Arrow batch, no shuffle.
    3. *Search*: queries probe their ``n_probe`` nearest cells; the
       candidate join is an equi-join on cell id, so scored work is
       ~(n_probe / n_cells) of the corpus per query instead of a full
       scan. Recall grows with n_probe (= 1 at n_probe = n_cells).

    Deterministic for a fixed (data, seed): the sample is hash-picked,
    init is seeded, iteration count fixed. Rows-only checked by the
    driver; recall vs the brute-force baseline is asserted in tests.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    # -- train: deterministic hash-sample, capped --
    frac_col = F.pmod(F.xxhash64("vec_id", F.lit(seed)), F.lit(1_000_000))
    sample = (
        embeddings.select("embedding", frac_col.alias("r"))
        .orderBy("r")
        .limit(sample_cap)
        .select("embedding")
        .collect()
    )  # query/training set only; the corpus is never collected
    x = np.array([r["embedding"] for r in sample], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    cent = _ivf_train(x, n_cells, iters, seed)
    bc = spark.sparkContext.broadcast(cent)

    # -- assign: one scan, nearest cell per corpus vector --
    def assign_cells(batches):
        c = bc.value
        for pdf in batches:
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            m_n = m / np.linalg.norm(m, axis=1, keepdims=True)
            cell = (m_n @ c.T).argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell": cell.astype(np.int32),
                    "embedding": pdf["embedding"],
                }
            )

    schema = "vec_id long, cell int, embedding array<float>"
    indexed = embeddings.select("vec_id", "embedding").mapInPandas(assign_cells, schema)

    # -- search: queries probe n_probe cells; candidates via cell equi-join --
    def probe_cells(batches):
        c = bc.value
        for pdf in batches:
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            m_n = m / np.linalg.norm(m, axis=1, keepdims=True)
            order = np.argsort(-(m_n @ c.T), axis=1)[:, :n_probe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(pdf["vec_id"].to_numpy(dtype=np.int64), n_probe),
                    "cell": order.ravel().astype(np.int32),
                    "qe": [e for e in pdf["embedding"] for _ in range(n_probe)],
                }
            )

    q = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .mapInPandas(probe_cells, "qid long, cell int, qe array<float>")
    )
    cand = (
        indexed.withColumn("nn", l2_norm(F.col("embedding")))
        .join(F.broadcast(q.withColumn("qn", l2_norm(F.col("qe")))), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "qe", "qn", F.col("vec_id").alias("nid"), F.col("embedding").alias("ne"), "nn"
        )
    )
    scored = cand.select(
        "qid", "nid", F.round(_cos_hoisted(), 6).alias("cos_sim")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        scored.select("qid", "nid", "cos_sim", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", F.round("cos_sim", 4).alias("cos_sim"), "rnk")
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _banded_pandas(
    embeddings: DataFrame, n_planes: int, bands: int, dim: int, seed: int
) -> DataFrame:
    """Banded sign-LSH rows (vec_id, emb, nn, band_id, bucket) via one
    numpy GEMM per Arrow batch -- the vectorized signature path (the
    Catalyst HOF fold evaluates interpreted per element). Deterministic
    for fixed seed; both sides of any bucket join must use THIS kernel
    so boundary dots round identically."""
    import numpy as np
    import pandas as pd

    planes = np.array(_hyperplanes(n_planes, dim, seed)).T  # dim x planes
    width = n_planes // bands

    def gen(batches):
        for pdf in batches:
            em = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            nn = np.sqrt((em * em).sum(axis=1))
            bits = (em @ planes) > 0
            weights = 1 << np.arange(width)
            buckets = np.stack(
                [bits[:, j * width : (j + 1) * width] @ weights for j in range(bands)],
                axis=1,
            )
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), bands),
                    "emb": np.repeat(pdf["embedding"].to_numpy(), bands),
                    "nn": np.repeat(nn, bands),
                    "band_id": np.tile(np.arange(bands, dtype=np.int32), n),
                    "bucket": buckets.reshape(-1).astype(np.int32),
                }
            )

    return embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).mapInPandas(
        gen, "vec_id long, emb array<double>, nn double, band_id int, bucket int"
    )


def ann_lsh(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 7,
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH buckets as the
    candidate filter, exact cosine + rank on candidates only.

    This is the IVF/LSH 100 TB posture: signature computation is a
    single scan; candidate generation is an equi-join on (band,
    bucket) instead of a Q x N scan. Recall < 1 by construction --
    verified against the brute-force baseline in tests, rows-only
    checked by the driver.

    Band geometry trades recall against pruning: a band of b bits
    matches a neighbor at angular similarity p with probability p^b.
    For *near-duplicate* retrieval (cosine >= 0.9, p >= 0.85) narrow
    bands are fine; for generic top-k over random data (cosine ~ 0.4,
    p ~ 0.63) wide bands collapse recall -- hence the 4 bands x 4 bits
    default (expected recall ~ 1-(1-p^4)^4 ~ 0.5 at p = 0.63, with a
    ~4x candidate-set reduction).

    ``probe_bits`` enables multi-probe LSH: each QUERY band probes its
    own bucket plus every bucket reachable by flipping up to that many
    signature bits (``probe_bits=1`` -> 1 + width probes per band).
    A band then matches a true neighbor when >= width-probe_bits of
    its bits agree (P(match) = p^b + b*p^(b-1)*(1-p) + ... per band,
    ~0.53 vs 0.16 at p = 0.63, lifting expected recall to ~0.95).
    Only the tiny broadcast query side fans out -- the corpus index
    is untouched, so multi-probe buys recall WITHOUT re-hashing or
    growing the big side, the standard trade (Lv et al., VLDB'07).

    Signature bits + norms come from the Arrow-batched numpy kernel
    (``_banded_pandas``): one GEMM per batch instead of interpreted
    per-element HOF folds -- same vectorized-path rationale as
    ``dedup.embedding_lsh_pairs``. Both sides MUST hash through the
    same kernel (a query hashed by a different float-summation order
    could land one bucket off its own corpus copy)."""
    banded = _banded_pandas(embeddings, n_planes, bands, dim, seed)
    corpus = banded.select(
        F.col("vec_id").alias("nid"),
        F.col("emb").alias("ne"),
        F.col("nn"),
        "band_id",
        "bucket",
    )
    q = banded.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qe"),
        F.col("nn").alias("qn"),
        "band_id",
        "bucket",
    )
    if probe_bits > 0:
        width = n_planes // bands
        probes = [F.col("bucket")]
        if probe_bits >= 1:
            probes += [F.col("bucket").bitwiseXOR(F.lit(1 << r)) for r in range(width)]
        if probe_bits >= 2:
            probes += [
                F.col("bucket").bitwiseXOR(F.lit((1 << r) | (1 << s)))
                for r in range(width)
                for s in range(r + 1, width)
            ]
        q = q.select(
            "qid", "qe", "qn", "band_id",
            F.explode(F.array_distinct(F.array(*probes))).alias("bucket"),
        )
    # Score BEFORE deduplicating: a pair matched by several bands is
    # re-scored (cheap, deterministic) but the candidate shuffle then
    # carries (qid, nid, cos) triples instead of two embedding
    # vectors per row -- ~20x fewer shuffle bytes, which is what
    # matters at corpus scale. distinct() is exact because the score
    # is a pure function of the pair.
    cand = (
        corpus.join(F.broadcast(q), ["band_id", "bucket"])
        .filter(F.col("nid") != F.col("qid"))
    )
    scored = cand.select(
        "qid", "nid", F.round(_cos_hoisted(), 6).alias("cos_sim")
    ).distinct()
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        scored.select("qid", "nid", "cos_sim", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", F.round("cos_sim", 4).alias("cos_sim"), "rnk")
    )


def embedding_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid in long form (label, pos, centroid_val):
    posexplode the vectors, average per (label, dimension). The long
    form keeps the plan a plain partial+final hash aggregation --
    element-wise array aggregation via collect+fold would move whole
    vectors through the shuffle; this moves one (label, pos) partial
    sum per map partition. 1-based pos to match SQL ordinality."""
    return (
        embeddings.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v")
        )
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        # + 0.0 normalizes IEEE negative zero: a near-zero mean's sign
        # depends on float summation order, and -0.0 vs 0.0 would
        # compare unequal in a text-formatted result check.
        .agg((F.round(F.avg("v"), 4) + F.lit(0.0)).alias("centroid_val"))
    )


def embedding_quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of the embedding column, long form:
    per-vector max-abs scale, q = floor(127*x/scale + 0.5) in
    [-127, 127]. 4x less vector memory/shuffle/IO for ANN serving --
    the standard recall-neutral compression step before building an
    index at corpus scale. Long form (vec_id, pos, q_val) keeps the
    plan a plain projection+explode (no array-valued aggregation);
    the reconstruction error bound |x - q*scale/127| <= scale/254 is
    asserted in tests. floor(.. + 0.5) instead of round() because
    half-even vs half-away rounding differs across engines; floor is
    bit-identical everywhere."""
    e = F.col("embedding").cast("array<double>")
    mx = F.array_max(F.transform(e, lambda x: F.abs(x)))
    q = F.when(
        F.col("scale") == 0, F.lit(0)
    ).otherwise(
        F.floor(F.lit(127) * F.col("v") / F.col("scale") + F.lit(0.5))
    ).cast("int")
    return (
        embeddings.select("vec_id", mx.alias("scale"), F.posexplode(e).alias("pos0", "v"))
        .select(
            "vec_id",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            q.alias("q_val"),
            F.round("scale", 6).alias("scale"),
        )
    )


# ------------------------------------------------------------------
# Incremental ANN: new vectors probed against a PERSISTED banded
# sign-LSH index (the growing-vector-store production shape, symmetric
# to dedup.build_minhash_index / dedup_incremental_minhash).


def build_ann_index(
    spark,
    embeddings: DataFrame,
    index_name: str,
    n_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 7,
    buckets: int = 8,
    source_fp: str | None = None,
) -> None:
    """Persist the banded sign-LSH corpus (vec_id, emb, nn, band_id,
    bucket) as a warehouse table bucketed+sorted on (band_id, bucket):
    pay the signature GEMM and the layout once per corpus generation,
    then every incremental probe equi-joins the posting lists without
    re-hashing or shuffling the corpus. ``source_fp`` invalidates a
    stale index after a fixture regeneration (same marker contract as
    the minhash index)."""
    from ..sources.staging import ensure_staged_table

    banded = _banded_pandas(embeddings, n_planes, bands, dim, seed)
    ensure_staged_table(
        spark,
        index_name,
        lambda: banded,
        source_fp,
        bucket_cols=["band_id", "bucket"],
        buckets=buckets,
    )


def similarity_incremental_lsh(
    spark,
    new_vectors: DataFrame,
    index_name: str,
    k: int = 5,
    n_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 7,
    probe_bits: int = 1,
) -> DataFrame:
    """Top-k neighbors of NEW vectors against the persisted corpus
    index: hash only the new batch (through the SAME numpy kernel the
    index was built with -- a different float-summation order could
    land a vector one bucket off its own corpus copy), multi-probe the
    bucketed posting lists, exact-cosine + rank the candidates. The
    corpus is never re-hashed and never shuffles: the new side
    broadcasts into the index scan.

    The geometry params MUST match the build call; at production
    scale they would live in the index's metadata. Candidate
    equivalence with an inline (non-persisted) run is asserted in
    tests/test_similarity.py."""
    q = _banded_pandas(new_vectors, n_planes, bands, dim, seed).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qe"),
        F.col("nn").alias("qn"),
        "band_id",
        "bucket",
    )
    if probe_bits > 0:
        width = n_planes // bands
        probes = [F.col("bucket")]
        if probe_bits >= 1:
            probes += [F.col("bucket").bitwiseXOR(F.lit(1 << r)) for r in range(width)]
        if probe_bits >= 2:
            probes += [
                F.col("bucket").bitwiseXOR(F.lit((1 << r) | (1 << s)))
                for r in range(width)
                for s in range(r + 1, width)
            ]
        q = q.select(
            "qid", "qe", "qn", "band_id",
            F.explode(F.array_distinct(F.array(*probes))).alias("bucket"),
        )
    corpus = spark.table(index_name).select(
        F.col("vec_id").alias("nid"),
        F.col("emb").alias("ne"),
        "nn",
        "band_id",
        "bucket",
    )
    cand = (
        corpus.join(F.broadcast(q), ["band_id", "bucket"])
        .filter(F.col("nid") != F.col("qid"))
    )
    scored = cand.select(
        "qid", "nid", F.round(_cos_hoisted(), 6).alias("cos_sim")
    ).distinct()
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        scored.select("qid", "nid", "cos_sim", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", F.round("cos_sim", 4).alias("cos_sim"), "rnk")
    )


def embedding_gram(embeddings: DataFrame) -> DataFrame:
    """Distributed Gram matrix G = X^T X over the corpus embeddings —
    the second-moment primitive behind PCA/whitening/covariance and
    the canonical "matrix partial aggregation" shape.

    Plan: one ``mapInPandas`` pass runs a d x d numpy GEMM per Arrow
    batch and accumulates ONE d x d partial per task, emitting d^2
    tiny (i, j, partial) rows; a single grouped SUM folds the
    partials. Work is embarrassingly parallel over corpus partitions,
    the shuffle moves d^2 rows per task (d=64 -> 4096 doubles, ~32 KB)
    regardless of corpus size, and nothing ever materializes per-pair
    — this is the plan that survives 100 TB (a posexplode-squared
    expression form would blow every row up x d^2 instead).

    Sum order differs from a serial engine by partial-fold
    association, so outputs are rounded to 6 decimals on both engine
    and oracle sides (absolute fp drift is ~1e-12 at any fold shape).

    Emits (i, j, gram) with 0-based i, j — d^2 rows total.
    """
    import numpy as np
    import pandas as pd

    def kernel(batches):
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            g = X.T @ X
            acc = g if acc is None else acc + g
        if acc is not None:
            d = acc.shape[0]
            jj, ii = np.meshgrid(np.arange(d), np.arange(d))
            yield pd.DataFrame(
                {
                    "i": ii.ravel().astype("int32"),
                    "j": jj.ravel().astype("int32"),
                    "partial": acc.ravel(),
                }
            )

    partials = embeddings.select("embedding").mapInPandas(
        kernel, "i int, j int, partial double"
    )
    return partials.groupBy("i", "j").agg(
        F.round(F.sum("partial"), 6).alias("gram")
    )


def _covariance_eigh(embeddings: DataFrame):
    """(mean, eigvals, eigvecs) of the corpus embeddings' population
    covariance, eigenvalues ascending (``numpy.linalg.eigh``).

    Distributed part: ONE ``mapInPandas`` pass accumulates the three
    sufficient statistics per task (the d x d Gram partial, the d-sum,
    the count), tagged into a single (i, j, partial) stream (j = -1
    rows carry the sum, (-1, -1) the count); a grouped SUM folds them,
    so the shuffle carries d^2 + d + 1 rows per task however big the
    corpus. Driver part: the folded d x d covariance (a few KB, d
    model-sized -- the ONE sanctioned collect, same class as the IVF
    training sample) is eigendecomposed with numpy."""
    import numpy as np
    import pandas as pd

    def stats_kernel(batches):
        gram = None
        vsum = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            g = X.T @ X
            s = X.sum(axis=0)
            gram = g if gram is None else gram + g
            vsum = s if vsum is None else vsum + s
            n += len(pdf)
        if gram is not None:
            d = gram.shape[0]
            jj, ii = np.meshgrid(np.arange(d), np.arange(d))
            yield pd.DataFrame(
                {
                    "i": np.concatenate(
                        [ii.ravel(), np.arange(d), [-1]]
                    ).astype("int32"),
                    "j": np.concatenate(
                        [jj.ravel(), -np.ones(d), [-1]]
                    ).astype("int32"),
                    "partial": np.concatenate([gram.ravel(), vsum, [float(n)]]),
                }
            )

    folded = (
        embeddings.select("embedding")
        .mapInPandas(stats_kernel, "i int, j int, partial double")
        .groupBy("i", "j")
        .agg(F.sum("partial").alias("v"))
        .collect()  # bounded: d^2 + d + 1 rows, model-sized by construction
    )
    d = max(r["i"] for r in folded) + 1
    gram = np.zeros((d, d))
    mean = np.zeros(d)
    n = 0.0
    for r in folded:
        if r["i"] == -1:
            n = r["v"]
        elif r["j"] == -1:
            mean[r["i"]] = r["v"]
        else:
            gram[r["i"], r["j"]] = r["v"]
    mean /= n
    cov = gram / n - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)
    return mean, eigvals, eigvecs


def _centered_project(embeddings: DataFrame, mean, m, out_col: str) -> DataFrame:
    """Long form (vec_id, dim, ``out_col``) of ``round((x - mean) @ m,
    6)`` for every embedding x: one row per (vector, column of ``m``),
    scalar columns only. ``mean`` and ``m`` ride the closure to the
    executors; one vectorized pass, no shuffle."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            P = np.round((X - mean) @ m, 6)
            n, k = P.shape
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(dtype="int64"), k),
                    "dim": np.tile(np.arange(k, dtype="int32"), n),
                    out_col: P.ravel(),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        kernel, f"vec_id long, dim int, {out_col} double"
    )


def embedding_pca_project(embeddings: DataFrame, k: int = 8) -> DataFrame:
    """PCA projection of every embedding onto the top-k principal
    components — dimensionality reduction as a training-data step.

    The covariance and its eigendecomposition come from
    ``_covariance_eigh`` (one distributed statistics pass, one
    model-sized collect); the top-k components ride back to the
    executors in ``_centered_project``'s vectorized pass. No per-pair
    work, no iteration, corpus scanned exactly twice.

    Eigenvector sign/degenerate-subspace rotation is arbitrary across
    BLAS builds, so this is a rows-only query by declared design;
    the engine-local test pins orthonormality, explained-variance
    ordering, and projection-vs-numpy equality.

    Emits the LONG form ``(vec_id, dim, value)`` — one row per
    (vector, component), scalar columns only, same contract as the
    round-8 ``embedding_standardize`` fix: the driver canonicalizer
    crashes on array-valued output columns (CORRECTNESS_r08).
    """
    mean, _, eigvecs = _covariance_eigh(embeddings)
    comps = eigvecs[:, ::-1][:, :k].copy()  # descending variance, d x k
    return _centered_project(embeddings, mean, comps, "value")


def embedding_knn_graph(
    embeddings: DataFrame, k: int = 5, blocks: int = 8
) -> DataFrame:
    """Exact cosine k-NN graph over the corpus — the substrate for
    graph-based dedup clustering, label propagation, and HNSW-style
    index construction. Every vector gets its ``k`` nearest
    neighbors (self excluded), rank tie-broken deterministically.

    Distributed block-GEMM shape (the expression-tree cross join this
    replaced spent 34 s at sf0.1 on 25 M HOF dot products): vectors
    hash into ``blocks`` row/column blocks, the block pairs cross-join
    (blocks² cells, each a numpy GEMM over its tile), and each cell
    emits only its per-row top-k candidates — so the exchange after
    the N² compute carries N × blocks × k candidate rows, never the
    pair stream. A final rank window makes the global top-k exact:
    every global neighbor is in its cell's top-k by construction.
    In-cell and global ordering share one key — 6-decimal-rounded
    cosine then neighbor id — far above the ~1e-15 float-reorder
    noise between engines, so rank order is engine-deterministic.

    The N² tile compute is still the known wall at corpus scale —
    this is the DECLARED-EXACT baseline; the scale path is the
    bucketed family (``similarity_ann_lsh`` / ``similarity_ann_ivf``):
    generate candidates there, then verify with this scoring.

    Emits (vec_id, rank, neighbor_id, cosine).
    """
    import numpy as np
    import pandas as pd

    e = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        (F.col("vec_id") % blocks).alias("blk"),
    )
    packed = e.groupBy("blk").agg(
        F.collect_list("vec_id").alias("ids"),
        F.collect_list("emb").alias("mat"),
    )
    rows = packed.select(
        F.col("ids").alias("rids"), F.col("mat").alias("rmat")
    )
    cols = packed.select(
        F.col("ids").alias("cids"), F.col("mat").alias("cmat")
    )
    cells = rows.crossJoin(cols)

    def cell_topk(batches):
        for pdf in batches:
            out_v: list = []
            out_n: list = []
            out_c: list = []
            for _, row in pdf.iterrows():
                rid = np.asarray(row["rids"], dtype=np.int64)
                cid = np.asarray(row["cids"], dtype=np.int64)
                R = np.stack([np.asarray(x, dtype=np.float64) for x in row["rmat"]])
                C = np.stack([np.asarray(x, dtype=np.float64) for x in row["cmat"]])
                Rn = R / np.linalg.norm(R, axis=1, keepdims=True)
                Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
                S = np.round(Rn @ Cn.T, 6)
                S[rid[:, None] == cid[None, :]] = -np.inf  # self-exclusion
                kk = min(k, S.shape[1])
                nbr_order = np.argsort(cid)  # neighbor-asc base for stable sort
                for i in range(S.shape[0]):
                    s = S[i]
                    idx = nbr_order[np.argsort(-s[nbr_order], kind="stable")][:kk]
                    idx = idx[np.isfinite(s[idx])]
                    out_v.extend([int(rid[i])] * len(idx))
                    out_n.extend(int(x) for x in cid[idx])
                    out_c.extend(float(x) for x in s[idx])
            yield pd.DataFrame(
                {"vec_id": out_v, "neighbor_id": out_n, "cosine": out_c}
            )

    cand = cells.mapInPandas(
        cell_topk, schema="vec_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "rank", "neighbor_id", "cosine")
    )


def embedding_standardize(embeddings: DataFrame) -> DataFrame:
    """Column-wise z-score standardization of the embedding matrix —
    the feature-scaling pass before distance-based indexing or
    clustering when dimensions carry different variances (raw model
    activations, concatenated feature groups).

    Two-scan shape, no per-row Python: (1) posexplode to (dim, value)
    and aggregate per-dimension mean / population stddev — the d×N
    fan-out is the inherent cost of column statistics, but it runs as
    a partial→final aggregate so the shuffle carries d×partitions
    rows, not d×N; (2) the d-row stats collapse to a single
    array-of-structs row that broadcasts back onto the original
    vectors, and a JVM `transform` with index applies
    (x - mu[i]) / sd[i] element-wise. A constant dimension (sd = 0)
    standardizes to NULL rather than Inf on both engines.

    Emits the LONG form (vec_id, dim, std_value rounded 6) — scalar
    columns only, so the result is sortable/hashable by any
    canonicalizer (an array<double> output column crashes pandas
    ``sort_values``; wide consumers pivot back with
    ``array_agg(std_value ORDER BY dim)``).
    """
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    u = e.select("vec_id", F.posexplode("emb").alias("dim", "v"))
    stats = (
        u.groupBy("dim")
        .agg(F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd"))
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mu", "sd"))).alias("st"))
    )
    std = F.transform(
        "emb",
        lambda x, i: F.round(
            F.when(
                F.element_at(F.col("st"), i + 1)["sd"] != 0.0,
                (x - F.element_at(F.col("st"), i + 1)["mu"])
                / F.element_at(F.col("st"), i + 1)["sd"],
            ),
            6,
        ),
    )
    return (
        e.join(F.broadcast(stats))
        .select("vec_id", F.posexplode(std).alias("dim", "std_value"))
    )


# ------------------------------------------------------------------
# Product quantization: the memory-bound ANN representation (Jegou,
# Douze, Schmid -- TPAMI'11 "Product Quantization for Nearest
# Neighbor Search"). At corpus scale the index holds m one-byte codes
# per vector instead of dim floats (64x smaller at dim=64, m=8), and
# query scoring is m table lookups instead of a dim-length dot.


def _pq_train(x, m: int, ksub: int, iters: int, seed: int):
    """Per-subspace Lloyd k-means on a bounded driver-side sample --
    numpy only, fixed iteration count. Deterministic for a fixed
    sample with ZERO RNG: each subspace seeds from the sample's
    first ksub rows (``_pq_sample`` already delivers rows in
    md5(vec_id) hash order, i.e. content-shuffled), argmin ties go
    to the lowest code, empty codes keep their centroid -- the
    ``kmeans_lloyd`` discipline, which is what lets a DuckDB oracle
    unroll the identical iteration (round-12 promotion). ``seed`` is
    kept for signature stability; the hash order replaces it.
    Returns (m, ksub, dsub) codebooks."""
    import numpy as np

    n, dim = x.shape
    dsub = dim // m
    books = np.zeros((m, ksub, dsub))
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        cent = xs[: min(ksub, n)].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(len(cent)):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[s, : len(cent)] = cent
    return books


def _pq_sample(embeddings: DataFrame, sample_cap: int, seed: int):
    """Deterministic hash-picked training sample, L2-normalized, in
    md5(vec_id) hash order -- the one sanctioned bounded collect
    (same contract as ann_ivf). The md5-string order (vs the prior
    xxhash64 pick) is the repo's cross-engine hash discipline: a SQL
    oracle reproduces both WHICH rows train the codebook and their
    seeding order."""
    import numpy as np

    rows = (
        embeddings.select(
            "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("r"),
        )
        .orderBy("r")
        .limit(sample_cap)
        .select("embedding")
        .collect()
    )  # bounded training sample only; the corpus is never collected
    x = np.array([row["embedding"] for row in rows], dtype=np.float64)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _pq_codes_df(embeddings: DataFrame, books) -> DataFrame:
    """INTERNAL: assign PQ codes given a trained codebook tensor.
    Emits the array form ``(vec_id, codes array<int>, recon_cos)`` for
    in-plan consumers (``similarity_ann_pq``'s ADC scan reads the
    array column directly); the REGISTERED ``embedding_pq_quantize``
    wraps this and flattens ``codes`` to a scalar string, because the
    driver's canonicalizer crashes on array-valued output columns
    (CORRECTNESS_r08 ``embedding_pq_quantize`` ERR)."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(books)

    def assign(batches):
        b = bc.value
        mm, _, dsub = b.shape
        for pdf in batches:
            v = np.array(list(pdf["embedding"]), dtype=np.float64)
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            codes = np.zeros((len(v), mm), dtype=np.int32)
            recon = np.zeros_like(v)
            for s in range(mm):
                xs = v[:, s * dsub : (s + 1) * dsub]
                d = ((xs[:, None, :] - b[s][None, :, :]) ** 2).sum(axis=2)
                c = d.argmin(axis=1)
                codes[:, s] = c
                recon[:, s * dsub : (s + 1) * dsub] = b[s][c]
            rn = np.linalg.norm(recon, axis=1)
            rc = np.where(rn > 0, (v * recon).sum(axis=1) / rn, 0.0)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                    "recon_cos": np.round(rc, 4),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, codes array<int>, recon_cos double"
    )


def embedding_pq_quantize(
    embeddings: DataFrame,
    m: int = 16,
    ksub: int = 16,
    sample_cap: int = 2048,
    iters: int = 8,
    seed: int = 13,
) -> DataFrame:
    """Assign every corpus vector its PQ code word (m sub-codes) plus
    a per-vector reconstruction-quality readout.

    Plan shape: train on the bounded sample (driver numpy, sanctioned
    collect), broadcast the (m x ksub x dsub) codebook tensor (a few
    KB), then ONE ``mapInPandas`` scan assigns codes -- per Arrow
    batch a (batch x ksub) distance matrix per subspace, pure GEMM,
    no shuffle anywhere. Emits ``(vec_id, codes string, recon_cos)``
    -- ``codes`` is the m sub-codes comma-joined (scalar-only output
    by contract: the driver canonicalizer crashes on array columns,
    CORRECTNESS_r08); recon_cos = cosine(normalized vector, its
    codebook reconstruction), the per-vector quality signal that
    decides whether m/ksub are adequate before the index ships.
    """
    spark = embeddings.sparkSession
    x = _pq_sample(embeddings, sample_cap, seed)
    books = _pq_train(x, m, ksub, iters, seed)
    return _pq_codes_df(embeddings, books).select(
        "vec_id",
        F.concat_ws(",", F.col("codes").cast("array<string>")).alias("codes"),
        "recon_cos",
    )


def similarity_ann_pq(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    m: int = 16,
    ksub: int = 16,
    shortlist: int = 64,
    sample_cap: int = 2048,
    iters: int = 8,
    seed: int = 13,
) -> DataFrame:
    """ANN top-k by asymmetric distance computation (ADC) over PQ
    codes, with exact rescoring of the shortlist.

    1. *Train + assign* as ``embedding_pq_quantize`` (one corpus
       scan; codes are the only per-vector state the search reads).
    2. *ADC scan*: each query precomputes its (m x ksub) inner-product
       table against the codebooks (driver-side numpy on Q vectors);
       one ``mapInPandas`` pass over the CODES sums m table lookups
       per (query, vector) and keeps only the per-batch top
       ``shortlist`` per query (numpy lexsort, ties by vec_id) -- the
       Q x N score stream never materializes, candidates leave each
       partition pre-pruned.
    3. *Exact rescore*: the global shortlist (per-query window over
       the per-batch survivors) broadcast-joins the corpus for true
       cosine; final top-k ranks on the EXACT score, so approximation
       affects only recall (which vectors reach the shortlist), never
       the reported similarity values.

    Scale contract: at 100 TB the ADC scan reads m bytes + a long per
    vector instead of the raw matrix, and per-partition pre-pruning
    bounds the shuffle at (#partitions x Q x shortlist) rows.
    Rows-only checked by the driver; recall >= 0.8 vs the brute-force
    baseline is asserted in tests and recorded in RECALL.json.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    x = _pq_sample(embeddings, sample_cap, seed)
    books = _pq_train(x, m, ksub, iters, seed)
    bc = spark.sparkContext.broadcast(books)

    codes = _pq_codes_df(embeddings, books).select("vec_id", "codes")

    q_rows = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )  # bounded query set only (same contract as similarity_topk)
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qv = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    qv = qv / np.linalg.norm(qv, axis=1, keepdims=True)
    # per-query ADC lookup tables: table[q, s, c] = <q_sub, book[s, c]>
    dsub = books.shape[2]
    tables = np.stack(
        [qv[:, s * dsub : (s + 1) * dsub] @ books[s].T for s in range(books.shape[0])],
        axis=1,
    )
    bq = spark.sparkContext.broadcast((qids, tables))

    def adc_scan(batches):
        ids, tabs = bq.value
        nq = len(ids)
        for pdf in batches:
            c = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            # scores[q, n] = sum_s tabs[q, s, c[n, s]]
            scores = np.zeros((nq, len(c)))
            for s in range(c.shape[1]):
                scores += tabs[:, s, :][:, c[:, s]]
            out_q, out_n, out_s = [], [], []
            top = min(shortlist, len(c))
            for qi in range(nq):
                mask = vid != ids[qi]
                sc, vv = scores[qi][mask], vid[mask]
                keep = np.lexsort((vv, -sc))[:top]
                out_q.append(np.full(len(keep), ids[qi], dtype=np.int64))
                out_n.append(vv[keep])
                out_s.append(sc[keep])
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_q) if out_q else [],
                    "nid": np.concatenate(out_n) if out_n else [],
                    "adc": np.round(np.concatenate(out_s), 6) if out_s else [],
                }
            )

    cand = codes.mapInPandas(adc_scan, "qid long, nid long, adc double")
    w_adc = Window.partitionBy("qid").orderBy(F.col("adc").desc(), F.col("nid"))
    short = (
        cand.select("qid", "nid", F.row_number().over(w_adc).alias("r"))
        .filter(F.col("r") <= shortlist)
        .select("qid", "nid")
    )
    scored = (
        _corpus(embeddings)
        .join(F.broadcast(short), "nid")
        .join(F.broadcast(_queries(embeddings, n_queries)), "qid")
        .select("qid", "nid", F.round(_cos_hoisted(), 6).alias("cos_sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        scored.select("qid", "nid", "cos_sim", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", F.round("cos_sim", 4).alias("cos_sim"), "rnk")
    )


def similarity_ann_ivfpq(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_cells: int = 32,
    n_probe: int = 16,
    m: int = 16,
    ksub: int = 16,
    shortlist: int = 64,
    sample_cap: int = 2048,
    ivf_iters: int = 5,
    pq_iters: int = 8,
    seed: int = 13,
) -> DataFrame:
    """Composed IVF-PQ ANN (the FAISS IVFADC shape): the IVF coarse
    quantizer routes each query to its ``n_probe`` nearest cells, and
    the PQ-ADC scan scores codes INSIDE those cells only -- recall of
    the PQ shortlist at a fraction ``n_probe / n_cells`` of
    ``similarity_ann_pq``'s full code scan.

    1. *Train*: IVF centroids (``_ivf_train``) and PQ codebooks
       (``_pq_train``) on the same bounded sample; PQ trains on
       RESIDUALS (v - centroid[cell]) -- the FAISS discipline that
       keeps sub-quantizers accurate once the coarse term is removed.
    2. *Encode*: ONE ``mapInPandas`` scan tags every vector with its
       cell and residual codes; the code table is then repartitioned
       ON CELL, so same-cell codes are co-located -- the in-plan twin
       of a persisted index laid out ``partitionBy(cell)``, where the
       probe list prunes whole partitions at the source.
    3. *ADC scan*: score(q, x) decomposes as <q, centroid[cell]> +
       sum_s table[q, s, code_s] (tables are cell-independent because
       codes encode residuals); the kernel scores each batch row ONLY
       against queries probing its cell, keeps the per-batch top
       ``shortlist`` per query, and never materializes the Q x N
       stream.
    4. *Exact rescore* of the global shortlist, as in
       ``similarity_ann_pq`` -- approximation affects recall only,
       never the reported cosine.

    Scale contract: at 100 TB the search reads m bytes + a long per
    vector in probed cells only (~n_probe/n_cells of the corpus);
    everything shuffled is bounded by (#partitions x Q x shortlist).
    Rows-only checked by the driver; recall >= similarity_ann_pq's
    0.8 floor at a 16/32 scan fraction (half of ann_pq's full code
    scan; the fixture's 64-dim embeddings have weak cluster
    structure, so routing still needs half the corpus -- a clustered
    corpus probes far fewer; 32 finer cells beat 16 coarser ones at
    the same fraction because pruning granularity, not cell count,
    is what routing recall buys) is asserted in tests and recorded
    in RECALL.json."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    x = _pq_sample(embeddings, sample_cap, seed)
    cent = _ivf_train(x, n_cells, ivf_iters, seed)
    res = x - cent[(x @ cent.T).argmax(axis=1)]
    books = _pq_train(res, m, ksub, pq_iters, seed)
    bc = spark.sparkContext.broadcast((cent, books))

    def encode(batches):
        c, b = bc.value
        mm, _, dsub = b.shape
        for pdf in batches:
            v = np.array(list(pdf["embedding"]), dtype=np.float64)
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            cell = (v @ c.T).argmax(axis=1)
            r = v - c[cell]
            codes = np.zeros((len(v), mm), dtype=np.int32)
            for s in range(mm):
                xs = r[:, s * dsub : (s + 1) * dsub]
                d = ((xs[:, None, :] - b[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell": cell.astype(np.int32),
                    "codes": list(codes),
                }
            )

    codes = (
        embeddings.select("vec_id", "embedding")
        .mapInPandas(encode, "vec_id long, cell int, codes array<int>")
        .repartition(F.col("cell"))
    )

    q_rows = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )  # bounded query set only (same contract as similarity_topk)
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qv = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    qv = qv / np.linalg.norm(qv, axis=1, keepdims=True)
    dsub = books.shape[2]
    tables = np.stack(
        [qv[:, s * dsub : (s + 1) * dsub] @ books[s].T for s in range(books.shape[0])],
        axis=1,
    )
    probes = np.argsort(-(qv @ cent.T), axis=1)[:, :n_probe]
    bias = qv @ cent.T  # (Q x n_cells) coarse term
    bq = spark.sparkContext.broadcast((qids, tables, probes, bias))

    def adc_scan(batches):
        ids, tabs, prb, bs = bq.value
        # cell -> indices of queries probing it
        by_cell: dict[int, list[int]] = {}
        for qi in range(len(ids)):
            for c in prb[qi]:
                by_cell.setdefault(int(c), []).append(qi)
        for pdf in batches:
            c = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            cell = pdf["cell"].to_numpy(dtype=np.int64)
            out_q, out_n, out_s = [], [], []
            for cc in np.unique(cell):
                qsel = by_cell.get(int(cc))
                if not qsel:
                    continue  # no query probes this cell: rows skipped
                rows = np.flatnonzero(cell == cc)
                cs, vs = c[rows], vid[rows]
                scores = np.full((len(qsel), len(rows)), 0.0)
                for s in range(cs.shape[1]):
                    scores += tabs[qsel, s, :][:, cs[:, s]]
                scores += bs[qsel][:, cc][:, None]
                top = min(shortlist, len(rows))
                for r_i, qi in enumerate(qsel):
                    mask = vs != ids[qi]
                    sc, vv = scores[r_i][mask], vs[mask]
                    keep = np.lexsort((vv, -sc))[:top]
                    out_q.append(np.full(len(keep), ids[qi], dtype=np.int64))
                    out_n.append(vv[keep])
                    out_s.append(sc[keep])
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_q) if out_q else [],
                    "nid": np.concatenate(out_n) if out_n else [],
                    "adc": np.round(np.concatenate(out_s), 6) if out_s else [],
                }
            )

    cand = codes.mapInPandas(adc_scan, "qid long, nid long, adc double")
    w_adc = Window.partitionBy("qid").orderBy(F.col("adc").desc(), F.col("nid"))
    short = (
        cand.select("qid", "nid", F.row_number().over(w_adc).alias("r"))
        .filter(F.col("r") <= shortlist)
        .select("qid", "nid")
    )
    scored = (
        _corpus(embeddings)
        .join(F.broadcast(short), "nid")
        .join(F.broadcast(_queries(embeddings, n_queries)), "qid")
        .select("qid", "nid", F.round(_cos_hoisted(), 6).alias("cos_sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        scored.select("qid", "nid", "cos_sim", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", F.round("cos_sim", 4).alias("cos_sim"), "rnk")
    )


def similarity_mmr(
    embeddings: DataFrame,
    n_queries: int = 3,
    k: int = 10,
    shortlist: int = 50,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k: for each query,
    greedily select k results maximizing
    lam * sim(q, d) - (1 - lam) * max_{s in selected} sim(d, s) --
    the standard rerank that trades raw relevance for coverage
    (retrieval-augmentation's answer to near-duplicate result lists).

    Two-stage shape (how MMR actually runs at scale): the DISTRIBUTED
    part is the exact top-``shortlist`` candidate generation per query
    (the brute-force GEMM scan of ``similarity_topk_pandas``; the ANN
    family substitutes at corpus scale); the greedy selection -- k
    sequential argmaxes, inherently serial -- runs on the collected
    shortlist only (# bounded: n_queries x shortlist rows, model-sized
    by construction). The corpus itself is never collected.

    Deterministic: candidate order comes from the engine's
    (cos desc, nid) rank; greedy scores are rounded to 6 decimals
    before comparison with nid as the tie-break (house discipline).

    Emits (qid, rank, nid, relevance, mmr_score).

    Rows-only by declared design (iterative greedy selection);
    numpy-replay parity pinned in tests/test_similarity.py, diversity
    gain vs plain top-k recorded in RECALL.json."""
    import numpy as np

    sl = (
        similarity_topk_pandas(embeddings, k=shortlist, n_queries=n_queries)
        .select("qid", "nid", "rnk")
        .collect()  # bounded: n_queries x shortlist candidate ids
    )
    # Query identities come from the shortlist's own qid column (the
    # _queries convention), not range(n_queries): if the fixture's
    # vec_ids ever stop starting at 0 the loop degrades to the queries
    # that actually exist instead of KeyError-ing (round-5 advisory).
    qids = sorted({r["qid"] for r in sl})
    cand_ids = sorted({r["nid"] for r in sl} | set(qids))
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in embeddings.filter(
            F.col("vec_id").isin([int(i) for i in cand_ids])
        )
        .select("vec_id", "embedding")
        .collect()  # bounded: shortlist union query vectors
    }

    def cos(a, b):
        return float(
            np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
        )

    rows = []
    for qid in qids:
        cands = [r["nid"] for r in sorted(
            (r for r in sl if r["qid"] == qid), key=lambda r: r["rnk"]
        )]
        rel = {nid: round(cos(vecs[qid], vecs[nid]), 6) for nid in cands}
        selected: list[int] = []
        remaining = list(cands)
        while remaining and len(selected) < k:
            best = None
            for nid in remaining:
                div = max(
                    (round(cos(vecs[nid], vecs[s]), 6) for s in selected),
                    default=0.0,
                )
                score = round(lam * rel[nid] - (1.0 - lam) * div, 6)
                cand = (-score, nid)
                if best is None or cand < best:
                    best = cand
            score, nid = -best[0], best[1]
            selected.append(nid)
            remaining.remove(nid)
            rows.append(
                (
                    qid,
                    len(selected),
                    int(nid),
                    round(rel[nid], 4),
                    round(score, 4),
                )
            )
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        rows, "qid long, rank int, nid long, relevance double, mmr_score double"
    )


def similarity_histogram(
    embeddings: DataFrame, m: int = 128, bins: int = 16
) -> DataFrame:
    """Corpus-level embedding-geometry health check: the distribution
    of pairwise cosines over a deterministic hash subsample -- the
    first plot anyone makes of a new embedding space (a hump near 1.0
    means collapsed embeddings, mass near 0 means healthy spread;
    drift between snapshots flags an encoder change).

    Scale posture: the subsample is the SMALLEST ``m`` vectors by
    content-independent md5 order (TakeOrderedAndProject -- per-
    partition heaps, no global sort), so the pair stage is m^2/2
    pairs by construction REGARDLESS of corpus size; both join sides
    broadcast. Cosines reuse the hoisted-norm dot product of
    ``similarity_topk`` rounded 6 (the proven cross-engine identity),
    then bin by exact binary arithmetic (0.125 steps) -- bin edges
    cannot split engines because the rounded cosine and the bin math
    are bit-identical.

    Emits (bin, bin_lo, n_pairs) over occupied bins.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    sub = (
        embeddings.select(
            "vec_id",
            "embedding",
            F.md5(
                F.concat_ws(
                    "|", F.lit("simh"), F.col("vec_id").cast("string")
                )
            ).alias("hk"),
        )
        .orderBy("hk", "vec_id")
        .limit(m)
    )
    a = sub.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    b = sub.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("ne"),
        l2_norm(F.col("embedding")).alias("nn"),
    )
    cos6 = F.round(_cos_hoisted(), 6)
    # width/base derive from `bins` (cosine spans [-1, 1], so width
    # is 2/bins); at the registered default 16 these are exactly the
    # 8.0 / 0.125 binary constants the oracle mirrors
    binc = F.least(
        F.floor((F.col("cos6") + F.lit(1.0)) * F.lit(bins / 2.0)).cast(
            "int"
        ),
        F.lit(bins - 1),
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("qid") < F.col("nid"))
        .select(cos6.alias("cos6"))
        .select(binc.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .select(
            "bin",
            (F.lit(-1.0) + F.col("bin") * F.lit(2.0 / bins)).alias(
                "bin_lo"
            ),
            "n_pairs",
        )
    )


def embedding_norm_profile(embeddings: DataFrame, k: float = 2.0) -> DataFrame:
    """Embedding-hygiene audit by vector norm: every encoder failure
    mode that matters operationally -- zero vectors from empty inputs,
    exploded norms from fp overflow, collapsed shards from a bad
    checkpoint -- shows up in the L2-norm distribution long before
    cosine metrics move. Flags vectors whose norm z-scores beyond
    ``k`` against the corpus mean.

    One map-side norm projection (the hoisted ``l2_norm`` fold every
    similarity operator shares), one global moment aggregate (mean
    rounded 6 -- the ``stats_moments`` centering discipline -- then
    ONE centered-squares pass), stats broadcast back as a 1-row
    frame; the flag filter is a pure row expression. Output is
    outlier-sized, never corpus-sized.

    Emits (vec_id, norm, zscore) for |z| >= k.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    norms = embeddings.select(
        "vec_id", l2_norm(F.col("embedding")).alias("norm")
    )
    mu = norms.agg(F.round(F.avg("norm"), 6).alias("mu"))
    d = F.col("norm") - F.col("mu")
    stats = (
        norms.crossJoin(F.broadcast(mu))
        .agg(
            F.count("*").alias("n"),
            F.max("mu").alias("mu"),
            F.sum(d * d).alias("css"),
        )
        .filter((F.col("n") > 1) & (F.col("css") > 0))
        .select(
            "mu",
            F.sqrt(F.col("css") / (F.col("n") - 1)).alias("sd"),
        )
    )
    z = (F.col("norm") - F.col("mu")) / F.col("sd")
    return (
        norms.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            F.round("norm", 6).alias("norm"),
            F.round(z, 4).alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) >= k)
    )


def embedding_matryoshka_eval(
    embeddings: DataFrame,
    ks: tuple[int, ...] = (8, 16, 32),
    k: int = 5,
    n_queries: int = 10,
) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation (Kusupati et
    al. 2022's deployment question): how much top-k retrieval quality
    survives when vectors are cut to their first ``kd`` dimensions?
    The curve decides how small a serving index can be BEFORE
    re-embedding anything -- the standard audit run over a candidate
    embedding column.

    For each prefix length: exact cosine top-k over the SLICED
    vectors (``similarity_topk`` verbatim on a projected column --
    one definition of top-k/tie semantics for full and truncated
    alike), then per-query overlap against the full-dimension top-k.

    Plan: one broadcast cross join + rank window per prefix length
    (the slice is a row-local projection, so each pass reads fewer
    bytes than the full-dim baseline -- exactly the economics the
    curve measures); the per-query overlap joins are k-row
    broadcasts. Emits (k_dim, qid, n_overlap, recall_at_k).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md section 2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    from functools import reduce

    full = similarity_topk(embeddings, k, n_queries).select("qid", "nid")
    qids = full.select("qid").distinct()
    outs = []
    for kd in ks:
        sliced = embeddings.select(
            "vec_id", F.slice("embedding", 1, kd).alias("embedding")
        )
        t = similarity_topk(sliced, k, n_queries).select("qid", "nid")
        ov = (
            t.join(full, ["qid", "nid"])
            .groupBy("qid")
            .agg(F.count("*").alias("n_overlap"))
        )
        outs.append(
            qids.join(ov, "qid", "left").select(
                F.lit(kd).alias("k_dim"),
                "qid",
                F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
                F.round(
                    F.coalesce("n_overlap", F.lit(0)) / F.lit(float(k)), 2
                ).alias("recall_at_k"),
            )
        )
    return reduce(lambda x, y: x.unionByName(y), outs)


def embedding_centroid_drift(embeddings: DataFrame) -> DataFrame:
    """Embedding-space drift monitor -- the vector companion of
    ``ks_drift``/``psi_drift``'s scalar tests: split the corpus into
    two halves (even/odd vec_id, the deterministic stand-in for
    reference-vs-current batches) and report, per label, how far the
    class centroid MOVED between halves -- centroid cosine plus the
    norm ratio (direction drift and magnitude drift separately; a
    re-embedding or a collapsed shard moves one before the other).

    Determinism discipline (the multimodal_text_align centroid
    contract): per-(half, label, dim) means are PINNED at 4 decimals
    before any cosine, dot/norms run as 0.0-seeded ordered folds ==
    DuckDB's seedless list_reduce, so the one rounded division per
    label is the only float exposure.

    Plan: ONE partial->final aggregate on (half, label, dim) over the
    posexploded corpus (the embedding_centroids long-form shape:
    (label, pos) partial sums shuffle, never vectors), then
    label-count-bounded collects into pinned arrays and row-local
    fold arithmetic. Emits the measurements only -- (label, n_ref,
    n_cur, centroid_cos, norm_ratio); thresholding (e.g. alert when
    cos < 0.98 or the norm ratio leaves [0.8, 1.25]) is the
    caller's policy, kept out of the contract so the oracle compares
    pure arithmetic.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md section 2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    half = (F.col("vec_id") % 2 == 0).cast("int")
    cent = (
        embeddings.select(
            half.alias("half"),
            "label",
            F.posexplode(
                F.col("embedding").cast("array<double>")
            ).alias("pos", "v"),
        )
        .groupBy("half", "label", "pos")
        .agg(
            (F.round(F.avg("v"), 4) + F.lit(0.0)).alias("cval"),
        )
        .groupBy("half", "label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("c")
        )
    )
    counts = embeddings.groupBy(half.alias("half"), "label").agg(
        F.count("*").alias("n")
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, v: acc + v
    )
    # reference = EVEN vec_ids (half flag 1), current = odd
    ref = cent.filter(F.col("half") == 1).select(
        "label", F.col("c").alias("cr")
    )
    cur = cent.filter(F.col("half") == 0).select(
        "label", F.col("c").alias("cc")
    )
    nref = counts.filter(F.col("half") == 1).select(
        "label", F.col("n").alias("n_ref")
    )
    ncur = counts.filter(F.col("half") == 0).select(
        "label", F.col("n").alias("n_cur")
    )
    nr = F.sqrt(fold(F.transform(F.col("cr"), lambda a: a * a)))
    nc = F.sqrt(fold(F.transform(F.col("cc"), lambda a: a * a)))
    cos = F.round(
        fold(F.zip_with(F.col("cr"), F.col("cc"), lambda a, b: a * b))
        / (nr * nc),
        4,
    )
    ratio = F.round(nc / nr, 4)
    return (
        ref.join(cur, "label")
        .join(nref, "label")
        .join(ncur, "label")
        .select(
            "label",
            "n_ref",
            "n_cur",
            cos.alias("centroid_cos"),
            ratio.alias("norm_ratio"),
        )
    )


def embedding_whiten(embeddings: DataFrame, eps: float = 1e-6) -> DataFrame:
    """ZCA whitening of the corpus embeddings -- the decorrelating
    upgrade of ``embedding_standardize`` (which fixes marginal
    variances but leaves correlations): X_white = (X - mu) @ W with
    W = U diag(1/sqrt(lambda + eps)) U^T, the unique symmetric PSD
    inverse square root of the covariance. ZCA (not PCA-) whitening
    deliberately: the symmetric W is invariant to eigenvector sign
    and rotation, so the output has no BLAS-arbitrary indeterminacy
    -- what keeps this a stable operator even though the
    eigendecomposition itself makes it non-SQL-expressible
    (rows-only; RECALL bound: covariance of the whitened output ==
    identity to fp tolerance).

    Plan shape is ``embedding_pca_project``'s exactly: the same
    ``_covariance_eigh`` statistics pass and driver eigendecomposition,
    then W and mu ride ``_centered_project``'s vectorized pass. Corpus
    scanned exactly twice, no per-pair work.

    Emits the LONG form (vec_id, dim, white_value rounded 6) --
    scalar columns only (the embedding_standardize driver-canon
    lesson).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    import numpy as np

    mean, eigvals, eigvecs = _covariance_eigh(embeddings)
    w = eigvecs @ np.diag(1.0 / np.sqrt(eigvals + eps)) @ eigvecs.T
    return _centered_project(embeddings, mean, w, "white_value")


def embedding_dim_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension distribution profile of the embedding matrix --
    the first look before standardize/whiten/PCA decide anything
    (dead dimensions, scale mismatches between concatenated feature
    groups, and saturated activations all show up here).

    Same two-phase shape as ``embedding_standardize``'s stats pass:
    posexplode to (dim, value) and ONE partial+final aggregation per
    dimension -- the shuffle carries d x partitions rows, never
    d x N. Min/max are exact; mean/stddev follow the standardize
    precedent (cross-engine-stable at 6 decimals on float32-sourced
    doubles).

    Emits (dim, n_vecs, mean_v, std_v, min_v, max_v).
    """
    u = embeddings.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        )
    )
    return u.groupBy("dim").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.round(F.avg("v"), 6).alias("mean_v"),
        F.round(F.stddev_pop("v"), 6).alias("std_v"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
    )


def embedding_dim_clip_bounds(
    embeddings: DataFrame, lo: float = 0.01, hi: float = 0.99
) -> DataFrame:
    """Per-dimension robust clip bounds (p1/p99) for outlier clipping
    before quantization or standardization -- ``embedding_dim_stats``
    tells you a dimension is heavy-tailed; this emits the exact
    bounds the clipping pass applies.

    Runs through the distributed order-statistic kernel
    (``exact_quantiles_grouped``): range-sharded (dim, value)
    partitions, two-phase prefix sums, Arrow walk emitting only the
    straddling order statistics -- per-task memory is one shard,
    never a dimension's full value list (grouped ``percentile``
    would buffer N values per dimension at corpus scale).

    Emits (dim, q_idx, bound) -- long form, q_idx 0 = lo, 1 = hi.
    """
    from .relational import exact_quantiles_grouped

    u = embeddings.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        )
    )
    out = exact_quantiles_grouped(u, "dim", "v", [lo, hi], decimals=6)
    return out.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("q_idx").cast("int").alias("q_idx"),
        "bound",
    )


def embedding_pca_project2(embeddings: DataFrame) -> DataFrame:
    """Closed-form PCA projection of the first TWO embedding dims onto
    their principal axes -- the hash-oracled member of the PCA family
    (``embedding_pca_project`` keeps the general top-k form, numpy
    parity in RECALL.json): a 2x2 covariance eigendecomposition is
    closed-form (theta = atan2(2b, a - c) / 2), so BOTH the component
    computation and the projection run as pure Spark expressions --
    zero collects, zero numpy, and the DuckDB oracle replays the
    identical arithmetic.

    Sign convention (the BLAS-arbitrary part, pinned): each
    eigenvector's x-component is made non-negative (ties: positive
    y), so the projection is fully deterministic cross-engine.

    Plan: ONE moment aggregate (n, sums, cross-moments -- 1 row),
    broadcast back over the corpus (bounded nested-loop by design),
    per-row projection expressions. Nothing scales beyond the scan.

    Emits the LONG form (vec_id, pc, value), pc 0 = major axis.
    """
    base = embeddings.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    mom = base.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    j = base.crossJoin(F.broadcast(mom))  # bounded: 1-row moment scalar
    mx = F.col("sx") / F.col("n")
    my = F.col("sy") / F.col("n")
    a = F.col("sxx") / F.col("n") - mx * mx
    c = F.col("syy") / F.col("n") - my * my
    b = F.col("sxy") / F.col("n") - mx * my
    th = F.atan2(F.lit(2.0) * b, a - c) / F.lit(2.0)
    cs = F.cos(th)
    sn = F.sin(th)
    s1 = F.when(
        (cs < 0) | ((cs == 0) & (sn < 0)), F.lit(-1.0)
    ).otherwise(F.lit(1.0))
    s2 = F.when(
        (-sn < 0) | ((sn == 0) & (cs < 0)), F.lit(-1.0)
    ).otherwise(F.lit(1.0))
    p1 = F.round(
        s1 * ((F.col("x") - mx) * cs + (F.col("y") - my) * sn), 6
    )
    p2 = F.round(
        s2 * ((F.col("y") - my) * cs - (F.col("x") - mx) * sn), 6
    )
    return j.select("vec_id", p1.alias("p1v"), p2.alias("p2v")).selectExpr(
        "vec_id", "stack(2, 0, p1v, 1, p2v) AS (pc, value)"
    )


def embedding_label_cohesion(embeddings: DataFrame) -> DataFrame:
    """Per-vector cosine to its LABEL's centroid -- the cluster-
    cohesion / labeling-QA readout (a mislabeled or boundary vector
    sits far from its class mean; per-label cohesion distributions
    rank label quality before training on them).

    Plan: one posexplode to the (label, dim) grain, a label-keyed mean
    aggregate (labels x d rows -- model-sized), broadcast back onto
    the exploded stream, one vec-keyed fold building dot/norms, a
    single cosine double per vector. Everything after the explode is
    keyed on (label, dim) or vec_id; nothing is ever all-pairs.

    Emits (vec_id, label, cos_to_centroid) rounded 4 (per-dim double
    sums drift ~1e-15 across engines' fold orders -- far inside the
    rounding).
    """
    ex = embeddings.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        ),
    )
    cent = ex.groupBy("label", "pos").agg(
        (F.sum("v") / F.count("*")).alias("m")
    )
    j = ex.join(F.broadcast(cent), ["label", "pos"])
    per_vec = j.groupBy("vec_id", "label").agg(
        F.sum(F.col("v") * F.col("m")).alias("dot"),
        F.sum(F.col("v") * F.col("v")).alias("v2"),
        F.sum(F.col("m") * F.col("m")).alias("m2"),
    )
    cos = F.col("dot") / (F.sqrt(F.col("v2")) * F.sqrt(F.col("m2")))
    return per_vec.select(
        "vec_id",
        "label",
        F.round(F.when((F.col("v2") > 0) & (F.col("m2") > 0), cos), 4).alias(
            "cos_to_centroid"
        ),
    )


def embedding_quantize_error_audit(embeddings: DataFrame) -> DataFrame:
    """Per-dimension symmetric int8 quantization ERROR AUDIT: scale each
    dimension by its corpus max-|x|, round to the 127-step grid, and
    report the reconstruction error -- the storage-planning readout
    run before shipping an embedding corpus at int8 (4x smaller, and
    THIS table says what it costs in precision, per dimension).

    One posexplode pass; the per-dim scale is an exact double max;
    q = round(127*x/scale) and the reconstruction delta are the same
    double chain on both engines, and per-element |err| rounds to an
    INTEGER at 1e-9 scale BEFORE the per-dim mean fold (the per-term
    rounding discipline -- a double sum over corpus-sized terms is
    fold-order dependent).

    Emits (dim, scale, max_abs_err, mean_abs_err).
    """
    elems = embeddings.select(
        F.posexplode("embedding").alias("dim", "x")
    ).select("dim", F.col("x").cast("double").alias("x"))
    scales = elems.groupBy("dim").agg(
        F.max(F.abs(F.col("x"))).alias("scale")
    )
    q = F.round(F.lit(127.0) * F.col("x") / F.col("scale"))
    err = F.abs(F.col("x") - q * F.col("scale") / F.lit(127.0))
    per_elem = elems.join(scales, "dim").filter(F.col("scale") > 0).select(
        "dim",
        "scale",
        F.round(err * F.lit(1e9)).cast("long").alias("err_e9"),
    )
    agg = per_elem.groupBy("dim", "scale").agg(
        F.count("*").alias("n"),
        F.max("err_e9").alias("mx"),
        F.sum("err_e9").alias("sm"),
    )
    return agg.select(
        F.col("dim").cast("int").alias("dim"),
        "scale",
        (F.col("mx").cast("double") / F.lit(1e9)).alias("max_abs_err"),
        (
            F.round(F.col("sm") / F.col("n").cast("double")).cast("long")
            / F.lit(1e9)
        ).alias("mean_abs_err"),
    )
