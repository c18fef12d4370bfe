"""Deduplication operators for LLM data pipelines (SURVEY.md M5):

- ``dedup_exact``          -- content-hash exact dedup.
- ``ngram_jaccard_pairs``  -- exact n-gram Jaccard near-dup pairs.
- ``dedup_minhash``        -- MinHash + LSH banding, Jaccard-verified.
- ``dedup_simhash``        -- 64-bit SimHash + band blocking, Hamming-verified.
- ``embedding_neardup_pairs`` -- cosine near-dup pairs, blocked on label.

Design for 100 TB:
- Signatures (minhash mins, simhash bit sums) are computed as *plain
  aggregations* over exploded tokens/shingles -- map-side partial agg,
  one shuffle on doc_id, never a per-doc collect_list of raw shingles.
- Candidate generation joins on (band, band_hash) buckets -- the only
  all-pairs work is within buckets, which LSH keeps tiny.
- Verification (exact Jaccard / Hamming) runs only on candidates.
- All hashing is seeded/deterministic (xxhash64 + fixed perm tables).

Clusters from pairs come from ``graph.connected_components``; the graph
analytics over pair graphs live in ``operators/graph.py``.
"""

from __future__ import annotations

import random
from functools import reduce as _reduce
from operator import add as _add

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import grams_expr, tokens_col, words_exploded
from .graph import connected_components

# Modulus / bounds for the MinHash permutation family
#   h' = (a*h + b) mod P  with h, a, b < 2^30 and P = 2^31 - 1,
# so a*h + b < 2^60 + 2^30 never overflows signed 64-bit (ANSI-safe).
_MERSENNE_P = (1 << 31) - 1
_HASH_BOUND = 1 << 30


def _perm_tables(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _HASH_BOUND), rng.randrange(0, _HASH_BOUND))
        for _ in range(num_perm)
    ]


def shingles(documents: DataFrame, n: int = 3, hashed: bool = False) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).
    Docs with fewer than n tokens produce no shingles.

    ``hashed=True`` replaces the shingle string with its xxhash64 --
    the join/aggregation key the sketch operators actually need. An
    8-byte fixed-width key shuffles and compares far cheaper than a
    multi-word string (measured ~2.5x on the inverted-index join), at
    a 64-bit collision risk that stays negligible until corpora reach
    billions of DISTINCT shingles (birthday bound ~2^32)."""
    from ..sources.tables import spread_scan

    toks = tokens_col("text")
    # tokenize + n-gram explode is the corpus-heaviest map work in the
    # dedup/graph family and runs ABOVE the scan: spread the
    # single-split fixture scan so it parallelizes (guide §2.5
    # input-skew guard; no-op when the scan already has >= core splits)
    df = (
        spread_scan(documents.select("doc_id", "text"), "doc_id")
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= n)
    )
    sh = F.explode(F.expr(f"array_distinct({grams_expr(n)})"))
    out = df.select("doc_id", sh.alias("shingle"))
    if hashed:
        out = out.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    return out


def df_cap_shingles(sh: DataFrame, df_cap: int) -> DataFrame:
    """Drop shingles whose corpus document frequency exceeds
    ``df_cap`` from a (doc_id, shingle) stream.

    THE scale guard for every inverted-index shingle join: join work
    is sum over shingles of df^2, so a handful of stop-phrase shingles
    (df in the millions at 100 TB) dominates everything; capping df
    bounds per-shingle join fan-out at df_cap^2. The hot list is tiny
    by construction (Zipf tail above the cap), so it broadcasts and
    the filter is a map-side anti-join -- the shingle stream itself
    never shuffles here, and the df aggregation runs map-side partial
    counts, which is exactly what makes counting the hot keys safe
    where a window-count over them would not be."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup on full-content hash: one representative (min
    doc_id) per distinct text plus the duplicate count. Single
    hash aggregation; at 100 TB this is the cheapest possible dedup
    (shuffle carries one row per distinct hash)."""
    return (
        documents.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def shingle_sizes(sh: DataFrame) -> DataFrame:
    return sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))


def _shingle_overlaps(documents: DataFrame, n: int, df_cap: int | None) -> DataFrame:
    """(doc_b, doc_a, common, na, nb) for every doc pair sharing at
    least one hashed n-gram shingle: ``common`` shared shingles, ``na``
    and ``nb`` the two docs' shingle counts, doc_a < doc_b. The exact
    pair operators (``ngram_jaccard_pairs``, ``containment_pairs``)
    differ only in the score they take from it.

    Inverted-index join: docs sharing a shingle meet exactly once per
    shared shingle, on the 8-byte shingle hash with a shuffled-hash
    hint -- equality-only matching never benefits from sort-merge's
    ordering, and skipping both sorts is ~2.5x on this shape. With
    ``df_cap`` the sizes and the intersections both count only the
    capped shingle universe (``df_cap_shingles``)."""
    # lazy-checkpoint the hashed shingle stream: three consumers (the
    # self-join's reused exchange + the sizes aggregate, plus df-cap
    # counting when enabled) otherwise each replay the tokenize +
    # explode + xxhash64 chain (r12, measured -15% on the pair stage)
    sh = shingles(documents, n, hashed=True).localCheckpoint(eager=False)
    if df_cap is not None:
        sh = df_cap_shingles(sh, df_cap)
    sizes = shingle_sizes(sh)
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b.hint("shuffle_hash"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return common.join(na, "doc_a").join(nb, "doc_b")


def ngram_jaccard_pairs(
    documents: DataFrame, n: int = 3, threshold: float = 0.8, df_cap: int | None = None
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.

    Inverted-index join: docs sharing a shingle meet exactly once per
    shared shingle; count(shared)/(|A|+|B|-shared) is exact Jaccard.
    Quadratic in per-shingle document frequency -- at scale, pass
    ``df_cap`` (see ``df_cap_shingles``) or use ``dedup_minhash``
    below; with ``df_cap=None`` (the default, kept so the exactness
    oracle stays exact) this operator is the baseline the sketches
    are verified against. With a cap, Jaccard is computed exactly
    over the capped shingle universe: sizes and intersections both
    exclude the dropped stop-phrase shingles, so near-dup decisions
    rest on the discriminative shingles -- the standard
    contamination/near-dup posture.

    Join mechanics are ``_shingle_overlaps``'. High-frequency
    shingles are exactly AQE's skew-join case; leave AQE on.
    """
    jac = F.col("common") * 1.0 / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        _shingle_overlaps(documents, n, df_cap)
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def minhash_signatures(
    documents: DataFrame, num_perm: int = 128, n: int = 3, seed: int = 42
) -> DataFrame:
    """(doc_id, s0..s{num_perm-1}) MinHash signature columns.

    Each signature slot is min((a_i*h + b_i) mod P) over the doc's
    shingle hashes -- expressed as num_perm plain MIN aggregates over
    the exploded shingle stream, so Spark runs map-side partial mins
    and shuffles one row per doc. No arrays of raw shingles are ever
    materialized (100 TB posture). ``n_shingles`` rides along in the
    same pass (one extra COUNT) so Jaccard verification never needs a
    separate size-aggregation scan of the corpus.
    """
    sh = shingles(documents, n, hashed=True)
    return minhash_signatures_from_shingles(sh, num_perm, seed)


def minhash_signatures_from_shingles(
    sh: DataFrame, num_perm: int = 128, seed: int = 42
) -> DataFrame:
    """Signature aggregation over a pre-built hashed (doc_id, shingle)
    stream -- split out so callers that also need the shingle stream
    for verification (``dedup_minhash``) can build it ONCE and share
    the materialization.

    Execution shape (measured, not guessed): the direct form -- 128
    ``MIN((a_i*h+b_i) mod P)`` aggregates -- builds a HashAggregate
    with 129 buffer fields, which exceeds
    ``spark.sql.codegen.maxFields`` and silently drops the whole
    plan out of whole-stage codegen into interpreted row mode
    (raising the limit does not help: the generated method then
    blows the JIT size cap). So the hot inner product runs as an
    Arrow kernel instead: per batch, one vectorized
    ``(shingles x num_perm)`` modmul + per-doc partial min in numpy,
    then a JVM final MIN aggregate over the batch partials --
    ~1.4x on the whole sketch at sf0.1. Partial aggregation
    semantics are preserved (the kernel emits one row per doc per
    Arrow batch, so shuffle volume stays ~corpus docs, never the
    shingle stream), and the arithmetic is the SAME int64
    ``(a*h + b) mod P`` with a*h < 2^60 -- exact in both numpy and
    the SQL expression form, asserted bit-equal in tests.
    """
    import numpy as np
    import pandas as pd

    perms = _perm_tables(num_perm, seed)
    A = np.array([a for a, _ in perms], dtype=np.int64)
    B = np.array([b for _, b in perms], dtype=np.int64)
    s_cols = [f"s{i}" for i in range(num_perm)]
    schema = (
        "doc_id long, n_part long, "
        + ", ".join(f"{c} long" for c in s_cols)
    )

    def partial_mins(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            h = pdf["shingle"].to_numpy(np.int64) % _HASH_BOUND
            m = (h[:, None] * A[None, :] + B[None, :]) % _MERSENNE_P
            g = pd.DataFrame(m, columns=s_cols)
            g["doc_id"] = pdf["doc_id"].to_numpy()
            by = g.groupby("doc_id")
            agg = by.min()
            agg["n_part"] = by.size()
            yield agg.reset_index()[["doc_id", "n_part"] + s_cols]

    part = sh.mapInPandas(partial_mins, schema)
    return part.groupBy("doc_id").agg(
        *[F.min(c).alias(c) for c in s_cols],
        F.sum("n_part").alias("n_shingles"),
    )


def band_struct_array(num_perm: int, bands: int):
    """The (band_id, band_hash) struct array expression over signature
    columns s0..s{num_perm-1} -- factored out so batch candidate
    generation and the persisted incremental index hash bands
    IDENTICALLY (a probe against an index built with a different band
    hash silently finds nothing)."""
    rows = num_perm // bands
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                F.xxhash64(
                    F.concat_ws(",", *[f"s{j * rows + r}" for r in range(rows)])
                ).alias("band_hash"),
            )
            for j in range(bands)
        ]
    )


def minhash_candidates(
    sig: DataFrame,
    num_perm: int = 128,
    bands: int = 16,
    bucket_cap: int = 1000,
    sub_bits: int = 16,
) -> DataFrame:
    """LSH banding via bucket grouping: hash each band of
    rows_per_band signature slots, group docs by (band, band_hash),
    and emit ordered pairs within each bucket.

    Grouping (collect the bucket, explode its pairs) instead of a
    band self-join means the signature aggregation is consumed ONCE:
    the self-join form duplicates the whole 128-min subtree into both
    join sides (Spark reuses neither plan fragments nor exchanges
    across them), doubling corpus scans and signature work. Pairs
    carry both docs' shingle counts (``na``/``nb``) so Jaccard
    verification needs no separate size join.

    Scale guard (mirrors ``dedup_simhash``): a boilerplate-heavy
    corpus concentrates docs in hot (band, band_hash) cells, and both
    the collected membership array and the within-bucket pair explode
    are quadratic-class hazards there. Cells over ``bucket_cap``
    members split deterministically on ``sub_bits`` bits of the NEXT
    band's hash -- near-dups stay together exactly when that band
    would also collide (the loss mirrors requiring a second band),
    and exact duplicates, which share every band hash, never split
    apart. The census is a windowed count on the same (band_id,
    band_hash) shuffle the bucket grouping needs anyway; rows are
    fixed-width (doc_id, counts, hashes), so the window buffer stays
    small even for hot cells."""
    from pyspark.sql import Window

    rows = num_perm // bands
    bh = [
        F.xxhash64(F.concat_ws(",", *[f"s{j * rows + r}" for r in range(rows)]))
        for j in range(bands)
    ]
    band_cols = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                bh[j].alias("band_hash"),
                F.pmod(bh[(j + 1) % bands], F.lit(1 << sub_bits))
                .cast("int")
                .alias("sub"),
            )
            for j in range(bands)
        ]
    )
    banded = sig.select("doc_id", "n_shingles", F.explode(band_cols).alias("b")).select(
        "doc_id", "n_shingles", "b.band_id", "b.band_hash", "b.sub"
    )
    w = Window.partitionBy("band_id", "band_hash")
    buckets = (
        banded.withColumn("bsz", F.count("*").over(w))
        .withColumn(
            "subb",
            F.when(F.col("bsz") > bucket_cap, F.col("sub")).otherwise(F.lit(0)),
        )
        .groupBy("band_id", "band_hash", "subb")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_shingles"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = F.explode(
        F.expr(
            "flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds)), y -> "
            "struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
            "x.n_shingles AS na, y.n_shingles AS nb))))"
        )
    ).alias("p")
    return (
        buckets.select(pairs)
        .select("p.doc_a", "p.doc_b", "p.na", "p.nb")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def dedup_minhash(
    documents: DataFrame,
    num_perm: int = 128,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact Jaccard.

    shingle -> minhash (partial-agg mins) -> band -> bucket self-join
    -> exact-Jaccard verification of candidates only. With 16 bands x
    8 rows, P(candidate | j=0.9) ~ 0.9999; the final filter removes
    LSH false positives, so output precision is exact and only recall
    is probabilistic.

    The signature aggregation is consumed exactly once (bucket-group
    candidate generation, sizes riding in the candidate pairs), and
    the hashed shingle stream -- shared by the signature build and
    BOTH sides of the verification join -- is localCheckpoint'ed, so
    the corpus is scanned and tokenized ONCE; the two verify-join
    probes replay the narrow (doc_id, shingle int64) materialization
    instead of re-running explode+xxhash64. A band self-join with a
    separate size lookup would cost 6 corpus scans and run the
    128-min aggregation twice.
    """
    sh = shingles(documents, n, hashed=True).localCheckpoint(eager=False)
    # Eager-checkpoint the signature table (doc_id x num_perm mins --
    # corpus-row-bounded, narrow): the candidate subtree's band
    # explode + bucket group then replays the cached signatures
    # instead of re-running the 128-min aggregation over the shingle
    # stream when AQE re-plans the downstream joins.
    sig = minhash_signatures_from_shingles(sh, num_perm, seed).localCheckpoint()
    cand = minhash_candidates(sig, num_perm, bands)
    # Candidate-restricted intersection: expand each candidate pair by
    # doc_a's shingles, then equi-join doc_b's shingles on (doc_b,
    # shingle). Work is sum over candidates of |shingles(doc_a)| --
    # proportional to the LSH candidate set, NOT the full co-shingle
    # pair expansion (which would make the sketch path as expensive as
    # the exact ngram_jaccard_pairs baseline and defeat LSH at scale).
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common") * 1.0 / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def simhash_signatures(
    documents: DataFrame, bands: int = 4
) -> DataFrame:
    """64-bit SimHash per doc as ``bands`` x 16-bit CHUNKS: for each
    bit position, sum +cnt/-cnt of token-hash bits weighted by term
    frequency; bit = (sum > 0). The 64 per-bit sums fold as partial
    aggregates, one shuffle row per doc.

    Execution shape (the minhash_signatures_from_shingles lesson,
    measured again here): 64 ``SUM(CASE ...)`` accumulators in one
    SQL aggregate exceed the whole-stage-codegen method budget and
    drop the hot aggregate into interpreted row mode -- 2.6x slower
    at sf0.1. So the JVM computes only the 4 md5-derived 16-bit
    chunks per (doc, token) row (codegen-friendly), and a vectorized
    Arrow kernel unpacks bits and folds per-batch partial +/-cnt sums
    in numpy; a final JVM SUM per doc merges batch partials. Partial
    aggregation semantics are preserved (one row per doc per Arrow
    batch crosses the shuffle) and the arithmetic is exact int64 --
    bit-identical to the SQL-expression form. The single-split
    fixture scan is spread before the token explode (guide §2.5
    input-skew guard; no-op at production split counts).

    The hash family is md5-derived (band j's 16 token-hash bits =
    hex chars 4j+1..4j+4 of md5(word)) -- the repo's cross-engine
    hash discipline, so a DuckDB oracle reproduces every fingerprint
    bit exactly (xxhash64, the previous family, has no DuckDB
    mirror). Emitting the chunks as an ``array<int>`` instead of one
    packed 64-bit long keeps every value a nonnegative 16-bit int:
    no sign-extension trap on either engine's right-shift, and
    Hamming distance folds per chunk.
    """
    import numpy as np
    import pandas as pd

    from ..sources.tables import spread_scan

    width = 64 // bands
    assert width == 16 and bands * 4 <= 32, "md5 supplies 32 hex chars"
    toks = tokens_col("text")
    tf = spread_scan(documents.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.explode(toks).alias("word")
    ).groupBy("doc_id", "word").agg(F.count("*").alias("cnt"))
    hs = tf.select(
        "doc_id",
        "cnt",
        *[
            F.conv(F.substring(F.md5("word"), j * 4 + 1, 4), 16, 10)
            .cast("int")
            .alias(f"h{j}")
            for j in range(bands)
        ],
    )
    b_cols = [f"b{j}_{k}" for j in range(bands) for k in range(width)]

    def bit_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cnt = pdf["cnt"].to_numpy(np.int64)
            cols = {}
            for j in range(bands):
                h = pdf[f"h{j}"].to_numpy(np.int64)
                for k in range(width):
                    cols[f"b{j}_{k}"] = np.where(
                        ((h >> k) & 1).astype(bool), cnt, -cnt
                    )
            g = pd.DataFrame(cols)
            g["doc_id"] = pdf["doc_id"].to_numpy()
            # dropna=False: SQL GROUP BY keeps a null-key group; the
            # pandas default silently drops it (ADVICE r12)
            yield g.groupby("doc_id", sort=False, dropna=False).sum().reset_index()[
                ["doc_id"] + b_cols
            ]

    # derive the key's type from the input so non-bigint doc_id
    # callers keep the SQL aggregate's type-agnostic contract
    id_type = documents.schema["doc_id"].dataType.simpleString()
    per_doc = hs.mapInPandas(
        bit_partials,
        f"doc_id {id_type}, " + ", ".join(f"{c} long" for c in b_cols),
    ).groupBy("doc_id").agg(*[F.sum(c).alias(c) for c in b_cols])
    chunks = [
        _reduce(
            _add,
            [
                F.when(
                    F.col(f"b{j}_{k}") > 0, F.lit(1 << k).cast("int")
                ).otherwise(F.lit(0).cast("int"))
                for k in range(width)
            ],
        )
        for j in range(bands)
    ]
    return per_doc.select("doc_id", F.array(*chunks).alias("cs"))


def dedup_simhash(
    documents: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bucket_cap: int = 1000,
    sub_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit fingerprint into
    ``bands`` chunks (pigeonhole: hamming <= bands-1 guarantees a
    colliding band; default 4 bands covers max_hamming=3 exactly),
    band-bucket grouping (collect each bucket, explode its pairs),
    verify with bit_count(xor) <= max_hamming.

    Bucket grouping instead of a band self-join consumes the 64-sum
    fingerprint aggregation exactly ONCE -- the self-join form
    duplicates that whole subtree (and its corpus scan) into both
    sides. The fingerprints ride inside the bucket structs, so
    Hamming verification is pure expression work on the exploded
    pairs: the entire operator is one linear pipeline with two
    shuffles (fingerprint agg, bucket group) and zero joins.

    Scale guard: boilerplate-heavy corpora concentrate in a few hot
    (band, chunk) cells, and the within-bucket pair explode is
    quadratic in cell population. Cells over ``bucket_cap`` members
    split deterministically on ``sub_bits`` bits of the fingerprint
    drawn from the NEXT band's chunk (near-dups agree on those bits
    whenever that band would also collide, so the loss mirrors
    requiring a second band -- and exact duplicates, which share the
    whole fingerprint, never split apart). The census is a windowed
    count over the banded rows: same (band_id, chunk) shuffle the
    bucket grouping needs anyway -- partitioning on a subset of the
    group keys satisfies the aggregation's distribution, so no second
    shuffle -- and the rows are 16-byte (doc_id, simhash) pairs, so
    the window buffer is tiny even for hot cells."""
    from pyspark.sql import Window

    width = 64 // bands
    sig = simhash_signatures(documents, bands=bands)
    sub_mask = F.lit((1 << min(sub_bits, width)) - 1)
    chunk = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                F.element_at("cs", j + 1).alias("chunk"),
                F.element_at("cs", ((j + 1) % bands) + 1)
                .bitwiseAND(sub_mask)
                .alias("sub"),
            )
            for j in range(bands)
        ]
    )
    banded = sig.select("doc_id", "cs", F.explode(chunk).alias("c")).select(
        "doc_id", "cs", "c.band_id", "c.chunk", "c.sub"
    )
    w = Window.partitionBy("band_id", "chunk")
    buckets = (
        banded.withColumn("bsz", F.count("*").over(w))
        .withColumn(
            "subb",
            F.when(F.col("bsz") > bucket_cap, F.col("sub")).otherwise(F.lit(0)),
        )
        .groupBy("band_id", "chunk", "subb")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "cs"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = F.explode(
        F.expr(
            "flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds)), y -> "
            "struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
            "x.cs AS cs_a, y.cs AS cs_b))))"
        )
    ).alias("p")
    # Per-chunk XOR popcounts fold to the 64-bit Hamming distance --
    # every operand is a nonnegative 16-bit int on both engines.
    ham = F.aggregate(
        F.zip_with(
            "cs_a", "cs_b", lambda a, b: F.bit_count(a.bitwiseXOR(b))
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        buckets.select(pairs)
        .select("p.doc_a", "p.doc_b", "p.cs_a", "p.cs_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """Cosine near-dup pairs over embedding vectors, blocked on the
    ``label`` column (the generic blocked-join pattern: at 100 TB the
    block key would be a coarse LSH bucket or cluster id -- see
    ``similarity.ann_lsh`` -- never an unblocked cross join)."""
    from ..functions.vectors import l2_norm, vec_dot

    # Norms are hoisted OUT of the pair join: higher-order-function
    # expressions are interpreted (not codegen'd), so computing them
    # once per vector instead of once per pair removes 2/3 of the
    # per-pair array work -- O(N) norm passes vs O(pairs) inside the
    # quadratic block.
    a = embeddings.select(
        F.col("vec_id").alias("vec_a"),
        "label",
        F.col("embedding").alias("ea"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    b = embeddings.select(
        F.col("vec_id").alias("vec_b"),
        "label",
        F.col("embedding").alias("eb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    cos = vec_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", F.round("cos_sim", 4).alias("cos_sim"))
    )


def dedup_apply(documents: DataFrame) -> DataFrame:
    """Materialize the deduplicated corpus: keep exactly one document
    (lowest doc_id) per distinct text. The rank-window form keeps the
    payload column moving through ONE shuffle keyed on the content
    hash; the keep-list + join form would shuffle the corpus twice.
    At 100 TB the hash key distributes uniformly by construction, so
    no skew handling is needed."""
    from pyspark.sql import Window

    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        documents.withColumn("content_hash", F.md5("text"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "text")
    )


def embedding_lsh_buckets(
    embeddings: DataFrame,
    n_planes: int = 32,
    bands: int = 8,
    dim: int = 64,
    seed: int = 7,
    bucket_cap: int = 1000,
) -> DataFrame:
    """Sign-LSH band buckets with a population cap: one row per
    (band_id, bucket, subb) holding the sorted (vec_id, emb) member
    structs. Buckets over ``bucket_cap`` members split deterministically
    on the sign bits of the NEXT FOUR bands' buckets -- bits the
    signature already contains, so the split costs zero extra dot
    products (mirror of ``dedup_simhash``'s next-band sub-banding, and
    the same recall contract: near-dups stay together in a split bucket
    exactly when those bands would also collide, and exact duplicates,
    sharing every sign bit, never separate).

    The population census is a windowed count over the banded rows:
    the same (band_id, bucket) shuffle the member-collect needs anyway
    (grouping on a superset of the window keys adds no exchange), and
    the window's per-partition buffer spills to disk, so a hot bucket
    costs temporary disk instead of one unbounded in-memory aggregation
    row. One corpus scan, one vector shuffle, total. Exposed separately
    so tests can assert the bucket-size bound directly."""
    return (
        _lsh_keyed(embeddings, n_planes, bands, dim, seed, bucket_cap)
        .groupBy("band_id", "bucket", "subb")
        .agg(
            F.array_sort(F.collect_list(F.struct("vec_id", "emb", "inv"))).alias(
                "ms"
            )
        )
        .filter(F.size("ms") > 1)
    )


def _lsh_keyed(
    embeddings: DataFrame,
    n_planes: int,
    bands: int,
    dim: int,
    seed: int,
    bucket_cap: int,
) -> DataFrame:
    """Banded sign-LSH rows with the capped cell key: (vec_id, emb,
    inv, band_id, bucket, subb). See ``embedding_lsh_buckets`` for the
    census/sub-split contract.

    Signature bits, reciprocal norms, and the band explode run as ONE
    Arrow-batched numpy kernel (``mapInPandas``: a (batch x dim) @
    (dim x n_planes) GEMM per batch) -- the Catalyst HOF form costs
    ~1 microsecond per multiply-add, five orders of magnitude off BLAS
    throughput, for a kernel that is pure dense arithmetic. The census
    window and cell grouping stay expression-side, so pushdown and the
    one-shuffle plan shape are unchanged."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    from .similarity import _hyperplanes

    width = n_planes // bands
    planes = np.array(_hyperplanes(n_planes, dim, seed)).T  # dim x planes
    n_sub = min(4, bands - 1)

    def band_rows(batches):
        for pdf in batches:
            em = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            inv = 1.0 / np.sqrt((em * em).sum(axis=1))
            bits = (em @ planes) > 0  # n x planes
            # pack each band's `width` bits into its bucket id
            weights = 1 << np.arange(width)
            buckets = np.stack(
                [bits[:, j * width : (j + 1) * width] @ weights for j in range(bands)],
                axis=1,
            )  # n x bands
            # sub key: next n_sub bands' buckets, little-endian packed
            subs = np.zeros_like(buckets)
            for k in range(1, n_sub + 1):
                subs += np.roll(buckets, -k, axis=1) << ((k - 1) * width)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), bands),
                    "emb": np.repeat(pdf["embedding"].to_numpy(), bands),
                    "inv": np.repeat(inv, bands),
                    "band_id": np.tile(np.arange(bands, dtype=np.int32), n),
                    "bucket": buckets.reshape(-1).astype(np.int32),
                    "sub": subs.reshape(-1).astype(np.int32),
                }
            )

    banded = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).mapInPandas(
        band_rows,
        "vec_id long, emb array<double>, inv double, "
        "band_id int, bucket int, sub int",
    )
    w = Window.partitionBy("band_id", "bucket")
    return (
        banded.withColumn("bsz", F.count("*").over(w))
        .withColumn(
            "subb",
            F.when(F.col("bsz") > bucket_cap, F.col("sub")).otherwise(F.lit(0)),
        )
        .select("vec_id", "emb", "inv", "band_id", "bucket", "subb")
    )


def embedding_lsh_pairs(
    embeddings: DataFrame,
    threshold: float = 0.85,
    n_planes: int = 32,
    bands: int = 8,
    dim: int = 64,
    seed: int = 7,
    bucket_cap: int = 1000,
) -> DataFrame:
    """Embedding near-dup pairs via sign-LSH bucketing -- the
    blocking-free complement of ``embedding_neardup_pairs`` (which
    needs a label/blocking column): random-hyperplane band buckets
    generate candidates, exact cosine verifies them, so precision is
    exact and only recall is probabilistic (same contract as
    ``dedup_minhash``).

    Same consumed-once bucket-grouping shape as ``minhash_candidates``:
    signatures are computed in the corpus scan, members collect per
    (band, bucket), ordered pairs explode within buckets -- never a
    band self-join (which would duplicate the signature subtree), and
    vectors ride the bucket rows so verification needs no corpus
    re-join. Deterministic for fixed seed; recall vs the exact
    all-pairs baseline is asserted in tests, rows-only checked by the
    driver (the hyperplanes are not expressible in the SQL oracle).

    Scale guard (sign buckets are coarse -- 2^(n_planes/bands) cells
    per band, so a bucket holds an N/cells slice of the corpus WITH
    full vectors in one aggregation row): buckets whose population
    exceeds ``bucket_cap`` split deterministically on the next four
    bands' sign bits (already in the signature -- zero extra dot
    products), multiplying the cell count for hot buckets by up to
    2^(4 * n_planes/bands). Similar vectors share those bits with the
    usual sign-LSH probability, so the recall loss is confined to
    oversized buckets and behaves like requiring a run of adjacent
    bands there; exact duplicates never separate. Census is a windowed
    count on the one vector shuffle (no second scan, no join) -- see
    ``embedding_lsh_buckets``.

    The within-cell quadratic verify is Arrow-batched numpy
    (``applyInPandas`` per cell: one n x n GEMM against the hoisted
    reciprocal norms) -- the sanctioned vectorized path for dense
    numeric kernels; the Catalyst higher-order-function form evaluates
    the 64-multiply dot interpreted per element, ~100x slower per
    candidate. ``bucket_cap`` bounds n, so each GEMM is a bounded
    in-memory block regardless of corpus size.
    """
    import numpy as np
    import pandas as pd

    keyed = _lsh_keyed(embeddings, n_planes, bands, dim, seed, bucket_cap)

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "cos_sim": []}
            ).astype({"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"})
        pdf = pdf.sort_values("vec_id")
        em = np.vstack(pdf["emb"].to_numpy())
        inv = pdf["inv"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        cos = (em @ em.T) * np.outer(inv, inv)
        ia, ib = np.triu_indices(n, k=1)
        keep = np.floor(cos[ia, ib] * 10**4 + 0.5) / 10**4
        mask = keep >= threshold
        return pd.DataFrame(
            {
                "vec_a": ids[ia[mask]],
                "vec_b": ids[ib[mask]],
                "cos_sim": keep[mask],
            }
        )

    return (
        keyed.groupBy("band_id", "bucket", "subb")
        .applyInPandas(score_cell, "vec_a long, vec_b long, cos_sim double")
        .dropDuplicates(["vec_a", "vec_b"])
    )


# ------------------------------------------------------------------
# Incremental dedup: new batches against a PERSISTED signature index
# (the production shape for a growing corpus -- a 100 TB corpus is
# never re-sketched per ingest; only the new batch is).


def build_minhash_index(
    spark,
    documents: DataFrame,
    index_name: str,
    num_perm: int = 128,
    bands: int = 16,
    n: int = 3,
    seed: int = 42,
    buckets: int = 8,
    source_fp: str | None = None,
) -> None:
    """Persist the corpus LSH index as two bucketed warehouse tables:

    - ``{index_name}_bands``: (band_id, band_hash, doc_id, n_shingles),
      bucketed+sorted by band_hash -- the posting lists an incremental
      probe equi-joins WITHOUT shuffling the index side.
    - ``{index_name}_sigs``: (doc_id, sig array, n_shingles),
      bucketed+sorted by doc_id -- the signature store the verify step
      joins on candidate corpus ids, again shuffle-free on the index.

    Pay the sketch + bucketed write once per corpus generation; every
    subsequent batch shuffles only itself -- and, since round 12,
    once per generation means across SESSIONS too: a fresh session
    adopts the on-disk staging by external registration instead of
    rebuilding (``sources.staging.ensure_staged_table``, VERDICT r11
    #4). ``source_fp`` invalidates a stale index when the underlying
    fixture regenerates (same marker contract as
    ``relational.join_bucketed_colocated``)."""
    from ..sources.staging import ensure_staged_table

    sig = minhash_signatures(documents, num_perm, n, seed)
    banded = sig.select(
        "doc_id", "n_shingles", F.explode(band_struct_array(num_perm, bands)).alias("b")
    ).select("b.band_id", "b.band_hash", "doc_id", "n_shingles")
    sigs = sig.select(
        "doc_id",
        F.array(*[f"s{i}" for i in range(num_perm)]).alias("sig"),
        "n_shingles",
    )
    specs = (
        (f"{index_name}_bands", banded, "band_hash"),
        (f"{index_name}_sigs", sigs, "doc_id"),
    )
    for name, df, key in specs:
        ensure_staged_table(
            spark,
            name,
            (lambda df=df: df),
            source_fp,
            bucket_cols=[key],
            buckets=buckets,
        )


def dedup_incremental_minhash(
    spark,
    new_docs: DataFrame,
    index_name: str,
    num_perm: int = 128,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against the persisted corpus
    index: sketch the batch only, LSH-probe the bucketed posting
    lists, and score candidates with signature-estimated Jaccard
    (mean slot agreement -- the unbiased MinHash estimator). The
    corpus is never re-read: both index joins are bucketed on the
    index side, so only batch-derived rows shuffle.

    Emits (doc_a=new batch id, doc_b=corpus id, est_jaccard).
    Precision/recall are probabilistic on BOTH ends here (no exact
    re-verify -- the corpus text is out of reach by design), which is
    the standard production trade: the estimator's stderr at 128
    permutations is ~sqrt(j(1-j)/128) <= 0.045. Candidate generation
    is EXACTLY the batch-mode banding (shared band-hash expression),
    asserted equivalent in tests/test_dedup.py.

    Batch signatures come from ``minhash_signatures_rowlocal`` — the
    ingest-shaped kernel (per-row numpy mins, state bounded by doc
    length; bit-identical to the aggregation path, asserted in
    tests/test_dedup.py) — because an arriving batch is naturally
    row-per-doc and small relative to the corpus; the 128-aggregate
    form stays the right shape for sketching whole corpora."""
    sig = minhash_signatures_rowlocal(new_docs, num_perm, n, seed).select(
        "doc_id", "sig"
    )
    return probe_minhash_index(spark, sig, index_name, num_perm, bands, threshold)


def band_struct_array_from_sig(num_perm: int, bands: int):
    """(band_id, band_hash) struct array over a signature ARRAY column
    ``sig`` -- the same string-concat xxhash64 as ``band_struct_array``
    computes over s0..s{n-1} columns (concat_ws implicitly casts the
    bigints to identical strings), so array-form and column-form
    signatures land in the same buckets; equivalence is covered by the
    incremental-vs-batch candidate test."""
    rows = num_perm // bands
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("sig")[j * rows + r].cast("string")
                            for r in range(rows)
                        ],
                    )
                ).alias("band_hash"),
            )
            for j in range(bands)
        ]
    )


def probe_minhash_index(
    spark,
    sigs: DataFrame,
    index_name: str,
    num_perm: int = 128,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """LSH-probe the persisted index with pre-computed signatures
    (doc_id, sig array<long>): band the probe side, equi-join the
    bucketed posting lists, estimate Jaccard from slot agreement.
    Shared by the batch incremental op and the streaming ingest path
    (row-local signatures in both — one batch or microbatch at a
    time); both index joins stay exchange-free on the
    index side."""
    new_banded = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        F.explode(band_struct_array_from_sig(num_perm, bands)).alias("b"),
    ).select("doc_a", "sig_a", "b.band_id", "b.band_hash")
    idx_bands = spark.table(f"{index_name}_bands")
    cand = (
        new_banded.join(idx_bands, ["band_id", "band_hash"])
        .filter(F.col("doc_a") != F.col("doc_id"))
        .select("doc_a", "sig_a", F.col("doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    idx_sigs = spark.table(f"{index_name}_sigs").select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x)
    )
    est = matches / F.lit(float(num_perm))
    return (
        cand.join(idx_sigs, "doc_b")
        .select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def dedup_incremental_apply(
    spark,
    new_docs: DataFrame,
    index_name: str,
    num_perm: int = 128,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """The ingest decision the incremental probe exists for: keep only
    the new-batch docs with NO near-duplicate already in the corpus
    index. One left-anti join of the batch against the probe's matched
    doc_a set -- the matched set is candidate-bounded (tiny relative
    to the batch by LSH construction), so the anti-join broadcasts.
    Survivors keep their full rows, ready to be appended to the corpus
    and sketched into the index for the next batch."""
    matched = (
        dedup_incremental_minhash(
            spark, new_docs, index_name, num_perm, bands, n, threshold, seed
        )
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    return new_docs.join(F.broadcast(matched), "doc_id", "left_anti")


def minhash_signatures_rowlocal(documents: DataFrame, num_perm: int = 128,
                                n: int = 3, seed: int = 42) -> DataFrame:
    """MinHash signatures computed ROW-LOCALLY: shingle hashes stay
    inside each doc's row (a JVM expression builds the distinct-gram
    xxhash64 array), and a numpy kernel takes the per-row array to
    num_perm mins in one broadcasted (perms x shingles) matrix op.

    Same output, bit for bit, as ``minhash_signatures``' aggregation
    path (asserted in tests) -- the difference is the execution shape:
    the aggregation form is right for BATCH corpora (map-side partial
    mins, no per-doc arrays in the shuffle); this form is right for
    STREAMING ingest, where each arriving doc is naturally one row,
    per-row state is bounded by doc length, and a streaming
    aggregation would needlessly hold per-doc state in the store.
    xxhash64 runs JVM-side so both forms hash identical values --
    Python cannot reproduce Spark's xxhash64.

    Emits (doc_id, sig array<long>, n_shingles)."""
    import numpy as np
    import pandas as pd

    toks = tokens_col("text")
    grams = F.expr(f"array_distinct({grams_expr(n)})")
    hashed = (
        documents.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.transform(grams, lambda g: F.xxhash64(g)).alias("hs"),
        )
    )
    perms = _perm_tables(num_perm, seed)
    A = np.array([a for a, _ in perms], dtype=np.int64)[:, None]
    B = np.array([b for _, b in perms], dtype=np.int64)[:, None]

    def kernel(batches):
        for pdf in batches:
            ids, sigs, counts = [], [], []
            for doc_id, hs in zip(pdf["doc_id"], pdf["hs"]):
                h = np.asarray(hs, dtype=np.int64) % _HASH_BOUND
                # a*h + b < 2^60 + 2^30: exact in int64, same as the
                # SQL expression the aggregation path evaluates
                sig = ((A * h[None, :] + B) % _MERSENNE_P).min(axis=1)
                ids.append(doc_id)
                sigs.append(sig)
                counts.append(len(h))
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "sig": sigs,
                 "n_shingles": pd.Series(counts, dtype="int64")}
            )

    return hashed.mapInPandas(kernel, "doc_id long, sig array<long>, n_shingles long")


def dedup_edit_distance(
    documents: DataFrame,
    prefix_len: int = 24,
    k: int = 2,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact edit-distance near-dup pairs over a normalized key string
    (the lowercased first ``prefix_len`` chars — the "title line" of
    each document), found WITHOUT the all-pairs cross join.

    Candidate generation is the PassJoin pigeonhole-segment filter
    (Li, Deng, Feng — VLDB'11 "PASS-JOIN"), provably COMPLETE: split
    the INDEX string into ``k + 1`` contiguous segments; ``k`` edits
    cannot touch them all, so if ed(s, t) <= k then s contains at
    least one of t's segments VERBATIM, starting within ``k``
    positions of its home position. The plan:

    1. index side: each key emits its k+1 segments — row-local
       expressions, (k+1) rows per doc;
    2. probe side: each key emits, for every candidate partner length
       L in ``len ± k`` and every segment slot of THAT length's
       segmentation scheme, the substrings at the <= 2k+1 admissible
       shifted starts (~(2k+1)^2 * (k+1) short strings per doc,
       array_distinct'ed before the explode);
    3. equi-join on (partner_len, segment_slot, segment_text): the
       join key contains the FULL segment text (8 chars at the
       defaults), so a cell's population is the number of keys
       sharing an exact 8-char block at one slot — selective even on
       small-vocabulary corpora where every short q-gram is hot
       (measured at sf0.1: q-gram candidates 2.4-8M pairs; segment
       candidates within ~2x of the 287 true pairs);
    4. exact verify on the surviving candidate pairs only, with the
       JVM built-in ``levenshtein`` (no Python anywhere).

    Because the filter is complete and the verify exact, the output
    equals the brute-force all-pairs result — which is exactly what
    the DuckDB oracle computes — so this is a hash-checkable exact
    operator with a scalable plan: both sides are linear explodes,
    the join is keyed on content-bearing segments, and the only knob
    at 100 TB is segment length (grows with prefix_len, and longer
    segments mean sparser cells).

    Keys too short to hold k+1 non-empty segments (len <= ``2k``,
    i.e. <= 4 at the defaults) cannot be segmented; pairs whose
    INDEX-side key is that short are recovered by an exhaustive
    length-band pairing of the (bounded, normally empty) tiny set
    against the whole corpus — an equi-join on exploded length keys,
    so even the corner stays a hash join.

    ``df_cap`` is the corpus-scale guard (the ``df_cap_shingles``
    discipline): per-cell join work is population^2, so one hot
    normalized prefix (a boilerplate header shared by millions of
    docs at 100 TB) would dominate the probe join. With a cap set,
    DOCS whose own index segmentation touches any cell with
    population > df_cap are excluded from pairing entirely — whole
    docs, not individual postings, because dropping a posting breaks
    the pigeonhole completeness proof, while dropping a doc keeps it
    intact for every remaining pair (an index doc with all cells
    under the cap still has all its segments present). The oracle
    applies the identical exclusion, so the capped variant stays
    hash-checkable; the excluded hot family is exactly the clique a
    near-dup pass would collapse to one representative anyway.

    Reference parity: the reference has no similarity join at all —
    its closest shape is WordCount's exploded-token aggregation
    (`src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52`); this
    op reuses that explode→shuffle→aggregate core over derived
    segment keys.

    Emits (doc_a, doc_b, dist).
    """
    from ..sources.tables import spread_scan

    kk = k + 1  # number of segments; pigeonhole over k edits

    # the probe side expands each key into ~(2k+1)^2*(k+1) shifted
    # substrings ABOVE the scan: spread the single-split fixture scan
    # so that expansion parallelizes (guide §2.5 input-skew guard;
    # no-op at production split counts)
    keys = spread_scan(documents.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.lower(F.substring("text", 1, prefix_len)).alias("s"),
    ).withColumn("slen", F.length("s"))

    # --- index side: own-length segmentation scheme, k+1 segments.
    # scheme(L): first (k+1 - L%(k+1)) segments have length L div
    # (k+1), the rest one more — contiguous, covering, non-empty for
    # L >= k+1. seg_start(j) = 1 + j*base + max(0, j - (kk - rem)).
    seg_structs = ", ".join(
        f"struct({j} AS seg_idx,"
        f" substring(s, 1 + {j} * (slen div {kk})"
        f"   + greatest(0, {j} - ({kk} - (slen % {kk}))),"
        f" (slen div {kk})"
        f"   + (CASE WHEN {j} >= {kk} - (slen % {kk}) THEN 1 ELSE 0 END))"
        f" AS seg_text)"
        for j in range(kk)
    )
    if df_cap is not None:
        # hot-cell exclusion BEFORE either side is built: cells are
        # (len, slot, segment text); docs touching a cell hotter than
        # df_cap leave the corpus for this pass (see docstring)
        seg0 = (
            keys.filter(F.col("slen") >= kk)
            .select(
                "doc_id",
                F.col("slen").alias("len_b"),
                F.explode(F.expr(f"array({seg_structs})")).alias("g"),
            )
            .select(
                "doc_id",
                "len_b",
                F.col("g.seg_idx").alias("seg_idx"),
                F.col("g.seg_text").alias("seg_text"),
            )
        )
        hot = (
            seg0.groupBy("len_b", "seg_idx", "seg_text")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > df_cap)
            .select("len_b", "seg_idx", "seg_text")
        )  # Zipf tail above the cap: tiny, broadcastable
        excluded = (
            seg0.join(F.broadcast(hot), ["len_b", "seg_idx", "seg_text"])
            .select("doc_id")
            .distinct()
        )
        keys = keys.join(excluded, "doc_id", "left_anti").localCheckpoint()

    idx = (
        keys.filter(F.col("slen") >= kk)
        .select(
            F.col("doc_id").alias("doc_b"),
            F.col("slen").alias("len_b"),
            F.explode(F.expr(f"array({seg_structs})")).alias("g"),
        )
        .select(
            "doc_b", "len_b",
            F.col("g.seg_idx").alias("seg_idx"),
            F.col("g.seg_text").alias("seg_text"),
        )
    )

    # --- probe side: for each partner length L in len±k and each
    # slot j of scheme(L), the substrings at starts shifted by -k..k
    # (bounds-checked; NULLs filtered inside the array, duplicates
    # dropped before the explode).
    seg_start = f"(1 + j * (L div {kk}) + greatest(0, j - ({kk} - (L % {kk}))))"
    seg_len = f"((L div {kk}) + (CASE WHEN j >= {kk} - (L % {kk}) THEN 1 ELSE 0 END))"
    case = (
        f"CASE WHEN L >= {kk}"
        f" AND {seg_start} + d >= 1"
        f" AND {seg_start} + d + {seg_len} - 1 <= slen"
        f" THEN struct(L AS lb, j AS seg_idx,"
        f" substring(s, {seg_start} + d, {seg_len}) AS seg_text)"
        f" END"
    )
    inner_d = f"transform(sequence(-{k}, {k}), d -> {case})"
    inner_j = f"flatten(transform(sequence(0, {k}), j -> {inner_d}))"
    outer_l = f"flatten(transform(sequence(slen - {k}, slen + {k}), L -> {inner_j}))"
    probe_expr = f"array_distinct(filter({outer_l}, x -> x IS NOT NULL))"
    probe = (
        keys.select(
            F.col("doc_id").alias("doc_a"),
            F.explode(F.expr(probe_expr)).alias("g"),
        )
        .select(
            "doc_a",
            F.col("g.lb").alias("len_b"),
            F.col("g.seg_idx").alias("seg_idx"),
            F.col("g.seg_text").alias("seg_text"),
        )
    )

    candidates = (
        probe.join(idx, ["len_b", "seg_idx", "seg_text"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )

    # --- tiny-index fallback: keys with len < k+1 cannot be
    # segmented; pair them (as the index side) against every key in
    # their length band via an exploded-length equi-join.
    tiny = keys.filter(F.col("slen") < kk)
    tiny_b = tiny.select(
        F.col("doc_id").alias("doc_b"),
        F.explode(
            F.sequence(F.col("slen") - k, F.col("slen") + k)
        ).alias("len_key"),
    )
    tiny_pairs = (
        keys.select(F.col("doc_id").alias("doc_a"), F.col("slen").alias("len_key"))
        .join(tiny_b, "len_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    candidates = candidates.unionByName(tiny_pairs).distinct()

    sa = keys.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    sb = keys.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.abs(F.length("s_a") - F.length("s_b")) <= k
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("s_a", "s_b").alias("dist"),
        )
        .filter(F.col("dist") <= k)
    )


def containment_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.9,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: common / min(|A|, |B|) >=
    threshold. The asymmetric companion to ``ngram_jaccard_pairs`` --
    Jaccard misses a short document wholly embedded in a long one
    (quote farms, boilerplate wrappers, doc-in-doc contamination),
    because the union in its denominator is dominated by the long
    side; containment normalizes by the SMALLER shingle set, which is
    exactly the "is A inside B" question (Broder 1997's containment
    coefficient).

    Same inverted-index mechanics and scale posture as Jaccard (one
    shuffled-hash join on the 8-byte shingle hash, per-shingle
    fan-out bounded by ``df_cap`` at corpus scale); only the
    normalization differs, so the two operators share every stage up
    to the final score (``_shingle_overlaps``).
    """
    cont = F.col("common") * 1.0 / F.least(F.col("na"), F.col("nb"))
    return (
        _shingle_overlaps(documents, n, df_cap)
        .filter(cont >= threshold)
        .select("doc_a", "doc_b", F.round(cont, 4).alias("containment"))
    )


def tfidf_cosine_pairs(
    documents: DataFrame, threshold: float = 0.6, df_cap: int = 64
) -> DataFrame:
    """Exact tf-idf cosine near-dup pairs over the ``df_cap``-capped
    vocabulary — the all-pairs similarity-search shape (Bayardo et
    al., WWW '07) on TOKEN WEIGHTS rather than shingle sets: where
    Jaccard sees only presence, weighted cosine credits repeated
    rare terms, the signal that survives light paraphrase.

    Terms with document frequency > ``df_cap`` are dropped BEFORE
    weighting (stop-words carry near-zero idf anyway), which is both
    the standard practice and THE scale guard: inverted-index join
    work is Σ_term df², so capping df bounds per-term fan-out at
    df_cap² — same posture as ``dedup_ngram_jaccard_capped``. On the
    capped universe everything is exact: idf = ln(N / df), weights
    tf·idf, cosine = Σ w_a·w_b / (‖a‖·‖b‖).

    Plan: word counts (combinable) → df counts + broadcast cap
    anti-join → per-doc norms (combinable) → one shuffled-hash
    inverted-index join → pair dot products (combinable) → broadcast
    norm join + threshold.

    Emits (doc_a, doc_b, cosine).
    """
    tf = words_exploded(documents).groupBy("doc_id", "word").agg(
        F.count("*").alias("tf")
    )
    dfc = tf.groupBy("word").agg(F.count("*").alias("df"))
    kept = dfc.filter(F.col("df") <= df_cap)
    n_docs = documents.select(
        F.count("*").cast("double").alias("n_docs")
    )
    # eager checkpoint: weights feeds THREE consumers (norms + both
    # sides of the inverted-index join); without it the tf/df
    # aggregations re-execute per consumer (21 exchanges measured,
    # 5 after) -- same discipline as the minhash signature table
    weights = (
        tf.join(kept, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("w"),
        )
    ).localCheckpoint()
    norms = weights.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    a, b = weights.alias("a"), weights.alias("b")
    dots = (
        a.join(b.hint("shuffle_hash"), "word")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b"))
    cos = F.col("dot") / (F.col("norm_a") * F.col("norm_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= threshold)
        .select("doc_a", "doc_b", F.round(cos, 4).alias("cosine"))
    )


def cluster_keep_best(
    documents: DataFrame, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Curation-grade cluster representative selection: inside every
    near-dup cluster keep the HIGHEST-QUALITY document, not an
    arbitrary one. ``dedup_apply`` keeps min doc_id per exact-hash
    group; this is the near-dup generalization a training-corpus
    build actually wants — the C4/RefinedWeb pipelines all pick a
    canonical survivor per duplicate cluster by a quality signal.

    Composition (no new primitives, one new shuffle): exact Jaccard
    pairs -> connected components -> left-join every doc to its
    component (singletons label themselves — coalesce to own doc_id,
    so the join is the only place cluster structure is consulted) ->
    one window over component_id ranks members by (quality DESC,
    doc_id) and counts cluster size on the SAME partitioning (both
    window functions share one shuffle).

    Scale posture: the component-label table is proportional to the
    number of DUPLICATED docs (tiny vs the corpus at real dup rates),
    the join is keyed on doc_id, and the window partitions by
    component_id — hot components are duplication cliques whose size
    LSH/exact thresholds already bound. Quality is a pure expression
    (operators/text.py::quality_score).

    Emits (doc_id, component_id, quality, cluster_size) — one row per
    surviving document.
    """
    from pyspark.sql import Window

    from .text import quality_score

    comp = connected_components(ngram_jaccard_pairs(documents, n, threshold))
    labeled = (
        quality_score(documents)
        .select("doc_id", "quality")
        .join(comp, "doc_id", "left")
        .withColumn("component_id", F.coalesce("component_id", F.col("doc_id")))
    )
    w = Window.partitionBy("component_id")
    wr = w.orderBy(F.col("quality").desc(), "doc_id")
    return (
        labeled.select(
            "doc_id",
            "component_id",
            "quality",
            F.row_number().over(wr).alias("rn"),
            F.count("*").over(w).alias("cluster_size"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def split_by_cluster(
    documents: DataFrame, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Leakage-FREE train/val/test assignment: the split decision is a
    hash of the near-dup COMPONENT id, not the doc id, so every member
    of a duplicate cluster lands in the same split by construction —
    the fix for exactly what ``split_leakage_audit`` measures (near-dup
    pairs straddling the train/test boundary inflate eval scores).

    Unlike ``stratified_split`` the decision here is NOT a pure row
    function — it can't be: leakage-freedom requires consulting the
    cluster structure, which costs the pair-join + CC label table.
    That's the honest 100 TB trade: one keyed join against a label
    table proportional to the duplicated subset, after which the
    md5(component_id) split is again engine-reproducible and
    backfill-stable (same ``hash_threshold`` discipline as the other
    split ops).

    Emits (doc_id, component_id, split) — per-doc detail, so the
    leakage property is directly checkable downstream.
    """
    from .text import SPLIT_TRAIN, SPLIT_VAL, hash_threshold

    comp = connected_components(ngram_jaccard_pairs(documents, n, threshold))
    labeled = (
        documents.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn("component_id", F.coalesce("component_id", F.col("doc_id")))
    )
    h = F.substring(
        F.md5(
            F.concat_ws("|", F.lit("csplit"), F.col("component_id").cast("string"))
        ),
        1,
        4,
    )
    split = (
        F.when(h < F.lit(hash_threshold(SPLIT_TRAIN)), "train")
        .when(h < F.lit(hash_threshold(SPLIT_VAL)), "val")
        .otherwise("test")
    )
    return labeled.select("doc_id", "component_id", split.alias("split"))


def dedup_sorted_neighborhood(
    documents: DataFrame,
    window: int = 3,
    n: int = 3,
    threshold: float = 0.4,
    key_len: int = 16,
    num_shards: int = 32,
) -> DataFrame:
    """Sorted-neighborhood blocking (the classic record-linkage
    method): docs sort by a normalized content prefix key, and only
    docs within ``window`` positions of each other are compared --
    candidate count is bounded by window * N, not N^2, and near-dups
    with shared openings land adjacent. Pairs are verified with exact
    n-gram Jaccard >= ``threshold``.

    Distributed shape: the global rank over (sort_key, doc_id) is the
    two-phase exact construction from ``sequence_packing`` (NO
    single-partition window): range-shard the keyed stream, fold
    per-shard counts into broadcast rank offsets, and add a
    within-shard row_number -- bit-identical to the serial rank
    because doc_id makes the order total. Candidates come from an
    EQUI-join on rank (a.rn + gap == b.rn after a 1..window explode),
    so the only pair-building shuffle is rank-keyed and balanced.
    Each doc carries its distinct-shingle SET once (per-doc bounded;
    the inverted-index join of the Jaccard family is the alternative
    when single docs are huge), and the verify is a row-local
    array_intersect.

    Emits (doc_a, doc_b, gap, jaccard) for verified pairs."""
    from pyspark.sql import Window

    key = F.substring(
        F.regexp_replace(F.lower("text"), "[^a-z0-9]", ""), 1, key_len
    )
    parts = (
        documents.select("doc_id", key.alias("sort_key"))
        .repartitionByRange(num_shards, "sort_key", "doc_id")
        .withColumn("shard", F.spark_partition_id())
        # EAGER: two consumers (offsets + ranked) read the physical
        # partition id; a lazy checkpoint recomputed after executor
        # loss could renumber partitions between them and silently
        # shift ranks. Eager pins one materialization both read.
        .localCheckpoint()
    )
    w_off = (
        Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        parts.groupBy("shard")
        .agg(F.count("*").alias("shard_n"))
        .select(
            "shard",
            F.coalesce(F.sum("shard_n").over(w_off), F.lit(0)).alias("offset"),
        )
    )
    w_in = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    ranked = (
        parts.join(F.broadcast(offsets), "shard")
        .select(
            "doc_id",
            (F.col("offset") + F.row_number().over(w_in)).alias("rn"),
        )
    )
    sets = shingles(documents, n=n).groupBy("doc_id").agg(
        F.collect_set("shingle").alias("shs")
    )
    docs = ranked.join(sets, "doc_id").select(
        "doc_id", "rn", "shs", F.size("shs").alias("nsh")
    )
    left = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("rn").alias("rn_a"),
        F.col("shs").alias("shs_a"),
        F.col("nsh").alias("nsh_a"),
        F.explode(F.expr(f"sequence(1, {window})")).alias("gap"),
    )
    right = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("rn").alias("rn_b"),
        F.col("shs").alias("shs_b"),
        F.col("nsh").alias("nsh_b"),
    )
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = inter / (F.col("nsh_a") + F.col("nsh_b") - inter)
    return (
        left.join(
            right, F.col("rn_a") + F.col("gap") == F.col("rn_b")
        )
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "gap", "jaccard")
    )


def dedup_substring(documents: DataFrame, span_len: int = 8) -> DataFrame:
    """Exact verbatim-span dedup at ANY token offset — the
    suffix-array shape of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better"), re-expressed as distributed
    window fingerprints. ``chunk_dedup`` profiles duplication at
    FIXED non-overlapping chunk boundaries, so a verbatim span that
    straddles a boundary is invisible to it; here EVERY
    ``span_len``-token window (stride 1) is fingerprinted, so a
    duplicated run of >= span_len tokens is caught at any alignment
    (asserted against chunk_dedup's blind spot in tests/test_dedup.py).

    Plan, the sketch-family discipline end to end:

    1. fingerprints: per-doc sliding windows hashed JVM-side
       (xxhash64 over the space-joined slice), DISTINCT (doc_id, h) —
       the shuffle carries 16-byte rows, never span text. This is the
       distributed stand-in for suffix-array construction: sorting
       fingerprints groups equal spans exactly as sorting suffixes
       groups equal prefixes.
    2. candidates: one combinable group per fingerprint, posting
       lists > 1 doc exploded to ordered (doc_a < doc_b) pairs — only
       docs that actually share a window meet.
    3. verify: span TEXT is re-derived for CANDIDATE DOCS ONLY (a
       semi-join keeps the re-scan proportional to the duplicated
       slice of the corpus, not the corpus) and compared row-locally,
       so a 64-bit fingerprint collision cannot fabricate a pair
       (same residual-risk note as ``shingles(hashed=True)``: a
       same-doc collision could only UNDERcount, at birthday-bound
       ~2^-32 odds).

    Emits (doc_a, doc_b, n_spans) — n_spans = distinct shared
    ``span_len``-token windows; reference licence: SURVEY.md §2B
    dedup family (the reference's WordCount substrate has no
    sub-document dedup; this is the training-data extension).
    """
    win_expr = (
        f"transform(sequence(1, size(toks) - {span_len - 1}), "
        f"i -> concat_ws(' ', slice(toks, i, {span_len})))"
    )
    from ..sources.tables import spread_scan

    # tokenize + stride-1 window explode above a single-split fixture
    # scan: spread it (guide §2.5 input-skew guard; no-op at
    # production split counts)
    base = (
        spread_scan(documents.select("doc_id", "text"), "doc_id")
        .select("doc_id", tokens_col("text").alias("toks"))
        .filter(F.size("toks") >= span_len)
        .localCheckpoint(eager=False)  # shared by fingerprint + verify scans
    )
    win_h = (
        base.select(
            "doc_id",
            F.explode(F.expr(win_expr)).alias("span"),
        )
        .select("doc_id", F.xxhash64("span").alias("h"))
        .distinct()
    )
    buckets = (
        win_h.groupBy("h")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = buckets.select(
        "h",
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds)), y -> "
                "struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p"),
    ).select("p.doc_a", "p.doc_b", "h")
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # span text for candidate docs only; min(span) per (doc, h) keeps
    # the mapping deterministic even under a same-doc hash collision
    spans = (
        base.join(cand_docs, "doc_id", "left_semi")
        .select("doc_id", F.explode(F.expr(win_expr)).alias("span"))
        .groupBy("doc_id", F.xxhash64("span").alias("h"))
        .agg(F.min("span").alias("span"))
    )
    sp_a = spans.select(
        F.col("doc_id").alias("doc_a"), "h", F.col("span").alias("span_a")
    )
    sp_b = spans.select(
        F.col("doc_id").alias("doc_b"), "h", F.col("span").alias("span_b")
    )
    return (
        pairs.join(sp_a, ["doc_a", "h"])
        .join(sp_b, ["doc_b", "h"])
        .filter(F.col("span_a") == F.col("span_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_spans"))
    )


def dedup_index_append(
    spark,
    survivors: DataFrame,
    index_name: str,
    num_perm: int = 128,
    bands: int = 16,
    n: int = 3,
    seed: int = 42,
    append_fp: str | None = None,
) -> None:
    """Write ingest survivors' bands + signatures back into the
    persisted bucketed index tables — the last step of the
    growing-corpus lifecycle (``build_minhash_index`` once per corpus
    generation, then per batch: probe → ``dedup_incremental_apply`` →
    THIS append → next batch probes corpus ∪ survivors without any
    re-index). Parquet append with the table's own bucketBy spec keeps
    every new file bucketed/sorted on the same keys, so subsequent
    probes stay exchange-free on the index side exactly as against the
    freshly built table (equivalence to a from-scratch index over
    corpus ∪ batch is asserted in tests/test_dedup.py).

    Signatures come from ``minhash_signatures_rowlocal`` (batch-shaped
    ingest kernel, bit-identical to the aggregation path).

    ``append_fp`` makes staged replays idempotent: when the marker in
    the ``_bands`` table directory already records this fingerprint
    the append is skipped (same marker discipline as
    ``build_minhash_index``'s ``source_fp``)."""
    import pathlib
    from urllib.parse import urlparse

    warehouse = pathlib.Path(
        urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
        or "spark-warehouse"
    )
    marker = warehouse / f"{index_name}_bands" / "_APPEND_FP"
    if append_fp is not None and marker.exists() and marker.read_text() == append_fp:
        return
    sig = minhash_signatures_rowlocal(survivors, num_perm, n, seed)
    banded = sig.select(
        "doc_id",
        "n_shingles",
        F.explode(band_struct_array_from_sig(num_perm, bands)).alias("b"),
    ).select("b.band_id", "b.band_hash", "doc_id", "n_shingles")
    sigs = sig.select("doc_id", "sig", "n_shingles")
    for name, df, key in (
        (f"{index_name}_bands", banded, "band_hash"),
        (f"{index_name}_sigs", sigs, "doc_id"),
    ):
        buckets = spark.sql(f"DESCRIBE EXTENDED {name}").filter(
            F.col("col_name") == "Num Buckets"
        ).collect()  # bounded: 1 catalog row
        if not buckets:
            # appending with a GUESSED bucket count to an index built
            # with a different one silently breaks the exchange-free
            # probe contract -- fail loudly instead of defaulting
            raise ValueError(
                f"cannot read bucket spec of index table {name!r}; "
                "was it built by build_minhash_index?"
            )
        nb = int(buckets[0]["data_type"])
        df.write.mode("append").bucketBy(nb, key).sortBy(key).saveAsTable(name)
    if append_fp is not None:
        marker.write_text(append_fp)


def index_append_verdict(
    batch: DataFrame, probe_app: DataFrame, probe_ref: DataFrame
) -> DataFrame:
    """Per-doc equality verdict between a probe against the APPENDED
    index and a probe against a FROM-SCRATCH referee index over the
    same corpus — the append lifecycle's correctness invariant turned
    into data a plain SQL oracle can pin (`probe_match` must be TRUE
    for every batch doc; any divergence — a pair present on one side
    only, or differing est_jaccard — flips its doc's row to FALSE and
    fails the hash compare).

    Exact float equality is the RIGHT compare here: both probes run
    the identical slot-agreement estimator over signatures produced
    by kernels asserted bit-identical (tests/test_dedup.py), so any
    difference is a real index divergence, never float noise.

    Plan: one full-outer join of the two candidate-bounded pair sets
    on (doc_a, doc_b), a grouped bool_and per batch doc, then a left
    join back onto the batch ids (docs with no pairs on either side
    match vacuously). Everything after the probes scales with the
    matched-pair count, not the corpus."""
    a = probe_app.select("doc_a", "doc_b", F.col("est_jaccard").alias("ja"))
    b = probe_ref.select("doc_a", "doc_b", F.col("est_jaccard").alias("jb"))
    cmp = a.join(b, ["doc_a", "doc_b"], "full_outer").select(
        "doc_a",
        (
            F.col("ja").isNotNull()
            & F.col("jb").isNotNull()
            & (F.col("ja") == F.col("jb"))
        ).alias("ok"),
    )
    per_doc = cmp.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.bool_and("ok").alias("probe_match")
    )
    return (
        batch.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("probe_match", F.lit(True)).alias("probe_match"),
        )
    )


def dedup_semdedup(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_clusters: int = 16,
    sample_cap: int = 2048,
    iters: int = 5,
    seed: int = 11,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    k-means clustering + within-cluster cosine -- the embedding-space
    answer to MinHash's lexical near-dup question, and the method's
    actual selling point at scale: the quadratic pair search runs
    INSIDE clusters only (~N^2/k per cluster), never across the
    corpus.

    Keep rule (the paper's, made deterministic): a vector is DROPPED
    iff some BLOCK-mate with a SMALLER vec_id sits at cosine >=
    threshold; ``dup_of`` records the smallest such mate. Exact
    cosines decide -- clustering only routes, so a reported
    (vec, dup_of) pair is never a false positive; locality can only
    cost recall (measured vs the brute-force rule in RECALL.json).

    SOFT 2-probe assignment: each vector joins its TWO nearest
    cells' blocks, so a cos>=tau pair is found whenever the two
    vectors' top-2 cell sets intersect. At this fixture's weak
    cluster structure that lifts routing recall 0.39 -> ~0.73 while
    the pair search still touches only probes^2/k = 4/16 of the
    naive N^2 (single-probe's 0.39 recall is what the paper's
    boundary-split caveat looks like in practice). Duplicate pair
    sightings (both cells shared) collapse in the grouped min.

    Plan: spherical k-means on the bounded sample
    (``similarity._ivf_train`` -- the shared coarse quantizer), one
    ``mapInPandas`` assign scan (primary cell + block array), a
    row-local explode into block ids, then ONE ``applyInPandas`` per
    cell computing the normalized cosine matrix as a block GEMM
    (round-10: replaces the per-pair expression-fold join -- same
    round-4 verdicts, the shuffle carries each cell's vectors once
    instead of n_b^2 joined pair rows) and a grouped min for
    ``dup_of``. Cell payloads must fit one worker: k scales with the
    corpus so n/k stays bounded, the SemDeDup deployment contract.
    The fixture plants no high-cosine near-dups (max ~0.51), so the
    declared threshold is 0.35 -- the ``dedup_embedding``
    non-degeneracy contract.

    Emits (vec_id, cluster, keep, dup_of) -- dup_of NULL on kept
    rows.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md section 2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    import numpy as np
    import pandas as pd

    from . import similarity as _sim

    spark = embeddings.sparkSession
    x = _sim._pq_sample(embeddings, sample_cap, seed)
    cent = _sim._ivf_train(x, n_clusters, iters, seed)
    bc = spark.sparkContext.broadcast(cent)

    def assign(batches):
        c = bc.value
        for pdf in batches:
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            m_n = m / np.linalg.norm(m, axis=1, keepdims=True)
            top2 = np.argsort(-(m_n @ c.T), axis=1)[:, :2].astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cluster": top2[:, 0],
                    "blocks": list(top2),
                    "embedding": pdf["embedding"],
                }
            )

    tagged = embeddings.select("vec_id", "embedding").mapInPandas(
        assign,
        "vec_id long, cluster int, blocks array<int>,"
        " embedding array<float>",
    ).localCheckpoint()  # feeds the verdict join AND the pair stage
    blocked = tagged.select(
        "vec_id", F.explode("blocks").alias("block"), "embedding"
    )

    def block_pairs(pdf):
        # per-cell GEMM (the paper's actual within-cluster shape):
        # one normalized cosine matrix per block instead of a
        # per-pair expression fold -- same round-4 verdicts, ~10x
        # less per-pair cost, and the shuffle carries each cell's
        # vectors once instead of n_b^2 joined pair rows. Cell
        # payload must fit one worker (k scales with the corpus so
        # n/k stays bounded -- the SemDeDup deployment contract).
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        m = np.array(list(pdf["embedding"]), dtype=np.float64)[order]
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        # HALF_UP at 1e-4 like F.round everywhere else in the repo
        # (np.round is banker's/half-to-even -- a cosine landing on a
        # half-boundary would flip the keep/drop verdict vs the
        # recorded round-4 expression path; ADVICE r10). HALF_UP is
        # half-away-from-zero, so round |c| and restore the sign.
        g = m @ m.T
        c = np.sign(g) * np.floor(np.abs(g) * 1e4 + 0.5) / 1e4
        iu = np.triu_indices(len(ids), k=1)
        hit = c[iu] >= threshold
        return pd.DataFrame(
            {
                "vb": ids[iu[1]][hit],
                "va": ids[iu[0]][hit],
            }
        )

    dup_of = (
        blocked.groupBy("block")
        .applyInPandas(block_pairs, "vb long, va long")
        .groupBy(F.col("vb").alias("vec_id"))
        .agg(F.min("va").alias("dup_of"))
    )
    return (
        tagged.select("vec_id", "cluster")
        .join(dup_of, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


def dedup_prefix_exact(documents: DataFrame, prefix_len: int = 64) -> DataFrame:
    """Exact-PREFIX duplicate clusters: documents sharing their first
    ``prefix_len`` characters -- the crawl-boilerplate detector
    (mirrored pages, templated headers, syndicated articles all agree
    on the head long before the tail diverges). ``dedup_exact``
    catches whole-document copies; this catches the much larger
    family that only shares the opening.

    One md5-of-prefix groupBy (map-side combinable); clusters also
    count DISTINCT full-document hashes, so ``n_distinct_full <
    n_docs`` separates true exact-dup mass from prefix-only overlap.
    Only documents long enough to fill the prefix participate (a
    short doc's 'prefix' is the whole doc -- that's dedup_exact's
    job), and only clusters with >1 member emit.

    Emits (prefix_hash, keep_doc_id, n_docs, n_distinct_full).
    """
    eligible = documents.filter(F.length("text") >= prefix_len)
    return (
        eligible.select(
            "doc_id",
            F.md5(F.substring("text", 1, prefix_len)).alias("prefix_hash"),
            F.md5("text").alias("full_hash"),
        )
        .groupBy("prefix_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_docs"),
            F.count_distinct("full_hash").alias("n_distinct_full"),
        )
        .filter(F.col("n_docs") > 1)
        .select(
            "prefix_hash",
            F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_distinct_full").cast("long").alias("n_distinct_full"),
        )
    )


def cluster_size_histogram(documents: DataFrame) -> DataFrame:
    """Near-dup cluster SIZE distribution over the exact
    n-gram-Jaccard graph -- the one-screen duplication health report
    (a long tail of 2-doc clusters is organic near-duplication; a few
    giant components are boilerplate families that transitive merging
    would wrongly collapse -- the reading that decides between
    keep-best-per-cluster and edge-level triage). Size-1 row counts
    the UNCLUSTERED remainder, so the histogram partitions the whole
    corpus.

    Composition, no new primitives: exact pair generation +
    ``connected_components`` (skew-safe min-label propagation),
    a component-keyed count, a size-keyed count, and one anti-join
    for the singleton row. Everything after the pair stage is
    component- or size-bounded.

    Emits (cluster_size, n_clusters).
    """
    pairs = ngram_jaccard_pairs(documents, threshold=0.8)
    cc = connected_components(pairs)
    hist = (
        cc.groupBy("component_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
    )
    singles = (
        documents.join(cc, "doc_id", "left_anti")
        .agg(F.count("*").alias("n_clusters"))
        .select(F.lit(1).cast("long").alias("cluster_size"), "n_clusters")
        .filter(F.col("n_clusters") > 0)
    )
    return hist.select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
    ).unionByName(singles)
