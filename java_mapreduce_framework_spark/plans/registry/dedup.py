"""dedup section of the declared query registry -- bodies verbatim
from the monolithic plans/registry.py (round-8 maintainability split;
identical registry() output, zero plan changes)."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ...operators import (  # noqa: F401
    analytics,
    dedup,
    graph,
    ml,
    multimodal,
    relational,
    similarity,
    temporal,
    text,
)
from ...sources.tables import load_table  # noqa: F401
from .core import (  # noqa: F401
    _QUALITY_EXPR,
    _REGISTRY,
    _TOKS,
    _register,
    _t,
)


# --------------------------------------------------------- dedup (M5)


@_register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def _dedup_exact(spark, sf):
    return dedup.dedup_exact(_t(spark, sf, "documents"))


@_register(
    "dedup_apply",
    """
    SELECT doc_id, lang, text FROM (
      SELECT doc_id, lang, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents)
    WHERE rn = 1
    """,
    note="materialized dedup survivors: one doc (lowest id) per distinct text",
)
def _dedup_apply(spark, sf):
    return dedup.dedup_apply(_t(spark, sf, "documents"))


@_register(
    "curation_pipeline",
    f"""
    WITH kept AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents)
      WHERE rn = 1),
    toks AS (
      SELECT doc_id, lang, text,
             list_filter(string_split_regex(lower(text), '\\s+'), s -> s <> '') AS t
      FROM kept WHERE lang = 'en'),
    m AS (
      SELECT doc_id, lang, t,
             len(t) AS n_tokens,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct,
             len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) AS stop_hits,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe,
             text
      FROM toks)
    SELECT doc_id, lang,
           {_QUALITY_EXPR} AS quality,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(n_bpe AS INTEGER) AS n_bpe_tokens
    FROM m
    WHERE {_QUALITY_EXPR} >= 0.2
    """,
    note="composed curation chain: dedup -> lang filter -> quality gate -> token accounting",
)
def _curation_pipeline(spark, sf):
    return text.curation_pipeline(_t(spark, sf, "documents"))


@_register(
    "dedup_ngram_jaccard",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    com AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, round(c * 1.0 / (na.n + nb.n - c), 4) AS jaccard
    FROM com
    JOIN sizes na ON com.doc_a = na.doc_id
    JOIN sizes nb ON com.doc_b = nb.doc_id
    WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8
    """,
)
def _dedup_ngram_jaccard(spark, sf):
    return dedup.ngram_jaccard_pairs(_t(spark, sf, "documents"))


@_register(
    "dedup_ngram_jaccard_capped",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0
           JOIN dfreq USING (shingle) WHERE df <= 5),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    com AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, round(c * 1.0 / (na.n + nb.n - c), 4) AS jaccard
    FROM com
    JOIN sizes na ON com.doc_a = na.doc_id
    JOIN sizes nb ON com.doc_b = nb.doc_id
    WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8
    """,
    note=(
        "the 100 TB posture of the exact-Jaccard baseline: stop-phrase "
        "shingles above document frequency 5 dropped before the inverted-"
        "index join (bounded per-shingle fan-out); Jaccard exact over the "
        "capped shingle universe, oracle applies the identical cap"
    ),
)
def _dedup_ngram_jaccard_capped(spark, sf):
    return dedup.ngram_jaccard_pairs(_t(spark, sf, "documents"), df_cap=5)


@_register(
    "dedup_cluster_components",
    f"""
    WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    com AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT doc_a, doc_b
      FROM com
      JOIN sizes na ON com.doc_a = na.doc_id
      JOIN sizes nb ON com.doc_b = nb.doc_id
      WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, root) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node)
    SELECT node AS doc_id, min(root) AS component_id
    FROM reach GROUP BY node
    """,
    note="min-label propagation CC == recursive-CTE reachability min (undirected graph)",
)
def _dedup_cluster_components(spark, sf):
    pairs = dedup.ngram_jaccard_pairs(_t(spark, sf, "documents"))
    return graph.connected_components(pairs)


@_register(
    "dedup_minhash_clusters",
    None,
    note="full sketch path: MinHash-LSH pairs -> CC cluster ids; recall probabilistic -> rows-only",
)
def _dedup_minhash_clusters(spark, sf):
    pairs = dedup.dedup_minhash(_t(spark, sf, "documents"))
    return graph.connected_components(pairs)


@_register(
    "dedup_cluster_components_star",
    _REGISTRY["dedup_cluster_components"].oracle,
    note="same clusters via alternating large-star/small-star (log-rounds CC, "
    "the billion-edge shape); identical recursive-CTE oracle as the "
    "label-propagation twin",
)
def _dedup_cluster_components_star(spark, sf):
    pairs = dedup.ngram_jaccard_pairs(_t(spark, sf, "documents"))
    return graph.connected_components_star(pairs)


@_register(
    "dedup_minhash",
    None,
    note="LSH recall is probabilistic; precision exact (Jaccard-verified) -> rows-only",
)
def _dedup_minhash(spark, sf):
    return dedup.dedup_minhash(_t(spark, sf, "documents"))


def _simhash_oracle() -> str:
    """Brute-force SimHash oracle: reproduce every fingerprint chunk
    (md5-derived token hashes, 64 bit-majority sums), then emit ALL
    pairs at Hamming <= 3 via an N^2 self-join -- exact at gate scale
    because the engine's 4-band pigeonhole GUARANTEES a colliding
    band for every Hamming<=3 pair, and no fixture bucket exceeds
    bucket_cap (so the sub-split never drops a candidate). The
    banded engine plan is the 100 TB path; the quadratic oracle is
    DuckDB-side only."""
    hsums = ",\n             ".join(
        f"sum(CASE WHEN (h{j} >> {k}) & 1 = 1 THEN cnt ELSE -cnt END)"
        f" AS b{j}_{k}"
        for j in range(4)
        for k in range(16)
    )
    chunks = ",\n             ".join(
        " + ".join(
            f"(CASE WHEN b{j}_{k} > 0 THEN {1 << k} ELSE 0 END)"
            for k in range(16)
        )
        + f" AS c{j}"
        for j in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.c{j}, b.c{j}))" for j in range(4))
    return f"""
    WITH tf AS (
      SELECT doc_id, word, count(*) AS cnt
      FROM (SELECT doc_id, unnest({_TOKS}) AS word FROM documents)
      GROUP BY 1, 2),
    h AS (
      SELECT doc_id, cnt,
             ('0x' || substr(md5(word), 1, 4))::INT AS h0,
             ('0x' || substr(md5(word), 5, 4))::INT AS h1,
             ('0x' || substr(md5(word), 9, 4))::INT AS h2,
             ('0x' || substr(md5(word), 13, 4))::INT AS h3
      FROM tf),
    sig AS (
      SELECT doc_id,
             {hsums}
      FROM h GROUP BY doc_id),
    chunks AS (
      SELECT doc_id,
             {chunks}
      FROM sig)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {ham} AS hamming
    FROM chunks a JOIN chunks b ON a.doc_id < b.doc_id
    WHERE {ham} <= 3
    """


@_register(
    "dedup_simhash",
    _simhash_oracle(),
    note="SimHash banding, Hamming-verified; md5-derived hash family "
    "so the fingerprints replicate bit-exactly in SQL (round-12 "
    "promotion from rows-only, VERDICT r11 #3). Oracle is the "
    "quadratic brute-force mirror -- exact-equal at gate scale by "
    "the 4-band pigeonhole (no fixture bucket exceeds bucket_cap); "
    "the banded grouping stays the declared 100 TB plan",
)
def _dedup_simhash(spark, sf):
    return dedup.dedup_simhash(_t(spark, sf, "documents"))


@_register(
    "dedup_incremental_minhash",
    None,
    note="incremental dedup: new batch (doc_id % 10 = 0) LSH-probed against a "
    "persisted bucketed signature index of the remaining corpus; emits only "
    "new-vs-corpus pairs with signature-estimated Jaccard. Index is staged "
    "once per fixture generation (fingerprint-keyed warehouse tables); "
    "batch-mode candidate equivalence asserted in tests/test_dedup.py -> "
    "rows-only",
)
def _dedup_incremental_minhash(spark, sf):
    import pathlib

    from ...sources.tables import source_fingerprint

    docs = _t(spark, sf, "documents")
    suffix = "_" + pathlib.Path(sf).name.replace(".", "_")
    name = f"mh_idx{suffix}"
    dedup.build_minhash_index(
        spark,
        docs.filter(F.col("doc_id") % 10 != 0),
        name,
        source_fp=source_fingerprint(sf, "documents"),
    )
    return dedup.dedup_incremental_minhash(
        spark, docs.filter(F.col("doc_id") % 10 == 0), name
    )


@_register(
    "dedup_incremental_apply",
    None,
    note="ingest decision over the incremental probe: new batch minus docs "
    "with a near-dup already in the corpus index (broadcast anti-join on the "
    "candidate-bounded matched set) -> rows-only",
)
def _dedup_incremental_apply(spark, sf):
    import pathlib

    from ...sources.tables import source_fingerprint

    docs = _t(spark, sf, "documents")
    suffix = "_" + pathlib.Path(sf).name.replace(".", "_")
    name = f"mh_idx{suffix}"
    dedup.build_minhash_index(
        spark,
        docs.filter(F.col("doc_id") % 10 != 0),
        name,
        source_fp=source_fingerprint(sf, "documents"),
    )
    return dedup.dedup_incremental_apply(
        spark, docs.filter(F.col("doc_id") % 10 == 0), name
    ).select("doc_id", "lang", "n_chars")


@_register(
    "dedup_embedding",
    """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.35
    """,
    note="fixtures plant no embedding near-dups; threshold 0.35 exercises value match",
)
def _dedup_embedding(spark, sf):
    return dedup.embedding_neardup_pairs(_t(spark, sf, "embeddings"), threshold=0.35)


