from pyspark.sql import Row

from java_mapreduce_framework_spark.operators import dedup, graph

BASE = "the quick brown fox jumps over the lazy dog and runs far away today"
NEAR = BASE.replace("today", "tonight")  # one-token edit => high jaccard
OTHER = "completely different content with no overlap whatsoever in any shingle"


def _docs(spark):
    rows = [BASE, BASE, NEAR, OTHER]
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="t", n_chars=len(t)) for i, t in enumerate(rows)]
    )


def test_dedup_exact_groups_identical_texts(spark):
    out = {r["keep_doc_id"]: r["n_copies"] for r in dedup.dedup_exact(_docs(spark)).collect()}
    assert out[0] == 2  # docs 0 and 1 identical
    assert out[2] == 1 and out[3] == 1


def test_ngram_jaccard_finds_planted_pair(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5  # near-dup
    assert not any(3 in p for p in pairs)  # OTHER matches nothing


def test_minhash_matches_exact_jaccard_pairs(spark, sf_small):
    """LSH recall on the fixture's planted near-dups: candidates that
    survive verification must be exactly a subset of the exact-Jaccard
    pairs, and at tau=0.8 recall should be total on this data."""
    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    exact = {(r["doc_a"], r["doc_b"]) for r in dedup.ngram_jaccard_pairs(docs).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in dedup.dedup_minhash(docs).collect()}
    assert lsh <= exact
    assert lsh == exact  # planted dups are near-identical => recall 1 here


def test_simhash_identical_docs_hamming_zero(spark):
    out = dedup.dedup_simhash(_docs(spark), max_hamming=3)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out.collect()}
    assert got[(0, 1)] == 0


def test_embedding_neardup_blocked_pairs(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0], label=1),
        Row(vec_id=1, embedding=[0.99, 0.1, 0.0], label=1),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0], label=1),
        Row(vec_id=3, embedding=[1.0, 0.0, 0.0], label=2),  # different block
    ]
    out = dedup.embedding_neardup_pairs(spark.createDataFrame(rows), threshold=0.9)
    pairs = {(r["vec_a"], r["vec_b"]) for r in out.collect()}
    assert pairs == {(0, 1)}  # 0-3 identical but blocked apart


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 propagation round), pair 7-8,
    # and 9 appearing only as the greater id of (5, 9)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (5, 9)], ["doc_a", "doc_b"]
    )
    got = {
        (r["doc_id"], r["component_id"])
        for r in graph.connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (8, 7), (5, 5), (9, 5)}


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert graph.connected_components(pairs).count() == 0


def test_minhash_clusters_equal_exact_clusters(spark, sf_small):
    """Pairs are equal on the fixture (test above), so the composed
    cluster ids must be too -- checks the sketch->CC composition."""
    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    exact = {
        (r["doc_id"], r["component_id"])
        for r in graph.connected_components(dedup.ngram_jaccard_pairs(docs)).collect()
    }
    sketch = {
        (r["doc_id"], r["component_id"])
        for r in graph.connected_components(dedup.dedup_minhash(docs)).collect()
    }
    assert sketch == exact


def test_df_cap_drops_stop_phrase_shingles(spark):
    # every doc shares the stop phrase "common filler words here"; the
    # cap removes its shingles from the stream, rare shingles survive
    from pyspark.sql import Row

    rows = [
        Row(doc_id=i, text=f"common filler words here unique{i} tail{i} end{i}",
            lang="en", source="t", n_chars=40)
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows)
    sh = dedup.shingles(docs, n=3, hashed=True)
    capped = dedup.df_cap_shingles(sh, df_cap=3)
    assert capped.count() < sh.count()
    # nothing above the cap survives
    leftover_df = (
        capped.groupBy("shingle").count().agg({"count": "max"}).first()[0]
    )
    assert leftover_df <= 3


def test_capped_jaccard_keeps_real_near_dups(spark):
    # the planted near-dup pair rests on rare shingles, so a cap that
    # removes corpus-wide stop shingles must keep it; with a cap high
    # enough to drop nothing, capped == uncapped exactly
    base = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    capped_loose = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.5, df_cap=10).collect()
    }
    assert capped_loose == base
    # cap=3 removes shingles shared by all of BASE/BASE/NEAR? no --
    # df counts documents, and BASE appears twice: shared shingles have
    # df 3, so cap=2 drops them and the pair set shrinks
    capped_tight = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.5, df_cap=2).collect()
    }
    assert (0, 1) in capped_tight  # identical docs still pair on df<=2 shingles


def test_decontaminate_df_cap_composes(spark, sf_small):
    from java_mapreduce_framework_spark.operators.text import decontaminate_overlap
    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    uncapped = decontaminate_overlap(docs).count()
    capped = decontaminate_overlap(docs, df_cap=5).count()
    assert capped <= uncapped


def test_embedding_lsh_pairs_precision_exact_and_recall_bounded(spark, sf_small):
    """LSH-bucketed embedding near-dup: every emitted pair must truly
    clear the cosine threshold (exact precision), and recall vs the
    brute-force all-pairs baseline must stay useful."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators.dedup import embedding_lsh_pairs
    from java_mapreduce_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in embedding_lsh_pairs(emb, threshold=0.35).collect()
    }
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").cast("array<double>").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").cast("array<double>").alias("eb"))
    dot = F.aggregate(F.zip_with("ea", "eb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", (dot / (nrm(F.col("ea")) * nrm(F.col("eb")))).alias("cos"))
        .filter(F.round("cos", 4) >= 0.35)
        .collect()
    }
    assert set(got) <= exact  # exact precision
    assert exact, "fixture produced no above-threshold pairs; test is vacuous"
    assert len(got) / len(exact) >= 0.3, f"recall collapsed: {len(got)}/{len(exact)}"


def test_embedding_lsh_bucket_cap_splits_hot_buckets(spark, sf_small):
    """The scale guard: with an artificially tiny bucket_cap every
    fixture bucket is oversized and must split on the extra sign bits,
    bounding the largest collected member list well below the uncapped
    one -- while precision stays exact (verification is unchanged)."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators.dedup import (
        embedding_lsh_buckets,
        embedding_lsh_pairs,
    )
    from java_mapreduce_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    uncapped_max = (
        embedding_lsh_buckets(emb, bucket_cap=10**9)
        .agg(F.max(F.size("ms")))
        .collect()[0][0]
    )
    capped_max = (
        embedding_lsh_buckets(emb, bucket_cap=10)
        .agg(F.max(F.size("ms")))
        .collect()[0][0]
    )
    assert capped_max < uncapped_max, (capped_max, uncapped_max)
    # distinct random fixture vectors spread over 2^16 sub-cells: the
    # residual bucket population must collapse to near-pair size
    assert capped_max <= 10, capped_max

    # splitting only costs recall on *marginal* pairs: identical
    # vectors agree on every sign bit (band and sub alike), so planted
    # exact dupes must survive any cap
    base_ids = [r["vec_id"] for r in emb.select("vec_id").limit(5).collect()]
    planted = emb.filter(F.col("vec_id").isin(base_ids)).select(
        (F.col("vec_id") + 10**6).alias("vec_id"), "embedding"
    )
    with_dupes = emb.select("vec_id", "embedding").unionByName(planted)
    capped_pairs = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_lsh_pairs(
            with_dupes, threshold=0.35, bucket_cap=10
        ).collect()
    }
    for vid in base_ids:
        assert (vid, vid + 10**6) in capped_pairs, f"lost exact dupe {vid}"


def test_dedup_simhash_bucket_cap_bounds_hot_buckets(spark):
    """Boilerplate corpus: many docs share one template (same hot
    band chunks) with distinct tails. A tiny bucket_cap must sub-band
    the hot cells on fingerprint bits, and results must stay a subset
    of the uncapped pair set (precision preserved)."""
    from pyspark.sql import Row

    from java_mapreduce_framework_spark.operators import dedup

    boiler = "the quick brown fox jumps over the lazy dog " * 5
    rows = [
        Row(doc_id=i, lang="en", text=boiler + f"unique tail {i} {i*i} {i%7}")
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows)
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_simhash(docs, bucket_cap=10**9).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_simhash(docs, bucket_cap=5).collect()
    }
    assert capped <= uncapped
    assert uncapped, "fixture produced no near-dup pairs; test is vacuous"


def test_incremental_minhash_matches_batch_mode(spark, sf_small, tmp_path):
    """The production incremental shape must agree with the batch run:
    probing a new batch against the persisted corpus index yields
    EXACTLY the new-vs-corpus candidate pairs that batch-mode LSH over
    batch UNION corpus yields (same perm tables, same band hashing via
    the shared band_struct_array), and the signature-estimated Jaccard
    tracks exact Jaccard within the 128-permutation estimator bound."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators import dedup
    from java_mapreduce_framework_spark.sources.tables import (
        load_table,
        source_fingerprint,
    )

    docs = load_table(spark, sf_small, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    dedup.build_minhash_index(
        spark, corpus, "mh_idx_eqv", source_fp=source_fingerprint(sf_small, "documents")
    )
    inc = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in dedup.dedup_incremental_minhash(
            spark, batch, "mh_idx_eqv", threshold=0.5
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.dedup_minhash(docs, threshold=0.5).collect()
    }
    # orient full-mode pairs as (new, corpus) like the incremental run
    cross = {}
    for (a, b), j in full.items():
        if (a % 10 == 0) != (b % 10 == 0):
            cross[(a, b) if a % 10 == 0 else (b, a)] = j
    assert set(inc) == set(cross), (sorted(inc), sorted(cross))
    assert inc  # fixture plants cross-boundary near-dups
    for pair, est in inc.items():
        assert abs(est - cross[pair]) <= 0.15, (pair, est, cross[pair])


def test_star_cc_equals_label_propagation_on_graph_shapes(spark):
    """Large-star/small-star CC must produce the identical
    (doc_id, component_id) labeling as min-label propagation AND as a
    driver-side union-find ground truth, across the shapes that
    stress each algorithm differently: a long chain (diameter exceeds
    label propagation's default round budget -- which now fails loud,
    so it gets an explicit max_iter; star needs only log rounds),
    cliques, a hub star, disjoint islands, and a seeded random
    graph."""
    import random

    def union_find(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {(n, find(n)) for n in parent}

    rng = random.Random(3)
    cases = {
        "chain": [(i, i + 1) for i in range(30)],
        "two_cliques": [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)],
        "hub": [(0, i) for i in range(1, 8)],
        "islands": [(100, 101), (200, 201), (300, 301)],
        "random": sorted(
            {tuple(sorted(rng.sample(range(60), 2))) for _ in range(80)}
        ),
    }
    for name, pairs in cases.items():
        truth = union_find(pairs)
        df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
        a = {(r["doc_id"], r["component_id"])
             for r in graph.connected_components(df, max_iter=40).collect()}
        b = {(r["doc_id"], r["component_id"])
             for r in graph.connected_components_star(df).collect()}
        assert a == truth, f"{name}: label propagation wrong vs union-find"
        assert b == truth, f"{name}: star CC wrong vs union-find"


def test_label_propagation_raises_on_diameter_overflow(spark):
    """A component deeper than max_iter must fail loud, never return
    silently-wrong labels (the pre-round-5 behavior)."""
    import pytest as _pytest

    chain = spark.createDataFrame([(i, i + 1) for i in range(12)], ["doc_a", "doc_b"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(chain, max_iter=3)


def test_star_cc_raises_on_round_budget(spark):
    """The star variant fails loud too: a 13-node chain needs more than
    one large/small-star round, and a budget that runs out must raise
    instead of returning a partial (over-split) labeling."""
    import pytest as _pytest

    chain = spark.createDataFrame([(i, i + 1) for i in range(12)], ["doc_a", "doc_b"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components_star(chain, max_iter=1)


def _lpa_reference(pairs, vertices, rounds):
    """Synchronous label propagation in pure Python: every node takes
    the most frequent neighbor label (smallest label on ties) at once;
    isolated nodes keep their own id."""
    from collections import Counter

    nbrs = {v: [] for v in vertices}
    for a, b in pairs:
        nbrs[a].append(b)
        nbrs[b].append(a)
    label = {v: v for v in vertices}
    for _ in range(rounds):
        new = {}
        for v in vertices:
            cnt = Counter(label[u] for u in nbrs[v])
            new[v] = min(cnt, key=lambda x: (-cnt[x], x)) if cnt else v
        label = new
    return label


def test_label_propagation_equals_python_reference(spark):
    """label_propagation matches the pure-Python synchronous rounds on
    hand-made shapes: a two-way tie (smallest label wins), isolated
    vertices, two components, and a star whose leaves all adopt the
    hub's label while the hub takes the smallest leaf."""
    cases = {
        "tie": ([(5, 7), (5, 9), (7, 8), (9, 10)], [5, 7, 8, 9, 10]),
        "isolated": ([(1, 2), (2, 3)], [1, 2, 3, 40, 41, 42]),
        "two_components": (
            [(1, 2), (1, 3), (2, 3), (3, 4), (20, 21), (20, 22), (21, 22)],
            [1, 2, 3, 4, 20, 21, 22],
        ),
        "star": ([(0, i) for i in range(1, 7)], list(range(8))),
    }
    for name, (pairs, verts) in cases.items():
        df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
        vdf = spark.createDataFrame([(v,) for v in verts], ["doc_id"])
        for rounds in (1, 2, 3):
            got = {
                r["doc_id"]: r["community"]
                for r in graph.label_propagation(df, vdf, rounds=rounds).collect()
            }
            assert got == _lpa_reference(pairs, verts, rounds), (name, rounds)


def test_label_propagation_builds_without_jobs(spark):
    """Building the label-propagation plan over already-materialized
    pairs launches at most one job (``_undirected``'s pair
    checkpoint): no vertex checkpoint, no |V| probe, no per-round
    materialization."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], ["doc_a", "doc_b"]
    ).localCheckpoint()
    verts = spark.createDataFrame([(i,) for i in range(25)], ["doc_id"])
    sc = spark.sparkContext
    sc.setJobGroup("lpa_build", "lpa_build")
    try:
        out = graph.label_propagation(pairs, verts)
        assert len(sc.statusTracker().getJobIdsForGroup("lpa_build")) <= 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out.count() == 25


def test_incremental_apply_drops_exactly_matched_docs(spark, sf_small):
    """Survivors = batch minus the probe's matched doc_a set, with
    full rows preserved."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators import dedup
    from java_mapreduce_framework_spark.sources.tables import (
        load_table,
        source_fingerprint,
    )

    docs = load_table(spark, sf_small, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    dedup.build_minhash_index(
        spark, corpus, "mh_idx_apply", source_fp=source_fingerprint(sf_small, "documents")
    )
    matched = {
        r["doc_a"]
        for r in dedup.dedup_incremental_minhash(spark, batch, "mh_idx_apply").collect()
    }
    kept = {r["doc_id"] for r in dedup.dedup_incremental_apply(spark, batch, "mh_idx_apply").collect()}
    all_batch = {r["doc_id"] for r in batch.collect()}
    assert kept == all_batch - matched
    assert matched, "fixture plants no cross-boundary dups; test vacuous"


def test_minhash_bucket_cap_splits_hot_cells_keeps_exact_dups(spark):
    """Force bucket splitting with a tiny cap: exact duplicates share
    every band hash (including the next-band sub-split bits), so they
    must ALL still pair up; and the capped run must equal the uncapped
    run on this corpus of identical docs."""
    from java_mapreduce_framework_spark.operators import dedup

    n = 40
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(n)],
        ["doc_id", "text"],
    )
    sig = dedup.minhash_signatures(docs)
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_candidates(sig, bucket_cap=5).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_candidates(sig).collect()
    }
    expect = {(a, b) for a in range(n) for b in range(a + 1, n)}
    assert capped == expect and uncapped == expect


def test_edit_distance_matches_bruteforce(spark):
    """q-gram filter completeness: the filtered plan's output equals
    brute-force all-pairs Levenshtein, including planted typo pairs
    and a tiny-key pair whose count bound is vacuous."""
    texts = [
        "the quick brown fox jumps over the lazy dog",   # 0
        "the quick brown fox jumps over the lazy dog",   # 1: exact dup (dist 0)
        "the quick brawn fox jumps over the lazy dog",   # 2: 1 substitution in prefix
        "xhe quick brown fx jumps over the lazy dog",    # 3: sub + delete in prefix
        "completely unrelated text about other things",  # 4
        "ab",                                            # 5: tiny key
        "cd",                                            # 6: tiny key, 0 shared grams, dist 2
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "t", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in dedup.dedup_edit_distance(docs).collect()
    }
    # brute-force expectation over the 24-char lowercase prefixes
    def lev(s, t):
        d = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            prev, d[0] = d[0], i
            for j, ct in enumerate(t, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (cs != ct))
        return d[len(t)]

    keys = [t[:24].lower() for t in texts]
    want = {
        (a, b): lev(keys[a], keys[b])
        for a in range(len(texts))
        for b in range(a + 1, len(texts))
        if abs(len(keys[a]) - len(keys[b])) <= 2 and lev(keys[a], keys[b]) <= 2
    }
    assert got == want
    assert (5, 6) in got and got[(5, 6)] == 2  # zero-shared-gram tiny pair found


def test_bfs_hops_chain_and_cutoff(spark):
    """Planted path graph: hop = position along the chain; nodes past
    max_hops are excluded; off-component nodes never appear."""
    from pyspark.sql import Row

    chain = [(i, i + 1) for i in range(10)]          # 0-1-2-...-10
    island = [(50, 51)]                               # separate component
    pairs = spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in chain + island]
    )
    got = {r["doc_id"]: r["hop"] for r in graph.bfs_hops(pairs, max_hops=8).collect()}
    assert got == {i: i for i in range(9)}            # hops 0..8
    assert 9 not in got and 10 not in got             # beyond cutoff
    assert 50 not in got and 51 not in got            # other component


def test_bfs_hops_empty_pairs(spark):
    """No edges means no seed: the result is empty, not a NULL row."""
    pairs = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert graph.bfs_hops(pairs).collect() == []


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment = 1.0
    even though Jaccard is far below threshold."""
    from java_mapreduce_framework_spark.operators import dedup as dd

    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short, "en", "t", 0), (2, long, "en", "t", 0),
         (3, "totally different text entirely here", "en", "t", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    cont = dd.containment_pairs(docs, threshold=0.9).collect()
    assert [(r["doc_a"], r["doc_b"], r["containment"]) for r in cont] == [(1, 2, 1.0)]
    jac = dd.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert jac == []  # Jaccard's union denominator misses the embedding


def test_tfidf_cosine_credits_repeated_rare_terms(spark):
    """Docs sharing repeated rare vocabulary score high; unrelated
    docs do not pair."""
    from java_mapreduce_framework_spark.operators import dedup as dd

    a = "zeppelin quartz zeppelin quartz nimbus vortex common"
    b = "zeppelin quartz zeppelin quartz nimbus vortex common extra"
    c = "totally unrelated words about plain cooking recipes common"
    docs = spark.createDataFrame(
        [(1, a, "en", "t", 0), (2, b, "en", "t", 0), (3, c, "en", "t", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = dd.tfidf_cosine_pairs(docs, threshold=0.6).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [(1, 2)]
    # the single unseen term carries idf ln(3) vs ln(1.5) for the
    # shared vocab, so the pair lands near 0.76, well over threshold
    assert out[0]["cosine"] > 0.7


def test_pagerank_mass_conserved_and_hub_ranked(spark):
    """Rank mass sums to 1; the hub of a star outranks its leaves;
    isolated nodes keep the dangling-redistributed baseline."""

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    verts = spark.createDataFrame(
        [(i,) for i in range(1, 7)], "doc_id long"
    )  # 5, 6 isolated
    out = {r["doc_id"]: r["pr"] for r in graph.pagerank(pairs, verts).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-4
    assert out[1] > out[2] > 0
    assert out[2] == out[3] == out[4]
    assert out[5] == out[6] and out[5] > 0


def test_triangle_count_closed_vs_open(spark):
    """A closed triangle credits all three corners once; an open
    wedge credits nobody."""

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["n_triangles"] for r in graph.triangle_count(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_cluster_keep_best_keeps_highest_quality_per_cluster(spark):
    """Two near-dup clusters with clearly different quality members:
    the survivor of each must be its highest-quality doc, singletons
    must all survive, and cluster_size must count every member."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators import dedup
    from java_mapreduce_framework_spark.operators.text import quality_score

    # 40 distinct tokens: appending " the of" to one copy keeps shingle
    # Jaccard at 38/40 = 0.95 (still one cluster at tau=0.8) while
    # strictly raising its quality score (length + stopword terms)
    base_a = " ".join(f"tok{i:02d}" for i in range(40))
    base_b = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            # cluster A: near-identical triplet; doc 2 is the
            # higher-quality variant
            (1, base_a), (2, base_a + " the of"), (3, base_a),
            # cluster B: identical pair -- equal quality, min id wins
            (10, base_b), (11, base_b),
            # singletons
            (20, "completely unrelated text about weather patterns"),
            (21, "another standalone document on gardening and the soil"),
        ],
        ["doc_id", "text"],
    )
    _ = F  # noqa: F841 -- fixture import parity with sibling tests
    q = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    assert q[2] > q[1] == q[3]
    kept = {r["doc_id"]: r for r in dedup.cluster_keep_best(docs).collect()}
    # quality-ordered survival in A; min-id tiebreak in B; singletons kept
    assert set(kept) == {2, 10, 20, 21}
    assert kept[2]["cluster_size"] == 3
    assert kept[10]["cluster_size"] == 2
    assert kept[20]["cluster_size"] == 1 and kept[21]["cluster_size"] == 1
    # survivor quality is the cluster max
    assert kept[2]["quality"] == max(q[1], q[2], q[3])


def test_split_by_cluster_never_splits_a_component(spark, sf_small):
    """The leakage-freedom property on the real fixture: every near-dup
    component maps to exactly one split, and the assignment covers
    every document exactly once."""
    from java_mapreduce_framework_spark.operators import dedup
    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    rows = dedup.split_by_cluster(docs).collect()
    assert len(rows) == docs.count()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_comp.values())
    # fixture plants real multi-doc clusters; the property must be
    # exercised, not vacuous
    from collections import Counter

    comp_sizes = Counter(r["component_id"] for r in rows)
    assert max(comp_sizes.values()) >= 2
    assert {r["split"] for r in rows} <= {"train", "val", "test"}


def test_sorted_neighborhood_pairs_are_windowed_and_verified(spark, sf_small):
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    got = dedup.dedup_sorted_neighborhood(docs).collect()
    assert got, "fixture plants near-dups with shared openings"
    for r in got:
        assert 1 <= r["gap"] <= 3
        assert r["jaccard"] >= 0.4
        assert r["doc_a"] != r["doc_b"]
    # every emitted pair must really clear the threshold under the
    # exact brute-force Jaccard (blocking must not inflate scores)
    sh = {
        r["doc_id"]: set(r["shs"])
        for r in dedup.shingles(docs)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shs"))
        .collect()
    }
    for r in got:
        a, b = sh[r["doc_a"]], sh[r["doc_b"]]
        jac = len(a & b) / len(a | b)
        assert abs(jac - r["jaccard"]) < 1e-3


def test_substring_finds_straddling_span_chunk_dedup_misses(spark):
    """The blind spot dedup_substring exists for: a verbatim 20-token
    span shared by two docs at DIFFERENT offsets straddles
    chunk_dedup's fixed 16-token chunk boundary, so no non-overlapping
    chunk is identical between the docs (zero dup chunks) -- while the
    stride-1 window fingerprints catch it at any alignment, with
    exactly span - window + 1 shared 8-token windows."""
    from java_mapreduce_framework_spark.operators import dedup
    from java_mapreduce_framework_spark.operators import text as T

    span = [f"s{i}" for i in range(20)]
    doc_a = [f"a{i}" for i in range(8)] + span + [f"a{i}" for i in range(8, 20)]
    doc_b = [f"b{i}" for i in range(3)] + span + [f"b{i}" for i in range(3, 20)]
    docs = spark.createDataFrame(
        [(1, " ".join(doc_a)), (2, " ".join(doc_b))], "doc_id long, text string"
    )
    chunk = {r["doc_id"]: r["n_dup_chunks"] for r in T.chunk_dedup(docs).collect()}
    assert chunk == {1: 0, 2: 0}, chunk  # fixed-boundary dedup is blind
    sub = dedup.dedup_substring(docs, span_len=8).collect()
    assert [(r["doc_a"], r["doc_b"], r["n_spans"]) for r in sub] == [(1, 2, 13)]


def test_substring_no_pairs_without_shared_span(spark):
    """Docs sharing individual tokens but no 8-token run produce no
    pairs (the fingerprint granularity is the span, not the word)."""
    from java_mapreduce_framework_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(30))),
            (2, " ".join(f"w{i}" for i in range(0, 60, 2))),  # every other
        ],
        "doc_id long, text string",
    )
    assert dedup.dedup_substring(docs, span_len=8).count() == 0


def test_index_append_probe_equals_scratch_rebuild(spark, sf_small):
    """The growing-corpus lifecycle: probing batch2 against an index
    that had batch1's survivors APPENDED must equal probing against a
    from-scratch index built over corpus UNION survivors -- and the
    append marker makes replays no-ops."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators import dedup
    from java_mapreduce_framework_spark.sources.tables import (
        load_table,
        source_fingerprint,
    )

    docs = load_table(spark, sf_small, "documents")
    fp = source_fingerprint(sf_small, "documents")
    corpus = docs.filter((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 5))
    batch1 = docs.filter(F.col("doc_id") % 10 == 5)
    batch2 = docs.filter(F.col("doc_id") % 10 == 0)

    dedup.build_minhash_index(spark, corpus, "mh_app_a", source_fp=fp)
    survivors = dedup.dedup_incremental_apply(spark, batch1, "mh_app_a")
    dedup.dedup_index_append(spark, survivors, "mh_app_a", append_fp=fp)
    n_sigs = spark.table("mh_app_a_sigs").count()
    dedup.dedup_index_append(spark, survivors, "mh_app_a", append_fp=fp)
    assert spark.table("mh_app_a_sigs").count() == n_sigs  # idempotent replay

    appended = sorted(
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in dedup.dedup_incremental_minhash(spark, batch2, "mh_app_a").collect()
    )
    dedup.build_minhash_index(
        spark, corpus.unionByName(survivors), "mh_app_b", source_fp=fp
    )
    scratch = sorted(
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in dedup.dedup_incremental_minhash(spark, batch2, "mh_app_b").collect()
    )
    assert appended == scratch


def test_common_neighbors_square_graph(spark):
    """4-cycle a-b-c-d-a: the two diagonals are the only non-edges,
    each sharing BOTH neighbors -> common=2, jaccard = 2/(2+2-2) = 1;
    existing edges must not appear."""
    from java_mapreduce_framework_spark.operators.graph import common_neighbors

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["common_neighbors"], r["jaccard"])
        for r in common_neighbors(pairs).collect()
    }
    assert got == {(1, 3): (2, 1.0), (2, 4): (2, 1.0)}


def test_common_neighbors_path_graph(spark):
    """Path 1-2-3: single candidate (1,3) through hub 2 with
    jaccard 1/(1+1-1)=1; triangle 5-6-7 is closed -> contributes
    nothing."""
    from java_mapreduce_framework_spark.operators.graph import common_neighbors

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7), (5, 7)],
        "doc_a long, doc_b long",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["common_neighbors"]
        for r in common_neighbors(pairs).collect()
    }
    assert got == {(1, 3): 1}


def test_kcore_peels_tail_keeps_triangle(spark):
    """Triangle 1-2-3 with a pendant chain 3-4-5: the 2-core is the
    triangle alone (4 and 5 peel in cascading rounds); the 3-core is
    empty."""
    from java_mapreduce_framework_spark.operators.graph import kcore

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)],
        "doc_a long, doc_b long",
    )
    core2 = {
        r["node_id"]: r["core_deg"] for r in kcore(pairs, k=2, rounds=5).collect()
    }
    assert core2 == {1: 2, 2: 2, 3: 2}
    assert kcore(pairs, k=3, rounds=5).count() == 0


def test_kcore_converged_at_fixture_rounds(spark, sf_medium):
    """The declared 10-round contract is CONVERGED at test SF: an 11th
    round changes nothing, and every surviving node keeps deg >= k."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.plans.registry.graph import _copurchase_pairs
    from java_mapreduce_framework_spark.operators.graph import kcore

    pairs = _copurchase_pairs(spark, sf_medium)
    c10 = kcore(pairs, k=3, rounds=10)
    c11 = kcore(pairs, k=3, rounds=11)
    assert c10.exceptAll(c11).count() == 0
    assert c11.exceptAll(c10).count() == 0
    assert c10.filter(F.col("core_deg") < 3).count() == 0


def test_clustering_coefficient_triangle_plus_star(spark):
    """A triangle node scores 1.0; a star hub with no closed wedges
    scores 0.0; degree-1 leaves are excluded."""

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3),          # triangle 1-2-3
         (10, 11), (10, 12), (10, 13)],   # star around 10
        "doc_a long, doc_b long",
    )
    out = {r["doc_id"]: r
           for r in graph.clustering_coefficient(pairs).collect()}
    for n in (1, 2, 3):
        assert out[n]["deg"] == 2 and out[n]["n_triangles"] == 1
        assert out[n]["clustering_coeff"] == 1.0
    assert out[10]["deg"] == 3 and out[10]["n_triangles"] == 0
    assert out[10]["clustering_coeff"] == 0.0
    assert 11 not in out and 12 not in out and 13 not in out


def test_semdedup_verdicts_are_exact_and_routed(spark, sf_small):
    """Every reported (vec, dup_of) pair must be a TRUE cosine>=tau
    pair with dup_of < vec_id (precision 1.0 -- clustering only
    routes); the drop set must recover at least half of the
    brute-force droppable vectors; verdict partition is total."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    out = {r["vec_id"]: r for r in dedup.dedup_semdedup(emb).collect()}
    # brute-force unblocked truth (embedding_neardup_pairs blocks on label)
    a = emb.select(F.col("vec_id").alias("va"),
                   F.col("embedding").cast("array<double>").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vb"),
                   F.col("embedding").cast("array<double>").alias("eb"))
    dot = F.aggregate(F.zip_with("ea", "eb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda acc, x: acc + x * x))
    true_pairs = {
        (r["va"], r["vb"])
        for r in a.crossJoin(b).filter(F.col("va") < F.col("vb"))
        .select("va", "vb",
                F.round(dot / (nrm(F.col("ea")) * nrm(F.col("eb"))), 4)
                .alias("c"))
        .filter(F.col("c") >= 0.35).collect()
    }
    assert len(out) == emb.count()
    for vid, r in out.items():
        assert r["keep"] == (r["dup_of"] is None)
        if r["dup_of"] is not None:
            assert r["dup_of"] < vid
            assert (r["dup_of"], vid) in true_pairs  # precision 1.0
    brute_drops = {vb for _, vb in true_pairs}
    sem_drops = {v for v, r in out.items() if not r["keep"]}
    assert len(sem_drops & brute_drops) >= 0.5 * len(brute_drops)


def test_semdedup_is_deterministic(spark, sf_small):
    from java_mapreduce_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    a = sorted(map(tuple, dedup.dedup_semdedup(emb).collect()))
    b = sorted(map(tuple, dedup.dedup_semdedup(emb).collect()))
    assert a == b


def test_adamic_adar_hand_graph(spark):
    """Path graph 1-2-3 plus 2-4: hub 2 (deg 3) connects the three
    leaf pairs with credit round(1e6/ln 3); adjacent pairs excluded;
    deg-1 leaves host no wedges."""
    import math

    from java_mapreduce_framework_spark.operators.graph import adamic_adar

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 4)], ["doc_a", "doc_b"]
    )
    out = {(r["doc_a"], r["doc_b"]): r for r in adamic_adar(pairs).collect()}
    # the only wedges run through hub 2 (deg 3): leaf pairs (1,3),(1,4),(3,4)
    assert set(out) == {(1, 3), (1, 4), (3, 4)}
    expected = round(1e6 / math.log(3))
    for r in out.values():
        assert r["common_neighbors"] == 1
        assert r["aa_mnat"] == expected


def test_degree_histogram_star_graph(spark):
    """Star 1-(2,3,4): hub degree 3 (one node), leaves degree 1
    (three nodes), fractions exact quarters."""
    from java_mapreduce_framework_spark.operators.graph import degree_histogram

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["doc_a", "doc_b"]
    )
    out = {r["deg"]: r for r in degree_histogram(pairs).collect()}
    assert out[3]["n_nodes"] == 1 and out[3]["frac"] == 0.25
    assert out[1]["n_nodes"] == 3 and out[1]["frac"] == 0.75


def test_assortativity_star_is_negative(spark):
    """A star graph is maximally disassortative (hub deg 3 links only
    to leaves deg 1): r = -1."""
    from java_mapreduce_framework_spark.operators.graph import degree_assortativity

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["doc_a", "doc_b"]
    )
    r = degree_assortativity(pairs).collect()[0]
    assert r["m_edges"] == 6
    assert r["assortativity"] == -1.0


def test_assortativity_regular_graph_null(spark):
    """A triangle is 2-regular: zero degree variance, assortativity
    undefined -> NULL, not a division error."""
    from java_mapreduce_framework_spark.operators.graph import degree_assortativity

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], ["doc_a", "doc_b"]
    )
    r = degree_assortativity(pairs).collect()[0]
    assert r["assortativity"] is None
