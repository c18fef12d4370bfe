"""Text operators: the flagship wordcount family + text-analysis ops
for LLM data pipelines (language ID, quality scoring, token counting,
document fingerprinting). SURVEY.md sections 2B and M5.

All pure built-in expressions (split/explode/filter/regexp/md5) --
JVM-side, no Python in the hot path. Tokenization is the shared
definition in ``functions/text.py`` so every consumer agrees.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import grams_expr, tokens_col, words_exploded
from ..session import iterate

# Stopword lists for the n-gram/stopword language heuristic. Tiny and
# deterministic on purpose: real language ID would ship fastText or a
# char-n-gram model as a broadcast side input; the heuristic keeps the
# operator oracle-checkable.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "y", "es", "un", "que"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu"),
}

#: BPE-ish pretokenizer: letter runs, digit runs, single punctuation.
BPE_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

#: PII patterns, written in the Java-regex ∩ RE2 dialect so the exact
#: same strings run on Spark (Java) and the DuckDB oracle (RE2): no
#: lookaround, no backrefs, only char classes / quantifiers.
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_REGEX = r"\+?[0-9][0-9()\- ]{6,}[0-9]"
#: >= 5 colon-separated hex groups: full/trailing-compressed IPv6
#: without swallowing clock times or MAC-less 2-3 group hex runs;
#: short compressed forms ("::1") are out of scope by design.
IPV6_REGEX = r"\b(?:[0-9A-Fa-f]{1,4}:){4,7}[0-9A-Fa-f]{1,4}\b"
IPV4_REGEX = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
#: 13-16 digits in 4-4-4-1..4 grouping with optional space/dash
#: separators -- the Luhn-CHECKABLE shape (the checksum itself is not
#: regular; a downstream validator can Luhn-verify the span).
CCARD_REGEX = r"\b[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{1,4}\b"
SSN_REGEX = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"


#: Default rate for ``sample_deterministic`` (shared with its oracle).
SAMPLE_RATE = 0.25


def hash_threshold(rate: float) -> str:
    """4-hex-char md5-prefix threshold encoding ``rate`` — the single
    source of truth for both the Spark predicate (``_hash_keep``) and
    the generated oracle SQL. 'zzzz' (> every hex digit) encodes
    rate ≥ 1.0 so the comparison stays a plain string order."""
    if rate >= 1.0:
        return "zzzz"
    return format(max(int(rate * 65536), 0), "04x")


def _hash_keep(seed_col: F.Column, rate: float) -> F.Column:
    """Deterministic Bernoulli-style keep predicate: first 4 hex chars
    of md5(seed) compared against a rate-derived threshold literal.

    Sampling by content hash instead of ``rand()`` is the 100 TB
    pipeline discipline: the decision is a pure row function, so
    re-runs, retried tasks, and incremental backfills all keep the
    SAME rows (Spark's ``sample`` is seed-stable only per partitioning),
    and the identical expression runs on any SQL engine — which is
    what makes these operators oracle-checkable at all. Granularity
    1/65536; compare is plain byte-wise string order in both engines.
    """
    if rate >= 1.0:
        return F.lit(True)
    return F.substring(F.md5(seed_col), 1, 4) < F.lit(hash_threshold(rate))


def text_normalize(documents: DataFrame) -> DataFrame:
    """Canonical text form for downstream dedup/tokenization:
    lowercase, strip everything outside [a-z0-9 basic punctuation],
    collapse whitespace runs, trim. Pure per-row expressions — fuses
    into whatever stage consumes it, zero shuffle."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9\s.,;:!?'-]", " "),
            r"\s+",
            " ",
        )
    )
    return documents.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).alias("n_chars_norm"),
    )


def pii_redact(documents: DataFrame) -> DataFrame:
    """PII scrubbing: replace email / IPv6 / IPv4 / credit-card /
    SSN-shaped / phone-number-shaped spans with typed placeholder
    tokens, counting matches per doc before redaction. Standard
    pre-training compliance pass; all JVM-side regexp — the 100 TB
    cost is one scan, no shuffle.

    Redaction ORDER is the correctness load-bearer — each stage counts
    and rewrites the PREVIOUS stage's output so broader digit shapes
    can't re-match narrower ones already scrubbed: emails first
    (digit runs inside addresses), then IPv6 before IPv4 (hex groups
    contain decimal runs), then credit cards and SSNs BEFORE phones
    (both are digit-dash runs the phone pattern would swallow), phones
    last. All six patterns are in the Java∩RE2 common dialect
    (no lookarounds/backrefs; \\b is ASCII-identical on both engines)
    and shared VERBATIM with the oracle SQL.

    Single-pass by design (like production scrubbers): back-to-back
    emails sharing an '@'-adjacent boundary (``a@b.com@c.de``) leave a
    residual second address; run the operator to a fixpoint if that
    matters for a corpus.

    Emits (doc_id, n_emails, n_ipv6, n_ipv4, n_ccards, n_ssns,
    n_phones, redacted)."""
    stages = (
        (EMAIL_REGEX, "<EMAIL>", "n_emails"),
        (IPV6_REGEX, "<IPV6>", "n_ipv6"),
        (IPV4_REGEX, "<IPV4>", "n_ipv4"),
        (CCARD_REGEX, "<CCARD>", "n_ccards"),
        (SSN_REGEX, "<SSN>", "n_ssns"),
        (PHONE_REGEX, "<PHONE>", "n_phones"),
    )
    cur = F.col("text")
    counts = []
    for pat, token, name in stages:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))).alias(name)
        )
        cur = F.regexp_replace(cur, pat, token)
    return documents.select("doc_id", *counts, cur.alias("redacted"))


def length_histogram(documents: DataFrame, bucket_width: int = 100) -> DataFrame:
    """Corpus length profile: fixed-width char-count buckets with doc
    counts and per-bucket char totals — the first diagnostic any
    curation run prints. One partial→final aggregation on a derived
    int key (vocabulary-sized shuffle)."""
    bucket = (F.length("text") / F.lit(bucket_width)).cast("bigint")
    return (
        documents.select((bucket * bucket_width).alias("bucket_lo"), F.length("text").alias("n"))
        .groupBy("bucket_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").alias("total_chars"),
            F.min("n").alias("min_chars"),
            F.max("n").alias("max_chars"),
        )
    )


def sample_deterministic(documents: DataFrame, rate: float = SAMPLE_RATE) -> DataFrame:
    """Content-hash Bernoulli sample of the corpus at ``rate``: keeps
    exactly the rows whose md5(doc_id) prefix clears the threshold
    (see ``_hash_keep``). Reproducible across runs/engines/retries,
    unlike ``DataFrame.sample``."""
    return documents.filter(
        _hash_keep(F.col("doc_id").cast("string"), rate)
    ).select("doc_id", "lang", "source", "n_chars")


#: Pre-training mix: per-language keep rates (upsample the primary
#: training language, downsample the long tail).
MIX_RATES: dict[str, float] = {"en": 0.9, "de": 0.5, "es": 0.5, "fr": 0.5, "zh": 0.25}


def corpus_mix(
    documents: DataFrame, rates: dict[str, float] | None = None
) -> DataFrame:
    """Weighted corpus mixing: per-language deterministic sampling
    rates, the mechanism behind pre-training data mix ratios. The
    keep decision hashes (doc_id, lang) so changing one language's
    rate never reshuffles another's kept set. Languages absent from
    the rate map are dropped (rate 0). Pure filter — the plan is a
    scan with the predicate pushed onto it, no shuffle, no ×N
    union-of-samples."""
    rates = MIX_RATES if rates is None else rates
    seed = F.concat_ws(":", F.col("doc_id").cast("string"), F.col("lang"))
    keep = F.lit(False)
    for lang, rate in sorted(rates.items()):
        keep = keep | ((F.col("lang") == lang) & _hash_keep(seed, rate))
    return documents.filter(keep).select("doc_id", "lang", "source")


def wordcount(documents: DataFrame) -> DataFrame:
    """Flagship: total occurrences per token (the reference's shipped
    job, ``job/WordCount.java:23-52``, with the emission-count quirk
    fixed -- see wordcount_records_containing for literal semantics).

    Plan shape: scan -> generate(explode) -> partial hash agg ->
    exchange on word -> final agg. Shuffle carries (word, partial
    count), not token occurrences, so 100 TB of text shuffles only
    vocabulary x partitions.
    """
    return words_exploded(documents).groupBy("word").agg(F.count("*").alias("cnt"))


def wordcount_records_containing(documents: DataFrame) -> DataFrame:
    """Literal reference semantics: ``WordCount.map`` pre-aggregates
    per record and ``reduce`` returns values.length
    (``job/WordCount.java:25-42,51``), i.e. the number of *records
    containing* the word, not total occurrences."""
    return (
        words_exploded(documents)
        .groupBy("word")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-document token/char statistics (LLM-pipeline quality
    signals). Everything derived from one tokens array -- computed
    once, no shuffle at all."""
    toks = tokens_col("text")
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.round(
            F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
            / F.greatest(F.size(toks), F.lit(1)),
            4,
        ).alias("avg_token_len"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-hit language heuristic. Deterministic argmax with
    fixed preference order en > es > de on ties."""
    toks = tokens_col("text")

    def _hit_counter(ws):
        # single-arg lambda: a two-arg lambda would make F.filter pass
        # the element index as the second argument
        return lambda t: t.isin(*ws)

    hits = {
        lang: F.size(F.filter(toks, _hit_counter(ws))).alias(f"{lang}_hits")
        for lang, ws in STOPWORDS.items()
    }
    df = documents.select("doc_id", "lang", *hits.values())
    pred = (
        F.when(
            (F.col("en_hits") >= F.col("es_hits")) & (F.col("en_hits") >= F.col("de_hits")),
            F.lit("en"),
        )
        .when(F.col("es_hits") >= F.col("de_hits"), F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return df.select("doc_id", "lang", "en_hits", "es_hits", "de_hits", pred.alias("pred_lang"))


def lang_id_confusion(documents: DataFrame) -> DataFrame:
    """Language-ID quality readout: confusion matrix of the stopword
    heuristic's prediction against the labeled ``lang`` column, plus
    each cell's share of its true class (the per-class recall
    diagonal and the error mass off it). The eval every classifier
    swap ships with -- lang-ID errors silently corrupt corpus-mix
    rates downstream, so the matrix is the guard.

    One map-side scoring pass (``lang_id``'s expressions verbatim)
    into ONE partial->final aggregate on the (true, predicted) pair;
    the class-share window runs over the |langs| x |preds| matrix,
    never the corpus.

    Emits (lang, pred_lang, n_docs, class_frac).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    cm = (
        lang_id(documents)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy("lang")
    return cm.select(
        "lang",
        "pred_lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias(
            "class_frac"
        ),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Composite quality score from length / punctuation / stopword
    ratios -- the standard cheap pre-filter before expensive LLM-data
    stages. Score in [0, 1]; all built-in expressions."""
    toks = tokens_col("text")
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    n_punct = F.length(F.regexp_replace(F.lower("text"), r"[a-z0-9\s]", ""))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"])))
    punct_ratio = n_punct * F.lit(1.0) / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop_hits * F.lit(1.0) / F.greatest(n_tokens, F.lit(1))
    length_factor = F.least(n_tokens * F.lit(1.0) / F.lit(100.0), F.lit(1.0))
    score = length_factor * (1 - punct_ratio) * (F.lit(0.5) + F.lit(0.5) * stop_ratio)
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality"),
    )


def quality_stratify(documents: DataFrame) -> DataFrame:
    """Corpus stratification into quality quartiles — the selection
    mechanism for quality-weighted training mixes. Deliberately NOT a
    global ``ntile``: ranking the whole corpus in one window means a
    single-partition sort of everything. Instead: the three quartile
    thresholds come from the distributed-exact ``exact_quantiles``
    kernel (range-partitioned order statistics — no approx/exact
    tradeoff and no single-buffer percentile merge at 100 TB),
    broadcast to a threshold comparison fused into a second scan.
    No global sort, no window."""
    from .relational import exact_quantiles

    scores = quality_score(documents).select("doc_id", "quality")
    th = exact_quantiles(
        scores, "quality", [0.25, 0.5, 0.75], decimals=6
    ).select(F.col("bounds").alias("t")).select(
        F.round(F.col("t")[0], 6).alias("t1"),
        F.round(F.col("t")[1], 6).alias("t2"),
        F.round(F.col("t")[2], 6).alias("t3"),
    )
    quartile = (
        F.when(F.col("quality") <= F.col("t1"), 1)
        .when(F.col("quality") <= F.col("t2"), 2)
        .when(F.col("quality") <= F.col("t3"), 3)
        .otherwise(4)
    )
    return scores.crossJoin(F.broadcast(th)).select(
        "doc_id", "quality", quartile.alias("quartile")
    )


def token_count_bpe(documents: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens vs a BPE-ish regex
    pretokenization (letter runs / digit runs / punctuation singletons)
    -- the cheap proxy for 'how many LLM tokens is this doc'."""
    return documents.select(
        "doc_id",
        F.size(tokens_col("text")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_REGEX), 0)).alias("n_bpe_tokens"),
    )


def token_fertility(documents: DataFrame) -> DataFrame:
    """Per-language tokenizer-fertility report: BPE-ish tokens per
    whitespace word and characters per BPE token -- the standard
    multilingual-tokenizer health check (a language with fertility
    2x the corpus mean pays double the sequence length for the same
    text, which skews both training cost and effective mixing
    weights; chars/token is the compression readout that motivates
    retraining the tokenizer).

    Pure map-side expression work per row (the SAME whitespace and
    ``BPE_REGEX`` pretokenizers as ``token_count_bpe``) followed by
    ONE partial->final aggregate on lang -- integer token/char sums
    stay exact at any corpus size, the two ratios are single double
    divisions on the language-alphabet-sized result.

    Emits (lang, n_docs, n_ws_tokens, n_bpe_tokens, n_chars,
    fertility, chars_per_token).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    base = documents.select(
        "lang",
        F.size(tokens_col("text")).alias("ws"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(BPE_REGEX), 0)
        ).alias("bpe"),
        F.length("text").alias("chars"),
    )
    agg = base.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("ws").cast("bigint").alias("n_ws_tokens"),
        F.sum("bpe").cast("bigint").alias("n_bpe_tokens"),
        F.sum("chars").cast("bigint").alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_ws_tokens",
        "n_bpe_tokens",
        "n_chars",
        F.when(
            F.col("n_ws_tokens") > 0,
            F.round(F.col("n_bpe_tokens") / F.col("n_ws_tokens"), 4),
        ).alias("fertility"),
        F.when(
            F.col("n_bpe_tokens") > 0,
            F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 4),
        ).alias("chars_per_token"),
    )


def ngram_counts(documents: DataFrame, n: int = 2, min_count: int = 2) -> DataFrame:
    """Corpus n-gram (default bigram) frequency table — the raw
    statistics behind language-model heuristics, collocation mining,
    and contamination fingerprints. Explode → partial→final count:
    the shuffle carries one row per distinct n-gram per map partition
    (vocabulary-bounded, not token-bounded). ``min_count`` prunes the
    singleton tail, which at corpus scale is most of the rows."""
    toks = tokens_col("text")
    df = documents.select(toks.alias("toks")).filter(F.size("toks") >= n)
    gram = F.explode(F.expr(grams_expr(n)))
    return (
        df.select(gram.alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def decontaminate_overlap(
    documents: DataFrame,
    benchmark_source: str = "src0",
    n: int = 3,
    min_overlap: int = 2,
    df_cap: int | None = None,
) -> DataFrame:
    """Train/test contamination detection: for each corpus doc, count
    distinct word n-gram shingles it shares with any benchmark doc
    (here: the ``source == benchmark_source`` slice stands in for the
    held-out eval set). The standard decontamination pass before
    pre-training.

    Plan: one shingle pass over each side, hashed 8-byte join keys,
    equi-join on shingle then a grouped count per (corpus doc,
    benchmark doc) — work is proportional to true shingle overlap,
    exactly the inverted-index shape of ``dedup_ngram_jaccard``. At
    100 TB the benchmark side is tiny and broadcasts; skew on stop-
    phrase shingles is AQE's skew-join case, and ``df_cap`` drops
    corpus shingles above that document frequency before the join
    (``dedup.df_cap_shingles``) so stop-phrase fan-out never reaches
    it — overlap then counts discriminative shingles only."""
    from .dedup import df_cap_shingles, shingles

    corpus = documents.filter(F.col("source") != benchmark_source)
    bench = documents.filter(F.col("source") == benchmark_source)
    sh_c = shingles(corpus, n, hashed=True)
    if df_cap is not None:
        sh_c = df_cap_shingles(sh_c, df_cap)
    sh_b = shingles(bench, n, hashed=True).select(
        F.col("doc_id").alias("bench_doc_id"), "shingle"
    )
    return (
        sh_c.join(sh_b, "shingle")
        .groupBy("doc_id", "bench_doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= min_overlap)
    )


def decontaminate_bloom(
    documents: DataFrame,
    benchmark_source: str = "src0",
    n: int = 3,
    min_overlap: int = 2,
    m_bits: int = 1 << 16,
    n_hashes: int = 3,
) -> DataFrame:
    """``decontaminate_overlap`` through a Bloom prefilter -- the
    100 TB shuffle-bytes path: the benchmark shingle set folds into a
    broadcast bitmap (the ``join_bloom_pruned`` kernel), and corpus
    shingles that cannot possibly match are dropped MAP-SIDE before
    the exact verification join. Bloom false positives cost only
    their shuffle -- the equi-join verifies everything that survives,
    so the result is BIT-IDENTICAL to the unfiltered operator (no
    false negatives by construction) and shares its oracle.

    Why it matters at scale: the corpus shingle stream is the
    dominant exchange of the decontamination pass; the benchmark set
    is tiny and fixed. An 8 KB bitmap riding a 1-row broadcast
    replaces shuffling every corpus shingle to meet a benchmark side
    that rejects almost all of them. Bitmap build is a map-side-
    combinable ``bit_or`` over m/64 words; the ONE collect is
    sketch-sized and bounded by ``m_bits`` (same class as the
    count-min broadcast).

    Emits (doc_id, bench_doc_id, n_shared_shingles) -- identical to
    ``decontaminate_overlap``.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    from .dedup import shingles

    corpus = documents.filter(F.col("source") != benchmark_source)
    bench = documents.filter(F.col("source") == benchmark_source)
    sh_b = shingles(bench, n, hashed=True).select(
        F.col("doc_id").alias("bench_doc_id"), "shingle"
    )
    pos = [
        F.pmod(F.xxhash64(F.lit(i), F.col("shingle")), F.lit(m_bits))
        for i in range(n_hashes)
    ]
    words = (
        sh_b.select(F.explode(F.array(*pos)).alias("p"))
        .groupBy((F.col("p") / 64).cast("int").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT)))"
            ).alias("bits")
        )
        .collect()  # bounded: m_bits/64 rows (8 KB default), sketch-sized
    )
    vec = [0] * (m_bits // 64)
    for r in words:
        vec[r["w"]] = r["bits"]
    bloom = documents.sparkSession.createDataFrame([(vec,)], "bf array<long>")
    probe_bits = []
    for i in range(n_hashes):
        p = f"pmod(xxhash64({i}, shingle), {m_bits})"
        probe_bits.append(
            f"((shiftright(element_at(bf, CAST({p} / 64 AS INT) + 1),"
            f" CAST(pmod({p}, 64) AS INT))) & 1) = 1"
        )
    sh_c = (
        shingles(corpus, n, hashed=True)
        .join(F.broadcast(bloom))  # 1-row bitmap broadcast
        .filter(F.expr(" AND ".join(probe_bits)))
        .select("doc_id", "shingle")
    )
    return (
        sh_c.join(sh_b, "shingle")
        .groupBy("doc_id", "bench_doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= min_overlap)
    )


def doc_fingerprint(documents: DataFrame, shingle_len: int = 3) -> DataFrame:
    """Content fingerprint: minimum md5 over word 3-gram shingles
    (a 1-permutation MinHash). Rolling-hash analog kept in SQL-checkable
    form; docs shorter than the shingle length are excluded.
    Fingerprint equality => near-certain shared content window."""
    toks = tokens_col("text")
    df = documents.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= shingle_len)
    fp = F.array_min(F.expr(f"transform({grams_expr(shingle_len)}, g -> md5(g))"))
    return df.select("doc_id", fp.alias("fingerprint"))


def tfidf_top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    Three aggregations over the exploded token stream -- term
    frequency per (doc, word), document frequency per word, corpus
    size -- composed with ln(N/df) idf and a per-doc rank window.
    All shuffles key on word or doc_id; df is a second aggregate of
    the SAME exploded stream, so at scale the token explosion is
    computed once per branch (persist the token stream if the
    scheduler shows it dominating). The tiny corpus-size scalar rides
    a cross join (broadcast, 1 row)."""
    from pyspark.sql import Window

    from ..functions.text import words_exploded

    words = words_exploded(documents)
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = words.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    n = documents.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "word", F.round("tfidf", 4).alias("tfidf"), F.col("rnk").cast("int").alias("rnk"))
    )


def lm_unigram_score(documents: DataFrame) -> DataFrame:
    """Per-document unigram language-model score: the average token
    log-probability under the corpus's own unigram distribution (the
    cheap end of the perplexity-filtering family used to rank training
    documents; a doc of rare tokens scores low, boilerplate scores
    high).

    Plan: one token explosion feeding two aggregates (unigram counts
    keyed on word, per-doc average keyed on doc_id) plus a 1-row
    broadcast corpus total -- the same two-branch shape as
    ``tfidf_top_terms``. No OOV smoothing is needed because the model
    is fit on the scored corpus itself; a held-out model would add
    Laplace smoothing in the same expression. All JVM-side; shuffles
    key on word then doc_id."""
    words = words_exploded(documents)
    counts = words.groupBy("word").agg(F.count("*").alias("c"))
    total = words.select(F.count("*").alias("t"))
    return (
        words.join(counts, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("c") / F.col("t"))), 4).alias("avg_logprob"),
        )
    )


def text_feature_hashing(documents: DataFrame, dim: int = 64) -> DataFrame:
    """Hashing-trick text vectorization (feature hashing a la
    Weinberger et al.): each token hashes to a dimension in [0, dim)
    with a +/-1 sign bit, summed per (doc, dimension). Sparse long
    form (doc_id, dim, feat_val) -- zero dims are absent, so output
    size tracks token diversity, not dim x docs.

    Engine-portable by construction: dimension and sign derive from
    md5 hex prefixes (the repo's cross-engine hash discipline, like
    ``sample_deterministic``), integer arithmetic end to end. One
    explosion, one partial+final hash aggregation -- the vocabulary-
    free embedding step of a bag-of-words training pipeline at any
    scale (no vocabulary build pass, no OOV)."""
    words = words_exploded(documents)
    h = F.conv(F.substring(F.md5("word"), 1, 4), 16, 10).cast("bigint")
    sign_bit = F.conv(F.substring(F.md5("word"), 5, 1), 16, 10).cast("bigint") % 2
    sign = F.when(sign_bit == 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        words.groupBy("doc_id", F.pmod(h, F.lit(dim)).cast("int").alias("dim"))
        .agg(F.sum(sign).alias("feat_val"))
    )


def curation_pipeline(
    documents: DataFrame,
    min_quality: float = 0.2,
    langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """End-to-end training-data curation: exact dedup -> language
    filter -> quality gate -> per-doc token accounting. The composed
    form a 100 TB pre-training pipeline actually runs, declared as one
    operator so the whole chain is oracle-checked.

    Plan shape: one shuffle for the dedup window (content hash), then
    the language/quality stages are pure per-row expressions fused
    into the same stage by codegen -- the pipeline costs one pass over
    the corpus plus the dedup exchange, and the token accounting adds
    no further shuffle."""
    from .dedup import dedup_apply

    kept = dedup_apply(documents)
    toks = tokens_col("text")
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    n_punct = F.length(F.regexp_replace(F.lower("text"), r"[a-z0-9\s]", ""))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"])))
    punct_ratio = n_punct * F.lit(1.0) / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop_hits * F.lit(1.0) / F.greatest(n_tokens, F.lit(1))
    length_factor = F.least(n_tokens * F.lit(1.0) / F.lit(100.0), F.lit(1.0))
    score = length_factor * (1 - punct_ratio) * (F.lit(0.5) + F.lit(0.5) * stop_ratio)
    return (
        kept.filter(F.col("lang").isin(*langs))
        .withColumn("quality", F.round(score, 4))
        .filter(F.col("quality") >= min_quality)
        .select(
            "doc_id",
            "lang",
            F.col("quality"),
            n_tokens.alias("n_tokens"),
            F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_REGEX), 0)).alias(
                "n_bpe_tokens"
            ),
        )
    )


def countmin_heavy_hitters(
    documents: DataFrame,
    threshold: int = 20,
    k: int = 25,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Sketch-accelerated heavy hitters: a count-min sketch prunes the
    vocabulary to candidate tokens, exact counting + top-k runs on the
    survivors only -- so the RESULT is exact (hash-checked against the
    plain GROUP BY oracle) while the expensive exact aggregation never
    sees the long tail.

    CMS one-sided error is the load-bearing property: every cell
    estimate >= the true count (collisions only ADD), so filtering on
    ``min over depth cells >= threshold`` can never drop a true heavy
    hitter -- no false negatives, only extra candidates that the exact
    re-count then discards. Asserted in tests.

    Scale shape: the sketch is ``depth x width`` int64 cells built by
    one partial->final agg over (d, cell) keys (token occurrences
    never shuffle raw -- map-side combine collapses them to <= 4096
    partial rows per partition); the cells BROADCAST (32 KB); the
    candidate filter and estimate are expression-side lookups against
    that broadcast map; the exact re-count aggregates only tokens that
    beat the threshold. At 100 TB the exact agg's key space shrinks
    from full vocabulary to the heavy tail above ``threshold``."""
    words = words_exploded(documents).select("word")
    cell = lambda d: F.pmod(F.xxhash64("word", F.lit(d)), F.lit(width))  # noqa: E731
    cells = words.select(
        F.explode(
            F.array(*[F.struct(F.lit(d).alias("d"), cell(d).alias("cell")) for d in range(depth)])
        ).alias("c")
    ).groupBy("c.d", "c.cell").agg(F.count("*").alias("n"))
    # depth x width cells as a broadcast lookup keyed "d:cell"
    sketch = F.broadcast(
        cells.select(
            F.concat_ws(":", F.col("d"), F.col("cell")).alias("dc"), "n"
        )
    )
    vocab = words.distinct()
    est = None
    for d in range(depth):
        alias = f"n{d}"
        vocab = vocab.join(
            sketch.withColumnRenamed("n", alias).withColumnRenamed("dc", f"dc{d}"),
            F.concat_ws(":", F.lit(d), cell(d)) == F.col(f"dc{d}"),
        ).drop(f"dc{d}")
        e = F.col(alias)
        est = e if est is None else F.least(est, e)
    candidates = vocab.filter(est >= threshold).select("word")
    exact = (
        words.join(F.broadcast(candidates), "word", "left_semi")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= threshold)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("word"))
    return (
        exact.select("word", "cnt", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


def dup_ngram_fraction(documents: DataFrame, n: int = 3) -> DataFrame:
    """Corpus-wide duplicate n-gram fraction per document -- the
    Gopher/Dolma "dup n-gram" quality signal: what fraction of a
    doc's n-gram OCCURRENCES also appear in at least one OTHER
    document. High scores mark boilerplate and templated spam that
    exact/near dedup keeps (the docs differ) but a trainer still
    shouldn't over-weight. Complements ``repetition_score`` (WITHIN-
    doc repeats) and ``dedup_substring`` (pairwise span evidence) --
    this is the corpus-level prevalence readout.

    Plan: one projection builds per-doc (shingle, multiplicity) via a
    grams explode + keyed count (the shared ``grams_expr``
    definition, 8-byte xxhash64 keys -- the ``shingles`` discipline);
    document frequency is ONE more partial->final count over the
    (doc, shingle) distinct stream; a single keyed shuffle-hash join
    brings df back and the per-doc fold is an aggregate on doc_id.
    Every exchange keys on shingle-hash or doc_id; nothing
    materializes per-doc arrays and no stage is quadratic in df (the
    join is index->doc, not doc->doc). At 100 TB the df table is
    vocab-sized, so the join shuffles -- if a broadcastable duplicated
    set is known small, ``df_cap_shingles``'s hot-set trick applies,
    but correctness here needs every df>=2 shingle.

    Emits (doc_id, n_grams, dup_grams, dup_frac) for docs with >= n
    tokens.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    toks = tokens_col("text")
    base = documents.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= n
    )
    g = F.explode(F.expr(grams_expr(n)))
    inst = base.select("doc_id", g.alias("shingle")).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    mult = inst.groupBy("doc_id", "shingle").agg(F.count("*").alias("cnt"))
    dfreq = mult.groupBy("shingle").agg(F.count("*").alias("df"))
    joined = mult.join(dfreq.hint("shuffle_hash"), "shingle")
    dup = F.sum(F.when(F.col("df") >= 2, F.col("cnt")).otherwise(F.lit(0)))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_grams"),
            dup.cast("bigint").alias("dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "dup_grams",
            F.round(F.col("dup_grams") / F.col("n_grams"), 4).alias(
                "dup_frac"
            ),
        )
    )


def novelty_fraction(documents: DataFrame, n: int = 3) -> DataFrame:
    """First-occurrence novelty per document: the fraction of a doc's
    DISTINCT n-grams for which this doc is the FIRST (minimum doc_id)
    document containing them -- the "how much genuinely new text does
    this doc add" signal dedup-aware sampling orders by (a crawl
    snapshot's re-crawls score near 0, fresh content near 1). The
    attribution dual of ``quality_dup_ngram_frac``: that one asks
    "how much of me exists elsewhere", this one asks "how much of the
    corpus did I contribute first".

    One distinct (doc, shingle) stream (8-byte hashed keys, the
    ``shingles`` discipline), ONE min-owner aggregate per shingle,
    one keyed join back, one per-doc fold -- the same two-shuffle
    envelope as the dup-fraction operator, nothing quadratic in
    document frequency anywhere.

    Emits (doc_id, n_grams, n_novel, novelty_frac) for docs with
    >= n tokens.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    from .dedup import shingles

    sh = shingles(documents, n, hashed=True)
    owner = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    joined = sh.join(owner.hint("shuffle_hash"), "shingle")
    novel = F.sum(
        F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            novel.cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 4).alias(
                "novelty_frac"
            ),
        )
    )


def repetition_score(documents: DataFrame, n: int = 3) -> DataFrame:
    """Boilerplate/looping-text quality signal: the fraction of a
    document's ``n``-gram occurrences that are repeats of an n-gram
    already seen in the SAME document (0 = all distinct, ->1 = the doc
    loops). The standard pretraining-corpus repetition filter
    (templated spam and decoder loops score high).

    Pure expression work per row -- the n-gram array and its distinct
    count come from one projection (the shared ``grams_expr``
    definition), no explode, no shuffle: at 100 TB this is a map-only
    scan. Docs shorter than ``n`` tokens score 0 by convention (no
    n-grams to repeat)."""
    grams = F.expr(grams_expr(n))
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    short = F.size(F.col("toks")) < n
    return (
        documents.select("doc_id", tokens_col("text").alias("toks"))
        .select(
            "doc_id",
            F.when(short, F.lit(0)).otherwise(total).alias("n_grams"),
            F.when(short | (total <= 0), F.lit(0.0))
            .otherwise(F.round((total - distinct) / total, 4))
            .alias("repetition_ratio"),
        )
    )


def sequence_packing(
    documents: DataFrame, budget: int = 2048, num_shards: int = 32
) -> DataFrame:
    """Greedy sequence packing for training-batch construction: docs
    stream in deterministic (lang, doc_id) order and each doc joins
    the current pack until the pack's token budget would overflow, at
    which point a new pack starts -- the classic first-fit-by-order
    packer. pack_id = floor((cumsum(tokens) - tokens) / budget): a doc
    whose prefix-sum crosses a budget boundary starts the next pack.
    Packs are keyed per language (packing across languages is never
    wanted); oversized docs (> budget tokens) get a pack of their own,
    as first-fit dictates.

    First-fit-by-order needs an EXACT global prefix sum per language,
    which a single `Window.partitionBy(lang)` would serialize -- each
    language's whole corpus through one reducer at 100 TB. Instead the
    prefix sum is computed in two parallel phases over a range
    partitioning on (lang, doc_id):

      1. range-shard the stream into ``num_shards`` order-contiguous
         shards; per-(lang, shard) token totals roll up to a tiny
         offsets table (``num_shards`` x #langs rows), on which a
         cheap cumulative window yields each shard's starting offset;
      2. a within-shard running-sum window (partitioned by lang AND
         shard -- parallel across shards) plus the broadcast offset
         reconstructs the exact global prefix sum.

    The sharded stream is a NARROW projection (doc_id, lang,
    n_tokens, shard -- the text column is dropped before the range
    exchange), and it is localCheckpoint'ed so both phases read one
    materialization: tokenization and the range shuffle run exactly
    once, and the shard ids both phases see are identical by
    construction. The shard boundaries never affect the OUTPUT --
    offset + within-shard cumsum equals the global cumsum wherever
    the cuts land, so results are bit-identical to the serial window
    (exact integer arithmetic throughout)."""
    from pyspark.sql import Window

    toks = F.size(tokens_col("text"))
    parts = (
        documents.select("doc_id", "lang", toks.alias("n_tokens"))
        .repartitionByRange(num_shards, "lang", "doc_id")
        .withColumn("shard", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w_off = (
        Window.partitionBy("lang")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        parts.groupBy("lang", "shard")
        .agg(F.sum("n_tokens").alias("shard_total"))
        .select(
            "lang",
            "shard",
            F.coalesce(F.sum("shard_total").over(w_off), F.lit(0)).alias("offset"),
        )
    )
    w_in = Window.partitionBy("lang", "shard").orderBy("doc_id")
    cum = F.col("offset") + F.sum("n_tokens").over(w_in)
    return (
        parts.join(F.broadcast(offsets), ["lang", "shard"])
        .withColumn(
            "pack_id",
            F.floor((cum - F.col("n_tokens")) / F.lit(budget)).cast("int"),
        )
        .select("doc_id", "lang", "n_tokens", "pack_id")
    )


def char_entropy(documents: DataFrame) -> DataFrame:
    """Per-document Shannon character entropy (bits/char) -- the
    cheap garbage detector of the quality family: base64 blobs and
    random noise sit near the top of the scale, templated boilerplate
    near the bottom, prose in between.

    Plan: explode characters via ``split(text, '')`` (codegen'd
    single pass; measured 8x over the interpreted
    transform+substring HOF, whose per-char substring makes the array
    build quadratic in doc length — the oracle mirrors the same
    char stream with its RE2-safe sequence+substr form), count per
    (doc, char), fold -sum(p*log2(p)) per doc -- both aggregations
    partial+final, keyed on (doc_id, ch) then doc_id, so the
    character stream shuffles compressed to per-doc histograms
    (alphabet-bounded: <= a few hundred rows per doc regardless of
    doc length). Entropy is summed over integer-derived terms and
    rounded once, keeping the value cross-engine stable."""
    chars = documents.filter(F.length("text") > 0).select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.explode(F.split("text", "")).alias("ch"),
    )
    hist = chars.groupBy("doc_id", "n_chars", "ch").agg(F.count("*").alias("c"))
    p = F.col("c") / F.col("n_chars")
    return (
        hist.groupBy("doc_id")
        .agg(
            F.max("n_chars").alias("n_chars"),
            F.round(-F.sum(p * F.log2(p)), 4).alias("char_entropy"),
        )
    )


#: Fixed retrieval query for the declared bm25 operator (constants so
#: the oracle is a closed expression; a real system parameterizes).
BM25_QUERY_TERMS = ("data", "model", "training", "quality")


def bm25_score(
    documents: DataFrame,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a fixed term set --
    the standard retrieval scorer (and the dedup-adjacent "find docs
    about X" tool of a data-curation stack).

    score(d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)),
    idf(t) = ln(1 + (N-df+0.5)/(df+0.5)).

    Plan: one token explosion restricted to the query terms by a
    pushed-in isin filter (the stream that survives is tiny: only
    query-term occurrences), tf per (doc, term) + per-term df as
    aggregates of that filtered stream, doc lengths and corpus stats
    as broadcast scalars. Work scales with query-term occurrences,
    not corpus vocabulary."""
    from ..functions.text import words_exploded

    words = words_exploded(documents)
    dl = documents.select(
        "doc_id", F.size(tokens_col("text")).alias("dl")
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qwords = words.filter(F.col("word").isin(*terms))
    tf = qwords.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = qwords.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    per_term = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "word",
            (idf * F.col("tf") * (k1 + 1) / denom).alias("term_score"),
        )
    )
    return (
        per_term.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_matched_terms"),
            F.round(F.sum("term_score"), 4).alias("bm25"),
        )
    )


#: train/val boundaries for ``stratified_split`` (cumulative rates),
#: shared with the oracle through ``hash_threshold``.
SPLIT_TRAIN = 0.8
SPLIT_VAL = 0.9  # cumulative: val is (0.8, 0.9], test is the rest


def stratified_split(documents: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment plus the per-stratum
    audit counts a dataset release needs.

    The split decision is a pure row function — the first 4 hex chars
    of ``md5('split|' || doc_id)`` against the cumulative-rate
    thresholds — so it is reproducible across runs, retries, engines,
    and incremental backfills (same discipline as
    ``sample_deterministic``; Spark's ``randomSplit`` is
    partitioning-dependent and would not oracle-check). Stratification
    is by (lang, source): the hash is uniform within every stratum, so
    each stratum independently lands near 80/10/10 in expectation
    without any shuffle for the ASSIGNMENT itself; the single shuffle
    here is the audit aggregation. Emitting the per-stratum counts
    (rather than 100 M per-doc rows) is also the 100 TB shape: the
    assignment column is a zero-cost expression consumers re-derive.

    Emits (lang, source, split, n_docs) — one row per stratum x split.
    """
    h = F.substring(
        F.md5(F.concat_ws("|", F.lit("split"), F.col("doc_id").cast("string"))),
        1,
        4,
    )
    split = (
        F.when(h < F.lit(hash_threshold(SPLIT_TRAIN)), "train")
        .when(h < F.lit(hash_threshold(SPLIT_VAL)), "val")
        .otherwise("test")
    )
    return (
        documents.select("lang", "source", split.alias("split"))
        .groupBy("lang", "source", "split")
        .agg(F.count("*").alias("n_docs"))
    )


#: doc_chunking window geometry (tokens), shared with the oracle.
CHUNK_SIZE = 32
CHUNK_STRIDE = 24  # 8-token overlap between neighboring chunks


def doc_chunking(
    documents: DataFrame,
    size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Overlapping token-window chunker — the RAG/embedding-prep step
    that turns documents into model-sized passages.

    Pure expression plan: one tokenization, chunk starts from
    ``sequence(1, n_tokens, stride)``, one explode, ``slice`` +
    ``concat_ws`` per chunk. Map-only (NO shuffle at all): chunk
    construction is row-local, so it scales with scan bandwidth and
    parallelism is the file-split count. The trailing partial chunk is
    kept (standard RAG practice) and empty docs yield no chunks.

    Emits (doc_id, chunk_idx, n_chunk_tokens, chunk).
    """
    toks = tokens_col("text")
    n = F.size("toks")
    return (
        documents.select("doc_id", toks.alias("toks"))
        .filter(n >= 1)
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(1), n, F.lit(stride))).alias("start"),
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / stride).cast("int").alias("chunk_idx"),
            F.least(
                F.lit(size), F.size("toks") - F.col("start") + 1
            ).cast("int").alias("n_chunk_tokens"),
            F.concat_ws(
                " ", F.slice("toks", F.col("start"), F.lit(size))
            ).alias("chunk"),
        )
    )


def key_skew_profile(events: DataFrame) -> DataFrame:
    """Key-skew diagnostic over the (user_id) grouping key: a log2
    count-of-counts histogram — the operational tool that tells you
    BEFORE a 100 TB join/agg whether salting or AQE skew handling is
    needed, produced with two map-side-combinable aggregations (per-key
    counts, then per-bucket fold; output is ~64 rows max).

    Bucketing uses ``floor(log2(c + 0.5))``: the +0.5 shifts bucket
    boundaries off exact powers of two so float log2 never flips a
    boundary key (exact for all c < 2^52).

    Emits (count_bucket, n_keys, n_events, max_key_count).
    """
    per_key = events.groupBy("user_id").agg(F.count("*").alias("c"))
    return (
        per_key.select(
            F.floor(F.log2(F.col("c") + 0.5)).cast("int").alias("count_bucket"),
            "c",
        )
        .groupBy("count_bucket")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("c").alias("n_events"),
            F.max("c").alias("max_key_count"),
        )
    )


def group_sample_topk(events: DataFrame, k: int = 5) -> DataFrame:
    """Deterministic uniform k-sample per group (event_type): rank by
    md5 of the unique row key and keep the first k — the per-stratum
    eval-set / spot-check sampler.

    Unlike a reservoir over arbitrary partition order, the hash rank
    makes the sample a pure function of the DATA: stable across runs,
    engines, retries, and incremental reprocessing. One window shuffle
    keyed by the group; per-group state in the rank window is a single
    counter.

    Emits (event_type, event_id, sample_rank).
    """
    h = F.md5(F.concat_ws("|", F.lit("sample"), F.col("event_id").cast("string")))
    w = Window.partitionBy("event_type").orderBy(h, "event_id")
    return (
        events.select("event_type", "event_id")
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def lm_bigram_score(documents: DataFrame, k: float = 0.5) -> DataFrame:
    """Per-document bigram language-model score with add-k smoothing:
    avg log2 P(w_i | w_{i-1}) under the corpus's own bigram counts —
    one rung up the perplexity-filter ladder from
    ``lm_unigram_score`` (catches scrambled/unnatural word ORDER that
    unigram statistics cannot see).

    P(w2|w1) = (c2(w1,w2) + k) / (c1(w1) + k*V), V = vocabulary size.

    Plan: the bigram stream is a row-local expression (no
    self-join — ``transform(sequence(...))`` zips each token array
    with its own tail); it feeds the bigram-count aggregate, the
    unigram-count aggregate, and the per-doc scoring join. Both count
    joins are keyed shuffles (vocabulary can exceed broadcast size at
    corpus scale); V is the only 1-row broadcast. Docs with < 2
    tokens have no bigrams and are absent, mirrored by the oracle.

    Emits (doc_id, n_bigrams, avg_log2p).
    """
    toks = tokens_col("text")
    pairs = (
        documents.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )
    words = words_exploded(documents)
    c1 = words.groupBy("word").agg(F.count("*").alias("c1"))
    c2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    v = words.select(F.count_distinct("word").cast("double").alias("v"))
    return (
        pairs.join(c2, ["w1", "w2"])
        .join(c1, pairs["w1"] == c1["word"])
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(F.log2((F.col("c2") + k) / (F.col("c1") + k * F.col("v")))), 4
            ).alias("avg_log2p"),
        )
    )


#: ln(0.4) in integer micro-nats -- the stupid-backoff discount is a
#: FIXED integer constant, never a runtime transcendental, so the
#: backoff chain adds exactly the same integer on both engines.
_BACKOFF_MNAT = -916_291


def lm_trigram_backoff(documents: DataFrame) -> DataFrame:
    """Per-document trigram stupid-backoff LM score (Brants et al.
    2007) -- the next rung of the perplexity-filter ladder above
    ``lm_bigram_score``: trigram context catches local word-order
    breakage bigrams can't, and stupid backoff (fixed 0.4 discount,
    no normalization) is the smoothing actually used at corpus scale
    because it needs nothing but raw counts.

        S(w3 | w1 w2) = c(w1w2w3) / c(w1w2)         if trigram seen
                      = 0.4 * S(w3 | w2)             else
        S(w3 | w2)    = c(w2w3) / c(w2)              if bigram seen
                      = 0.4 * (c(w3) + 1) / (N + V)  else (add-one floor)

    HELD-OUT split, not self-scoring: counts come from the TRAIN half
    (even doc_id), scores are emitted for the HELD-OUT half (odd
    doc_id). Scoring a corpus against its own counts never backs off
    (every observed trigram is in the table by construction) -- the
    held-out shape is also what a production quality filter does:
    score incoming docs under a reference LM.

    Determinism discipline (the ulm_train micro-nat contract): each
    count ratio becomes ``round((ln(c_num) - ln(c_den)) * 1e6)`` --
    ONE rounded transcendental per scored token -- and the 0.4
    discounts add the fixed integer ``_BACKOFF_MNAT`` per backoff
    level, so per-doc totals are exact integer sums (fold-order-free)
    and the final average is a single double division rounded 6.

    Plan: the trigram stream is a row-local expression (transform
    over the token array, no self-join and no window exchange); it
    feeds the trigram/bigram/unigram count aggregates (map-side
    combine; gram-keyed shuffles -- gram tables exceed broadcast size
    at corpus scale) and the scoring joins. (N, V) ride as the only
    1-row broadcast. Held-out docs with < 3 tokens have no trigrams
    and are absent, mirrored by the oracle.

    Emits (doc_id, n_scored, n_tri, n_bi_backoff, n_uni_backoff,
    avg_logp) -- branch usage counts plus the avg natural-log score
    per scored token, rounded 6.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md section 2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    toks = tokens_col("text")

    def tri_from(tok_df):
        return (
            tok_df.filter(F.size("toks") >= 3)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(toks) - 2),"
                        " i -> struct(toks[i - 1] AS w1, toks[i] AS w2,"
                        " toks[i + 1] AS w3))"
                    )
                ).alias("t"),
            )
            .select("doc_id", "t.w1", "t.w2", "t.w3")
        )

    # r13 measured-and-rejected: spreading the half-scans OR
    # checkpointing the tokenized train stream both cost MORE than the
    # duplicated tokenize they save (same-session A/B min-of-3:
    # original 1.38 s, consts-from-uni-only 1.15 s, +spread 1.77 s,
    # +checkpoint 1.77 s) -- the three count aggregates over the
    # shared scan pipeline parallelize fine; materializing the token
    # arrays does not pay at any tested shape. Kept: consts from uni.
    train = documents.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    held = documents.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    tr_toks = train.select("doc_id", toks.alias("toks"))
    words = tr_toks.select(F.explode("toks").alias("word"))
    uni = words.groupBy("word").agg(F.count("*").alias("cu"))
    bi = (
        tr_toks.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("b")
        )
        .groupBy("b.w1", "b.w2")
        .agg(F.count("*").alias("cb"))
    )
    tri = (
        tri_from(tr_toks)
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("ct"))
    )
    # (N, V) are algebraic over the unigram table -- no fourth pass
    # over the corpus: N = sum(cu), V = |uni|
    consts = uni.agg(
        F.sum("cu").cast("double").alias("nn"),
        F.count("*").cast("double").alias("vv"),
    )

    def lnr(num, den):
        return (
            F.round((F.log(num.cast("double")) - F.log(den)) * F.lit(1e6), 0)
            .cast("long")
        )

    bi12 = bi.select(
        F.col("w1"), F.col("w2"), F.col("cb").alias("cb12")
    )
    bi23 = bi.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"),
        F.col("cb").alias("cb23"),
    )
    uni2 = uni.select(F.col("word").alias("w2"), F.col("cu").alias("cu2"))
    uni3 = uni.select(F.col("word").alias("w3"), F.col("cu").alias("cu3"))
    branch = (
        F.when(F.col("ct").isNotNull(), F.lit(0))
        .when(F.col("cb23").isNotNull(), F.lit(1))
        .otherwise(F.lit(2))
    )
    mnat = (
        F.when(
            F.col("ct").isNotNull(),
            lnr(F.col("ct"), F.col("cb12").cast("double")),
        )
        .when(
            F.col("cb23").isNotNull(),
            F.lit(_BACKOFF_MNAT)
            + lnr(F.col("cb23"), F.col("cu2").cast("double")),
        )
        .otherwise(
            F.lit(2 * _BACKOFF_MNAT)
            + lnr(
                F.coalesce(F.col("cu3"), F.lit(0)) + F.lit(1),
                F.col("nn") + F.col("vv"),
            )
        )
    )
    scored = (
        tri_from(held.select("doc_id", toks.alias("toks")))
        .join(tri, ["w1", "w2", "w3"], "left")
        .join(bi12, ["w1", "w2"], "left")
        .join(bi23, ["w2", "w3"], "left")
        .join(uni2, "w2", "left")
        .join(uni3, "w3", "left")
        .crossJoin(F.broadcast(consts))
        .select("doc_id", branch.alias("br"), mnat.alias("mnat"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_scored"),
        F.sum((F.col("br") == 0).cast("long")).alias("n_tri"),
        F.sum((F.col("br") == 1).cast("long")).alias("n_bi_backoff"),
        F.sum((F.col("br") == 2).cast("long")).alias("n_uni_backoff"),
        F.round(
            F.sum("mnat") / (F.count("*") * F.lit(1_000_000.0)), 6
        ).alias("avg_logp"),
    )


def vocab_coverage(documents: DataFrame, top_v: int = 64) -> DataFrame:
    """Tokenizer-prep vocabulary curve: the ``top_v`` most frequent
    words with rank and CUMULATIVE corpus coverage — the standard
    "how big must the vocab be" analysis before fixing a tokenizer.

    One token explosion -> word counts (map-side combinable), then
    the top_v cut via TakeOrderedAndProject (per-partition heaps —
    the vocabulary is never globally sorted), and rank +
    running-coverage windows over the ≤top_v surviving rows (bounded
    by the knob, not the data; the corpus token total joins as a
    1-row broadcast — the shared aggregation exchange is reused, so
    the explosion still runs once). Ties break by word so both
    engines rank identically. Coverage is exact rational arithmetic
    until the one final rounding.

    Emits (rank, word, cnt, cum_coverage).
    """
    words = words_exploded(documents)
    counts = words.groupBy("word").agg(F.count("*").alias("cnt"))
    # top_v cut FIRST, via TakeOrderedAndProject (per-partition heaps,
    # k-row driver merge) — never a global row_number sort of the
    # whole vocabulary; the rank/coverage windows then run over the
    # ≤top_v-row result, and the corpus total rides a 1-row broadcast.
    top = counts.orderBy(F.col("cnt").desc(), "word").limit(top_v)
    total = counts.agg(F.sum("cnt").alias("n_total"))
    order = Window.orderBy(F.col("cnt").desc(), "word")
    run = order.rowsBetween(Window.unboundedPreceding, 0)
    return top.crossJoin(F.broadcast(total)).select(
        F.row_number().over(order).alias("rank"),
        "word",
        "cnt",
        F.round(F.sum("cnt").over(run) / F.col("n_total"), 6).alias(
            "cum_coverage"
        ),
    )


def vocab_zipf_fit(documents: DataFrame, top_v: int = 64) -> DataFrame:
    """Zipf-law fit over the rank-frequency curve: OLS of log2(freq)
    on log2(rank) for the ``top_v`` most frequent words -- the
    corpus-linguistics health check behind ``vocab_coverage``'s
    curve. Natural text fits a slope near -1 with high r-squared;
    templated/machine corpora bend the curve (flat head = boilerplate
    injection, steep head = tiny effective vocabulary), so the fitted
    exponent is a one-number drift monitor for corpus composition.

    The word counts and top-V cut are the ``vocab_coverage`` plan
    verbatim (combinable count, TakeOrderedAndProject -- the
    vocabulary is never globally sorted); the regression is the
    ``trend_regression`` closed form over the <= top_v surviving
    rows: explicit moment sums, slope/intercept/r-squared row-local
    on the ONE-row result. Nothing after the word count scales with
    the corpus.

    Emits ONE row: (n_words, zipf_exponent, intercept, r2) with
    ``zipf_exponent = -slope`` (positive for Zipfian data).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    words = words_exploded(documents)
    counts = words.groupBy("word").agg(F.count("*").alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), "word").limit(top_v)
    order = Window.orderBy(F.col("cnt").desc(), "word")
    xy = top.select(
        F.log2(F.row_number().over(order)).alias("x"),
        F.log2("cnt").alias("y"),
    )
    m = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    covn = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = covn / varx
    return m.filter((F.col("n") > 2) & (varx > 0) & (vary > 0)).select(
        F.col("n").cast("bigint").alias("n_words"),
        F.round(-slope, 4).alias("zipf_exponent"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
        F.round(covn * covn / (varx * vary), 4).alias("r2"),
    )


def pair_pmi(documents: DataFrame, min_count: int = 5, k: int = 30) -> DataFrame:
    """Collocation mining: top-k adjacent word pairs by pointwise
    mutual information, pmi = log2(c2 * N / (c1(w1) * c1(w2))) — the
    classic phrase detector (Church & Hanks), the step that feeds
    multi-word tokens into a tokenizer.

    Reuses the row-local bigram zip of ``lm_bigram_score``; unigram
    and bigram counts are two combinable aggregations; the scoring
    join is keyed on words (vocabulary can exceed broadcast at corpus
    scale) with only the 1-row token total broadcast. ``min_count``
    is the standard low-frequency PMI guard. Ties break on the pair.

    Emits (w1, w2, n_pair, pmi).
    """
    toks = tokens_col("text")
    pairs = (
        documents.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    words = words_exploded(documents)
    c1 = words.groupBy("word").agg(F.count("*").alias("c1"))
    c2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    total = words.select(F.count("*").cast("double").alias("n_tokens"))
    c1a = c1.select(F.col("word").alias("w1"), F.col("c1").alias("c1a"))
    c1b = c1.select(F.col("word").alias("w2"), F.col("c1").alias("c1b"))
    pmi = F.log2(
        F.col("n_pair") * F.col("n_tokens") / (F.col("c1a") * F.col("c1b"))
    )
    scored = (
        c2.filter(F.col("n_pair") >= min_count)
        .join(c1a, "w1")
        .join(c1b, "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "n_pair", F.round(pmi, 4).alias("pmi"))
    )
    # top-k via TakeOrderedAndProject (per-partition heaps), never a
    # global row_number sort of the scored pair vocabulary
    return scored.orderBy(
        F.col("pmi").desc(), "w1", "w2"
    ).limit(k)


def pair_llr(documents: DataFrame, min_count: int = 5, k: int = 30) -> DataFrame:
    """Collocation mining by Dunning's log-likelihood ratio (Dunning
    1993) -- the significance-aware companion to ``pair_pmi``: PMI
    over-rewards rare pairs (two hapaxes that co-occur once get a
    huge score), while the G^2 statistic weighs the FULL 2x2
    contingency table of the bigram stream, so high scores need both
    association AND evidence. The standard phrase-table builder for
    tokenizer multi-word entries.

    Counts are three combinable aggregations over the SAME row-local
    bigram zip as ``pair_pmi``/``lm_bigram_score`` (pair counts,
    first-word margins, second-word margins -- margins from the
    BIGRAM stream, not unigrams: doc-final tokens never open a pair);
    the scoring joins key on single words, the 1-row bigram total
    broadcasts. The G^2 sum is four k*ln(kN/(rc)) terms in FIXED
    written order (zero-count terms contribute 0 by the CASE guard on
    both engines), rounded once. Top-k via TakeOrderedAndProject,
    ties broken on the pair.

    Emits (w1, w2, n_pair, llr).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    toks = tokens_col("text")
    pairs = (
        documents.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    c2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("k11"))
    r = pairs.groupBy("w1").agg(F.count("*").alias("r1"))
    c = pairs.groupBy("w2").agg(F.count("*").alias("c1"))
    tot = pairs.select(F.count("*").alias("n"))

    def term(kc: str, rc, cc):
        num = F.col(kc) * F.lit(1.0) * F.col("n")
        den = rc * F.lit(1.0) * cc
        return F.when(
            F.col(kc) > 0, F.col(kc) * F.log(num / den)
        ).otherwise(F.lit(0.0))

    sc = (
        c2.filter(F.col("k11") >= min_count)
        .join(r, "w1")
        .join(c, "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn("k12", F.col("r1") - F.col("k11"))
        .withColumn("k21", F.col("c1") - F.col("k11"))
        .withColumn(
            "k22", F.col("n") - F.col("r1") - F.col("c1") + F.col("k11")
        )
    )
    llr = F.lit(2.0) * (
        term("k11", F.col("r1"), F.col("c1"))
        + term("k12", F.col("r1"), F.col("n") - F.col("c1"))
        + term("k21", F.col("n") - F.col("r1"), F.col("c1"))
        + term("k22", F.col("n") - F.col("r1"), F.col("n") - F.col("c1"))
    )
    scored = sc.select(
        "w1",
        "w2",
        F.col("k11").cast("bigint").alias("n_pair"),
        F.round(llr, 4).alias("llr"),
    )
    return scored.orderBy(F.col("llr").desc(), "w1", "w2").limit(k)


def split_leakage_audit(documents: DataFrame, prefix_len: int = 24) -> DataFrame:
    """Train/test contamination audit: content fingerprints (md5 of
    the normalized prefix key) that appear in MORE THAN ONE split of
    ``stratified_split`` — the leakage check every dataset release
    runs before shipping an eval set. Composes the split's hash
    assignment with an exact-duplicate fingerprint; near-dup leakage
    is the same query over ``dedup_minhash`` clusters instead.

    Two combinable aggregations (fingerprint groups, then the
    split-span filter); output is only the leaky groups. The splits
    column is a sorted set (bounded by 3) so both engines render it
    identically.

    Emits (fp, n_docs, splits).
    """
    h = F.substring(
        F.md5(F.concat_ws("|", F.lit("split"), F.col("doc_id").cast("string"))),
        1,
        4,
    )
    split = (
        F.when(h < F.lit(hash_threshold(SPLIT_TRAIN)), "train")
        .when(h < F.lit(hash_threshold(SPLIT_VAL)), "val")
        .otherwise("test")
    )
    fp = F.md5(F.lower(F.substring("text", 1, prefix_len)))
    return (
        documents.select(fp.alias("fp"), split.alias("split"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.concat_ws(",", F.array_sort(F.collect_set("split"))).alias("splits"),
        )
        .filter(F.size(F.split("splits", ",")) > 1)
    )


def bpe_merge_step(documents: DataFrame, k: int = 20) -> DataFrame:
    """One BPE tokenizer-training iteration (Sennrich et al. 2016):
    the top-k adjacent SYMBOL pairs by corpus frequency, the pair a
    byte-pair-encoding trainer would merge next. Round 1 of the real
    algorithm — symbols are single characters; later rounds would
    re-run the same query over the merged symbol stream.

    The scale discipline mirrors ``vocab_coverage``: compress to the
    DISTINCT-WORD vocabulary first (one combinable word count), then
    explode character pairs over vocabulary entries weighted by word
    frequency — at 100 TB the pair explosion runs over the
    vocab-bounded word list, never the corpus. Pair counts are one
    further combinable aggregation; the top-k window orders the
    pair alphabet (alphabet², tiny). Ties break on the pair so both
    engines rank identically.

    Reference licence: WordCount is the reference's flagship job
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52); this is
    the tokenizer-training query built on the same word-frequency
    substrate.

    Emits (rank, sym_a, sym_b, n_pair).
    """
    vocab = words_exploded(documents).groupBy("word").agg(
        F.count("*").alias("word_freq")
    )
    # single-char words carry no pair; the guard also keeps the
    # sequence() bound positive (Spark's sequence(1, 0) DESCENDS and
    # would fabricate out-of-range pairs)
    pairs = vocab.filter(F.length("word") >= 2).select(
        "word_freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> struct(substring(word, i, 1) AS sym_a,"
                "             substring(word, i + 1, 1) AS sym_b))"
            )
        ).alias("p"),
    )
    counts = pairs.groupBy("p.sym_a", "p.sym_b").agg(
        F.sum("word_freq").alias("n_pair")
    )
    # k-row heap cut first (TakeOrderedAndProject); the rank window
    # then orders only the ≤k survivors — bounded by the knob
    top = counts.orderBy(F.col("n_pair").desc(), "sym_a", "sym_b").limit(k)
    order = Window.orderBy(F.col("n_pair").desc(), "sym_a", "sym_b")
    return top.select(F.row_number().over(order).alias("rank"), "*")


def chi2_feature_select(
    documents: DataFrame, min_df: int = 10, k: int = 25
) -> DataFrame:
    """Chi-squared feature selection: the top-k words most associated
    with any language label, scored by the chi² statistic over the
    word-presence × lang contingency table — the classic filter step
    before training a classifier on bag-of-words features.

    Presence is per-document (distinct (doc, word, lang)), so the
    contingency cells are three combinable aggregations: per-(word,
    lang) document frequency, per-lang document totals (label-
    cardinality rows, broadcast), and the grand total (1 row,
    broadcast). chi² = Σ_cells (O-E)²/E expands over both presence
    and absence cells per (word, lang) without materializing the
    absence rows: O_absent = lang_total - df, E from row/col sums.
    Everything after the first agg is vocab × label sized. ``min_df``
    is the standard sparse-feature guard; ties break on the word.

    Emits (rank, word, chi2, best_lang).
    """
    doc_words = (
        documents.select("doc_id", "lang", F.explode(tokens_col("text")).alias("word"))
        .distinct()
    )
    wl = doc_words.groupBy("word", "lang").agg(F.count("*").alias("df_wl"))
    word_tot = wl.groupBy("word").agg(F.sum("df_wl").alias("df_w"))
    # label marginals are DOCUMENT counts (one row per doc in the
    # source table), not presence-pair counts — the contingency table
    # is over documents
    lang_tot = documents.groupBy("lang").agg(F.count("*").alias("n_lang"))
    grand = lang_tot.select(F.sum("n_lang").cast("double").alias("n_total"))
    cells = (
        wl.join(word_tot, "word")
        .filter(F.col("df_w") >= min_df)
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(grand))
    )
    # observed/expected for the (present, lang) and (absent, lang)
    # cells; the complementary-lang cells cancel into the same sum
    # when aggregated over langs, so per-(word,lang) we score the
    # 2x2 table (word present/absent x this-lang/other-langs)
    o11 = F.col("df_wl").cast("double")
    o12 = (F.col("df_w") - F.col("df_wl")).cast("double")
    o21 = (F.col("n_lang") - F.col("df_wl")).cast("double")
    o22 = F.col("n_total") - F.col("df_w") - F.col("n_lang") + F.col("df_wl")
    n = F.col("n_total")
    denom = (o11 + o12) * (o21 + o22) * (o11 + o21) * (o12 + o22)
    # degenerate margins (word in every doc / label covering all docs)
    # carry no discrimination: chi2 = 0 by definition, and the guard
    # keeps ANSI division happy
    chi2 = F.when(
        denom > 0,
        n * F.pow(o11 * o22 - o12 * o21, F.lit(2.0)) / denom,
    ).otherwise(F.lit(0.0))
    scored = cells.select(
        "word", "lang", F.round(chi2, 4).alias("chi2_wl")
    )
    best = scored.groupBy("word").agg(
        F.max(F.struct(F.col("chi2_wl"), F.col("lang"))).alias("m")
    ).select(
        "word",
        F.col("m.chi2_wl").alias("chi2"),
        F.col("m.lang").alias("best_lang"),
    )
    # k-row heap cut first (TakeOrderedAndProject); the rank window
    # then orders only the ≤k survivors — bounded by the knob
    top = best.orderBy(F.col("chi2").desc(), "word").limit(k)
    order = Window.orderBy(F.col("chi2").desc(), "word")
    return top.select(F.row_number().over(order).alias("rank"), "*")


def weighted_sample_es(documents: DataFrame, k: int = 10) -> DataFrame:
    """Deterministic weighted sampling per language via the
    Efraimidis-Spirakis key (VLDB '06 / IPL '06): each doc draws a
    deterministic uniform u from its id hash and ranks by
    ln(u) / weight (monotone-equivalent to the classic u^(1/w)); the
    top-k per group IS a weighted random sample without replacement.
    The standard corpus-mixing primitive when docs carry quality or
    length weights — and, unlike rand()-based sampling, reproducible
    across retries, speculative re-execution, and engines.

    u derives from 4 md5 hex digits (16-bit resolution, plenty for
    sampling; exact-tie rank breaks on doc_id). weight = n_chars.
    Plan: map-side key computation + one per-group top-k window —
    same shuffle as any grouped rank; nothing global.

    Emits (lang, rank, doc_id, weight).
    """
    v = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit("es"), F.col("doc_id").cast("string"))), 1, 4),
        16,
        10,
    ).cast("double")
    u = (v + 0.5) / 65536.0
    key = F.log(u) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy(F.col("es_key").desc(), "doc_id")
    return (
        documents.select(
            "lang", "doc_id", F.col("n_chars").alias("weight"), key.alias("es_key")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lang", "rank", "doc_id", "weight")
    )


def train_shuffle_shard(documents: DataFrame, n_shards: int = 8) -> DataFrame:
    """Deterministic global training shuffle + shard assignment: every
    doc gets a shard (hash-uniform over ``n_shards``) and a position
    within its shard (rank of a second, independent hash) — the
    "shuffle the corpus, write N shard files" step before training,
    reproducible bit-for-bit across runs, engines, and retries
    (rand()-based shuffles are none of these).

    Two independent md5 draws (salted differently) so shard choice
    and within-shard order don't correlate; position is a per-shard
    rank window — each shard sorts independently (corpus/n_shards
    rows per partition), which is exactly how the physical write
    parallelizes: repartition(n_shards, shard) + sortWithinPartitions
    consumes this plan with zero extra shuffles.

    Emits (shard, pos, doc_id).
    """
    # one hex digit (0..15) suffices for n_shards <= 16 and keeps the
    # oracle's hex-to-int arithmetic trivial; 16 % n_shards == 0 keeps
    # the assignment uniform
    h_shard = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit("shard"), F.col("doc_id").cast("string"))), 1, 1),
        16,
        10,
    ).cast("bigint")
    h_order = F.md5(F.concat_ws("|", F.lit("order"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("h_order", "doc_id")
    return (
        documents.select(
            "doc_id",
            F.pmod(h_shard, F.lit(n_shards)).cast("int").alias("shard"),
            h_order.alias("h_order"),
        )
        .withColumn("pos", F.row_number().over(w))
        .select("shard", "pos", "doc_id")
    )


def chunk_dedup(documents: DataFrame, size: int = 16) -> DataFrame:
    """Chunk-granular cross-corpus duplication profile — the C4/CCNet
    cleaning signal at sub-document level: a chunk (non-overlapping
    ``size``-token window) is *duplicated* when the same token run
    appears in MORE THAN ONE document (boilerplate, quote farms,
    templated spam), and a doc's dup_ratio is what the curation
    policy gates on. Document-level dedup misses this entirely: two
    docs sharing half their text are distinct documents but half
    boilerplate.

    Plan: the ``doc_chunking`` expression plan (map-only) with
    stride = size, chunk md5, then one combinable aggregate for
    chunk document-frequency, a hash-keyed join back, and one
    per-doc aggregate. The chunk hash stream shuffles 16-byte keys,
    never chunk text; everything else is row-local.

    Emits (doc_id, n_chunks, n_dup_chunks, dup_ratio).
    """
    chunks = doc_chunking(documents, size=size, stride=size).select(
        "doc_id", F.md5("chunk").alias("chash")
    )
    dfreq = chunks.groupBy("chash").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(dfreq, "chash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 4).alias(
                "dup_ratio"
            ),
        )
    )


def corpus_mix_temperature(
    documents: DataFrame, alpha: float = 0.5
) -> DataFrame:
    """Temperature-based multilingual mix planning — the XLM-R /
    mT5-style sampling formula p_l ∝ n_l^alpha that decides how much
    to up-sample low-resource languages before training. Complements
    ``corpus_mix`` (which APPLIES fixed per-language rates) by
    COMPUTING the rates from corpus statistics.

    Plan: one partial→final count per language (alphabet-sized
    output), then a 1-row broadcast of the two totals joined back —
    the corpus is scanned once, everything after the first aggregate
    is alphabet-sized. alpha is fixed at 0.5 (temperature 2) because
    sqrt is IEEE-correctly-rounded on every engine — a non-half power
    would make the oracle comparison hostage to libm ulp differences
    (same discipline as the money/DECIMAL rule).

    Emits (lang, n_docs, natural_share, temp_share, sample_factor):
    sample_factor > 1 means the language is up-sampled by the
    temperature flattening.
    """
    assert alpha == 0.5, "non-sqrt powers are not engine-reproducible"
    agg = documents.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = agg.agg(
        F.sum("n_docs").alias("total"),
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("ptot"),
    )
    nat = F.col("n_docs") / F.col("total")
    tmp = F.sqrt(F.col("n_docs").cast("double")) / F.col("ptot")
    return agg.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(nat, 6).alias("natural_share"),
        F.round(tmp, 6).alias("temp_share"),
        F.round(tmp / nat, 4).alias("sample_factor"),
    )


#: k-anonymity audit parameters, shared with the oracle SQL.
KANON_K = 5
KANON_BUCKET = 100  # n_chars quasi-identifier bucket width


def k_anonymity_audit(
    documents: DataFrame, k: int = KANON_K, bucket: int = KANON_BUCKET
) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy-release
    companion to ``pii_redact``: direct identifiers get redacted, but
    a row can still be re-identified if its COMBINATION of innocuous
    attributes (language, source, size bracket) is rare. Groups
    smaller than k are the re-identification risk surface.

    One partial→final aggregate on the quasi-identifier tuple; output
    is bounded by QI cardinality (langs × sources × brackets), never
    corpus-sized. The doc-length bracket is an explicit floor — a bare
    int cast would TRUNCATE on Spark but ROUND on DuckDB.

    Emits (lang, source, size_bucket, group_size, at_risk) — one row
    per occupied QI cell.
    """
    size_bucket = F.floor(F.col("n_chars") / bucket).cast("int")
    return (
        documents.groupBy(
            "lang", "source", size_bucket.alias("size_bucket")
        )
        .agg(F.count("*").alias("group_size"))
        .withColumn("at_risk", F.col("group_size") < k)
    )


def l_diversity_audit(
    documents: DataFrame, l_min: int = 3, bucket: int = KANON_BUCKET
) -> DataFrame:
    """l-diversity audit — the homogeneity-attack companion to
    ``k_anonymity_audit``: a quasi-identifier group can satisfy k
    (enough rows) yet still leak if every row in it shares ONE
    sensitive value (knowing someone is in the group reveals the
    attribute). Here the QI tuple is (lang, size bracket) and the
    sensitive attribute is ``source`` — groups with fewer than
    ``l_min`` distinct sources are the homogeneity risk surface.

    One partial→final aggregate on the QI tuple (count + exact
    count-distinct of a low-cardinality attribute); output is QI-cell
    sized, never corpus-sized. The size bracket is the SAME explicit
    floor as the k-audit so the two reports join cell-for-cell.

    Emits (lang, size_bucket, group_size, l_distinct, at_risk).

    Reference licence: composition target — chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    size_bucket = F.floor(F.col("n_chars") / bucket).cast("int")
    return (
        documents.groupBy("lang", size_bucket.alias("size_bucket"))
        .agg(
            F.count("*").alias("group_size"),
            F.countDistinct("source").alias("l_distinct"),
        )
        .withColumn("at_risk", F.col("l_distinct") < l_min)
    )


def curriculum_order(documents: DataFrame, buckets: int = 10) -> DataFrame:
    """Curriculum construction: stream documents easy-to-hard by
    quality decile, deterministically shuffled WITHIN each decile --
    the standard ordering step between curation and training-batch
    assembly (ascending-difficulty curricula; the hash shuffle kills
    within-bucket source ordering bias).

    NOT a global ``ntile`` (single-partition sort of the corpus):
    exact decile cut points come from the distributed
    ``exact_quantiles`` kernel (range-partitioned order statistics,
    one 1-row result broadcast back — no single-buffer percentile
    merge at 100 TB), bucket assignment is a pure row expression
    against the rounded cut
    array, and the within-bucket position is a ``row_number`` window
    partitioned BY BUCKET ordered by the md5 content hash (the repo's
    cross-engine hash discipline) -- ~N/buckets rows per window
    partition, parallel across buckets, no global sort anywhere.

    Cut points and quality are rounded to 4 before comparison so
    bucket membership never hinges on float noise; md5 ties broken by
    doc_id.
    """
    from .relational import exact_quantiles

    q = quality_score(documents).select("doc_id", "quality")
    cuts = exact_quantiles(
        q, "quality", [i / buckets for i in range(1, buckets)]
    ).select(F.col("bounds").alias("cuts"))
    bucket = F.size(F.filter("cuts", lambda c: F.col("quality") >= c))
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy("shuffle_key", "doc_id")
    return (
        q.join(F.broadcast(cuts))
        .select(
            "doc_id",
            "quality",
            bucket.cast("int").alias("bucket"),
            F.md5(F.col("doc_id").cast("string")).alias("shuffle_key"),
        )
        .select(
            "doc_id",
            "quality",
            "bucket",
            F.row_number().over(w).alias("pos_in_bucket"),
        )
    )


def text_readability(documents: DataFrame) -> DataFrame:
    """Flesch-style reading-ease score per document -- the classic
    readability gate of the quality family (very low scores flag
    run-on machine text, very high ones flag fragment spam).

    All three measures are row-local regexp counts, so the plan is a
    pure map over the pruned (doc_id, text) scan -- no shuffle, no
    explode; scan bandwidth is the only scale axis:

    - words: whitespace tokens (the house tokenizer);
    - sentences: maximal [.!?]+ runs, floored at 1;
    - syllables: maximal [aeiouy]+ vowel-group runs over the WHOLE
      lowercased text (a vowel group cannot span whitespace, so this
      equals the per-word sum without the per-word explode; vowelless
      words contribute 0 rather than the classic floor of 1 -- the
      documented simplification).

    score = 206.835 - 1.015 * words/sentences - 84.6 * syllables/words
    computed in the same literal order on both engines, rounded 4.

    Emits (doc_id, n_words, n_sentences, n_syllables, flesch)."""
    n_words = F.size(tokens_col("text"))
    n_sent = F.greatest(F.lit(1), F.regexp_count("text", F.lit("[.!?]+")))
    n_syl = F.regexp_count(F.lower("text"), F.lit("[aeiouy]+"))
    return (
        documents.filter(F.size(tokens_col("text")) > 0)
        .select(
            "doc_id",
            n_words.alias("n_words"),
            n_sent.cast("int").alias("n_sentences"),
            n_syl.cast("int").alias("n_syllables"),
        )
        .withColumn(
            "flesch",
            F.round(
                206.835
                - 1.015 * (F.col("n_words") / F.col("n_sentences"))
                - 84.6 * (F.col("n_syllables") / F.col("n_words")),
                4,
            ),
        )
    )


def sql_udf_quality(spark, documents: DataFrame) -> DataFrame:
    """The registered-UDF surface (SURVEY.md §2C): the quality formula
    packaged as a named SQL function -- ``spark.udf.register`` of an
    Arrow-batched ``pandas_udf`` -- and invoked from ``spark.sql``,
    mirroring the reference's deploy-a-class-by-name extensibility
    (``MasterServlet.java:67`` reflective Job loading) on the path a
    SQL user would actually take. (``pandas`` is imported at module
    scope: under ``from __future__ import annotations`` the UDF's
    type hints are strings and pyspark resolves them against module
    globals.)

    The Python body replicates ``quality_score``'s expression tree
    bit-for-bit: identical ASCII whitespace/word classes (Java regex
    ``\\s`` is ASCII -- the Python mirror uses the explicit class, not
    unicode ``\\s``), identical float op order, rounding left to the
    SQL ``round`` so the engine and oracle round the same way. The
    UDF stays on the Arrow batch path (one Series in, one Series
    out); the expression form (``quality_score``) remains the
    recommended fast path -- this query exists to keep the
    registered-UDF contract exercised."""
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    wordlike = re.compile(r"[a-z0-9 \t\n\x0b\f\r]")
    stops = set(STOPWORDS["en"])

    @F.pandas_udf("double")
    def quality_udf(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            low = (text or "").lower()
            toks = [t for t in ws.split(low) if t]
            n_tokens = len(toks)
            n_chars = len(text or "")
            n_punct = len(wordlike.sub("", low))
            stop_hits = sum(1 for t in toks if t in stops)
            lf = min(n_tokens * 1.0 / 100.0, 1.0)
            pr = n_punct * 1.0 / max(n_chars, 1)
            sr = stop_hits * 1.0 / max(n_tokens, 1)
            out.append(lf * (1 - pr) * (0.5 + 0.5 * sr))
        return pd.Series(out, dtype="float64")

    spark.udf.register("quality_udf", quality_udf)
    documents.createOrReplaceTempView("documents_udf_v")
    return spark.sql(
        "SELECT doc_id, round(quality_udf(text), 4) AS quality"
        " FROM documents_udf_v"
    )


def udtf_sentence_split(spark, documents: DataFrame) -> DataFrame:
    """The registered-UDTF surface (SURVEY.md §2C multi-emit map): a
    Python table function that splits a document into sentences on
    ``[.!?]+`` runs, registered with ``spark.udtf.register`` and
    invoked through SQL's LATERAL table-function syntax -- the
    one-row-to-many extensibility shape the reference expresses as a
    multi-emit ``Job.map``.

    Empty segments (consecutive delimiters, trailing punctuation) are
    dropped and ``sent_idx`` counts surviving sentences, identically
    on the oracle side. Segments are NOT trimmed -- whitespace
    normalization semantics differ between unicode-aware Python and
    RE2/Java ASCII classes, so the contract keeps raw segment bytes.
    ``flatmap_explode`` remains the vectorized fast path; this query
    keeps the UDTF contract exercised.

    Emits (doc_id, sent_idx, sentence)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string")
    class SplitSentences:
        def __init__(self):
            import re

            self._re = re.compile(r"[.!?]+")

        def eval(self, text):
            i = 0
            for p in self._re.split(text or ""):
                if p != "":
                    yield i, p
                    i += 1

    spark.udtf.register("split_sentences", SplitSentences)
    documents.createOrReplaceTempView("documents_udtf_v")
    return spark.sql(
        "SELECT d.doc_id, s.sent_idx, s.sentence"
        " FROM documents_udtf_v d, LATERAL split_sentences(d.text) s"
    )


def sql_udaf_median(spark, documents: DataFrame) -> DataFrame:
    """The registered-UDAF surface (SURVEY.md §2C, completing the
    UDF/UDTF/UDAF extension triad): grouped-aggregate pandas UDFs --
    an exact median and a count -- registered by name and invoked
    from ``spark.sql`` under GROUP BY, the custom-``reduce``
    extensibility shape of the reference's Job API expressed as a SQL
    aggregate. Spark hands each (lang, source) group's column to the
    Python worker as ONE Arrow batch; the kernel is a vectorized
    numpy median, so the per-group cost is O(n) with no Python-level
    row loop.

    Both aggregates in the projection must be pandas UDAFs: Spark
    disallows mixing group-aggregate pandas UDFs with JVM aggregates
    in one aggregation (INVALID_PANDAS_UDF_PLACEMENT), so the doc
    count rides a second one-liner UDAF. np.median's interpolated
    midpoint (mean of the two central values -- exact in double for
    int-valued inputs) matches the oracle's quantile_cont(0.5)
    bit-for-bit. Built-in ``percentile``/the distributed
    order-statistic kernels remain the fast path; this query keeps
    the registered-UDAF contract exercised. Per-group state is the
    group itself (bounded by docs per (lang, source)); the 100 TB
    posture for unbounded keys is the two-phase kernel in
    ``exact_quantiles_grouped``.

    Emits (lang, source, median_chars, n_docs)."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def median_udaf(v: pd.Series) -> float:
        return float(np.median(v.to_numpy(dtype="float64")))

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def count_udaf(v: pd.Series) -> int:
        return int(len(v))

    spark.udf.register("median_udaf", median_udaf)
    spark.udf.register("count_udaf", count_udaf)
    documents.createOrReplaceTempView("documents_udaf_v")
    return spark.sql(
        "SELECT lang, source,"
        " round(median_udaf(CAST(n_chars AS DOUBLE)), 1) AS median_chars,"
        " count_udaf(n_chars) AS n_docs"
        " FROM documents_udaf_v GROUP BY lang, source"
    )


def quality_gopher_flags(documents: DataFrame) -> DataFrame:
    """Rule-based quality gate in the Gopher / Dolma style (Rae et
    al. '21 Table A1): instead of one blended score
    (``quality_score``), each document gets an auditable PER-RULE
    flag table -- word-count bounds, mean-word-length bounds,
    symbol-to-word ratio, bullet-line and ellipsis-line fractions,
    minimum distinct-stopword hits -- plus the conjunctive keep
    decision. Production pipelines keep the rule table (not just the
    verdict) so filter drift is diagnosable per rule; the pass-rate
    census per rule is one trivial aggregate over this output.

    Every measure is a row-local expression on the pruned (doc_id,
    text) scan -- counts via length arithmetic (replace/regexp_replace
    deltas), line fractions via filtered split arrays, stopword hits
    via a constant-array membership filter. Map-only: zero shuffles,
    zero joins at any scale. Flags emit as INT 0/1 (stable across
    engine boolean renderings); thresholds follow the paper's
    published constants where the fixture makes them non-degenerate.

    Emits (doc_id, n_words, mean_word_len, f_word_count,
    f_mean_word_len, f_symbol_ratio, f_bullet_lines,
    f_ellipsis_lines, f_stopwords, keep)."""
    toks = tokens_col("text")
    n_words = F.size(toks)
    # sum of token lengths == text with ASCII whitespace removed.
    # Explicit class, not \s: Java \s includes \x0B (vertical tab)
    # while RE2 \s excludes it, so \s would silently diverge from the
    # DuckDB oracle on text containing \x0B (Java∩RE2 dialect rule).
    tok_chars = F.length(
        F.regexp_replace(F.lower("text"), "[ \t\n\x0b\f\r]", "")
    )
    mean_wl = tok_chars * 1.0 / F.greatest(n_words, F.lit(1))
    n_hash = F.length("text") - F.length(F.regexp_replace("text", r"#", ""))
    n_ellipsis = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / F.lit(3)
    symbol_ratio = (n_hash + n_ellipsis) * 1.0 / F.greatest(n_words, F.lit(1))
    lines = F.split(F.col("text"), "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda ln: F.ltrim(ln).startswith("-")
                | F.ltrim(ln).startswith("*"),
            )
        )
        * 1.0
        / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda ln: F.rtrim(ln).endswith("...")))
        * 1.0
        / n_lines
    )
    stops = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    stop_hits = F.size(
        F.filter(stops, lambda s: F.array_contains(toks, s))
    )
    f_wc = ((n_words >= 50) & (n_words <= 100000)).cast("int")
    f_mwl = ((mean_wl >= 3.0) & (mean_wl <= 10.0)).cast("int")
    f_sym = (symbol_ratio < 0.1).cast("int")
    f_bul = (bullet_frac <= 0.9).cast("int")
    f_ell = (ellipsis_frac <= 0.3).cast("int")
    f_stop = (stop_hits >= 2).cast("int")
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        f_wc.alias("f_word_count"),
        f_mwl.alias("f_mean_word_len"),
        f_sym.alias("f_symbol_ratio"),
        f_bul.alias("f_bullet_lines"),
        f_ell.alias("f_ellipsis_lines"),
        f_stop.alias("f_stopwords"),
        (f_wc * f_mwl * f_sym * f_bul * f_ell * f_stop).alias("keep"),
    )


def corpus_token_budget(
    documents: DataFrame, budget: int = 1_000_000
) -> DataFrame:
    """Training-run token-budget planner: given a total token budget
    and the temperature-flattened language shares (same sqrt
    discipline as ``corpus_mix_temperature``, which plans RATES over
    doc counts -- this plans TOKENS and the epoch/oversampling factor
    a data loader actually consumes), allocate budget tokens per
    language and report how many epochs of each language's corpus
    that allocation implies (epochs > 1 = the low-resource language
    is repeated; the number LLM data curricula watch for repetition
    harm).

    One partial->final token-sum per language (whitespace tokens --
    the budget unit; the BPE estimate is ``token_count_bpe``'s job),
    then a 1-row broadcast of the two totals joined back: corpus
    scanned once, everything downstream alphabet-sized. sqrt only
    (IEEE-correctly-rounded on every engine); budget arithmetic in
    double over exact int64 token counts.

    Emits (lang, n_tokens, temp_share, alloc_tokens, epochs)."""
    agg = documents.groupBy("lang").agg(
        F.sum(F.size(tokens_col("text")).cast("long")).alias("n_tokens")
    )
    tot = agg.agg(
        F.sum(F.sqrt(F.col("n_tokens").cast("double"))).alias("ptot")
    )
    share = F.sqrt(F.col("n_tokens").cast("double")) / F.col("ptot")
    alloc = share * F.lit(float(budget))
    return agg.join(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        F.round(share, 6).alias("temp_share"),
        F.round(alloc, 2).alias("alloc_tokens"),
        F.round(alloc / F.col("n_tokens"), 4).alias("epochs"),
    )


def bpe_train(documents: DataFrame, n_merges: int = 6) -> DataFrame:
    """Full BPE tokenizer-training loop (Sennrich et al. 2016) — the
    end-to-end extension of ``bpe_merge_step``'s single iteration: N
    rounds of (count adjacent symbol pairs, merge the most frequent
    pair corpus-wide), emitting the learned merge table a tokenizer
    ships with.

    State is the VOCAB-bounded symbol stream (word, word_freq, pos,
    sym) — one row per symbol of each DISTINCT word, weighted by word
    frequency; the corpus is scanned exactly once to build it and
    never re-tokenized (merges rewrite the weighted vocabulary only —
    the ``vocab_coverage`` discipline). ``session.iterate`` runs the
    rounds and checkpoints the state after each one, so plan lineage
    stays one round deep (its docstring states the contract).

    The greedy LEFTMOST-non-overlapping merge — the sequential heart
    of canonical BPE — is expressed relationally so both engines
    agree bit-for-bit: matched positions form runs of consecutive
    pos; within a run, exactly the even offsets from the run head
    merge (pair (a,a) over "a a a a" merges positions 1 and 3 —
    leftmost-greedy by construction). Runs come from one
    lag+running-sum window pass, all partitioned by word, so every
    window in a round shares the single word-hash exchange. The
    chosen pair rides as a 1-row broadcast — zero driver collects.

    Pair counts follow the canonical get_stats: OVERLAPPING
    occurrences all count ("a a a" contributes 2 to (a,a)); ties
    break on (sym_a, sym_b) so both engines pick the same merge.

    Emits (step, sym_a, sym_b, n_pair, new_sym) — the merge list in
    training order. Oracle: the same N rounds unrolled as chained
    CTEs (the graph_label_propagation pattern).

    Reference licence: WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52) +
    chained-jobs model (SURVEY.md §2A FIFO queue)."""
    merges, _ = _bpe_loop(documents, n_merges)
    out = merges[0]
    for mdf in merges[1:]:
        out = out.unionByName(mdf)
    return out


def _bpe_loop(documents: DataFrame, n_merges: int):
    """Shared BPE merge loop: returns (per-step merge DataFrames, the
    FINAL vocab symbol stream).  ``bpe_train`` unions the former;
    ``bpe_encode`` consumes the latter -- after N rounds the state IS
    each distinct word's post-merge token stream, so encoding costs
    nothing beyond the training it already paid for."""
    vocab = words_exploded(documents).groupBy("word").agg(
        F.count("*").alias("word_freq")
    )
    sympos = vocab.select(
        "word",
        "word_freq",
        F.posexplode(F.split("word", "")).alias("pos0", "sym"),
    ).select("word", "word_freq", (F.col("pos0") + 1).alias("pos"), "sym")

    w = Window.partitionBy("word").orderBy("pos")
    w_run = Window.partitionBy("word").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    merges = []

    def step(sympos: DataFrame, i: int) -> DataFrame:
        paired = sympos.withColumn("nxt", F.lead("sym").over(w))
        counts = (
            paired.filter(F.col("nxt").isNotNull())
            .groupBy(F.col("sym").alias("a"), F.col("nxt").alias("b"))
            .agg(F.sum("word_freq").alias("n_pair"))
        )
        # checkpoint the 1-row winner ONCE: both consumers (the merge
        # record and the broadcast into the rewrite) then read the
        # materialized row instead of each re-running the pair-count
        # aggregate -- the un-checkpointed form paid the counts agg
        # twice per round (once for the merge-record checkpoint, once
        # inside the next sympos checkpoint's broadcast subtree)
        top1 = counts.orderBy(F.col("n_pair").desc(), "a", "b").limit(1).localCheckpoint()
        merges.append(
            top1.select(
                F.lit(i + 1).alias("step"),
                F.col("a").alias("sym_a"),
                F.col("b").alias("sym_b"),
                "n_pair",
                F.concat("a", "b").alias("new_sym"),
            )
        )
        m = paired.crossJoin(F.broadcast(top1)).withColumn(
            "is_m", (F.col("sym") == F.col("a")) & (F.col("nxt") == F.col("b"))
        )
        # two projection steps: window calls cannot nest (either engine)
        g = m.withColumn(
            "run_start",
            (F.col("is_m") & ~F.coalesce(F.lag("is_m").over(w), F.lit(False))).cast("int"),
        ).withColumn("run_id", F.sum("run_start").over(w_run))
        w_runid = Window.partitionBy("word", "run_id")
        g = g.withColumn(
            "run_min", F.min(F.when(F.col("is_m"), F.col("pos"))).over(w_runid)
        ).withColumn(
            "active",
            F.col("is_m") & ((F.col("pos") - F.col("run_min")) % 2 == 0),
        )
        g = g.withColumn("dropped", F.coalesce(F.lag("active").over(w), F.lit(False)))
        return g.filter(~F.col("dropped")).select(
            "word",
            "word_freq",
            F.row_number().over(w).alias("pos"),
            F.when(F.col("active"), F.concat("sym", "nxt")).otherwise(F.col("sym")).alias("sym"),
        )

    sympos, _ = iterate(sympos, step, n_merges)
    return merges, sympos


def bpe_encode(documents: DataFrame, n_merges: int = 6) -> DataFrame:
    """Corpus tokenization under the learned BPE merges -- the apply
    half of the tokenizer lifecycle (``bpe_train`` learns the merge
    table; this measures what it does to the corpus: token counts and
    compression, the numbers a data pipeline budgets training runs
    with, cf. ``corpus_token_budget``).

    Key factorization: a word's post-merge token count depends only
    on the WORD, and after ``bpe_train``'s N rounds the vocab symbol
    stream already IS each distinct word's encoded form.  So encoding
    adds zero extra merge passes: count surviving symbols per word
    (vocab-bounded), then one keyed join from the exploded corpus
    back to that per-word token count -- the corpus is scanned once
    for training and once here, never per-round.

    Emits (doc_id, n_words, n_tokens, chars_per_token): words kept,
    BPE tokens under the learned merges, and word-chars per token
    (the compression ratio, rounded to 4).

    Reference licence: WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52) +
    chained-jobs model (SURVEY.md §2A FIFO queue)."""
    _, sympos = _bpe_loop(documents, n_merges)
    tok_per_word = sympos.groupBy("word").agg(
        F.count("*").alias("n_tok")
    )
    return (
        words_exploded(documents)
        .join(tok_per_word, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
            F.round(
                F.sum(F.length("word")) / F.sum("n_tok"), 4
            ).alias("chars_per_token"),
        )
    )


def _ulm_viterbi_kernel(batches):
    """Per-word Viterbi segmentation under integer micro-nat piece
    costs -- the DP is pure integer addition and compares, so Python
    replays the oracle's unrolled-CTE recurrence bit-for-bit. State is
    bounded by word length; input batches are VOCAB rows (one per
    distinct word), never the corpus.

    Tie rule (mirrored EXACTLY by the oracle's ``ORDER BY cost, j
    DESC``): iterate piece length j ascending and replace on ``<=``,
    so among equal-cost candidates the LONGEST piece wins."""
    for pdf in batches:
        words, paths = [], []
        for word, subc in zip(pdf["word"], pdf["subc"]):
            costs = {
                (s["st"], s["ln"]): (int(s["cost"]), s["piece"]) for s in subc
            }
            max_j = max((ln for _, ln in costs), default=1)
            n = len(word)
            best: list[tuple[int, list[str]] | None] = [(0, [])] + [None] * n
            for i in range(1, n + 1):
                bc: int | None = None
                bp: list[str] = []
                for j in range(1, min(max_j, i) + 1):
                    hit = costs.get((i - j + 1, j))
                    prev = best[i - j]
                    if hit is None or prev is None:
                        continue
                    cand = prev[0] + hit[0]
                    if bc is None or cand <= bc:
                        bc, bp = cand, prev[1] + [hit[1]]
                best[i] = (bc, bp) if bc is not None else None
            final = best[n]
            words.append(word)
            paths.append(final[1] if final is not None else list(word))
        yield pd.DataFrame({"word": words, "path": paths})


def _ulm_loop(
    documents: DataFrame,
    max_piece_len: int = 4,
    vocab_size: int = 24,
    em_rounds: int = 3,
):
    """Shared unigram-LM tokenizer training loop (Kudo 2018's
    SentencePiece unigram model, hard-EM variant): seed the piece
    inventory with every <=``max_piece_len``-char substring of the
    word vocabulary (all single chars kept unconditionally -- the
    coverage floor), then ``em_rounds`` of Viterbi re-estimation:
    segment every distinct word under current piece costs, recount
    piece usage weighted by word frequency, drop multi-char pieces
    that won no segment (the prune step), re-derive costs. Hard EM
    (Viterbi counts, not forward-backward posteriors) keeps every
    quantity integer-exact and the oracle expressible.

    Costs are integer MICRO-NATS: ``round((ln(total) - ln(cnt)) *
    1e6)`` -- the log is rounded BEFORE any comparison (the stats_fdr
    discipline on transcendental cross-engine drift), after which the
    DP is pure integer addition, fold-order-free on both engines.
    Single chars carry Laplace +1 so a char's cost is always finite
    and every word stays segmentable.

    State is VOCAB-bounded everywhere: the corpus is scanned once for
    word frequencies; substrings, costs, usage counts, and the DP all
    live on the distinct-word table (the ``bpe_train`` discipline).
    ``session.iterate`` runs the rounds and checkpoints each round's
    cost table, so plan lineage stays one round deep (its docstring
    states the contract). The per-round total rides as a 1-row
    broadcast -- zero driver collects.

    Returns (wf, viterbi fn, final cost DataFrame): ``ulm_train``
    ships the cost table; ``ulm_encode`` runs one more Viterbi pass
    under it.

    Reference licence: WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52) +
    chained-jobs model (SURVEY.md section 2A FIFO queue)."""
    wf = (
        words_exploded(documents)
        .groupBy("word")
        .agg(F.count("*").alias("word_freq"))
        .localCheckpoint()
    )
    subs = (
        wf.select(
            "word",
            "word_freq",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(word)), st -> "
                    f"transform(sequence(1, least({max_piece_len}, "
                    "length(word) - st + 1)), ln -> "
                    "struct(st, ln, substring(word, st, ln) AS piece))))"
                )
            ).alias("s"),
        )
        .select("word", "word_freq", "s.st", "s.ln", "s.piece")
        .localCheckpoint()
    )
    seed = subs.groupBy("piece").agg(F.sum("word_freq").alias("cnt"))
    chars = seed.filter(F.length("piece") == 1)
    multi = (
        seed.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(vocab_size)
    )

    def with_costs(vocab_cnt: DataFrame) -> DataFrame:
        tot = vocab_cnt.agg(F.sum("cnt").alias("tot"))
        return vocab_cnt.crossJoin(F.broadcast(tot)).select(
            "piece",
            "cnt",
            F.round(
                (
                    F.log(F.col("tot").cast("double"))
                    - F.log(F.col("cnt").cast("double"))
                )
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias("cost"),
        )

    def viterbi(costs: DataFrame) -> DataFrame:
        subc = subs.join(costs.select("piece", "cost"), "piece")
        per_word = subc.groupBy("word").agg(
            F.collect_list(F.struct("st", "ln", "piece", "cost")).alias(
                "subc"
            )
        )
        return per_word.mapInPandas(
            _ulm_viterbi_kernel, "word string, path array<string>"
        )

    def step(cur: DataFrame, _) -> DataFrame:
        usage = (
            viterbi(cur)
            .join(wf, "word")
            .select("word_freq", F.explode("path").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("word_freq").alias("usage"))
        )
        newv = (
            cur.select("piece")
            .join(usage, "piece", "left")
            .select(
                "piece",
                F.when(F.length("piece") == 1, F.coalesce("usage", F.lit(0)) + 1)
                .otherwise(F.coalesce("usage", F.lit(0)))
                .alias("cnt"),
            )
            .filter(F.col("cnt") > 0)
        )
        return with_costs(newv)

    cur, _ = iterate(with_costs(chars.unionByName(multi)), step, em_rounds)
    return wf, viterbi, cur


def ulm_train(
    documents: DataFrame,
    max_piece_len: int = 4,
    vocab_size: int = 24,
    em_rounds: int = 3,
) -> DataFrame:
    """Unigram-LM tokenizer training (the SentencePiece model family
    real pipelines ship alongside BPE): emits the final piece
    inventory after seeding + ``em_rounds`` of Viterbi re-estimation
    and pruning -- (piece, piece_len, cnt, cost_mnat), where ``cnt``
    is the final usage count (Laplace +1 on single chars) and
    ``cost_mnat`` the integer micro-nat cost ``round((ln(total) -
    ln(cnt)) * 1e6)`` a segmenter minimizes. See ``_ulm_loop`` for
    the execution contract."""
    _, _, cur = _ulm_loop(documents, max_piece_len, vocab_size, em_rounds)
    return cur.select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        "cnt",
        F.col("cost").alias("cost_mnat"),
    )


def ulm_encode(
    documents: DataFrame,
    max_piece_len: int = 4,
    vocab_size: int = 24,
    em_rounds: int = 3,
) -> DataFrame:
    """Corpus tokenization under the trained unigram LM -- the apply
    half of the lifecycle (``bpe_encode``'s twin): one more Viterbi
    pass over the DISTINCT-word table under the final piece costs
    (a word's segmentation depends only on the word), then one keyed
    join onto the exploded corpus. Emits (doc_id, n_words, n_tokens,
    chars_per_token) -- the same compression readout bpe_encode
    ships, so the two tokenizer families compare directly."""
    _, viterbi, cur = _ulm_loop(
        documents, max_piece_len, vocab_size, em_rounds
    )
    enc = viterbi(cur).select("word", F.size("path").alias("n_tok"))
    return (
        words_exploded(documents)
        .join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
            F.round(
                F.sum(F.length("word")) / F.sum("n_tok"), 4
            ).alias("chars_per_token"),
        )
    )


def rake_keyphrases(documents: DataFrame, top_k: int = 3) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) -- the classic
    unsupervised per-document keyword miner: candidate phrases are
    maximal stopword-free token runs; each word scores
    degree/frequency over the doc's phrases (words that live in long
    phrases and repeat little score high); a phrase scores the sum of
    its word scores; top-k phrases per doc survive.

    Boundary set: the union of the three ``STOPWORDS`` lists (the
    declared deterministic language substrate; real RAKE ships a
    fuller list as a broadcast side input).

    Cross-engine exactness: word score = deg/freq is an arbitrary
    rational, and summing rounded doubles is ADDITION-ORDER dependent
    at the ulp -- so scores ride as exact integer MICRO-units
    (``div(deg * 1e6, freq)``, floor division of exact bigints) and
    only the final emitted score divides once by 1e6. Integer sums
    are order-free; both engines rank identical numbers.

    Plan shape: one posexplode scan, run-id islands via the
    lag+running-sum window pair (the ``interval_merge`` discipline),
    phrase length by a count window on the SAME (doc, run) keys, word
    stats as one combinable (doc, word) aggregate joined back, phrase
    rebuild as a sort-free array_sort(collect_list(struct)), top-k by
    rank window per doc. Every exchange keys on doc_id (+run/word);
    nothing corpus-global.

    Emits (doc_id, rank, phrase, score).

    Reference licence: WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52) +
    chained-jobs model (SURVEY.md §2A FIFO queue).
    """
    from pyspark.sql import Window

    stops = [w for ws in STOPWORDS.values() for w in ws]
    toks = documents.select(
        "doc_id",
        F.posexplode(tokens_col("text")).alias("pos", "word"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    keep = ~F.col("word").isin(stops)
    flagged = toks.select(
        "doc_id",
        "pos",
        "word",
        keep.alias("keep"),
        (
            keep & ~F.coalesce(F.lag(keep).over(w), F.lit(False))
        ).cast("int").alias("run_start"),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("run_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).filter("keep")
    w_run = Window.partitionBy("doc_id", "run_id")
    sized = runs.withColumn("plen", F.count("*").over(w_run))
    wstats = (
        sized.groupBy("doc_id", "word")
        .agg(
            F.count("*").alias("freq"),
            F.sum("plen").alias("deg"),
        )
        .withColumn("score_u", F.expr("div(deg * 1000000, freq)"))
        .select("doc_id", "word", "score_u")
    )
    phrases = (
        sized.join(wstats, ["doc_id", "word"])
        .groupBy("doc_id", "run_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("score_u").alias("score_u"),
        )
        .select("doc_id", "phrase", "score_u")
        .distinct()
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("score_u").desc(), "phrase"
    )
    return (
        phrases.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= top_k)
        .select(
            "doc_id",
            "rank",
            "phrase",
            (F.col("score_u") / F.lit(1_000_000.0)).alias("score"),
        )
    )


def ngram_autocomplete(documents: DataFrame, max_plen: int = 3,
                       top_k: int = 3) -> DataFrame:
    """Prefix -> top-k completion index over the corpus vocabulary --
    the build side of every search-box autocomplete: for each word
    prefix of length 1..``max_plen``, the ``top_k`` most frequent
    corpus words extending it.

    Pipeline is vocab-bounded after the first aggregate: one
    words_exploded corpus scan folds to (word, freq) [combinable],
    prefixes explode off the VOCAB (x max_plen, not the corpus), and
    one rank window per prefix cuts top-k. Ties break (freq DESC,
    word) so both engines rank identically; frequency is an exact
    count.

    Emits (prefix, rank, word, freq).

    Reference licence: WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52) --
    this IS wordcount with a prefix-exploded key and a rank head.
    """
    from pyspark.sql import Window

    vocab = words_exploded(documents).groupBy("word").agg(
        F.count("*").alias("freq")
    )
    pref = vocab.select(
        "word",
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.least(F.length("word"), F.lit(max_plen))),
                lambda i: F.col("word").substr(F.lit(1), i),
            )
        ).alias("prefix"),
    )
    w = Window.partitionBy("prefix").orderBy(F.col("freq").desc(), "word")
    return (
        pref.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("prefix", "rank", "word", "freq")
    )


def corpus_datasheet(documents: DataFrame) -> DataFrame:
    """One-row corpus datasheet -- the headline numbers a dataset
    release publishes (Gebru et al.'s "datasheets for datasets"
    reduced to the queryable core): size, token volume, exact-dup
    rate, language-mix entropy, and mean quality. The first thing a
    consumer reads and the drift monitor a weekly rebuild diffs.

    Three bounded aggregations over ONE logical table: (1) a global
    fold (doc/token counts + distinct content fingerprints -- the
    ``dedup_exact`` md5 discipline), (2) per-lang counts feeding a
    sorted-fold entropy (the ``user_behavior_entropy`` determinism
    discipline over the language alphabet), (3) mean of the shared
    ``quality_score`` expression (per-doc values rounded 4 BEFORE the
    mean -- the same pinned quantities the quality operators emit).
    Everything after the scans is alphabet- or 1-row-sized; the three
    1-row frames cross-join by broadcast.

    Emits ONE row: (n_docs, n_tokens, dup_rate, n_langs,
    lang_entropy, mean_quality).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    base = documents.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(tokens_col("text"))).cast("bigint").alias("n_tokens"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
    ).select(
        "n_docs",
        "n_tokens",
        F.round(
            (F.col("n_docs") - F.col("n_distinct")) * F.lit(1.0)
            / F.col("n_docs"),
            4,
        ).alias("dup_rate"),
    )
    from ..functions.stats import entropy_bits

    lang = documents.groupBy("lang").agg(F.count("*").alias("c"))
    ent = lang.agg(
        F.count("*").cast("bigint").alias("n_langs"),
        F.sum("c").alias("nn"),
        F.array_sort(F.collect_list(F.struct("lang", "c"))).alias("cells"),
    ).select(
        "n_langs",
        F.round(entropy_bits(F.col("cells"), F.col("nn")), 4).alias(
            "lang_entropy"
        ),
    )
    q = quality_score(documents).agg(
        F.round(F.avg("quality"), 4).alias("mean_quality")
    )
    return (
        base.crossJoin(F.broadcast(ent))
        .crossJoin(F.broadcast(q))
        .select(
            "n_docs",
            "n_tokens",
            "dup_rate",
            "n_langs",
            "lang_entropy",
            "mean_quality",
        )
    )


def t_closeness_audit(
    documents: DataFrame, t: float = 0.45, bucket: int = KANON_BUCKET
) -> DataFrame:
    """t-closeness audit (Li et al. 2007) -- the third rung of the
    privacy-release ladder after ``k_anonymity_audit`` (group size)
    and ``l_diversity_audit`` (distinct sensitive values): a group
    can be large AND diverse yet still leak when its sensitive-value
    DISTRIBUTION differs sharply from the corpus-wide one (a skewness
    attack reads the group's tilt directly). For the categorical
    sensitive attribute the standard distance is total variation:

        t_group = (1/2) * sum over sources |p_group - p_global|

    computed EXACTLY: with integer counts, |cnt_g * N - cnt_all *
    n_g| is an integer numerator over the common denominator
    (n_g * N), so the per-group sum is fold-order-free and the
    division happens once, rounded 6. (Exact while n_g * N < 2^63 --
    at corpus scales beyond that the numerators switch to DECIMAL;
    the fixtures are nowhere near.)

    Plan: one partial->final aggregate on (QI tuple, source), one
    source-marginal aggregate (both alphabet-sized outputs), a
    QI-cells x sources expansion so ABSENT sources still contribute
    their |0 - q| mass (the term a naive inner join silently drops),
    then a grouped integer sum. Same explicit-floor size bracket as
    the sibling audits, so all three reports join cell-for-cell.

    Emits (lang, size_bucket, group_size, t_closeness, at_risk).
    The default threshold 0.45 bisects both fixtures' group-tvd
    range (0.225 .. 0.9, median ~0.5) -- a textbook 0.2 flags EVERY
    cell and the boolean is vacuous (the embedding_norm_profile
    non-degeneracy lesson).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md section 2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    size_bucket = F.floor(F.col("n_chars") / bucket).cast("int")
    gs = (
        documents.groupBy(
            "lang", size_bucket.alias("size_bucket"), "source"
        )
        .agg(F.count("*").alias("cnt_g"))
    )
    glob = documents.groupBy("source").agg(F.count("*").alias("cnt_all"))
    n_all = documents.agg(F.count("*").alias("n_big"))
    cells = gs.groupBy("lang", "size_bucket").agg(
        F.sum("cnt_g").alias("group_size")
    )
    expanded = (
        cells.crossJoin(F.broadcast(glob))
        .join(gs, ["lang", "size_bucket", "source"], "left")
        .crossJoin(F.broadcast(n_all))
        .select(
            "lang",
            "size_bucket",
            "group_size",
            F.abs(
                F.coalesce("cnt_g", F.lit(0)) * F.col("n_big")
                - F.col("cnt_all") * F.col("group_size")
            ).alias("num"),
            "n_big",
        )
    )
    tvd = F.round(
        F.sum("num")
        / (F.lit(2.0) * F.max("group_size") * F.max("n_big")),
        6,
    )
    return (
        expanded.groupBy("lang", "size_bucket")
        .agg(
            F.max("group_size").alias("group_size"),
            tvd.alias("t_closeness"),
        )
        .withColumn("at_risk", F.col("t_closeness") > t)
    )


def lm_kneser_ney_bigram(
    documents: DataFrame, discount: float = 0.75, top_k: int = 200
) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney
    1995; Chen & Goodman 1999's benchmark winner) for the corpus's
    top bigrams -- the smoothing the add-k ladder (``lm_bigram_score``)
    is an approximation of: the backoff mass goes to words by how
    many CONTEXTS they complete (continuation count), not raw
    frequency, which is what stops "Francisco" absorbing probability
    outside "San Francisco".

        P_kn(w2|w1) = max(c(w1 w2) - D, 0) / c(w1·)
                      + (D * N1+(w1 ·) / c(w1·)) * (N1+(· w2) / B)

    with D = ``discount``, N1+ the distinct-continuation counts and B
    the number of distinct bigram types.

    Exactness: every input to the formula is an exact integer count
    (bigram counts, left/right continuation counts, type total), so
    both engines evaluate the same IEEE expression on identical
    operands; the result rounds once at 6. Emits the top ``top_k``
    bigrams by (count DESC, w1, w2) -- deterministic tie order.

    Plan: the bigram stream is the row-local array-zip expression
    (lm_bigram_score's kernel, no self-join); one (w1,w2) count
    collapse feeds the left-marginal, right-continuation and
    type-total aggregates; two keyed joins onto vocabulary-sized
    tables + one 1-row broadcast; TakeOrdered cuts top_k before any
    output sort. Nothing after the first aggregate scales with the
    corpus.

    Reference licence: WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52) +
    chained-jobs model (SURVEY.md §2A FIFO queue).
    """
    toks = tokens_col("text")
    big = (
        documents.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    left = c2.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n_after")
    )
    right = c2.groupBy("w2").agg(F.count("*").alias("n_before"))
    btypes = c2.agg(F.count("*").alias("b"))
    d = F.lit(discount)
    pkn = F.round(
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
        + (d * F.col("n_after") / F.col("c1"))
        * (F.col("n_before") / F.col("b")),
        6,
    )
    return (
        c2.join(left, "w1")
        .join(right, "w2")
        .join(F.broadcast(btypes))
        .select("w1", "w2", "c12", pkn.alias("pkn"))
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(top_k)
    )


def lang_id_margin(documents: DataFrame) -> DataFrame:
    """Language-ID confidence margin -- the router's abstain signal:
    ``lang_id`` always answers, but a corpus pipeline needs to know
    WHICH answers to trust (route low-margin docs to a heavier
    classifier, drop them from lang-stratified mixes). Margin =
    top stopword-hit count minus the runner-up's; ties give margin 0.

    Pure row-local integer arithmetic on ``lang_id``'s scoring
    expressions (top2 = sum - greatest - least of the three hit
    counts -- no sort, no struct ordering); zero shuffles, map-only.

    Emits (doc_id, lang, pred_lang, margin, confident) with
    ``confident`` = margin >= 2 (at least two stopword hits of
    separation).
    """
    scored = lang_id(documents)
    g = F.greatest("en_hits", "es_hits", "de_hits")
    l = F.least("en_hits", "es_hits", "de_hits")
    mid = F.col("en_hits") + F.col("es_hits") + F.col("de_hits") - g - l
    margin = (g - mid).cast("int")
    return scored.select(
        "doc_id",
        "lang",
        "pred_lang",
        margin.alias("margin"),
        (margin >= 2).alias("confident"),
    )


# ------------------------------------------------------------- round 9


def hapax_ratio(documents: DataFrame) -> DataFrame:
    """Per-language hapax-legomenon profile: vocabulary size, number
    of words occurring exactly once in that language's corpus slice,
    and their ratio -- the classic vocabulary-richness / OCR-noise
    screen (a hapax ratio drifting up usually means garbage tokens,
    drifting down means boilerplate).

    One exploded (lang, word) count aggregation (partial+final,
    keyed on the pair) then a lang-keyed rollup -- the second shuffle
    carries vocab-sized rows only. All counts exact integers.

    Emits (lang, n_tokens, vocab_size, n_hapax, hapax_ratio).
    """
    wc = (
        documents.select("lang", F.explode(tokens_col("text")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("cnt"))
    )
    return wc.groupBy("lang").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
        F.sum((F.col("cnt") == 1).cast("long")).cast("long").alias("n_hapax"),
        F.round(
            F.sum((F.col("cnt") == 1).cast("long"))
            / F.count("*").cast("double"),
            4,
        ).alias("hapax_ratio"),
    )


#: sentence segmentation shared by sentence_stats / sentence_dedup:
#: split on [.!?]+ runs, trim, drop empties -- mirrored verbatim by
#: the DuckDB oracle's string_split_regex pipeline.
def _sentences_col():
    return F.filter(
        F.transform(
            F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )


def sentence_stats(documents: DataFrame) -> DataFrame:
    """Per-document sentence-shape profile: sentence count, mean
    tokens per sentence, longest sentence in characters -- the
    readability-adjacent quality signals a Gopher-style rule set
    reads (walls of unpunctuated text and staccato fragment spam
    both sit at the profile's edges).

    Pure map-only row-local expressions off ONE sentence array and
    one token count; zero shuffle.

    Emits (doc_id, n_sentences, avg_sentence_tokens,
    max_sentence_chars).
    """
    sents = _sentences_col()
    return documents.select(
        "doc_id",
        F.size(sents).cast("long").alias("n_sentences"),
        F.round(
            F.size(tokens_col("text"))
            / F.greatest(F.size(sents), F.lit(1)).cast("double"),
            4,
        ).alias("avg_sentence_tokens"),
        F.coalesce(
            F.array_max(F.transform(sents, lambda s: F.length(s))), F.lit(0)
        ).cast("long").alias("max_sentence_chars"),
    )


def sentence_dedup(documents: DataFrame) -> DataFrame:
    """Cross-document exact sentence deduplication report: for each
    document, how many of its sentences are first occurrences vs
    duplicates of a sentence seen earlier in the corpus order
    (doc_id, then position) -- the sentence-level boilerplate
    removal pass (C4's dedup granularity) summarized per document.

    One exploded (sentence -> first-occurrence rank) window keyed on
    the normalized sentence text, then a doc-keyed count rollup; the
    shuffle carries sentence instances once.

    Emits (doc_id, n_sentences, n_duplicate).
    """
    inst = documents.select(
        "doc_id", F.posexplode(_sentences_col()).alias("idx", "sent")
    ).select("doc_id", "idx", F.lower(F.col("sent")).alias("s"))
    w = Window.partitionBy("s").orderBy("doc_id", "idx")
    ranked = inst.select(
        "doc_id", F.row_number().over(w).alias("rn")
    )
    return ranked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_sentences"),
        F.sum((F.col("rn") > 1).cast("long")).cast("long").alias("n_duplicate"),
    )


def good_turing_counts(documents: DataFrame) -> DataFrame:
    """Good-Turing count-of-counts table with the adjusted counts
    r* = (r+1) * N_{r+1} / N_r -- the smoothing substrate every
    Katz/Kneser-Ney-family language model starts from (and a quick
    Zipf-tail sanity check: N_1 should dominate).

    Two keyed count aggregations (word counts -> count-of-counts)
    plus one lead window over the count-frequency table, which is
    tiny (distinct r values) whatever the corpus size. r* is one
    integer-ratio double; the top count (no N_{r+1}) emits NULL on
    both engines.

    Emits (r, n_r, r_star).
    """
    wc = (
        documents.select(F.explode(tokens_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("r"))
    )
    nr = wc.groupBy("r").agg(F.count("*").alias("n_r"))
    w = Window.orderBy("r")
    return nr.select(
        F.col("r").cast("long").alias("r"),
        F.col("n_r").cast("long").alias("n_r"),
        F.when(
            F.lead("r").over(w) == F.col("r") + 1,
            F.round(
                (F.col("r") + 1)
                * F.lead("n_r").over(w)
                / F.col("n_r").cast("double"),
                4,
            ),
        ).alias("r_star"),
    )


def bigram_entropy_rate(documents: DataFrame) -> DataFrame:
    """Per-context conditional bigram entropy H(w2 | w1) in integer
    micro-nats -- the local-predictability profile of the corpus
    (templated boilerplate contexts sit near zero; open contexts
    near ln(successors)), and the number a bigram LM's achievable
    compression is read from.

    Each (w1, w2) term c12 * ln(c1/c12) rounds to integer micro-nats
    BEFORE the per-context sum (the graph_adamic_adar discipline:
    never a cross-term double fold), so the grouped SUM is exact;
    the nats-per-token readout is one integer-ratio double. Bigram
    counts shuffle on the pair key, then on w1 -- both vocab-sized.

    Emits (w1, n_contexts, n_successors, h_micro, entropy_nats).
    """
    toks = tokens_col("text")
    pairs = documents.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    term = F.round(
        F.col("c12")
        * F.log(F.col("c1").cast("double") / F.col("c12"))
        * 1e6
    ).cast("long")
    return (
        c12.join(c1, "w1")
        .select("w1", "c1", term.alias("t"))
        .groupBy("w1", "c1")
        .agg(
            F.count("*").cast("long").alias("n_successors"),
            F.sum("t").cast("long").alias("h_micro"),
        )
        .select(
            "w1",
            F.col("c1").cast("long").alias("n_contexts"),
            "n_successors",
            "h_micro",
            F.round(
                F.col("h_micro") / (F.col("c1") * F.lit(1e6)), 6
            ).alias("entropy_nats"),
        )
    )


def case_profile(documents: DataFrame) -> DataFrame:
    """Per-document character-case/class profile: uppercase, digit,
    and alphabetic counts with their ratios, plus a
    starts-with-capital flag -- the cheap SHOUTING/serial-number/
    prose discriminator in the quality family.

    Counts via length-of-stripped-string arithmetic (one regex pass
    per class, identical on both engines); map-only, zero shuffle.

    Emits (doc_id, n_chars, n_upper, n_digit, n_alpha, upper_ratio,
    digit_ratio, starts_capital).
    """
    n_chars = F.length("text")
    n_upper = n_chars - F.length(F.regexp_replace("text", "[A-Z]", ""))
    n_digit = n_chars - F.length(F.regexp_replace("text", "[0-9]", ""))
    n_alpha = n_chars - F.length(
        F.regexp_replace("text", "[A-Za-z]", "")
    )
    return documents.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_upper.cast("long").alias("n_upper"),
        n_digit.cast("long").alias("n_digit"),
        n_alpha.cast("long").alias("n_alpha"),
        F.round(
            n_upper / F.greatest(n_alpha, F.lit(1)).cast("double"), 4
        ).alias("upper_ratio"),
        F.round(
            n_digit / F.greatest(n_chars, F.lit(1)).cast("double"), 4
        ).alias("digit_ratio"),
        (F.substring("text", 1, 1).rlike("[A-Z]")).cast("long").alias(
            "starts_capital"
        ),
    )


def vocab_growth_curve(documents: DataFrame) -> DataFrame:
    """Heaps'-law vocabulary growth: scanning documents in doc_id
    order, how many NEW words each document contributes and the
    running vocabulary size -- the curve whose flattening says the
    corpus stopped bringing new language (and whose slope calibrates
    dedup/diversity targets).

    Per-word first-occurrence doc (one keyed MIN aggregation), a
    doc-keyed count, and one cumulative window over the
    document-count-bounded curve. All integers.

    Emits (doc_id, n_new_words, cum_vocab) -- one row per document
    that introduced at least one new word.
    """
    first = (
        documents.select(
            "doc_id", F.explode(tokens_col("text")).alias("word")
        )
        .groupBy("word")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    curve = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").alias("n_new_words")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    return curve.select(
        "doc_id",
        F.col("n_new_words").cast("long").alias("n_new_words"),
        F.sum("n_new_words").over(w).cast("long").alias("cum_vocab"),
    )


def char_js_divergence(documents: DataFrame) -> DataFrame:
    """Jensen-Shannon divergence between each source's character
    distribution and the whole corpus's -- the per-source drift/
    contamination detector (a source whose char mix diverges from the
    corpus is OCR garbage, the wrong language, or markup) that
    ks_drift/psi_drift answer only for NUMERIC columns.

    JS(P_s || Q) = 0.5 KL(P_s||M) + 0.5 KL(Q||M), M = (P_s+Q)/2, with
    Q the global distribution (sources included -- the "fleet
    average" convention). Per-(source, char) terms are each ONE
    double expression off exact integer counts, rounded to integer
    nano-nats and summed EXACTLY -- no cross-char double fold; chars
    a source never emits still contribute their 0.5*q*ln(2) mass via
    the dense source x alphabet grid (alphabet-bounded broadcast).

    Emits (source, n_chars, js_nanonats, js_nats).
    """
    chars = documents.filter(F.length("text") > 0).select(
        "source", F.explode(F.split("text", "")).alias("ch")
    )
    sc = chars.groupBy("source", "ch").agg(F.count("*").alias("c_s"))
    gc = chars.groupBy("ch").agg(F.count("*").alias("c_g"))
    ns = sc.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    ng = gc.agg(F.sum("c_g").alias("n_g"))
    grid = (
        ns.join(F.broadcast(gc))
        .join(sc, ["source", "ch"], "left")
        .join(F.broadcast(ng))
        .select(
            "source",
            "n_s",
            F.coalesce(F.col("c_s"), F.lit(0)).alias("c_s"),
            "c_g",
            "n_g",
        )
    )
    p = F.col("c_s").cast("double") / F.col("n_s").cast("double")
    q = F.col("c_g").cast("double") / F.col("n_g").cast("double")
    m = (p + q) / F.lit(2.0)
    term = (
        F.when(F.col("c_s") > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(
            F.lit(0.0)
        )
        + F.lit(0.5) * q * F.log(q / m)
    )
    terms = grid.select(
        "source",
        "n_s",
        F.round(term * F.lit(1e9)).cast("long").alias("nano"),
    )
    return terms.groupBy("source").agg(
        F.max("n_s").cast("long").alias("n_chars"),
        F.sum("nano").cast("long").alias("js_nanonats"),
    ).select(
        "source",
        "n_chars",
        "js_nanonats",
        F.round(F.col("js_nanonats") / F.lit(1e9), 6).alias("js_nats"),
    )


def lang_id_kappa(documents: DataFrame) -> DataFrame:
    """Cohen's kappa between the stopword language heuristic and the
    labeled ``lang`` column -- the chance-corrected scalar that
    ``lang_id_confusion``'s matrix rolls up to (accuracy alone
    flatters any classifier on a skewed label mix).

    kappa = (n * sum_diag - sum_c row_c * col_c)
          / (n^2 - sum_c row_c * col_c): every sufficient statistic
    an exact integer off the confusion cells, kappa ONE double.

    Emits ONE row (n_docs, n_agree, kappa).
    """
    pred = lang_id(documents).select("lang", "pred_lang")
    cells = pred.groupBy("lang", "pred_lang").agg(
        F.count("*").alias("n_cell")
    )
    rows = cells.groupBy("lang").agg(F.sum("n_cell").alias("r"))
    cols = cells.groupBy("pred_lang").agg(F.sum("n_cell").alias("c"))
    chance = (
        rows.join(
            cols, rows["lang"] == cols["pred_lang"], "inner"
        ).agg(F.sum(F.col("r") * F.col("c")).alias("rc"))
    )
    agg = cells.agg(
        F.sum("n_cell").alias("n"),
        F.sum(
            F.when(F.col("lang") == F.col("pred_lang"), F.col("n_cell"))
        ).alias("diag"),
    )
    return agg.join(F.broadcast(chance)).select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("diag").cast("long").alias("n_agree"),
        F.round(
            F.when(
                F.col("n") * F.col("n") != F.col("rc"),
                (F.col("n") * F.col("diag") - F.col("rc")).cast("double")
                / (F.col("n") * F.col("n") - F.col("rc")).cast("double"),
            ),
            4,
        ).alias("kappa"),
    )


def simpson_diversity(documents: DataFrame) -> DataFrame:
    """Per-source Simpson lexical diversity: the probability two
    word tokens drawn (without replacement) from a source differ --
    1 - sum n_w(n_w - 1) / (N(N - 1)). The repetition-robust
    companion to vocab_growth_curve's Heaps exponent: boilerplate
    farms score low, diverse prose high, and unlike type-token
    ratios the index is length-unbiased.

    Pure integers until the final division (collision counts
    n_w(n_w-1) sum exactly); one double per source.

    Emits (source, n_tokens, n_types, simpson_diversity).
    """
    words = documents.select(
        "source", F.explode(tokens_col("text")).alias("word")
    )
    wc = words.groupBy("source", "word").agg(F.count("*").alias("c"))
    agg = wc.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("coll"),
    )
    return agg.select(
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.round(
            F.when(
                F.col("n") > 1,
                F.lit(1.0)
                - F.col("coll").cast("double")
                / (F.col("n") * (F.col("n") - 1)).cast("double"),
            ),
            6,
        ).alias("simpson_diversity"),
    )


def word_burstiness(documents: DataFrame, top_k: int = 100) -> DataFrame:
    """Church-Gale word burstiness for the top-df vocabulary: given a
    word appears in a document at all, how often does it appear AGAIN
    (mean occurrences per containing doc, and the share of containing
    docs where it repeats). Function words spread thin (burstiness
    ~1); content/topic words clump -- the signal that separates them
    without any stopword list, and a feature quality scorers use to
    spot keyword-stuffed spam (burstiness far above the vocabulary
    trend).

    Per-(doc, word) counts reduce the token stream before anything
    ranks; the top-k cut is deterministic ((df, total, word) order)
    and k-bounded. Integer sufficient statistics; two ratio doubles.

    Emits (word, df, total_count, mean_per_doc, repeat_doc_share).
    """
    dw = (
        documents.select("doc_id", F.explode(tokens_col("text")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    per_word = dw.groupBy("word").agg(
        F.count("*").alias("df"),
        F.sum("c").alias("total"),
        F.sum((F.col("c") >= 2).cast("long")).alias("df_ge2"),
    )
    top = per_word.orderBy(
        F.col("df").desc(), F.col("total").desc(), "word"
    ).limit(top_k)
    return top.select(
        "word",
        F.col("df").cast("long").alias("df"),
        F.col("total").cast("long").alias("total_count"),
        F.round(
            F.col("total").cast("double") / F.col("df").cast("double"), 6
        ).alias("mean_per_doc"),
        (
            F.round(
                F.col("df_ge2") * F.lit(1e6) / F.col("df").cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("repeat_doc_share"),
    )


def source_cross_entropy(documents: DataFrame) -> DataFrame:
    """Per-source cross entropy under the corpus unigram LM: the
    average surprise (nats/token) of a source's word stream scored by
    the fleet-average distribution -- low = templated/mainstream
    text, high = off-distribution vocabulary. The source-level
    companion to lm_unigram_score's per-doc readout, and the standard
    domain-mix diagnostic before corpus reweighting.

    Per-(source, word) terms c_s(w) * ln(N / c(w)) are each ONE
    double off exact integer counts, rounded to integer micro-nats
    and summed EXACTLY; H_s divides once by the source's token count.

    Emits (source, n_tokens, h_micronats, cross_entropy_nats).
    """
    words = documents.select(
        "source", F.explode(tokens_col("text")).alias("word")
    )
    sc = words.groupBy("source", "word").agg(F.count("*").alias("c_s"))
    gc = words.groupBy("word").agg(F.count("*").alias("c_g"))
    ng = gc.agg(F.sum("c_g").alias("n_g"))
    terms = (
        sc.join(gc, "word")
        .join(F.broadcast(ng))
        .select(
            "source",
            "c_s",
            F.round(
                F.col("c_s").cast("double")
                * F.log(
                    F.col("n_g").cast("double") / F.col("c_g").cast("double")
                )
                * F.lit(1e6)
            ).cast("long").alias("micro"),
        )
    )
    agg = terms.groupBy("source").agg(
        F.sum("c_s").cast("long").alias("n_tokens"),
        F.sum("micro").cast("long").alias("h_micronats"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "h_micronats",
        F.round(
            F.col("h_micronats").cast("double")
            / F.lit(1e6)
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("cross_entropy_nats"),
    )


def yule_k(documents: DataFrame) -> DataFrame:
    """Yule's K vocabulary-richness characteristic per source: the
    classic repeat-rate statistic K = 1e4 * (sum m^2 V(m) - N) / N^2
    over the count-of-counts profile (V(m) = words used exactly m
    times) -- length-invariant like simpson_diversity but weighted
    toward the heavy repeaters, which is why stylometry uses it to
    fingerprint authors and quality pipelines to flag template farms.

    Sufficient statistics are exact integers (sum m^2 V(m) equals the
    sum of per-word squared counts); K is ONE double per source.

    Emits (source, n_tokens, n_types, yule_k).
    """
    words = documents.select(
        "source", F.explode(tokens_col("text")).alias("word")
    )
    wc = words.groupBy("source", "word").agg(F.count("*").alias("c"))
    agg = wc.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("m2"),
    )
    return agg.select(
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.round(
            F.lit(1e4)
            * (F.col("m2") - F.col("n")).cast("double")
            / (F.col("n") * F.col("n")).cast("double"),
            4,
        ).alias("yule_k"),
    )


def heaps_fit(documents: DataFrame) -> DataFrame:
    """Heaps'-law fit over the vocabulary growth curve: regress
    ln(vocab) on ln(cumulative tokens) across the doc-scan
    checkpoints and report (K, beta) of V = K * N^beta -- the scalar
    pair that vocab_growth_curve's raw curve exists to produce
    (beta ~ 0.5 for natural text; beta near 1 = vocabulary still
    exploding = dedup/normalization not done; beta near 0 =
    template farm).

    Each checkpoint's (ln N_d, ln V_d) is ONE double off exact
    integers, rounded to integer MILLI-nats (1e3 -- the n*sum(x*y)
    moment at micro scale overflows int64 past ~500 checkpoints;
    milli keeps the full fold under 2^63 to ~1e9 checkpoints while
    the fit readout keeps 3 significant decimals); the OLS moment
    sums then fold exact integers (doc-count-bounded series), and
    slope/intercept are each one double expression.

    Emits ONE row (n_points, heaps_beta, heaps_k).
    """
    words = documents.select(
        "doc_id", F.explode(tokens_col("text")).alias("word")
    )
    first_seen = words.groupBy("word").agg(F.min("doc_id").alias("d0"))
    new_per_doc = first_seen.groupBy(F.col("d0").alias("doc_id")).agg(
        F.count("*").alias("new_words")
    )
    toks_per_doc = words.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    wo = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    curve = (
        toks_per_doc.join(new_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("n_toks").over(wo).alias("cum_toks"),
            F.sum(F.coalesce("new_words", F.lit(0)))
            .over(wo)
            .alias("vocab"),
        )
        .filter(F.col("cum_toks") > 0)
    )
    pts = curve.select(
        F.round(F.log(F.col("cum_toks").cast("double")) * F.lit(1e3))
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("vocab").cast("double")) * F.lit(1e3))
        .cast("long")
        .alias("y"),
    )
    mo = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    )
    intercept_micro = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return mo.select(
        F.col("n").cast("long").alias("n_points"),
        F.round(slope, 6).alias("heaps_beta"),
        F.round(F.exp(intercept_micro / F.lit(1e3)), 4).alias("heaps_k"),
    )


def word_length_histogram(documents: DataFrame) -> DataFrame:
    """Corpus word-length histogram: token counts and share per
    character length -- the tokenizer-design diagnostic
    (length-1-2 spikes = fragmentation, a heavy 15+ tail = URLs/
    concatenations that need pre-splitting) that doc-level
    length_histogram cannot show.

    One token-stream reduction to a length-bounded histogram; shares
    round at INTEGER 1e-6 scale.

    Emits (word_len, n_tokens, share).
    """
    lens = documents.select(
        F.explode(tokens_col("text")).alias("word")
    ).select(F.length("word").cast("long").alias("word_len"))
    hist = lens.groupBy("word_len").agg(F.count("*").alias("n_tokens"))
    tot = hist.agg(F.sum("n_tokens").alias("total"))
    return hist.join(F.broadcast(tot)).select(
        "word_len",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (
            F.round(
                F.col("n_tokens") * F.lit(1e6)
                / F.col("total").cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("share"),
    )


def common_trigram_coverage(documents: DataFrame, top_k: int = 100) -> DataFrame:
    """Per-document coverage by the corpus's ``top_k`` most frequent
    word trigrams -- the boilerplate detector one level above
    ``repetition_score``'s within-doc view: navigation chrome, license
    headers, and template scaffolding all surface as documents whose
    trigram stream is mostly corpus-common, while genuinely novel
    prose scores near zero.

    Plan: one trigram explode feeds the corpus frequency table; the
    top-k cut compiles to ``TakeOrderedAndProject`` (count DESC,
    trigram ASC -- fully deterministic) and broadcasts as a k-row
    semi-join side back onto the same exploded stream; one doc-keyed
    aggregate closes. Work is two passes over the trigram stream and
    a constant-size broadcast at any corpus scale. Coverage rounds at
    INTEGER 1e-6 scale.

    Emits (doc_id, n_trigrams, n_common, common_share).
    """
    toks = tokens_col("text")
    tg = (
        documents.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", F.explode(F.expr(grams_expr(3))).alias("gram"))
    )
    top = (
        tg.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(top_k)
        .select("gram", F.lit(1).alias("is_common"))
    )
    return (
        tg.join(F.broadcast(top), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.sum(F.coalesce(F.col("is_common"), F.lit(0))).alias("n_common"),
        )
        .select(
            "doc_id",
            F.col("n_trigrams").cast("long").alias("n_trigrams"),
            F.col("n_common").cast("long").alias("n_common"),
            (
                F.round(
                    F.col("n_common") * F.lit(1e6)
                    / F.col("n_trigrams").cast("double")
                ).cast("long")
                / F.lit(1e6)
            ).alias("common_share"),
        )
    )


def lm_perplexity_bucket(documents: DataFrame) -> DataFrame:
    """Perplexity-bucketed corpus histogram: every document scored
    under the corpus's own unigram LM (the ``lm_unigram_score``
    model), then binned by its average token log-probability to the
    nearest integer nat -- the standard perplexity-filter REPORT
    (how much mass sits in the junk tail vs the boilerplate head,
    per language) that precedes choosing a filter threshold.

    Exactness: per-token log-probs round to INTEGER MICRO-NATS before
    the per-doc sum (the ``lm_bigram_entropy_rate`` discipline), so
    per-doc sums are exact integers; the bucket is round(avg_nats)
    computed from one integer division -- identical doubles, identical
    half-up rounding on both engines. The within-bucket mean re-rounds
    the same exact integer sums.

    Plan: one token explode feeding the word-keyed model aggregate
    and the doc-keyed scoring aggregate (the lm_unigram_score
    two-branch shape), then an (alphabet x buckets)-bounded rollup.

    Emits (ppl_bucket, lang, n_docs, mean_avg_logprob).
    """
    words = words_exploded(documents).join(
        documents.select("doc_id", "lang"), "doc_id"
    )
    counts = words.groupBy("word").agg(F.count("*").alias("c"))
    total = words.select(F.count("*").alias("t"))
    term = (
        F.round(F.log(F.col("c") / F.col("t")) * F.lit(1e6))
        .cast("long")
        .alias("lp_micro")
    )
    per_doc = (
        words.join(counts, "word")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "lang", term)
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lp_micro").alias("sum_micro"),
        )
        .withColumn(
            "ppl_bucket",
            F.round(
                F.col("sum_micro").cast("double")
                / (F.col("n_tokens") * F.lit(1e6))
            ).cast("long"),
        )
    )
    return per_doc.groupBy("ppl_bucket", "lang").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum("sum_micro").cast("double")
            / (F.sum("n_tokens") * F.lit(1e6)),
            6,
        ).alias("mean_avg_logprob"),
    )


def sentence_length_gini(documents: DataFrame) -> DataFrame:
    """Per-document Gini coefficient of sentence CHAR lengths -- the
    structural-uniformity signal next to ``sentence_stats``' means
    (templated listicles and boilerplate walls both show near-zero
    dispersion; organic prose sits midband).

    Exactness: with the doc's sentence lengths sorted ascending, the
    Gini numerator 2*sum(i * x_i) - (n+1)*sum(x) is an exact integer
    (ties rank arbitrarily WITHOUT changing the sum -- equal x under
    different i permute identical products), and the single closing
    division by n*sum(x) runs on identical doubles.

    Plan: one sentence explode keyed by doc for the rank window, one
    doc-keyed fold. The shuffle carries sentence instances once.

    Emits (doc_id, n_sentences, gini) -- NULL gini when the doc has
    < 2 sentences or zero total length.
    """
    inst = documents.select(
        "doc_id", F.posexplode(_sentences_col()).alias("idx", "sent")
    ).select("doc_id", "idx", F.length("sent").alias("ln"))
    w = Window.partitionBy("doc_id").orderBy("ln", "idx")
    ranked = inst.select(
        "doc_id", "ln", F.row_number().over(w).alias("rn")
    )
    agg = ranked.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        F.sum("ln").alias("s"),
        F.sum(F.col("rn") * F.col("ln")).alias("rs"),
    )
    num = 2 * F.col("rs") - (F.col("n") + 1) * F.col("s")
    gini = F.when(
        (F.col("n") >= 2) & (F.col("s") > 0),
        num.cast("double") / (F.col("n") * F.col("s")).cast("double"),
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("long").alias("n_sentences"),
        F.round(gini, 6).alias("gini"),
    )


def doc_length_quantiles(documents: DataFrame) -> DataFrame:
    """Per-language exact interpolated quantiles of document length
    (p25/p50/p75/p90 of ``n_chars``) through the distributed
    order-statistic kernel -- the corpus-planning numbers (context
    budget fit, chunking policy) that a grouped ``percentile`` cannot
    provide at scale without buffering a language's full value list.

    ``exact_quantiles_grouped``: range-sharded on (lang, value),
    two-phase exact prefix sums, Arrow walk emitting only straddling
    statistics -- per-task memory is one shard regardless of how
    skewed languages are. Long form (lang, q_idx, bound), bit-equal
    to quantile_cont.
    """
    from .relational import exact_quantiles_grouped

    vals = documents.select(
        "lang", F.col("n_chars").cast("double").alias("v")
    )
    return exact_quantiles_grouped(vals, "lang", "v", [0.25, 0.5, 0.75, 0.9])


def token_count_histogram(documents: DataFrame) -> DataFrame:
    """Order-of-magnitude token-count histogram per source: documents
    bucketed by the DECIMAL DIGIT COUNT of their token count (1-9,
    10-99, ...) -- the sequence-length planning view (how much of each
    source fits a context window) with a bucket rule that is exact on
    both engines by construction (string length of the integer, no
    log2 boundary fp risk).

    One tokenize scan, a (source, digits)-bounded rollup. Emits
    (source, magnitude_digits, n_docs, total_tokens).
    """
    n_tok = F.size(tokens_col("text"))
    return (
        documents.select(
            "source",
            n_tok.alias("n_tokens"),
            F.length(n_tok.cast("string")).alias("magnitude_digits"),
        )
        .groupBy("source", "magnitude_digits")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select(
            "source",
            F.col("magnitude_digits").cast("int").alias("magnitude_digits"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
        )
    )


def skipgram_pmi(
    documents: DataFrame, window: int = 2, min_count: int = 5, k: int = 30
) -> DataFrame:
    """Skip-gram collocations: top-k ordered word pairs co-occurring
    within a 2-token window (gap 1 = adjacent bigram, gap 2 = one
    word skipped), ranked by raw count with PMI attached -- the
    word2vec-style context statistic that ``pair_pmi``'s strictly
    adjacent bigrams miss ("new ... york" split by a determiner).

    The pair stream is built ROW-LOCALLY (one struct-transform over
    each token array per gap -- no positional self-join, so the
    shuffle carries pairs, not token positions); unigram and pair
    counts are combinable aggregations; the scoring join is keyed on
    words with only the 1-row token total broadcast (pair_pmi's
    shape). PMI is one double log2 per surviving pair, rounded 4;
    ranking is by exact integer count with the pair as tiebreak.

    Emits (w1, w2, gap, n_pair, pmi).
    """
    toks = tokens_col("text")
    base = documents.select("doc_id", toks.alias("toks"))
    streams = []
    for gap in (1, 2):
        streams.append(
            base.filter(F.size("toks") > gap).select(
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(toks) - {gap}),"
                        f" i -> struct(toks[i - 1] AS w1,"
                        f" toks[i + {gap - 1}] AS w2))"
                    )
                ).alias("p"),
                F.lit(gap).alias("gap"),
            )
        )
    pairs = streams[0].unionByName(streams[1]).select(
        "p.w1", "p.w2", "gap"
    )
    words = words_exploded(documents)
    c1 = words.groupBy("word").agg(F.count("*").alias("c1"))
    c2 = pairs.groupBy("w1", "w2", "gap").agg(
        F.count("*").alias("n_pair")
    )
    total = words.select(F.count("*").cast("double").alias("n_tokens"))
    c1a = c1.select(F.col("word").alias("w1"), F.col("c1").alias("c1a"))
    c1b = c1.select(F.col("word").alias("w2"), F.col("c1").alias("c1b"))
    pmi = F.log2(
        F.col("n_pair") * F.col("n_tokens") / (F.col("c1a") * F.col("c1b"))
    )
    scored = (
        c2.filter(F.col("n_pair") >= min_count)
        .join(c1a, "w1")
        .join(c1b, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "gap",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.round(pmi, 4).alias("pmi"),
        )
    )
    # top-k via TakeOrderedAndProject (per-partition heaps)
    return scored.orderBy(
        F.col("n_pair").desc(), "w1", "w2", "gap"
    ).limit(k)


def corpus_lang_rebalance(documents: DataFrame) -> DataFrame:
    """Language-rebalancing sampling plan: per-language keep
    probability that downsamples every language to the rarest one's
    document count -- the mix-control step a multilingual training
    corpus runs before sampling (the inverse-frequency companion to
    ``corpus_mix_temperature``'s smooth reweighting: this one targets
    exact uniformity).

    Per-language counts are exact integers; the rarest count rides as
    a 1-row broadcast; keep_prob = min_count/count is one integer
    ratio at 1e-6 scale and expected_kept its exact integer-scaled
    product.

    Emits (lang, n_docs, keep_prob, expected_kept).
    """
    counts = documents.groupBy("lang").agg(F.count("*").alias("n_docs"))
    mn = counts.agg(F.min("n_docs").alias("min_docs"))
    keep = (
        F.round(
            F.col("min_docs") * F.lit(1e6) / F.col("n_docs").cast("double")
        ).cast("long")
        / F.lit(1e6)
    )
    return counts.crossJoin(F.broadcast(mn)).select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        keep.alias("keep_prob"),
        F.round(F.col("n_docs") * keep).cast("long").alias("expected_kept"),
    )


def text_self_repetition(documents: DataFrame, n: int = 3) -> DataFrame:
    """Within-document repetition: the fraction of a document's word
    3-grams that are repeats of an earlier gram in the SAME document
    -- the doc-grain Gopher repetition signal (the cross-doc
    boilerplate detector is ``quality_dup_ngram_frac``; this one
    catches the looping/stuttering generations and copy-paste fills
    that poison LM training even when globally unique).

    Map-only: per doc, total vs distinct gram counts from one
    row-local gram construction (``grams_expr``, the shared gram
    definition); rep_frac = (t - d)/t one integer ratio at 1e-6
    scale. Docs shorter than n tokens carry no gram and drop.

    Emits (doc_id, n_grams, rep_frac).
    """
    toks = tokens_col("text")
    base = documents.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= n
    )
    grams = F.expr(grams_expr(n))
    return base.select(
        "doc_id",
        F.size(grams).cast("long").alias("n_grams"),
        (
            F.round(
                (F.size(grams) - F.size(F.array_distinct(grams)))
                * F.lit(1e6)
                / F.size(grams).cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("rep_frac"),
    )


def novelty_saturation(
    documents: DataFrame, n: int = 3, shards: int = 32
) -> DataFrame:
    """Corpus novelty-saturation curve: the share of each doc-id
    decile's word 3-grams that are FIRST OCCURRENCES in doc_id order
    -- the diminishing-returns readout of corpus growth (a flattening
    curve says new documents mostly repeat what the corpus already
    has; the acquisition-budget signal next to
    ``vocab_growth_curve``'s vocabulary framing, here at the n-gram
    grain dedup actually operates on).

    One gram explode; each gram's first-carrier is an exact min over
    doc_id; deciles cut by ntile semantics over the unique doc_id
    order; novelty shares are integer ratios at 1e-6 scale.

    Scale: no corpus-cardinality global window. The per-doc table is
    range-sharded on doc_id; per-shard row counts roll up to a
    <=``shards``-row offsets table (the only one-partition window),
    broadcast back so each row's GLOBAL rank is shard offset +
    in-shard row_number -- the exact-quantile kernel's prefix-sum
    pattern. The decile is then ntile's closed form over (rank, N):
    the first N mod 10 tiles get floor(N/10)+1 rows, the rest
    floor(N/10), identical to the ntile(10) the oracle runs.

    Emits (decile, n_docs, n_grams, n_first, novelty).
    """
    toks = tokens_col("text")
    grams = (
        documents.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "doc_id", F.explode(F.expr(grams_expr(n))).alias("gram")
        )
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                (F.col("doc_id") == F.col("first_doc")).cast("long")
            ).alias("n_first"),
        )
    )
    # Pin the narrow per-doc stream: repartitionByRange's boundary-
    # sampling job would otherwise re-run the gram explode + join,
    # and the pinned input keeps the (deterministic, seeded) range
    # sampling identical for the two consumers below.
    base = per_doc.localCheckpoint(eager=False)
    sharded = base.repartitionByRange(shards, "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    w_off = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        sharded.groupBy("pid")
        .agg(F.count("*").alias("ptot"))
        .select(
            "pid",
            F.coalesce(F.sum("ptot").over(w_off), F.lit(0)).alias(
                "offset"
            ),
            F.sum("ptot").over(w_all).alias("n_total"),
        )
    )
    w_in = Window.partitionBy("pid").orderBy("doc_id")
    ranked = sharded.join(F.broadcast(offsets), "pid").select(
        "n_grams",
        "n_first",
        (F.col("offset") + F.row_number().over(w_in)).alias("r"),
        F.col("n_total").alias("nn"),
    )
    # ntile(10) closed form on the exact global rank: q = N div 10,
    # rem = N mod 10; first rem tiles hold q+1 rows, the rest q.
    q = F.floor(F.col("nn") / 10)
    rem = F.col("nn") % 10
    deciled = ranked.select(
        "n_grams",
        "n_first",
        F.when(
            F.col("r") <= rem * (q + 1),
            F.ceil(F.col("r") / (q + 1)),
        )
        .otherwise(rem + F.ceil((F.col("r") - rem * (q + 1)) / q))
        .cast("int")
        .alias("decile"),
    )
    return deciled.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_grams").cast("long").alias("n_grams"),
        F.sum("n_first").cast("long").alias("n_first"),
        (
            F.round(
                F.sum("n_first") * F.lit(1e6)
                / F.sum("n_grams").cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("novelty"),
    )


def stopword_profile(documents: DataFrame) -> DataFrame:
    """Per-language stopword-share profile against the three
    curated stoplists (en/es/de -- the same alphabets lang_id keys
    on): what fraction of each declared language's tokens hit each
    list. The diagonal should dominate; off-diagonal mass is the
    mislabeled-or-code-mixed signal a corpus audit reads BEFORE
    trusting the lang column (the marginal companion to
    lang_id_confusion's per-doc verdicts).

    One token explode, one (lang x 3-list) aggregation; shares are
    integer ratios at 1e-6 scale.

    Emits (lang, n_tokens, en_share, es_share, de_share).
    """
    en = ["the", "a", "of", "and", "to", "in", "is"]
    es = ["el", "la", "de", "y", "es", "un", "que"]
    de = ["der", "die", "das", "und", "ist", "ein", "zu"]
    words = documents.select(
        "lang", F.explode(tokens_col("text")).alias("word")
    )
    agg = words.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("word").isin(en).cast("long")).alias("en_hits"),
        F.sum(F.col("word").isin(es).cast("long")).alias("es_hits"),
        F.sum(F.col("word").isin(de).cast("long")).alias("de_hits"),
    )

    def share(c: str):
        return (
            F.round(
                F.col(c) * F.lit(1e6) / F.col("n_tokens").cast("double")
            ).cast("long")
            / F.lit(1e6)
        )

    return agg.select(
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        share("en_hits").alias("en_share"),
        share("es_hits").alias("es_share"),
        share("de_hits").alias("de_share"),
    )
