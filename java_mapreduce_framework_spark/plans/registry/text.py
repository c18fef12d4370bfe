"""Text section of the declared query registry: the wordcount family,
tokenizers, language models, quality scoring and corpus statistics
over ``documents``, written over ``operators/text.py``."""

from __future__ import annotations

from ...operators import text
from .core import (
    _EN,
    _QUALITY_EXPR,
    _QUALITY_MEASURES_CTE,
    _register,
    _t,
    _TOKS,
    _WORDS_CTE,
)

#: Spanish and German stopwords of the lang_id oracles.
_ES = "('el','la','de','y','es','un','que')"
_DE = "('der','die','das','und','ist','ein','zu')"


@_register(
    "wordcount",
    _WORDS_CTE + "SELECT word, count(*) AS cnt FROM words GROUP BY word",
    note="flagship; reference job/WordCount.java with standard total-count semantics",
)
def _wordcount(spark, sf):
    return text.wordcount(_t(spark, sf, "documents"))


@_register(
    "wordcount_records_containing",
    _WORDS_CTE + "SELECT word, count(DISTINCT doc_id) AS n_docs FROM words GROUP BY word",
    note="literal reference semantics (values.length quirk, SURVEY 2A)",
)
def _wordcount_records_containing(spark, sf):
    return text.wordcount_records_containing(_t(spark, sf, "documents"))


@_register(
    "text_stats",
    f"""
    WITH toks AS (SELECT doc_id, text, {_TOKS} AS t FROM documents)
    SELECT doc_id,
           CAST(len(t) AS INTEGER) AS n_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_measured,
           round(coalesce(list_sum(list_transform(t, s -> length(s))), 0) * 1.0
                 / greatest(len(t), 1), 4) AS avg_token_len,
           CAST(len(list_distinct(t)) AS INTEGER) AS n_unique_tokens
    FROM toks
    """,
)
def _text_stats(spark, sf):
    return text.text_stats(_t(spark, sf, "documents"))


@_register(
    "lang_id",
    f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    h AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(t, x -> x IN {_EN})) AS INTEGER) AS en_hits,
             CAST(len(list_filter(t, x -> x IN {_ES})) AS INTEGER) AS es_hits,
             CAST(len(list_filter(t, x -> x IN {_DE})) AS INTEGER) AS de_hits
      FROM toks)
    SELECT doc_id, lang, en_hits, es_hits, de_hits,
           CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
                WHEN es_hits >= de_hits THEN 'es'
                ELSE 'de' END AS pred_lang
    FROM h
    """,
)
def _lang_id(spark, sf):
    return text.lang_id(_t(spark, sf, "documents"))


@_register(
    "lang_id_confusion",
    f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    h AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(t, x -> x IN {_EN})) AS INTEGER) AS en_hits,
             CAST(len(list_filter(t, x -> x IN {_ES})) AS INTEGER) AS es_hits,
             CAST(len(list_filter(t, x -> x IN {_DE})) AS INTEGER) AS de_hits
      FROM toks),
    p AS (
      SELECT lang,
             CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
                  WHEN es_hits >= de_hits THEN 'es'
                  ELSE 'de' END AS pred_lang
      FROM h),
    cm AS (SELECT lang, pred_lang, count(*) AS n_docs
           FROM p GROUP BY lang, pred_lang)
    SELECT lang, pred_lang, CAST(n_docs AS BIGINT) AS n_docs,
           round(n_docs * 1.0
                 / sum(n_docs) OVER (PARTITION BY lang), 4) AS class_frac
    FROM cm
    """,
    note="lang-ID confusion matrix vs the labeled lang column "
    "(per-class recall diagonal + error mass): lang_id expressions "
    "verbatim into ONE pair aggregate; class-share window over the "
    "matrix, never the corpus",
)
def _lang_id_confusion(spark, sf):
    return text.lang_id_confusion(_t(spark, sf, "documents"))


@_register(
    "quality_score",
    f"""
    WITH {_QUALITY_MEASURES_CTE}
    SELECT doc_id, n_tokens,
           round(n_punct * 1.0 / greatest(n_chars, 1), 4) AS punct_ratio,
           round(stop_hits * 1.0 / greatest(n_tokens, 1), 4) AS stopword_ratio,
           {_QUALITY_EXPR} AS quality
    FROM m
    """,
)
def _quality_score(spark, sf):
    return text.quality_score(_t(spark, sf, "documents"))


@_register(
    "quality_stratify",
    f"""
    WITH {_QUALITY_MEASURES_CTE},
    q AS (
      SELECT doc_id, {_QUALITY_EXPR} AS quality
      FROM m),
    t AS (
      SELECT round(quantile_cont(quality, 0.25), 6) AS t1,
             round(quantile_cont(quality, 0.50), 6) AS t2,
             round(quantile_cont(quality, 0.75), 6) AS t3
      FROM q)
    SELECT doc_id, quality,
           CAST(CASE WHEN quality <= t1 THEN 1
                     WHEN quality <= t2 THEN 2
                     WHEN quality <= t3 THEN 3
                     ELSE 4 END AS INTEGER) AS quartile
    FROM q CROSS JOIN t
    """,
    note="threshold-broadcast stratification, not a global ntile window",
)
def _quality_stratify(spark, sf):
    return text.quality_stratify(_t(spark, sf, "documents"))


@_register(
    "token_count_bpe",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text),
                '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens
    FROM documents
    """,
)
def _token_count_bpe(spark, sf):
    return text.token_count_bpe(_t(spark, sf, "documents"))


@_register(
    "token_fertility",
    f"""
    WITH base AS (
      SELECT lang,
             len({_TOKS}) AS ws,
             len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe,
             length(text) AS chars
      FROM documents),
    agg AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(ws) AS BIGINT) AS n_ws_tokens,
             CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
             CAST(sum(chars) AS BIGINT) AS n_chars
      FROM base GROUP BY lang)
    SELECT lang, n_docs, n_ws_tokens, n_bpe_tokens, n_chars,
           CASE WHEN n_ws_tokens > 0
                THEN round(n_bpe_tokens * 1.0 / n_ws_tokens, 4) END
             AS fertility,
           CASE WHEN n_bpe_tokens > 0
                THEN round(n_chars * 1.0 / n_bpe_tokens, 4) END
             AS chars_per_token
    FROM agg
    """,
    note="per-language tokenizer fertility (BPE tokens per word, "
    "chars per token): the multilingual tokenizer health check; "
    "map-side pretokenizers shared with token_count_bpe, ONE "
    "partial->final aggregate, ratios row-local on the alphabet",
)
def _token_fertility(spark, sf):
    return text.token_fertility(_t(spark, sf, "documents"))


@_register(
    "text_normalize",
    """
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9\\s.,;:!?''-]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_text
      FROM documents)
    SELECT doc_id, norm_text, CAST(length(norm_text) AS INTEGER) AS n_chars_norm
    FROM n
    """,
)
def _text_normalize(spark, sf):
    return text.text_normalize(_t(spark, sf, "documents"))


def _pii_redact_oracle_sql() -> str:
    """Generated from the SAME pattern constants the Spark operator
    compiles (operators/text.py), one chained CTE per redaction stage
    in the same order -- the pattern strings provably cannot drift
    between engine and oracle (the sampling-oracle discipline).
    DuckDB's standard single-quoted literals pass backslashes through
    verbatim, so the Python constants embed unchanged."""
    stages = (
        (text.EMAIL_REGEX, "<EMAIL>", "n_emails"),
        (text.IPV6_REGEX, "<IPV6>", "n_ipv6"),
        (text.IPV4_REGEX, "<IPV4>", "n_ipv4"),
        (text.CCARD_REGEX, "<CCARD>", "n_ccards"),
        (text.SSN_REGEX, "<SSN>", "n_ssns"),
        (text.PHONE_REGEX, "<PHONE>", "n_phones"),
    )
    ctes = ["s0 AS (SELECT doc_id, text AS t FROM documents)"]
    kept: list[str] = []
    for i, (pat, token, name) in enumerate(stages, start=1):
        prev_cols = "".join(f"{c}, " for c in kept)
        ctes.append(
            f"""s{i} AS (
      SELECT doc_id, {prev_cols}
             CAST(len(regexp_extract_all(t, '{pat}')) AS INTEGER) AS {name},
             regexp_replace(t, '{pat}', '{token}', 'g') AS t
      FROM s{i - 1})"""
        )
        kept.append(name)
    cols = ", ".join(kept)
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT doc_id, {cols}, t AS redacted FROM s{len(stages)}"
    )


@_register(
    "pii_redact",
    _pii_redact_oracle_sql(),
    note="six-stage typed PII scrub (email/IPv6/IPv4/credit-card/SSN/"
    "phone) -- each stage counts+rewrites the previous stage's output "
    "so broad digit shapes can't re-match scrubbed narrow ones; "
    "identical Java∩RE2 pattern strings on both engines, oracle "
    "GENERATED from the same constants",
)
def _pii_redact(spark, sf):
    return text.pii_redact(_t(spark, sf, "documents"))


@_register(
    "length_histogram",
    """
    SELECT CAST(floor(length(text) / 100) AS BIGINT) * 100 AS bucket_lo,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(min(length(text)) AS INTEGER) AS min_chars,
           CAST(max(length(text)) AS INTEGER) AS max_chars
    FROM documents GROUP BY 1
    """,
)
def _length_histogram(spark, sf):
    return text.length_histogram(_t(spark, sf, "documents"))


# Sampling oracles are GENERATED from the same rate constants and
# threshold encoding the Spark predicates use (operators/text.py::
# SAMPLE_RATE / MIX_RATES / hash_threshold) — editing a rate can't
# desynchronize the oracle.
_MIX_PREDICATE = "substr(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 4)"


_MIX_WHERE = "\n       OR ".join(
    f"(lang = '{lang}' AND {_MIX_PREDICATE} < '{text.hash_threshold(rate)}')"
    for lang, rate in sorted(text.MIX_RATES.items())
)


@_register(
    "sample_deterministic",
    f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{text.hash_threshold(text.SAMPLE_RATE)}'
    """,
    note=f"content-hash Bernoulli sample, rate {text.SAMPLE_RATE}; exact cross-engine",
)
def _sample_deterministic(spark, sf):
    return text.sample_deterministic(_t(spark, sf, "documents"))


@_register(
    "corpus_mix",
    f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_MIX_WHERE}
    """,
    note=f"per-language deterministic mix rates {text.MIX_RATES}",
)
def _corpus_mix(spark, sf):
    return text.corpus_mix(_t(spark, sf, "documents"))


@_register(
    "ngram_counts",
    f"""
    WITH toks AS (SELECT {_TOKS} AS t FROM documents),
    g AS (
      SELECT unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS ngram
      FROM toks WHERE len(t) >= 2)
    SELECT ngram, count(*) AS cnt
    FROM g GROUP BY ngram HAVING count(*) >= 2
    """,
    note="bigram LM statistics; singleton tail pruned",
)
def _ngram_counts(spark, sf):
    return text.ngram_counts(_t(spark, sf, "documents"))


@_register(
    "repetition_score",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (SELECT doc_id,
                 CASE WHEN len(t) >= 3
                      THEN list_transform(range(1, len(t) - 1),
                                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                      ELSE [] END AS grams
          FROM toks)
    SELECT doc_id,
           CAST(len(grams) AS INT) AS n_grams,
           CASE WHEN len(grams) > 0
                THEN round((len(grams) - len(list_distinct(grams)))
                           / CAST(len(grams) AS DOUBLE), 4)
                ELSE 0.0 END AS repetition_ratio
    FROM g
    """,
    note="per-doc 3-gram repetition ratio (boilerplate/looping-text "
    "quality filter); map-only scan, no shuffle",
)
def _repetition_score(spark, sf):
    return text.repetition_score(_t(spark, sf, "documents"))


@_register(
    "quality_dup_ngram_frac",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    inst AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    mult AS (
      SELECT doc_id, shingle, count(*) AS cnt
      FROM inst GROUP BY doc_id, shingle),
    dfreq AS (SELECT shingle, count(*) AS df FROM mult GROUP BY shingle)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN df >= 2 THEN cnt ELSE 0 END) AS BIGINT)
             AS dup_grams,
           round(sum(CASE WHEN df >= 2 THEN cnt ELSE 0 END) * 1.0
                 / sum(cnt), 4) AS dup_frac
    FROM mult JOIN dfreq USING (shingle)
    GROUP BY doc_id
    """,
    note="corpus-wide duplicate 3-gram fraction per doc (the "
    "Gopher/Dolma dup-ngram signal, cross-doc where repetition_score "
    "is within-doc): gram multiplicities + ONE df count + one keyed "
    "join back; 8-byte hashed shingle keys engine-side",
)
def _quality_dup_ngram_frac(spark, sf):
    return text.dup_ngram_fraction(_t(spark, sf, "documents"))


@_register(
    "corpus_datasheet",
    f"""
    WITH base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens,
             count(DISTINCT md5(text)) AS n_distinct
      FROM documents),
    lang AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
    ent AS (
      SELECT CAST(count(*) AS BIGINT) AS n_langs, sum(c) AS nn,
             list_reduce(list_transform(list(c ORDER BY lang),
                                        c -> c * log2(c)),
                         (a, b) -> a + b) AS s
      FROM lang),
    {_QUALITY_MEASURES_CTE},
    q AS (SELECT round(avg({_QUALITY_EXPR}), 4) AS mean_quality FROM m)
    SELECT n_docs, n_tokens,
           round((n_docs - n_distinct) * 1.0 / n_docs, 4) AS dup_rate,
           n_langs,
           round(log2(nn) - s / nn, 4) AS lang_entropy,
           mean_quality
    FROM base CROSS JOIN ent CROSS JOIN q
    """,
    note="one-row corpus datasheet (size, tokens, exact-dup rate, "
    "language-mix entropy, mean quality -- the release headline a "
    "weekly rebuild diffs): three bounded aggregations, sorted-fold "
    "entropy over the language alphabet, shared quality expression",
)
def _corpus_datasheet(spark, sf):
    return text.corpus_datasheet(_t(spark, sf, "documents"))


@_register(
    "dedup_novelty_frac",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    owner AS (SELECT shingle, min(doc_id) AS first_doc
              FROM sh GROUP BY shingle)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS novelty_frac
    FROM sh JOIN owner USING (shingle)
    GROUP BY doc_id
    """,
    note="first-occurrence novelty per doc (fraction of its distinct "
    "3-grams it contributed FIRST, by min doc_id): the attribution "
    "dual of quality_dup_ngram_frac for dedup-aware sampling; same "
    "two-shuffle envelope, nothing quadratic in df",
)
def _dedup_novelty_frac(spark, sf):
    return text.novelty_fraction(_t(spark, sf, "documents"))


@_register(
    "sequence_packing",
    f"""
    WITH t AS (SELECT doc_id, lang, len({_TOKS}) AS n_tokens FROM documents)
    SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                       - n_tokens) / 2048.0) AS INT) AS pack_id
    FROM t
    """,
    note="greedy first-fit-by-order sequence packing into 2048-token "
    "packs per language (training-batch construction); one running-sum "
    "window per lang partition",
)
def _sequence_packing(spark, sf):
    return text.sequence_packing(_t(spark, sf, "documents"))


#: Shared decontamination-pairs oracle: the Bloom variant is
#: bit-identical to the exact operator BY CONTRACT (the bitmap only
#: prefilters; the verify join decides) -- one SQL text enforces it.
_DECON_PAIRS_SQL = f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      FROM toks WHERE len(t) >= 3)
    SELECT c.doc_id, b.doc_id AS bench_doc_id, count(*) AS n_shared_shingles
    FROM (SELECT * FROM sh WHERE source <> 'src0') c
    JOIN (SELECT * FROM sh WHERE source = 'src0') b USING (shingle)
    GROUP BY c.doc_id, b.doc_id
    HAVING count(*) >= 2
"""


@_register(
    "decontaminate_overlap",
    _DECON_PAIRS_SQL,
    note="train/benchmark n-gram contamination pairs; hashed join keys in Spark",
)
def _decontaminate_overlap(spark, sf):
    return text.decontaminate_overlap(_t(spark, sf, "documents"))


@_register(
    "decontaminate_bloom",
    _DECON_PAIRS_SQL,
    note="decontaminate_overlap through a Bloom prefilter (the "
    "join_bloom_pruned kernel over benchmark shingles): corpus "
    "shingles that cannot match drop MAP-SIDE before the exact "
    "verify join -- bit-identical result (no false negatives), "
    "shared oracle; the 100 TB shuffle-bytes path",
)
def _decontaminate_bloom(spark, sf):
    return text.decontaminate_bloom(_t(spark, sf, "documents"))


@_register(
    "doc_fingerprint",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
    SELECT doc_id,
           list_min(list_transform(range(1, len(t) - 1),
                    i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS fingerprint
    FROM toks WHERE len(t) >= 3
    """,
)
def _doc_fingerprint(spark, sf):
    return text.doc_fingerprint(_t(spark, sf, "documents"))


@_register(
    "tfidf_top_terms",
    _WORDS_CTE
    + """,
    tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word),
    df AS (SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, word, round(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
      FROM tf JOIN df USING (word) CROSS JOIN n),
    r AS (
      SELECT doc_id, word, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rnk
      FROM scored)
    SELECT doc_id, word, round(tfidf, 4) AS tfidf, CAST(rnk AS INTEGER) AS rnk
    FROM r WHERE rnk <= 5
    """,
)
def _tfidf_top_terms(spark, sf):
    return text.tfidf_top_terms(_t(spark, sf, "documents"))


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
    "lm_unigram_score",
    f"""
    {_WORDS_CTE},
    cnt AS (SELECT word, count(*) AS c FROM words GROUP BY word),
    tot AS (SELECT count(*) * 1.0 AS t FROM words)
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(ln(c / t)), 4) AS avg_logprob
    FROM words JOIN cnt USING (word), tot
    GROUP BY doc_id
    """,
    note="unigram-LM avg token log-probability (perplexity-filter family)",
)
def _lm_unigram_score(spark, sf):
    return text.lm_unigram_score(_t(spark, sf, "documents"))


@_register(
    "char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, length(text) AS n_chars,
             unnest(list_transform(range(1, length(text) + 1),
                    i -> substr(text, CAST(i AS INT), 1))) AS ch
      FROM documents WHERE length(text) > 0),
    hist AS (SELECT doc_id, n_chars, ch, count(*) AS c
             FROM chars GROUP BY doc_id, n_chars, ch)
    SELECT doc_id, max(n_chars) AS n_chars,
           round(-sum((c * 1.0 / n_chars) * log2(c * 1.0 / n_chars)), 4)
               AS char_entropy
    FROM hist GROUP BY doc_id
    """,
    note="per-doc Shannon character entropy (garbage/boilerplate quality "
    "signal); char split via sequence+substring so the RE2 oracle mirrors "
    "it exactly; alphabet-bounded per-doc histograms",
)
def _char_entropy(spark, sf):
    return text.char_entropy(_t(spark, sf, "documents"))


@_register(
    "bm25_score",
    f"""
    WITH toks AS (SELECT doc_id, {{toks}} AS t FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    words AS (SELECT doc_id, unnest(t) AS word FROM toks),
    qw AS (SELECT * FROM words
           WHERE word IN ('data', 'model', 'training', 'quality')),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM qw GROUP BY doc_id, word),
    df AS (SELECT word, count(DISTINCT doc_id) AS df FROM qw GROUP BY word)
    SELECT doc_id, count(*) AS n_matched_terms,
           round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                     * tf * 2.2
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
    FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    """.replace("{toks}", _TOKS),
    note="Okapi BM25 relevance vs a fixed query-term set; the explosion is "
    "pre-filtered to query terms (work tracks query-term occurrences, not "
    "vocabulary); corpus stats broadcast",
)
def _bm25_score(spark, sf):
    return text.bm25_score(_t(spark, sf, "documents"))


@_register(
    "text_feature_hashing",
    f"""
    {_WORDS_CTE},
    f AS (SELECT doc_id,
                 CAST(CAST(concat('0x', substr(md5(word), 1, 4)) AS BIGINT) % 64
                      AS INT) AS dim,
                 CASE WHEN CAST(concat('0x', substr(md5(word), 5, 1)) AS BIGINT) % 2 = 0
                      THEN 1 ELSE -1 END AS sign
          FROM words)
    SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS feat_val
    FROM f GROUP BY doc_id, dim
    """,
    note="hashing-trick bag-of-words vectors, sparse long form; "
    "md5-derived dims/signs are engine-portable integers",
)
def _text_feature_hashing(spark, sf):
    return text.text_feature_hashing(_t(spark, sf, "documents"))


@_register(
    "sketch_countmin_topk",
    _WORDS_CTE
    + """
    SELECT word, count(*) AS cnt,
           CAST(row_number() OVER (ORDER BY count(*) DESC, word) AS INT) AS rnk
    FROM words GROUP BY word HAVING count(*) >= 20
    ORDER BY cnt DESC, word LIMIT 25
    """,
    note="count-min-sketch-accelerated heavy hitters: CMS prunes the "
    "vocabulary (one-sided error -> no false negatives), exact "
    "re-count on candidates only, so the result hash-matches the "
    "plain GROUP BY oracle",
)
def _sketch_countmin_topk(spark, sf):
    return text.countmin_heavy_hitters(_t(spark, sf, "documents"))


@_register(
    "stratified_split",
    f"""
    SELECT lang, source,
           CASE
             WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)
                  < '{text.hash_threshold(text.SPLIT_TRAIN)}' THEN 'train'
             WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)
                  < '{text.hash_threshold(text.SPLIT_VAL)}' THEN 'val'
             ELSE 'test'
           END AS split,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1, 2, 3
    """,
    note="deterministic md5-hash train/val/test split audited per "
    "(lang, source) stratum; same hash-threshold encoding as "
    "sample_deterministic",
)
def _stratified_split(spark, sf):
    return text.stratified_split(_t(spark, sf, "documents"))


@_register(
    "doc_chunking",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, t,
             CAST(unnest(range(1, len(t) + 1, {text.CHUNK_STRIDE})) AS INTEGER) AS start
      FROM toks
      WHERE len(t) >= 1
    )
    SELECT doc_id,
           CAST((start - 1) / {text.CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           CAST(least({text.CHUNK_SIZE}, len(t) - start + 1) AS INTEGER)
             AS n_chunk_tokens,
           array_to_string(
             list_slice(t, start, start + {text.CHUNK_SIZE} - 1), ' '
           ) AS chunk
    FROM chunks
    """,
    note="RAG overlapping token-window chunker; map-only, no shuffle "
    "(chunk construction is row-local)",
)
def _doc_chunking(spark, sf):
    return text.doc_chunking(_t(spark, sf, "documents"))


@_register(
    "key_skew_profile",
    """
    WITH per_key AS (
      SELECT user_id, count(*) AS c FROM events GROUP BY user_id
    )
    SELECT CAST(floor(log2(c + 0.5)) AS INTEGER) AS count_bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_events,
           CAST(max(c) AS BIGINT) AS max_key_count
    FROM per_key GROUP BY 1
    """,
    note="log2 count-of-counts key-skew diagnostic; +0.5 keeps float "
    "log2 off power-of-two boundaries so both engines bucket "
    "identically",
)
def _key_skew_profile(spark, sf):
    return text.key_skew_profile(_t(spark, sf, "events"))


@_register(
    "group_sample_topk",
    """
    WITH ranked AS (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5('sample|' || CAST(event_id AS VARCHAR)), event_id
             ) AS sample_rank
      FROM events
    )
    SELECT event_type, event_id, CAST(sample_rank AS INTEGER) AS sample_rank
    FROM ranked WHERE sample_rank <= 5
    """,
    note="deterministic per-group k-sample by md5 rank: the sample is "
    "a pure function of the data, stable across engines/retries",
)
def _group_sample_topk(spark, sf):
    return text.group_sample_topk(_t(spark, sf, "events"))


@_register(
    "lm_bigram_score",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    words AS (SELECT doc_id, unnest(t) AS word FROM toks),
    big AS (
      SELECT doc_id, unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    c1 AS (SELECT word, count(*) AS c1 FROM words GROUP BY word),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
    v AS (SELECT count(DISTINCT word) * 1.0 AS v FROM words)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(log2((c2 + 0.5) / (c1 + 0.5 * v))), 4) AS avg_log2p
    FROM big JOIN c2 USING (w1, w2) JOIN c1 ON big.w1 = c1.word, v
    GROUP BY doc_id
    """,
    note="add-k smoothed bigram LM (k=0.5); bigram stream is a "
    "row-local array-zip expression, counts are keyed shuffles, V is "
    "the only broadcast",
)
def _lm_bigram_score(spark, sf):
    return text.lm_bigram_score(_t(spark, sf, "documents"))


@_register(
    "lm_trigram_backoff",
    f"""
    WITH ttoks AS (SELECT doc_id, {_TOKS} AS t FROM documents
                   WHERE doc_id % 2 = 0),
    htoks AS (SELECT doc_id, {_TOKS} AS t FROM documents
              WHERE doc_id % 2 = 1),
    twords AS (SELECT unnest(t) AS word FROM ttoks),
    uni AS (SELECT word, count(*) AS cu FROM twords GROUP BY word),
    bi AS (
      SELECT w1, w2, count(*) AS cb FROM (
        SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
        FROM ttoks WHERE len(t) >= 2)
      GROUP BY w1, w2),
    tri AS (
      SELECT w1, w2, w3, count(*) AS ct FROM (
        SELECT unnest(t[1:len(t) - 2]) AS w1,
               unnest(t[2:len(t) - 1]) AS w2,
               unnest(t[3:len(t)]) AS w3
        FROM ttoks WHERE len(t) >= 3)
      GROUP BY w1, w2, w3),
    consts AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
                      CAST(count(DISTINCT word) AS DOUBLE) AS vv
               FROM twords),
    hstream AS (
      SELECT doc_id,
             unnest(t[1:len(t) - 2]) AS w1,
             unnest(t[2:len(t) - 1]) AS w2,
             unnest(t[3:len(t)]) AS w3
      FROM htoks WHERE len(t) >= 3),
    scored AS (
      SELECT h.doc_id,
             CASE WHEN t.ct IS NOT NULL THEN 0
                  WHEN b23.cb IS NOT NULL THEN 1
                  ELSE 2 END AS br,
             CASE WHEN t.ct IS NOT NULL THEN
                    CAST(round((ln(CAST(t.ct AS DOUBLE))
                                - ln(CAST(b12.cb AS DOUBLE)))
                               * 1000000.0) AS BIGINT)
                  WHEN b23.cb IS NOT NULL THEN
                    {text._BACKOFF_MNAT}
                    + CAST(round((ln(CAST(b23.cb AS DOUBLE))
                                  - ln(CAST(u2.cu AS DOUBLE)))
                                 * 1000000.0) AS BIGINT)
                  ELSE
                    {2 * text._BACKOFF_MNAT}
                    + CAST(round((ln(CAST(coalesce(u3.cu, 0) + 1 AS DOUBLE))
                                  - ln(c.nn + c.vv))
                                 * 1000000.0) AS BIGINT)
             END AS mnat
      FROM hstream h
      LEFT JOIN tri t ON t.w1 = h.w1 AND t.w2 = h.w2 AND t.w3 = h.w3
      LEFT JOIN bi b12 ON b12.w1 = h.w1 AND b12.w2 = h.w2
      LEFT JOIN bi b23 ON b23.w1 = h.w2 AND b23.w2 = h.w3
      LEFT JOIN uni u2 ON u2.word = h.w2
      LEFT JOIN uni u3 ON u3.word = h.w3
      CROSS JOIN consts c)
    SELECT doc_id, count(*) AS n_scored,
           CAST(sum(CASE WHEN br = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
           CAST(sum(CASE WHEN br = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bi_backoff,
           CAST(sum(CASE WHEN br = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_uni_backoff,
           round(sum(mnat) / (count(*) * 1000000.0), 6) AS avg_logp
    FROM scored
    GROUP BY doc_id
    """,
    note="trigram stupid-backoff LM score (Brants 2007) on a held-out "
    "split (train = even doc_id, scored = odd): scoring a corpus "
    "against its own counts never backs off, the held-out shape is "
    "the production quality-filter shape; one rounded transcendental "
    "per token (integer micro-nats, the ulm discipline), fixed "
    "integer 0.4-discounts, per-doc integer sums + one double "
    "division; branch usage counts ride along",
)
def _lm_trigram_backoff(spark, sf):
    return text.lm_trigram_backoff(_t(spark, sf, "documents"))


@_register(
    "vocab_coverage",
    _WORDS_CTE
    + """,
    cnt AS (SELECT word, count(*) AS cnt FROM words GROUP BY word),
    ranked AS (
      SELECT row_number() OVER (ORDER BY cnt DESC, word) AS rank,
             word, cnt,
             sum(cnt) OVER (ORDER BY cnt DESC, word
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(cnt) OVER () AS total
      FROM cnt
    )
    SELECT CAST(rank AS INT) AS rank, word, CAST(cnt AS BIGINT) AS cnt,
           round(cum * 1.0 / total, 6) AS cum_coverage
    FROM ranked WHERE rank <= 64
    """,
    note="tokenizer-prep vocabulary curve: rank + cumulative corpus "
    "coverage; windows run over the aggregate-compressed vocabulary, "
    "not corpus rows",
)
def _vocab_coverage(spark, sf):
    return text.vocab_coverage(_t(spark, sf, "documents"))


@_register(
    "vocab_zipf_fit",
    f"""
    WITH words AS (SELECT unnest({_TOKS}) AS word FROM documents),
    counts AS (SELECT word, count(*) AS cnt FROM words GROUP BY word),
    ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rank
      FROM counts),
    xy AS (SELECT log2(rank) AS x, log2(cnt) AS y
           FROM ranked WHERE rank <= 64),
    m AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM xy)
    SELECT CAST(n AS BIGINT) AS n_words,
           round(-((n * sxy - sx * sy) / (n * sxx - sx * sx)), 4)
             AS zipf_exponent,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 4) AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
    FROM m
    WHERE n > 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
    note="Zipf-exponent fit over the top-64 rank-frequency curve "
    "(corpus-composition drift monitor): vocab_coverage's count + "
    "TakeOrderedAndProject cut, trend_regression's closed form over "
    "the <=64 surviving rows; one-row result",
)
def _vocab_zipf_fit(spark, sf):
    return text.vocab_zipf_fit(_t(spark, sf, "documents"))


@_register(
    "pair_pmi",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    words AS (SELECT doc_id, unnest(t) AS word FROM toks),
    big AS (
      SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    c1 AS (SELECT word, count(*) AS c1 FROM words GROUP BY word),
    c2 AS (SELECT w1, w2, count(*) AS n_pair FROM big GROUP BY w1, w2
           HAVING count(*) >= 5),
    tot AS (SELECT count(*) * 1.0 AS n_tokens FROM words),
    scored AS (
      SELECT w1, w2, n_pair,
             round(log2(n_pair * n_tokens / (a.c1 * b.c1)), 4) AS pmi
      FROM c2
      JOIN c1 a ON c2.w1 = a.word
      JOIN c1 b ON c2.w2 = b.word, tot
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rnk
      FROM scored
    )
    SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, pmi
    FROM ranked WHERE rnk <= 30
    """,
    note="Church & Hanks collocation mining: top-k adjacent pairs by "
    "PMI; reuses the row-local bigram zip, min-count low-frequency "
    "guard, 1-row total broadcast",
)
def _pair_pmi(spark, sf):
    return text.pair_pmi(_t(spark, sf, "documents"))


@_register(
    "pair_llr",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    big AS (
      SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    c2 AS (SELECT w1, w2, count(*) AS k11 FROM big GROUP BY w1, w2
           HAVING count(*) >= 5),
    r AS (SELECT w1, count(*) AS r1 FROM big GROUP BY w1),
    c AS (SELECT w2, count(*) AS c1 FROM big GROUP BY w2),
    tot AS (SELECT count(*) AS n FROM big),
    sc AS (
      SELECT w1, w2, k11, r1, c1, n,
             r1 - k11 AS k12, c1 - k11 AS k21,
             n - r1 - c1 + k11 AS k22
      FROM c2 JOIN r USING (w1) JOIN c USING (w2) CROSS JOIN tot
    ),
    scored AS (
      SELECT w1, w2, CAST(k11 AS BIGINT) AS n_pair,
             round(2.0 * (
               CASE WHEN k11 > 0 THEN k11 * ln((k11 * 1.0 * n)
                    / (r1 * 1.0 * c1)) ELSE 0.0 END
             + CASE WHEN k12 > 0 THEN k12 * ln((k12 * 1.0 * n)
                    / (r1 * 1.0 * (n - c1))) ELSE 0.0 END
             + CASE WHEN k21 > 0 THEN k21 * ln((k21 * 1.0 * n)
                    / ((n - r1) * 1.0 * c1)) ELSE 0.0 END
             + CASE WHEN k22 > 0 THEN k22 * ln((k22 * 1.0 * n)
                    / ((n - r1) * 1.0 * (n - c1))) ELSE 0.0 END
             ), 4) AS llr
      FROM sc
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY llr DESC, w1, w2) AS rnk
      FROM scored
    )
    SELECT w1, w2, n_pair, llr FROM ranked WHERE rnk <= 30
    """,
    note="Dunning log-likelihood-ratio collocations (significance-"
    "aware companion to pair_pmi): full 2x2 contingency from three "
    "combinable bigram-stream aggregations, G^2 as four guarded "
    "k*ln terms in FIXED order, top-k via TakeOrderedAndProject",
)
def _pair_llr(spark, sf):
    return text.pair_llr(_t(spark, sf, "documents"))


@_register(
    "split_leakage_audit",
    f"""
    WITH s AS (
      SELECT md5(lower(substr(text, 1, 24))) AS fp,
             CASE
               WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)
                    < '{text.hash_threshold(text.SPLIT_TRAIN)}' THEN 'train'
               WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)
                    < '{text.hash_threshold(text.SPLIT_VAL)}' THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    ),
    g AS (
      SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
             array_to_string(list_sort(list_distinct(list(split))), ',') AS splits
      FROM s GROUP BY fp
    )
    SELECT fp, n_docs, splits FROM g
    WHERE len(string_split(splits, ',')) > 1
    """,
    note="train/test contamination audit: content fingerprints "
    "spanning more than one split of stratified_split; the "
    "exact-duplicate leakage check a dataset release gates on",
)
def _split_leakage_audit(spark, sf):
    return text.split_leakage_audit(_t(spark, sf, "documents"))


@_register(
    "bpe_merge_step",
    f"""
    WITH words AS (SELECT unnest({_TOKS}) AS word FROM documents),
    vocab AS (
      SELECT word, count(*) AS word_freq FROM words
      GROUP BY word HAVING length(word) >= 2
    ),
    pairs AS (
      SELECT substr(word, CAST(i AS INT), 1) AS sym_a,
             substr(word, CAST(i AS INT) + 1, 1) AS sym_b,
             word_freq
      FROM vocab, unnest(range(1, length(word))) AS r(i)
    ),
    counts AS (
      SELECT sym_a, sym_b, sum(word_freq) AS n_pair
      FROM pairs GROUP BY sym_a, sym_b
    )
    SELECT CAST(row_number() OVER (ORDER BY n_pair DESC, sym_a, sym_b)
                AS INT) AS rank,
           sym_a, sym_b, CAST(n_pair AS BIGINT) AS n_pair
    FROM counts ORDER BY rank LIMIT 20
    """,
    note="one BPE trainer iteration: top merge-pair candidates; pair "
    "explode runs over the distinct-word vocabulary (weighted by word "
    "frequency), never the corpus",
)
def _bpe_merge_step(spark, sf):
    return text.bpe_merge_step(_t(spark, sf, "documents"))


@_register(
    "chi2_feature_select",
    f"""
    WITH dw AS (
      SELECT DISTINCT doc_id, lang, unnest({_TOKS}) AS word FROM documents
    ),
    wl AS (SELECT word, lang, count(*) AS df_wl FROM dw GROUP BY word, lang),
    wt AS (SELECT word, sum(df_wl) AS df_w FROM wl GROUP BY word),
    lt AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
    g AS (SELECT CAST(sum(n_lang) AS DOUBLE) AS n_total FROM lt),
    cells AS (
      SELECT wl.word, wl.lang,
             CAST(df_wl AS DOUBLE) AS o11,
             CAST(df_w - df_wl AS DOUBLE) AS o12,
             CAST(n_lang - df_wl AS DOUBLE) AS o21,
             n_total - df_w - n_lang + df_wl AS o22,
             n_total
      FROM wl JOIN wt USING (word) JOIN lt USING (lang) CROSS JOIN g
      WHERE df_w >= 10
    ),
    scored AS (
      SELECT word, lang,
             round(CASE
               WHEN (o11 + o12) * (o21 + o22) * (o11 + o21) * (o12 + o22) > 0
               THEN n_total * pow(o11 * o22 - o12 * o21, 2)
                    / ((o11 + o12) * (o21 + o22) * (o11 + o21) * (o12 + o22))
               ELSE 0.0 END, 4) AS chi2_wl
      FROM cells
    ),
    best AS (
      SELECT word, max(struct_pack(chi2_wl := chi2_wl, lang := lang)) AS m
      FROM scored GROUP BY word
    )
    SELECT CAST(row_number() OVER (ORDER BY m.chi2_wl DESC, word)
                AS INT) AS rank,
           word, m.chi2_wl AS chi2, m.lang AS best_lang
    FROM best ORDER BY rank LIMIT 25
    """,
    note="chi-squared word-vs-language association over per-document "
    "presence; everything after the first agg is vocab x label sized",
)
def _chi2_feature_select(spark, sf):
    return text.chi2_feature_select(_t(spark, sf, "documents"))


@_register(
    "weighted_sample_es",
    """
    WITH keyed AS (
      SELECT lang, doc_id, n_chars AS weight,
             ln((
               (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)
               + 0.5) / 65536.0) / n_chars AS es_key
      FROM (
        SELECT lang, doc_id, n_chars,
               md5('es|' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
      )
    )
    SELECT lang,
           CAST(row_number() OVER (PARTITION BY lang
                ORDER BY es_key DESC, doc_id) AS INT) AS rank,
           doc_id, weight
    FROM keyed
    QUALIFY rank <= 10
    """,
    note="Efraimidis-Spirakis weighted sample without replacement: "
    "deterministic hash uniform, rank by ln(u)/w per language — "
    "reproducible across retries and engines, unlike rand()",
)
def _weighted_sample_es(spark, sf):
    return text.weighted_sample_es(_t(spark, sf, "documents"))


@_register(
    "train_shuffle_shard",
    """
    WITH keyed AS (
      SELECT doc_id,
             CAST((strpos('0123456789abcdef',
                   substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                  % 8 AS INT) AS shard,
             md5('order|' || CAST(doc_id AS VARCHAR)) AS h_order
      FROM documents
    )
    SELECT shard,
           CAST(row_number() OVER (PARTITION BY shard
                ORDER BY h_order, doc_id) AS INT) AS pos,
           doc_id
    FROM keyed
    """,
    note="deterministic global training shuffle: independent hash "
    "draws for shard and order; per-shard rank windows sort "
    "corpus/n_shards rows each — the physical shard write consumes "
    "this plan with zero extra shuffles",
)
def _train_shuffle_shard(spark, sf):
    return text.train_shuffle_shard(_t(spark, sf, "documents"))


@_register(
    "chunk_dedup",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(t, CAST(start AS INT),
                                 CAST(start AS INT) + 15), ' ')) AS chash
      FROM toks, unnest(range(1, len(t) + 1, 16)) AS r(start)
      WHERE len(t) >= 1
    ),
    dfreq AS (
      SELECT chash, count(DISTINCT doc_id) AS n_docs
      FROM chunks GROUP BY chash
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           round(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS dup_ratio
    FROM chunks c JOIN dfreq d USING (chash)
    GROUP BY c.doc_id
    """,
    note="C4/CCNet-style sub-document duplication profile: "
    "non-overlapping 16-token chunks, chunk document-frequency, "
    "per-doc dup ratio — the signal document-level dedup misses; "
    "shuffles 16-byte chunk hashes, never chunk text",
)
def _chunk_dedup(spark, sf):
    return text.chunk_dedup(_t(spark, sf, "documents"))


@_register(
    "corpus_mix_temperature",
    """
    WITH agg AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS total,
             sum(sqrt(CAST(n_docs AS DOUBLE))) AS ptot
      FROM agg
    )
    SELECT lang, n_docs,
           round(n_docs / CAST(total AS DOUBLE), 6) AS natural_share,
           round(sqrt(CAST(n_docs AS DOUBLE)) / ptot, 6) AS temp_share,
           round((sqrt(CAST(n_docs AS DOUBLE)) / ptot)
                 / (n_docs / CAST(total AS DOUBLE)), 4) AS sample_factor
    FROM agg CROSS JOIN tot
    """,
    note="XLM-R temperature sampling plan (p ~ n^alpha, alpha=0.5): "
    "alphabet-sized after the first agg; sqrt because it is IEEE-"
    "correctly-rounded on every engine, unlike general pow",
)
def _corpus_mix_temperature(spark, sf):
    return text.corpus_mix_temperature(_t(spark, sf, "documents"))


@_register(
    "k_anonymity_audit",
    f"""
    SELECT lang, source,
           CAST(floor(n_chars / {text.KANON_BUCKET}.0) AS INTEGER) AS size_bucket,
           CAST(count(*) AS BIGINT) AS group_size,
           count(*) < {text.KANON_K} AS at_risk
    FROM documents
    GROUP BY 1, 2, 3
    """,
    note="k-anonymity audit over quasi-identifiers (lang, source, "
    "size bracket): groups smaller than k are the re-identification "
    "risk surface pii_redact alone cannot close; QI-cardinality output",
)
def _k_anonymity_audit(spark, sf):
    return text.k_anonymity_audit(_t(spark, sf, "documents"))


@_register(
    "l_diversity_audit",
    f"""
    SELECT lang,
           CAST(floor(n_chars / {text.KANON_BUCKET}.0) AS INTEGER) AS size_bucket,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT source) AS BIGINT) AS l_distinct,
           count(DISTINCT source) < 3 AS at_risk
    FROM documents
    GROUP BY 1, 2
    """,
    note="l-diversity audit (homogeneity-attack companion to "
    "k_anonymity_audit): QI = (lang, size bracket), sensitive = "
    "source; groups with < 3 distinct sources flagged; one "
    "partial->final aggregate, QI-cardinality output",
)
def _l_diversity_audit(spark, sf):
    return text.l_diversity_audit(_t(spark, sf, "documents"))


@_register(
    "t_closeness_audit",
    f"""
    WITH base AS (
      SELECT lang,
             CAST(floor(n_chars / {text.KANON_BUCKET}.0) AS INTEGER)
               AS size_bucket,
             source
      FROM documents),
    gs AS (SELECT lang, size_bucket, source, count(*) AS cnt_g
           FROM base GROUP BY 1, 2, 3),
    gmarg AS (SELECT source, count(*) AS cnt_all FROM base GROUP BY 1),
    n AS (SELECT count(*) AS n_big FROM base),
    cells AS (SELECT lang, size_bucket, sum(cnt_g) AS group_size
              FROM gs GROUP BY 1, 2),
    expanded AS (
      SELECT c.lang, c.size_bucket, c.group_size,
             abs(coalesce(g.cnt_g, 0) * n.n_big
                 - gl.cnt_all * c.group_size) AS num,
             n.n_big
      FROM cells c
      CROSS JOIN gmarg gl
      LEFT JOIN gs g ON g.lang = c.lang AND g.size_bucket = c.size_bucket
                    AND g.source = gl.source
      CROSS JOIN n)
    SELECT lang, size_bucket,
           CAST(max(group_size) AS BIGINT) AS group_size,
           round(sum(num) / (CAST(2 AS DOUBLE) * max(group_size)
                             * max(n_big)), 6) AS t_closeness,
           round(sum(num) / (CAST(2 AS DOUBLE) * max(group_size)
                             * max(n_big)), 6) > 0.45 AS at_risk
    FROM expanded
    GROUP BY lang, size_bucket
    """,
    note="t-closeness audit (Li et al. 2007; third rung after "
    "k-anonymity and l-diversity): per-QI-cell total-variation "
    "distance of the sensitive (source) distribution vs the corpus "
    "marginal, computed EXACTLY over integer cross-products "
    "(fold-order-free numerator, one division rounded 6); absent "
    "sources contribute their |0 - q| mass via the cells x sources "
    "expansion; threshold 0.45 bisects the fixture tvd range",
)
def _t_closeness_audit(spark, sf):
    return text.t_closeness_audit(_t(spark, sf, "documents"))


@_register(
    "curriculum_order",
    f"""
    WITH {_QUALITY_MEASURES_CTE},
    q AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM m),
    cuts AS (
      SELECT list_transform(
               quantile_cont(quality,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
               c -> round(c, 4)) AS cuts
      FROM q
    ),
    b AS (
      SELECT doc_id, quality,
             CAST(len(list_filter(cuts, c -> quality >= c)) AS INTEGER)
               AS bucket,
             md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM q CROSS JOIN cuts
    )
    SELECT doc_id, quality, bucket,
           CAST(row_number() OVER (
             PARTITION BY bucket ORDER BY shuffle_key, doc_id
           ) AS INTEGER) AS pos_in_bucket
    FROM b
    """,
    note="easy-to-hard curriculum by quality decile with deterministic "
    "md5 within-bucket shuffle: exact cut points broadcast (no global "
    "ntile sort), per-bucket row_number windows run parallel across "
    "buckets",
)
def _curriculum_order(spark, sf):
    return text.curriculum_order(_t(spark, sf, "documents"))


@_register(
    "text_readability",
    f"""
    WITH m AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS INTEGER) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS INTEGER) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS INTEGER) AS n_syllables
      FROM documents
      WHERE len({_TOKS}) > 0)
    SELECT doc_id, n_words, n_sentences, n_syllables,
           round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                 - 84.6 * (n_syllables * 1.0 / n_words), 4) AS flesch
    FROM m
    """,
    note="Flesch reading-ease per doc: three row-local regexp counts "
    "over the pruned (doc_id, text) scan, no shuffle; vowel-group "
    "syllables counted corpus-wide (groups cannot span whitespace)",
)
def _text_readability(spark, sf):
    return text.text_readability(_t(spark, sf, "documents"))


@_register(
    "sql_udf_quality",
    f"""
    WITH {_QUALITY_MEASURES_CTE}
    SELECT doc_id, {_QUALITY_EXPR} AS quality
    FROM m
    """,
    note="registered-UDF surface: the quality formula as a named "
    "spark.udf.register'd Arrow pandas_udf invoked from spark.sql -- "
    "same bit-level formula as quality_score, so the shared "
    "expression oracle applies verbatim",
)
def _sql_udf_quality(spark, sf):
    return text.sql_udf_quality(spark, _t(spark, sf, "documents"))


@_register(
    "udtf_sentence_split",
    """
    WITH segs AS (
      SELECT doc_id,
             unnest(string_split_regex(text, '[.!?]+')) AS sentence,
             generate_subscripts(string_split_regex(text, '[.!?]+'), 1) AS pos
      FROM documents)
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
                AS INTEGER) AS sent_idx,
           sentence
    FROM segs
    WHERE sentence <> ''
    """,
    note="registered-UDTF surface: Python table function splitting "
    "docs into sentences on [.!?]+ runs, invoked via SQL LATERAL -- "
    "the reference's multi-emit Job.map as a SQL-facing extension "
    "point; empty segments dropped, raw segment bytes kept",
)
def _udtf_sentence_split(spark, sf):
    return text.udtf_sentence_split(spark, _t(spark, sf, "documents"))


@_register(
    "sql_udaf_median",
    """
    SELECT lang, source,
           round(CAST(median(n_chars) AS DOUBLE), 1) AS median_chars,
           count(*) AS n_docs
    FROM documents GROUP BY lang, source
    """,
    note="registered-UDAF surface (completes the UDF/UDTF/UDAF "
    "extension triad): grouped-aggregate pandas UDFs (numpy median + "
    "count) invoked from spark.sql under GROUP BY -- np.median's "
    "interpolated midpoint equals quantile_cont(0.5) bit-for-bit on "
    "int-valued input",
)
def _sql_udaf_median(spark, sf):
    return text.sql_udaf_median(spark, _t(spark, sf, "documents"))


@_register(
    "quality_gopher_flags",
    f"""
    WITH toks AS (
      SELECT doc_id, text, {_TOKS} AS t,
             string_split(text, chr(10)) AS lines
      FROM documents),
    m AS (
      SELECT doc_id,
        CAST(len(t) AS INTEGER) AS n_words,
        length(regexp_replace(lower(text),
                              '[ ' || chr(9) || chr(10) || chr(11)
                                   || chr(12) || chr(13) || ']',
                              '', 'g')) AS tok_chars,
        length(text) - length(replace(text, '#', '')) AS n_hash,
        (length(text) - length(replace(text, '...', ''))) / 3
          AS n_ellipsis,
        greatest(len(lines), 1) AS n_lines,
        len(list_filter(lines,
            l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%'))
          AS bullet_lines,
        len(list_filter(lines, l -> rtrim(l) LIKE '%...'))
          AS ellipsis_lines,
        len(list_filter(['the','a','of','and','to','in','is'],
            s -> list_contains(t, s))) AS stop_hits
      FROM toks)
    SELECT doc_id, n_words,
      round(tok_chars * 1.0 / greatest(n_words, 1), 4) AS mean_word_len,
      CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS f_word_count,
      CAST(tok_chars * 1.0 / greatest(n_words, 1) >= 3.0
           AND tok_chars * 1.0 / greatest(n_words, 1) <= 10.0 AS INT)
        AS f_mean_word_len,
      CAST((n_hash + n_ellipsis) * 1.0 / greatest(n_words, 1) < 0.1
           AS INT) AS f_symbol_ratio,
      CAST(bullet_lines * 1.0 / n_lines <= 0.9 AS INT) AS f_bullet_lines,
      CAST(ellipsis_lines * 1.0 / n_lines <= 0.3 AS INT)
        AS f_ellipsis_lines,
      CAST(stop_hits >= 2 AS INT) AS f_stopwords,
      CAST(CAST(n_words >= 50 AND n_words <= 100000 AS INT)
         * CAST(tok_chars * 1.0 / greatest(n_words, 1) >= 3.0
                AND tok_chars * 1.0 / greatest(n_words, 1) <= 10.0 AS INT)
         * CAST((n_hash + n_ellipsis) * 1.0 / greatest(n_words, 1) < 0.1
                AS INT)
         * CAST(bullet_lines * 1.0 / n_lines <= 0.9 AS INT)
         * CAST(ellipsis_lines * 1.0 / n_lines <= 0.3 AS INT)
         * CAST(stop_hits >= 2 AS INT) AS INT) AS keep
    FROM m
    """,
    note="Gopher/Dolma-style rule-based quality gate: auditable "
    "per-rule INT flags (word-count/mean-word-length bounds, "
    "symbol-to-word ratio, bullet/ellipsis line fractions, distinct "
    "stopword minimum) + conjunctive keep -- all row-local length "
    "arithmetic and array filters, map-only at any scale",
)
def _quality_gopher_flags(spark, sf):
    return text.quality_gopher_flags(_t(spark, sf, "documents"))


@_register(
    "corpus_token_budget",
    f"""
    WITH agg AS (
      SELECT lang, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang),
    tot AS (SELECT sum(sqrt(CAST(n_tokens AS DOUBLE))) AS ptot FROM agg)
    SELECT lang, n_tokens,
           round(sqrt(CAST(n_tokens AS DOUBLE)) / ptot, 6) AS temp_share,
           round(sqrt(CAST(n_tokens AS DOUBLE)) / ptot * 1000000.0, 2)
             AS alloc_tokens,
           round(sqrt(CAST(n_tokens AS DOUBLE)) / ptot * 1000000.0
                 / n_tokens, 4) AS epochs
    FROM agg CROSS JOIN tot
    """,
    note="token-budget planner: temperature (sqrt) shares over exact "
    "per-language token sums allocate a fixed budget and report the "
    "implied epoch/oversampling count per language; one token-sum "
    "agg + a 1-row totals broadcast",
)
def _corpus_token_budget(spark, sf):
    return text.corpus_token_budget(_t(spark, sf, "documents"))


def _bpe_train_oracle_sql(n_merges: int = 6) -> str:
    """Unrolled chained-CTE mirror of ``text.bpe_train`` (the
    graph_label_propagation oracle pattern): each round is the same
    pair-count -> top-1 -> run-parity greedy merge, spelled in
    DuckDB's dialect. Generated, not hand-written, so the round
    template provably cannot drift between rounds."""
    finals = " UNION ALL ".join(
        f"SELECT {x} AS step, a AS sym_a, b AS sym_b, "
        f"CAST(n_pair AS BIGINT) AS n_pair, a || b AS new_sym FROM t{x}"
        for x in range(1, n_merges + 1)
    )
    return "WITH " + _bpe_ctes(n_merges) + "\n    " + finals


def _bpe_encode_oracle_sql(n_merges: int = 6) -> str:
    """Encode oracle over the SAME generated merge-round chain as
    ``_bpe_train_oracle_sql`` (one template, two finals): the final
    round's state r{N} is each distinct word's encoded symbol stream,
    so per-word token counts join straight onto the exploded corpus."""
    return (
        "WITH " + _bpe_ctes(n_merges) + f""",
    tokw AS (SELECT word, count(*) AS n_tok
             FROM r{n_merges} GROUP BY word),
    docw AS (SELECT doc_id, unnest({_TOKS}) AS word FROM documents)
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(t.n_tok) AS BIGINT) AS n_tokens,
           round(sum(length(w.word)) * 1.0 / sum(t.n_tok), 4)
             AS chars_per_token
    FROM docw w JOIN tokw t USING (word)
    GROUP BY w.doc_id
    """
    )


def _bpe_ctes(n_merges: int) -> str:
    ctes = [f"""
    vocab AS (
      SELECT word, count(*) AS word_freq
      FROM (SELECT unnest({_TOKS}) AS word FROM documents)
      GROUP BY 1),
    r0 AS (
      SELECT word, word_freq, CAST(i AS INTEGER) AS pos, word[i:i] AS sym
      FROM vocab, unnest(range(1, length(word) + 1)) AS u(i))"""]
    for x in range(1, n_merges + 1):
        ctes.append(f"""
    p{x} AS (
      SELECT word, word_freq, pos, sym,
             lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      FROM r{x - 1}),
    c{x} AS (SELECT sym AS a, nxt AS b, sum(word_freq) AS n_pair
             FROM p{x} WHERE nxt IS NOT NULL GROUP BY 1, 2),
    t{x} AS (SELECT a, b, n_pair FROM c{x}
             ORDER BY n_pair DESC, a, b LIMIT 1),
    m{x} AS (
      SELECT p.*, (p.sym = t.a AND p.nxt = t.b) AS is_m
      FROM p{x} p CROSS JOIN t{x} t),
    s{x} AS (
      SELECT *,
        CASE WHEN is_m AND NOT coalesce(
               lag(is_m) OVER (PARTITION BY word ORDER BY pos), FALSE)
             THEN 1 ELSE 0 END AS run_start
      FROM m{x}),
    g{x} AS (
      SELECT *,
        sum(run_start) OVER (PARTITION BY word ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS run_id
      FROM s{x}),
    h{x} AS (
      SELECT *,
        min(CASE WHEN is_m THEN pos END)
          OVER (PARTITION BY word, run_id) AS run_min
      FROM g{x}),
    a{x} AS (
      SELECT *, (is_m AND (pos - run_min) % 2 = 0) AS active
      FROM h{x}),
    d{x} AS (
      SELECT *, coalesce(
          lag(active) OVER (PARTITION BY word ORDER BY pos), FALSE)
        AS dropped
      FROM a{x}),
    r{x} AS (
      SELECT word, word_freq,
             CAST(row_number() OVER (PARTITION BY word ORDER BY pos)
                  AS INTEGER) AS pos,
             CASE WHEN active THEN sym || nxt ELSE sym END AS sym
      FROM d{x} WHERE NOT dropped)""")
    return ",".join(ctes)


@_register(
    "bpe_train",
    _bpe_train_oracle_sql(6),
    note="full BPE training loop (6 merges) over bpe_merge_step's "
    "one-iteration substrate: vocab-bounded symbol-stream state, "
    "eager localCheckpoint per round (pagerank lineage discipline), "
    "corpus tokenized ONCE; greedy leftmost merge expressed as "
    "run-parity islands so both engines agree bit-for-bit; chosen "
    "pair rides as a 1-row broadcast, zero driver collects",
)
def _bpe_train(spark, sf):
    return text.bpe_train(_t(spark, sf, "documents"))


@_register(
    "bpe_encode",
    _bpe_encode_oracle_sql(6),
    note="apply half of the BPE lifecycle: per-word token counts read "
    "straight off bpe_train's final vocab state (a word's encoding "
    "depends only on the word -- zero extra merge passes), one keyed "
    "join onto the exploded corpus; per-doc token counts and "
    "chars-per-token compression; oracle shares the generated "
    "merge-round CTE template with bpe_train",
)
def _bpe_encode(spark, sf):
    return text.bpe_encode(_t(spark, sf, "documents"))


#: Oracle DP horizon for the unigram-LM tokenizer: positions unrolled
#: per Viterbi pass. Covers every fixture word (max observed length
#: 8); a word longer than this would drop out of the ORACLE's best-
#: path union (the engine handles any length), so the generated SQL
#: is only valid for corpora within the horizon -- same
#: generated-for-declared-params contract as the BPE oracle's merge
#: count.
_ULM_MAXLEN = 12


def _ulm_viterbi_ctes(r: int, n_pos: int, max_piece_len: int) -> str:
    """One unrolled Viterbi pass (DP round ``r``) under cost table
    c{r-1}: position CTEs b{r}_i pick the min-cost segmentation ending
    at i (ties -> longest piece, ORDER BY cost, j DESC -- mirrored by
    the engine kernel's ascending-j ``<=`` replace), best{r} gathers
    each word's full-length row. MATERIALIZED throughout: b{r}_i is
    referenced by up to ``max_piece_len`` successors and the final
    union, and DuckDB would otherwise inline the chain exponentially
    (the graph_kcore lesson)."""
    ctes = [
        f"""
    sc{r} AS MATERIALIZED (
      SELECT s.word, s.st, s.pl, s.piece, c.cost
      FROM subs s JOIN c{r - 1} c USING (piece)),
    b{r}_0 AS MATERIALIZED (
      SELECT word, CAST(0 AS BIGINT) AS cost, CAST([] AS VARCHAR[]) AS path
      FROM wf)"""
    ]
    for i in range(1, n_pos + 1):
        branches = " UNION ALL ".join(
            f"""
        SELECT p.word, p.cost + s.cost AS cost,
               list_append(p.path, s.piece) AS path, {j} AS j
        FROM b{r}_{i - j} p JOIN sc{r} s
          ON s.word = p.word AND s.st = {i - j + 1} AND s.pl = {j}"""
            for j in range(1, min(max_piece_len, i) + 1)
        )
        ctes.append(
            f"""
    b{r}_{i} AS MATERIALIZED (
      SELECT word, cost, path FROM (
        SELECT word, cost, path,
               row_number() OVER (PARTITION BY word ORDER BY cost, j DESC)
                 AS rn
        FROM ({branches})) WHERE rn = 1)"""
        )
    best_union = " UNION ALL ".join(
        f"SELECT w.word, w.word_freq, b.path "
        f"FROM wf w JOIN b{r}_{i} b USING (word) WHERE w.wlen = {i}"
        for i in range(1, n_pos + 1)
    )
    ctes.append(f"""
    best{r} AS MATERIALIZED ({best_union})""")
    return ",".join(ctes)


def _ulm_ctes(
    em_rounds: int = 3,
    vocab_size: int = 24,
    max_piece_len: int = 4,
    n_pos: int = _ULM_MAXLEN,
) -> str:
    """Shared CTE chain replaying ``text._ulm_loop``: substring seed
    -> c0 costs -> ``em_rounds`` x (Viterbi pass, usage recount,
    prune, re-cost). Costs are integer micro-nats, the log rounded
    BEFORE any comparison, so every DP below is exact integer
    arithmetic on both engines."""
    parts = [
        f"""
    wf AS MATERIALIZED (
      SELECT word, count(*) AS word_freq, length(word) AS wlen
      FROM (SELECT unnest({_TOKS}) AS word FROM documents)
      GROUP BY word),
    subs AS MATERIALIZED (
      SELECT word, word_freq, CAST(st AS INT) AS st, CAST(pl AS INT) AS pl,
             substring(word, CAST(st AS INT), CAST(pl AS INT)) AS piece
      FROM wf, range(1, {n_pos + 1}) t(st), range(1, {max_piece_len + 1}) s(pl)
      WHERE st + pl - 1 <= wlen),
    seed AS MATERIALIZED (
      SELECT piece, sum(word_freq) AS cnt FROM subs GROUP BY piece),
    v0 AS MATERIALIZED (
      SELECT piece, cnt FROM seed WHERE length(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt,
               row_number() OVER (ORDER BY cnt DESC, piece) AS rn
        FROM seed WHERE length(piece) > 1) WHERE rn <= {vocab_size}),
    c0 AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(round((ln(CAST((SELECT sum(cnt) FROM v0) AS DOUBLE))
                         - ln(CAST(cnt AS DOUBLE))) * 1000000.0) AS BIGINT)
               AS cost
      FROM v0)"""
    ]
    for r in range(1, em_rounds + 1):
        parts.append(_ulm_viterbi_ctes(r, n_pos, max_piece_len))
        parts.append(f"""
    u{r} AS MATERIALIZED (
      SELECT piece, sum(word_freq) AS usage
      FROM (SELECT word_freq, unnest(path) AS piece FROM best{r})
      GROUP BY piece),
    v{r} AS MATERIALIZED (
      SELECT piece, cnt FROM (
        SELECT c.piece,
               CASE WHEN length(c.piece) = 1 THEN coalesce(u.usage, 0) + 1
                    ELSE coalesce(u.usage, 0) END AS cnt
        FROM c{r - 1} c LEFT JOIN u{r} u USING (piece))
      WHERE cnt > 0),
    c{r} AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(round((ln(CAST((SELECT sum(cnt) FROM v{r}) AS DOUBLE))
                         - ln(CAST(cnt AS DOUBLE))) * 1000000.0) AS BIGINT)
               AS cost
      FROM v{r})""")
    return ",".join(parts)


def _ulm_train_oracle_sql(em_rounds: int = 3) -> str:
    return (
        "WITH "
        + _ulm_ctes(em_rounds)
        + f"""
    SELECT piece, CAST(length(piece) AS INT) AS piece_len,
           CAST(cnt AS BIGINT) AS cnt, cost AS cost_mnat
    FROM c{em_rounds}
    """
    )


def _ulm_encode_oracle_sql(em_rounds: int = 3) -> str:
    """Encode oracle over the SAME generated EM chain as
    ``_ulm_train_oracle_sql`` plus ONE more Viterbi pass under the
    final costs (one template, two finals -- the BPE oracle
    pattern)."""
    return (
        "WITH "
        + _ulm_ctes(em_rounds)
        + ","
        + _ulm_viterbi_ctes(em_rounds + 1, _ULM_MAXLEN, 4)
        + f""",
    tokw AS (SELECT word, len(path) AS n_tok FROM best{em_rounds + 1}),
    docw AS (SELECT doc_id, unnest({_TOKS}) AS word FROM documents)
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(t.n_tok) AS BIGINT) AS n_tokens,
           round(sum(length(w.word)) * 1.0 / sum(t.n_tok), 4)
             AS chars_per_token
    FROM docw w JOIN tokw t USING (word)
    GROUP BY w.doc_id
    """
    )


@_register(
    "ulm_train",
    _ulm_train_oracle_sql(3),
    note="unigram-LM tokenizer training (SentencePiece family, hard-EM "
    "variant): substring seed vocab (all chars + top-24 multis), 3 "
    "rounds of Viterbi re-estimation with zero-usage pruning; costs "
    "are integer micro-nats (ln rounded BEFORE comparison -- the "
    "stats_fdr transcendental discipline), so the per-word DP is "
    "exact integer arithmetic replayed bit-for-bit by the oracle's "
    "unrolled position CTEs; all state vocab-bounded, corpus scanned "
    "once, per-round totals ride 1-row broadcasts",
)
def _ulm_train(spark, sf):
    return text.ulm_train(_t(spark, sf, "documents"))


@_register(
    "ulm_encode",
    _ulm_encode_oracle_sql(3),
    note="apply half of the unigram-LM lifecycle: one more Viterbi "
    "pass over the DISTINCT-word table under the final piece costs, "
    "one keyed join onto the exploded corpus; same compression "
    "readout as bpe_encode so the two tokenizer families compare "
    "directly; oracle shares the generated EM-chain template with "
    "ulm_train (one template, two finals)",
)
def _ulm_encode(spark, sf):
    return text.ulm_encode(_t(spark, sf, "documents"))


_RAKE_STOPS = "('" + "','".join(
    w for ws in text.STOPWORDS.values() for w in ws
) + "')"


@_register(
    "text_rake_keyphrases",
    f"""
    WITH toks AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos, t[i] AS word
      FROM (SELECT doc_id, {_TOKS} AS t FROM documents),
           unnest(range(1, len(t) + 1)) AS u(i)
    ),
    flagged AS (
      SELECT doc_id, pos, word,
             word NOT IN {_RAKE_STOPS} AS keep,
             CASE WHEN word NOT IN {_RAKE_STOPS}
                   AND NOT coalesce(
                     lag(word NOT IN {_RAKE_STOPS}) OVER (
                       PARTITION BY doc_id ORDER BY pos), FALSE)
                  THEN 1 ELSE 0 END AS run_start
      FROM toks),
    runs0 AS (
      SELECT *, sum(run_start) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged),
    runs AS (SELECT * FROM runs0 WHERE keep),
    sized AS (
      SELECT *, count(*) OVER (PARTITION BY doc_id, run_id) AS plen
      FROM runs),
    wstats AS (
      SELECT doc_id, word,
             (sum(plen) * 1000000) // count(*) AS score_u
      FROM sized GROUP BY doc_id, word),
    phr AS (
      SELECT DISTINCT s.doc_id,
             string_agg(s.word, ' ' ORDER BY s.pos) AS phrase,
             sum(ws.score_u) AS score_u
      FROM sized s
      JOIN wstats ws ON ws.doc_id = s.doc_id AND ws.word = s.word
      GROUP BY s.doc_id, s.run_id)
    SELECT doc_id,
           CAST(row_number() OVER (
             PARTITION BY doc_id ORDER BY score_u DESC, phrase)
             AS INTEGER) AS rank,
           phrase,
           score_u / 1000000.0 AS score
    FROM phr
    QUALIFY rank <= 3
    """,
    note="RAKE keyphrase extraction (Rose et al. 2010): stopword-free "
    "token runs as candidate phrases, word degree/frequency scores, "
    "top-3 phrases per doc; scores ride as exact integer micro-units "
    "(floor-div of bigints) because summing rounded doubles is "
    "addition-order dependent; islands via the interval_merge "
    "lag+running-sum pair, every exchange keyed on doc_id",
)
def _text_rake_keyphrases(spark, sf):
    return text.rake_keyphrases(_t(spark, sf, "documents"))


@_register(
    "ngram_autocomplete",
    f"""
    WITH vocab AS (
      SELECT word, count(*) AS freq
      FROM (SELECT unnest({_TOKS}) AS word FROM documents)
      GROUP BY 1),
    pref AS (
      SELECT word, freq, word[1:CAST(i AS INTEGER)] AS prefix
      FROM vocab, unnest(range(1, least(length(word), 3) + 1)) AS u(i))
    SELECT prefix,
           CAST(row_number() OVER (
             PARTITION BY prefix ORDER BY freq DESC, word)
             AS INTEGER) AS rank,
           word, CAST(freq AS BIGINT) AS freq
    FROM pref
    QUALIFY rank <= 3
    """,
    note="prefix -> top-3 completion index (the search-box build "
    "side): one corpus wordcount fold, prefixes explode off the "
    "VOCAB (not the corpus), one rank window per prefix; ties "
    "(freq DESC, word) rank identically on both engines",
)
def _ngram_autocomplete(spark, sf):
    return text.ngram_autocomplete(_t(spark, sf, "documents"))


@_register(
    "lm_kneser_ney_bigram",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    big AS (
      SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2),
    c2 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
    lft AS (SELECT w1, sum(c12) AS c1, count(*) AS n_after
            FROM c2 GROUP BY w1),
    rgt AS (SELECT w2, count(*) AS n_before FROM c2 GROUP BY w2),
    bt AS (SELECT count(*) AS b FROM c2)
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
           round(greatest(c12 - 0.75, 0.0) / c1
                 + (0.75 * n_after / c1) * (n_before / b), 6) AS pkn
    FROM c2 JOIN lft USING (w1) JOIN rgt USING (w2), bt
    ORDER BY c12 DESC, w1, w2 LIMIT 200
    """,
    note="interpolated Kneser-Ney bigram probabilities (top 200 "
    "bigrams): backoff mass by continuation counts, not frequency; "
    "every formula input is an exact integer so both engines "
    "evaluate identical IEEE expressions, rounded once at 6; "
    "deterministic (count DESC, w1, w2) tie order",
)
def _lm_kneser_ney_bigram(spark, sf):
    return text.lm_kneser_ney_bigram(_t(spark, sf, "documents"))


@_register(
    "lang_id_margin",
    f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    h AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(t, x -> x IN {_EN})) AS INTEGER) AS en_hits,
             CAST(len(list_filter(t, x -> x IN {_ES})) AS INTEGER) AS es_hits,
             CAST(len(list_filter(t, x -> x IN {_DE})) AS INTEGER) AS de_hits
      FROM toks),
    m AS (
      SELECT doc_id, lang, en_hits, es_hits, de_hits,
             CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
                  WHEN es_hits >= de_hits THEN 'es'
                  ELSE 'de' END AS pred_lang,
             CAST(greatest(en_hits, es_hits, de_hits)
                  - (en_hits + es_hits + de_hits
                     - greatest(en_hits, es_hits, de_hits)
                     - least(en_hits, es_hits, de_hits))
                  AS INTEGER) AS margin
      FROM h)
    SELECT doc_id, lang, pred_lang, margin, margin >= 2 AS confident
    FROM m
    """,
    note="language-ID confidence margin (the router's abstain "
    "signal): top-hit minus runner-up via greatest/least integer "
    "arithmetic on lang_id's scoring expressions verbatim -- "
    "map-only, zero shuffles; confident = margin >= 2",
)
def _lang_id_margin(spark, sf):
    return text.lang_id_margin(_t(spark, sf, "documents"))


#: sentence segmentation -- mirror of text._sentences_col.
_SENTS = (
    "list_filter(list_transform(string_split_regex(text, '[.!?]+'),"
    " s -> trim(s)), s -> s <> '')"
)


@_register(
    "text_hapax_ratio",
    f"""
    WITH w AS (
      SELECT lang, unnest({_TOKS}) AS word FROM documents),
    wc AS (SELECT lang, word, count(*) AS cnt FROM w GROUP BY 1, 2)
    SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           round(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS hapax_ratio
    FROM wc GROUP BY lang
    """,
    note="per-language hapax-legomenon profile (vocabulary-richness "
    "/ OCR-noise screen): (lang, word) counts then a lang rollup, "
    "all integers plus one ratio",
)
def _text_hapax_ratio(spark, sf):
    return text.hapax_ratio(_t(spark, sf, "documents"))


@_register(
    "text_sentence_stats",
    f"""
    WITH s AS (
      SELECT doc_id, {_SENTS} AS sents,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t <> '')) AS n_toks
      FROM documents)
    SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
           round(n_toks / CAST(greatest(len(sents), 1) AS DOUBLE), 4)
             AS avg_sentence_tokens,
           CAST(coalesce(list_max(list_transform(sents,
                                                 x -> length(x))), 0)
                AS BIGINT) AS max_sentence_chars
    FROM s
    """,
    note="per-document sentence-shape profile ([.!?]+ segmentation, "
    "trimmed, empties dropped): map-only row-local expressions, "
    "zero shuffle",
)
def _text_sentence_stats(spark, sf):
    return text.sentence_stats(_t(spark, sf, "documents"))


@_register(
    "dedup_sentence_exact",
    f"""
    WITH s AS (SELECT doc_id, {_SENTS} AS sents FROM documents),
    inst AS (
      SELECT doc_id, u.i - 1 AS idx, lower(u.s) AS snt
      FROM (SELECT doc_id,
                   unnest(list_transform(sents,
                          (x, i) -> struct_pack(s := x, i := i))) AS u
            FROM s)),
    ranked AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY snt
                                ORDER BY doc_id, idx) AS rn
      FROM inst)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_duplicate
    FROM ranked GROUP BY doc_id
    """,
    note="cross-document exact sentence dedup report (C4's "
    "granularity): first occurrence by (doc_id, position) via ONE "
    "sentence-keyed rank window, then a doc rollup",
)
def _dedup_sentence_exact(spark, sf):
    return text.sentence_dedup(_t(spark, sf, "documents"))


@_register(
    "lm_good_turing_counts",
    f"""
    WITH w AS (SELECT unnest({_TOKS}) AS word FROM documents),
    wc AS (SELECT word, count(*) AS r FROM w GROUP BY word),
    nr AS (SELECT r, count(*) AS n_r FROM wc GROUP BY r)
    SELECT CAST(r AS BIGINT) AS r, CAST(n_r AS BIGINT) AS n_r,
           CASE WHEN lead(r) OVER (ORDER BY r) = r + 1 THEN
             round((r + 1) * lead(n_r) OVER (ORDER BY r)
                   / CAST(n_r AS DOUBLE), 4)
           END AS r_star
    FROM nr
    """,
    note="Good-Turing count-of-counts with adjusted r* = "
    "(r+1)*N_{{r+1}}/N_r (Katz/KN smoothing substrate): two count "
    "aggregations + one lead over the tiny count-frequency table; "
    "gap counts emit NULL on both engines",
)
def _lm_good_turing_counts(spark, sf):
    return text.good_turing_counts(_t(spark, sf, "documents"))


@_register(
    "lm_bigram_entropy_rate",
    f"""
    WITH toks AS (SELECT {_TOKS} AS t FROM documents),
    pr AS (
      SELECT u.a AS w1, u.b AS w2
      FROM (SELECT unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(a := t[i], b := t[i+1]))) AS u
            FROM toks WHERE len(t) >= 2)),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
    terms AS (
      SELECT c12.w1, c1.c1,
             CAST(round(c12 * ln(CAST(c1 AS DOUBLE) / c12) * 1e6)
                  AS BIGINT) AS t
      FROM c12 JOIN c1 ON c1.w1 = c12.w1)
    SELECT w1, CAST(c1 AS BIGINT) AS n_contexts,
           CAST(count(*) AS BIGINT) AS n_successors,
           CAST(sum(t) AS BIGINT) AS h_micro,
           round(sum(t) / (c1 * 1e6), 6) AS entropy_nats
    FROM terms GROUP BY w1, c1
    """,
    note="per-context conditional bigram entropy in integer "
    "micro-nats: each c12*ln(c1/c12) term rounds to int BEFORE the "
    "grouped sum (adamic_adar discipline -- no cross-term double "
    "fold); vocab-sized shuffles only",
)
def _lm_bigram_entropy_rate(spark, sf):
    return text.bigram_entropy_rate(_t(spark, sf, "documents"))


@_register(
    "quality_case_profile",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text)
                - length(regexp_replace(text, '[A-Z]', '', 'g'))
                AS BIGINT) AS n_upper,
           CAST(length(text)
                - length(regexp_replace(text, '[0-9]', '', 'g'))
                AS BIGINT) AS n_digit,
           CAST(length(text)
                - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                AS BIGINT) AS n_alpha,
           round((length(text)
                  - length(regexp_replace(text, '[A-Z]', '', 'g')))
                 / CAST(greatest(length(text)
                   - length(regexp_replace(text, '[A-Za-z]', '', 'g')), 1)
                   AS DOUBLE), 4) AS upper_ratio,
           round((length(text)
                  - length(regexp_replace(text, '[0-9]', '', 'g')))
                 / CAST(greatest(length(text), 1) AS DOUBLE), 4)
             AS digit_ratio,
           CAST(CASE WHEN regexp_matches(substr(text, 1, 1), '[A-Z]')
                     THEN 1 ELSE 0 END AS BIGINT) AS starts_capital
    FROM documents
    """,
    note="character-case/class profile (SHOUTING/serial-number/"
    "prose discriminator): length-of-stripped-string counting, "
    "map-only zero shuffle",
)
def _quality_case_profile(spark, sf):
    return text.case_profile(_t(spark, sf, "documents"))


@_register(
    "vocab_growth_curve",
    f"""
    WITH w AS (
      SELECT doc_id, unnest({_TOKS}) AS word FROM documents),
    fo AS (SELECT word, min(doc_id) AS first_doc FROM w GROUP BY word),
    curve AS (
      SELECT first_doc AS doc_id, count(*) AS n_new_words
      FROM fo GROUP BY first_doc)
    SELECT doc_id, CAST(n_new_words AS BIGINT) AS n_new_words,
           CAST(sum(n_new_words) OVER (
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_vocab
    FROM curve
    """,
    note="Heaps'-law vocabulary growth in doc_id scan order: "
    "per-word first-occurrence doc, doc-keyed counts, one "
    "cumulative window over the doc-count-bounded curve",
)
def _vocab_growth_curve(spark, sf):
    return text.vocab_growth_curve(_t(spark, sf, "documents"))


@_register(
    "text_char_js_divergence",
    """
    WITH chars AS (
      SELECT source,
             unnest(list_transform(range(1, length(text) + 1),
                    i -> substr(text, CAST(i AS INT), 1))) AS ch
      FROM documents WHERE length(text) > 0),
    sc AS (SELECT source, ch, count(*) AS c_s
           FROM chars GROUP BY source, ch),
    gc AS (SELECT ch, count(*) AS c_g FROM chars GROUP BY ch),
    ns AS (SELECT source, sum(c_s) AS n_s FROM sc GROUP BY source),
    ng AS (SELECT sum(c_g) AS n_g FROM gc),
    grid AS (
      SELECT ns.source, ns.n_s,
             coalesce(sc.c_s, 0) AS c_s, gc.c_g, ng.n_g
      FROM ns CROSS JOIN gc
      LEFT JOIN sc ON sc.source = ns.source AND sc.ch = gc.ch
      CROSS JOIN ng),
    terms AS (
      SELECT source, n_s,
             CAST(round((CASE WHEN c_s > 0 THEN
                           0.5 * (CAST(c_s AS DOUBLE) / CAST(n_s AS DOUBLE))
                           * ln((CAST(c_s AS DOUBLE) / CAST(n_s AS DOUBLE))
                                / ((CAST(c_s AS DOUBLE)
                                    / CAST(n_s AS DOUBLE)
                                    + CAST(c_g AS DOUBLE)
                                      / CAST(n_g AS DOUBLE)) / 2.0))
                         ELSE 0.0 END
                         + 0.5 * (CAST(c_g AS DOUBLE) / CAST(n_g AS DOUBLE))
                           * ln((CAST(c_g AS DOUBLE) / CAST(n_g AS DOUBLE))
                                / ((CAST(c_s AS DOUBLE)
                                    / CAST(n_s AS DOUBLE)
                                    + CAST(c_g AS DOUBLE)
                                      / CAST(n_g AS DOUBLE)) / 2.0)))
                        * 1e9) AS BIGINT) AS nano
      FROM grid)
    SELECT source,
           CAST(max(n_s) AS BIGINT) AS n_chars,
           CAST(sum(nano) AS BIGINT) AS js_nanonats,
           round(CAST(sum(nano) AS BIGINT) / 1e9, 6) AS js_nats
    FROM terms GROUP BY source
    """,
    note="per-source character-distribution JS divergence vs the "
    "corpus (drift/contamination detector for TEXT, where "
    "ks_drift/psi_drift cover numerics): per-(source, char) terms "
    "one double each, integer nano-nat rounding, exact sums; dense "
    "source x alphabet grid is alphabet-bounded",
)
def _text_char_js_divergence(spark, sf):
    return text.char_js_divergence(_t(spark, sf, "documents"))


#: lang_id prediction CTE chain (verbatim from the lang_id oracle).
_LANG_PRED_CTE = f"""
    toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    h AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(t, x -> x IN {_EN})) AS INTEGER) AS en_hits,
             CAST(len(list_filter(t, x -> x IN {_ES})) AS INTEGER) AS es_hits,
             CAST(len(list_filter(t, x -> x IN {_DE})) AS INTEGER) AS de_hits
      FROM toks),
    p AS (
      SELECT lang,
             CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
                  WHEN es_hits >= de_hits THEN 'es'
                  ELSE 'de' END AS pred_lang
      FROM h)
"""


@_register(
    "stats_cohens_kappa",
    f"""
    WITH {_LANG_PRED_CTE},
    cm AS (SELECT lang, pred_lang, count(*) AS n_cell
           FROM p GROUP BY lang, pred_lang),
    r AS (SELECT lang, sum(n_cell) AS r FROM cm GROUP BY lang),
    c AS (SELECT pred_lang, sum(n_cell) AS c FROM cm GROUP BY pred_lang),
    ch AS (SELECT sum(r.r * c.c) AS rc
           FROM r JOIN c ON r.lang = c.pred_lang),
    a AS (SELECT sum(n_cell) AS n,
                 sum(CASE WHEN lang = pred_lang THEN n_cell END) AS diag
          FROM cm)
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(diag AS BIGINT) AS n_agree,
           round(CASE WHEN n * n <> rc THEN
                   CAST(n * diag - rc AS DOUBLE)
                   / CAST(n * n - rc AS DOUBLE)
                 END, 4) AS kappa
    FROM a, ch
    """,
    note="Cohen's kappa between the stopword language heuristic and "
    "the labeled lang column (lang_id_confusion's chance-corrected "
    "scalar): integer confusion-cell sufficient statistics, kappa "
    "one double",
)
def _stats_cohens_kappa(spark, sf):
    return text.lang_id_kappa(_t(spark, sf, "documents"))


@_register(
    "text_simpson_diversity",
    f"""
    WITH words AS (
      SELECT source, unnest({_TOKS}) AS word FROM documents),
    wc AS (SELECT source, word, count(*) AS c
           FROM words GROUP BY source, word),
    a AS (SELECT source, sum(c) AS n, count(*) AS n_types,
                 sum(c * (c - 1)) AS coll
          FROM wc GROUP BY source)
    SELECT source, CAST(n AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           round(CASE WHEN n > 1 THEN
                   1.0 - CAST(coll AS DOUBLE)
                         / CAST(n * (n - 1) AS DOUBLE)
                 END, 6) AS simpson_diversity
    FROM a
    """,
    note="per-source Simpson lexical diversity (probability two "
    "tokens differ, length-unbiased unlike TTR): integer collision "
    "counts, one double per source",
)
def _text_simpson_diversity(spark, sf):
    return text.simpson_diversity(_t(spark, sf, "documents"))


@_register(
    "text_word_burstiness",
    f"""
    WITH dw AS (
      SELECT doc_id, word, count(*) AS c
      FROM (SELECT doc_id, unnest({_TOKS}) AS word FROM documents)
      GROUP BY doc_id, word),
    pw AS (SELECT word, count(*) AS df, sum(c) AS total,
                  sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS df_ge2
           FROM dw GROUP BY word),
    top AS (SELECT * FROM pw
            ORDER BY df DESC, total DESC, word LIMIT 100)
    SELECT word, CAST(df AS BIGINT) AS df,
           CAST(total AS BIGINT) AS total_count,
           round(CAST(total AS DOUBLE) / CAST(df AS DOUBLE), 6)
             AS mean_per_doc,
           CAST(round(df_ge2 * 1e6 / CAST(df AS DOUBLE)) AS BIGINT)
             / 1e6 AS repeat_doc_share
    FROM top
    """,
    note="Church-Gale word burstiness for the top-100-df vocabulary "
    "(content words clump, function words spread thin): per-(doc, "
    "word) reduction before any ranking, deterministic (df, total, "
    "word) top-k, integer sufficient statistics",
)
def _text_word_burstiness(spark, sf):
    return text.word_burstiness(_t(spark, sf, "documents"))


@_register(
    "lm_source_cross_entropy",
    f"""
    WITH words AS (
      SELECT source, unnest({_TOKS}) AS word FROM documents),
    sc AS (SELECT source, word, count(*) AS c_s
           FROM words GROUP BY source, word),
    gc AS (SELECT word, count(*) AS c_g FROM words GROUP BY word),
    ng AS (SELECT sum(c_g) AS n_g FROM gc),
    terms AS (
      SELECT source, c_s,
             CAST(round(CAST(c_s AS DOUBLE)
                        * ln(CAST(n_g AS DOUBLE) / CAST(c_g AS DOUBLE))
                        * 1e6) AS BIGINT) AS micro
      FROM sc JOIN gc USING (word), ng)
    SELECT source, CAST(sum(c_s) AS BIGINT) AS n_tokens,
           CAST(sum(micro) AS BIGINT) AS h_micronats,
           round(CAST(sum(micro) AS BIGINT) / 1e6
                 / CAST(sum(c_s) AS DOUBLE), 6) AS cross_entropy_nats
    FROM terms GROUP BY source
    """,
    note="per-source cross entropy under the corpus unigram LM (the "
    "domain-mix diagnostic before corpus reweighting): per-(source, "
    "word) terms one double each, integer micro-nat rounding, exact "
    "sums; word-keyed count join, 1-row corpus total broadcast",
)
def _lm_source_cross_entropy(spark, sf):
    return text.source_cross_entropy(_t(spark, sf, "documents"))


@_register(
    "text_yule_k",
    f"""
    WITH words AS (
      SELECT source, unnest({_TOKS}) AS word FROM documents),
    wc AS (SELECT source, word, count(*) AS c
           FROM words GROUP BY source, word),
    a AS (SELECT source, sum(c) AS n, count(*) AS n_types,
                 sum(c * c) AS m2
          FROM wc GROUP BY source)
    SELECT source, CAST(n AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           round(1e4 * CAST(m2 - n AS DOUBLE)
                 / CAST(n * n AS DOUBLE), 4) AS yule_k
    FROM a
    """,
    note="Yule's K repeat-rate characteristic per source (stylometry "
    "/ template-farm fingerprint; simpson_diversity's heavy-repeater-"
    "weighted sibling): integer squared-count sums, K one double",
)
def _text_yule_k(spark, sf):
    return text.yule_k(_t(spark, sf, "documents"))


@_register(
    "text_heaps_fit",
    f"""
    WITH words AS (
      SELECT doc_id, unnest({_TOKS}) AS word FROM documents),
    fs AS (SELECT word, min(doc_id) AS d0 FROM words GROUP BY word),
    npd AS (SELECT d0 AS doc_id, count(*) AS new_words
            FROM fs GROUP BY d0),
    tpd AS (SELECT doc_id, count(*) AS n_toks FROM words GROUP BY doc_id),
    curve AS (
      SELECT t.doc_id,
             sum(t.n_toks) OVER wo AS cum_toks,
             sum(coalesce(n.new_words, 0)) OVER wo AS vocab
      FROM tpd t LEFT JOIN npd n ON n.doc_id = t.doc_id
      WINDOW wo AS (ORDER BY t.doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    pts AS (
      SELECT CAST(round(ln(CAST(cum_toks AS DOUBLE)) * 1e3) AS BIGINT)
               AS x,
             CAST(round(ln(CAST(vocab AS DOUBLE)) * 1e3) AS BIGINT)
               AS y
      FROM curve WHERE cum_toks > 0),
    mo AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts),
    fit AS (
      SELECT n, sx, sy,
             CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE)
             / CAST(CAST(n * sxx - sx * sx AS BIGINT) AS DOUBLE) AS b
      FROM mo)
    SELECT CAST(n AS BIGINT) AS n_points,
           round(b, 6) AS heaps_beta,
           round(exp(((CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE)) / 1e3), 4) AS heaps_k
    FROM fit
    """,
    note="Heaps'-law (K, beta) fit over the vocabulary growth curve: "
    "per-checkpoint log points rounded to integer MILLI-nats (micro "
    "overflows the n*sum(xy) moment past ~500 checkpoints), OLS "
    "moments fold exact integers over the doc-count-bounded series "
    "(downsample checkpoints before the fold at 1e8+ docs), slope "
    "and intercept one double each",
)
def _text_heaps_fit(spark, sf):
    return text.heaps_fit(_t(spark, sf, "documents"))


@_register(
    "text_word_length_histogram",
    f"""
    WITH lens AS (
      SELECT CAST(length(unnest({_TOKS})) AS BIGINT) AS word_len
      FROM documents),
    h AS (SELECT word_len, count(*) AS n_tokens
          FROM lens GROUP BY word_len),
    t AS (SELECT sum(n_tokens) AS total FROM h)
    SELECT word_len, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(round(n_tokens * 1e6 / CAST(total AS DOUBLE)) AS BIGINT)
             / 1e6 AS share
    FROM h, t
    """,
    note="corpus word-length histogram (tokenizer-design diagnostic: "
    "fragmentation spikes at 1-2 chars, URL/concatenation tail past "
    "15): one token reduction, length-bounded output, shares at "
    "integer 1e-6 scale",
)
def _text_word_length_histogram(spark, sf):
    return text.word_length_histogram(_t(spark, sf, "documents"))


@_register(
    "text_common_trigram_coverage",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    tg AS (
      SELECT doc_id,
             w1 || ' ' || w2 || ' ' || w3 AS gram
      FROM (
        SELECT doc_id,
               unnest(t[1:len(t) - 2]) AS w1,
               unnest(t[2:len(t) - 1]) AS w2,
               unnest(t[3:len(t)]) AS w3
        FROM toks WHERE len(t) >= 3)),
    top AS (
      SELECT gram, 1 AS is_common
      FROM (SELECT gram, count(*) AS cnt FROM tg GROUP BY gram)
      ORDER BY cnt DESC, gram ASC LIMIT 100),
    per_doc AS (
      SELECT tg.doc_id,
             count(*) AS n_trigrams,
             sum(coalesce(top.is_common, 0)) AS n_common
      FROM tg LEFT JOIN top ON top.gram = tg.gram
      GROUP BY tg.doc_id)
    SELECT doc_id,
           CAST(n_trigrams AS BIGINT) AS n_trigrams,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(CAST(round(n_common * 1e6
                           / CAST(n_trigrams AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS common_share
    FROM per_doc
    """,
    note="per-doc coverage by the corpus top-100 word trigrams "
    "(boilerplate/template detector): deterministic top-k cut "
    "(count DESC, gram ASC) compiles to TakeOrderedAndProject and "
    "broadcasts; share at integer 1e-6 scale",
)
def _text_common_trigram_coverage(spark, sf):
    return text.common_trigram_coverage(_t(spark, sf, "documents"))


@_register(
    "lm_perplexity_bucket",
    f"""
    WITH words AS (
      SELECT doc_id, lang, unnest({_TOKS}) AS word FROM documents),
    counts AS (SELECT word, count(*) AS c FROM words GROUP BY word),
    tot AS (SELECT count(*) AS t FROM words),
    per_doc AS (
      SELECT w.doc_id, w.lang,
             count(*) AS n_tokens,
             sum(CAST(round(ln(CAST(c.c AS DOUBLE) / CAST(tot.t AS DOUBLE))
                            * 1e6) AS BIGINT)) AS sum_micro
      FROM words w JOIN counts c ON c.word = w.word CROSS JOIN tot
      GROUP BY w.doc_id, w.lang),
    bucketed AS (
      SELECT lang,
             CAST(round(CAST(sum_micro AS DOUBLE) / (n_tokens * 1e6))
                  AS BIGINT) AS ppl_bucket,
             n_tokens, sum_micro
      FROM per_doc)
    SELECT ppl_bucket, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(sum_micro) AS DOUBLE) / (sum(n_tokens) * 1e6), 6)
             AS mean_avg_logprob
    FROM bucketed GROUP BY ppl_bucket, lang
    """,
    note="perplexity-bucket corpus histogram under the corpus's own "
    "unigram LM: per-token log-probs round to integer micro-nats "
    "BEFORE the per-doc sum, bucket = round(avg nats) off one exact "
    "integer division -- the report behind choosing a perplexity "
    "filter threshold, per language",
)
def _lm_perplexity_bucket(spark, sf):
    return text.lm_perplexity_bucket(_t(spark, sf, "documents"))


@_register(
    "text_sentence_length_gini",
    f"""
    WITH s AS (SELECT doc_id, {_SENTS} AS sents FROM documents),
    inst AS (
      SELECT doc_id, u.i AS idx, length(u.s) AS ln
      FROM (SELECT doc_id,
                   unnest(list_transform(sents,
                          (x, i) -> struct_pack(s := x, i := i))) AS u
            FROM s)),
    ranked AS (
      SELECT doc_id, ln,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY ln, idx) AS rn
      FROM inst),
    a AS (
      SELECT doc_id, count(*) AS n, sum(ln) AS s,
             sum(rn * ln) AS rs
      FROM ranked GROUP BY doc_id)
    SELECT doc_id, CAST(n AS BIGINT) AS n_sentences,
           round(CASE WHEN n >= 2 AND s > 0 THEN
                   CAST(2 * rs - (n + 1) * s AS DOUBLE)
                   / CAST(n * s AS DOUBLE)
                 END, 6) AS gini
    FROM a
    """,
    note="per-doc Gini of sentence char lengths (template-uniformity "
    "signal next to sentence_stats): sorted-rank numerator an exact "
    "integer (tie order provably cancels), one closing division",
)
def _text_sentence_length_gini(spark, sf):
    return text.sentence_length_gini(_t(spark, sf, "documents"))


@_register(
    "doc_length_quantiles",
    """
    SELECT lang, q_idx, bound FROM (
      SELECT lang, 0 AS q_idx,
             round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 4) + 0.0
               AS bound
      FROM documents GROUP BY lang
      UNION ALL
      SELECT lang, 1 AS q_idx,
             round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 4) + 0.0
      FROM documents GROUP BY lang
      UNION ALL
      SELECT lang, 2 AS q_idx,
             round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 4) + 0.0
      FROM documents GROUP BY lang
      UNION ALL
      SELECT lang, 3 AS q_idx,
             round(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 4) + 0.0
      FROM documents GROUP BY lang)
    """,
    note="per-language exact doc-length quantiles (p25/p50/p75/p90) "
    "through the distributed order-statistic kernel "
    "(exact_quantiles_grouped) -- grouped percentile would buffer a "
    "language's full value list; bit-equal to quantile_cont",
)
def _doc_length_quantiles(spark, sf):
    return text.doc_length_quantiles(_t(spark, sf, "documents"))


@_register(
    "token_count_histogram",
    f"""
    WITH t AS (
      SELECT source, len({_TOKS}) AS n_tokens FROM documents)
    SELECT source,
           CAST(length(CAST(n_tokens AS VARCHAR)) AS INTEGER)
             AS magnitude_digits,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM t GROUP BY 1, 2
    """,
    note="order-of-magnitude token-count histogram per source "
    "(sequence-length planning view): bucket = decimal digit count "
    "of the token count -- exact on both engines by construction, "
    "no log2 boundary fp risk",
)
def _token_count_histogram(spark, sf):
    return text.token_count_histogram(_t(spark, sf, "documents"))


@_register(
    "text_skipgram_pmi",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(t)),
                    i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p,
             1 AS gap
      FROM toks WHERE len(t) > 1
      UNION ALL
      SELECT unnest(list_transform(range(1, len(t) - 1),
                    i -> struct_pack(w1 := t[i], w2 := t[i + 2]))) AS p,
             2 AS gap
      FROM toks WHERE len(t) > 2),
    c2 AS (
      SELECT p.w1 AS w1, p.w2 AS w2, gap, count(*) AS n_pair
      FROM pairs GROUP BY 1, 2, 3),
    words AS (SELECT unnest(t) AS word FROM toks),
    c1 AS (SELECT word, count(*) AS c1 FROM words GROUP BY word),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_tokens FROM words)
    SELECT w1, w2, gap, CAST(n_pair AS BIGINT) AS n_pair,
           round(log2(n_pair * n_tokens / (a.c1 * b.c1)), 4) AS pmi
    FROM c2
    JOIN c1 a ON a.word = w1
    JOIN c1 b ON b.word = w2
    CROSS JOIN tot
    WHERE n_pair >= 5
    ORDER BY n_pair DESC, w1, w2, gap LIMIT 30
    """,
    note="top-30 window-2 skip-gram collocations (gap 1 = adjacent, "
    "gap 2 = one word skipped) ranked by exact integer count with "
    "PMI attached: row-local pair construction (no positional "
    "self-join), 1-row token-total broadcast, count-desc ordering "
    "with the pair as tiebreak",
)
def _text_skipgram_pmi(spark, sf):
    return text.skipgram_pmi(_t(spark, sf, "documents"))


@_register(
    "corpus_lang_rebalance",
    """
    WITH counts AS (
      SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    mn AS (SELECT min(n_docs) AS min_docs FROM counts)
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(CAST(round(min_docs * 1e6 / CAST(n_docs AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS keep_prob,
           CAST(round(n_docs * (CAST(CAST(round(min_docs * 1e6
                        / CAST(n_docs AS DOUBLE)) AS BIGINT) AS DOUBLE)
                      / 1e6)) AS BIGINT) AS expected_kept
    FROM counts, mn
    """,
    note="language-rebalancing sampling plan (downsample every "
    "language to the rarest one's count -- exact-uniformity "
    "companion to corpus_mix_temperature): 1-row min broadcast, "
    "keep_prob one integer ratio at 1e-6 scale",
)
def _corpus_lang_rebalance(spark, sf):
    return text.corpus_lang_rebalance(_t(spark, sf, "documents"))


@_register(
    "text_self_repetition",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               AS g
      FROM toks WHERE len(t) >= 3)
    SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
           CAST(CAST(round((len(g) - len(list_distinct(g))) * 1e6
                           / CAST(len(g) AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS rep_frac
    FROM grams
    """,
    note="within-doc 3-gram repetition fraction (doc-grain Gopher "
    "repetition signal; cross-doc twin is quality_dup_ngram_frac): "
    "map-only row-local gram construction via the shared grams_expr "
    "definition, ratio at integer 1e-6 scale",
)
def _text_self_repetition(spark, sf):
    return text.text_self_repetition(_t(spark, sf, "documents"))


@_register(
    "text_novelty_saturation",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      FROM toks WHERE len(t) >= 3),
    first AS (
      SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram),
    per_doc AS (
      SELECT g.doc_id, count(*) AS n_grams,
             sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
               AS n_first
      FROM grams g JOIN first f USING (gram)
      GROUP BY g.doc_id),
    deciled AS (
      SELECT n_grams, n_first,
             ntile(10) OVER (ORDER BY doc_id) AS decile
      FROM per_doc)
    SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_grams) AS BIGINT) AS n_grams,
           CAST(sum(n_first) AS BIGINT) AS n_first,
           CAST(CAST(round(sum(n_first) * 1e6
                           / CAST(sum(n_grams) AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS novelty
    FROM deciled GROUP BY decile
    """,
    note="corpus novelty-saturation curve (share of each doc-decile's "
    "3-grams that are corpus-first occurrences in doc_id order -- the "
    "acquisition diminishing-returns readout at the grain dedup "
    "operates on): first-carrier one exact min per gram, deciles = "
    "ntile(10) in closed form over the range-shard prefix-sum global "
    "rank (no corpus-cardinality window), shares at 1e-6",
)
def _text_novelty_saturation(spark, sf):
    return text.novelty_saturation(_t(spark, sf, "documents"))


@_register(
    "text_stopword_profile",
    f"""
    WITH words AS (
      SELECT lang, unnest({_TOKS}) AS word FROM documents),
    agg AS (
      SELECT lang, count(*) AS n_tokens,
             sum(CASE WHEN word IN {_EN} THEN 1 ELSE 0 END) AS en_hits,
             sum(CASE WHEN word IN {_ES} THEN 1 ELSE 0 END) AS es_hits,
             sum(CASE WHEN word IN {_DE} THEN 1 ELSE 0 END) AS de_hits
      FROM words GROUP BY lang)
    SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CAST(round(en_hits * 1e6 / CAST(n_tokens AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS en_share,
           CAST(CAST(round(es_hits * 1e6 / CAST(n_tokens AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS es_share,
           CAST(CAST(round(de_hits * 1e6 / CAST(n_tokens AS DOUBLE))
                     AS BIGINT) AS DOUBLE) / 1e6 AS de_share
    FROM agg
    """,
    note="per-language stopword-share profile against the en/es/de "
    "stoplists lang_id keys on (off-diagonal mass = mislabeled or "
    "code-mixed corpus signal; marginal companion to "
    "lang_id_confusion): one explode + lang x 3 aggregation, shares "
    "at integer 1e-6 scale",
)
def _text_stopword_profile(spark, sf):
    return text.stopword_profile(_t(spark, sf, "documents"))
