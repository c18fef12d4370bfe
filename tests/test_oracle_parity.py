"""Oracle-parity regression: a representative query per operator
family, compared against DuckDB exactly as the driver does (full
46-query sweeps live in tests/oracle_check.py, runnable standalone)."""

import pytest

from tests.oracle_check import compare

FAMILIES = [
    "map_scalar",          # scalar exprs + decimal rounding discipline
    "groupby_multikey",    # decimal-exact money aggregation
    "join_semi_anti",      # existence joins
    "window_running_agg",  # deterministic window frames
    "grouping_rollup",     # null-keyed rollup rows
    "sessionize",          # ns->us timestamp discipline
    "wordcount",           # flagship + shared tokenizer
    "doc_fingerprint",     # shingle/md5 parity
    "dedup_ngram_jaccard", # pair-join parity
    "similarity_topk",     # double-precision cosine parity
    "multimodal_decode",   # Arrow mapInPandas plumbing
    "pii_redact",          # Java-vs-RE2 regexp dialect parity
    "corpus_mix",          # cross-engine md5 hash-sampling parity
    "grouping_cube",       # null-keyed grouping-set completion
    "cdc_latest_wins",     # upsert kernel: union + version-rank window
    "ordered_event_sequences",  # in-row ordered list aggregation
    "window_lead_delta",   # exact-micros lead arithmetic
    "lm_unigram_score",    # two-branch explosion + broadcast scalar
    "source_csv_roundtrip",  # non-parquet ingest content preservation
    "sql_grouping_sets",   # explicit grouping-set marginals via SQL intake
    "join_full_outer",     # coalesced-key full outer join
    "dedup_substring",     # stride-1 span fingerprints + candidate verify
    "bpe_train",           # iterative merge loop vs unrolled-CTE oracle
    "graph_common_neighbors",  # decorator-placement regression guard
    "event_markov_stationary",  # sorted-fold determinism + unrolled-CTE oracle
    "stats_fdr_bh",        # closed-form p + step-up windows
    "interval_coverage",   # islands kernel + half-up micros seconds
    "corpus_datasheet",    # shared quality fragment + sorted-fold entropy
    "vocab_coverage",      # decorator-placement regression guard (2nd splice)
    # round 9
    "stats_chisq_independence",  # integer micro-unit contingency discipline
    "window_macd",         # dual exact-decay EWMA folds
    "stats_theil_sen",     # exact interpolated medians over pair slopes
    "dedup_sentence_exact",  # sentence-keyed first-occurrence window
    "orders_ship_delay_profile",  # integer-1e-6-scale share rounding
    "multimodal_image_dhash",  # nearest-neighbor downsample pixel replay
    # the whole graph family (operators/graph.py on one pair-graph substrate)
    "graph_adamic_adar",
    "graph_assortativity",
    "graph_bfs_hops",
    "graph_clustering_coeff",
    "graph_component_stats",
    "graph_degree_gini",
    "graph_degree_histogram",
    "graph_edge_jaccard",
    "graph_edge_triangle_support",
    "graph_eigenvector_centrality",
    "graph_kcore",
    "graph_label_propagation",
    "graph_pagerank",
    "graph_preferential_attachment",
    "graph_resource_allocation",
    "graph_rich_club",
    "graph_transitivity",
    "graph_triangle_count",
    # the other hash-oracled queries that run a session.iterate loop
    "dedup_cluster_components",
    "dedup_cluster_components_star",
    "dedup_cluster_keep_best",
    "split_by_cluster",
    "dedup_cluster_size_histogram",
    "bpe_encode",
    "ulm_train",
    "ulm_encode",
]


@pytest.mark.parametrize("name", FAMILIES)
def test_oracle_parity(spark, sf_small, name):
    ok, msg = compare(name, spark, sf_small)
    assert ok, msg
