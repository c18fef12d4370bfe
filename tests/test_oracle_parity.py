"""Oracle-parity regression: a representative query per operator
family, compared against DuckDB exactly as the driver does (full
46-query sweeps live in tests/oracle_check.py, runnable standalone)."""

import os

import duckdb
import pytest

from java_mapreduce_framework_spark.sources.tables import TABLES
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
    # the rank/A/B statistics built on operators/analytics.py's kernels
    "ab_test_ztest",
    "stats_ttest_welch",
    "stats_cohens_d",
    "stats_mannwhitney",
    "stats_ansari_bradley",
    "stats_ks_two_sample",
    "stats_cliff_delta",
    "stats_cvm_two_sample",
    "stats_brunner_munzel",
    "stats_odds_ratio",
    "stats_mood_median",
    "stats_lepage",
    "stats_friedman",
    "stats_page_trend",
    "stats_quade",
    "stats_kruskal_wallis",
    "stats_spearman",
    "stats_wilcoxon_signed_rank",
    # the rest of the oracled multimodal family (operators/multimodal.py's
    # emit functions on the one _rows substrate)
    "multimodal_frame_sample",
    "multimodal_resize",
    "multimodal_audio_features",
    "multimodal_decode_bmp",
    "multimodal_image_patches",
    "multimodal_image_histogram",
    "multimodal_text_align",
    "multimodal_image_entropy",
    "multimodal_audio_wav",
    "multimodal_video_frames",
    "multimodal_image_ahash",
    "multimodal_image_phash",
    "multimodal_video_scene_diff",
    "multimodal_audio_vad",
    "multimodal_audio_snr",
    "multimodal_image_sharpness",
    "multimodal_audio_zcr",
    "multimodal_video_shots",
    "multimodal_audio_clipping",
    "multimodal_audio_silence",
    "multimodal_image_contrast",
    "multimodal_audio_dynamic_range",
    "multimodal_image_quadrants",
    "multimodal_audio_envelope",
    "multimodal_image_border_mean",
    "multimodal_image_colorfulness",
    "multimodal_image_row_profile",
    "multimodal_audio_autocorr_pitch",
    "multimodal_image_edge_density",
    "multimodal_audio_tempo",
]

#: Every query that splits users with the md5 A/B hash.
AB_SPLIT_QUERIES = [
    "ab_test_ztest",
    "stats_ttest_welch",
    "stats_fdr_bh",
    "stats_mannwhitney",
    "stats_cohens_d",
    "stats_ansari_bradley",
    "stats_ks_two_sample",
    "stats_odds_ratio",
    "stats_mood_median",
    "stats_lepage",
    "stats_cliff_delta",
    "stats_cvm_two_sample",
    "stats_brunner_munzel",
]

#: The other rank statistics over the events table.
RANK_QUERIES = [
    "stats_friedman",
    "stats_page_trend",
    "stats_quade",
    "stats_kruskal_wallis",
    "stats_spearman",
    "stats_wilcoxon_signed_rank",
]


@pytest.mark.parametrize("name", FAMILIES)
def test_oracle_parity(spark, sf_small, name):
    ok, msg = compare(name, spark, sf_small)
    assert ok, msg


def _with_null_events_column(tmp_path_factory, sf_dir, column, null_when):
    """A copy of the fixture at ``sf_dir`` whose events ``column`` is
    NULL where the SQL predicate ``null_when`` holds. The other tables
    are links to the fixture's own files; only events.parquet is
    rewritten."""
    d = tmp_path_factory.mktemp(f"sf_null_{column}")
    for t in TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    duckdb.sql(
        f"""COPY (SELECT * REPLACE (
                    CASE WHEN {null_when} THEN NULL ELSE {column} END
                    AS {column})
                  FROM read_parquet('{sf_dir}/events.parquet'))
            TO '{d}/events.parquet' (FORMAT parquet)"""
    )
    return str(d)


@pytest.fixture(scope="module")
def sf_null_user(tmp_path_factory, sf_small):
    """user_id NULL on every 50th event (20 of 1,000 rows)."""
    return _with_null_events_column(
        tmp_path_factory, sf_small, "user_id", "event_id % 50 = 0"
    )


@pytest.fixture(scope="module")
def sf_null_type(tmp_path_factory, sf_small):
    """event_type NULL on every event of every 7th user (223 of 1,000
    rows), so NULL is a type some users emit at least 10 times."""
    return _with_null_events_column(
        tmp_path_factory, sf_small, "event_type", "user_id % 7 = 0"
    )


@pytest.mark.parametrize("name", AB_SPLIT_QUERIES)
def test_null_user_lands_in_the_same_arm_on_both_engines(spark, sf_null_user, name):
    ok, msg = compare(name, spark, sf_null_user)
    assert ok, msg


@pytest.mark.parametrize("name", AB_SPLIT_QUERIES + RANK_QUERIES)
def test_null_event_type_gives_the_same_rows_on_both_engines(spark, sf_null_type, name):
    ok, msg = compare(name, spark, sf_null_type)
    assert ok, msg


def test_building_stats_quade_launches_no_job(spark, sf_small):
    """quade_ranks reads k from its dense user x type grid, so on a warm
    session building the query launches no Spark job."""
    from java_mapreduce_framework_spark.plans import registry

    build = registry.registry()["stats_quade"].fn
    build(spark, sf_small)  # warm the schema cache
    sc = spark.sparkContext
    sc.setJobGroup("stats_quade_build", "stats_quade_build")
    try:
        build(spark, sf_small)
        assert sc.statusTracker().getJobIdsForGroup("stats_quade_build") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
