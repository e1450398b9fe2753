"""Partitioning-invariance property: a distributed operator's RESULT
must not depend on how the data happens to be partitioned — the classic
failure is an unordered collect_list / first() / rank tie that changes
with task count.  Each probe key runs under the engine default
(spark.sql.shuffle.partitions = 32) and again under 7, and the sorted
row multisets must match exactly.  Keys chosen for partition-order
exposure: ordered collects, distributed ranks, driver-loop iteratives,
per-group sampling, the BPE merge loop (rule table from a TakeOrdered),
and global top-k.
"""

from __future__ import annotations

import math

import pytest

from cobradb_spark import registry
from cobradb_spark.operators.rank import release_rank_caches

PROBE_KEYS = [
    "agg_collect_synonyms",
    "agg_listagg_ordered",
    "agg_first_last_ordered",
    "sample_reservoir_per_group",
    "etl_shard_balanced",
    "topk_global",
    "win_running_distinct",
    "graph_connected_components",
    "dedup_cluster_cc",
    "text_bpe_apply",
    "dedup_sorted_neighborhood",
    # r6-continuation keys with partition-order exposure: integer-sum
    # discipline (track length, OLS, STL), the PCA partial reduction,
    # the LPA driver loop, and the blocked spatial argmin
    "geo_track_length",
    "geo_nearest_neighbor",
    "win_rolling_ols_slope",
    "events_stl_decompose",
    "embed_pca_power",
    "graph_label_propagation",
    "etl_curriculum_order",
    "agg_quantile_exact_global",
    "sim_maxsim_late_interaction",
    "text_chunk_sliding",
    # round-6 late-continuation keys with partition-order exposure:
    # integer-ppm sums joined from broadcast stats (BM25/PMI), the
    # k-core driver loop, the span-merge windows, and the exact-moment
    # lag sweep
    "text_bm25_topk",
    "text_cooccurrence_pmi",
    "graph_kcore_peel",
    "dedup_span_excise",
    "events_cross_correlation",
    "win_hampel_outliers",
    # second-continuation keys with partition-order exposure: the KMV
    # k-smallest rank + TakeOrdered union, the KM sequential grid
    # recurrence, the pointer-doubling join loop, the dual-kernel MRL
    # rankings, and the per-batch partial counts of the automaton scan
    "agg_kmv_theta_sketch",
    "analytics_survival_km",
    "graph_functional_cycles",
    "embed_matryoshka_overlap",
    "text_dictionary_match",
    # r7 keys with partition-order exposure: the two-phase exact-gram
    # candidate machinery (size-gated broadcast + pinned caches), the
    # frontier Bellman-Ford driver loop, the journey lag window, the
    # BPE trainer's per-round argmax pulls, and the retraction deltas
    "dedup_exactsubstr_cut",
    "graph_sssp_weighted",
    "analytics_markov_transitions",
    "text_bpe_train",
    "etl_incremental_agg_retract",
    # r7 second-session keys with partition-order exposure: the greedy
    # MMR round loop (argmax pulls per round), the hash-min CC loops
    # (DBSCAN clusters, near-dup keep-best), the distributed per-class
    # rank, the t-digest per-partition partials (flags must hold under
    # any layout), and the KN top-200 TakeOrdered selection
    "sim_mmr_diversified",
    "geo_dbscan_grid",
    "dedup_near_cluster_keep_best",
    "mlprep_undersample_balanced",
    "agg_tdigest_quantile",
    "text_kneser_ney_bigram",
    # r8 keys with partition-order exposure: the distributed
    # prefix-sum grids (rank-before/cum must be layout-free), the
    # bootstrap's (flag, rep) partial sums + order statistics, the
    # Layer-I per-batch decode partials, and the global-rank zipf grid
    "mlprep_roc_auc",
    "mlprep_ks_statistic",
    "agg_winsorized_trimmed_mean",
    "analytics_bootstrap_ci",
    "text_zipf_fit",
    "multimodal_mp1_subband_decode",
    "mlprep_average_precision",
    "events_peak_concurrency",
    # late-r8 keys: BPE rule table from a TakeOrdered collect, the
    # burstiness top-30 rank, and the elasticity moment rollup
    "etl_tokenizer_fertility",
    "text_burstiness_dispersion",
    "analytics_price_elasticity",
    # r9 keys with partition-order exposure: the vocab prefix-sum
    # rewrite (rank/cum from rank.prefix_sums must be layout-free),
    # the Spearman double-rank grids, the QTE per-arm cumulative, the
    # propensity struct-min argmin, the LPA-driven modularity rollups,
    # and the JSD double sums (1e-9 rounded, must hold under 7 tasks)
    "text_vocab_coverage",
    "analytics_spearman_corr",
    "analytics_quantile_treatment_effect",
    "analytics_propensity_match",
    "graph_modularity_score",
    "text_js_divergence_sources",
    "analytics_welch_ttest",
    # late-r9 keys: transcendental 1e-9-rounded sums (theil, entropy,
    # MI), the per-doc windowed collect_set, and the HHI share algebra
    # must hold under any task layout
    "analytics_theil_index",
    "agg_entropy_pergroup",
    "mlprep_mutual_information",
    "text_mattr_lexical_diversity",
    "analytics_hhi_concentration",
    # r12: the five-stage curation composition — three window-min
    # dedup stages, a broadcast-left-join contamination aggregate, and
    # an md5 split must all hold under any task layout
    "pipeline_curate_corpus",
    # rank.prefix_dot with no group: the bucket offsets come from one
    # window over the bucket table and must not depend on the layout
    "agg_gini_spend",
    # rank.prefix_sums, per flag and with no group: the offsets and the
    # per-partition windows must not depend on the shuffle layout
    "agg_weighted_median_exact",
    "etl_pack_sequences",
]


def _canon(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                v = None if math.isnan(v) else round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


@pytest.mark.parametrize("key", PROBE_KEYS)
def test_result_invariant_under_shuffle_partitioning(spark, sf_dir, key):
    fn = registry.get_query(key).fn
    default = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        base = _canon(fn(spark, sf_dir).collect())
        release_rank_caches()
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = _canon(fn(spark, sf_dir).collect())
        release_rank_caches()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
    assert base, f"{key} returned no rows"
    assert base == alt, f"{key} result depends on shuffle partition count"
