"""Physical-plan audit — the 100 TB posture gate (SURVEY §4.2).

One pass, no flags.  Builds every registry key's plan once at sf0.01
and checks it:

  - the key's AUDITS entries, which pin scale-critical properties:
    column pruning and predicate pushdown reach the parquet scan,
    dimension joins broadcast, the interval join is a hash join on
    the bin key (no BroadcastNestedLoopJoin), aggregations are
    partial+final, top-k plans use TakeOrderedAndProject;
  - the two standing window gates (no unpartitioned Window over
    unbounded input, no Window partitioned by a text-derived key);
  - the SMJ gate: big-big joins plan SortMergeJoin with the
    shuffled-hash size guard made unsatisfiable.

Writes plans/HASHES.json, one line per key with its canonical plan hash
(cobradb_spark.plans.canonical_plan_hash) and verdict, and exits
non-zero if any check fails.  `git diff plans/HASHES.json` is the plan
drift report; tools/explain_dump.py prints the full plan of any key.

Run: python tools/plan_audit.py   (test data root: $SPARK_GRAFT_TESTDATA)
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cobradb_spark import registry
from cobradb_spark.operators.rank import release_rank_caches
from cobradb_spark.plans import canonical_plan_hash, formatted_plan
from cobradb_spark.session import get_spark

SF = os.path.join(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.01")
HASHES = os.path.join(REPO, "plans", "HASHES.json")

# (query, [must_contain], [must_not_contain], note)
AUDITS = [
    (
        "scan_projection_pushdown",
        ["ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>"],
        [],
        "projection pruned to 2 of 11 lineitem columns at the scan",
    ),
    (
        "filter_conjunctive",
        ["PushedFilters: ["],
        [],
        "the disjunctive predicate reaches the parquet reader",
    ),
    (
        "join_topn_flagship",
        ["BroadcastHashJoin", "TakeOrderedAndProject", "HashAggregate"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "dims broadcast; top-10 via per-partition heaps, not a global sort",
    ),
    (
        "sql_market_share_q8",
        ["BroadcastHashJoin", "HashAggregate"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "q8 snowflake: all five dims broadcast, one fact shuffle for the year rollup",
    ),
    (
        "sql_forecast_revenue_q6",
        ["PushedFilters: ["],
        ["Exchange hashpartitioning"],
        "q6: predicates reach the scan; only the 1-row final agg exchanges",
    ),
    (
        "agg_skew_salted_distinct",
        ["HashAggregate"],
        ["CartesianProduct"],
        "two-phase salted distinct: (key, salt) partial then per-key sum",
    ),
    (
        "sample_reservoir_per_group",
        ["WindowGroupLimit", "hashpartitioning(event_type"],
        ["SinglePartition"],
        "per-group hash-ordered top-k: the rank<=k filter pushes down as "
        "WindowGroupLimit (per-partition top-k heaps BEFORE the group "
        "shuffle), window partitions by group, never one task",
    ),
    (
        "profile_column_histogram",
        ["HashAggregate"],
        ["CartesianProduct"],
        "min/max broadcast back into the bucket expr (the 1-row scalar "
        "crossJoin plans as a broadcast nested loop over one row — the "
        "standard scalar-subquery shape); 20-row final agg",
    ),
    (
        "join_fuzzy_blocked",
        ["BroadcastHashJoin"],
        ["CartesianProduct"],
        "adaptive PassJoin: segment-key broadcast hash join with in-stream "
        "banded-levenshtein verify",
    ),
    (
        "join_range_interval",
        [],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "interval join runs as an equi-join on the bin id (operators/interval.py), "
        "never a nested loop",
    ),
    (
        "agg_basic",
        ["partial_sum"],
        [],
        "map-side partial aggregation: shuffle volume is #groups, not #rows",
    ),
    (
        "topk_global",
        ["TakeOrderedAndProject"],
        ["Sort ["],
        "global top-k without a global sort",
    ),
    (
        "join_asof",
        [],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "as-of join = one shuffle (union + window), no pairwise comparison",
    ),
    (
        "hash_reaction_dedup",
        ["HashAggregate"],
        ["CartesianProduct"],
        "signature + dedup are two hash aggregations",
    ),
    (
        "dedup_simhash",
        [],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "banded candidate join: equi-join on (band, chunk), never all-pairs",
    ),
    (
        "dedup_ngram_jaccard",
        [],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "inverted-index posting join: equi-join on the shingle",
    ),
    (
        "etl_model_load",
        ["HashAggregate"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "whole load pipeline = equi-joins + hash aggs, no pairwise ops",
    ),
    (
        "rollup_hypertable",
        ["partial_sum"],
        ["CartesianProduct"],
        "two-level rollup keeps partial aggregation at both granularities",
    ),
    (
        "sample_hash_deterministic",
        ["ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"],
        ["Exchange"],
        "deterministic sample is a pure narrow filter: zero shuffles, column "
        "pruning intact (the md5 predicate is compute-only, so it filters "
        "post-scan by design)",
    ),
    (
        "split_train_test",
        [],
        ["Exchange"],
        "split assignment is projection-only: zero shuffles at any scale",
    ),
    (
        "reshape_unpivot",
        ["Expand"],
        ["Exchange"],
        "unpivot lowers to Expand — row growth without any shuffle",
    ),
    (
        "agg_pivot",
        ["partial_sum"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "pivot with explicit values: one partial+final agg, no values-discovery "
        "distinct scan",
    ),
    (
        "agg_skew_kurt",
        ["BroadcastHashJoin", "partial_avg"],
        ["SortMergeJoin", "CartesianProduct"],
        "per-group means broadcast back for pass 2; both passes keep map-side "
        "partial aggregation",
    ),
    (
        "join_bloom_prefilter",
        ["ArrowEvalPython"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "bloom probe is Arrow-vectorized and sits on the fact side before the "
        "join, cutting rows entering the shuffle/build",
    ),
    (
        "etl_shard_balanced",
        ["Window"],
        ["SinglePartition"],
        "global rank via range-partition + offsets: the window is partitioned "
        "by range-bucket id — a naive row_number() would plan Exchange "
        "SinglePartition here",
    ),
    (
        "scan_python_datasource",
        ["PushedFilters: [EqualTo(lang,en)]"],
        ["Exchange"],
        "the equality predicate is absorbed by the custom Python source "
        "(pushFilters) and runs inside the scan",
    ),
    (
        "agg_hll_sketch_merge",
        ["hll_union_agg", "partial_hll_sketch_agg"],
        ["CartesianProduct"],
        "daily sketches build with partial aggregation; weekly rollup merges "
        "sketches, never rescans events",
    ),
    (
        "sessionize_events",
        ["hashpartitioning(user_id", "partial_min", "EXCHANGES<=1"],
        [],
        "ONE shuffle on user_id serves the lag window, the running-sum window, "
        "and the session rollup (partitioning reused; agg keys are a superset "
        "of the window key)",
    ),
    (
        "funnel_conversion",
        ["EqualTo(event_type,view)", "EqualTo(event_type,purchase)", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "stage filters reach the parquet reader; per-user frontier tables "
        "broadcast — events never shuffle",
    ),
    (
        "decontam_ngram_overlap",
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
        "the eval gram set broadcasts; training grams never shuffle for the "
        "containment probe",
    ),
    (
        "rollup_ohlc",
        ["hashpartitioning(event_type", "EXCHANGES<=1", "partial_count"],
        ["CartesianProduct"],
        "ONE shuffle on (event_type, hour) serves both window directions "
        "(open/close row_numbers) and the bar rollup",
    ),
    (
        "embed_quantize_int8",
        ["EXCHANGES<=0"],
        ["BatchEvalPython", "ArrowEvalPython", "SortMergeJoin"],
        "quantization is a shuffle-free map-only pipeline of array HOFs — "
        "the self-joins in the SQL formulation collapse into one projection",
    ),
    (
        "agg_histogram_quantile_merge",
        ["partial_sum"],
        ["BatchEvalPython", "ArrowEvalPython"],
        "histogram state builds with map-side combine; the weekly merge and "
        "quantile read-off run on bins x weeks rows, never raw events",
    ),
    (
        "cohort_retention",
        ["BroadcastHashJoin", "partial_count"],
        ["SortMergeJoin", "CartesianProduct"],
        "both inputs reduce to per-(user, week) rows before the broadcast "
        "join — the shuffle carries users, never raw events",
    ),
    (
        "join_null_safe",
        ["BroadcastHashJoin"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "EqualNullSafe keys still plan as a HASH join (null bucket "
        "included), not a nested loop",
    ),
    (
        "join_fuzzy_blocked",
        ["BroadcastHashJoin"],
        ["CartesianProduct"],
        "PassJoin segment blocking: the only nested-loop is the broadcast "
        "of the 1183-row (dl, seg, shift) spine; the S-C candidate join "
        "itself is a hash join on exact segment text — never |S|x|C|",
    ),
    (
        "multimodal_frame_sample",
        ["EXCHANGES<=0"],
        ["BatchEvalPython", "ArrowEvalPython"],
        "frame explode + sample + fingerprint is a shuffle-free map-only "
        "pipeline, fully JVM codegen",
    ),
    (
        "sql_returned_revenue",
        ["EqualTo(l_returnflag,R)", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "SQL-text workload gets the same physical plan as the DataFrame "
        "path: returnflag pushed to the scan, dims broadcast",
    ),
    (
        "etl_llm_corpus_pipeline",
        ["EqualTo(lang,en)", "GreaterThanOrEqual(n_chars,100)", "EXCHANGES<=1"],
        ["BatchEvalPython", "ArrowEvalPython", "SortMergeJoin", "Window"],
        "corpus hygiene pass: language + length gates reach the parquet "
        "reader; exact dedup is the single shuffle — a partial+final "
        "groupBy+min/min_by on the md5 signature (NOT a window: the "
        "skewed-window gate bans signature-partitioned windows; the "
        "combiner collapses mega-duplicate groups per input task); "
        "shard assignment is map-side — ONE exchange total",
    ),
    (
        "scan_partition_pruning",
        ["PartitionFilters: [isnotnull(l_returnflag", " = R)]"],
        ["PushedFilters: [IsNotNull(l_returnflag)"],
        "the partition-column predicate resolves at planning time from "
        "directory names — it must appear as a PartitionFilter, not reach "
        "the row-level parquet reader at all",
    ),
    (
        "join_lateral_topk",
        ["WindowGroupLimit", "BroadcastHashJoin"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "the correlated LIMIT rewrites to a ranked window with partial "
        "WindowGroupLimit pruning BEFORE the shuffle — never a per-row "
        "nested loop",
    ),
    (
        "etl_zorder_layout",
        ["partial_min"],
        ["SinglePartition", "CartesianProduct"],
        "z-order ranking via repartitionByRange + offset prefix-sum — the "
        "plan never collapses to a single-partition window",
    ),
    (
        "etl_range_partition_plan",
        ["rangepartitioning", "AGGREGATES<=2"],
        ["SinglePartition", "BroadcastNestedLoopJoin"],
        "ntile derived from the distributed rank over rangepartitioning "
        "and the row count every ranked row carries: the ranked rows are "
        "aggregated once (the per-bucket partial+final pair), with no "
        "total-count aggregate, SinglePartition exchange or cross join",
    ),
    (
        "sample_weighted_bernoulli",
        ["EXCHANGES<=0"],
        ["BatchEvalPython", "ArrowEvalPython"],
        "weighted sampling is a pure narrow filter — no shuffle, no RNG "
        "state, no Python",
    ),
    (
        "join_bucketed_colocated",
        ["SortMergeJoin", "Bucketed: true", "EXCHANGES<=0"],
        ["Exchange hashpartitioning", "BroadcastExchange", "CartesianProduct"],
        "both sides read pre-bucketed on o_orderkey: the join AND the "
        "per-order rollup run with ZERO exchanges — the one-time bucketed "
        "write amortizes every downstream join/agg on the key",
    ),
    (
        "agg_heavy_hitters",
        ["PushedFilters: [In(user_id", "partial_count"],
        ["SortMergeJoin", "CartesianProduct"],
        "pass 2 of the two-pass heavy hitter: the collected candidate list "
        "becomes an In predicate pushed to the parquet reader, so the "
        "exact-count shuffle only ever carries candidate rows",
    ),
    (
        "agg_bitmap_distinct_rollup",
        ["partial_bitmap_construct_agg"],
        ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "bitmaps build with map-side partial aggregation and merge via "
        "bitmap_or_agg — exact distinct state, no Python, no raw-row rescan "
        "at the weekly grain",
    ),
    (
        "analytics_copurchase_pairs",
        ["partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "the basket self-join is an equi-join on l_orderkey with the p1<p2 "
        "predicate applied post-match — never an all-pairs product; pair "
        "counts keep map-side combine",
    ),
    (
        "text_tfidf_topk",
        ["WindowGroupLimit"],
        ["CartesianProduct"],
        "per-doc top-3 prunes with WindowGroupLimit before the rank "
        "shuffle; the only nested loop is the broadcast of the 1-row "
        "corpus-size aggregate",
    ),
    (
        "text_pii_redact",
        ["regexp_replace", "partial_sum"],
        ["BatchEvalPython", "ArrowEvalPython"],
        "redaction is pure JVM codegen (no Python round-trip) fused into the "
        "scan, then a 5-group partial+final aggregate",
    ),
    (
        "graph_pagerank",
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "SortMergeJoin"],
        "every PageRank iteration joins the edge list against a BROADCAST "
        "rank vector (|V| rows) — the huge edge set is never re-shuffled; "
        "contributions partial-aggregate map-side before the dst rollup",
    ),
    (
        "graph_triangle_stats",
        ["BroadcastHashJoin"],
        ["CartesianProduct"],
        "degree orientation bounds wedge fan-out by sqrt(2|E|); degree "
        "lookups broadcast; the wedge-closing check is a hash semi-join — "
        "the only nested loops are the three 1-row summary crossJoins",
    ),
    (
        "embed_kmeans_cluster",
        ["Project"],
        ["Exchange", "BatchEvalPython", "ArrowEvalPython", "SortMergeJoin", "CartesianProduct"],
        "centroids are embedded literals: assignment is a narrow map (no "
        "join, no shuffle, no Python); the final plan is scan -> project -> "
        "exchange-free argmin, with only the tiny k x dim update shuffles "
        "in earlier iterations",
    ),
    (
        "text_inverted_index",
        ["partial_count", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct"],
        "token pairs partial-distinct map-side; the only shuffle carries "
        "(term, doc_id) pairs and the df filter runs post-aggregate",
    ),
    (
        "ts_autocorr",
        ["partial_sum"],
        ["BatchEvalPython", "CartesianProduct"],
        "facts reduce to the (type, day) grid map-side before the lag "
        "window and correlation aggregates (grid rows, never raw events)",
    ),
    (
        "agg_corr_matrix",
        ["partial_corr"],
        ["BatchEvalPython", "CartesianProduct"],
        "all six co-moment aggregates compute in ONE partial+final scan; "
        "the unpivot expands the 1-row result driver-free",
    ),
    (
        "sample_weighted_topk",
        ["WindowGroupLimit"],
        ["BatchEvalPython", "hashpartitioning(doc_id"],
        "A-Res keying is a narrow map fused into the scan; the per-language "
        "top-5 prunes per-partition via WindowGroupLimit before the shuffle",
    ),
    (
        "analytics_path_transitions",
        ["partial_count"],
        ["BatchEvalPython", "CartesianProduct"],
        "one user_id exchange serves sessionization lag, session numbering, "
        "and the lead pairing; transitions partial-aggregate to the "
        "|types|^2 grid before the probability window",
    ),
    (
        "join_shuffle_hash_hint",
        ["ShuffledHashJoin", "partial_count"],
        ["SortMergeJoin", "BroadcastNestedLoopJoin"],
        "the SHUFFLE_HASH hint builds a per-partition hash table instead of "
        "sorting both 100 TB sides; aggregate stays partial+final",
    ),
    (
        "profile_skew_keys",
        ["partial_count", "TakeOrderedAndProject"],
        ["BatchEvalPython"],
        "per-key frequency is partial+final (shuffle = #keys); the top-10 "
        "and 1-row stats are broadcast, never a full sort of the key table",
    ),
    (
        "agg_mode",
        ["partial_count"],
        ["BatchEvalPython", "CartesianProduct"],
        "mode = count + windowed argmax over the (group, value) grid with a "
        "deterministic tie-break; raw rows shuffle once",
    ),
    (
        "win_islands_ranges",
        ["hashpartitioning(user_id", "EXCHANGES<=1", "partial_min"],
        ["CartesianProduct"],
        "ONE user_id shuffle serves the (user, day) dedup, the numbering "
        "window, and the island rollup",
    ),
    (
        "graph_jaccard_neighbors",
        ["TakeOrderedAndProject", "partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "candidate pairs come from the wedge equi-join on the shared "
        "endpoint (never all-pairs); degrees join in; global top-50 is a "
        "TakeOrdered heap",
    ),
    (
        "events_changepoint_cusum",
        ["partial_sum", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "facts reduce to the (type, day) grid map-side; mean/sigma "
        "broadcast back; the running CUSUM window orders grid rows only",
    ),
    (
        "scan_corrupt_tolerant",
        ["from_json", "partial_count"],
        ["BatchEvalPython", "ArrowEvalPython"],
        "PERMISSIVE parse + quarantine is a JVM-side narrow map fused into "
        "the scan; the per-type audit is partial+final",
    ),
    (
        "sql_shipping_priority_q3",
        ["TakeOrderedAndProject", "BroadcastHashJoin", "EqualTo(c_mktsegment,BUILDING)", "GreaterThan(l_shipdate,1998-01-01T00:00)"],
        ["CartesianProduct", "SortMergeJoin"],
        "Q3: segment and date predicates reach the scans, the filtered "
        "customer side broadcasts, top-10 is a heap — no global sort",
    ),
    (
        "sql_local_supplier_volume_q5",
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "SortMergeJoin"],
        "Q5 6-way star: every dimension broadcasts; the fact table never "
        "shuffles before the final 5-group rollup",
    ),
    (
        "graph_degree_distribution",
        ["partial_count"],
        ["SortMergeJoin"],
        "degree then degree-histogram are two partial+final aggregations; "
        "the 1-row total broadcasts",
    ),
    (
        "win_running_distinct",
        ["hashpartitioning(user_id", "EXCHANGES<=1"],
        ["CartesianProduct"],
        "both windows partition by user_id alone (type-major sort supplies "
        "the first-occurrence flag), so ONE exchange serves the exact "
        "running-distinct query",
    ),
    (
        "text_unigram_perplexity",
        ["BroadcastHashJoin", "partial_count"],
        ["SortMergeJoin", "CartesianProduct"],
        "the unigram LM broadcasts to the token stream; per-doc NLL is a "
        "partial+final aggregate",
    ),
    (
        "multimodal_phash_dedup",
        ["HashAggregate"],
        ["BroadcastNestedLoopJoin", "CartesianProduct", "BatchEvalPython"],
        "pHash banding joins candidates on (band_id, band_val) — an equi-"
        "join whose cost follows collisions, never all-pairs; hashing and "
        "Hamming verify are JVM-side",
    ),
    (
        "etl_cascade_delete_plan",
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
        "every cascade frontier probes the next table as a broadcast "
        "LEFT SEMI join on keys only — the fact table is never shuffled",
    ),
    (
        "join_dpp_partition_pruning",
        ["dynamicpruning", "BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
        "runtime dim keys inject a dynamicpruning subquery into the "
        "partitioned fact scan — whole directories skipped at run time",
    ),
    (
        "udf_arrow_optimized_scalar",
        ["ArrowEvalPython"],
        ["BatchEvalPython"],
        "useArrow=True row UDF ships batches over Arrow, not pickle",
    ),
    (
        "rollup_rolling_median_7d",
        ["partial_sum", "hashpartitioning(event_type"],
        ["BatchEvalPython", "CartesianProduct"],
        "the exact median-over-frame runs on the map-side-reduced "
        "(type, day) grid, never raw events",
    ),
    (
        "sql_order_priority_exists_q4",
        ["BroadcastHashJoin", "LeftSemi"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "the correlated EXISTS decorrelates into a LEFT SEMI equi-join on "
        "l_orderkey — never per-row subquery execution",
    ),
    (
        "sql_small_quantity_scalar_q17",
        ["partial_avg", "BroadcastHashJoin"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "the correlated scalar average rewrites to one per-part aggregate "
        "joined back on l_partkey (partial+final; shuffles |parts| rows)",
    ),
    (
        "dedup_sorted_neighborhood",
        ["rangepartitioning", "BroadcastHashJoin"],
        ["SinglePartition", "CartesianProduct", "BroadcastNestedLoopJoin"],
        "the global sort rank is range-partitioned (never a single-"
        "partition window); neighbor pairing is equi-joins on rank+k",
    ),
    (
        "etl_pack_sequences",
        ["rangepartitioning", "explode(sequence"],
        ["SinglePartition"],
        "the global token prefix-sum is range-partitioned + offset "
        "(operators/rank.py prefix_sums), never a single-partition "
        "running window; boundary-straddling docs fan out via explode",
    ),
    (
        "multimodal_audio_decode",
        ["MapInPandas", "hashpartitioning(doc_id"],
        ["SinglePartition"],
        "WAV synthesize and decode are back-to-back Arrow-batched "
        "MapInPandas stages; the ONLY exchange carries bare doc_ids "
        "below the synthesizer (r14 fan-out: one parquet row group = "
        "one Python worker otherwise) — blobs themselves never leave "
        "their partition, only per-doc feature rows exist downstream",
    ),
    (
        "scan_nested_ingest",
        ["MapInPandas", "partial_"],
        ["SinglePartition", "CartesianProduct"],
        "XML documents are assembled with a partial+final collect_list "
        "aggregate and parsed partition-locally via Arrow-batched "
        "MapInPandas — the ingest never touches the driver",
    ),
    (
        "multimodal_video_frame_decode",
        ["MapInPandas", "hashpartitioning(doc_id"],
        ["SinglePartition"],
        "container synthesis and the header-walking frame decoder are "
        "back-to-back partition-local MapInPandas stages; the ONLY "
        "exchange carries bare doc_ids below the synthesizer (r14 "
        "fan-out) — video blobs themselves never shuffle",
    ),
    (
        "text_bpe_pair_counts",
        ["partial_count", "TakeOrderedAndProject"],
        ["SinglePartition", "CartesianProduct"],
        "corpus collapses to (distinct word, freq) with a partial+final "
        "count, pairs explode from the vocab only, and the top-20 is a "
        "per-partition heap merge — no global sort",
    ),
    (
        "dedup_url_canonical",
        ["ReadSchema: struct<doc_id:bigint,source:string>", "partial_count"],
        ["SinglePartition"],
        "only the two needed columns reach the scan; the canonical-URL "
        "rollup is a partial+final hash aggregate",
    ),
    (
        "text_repetition_stats",
        ["ReadSchema: struct<doc_id:bigint,text:string>", "partial_max"],
        ["SinglePartition", "CartesianProduct"],
        "array HOF stats stay narrow; the word-mode branch is a two-level "
        "partial+final aggregate on (doc, word)",
    ),
    (
        "etl_corpus_mixture",
        ["partial_sum", "BroadcastExchange"],
        ["CartesianProduct"],
        "one partial+final hash aggregate over the corpus; the global "
        "weight total is a bounded |sources|-row scalar aggregate whose "
        "1-row result broadcasts back (BroadcastNestedLoopJoin over one "
        "row is the correct scalar-join plan, not a data-scale nested "
        "loop)",
    ),
    (
        "sql_large_volume_in_q18",
        ["LeftSemi", "TakeOrderedAndProject", "partial_sum"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "Q18: the IN (GROUP BY/HAVING) subquery plans as a LEFT SEMI join "
        "against the pre-aggregated orderkey set; top-100 is a heap",
    ),
    (
        "sql_idle_rich_customers_q22",
        ["LeftAnti", "partial_avg"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "Q22: NOT EXISTS decorrelates to a LEFT ANTI join on o_custkey; "
        "the scalar avg is one partial+final aggregate broadcast as a "
        "one-row subquery",
    ),
    (
        "sql_waiting_suppliers_q21",
        ["LeftSemi", "LeftAnti", "TakeOrderedAndProject"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "Q21: correlated EXISTS and NOT EXISTS over the same fact both "
        "decorrelate — LEFT SEMI + LEFT ANTI equi-joins on l_orderkey, "
        "zero nested loops",
    ),
    (
        "sql_top_supplier_scalar_q15",
        ["partial_sum", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "Q15: per-supplier revenue is partial+final; the scalar max is a "
        "one-row broadcast compared in the filter",
    ),
    (
        "dedup_containment_ngram",
        ["partial_count", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "containment pairs come from the shingle posting-list equi-join "
        "(cost follows shared shingles, never n^2); intersection counts "
        "and set sizes are partial+final aggregates, all JVM-side",
    ),
    (
        "sim_ann_ivf_pq",
        ["MapInPandas", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "IVF-PQ: encode and ADC scoring are vectorized MapInPandas; "
        "candidates come from the cell equi-join (partition-pruned scan "
        "at scale); probe vectors broadcast to the shortlist rerank",
    ),
    (
        "agg_countmin_freq",
        ["partial_count", "partial_sum"],
        ["CartesianProduct", "BatchEvalPython"],
        "CM sketch tables are pure partial+final aggregations on "
        "(day, row, hash-position); the day merge sums counters — never "
        "rescans events; point queries equi-join probe positions. The "
        "only SinglePartition exchange is the 1-row bound-term rollup "
        "OVER THE COUNTER TABLE (d*w rows max, r5 — replaced a separate "
        "event-count action), not over event data",
    ),
    (
        "etl_k_anonymize",
        ["partial_count", "HashAggregate"],
        ["CartesianProduct", "BatchEvalPython", "BroadcastNestedLoopJoin"],
        "each generalization level is one partial+final groupBy; the "
        "level decision reads three metadata-scale aggregates; the "
        "released partition is one more hash aggregate — no joins at all",
    ),
    (
        "analytics_pattern_match_journeys",
        ["partial_", "hashpartitioning(user_id"],
        ["BatchEvalPython", "CartesianProduct"],
        "journey strings build in ONE user_id-keyed aggregate (partial "
        "collect then ordered merge); regex conversion counting is a "
        "JVM scalar — no UDF, no second shuffle",
    ),
    (
        "dedup_semantic_cluster",
        ["BroadcastHashJoin", "SortMergeJoin", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "SemDeDup shape: kmeans assignment joins broadcast; candidate "
        "pairs come from the cluster-key EQUI self-join (bucketed, never "
        "all-pairs); cosine is a JVM zip_with fold, no UDF",
    ),
    (
        "etl_importance_resample",
        ["BroadcastHashJoin", "TakeOrderedAndProject"],
        ["CartesianProduct", "BatchEvalPython"],
        "the 64-row lambda table broadcasts into the token stream; the "
        "deterministic top-20% is a TakeOrdered heap, not a global "
        "single-partition window (the 1-row totals cross-join is the "
        "legitimate BroadcastNestedLoopJoin of a scalar)",
    ),
    (
        "text_bpe_apply",
        ["MapInPandas", "HashAggregate"],
        ["CartesianProduct", "BatchEvalPython"],
        "work bounded by |vocab| (distinct-word collapse before the "
        "merge loop); the Arrow-batched merge UDF feeds one partial+final "
        "token aggregate",
    ),
    (
        "multimodal_flac_decode",
        ["MapInPandas", "Scan parquet", "hashpartitioning(doc_id"],
        ["CartesianProduct"],
        "synthesize and decode are back-to-back Arrow-batched stages; "
        "the ONLY exchange carries bare doc_ids below the synthesizer "
        "(r14 fan-out) — payloads never shuffle, nothing driver-side",
    ),
    (
        "rollup_downsample_lttb",
        ["FlatMapGroupsInPandas", "hashpartitioning(event_type"],
        ["CartesianProduct", "BatchEvalPython"],
        "sequential LTTB selection runs per series inside one Arrow "
        "grouped-map stage; ONE shuffle on the series key is the whole "
        "data movement",
    ),
    (
        "graph_connected_components",
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "final labels join their component sizes; the iterative rounds "
        "behind the localCheckpoint each ran one edge-label join + one "
        "hash agg (audited in code, queries/graph.py)",
    ),
    (
        "geo_grid_radius_join",
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "the radius search is an equi-join on the grid-cell key (probe "
        "side exploded x9 to its 3x3 neighborhood) — a spatial join with "
        "NO nested loop; distance filter applies post-join on cell-local "
        "candidates only",
    ),
    (
        "geo_nearest_neighbor",
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "kNN k=1 with a radius bound: candidates come from the 3x3 cell "
        "equi-join, the argmin is a per-customer window rank — no global "
        "top-1 shuffle, no nested loop",
    ),
    (
        "geo_geohash_encode",
        ["Scan parquet", "Project"],
        ["Exchange", "BatchEvalPython", "CartesianProduct"],
        "Morton bit-spread + base32 lookup entirely in codegen'd integer "
        "expressions: a map-only scan with ZERO shuffles and no Python",
    ),
    (
        "win_rolling_ols_slope",
        ["rangepartitioning", "hashpartitioning(event_type, _chunk"],
        ["CartesianProduct", "BatchEvalPython", "BroadcastNestedLoopJoin",
         "BroadcastExchange"],
        "chunked OLS (a window PARTITIONed BY event_type alone holds a "
        "whole series per task, whatever the data size): x comes from "
        "the grouped prefix_sums over rangepartitioning, the series is "
        "chunked by (x-1) div 2^16, each chunk's tail gets one carry copy "
        "in the next chunk by a one-row explode, and the frame window "
        "partitions by (event_type, chunk), at most 2^16 + 49 rows a "
        "partition — no carry map, broadcast or join; the OLS closed "
        "form stays pure codegen arithmetic",
    ),
    (
        "events_stl_decompose",
        ["HashAggregate", "Window", "BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
        "facts reduce to the hourly integer grid first (partial+final "
        "agg); trend window and seasonal group run on the rollup; the "
        "|types|x24 seasonal profile broadcasts back",
    ),
    (
        "graph_label_propagation",
        ["HashAggregate", "Scan ExistingRDD"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "final sizes join reads the localCheckpoint'd label table "
        "(ExistingRDD = truncated lineage, the iterative-loop "
        "discipline); each LPA round was one edge-label join + one "
        "(node,label) partial-agg + a per-node window argmax",
    ),
    (
        "etl_curriculum_order",
        ["Window", "rangepartitioning("],
        ["CartesianProduct", "BatchEvalPython"],
        "both rank-the-world steps are the distributed closed form: "
        "range repartition + per-partition offsets, windows partitioned "
        "by pid / (stage,source) — no single-partition window",
    ),
    (
        "scan_timetravel_log",
        ["Scan parquet", "HashAggregate", "Union"],
        ["CartesianProduct", "BatchEvalPython"],
        "each snapshot is an ordinary pruned parquet scan of its active "
        "file set (log replay is bounded driver-side metadata); "
        "versioned aggregates union",
    ),
    (
        "sim_maxsim_late_interaction",
        ["BroadcastNestedLoopJoin Cross BuildRight", "WindowGroupLimit"],
        ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
        "the nested-loop join is INTENDED here: BuildRight broadcasts "
        "the 5-row query set, so scoring is a map-only pass over docs "
        "(cost scales with |Q|, not corpus); top-k pushes down as "
        "WindowGroupLimit per-partition heaps",
    ),
    (
        "text_chunk_sliding",
        ["Generate", "Scan parquet"],
        ["Exchange", "BatchEvalPython", "CartesianProduct"],
        "chunking is a zero-shuffle narrow map: split once, explode "
        "chunk indices, slice the shared token array — row growth "
        "without data movement",
    ),
    (
        "join_asof_nearest",
        ["Window", "EXCHANGES<=1"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
        "bidirectional nearest-event join is the union+window trick: ONE "
        "shuffle on user_id serves the ascending and descending "
        "last_value windows — no pairwise comparison ever",
    ),
    (
        "events_rate_burst",
        ["Window", "EXCHANGES<=1"],
        ["CartesianProduct", "BatchEvalPython"],
        "trailing RANGE frame over integer epoch seconds: one shuffle on "
        "user_id, sorted range scan per partition",
    ),
    (
        "etl_late_arriving_dim",
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "early dims, late dims, and nation all broadcast; the repair "
        "join's probe side is the filtered placeholder subset only",
    ),
    (
        "embed_binary_hamming_topk",
        ["BroadcastNestedLoopJoin Cross BuildRight", "WindowGroupLimit"],
        ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
        "like MaxSim, the nested loop is INTENDED: the 5-signature query "
        "side broadcasts (BuildRight) and the XOR/popcount scoring is a "
        "map-only pass; top-k pushes down as WindowGroupLimit",
    ),
    (
        "mlprep_target_encode",
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-category state builds with map-side combine and broadcasts "
        "back — the encode is a map-only second pass",
    ),
    (
        "events_cross_correlation",
        ["partial_sum", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "one map-side-combined hourly rollup is the only pass over raw "
        "events; the 13-row lag table broadcasts onto the "
        "dimension-scale series and the shifted-hour match is a "
        "broadcast equi-join",
    ),
    (
        "win_hampel_outliers",
        ["Window"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython"],
        "both rolling-median passes share one user_id "
        "partitioning+ordering (the second Window reuses the first's "
        "sort); no join anywhere in the plan",
    ),
    (
        "geo_polygon_contains",
        ["partial_sum"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "Window", "BatchEvalPython", "Exchange hashpartitioning(c_custkey"],
        "pure map-side integer ray-casting fused into WholeStageCodegen; "
        "the only shuffle is the final 5-segment rollup",
    ),
    (
        "profile_psi_drift",
        ["partial_sum", "BroadcastHashJoin"],
        ["SortMergeJoin", "BatchEvalPython", "Window"],
        "one map-side-combined pass builds (type, bin, half) counts; "
        "the span midpoint is a 1-row broadcast; grid fill and PSI "
        "scoring run on KB-sized aggregates — no sort-based deciles "
        "anywhere",
    ),
    (
        "text_vocab_coverage",
        ["rangepartitioning", "partial_count"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "only the word rollup (map-side combined) touches corpus rows; "
        "rank + running coverage over the FULL vocabulary come from "
        "rank.prefix_sums (ONE range-partition shuffle, per-_pid "
        "windows) — no single-partition ORDER BY window even at "
        "web-corpus vocab cardinality (1e8-1e9); the corpus total is "
        "the same pass's cnt total",
    ),
    (
        "text_cooccurrence_pmi",
        ["TakeOrderedAndProject", "BroadcastHashJoin", "Window"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "pair generation is join-free (one doc_id window pass emits all "
        "three lead offsets); marginals are vocab-sized rollups that "
        "broadcast back; top-200 is TakeOrdered",
    ),
    (
        "analytics_basket_rules",
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython"],
        "item supports broadcast to the rule scoring (pair table never "
        "re-shuffles after the basket-key join); the only nested loop "
        "is the 1-row basket-count broadcast; top-100 is TakeOrdered",
    ),
    (
        "win_max_drawdown",
        ["Window"],
        ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
        "one user_id shuffle serves every window stage (running sum, "
        "running peak, trough rank, count) — no join anywhere in the "
        "plan",
    ),
    (
        "graph_kcore_peel",
        ["LeftSemi", "partial_count"],
        ["CartesianProduct", "BatchEvalPython"],
        "each peel round is two semi-joins of the pinned edge list "
        "against the shrinking survivor set + one map-side-combined "
        "degree count; survivors localCheckpoint per round so the plan "
        "stays constant-depth across rounds",
    ),
    (
        "text_bm25_topk",
        ["WindowGroupLimit", "BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython"],
        "query terms and the term->idf table broadcast (inverted-index "
        "access: only posting lists of query terms shuffle); per-query "
        "top-5 prunes with WindowGroupLimit; the only nested loop is "
        "the 1-row corpus-stats broadcast",
    ),
    (
        "dedup_span_excise",
        ["TakeOrderedAndProject", "partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "shared two-phase exact-gram plan (_exact_dup_positions): shingle "
        "frequency aggregates 8-byte xxhash partial counts with map-side "
        "combine (skew-safe, vs a count-over-window that would hot-spot "
        "a viral shingle); gram strings move only for the hash-candidate "
        "set; top-200 is TakeOrdered, never a global sort",
    ),
    (
        "agg_kmv_theta_sketch",
        ["TakeOrderedAndProject", "Window", "partial_count"],
        ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
        "per-segment k-smallest is a streaming window over distinct "
        "hashes; the union top-64 is TakeOrdered (never a global sort); "
        "the only nested loops are 1-row theta/count broadcasts",
    ),
    (
        "multimodal_mp3_frame_index",
        ["MapInPandas", "hashpartitioning(doc_id"],
        ["CartesianProduct", "SortMergeJoin",
         "BatchEvalPython"],
        "synthesize + index are chained Arrow mapInPandas stages over "
        "the payload column; the only exchange is the r14 bare-id "
        "fan-out below the synthesizer — payloads never shuffle, one "
        "row out per document",
    ),
    (
        "multimodal_srt_parse",
        ["MapInPandas", "hashpartitioning(doc_id"],
        ["CartesianProduct", "SortMergeJoin",
         "BatchEvalPython"],
        "cue parsing is a pure Arrow map over payloads; the per-cue "
        "fan-out happens inside the batch, never via join/explode, and "
        "the only exchange is the r14 bare-id fan-out below the "
        "synthesizer",
    ),
    (
        "analytics_ab_cuped",
        ["partial_sum"],
        ["BatchEvalPython", "CartesianProduct", "Window", "SortMergeJoin"],
        "one custkey partial-agg shuffle reduces facts to units; theta "
        "and arm stats are KB-sized aggregates joined by 1-row "
        "broadcasts — a single fact pass end-to-end",
    ),
    (
        "profile_benford_deviation",
        ["partial_count", "BroadcastHashJoin"],
        ["SortMergeJoin", "Window", "BatchEvalPython", "CartesianProduct"],
        "digit extraction fuses into the scan projection; one 18-group "
        "map-side-combined agg; the 2-row totals broadcast back",
    ),
    (
        "analytics_survival_km",
        ["FlatMapGroupsInPandas", "partial_min"],
        ["SortMergeJoin", "CartesianProduct"],
        "orders reduce to one row per customer (map-side combined), the "
        "KM grid is O(distinct durations), and only that reduced grid "
        "enters the single-group pandas recurrence; study-end is a "
        "1-row broadcast",
    ),
    (
        "join_point_in_time_scd2",
        ["HashJoin"],
        ["BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin",
         "BatchEvalPython"],
        "the PIT match is an EQUI-hash join on custkey with the "
        "effective-range predicate as join residual — never a "
        "range-driven nested loop",
    ),
    (
        "mlprep_calibration_bins",
        ["partial_sum", "partial_count"],
        ["Window", "SortMergeJoin", "BatchEvalPython", "CartesianProduct",
         "Exchange rangepartitioning"],
        "equal-width bin ids are pure projections; one 10-group "
        "map-side-combined agg — no rank/ntile pass anywhere",
    ),
    (
        "text_dictionary_match",
        ["MapInPandas", "partial_sum"],
        ["SortMergeJoin", "Window", "CartesianProduct", "BatchEvalPython"],
        "the automaton scans Arrow batches and emits 14-row partials "
        "per batch; the final agg reduces partials, never documents",
    ),
    (
        "embed_matryoshka_overlap",
        ["MapInPandas", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "both rankings come from the gated broadcast-BLAS kernel (Arrow "
        "map, no shuffle); the overlap join runs on (n x 5)-row heads",
    ),
    (
        "text_unicode_canonicalize",
        ["MapInPandas"],
        ["Exchange hashpartitioning", "SortMergeJoin", "CartesianProduct",
         "BatchEvalPython", "Window"],
        "NFC + re-hash is a pure narrow map over documents — zero "
        "shuffles end-to-end",
    ),
    (
        "scan_fixedwidth",
        ["substring"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython", "Window",
         "Exchange hashpartitioning"],
        "positional slicing fuses into the text scan's projection; the "
        "parse is shuffle-free",
    ),
    (
        "udf_pandas_scalar_iter",
        ["ArrowEvalPython"],
        ["BatchEvalPython", "Exchange hashpartitioning", "SortMergeJoin"],
        "iterator-form pandas UDF: one Arrow python worker per task with "
        "once-per-task automaton init; never row-pickled",
    ),
    (
        "graph_functional_cycles",
        ["HashAggregate"],
        ["CartesianProduct", "BatchEvalPython"],
        "post-doubling stage: image/cycle/basin joins read the round-16 "
        "localCheckpoint (constant plan depth — the iterative-DataFrame "
        "discipline), never the 16-round lineage",
    ),
    (
        "rag_chunk_index_mips",
        ["BroadcastHashJoin", "partial_sum", "WindowGroupLimit"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "BatchEvalPython"],
        "tokenize+hash is a narrow pass; the sparse index builds with "
        "one (doc, chunk, dim) partial-agg shuffle; the tiny query side "
        "broadcasts into the dim-posting join (never a dense all-pairs "
        "scan); top-3 per query pushes down as WindowGroupLimit",
    ),
    (
        "analytics_top_paths",
        ["Window", "partial_count", "TakeOrderedAndProject"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "the two lag windows share one user_id shuffle; triples collapse "
        "to <= |types|^3 rows with map-side partials; top-20 is a heap",
    ),
    (
        "sim_topk_incremental",
        ["MapInPandas", "WindowGroupLimit"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
        "history-vs-history scoring never re-executes: the two fresh "
        "passes are gated broadcast-BLAS MapInPandas stages, and the "
        "old-query merge re-ranks <= 2k rows per query with the rank "
        "filter pushed down as WindowGroupLimit",
    ),
    (
        "graph_personalized_pagerank",
        ["BroadcastHashJoin", "partial_sum"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "each PPR iteration joins the edge list against the BROADCAST "
        "positive-mass rank vector (frontier sparsity: early rounds "
        "touch only the seed neighborhood); contributions partial-"
        "aggregate map-side; edges never re-shuffle on either gate path",
    ),
    (
        "etl_bitemporal_snapshot",
        ["partial_", "BroadcastNestedLoopJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "the 2-row belief table broadcasts into the version stream (the "
        "INTENDED tiny-side nested loop, the MaxSim precedent); version "
        "selection is one hash aggregate keyed (belief, order) with "
        "map-side partials; the final rollup is O(beliefs x statuses)",
    ),
    (
        "etl_l_diversity_check",
        ["BroadcastHashJoin", "Window", "partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "BatchEvalPython"],
        "the customer dim broadcasts into the fact join; the class "
        "aggregate partial-counts map-side; the plurality window runs "
        "over the O(classes x |sensitive|) reduced frame",
    ),
    (
        "agg_median_exact_pergroup",
        ["Window", "hashpartitioning(l_returnflag", "EXCHANGES<=2"],
        ["CartesianProduct", "SinglePartition", "BatchEvalPython"],
        "ONE data shuffle on the group key serves the rank window, the "
        "count window, and the final rollup (the second exchange is the "
        "6-row output sort); <= 2 rows per group survive the middle-rank "
        "filter before the |groups|-row aggregate",
    ),
    (
        "rollup_state_duration",
        ["Window", "partial_sum", "hashpartitioning(user_id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
         "SinglePartition"],
        "the lead window partitions by user_id (per-user series, never "
        "one task); the day explode is a narrow map; the occupancy "
        "rollup partial-aggregates map-side to O(states x days) rows",
    ),
    (
        "multimodal_scene_cut_keyframes",
        ["MapInPandas", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
        "the container walk + inter-frame SAD is one partition-local "
        "Arrow MapInPandas stage (one previous-frame buffer of state); "
        "the per-video mean threshold is a tiny per-doc aggregate "
        "hash-joined back; only per-frame SAD rows ever shuffle",
    ),
    (
        "text_bpe_train",
        ["Scan ExistingRDD"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "the returned frame is the 8-row merge table assembled from the "
        "per-round 1-row argmax pulls, so the visible plan is a local "
        "scan; the training rounds themselves execute eagerly with the "
        "text_bpe_pair_counts plan shape (partial_sum pair counts over "
        "the localCheckpoint'd O(|vocab|) token table, TakeOrdered "
        "argmax, narrow array-fold merge)",
    ),
    (
        "events_forecast_backtest",
        ["Window", "partial_sum"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "facts reduce to the O(types x days) cent grid with map-side "
        "partials BEFORE any window; the lag windows and the MASE "
        "rollup run on the reduced grid, partitioned by event_type",
    ),
    (
        "etl_incremental_agg_retract",
        ["partial_", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "retraction maintenance: old versions of touched keys come from "
        "ONE broadcast key-equi join of the change log against the base "
        "(history never rescanned for the delta), and the +-1 delta "
        "stream partial-aggregates map-side before the 5-row state merge",
    ),
    (
        "graph_sssp_weighted",
        ["Scan ExistingRDD"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "the returned distances read the converged-round localCheckpoint "
        "(ExistingRDD = truncated lineage, the iterative-loop "
        "discipline); each Bellman-Ford round was one frontier-edge "
        "equi-join + a per-dst partial min + a full-outer least() merge",
    ),
    (
        "mlprep_group_kfold",
        ["partial_", "Exchange"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "fold assignment is a narrow md5-bucket map (no shuffle); the "
        "5-fold rollup partial-aggregates map-side and the per-fold "
        "distinct-customer count uses Spark's single-distinct rewrite",
    ),
    (
        "analytics_markov_transitions",
        ["Window", "partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "the lag window partitions by user_id (per-user series are the "
        "parallelism grain); transitions collapse to |types|^2 rows with "
        "map-side partials; the row-total join is on a tiny frame",
    ),
    (
        "multimodal_audio_resample",
        ["MapInPandas", "hashpartitioning(doc_id"],
        ["SinglePartition"],
        "WAV synthesize and fixed-point resample are back-to-back "
        "Arrow-batched MapInPandas stages; the ONLY exchange carries "
        "bare doc_ids below the synthesizer (r14 fan-out) — blobs "
        "never leave their partition, only per-doc stat rows exist "
        "downstream",
    ),
    (
        "dedup_exactsubstr_cut",
        ["partial_count", "TakeOrderedAndProject"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "ExactSubstr cut: the full position stream shuffles only 8-byte "
        "xxhash partial counts; L-char gram strings move only for the "
        "hash-candidate set (size-gated broadcast), exact verify is a "
        "string groupBy on candidates, top-200 is a heap",
    ),
    # ---- the 10 TPC-H shapes the r6 audit pass missed (q2 q7 q9 q11
    # q12 q13 q14 q16 q19 q20) — with these, all 22 classic shapes have
    # AUDITS entries asserting their documented plan property.
    (
        "sql_min_cost_supplier_q2",
        ["BroadcastHashJoin", "Window", "SCANS<=5"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        "Q2 (r7 rewrite): ONE evaluation of the heavy cost subtree — 5 "
        "scans total, a single lineitem scan (the r6 correlated-scalar "
        "form ran the whole CTE twice: 9 scans, zero ReusedExchange); "
        "per-part minimum via min() OVER (PARTITION BY partkey), dims "
        "broadcast",
    ),
    (
        "sql_volume_shipping_q7",
        ["BroadcastHashJoin", "partial_sum"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        "Q7 bi-nation volume: both nation maps and both dim sides "
        "broadcast (5 BroadcastHashJoins), the fact table crosses the "
        "wire once for the (nation, nation, year) partial+final rollup",
    ),
    (
        "sql_product_profit_q9",
        ["BroadcastHashJoin", "partial_sum"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        "Q9 profit: part/supplier/nation/orders dims all broadcast onto "
        "the lineitem scan; profit aggregates partial+final on "
        "(nation, year) — one fact shuffle",
    ),
    (
        "sql_important_stock_q11",
        ["BroadcastHashJoin", "partial_sum"],
        ["SortMergeJoin", "CartesianProduct"],
        "Q11 important stock: the group rollup and the global threshold "
        "are both partial+final; the 1-row threshold re-enters as a "
        "broadcast scalar (the single BroadcastNestedLoopJoin over ONE "
        "row — the standard scalar-subquery shape, not a data-scale "
        "nested loop); nation/supplier dims broadcast",
    ),
    (
        "sql_shipmode_priority_q12",
        ["BroadcastHashJoin", "partial_sum", "PushedFilters: ["],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        "Q12 shipmode: the shipmode/date predicates reach the lineitem "
        "scan, orders joins broadcast-side, priority counts are "
        "conditional partial+final sums on the 2-group shipmode key",
    ),
    (
        "sql_customer_distribution_q13",
        ["BroadcastHashJoin", "partial_count"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        "Q13 distribution: customer LEFT-joins the comment-filtered "
        "orders broadcast-side; per-customer counts then the count-of-"
        "counts histogram are two partial+final aggregates",
    ),
    (
        "sql_promo_revenue_q14",
        ["BroadcastHashJoin", "partial_sum", "PushedFilters: ["],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        "Q14 promo revenue: the shipdate window reaches the lineitem "
        "scan, part broadcasts, and the promo ratio reduces to a 1-row "
        "conditional partial+final sum (the one SinglePartition is that "
        "scalar finalize)",
    ),
    (
        "sql_parts_supplier_count_q16",
        ["BroadcastHashJoin", "partial_count"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        "Q16 supplier count: the NOT-IN complaint set and the part "
        "attributes both broadcast; the distinct-supplier count per "
        "(brand, type, size) is a two-level partial+final aggregate",
    ),
    (
        "sql_discount_revenue_or_q19",
        ["BroadcastHashJoin", "partial_sum", "PushedFilters: ["],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        "Q19 disjunctive brand/container/quantity: the OR-of-ANDs "
        "residual evaluates inside a broadcast hash join on l_partkey "
        "(common-key conjunct extracted), never a nested loop; revenue "
        "is a 1-row partial+final sum",
    ),
    (
        "sql_potential_promotion_q20",
        ["BroadcastHashJoin", "partial_sum"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        "Q20 potential promotion: the half-stock threshold aggregates "
        "lineitem partial+final per (partkey, suppkey) and the "
        "part-name/supplier filters broadcast — suppliers qualify via "
        "equi-joins only",
    ),
    (
        "win_bollinger_bands",
        ["HashAggregate", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition"],
        "band test runs on the (priority, day) grid after one partial+final "
        "agg; the rolling window partitions by the series key, never a "
        "single-partition sort",
    ),
    (
        "analytics_subsequence_support",
        ["Window", "HashAggregate"],
        ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"],
        "gap-bounded pairs come from four lead() columns on ONE user window "
        "— no self-join anywhere in the plan; support is partial+final "
        "over the collapsed (a, b, user) rows",
    ),
    (
        "text_kneser_ney_bigram",
        ["BroadcastHashJoin", "TakeOrderedAndProject"],
        ["CartesianProduct", "SortMergeJoin"],
        "top-200 bigram selection is a per-partition heap; the 200-row top "
        "side and the 1-row type total broadcast into the stat joins — the "
        "full vocab table never shuffles twice",
    ),
    (
        "geo_dbscan_grid",
        ["HashAggregate"],
        ["CartesianProduct"],
        "neighbor pairs come from the 3x3 cell equi-join (hash join on the "
        "cell key), never a cross join; core/border classification is "
        "partial+final over the pair list",
    ),
    (
        "mlprep_undersample_balanced",
        ["Window"],
        ["SinglePartition", "CartesianProduct"],
        "per-class rank = grouped prefix_sums count over (class; draw, "
        "key), one range partition with per-(partition, class) offsets — "
        "a naive row_number() PARTITION BY class would serialize into 3 "
        "tasks",
    ),
    (
        "mlprep_pit_training_set",
        ["Window", "HashAggregate"],
        ["SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"],
        "the as-of feature attach is the union+window composition: one "
        "user_id exchange serves snapshot build and carry-forward; no "
        "join operator appears at all",
    ),
    (
        "rag_hybrid_rrf_fusion",
        ["BroadcastHashJoin", "WindowGroupLimit"],
        ["CartesianProduct"],
        "both retrieval legs are posting joins with the 10-query side "
        "broadcast; every top-k (leg top-20s and the fused top-5) plans "
        "WindowGroupLimit, never a global sort. The one "
        "BroadcastNestedLoopJoin is INTENDED: it attaches the 1-row "
        "corpus-size total to the sparse leg (BuildRight of a single "
        "row — constant cost at any scale)",
    ),
    (
        "sim_filtered_topk",
        ["BroadcastHashJoin", "WindowGroupLimit"],
        ["CartesianProduct", "SortMergeJoin"],
        "filtered vector search: the metadata dim and the query side both "
        "broadcast into the posting join; the lang pre-filter lands before "
        "the per-query heap",
    ),
    (
        "etl_surrogate_keys",
        ["Window"],
        ["SinglePartition"],
        "dense key assignment through the distributed rank — a naive "
        "row_number() over the whole dimension would plan Exchange "
        "SinglePartition here",
    ),
    (
        "analytics_cohort_ltv",
        ["BroadcastHashJoin", "Window", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin"],
        "facts collapse to the (cohort, age) grid with map-side partials "
        "before the running sum; the cohort map and sizes broadcast",
    ),
    (
        "mlprep_roc_auc",
        ["partial_sum", "Window"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "SinglePartition"],
        "facts collapse once to the (segment, cents) grid (map-side "
        "combine); the rank sum is rank.prefix_dot — windows partitioned "
        "by (segment, cents >> 16) and by segment over the bucket table, "
        "no range sampling, no single partition",
    ),
    (
        "agg_gini_spend",
        ["partial_sum", "Window"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "customers collapse once by custkey; sum(rank * cents) is "
        "rank.prefix_dot over (cents, cust) — the in-bucket window is "
        "partitioned by cents >> 16, and the one single-partition window "
        "runs over the bucket table, at most (spend range >> 16) rows "
        "whatever the row count",
    ),
    (
        "mlprep_ks_statistic",
        ["partial_sum", "rangepartitioning"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "SinglePartition"],
        "same grid posture as mlprep_roc_auc with two distributed "
        "prefix sums; the argmax rank runs per-segment over the grid",
    ),
    (
        "etl_t_closeness_check",
        ["BroadcastHashJoin", "partial_sum"],
        ["SortMergeJoin", "BatchEvalPython"],
        "customer dim broadcasts into the fact rollup; the TVD math "
        "joins the class grid against a broadcast 5-row global "
        "distribution and a 1-row total (the only nested loops)",
    ),
    (
        "analytics_bootstrap_ci",
        ["Generate", "partial_sum"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "the x64 replicate fan-out partial-aggregates to (flag, rep) "
        "map-side BEFORE the shuffle; order statistics run on the "
        "192-row replicate frame",
    ),
    (
        "agg_winsorized_trimmed_mean",
        ["partial_count", "rangepartitioning"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "SinglePartition"],
        "facts collapse once to the (flag, cents) grid; the cumulative "
        "frame is the distributed prefix sum (its Window runs per "
        "range-partition id, never one partition)",
    ),
    (
        "mlprep_information_value",
        ["partial_count"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython", "Window"],
        "one map-side-combinable bin rollup over facts; WoE/IV score on "
        "the 5-row bin frame against a broadcast 1-row total",
    ),
    (
        "mlprep_cramers_v",
        ["BroadcastHashJoin", "partial_count"],
        ["SortMergeJoin", "BatchEvalPython", "Window"],
        "customer dim broadcasts into the cell rollup; margins and the "
        "chi-square run on the 25-cell frame (broadcast joins only)",
    ),
    (
        "text_zipf_fit",
        ["partial_count", "rangepartitioning", "partial_sum"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "only the word rollup touches corpus rows; vocabulary rank is "
        "the distributed global rank; the final SinglePartition exchange "
        "carries only per-partition moment partials (1 row each)",
    ),
    (
        "mlprep_average_precision",
        ["partial_sum", "rangepartitioning"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "SinglePartition"],
        "the roc_auc/ks grid posture: facts collapse once, descending "
        "cumulatives derive from the distributed ascending prefix sums",
    ),
    (
        "text_burstiness_dispersion",
        ["partial_count", "TakeOrderedAndProject"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "two map-side-combinable rollups (term-doc, then term); doc "
        "count is a 1-row broadcast; the rank-limit prunes with "
        "TakeOrdered(30) FIRST and the Window only numbers those 30 "
        "survivor rows",
    ),
    (
        "join_temporal_overlap_duration",
        ["partial_count"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
        "one user_id equi-join co-locates both interval sets; the "
        "overlap predicate filters inside the joined partition",
    ),
    (
        "etl_tokenizer_fertility",
        ["partial_count", "MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "merge apply runs |vocab|-bounded in Arrow batches; the token "
        "table joins back to the (source, word) rollup by broadcast or "
        "shuffle-hash, never a sort-merge of fact volume",
    ),
    (
        "events_peak_concurrency",
        ["partial_max", "rangepartitioning"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "SinglePartition"],
        "the boundary sweep runs through the distributed composite-order "
        "prefix sum; peak rollup and join-back are |types|-row broadcast "
        "work — no per-type window over fact-scale boundaries",
    ),
    (
        "analytics_price_elasticity",
        ["partial_sum"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython", "Window",
         "BroadcastHashJoin"],
        "facts collapse once to the (flag, cents) demand grid; the "
        "moment rollup is 3 rows — no window, no join anywhere",
    ),
    (
        "events_stl_strength",
        ["Window", "partial_sum", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "one grid shuffle serves the trend window (the STL shape); the "
        "24-row seasonal profile broadcasts back and the strength "
        "moments are a |types|-row rollup",
    ),
    (
        "analytics_mann_kendall_trend",
        ["partial_sum"],
        ["SortMergeJoin", "BatchEvalPython", "Exchange hashpartitioning(ts"],
        "facts collapse once to the O(days) grid; the sign-pair join is "
        "a nested loop by design on DIMENSION-scale data (the theil-sen "
        "posture), never over raw events",
    ),
    # --- r9 additions ---
    (
        "analytics_welch_ttest",
        ["partial_sum", "HashAggregate"],
        ["CartesianProduct", "BatchEvalPython"],
        "one groupBy(custkey) fact pass, then a 2-row arm rollup; the "
        "control x treatment combine is a 1-row-by-1-row broadcast",
    ),
    (
        "analytics_spearman_corr",
        ["rangepartitioning", "partial_count"],
        ["CartesianProduct", "BatchEvalPython"],
        "both rank dimensions come from rank.prefix_sums (one range "
        "shuffle each, per-_pid windows); facts join the rank tables by "
        "value key and reduce to one row of 128-bit moments",
    ),
    (
        "analytics_propensity_match",
        ["HashAggregate", "partial_min"],
        ["CartesianProduct", "BatchEvalPython"],
        "candidate generation is the banded equi-join (bucket at caliper "
        "width, 3-bucket probe) — never all-pairs; the per-treated "
        "argmin is a partial-aggregable struct-min",
    ),
    (
        "analytics_quantile_treatment_effect",
        ["rangepartitioning", "partial_count"],
        ["CartesianProduct", "BatchEvalPython"],
        "per-arm cumulative and arm size from rank.prefix_sums over "
        "the (arm, value) order, one range partition and per-(_pid, "
        "arm) windows; the 4-row quantile grid broadcasts into the "
        "straddle filter",
    ),
    (
        "mlprep_isotonic_calibration",
        ["partial_count", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "ONE fact pass reduces to the 10-row bin grid; the O(bins^3) "
        "minimax algebra runs on broadcast KB-sized joins",
    ),
    (
        "graph_modularity_score",
        ["partial_count", "HashAggregate"],
        ["CartesianProduct", "BatchEvalPython"],
        "LPA rounds are per-node plurality rollups against the pinned "
        "edge list; degrees/memberships are |V|-row rollups; intra-edge "
        "count joins edges to memberships by node key, never all-pairs",
    ),
    (
        "text_js_divergence_sources",
        ["partial_count", "BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython"],
        "the pair term-join is term-keyed with fanout bounded by "
        "sources-per-term; source totals broadcast; unshared mass is "
        "closed-form so no outer join materializes the union vocabulary",
    ),
    (
        "multimodal_mp2_subband_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document Layer II decode over Arrow batches; one row per "
        "document, nothing driver-side",
    ),
    (
        "multimodal_mp3_reservoir_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document bit-reservoir Layer III decode over Arrow "
        "batches; one row per document, nothing driver-side",
    ),
    (
        "multimodal_flac_stereo_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document stereo FLAC decode over Arrow batches; one row "
        "per document, nothing driver-side",
    ),
    (
        "multimodal_wav_stereo_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document stereo WAV decode over Arrow batches; one row "
        "per document, nothing driver-side",
    ),
    (
        "multimodal_gif_animated_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document animated-GIF decode over Arrow batches; one row "
        "per document, nothing driver-side",
    ),
    (
        "multimodal_gif_transparency_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document GIF transparency/restore-disposal decode over "
        "Arrow batches; one row per document, nothing driver-side",
    ),
    (
        "multimodal_png_interlaced_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document Adam7 PNG decode over Arrow batches; one row per "
        "document, nothing driver-side",
    ),
    (
        "multimodal_mp3_stereo_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document two-channel Layer III Huffman decode over Arrow "
        "batches; one row per document, nothing driver-side",
    ),
    (
        "multimodal_mp1_stereo_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document two-channel Layer I decode over Arrow batches; "
        "one row per document, nothing driver-side",
    ),
    (
        "multimodal_mp2_stereo_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document two-channel Layer II decode over Arrow batches; "
        "one row per document, nothing driver-side",
    ),
    (
        "multimodal_mp2_lowrate_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document low-rate Layer II decode over Arrow batches; one "
        "row per document, nothing driver-side",
    ),
    (
        "multimodal_mp3_huffman_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document Layer III Huffman main-data decode over Arrow "
        "batches; one row per document, nothing driver-side",
    ),
    (
        "multimodal_mp3_requantize_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document Layer III decode through requantization over "
        "Arrow batches; one row per document, nothing driver-side",
    ),
    (
        "multimodal_mp3_imdct_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document Layer III alias/reorder/IMDCT/overlap-add over "
        "Arrow batches; one row per document, nothing driver-side",
    ),
    (
        "multimodal_mp3_pcm_decode",
        ["MapInPandas", "PushedFilters: [IsNotNull(doc_id)"],
        ["CartesianProduct", "SortMergeJoin"],
        "full Layer III decode to PCM; the %10 fixture subset is "
        "pushed to the parquet scan; one row per document",
    ),
    (
        "multimodal_mp1_pcm_decode",
        ["MapInPandas", "PushedFilters: [IsNotNull(doc_id)"],
        ["CartesianProduct", "SortMergeJoin"],
        "Layer I decode to PCM through the shared synthesis "
        "filterbank; one row per document",
    ),
    (
        "multimodal_mp2_pcm_decode",
        ["MapInPandas", "PushedFilters: [IsNotNull(doc_id)"],
        ["CartesianProduct", "SortMergeJoin"],
        "Layer II decode to PCM through the shared synthesis "
        "filterbank; one row per document",
    ),
    (
        "multimodal_mp3_joint_pcm_decode",
        ["MapInPandas", "PushedFilters: [IsNotNull(doc_id)"],
        ["CartesianProduct", "SortMergeJoin"],
        "joint-stereo (MS+intensity) Layer III decode to PCM over "
        "Arrow batches; one row per document",
    ),
    (
        "multimodal_mp3_joint_short_pcm_decode",
        ["MapInPandas", "PushedFilters: [IsNotNull(doc_id)"],
        ["CartesianProduct", "SortMergeJoin"],
        "short-granule joint-stereo Layer III decode to PCM over "
        "Arrow batches; one row per document",
    ),
    (
        "multimodal_mp3_stereo_pcm_decode",
        ["MapInPandas", "PushedFilters: [IsNotNull(doc_id)"],
        ["CartesianProduct", "SortMergeJoin"],
        "two-channel Layer III decode to PCM; per-channel chains over "
        "Arrow batches; one row per document",
    ),
    (
        "multimodal_bmp_decode",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
        "per-document BMP decode over Arrow batches; one row per "
        "document, nothing driver-side",
    ),
    (
        "analytics_hhi_concentration",
        ["partial_sum", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "one map-side-combined fact rollup to (nation, supplier) "
        "revenue; dims broadcast; concentration algebra on the "
        "|nations|-row grid",
    ),
    (
        "analytics_theil_index",
        ["partial_sum", "HashAggregate"],
        ["SortMergeJoin", "BatchEvalPython"],
        "one groupBy(custkey) fact pass; (total, n) is a 1-row "
        "broadcast; the transcendental reduction is partial-aggregated",
    ),
    (
        "agg_entropy_pergroup",
        ["partial_count", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "one (group, value) partial-agg fact pass; entropy algebra on "
        "the KB-sized grid with broadcast marginals",
    ),
    (
        "text_mattr_lexical_diversity",
        ["Window", "hashpartitioning(doc_id"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "SinglePartition"],
        "the TTR window is PARTITIONED BY doc_id (bounded ROWS frame, "
        "collect_set <= W elements) — per-document state, never one "
        "task; one tokenize pass, one per-doc rollup",
    ),
    (
        "mlprep_mutual_information",
        ["partial_count", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
        "one fact rollup to the |A|x|B| contingency grid; marginals "
        "and MI algebra broadcast on KB-sized tables",
    ),
    (
        "pipeline_curate_corpus",
        ["SCANS<=2", "EXCHANGES<=5", "BroadcastHashJoin LeftOuter",
         "SortAggregate", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "BatchEvalPython", "CollectLimit", "Window"],
        "five curation stages in ONE lazy plan with ZERO windows (r13 "
        "VERDICT #1: window-min over text-derived keys funnels "
        "mega-duplicate / boilerplate-prefix groups through one task; "
        "all three dedup stages are now partial+final aggregates whose "
        "map-side combine collapses hot groups per input task — "
        "SortAggregate, not HashAggregate, only because min_by carries "
        "a string buffer; the combine semantics are identical); 2 scans "
        "total (corpus + eval slice), 5 exchanges total = 3 chain "
        "shuffles (sha / bucket / doc_id — the decontamination rollup "
        "REUSES the doc_id partitioning) + the eval-gram distinct + its "
        "broadcast, eval trigrams broadcast into a left join whose "
        "match flag and gram count aggregate in one pass; nothing "
        "materializes to the driver between stages",
    ),
    (
        "multimodal_magic_sniff",
        ["SCANS<=1", "MapInPandas", "hashpartitioning(doc_id"],
        ["Union", "BatchEvalPython"],
        "magic-byte dispatch is a narrow codegen projection over ONE "
        "corpus pass (synthesize_mixed) — no per-format union; the ONLY "
        "exchange carries bare doc_ids below the synthesizer (r14 "
        "fan-out: a one-row-group id scan would otherwise serialize the "
        "payload synthesis into one Python worker), and the only Python "
        "stage is the Arrow-batched synthesizer, never a row-at-a-time "
        "UDF",
    ),
    (
        "pipeline_curate_multimodal",
        ["SCANS<=1", "MapInPandas", "hashpartitioning(doc_id"],
        ["Union", "BatchEvalPython", "CartesianProduct"],
        "the full multimodal curation pipeline — synthesize, sniff, "
        "PER-ROW decoder dispatch, quality gate, shard assign — is ONE "
        "corpus scan + TWO Arrow-batched stages, zero unions; the ONLY "
        "exchange carries bare doc_ids below the synthesizer (r14 "
        "fan-out — payloads themselves never shuffle).  The first "
        "draft's 5-way filtered-union dispatch re-evaluated the "
        "synthesis subtree per decode branch (50 scans in the audited "
        "plan) — this gate pins the fix",
    ),
    (
        "pipeline_curate_embeddings",
        ["SCANS<=3", "MapInPandas", "FlatMapGroupsInPandas",
         "BroadcastHashJoin LeftAnti", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "Window",
         "BatchEvalPython", "CollectLimit"],
        "embeddings curation as ONE lazy plan: Arrow-batched IVF cell "
        "assignment (centroids broadcast — only the KMeans index build "
        "touches the driver), per-cell BLAS pair scoring as a grouped "
        "map on the cell key (at 100 TB nlist ~ sqrt(N) bounds each "
        "cell), partial+final aggregate dedup of cross-cell pair "
        "copies, and the drop-set/documents joins both broadcast; no "
        "all-pairs product anywhere",
    ),
    (
        "text_char_entropy",
        ["HashAggregate"],
        ["Exchange rangepartitioning", "BatchEvalPython"],
        "both aggregations are partial+final hash aggregates; the only "
        "shuffle is the (doc_id, char) hash exchange whose cardinality "
        "is bounded by |docs| x |alphabet|",
    ),
]


# Standing gate (r8 VERDICT item 8): an unpartitioned Window over
# UNBOUNDED input funnels every row through one task — the 100 TB cliff
# the distributed-rank machinery exists to avoid.  Caught structurally
# for EVERY audited plan (not per-key must_not review): a
# windowspecdefinition whose first component is already an ORDER column
# (ASC/DESC marker — no partition columns precede it) is unpartitioned;
# it is acceptable only when the same plan carries structural evidence
# the window input is post-limit bounded (TakeOrderedAndProject /
# GlobalLimit / CollectLimit) or the key is allowlisted below with a
# justification.
_UNPARTITIONED_WINDOW_OK: dict[str, str] = {
    # calendar/spine grids: the window runs over a generated
    # days/weeks-scale sequence, bounded by construction, no limit node
    "rollup_calendar_spine": "window over a generated calendar grid",
    "events_stl_strength": "window over the bounded seasonal-period grid",
    # the lag window runs over the MONTHLY revenue rollup (one row per
    # distinct order month — calendar-bounded, ~84 at any SF), never
    # raw orders; found by the full-registry window-gate sweep
    "rollup_growth_mom_yoy": "lag window over the month-grain rollup grid",
    # found by the r14 paren-balance fix to THIS gate (the original
    # one-level regex could not parse unboundedpreceding$()/currentrow$()
    # frames, so most real windowspecs were never checked — pinned by
    # tests/test_window_gates.py).  All four run over bounded rollup
    # grids, never raw rows:
    "win_rolling_corr": "24h rolling frame over the hourly (view,click) grid",
    "events_slo_burn_rate": "6h rolling frame over the hourly error-rate grid",
    "mlprep_lorenz_deciles": "running sum over the 10-row decile rollup",
    "analytics_diff_in_diff": "scalar attach over the 2-row arm rollup",
    # rank.prefix_dot with no group: the offset window runs over the
    # bucket table, one row per 2^16 cents of spend range
    "agg_gini_spend": "offset window over the (spend >> 16) bucket table",
}


# Standing gate (r13 VERDICT item 2): a Window PARTITIONED BY a
# raw-text / substring-derived key is the J8 hazard the unpartitioned
# gate cannot see — on real web data, 30-char prefixes and exact
# content strings are boilerplate-concentrated, and a window cannot
# split one partition-key group across tasks (no map-side combine), so
# the hot bucket funnels through a single task at 100 TB.  Aggregates
# (groupBy+min + join-back, or min_by chains) combine those groups per
# input task before the shuffle — use them instead.  Flag any
# windowspecdefinition whose PARTITION section applies a text-slicing /
# casing function to a column (substring/right/left/lower/trim/split/
# regexp/concat) or partitions by a raw `text` column, unless the
# expression is wrapped in a fixed-width hash (sha2/md5/xxhash64/hash/
# crc32 alone do NOT excuse it — sha-keyed windows still cannot split a
# mega-duplicate group; they are only allowlisted with justification).
_TEXT_PARTITION_RE = re.compile(
    r"\b(?:substring|substr|right|left|lower|upper|trim|ltrim|rtrim|"
    r"split|split_part|regexp_extract|regexp_replace|replace|concat|"
    r"concat_ws|reverse|repeat|soundex)\s*\(|\btext#"
)
_SKEWED_WINDOW_OK: dict[str, str] = {
    # the marginal-sum windows run over the |labels| x |labels|
    # confusion GRID (<= 16 rows here), i.e. AFTER the partial+final
    # groupBy collapsed raw docs — the partition value is lang_id's
    # bounded categorical (CASE over lexicon hits, whose definition
    # transitively references text and trips the deep alias resolver),
    # not a per-document text bucket
    "mlprep_confusion_matrix": "marginals over the bounded label-grid rollup",
}


def _balanced_args(plan: str, key: str) -> list[str]:
    """Every paren-balanced argument string of `key(...)` in the plan.

    The shared one-level-nesting regex used by the unpartitioned gate
    cannot see past specifiedwindowframe(unboundedpreceding$(), ...) —
    two paren levels — so this gate scans with an explicit depth
    counter.
    """
    out: list[str] = []
    i = 0
    needle = key + "("
    while True:
        j = plan.find(needle, i)
        if j < 0:
            return out
        k = j + len(needle)
        depth = 1
        start = k
        while k < len(plan) and depth > 0:
            ch = plan[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            k += 1
        out.append(plan[start : k - 1])
        i = k


def _split_top_level(s: str) -> list[str]:
    parts: list[str] = []
    depth = 0
    cur = ""
    for ch in s:
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        cur += ch
    parts.append(cur)
    return parts


def _window_alias_defs(plan: str) -> dict[str, str]:
    """Map `name#id` -> its defining Project expression.

    Catalyst extracts complex window partition keys into a Project
    below the Window (`substring(text#1, 1, 30) AS _w0#11`), so the
    windowspecdefinition itself only shows the opaque alias; resolving
    it is what lets the gate see the text function.  ALL aliases are
    mapped, not just Catalyst's `_wN` extractions — a user-named
    `.withColumn('prefix', substring(...))` then partitionBy('prefix')
    shows `prefix#123` in the spec (r14 review finding #1).  The
    backward scan balances square brackets too, so element access like
    `split(text#6,  , -1)[0] AS _w0#120` resolves to the full
    expression instead of truncating at the `[`.
    """
    defs: dict[str, str] = {}
    for m in re.finditer(r" AS (\w+#\d+)", plan):
        alias = m.group(1)
        # scan backwards paren/bracket-balanced to the expression start
        # (the previous top-level ',' or '[')
        i = m.start() - 1
        depth = 0
        while i >= 0:
            ch = plan[i]
            if ch in ")]":
                depth += 1
            elif ch in "([":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                break
            i -= 1
        defs.setdefault(alias, plan[i + 1 : m.start()].strip())
    return defs


def _resolve_deep(expr: str, defs: dict[str, str], depth: int = 3) -> str:
    """Expression text PLUS the definitions of any aliases it
    references, up to `depth` hops — so a partition key that resolves
    to `prefix#123` whose own definition is `substring(text#1, 1, 30)`
    still exposes the text function to the regex.  Returns concatenated
    text (the gate only pattern-matches; it never parses)."""
    out = expr
    frontier = expr
    for _ in range(depth):
        adds = [
            defs[a] for a in re.findall(r"\w+#\d+", frontier) if a in defs
        ]
        if not adds:
            break
        frontier = " ".join(adds)
        out += " " + frontier
    return out


def _skewed_window_violations(name: str, plan: str) -> list[str]:
    out: list[str] = []
    if name in _SKEWED_WINDOW_OK:
        return out
    defs = _window_alias_defs(plan)
    seen: set[str] = set()
    for s in _balanced_args(plan, "windowspecdefinition"):
        partition = [
            p
            for p in _split_top_level(s)
            if " ASC" not in p
            and " DESC" not in p
            and not p.strip().startswith("specifiedwindowframe")
        ]
        for p in partition:
            resolved = _resolve_deep(p.strip(), defs)
            if _TEXT_PARTITION_RE.search(resolved) and resolved not in seen:
                seen.add(resolved)
                out.append(
                    f"{name}: Window PARTITIONED BY a text-derived key "
                    f"({resolved.strip()[:80]!r}) — hot text buckets funnel "
                    "through one task (no map-side combine); rewrite as "
                    "groupBy+min(+min_by/join-back) or allowlist in "
                    "_SKEWED_WINDOW_OK with a justification"
                )
    return out


def _unpartitioned_window_violations(name: str, plan: str) -> list[str]:
    out: list[str] = []
    # r14: the original one-level-nesting regex could not parse frames
    # containing unboundedpreceding$()/currentrow$() (two paren levels),
    # so the gate silently SKIPPED most real windowspecs — including
    # every row_number()/unbounded-frame window — and only ever matched
    # literal-bound frames like (RowFrame, -1, -1).  Exposed by the
    # tests/test_window_gates.py pin; now uses the same paren-balanced
    # scanner as the skewed-window gate.
    specs = _balanced_args(plan, "windowspecdefinition")
    def _is_unpartitioned(s: str) -> bool:
        first = _split_top_level(s)[0]
        return (
            " ASC" in first
            or " DESC" in first
            or first.strip().startswith("specifiedwindowframe")
        )

    unpart = [s for s in specs if _is_unpartitioned(s)]
    if not unpart:
        return out
    bounded = any(
        tok in plan for tok in ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")
    )
    if bounded or name in _UNPARTITIONED_WINDOW_OK:
        return out
    out.append(
        f"{name}: unpartitioned Window over input with no structural bound "
        f"(no TakeOrdered/GlobalLimit in plan; spec: {unpart[0][:80]!r}) — "
        "use operators/rank.py global_rank/prefix_sums or allowlist "
        "with a justification"
    )
    return out


def _smj_degradation_gate(spark, qs) -> dict[str, list[str]]:
    """Big-big joins must degrade to SortMergeJoin when SHJ's size
    conditions fail (r14 verdict item 5).

    RUNTIME_CONFS sets spark.sql.join.preferSortMergeJoin=false; the
    planner may then pick shuffled-hash ONLY when one side's estimated
    per-partition share fits a local hash map (the size guard keyed on
    autoBroadcastJoinThreshold * shuffle partitions).  At the audit SF
    the guard passes and SHJ is chosen — correct locally, but the
    100 TB posture depends on the guard REFUSING when estimates are
    large.  Emulate that here: with autoBroadcastJoinThreshold=-1 the
    guard can never pass (and broadcasts are off), so the two known
    big-big shapes must plan SortMergeJoin — a Spark upgrade that made
    SHJ unconditional under preferSortMergeJoin=false would fail this
    gate instead of OOMing at scale.
    """
    fails: dict[str, list[str]] = {}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("join_shuffle_large", "join_outer_left_right_full"):
            plan = formatted_plan(qs[name].fn(spark, SF))
            msgs = fails.setdefault(name, [])
            if "SortMergeJoin" not in plan:
                msgs.append(
                    f"{name}: expected SortMergeJoin with SHJ size guard "
                    "disabled (autoBroadcastJoinThreshold=-1)"
                )
            if "ShuffledHashJoin" in plan:
                msgs.append(
                    f"{name}: ShuffledHashJoin chosen despite the size "
                    "guard being unsatisfiable — OOM risk at scale"
                )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return fails


# expression ids ("#12", "#7L"), so a fragment can name columns
_EXPR_ID = re.compile(r"#\d+L?")

# "<NAME><=n" fragments bound how many operators of a kind the numbered
# detail section holds (each op appears once there as "(N) <op>")
_COUNTED = {
    # a shuffle or broadcast exchange
    "EXCHANGES": lambda op: op.endswith("Exchange"),
    # a parquet scan — pins subtree-reuse properties (e.g. q2's single
    # evaluation of its cost CTE)
    "SCANS": lambda op: "Scan parquet" in op,
    # a hash, object-hash or sort aggregate: a partial+final pair is 2
    "AGGREGATES": lambda op: re.match(r"\(\d+\) \w*Aggregate\b", op) is not None,
}


def _audit_violations(name: str, plan: str, must, must_not) -> list[str]:
    out: list[str] = []
    ops = [l.strip() for l in plan.splitlines() if l.strip().startswith("(")]
    texts = (plan, _EXPR_ID.sub("", plan))
    for frag in must:
        kind, _, bound = frag.partition("<=")
        if kind in _COUNTED:
            n = sum(1 for op in ops if _COUNTED[kind](op))
            if n > int(bound):
                out.append(f"{name}: {n} {kind.lower()}, wanted {frag}")
        elif not any(frag in t for t in texts):
            out.append(f"{name}: expected {frag!r} in plan")
    for frag in must_not:
        if any(frag in t for t in texts):
            out.append(f"{name}: forbidden {frag!r} present in plan")
    return out


def main() -> int:
    spark = get_spark("plan_audit")
    qs = registry.all_queries()
    audits: dict[str, list[tuple[list[str], list[str]]]] = {}
    for name, must, must_not, _note in AUDITS:
        audits.setdefault(name, []).append((must, must_not))
    unknown = sorted(set(audits) - set(qs))
    if unknown:
        print(f"AUDITS names not registered: {unknown}")
        return 1

    failures: dict[str, list[str]] = {}
    hashes: dict[str, str | None] = {}
    for name, q in qs.items():
        # streaming builders plan the same way (explainString works
        # before start); a key that raises while building is a failure
        try:
            plan = formatted_plan(q.fn(spark, SF))
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            hashes[name] = None
            failures[name] = [f"{name}: plan build failed: {type(e).__name__}: {e}"]
            continue
        finally:
            # plan every key in isolation: a frame an earlier key pinned
            # would otherwise substitute into this plan as a cache scan
            release_rank_caches()
        hashes[name] = canonical_plan_hash(plan)
        msgs = [
            m
            for must, must_not in audits.get(name, ())
            for m in _audit_violations(name, plan, must, must_not)
        ]
        msgs += _unpartitioned_window_violations(name, plan)
        msgs += _skewed_window_violations(name, plan)
        failures[name] = msgs
    for name, msgs in _smj_degradation_gate(spark, qs).items():
        failures[name] += msgs

    def verdict(name: str) -> str:
        if failures[name]:
            return "FAIL"
        return "OK" if name in audits else "OK (gates only)"

    os.makedirs(os.path.dirname(HASHES), exist_ok=True)
    with open(HASHES, "w") as f:
        rows = [
            f"{json.dumps(n)}: "
            + json.dumps({"hash": hashes[n], "verdict": verdict(n)})
            for n in sorted(qs)
        ]
        f.write("{\n" + ",\n".join(rows) + "\n}\n")
    failed = [m for n in sorted(failures) for m in failures[n]]
    if failed:
        print("PLAN AUDIT FAILURES:")
        for x in failed:
            print(" -", x)
        return 1
    print(
        f"plan audit OK: {len(qs)} keys planned, {len(audits)} with AUDITS "
        f"entries, window and SMJ gates clean; {os.path.relpath(HASHES, REPO)} written"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
